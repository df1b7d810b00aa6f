package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Fns._

/** The five reference query shapes, re-expressed on the testdata star
  * schema. Semantics surveyed in SURVEY.md §2/§3 from the reference:
  *
  *  - delay_avg       — `Program/Delay.java:35-207`: filter → pivot-by-flag
  *                      conditional aggregation → weighted average as a
  *                      ratio of sums (NOT avg()), with Java Math.round
  *                      count reconstruction (`Delay.java:78`).
  *  - late_pct        — `Program/Late.java:38-196`: composite (key, year)
  *                      group, ratio-of-sums percentage, HAVING guard +
  *                      threshold (`Late.java:172-175`).
  *  - word_count      — `Jar!org/leicester/WordCount.java`: tokenize →
  *                      explode → count per token.
  *  - repeat_visits   — `Jar!org/leicester/WebLog1.java`: count per
  *                      (user, url), HAVING count >= 2 (`WebLog1.java:53`).
  *  - same_day_repeat — `Jar!org/leicester/WebLog2.java:42-78`: per
  *                      (user, url), does any date repeat — expressed as
  *                      groupBy(u,t,date).count → max(count) >= 2.
  *
  * The reference's in-mapper partial aggregation with flush-when-full
  * (`Delay.java:22-28,58-132`) takes no code in these star-schema
  * shapes: they rely on the partial `HashAggregateExec` Spark plans
  * before every shuffle, which spills under memory pressure. The CAA
  * jobs over raw lines carry the reference's combiner itself
  * ([[Fidelity]]), which runs each of them in 2 Spark jobs instead of 4.
  */
object ReferenceParity {

  /** Per-supplier weighted average gross line value, split by return flag
    * (A vs R), over finished ('F') lineitems — the Delay shape:
    * weighted avg = SUM(javaRound(weight * value)) / SUM(weight). */
  def delayAvg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_linestatus") === "F" && col("l_quantity") =!= 0)
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(col("l_returnflag") === "A",
          javaRound(col("l_quantity") * col("l_extendedprice"))).otherwise(0L)).as("a_sum"),
        sum(when(col("l_returnflag") === "A", col("l_quantity")).otherwise(0.0)).as("a_qty"),
        sum(when(col("l_returnflag") === "R",
          javaRound(col("l_quantity") * col("l_extendedprice"))).otherwise(0L)).as("r_sum"),
        sum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0.0)).as("r_qty"))
      .select(col("l_suppkey"),
        round(when(col("a_qty") =!= 0.0, col("a_sum") / col("a_qty")), 4).as("avg_a"),
        round(when(col("r_qty") =!= 0.0, col("r_sum") / col("r_qty")), 4).as("avg_r"))
      .orderBy("l_suppkey")
  }

  val delayAvgSql: String =
    """SELECT l_suppkey,
      |       round(CASE WHEN a_qty <> 0 THEN a_sum / a_qty END, 4) AS avg_a,
      |       round(CASE WHEN r_qty <> 0 THEN r_sum / r_qty END, 4) AS avg_r
      |FROM (SELECT l_suppkey,
      |             CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(floor(l_quantity * l_extendedprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS a_sum,
      |             sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS a_qty,
      |             CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(floor(l_quantity * l_extendedprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS r_sum,
      |             sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS r_qty
      |      FROM lineitem
      |      WHERE l_linestatus = 'F' AND l_quantity <> 0
      |      GROUP BY l_suppkey) agg
      |ORDER BY l_suppkey""".stripMargin

  /** Per-(returnflag, ship year) "late percentage" — the Late shape:
    * pct = SUM(javaRound(weight * rate)) / SUM(weight), kept only when the
    * denominator is positive and the ratio clears a threshold (HAVING). */
  def latePct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_linestatus") === "F" && col("l_quantity") =!= 0)
      .groupBy(col("l_returnflag").as("flag"), year(col("l_shipdate")).as("yr"))
      .agg(
        sum(javaRound(col("l_quantity") * (col("l_discount") + col("l_tax")))).as("late_sum"),
        sum(col("l_quantity")).as("qty_sum"))
      .where(col("qty_sum") > 0 && col("late_sum") / col("qty_sum") >= 0.09)
      .select(col("flag"), col("yr"),
        round(col("late_sum") / col("qty_sum") * 100, 4).as("late_pct"))
      .orderBy("flag", "yr")
  }

  val latePctSql: String =
    """SELECT flag, yr, round(late_sum / qty_sum * 100, 4) AS late_pct
      |FROM (SELECT l_returnflag AS flag, CAST(year(l_shipdate) AS INT) AS yr,
      |             CAST(sum(CAST(floor(l_quantity * (l_discount + l_tax) + 0.5) AS BIGINT)) AS BIGINT) AS late_sum,
      |             sum(l_quantity) AS qty_sum
      |      FROM lineitem
      |      WHERE l_linestatus = 'F' AND l_quantity <> 0
      |      GROUP BY 1, 2) agg
      |WHERE qty_sum > 0 AND late_sum / qty_sum >= 0.09
      |ORDER BY flag, yr""".stripMargin

  /** Token frequency over documents.text — the WordCount shape. */
  def wordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  val wordCountSql: String =
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY word""".stripMargin

  /** Visit count per (user, event_type), HAVING >= 2 — the WebLog1 shape. */
  def repeatVisits(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_visits"))
      .where(col("n_visits") >= 2)
      .orderBy("user_id", "event_type")

  val repeatVisitsSql: String =
    """SELECT user_id, event_type, count(*) AS n_visits
      |FROM events
      |GROUP BY user_id, event_type
      |HAVING count(*) >= 2
      |ORDER BY user_id, event_type""".stripMargin

  /** (user, event_type) pairs where some calendar day saw >= 2 events —
    * the WebLog2 duplicate-within-group shape. */
  def sameDayRepeat(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
    e.groupBy(col("user_id"), col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("max_per_day"))
      .where(col("max_per_day") >= 2)
      .select(col("user_id"), col("event_type"))
      .orderBy("user_id", "event_type")
  }

  val sameDayRepeatSql: String =
    """SELECT user_id, event_type
      |FROM (SELECT user_id, event_type, max(n) AS max_per_day
      |      FROM (SELECT user_id, event_type, CAST(ts AS DATE) AS d, count(*) AS n
      |            FROM events GROUP BY 1, 2, 3) per_day
      |      GROUP BY 1, 2) agg
      |WHERE max_per_day >= 2
      |ORDER BY user_id, event_type""".stripMargin

  val defs: Vector[QueryDef] = Vector(
    QueryDef("q01_delay_avg", delayAvg, Some(delayAvgSql)),
    QueryDef("q02_late_pct", latePct, Some(latePctSql)),
    QueryDef("q03_word_count", wordCount, Some(wordCountSql)),
    QueryDef("q04_repeat_visits", repeatVisits, Some(repeatVisitsSql)),
    QueryDef("q05_same_day_repeat", sameDayRepeat, Some(sameDayRepeatSql)),
  )
}
