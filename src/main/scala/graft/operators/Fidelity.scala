package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.sources.CaaCsv

/** Reference-fidelity pipelines: the two documented queries of the
  * reference (per-airport weighted delay, `Program/Delay.java:35-207`;
  * per-(airline, year) late-departure %, `Program/Late.java:38-196`)
  * over raw CAA CSV lines scanned in the reference's own dialect by
  * [[graft.sources.CaaCsv.Fields]], which shares its token arithmetic
  * (`CaaCsv.tokenEnd`) with [[graft.sources.CaaCsv.splitByComma]].
  *
  * Semantics reproduced exactly (verified by FidelitySpec goldens):
  *  - string-level filters: `s(7).trim == "S"`, `s(8).trim != "0"`
  *    (header rows die on the S-filter, like the reference);
  *  - each job reads and parses only the fields the reference's job
  *    reads (SURVEY §1.2), in its order, so a malformed field the job
  *    never reads does not crash it;
  *  - weighted counts reconstructed with Java `Math.round` semantics =
  *    floor(x+0.5) — differs from Spark/DuckDB HALF_UP on negative
  *    halves, which real (early-flight) delay data does hit;
  *  - weighted average as ratio of integer sums, never avg();
  *  - Delay emits NaN for an airport with no arrivals or no departures
  *    (0/0 in double — reference `Delay.java:190` has no guard);
  *  - Late emits nothing below the 50 % threshold (HAVING,
  *    `Late.java:172-175`) and scales ×100.
  *
  * Each job is the reference's own plan, in-mapper combining with
  * flush-when-full (`Delay.java:22-28`): one pass per partition runs the
  * field scanner ([[graft.sources.CaaCsv.Fields]]) over each line and
  * folds it into per-key integer partial sums in a hash map, emitted
  * when the map holds [[FlushAt]] keys and at the partition's end. The
  * few partial rows shuffle once, to a single partition, where the
  * final sums, the ratio and the sort need no further exchange — like
  * the reference's single reducer. Integer sums reassociate exactly, and
  * `Math.addExact` fails on overflow as Spark's ANSI `sum` does.
  */
object Fidelity {

  /** Distinct keys a partition's combiner holds before it emits them
    * (the reference's `FLUSH_SIZE`, `Delay.java:40`). */
  private[graft] val FlushAt = 1000

  /** Java `Math.round` on a double: floor(x + 0.5). */
  private def javaRound(x: Double): Long = math.floor(x + 0.5).toLong

  /** Per-key sums of one partition's lines: `fold(line, sums)` adds a
    * line's values through `sums(key)`, the key's zero-initialized
    * array of `width` counters; every [[FlushAt]] keys, and at the end,
    * the map's contents are emitted and it starts over. */
  private def combine[K](lines: Iterator[String], width: Int)(
      fold: (String, K => Array[Long]) => Unit): Iterator[(K, Array[Long])] =
    Iterator.unfold(true) { more =>
      if (!more) None
      else {
        val m = new java.util.HashMap[K, Array[Long]]()
        val sums: K => Array[Long] = k => m.computeIfAbsent(k, _ => new Array[Long](width))
        while (lines.hasNext && m.size < FlushAt) fold(lines.next(), sums)
        Some((m.asScala.iterator, lines.hasNext))
      }
    }.flatten

  /** Adds a row's flight count `n` and weighted count `w` to the pair of
    * counters at `at`. */
  private def add(a: Array[Long], at: Int, n: Int, w: Long): Unit = {
    a(at) = Math.addExact(a(at), n.toLong)
    a(at + 1) = Math.addExact(a(at + 1), w)
  }

  /** F1-F3 on a scanned line: non-empty, scheduled, matched. */
  private def kept(f: CaaCsv.Fields, line: String): Boolean =
    f.scan(line) != 0 && f.is(7, "S") && !f.is(8, "0")

  /** Delay job: per-airport average arrival & departure delay.
    * The reference's accumulate branch is `if (flag == "A") arr else dep`
    * (`Delay.java:75-96`) — every non-"A" row counts as a departure.
    * Reads fields 2, 6, 7, 8 and 16 (`Delay.java:51-56`). */
  def delay(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      val f = new CaaCsv.Fields(17)
      combine[String](it, 4) { (line, sums) =>
        if (kept(f, line)) {
          val airport = f(2)
          val at = if (f.is(6, "A")) 0 else 2
          val n = f.int(8)
          add(sums(airport), at, n, javaRound(n * f(16).toDouble))
        }
      }.map { case (airport, a) => (airport, a(0), a(1), a(2), a(3)) }
    }.toDF("airport", "arr_n", "arr_sum", "dep_n", "dep_sum")
      .repartition(1)
      .groupBy(col("airport"))
      .agg(sum("arr_n").as("arr_n"), sum("arr_sum").as("arr_sum"),
        sum("dep_n").as("dep_n"), sum("dep_sum").as("dep_sum"))
      .select(col("airport"),
        nanRatio(col("arr_sum"), col("arr_n")).as("avg_arr"),
        nanRatio(col("dep_sum"), col("dep_n")).as("avg_dep"))
      .orderBy("airport")
  }

  /** Java double-division semantics: 0/0 = NaN (reference
    * `Delay.java:190` divides unguarded; Spark 4's ANSI mode would
    * raise DIVIDE_BY_ZERO instead). Like the reference, a zero count
    * gives NaN whatever the sum. */
  private def nanRatio(num: Column, den: Column): Column =
    when(den === 0, lit(Double.NaN))
      .otherwise(num.cast(DoubleType) / den.cast(DoubleType))

  /** Late job: % of scheduled departures ≥31 min late per
    * (airline, year), kept when ≥ 50 %. Reads fields 1, 5, 6, 7, 8 and
    * 12-15, and parses numbers on departure rows only
    * (`Late.java:57-61`); the reference's `substring(0, 4)` throws on a
    * short period field, and so does this. */
  def late(lines: Dataset[String]): DataFrame = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      val f = new CaaCsv.Fields(16)
      combine[(String, String)](it, 2) { (line, sums) =>
        if (kept(f, line) && f.is(6, "D")) {
          val key = (f(5), f(1).substring(0, 4))
          val n = f.int(8)
          val pct = f(12).toDouble + f(13).toDouble + f(14).toDouble + f(15).toDouble
          add(sums(key), 0, n, javaRound(n * pct / 100))
        }
      }.map { case ((airline, year), a) => (airline, year, a(0), a(1)) }
    }.toDF("airline", "year", "n", "late_n")
      .repartition(1)
      .groupBy(col("airline"), col("year"))
      .agg(sum("n").as("flight_sum"), sum("late_n").as("delay_sum"))
      .where(col("flight_sum") > 0 &&
        col("delay_sum").cast(DoubleType) / col("flight_sum").cast(DoubleType) >= 0.5)
      .select(col("airline"), col("year"),
        (col("delay_sum").cast(DoubleType) / col("flight_sum").cast(DoubleType) * 100)
          .as("late_pct"))
      // MapReduce sorted the composite Text key "airline,year" by bytes;
      // sorting by (airline, year) columns diverges when one airline is a
      // proper prefix of another followed by a char < ',' (e.g. space).
      .orderBy(concat(col("airline"), lit(","), col("year")))
  }
}
