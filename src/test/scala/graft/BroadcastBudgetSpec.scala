package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import graft.operators.Pipeline

/** Round-20 pins (r19 verdict items 5/6):
  *
  *  1. Every BroadcastNestedLoopJoin the suite plans must build from a
  *     BOUNDED relation — the sf1 join notes sighted BNLJs in
  *     q96/q142/q145, and the safe explanation (a literal level table /
  *     1-row totals row on the build side) was asserted nowhere. A BNLJ
  *     whose build side is corpus-sized is the quadratic flip the 100 TB
  *     design forbids; this spec turns the explanation into a gate by
  *     checking the build side's RUNTIME numOutputRows.
  *
  *  2. The q22/q26 barrier-alignment benefit (the `pmod(x,1)=0`
  *     keep-reference that keeps the hot-bucket count canonicalized onto
  *     the band barrier) is a runtime-plan property that silently
  *     evaporates if a future Spark folds the reference away. Pin the
  *     executed shuffle/reuse counts.
  */
class BroadcastBudgetSpec extends SparkSpec {

  private def executed(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    Pipeline.flattenExecutedPlan(df.queryExecution.executedPlan)
  }

  test("every planned BroadcastNestedLoopJoin builds from a bounded relation") {
    // q60's BNLJ is the pinned argmin design (build = the <= K centroid
    // rows); q96/q142/q145 carry literal level/axis tables. The bound is
    // deliberately loose (64): any corpus-sized build side is orders of
    // magnitude past it, while every legitimate build side here is a
    // driver literal or a K-row index.
    for (name <- Seq("q60_kmeans_step", "q96_ann_recall",
                     "q142_profile_update", "q145_profile_delete")) {
      val flat = executed(name)
      val bnljs = flat.collect { case j: BroadcastNestedLoopJoinExec => j }
      bnljs.foreach { j =>
        val build = j.buildSide match {
          case BuildLeft  => j.left
          case BuildRight => j.right
        }
        val sub = Pipeline.flattenExecutedPlan(build)
        // (a SinglePartition exchange under a global aggregate is fine —
        // q142/q145 build from a 1-row totals aggregate; the gate is the
        // ROW COUNT actually broadcast, not the subtree's plumbing)
        // runtime row count of the topmost metered node in the build
        // subtree — the actual broadcast size, not an estimate
        val rows = sub.iterator
          .flatMap(n => n.metrics.get("numOutputRows").map(_.value))
          .toSeq.headOption
        assert(rows.exists(_ <= 64),
          s"$name: BNLJ build side is not provably bounded (rows=$rows):\n$j")
      }
    }
  }

  test("q22/q26: the hot-bucket cap stays aligned with the band barrier (executed counts)") {
    // the alignment buys: at most 2 real shuffles before the output sort
    // and the capped stream + hot-set aggregate RE-USING one exchange.
    // Counts measured on the round-19/20 plans; a Spark upgrade that
    // constant-folds pmod(x,1) would break the reuse and fail here.
    def counts(name: String): (Int, Int) = {
      val flat = executed(name)
      (flat.count(_.isInstanceOf[
         org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
       flat.count(_.isInstanceOf[
         org.apache.spark.sql.execution.exchange.ReusedExchangeExec]))
    }
    val (s22, r22) = counts("q22_simhash")
    assert(s22 <= 2 && r22 >= 2,
      s"q22 lost barrier alignment: shuffles=$s22 reused=$r22")
    val (s26, r26) = counts("q26_ann_lsh")
    assert(s26 <= 2 && r26 >= 2,
      s"q26 lost barrier alignment: shuffles=$s26 reused=$r26")
  }
}
