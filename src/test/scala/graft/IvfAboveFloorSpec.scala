package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Round-9 lead item, the above-floor half: both oracle scales sit on
  * the adaptive quantizer's 64 floor (500 and 2000 vectors), so the
  * hash gate alone never exercises K > 64. This spec builds a 4×
  * replica of the sf0.1 embeddings (8000 vectors → K = 250, training
  * sample = 32·K = the whole corpus) in a temp snapshot dir and runs
  * the REAL inline IVF path (q37's `annIvf`) against it:
  *
  *  - the realized capacity is genuinely above the floor (and equals
  *    the formula);
  *  - the quantizer's cells are actually used (occupied-cell count in
  *    the produced routing is > the 64 a floor-stuck build could
  *    ever produce);
  *  - one probe's emitted top-5 equals an independent driver-side
  *    recomputation through the same routing arithmetic — the
  *    K = 250 build answers queries exactly, not just plausibly. */
class IvfAboveFloorSpec extends SparkSpec {
  import spark.implicits._

  test("K = 250 snapshot: capacity, occupancy and exact top-5 above the floor") {
    val dir = java.nio.file.Files.createTempDirectory("graft_abovefloor_").toString
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id"), col("embedding"))
    val Off = 100000000L
    (0 until 4).map(i =>
      base.select((col("vec_id") + lit(i * Off)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val n = Similarity.corpusN(spark, dir, Similarity.Full)
    val k = Similarity.ivfK(spark, dir, Similarity.Full)
    assert(n == 8000L && k == Similarity.ivfKOf(n) && k == 250,
      s"adaptive capacity wrong: n=$n K=$k")
    val sample = Similarity.trainSample(spark, dir, Similarity.Full)
    assert(sample.length == Similarity.trainNOf(n) && sample.length == 8000,
      s"training sample not tracking K: ${sample.length}")

    val out = Similarity.annIvf(spark, dir)
      .select("probe_id", "vec_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect()
    val probes = out.map(_._1).distinct
    assert(probes.length == 80 && out.length == 80 * 5,
      s"${probes.length} probes, ${out.length} rows")

    // independent driver-side recomputation for one mid-range probe,
    // through the product's own routing/cosine arithmetic
    val cents = Similarity.lloydCents(sample, k).sortBy(_._1)
    val occupied = sample.map { case (_, q, qn) =>
      Similarity.routeCents(q, qn, cents, 1).head
    }.distinct.length
    assert(occupied > 64,
      s"only $occupied cells occupied — capacity not realized above the floor")

    val e = Similarity.quantizedFrom(spark.read.parquet(s"$dir/embeddings.parquet"))
      .select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)].collect()
    val byId = e.map(t => t._1 -> t).toMap
    val cellOf = e.map { case (id, q, qn) =>
      id -> Similarity.routeCents(q, qn, cents, 1).head
    }.toMap
    val pid = probes.sorted.apply(probes.length / 2)
    val (_, pq, pqn) = byId(pid)
    val probedCells = Similarity.routeCents(pq, pqn, cents, 2).toSet
    val expect = e.filter(v => v._1 != pid && probedCells.contains(cellOf(v._1)))
      .map { case (id, q, qn) => (Similarity.jcosine(pq, pqn, q, qn), id) }
      .sorted(Similarity.cosDescIdAsc).take(5).map(_._2).toSeq
    val got = out.filter(_._1 == pid).sortBy(_._4).map(_._2).toSeq
    assert(got == expect, s"probe $pid: got $got expected $expect")
  }
}
