package graft

import graft.operators.Similarity

/** The round-8 scale-robustness gate for ANN recall: measured
  * recall@5 (q96) must NOT DEGRADE as the corpus grows sf0.01 → sf0.1
  * (4× the vectors, 4× the probes). Round 7 shipped a fixed-capacity
  * codebook (PqK = 16, 2 Lloyd iterations) and every PQ row FELL with
  * corpus growth (ADC 0.28→0.14, re-rank 0.48→0.28, IVF-PQ
  * 0.24→0.13); round 8 scales codebook capacity with the training
  * sample ([[Similarity.pqKOf]]), trains to the measured plateau
  * (LloydIters = 4) and encodes the composed index against RESIDUALS
  * ([[Similarity.resTrain]]) — after which every measured row rises
  * with scale (sf0.01 → sf0.1: IVF 0.24→0.26, ADC 0.28→0.32, re-rank
  * 0.56→0.78, IVF-PQ 0.20→0.24). This spec pins the no-degradation
  * DIRECTION, not the exact values — the hash gate pins those — so a
  * future dial change that re-introduces capacity underfit fails
  * loudly here. */
class RecallRobustSpec extends SparkSpec {
  import spark.implicits._

  test("IVF capacity and training sample are snapshot-adaptive (round-9 lead item)") {
    // the formula itself: one list per ~32 vectors, clamped [64, 1024];
    // sample = 32·K — so capacity AND training depth track the corpus
    // instead of being compile-time constants (the round-8 pqK fix,
    // one layer up)
    assert(Similarity.ivfKOf(500L) == 64 && Similarity.ivfKOf(2048L) == 64)
    assert(Similarity.ivfKOf(4096L) == 128)
    assert(Similarity.ivfKOf(32768L) == 1024)
    assert(Similarity.ivfKOf(1000000000L) == 1024) // driver-memory cap holds
    assert(Similarity.trainNOf(500L) == 2048)      // the gated test-scale sample
    assert(Similarity.trainNOf(32768L) == 32768)   // 32 rows per centroid at the cap
    // the realized snapshot artifacts obey the formula: the written
    // quantizer has exactly ivfK(corpus) centroids at both scales
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val k = Similarity.ivfK(spark, dir, Similarity.Full)
      assert(k == Similarity.ivfKOf(Similarity.corpusN(spark, dir, Similarity.Full)))
      val clusters = Similarity.clusterBalance(spark, dir).count()
      assert(clusters <= k && clusters >= k * 9L / 10L,
        s"$dir: $clusters realized clusters vs K=$k — quantizer capacity not tracking the snapshot")
    }
  }

  test("q96 recall@5 per method does not degrade from sf0.01 to sf0.1") {
    def recalls(dir: String): Map[String, Double] =
      Similarity.annRecall(spark, dir)
        .select("method", "recall_at_5")
        .as[(String, Double)].collect().toMap
    val small = recalls("/root/testdata/sf0.01")
    val large = recalls("/root/testdata/sf0.1")
    val methods = Seq("q83_ivf", "q90_pq_adc", "q92_pq_rerank", "q93_ivfpq")
    assert(small.keySet == methods.toSet && large.keySet == methods.toSet)
    methods.foreach { m =>
      assert(large(m) >= small(m),
        s"$m recall degraded with corpus growth: sf0.01=${small(m)} sf0.1=${large(m)}")
    }
    // and the approximation families stay ordered as designed: the
    // exact re-rank stage can only improve on its raw ADC shortlist
    Seq(small, large).foreach { r =>
      assert(r("q92_pq_rerank") >= r("q90_pq_adc"),
        s"re-rank below its own ADC stage: $r")
    }
  }
}
