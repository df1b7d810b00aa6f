package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions.col

/** Similarity-search behavior on sf0.001 embeddings (500 × 64-dim). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("typed TopKCos Aggregator reproduces the window-rank top-k exactly") {
    val viaWindow = Similarity.cosineTopK(spark, sfDir)
      .select("probe_id", "vec_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val viaAgg = Similarity.cosineTopKAgg(spark, sfDir)
      .select("probe_id", "vec_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)
  }

  test("cosineTopK returns exactly 5 ranked neighbours per probe") {
    val got = Similarity.cosineTopK(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 100L, 200L, 300L, 400L))
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      // descending cosine in rank order
      val sorted = rows.sortBy(_._4).map(_._3).toSeq
      assert(sorted == sorted.sorted.reverse, s"probe $p not sorted")
      assert(rows.forall(_._2 != p), "self-match excluded")
    }
  }

  test("embeddingNearDup pairs are ordered, thresholded, and symmetric-free") {
    val got = Similarity.embeddingNearDup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (a, b, c) => a < b && c >= 0.4 && c <= 1.0 })
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
  }

  test("annIvf returns 5 ranked candidates per probe with brute-force-consistent scores") {
    val brute = Similarity.cosineTopK(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    val ivf = Similarity.annIvf(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
    // every probe (vec_id % 100 == 0) must be present with a full top-5
    // — an empty or partial result must FAIL, not satisfy a vacuous
    // forall over the reduced key set
    assert(ivf.map(_._1).toSet == brute.keySet && brute.nonEmpty)
    assert(ivf.groupBy(_._1).forall(_._2.length == 5))
    // every IVF hit that also appears in the brute top-5 must carry the
    // exact same cosine (identical quantized math on both paths)
    ivf.foreach { case (p, v, c, _) =>
      brute.get(p).flatMap(_.get(v)).foreach(bc => assert(bc == c))
    }
  }

  test("annLsh output is a subset of the brute-force pairs") {
    val brute = Similarity.embeddingNearDup(spark, sfDir)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val ann = Similarity.annLsh(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty, "LSH banding found no candidates at all")
    assert(ann.forall { case (a, b, c) => brute.get((a, b)).contains(c) },
      "every LSH pair must appear in brute force with identical cosine")
    // recall floor: 32 sign-planes at cos >= 0.4 should recover a
    // nontrivial share of the strongest brute-force pairs
    val strong = brute.filter(_._2 >= 0.9).keySet
    if (strong.nonEmpty) {
      val hit = ann.map(p => (p._1, p._2)).toSet
      assert((strong & hit).size * 2 >= strong.size,
        s"LSH recall on cos>=0.9 pairs below 50%: ${(strong & hit).size}/${strong.size}")
    }
  }

  test("annLsh bucket cap: cap=1 kills every candidate, default cap is a no-op") {
    // a size-1 bucket yields no a<b pair, so cap=1 (drop every bucket
    // with >=2 members) must produce the empty result — the firing
    // path — while the default cap changes nothing on this data
    assert(Similarity.annLshCapped(spark, sfDir, 1).count() == 0)
    val capped = Similarity.annLshCapped(spark, sfDir, graft.operators.Dedup.MaxLshBucket)
      .collect().toSeq
    val default = Similarity.annLsh(spark, sfDir).collect().toSeq
    assert(capped == default && default.nonEmpty)
  }

  test("embeddingNearDup tiled broadcast == single-tile (exact pair equality)") {
    // the tile loop must cover every (a, b) pair exactly once: each pair
    // lands in the tile of b's vec_id bucket, no pair in two tiles
    val one = Similarity.embeddingNearDupTiled(spark, sfDir, 1)
      .as[(Long, Long, Double)].collect().toSeq
    val three = Similarity.embeddingNearDupTiled(spark, sfDir, 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(one.nonEmpty)
    assert(three == one, "tiling changed the near-dup pair set")
  }

  test("boundedProbes caps the probe broadcast at MaxProbes smallest ids") {
    // 2000 qualifying ids -- well above the cap; the result must be the
    // MaxProbes SMALLEST (deterministic under growth: adding corpus can
    // never change the selected probes, only — eventually — nothing)
    val ids = spark.range(0, 200000).toDF("vec_id")
    val got = Similarity.boundedProbes(ids).as[Long].collect()
    assert(got.length == Similarity.MaxProbes)
    assert(got.min == 0L && got.max == (Similarity.MaxProbes - 1) * 100L)
  }

  test("q24 tile guard: refuses corpora beyond the exact-baseline contract") {
    assert(Similarity.tilesFor(1L) == 1)
    assert(Similarity.tilesFor(Similarity.NearDupTileRows) == 1)
    val atCap = Similarity.NearDupTileRows * Similarity.MaxNearDupTiles
    assert(Similarity.tilesFor(atCap) == Similarity.MaxNearDupTiles)
    val e = intercept[IllegalArgumentException](Similarity.tilesFor(atCap + 1))
    assert(e.getMessage.contains("annLsh"), "refusal must point at the scale operator")
  }

  test("q113: the point lookup prunes to at most its nprobe's buckets") {
    val df = Similarity.ivfPointQuery(spark, sfDir, 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in the point plan:\n$plan")
    // one probe, nprobe = 2 → ≤ 2 cell-id literals → ≤ 2 buckets of 8
    // touched (the production point-lookup regime)
    assert(sel.get.group(1).toInt <= 2 && sel.get.group(2).toInt > 2,
      s"point lookup did not prune to its nprobe: ${sel.get.matched}")
    // the result is exactly the batch path's rows for that probe
    val batch = Similarity.annIvfIndexed(spark, sfDir)
    val probe = df.select("probe_id").head().getLong(0)
    val want = batch.filter(org.apache.spark.sql.functions.col("probe_id") === probe)
      .collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("q83: the written IVF index serves queries with bucket pruning, no quantization") {
    val df = Similarity.annIvfIndexed(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("graft_ivfassign"),
      s"q83 not reading the written index:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"index scan ignores the cent_id bucketing:\n$plan")
    // the nprobe/K claim made physical: the probed-centroid filter
    // prunes buckets at planning time
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning in plan:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"probe filter pruned nothing: ${sel.get.matched}")
    // query time reads tables only — the ONE MapPartitions is the
    // DISTRIBUTED probe routing (routeProbesDf, round 8), which
    // consumes the written index's q/qn columns — there is no
    // quantization loop and no collected probe relation in the plan
    assert("MapPartitions".r.findAllIn(plan).size == 1,
      s"q83 should carry exactly the routing MapPartitions:\n$plan")
    assert(!plan.contains("LocalTableScan"),
      s"q83 still ships a collected (driver-routed) probe relation:\n$plan")
    // and the result is the inline rebuild's, row for row
    val inline = Similarity.annIvf(spark, sfDir).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == inline && inline.nonEmpty)
  }

  test("distributed probe routing equals driver-side routeCents rank for rank") {
    val cents = Similarity.lloydCents(
      Similarity.trainSample(spark, sfDir, Similarity.Full),
      Similarity.ivfK(spark, sfDir, Similarity.Full)).sortBy(_._1)
    val probes = Similarity.boundedProbes(
      Similarity.quantizedFrom(graft.sources.Tables.embeddings(spark, sfDir)))
    val viaDf = Similarity.routeProbesDf(probes, cents, 8)
      .select("probe_id", "cent_id", "r")
      .as[(Long, Long, Int)].collect().toSet
    val viaDriver = probes.select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)].collect()
      .flatMap { case (pid, q, qn) =>
        Similarity.routeCents(q, qn, cents, 8).zipWithIndex
          .map { case (cid, i) => (pid, cid, i + 1) }
      }.toSet
    assert(viaDf.nonEmpty && viaDf == viaDriver)
  }

  test("q86 semDedup drops exactly the lower-id-matched vectors, keep-min provenance") {
    val got = Similarity.semDedup(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // drop rows are well-formed: keeper below the dropped id, a real
    // match count, max_cos at/above the threshold
    assert(got.forall { case (v, k, n, c) => k < v && n >= 1 && c >= 0.4 && c <= 1.0 })
    // semantic containment: every (kept_by, vec_id) drop edge is a
    // GENUINE near-dup pair — q86's within-cluster matches are a
    // subset of the brute-force all-pairs ground truth (q24)
    val brute = Similarity.embeddingNearDup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    got.foreach { case (v, k, _, _) =>
      assert(brute.contains((k, v)), s"drop edge ($k,$v) not in brute-force pairs")
    }
  }

  test("q86 cluster cap excludes oversized clusters (keeps their docs) and is observable") {
    import org.apache.spark.sql.functions.col
    // one degenerate 6-member cluster (identical vectors — all pairs
    // match) over a cap of 4, plus one normal 2-member dup cluster
    val v = Array(1000000L, 0L)
    val qn = 1000000L * 1000000L
    val assign = ((10L to 15L).map(i => (i, 1L, v, qn)) ++
      Seq((20L, 2L, v, qn), (21L, 2L, v, qn)))
      .toDF("vec_id", "cent_id", "q", "qn")
    val capped = Similarity.semDedupFrom(assign, 4)
    val rows = capped.collect()
    // the hot cluster contributes NO drops (conservative direction);
    // the normal cluster drops its higher id with full provenance
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((21L, 20L, 1L, 1.0)))
    val m = capped.queryExecution.observedMetrics("graft.cap(sem_cluster)")
    assert(m.getAs[Long]("hot_clusters") == 1L, m.toString)
    assert(m.getAs[Long]("excluded_rows") == 6L, m.toString)
    // uncapped: the degenerate cluster collapses to keep-min as usual
    val un = Similarity.semDedupFrom(assign, Int.MaxValue)
      .select(col("vec_id")).as[Long].collect().toSet
    assert(un == Set(11L, 12L, 13L, 14L, 15L, 21L))
  }

  private def subDist(q: Array[Long], cw: Array[Long], sub: Int): Long =
    (0 until 8).map { i =>
      val diff = q(sub * 8 + i) - cw(sub * 8 + i); diff * diff
    }.sum

  test("q90 PQ encoding: every sample vector gets the argmin code per subspace, ties low") {
    val train = Similarity.pqTrain(spark, sfDir, Similarity.Full)
    // capacity scales with the snapshot: one code per 8 sample rows,
    // clamped to [16, 256] (the round-8 no-degradation fix)
    val pqK = Similarity.pqKOf(Similarity.trainSample(spark, sfDir, Similarity.Full).length)
    assert(train.length == pqK)
    assert(pqK >= 16 && pqK <= 256)
    val codes = Similarity.pqCodesTable(spark, sfDir, Similarity.Full)
      .as[(Long, Seq[Int])].collect().toMap
    // the TRAINED codewords are floor-means, not corpus vectors, so
    // the invariant is argmin: the assigned code's distance must beat
    // every lower code strictly and every higher code weakly
    Similarity.trainSample(spark, sfDir, Similarity.Full).take(64).foreach { case (vid, q, _) =>
      val cs = codes(vid)
      for (sub <- 0 until 8) {
        val got = cs(sub)
        val d = subDist(q, train(got - 1)._2, sub)
        for (c <- 1 to pqK if c != got) {
          val dc = subDist(q, train(c - 1)._2, sub)
          if (c < got) assert(dc > d, s"vec $vid sub $sub: code $c dist $dc <= assigned $got dist $d")
          else assert(dc >= d, s"vec $vid sub $sub: code $c dist $dc < assigned $got dist $d")
        }
      }
    }
    // and every corpus vector got exactly one 8-code row
    assert(codes.size == Similarity.pqCodesTable(spark, sfDir, Similarity.Full).count())
    assert(codes.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 1 && c <= pqK)))
  }

  test("Lloyd training improves both codebook objectives over the hash-picked seeds") {
    val sample = Similarity.trainSample(spark, sfDir, Similarity.Full)
    def cos(q: Array[Long], qn: Long, c: Array[Long], cn: Long): Double = {
      var s = 0L; var i = 0
      while (i < q.length) { s += q(i) * c(i); i += 1 }
      s.toDouble / math.sqrt(qn.toDouble * cn.toDouble)
    }
    // IVF objective: total best-centroid cosine over the sample
    // (spherical k-means maximizes it)
    val ivfK = Similarity.ivfKOf(sample.length.toLong)
    val seeds = sample.take(ivfK)
    val trained = Similarity.lloydCents(sample, ivfK)
    def centObj(cents: Array[(Long, Array[Long], Long)]): Double =
      sample.map { case (_, q, qn) =>
        cents.map { case (_, cq, cqn) => cos(q, qn, cq, cqn) }.max
      }.sum
    val (so, to) = (centObj(seeds), centObj(trained))
    assert(to > so, s"trained cosine objective $to <= seed objective $so")
    // PQ objective: total assigned-codeword squared-L2 over
    // (sample × subspace) (k-means minimizes it)
    val pqK = Similarity.pqKOf(sample.length)
    val seedCb = sample.take(pqK).map { case (id, q, _) => (id, q) }.sortBy(_._1)
    val trainedCb = Similarity.lloydCodebook(sample, pqK)
    def cbObj(cb: Array[(Long, Array[Long])]): Long =
      sample.map { case (_, q, _) =>
        (0 until 8).map(sub => cb.map(c => subDist(q, c._2, sub)).min).sum
      }.sum
    val (sq, tq) = (cbObj(seedCb), cbObj(trainedCb))
    assert(tq < sq, s"trained PQ quantization error $tq >= seed error $sq")
  }

  test("trainSample is memoized per snapshot: repeat calls return the SAME collected array") {
    // the sample is a pure function of the (session, corpus, dir)
    // snapshot — every trainer (index builders, per-query codebook
    // derivations, the recall harness) must share one corpus scan, not
    // re-collect; reference identity proves the memo, distinct dirs
    // and distinct corpora stay distinct
    import Similarity.{Full, Standing}
    val a = Similarity.trainSample(spark, sfDir, Full)
    assert(a eq Similarity.trainSample(spark, sfDir, Full),
      "repeat trainSample call re-collected the sample")
    val other = Similarity.trainSample(spark, "/root/testdata/sf0.01", Full)
    assert(!(a eq other), "distinct snapshots must not share a sample")
    assert(other eq Similarity.trainSample(spark, "/root/testdata/sf0.01", Full))
    val std = Similarity.trainSample(spark, sfDir, Standing)
    assert(!(a eq std), "the standing corpus must not share the full corpus's sample")
    assert(std eq Similarity.trainSample(spark, sfDir, Standing))
    assert(std.nonEmpty && std.forall(_._1 % 5 != 0),
      "the standing sample holds a vec_id ≡ 0 mod 5")
    assert(a.exists(_._1 % 5 == 0), "the full sample never reached the batch residue")
    // the memoized standing quantizer is the written ivfcentsbase table
    def rows(cs: Array[(Long, Array[Long], Long)]): Seq[(Long, Seq[Long], Long)] =
      cs.map { case (id, q, qn) => (id, q.toSeq, qn) }.toSeq.sortBy(_._1)
    val cents = Similarity.ivfCents(spark, sfDir, Standing)
    val written = spark.table(graft.sources.Layout.tableName(sfDir, "ivfcentsbase"))
      .as[(Long, Array[Long], Long)].collect()
    assert(rows(cents) == rows(written))
  }

  test("q97 nprobe curve: monotone non-decreasing recall, consistent with q96 at nprobe=2") {
    val curve = Similarity.ivfNprobeCurve(spark, sfDir)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(curve.map(_._1) == Seq(1, 2, 4, 8))
    // a superset of probed lists can only add candidates: hits must be
    // non-decreasing in nprobe, and recall stays a valid fraction
    assert(curve.map(_._3) == curve.map(_._3).sorted,
      s"recall not monotone in nprobe: $curve")
    curve.foreach { case (np, nProbes, hits, rec) =>
      assert(rec == hits.toDouble / (5.0 * nProbes) && rec >= 0.0 && rec <= 1.0)
    }
    // the nprobe=2 point IS q96's q83_ivf measurement — same index,
    // same probes, same exact baseline
    val q96Ivf = Similarity.annRecall(spark, sfDir)
      .filter($"method" === "q83_ivf")
      .select($"n_hits").as[Long].collect().head
    assert(curve.find(_._1 == 2).get._3 == q96Ivf)
  }

  test("q98 shortlist curve: monotone, L=5 == raw ADC, L=20 == q96's re-rank point") {
    val curve = Similarity.rerankShortlistCurve(spark, sfDir)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(curve.map(_._1) == Seq(5, 10, 20, 40))
    // displacing a true top-5 hit requires higher exact cosine, which
    // makes the displacer a true top-5 hit itself: monotone in L
    assert(curve.map(_._3) == curve.map(_._3).sorted,
      s"recall not monotone in shortlist: $curve")
    val q96 = Similarity.annRecall(spark, sfDir)
      .select($"method", $"n_hits").as[(String, Long)].collect().toMap
    // re-ranking an ADC top-5 shortlist reorders but cannot change the
    // SET — recall at L=5 is exactly the raw ADC recall
    assert(curve.find(_._1 == 5).get._3 == q96("q90_pq_adc"))
    // and L=PqShortlist is exactly the q92 production point
    assert(curve.find(_._1 == Similarity.PqShortlist).get._3 == q96("q92_pq_rerank"))
  }

  test("q90 ADC top-k: 5 ascending rows per probe off the written code table") {
    val df = Similarity.pqAdc(spark, sfDir)
    val got = df.as[(Long, Long, Long, Int)].collect()
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 100L, 200L, 300L, 400L))
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val d = rows.sortBy(_._4).map(_._3).toSeq
      assert(d == d.sorted, s"probe $p ADC distances not ascending")
      assert(rows.forall(r => r._2 != p && r._3 >= 0L))
    }
    // query-time work is one scan of the WRITTEN code table + the
    // scoring map — no embedding re-read, no re-encode
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("graft_pqcodes"), s"q90 not reading the written codes:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"q90 scanned more than the code table:\n$plan")
  }

  test("q91 incremental matches are batch-vs-corpus near-dups off the written base index") {
    val df = Similarity.semDedupIncremental(spark, sfDir)
    val got = df.as[(Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    // batch side only, corpus matches only, thresholded, counted
    assert(got.forall { case (v, m, c, n) =>
      v % 5 == 0 && m % 5 != 0 && c >= 0.4 && c <= 1.0 && n >= 1 })
    // every reported best edge is a genuine near-dup pair in the
    // brute-force all-pairs ground truth (same exact cosine math)
    val brute = Similarity.embeddingNearDup(spark, sfDir)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    got.foreach { case (v, m, c, _) =>
      val key = (math.min(v, m), math.max(v, m))
      assert(brute.contains(key), s"q91 edge $key not in brute pairs")
      assert(brute(key) == c, s"q91 cos $c != brute ${brute(key)} for $key")
    }
    // the standing corpus is served from its written snapshot table
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("graft_ivfassignbase"),
      s"q91 corpus side not reading the written base index:\n$plan")
  }

  test("q93 IVF-PQ scores probed lists only, off the composed bucketed index") {
    val df = Similarity.ivfPq(spark, sfDir)
    val got = df.as[(Long, Long, Long, Int)].collect()
    val byProbe = got.groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 100L, 200L, 300L, 400L))
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val d = rows.sortBy(_._4).map(_._3).toSeq
      assert(d == d.sorted && rows.forall(r => r._2 != p && r._3 >= 0L))
    }
    // residual ADC arithmetic (round 8): every returned distance must
    // equal the driver-side recomputation — encode the candidate's
    // residual to ITS cell against the residual codebook, build the
    // probe's residual table for that cell, sum the 8 lookups
    val sample = Similarity.trainSample(spark, sfDir, Similarity.Full)
    val cents = Similarity.lloydCents(sample,
      Similarity.ivfK(spark, sfDir, Similarity.Full)).sortBy(_._1)
    val centById = cents.map(c => (c._1, c._2)).toMap
    val resCb = Similarity.resTrain(spark, sfDir, Similarity.Full)
    val pqK = resCb.length
    val e = Similarity.quantizedFrom(graft.sources.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)].collect().map(t => t._1 -> t).toMap
    def cellOf(id: Long): Long = {
      val (_, q, qn) = e(id); Similarity.routeCents(q, qn, cents, 1).head
    }
    got.foreach { case (p, v, d, _) =>
      val cid = cellOf(v)
      val cq = centById(cid)
      val (_, pq, _) = e(p)
      val (_, vq, _) = e(v)
      val t = Similarity.adcTable(
        Array.tabulate(Similarity.Dim)(i => pq(i) - cq(i)), resCb)
      val cs = Similarity.pqEncode(
        Array.tabulate(Similarity.Dim)(i => vq(i) - cq(i)), resCb)
      val want = (0 until Similarity.PqSubs)
        .map(sub => t(sub * pqK + cs(sub) - 1)).sum
      assert(want == d, s"probe $p vec $v: residual adist $d != recomputed $want")
    }
    // the index is the written composed table, bucket-pruned at
    // planning time (the q83 mechanism on the IVFPQ layout)
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("graft_ivfpq"), s"q93 not reading the composed index:\n$plan")
    assert(plan.contains("Bucketed: true"), s"q93 scan ignores bucketing:\n$plan")
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(plan)
    assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
      s"q93 probe filter pruned nothing:\n$plan")
  }

  test("q94 cluster balance: exhaustive partition of the corpus, zero-exchange rank") {
    val df = Similarity.clusterBalance(spark, sfDir)
    val got = df.as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, n, k, d) =>
      assert(n == k + d && k <= 12L && k == math.min(n, 12L)) }
    // every (non-degenerate) corpus vector lands in exactly one cluster
    assert(got.map(_._2).sum == 500L)
    // the bucketed assignment satisfies both the window partitioning
    // and the rollup grouping — no hash exchange anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"), s"q94 scan ignores bucketing:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q94 planned a hash exchange over the bucketed assignment:\n$plan")
  }

  test("q95 embedding pipeline: retention ledger balances and agrees with q86/q94") {
    val df = Similarity.embeddingPipeline(spark, sfDir)
    val got = df.as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // per-cluster ledger identity: everything assigned is accounted for
    got.foreach { case (_, n, dup, bal, fin) =>
      assert(n == dup + bal + fin && fin <= 12L) }
    // cross-operator consistency: the dup column IS q86's drop list
    val q86drops = Similarity.semDedup(spark, sfDir).count()
    assert(got.map(_._3).sum == q86drops)
    // and the corpus total matches the assignment partition (q94)
    val q94 = Similarity.clusterBalance(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.map(_._2).sum == q94.map(_._2).sum)
    // composition stays bucketed: the n_vecs/n_dup rollups and their
    // cent_id join ride the written assignment's buckets with zero
    // exchanges (the drop set keeps its cluster key), and the few
    // remaining hash exchanges are AQE stage boundaries around the
    // slim (cent_id, vec_id) drop/survivor rows — never the vectors
    df.collect() // read the FINAL adaptive plan, not the sketch
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Bucketed: true".r.findAllIn(plan).length >= 3,
      s"q95 lost the bucketed index scans:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length -
      "ReusedExchange".r.findAllIn(plan).length
    assert(hashEx <= 3, s"q95 planned $hashEx hash exchanges:\n$plan")
    // the pair join is the broadcast-capped q86 shape, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), s"q95 lost broadcast joins:\n$plan")
  }

  test("q92 re-rank returns exact cosines in exact order over the ADC shortlist") {
    val rr = Similarity.pqRerank(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
    val byProbe = rr.groupBy(_._1)
    assert(byProbe.keySet == Set(0L, 100L, 200L, 300L, 400L))
    byProbe.foreach { case (p, rows) =>
      assert(rows.map(_._4).sorted.toSeq == Seq(1, 2, 3, 4, 5))
      val cs = rows.sortBy(_._4).map(_._3).toSeq
      assert(cs == cs.sorted.reverse, s"probe $p not cos-descending")
      assert(rows.forall(_._2 != p), "self-match excluded")
    }
    // stage-2 exactness: any re-ranked hit that is also in the exact
    // brute-force top-5 carries the IDENTICAL cosine (same quantized
    // integer math on both paths)
    val brute = Similarity.cosineTopK(spark, sfDir)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    rr.foreach { case (p, v, c, _) =>
      brute.get(p).flatMap(_.get(v)).foreach(bc => assert(bc == c))
    }
  }
}
