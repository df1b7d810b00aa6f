package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SnapMemo
import graft.sources.{Layout, Tables}
import graft.functions.Fns._

/** Similarity search over `embeddings.embedding` (Array[Float], 64-dim).
  *
  * All cosine math runs on 1e-6-quantized integer vectors
  * ([[graft.functions.Fns.quantize]]): dot products and norms are exact
  * BIGINT sums (order-independent under any partitioning), with a single
  * IEEE-deterministic double division at the end — so Spark and the
  * DuckDB oracle agree bit-for-bit, which float accumulation cannot
  * guarantee. The pair-scoring hot path uses the statically unrolled
  * [[graft.functions.Fns.qdotStatic]] so it compiles into whole-stage
  * codegen (interpreted `aggregate`/`zip_with` cost ~10× on an
  * all-pairs join).
  *
  * Scale ladder (the point of having three operators):
  *  - [[embeddingNearDup]]/[[cosineTopK]] are the brute-force baselines:
  *    a self-join that is O(n²) pairs / O(probes·n). Correct, trivially
  *    parallel (pairs partition evenly), but the 100 TB path is not this.
  *  - [[annLsh]] is the scale path: 32 random-hyperplane sign bits in 4
  *    bands of 8 — candidate generation becomes an equi-join on
  *    (band, bucket), so the shuffle carries ~4·n small-int-keyed rows
  *    instead of n² pairs; an 8-bit band keeps random collisions at
  *    ~4/256 per pair. Recall/cost is tunable via planes-per-band;
  *    verification of candidates stays exact. The hyperplanes are
  *    md5-derived ±1 weights (computed once on the driver, no RNG — the
  *    DuckDB oracle regenerates the identical planes in SQL).
  */
object Similarity {

  private[graft] val Dim = 64 // embeddings.embedding length (TESTDATA.md)
  private val Planes = 32
  private val BandBits = 8 // planes per band → 4 bands

  /** Probe-set cap for the top-k operators (q25/q37/q52). The probe
    * predicate (vec_id ≡ 0 mod 100) selects a FRACTION of the corpus, so
    * without a cap the probe broadcast grows Θ(n) — fine as a workload
    * definition, fatal as a broadcast contract. The probes are the
    * MaxProbes smallest qualifying vec_ids (a TakeOrdered — only K rows
    * ever reach the driver), so the broadcast is ≤ ~0.5 MB at any corpus
    * size. The oracles carry the identical ORDER BY vec_id LIMIT. */
  private[graft] val MaxProbes = 1024

  /** Build-side rows per q24 broadcast tile: ~528 B/row (64 longs + id +
    * norm) → ~69 MB per tile, safely under a 128 MB broadcast budget. */
  private[graft] val NearDupTileRows = 131072L

  /** Hard ceiling on q24's tile count. Exact all-pairs is O(n²)
    * compute BY DEFINITION — the memory tiling bounds the footprint,
    * not the work — so beyond ~64 passes (≈8.4M vectors, ≈4096 full
    * fact-side scans' worth of pair evaluations) brute force stops
    * being a verification baseline and becomes a runaway job.
    * [[embeddingNearDup]] REFUSES rather than silently launching it;
    * the scale operator for that regime is [[annLsh]] (q26). */
  private[graft] val MaxNearDupTiles = 64

  /** IVF coarse-quantizer capacity: SNAPSHOT-ADAPTIVE (round-9 lead
    * item). K = clamp(n/32, [64, 1024]) where n is the corpus row
    * count — one inverted list per ~32 vectors until the 1024 cap.
    * Round 8 fixed exactly this defect class for the PQ codebook
    * ([[pqKOf]]) but left the coarse quantizer at a compile-time 64,
    * so at 100 TB every inverted list would be corpus/64 and
    * nprobe-capped recall would stay dial-limited no matter the
    * corpus. The floor 64 keeps sub-2048-vector snapshots (both
    * driver test scales) at the dial whose recall the round-8 grid
    * measured NON-DEGRADING under fixed probed fraction
    * (`RecallRobustSpec` pins the direction); above the floor each
    * list stays ~32 vectors, so the nprobe dial (q97's sweep) buys
    * the same marginal coverage at every snapshot size instead of
    * coarsening with it. Driver memory (K centroid rows, ≤ ~0.5 MB)
    * and the per-row assignment cost (K dot products) are bounded by
    * the cap. Derived from the SAME corpus count on both engines —
    * [[ivfKOf]] in Scala, [[ivfKSql]]'s `count(*)` scalar subquery
    * in SQL (integer floor division on both) — so they cannot
    * disagree. */
  private[graft] val IvfKFloor = 64
  private[graft] val IvfKMax = 1024

  /** Training-sample rows per centroid: the sample SCALES WITH K
    * (sample = 32·K ∈ [2048, 32768]) — a fixed 2048-row sample at
    * K = 1024 would train 2 vectors per centroid, re-introducing the
    * capacity-underfit bug one layer down (FAISS's clustering floor
    * is ~32–39 training points per centroid). The collect stays
    * bounded: 32768 rows × ~520 B ≈ 17 MB at the cap, once per
    * snapshot. At both driver test scales 32·K = 2048 — the exact
    * sample the round-8 oracles were gated on. */
  private[graft] val SamplePerCent = 32

  private[graft] def ivfKOf(n: Long): Int =
    math.max(IvfKFloor.toLong, math.min(IvfKMax.toLong, n / SamplePerCent)).toInt

  /** Realized training-sample bound for a corpus of n rows: the IVF
    * centroids and PQ codebooks are k-means-TRAINED (not hash-picked)
    * over the trainNOf(n) smallest-hash vectors — a TakeOrdered, so
    * training cost and driver memory are BOUNDED (≤ 32·[[IvfKMax]]
    * rows) at any corpus size (the standard bounded-sample k-means
    * every production IVF/PQ build runs). The hash order makes the
    * sample deterministic and reshuffle-proof, and the DuckDB oracles
    * re-derive the identical sample, seeds and iterations in SQL
    * ([[trainNSql]]). */
  private[graft] def trainNOf(n: Long): Int = SamplePerCent * ivfKOf(n)

  /** The [[ivfKOf]] clamp as a DuckDB scalar expression over the
    * corpus relation `src` (the SAME relation the sample is drawn
    * from, so Scala and SQL count identical rows; `//` is floor
    * division, matching Long division for non-negative counts). */
  private def ivfKSql(src: String): String =
    s"GREATEST($IvfKFloor, LEAST($IvfKMax, (SELECT count(*) FROM $src) // $SamplePerCent))"

  /** The [[trainNOf]] bound as a DuckDB scalar expression. */
  private def trainNSql(src: String): String =
    s"($SamplePerCent * ${ivfKSql(src)})"

  /** The corpus an ANN artifact family is built over: [[Full]] (every
    * non-degenerate embedding) or [[Standing]] (vec_id ≢ 0 mod 5 — the
    * q43/q77 "today's crawl" split: the held snapshot that the q108
    * append and the q116/q117 deletes maintain). Each family trains
    * its OWN sample, centroids and codebooks on its own rows, so K and
    * the sample adapt to that corpus. `suffix` names the family's
    * written tables (`ivfcents` + suffix); `rows` narrows the
    * quantized relation to the corpus. */
  private[graft] sealed abstract class Corpus(val suffix: String) {
    def rows(e: DataFrame): DataFrame
  }
  private[graft] case object Full extends Corpus("") {
    def rows(e: DataFrame): DataFrame = e
  }
  private[graft] case object Standing extends Corpus("base") {
    def rows(e: DataFrame): DataFrame = e.filter(pmod(col("vec_id"), lit(5)) =!= 0)
  }

  /** Corpus row count (the quantized, degenerate-filtered relation),
    * MEMOIZED per (session, corpus, snapshot): one column-pruned count
    * aggregate, once — it sizes the quantizer capacity and the
    * training sample for every ANN build over the corpus. */
  private[graft] def corpusN(s: SparkSession, dir: String, c: Corpus): Long =
    SnapMemo(s, dir, "corpusN" + c.suffix)(c.rows(quantized(s, dir)).count())

  /** The realized coarse-quantizer capacity for a corpus. */
  private[graft] def ivfK(s: SparkSession, dir: String, c: Corpus): Int =
    ivfKOf(corpusN(s, dir, c))

  /** Fixed Lloyd iteration count. Four is where the round-8 recall
    * grid plateaus at both measured scales —
    * more iterations moved no PQ recall row by more than one probe
    * slot; the SQL twins unroll exactly this many iteration CTEs. */
  private[graft] val LloydIters = 4

  /** PQ codebook size as a function of the realized training-sample
    * size — CAPACITY SCALES WITH THE CORPUS (bounded): round 7 shipped
    * a fixed PqK=16, and measured recall DEGRADED as the corpus grew
    * (sf0.01→sf0.1: ADC 0.28→0.14, re-rank 0.48→0.28) because a
    * constant-capacity codebook quantizes a growing corpus ever more
    * coarsely. One codeword per 8 sample vectors (floored to
    * [16, 256] — 256 is the classic 8-bit-code PQ ceiling) keeps the
    * quantization error roughly flat as the snapshot grows, and the
    * round-8 recall grid measures every PQ row IMPROVING with corpus
    * growth under it (the q96 no-degradation gate in
    * `RecallRobustSpec`). Derived from the SAMPLE, not the corpus
    * count, so both engines compute it from data they already have:
    * the SQL twins derive the identical value via
    * `(SELECT count(*) FROM samp) // 8` clamped in SQL. */
  private[graft] def pqKOf(sampleLen: Int): Int =
    math.max(16, math.min(256, sampleLen / 8))

  /** The [[pqKOf]] clamp as a DuckDB scalar expression over `samp`. */
  private def pqKSql: String =
    "GREATEST(16, LEAST(256, (SELECT count(*) FROM samp) // 8))"

  /** The corpus training sample, MEMOIZED per (session, corpus, dir)
    * — the sample is a pure function of the snapshot (hash-ordered
    * TakeOrdered), so one scan serves every trainer: the IVF/PQ table
    * builders AND the per-query codebook derivations (q90/q92 and the
    * recall harness retrain from the sample on each call — the memo
    * turns those into driver-array lookups). ONE sample per corpus
    * feeds its coarse quantizer, PQ codebook and residual codebook, so
    * a family's three trained artifacts cannot drift apart. */
  private[graft] def trainSample(s: SparkSession, dir: String,
      c: Corpus): Array[(Long, Array[Long], Long)] =
    SnapMemo(s, dir, "trainSample" + c.suffix)(
      trainSampleFrom(c.rows(quantized(s, dir)), trainNOf(corpusN(s, dir, c))))

  /** The bounded hash-ordered training sample of a quantized relation
    * — rows arrive IN hash order (seeds are its prefix). `n` is the
    * snapshot-adaptive bound ([[trainNOf]] of the relation's count). */
  private def trainSampleFrom(e: DataFrame, n: Int): Array[(Long, Array[Long], Long)] = {
    val s = e.sparkSession
    import s.implicits._
    e.withColumn("h", hash60(col("vec_id").cast(StringType)))
      .orderBy(col("h"), col("vec_id"))
      .limit(n)
      .select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)].collect()
  }

  /** Spherical k-means over the training sample: seeds = the first
    * k ([[ivfKOf]]) sample rows (the previous hash-picked stand-ins —
    * training strictly refines them), assignment by exact quantized
    * cosine (ties to the low cent_id, [[routeCents]]'s order), update
    * = element-wise floor(mean). All integer except the IEEE cosine
    * and the floor division — and sample sums stay < 2^53, so the
    * double division is exact enough that floor is deterministic
    * (error ~1e-7 of a unit vs the ≥ 1/|sample| distance to the next
    * integer). An empty or zero-norm update keeps the previous
    * centroid (cosine needs cqn > 0). cent_id stays the seed's vec_id
    * — a stable opaque label across iterations. */
  private[graft] def lloydCents(
      sample: Array[(Long, Array[Long], Long)],
      k: Int, iters: Int = LloydIters): Array[(Long, Array[Long], Long)] = {
    var cents = sample.take(k)
    var iter = 0
    while (iter < iters) {
      val nc = cents.length
      val counts = new Array[Long](nc)
      val sums = Array.fill(nc)(new Array[Long](Dim))
      var si = 0
      while (si < sample.length) {
        val (_, q, qn) = sample(si)
        var bi = 0; var bestCos = Double.NegativeInfinity; var bestId = Long.MaxValue
        var ci = 0
        while (ci < nc) {
          val c = cents(ci)
          val cos = jcosine(q, qn, c._2, c._3)
          if (cos > bestCos || (cos == bestCos && c._1 < bestId)) {
            bestCos = cos; bestId = c._1; bi = ci
          }
          ci += 1
        }
        counts(bi) += 1
        val acc = sums(bi); var d = 0
        while (d < Dim) { acc(d) += q(d); d += 1 }
        si += 1
      }
      cents = Array.tabulate(cents.length) { ci =>
        val (cid, oq, oqn) = cents(ci)
        if (counts(ci) == 0L) (cid, oq, oqn)
        else {
          val nq = Array.tabulate(Dim)(d =>
            math.floor(sums(ci)(d).toDouble / counts(ci)).toLong)
          var nqn = 0L; var d = 0
          while (d < Dim) { nqn += nq(d) * nq(d); d += 1 }
          if (nqn == 0L) (cid, oq, oqn) else (cid, nq, nqn)
        }
      }
      iter += 1
    }
    cents
  }

  /** ±1 hyperplane weights, w(j)(i-1) = 1 - 2·(hash32("p{j}_{i}") & 1),
    * j in [0,32), i in [1,64] — md5-derived, no RNG, regenerated
    * identically by the DuckDB oracle in SQL. */
  private lazy val planeWeights: Array[Array[Long]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dim) { (j, i0) =>
      md.reset()
      val hex = Dedup.md5Hex(md, s"p${j}_${i0 + 1}")
      1L - 2L * (java.lang.Long.parseLong(hex.substring(0, 8), 16) & 1L)
    }
  }

  /** Exact integer dot product of two quantized vectors (JVM side —
    * the same arithmetic [[graft.functions.Fns.qdot]] does in SQL). */
  private[graft] def jdot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Cosine from quantized vectors + integer norms, one IEEE double
    * division — bit-identical to [[graft.functions.Fns.qcosine]]. */
  private[graft] def jcosine(a: Array[Long], na: Long, b: Array[Long], nb: Long): Double =
    jdot(a, b).toDouble / math.sqrt(na.toDouble * nb.toDouble)

  /** nprobe nearest centroids of a vector: cos desc, ties to low
    * cent_id — shared by q37's inline build and q83's written index. */
  private[graft] def routeCents(q: Array[Long], qn: Long,
                         cs: Array[(Long, Array[Long], Long)],
                         nprobe: Int): Seq[Long] =
    cs.map { case (cid, cq, cqn) => (jcosine(q, qn, cq, cqn), cid) }
      .sorted(cosDescIdAsc).take(nprobe).toSeq.map(_._2)

  /** DISTRIBUTED probe routing (round-8 item 3): a probe relation
    * (vec_id, q, qn) against the BROADCAST quantizer, map-side argmin
    * — (probe_id, cent_id, r ∈ [1, maxNprobe], pq, pqn) with NO
    * driver transit of the probes. Earlier rounds collected the
    * bounded probe set and ran [[routeCents]] on the driver; this is
    * the same per-probe arithmetic (literally [[routeCents]], so the
    * equality spec holds by construction) inside `mapPartitions`, so
    * an UNBOUNDED production probe stream routes at full parallelism
    * — the relation is stateless over its input and works unchanged
    * on a streaming probe source. The only routing datum that still
    * reaches the driver in the index-backed queries is the ≤ [[IvfKMax]]
    * distinct probed cell ids, which become planning-time bucket-
    * pruning LITERALS — driver-sized by K (a constant), never by the
    * probe count. */
  private[graft] def routeProbesDf(probes: DataFrame,
      cents: Array[(Long, Array[Long], Long)], maxNprobe: Int): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    probes.select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, q, qn) =>
          routeCents(q, qn, cs, maxNprobe).iterator.zipWithIndex
            .map { case (cid, i) => (id, cid, i + 1, q, qn) }
        }
      }.toDF("probe_id", "cent_id", "r", "pq", "pqn")
  }

  /** The inverted-list assignment: each row of a (vec_id, q, qn)
    * relation routed to its one nearest centroid ([[routeCents]] at
    * nprobe 1) in one map-only pass over the broadcast quantizer —
    * (vec_id, cent_id, q, qn). Stateless over its input, so it runs
    * unchanged on a streaming relation. */
  private[graft] def assignDf(rows: DataFrame,
      cents: Broadcast[Array[(Long, Array[Long], Long)]]): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.select(col("vec_id"), col("q"), col("qn")).as[(Long, Array[Long], Long)]
      .mapPartitions { it =>
        val cs = cents.value
        it.map { case (id, q, qn) => (id, routeCents(q, qn, cs, 1).head, q, qn) }
      }.toDF("vec_id", "cent_id", "q", "qn")
  }

  /** (cos, id) in Spark's `cos DESC, id ASC` sort order, as a TOTAL
    * ordering: java.lang.Double.compare ranks NaN above every finite
    * value, exactly where a Spark window's DESC sort and DuckDB's
    * ORDER BY DESC place it. Scala tuple Orderings on Double are not
    * total under NaN (sortWith/sortBy can throw or order
    * nondeterministically). */
  private[graft] object cosDescIdAsc extends Ordering[(Double, Long)] {
    // a nested object, not an anonymous class: no $outer reference to
    // the enclosing (non-serializable) object, so closures can use it
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  private def quantized(s: SparkSession, dir: String): DataFrame =
    quantizedFrom(Tables.embeddings(s, dir))

  /** The quantize + degenerate-row filter chain over an explicit
    * (vec_id, embedding) relation — works unchanged on a STREAMING
    * DataFrame (stateless expressions), which is what lets
    * [[semanticMatchEvents]] serve both q91 and the streaming ingest
    * front door. */
  private[graft] def quantizedFrom(vecs: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      // a null embedding quantizes to null; the JVM partition loops
      // (jdot etc.) would NPE on it, and the SQL twins drop such rows
      // via NULL comparison semantics anyway — filter to match
      .filter(col("q").isNotNull)
      .withColumn("qn", qnorm2(col("q")))
      // zero-norm vectors make cosine 0/0 = NaN, which Spark SQL
      // comparisons rank ABOVE every threshold while the JVM filters
      // drop it — exclude them on both sides (the oracles' n CTE
      // carries the same qn > 0 predicate) so all similarity paths
      // agree on degenerate input
      .filter(col("qn") > 0)

  /** The shared probe set of the top-k operators: qualifying vec_ids
    * (≡ 0 mod 100), capped to the [[MaxProbes]] smallest — a
    * TakeOrdered, so the plan ships K rows to the driver/broadcast no
    * matter how large the corpus. Columns: vec_id, q, qn. */
  private[graft] def boundedProbes(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(100)) === 0)
      .orderBy(col("vec_id"))
      .limit(MaxProbes)

  /** Brute-force near-dup pairs: all pairs with cosine ≥ 0.4, as a
    * block nested-loop.
    *
    * CONTRACT — exact-search BASELINE, not a 100 TB operator: memory
    * is corpus-independent (tiling below) but compute is O(n²)
    * row-pairs by definition — 100× the corpus is 10,000× the work.
    * Its role is verification ground truth for [[annLsh]] (q26, the
    * scale path) and exact search over bounded corpora;
    * [[MaxNearDupTiles]] enforces that boundary by refusing oversized
    * inputs instead of silently launching them. Known trade, accepted
    * and documented: the multi-tile path runs eagerly at construction
    * (tile passes + localCheckpoint), and a checkpointed pass does not
    * survive executor loss because its source broadcast is destroyed —
    * a retry restarts the query. Both are the price of the hard
    * one-tile-live memory bound; the lazy/recoverable operator for
    * unbounded corpora is q26.
    *
    * Mechanics: the build side is broadcast as primitive
    * arrays, and each partition scans its rows against the block in a
    * tight integer loop (the same shape every vector-search engine uses
    * for exact search; a SQL-level triangular join would evaluate an
    * interpreted 64-term condition per pair, ~15× slower).
    *
    * The build side is TILED, never collected whole: vec_ids are
    * bucketed mod T (T sized so a tile is ~[[NearDupTileRows]] rows /
    * ~70 MB), the loop collects + broadcasts one tile at a time, and
    * each pass scans the probe side against its tile; the union of
    * passes covers every (a, b) pair exactly once because each pair
    * lands in exactly the tile of b's bucket. Cost is the same n²
    * row-pairs, just blocked — T scans of the (columnar, pruned) fact
    * side for T tiles.
    *
    * Memory contract: with more than one tile, each pass is executed
    * EAGERLY (`localCheckpoint`) and its broadcast `destroy()`ed
    * before the next tile is collected — at any instant the cluster
    * holds ONE tile (driver array + broadcast blocks) plus the
    * accumulated pair results (tiny: they passed the 0.4 threshold).
    * Peak memory is genuinely corpus-independent; the cost is that
    * the multi-tile DataFrame is materialized at construction rather
    * than lazy (re-planning it re-runs nothing — passes are served
    * from the checkpoint). The single-tile case (any corpus that fits
    * one broadcast, incl. the bench scale) stays fully lazy. Or
    * switch to [[annLsh]] when approximate recall is acceptable. The
    * arithmetic is the exact quantized integer math of the oracle:
    * dot and norms are BIGINT-exact, one IEEE double division at the
    * end. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    // tile sizing (round 20): [[corpusN]] IS the build side's exact row
    // count (the quantized, degenerate-filtered relation the tiles
    // collect), and it is already memoized per (session, snapshot) for
    // every ANN build — so the per-invocation raw-table count job this
    // used to run is gone, and the sizing got tighter, not looser.
    val n = corpusN(s, dir, Full)
    embeddingNearDupTiled(s, dir, tilesFor(n))
  }

  /** Tile count for an n-row build side, guarded by
    * [[MaxNearDupTiles]]: throws (with the q26 pointer) instead of
    * launching a quadratic job past the baseline's contract. */
  private[graft] def tilesFor(n: Long): Int = {
    val tiles = math.max(1L, (n + NearDupTileRows - 1) / NearDupTileRows).toInt
    require(tiles <= MaxNearDupTiles,
      s"embeddingNearDup is the exact all-pairs BASELINE (O(n²) compute): " +
        s"$n rows need $tiles tiles > MaxNearDupTiles=$MaxNearDupTiles. " +
        "Use annLsh (q26) for corpora of this size, or raise the cap deliberately.")
    tiles
  }

  /** [[embeddingNearDup]] with an explicit tile count (spec hook:
    * `SimilaritySpec` proves tiled ≡ untiled). */
  private[graft] def embeddingNearDupTiled(s: SparkSession, dir: String,
                                           tiles: Int): DataFrame = {
    import s.implicits._
    val e = quantized(s, dir)
      .select(col("vec_id"), col("q"), col("qn"))
      .as[(Long, Array[Long], Long)]
    // Round-20: the probe-side scan of this operator is quadratic CPU
    // per row (a |tile|-wide cosine loop), and the operator's own
    // contract caps the corpus (MaxNearDupTiles) — so its input scan
    // can legitimately have fewer partitions than cores at ANY
    // deployment. Fan the probe side out to the core count when (and
    // only when) the scan under-parallelizes: a few-MB keyless
    // round-robin exchange (deterministic — sortBeforeRepartition)
    // buys a cores-wide quadratic loop. Result order is fixed by the
    // final orderBy; pair production is row-independent.
    val cores = s.sparkContext.defaultParallelism
    val probeSide =
      if (e.rdd.getNumPartitions >= cores) e
      else e.repartition(cores).as[(Long, Array[Long], Long)]
    def pass(t: Int): DataFrame = {
      // one tile of the build side: bounded collect, bounded broadcast
      val block = e.filter(pmod(col("vec_id"), lit(tiles)) === t)
        .collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(block)
      val out = probeSide.mapPartitions { it =>
        val arr = bc.value
        it.flatMap { case (ida, qa, qna) =>
          arr.iterator
            .filter(_._1 > ida)
            .map { case (idb, qb, qnb) => (ida, idb, jcosine(qa, qna, qb, qnb)) }
            .filter(_._3 >= 0.4)
        }
      }.toDF("vec_a", "vec_b", "cos")
      if (tiles == 1) out // single broadcast: keep the plan fully lazy
      else {
        // run the pass now, keep only its (small) result, then release
        // this tile's broadcast before the next one is collected
        val kept = out.localCheckpoint(true)
        bc.destroy()
        kept
      }
    }
    (0 until tiles).map(pass).reduce(_ union _).orderBy("vec_a", "vec_b")
  }

  private[graft] val qListSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"

  // The oracles' IVF dialect, one definition of each fragment: plain
  // DuckDB text that names no Spark column and calls no Spark code, so
  // every oracle stays an independent derivation of its query. Vals
  // here precede the first oracle val that reads them (object init).

  /** The quantize prologue, [[quantizedFrom]]'s twin: `q` quantizes
    * each embedding, `n` adds the integer norm `qn` and drops the
    * zero-norm rows. */
  private val quantSql: String =
    s"""q AS (SELECT vec_id, $qListSql AS q FROM embeddings),
       |n AS (SELECT vec_id, q,
       |             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qn
       |      FROM q
       |      WHERE list_sum(list_transform(q, x -> x * x)) > 0)""".stripMargin

  /** The quantized cosine of vector columns `a` and `b` (norms `a`n,
    * `b`n), [[jcosine]]'s twin: an exact BIGINT dot, one IEEE
    * division. Printed as two lines starting at column `indent`. */
  private def qcosSql(a: String, b: String, indent: Int = 9): String = {
    val pad = " " * indent
    s"""${pad}CAST(CAST(list_inner_product($a, $b) AS BIGINT) AS DOUBLE)
       |$pad  / sqrt(CAST(${a}n AS DOUBLE) * CAST(${b}n AS DOUBLE))""".stripMargin
  }

  /** The route source over the bounded probe set `pset`, and the same
    * source printed with its `CROSS JOIN` on the next line. */
  private val ProbeRows = "n v JOIN pset ON v.vec_id = pset.vec_id"
  private val ProbeRowsWrapped = ProbeRows + "\n   "

  /** The IVF route as one CTE, [[routeCents]]' twin: `name` ranks every
    * row `v` (vec_id, q, qn) of `from` against `cents` by quantized
    * cosine, ties to the low cent_id, and keeps the ranks `bound`
    * admits (`= 1` is the inverted-list assignment, `<= k` a k-deep
    * route). Rows are keyed `vec_id`, or `probe_id` when `from` is
    * [[ProbeRows]]; `carry` adds `q`/`qn`, the probe's `pq`/`pqn`, or
    * `r`, the route rank. */
  private def routeSql(name: String, from: String, bound: String, carry: String*): String = {
    val probe = from.startsWith(ProbeRows)
    val outer = Seq(if (probe) "probe_id" else "vec_id", "cent_id") ++
      carry.map(c => if (c == "r") "rn AS r" else c)
    val inner = Seq(if (probe) "v.vec_id AS probe_id" else "v.vec_id", "c.cent_id") ++
      carry.collect {
        case c @ ("pq" | "pqn") => s"v.${c.tail} AS $c"
        case c if c != "r" => s"v.$c"
      }
    s"""$name AS (
       |  SELECT ${outer.mkString(", ")} FROM (
       |    SELECT ${inner.mkString(", ")},
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |${qcosSql("v.q", "c.cq", 13)} DESC,
       |             c.cent_id) AS rn
       |    FROM $from CROSS JOIN cents c) t
       |  WHERE rn $bound)""".stripMargin
  }

  /** The flat and residual PQ codes of each vector (`enc`, `renc`) as
    * comma-joined strings `ck`, the census checksum key. */
  private def codeKeysSql: String =
    """ecodes AS (
      |  SELECT vec_id, array_to_string(list(code ORDER BY sub), ',') AS ck
      |  FROM enc GROUP BY vec_id),
      |rcodes AS (
      |  SELECT vec_id, array_to_string(list(code ORDER BY sub), ',') AS ck
      |  FROM renc GROUP BY vec_id)""".stripMargin

  val embeddingNearDupSql: String = mat(
    s"""WITH $quantSql,
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |             CAST(list_inner_product(a.q, b.q) AS BIGINT) AS dot,
       |             a.qn AS qna, b.qn AS qnb
       |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |       CAST(dot AS DOUBLE) / sqrt(CAST(qna AS DOUBLE) * CAST(qnb AS DOUBLE)) AS cos
       |FROM p
       |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(qna AS DOUBLE) * CAST(qnb AS DOUBLE)) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin)

  /** Brute-force cosine top-k: 5 nearest neighbours for each probe
    * ([[boundedProbes]] — vec_id ≡ 0 mod 100, capped at [[MaxProbes]]),
    * ties broken by vec_id. The bounded probe set is broadcast against
    * the full table — the fact side never shuffles for the join; only
    * (probes·k) rows reach the window sort. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = quantized(s, dir)
    // round-20: the probe side reads the memoized bounded probe set
    // (identical rows to boundedProbes(e)) as a local relation — the
    // per-invocation corpus scan + TakeOrdered that only re-derived
    // constant driver state disappears; the broadcast and the
    // never-shuffled fact side are unchanged
    val probes = pqProbes(s, dir).toSeq.toDF("probe_id", "qa", "qna")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
      .withColumn("cos", qcosineNative(col("qa"), col("q"), col("qna"), col("qn")))
      // shed the vector arrays BEFORE the window: the rank shuffle+sort
      // should carry 24-byte rows, not ~1 KB of array payload per row
      .select(col("probe_id"), col("vec_id"), col("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The WRITTEN exact-top-5 ground-truth table (`exacttopk`) — q25's
    * result materialized once per snapshot (round-10, verdict item 7:
    * every recall harness — q96/q97/q98/q107 — recomputed the
    * probes×corpus exact scan on EVERY run, so the measurement
    * harnesses cost a multiple of the operators they measure; q107
    * alone was 10× the median query). Ground truth is a pure function
    * of the snapshot, exactly like the IVF/PQ index tables, so it
    * belongs in the same once-per-snapshot artifact family: the
    * harnesses read ≤ 5·[[MaxProbes]] slim rows instead of re-scanning
    * the corpus, and at 100 TB the (expensive, exact) baseline is
    * priced once per snapshot build, never per recall query. Results
    * are bit-identical by construction — same deterministic query, one
    * write — and the oracle twins keep recomputing it inline, so the
    * driver gate itself proves written == recomputed every round. */
  private[graft] def exactTopKTable(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "exacttopk") { cosineTopK(s, dir) }

  val cosineTopKSql: String = mat(
    s"""WITH $quantSql,
       |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
       |         ORDER BY vec_id LIMIT $MaxProbes),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
       |${qcosSql("p.q", "c.q")} AS cos
       |  FROM n p JOIN pset ON p.vec_id = pset.vec_id
       |  JOIN n c ON p.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT probe_id, vec_id, cos, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin)

  /** LSH-bucketed approximate near-dup: candidates must share one of 4
    * 8-bit sign-hyperplane bucket bytes; exact (quantized) cosine ≥ 0.4
    * to emit. Output is a subset of [[embeddingNearDup]] — the recall
    * gap is the documented price of replacing the n² pair join with an
    * equi-join (tune planes-per-band down / bands up for recall).
    *
    * Plan shape: one codegen'd map stage computes all 32 projections as
    * statically unrolled ±element_at sums (the ±1 plane weights are
    * compile-time constants) and packs them into 4 band buckets; the
    * only shuffles are the band self-join and the final sort. No
    * per-row array lambdas, no plane-table join, no aggregation before
    * candidate generation. */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshCapped(s, dir, Dedup.MaxLshBucket)

  /** [[annLsh]] with an explicit bucket cap (spec hook): buckets with
    * more than `bucketCap` members are dropped whole before the band
    * self-join, exactly like q21's [[Dedup.MaxLshBucket]] — an 8-bit
    * band bucket holding m vectors yields m² candidates, so one
    * degenerate bucket (e.g. a constant embedding region) would own
    * the join. Never fires on the testdata; `SimilaritySpec` forces
    * it with cap=1. */
  private[graft] def annLshCapped(s: SparkSession, dir: String,
                                  bucketCap: Int): DataFrame = {
    import s.implicits._
    val e = quantized(s, dir)
    // The 32 sign projections are per-row arithmetic against constant
    // weights — a tight mapPartitions loop, not a dataflow problem. The
    // earlier formulations were both wrong for this: an exploded
    // plane-table join shuffled n·dim·planes rows through two groupBys,
    // and a statically-unrolled 2048-term Column expression spent
    // seconds per execution in Catalyst tree transforms alone. Long
    // arithmetic is exact either way, so results are identical.
    val nBands = Planes / BandBits
    val bands = e.select(col("vec_id"), col("q")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, q) =>
          (0 until nBands).iterator.map { b =>
            var bucket = 0L
            var k = 0
            while (k < BandBits) {
              if (jdot(planeWeights(b * BandBits + k), q) >= 0) bucket |= 1L << k
              k += 1
            }
            (id, b, bucket)
          }
        }
      }.toDF("vec_id", "band", "bucket")
      // barrier on the join key: the 32-projection loop ran once per
      // join side without it; one slim exchange now serves the bucket
      // count and both sides, and the self-join is co-partitioned
      .repartition(col("band"), col("bucket"))

    // shared hot-bucket cap — same m² hazard and same remedy as the
    // q21/q22 band joins; the ALIGNED form keeps vec_id referenced in
    // the hot count so its copy of the barrier canonicalizes with the
    // join sides' full-width copies (one exchange, one projection pass)
    val kept = Dedup.dropHotBucketsAligned(bands, bucketCap,
      "graft.cap(band,bucket)",
      Some(pmod(xxhash64(col("vec_id")), lit(1)) === 0),
      "band", "bucket")

    val cand = kept.as("a").join(kept.as("b"), Seq("band", "bucket"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b")

    cand
      .join(e.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("qn").as("qna")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("qn").as("qnb")), Seq("vec_b"))
      .withColumn("cos", qcosineNative(col("qa"), col("qb"), col("qna"), col("qnb")))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  val annLshSql: String = mat(
    s"""WITH $quantSql,
       |planes AS (
       |  SELECT j.b AS j, i.b AS i,
       |         1 - 2 * (CAST('0x' || substr(md5('p' || CAST(j.b AS VARCHAR) || '_'
       |                  || CAST(i.b AS VARCHAR)), 1, 8) AS BIGINT) & 1) AS w
       |  FROM range(0, $Planes) j(b) CROSS JOIN range(1, ${Dim + 1}) i(b)),
       |proj AS (
       |  SELECT n.vec_id, p.j, sum(p.w * n.q[p.i]) AS pr
       |  FROM n CROSS JOIN planes p
       |  GROUP BY 1, 2),
       |buckets AS (
       |  SELECT vec_id, j // $BandBits AS band,
       |         sum(CASE WHEN pr >= 0 THEN 1 << (j % $BandBits) ELSE 0 END) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id),
       |p AS (
       |  SELECT vec_a, vec_b,
       |         CAST(list_inner_product(na.q, nb.q) AS BIGINT) AS dot,
       |         na.qn AS qna, nb.qn AS qnb
       |  FROM cand JOIN n na ON na.vec_id = vec_a JOIN n nb ON nb.vec_id = vec_b)
       |SELECT vec_a, vec_b,
       |       CAST(dot AS DOUBLE) / sqrt(CAST(qna AS DOUBLE) * CAST(qnb AS DOUBLE)) AS cos
       |FROM p
       |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(qna AS DOUBLE) * CAST(qnb AS DOUBLE)) >= 0.4
       |ORDER BY vec_a, vec_b""".stripMargin)

  /** IVF-style ANN: a coarse quantizer partitions vectors into inverted
    * lists (assignment = nearest centroid by exact quantized cosine,
    * ties to the lowest centroid id); a query probes its nprobe=2
    * nearest centroids and searches only those lists.
    *
    * Centroids are k-means TRAINED ([[lloydCents]]): seeds = the
    * [[ivfKOf]]-many smallest-hash sample rows, then [[LloydIters]]
    * deterministic spherical-Lloyd iterations over the bounded
    * [[trainNOf]] sample — the offline training step of a
    * production IVF build, integer-deterministic so the oracle
    * re-derives it in SQL. K and the sample are constants, never a
    * fraction of the table: training is a TakeOrdered collect, so
    * driver memory AND the per-row assignment cost (K dot products)
    * are independent of corpus size. The INDEX STRUCTURE and query
    * path are shaped exactly like a production IVF build: the coarse
    * quantizer is broadcast; list assignment is one map-only stage of
    * n·K integer dot products (no shuffle of the vectors, no
    * aggregation — earlier window/argmax formulations shuffled the
    * vector payload and cost ~10× the arithmetic); probe routing is
    * driver-side over the same broadcast quantizer. At 100 TB the
    * inverted lists are a partitioning of the table by cent_id and each
    * query touches nprobe/K of the data. Recall vs q25 (brute force) is
    * the tunable nprobe tradeoff. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = quantized(s, dir)

    // coarse quantizer: k-means trained over the bounded sample (a
    // TakeOrdered — trainNOf rows collected), constant-size at any
    // corpus scale; q83 serves the same centroids from its written
    // table (the q83 == q37 oracle identity)
    val cents = lloydCents(trainSample(s, dir, Full), ivfK(s, dir, Full)).sortBy(_._1)
    // inverted-list assignment: map-only, nearest (nprobe=1) centroid
    val assign = assignDf(e, s.sparkContext.broadcast(cents))

    // query path: probes route DISTRIBUTED against the broadcast
    // quantizer (routeProbesDf — map-side argmin, zero driver
    // transit) and join the assignment as a broadcast relation; the
    // bounded probe set keeps the broadcast small, but nothing here
    // depends on the bound — an unbounded probe stream routes the
    // same way (the pruning-literal collect of q83 does not exist on
    // this inline path)
    val probes = routeProbesDf(boundedProbes(e), cents, 2).drop("r")

    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    assign.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", qcosineNative(col("pq"), col("q"), col("pqn"), col("qn")))
      .select(col("probe_id"), col("vec_id"), col("cos")) // arrays off the sort
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** SQL fragment: the bounded hash-ordered Lloyd-training sample
    * over `src` (which must expose vec_id, q, qn) — the exact twin of
    * [[trainSampleFrom]]. `srn` (the hash rank) rides along so the
    * seed CTEs can take prefixes. */
  private def sampSql(src: String): String =
    s"""samp AS (
       |  SELECT vec_id, q, qn, srn FROM (
       |    SELECT vec_id, q, qn,
       |           row_number() OVER (ORDER BY
       |             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |             vec_id) AS srn
       |    FROM $src) t
       |  WHERE srn <= ${trainNSql(src)})""".stripMargin

  /** One Lloyd iteration of the coarse quantizer in SQL (twin of the
    * [[lloydCents]] loop body): assign the sample by cosine (ties low
    * cent_id), floor(mean) update per dimension, empty/zero-norm
    * clusters keep the previous centroid. */
  private def lloydCentIterSql(k: Int): String = {
    val prev = s"c${k - 1}"
    s"""ca$k AS (
       |  SELECT vec_id, q, cent_id FROM (
       |    SELECT s.vec_id, s.q, c.cent_id,
       |           row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |${qcosSql("s.q", "c.cq", 13)} DESC,
       |             c.cent_id) AS rn
       |    FROM samp s CROSS JOIN $prev c) t
       |  WHERE rn = 1),
       |cm$k AS (
       |  SELECT cent_id, i.i AS i,
       |         CAST(floor(CAST(sum(q[i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS v
       |  FROM ca$k CROSS JOIN range(1, ${Dim + 1}) i(i)
       |  GROUP BY cent_id, i.i),
       |cl$k AS (SELECT cent_id, list(v ORDER BY i) AS cq FROM cm$k GROUP BY cent_id),
       |c$k AS (
       |  SELECT cent_id, cq,
       |         CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cqn
       |  FROM (
       |    SELECT p.cent_id,
       |           CASE WHEN u.cq IS NULL
       |                  OR list_sum(list_transform(u.cq, x -> x * x)) = 0
       |                THEN p.cq ELSE u.cq END AS cq
       |    FROM $prev p LEFT JOIN cl$k u ON u.cent_id = p.cent_id) t)""".stripMargin
  }

  /** SQL fragment chain producing `cents(cent_id, cq, cqn)` — seeds =
    * the first [[ivfKOf]]-many sample rows (the clamp runs in SQL
    * over `src`'s realized count, [[ivfKSql]]), then [[LloydIters]]
    * unrolled iterations (requires `samp`). `src` must be the SAME
    * relation `samp` was drawn from. */
  private def trainedCentsSql(src: String): String = {
    val iters = (1 to LloydIters).map(lloydCentIterSql).mkString(",\n")
    s"""c0 AS (SELECT vec_id AS cent_id, q AS cq, qn AS cqn FROM samp
       |        WHERE srn <= ${ivfKSql(src)}),
       |$iters,
       |cents AS (SELECT cent_id, cq, cqn FROM c$LloydIters)""".stripMargin
  }

  /** The held quantizer of the append, delete and lifecycle oracles:
    * `cents` trained on the standing corpus `corp` (vec_id ≢ 0 mod 5,
    * the [[Standing]] corpus). */
  private def heldCentsSql: String =
    s"""corp AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
       |${sampSql("corp")},
       |${trainedCentsSql("corp")}""".stripMargin

  /** One per-subspace Lloyd iteration of the PQ codebook in SQL (twin
    * of the [[lloydCodebook]] loop body): squared-L2 assignment (ties
    * low code), floor(mean) update, empty codes keep their previous
    * codeword. `src` is the training relation (vec_id, q, srn); `pfx`
    * namespaces the CTEs so the flat (`p…`) and residual (`rp…`)
    * chains can coexist in one oracle (q96). */
  private def lloydCbIterSql(k: Int, src: String, pfx: String): String = {
    val prev = s"${pfx}pcb${k - 1}"
    s"""${pfx}pa$k AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT s.vec_id, c.sub, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, c.sub ORDER BY
       |             list_sum(list_transform(generate_series(1, $PqDim),
       |               i -> (s.q[c.sub*$PqDim+i] - c.cq[i]) * (s.q[c.sub*$PqDim+i] - c.cq[i]))),
       |             c.code) AS rn
       |    FROM $src s CROSS JOIN $prev c) t
       |  WHERE rn = 1),
       |${pfx}pm$k AS (
       |  SELECT a.sub, a.code, i.i AS i,
       |         CAST(floor(CAST(sum(s.q[a.sub*$PqDim + i.i]) AS DOUBLE) / count(*)) AS BIGINT) AS v
       |  FROM ${pfx}pa$k a JOIN $src s ON s.vec_id = a.vec_id
       |  CROSS JOIN range(1, ${PqDim + 1}) i(i)
       |  GROUP BY a.sub, a.code, i.i),
       |${pfx}pl$k AS (SELECT sub, code, list(v ORDER BY i) AS cq FROM ${pfx}pm$k GROUP BY sub, code),
       |${pfx}pcb$k AS (
       |  SELECT p.sub, p.code, COALESCE(u.cq, p.cq) AS cq
       |  FROM $prev p LEFT JOIN ${pfx}pl$k u ON u.sub = p.sub AND u.code = p.code)""".stripMargin
  }

  /** SQL fragment chain producing `${out}(sub, code, cq)` — a trained
    * PQ codebook over `src` (vec_id, q, srn): seeds = the
    * [[pqKOf]]-many smallest-hash rows' subvectors (the clamp runs in
    * SQL over `samp`'s realized count), code = 1-based rank by seed
    * vec_id, then [[LloydIters]] unrolled per-subspace iterations.
    * The flat chain is `cbSqlChain("samp", "p", "cb")`; the residual
    * chain (q93/q96) is `cbSqlChain("rsamp", "rp", "rcb")`. */
  private def cbSqlChain(src: String, pfx: String, out: String): String = {
    val iters = (1 to LloydIters).map(lloydCbIterSql(_, src, pfx)).mkString(",\n")
    s"""${pfx}0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code, q
       |  FROM $src WHERE srn <= $pqKSql),
       |${pfx}pcb0 AS (
       |  SELECT s.s AS sub, ${pfx}0.code, list_slice(${pfx}0.q, s.s*$PqDim+1, s.s*$PqDim+$PqDim) AS cq
       |  FROM ${pfx}0 CROSS JOIN range(0, $PqSubs) s(s)),
       |$iters,
       |$out AS (SELECT sub, code, cq FROM ${pfx}pcb$LloydIters)""".stripMargin
  }

  private def trainedCbSql: String = cbSqlChain("samp", "p", "cb")

  /** SQL fragment: per-subspace nearest-code encoding of `src`
    * (vec_id, q) against the trained codebook `cbRel` (ties to the
    * LOW code — the twin of [[pqCodesTable]]'s encode loop). Shared
    * by the PQ oracles (q90/q93/q96/q98) so the encoding definition
    * cannot drift; q93 instantiates it over the residual relation. */
  private def pqEncSqlOver(src: String, cbRel: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, c.sub, c.code,
       |           row_number() OVER (PARTITION BY v.vec_id, c.sub ORDER BY
       |             list_sum(list_transform(generate_series(1, $PqDim),
       |               i -> (v.q[c.sub*$PqDim+i] - c.cq[i]) * (v.q[c.sub*$PqDim+i] - c.cq[i]))),
       |             c.code) AS rn
       |    FROM $src v CROSS JOIN $cbRel c) t WHERE rn = 1)""".stripMargin

  private def pqEncSql: String = pqEncSqlOver("n", "cb", "enc")

  /** SQL fragment: the probes' per-(sub, code) exact-integer squared-L2
    * ADC lookup tables (twin of [[adcTable]]; requires `pset` and
    * `cb`). Shared by the same four PQ oracles. */
  private def pqPdistSql: String =
    s"""pdist AS (
       |  SELECT p.vec_id AS probe_id, c.sub, c.code,
       |         CAST(list_sum(list_transform(generate_series(1, $PqDim),
       |           i -> (p.q[c.sub*$PqDim+i] - c.cq[i]) * (p.q[c.sub*$PqDim+i] - c.cq[i]))) AS BIGINT) AS d
       |  FROM n p JOIN pset ON p.vec_id = pset.vec_id CROSS JOIN cb c)""".stripMargin

  /** SQL fragment: full-corpus ADC scoring of every (probe, vector)
    * pair via per-probe LOOKUP LISTS instead of an (enc ⋈ pdist)
    * expand + re-group (round-16: the group-by hashed #probes ×
    * #vectors × subs rows — the dominant q96 oracle cost at sf1,
    * 5.0 → 1.3 s from this rewrite).
    * `pdist` pivots once into O(#probes · subs) rows each holding a
    * codes-length list ordered by code, and each pair's distance is
    * direct list indexing — value-identical because codes are the
    * consecutive 1-based codebook indices the `dl` lists are ordered
    * by. Requires `enc` (vec_id, sub, code) and `pdist`; emits
    * `<out>` (probe_id, vec_id, adist). */
  private def adcScoredSql(out: String): String =
    s"""ecl AS (
       |  SELECT vec_id, list(code ORDER BY sub) AS codes
       |  FROM enc GROUP BY 1),
       |pdl AS (
       |  SELECT probe_id, sub, list(d ORDER BY code) AS dl
       |  FROM pdist GROUP BY 1, 2),
       |pdls AS (
       |  SELECT probe_id, list(dl ORDER BY sub) AS dls FROM pdl GROUP BY 1),
       |$out AS (
       |  SELECT p.probe_id, v.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, $PqSubs),
       |           s -> p.dls[s][v.codes[s]])) AS BIGINT) AS adist
       |  FROM ecl v CROSS JOIN pdls p
       |  WHERE v.vec_id <> p.probe_id)""".stripMargin

  /** The q37/q83 oracle parameterized on the probe-set size: q37/q83
    * run the full bounded sample ([[MaxProbes]]); q113 is the SAME
    * derivation at limit 1 — the single-probe production point
    * lookup, so the gate proves the point path == the batch path
    * restricted to one probe. */
  private def annIvfSqlFor(probeLimit: Int): String = mat(
    s"""WITH $quantSql,
       |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
       |         ORDER BY vec_id LIMIT $probeLimit),
       |$fullQuantAssignSql,
       |${routeSql("probes", ProbeRowsWrapped, "<= 2", "pq", "pqn")},
       |scored AS (
       |  SELECT p.probe_id, a.vec_id,
       |${qcosSql("p.pq", "a.q")} AS cos
       |  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
       |  WHERE a.vec_id <> p.probe_id),
       |ranked AS (
       |  SELECT probe_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT probe_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin)

  val annIvfSql: String = annIvfSqlFor(MaxProbes)

  /** The q113 oracle: one probe, nprobe = 2 — [[annIvfSqlFor]](1). */
  val annPointSql: String = annIvfSqlFor(1)

  /** q113: the production point-lookup shape as a GATED query — one
    * external probe over the written index at nprobe = 2 (the regime
    * where planning-time bucket pruning is visible: SelectedBucketsCount
    * 2 of 8 at sf1). Oracle = the q37 derivation
    * restricted to the same single probe, so the gate proves the
    * point path returns exactly what the batch path would for that
    * probe. */
  def annPointLookup(s: SparkSession, dir: String): DataFrame =
    ivfPointQuery(s, dir, 2)

  /** Typed `Aggregator[IN, BUF, OUT]` top-k: the custom-UDAF extension
    * route (SURVEY.md §7.3) — a bounded k-element buffer per group, so
    * the shuffle carries at most k (id, cos) pairs per probe from each
    * map-side partial, where the q25 window formulation shuffles every
    * scored row. Selection is deterministic: exact doubles with a
    * total (cos desc, vec_id asc) order; merge order cannot change a
    * top-k set. */
  object TopKCos extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    private val K = 5
    // cos desc, id asc as a TOTAL ordering (NaN-safe — sortWith on a
    // non-total predicate can throw or order nondeterministically)
    private val ord: Ordering[(Long, Double)] = new Ordering[(Long, Double)] {
      def compare(a: (Long, Double), b: (Long, Double)): Int = {
        val c = java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    override def zero: Seq[(Long, Double)] = Nil
    // Round-19: reduce used to append + full-sort + take on EVERY row
    // (an allocation and a 6-element sort per scored candidate). With
    // the buffer kept sorted (best first), a row that does not beat
    // the current k-th is a no-op — the overwhelmingly common case —
    // and the top-k SET is unchanged either way (ord is total, so
    // "not better than the worst kept" ⇔ "sorted position ≥ K").
    override def reduce(buf: Seq[(Long, Double)], x: (Long, Double)): Seq[(Long, Double)] =
      if (buf.lengthCompare(K) >= 0 && ord.compare(x, buf(K - 1)) >= 0) buf
      else (buf :+ x).sorted(ord).take(K)
    override def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      (a ++ b).sorted(ord).take(K)
    override def finish(r: Seq[(Long, Double)]): Seq[(Long, Double)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** q25's semantics through the typed-Aggregator route (same probes,
    * same scores, same oracle) — window-rank vs bounded-buffer
    * aggregation cross-validate each other, and at 100 TB the
    * aggregation form wins: per-partition partial top-k means the
    * exchange moves O(probes · k) rows instead of O(probes · n). */
  def cosineTopKAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = udaf(TopKCos)
    val e = quantized(s, dir)
    // round-20: memoized probe set as a local relation (see cosineTopK)
    val probes = pqProbes(s, dir).toSeq.toDF("probe_id", "qa", "qna")
    e.join(broadcast(probes), col("probe_id") =!= col("vec_id"))
      .withColumn("cos", qcosineNative(col("qa"), col("q"), col("qna"), col("qn")))
      .groupBy(col("probe_id"))
      .agg(tk(col("vec_id"), col("cos")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._1").as("vec_id"),
        col("col._2").as("cos"), (col("pos") + 1).cast(IntegerType).as("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The written coarse quantizer (q83's `ivfcents` snapshot table,
    * `ivfcentsbase` for the [[Standing]] corpus): k-means-TRAINED
    * centroids ([[lloydCents]] over the corpus's bounded sample),
    * built once per snapshot inside the table builder, then collected
    * to the K-row driver array — the only collect in the ANN index
    * path, constant-size at any corpus scale. */
  private[graft] def ivfCents(s: SparkSession, dir: String,
      c: Corpus): Array[(Long, Array[Long], Long)] = {
    import s.implicits._
    // memoized per (session, corpus, snapshot) — round 20: the K-row
    // collect of an immutable snapshot table ran as a job in EVERY ANN
    // query invocation (q37/q83/q93/q96/q97/q98/q107/q113…); the
    // quantizer is constant-size driver state exactly like
    // [[trainSample]]'s memo
    SnapMemo(s, dir, "ivfCents" + c.suffix) {
      Layout.materializedTable(s, dir, "ivfcents" + c.suffix) {
        lloydCents(trainSample(s, dir, c), ivfK(s, dir, c)).toSeq
          .toDF("vec_id", "q", "qn")
      }.as[(Long, Array[Long], Long)].collect().sortBy(_._1)
    }
  }

  /** The written inverted-list assignment (q83's `ivfassign` snapshot
    * table, BUCKETED by cent_id): every vector routed to its single
    * nearest centroid (cos desc, ties to the low cent_id) in one
    * map-only pass over the broadcast quantizer. Shared by the q83
    * query path and q86's within-cluster semantic dedup — the one
    * index serves both workloads, exactly as a production deployment
    * would run it. The [[Standing]] corpus's `ivfassignbase` is the
    * standing assignment q91 probes at ingest time. */
  private[graft] def ivfAssignTable(s: SparkSession, dir: String,
      c: Corpus): DataFrame = {
    val cents = ivfCents(s, dir, c)
    Layout.materializedTable(s, dir, "ivfassign" + c.suffix,
        Some((Layout.Buckets, Seq("cent_id")))) {
      assignDf(c.rows(quantized(s, dir)), s.sparkContext.broadcast(cents))
    }
  }

  /** q83: IVF over a WRITTEN index — the ANN family's snapshot
    * artifact, parallel to the dedup family's written pair graph
    * (q82). The coarse quantizer (K rows) and the inverted-list
    * assignment (vec_id, cent_id, q, qn) are warehouse tables
    * produced once per corpus snapshot via
    * [[graft.sources.Layout.materializedTable]], the assignment
    * BUCKETED by cent_id; the query path reads ONLY the tables — no
    * quantization loop, no corpus scan — and the explicit
    * `cent_id IN (probed)` filter prunes buckets at planning time
    * (SelectedBucketsCount < total, pinned in `SimilaritySpec`), the
    * literal "each query touches nprobe/K of the data" claim made
    * physical. ORACLE: q37's SQL verbatim — the gate proves
    * index-backed == inline rebuild. */
  /** The shared front half of q83 and q97: takes the bounded probe
    * set off the written index (zero query-time quantization —
    * production quantizes external queries client-side) and routes
    * each probe to its `maxNprobe` nearest cells DISTRIBUTED
    * ([[routeProbesDf]] — the probes never transit the driver), route
    * rank retained. Returns the bucketed assignment, the routed probe
    * relation and the probed cell ids — the ONE driver-side datum,
    * a ≤ [[IvfKMax]]-element distinct list that becomes the
    * planning-time bucket-pruning literals. */
  private def ivfRoutedProbes(s: SparkSession, dir: String, maxNprobe: Int)
      : (DataFrame, DataFrame, Seq[Long], Long) = {
    val cents = ivfCents(s, dir, Full)
    val assign = ivfAssignTable(s, dir, Full)
    val routed = routeProbesDf(boundedProbes(assign), cents, maxNprobe)
    // ONE bounded auxiliary action serves both driver-side needs: the
    // ≤ K distinct probed cells (pruning literals) and the probe
    // count (q97's n_probes literal) — no extra scan in the query plan
    val row = routed
      .agg(collect_set(col("cent_id")).as("cells"),
        count_distinct(col("probe_id")).as("np"))
      .head()
    (assign, routed, row.getSeq[Long](0).sorted, row.getLong(1))
  }

  /** The shared back half of q83 and q97: prunes the bucketed
    * assignment to the probed cells, broadcast-joins the routed
    * probes on cent_id, scores the native quantized cosine and ranks
    * top-5 per (groupCols..., probe). q83 instantiates it with no
    * group column; q97 groups by the nprobe level — so the
    * q97@nprobe=2 == q83 identity holds by construction, not just
    * numerically. */
  private def ivfTop5(assign: DataFrame, probes: DataFrame,
      probedCents: Seq[Long], groupCols: Seq[String]): DataFrame = {
    val wTop = Window.partitionBy((groupCols :+ "probe_id").map(col): _*)
      .orderBy(col("cos").desc, col("vec_id"))
    assign
      .filter(col("cent_id").isin(probedCents: _*)) // bucket pruning
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", qcosineNative(col("pq"), col("q"), col("pqn"), col("qn")))
      .select((groupCols ++ Seq("probe_id", "vec_id", "cos")).map(col): _*)
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
  }

  def annIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val (assign, routed, probedCents, _) = ivfRoutedProbes(s, dir, 2)
    ivfTop5(assign, routed.drop("r"), probedCents, Nil)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** PRODUCTION-REGIME point lookup (round-10 item 5, verdict finding
    * #3): ONE probe routed `nprobe` cells deep over the written index
    * — q83's exact plan shape with a single-vector probe set. The
    * per-round q83 gate routes the whole [[MaxProbes]] sample at once,
    * so its cell-id literals cover every bucket and
    * `SelectedBucketsCount` shows "8 out of 8" — which reads as "no
    * pruning" when it actually means "union of 400 cells". The
    * production regime is THIS shape: one external query, nprobe ≪ K,
    * ≤ nprobe cell literals → the scan provably skips buckets. */
  private[graft] def ivfPointQuery(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    val cents = ivfCents(s, dir, Full)
    val assign = ivfAssignTable(s, dir, Full)
    val probe = boundedProbes(assign).orderBy(col("vec_id")).limit(1)
    val routed = routeProbesDf(probe, cents, nprobe).drop("r")
    val probedCents = routed.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    ivfTop5(assign, routed, probedCents, Nil)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** PQ geometry (q90): [[PqSubs]] subspaces of [[PqDim]] dims each
    * (8×8 = the 64-dim embedding), [[pqKOf]] codes per subspace — a
    * vector compresses to 8 small ints, the 100 TB ANN memory story
    * (Jégou et al., TPAMI 2011: 256 B of floats → 8 B of codes). */
  private[graft] val PqSubs = 8
  private[graft] val PqDim = 8

  /** The TRAINED PQ codebook: per subspace, [[pqKOf]](sample) codewords
    * k-means trained ([[LloydIters]] iterations, squared-L2) over the
    * bounded sample — seeds are the smallest-hash vectors' subvectors
    * (the previous stand-ins), code = 1-based rank of the seed's
    * vec_id. Returned in the concatenated layout the encode/ADC loops
    * index — entry c's array sliced at [sub·PqDim, sub·PqDim+PqDim) is
    * subspace `sub`'s codeword for code c+1 (subspaces train
    * independently on the SAME seeds, so the layout holds). A
    * bounded-size driver array at any corpus scale (≤ 256 rows), and
    * the codebook array's LENGTH is the realized pqK — every encode /
    * ADC consumer sizes its loops from `train.length`, so the Scala
    * and SQL sides cannot disagree on capacity. MEMOIZED per
    * (session, corpus, snapshot) like [[trainSample]]: at pqK 256 a
    * Lloyd run costs ~10⁸ integer ops, and six queries retrain the
    * identical codebook without the memo. */
  private[graft] def pqTrain(s: SparkSession, dir: String,
      c: Corpus): Array[(Long, Array[Long])] =
    SnapMemo(s, dir, "pqTrain" + c.suffix) {
      val smp = trainSample(s, dir, c)
      lloydCodebook(smp, pqKOf(smp.length))
    }

  /** Per-subspace squared-L2 k-means over the sample (assignment ties
    * to the LOW code — the SQL twin's (dist, code) row_number order;
    * update = element-wise floor(mean); empty code keeps its previous
    * codeword). */
  private[graft] def lloydCodebook(
      sample: Array[(Long, Array[Long], Long)],
      pqK: Int, iters: Int = LloydIters): Array[(Long, Array[Long])] = {
    val seeds = sample.take(pqK).map { case (id, q, _) => (id, q) }
    // the encode/ADC loops index cb(0..PqK-1) unconditionally; a
    // corpus with fewer than PqK non-degenerate vectors must fail
    // HERE with a diagnosis, not as an ArrayIndexOutOfBounds deep in
    // a partition loop (the SQL oracle's LIMIT would degrade
    // silently, masking the mismatch)
    require(seeds.length == pqK,
      s"PQ codebook needs >= $pqK non-degenerate vectors; corpus has ${seeds.length}")
    val cb = seeds.sortBy(_._1).map { case (id, q) => (id, q.clone()) }
    var sub = 0
    while (sub < PqSubs) {
      var iter = 0
      while (iter < iters) {
        val counts = new Array[Long](pqK)
        val sums = Array.fill(pqK)(new Array[Long](PqDim))
        var si = 0
        while (si < sample.length) {
          val q = sample(si)._2
          val best = nearestCode(q, sub, cb)
          counts(best) += 1
          var i = 0
          while (i < PqDim) { sums(best)(i) += q(sub * PqDim + i); i += 1 }
          si += 1
        }
        var c = 0
        while (c < pqK) {
          if (counts(c) > 0L) {
            var i = 0
            while (i < PqDim) {
              cb(c)._2(sub * PqDim + i) =
                math.floor(sums(c)(i).toDouble / counts(c)).toLong
              i += 1
            }
          }
          c += 1
        }
        iter += 1
      }
      sub += 1
    }
    cb
  }

  /** The WRITTEN PQ code table (vec_id, codes[8]; `pqcodes`, or
    * `pqcodesbase` over the [[Standing]] corpus) — the snapshot
    * artifact of the compression: one map-only encode pass per corpus
    * snapshot (n·K·Dim integer ops against the broadcast codebook),
    * after which query-time scoring touches ONLY 8 small ints per
    * vector, never the 64-dim payload. */
  private[graft] def pqCodesTable(s: SparkSession, dir: String,
      c: Corpus): DataFrame = {
    import s.implicits._
    Layout.materializedTable(s, dir, "pqcodes" + c.suffix) {
      val bc = s.sparkContext.broadcast(pqTrain(s, dir, c))
      c.rows(quantized(s, dir))
        .select(col("vec_id"), col("q")).as[(Long, Array[Long])]
        .mapPartitions { it =>
          val cb = bc.value
          it.map { case (id, q) => (id, pqEncode(q, cb).toSeq) }
        }.toDF("vec_id", "codes")
    }
  }

  /** Per-subspace nearest-code assignment of one vector against a
    * codebook (strict < keeps the LOWEST code on ties — the SQL
    * twin's (dist, code) row_number order); 1-based codes, matching
    * row_number. Shared by the flat (q90) and residual (q93) encode
    * passes. */
  private[graft] def pqEncode(q: Array[Long], cb: Array[(Long, Array[Long])]): Array[Int] = {
    val cs = new Array[Int](PqSubs)
    var sub = 0
    while (sub < PqSubs) {
      cs(sub) = nearestCode(q, sub, cb) + 1
      sub += 1
    }
    cs
  }

  /** The 0-based index of `cb`'s codeword nearest to `q`'s subspace
    * `sub` by exact squared L2; strict < keeps the LOWEST code on ties.
    * The one nearest-code loop of the codebook trainer and the
    * encoder. */
  private def nearestCode(q: Array[Long], sub: Int, cb: Array[(Long, Array[Long])]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < cb.length) {
      var d = 0L; var i = 0
      while (i < PqDim) {
        val diff = q(sub * PqDim + i) - cb(c)._2(sub * PqDim + i)
        d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** q90: product-quantization ANN with asymmetric-distance (ADC)
    * scoring — the memory-bound regime's answer where IVF (q37/q83)
    * is the compute-bound one: the corpus lives as 8 one-byte-scale
    * codes per vector (a WRITTEN table), and a query scores a vector
    * with 8 table lookups instead of 64 multiplies. The probe's
    * (sub × code) distance table (exact integer squared-L2
    * against the codebook) is computed once per probe on the driver
    * and broadcast; scoring is one map-only pass over the code table;
    * only (probe_id, vec_id, adist) slim rows reach the top-k window
    * (the q25 lesson). Everything is BIGINT-exact end to end — adist
    * has no float at all, so ranking is bit-stable under any
    * partitioning and the DuckDB oracle (which re-derives codebook,
    * encoding and ADC tables in SQL) hash-matches exactly. Recall vs
    * exact search is the documented quantization trade (the PQ paper's
    * ADC bound); candidates can be re-ranked exactly like q83 if
    * needed. */
  def pqAdc(s: SparkSession, dir: String): DataFrame =
    pqAdcRanked(s, dir, pqProbes(s, dir))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"), col("adist"), col("rnk"))
      .orderBy("probe_id", "rnk")

  /** The bounded probe set with vectors + norms, MEMOIZED per
    * (session, snapshot) — round-20 second pass: like [[trainSample]]/
    * [[ivfCents]]/[[corpusN]], the probe set is a pure bounded function
    * of the immutable snapshot (vec_id ≡ 0 mod 100, TakeOrdered ≤
    * [[MaxProbes]] rows), and its collect ran as a ~150 ms job in EVERY
    * invocation of the q90/q92/q96/q97/q107 harness family. One scan
    * per snapshot now serves them all; constant driver memory. The
    * memo key names no corpus: probes are drawn from the full corpus
    * whichever corpus the harness searches. */
  private def pqProbes(s: SparkSession, dir: String): Array[(Long, Array[Long], Long)] = {
    import s.implicits._
    SnapMemo(s, dir, "pqProbes") {
      boundedProbes(quantized(s, dir))
        .select(col("vec_id"), col("q"), col("qn"))
        .as[(Long, Array[Long], Long)].collect().sortBy(_._1)
    }
  }

  /** One probe's (PqSubs × pqK)-entry ADC lookup table:
    * adc(sub·pqK + c) = exact integer squared-L2 between the probe's
    * sub-vector and codebook entry c, pqK = `train.length` — shared by
    * q90/q92 (full scan, flat codebook) and q93 (probed lists,
    * residual codebook). */
  private[graft] def adcTable(pq: Array[Long],
                       train: Array[(Long, Array[Long])]): Array[Long] = {
    val pqK = train.length
    val t = new Array[Long](PqSubs * pqK)
    var sub = 0
    while (sub < PqSubs) {
      var c = 0
      while (c < pqK) {
        var d = 0L; var i = 0
        while (i < PqDim) {
          val diff = pq(sub * PqDim + i) - train(c)._2(sub * PqDim + i)
          d += diff * diff; i += 1
        }
        t(sub * pqK + c) = d; c += 1
      }
      sub += 1
    }
    t
  }

  /** The full ADC ranking (every scored vector with its rank) — q90
    * takes the top 5, q92's re-rank stage takes a top-20 shortlist. */
  private def pqAdcRanked(s: SparkSession, dir: String,
                          probeRows: Array[(Long, Array[Long], Long)]): DataFrame = {
    import s.implicits._
    val train = pqTrain(s, dir, Full)
    val codes = pqCodesTable(s, dir, Full)
    val adc: Array[(Long, Array[Long])] =
      probeRows.map { case (pid, pq, _) => (pid, adcTable(pq, train)) }
    val bcAdc = s.sparkContext.broadcast(adc)

    val pqK = train.length
    val scored = codes.select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val ps = bcAdc.value
        it.flatMap { case (id, cs) =>
          ps.iterator.filter(_._1 != id).map { case (pid, t) =>
            var d = 0L; var sub = 0
            while (sub < PqSubs) { d += t(sub * pqK + cs(sub) - 1); sub += 1 }
            (pid, id, d)
          }
        }
      }.toDF("probe_id", "vec_id", "adist")

    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast(IntegerType))
  }

  /** q92: the standard two-stage retrieval — q90's cheap ADC stage
    * produces a top-[[PqShortlist]] shortlist per probe off the code
    * table, then ONLY the shortlist is re-ranked with the exact
    * quantized cosine against the real vectors. The expensive exact
    * math runs on probes·20 rows instead of probes·n; the shortlist
    * is AQE-broadcast against the embedding scan, so the corpus side
    * never shuffles. This is how PQ deployments actually answer
    * queries (ADC recall, exact precision at the top); the oracle
    * re-derives both stages in SQL. */
  private[graft] val PqShortlist = 20

  /** The exact re-rank stage shared by q92 and q98: joins ADC-stage
    * candidate rows (groupCols..., probe_id, vec_id) to the real
    * vectors, scores the exact quantized cosine against the broadcast
    * probes and ranks top-5 per (groupCols..., probe). q92
    * instantiates it with no group column; q98 groups by the
    * shortlist level — so the q98@shortlist=20 == q92 identity holds
    * by construction, not just numerically. */
  private def rerankTop5(s: SparkSession, dir: String,
      probeRows: Array[(Long, Array[Long], Long)], cand: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    import s.implicits._
    val probes = probeRows.toSeq.toDF("probe_id", "pq", "pqn")
    val e = quantized(s, dir)
      .select(col("vec_id"), col("q"), col("qn"))
    val w = Window.partitionBy((groupCols :+ "probe_id").map(col): _*)
      .orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(e, Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .withColumn("cos", qcosineNative(col("pq"), col("q"), col("pqn"), col("qn")))
      .select((groupCols ++ Seq("probe_id", "vec_id", "cos")).map(col): _*)
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= 5)
  }

  def pqRerank(s: SparkSession, dir: String): DataFrame = {
    // ONE probe collect serves both stages (ADC tables + re-rank side)
    val probeRows = pqProbes(s, dir)
    val cand = pqAdcRanked(s, dir, probeRows)
      .filter(col("rnk") <= PqShortlist)
      .select(col("probe_id"), col("vec_id"))
    rerankTop5(s, dir, probeRows, cand, Nil)
      .select(col("probe_id"), col("vec_id"), col("cos"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The q90 oracle re-derives the TRAINED codebook (seeds = the
    * [[pqKOf]]-many smallest-hash vectors, code = rank by seed vec_id, then
    * the unrolled per-subspace Lloyd iterations of [[trainedCbSql]]),
    * per-subspace nearest-code encoding, and the probes' ADC tables
    * in SQL — all squared-L2 in exact BIGINTs. */
  val pqAdcSql: String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |$trainedCbSql,
       |$pqEncSql,
       |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
       |         ORDER BY vec_id LIMIT $MaxProbes),
       |$pqPdistSql,
       |${adcScoredSql("scored")},
       |ranked AS (SELECT probe_id, vec_id, adist,
       |           CAST(row_number() OVER (PARTITION BY probe_id
       |                                   ORDER BY adist, vec_id) AS INT) AS rnk
       |           FROM scored)
       |SELECT probe_id, vec_id, adist, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin)

  /** The q92 oracle IS q90's SQL with its final top-5 select swapped
    * for shortlist → exact-cosine re-rank CTEs — the require guards
    * fail loudly if [[pqAdcSql]] is ever reworded (the
    * [[graft.operators.Dedup]] pairGraphSql surgery contract). */
  val pqRerankSql: String = {
    val marker = "SELECT probe_id, vec_id, adist, rnk FROM ranked WHERE rnk <= 5\nORDER BY probe_id, rnk"
    require(pqAdcSql.endsWith(marker), "pqAdcSql reworded; update pqRerankSql surgery")
    mat(pqAdcSql.stripSuffix(marker) +
      s""",cand AS (SELECT probe_id, vec_id FROM ranked WHERE rnk <= $PqShortlist),
         |rr AS (
         |  SELECT cd.probe_id, cd.vec_id,
         |${qcosSql("p.q", "v.q")} AS cos
         |  FROM cand cd JOIN n p ON p.vec_id = cd.probe_id
         |  JOIN n v ON v.vec_id = cd.vec_id),
         |rrk AS (SELECT probe_id, vec_id, cos,
         |        CAST(row_number() OVER (PARTITION BY probe_id
         |                                ORDER BY cos DESC, vec_id) AS INT) AS rnk
         |        FROM rr)
         |SELECT probe_id, vec_id, cos, rnk FROM rrk WHERE rnk <= 5
         |ORDER BY probe_id, rnk""".stripMargin)
  }

  /** The RESIDUAL PQ codebook (q93): codewords k-means trained over
    * the sample's residuals q − c(q) (each sample vector minus its
    * nearest trained centroid) — the actual FAISS IVFPQ design:
    * residuals concentrate around the origin once the coarse
    * quantizer has soaked up the between-cell variance, so the same
    * codebook capacity buys far finer within-cell resolution than
    * flat encoding (round-8 recall grid: the flat composed path
    * DEGRADED with corpus growth, the residual path improves).
    * Residuals are taken against the corpus's own quantizer
    * ([[ivfCents]]); memoized per (session, corpus, dir) like the
    * sample. */
  private[graft] def resTrain(s: SparkSession, dir: String,
      c: Corpus): Array[(Long, Array[Long])] =
    SnapMemo(s, dir, "resTrain" + c.suffix) {
      val smp = trainSample(s, dir, c)
      val cents = ivfCents(s, dir, c)
      val centById = cents.map(c => (c._1, c._2)).toMap
      val res = smp.map { case (id, q, qn) =>
        val cq = centById(routeCents(q, qn, cents, 1).head)
        (id, Array.tabulate(Dim)(i => q(i) - cq(i)), 0L)
      }
      lloydCodebook(res, pqKOf(smp.length))
    }

  /** q93: IVF-PQ — the two index structures COMPOSED, exactly the
    * FAISS IVFPQ layout every production vector store ships: the
    * written `graft_ivfpq` table holds (vec_id, cent_id, codes) with
    * codes encoding the RESIDUAL q − c(q) against the [[resTrain]]
    * codebook, BUCKETED by cent_id, so a query (a) routes to its
    * nprobe=2 nearest centroids DISTRIBUTED ([[routeProbesDf]]),
    * (b) prunes to those buckets at planning time (the q83
    * SelectedBucketsCount mechanism), and (c) ADC-scores ONLY the
    * surviving lists with 8
    * integer lookups per vector against a PER-(probe, probed-cell)
    * table built from the probe's residual to that cell — approximating
    * the same ||probe − vector||² as flat ADC, with within-cell
    * precision. Work per query: nprobe/K of the corpus × 8 lookups —
    * neither the full-scan cost of q90 nor the full-vector reads of
    * q37. All-BIGINT adist; the oracle composes the IVF assignment
    * and residual-PQ encoding CTEs verbatim. */
  /** The written `graft_ivfpq` index table alone (residual codes,
    * cent_id-bucketed; `ivfpqbase` over the [[Standing]] corpus) —
    * factored from [[ivfPq]] so the delete lifecycle (q106) can
    * rewrite it without running the query. */
  private[graft] def ivfPqIndex(s: SparkSession, dir: String,
      c: Corpus): DataFrame = {
    import s.implicits._
    val cents = ivfCents(s, dir, c)
    val train = resTrain(s, dir, c)
    val assign = ivfAssignTable(s, dir, c)
    Layout.materializedTable(s, dir, "ivfpq" + c.suffix,
        Some((Layout.Buckets, Seq("cent_id")))) {
      val bcC = s.sparkContext.broadcast(cents.map(ct => (ct._1, ct._2)).toMap)
      val bcCb = s.sparkContext.broadcast(train)
      // one map-only residual-encode pass over the assignment (which
      // already co-locates each vector with its cell id and payload)
      assign.select(col("vec_id"), col("cent_id"), col("q"))
        .as[(Long, Long, Array[Long])]
        .mapPartitions { it =>
          val cm = bcC.value; val cb = bcCb.value
          it.map { case (id, cid, q) =>
            val cq = cm(cid)
            (id, cid, pqEncode(Array.tabulate(Dim)(i => q(i) - cq(i)), cb).toSeq)
          }
        }.toDF("vec_id", "cent_id", "codes")
    }
  }

  def ivfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = ivfCents(s, dir, Full)
    val train = resTrain(s, dir, Full)
    val centById = cents.map(c => (c._1, c._2)).toMap
    val assign = ivfAssignTable(s, dir, Full)
    val bcC = s.sparkContext.broadcast(centById)
    val bcCb = s.sparkContext.broadcast(train)
    val index = ivfPqIndex(s, dir, Full)
    // probes route DISTRIBUTED (routeProbesDf) and their
    // per-(probe, routed-cell) residual ADC tables are built in the
    // SAME map-side pass — the probe vectors never transit the
    // driver; the broadcast relation carries (probe_id, cent_id,
    // table) and equi-joins the pruned index on cent_id, so scoring
    // is one codegen'd join + one typed lookup pass. Probe source is
    // the written assignment (q83's convention — zero query-time
    // quantization, no embeddings re-read)
    val routed = routeProbesDf(boundedProbes(assign), cents, 2)
    val probeT = routed.select(col("probe_id"), col("cent_id"), col("pq"))
      .as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val cm = bcC.value; val cb = bcCb.value
        it.map { case (pid, cid, pq) =>
          (pid, cid,
            adcTable(Array.tabulate(Dim)(i => pq(i) - cm(cid)(i)), cb).toSeq)
        }
      }.toDF("probe_id", "cent_id", "t")
    // the ≤ K distinct probed cells — the one driver-side datum,
    // sized by K, feeding the planning-time bucket-pruning literals
    val probedCents = routed.select(col("cent_id")).distinct()
      .as[Long].collect().sorted.toSeq
    val pqK = train.length

    val scored = index
      .filter(col("cent_id").isin(probedCents: _*)) // bucket pruning
      .join(broadcast(probeT), Seq("cent_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("codes"), col("t"))
      .as[(Long, Long, Seq[Int], Seq[Long])]
      .mapPartitions { it =>
        it.map { case (pid, id, cs, t) =>
          var d = 0L; var sub = 0
          while (sub < PqSubs) { d += t(sub * pqK + cs(sub) - 1); sub += 1 }
          (pid, id, d)
        }
      }.toDF("probe_id", "vec_id", "adist")

    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist"), col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("vec_id"), col("adist"), col("rnk"))
      .orderBy("probe_id", "rnk")
  }

  /** The residual-PQ CTE block shared verbatim by the q93 oracle and
    * the q96 recall oracle (so the two cannot drift): the sample's
    * residuals to their assigned centroids (`rsamp`), the residual
    * codebook chain (`rcb`), every corpus vector's residual (`rvec`)
    * and its encoding (`renc`), and the probes' PER-ROUTED-CELL
    * residual ADC tables (`rpdist`). Requires `samp`, `cents`,
    * `assign` (carrying q), `proutes` and `pset`/`n`. */
  private def rsampSql: String =
    s"""rsamp AS (
       |  SELECT s.vec_id,
       |         list_transform(generate_series(1, $Dim), i -> s.q[i] - c.cq[i]) AS q,
       |         s.srn
       |  FROM samp s JOIN assign a ON a.vec_id = s.vec_id
       |  JOIN cents c ON c.cent_id = a.cent_id)""".stripMargin

  private def rvecSql: String =
    s"""rvec AS (
       |  SELECT a.vec_id,
       |         list_transform(generate_series(1, $Dim), i -> a.q[i] - c.cq[i]) AS q
       |  FROM assign a JOIN cents c ON c.cent_id = a.cent_id)""".stripMargin

  /** The residual ENCODING chain alone (no probe-side tables) —
    * shared by [[residualPqSql]] and the q106 census oracle. */
  private def residualEncSql: String =
    s"""$rsampSql,
       |${cbSqlChain("rsamp", "rp", "rcb")},
       |$rvecSql,
       |${pqEncSqlOver("rvec", "rcb", "renc")}""".stripMargin

  /** The residual encoding chain plus the probes' per-(probe,
    * routed-cell) residual ADC tables (`rpdist`; needs `proutes`, `n`,
    * `cents`). */
  private def residualPqSql: String =
    s"""$residualEncSql,
       |rpdist AS (
       |  SELECT pr.probe_id, pr.cent_id, c.sub, c.code,
       |         CAST(list_sum(list_transform(generate_series(1, $PqDim),
       |           i -> (p.q[c.sub*$PqDim+i] - ct.cq[c.sub*$PqDim+i] - c.cq[i])
       |              * (p.q[c.sub*$PqDim+i] - ct.cq[c.sub*$PqDim+i] - c.cq[i]))) AS BIGINT) AS d
       |  FROM proutes pr
       |  JOIN n p ON p.vec_id = pr.probe_id
       |  JOIN cents ct ON ct.cent_id = pr.cent_id
       |  CROSS JOIN rcb c)""".stripMargin

  /** The residual-scored probed-lists CTE (twin of [[ivfPq]]'s scan):
    * candidates from the probes' routed cells, adist = Σ over
    * subspaces of the (probe, cell)-specific residual table entries. */
  private def residualScoredSql(out: String): String =
    s"""$out AS (
       |  SELECT pr.probe_id, a.vec_id, CAST(sum(pd.d) AS BIGINT) AS adist
       |  FROM proutes pr
       |  JOIN assign a ON a.cent_id = pr.cent_id
       |  JOIN renc e ON e.vec_id = a.vec_id
       |  JOIN rpdist pd ON pd.probe_id = pr.probe_id AND pd.cent_id = pr.cent_id
       |                AND pd.sub = e.sub AND pd.code = e.code
       |  WHERE a.vec_id <> pr.probe_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The q93 oracle composes the IVF assignment (annIvfSql's
    * machinery, nprobe=2 probe routing) with the RESIDUAL PQ encoding
    * and per-cell ADC tables ([[residualPqSql]]), scoring only probed
    * inverted lists. */
  val ivfPqSql: String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q")},
       |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
       |         ORDER BY vec_id LIMIT $MaxProbes),
       |${routeSql("proutes", ProbeRows, "<= 2")},
       |$residualPqSql,
       |${residualScoredSql("scored")},
       |ranked AS (SELECT probe_id, vec_id, adist,
       |           CAST(row_number() OVER (PARTITION BY probe_id
       |                                   ORDER BY adist, vec_id) AS INT) AS rnk
       |           FROM scored)
       |SELECT probe_id, vec_id, adist, rnk FROM ranked WHERE rnk <= 5
       |ORDER BY probe_id, rnk""".stripMargin)

  /** q94's per-cluster retention cap: keep at most this many vectors
    * per semantic cluster, chosen in deterministic hash order (a
    * reshuffle-proof lottery — the q56/q85 convention). */
  private[graft] val MaxPerCluster = 12

  /** q94: cluster-balanced DIVERSITY sampling — the curation step
    * that follows clustering in SemDeDup/DataComp-style pipelines:
    * cap each semantic cluster's contribution so over-represented
    * regions of embedding space (boilerplate, template families)
    * cannot dominate the training mix. Keeps the [[MaxPerCluster]]
    * hash-first vectors per cluster; reports kept/dropped per
    * cluster.
    *
    * Plan shape: the written cent_id-BUCKETED assignment feeds a
    * window PARTITIONed on cent_id and a groupBy on cent_id — both
    * satisfied by the bucketing, so the query plans ZERO hash
    * exchanges (plan-pinned): scan → sort-within-buckets → rank →
    * rollup, with only the output sort shuffling. At 100 TB the
    * rank-and-cap runs entirely within each bucket's files. */
  def clusterBalance(s: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignTable(s, dir, Full)
    val w = Window.partitionBy(col("cent_id"))
      .orderBy(hash60(col("vec_id").cast(StringType)), col("vec_id"))
    assign.select(col("cent_id"), col("vec_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("rn") <= MaxPerCluster, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > MaxPerCluster, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("cent_id")
  }

  val clusterBalanceSql: String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1")},
       |ranked AS (
       |  SELECT cent_id, vec_id,
       |         row_number() OVER (PARTITION BY cent_id
       |           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |                    vec_id) AS rn
       |  FROM assign)
       |SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(sum(CASE WHEN rn <= $MaxPerCluster THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rn > $MaxPerCluster THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM ranked GROUP BY cent_id ORDER BY cent_id""".stripMargin)

  /** Cluster-size cap for q86's within-cluster pair join. Within-cluster
    * pairing is O(Σ sᶜ²): balanced clusters cost n²/K total — the point
    * of clustering first — but ONE degenerate cluster (a constant
    * embedding, a zero-vector sink) reintroduces the all-pairs blowup.
    * Clusters above the cap are excluded from pairing (their docs are
    * kept, not dropped — the conservative direction for a dedup), and
    * the exclusion is observable via the same CollectMetrics contract
    * as [[Dedup.dropHotBuckets]]. Never fires at testdata scale
    * (clusters average n/K ≈ 8 rows); `SimilaritySpec` fires it
    * synthetically. */
  private[graft] val MaxSemCluster = 4096

  /** q86: SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster embeddings, then prune near-duplicates
    * within each cluster only). This is the scale answer to q24's
    * O(n²) exact near-dup: candidate pairs are confined to
    * same-cluster vectors, so total pair work is Σ sᶜ² ≈ n²/K with
    * balanced clusters, and each cluster's pairing is LOCAL — the
    * join reads the written `ivfassign` snapshot table (q83's index,
    * BUCKETED by cent_id), so the self-join is co-partitioned with
    * ZERO exchange on either side.
    *
    * Retention policy is keep-lowest-id: a vector is dropped iff some
    * lower-id cluster-mate has cosine ≥ 0.4 with it; the output is the
    * drop list with provenance (the minimum keeper id, how many
    * cluster-mates matched, the strongest match). All cosine math is
    * the exact quantized integer arithmetic of the family (BIGINT dot
    * and norms, one IEEE division), so the DuckDB oracle — which
    * rebuilds the identical assignment in SQL — agrees bit-for-bit. */
  def semDedup(s: SparkSession, dir: String): DataFrame =
    semDedupFrom(ivfAssignTable(s, dir, Full), MaxSemCluster)

  /** [[semDedup]] over an explicit (vec_id, cent_id, q, qn) assignment —
    * the spec surface where `SimilaritySpec` fires the cluster cap. */
  private[graft] def semDedupFrom(assign: DataFrame, clusterCap: Int): DataFrame =
    semPairs(assign, clusterCap)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("kept_by"),
        count(lit(1)).as("n_dups"),
        max(col("cos")).as("max_cos"))
      .orderBy("vec_id")

  /** The capped within-cluster match-pair relation
    * (cent_id, vec_a, vec_b, cos ≥ 0.4) shared by q86 and q95.
    * Keeping cent_id on every pair is what lets q95's drop set group
    * and join WITHOUT leaving the assignment's bucketing: a pair's
    * vec_b lives in exactly one cluster, so grouping by
    * (cent_id, vec_b) equals grouping by vec_b — and is satisfied by
    * hashpartitioning(cent_id). */
  private def semPairs(assign: DataFrame, clusterCap: Int): DataFrame = {
    val kept =
      if (clusterCap == Int.MaxValue) assign
      else {
        val hot = assign.groupBy(col("cent_id"))
          .agg(count(lit(1)).as("sz"))
          .filter(col("sz") > clusterCap)
          .observe("graft.cap(sem_cluster)",
            count(lit(1)).as("hot_clusters"),
            coalesce(sum(col("sz")), lit(0L)).as("excluded_rows"))
          .select(col("cent_id"))
        assign.join(hot, Seq("cent_id"), "left_anti")
      }
    val a = kept.select(col("cent_id"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("qn").as("qna"))
    val b = kept.select(col("cent_id"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("qn").as("qnb"))
    a.join(b, Seq("cent_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", qcosineNative(col("qa"), col("qb"), col("qna"), col("qnb")))
      .filter(col("cos") >= 0.4)
      .select(col("cent_id"), col("vec_a"), col("vec_b"), col("cos"))
  }

  /** The q86 oracle rebuilds the coarse quantizer + nearest-centroid
    * assignment in SQL (the annIvfSql machinery) and applies the same
    * within-cluster keep-lowest-id rule. */
  val semDedupSql: String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q", "qn")},
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |${qcosSql("a.q", "b.q")} AS cos
       |  FROM assign a JOIN assign b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
       |SELECT vec_b AS vec_id, min(vec_a) AS kept_by,
       |       CAST(count(*) AS BIGINT) AS n_dups, max(cos) AS max_cos
       |FROM pairs WHERE cos >= 0.4
       |GROUP BY vec_b ORDER BY vec_id""".stripMargin)

  /** q91: INCREMENTAL semantic dedup — q86's within-cluster pruning in
    * the ingest-time shape of q43/q77: "is this new embedding a
    * semantic near-copy of something the corpus already holds?" The
    * batch (vec_id ≡ 0 mod 5) routes itself against the BROADCAST
    * corpus quantizer — O(batch) map-only work, zero corpus
    * re-assignment — and equi-joins the written, cent_id-bucketed
    * corpus assignment, so the standing corpus is never re-scanned
    * beyond its own bucketed index read and never re-shuffled. Per
    * admitted-batch vector with ≥ 1 same-cluster match at cosine
    * ≥ 0.4: the best match (cos desc, ties low id) and the match
    * count. The exact-integer cosine keeps the DuckDB oracle — which
    * re-derives corpus centroids, both assignments and the join in
    * SQL — bit-identical. */
  /** Raw (vec_id, cvec, cos) semantic-match events of an incoming
    * (vec_id, embedding) relation against the standing corpus
    * assignment — the shared core of q91 (which rolls it up to
    * best-match-per-vector) and the streaming ingest front door
    * ([[graft.streaming.DocIngest.semanticIngest]] — stateless route +
    * stream-static join, so it runs append-mode on a stream
    * unchanged). */
  private[graft] def semanticMatchEvents(incoming: DataFrame,
                                         cents: Array[(Long, Array[Long], Long)],
                                         corpusAssign: DataFrame): DataFrame = {
    val corpus = corpusAssign
      .select(col("cent_id"), col("vec_id").as("cvec"),
        col("q").as("qc"), col("qn").as("qnc"))
    val batch = assignDf(quantizedFrom(incoming),
        corpusAssign.sparkSession.sparkContext.broadcast(cents))
      .toDF("vec_id", "cent_id", "qb", "qnb")
    batch.join(corpus, Seq("cent_id"))
      .withColumn("cos", qcosineNative(col("qb"), col("qc"), col("qnb"), col("qnc")))
      .filter(col("cos") >= 0.4)
      // shed the vector payloads early (the q25 lesson)
      .select(col("vec_id"), col("cvec"), col("cos"))
  }

  def semDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfCents(s, dir, Standing)
    val m = semanticMatchEvents(
      Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0),
      cents, ivfAssignTable(s, dir, Standing))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("cvec"))
    val wc = Window.partitionBy(col("vec_id"))
    m.withColumn("rn", row_number().over(w))
      .withColumn("n_matches", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cvec").as("best_match"),
        col("cos").as("best_cos"), col("n_matches"))
      .orderBy("vec_id")
  }

  val semDedupIncrementalSql: String = mat(
    s"""WITH $quantSql,
       |corp AS (SELECT * FROM n WHERE vec_id % 5 <> 0),
       |batch AS (SELECT * FROM n WHERE vec_id % 5 = 0),
       |${sampSql("corp")},
       |${trainedCentsSql("corp")},
       |${routeSql("ac", "corp v", "= 1", "q", "qn")},
       |${routeSql("ab", "batch v", "= 1", "q", "qn")},
       |m AS (
       |  SELECT b.vec_id, c.vec_id AS cvec,
       |${qcosSql("b.q", "c.q")} AS cos
       |  FROM ab b JOIN ac c ON b.cent_id = c.cent_id),
       |r AS (
       |  SELECT vec_id, cvec, cos,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cvec) AS rn,
       |         CAST(count(*) OVER (PARTITION BY vec_id) AS BIGINT) AS n_matches
       |  FROM m WHERE cos >= 0.4)
       |SELECT vec_id, cvec AS best_match, cos AS best_cos, n_matches
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)

  /** The q128 door oracle: [[semDedupIncrementalSql]]'s CTE chain cut
    * at the raw match events (the `semanticMatchEvents` relation the
    * streaming door sinks) — same loud-failure surgery contract as
    * q77's. */
  val semanticDoorSql: String = {
    val marker = "r AS MATERIALIZED ("
    require(semDedupIncrementalSql.contains(marker),
      "semDedupIncrementalSql reworded; update semanticDoorSql surgery")
    semDedupIncrementalSql.substring(0, semDedupIncrementalSql.indexOf(marker))
      .trim.stripSuffix(",") +
      "\nSELECT vec_id, cvec, cos FROM m WHERE cos >= 0.4 ORDER BY vec_id, cvec"
  }

  /** q95: the embedding-modality END-TO-END pipeline — q81's
    * composition proof for vectors: semantic dedup (q86's
    * within-cluster keep-min) → cluster-balanced capping (q94) as ONE
    * plan over the written assignment, reported per cluster as the
    * full retention ledger (n_vecs = dup-dropped + balance-dropped +
    * final). This is the curation pass a production embedding corpus
    * actually runs, and it exercises cross-operator plan composition:
    * the drop set carries its cluster key ([[semPairs]] — grouping by
    * (cent_id, vec_b) equals grouping by vec_b and rides the
    * bucketing), so the n_vecs and n_dup rollups and their cent_id
    * join plan ZERO hash exchanges off the bucketed assignment; the
    * survivor branch's anti join moves only slim (cent_id, vec_id)
    * rows — AQE broadcasts the drop set at runtime — and no exchange
    * anywhere carries a vector payload. */
  def embeddingPipeline(s: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignTable(s, dir, Full)
    // drop set WITH its cluster key: groupBy(cent_id, vec_b) is
    // semantically groupBy(vec_b) — a vector's pairs are all within
    // one cluster — and rides the bucketing (see [[semPairs]])
    val drops = semPairs(assign, MaxSemCluster)
      .groupBy(col("cent_id"), col("vec_b").as("vec_id"))
      .agg(count(lit(1)).as("_nd")).drop("_nd")
    val surv = assign.select(col("cent_id"), col("vec_id"))
      .join(drops, Seq("cent_id", "vec_id"), "left_anti")
    val w = Window.partitionBy(col("cent_id"))
      .orderBy(hash60(col("vec_id").cast(StringType)), col("vec_id"))
    val aggAll = assign.groupBy(col("cent_id")).agg(count(lit(1)).as("n_vecs"))
    // the dup rollup needs NO corpus join at all — drops carries cent_id
    val aggDup = drops.groupBy(col("cent_id")).agg(count(lit(1)).as("n_dup"))
    val aggBal = surv.withColumn("rn", row_number().over(w))
      .groupBy(col("cent_id"))
      .agg(sum(when(col("rn") <= MaxPerCluster, 1L).otherwise(0L)).as("n_final0"),
        sum(when(col("rn") > MaxPerCluster, 1L).otherwise(0L)).as("n_bal"))
    aggAll
      .join(aggDup, Seq("cent_id"), "left")
      .join(aggBal, Seq("cent_id"), "left")
      .select(col("cent_id"), col("n_vecs"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_dropped"),
        coalesce(col("n_bal"), lit(0L)).as("n_balance_dropped"),
        coalesce(col("n_final0"), lit(0L)).as("n_final"))
      .orderBy("cent_id")
  }

  val embeddingPipelineSql: String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q", "qn")},
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |${qcosSql("a.q", "b.q")} AS cos
       |  FROM assign a JOIN assign b
       |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id),
       |drops AS (SELECT DISTINCT vec_b AS vec_id FROM pairs WHERE cos >= 0.4),
       |surv AS (
       |  SELECT a.vec_id, a.cent_id FROM assign a
       |  WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = a.vec_id)),
       |ranked AS (
       |  SELECT cent_id, vec_id,
       |         row_number() OVER (PARTITION BY cent_id
       |           ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
       |                    vec_id) AS rn
       |  FROM surv),
       |agg_all AS (SELECT cent_id, count(*) AS n_vecs FROM assign GROUP BY 1),
       |agg_dup AS (SELECT a.cent_id, count(*) AS n_dup FROM assign a
       |            JOIN drops d ON d.vec_id = a.vec_id GROUP BY 1),
       |agg_bal AS (SELECT cent_id,
       |            sum(CASE WHEN rn <= $MaxPerCluster THEN 1 ELSE 0 END) AS n_final,
       |            sum(CASE WHEN rn > $MaxPerCluster THEN 1 ELSE 0 END) AS n_bal
       |            FROM ranked GROUP BY 1)
       |SELECT aa.cent_id, CAST(n_vecs AS BIGINT) AS n_vecs,
       |       CAST(COALESCE(n_dup, 0) AS BIGINT) AS n_dup_dropped,
       |       CAST(COALESCE(n_bal, 0) AS BIGINT) AS n_balance_dropped,
       |       CAST(COALESCE(n_final, 0) AS BIGINT) AS n_final
       |FROM agg_all aa
       |LEFT JOIN agg_dup USING (cent_id)
       |LEFT JOIN agg_bal USING (cent_id)
       |ORDER BY cent_id""".stripMargin)

  /** q96: MEASURED recall@5 of every approximate ANN path against the
    * exact q25 baseline, on the SAME probe set — the number that
    * actually chooses nprobe/PqK for a training-data pipeline, as a
    * gated query instead of prose. Per method: the size of the
    * intersection between its per-probe top-5 and exact search's
    * per-probe top-5, as exact integers (n_hits of 5·n_probes slots),
    * with ONE double division at the end — so the oracle, which
    * re-derives all four approximate paths and the exact baseline
    * with the family's shared SQL machinery, hash-matches bit-for-bit.
    *
    * Methods: q83 (IVF, nprobe=2 of K=[[ivfKOf]]), q90 (PQ-ADC full code
    * scan), q92 (ADC shortlist → exact re-rank), q93 (IVF-PQ composed).
    *
    * Scale: the dominant term is the exact baseline itself (the q25
    * broadcast-probe scan) — recall measurement is inherently
    * exact-search-priced, which is why production systems run it on a
    * bounded probe sample exactly like this one ([[MaxProbes]]); the
    * four method branches reuse the written index tables and the
    * intersection joins carry ≤ 5·probes slim rows each. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact5 = exactTopKTable(s, dir).select(col("probe_id"), col("vec_id"))
    // Round-19: the q90 and q92 branches used to call pqAdc/pqRerank
    // whole, so the ADC full code scan — their shared, dominant stage
    // — executed TWICE with distinct broadcast tables (no exchange
    // reuse possible across the two closures). One pqAdcRanked
    // instance now feeds both: q90's top-5 and q92's re-rank
    // shortlist are slices of the SAME ranked relation (rnk ≤ 5 ⊆
    // rnk ≤ PqShortlist), so the window's exchange canonicalizes
    // identically under both consumers and the code scan runs once.
    // Row-identical: pqAdc = ranked.filter(rnk<=5) and pqRerank's
    // candidate set = ranked.filter(rnk<=PqShortlist) by definition;
    // the tagged union below projects to (probe_id, vec_id) either
    // way and the final ORDER BYs were always dropped by EliminateSorts.
    val probeRows = pqProbes(s, dir)
    val ranked = pqAdcRanked(s, dir, probeRows)
      .filter(col("rnk") <= PqShortlist)
    val methods: Seq[(String, DataFrame)] = Seq(
      "q83_ivf" -> annIvfIndexed(s, dir),
      "q90_pq_adc" -> ranked.filter(col("rnk") <= 5),
      "q92_pq_rerank" -> rerankTop5(s, dir, probeRows,
        ranked.select(col("probe_id"), col("vec_id")), Nil),
      "q93_ivfpq" -> ivfPq(s, dir))
    // tag + union the four methods' top-5 sets FIRST, so the exact
    // baseline (the dominant cost — a full broadcast-probe corpus
    // scan) is joined ONCE: the per-branch formulation evaluated the
    // exact5 subtree once per method (4× the baseline's cost,
    // measured 4.7 → 2.9 s at sf0.1). The right join against the
    // literal method list keeps the always-4-rows contract when a
    // method scores zero hits (the oracle's count(*)-of-empty = 0)
    val tagged = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("probe_id"), col("vec_id"))
    }.reduce(_ union _)
    val hits = tagged
      .join(exact5, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("h"))
    // n_probes = |probeRows| — pqProbes IS boundedProbes collected, so
    // the old count-aggregation over a second embeddings scan was a
    // full pass for a number already on the driver.
    val np = lit(probeRows.length.toLong)
    methods.map(_._1).toDF("method")
      .join(hits, Seq("method"), "left")
      .select(col("method"), coalesce(col("h"), lit(0L)).as("n_hits"))
      .withColumn("np", np)
      .select(col("method"), col("np").as("n_probes"), col("n_hits"),
        (col("n_hits").cast(DoubleType) /
          (lit(5) * col("np")).cast(DoubleType)).as("recall_at_5"))
      .orderBy("method")
  }

  /** Shared oracle fragment: q25's exact-cosine baseline as a CTE
    * chain — quantized corpus (`n`), bounded probe set (`pset`),
    * broadcast-probe scoring (`escored`) and its top-5 (`exact5`).
    * The three recall oracles (q96/q97/q98) interpolate this ONE
    * definition, so the baseline they all measure against cannot
    * drift between them. */
  private def exactBaseSql: String =
    s"""$quantSql,
       |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
       |         ORDER BY vec_id LIMIT $MaxProbes),
       |escored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
       |${qcosSql("p.q", "c.q")} AS cos
       |  FROM n p JOIN pset ON p.vec_id = pset.vec_id
       |  JOIN n c ON p.vec_id <> c.vec_id),
       |exact5 AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY cos DESC, vec_id) AS rnk
       |    FROM escored) t WHERE rnk <= 5)""".stripMargin

  /** The quantizer + assignment CTE chain: sample, trained centroids,
    * corpus×K nearest-cell assignment. */
  private def fullQuantAssignSql: String =
    s"""${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q", "qn")}""".stripMargin

  /** The q96 oracle: ONE shared-CTE derivation — the exact baseline
    * (q25's machinery), the IVF route (q37/q83's cents/assign/proutes),
    * the PQ route (q90/q92's train/cb/enc/pdist) and the composed
    * IVF-PQ route (q93) — then four intersection counts against the
    * exact top-5. Every fragment is the (hash-gate-proven) SQL of its
    * source query, so a recall mismatch localizes to the intersection
    * math, not the methods. */
  val annRecallSql: String = mat(
    s"""WITH $exactBaseSql,
       |$fullQuantAssignSql,
       |${routeSql("proutes", ProbeRows, "<= 2")},
       |iscored AS (
       |  SELECT pr.probe_id, a.vec_id,
       |${qcosSql("p.q", "a.q")} AS cos
       |  FROM proutes pr
       |  JOIN n p ON p.vec_id = pr.probe_id
       |  JOIN assign a ON a.cent_id = pr.cent_id
       |  WHERE a.vec_id <> pr.probe_id),
       |ivf5 AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY cos DESC, vec_id) AS rnk
       |    FROM iscored) t WHERE rnk <= 5),
       |$trainedCbSql,
       |$pqEncSql,
       |$pqPdistSql,
       |${adcScoredSql("ascored")},
       |aranked AS (SELECT probe_id, vec_id, adist,
       |            row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY adist, vec_id) AS rnk
       |            FROM ascored),
       |adc5 AS (SELECT probe_id, vec_id FROM aranked WHERE rnk <= 5),
       |cand AS (SELECT probe_id, vec_id FROM aranked WHERE rnk <= $PqShortlist),
       |rr AS (
       |  SELECT cd.probe_id, cd.vec_id,
       |${qcosSql("p.q", "v.q")} AS cos
       |  FROM cand cd JOIN n p ON p.vec_id = cd.probe_id
       |  JOIN n v ON v.vec_id = cd.vec_id),
       |rr5 AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY cos DESC, vec_id) AS rnk
       |    FROM rr) t WHERE rnk <= 5),
       |$residualPqSql,
       |${residualScoredSql("pscored")},
       |ipq5 AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY adist, vec_id) AS rnk
       |    FROM pscored) t WHERE rnk <= 5),
       |np AS (SELECT count(*) AS np FROM pset),
       |hits AS (
       |  SELECT 'q83_ivf' AS method, count(*) AS n_hits
       |  FROM ivf5 JOIN exact5 USING (probe_id, vec_id)
       |  UNION ALL
       |  SELECT 'q90_pq_adc', count(*) FROM adc5 JOIN exact5 USING (probe_id, vec_id)
       |  UNION ALL
       |  SELECT 'q92_pq_rerank', count(*) FROM rr5 JOIN exact5 USING (probe_id, vec_id)
       |  UNION ALL
       |  SELECT 'q93_ivfpq', count(*) FROM ipq5 JOIN exact5 USING (probe_id, vec_id))
       |SELECT method, CAST(np AS BIGINT) AS n_probes,
       |       CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(n_hits AS DOUBLE) / CAST(5 * np AS DOUBLE) AS recall_at_5
       |FROM hits, np ORDER BY method""".stripMargin)

  /** q97: the IVF recall-vs-nprobe TUNING CURVE — recall@5 of the
    * written-index path at nprobe = 1/2/4/8, against the exact q25
    * baseline on the shared probe set. q96 answers "what recall does
    * each method ship at its default dials"; q97 answers the question
    * a deployment actually asks next: "what does one more probed list
    * buy" — the nprobe dial measured, gated, and monotone (a superset
    * of probed lists can only add candidates at or above the old
    * ones' ranks... the spec pins non-decreasing hits).
    *
    * ONE plan, not four: probes route once at the MAX nprobe with
    * their rank r retained, a 4-row level relation tags each route
    * with every level ≥ r (broadcast), and a single bucket-pruned
    * scan of the written assignment feeds a single
    * (level, probe)-partitioned top-5 window — the level dimension
    * rides the existing shuffle instead of multiplying scans.
    *
    * Scale: identical access pattern to q83 at nprobe=8 (the union of
    * probed buckets), plus the exact baseline which dominates — the
    * same bounded-probe-sample costing as q96. */
  def ivfNprobeCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val levels = Seq(1, 2, 4, 8)
    val exact5 = exactTopKTable(s, dir).select(col("probe_id"), col("vec_id"))
    // one DISTRIBUTED routing at max nprobe, rank retained
    // (ivfRoutedProbes — the probes never transit the driver); the
    // probe count arrives with the pruning literals' bounded action,
    // not from collected probe vectors
    val (assign, routed, probedCents, nProbes) = ivfRoutedProbes(s, dir, levels.max)
    val lvl = levels.toDF("nprobe")
    // each route joins every level that includes it: r <= nprobe;
    // bucket pruning below keeps the level-8 union of probed cells
    val leveled = routed.join(broadcast(lvl), col("r") <= col("nprobe"))
      .select(col("nprobe"), col("probe_id"), col("cent_id"), col("pq"), col("pqn"))
    val hits = ivfTop5(assign, leveled, probedCents, Seq("nprobe"))
      .join(exact5, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    // left join FROM the level relation: a level scoring zero hits
    // must still emit its curve row (the fixed 4-row contract)
    lvl.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe").cast(org.apache.spark.sql.types.IntegerType).as("nprobe"),
        lit(nProbes).as("n_probes"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          lit(5.0 * nProbes)).as("recall_at_5"))
      .orderBy("nprobe")
  }

  /** The q97 oracle: q96's exact-baseline + trained-quantizer CTEs,
    * probe routes kept to rank ≤ 8, a level relation unnested from
    * [1,2,4,8], and ONE (nprobe, probe)-partitioned ranking — the
    * same shape as the Spark plan. */
  val ivfNprobeCurveSql: String = mat(
    s"""WITH $exactBaseSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q", "qn")},
       |${routeSql("proutes", ProbeRows, "<= 8", "r")},
       |lvl AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
       |iscored AS (
       |  SELECT l.nprobe, pr.probe_id, a.vec_id,
       |${qcosSql("p.q", "a.q")} AS cos
       |  FROM lvl l
       |  JOIN proutes pr ON pr.r <= l.nprobe
       |  JOIN n p ON p.vec_id = pr.probe_id
       |  JOIN assign a ON a.cent_id = pr.cent_id
       |  WHERE a.vec_id <> pr.probe_id),
       |ivf5 AS (SELECT nprobe, probe_id, vec_id FROM (
       |    SELECT nprobe, probe_id, vec_id,
       |           row_number() OVER (PARTITION BY nprobe, probe_id
       |                              ORDER BY cos DESC, vec_id) AS rnk
       |    FROM iscored) t WHERE rnk <= 5),
       |np AS (SELECT count(*) AS np FROM pset),
       |hits AS (
       |  SELECT i.nprobe, count(*) AS n_hits
       |  FROM ivf5 i JOIN exact5 e USING (probe_id, vec_id)
       |  GROUP BY 1)
       |SELECT CAST(l.nprobe AS INT) AS nprobe, CAST(np AS BIGINT) AS n_probes,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(5 * np AS DOUBLE) AS recall_at_5
       |FROM lvl l LEFT JOIN hits h ON h.nprobe = l.nprobe CROSS JOIN np
       |ORDER BY l.nprobe""".stripMargin)

  /** q98: the PQ two-stage retrieval's OTHER dial — recall@5 of the
    * ADC-shortlist → exact-re-rank path (q92) at shortlist sizes
    * L = 5/10/20/40, against the exact baseline. Recall is provably
    * monotone in L (a superset shortlist's exact top-5 can only swap
    * in higher-cosine candidates, and anything that displaces a true
    * top-5 hit is itself a true top-5 hit — the spec pins it), so the
    * curve shows where the exact-re-rank budget stops paying: the
    * production trade is L·probes exact dots vs the recall ceiling of
    * the ADC stage.
    *
    * Same one-plan shape as q97: the ADC ranking computes ONCE
    * (rank ≤ max L retained), a broadcast level relation tags each
    * candidate with every shortlist that includes it, and one exact
    * re-rank + one (L, probe)-partitioned window serve all four
    * curves. */
  def rerankShortlistCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val levels = Seq(5, 10, 20, 40)
    val probeRows = pqProbes(s, dir)
    val exact5 = exactTopKTable(s, dir).select(col("probe_id"), col("vec_id"))
    // the collected probe array IS the bounded probe sample — its
    // length is n_probes, no extra corpus aggregate needed
    val nProbes = probeRows.length.toLong
    val ranked = pqAdcRanked(s, dir, probeRows)
      .filter(col("rnk") <= levels.max)
      .select(col("probe_id"), col("vec_id"), col("rnk"))
    val lvl = levels.toDF("shortlist")
    val cand = ranked.join(broadcast(lvl), col("rnk") <= col("shortlist"))
      .select(col("shortlist"), col("probe_id"), col("vec_id"))
    val hits = rerankTop5(s, dir, probeRows, cand, Seq("shortlist"))
      .join(exact5, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("shortlist")).agg(count(lit(1)).as("n_hits"))
    // left join FROM the level relation: a shortlist scoring zero
    // hits must still emit its curve row (the fixed 4-row contract)
    lvl.join(hits, Seq("shortlist"), "left")
      .select(col("shortlist").cast(org.apache.spark.sql.types.IntegerType).as("shortlist"),
        lit(nProbes).as("n_probes"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          lit(5.0 * nProbes)).as("recall_at_5"))
      .orderBy("shortlist")
  }

  /** The q98 oracle: the q90/q92 CTE machinery (trained codebook,
    * encoding, ADC ranking) with rank ≤ 40 retained, a level relation
    * unnested from [5,10,20,40], one exact re-rank and one
    * (shortlist, probe)-partitioned top-5 — plus q96's exact-baseline
    * CTEs for the intersection. */
  val rerankShortlistCurveSql: String = mat(
    s"""WITH $exactBaseSql,
       |${sampSql("n")},
       |$trainedCbSql,
       |$pqEncSql,
       |$pqPdistSql,
       |${adcScoredSql("ascored")},
       |aranked AS (SELECT probe_id, vec_id,
       |            row_number() OVER (PARTITION BY probe_id
       |                               ORDER BY adist, vec_id) AS rnk
       |            FROM ascored),
       |lvl AS (SELECT unnest([5, 10, 20, 40]) AS shortlist),
       |cand AS (SELECT l.shortlist, a.probe_id, a.vec_id
       |         FROM lvl l JOIN aranked a ON a.rnk <= l.shortlist),
       |rr AS (
       |  SELECT cd.shortlist, cd.probe_id, cd.vec_id,
       |${qcosSql("p.q", "v.q")} AS cos
       |  FROM cand cd JOIN n p ON p.vec_id = cd.probe_id
       |  JOIN n v ON v.vec_id = cd.vec_id),
       |rr5 AS (SELECT shortlist, probe_id, vec_id FROM (
       |    SELECT shortlist, probe_id, vec_id,
       |           row_number() OVER (PARTITION BY shortlist, probe_id
       |                              ORDER BY cos DESC, vec_id) AS rnk
       |    FROM rr) t WHERE rnk <= 5),
       |np AS (SELECT count(*) AS np FROM pset),
       |hits AS (
       |  SELECT r.shortlist, count(*) AS n_hits
       |  FROM rr5 r JOIN exact5 e USING (probe_id, vec_id)
       |  GROUP BY 1)
       |SELECT CAST(l.shortlist AS INT) AS shortlist, CAST(np AS BIGINT) AS n_probes,
       |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / CAST(5 * np AS DOUBLE) AS recall_at_5
       |FROM lvl l LEFT JOIN hits h ON h.shortlist = l.shortlist CROSS JOIN np
       |ORDER BY l.shortlist""".stripMargin)

  /** Round-8 item 5, ANN side of the delete lifecycle (q106): the
    * three written embedding artifacts after a targeted delete of
    * `vecDel` (a one-column vec_id relation), as (artifact, rewritten
    * table, checksum key) triples for [[Dedup.deleteCensus]].
    * SNAPSHOT-QUANTIZER semantics: the trained centroids and
    * codebooks are HELD through deletes — production IVFPQ delete
    * removes inverted-list entries and retrains at the next snapshot
    * build, never per takedown — so the rewritten tables equal a
    * from-scratch re-derivation with the held quantizer over the
    * surviving vectors, which is exactly what the census oracle
    * computes. */
  private[operators] def deletedAnnTables(s: SparkSession, dir: String,
      vecDel: DataFrame): Seq[(String, DataFrame, Column)] = {
    val codesKey = concat_ws(",", transform(col("codes"), c => c.cast(StringType)))
    def del(what: String, buckets: Option[(Int, Seq[String])], base: DataFrame) =
      Layout.deleteRewrite(s, dir, what, buckets, vecDel, Seq("vec_id"))(base)
    Seq(
      ("ivfassign",
        del("ivfassign", Some((Layout.Buckets, Seq("cent_id"))),
          ivfAssignTable(s, dir, Full)),
        concat_ws("|", col("vec_id"), col("cent_id"))),
      ("ivfpq",
        del("ivfpq", Some((Layout.Buckets, Seq("cent_id"))), ivfPqIndex(s, dir, Full)),
        concat_ws("|", col("vec_id"), col("cent_id"), codesKey)),
      ("pqcodes",
        del("pqcodes", None, pqCodesTable(s, dir, Full)),
        concat_ws("|", col("vec_id"), codesKey)))
  }

  /** The ANN rows of the q106 census oracle: re-derive the held
    * quantizer and codebooks from the FULL corpus sample (snapshot
    * semantics), then count/checksum only the surviving vectors'
    * assignment, flat codes and residual codes. */
  private[operators] def annDeleteCensusSql(delMod: Int, delRem: Int): String = mat(
    s"""WITH $quantSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q")},
       |$trainedCbSql,
       |$pqEncSql,
       |$residualEncSql,
       |$codeKeysSql
       |SELECT 'ivfassign' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(coalesce(sum(CAST('0x' || substr(md5(
       |         CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)
       |       ), 1, 8) AS BIGINT)), 0) AS BIGINT) AS checksum
       |FROM assign WHERE vec_id % $delMod <> $delRem
       |UNION ALL
       |SELECT 'ivfpq', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(CAST('0x' || substr(md5(
       |         CAST(a.vec_id AS VARCHAR) || '|' || CAST(a.cent_id AS VARCHAR) || '|' || r.ck
       |       ), 1, 8) AS BIGINT)), 0) AS BIGINT)
       |FROM assign a JOIN rcodes r ON r.vec_id = a.vec_id
       |WHERE a.vec_id % $delMod <> $delRem
       |UNION ALL
       |SELECT 'pqcodes', CAST(count(*) AS BIGINT),
       |       CAST(coalesce(sum(CAST('0x' || substr(md5(
       |         CAST(vec_id AS VARCHAR) || '|' || ck
       |       ), 1, 8) AS BIGINT)), 0) AS BIGINT)
       |FROM ecodes WHERE vec_id % $delMod <> $delRem""".stripMargin)

  // ------------------------------------------------------------------
  // q108: INCREMENTAL ANN INDEX MAINTENANCE (round-10 lead item — the
  // ANN artifacts gain the O(batch) append every text artifact already
  // has via q82/q104: daily vector ingest at 100 TB cannot re-encode
  // the corpus).
  // ------------------------------------------------------------------

  /** Graph-pool routing depth: each vector's neighbor candidates come
    * from its GraphR nearest cells. Under the snapshot-adaptive
    * quantizer (lists ~[[SamplePerCent]] vectors) the pool is
    * R·32 ≈ 128 vectors per row — the graph BUILD is one bounded
    * equi-join, O(n·R·32), LINEAR in the corpus (an exact kNN graph
    * would be O(n²); HNSW builds incrementally and sequentially —
    * this is the standard distributed approximation). Declared here,
    * ahead of both the q107 graph family and q108's base-family twin,
    * because the q108 oracle val interpolates it at object init. */
  private[graft] val GraphR = 4

  /** Neighbors kept per vector (HNSW's M, layer-0). */
  private[graft] val GraphG = 16

  /** The graph oracles' candidate pool `gpool`: pairs of distinct
    * vectors sharing a cell of the [[GraphR]]-deep route `rr`. With
    * `batchSeesAll`, only batch vertices (vec_id ≡ 0 mod 5) pair with
    * batch neighbours (q108's held-base asymmetry). */
  private def poolSql(batchSeesAll: Boolean): String = {
    val where = if (batchSeesAll) "\n  WHERE a.vec_id % 5 = 0 OR b.vec_id % 5 <> 0" else ""
    s"""gpool AS (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS nbr
       |  FROM rr a JOIN rr b ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id$where)""".stripMargin
  }

  /** [[topG]]'s twin over `gpool`: `sc` scores every pool pair, `out`
    * keeps each vertex's [[GraphG]] best (score desc, ties to the low
    * neighbour), with their rank `rn` when `withRank`. */
  private def poolTopSql(sc: String, out: String, withRank: Boolean): String = {
    val rn = if (withRank) ", rn" else ""
    s"""$sc AS (
       |  SELECT p.vec_id, p.nbr,
       |${qcosSql("va.q", "vb.q")} AS sc
       |  FROM gpool p JOIN n va ON va.vec_id = p.vec_id
       |  JOIN n vb ON vb.vec_id = p.nbr),
       |$out AS (
       |  SELECT vec_id, nbr$rn FROM (
       |    SELECT vec_id, nbr,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sc DESC, nbr) AS rn
       |    FROM $sc) t
       |  WHERE rn <= $GraphG)""".stripMargin
  }

  /** The delete oracles' pool graph, scored once and ranked twice
    * under the takedown vec_id ≡ `dR` mod `dM`: `g0h` is the held
    * top-[[GraphG]], `g0s` the survivors' (payload norm `nqn`, rank
    * `rn` when `withRank`), and `a1` the surviving vertices that lost
    * a held neighbour. */
  private def heldSurvivorSql(dM: Long, dR: Long, withRank: Boolean): String = {
    val rn = if (withRank) ", rn" else ""
    s"""gsc AS (
       |  SELECT p.vec_id, p.nbr,
       |${qcosSql("va.q", "vb.q")} AS cos,
       |         vb.qn AS nqn
       |  FROM gpool p JOIN n va ON va.vec_id = p.vec_id
       |  JOIN n vb ON vb.vec_id = p.nbr),
       |g0h AS (
       |  SELECT vec_id, nbr FROM (
       |    SELECT vec_id, nbr,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, nbr) AS rn
       |    FROM gsc) t WHERE rn <= $GraphG),
       |g0s AS (
       |  SELECT vec_id, nbr, nqn$rn FROM (
       |    SELECT vec_id, nbr, nqn,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY cos DESC, nbr) AS rn
       |    FROM gsc
       |    WHERE vec_id % $dM <> $dR AND nbr % $dM <> $dR) t
       |  WHERE rn <= $GraphG),
       |a1 AS (SELECT DISTINCT vec_id FROM g0h
       |       WHERE vec_id % $dM <> $dR AND nbr % $dM = $dR)""".stripMargin
  }

  /** The neighbour order: each vertex's candidates (vec_id, nbr, q,
    * qn, nq, nqn) ranked by quantized cosine, best first, ties to the
    * lower neighbour id; the best `k` survive as (vec_id, nbr, nq,
    * nqn), plus their rank `rn` when `withRank`. */
  private[graft] def topK(cands: DataFrame, k: Int,
      withRank: Boolean = false): DataFrame = {
    val byCos = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr"))
    cands
      .withColumn("cos", qcosineNative(col("q"), col("nq"), col("qn"), col("nqn")))
      .withColumn("rn", row_number().over(byCos))
      .filter(col("rn") <= k)
      .select((Seq("vec_id", "nbr", "nq", "nqn") ++
        (if (withRank) Seq("rn") else Nil)).map(col): _*)
  }

  /** The pool graph's [[GraphG]] neighbours of each `probeSide` vertex
    * (vec_id, cent_id, q, qn) among `nbrSide` (nbr, cent_id, nq, nqn):
    * candidates share a routed cell, self excluded, one row per pair,
    * ranked by [[topK]]. */
  private[graft] def topG(probeSide: DataFrame, nbrSide: DataFrame,
      withRank: Boolean = false): DataFrame =
    topK(probeSide.join(nbrSide, Seq("cent_id"))
      .filter(col("vec_id") =!= col("nbr"))
      .dropDuplicates("vec_id", "nbr"), GraphG, withRank)

  /** The standing corpus's WRITTEN [[GraphR]]-deep routing table
    * (`groutesbase`: vec_id, cent_id, q, qn — one row per (vector,
    * routed cell), cent_id-bucketed). This is the graph index's pool
    * membership made a first-class artifact: the base graph build
    * self-joins it, and an APPEND batch equi-joins it on cent_id
    * WITHOUT re-routing (or re-shuffling) the standing corpus — the
    * datum that makes graph maintenance O(batch). */
  private[graft] def gRoutesBase(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfCents(s, dir, Standing)
    val assign = ivfAssignTable(s, dir, Standing)
    Layout.materializedTable(s, dir, "groutesbase",
        Some((Layout.Buckets, Seq("cent_id")))) {
      routeProbesDf(assign, cents, GraphR)
        .select(col("probe_id").as("vec_id"), col("cent_id"),
          col("pq").as("q"), col("pqn").as("qn"))
    }
  }

  /** The held snapshot's kNN neighbor graph over the standing corpus
    * (`nngraphbase`, vec_id-bucketed) — [[nnGraphTable]]'s base-family
    * twin, built from the written routing table's self-join.
    * DELIBERATELY pool-only (no NN-descent round): the base family is
    * the HELD snapshot that q108's O(batch) append maintains, and its
    * oracle re-derives exactly the pool construction; the refinement
    * pass belongs to the snapshot REBUILD (q107's [[nnGraphTable]]),
    * the same deferred-improvement discipline as the graph's
    * back-edges. */
  private[graft] def nnGraphBaseTable(s: SparkSession, dir: String): DataFrame = {
    val routes = gRoutesBase(s, dir)
    Layout.materializedTable(s, dir, "nngraphbase",
        Some((Layout.Buckets, Seq("vec_id")))) {
      val a = routes.select(col("vec_id"), col("cent_id"), col("q"), col("qn"))
      val b = routes.select(col("vec_id").as("nbr"), col("cent_id"),
        col("q").as("nq"), col("qn").as("nqn"))
      topG(a, b)
    }
  }

  /** q108: INCREMENTAL ANN INDEX APPEND — a vector batch (vec_id ≡ 0
    * mod 5, the q43/q77/q91 "today's crawl" split) lands in ALL FOUR
    * written ANN artifacts of the held snapshot with O(batch) work,
    * under SNAPSHOT-QUANTIZER semantics (the q106 delete's contract,
    * now on the ingest side): centroids and codebooks are trained on
    * the standing corpus and HELD — production IVFPQ ingest assigns
    * and encodes against the frozen quantizer and retrains at the
    * next snapshot build, never per batch.
    *
    *  - `ivfassignbase ⊕ batch`: one map-only route of the batch
    *    against the broadcast held quantizer — zero corpus work;
    *  - `pqcodesbase ⊕ batch`: one map-only flat-PQ encode;
    *  - `ivfpqbase ⊕ batch`: one map-only residual encode off the
    *    batch's own assignment;
    *  - `nngraphbase ⊕ batch`: the batch routes itself [[GraphR]]
    *    deep, then equi-joins the WRITTEN routing table (base pools
    *    stream out of their cent_id buckets un-shuffled) plus its own
    *    routing (batch↔batch edges), top-[[GraphG]] per batch vector.
    *
    * Every append is PUBLISHED through
    * [[graft.sources.Layout.appendRewrite]] (base ∪ batch under
    * `<what>upd`, same bucket spec, atomic versioned swap), and the
    * query returns the artifact census (artifact, n_rows, checksum)
    * over the four UPDATED tables.
    *
    * The ORACLE re-derives every artifact FROM SCRATCH over the full
    * corpus with the held quantizer (trained in SQL on the standing
    * subset — the q104 full-rebuild contract), so the driver gate
    * itself proves append-maintained == rebuild for the three
    * per-vector artifacts AND for the graph's batch rows (whose pools
    * see the whole updated corpus). The graph's BASE rows are the one
    * deliberate asymmetry: they are the held snapshot's rows —
    * back-edges from corpus vectors to new batch vectors appear at
    * the next snapshot rebuild, not per batch (DiskANN's deferred
    * back-edge discipline) — and the census makes that staleness
    * EXPLICIT by reporting `nngraph_base` (held, oracled as the
    * corpus-only derivation) and `nngraph_batch` (rebuild-exact)
    * as separate artifact rows. */
  /** Build (or re-read) the four MAINTAINED `…upd` artifacts — the
    * append's write side, factored from [[annIndexAppend]] so q120's
    * delete can force the builds without re-evaluating the q108
    * census aggregation on every pass. Returns (assign, codes, ivfpq,
    * graph) updated views. */
  private def annAppendFamily(s: SparkSession, dir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val cents = ivfCents(s, dir, Standing)
    val cb = pqTrain(s, dir, Standing)
    val rcb = resTrain(s, dir, Standing)
    val centById = cents.map(c => (c._1, c._2)).toMap
    val assignBase = ivfAssignTable(s, dir, Standing)
    val codesBase = pqCodesTable(s, dir, Standing)
    val ivfpqBase = ivfPqIndex(s, dir, Standing)
    val routesBase = gRoutesBase(s, dir)
    val graphBase = nnGraphBaseTable(s, dir)

    val bcCm = s.sparkContext.broadcast(centById)
    val bcCb = s.sparkContext.broadcast(cb)
    val bcRcb = s.sparkContext.broadcast(rcb)
    val batchQ = quantizedFrom(
      Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0))

    // map-only assign against the held quantizer
    val assignBatch = assignDf(batchQ, s.sparkContext.broadcast(cents))
    // map-only flat-PQ encode against the held codebook
    val codesBatch = batchQ
      .select(col("vec_id"), col("q")).as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cbv = bcCb.value
        it.map { case (id, q) => (id, pqEncode(q, cbv).toSeq) }
      }.toDF("vec_id", "codes")
    // map-only residual encode off the batch's own assignment
    val ivfpqBatch = assignBatch
      .select(col("vec_id"), col("cent_id"), col("q")).as[(Long, Long, Array[Long])]
      .mapPartitions { it =>
        val cm = bcCm.value; val rc = bcRcb.value
        it.map { case (id, cid, q) =>
          val cq = cm(cid)
          (id, cid, pqEncode(Array.tabulate(Dim)(i => q(i) - cq(i)), rc).toSeq)
        }
      }.toDF("vec_id", "cent_id", "codes")
    // batch graph rows: batch routes GraphR deep, pools = written
    // base routing (bucket-joined on cent_id) ∪ its own routing
    val routedBatch = routeProbesDf(assignBatch, cents, GraphR)
      .select(col("probe_id").as("vec_id"), col("cent_id"),
        col("pq").as("q"), col("pqn").as("qn"))
    val candSide = routesBase.unionByName(routedBatch)
      .select(col("vec_id").as("nbr"), col("cent_id"),
        col("q").as("nq"), col("qn").as("nqn"))
    val graphBatch = topG(routedBatch, candSide)

    def upd(what: String, buckets: Option[(Int, Seq[String])],
            batch: DataFrame, base: DataFrame) =
      Layout.appendRewrite(s, dir, what, buckets, batch)(base)
    val assignUpd = upd("ivfassignbase", Some((Layout.Buckets, Seq("cent_id"))),
      assignBatch, assignBase)
    val codesUpd = upd("pqcodesbase", None, codesBatch, codesBase)
    val ivfpqUpd = upd("ivfpqbase", Some((Layout.Buckets, Seq("cent_id"))),
      ivfpqBatch, ivfpqBase)
    val graphUpd = upd("nngraphbase", Some((Layout.Buckets, Seq("vec_id"))),
      graphBatch, graphBase)
    (assignUpd, codesUpd, ivfpqUpd, graphUpd)
  }

  def annIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val (assignUpd, codesUpd, ivfpqUpd, graphUpd) = annAppendFamily(s, dir)
    val codesKey = concat_ws(",", transform(col("codes"), c => c.cast(StringType)))
    Seq(
      Dedup.censusRow("ivfassign", assignUpd,
        concat_ws("|", col("vec_id"), col("cent_id"))),
      Dedup.censusRow("ivfpq", ivfpqUpd,
        concat_ws("|", col("vec_id"), col("cent_id"), codesKey)),
      Dedup.censusRow("pqcodes", codesUpd,
        concat_ws("|", col("vec_id"), codesKey)),
      Dedup.censusRow("nngraph_base",
        graphUpd.filter(pmod(col("vec_id"), lit(5)) =!= 0),
        concat_ws("|", col("vec_id"), col("nbr"))),
      Dedup.censusRow("nngraph_batch",
        graphUpd.filter(pmod(col("vec_id"), lit(5)) === 0),
        concat_ws("|", col("vec_id"), col("nbr"))))
      .reduce(_ unionByName _)
      .orderBy("artifact")
  }

  /** The q108 oracle: held quantizer + codebooks trained in SQL on
    * the STANDING corpus ([[sampSql]]/[[trainedCentsSql]] over
    * `corp`), then every artifact re-derived from scratch over the
    * FULL corpus — assignment, flat codes, residual codes, and the
    * [[GraphR]]-pool / top-[[GraphG]] graph with base rows restricted
    * to corpus-only pools and batch rows seeing the whole updated
    * corpus (exactly the maintained composition). */
  val annIndexAppendSql: String = {
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1", "q", "qn")},
         |$trainedCbSql,
         |${pqEncSqlOver("n", "cb", "enc")},
         |$residualEncSql,
         |${routeSql("rr", "n v", s"<= $GraphR")},
         |${poolSql(batchSeesAll = true)},
         |${poolTopSql("gsc", "graph", withRank = false)},
         |$codeKeysSql
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'ivfassign' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |  FROM assign
         |  UNION ALL
         |  SELECT 'ivfpq', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(a.vec_id AS VARCHAR) || '|' || CAST(a.cent_id AS VARCHAR) || '|' || r.ck")}
         |  FROM assign a JOIN rcodes r ON r.vec_id = a.vec_id
         |  UNION ALL
         |  SELECT 'pqcodes', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || ck")}
         |  FROM ecodes
         |  UNION ALL
         |  SELECT 'nngraph_base', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR)")}
         |  FROM graph WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT 'nngraph_batch', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR)")}
         |  FROM graph WHERE vec_id % 5 = 0) t
         |ORDER BY artifact""".stripMargin)
  }

  /** The q119 oracle (query: [[graft.streaming.StreamDoor]]): the
    * streaming index door's sink rows — the batch's residual-PQ index
    * entries under the held base quantizer — re-derived from scratch
    * in SQL: corp-trained coarse quantizer + residual codebook (the
    * q108 'ivfpq' chain), assignment over the full corpus, residual
    * encode, restricted to the batch and exploded per subspace. The
    * gate thereby proves an ACTUAL Structured Streaming run (file
    * source → watermarked dedup → file sink) wrote exactly the
    * batch-maintenance rows — the first driver-visible streaming
    * artifact; the stream==batch parity matrix stays in
    * `StreamingSpec`. */
  val indexDoorSql: String = mat(
    s"""WITH $quantSql,
       |$heldCentsSql,
       |${routeSql("assign", "n v", "= 1", "q", "qn")},
       |$residualEncSql
       |SELECT r.vec_id, a.cent_id, CAST(r.sub AS INT) AS sub,
       |       CAST(r.code AS INT) AS code
       |FROM renc r JOIN assign a ON a.vec_id = r.vec_id
       |WHERE r.vec_id % 5 = 0
       |ORDER BY r.vec_id, r.sub""".stripMargin)

  /** q120: APPEND-THEN-DELETE — the lifecycle COMPOSES (round-11
    * third wave). q108 proves append == rebuild and q116/q117 prove
    * delete == rebuild, each against the held snapshot; this gate
    * proves the composition: a takedown landing on the MAINTAINED
    * (appended) artifact family — where the delete set cuts across
    * both standing-corpus and batch rows (mod-5 and mod-7 splits are
    * independent) — equals the from-scratch rebuild over
    * (corpus ∪ batch) ∖ deleted under the held quantizer.
    *
    *  - the three per-vector artifacts (`ivfassignbaseupd`,
    *    `pqcodesbaseupd`, `ivfpqbaseupd`) delete by pure anti join
    *    ([[graft.sources.Layout.deleteRewrite]] over the MVCC views,
    *    bucket specs preserved);
    *  - `nngraphbaseupd` keeps q108's DELIBERATE pool asymmetry
    *    through the delete (base vertices see corpus-only pools —
    *    their batch back-edges arrive via q112's fold, a separate
    *    maintenance event; batch vertices see the full pool): A1
    *    vertices that lost a top-[[GraphG]] neighbor refill from
    *    their CLASS's surviving pool — base A1 off the written
    *    survivor routing (`groutesbasedel`, shared with q117's
    *    once-gate), batch A1 off survivor-base ∪ survivor-batch
    *    routing — and every other surviving row carries verbatim.
    *
    * The ORACLE re-derives everything from scratch (held corp-trained
    * quantizer, pool pairs scored ONCE with the asymmetry condition
    * and ranked held → A1 / survivors → rebuilt), and the census
    * splits base/batch × refreshed/untouched so both the asymmetric
    * contract and the O(affected) claim stay visible. */
  def annAppendDelete(s: SparkSession, dir: String): DataFrame = {
    // materialize the q108 upd family first (its once-gates; no
    // census evaluation rides along)
    annAppendFamily(s, dir)
    val cents = ivfCents(s, dir, Standing)
    val del = vecDelSet(s, dir)
    def updView(what: String) = s.table(Layout.tableName(dir, what + "upd"))
    def delT(what: String, buckets: Option[(Int, Seq[String])]) =
      Layout.deleteRewrite(s, dir, what + "upd", buckets, del, Seq("vec_id"))(
        updView(what))
    val assignDel = delT("ivfassignbase", Some((Layout.Buckets, Seq("cent_id"))))
    val codesDel = delT("pqcodesbase", None)
    val ivfpqDel = delT("ivfpqbase", Some((Layout.Buckets, Seq("cent_id"))))

    // the graph: class-aware refill under the held asymmetry
    val routesBaseSurv = Layout.deleteRewrite(s, dir, "groutesbase",
      Some((Layout.Buckets, Seq("cent_id"))), del, Seq("vec_id"))(gRoutesBase(s, dir))
    val batchSurvQ = quantizedFrom(
      Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0))
      .join(del, Seq("vec_id"), "left_anti")
    val assignBatchSurv = assignDf(batchSurvQ, s.sparkContext.broadcast(cents))
    val routedBatchSurv = routeProbesDf(assignBatchSurv, cents, GraphR)
      .select(col("probe_id").as("vec_id"), col("cent_id"),
        col("pq").as("q"), col("pqn").as("qn"))

    val heldUpd = updView("nngraphbase")
    val survG = heldUpd.join(del, Seq("vec_id"), "left_anti")
    val a1 = survG.join(del.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("vec_id")).distinct()
    val nbrOf = (r: DataFrame) => r.select(col("vec_id").as("nbr"), col("cent_id"),
      col("q").as("nq"), col("qn").as("nqn"))
    val refillBase = topG(
      routesBaseSurv.join(a1, Seq("vec_id"), "left_semi")
        .filter(pmod(col("vec_id"), lit(5)) =!= 0),
      nbrOf(routesBaseSurv))
    val refillBatch = topG(
      routedBatchSurv.join(a1, Seq("vec_id"), "left_semi"),
      nbrOf(routesBaseSurv.unionByName(routedBatchSurv)))
    // tombstone-event publish (round-12): the delete lands AGAINST the
    // MVCC-maintained upd view — the updstore's generation files (base
    // segment AND batch segment) stay physically untouched; the event
    // writes only the takedown tombstones and A1's class-aware refill
    val gDel = Layout.refillRewrite(s, dir, "nngraphupddel",
      Some((Layout.Buckets, Seq("vec_id"))),
      Seq("vec_id" -> del, "nbr" -> del, "vec_id" -> a1),
      refillBase.unionByName(refillBatch))(heldUpd)

    val codesKey = concat_ws(",", transform(col("codes"), c => c.cast(StringType)))
    // r19 optimization: the four graph census classes (base/batch ×
    // refreshed/untouched) partition ONE published relation — classify
    // per row (A1 membership via a broadcast left join) and census in
    // one grouped pass instead of four filter+semi/anti scans (guide
    // §1.2). The three per-table censuses keep their own (single)
    // source scans.
    val gM = gDel.join(
      broadcast(a1.withColumn("in_a1", lit(1))), Seq("vec_id"), "left")
    val gCls = concat(
      when(pmod(col("vec_id"), lit(5)) === 0, lit("nngraph_batch"))
        .otherwise(lit("nngraph_base")),
      when(col("in_a1").isNotNull, lit("_refreshed")).otherwise(lit("_untouched")))
    Seq(
      Dedup.censusRow("ivfassign", assignDel,
        concat_ws("|", col("vec_id"), col("cent_id"))),
      Dedup.censusRow("ivfpq", ivfpqDel,
        concat_ws("|", col("vec_id"), col("cent_id"), codesKey)),
      Dedup.censusRow("pqcodes", codesDel,
        concat_ws("|", col("vec_id"), codesKey)),
      Dedup.censusRows(gM, gCls,
        concat_ws("|", col("vec_id"), col("nbr"), col("nqn")),
        Seq("nngraph_base_refreshed", "nngraph_base_untouched",
          "nngraph_batch_refreshed", "nngraph_batch_untouched")))
      .reduce(_ unionByName _)
      .orderBy("artifact")
  }

  /** The q120 oracle: the q108 machinery (held corp-trained quantizer,
    * assignment/codes over the full updated corpus, asymmetric pool
    * pairs) with the takedown applied — pairs scored once, ranked
    * HELD (→ A1, the affected set) and SURVIVOR (→ the rebuilt rows),
    * per-vector artifacts censused over survivors. */
  val annAppendDeleteSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1", "q", "qn")},
         |$trainedCbSql,
         |${pqEncSqlOver("n", "cb", "enc")},
         |$residualEncSql,
         |${routeSql("rr", "n v", s"<= $GraphR")},
         |${poolSql(batchSeesAll = true)},
         |${heldSurvivorSql(dM, dR, withRank = false)},
         |$codeKeysSql
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'ivfassign' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |  FROM assign WHERE vec_id % $dM <> $dR
         |  UNION ALL
         |  SELECT 'ivfpq', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(a.vec_id AS VARCHAR) || '|' || CAST(a.cent_id AS VARCHAR) || '|' || r.ck")}
         |  FROM assign a JOIN rcodes r ON r.vec_id = a.vec_id
         |  WHERE a.vec_id % $dM <> $dR
         |  UNION ALL
         |  SELECT 'pqcodes', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || ck")}
         |  FROM ecodes WHERE vec_id % $dM <> $dR
         |  UNION ALL
         |  SELECT 'nngraph_base_refreshed', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id % 5 <> 0 AND vec_id IN (SELECT vec_id FROM a1)
         |  UNION ALL
         |  SELECT 'nngraph_base_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id % 5 <> 0 AND vec_id NOT IN (SELECT vec_id FROM a1)
         |  UNION ALL
         |  SELECT 'nngraph_batch_refreshed', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id % 5 = 0 AND vec_id IN (SELECT vec_id FROM a1)
         |  UNION ALL
         |  SELECT 'nngraph_batch_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id % 5 = 0 AND vec_id NOT IN (SELECT vec_id FROM a1)) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q112: GRAPH BACK-EDGE FOLD — closes q108's one deliberate
    * asymmetry. q108 appends the BATCH's graph rows but leaves the
    * base rows held (DiskANN's deferred back-edges: a corpus vector
    * gains its edges toward new arrivals only at the next snapshot
    * rebuild). This operator IS that fold, still O(batch-affected):
    *
    *  - cross candidates = written corpus routing (`groutesbase`,
    *    streamed out of its cent_id buckets) ⋈ the batch's own
    *    routing — every (corpus u, batch v) sharing a routed cell;
    *  - ONLY the affected u (those with ≥ 1 cross candidate) re-rank:
    *    top-[[GraphG]] over (held edges ∪ cross candidates) — by the
    *    top-k merge property, top-G(top-G(corpus) ∪ batch) equals
    *    top-G(corpus ∪ batch), so the maintained row set is EXACTLY
    *    the full-pool rebuild's, not an approximation;
    *  - untouched u keep their held rows verbatim; batch rows are
    *    q108's (their pools already see the whole corpus).
    *
    * Published atomically as the `nngraphfold` table
    * ([[graft.sources.Layout.replaceRewrite]] — affected rows are
    * REPLACED, which appendRewrite's base ∪ batch shape cannot
    * express). The ORACLE re-derives the ENTIRE graph from scratch
    * with FULL pools (no base/batch restriction) under the held
    * quantizer, and the census separates refreshed / untouched /
    * batch rows (the affected set re-derived in SQL) — so the gate
    * proves fold-maintained == whole-graph rebuild, upgrading the
    * q108 contract from "batch rows exact, base rows stale" to
    * "every row exact". */
  def annGraphBackfold(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfCents(s, dir, Standing)
    val assignBase = ivfAssignTable(s, dir, Standing)
    val routesBase = gRoutesBase(s, dir)
    val graphBase = nnGraphBaseTable(s, dir)

    val batchQ = quantizedFrom(
      Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0))
    val assignBatch = assignDf(batchQ, s.sparkContext.broadcast(cents))
    val routedBatch = routeProbesDf(assignBatch, cents, GraphR)
      .select(col("probe_id").as("vec_id"), col("cent_id"),
        col("pq").as("q"), col("pqn").as("qn"))

    val folded = Layout.replaceRewrite(s, dir, "nngraphfold",
        Some((Layout.Buckets, Seq("vec_id")))) {
      // (corpus u, batch v) candidates sharing a routed cell — the
      // back edges the held graph is missing
      val rbNbr = routedBatch.select(col("vec_id").as("nbr"), col("cent_id"),
        col("q").as("nq"), col("qn").as("nqn"))
      val crossU = routesBase.select(col("vec_id"), col("cent_id"))
        .join(rbNbr, Seq("cent_id"))
        .select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
        .dropDuplicates("vec_id", "nbr")
      val affected = crossU.select(col("vec_id")).distinct()
      val uPay = assignBase.select(col("vec_id"), col("q"), col("qn"))
      val refreshed = topK(graphBase.join(affected, Seq("vec_id"), "left_semi")
        .unionByName(crossU)
        .join(uPay, Seq("vec_id")), GraphG)
      val untouched = graphBase.join(affected, Seq("vec_id"), "left_anti")
      // batch rows: q108's derivation (pools = corpus routing ∪ own)
      val candSide = routesBase.unionByName(routedBatch)
        .select(col("vec_id").as("nbr"), col("cent_id"),
          col("q").as("nq"), col("qn").as("nqn"))
      val graphBatch = topG(routedBatch, candSide)
      untouched.unionByName(refreshed).unionByName(graphBatch)
    }

    // census over the PUBLISHED artifact; the affected set re-derived
    // here exactly as in the oracle. Round-19: the three classes
    // partition `folded`, so ONE grouped pass (the q116/q120/q123
    // censusRows shape) replaces three semi/anti-filtered scans —
    // class = batch (vec_id ≡ 0 mod 5) else refreshed/untouched by
    // affected-set membership, marked via one broadcast left join.
    val affectedNow = routesBase.select(col("vec_id"), col("cent_id"))
      .join(routedBatch.select(col("cent_id")).distinct(), Seq("cent_id"))
      .select(col("vec_id")).distinct()
    val marked = folded.join(
      broadcast(affectedNow.withColumn("aff", lit(1))), Seq("vec_id"), "left")
    val cls = when(pmod(col("vec_id"), lit(5)) === 0, lit("nngraph_batch"))
      .otherwise(when(col("aff").isNotNull, lit("nngraph_base_refreshed"))
        .otherwise(lit("nngraph_base_untouched")))
    Dedup.censusRows(marked, cls,
      concat_ws("|", col("vec_id"), col("nbr")),
      Seq("nngraph_base_refreshed", "nngraph_base_untouched", "nngraph_batch"))
      .orderBy("artifact")
  }

  /** The q112 oracle: held quantizer (trained on the standing
    * corpus), FULL pools over the whole updated corpus — every row of
    * the fold-maintained graph must equal the from-scratch rebuild,
    * refreshed/untouched/batch partitions included. */
  val annGraphBackfoldSql: String = {
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("rr", "n v", s"<= $GraphR")},
         |${poolSql(batchSeesAll = false)},
         |${poolTopSql("gsc", "graph", withRank = false)},
         |affected AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM rr a JOIN rr b ON a.cent_id = b.cent_id
         |  WHERE a.vec_id % 5 <> 0 AND b.vec_id % 5 = 0)
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'nngraph_base_refreshed' AS artifact,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR)")} AS checksum
         |  FROM graph g
         |  WHERE g.vec_id % 5 <> 0
         |    AND EXISTS (SELECT 1 FROM affected a WHERE a.vec_id = g.vec_id)
         |  UNION ALL
         |  SELECT 'nngraph_base_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR)")}
         |  FROM graph g
         |  WHERE g.vec_id % 5 <> 0
         |    AND NOT EXISTS (SELECT 1 FROM affected a WHERE a.vec_id = g.vec_id)
         |  UNION ALL
         |  SELECT 'nngraph_batch', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR)")}
         |  FROM graph WHERE vec_id % 5 = 0) t
         |ORDER BY artifact""".stripMargin)
  }

  // ------------------------------------------------------------------
  // q107: GRAPH-based ANN (round-9 stretch item 8 — the third ANN
  // regime next to quantization (IVF/PQ) and hashing (LSH)).
  // ------------------------------------------------------------------

  /** Beam width per hop and unrolled hop count of the BATCHED beam
    * search: per hop, the [[BeamB]] best scored-but-unexpanded
    * candidates per probe expand their graph edges. Sequential
    * best-first (HNSW ef-search) is inherently per-candidate
    * data-dependent; the batched form is its bulk-synchronous
    * approximation — expressible as [[BeamH]] unrolled relational
    * blocks on BOTH engines, which is what makes the recall row
    * hash-gateable. Dial choice measured with a driver-math replica
    * through the product's own routing/cosine:
    * R4/G16/B4/H4 reaches recall@5 = 0.92/0.55 at sf0.01/sf0.1 vs
    * IVF's 0.92@nprobe=21 / 0.48@nprobe=7 at the SAME eval budget —
    * the graph matches IVF at the small scale and BEATS it at the
    * larger one (the regime's textbook behavior: navigability pays
    * off as the corpus grows). */
  private[graft] val BeamB = 4
  private[graft] val BeamH = 4

  /** NN-DESCENT refinement dials (round-10 item 4). The pool graph
    * alone leaves measured recall headroom (0.55 at sf0.1 vs the 0.65
    * exact-kNN-graph bound): vectors near a cell
    * boundary miss true neighbors that share none of their routed
    * cells. One ADDITIVE NN-descent round closes most of it: each
    * vertex proposes its best [[NdExp]] neighbors' adjacency lists
    * (n·NdExp·G candidate pairs — one equi-join, linear), exact-scores
    * the pairs, and APPENDS the best [[NdAdd]] candidates not already
    * adjacent. Additive, never replace: the probe measured the
    * replace-variant DESTROYING recall at sf0.01 (0.92 → 0.88 — the
    * pool edges' far/diverse tail is what the beam navigates with,
    * the same reason DiskANN α-prunes for diversity instead of keeping
    * pure-nearest), while append lifts both scales. Dial choice from
    * the probe's product-exact grid (rank-based expansion + the gated
    * np_eq integer formula + the IVF row at exactly that nprobe, so a
    * grid cell IS the pair GraphAnnSpec gates): NdExp=16/NdAdd=4 →
    * 0.92 → 0.96 at sf0.01 (ties equal-budget IVF) and 0.55 → 0.63 at
    * sf0.1 (IVF 0.53) — narrower expansion (NdExp 4/8) loses the
    * sf0.01 tie because the denser graph's extra evals push np_eq to
    * 25 where tiny-scale IVF reaches 0.96. Equal-budget fairness is
    * automatic: np_eq derives from the realized eval count. */
  private[graft] val NdExp = 16
  private[graft] val NdAdd = 4

  /** The NN-descent round over the survivors' pool graph `g0s` (after
    * [[heldSurvivorSql]]): `a2` is the refresh cone A1 ∪
    * in-neighbours(A1), and `nd` each vertex's [[NdAdd]] best
    * non-adjacent neighbours of its best [[NdExp]] neighbours. */
  private def survivorExtrasSql: String =
    s"""a2 AS (SELECT vec_id FROM a1
       |       UNION SELECT g.vec_id FROM g0s g JOIN a1 ON a1.vec_id = g.nbr),
       |ndc AS (
       |  SELECT DISTINCT a.vec_id, b.nbr
       |  FROM g0s a JOIN g0s b ON b.vec_id = a.nbr
       |  WHERE a.rn <= $NdExp AND b.nbr <> a.vec_id
       |    AND NOT EXISTS (SELECT 1 FROM g0s e
       |                    WHERE e.vec_id = a.vec_id AND e.nbr = b.nbr)),
       |ndsc AS (
       |  SELECT c.vec_id, c.nbr, vb.qn AS nqn,
       |${qcosSql("va.q", "vb.q")} AS sc
       |  FROM ndc c JOIN n va ON va.vec_id = c.vec_id
       |  JOIN n vb ON vb.vec_id = c.nbr),
       |nd AS (
       |  SELECT vec_id, nbr, nqn FROM (
       |    SELECT vec_id, nbr, nqn,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY sc DESC, nbr) AS rn
       |    FROM ndsc) t
       |  WHERE rn <= $NdAdd)""".stripMargin

  /** The written kNN neighbor-graph table (`graft_nngraph`): per
    * vector its [[GraphG]] nearest neighbors among the members of its
    * [[GraphR]] nearest cells (cos desc, ties low id) PLUS up to
    * [[NdAdd]] NN-descent-refined extras, carrying the neighbor's
    * quantized payload so hop scoring is map-side (the classic
    * graph-ANN memory trade: ~G payload copies per vector, linear in
    * the corpus — DiskANN ships exactly this layout). Each row also
    * carries its PROVENANCE marker `src` ('g' = pool edge, 'x' =
    * NN-descent extra): the delete lifecycle ([[annDeleteGraph]],
    * q116) maintains the two row classes differently — pool rows
    * refill from the surviving pool, extras recompute from the
    * refreshed pool graph — and the classes are not reconstructible
    * from the edge alone (an extra may share a routed cell with its
    * vertex yet rank below G). */
  /** The pool graph + one additive NN-descent round over an explicit
    * routing relation (vec_id, cent_id, q, qn) and payload relation
    * (vec_id, q, qn) — the SHARED derivation of the written snapshot
    * graph ([[nnGraphTable]]) and of the spec-side from-scratch
    * survivor rebuild `AnnDeleteSpec`'s sparse-delete coverage test
    * compares the maintained delete against. Rows carry the `src`
    * provenance marker. */
  private[graft] def nnGraphOf(routed: DataFrame, payload: DataFrame): DataFrame = {
    val a = routed.select(col("vec_id"), col("cent_id"), col("q"), col("qn"))
    val b = routed.select(col("vec_id").as("nbr"), col("cent_id"),
      col("q").as("nq"), col("qn").as("nqn"))
    // referenced three times below (edge output, expansion seed,
    // already-adjacent anti-join) — checkpointed so the pool join
    // runs once, freed by the caller's RDD-diff bracket
    val g0 = topG(a, b, withRank = true).localCheckpoint()
    // one ADDITIVE NN-descent round (see NdExp/NdAdd): candidates =
    // adjacency of the best NdExp neighbors, minus self, minus
    // already-adjacent; candidate payload rides the hop edge, so
    // only the probe-side payload joins (one n-row equi-join)
    val mid = g0.filter(col("rn") <= NdExp)
      .select(col("vec_id"), col("nbr").as("mid"))
    val extras = topK(mid.join(
        g0.select(col("vec_id").as("mid"), col("nbr"), col("nq"), col("nqn")),
        Seq("mid"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
      .dropDuplicates("vec_id", "nbr")
      .join(g0.select(col("vec_id"), col("nbr")), Seq("vec_id", "nbr"), "left_anti")
      .join(payload.select(col("vec_id"), col("q"), col("qn")), Seq("vec_id")), NdAdd)
    g0.select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
      .withColumn("src", lit("g"))
      .union(extras.withColumn("src", lit("x")))
  }

  private[graft] def nnGraphTable(s: SparkSession, dir: String): DataFrame = {
    val cents = ivfCents(s, dir, Full)
    val assign = ivfAssignTable(s, dir, Full)
    val sc = s.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    val t = Layout.materializedTable(s, dir, "nngraph",
        Some((Layout.Buckets, Seq("vec_id")))) {
      val routed = routeProbesDf(assign, cents, GraphR)
        .select(col("probe_id").as("vec_id"), col("cent_id"),
          col("pq").as("q"), col("pqn").as("qn"))
      nnGraphOf(routed, assign)
    }
    // free the builder's g0 checkpoint (only present on the run that
    // actually built the table; subsequent calls diff to the empty set)
    (sc.getPersistentRDDs.keySet.toSet -- pre)
      .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    t
  }

  /** q107: measured recall@5 of the graph path vs IVF at the SAME
    * eval budget, as a 2-row gated relation
    * (method, n_probes, n_evals, n_hits, recall_at_5):
    *
    *  - `graph_beam`: entry = the probe's nprobe=1 cell fully scored
    *    (exactly IVF's first list), then [[BeamH]] batched beam hops
    *    over the written [[nnGraphTable]] — each hop broadcasts the
    *    tiny (probes × [[BeamB]]) frontier against the graph table
    *    and scores new candidates map-side against the broadcast
    *    probe vectors. n_evals = the distinct scored-candidate count.
    *  - `ivf_np_eq`: plain IVF over the same written index at
    *    nprobe = round(n_evals·K / (P·n)) — the nprobe whose
    *    candidate budget MATCHES what the beam actually spent, making
    *    the comparison equal-budget by construction at any snapshot
    *    size (derived with the same integer arithmetic in SQL).
    *
    * `GraphAnnSpec` pins recall(graph) ≥ recall(ivf_np_eq) at both
    * driver scales — deterministic integers, so the inequality is a
    * stable gate, and at sf0.1 it is strict (0.55 vs 0.48). The final
    * 2-row relation is assembled from bounded aggregates (counts of
    * distributed relations) — every candidate-generation and scoring
    * step above runs distributed. */
  def graphAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = ivfCents(s, dir, Full)
    val assign = ivfAssignTable(s, dir, Full)
    val graph = nnGraphTable(s, dir)
    val kK = cents.length.toLong
    val nCorpus = corpusN(s, dir, Full)

    // Round-20: the probe set is BOUNDED (≤ [[MaxProbes]] rows), so
    // collect it ONCE and do everything probe-shaped on the driver —
    // n_probes becomes a literal (was a separate count job), both
    // routing passes run [[routeCents]] over the collected array (the
    // same per-probe arithmetic routeProbesDf runs in mapPartitions;
    // was a distributed routing job + a probed-cell collect each), and
    // the probe-vector build side is a local relation. Three eager
    // jobs and two scans disappear from every invocation; the only
    // driver state is the ≤ MaxProbes probe rows the q90/q92 family
    // already collects ([[pqProbes]]).
    // the memoized probe set: boundedProbes(assign) projected to
    // (vec_id, q, qn) is row-identical to boundedProbes(quantized) —
    // the assignment adds cent_id to the same rows — so the shared
    // [[pqProbes]] memo serves this path too (its collect job ran per
    // invocation here)
    val probeRows: Array[(Long, Array[Long], Long)] = pqProbes(s, dir)

    def routedRows(np: Int): Seq[(Long, Long, Array[Long], Long)] =
      probeRows.toSeq.flatMap { case (pid, q, qn) =>
        routeCents(q, qn, cents, np).map(c => (pid, c, q, qn)) }

    def scoredCells(routed: Seq[(Long, Long, Array[Long], Long)]): DataFrame = {
      // ≤ K distinct probed cells — planning-time bucket pruning
      val cells = routed.map(_._2).distinct.sorted.toSeq
      val routedDf = routed.toDF("probe_id", "cent_id", "pq", "pqn")
      assign.filter(col("cent_id").isin(cells: _*))
        .join(broadcast(routedDf), Seq("cent_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", qcosineNative(col("pq"), col("q"), col("pqn"), col("qn")))
        .select(col("probe_id"), col("vec_id").as("v"), col("cos"))
    }

    // each hop references the running `scored` relation THREE times
    // (beam source, already-scored anti join, union) — left lazy, the
    // final DAG would re-evaluate the previous hop's subtree ~3^H
    // times (the exact blowup the oracle's AS MATERIALIZED hint
    // prevents in DuckDB; measured 26 s → ~1 s). Eager localCheckpoint
    // per hop materializes each generation once and truncates lineage
    // — the q89 deep-PageRank discipline.
    // Round-10 advice fix: each hop's eager localCheckpoint used to
    // leave its predecessor's blocks in the block manager for the GC /
    // ContextCleaner to find, so a bench run (warmup + timed passes)
    // accumulated BeamH+1 stale generations per invocation. Now each
    // generation's newly-persisted RDD ids are tracked (diffs of
    // getPersistentRDDs, so unrelated caches are never touched) and
    // generation h-1 is freed as soon as generation h materializes.
    // `expanded` is checkpointed per hop too — a localCheckpoint
    // cannot be recomputed once unpersisted, so nothing lazy may keep
    // a lineage edge into a freed generation. Only the latest
    // generation is ever live.
    val sc = s.sparkContext
    def persistedIds(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def free(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

    // Round-20 second pass, driver-frontier formulation: every MUTABLE
    // piece of the loop is hard-bounded at any corpus size — the beam ≤
    // probes·BeamB, the expanded set ≤ probes·BeamB·BeamH, each hop's
    // new candidates ≤ probes·BeamB·(GraphG+NdAdd) — and only the ENTRY
    // generation is corpus-shaped. So the frontier bookkeeping moves to
    // the driver (the classic batched-beam layout: frontier local,
    // expansion distributed):
    //  - only a gen0 row inside its probe's top-(BeamB·BeamH) can ever
    //    enter a beam (before hop h at most BeamB·(h-1) rows are
    //    expanded, and a beam member must outrank every unexpanded row
    //    above it, so any hop's member sits within its generation's
    //    top BeamB·h) — ONE bounded window job over gen0 replaces the
    //    per-hop window over the whole growing state;
    //  - each hop is then exactly ONE distributed job: the bounded beam
    //    broadcast against the graph table, neighbor payloads collected
    //    (≤ probes·BeamB·(GraphG+NdAdd) rows), with dedup and scoring
    //    on the driver — jcosine is bit-identical to qcosineNative;
    //  - no checkpoint lives in the loop at all (gen0's is the only
    //    one), so the lazy-union plan growth and the per-hop AQE
    //    broadcast materializations disappear with the barriers.
    // A candidate pair that duplicates a non-prefix gen0 row carries
    // the identical (probe_id, v, cos) — the final state dedups on
    // (probe_id, v) before ranking, which the old per-hop anti join
    // guaranteed by construction. (Earlier formulations this round:
    // checkpoint-per-increment with collected beams measured 3.33 s vs
    // 3.57 s old; fusing the two checkpoints measured SLOWER, 2.980 vs
    // 2.865 s — both superseded by this one.)
    val pre = persistedIds()
    val gen0 = scoredCells(routedRows(1)).localCheckpoint()
    val tracked = persistedIds() -- pre
    val wB = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("v"))
    val gen0Top: Array[(Long, Long, Double)] = gen0
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= BeamB * BeamH)
      .select(col("probe_id"), col("v"), col("cos"))
      .as[(Long, Long, Double)].collect()
    val probeVec: Map[Long, (Array[Long], Long)] =
      probeRows.map { case (p, q, qn) => p -> (q, qn) }.toMap
    val localScored = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val localSet = scala.collection.mutable.HashSet.empty[(Long, Long)]
    val expanded = scala.collection.mutable.HashSet.empty[(Long, Long)]
    (1 to BeamH).foreach { _ =>
      // top-BeamB unexpanded per probe over (gen0 prefix ∪ new
      // candidates), cos desc / v asc — the same total order the old
      // distributed window ranked by (cosDescIdAsc is that order)
      val byProbe = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[(Double, Long)]]
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      (gen0Top.iterator ++ localScored.iterator).foreach { case (p, v, c) =>
        if (!expanded.contains((p, v)) && seen.add((p, v)))
          byProbe.getOrElseUpdate(p,
            scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]) += ((c, v))
      }
      val beamRows: Array[(Long, Long)] = byProbe.iterator.flatMap {
        case (p, buf) => buf.sorted(cosDescIdAsc).take(BeamB).map(t => (p, t._2))
      }.toArray.sortBy(identity)
      val beam = beamRows.toSeq.toDF("probe_id", "v")
      // the hop's one distributed job: bounded-broadcast expansion
      // against the graph table, payloads back to the driver
      val edges: Array[(Long, Long, Array[Long], Long)] = broadcast(beam)
        .join(graph, beam("v") === graph("vec_id"))
        .filter(col("nbr") =!= col("probe_id"))
        .select(col("probe_id"), col("nbr"), col("nq"), col("nqn"))
        .as[(Long, Long, Array[Long], Long)].collect()
      expanded ++= beamRows
      val hopSeen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      edges.foreach { case (p, nbr, nq, nqn) =>
        if (hopSeen.add((p, nbr)) && !localSet.contains((p, nbr))) {
          val (q, qn) = probeVec(p)
          localScored += ((p, nbr, jcosine(q, qn, nq, nqn)))
          localSet += ((p, nbr))
        }
      }
    }
    val localDf = localScored.toSeq.sortBy(t => (t._1, t._2))
      .toDF("probe_id", "v", "cos")
    // dedup against the (corpus-shaped) entry generation: duplicate
    // pairs carry identical values, so any survivor is the right row
    val state = gen0.unionByName(localDf).dropDuplicates("probe_id", "v")

    val exact5 = exactTopKTable(s, dir).select(col("probe_id"), col("vec_id").as("v"))
      .persist()
    // eval count + top-5 hit count of a candidate set in ONE
    // aggregation job (was a count() plus a windowed semi-join count —
    // two full passes): rank within probe, left-join the exact top-5
    // with a hit marker, aggregate both integers together.
    def evalsAndHits(cand: DataFrame): (Long, Long) = {
      val w5 = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("v"))
      val r = cand.withColumn("rn", row_number().over(w5))
        .join(broadcast(exact5.withColumn("hit", lit(true))),
          Seq("probe_id", "v"), "left")
        .agg(count(lit(1)).as("evals"),
          sum(when(col("rn") <= 5 && col("hit"), 1L).otherwise(0L)).as("hits"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    val nProbes = probeRows.length.toLong // driver literal: probes already collected
    val (totEvals, gHits) = evalsAndHits(state)
    free(tracked) // nothing reads any generation past this point
    // equal-budget nprobe: round(totEvals·K / (P·n)) in exact integer
    // arithmetic (the SQL twin computes the identical expression)
    val npEq = math.max(1L,
      (2L * totEvals * kK + nProbes * nCorpus) / (2L * nProbes * nCorpus))
    val (ivfEvals, iHits) = evalsAndHits(scoredCells(routedRows(npEq.toInt)))
    exact5.unpersist()

    Seq(
      ("graph_beam", nProbes, totEvals, gHits,
        gHits.toDouble / (5L * nProbes).toDouble),
      ("ivf_np_eq", nProbes, ivfEvals, iHits,
        iHits.toDouble / (5L * nProbes).toDouble))
      .toDF("method", "n_probes", "n_evals", "n_hits", "recall_at_5")
      .orderBy("method")
  }

  /** One batched-beam hop as SQL CTEs (twin of the [[graphAnn]] loop
    * body): beam h = top-[[BeamB]] scored-not-expanded per probe;
    * new candidates = beam's graph edges, deduped, not yet scored,
    * exact-scored against the probe. */
  private def beamHopSql(h: Int): String = {
    val (ps, pe) = (s"s${h - 1}", s"e${h - 1}")
    s"""b$h AS (
       |  SELECT probe_id, v FROM (
       |    SELECT s.probe_id, s.v,
       |           row_number() OVER (PARTITION BY s.probe_id
       |                              ORDER BY s.cos DESC, s.v) AS rn
       |    FROM $ps s
       |    WHERE NOT EXISTS (SELECT 1 FROM $pe e
       |                      WHERE e.probe_id = s.probe_id AND e.v = s.v)) t
       |  WHERE rn <= $BeamB),
       |nc$h AS (
       |  SELECT DISTINCT b.probe_id, g.nbr AS v
       |  FROM b$h b JOIN graph g ON g.vec_id = b.v
       |  WHERE g.nbr <> b.probe_id
       |    AND NOT EXISTS (SELECT 1 FROM $ps s
       |                    WHERE s.probe_id = b.probe_id AND s.v = g.nbr)),
       |ns$h AS (
       |  SELECT c.probe_id, c.v,
       |${qcosSql("p.q", "w.q")} AS cos
       |  FROM nc$h c JOIN n p ON p.vec_id = c.probe_id
       |  JOIN n w ON w.vec_id = c.v),
       |s$h AS (SELECT * FROM $ps UNION ALL SELECT * FROM ns$h),
       |e$h AS (SELECT * FROM $pe UNION ALL SELECT probe_id, v FROM b$h)""".stripMargin
  }

  /** The q107 oracle: the exact baseline + trained quantizer +
    * assignment CTEs, the graph-pool routing (rn ≤ [[GraphR]]), the
    * top-[[GraphG]] neighbor graph plus the additive NN-descent round
    * (ndc/nd CTEs — candidates via the best-[[NdExp]] edges, top-
    * [[NdAdd]] appended), [[BeamH]] unrolled beam-hop blocks, and the
    * equal-budget IVF comparison derived from the SAME realized eval
    * count. */
  /** The beam-search + equal-budget comparison tail of the q107
    * oracle (pr1 probe routing through the final 2-row relation) —
    * requires `n`, `pset`, `cents`, `assign`, `graph`, `exact5`. */
  private def graphAnnTailSql: String =
    s"""${routeSql("pr1", ProbeRowsWrapped, "= 1")},
       |s0 AS (
       |  SELECT pr.probe_id, a.vec_id AS v,
       |${qcosSql("p.q", "a.q")} AS cos
       |  FROM pr1 pr JOIN assign a ON a.cent_id = pr.cent_id
       |  JOIN n p ON p.vec_id = pr.probe_id
       |  WHERE a.vec_id <> pr.probe_id),
       |e0 AS (SELECT probe_id, v FROM s0 WHERE 1 = 0),
       |${(1 to BeamH).map(beamHopSql).mkString(",\n")},
       |gtop AS (
       |  SELECT probe_id, v FROM (
       |    SELECT probe_id, v,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY cos DESC, v) AS rn
       |    FROM s$BeamH) t WHERE rn <= 5),
       |stats AS (
       |  SELECT (SELECT count(*) FROM s$BeamH) AS tot,
       |         (SELECT count(*) FROM pset) AS p,
       |         (SELECT count(*) FROM cents) AS kk,
       |         (SELECT count(*) FROM n) AS nn),
       |npeq AS (
       |  SELECT GREATEST(1, (2 * tot * kk + p * nn) // (2 * p * nn)) AS np
       |  FROM stats),
       |${routeSql("preq", ProbeRowsWrapped, "<= (SELECT np FROM npeq)")},
       |icand AS (
       |  SELECT pr.probe_id, a.vec_id AS v,
       |${qcosSql("p.q", "a.q")} AS cos
       |  FROM preq pr JOIN assign a ON a.cent_id = pr.cent_id
       |  JOIN n p ON p.vec_id = pr.probe_id
       |  WHERE a.vec_id <> pr.probe_id),
       |itop AS (
       |  SELECT probe_id, v FROM (
       |    SELECT probe_id, v,
       |           row_number() OVER (PARTITION BY probe_id
       |                              ORDER BY cos DESC, v) AS rn
       |    FROM icand) t WHERE rn <= 5),
       |ghits AS (SELECT count(*) AS h FROM gtop g
       |          JOIN exact5 e ON e.probe_id = g.probe_id AND e.vec_id = g.v),
       |ihits AS (SELECT count(*) AS h FROM itop i
       |          JOIN exact5 e ON e.probe_id = i.probe_id AND e.vec_id = i.v)
       |SELECT method, n_probes, n_evals, n_hits, recall_at_5 FROM (
       |  SELECT 'graph_beam' AS method,
       |         CAST(p AS BIGINT) AS n_probes,
       |         CAST(tot AS BIGINT) AS n_evals,
       |         CAST((SELECT h FROM ghits) AS BIGINT) AS n_hits,
       |         CAST((SELECT h FROM ghits) AS DOUBLE)
       |           / CAST(5 * p AS DOUBLE) AS recall_at_5
       |  FROM stats
       |  UNION ALL
       |  SELECT 'ivf_np_eq',
       |         CAST(p AS BIGINT),
       |         CAST((SELECT count(*) FROM icand) AS BIGINT),
       |         CAST((SELECT h FROM ihits) AS BIGINT),
       |         CAST((SELECT h FROM ihits) AS DOUBLE)
       |           / CAST(5 * p AS DOUBLE)
       |  FROM stats) t
       |ORDER BY method""".stripMargin

  val graphAnnSql: String = mat(
    s"""WITH $exactBaseSql,
       |${sampSql("n")},
       |${trainedCentsSql("n")},
       |${routeSql("assign", "n v", "= 1", "q", "qn")},
       |${routeSql("rr", "n v", s"<= $GraphR")},
       |${poolSql(batchSeesAll = false)},
       |${poolTopSql("g0sc", "g0", withRank = true)},
       |ndc AS (
       |  SELECT DISTINCT a.vec_id, b.nbr
       |  FROM g0 a JOIN g0 b ON b.vec_id = a.nbr
       |  WHERE a.rn <= $NdExp AND b.nbr <> a.vec_id
       |    AND NOT EXISTS (SELECT 1 FROM g0 e
       |                    WHERE e.vec_id = a.vec_id AND e.nbr = b.nbr)),
       |nd AS (
       |  SELECT vec_id, nbr FROM (
       |    SELECT c.vec_id, c.nbr,
       |           row_number() OVER (PARTITION BY c.vec_id ORDER BY
       |${qcosSql("va.q", "vb.q", 13)} DESC,
       |             c.nbr) AS rn
       |    FROM ndc c JOIN n va ON va.vec_id = c.vec_id
       |    JOIN n vb ON vb.vec_id = c.nbr) t
       |  WHERE rn <= $NdAdd),
       |graph AS (
       |  SELECT vec_id, nbr FROM g0
       |  UNION ALL SELECT vec_id, nbr FROM nd),
       |$graphAnnTailSql""".stripMargin)

  // ------------------------------------------------------------------
  // q116/q117: DELETE LIFECYCLE OVER THE GRAPH-ANN ARTIFACT FAMILY
  // (round-11 lead item). q106 covers ivfassign/ivfpq/pqcodes (+ the
  // dedup artifacts); the round-9/10 additions — the written kNN graph
  // (whose rows CARRY neighbor payloads: a takedown must purge the
  // deleted vector where it appears as a NEIGHBOR, not just as a
  // vertex), the routing table, and the exact-top-k ground truth —
  // get the same contract here: maintained-delete == rebuild-on-
  // survivors under the held snapshot quantizer, proven by the oracle.
  // ------------------------------------------------------------------

  /** The shared takedown relation (vec_id ≡ [[Dedup.DelRem]] mod
    * [[Dedup.DelMod]] — the q106 delete set, so the whole artifact
    * family is censused under ONE takedown event). */
  private def vecDelSet(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(Dedup.DelMod)) === lit(Dedup.DelRem))
      .select(col("vec_id"))

  /** q116: TARGETED DELETE over the SNAPSHOT-family graph artifacts —
    * the written kNN graph (`nngraph`, q107's index) and the written
    * exact-top-k ground truth (`exacttopk`). Both are REFILL deletes,
    * not plain anti joins: dropping a vector's own rows is O(scan),
    * but a surviving vertex/probe that LISTED the deleted vector must
    * re-rank to admit its next-best candidate, or the maintained
    * artifact drifts from the rebuild. The maintenance is O(affected)
    * compute on top of the purge scan:
    *
    *  - `exacttopk`: probes that are deleted vanish; surviving probes
    *    with a deleted vector in their held top-5 (the AFFECTED set —
    *    takedown-sized) re-score against the surviving corpus
    *    (broadcast affected probes, one streamed pass); every other
    *    probe's rows are kept verbatim — provably equal to the
    *    rebuild's rows, because removing non-top-5 candidates cannot
    *    change a top-5.
    *  - `nngraph`: pool rows (`src='g'`) of vertices that lost a
    *    top-[[GraphG]] neighbor (A1) refill from their FULL surviving
    *    pool (re-ranked off the written survivor assignment's
    *    routing); NN-descent extras (`src='x'`) recompute for
    *    A2 = A1 ∪ in-neighbors(A1) — the exact dependency cone of the
    *    one additive NN-descent round (a vertex's extras depend only
    *    on its own pool rows and its pool neighbors' pool rows), so
    *    every other vertex's held rows ARE the rebuild's rows. A
    *    deleted vector therefore vanishes both as a VERTEX and as a
    *    NEIGHBOR PAYLOAD (`nq`/`nqn`), the compliance property.
    *
    * SNAPSHOT-QUANTIZER semantics throughout (the q106 contract): the
    * coarse quantizer and the probe SET are held through deletes —
    * production retrains/re-probes at the next snapshot build, never
    * per takedown. Both maintained artifacts publish atomically as
    * TOMBSTONE EVENTS ([[graft.sources.Layout.refillRewrite]] —
    * affected rows are shadowed by a same-generation refill, which a
    * pure anti join cannot express; carried files untouched),
    * and the census reports refreshed/untouched row classes
    * separately so the O(affected) claim is itself gated. The ORACLE
    * re-derives both artifacts FROM SCRATCH over the survivors (held
    * quantizer + held probe set, scored once with dual held/survivor
    * rankings), so the gate proves maintained == rebuild row-for-row
    * (`nqn`/`rnk` ride the checksum as payload witnesses). */
  /** The nngraph delete-maintenance core, parameterized by the delete
    * relation (one vec_id column) and the survivor assignment: purge
    * both sides, refill A1 = vertices that lost a top-[[GraphG]]
    * neighbor from their FULL surviving pool, recompute NN-descent
    * extras over the dependency cone A2 = A1 ∪ in-neighbors(A1), and
    * carry every other held row verbatim. Returns (maintained rows
    * with the src marker, the A2 relation). Factored out of q116 so
    * `AnnDeleteSpec` can drive it with a SPARSE delete — at the 1/7
    * oracle density A2 covers every vertex, so the held-extras carry
    * path (`xKeep`) is never exercised by the driver gates; the spec
    * proves maintained == [[nnGraphOf]]-rebuild at a density where it
    * is nonempty. */
  private[graft] def nnGraphDeleteParts(s: SparkSession, dir: String,
      del: DataFrame, assignSurv: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // the extras dependency-cone argument below needs every pool row
    // eligible for NN-descent expansion; the require lives HERE (not
    // in one caller) so every entry point — q116, q123, the spec's
    // sparse drives — fails loudly instead of via an opaque hash
    // mismatch if the dials ever diverge (round-11 advice)
    require(NdExp >= GraphG, "extras recompute assumes NdExp >= GraphG")
    val cents = ivfCents(s, dir, Full)
    val graph = nnGraphTable(s, dir)
    val delN = del.select(col("vec_id").as("nbr"))
    val g0Held = graph.filter(col("src") === "g")
    val xHeld = graph.filter(col("src") === "x")
    val survG0 = g0Held.join(del, Seq("vec_id"), "left_anti")
    val a1 = survG0.join(delN, Seq("nbr"), "left_semi")
      .select(col("vec_id")).distinct()
    // routing of the survivors against the held quantizer: one
    // map-only pass over the survivor assignment (a production
    // deployment would read a written snapshot routing table, the
    // base family's `groutesbase` shape — q117)
    val routedSurv = routeProbesDf(
        assignSurv.select(col("vec_id"), col("q"), col("qn")), cents, GraphR)
      .select(col("probe_id").as("vec_id"), col("cent_id"),
        col("pq").as("q"), col("pqn").as("qn"))
    val a2 = a1.unionByName(
        survG0.join(a1.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
          .select(col("vec_id")))
      .distinct()
    val poolNbr = routedSurv.select(col("vec_id").as("nbr"), col("cent_id"),
      col("q").as("nq"), col("qn").as("nqn"))
    // A2's pool rows re-ranked over the FULL surviving pool (for
    // A2∖A1 this reproduces the held rows — no deleted neighbor in
    // their top-G means the shrunk pool has the same top-G — but
    // recomputing keeps the refill one uniform derivation)
    val g0Refill = topG(routedSurv.join(a2, Seq("vec_id"), "left_semi"), poolNbr)
    val g0New = survG0.join(a2, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
      .unionByName(g0Refill)
    // extras recompute for A2, mirroring the build's NN-descent
    // round over the refreshed pool graph
    val midA2 = g0New.join(a2, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("nbr").as("mid"))
    val xRe = topK(midA2.join(
        g0New.select(col("vec_id").as("mid"), col("nbr"), col("nq"), col("nqn")),
        Seq("mid"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
      .dropDuplicates("vec_id", "nbr")
      .join(g0New.select(col("vec_id"), col("nbr")), Seq("vec_id", "nbr"), "left_anti")
      .join(assignSurv.select(col("vec_id"), col("q"), col("qn")), Seq("vec_id")), NdAdd)
    // held extras outside A2 cannot reference a deleted neighbor: an
    // extra arrives through a pool neighbor's adjacency, so a
    // deleted extra-neighbor implies that pool neighbor is in A1 and
    // the vertex in A2 (the oracle equality enforces the invariant)
    val xKeep = xHeld.join(del, Seq("vec_id"), "left_anti")
      .join(a2, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("nbr"), col("nq"), col("nqn"))
    // the REFRESHED rows alone (A2's recomputed pool + extras) — what
    // a tombstone-delete event lands as its refill segment, O(affected)
    val refreshed = g0Refill.withColumn("src", lit("g"))
      .unionByName(xRe.withColumn("src", lit("x")))
    val maintained = g0New.withColumn("src", lit("g"))
      .unionByName(xKeep.withColumn("src", lit("x")))
      .unionByName(xRe.withColumn("src", lit("x")))
    (maintained, refreshed, a2)
  }

  /** Spec surface (sparse-delete coverage, unpublished): the
    * maintained delete and the [[nnGraphOf]] from-scratch survivor
    * rebuild for an ARBITRARY delete relation. */
  private[graft] def nnGraphDeleteMaintainedFor(s: SparkSession, dir: String,
      del: DataFrame): (DataFrame, DataFrame) = {
    val assign = ivfAssignTable(s, dir, Full)
    val (maintained, _, a2) =
      nnGraphDeleteParts(s, dir, del, assign.join(del, Seq("vec_id"), "left_anti"))
    (maintained, a2)
  }

  private[graft] def nnGraphRebuiltFor(s: SparkSession, dir: String,
      del: DataFrame): DataFrame = {
    val cents = ivfCents(s, dir, Full)
    val surv = ivfAssignTable(s, dir, Full).join(del, Seq("vec_id"), "left_anti")
    val routed = routeProbesDf(
        surv.select(col("vec_id"), col("q"), col("qn")), cents, GraphR)
      .select(col("probe_id").as("vec_id"), col("cent_id"),
        col("pq").as("q"), col("pqn").as("qn"))
    nnGraphOf(routed, surv)
  }

  def annDeleteGraph(s: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssignTable(s, dir, Full)
    val etk = exactTopKTable(s, dir)
    val del = vecDelSet(s, dir)
    // the survivors' assignment — q106's `ivfassigndel` artifact
    // (same delete set, same once-gate: the two censuses share it)
    val assignSurv = Layout.deleteRewrite(s, dir, "ivfassign",
      Some((Layout.Buckets, Seq("cent_id"))), del, Seq("vec_id"))(assign)

    // ---- exacttopk: purge + affected-probe re-rank, published as a
    // TOMBSTONE EVENT (round-12 lead item): deleted probes tombstone
    // on probe_id, deleted candidates on vec_id, and the AFFECTED
    // probes' held rows are shadowed by the same-generation refill
    // (their re-ranked top-5) — carried probes' rows stay in the held
    // table's files, physically untouched ----
    val delP = del.select(col("vec_id").as("probe_id"))
    val heldSurvP = etk.join(delP, Seq("probe_id"), "left_anti")
    val affP = heldSurvP.join(del, Seq("vec_id"), "left_semi")
      .select(col("probe_id")).distinct()
    val wT = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val probesA = assignSurv
      .join(affP, assignSurv("vec_id") === affP("probe_id"), "left_semi")
      .select(col("vec_id").as("probe_id"), col("q").as("qa"), col("qn").as("qna"))
    val refreshedT = assignSurv.select(col("vec_id"), col("q"), col("qn"))
      .join(broadcast(probesA), col("probe_id") =!= col("vec_id"))
      .withColumn("cos", qcosineNative(col("qa"), col("q"), col("qna"), col("qn")))
      .select(col("probe_id"), col("vec_id"), col("cos"))
      .withColumn("rnk", row_number().over(wT))
      .filter(col("rnk") <= 5)
    val etkPub = Layout.refillRewrite(s, dir, "exacttopkdel", None,
      Seq("probe_id" -> del, "vec_id" -> del, "probe_id" -> affP), refreshedT)(etk)

    // ---- nngraph: purge + A1 pool refill + A2 extras recompute; the
    // tombstones purge deleted vertices (vec_id) and payloads (nbr)
    // and shadow A2's held rows under the refill generation ----
    val (_, refreshedG, a2) = nnGraphDeleteParts(s, dir, del, assignSurv)
    val gPub = Layout.refillRewrite(s, dir, "nngraphdel",
      Some((Layout.Buckets, Seq("vec_id"))),
      Seq("vec_id" -> del, "nbr" -> del, "vec_id" -> a2),
      refreshedG)(nnGraphTable(s, dir))

    // r19 optimization: refreshed/untouched partition each published
    // relation — classify per row (broadcast left join against the
    // distinct affected set) and census each source in ONE grouped
    // pass instead of two semi/anti scans (guide §1.2).
    val etkM = etkPub.join(
      broadcast(affP.withColumn("in_aff", lit(1))), Seq("probe_id"), "left")
    val gM = gPub.join(
      broadcast(a2.withColumn("in_a2", lit(1))), Seq("vec_id"), "left")
    Dedup.censusRows(etkM,
      when(col("in_aff").isNotNull, lit("exacttopk_refreshed"))
        .otherwise(lit("exacttopk_untouched")),
      concat_ws("|", col("probe_id"), col("vec_id"), col("rnk")),
      Seq("exacttopk_refreshed", "exacttopk_untouched"))
      .unionByName(Dedup.censusRows(gM,
        when(col("in_a2").isNotNull, lit("nngraph_refreshed"))
          .otherwise(lit("nngraph_untouched")),
        concat_ws("|", col("vec_id"), col("nbr"), col("nqn")),
        Seq("nngraph_refreshed", "nngraph_untouched")))
      .orderBy("artifact")
  }

  /** The q116 oracle: held quantizer + held probe set over the FULL
    * corpus, then both artifacts re-derived from scratch over the
    * survivors. Pool pairs and probe scores are each computed ONCE
    * and ranked twice (held ranking → the affected sets; survivor
    * ranking → the rebuilt rows), so the oracle is the same cost
    * class as q107's. */
  val annDeleteGraphSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    mat(
      s"""WITH $quantSql,
         |${sampSql("n")},
         |${trainedCentsSql("n")},
         |pset AS (SELECT vec_id FROM n WHERE vec_id % 100 = 0
         |         ORDER BY vec_id LIMIT $MaxProbes),
         |psurv AS (SELECT vec_id FROM pset WHERE vec_id % $dM <> $dR),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         |${qcosSql("p.q", "c.q")} AS cos
         |  FROM n p JOIN psurv ps ON p.vec_id = ps.vec_id
         |  JOIN n c ON p.vec_id <> c.vec_id),
         |held5 AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id
         |                              ORDER BY cos DESC, vec_id) AS rnk
         |    FROM scored) t WHERE rnk <= 5),
         |affp AS (SELECT DISTINCT probe_id FROM held5 WHERE vec_id % $dM = $dR),
         |surv5 AS (
         |  SELECT probe_id, vec_id, rnk FROM (
         |    SELECT probe_id, vec_id,
         |           row_number() OVER (PARTITION BY probe_id
         |                              ORDER BY cos DESC, vec_id) AS rnk
         |    FROM scored WHERE vec_id % $dM <> $dR) t WHERE rnk <= 5),
         |${routeSql("rr", "n v", s"<= $GraphR")},
         |${poolSql(batchSeesAll = false)},
         |${heldSurvivorSql(dM, dR, withRank = true)},
         |$survivorExtrasSql,
         |graphs AS (
         |  SELECT vec_id, nbr, nqn FROM g0s
         |  UNION ALL SELECT vec_id, nbr, nqn FROM nd)
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'exacttopk_refreshed' AS artifact,
         |         CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(probe_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR) || '|' || CAST(rnk AS VARCHAR)")} AS checksum
         |  FROM surv5 WHERE probe_id IN (SELECT probe_id FROM affp)
         |  UNION ALL
         |  SELECT 'exacttopk_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(probe_id AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR) || '|' || CAST(rnk AS VARCHAR)")}
         |  FROM surv5 WHERE probe_id NOT IN (SELECT probe_id FROM affp)
         |  UNION ALL
         |  SELECT 'nngraph_refreshed', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM graphs WHERE vec_id IN (SELECT vec_id FROM a2)
         |  UNION ALL
         |  SELECT 'nngraph_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM graphs WHERE vec_id NOT IN (SELECT vec_id FROM a2)) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q123's takedown: ONE vector per 997 (vec_id ≡ 7 mod 997 — 1
    * vector at sf0.01, 2 at sf0.1), the PRODUCTION takedown density
    * q116's shared 1/7 set cannot represent: under 1/7, every vertex
    * lands in the A2 refill cone (degree-16 pools keep all neighbors
    * with probability (6/7)^16 ≈ 8.5%, and the one-hop cascade takes
    * the rest), so the held-extras CARRY branch is dead in that gate. */
  private val SparseDelMod = 997L
  private val SparseDelRem = 7L

  /** q123: SPARSE-DELETE census over the snapshot graph — the same
    * maintenance core as q116 ([[nnGraphDeleteParts]]) driven at a
    * density where the O(affected) split is REAL, with the census
    * separating pool vs NN-descent-extras rows × refreshed vs
    * untouched. The `extras_untouched` row IS the carry branch
    * (held extras of vertices outside the A2 cone, kept verbatim) —
    * hash-compared against the ORACLE's from-scratch nd derivation
    * restricted to the same vertices, so "carried == rebuilt" is
    * driver-gated, not just spec-proven (`AnnDeleteSpec`'s
    * single-vector case remains the row-level equality check). */
  /** The q123 sparse-takedown publish (shared once-gate — q123's
    * census and q130's compaction drive the SAME artifact), plus the
    * A2 cone relation its census classes split on. */
  private def sparseDelPub(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val del = Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(SparseDelMod)) === lit(SparseDelRem))
      .select(col("vec_id"))
    val assign = ivfAssignTable(s, dir, Full)
    val (_, refreshed, a2) = nnGraphDeleteParts(s, dir, del,
      assign.join(del, Seq("vec_id"), "left_anti"))
    // tombstone-event publish (round-12): at this density the carried
    // set is ~90% of the graph, so the O(affected) WRITE claim is at
    // its most consequential — the event lands |del| tombstones plus
    // A2's refreshed rows and touches no carried file
    val pub = Layout.refillRewrite(s, dir, "nngraphdelsparse",
      Some((Layout.Buckets, Seq("vec_id"))),
      Seq("vec_id" -> del, "nbr" -> del, "vec_id" -> a2),
      refreshed)(nnGraphTable(s, dir))
    (pub, a2)
  }

  def annDeleteSparse(s: SparkSession, dir: String): DataFrame = {
    val (pub, a2) = sparseDelPub(s, dir)
    // r19 optimization: the four census classes (pool/extras ×
    // refreshed/untouched) partition ONE published relation — classify
    // per row (A2 membership via a broadcast left join against the
    // distinct cone; multiplicity preserved) and census in one grouped
    // pass instead of four source scans (guide §1.2; was 4 scans of the
    // tombstone view + 4 semi/anti joins).
    val marked = pub.join(
      broadcast(a2.withColumn("in_a2", lit(1))), Seq("vec_id"), "left")
    val cls = concat(
      when(col("src") === "g", lit("pool")).otherwise(lit("extras")),
      when(col("in_a2").isNotNull, lit("_refreshed")).otherwise(lit("_untouched")))
    Dedup.censusRows(marked, cls,
      concat_ws("|", col("vec_id"), col("nbr"), col("nqn")),
      Seq("pool_refreshed", "pool_untouched",
        "extras_refreshed", "extras_untouched"))
      .orderBy("artifact")
  }

  /** The sparse-delete SURVIVOR DERIVATION as a SQL CTE chain (`q` →
    * `g0s` pool rows + `nd` extras): the q116 graph machinery (held
    * full-corpus quantizer, pool pairs scored once, held ranking →
    * A1/A2 and survivor ranking → rebuilt rows, the NN-descent round
    * over the survivor pool graph) at the sparse density — ONE
    * definition shared verbatim by the q123 census and the q130
    * compaction census, so the two oracles cannot drift (the
    * q106/q129 `winSurvivorsSql` discipline). */
  private val sparseSurvivorChainSql: String = {
    val dM = SparseDelMod; val dR = SparseDelRem
    s"""WITH $quantSql,
         |${sampSql("n")},
         |${trainedCentsSql("n")},
         |${routeSql("rr", "n v", s"<= $GraphR")},
         |${poolSql(batchSeesAll = false)},
         |${heldSurvivorSql(dM, dR, withRank = true)},
         |$survivorExtrasSql""".stripMargin
  }

  /** The q123 oracle: [[sparseSurvivorChainSql]] censused pool/extras
    * × refreshed/untouched. */
  val annDeleteSparseSql: String = {
    mat(
      s"""$sparseSurvivorChainSql
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'pool_refreshed' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")} AS checksum
         |  FROM g0s WHERE vec_id IN (SELECT vec_id FROM a2)
         |  UNION ALL
         |  SELECT 'pool_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id NOT IN (SELECT vec_id FROM a2)
         |  UNION ALL
         |  SELECT 'extras_refreshed', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM nd WHERE vec_id IN (SELECT vec_id FROM a2)
         |  UNION ALL
         |  SELECT 'extras_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM nd WHERE vec_id NOT IN (SELECT vec_id FROM a2)) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q130: REFILL-FAMILY COMPACTION driver-gated (round-13 item 3 —
    * q129 gates the pure-anti family's recovery; this gates the
    * refill family's, whose published view additionally loses the
    * bucketed output partitioning to its UNION ALL until compaction,
    * the Layout-documented trade): q123's sparse-takedown artifact
    * (`nngraphdelsparse` — tombstones + A2 refill segment over the
    * untouched snapshot graph) is folded by [[Layout.compactDeleted]]
    * into a fresh vec_id-bucketed table under the next version and the
    * stable name swapped; the gated census reads the COMPACTED
    * artifact, split pool/extras. The oracle re-derives the surviving
    * graph from scratch over the shared [[sparseSurvivorChainSql]], so
    * the gate proves view == compacted table == rebuild — the recovery
    * loses no row and no class. Plan properties (join-free read,
    * bucketing restored, one file per bucket) are spec-pinned on the
    * same code path (`MvccDeleteSpec`/`MvccLifecycleSpec`); compaction
    * runs once per (session, snapshot), the single-writer maintenance
    * contract. */
  def sparseDeleteCompaction(s: SparkSession, dir: String): DataFrame = {
    // the q123 publish: the shared artifact this census compacts
    sparseDelPub(s, dir)
    Layout.materializedTable(s, dir, "sparsecompcensus") {
      val compacted = Layout.compactDeleted(s, dir, "nngraphdelsparse",
        Some((Layout.Buckets, Seq("vec_id"))))
      val key = concat_ws("|", col("vec_id"), col("nbr"), col("nqn"))
      Seq(
        Dedup.censusRow("extras_compacted", compacted.filter(col("src") === "x"), key),
        Dedup.censusRow("pool_compacted", compacted.filter(col("src") === "g"), key))
        .reduce(_ unionByName _)
    }.orderBy("artifact")
  }

  /** The q130 oracle: the surviving pool (`g0s`) and extras (`nd`)
    * relations verbatim — compaction must preserve exactly the
    * maintained delete's row set, class column included. */
  val sparseDeleteCompactionSql: String = {
    mat(
      s"""$sparseSurvivorChainSql
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'extras_compacted' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")} AS checksum
         |  FROM nd
         |  UNION ALL
         |  SELECT 'pool_compacted', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s) t
         |ORDER BY artifact""".stripMargin)
  }

  /** Map-only held-quantizer assignment of an embeddings subset —
    * q131's per-event ingest step ([[assignDf]] without the vector
    * payload); also the correction door's per-micro-batch transform
    * (q134). */
  private[graft] def lifeAssign(s: SparkSession, emb: DataFrame,
      bc: Broadcast[Array[(Long, Array[Long], Long)]]): DataFrame =
    assignDf(quantizedFrom(emb), bc).select(col("vec_id"), col("cent_id"))

  /** q131: the INTERLEAVED LIFECYCLE gate (round-13 item 5) — append →
    * sparse delete → append → compact over ONE ANN artifact, on the
    * unified MVCC store ([[graft.sources.Layout.deleteSegment]]): all
    * four event kinds share the store's single monotone generation
    * sequence on one stable name. The artifact is the held-quantizer
    * IVF assignment (vec_id, cent_id), cent_id-bucketed:
    *
    *  - base (gen 1): the standing corpus (vec_id ≢ 0 mod 5), assigned
    *    map-only against the broadcast held quantizer;
    *  - batch 1 (gen 2): vec_id ≡ 0 mod 10 — O(batch) append;
    *  - takedown (gen 3): the q106 delete relation restricted to rows
    *    PRESENT at delete time (vec_id ≢ 5 mod 10) — O(delete set)
    *    tombstones, store generation files untouched;
    *  - batch 2 (gen 4): vec_id ≡ 5 mod 10 PLUS the deleted batch-1
    *    rows RE-INGESTED — the re-adds outlive their older tombstones
    *    (generation-scoped last-writer-wins), so the driver's hash
    *    compare drives the LWW rule `MvccLifecycleSpec` proves;
    *  - compaction (gen 5): [[graft.sources.Layout.compactDeleted]]
    *    folds the final view into a fresh bucketed table and swaps.
    *
    * The census reads the COMPACTED artifact split by segment class
    * (base survivors / batch-1 survivors / re-adds / batch 2 / total);
    * the oracle re-derives the assignment from scratch over
    * (corpus ∪ batches) ∖ deleted under the corp-trained quantizer, so
    * the gate proves the four-event composition equals the one-shot
    * rebuild — previously proven only piecewise (q108 append, q120
    * append∘delete, q129/q130 compaction) and spec-level. */
  def annLifecycle(s: SparkSession, dir: String): DataFrame = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    val bc = s.sparkContext.broadcast(ivfCents(s, dir, Standing))
    val emb = Tables.embeddings(s, dir)
    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    val base = lifeAssign(s, emb.filter(pmod(col("vec_id"), lit(5)) =!= 0), bc)
    val batch1 = lifeAssign(s, emb.filter(pmod(col("vec_id"), lit(10)) === 0), bc)
    val del = emb.filter(pmod(col("vec_id"), lit(dM)) === lit(dR) &&
        pmod(col("vec_id"), lit(10)) =!= 5)
      .select(col("vec_id"))
    val batch2 = lifeAssign(s, emb.filter(pmod(col("vec_id"), lit(10)) === 5 ||
      (pmod(col("vec_id"), lit(dM)) === lit(dR) &&
        pmod(col("vec_id"), lit(10)) === 0)), bc)
    // events 1-2 are once-gated inside appendRewrite; events 3-5 ride
    // the census once-gate so the sequence runs exactly once per
    // (session, snapshot)
    Layout.appendRewrite(s, dir, "ivflife", bkt, batch1)(base)
    Layout.materializedTable(s, dir, "ivflifecensus") {
      Layout.deleteSegment(s, dir, "ivflife", del, Seq("vec_id"))
      Layout.appendSegment(s, dir, "ivflife", bkt, batch2)
      val compacted = Layout.compactDeleted(s, dir, "ivflifeupd", bkt)
      val key = concat_ws("|", col("vec_id"), col("cent_id"))
      def cls(nm: String, p: Column) = Dedup.censusRow(nm, compacted.filter(p), key)
      Seq(
        cls("base_survivors", pmod(col("vec_id"), lit(5)) =!= 0),
        cls("batch1_survivors", pmod(col("vec_id"), lit(10)) === 0 &&
          pmod(col("vec_id"), lit(dM)) =!= lit(dR)),
        cls("batch2", pmod(col("vec_id"), lit(10)) === 5),
        cls("readded", pmod(col("vec_id"), lit(10)) === 0 &&
          pmod(col("vec_id"), lit(dM)) === lit(dR)),
        Dedup.censusRow("total", compacted, key))
        .reduce(_ unionByName _)
    }.orderBy("artifact")
  }

  /** The q131 oracle: corp-trained quantizer (the q108 chain), one
    * from-scratch assignment over the final membership —
    * (base ∖ deleted) ∪ batch 1 survivors ∪ re-adds ∪ batch 2 —
    * censused by the same segment classes. */
  val annLifecycleSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    def row(nm: String, where: String): String =
      s"""SELECT '$nm' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |FROM m $where""".stripMargin
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1")},
         |m AS (
         |  SELECT vec_id, cent_id FROM assign
         |  WHERE (vec_id % 5 <> 0 AND vec_id % $dM <> $dR)
         |     OR vec_id % 10 = 0 OR vec_id % 10 = 5)
         |SELECT artifact, n_rows, checksum FROM (
         |  ${row("base_survivors", "WHERE vec_id % 5 <> 0")}
         |  UNION ALL
         |  ${row("batch1_survivors", s"WHERE vec_id % 10 = 0 AND vec_id % $dM <> $dR")}
         |  UNION ALL
         |  ${row("batch2", "WHERE vec_id % 10 = 5")}
         |  UNION ALL
         |  ${row("readded", s"WHERE vec_id % 10 = 0 AND vec_id % $dM = $dR")}
         |  UNION ALL
         |  ${row("total", "")}) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q132's correction set: one live vector per 13 (vec_id ≡ 1
    * mod 13) gets RE-EMBEDDED — modeled as the reversed embedding
    * vector, deterministic on both engines and norm-preserving — and
    * its index rows replaced. */
  private[graft] val UpsMod = 13L
  private[graft] val UpsRem = 1L

  /** The correction route `ups` of the q132/q134/q136 oracles: the
    * correction set (only the rows of the membership `m` when `live`)
    * routed by its REVERSED vectors. It keeps its own text, not
    * [[routeSql]]'s: the reversal is index arithmetic inside the dot
    * product, and its filter sits inside the ranked subquery. */
  private def upsSql(live: Boolean): String = {
    val inM = if (live) "\n      AND v.vec_id IN (SELECT vec_id FROM m)" else ""
    s"""ups AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT v.vec_id, c.cent_id,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             CAST(CAST(list_sum(list_transform(generate_series(1, len(v.q)),
       |                    i -> v.q[len(v.q) + 1 - i] * c.cq[i])) AS BIGINT) AS DOUBLE)
       |               / sqrt(CAST(v.qn AS DOUBLE) * CAST(c.cqn AS DOUBLE)) DESC,
       |             c.cent_id) AS rn
       |    FROM n v CROSS JOIN cents c
       |    WHERE v.vec_id % $UpsMod = $UpsRem$inM) t
       |  WHERE rn = 1)""".stripMargin
  }

  /** The q134 oracle (query: [[graft.streaming.StreamDoor
    * .streamUpsertDoor]]): the correction door's final store state
    * re-derived from raw embeddings — carried keys keep the standing
    * assignment, corrected keys (vec_id ≡ [[UpsRem]] mod [[UpsMod]])
    * route their REVERSED vectors (index arithmetic in the dot
    * product, the q132 trick) — so the gate proves the streamed
    * per-micro-batch upsert events land exactly the batch math. */
  val upsertDoorSql: String = {
    def row(nm: String, src: String): String =
      s"""SELECT '$nm' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |FROM $src""".stripMargin
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1")},
         |${upsSql(live = false)},
         |carried AS (
         |  SELECT vec_id, cent_id FROM assign WHERE vec_id % $UpsMod <> $UpsRem),
         |final AS (
         |  SELECT vec_id, cent_id FROM carried
         |  UNION ALL SELECT vec_id, cent_id FROM ups)
         |SELECT artifact, n_rows, checksum FROM (
         |  ${row("carried", "carried")}
         |  UNION ALL
         |  ${row("total", "final")}
         |  UNION ALL
         |  ${row("upserted", "ups")}) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q132: the UPSERT (insert-or-replace) gate — the fourth lifecycle
    * verb on the unified MVCC store ([[graft.sources.Layout
    * .upsertSegment]]), driven as the production "correction event":
    * a slice of live vectors is re-embedded (reversed embeddings —
    * deterministic, norm-preserving, assignment-changing) and ONE
    * event replaces their index rows — tombstones for the keys and
    * the re-routed rows land at the SAME generation, so the pair is
    * atomic last-writer-wins; carried keys' rows and the store's
    * generation files are untouched, write I/O = O(correction set).
    * The event lands on q131's COMPACTED artifact (generation 6 after
    * the compaction horizon at 5), so the gate also drives the
    * post-compaction re-base path end to end. The census splits
    * upserted/carried/total; the oracle re-derives the carried rows
    * from the q131 membership chain and the upserted rows by routing
    * the REVERSED vectors against the same corp-trained quantizer
    * (reversal expressed as index arithmetic in the dot product). */
  def annUpsert(s: SparkSession, dir: String): DataFrame = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    // force q131's lifecycle (its own once-gates): base, batches,
    // takedown, compaction — the upsert continues that artifact
    annLifecycle(s, dir)
    val bc = s.sparkContext.broadcast(ivfCents(s, dir, Standing))
    val emb = Tables.embeddings(s, dir)
    // live membership after q131 = everything except the deleted
    // (never re-added) base rows
    val live = !(pmod(col("vec_id"), lit(5)) =!= 0 &&
      pmod(col("vec_id"), lit(dM)) === lit(dR) &&
      pmod(col("vec_id"), lit(10)) =!= 0)
    val corrected = emb.filter(live &&
        pmod(col("vec_id"), lit(UpsMod)) === lit(UpsRem))
      .withColumn("embedding", reverse(col("embedding")))
    val rows = lifeAssign(s, corrected, bc)
    Layout.materializedTable(s, dir, "ivfupscensus") {
      val pub = Layout.upsertSegment(s, dir, "ivflife",
        Some((Layout.Buckets, Seq("cent_id"))), rows, Seq("vec_id"))
      val key = concat_ws("|", col("vec_id"), col("cent_id"))
      Seq(
        Dedup.censusRow("carried",
          pub.filter(pmod(col("vec_id"), lit(UpsMod)) =!= lit(UpsRem)), key),
        Dedup.censusRow("total", pub, key),
        Dedup.censusRow("upserted",
          pub.filter(pmod(col("vec_id"), lit(UpsMod)) === lit(UpsRem)), key))
        .reduce(_ unionByName _)
    }.orderBy("artifact")
  }

  /** The q132 oracle: the q131 membership (`m`) carried for keys
    * outside the correction set; the correction set re-routed with
    * the dot product over the REVERSED vector (q[len+1-i] — no
    * list_reverse dependence); censused upserted/carried/total. */
  val annUpsertSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    def row(nm: String, src: String): String =
      s"""SELECT '$nm' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |FROM $src""".stripMargin
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1")},
         |m AS (
         |  SELECT vec_id, cent_id FROM assign
         |  WHERE (vec_id % 5 <> 0 AND vec_id % $dM <> $dR)
         |     OR vec_id % 10 = 0 OR vec_id % 10 = 5),
         |${upsSql(live = true)},
         |carried AS (
         |  SELECT vec_id, cent_id FROM m WHERE vec_id % $UpsMod <> $UpsRem),
         |final AS (
         |  SELECT vec_id, cent_id FROM carried
         |  UNION ALL SELECT vec_id, cent_id FROM ups)
         |SELECT artifact, n_rows, checksum FROM (
         |  ${row("carried", "carried")}
         |  UNION ALL
         |  ${row("total", "final")}
         |  UNION ALL
         |  ${row("upserted", "ups")}) t
         |ORDER BY artifact""".stripMargin)
  }

  /** q136: the TIME-TRAVEL gate — the read half of the MVCC story,
    * driven as the production audit query: "what did the correction
    * event actually change?". Every lifecycle commit publishes its
    * snapshot as a version view/table before swapping the stable name
    * ([[graft.sources.Layout.storeAsOf]] is the read verb; history is
    * a free by-product of the commit protocol, never a second data
    * copy), and compaction is the retention horizon (older versions'
    * sidecars are cleared, so their views are GC'd loudly). On the
    * q131/q132 artifact the readable range is exactly
    * {compaction horizon, post-upsert latest}; the gate reads BOTH
    * snapshots and censuses their set difference — the before/after
    * of the q132 correction — against an oracle that re-derives the
    * pre-upsert membership (`m`) and the post-upsert state (`final`)
    * from raw embeddings and EXCEPTs them in SQL. Generations are
    * derived from the store (min/max of [[graft.sources.Layout
    * .readableVersions]]), not hardcoded, so the gate also pins the
    * retention contract: exactly the horizon and later survive. */
  def annTimeTravel(s: SparkSession, dir: String): DataFrame = {
    // force the full 6-generation lifecycle (q131 events 1-5 + the
    // q132 correction at gen 6) — all once-gated on their own artifacts
    annUpsert(s, dir)
    Layout.materializedTable(s, dir, "ivfttcensus") {
      val vs = Layout.readableVersions(s, dir, "ivflifeupd")
      require(vs.size == 2,
        s"time travel over ivflife expects {horizon, latest}, got $vs")
      val before = Layout.storeAsOf(s, dir, "ivflifeupd", vs.min)
        .select(col("vec_id"), col("cent_id"))
      val after = Layout.storeAsOf(s, dir, "ivflifeupd", vs.max)
        .select(col("vec_id"), col("cent_id"))
      // the diff rows come from the CDC verb itself, so the gate
      // drives storeChanges end to end (replaying horizon + changes
      // reconstructs latest — the EXCEPT pair the oracle re-derives)
      val changes = Layout.storeChanges(s, dir, "ivflifeupd", vs.min, vs.max)
      val key = concat_ws("|", col("vec_id"), col("cent_id"))
      Seq(
        Dedup.censusRow("corrected_new",
          changes.filter(col("change") === "insert"), key),
        Dedup.censusRow("corrected_old",
          changes.filter(col("change") === "delete"), key),
        Dedup.censusRow("horizon_total", before, key),
        Dedup.censusRow("latest_total", after, key))
        .reduce(_ unionByName _)
    }.orderBy("artifact")
  }

  /** The q136 oracle: the q132 chain (pre-upsert membership `m`,
    * corrected routing `ups`, post-upsert `final`), censused as
    * before/after totals plus the two set differences (SQL EXCEPT —
    * the audit diff). */
  val annTimeTravelSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    def row(nm: String, src: String): String =
      s"""SELECT '$nm' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |       ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR)")} AS checksum
         |FROM $src""".stripMargin
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("assign", "n v", "= 1")},
         |m AS (
         |  SELECT vec_id, cent_id FROM assign
         |  WHERE (vec_id % 5 <> 0 AND vec_id % $dM <> $dR)
         |     OR vec_id % 10 = 0 OR vec_id % 10 = 5),
         |${upsSql(live = true)},
         |carried AS (
         |  SELECT vec_id, cent_id FROM m WHERE vec_id % $UpsMod <> $UpsRem),
         |fin AS (
         |  SELECT vec_id, cent_id FROM carried
         |  UNION ALL SELECT vec_id, cent_id FROM ups)
         |SELECT artifact, n_rows, checksum FROM (
         |  ${row("corrected_new",
              "(SELECT vec_id, cent_id FROM fin EXCEPT SELECT vec_id, cent_id FROM m) te")}
         |  UNION ALL
         |  ${row("corrected_old",
              "(SELECT vec_id, cent_id FROM m EXCEPT SELECT vec_id, cent_id FROM fin) te")}
         |  UNION ALL
         |  ${row("horizon_total", "m")}
         |  UNION ALL
         |  ${row("latest_total", "fin")}) t
         |ORDER BY artifact""".stripMargin)
  }


  /** q117: TARGETED DELETE over the BASE-family graph artifacts — the
    * written routing table (`groutesbase`) and the held-snapshot kNN
    * graph (`nngraphbase`). Routing rows are per-vector, so the
    * routing delete is a pure anti join
    * ([[graft.sources.Layout.deleteRewrite]], bucket spec preserved);
    * the graph delete is the q116 refill shape WITHOUT the NN-descent
    * stage (the base family is pool-only by design): vertices that
    * lost a top-[[GraphG]] neighbor (A1) re-rank over their full
    * surviving pool — read STRAIGHT from the written survivor routing
    * table's cent_id buckets, zero recompute of the standing corpus —
    * and every other surviving row is kept verbatim. The ORACLE
    * re-derives both from scratch over the survivors under the held
    * base quantizer (trained on the standing corpus, the q108
    * contract), with the pool scored once and ranked twice. */
  def annDeleteBase(s: SparkSession, dir: String): DataFrame = {
    val routesB = gRoutesBase(s, dir)
    val graphB = nnGraphBaseTable(s, dir)
    val del = vecDelSet(s, dir)
    val routesSurv = Layout.deleteRewrite(s, dir, "groutesbase",
      Some((Layout.Buckets, Seq("cent_id"))), del, Seq("vec_id"))(routesB)

    val survG = graphB.join(del, Seq("vec_id"), "left_anti")
    val a1 = survG.join(del.select(col("vec_id").as("nbr")), Seq("nbr"), "left_semi")
      .select(col("vec_id")).distinct()
    val poolNbr = routesSurv.select(col("vec_id").as("nbr"), col("cent_id"),
      col("q").as("nq"), col("qn").as("nqn"))
    val refill = topG(routesSurv.join(a1, Seq("vec_id"), "left_semi"), poolNbr)
    // tombstone-event publish (round-12): deleted vertices/payloads
    // tombstone, A1's held rows are shadowed by the same-generation
    // refill — the held graph's files are never rewritten
    val gPub = Layout.refillRewrite(s, dir, "nngraphbasedel",
      Some((Layout.Buckets, Seq("vec_id"))),
      Seq("vec_id" -> del, "nbr" -> del, "vec_id" -> a1), refill)(graphB)

    Seq(
      Dedup.censusRow("groutes", routesSurv,
        concat_ws("|", col("vec_id"), col("cent_id"), col("qn"))),
      Dedup.censusRow("nngraphbase_refreshed",
        gPub.join(a1, Seq("vec_id"), "left_semi"),
        concat_ws("|", col("vec_id"), col("nbr"), col("nqn"))),
      Dedup.censusRow("nngraphbase_untouched",
        gPub.join(a1, Seq("vec_id"), "left_anti"),
        concat_ws("|", col("vec_id"), col("nbr"), col("nqn"))))
      .reduce(_ unionByName _)
      .orderBy("artifact")
  }

  /** The q117 oracle: base quantizer trained on the standing corpus
    * (q108's held-snapshot contract), routing + pool re-derived from
    * scratch over the survivors; the pool scored once, ranked held
    * (→ A1) and survivor (→ rebuilt rows). */
  val annDeleteBaseSql: String = {
    val dM = Dedup.DelMod; val dR = Dedup.DelRem
    mat(
      s"""WITH $quantSql,
         |$heldCentsSql,
         |${routeSql("rr", "corp v", s"<= $GraphR", "qn")},
         |${poolSql(batchSeesAll = false)},
         |${heldSurvivorSql(dM, dR, withRank = false)}
         |SELECT artifact, n_rows, checksum FROM (
         |  SELECT 'groutes' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(cent_id AS VARCHAR) || '|' || CAST(qn AS VARCHAR)")} AS checksum
         |  FROM rr WHERE vec_id % $dM <> $dR
         |  UNION ALL
         |  SELECT 'nngraphbase_refreshed', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id IN (SELECT vec_id FROM a1)
         |  UNION ALL
         |  SELECT 'nngraphbase_untouched', CAST(count(*) AS BIGINT),
         |         ${h32("CAST(vec_id AS VARCHAR) || '|' || CAST(nbr AS VARCHAR) || '|' || CAST(nqn AS VARCHAR)")}
         |  FROM g0s WHERE vec_id NOT IN (SELECT vec_id FROM a1)) t
         |ORDER BY artifact""".stripMargin)
  }

  val defs: Vector[QueryDef] = Vector(
    QueryDef("q24_embedding_neardup", embeddingNearDup, Some(embeddingNearDupSql)),
    QueryDef("q25_cosine_topk", cosineTopK, Some(cosineTopKSql)),
    QueryDef("q26_ann_lsh", annLsh, Some(annLshSql)),
    QueryDef("q37_ann_ivf", annIvf, Some(annIvfSql)),
    QueryDef("q52_topk_aggregator", cosineTopKAgg, Some(cosineTopKSql)),
    // q83's oracle IS q37's SQL: the gate proves index-backed == rebuild
    QueryDef("q83_ann_ivf_indexed", annIvfIndexed, Some(annIvfSql)),
    QueryDef("q86_semdedup", semDedup, Some(semDedupSql)),
    QueryDef("q90_pq_adc", pqAdc, Some(pqAdcSql)),
    QueryDef("q91_semdedup_incremental", semDedupIncremental, Some(semDedupIncrementalSql)),
    QueryDef("q92_pq_rerank", pqRerank, Some(pqRerankSql)),
    QueryDef("q93_ivfpq", ivfPq, Some(ivfPqSql)),
    QueryDef("q94_cluster_balance", clusterBalance, Some(clusterBalanceSql)),
    QueryDef("q95_embedding_pipeline", embeddingPipeline, Some(embeddingPipelineSql)),
    QueryDef("q96_ann_recall", annRecall, Some(annRecallSql)),
    QueryDef("q97_nprobe_curve", ivfNprobeCurve, Some(ivfNprobeCurveSql)),
    QueryDef("q98_shortlist_curve", rerankShortlistCurve, Some(rerankShortlistCurveSql)),
    QueryDef("q107_graph_ann", graphAnn, Some(graphAnnSql)),
    // q108's oracle is the FULL-REBUILD census under the held
    // quantizer: the gate proves append-maintained == rebuild
    QueryDef("q108_ann_index_append", annIndexAppend, Some(annIndexAppendSql)),
    // q112's oracle is the WHOLE-graph rebuild with full pools under
    // the held quantizer: the gate proves fold-maintained == rebuild
    // for every row — refreshed, untouched and batch alike
    QueryDef("q112_ann_graph_backfold", annGraphBackfold, Some(annGraphBackfoldSql)),
    QueryDef("q113_ann_point_lookup", annPointLookup, Some(annPointSql)),
    // q116/q117's oracles are REBUILD-ON-SURVIVORS censuses under the
    // held quantizer: the gates prove delete-maintained == rebuild for
    // the graph-ANN artifact family, neighbor payloads included
    QueryDef("q116_ann_delete_graph", annDeleteGraph, Some(annDeleteGraphSql)),
    QueryDef("q117_ann_delete_base", annDeleteBase, Some(annDeleteBaseSql)),
    // q120's oracle rebuilds the APPENDED family over the survivors:
    // the gate proves append-then-delete == rebuild — the lifecycle
    // composes, not just its individual steps
    QueryDef("q120_ann_append_delete", annAppendDelete, Some(annAppendDeleteSql)),
    // q123 gates the held-extras CARRY branch at production takedown
    // density: carried rows hash-match the rebuild's nd derivation
    QueryDef("q123_ann_delete_sparse", annDeleteSparse, Some(annDeleteSparseSql)),
    // q130 gates the refill-family compaction: view == compacted ==
    // rebuild over the shared sparse survivor chain (q129's pattern
    // extended to the family that loses bucketing until compaction)
    QueryDef("q130_refill_compaction", sparseDeleteCompaction,
      Some(sparseDeleteCompactionSql)),
    // q131 gates the INTERLEAVED lifecycle on the unified MVCC store:
    // append → delete → append (re-add LWW) → compact == one-shot
    // rebuild over (corpus ∪ batches) ∖ deleted
    QueryDef("q131_ann_lifecycle", annLifecycle, Some(annLifecycleSql)),
    // q132 gates the UPSERT verb (one atomic tombstone+replace event,
    // landing on q131's compacted artifact): carried == q131 rebuild,
    // upserted == reversed-vector re-route under the same quantizer
    QueryDef("q132_ann_upsert", annUpsert, Some(annUpsertSql)),
    // q136 gates TIME TRAVEL (storeAsOf): the horizon and latest
    // snapshots of the q131/q132 store read back, and their EXCEPT
    // diff == the correction event's before/after, re-derived in SQL
    QueryDef("q136_time_travel", annTimeTravel, Some(annTimeTravelSql)),
  )
}
