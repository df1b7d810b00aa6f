package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Layout, Tables}
import graft.functions.Fns._

/** Deduplication operators over `documents` — the LLM-pipeline extension
  * surface (north star; the reference itself has no dedup, SURVEY.md
  * §2.6). Four families: exact (hash-groupBy), MinHash+LSH banding,
  * SimHash fingerprints, and exact n-gram Jaccard verification.
  *
  * 100 TB design notes, common to all four:
  *  - Everything is a pure column pipeline: tokenize → hash → aggregate.
  *    No `collect`, no driver state; the only shuffles are the per-doc
  *    aggregations (map-side partial min/sum first) and the candidate
  *    self-joins, which shuffle on *bucket keys* (band hash / shingle),
  *    never all-pairs.
  *  - LSH banding is the scale story: candidate generation is an
  *    equi-join on (band, bandHash) — ~O(n·bands) shuffle rows — and
  *    only bucket-mates are compared, unlike q23's exact shingle join
  *    which is quadratic in per-shingle document frequency. At 100 TB,
  *    cap df per shingle/bucket (salting or df-filter) to bound skew.
  *  - All hashes are md5-derived ([[graft.functions.Fns.hash32]]) so the
  *    DuckDB oracle reproduces them bit-for-bit; murmur3 `hash()` would
  *    be Spark-private. Integer-only arithmetic keeps results
  *    partition-order independent.
  */
object Dedup {

  private val P = 2147483647L // 2^31-1, Mersenne prime for minhash perms
  private val B = 912367L     // permutation offset step

  /** md5 hex of a string, identical bytes to Spark's `md5()` and
    * DuckDB's `md5()` (UTF-8 input, lowercase hex). */
  private[operators] def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** The md5 digest's first 8 bytes as a big-endian long — the hex
    * string's first 16 nibbles without materializing the hex (round-20
    * per-task-work pass, guide §1.2 step 2: the hex StringBuilder +
    * String + substring + parseLong cost ~100 ns of allocation per
    * shingle/window/token on paths that only ever consume the numeric
    * prefixes). By construction:
    *   prefix64 >>> 4  == parseLong(md5Hex(s).substring(0, 15), 16)
    *   prefix64 >>> 32 == parseLong(md5Hex(s).substring(0, 8), 16)
    * (`Md5PrefixSpec` pins both identities against the hex path.) */
  private[graft] def md5Prefix64(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)` without the hex. */
  private[graft] def md5Long60(md: java.security.MessageDigest, s: String): Long =
    md5Prefix64(md, s) >>> 4

  /** `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)` without the hex. */
  private[graft] def md5Long32(md: java.security.MessageDigest, s: String): Long =
    md5Prefix64(md, s) >>> 32

  /** The ONE definition of a document's distinct word-3-shingle md5
    * hexes — tokenization (split on single spaces, empties dropped,
    * null text → nothing), the <3-token exclusion, first-occurrence
    * distinctness and the UTF-8 md5 all live here so the q23 family
    * and the MinHash family cannot drift apart; the SQL oracles
    * reproduce the identical values (proven end-to-end by the gate). */
  private def distinctShinglePrefixes(md: java.security.MessageDigest,
                                      text: String): Iterator[Long] = {
    val toks = if (text == null) Array.empty[String]
               else text.split(" ").filter(_.nonEmpty)
    if (toks.length < 3) Iterator.empty
    else {
      // tight while loop into a buffer — a lazy flatMap/Iterator.single
      // chain here costs measurable per-shingle allocation on the
      // million-shingle hot path; values are [[md5Prefix64]]s (h32/h60
      // derive by shift — no hex string on the hot path)
      val seen = new java.util.HashSet[String]()
      val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
      var i = 0
      while (i <= toks.length - 3) {
        val sgl = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        if (seen.add(sgl)) out += md5Prefix64(md, sgl)
        i += 1
      }
      out.iterator
    }
  }

  /** (doc_id, h32, h60) rows: one row per DISTINCT word 3-shingle per
    * document, with the md5-derived 32- and 60-bit hashes ([[graft.functions.Fns.hash32]]/
    * [[graft.functions.Fns.hash60]] arithmetic) computed in a tight
    * per-partition loop over [[distinctShinglePrefixes]]. Tokenize→
    * shingle→md5 is row-local work, so a mapPartitions map stage beats
    * the SQL formulation twice over: higher-order array functions
    * evaluate interpreted per row, and the explode-then-hash pipeline
    * paid the md5 string machinery through codegen'd-but-allocating
    * expressions. */
  private[graft] def shingleHashRowsFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          distinctShinglePrefixes(md, text).map { p =>
            (id, p >>> 32, p >>> 4)
          }
        }
      }.toDF("doc_id", "h32", "h60")
  }

  /** 16-permutation MinHash signatures,
    * mh_i = min over distinct shingles of ((2i+1)·h + 912367·i) mod
    * (2^31-1) with h the 32-bit md5 prefix. A signature is per-DOCUMENT
    * state over that document's own shingles — all inside one row — so
    * the 16 running minima accumulate in the SAME partition loop that
    * tokenizes and hashes: the stage is map-only, and the
    * explode→groupBy formulation's shuffle of every (doc, shingle) row
    * (~100× the document count) disappears from all five pair-graph
    * consumers (q21/q38/q70/q72/q76). Arithmetic is bit-identical to
    * the SQL oracle's list_min over the same terms: h < 2^32 and
    * multiplier ≤ 31 keep the products far under 2^63, and x ≥ 0 makes
    * JVM % equal to pmod. */
  private def minhashSigsFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val mins = Array.fill(16)(Long.MaxValue)
          var any = false
          distinctShinglePrefixes(md, text).foreach { p =>
            any = true
            val h = p >>> 32
            var j = 0
            while (j < 16) {
              val v = (h * (2 * j + 1) + B * j) % P
              if (v < mins(j)) mins(j) = v
              j += 1
            }
          }
          if (any) Iterator.single((id, mins.toSeq)) else Iterator.empty
        }
      }.toDF("doc_id", "sig")
  }

  /** Deterministic exact dedup: keep the min-doc_id row of every
    * normalized-text group. (`dropDuplicates` keeps an *arbitrary* row —
    * unacceptable for reproducible pipelines.) One shuffle on the text
    * hash; at 100 TB group on hash32(norm) first so the shuffle key is
    * 8 bytes, not the document body. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(normText(col("text"))).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Per-source dedup accounting: total docs vs kept-after-exact-dedup. */
  def exactDedupStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = exactDedup(docs)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("source")
  }

  val exactDedupStatsSql: String =
    """WITH kept AS (
      |  SELECT source, count(*) AS n_kept
      |  FROM (SELECT source,
      |               row_number() OVER (
      |                 PARTITION BY lower(trim(regexp_replace(text, ' +', ' ', 'g')))
      |                 ORDER BY doc_id) AS rn
      |        FROM documents) t
      |  WHERE rn = 1 GROUP BY source),
      |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
      |SELECT tot.source, n_docs,
      |       coalesce(n_kept, 0) AS n_kept,
      |       n_docs - coalesce(n_kept, 0) AS n_dropped
      |FROM tot LEFT JOIN kept ON tot.source = kept.source
      |ORDER BY 1""".stripMargin

  /** LSH bucket-size cap ([[minhashLsh]]): a band bucket holding m
    * documents generates m² candidate pairs, so one pathological bucket
    * (boilerplate text, a template crawled a million times) turns the
    * band equi-join into an effective cross join on that key. Buckets
    * larger than the cap are dropped whole. That is LOSSY for genuine
    * near-dup (non-byte-identical) clusters above the cap — q20's
    * exact pass only recovers the byte-identical subset — so the drop
    * is never silent: [[dropHotBuckets]] records (hot_buckets,
    * dropped_rows) via an observed-metrics node, and an operator that
    * sees the counter fire routes the affected corpus through the
    * exact-fingerprint pass or re-runs with a raised cap. Genuine
    * clusters are usually orders of magnitude smaller than the cap;
    * it never fires on the testdata (largest observed bucket ≪ cap),
    * so oracle hashes are unchanged. `SkewCapSpec` exercises the
    * firing path with a planted hot bucket. */
  val MaxLshBucket = 1024

  /** The one implementation of the hot-bucket cap, shared by all three
    * LSH surfaces (q21 minhash, q22 simhash, q26 embedding ANN): count
    * members per bucket key on a slim projection (map-side partial —
    * and shuffle-free when `bands` is already partitioned on the
    * keys), then drop oversized buckets whole via an anti join. The
    * hot set is bounded only by rows/cap — Θ(n) in the worst case (a
    * pathologically dup-heavy corpus, exactly the regime the cap
    * exists for) — so the join carries NO broadcast() hint: AQE
    * broadcasts when the hot set is actually small and degrades to a
    * shuffle anti join (co-partitioned here — `bands` is already
    * exchanged on the keys) when it is not. A forced hint would OOM
    * precisely on the inputs the cap protects against.
    *
    * Observability: dropping buckets whole is lossy for clusters
    * larger than the cap (their members vanish from the pair graph
    * and q38/q76 report them as kept), so the cap's firing is never
    * silent — a CollectMetrics node on the hot subtree records
    * (hot_buckets, dropped_rows), readable after any action from
    * `df.queryExecution.observedMetrics("graft.cap(...)")` and
    * surfaced to monitoring by the standard QueryExecutionListener.
    * `SkewCapSpec` pins both the zero and firing cases. */
  private[operators] def dropHotBuckets(bands: DataFrame, cap: Int,
                                        keys: String*): DataFrame =
    dropHotBucketsNamed(bands, cap, s"graft.cap(${keys.mkString(",")})", keys: _*)

  /** As [[dropHotBuckets]] with an explicit metric name — observe
    * names must be unique per plan, so a query applying the cap twice
    * (q82: index side AND batch side) labels each firing site. */
  private[operators] def dropHotBucketsNamed(bands: DataFrame, cap: Int,
                                             name: String, keys: String*): DataFrame =
    dropHotBucketsAligned(bands, cap, name, None, keys: _*)

  /** The exchange-aligned form (round 19): when `bands` is a
    * repartition barrier whose other consumers keep its FULL width,
    * the hot count's key-only projection decanonicalizes this copy of
    * the exchange and the barrier's subtree executes twice (the
    * q140/q87 pruning bit). `keepRef` is a caller-supplied
    * VALUE-IDENTICAL always-true predicate referencing the barrier's
    * non-key columns (e.g. pmod(xxhash64(doc_id), 1) = 0);
    * count(when(keepRef, 1)) ≡ count(*) but keeps those columns alive
    * below the aggregate, so every copy of the barrier canonicalizes
    * onto ONE exchange. */
  private[operators] def dropHotBucketsAligned(bands: DataFrame, cap: Int,
      name: String, keepRef: Option[Column], keys: String*): DataFrame = {
    val kc = keys.map(col)
    val cnt = keepRef.map(k => count(when(k, 1))).getOrElse(count(lit(1)))
    val hot = bands
      .groupBy(kc: _*)
      .agg(cnt.as("bsz"))
      .filter(col("bsz") > cap)
      .observe(name,
        count(lit(1)).as("hot_buckets"),
        coalesce(sum(col("bsz")), lit(0L)).as("dropped_rows"))
      .drop("bsz")
    bands.join(hot, keys, "left_anti")
  }

  /** MinHash + LSH near-dup candidates: 16 minhashes, 4 bands of 4.
    * Candidates = pairs sharing at least one full band; emitted when the
    * signature-estimated Jaccard (n_eq/16) clears 0.5. The band
    * equi-join is the whole point at scale: shuffle on (band, value),
    * never n² — with [[MaxLshBucket]] bounding per-bucket fan-out.
    * Reads the session's materialized [[pairGraph]], so the shingle→
    * signature→band pipeline runs ONCE per (session, dir) no matter
    * how many dedup-family queries consume it. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    pairGraph(s, dir).orderBy("doc_a", "doc_b")

  /** THE materialized pair graph — the single most reused intermediate
    * of the dedup family: q21 emits it, q38 clusters it, q70 histograms
    * it, q72 joins sources onto it, q76 derives retention from it.
    * Recomputing shingle→MinHash→LSH per consumer was 5 of the 7
    * slowest bench entries in round 4; it is now WRITTEN, once per
    * (session, dir), as a warehouse table via [[Layout.materializedTable]]
    * — the literal pipeline stage a production deployment runs once per
    * corpus snapshot, with every consumer reading the on-disk artifact.
    * The table holds only confirmed near-dup pairs (est_j ≥ 0.5):
    * orders of magnitude smaller than the corpus, so re-reading it per
    * consumer is a trivial scan. Testdata dirs are immutable inputs
    * keyed by path, so write-once is exact.
    *
    * Observability: the [[dropHotBuckets]] cap inside the build fires
    * its CollectMetrics on the WRITE execution — the materializing job
    * a production QueryExecutionListener monitors when the snapshot is
    * produced. Consumers of the written table see the capped graph but
    * no counter (there is nothing left to count: the cap is part of
    * the snapshot's provenance, recorded when it was built). Specs pin
    * per-execution observability on the uncapped→cap-per-read q77
    * path and on [[minhashLshFrom]], where every run materializes. */
  private[graft] def pairGraph(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "pairgraph") {
      minhashPairsFrom(Tables.documents(s, dir), MaxLshBucket)
    }

  /** Uncached, fully-ordered pair pipeline over explicit docs — the
    * spec surface (`SkewCapSpec`, `PlanShapeSpec` pin cap firing and
    * exchange reuse on THIS path, where the session cache cannot hide
    * the scan). */
  private[graft] def minhashLshFrom(docs: DataFrame, bucketCap: Int): DataFrame =
    minhashPairsFrom(docs, bucketCap).orderBy("doc_a", "doc_b")

  /** The LSH band table of a document set: (doc_id, sig, band, bval),
    * 4 rows per signed document. The trailing repartition is the
    * materialization barrier the whole family leans on: ONE exchange
    * on the join key serves everything downstream — the bucket-size
    * count aggregates shuffle-free on top of it, join sides read it
    * via runtime stage reuse (without a barrier each consumer re-runs
    * the tokenize→md5→min loop — the q23 lesson, plan-pinned), and
    * band joins are co-partitioned so they add no further exchange. */
  private[graft] def bandTable(docs: DataFrame): DataFrame =
    minhashSigsFrom(docs).select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => concat_ws(",", transform(slice(col("sig"), b * lit(4) + 1, lit(4)),
          v => v.cast(StringType))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
      .repartition(col("band"), col("bval"))

  private[graft] def minhashPairsFrom(docs: DataFrame, bucketCap: Int): DataFrame =
    selfPairsFrom(dropHotBuckets(bandTable(docs), bucketCap, "band", "bval"))

  /** Band-bucket self-join → confirmed pairs, over an already-capped
    * band table (factored out so q82 can reuse ONE batch band table
    * for both its self-join and its cross join). */
  private def selfPairsFrom(kept: DataFrame): DataFrame = {
    val a = kept.select(col("doc_id").as("doc_a"), col("sig").as("siga"),
      col("band"), col("bval"))
    val b = kept.select(col("doc_id").as("doc_b"), col("sig").as("sigb"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "siga", "sigb")
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("n_eq",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v))
      .filter(col("n_eq").cast(DoubleType) / 16.0 >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_eq"),
        (col("n_eq").cast(DoubleType) / 16.0).as("est_j"))
  }

  /** The tokens→shingles→signatures→bands CTE chain of the q21 oracle
    * — factored so the q106 delete-census oracle can re-derive the
    * band index over the surviving corpus from the SAME text. */
  private val lshBandChainSql: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM toks WHERE len(w) >= 3),
      |hs AS (
      |  SELECT doc_id,
      |         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS hs
      |  FROM sh WHERE len(sh) >= 1),
      |sig AS (
      |  SELECT doc_id,
      |         list_transform(generate_series(0, 15),
      |           i -> list_min(list_transform(hs,
      |                  h -> (h * (i*2+1) + i*912367) % 2147483647))) AS sig
      |  FROM hs),
      |bands AS (
      |  SELECT doc_id, sig, t.b AS band,
      |         array_to_string(list_transform(list_slice(sig, t.b*4+1, t.b*4+4),
      |           v -> CAST(v AS VARCHAR)), ',') AS bval
      |  FROM sig CROSS JOIN range(0, 4) t(b))""".stripMargin

  val minhashLshSql: String =
    s"""WITH $lshBandChainSql,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
      |  WHERE a.doc_id < b.doc_id),
      |sc AS (
      |  SELECT doc_a, doc_b,
      |         CAST(len(list_filter(generate_series(1, 16),
      |                i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq
      |  FROM cand
      |  JOIN sig sa ON sa.doc_id = doc_a
      |  JOIN sig sb ON sb.doc_id = doc_b)
      |SELECT doc_a, doc_b, n_eq, CAST(n_eq AS DOUBLE) / 16.0 AS est_j
      |FROM sc
      |WHERE CAST(n_eq AS DOUBLE) / 16.0 >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup pairs: 60-bit weighted-token fingerprint, 4 bands
    * of 15 bits for candidate generation, Hamming ≤ 6 to emit. 60 bits
    * (not 32) so that unrelated documents — expected Hamming ≈ 30 —
    * essentially never pass the threshold, while planted near-dups stay
    * at single digits. One map-only fingerprint pass, one equi-join on
    * (band, 15-bit bucket) with the shared [[dropHotBuckets]] cap. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashFrom(Tables.documents(s, dir), MaxLshBucket)

  private[graft] def simhashFrom(docs: DataFrame, bucketCap: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // The fingerprint is per-DOCUMENT state over that document's token
    // occurrences (simhash weights by term frequency) — row-local
    // work, so the whole 60-bit accumulation runs in the partition
    // loop: md5 per token, ±1 into a 60-counter array, one fp row per
    // doc. The earlier dataflow formulation shuffled every token
    // occurrence through a 60-aggregate groupBy to compute the same
    // integers. Zero shuffle until band candidate generation.
    val fp = docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val bits = new Array[Long](60)
          // null text → zero tokens (split(null) would NPE)
          val toks = if (text == null) Array.empty[String]
                     else text.split(" ").filter(_.nonEmpty)
          toks.foreach { t =>
            val h = md5Long60(md, t)
            var j = 0
            while (j < 60) {
              bits(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L)
              j += 1
            }
          }
          // zero-token docs emit NO fingerprint row: the SQL twin's
          // unnest produces no rows for them, and a materialized fp=0
          // would band two empty docs into a phantom pair
          if (toks.isEmpty) Iterator.empty
          else {
            var f = 0L
            var j = 0
            while (j < 60) { if (bits(j) > 0) f |= 1L << j; j += 1 }
            Iterator.single((id, f))
          }
        }
      }.toDF("doc_id", "fp")

    val bands = fp.select(col("doc_id"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), 15 * b).bitwiseAND(32767)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
      // barrier on the join key: the per-token md5 fingerprint loop ran
      // once per join side without it (2 scans in the executed plan);
      // with it, one slim exchange is reused by both sides and the
      // bucket count, and the self-join is co-partitioned
      .repartition(col("band"), col("bval"))

    // same hot-bucket hazard as q21/q26: a 15-bit band bucket with m
    // members yields m² candidates. The aligned form keeps (doc_id,
    // fp) referenced in the hot count so its copy of the barrier
    // canonicalizes with the join sides' full-width copies — one
    // exchange, one fingerprint pass at runtime.
    val kept = dropHotBucketsAligned(bands, bucketCap,
      "graft.cap(band,bval)",
      Some(pmod(xxhash64(col("doc_id"), col("fp")), lit(1)) === 0),
      "band", "bval")

    val a = kept.select(col("doc_id").as("doc_a"), col("fp").as("fpa"),
      col("band"), col("bval"))
    val b = kept.select(col("doc_id").as("doc_b"), col("fp").as("fpb"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fpa", "fpb")
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("fpa").bitwiseXOR(col("fpb"))).cast(IntegerType))
      .filter(col("hamming") <= 6)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val simhashSql: String = {
    val sums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n         ")
    val fpExpr = (0 until 60).map(j =>
      s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
       |  FROM documents),
       |th AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tk),
       |bs AS (
       |  SELECT doc_id,
       |         $sums
       |  FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS fp FROM bs),
       |bands AS (
       |  SELECT doc_id, fp, t.b AS band, (fp >> (15 * t.b)) & 32767 AS bval
       |  FROM fp CROSS JOIN range(0, 4) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.fp AS fpa, b.fp AS fpb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
       |  WHERE a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fpa, fpb)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fpa, fpb)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Document-frequency cap for [[ngramJaccard]]'s shingle join: a
    * shingle present in m documents contributes m² join pairs, so one
    * boilerplate 3-gram ("all rights reserved") dominates the whole
    * shuffle at corpus scale. Shingles with df above the cap are
    * removed from the shingle UNIVERSE (consistently from both the
    * intersection join and the per-doc set sizes — the standard
    * df-capped Jaccard, which also sharpens the measure: ubiquitous
    * shingles carry no dedup signal). Never fires on the testdata
    * (max df ≪ cap → oracle hashes unchanged); `SkewCapSpec` exercises
    * the firing path. */
  val MaxShingleDf = 4096

  /** Exact n-gram Jaccard: distinct word-3-gram sets, pair intersection
    * via a shuffle join on the shingle itself. Exact but quadratic in
    * per-shingle df — the verification stage after LSH candidate
    * generation, or a direct method once [[MaxShingleDf]] bounds df. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardOn(capShingles(shingleTable(s, dir), MaxShingleDf,
      "graft.cap(shingle_df)"))

  /** The corpus shingle-hash table (doc_id, h) — the last shared
    * intermediate of the exact set-overlap family (q23 Jaccard, q88
    * containment), WRITTEN once per snapshot like the pair graph and
    * band index, BUCKETED by the 60-bit hash so the df-count
    * aggregate and both self-join sides are co-located with zero
    * query-time exchange on h. Written UNCAPPED; the df-cap is
    * applied per read ([[capShingles]]) so its CollectMetrics fires
    * on every execution — the q77 band-index contract. */
  private def shingleTable(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "shingles",
        Some((Layout.Buckets, Seq("h")))) {
      shingleHashRowsFrom(Tables.documents(s, dir))
        .select(col("doc_id"), col("h60").as("h"))
    }

  /** Apply the df-cap to an explicit (doc_id, h) shingle relation.
    * `capName` keeps each query's CollectMetrics name unique — two
    * observe nodes with one name in one plan is an analysis error. */
  private def capShingles(sh0: DataFrame, dfCap: Int,
                          capName: String): DataFrame = {
    // df-cap: hot shingles (df > cap) are n_shingles/cap keys at most —
    // usually tiny, but Θ(n) on a boilerplate-saturated corpus, so no
    // broadcast() hint: AQE broadcasts when small, and the anti join is
    // already co-partitioned on h (bucketing/repartition) otherwise.
    // The cap firing is observable (same contract as dropHotBuckets).
    if (dfCap == Int.MaxValue) sh0 else {
      val hot = sh0.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .observe(capName,
          count(lit(1)).as("hot_shingles"),
          coalesce(sum(col("df")), lit(0L)).as("dropped_rows"))
        .select(col("h"))
      sh0.join(hot, Seq("h"), "left_anti")
    }
  }

  /** Inline (uncached) capped shingle pipeline — the spec surface
    * (`SkewCapSpec` fires the caps here, where nothing is table-backed);
    * the product queries read [[shingleTable]] instead. */
  private def cappedShingleHashes(docs: DataFrame, dfCap: Int,
                                  capName: String): DataFrame =
    capShingles(
      shingleHashRowsFrom(docs).select(col("doc_id"), col("h60").as("h"))
        .repartition(col("h")),
      dfCap, capName)

  private[graft] def ngramJaccardFrom(docs: DataFrame, dfCap: Int): DataFrame =
    jaccardOn(cappedShingleHashes(docs, dfCap, "graft.cap(shingle_df)"))

  /** Exact set-Jaccard over an already-capped (doc_id, h) relation.
    * Joins on the 60-bit shingle hash, not the shingle text: the
    * pair-generation shuffle then carries 8-byte keys instead of
    * ~30-byte strings. The oracle hashes identically (same md5 math),
    * so results agree bit-for-bit even in the (≈2^-61) collision case.
    * The input must arrive h-partitioned — the written table's
    * bucketing (product path) or the inline repartition barrier (spec
    * path) — so the df-cap count, the self-join (twice) and the size
    * aggregate all reuse ONE h-distribution instead of recomputing
    * tokenize→shingle→md5 per consumer (4 scans in the r02 plan). */
  private def jaccardOn(sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("union_n", col("na") + col("nb") - col("inter"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / col("union_n").cast(DoubleType))
      .filter(col("jac") >= 0.5)
      .select("doc_a", "doc_b", "inter", "union_n", "jac")
      .orderBy("doc_a", "doc_b")
  }

  /** The shingle hash of the SQL oracles, [[md5Long60]]'s twin: the
    * first 15 hex digits of the md5 of a shingle `sgl`, as BIGINT. */
  private val shingleHashSql = "CAST('0x' || substr(md5(sgl), 1, 15) AS BIGINT)"

  /** The q23 and q88 oracles' shared prefix: each document's distinct
    * word-3-shingle hashes (`sh`), their counts (`sz`) and every
    * document pair's shared count (`inter`). */
  private val trigramOverlapSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, $shingleHashSql AS h
      |  FROM (
      |    SELECT DISTINCT doc_id, sgl FROM (
      |      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
      |               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sgl
      |      FROM toks WHERE len(w) >= 3) t0) t),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  val ngramJaccardSql: String =
    s"""$trigramOverlapSql
      |SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_n,
      |       CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jac
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q88: ASYMMETRIC containment dedup — the overlap coefficient
    * |A∩B| / min(|A|, |B|) over distinct 3-gram shingle sets. Jaccard
    * (q23) misses subset duplicates by construction: a document fully
    * quoted inside a 10× longer one has J ≈ 0.1 but containment 1.0.
    * This operator is the standard answer (quote/excerpt detection,
    * page-within-crawl containment) and shares q23's entire physical
    * shape: the same df-capped shingle-hash table, one exchange on the
    * 60-bit hash, a co-partitioned self-join, and per-doc sizes off
    * the same exchange. The emission gate is exact-integer
    * (10·inter ≥ 8·min) with the double ratio computed once for the
    * report — Spark and DuckDB agree bit-for-bit. */
  def containment(s: SparkSession, dir: String): DataFrame =
    containmentOn(capShingles(shingleTable(s, dir), MaxShingleDf,
      "graft.cap(containment_df)"))

  private[graft] def containmentFrom(docs: DataFrame, dfCap: Int): DataFrame =
    containmentOn(cappedShingleHashes(docs, dfCap, "graft.cap(containment_df)"))

  private def containmentOn(sh: DataFrame): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 8)
      .withColumn("containment",
        col("inter").cast(DoubleType) / least(col("na"), col("nb")).cast(DoubleType))
      .select("doc_a", "doc_b", "inter", "na", "nb", "containment")
      .orderBy("doc_a", "doc_b")
  }

  val containmentSql: String =
    s"""$trigramOverlapSql
      |SELECT doc_a, doc_b, inter, sa.n AS na, sb.n AS nb,
      |       CAST(inter AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS containment
      |FROM inter
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE inter * 10 >= least(sa.n, sb.n) * 8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Distinct [[WindowLen]]-token window md5 hexes of a document,
    * stride 1 — the window generalization of [[distinctShinglePrefixes]]
    * (kept separate: the 3-gram loop is the hot path of five queries
    * and stays allocation-tuned). O(n·win) char copying per document;
    * a rolling hash would be O(n) but md5-of-window keeps the DuckDB
    * oracle bit-exact, and the work is row-local map-only either
    * way. */
  private def distinctWindowLongs(md: java.security.MessageDigest,
                                  text: String, win: Int): Iterator[Long] = {
    val toks = if (text == null) Array.empty[String]
               else text.split(" ").filter(_.nonEmpty)
    if (toks.length < win) Iterator.empty
    else {
      val seen = new java.util.HashSet[String]()
      val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - win) {
        sb.setLength(0)
        var j = 0
        while (j < win) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        val sgl = sb.toString
        if (seen.add(sgl)) out += md5Long60(md, sgl)
        i += 1
      }
      out.iterator
    }
  }

  /** q78 window length: 20 tokens ≈ a sentence-and-a-half of verbatim
    * text — long enough that a shared window is real copying, short
    * enough that the testdata's 10-99-token documents produce
    * windows. (The 50-token chunking constant belongs to q74's
    * training-chunk economics, not to span detection.) */
  val WindowLen = 20

  /** The oracles' [[WindowLen]]-token window CTE: `name` holds each
    * document's distinct window hashes `h` over the token lists `w`
    * of `toks` (documents shorter than a window have none). */
  private def winSql(name: String, toks: String): String =
    s"""$name AS (
       |  SELECT doc_id, $shingleHashSql AS h
       |  FROM (
       |    SELECT DISTINCT doc_id, sgl FROM (
       |      SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - ${WindowLen - 1}),
       |               i -> array_to_string(list_slice(w, i, i + ${WindowLen - 1}), ' '))) AS sgl
       |      FROM $toks WHERE len(w) >= $WindowLen) t0) t)""".stripMargin

  /** The q100, q101 and q105 oracles' shared prefix: `wh` holds every
    * [[WindowLen]]-token window of every document with its start token
    * `pos` and hash `h`, repeats kept. */
  private def posWinSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |win AS (
       |  SELECT doc_id,
       |         unnest(generate_series(1, len(w) - ${WindowLen - 1})) AS pos,
       |         unnest(list_transform(generate_series(1, len(w) - ${WindowLen - 1}),
       |           i -> array_to_string(list_slice(w, i, i + ${WindowLen - 1}), ' '))) AS sgl
       |  FROM toks WHERE len(w) >= $WindowLen),
       |wh AS (
       |  SELECT doc_id, pos, $shingleHashSql AS h
       |  FROM win)""".stripMargin

  /** Hot-window df-cap (q78) — same hazard and same treatment as q23's
    * [[MaxShingleDf]]: a boilerplate window present in m documents
    * contributes m² join pairs. Capped windows leave the window
    * universe consistently (join AND per-doc sizes); the firing is
    * observable via "graft.cap(window_df)". */
  val MaxWindowDf = 4096

  /** Exact substring-overlap dedup — the shared-SPAN modality that
    * shingle-set Jaccard (q21/q23) does not cover: q23 measures
    * whole-document set similarity, so a 200-token verbatim span
    * pasted into an otherwise-different 5000-token document scores
    * near zero; here it lights up as a run of shared windows. Every
    * overlapping [[WindowLen]]-token window (stride 1) is hashed;
    * documents sharing windows are found by an equi-join on the
    * 60-bit window hash — the scalable, equi-join-shaped
    * approximation of suffix-array dedup (windows at every offset ⇒
    * any shared span ≥ WindowLen tokens produces span−WindowLen+1
    * matching windows REGARDLESS of its alignment in either
    * document). Output per pair: shared window count and containment
    * (shared / smaller doc's window count); containment ≥ 0.5 means
    * most of the smaller document is verbatim inside the larger.
    *
    * Scale: one map-only window pass (row count = token count, same
    * as the 3-gram shingle table), one exchange on the 8-byte hash
    * reused by the df count, both join sides and the size aggregate
    * (the q23 barrier pattern), [[MaxWindowDf]] bounding per-window
    * fan-out. */
  def spanOverlap(s: SparkSession, dir: String): DataFrame =
    spanOverlapFrom(Tables.documents(s, dir), MaxWindowDf)

  private[graft] def spanOverlapFrom(docs: DataFrame, dfCap: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val win0 = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          distinctWindowLongs(md, text, WindowLen)
            .map(h => (id, h))
        }
      }.toDF("doc_id", "h")
      .repartition(col("h"))
    // Round-19: the window-hash pass used to execute up to 8× — the
    // self-join's two sides, sz's two join uses and each copy's hot
    // build all held their own copy of the subtree, and column
    // pruning narrowed the hot/sz copies of the h-barrier (h-only /
    // doc_id-only) so the exchanges decanonicalized and none were
    // reused (the q140/q87 bit). Every aggregate below now keeps BOTH
    // barrier columns referenced via a value-identical count:
    // count(when(pmod(x,1)=0,1)) ≡ count(*) (pmod(x,1) is 0 for every
    // long and no optimizer rule folds it), so all copies of the
    // barrier canonicalize onto ONE exchange and the MD5 pass runs
    // once at runtime.
    def countAll(keep: Column): Column =
      count(when(pmod(keep, lit(1)) === 0, 1))
    val win = if (dfCap == Int.MaxValue) win0 else {
      val hot = win0.groupBy(col("h")).agg(countAll(col("doc_id")).as("df"))
        .filter(col("df") > dfCap)
        .observe("graft.cap(window_df)",
          count(lit(1)).as("hot_windows"),
          coalesce(sum(col("df")), lit(0L)).as("dropped_rows"))
        .select(col("h"))
      win0.join(hot, Seq("h"), "left_anti")
    }
    val sz = win.groupBy(col("doc_id")).agg(countAll(col("h")).as("nw"))
    val inter = win.as("a").join(win.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("nw").as("nwa")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("nw").as("nwb")), Seq("doc_b"))
      .withColumn("min_windows", least(col("nwa"), col("nwb")))
      .withColumn("containment",
        col("shared_windows").cast(DoubleType) / col("min_windows").cast(DoubleType))
      .filter(col("containment") >= 0.5)
      .select("doc_a", "doc_b", "shared_windows", "min_windows", "containment")
      .orderBy("doc_a", "doc_b")
  }

  val spanOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |${winSql("win", "toks")},
       |sz AS (SELECT doc_id, count(*) AS nw FROM win GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_windows
       |  FROM win a JOIN win b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, shared_windows,
       |       least(sa.nw, sb.nw) AS min_windows,
       |       CAST(shared_windows AS DOUBLE) / CAST(least(sa.nw, sb.nw) AS DOUBLE) AS containment
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(shared_windows AS DOUBLE) / CAST(least(sa.nw, sb.nw) AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** All [[WindowLen]]-token window hashes of a document WITH their
    * 1-based token positions (no dedup — position matters here, unlike
    * [[distinctWindowLongs]] where repeated windows would double-count
    * set overlap). Same md5-60-bit hash as every other window/shingle
    * path so the DuckDB oracle reproduces it bit-for-bit. */
  private def windowHashesAt(md: java.security.MessageDigest,
                             text: String, win: Int): Iterator[(Long, Long)] = {
    val toks = if (text == null) Array.empty[String]
               else text.split(" ").filter(_.nonEmpty)
    if (toks.length < win) Iterator.empty
    else {
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](toks.length)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - win) {
        sb.setLength(0)
        var j = 0
        while (j < win) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out += (((i + 1).toLong,
          md5Long60(md, sb.toString)))
        i += 1
      }
      out.iterator
    }
  }

  /** Per-document duplicated-span FRACTION (q99) — the attribute-tagger
    * view of q78: instead of emitting candidate pairs, score every
    * document by how much of it is verbatim-shared with the rest of the
    * corpus (the "duplicated fraction" gate public pipelines threshold
    * on before deciding drop-vs-keep). For each doc with ≥ [[WindowLen]]
    * tokens: `nw` distinct windows, `dup_windows` of them present in at
    * least one OTHER document, `dup_frac` their ratio.
    *
    * Scale: strictly LINEAR, unlike the pair queries — there is no
    * pair join to fan out, so no df cap is needed. The corpus-wide
    * window df is a WINDOW AGGREGATE over the hash (one subtree, one
    * scan by construction — an aggregate-plus-join-back formulation
    * computes the same thing but column pruning makes the two
    * consumer subtrees canonicalize differently, costing a second
    * scan): scan → window emission → one exchange on the 8-byte hash
    * → per-hash count → one exchange on doc_id for the rollup. */
  def dupSpanFraction(s: SparkSession, dir: String): DataFrame =
    dupSpanFractionFrom(Tables.documents(s, dir))

  private[graft] def dupSpanFractionFrom(docs: DataFrame): DataFrame =
    dupSpanStatsFrom(docs).orderBy("doc_id")

  /** The unordered q99 rollup — factored so q105 can run it twice
    * (pre-trim and post-trim corpora) inside one plan without
    * intermediate sorts. */
  private def dupSpanStatsFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val win = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          distinctWindowLongs(md, text, WindowLen)
            .map(h => (id, h))
        }
      }.toDF("doc_id", "h")
    // windows are distinct per doc, so per-hash row count == containing-doc count
    val df = count(lit(1)).over(Window.partitionBy("h"))
    win.withColumn("dup", (df >= 2).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(col("dup")).as("dup_windows"))
      .withColumn("dup_frac",
        col("dup_windows").cast(DoubleType) / col("nw").cast(DoubleType))
  }

  val dupSpanFractionSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |${winSql("win", "toks")},
       |dfh AS (SELECT h, count(*) AS df FROM win GROUP BY h)
       |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS nw,
       |       CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
       |       CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS dup_frac
       |FROM win w JOIN dfh d ON d.h = w.h
       |GROUP BY w.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Duplicated-span LOCALIZATION (q100) — q99 says HOW MUCH of a doc
    * is duplicated; this says WHERE: per document, the maximal runs of
    * consecutive corpus-duplicated windows (a shared span of k ≥
    * [[WindowLen]] tokens appears as a run of k − WindowLen + 1
    * consecutive duplicated window positions), reported as the span
    * count plus the longest span's start offset and token length — the
    * attribute a surgical span-REMOVAL step consumes (cut the span,
    * keep the doc) where doc-level dedup would discard the whole text.
    *
    * Positions make this the non-set variant: windows are NOT deduped
    * per doc, and a window counts as duplicated only when its hash
    * occurs in ≥ 2 DISTINCT documents (within-doc repetition is q62's
    * business, not dedup's). Runs are found with the classic
    * gaps-and-islands trick (pos − row_number is constant within a
    * consecutive run); ties for longest span resolve to the earliest
    * start, so output is total-order deterministic.
    *
    * Scale: linear like q99 — no pair join; one exchange on the window
    * hash ("appears in ≥ 2 distinct docs" is exactly `min(doc_id) ≠
    * max(doc_id)` over the hash partition, two O(1)-state window
    * aggregates riding one exchange — no distinct-count, no
    * join-back), one exchange on doc_id shared by BOTH analytic
    * windows and the run rollup (partitionBy doc_id throughout),
    * nothing quadratic anywhere. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansFrom(Tables.documents(s, dir))

  private[graft] def dupSpansFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val win = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          windowHashesAt(md, text, WindowLen).map { case (pos, h) => (id, pos, h) }
        }
      }.toDF("doc_id", "pos", "h")
    val byH = Window.partitionBy("h")
    val dup = win
      .withColumn("mn", min(col("doc_id")).over(byH))
      .withColumn("mx", max(col("doc_id")).over(byH))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("pos"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("span_windows"))
    runs
      .withColumn("n_spans", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("span_windows").desc, col("span_start").asc)))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("n_spans"), col("span_start"), col("span_windows"),
        (col("span_windows") + lit(WindowLen - 1).cast(LongType)).as("span_tokens"))
      .orderBy("doc_id")
  }

  val dupSpansSql: String =
    s"""$posWinSql,
       |dfh AS (SELECT h, count(DISTINCT doc_id) AS df FROM wh GROUP BY h),
       |dup AS (
       |  SELECT w.doc_id, w.pos FROM wh w JOIN dfh d ON d.h = w.h WHERE d.df >= 2),
       |runs AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup),
       |spans AS (
       |  SELECT doc_id, min(pos) AS span_start, count(*) AS span_windows
       |  FROM runs GROUP BY doc_id, grp),
       |best AS (
       |  SELECT doc_id, span_start, span_windows,
       |         count(*) OVER (PARTITION BY doc_id) AS n_spans,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY span_windows DESC, span_start ASC) AS rk
       |  FROM spans)
       |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
       |       CAST(span_start AS BIGINT) AS span_start,
       |       CAST(span_windows AS BIGINT) AS span_windows,
       |       CAST(span_windows + ${WindowLen - 1} AS BIGINT) AS span_tokens
       |FROM best WHERE rk = 1
       |ORDER BY doc_id""".stripMargin

  /** The standing corpus's window table as a WRITTEN index, bucketed
    * by the window hash — the span family's per-snapshot artifact,
    * exactly the band-index pattern (q77): written UNCAPPED so the
    * per-read df cap stays observable on every execution. */
  private[graft] def corpusWindowIndex(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "winindex",
        Some((Layout.Buckets, Seq("h")))) {
      windowTable(Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0))
    }

  /** Distinct (doc_id, h) window rows of a corpus — q78's emission as
    * a reusable table builder. */
  private[graft] def windowTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          distinctWindowLongs(md, text, WindowLen)
            .map(h => (id, h))
        }
      }.toDF("doc_id", "h")
  }

  /** q104: INCREMENTAL WINDOW-INDEX MAINTENANCE — the round-7 verdict's
    * lifecycle asymmetry closed: the span family's written index
    * (`graft_winindex`) previously only ever REBUILT per snapshot,
    * while the pair graph had q82's incremental path. The next
    * snapshot's window index is
    *
    *   previous written index ∪ batch window table
    *
    * — O(batch) hashing (the batch signs only itself), zero corpus
    * re-hashing, zero corpus shuffle (the standing index streams
    * through the union; at write time the next snapshot lands
    * h-bucketed exactly like its predecessor, an append-shaped write
    * because batch doc_ids are disjoint from the corpus's). The
    * ORACLE is the full-rebuild window table over ALL documents (the
    * q82 contract): the driver gate itself proves update == rebuild.
    * Deterministic total order: [[windowTable]] emits DISTINCT
    * (doc_id, h) rows and the batch/corpus doc sets are disjoint, so
    * (doc_id, h) is a key. */
  def winIndexUpdate(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
    corpusWindowIndex(s, dir).unionByName(windowTable(batch))
      .orderBy("doc_id", "h")
  }

  val winIndexUpdateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |${winSql("win", "toks")}
       |SELECT doc_id, h FROM win ORDER BY doc_id, h""".stripMargin

  /** INCREMENTAL span overlap (q102) — completes the incremental
    * matrix: exact (q43), MinHash-LSH (q77), semantic (q91) and now
    * shared-span, each an ingest batch against a WRITTEN corpus index.
    * The admission question is asymmetric by design: "how much of the
    * INCOMING document is material the corpus already has" —
    * containment is shared windows over the NEW doc's window count
    * (the corpus doc's size is irrelevant to an ingest gate, and not
    * computing it keeps the standing corpus entirely un-aggregated).
    *
    * Scale: O(batch) new work — the batch signs only itself; the
    * written index is bucketed on the join key h, so the corpus side
    * joins WITHOUT re-shuffling (plan-pinned `Bucketed: true`, the
    * q77 contract) and is never scanned beyond the hash join. The
    * per-read [[MaxWindowDf]] cap bounds boilerplate-window fan-out
    * observably. */
  def spanIncremental(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
    spanIncrementalJoin(windowTable(batch), corpusWindowIndex(s, dir), MaxWindowDf)
  }

  /** Uncached form over explicit frames (the spec equivalence surface). */
  private[graft] def spanIncrementalFrom(batch: DataFrame, corpus: DataFrame,
                                         dfCap: Int): DataFrame =
    spanIncrementalJoin(windowTable(batch), windowTable(corpus), dfCap)

  private def spanIncrementalJoin(nb: DataFrame, ib0: DataFrame,
                                  dfCap: Int): DataFrame = {
    val ib = if (dfCap == Int.MaxValue) ib0
             else dropHotBucketsNamed(ib0, dfCap, "graft.cap(winindex_df)", "h")
    val sz = nb.groupBy(col("doc_id")).agg(count(lit(1)).as("nw_new"))
    val inter = nb.select(col("doc_id").as("doc_new"), col("h"))
      .join(ib.select(col("doc_id").as("doc_corpus"), col("h")), Seq("h"))
      .groupBy(col("doc_new"), col("doc_corpus"))
      .agg(count(lit(1)).as("shared_windows"))
    inter
      .join(sz.select(col("doc_id").as("doc_new"), col("nw_new")), Seq("doc_new"))
      .withColumn("containment",
        col("shared_windows").cast(DoubleType) / col("nw_new").cast(DoubleType))
      .filter(col("containment") >= 0.5)
      .select("doc_new", "doc_corpus", "shared_windows", "nw_new", "containment")
      .orderBy("doc_new", "doc_corpus")
  }

  /** Full-recompute oracle restricted to cross pairs — the driver gate
    * itself proves incremental == rebuild (the q77/q82 idiom). */
  val spanIncrementalSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |${winSql("win", "toks")},
       |nw AS (SELECT doc_id, count(*) AS nw FROM win WHERE doc_id % 5 = 0 GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_corpus, count(*) AS shared_windows
       |  FROM win a JOIN win b ON a.h = b.h AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |  GROUP BY 1, 2)
       |SELECT doc_new, doc_corpus, shared_windows, n.nw AS nw_new,
       |       CAST(shared_windows AS DOUBLE) / CAST(n.nw AS DOUBLE) AS containment
       |FROM inter JOIN nw n ON n.doc_id = doc_new
       |WHERE CAST(shared_windows AS DOUBLE) / CAST(n.nw AS DOUBLE) >= 0.5
       |ORDER BY doc_new, doc_corpus""".stripMargin

  /** Span COVERAGE admission score (q103) — the per-DOC form of q102's
    * pair output and the batch twin of the streaming span front door
    * (`streaming.DocIngest.spanIngest`): for each incoming document,
    * the fraction of its windows already present ANYWHERE in the
    * standing corpus. q102 answers "which corpus doc does this
    * duplicate"; this answers the admission question directly — "how
    * much of it is known material" — with no per-pair fan-out at all.
    *
    * Scale: the known-window set is the written h-bucketed index
    * distinct-projected (bucketed groupBy — zero exchange on the
    * corpus side), the batch left-joins it on h and rolls up per doc:
    * O(batch) rows end to end, the corpus is never aggregated beyond
    * its own bucket-local distinct. */
  def spanCoverage(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
    spanCoverageFrom(batch, corpusWindowIndex(s, dir))
  }

  /** Uncached form over explicit frames: `index` is a (doc_id, h)
    * window table ([[windowTable]] output or the written index). */
  private[graft] def spanCoverageFrom(batch: DataFrame, index: DataFrame): DataFrame = {
    val known = index.select(col("h")).distinct().withColumn("present", lit(1))
    windowTable(batch).join(known, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"),
        sum(coalesce(col("present"), lit(0)).cast(LongType)).as("known_windows"))
      .withColumn("coverage",
        col("known_windows").cast(DoubleType) / col("nw").cast(DoubleType))
      .orderBy("doc_id")
  }

  val spanCoverageSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM documents),
       |${winSql("win", "toks")},
       |corp AS (SELECT DISTINCT h FROM win WHERE doc_id % 5 <> 0)
       |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS nw,
       |       CAST(sum(CASE WHEN c.h IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS known_windows,
       |       CAST(sum(CASE WHEN c.h IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS coverage
       |FROM win w LEFT JOIN corp c ON c.h = w.h
       |WHERE w.doc_id % 5 = 0
       |GROUP BY w.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Surgical span REMOVAL (q101) — the step q100's attributes feed:
    * rewrite each document with its corpus-duplicated spans cut out,
    * keeping the CANONICAL copy — a window is removable in doc d iff
    * d is not the minimum doc_id containing that window hash (the
    * repo-wide keep-min convention; the smallest-id owner keeps its
    * text intact, every other occurrence is trimmed). This is the
    * span-level analogue of exact-dedup's keep-min row: duplicated
    * material survives exactly once in the corpus, and a document is
    * never dropped wholesale when only part of it is boilerplate.
    * Emits per-doc before/after token counts and the md5 of the
    * trimmed text (slim, gate-friendly; production would write the
    * rewritten corpus to a layout table instead).
    *
    * Scale: linear — removability is ONE O(1)-state window aggregate
    * (`min(doc_id)` over the hash partition, subsuming the df ≥ 2
    * test: singleton windows have min == their own doc), covered
    * token indexes explode to ≤ WindowLen rows per removable window,
    * and reassembly is a per-doc sort of surviving tokens. No pair
    * join anywhere; exchanges: window hash, (doc, idx) dedup, per-doc
    * rollups. */
  def spanTrim(s: SparkSession, dir: String): DataFrame =
    spanTrimFrom(Tables.documents(s, dir))

  /** The marked token table behind q101/q105: every (filtered,
    * 1-based-indexed) token of every doc, with `cov` = 1 where some
    * removable (non-canonical) window occurrence covers it. */
  private def markedTokensFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val win = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          windowHashesAt(md, text, WindowLen).map { case (pos, h) => (id, pos, h) }
        }
      }.toDF("doc_id", "pos", "h")
    // removable ⟺ this doc is not the window's canonical (min-id) owner
    val removable = win
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("mn"))
      .select(col("doc_id"), col("pos"))
    val covered = removable
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(WindowLen - 1).cast(LongType))).as("idx"))
      .distinct()
    // tokens with 1-based positions in the FILTERED token sequence —
    // the same indexing every window emitter uses
    val toks = docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "i0", "tok")
      .filter(col("tok") =!= "")
      .withColumn("idx",
        row_number().over(Window.partitionBy("doc_id").orderBy("i0")).cast(LongType))
      .select(col("doc_id"), col("idx"), col("tok"))
    toks.join(covered.withColumn("cov", lit(1)), Seq("doc_id", "idx"), "left")
  }

  /** The surviving tokens of a doc in order, reassembled — collect_list
    * skips the nulls the `when` leaves on covered tokens. */
  private def survivingText: Column =
    array_join(
      transform(
        array_sort(collect_list(
          when(col("cov").isNull, struct(col("idx"), col("tok"))))),
        x => x.getField("tok")), " ")

  private[graft] def spanTrimFrom(docs: DataFrame): DataFrame =
    // one pass: mark covered tokens, count and reassemble in a single
    // rollup (a separate n_before aggregate would prune the row_number
    // away and canonicalize as a THIRD documents scan)
    markedTokensFrom(docs).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("cov").isNull, 1L).otherwise(0L)).as("n_after"),
        md5(survivingText).as("trimmed_md5"))
      .orderBy("doc_id")

  /** The TRIMMED corpus as a (doc_id, text) relation — what a
    * production span-dedup pass would write back to the documents
    * layout; q105 re-derives q99 over it. */
  private[graft] def trimmedDocsFrom(docs: DataFrame): DataFrame =
    markedTokensFrom(docs).groupBy(col("doc_id"))
      .agg(survivingText.as("text"))

  val spanTrimSql: String =
    s"""$posWinSql,
       |own AS (SELECT h, min(doc_id) AS mn FROM wh GROUP BY h),
       |cov AS (
       |  SELECT DISTINCT w.doc_id, unnest(generate_series(w.pos, w.pos + ${WindowLen - 1})) AS idx
       |  FROM wh w JOIN own o ON o.h = w.h WHERE w.doc_id <> o.mn),
       |tok AS (
       |  SELECT doc_id, unnest(generate_series(1, len(w))) AS idx, unnest(w) AS tok
       |  FROM toks WHERE len(w) > 0)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_before,
       |       CAST(sum(CASE WHEN c.idx IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
       |       md5(coalesce(string_agg(CASE WHEN c.idx IS NULL THEN t.tok END,
       |                               ' ' ORDER BY t.idx), '')) AS trimmed_md5
       |FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** q105: TRIM → FRACTION COMPOSITION — the span family's end-to-end
    * proof (the q81/q95 pattern): rewrite the corpus with q101's
    * surgical trim, re-run q99's duplicated-fraction tagger over the
    * REWRITTEN corpus, and emit both generations side by side. The
    * claim a pipeline operator needs — "after the trim pass, the
    * corpus carries no cross-document duplicated spans; every shared
    * span survives exactly once, in its canonical (min-id) owner" —
    * becomes a gated number: dup_after is 0 on every row at both
    * test scales, with the pre-trim dup counts alongside showing what
    * the pass removed. (`SpanTrimCompositionSpec` additionally proves
    * the trim is a FIXPOINT — a second pass changes nothing — and
    * exercises both properties on a planted-span fixture.)
    *
    * Scale: two q99 passes plus one trim rewrite, all linear — the
    * trim feeds the second tagger as columns, no pair join anywhere;
    * a doc trimmed below [[WindowLen]] tokens leaves the second
    * tagger's domain and reports nw_after/dup_after 0. */
  def trimFraction(s: SparkSession, dir: String): DataFrame =
    trimFractionFrom(Tables.documents(s, dir))

  private[graft] def trimFractionFrom(docs: DataFrame): DataFrame = {
    val before = dupSpanStatsFrom(docs)
    val after = dupSpanStatsFrom(trimmedDocsFrom(docs))
    before.select(col("doc_id"), col("nw").as("nw_before"),
        col("dup_windows").as("dup_before"), col("dup_frac").as("dup_frac_before"))
      .join(after.select(col("doc_id"), col("nw").as("nw_after"),
        col("dup_windows").as("dup_after")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("nw_before"), col("dup_before"), col("dup_frac_before"),
        coalesce(col("nw_after"), lit(0L)).as("nw_after"),
        coalesce(col("dup_after"), lit(0L)).as("dup_after"))
      .orderBy("doc_id")
  }

  /** The q105 oracle: q101's trim CTEs rebuilt to emit the trimmed
    * TEXT, then q99's window-df rollup over both corpora, left-joined
    * (a doc trimmed below the window length vanishes from the second
    * rollup → coalesced zeros). */
  val trimFractionSql: String =
    s"""$posWinSql,
       |own AS (SELECT h, min(doc_id) AS mn FROM wh GROUP BY h),
       |cov AS (
       |  SELECT DISTINCT w.doc_id, unnest(generate_series(w.pos, w.pos + ${WindowLen - 1})) AS idx
       |  FROM wh w JOIN own o ON o.h = w.h WHERE w.doc_id <> o.mn),
       |tok AS (
       |  SELECT doc_id, unnest(generate_series(1, len(w))) AS idx, unnest(w) AS tok
       |  FROM toks WHERE len(w) > 0),
       |trimmed AS (
       |  SELECT t.doc_id,
       |         coalesce(string_agg(CASE WHEN c.idx IS NULL THEN t.tok END,
       |                             ' ' ORDER BY t.idx), '') AS text
       |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = t.idx
       |  GROUP BY t.doc_id),
       |bwin AS (
       |  SELECT doc_id, $shingleHashSql AS h
       |  FROM (SELECT DISTINCT doc_id, sgl FROM win) t),
       |bdf AS (SELECT h, count(*) AS df FROM bwin GROUP BY h),
       |before_agg AS (
       |  SELECT w.doc_id, count(*) AS nw,
       |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup
       |  FROM bwin w JOIN bdf d ON d.h = w.h GROUP BY w.doc_id),
       |toks2 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |  FROM trimmed),
       |${winSql("awin", "toks2")},
       |adf AS (SELECT h, count(*) AS df FROM awin GROUP BY h),
       |after_agg AS (
       |  SELECT w.doc_id, count(*) AS nw,
       |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS dup
       |  FROM awin w JOIN adf d ON d.h = w.h GROUP BY w.doc_id)
       |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS nw_before,
       |       CAST(b.dup AS BIGINT) AS dup_before,
       |       CAST(b.dup AS DOUBLE) / CAST(b.nw AS DOUBLE) AS dup_frac_before,
       |       CAST(coalesce(a.nw, 0) AS BIGINT) AS nw_after,
       |       CAST(coalesce(a.dup, 0) AS BIGINT) AS dup_after
       |FROM before_agg b LEFT JOIN after_agg a ON a.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** q106's takedown set: doc_id ≡ [[DelRem]] (mod [[DelMod]]) on
    * documents, vec_id likewise on embeddings — deliberately coprime
    * to the corpus/batch split (mod 5) so the delete cuts across both
    * standing-corpus and batch-side artifacts. */
  private[graft] val DelMod = 7
  private[graft] val DelRem = 3

  /** One census row: artifact name, surviving row count, and an
    * order-independent content checksum (sum of 32-bit md5 hashes of
    * the per-row key string — BIGINT-exact, 2^32·rows ≪ 2^63). */
  private[graft] def censusRow(name: String, df: DataFrame, key: Column): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
      coalesce(sum(hash32(key)), lit(0L)).as("checksum"))
      .select(lit(name).as("artifact"), col("n_rows"), col("checksum"))

  /** The document content checksum: the [[censusRow]] sum over the
    * per-document key (doc_id | n_chars | lang | md5(text)). The
    * oracles spell the same key in SQL. */
  private[graft] def docChecksum: Column =
    sum(hash32(concat_ws("|", col("doc_id"), col("n_chars"),
      col("lang"), md5(col("text"))))).as("checksum")

  /** The document census per `key` (a shard or a source): n_docs,
    * sum_chars and [[docChecksum]] — what every corpus export gate
    * compares against its oracle. */
  private[graft] def docCensus(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"), docChecksum)

  /** Multi-class census in ONE source pass (r19 optimization — guide
    * §1.2 "don't compute things twice"): `cls` names each row's class,
    * and the result carries one row per entry of `names` — row-for-row
    * identical to unioning per-class [[censusRow]]s over the same
    * relation filtered per class (the grouped sum of per-row hashes is
    * the same order-independent checksum; absent classes report the
    * empty census 0/0 through the left join), at one scan of the
    * source instead of `names.size`. Precondition: the classes are
    * DISJOINT (each row satisfies exactly one class predicate), which
    * every call site's class column guarantees by construction
    * (when/otherwise chains). */
  private[graft] def censusRows(df: DataFrame, cls: Column, key: Column,
      names: Seq[String]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val grouped = df.select(cls.as("artifact"), hash32(key).as("h"))
      .groupBy(col("artifact"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("c"))
    // left-outer keeps absent classes; only the right side of a left
    // join is broadcastable, and `grouped` is ≤ names.size rows
    names.toDF("artifact").join(broadcast(grouped), Seq("artifact"), "left")
      .select(col("artifact"),
        coalesce(col("n"), lit(0L)).as("n_rows"),
        coalesce(col("c"), lit(0L)).as("checksum"))
  }

  /** q106: TARGETED-DELETE LIFECYCLE CENSUS — the takedown/opt-out
    * path the round-7 verdict flagged as missing from the table
    * lifecycle. A delete-key relation (docs AND their embeddings)
    * is applied to the PER-KEY written artifacts via
    * [[Layout.deleteRewrite]] — pair graph (both endpoints), shingle
    * index, band index, window index, IVF assignment, PQ code table,
    * composed IVFPQ index — each published as `<what>del` with its
    * bucket spec preserved, and the census reports each artifact's
    * surviving row count plus an order-independent content checksum.
    * The graph-ANN family's artifacts — whose rows carry NEIGHBOR
    * payloads a pure anti join cannot maintain — get the same
    * takedown under [[Similarity.annDeleteGraph]] (q116: `nngraph`,
    * `exacttopk`) and [[Similarity.annDeleteBase]] (q117:
    * `groutesbase`, `nngraphbase`), so the one delete relation spans
    * the whole written-artifact family.
    *
    * The ORACLE re-derives every artifact FROM SCRATCH over the
    * surviving corpus (held snapshot quantizer on the ANN side — see
    * [[Similarity.deletedAnnTables]]), so the gate itself proves
    * delete-maintained == rebuild-on-survivors, the q82/q104
    * contract extended to the whole artifact family. (As with q82,
    * equality is exact in the uncapped regime the testdata is in: a
    * hot-bucket cap that fires differently on the two decompositions
    * is the documented exception, property-tested separately.)
    *
    * Scale (round 12): each delete publishes as a TOMBSTONE EVENT —
    * the event writes O(delete set) tombstone rows and swaps a view;
    * the artifact's files are never touched. Reads pay one
    * AQE-broadcast anti join per purged key column, streaming
    * map-side through the bucketed base scan — nothing re-shuffles,
    * bucket specs survive (see [[Layout.tombstoneEvent]];
    * [[Layout.compactDeleted]] recovers the anti join at the next
    * snapshot build). */
  def deleteCensus(s: SparkSession, dir: String): DataFrame = {
    val docDel = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(DelMod)) === lit(DelRem))
      .select(col("doc_id"))
    val vecDel = Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(DelMod)) === lit(DelRem))
      .select(col("vec_id"))
    def del(what: String, buckets: Option[(Int, Seq[String])],
            keyCols: Seq[String])(base: => DataFrame) =
      Layout.deleteRewrite(s, dir, what, buckets, docDel, keyCols)(base)
    val arts: Seq[(String, DataFrame, Column)] = Seq(
      ("pairgraph",
        del("pairgraph", None, Seq("doc_a", "doc_b"))(pairGraph(s, dir)),
        concat_ws("|", col("doc_a"), col("doc_b"), col("n_eq"))),
      ("shingles",
        del("shingles", Some((Layout.Buckets, Seq("h"))), Seq("doc_id"))(
          shingleTable(s, dir)),
        concat_ws("|", col("doc_id"), col("h"))),
      ("bandindex",
        del("bandindex", Some((Layout.Buckets, Seq("band", "bval"))), Seq("doc_id"))(
          corpusBandIndex(s, dir)),
        concat_ws("|", col("doc_id"), col("band"), col("bval"))),
      ("winindex",
        del("winindex", Some((Layout.Buckets, Seq("h"))), Seq("doc_id"))(
          corpusWindowIndex(s, dir)),
        concat_ws("|", col("doc_id"), col("h")))
    ) ++ Similarity.deletedAnnTables(s, dir, vecDel)
    arts.map { case (nm, df, key) => censusRow(nm, df, key) }
      .reduce(_ unionByName _)
      .orderBy("artifact")
  }

  /** The q106 oracle: every artifact re-derived from scratch over the
    * surviving corpus. `documents` is shadowed per subquery as the
    * survivor set (`main.documents` reaches the base relation), so
    * the q21/q23/q78 chains run unchanged over it; the ANN rows come
    * from [[Similarity.annDeleteCensusSql]] (held quantizer). */
  /** q129: DELETE → COMPACTION, the full lifecycle driver-gated
    * (round-12; `MvccDeleteSpec` proves the mechanism, this gates it
    * on a production artifact): q106's tombstone-delete of the
    * written window index (`winindexdel` — a merge-on-read view over
    * the untouched base files) is COMPACTED via
    * [[Layout.compactDeleted]] — folded into a fresh h-bucketed table
    * under the next version, the stable name swapped — and the gated
    * census reads the compacted artifact. The oracle re-derives the
    * surviving window relation from scratch, so the gate proves
    * view == compacted-table == rebuild: the read-cost recovery path
    * loses no row. Compaction runs once per (session, snapshot) (the
    * census row is a materialized table), the single-writer
    * maintenance contract. */
  def deleteCompaction(s: SparkSession, dir: String): DataFrame = {
    val docDel = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(DelMod)) === lit(DelRem))
      .select(col("doc_id"))
    // the q106-shared once-gate: same artifact, same delete relation
    Layout.deleteRewrite(s, dir, "winindex", Some((Layout.Buckets, Seq("h"))),
      docDel, Seq("doc_id"))(corpusWindowIndex(s, dir))
    Layout.materializedTable(s, dir, "wincompcensus") {
      val compacted = Layout.compactDeleted(s, dir, "winindexdel",
        Some((Layout.Buckets, Seq("h"))))
      censusRow("winindex_compacted", compacted,
        concat_ws("|", col("doc_id"), col("h")))
    }.orderBy("artifact")
  }

  /** The q129 oracle: the q106 winindex row's derivation verbatim
    * (shared [[winSurvivorsSql]] fragment), relabelled — compaction
    * must preserve exactly the surviving window relation. */
  val deleteCompactionSql: String = {
    val corpusSurvivors =
      s"""documents AS (SELECT * FROM main.documents
         |              WHERE doc_id % $DelMod <> $DelRem AND doc_id % 5 <> 0)""".stripMargin
    s"""SELECT 'winindex_compacted' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
       |       ${h32("CAST(doc_id AS VARCHAR) || '|' || CAST(h AS VARCHAR)")} AS checksum
       |FROM (
       |  ${winSurvivorsSql(corpusSurvivors)}) w
       |ORDER BY artifact""".stripMargin
  }

  /** q133's event slices: per event i, one killed doc residue and one
    * re-ingested (touched) residue mod 50, both avoiding multiples of
    * 5 (the window index covers the STANDING corpus, doc_id ≢ 0
    * mod 5). ONE Scala definition feeds both the Spark driver and the
    * oracle's VALUES list, so the two cannot drift. */
  private val PolicyKillRes = (0 to 24).filterNot(_ % 5 == 0).take(16)
  private val PolicyTouchRes = (26 to 49).filterNot(_ % 5 == 0).take(16)

  /** q133: the COMPACTION DECISION driver-gated (round-13 lead item,
    * beyond the spec level): delete+refill events are driven against
    * the written window index until [[Layout.shouldCompact]] fires —
    * reading only the `_mass_` metadata markers each event records —
    * then [[Layout.maintainDeleted]] runs the gated compaction. The
    * census exposes the DECISION itself (`policy_fired_at`: the event
    * number, with the cumulative tombstone-key count as its checksum)
    * next to the compacted survivors, and the ORACLE predicts both
    * from the raw tables: the fire point is the first event whose
    * cumulative (kill + touch) key count exceeds tombFrac (1%) of the
    * window-index row count, and the survivors are the index minus
    * the killed residues' rows (touched rows are identity re-ingests).
    * The policy is pinned to the tombFrac dimension for the gate
    * (segFilesMax/maxEvents lifted via conf and restored), because
    * per-event FILE counts are parallelism-dependent — the file
    * dimension stays covered by `MvccLifecycleSpec` and the knee
    * probe. */
  def compactionPolicy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bkt = Some((Layout.Buckets, Seq("h")))
    // the probe-shared base artifact
    val base = Layout.materializedTable(s, dir, "kneebase", bkt) {
      corpusWindowIndex(s, dir).select(col("doc_id"), col("h"))
    }
    val baseName = Layout.tableName(dir, "kneebase")
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    Layout.materializedTable(s, dir, "policycensus") {
      def slice(r: Int) = docs.filter(pmod(col("doc_id"), lit(50)) === r)
      val prev = Seq("segFilesMax", "maxEvents")
        .map(k => k -> s.conf.getOption(s"spark.graft.compact.$k")).toMap
      s.conf.set("spark.graft.compact.segFilesMax", Long.MaxValue.toString)
      s.conf.set("spark.graft.compact.maxEvents", "100")
      try {
        var fired = 0; var i = 0
        while (fired == 0 && i < PolicyKillRes.size) {
          i += 1
          val kill = slice(PolicyKillRes(i - 1))
          val touch = slice(PolicyTouchRes(i - 1))
          val refill = base.join(touch, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("h"))
          Layout.tombstoneEvent(s, dir, "policydel", baseName,
            Seq("doc_id", "h"), Seq("doc_id" -> kill, "doc_id" -> touch),
            Some(refill), bkt)
          if (Layout.shouldCompact(s, dir, "policydel")) fired = i
        }
        require(fired > 0, s"policy never fired within ${PolicyKillRes.size} events")
        // the mass marker at the fire point — compaction clears it
        val mass = Layout.latestMassMarker(s,
          s"${Layout.tableName(dir, "policydel")}tombs").get
        val compacted = Layout.maintainDeleted(s, dir, "policydel", bkt).get
        censusRow("survivors", compacted, concat_ws("|", col("doc_id"), col("h")))
          .unionByName(Seq(("policy_fired_at", fired.toLong, mass("tombRows")))
            .toDF("artifact", "n_rows", "checksum"))
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(s"spark.graft.compact.$k", v)
        case (k, None)    => s.conf.unset(s"spark.graft.compact.$k")
      }
    }.orderBy("artifact")
  }

  /** The q133 oracle: the fire point and the survivors predicted from
    * the raw tables — cumulative per-event key counts vs 1% of the
    * window-index cardinality, and the index minus the first
    * `fired`-many killed residues. */
  val compactionPolicySql: String = {
    val evmap = PolicyKillRes.zip(PolicyTouchRes).zipWithIndex
      .map { case ((k, t), i) => s"(${i + 1}, $k, $t)" }.mkString(", ")
    val corpusAll = "documents AS (SELECT * FROM main.documents WHERE doc_id % 5 <> 0)"
    s"""WITH wbase AS (
       |  ${winSurvivorsSql(corpusAll).replace("\n", "\n  ")}),
       |wc AS (SELECT count(*) AS n FROM wbase),
       |ev(i, killr, touchr) AS (VALUES $evmap),
       |keys AS (
       |  SELECT e.i, e.killr,
       |         (SELECT count(*) FROM main.documents d WHERE d.doc_id % 50 = e.killr)
       |       + (SELECT count(*) FROM main.documents d WHERE d.doc_id % 50 = e.touchr) AS nk
       |  FROM ev e),
       |cum AS (SELECT i, killr, sum(nk) OVER (ORDER BY i) AS c FROM keys),
       |fired AS (SELECT min(i) AS e FROM cum, wc WHERE c > 0.01 * wc.n),
       |killed AS (SELECT killr FROM cum WHERE i <= (SELECT e FROM fired))
       |SELECT artifact, n_rows, checksum FROM (
       |  SELECT 'policy_fired_at' AS artifact,
       |         CAST((SELECT e FROM fired) AS BIGINT) AS n_rows,
       |         CAST((SELECT c FROM cum WHERE i = (SELECT e FROM fired)) AS BIGINT) AS checksum
       |  UNION ALL
       |  SELECT 'survivors', CAST(count(*) AS BIGINT),
       |         ${h32("CAST(doc_id AS VARCHAR) || '|' || CAST(h AS VARCHAR)")}
       |  FROM wbase WHERE doc_id % 50 NOT IN (SELECT killr FROM killed)) t
       |ORDER BY artifact""".stripMargin
  }

  /** The surviving-corpus window relation (doc_id, h) as SQL, over an
    * injected `documents AS (...)` survivor CTE — ONE definition shared
    * by the q106 winindex census row and the q129 compaction census,
    * so the two oracles cannot drift. */
  private def winSurvivorsSql(corpusSurvivors: String): String =
    s"""WITH $corpusSurvivors,
       |  toks AS (
       |    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |    FROM documents),
       |  win AS (
       |    SELECT doc_id, $shingleHashSql AS h
       |    FROM (
       |      SELECT DISTINCT doc_id, sgl FROM (
       |        SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - ${WindowLen - 1}),
       |                 i -> array_to_string(list_slice(w, i, i + ${WindowLen - 1}), ' '))) AS sgl
       |        FROM toks WHERE len(w) >= $WindowLen) t0) t)
       |  SELECT doc_id, h FROM win""".stripMargin

  val deleteCensusSql: String = {
    val survivors =
      s"documents AS (SELECT * FROM main.documents WHERE doc_id % $DelMod <> $DelRem)"
    val corpusSurvivors =
      s"""documents AS (SELECT * FROM main.documents
         |              WHERE doc_id % $DelMod <> $DelRem AND doc_id % 5 <> 0)""".stripMargin
    require(minhashLshSql.startsWith("WITH toks AS ("),
      "minhashLshSql reworded; update deleteCensusSql surgery")
    val pairSurv = minhashLshSql.replace("WITH toks AS (",
      s"WITH $survivors,\ntoks AS (")
    s"""SELECT 'pairgraph' AS artifact, CAST(count(*) AS BIGINT) AS n_rows,
       |       ${h32("CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR) || '|' || CAST(n_eq AS VARCHAR)")} AS checksum
       |FROM ($pairSurv) p
       |UNION ALL
       |SELECT 'shingles', CAST(count(*) AS BIGINT),
       |       ${h32("CAST(doc_id AS VARCHAR) || '|' || CAST(h AS VARCHAR)")}
       |FROM (
       |  WITH $survivors,
       |  toks AS (
       |    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
       |    FROM documents),
       |  sh AS (
       |    SELECT doc_id, $shingleHashSql AS h
       |    FROM (
       |      SELECT DISTINCT doc_id, sgl FROM (
       |        SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
       |                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sgl
       |        FROM toks WHERE len(w) >= 3) t0) t)
       |  SELECT doc_id, h FROM sh) s
       |UNION ALL
       |SELECT 'bandindex', CAST(count(*) AS BIGINT),
       |       ${h32("CAST(doc_id AS VARCHAR) || '|' || CAST(band AS VARCHAR) || '|' || bval")}
       |FROM (
       |  WITH $corpusSurvivors,
       |  $lshBandChainSql
       |  SELECT doc_id, band, bval FROM bands) b
       |UNION ALL
       |SELECT 'winindex', CAST(count(*) AS BIGINT),
       |       ${h32("CAST(doc_id AS VARCHAR) || '|' || CAST(h AS VARCHAR)")}
       |FROM (
       |  ${winSurvivorsSql(corpusSurvivors)}) w
       |UNION ALL
       |SELECT artifact, n_rows, checksum FROM (
       |${Similarity.annDeleteCensusSql(DelMod, DelRem)}) a
       |ORDER BY artifact""".stripMargin
  }

  /** Near-dup clustering: connected components over the MinHash-LSH
    * pair graph — the "keep one per cluster" worklist of a dedup
    * pipeline. Output: one row per cluster (cluster id = min doc_id),
    * with size and max member id.
    *
    * Two paths with identical results (`DedupSpec` asserts equality):
    *  - the LSH pair graph is orders of magnitude smaller than the
    *    corpus (it contains only near-dup candidates), so up to
    *    [[DriverCcMaxEdges]] edges it is union-found on the DRIVER in
    *    O(E·α) and broadcast back — the same small-graph shortcut real
    *    CC implementations take; the expensive part (pair generation)
    *    stays fully distributed.
    *  - above the threshold, [[dupClustersDistributed]]: Pregel-shaped
    *    min-label iteration (per round one join + min-aggregate,
    *    nothing collected), converging in ≤ diameter rounds.
    *
    * The DuckDB oracle is a third independent formulation (recursive
    * CTE transitive closure), cross-validating both. */
  val DriverCcMaxEdges = 5000000L

  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = pairGraph(s, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs.as[(Long, Long)].limit(DriverCcMaxEdges.toInt + 1).collect()
    if (edges.length <= DriverCcMaxEdges) {
      // the labels are ALREADY driver-resident after the union-find —
      // roll them up here too, instead of round-tripping 2·E label
      // rows through parallelize + two shuffles (groupBy + orderBy)
      // to aggregate data the driver holds. On the tiny graphs this
      // path exists for, the relational rollup was ~0.2 s of pure
      // job-scheduling overhead per call (round-9 q38 diagnosis —
      // the r7→r8 "regression" itself was bench run-order noise, but
      // the fixed overhead was real). The emitted order is the
      // pre-sorted cluster id — identical to the distributed path's
      // ORDER BY (`DedupSpec` pins sequence equality of the two).
      val rows = driverLabelPairs(edges)
        .groupBy(_._2).map { case (lab, xs) =>
          (lab, xs.size.toLong, xs.map(_._1).max)
        }.toSeq.sortBy(_._1)
      rows.toDF("cluster_id", "n_docs", "max_doc")
    } else dupClustersDistributed(pairs)
  }

  /** Per-cluster rollup of a (doc, lab) label set — lab is the
    * component-min doc id on every path, so it doubles as cluster id. */
  private def clusterRollup(labels: DataFrame): DataFrame =
    labels.groupBy(col("lab").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc")).as("max_doc"))
      .orderBy("cluster_id")

  /** (doc, lab) labels over the LSH pair graph — only docs that appear
    * in at least one pair have a row; lab = min doc id of the
    * connected component (all three CC formulations — driver UF,
    * distributed min-label, the oracle's recursive CTE — agree on it). */
  private[graft] def dupLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // served from the session's materialized pair graph (shared with
    // q21/q70/q72) — no local cache/unpersist: the shared persist is
    // exactly the reuse point, and both CC paths read it
    val pairs = pairGraph(s, dir).select(col("doc_a"), col("doc_b"))
    // One action decides the path AND feeds the small-graph branch: a
    // limit-probe (cheap — stops at threshold+1 rows) collects at most
    // DriverCcMaxEdges+1 rows; above the threshold the collected
    // prefix is simply discarded and the distributed path re-reads the
    // persisted pairs.
    val edges = pairs.as[(Long, Long)].limit(DriverCcMaxEdges.toInt + 1).collect()
    if (edges.length <= DriverCcMaxEdges) dupLabelsDriver(s, edges)
    else dupLabelsDistributed(pairs)
  }

  /** Small-graph path: union-find on the collected edge list, as
    * driver-resident (doc, lab) pairs — [[dupLabelsDriver]] lifts
    * them to a DataFrame for join consumers (q76); [[dupClusters]]
    * rolls them up in place. */
  private def driverLabelPairs(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(d => d -> find(d)).toSeq
  }

  private def dupLabelsDriver(s: SparkSession,
                              edges: Array[(Long, Long)]): DataFrame = {
    import s.implicits._
    driverLabelPairs(edges).toDF("doc", "lab")
  }

  /** Large-graph path: distributed min-label propagation, iterated to
    * the TRUE fixpoint (changed == 0) — never a silent round cap: a
    * capped loop would return wrong labels exactly on the
    * high-diameter graphs this path exists for. Rounds needed =
    * graph diameter; each round is one join + min-aggregate with the
    * previous round's labels served from cache, so plan depth stays
    * bounded. [[CcRoundLimit]] is a runaway backstop (far above any
    * real near-dup graph's diameter) that THROWS instead of emitting
    * partial results. */
  val CcRoundLimit = 1000

  def dupClustersDistributed(pairs: org.apache.spark.sql.DataFrame): DataFrame =
    clusterRollup(dupLabelsDistributed(pairs))

  private[graft] def dupLabelsDistributed(pairs: org.apache.spark.sql.DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").cache()
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("lab", col("doc")).cache()
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= CcRoundLimit)
        throw new IllegalStateException(
          s"connected-components min-label propagation did not converge in $CcRoundLimit rounds")
      val nbrMin = edges.join(labels, edges("src") === labels("doc"))
        .groupBy(col("dst").as("doc2")).agg(min(col("lab")).as("nlab"))
      val next = labels.join(nbrMin, labels("doc") === col("doc2"), "left")
        .select(col("doc"), least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab"))
        .cache()
      changed = next.join(labels.withColumnRenamed("lab", "old"), "doc")
        .filter(col("lab") =!= col("old")).count()
      labels.unpersist()
      labels = next
      rounds += 1
    }
    // labels' cache is materialized (the changed-count actions ran), so
    // the edge cache can go now
    edges.unpersist()
    labels
  }

  /** q21's pair graph as a reusable CTE body (the final projection and
    * total order stripped), shared by the q38 and q70 oracles. The
    * asserts fail loudly if minhashLshSql is ever reworded — a silent
    * no-op `.replace` would otherwise corrupt both derived oracles. */
  private lazy val pairGraphSql: String = {
    val sel = "SELECT doc_a, doc_b, n_eq, CAST(n_eq AS DOUBLE) / 16.0 AS est_j"
    val ord = "\nORDER BY doc_a, doc_b"
    require(minhashLshSql.contains(sel) && minhashLshSql.contains(ord),
      "minhashLshSql reworded; update pairGraphSql surgery")
    minhashLshSql.replace(sel, "SELECT doc_a, doc_b").replace(ord, "")
  }

  /** The q38/q76/q135/q122 oracles' shared prefix: q21's pair graph
    * (`pairs`), its edges in both directions (`edges`), the recursive
    * reachability closure (`reach`) and each clustered document's
    * minimum reachable label (`final`, in the column the caller names
    * with `lab`). */
  private def minLabelClosureSql(lab: String): String =
    s"""WITH RECURSIVE pairs AS ($pairGraphSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |reach(doc, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
       |final AS (SELECT doc, min(lab) AS $lab FROM reach GROUP BY doc)""".stripMargin

  /** The q38 oracle: q21's pair graph, then its min-label closure. */
  val dupClustersSql: String =
    s"""${minLabelClosureSql("cluster_id")}
       |SELECT cluster_id, count(*) AS n_docs, max(doc) AS max_doc
       |FROM final GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Incremental dedup — the daily-ingest shape of a training pipeline:
    * an incoming batch (doc_id ≡ 0 mod 5 stands in for "today's crawl")
    * is anti-joined against the standing corpus (everything else) on
    * the 60-bit md5-derived hash of normalized text (32 bits would
    * collide ~once per 77k distinct texts and silently drop genuinely
    * new documents; 2^60 pushes that beyond corpus scale); only unseen
    * documents
    * survive. The LEFT ANTI join shuffles 8-byte hash keys, never the
    * document bodies, and the corpus side is pre-distinct so its
    * shuffle is one row per unique text — at 100 TB this is an
    * incremental-scan join against a bucketed corpus-hash table, with
    * no rescan of corpus bodies. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpusHashes = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(hash60(normText(col("text"))).as("nh")).distinct()
    docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("nh", hash60(normText(col("text"))))
      .join(corpusHashes, Seq("nh"), "left_anti")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_new"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source")
  }

  val dedupIncrementalSql: String =
    """WITH nt AS (
      |  SELECT doc_id, source,
      |         CAST('0x' || substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 15) AS BIGINT) AS nh
      |  FROM documents),
      |corp AS (SELECT DISTINCT nh FROM nt WHERE doc_id % 5 <> 0)
      |SELECT source, count(*) AS n_new,
      |       CAST(min(doc_id) AS BIGINT) AS first_doc,
      |       CAST(max(doc_id) AS BIGINT) AS last_doc
      |FROM nt
      |WHERE doc_id % 5 = 0
      |  AND NOT EXISTS (SELECT 1 FROM corp WHERE corp.nh = nt.nh)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Incremental NEAR-dup detection — q43's shape extended from exact
    * hashes to MinHash-LSH: the incoming batch (doc_id ≡ 0 mod 5, the
    * same "today's crawl" convention as q43) computes signatures for
    * ITS OWN documents only and band-joins them against the standing
    * corpus band table. Output: (doc_new, doc_corpus) near-dup pairs
    * with the usual est_j ≥ 0.5 score — the ingest-time "is this new
    * document a near-copy of something we already hold" check.
    *
    * Scale contract: per ingest the signature pipeline runs over the
    * BATCH only — O(batch) new work — and the corpus side is read from
    * [[corpusBandIndex]], the band table a deployment writes once per
    * corpus snapshot. No corpus×corpus pairs are ever generated:
    * the join is batch-bands ⋈ index-bands, so bucket fan-out is
    * m_batch·m_corpus per bucket, with [[dropHotBuckets]] capping the
    * index side (the unbounded factor; the batch is bounded by the
    * ingest window). The index table is BUCKETED by (band, bval), so
    * the standing corpus is never re-shuffled at query time — only the
    * O(batch) side exchanges to meet it. */
  /** The corpus band table — the "persisted index" of the operator's
    * contract, WRITTEN once per (session, dir) as a warehouse table
    * bucketed by the join keys via [[Layout.materializedTable]]:
    * without it every q77 execution re-signs the standing corpus,
    * which is exactly the O(corpus)-per-ingest cost the incremental
    * path exists to avoid. Written UNCAPPED; the hot-bucket cap is
    * applied per read so its observability fires on every execution. */
  private[graft] def corpusBandIndex(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "bandindex",
        Some((Layout.Buckets, Seq("band", "bval")))) {
      bandTable(Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) =!= 0))
    }

  def incrementalLsh(s: SparkSession, dir: String): DataFrame =
    incrementalJoin(
      bandTable(Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)),
      corpusBandIndex(s, dir),
      MaxLshBucket)

  /** Uncached form over explicit frames (the `DedupSpec` equivalence
    * surface). */
  private[graft] def incrementalLshFrom(batch: DataFrame, corpus: DataFrame,
                                        bucketCap: Int): DataFrame =
    incrementalJoin(bandTable(batch), bandTable(corpus), bucketCap)

  /** The standing corpus's pair graph as its own written table — the
    * PREVIOUS snapshot's artifact that q82 updates incrementally. */
  private def corpusPairGraph(s: SparkSession, dir: String): DataFrame =
    Layout.materializedTable(s, dir, "pairgraphbase") {
      minhashPairsFrom(Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) =!= 0), MaxLshBucket)
    }

  /** q82: INCREMENTAL PAIR-GRAPH MAINTENANCE — the snapshot lifecycle
    * of the dedup family's central table. The standing corpus's pair
    * graph and band index are written tables (previous snapshot); an
    * ingest batch arrives, and the next snapshot's graph is
    *
    *   previous graph ∪ (batch ⋈ index cross pairs) ∪ (batch-internal pairs)
    *
    * — O(batch) signing work (ONE band table serves both the cross
    * join and the self join), zero corpus re-signing, zero corpus
    * shuffling (the index is bucketed on the join keys). The ORACLE is
    * q21's full-recompute SQL verbatim: the driver gate itself proves
    * update == rebuild. (Under hot-bucket caps the decompositions can
    * differ — a bucket can cross the cap in the combined corpus but
    * not in either part; equality is exact when no bucket crosses the
    * cap in either decomposition, the regime the testdata is in. The
    * capped regime is property-tested separately in
    * `DedupCapPropertySpec`.) */
  def pairGraphUpdate(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0)
    val nb = bandTable(batch)
    val cross = incrementalPairs(nb, corpusBandIndex(s, dir), MaxLshBucket)
      .select(least(col("doc_new"), col("doc_corpus")).as("doc_a"),
        greatest(col("doc_new"), col("doc_corpus")).as("doc_b"),
        col("n_eq"), col("est_j"))
    val fresh = selfPairsFrom(dropHotBucketsNamed(nb, MaxLshBucket,
      "graft.cap(batch:band,bval)", "band", "bval"))
    corpusPairGraph(s, dir).unionByName(cross).unionByName(fresh)
      .orderBy("doc_a", "doc_b")
  }

  private def incrementalJoin(nb: DataFrame, ib0: DataFrame,
                              bucketCap: Int): DataFrame =
    incrementalPairs(nb, ib0, bucketCap).orderBy("doc_new", "doc_corpus")

  /** The unordered batch-bands ⋈ index-bands core — shared by the
    * batch q77 (which appends a total-order sort), the q82 pair-graph
    * update, and [[graft.streaming.DocIngest.nearDupIngest]] (where a
    * sort would be illegal on the unaggregated stream). */
  private[graft] def incrementalPairs(nb: DataFrame, ib0: DataFrame,
                                      bucketCap: Int): DataFrame = {
    val ib = if (bucketCap == Int.MaxValue) ib0
             else dropHotBuckets(ib0, bucketCap, "band", "bval")
    val a = nb.select(col("doc_id").as("doc_new"), col("sig").as("siga"),
      col("band"), col("bval"))
    val b = ib.select(col("doc_id").as("doc_corpus"), col("sig").as("sigb"),
      col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .select("doc_new", "doc_corpus", "siga", "sigb")
      .dropDuplicates("doc_new", "doc_corpus")
      .withColumn("n_eq",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v))
      .filter(col("n_eq").cast(DoubleType) / 16.0 >= 0.5)
      .select(col("doc_new"), col("doc_corpus"), col("n_eq"),
        (col("n_eq").cast(DoubleType) / 16.0).as("est_j"))
  }

  /** q77's oracle reuses q21's CTE chain (tokens→shingles→signatures→
    * bands) verbatim up to candidate generation, then restricts the
    * band join to batch×corpus pairs. Same loud-failure surgery
    * contract as [[pairGraphSql]]. */
  val incrementalLshSql: String = {
    val marker = "cand AS ("
    require(minhashLshSql.contains(marker),
      "minhashLshSql reworded; update incrementalLshSql surgery")
    minhashLshSql.substring(0, minhashLshSql.indexOf(marker)) +
      """cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_corpus
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
        |sc AS (
        |  SELECT doc_new, doc_corpus,
        |         CAST(len(list_filter(generate_series(1, 16),
        |                i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq
        |  FROM cand
        |  JOIN sig sa ON sa.doc_id = doc_new
        |  JOIN sig sb ON sb.doc_id = doc_corpus)
        |SELECT doc_new, doc_corpus, n_eq, CAST(n_eq AS DOUBLE) / 16.0 AS est_j
        |FROM sc
        |WHERE CAST(n_eq AS DOUBLE) / 16.0 >= 0.5
        |ORDER BY doc_new, doc_corpus""".stripMargin
  }

  /** Edit-distance near-dup verification: Levenshtein distance on the
    * 60-char prefixes of a deterministic document sample (doc_id ≡ 0
    * mod 100, all pairs) — the character-level complement to the
    * token-level Jaccard/SimHash measures, and the post-LSH verifier
    * for short fields (titles, URLs) where shingles are too coarse.
    * Levenshtein is classic unit-cost DP in both engines. The sampled
    * all-pairs set is quadratic ONLY in the sample (50 docs at sf0.1);
    * at 100 TB the pair source is the LSH candidate stream (q21),
    * never a corpus cross join. */
  def editDistance(s: SparkSession, dir: String): DataFrame = {
    val sample = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(100)) === 0)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("prefix"))
    sample.as("a").join(sample.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.prefix"), col("b.prefix")).cast(IntegerType).as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  val editDistanceSql: String =
    """WITH s AS (
      |  SELECT doc_id, substr(text, 1, 60) AS prefix
      |  FROM documents WHERE doc_id % 100 = 0)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.prefix, b.prefix) AS INT) AS dist
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Degree distribution of the near-dup pair graph: per document the
    * number of LSH-confirmed near-dup partners, histogrammed — the
    * graph-statistics view of dup structure (a fat tail here means
    * boilerplate clusters, not pairwise dups, and changes the
    * retention strategy from keep-one-of-pair to keep-one-per-cluster,
    * q38).
    *
    * Scale: pairs are already distributed (q21 machinery); the
    * endpoint explode doubles them, the degree aggregate shuffles
    * 8-byte doc ids, and the histogram is tiny. */
  def dupDegree(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairGraph(s, dir).select(col("doc_a"), col("doc_b"))
    // endpoint explode, not union: a union of two projections evaluates
    // the whole post-join pair pipeline (dedup aggregate + score
    // filter) once PER BRANCH — explode doubles the rows in a single
    // pass over one evaluation
    pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  val dupDegreeSql: String =
    s"""WITH pairs AS ($pairGraphSql),
       |deg AS (
       |  SELECT doc, count(*) AS degree FROM (
       |    SELECT doc_a AS doc FROM pairs
       |    UNION ALL
       |    SELECT doc_b AS doc FROM pairs) e
       |  GROUP BY doc)
       |SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_docs
       |FROM deg GROUP BY degree ORDER BY degree""".stripMargin

  /** q89: PageRank over the near-dup pair graph — graph CENTRALITY as
    * a dedup diagnostic (a high-rank document is the hub of a
    * boilerplate neighbourhood; rank, unlike raw degree q70,
    * propagates through chains, separating template hubs from
    * incidental pairs). Three Jacobi iterations, damping 0.85, over
    * the WRITTEN pair-graph table.
    *
    * All arithmetic is integer-quantized (the q44 convention): ranks
    * live in micro-units on the SUM-TO-N scale (r₀ = 1000000 per
    * node, fixpoint teleport 150000 + damping 850/1000 — one
    * convention throughout, so iteration-1 contributions carry full
    * O(1) mass instead of the 1/N wash a mass-1 initialization
    * gives), each step is
    * r′(v) = 150000 + (850 · Σ_{u~v} (r(u) div deg(u))) div 1000 —
    * integer sums are order-independent under any partitioning, where
    * float PageRank would differ engine-to-engine in the last ulp.
    *
    * Scale: the classic iterative join-agg shape — each iteration is
    * one equi-join of edges against the current rank vector plus one
    * aggregate on dst, both keyed by 8-byte doc ids; the pair graph is
    * orders smaller than the corpus (and AQE broadcasts the rank
    * vector when it is small). Iterations compose lazily into one
    * plan — at production depth use [[dupPagerankDeepFrom]], which
    * runs the SAME iteration body with lineage truncated every k
    * rounds, exactly like the distributed-CC fixpoint ([[dupLabelsDistributed]]). */
  def dupPagerank(s: SparkSession, dir: String): DataFrame =
    dupPagerankFrom(pairGraph(s, dir))

  /** [[dupPagerank]] over an explicit (doc_a, doc_b) pair relation —
    * the spec surface (`DedupSpec` hand-checks the integer fixpoint on
    * a three-node path graph). */
  private[graft] def dupPagerankFrom(pairsIn: DataFrame): DataFrame = {
    val (edges, deg) = pagerankGraph(pairsIn)
    var r = deg.select(col("doc_id"), col("deg"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) r = pagerankIter(edges, deg, r)
    r.select(col("doc_id"), col("deg"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
  }

  /** The (directed-edge, degree) pair both PageRank variants iterate
    * over — one scan: explode each pair into both directed edges (the
    * q70 union-vs-explode lesson). */
  private def pagerankGraph(pairsIn: DataFrame): (DataFrame, DataFrame) = {
    val pairs = pairsIn.select(col("doc_a"), col("doc_b"))
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val deg = edges.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
    (edges, deg)
  }

  /** One Jacobi step r′(v) = 150000 + (850·Σ_{u~v} (r(u) div deg(u)))
    * div 1000 — shared verbatim by the lazy q89 and the checkpointed
    * deep variant, so "deep == lazy" is equality of composition, not
    * of two re-implementations. */
  private def pagerankIter(edges: DataFrame, deg: DataFrame, r: DataFrame): DataFrame = {
    val contrib = edges
      .join(r.select(col("doc_id").as("src"), col("deg").as("sdeg"),
        col("r").as("sr")), Seq("src"))
      .select(col("dst"), expr("sr div sdeg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
    deg.join(contrib, col("doc_id") === col("dst"), "left")
      .select(col("doc_id"), col("deg"),
        (lit(150000L) + expr("(850 * coalesce(cs, 0)) div 1000")).as("r"))
  }

  /** Depth-parameterized PageRank for PRODUCTION iteration counts:
    * identical per-iteration integer math to [[dupPagerankFrom]]
    * (shared [[pagerankIter]]), but the lineage is TRUNCATED every
    * `checkpointEvery` iterations with an eager `localCheckpoint`, so
    * the plan Catalyst analyzes stays O(checkpointEvery) deep no
    * matter how many iterations run — the lazy composition's plan
    * (and its analysis/codegen cost) grows linearly per round, which
    * is exactly the "checkpoint every few rounds" caveat q89's
    * scaladoc carries. The edge list and degree vector feed every
    * iteration, so they are pinned once up front rather than
    * recomputed from the pair source each round.
    *
    * `localCheckpoint` keeps the truncated blocks on their executors
    * (no driver traffic, no re-shuffle); on a real cluster a
    * fault-tolerant job would use `checkpoint` into the reliable
    * store instead — same plan shape, different block durability.
    * Integer arithmetic makes deep == lazy EXACT at any depth
    * (`DedupSpec` pins depth 6 bit-for-bit with plan size bounded). */
  private[graft] def dupPagerankDeepFrom(pairsIn: DataFrame, iters: Int,
      checkpointEvery: Int): DataFrame = {
    require(iters >= 1 && checkpointEvery >= 1)
    val (edgesLazy, _) = pagerankGraph(pairsIn)
    val edges = edgesLazy.localCheckpoint()
    // derive deg from the CHECKPOINTED edges — aggregating the lazy
    // form would re-scan and re-explode the pairs source a second time
    val deg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    var r = deg.select(col("doc_id"), col("deg"), lit(1000000L).as("r"))
    var i = 1
    while (i <= iters) {
      r = pagerankIter(edges, deg, r)
      if (i % checkpointEvery == 0 && i < iters) r = r.localCheckpoint()
      i += 1
    }
    r.select(col("doc_id"), col("deg"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("doc_id"))
  }

  val dupPagerankSql: String =
    s"""WITH pairs AS ($pairGraphSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |deg AS (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
       |r0 AS (SELECT doc_id, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
       |r1 AS (
       |  SELECT d.doc_id, d.deg,
       |         150000 + (850 * COALESCE(sum(p.r // p.deg), 0)) // 1000 AS r
       |  FROM deg d
       |  LEFT JOIN edges e ON e.dst = d.doc_id
       |  LEFT JOIN r0 p ON p.doc_id = e.src
       |  GROUP BY 1, 2),
       |r2 AS (
       |  SELECT d.doc_id, d.deg,
       |         150000 + (850 * COALESCE(sum(p.r // p.deg), 0)) // 1000 AS r
       |  FROM deg d
       |  LEFT JOIN edges e ON e.dst = d.doc_id
       |  LEFT JOIN r1 p ON p.doc_id = e.src
       |  GROUP BY 1, 2),
       |r3 AS (
       |  SELECT d.doc_id, d.deg,
       |         150000 + (850 * COALESCE(sum(p.r // p.deg), 0)) // 1000 AS r
       |  FROM deg d
       |  LEFT JOIN edges e ON e.dst = d.doc_id
       |  LEFT JOIN r2 p ON p.doc_id = e.src
       |  GROUP BY 1, 2)
       |SELECT doc_id, CAST(deg AS BIGINT) AS deg, CAST(r AS BIGINT) AS rank_micro
       |FROM r3 ORDER BY rank_micro DESC, doc_id""".stripMargin

  /** Cross-source near-dup overlap: the (source, source) matrix of
    * LSH-confirmed near-dup pairs — which crawls/feeds duplicate each
    * other, the diagnostic that decides source-level dedup ordering
    * and ingest priorities in a training-data pipeline (high
    * off-diagonal mass means a source is mostly re-crawl of another).
    *
    * Scale: the joins are shaped corpus ⋈ pair-graph (the big
    * projection on the left, the derived set on the right) so AQE
    * picks the right physical join per regime — a clean pair graph is
    * orders smaller than the corpus and gets BROADCAST (corpus never
    * shuffles); a dup-heavy crawl where the pair graph itself is
    * Θ(corpus) degrades to a shuffle join on 8-byte doc ids rather
    * than an over-limit broadcast (a forced broadcast() hint here
    * would fail exactly on the inputs dedup exists for). The matrix
    * aggregate is |sources|² at most. Unordered pair keyed by
    * (least, greatest) so the matrix is upper-triangular with the
    * diagonal = intra-source dup mass. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val pairs = pairGraph(s, dir).select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val withA = src.join(pairs, col("doc_id") === col("doc_a"))
      .select(col("source").as("sa"), col("doc_b"))
    val both = src.join(withA, col("doc_id") === col("doc_b"))
      .select(col("sa"), col("source").as("sb"))
    both
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapSql: String =
    s"""WITH pairs AS ($pairGraphSql),
       |s AS (SELECT doc_id, source FROM documents),
       |m AS (
       |  SELECT least(sa.source, sb.source) AS src_a,
       |         greatest(sa.source, sb.source) AS src_b
       |  FROM pairs
       |  JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b)
       |SELECT src_a, src_b, count(*) AS n_pairs
       |FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin

  /** The near-dup RETENTION decision — the actual output of a dedup
    * pipeline: keep one document per connected near-dup cluster (the
    * cluster-min doc id, deterministic) plus every unclustered
    * document, reported per source. This closes the dedup family's
    * loop: q21 finds pairs, q38 names clusters, q76 says which rows
    * survive.
    *
    * Scale: the label set ([[dupLabels]]) covers only documents that
    * appear in a near-dup pair. On a clean corpus that is orders
    * smaller than the table and AQE broadcasts it (no corpus
    * shuffle); on a dup-heavy crawl — where labels approach corpus
    * size, precisely the regime the >[[DriverCcMaxEdges]] distributed
    * CC path exists for — the join degrades to a shuffle on 8-byte
    * doc ids instead of an over-limit broadcast, so no forced
    * broadcast() hint. */
  def dedupRetention(s: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(s, dir)
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(labels, col("doc_id") === col("doc"), "left")
      .select(col("source"),
        (col("lab").isNull || col("doc_id") === col("lab")).as("keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("source")
  }

  /** The q76 oracle: q38's closure joined back to documents; kept =
    * unclustered or the cluster minimum. */
  val dedupRetentionSql: String =
    s"""${minLabelClosureSql("cid")}
       |SELECT d.source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN f.doc IS NULL OR d.doc_id = f.cid THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN f.doc IS NULL OR d.doc_id = f.cid THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
       |FROM documents d LEFT JOIN final f ON f.doc = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** q135: QUALITY-AWARE CANONICAL SELECTION — the production upgrade
    * of q76's keep-min retention: real pipelines keep the BEST copy
    * of each near-dup cluster, not an id accident. The atomic unit is
    * q38's connected component over the shared LSH pair graph
    * (singletons are their own cluster); within a cluster the
    * canonical document maximizes an EXACT-INTEGER quality key
    * (token count, then character mass, then low doc_id — no
    * floating-point compare anywhere near the hash gate), and the
    * per-source census reports document/kept counts, the kept set's
    * token mass, and an order-independent checksum of the kept
    * doc_ids — so the gate pins the SELECTION itself, not just its
    * size. Scale: labels come from the materialized pair graph (one
    * build per snapshot); one exchange partitions by cluster for the
    * window (cluster-sized groups, degree-capped upstream), then the
    * per-source rollup — corpus text never joins anything. */
  def qualityRetention(s: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(s, dir).withColumnRenamed("doc", "doc_id")
    val docs = Tables.documents(s, dir)
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .withColumn("n_char", length(col("text")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("n_char"))
    val wC = Window.partitionBy(col("cid"))
      .orderBy(col("n_tok").desc, col("n_char").desc, col("doc_id").asc)
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("lab"), col("doc_id")))
      .withColumn("rk", row_number().over(wC))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") === 1, col("n_tok")).otherwise(0L)).as("kept_tokens"),
        coalesce(sum(when(col("rk") === 1,
          hash32(col("doc_id").cast("string")))), lit(0L)).as("kept_checksum"))
      .orderBy("source")
  }

  /** The q135 oracle: q76's recursive-CTE transitive closure, the
    * same integer quality key, the same per-source rollup. */
  val qualityRetentionSql: String =
    s"""${minLabelClosureSql("cid")},
       |docs AS (
       |  SELECT doc_id, source,
       |         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok,
       |         CAST(length(text) AS BIGINT) AS n_char
       |  FROM documents),
       |lab AS (
       |  SELECT d.*, COALESCE(f.cid, d.doc_id) AS cid
       |  FROM docs d LEFT JOIN final f ON f.doc = d.doc_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cid
       |            ORDER BY n_tok DESC, n_char DESC, doc_id ASC) AS rk
       |  FROM lab)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN rk = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
       |       CAST(coalesce(sum(CASE WHEN rk = 1
       |              THEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |            END), 0) AS BIGINT) AS kept_checksum
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** q122: CLUSTER-AWARE TRAIN/VAL/TEST SPLIT — the eval-leakage
    * guard every training pipeline needs and per-document splitting
    * cannot give: two near-duplicate documents hashed independently
    * land in different splits with probability ~1 − Σp², silently
    * leaking eval content into training. Here the ATOMIC UNIT of
    * assignment is the near-dup CLUSTER (q38's connected components
    * over the shared LSH pair graph; documents in no pair are their
    * own singleton cluster), split 80/10/10 by the md5-derived
    * 60-bit hash of the cluster id — deterministic, reshuffle-proof,
    * and leak-free BY CONSTRUCTION. The census reports, per split:
    * document count, cluster count, how many documents ride a
    * multi-doc cluster (the rows per-document splitting would have
    * scattered), and the cross-split pair count — the leakage
    * invariant made a GATED OUTPUT (must be 0; the oracle re-derives
    * clusters, assignment and the pair check independently, so a
    * drifting hash or a cluster/doc mix-up flips the row).
    *
    * Scale: labels come from the shared materialized pair graph (one
    * build per snapshot, q21's artifact); the assignment is a
    * map-side hash of the cluster id; one exchange on cluster_id for
    * the size join, then the per-split rollup — no corpus text moves. */
  def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    val labels = dupLabels(s, dir)
      .withColumnRenamed("doc", "doc_id")
    val assigned = Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lab"), col("doc_id")))
      .withColumn("h10",
        pmod(hash60(col("cluster_id").cast(StringType)), lit(10)))
      .withColumn("split",
        when(col("h10") <= 7, "train")
          .when(col("h10") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csz"))
    val pairs = pairGraph(s, dir).select(col("doc_a"), col("doc_b"))
    val crossPairs = pairs
      .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("n_cross_split_pairs"))
    assigned.join(sizes, Seq("cluster_id"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .crossJoin(crossPairs) // 1-row leakage census rides every split row
      .orderBy("split")
  }

  /** The q122 oracle: clusters via the q38 recursive min-label
    * closure, singleton fallback, the same md5-derived 60-bit hash
    * assignment, and an independent cross-split pair check. */
  val clusterSplitSql: String =
    s"""${minLabelClosureSql("lab")},
       |cl AS (
       |  SELECT d.doc_id, coalesce(f.lab, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN final f ON f.doc = d.doc_id),
       |asg AS (
       |  SELECT doc_id, cluster_id,
       |         CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 <= 7 THEN 'train'
       |              WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 8 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM cl),
       |sz AS (SELECT cluster_id, count(*) AS csz FROM asg GROUP BY 1),
       |xp AS (
       |  SELECT count(*) AS n FROM pairs p
       |  JOIN asg a ON a.doc_id = p.doc_a
       |  JOIN asg b ON b.doc_id = p.doc_b
       |  WHERE a.split <> b.split)
       |SELECT a.split, count(*) AS n_docs,
       |       CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
       |       CAST(sum(CASE WHEN sz.csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       |       CAST((SELECT n FROM xp) AS BIGINT) AS n_cross_split_pairs
       |FROM asg a JOIN sz ON sz.cluster_id = a.cluster_id
       |GROUP BY a.split ORDER BY a.split""".stripMargin

  val defs: Vector[QueryDef] = Vector(
    QueryDef("q20_exact_dedup", exactDedupStats, Some(exactDedupStatsSql)),
    QueryDef("q21_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    QueryDef("q22_simhash", simhash, Some(simhashSql)),
    QueryDef("q23_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    QueryDef("q38_dup_clusters", dupClusters, Some(dupClustersSql)),
    QueryDef("q43_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    QueryDef("q50_edit_distance", editDistance, Some(editDistanceSql)),
    QueryDef("q70_dup_degree", dupDegree, Some(dupDegreeSql)),
    QueryDef("q72_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    QueryDef("q76_dedup_retention", dedupRetention, Some(dedupRetentionSql)),
    // q135 upgrades q76's keep-min to quality-aware canonical
    // selection: the kept set itself is checksum-gated
    QueryDef("q135_quality_retention", qualityRetention, Some(qualityRetentionSql)),
    QueryDef("q77_incremental_lsh", incrementalLsh, Some(incrementalLshSql)),
    QueryDef("q78_span_overlap", spanOverlap, Some(spanOverlapSql)),
    // q82's oracle IS q21's full-recompute SQL: the gate proves
    // incremental graph maintenance == full rebuild
    QueryDef("q82_pair_graph_update", pairGraphUpdate, Some(minhashLshSql)),
    QueryDef("q88_containment", containment, Some(containmentSql)),
    QueryDef("q89_dup_pagerank", dupPagerank, Some(dupPagerankSql)),
    QueryDef("q99_dup_span_fraction", dupSpanFraction, Some(dupSpanFractionSql)),
    QueryDef("q100_dup_spans", dupSpans, Some(dupSpansSql)),
    QueryDef("q101_span_trim", spanTrim, Some(spanTrimSql)),
    QueryDef("q102_span_incremental", spanIncremental, Some(spanIncrementalSql)),
    QueryDef("q103_span_coverage", spanCoverage, Some(spanCoverageSql)),
    // q104's oracle is the FULL-REBUILD window table: the gate proves
    // incremental index maintenance == rebuild (the q82 contract)
    QueryDef("q104_winindex_update", winIndexUpdate, Some(winIndexUpdateSql)),
    QueryDef("q105_trim_fraction", trimFraction, Some(trimFractionSql)),
    // q106's oracle rebuilds every artifact from scratch on the
    // surviving corpus: the gate proves delete-maintained == rebuild
    QueryDef("q106_delete_census", deleteCensus, Some(deleteCensusSql)),
    // q129: the delete -> compaction lifecycle end to end — the
    // merge-on-read view folded back into a bucketed table, censused
    QueryDef("q129_delete_compaction", deleteCompaction, Some(deleteCompactionSql)),
    // q133 gates the compaction DECISION: events drive the mass
    // markers until shouldCompact fires (a metadata read), then
    // maintainDeleted compacts; the oracle predicts the fire point
    // AND the compacted survivors from the raw tables
    QueryDef("q133_compaction_policy", compactionPolicy, Some(compactionPolicySql)),
    // q122's oracle re-derives clusters, assignment and the
    // cross-split pair check independently: the leak-free invariant
    // is a gated output, not an implementation comment
    QueryDef("q122_cluster_split", clusterSplit, Some(clusterSplitSql)),
  )
}
