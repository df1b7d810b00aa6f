package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Stream/batch parity: the same windowedAgg applied to a MemoryStream
  * (complete output mode) must equal the batch result on the same rows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming windowed aggregation matches batch on identical input") {
    val rows = Seq(
      (ts("2024-01-01 10:05:00"), "click", """{"k": 3}"""),
      (ts("2024-01-01 10:55:00"), "click", """{"k": 5}"""),
      (ts("2024-01-01 10:30:00"), "view", """{"k": 1}"""),
      (ts("2024-01-01 11:05:00"), "click", """{"k": 7}"""),
      (ts("2024-01-01 12:00:00"), "view", """{"k": 2}"""))

    val batch = EventsStream.windowedAgg(
        rows.toDF("ts", "event_type", "props"))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n_events"), col("k_sum"))
      .as[(String, String, Long, Long)].collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val streamed = EventsStream.streamingWindowedAgg(
      mem.toDF().toDF("ts", "event_type", "props"))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n_events"), col("k_sum"))
    val q = streamed.writeStream
      .format("memory").queryName("win_parity").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("win_parity")
        .as[(String, String, Long, Long)].collect().toSet
      assert(got == batch)
      assert(got.toSeq.map(_._3).sum == rows.length)
    } finally q.stop()
  }

  test("streaming sliding windows match batch; every event lands in 4 windows") {
    val rows = Seq(
      (ts("2024-01-01 10:07:00"), "click", 1L),
      (ts("2024-01-01 10:22:00"), "click", 2L),
      (ts("2024-01-01 10:22:30"), "view", 1L),
      (ts("2024-01-01 11:40:00"), "click", 1L))

    val batch = EventsStream.slidingAgg(
        rows.toDF("ts", "event_type", "user_id"))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n_events"), col("uid_sum"))
      .as[(String, String, Long, Long)].collect().toSet

    // 1-hour windows sliding by 15 min -> each event is in exactly 4
    assert(batch.toSeq.map(_._3).sum == rows.length * 4)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val streamed = EventsStream.streamingSlidingAgg(
      mem.toDF().toDF("ts", "event_type", "user_id"))
      .select(col("window.start").cast("string"), col("event_type"),
        col("n_events"), col("uid_sum"))
    val q = streamed.writeStream
      .format("memory").queryName("slide_parity").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("slide_parity")
        .as[(String, String, Long, Long)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    // clicks ⋈ purchases by the same user within 30 min after the click
    // — the streaming twin of q45's binned range join. Watermarks bound
    // both join buffers; the time condition makes state GC-able.
    val clicks = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "c1"),
      (ts("2024-01-01 10:40:00"), 1L, "c2"),
      (ts("2024-01-01 10:05:00"), 2L, "c3"))
    val purchases = Seq(
      (ts("2024-01-01 10:10:00"), 1L, "p1"), // joins c1
      (ts("2024-01-01 10:55:00"), 1L, "p2"), // joins c2
      (ts("2024-01-01 11:00:00"), 2L, "p3")) // 55 min after c3: no join

    def joined(c: org.apache.spark.sql.DataFrame, p: org.apache.spark.sql.DataFrame) =
      c.join(p,
        col("cu") === col("pu") &&
          col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
        .select(col("cid"), col("pid"))

    val batch = joined(
      clicks.toDF("cts", "cu", "cid"), purchases.toDF("pts", "pu", "pid"))
      .as[(String, String)].collect().toSet
    assert(batch == Set(("c1", "p1"), ("c2", "p2")))

    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[(Timestamp, Long, String)]
    val pMem = MemoryStream[(Timestamp, Long, String)]
    val q = joined(
      cMem.toDF().toDF("cts", "cu", "cid").withWatermark("cts", "1 hour"),
      pMem.toDF().toDF("pts", "pu", "pid").withWatermark("pts", "1 hour"))
      .writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    try {
      cMem.addData(clicks: _*)
      pMem.addData(purchases: _*)
      q.processAllAvailable()
      val got = spark.table("ss_join").as[(String, String)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming exact dedup: dropDuplicates suppresses replays across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("event_id", "payload")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "a"), (2L, "b"), (1L, "a-replay"))
      q.processAllAvailable()
      mem.addData((2L, "b-replay"), (3L, "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").as[(Long, String)]
        .collect().map(_._1).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // replays dropped, incl. cross-trigger
    } finally q.stop()
  }

  test("streaming count-min grid == batch grid; state bounded by grid not vocab") {
    import graft.operators.Pipeline
    val terms = Seq("spark", "row", "spark", "agg", "row", "spark",
      "scan", "agg", "batch", "spark")
    val batch = Pipeline.cmsCells(terms.toDF("term"))
      .as[(Int, Long, Long)].collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Pipeline.cmsCells(mem.toDF().toDF("term"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      mem.addData(terms.take(4): _*)
      q.processAllAvailable()
      mem.addData(terms.drop(4): _*) // counters merge across triggers
      q.processAllAvailable()
      val got = spark.table("cms_stream").as[(Int, Long, Long)].collect().toSet
      assert(got == batch)
      assert(got.size <= 4 * 1024) // state is the grid, never the vocabulary
      assert(got.toSeq.map(_._3).sum == terms.length * 4L)
    } finally q.stop()
  }

  test("streaming incremental dedup (q43 shape): corpus anti join + replay state == batch, across triggers") {
    import graft.streaming.DocIngest
    val corpus = Seq((100L, "old doc one"), (101L, "old doc two"))
      .toDF("doc_id", "text")
    // trigger 1: a corpus dup, two fresh docs, an in-trigger replay
    val t1 = Seq(
      (1L, "old doc one"),   // already in corpus -> rejected
      (2L, "fresh alpha"),   // admitted
      (3L, "fresh beta"),    // admitted
      (4L, "fresh alpha"))   // replay of 2 -> rejected
    // trigger 2: a normalization dup of corpus, a CROSS-trigger replay,
    // one genuinely new doc
    val t2 = Seq(
      (5L, "Old  Doc Two"),  // normText dup of corpus -> rejected
      (6L, "fresh beta"),    // cross-trigger replay of 3 -> rejected
      (7L, "fresh gamma"))   // admitted

    // batch reference on the full input (admitted TEXTS are
    // deterministic — a replay keeps some row of the same text)
    def texts(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("text").as[String].collect().toSet
    val batch = texts(DocIngest.dedupedIngest((t1 ++ t2).toDF("doc_id", "text"), corpus))
    assert(batch == Set("fresh alpha", "fresh beta", "fresh gamma"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DocIngest.dedupedIngest(mem.toDF().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode("append").start()
    try {
      mem.addData(t1: _*)
      q.processAllAvailable()
      mem.addData(t2: _*)
      q.processAllAvailable()
      val got = spark.table("ingest_dedup")
      assert(texts(got) == batch, "stream admitted a different document set than batch")
      // exactly-once admission: one output row per admitted text, and
      // the cross-trigger replay (6) was suppressed by the state store
      assert(got.count() == 3)
      val ids = got.select("doc_id").as[Long].collect().toSet
      assert(ids == Set(2L, 3L, 7L), s"first-arrival rows must win, got $ids")
    } finally q.stop()
  }

  test("streaming NEAR-dup ingest (q77 shape): band join vs static index == batch, across triggers") {
    import graft.operators.Dedup
    import graft.streaming.DocIngest
    def txt(i: Int) = s"unique document number $i with tokens t$i u$i v$i w$i"
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = ((1L to 30L).map(i => (i, txt(i.toInt))) :+ ((99L, shared)))
      .toDF("doc_id", "text")
    val batchRows = Seq(
      (101L, txt(201)),  // unique -> no hit
      (102L, shared),    // near-copy of corpus 99 -> hit
      (103L, txt(203)), (104L, txt(204)))
    val want = Dedup.incrementalLshFrom(batchRows.toDF("doc_id", "text"),
        corpus, Dedup.MaxLshBucket)
      .select("doc_new", "doc_corpus", "n_eq")
      .as[(Long, Long, Long)].collect().sorted.toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DocIngest.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
        Dedup.bandTable(corpus))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      mem.addData(batchRows.take(2): _*)
      q.processAllAvailable()
      // trigger 2 includes a REPLAY of the hit — pair state must
      // suppress the duplicate emission
      mem.addData((batchRows.drop(2) :+ ((102L, shared))): _*)
      q.processAllAvailable()
      val got = spark.table("neardup_stream")
        .select("doc_new", "doc_corpus", "n_eq")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == want && got.nonEmpty, s"stream=$got batch=$want")
      assert(got == Seq((102L, 99L, 16L)),
        s"expected exactly the planted near-copy once, got $got")
    } finally q.stop()
  }

  test("streaming layout sink: stream-written day partitions == batch rows, pruning fires") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.LayoutSink
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view"),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "click"),
      (Timestamp.valueOf("2024-01-02 09:00:00"), 3L, "view"),
      // trigger 2 includes a LATE event for day 1 — must append into
      // the OLD partition, not a new one
      (Timestamp.valueOf("2024-01-02 10:00:00"), 4L, "error"),
      (Timestamp.valueOf("2024-01-01 23:00:00"), 5L, "view"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = LayoutSink.eventsToLayout(
      mem.toDF().toDF("ts", "user_id", "event_type"),
      s"$dir/events", s"$dir/ckpt")
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(s"$dir/events")
    // every streamed row landed exactly once, day derived from ts
    assert(back.count() == 5)
    assert(back.select("user_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    // the late event joined day 1's partition
    val day1 = back.filter(col("day") === "2024-01-01")
    assert(day1.select("user_id").as[Long].collect().toSet == Set(1L, 2L, 5L))
    // and the layout prunes: a day filter reaches PartitionFilters
    day1.collect()
    val plan = day1.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("day"),
      s"day filter not pushed to partition pruning:\n$plan")
  }

  test("layout sink restart: kill between triggers, resume from checkpoint, no dup/lost rows; torn files ignored") {
    import graft.streaming.LayoutSink
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_restart_").toString
    val t1 = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view"),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "click"))
    val t2 = Seq(
      (Timestamp.valueOf("2024-01-02 09:00:00"), 3L, "view"),
      // a late day-1 event arriving AFTER the crash must still land in
      // the old partition
      (Timestamp.valueOf("2024-01-01 23:00:00"), 4L, "view"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    // run 1: one trigger, then KILL the query
    val q1 = LayoutSink.eventsToLayout(events, s"$dir/events", s"$dir/ckpt")
    try { mem.addData(t1: _*); q1.processAllAvailable() } finally q1.stop()
    // data arrives while the query is down
    mem.addData(t2: _*)
    // run 2: SAME checkpoint — resumes at the recorded offset
    val q2 = LayoutSink.eventsToLayout(events, s"$dir/events", s"$dir/ckpt")
    try { q2.processAllAvailable() } finally q2.stop()
    val back = spark.read.parquet(s"$dir/events")
    // every row exactly once across the kill/restart: nothing lost
    // (t2 processed), nothing doubled (t1 not re-emitted)
    assert(back.select("user_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(back.filter(col("day") === "2024-01-01")
      .select("user_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    // the exactly-once mechanism itself: a TORN file (written by a
    // crashed batch, never committed to _spark_metadata) must be
    // invisible to readers of the sink directory
    val day1 = new java.io.File(s"$dir/events/day=2024-01-01")
    val part = day1.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      day1.toPath.resolve("part-torn-uncommitted.snappy.parquet"))
    val again = spark.read.parquet(s"$dir/events")
    assert(again.count() == 4,
      "reader must consult the _spark_metadata commit log and skip uncommitted files")
  }

  test("ingest dedup restart: dropDuplicates state survives the checkpoint round-trip") {
    import graft.streaming.DocIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_restart_").toString
    val corpus = Seq((100L, "old doc")).toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ingest = DocIngest.dedupedIngest(mem.toDF().toDF("doc_id", "text"), corpus)
    // the admitted stream lands in a parquet file sink (the memory
    // sink is not fault-tolerant and refuses checkpoint recovery —
    // the file sink IS the production shape here)
    def start() = ingest.writeStream.format("parquet")
      .option("path", s"$dir/admitted")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    def admitted() = spark.read.parquet(s"$dir/admitted")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // run 1: corpus dup rejected, alpha/beta admitted, then KILL
    val q1 = start()
    try {
      mem.addData((1L, "old doc"), (2L, "alpha"), (3L, "beta"))
      q1.processAllAvailable()
      assert(admitted() == Set((2L, "alpha"), (3L, "beta")))
    } finally q1.stop()
    // while down: a replay of an ALREADY-ADMITTED text and one new doc
    mem.addData((4L, "alpha"), (5L, "gamma"))
    // run 2 from the same checkpoint
    val q2 = start()
    try {
      q2.processAllAvailable()
      // alpha was admitted BEFORE the kill: only the RECOVERED state
      // store can know that — a physical (4, alpha) row in the sink
      // would be the duplicate; a missing gamma would be the loss
      assert(admitted() == Set((2L, "alpha"), (3L, "beta"), (5L, "gamma")),
        s"state not recovered: ${admitted()}")
    } finally q2.stop()
  }

  test("near-dup ingest restart: pair state survives the checkpoint round-trip") {
    import graft.operators.Dedup
    import graft.streaming.DocIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_restart_").toString
    def txt(i: Int) = s"unique document number $i with tokens t$i u$i v$i w$i"
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = ((1L to 30L).map(i => (i, txt(i.toInt))) :+ ((99L, shared)))
      .toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ingest = DocIngest.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      Dedup.bandTable(corpus))
    def start() = ingest.writeStream.format("parquet")
      .option("path", s"$dir/hits").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    def hits() = spark.read.parquet(s"$dir/hits")
      .select("doc_new", "doc_corpus").as[(Long, Long)].collect().toSeq.sorted
    // run 1: the near-copy fires once, then KILL
    val q1 = start()
    try {
      mem.addData((101L, txt(201)), (102L, shared))
      q1.processAllAvailable()
      assert(hits() == Seq((102L, 99L)))
    } finally q1.stop()
    // while down: a replay of the already-emitted pair + a NEW near-copy
    mem.addData((102L, shared), (105L, shared))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // recovered pair state suppresses the replay; the new near-copy
      // lands exactly once
      assert(hits() == Seq((102L, 99L), (105L, 99L)), s"got ${hits()}")
    } finally q2.stop()
  }

  test("streaming SPAN-coverage ingest (q103 shape): state rollup vs static index == batch, across triggers") {
    import graft.operators.Dedup
    import graft.streaming.DocIngest
    val span = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq((90L, s"c1 c2 c3 $span c4 c5"))
      .toDF("doc_id", "text")
    val fresh = (1 to 30).map(i => s"n$i").mkString(" ")
    val half = s"$span ${(1 to 20).map(i => s"m$i").mkString(" ")}"
    val rows = Seq(
      (101L, span),   // pure corpus material -> coverage 1.0
      (102L, fresh),  // nothing known -> coverage 0.0
      (103L, half))   // leading span known, tail fresh
    // batch reference: the q103 computation on the same frames
    val want = Dedup.spanCoverageFrom(rows.toDF("doc_id", "text"),
        Dedup.windowTable(corpus))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(want.map(r => (r._1, r._4 == 1.0, r._4 == 0.0)) ==
      Seq((101L, true, false), (102L, false, true), (103L, false, false)))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DocIngest.spanIngest(mem.toDF().toDF("doc_id", "text"),
        Dedup.windowTable(corpus))
      .writeStream.format("memory").queryName("span_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(1): _*)
      q.processAllAvailable()
      // trigger 2 includes a cross-trigger REPLAY of 101 — the doc
      // state must suppress a second coverage row
      mem.addData((rows.drop(1) :+ ((101L, span))): _*)
      q.processAllAvailable()
      val got = spark.table("span_stream")
        .select("doc_id", "nw", "known_windows", "coverage")
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == want, s"stream=$got batch=$want")
    } finally q.stop()
  }

  test("span ingest restart: per-doc emission state survives the checkpoint round-trip") {
    import graft.operators.Dedup
    import graft.streaming.DocIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_span_restart_").toString
    val span = (1 to 25).map(i => s"s$i").mkString(" ")
    val corpus = Seq((90L, s"c1 c2 c3 $span c4 c5")).toDF("doc_id", "text")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ingest = DocIngest.spanIngest(mem.toDF().toDF("doc_id", "text"),
      Dedup.windowTable(corpus))
    def start() = ingest.writeStream.format("parquet")
      .option("path", s"$dir/scored").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    def scored() = spark.read.parquet(s"$dir/scored")
      .select("doc_id", "coverage").as[(Long, Double)].collect().toSeq.sorted
    // run 1: the pure-corpus doc scores once, then KILL
    val q1 = start()
    try {
      mem.addData((101L, span))
      q1.processAllAvailable()
      assert(scored() == Seq((101L, 1.0)))
    } finally q1.stop()
    // while down: a replay of the already-scored doc + a fresh doc
    val fresh = (1 to 30).map(i => s"n$i").mkString(" ")
    mem.addData((101L, span), (102L, fresh))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // recovered doc state suppresses the replay; the fresh doc
      // scores exactly once
      assert(scored() == Seq((101L, 1.0), (102L, 0.0)), s"got ${scored()}")
    } finally q2.stop()
  }

  test("semantic ingest restart: match-identity state survives the checkpoint round-trip") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.operators.Similarity
    import graft.streaming.DocIngest
    val dir = java.nio.file.Files.createTempDirectory("graft_sem_restart_").toString
    val cents = Similarity.ivfCents(spark, sfDir, Similarity.Standing)
    val corpusAssign = Similarity.ivfAssignTable(spark, sfDir, Similarity.Standing)
    val batchDf = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val want = Similarity.semanticMatchEvents(batchDf, cents, corpusAssign)
      .select("vec_id", "cvec").as[(Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty)
    val rows = batchDf.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (t1, t2) = rows.splitAt(rows.length / 2)
    val matched = want.head._1
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val ingest = DocIngest.semanticIngest(
      mem.toDF().toDF("vec_id", "embedding"), cents, corpusAssign)
    def start() = ingest.writeStream.format("parquet")
      .option("path", s"$dir/matches").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // run 1: first half (includes a known match), then KILL
    val q1 = start()
    try { mem.addData(t1: _*); q1.processAllAvailable() } finally q1.stop()
    // while down: the rest of the batch + a cross-RESTART replay of the
    // matched vector
    mem.addData((t2 ++ rows.filter(_._1 == matched)): _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.read.parquet(s"$dir/matches")
        .select("vec_id", "cvec").as[(Long, Long)].collect().toSeq.sorted
      // exactly the batch match set, each match exactly once: the
      // replayed vector's match survived the restart as STATE, not as
      // a duplicate output row
      assert(got == want, s"stream=$got batch=$want")
    } finally q2.stop()
  }

  test("streaming SEMANTIC ingest (q91 shape): route + static assignment join == batch, across triggers") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.operators.Similarity
    import graft.streaming.DocIngest
    val cents = Similarity.ivfCents(spark, sfDir, Similarity.Standing)
    val corpusAssign = Similarity.ivfAssignTable(spark, sfDir, Similarity.Standing)
    val batchDf = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    val want = Similarity.semanticMatchEvents(batchDf, cents, corpusAssign)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(want.nonEmpty, "sf0.001 must contain batch-vs-corpus semantic matches")

    val rows = batchDf.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (t1, t2) = rows.splitAt(rows.length / 2)
    val matched = want.head._1 // a vector known to match — replay it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val q = DocIngest.semanticIngest(
        mem.toDF().toDF("vec_id", "embedding"), cents, corpusAssign)
      .writeStream.format("memory").queryName("semantic_stream")
      .outputMode("append").start()
    try {
      mem.addData(t1: _*)
      q.processAllAvailable()
      // trigger 2 + a cross-trigger REPLAY of a matching vector —
      // match-identity state must suppress the duplicate emission
      mem.addData((t2 ++ rows.filter(_._1 == matched)): _*)
      q.processAllAvailable()
      val got = spark.table("semantic_stream")
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(got == want, s"stream=$got batch=$want")
    } finally q.stop()
  }

  test("streaming INDEX ingest (q108 shape): held-quantizer encode == batch == the batch-maintained index") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.operators.Similarity
    import graft.streaming.DocIngest
    val cents = Similarity.ivfCents(spark, sfDir, Similarity.Standing)
    val rcb = Similarity.resTrain(spark, sfDir, Similarity.Standing)
    val batchDf = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(pmod(col("vec_id"), lit(5)) === 0)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
      df.select(col("vec_id"), col("cent_id"),
          concat_ws(",", col("codes")).as("ck"))
        .as[(Long, Long, String)].collect().sorted.toSeq
    val want = rowsOf(DocIngest.indexIngest(batchDf, cents, rcb))
    assert(want.nonEmpty)

    // stream == batch across a trigger split, with a cross-trigger
    // replay (an index entry is immutable under the held quantizer, so
    // first-write-wins dedup state must swallow the duplicate)
    val rows = batchDf.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (t1, t2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val q = DocIngest.indexIngest(
        mem.toDF().toDF("vec_id", "embedding"), cents, rcb)
      .writeStream.format("memory").queryName("index_stream")
      .outputMode("append").start()
    try {
      mem.addData(t1: _*)
      q.processAllAvailable()
      mem.addData((t2 ++ t1.take(2)): _*) // replay two already-indexed vectors
      q.processAllAvailable()
      val got = rowsOf(spark.table("index_stream"))
      assert(got == want, s"stream=$got batch=$want")
    } finally q.stop()

    // cross-path proof: the stream door's rows are EXACTLY the rows
    // the BATCH append (q108) published into the maintained ivfpqbase
    // table for the same vectors — streaming and batch maintenance
    // write the same index
    Similarity.annIndexAppend(spark, sfDir).collect()
    val maintained = rowsOf(
      spark.table(graft.sources.Layout.tableName(sfDir, "ivfpqbaseupd"))
        .filter(pmod(col("vec_id"), lit(5)) === 0))
    assert(maintained == want,
      s"batch-maintained index rows diverge from the stream door:\n" +
        s"maintained=$maintained\nstream=$want")
  }

  test("streaming MEDIA ingest: real-codec decode on the stream == batch, corrupt blobs counted not thrown") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    import graft.streaming.DocIngest
    val media = Multimodal.ppmMediaTable(spark, sfDir)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val want = rowsOf(DocIngest.mediaIngest(media))
    assert(want.nonEmpty)
    // the planted corrupt subset must arrive as ok=false ROWS (the
    // skip-and-count contract), not kill the stream
    val wantBad = DocIngest.mediaIngest(media).filter(!col("ok")).count()
    assert(wantBad > 0, "fixture lost its corrupt blobs")

    val rows = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])].collect().toSeq
    val (t1, t2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = DocIngest.mediaIngest(mem.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("media_stream")
      .outputMode("append").start()
    try {
      mem.addData(t1: _*)
      q.processAllAvailable()
      mem.addData((t2 ++ t1.take(3)): _*) // replay three decoded blobs
      q.processAllAvailable()
      val got = rowsOf(spark.table("media_stream"))
      assert(got == want, s"stream=$got batch=$want")
      assert(spark.table("media_stream").filter(!col("ok")).count() == wantBad)
    } finally q.stop()
  }

  test("profile door's delta events are content-idempotent under batch replay") {
    // q146's exactly-once argument: a micro-batch's count delta is an
    // upsert event whose keys are (batchId+1)·2⁴⁰ + hash₄₀(cname, v),
    // so a REPLAYED batch tombstones and re-lands exactly its own rows
    // — the merge-on-aggregate read is unchanged. Drive the verbs
    // directly (the door drives them through foreachBatch).
    import graft.sources.Layout
    import graft.functions.Fns
    val dir = sfDir
    def keyed(counts: org.apache.spark.sql.DataFrame, prefix: Long) =
      counts.select(
        (lit(prefix * (1L << 40)) + pmod(Fns.hash60(
          concat_ws("", col("cname"), col("v"))), lit(1L << 40))).as("k"),
        col("cname"), col("v"), col("cnt"))
    val seed = keyed(Seq(("lang", "en", 5L), ("lang", "de", 2L))
      .toDF("cname", "v", "cnt"), 0L)
    val bkt = Some((Layout.Buckets, Seq("cname", "v")))
    Layout.appendRewrite(spark, dir, "pdoorspec", bkt,
      seed.filter(col("v") === "de"))(seed.filter(col("v") === "en"))
    val name = Layout.tableName(dir, "pdoorspecupd")
    val delta = keyed(Seq(("lang", "en", 3L), ("lang", "fr", 1L))
      .toDF("cname", "v", "cnt"), 1L)
    def agg(): Map[(String, String), Long] =
      spark.table(name).groupBy(col("cname"), col("v"))
        .agg(sum(col("cnt")).as("c")).as[(String, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    Layout.upsertSegment(spark, dir, "pdoorspec", bkt, delta, Seq("k"))
    val once = agg()
    assert(once == Map(("lang", "en") -> 8L, ("lang", "de") -> 2L,
      ("lang", "fr") -> 1L), s"first apply wrong: $once")
    // the retry: same batch, same batchId prefix, same keys
    Layout.upsertSegment(spark, dir, "pdoorspec", bkt, delta, Seq("k"))
    assert(agg() == once, "replayed delta double-counted")
    // a LATER batch with overlapping (cname, v) but a new prefix ADDS
    Layout.upsertSegment(spark, dir, "pdoorspec", bkt,
      keyed(Seq(("lang", "en", 2L)).toDF("cname", "v", "cnt"), 2L), Seq("k"))
    assert(agg()(("lang", "en")) == 10L, "new batch did not accumulate")
  }

  test("profile door composes with a takedown event; replay idempotence holds through the interleaving") {
    // q148's composition argument: stream count-delta commits and a
    // q145-style NEGATIVE-delta takedown land on one store under
    // disjoint prefixes, so (a) the merge-on-aggregate read is
    // order-insensitive and (b) replaying EITHER kind of event —
    // a retried micro-batch or a retried takedown job — after the
    // interleaving changes nothing (each event tombstones and
    // re-lands exactly its own keys).
    import graft.sources.Layout
    import graft.functions.Fns
    val dir = sfDir
    def keyed(counts: org.apache.spark.sql.DataFrame, prefix: Long) =
      counts.select(
        (lit(prefix * (1L << 40)) + pmod(Fns.hash60(
          concat_ws("", col("cname"), col("v"))), lit(1L << 40))).as("k"),
        col("cname"), col("v"), col("cnt"))
    val seed = keyed(Seq(("lang", "en", 5L), ("lang", "de", 2L), ("lang", "fr", 4L))
      .toDF("cname", "v", "cnt"), 0L)
    val bkt = Some((Layout.Buckets, Seq("cname", "v")))
    Layout.appendRewrite(spark, dir, "pdtdspec", bkt,
      seed.filter(col("v") === "de"))(seed.filter(col("v") =!= "de"))
    val name = Layout.tableName(dir, "pdtdspecupd")
    def agg(): Map[(String, String), Long] =
      spark.table(name).groupBy(col("cname"), col("v"))
        .agg(sum(col("cnt")).as("c")).filter(col("c") > 0)
        .as[(String, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    // stream batch (prefix 2), then the takedown (reserved prefix 1):
    // de leaves ENTIRELY (seed 2 - 2 = 0 → drops from the surface),
    // en loses 1
    val b1 = keyed(Seq(("lang", "en", 3L), ("lang", "it", 1L))
      .toDF("cname", "v", "cnt"), 2L)
    val takedown = keyed(Seq(("lang", "de", -2L), ("lang", "en", -1L))
      .toDF("cname", "v", "cnt"), 1L)
    Layout.upsertSegment(spark, dir, "pdtdspec", bkt, b1, Seq("k"))
    Layout.upsertSegment(spark, dir, "pdtdspec", bkt, takedown, Seq("k"))
    val composed = agg()
    assert(composed == Map(("lang", "en") -> 7L, ("lang", "fr") -> 4L,
      ("lang", "it") -> 1L), s"composition wrong: $composed")
    // replay the STREAM batch through the interleaving
    Layout.upsertSegment(spark, dir, "pdtdspec", bkt, b1, Seq("k"))
    assert(agg() == composed, "replayed stream delta double-counted")
    // replay the TAKEDOWN event (a retried batch job)
    Layout.upsertSegment(spark, dir, "pdtdspec", bkt, takedown, Seq("k"))
    assert(agg() == composed, "replayed takedown double-subtracted")
    // the stream continues past the takedown — a later batch ADDS
    Layout.upsertSegment(spark, dir, "pdtdspec", bkt,
      keyed(Seq(("lang", "de", 6L)).toDF("cname", "v", "cnt"), 3L), Seq("k"))
    assert(agg()(("lang", "de")) == 6L,
      "post-takedown batch did not re-introduce the value")
  }

  test("oversized profile deltas chunk under the envelope; chunked replay stays idempotent") {
    // the q146/q148 envelope path (round-14 advice #1), driven at a
    // TIGHTENED envelope so the split actually fires: a delta larger
    // than spark.graft.massDeleteKeys must land as multiple
    // key-residue sub-events (never a hard upsertSegment failure),
    // sum to the same surface as the unchunked math, and — because
    // chunk membership is a pure function of the deterministic keys —
    // re-applying the SAME delta must re-form identical chunks and
    // change nothing.
    import graft.sources.Layout
    import graft.functions.Fns
    val dir = sfDir
    def keyed(counts: org.apache.spark.sql.DataFrame, prefix: Long) =
      counts.select(
        (lit(prefix * (1L << 40)) + pmod(Fns.hash60(
          concat_ws("", col("cname"), col("v"))), lit(1L << 40))).as("k"),
        col("cname"), col("v"), col("cnt"))
    val bkt = Some((Layout.Buckets, Seq("cname", "v")))
    val seed = keyed(Seq(("lang", "en", 5L)).toDF("cname", "v", "cnt"), 0L)
    Layout.appendRewrite(spark, dir, "pdchunkspec", bkt, seed)(
      keyed(Seq(("lang", "de", 1L)).toDF("cname", "v", "cnt"), 0L))
    val name = Layout.tableName(dir, "pdchunkspecupd")
    def maxV(): Long = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${name}__v"))
      .flatMap(n => scala.util.Try(n.stripPrefix(s"${name}__v").toLong).toOption)
      .foldLeft(0L)(math.max)
    def agg(): Map[(String, String), Long] =
      spark.table(name).groupBy(col("cname"), col("v"))
        .agg(sum(col("cnt")).as("c")).as[(String, String, Long)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    // a 9-row delta against a 4-key envelope → ⌈9/4⌉ = 3 chunk events
    val delta = keyed((1 to 9).map(i => ("w", s"t$i", i.toLong))
      .toDF("cname", "v", "cnt"), 2L)
    val prev = spark.conf.getOption("spark.graft.massDeleteKeys")
    spark.conf.set("spark.graft.massDeleteKeys", "4")
    try {
      val v0 = maxV()
      graft.streaming.StreamDoor.chunkedCountUpsert(
        spark, dir, "pdchunkspec", bkt, delta)
      // ⌈9/4⌉ = 3 is the FLOOR; the round-15-advice growth loop may
      // add chunks when the hash residues skew a class past the
      // envelope — the contract is "every chunk fits", not a count
      val nChunks = maxV() - v0
      assert(nChunks >= 3,
        s"expected >= 3 chunk events, got $nChunks")
      val once = agg()
      (1 to 9).foreach(i => assert(once(("w", s"t$i")) == i.toLong))
      assert(once(("lang", "en")) == 5L && once(("lang", "de")) == 1L)
      // the retry: same delta, same envelope — identical chunks,
      // identical surface
      val v1 = maxV()
      graft.streaming.StreamDoor.chunkedCountUpsert(
        spark, dir, "pdchunkspec", bkt, delta)
      assert(maxV() - v1 == nChunks, "replay re-formed a different chunk count")
      assert(agg() == once, "chunked replay double-counted")
      // ADVERSARIAL SKEW (round-15 advice): 9 keys all ≡ 0 mod the
      // initial ⌈9/4⌉ = 3 chunks — the pre-fix residue split would
      // put all 9 rows in one chunk and upsertSegment would hard-fail
      // above the envelope; the growth loop must instead raise the
      // chunk count until every class fits, and the replay must
      // re-form the same (grown) chunk count.
      val skewed = (0 until 9).map { j =>
        (3L * (1L << 40) + j * 3L, "w", s"s$j", (j + 1).toLong)
      }.toDF("k", "cname", "v", "cnt")
      val v2 = maxV()
      graft.streaming.StreamDoor.chunkedCountUpsert(
        spark, dir, "pdchunkspec", bkt, skewed)
      val skewChunks = maxV() - v2
      assert(skewChunks > 3,
        s"skewed delta did not grow the chunk count (got $skewChunks)")
      val withSkew = agg()
      (0 until 9).foreach(j => assert(withSkew(("w", s"s$j")) == (j + 1).toLong))
      val v3 = maxV()
      graft.streaming.StreamDoor.chunkedCountUpsert(
        spark, dir, "pdchunkspec", bkt, skewed)
      assert(maxV() - v3 == skewChunks,
        "skewed replay re-formed a different chunk count")
      assert(agg() == withSkew, "skewed chunked replay double-counted")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.massDeleteKeys", v)
      case None    => spark.conf.unset("spark.graft.massDeleteKeys")
    }
  }
}
