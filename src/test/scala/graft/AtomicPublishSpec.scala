package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** The versioned-publish commit protocol
  * ([[Layout.publishVersioned]] — versioned bucketed table, then one
  * commit that repoints the stable view with `ALTER VIEW … AS`, a
  * single catalog `alterTable`) gives batch artifacts the
  * concurrent-reader guarantee the streaming sink already had via
  * `_spark_metadata`: a reader racing a snapshot rewrite sees EXACTLY
  * the old or exactly the new snapshot — never a torn mix, never a
  * mid-rewrite read failure. One test pins that commit
  * deterministically with a catalog listener: re-committing an
  * existing artifact through each lifecycle path fires one
  * `AlterTableEvent` on the stable view and never drops it.
  *
  * The race is driven for real: a writer thread publishes generations
  * 2..N of a table whose every row carries its generation, while the
  * main thread reads the stable name in a hot loop; every read must
  * come back whole (single generation, that generation's full row
  * set). The delete-lifecycle variant races a reader against
  * [[Layout.deleteRewrite]] and requires every read to be the full
  * pre-delete artifact or the full post-delete one. */
class AtomicPublishSpec extends SparkSpec {
  import spark.implicits._

  private def rowsOf(gen: Long, n: Long) =
    spark.range(n).select(col("id"), lit(gen).as("gen"))

  test("a racing reader sees exactly one whole published generation, never a mix") {
    val dirTag = "pubspec" // distinct `what` per test — names are session-global
    val N = 500L
    Layout.publishVersioned(spark, sfDir, dirTag, None)(rowsOf(1L, N))
    val name = Layout.tableName(sfDir, dirTag)

    val stop = new AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        (2L to 6L).foreach { g =>
          Layout.publishVersioned(spark, sfDir, dirTag, None)(rowsOf(g, N))
        }
      } catch { case t: Throwable => writerErr.set(t) }
      finally stop.set(true)
    })

    var reads = 0
    val seen = scala.collection.mutable.Set.empty[Long]
    def readWhole(): Unit = {
      val got = spark.table(name).select("gen", "id").as[(Long, Long)].collect()
      val gens = got.map(_._1).distinct
      assert(gens.length == 1, s"TORN read: generations ${gens.toSeq} in one scan")
      assert(got.length == N && got.map(_._2).sorted.toSeq == (0L until N),
        s"partial read of generation ${gens.head}: ${got.length} rows")
      seen += gens.head
      reads += 1
    }
    // one read strictly BEFORE the writer (pins generation 1) and one
    // strictly AFTER it joins (pins generation 6) bracket the hot
    // loop, so >= 2 distinct whole generations are observed even if a
    // loaded host starves the concurrent reads — the mid-race reads
    // keep exercising every interleaving the scheduler produces
    readWhole()
    writer.start()
    try {
      while (!stop.get()) readWhole()
    } finally writer.join()
    readWhole()
    assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
    assert(reads >= 2 && seen.size >= 2,
      s"race not exercised: $reads reads, generations seen $seen")
    // and the settled pointer is the last published generation
    val last = spark.table(name).select("gen").distinct().as[Long].collect().toSeq
    assert(last == Seq(6L))
  }

  test("racing publishers of the same artifact never leave the view on an older generation") {
    // round-10 advice fix: version allocation + write + view swap are
    // one critical section per name, so out-of-order swaps (stable
    // name regressing to an older generation) are impossible
    val what = "racerpub"
    Layout.publishVersioned(spark, sfDir, what, None)(rowsOf(1L, 100L))
    val name = Layout.tableName(sfDir, what)
    def maxVersion(): Long = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${name}__v"))
      .map(_.stripPrefix(s"${name}__v").toLong).max
    val v0 = maxVersion()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (2L to 5L).map { g =>
      new Thread(() => {
        try Layout.publishVersioned(spark, sfDir, what, None)(rowsOf(g, 100L))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    ths.foreach(_.start()); ths.foreach(_.join())
    assert(errs.isEmpty, s"publisher failed: ${errs.peek()}")
    val maxV = maxVersion()
    assert(maxV == v0 + 4L,
      s"expected 4 new committed versions above $v0, counter reached $maxV")
    val viewGen = spark.table(name).select("gen").distinct().as[Long].collect().toSeq
    val lastGen = spark.table(s"${name}__v$maxV")
      .select("gen").distinct().as[Long].collect().toSeq
    assert(viewGen == lastGen,
      s"stable name serves generation $viewGen but highest version $maxV holds $lastGen")
  }

  test("version discovery survives a counter reset via the warehouse directory listing") {
    // simulate a fresh SparkContext over a persisted warehouse: the
    // in-memory counters are gone, the catalog may be too — only the
    // on-disk <name>__v<N> directories remain. Publishing must resume
    // AFTER the highest on-disk version, never clobber it at __v1.
    val what = "whdisc"
    val name = Layout.tableName(sfDir, what)
    val whUri = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val wh = new java.io.File(
      if (whUri.getScheme == null) whUri.toString else whUri.getPath)
    // stage an on-disk version safely above anything a prior run left
    val existing = Option(wh.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith(s"${name}__v"))
      .flatMap(t => scala.util.Try(t.stripPrefix(s"${name}__v").toLong).toOption)
      .foldLeft(0L)(math.max)
    val staged = existing + 50L
    val fake = new java.io.File(wh, s"${name}__v$staged")
    assert(fake.mkdirs(), s"could not stage $fake")
    try {
      Layout.resetPublishCounters()
      Layout.publishVersioned(spark, sfDir, what, None)(rowsOf(staged + 1L, 10L))
      assert(spark.catalog.tableExists(s"${name}__v${staged + 1L}"),
        "publish after restart did not resume above the on-disk version")
      val gen = spark.table(name).select("gen").distinct().as[Long].collect().toSeq
      assert(gen == Seq(staged + 1L))
    } finally fake.delete()
  }

  test("a reader racing deleteRewrite sees the full pre- or full post-delete artifact") {
    val base = spark.range(1000L).select(col("id").as("doc_id"),
      (col("id") * 7L % 100L).as("payload"))
    // pre-publish the artifact the delete will rewrite, under its own name
    Layout.publishVersioned(spark, sfDir, "delspec", None)(base)
    val name = Layout.tableName(sfDir, "delspecdel")
    val preIds = (0L until 1000L).toSet
    val postIds = preIds.filterNot(_ % 3 == 0)

    val stop = new AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        // generation 1 of <what>del = the base (delete nothing), then
        // the real targeted delete publishes generation 2 — the swap
        // under test. deleteRewrite's own once-gate is keyed per
        // (session, what), so the second publish goes direct.
        Layout.publishVersioned(spark, sfDir, "delspecdel", None)(base)
        Layout.publishVersioned(spark, sfDir, "delspecdel", None) {
          base.join(spark.range(0, 1000, 3).toDF("doc_id"), Seq("doc_id"), "left_anti")
        }
      } catch { case t: Throwable => writerErr.set(t) }
      finally stop.set(true)
    })
    writer.start()

    var reads = 0
    val seenSets = scala.collection.mutable.Set.empty[Int]
    try {
      while (!stop.get() || reads == 0) {
        val got =
          try spark.table(name).select("doc_id").as[Long].collect().toSet
          catch {
            // before the first generation commits the view does not
            // exist yet — that is the "old snapshot = absent" state,
            // not a torn read (any later analysis failure would hang
            // the loop and time the suite out loudly)
            case _: org.apache.spark.sql.AnalysisException => null
          }
        if (got != null) {
          assert(got == preIds || got == postIds,
            s"torn delete read: ${got.size} rows (pre=${preIds.size}, post=${postIds.size})")
          seenSets += (if (got == preIds) 1 else 2)
          reads += 1
        }
      }
    } finally writer.join()
    assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
    assert(reads >= 1, "race not exercised")
    // settled state is the post-delete snapshot, exactly
    val settled = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(settled == postIds)
  }

  test("a reader racing the MVCC append sees the full base or full base∪batch, never in between") {
    // round-11 item 2: appendRewrite's store is ONE standing bucketed
    // table; the batch lands as appended gen-2 files and the commit is
    // a single view swap. The MVCC property under test: a reader may
    // LIST the freshly appended files mid-maintenance, but the
    // pre-swap view's gen-predicate excludes their rows — so every
    // read is exactly the base or exactly base∪batch.
    val all = spark.range(3000L).select(col("id").as("vec_id"),
      pmod(col("id"), lit(16)).as("cent_id"))
    val base = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = all.filter(pmod(col("vec_id"), lit(5)) === 0)
    val baseIds = (0L until 3000L).filterNot(_ % 5 == 0).toSet
    val allIds = (0L until 3000L).toSet
    val name = Layout.tableName(sfDir, "mvccappupd")

    val stop = new AtomicBoolean(false)
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try Layout.appendRewrite(spark, sfDir, "mvccapp",
        Some((Layout.Buckets, Seq("cent_id"))), batch)(base)
      catch { case t: Throwable => writerErr.set(t) }
      finally stop.set(true)
    })
    writer.start()

    var reads = 0
    try {
      while (!stop.get() || reads == 0) {
        val got =
          try spark.table(name).select("vec_id").as[Long].collect().toSet
          catch {
            // before the first view commits the stable name is absent —
            // the "old snapshot = absent" state, not a torn read
            case _: org.apache.spark.sql.AnalysisException => null
          }
        if (got != null) {
          assert(got == baseIds || got == allIds,
            s"torn append read: ${got.size} rows (base=${baseIds.size}, all=${allIds.size})")
          reads += 1
        }
      }
    } finally writer.join()
    assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
    assert(reads >= 1, "race not exercised")
    val settled = spark.table(name).select("vec_id").as[Long].collect().toSet
    assert(settled == allIds)
    // the store keeps the bucket spec; the view hides the gen column
    assert(!spark.table(name).columns.contains("gen"))
    val cat = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}store"))
    assert(cat.bucketSpec.exists(b =>
      b.numBuckets == Layout.Buckets && b.bucketColumnNames == Seq("cent_id")))
  }

  test("multi-event MVCC appends: each batch lands as its own generation, O(batch), versions readable") {
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(16)).as("cent_id"))
    val name = Layout.tableName(sfDir, "mvccmultiupd")
    // event 1: store creation + first batch (the once-gated start)
    Layout.appendRewrite(spark, sfDir, "mvccmulti",
      Some((Layout.Buckets, Seq("cent_id"))), mk(1000, 1500))(mk(0, 1000))
    // events 2 and 3: O(batch) continuations
    Layout.appendSegment(spark, sfDir, "mvccmulti",
      Some((Layout.Buckets, Seq("cent_id"))), mk(1500, 1800))
    Layout.appendSegment(spark, sfDir, "mvccmulti",
      Some((Layout.Buckets, Seq("cent_id"))), mk(1800, 2000))
    // stable view = everything
    assert(spark.table(name).count() == 2000)
    // every prior version stays readable with its exact row set
    assert(spark.table(s"${name}__v1").count() == 1000)
    assert(spark.table(s"${name}__v2").count() == 1500)
    assert(spark.table(s"${name}__v3").count() == 1800)
    assert(spark.table(s"${name}__v4").count() == 2000)
    // O(batch) witness across ALL events: no store file mixes
    // generations (each event only ADDED files)
    val store = s"${name}store"
    val mixed = spark.table(store).withColumn("f", input_file_name())
      .groupBy("f").agg(countDistinct(col("gen")).as("g"))
      .filter(col("g") > 1).count()
    assert(mixed == 0, s"$mixed files mix generations across multi-event appends")
    assert(spark.table(store).select("gen").distinct().count() == 4)
  }

  test("appendSegment resumes at the right generation after a restart (commit-log markers, no data scan)") {
    // round-12 item 2: generation allocation is metadata-only — the
    // _gen_<N> commit markers in the store directory + catalog views,
    // never a max(gen) scan of the data — and survives a restart.
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(16)).as("cent_id"))
    val name = Layout.tableName(sfDir, "genrestartupd")
    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    Layout.appendRewrite(spark, sfDir, "genrestart", bkt, mk(100, 200))(mk(0, 100))
    Layout.appendSegment(spark, sfDir, "genrestart", bkt, mk(200, 300)) // gen 3
    // simulate a fresh SparkContext over the persisted warehouse: the
    // in-memory counters are gone and the version views were never
    // re-registered — only the store table and its commit markers
    // remain discoverable
    Layout.resetPublishCounters()
    (1 to 3).foreach(v => spark.sql(s"DROP VIEW IF EXISTS ${name}__v$v"))
    spark.sql(s"DROP VIEW IF EXISTS $name")
    Layout.appendSegment(spark, sfDir, "genrestart", bkt, mk(300, 400))
    // resumed AFTER the highest committed generation — never clobbered
    assert(spark.catalog.tableExists(s"${name}__v4"),
      "restarted appendSegment did not resume at generation 4")
    assert(spark.table(name).count() == 400)
    val store = s"${name}store"
    assert(spark.table(store).select("gen").distinct().count() == 4)
    // every generation's marker is on disk (the restart-discovery source)
    val loc = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(store)).location)
    val markers = Option(loc.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("_gen_")).toSet
    assert(markers == Set("_gen_1", "_gen_2", "_gen_3", "_gen_4"), s"markers: $markers")
  }

  test("compacting the MVCC store: one file per bucket, rows and generations preserved") {
    // the background small-file maintenance the per-event append
    // defers: after the multi-event test's four generations, compact
    // the store and prove row-set + gen equality and the
    // one-file-per-bucket layout (the facts' compactBucketed
    // mechanism applied to the ANN store)
    val name = Layout.tableName(sfDir, "mvccmultiupd")
    val store = s"${name}store"
    val before = spark.table(store).select("vec_id", "cent_id", "gen")
      .collect().map(_.toString).sorted.toSeq
    val compacted = Layout.compactBucketed(spark, store, "cent_id")
    val after = compacted.select("vec_id", "cent_id", "gen")
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the row set")
    val filesPerBucket = compacted.withColumn("f", input_file_name())
      .select("f").distinct().count()
    assert(filesPerBucket <= Layout.Buckets,
      s"$filesPerBucket files after compaction, expected <= ${Layout.Buckets}")
  }

  test("deleteRewrite's published artifact keeps its bucket spec through the view") {
    // the real lifecycle path: a bucketed artifact, delete-published,
    // read back through the stable name — bucket metadata must survive
    // (the view resolves to the versioned bucketed table)
    val base = spark.range(200L).select(col("id").as("doc_id"),
      pmod(col("id"), lit(16)).as("cent_id"))
    val out = Layout.deleteRewrite(spark, sfDir, "bktspec",
      Some((Layout.Buckets, Seq("cent_id"))),
      spark.range(0, 200, 5).toDF("doc_id"), Seq("doc_id"))(base)
    assert(out.filter(col("doc_id") % 5 === 0).count() == 0)
    assert(out.count() == 160)
    // resolve the version the view actually points at (the counter
    // resumes above leftover warehouse dirs from earlier runs, so the
    // version number is not fixed)
    val prefix = Layout.tableName(sfDir, "bktspecdel") + "__v"
    val versioned = prefix + spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong).max
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(versioned))
    assert(cat.bucketSpec.exists(b =>
      b.numBuckets == Layout.Buckets && b.bucketColumnNames == Seq("cent_id")))
  }

  test("every lifecycle commit repoints the stable view with one ALTER, never a drop") {
    // A reader resolving the stable name must always find a view. On an
    // existing view CREATE OR REPLACE VIEW is DropTable then CreateTable
    // in the catalog (a reader between the two fails with
    // TABLE_OR_VIEW_NOT_FOUND); the commit must be one AlterTable. The
    // catalog's listener bus posts synchronously in the committing
    // thread, so the events of one call are exactly what it did.
    import org.apache.spark.sql.catalyst.catalog._
    val catalog = spark.sharedState.externalCatalog
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def assertOneAlter(path: String, name: String)(recommit: => Unit): Unit = {
      assert(spark.catalog.tableExists(name), s"$path: $name must exist before the re-commit")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[ExternalCatalogEvent]()
      val listener = new ExternalCatalogEventListener {
        override def onEvent(e: ExternalCatalogEvent): Unit = e match {
          case t: TableEvent if t.name == name => seen.add(e)
          case _ =>
        }
      }
      catalog.addListener(listener)
      try recommit finally catalog.removeListener(listener)
      val ev = seen.asScala.toSeq
      if (ev.exists(e => e.isInstanceOf[DropTablePreEvent] || e.isInstanceOf[DropTableEvent]) ||
          ev.count(_.isInstanceOf[AlterTableEvent]) != 1)
        problems += s"$path: expected one AlterTableEvent and no drop on $name, got $ev"
    }

    Layout.publishVersioned(spark, sfDir, "commitpub", None)(rowsOf(1L, 10L))
    assertOneAlter("publishVersioned", Layout.tableName(sfDir, "commitpub")) {
      Layout.publishVersioned(spark, sfDir, "commitpub", None)(rowsOf(2L, 10L))
    }

    // deleteRewrite's once-gate is per session: the second tombstone
    // event on the same artifact comes from a second session
    val baseT = Layout.tableName(sfDir, "commitdelbase")
    Layout.materializedTable(spark, sfDir, "commitdelbase", None)(spark.range(100L).toDF("doc_id"))
    Layout.deleteRewrite(spark, sfDir, "commitdel", None,
      spark.range(0L, 100L, 7L).toDF("doc_id"), Seq("doc_id"))(spark.table(baseT))
    assertOneAlter("deleteRewrite", Layout.tableName(sfDir, "commitdeldel")) {
      val s2 = spark.newSession()
      Layout.deleteRewrite(s2, sfDir, "commitdel", None,
        s2.range(1L, 100L, 7L).toDF("doc_id"), Seq("doc_id"))(s2.table(baseT))
    }

    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(16)).as("cent_id"))
    val upd = Layout.tableName(sfDir, "commitappupd")
    Layout.appendRewrite(spark, sfDir, "commitapp", bkt, mk(100, 200))(mk(0, 100))
    assertOneAlter("appendSegment", upd) {
      Layout.appendSegment(spark, sfDir, "commitapp", bkt, mk(200, 300))
    }
    assertOneAlter("compactDeleted", upd) {
      Layout.compactDeleted(spark, sfDir, "commitappupd", bkt)
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert(spark.table(upd).count() == 300)
  }

  test("appendRewrite in a second session of the same context rebuilds over the first's versions") {
    // the first session leaves its versions as VIEWS in the shared
    // catalog; the second session's snapshot-refresh clear must drop
    // them as views (DROP TABLE on a view throws)
    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    val name = Layout.tableName(sfDir, "twosessupd")
    val mk = (s: org.apache.spark.sql.SparkSession, lo: Long, hi: Long) => s.range(lo, hi)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(16)).as("cent_id"))
    Layout.appendRewrite(spark, sfDir, "twosess", bkt, mk(spark, 100, 150))(mk(spark, 0, 100))
    assert(spark.table(name).count() == 150)
    val s2 = spark.newSession()
    val got = Layout.appendRewrite(s2, sfDir, "twosess", bkt, mk(s2, 200, 260))(mk(s2, 0, 120))
      .select("vec_id").as[Long].collect().toSet
    val want = ((0L until 120L) ++ (200L until 260L)).toSet
    assert(got == want, s"second session read ${got.size} rows, expected base ∪ batch (${want.size})")
    // one catalog: the first session reads the second's snapshot once
    // it refreshes its own cached listing of the rebuilt store (each
    // session keeps its own relation cache)
    spark.catalog.refreshTable(s"${name}store")
    assert(spark.table(name).select("vec_id").as[Long].collect().toSet == want)
  }

  test("a compaction's GC drops a version view before the compacted table it reads") {
    // after a compaction, a store event's version is a VIEW over the
    // compacted TABLE; the next compaction drops both. Dropping the
    // table first leaves the view unresolvable while DROP VIEW uncaches
    // it, which DropTableCommand logs as a TABLE_OR_VIEW_NOT_FOUND
    // warning (the suite runs at ERROR, so the logger is opened to
    // WARN for the one call)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val bkt = Some((Layout.Buckets, Seq("cent_id")))
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("vec_id"), pmod(col("id"), lit(16)).as("cent_id"))
    val upd = Layout.tableName(sfDir, "gcorderupd")
    Layout.appendRewrite(spark, sfDir, "gcorder", bkt, mk(100, 200))(mk(0, 100))
    Layout.compactDeleted(spark, sfDir, "gcorderupd", bkt)
    Layout.appendSegment(spark, sfDir, "gcorder", bkt, mk(200, 300))
    val loggerName = classOf[org.apache.spark.sql.execution.command.DropTableCommand].getName
    val logger = LogManager.getLogger(loggerName).asInstanceOf[CoreLogger]
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("gcorder-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          warned.add(e.getMessage.getFormattedMessage)
    }
    val prior = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    Configurator.setLevel(loggerName, Level.WARN)
    try Layout.compactDeleted(spark, sfDir, "gcorderupd", bkt)
    finally {
      Configurator.setLevel(loggerName, prior)
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(warned.isEmpty, s"the GC dropped a table before a view that reads it: " +
      warned.asScala.mkString("\n"))
    assert(spark.table(upd).count() == 300)
  }
}
