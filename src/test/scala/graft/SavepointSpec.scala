package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** The cross-store savepoint verb (q150/q152's mechanism): a committed
  * metadata manifest pins each member store's generation; reads
  * resolve through storeAsOf, so isolation from later events is the
  * version views' immutability. Since round 16 live pins PARTICIPATE
  * in the retention horizon: compaction retains (freezes) pinned
  * generations, and a released pin is GC'd by the next compaction. Re-declaring a
  * live name is loud (round-15 advice — no silent re-pin). */
class SavepointSpec extends SparkSpec {
  import spark.implicits._

  // the shared warehouse outlives sbt test runs: a leftover manifest
  // from a prior run would make this run's savepoint() loudly refuse,
  // so each test starts from the released state (the same snapshot-
  // refresh discipline the q150/q152 gates use)
  private def fresh(names: String*): Unit =
    names.foreach(n => Layout.releaseSavepoint(spark, sfDir, n, ifExists = true))

  test("savepoint pins generations; later events never leak into its reads") {
    val dir = sfDir
    fresh("spec1")
    val bkt = Some((Layout.Buckets, Seq("k")))
    val base = (0L until 100L).map(k => (k, k * 2)).toDF("k", "v")
    val b1 = (200L until 250L).map(k => (k, k * 2)).toDF("k", "v")
    Layout.appendRewrite(spark, dir, "svp1", bkt, b1)(base)   // gens 1-2
    Layout.appendRewrite(spark, dir, "svp2", bkt,
      (1000L until 1020L).map(k => (k, k)).toDF("k", "v"))(
      (900L until 950L).map(k => (k, k)).toDF("k", "v"))      // gens 1-2
    val sp = Layout.savepoint(spark, dir, "spec1", Seq("svp1upd", "svp2upd"))
    assert(sp.keySet == Set("svp1upd", "svp2upd"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("k", "v").as[(Long, Long)].collect().toSet
    val at1 = rows(Layout.readSavepoint(spark, dir, "spec1", "svp1upd"))
    val at2 = rows(Layout.readSavepoint(spark, dir, "spec1", "svp2upd"))
    assert(at1.size == 150 && at2.size == 70)

    // both stores advance: a delete on one, an append on the other
    Layout.deleteSegment(spark, dir, "svp1",
      (0L until 100L by 10L).toDF("k"), Seq("k"))             // gen 3
    Layout.appendSegment(spark, dir, "svp2", bkt,
      Seq((5000L, 5L)).toDF("k", "v"))                        // gen 3
    // the stable views moved...
    assert(rows(spark.table(Layout.tableName(dir, "svp1upd"))).size == 140)
    assert(rows(spark.table(Layout.tableName(dir, "svp2upd"))).size == 71)
    // ...the savepoint reads did not
    assert(rows(Layout.readSavepoint(spark, dir, "spec1", "svp1upd")) == at1,
      "post-savepoint delete leaked into the pinned read")
    assert(rows(Layout.readSavepoint(spark, dir, "spec1", "svp2upd")) == at2,
      "post-savepoint append leaked into the pinned read")
    // the manifest re-reads stably
    assert(Layout.savepointManifest(spark, dir, "spec1") == sp)
    // re-declaring the LIVE name is loud (round-15 advice), and the
    // release → re-pin path is the sanctioned way to move it
    val e = intercept[IllegalArgumentException] {
      Layout.savepoint(spark, dir, "spec1", Seq("svp1upd"))
    }
    assert(e.getMessage.contains("already live"))
    Layout.releaseSavepoint(spark, dir, "spec1")
    val sp2 = Layout.savepoint(spark, dir, "spec1", Seq("svp1upd"))
    assert(sp2("svp1upd") == Layout.readableVersions(spark, dir, "svp1upd").max
      && sp2("svp1upd") > sp("svp1upd"),
      "re-pin after release did not take the new moment")
    fresh("spec1")
  }

  test("compaction RETAINS generations pinned by a live savepoint; release hands them to the next GC") {
    val dir = sfDir
    fresh("spec2")
    val bkt = Some((Layout.Buckets, Seq("k")))
    Layout.appendRewrite(spark, dir, "svp3", bkt,
      (50L until 80L).map(k => (k, k)).toDF("k", "v"))(
      (0L until 50L).map(k => (k, k)).toDF("k", "v"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("k", "v").as[(Long, Long)].collect().toSet
    val sp = Layout.savepoint(spark, dir, "spec2", Seq("svp3upd"))
    val pinned = rows(Layout.readSavepoint(spark, dir, "spec2", "svp3upd"))
    assert(pinned.size == 80)
    Layout.deleteSegment(spark, dir, "svp3",
      (0L until 10L).toDF("k"), Seq("k"))
    // the GC horizon moves PAST the pinned generation — the pin must
    // survive it (frozen snapshot), byte-identical to the pre-
    // compaction read
    Layout.compactDeleted(spark, dir, "svp3upd", bkt)
    assert(Layout.readableVersions(spark, dir, "svp3upd")
      .contains(sp("svp3upd")),
      "compaction GC'd a generation a live savepoint pins")
    assert(rows(Layout.readSavepoint(spark, dir, "spec2", "svp3upd")) == pinned,
      "the retained (frozen) pinned read drifted across the compaction")
    // ... and the compacted stable view reflects the delete as usual
    assert(rows(spark.table(Layout.tableName(dir, "svp3upd"))).size == 70)
    // ... and the frozen snapshot kept the store's BUCKET SPEC: a
    // pin is a long-lived consumer surface — its bucket-key
    // aggregate must stay exchange-free like the live store's
    val frozen = Layout.readSavepoint(spark, dir, "spec2", "svp3upd")
    val aggPlan = {
      val df = frozen.groupBy(col("k")).agg(count(lit(1)).as("n"))
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"frozen pinned read lost the bucketed layout:\n$aggPlan")
    // later events still compose on the compacted store
    Layout.appendSegment(spark, dir, "svp3", bkt,
      Seq((900L, 9L)).toDF("k", "v"))
    assert(rows(Layout.readSavepoint(spark, dir, "spec2", "svp3upd")) == pinned)
    // RELEASE ends the pin: the next compaction sweeps the retained
    // generation and the read fails loudly through storeAsOf
    Layout.releaseSavepoint(spark, dir, "spec2")
    Layout.deleteSegment(spark, dir, "svp3",
      (10L until 15L).toDF("k"), Seq("k"))
    Layout.compactDeleted(spark, dir, "svp3upd", bkt)
    assert(!Layout.readableVersions(spark, dir, "svp3upd")
      .contains(sp("svp3upd")),
      "released pin's generation survived the next compaction")
    val e = intercept[IllegalArgumentException] {
      Layout.storeAsOf(spark, dir, "svp3upd", sp("svp3upd")).count()
    }
    assert(e.getMessage.contains("retention horizon"),
      s"post-release GC'd read failed without the loud contract: $e")
  }

  test("retain policy: a live pin never blocks maintenance or the pinned read") {
    val dir = sfDir
    fresh("spec5")
    val bkt = Some((Layout.Buckets, Seq("k")))
    Layout.appendRewrite(spark, dir, "svp5", bkt,
      (30L until 60L).map(k => (k, k)).toDF("k", "v"))(
      (0L until 30L).map(k => (k, k)).toDF("k", "v"))
    Layout.savepoint(spark, dir, "spec5", Seq("svp5upd"))
    Layout.deleteSegment(spark, dir, "svp5",
      (0L until 5L).toDF("k"), Seq("k"))
    // force the mass policy to fire
    spark.conf.set("spark.graft.compact.maxEvents", "1")
    try {
      assert(Layout.shouldCompact(spark, dir, "svp5upd"),
        "a live savepoint kept maintenance off the pinned store")
      // the pinned read (pre-delete moment: 60 rows) is untouched
      assert(Layout.readSavepoint(spark, dir, "spec5", "svp5upd").count() == 60)
      Layout.releaseSavepoint(spark, dir, "spec5")
      Layout.compactDeleted(spark, dir, "svp5upd", bkt)
      assert(spark.table(Layout.tableName(dir, "svp5upd")).count() == 55)
    } finally {
      spark.conf.unset("spark.graft.compact.maxEvents")
    }
  }

  test("unknown member and commit-free store fail loudly") {
    val dir = sfDir
    fresh("spec3", "spec4")
    val bkt = Some((Layout.Buckets, Seq("k")))
    Layout.appendRewrite(spark, dir, "svp4", bkt,
      Seq((2L, 2L)).toDF("k", "v"))(Seq((1L, 1L)).toDF("k", "v"))
    Layout.savepoint(spark, dir, "spec3", Seq("svp4upd"))
    val e1 = intercept[IllegalArgumentException] {
      Layout.readSavepoint(spark, dir, "spec3", "nosuchupd")
    }
    assert(e1.getMessage.contains("no member"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.savepoint(spark, dir, "spec4", Seq("neverwrittenupd"))
    }
    assert(e2.getMessage.contains("no committed generations"))
    val e3 = intercept[IllegalArgumentException] {
      Layout.releaseSavepoint(spark, dir, "spec4")
    }
    assert(e3.getMessage.contains("no live savepoint"))
    fresh("spec3")
  }

  test("a pinned generation that reads an older compaction survives the next compaction") {
    // gen 4 is a view over the gen-3 compacted table; the next
    // compaction GCs that table, so it must freeze the pin first
    val dir = sfDir
    fresh("spec7")
    val bkt = Some((Layout.Buckets, Seq("k")))
    val mk = (lo: Long, hi: Long) => (lo until hi).map(k => (k, k * 2)).toDF("k", "v")
    Layout.appendRewrite(spark, dir, "svp7", bkt, mk(100L, 200L))(mk(0L, 100L)) // gens 1-2
    Layout.compactDeleted(spark, dir, "svp7upd", bkt)                          // gen 3
    Layout.appendSegment(spark, dir, "svp7", bkt, mk(200L, 300L))              // gen 4
    Layout.savepoint(spark, dir, "spec7", Seq("svp7upd"))
    Layout.compactDeleted(spark, dir, "svp7upd", bkt)                          // gen 5
    val got = Layout.readSavepoint(spark, dir, "spec7", "svp7upd")
      .select("k").as[Long].collect().toSet
    assert(got == (0L until 300L).toSet, s"pinned read lost rows: ${got.size} of 300")
    Layout.releaseSavepoint(spark, dir, "spec7")
  }
}
