package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.operators.Pipeline
import graft.sources.{Layout, ShardManifest, ShardSource}

/** q172 — the delivery-layer takedown: per-shard tombstone deltas the
  * connector's readers apply, manifest-maintained (invalidated bounds
  * dropped), materialized away by the next fold. */
class DeliveryTakedownSpec extends SparkSpec {

  private lazy val out: Array[Row] =
    Pipeline.deliveryTakedown(spark, sfDir).collect()

  test("gate decisions: O(affected) write, hidden rows, fallback/restore") {
    def meta(nm: String): Row = out.find(_.getString(0) == nm).get
    assert(meta("zz_takedown_o_affected").getLong(1) == 1L)
    assert(meta("zz_tomb_rows_hidden").getLong(1) == 1L)
    assert(meta("zz_minmax_metadata_through_takedown").getLong(1) == 1L)
  }

  test("phase stats equal an independent live-corpus derivation") {
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val live = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 7 != 3)
    val expect = live.groupBy { case (id, _) =>
      java.lang.Long.parseLong(md5hex(s"tdel17:$id").take(8), 16) >> 29
    }.map { case (sh, rows) =>
      sh -> (rows.length.toLong, rows.map(_._2).sum,
        rows.map(_._1).min, rows.map(_._1).max)
    }
    Seq("a_live", "c_fold").foreach { phase =>
      val got = out.filter(_.getString(0) == phase)
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got == expect, s"phase $phase")
    }
  }

  test("tombstones apply even under column pruning (no doc_id in the scan)") {
    // a fresh layout this arm owns — the q172 gate's is already folded
    import spark.implicits._
    val p = Layout.warehousePath(spark, Layout.tableName(sfDir, "tdspec"))
    Layout.deleteWarehouseDir(spark, p)
    val df = Seq(
      (1L, "aa", "en", 2L, 11L, 0L), (2L, "bbb", "en", 3L, 12L, 0L),
      (3L, "cccc", "de", 4L, 13L, 1L), (4L, "d", "de", 1L, 14L, 1L))
      .toDF("doc_id", "text", "lang", "n_chars", "u", "shard_id")
    df.repartition(2, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("u"), col("doc_id"))
      .write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    // hand-roll the tombs the way shardTakedown writes them, one per
    // shard — and RECORD them in the manifest (snapshot semantics:
    // an unrecorded file is not part of the snapshot; the unrecorded
    // case is the isolation arm below)
    val codec = new graft.sources.ZstdCodec()
    val hconf = spark.sessionState.newHadoopConf()
    codec.setConf(hconf)
    Seq(0L -> 2L, 1L -> 3L).foreach { case (sh, id) =>
      val (fs, tp) = Layout.hfs(spark, s"$p/shard_id=$sh/tomb-1-$id.jsonl.zst")
      val o = codec.createOutputStream(fs.create(tp, true))
      try { o.write(s"""{"doc_id":$id}""".getBytes("UTF-8")); o.write('\n') }
      finally o.close()
    }
    val (sch0, ents0) = ShardManifest.read(hconf, p).get
    val live = ShardManifest.listDataFiles(hconf, p)
    ShardManifest.write(hconf, p, sch0.get, ents0.map { e =>
      e.copy(rows = e.rows - 1,
        sumChars = e.sumChars.map(_ - (if (e.shardId == 0L) 3L else 4L)),
        minDoc = None, maxDoc = None,
        files = live.toSeq
          .filter(_._1.startsWith(s"shard_id=${e.shardId}/"))
          .map { case (n, l) => graft.sources.ShardFileEnt(n, l) })
    })
    // a read that PRUNES doc_id out must still exclude the rows
    val langs = spark.read.format("graft.sources.ShardSource")
      .option("path", p).load()
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(langs == Set(("en", 2L), ("de", 1L)),
      s"tombstoned rows surfaced through a pruned scan: $langs")
    // ... and the maintained manifest serves the live count, zero files
    val f0 = ShardSource.openedFiles.get()
    val n = spark.read.format("graft.sources.ShardSource")
      .option("path", p).load().agg(count(lit(1))).collect()(0).getLong(0)
    assert(n == 2L && ShardSource.openedFiles.get() == f0)
  }

  test("snapshot isolation: unrecorded files are invisible; a broken snapshot refuses stats") {
    import spark.implicits._
    val p = Layout.warehousePath(spark, Layout.tableName(sfDir, "tdspec3"))
    Layout.deleteWarehouseDir(spark, p)
    val df = Seq((1L, "aa", "en", 2L, 11L, 0L), (2L, "bb", "en", 2L, 12L, 0L))
      .toDF("doc_id", "text", "lang", "n_chars", "u", "shard_id")
    df.repartition(1, col("shard_id"))
      .write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    def src = spark.read.format("graft.sources.ShardSource")
      .option("path", p).load()
    // an ORPHAN part file (a crashed or in-flight writer) — unrecorded,
    // so connector reads and stats both keep answering the snapshot
    val codec = new graft.sources.ZstdCodec()
    val hconf = spark.sessionState.newHadoopConf()
    codec.setConf(hconf)
    val (ofs, op) = Layout.hfs(spark, s"$p/shard_id=0/part-zz-orphan.jsonl.zst")
    val o = codec.createOutputStream(ofs.create(op, true))
    try o.write(
      "{\"doc_id\":9,\"text\":\"x\",\"lang\":\"xx\",\"n_chars\":1,\"u\":9}\n"
        .getBytes("UTF-8"))
    finally o.close()
    assert(src.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "an unrecorded file leaked into a snapshot read")
    val f0 = ShardSource.openedFiles.get()
    assert(src.agg(count(lit(1))).collect()(0).getLong(0) == 2L)
    assert(ShardSource.openedFiles.get() == f0,
      "stats over an intact snapshot must stay metadata-only")
    // ... while a manifest-oblivious json read DOES see the orphan —
    // the isolation is the connector's snapshot semantics, not luck
    val viaJson = spark.read
      .schema("doc_id long, text string, lang string, n_chars long")
      .json(p).count()
    assert(viaJson == 3L)
    // break the snapshot (delete a RECORDED file): stats refuse, and
    // the scan degrades to the physical listing (the orphan included —
    // everything that exists, never a fabrication)
    val recorded = ShardManifest.read(hconf, p).get._2
      .flatMap(_.files.map(_.name)).filter(_.contains("/part-"))
      .filterNot(_.contains("orphan")).head
    val (rfs, rp) = Layout.hfs(spark, s"$p/$recorded")
    rfs.delete(rp, false)
    val r0 = ShardSource.statsRefused.get()
    val got = src.agg(count(lit(1))).collect()(0).getLong(0)
    assert(ShardSource.statsRefused.get() > r0,
      "a broken snapshot must refuse stats pushdown")
    assert(got == 1L, "the degraded read must serve the surviving bytes")
  }

  test("a second takedown composes; the fold restores exact stats") {
    import spark.implicits._
    val p = Layout.warehousePath(spark, Layout.tableName(sfDir, "tdspec2"))
    Layout.deleteWarehouseDir(spark, p)
    val docs = (1L to 40L).map(i =>
      (i, "t" * (i % 5 + 1).toInt, "en", i % 5 + 1, 100L + i))
      .toDF("doc_id", "text", "lang", "n_chars", "u")
    val salt = "tdspec2:"
    val sharded = docs.withColumn("shard_id",
      shiftright(conv(substring(md5(concat(lit(salt),
        col("doc_id").cast(StringType))), 1, 8), 16, 10)
        .cast(LongType), 29))
    sharded.repartition(4, col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("u"), col("doc_id"))
      .write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    val img1 = Pipeline.shardTakedown(spark, p,
      docs.filter(col("doc_id") % 4 === 0).select(col("doc_id")), salt)
    val img2 = Pipeline.shardTakedown(spark, p,
      docs.filter(col("doc_id") % 4 === 1).select(col("doc_id")), salt)
    def census(): Set[(Long, Long)] = spark.read
      .format("graft.sources.ShardSource").option("path", p).load()
      .groupBy(col("shard_id"))
      .agg(sum(abs(col("n_chars"))).as("sc")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (1L to 40L).filter(i => i % 4 != 0 && i % 4 != 1)
      .groupBy { i =>
        import java.security.MessageDigest
        val h = MessageDigest.getInstance("MD5")
          .digest(s"$salt$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h.take(8), 16) >> 29
      }.map { case (sh, is) => (sh, is.map(_ % 5 + 1).sum) }.toSet
    val pre = census()
    assert(pre == expect, s"post-takedown census wrong: $pre vs $expect")
    // fold everything tombstoned; stats become exact and manifest-valid
    graft.sources.ShardLayout.foldShardDirs(spark, p, img1 ++ img2)
    assert(census() == expect, "the fold changed content")
    val hconf = spark.sessionState.newHadoopConf()
    val (sch, entries) = ShardManifest.readValidated(hconf, p).get
    assert(sch.isDefined)
    assert(entries.filter(e => (img1 ++ img2).contains(e.shardId))
      .forall(e => e.minDoc.isDefined && e.maxDoc.isDefined),
      "the fold must restore exact bounds")
    assert(ShardManifest.listDataFiles(hconf, p)
      .keys.forall(!_.split("/")(1).startsWith("tomb-")))
  }
}
