package graft

import org.apache.spark.sql.functions._
import graft.sources.{Layout, ShardManifest, ShardSource}

/** q177 — the generation diff (`option("sinceGen", g)`): the
  * incremental batch read between two committed snapshots, plus its
  * interactions with the other delivery verbs — tombstones that land
  * AFTER the base generation apply to the diff, and a fold's
  * rewritten files re-deliver (file-level semantics, shared with the
  * q170 stream — keyed consumers absorb re-delivery). */
class GenerationDiffSpec extends SparkSpec {

  private def u = conv(substring(md5(concat(lit("gds:"),
    col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")

  private def sharded(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("u", u)
    .withColumn("shard_id", org.apache.spark.sql.functions
      .shiftright(col("u"), 29))
    .repartition(8, col("shard_id"))

  private def base(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"t-$i", "en", 4L))
      .toDF("doc_id", "text", "lang", "n_chars")
  }

  test("the diff equals the delta; a takedown between the commits " +
      "is applied to it; the diff of a fold re-delivers the fold") {
    val p = Layout.warehousePath(spark, Layout.tableName(sfDir, "gdsshards"))
    Layout.deleteWarehouseDir(spark, p)
    val hconf = spark.sessionState.newHadoopConf()
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Long = {
      sharded(df).write.format("graft.sources.ShardSource")
        .option("path", p).mode(mode).save()
      ShardManifest.currentGen(hconf, p)
    }
    def since(g: Long) = spark.read.format("graft.sources.ShardSource")
      .option("path", p).option("sinceGen", g.toString).load()
    val g1 = write(base(200).filter(col("doc_id") <= 100), "overwrite")
    val g2 = write(base(200).filter(col("doc_id") > 100), "append")
    // plain diff: exactly the delta
    assert(since(g1).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet == (101L to 200L).toSet)
    // a takedown AFTER the append tombstones part of the delta — the
    // g1-based diff must exclude those rows (an exclusion is never
    // scoped to the files it arrived with)
    import spark.implicits._
    graft.operators.Pipeline.shardTakedown(spark, p,
      (150L to 160L).toDF("doc_id"), "gds:")
    val g3 = ShardManifest.currentGen(hconf, p)
    assert(g3 > g2, "the takedown must commit its own generation")
    assert(since(g1).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet ==
      ((101L to 200L).toSet -- (150L to 160L).toSet))
    // ... and the diff AGAINST the takedown's own generation is empty
    // (tomb files are not data files)
    assert(since(g3).count() == 0L)
    // a fold rewrites every shard: the post-fold diff against g3
    // re-delivers the whole LIVE corpus as new files — file-level
    // semantics, absorbed downstream by keyed upserts (q170)
    graft.sources.ShardLayout.foldShardDirs(spark, p, (0L until 8L).toSet)
    assert(since(g3).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet ==
      ((1L to 200L).toSet -- (150L to 160L).toSet))
    // the fold rewrote the base files too, so the g1 diff now
    // re-delivers the whole live corpus — every live row sits in a
    // file newer than g1
    val g1Diff = since(g1).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(g1Diff == ((1L to 200L).toSet -- (150L to 160L).toSet),
      "after a full fold every live row is in files newer than g1")
  }

  test("time-travel STATS answer from the archived generation's manifest " +
      "(asOfGen pushdown), and fail loudly past the horizon") {
    val p = Layout.warehousePath(spark, Layout.tableName(sfDir, "ttsshards"))
    Layout.deleteWarehouseDir(spark, p)
    val hconf = spark.sessionState.newHadoopConf()
    sharded(base(100)).write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    val g1 = ShardManifest.currentGen(hconf, p)
    sharded(base(40)).write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    def asOf(g: Long) = spark.read.format("graft.sources.ShardSource")
      .option("path", p).option("asOfGen", g.toString).load()
    // the live count answers from the current manifest; the asOf count
    // answers from the ARCHIVED one — both metadata-only
    val f0 = ShardSource.openedFiles.get()
    val m0 = ShardSource.manifestReads.get()
    val live = spark.read.format("graft.sources.ShardSource")
      .option("path", p).load().agg(count(lit(1))).collect()(0).getLong(0)
    val old = asOf(g1).agg(count(lit(1))).collect()(0).getLong(0)
    assert((live, old) == ((40L, 100L)))
    assert(ShardSource.openedFiles.get() == f0,
      "both counts must be metadata-only")
    assert(ShardSource.manifestReads.get() >= m0 + 2)
    // past the horizon the time-travel STATS path refuses and the scan
    // path fails loudly — never a partial answer
    graft.sources.ShardLayout.vacuumShardLayout(spark, p,
      System.currentTimeMillis() + 60000L)
    val loud = intercept[Throwable] {
      asOf(g1).agg(count(lit(1))).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(loud).exists(_.contains("retention horizon")))
  }
}
