package graft

import org.apache.spark.sql.functions._
import graft.sources.{Layout, ShardManifest, ShardSource}

/** Rollback + named refs (round 19): `rollbackShardLayout` restores a
  * prior generation as a NEW commit (history keeps the bad commits,
  * nothing is copied), and a TAG is a human name pinned to a
  * generation that acts as a vacuum GC ROOT — `VERSION AS OF 'name'`
  * is a retention promise, the Iceberg tag discipline. */
class RollbackRefsSpec extends SparkSpec {

  private def build(tag: String): (String, String) = {
    import spark.implicits._
    val name = Layout.tableName(sfDir, tag)
    val p = Layout.warehousePath(spark, name)
    Layout.deleteWarehouseDir(spark, p)
    def gen(pfx: String, r: Range) = r
      .map(i => (i.toLong, s"$pfx-$i", "en", 4L, i.toLong, (i % 4).toLong))
      .toDF("doc_id", "text", "lang", "n_chars", "u", "shard_id")
      .repartition(4, col("shard_id"))
    gen("a", 1 to 80).write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    gen("b", 81 to 120).write.format("graft.sources.ShardSource")
      .option("path", p).mode("append").save()
    (name, p)
  }

  private def src(p: String) = spark.read
    .format("graft.sources.ShardSource").option("path", p).load()

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("rollback restores the prior generation as a NEW commit; the " +
      "rolled-back-from state stays addressable; stats stay metadata") {
    val (_, p) = build("rbshards")
    val hconf = spark.sessionState.newHadoopConf()
    val g1 = ShardManifest.listGens(hconf, p).map(_._1).min
    val g2 = ShardManifest.currentGen(hconf, p)
    assert(src(p).count() == 120L)
    val g3 = graft.sources.ShardLayout.rollbackShardLayout(spark, p, g1)
    assert(g3 == g2 + 1, "rollback must land as the NEXT generation")
    assert(ShardManifest.currentGen(hconf, p) == g3)
    // the current table IS generation g1's content again
    val ids = src(p).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 80L).toSet)
    // the rolled-back-FROM commit stays auditable
    val g2ids = spark.read.format("graft.sources.ShardSource")
      .option("path", p).option("asOfGen", g2.toString).load()
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(g2ids == (1L to 120L).toSet)
    // the restored snapshot validates — stats pushdown stays
    // metadata-only through the rollback
    val f0 = ShardSource.openedFiles.get()
    val agg = src(p).agg(count(lit(1)), min(col("doc_id")),
      max(col("doc_id"))).collect()(0)
    assert((agg.getLong(0), agg.getLong(1), agg.getLong(2)) ==
      ((80L, 1L, 80L)))
    assert(ShardSource.openedFiles.get() == f0,
      "post-rollback stats must stay metadata-only")
  }

  test("rollback across an OVERWRITE un-retires the restored files " +
      "(the ledger runs backwards) and re-retires the replaced ones") {
    import spark.implicits._
    val (_, p) = build("rwshards")
    val hconf = spark.sessionState.newHadoopConf()
    val gPre = ShardManifest.currentGen(hconf, p)
    // an overwrite RETIRES the 120-row snapshot's files
    (1 to 10).map(i => (1000L + i, s"c-$i", "en", 4L, 1000L + i, (i % 4).toLong))
      .toDF("doc_id", "text", "lang", "n_chars", "u", "shard_id")
      .repartition(4, col("shard_id"))
      .write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    assert(ShardManifest.retiredNames(hconf, p).nonEmpty)
    val gOvr = ShardManifest.currentGen(hconf, p)
    val g3 = graft.sources.ShardLayout.rollbackShardLayout(spark, p, gPre)
    assert(g3 == gOvr + 1)
    // the restored files left the ledger (they are live again), the
    // overwrite's files entered it
    val retired = ShardManifest.retiredNames(hconf, p)
    val curRec = ShardManifest.read(hconf, p).get._2
      .flatMap(_.files.map(_.name)).toSet
    assert(curRec.intersect(retired).isEmpty,
      "a live manifest must never record retired names")
    assert(src(p).count() == 120L)
    assert(ShardManifest.readSnapshot(hconf, p).isDefined,
      "the restored snapshot must validate against the live scope")
    // the overwritten-away state is still addressable until vacuum
    assert(spark.read.format("graft.sources.ShardSource")
      .option("path", p).option("asOfGen", gOvr.toString).load()
      .count() == 10L)
  }

  test("rollback to a never-committed or swept generation fails loudly") {
    val (_, p) = build("rlshards")
    val loud = intercept[Throwable] {
      graft.sources.ShardLayout.rollbackShardLayout(spark, p, 999999L)
    }
    assert(msgs(loud).exists(m => m.contains("not") &&
      (m.contains("readable") || m.contains("committed"))))
  }

  test("a TAG is a GC root: vacuum keeps the tagged generation AND its " +
      "retired files past any horizon; dropping the tag releases them") {
    import spark.implicits._
    val (_, p) = build("rtshards")
    val hconf = spark.sessionState.newHadoopConf()
    val g1 = ShardManifest.listGens(hconf, p).map(_._1).min
    val g2 = ShardManifest.currentGen(hconf, p)
    graft.sources.ShardLayout.tagShardLayout(spark, p, "v1", g1)
    assert(ShardManifest.readRefs(hconf, p) == Map("v1" -> g1))
    // an OVERWRITE retires every pre-existing file — from here only the
    // tag keeps g1's bytes alive
    (1 to 10).map(i => (2000L + i, s"c-$i", "en", 4L, 2000L + i, (i % 4).toLong))
      .toDF("doc_id", "text", "lang", "n_chars", "u", "shard_id")
      .repartition(4, col("shard_id"))
      .write.format("graft.sources.ShardSource")
      .option("path", p).mode("overwrite").save()
    // an everything-past horizon: without the tag g1 and its retired
    // files would sweep (g2 does — it is untagged)
    graft.sources.ShardLayout.vacuumShardLayout(spark, p,
      System.currentTimeMillis() + 60000L)
    assert(ShardManifest.readGenSnapshot(hconf, p, g1).isDefined,
      "the tagged generation must survive an everything-past horizon")
    assert(spark.read.format("graft.sources.ShardSource")
      .option("path", p).option("asOfGen", g1.toString).load()
      .count() == 80L,
      "the tag must keep the generation's RETIRED bytes readable")
    val loudG2 = intercept[Throwable] {
      spark.read.format("graft.sources.ShardSource")
        .option("path", p).option("asOfGen", g2.toString).load().collect()
    }
    assert(msgs(loudG2).exists(m => m.contains("never committed") ||
      m.contains("retention horizon")),
      "the untagged generation expires like any archive")
    // drop the tag — the next vacuum expires it like any archive
    assert(graft.sources.ShardLayout.dropShardTag(spark, p, "v1"))
    graft.sources.ShardLayout.vacuumShardLayout(spark, p,
      System.currentTimeMillis() + 60000L)
    val loud = intercept[Throwable] {
      spark.read.format("graft.sources.ShardSource")
        .option("path", p).option("asOfGen", g1.toString).load().collect()
    }
    assert(msgs(loud).exists(m => m.contains("never committed") ||
      m.contains("retention horizon")))
  }

  test("tag guards: non-numeric names only, addressable generations " +
      "only; the history BUDGET also respects tags") {
    val (_, p) = build("rgshards")
    val hconf = spark.sessionState.newHadoopConf()
    val g1 = ShardManifest.listGens(hconf, p).map(_._1).min
    intercept[IllegalArgumentException] {
      graft.sources.ShardLayout.tagShardLayout(spark, p, "42", g1)
    }
    intercept[IllegalArgumentException] {
      graft.sources.ShardLayout.tagShardLayout(spark, p, "ghost", 999999L)
    }
    assert(!graft.sources.ShardLayout.dropShardTag(spark, p, "no_such"))
    // budget-thinning keeps a tagged generation even at budget 0
    graft.sources.ShardLayout.tagShardLayout(spark, p, "keep", g1)
    graft.sources.ShardLayout.vacuumShardLayout(spark, p, 0L,
      genBudget = Some(0))
    assert(ShardManifest.readGen(hconf, p, g1).isDefined,
      "the history budget must never thin a tagged generation")
  }

  test("the SQL front doors: CALL graft.tag/tags/rollback, and " +
      "VERSION AS OF '<tag>' resolves through the refs ledger") {
    val (name, p) = build("rsshards")
    val hconf = spark.sessionState.newHadoopConf()
    val g1 = ShardManifest.listGens(hconf, p).map(_._1).min
    assert(spark.sql(s"CALL graft.tag('$name', 'prod', $g1)")
      .collect()(0).getLong(0) == g1)
    val tags = spark.sql(s"CALL graft.tags('$name')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags == Map("prod" -> g1))
    val viaTag = spark.sql(
      s"SELECT doc_id FROM graft.`$name` VERSION AS OF 'prod'")
      .collect().map(_.getLong(0)).toSet
    assert(viaTag == (1L to 80L).toSet)
    val loud = intercept[Throwable] {
      spark.sql(s"SELECT * FROM graft.`$name` VERSION AS OF 'ghost'")
        .collect()
    }
    assert(msgs(loud).exists(_.contains("no such tag")))
    val newGen = spark.sql(s"CALL graft.rollback('$name', $g1)")
      .collect()(0).getLong(0)
    assert(ShardManifest.currentGen(hconf, p) == newGen)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$name`")
      .collect()(0).getLong(0) == 80L)
    assert(spark.sql(s"CALL graft.drop_tag('$name', 'prod')")
      .collect()(0).getLong(0) == 1L)
  }
}
