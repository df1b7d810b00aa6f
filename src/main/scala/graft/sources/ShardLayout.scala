package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The shard table format's lifecycle verbs, next to the connector
  * ([[ShardSource]]) that reads and writes the layout and the
  * manifest ([[ShardManifest]]) that records it: the fold and upsert
  * rewrite, the tombstone takedown, vacuum, tags, rollback, repair,
  * maintenance and history. Every verb that re-derives manifest lines
  * reads through one reader ([[liveRows]]) and one per-shard rescan
  * ([[shardStats]], [[withStats]]). */
private[graft] object ShardLayout {

  /** Shards per epoch of the q156 deterministic shuffle. At 100 TB the
    * count is thousands (sized to shard-file targets); the mechanics —
    * a keyed hash to a uniform 32-bit position, fixed range boundaries,
    * no sampling pass and no global sort — are count-independent. */
  val EpochShards = 8

  /** Write `df` to the shard layout at `path` through the connector. */
  def writeShards(df: DataFrame, path: String, mode: String): Unit =
    df.write.format("graft.sources.ShardSource")
      .option("path", path).mode(mode).save()

  /** Read the shard layout at `path` through the connector: the live
    * snapshot, or generation `asOfGen` (time travel), or only the rows
    * committed after generation `sinceGen` (the change feed). */
  def readShards(s: SparkSession, path: String, asOfGen: Option[Long] = None,
      sinceGen: Option[Long] = None): DataFrame =
    s.read.format("graft.sources.ShardSource").option("path", path)
      .options(asOfGen.map("asOfGen" -> _.toString).toMap ++
        sinceGen.map("sinceGen" -> _.toString))
      .load()

  /** The layout's own schema (the manifest header — an evolved layout
    * carries ALL its columns), canonical fallback. */
  private def layoutSchema(conf: Configuration, path: String): StructType =
    ShardManifest.read(conf, path).flatMap(_._1).getOrElse(ShardSource.Schema)

  /** The rows of the layout-relative data files `names` under `path`,
    * raw and live: each part-file row carries the `shard_id` of the
    * DIRECTORY it was read from (never re-derived from a formula — a
    * rewrite must preserve the layout, whatever sharding produced it),
    * and the live rows lose the doc ids of the tombstone files among
    * `names`. */
  private def liveRows(s: SparkSession, path: String, schema: StructType,
      names: Seq[String]): (DataFrame, DataFrame) = {
    def of(kind: String => Boolean): Seq[String] =
      names.filter(kind).sorted.map(n => s"$path/$n")
    val tombPaths = of(ShardManifest.isTomb)
    val raw = s.read.schema(StructType(schema.fields.filter(_.name != "shard_id")))
      .json(of(ShardManifest.isPart): _*)
      .withColumn("shard_id", regexp_extract(input_file_name(),
        "shard_id=(\\d+)", 1).cast(LongType))
    val live =
      if (tombPaths.isEmpty) raw
      else raw.join(s.read.schema("doc_id long").json(tombPaths: _*),
        Seq("doc_id"), "left_anti")
    (raw, live)
  }

  /** The per-shard rescan every manifest rewrite derives its lines
    * from, one aggregate over `rows` grouped by `shard_id`: `rows`, the
    * mass `sc` (0 when no row holds one) when the layout carries
    * n_chars, the id bounds `mn`/`mx` when it carries doc_id, and a
    * null count `z_<col>` per data column. With `keep` (a takedown's
    * survivors) every figure counts only the rows it holds; `extra`
    * aggregates ride the same pass. One row per shard that has rows. */
  private def shardStats(rows: DataFrame, dataNames: Seq[String],
      keep: Option[Column] = None, extra: Seq[Column] = Nil): Map[Long, Row] = {
    def kept(c: Column): Column = keep.fold(c)(when(_, c))
    val aggCols = extra ++ Seq(count(kept(lit(1))).as("rows")) ++
      (if (dataNames.contains("n_chars"))
        Seq(coalesce(sum(kept(col("n_chars"))), lit(0L)).as("sc")) else Nil) ++
      (if (dataNames.contains("doc_id"))
        Seq(min(kept(col("doc_id"))).as("mn"), max(kept(col("doc_id"))).as("mx"))
      else Nil) ++
      dataNames.map(f => sum(when(keep.fold(col(f).isNull)(_ && col(f).isNull), 1L)
        .otherwise(0L)).as(s"z_$f"))
    rows.groupBy(col("shard_id")).agg(aggCols.head, aggCols.tail: _*)
      .collect() // bounded: shards
      .map(r => r.getLong(0) -> r).toMap
  }

  /** One figure of a [[shardStats]] row: None when the layout lacks the
    * column or no row held a value. */
  private def stat(r: Row, n: String): Option[Long] =
    if (r.schema.fieldNames.contains(n) && !r.isNullAt(r.fieldIndex(n)))
      Some(r.getLong(r.fieldIndex(n))) else None

  /** `e` carrying the rows, mass, bounds and null counts of its
    * [[shardStats]] row. */
  private def withStats(e: ShardEnt, r: Row, dataNames: Seq[String]): ShardEnt =
    e.copy(rows = r.getAs[Long]("rows"), sumChars = stat(r, "sc"),
      minDoc = stat(r, "mn"), maxDoc = stat(r, "mx"),
      nulls = Some(dataNames.map(f => f -> r.getAs[Long](s"z_$f")).toMap))

  /** Fold the named shards back to one file each (the q165/q168
    * compaction move), VERSIONED: read only the crossed
    * shards' snapshot files, rewrite them to a temp layout, rename the
    * folded files INTO the live shard directories under fresh names,
    * then — inside the layout's commit lock — archive the outgoing
    * manifest as a generation, swap in a manifest whose crossed lines
    * carry the folded files + recomputed stats (tombstones
    * MATERIALIZED: the fold restores the exact bounds and null counts
    * a takedown had invalidated; a fully-tombstoned shard's line
    * DROPS), and RETIRE the replaced files into the ledger. No
    * directory is ever renamed or absent, and the replaced bytes stay
    * on disk until the vacuum horizon — a mid-read loader holding the
    * pre-fold snapshot finishes against its own files. On a
    * manifest-less layout the fold still retires the old files (the
    * live listing is the ledger-scoped physical view), with a brief
    * window where a listing reader sees both copies — degraded, never
    * a crash. */
  private[graft] def foldShardDirs(s: SparkSession, path: String,
      crossed: Set[Long], targetFileBytes: Option[Long] = None): Unit =
    rewriteShards(s, path, crossed, identity, targetFileBytes)

  /** The COPY-ON-WRITE shard rewrite under the versioned commit
    * discipline — the shared machinery of the FOLD (patch = identity:
    * files collapse, content invariant) and the UPSERT
    * ([[shardUpsertAt]]: rows replaced). Reads only the crossed shards'
    * snapshot files (tombstones materialized), applies `patch`,
    * rewrites those shards, renames the files into the live dirs, and
    * — inside the commit lock — swaps a manifest whose crossed lines
    * carry the new files + recomputed stats/nulls, retiring the
    * replaced files into a retained generation. */
  private[graft] def rewriteShards(s: SparkSession, path: String,
      crossed: Set[Long], patch: DataFrame => DataFrame,
      targetFileBytes: Option[Long] = None): Unit = {
    val tmp = s"${path}__fold"
    Layout.deleteWarehouseDir(s, tmp)
    val hconf = s.sessionState.newHadoopConf()
    // file selection is SNAPSHOT-scoped (the manifest's recorded files
    // when intact, the ledger-scoped live listing otherwise) — never
    // the raw physical listing, which under retention still holds
    // replaced generations' bytes
    val snapshotFiles: Seq[String] =
      ShardManifest.readSnapshot(hconf, path) match {
        case Some((_, entries)) =>
          entries.filter(e => crossed.contains(e.shardId))
            .flatMap(_.files.map(_.name))
        case None => ShardManifest.listDataFiles(hconf, path).keys.toSeq
          .filter(n => crossed.contains(ShardManifest.shardOf(n)))
      }
    val (_, live) = liveRows(s, path, layoutSchema(hconf, path), snapshotFiles)
    val dataNames = live.columns.toSeq.filter(_ != "shard_id")
    val sortCols = Seq("shard_id") ++
      Seq("u", "doc_id").filter(dataNames.contains)
    val crossedDf = patch(live)
      .repartition(EpochShards, col("shard_id"))
      .sortWithinPartitions(sortCols.map(col): _*)
    // with a roll budget the temp layout writes through the CONNECTOR
    // (the same rolling writer commits use — bounded -rNNN files, each
    // with its own zone map); default stays the one-file-per-shard
    // partitionBy write every standing gate pins
    targetFileBytes match {
      case Some(t) =>
        crossedDf.write.format("graft.sources.ShardSource")
          .option("path", tmp).option("targetFileBytes", t.toString)
          .mode("overwrite").save()
      case None =>
        crossedDf.write.mode("overwrite").partitionBy("shard_id")
          .option("compression", classOf[ZstdCodec].getName).json(tmp)
    }
    // per-FILE zone maps of the rolled temp files — served by the temp
    // layout's own manifest (the rolling writer recorded them); the
    // budget-less path keeps deriving the single file's bounds from
    // the folded stats below
    val rolledBounds: Map[String, (Option[Long], Option[Long])] =
      if (targetFileBytes.isEmpty) Map.empty
      else ShardManifest.read(hconf, tmp).toSeq
        .flatMap(_._2.flatMap(_.files))
        .map(f => f.name -> ((f.minDoc, f.maxDoc))).toMap
    // the folded shards' stats recomputed from what was written
    // (O(crossed rows); for tomb-less folds identical to the carried
    // lines, for takedowns it RESTORES the facts the tombstones had
    // invalidated)
    val folded = shardStats(crossedDf, dataNames)
    // land the folded files into the LIVE dirs under their (job-unique)
    // names — pure metadata renames, no directory swap, no absent
    // window; an emptied (fully-tombstoned) shard simply lands nothing
    val foldedFiles: Map[Long, Seq[ShardFileEnt]] =
      crossed.toSeq.sorted.map { sh =>
        val names = Layout.listWarehouseNames(s, s"$tmp/shard_id=$sh")
          .filter(ShardManifest.isPart).sorted
        // a fold lands one file per shard (repartition by shard_id),
        // so the shard's recomputed bounds ARE the file's zone map
        val bounds = folded.get(sh)
          .flatMap(r => for (mn <- stat(r, "mn"); mx <- stat(r, "mx")) yield (mn, mx))
          .filter(_ => names.size == 1)
        val ents = names.map { f =>
          val (fs, from) = Layout.hfs(s, s"$tmp/shard_id=$sh/$f")
          val to = new org.apache.hadoop.fs.Path(s"$path/shard_id=$sh/$f")
          fs.rename(from, to)
          val (mn, mx) = rolledBounds.getOrElse(s"shard_id=$sh/$f",
            (bounds.map(_._1), bounds.map(_._2)))
          ShardFileEnt(s"shard_id=$sh/$f", fs.getFileStatus(to).getLen, mn, mx)
        }
        sh -> ents
      }.toMap
    ShardSource.withCommitLock(path) {
      ShardManifest.read(hconf, path) match {
        case Some((sch, entries)) =>
          val updated = entries.flatMap { e =>
            if (crossed.contains(e.shardId)) {
              folded.get(e.shardId).map(r => withStats(e, r, dataNames)
                .copy(files = foldedFiles.getOrElse(e.shardId, Seq.empty)))
              // emptied shard: no folded stats -> entry dropped
            } else Some(e)
          }
          ShardManifest.write(hconf, path,
            sch.getOrElse(ShardSource.Schema), updated)
        case None => ()
      }
      // retire the pre-fold files (bytes retained until vacuum)
      ShardManifest.retire(hconf, path, snapshotFiles)
    }
    Layout.deleteWarehouseDir(s, tmp)
  }

  /** The UPSERT core (the query layer's salted wrapper derives `rows`'
    * shard_id and the shard set `image`): the shards `image` rewritten
    * ([[rewriteShards]]) with `rows`' doc ids anti-joined out and
    * `rows` — the layout's columns plus shard_id — unioned in. */
  private[graft] def shardUpsertAt(s: SparkSession, path: String,
      rows: DataFrame, image: Set[Long]): Unit =
    rewriteShards(s, path, image, live =>
      live.join(broadcast(rows.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
        .unionByName(rows.select(live.columns.map(col): _*)))

  /** The delivery-layer GC:
    * expire archived generations and sweep unprotected bytes past an
    * explicit horizon — the `expire_snapshots` + `remove_orphan_files`
    * discipline applied to the layout.
    *
    *  - REFUSES (loudly, touching nothing) unless the current manifest
    *    exists and records a non-empty file set — the table-format
    *    rule that GC requires a readable log: with no manifest the
    *    "protected" set would be empty and every live byte past the
    *    horizon would read as sweepable, a total-data-loss maintenance
    *    verb on exactly the degrade state (sidecar drop after racing
    *    appends, raw legacy layout) the framework deliberately enters.
    *    Run [[repairShardManifest]] first — [[maintainShardLayout]]
    *    already does;
    *  - an archived generation manifest whose mtime < `horizonMs` is
    *    DROPPED (its `asOfGen` readers fail loudly from then on) —
    *    except the CURRENT generation's own archive file, which stays
    *    addressable as long as it is current; `genBudget` additionally
    *    thins history at streaming cadence: beyond the newest
    *    `genBudget` surviving generations, older archives drop even
    *    inside the horizon (a per-drain commit cadence accumulates
    *    thousands of tiny manifests between horizon-based vacuums);
    *  - an ORPHANED CLAIM — a generation file NEWER than the current
    *    generation, left by a commit that claimed its slot but crashed
    *    before the live swap — drops by the same horizon rule (never
    *    younger than the horizon: it may be a racing commit mid-swap),
    *    restoring liveness to the claim CAS (a new commit on the same
    *    base would otherwise collide with the dead claim forever);
    *  - a physical DATA file is SWEPT iff it is older than the horizon
    *    AND protected by nothing — not recorded by the current
    *    manifest, not by any surviving generation — so either a
    *    retired file whose generations all expired or an orphan a
    *    crashed task left behind;
    *  - a TOMBSTONE file is held to a STRICTER rule: an exclusion that
    *    no surviving generation records is swept only if some EXPIRED
    *    generation or the retired ledger recorded it (its exclusion is
    *    already materialized or superseded). An out-of-band tombstone
    *    — recorded NOWHERE — is never swept: deleting an unapplied
    *    exclusion resurrects taken-down rows. Repair first ([[repairShardManifest]] adopts it),
    *    then vacuum;
    *  - the retired ledger re-writes to exactly the still-existing
    *    retired names.
    *
    * Returns (swept files, dropped generations). The horizon guards
    * in-flight writers the way every object-store GC does: a file
    * younger than it is never touched, recorded or not.
    *
    * Scale: one listing pass + O(generations) manifest reads — no data
    * bytes are ever opened; at 100 TB this is the same O(metadata)
    * job `expire_snapshots` is. */
  private[graft] def vacuumShardLayout(s: SparkSession, path: String,
      horizonMs: Long, genBudget: Option[Int] = None): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    ShardSource.withCommitLock(path) {
      val hconf = s.sessionState.newHadoopConf()
      val current = ShardManifest.read(hconf, path)
      val currentRec = current
        .map(_._2.flatMap(_.files.map(_.name)).toSet).getOrElse(Set.empty)
      require(current.isDefined && currentRec.nonEmpty,
        s"vacuumShardLayout($path): refusing to sweep — the current " +
          "manifest is absent or records no files, so nothing would be " +
          "protected and every live byte past the horizon would be " +
          "deleted. Rebuild the log first (repairShardManifest), then " +
          "vacuum")
      val cur = ShardManifest.currentGen(hconf, path)
      val gens = ShardManifest.listGens(hconf, path)
      // a TAGGED generation is a GC root: neither the
      // horizon nor the history budget expires it, and its recorded
      // files stay protected — `VERSION AS OF '<tag>'` is a retention
      // promise, not a hint
      val refGens = ShardManifest.readRefs(hconf, path).values.toSet
      val (expired, inHorizon) =
        gens.filter(g => g._1 != cur && !refGens.contains(g._1))
          .partition(_._2 < horizonMs)
      // history budget: keep the NEWEST genBudget surviving archives
      val overBudget = genBudget match {
        case Some(b) => inHorizon.sortBy(-_._1).drop(b)
        case None    => Seq.empty
      }
      val drop = expired ++ overBudget
      val keep = gens.filter(_._1 != cur).filterNot(drop.contains)
      // which names each DROPPED generation recorded — the fact the
      // tombstone sweep rule needs (read BEFORE deleting the archives)
      def recorded(gs: Seq[(Long, Long)]): Set[String] = gs.flatMap { case (g, _) =>
        ShardManifest.readGen(hconf, path, g).toSeq
          .flatMap(_._2.flatMap(_.files.map(_.name)))
      }.toSet
      val droppedRec = recorded(drop)
      val protectedNames = currentRec ++ recorded(keep)
      val retired = ShardManifest.retiredNames(hconf, path)
      val (fs, _) = Layout.hfs(s, path)
      drop.foreach { case (g, _) =>
        fs.delete(ShardManifest.genPath(path, g), false)
        fs.delete(ShardManifest.claimMarker(path, g), true)
      }
      // claim debris: a marker whose slot was never materialized (a
      // commit that claimed and crashed) holds its generation number
      // hostage — clear it past the horizon, restoring liveness to
      // the slot (a marker younger than the horizon may be a racing
      // commit mid-materialize and is never touched)
      val gd = ShardManifest.genDir(path)
      if (fs.exists(gd)) fs.listStatus(gd).foreach { st =>
        val nm = st.getPath.getName
        if (nm.startsWith(".claim-") && st.getModificationTime < horizonMs &&
            scala.util.Try(nm.stripPrefix(".claim-").toLong).toOption.exists(
              g => !fs.exists(ShardManifest.genPath(path, g))))
          fs.delete(st.getPath, true)
      }
      val all = ShardManifest.listAllFiles(hconf, path)
      val swept = all.collect {
        case (n, (_, mtime))
            if !protectedNames.contains(n) && mtime < horizonMs &&
              (!ShardManifest.isTomb(n) ||
                droppedRec.contains(n) || retired.contains(n)) =>
          fs.delete(new Path(new Path(path), n), false)
          n
      }.toSeq
      val remaining = ShardManifest.listAllFiles(hconf, path).keySet
      ShardManifest.rewriteRetired(hconf, path,
        retired.intersect(remaining))
      (swept.size.toLong, drop.size.toLong)
    }
  }

  /** TAG a generation with a name (the refs ledger):
    * `VERSION AS OF '<name>'` then resolves to it, and the tag is a
    * GC ROOT — [[vacuumShardLayout]] never expires a tagged
    * generation and keeps its recorded files on disk, so the tag is a
    * retention promise (the Iceberg tag discipline). Metadata only:
    * one ledger line, no bytes move. The name must not parse as a
    * number (numbers address generations directly) and the generation
    * must be addressable NOW — tagging a never-committed or
    * already-swept snapshot fails loudly rather than minting a
    * dangling promise. Re-tagging an existing name moves it. */
  private[graft] def tagShardLayout(s: SparkSession, path: String,
      name: String, gen: Long): Unit = {
    require(name.nonEmpty && scala.util.Try(name.trim.toLong).isFailure,
      s"tagShardLayout($path): tag name '$name' must be non-empty and " +
        "non-numeric (numeric versions address generations directly)")
    ShardSource.withCommitLock(path) {
      val hconf = s.sessionState.newHadoopConf()
      require(ShardManifest.readGen(hconf, path, gen).isDefined,
        s"tagShardLayout($path): generation $gen is not addressable — " +
          "it was never committed, or its manifest was swept past the " +
          "retention horizon (vacuumShardLayout)")
      ShardManifest.writeRefs(hconf, path,
        ShardManifest.readRefs(hconf, path) + (name -> gen))
    }
  }

  /** Drop a tag — the generation it named re-enters the ordinary
    * horizon/budget retention on the next vacuum. Returns false when
    * the tag did not exist. */
  private[graft] def dropShardTag(s: SparkSession, path: String,
      name: String): Boolean = {
    ShardSource.withCommitLock(path) {
      val hconf = s.sessionState.newHadoopConf()
      val refs = ShardManifest.readRefs(hconf, path)
      if (!refs.contains(name)) false
      else { ShardManifest.writeRefs(hconf, path, refs - name); true }
    }
  }

  /** ROLLBACK the layout to a prior generation: a NEW
    * commit whose body is the target snapshot's — the bad commits
    * stay in history (addressable, auditable), the table's CURRENT
    * state is the old one again, and nothing is copied (the target's
    * bytes are still on disk under retention; rollback past the
    * vacuum horizon fails loudly). The ledger maintenance is the
    * overwrite discipline run backwards: the target's files leave the
    * retired ledger BEFORE the manifest swap (an unrecorded live data
    * file is invisible to snapshot reads — safe), and the
    * rolled-back-from files retire AFTER it; a crash between leaves
    * extra live bytes, never a hybrid snapshot. Returns the new
    * current generation. Scale: O(metadata) — two manifest reads, two
    * ledger rewrites, zero data bytes. */
  private[graft] def rollbackShardLayout(s: SparkSession, path: String,
      gen: Long): Long = {
    ShardSource.withCommitLock(path) {
      val hconf = s.sessionState.newHadoopConf()
      val (tschema, tentries) =
        ShardManifest.readGenSnapshot(hconf, path, gen).getOrElse(
          throw new IllegalStateException(
            s"rollbackShardLayout($path): generation $gen is not " +
              "readable — it was never committed, or its files were " +
              "swept past the retention horizon (vacuumShardLayout)"))
      val targetNames = tentries.flatMap(_.files.map(_.name)).toSet
      val curGen = ShardManifest.currentGen(hconf, path)
      val curRec = ShardManifest.read(hconf, path)
        .map(_._2.flatMap(_.files.map(_.name)).toSet)
        .getOrElse(ShardManifest.listDataFiles(hconf, path).keySet)
      // un-retire the restored files first: until the manifest swap
      // they are merely unrecorded live bytes (invisible to snapshot
      // reads), but a swapped manifest must never record retired names
      ShardManifest.rewriteRetired(hconf, path,
        ShardManifest.retiredNames(hconf, path) -- targetNames)
      ShardManifest.write(hconf, path, tschema.getOrElse(
        ShardSource.Schema), tentries,
        expectedBase = Some(curGen))
      ShardManifest.retire(hconf, path, curRec -- targetNames)
      curGen + 1
    }
  }

  /** The delivery-layer REPAIR:
    * rebuild a broken statistics manifest by RESCAN — rows, mass,
    * bounds and per-column null counts re-derived from the live bytes
    * themselves (the foldShardDirs recompute applied to the whole
    * layout), tombstones applied and then RECORDED, so an out-of-band
    * takedown (an unrecorded tombstone, which breaks the snapshot)
    * is ADOPTED rather than ignored. Returns
    * false when the snapshot is already intact (nothing to repair).
    *
    * The rescan's scope is the LIVE listing (physical minus the
    * retired ledger) — a retained generation's bytes are never
    * resurrected into the current table. Orphan part files an
    * uncommitted task left behind ARE adopted (they exist and are not
    * retired — "everything that exists, never a fabrication", the
    * same rule the degraded read path applies); run the vacuum first
    * when orphan PART files must not survive into the repaired
    * snapshot. For an OUT-OF-BAND TAKEDOWN (an unrecorded tombstone)
    * the order is REPAIR THEN VACUUM: repair adopts the exclusion into
    * the manifest; the vacuum's tombstone rule refuses to sweep an
    * unrecorded tombstone either way, but
    * only the repair makes the exclusion part of the snapshot.
    *
    * Scale: O(live bytes) — a repair is a deliberate table-rebuild
    * job, the one verb here that reads data; everything else in the
    * lifecycle stays O(metadata). */
  private[graft] def repairShardManifest(s: SparkSession,
      path: String): Boolean = {
    ShardSource.withCommitLock(path) {
      val hconf = s.sessionState.newHadoopConf()
      if (ShardManifest.readSnapshot(hconf, path).isDefined) false
      else {
      val listed = ShardManifest.listDataFiles(hconf, path)
      val schema = layoutSchema(hconf, path)
      val (raw, rows) = liveRows(s, path, schema, listed.keys.toSeq)
      val dataNames = raw.columns.toSeq.filter(_ != "shard_id")
      // per-FILE zone maps, rebuilt from the bytes (pre-tombstone —
      // wider than live is sound for skipping, narrower never happens)
      val fileBounds: Map[String, (Long, Long)] =
        if (!dataNames.contains("doc_id") ||
            !listed.keys.exists(ShardManifest.isPart)) Map.empty
        else raw
          .groupBy(regexp_extract(input_file_name(),
            "(shard_id=\\d+/[^/]+)$", 1).as("f"))
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .collect().flatMap { r =>
            if (r.isNullAt(1) || r.isNullAt(2)) None
            else Some(r.getString(0) -> (r.getLong(1), r.getLong(2)))
          }.toMap // bounded: files
      val stats = shardStats(rows, dataNames)
      val entries = listed.toSeq.groupBy { case (n, _) => ShardManifest.shardOf(n) }
        .toSeq.sortBy(_._1).map { case (sh, fs) =>
          val files = fs.map { case (n, l) => ShardFileEnt(n, l,
            fileBounds.get(n).map(_._1), fileBounds.get(n).map(_._2)) }
          // every row tombstoned (no stats row): a zero-row line keeps
          // the files recorded and the stats reader skips it
          val empty = ShardEnt(sh, 0L, Some(0L), None, None, files)
          stats.get(sh).fold(empty)(withStats(empty, _, dataNames))
        }
      ShardManifest.write(hconf, path, schema, entries)
      true
      }
    }
  }

  /** The layout's MAINTENANCE verb — `OPTIMIZE` for the delivery
    * layer: one call that (1) REPAIRS the manifest if its snapshot
    * broke (rescan — [[repairShardManifest]]), (2) decides the fold
    * set from MANIFEST METADATA ALONE (a shard needs maintenance when
    * it holds ≥ 2 data files or any tombstone — fragmentation or
    * merge-on-read debt), (3) folds exactly those shards
    * ([[foldShardDirs]] — tombstones materialized, stats/nulls
    * restored), and (4) expires history past the caller's horizon
    * ([[vacuumShardLayout]]). Returns (folded shards, swept files,
    * dropped generations).
    *
    * Scale: the DECISION is O(shards) metadata — a 100 TB catalog's
    * nightly maintenance job reads manifests, not corpora; data I/O
    * is confined to the shards the policy names (and the repair
    * rescan only when something actually broke). */
  private[graft] def maintainShardLayout(s: SparkSession, path: String,
      horizonMs: Long,
      targetFileBytes: Option[Long] = None): (Set[Long], Long, Long) = {
    val hconf = s.sessionState.newHadoopConf()
    if (ShardManifest.readSnapshot(hconf, path).isEmpty)
      repairShardManifest(s, path)
    // the maintenance policy under a ROLL BUDGET: several
    // size-bounded files per shard is the HEALTHY state (the ≥2-files
    // fragmentation clause would re-fold a freshly rolled shard
    // forever), so with a budget a shard needs maintenance iff it
    // carries tombstone debt OR a file whose ON-DISK length exceeds
    // 2× the (uncompressed-text) budget — compression only shrinks,
    // so such a file is certainly over-budget: the conservative
    // trigger that re-lands legacy monoliths as rolled continuations.
    // The budget-less policy is unchanged.
    val crossed = ShardManifest.readSnapshot(hconf, path) match {
      case Some((_, entries)) => entries.filter { e =>
        val tombs = e.tombs.nonEmpty
        targetFileBytes match {
          case Some(t) => tombs || e.parts.exists(_.len > 2 * t)
          case None => tombs || e.parts.size >= 2
        }
      }.map(_.shardId).toSet
      case None => Set.empty[Long]
    }
    if (crossed.nonEmpty) foldShardDirs(s, path, crossed, targetFileBytes)
    val (sweptF, sweptG) = vacuumShardLayout(s, path, horizonMs)
    (crossed, sweptF, sweptG)
  }

  /** The layout's COMMIT HISTORY as a relation (the `DESCRIBE
    * HISTORY` verb of the table-format analogy): one row per
    * addressable generation — archived snapshots plus the current one
    * — with the facts its manifest carries: row count, shard count
    * (zero-row lines excluded: an emptied shard serves no group),
    * data-file count, and whether the generation is current. Pure
    * metadata: O(generations) manifest reads, no data bytes. */
  private[graft] def shardLayoutHistory(s: SparkSession,
      path: String): DataFrame = {
    import s.implicits._
    val hconf = s.sessionState.newHadoopConf()
    val cur = ShardManifest.currentGen(hconf, path)
    val gens = (ShardManifest.listGens(hconf, path).map(_._1) ++
      (if (cur > 0) Seq(cur) else Nil)).distinct.sorted
    gens.flatMap { g =>
      ShardManifest.readGen(hconf, path, g).map { case (_, entries) =>
        val live = entries.filter(_.rows > 0)
        (g, live.map(_.rows).sum, live.size.toLong,
          ShardManifest.recordedParts(entries).size.toLong,
          if (g == cur) 1L else 0L)
      }
    }.toDF("gen", "n_rows", "n_shards", "n_files", "is_current")
  }

  /** The takedown core against an EXPLICIT candidate shard set — the
    * salt wrapper derives it from the hash formula; the SQL `DELETE
    * FROM` route derives it from the manifest's shard zone maps (any
    * shard whose recorded id range could hold a victim). A candidate
    * shard with no matching rows is read but untouched. */
  private[graft] def shardTakedownAt(s: SparkSession, path: String,
      tombIds: DataFrame, image: Set[Long]): Set[Long] = {
    val hconf = s.sessionState.newHadoopConf()
    if (image.isEmpty) return Set.empty
    // ONE pass over the image shards: removed ids collected (enveloped
    // below), survivor statistics recomputed — per-column null counts
    // included, over the layout's full (union) schema: a column an era
    // never carried reads NULL and counts as such, exactly the
    // missing-field rule the data path applies
    val src = readShards(s, path)
    val dataCols = src.schema.fieldNames.toSeq.filter(_ != "shard_id")
    val marked = src
      .filter(col("shard_id").isin(image.toSeq.map(Long.box): _*))
      .join(broadcast(tombIds.select(col("doc_id"),
        lit(true).as("_rm"))), Seq("doc_id"), "left")
    val keep = col("_rm").isNull
    // bounded: image shards (removed lists enveloped)
    val stats = shardStats(marked, dataCols, Some(keep),
      Seq(collect_list(when(!keep, col("doc_id"))).as("rmids")))
    def removedOf(r: Row): Seq[Long] =
      r.getSeq[Long](r.fieldIndex("rmids"))
    val totalRemoved = stats.valuesIterator.map(removedOf(_).size).sum
    require(totalRemoved <= Layout.massDeleteKeys(s).toInt,
      s"takedown of $totalRemoved rows exceeds the delivery envelope " +
        s"(${Layout.massDeleteKeys(s)}) — route a mass takedown through a " +
        "re-export, not tombstones")
    val codec = new ZstdCodec()
    codec.setConf(hconf)
    val tombNames = stats.collect {
      case (sh, r) if removedOf(r).nonEmpty =>
        val ids = removedOf(r)
        // content-derived name: distinct takedowns land distinct files
        val tag = java.lang.Long.toHexString(ids.sum + ids.length)
        val name = f"shard_id=$sh%d/${ShardManifest.TombPrefix}${ids.length}%05d-$tag.jsonl.zst"
        val (fs, p) = Layout.hfs(s, s"$path/$name")
        val out = codec.createOutputStream(fs.create(p, true))
        try ids.sorted.foreach { id =>
          out.write(s"""{"doc_id":$id}""".getBytes("UTF-8"))
          out.write('\n')
        } finally out.close()
        sh -> name
    }
    // manifest maintenance (inside the layout's commit lock): touched
    // shards take the recomputed survivor stats — rows, mass, EXACT
    // bounds and null counts, nothing dropped-until-fold — the tomb
    // files enter the file lists, and per-file zone maps are KEPT (a
    // takedown narrows a file's actual range, never widens it).
    // A shard the takedown EMPTIED keeps its line at rows = 0 so its
    // files (tombstone included) stay recorded — the snapshot stays
    // intact and the stats reader SKIPS zero-row lines, so the
    // metadata path never emits a group the data path does not
    ShardSource.withCommitLock(path) {
      ShardManifest.read(hconf, path).foreach { case (sch, entries) =>
        val liveFiles = ShardManifest.listDataFiles(hconf, path)
        val updated = entries.map { e =>
          stats.get(e.shardId).filter(removedOf(_).nonEmpty) match {
            case Some(r) =>
              val recorded = e.files.map(f => f.name -> f).toMap
              withStats(e, r, dataCols).copy(files = liveFiles.toSeq
                .filter(_._1.startsWith(s"shard_id=${e.shardId}/"))
                .map { case (n, l) => recorded.get(n)
                  .map(_.copy(len = l))
                  .getOrElse(ShardFileEnt(n, l)) })
            case None => e
          }
        }
        ShardManifest.write(hconf, path,
          sch.getOrElse(ShardSource.Schema), updated)
      }
    }
    tombNames.keySet.toSet
  }
}
