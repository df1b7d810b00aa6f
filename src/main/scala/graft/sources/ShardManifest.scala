package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType

/** One part file the manifest records: its layout-relative name
  * (`shard_id=k/part-...`) and byte length — the two facts one
  * `listStatus` pass can cross-check, so a manifest that has drifted
  * from the bytes on disk is detectable without opening anything —
  * plus (round 19, format 4) the file's doc_id RANGE when the writer
  * saw it: the per-file zone map that lets a point lookup or id-range
  * scan on a delta-heavy shard open only the files whose range can
  * match, not every delta since the last fold. Bounds may be WIDER
  * than the live contents (a takedown narrows actuals, never the
  * recorded range) — always sound for skipping; absent bounds (legacy
  * manifests, tombstone files) never skip. */
private[graft] final case class ShardFileEnt(name: String, len: Long,
    minDoc: Option[Long] = None, maxDoc: Option[Long] = None)

/** One shard's statistics line: row count always; payload mass and id
  * range when the layout's schema carries the columns; per-column
  * NULL counts when the writer tracked them (round 18 — what makes a
  * `COUNT(col)` pushdown honest on nullable/evolved columns: the
  * answer is `rows - nulls(col)`, never an assumption). A column
  * ABSENT from a present `nulls` map means that era's files did not
  * carry it — the reader surfaces it as NULL on every row, so its
  * null count is `rows` (the same missing-field rule the data path
  * applies). `nulls = None` means the counts were never tracked
  * (legacy manifest, or a takedown invalidated them) — `COUNT(col)`
  * then refuses to the data path. */
private[graft] final case class ShardEnt(
    shardId: Long, rows: Long,
    sumChars: Option[Long], minDoc: Option[Long], maxDoc: Option[Long],
    files: Seq[ShardFileEnt],
    nulls: Option[Map[String, Long]] = None) {
  def parts: Seq[ShardFileEnt] = files.filter(f => ShardManifest.isPart(f.name))
  def tombs: Seq[ShardFileEnt] = files.filter(f => ShardManifest.isTomb(f.name))
  def merge(o: ShardEnt): ShardEnt = ShardEnt(
    shardId, rows + o.rows,
    for (a <- sumChars; b <- o.sumChars) yield a + b,
    for (a <- minDoc; b <- o.minDoc) yield math.min(a, b),
    for (a <- maxDoc; b <- o.maxDoc) yield math.max(a, b),
    files ++ o.files,
    (nulls, o.nulls) match {
      case (Some(a), Some(b)) =>
        // a key one side lacks = a column that era did not carry =
        // all of that side's rows read back NULL for it
        Some((a.keySet ++ b.keySet).iterator.map(k =>
          k -> (a.getOrElse(k, rows) + b.getOrElse(k, o.rows))).toMap)
      case _ => None
    })
}

/** The shard layout's statistics sidecar (`_shard_manifest.json`) —
  * the parquet-footer idea at the delivery layer, maintained through
  * the WHOLE lifecycle and, since round 18, VERSIONED:
  *
  *  - line 1 is a HEADER carrying the format version, the layout's
  *    schema as DDL (the loader's `inferSchema` reads it) and the
  *    monotonic GENERATION number — the snapshot version;
  *  - one line per shard: rows, payload mass, id range, per-column
  *    null counts, and the exact part files (name + length) the stats
  *    describe.
  *
  * VERSIONING (round 18): a REPLACING verb (connector overwrite, the
  * fold) never deletes the bytes it replaces. It archives the
  * outgoing manifest as `_gen/manifest-<gen>.json`, appends the
  * replaced file names to the `_retired.json` ledger, and swaps the
  * new manifest in. The ledger is what scopes the LIVE view
  * ([[listDataFiles]] = physical minus retired) without depending on
  * the current manifest being readable; the archived generation is an
  * addressable snapshot (`option("asOfGen", g)`) whose recorded files
  * remain on disk until an explicit `vacuumShardLayout` horizon — so
  * a reader that planned against the pre-overwrite snapshot reads
  * every one of its files AFTER the commit (the warehouse retention
  * discipline applied to the layout).
  *
  * The files list is the sidecar's DEFENSE: [[readValidated]] compares
  * it against the live listing in one pass and refuses a manifest that
  * does not describe the bytes on disk; [[readSnapshot]] accepts the
  * manifest as a snapshot pointer (recorded files must exist at their
  * recorded lengths; unrecorded DATA files are simply not part of the
  * snapshot) — but an unrecorded live TOMBSTONE breaks the snapshot:
  * a tombstone is an EXCLUSION, and ignoring one fabricates rows, so
  * the safe degrade is the physical data path (which applies it).
  *
  * Writes go to a temp name then swap (delete + rename — the brief
  * manifest-absent window just means stats pushdown refuses and the
  * data path answers, which is the safe direction). All I/O is Hadoop
  * FS API, scheme-portable. */
private[graft] object ShardManifest {

  private val mapper = new ObjectMapper()

  def manifestPath(root: String): Path = new Path(root, ShardSource.ManifestName)

  /** The shard a layout-relative file name (`shard_id=<k>/<file>`)
    * lives in. */
  def shardOf(name: String): Long =
    name.split("/")(0).stripPrefix("shard_id=").toLong

  /** The layout's two file kinds, told apart by the last segment of a
    * name (layout-relative `shard_id=<k>/<file>` or bare): DATA parts
    * (`part-…`) and TOMBSTONE deltas (`tomb-…`, the doc ids a takedown
    * excludes). Writers name files with these prefixes; every reader
    * asks [[isPart]] / [[isTomb]]. */
  val PartPrefix = "part-"
  val TombPrefix = "tomb-"

  private def hasKind(name: String, prefix: String): Boolean =
    name.substring(name.lastIndexOf('/') + 1).startsWith(prefix)

  def isPart(name: String): Boolean = hasKind(name, PartPrefix)
  def isTomb(name: String): Boolean = hasKind(name, TombPrefix)

  /** The part files a snapshot's entries record, as layout-relative
    * names. */
  def recordedParts(entries: Seq[ShardEnt]): Seq[String] =
    entries.flatMap(_.parts.map(_.name))

  /** The part files the CURRENT manifest records (none when absent). */
  def recordedParts(conf: Configuration, root: String): Seq[String] =
    read(conf, root).toSeq.flatMap(m => recordedParts(m._2))

  /** The LIVE part files ([[listDataFiles]]) per shard, as
    * layout-relative name -> byte length. A shard with no live part
    * file is absent. */
  def livePartsByShard(conf: Configuration, root: String)
      : Map[Long, Map[String, Long]] =
    listDataFiles(conf, root).filter { case (n, _) => isPart(n) }
      .groupBy { case (n, _) => shardOf(n) }

  /** Archived-generation manifests live here, one per replaced
    * snapshot: `_gen/manifest-<gen>.json`. */
  def genDir(root: String): Path = new Path(root, "_gen")

  def genPath(root: String, gen: Long): Path =
    new Path(genDir(root), f"manifest-$gen%09d.json")

  /** The retired-file ledger: one JSON line per file a replacing verb
    * superseded (`{"name":...}`). Live-scope listings subtract it. */
  def retiredPath(root: String): Path = new Path(root, "_retired.json")

  private def writeString(conf: Configuration, p: Path, body: String): Unit = {
    val fs = p.getFileSystem(conf)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  private def readString(conf: Configuration, p: Path): Option[String] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val b = new Array[Byte](8192)
      var r = in.read(b)
      while (r > 0) { buf.write(b, 0, r); r = in.read(b) }
      Some(new String(buf.toByteArray, "UTF-8"))
    } finally in.close()
  }

  /** Thrown when a commit loses the cross-driver generation race —
    * the CLAIM of its generation file found the slot already taken
    * (another writer committed on the same base), or the post-rename
    * read-back showed another writer's token. The loser fails LOUDLY
    * and never touches the live manifest or the retired ledger; the
    * caller re-reads the layout and retries on the new base. */
  final class ConcurrentCommitException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Serialize + COMMIT. `schema` is the full read schema including
    * the `shard_id` partition identity column.
    *
    * COMMIT PROTOCOL (round 19 — atomic cross-process commits): the
    * manifest body is written to a temp file and CLAIMED into the
    * generation-numbered slot `_gen/manifest-<gen>.json` (write-temp +
    * rename + token read-back — [[claimGen]]); only after the claim
    * succeeds does the live pointer `_shard_manifest.json` swap. Two
    * ISOLATED drivers committing on the same base generation both
    * target the same slot, so exactly one wins and the loser throws
    * [[ConcurrentCommitException]] BEFORE touching the live manifest
    * or the retired ledger — never a silent last-writer-wins, never a
    * hybrid. `expectedBase` is the generation the writer READ as its
    * base (the optimistic-concurrency validation a metastore CAS
    * gives a real table format); when `None` the next generation is
    * derived at call time — the single-driver path, already serialized
    * by the layout's commit lock.
    *
    * Every commit lands its OWN generation file at claim time, so
    * every snapshot that was ever current is an addressable generation
    * (`asOfGen` reaches pre-append and pre-takedown states too — their
    * recorded files still exist; only replacing verbs retire bytes)
    * and the `sinceGen` incremental read can diff any two commits.
    * Vacuum expires the history. */
  def write(conf: Configuration, root: String, schema: StructType,
      entries: Seq[ShardEnt], expectedBase: Option[Long] = None): Unit = {
    archiveCurrent(conf, root)
    val gen = expectedBase match {
      case Some(b) => b + 1
      case None => math.max(currentGen(conf, root),
        listGens(conf, root).map(_._1).foldLeft(0L)(math.max)) + 1
    }
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
    val sb = new StringBuilder
    val header = JsonNodeFactory.instance.objectNode()
    header.put("format", 4)
    header.put("commit", token)
    // the header schema is always fully NULLABLE: a jsonl layout can
    // always be missing a field (schema evolution guarantees it), and
    // a NOT NULL written through from a Seq.toDF batch would make
    // Spark skip the null check on scan output — old-era rows would
    // read garbage in the widened columns instead of NULL
    header.put("schema",
      StructType(schema.fields.map(_.copy(nullable = true))).toDDL)
    header.put("gen", gen)
    sb.append(mapper.writeValueAsString(header)).append('\n')
    entries.sortBy(_.shardId).foreach { e =>
      val n = JsonNodeFactory.instance.objectNode()
      n.put("shard_id", e.shardId)
      n.put("rows", e.rows)
      e.sumChars.foreach(v => n.put("sum_chars", v))
      e.minDoc.foreach(v => n.put("min_doc", v))
      e.maxDoc.foreach(v => n.put("max_doc", v))
      e.nulls.foreach { m =>
        val nn = n.putObject("nulls")
        m.toSeq.sortBy(_._1).foreach { case (k, v) => nn.put(k, v) }
      }
      val fl = n.putArray("files")
      e.files.sortBy(_.name).foreach { f =>
        val fn = fl.addObject()
        fn.put("name", f.name)
        fn.put("len", f.len)
        f.minDoc.foreach(v => fn.put("min_doc", v))
        f.maxDoc.foreach(v => fn.put("max_doc", v))
      }
      sb.append(mapper.writeValueAsString(n)).append('\n')
    }
    val body = sb.toString
    if (!claimGen(conf, root, gen, body, token))
      throw new ConcurrentCommitException(
        s"graft.sources.ShardSource: concurrent commit detected on $root — " +
          s"generation $gen was claimed by another writer (this commit was " +
          s"based on generation ${gen - 1}); the live manifest and retired " +
          "ledger were not touched — re-read the layout and retry")
    writeString(conf, manifestPath(root), body)
  }

  /** The claim marker arbitrating generation `gen` — the one name
    * exactly one writer can create. */
  def claimMarker(root: String, gen: Long): Path =
    new Path(genDir(root), f".claim-$gen%09d")

  /** CLAIM a generation slot with an ATOMIC-EXCLUSIVE primitive, then
    * materialize the manifest body into `_gen/manifest-<gen>.json` by
    * whole-file rename. The arbitration is the claim MARKER: on a
    * local filesystem it is a directory created with `mkdir(2)` —
    * atomic-exclusive by POSIX (a bare rename would not be: POSIX
    * rename REPLACES an existing destination, so two photo-finish
    * renamers could each read back their own content and both declare
    * victory); on HDFS-like stores it is `create(overwrite = false)`,
    * which the namenode arbitrates atomically. (An object store
    * without conditional PUT needs a metastore/commit service for
    * this role — the standard table-format deployment note.) Exactly
    * one claimant wins; every loser returns false having written
    * nothing into the slot. A winner that crashes before
    * materializing the slot leaves marker-without-slot — readers of
    * that generation fail loudly ("never committed") and the vacuum
    * horizon clears the debris, restoring liveness to the slot. */
  private def claimGen(conf: Configuration, root: String, gen: Long,
      body: String, token: String): Boolean = {
    val gp = genPath(root, gen)
    val fs = gp.getFileSystem(conf)
    fs.mkdirs(gp.getParent)
    if (fs.exists(gp)) return false
    val marker = claimMarker(root, gen)
    val local = Option(fs.makeQualified(gp).toUri.getScheme)
      .forall(_ == "file")
    val won =
      if (local) {
        try {
          java.nio.file.Files.createDirectory(
            java.nio.file.Paths.get(fs.makeQualified(marker).toUri))
          true
        } catch { case _: java.io.IOException => false }
      } else {
        try { fs.create(marker, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    if (!won) return false
    val tmp = new Path(gp.getParent, s".${gp.getName}.$token.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    fs.rename(tmp, gp)
    true
  }

  /** The current manifest's generation — 0 when absent or pre-gen
    * (format ≤ 2). Reads only the header line. */
  def currentGen(conf: Configuration, root: String): Long = {
    val mp = manifestPath(root)
    val fs = mp.getFileSystem(conf)
    if (!fs.exists(mp)) return 0L
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(mp), java.nio.charset.StandardCharsets.UTF_8))
    try {
      Option(in.readLine()).flatMap(decodeLine) match {
        case Some(Left(h)) => h.gen.getOrElse(0L)
        case _ => 0L
      }
    } catch { case _: Exception => 0L } finally in.close()
  }

  /** Archive the CURRENT manifest as its generation's snapshot file.
    * Returns the archived generation, `None` when no manifest exists.
    * Since round 19 every commit lands its own generation file at
    * claim time, so this is a no-op for post-claim layouts (the file
    * already exists — never overwritten: the claimed copy is the
    * commit's truth); it back-fills the archive for a legacy layout
    * whose current manifest predates the claim protocol. */
  def archiveCurrent(conf: Configuration, root: String): Option[Long] =
    readString(conf, manifestPath(root)).map { body =>
      val gen = currentGen(conf, root)
      val gp = genPath(root, gen)
      val fs = gp.getFileSystem(conf)
      if (!fs.exists(gp)) writeString(conf, gp, body)
      gen
    }

  /** The archived generations as (gen, mtime) pairs, oldest first. */
  def listGens(conf: Configuration, root: String): Seq[(Long, Long)] = {
    val gd = genDir(root)
    val fs = gd.getFileSystem(conf)
    if (!fs.exists(gd)) return Seq.empty
    fs.listStatus(gd).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("manifest-") &&
        st.getPath.getName.endsWith(".json"))
      .flatMap { st =>
        scala.util.Try(st.getPath.getName
          .stripPrefix("manifest-").stripSuffix(".json").toLong).toOption
          .map(g => (g, st.getModificationTime))
      }.sortBy(_._1)
  }

  /** Parse an archived generation — or the CURRENT manifest when its
    * header carries that generation (the newest snapshot is not
    * archived until something replaces it). */
  def readGen(conf: Configuration, root: String, gen: Long)
      : Option[(Option[StructType], Seq[ShardEnt])] = {
    val gp = genPath(root, gen)
    val fs = gp.getFileSystem(conf)
    if (fs.exists(gp)) readString(conf, gp).flatMap(parse)
    else if (currentGen(conf, root) == gen) read(conf, root)
    else None
  }

  /** The retired-file ledger's names — files a replacing verb
    * superseded, still on disk until vacuum, excluded from the LIVE
    * scope. */
  def retiredNames(conf: Configuration, root: String): Set[String] =
    readString(conf, retiredPath(root)) match {
      case None => Set.empty
      case Some(body) => body.linesIterator.filter(_.nonEmpty).flatMap { l =>
        scala.util.Try(mapper.readTree(l).get("name").asText()).toOption
      }.toSet
    }

  /** Append names to the retired ledger (read + rewrite + swap — the
    * callers hold the layout's commit lock). */
  def retire(conf: Configuration, root: String, names: Iterable[String]): Unit =
    if (names.nonEmpty) {
      val all = retiredNames(conf, root) ++ names
      val sb = new StringBuilder
      all.toSeq.sorted.foreach { n =>
        val node = JsonNodeFactory.instance.objectNode()
        node.put("name", n)
        sb.append(mapper.writeValueAsString(node)).append('\n')
      }
      writeString(conf, retiredPath(root), sb.toString)
    }

  /** The named-reference ledger (`_refs.json`, round 19): one JSON
    * line per TAG — a human name pinned to a generation (`{"name":…,
    * "gen":…}`). A tag is a GC ROOT: [[ShardLayout
    * .vacuumShardLayout]] never expires a tagged generation (neither
    * by horizon nor by history budget) and protects its recorded
    * files, so `VERSION AS OF '<name>'` stays readable for as long as
    * the tag exists — the Iceberg tag/branch retention rule. Tags are
    * metadata only: creating or dropping one moves no bytes. */
  def refsPath(root: String): Path = new Path(root, "_refs.json")

  def readRefs(conf: Configuration, root: String): Map[String, Long] =
    readString(conf, refsPath(root)) match {
      case None => Map.empty
      case Some(body) => body.linesIterator.filter(_.nonEmpty).flatMap { l =>
        scala.util.Try {
          val n = mapper.readTree(l)
          n.get("name").asText() -> n.get("gen").asLong()
        }.toOption
      }.toMap
    }

  /** Rewrite the ref ledger to exactly `refs` (read + rewrite + swap —
    * callers hold the layout's commit lock); empty deletes the file. */
  def writeRefs(conf: Configuration, root: String,
      refs: Map[String, Long]): Unit =
    if (refs.isEmpty) {
      val rp = refsPath(root)
      val fs = rp.getFileSystem(conf)
      if (fs.exists(rp)) fs.delete(rp, false)
    } else {
      val sb = new StringBuilder
      refs.toSeq.sortBy(_._1).foreach { case (n, g) =>
        val node = JsonNodeFactory.instance.objectNode()
        node.put("name", n)
        node.put("gen", g)
        sb.append(mapper.writeValueAsString(node)).append('\n')
      }
      writeString(conf, refsPath(root), sb.toString)
    }

  /** The streaming-epoch ledger: ONE JSON line per writer query,
    * carrying the HIGHEST committed epoch — what makes a
    * checkpoint-restart replay land NOTHING twice (the streaming
    * write's exactly-once fact). Epochs per query are strictly
    * increasing and commit in order (the micro-batch contract), so
    * "committed" is `epoch ≤ recorded max` — the last-committed-txn
    * rule every table format applies to its appId ledger, and what
    * keeps the ledger O(writer queries) at streaming cadence instead
    * of O(lifetime epochs). */
  def epochsPath(root: String): Path = new Path(root, "_stream_epochs.json")

  private def epochMap(conf: Configuration, root: String): Map[String, Long] =
    readString(conf, epochsPath(root)) match {
      case None => Map.empty
      case Some(body) => body.linesIterator.filter(_.nonEmpty).flatMap { l =>
        scala.util.Try {
          val n = mapper.readTree(l)
          n.get("query").asText() -> n.get("epoch").asLong()
        }.toOption
      }.toMap
    }

  def epochCommitted(conf: Configuration, root: String, query: String,
      epoch: Long): Boolean =
    epochMap(conf, root).get(query).exists(epoch <= _)

  /** Record a committed epoch (read + rewrite + swap — the caller
    * holds the layout's commit lock). Keeps only each query's max. */
  def recordEpoch(conf: Configuration, root: String, query: String,
      epoch: Long): Unit = {
    val prior = epochMap(conf, root)
    val all = prior + (query ->
      math.max(epoch, prior.getOrElse(query, Long.MinValue)))
    val sb = new StringBuilder
    all.toSeq.sortBy(_._1).foreach { case (q, e) =>
      val node = JsonNodeFactory.instance.objectNode()
      node.put("query", q)
      node.put("epoch", e)
      sb.append(mapper.writeValueAsString(node)).append('\n')
    }
    writeString(conf, epochsPath(root), sb.toString)
  }

  /** Rewrite the ledger to exactly `names` (vacuum drops swept ones);
    * an empty set deletes the ledger file. */
  def rewriteRetired(conf: Configuration, root: String,
      names: Set[String]): Unit =
    if (names.isEmpty) {
      val rp = retiredPath(root)
      val fs = rp.getFileSystem(conf)
      if (fs.exists(rp)) fs.delete(rp, false)
    } else {
      val sb = new StringBuilder
      names.toSeq.sorted.foreach { n =>
        val node = JsonNodeFactory.instance.objectNode()
        node.put("name", n)
        sb.append(mapper.writeValueAsString(node)).append('\n')
      }
      writeString(conf, retiredPath(root), sb.toString)
    }

  /** A manifest's header line: the schema DDL (format ≥ 2) and the
    * generation (format ≥ 3). */
  final case class Header(ddl: Option[String], gen: Option[Long])

  /** Decode ONE manifest line: `Left` the header, `Right` one shard's
    * statistics line; `None` for a blank line. The whole-file [[parse]]
    * and the connector's streaming stats reader both decode through
    * this. */
  def decodeLine(line: String): Option[Either[Header, ShardEnt]] =
    if (line.isEmpty) None
    else {
      val n = mapper.readTree(line)
      def optL(j: JsonNode, f: String): Option[Long] =
        if (j.has(f)) Some(j.get(f).asLong()) else None
      if (!n.has("shard_id"))
        Some(Left(Header(Option(n.get("schema")).map(_.asText()), optL(n, "gen"))))
      else {
        val files = Option(n.get("files")).toSeq.flatMap(_.elements().asScala)
          .map(f => ShardFileEnt(f.get("name").asText(), f.get("len").asLong(),
            optL(f, "min_doc"), optL(f, "max_doc")))
        val nulls = Option(n.get("nulls")).map(nn =>
          nn.fieldNames().asScala.map(k => k -> nn.get(k).asLong()).toMap)
        Some(Right(ShardEnt(n.get("shard_id").asLong(),
          n.get("rows").asLong(), optL(n, "sum_chars"),
          optL(n, "min_doc"), optL(n, "max_doc"), files.toVector, nulls)))
      }
    }

  private def parse(body: String)
      : Option[(Option[StructType], Seq[ShardEnt])] = {
    var schema: Option[StructType] = None
    val entries = Vector.newBuilder[ShardEnt]
    body.linesIterator.flatMap(decodeLine).foreach {
      case Left(h) => h.ddl.foreach(d => schema = Some(StructType.fromDDL(d)))
      case Right(e) => entries += e
    }
    Some((schema, entries.result()))
  }

  /** Parse the sidecar — `None` when absent. The schema is `None` for
    * a headerless (format-1) manifest. */
  def read(conf: Configuration, root: String)
      : Option[(Option[StructType], Seq[ShardEnt])] =
    readString(conf, manifestPath(root)).flatMap(parse)

  /** EVERY physical layout byte — data parts (`shard_id=k/part-*`)
    * and tombstone deltas (`shard_id=k/tomb-*`) — as layout-relative
    * name → (byte length, mtime), one listing pass, retired files
    * INCLUDED (the vacuum sweep scans this). */
  def listAllFiles(conf: Configuration, root: String)
      : Map[String, (Long, Long)] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(conf)
    if (!fs.exists(rp)) return Map.empty
    fs.listStatus(rp).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard_id="))
      .flatMap { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(st => st.isFile &&
            (isPart(st.getPath.getName) || isTomb(st.getPath.getName)))
          .map(st => s"${d.getPath.getName}/${st.getPath.getName}" ->
            (st.getLen, st.getModificationTime))
      }.toMap
  }

  /** The layout's LIVE files — the physical listing minus the retired
    * ledger — as layout-relative name → byte length. This is the
    * scope every current-state consumer sees: validation, the
    * physical-listing fallback, the fold/takedown file refresh. A
    * retained (retired) generation's bytes are on disk but not live;
    * tombstones are layout bytes like any other: a manifest that does
    * not describe them is stale by definition. */
  def listDataFiles(conf: Configuration, root: String): Map[String, Long] = {
    val retired = retiredNames(conf, root)
    listAllFiles(conf, root).collect {
      case (n, (len, _)) if !retired.contains(n) => n -> len
    }
  }

  /** The manifest IFF it still describes the LIVE bytes: every
    * recorded (name, length) must match the live listing EXACTLY, both
    * directions (a new unrecorded file means stats are incomplete; a
    * missing or resized recorded file means they are wrong). `None` →
    * the caller takes the data path. The exporter gates use this form
    * — a completed export's manifest and live listing agree exactly. */
  def readValidated(conf: Configuration, root: String)
      : Option[(Option[StructType], Seq[ShardEnt])] =
    read(conf, root).filter { case (_, entries) =>
      val recorded = entries.flatMap(_.files.map(f => f.name -> f.len)).toMap
      recorded.nonEmpty && recorded == listDataFiles(conf, root)
    }

  /** The manifest as a SNAPSHOT POINTER (the table-format insight at
    * the delivery layer): valid iff every RECORDED file exists with
    * its recorded length, AND every live tombstone is recorded.
    * Unrecorded DATA files are simply not part of the snapshot — an
    * in-flight writer's or a crashed job's orphan files stay INVISIBLE
    * to connector reads and stats until a commit records them, which
    * is what makes the connector's overwrite/append visible atomically
    * at the manifest swap. An unrecorded live TOMBSTONE is different:
    * a tombstone EXCLUDES rows, and a snapshot that ignores one
    * fabricates them — so it breaks the snapshot and the degrade is
    * the physical data path, which applies it (round-17 advice). A
    * recorded-but-missing or resized file means the snapshot no
    * longer exists → `None` — metadata may accelerate and SCOPE,
    * never fabricate. */
  def readSnapshot(conf: Configuration, root: String)
      : Option[(Option[StructType], Seq[ShardEnt])] =
    read(conf, root).filter { case (_, entries) =>
      val recorded = entries.flatMap(_.files.map(f => f.name -> f.len))
      val recordedNames = recorded.iterator.map(_._1).toSet
      val live = listDataFiles(conf, root)
      recorded.nonEmpty &&
        recorded.forall { case (n, l) => live.get(n).contains(l) } &&
        live.keysIterator.filter(isTomb).forall(recordedNames.contains)
    }

  /** An archived generation as a VALIDATED snapshot: every recorded
    * file must still exist at its recorded length (retention holds
    * until vacuum). `None` = the generation was never archived, or
    * its files were swept past the horizon. */
  def readGenSnapshot(conf: Configuration, root: String, gen: Long)
      : Option[(Option[StructType], Seq[ShardEnt])] =
    readGen(conf, root, gen).filter { case (_, entries) =>
      val all = listAllFiles(conf, root)
      val recorded = entries.flatMap(_.files.map(f => f.name -> f.len))
      recorded.nonEmpty &&
        recorded.forall { case (n, l) => all.get(n).exists(_._1 == l) }
    }
}
