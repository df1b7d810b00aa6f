package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each of these idioms has ONE definition in the main sources, and
  * every caller goes through it: the shard-id step
  * (`Pipeline.withShardId`), the oracle checksum fragment
  * (`operators.h32`), the version scan (`Layout.priorMaxVersion`, so
  * no local `maxV`), Similarity's neighbour order (`Similarity.topK`),
  * the CAA dialect's token arithmetic (`CaaCsv.tokenEnd`, which
  * `splitByComma` and the field scanner share), the shard-path parse
  * (`ShardManifest.shardOf`), the connector read
  * (`ShardLayout.readShards`) and the per-shard stats rescan
  * (`ShardLayout.shardStats`). The Layout catalog store's lifecycle
  * verbs share one commit (`Layout.commit`, the stable-name
  * `ALTER VIEW`; `CREATE OR REPLACE VIEW` on the stable name is gone,
  * since Spark runs it as a drop then a create), one version clock
  * seed (`Layout.clock`), one bucketed write (`Layout.saveBucketed`),
  * one version-view builder with its tombstone anti filter
  * (`Layout.publishVersion`), one integral-key type list
  * (`Layout.IntegralKeys`), one view probe (`Layout.isView`) and one
  * commit-marker listing (`Layout.markerGens`, no raw `listStatus`).
  * The shard-census gates share one oracle protocol: the oracle's
  * shard formula (`operators.shardIdSql`), its numbered decision rows
  * (`operators.decisionRowsSql`, so the one literal numbered row left
  * is q156's epoch row in `Pipeline.epochShuffleSql`, whose second
  * column is a row index, not a decision) and their Spark side
  * (`Pipeline.decisionRows`, so no hand-built `(99L, if (…)` row).
  * StreamDoor's file-sink doors share one AvailableNow parquet-sink
  * run (`StreamDoor.fileSinkRun`) and its lifecycle doors one
  * file-per-batch drain (`StreamDoor.drainOneFileEach`).
  * The IVF route has one definition on each side: the oracles' quantize
  * prologue (`Similarity.quantSql`) and nearest-centroid CTE
  * (`Similarity.routeSql`; the one other ranked route is the q132
  * correction route `Similarity.upsSql`, which ranks by the reversed
  * vector), and Spark's map-side assignment (`Similarity.assignDf`).
  * The PQ trainer and encoder share one nearest-code loop
  * (`Similarity.nearestCode`), and the dedup oracles one shingle hash
  * (`Dedup.shingleHashSql`).
  * A hand copy that grows back elsewhere fails here. The second test
  * pins the layering: the table format (`graft.sources`) never calls
  * up into the query layer (`graft.operators`). Comment lines are
  * skipped, as in [[WarehouseFsSpec]]. */
class OneDefinitionSpec extends AnyFunSuite {

  /** idiom -> the one file allowed to spell it (None: nowhere) */
  private val pinned = Seq(
    """shiftright(col("u"), 29)""" -> Some("graft/operators/Pipeline.scala"),
    "def h32(" -> Some("graft/operators/package.scala"),
    "def maxV(" -> None,
    """orderBy(col("cos").desc, col("nbr"))""" -> Some("graft/operators/Similarity.scala"),
    "indexOf(',', i) - 1" -> Some("graft/sources/CaaCsv.scala"),
    """stripPrefix("shard_id=")""" -> Some("graft/sources/ShardManifest.scala"),
    """read.format("graft.sources.ShardSource")""" -> Some("graft/sources/ShardLayout.scala"),
    """.as(s"z_$f")""" -> Some("graft/sources/ShardLayout.scala"),
    "ALTER VIEW" -> Some("graft/sources/Layout.scala"),
    "CREATE OR REPLACE VIEW $name" -> None,
    "publishCounter.computeIfAbsent(" -> Some("graft/sources/Layout.scala"),
    "bucketBy(k, bc.head, bc.tail: _*)" -> Some("graft/sources/Layout.scala"),
    "NOT EXISTS (SELECT 1 FROM $tombsT" -> Some("graft/sources/Layout.scala"),
    "ByteType)" -> Some("graft/sources/Layout.scala"),
    ".tableType" -> Some("graft/sources/Layout.scala"),
    """stripPrefix(s"_${kind}_")""" -> Some("graft/sources/Layout.scala"),
    "listStatus(loc)" -> None,
    "AS BIGINT) // 536870912 AS shard_id" -> Some("graft/operators/package.scala"),
    "SELECT CAST(99 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)," ->
      Some("graft/operators/Pipeline.scala"),
    "(99L, if (" -> None,
    """.outputMode("append").trigger(Trigger.AvailableNow())""" ->
      Some("graft/streaming/StreamDoor.scala"),
    """.option("maxFilesPerTrigger", "1")""" -> Some("graft/streaming/StreamDoor.scala"),
    "WHERE list_sum(list_transform(q, x -> x * x)) > 0)" ->
      Some("graft/operators/Similarity.scala"),
    "(id, routeCents(q, qn, cs, 1).head" -> Some("graft/operators/Similarity.scala"),
    "substr(md5(sgl), 1, 15) AS BIGINT)" -> Some("graft/operators/Dedup.scala"),
    "var best = 0; var bestD = Long.MaxValue" -> Some("graft/operators/Similarity.scala"))

  /** idiom -> (the one file allowed to spell it, at most this often) */
  private val bounded = Seq(
    // routeSql and the reversed-vector upsSql
    "row_number() OVER (PARTITION BY v.vec_id ORDER BY" ->
      ("graft/operators/Similarity.scala", 2))

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** (file:line, line) of every non-comment line under `dir`. */
  private def codeLines(dir: String): Seq[(String, String)] = {
    val files = sources(new java.io.File(dir))
    assert(files.nonEmpty, s"no sources found under $dir from the working directory")
    for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toSeq
      if !line.trim.startsWith("*") && !line.trim.startsWith("//")
    } yield (s"${f.getPath}:${i + 1}", line)
  }

  test("the shard, checksum, version-scan and top-G idioms each have one definition") {
    val code = codeLines("src/main/scala")
    val hits = for {
      (where, line) <- code
      (idiom, _) <- pinned
      if line.contains(idiom)
    } yield (idiom, where)
    val problems = pinned.flatMap { case (idiom, home) =>
      val at = hits.collect { case (`idiom`, where) => where }
      val ok = home match {
        case Some(h) => at.size == 1 && at.head.contains(h)
        case None => at.isEmpty
      }
      if (ok) Nil
      else Seq(s"$idiom: expected ${home.fold("no site")(h => s"one site in $h")}, " +
        s"found ${at.size}: ${at.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("the IVF route's ranked CTE is spelled only in its builders") {
    val code = codeLines("src/main/scala")
    val problems = bounded.flatMap { case (idiom, (home, most)) =>
      val at = code.collect { case (where, line) if line.contains(idiom) => where }
      if (at.size <= most && at.forall(_.contains(home))) Nil
      else Seq(s"$idiom: expected at most $most sites in $home, " +
        s"found ${at.size}: ${at.mkString(", ")}")
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("the shard table format in graft.sources never names graft.operators") {
    val upward = codeLines("src/main/scala/graft/sources")
      .collect { case (where, line) if line.contains("graft.operators") => where }
    assert(upward.isEmpty, "graft.sources calls up into graft.operators at: " +
      upward.mkString(", "))
  }
}
