package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each of these idioms has ONE definition in the main sources, and
  * every caller goes through it: the shard-id step
  * (`Pipeline.withShardId`), the oracle checksum fragment
  * (`operators.h32`), the version scan (`Layout.priorMaxVersion`, so
  * no local `maxV`), Similarity's neighbour order (`Similarity.topK`)
  * and the CAA dialect's token arithmetic (`CaaCsv.tokenEnd`, which
  * `splitByComma` and the field scanner share). A hand copy that grows
  * back elsewhere fails here. Comment lines are skipped, as in [[WarehouseFsSpec]]. */
class OneDefinitionSpec extends AnyFunSuite {

  /** idiom -> the one file allowed to spell it (None: nowhere) */
  private val pinned = Seq(
    """shiftright(col("u"), 29)""" -> Some("graft/operators/Pipeline.scala"),
    "def h32(" -> Some("graft/operators/package.scala"),
    "def maxV(" -> None,
    """orderBy(col("cos").desc, col("nbr"))""" -> Some("graft/operators/Similarity.scala"),
    "indexOf(',', i) - 1" -> Some("graft/sources/CaaCsv.scala"))

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("the shard, checksum, version-scan and top-G idioms each have one definition") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "no main sources found from the working directory")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toSeq
      (idiom, _) <- pinned
      if line.contains(idiom) && !line.trim.startsWith("*") &&
        !line.trim.startsWith("//")
    } yield (idiom, s"${f.getPath}:${i + 1}")
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
}
