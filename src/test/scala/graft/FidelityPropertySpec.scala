package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.mutable
import graft.jobs.JobsMain
import graft.operators.Fidelity
import graft.sources.CaaCsv.splitByComma

/** Property: the Delay and Late jobs agree with a model of the
  * reference's jobs written here — `splitByComma`, then the reference's
  * own field accesses, filters, `floor(x + 0.5)` rounding and integer
  * sums, in its order (`Delay.java:51-96,190`, `Late.java:57-61,172-176`)
  * — on generated CAA lines and fuzzed ones: leading commas (quirk 5),
  * unterminated quotes (quirk 6), short rows, non-numerics and short
  * periods. Both sides give the same output lines, or fail with the same
  * root exception class. Generated text is ASCII, where Java's string
  * order is Spark's byte order. */
class FidelityPropertySpec extends SparkSpec {
  import spark.implicits._

  // ---- the model ---------------------------------------------------

  private def round(x: Double): Long = math.floor(x + 0.5).toLong
  private def show(x: Double): String = java.lang.Double.toString(x)

  /** key -> counters, added to with `Math.addExact` like the jobs' sums */
  private final class Sums(width: Int) {
    val m = mutable.Map.empty[String, Array[Long]]
    def add(key: String, at: Int, n: Long, w: Long): Unit = {
      val a = m.getOrElseUpdate(key, new Array[Long](width))
      a(at) = Math.addExact(a(at), n)
      a(at + 1) = Math.addExact(a(at + 1), w)
    }
  }

  private def delayModel(lines: Seq[String]): Seq[String] = {
    val sums = new Sums(4) // arrivals (n, sum), departures (n, sum)
    for (line <- lines) {
      val s = splitByComma(line)
      if (s.length != 0 && s(7).trim == "S" && s(8).trim != "0") {
        val key = s(2).trim
        val at = if (s(6).trim == "A") 0 else 2
        val n = s(8).trim.toInt
        val avg = s(16).trim.toDouble
        sums.add(key, at, n, round(n * avg))
      }
    }
    def ratio(sum: Long, n: Long) = if (n == 0) Double.NaN else sum.toDouble / n.toDouble
    sums.m.toSeq.sortBy(_._1).map { case (k, a) =>
      s"$k\t${show(ratio(a(1), a(0)))},${show(ratio(a(3), a(2)))}"
    }
  }

  private def lateModel(lines: Seq[String]): Seq[String] = {
    val sums = new Sums(2) // (n, late n) per composite key "airline,year"
    for (line <- lines) {
      val s = splitByComma(line)
      if (s.length != 0 && s(7).trim == "S" && s(8).trim != "0" && s(6).trim == "D") {
        val key = s(5).trim + "," + s(1).trim.substring(0, 4)
        val n = s(8).trim.toInt
        val pct = s(12).trim.toDouble + s(13).trim.toDouble + s(14).trim.toDouble +
          s(15).trim.toDouble
        sums.add(key, 0, n, round(n * pct / 100))
      }
    }
    sums.m.toSeq.sortBy(_._1).collect {
      case (k, a) if a(0) > 0 && a(1).toDouble / a(0).toDouble >= 0.5 =>
        s"$k\t${show(a(1).toDouble / a(0).toDouble * 100)}"
    }
  }

  // ---- both sides --------------------------------------------------

  /** Output lines, or the class name of the root exception. */
  private def outcome(run: => Seq[String]): Either[String, Seq[String]] =
    try Right(run)
    catch { case e: Throwable => Left(root(e).getClass.getName) }

  private def root(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else root(e.getCause)

  /** Checks both jobs on `lines` and returns the model's two outcomes.
    * On one partition the first bad line fails both sides, so the
    * exception classes must match; on the default partitions (where
    * tasks race to fail first) only a successful model is compared. */
  private def check(lines: Seq[String], what: String): Seq[Either[String, Seq[String]]] = {
    val ds = spark.createDataset(lines)
    for ((job, model, name) <- Seq(
        (JobsMain.delayLines _, delayModel _, "Delay"),
        (JobsMain.lateLines _, lateModel _, "Late"))) yield {
      val want = outcome(model(lines))
      val one = outcome(job(ds.coalesce(1)).collect().toSeq)
      assert(one == want, s"$name on one partition, $what:\n${lines.mkString("\n")}")
      if (want.isRight) {
        val many = outcome(job(ds).collect().toSeq)
        assert(many == want, s"$name on the default partitions, $what")
      }
      want
    }
  }

  // ---- generated and fuzzed lines ----------------------------------

  private val decimal: Gen[String] = for {
    units <- Gen.chooseNum(-2000, 12000)
    scale <- Gen.chooseNum(0, 3)
    pad <- Gen.oneOf("", " ")
  } yield pad + BigDecimal(units.toLong, scale).bigDecimal.toPlainString + pad

  private val row: Gen[Seq[String]] = for {
    period <- Gen.oneOf("201101", "201512", " 200906 ")
    airport <- Gen.oneOf("LUTON", "GATWICK", "\"LEEDS, BRADFORD\"", " STANSTED ")
    airline <- Gen.oneOf("ALPHA AIR", "\"WIDEROE, FLY\"", "THOMAS COOK AIRLINES",
      "THOMAS COOK AIRLINES SCANDINAVIA")
    ad <- Gen.frequency(5 -> "A", 5 -> "D", 1 -> "X", 1 -> " D ")
    sc <- Gen.frequency(8 -> "S", 1 -> "C", 1 -> " S ")
    n <- Gen.frequency(1 -> "0", 1 -> " 0 ", 1 -> "-3", 8 -> Gen.chooseNum(1, 400).map(_.toString))
    pcts <- Gen.listOfN(4, Gen.frequency(3 -> decimal, 1 -> Gen.oneOf("0", "12.5", "25", "50")))
    avg <- Gen.frequency(3 -> decimal, 1 -> Gen.oneOf("-0.625", "-2.5", "0.5", "-0.5"))
  } yield Seq("01-Jan-2018", period, airport, "GB", "NOWHERE", airline, ad, sc, n,
    "0", "0", "0") ++ pcts ++ Seq(avg, "0", "0", "0", "0")

  /** A row as text, left alone or broken in one of the ways the jobs
    * must treat as the reference does. */
  private val line: Gen[String] = for {
    r <- row
    k <- Gen.chooseNum(0, r.length - 1)
    m <- Gen.chooseNum(0, r.length - 1)
    read <- Gen.oneOf(8, 12, 13, 14, 15, 16)
    junk <- Gen.oneOf("x", "", " ", "1.2.3", "NaN", "-", "1e3", "+7")
    fuzz <- Gen.frequency(60 -> 0, 1 -> 1, 1 -> 2, 1 -> 3, 1 -> 4, 1 -> 5, 1 -> 6, 1 -> 7, 1 -> 8)
  } yield fuzz match {
    case 0 => r.mkString(",")
    case 1 => "," + r.mkString(",") // quirk 5
    case 2 => r.updated(k, "\"" + r(k)).mkString(",") // quirk 6, or a long token
    case 3 => r.take(m).mkString(",") // short row, or blank line
    case 4 => r.updated(k, junk).mkString(",") // a non-numeric anywhere
    case 5 => r.updated(read, junk).mkString(",") // ... or in a number some job reads
    case 6 => r.updated(1, r(1).trim.take(m % 4)).mkString(",") // short period
    case 7 => r.mkString(",") + "," // trailing comma (quirk 3)
    case _ => r.mkString(",").replace("S,", "S ,") // padding the filters trim
  }

  private def draw[A](g: Gen[A], i: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(0xCAA5L + i))

  test("property: generated and fuzzed lines give the model's rows or its exception") {
    val seen = (0 until 60).flatMap { i =>
      val lines = draw(Gen.chooseNum(1, 24).flatMap(Gen.listOfN(_, line)), i)
      check(lines, s"case $i")
    }
    // the draws reach every outcome the fuzzing aims at
    val failures = seen.collect { case Left(c) => c }.toSet
    assert(seen.count(_.isRight) >= 20, s"too few cases ran clean: $failures")
    assert(Set(classOf[ArrayIndexOutOfBoundsException], classOf[NumberFormatException],
      classOf[StringIndexOutOfBoundsException]).map(_.getName).subsetOf(failures), failures)
  }

  test("property: more distinct keys than the combiner holds before it flushes") {
    // every key twice, far apart, so its two rows land in different flushes
    val keys = 2 * Fidelity.FlushAt + 300
    val base = draw(row, 0)
      .updated(7, "S").updated(8, "10").updated(12, "30").updated(13, "25")
      .updated(14, "0").updated(15, "0")
    def at(k: Int, ad: String) = base.updated(2, s"AP$k").updated(5, s"AL$k").updated(6, ad)
    val lines = (0 until keys).map(at(_, "D").mkString(",")) ++
      (0 until keys).reverse.map(at(_, "A").mkString(","))
    val outs = check(lines, s"$keys keys")
    assert(outs.forall(_.isRight), outs)
    assert(outs.head.toOption.get.size == keys && outs(1).toOption.get.size == keys)
  }
}
