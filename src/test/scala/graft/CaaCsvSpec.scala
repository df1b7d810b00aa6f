package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CaaCsv.{Fields, splitByComma}

/** Dialect-quirk spec for the reference CSV tokenizer port
  * (SURVEY.md §1.3; reference Program/Delay.java:144-162). */
class CaaCsvSpec extends AnyFunSuite {

  test("plain split") {
    assert(splitByComma("a,b,c").toSeq == Seq("a", "b", "c"))
  }

  test("quoted field retains its quotes (quirk 1)") {
    assert(splitByComma("""x,"LEEDS, BRADFORD",y""").toSeq ==
      Seq("x", "\"LEEDS, BRADFORD\"", "y"))
  }

  test("trailing comma drops the final empty field (quirk 3)") {
    assert(splitByComma("a,b,").toSeq == Seq("a", "b"))
  }

  test("interior empty fields are kept") {
    assert(splitByComma("a,,b").toSeq == Seq("a", "", "b"))
  }

  test("empty string yields empty array (quirk 4)") {
    assert(splitByComma("").isEmpty)
  }

  test("space padding is preserved by the tokenizer (trim is per-use)") {
    assert(splitByComma(" 109 , x").toSeq == Seq(" 109 ", " x"))
  }

  test("leading comma swallows the whole line into one token (quirk 5)") {
    // reference: indexOf(',', 0) - 1 == -1 hits the end = len-1 fallback
    assert(splitByComma(",a,b").toSeq == Seq(",a,b"))
    assert(splitByComma(",").toSeq == Seq(","))
  }

  test("unterminated quote: empty token + rescan at 0, throws later (quirk 6)") {
    // at index 0: substring(0, 0) == "" then the scan resumes at index 1
    assert(splitByComma("\"ab").toSeq == Seq("", "ab"))
    // at index > 0: substring(start, 0) throws, killing the task
    assertThrows[StringIndexOutOfBoundsException](splitByComma("a,\"bc"))
    // the field scanner walks the whole line: a token it does not keep
    // still throws
    assertThrows[StringIndexOutOfBoundsException](new Fields(1).scan("a,\"bc"))
  }

  test("property: seeded random lines match the dialect model (SURVEY §5.2 3a)") {
    val rnd = new scala.util.Random(20260812)
    def plainField(): String =
      Seq.fill(rnd.nextInt(6))("abc XY09 -.".charAt(rnd.nextInt(11))).mkString
    (1 to 500).foreach { _ =>
      val fields = Seq.fill(1 + rnd.nextInt(8)) {
        if (rnd.nextInt(4) == 0) "\"" + plainField() + "," + plainField() + "\""
        else plainField()
      }.zipWithIndex.map { // a leading comma is quirk 5, not this model:
        case ("", 0) => "x" // keep the first field non-empty
        case (f, _)  => f
      }
      val line = fields.mkString(",")
      // model: tokens are the fields as written (quotes retained);
      // a trailing empty field (line ends in ',') is dropped.
      val expected =
        if (fields.nonEmpty && fields.last.isEmpty) fields.dropRight(1) else fields
      assert(splitByComma(line).toSeq == expected, s"line=<$line>")
      // the field scanner: same token count, each kept field trimmed
      val f = new Fields(4)
      assert(f.scan(line) == expected.length, s"line=<$line>")
      expected.take(4).zipWithIndex.foreach { case (e, k) =>
        assert(f(k) == e.trim && f.is(k, e.trim), s"line=<$line> k=$k")
      }
    }
  }
}
