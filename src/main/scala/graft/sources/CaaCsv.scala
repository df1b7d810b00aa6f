package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Bit-exact port of the reference's hand-rolled CSV dialect
  * (`splitbycomma`, reference `Program/Delay.java:144-162`, duplicated
  * at `Program/Late.java:131-149`) — used only on the fidelity path;
  * the engine mainline reads typed Parquet/CSV (SURVEY.md §1.3).
  *
  * Dialect quirks reproduced deliberately (they are observable in
  * reference output):
  *  1. a field starting with `"` is scanned to the next `"` and the
  *     returned token RETAINS both quotes;
  *  2. escaped quotes (`""`) are not supported;
  *  3. a trailing comma drops the final empty field;
  *  4. the empty string yields an empty array;
  *  5. a line STARTING with a comma returns the whole line as one token:
  *     the reference computes `end = indexOf(',', i) - 1` and treats the
  *     resulting -1 as "no comma found" (`end = length - 1`), which at
  *     i == 0 swallows the rest of the line. Downstream jobs then crash
  *     on `s(7)` — that crash is reference behavior too;
  *  6. an unterminated quote at position 0 yields an empty token and
  *     re-scans from index 1; at any later position it throws
  *     (`substring(start, 0)`), killing the task like the reference.
  *
  * Quirks 5 and 6 fall straight out of keeping the reference's exact
  * index arithmetic (`indexOf`-based `end`, `i = end + 2`) rather than
  * a cleaned-up scanner.
  */
object CaaCsv {

  /** The reference's index arithmetic, its one copy: the index of the
    * last char of the token that starts at `i`; the next token starts
    * two chars later. Quirk 6 throws here, through the JDK's own
    * `substring`, whether or not the caller keeps the token. */
  private def tokenEnd(line: String, i: Int): Int = {
    val end =
      if (line.charAt(i) == '"') line.indexOf('"', i + 1)
      else {
        val e = line.indexOf(',', i) - 1
        if (e < 0) line.length - 1 else e // -1 at i==0 only: leading comma (quirk 5)
      }
    if (end < i - 1) line.substring(i, end + 1) // quirk 6 when i > 0
    end
  }

  def splitByComma(line: String): Array[String] = {
    val out = new ArrayBuffer[String]()
    var i = 0
    while (i < line.length) {
      val end = tokenEnd(line, i)
      out += line.substring(i, end + 1)
      i = end + 2
    }
    out.toArray
  }

  /** Field scanner: tokenizes a line exactly as [[splitByComma]] does,
    * but keeps only the bounds of its first `width` tokens and allocates
    * nothing until a field is read. Fields come back trimmed, as the
    * reference trims every field it reads (SURVEY §2.3 P2). One instance
    * serves one thread; each [[scan]] replaces the line before. */
  final class Fields(width: Int) {
    private val from = new Array[Int](width)
    private val to = new Array[Int](width)
    private var line = ""
    private var n = 0

    /** Tokenizes `line` and returns its token count, the length of the
      * array [[splitByComma]] would return. */
    def scan(line: String): Int = {
      this.line = line
      var k = 0
      var i = 0
      while (i < line.length) {
        val end = tokenEnd(line, i)
        if (k < width) { from(k) = i; to(k) = end + 1 }
        k += 1
        i = end + 2
      }
      n = k
      n
    }

    /** `splitByComma(line)(k).trim` of the last scanned line: beyond its
      * token count this throws as indexing the split array would. */
    def apply(k: Int): String = {
      trim(k)
      line.substring(from(k), to(k))
    }

    /** `apply(k) == s`, allocating nothing. */
    def is(k: Int, s: String): Boolean = {
      trim(k)
      to(k) - from(k) == s.length && line.startsWith(s, from(k))
    }

    /** `Integer.parseInt(apply(k))`, allocating nothing. */
    def int(k: Int): Int = {
      trim(k)
      Integer.parseInt(line, from(k), to(k), 10)
    }

    /** Narrows token k's bounds as `String.trim` would. */
    private def trim(k: Int): Unit = {
      if (k >= n) throw new ArrayIndexOutOfBoundsException(s"Index $k out of bounds for length $n")
      var s = from(k)
      var e = to(k)
      while (s < e && line.charAt(s) <= ' ') s += 1
      while (s < e && line.charAt(e - 1) <= ' ') e -= 1
      from(k) = s
      to(k) = e
    }
  }
}
