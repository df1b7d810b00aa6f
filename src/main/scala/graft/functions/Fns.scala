package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared column-level building blocks.
  *
  * Everything here is a pure Catalyst `Column` expression (codegen'd,
  * whole-stage-compatible) — no Scala UDFs. Several helpers are designed
  * for *bit-exact* cross-engine parity with the DuckDB oracle:
  *
  *  - [[javaRound]]  reproduces Java `Math.round` = `floor(x + 0.5)`
  *    (half-up toward +inf), the rounding the reference uses when
  *    reconstructing weighted counts (reference `Program/Delay.java:78`,
  *    `Program/Late.java:61`). Spark's `round` is HALF_UP *away from
  *    zero*, which differs on negative halves.
  *  - [[hash32]] / [[hash60]]  portable deterministic hashes built on
  *    `md5` (identical in Spark and DuckDB), unlike Spark's murmur3
  *    `hash()` which no other engine reproduces.
  *  - [[money]]  casts 2-decimal monetary doubles to `DECIMAL(18,2)` so
  *    sums are exact and associative — immune to partition-order
  *    differences between engines and between runs.
  */
object Fns {

  /** Java `Math.round` semantics: floor(x + 0.5), as a LongType column.
    *
    * One documented divergence from a MODERN JVM's Math.round: for the
    * single double 0.49999999999999994 (largest double < 0.5),
    * floor(x + 0.5) double-rounds the sum up to 1.0 while JDK ≥ 7u40
    * (JDK-8010430) computes the exact real x+0.5 first and returns 0.
    * Both engines' oracles and the CAA-fidelity goldens use this same
    * floor formula, so cross-engine hashes are unaffected; the caveat
    * matters only for byte-parity against a reference run whose data
    * contains that exact double (CAA percentages/delays do not). */
  def javaRound(c: Column): Column = floor(c + lit(0.5)).cast(LongType)

  /** Portable unsigned 32-bit hash as a non-negative long.
    * Spark:  conv(substr(md5(x),1,8),16,10)
    * DuckDB: CAST('0x' || substr(md5(x),1,8) AS BIGINT)
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Portable 60-bit fingerprint (15 hex digits — fits a signed long). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Exact money: testdata prices/balances carry exactly 2 decimals. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 2-decimal rate (discount/tax in [0,1)). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact TPC-H style revenue term: price * (1 - discount), all decimal. */
  def revenue(price: Column, discount: Column): Column =
    money(price) * (lit(1) - rate(discount))

  /** Whitespace tokens of a text column, empty strings dropped.
    * DuckDB twin: list_filter(string_split(text, ' '), x -> x <> '') */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** Word k-shingles over a token array (k consecutive tokens joined by a
    * single space). Empty result if fewer than k tokens.
    * DuckDB twin: t[i] || ' ' || t[i+1] || ... over unnest(range(...)). */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (1 to k).map(off => element_at(toks, i + off)): _*))
    ).otherwise(array().cast(ArrayType(StringType)))

  /** Canonical text for exact dedup: trim, collapse runs of spaces,
    * lowercase. DuckDB twin: lower(trim(regexp_replace(text,' +',' ','g'))). */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, " +", " ")))

  /** Quantize a float/double vector to exact 1e-6 integer units. All
    * downstream dot products / norms are then exact BIGINT arithmetic —
    * order-independent (safe under any partitioning / AQE re-plan) and
    * bit-identical across engines, unlike float accumulation.
    * DuckDB twin: list_transform(v, x -> CAST(round(CAST(x AS DOUBLE)*1000000, 0) AS BIGINT)). */
  def quantize(a: Column): Column =
    transform(a, v => round(v.cast(DoubleType) * lit(1000000L)).cast(LongType))

  /** Exact integer dot product of two quantized vectors. This,
    * [[qcosine]] and [[qdotStatic]] are the reference implementations
    * `QDotSpec` and `FnsSpec` check [[qdotNative]] against; query code
    * calls [[qdotNative]] / [[qcosineNative]]. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact integer squared norm of a quantized vector. */
  def qnorm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, v) => acc + v)

  /** Deterministic cosine from quantized vectors: exact integer dot and
    * norms, one double division at the end — the same bits in Spark and
    * DuckDB (qn ≤ dim·1e12 < 2^53, so the int→double conversions are
    * exact; * and sqrt are IEEE-defined). */
  def qcosine(qa: Column, qb: Column, qna: Column, qnb: Column): Column =
    qdot(qa, qb).cast(DoubleType) /
      sqrt(qna.cast(DoubleType) * qnb.cast(DoubleType))

  /** Statically unrolled integer dot product for a known dimension.
    * Higher-order functions (`aggregate`/`zip_with`) are interpreted
    * per-row in Spark — catastrophic inside an all-pairs join. A fixed
    * 64-term `element_at` chain stays inside whole-stage codegen and is
    * ~10× faster on the hot path. Semantically identical to [[qdot]]. */
  def qdotStatic(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  /** The native-`Expression` dot product ([[graft.functions.QDot]],
    * registered by [[graft.Sessions]] via SparkSessionExtensions):
    * identical Long arithmetic to [[qdot]]/[[qdotStatic]], but compiled
    * as one tight loop inside whole-stage codegen — no interpreted
    * lambdas, no dim-sized expression tree. Preferred on hot paths. */
  def qdotNative(a: Column, b: Column): Column =
    call_function("qdot_native", a, b)

  /** [[qcosine]] on the native dot product. */
  def qcosineNative(qa: Column, qb: Column, qna: Column, qnb: Column): Column =
    qdotNative(qa, qb).cast(DoubleType) /
      sqrt(qna.cast(DoubleType) * qnb.cast(DoubleType))
}
