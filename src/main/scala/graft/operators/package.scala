package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {
  /** A named query: builds a DataFrame from (session, testdata dir). */
  type Q = (SparkSession, String) => DataFrame

  /** (name, spark query, optional DuckDB oracle SQL).
    * Names carry a numeric prefix so driver output lists group logically. */
  final case class QueryDef(name: String, q: Q, oracle: Option[String])

  /** Force every named CTE of a DuckDB oracle MATERIALIZED (DuckDB
    * default-inlines CTEs, which re-opens the backing parquet per
    * reference — a deep chain then dies on "Too many open files" and
    * re-derives shared relations per consumer; the unrolled Lloyd
    * chains reference their predecessor CTE ~3× per iteration, so at
    * `Similarity.LloydIters` = 4 inlining re-evaluates the whole
    * training chain O(3^iters) times — measured: q90's oracle 30 s →
    * 2 s at sf0.01). Pure evaluation-strategy hint; results are
    * identical, and the rewrite is idempotent (the rewritten text no
    * longer matches the pattern). ONE definition for every oracle
    * author (round-11 advice — two private copies were drifting).
    * SAFETY CAVEAT: the rewrite is textual — it matches any
    * `<word> AS (` substring, so an oracle must never carry that
    * pattern inside a string literal (none does — column aliases have
    * no paren, CASTs have no AS-paren, and window clauses read
    * `OVER (`; a future one would corrupt the SQL silently — grep
    * before quoting parentheses). */
  private[graft] def mat(sql: String): String =
    sql.replaceAll("(\\w+) AS \\(", "$1 AS MATERIALIZED (")

  /** The oracle side of `Dedup.censusRow`'s checksum: the sum of the
    * 32-bit md5 prefixes of `key` (a SQL string expression), 0 over
    * no rows, as BIGINT. */
  private[graft] def h32(key: String): String =
    s"CAST(coalesce(sum(CAST('0x' || substr(md5($key), 1, 8) AS BIGINT)), 0) AS BIGINT)"
}
