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

  /** The oracle's shard formula, `Pipeline.shardAssign`'s twin: the
    * top 3 bits of the salted md5 position of `doc_id`. */
  private[graft] def shardIdSql(salt: String): String =
    s"""CAST(('0x' || substr(md5('$salt' || doc_id), 1, 8))
       |           AS BIGINT) // 536870912 AS shard_id""".stripMargin

  private def ones(n: Int): String = Seq.fill(n)("CAST(1 AS BIGINT)").mkString(", ")

  private val unionAll = "\n  UNION ALL\n  "

  /** `n` numbered decision rows `width` columns wide: decision i is
    * (99 + i, 1, 1, ...). */
  private[graft] def decisionRowsSql(width: Int, n: Int): String =
    (0 until n).map(i =>
      s"SELECT CAST(${99 + i} AS BIGINT), ${ones(2)},\n         ${ones(width - 3)}")
      .mkString(unionAll)

  /** One named decision row per name for a phased census (phase,
    * shard_id, n_docs, sum_chars, checksum): ('zz_<name>', 0, 1, 1, 1)
    * — the `zz_` phase sorts after every census phase. */
  private[graft] def namedDecisionRowsSql(names: String*): String =
    names.map(nm =>
      s"SELECT 'zz_$nm', CAST(0 AS BIGINT),\n         ${ones(3)}")
      .mkString(unionAll)

  /** The oracle of a SHARD-CENSUS GATE. Such a gate writes a layout,
    * reads it back and censuses it per shard as (shard_id, n_docs,
    * sum_chars, checksum), the checksum summing the 32-bit md5
    * prefixes of `doc_id|n_chars|lang|md5(text)`; then it appends one
    * row per decision it checked (`Pipeline.decisionRows`). The oracle
    * re-derives that census RAW from the rows of `from` (a relation,
    * optionally with its `WHERE`) through the salted shard formula
    * ([[shardIdSql]]) — files, codecs, manifests and streams appear
    * nowhere — and predicts every decision as held, a constant-1 row
    * ([[decisionRowsSql]]). `ctes` are leading CTE definitions `from`
    * may name, each ending in `,\n`. DuckDB text only: the builder
    * calls no Spark code, so each oracle stays an independent
    * derivation. */
  private[graft] def censusOracleSql(salt: String, from: String, decisions: Int,
      ctes: String = ""): String =
    censusSql(salt, from, ctes, None, decisionRowsSql(4, decisions))

  /** [[censusOracleSql]] with a leading `phase` column: the census rows
    * carry `phase`, and the decisions are named rows
    * ([[namedDecisionRowsSql]], `Pipeline.namedDecisionRows`). */
  private[graft] def phasedCensusOracleSql(salt: String, from: String, phase: String,
      decisions: Seq[String], ctes: String = ""): String =
    censusSql(salt, from, ctes, Some(phase), namedDecisionRowsSql(decisions: _*))

  private def censusSql(salt: String, from: String, ctes: String,
      phase: Option[String], decisions: String): String = {
    val (cols, head, key) = phase match {
      case None => ("shard_id", "", 1)
      case Some(p) => ("phase, shard_id", s"'$p' AS phase, ", 2)
    }
    mat(
      s"""WITH ${ctes}a AS (
         |  SELECT doc_id, text, lang, n_chars,
         |         ${shardIdSql(salt)}
         |  FROM $from)
         |SELECT $cols, n_docs, sum_chars, checksum FROM (
         |  SELECT ${head}CAST(shard_id AS BIGINT) AS shard_id,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |         CAST(sum(CAST('0x' || substr(md5(
         |           CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR) ||
         |           '|' || lang || '|' || md5(text)), 1, 8) AS BIGINT)) AS BIGINT)
         |           AS checksum
         |  FROM a GROUP BY $key
         |  UNION ALL
         |  $decisions) t
         |ORDER BY $cols""".stripMargin)
  }
}
