package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SnapMemo

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All tables are read as Parquet so scans go through Spark's vectorized
  * columnar reader and Catalyst pushes filters / prunes columns into the
  * `FileSourceScanExec` (check `PushedFilters` / `ReadSchema` in
  * `.explain("formatted")`). At cluster scale these would be
  * partitioned/bucketed datasets; the loaders keep that concern in one
  * place so a `spark.read.table(...)` catalog swap is a one-line change.
  *
  * Each table is read through a SCHEMA HANDLE: a bare
  * `spark.read.parquet(path)` runs one Spark job per call to infer the
  * schema from a footer, so every query build would pay a job per table
  * it reads. The handle caches the inferred `StructType` in
  * [[graft.SnapMemo]] under (session, dir, `schema#<name>#<fingerprint>`),
  * where the fingerprint ([[fingerprint]]) digests the table path's
  * current file listing. Every load re-lists the path (one driver-side
  * `listStatus`, no job) and reads with `spark.read.schema(st)`, so a
  * query build runs no Spark job once its tables' handles are warm. A
  * table rewritten under the same path lists differently, gets a new
  * key and is inferred again: the handle never serves a schema the
  * files on disk no longer carry. */
object Tables {

  /** The snapshot identity of a table path: a digest of the sorted
    * (path, length, mtime) of its `FileSystem.listStatus` — one
    * driver-side listing, no Spark job. A directory table lists its
    * part files; a single-file table lists itself. It does not see a
    * rewrite that keeps every file's name and length and lands within
    * the filesystem's mtime granularity, nor a change below a
    * subdirectory (only the subdirectory's own entry is listed). */
  private[graft] def fingerprint(s: SparkSession, path: String): String = {
    val (fs, p) = Layout.hfs(s, path)
    val listing = fs.listStatus(p).toSeq
      .map(st => s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}").sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listing.mkString("\n").getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val st = SnapMemo(s, dir, s"schema#$name#${fingerprint(s, path)}") {
      s.read.parquet(path).schema
    }
    s.read.schema(st).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** events.ts normalization, tolerant of the two parquet encodings the
    * driver's generator has shipped:
    *
    *  - TIMESTAMP(NANOS) (rounds ≤ 7), which Spark 4 does not map to a
    *    Catalyst type: with `spark.sql.legacy.parquet.nanosAsLong=true`
    *    (set in [[graft.Sessions.builder]]) the column arrives as a
    *    nanosecond long, converted here with exact integral division
    *    (`div`, not `/` — float division's 256 ns ULP at ~1.7e18 ns
    *    could flip the truncated microsecond), matching DuckDB's
    *    ns→us cast;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 8 testdata),
    *    which Spark reads as TIMESTAMP_NTZ: cast to the session-zone
    *    TimestampType (session TZ is pinned UTC) so every downstream
    *    consumer keeps seeing the same instants DuckDB reads.
    *
    * Dispatch is on the REALIZED schema, not the round number, so the
    * loader keeps working against either generation of the files; that
    * schema is the handle's, so the dispatch runs no job. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
