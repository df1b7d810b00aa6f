package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits with
  * the number of queries that threw or were skipped for a fired skew
  * cap (capped at 255), after every dump and oracle_sql.json are
  * written — a failure is counted, never only printed. Exits 2 before
  * running anything when SPARK_GRAFT_ONLY names an unknown query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY: optional comma-separated name filter (dev only;
    // the driver always runs the full set). A name that matches no
    // query is an error: a typo would otherwise filter out every
    // query and pass with nothing checked.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val unknown = only.fold(Set.empty[String])(_ -- SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] SPARK_GRAFT_ONLY names no query: " +
        unknown.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Skew-cap tripwire: a query whose execution fired any graft.cap()
    // metric produced a CAPPED result the uncapped SQL oracle cannot
    // match — deleting its dump makes the gate record an explicit
    // error for that query instead of an opaque hash mismatch.
    val caps = CapTripwire.install(spark)
    caps.drain(spark) // discard anything from session warmup
    var failed = 0
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val hit = caps.drain(spark)
        if (hit.nonEmpty) {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$outDir/$name"))
          failed += 1
          System.err.println(s"[verify] $name SKIPPED: skew cap fired (capped result " +
            s"cannot match the uncapped oracle): ${hit.mkString("; ")}")
        }
      }
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query may still have fired caps on partial
        // executions — drain them HERE so they are not attributed to
        // the next query's dump
        caps.drain(spark).foreach(c =>
          System.err.println(s"[verify] $name fired during failure: $c"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed or were skipped")
      sys.exit(math.min(failed, 255))
    }
  }
}
