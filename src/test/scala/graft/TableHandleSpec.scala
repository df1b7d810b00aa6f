package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, TimestampType}
import graft.sources.{Layout, Tables}

/** Snapshot identity of the `Tables` schema handle: the schema a load
  * reads with is keyed by the table path's listing fingerprint, so a
  * table overwritten under the same path within one session is read
  * with the files' new schema and rows, never a schema memoized from
  * the old files. A warm handle reads without a Spark job.
  *
  * What the fingerprint cannot see, and this spec therefore does not
  * try: a rewrite that keeps every file's name and byte length and
  * lands within the filesystem's mtime granularity. Spark's writers
  * name each file with a fresh job id, so an overwrite through Spark
  * always lists differently. */
class TableHandleSpec extends SparkSpec {

  private def withTableDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-handle").toString
    try body(dir) finally Layout.deleteWarehouseDir(spark, dir)
  }

  test("an overwrite under a Tables path is read with its new schema, then its new rows") {
    import spark.implicits._
    withTableDir { dir =>
      val path = s"$dir/orders.parquet"
      Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment").write.parquet(path)
      val first = Tables.orders(spark, dir)
      assert(first.columns.toSeq == Seq("o_orderkey", "o_comment"))
      assert(first.orderBy("o_orderkey").collect().toSeq == Seq(Row(1L, "a"), Row(2L, "b")))
      val fp1 = Tables.fingerprint(spark, path)
      val (_, warmJobs) = JobBudgetSpec.jobsDuring(spark, "handle")(Tables.orders(spark, dir))
      assert(warmJobs == 0, "a warm handle inferred the schema again")
      assert(Tables.fingerprint(spark, path) == fp1, "an unchanged listing changed its fingerprint")

      // another schema: an added column
      Seq((3L, "c", 7)).toDF("o_orderkey", "o_comment", "o_extra")
        .write.mode("overwrite").parquet(path)
      val fp2 = Tables.fingerprint(spark, path)
      assert(fp2 != fp1)
      val second = Tables.orders(spark, dir)
      assert(second.columns.toSeq == Seq("o_orderkey", "o_comment", "o_extra"),
        "the rewritten table was read with the schema of the files it replaced")
      assert(second.schema("o_extra").dataType == IntegerType)
      assert(second.collect().toSeq == Seq(Row(3L, "c", 7)))

      // the same schema, other rows
      Seq((4L, "d", 8), (5L, "e", 9)).toDF("o_orderkey", "o_comment", "o_extra")
        .write.mode("overwrite").parquet(path)
      assert(Tables.fingerprint(spark, path) != fp2)
      val third = Tables.orders(spark, dir)
      assert(third.columns.toSeq == Seq("o_orderkey", "o_comment", "o_extra"))
      assert(third.orderBy("o_orderkey").collect().toSeq == Seq(Row(4L, "d", 8), Row(5L, "e", 9)))
    }
  }

  test("events' timestamp dispatch follows the rewritten files' encoding") {
    import spark.implicits._
    withTableDir { dir =>
      val path = s"$dir/events.parquet"
      val at = LocalDateTime.of(2024, 3, 1, 12, 0, 0, 123456000)
      // TIMESTAMP_NTZ (MICROS): cast to the session-zone timestamp
      Seq((1L, at)).toDF("event_id", "ts").write.parquet(path)
      val ntz = Tables.events(spark, dir)
      assert(ntz.schema("ts").dataType == TimestampType)
      val expected = ntz.select($"ts".cast("long")).head().getLong(0)

      // the same instant as a nanosecond long: the integral div branch
      val nanos = at.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + at.getNano + 789L
      Seq((1L, nanos)).toDF("event_id", "ts").write.mode("overwrite").parquet(path)
      val fromLong = Tables.events(spark, dir)
      assert(fromLong.schema("ts").dataType == TimestampType,
        "the long-encoded rewrite was dispatched on the replaced files' schema")
      assert(fromLong.select($"ts".cast("long")).head().getLong(0) == expected)
      assert(fromLong.select(org.apache.spark.sql.functions.unix_micros($"ts")).head()
        .getLong(0) == nanos / 1000)
    }
  }
}
