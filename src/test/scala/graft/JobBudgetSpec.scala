package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.jobs.JobsMain
import graft.sources.Layout

/** Per-op Spark job budgets: a gate that host steal cannot move. Jobs
  * per op do not drift from run to run, so a change that adds a job to
  * a benchmark op (an eager `count()`, a lost broadcast, a schema
  * inference at build) fails here even when it hides in the
  * benchmark's run-to-run spread.
  *
  * For each of `flight_olap`'s 12 queries over the benchmark's sf0.1
  * snapshot (read only), and for the paper's two CAA jobs over a small
  * fixture, it counts the jobs fired while BUILDING the frame and
  * while COLLECTING it, after one warm pass (the benchmark times warm
  * ops too). Building fires none: `Tables` reads through a warm
  * schema handle and q07's bucketed layout is built before the warm
  * pass. A change that moves a count updates its entry here and names
  * it in CHANGES.md. */
class JobBudgetSpec extends SparkSpec {
  import JobBudgetSpec.jobsDuring

  private val olapDir = "flightbench/sf0.1"

  /** `flight_olap`'s queries (the benchmark's `FlightOlap.names`) ->
    * (jobs while building, jobs while collecting). */
  private val olapBudget: Seq[(String, (Int, Int))] = Seq(
    "q01_delay_avg" -> (0, 4),
    "q02_late_pct" -> (0, 4),
    "q04_repeat_visits" -> (0, 4),
    "q05_same_day_repeat" -> (0, 5),
    "q07_priority_revenue" -> (0, 5),
    "q08_active_segments" -> (0, 5),
    "q10_top_orders" -> (0, 1),
    "q17_date_buckets" -> (0, 4),
    "q33_cube" -> (0, 4),
    "q39_pivot" -> (0, 5),
    "q48_grouping_sets" -> (0, 4),
    "q53_subqueries" -> (0, 8))

  /** The paper's jobs: the in-mapper combiner's partials shuffle once,
    * so each runs a map job and a final job. */
  private val caaBudget: Seq[(String, (Int, Int))] = Seq(
    "Delay" -> (0, 2),
    "Late" -> (0, 2))

  private def check(measured: Seq[(String, (Int, Int))], budget: Seq[(String, (Int, Int))]) = {
    val off = measured.zip(budget).collect {
      case ((n, got), (_, want)) if got != want =>
        s"$n: (build, collect) jobs $got, budget $want"
    }
    assert(off.isEmpty, off.mkString("\n") + "\nall measured: " + measured.mkString(", "))
  }

  test("flight_olap: building a query fires no job; collecting it fires its budget") {
    val q = SparkEntry.queries
    Layout.bucketedLineitemOrders(spark, olapDir)
    olapBudget.foreach { case (n, _) => q(n)(spark, olapDir).collect() }
    val measured = olapBudget.map { case (n, _) =>
      val (df, build) = jobsDuring(spark, n)(q(n)(spark, olapDir))
      val (_, collect) = jobsDuring(spark, n)(df.collect())
      n -> ((build, collect))
    }
    check(measured, olapBudget)
  }

  test("caa_punctuality: the Delay and Late jobs fire no job in build and two per collect") {
    val dir = Files.createTempDirectory("graft-caa-budget")
    val csv = Files.write(dir.resolve("caa.csv"), java.util.Arrays.asList(
      "01-Jan-2018,201101,LUTON,GB,X,ALPHA AIR,D,S,10,0,0,0,40,10,0,0,2.0,0,0,0,0",
      "01-Jan-2018,201101,LUTON,GB,X,ALPHA AIR,A,S,5,0,0,0,0,0,0,0,1.0,0,0,0,0",
      "01-Feb-2018,201102,LEEDS,GB,Y,BETA AIR,D,C,4,0,0,0,0,0,0,0,8.5,0,0,0,0"))
    try {
      caaBudget.foreach { case (n, _) => JobsMain.run(spark, n, dir.toString).collect() }
      val measured = caaBudget.map { case (n, _) =>
        val (ds, build) = jobsDuring(spark, n)(JobsMain.run(spark, n, dir.toString))
        val (_, collect) = jobsDuring(spark, n)(ds.collect())
        n -> ((build, collect))
      }
      check(measured, caaBudget)
    } finally {
      Files.delete(csv)
      Files.delete(dir)
    }
  }
}

object JobBudgetSpec {
  private val OpKey = "graft.spec.op"

  /** `body`'s value and the Spark jobs it fired: jobs carrying this
    * thread's op tag (a local property, which Spark hands on to the
    * broadcast and adaptive-stage jobs a query spawns), so a job from
    * another thread — a stream an earlier spec left running — is not
    * counted. */
  def jobsDuring[T](s: SparkSession, op: String)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val tag = s"$op#${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(OpKey) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(OpKey, tag)
    try {
      val v = body
      org.apache.spark.graftshim.BusFlush.waitEmpty(sc)
      (v, n.get)
    } finally {
      sc.setLocalProperty(OpKey, null)
      sc.removeSparkListener(l)
    }
  }
}
