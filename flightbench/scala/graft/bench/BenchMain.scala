package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{CapTripwire, Sessions, SparkEntry}
import graft.jobs.JobsMain
import graft.operators.{Multimodal, Pipeline}
import graft.sources.{CaaCsv, Layout}
import graft.functions.{Ppm, Wav, Y4m}
import graft.streaming.StreamDoor

/** The measured JVM of the benchmark. One closed-loop load thread (this
  * one) runs a workload's pinned op list against the public entry points
  * of the graft modules and writes every measurement to `<work>/jvm.json`;
  * `run.py` checks the results and reduces them to the printed metrics.
  *
  * {{{
  * BenchMain --workload caa_punctuality|flight_olap
  *           --input <dir> --work <dir> --seed <n> --reps <k>
  *           --setups <k> --cpus <k> --trace 0|1
  *           [--tables <dir>] [--csv-sample <file>]
  * }}}
  */
object BenchMain {

  final case class Args(workload: String, input: String, work: Path, seed: Long,
                        reps: Int, setups: Int, cpus: Int, trace: Boolean,
                        tables: Option[String], csvSample: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), Paths.get(m("work")).toAbsolutePath, m("seed").toLong,
      m("reps").toInt, m("setups").toInt, m("cpus").toInt, m("trace") == "1",
      m.get("tables"), m.get("csv-sample"))
  }

  /** One timed or warm execution of a pinned name. */
  final case class Op(id: String, name: String, pass: String, wallS: Double,
                      buildS: Double, planS: Double, execS: Double, gcS: Double,
                      rows: Long, digest: String, capsFired: Int, traced: Boolean,
                      exchanges: Int, broadcasts: Int, fileScans: Int, error: String)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload, a.input)
    Files.createDirectories(a.work.resolve("wh"))
    Files.createDirectories(a.work.resolve("results"))
    val tracer = new Tracer(false)
    val tRun0 = System.nanoTime()
    val runStartMs = System.currentTimeMillis()

    // ---- set-up: session start plus the workload's own set-up, repeated
    // `setups` times; the last session stays up for the timed phases
    val setups = ArrayBuffer.empty[(Double, Double)]
    var spark: SparkSession = null
    for (i <- 1 to a.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.builder(a.cpus.toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("wh").toUri.toString)
        .config("spark.local.dir", a.work.resolve("tmp").toString)
        .getOrCreate()
      val t1 = System.nanoTime()
      spark.sparkContext.setLogLevel("ERROR")
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streaming)
      tracer.enabled = a.trace
      spark.sparkContext.setLocalProperty(Tracer.OpKey, s"setup$i")
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "setup")
      w.setUp(spark)
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      val t2 = System.nanoTime()
      tracer.span("phase", s"setup$i", "run", t0, t2)
      setups += (((t1 - t0) / 1e9, (t2 - t0) / 1e9))
    }
    val s = spark
    val sc = s.sparkContext
    val caps = CapTripwire.install(s)

    // ---- the workload's memoized artifacts, built cold once, then
    // looked up: a build that failed must not read as a fast run
    val tArt0 = System.nanoTime()
    sc.setLocalProperty(Tracer.OpKey, "artifacts")
    val artifacts = w.buildArtifacts(s)
    sc.setLocalProperty(Tracer.OpKey, null)
    tracer.span("phase", "artifacts", "run", tArt0, System.nanoTime())
    val missing = w.missingArtifacts(s)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    def runOp(id: String, name: String, pass: String, traced: Boolean): (Op, Array[Row], DataFrame) = {
      tracer.enabled = traced
      val g0 = gcMs()
      sc.setLocalProperty(Tracer.OpKey, id)
      var rows: Array[Row] = Array.empty
      var err = ""
      var df: DataFrame = null
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        df = w.frame(s, name)
        t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "plan")
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        rows = df.collect()
      } catch {
        case e: Throwable => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      val t3 = System.nanoTime()
      val gc = (gcMs() - g0) / 1e3
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      val fired = caps.drain(s)
      if (traced) {
        tracer.span("op", id, pass, t0, t3)
        tracer.span("build", s"$id.build", id, t0, t1)
        tracer.span("plan", s"$id.plan", id, t1, t2)
        tracer.span("exec", s"$id.exec", id, t2, t3)
      }
      val (ex, bc, fs) =
        if (traced && df != null && err.isEmpty) planCounts(df) else (0, 0, 0)
      tracer.enabled = false
      (Op(id, name, pass, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, gc, rows.length.toLong, digest(rows), fired.length, traced,
        ex, bc, fs, err), rows, df)
    }

    // ---- warm pass: every name once; its result is the reference the
    // timed ops must reproduce, and is written out for the oracle check.
    // The files each name's plan reads give its input bytes.
    val ops = ArrayBuffer.empty[Op]
    val inputs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    val tWarm0 = System.nanoTime()
    for (name <- w.names) {
      val (op, rows, df) = runOp(s"warm-$name", name, "warm", traced = false)
      ops += op
      if (op.error.isEmpty) {
        w.saveResult(s, name, rows, df, a.work.resolve("results"))
        inputs(name) = df.inputFiles.toSeq.sorted
      }
    }
    tracer.enabled = a.trace
    val tWarm1 = System.nanoTime()
    tracer.span("phase", "warm", "run", tWarm0, tWarm1)

    // ---- timed pass: a fixed op count in `reps` rounds; each round runs
    // every name once, in an order permuted by the seed, after a full GC.
    // A traced run executes each planned op twice in a row, untraced and
    // traced, for trace.overhead_frac; the twin that runs second
    // alternates, so neither always gets the warmer execution.
    val rng = new scala.util.Random(a.seed)
    val plan = Vector.fill(a.reps)(rng.shuffle(w.names)).flatten
    val tTimed0 = System.nanoTime()
    plan.zipWithIndex.foreach { case (name, i) =>
      if (i % w.names.size == 0) System.gc()
      val twins = if (!a.trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
      twins.foreach { traced =>
        ops += runOp(if (traced) s"x$i" else s"t$i", name, "timed", traced)._1
      }
    }
    val tTimed1 = System.nanoTime()
    tracer.enabled = a.trace
    tracer.span("phase", "timed", "run", tTimed0, tTimed1)

    // ---- direct timings of single layers (traced run only)
    val direct: Map[String, Double] = if (!a.trace) Map.empty else Map(
      "sources.csv_split_ns_per_line" -> a.csvSample.map(csvSplitNs).getOrElse(0.0),
      "functions.decode_mb_per_s" -> a.tables.map(d => decodeMbPerS(s, d)).getOrElse(0.0))
    // one stream door drained end to end (an AvailableNow micro-batch run
    // over the documents' incoming slice), seen by the query listener
    if (a.trace) a.tables.foreach(d => StreamDoor.streamExactDoor(s, d).count())

    // the live set: collect until the context cleaner has dropped what
    // the last ops left behind
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val liveHeapMb = mem.getUsed / 1048576.0
    try org.apache.spark.graftshim.BusFlush.waitEmpty(sc)
    catch { case scala.util.control.NonFatal(_) => Thread.sleep(200) }
    tracer.span("run", "run", "", tRun0, System.nanoTime())

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${q(a.workload)},"seed":${a.seed},"cpus":${a.cpus},"""
    json ++= s""""trace":${a.trace},"reps":${a.reps},"""
    json ++= s""""jvm_args":${arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.map(q))},"""
    json ++= s""""spark_conf":{${s.conf.getAll.toSeq.sorted.filter(_._1.startsWith("spark.sql.shuffle")).map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")},"master":${q(sc.master)}},"""
    json ++= s""""setups":${arr(setups.toSeq.map { case (ss, st) => s"""{"session_s":$ss,"setup_s":$st}""" })},"""
    json ++= s""""artifacts":{${artifacts.map { case (n, t) => s"${q(n)}:$t" }.mkString(",")}},"""
    json ++= s""""artifact_failures":${arr(missing.map(q))},"""
    json ++= s""""inputs":{${inputs.toSeq.map { case (n, fs) => s"${q(n)}:${arr(fs.map(q))}" }.mkString(",")}},"""
    json ++= s""""live_heap_mb":$liveHeapMb,"heap_max_mb":${mem.getMax / 1048576.0},"""
    json ++= s""""jvm_start_s":${(runStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3},"""
    json ++= s""""setup_wall_s":${(tWarm0 - tRun0) / 1e9},"warm_wall_s":${(tWarm1 - tWarm0) / 1e9},"""
    json ++= s""""timed_wall_s":${(tTimed1 - tTimed0) / 1e9},"after_timed_s":${(System.nanoTime() - tTimed1) / 1e9},"""
    json ++= s""""direct":{${direct.toSeq.sorted.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")}},"""
    if (a.trace) {
      val counters = Seq[(String, OpCounters => java.util.concurrent.atomic.AtomicLong)](
        "jobs" -> (_.jobs), "eager_jobs" -> (_.eagerJobs), "stages" -> (_.stages),
        "tasks" -> (_.tasks), "task_run_ms" -> (_.taskRunMs),
        "stage_wait_ms" -> (_.stageWaitMs), "bytes_read" -> (_.bytesRead),
        "records_read" -> (_.recordsRead), "bytes_written" -> (_.bytesWritten),
        "shuffle_write" -> (_.shuffleWrite), "shuffle_read" -> (_.shuffleRead),
        "spill" -> (_.spill))
      def block(prefix: String) =
        counters.map { case (k, f) => s"${q(k)}:${tracer.total(prefix)(f)}" }.mkString("{", ",", "}")
      json ++= s""""counters":{"timed":${block("x")},"setup":${block("setup")}},"""
      json ++= s""""streaming":{"batches":${tracer.streamBatches.get},"batch_s":${tracer.streamBatchMs.get / 1e3}},"""
      val spanPath = a.work.resolve("spans.jsonl")
      Files.write(spanPath, tracer.spans.asScala.toSeq.map { sp =>
        s"""{"kind":${q(sp.kind)},"name":${q(sp.name)},"parent":${q(sp.parent)},"start_ms":${num(sp.startMs)},"end_ms":${num(sp.endMs)}}"""
      }.asJava, UTF_8)
      json ++= s""""spans":${q(spanPath.toString)},"span_count":${tracer.spans.size},"""
    }
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => w.names.contains(n) }
    json ++= s""""oracles":{${oracles.toSeq.sorted.map { case (n, sql) => s"${q(n)}:${q(sql)}" }.mkString(",")}},"""
    json ++= s""""ops":${arr(ops.toSeq.map(opJson))}"""
    json ++= "}"
    Files.write(a.work.resolve("jvm.json"), json.toString.getBytes(UTF_8))
    s.stop()
  }

  /** Executed-plan node counts: shuffle exchanges, broadcast exchanges,
    * file scans (file-source and DataSource V2). */
  private def planCounts(df: DataFrame): (Int, Int, Int) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val nodes = Pipeline.flattenExecutedPlan(df.queryExecution.executedPlan)
    (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(n => n.isInstanceOf[FileSourceScanExec] || n.isInstanceOf[BatchScanExec]))
  }

  /** Results of the directly timed calls land here, so the JIT cannot
    * drop the calls as dead code. */
  @volatile private var sink = 0L

  /** SHA-256 over the rows in emitted order. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Median ns per line of CaaCsv.splitByComma over a CSV file, five
    * passes after one warm pass. */
  private def csvSplitNs(path: String): Double = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toArray
    val times = (0 until 6).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      var fields = 0L
      while (i < lines.length) { fields += CaaCsv.splitByComma(lines(i)).length; i += 1 }
      val t1 = System.nanoTime()
      sink += fields
      (t1 - t0).toDouble / lines.length
    }.drop(1).sorted
    times(times.length / 2)
  }

  /** Median MB/s of the PPM, WAV and Y4M decoders over the payload blobs
    * of the media tables, five passes after one warm pass. */
  private def decodeMbPerS(s: SparkSession, dir: String): Double = {
    def blobs(df: DataFrame): Array[Array[Byte]] =
      df.select("payload").limit(2000).collect().map(_.getAs[Array[Byte]](0))
    val ppm = blobs(Multimodal.ppmMediaTable(s, dir))
    val wav = blobs(Multimodal.wavMediaTable(s, dir))
    val y4m = blobs(Multimodal.y4mMediaTable(s, dir))
    val bytes = (ppm ++ wav ++ y4m).map(_.length.toLong).sum
    val rates = (0 until 6).map { _ =>
      val t0 = System.nanoTime()
      val ok = ppm.count(b => Ppm.decodeP6(b).isDefined) +
        wav.count(b => Wav.decodeWav(b).isDefined) + y4m.count(b => Y4m.decode(b).isDefined)
      val t1 = System.nanoTime()
      sink += ok
      bytes / 1048576.0 / ((t1 - t0) / 1e9)
    }.drop(1).sorted
    rates(rates.length / 2)
  }

  private def opJson(o: Op): String =
    s"""{"id":${q(o.id)},"name":${q(o.name)},"pass":${q(o.pass)},"wall_s":${o.wallS},""" +
      s""""build_s":${o.buildS},"plan_s":${o.planS},"exec_s":${o.execS},"gc_s":${o.gcS},""" +
      s""""rows":${o.rows},"digest":${q(o.digest)},"caps_fired":${o.capsFired},""" +
      s""""traced":${o.traced},"exchanges":${o.exchanges},"broadcasts":${o.broadcasts},""" +
      s""""file_scans":${o.fileScans},""" +
      s""""error":${q(o.error)}}"""

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  def q(v: String): String = {
    val b = new StringBuilder("\"")
    v.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** A workload: its pinned op names, its set-up, and how one op is built. */
trait Workload {
  def names: Vector[String]
  /** Workload set-up after the session starts. */
  def setUp(s: SparkSession): Unit
  /** Build the memoized artifacts the ops read; the seconds each took. */
  def buildArtifacts(s: SparkSession): Seq[(String, Double)] = Nil
  /** Artifacts the build should have left that are not in the catalog. */
  def missingArtifacts(s: SparkSession): Seq[String] = Nil
  def frame(s: SparkSession, name: String): DataFrame
  /** Write the warm-pass result of `name` for the out-of-JVM check. */
  def saveResult(s: SparkSession, name: String, rows: Array[Row], df: DataFrame,
                 dir: Path): Unit
}

object Workload {
  def apply(name: String, input: String): Workload = name match {
    case "caa_punctuality" => new CaaPunctuality(input)
    case "flight_olap"     => new FlightOlap(input)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's own jobs over CAA CSV: `JobsMain.run(spark, job, dir)`. */
final class CaaPunctuality(csvDir: String) extends Workload {
  val names: Vector[String] = Vector("Delay", "Late")
  def setUp(s: SparkSession): Unit = s.read.textFile(csvDir).inputFiles
  def frame(s: SparkSession, name: String): DataFrame = JobsMain.run(s, name, csvDir).toDF()
  def saveResult(s: SparkSession, name: String, rows: Array[Row], df: DataFrame,
                 dir: Path): Unit =
    Files.write(dir.resolve(s"$name.txt"), rows.toSeq.map(_.getString(0)).asJava, UTF_8)
}

/** Warm interactive star-schema queries over the sf0.1 Parquet snapshot:
  * the reference-parity shapes and the relational pool, from the query
  * registry. q07 reads the orderkey-bucketed lineitem and orders layout,
  * a memoized artifact built once per run, after the set-ups. */
final class FlightOlap(dir: String) extends Workload {
  val names: Vector[String] = FlightOlap.names
  private val registry = SparkEntry.queries

  def setUp(s: SparkSession): Unit = {
    // the set-up reads every table's footer, as a session's first
    // query would
    Files.list(Paths.get(dir)).iterator.asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
      .foreach(p => s.read.parquet(p).schema)
  }

  override def buildArtifacts(s: SparkSession): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Layout.bucketedLineitemOrders(s, dir)
    Seq("bucketed_lineitem_orders" -> (System.nanoTime() - t0) / 1e9)
  }

  override def missingArtifacts(s: SparkSession): Seq[String] =
    Seq("lineitem_bkt", "orders_bkt").map(Layout.tableName(dir, _))
      .filterNot(s.catalog.tableExists)

  def frame(s: SparkSession, name: String): DataFrame = registry(name)(s, dir)

  def saveResult(s: SparkSession, name: String, rows: Array[Row], df: DataFrame,
                 out: Path): Unit = {
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
  }
}

object FlightOlap {
  val names: Vector[String] = Vector(
    "q01_delay_avg", "q02_late_pct", "q04_repeat_visits", "q05_same_day_repeat",
    "q07_priority_revenue", "q08_active_segments",
    "q10_top_orders",
    "q17_date_buckets", "q33_cube", "q39_pivot", "q48_grouping_sets", "q53_subqueries")
}
