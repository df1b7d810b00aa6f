package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Tripwire for the skew caps during oracle-gated runs.
  *
  * Every skew cap in the engine (LSH bucket, shingle/containment df,
  * window df, media band, semantic cluster) is an `observe` node named
  * `graft.cap(...)` that records how many buckets/rows it excluded.
  * The caps are sized to NEVER fire on well-behaved corpora — but if a
  * future gated corpus ever grows one bucket past a cap, the capped
  * Spark result silently diverges from the uncapped SQL oracle and the
  * gate reports an opaque hash mismatch. This listener turns that
  * failure mode into an explicit, attributable signal: [[Verify]]
  * SKIPS (deletes the dump of) any query whose execution fired a cap
  * and counts it in its non-zero exit status.
  *
  * QueryExecutionListener events post asynchronously on the listener
  * bus, so [[drain]] first FLUSHES the bus (`LiveListenerBus
  * .waitUntilEmpty` via the `org.apache.spark.graftshim.BusFlush`
  * shim — the private[spark] await the public API lacks): with the
  * bus proven empty, per-query attribution in a single-threaded
  * runner is exact, not best-effort, and the end-of-run total cannot
  * undercount a tail event still in flight. If the bus's own timeout
  * trips (a stuck listener), drain falls back to a settle sleep.
  */
final class CapTripwire extends QueryExecutionListener {
  private val fired = new ConcurrentLinkedQueue[String]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft.cap(")) {
        // schema is (hot_count, excluded_sum) with site-specific field
        // names — any positive value means the cap excluded data.
        // Match numeric types DEFENSIVELY: a future cap site emitting a
        // non-Long field would otherwise throw inside the listener, be
        // swallowed by the bus, and silently disable the tripwire
        // (round-7 advice); non-numeric fields count as 0, never as a
        // crash
        val vals = (0 until row.length).map(i => row.get(i) match {
          // any numeric field counts (ceil: a fractional excluded sum
          // still flags); only genuinely non-numeric fields degrade to
          // 0 instead of crashing inside the swallowed listener
          case n: java.lang.Number => math.ceil(n.doubleValue()).toLong
          case _ => 0L
        })
        if (vals.exists(_ > 0L))
          fired.add(s"$name ${row.schema.fieldNames.zip(vals).map { case (f, v) => s"$f=$v" }.mkString(" ")}")
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()

  /** Remove and return everything observed so far, after flushing the
    * async listener bus so nothing attributable is still in flight. */
  def drain(spark: SparkSession): Seq[String] = {
    // the flush is best-effort: ANY failure of the private-API call —
    // the bus's own timeout (a stuck listener), a stopped-context
    // state exception, or a Spark-internal change — degrades to the
    // settle sleep rather than crashing the bench/verify caller. An
    // interrupt must NOT be swallowed — re-set the flag so the
    // caller's cancellation still lands
    try org.apache.spark.graftshim.BusFlush.waitEmpty(spark.sparkContext)
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => Thread.sleep(50L)
    }
    Iterator.continually(fired.poll()).takeWhile(_ != null).toSeq
  }
}

object CapTripwire {
  /** Register a tripwire on the session and return it. */
  def install(spark: SparkSession): CapTripwire = {
    val t = new CapTripwire
    spark.listenerManager.register(t)
    t
  }
}
