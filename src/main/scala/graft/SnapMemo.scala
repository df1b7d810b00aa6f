package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one per-snapshot memo: a value (or a write) built once per
  * (session, dir, what) and handed to every later caller — the
  * in-session stand-in for "run once per corpus snapshot". Every
  * written-artifact gate (`Layout.materializedTable` and its kin) and
  * every memoized driver-side scalar or array (the ANN quantizers,
  * sample and probe set, the BPE merges) goes through [[apply]].
  * Both kinds share one name space per (session, dir): table gates use
  * the table's lower-case `what`, value memos a camelCase name
  * (`ivfCents` beside the `ivfcents` table), so the two never meet.
  *
  * Each entry is a CELL built under its own lock, never inside a map
  * operation, so a builder may ask for any other key — a quantizer
  * memo that trains from the sample memo, a materialized table whose
  * build reads another materialized table. A builder that throws
  * leaves the cell unbuilt and the next caller builds again;
  * concurrent callers of one key wait for its single build; a
  * same-thread cycle on one key throws IllegalStateException naming
  * the key instead of recursing.
  *
  * WEAKLY keyed by session: a long-running multi-session driver stops
  * sessions and builds new ones, and a strongly-keyed map would pin
  * every dead session (and through it the whole SparkContext object
  * graph) forever. Values must be plain data — never DataFrames,
  * which hold a reference back to their session and would defeat the
  * weak keys — so a stopped session's entries are collectable as soon
  * as the caller drops it. */
private[graft] object SnapMemo {
  private final class Cell {
    @volatile var built = false
    var value: Any = _
    var builder: Thread = _
  }

  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), Cell]]())

  def apply[T](s: SparkSession, dir: String, what: String)(build: => T): T = {
    val cell = bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[(String, String), Cell]())
      .computeIfAbsent((dir, what), _ => new Cell)
    if (!cell.built) cell.synchronized {
      if (!cell.built) {
        if (cell.builder eq Thread.currentThread)
          throw new IllegalStateException(s"SnapMemo: cyclic build of ($dir, $what)")
        cell.builder = Thread.currentThread
        try { cell.value = build; cell.built = true }
        finally cell.builder = null
      }
    }
    cell.value.asInstanceOf[T]
  }
}
