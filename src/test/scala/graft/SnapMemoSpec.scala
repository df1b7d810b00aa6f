package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** The one per-snapshot memo ([[SnapMemo]]): builders may nest, a
  * same-key cycle fails loudly, a failed build is retried, concurrent
  * callers share one build, and sessions never share entries. */
class SnapMemoSpec extends SparkSpec {
  import spark.implicits._

  test("materializedTable builders nest: a table built inside another's builder") {
    // a fresh session starts with an empty memo; the three names share
    // one bucket of a 16-slot hash table — the layout under which a
    // gate built on one ConcurrentHashMap.computeIfAbsent threw
    // IllegalStateException("Recursive update") at the inner call
    val s = spark.newSession()
    val dir = "snapmemo-spec"
    val outer = Layout.materializedTable(s, dir, "nestouter") {
      Layout.materializedTable(s, dir, "nestinner11") {
        Layout.materializedTable(s, dir, "nestinner22") {
          s.range(5).toDF("id")
        }.select((col("id") * 2).as("id"))
      }.select((col("id") + 1).as("id"))
    }
    assert(outer.as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    assert(Layout.materializedTable(s, dir, "nestinner22")(s.range(0).toDF("id"))
      .as[Long].collect().sorted.toSeq == (0L until 5L))
  }

  test("a same-key cycle throws IllegalStateException naming the key") {
    val s = spark.newSession()
    val e = intercept[IllegalStateException] {
      SnapMemo(s, "d", "cyc")(SnapMemo(s, "d", "cyc")(1) + 1)
    }
    assert(e.getMessage.contains("cyc"), e.getMessage)
    // the failed build left no entry
    assert(SnapMemo(s, "d", "cyc")(7) == 7)
  }

  test("a throwing builder leaves no entry: the next call builds again") {
    val s = spark.newSession()
    val runs = new AtomicInteger()
    intercept[RuntimeException] {
      SnapMemo[Int](s, "d", "flaky") { runs.incrementAndGet(); throw new RuntimeException("boom") }
    }
    assert(SnapMemo(s, "d", "flaky") { runs.incrementAndGet(); 42 } == 42)
    assert(SnapMemo(s, "d", "flaky") { runs.incrementAndGet(); 0 } == 42)
    assert(runs.get == 2)
  }

  test("two threads asking for one key run its builder once") {
    val s = spark.newSession()
    val runs = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            SnapMemo(s, "d", "shared") { Thread.sleep(200); runs.incrementAndGet() }
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get(30, TimeUnit.SECONDS)) == Seq(1, 1))
      assert(runs.get == 1)
    } finally pool.shutdownNow()
  }

  test("two sessions do not share entries") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    assert(SnapMemo(s1, "d", "k")("one") == "one")
    assert(SnapMemo(s2, "d", "k")("two") == "two")
    assert(SnapMemo(s1, "d", "k")("again") == "one")
  }
}
