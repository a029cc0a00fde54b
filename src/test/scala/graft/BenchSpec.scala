package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

/** [[Bench]]'s measured pass, its re-run order and its min-merge. */
class BenchSpec extends SparkSpec {
  private val q1 = SparkEntry.queries("q1_pricing_summary")

  /** A query that runs q1, and `onRerun` before every call after its first. */
  private def rerunsDiffer(onRerun: () => Unit): Bench.Query = {
    var calls = 0
    (s, d) => {
      calls += 1
      if (calls > 1) onRerun()
      q1(s, d)
    }
  }

  test("two measured passes of q1_pricing_summary give equal jobs and cpu_s > 0") {
    Tables.names.foreach(Tables.load(spark, sfDir, _)) // footer-schema jobs, outside the passes
    val c = Bench.counters(spark)
    val Seq(a, b) = Seq.fill(2)(Bench.measure(spark, c, sfDir, "q1_pricing_summary", q1))
    assert(a.time.isRight && b.time.isRight)
    assert(a.jobs > 0 && a.jobs == b.jobs, s"jobs ${a.jobs} vs ${b.jobs}")
    assert(a.tasks >= a.jobs && a.cpuS > 0 && b.cpuS > 0)
    assert(a.drift.isEmpty && b.drift.isEmpty)
  }

  test("the re-run order ranks by excess, stops once the budget is spent and skips failures") {
    val excess = Seq("a" -> 1.0, "b" -> 5.0, "c" -> -2.0, "d" -> 3.0, "f" -> 9.0, "e" -> 3.0)
    val cost = Map("a" -> 1.0, "b" -> 2.0, "d" -> 2.0, "e" -> 1.0)
    def order(budget: Double): Seq[String] = {
      val charged = Seq.newBuilder[String]
      val out = Bench.reruns(excess, Set("f"), budget) { q => charged += q; cost(q) }
      assert(charged.result() == out.map(_._1), "only selected queries are charged")
      out.map(_._1)
    }
    assert(order(100) == Seq("b", "d", "e", "a"), "largest excess first, ties by name")
    assert(order(3) == Seq("b", "d"), "the query that crosses the budget is the last")
    assert(order(2) == Seq("b"))
    assert(order(0).isEmpty)
    assert(order(3) == order(3))
    assert(Bench.reruns(excess, Set("f"), 2)(cost) == Seq("b" -> 5.0), "stamps the excess at selection")
  }

  test("a re-run that fails or is slower never raises a stamped min") {
    val queries = Seq(
      "fails" -> rerunsDiffer(() => throw new IllegalStateException("re-run fails")),
      "slower" -> rerunsDiffer(() => Thread.sleep(1500)))
    val board = new Bench.Board(spark, sfDir, 4, queries)
    board.sweep()
    val swept = board.times.toMap
    board.sweepSec = 1000.0 // a budget for both re-runs
    board.counts.mapValuesInPlace((_, _) => (0, 0.0)) // expected 0: both re-run
    board.reRun()
    assert(board.rerun.map(_._1).toSet == Set("fails", "slower"))
    assert(board.times("fails") == swept("fails"), "a failed re-run merges nothing")
    assert(board.times("slower").min == swept("slower").min)
    assert(board.times("slower").n == 2 && board.times("slower").sum > swept("slower").sum + 1.5)
    assert(board.failed.toSeq == Seq("fails"))
  }

  test("a latency probe taken under contention does not excuse a slow reading") {
    val slow: Bench.Query = (s, d) => { Thread.sleep(1000); q1(s, d) }
    val board = new Bench.Board(spark, sfDir, 4, Seq("slow" -> slow))
    board.latencies ++= Seq(0.01, 100.0) // a quiet probe, then one at 10 s a job
    board.sweep()
    val excess = board.excess.toMap
    assert(excess("slow") > 0.9, s"excess ${excess("slow")}")
    assert(board.expected("slow") < board.times("slow").min - 0.9)
  }

  test("a listener bus that does not drain in time returns false, it does not throw") {
    val gate = new CountDownLatch(1)
    val blocker = new SparkListener { override def onJobStart(j: SparkListenerJobStart): Unit = gate.await() }
    spark.sparkContext.addSparkListener(blocker)
    try {
      spark.range(1).count()
      assert(!Bridge.drainListenerBus(spark, 200))
    } finally { gate.countDown(); spark.sparkContext.removeSparkListener(blocker) }
    assert(Bridge.drainListenerBus(spark))
  }

  test("a query that throws gets no time and is named in failed") {
    val board = new Bench.Board(spark, sfDir, 4,
      Seq("boom" -> ((_, _) => throw new RuntimeException("boom")), "q1_pricing_summary" -> q1))
    board.sweep()
    assert(board.failed.toSeq == Seq("boom"))
    assert(board.times.keySet == Set("q1_pricing_summary") && board.counts.keySet == Set("q1_pricing_summary"))
    val json = board.json(partial = false)
    assert(json.contains("\"completed\":1,\"of\":2,\"failed\":[\"boom\"]"))
    assert(!json.contains("\"boom\":"), json)
  }

  test("a query that leaves the session conf changed gets no time and is named in failed") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getAll.get(key)
    val drifts: Bench.Query = (s, d) => { s.conf.set(key, "7"); q1(s, d) }
    val board = new Bench.Board(spark, sfDir, 4, Seq("drifts" -> drifts, "q1_pricing_summary" -> q1))
    try board.sweep()
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(board.failed.toSeq == Seq("drifts"))
    assert(board.drift.toMap == Map("drifts" -> Seq(key)))
    assert(board.times.keySet == Set("q1_pricing_summary"))
    assert(board.json(partial = false).contains("\"failed\":[\"drifts\"]"))
  }
}
