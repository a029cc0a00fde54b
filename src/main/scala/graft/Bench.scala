package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Benchmark main: times every SparkEntry query, or the queries named
  * as arguments, at `SPARK_GRAFT_SF_DIR` on `SPARK_GRAFT_CPUS` threads.
  * One cold sweep measures each query once, in name order, with its jobs
  * and executor CPU; a query that throws or drifts the session conf is
  * named in `failed`. A reading far above its expected wall ([[Board.expected]])
  * ran under contention. The queries with the largest `wall - expected`
  * are re-run once each until the re-runs have spent 15% of the sweep's
  * wall; each query keeps its min. No history is consulted. The JSON line
  * is printed every 25 queries, after the sweep and at the end (last line
  * wins), so a killed run keeps every time it measured.
  *
  * Usage: runMain graft.Bench [query ...]
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus, "graft-bench")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => args.isEmpty || args.contains(n) }
    val board = new Board(spark, sfDir, cpus, queries)
    board.failed ++= warmUp(spark, sfDir)
    board.sweep()
    println(board.json(partial = true))
    board.reRun()
    board.probe()
    println(board.json(partial = false))
    spark.stop()
  }

  type Query = (SparkSession, String) => DataFrame

  /** Jobs, stages, tasks and executor CPU on one session since [[reset]]. */
  final class Counters extends SparkListener {
    val jobs, stages, tasks = new AtomicInteger
    val cpuNs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(t.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); cpuNs.set(0) }
  }
  def counters(s: SparkSession): Counters = { val c = new Counters; s.sparkContext.addSparkListener(c); c }

  /** One measured pass: seconds (Left if the query threw), counts and the conf keys it changed. */
  final case class Pass(time: Either[Throwable, Double], jobs: Int, stages: Int, tasks: Int, cpuS: Double, drift: Seq[String])

  /** The measured pass of Bench and JobCensus: reset the memos (a cold pipeline) and
    * counters, write to the noop sink (every column materialized, nothing shipped) under
    * job description `name`, drain the listener bus so the counts are the query's own,
    * clear the cache. A bus that does not drain fails the pass: its counts are not the
    * query's. So does a query that leaves the session conf changed. */
  def measure(s: SparkSession, c: Counters, sfDir: String, name: String, q: Query): Pass = {
    Memo.reset()
    val settled = Bridge.drainListenerBus(s)
    c.reset()
    s.sparkContext.setJobDescription(name)
    val (time, drift) = GraftSession.confDrift(s) {
      val t0 = System.nanoTime()
      try {
        q(s, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable => Left(e) }
      finally s.sparkContext.setJobDescription(null)
    }
    val counted = Bridge.drainListenerBus(s)
    s.catalog.clearCache()
    Pass(time.filterOrElse(_ => settled && counted, new TimeoutException("listener bus did not drain"))
      .filterOrElse(_ => drift.isEmpty, new IllegalStateException(s"conf drift: ${drift.mkString(",")}")),
      c.jobs.get, c.stages.get, c.tasks.get, c.cpuNs.get / 1e9, drift)
  }

  /** Runs each labelled step; returns the labels of those that threw, printed on stderr. */
  private def failures(steps: Seq[(String, () => Any)]): Seq[String] =
    steps.flatMap { case (label, step) =>
      try { step(); Nil }
      catch { case e: Throwable => System.err.println(s"[bench] $label failed: $e"); Seq(label) }
    }

  private def secs(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  /** The warm-up of Bench and JobCensus: every table's footer-schema job
    * ([[Tables.load]]) is paid here, so a query's job count does not depend
    * on which queries ran before it; q1, a document scan and q29 (which
    * builds its bucketed table) warm codegen. Returns the failed steps. */
  def warmUp(s: SparkSession, sfDir: String): Seq[String] = failures(
    Tables.names.map(t => s"warmup:$t" -> (() => Tables.load(s, sfDir, t))) ++
      Seq("q1_pricing_summary", "text_token_stats", "q29_bucketed_join")
        .map(q => s"warmup:$q" -> (() => SparkEntry.queries(q)(s, sfDir).count())))

  /** The re-run order: queries with wall above expected that did not fail, largest
    * excess first, taken while the spend so far is below `budget`. `cost(q)` is what
    * re-running q spent; the bench passes the re-run itself (measured spend). */
  def reruns(excess: Seq[(String, Double)], failed: String => Boolean, budget: Double)(cost: String => Double): Seq[(String, Double)] = {
    var spent = 0.0
    excess.filter { case (q, e) => e > 0 && !failed(q) }.sortBy { case (q, e) => (-e, q) }
      .takeWhile { case (q, _) => spent < budget && { spent += cost(q); true } }
  }

  /** A query's successful passes: min, sum and count. */
  final case class Timing(min: Double, sum: Double, n: Int) { def +(t: Double) = Timing(math.min(min, t), sum + t, n + 1) }

  /** One board run: the sweep, the re-runs and the JSON line. */
  final class Board(s: SparkSession, sfDir: String, cpus: Int, queries: Seq[(String, Query)]) {
    private val counters = Bench.counters(s)
    val times = mutable.LinkedHashMap[String, Timing]()
    val counts = mutable.LinkedHashMap[String, (Int, Double)]() // jobs, cpu_s of the sweep pass
    val failed = mutable.LinkedHashSet[String]()
    val drift = mutable.LinkedHashMap[String, Seq[String]]()
    val calibrations, latencies = mutable.ArrayBuffer[Double]()
    var rerun: Seq[(String, Double)] = Nil
    var sweepSec, rerunSec = 0.0

    /** Readings only: a fixed in-memory aggregation (box CPU speed) and
      * 10 empty jobs (job-dispatch latency; the sweep's L). */
    def probe(): Unit = {
      calibrations += secs(s.range(500000000L).selectExpr("sum(id * 2 + 1)").collect())
      latencies += secs((1 to 10).foreach(_ => s.range(1L).count()))
    }

    /** Measures `name` once and min-merges a successful pass. */
    def run(name: String, q: Query): Pass = {
      val p = measure(s, counters, sfDir, name, q)
      if (p.drift.nonEmpty) drift(name) = (drift.getOrElse(name, Nil) ++ p.drift).distinct
      p.time match {
        case Left(e) => System.err.println(s"[bench] $name failed: $e"); failed += name
        case Right(t) => times(name) = times.get(name).fold(Timing(t, t, 1))(_ + t)
      }
      p
    }

    def sweep(): Unit = {
      if (latencies.isEmpty) probe()
      sweepSec = secs(queries.zipWithIndex.foreach { case ((name, q), i) =>
        val p = run(name, q)
        if (p.time.isRight) counts(name) = (p.jobs, p.cpuS)
        if ((i + 1) % 50 == 0 && i + 1 < queries.size) probe()
        if ((i + 1) % 25 == 0 && i + 1 < queries.size) println(json(partial = true))
      })
    }

    /** A swept query's expected wall: its executor CPU spread over the
      * cpus plus its jobs at the quietest latency of the run, so a probe
      * taken under contention does not excuse the readings taken with it. */
    def expected(name: String): Double = { val (jobs, cpu) = counts(name); cpu / cpus + jobs * latencies.min / 10 }
    def excess: Seq[(String, Double)] = counts.keys.toSeq.map(n => n -> (times(n).min - expected(n)))

    def reRun(): Unit = rerunSec = secs {
      val fns = queries.toMap
      rerun = reruns(excess, failed, 0.15 * sweepSec)(n => secs(run(n, fns(n))))
    }

    def json(partial: Boolean): String = {
      def obj[V](m: Iterable[(String, V)])(f: V => Any): String =
        m.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      def strs(xs: Iterable[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${times.values.map(_.min).sum},"unit":"sec","agg":"min","mode":"cold",""" +
        s""""partial":$partial,"completed":${times.size},"of":${queries.size},"failed":${strs(failed)},""" +
        s""""sweep_sec":$sweepSec,"rerun_sec":$rerunSec,""" +
        s""""reruns":${obj(rerun)(identity)},"calibration_sec":${calibrations.mkString("[", ",", "]")},""" +
        s""""latency_sec":${latencies.mkString("[", ",", "]")},"queries":${obj(times)(_.min)},""" +
        s""""queries_mean":${obj(times)(t => t.sum / t.n)},"queries_passes":${obj(times)(_.n)},""" +
        s""""queries_jobs":${obj(counts)(_._1)},"queries_cpu_s":${obj(counts)(_._2)},""" +
        s""""queries_expected_s":${obj(counts.keys.map(n => n -> expected(n)))(identity)},"conf_drift":${obj(drift)(strs)},"sf":"$sfDir"}"""
    }
  }
}
