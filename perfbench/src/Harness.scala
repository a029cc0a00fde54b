package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry, Tables}
import graft.operators.{Dedup, Text}
import graft.sinks.SinkRegistry
import graft.sources.SourceRegistry

/** In-process side of the benchmark. It drives the engine only through
  * its public entry points (GraftSession, SparkEntry, SourceRegistry,
  * SinkRegistry) from one thread, one operation at a time, and writes
  * what it measured to `<out>/result.json` for run.py.
  *
  * Modes:
  *  - `board`: builds a session, runs a fixed warm-up, then makes
  *    `passes` passes over the query mix in the given order. Each
  *    query starts with cold engine memos and an empty cache, is
  *    built, then collected. The first result of each query is dumped
  *    as parquet for the oracle check; every later one must equal it.
  *  - `etl`: the CLI's conversion steps in-process (spool, source,
  *    sink), so the traced run can split a conversion into layers.
  *
  * With `trace 1` it listens through Spark's public listeners and
  * keeps spans in memory until the end. Traced and untraced passes
  * alternate so the run can report the tracing overhead.
  */
object Harness {

  private val OpKey = "perfbench.op"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val res = a("mode") match {
      case "board" => board(a, out)
      case "etl"   => etl(a, out)
    }
    Files.writeString(out.resolve("result.json"), Json.render(res - "spans"))
    Files.writeString(out.resolve("spans.json"), Json.render(res("spans")))
  }

  // ---- clock, spans and listeners ----------------------------------

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(op: String, name: String, parent: String, start: Double, end: Double) {
    def json: Map[String, Any] =
      Map("op" -> op, "name" -> name, "parent" -> parent, "start_ms" -> start, "end_ms" -> end)
  }

  /** Per-operation counters, filled from listener events. */
  final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, spill = 0L
    var planMs = 0L
    var batches, triggerMs = 0L
    val stateRows = mutable.Map[UUID, Long]()
    val taskIntervals = mutable.ArrayBuffer[(Double, Double)]()
    val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
  }

  /** Spark, Catalyst and streaming listeners attributing events to the
    * operation that caused them: by the `perfbench.op` local property
    * (inherited by stream threads), else by the operation whose time
    * window holds the event. */
  final class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer[Span]()
    private val aggs = mutable.Map[String, Agg]()
    private val windows = mutable.ArrayBuffer[(String, Double, Double)]()
    private val stageOp = mutable.Map[Int, String]()
    private val jobOp = mutable.Map[Int, (String, Long)]()
    private val runOp = mutable.Map[UUID, String]()
    @volatile var current: String = "setup"
    @volatile private var events = 0L

    def agg(op: String): Agg = synchronized(aggs.getOrElseUpdate(op, new Agg))
    def span(s: Span): Unit = synchronized { spans += s }
    def open(op: String, start: Double): Unit = synchronized { windows += ((op, start, Double.MaxValue)) }
    def close(op: String, end: Double): Unit = synchronized {
      val i = windows.lastIndexWhere(_._1 == op)
      if (i >= 0) windows(i) = windows(i).copy(_3 = end)
    }
    private def opAt(t: Double): String = synchronized {
      windows.findLast(w => w._2 <= t && t <= w._3).map(_._1).getOrElse("setup")
    }
    private def tick(): Unit = events += 1

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        tick()
        val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse(opAt(e.time.toDouble))
        jobOp(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageOp(_) = op)
        agg(op).jobs += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        tick()
        jobOp.remove(e.jobId).foreach { case (op, start) =>
          agg(op).jobIntervals += ((start.toDouble, e.time.toDouble))
          spans += Span(op, s"spark.job.${e.jobId}", op, start.toDouble, e.time.toDouble)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
        tick()
        stageOp.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        tick()
        stageOp.get(e.stageId).foreach { op =>
          val a = agg(op)
          a.tasks += 1
          if (e.reason != Success) a.failedTasks += 1
          a.taskIntervals += ((e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble))
          val m = e.taskMetrics
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.runMs += m.executorRunTime
            a.gcMs += m.jvmGCTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.diskBytesSpilled
          }
        }
      }
    }

    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
      private def plan(qe: QueryExecution): Unit = Tracer.this.synchronized {
        tick()
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) agg(opAt(phases.map(_.startTimeMs).min.toDouble)).planMs += phases.map(_.durationMs).sum
      }
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = Tracer.this.synchronized {
        tick(); runOp(e.runId) = current
      }
      override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
        tick()
        val p = e.progress
        runOp.get(p.runId).foreach { op =>
          val a = agg(op)
          a.batches += 1
          a.triggerMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
          a.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
        }
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = Tracer.this.synchronized(tick())
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }
    def detach(): Unit = {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }

    /** Waits until the asynchronous listener buses have gone quiet. */
    def drain(): Unit = {
      var last = -1L
      var quiet = 0
      val deadline = System.nanoTime() + 10e9.toLong
      while (quiet < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = events
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
    }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  // ---- contention stamp ---------------------------------------------

  /** Mean milliseconds of ten one-task jobs, after one untimed job. */
  def jobLatencyMs(spark: SparkSession): Double = {
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val t0 = nowMs
    (1 to 10).foreach(_ => spark.sparkContext.parallelize(Seq(1), 1).count())
    (nowMs - t0) / 10
  }

  /** Seconds for a fixed single-thread computation in this JVM. */
  def cpuProbeS(): Double = {
    val t0 = nowMs
    var h = 0L
    var i = 0L
    while (i < 200000000L) { h = h * 6364136223846793005L + i; i += 1 }
    if (h == 42) println("")
    (nowMs - t0) / 1e3
  }

  def probes(spark: SparkSession): Map[String, Any] =
    Map("job_latency_ms" -> jobLatencyMs(spark), "cpu_probe_s" -> cpuProbeS())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  // ---- board ---------------------------------------------------------

  /** Order-independent text form of a result: columns by name, rows sorted. */
  def canonical(rows: Array[Row], names: Seq[String]): Seq[String] = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    rows.toSeq.map(r => order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
  }

  def board(a: Map[String, String], out: Path): Map[String, Any] = {
    val launched = a("launched-ms").toDouble
    val sf = a("sf")
    val trace = a("trace") == "1"
    val mix = a("mix").split(",").toSeq
    val passes = a("passes").toInt

    val t0 = nowMs
    val spark = GraftSession.local(a("cpus").toInt, "perfbench")
    val sessionBuild = (nowMs - t0) / 1e3
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    tracer.span(Span("setup", "session.build", "", t0, nowMs))

    val first = mutable.Map[String, (Array[Row], StructType, Seq[String])]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()

    def runPass(pass: Int, traced: Boolean): Unit = mix.foreach { name =>
      Dedup.resetMemos(); Text.resetMemos(); spark.catalog.clearCache()
      val id = s"$pass:$name"
      val conf0 = if (traced) spark.conf.getAll else Map.empty[String, String]
      tracer.current = id
      sc.setLocalProperty(OpKey, id)
      val s0 = nowMs
      tracer.open(id, s0)
      var s1, s2 = Double.NaN
      val outcome: Either[String, (Array[Row], StructType)] =
        try {
          val df = SparkEntry.queries(name)(spark, sf)
          s1 = nowMs
          val rows = df.collect()
          s2 = nowMs
          Right((rows, df.schema))
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val s3 = nowMs
      tracer.close(id, s3)
      sc.setLocalProperty(OpKey, null)
      tracer.current = "setup"
      val drift = traced && spark.conf.getAll != conf0
      var rec = Map[String, Any]("id" -> id, "name" -> name, "pass" -> pass, "traced" -> traced,
        "start_ms" -> s0, "end_ms" -> s3, "wall_s" -> (s3 - s0) / 1e3, "conf_drift" -> drift)
      outcome match {
        case Left(err) => rec += ("error" -> err)
        case Right((rows, schema)) =>
          if (traced) {
            tracer.span(Span(id, "query.build", id, s0, s1))
            tracer.span(Span(id, "query.exec", id, s1, s2))
          }
          rec ++= Map("build_s" -> (s1 - s0) / 1e3, "exec_s" -> (s2 - s1) / 1e3, "rows" -> rows.length)
          val canon = canonical(rows, schema.fieldNames.toSeq)
          first.get(name) match {
            case None => first(name) = (rows, schema, canon)
            case Some((_, _, c)) => rec += ("same_as_first" -> (c == canon))
          }
      }
      ops += rec
    }

    // the fixed warm-up. The engine infers each table's schema once per
    // JVM, in a one-task job (graft.Tables): loading every table here
    // pays those jobs in set-up, so a query's job count does not depend
    // on which query the seed puts first. Then three rounds of a plain
    // join, aggregate and sort, so the JIT has compiled the common scan,
    // shuffle and codegen paths before the first measured query. The
    // session is ready after it.
    val tables = Files.list(Paths.get(sf)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .map(t => t -> Tables.load(spark, sf, t)).toMap
    (1 to 3).foreach { _ =>
      val (c, o) = (tables("customer"), tables("orders"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)), sum("o_totalprice"))
        .orderBy("o_orderpriority").collect()
    }
    val setupS = (nowMs - launched) / 1e3
    tracer.span(Span("setup", "warmup", "", t0 + sessionBuild * 1e3, nowMs))
    val before = probes(spark)

    // a traced run alternates traced and untraced passes, the first
    // traced: the traced third pass sits between two untraced ones
    var pass = 0
    while (pass < passes) {
      pass += 1
      val traced = trace && pass % 2 == 1
      if (trace) { if (traced) tracer.attach() else tracer.detach() }
      runPass(pass, traced)
    }
    if (trace) tracer.detach()
    val after = probes(spark)
    // the first result of each query goes to parquet for the oracle check
    first.foreach { case (name, (rows, schema, _)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.parquet(out.resolve("results").resolve(name).toString)
    }
    val heapPeak = heapPeakMb()
    spark.stop()

    Map("setup_s" -> setupS, "session_build_s" -> sessionBuild, "ops" -> ops.toSeq,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) },
      "passes" -> (1 to pass).map(p => Map("pass" -> p, "traced" -> (trace && p % 2 == 1))),
      "probes_before" -> before, "probes_after" -> after, "heap_peak_mb" -> heapPeak,
      "traces" -> (if (trace) traceRecords(tracer, ops.toSeq) else Nil),
      "spans" -> tracer.spans.map(_.json).toSeq)
  }

  /** One record of listener counters per traced operation. */
  def traceRecords(tracer: Tracer, ops: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
    ops.filter(_("traced") == true).map { o =>
      val id = o("id").toString
      val g = tracer.agg(id)
      val (lo, hi) = (o("start_ms").asInstanceOf[Double], o("end_ms").asInstanceOf[Double])
      Map("id" -> id, "name" -> o("name"), "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
        "failed_tasks" -> g.failedTasks, "executor_cpu_s" -> g.cpuNs / 1e9,
        "executor_run_s" -> g.runMs / 1e3, "gc_s" -> g.gcMs / 1e3,
        "shuffle_write_mb" -> g.shuffleWrite / 1e6, "spill_mb" -> g.spill / 1e6,
        "busy_s" -> covered(g.taskIntervals.toSeq, lo, hi) / 1e3,
        "plan_ms" -> g.planMs, "stream_batches" -> g.batches, "stream_trigger_ms" -> g.triggerMs,
        "stream_state_rows" -> g.stateRows.values.sum)
    }

  // ---- etl -----------------------------------------------------------

  /** Converts `<data>/full.csv` to JSON and `<data>/full.prn` to HTML
    * the way graft.Cli does (latin1 stdin spooled to a UTF-8 file, then
    * the source and sink registries), traced. This first round runs in
    * a fresh JVM like the CLI does and gives the per-layer figures.
    * Then prn->html runs untraced, traced and untraced again, for the
    * tracing overhead. Each output is compared with the generator's
    * bytes. */
  def etl(a: Map[String, String], out: Path): Map[String, Any] = {
    val data = Paths.get(a("data"))
    val t0 = nowMs
    val spark = GraftSession.builder(s"local[${a("cpus")}]", 32).appName("graft-cli").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionBuild = (nowMs - t0) / 1e3
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    tracer.span(Span("setup", "session.build", "", t0, nowMs))
    val before = probes(spark)

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val both = Seq("csv" -> "json", "prn" -> "html")
    Seq(both, both.tail, both.tail, both.tail).zipWithIndex.foreach { case (conversions, round) =>
      val traced = round % 2 == 0
      if (traced) tracer.attach() else tracer.detach()
      conversions.foreach { case (in, fmt) =>
        val id = s"${round + 1}:$in-$fmt"
        resetHeapPeak()
        tracer.current = id
        sc.setLocalProperty(OpKey, id)
        val s0 = nowMs
        tracer.open(id, s0)
        val spool = out.resolve(s"spool.$in")
        val text = new String(Files.readAllBytes(data.resolve(s"full.$in")), StandardCharsets.ISO_8859_1)
        Files.write(spool, text.getBytes(StandardCharsets.UTF_8))
        val s1 = nowMs
        var s2 = Double.NaN
        val rendered =
          try {
            val df = SourceRegistry(in)(spark, spool.toString, SourceRegistry.SourceOptions(",", "UTF-8"))
            s2 = nowMs
            Right(SinkRegistry(fmt)(df))
          } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
        val s3 = nowMs
        tracer.close(id, s3)
        sc.setLocalProperty(OpKey, null)
        tracer.current = "setup"
        val bytes = rendered.map(_.getBytes(StandardCharsets.UTF_8)).getOrElse(Array.emptyByteArray)
        val ok = rendered.isRight &&
          java.util.Arrays.equals(bytes, Files.readAllBytes(data.resolve(s"full.$fmt")))
        if (traced) {
          tracer.span(Span(id, "cli.spool", id, s0, s1))
          tracer.span(Span(id, "sources.build", id, s1, s2))
          tracer.span(Span(id, "sinks.render", id, s2, s3))
        }
        ops += Map("id" -> id, "name" -> s"$in-$fmt", "pass" -> (round + 1), "traced" -> traced,
          "start_ms" -> s0, "end_ms" -> s3, "wall_s" -> (s3 - s0) / 1e3,
          "spool_s" -> (s1 - s0) / 1e3, "source_s" -> (s2 - s1) / 1e3, "sink_s" -> (s3 - s2) / 1e3,
          "sink_start_ms" -> s2, "output_mb" -> bytes.length / 1e6, "heap_peak_mb" -> heapPeakMb(),
          "conf_drift" -> false, "correct" -> ok, "error" -> rendered.left.toOption)
      }
    }
    tracer.detach()
    val after = probes(spark)
    spark.stop()
    val traces = traceRecords(tracer, ops.toSeq).zip(ops.filter(_("traced") == true)).map { case (t, o) =>
      val (lo, hi) = (o("sink_start_ms").asInstanceOf[Double], o("end_ms").asInstanceOf[Double])
      t + ("sink_job_s" -> covered(tracer.agg(o("id").toString).jobIntervals.toSeq, lo, hi) / 1e3)
    }
    Map("session_build_s" -> sessionBuild, "ops" -> ops.toSeq, "probes_before" -> before,
      "probes_after" -> after, "traces" -> traces, "spans" -> tracer.spans.map(_.json).toSeq,
      "heap_peak_mb" -> ops.filter(_("pass") == 1).map(_("heap_peak_mb").asInstanceOf[Double]).max)
  }
}

/** Minimal JSON writer for the harness's maps, sequences and scalars. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
