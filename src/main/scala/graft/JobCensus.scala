package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** One-pass census of driver-side scheduling cost per query: jobs,
  * stages and tasks submitted while each SparkEntry query builds and
  * runs through the noop sink. On a host with slow thread wakeups
  * (the r17 box intermittently dispatches at ~1-3 ms/task and
  * ~30-100 ms/job — measured with an empty-job probe), wall time is
  * `real work + jobs·J + tasks·T`, so this table is the targeting
  * list for guide §2.4 "remove shuffles outright" work: a query with
  * 40 jobs pays ~4 s of pure scheduling before any byte is
  * processed.
  *
  * Usage: runMain graft.JobCensus [sfDir] [query ...]
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only = args.drop(1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-jobcensus")

    val jobs = new AtomicInteger(); val stages = new AtomicInteger()
    val tasks = new AtomicInteger(); val cpuNs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach(m => cpuNs.addAndGet(m.executorCpuTime))
      }
    })

    // warmup (mirrors Bench) so counts are steady-state
    try SparkEntry.queries.get("q1_pricing_summary").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }

    println("query\tjobs\tstages\ttasks\tcpu_s\tsec")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        SparkEntry.resetMemos()
        spark.sparkContext.setJobDescription(name)
        // drain the async listener bus to quiescence (no counter
        // movement for 200 ms) so counts attribute to the right query
        def drain(): Unit = {
          var last = (jobs.get, stages.get, tasks.get); var quiet = 0
          while (quiet < 2) {
            Thread.sleep(100)
            val now = (jobs.get, stages.get, tasks.get)
            if (now == last) quiet += 1 else { quiet = 0; last = now }
          }
        }
        drain()
        jobs.set(0); stages.set(0); tasks.set(0); cpuNs.set(0)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          drain()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"$name%s\t${jobs.get}%d\t${stages.get}%d\t${tasks.get}%d\t${cpuNs.get / 1e9}%.2f\t$dt%.2f")
        } catch { case e: Throwable =>
          // 6 columns like every other row (r17 ADVICE: a 3-field row
          // breaks TSV consumers), and drain so a failed query's
          // straggling jobs don't leak into the next query's counts
          drain()
          println(s"$name\tERR\tERR\tERR\tERR\t${e.getClass.getSimpleName}")
        }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
