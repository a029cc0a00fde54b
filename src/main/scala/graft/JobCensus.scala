package graft

/** One-pass census of driver-side scheduling cost per query: jobs,
  * stages, tasks and executor CPU submitted while each SparkEntry
  * query builds and runs through the noop sink, cold and measured by
  * [[Bench.measure]], the pass Bench uses. On a
  * host with slow thread wakeups (the r17 box intermittently
  * dispatches at ~1-3 ms/task and ~30-100 ms/job — measured with an
  * empty-job probe), wall time is `real work + jobs·J + tasks·T`, so
  * this table is the targeting list for guide §2.4 "remove shuffles
  * outright" work: a query with 40 jobs pays ~4 s of pure scheduling
  * before any byte is processed.
  *
  * Usage: runMain graft.JobCensus [sfDir] [query ...]
  */
object JobCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only = args.drop(1).toSet
    val spark = GraftSession.local(GraftSession.cpus, "graft-jobcensus")
    val counters = Bench.counters(spark)
    Bench.warmUp(spark, sfDir)

    println("query\tjobs\tstages\ttasks\tcpu_s\tsec")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val p = Bench.measure(spark, counters, sfDir, name, fn)
        p.time match {
          case Right(dt) =>
            println(f"$name%s\t${p.jobs}%d\t${p.stages}%d\t${p.tasks}%d\t${p.cpuS}%.2f\t$dt%.2f")
          // 6 columns like every other row (a 3-field row breaks TSV consumers)
          case Left(e) => println(s"$name\tERR\tERR\tERR\tERR\t${e.getClass.getSimpleName}")
        }
      }
    spark.stop()
  }
}
