package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Stage-attribution profiler: runs one named SparkEntry query under a
  * SparkListener that dumps per-stage wall/cpu/tasks/shuffle bytes
  * (the CLAUDE.md-sanctioned attribution method — per-stage persist+
  * count profiling distorts, and cold vs warm differs 2-3x, so this
  * runs two passes and labels them).
  *
  * Usage: runMain graft.Profile <queryName> [sfDir]
  */
object Profile {
  private case class StageRow(id: Int, name: String, wallMs: Long, cpuMs: Long,
      gcMs: Long, tasks: Int, shufReadMB: Double, shufWriteMB: Double)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.local(GraftSession.cpus, "graft-profile")

    val stages = ArrayBuffer.empty[StageRow]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90), wall,
            m.executorCpuTime / 1000000, m.jvmGCTime, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    })

    // 10ms sampler over executor task threads: top-of-stack attribution
    // for CPU-heavy stages (the listener only says WHICH stage, not WHY).
    val samples = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
            // first frame below generated/reflective glue that names real code
            val frame = st.find { e =>
              val c = e.getClassName
              !c.startsWith("java.") && !c.startsWith("jdk.") && !c.startsWith("scala.runtime")
            }.getOrElse(st.head)
            val key = frame.getClassName + "." + frame.getMethodName
            samples.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // comma-separated names profile back-to-back in one JVM (r18):
    // the ~45s sbt+session startup dominated single-query profiling
    name.split(",").map(_.trim).filter(_.nonEmpty).foreach { qn =>
      val fn = SparkEntry.queries(qn)
      (1 to 2).foreach { pass =>
        Memo.reset()
        stages.synchronized(stages.clear())
        samples.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (pass == 2 && sys.env.contains("GRAFT_PROFILE_PLAN"))
          println(df.queryExecution.executedPlan.toString)
        spark.catalog.clearCache()
        println(f"== pass $pass: $qn%s ${dt}%.2fs total ==")
        println(f"${"stage"}%6s ${"wall_ms"}%8s ${"cpu_ms"}%8s ${"gc_ms"}%7s ${"tasks"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s  name")
        stages.synchronized(stages.sortBy(-_.wallMs)).foreach { r =>
          println(f"${r.id}%6d ${r.wallMs}%8d ${r.cpuMs}%8d ${r.gcMs}%7d ${r.tasks}%6d ${r.shufReadMB}%8.1f ${r.shufWriteMB}%8.1f  ${r.name}")
        }
        println(s"-- top sampled frames (pass $pass) --")
        import scala.jdk.CollectionConverters._
        samples.asScala.toSeq.sortBy(-_._2.get).take(20).foreach { case (k, v) =>
          println(f"${v.get}%8d  $k")
        }
      }
    }
    sampling = false
    spark.stop()
  }
}
