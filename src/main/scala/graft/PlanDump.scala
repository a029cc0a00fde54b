package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>.txt` — the plans/r{N} evidence artifact the
  * optimization rounds commit (the judge checks plan claims against
  * these files without running Spark).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <query> [query ...]
  *
  * Note: building the DataFrame executes any driver-side loop
  * actions inside iterative queries (collect-based convergence), so
  * the dump reflects the FINAL returned frame's plan; with AQE on,
  * the formatted string is the pre-execution adaptive plan
  * (isFinalPlan=false) — plan-shape claims (Exchange count, join
  * strategy, PushedFilters) are readable either way.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2))
    val spark = GraftSession.local(GraftSession.cpus, "graft-plandump")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/$n.txt"), txt)
      println(s"[plandump] wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
