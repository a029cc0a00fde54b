package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+: optional query-name filter (dev loop); the driver's
    // 2-arg invocation dumps every query, unchanged
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.local(GraftSession.cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // a query must leave the session conf as it found it
    // (GraftSession.withConf scopes); any key it changed is reported,
    // and any drift fails the run's exit code
    var drifted = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val (_, keys) = GraftSession.confDrift(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // drop the query's catalog-cache entries (persisted frames);
        // localCheckpoint blocks are not in that cache: Memo and
        // Fixpoint free their own
        spark.catalog.clearCache()
      }
      if (keys.nonEmpty) {
        drifted += 1
        System.err.println(s"[verify] conf drift: $name ${keys.mkString(",")}")
      }
    }
    System.err.println(s"[verify] conf drift: $drifted queries")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (drifted > 0) sys.exit(1)
  }
}
