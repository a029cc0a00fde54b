package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.{Dedup, Maintenance, Text}

/** [[Memo]]: one entry per kind for one (session, dir), replaced on a
  * different key, dropped by one reset. */
class MemoSpec extends SparkSpec {
  private def checkpoint(n: Long): DataFrame = spark.range(n).toDF("id").localCheckpoint()
  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  /** The kinds of `kinds` with a live entry for (spark, sfDir). A probe of
    * a dead kind leaves a null entry behind: reset after calling this. */
  private def live(kinds: Seq[String]): Set[String] =
    kinds.filter { k => var hit = true; Memo.get[Any](k, spark, sfDir) { hit = false; null }; hit }.toSet

  test("a second get returns the same instance and runs no job") {
    val c = Bench.counters(spark)
    try {
      val a = Memo.get("memo_spec_same", spark, sfDir)(checkpoint(10))
      assert(Bridge.drainListenerBus(spark))
      c.reset()
      val b = Memo.get("memo_spec_same", spark, sfDir)(checkpoint(10))
      assert(Bridge.drainListenerBus(spark))
      assert(b eq a)
      assert(c.jobs.get == 0)
    } finally { spark.sparkContext.removeSparkListener(c); Memo.reset() }
  }

  test("a different dir replaces the entry and frees the old checkpoint's RDD") {
    try {
      val a = Memo.get("memo_spec_dir", spark, "dir_a")(checkpoint(10))
      assert(spark.sparkContext.getPersistentRDDs.contains(rddId(a)))
      val b = Memo.get("memo_spec_dir", spark, "dir_b")(checkpoint(20))
      assert(b.count() == 20)
      assert(!spark.sparkContext.getPersistentRDDs.contains(rddId(a)), "the replaced checkpoint is freed")
      assert(spark.sparkContext.getPersistentRDDs.contains(rddId(b)))
      assert(Memo.get("memo_spec_dir", spark, "dir_b")(checkpoint(30)) eq b)
    } finally Memo.reset()
  }

  test("reset drops every kind, Text's and Maintenance's included") {
    val kinds = Seq("word", "lsh_pairs", "cluster_labels", "lm_scored", "bpe_merges_k", "insert_key_offset", "z_maxima")
    try {
      Memo.reset()
      // each builds its memos while the frame is constructed
      Dedup.qClusters(spark, sfDir)
      Text.qLmScore(spark, sfDir)
      Text.qBpeTrainK(spark, sfDir)
      Maintenance.qMergeUpsert(spark, sfDir)
      Maintenance.qZOrder(spark, sfDir)
      assert(live(kinds) == kinds.toSet)
      val held = rddId(Dedup.lshPairs(spark, sfDir))
      Memo.reset()
      assert(!spark.sparkContext.getPersistentRDDs.contains(held))
      assert(live(kinds).isEmpty)
    } finally Memo.reset()
  }

  test("a build that throws memoizes nothing") {
    try {
      intercept[IllegalStateException] {
        Memo.get[Int]("memo_spec_throws", spark, sfDir)(throw new IllegalStateException("build fails"))
      }
      var built = false
      assert(Memo.get("memo_spec_throws", spark, sfDir) { built = true; 7 } == 7)
      assert(built, "the failed build left no entry")
    } finally Memo.reset()
  }

  test("two kinds build at the same time") {
    val entered, release = new CountDownLatch(1)
    try {
      val slow = Future {
        Memo.get("memo_spec_slow", spark, sfDir) { entered.countDown(); release.await(); 1 }
      }
      entered.await()
      // while the first build holds its kind, a second kind builds and returns
      val fast = Future(Memo.get("memo_spec_fast", spark, sfDir)(2))
      assert(Await.result(fast, 1.minute) == 2)
      release.countDown()
      assert(Await.result(slow, 1.minute) == 1)
    } finally { release.countDown(); Memo.reset() }
  }

  test("src/main holds no hand-rolled (session, dir) memo and no bench-only memo tier") {
    import scala.jdk.CollectionConverters._
    // these prepare input tables in the warehouse; a measured pass must not pay their writes
    val allowed = Set("Relational2.bucketTablesFor", "Maintenance.dppFor",
      "EtlQueries.quarantineFor", "EtlQueries.roundtripFor")
    val memo = "@volatile private var (\\w+For): \\(SparkSession, String\\)".r
    val tier = "pinBases|warmPinnedBases|PinnableBaseKinds|pinnedKinds|compositeTier|compositeMemo|CompositeTier|pinnedBaseSec".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val walked = java.nio.file.Files.walk(root)
    val hits =
      try walked.iterator().asScala.toSeq.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val obj = p.getFileName.toString.stripSuffix(".scala")
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          memo.findFirstMatchIn(line).map(m => s"$obj.${m.group(1)}").filterNot(allowed) ++
            tier.findFirstIn(line).map(t => s"$p:${i + 1} $t")
        }
      }
      finally walked.close()
    assert(java.nio.file.Files.isDirectory(root))
    assert(hits.isEmpty, "use graft.Memo instead:\n" + hits.mkString("\n"))
  }
}
