package graft

import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[GraftSession.withConf]] scopes and the rule that a query leaves
  * the session conf as it found it. */
class SessionConfSpec extends SparkSpec {
  private val Aqe = GraftSession.AqeOff._1
  private val Width = "spark.sql.shuffle.partitions"
  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  test("withConf: nested scopes on one key hold the value until the outermost exits") {
    val before = explicit(Width)
    GraftSession.withConf(spark, Width -> "7") {
      GraftSession.withConf(spark, Width -> "7") {
        assert(spark.conf.get(Width) == "7")
      }
      assert(spark.conf.get(Width) == "7", "the inner exit must not restore")
    }
    assert(explicit(Width) == before)
  }

  test("withConf: overlapping scopes on two threads restore once, after the last exit") {
    val before = explicit(Aqe)
    val entered, release = new CountDownLatch(1)
    val other = Future {
      GraftSession.withConf(spark, GraftSession.AqeOff) {
        entered.countDown()
        release.await()
      }
    }
    entered.await()
    GraftSession.withConf(spark, GraftSession.AqeOff) {
      // the other thread's scope exits first, while this one is open
      release.countDown()
      Await.result(other, 1.minute)
      assert(spark.conf.get(Aqe) == "false", "the first exit must not restore")
    }
    assert(explicit(Aqe) == before)
  }

  test("withConf: a body that throws still restores") {
    val before = explicit(Width)
    intercept[IllegalArgumentException] {
      GraftSession.withConf(spark, Width -> "3") { throw new IllegalArgumentException("boom") }
    }
    assert(explicit(Width) == before)
  }

  test("withConf: a key unset before the scope is unset after it") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    assert(explicit(key).isEmpty)
    GraftSession.withConf(spark, key -> "x.y.Z") {
      assert(explicit(key).contains("x.y.Z"))
    }
    assert(explicit(key).isEmpty, "restore must unset, not write the default")
  }

  test("withConf: a conflicting value throws and leaves the held scope intact") {
    val before = explicit(Width)
    GraftSession.withConf(spark, Width -> "5") {
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, Width -> "6")(())
      }
      assert(spark.conf.get(Width) == "5")
    }
    assert(explicit(Width) == before)
  }

  test("loop queries run concurrently restore AQE and equal sequential runs") {
    val loops = Seq("graph_pagerank_converge", "graph_bfs_levels")
    def run(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq
    val before = explicit(Aqe)
    Memo.reset()
    val sequential = loops.map(run)
    Memo.reset()
    val concurrent = Await.result(Future.sequence(loops.map(q => Future(run(q)))), 10.minutes)
    assert(explicit(Aqe) == before)
    assert(concurrent == sequential)
  }

  test("queries that set conf leave spark.conf.getAll unchanged") {
    Seq("stream_window_agg", "stream_stateful_counts", "stream_tws_profile",
      "src_catalog_sql", "src_range_spj", "graph_pagerank_converge").foreach { q =>
      val before = spark.conf.getAll
      SparkEntry.queries(q)(spark, sfDir).collect()
      assert(spark.conf.getAll == before, s"$q changed the session conf")
    }
  }

  test("conf.set and conf.unset appear in src/main only inside GraftSession") {
    val hits = SourceScan.hits("conf\\.(set|unset)\\(", Set("GraftSession.scala"))
    assert(hits.isEmpty, "session conf written outside GraftSession:\n" + hits.mkString("\n"))
  }

  test("GraftSession.AqeOff appears in src/main only inside GraftSession and Fixpoint") {
    val hits = SourceScan.hits("GraftSession\\.AqeOff", Set("GraftSession.scala", "Fixpoint.scala"))
    assert(hits.isEmpty, "AQE scoped outside Fixpoint:\n" + hits.mkString("\n"))
  }
}
