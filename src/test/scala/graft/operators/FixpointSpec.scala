package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.{GraftSession, Memo, SourceScan, SparkEntry, SparkSpec}

/** [[Fixpoint]]: rounds, the AQE scope, that a loop leaves no
  * checkpoint behind but the frames it returns, and that no operator
  * runs a loop of its own. */
class FixpointSpec extends SparkSpec {
  private val Aqe = GraftSession.AqeOff._1
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  test("loop: the round cap, the early exit and the trace order") {
    val capped = Fixpoint.run(spark, aqe = true)(_.loop(4, 0) { (x, r) =>
      Fixpoint.Round(x + 1, Seq(r, -r))
    })
    assert(capped == Fixpoint.Result(4, Seq(1, -1, 2, -2, 3, -3, 4, -4), 4))
    val early = Fixpoint.run(spark, aqe = true)(_.loop(10, 0) { (x, r) =>
      Fixpoint.Round(x + 1, Seq(r), done = x + 1 == 3)
    })
    assert(early == Fixpoint.Result(3, Seq(1, 2, 3), 3))
    val none = Fixpoint.run(spark, aqe = true)(_.loop(0, 7)((x, _) => Fixpoint.Round(x + 1, Seq(x))))
    assert(none == Fixpoint.Result(7, Nil, 0))
  }

  test("run: aqe = false holds AQE off over the body and restores it; aqe = true leaves it") {
    val before = spark.conf.getAll.get(Aqe)
    val seen = Fixpoint.run(spark, aqe = false)(_.loop(2, "") { (_, _) =>
      Fixpoint.Round(spark.conf.get(Aqe))
    })
    assert(seen.state == "false")
    assert(spark.conf.getAll.get(Aqe) == before)
    val on = Fixpoint.run(spark, aqe = true)(_ => spark.conf.get(Aqe))
    assert(on == spark.conf.get(Aqe))
  }

  test("run: superseded and pre-loop checkpoints are freed, the returned one and the caller's are not") {
    val callers = spark.range(5).toDF("id").localCheckpoint()
    val before = persistent
    var made = Seq.empty[Int]
    val (last, invariant) = Fixpoint.run(spark, aqe = true) { fp =>
      val invariant = fp.checkpoint(spark.range(3).toDF("id"))
      val res = fp.loop(3, callers) { (df, _) =>
        val next = fp.checkpoint(df.union(invariant).distinct())
        // the previous round's checkpoint is still readable in this one
        assert(df.count() > 0)
        made :+= rddId(next)
        Fixpoint.Round(next)
      }
      assert(invariant.count() == 3, "a pre-loop frame lives through the loop")
      (res.state, rddId(invariant))
    }
    assert(last.count() == 5)
    assert(persistent -- before == Set(rddId(last)))
    assert(!persistent.contains(invariant))
    assert(made.init.forall(id => !persistent.contains(id)))
    assert(persistent.contains(rddId(callers)), "a frame the caller passed in is not freed")
    Memo.freeBlocks(callers)
    Memo.freeBlocks(last)
  }

  test("run: a body that throws frees every checkpoint it made") {
    val before = persistent
    intercept[IllegalStateException] {
      Fixpoint.run(spark, aqe = false) { fp =>
        fp.checkpoint(spark.range(4).toDF("id"))
        throw new IllegalStateException("boom")
      }
    }
    assert(persistent == before)
  }

  test("the graph loops leave no checkpoint behind but the copurchase memo") {
    Seq("graph_pagerank_converge", "graph_kcore", "graph_hits_converge",
      "graph_bfs_levels", "graph_path_counts").foreach { q =>
      Memo.reset()
      val before = persistent
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
      val memo = rddId(Dedup.copurchaseEdges(spark, sfDir))
      assert(persistent -- before - memo == Set.empty, s"$q left checkpoints behind")
    }
    // the CC consumers return frames that read their checkpoints and
    // the BPE table is memoized: Memo owns those; k-means and k-center
    // return driver-built traces. After a reset nothing is left behind
    Seq("dedup_ensemble", "sim_graph_components", "ml_kmeans_converge", "samp_kcenter",
      "text_bpe_holdout", "text_bpe_train_k").foreach { q =>
      Memo.reset()
      val before = persistent
      assert(SparkEntry.queries(q)(spark, sfDir).collect().nonEmpty, q)
      Memo.reset()
      assert(persistent -- before == Set.empty, s"$q left checkpoints behind after Memo.reset()")
    }
  }

  test("operators/ runs no driver loop of its own: no var holds a frame, no flag-driven while") {
    val frameVar = """\bvar \w+\s*:\s*(DataFrame|Dataset)\b""" +
      """|\bvar \w+\s*=.*(\.localCheckpoint\(|\.checkpoint\(|\.cache\(|\.persist\(""" +
      """|\.withColumn\(|\.select\(|\.mapPartitions|\bTables\.)"""
    val rebound = """^\s*(\w+) = \1\.(select|withColumn|filter|join|union|crossJoin|mapPartitions|localCheckpoint)\b"""
    val flagLoop = """\bwhile \(go\b"""
    val hits = Seq(frameVar, rebound, flagLoop).flatMap(SourceScan.hits(_, Set("Fixpoint.scala")))
      .filter(_.contains("/operators/"))
    assert(hits.isEmpty, "a hand-rolled driver loop (run it through Fixpoint):\n" + hits.mkString("\n"))
  }

  test("resolveComponents leaves only its returned labels' checkpoint") {
    import spark.implicits._
    val fwd = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val before = persistent
    val (labels, rounds) = Dedup.resolveComponents(edges)
    assert(rounds > 1)
    assert(persistent -- before == Set(rddId(labels)))
    assert(labels.collect().forall(_.getLong(1) == 0L))
    Memo.freeBlocks(labels)
  }
}
