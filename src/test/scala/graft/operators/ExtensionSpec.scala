package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Structural/semantic checks for the extension operator families at
  * sf0.001 (the oracle gate at sf0.01 covers value-exactness). */
class ExtensionSpec extends SparkSpec {

  test("every SparkEntry query executes and oracle keys line up") {
    val allQ = graft.SparkEntry.queries
    val allO = graft.SparkEntry.oracleSql
    // every oracle key has a query and every query is oracle-checked
    assert(allO.keySet.subsetOf(allQ.keySet))
    assert(allQ.keySet -- allO.keySet == Set.empty)
    allQ.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("minhash LSH candidates are symmetric-free and above threshold") {
    val rows = Dedup.qMinHashLsh(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.1)
    }
  }

  test("simhash of near-identical docs is close in hamming distance") {
    // sanity: identical text must give identical simhash
    val sh = Dedup.qSimHash(spark, sfDir)
    assert(sh.count() == sh.select("doc_id").distinct().count())
    val vals = sh.select("simhash").collect().map(_.getLong(0))
    assert(vals.forall(v => v >= 0L && v < (1L << 32)))
  }

  test("topk similarity returns exactly k neighbors per query, self excluded") {
    val rows = Similarity.qTopkCosine(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q returned ${rs.length}")
      assert(!rs.exists(_.getAs[Long]("neighbor") == q))
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.sameElements(cosines.sortBy(-(_: Double))))
    }
  }

  test("asof join matches only clicks at or before each purchase") {
    val rows = Temporal.qAsofJoin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getAs[String]("last_click_ts") != null).foreach { r =>
      assert(r.getAs[Long]("gap_us") >= 0L)
    }
  }

  test("sessionize: events in a session are within gap; session counts sane") {
    val sess = Temporal.qSessionize(spark, sfDir).collect()
    assert(sess.nonEmpty)
    val events = graft.Tables.events(spark, sfDir).count()
    assert(sess.map(_.getAs[Long]("n_events")).sum == events)
  }

  test("bucketed join plans a shuffle-free sort-merge join") {
    val df = Relational2.q29BucketedJoin(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
      .findAllIn(plan).isEmpty, "join keys must not shuffle")
  }

  test("banded simhash pairs plan has no nested-loop join") {
    val df = Dedup.qSimHashPairs(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "candidate generation must be an equi-join on band keys")
  }

  test("banded simhash pairs equal the naive all-pairs join") {
    val sh = Dedup.qSimHash(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
    val naive = (for {
      (a, sa) <- sh; (b, sb) <- sh
      if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 2
    } yield (a, b, h)).toSet
    val banded = Dedup.qSimHashPairs(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming")))
    assert(banded.length == naive.size)
    assert(banded.toSet == naive)
  }

  test("ball-pruned embed cosine equals brute force (zero recall loss)") {
    import graft.functions.Vectors
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getAs[Long](0), r.getSeq[Double](1).toArray))
    val brute = (for {
      (a, va) <- e; (b, vb) <- e
      if a < b
      cos = Vectors.dotJvm(va, vb) /
        (math.sqrt(Vectors.dotJvm(va, va)) * math.sqrt(Vectors.dotJvm(vb, vb)))
      if cos >= 0.45
    } yield (a, b)).toSet
    val pruned = Dedup.qEmbedCosine(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib")))
    assert(pruned.length == brute.size)
    assert(pruned.toSet == brute)
  }

  test("near-dup clusters are consistent with the pair graph") {
    val labels = Dedup.qClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = Dedup.qMinHashLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // endpoints of every near-dup pair land in the same cluster
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // every cluster is labeled by its minimum member
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by min member")
    }
    // docs in no pair are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    labels.foreach { case (d, c) =>
      if (!paired.contains(d)) assert(c == d, s"singleton $d relabeled to $c")
    }
  }

  test("canonical selection keeps one member per cluster, longest text wins") {
    val labels = Dedup.qClusters(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val chars = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.qCanonical(spark, sfDir).collect()
    // exactly one row per cluster, members fully accounted for
    assert(kept.map(_.getAs[Long]("cluster_id")).distinct.length == kept.length)
    assert(kept.map(_.getAs[Long]("n_members")).sum == labels.size)
    kept.foreach { r =>
      val (cid, doc) = (r.getAs[Long]("cluster_id"), r.getAs[Long]("kept_doc"))
      assert(labels(doc) == cid, s"kept doc $doc not in cluster $cid")
      val members = labels.collect { case (d, c) if c == cid => d }
      val best = members.maxBy(d => (chars(d), -d))
      assert(doc == best, s"cluster $cid kept $doc, expected $best")
      assert(r.getAs[Long]("kept_chars") == chars(doc))
      assert(r.getAs[Long]("n_members") == members.size)
    }
  }

  test("multimodal header round-trips magic and dimensions") {
    val rows = Multimodal.qDecodeHeader(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("magic") == "GM")
      val w = r.getAs[Int]("width"); val h = r.getAs[Int]("height")
      assert(w >= 64 && w < 64 + 577, s"width $w out of range")
      assert(h >= 64 && h < 64 + 417, s"height $h out of range")
    }
  }

  test("stratified sampling is deterministic and rate-shaped") {
    val a = Pipeline.qStratified(spark, sfDir).collect()
    val b = Pipeline.qStratified(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach { r =>
      val (t, n, k) = (r.getAs[String]("event_type"),
        r.getAs[Long]("n_total"), r.getAs[Long]("n_sampled"))
      assert(k <= n)
      if (t == "purchase") assert(k == n, "purchase stratum samples at 100%")
    }
  }

  test("pseudonymization tokens are stable, distinct per name, and PII-free") {
    val rows = Pipeline.qPseudonymize(spark, sfDir).collect()
    val again = Pipeline.qPseudonymize(spark, sfDir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val names = graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tokens = rows.map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("name_token"))
    assert(tokens.map(_._2).distinct.length == names.values.toSeq.distinct.length)
    tokens.foreach { case (k, tok) =>
      assert(tok.startsWith("cust_") && !tok.contains(names(k)))
    }
  }

  test("tfidf ranks are dense 1..k with deterministic tiebreaks") {
    val rows = Text.qTfIdf(spark, sfDir).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (d, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to rs.length), s"doc $d ranks $ranks")
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
        .map(r => (-r.getAs[Double]("score"), r.getAs[String]("term")))
      assert(sorted.sameElements(sorted.sorted), s"doc $d not score-desc/term-asc")
    }
  }

  test("compaction preserves rows and is idempotent") {
    val expected = graft.Tables.orders(spark, sfDir).count()
    Seq(1, 2).foreach { pass =>
      val r = Maintenance.qCompact(spark, sfDir).collect()(0)
      assert(r.getAs[Long]("n_rows") == expected, s"pass $pass lost rows")
      assert(r.getAs[Boolean]("compacted_ok"), s"pass $pass did not compact")
    }
  }

  test("batched multimodal decode agrees with the expression-based header parse") {
    val a = Multimodal.qDecodeHeader(spark, sfDir)
      .select(col("doc_id"), col("width"), col("height"))
    val b = Multimodal.qDecodeBatched(spark, sfDir)
      .select(col("doc_id"), col("width"), col("height"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("IVF centroid assignment is a partial aggregate, not a window") {
    val df = Similarity.qIvfTopk(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    // the only window left is the per-query rank; the assign stage must
    // be the groupBy(max(struct)) form (no shuffle+sort of K*N rows)
    assert(!plan.contains("windowspecdefinition(vec_id"),
      "centroid assign must not be a vec_id-partitioned window")
    assert(plan.contains("windowspecdefinition(qid"), "rank window expected")
  }

  test("cluster propagation converges in O(log n) rounds on a 1000-node chain") {
    import spark.implicits._
    // worst case for plain min-label propagation (diameter = n-1): the
    // pointer-jumping step must make this converge in ~log2(n) rounds,
    // not n rounds — evidence for the production round cap.
    val n = 1000L
    val fwd = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, rounds) = Dedup.resolveComponents(edges)
    assert(rounds <= 15, s"chain took $rounds rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), "all chain nodes must label to the min node")
  }

  test("ensemble dedup matches an in-test union-find and per-family resolutions") {
    // independent recheck of the whole ensemble contract: collect the
    // provenance edge list (metadata-scale at sf0.001), re-resolve
    // components with a plain union-find, and compare every gated
    // per-cluster stat; then for each SINGLE-family cluster assert the
    // family's own edge subgraph yields the identical doc set
    val edges = Dedup.ensembleEdges(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(edges.nonEmpty, "ensemble edge list is empty at sf0.001")

    def components(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }

    val labels = components(edges.map(e => (e._1, e._2)).toSeq)
    val byCluster = labels.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    val expected = byCluster.map { case (cid, docs) =>
      val ce = edges.filter(e => labels(e._1) == cid)
      cid -> ((docs.size.toLong, ce.length.toLong,
        ce.map(_._3).reduce(_ | _),
        ce.count(e => java.lang.Long.bitCount(e._3) >= 2).toLong))
    }
    val got = Dedup.qDedupEnsemble(spark, sfDir).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)))
    }.toMap
    assert(got == expected, "per-cluster stats differ from the in-test union-find")

    // single-family clusters must be exactly a component of that family
    val single = Dedup.qDedupEnsemble(spark, sfDir).collect()
      .filter(r => java.lang.Long.bitCount(r.getLong(3)) == 1)
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(single.nonEmpty, "no single-family cluster to cross-check at sf0.001")
    single.foreach { case (cid, mask) =>
      val famLabels = components(
        edges.filter(e => (e._3 & mask) != 0).map(e => (e._1, e._2)).toSeq)
      val famDocs = famLabels.collect { case (d, r) if r == famLabels(cid) => d }.toSet
      assert(famDocs == byCluster(cid),
        s"cluster $cid (mask $mask) differs from its family-only resolution")
    }
  }

  test("contamination join falls back to a shuffle join above the broadcast guard") {
    val g = Text.gramHashes(spark, sfDir)
    val ev = g.filter(col("doc_id") % 50 === 3)
      .select(col("doc_id").as("eval_id"), col("gram_h"))
    val tr = g.filter(col("doc_id") % 50 =!= 3)
      .select(col("doc_id").as("train_id"), col("gram_h"))
    def pairs(maxGrams: Long) =
      Text.contaminationJoin(tr, ev, maxGrams)
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
    // under the guard: eval side broadcasts
    val bPlan = pairs(Long.MaxValue).queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin [gram_h"),
      "small eval side must broadcast:\n" + bPlan)
    // over the guard (forced with a zero threshold): shuffled hash
    // join, eval still the build side, and identical results
    val sDf = pairs(0L)
    val sPlan = sDf.queryExecution.executedPlan.toString
    assert(sPlan.contains("ShuffledHashJoin [gram_h"),
      "oversized eval side must fall back to a shuffled hash join:\n" + sPlan)
    assert(!sPlan.contains("BroadcastHashJoin [gram_h"),
      "fallback path must not broadcast the eval grams:\n" + sPlan)
    val a = pairs(Long.MaxValue).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = sDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b, "broadcast and fallback paths must agree")
  }

  test("stats-derived salt factor plants a salted exchange") {
    val df = Maintenance.qSaltedFromStats(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the fact/dim join must key on (hk, salt) — the salted exchange —
    // with the hint-pinned shuffled hash join, not a broadcast that
    // would hide the demonstrated shape
    assert(plan.contains("ShuffledHashJoin [hk"),
      "fact-dim join must be a shuffled hash join on (hk, salt):\n" + plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("hashpartitioning(hk") && l.contains("salt")),
      "expected an exchange partitioned by (hk, salt):\n" + plan)
    // the factor itself is derived, not hardcoded: one distinct value,
    // > 1 on the synthesized hot key (~half the rows on one key)
    val saltVals = df.collect().map(_.getLong(4)).distinct
    assert(saltVals.length == 1 && saltVals(0) > 1,
      s"expected one derived salt factor > 1, got ${saltVals.toSeq}")
  }

  test("no query leaves cached relations behind (library contract)") {
    spark.catalog.clearCache()
    // every non-streaming query end-to-end (streaming queries tear
    // down their memory sinks themselves and run in the execute-all
    // test); memoized localCheckpoints are RDD blocks, not catalog
    // cache, and are exempt by design
    graft.SparkEntry.queries
      .filterNot { case (name, _) => name.startsWith("stream_") }
      .foreach { case (name, fn) =>
        fn(spark, sfDir).count()
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$name left a catalog-cached relation behind")
      }
  }

  test("decontamination pairs always cross the train/eval split") {
    val rows = Text.qDecontaminate(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, e) = (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"))
      assert(t % 50 != 3, s"train_id $t is an eval doc")
      assert(e % 50 == 3, s"eval_id $e is not an eval doc")
      assert(r.getAs[Long]("n_shared") >= 2)
    }
  }

  test("repetition fractions are in [0,1] and keep matches the thresholds") {
    val rows = Text.qRepetition(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val d2 = r.getAs[Double]("dup_2gram_frac")
      val tf = r.getAs[Double]("top_word_frac")
      assert(d2 >= 0.0 && d2 <= 1.0 && tf > 0.0 && tf <= 1.0)
      assert(r.getAs[Boolean]("keep") == (d2 <= 0.2 && tf <= 0.2))
    }
  }

  test("sequence packing offsets are contiguous per shard and spans consistent") {
    val rows = Pipeline.qPackSequences(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.length == docs)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, rs) =>
      val ordered = rs.sortBy(_.getAs[Long]("doc_id"))
      var expectedOffset = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("offset") == expectedOffset,
          s"shard $shard doc ${r.getAs[Long]("doc_id")} offset gap")
        expectedOffset += r.getAs[Long]("n_tokens")
        val (f, l) = (r.getAs[Long]("seq_first"), r.getAs[Long]("seq_last"))
        assert(f <= l && l - f <= r.getAs[Long]("n_tokens") / 2048 + 1)
      }
    }
  }

  test("gap-fill grid is dense and preserves event totals") {
    val rows = Relational2.q31GapFill(spark, sfDir).collect()
    val total = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == total, "zero-fill must not drop events")
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    val nHours = byType.values.head.length
    byType.foreach { case (t, rs) =>
      assert(rs.length == nHours, s"type $t grid not dense")
    }
  }

  test("fuzzy name pairs share the block key and respect the distance bound") {
    // sf0.001's blocks are too small to contain close pairs; use the
    // next SF up so the assertion set is non-vacuous
    val rows = Dedup.qFuzzyNames(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("key_a") < r.getAs[Long]("key_b"))
      assert(r.getAs[Int]("dist") >= 0 && r.getAs[Int]("dist") <= 2)
    }
  }

  test("snapshot diff classes re-derive the merge op counts") {
    val diff = Maintenance.qSnapshotDiff(spark, sfDir).collect()
      .map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n")).toMap
    val merged = Maintenance.qMergeUpsert(spark, sfDir).collect()
    val ops = merged.groupBy(_.getAs[String]("op")).view.mapValues(_.length.toLong).toMap
    assert(diff("added") == ops("I"), "added must equal insert ops")
    assert(diff("changed") == ops("U"), "changed must equal update ops")
    assert(diff("unchanged") == ops("K"), "unchanged must equal keep ops")
    val base = graft.Tables.orders(spark, sfDir).count()
    assert(diff("deleted") == base - ops("U") - ops("K"), "deleted must account for the rest")
  }

  test("jaccard length-prune rule injects size compares, keeps exact-boundary pairs") {
    graft.plans.SetExprs.register(spark)
    // the arrays depend on a scanned column (doc_id * 0 keeps the
    // values but defeats constant folding) so the filter survives to
    // the optimizer and the injected prune is observable in the plan
    def onScan(aN: Int, bN: Int) = graft.Tables.documents(spark, sfDir).limit(1)
      .select(
        sequence(lit(1L) + col("doc_id") * 0, lit(aN.toLong)).as("a"),
        sequence(lit(1L) + col("doc_id") * 0, lit(bN.toLong)).as("b"))
    // |A∩B|=3, |A|=3, |B|=10 -> jac = 3/10 = 0.3 exactly at threshold
    // 0.3: the 1e-9 slack must keep the boundary pair
    val q = onScan(3, 10).filter(expr("graft_jaccard_sorted_long(a, b) >= 0.3"))
    assert(q.count() == 1, "exact-boundary pair must survive the prune")
    assert(q.queryExecution.optimizedPlan.toString.contains("size("),
      "optimizer must inject the length-ratio prune")
    // a length-incompatible pair (1 vs 10 elements, ratio 0.1 < 0.3)
    // is correctly rejected — by the prune, before the merge runs
    assert(onScan(1, 10).filter(expr("graft_jaccard_sorted_long(a, b) >= 0.3")).count() == 0)
  }

  test("levenshtein length-band prune injects, keeps exact-boundary pairs") {
    graft.plans.GraftExtensions.install(spark)
    // column-dependent strings defeat constant folding so the filter
    // survives to the optimizer (same trick as the jaccard rule test)
    def onScan(a: String, b: String) = graft.Tables.documents(spark, sfDir).limit(1)
      .select(
        when(col("doc_id") >= 0, lit(a)).as("x"),
        when(col("doc_id") >= 0, lit(b)).as("y"))
    // levenshtein(kitten, sitting) = 3, exactly at the threshold: the
    // all-integer band must keep the boundary pair
    val q = onScan("kitten", "sitting").filter(expr("levenshtein(x, y) <= 3"))
    assert(q.count() == 1, "exact-boundary pair must survive the prune")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs(") && optimized.contains("length("),
      s"optimizer must inject the length-band prune:\n$optimized")
    // a band-incompatible pair (length diff 6 > 3) is rejected by the
    // prune before the DP matrix would run
    assert(onScan("ab", "abcdefgh").filter(expr("levenshtein(x, y) <= 3")).count() == 0)
  }

  test("levenshtein length-band prune skips the 3-arg thresholded form") {
    graft.plans.GraftExtensions.install(spark)
    def onScan(a: String, b: String) = graft.Tables.documents(spark, sfDir).limit(1)
      .select(
        when(col("doc_id") >= 0, lit(a)).as("x"),
        when(col("doc_id") >= 0, lit(b)).as("y"))
    // levenshtein(a, b, th) returns -1 when the distance exceeds th, so
    // `lev3 <= t` is TRUE via the sentinel even for pairs whose lengths
    // differ by more than t — injecting the band would wrongly prune
    // this row. Length diff 6 > threshold 3; distance 6 > 3 → -1 <= 3.
    val q = onScan("ab", "abcdefgh").filter(expr("levenshtein(x, y, 3) <= 3"))
    assert(q.count() == 1,
      "3-arg levenshtein sentinel row must NOT be pruned by the length band")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!(optimized.contains("abs(") && optimized.contains("length(")),
      s"rule must not inject a band for the thresholded form:\n$optimized")
  }

  test("ANALYZE column stats flip the filtered-dim join from shuffle to broadcast") {
    // The loop-closer on maint_analyze's claim that NDV/min-max "are
    // the numbers that decide broadcast-vs-shuffle": the SAME join
    // plans as a shuffle join when the optimizer only has file sizes,
    // and as a broadcast hash join once ANALYZE-backed column stats
    // let FilterEstimation shrink the filtered dim below the
    // threshold. The threshold is derived from the two measured
    // estimates, not hardcoded, so the test tracks the data.
    val s = spark
    val table = "graft_cbo_dim"
    s.sql(s"DROP TABLE IF EXISTS $table")
    graft.Tables.customer(s, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").saveAsTable(table)
    def dimFiltered = s.table(table).filter(col("c_mktsegment") === "BUILDING")
    def joined = graft.Tables.orders(s, sfDir)
      .join(dimFiltered, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val keys = Seq("spark.sql.cbo.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> s.conf.get(k))
    try {
      // size-only estimate: without column stats the Filter cannot
      // shrink the relation, so the estimate stays at ~file size
      s.conf.set("spark.sql.cbo.enabled", "false")
      val estNoStats = dimFiltered.queryExecution.optimizedPlan.stats.sizeInBytes
      s.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS c_custkey, c_mktsegment")
      s.conf.set("spark.sql.cbo.enabled", "true")
      val estStats = dimFiltered.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(estStats < estNoStats,
        s"NDV-based filter selectivity must shrink the estimate: $estStats !< $estNoStats")
      // pin the broadcast threshold strictly between the two
      // estimates: the stats are now the deciding input
      val threshold = (estStats + estNoStats) / 2
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
      s.conf.set("spark.sql.cbo.enabled", "false")
      val planNoStats = joined.queryExecution.sparkPlan.toString
      assert(!planNoStats.contains("BroadcastHashJoin"),
        s"without column stats the dim estimate ($estNoStats > $threshold) must shuffle:\n$planNoStats")
      s.conf.set("spark.sql.cbo.enabled", "true")
      val planStats = joined.queryExecution.sparkPlan.toString
      assert(planStats.contains("BroadcastHashJoin"),
        s"with ANALYZE stats the dim estimate ($estStats < $threshold) must broadcast:\n$planStats")
    } finally {
      saved.foreach { case (k, v) => s.conf.set(k, v) }
      s.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("typed join pushes the o_totalprice predicate into the parquet scan") {
    val df = Typed.qTypedJoin(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(o_totalprice"),
      "column-predicate filter must reach the parquet reader's PushedFilters")
  }

  test("no query plans a closure TypedFilter (deserializing scan filter)") {
    // groupByKey's AppendColumns/MapGroups in q28 is the one intended
    // deserializing operator (see Typed Scaladoc); a TypedFilter is
    // never intended — it blocks pushdown on what may be a fact scan.
    // Streaming queries are skipped: constructing their DataFrame runs
    // the bounded stream (covered by the execute-all test above), and
    // their result is a memory-sink scan with no filter to mis-plan.
    graft.SparkEntry.queries
      .filterNot { case (name, _) => name.startsWith("stream_") }
      .foreach { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan.toString
        assert(!plan.contains("TypedFilter"), s"$name plans a TypedFilter")
      }
  }

  test("jaccard prune injects beside an unrelated user size() conjunct") {
    graft.plans.SetExprs.register(spark)
    // regression (r4 advice): the idempotency guard used to skip any
    // filter containing ANY Size expression, so a user's own size()
    // conjunct silently disabled the prune; the guard now matches only
    // the injected shape
    val q = graft.Tables.documents(spark, sfDir).limit(1)
      .select(
        sequence(lit(1L) + col("doc_id") * 0, lit(3L)).as("a"),
        sequence(lit(1L) + col("doc_id") * 0, lit(10L)).as("b"))
      .filter(expr("size(a) > 2 AND graft_jaccard_sorted_long(a, b) >= 0.3"))
    val optimized = q.queryExecution.optimizedPlan.toString
    // the injected prune compares size(b) (scaled by the threshold);
    // the user conjunct alone never mentions b, so its presence in the
    // optimized filter proves the rewrite fired
    assert(optimized.contains("size(b"),
      s"prune must still inject with a user size() conjunct present:\n$optimized")
    assert(q.count() == 1, "boundary pair must survive both conjuncts")
  }

  test("balanced sampling caps every language and plans a group-limit") {
    val df = Pipeline.qBalanced(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_kept") <= 50))
    // the rank filter must reach the map side as a WindowGroupLimit so
    // the exchange carries at most cap rows per (language, task)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter must plan as WindowGroupLimit:\n$plan")
  }

  test("vocab top bigrams equal a naive recount") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach { t =>
      val ws = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      (0 until ws.length - 1).foreach { i =>
        val g = ws(i) + " " + ws(i + 1)
        counts(g) = counts.getOrElse(g, 0L) + 1L
      }
    }
    val expected = counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(200)
    val got = Text.qVocab(spark, sfDir).collect()
      .map(r => (r.getAs[String]("gram"), r.getAs[Long]("freq"))).toSeq
    assert(got == expected)
  }

  test("incremental dedup agrees with the batch-restricted pair list") {
    val rows = Dedup.qIncremental(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val batch = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(batch.forall(_ % 10 == 7), "output must be exactly the batch docs")
    // near flags must equal the cross-split restriction of the full
    // self-join pair list (same bands, same threshold); best_jac is
    // max-of-rounded == round-of-max (round is monotone)
    val best = scala.collection.mutable.HashMap.empty[Long, Double]
    Dedup.qMinHashLsh(spark, sfDir).collect().foreach { r =>
      val (a, b, j) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))
      val (aB, bB) = (a % 10 == 7, b % 10 == 7)
      if (aB != bB) {
        val d = if (aB) a else b
        best(d) = math.max(best.getOrElse(d, 0.0), j)
      }
    }
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("near_dup") == (if (best.contains(d)) 1 else 0),
        s"near_dup flag mismatch for $d")
      assert(r.getAs[Double]("best_jac") == best.getOrElse(d, 0.0),
        s"best_jac mismatch for $d")
      assert(r.getAs[Int]("exact_dup") == 0 || r.getAs[Int]("near_dup") == 1,
        s"exact dup $d must also be a near dup")
    }
  }

  test("jaccard of two empty long sets is 0.0, not NaN") {
    graft.plans.SetExprs.register(spark)
    val r = spark.sql(
      "SELECT graft_jaccard_sorted_long(array(), array()) AS j," +
        " graft_jaccard_sorted_long(array(1L,2L), array()) AS j2")
      .collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("substring dedup equals a naive in-test gram recount") {
    // independent re-derivation over raw text (grams as strings, not
    // the operator's md5-longs)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Set[String] = {
      val ws = t.trim.toLowerCase.split("\\s+")
      if (ws.length >= 8) (0 to ws.length - 8).map(i => ws.slice(i, i + 8).mkString(" ")).toSet
      else Set(ws.mkString(" "))
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }.toMap
    val docsPerGram = byDoc.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rows = Dedup.qSubstring(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSet == byDoc.keySet)
    rows.foreach { r =>
      val id = r.getLong(0)
      val g = byDoc(id)
      val dup = g.count(docsPerGram(_) > 1)
      assert(r.getLong(1) == g.size, s"doc $id: n_grams ${r.getLong(1)} != ${g.size}")
      assert(r.getLong(2) == dup, s"doc $id: n_dup ${r.getLong(2)} != $dup")
      assert((r.getInt(4) == 1) == (dup.toDouble / g.size >= 0.5), s"doc $id flag")
    }
    assert(rows.exists(_.getInt(4) == 1), "corpus should contain flagged near-dups")
  }

  test("sliding chunks tile each document with the declared size and stride") {
    val wordCounts = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").length).toMap
    val byDoc = Pipeline.qChunkSliding(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(byDoc.keySet == wordCounts.keySet, "every doc must chunk")
    byDoc.foreach { case (doc, chunks) =>
      val len = wordCounts(doc)
      val sorted = chunks.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, idx, start, n), i) =>
        assert(idx == i, s"doc $doc: chunk ids must be contiguous")
        assert(start == i * 24L, s"doc $doc: stride must be 24")
        assert(n == math.min(32L, len - start), s"doc $doc chunk $i: bad width")
      }
      val last = sorted.last
      assert(last._3 + last._4 == len, s"doc $doc: chunks must reach the end")
    }
  }

  test("temperature sampling flattens the language distribution") {
    val rows = Pipeline.qTemperature(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-6, "q weights must sum to 1")
    rows.foreach { case (lang, n, q, rate, kept) =>
      assert(q > 0 && rate > 0 && rate <= 1.0, s"$lang: rate $rate out of range")
      assert(kept <= n, s"$lang: kept $kept > $n")
    }
    // flattening: sampling rates order inversely to corpus share
    val byShare = rows.sortBy(-_._2).map(_._4)
    assert(byShare.zip(byShare.tail).forall { case (a, b) => a <= b + 1e-12 },
      s"head languages must not out-rate tail languages: $rows")
  }

  test("chunking and diversity plan map-only: no joins, no aggregate exchanges") {
    Seq(
      "chunk_sliding" -> Pipeline.qChunkSliding(spark, sfDir),
      "text_diversity" -> Text.qDiversity(spark, sfDir)
    ).foreach { case (name, df) =>
      df.count() // materialize through AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$name must not join")
      assert(!plan.contains("HashAggregate"), s"$name must not aggregate")
      // only the kernel-width repartition and the presentation sort
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
      assert(exchanges.length <= 2, s"$name: unexpected exchanges $exchanges")
    }
  }

  test("rolling features share one window exchange across all three functions") {
    val df = Temporal.qRolling(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).toSeq
    assert(hashEx.length == 1,
      s"lag/avg/gap must reuse ONE user_id exchange, found ${hashEx.length}")
  }

  test("temperature sampling broadcasts the rates and scans the corpus twice") {
    val df = Pipeline.qTemperature(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), "5-row rate table must broadcast")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected the counts pass + the sampling pass, got $scans scans")
  }

  test("diversity indexes match a naive recount and rank junk below text") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def simpson(counts: Iterable[Long]): Double = {
      val n = counts.sum
      1.0 - counts.map(k => k * k).sum.toDouble / (n * n)
    }
    val rows = Text.qDiversity(spark, sfDir).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val t = docs(r.getLong(0))
      val charCounts = t.codePoints().toArray.groupBy(identity).map(_._2.length.toLong)
      val wordCounts = t.trim.toLowerCase.split("\\s+").groupBy(identity).map(_._2.length.toLong)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getLong(1) == charCounts.sum && r.getLong(2) == charCounts.size)
      assert(r.getDouble(3) == r6(simpson(charCounts)), s"char div doc ${r.getLong(0)}")
      assert(r.getLong(4) == wordCounts.sum && r.getLong(5) == wordCounts.size)
      assert(r.getDouble(6) == r6(simpson(wordCounts)), s"word div doc ${r.getLong(0)}")
    }
    // sanity: a repeated-token doc must rank below every corpus doc
    assert(simpson(Map("spam" -> 40L, "x" -> 1L).values) <
      rows.map(_.getDouble(6)).min)
  }

  test("rolling features agree with a per-user naive scan") {
    val events = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byUser = events.groupBy(_._2).view.mapValues(_.sortBy(e => (e._3, e._1))).toMap
    val rows = Temporal.qRolling(spark, sfDir).collect()
    assert(rows.length == events.length)
    rows.foreach { r =>
      val id = r.getLong(0)
      val seq = byUser(r.getLong(1))
      val i = seq.indexWhere(_._1 == id)
      if (i == 0) {
        assert(r.isNullAt(4) && r.isNullAt(6), s"event $id: first row must carry NULLs")
        assert(r.getDouble(5) == r.getDouble(3), s"event $id: roll_mean of one value")
      } else {
        assert(r.getDouble(4) == seq(i - 1)._4, s"event $id: lag mismatch")
        assert(r.getLong(6) == seq(i)._3 - seq(i - 1)._3, s"event $id: gap mismatch")
        val win = seq.slice(math.max(0, i - 4), i + 1).map(_._4)
        val mean = BigDecimal(win.sum / win.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(5) - mean) < 1e-9, s"event $id: roll_mean")
      }
    }
  }

  test("global shuffle order is a dense permutation ranked per shard, not one task") {
    val df = Pipeline.qShuffleOrder(spark, sfDir)
    val rows = df.collect()
    val n = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until n),
      "positions must be a dense 0..n-1 permutation")
    // corpus-sized ranking must partition by shard; only the 16-row
    // offset table may use an unpartitioned window
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(shard"),
      "row_number must rank within hash-prefix shards")
    // determinism across runs (the whole point of a seeded shuffle)
    assert(Pipeline.qShuffleOrder(spark, sfDir).collect().map(_.getLong(1)).toSeq ==
      rows.map(_.getLong(1)).toSeq)
  }

  test("anomaly flags exactly the naive-moment outliers, nothing more or less") {
    val events = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byType = events.groupBy(_._2)
    val expected = byType.values.flatMap { es =>
      val cents = es.map(e => math.round(e._3 * 100))
      val n = cents.length.toLong
      val (sc, ssc) = (cents.sum, cents.map(c => c * c).sum)
      val mean = sc.toDouble / n
      val sd = math.sqrt((ssc.toDouble - sc.toDouble * sc.toDouble / n) / n)
      es.zip(cents).filter { case (_, c) => math.abs((c - mean) / sd) >= 3.0 }.map(_._1._1)
    }.toSet
    val got = Temporal.qAnomaly(spark, sfDir).collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"missing ${expected -- got}, spurious ${got -- expected}")
  }

  test("hopping windows assign every event to exactly 4 slide-aligned windows") {
    val nEvents = graft.Tables.events(spark, sfDir).count()
    val rows = Temporal.qHopping(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum == 4 * nEvents,
      "window/slide = 4 overlapping assignments per event")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    rows.foreach { r =>
      val t = java.time.LocalDateTime.parse(r.getString(0), fmt)
      assert(t.getMinute % 15 == 0 && t.getSecond == 0,
        s"window start ${r.getString(0)} must align to the 15-min slide")
    }
  }

  test("schema-evolution read partitions rows between generations exactly") {
    val row = Maintenance.qSchemaEvolve(spark, sfDir).collect()(0)
    val (n, back, evo) = (row.getAs[Long]("n_rows"),
      row.getAs[Long]("n_backfilled"), row.getAs[Long]("n_evolved"))
    assert(n == back + evo, "every row is exactly one generation")
    assert(back > 0 && evo > 0, "both generations must be present")
    assert(n == graft.Tables.orders(spark, sfDir).count(), "no rows lost in the union")
  }

  test("z-order buckets bound BOTH dimensions to one 1/16 cell") {
    val orders = graft.Tables.orders(spark, sfDir)
    val nOrders = orders.count()
    val mck = orders.agg(max(col("o_custkey"))).first().getLong(0)
    val mdy = orders.agg(max(datediff(col("o_orderdate"), lit("1992-01-01"))))
      .first().getInt(0).toLong
    val rows = Maintenance.qZOrder(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == nOrders, "buckets must partition")
    // each bucket is one (top4(ck), top4(dy)) cell: raw spans are
    // bounded by a cell width in BOTH dims — the property a date-only
    // sort cannot give (its files span the full customer range)
    val (ckCell, dyCell) = ((mck + 1) / 16.0 + 1, (mdy + 1) / 16.0 + 1)
    rows.foreach { r =>
      val ckSpan = r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")
      val dySpan = r.getAs[Long]("max_day") - r.getAs[Long]("min_day")
      assert(ckSpan <= ckCell, s"bucket ${r.getLong(0)}: cust span $ckSpan > cell $ckCell")
      assert(dySpan <= dyCell, s"bucket ${r.getLong(0)}: day span $dySpan > cell $dyCell")
    }
  }

  test("PQ top-k equals an independent naive encode+ADC re-derivation") {
    // Re-implement the whole PQ pipeline in plain driver-side Scala
    // (constants restated on purpose — this is a second derivation,
    // not a call back into the operator) and compare row-for-row.
    val (subs, subDim, k, topK) = (8, 8, 16, 5)
    val all = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cb = all.filter(_._1 % 30 == 7).take(k).map(_._2)
    def reconstruct(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](subs * subDim)
      for (m <- 0 until subs) {
        val bestJ = (0 until cb.length).minBy { j =>
          (0 until subDim).map { i =>
            val t = v(m * subDim + i) - cb(j)(m * subDim + i); t * t
          }.sum
        }
        for (i <- 0 until subDim) out(m * subDim + i) = cb(bestJ)(m * subDim + i)
      }
      out
    }
    val rec = all.map { case (id, v) => id -> reconstruct(v) }.toMap
    val probes = all.filter(_._1 % 50 == 0)
    val expected = probes.flatMap { case (qid, qv) =>
      all.iterator
        .filter(_._1 != qid)
        .map { case (id, _) =>
          val r = rec(id)
          var d = 0.0; var i = 0
          while (i < qv.length) { d += qv(i) * r(i); i += 1 }
          (id, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toSeq.sortBy { case (id, adot) => (-adot, id) }
        .take(topK).zipWithIndex
        .map { case ((id, adot), rk) => (qid, rk + 1, id, adot) }
    }.sortBy(t => (t._1, t._2))
    val got = Similarity.qPqTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == expected.length, s"${got.length} vs ${expected.length} rows")
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
  }

  test("PQ rerank scores are bit-exact brute-force cosines in descending order") {
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (vecs(a), vecs(b))
      val c = dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byQ = Similarity.qPqRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (qid, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"qid $qid: ranks")
      assert(rows.map(_._3).distinct.length == 5 && !rows.exists(_._3 == qid))
      val sorted = rows.sortBy(_._2)
      sorted.foreach { case (_, _, nb, c) =>
        assert(c == cos(qid, nb), s"qid $qid neighbor $nb: rerank cosine must be exact")
      }
      assert(sorted.map(_._4).zip(sorted.map(_._4).tail).forall { case (a, b) => a >= b })
    }
  }

  test("PQ rank window sees only fixed-width columns (no array shuffles)") {
    val df = Similarity.qPqTopk(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the per-query rank window")
    windows.foreach { w =>
      val arrayCols = w.child.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrayCols.isEmpty,
        s"array columns ${arrayCols.map(_.name)} would shuffle into the top-k window")
    }
  }

  test("custom as-of operator plans as AsOfJoinExec over sorted clustered children") {
    val df = Temporal.qAsofJoinExec(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), "the strategy must plan the custom node:\n" + plan)
    assert(!plan.contains("WindowExec") && !plan.contains("SortMergeJoin"),
      "the merge operator must replace the window/join machinery:\n" + plan)
    // EnsureRequirements inserted the co-partition + sort
    val exec = df.queryExecution.executedPlan.collectFirst {
      case e: graft.plans.AsOfJoinExec => e
    }.orElse(df.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst { case e: graft.plans.AsOfJoinExec => e }
    }.flatten.headOption)
    assert(exec.isDefined, "AsOfJoinExec present in the executed plan")
    // bit-identical to the composed window form on the same corpus
    val composed = Temporal.qAsofJoin(spark, sfDir).collect().map(_.toSeq).toSeq
    val custom = df.collect().map(_.toSeq).toSeq
    assert(custom == composed, "custom operator must equal the composed window form")
    // the no-match path: at least one purchase precedes any click
    assert(custom.exists(r => r(3) == null && r(4) == null),
      "null-extended rows must survive (purchases with no prior click)")
  }

  test("DSv2 range source: complete aggregate pushdown leaves no aggregate in the plan") {
    val df = EtlQueries.qRangeAggPushdown(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the filter clipped the bounds AND the aggregate moved into the
    // source: the plan is a bare Project over the BatchScan
    assert(plan.contains("GraftRangeScan[25000,75000) agg=COUNT(*),MIN(id),MAX(id) complete"),
      "aggregate must push into the clipped scan:\n" + plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "complete pushdown must leave no aggregate node:\n" + plan)
    val rows = df.collect()
    assert(rows.length == 3)
    val byScope = rows.map(r => r.getString(0) -> r).toMap
    assert(byScope("full").getLong(1) == 100000L && byScope("full").getLong(2) == 1000L
      && byScope("full").getLong(3) == 100999L)
    assert(byScope("window").getLong(1) == 50000L && byScope("window").getLong(2) == 25000L
      && byScope("window").getLong(3) == 74999L)
    assert(byScope("empty").getLong(1) == 0L && byScope("empty").isNullAt(2)
      && byScope("empty").isNullAt(3), "empty range: count 0, NULL min/max")
  }

  test("DSv2 range source: GROUP BY bucket pushes completely and matches a real re-aggregation") {
    val df = EtlQueries.qRangeGroupPushdown(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("groupBy=bucket complete"),
      "grouped aggregate must push into the scan:\n" + plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "complete grouped pushdown must leave no aggregate node:\n" + plan)
    val expected = spark.range(25000L, 75003L)
      .groupBy((col("id") % 16).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rows = df.collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      val (n, mn, mx) = expected(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == mn && r.getLong(3) == mx,
        s"bucket ${r.getLong(0)}: closed-form disagrees with a real aggregation")
    }
  }

  test("DSv2 range source: filter pushdown prunes slices and columns at planning time") {
    val df = EtlQueries.qRangePushdown(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the id-range filter reached the scan builder and clipped the
    // planned slice grid: [250000, 750000) covers exactly 8 of the 16
    // 62500-wide slices of [0, 1e6)
    assert(plan.contains("GraftRangeScan[250000,750000) slices=8/16"),
      "pushed id bounds must prune the slice grid:\n" + plan)
    // a projection that never touches id/bucket prunes to one column
    val narrow = spark.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "1000").option("slices", "4")
      .load().agg(org.apache.spark.sql.functions.sum(col("val")))
    val narrowPlan = narrow.queryExecution.executedPlan.toString
    assert(narrowPlan.contains("cols=val"),
      "required-column pushdown must reach the scan:\n" + narrowPlan)
    // accepted filters are honored exactly: the source's rows match a
    // re-derivation from spark.range on the same arithmetic
    val expected = spark.range(250000L, 750000L)
      .selectExpr("id % 16 as bucket", "(id * 2654435761) % 1000000 as v")
      .groupBy(col("bucket"))
      .agg(org.apache.spark.sql.functions.sum(col("v")).as("sum_val"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.collect().foreach { r =>
      assert(r.getLong(2) == expected(r.getLong(0)),
        s"bucket ${r.getLong(0)}: source sum ${r.getLong(2)} != range() re-derivation")
    }
  }

  test("cascade retrieval: ADC stage sees only the 1-bit shortlist, never the corpus") {
    val cand = Similarity.cascadeCandidates(spark, sfDir)
    val nProbes = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).count()
    val corpus = graft.Tables.embeddings(spark, sfDir).count()
    val n = cand.count()
    // exactly CascHammK (40) candidates per probe — the wide 1-bit
    // shortlist bounds stage 2; corpus×probes would be 50x larger
    assert(n == 40L * nProbes,
      s"expected ${40L * nProbes} shortlist-bounded candidates, got $n")
    assert(n < corpus * nProbes / 10,
      "ADC candidate count must be far below the flat corpus x probes stream")
    // and the cascade's final ranking is exact-cosine ordered per probe
    val out = Similarity.qCascadeTopk(spark, sfDir).collect()
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "cascade cosines must be non-increasing in rank")
    }
  }

  test("DSv2 range source joined to the fact: pruned scan + broadcast orientation") {
    val df = EtlQueries.qRangeJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the id < 15000 bound reached the scan builder: 4 of the 16
    // 3750-wide slices of [0, 60000) survive to planning
    assert(plan.contains("GraftRangeScan[0,15000) slices=4/16"),
      "pushed join-side id bound must prune the DSv2 slice grid:\n" + plan)
    // the pruned manifest is the broadcast build side; the parquet
    // fact streams (no exchange on the fact for a manifest enrich)
    assert(plan.contains("BroadcastHashJoin"),
      "manifest enrich must broadcast the pruned scan:\n" + plan)
  }

  test("DSv2 runtime filtering prunes slices from the broadcast build side") {
    graft.sources.RangeTable.runtimePlanned.set(-1)
    val df = EtlQueries.qRangeRuntimeFilter(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the scan carries NO static predicate (the dim filter touches no
    // join-key column, so constraint propagation can't clip) — the
    // plan-text slice count stays 16/16 and a RuntimeFilters entry
    // carries the dynamic In; pruning happens at execution when the
    // materialized dim keys arrive. Orderkeys live far below 1e6, so
    // the runtime prune must drop most of the 62500-wide slices.
    val plan = df.queryExecution.executedPlan.toString
    // bounds stay the full [0, 1e6) — no static clip reached the
    // builder (the description's slice count is rendered AFTER
    // execution, so it already shows the runtime prune)
    assert(plan.contains("GraftRangeScan[0,1000000)"),
      "no static clip may exist (the prune must be runtime-only):\n" + plan)
    assert(plan.contains("RuntimeFilters: [dynamicpruningexpression"),
      "the dynamic In-filter must be planted on the scan:\n" + plan)
    val planned = graft.sources.RangeTable.runtimePlanned.get
    assert(planned >= 1 && planned <= 3,
      s"runtime In-filter must prune to the orderkey-bearing slices, got $planned/16")
    // the dim predicate is deterministic: replay it over orders
    val expected = graft.Tables.orders(spark, sfDir)
      .filter("o_orderpriority = '1-URGENT' and o_custkey % 100 = 7").count()
    assert(rows.map(_.getLong(1)).sum == expected && expected > 0L)
  }

  test("DSv2 range source: LIMIT and top-N clip the scan at planning time") {
    def rt = spark.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "1000000").option("slices", "16")
      .load()
    // ORDER BY id LIMIT n: the scan window collapses to the low n ids
    // — 1 of 16 slices planned, limit visible in the description
    val asc = rt.filter(col("id") >= 400000L).orderBy(col("id")).limit(500)
    val ascPlan = asc.queryExecution.executedPlan.toString
    assert(ascPlan.contains("GraftRangeScan[400000,400500) slices=1/16") &&
      ascPlan.contains("limit=500"),
      "top-N asc must clip the scan to [lo, lo+n):\n" + ascPlan)
    // ORDER BY id DESC LIMIT n: the high end of the range
    val desc = rt.orderBy(col("id").desc).limit(300)
    val descPlan = desc.queryExecution.executedPlan.toString
    assert(descPlan.contains("GraftRangeScan[999700,1000000) slices=1/16") &&
      descPlan.contains("limit=300 desc"),
      "top-N desc must clip the scan to [hi-n, hi):\n" + descPlan)
    // bare LIMIT n: first n ids, exactly one slice planned
    val bare = rt.limit(200)
    val barePlan = bare.queryExecution.executedPlan.toString
    assert(barePlan.contains("GraftRangeScan[0,200) slices=1/16"),
      "bare limit must clip the scan to [lo, lo+n):\n" + barePlan)
    // partial-push semantics stay correct: results match spark.range
    assert(asc.collect().map(_.getLong(0)).toSeq == (400000L until 400500L))
    assert(desc.collect().map(_.getLong(0)).toSeq == (999700L until 1000000L).reverse)
    assert(bare.collect().map(_.getLong(0)).sorted.toSeq == (0L until 200L))
    // a sort on a non-pushable column is NOT pushed — the scan stays whole
    val noPush = rt.orderBy(col("val")).limit(10)
    val noPushPlan = noPush.queryExecution.executedPlan.toString
    assert(noPushPlan.contains("GraftRangeScan[0,1000000) slices=16/16"),
      "top-N on val must not clip the id range:\n" + noPushPlan)
  }

  test("catalog aggregate function: update/merge path equals the built-in, NULL on empty") {
    // the custom V2 aggregate must agree with Spark's built-in bit_xor
    // across a multi-partition scan (merge correctness) and skip NULLs
    val rows = spark.sql(
      """SELECT bucket, graft.xor_agg(val) AS custom, bit_xor(val) AS builtin,
        |  graft.xor_agg(CAST(NULL AS BIGINT)) AS all_null
        |FROM graft.range_0_200000_16 GROUP BY bucket""".stripMargin).collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"bucket ${r.getLong(0)}: custom != builtin")
      assert(r.isNullAt(3), "all-NULL group must aggregate to NULL")
    }
  }

  test("recursive CTE walks the halving tree exactly (closed-form levels)") {
    val rows = Relational2.q41RecursiveCte(spark, sfDir).collect()
    val maxKey = graft.Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey"))).head.getLong(0)
    // level d holds keys [2^d, min(2^(d+1)-1, maxKey)] — count, sum,
    // min, max all closed-form; total rows = every customer once
    rows.foreach { r =>
      val d = r.getInt(0)
      val lo = 1L << d
      val hi = math.min((1L << (d + 1)) - 1, maxKey)
      assert(r.getLong(1) == hi - lo + 1, s"depth $d count")
      assert(r.getLong(2) == (lo to hi).sum, s"depth $d checksum")
      assert(r.getLong(3) == lo && r.getLong(4) == hi, s"depth $d bounds")
    }
    assert(rows.map(_.getLong(1)).sum == maxKey, "every customer exactly once")
    // the recursion plans as the level-synchronous loop operator, not
    // a driver-side collect loop
    val plan = Relational2.q41RecursiveCte(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"), "recursion must plan as UnionLoop:\n" + plan)
  }

  test("DSv2 reported statistics flip the initial join plan to broadcast") {
    // the gated query: the stats-reporting clipped scan must plan a
    // no-hint broadcast join (pre-AQE initial plan = the pure
    // cost-model decision)
    val gated = EtlQueries.qRangeStats(spark, sfDir)
    assert(gated.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "reported stats must auto-broadcast in the gated query")
    // isolate the stats effect with a range-to-range join (a parquet
    // side would be broadcastable on its own at test scale): the
    // 15k-row clipped scan reports stats, the 500k side does not
    def rt(bound: Long, stats: Boolean) = spark.read
      .format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "2000000").option("slices", "16")
      .option("reportStats", stats.toString)
      .load()
      .filter(col("id") < bound)
    def shaped(l: org.apache.spark.sql.DataFrame) = l
      .join(rt(500000L, stats = false).select(col("id").as("rid")),
        col("id") === col("rid"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val withStats = shaped(rt(15000L, stats = true))
    val statsPlan = withStats.queryExecution.sparkPlan.toString
    assert(statsPlan.contains("BroadcastHashJoin"),
      "post-pushdown stats (15k x 24B) must broadcast the clipped scan:\n" + statsPlan)
    // counterfactual: same shape, no stats anywhere -> both sides
    // cost defaultSizeInBytes (huge) -> initial plan is SMJ
    val noStats = shaped(rt(15000L, stats = false))
    val noStatsPlan = noStats.queryExecution.sparkPlan.toString
    assert(noStatsPlan.contains("SortMergeJoin") && !noStatsPlan.contains("BroadcastHashJoin"),
      "without stats the planner must not broadcast either scan:\n" + noStatsPlan)
    // values identical either way (strategy, not semantics)
    assert(withStats.collect().map(_.getLong(1)).sum ==
      noStats.collect().map(_.getLong(1)).sum)
  }

  test("DSv2 storage-partitioned join: co-clustered scans join with no shuffle") {
    def shuffles(plan: String): Int = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    // the gated builder sets v2.bucketing.enabled=true itself
    val df = EtlQueries.qRangeSpj(spark, sfDir)
    df.count() // materialize through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftRangeBucketedScan[0,1600) buckets=16/16") &&
      plan.contains("GraftRangeBucketedScan[800,2400) buckets=16/16"),
      "both sides must be the bucketed (HasPartitionKey) scan:\n" + plan)
    assert(plan.contains("SortMergeJoin"), "merge hint must pin SMJ:\n" + plan)
    // exactly ONE exchange: the final orderBy's range partitioning —
    // neither the join nor the per-bucket aggregate may shuffle
    // (KeyGroupedPartitioning aligns the 16 bucket partitions)
    assert(shuffles(plan) == 1 && plan.contains("Exchange rangepartitioning"),
      s"SPJ must leave only the output sort's exchange, got ${shuffles(plan)}:\n" + plan)

    // counterfactual: same join with the flag OFF plans hash
    // exchanges under both join children (what SPJ eliminates)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    try {
      def bt(a: Long, b: Long) = spark.read.format("graft.sources.RangeTableProvider")
        .option("start", a.toString).option("end", b.toString)
        .option("slices", "16").option("clusterBy", "bucket").load()
      val off = bt(0, 1600).hint("merge")
        .join(bt(800, 2400).select(col("bucket"), col("id").as("rid")), "bucket")
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      off.count()
      val offPlan = off.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(bucket".r.findAllIn(offPlan).size >= 2,
        "with v2 bucketing off the join keys must shuffle:\n" + offPlan)
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")

    // value sanity on top of the oracle gate: pair counts are the
    // per-bucket product of the two range cardinalities (100 x 100)
    val rows = df.collect()
    assert(rows.length == 16 && rows.forall(_.getLong(1) == 10000L))
  }

  test("DSv2 range source: Long.MaxValue bounds saturate instead of wrapping") {
    def tbl = spark.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "100").option("slices", "4").load()
    // id <= Long.MaxValue accepts everything; the pushed hi = v+1 used
    // to wrap to Long.MinValue, silently returning an EMPTY scan
    // (the filter was reported accepted, so Spark dropped its own
    // re-filter)
    assert(tbl.filter(col("id") <= Long.MaxValue).count() == 100L)
    // symmetric lo-side wrap for id > Long.MaxValue (correctly empty,
    // but must not wrap into accept-everything)
    assert(tbl.filter(col("id") > Long.MaxValue).count() == 0L)
    assert(tbl.filter(col("id") === Long.MaxValue).count() == 0L)
  }

  test("DSv2 range source: missing start/end options fail with a clear error") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.RangeTableProvider").load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: msgs(t.getCause)
    assert(msgs(e).exists(m => m != null && m.contains("requires option")),
      s"expected the provider's own error, got: $e")
  }

  test("OrderStats finds exact ranks across range-partition boundaries") {
    // adversarial frame: heavy value ties so the doc_id tiebreak is
    // load-bearing, sized well past one partition
    val df = spark.range(0, 997).selectExpr("id % 13 as w", "id as doc_id")
    val sorted = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val ranked = OrderStats.rank(df, Seq("w", "doc_id"))
    assert(ranked.total == 997L)
    Seq(1L, 2L, 76L, 499L, 948L, 997L).foreach { k =>
      val row = OrderStats.kth(ranked, k)
      assert((row.getLong(0), row.getLong(1)) == sorted((k - 1).toInt), s"rank $k")
    }
    intercept[IllegalArgumentException](OrderStats.kth(ranked, 998L))
    intercept[IllegalArgumentException](OrderStats.kth(ranked, 0L))
  }

  test("ess-clip and ccnet-buckets plan with no corpus-global window anywhere") {
    // the final rollup plans must be window-free, and so must every
    // frame OrderStats builds (RangePartitioning + partition-local
    // sort replace the single-partition row_number/ntile window)
    Seq(
      "samp_ess_clip" -> Pipeline.qEssClip(spark, sfDir),
      "text_ccnet_buckets" -> Text.qCcnetBuckets(spark, sfDir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("WindowExec"), s"$name rollup kept a window:\n" + plan)
      assert(df.count() > 0, s"$name must still produce rows")
    }
    val ranked = OrderStats.rank(
      Text.lmScored(spark, sfDir).selectExpr("lm_score_ppm as w", "doc_id"),
      Seq("w", "doc_id"))
    val rplan = ranked.ranged.queryExecution.executedPlan.toString
    assert(!rplan.contains("WindowExec"), "rank frame must be window-free:\n" + rplan)
  }

  test("ess-clip and ccnet-buckets survive an empty corpus (no boundary rank to fetch)") {
    // r10 ADVICE: the OrderStats cutover made n = 0 throw from the
    // rank fetch where the old global-window form returned an empty
    // frame; the guards must restore that
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_docs").toString
    graft.Tables.documents(spark, sfDir).limit(0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      assert(Text.qCcnetBuckets(spark, dir).count() == 0L,
        "ccnet buckets on an empty corpus is an empty frame")
      val ess = Pipeline.qEssClip(spark, dir).collect()
      assert(ess.length == 2, "the two variant rows still exist")
      ess.foreach { r =>
        assert(r.getLong(1) == 0L, "clip_at degenerates to 0")
        assert(r.getLong(2) == 0L, "n = 0")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
