package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Semantic + plan-shape checks for the analytics wave added after the
  * round-5 close: funnel, retention, histogram, exact correlation,
  * fingerprint, collocation lift, and the k-means Lloyd step. Each
  * test re-derives the operator's defining invariant independently of
  * the oracle SQL (which the DuckDB gate already cross-checks).
  */
class AnalyticsSpec extends SparkSpec {

  test("funnel stages are ordered and monotonically non-increasing") {
    val rows = Temporal.qFunnel(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val counts = rows.map(_.getLong(1))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2),
      s"stage user counts must be non-increasing: ${counts.toSeq}")
    assert(rows(0).isNullAt(2), "stage 1 has no previous stage, so no gap")
    rows.drop(1).filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getLong(2) > 0, "mean stage gap must be strictly positive (ts strictly increases)")
    }
  }

  test("retention week-0 cell counts every user of its cohort") {
    val df = Temporal.qRetention(spark, sfDir)
    val week0 = df.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).first().getLong(0)
    val users = graft.Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    // every user is by construction active in their own first week
    assert(week0 == users, s"week-0 retention $week0 != distinct users $users")
    assert(df.filter(col("week_offset") < 0).isEmpty,
      "activity cannot precede the cohort week")
  }

  test("histogram buckets partition the table and bound their members") {
    val rows = Relational2.q34Histogram(spark, sfDir).collect()
    val total = graft.Tables.orders(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == total, "bucket counts must partition all orders")
    rows.foreach { r =>
      val (bucket, n, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0)
      assert(lo >= bucket * 2500000L && hi < (bucket + 1) * 2500000L,
        s"bucket $bucket min/max [$lo,$hi] escape its bounds")
    }
  }

  test("exact-moment correlation matches Spark's native corr") {
    val li = graft.Tables.lineitem(spark, sfDir)
    val native = li.groupBy(col("l_returnflag").as("flag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Relational2.q35CorrExact(spark, sfDir).collect().foreach { r =>
      val (flag, c) = (r.getString(0), r.getDouble(2))
      assert(c >= -1.0 && c <= 1.0)
      assert(math.abs(c - native(flag)) < 1e-3,
        s"flag $flag: exact-moment corr $c vs native ${native(flag)}")
    }
  }

  test("fingerprint months partition the table and XOR-fold to the global fingerprint") {
    val rows = Maintenance.qFingerprint(spark, sfDir).collect()
    val orders = graft.Tables.orders(spark, sfDir)
    assert(rows.map(_.getLong(1)).sum == orders.count())
    // same canonical hash, computed globally: months must XOR-fold to it
    val canon = concat_ws("|",
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"))
    val globalXor = orders
      .select(conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h"))
      .agg(expr("bit_xor(h)")).first().getLong(0)
    assert(rows.map(_.getLong(2)).reduce(_ ^ _) == globalXor,
      "per-month XOR fingerprints must fold to the whole-table fingerprint")
  }

  test("collocation lift re-derives from raw unigram/bigram counts") {
    val df = Text.qCollocations(spark, sfDir)
    val got = df.collect()
    assert(got.nonEmpty)
    val byName = df.columns.zipWithIndex.toMap
    got.foreach(r => assert(r.getLong(byName("c_xy")) >= 20, "min-count filter must hold"))
    // naive driver-side recount of the first bigram's lift (per doc —
    // bigrams never span document boundaries)
    val docs = graft.Tables.documents(spark, sfDir).select(col("text")).collect()
    def tokens(t: String) = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val words = docs.iterator.flatMap(d => tokens(d.getString(0))).toSeq
    val perDoc = docs.iterator.flatMap { d =>
      val ws = tokens(d.getString(0))
      (0 until ws.length - 1).iterator.map(i => (ws(i), ws(i + 1)))
    }.toSeq
    val r0 = got.head
    val (a, b) = (r0.getString(byName("w1")), r0.getString(byName("w2")))
    val cXY = perDoc.count(p => p._1 == a && p._2 == b).toLong
    assert(cXY == r0.getLong(byName("c_xy")), s"bigram ($a,$b) recount $cXY")
    val expected = (cXY.toDouble / perDoc.size) /
      ((words.count(_ == a).toDouble / words.size) * (words.count(_ == b).toDouble / words.size))
    assert(math.abs(r0.getDouble(byName("lift")) - expected) < 1e-3)
  }

  test("k-means step: every centroid carries all dims with one member count") {
    val rows = Similarity.qKmeansStep(spark, sfDir).collect()
    val byCid = rows.groupBy(_.getLong(0))
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    byCid.foreach { case (cid, rs) =>
      assert(rs.length == graft.functions.Vectors.Dim, s"centroid $cid missing dims")
      assert(rs.map(_.getLong(2)).distinct.length == 1,
        s"centroid $cid member count must not vary across dims")
    }
    val totalMembers = byCid.values.map(_.head.getLong(2)).sum
    assert(totalMembers == nVecs, "cluster sizes must partition the vector set")
  }

  test("train/val/test split partitions the corpus near its 80/10/10 design") {
    val rows = Pipeline.qSplit(spark, sfDir).collect()
    val bySplit = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val total = bySplit.values.sum
    assert(total == graft.Tables.documents(spark, sfDir).count())
    assert(bySplit.keySet == Set("train", "val", "test"))
    val trainShare = bySplit("train").toDouble / total
    assert(trainShare > 0.7 && trainShare < 0.9, s"train share $trainShare far from 0.8")
    // determinism: a second run is bit-identical
    assert(Pipeline.qSplit(spark, sfDir).collect().toSeq == rows.toSeq)
  }

  test("partial-aggregate merge equals the direct single-level aggregation") {
    val merged = Pipeline.qPartialMerge(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val direct = graft.Tables.events(spark, sfDir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)), sum(col("vc")), min(col("vc")), max(col("vc")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(merged == direct, "merging daily partials must reproduce the direct aggregate")
  }

  test("salted join equals the unsalted join and shuffles on (hk, salt)") {
    val df = Relational2.q36SaltedJoin(spark, sfDir)
    val unsalted = graft.Tables.orders(spark, sfDir)
      .select((col("o_custkey") % 10).as("hk"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("hk"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    df.collect().foreach { r =>
      assert(unsalted(r.getLong(0)) == ((r.getLong(2), r.getLong(3))),
        s"salted result diverges for hot key ${r.getLong(0)}")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), "salted join must not silently broadcast:\n" + plan)
    assert(plan.contains("hashpartitioning(hk") && plan.contains("salt"),
      "the fact exchange must partition on (hk, salt):\n" + plan)
  }

  test("bloom prefilter prunes hard but never drops a matching fact row") {
    import graft.plans.MightContainLong
    MightContainLong.register(spark)
    val dim = graft.Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bloom = dim.stat.bloomFilter("c_custkey", math.max(dim.count(), 1L), 0.001)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    val orders = graft.Tables.orders(spark, sfDir)
    val prefiltered = orders.filter(MightContainLong.probe(col("o_custkey"), bytes))
    val semi = orders.join(dim, col("o_custkey") === col("c_custkey"), "left_semi")
    val (nAll, nPre, nSemi) = (orders.count(), prefiltered.count(), semi.count())
    assert(nPre >= nSemi, "bloom may only over-approximate the match set")
    // fpp 0.001 over ~20% true matches: the prefilter must remove the
    // bulk of the non-matching 80%
    assert(nPre < nAll * 0.5, s"prefilter barely pruned: $nPre of $nAll")
    // and the query result equals the plain semi join aggregation
    val viaBloom = Relational2.q37BloomSemiJoin(spark, sfDir).collect().toSeq
    val plain = semi.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("o_orderpriority")).collect().toSeq
    assert(viaBloom == plain)
    // the probe must run inside the scan-side WholeStageCodegen span
    // (the plan renders the expression lowercase and stars codegen'd
    // operators), not as a UDF
    val plan = prefiltered.queryExecution.executedPlan.toString
    assert(plan.contains("mightcontainlong"), "bloom probe missing from the scan filter:\n" + plan)
    assert(plan.linesIterator.exists(l => l.contains("Filter mightcontainlong") && l.contains("*(")),
      "bloom probe fell out of whole-stage codegen:\n" + plan)
  }

  test("bloom probe widens int keys via analyzer cast; rejects wrong arity") {
    import graft.plans.MightContainLong
    MightContainLong.register(spark)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(bloom.putLong)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    // ImplicitCastInputTypes: an INT key column must be widened by the
    // analyzer (consistent across interpreted + codegen paths) instead
    // of codegen silently widening while interpreted eval throws CCE
    val ints = spark.range(1, 6).select(col("id").cast("int").as("k"))
    val hits = ints.filter(MightContainLong.probe(col("k"), bytes)).collect().map(_.getInt(0)).sorted
    assert(hits.toSeq == Seq(1, 2, 3), s"int-key probe must widen and match: ${hits.toSeq}")
    // a non-castable key type fails analysis with a typed error, not a
    // runtime ClassCastException
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(lit("abc").as("s"))
        .filter(MightContainLong.probe(col("s"), bytes)).collect()
    }
    assert(err.getMessage.toLowerCase.contains("mismatch") ||
      err.getMessage.contains("BIGINT"), err.getMessage)
    // wrong arity is rejected at registration-lookup time with a clear
    // message, not IndexOutOfBounds
    val arity = intercept[Exception] {
      spark.range(1).select(
        org.apache.spark.sql.functions.call_function("graft_bloom_might_contain", col("id"))).collect()
    }
    assert(arity.getMessage.contains("2 arguments") || arity.getMessage.toLowerCase.contains("number of arguments"),
      arity.getMessage)
  }

  test("rank-family windows share one exchange; quartiles are balanced") {
    val df = Relational2.q38WindowRanks(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(pri"))
    assert(exchanges == 1, s"the three window functions must share one exchange:\n$plan")
    val rows = df.collect()
    rows.foreach { r =>
      val (pr, cd) = (r.getDouble(4), r.getDouble(5))
      assert(pr >= 0 && pr <= 1 && cd > 0 && cd <= 1)
    }
    val quartiles = rows.groupBy(r => (r.getString(1), r.getInt(3))).view.mapValues(_.size)
    quartiles.keys.map(_._1).toSet.foreach { (pri: String) =>
      val sizes = (1 to 4).map(q => quartiles.getOrElse((pri, q), 0))
      assert(sizes.max - sizes.min <= 1, s"ntile(4) must balance within 1: $pri $sizes")
    }
  }

  test("redaction leaves no digit behind and counts every mask") {
    val rows = Pipeline.qRedact(spark, sfDir).collect()
    assert(rows.exists(_.getLong(1) > 0), "test data must exercise masking")
    rows.foreach { r =>
      val masked = r.getString(2)
      assert(!masked.exists(_.isDigit), s"unmasked digit in: $masked")
      assert(r.getLong(1) == masked.count(_ == '#'),
        "audit count must equal the masked-character count")
    }
  }

  test("calendar join dynamically prunes the partitioned fact scan") {
    val df = Maintenance.qDpp(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      "the dim filter must become a runtime partition filter on the fact scan:\n" + plan)
    // result equals the static-filter aggregation on the raw table
    val direct = graft.Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").isin("1996-01", "1996-02", "1996-03"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("o_month")).collect().toSeq
    assert(df.collect().toSeq == direct)
  }

  test("quarantine accounts for every input row and keeps the raw corrupt line") {
    val r = EtlQueries.qQuarantine(spark, sfDir).collect().head
    val total = graft.Tables.orders(spark, sfDir).count()
    assert(r.getLong(0) + r.getLong(1) == total,
      "parsed + quarantined must partition the input rows")
    assert(r.getLong(1) > 0, "the corruption rule must exercise the quarantine channel")
    // the key checksum came from the raw quarantined text, so it must
    // equal the sum of the keys the corruption rule targeted
    val expectedKeySum = graft.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 13 === 0)
      .agg(sum(col("o_orderkey"))).first().getLong(0)
    assert(r.getLong(3) == expectedKeySum,
      "quarantined rows must carry their full original line")
  }

  test("format roundtrips agree with each other; ORC keeps pushdown") {
    val json = EtlQueries.qJsonRoundtrip(spark, sfDir)
    val orc = EtlQueries.qOrcRoundtrip(spark, sfDir)
    assert(json.collect().toSeq == orc.collect().toSeq,
      "the same rows through JSON and ORC must aggregate identically")
    val plan = orc.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan orc") && plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(event_id"),
      "the ORC scan must carry the pushed predicate:\n" + plan)
  }

  test("pagerank step: degrees match the pair graph, mass stays bounded") {
    val rows = Dedup.qPagerankStep(spark, sfDir).collect()
    if (rows.nonEmpty) {
      val pairs = Dedup.qMinHashLsh(spark, sfDir)
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val deg = (pairs.map(_._1) ++ pairs.map(_._2)).groupBy(identity).view.mapValues(_.size)
      rows.foreach { r =>
        val (id, indeg, pr) = (r.getLong(0), r.getLong(1), r.getLong(2))
        assert(indeg == deg(id), s"node $id indeg $indeg != symmetric degree ${deg(id)}")
        // floor(1e9/outdeg) contributions: received mass is positive and
        // cannot exceed indeg · 1e9 (each in-neighbor sends at most 1e9)
        assert(pr > 150000000L && pr <= 150000000L + indeg * 850000000L,
          s"node $id pr $pr out of bounds for indeg $indeg")
      }
    }
  }

  test("histogram reads only the money column (column pruning)") {
    val plan = Relational2.q34Histogram(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("o_totalprice"), "scan must read the money column")
    assert(!plan.contains("o_orderpriority") && !plan.contains("o_custkey"),
      "histogram must prune every column but o_totalprice:\n" + plan)
  }

  test("bpe merge step matches a naive JVM recount (before and after)") {
    val rows = Text.qBpeMergeStep(spark, sfDir).collect()
    val (beforeRows, afterRows) = rows.partition(_.getString(0) == "1_before")
    // naive reference: tokenize every doc, count adjacent char pairs
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0))
    def pairCounts(words: Seq[String]): Map[String, Long] =
      words.filter(_.length >= 2)
        .flatMap(w => (0 until w.length - 1).map(i => w.substring(i, i + 2)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val words = docs.toSeq.flatMap(
      _.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq)
    val naiveBefore = pairCounts(words)
    def topK(m: Map[String, Long], k: Int): Seq[(String, Long)] =
      m.toSeq.sortBy { case (p, c) => (-c, p) }.take(k)
    assert(beforeRows.map(r => (r.getString(2), r.getLong(3))).toSeq ==
      topK(naiveBefore, beforeRows.length),
      "before-merge pair stats must equal the naive recount")
    // apply the winning merge naively: greedy left-to-right
    // non-overlapping replace (String.replace semantics), then recount
    val bp = beforeRows.minBy(_.getInt(1)).getString(2)
    val marker = "\uE001" // the production private-use marker plane
    val naiveAfter = pairCounts(words.map(_.replace(bp, marker)))
    val rendered = topK(naiveAfter, afterRows.length)
      .map { case (p, c) => (p.replace(marker, bp), c) }
    assert(afterRows.map(r => (r.getString(2), r.getLong(3))).toSeq == rendered,
      "post-merge pair stats must equal the naive merged recount")
    // the merge did something: the winning pair is gone from the top
    assert(!afterRows.exists(_.getString(2) == bp),
      s"winning pair $bp must not survive its own merge unscathed")
  }

  test("triangle counts match a naive JVM recount over the pair list") {
    val rows = Dedup.qTriangles(spark, sfDir).collect()
    val edges = Dedup.qMinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val naiveTri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) intersect adj(b); if b < c) {
      naiveTri(a) += 1; naiveTri(b) += 1; naiveTri(c) += 1
    }
    rows.foreach { r =>
      val (id, d, w, t) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(d == adj(id).size, s"node $id degree")
      assert(w == d * (d - 1) / 2, s"node $id wedges")
      assert(t == naiveTri(id), s"node $id triangles: $t vs ${naiveTri(id)}")
      assert(t <= w, "triangles cannot exceed wedges")
    }
    assert(rows.length == adj.size, "every edge-touching node gets a row")
  }

  test("merge-on-read: latest version wins whole-row, tombstones drop") {
    // recompute the merged view naively from the base table
    val base = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val merged = base.flatMap { case (k, p, pr) =>
      if (k % 13 == 0) None // v3 tombstone wins
      else if (k % 11 == 0) Some((k, p, "9-MOR")) // v2 whole-row override
      else if (k % 7 == 0) Some((k, math.floor(p * 0.9 * 100) / 100, pr)) // v1
      else Some((k, p, pr))
    }
    val expected = merged.groupBy(_._3).view.mapValues(rows =>
      (rows.length.toLong, rows.map(r => math.round(r._2 * 100)).sum)).toMap
    val got = Maintenance.qMergeOnRead(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected,
      "merged view must equal naive last-writer-wins over the delta log")
    // whole-row precedence coverage lives in the aggregate compare
    // above: a per-column-merge regression (v1 price + v2 priority)
    // would shift the '9-MOR' group's sum_cents for any key divisible
    // by both 7 and 11 — assert such keys exist so the compare bites
    assert(base.exists(b => b._1 % 77 == 0 && b._1 % 13 != 0),
      "corpus must contain a v1+v2 double-hit key for precedence coverage")
  }

  test("skew report quantiles match a naive recount of per-key counts") {
    val r = Maintenance.qSkewReport(spark, sfDir).collect().head
    val counts = graft.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).count().collect().map(_.getLong(1)).sorted
    def pct(q: Int) = counts(((counts.length - 1) * q / 100).toInt)
    assert(r.getLong(0) == counts.length, "n_keys")
    assert(r.getLong(1) == counts.sum, "n_rows")
    assert(r.getLong(2) == counts.max, "max_cnt")
    assert(r.getLong(3) == pct(50), "p50")
    assert(r.getLong(4) == pct(90), "p90")
    assert(r.getLong(5) == pct(99), "p99")
    assert(r.getLong(6) == counts.max * 1000000L / counts.sum, "top1_share_ppm")
  }

  test("kernel tokenizer primitives match DuckDB edge semantics exactly") {
    // expected values verified against DuckDB's
    // regexp_split_to_array(lower(trim(x)), '\s+') and
    // lower(regexp_replace(trim(x), '\s+', ' ', 'g')): trim strips
    // spaces only, RE2 \s lacks vertical tab, edge empties are kept
    val cases = Seq(
      ("\tHello world ", Seq("", "hello", "world"), " hello world"),
      (" hello  world ", Seq("hello", "world"), "hello world"),
      ("a\nb", Seq("a", "b"), "a b"),
      ("", Seq(""), ""),
      ("  ", Seq(""), ""),
      // vertical tab is NOT RE2 whitespace: stays inside the token
      ("\u000bv", Seq("\u000bv"), "\u000bv"),
      ("end\n", Seq("end", ""), "end "),
      ("\r\nlead", Seq("", "lead"), " lead"))
    cases.foreach { case (in, ws, collapsed) =>
      assert(Text.duckWords(in).toSeq == ws, s"duckWords(${in.replace("\n", "\\n")})")
      assert(Text.duckCollapse(in) == collapsed, s"duckCollapse(${in.replace("\n", "\\n")})")
    }
  }

  test("winnowing fingerprint: rolling recurrence equals the positional polynomial") {
    val (k, w, b, m) = (8, 4, 257L, 2147483647L)
    val pows = Array.iterate(1L, k)(p => p * b % m).reverse // B^(k-1)..B^0
    val rows = Text.qWinnowFingerprint(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    graft.Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .collect().foreach { d =>
      val t = d.getString(1).trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
      val cps = t.codePoints().toArray
      val hs =
        if (cps.length < k) Array(cps.length.toLong % m)
        else (0 to cps.length - k).map(i =>
          (0 until k).map(j => cps(i + j) * pows(j) % m).sum % m).toArray
      val mins =
        if (hs.length < w) Array(hs.min)
        else (0 to hs.length - w).map(p => hs.slice(p, p + w).min).toArray
      val fp = mins.toSet
      val expected = (hs.length.toLong, fp.size.toLong, fp.foldLeft(0L)(_ ^ _))
      assert(rows(d.getLong(0)) == expected, s"doc ${d.getLong(0)}")
    }
  }

  test("bucket-capped LSH yields a subset of the uncapped pair list") {
    val full = Dedup.qMinHashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.qMinHashCapped(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full),
      s"the cap may only REMOVE candidate pairs: extra ${capped -- full}")
  }

  test("bpe trainer loop: merge 1 equals the single step's winner; merges distinct") {
    val merges = Text.qBpeTrain3(spark, sfDir).collect()
    assert(merges.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val step = Text.qBpeMergeStep(spark, sfDir).collect()
      .filter(r => r.getString(0) == "1_before" && r.getInt(1) == 1).head
    assert(merges(0).getString(1) == step.getString(2) &&
      merges(0).getLong(2) == step.getLong(3),
      "round 1 of the trainer must be the single merge step's argmax")
    // counts are non-increasing (a later merge can never beat an
    // earlier round's maximum) and the learned merges are distinct
    val cnts = merges.map(_.getLong(2))
    assert(cnts(0) >= cnts(1) && cnts(1) >= cnts(2), cnts.toSeq.toString)
    assert(merges.map(_.getString(1)).distinct.length == 3)
  }

  test("rank-k BPE trainer extends the 3-round table and counts stay monotone") {
    Text.resetMemos()
    val k = Text.qBpeTrainK(spark, sfDir).collect()
    assert(k.length >= 3 && k.length <= 16, s"got ${k.length} merges")
    // same algorithm, same tiebreaks: the first three learned merges
    // must equal the 3-round trainer's table exactly
    val three = Text.qBpeTrain3(spark, sfDir).collect()
    (0 until 3).foreach { i =>
      assert(k(i).getString(1) == three(i).getString(1) &&
        k(i).getLong(2) == three(i).getLong(2),
        s"round ${i + 1}: k-table ${k(i)} != 3-round ${three(i)}")
    }
    // counts non-increasing over the whole run; every count clears the
    // stop threshold; merges distinct; vocab size walks |alphabet|+idx
    val cs = k.map(_.getLong(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, cs.toSeq.toString)
    assert(cs.forall(_ >= 2L))
    assert(k.map(_.getString(1)).distinct.length == k.length)
    val vs = k.map(_.getLong(3))
    assert(vs.zip(vs.tail).forall { case (a, b) => b == a + 1 }, vs.toSeq.toString)
    // the encoder applies the FULL table: its corpus-wide after-sum
    // must beat an encode using only the first 3 merges (computed
    // here from the same learned table with the same normalization)
    val enc = Text.qBpeEncode(spark, sfDir).collect()
    val (beforeSum, afterSum) = (enc.map(_.getLong(1)).sum, enc.map(_.getLong(2)).sum)
    assert(afterSum < beforeSum, "k merges must shrink the corpus symbol count")
    def afterWithMerges(n: Int): Long = {
      val merges = Text.bpeMergesK(spark, sfDir).take(n)
      val norm = regexp_replace(lower(trim(col("text"))), "[ \t\n\f\r]+", " ")
      val encd = merges.zipWithIndex.foldLeft(norm) {
        case (acc, ((bp, _, _), i)) => replace(acc, lit(bp), lit((0xE000 + i + 1).toChar.toString))
      }
      graft.Tables.documents(spark, sfDir)
        .agg(sum(length(regexp_replace(encd, " ", ""))).cast("long")).first().getLong(0)
    }
    assert(afterWithMerges(k.length) == afterSum,
      "encoder must match an independent re-application of the learned table")
    if (k.length > 3)
      assert(afterSum < afterWithMerges(3),
        s"the full table must out-compress the first 3 merges")
  }

  test("watermark bounds streaming aggregation state; exact dedup state grows") {
    import graft.streaming.Streams
    val ev = graft.Tables.events(spark, sfDir)
    // unbounded exact dedup: the state store accumulates every
    // distinct key ever seen — per-batch totals are non-decreasing
    // and end at the corpus distinct count
    val dedupState = Streams.stateRowsPerBatch(spark, sfDir, 4) { st =>
      st.select(md5(col("props")).as("h")).dropDuplicates("h")
    }
    assert(dedupState.size >= 4, s"expected >=4 data batches: $dedupState")
    assert(dedupState == dedupState.sorted,
      s"unbounded dedup state must be non-decreasing: $dedupState")
    assert(dedupState.last == ev.select(md5(col("props"))).distinct().count(),
      s"final dedup state must hold every distinct key: $dedupState")
    // the same hourly aggregation with and without a watermark: the
    // unwatermarked (update-mode) state grows to every (window, type)
    // group; the 1-hour watermark evicts closed windows so state stays
    // at the in-flight horizon — the 100 TB difference between a state
    // store that grows with the corpus and one bounded by the delay
    def hourlyAgg(withWm: Boolean)(st: org.apache.spark.sql.DataFrame) = {
      val s0 = if (withWm) st.withWatermark("ts", "1 hour") else st
      s0.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }
    val unbounded = Streams.stateRowsPerBatch(spark, sfDir, 4, "update")(hourlyAgg(false))
    val bounded = Streams.stateRowsPerBatch(spark, sfDir, 4)(hourlyAgg(true))
    val totalGroups = ev
      .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    assert(unbounded == unbounded.sorted && unbounded.last == totalGroups,
      s"unwatermarked agg state must grow to all $totalGroups groups: $unbounded")
    assert(bounded.last * 2 < totalGroups,
      s"watermarked agg state must stay at the horizon, got $bounded vs $totalGroups groups")
    assert(bounded.max < unbounded.last,
      s"watermarked state $bounded must stay below the unbounded total ${unbounded.last}")
  }

  test("watermark eviction holds under shuffled multi-file batch groups") {
    import graft.streaming.Streams
    // r10 item 7: the 8-file gate exercised multi-file DISCOVERY;
    // this drives ORDERING — 8 time-contiguous files arriving 2 per
    // micro-batch with reversed mtimes inside each group, so every
    // batch reads its files anti-chronologically. The watermark only
    // advances between batches (on the batch max event time), so the
    // shuffled arrival must neither drop data as late nor break the
    // eviction plateau.
    def hourlyWm(st: org.apache.spark.sql.DataFrame) =
      st.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    val grouped = Streams.stateRowsPerBatch(spark, sfDir, 8, "append", groupSize = 2)(hourlyWm)
    assert(grouped.size >= 4, s"8 files at 2/trigger must yield >=4 data batches: $grouped")
    val totalGroups = graft.Tables.events(spark, sfDir)
      .select(date_trunc("hour", col("ts")), col("event_type")).distinct().count()
    assert(grouped.max * 2 < totalGroups,
      s"state must stay at the in-flight horizon at EVERY batch: $grouped vs $totalGroups groups")
    // and nothing was discarded as late: within-batch disorder is
    // invisible to the watermark by construction
    val drops = Streams.lateDropsPerBatch(spark, sfDir, 8, "append", groupSize = 2)(hourlyWm)
    assert(drops.nonEmpty && drops.forall(_ == 0L),
      s"no row may be dropped as late under within-batch shuffle: $drops")
  }

  test("session flatMap state is user-bounded; stream-static as-of join holds no state") {
    import graft.streaming.Streams
    val ev = graft.Tables.events(spark, sfDir)
    val nUsers = ev.select(col("user_id")).distinct().count()
    val nEvents = ev.count()
    // flatMapGroupsWithState session closure: the store holds exactly
    // ONE open session per user ever seen — it grows with the user
    // population (non-decreasing) and plateaus there, never with the
    // event volume (the 100 TB difference between per-key and
    // per-record state)
    val st = Streams.stateRowsPerBatch(spark, sfDir, 4)(Streams.sessionFlatmapTransform(spark))
    assert(st.size >= 4, s"expected >=4 data batches: $st")
    assert(st == st.sorted, s"open-session state must be non-decreasing: $st")
    assert(st.last == nUsers,
      s"state must hold exactly one open session per seen user: $st vs $nUsers users")
    assert(st.last * 10 < nEvents,
      s"state must be user-bounded, not event-bounded: ${st.last} vs $nEvents events")
    // eviction, bound at EVERY batch: the store never holds more
    // than one row per user at any point in the run — if a closed
    // session lingered even one micro-batch past its closure, some
    // intermediate total would exceed the user population (closures
    // do happen: the corpus closes sessions, asserted below)
    assert(st.forall(_ <= nUsers),
      s"state must never exceed one open session per user at any batch: $st vs $nUsers")
    val closedSessions = Streams.qStreamSessionFlatmap(spark, sfDir).count()
    assert(closedSessions > 0, "the corpus must close at least one session")
    // the as-of enrich is a stream-static broadcast join — stateless
    // by construction, and the progress events prove it: zero
    // state-store rows in every micro-batch
    val asof = Streams.stateRowsPerBatch(spark, sfDir, 4)(
      Streams.asofEnrichTransform(spark, sfDir))
    assert(asof.nonEmpty && asof.forall(_ == 0L),
      s"stream-static as-of join must hold no state rows: $asof")
  }

  test("video near-dup: jaccard recounts from frame sets, tau and cap bind") {
    val rows = Multimodal.qVideoNeardup(spark, sfDir).collect()
    assert(rows.nonEmpty, "the corpus must contain frame-level near-dups")
    // frame-hash sets recomputed independently from mm_frame_sample
    val sets = Multimodal.qFrameSample(spark, sfDir)
      .selectExpr("doc_id",
        "conv(substring(md5(concat_ws(':', checksum, n_bytes, b_min, b_max)), 1, 15), 16, 10) as h")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "canonical pair order")
      val (sa, sb) = (sets(a), sets(b))
      val ni = sa.intersect(sb).size.toLong
      assert(r.getLong(2) == sa.size && r.getLong(3) == sb.size, s"($a,$b) set sizes")
      assert(r.getLong(4) == ni, s"($a,$b) intersection")
      val jpm = 1000L * ni / (sa.size + sb.size - ni)
      assert(r.getLong(5) == jpm && jpm >= 300L, s"($a,$b) jaccard_pm")
    }
    // the df cap bounds candidate generation: no surviving pair may
    // owe its DISCOVERY solely to an over-cap hash — every pair must
    // share at least one hash whose corpus df is within the cap
    val df = sets.values.toSeq.flatten.groupBy(identity).map { case (h, xs) => h -> xs.size }
    rows.foreach { r =>
      val shared = sets(r.getLong(0)).intersect(sets(r.getLong(1)))
      assert(shared.exists(df(_) <= Multimodal.VideoDfCap),
        s"pair (${r.getLong(0)},${r.getLong(1)}) reachable only through over-cap buckets")
    }
  }

  test("multi-probe IVF is cell-bounded, hash-joined, and lifts recall over nprobe=1") {
    val np = 4
    val topk = Similarity.ivfTopkN(spark, sfDir, np)
    // candidate join hashes on the cell id (the probe→cells table is
    // the broadcast side); no nested-loop join pairs probes with the
    // corpus
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [cid"),
      "nprobe candidate join must hash on the cell id:\n" + plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("qid")),
      "no nested-loop join may pair probes with the corpus:\n" + plan)
    // candidates = sum over (probe, one of its np nearest cells) of
    // that cell's membership, minus self — cell-bounded by construction
    val asg = Similarity.assignToCentroids(spark, sfDir).select(col("vec_id"), col("cid"))
    val pcells = Similarity.probeCellsN(spark, sfDir, np).select(col("qid"), col("qcid"))
    val expected = pcells.join(asg, col("qcid") === col("cid"))
      .filter(col("vec_id") =!= col("qid")).count()
    val cand = Similarity.assignToCentroids(spark, sfDir)
      .join(Similarity.probeCellsN(spark, sfDir, np),
        col("cid") === col("qcid") && col("vec_id") =!= col("qid")).count()
    assert(cand == expected, s"candidates $cand != cell-membership sum $expected")
    // widening the probe set can only add candidates; corpus-level
    // hits vs the exact top-5 must not drop (the gated lift at sf0.01
    // is 7 -> 22 of 50)
    def hits(nprobe: Int): Long = {
      val exact = Similarity.qTopkCosine(spark, sfDir)
        .select(col("qid"), col("neighbor"))
      exact.join(
        Similarity.ivfTopkN(spark, sfDir, nprobe)
          .select(col("qid").as("aq"), col("neighbor").as("an")),
        col("qid") === col("aq") && col("neighbor") === col("an")).count()
    }
    assert(hits(np) >= hits(1), "nprobe=4 lost corpus-level recall vs nprobe=1")
  }

  test("scd2 history: versions chain, statuses alternate, one current row per user") {
    val rows = Temporal.qScd2(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val users = graft.Tables.events(spark, sfDir).select(col("user_id")).distinct().count()
    val byUser = rows.groupBy(_.getLong(0))
    assert(byUser.size == users, "every user with events has a history")
    byUser.foreach { case (u, vs) =>
      val sorted = vs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to vs.length), s"user $u versions dense")
      // consecutive versions change status (same-status runs collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getString(2) != b.getString(2), s"user $u kept a no-op version")
          assert(a.getString(4) == b.getString(3),
            s"user $u: version close time must equal the next version's open time")
        case _ =>
      }
      assert(sorted.last.getString(4) == "current" && sorted.last.getBoolean(5))
      assert(sorted.init.forall(!_.getBoolean(5)), s"user $u has more than one current row")
    }
  }

  test("waterfill budget: cap is unique, allocation exhausts the budget up to the cap remainder") {
    val rows = Pipeline.qWaterfillBudget(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val toks = rows.map(_.getLong(1))
    val allocs = rows.map(_.getLong(3))
    val b = 9L * toks.sum / 10L
    assert(allocs.sum <= b, "allocation may not exceed the budget")
    val capped = rows.filter(_.getBoolean(5))
    val uncapped = rows.filterNot(_.getBoolean(5))
    assert(capped.nonEmpty, "a 90% budget must cap at least one source")
    val cap = capped.head.getLong(3)
    assert(capped.forall(_.getLong(3) == cap), "every capped source gets the same water level")
    assert(uncapped.forall(r => r.getLong(3) == r.getLong(1) && r.getLong(1) <= cap),
      "uncapped sources keep every token and sit below the water level")
    assert(capped.forall(_.getLong(1) > cap), "capped sources exceed the water level")
    // maximality: raising the cap by 1 would burst the budget
    assert(allocs.sum + capped.length > b, "cap+1 must exceed the budget")
    rows.foreach(r => assert(r.getLong(4) == 1000L * r.getLong(3) / math.max(r.getLong(1), 1L)))
  }

  test("sample coverage partitions the corpus and recounts the 1-in-7 sample") {
    val rows = Similarity.qSampleCoverage(spark, sfDir).collect()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val nSampled = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 7 === 0).count()
    assert(rows.map(_.getLong(1)).sum == n, "cells partition the corpus")
    assert(rows.map(_.getLong(2)).sum == nSampled, "sampled counts close against the stride")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getBoolean(3) == (r.getLong(2) > 0L))
      assert(r.getLong(4) == 1000L * r.getLong(2) / r.getLong(1))
    }
  }

  test("perceptron step: misclassified set recounts driver-side, gradient normalizes to 1000") {
    val rows = Models.qPerceptronStep(spark, sfDir).collect()
    assert(rows.length == 64, "one row per dimension")
    assert(rows.map(_.getLong(0)).toSeq == (0L until 64L), "dims dense ascending")
    // n_miscl is the one global count repeated on every row
    assert(rows.map(_.getLong(1)).distinct.length == 1)
    val nMiscl = rows.head.getLong(1)
    // driver-side recount of the subgradient set under w0 = all-ones
    val expected = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("case when label < 5 then 1L else -1L end as y",
        "aggregate(transform(cast(embedding as array<double>), x -> cast(round(x * 1000000) as long)), 0L, (a, x) -> a + x) as p")
      .collect().count(r => r.getLong(0) * r.getLong(1) <= 0L)
    assert(nMiscl == expected, s"misclassified count $nMiscl != driver recount $expected")
    assert(nMiscl > 0L && nMiscl < graft.Tables.embeddings(spark, sfDir).count(),
      "a random corpus must be neither perfectly split nor fully wrong under w0")
    val gpm = rows.map(_.getLong(2))
    assert(gpm.forall(g => g >= -1000L && g <= 1000L), "per-mille bounds")
    assert(gpm.map(math.abs).max == 1000L, "the max-|g| dim normalizes to exactly 1000")
  }

  test("filtered ANN pre-filters inside the cell: labels match, ranks dense, filter binds") {
    val rows = Similarity.qFilteredTopk(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) as label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      // every neighbor carries the probe's own label (pre-filter)
      rs.foreach { r =>
        assert(r.getLong(1) == labels(qid), s"probe $qid label mismatch")
        assert(labels(r.getLong(3)) == labels(qid), s"neighbor of $qid crosses the filter")
      }
      // ranks dense from 1 in cosine-desc order (row_number is int)
      assert(rs.map(_.getInt(2).toLong).sorted.toSeq == (1L to rs.length).toSeq)
      val cos = rs.sortBy(_.getInt(2)).map(_.getDouble(4))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "cosine descends with rank")
    }
    // the filter BINDS: at ~1/10 label selectivity some filtered list
    // must contain a neighbor absent from the unfiltered cell top-3 —
    // the case where post-filtering an unfiltered k-list under-fills
    val unfiltered = Similarity.qIvfTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.exists(r => !unfiltered.contains((r.getLong(0), r.getLong(3)))),
      "pre-filter must surface neighbors post-filtering would miss")
  }

  test("ivfpq stage-1 pair count is cell-bounded, not corpus-bounded") {
    val cand = Similarity.ivfPqCandidates(spark, sfDir)
    val pairs = cand.count()
    val emb = graft.Tables.embeddings(spark, sfDir)
    val corpus = emb.count()
    val probes = emb.filter(col("vec_id") % 50 === 0).count()
    // strict pruning vs the flat |corpus|×|probes| ADC scan (nprobe=2
    // of 13 cells at the test SF ≈ 15% — leave generous headroom)
    assert(pairs < corpus * probes / 2,
      s"stage 1 must prune: $pairs pairs vs flat ${corpus * probes}")
    // exactness: the pair count equals the independent sum over
    // (probe, chosen cell) of that cell's membership (minus self) —
    // i.e. candidates come from cell membership and nothing else
    val asg = Similarity.assignToCentroids(spark, sfDir).select(col("vec_id"), col("cid"))
    val pcells = Similarity.probeCells(spark, sfDir).select(col("qid"), col("qcid"))
    val expected = pcells.join(asg, col("qcid") === col("cid"))
      .filter(col("vec_id") =!= col("qid")).count()
    assert(pairs == expected, s"candidates $pairs != cell-membership sum $expected")
    // and the candidate join is a hash join on the cell id; the only
    // nested-loop joins left are the corpus×K-centroids assignment
    // cross joins (bounded by the codebook, not by the probe set) —
    // the flat query's probe-pairing NLJ (condition on qid) is gone
    val plan = cand.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [cid"),
      "stage-1 candidate join must hash on the cell id:\n" + plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("qid")),
      "no nested-loop join may pair probes with the corpus:\n" + plan)
  }

  test("hamming top-k distances match a naive sign-bit recount") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def naiveHamm(a: Array[Double], b: Array[Double]): Long =
      a.indices.count(i => (a(i) > 0) != (b(i) > 0)).toLong
    val rows = Similarity.qHammingTopk(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, neighbor, hamm) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(hamm == naiveHamm(emb(qid), emb(neighbor)),
        s"qid=$qid neighbor=$neighbor: packed hamming $hamm != naive recount")
    }
    // per qid: ranks are 1..k and (hamm, neighbor) strictly ascending —
    // the packed-long aggregator preserved the composite order
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"qid=$qid ranks not dense")
      val keys = sorted.map(r => (r.getLong(3), r.getLong(2))).toSeq
      assert(keys == keys.sorted, s"qid=$qid not ordered by (hamm, neighbor): $keys")
    }
  }

  test("bm25 scores match a naive JVM recount of the rational formula") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Text.duckWords(r.getString(1))).toMap
    val terms = Seq("spark", "merge", "window")
    val n = docs.size.toLong
    val l = docs.values.map(_.length.toLong).sum
    val df = terms.map(t => t -> docs.values.count(_.contains(t)).toLong).toMap
    def score(ws: Array[String]): (Long, Long) = {
      val dl = ws.length.toLong
      terms.foldLeft((0L, 0L)) { case ((s, hits), t) =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0) (s, hits)
        else {
          val num = 44000000L * tf * (2 * n - 2 * df(t) + 1)
          val den = ((20 * tf + 6) + (18 * dl * n) / l) * (2 * df(t) + 1)
          (s + num / den, hits + 1)
        }
      }
    }
    val rows = Text.qBm25(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (expected, hits) = score(docs(r.getLong(0)))
      assert(r.getLong(1) == expected && r.getLong(2) == hits,
        s"doc ${r.getLong(0)}: got (${r.getLong(1)}, ${r.getLong(2)}), naive ($expected, $hits)")
    }
    // the emitted list is the global top by (score desc, doc_id)
    val allScores = docs.toSeq.map { case (id, ws) => (score(ws)._1, id) }
      .sortBy { case (s, id) => (-s, id) }.take(rows.length)
    assert(rows.map(r => (r.getLong(1), r.getLong(0))).toSeq == allScores,
      "top-N selection diverges from the naive global ranking")
  }

  test("dsir lift accounting: token totals and parity split are consistent") {
    val rows = Pipeline.qDsir(spark, sfDir).collect()
    val corpusTokens = graft.Tables.documents(spark, sfDir)
      .select(col("text")).collect()
      .map(r => Text.duckWords(r.getString(0)).length.toLong).sum
    assert(rows.map(_.getLong(3)).sum == corpusTokens,
      "per-source token counts must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), "parity winners cannot exceed doc count")
      assert(r.getLong(5) == r.getLong(2) / r.getLong(3),
        s"source ${r.getString(0)}: mean_lift_ppm must be tot div n_tok")
    }
    // the en-target lift must actually separate: some docs above
    // parity, some below (the corpus is multilingual by construction)
    val above = rows.map(_.getLong(4)).sum
    assert(above > 0 && above < rows.map(_.getLong(1)).sum,
      s"parity split degenerate: $above docs above out of ${rows.map(_.getLong(1)).sum}")
  }

  test("hits half-steps equal a naive recount on the distinct edge list") {
    val edges = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (edges(r.getLong(0)), r.getLong(1))).distinct
    val auth1 = pairs.groupBy(_._2).map { case (p, es) => p -> es.length.toLong }
    val hub2 = pairs.groupBy(_._1).map { case (c, es) => c -> es.map(e => auth1(e._2)).sum }
    val auth2 = pairs.groupBy(_._2).map { case (p, es) => p -> es.map(e => hub2(e._1)).sum }
    Dedup.qHits(spark, sfDir).collect().foreach { r =>
      val expected = if (r.getString(0) == "cust") hub2(r.getLong(1)) else auth2(r.getLong(1))
      assert(r.getLong(2) == expected,
        s"${r.getString(0)} ${r.getLong(1)}: score ${r.getLong(2)} != naive $expected")
    }
  }

  test("cdc chunks tile each document and cut only on the content condition") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Text.cdcChunks(spark, sfDir).collect()
    // chunks tile: per-doc clen sums to the normalized codepoint length
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == docs.keySet, "every document must emit chunks")
    byDoc.foreach { case (id, ck) =>
      val n = Text.duckCollapse(docs(id)).codePoints().toArray.length
      assert(ck.map(_.getLong(2)).sum == n,
        s"doc $id: chunk lengths ${ck.map(_.getLong(2)).sum} != normalized length $n")
      assert(ck.map(_.getLong(1)).sorted.toSeq == (1L to ck.length).toSeq,
        s"doc $id: chunk indices must be 1..n")
    }
    // content-defined boundary locality: chunking a doc with a prefix
    // inserted leaves every chunk hash after the first cut identical
    // (fixed-size blocking would shift every boundary) — recompute
    // both chunkings with the same JVM kernel arithmetic via md5Mod
    // on the longest doc
    val (_, longest) = docs.maxBy { case (_, t) => t.length }
    def hashes(t: String): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val cps = Text.duckCollapse(t).codePoints().toArray
      val (k, b, m, d) = (8, 257L, 2147483647L, 64L)
      var bk1 = 1L; (1 until k).foreach(_ => bk1 = bk1 * b % m)
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
      if (cps.length >= k) {
        var h = 0L; var i = 0
        while (i < k) { h = (h * b + cps(i)) % m; i += 1 }
        if (h % d == 0L && k < cps.length) cuts += k
        while (i < cps.length) {
          h = ((h - cps(i - k) * bk1 % m + m) % m * b + cps(i)) % m
          if (h % d == 0L && i + 1 < cps.length) cuts += (i + 1)
          i += 1
        }
      }
      val starts = 0 +: cuts
      starts.toSeq.zipWithIndex.map { case (st, ci) =>
        val fin = if (ci + 1 < starts.length) starts(ci + 1) else cps.length
        Dedup.md5Mod(md, new String(cps, st, fin - st), Long.MaxValue)
      }
    }
    val base = hashes(longest)
    val shifted = hashes("zq inserted preamble " + longest)
    assert(base.length >= 2, "longest doc must produce multiple chunks for the locality check")
    // all chunks after the first boundary reappear verbatim
    assert(base.tail.forall(shifted.contains),
      "a prefix edit must not disturb chunk identities after the first content cut")
  }

  test("decontamination flags only train vectors, at threshold, against real eval probes") {
    val rows = Similarity.qDecontaminate(spark, sfDir).collect()
    val evalIds = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(!evalIds.contains(r.getLong(0)),
        s"flagged ${r.getLong(0)} is an eval probe, not a train vector")
      assert(evalIds.contains(r.getLong(1)),
        s"matched eval id ${r.getLong(1)} is not in the probe set")
      assert(r.getLong(2) >= 350000L,
        s"flag below threshold: ${r.getLong(2)} ppm")
    }
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one worst-hit row per flagged train vector")
  }

  test("datacard totals partition the corpus and the modal language is real") {
    val rows = Pipeline.qDatacard(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
    assert(rows.map(_.getLong(1)).sum == docs.count(), "per-source doc counts must partition")
    val langBySource = docs.groupBy(col("source"), col("lang")).count().collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(4) <= r.getLong(1), "distinct texts cannot exceed docs")
      assert(r.getLong(5) == r.getLong(1) - r.getLong(4), "dup accounting identity")
      assert(r.getLong(9) == 100L * r.getLong(3) / r.getLong(1), "mean tokens scaled-div identity")
      val counts = langBySource(src).map(x => x.getString(1) -> x.getLong(2))
      val maxC = counts.map(_._2).max
      val modal = counts.filter(_._2 == maxC).map(_._1).min
      assert(r.getString(7) == modal, s"$src: top_lang ${r.getString(7)} != modal $modal")
    }
  }

  test("semantic dedup keeps at least one member per cell and only prunes corroborated near-dups") {
    val rows = Similarity.qSemanticDedup(spark, sfDir).collect()
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.length.toLong == n, "one decision row per vector")
    // dominance is a strict order within a cell, so the farthest-from-
    // centroid member can never be dominated: every cell keeps >= 1
    rows.groupBy(_.getLong(1)).foreach { case (cid, cell) =>
      assert(cell.count(_.getLong(3) == 1L) >= 1, s"cell $cid kept no members")
      val minCcos = cell.map(_.getLong(2)).min
      val outliers = cell.filter(_.getLong(2) == minCcos)
      assert(outliers.exists(_.getLong(3) == 1L),
        s"cell $cid: the farthest-from-centroid member must survive")
    }
    // a dropped vector implies a same-cell DOMINATOR at tau: recount
    // the evidence directly from the vectors (not via qEmbedCosine,
    // whose raw-cosine filter differs from the query's 6-dp-rounded
    // one by up to 5e-7 at the boundary), with a 1e-6 guard band so a
    // rounding-boundary pair cannot fail the test spuriously
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    rows.filter(_.getLong(3) == 0L).foreach { x =>
      val cellMates = rows.filter(y => y.getLong(1) == x.getLong(1) && y.getLong(0) != x.getLong(0))
      val hasDominator = cellMates.exists { y =>
        val dominates = y.getLong(2) < x.getLong(2) ||
          (y.getLong(2) == x.getLong(2) && y.getLong(0) < x.getLong(0))
        dominates && cos(vecs(x.getLong(0)), vecs(y.getLong(0))) >= 0.45 - 1e-6
      }
      assert(hasDominator,
        s"vector ${x.getLong(0)} dropped without a same-cell dominator at tau")
    }
  }

  test("histogram near-dup pairs verify at the hamming bound against raw signatures") {
    val sigs = Multimodal.histSignatures(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = Multimodal.qHistDedup(spark, sfDir).collect()
    assert(rows.nonEmpty, "the corpus plants near-dups; the banded join must surface some")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length,
      "pair list must be distinct")
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, s"pair ($a,$b) not id-ordered")
      val (la, ha) = sigs(a)
      val (lb, hb) = sigs(b)
      val hd = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      assert(hd == r.getLong(2) && hd <= 3,
        s"pair ($a,$b): reported ${r.getLong(2)} vs recomputed $hd (bound 3)")
    }
  }

  test("LM score: train documents have zero OOV bigrams and keep matches the threshold") {
    val rows = Text.qLmScore(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length > docs.size / 2, "scoring must cover most of the corpus")
    rows.foreach { r =>
      val (id, score) = (r.getLong(0), r.getLong(2))
      assert(score >= 0 && score <= 1000000L, s"doc $id: score $score outside ppm range")
      assert(r.getBoolean(4) == (score >= 33800L), s"doc $id: keep flag breaks the threshold")
      // a train doc's own bigrams all entered the count table
      if (docs(id) == "en" && id % 10 < 8)
        assert(r.getLong(3) == 0L, s"train doc $id reports ${r.getLong(3)} OOV bigrams")
    }
    // the filter's reason to exist: en scores above the other languages on average
    val (en, other) = rows.partition(r => docs(r.getLong(0)) == "en")
    val mean = (xs: Array[org.apache.spark.sql.Row]) => xs.map(_.getLong(2)).sum / xs.length
    assert(mean(en) > mean(other), "en-trained LM must rank en docs above the rest")
  }

  test("k-means convergence trace matches a naive driver-side re-run") {
    val rows = Models.qKmeansConverge(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val em = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1000000 + 0.5).toLong).toArray)
    var cents = em.filter(_._1 % 40 == 7).map { case (id, v) => id -> v.clone() }.sortBy(_._1)
    var prev = Map.empty[Long, Long]
    val expected = (0 until 4).map { round =>
      val asg = em.map { case (id, xm) =>
        val best = cents.minBy { case (_, cm) =>
          (xm.indices.map(i => { val d = xm(i) - cm(i); d * d }).sum, 0L)._1
        }
        id -> best._1
      }.toMap
      val changed = em.count { case (id, _) => prev.getOrElse(id, -1L) != asg(id) }.toLong
      val members = em.groupBy { case (id, _) => asg(id) }
      var moved = 0L
      cents = cents.map { case (cid, old) =>
        members.get(cid) match {
          case Some(ms) =>
            val cm = Array.tabulate(64)(d => ms.map(_._2(d)).sum / ms.length)
            moved += cm.indices.map(i => math.abs(cm(i) - old(i))).sum
            cid -> cm
          case None => cid -> old
        }
      }
      prev = asg
      (round.toLong, changed, moved, members.size.toLong)
    }
    assert(rows.toSeq == expected, s"trace ${rows.toSeq} != naive $expected")
  }

  test("release gate covers every source and its verdict re-derives from the row") {
    val rows = Pipeline.qReleaseGate(spark, sfDir).collect()
    val sources = graft.Tables.documents(spark, sfDir)
      .select(col("source")).distinct().count()
    assert(rows.length.toLong == sources, "one verdict row per source")
    rows.foreach { r =>
      assert(r.getLong(4) == 1000L * r.getLong(3) / r.getLong(1), "contam_pm identity")
      assert(r.getLong(6) == 1000L * r.getLong(5) / r.getLong(1), "neardup_pm identity")
      val expected = r.getLong(2) >= 400L && r.getLong(4) <= 160L && r.getLong(6) <= 160L
      assert(r.getBoolean(7) == expected, s"${r.getString(0)}: ship flag breaks its own rule")
    }
    // the gate must actually discriminate at this corpus shape
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)),
      "thresholds must split the sources, or the gate gates nothing")
  }

  test("hard-negative mining emits one positive per probe and margin-guarded negatives") {
    val rows = Similarity.qHardNegatives(spark, sfDir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, grp) =>
      val pos = grp.filter(_.getString(4) == "pos")
      assert(pos.length == 1 && pos.head.getInt(1) == 1,
        s"probe $qid: exactly one positive at rank 1")
      assert(pos.head.getLong(5) == 0L, s"probe $qid: positive margin must be 0")
      val posCos = pos.head.getLong(3)
      grp.filter(_.getString(4) == "neg").foreach { n =>
        assert(n.getLong(3) <= posCos - 20000L,
          s"probe $qid: negative within the false-negative margin")
        assert(n.getLong(3) >= 200000L, s"probe $qid: easy negative below the floor")
        assert(n.getLong(5) == posCos - n.getLong(3),
          s"probe $qid: margin must be pos - neg exactly")
      }
      assert(grp.map(_.getInt(1)).distinct.length == grp.length,
        s"probe $qid: ranks must be unique")
    }
  }

  test("CCNet buckets partition the scored corpus into ordered near-equal shards") {
    val rows = Text.qCcnetBuckets(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_head", "2_middle", "3_tail"))
    val scored = Text.qLmScore(spark, sfDir).count()
    val sizes = rows.map(_.getLong(1))
    assert(sizes.sum == scored, "shards must partition the scored corpus")
    assert(sizes.max - sizes.min <= 1, s"ntile shards must be near-equal: ${sizes.toSeq}")
    // positional cut: score ranges may touch at a tie but never invert
    assert(rows(0).getLong(2) >= rows(1).getLong(3), "head floor below middle ceiling")
    assert(rows(1).getLong(2) >= rows(2).getLong(3), "middle floor below tail ceiling")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(4) && r.getLong(4) <= r.getLong(3),
        s"${r.getString(0)}: mean outside [min, max]")
    }
  }

  test("contamination report is the exact provenance union of its two passes") {
    val rows = Pipeline.qContamReport(spark, sfDir).collect()
    val tx = Text.qDecontaminate(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.length.toLong }
    val sem = Similarity.qDecontaminate(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows.map(_.getLong(0)).toSet == tx.keySet ++ sem.keySet,
      "report rows must be exactly the union of the two flag sets")
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected = (if (tx.contains(id)) 1L else 0L) + (if (sem.contains(id)) 2L else 0L)
      assert(r.getLong(1) == expected, s"doc $id: mask ${r.getLong(1)} != $expected")
      assert(r.getLong(2) == tx.getOrElse(id, 0L), s"doc $id: text_evals mismatch")
      assert(r.getLong(3) == sem.getOrElse(id, -1L), s"doc $id: sem_cos_ppm mismatch")
    }
  }

  test("containment rows verify against a driver-side shingle-set recount") {
    val rows = Dedup.qContainment(spark, sfDir).collect()
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def hashes(ws: Array[String]): Set[Long] =
      Dedup.shinglesOf(ws).map(x => Dedup.md5Mod(md, x, Long.MaxValue) >> 12).toSet
    rows.foreach { r =>
      val (snip, host) = (r.getLong(0), r.getLong(1))
      assert(snip % 5 == 0, "probes are every 5th doc")
      val ws = Text.duckWords(texts(snip))
      val sn = hashes(ws.take(math.max(ws.length / 3, 3)))
      val hs = hashes(Text.duckWords(texts(host)))
      assert(r.getLong(2) == sn.size.toLong && r.getLong(3) == hs.size.toLong)
      assert(r.getLong(4) == (sn & hs).size.toLong, "exact overlap recount")
      assert(r.getLong(5) >= 800, "emitted rows pass the containment floor")
      assert(r.getLong(7) ==
        (if (r.getLong(5) >= 800 && r.getLong(6) < 500) 1L else 0L))
    }
  }

  test("fertility rolls up the per-doc BPE encode exactly and merges never add symbols") {
    val rows = Text.qFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nd = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nd, "language rows partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "encode only shrinks symbol counts")
      assert(r.getLong(5) == r.getLong(4) * 1000 / r.getLong(2))
      assert(r.getLong(6) == (r.getLong(3) - r.getLong(4)) * 1000000 / r.getLong(3))
    }
  }

  test("threshold sweep is monotone in tau and anchored to the full pair list") {
    val rows = Dedup.qThresholdSweep(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4500L, 5500L, 6500L, 7500L, 8500L))
    val pairCounts = rows.map(_.getLong(1))
    val docCounts = rows.map(_.getLong(2))
    assert(pairCounts.zip(pairCounts.tail).forall { case (a, b) => a >= b },
      "raising tau can only drop pairs")
    assert(docCounts.zip(docCounts.tail).forall { case (a, b) => a >= b })
    val all = Dedup.qEmbedCosine(spark, sfDir).count()
    assert(pairCounts.head == all,
      "the lowest tau equals the scored pair list (its own emission threshold)")
  }

  test("semantic cluster dedup: accounting closes and recall vs exact pairs is measured") {
    val rows = Dedup.qSemanticClusters(spark, sfDir).collect()
    val (total, clusters) = rows.partition(_.getLong(0) == -1L)
    assert(total.length == 1, "exactly one TOTAL row (cid = -1)")
    val t = total.head
    // per-cluster accounting: kept + dropped = members; total row = the sums
    clusters.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), s"kept > members in cluster ${r.getLong(0)}")
      assert(r.getLong(3) >= 1L, "the priority-first member of a cluster is always kept")
    }
    assert(t.getLong(1) == clusters.map(_.getLong(1)).sum)
    assert(t.getLong(2) == clusters.map(_.getLong(2)).sum)
    assert(t.getLong(3) == clusters.map(_.getLong(3)).sum)
    assert(t.getLong(1) ==
      graft.Tables.embeddings(spark, sfDir).count(), "clusters partition the corpus")
    // the SemDeDup coarse-quantization trade, measured: intra-cluster
    // τ-pairs vs the exact ball-pruned all-pairs at the SAME τ
    val exact = Dedup.qEmbedCosine(spark, sfDir).count()
    val caught = t.getLong(2)
    assert(caught <= exact, "intra-cluster pairs are a subset of the exact τ-pairs")
    assert(exact == 0 || caught > 0,
      s"semantic dedup caught NOTHING of $exact exact pairs — assignment is broken")
    // the recall number itself is MEASURED, not asserted: at τ=0.45
    // (the family's loose near-dup threshold) boundary-straddling
    // pairs are the known SemDeDup coarse-quantization loss, and at
    // this SF the exact pair set is single-digit — the per-SF recall
    // rows live in PLANS.md
    info(s"semantic-dedup recall row: caught=$caught exact=$exact " +
      f"(${if (exact == 0) 1.0 else caught.toDouble / exact}%.3f)")
  }

  test("calibration bins partition the corpus and the LM score separates en") {
    val rows = Models.qCalibration(spark, sfDir).collect()
    val nDocs = graft.Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "bins must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "positives bounded by bin size")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L)
      // mean score must actually fall inside the bin's value range
      assert(r.getLong(4) / 250L == r.getLong(0), s"bin ${r.getLong(0)} mean outside bin")
    }
    // the reliability signal itself: the top bin is en-dominated, the
    // bottom bin en-free (the en-trained LM scores en higher)
    assert(rows.last.getLong(3) > rows.head.getLong(3),
      "en rate must rise from the bottom to the top bin")
  }

  test("common-neighbor pairs are cap-consistent and jaccard-bounded") {
    val rows = Dedup.qCommonNeighbors(spark, sfDir).collect()
    assert(rows.length == 20, s"top-20 contract, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "unordered pair convention p_a < p_b")
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
        "common neighbors bounded by either part's capped degree")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000L)
    }
    val counts = rows.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "rows must arrive in descending n_common order")
  }

  test("source matrix accounts for every near-dup pair exactly once") {
    val rows = Dedup.qSourceMatrix(spark, sfDir).collect()
    val nPairs = Dedup.qMinHashLsh(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == nPairs,
      "matrix cells must partition the verified pair list")
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "unordered source pair convention")
      assert((r.getLong(3) == 1L) == (r.getString(0) != r.getString(1)))
    }
  }

  test("A/B drift halves partition every cell and gaps recount driver-side") {
    val rows = Similarity.qAbDrift(spark, sfDir).collect()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == nVecs,
      "parity halves must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L)
      assert(r.getLong(4) == r.getLong(3) / 64L, "mean gap = l1 div 64")
    }
    assert(rows.exists(r => r.getLong(3) > 0L),
      "some cell must show a nonzero sampling-noise floor")
  }

  test("zipf audit: dense ranks, descending freq, top-1 normalizations") {
    val rows = Text.qZipfRatio(spark, sfDir).collect()
    assert(rows.length == 30)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 30L).toSeq, "dense ranks")
    val freqs = rows.map(_.getLong(2))
    assert(freqs.toSeq == freqs.sortBy(-_).toSeq, "frequency descends with rank")
    val f1 = freqs.head
    rows.foreach { r =>
      assert(r.getLong(3) == 1000L * r.getLong(2) / f1, "share recounts")
      assert(r.getLong(4) == 1000L * r.getLong(0) * r.getLong(2) / f1, "zipf product recounts")
    }
    assert(rows.head.getLong(3) == 1000L && rows.head.getLong(4) == 1000L)
  }

  test("label drift: per-label centroids recount against the global centroid") {
    val rows = Similarity.qLabelDrift(spark, sfDir).collect()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "labels partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3), "L1 dominates the worst dimension")
      assert(r.getLong(3) >= 0L)
    }
    assert(rows.exists(_.getLong(2) > 0L), "some label must sit off the corpus centroid")
  }

  test("markov transitions: rows partition the step stream and p_pm recounts") {
    val rows = Temporal.qMarkovTransitions(spark, sfDir).collect()
    // Σn over the matrix = total steps = events − one last event per user
    val ev = graft.Tables.events(spark, sfDir)
    val steps = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(2)).sum == steps, "matrix cells partition the step stream")
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val tot = g.head.getLong(3)
      assert(g.map(_.getLong(2)).sum == tot, "row_total recounts as the row's cell sum")
      g.foreach(r => assert(r.getLong(4) == 1000L * r.getLong(2) / tot, "p_pm recounts"))
    }
  }

  test("degree assortativity: bounded correlation over all copurchase edges") {
    val r = Dedup.qDegreeAssort(spark, sfDir).collect().head
    val edges = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().count()
    assert(r.getLong(0) == edges, "n_edges recounts the distinct (c, p) edge set")
    assert(r.getLong(1) >= 1000L && r.getLong(2) >= 1000L,
      "every endpoint has degree >= 1, so per-mille means are >= 1000")
    val a = r.getDouble(3)
    assert(a >= -1.0 && a <= 1.0, s"Pearson correlation out of bounds: $a")
  }

  test("charclass profile: shares are a partition of the char mass per lang") {
    val rows = Text.qCharclass(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
    assert(rows.map(_.getLong(1)).sum == docs.count(), "lang rows partition the corpus")
    val chars = docs.agg(sum(length(col("text")))).first().getLong(0)
    assert(rows.map(_.getLong(2)).sum == chars, "char totals partition the char mass")
    rows.foreach { r =>
      val shares = (3 to 6).map(r.getLong)
      shares.foreach(p => assert(p >= 0L && p <= 1000L))
      // four floor'd per-milles of an exact partition lose < 4 units
      val s = shares.sum
      assert(s >= 997L && s <= 1000L, s"floor'd shares must nearly close: $s")
      assert(r.getLong(3) > r.getLong(4), "text is letter-dominated over digits")
    }
  }

  test("ivf purity: majority bounded by membership and cells partition the corpus") {
    val rows = Similarity.qIvfPurity(spark, sfDir).collect()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "cells partition the corpus")
    rows.foreach { r =>
      val (members, labels, pm) = (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(labels >= 1L && labels <= members)
      // majority share is at least the uniform share and at most 1000
      assert(pm >= 1000L / labels - 1 && pm <= 1000L,
        s"purity $pm out of [uniform, 1000] for $labels labels")
      if (labels == 1L) assert(pm == 1000L, "single-label cell must be fully pure")
    }
  }

  test("scene segments: contiguous frame cover recounting frame_sample's cuts") {
    val frames = Multimodal.qFrameSample(spark, sfDir).collect()
    val scenes = Multimodal.qSceneSegments(spark, sfDir).collect()
    assert(scenes.map(_.getLong(4)).sum == frames.length,
      "scene frame counts partition the sampled-frame stream")
    // per doc: scene count = cuts + 1, and scenes tile the frame range
    val cutsByDoc = frames.groupBy(_.getLong(0)).map { case (d, fs) =>
      d -> fs.map(_.getLong(7)).sum
    }
    scenes.groupBy(_.getLong(0)).foreach { case (d, ss) =>
      assert(ss.length.toLong == cutsByDoc(d) + 1, s"doc $d: scenes != cuts+1")
      val sorted = ss.sortBy(_.getLong(1))
      assert(sorted.head.getLong(2) == 0L, "first scene starts at frame 0")
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getLong(3) < b.getLong(2), "scenes must not overlap")
      }
    }
  }

  test("autocorr: bounded, and lag pairs recount from the daily table") {
    val rows = Temporal.qAutocorr(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(Seq(1L, 7L).contains(r.getLong(1)))
      val a = r.getDouble(3)
      assert(a >= -1.0 && a <= 1.0, s"autocorr out of bounds: $a")
    }
    // recount lag-1 pair count for one type from the daily counts
    val daily = graft.Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet
    val typ = rows.head.getString(0)
    val expected = daily.count { case (t, ms) =>
      t == typ && daily.contains((t, ms + 86400000L))
    }
    val got = rows.find(r => r.getString(0) == typ && r.getLong(1) == 1L)
    assert(got.exists(_.getLong(2) == expected.toLong), "lag-1 n_pairs recounts")
  }

  test("cdc apply: live store = users whose last op is not a tombstone, ops recount") {
    val rows = graft.streaming.Streams.qStreamCdcApply(spark, sfDir).collect()
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val byUser = ev.groupBy(_._1)
    val expectLive = byUser.filter { case (_, es) =>
      es.maxBy(e => (e._2, e._3))._4 != "error"
    }
    assert(rows.length == expectLive.size, "store holds exactly the non-tombstoned keys")
    rows.foreach { r =>
      val u = r.getLong(0)
      assert(r.getLong(4) == byUser(u).length.toLong, "n_ops counts every change for the key")
      assert(r.getString(1) == expectLive(u).maxBy(e => (e._2, e._3))._4, "LWW winner type")
      assert(r.getString(1) != "error")
    }
  }

  test("power iteration: normalization hits 1000 and components recount driver-side") {
    val rows = Models.qPowerIteration(spark, sfDir).collect()
    assert(rows.length == 64 && rows.map(_.getLong(0)).toSeq == (0L until 64L).toSeq)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.forall(_.getLong(1) == n), "every dimension sees every vector")
    assert(rows.map(r => math.abs(r.getLong(2))).max == 1000L,
      "the max-|component| dimension must normalize to exactly 1000")
    // recount two dimensions exactly from the raw vectors
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray.map(x => math.round(x * 1e6)))
    val c = Array(0, 63).map { d =>
      d -> vecs.map(v => BigInt(v(d)) * BigInt(v.sum)).sum
    }.toMap
    val m = (0 until 64).map(d => vecs.map(v => BigInt(v(d)) * BigInt(v.sum)).sum.abs).max
    c.foreach { case (d, cd) =>
      val pm = if (cd >= 0) (BigInt(1000) * cd) / m else -((BigInt(1000) * -cd) / m)
      assert(rows(d).getLong(2) == pm.toLong, s"dimension $d component recounts")
    }
  }

  test("source modularity: degree/edge accounting closes against the pair list") {
    val rows = Dedup.qSourceModularity(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
    assert(rows.map(_.getLong(1)).sum == docs.count(), "source rows partition the corpus")
    val pairs = Dedup.queries("dedup_minhash_lsh")(spark, sfDir).count()
    assert(rows.map(_.getLong(3)).sum == 2L * pairs, "Σ d_sum = 2m (handshake lemma)")
    assert(rows.map(_.getLong(2)).sum <= pairs, "intra edges cannot exceed all edges")
    val q = rows.map(_.getLong(4)).sum
    assert(q >= -1000000L && q <= 1000000L, s"total modularity out of bounds: $q")
  }

  test("phash banding: pairs share a band and hamming recounts against mm_phash") {
    val hashes = Multimodal.qPHash(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def bands(h: (Long, Long)): Set[(Int, Long)] = Set(
      0 -> h._1 % 65536, 1 -> h._1 / 65536, 2 -> h._2 % 65536, 3 -> h._2 / 65536)
    val rows = Multimodal.qPhashBuckets(spark, sfDir).collect()
    assert(rows.nonEmpty, "the corpus must contain phash near-dups")
    // bucket sizes over the whole corpus: a shared band is KEPT iff
    // its bucket is within the cap
    val bucketSize = hashes.toSeq.flatMap { case (id, h) => bands(h).map(_ -> id) }
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.size }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a < b, "canonical pair order")
      val (ha, hb) = (hashes(a), hashes(b))
      val shared = bands(ha).intersect(bands(hb))
      val keptShared = shared.count(bucketSize(_) <= Multimodal.PhashBucketCap).toLong
      assert(r.getLong(2) == keptShared && keptShared >= 1L, s"pair ($a,$b) kept shared bands")
      assert(r.getLong(3) == shared.size - keptShared, s"pair ($a,$b) capped-band audit")
      val ham = java.lang.Long.bitCount(ha._1 ^ hb._1) + java.lang.Long.bitCount(ha._2 ^ hb._2)
      assert(r.getLong(4) == ham.toLong && ham <= 12, s"pair ($a,$b) hamming")
    }
  }

  test("phash bucket cap binds on a skewed corpus and the audit column records it") {
    import spark.implicits._
    // 12 identical docs (one hot pHash -> every band bucket over the
    // cap) + 2 probe docs whose text swaps two chars across a window
    // boundary in the SECOND half: phash_lo and band 3 stay equal to
    // the hot cluster (their buckets hold all 14 docs), band 2 flips
    // (its probe bucket holds only the 2 probes). Verified fixture
    // arithmetic: hamming(hot, probe) = 2, hamming(probe, probe) = 0.
    val base = "the quick brown fox jumps over the lazy dog and runs far away now "
    val hotText = (base * 2).take(128)
    val probeText = {
      val s = hotText.toCharArray
      val t = s(65); s(65) = s(66); s(66) = t
      new String(s)
    }
    val docs = (0 until 12).map(i => (i.toLong, hotText)) ++
      Seq((100L, probeText), (101L, probeText))
    val dir = java.nio.file.Files.createTempDirectory("graft_phash_skew").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'fixture' AS source",
        "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val hashes = Multimodal.qPHash(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(hashes(0L)._1 == hashes(100L)._1, "fixture: lo bands shared with the hot cluster")
      assert(hashes(0L)._2 != hashes(100L)._2, "fixture: a hi band differs")
      // every hot-cluster band bucket exceeds the cap
      assert(12 > Multimodal.PhashBucketCap)
      val rows = Multimodal.qPhashBuckets(spark, dir).collect()
      // uncapped banding would emit all 14*13/2 = 91 pairs (hamming
      // <= 2 everywhere); the cap suppresses every pair that only
      // shares over-cap buckets, leaving exactly the probe pair
      assert(rows.length == 1, s"cap must bind: got ${rows.length} pairs")
      val r = rows.head
      assert(r.getLong(0) == 100L && r.getLong(1) == 101L)
      assert(r.getLong(2) == 1L, "found via the one under-cap band bucket")
      assert(r.getLong(3) == 3L, "three shared bands were capped -- audit is visible")
      assert(r.getLong(4) == 0L, "identical probes")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("k-anonymity histogram partitions the customer table") {
    val rows = Pipeline.qKAnon(spark, sfDir).collect()
    assert(rows.map(_.getLong(2)).sum == graft.Tables.customer(spark, sfDir).count())
    rows.foreach { r =>
      val bin = r.getLong(0)
      assert(bin >= 1L && bin <= 5L)
      if (bin < 5L) {
        assert(r.getLong(3) == bin, "below the cap the bin IS the group size")
        assert(r.getLong(2) == r.getLong(1) * bin, "records = groups * k")
      } else assert(r.getLong(3) >= 5L)
    }
    assert(rows.exists(_.getLong(0) == 1L), "synthetic QIs must expose singleton groups")
  }

  test("source gini: Lorenz curve is monotone, closes at 1000, gini is one corpus constant") {
    val rows = Pipeline.qSourceGini(spark, sfDir).collect()
    val n = rows.length
    assert(rows.map(_.getLong(2)).toSeq == (1L to n).toSeq, "ranks are dense ascending")
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sortBy(identity).toSeq,
      "token mass ascends with rank")
    val shares = rows.map(_.getLong(3))
    assert(shares.toSeq == shares.sortBy(identity).toSeq && shares.last == 1000L,
      "cumulative shares are monotone and close at 1000pm")
    assert(rows.map(_.getLong(4)).distinct.length == 1, "gini is a corpus constant")
    val g = rows.head.getLong(4)
    assert(g >= 0L && g < 1000L)
  }

  test("langid margin histogram buckets are consistent and exclude und/CJK docs") {
    val rows = Text.qLangidMargin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bin = r.getLong(1)
      assert(bin >= 0L && bin <= 8L, "bins are capped at 8+")
      assert(r.getLong(2) >= 1L, "empty buckets are not emitted")
      if (bin < 8L) assert(r.getLong(3) == bin, "below the cap the bin IS the margin")
      else assert(r.getLong(3) >= 8L, "the 8+ tail holds the true max")
      assert(r.getString(0).nonEmpty && r.getString(0) != "und",
        "marker-free docs carry no margin and are excluded")
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total > 0L && total <= graft.Tables.documents(spark, sfDir).count(),
      "histogram mass is a strict subset of the corpus (CJK/und excluded)")
  }

  test("boilerplate profile covers every doc and flags corpus-repeated shingles") {
    val rows = Text.qBoilerplate(spark, sfDir).collect()
    assert(rows.length == graft.Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "boilerplate shingles bounded by the doc's set")
      assert(r.getLong(3) >= 1L, "every shingle occurs at least in its own doc")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert((r.getLong(2) > 0L) == (r.getLong(3) > 3L),
        "n_common > 0 exactly when the doc holds a df>cap shingle")
    }
    assert(rows.exists(_.getLong(2) > 0L), "the corpus must contain boilerplate mass")
  }

  test("audio fingerprint pairs chain the landmarks; checksum recounts driver-side") {
    val rows = Multimodal.qAudioFingerprint(spark, sfDir).collect()
    assert(rows.length == graft.Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getLong(2) == math.max(r.getLong(1) - 1, 0L),
        s"doc ${r.getLong(0)}: consecutive pairs must chain the landmarks")
      assert(r.getLong(3) <= r.getLong(2), "shared hashes bounded by the doc's pairs")
      assert(r.getLong(4) >= 0L)
      if (r.getLong(2) == 0L) assert(r.getLong(4) == 0L, "no pairs -> zero checksum")
    }
  }

  test("PQ distortion buckets partition the corpus with consistent bounds") {
    val rows = Similarity.qPqDistortion(spark, sfDir).collect()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "buckets must partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(3), "min <= max within a bucket")
      assert(r.getLong(2) / 10000L == r.getLong(0) && r.getLong(3) / 10000L == r.getLong(0),
        s"bucket ${r.getLong(0)} bounds outside its value range")
      assert(r.getLong(2) >= 0L && r.getLong(3) <= 2000000L, "distortion in [0, 2e6] ppm")
    }
    assert(rows.length > 1, "uniform vectors must spread across distortion buckets")
  }

  test("moment-fit scaled outputs survive adversarial magnitudes (Long-overflow audit fixture)") {
    // exact line y = 2x at magnitudes where 1000·num and 10⁶·num² no
    // longer fit a Long: the DECIMAL(38,0) widening must still emit
    // the exact slope/intercept/R² (a raw-BIGINT product would wrap
    // silently — the DSIR → ols_r2 → ess_clip lesson, now fixtured)
    val m = 10L
    val s1 = BigInt((1L to m).sum)
    val s2 = BigInt((1L to m).map(i => i * i).sum)
    val d = BigInt(m) * s2 - s1 * s1
    // linreg fixture: a = 3.5e9 pushes even the RAW moment Σx² past
    // Long.MaxValue — the r11 end-to-end decimal moments (and the
    // string-shipped num/den diagnostics) must stay exact
    val a = 3500000000L
    val tSlope = spark.range(1, m + 1)
      .selectExpr("'s' as source", s"id * $a as x", s"id * $a as y")
    val num = BigInt(a) * BigInt(a) * d
    assert(BigInt(a) * BigInt(a) * s2 > BigInt(Long.MaxValue),
      "fixture must exceed the raw-BIGINT moment range (sxx itself wraps)")
    assert(BigInt(1000) * num > BigInt(Long.MaxValue),
      "fixture must actually exceed the raw-BIGINT 1000·num range")
    val lr = Models.linregOf(tSlope).collect()(0)
    assert(lr.getLong(1) == m && BigInt(lr.getString(2)) == num && BigInt(lr.getString(3)) == num)
    assert(lr.getLong(4) == 1000L, s"exact slope×1000, got ${lr.getLong(4)}")
    // R² fixture: smaller scale (anum's raw BIGINT products bound it)
    // but 10⁶·num² still far past Long.MaxValue — the widened path
    val c = 4000L
    val tR2 = spark.range(1, m + 1)
      .selectExpr("'s' as source", s"id * $c as x", s"id * $c as y")
    val num2 = BigInt(c) * BigInt(c) * d
    assert(BigInt(1000000) * num2 * num2 > BigInt(Long.MaxValue),
      "fixture must exceed the raw-BIGINT 10⁶·num² range")
    val r2 = Models.olsR2Of(tR2).collect()(0)
    assert(r2.getLong(5) == 1000000L, s"perfect fit must gate R² = 1e6 ppm, got ${r2.getLong(5)}")
    assert(r2.getLong(6) == 0L, s"zero intercept, got ${r2.getLong(6)}")
  }

  test("embed-cosine join-path scoring (forced cutover) matches the broadcast-map path") {
    val viaMap = Dedup.qEmbedCosine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaMap.nonEmpty, "the gate corpus must produce scored pairs")
    // force the above-cap fetch-join form and require identical output
    System.setProperty("graft.embed.broadcastMaxVectors", "0")
    try {
      val viaJoin = Dedup.qEmbedCosine(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(viaJoin == viaMap, "cutover changed the gated pair scores")
    } finally System.clearProperty("graft.embed.broadcastMaxVectors")
  }

  test("pagerank trace ends at an exact fixpoint or the round cap, ranks above the base") {
    val rows = Dedup.qPagerankConverge(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length))
    assert(rows.last.getLong(1) == 0L || rows.length == 6,
      "the loop only stops early on delta 0")
    assert(rows.init.forall(_.getLong(1) > 0L), "no interior zero-delta round")
    assert(rows.forall(_.getLong(2) >= 150000000L), "pr never falls below the base mass")
  }

  test("seasonality profile partitions each type's traffic with exactly one peak") {
    val rows = Temporal.qSeasonality(spark, sfDir).collect()
    val total = graft.Tables.events(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == total, "hour cells partition the events")
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      val typeN = rs.map(_.getLong(2)).sum
      rs.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000 / typeN))
      val peaks = rs.filter(_.getLong(4) == 1L)
      assert(peaks.length == 1, s"$t: exactly one peak hour")
      assert(peaks.head.getLong(2) == rs.map(_.getLong(2)).max, s"$t: peak has max count")
    }
  }

  test("quality-aware canonical pick keeps the max (lm, chars, -id) member per cluster") {
    val picks = Dedup.qCanonicalQuality(spark, sfDir).collect()
    assert(picks.nonEmpty)
    val labels = Dedup.qClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)) // (doc_id, cluster_id)
    val lm = Text.qLmScore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val chars = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = labels.groupBy(_._2)
    assert(picks.length == byCluster.size)
    picks.foreach { p =>
      val members = byCluster(p.getLong(0)).map(_._1)
      assert(members.length == p.getLong(4).toInt, "n_members")
      val best = members.maxBy(d => (lm(d), chars(d), -d))
      assert(p.getLong(1) == best, s"cluster ${p.getLong(0)}: kept ${p.getLong(1)} != $best")
      assert(p.getLong(2) == lm(best) && p.getLong(3) == chars(best))
    }
  }

  test("gram coverage covers every eval doc and bounds/derives its rates") {
    val rows = Text.qGramCoverage(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 50 == 3, "eval split membership")
      assert(r.getLong(2) <= r.getLong(1), "covered grams bounded by the doc's grams")
      assert(r.getLong(3) == r.getLong(2) * 1000 / r.getLong(1))
      assert(r.getBoolean(4) == (r.getLong(3) >= 500))
    }
  }

  test("k-center radii are non-increasing and each pick is the true farthest point") {
    val rows = Pipeline.qKcenter(spark, sfDir).collect()
    assert(rows.length == 8)
    val radii = rows.map(_.getLong(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      "greedy covering radius can only shrink")
    // re-derive round 1 exactly: the farthest vector from the seed
    val em = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000 + 0.5) as bigint)) xm")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val seed = em.find(_._1 == 7L).get._2
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < 64) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val (bestId, bestD) = em.map { case (id, xm) => (id, d2(xm, seed)) }
      .maxBy { case (id, d) => (d, -id) }
    assert(rows.head.getLong(1) == bestId && rows.head.getLong(2) == bestD,
      "round 1 must pick the exact farthest point from the seed")
  }

  test("resize grid indices stay in range and the checksum recounts driver-side") {
    val rows = Multimodal.qResize(spark, sfDir).collect()
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.foreach { r =>
      val t = texts(r.getLong(0))
      assert(r.getLong(1) == t.length.toLong)
      // empty docs contribute checksum 0, matching the production guard
      val checksum =
        if (t.isEmpty) 0L
        else (0 until 64).map(i => t.charAt((i * t.length / 64).toInt).toLong).sum
      assert(r.getLong(3) == checksum, s"doc ${r.getLong(0)} checksum")
    }
  }

  test("OOD flags are exactly the strict p95 tail of each cell's distance distribution") {
    val flags = Similarity.qOodDetect(spark, sfDir).collect()
    // driver-side recount: µ-scale, assign to stride seeds, p95 rank
    val em = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000 + 0.5) as bigint)) xm")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val cents = em.filter(_._1 % 40 == 7).sortBy(_._1)
    val assigned = em.map { case (id, xm) =>
      val (cid, d2) = cents.map { case (c, cm) =>
        var s = 0L; var i = 0
        while (i < 64) { val d = xm(i) - cm(i); s += d * d; i += 1 }
        (c, s)
      }.minBy { case (c, s) => (s, c) }
      (id, cid, d2)
    }
    val expected = assigned.groupBy(_._2).flatMap { case (cid, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val p95 = sorted(((95 * rows.length + 99) / 100) - 1)._3
      rows.filter(_._3 > p95).map(r => (r._1, cid, r._3, p95)).toSeq
    }.toSet
    assert(flags.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      == expected, "flag set must equal the driver-side strict-tail recount")
    flags.groupBy(_.getLong(1)).foreach { case (cid, fs) =>
      val n = assigned.count(_._2 == cid)
      assert(fs.length <= n / 20 + 1, s"cell $cid: tail beyond p95 can't exceed ~5%")
    }
  }

  test("streaming quantiles only emit closed windows and match a batch recount per window") {
    import graft.streaming.Streams
    val rows = Streams.qStreamQuantile(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("w"),
        expr("cast(round(value * 100) as bigint)").as("cents")).collect()
      .groupBy(_.getString(0)).map { case (k, v) => k -> v.map(_.getLong(1)).sorted }
    val lastHour = ev.keys.max
    rows.groupBy(_.getString(0)).foreach { case (w, rs) =>
      assert(w < lastHour, "watermark: the newest hour never emits")
      val cents = ev(w)
      rs.foreach { r =>
        assert(r.getLong(2) == cents.length.toLong, s"window $w n_total")
        val rank = (r.getLong(1) * cents.length + 999) / 1000
        val exact = cents(rank.toInt - 1)
        assert(exact / 1000L == r.getLong(3), s"window $w: true quantile in the hit bin")
      }
    }
  }

  test("MMR top-k matches an exact driver-side greedy replay and diversity binds") {
    import graft.functions.Vectors
    val out = Similarity.qMmrTopk(spark, sfDir).collect()
    assert(out.nonEmpty)
    // replay the greedy MMR exactly: same cells, same 6-dp-then-ppm
    // integer cosines, same (7, 3) integer weights, same tiebreaks
    val asg = Similarity.assignToCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    val byCell = asg.groupBy(_._2)
    def simInt(v1: Array[Double], n1: Double, v2: Array[Double], n2: Double): Long = {
      val r6 = Vectors.round6Jvm(Vectors.dotJvm(v1, v2) / (n1 * n2))
      BigDecimal.valueOf(r6 * 1000000d)
        .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    }
    var diversityBinds = false
    asg.filter(_._1 % 50 == 0).foreach { case (qid, qcid, qv, qn) =>
      val cand = byCell(qcid).filter(_._1 != qid)
        .map { case (id, _, v, n) => (id, v, n, simInt(v, n, qv, qn)) }
      if (cand.nonEmpty) {
        val got = out.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getLong(3)))
        var picked = List.empty[(Long, Array[Double], Double)]
        val expect = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var rest = cand
        while (picked.length < 3 && rest.nonEmpty) {
          val scored = rest.map { case (id, v, n, rel) =>
            val pen = if (picked.isEmpty) 0L
              else picked.map(p => simInt(v, n, p._2, p._3)).max
            (id, v, n, 7L * rel - 3L * pen)
          }
          val best = scored.minBy { case (id, _, _, sc) => (-sc, id) }
          expect += ((best._1, best._4))
          picked = picked :+ ((best._1, best._2, best._3))
          rest = rest.filter(_._1 != best._1)
        }
        assert(got.toSeq == expect.toSeq, s"probe $qid greedy replay mismatch")
        // diversity binds when the MMR list deviates from plain rel order
        val relOrder = cand.sortBy(c => (-c._4, c._1)).take(3).map(_._1).toSeq
        if (got.map(_._1).toSeq != relOrder) diversityBinds = true
      }
    }
    assert(diversityBinds,
      "λ=0.7 must reorder at least one probe's list vs plain top-k by relevance")
  }

  test("exact AUC matches a BigInt pairwise driver recount and the rank identity") {
    import graft.functions.Vectors
    val rows = Models.qAucExact(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    // driver-side score recount with the identical per-element rounding
    val scored = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(label as long) as label", "cast(embedding as array<double>) as v")
      .collect().map { row =>
        val v = row.getSeq[Double](1)
        (if (row.getLong(0) < 5) 1 else 0,
          v.map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).sum)
      }
    val pos = scored.filter(_._1 == 1).map(_._2)
    val neg = scored.filter(_._1 == 0).map(_._2)
    assert(r.getLong(0) == pos.length.toLong && r.getLong(1) == neg.length.toLong)
    // O(n²) pairwise truth at the test SF — the statistic itself
    var c = BigInt(0); var t = BigInt(0)
    val negSorted = neg.sorted
    pos.foreach { p =>
      // binary search bounds: negatives strictly below / equal
      val lo = negSorted.search(p)(Ordering.Long) match {
        case scala.collection.Searching.Found(i) =>
          var j = i; while (j > 0 && negSorted(j - 1) == p) j -= 1; j
        case scala.collection.Searching.InsertionPoint(i) => i
      }
      var hi = lo
      while (hi < negSorted.length && negSorted(hi) == p) hi += 1
      c += BigInt(lo)
      t += BigInt(hi - lo)
    }
    assert(BigInt(r.getString(2)) == c, "concordant pairs")
    assert(BigInt(r.getString(3)) == t, "tied pairs")
    val expected = (BigInt(1000000) * (2 * c + t)) /
      (BigInt(2) * pos.length * neg.length).max(BigInt(1))
    assert(r.getLong(4) == expected.toLong, "auc_ppm")
    assert(r.getLong(4) > 0L && r.getLong(4) < 1000000L,
      "a random linear scorer is neither perfect nor perfectly wrong")
    // rank identity cross-check: C + T/2 == Σ rank(pos) − n₊(n₊+1)/2
    // over midranks — equivalent statement of Mann–Whitney U
    val all = scored.map(x => (x._2, x._1)).sortBy(_._1)
    var i = 0
    var uFromRanks = BigInt(0)
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j)._1 == all(i)._1) j += 1
      val nPosGroup = (i until j).count(k => all(k)._2 == 1)
      // midrank of the tied block, doubled to stay integral
      val midrank2 = BigInt(i + 1 + j) // (i+1 + j) = 2·avg rank
      uFromRanks += BigInt(nPosGroup) * midrank2
      i = j
    }
    val np = BigInt(pos.length)
    assert(uFromRanks - np * (np + 1) == 2 * c + t, "rank-sum identity")
  }

  test("Gini stump split matches a brute-force BigInt recount per dimension") {
    import graft.functions.Vectors
    val rows = Models.qGiniSplit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val data = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(label as long) as label", "cast(embedding as array<double>) as v")
      .collect().map { r =>
        (if (r.getLong(0) < 5) 1L else 0L,
          r.getSeq[Double](1).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong))
      }
    val dims = data.head._2.length
    val expected = (0 until dims).flatMap { d =>
      val sv = data.map { case (y, v) => (y, v(d)) }
      val smin = sv.map(_._2).min; val smax = sv.map(_._2).max
      val range = smax - smin + 1
      val hist = sv.groupBy { case (_, x) => math.min(15L, (x - smin) * 16 / range) }
      val cand = (0L until 15L).flatMap { b =>
        val left = hist.filter(_._1 <= b).values.flatten
        val right = hist.filter(_._1 > b).values.flatten
        val (lp, ln) = (left.count(_._1 == 1L).toLong, left.count(_._1 == 0L).toLong)
        val (rp, rn) = (right.count(_._1 == 1L).toLong, right.count(_._1 == 0L).toLong)
        val (l, r) = (lp + ln, rp + rn)
        if (l == 0 || r == 0) None
        else Some((b, lp, ln, rp, rn,
          (BigInt(2000000) * (BigInt(lp) * ln * r + BigInt(rp) * rn * l) /
            (BigInt(l) * r * (l + r))).toLong))
      }
      if (cand.isEmpty) None
      else {
        val best = cand.minBy { case (b, _, _, _, _, ppm) => (ppm, b) }
        Some((d.toLong, best._1, smin + (best._1 + 1) * range / 16 - 1,
          best._2, best._3, best._4, best._5, best._6))
      }
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq == expected,
      "per-dim best split mismatch vs brute force")
    // the split is non-trivial somewhere: impurity strictly below the
    // unsplit Gini 2·n₊n₋/n² for at least one dimension
    val np = data.count(_._1 == 1L).toLong; val n = data.length.toLong
    val rootPpm = (BigInt(2000000) * np * (n - np) / (BigInt(n) * n)).toLong
    assert(rows.exists(_.getLong(7) < rootPpm),
      "some dimension must beat the root impurity")
  }

  test("CUSUM window form matches the sequential textbook recurrence per type") {
    val rows = Temporal.qCusum(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (tpe, rs) =>
      val seq = rs.sortBy(_.getString(1))
      val nd = seq.length.toLong
      assert(seq.forall(_.getLong(3) == nd), s"$tpe n_days")
      val tot = seq.map(_.getLong(2)).sum
      // the sequential recurrence the window algebra must equal:
      // S⁺_t = max(0, S⁺_{t-1} + (nd·x_t − tot)), S⁻ mirrored
      var sUp = 0L; var sDn = 0L
      seq.foreach { r =>
        val d = nd * r.getLong(2) - tot
        sUp = math.max(0L, sUp + d)
        sDn = math.max(0L, sDn - d)
        assert(r.getLong(4) == sUp, s"$tpe ${r.getString(1)} s_up")
        assert(r.getLong(5) == sDn, s"$tpe ${r.getString(1)} s_dn")
        assert(r.getLong(6) == (if (sUp > 2L * tot) 1L else 0L), "alarm_up rule")
        assert(r.getLong(7) == (if (sDn > 2L * tot) 1L else 0L), "alarm_dn rule")
      }
      // Σ deviations = 0 by construction: the statistic ends bounded,
      // and on a series containing a genuine level shift the alarm
      // fires — prove the detector's sensitivity on a synthetic shift
    }
    // sensitivity fixture: 20 quiet days at 10/day then 10 days at
    // 40/day — the shift accumulates > 2 mean-days within 4 days
    val cnts = Array.fill(20)(10L) ++ Array.fill(10)(40L)
    val nd = cnts.length.toLong; val tot = cnts.sum
    var s = 0L
    val fired = cnts.map { x =>
      s = math.max(0L, s + (nd * x - tot)); s > 2L * tot
    }
    assert(!fired.take(20).exists(identity), "no alarm during the quiet regime")
    assert(fired.drop(20).exists(identity), "the level shift must trip the alarm")
  }

  test("RAKE keywords: the kernel matches an independent regex-pipeline replay") {
    val rows = Text.qKeywords(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // independent replay of the ORACLE's regex pipeline (not the
    // kernel's character scan): punctuation → '|', \b-stopword → '|',
    // split, trim/collapse, then RAKE deg/freq scoring
    val stop = "the|a|an|and|or|of|to|in|is|it"
    val expected = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect().flatMap { r =>
        val docId = r.getLong(0)
        val t = {
          val x = r.getString(1)
          var b = 0; var e = x.length
          while (b < e && x.charAt(b) == ' ') b += 1
          while (e > b && x.charAt(e - 1) == ' ') e -= 1
          x.substring(b, e).toLowerCase(java.util.Locale.ROOT)
        }
        val phrases = t.replaceAll("[^a-z0-9 \t\n\f\r]+", "|")
          .replaceAll(s"\\b($stop)\\b", "|")
          .split("\\|", -1)
          .map(_.replaceAll("^[ \t\n\f\r]+|[ \t\n\f\r]+$", "")
            .replaceAll("[ \t\n\f\r]+", " "))
          .filter(_.nonEmpty)
        if (phrases.isEmpty) Seq.empty[(Long, Long, String, Long)]
        else {
          val occWords = phrases.flatMap { p =>
            val ws = p.split(" "); ws.map(w => (w, ws.length.toLong))
          }
          val freq = occWords.groupBy(_._1).map { case (w, g) => w -> g.length.toLong }
          val deg = occWords.groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }
          phrases.distinct.map { p =>
            val score = p.split(" ").map(w => 1000L * deg(w) / freq(w)).sum
            (p, score)
          }.sortBy { case (p, sc) => (-sc, p) }.take(3).zipWithIndex
            .map { case ((p, sc), i) => (docId, i + 1L, p, sc) }.toSeq
        }
      }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq == expected.toSeq, "RAKE top-3 mismatch vs regex replay")
    // multi-word phrases must outrank their parts somewhere: RAKE's
    // signature bias toward longer collocations
    assert(rows.exists(r => r.getLong(1) == 1L && r.getString(2).contains(" ")),
      "some document's top keyword should be a multi-word phrase")
  }

  test("PR curve matches a driver recount at the exact decile thresholds") {
    import graft.functions.Vectors
    val rows = Models.qPrCurve(spark, sfDir).collect()
    assert(rows.length == 9)
    val scored = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(label as long) as label", "cast(embedding as array<double>) as v")
      .collect().map { r =>
        (if (r.getLong(0) < 5) 1L else 0L,
          r.getSeq[Double](1).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).sum)
      }
    val n = scored.length.toLong
    val np = scored.count(_._1 == 1L).toLong
    val sorted = scored.map(_._2).sorted
    (1L to 9L).zip(rows).foreach { case (k, r) =>
      val tau = sorted(((k * n + 9) / 10 - 1).toInt)
      val tp = scored.count(x => x._2 >= tau && x._1 == 1L).toLong
      val fp = scored.count(x => x._2 >= tau && x._1 == 0L).toLong
      assert(r.getLong(0) == k && r.getLong(1) == tau, s"threshold $k")
      assert(r.getLong(2) == tp && r.getLong(3) == fp && r.getLong(4) == np - tp)
      assert(r.getLong(5) == 1000000L * tp / (tp + fp), s"precision k=$k")
      assert(r.getLong(6) == 1000000L * tp / np, s"recall k=$k")
      assert(r.getLong(7) == 2000000L * tp / (2 * tp + fp + (np - tp)), s"f1 k=$k")
    }
    // recall is monotone non-increasing in the threshold index
    val rec = rows.map(_.getLong(6))
    assert(rec.zip(rec.tail).forall { case (a, b) => a >= b }, "recall monotone")
    assert(rec.head > rec.last, "the curve must actually move across deciles")
  }

  test("Cohen's kappa matches an exact BigInt driver recount of the confusion marginals") {
    val rows = Similarity.qCohensKappa(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) as label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asg = Similarity.assignToCentroids(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // cell-majority label, ties to the smaller label
    val maj = asg.groupBy(_._2).map { case (cid, ms) =>
      cid -> ms.groupBy(m => labels(m._1)).map { case (l, g) => (l, g.length) }
        .minBy { case (l, n) => (-n, l) }._1
    }
    val pairs = asg.map { case (id, cid) => (labels(id), maj(cid)) }
    val nTrue = pairs.groupBy(_._1).map { case (l, g) => l -> g.length.toLong }
    val nPred = pairs.groupBy(_._2).map { case (l, g) => l -> g.length.toLong }
    val nAgree = pairs.groupBy(_._1)
      .map { case (l, g) => l -> g.count(p => p._1 == p._2).toLong }
    val n = BigInt(pairs.length)
    val a = BigInt(pairs.count(p => p._1 == p._2))
    val p = (nTrue.keySet ++ nPred.keySet).toSeq
      .map(l => BigInt(nTrue.getOrElse(l, 0L)) * BigInt(nPred.getOrElse(l, 0L))).sum
    val num = BigInt(1000000) * (a * n - p)
    val den = (n * n - p).max(BigInt(1))
    val kappa = if (num >= 0) num / den else -((-num) / den)
    rows.foreach { r =>
      val l = r.getLong(0)
      assert(r.getLong(1) == nTrue.getOrElse(l, 0L), s"label $l n_true")
      assert(r.getLong(2) == nPred.getOrElse(l, 0L), s"label $l n_pred")
      assert(r.getLong(3) == nAgree.getOrElse(l, 0L), s"label $l n_agree")
      assert(r.getLong(4) == kappa.toLong, s"label $l kappa_ppm")
    }
    assert(rows.map(_.getLong(0)).toSet == (nTrue.keySet ++ nPred.keySet),
      "full-join marginals: every label present on either axis appears")
    val k = rows.head.getLong(4)
    assert(k > -1000000L && k < 1000000L, "kappa strictly inside (-1, 1) on random labels")
  }

  test("FORCAST readability matches an independent regex replay of the oracle pipeline") {
    val rows = Text.qReadability(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // replay via Java regexes (the kernel uses none), mirroring the
    // oracle: words = [a-z0-9]+ runs of lower(trim), syllables =
    // max(1, count of [aeiouy]+ runs per word)
    val syllRe = java.util.regex.Pattern.compile("[aeiouy]+")
    val wordRe = java.util.regex.Pattern.compile("[a-z0-9]+")
    val expected = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect().flatMap { r =>
        val t = {
          val x = r.getString(1)
          var b = 0; var e = x.length
          while (b < e && x.charAt(b) == ' ') b += 1
          while (e > b && x.charAt(e - 1) == ' ') e -= 1
          x.substring(b, e).toLowerCase(java.util.Locale.ROOT)
        }
        val wm = wordRe.matcher(t)
        val sylls = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (wm.find()) {
          val sm = syllRe.matcher(wm.group())
          var c = 0L
          while (sm.find()) c += 1
          sylls += math.max(1L, c)
        }
        if (sylls.isEmpty) None
        else {
          val w = sylls.length.toLong
          val y = sylls.sum
          val m = sylls.count(_ == 1L).toLong
          Some((r.getLong(0), w, y, m, 100L * y / w, 2000L - 1500L * m / w))
        }
      }.sortBy(_._1)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))).toSeq == expected.toSeq,
      "readability kernel mismatch vs regex replay")
    // structural bounds: monosyllables are a subset of words, every
    // word carries >= 1 syllable, and FORCAST stays inside its
    // algebraic range [500, 2000]
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(2) >= r.getLong(1))
      assert(r.getLong(5) >= 500L && r.getLong(5) <= 2000L)
    }
    assert(rows.map(_.getLong(5)).distinct.length > 1,
      "the grade must actually vary across documents")
  }

  test("BFS levels match a driver-side breadth-first replay") {
    val rows = Dedup.qBfsLevels(spark, sfDir).collect()
    assert(rows.length == 5, "levels 0..4, one row each")
    val edges = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey") + 10000000L).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, g) => k -> g.map(_._2).toSet }
    val seed = edges.groupBy(_._2).map { case (p, g) => (p, g.length) }
      .minBy { case (p, d) => (-d, p) }._1
    var visited = Set(seed)
    var frontier = Set(seed)
    val expect = scala.collection.mutable.ArrayBuffer(Set(seed))
    (1 to 4).foreach { _ =>
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited
      expect += next
      visited ++= next
      frontier = next
    }
    rows.zip(expect).zipWithIndex.foreach { case ((r, lvl), i) =>
      assert(r.getLong(0) == i.toLong)
      assert(r.getLong(1) == lvl.size.toLong, s"level $i size")
      assert(r.getLong(2) == (if (lvl.isEmpty) -1L else lvl.min), s"level $i min")
      assert(r.getLong(3) == (if (lvl.isEmpty) -1L else lvl.max), s"level $i max")
      assert(BigInt(r.getString(4)) == lvl.foldLeft(BigInt(0))(_ + _), s"level $i sum")
    }
    // bipartite: levels must alternate part-side (>= 1e7) and
    // customer-side (< 1e7)
    rows.foreach { r =>
      val lvl = r.getLong(0)
      if (r.getLong(1) > 0L) {
        val partSide = lvl % 2 == 0
        assert((r.getLong(2) >= 10000000L) == partSide, s"level $lvl side")
        assert((r.getLong(3) >= 10000000L) == partSide, s"level $lvl side")
      }
    }
    assert(rows.map(_.getLong(1)).sum > 1L, "the frontier must actually expand")
  }

  test("correlation matrix matches native corr and a BigInt moment recount") {
    import graft.functions.Vectors
    val rows = Models.qCorrPairs(spark, sfDir).collect()
    val d = Vectors.Dim
    assert(rows.length == d * (d - 1) / 2, "one row per unordered dim pair")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (for (a <- 0 until d; b <- a + 1 until d) yield (a.toLong, b.toLong)).toSeq)
    // exact BigInt recount of the sufficient statistics for a probe
    // pair, then the same double chain — independent of the kernel
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(embedding as array<double>) as v").collect()
      .map(_.getSeq[Double](0).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).toArray)
    val n = BigInt(vecs.length)
    def corrOf(a: Int, b: Int): Double = {
      val sxa = vecs.foldLeft(BigInt(0))((s, v) => s + v(a))
      val sxb = vecs.foldLeft(BigInt(0))((s, v) => s + v(b))
      val sxxa = vecs.foldLeft(BigInt(0))((s, v) => s + BigInt(v(a)) * v(a))
      val sxxb = vecs.foldLeft(BigInt(0))((s, v) => s + BigInt(v(b)) * v(b))
      val sxy = vecs.foldLeft(BigInt(0))((s, v) => s + BigInt(v(a)) * v(b))
      (n.toDouble * sxy.toDouble - sxa.toDouble * sxb.toDouble) /
        (math.sqrt(n.toDouble * sxxa.toDouble - sxa.toDouble * sxa.toDouble) *
         math.sqrt(n.toDouble * sxxb.toDouble - sxb.toDouble * sxb.toDouble))
    }
    val byPair = rows.map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(3)).toMap
    // EXACT integer equality (r11 lesson: tolerance-based spec
    // compares missed the -0.0 sign bit; the gated value is now a
    // floor'd scaled integer and the recount replays the identical
    // IEEE chain, so == must hold bit-for-bit)
    Seq((0, 1), (0, d - 1), (d / 2, d / 2 + 1)).foreach { case (a, b) =>
      val expect = math.floor(corrOf(a, b) * 10000d).toLong
      assert(byPair((a, b)) == expect,
        s"pair ($a,$b): kernel ${byPair((a, b))} vs recount $expect")
    }
    // and against Spark's native streaming corr (approximate, on the
    // raw doubles rather than the µ-scaled ints)
    val native = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(embedding as array<double>) as v")
      .agg(corr(expr("v[0]"), expr("v[1]"))).first().getDouble(0)
    assert(math.abs(byPair((0, 1)).toDouble / 10000d - native) < 1e-3,
      s"pair (0,1): ${byPair((0, 1))} vs native $native")
    rows.foreach(r => assert(r.getLong(3) >= -10001L && r.getLong(3) <= 10000L))
    assert(rows.forall(_.getLong(2) == vecs.length.toLong), "n on every row")
  }

  test("label odds ratios match a BigInt presence recount") {
    val rows = Text.qLabelOdds(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("lang = 'en' as en", "text").collect()
      .map(r => (r.getBoolean(0),
        r.getString(1).trim.toLowerCase(java.util.Locale.ROOT)
          .split("[ \t\n\f\r]+").filter(_.nonEmpty).toSet))
    val ne = docs.count(_._1).toLong
    val nr = docs.count(!_._1).toLong
    val counts = docs.flatMap { case (en, toks) => toks.map(t => (t, en)) }
      .groupBy(_._1).map { case (t, g) =>
        t -> (g.count(_._2).toLong, g.count(!_._2).toLong)
      }
    val expect = counts.map { case (t, (a, b)) =>
      val or = BigInt(1000000) * (BigInt(a) + 1) * (BigInt(nr - b) + 1) /
        ((BigInt(b) + 1) * (BigInt(ne - a) + 1))
      (t, a, b, or.toLong)
    }.toSeq.sortBy { case (t, _, _, or) => (-or, t) }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == expect, "odds-ratio table mismatch vs driver recount")
    // the ranking must separate: some token enriched in the slice,
    // some depleted (odds ratio straddles 1.0 = 1e6 ppm)
    assert(rows.head.getLong(3) > 1000000L && rows.last.getLong(3) < 1000000L,
      "odds ratios must straddle 1.0")
  }

  test("RFM segment grid matches a driver quintile replay") {
    val rows = Temporal.qRfm(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val pu = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "unix_micros(ts) as us",
        "cast(floor(value * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = pu.groupBy(_._1).map { case (u, g) =>
      (u, g.map(_._2).max, g.length.toLong, g.map(_._3).sum)
    }.toArray
    val mu = byUser.map(_._2).max
    val users = byUser.map { case (u, lastUs, f, m) =>
      (u, (mu - lastUs) / 86400000000L, f, m)
    }
    val n = users.length
    def quint(metric: ((Long, Long, Long, Long)) => Long): Map[Long, Long] = {
      val sorted = users.map(x => (metric(x), x._1)).sorted
      val ths = (1 to 4).map(k => sorted((((k.toLong * n + 4) / 5) - 1).toInt))
      val ord = implicitly[Ordering[(Long, Long)]]
      users.map(x => x._1 ->
        (1L + ths.count(t => ord.gt((metric(x), x._1), t)))).toMap
    }
    val (qr, qf, qm) = (quint(_._2), quint(_._3), quint(_._4))
    val expect = users.groupBy(x => (6L - qr(x._1), qf(x._1), qm(x._1)))
      .map { case (k, g) => (k._1, k._2, k._3, g.length.toLong,
        g.foldLeft(BigInt(0))(_ + _._4)) }
      .toSeq.sortBy(x => (x._1, x._2, x._3))
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      BigInt(r.getString(4)))).toSeq == expect, "RFM grid mismatch vs driver replay")
    // quintiles are exact: per metric, each score bucket within 1 of n/5
    Seq(qr, qf, qm).foreach { q =>
      val sizes = q.values.groupBy(identity).map(_._2.size)
      assert(sizes.max - sizes.min <= 1, s"unbalanced quintiles: $sizes")
    }
    // the most recent purchaser must land in the top recency score
    val freshest = users.minBy(x => (x._2, x._1))._1
    assert(6L - qr(freshest) == 5L, "latest purchaser gets r_score 5")
    assert(rows.map(_.getLong(3)).sum == n.toLong, "grid partitions all users")
  }

  test("Poisson bootstrap matches a driver resample replay and brackets the point mean") {
    val rows = Models.qBootstrapCi(spark, sfDir).collect()
    assert(rows.length == 32)
    val pu = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .selectExpr("event_id", "cast(floor(value * 100) as long) as x").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val thr = Array(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)
    def md5Mod(s2: String): Long = {
      md.reset()
      val d = md.digest(s2.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      ((h << 4) | ((d(7) >> 4) & 0xfL)) % 2147483647L
    }
    val stats = (0 until 32).map { b =>
      var n = BigInt(0); var s2 = BigInt(0)
      pu.foreach { case (id, x) =>
        val h = md5Mod(id.toString + ":bs")
        val u = ((1L + 2L * b) * h + (17L + b)) % 2147483647L % 1000000L
        val c = thr.count(u >= _).toLong
        n += c; s2 += BigInt(c) * x
      }
      (b.toLong, n, s2, (BigInt(100) * s2 / n.max(BigInt(1))).toLong)
    }
    val sortedMeans = stats.map(x => (x._4, x._1)).sorted
    val (lo, hi) = (sortedMeans(3)._1, sortedMeans(28)._1)
    rows.zip(stats).foreach { case (r, (b, n, s2, m)) =>
      assert(r.getLong(0) == b && r.getLong(1) == n.toLong, s"resample $b counts")
      assert(BigInt(r.getString(2)) == s2 && r.getLong(3) == m, s"resample $b sums")
      assert(r.getLong(4) == lo && r.getLong(5) == hi, s"resample $b CI")
    }
    // Poisson(1) preserves mass in expectation: resample sizes
    // average to ~n, and the 10-90 band brackets the point estimate
    val avgN = stats.map(_._2).sum / 32
    assert((avgN - pu.length).abs.toDouble <= 0.05 * pu.length,
      s"mean resample size $avgN vs n ${pu.length}")
    val pointMean = BigInt(100) * pu.map(x => BigInt(x._2)).sum / BigInt(pu.length)
    assert(lo <= pointMean.toLong && pointMean.toLong <= hi,
      s"CI [$lo, $hi] must bracket the point mean $pointMean")
    assert(lo < hi, "the interval must have width")
  }

  test("Pareto frontier matches the brute-force dominance definition") {
    val rows = Pipeline.qParetoFrontier(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val t = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect().map { r =>
        // JVM-side replay of the words() split: DuckDB-style trim
        // (spaces only) + the RE2 \s class, keeping trailing empties
        val x = r.getString(1)
        var b = 0; var e = x.length
        while (b < e && x.charAt(b) == ' ') b += 1
        while (e > b && x.charAt(e - 1) == ' ') e -= 1
        val toks = x.substring(b, e).toLowerCase(java.util.Locale.ROOT)
          .split("[ \t\n\f\r]+", -1)
        (r.getLong(0), toks.length.toLong, toks.distinct.length.toLong)
      }
    val brute = t.filter { a =>
      !t.exists(b => b._2 >= a._2 && b._3 >= a._3 &&
        (b._2 > a._2 || b._3 > a._3))
    }.sortBy(x => (x._2, x._1))
    assert(rows.toSeq == brute.toSeq, "frontier mismatch vs O(n^2) dominance scan")
    // no frontier point dominates another (mutual non-dominance)
    rows.foreach { a =>
      rows.foreach { b =>
        assert(a == b || !(b._2 >= a._2 && b._3 >= a._3 &&
          (b._2 > a._2 || b._3 > a._3)), s"$b dominates $a on the frontier")
      }
    }
  }

  test("MRR@10 matches a driver ranking replay over the shared assignment") {
    import graft.functions.Vectors
    val out = Similarity.qMrrAt10(spark, sfDir).collect()
    assert(out.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) as lab").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asg = Similarity.assignToCentroids(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))
    val byCell = asg.groupBy(_._2)
    val firstRanks = asg.filter(_._1 % 50 == 0).map { case (qid, cid, qv, qn) =>
      val ranked = byCell(cid).filter(_._1 != qid)
        .map { case (vid, _, v, nrm) =>
          (vid, Vectors.round6Jvm(Vectors.dotJvm(v, qv) / (nrm * qn)))
        }
        .sortBy { case (vid, cos) => (-cos, vid) }
        .take(10)
      val idx = ranked.indexWhere { case (vid, _) => labels(vid) == labels(qid) }
      if (idx < 0) 0L else idx + 1L
    }
    val hist = firstRanks.groupBy(identity).map { case (r, g) => r -> g.length.toLong }
    val num = firstRanks.filter(_ > 0L).map(r => BigInt(2520L / r)).sum
    val mrr = (BigInt(1000000) * num / (BigInt(2520) * firstRanks.length)).toLong
    assert(out.map(_.getLong(0)).toSet == hist.keySet, "rank-bucket closure")
    out.foreach { r =>
      val fr = r.getLong(0)
      assert(r.getLong(1) == hist(fr), s"bucket $fr count")
      assert(r.getLong(2) == (if (fr > 0) 2520L / fr else 0L), s"bucket $fr rr")
      if (fr > 0) assert(r.getLong(2) * fr <= 2520L && 2520L % fr == 0L)
      assert(r.getLong(3) == mrr, s"bucket $fr mrr_ppm")
    }
    assert(mrr > 0L && mrr < 1000000L, "MRR strictly inside (0, 1) on random labels")
  }

  test("winsorized/trimmed mean matches a driver order-statistics replay") {
    val r = Models.qWinsorizedMean(spark, sfDir).collect()
    assert(r.length == 1)
    val row = r.head
    val pu = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .selectExpr("cast(floor(value * 100) as long) as x", "event_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted
    val n = pu.length.toLong
    val lo = pu((((n + 19) / 20) - 1).toInt)
    val hi = pu((((19 * n + 19) / 20) - 1).toInt)
    val ws = pu.map(p => BigInt(math.min(math.max(p._1, lo._1), hi._1))).sum
    val ord = implicitly[Ordering[(Long, Long)]]
    val trim = pu.filter(p => ord.gt(p, lo) && ord.lt(p, hi))
    assert(row.getLong(0) == n && row.getLong(1) == lo._1 && row.getLong(2) == hi._1)
    assert(BigInt(row.getString(3)) == ws)
    assert(row.getLong(4) == (BigInt(100) * ws / n).toLong, "winsorized mean")
    assert(row.getLong(5) == trim.length.toLong)
    // the trim count is structural: exactly the rows strictly
    // between the two rank positions
    assert(trim.length.toLong == (19 * n + 19) / 20 - (n + 19) / 20 - 1)
    val ts = trim.map(p => BigInt(p._1)).sum
    assert(row.getLong(6) == (BigInt(100) * ts / math.max(trim.length, 1)).toLong)
    // robustness direction: clamping a right-skewed metric pulls the
    // mean down vs the plain mean
    val plain = BigInt(100) * pu.map(p => BigInt(p._1)).sum / n
    assert(row.getLong(4) <= plain.toLong, "winsorizing must not raise a right-skewed mean")
  }

  test("nearest as-of join matches a driver two-sided scan and the backward join") {
    val rows = Temporal.qAsofNearest(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("event_id", "user_id", "unix_micros(ts) as us", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val clicksByUser = ev.filter(_._4 == "click").groupBy(_._2)
      .map { case (u, g) => u -> g.map(_._3).sorted }
    ev.filter(_._4 == "purchase").sortBy(_._1).zip(rows).foreach {
      case ((eid, uid, us, _), r) =>
        assert(r.getLong(0) == eid)
        val cs = clicksByUser.getOrElse(uid, Array.empty[Long])
        val back = cs.filter(_ <= us).lastOption
        val fwd = cs.find(_ >= us)
        val (dir2, gap) = (back, fwd) match {
          case (None, None) => ("none", None)
          case (Some(b), None) => ("back", Some(us - b))
          case (None, Some(f)) => ("fwd", Some(f - us))
          case (Some(b), Some(f)) =>
            if (us - b <= f - us) ("back", Some(us - b)) else ("fwd", Some(f - us))
        }
        assert(r.getString(4) == dir2, s"purchase $eid direction")
        gap.foreach(g => assert(r.getLong(5) == g, s"purchase $eid gap"))
    }
    val dirs = rows.map(_.getString(4)).toSet
    assert(dirs.contains("back") && dirs.contains("fwd"),
      "both directions must occur on this corpus")
    // where the winner is backward, the timestamp must equal the
    // plain backward as-of join's match
    val backRef = Temporal.qAsofJoin(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    rows.filter(_.getString(4) == "back").foreach { r =>
      assert(r.getString(3) == backRef(r.getLong(0)),
        s"purchase ${r.getLong(0)}: backward winner disagrees with qAsofJoin")
    }
  }

  test("gap quantiles match a driver per-user order-statistics replay") {
    val rows = Temporal.qGapMedian(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) as us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = ev.groupBy(_._1).map { case (u, g) =>
      val seq2 = g.map(x => (x._3, x._2)).sorted
      val gaps = seq2.sliding(2).collect {
        case Array((us1, _), (us2, eid2)) => (us2 - us1, eid2)
      }.toArray.sorted
      val n = gaps.length.toLong
      (u, n, gaps((((n + 1) / 2) - 1).toInt)._1,
        gaps((((9 * n + 9) / 10) - 1).toInt)._1)
    }.toSeq.sortBy(_._1)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == expect, "gap quantiles mismatch vs driver replay")
    // p90 dominates the median, and every user with >= 2 events appears
    rows.foreach(r => assert(r.getLong(3) >= r.getLong(2), "p90 >= median"))
    assert(rows.length == ev.groupBy(_._1).count(_._2.length >= 2),
      "one row per user with at least one gap")
  }

  test("l-diversity histogram matches a driver QI-group replay and bounds k-anon") {
    val rows = Pipeline.qLDiversity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val firstPrio = graft.Tables.orders(spark, sfDir)
      .selectExpr("o_custkey", "o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (c, g) => c -> g.minBy(_._2)._3 }
    val qi = graft.Tables.customer(spark, sfDir)
      .selectExpr("c_custkey", "cast(c_nationkey as long) as c_nationkey",
        "c_mktsegment", "cast(floor(c_acctbal / 1000.0) as long) as bb").collect()
      .map(r => ((r.getLong(1), r.getString(2), r.getLong(3)),
        firstPrio.getOrElse(r.getLong(0), "NONE")))
    val groups = qi.groupBy(_._1).values.toSeq.map { g =>
      (g.length.toLong, g.map(_._2).distinct.length.toLong)
    }
    val expect = groups.groupBy { case (_, l) => math.min(l, 5L) }
      .map { case (bin, g) =>
        (bin, g.size.toLong, g.map(_._1).sum, g.map(_._2).max)
      }.toSeq.sortBy(_._1)
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == expect, "l histogram mismatch vs driver replay")
    // structural: l <= k in every group, and the l_bin=1 disclosure
    // mass exists on this corpus (small groups share one priority)
    groups.foreach { case (k, l) => assert(l <= k, "l cannot exceed group size") }
    assert(rows.head.getLong(0) == 1L && rows.head.getLong(2) > 0L,
      "the attribute-disclosure bin must be non-empty here")
  }

  test("group k-fold puts every source in exactly one fold and matches a replay") {
    val rows = Pipeline.qGroupKfold(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("source", "lang", "text").collect().map { r =>
        val x = r.getString(2)
        var b = 0; var e = x.length
        while (b < e && x.charAt(b) == ' ') b += 1
        while (e > b && x.charAt(e - 1) == ' ') e -= 1
        val t = x.substring(b, e).toLowerCase(java.util.Locale.ROOT)
          .split("[ \t\n\f\r]+", -1).length.toLong
        (r.getString(0), r.getString(1), t)
      }
    val md = java.security.MessageDigest.getInstance("MD5")
    def foldOf(src: String): Long = {
      md.reset()
      val d = md.digest(src.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      ((h << 4) | ((d(7) >> 4) & 0xfL)) % 5L
    }
    // THE structural guarantee: fold is a pure function of source
    val srcFold = docs.map(_._1).distinct.map(s2 => s2 -> foldOf(s2)).toMap
    val nSrcPerFold = srcFold.values.toSeq.groupBy(identity)
      .map { case (f, g) => f -> g.length.toLong }
    val expect = docs.groupBy(d => (srcFold(d._1), d._2)).toSeq
      .map { case ((f, lang), g) =>
        (f, lang, g.length.toLong, g.map(_._3).sum, nSrcPerFold(f))
      }.sortBy(x => (x._1, x._2))
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == expect, "fold grid mismatch vs replay")
    assert(nSrcPerFold.values.sum == srcFold.size.toLong,
      "every source lands in exactly one fold")
    assert(rows.map(_.getLong(0)).distinct.length > 1,
      "the hash must actually spread sources across folds")
  }

  test("DAU/WAU/MAU match a driver trailing-window distinct replay") {
    val rows = Temporal.qDauWauMau(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ud = graft.Tables.events(spark, sfDir)
      .selectExpr("cast(to_date(ts) as string) as d", "user_id").distinct()
      .collect().map(r => (java.time.LocalDate.parse(r.getString(0)), r.getLong(1)))
    val lo = ud.map(_._1).min(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val hi = ud.map(_._1).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val grid = Iterator.iterate(lo)(_.plusDays(1))
      .takeWhile(!_.isAfter(hi)).toSeq
    assert(rows.length == grid.length, "one row per calendar day in the span")
    grid.zip(rows).foreach { case (day, r) =>
      def active(k: Int): Long = ud.filter { case (d, _) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(k - 1))
      }.map(_._2).distinct.length.toLong
      val (dau, wau, mau) = (active(1), active(7), active(28))
      assert(r.getString(0) == day.toString, s"$day grid")
      assert(r.getLong(1) == dau && r.getLong(2) == wau && r.getLong(3) == mau,
        s"$day counts")
      assert(r.getLong(4) == (if (mau > 0) 1000L * dau / mau else 0L), s"$day stickiness")
      // containment: dau <= wau <= mau always
      assert(dau <= wau && wau <= mau, s"$day containment")
    }
    assert(rows.map(_.getLong(4)).distinct.length > 1,
      "stickiness must vary across the span (day 1 is trivially 1000)")
  }

  test("-0.0 normalization: `round(x, dp) + 0.0` gates +0.0 bits on near-zero negatives") {
    // The r11 ml_corr_pairs class: DuckDB round() preserves IEEE
    // -0.0, Spark's BigDecimal round normalizes to +0.0, and the
    // driver's hash layer sees the sign bit. Every sign-capable
    // rounded-double gated column now ships `round(...) + 0.0` on
    // BOTH engines; this replays the Spark side on generated
    // near-zero-negative inputs and asserts the raw double bits.
    import spark.implicits._
    val xs = Seq(-1e-9, -4.9e-5, -0.0, 0.0, 4.9e-5, -1.0, 1.0, -0.12344)
    val out = xs.toDF("x")
      .select((round(col("x"), 4) + lit(0.0)).as("r"))
      .collect().map(_.getDouble(0))
    xs.zip(out).foreach { case (x, r) =>
      if (r == 0.0)
        assert(java.lang.Double.doubleToRawLongBits(r) == 0L,
          s"round($x,4)+0.0 must be +0.0 bits, got ${java.lang.Double.doubleToRawLongBits(r)}")
    }
    assert(out.count(_ == 0.0) == 5, "the near-zeros and both signed zeros all round to zero")
    assert(out.contains(-1.0) && out.contains(1.0) && out.contains(-0.1234),
      "non-zero values pass through the normalization unchanged")
    // and the raw JVM identity the convention rests on
    assert(java.lang.Double.doubleToRawLongBits(-0.0d + 0.0d) == 0L)
  }

  test("Spearman rank correlation matches a driver-side exact replay") {
    import graft.functions.Vectors
    val d = Vectors.Dim
    val rows = Models.qRankCorr(spark, sfDir).collect()
    assert(rows.length == d * (d - 1) / 2, "one row per unordered dim pair")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (for (a <- 0 until d; b <- a + 1 until d) yield (a.toLong, b.toLong)).toSeq)
    // exact replay: rank by (µ-scaled value, vec_id) — the same total
    // order — then Σd² and the integer rho_e6 formula, all BigInt
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).toArray))
    val n = vecs.length
    val ranks: Array[Array[Long]] = {
      val out = Array.ofDim[Long](n, d)
      (0 until d).foreach { dim =>
        vecs.zipWithIndex
          .sortBy { case ((id, v), _) => (v(dim), id) }
          .zipWithIndex
          .foreach { case ((_, idx), pos) => out(idx)(dim) = pos + 1L }
      }
      out
    }
    val nB = BigInt(n)
    val dd = nB * (nB * nB - 1)
    val byPair = rows.map(r => // sum_d2 ships as a decimal string (no wrap horizon)
      (r.getLong(0).toInt, r.getLong(1).toInt) -> ((r.getString(3), r.getLong(4)))).toMap
    Seq((0, 1), (0, d - 1), (d / 2, d / 2 + 1), (d - 2, d - 1)).foreach { case (a, b) =>
      val sd2 = ranks.foldLeft(BigInt(0)) { (s, rv) =>
        val diff = BigInt(rv(a) - rv(b)); s + diff * diff
      }
      val rho = ((2 * dd - 6 * sd2) * 1000000) / dd - 1000000
      val (gotSd2, gotRho) = byPair((a, b))
      assert(BigInt(gotSd2) == sd2, s"pair ($a,$b) sum_d2: $gotSd2 vs $sd2")
      assert(BigInt(gotRho) == rho, s"pair ($a,$b) rho_e6: $gotRho vs $rho")
    }
    rows.foreach { r =>
      assert(r.getLong(2) == n.toLong, "n on every row")
      assert(r.getLong(4) >= -1000000L && r.getLong(4) <= 1000000L, "rho in [-1, 1]")
    }
  }

  test("concordance grid gamma matches a driver-side contingency replay") {
    import graft.functions.Vectors
    val dims = 16; val q = 16
    val rows = Models.qKendallGamma(spark, sfDir).collect()
    assert(rows.length == dims * (dims - 1) / 2)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).take(dims).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).toArray))
    val n = vecs.length
    def buckets(dim: Int): Array[Int] = {
      val out = new Array[Int](n)
      vecs.zipWithIndex.sortBy { case ((id, v), _) => (v(dim), id) }
        .zipWithIndex.foreach { case ((_, idx), pos) => out(idx) = (pos.toLong * q / n).toInt }
      out
    }
    val bks = (0 until dims).map(buckets)
    Seq((0, 1), (3, 7), (dims - 2, dims - 1)).foreach { case (a, b) =>
      val cells = bks(a).zip(bks(b)).groupBy(identity).view.mapValues(_.length.toLong).toMap
      var cC = BigInt(0); var dC = BigInt(0)
      for (((qa1, qb1), n1) <- cells; ((qa2, qb2), n2) <- cells) {
        if (qa2 > qa1 && qb2 > qb1) cC += BigInt(n1) * n2
        else if (qa2 > qa1 && qb2 < qb1) dC += BigInt(n1) * n2
      }
      val gamma = (2 * cC * 1000000) / (cC + dC).max(BigInt(1)) - 1000000
      val r = rows.find(r => r.getLong(0) == a && r.getLong(1) == b).get
      assert(BigInt(r.getLong(3)) == cC && BigInt(r.getLong(4)) == dC,
        s"pair ($a,$b) C/D: ${r.getLong(3)}/${r.getLong(4)} vs $cC/$dC")
      assert(BigInt(r.getLong(5)) == gamma, s"pair ($a,$b) gamma")
    }
    rows.foreach { r =>
      assert(r.getLong(2) == n.toLong)
      assert(r.getLong(5) >= -1000000L && r.getLong(5) <= 1000000L)
    }
  }

  test("chi-squared feature screen matches a BigInt 2x2 recount") {
    val rows = Text.qChi2Feature(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("lang = 'en' as en", "text").collect()
      .map(r => (r.getBoolean(0),
        r.getString(1).trim.toLowerCase(java.util.Locale.ROOT)
          .split("[ \t\n\f\r]+").filter(_.nonEmpty).toSet))
    val nAll = BigInt(docs.length)
    val nEn = BigInt(docs.count(_._1))
    rows.foreach { r =>
      val tok = r.getString(0)
      val a = BigInt(docs.count { case (en, ws) => en && ws(tok) })
      val b = BigInt(docs.count { case (en, ws) => !en && ws(tok) })
      val c = nEn - a; val d2 = (nAll - nEn) - b
      assert(BigInt(r.getLong(1)) == a && BigInt(r.getLong(2)) == b)
      assert(BigInt(r.getLong(3)) == c && BigInt(r.getLong(4)) == d2)
      val num = a * d2 - b * c
      val chi = (nAll * num * num * 1000) / ((a + b) * (c + d2) * (a + c) * (b + d2)).max(BigInt(1))
      assert(BigInt(r.getLong(5)) == chi, s"token $tok chi2: ${r.getLong(5)} vs $chi")
    }
    // ranking is by statistic desc, token asc
    val key = rows.map(r => (-r.getLong(5), r.getString(0))).toSeq
    assert(key == key.sorted, "chi2 ranking order")
  }

  test("resource-allocation link prediction matches an exact witness-weight replay") {
    val rows = Dedup.qLinkPredict(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val edges = graft.Tables.orders(spark, sfDir)
      .join(graft.Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val kept = edges.filter { case (c, _) => deg(c) <= 40L }
    val byCust = kept.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val scores = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    byCust.foreach { case (c, ps) =>
      val w = 1000000L / deg(c)
      for (i <- ps.indices; j <- (i + 1) until ps.length) {
        val k = (ps(i), ps(j))
        val (nc, ra) = scores.getOrElse(k, (0L, 0L))
        scores(k) = (nc + 1L, ra + w)
      }
    }
    val expect = scores.toSeq
      .map { case ((pa, pb), (nc, ra)) => (pa, pb, nc, ra) }
      .sortBy { case (pa, pb, _, ra) => (-ra, pa, pb) }
      .take(100)
    assert(rows.length == math.min(100, scores.size))
    rows.zip(expect).foreach { case (r, (pa, pb, nc, ra)) =>
      assert(r.getLong(0) == pa && r.getLong(1) == pb, s"pair order: $r vs ($pa,$pb)")
      assert(r.getLong(2) == nc && r.getLong(3) == ra, s"pair ($pa,$pb) scores")
    }
  }

  test("variance filter matches exact per-dim moments and flags nothing on live dims") {
    import graft.functions.Vectors
    val rows = Models.qVarianceFilter(spark, sfDir).collect()
    assert(rows.length == Vectors.Dim)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(embedding as array<double>) as v").collect()
      .map(_.getSeq[Double](0).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).toArray)
    val n = BigInt(vecs.length)
    Seq(0, 1, Vectors.Dim - 1).foreach { d =>
      val sx = vecs.foldLeft(BigInt(0))((s, v) => s + v(d))
      val sxx = vecs.foldLeft(BigInt(0))((s, v) => s + BigInt(v(d)) * v(d))
      val mean = if (sx >= 0) sx / n else -((-sx) / n)
      val varM = (n * sxx - sx * sx) / (n * n)
      val r = rows(d)
      assert(r.getLong(0) == d.toLong && BigInt(r.getLong(1)) == n)
      assert(BigInt(r.getLong(2)) == mean, s"dim $d mean")
      assert(BigInt(r.getLong(3)) == varM, s"dim $d var")
    }
    // uniform-random test embeddings: every dimension is live
    assert(rows.forall(_.getLong(4) == 0L), "no near-zero-variance dims in this corpus")
  }

  test("grouped AUC slices reconcile with the global AUC pair counts") {
    val rows = Models.qAucByGroup(spark, sfDir).collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 5L), "one row per slice, ordered")
    // exact replay per slice: concordant = pairs (pos, neg) with
    // s_pos > s_neg; tied = s_pos == s_neg — BigInt, from raw data
    import graft.functions.Vectors
    val scored = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(label as long) as label", "cast(embedding as array<double>) as v").collect()
      .map { r =>
        val sum = r.getSeq[Double](1).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).sum
        (r.getLong(0) % 5, r.getLong(0) < 5, sum)
      }
    rows.foreach { r =>
      val g = r.getLong(0)
      val pos = scored.filter(x => x._1 == g && x._2).map(_._3)
      val neg = scored.filter(x => x._1 == g && !x._2).map(_._3)
      assert(r.getLong(1) == pos.length.toLong && r.getLong(2) == neg.length.toLong)
      var c = BigInt(0); var t = BigInt(0)
      pos.foreach { sp => neg.foreach { sn =>
        if (sp > sn) c += 1 else if (sp == sn) t += 1 } }
      assert(BigInt(r.getString(3)) == c, s"slice $g concordant")
      assert(BigInt(r.getString(4)) == t, s"slice $g tied")
      val auc = (BigInt(1000000) * (2 * c + t)) /
        (BigInt(2) * pos.length * neg.length).max(BigInt(1))
      assert(BigInt(r.getLong(5)) == auc, s"slice $g auc_ppm")
    }
  }

  test("KS statistic matches an exact two-sample CDF replay") {
    val rows = Models.qKsTest(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "click"))
      .selectExpr("event_type = 'view' as is1", "cast(round(value * 100) as long) as cent")
      .collect().map(x => (x.getBoolean(0), x.getLong(1)))
    val n1 = ev.count(_._1).toLong; val n2 = ev.count(!_._1).toLong
    assert(r.getLong(0) == n1 && r.getLong(1) == n2)
    val cents = ev.map(_._2).distinct.sorted
    var f1 = 0L; var f2 = 0L
    var best = BigInt(-1); var bestCent = Long.MaxValue
    cents.foreach { c =>
      f1 += ev.count(x => x._1 && x._2 == c)
      f2 += ev.count(x => !x._1 && x._2 == c)
      val d = (BigInt(f1) * n2 - BigInt(f2) * n1).abs
      // ascending cents: the FIRST occurrence of the max is the
      // min-cent tiebreak the query gates
      if (d > best) { best = d; bestCent = c }
    }
    assert(BigInt(r.getLong(2)) == best, s"d_num: ${r.getLong(2)} vs $best")
    assert(r.getLong(3) == bestCent, s"argmax cent")
    assert(BigInt(r.getLong(4)) == BigInt(1000000) * best / (BigInt(n1) * n2).max(BigInt(1)))
  }

  test("quantile bin cuts sit at exact ceil-ranks of the per-dim order") {
    import graft.functions.Vectors
    val rows = Models.qQuantileBins(spark, sfDir).collect()
    val d = Vectors.Dim
    assert(rows.length == d * 9, "Q-1 cuts per dimension")
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).toArray))
    val n = vecs.length
    Seq(0, d / 2, d - 1).foreach { dim =>
      val sorted = vecs.map { case (id, v) => (v(dim), id) }.sorted
      (1 until 10).foreach { k =>
        val rank = (k.toLong * n + 9) / 10
        val r = rows.find(r => r.getLong(0) == dim && r.getLong(1) == k).get
        assert(r.getLong(2) == rank, s"dim $dim cut $k rank")
        assert(r.getLong(3) == sorted((rank - 1).toInt)._1, s"dim $dim cut $k value")
      }
    }
    // cuts are non-decreasing within each dimension
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cuts = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(cuts.zip(cuts.tail).forall { case (a, b) => a <= b })
    }
  }

  test("source divergence TV distance matches a BigInt distribution replay") {
    val rows = Text.qSourceDivergence(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).trim.toLowerCase(java.util.Locale.ROOT)
          .split("[ \t\n\f\r]+").filter(_.nonEmpty)))
    val counts: Map[String, Map[String, Long]] = docs.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }.toMap)
      .toMap
    val srcs = counts.keys.toSeq.sorted
    assert(rows.length == srcs.length * (srcs.length - 1) / 2)
    rows.take(20).foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      val (ca, cb) = (counts(sa), counts(sb))
      val n1 = BigInt(ca.values.sum); val n2 = BigInt(cb.values.sum)
      val words = (ca.keySet ++ cb.keySet).toSeq
      val tv = words.map { w =>
        (BigInt(ca.getOrElse(w, 0L)) * n2 - BigInt(cb.getOrElse(w, 0L)) * n1).abs
      }.sum
      assert(BigInt(r.getLong(2)) == n1 && BigInt(r.getLong(3)) == n2, s"($sa,$sb) totals")
      assert(BigInt(r.getLong(4)) == tv, s"($sa,$sb) tv_num")
      assert(BigInt(r.getLong(5)) == BigInt(1000000) * tv / (2 * n1 * n2), s"($sa,$sb) tv_ppm")
    }
  }

  test("gains table deciles match an exact sort-and-cut replay") {
    import graft.functions.Vectors
    val rows = Models.qGainsTable(spark, sfDir).collect()
    assert(rows.length == 10, "one row per decile")
    val scored = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(label as long) as label",
        "cast(embedding as array<double>) as v").collect()
      .map { r =>
        val s = r.getSeq[Double](2).map(x => Vectors.roundJvm(x * 1000000d, 0).toLong).sum
        (r.getLong(0), r.getLong(1) < 5, s)
      }
    val n = scored.length
    val ranked = scored.sortBy { case (id, _, s) => (-s, id) }
    val byDec = ranked.zipWithIndex.groupBy { case (_, i) => i.toLong * 10 / n }
    var cumPos = 0L; var cumRows = 0L
    val totPos = scored.count(_._2).toLong
    (0L until 10L).foreach { k =>
      val members = byDec(k)
      val pos = members.count(_._1._2).toLong
      cumPos += pos; cumRows += members.length
      val r = rows(k.toInt)
      assert(r.getLong(0) == k)
      assert(r.getLong(1) == members.length.toLong, s"decile $k rows")
      assert(r.getLong(2) == pos, s"decile $k pos")
      assert(r.getLong(3) == cumRows && r.getLong(4) == cumPos, s"decile $k cums")
      assert(BigInt(r.getLong(5)) == BigInt(1000000) * cumPos / totPos.max(1L), s"decile $k gain")
      assert(BigInt(r.getLong(6)) ==
        BigInt(1000) * cumPos * n / (BigInt(cumRows) * totPos).max(BigInt(1)), s"decile $k lift")
    }
    // gains are monotone and end at 100%
    assert(rows.last.getLong(5) == 1000000L)
  }

  test("split salt stability matrix matches a JVM md5 replay and exposes real churn") {
    val rows = Pipeline.qSplitStability(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    def splitUnder(id: Long, salt: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val expect = docs.groupBy(id => (splitUnder(id, "v1"), splitUnder(id, "v2")))
      .view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == expect.getOrElse(k, 0L), s"cell $k")
      assert(r.getLong(3) == 1000L * r.getLong(2) / docs.length, s"cell $k pm")
      assert(r.getLong(4) == (if (k._1 == k._2) 0L else 1L))
    }
    assert(rows.map(_.getLong(2)).sum == docs.length.toLong, "matrix partitions the corpus")
    val churned = rows.filter(_.getLong(4) == 1L).map(_.getLong(2)).sum
    assert(churned > 0L, "salt change must actually move documents between splits")
  }

  test("active-day streaks match a JVM gaps-and-islands replay") {
    val rows = Temporal.qActiveStreaks(spark, sfDir).collect()
    val days = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(to_date(ts) as string) as d").distinct().collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1)).toEpochDay))
    val byUser = days.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows.length == byUser.size, "one row per user")
    rows.foreach { r =>
      val ds = byUser(r.getLong(0))
      val streaks = scala.collection.mutable.ArrayBuffer.empty[Long]
      var len = 1L
      ds.sliding(2).foreach { w =>
        if (w.length == 2) {
          if (w(1) == w(0) + 1) len += 1 else { streaks += len; len = 1L }
        }
      }
      streaks += len
      assert(r.getLong(1) == ds.length.toLong, s"user ${r.getLong(0)} active days")
      assert(r.getLong(2) == streaks.max, s"user ${r.getLong(0)} longest streak")
      assert(r.getLong(3) == streaks.length.toLong, s"user ${r.getLong(0)} streak count")
    }
  }

  test("b-bit minhash estimator obeys the Li-Konig correction on every pair") {
    val rows = Dedup.qMinhashBbit(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, mb) = (r.getLong(2), r.getLong(3))
      // low-b bits match whenever the full values match
      assert(mb >= m, s"pair (${r.getLong(0)},${r.getLong(1)}): b-bit matches $mb < full $m")
      assert(m >= 0L && mb <= 12L)
      assert(r.getLong(4) == m * 1000L / 12L, "full estimator")
      assert(r.getLong(5) == 1000L * math.max(mb * 16L - 12L, 0L) / (12L * 15L),
        "collision-corrected b-bit estimator")
      assert(r.getLong(7) == r.getLong(5) - r.getLong(6), "error column consistency")
    }
    // the corrected estimator tracks exact Jaccard: mean |err| over the
    // candidate pairs stays within the k=12, b=4 sampling noise band
    val meanAbsErr = rows.map(r => math.abs(r.getLong(7))).sum / rows.length
    assert(meanAbsErr < 350L, s"b-bit estimator far off exact Jaccard: $meanAbsErr")
  }

  test("growth accounting decomposes DAU exactly and matches a JVM replay") {
    val rows = Temporal.qGrowthAccounting(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"${r.getString(0)}: active must equal new + retained + resurrected")
    }
    val days = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "cast(to_date(ts) as string) as d").distinct().collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    val byUser = days.groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_.toEpochDay)).toMap
    val expect = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    byUser.values.foreach { ds =>
      ds.zipWithIndex.foreach { case (d, i) =>
        val k = d.toString
        val (nw, rt, rs) = expect.getOrElse(k, (0L, 0L, 0L))
        if (i == 0) expect(k) = (nw + 1, rt, rs)
        else if (ds(i - 1).until(d, java.time.temporal.ChronoUnit.DAYS) < 3)
          expect(k) = (nw, rt + 1, rs)
        else expect(k) = (nw, rt, rs + 1)
      }
    }
    rows.foreach { r =>
      val (nw, rt, rs) = expect(r.getString(0))
      assert(r.getLong(2) == nw && r.getLong(3) == rt && r.getLong(4) == rs,
        s"${r.getString(0)}: (${r.getLong(2)},${r.getLong(3)},${r.getLong(4)}) vs ($nw,$rt,$rs)")
    }
    assert(rows.map(_.getLong(2)).sum == byUser.size.toLong,
      "every user is new exactly once")
  }

  test("exact MCC decomposes into confusion counts that recount from raw data") {
    import graft.functions.Vectors
    val rows = Models.qMccExact(spark, sfDir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    val scored = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("cast(label as long) as label", "cast(embedding as array<double>) as v")
      .collect()
      .map { x =>
        val s = x.getSeq[Double](1).map(v => Vectors.roundJvm(v * 1000000d, 0).toLong).sum
        (x.getLong(0) < 5, s >= 0L)
      }
    val tp = scored.count(x => x._1 && x._2).toLong
    val fp = scored.count(x => !x._1 && x._2).toLong
    val tn = scored.count(x => !x._1 && !x._2).toLong
    val fn = scored.count(x => x._1 && !x._2).toLong
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((tp, fp, tn, fn)))
    val num = BigInt(tp) * tn - BigInt(fp) * fn
    assert(r.getLong(4) == num.signum.toLong, "mcc sign")
    val den = (BigInt(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)).max(BigInt(1))
    assert(BigInt(r.getLong(5)) == num * num * 1000000 / den, "mcc^2 ppm")
    // and the rational really is MCC²: |mcc| = sqrt(mcc2) within fp noise
    val mcc = num.toDouble / math.sqrt(den.toDouble)
    assert(math.abs(mcc * mcc * 1e6 - r.getLong(5)) <= 1.0 + mcc * mcc * 1e6 * 1e-9)
  }

  test("cohort value matrix reconciles with total purchase cents") {
    val rows = Temporal.qCohortValue(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val purchases = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .selectExpr("cast(round(value * 100) as long) as cents").collect()
    assert(rows.map(_.getLong(2)).sum == purchases.length.toLong,
      "every purchase lands in exactly one (cohort, offset) cell")
    assert(rows.map(_.getLong(3)).sum == purchases.map(_.getLong(0)).sum,
      "revenue cents partition exactly (integer money, no drift)")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L, "activity cannot precede the cohort week")
      assert(r.getLong(3) > 0L && r.getLong(2) > 0L)
    }
  }

  test("HLL union: register max-merge equals the direct union sketch") {
    val rows = Sketches.qHllUnion(spark, sfDir).collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("en", "intersect_ie", "rest", "union"))
    val byScope = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact counts reconcile by inclusion-exclusion
    assert(byScope("intersect_ie")._2 ==
      byScope("en")._2 + byScope("rest")._2 - byScope("union")._2)
    // the union estimate equals re-sketching the union corpus
    // directly: max-merge is lossless (the HLL algebra property)
    val direct = Sketches.qHllEstimate(spark, sfDir).first()
    assert(byScope("union")._1 == direct.getLong(3),
      s"merged-sketch estimate ${byScope("union")._1} vs direct ${direct.getLong(3)}")
    assert(byScope("union")._2 == direct.getLong(4), "union exact == corpus exact")
    // estimates are within the published ~1.04/sqrt(64) = 13% band
    // (generously doubled for the small-m regime)
    Seq("en", "rest", "union").foreach { sc =>
      val (est, exact) = byScope(sc)
      assert(math.abs(est - exact).toDouble / exact.max(1L) < 0.3, s"$sc estimate off")
    }
  }

  test("phash distance histogram partitions the candidate stream around the gate") {
    val hist = Multimodal.qPhashDistanceHist(spark, sfDir).collect()
    assert(hist.nonEmpty)
    val gated = Multimodal.qPhashBuckets(spark, sfDir).collect()
    // pairs at hamming <= the gate must sum to exactly the gated list
    val passMass = hist.filter(_.getLong(3) == 1L).map(_.getLong(1)).sum
    assert(passMass == gated.length.toLong,
      s"histogram pass mass $passMass vs gated pairs ${gated.length}")
    // histogram is over distinct hamming values in [0, 64], ordered
    val hs = hist.map(_.getLong(0))
    assert(hs.toSeq == hs.sorted.toSeq && hs.forall(h => h >= 0L && h <= 64L))
    assert(hist.map(_.getLong(1)).forall(_ > 0L), "no empty histogram rows")
  }

  test("range search equals an exact JVM tau-ball replay; band counts replay from plane signs") {
    import graft.functions.Vectors
    val rows = Similarity.qRangeSearch(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val planes = Vectors.planeSigns(8)
    def bucket(v: Array[Double]): Int =
      planes.zipWithIndex.map { case (sg, p) =>
        if (Vectors.dotJvm(v, sg.toArray) > 0) 1 << p else 0
      }.sum
    val expected = (for {
      (qid, qv) <- vecs.toSeq if qid % 50 == 0
      (nid, nv) <- vecs.toSeq if nid != qid
      cos = Vectors.round6Jvm(Vectors.dotJvm(nv, qv) /
        (math.sqrt(Vectors.dotJvm(nv, nv)) * math.sqrt(Vectors.dotJvm(qv, qv))))
      if cos >= 0.25
    } yield {
      val qb = bucket(qv); val nb = bucket(nv)
      val nBands = (0 until 4).count(b => ((qb >> (2 * b)) & 3) == ((nb >> (2 * b)) & 3))
      (qid, nid, Vectors.roundJvm(cos * 1e6, 0).toLong, nBands)
    }).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected, s"tau-ball mismatch: got ${got.size}, expected ${expected.size}")
    // output is the exact ball: one row per (probe, tau-neighbor), no rank cap
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length == rows.length)
    // every gated cosine clears the threshold as a positive ppm integer
    assert(rows.forall(_.getLong(2) >= 250000L))
  }

  test("reservoir is exactly the k smallest salted hashes per source") {
    val k = 10
    val rows = Pipeline.qReservoir(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def hk(docId: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$docId:resv13".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.map(d => (src, d._2, hk(d._2), d._3)).sortBy(t => (t._3, t._2)).take(k)
        .zipWithIndex.map { case ((s2, id, h, nc), i) => (s2, i + 1, id, h, nc) }
    }.toSet
    val got = rows.map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, "reservoir membership/rank/hash mismatch vs JVM replay")
    // ranks dense 1..k per shard; exactly min(k, shard size) rows
    val bySrc = docs.groupBy(_._1).map { case (s2, ds) => s2 -> ds.length }
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length))
      assert(rs.length == math.min(k, bySrc(src)))
    }
  }

  test("hits fixpoint loop plans no unpartitioned window and decays monotonically") {
    // r13 verdict item 3: the per-round max must come from the cached
    // raw frame as a literal, never a Window.partitionBy() — capture
    // WindowExec's own "single partition" warning while the loop runs
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender(
        "graft-win-capture", null, null, false, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("No Partition Defined for Window")) captured.add(m)
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(app, null, null)
    ctx.updateLoggers()
    val rows =
      try Dedup.qHitsConverge(spark, sfDir).collect()
      finally { rootCfg.removeAppender("graft-win-capture"); ctx.updateLoggers() }
    assert(captured.isEmpty, s"unpartitioned WindowExec planned: ${captured.peek}")
    assert(rows.nonEmpty && rows.length <= 6)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length), "rounds numbered 1..n")
    // both L1 deltas non-negative; only the final emitted round may be
    // the zero fixpoint (the early exit truncates after it)
    assert(rows.forall(r => r.getLong(1) >= 0L && r.getLong(2) >= 0L))
    rows.init.foreach(r => assert(r.getLong(1) > 0L || r.getLong(2) > 0L,
      "loop must stop at the first zero-delta round"))
  }

  test("ewma equals the dyadic closed form replayed per user in exact longs") {
    val rows = Temporal.qEwma(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) as us", "event_id",
        "cast(round(value * 100) as long) as vc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = ev.groupBy(_._1).map { case (u, es) =>
      // most-recent first: (ts desc, event_id desc), window of 8
      val win = es.sortBy(e => (-e._2, -e._3)).take(8).map(_._4)
      val k = win.length
      // recursion replay, scaled by 128: s_1 = oldest, s_i = (s+x)/2
      val s128 = win.reverse.tail.foldLeft(win.last * 128L)((s, x) => (s + x * 128L) / 2)
      // the fold halves exactly only when every intermediate is even;
      // dyadic weights guarantee it — assert no truncation happened
      val direct = win.zipWithIndex.map { case (x, i) =>
        val rn = i + 1
        x * (if (rn == k) 128L >> (k - 1) else 128L >> rn)
      }.sum
      assert(s128 == direct, s"user $u: recursion vs closed form")
      u -> (k.toLong, direct)
    }
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "ewma mismatch vs JVM replay")
  }

  test("backtest folds: train always precedes test, expanding origin, no leakage") {
    val rows = Temporal.qBacktestFolds(spark, sfDir).collect()
    assert(rows.length == 4)
    // expanding origin: train windows strictly grow with the fold
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sorted.toSeq &&
      rows.map(_.getLong(1)).distinct.length == 4)
    // replay from raw events: exact counts and totals per fold
    val ev = graft.Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .selectExpr("unix_micros(ts) div 86400000000 as d",
        "cast(round(value * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val d0 = ev.map(_._1).min; val d1 = ev.map(_._1).max
    val step = (d1 - d0 + 1 - 3) / 4
    rows.foreach { r =>
      val trEnd = d0 + r.getLong(0) * step
      assert(r.getLong(1) == trEnd - d0)
      val train = ev.filter(_._1 < trEnd)
      val test = ev.filter(e => e._1 >= trEnd && e._1 < trEnd + 3)
      assert((r.getLong(2), r.getLong(3)) == ((train.length.toLong, test.length.toLong)))
      assert((r.getLong(4), r.getLong(5)) == ((train.map(_._2).sum, test.map(_._2).sum)))
    }
  }

  test("pinball loss replays exactly; tau=0.5 is twice the L1 distance to the median") {
    val rows = Models.qPinballEval(spark, sfDir).collect()
    assert(rows.length % 3 == 0 && rows.nonEmpty)
    val data = graft.Tables.orders(spark, sfDir)
      .selectExpr("o_orderpriority", "cast(round(o_totalprice * 100) as long) as y")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    rows.foreach { r =>
      val (pri, tau10) = (r.getString(0), r.getLong(1))
      val ys = data(pri)
      val q = ys(((ys.length - 1) * tau10 / 10).toInt) // discrete pick, floor
      assert(r.getLong(3) == q, s"$pri tau$tau10 quantile")
      val loss = ys.map(y =>
        if (y > q) tau10 * (y - q) else (10 - tau10) * (q - y)).sum
      assert(r.getLong(4) == loss, s"$pri tau$tau10 loss")
      if (tau10 == 5L) // pinball at the median = (10/2)x |y - med| summed
        assert(loss == 5L * ys.map(y => math.abs(y - q)).sum)
    }
  }

  test("path counts replay Brandes phase 1 in BigInt and match BFS frontiers") {
    val rows = Dedup.qPathCounts(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.head.getString(2) == "1") // sigma(seed) = 1
    // JVM replay: same bidirectional co-purchase graph, same hub seed
    val e = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_partkey") + 10000000L).as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj: Map[Long, Seq[Long]] = (e ++ e.map(_.swap)).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).toSeq }
    val seed = e.groupBy(_._2).toSeq.map { case (p, xs) => (p, xs.length) }
      .sortBy { case (p, d) => (-d, p) }.head._1
    var sigma = Map(seed -> BigInt(1))
    var visited = Set(seed)
    var frontier = Map(seed -> BigInt(1))
    val expected = scala.collection.mutable.ArrayBuffer(
      (0L, 1L, BigInt(1).toString, BigInt(1).toString))
    (1 to 4).foreach { lvl =>
      val next = scala.collection.mutable.Map.empty[Long, BigInt]
      frontier.foreach { case (u, s0) =>
        adj.getOrElse(u, Seq.empty[Long]).foreach { v =>
          if (!visited(v)) next(v) = next.getOrElse(v, BigInt(0)) + s0
        }
      }
      val nf = next.toMap
      expected += ((lvl.toLong, nf.size.toLong,
        (if (nf.isEmpty) BigInt(0) else nf.values.sum).toString,
        (if (nf.isEmpty) BigInt(0) else nf.values.max).toString))
      visited ++= nf.keySet
      frontier = nf
      sigma ++= nf
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got == expected.toSeq, s"sigma levels mismatch:\n got $got\nwant $expected")
    // frontier sizes agree with the BFS query's levels
    val bfs = Dedup.qBfsLevels(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(bfs(r.getLong(0)) == r.getLong(1), s"level ${r.getLong(0)} n_nodes"))
  }

  test("randomization test replays: exact cross-multiplied compares, add-one p") {
    val row = Models.qPermutationTest(spark, sfDir).collect().head
    def bucket(u: Long, salt: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u$salt".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 100 < 50
    }
    val ev = graft.Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .selectExpr("user_id", "cast(round(value * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def rational(salt: String): (BigInt, BigInt) = {
      val (t, c) = ev.partition(e => bucket(e._1, salt))
      (BigInt(t.map(_._2).sum) * c.length - BigInt(c.map(_._2).sum) * t.length,
        BigInt(t.length) * c.length)
    }
    val (obsNum, obsDen) = rational(":did")
    assert(row.getString(1) == obsNum.toString && row.getString(2) == obsDen.toString)
    val nGe = (0 until 64).count { b =>
      val (n, d) = rational(s":p$b")
      n.abs * obsDen >= obsNum.abs * d
    }
    assert(row.getLong(3) == nGe.toLong, s"n_ge ${row.getLong(3)} != $nGe")
    assert(row.getLong(4) == (1L + nGe) * 1000000L / 65L)
  }

  test("hazard curve risk sets conserve subjects and replay from raw purchases") {
    val rows = Temporal.qHazardCurve(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // conservation: risk set at the first duration = all subjects;
    // every (event + censoring) leaves the risk set exactly once
    val totalLeft = rows.map(r => r.getLong(2) + r.getLong(3)).sum
    assert(rows.head.getLong(1) == totalLeft, "first n_risk must equal total subjects")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) == a.getLong(1) - a.getLong(2) - a.getLong(3),
        s"risk set must decrement by that t's departures at t=${b.getLong(0)}")
      case _ => ()
    }
    // censored subjects = one per purchasing user (the last purchase)
    val nUsers = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().count()
    assert(rows.map(_.getLong(3)).sum == nUsers, "one censored subject per user")
    // JVM replay of the full risk table
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type",
        "unix_micros(ts) div 3600000000 as h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val horizon = ev.map(_._4).max
    val subj = ev.filter(_._3 == "purchase").groupBy(_._1).toSeq.flatMap { case (_, ps) =>
      val hs = ps.sortBy(p => (p._4, p._2)).map(_._4)
      hs.zip(hs.drop(1).map(Some(_)) :+ None).map {
        case (h, Some(nh)) => (nh - h, 1L)
        case (h, None) => (horizon - h, 0L)
      }
    }
    val grid = subj.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, xs) =>
      (t, xs.map(_._2).sum, xs.length.toLong - xs.map(_._2).sum)
    }
    var risk = subj.length.toLong
    val expected = grid.map { case (t, d, c) =>
      val r = (t, risk, d, c, 1000000L * d / risk)
      risk -= d + c
      r
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, "risk table mismatch vs JVM replay")
    // cumhaz is exactly the running sum of the floored hazards
    assert(rows.map(_.getLong(4)).scanLeft(0L)(_ + _).tail.toSeq ==
      rows.map(_.getLong(5)).toSeq)
  }

  test("stratified ATE cells replay from raw events; ALL row is the exact pool") {
    val rows = Models.qStratifiedAte(spark, sfDir).collect()
    val byStratum = rows.map(r => r.getString(0) -> r).toMap
    assert(byStratum.contains("ALL") && rows.length >= 2)
    val rates = Map("click" -> 30, "view" -> 40, "purchase" -> 50, "signup" -> 60)
    def treated(id: Long, st: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:ate".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 100 < rates.getOrElse(st, 70)
    }
    val ev = graft.Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .selectExpr("event_id", "event_type", "cast(round(value * 100) as long) as cents")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val cells = ev.groupBy(_._2).map { case (st, xs) =>
      val (t, c) = xs.partition(x => treated(x._1, st))
      st -> ((xs.length.toLong, t.length.toLong, t.map(_._3).sum,
        c.length.toLong, c.map(_._3).sum))
    }
    cells.foreach { case (st, (n, nt, stt, nc, sc)) =>
      val r = byStratum(st)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
        == ((n, nt, stt, nc, sc)), s"stratum $st cells mismatch")
      assert(r.getString(6) == (BigInt(stt) * nc - BigInt(sc) * nt).toString &&
        r.getString(7) == (BigInt(nt) * nc).toString, s"stratum $st rational mismatch")
    }
    // the ALL row pools the stratum cells exactly (no double counting)
    val all = byStratum("ALL")
    assert(all.getLong(1) == cells.values.map(_._1).sum &&
      all.getLong(2) == cells.values.map(_._2).sum &&
      all.getLong(3) == cells.values.map(_._3).sum &&
      all.getLong(5) == cells.values.map(_._5).sum)
  }

  test("bloom file-skip index replays in the JVM and never misses a true file") {
    val rows = Maintenance.qBloomFileSkip(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // a bloom may over-read (n_fp >= 0) but NEVER under-read
    rows.foreach { r =>
      assert(r.getLong(5) == 0L, s"probe ${r.getLong(0)}: missed ${r.getLong(5)} true files")
      assert(r.getLong(4) >= 0L && r.getLong(2) + r.getLong(6) == r.getLong(1))
    }
    // the 3 synthetic nonexistent probes carry n_true = 0
    assert(rows.count(_.getLong(3) == 0L) >= 3)
    // full JVM replay of the index and the verdicts
    val P = 2147483647L; val M = 32768L; val K = 3
    def h(v: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$v:bfs".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(12), 16)
    }
    def positions(v: Long): Set[Long] =
      (0 until K).map(k => ((1 + 2L * k) * (h(v) % P) + (17 + k)) % P % M).toSet
    val fc = graft.Tables.orders(spark, sfDir)
      .selectExpr("o_orderkey div 1024 as fid", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val blooms = fc.groupBy(_._1).map { case (fid, xs) =>
      fid -> xs.map(x => positions(x._2)).reduce(_ ++ _)
    }
    val truthBy = fc.groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    rows.foreach { r =>
      val probe = r.getLong(0)
      val pp = positions(probe)
      val hit = blooms.count { case (_, bs) => pp.subsetOf(bs) }
      val tru = truthBy.getOrElse(probe, Set.empty).size
      assert(r.getLong(1) == blooms.size.toLong, "n_files mismatch")
      assert(r.getLong(2) == hit.toLong, s"probe $probe: n_hit ${r.getLong(2)} != $hit")
      assert(r.getLong(3) == tru.toLong, s"probe $probe: n_true ${r.getLong(3)} != $tru")
    }
  }

  test("event study days partition the DiD window; rationals replay in BigInt") {
    val rows = Temporal.qEventStudy(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.forall(r => math.abs(r.getLong(0)) <= 7))
    def treated(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:did".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 100 < 50
    }
    val ev = graft.Tables.events(spark, sfDir).filter(col("value").isNotNull)
      .selectExpr("user_id", "unix_micros(ts) div 86400000000 - 19738 as d",
        "cast(round(value * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(e => math.abs(e._2) <= 7)
    val byDay = ev.groupBy(_._2)
    rows.foreach { r =>
      val xs = byDay(r.getLong(0))
      val (t, c) = xs.partition(e => treated(e._1))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((t.length.toLong, t.map(_._3).sum, c.length.toLong, c.map(_._3).sum)),
        s"day ${r.getLong(0)} cells")
      assert(r.getString(5) ==
        (BigInt(t.map(_._3).sum) * c.length - BigInt(c.map(_._3).sum) * t.length).toString)
      assert(r.getString(6) == (BigInt(t.length) * c.length).toString)
    }
    assert(rows.map(r => r.getLong(1) + r.getLong(3)).sum == ev.length.toLong,
      "the day rows partition the window exactly")
  }

  test("difference-in-differences cells and rational replay exactly from raw events") {
    val row = Temporal.qDid(spark, sfDir).collect().head
    val cutUs = java.time.Instant.parse("2024-01-16T00:00:00Z").toEpochMilli * 1000L
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .selectExpr("user_id", "unix_micros(ts) as us",
        "cast(round(value * 100) as long) as cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def treated(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:did".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(15), 16) % 100 < 50
    }
    // the four (group, period) cells in exact longs
    val cells = ev.groupBy(e => (treated(e._1), e._2 >= cutUs))
      .map { case (k, es) => k -> ((es.length.toLong, es.map(_._3).sum)) }
    val (ntp, stp) = cells((true, true)); val (ntr, str) = cells((true, false))
    val (ncp, scp) = cells((false, true)); val (ncr, scr) = cells((false, false))
    assert(Seq(row.getLong(0), row.getLong(2), row.getLong(4), row.getLong(6))
      == Seq(ntp, ntr, ncp, ncr), "cell counts mismatch")
    assert(Seq(row.getLong(1), row.getLong(3), row.getLong(5), row.getLong(7))
      == Seq(stp, str, scp, scr), "cell sums mismatch")
    // exact rational via BigInt — must equal the shipped strings
    val num = BigInt(stp) * ntr * ncp * ncr - BigInt(str) * ntp * ncp * ncr -
      BigInt(scp) * ntp * ntr * ncr + BigInt(scr) * ntp * ntr * ncp
    val den = BigInt(ntp) * ntr * ncp * ncr
    assert(row.getString(8) == num.toString && row.getString(9) == den.toString,
      s"rational mismatch: got (${row.getString(8)}, ${row.getString(9)}), want ($num, $den)")
    // the estimator identity: num/den == (mean_tp - mean_tr) - (mean_cp - mean_cr)
    val did = num.toDouble / den.toDouble
    val direct = (stp.toDouble / ntp - str.toDouble / ntr) - (scp.toDouble / ncp - scr.toDouble / ncr)
    assert(math.abs(did - direct) < 1e-9)
  }

  test("t-closeness histogram equals an exact TV-distance replay over QI groups") {
    val rows = Pipeline.qTCloseness(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val sens = graft.Tables.orders(spark, sfDir)
      .selectExpr("o_custkey", "o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (c, os) => c -> os.minBy(_._2)._3 }
    val qi = graft.Tables.customer(spark, sfDir)
      .selectExpr("c_custkey", "cast(c_nationkey as long) as c_nationkey", "c_mktsegment",
        "cast(floor(c_acctbal / 1000.0) as long) as bb").collect()
      .map(r => ((r.getLong(1), r.getString(2), r.getLong(3)),
        sens.getOrElse(r.getLong(0), "NONE")))
    val n = qi.length.toLong
    val glob = qi.groupBy(_._2).map { case (v, xs) => v -> xs.length.toLong }
    val tppm = qi.groupBy(_._1).toSeq.map { case (_, xs) =>
      val k = xs.length.toLong
      val cv = xs.groupBy(_._2).map { case (v, ys) => v -> ys.length.toLong }
      val tNum = glob.map { case (v, gc) =>
        math.abs(cv.getOrElse(v, 0L) * n - gc * k)
      }.sum
      (k, 1000000L * tNum / (2 * k * n))
    }
    val expected = tppm.groupBy(_._2 / 100000L).map { case (bin, xs) =>
      bin -> ((xs.length.toLong, xs.map(_._1).sum, xs.map(_._2).max))
    }
    val got = rows.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, "t-closeness histogram mismatch vs JVM replay")
    // TV distance is a [0,1] metric: every bin in [0,10]
    assert(rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 10L))
  }

  test("brier decomposition satisfies the Murphy identity in exact rationals") {
    val rows = Models.qBrierDecomp(spark, sfDir).collect()
    assert(rows.nonEmpty)
    case class Rat(num: BigInt, den: BigInt) {
      def +(o: Rat) = Rat(num * o.den + o.num * den, den * o.den)
      def -(o: Rat) = Rat(num * o.den - o.num * den, den * o.den)
    }
    def eq(a: Rat, b: Rat): Boolean = a.num * b.den == b.num * a.den
    val bins = rows.map(r => (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3))))
    val nT = bins.map(_._1).sum
    val eT = bins.map(_._2).sum
    val e12 = BigInt(10).pow(12)
    def sumR(f: ((BigInt, BigInt, BigInt)) => Rat): Rat =
      bins.map(f).reduce(_ + _)
    val rel = sumR { case (n, e, s) => Rat((s - e * 1000000).pow(2), n * e12) }
    val res = sumR { case (n, e, _) => Rat((e * nT - eT * n).pow(2), n * nT * nT) }
    val brier = sumR { case (n, e, s) =>
      Rat(s * s - 2 * BigInt(1000000) * s * e + e * n * e12, n * e12) }
    val unc = Rat(eT * (nT - eT), nT)
    assert(eq(brier, rel - res + unc), "Murphy identity Brier = REL - RES + UNC")
    // the floored display columns match exact recomputation from the raw columns
    rows.foreach { r =>
      val (n, e, s) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)), BigInt(r.getLong(3)))
      assert(BigInt(r.getLong(4)) == (s - e * 1000000).pow(2) / (n * 1000000), "rel_e6")
      assert(BigInt(r.getLong(5)) == (e * nT - eT * n).pow(2) * 1000000 / (n * nT * nT), "res_e6")
      assert(BigInt(r.getLong(6)) ==
        (s * s - 2 * BigInt(1000000) * s * e + e * n * e12) / (n * 1000000), "brier_e6")
    }
    // discrimination exists and the score is uncalibrated on this corpus:
    // both REL and RES strictly positive
    assert(rel.num > 0 && res.num > 0)
  }

  test("blur detect moments equal an exact second-difference replay in BigInt") {
    val rows = Multimodal.qBlurDetect(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val cps = text.codePoints().toArray
      if (cps.length < 3) None
      else {
        val ds = (1 until cps.length - 1).map(i =>
          cps(i - 1).toLong - 2L * cps(i) + cps(i + 1))
        val nd = BigInt(ds.length)
        val sd = ds.map(BigInt(_)).sum
        val sd2 = ds.map(d => BigInt(d) * d).sum
        val v = (BigInt(100) * (nd * sd2 - sd * sd)) / (nd * nd)
        Some(id -> ((nd.toLong, sd.toLong, sd2.toLong, v.toLong, v < 620000)))
      }
    }.toMap
    val got = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got == expected, "blur moments mismatch vs JVM replay")
    // variance of a real-valued stream is non-negative
    assert(rows.forall(_.getLong(4) >= 0L))
  }

  test("rate/EOS account conserves rows and gates the append emission boundary") {
    val rows = graft.streaming.Streams.qStreamRateEos(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 3 data batches (6 files, 2 per trigger) + exactly one no-data
    // flush batch at end-of-stream, and nowhere else
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(rows.count(_._2 == 0L) == 1 && rows.last._2 == 0L)
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("unix_micros(ts) as us", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // conservation: every event is consumed exactly once
    assert(rows.map(_._2).sum == ev.length.toLong)
    // watermark never regresses, and the final one is max ts (ms-truncated) - 1h
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq)
    assert(rows.last._3 == (ev.map(_._1).max / 1000L - 3600000L) * 1000L)
    // append emission boundary: emitted windows = all (day, type)
    // groups whose end <= final watermark; the tail is withheld
    val dayUs = 86400000000L
    val groups = ev.map { case (us, t) => (Math.floorDiv(us, dayUs), t) }.distinct
    val nClosed = groups.count { case (d, _) => (d + 1) * dayUs <= rows.last._3 }
    assert(rows.map(_._4).sum == nClosed.toLong, "emitted != watermark-closed groups")
    assert(groups.length > nClosed, "the final open window must be withheld")
    // batch 0 runs under watermark 0: nothing can have emitted yet
    assert(rows.head._4 == 0L && rows.head._3 == 0L)
  }

  test("isotonic fit equals the sequential PAV stack replayed in exact rationals") {
    val rows = Models.qIsotonicCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the minimax closed form the operator computes must equal the
    // classical pool-adjacent-violators stack, exactly
    val bins = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pools = scala.collection.mutable.ArrayBuffer.empty[(BigInt, BigInt)]
    bins.foreach { case (_, n, e) =>
      pools += ((BigInt(n), BigInt(e)))
      // merge while rate decreases: e2/n2 < e1/n1  <=>  e2*n1 < e1*n2
      while (pools.length > 1 &&
          pools(pools.length - 1)._2 * pools(pools.length - 2)._1 <
          pools(pools.length - 2)._2 * pools(pools.length - 1)._1) {
        val (n2, e2) = pools.remove(pools.length - 1)
        val (n1, e1) = pools.last
        pools(pools.length - 1) = (n1 + n2, e1 + e2)
      }
    }
    // expand pools positionally over the bin list
    val perBin = scala.collection.mutable.ArrayBuffer.empty[(BigInt, BigInt)]
    var bi = 0
    pools.foreach { case (n, e) =>
      var mass = BigInt(0)
      while (mass < n) { mass += bins(bi)._2; perBin += ((n, e)); bi += 1 }
      assert(mass == n, "pool boundaries must align with bin boundaries")
    }
    rows.zip(perBin).foreach { case (r, (n, e)) =>
      assert(BigInt(r.getLong(4)) == BigInt(1000000) * e / n,
        s"iso_ppm at bin ${r.getLong(0)} != PAV pool rate")
    }
    // isotonic: the fitted curve is non-decreasing; raw is not (else
    // the fit is the identity and the operator gates nothing)
    val iso = rows.map(_.getLong(4)).toSeq
    assert(iso == iso.sorted)
    val raw = rows.map(_.getLong(3)).toSeq
    assert(raw != raw.sorted, "corpus must actually have violations")
    // mass conservation: the pools partition the rows and keep every positive
    val totPos = bins.map(b => BigInt(b._3)).sum
    val pooled = pools.map(_._2).sum
    assert(pooled == totPos, "pools conserve the positive mass")
  }

  test("conformal intervals equal an exact JVM replay; infinite slices cover fully") {
    val rows = Models.qConformalInterval(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.exists(_.getString(0) == "ALL"))
    val docs = graft.Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "source", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        val b = java.lang.Long.parseLong(hex, 16) % 100
        val text = r.getString(2)
        val x = text.trim.toLowerCase.split("[ \t\n\f\r]+", -1).length.toLong
        (id, r.getString(1), b, text.length.toLong, x)
      }
    val trn = docs.filter(_._3 < 80)
    val rppm = 1000000L * trn.map(_._4).sum / trn.map(_._5).sum
    val scored = docs.map { case (id, src, b, y, x) =>
      (id, src, b, math.abs(1000000L * y - rppm * x))
    }
    val aud = scored.filter(_._3 >= 80)
    val pooled = aud.map { case (id, _, b, r2) => (id, "ALL", b, r2) }
    val expected = (aud ++ pooled).groupBy(_._2).map { case (src, xs) =>
      val cal = xs.filter(_._3 < 90).sortBy(t => (t._4, t._1))
      val n = cal.length.toLong
      val k = (90L * (n + 1) + 99) / 100
      val finite = k <= n
      val qhat = if (finite) cal((k - 1).toInt)._4 else -1L
      val tst = xs.filter(_._3 >= 90)
      val nt = tst.length.toLong
      val cov = if (finite) tst.count(_._4 <= qhat).toLong else nt
      src -> ((n, k, finite, qhat, nt, cov,
        if (nt > 0) 1000L * cov / nt else -1L))
    }
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
      r.getBoolean(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got.keySet == expected.keySet.filter(k => expected(k)._1 > 0),
      "one row per source with a non-empty calibration slice, plus ALL")
    got.foreach { case (src, v) => assert(v == expected(src), s"mismatch at $src") }
    // an infinite interval covers everything it sees
    rows.filter(!_.getBoolean(3)).foreach { r =>
      assert(r.getLong(6) == r.getLong(5), "infinite interval covers all test rows")
    }
  }

  test("youden curve replays from the brier bins; the argmax cut is exact") {
    val curve = Models.qYoudenThreshold(spark, sfDir).collect()
    val bins = Models.qBrierDecomp(spark, sfDir).collect()
      .map(r => (r.getLong(0), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
      .sortBy(-_._1)
    val p = bins.map(_._3).sum
    val ng = bins.map(b => b._2 - b._3).sum
    // suffix sums in descending-bin order
    var (tp, fp) = (BigInt(0), BigInt(0))
    val expected = bins.map { case (bin, n, e) =>
      tp += e; fp += n - e
      val jnum = tp * ng - fp * p
      val scaled = jnum * 1000000
      val j = if (jnum >= 0) scaled / (p * ng) else -((-scaled) / (p * ng))
      bin -> ((tp.toLong, fp.toLong, j.toLong, jnum))
    }.toMap
    val got = curve.map(r => r.getLong(0) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (bin, (t, f, j, _)) =>
      val (et, ef, ej, _) = expected(bin)
      assert((t, f, j) == ((et, ef, ej)), s"curve mismatch at bin $bin")
    }
    // exactly one best cut: max exact jnum, smallest bin on ties
    val best = expected.toSeq.maxBy { case (bin, (_, _, _, jn)) => (jn, -bin) }._1
    assert(curve.count(_.getBoolean(5)) == 1)
    assert(curve.find(_.getBoolean(5)).get.getLong(0) == best, "argmax cut")
    // a discriminative score has a strictly positive optimum
    assert(expected(best)._4 > 0)
  }

  test("louvain step: matrix partitions the pair-graph nodes, stays carry zero gain") {
    val rows = Dedup.qLouvainStep(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nodes = Dedup.lshPairs(spark, sfDir)
      .selectExpr("explode(array(doc_a, doc_b)) as i").distinct().count()
    assert(rows.map(_._3).sum == nodes,
      "every pair-graph node lands in exactly one transition cell")
    rows.filter(r => r._1 == r._2).foreach { r =>
      assert(r._4 == 0L, s"stay cell ${r._1} must carry zero gain") }
    rows.filter(r => r._1 != r._2).foreach { r =>
      assert(r._4 > 0L, s"move cell ${r._1}->${r._2} must carry positive gain") }
  }

  test("observe metrics equal a direct recomputation (accumulator path trusted)") {
    val rows = Pipeline.qObserveMetrics(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val d = graft.Tables.documents(spark, sfDir)
      .selectExpr("cast(length(text) as long) as l", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val s1 = d.filter(_._1 >= 200)
    val s2 = s1.filter(_._2 == "en")
    val survivors = s2.length.toLong
    assert(rows("0_raw") == ((d.length.toLong, d.map(_._1).sum, survivors)))
    assert(rows("1_len") == ((s1.length.toLong, s1.map(_._1).sum, survivors)))
    assert(rows("2_lang") == ((s2.length.toLong, s2.map(_._1).sum, survivors)))
  }

  test("catalog function binds with the magic-method value; metadata col is hidden from *") {
    val got = spark.sql(
      "SELECT id, graft.knuth_val(id) AS kv FROM graft.range_0_100_4").collect()
    got.foreach(r => assert(r.getLong(1) == graft.sources.RangeTable.valOf(r.getLong(0))))
    // metadata column: absent from SELECT *, present when referenced,
    // and STABLE under a pushed filter clip (original grid indices)
    val star = spark.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "400").option("slices", "4").load()
    assert(!star.columns.contains("_slice"), "metadata col must hide from SELECT *")
    val slices = star.filter(col("id") >= 150 && col("id") < 350)
      .select(col("_slice")).distinct().collect().map(_.getLong(0)).sorted
    assert(slices.toSeq == Seq(1L, 2L, 3L),
      s"clip must keep ORIGINAL grid slice indices, got ${slices.toSeq}")
  }

  test("ROC hull matches an independent monotone-chain replay and dominates the curve") {
    val rows = Models.qRocHull(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent replay: same scores/buckets, but the hull via the
    // classic sequential stack walk (the algorithm the closed-form
    // predicate replaces)
    val e = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("case when label < 5 then 1L else 0L end as y",
        "cast(embedding as array<double>) as v").collect()
      .map { r =>
        val s = r.getSeq[Double](1).map(x =>
          graft.functions.Vectors.roundJvm(x * 1000000d, 0).toLong).sum
        (r.getLong(0), (s + 100000000L) / 100000L)
      }
    val byB = e.groupBy(_._2).toSeq.sortBy(-_._1)
    var (tp, fp) = (0L, 0L)
    val curve = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
    byB.foreach { case (_, ms) =>
      tp += ms.count(_._1 == 1L); fp += ms.count(_._1 == 0L)
      curve += ((fp, tp))
    }
    val pts = curve.groupBy(_._1).map { case (f, g) => (f, g.map(_._2).max) }
      .toSeq.sortBy(_._1)
    val stack = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    pts.foreach { p =>
      while (stack.length >= 2 && {
        val a = stack(stack.length - 2); val b = stack.last
        // pop b when it falls strictly below chord a->p
        (BigInt(p._2 - a._2) * BigInt(b._1 - a._1)
          - BigInt(p._1 - a._1) * BigInt(b._2 - a._2)) > 0
      }) stack.remove(stack.length - 1)
      stack += p
    }
    assert(rows.map(r => (r._1, r._2)).toSeq == stack.toSeq,
      s"hull mismatch: got ${rows.toSeq}, replay ${stack.toSeq}")
    // hull dominates every ROC point and area accumulates exactly
    val hull = rows.map(r => (r._1, r._2))
    def hullTpAt(f: Long): Long = {
      val i = hull.lastIndexWhere(_._1 <= f)
      if (hull(i)._1 == f || i == hull.length - 1) hull(i)._2
      else {
        val (f0, t0) = hull(i); val (f1, t1) = hull(i + 1)
        t0 + (t1 - t0) * (f - f0) / (f1 - f0) // floor of the chord
      }
    }
    pts.foreach { case (f, t) => assert(t <= hullTpAt(f) + 1,
      s"curve point ($f, $t) above the hull") }
    rows.sliding(2).foreach { case Array((f0, t0, a0), (f1, t1, a1)) =>
      assert(a1 - a0 == (f1 - f0) * (t1 + t0), "trapezoid accumulation")
    case _ => ()
    }
    assert(rows.head == (0L, 0L, 0L), "hull starts at the origin")
  }

  test("size-class packing matches a driver replay of the md5-order greedy fill") {
    val rows = Text.qPackSeqClasses(spark, sfDir).collect()
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def bucket15(s: String, m: Long): Long =
      java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16) % m
    val budget = 2048L
    // replay: shard, capped tokens, pow2 class, md5 rank, row id
    val prepared = docs.map { case (id, text) =>
      val tok = math.min(Text.duckWords(text).length.toLong, budget)
      val cls = if (tok <= 64) 64L else if (tok <= 128) 128L else if (tok <= 256) 256L
        else if (tok <= 512) 512L else if (tok <= 1024) 1024L else budget
      (id, bucket15(id.toString, 8L), tok, cls, md5hex(id.toString))
    }
    val byShard = prepared.groupBy(_._2).map { case (shard, members) =>
      val rowsOfShard = members.groupBy(_._4).toSeq.flatMap { case (cls, ms) =>
        val perRow = (budget / cls).toInt
        ms.sortBy(m => (m._5, m._1)).grouped(perRow).map(g => g.map(_._3).sum).toSeq
      }
      val packed = rowsOfShard.sum
      val nRows = rowsOfShard.length.toLong
      val fills = rowsOfShard.map(rt => 1000000L * rt / budget)
      (shard, (members.length.toLong, nRows, packed,
        1000000L * packed / (nRows * budget), fills.min, fills.max))
    }
    assert(rows.length == byShard.size, "one output row per non-empty shard")
    rows.foreach { r =>
      val e = byShard(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == e, s"shard ${r.getLong(0)} mismatch: got $r want $e")
    }
    // packing sanity: every row's fill is positive and ≤ 1e6; whole
    // docs only (kept tokens sum = packed tokens)
    assert(rows.forall(r => r.getLong(6) <= 1000000L && r.getLong(5) >= 1L))
  }

  test("timeout sessionization emits both closure paths at the exact ms boundary") {
    val rows = graft.streaming.Streams.qStreamSessionTimeout(spark, sfDir).collect()
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_micros(ts) as us", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gap = 1800000000L
    val wmMs = ev.map(_._2).max / 1000L - 3600000L
    // replay: per-user sessions in (ts, event_id) order; every session
    // but the last closes by successor, the last by timeout iff the
    // ms-floored (end + gap) sits strictly below the final watermark
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._2, e._3))
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      sorted.foreach { case (_, ts, _) =>
        sessions.lastOption match {
          case Some((st, last, n)) if ts - last <= gap =>
            sessions(sessions.length - 1) = (st, ts, n + 1)
          case _ => sessions += ((ts, ts, 1L))
        }
      }
      val succ = sessions.dropRight(1).map { case (st, last, n) =>
        (u, st, n, last - st, "succ")
      }
      val tail = sessions.lastOption.filter { case (_, last, _) =>
        (last + gap) / 1000L < wmMs
      }.map { case (st, last, n) => (u, st, n, last - st, "timeout") }
      succ ++ tail
    }.sortBy(t => (t._1, t._2))
    val got = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(got == expected, s"session emission mismatch: ${got.length} vs ${expected.length}")
    assert(got.exists(_._5 == "succ") && got.exists(_._5 == "timeout"),
      "both closure paths must be exercised at this SF")
  }

  test("checkpoint restart recovers state exactly and reads only new files") {
    val rows = graft.streaming.Streams.qStreamRestartRecovery(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val ev = graft.Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id",
        "cast(round(value * 100) as long) as vc").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // the md5-bucket file schedule (the qSplit convention — replaced
    // the ntile global window, the repo's last unpartitioned
    // full-table sort): bucket = first-15-hex-of-md5(event_id) % 4,
    // run 1 = buckets {0,1}, run 2 = buckets {2,3}
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucketOf(eventId: Long): Long = {
      val hex = md.digest(eventId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 4
    }
    val run1Expected = ev.count(e => bucketOf(e._2) <= 1).toLong
    val run2Expected = ev.length.toLong - run1Expected
    rows.foreach { r =>
      assert(r.getLong(3) == run1Expected, "run 1 must consume files 1-2 exactly")
      assert(r.getLong(4) == run2Expected,
        "run 2 must consume ONLY the new files -- the offset log, not a rescan")
    }
    // final totals equal the batch aggregate over ALL data: run-1
    // state was recovered, not lost or recomputed
    val expected = ev.groupBy(_._1).map { case (u, es) =>
      u -> ((es.length.toLong, es.flatMap(_._3).sum))
    }
    val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, "restart must preserve exactly-once totals")
  }

  test("custom micro-batch stream accumulates to the closed-form grid totals") {
    val rows = graft.streaming.Streams.qSrcRangeStream(spark, sfDir).collect()
    assert(rows.length == 16)
    // the offset schedule: ceil(200000 / 30000) = 7 data triggers
    assert(rows.forall(_.getLong(5) == 7L), "exactly 7 micro-batches")
    rows.foreach { r =>
      val b = r.getLong(0)
      val ids = (0L until 200000L).filter(_ % 16 == b)
      assert(r.getLong(1) == ids.length.toLong)
      assert(r.getLong(2) == ids.map(i => (i * 2654435761L) % 1000000L).sum)
      assert(r.getLong(3) == ids.min && r.getLong(4) == ids.max)
    }
    // offset serde + partition planning are pure functions: round-trip
    // and slice-count checked directly on the stream object
    val ms = new graft.sources.RangeMicroBatchStream(0L, 200000L, 8, 30000L)
    assert(ms.deserializeOffset(graft.sources.RangePos(12345L).json())
      == graft.sources.RangePos(12345L))
    val parts = ms.planInputPartitions(
      graft.sources.RangePos(0L), graft.sources.RangePos(30000L))
    assert(parts.length == 8, "a micro-batch slices like the batch scan")
    val spans = parts.map(_.asInstanceOf[graft.sources.RangePartition])
    assert(spans.map(p => p.hi - p.lo).sum == 30000L, "partitions tile the window")
  }

  test("paragraph dedup: masks replay the first-occurrence rule exactly") {
    val rows = Dedup.qParagraphDedup(spark, sfDir).collect()
    // JVM replay of the whole rule: tile every doc in (doc_id, idx)
    // order, first content occurrence wins corpus-wide
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.HashSet[String]()
    val exp = docs.map { case (id, text) =>
      val w = Text.duckWords(text)
      val n = (w.length + 2) / 3
      var mask = 0L; var kept = 0L; var chars = 0L
      (0 until n).foreach { gi =>
        val t = w.slice(gi * 3, gi * 3 + 3).mkString(" ")
        // the gated mask clips to idx < 62 (cross-engine shift-wrap
        // guard); counts/chars stay over ALL tiles
        if (seen.add(t)) {
          if (gi < 62) mask |= (1L << gi)
          kept += 1; chars += t.length
        }
      }
      (id, n.toLong, kept, mask, chars)
    }
    val got = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"doc ${e._1}: $g != $e") }
    // internal consistency: every mask bit is a kept tile (equality
    // only when no kept tile sits past bit 61), and something must
    // actually dedup at this corpus size
    got.foreach(g => assert(java.lang.Long.bitCount(g._4) <= g._3))
    assert(got.map(_._3).sum < got.map(_._2).sum, "corpus should contain dup tiles")
  }

  test("paragraph dedup: >=64-tile docs clip the mask instead of wrapping") {
    // Spark's shiftleft(1L, idx) wraps the shift amount mod 64 while
    // DuckDB's 1::BIGINT << idx does not — the r15 latent divergence.
    // Both engines now emit the mask only for idx < 62, so a 65-tile
    // doc (195 words) must produce EXACTLY bits 0..61 of the kept set
    // — the same value DuckDB's clipped closed form yields — with
    // counts/chars still covering all 65 tiles.
    val tmp = java.nio.file.Files.createTempDirectory("graft_para_wrap_")
    try {
      // doc 1: 65 tiles, all distinct (tile gi = "wA wB wC" unique per
      // gi); doc 2 repeats doc 1's tiles 0..2 -> its mask drops them
      val words1 = (0 until 195).map(i => s"w$i")
      val doc2 = (0 until 9).map(i => s"w$i") // tiles 0..2 of doc 1
      import spark.implicits._
      Seq((1L, words1.mkString(" ")), (2L, (doc2 ++ Seq("zz", "zz2", "zz3")).mkString(" ")))
        .toDF("doc_id", "text")
        .write.parquet(tmp.resolve("documents.parquet").toString)
      val got = Dedup.qParagraphDedup(spark, tmp.toString).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      // DuckDB closed form: sum over kept idx < 62 of 2^idx, computed
      // exactly in BigInt (no shift involved) — agreement proven
      // against arithmetic, not another shift
      val clipped62 = (BigInt(1) << 62) - 1
      assert(clipped62.isValidLong)
      val d1 = got.find(_._1 == 1L).get
      assert(d1._2 == 65L, "65 tiles")
      assert(d1._3 == 65L, "all 65 first occurrences kept")
      assert(d1._4 == clipped62.toLong,
        "mask = bits 0..61 exactly (tiles 62..64 clipped, NOT wrapped onto low bits)")
      assert(d1._5 ==
        (0 until 65).map(gi => words1.slice(gi * 3, gi * 3 + 3).mkString(" ").length).sum,
        "kept_chars covers ALL kept tiles, including the clipped ones")
      val d2 = got.find(_._1 == 2L).get
      assert(d2._2 == 4L && d2._3 == 1L,
        "doc 2's first 3 tiles are corpus dups; only its tail tile survives")
      assert(d2._4 == 8L, "kept bit is idx 3 only")
    } finally {
      import scala.jdk.CollectionConverters._
      val walked = java.nio.file.Files.walk(tmp)
      try walked.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walked.close()
    }
  }

  test("maxsim: scores replay brute-force late interaction exactly") {
    val rows = Similarity.qMaxSim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // JVM brute force over the full token bags
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val docs = vecs.keys.map(_ / 4).toSeq.distinct.sorted
    def cosPpm(a: Array[Double], b: Array[Double]): Long = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      // Spark's round(x, 6): HALF_UP over the shortest-decimal string
      // (java.math.BigDecimal.valueOf), not the exact binary expansion
      val c = java.math.BigDecimal.valueOf(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      math.round(c * 1000000)
    }
    val probes = docs.filter(_ % 25 == 0)
    val exp = probes.flatMap { q =>
      val scored = docs.filter(_ != q).map { d =>
        val s = (0L until 4L).map { qt =>
          (0L until 4L).map(dt => cosPpm(vecs(q*4+qt), vecs(d*4+dt))).max
        }.sum
        (d, s)
      }.sortBy { case (d, s) => (-s, d) }.take(5)
      scored.zipWithIndex.map { case ((d, s), i) => (q, i + 1, d, s) }
    }
    assert(rows.toSeq == exp, "maxsim top-k must equal the JVM brute force")
  }

  test("maxsim rerank: candidate clip preserves scores; recall query counts the exact overlap") {
    val exact = Similarity.qMaxSim(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))) // (qdoc, neighbor, ppm)
    val exactTop = exact.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exactPpm = exact.map { case (q, n, p) => (q, n) -> p }.toMap
    val rr = Similarity.qMaxSimRerank(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rr.nonEmpty)
    rr.groupBy(_._1).foreach { case (q, rows) =>
      // ranks are 1..k, ordered by (ppm desc, neighbor asc)
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length))
      val ordered = rows.sortBy(_._2)
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3), s"rank order broken at $q")
        case _ => ()
      }
      // the re-rank never changes a pair's score — where a rerank row
      // also appears in the exact tier, the ppm is identical
      ordered.foreach { row =>
        exactPpm.get((q, row._3)).foreach(p => assert(p == row._4,
          s"score drift for ($q, ${row._3}): exact $p vs rerank ${row._4}"))
      }
      assert(ordered.forall(_._5 > 0L), "candidate clip must be non-empty where rows emit")
    }
    // the split-out measurement query (r17): per-probe n_hits is
    // EXACTLY the overlap of the production top-k with the exact
    // top-k, and n_cands replays the production query's clip sizes
    val rec = Similarity.qMaxSimRecall(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val prodCands = rr.groupBy(_._1).map { case (q, rows) => q -> rows.head._5 }
    val prodTop = rr.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._3).toSet }
    rec.foreach { case (q, nCands, nHits) =>
      assert(nCands == prodCands.getOrElse(q, 0L), s"n_cands mismatch for $q")
      val hits = prodTop.getOrElse(q, Set.empty)
        .intersect(exactTop.getOrElse(q, Set.empty)).size
      assert(nHits == hits.toLong, s"n_hits mismatch for $q")
    }
    // every probe emits a recall row, even candidate-less ones
    assert(rec.map(_._1).toSet == exactTop.keySet,
      "recall query must cover the full probe set")
    // the candidate path must actually recover something at this corpus
    assert(rec.map(_._3).sum > 0, "zero recall everywhere — candidate generation broken")
  }

  test("bloom prefilter: no false negatives and FP counts replay the bit math") {
    val rows = Dedup.qBloomPrefilter(spark, sfDir).collect()
    assert(rows.length == 12, "4 shards, all ordered pairs")
    rows.foreach { r =>
      val (hits, nTrue, nFp, nMissed) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nMissed == 0L, "a bloom filter can never miss a present key")
      assert(hits >= nTrue, "every true duplicate must bloom-hit")
      assert(nFp == hits - nTrue)
      assert(r.getLong(7) <= 32768L, "bit count bounded by m")
    }
    // the prefilter must actually clip: hits strictly below probes
    assert(rows.forall(r => r.getLong(3) < r.getLong(2)),
      "bloom hits should be a strict subset of probes at this fill ratio")
  }
}
