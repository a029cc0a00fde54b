package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}
import graft.sources.{DirSink, RangeMicroBatchStream, RangePos}

/** The DSv2 write path's non-SQL guarantees: an injected task failure
  * must leave the table byte-for-byte untouched (abort cleanup, no
  * partial commit), overwrite must swap atomically via the manifest,
  * and the stream cursor must resume from a restored offset. The
  * value-level write→read-back round trip is oracle-gated as
  * `src_range_write`; these specs cover what a failed job / restart
  * can't express in SQL. */
class DirSinkSpec extends SparkSpec {

  private def rangeRows(a: Long, b: Long): DataFrame =
    spark.read.format("graft.sources.RangeTableProvider")
      .option("start", a.toString).option("end", b.toString).option("slices", "4")
      .load()
      .select(col("id"), col("bucket"), col("val"))

  private def write(df: DataFrame, dir: String, mode: String,
      failPartition: Option[Int] = None): Unit = {
    val w = df.write.format("graft.sources.DirSinkProvider").option("path", dir)
    failPartition.foreach(p => w.option("fail_partition", p.toString))
    w.mode(mode).save()
  }

  private def readBack(dir: String): DataFrame =
    spark.read.format("graft.sources.DirSinkProvider").option("path", dir).load()

  private def listFiles(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted

  test("injected task failure: job fails, abort leaves NO partial output") {
    val dir = Files.createTempDirectory("dirsink_abort_").toString
    val e = intercept[Exception] {
      write(rangeRows(0, 10000), dir, "overwrite", failPartition = Some(2))
    }
    assert(e.getMessage != null) // job failed (injected IOException surfaced)
    // atomicity: no manifest was ever published, so the table is empty
    assert(DirSink.readManifest(dir).isEmpty, "a failed job must not publish a manifest")
    // abort cleanup: no staged leftovers, no promoted part files
    assert(listFiles(dir).isEmpty,
      s"abort must clean staging and promote nothing; found ${listFiles(dir)}")
    GraftSession.sweep(Paths.get(dir))
  }

  test("failed overwrite leaves the PREVIOUS table version fully readable") {
    val dir = Files.createTempDirectory("dirsink_prev_").toString
    write(rangeRows(0, 5000), dir, "overwrite")
    val before = readBack(dir).agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(before.getLong(0) == 5000L)
    // second overwrite dies mid-flight
    intercept[Exception] {
      write(rangeRows(0, 9000), dir, "overwrite", failPartition = Some(1))
    }
    val after = readBack(dir).agg(count(lit(1)), sum(col("id"))).collect()(0)
    assert(after.getLong(0) == 5000L && after.getLong(1) == before.getLong(1),
      "a failed overwrite must leave the previous committed state intact")
    GraftSession.sweep(Paths.get(dir))
  }

  test("overwrite truncates prior files; append preserves them") {
    val dir = Files.createTempDirectory("dirsink_modes_").toString
    write(rangeRows(0, 3000), dir, "overwrite")
    write(rangeRows(0, 2000), dir, "overwrite")
    assert(readBack(dir).count() == 2000L, "overwrite must replace, not accumulate")
    // old data files are garbage-collected after the manifest swap
    val m = DirSink.readManifest(dir).get
    assert(listFiles(dir).filter(_ != DirSink.ManifestName).toSet == m.files.toSet,
      "only manifest-listed files may remain after a truncating commit")
    write(rangeRows(2000, 2500), dir, "append")
    assert(readBack(dir).count() == 2500L, "append must add to the committed set")
    GraftSession.sweep(Paths.get(dir))
  }

  test("TSV escaping + nulls round-trip exactly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dirsink_esc_").toString
    val rows = Seq(
      (1L, "plain"),
      (2L, "tab\there"),
      (3L, "line\nbreak\r"),
      (4L, "back\\slash and literal \\N marker"),
      (5L, null.asInstanceOf[String]))
    write(rows.toDF("id", "s").repartition(2), dir, "overwrite")
    val got = readBack(dir).orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(got == rows.map { case (i, v) => (i, Option(v)) },
      s"escaped round trip mismatch: $got")
    GraftSession.sweep(Paths.get(dir))
  }

  test("read side prunes columns at parse time (readSchema = required)") {
    val dir = Files.createTempDirectory("dirsink_prune_").toString
    write(rangeRows(0, 1000), dir, "overwrite")
    val narrow = readBack(dir).select(col("val"))
    val scanDesc = narrow.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("cols=val"),
      s"pruned scan should read only 'val'; plan:\n$scanDesc")
    assert(narrow.agg(sum(col("val"))).collect()(0).getLong(0) ==
      (0L until 1000L).map(i => (i * 2654435761L) % 1000000L).sum)
    GraftSession.sweep(Paths.get(dir))
  }

  test("streaming epoch commit is idempotent: a replayed epoch publishes nothing twice") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.sources.{DirSinkCommit, DirSinkStreamingWrite}
    val dir = Files.createTempDirectory("dirsink_epoch_").toString
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val sw = new DirSinkStreamingWrite(dir, schema, "q1", None)
    val staging = Paths.get(dir, "_staging-q1")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("task-e5-p0-t0.tsv"), "1\n2\n")
    sw.commit(5L, Array(DirSinkCommit("task-e5-p0-t0.tsv", 2L)))
    val m1 = DirSink.readManifest(dir).get
    assert(m1.files.length == 1 && m1.files.head.startsWith("part-q1-e5-"))
    // the restart replay: same epoch re-staged and re-committed
    Files.writeString(staging.resolve("task-e5-p0-t0.tsv"), "1\n2\n")
    sw.commit(5L, Array(DirSinkCommit("task-e5-p0-t0.tsv", 2L)))
    val m2 = DirSink.readManifest(dir).get
    assert(m2.files == m1.files, "a replayed epoch must not promote a second file set")
    assert(!Files.exists(staging.resolve("task-e5-p0-t0.tsv")),
      "the replayed epoch's staged file is dropped, not leaked")
    assert(readBack(dir).count() == 2L, "rows published exactly once")
    // a NEW epoch still appends
    Files.writeString(staging.resolve("task-e6-p0-t0.tsv"), "3\n")
    sw.commit(6L, Array(DirSinkCommit("task-e6-p0-t0.tsv", 1L)))
    assert(readBack(dir).count() == 3L)
    // RESTART replay: a restarted query carries a NEW queryId — the
    // sink must still recognize the published epoch (tail-anchored
    // epoch tag, not a queryId-prefix check) and drop the re-staged
    // files instead of double-publishing
    val sw2 = new DirSinkStreamingWrite(dir, schema, "q2-restarted", None)
    val staging2 = Paths.get(dir, "_staging-q2-restarted")
    Files.createDirectories(staging2)
    Files.writeString(staging2.resolve("task-e6-p0-t0.tsv"), "3\n")
    sw2.commit(6L, Array(DirSinkCommit("task-e6-p0-t0.tsv", 1L)))
    val m3 = DirSink.readManifest(dir).get
    assert(m3.files.count(_.contains("-e6-")) == 1,
      "a replayed epoch from a RESTARTED query (new queryId) must not re-publish")
    assert(readBack(dir).count() == 3L, "rows still published exactly once across restart")
    // but epoch 16 must NOT be mistaken for epoch 6 by the tag match
    Files.writeString(staging2.resolve("task-e16-p0-t0.tsv"), "4\n")
    sw2.commit(16L, Array(DirSinkCommit("task-e16-p0-t0.tsv", 1L)))
    assert(readBack(dir).count() == 4L, "epoch 16 is new despite sharing digits with 6")
    GraftSession.sweep(Paths.get(dir))
  }

  test("micro-batch stream cursor resumes FROM a restored offset (no regression)") {
    // the r13 ADVICE item: deserializeOffset must raise the in-memory
    // high-water mark so a checkpointed restart never re-plans
    // already-committed id windows
    val s = new RangeMicroBatchStream(0L, 100000L, 4, 10000L)
    s.deserializeOffset("30000") // restart replays the committed offset
    val next = s.latestOffset().asInstanceOf[RangePos].pos
    assert(next == 40000L,
      s"cursor must advance from the restored offset (30000+10000), got $next")
  }

  test("managed catalog table: SQL lifecycle, NULL-safe delete, unsupported predicates refuse") {
    spark.sql("DROP TABLE IF EXISTS graft.spec_tbl")
    spark.sql("CREATE TABLE graft.spec_tbl (id BIGINT, tag STRING)")
    spark.sql("INSERT INTO graft.spec_tbl VALUES (1, 'a'), (2, 'b'), (3, NULL), (4, 'a')")
    try {
      // SQL DELETE semantics: a NULL predicate row is NOT deleted
      spark.sql("DELETE FROM graft.spec_tbl WHERE tag = 'a'")
      val left = spark.sql("SELECT id FROM graft.spec_tbl ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(left == Seq(2L, 3L), s"NULL-tag row must survive a tag='a' delete: $left")
      // an arbitrary (metadata-unpushable) predicate routes through
      // the row-level rewrite (SupportsRowLevelOperations, group-based
      // copy-on-write) instead of refusing — r15 capability upgrade
      spark.sql("DELETE FROM graft.spec_tbl WHERE id % 2 = 0")
      val left2 = spark.sql("SELECT id FROM graft.spec_tbl ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(left2 == Seq(3L), s"row-level delete must drop the even id: $left2")
      // creating an existing table fails; dropping removes it
      intercept[Exception] { spark.sql("CREATE TABLE graft.spec_tbl (x BIGINT)") }
    } finally spark.sql("DROP TABLE IF EXISTS graft.spec_tbl")
    intercept[Exception] { spark.sql("SELECT * FROM graft.spec_tbl").collect() }
  }

  test("MERGE INTO: group-based rewrite plans MergeRows+ReplaceData, all clause families apply") {
    spark.sql("DROP TABLE IF EXISTS graft.merge_spec")
    spark.sql("CREATE TABLE graft.merge_spec (id BIGINT NOT NULL, v BIGINT NOT NULL)")
    try {
      spark.sql("INSERT INTO graft.merge_spec VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
      val merge =
        """MERGE INTO graft.merge_spec t
          |USING (SELECT * FROM VALUES (2, 200), (3, 300), (5, 500) AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED AND t.id = 3 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = t.v + s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
          |WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE""".stripMargin
      // plan assert: the group-based copy-on-write shape — a MergeRows
      // over the join feeding a ReplaceData on this sink (NOT a
      // delta/WriteDelta plan, which this sink does not implement)
      val plan = spark.sql(s"EXPLAIN EXTENDED $merge").head.getString(0)
      assert(plan.contains("MergeRows"), "expected MergeRows in plan:\n" + plan)
      assert(plan.contains("ReplaceData"), "expected ReplaceData in plan:\n" + plan)
      assert(!plan.contains("WriteDelta"), "group-based CoW must not plan WriteDelta")
      spark.sql(merge)
      val got = spark.sql("SELECT id, v FROM graft.merge_spec ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // 1 carries over; 2 updates to 220; 3 deleted (matched-delete
      // wins over update by clause order); 4 deleted (not-matched-by-
      // source); 5 inserted
      assert(got == Seq((1L, 10L), (2L, 220L), (5L, 500L)), got.toString)
    } finally spark.sql("DROP TABLE IF EXISTS graft.merge_spec")
  }

  test("procedure catalog: grid lists, resolves, computes, and refuses unknowns") {
    val cat = new graft.sources.GraftCatalog()
    import org.apache.spark.sql.connector.catalog.Identifier
    val ns = Array("default")
    assert(cat.listProcedures(ns).map(_.name()).toSeq == Seq("grid"))
    intercept[IllegalArgumentException] {
      cat.loadProcedure(Identifier.of(ns, "nope"))
    }
    // CALL result replays the shared step formula, short tail included
    val rows = spark.sql("CALL graft.grid(10, 95, 4)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val step = math.max(1L, (95L - 10L + 3L) / 4L) // 22
    val exp = (0 until 4).flatMap { k =>
      val a = 10L + k * step; val b = math.min(95L, a + step)
      if (a < b) Some((k.toLong, a, b, b - a)) else None
    }
    assert(rows.toSeq == exp)
    assert(rows.map(_._4).sum == 85L, "slices tile the range exactly")
    // degenerate: more slices than rows — empty tail slices dropped
    val tiny = spark.sql("CALL graft.grid(0, 3, 8)").collect()
    assert(tiny.map(_.getLong(3)).sum == 3L && tiny.length == 3)
  }

  test("state sources: statestore rows and state-metadata operator listing agree") {
    val base = Files.createTempDirectory("graft_statemeta_")
    val ckpt = base.resolve("ckpt").toString
    try {
      val src = spark.readStream.format("graft.sources.RangeTableProvider")
        .option("start", "0").option("end", "40000")
        .option("slices", "4").option("batchRows", "20000")
        .load()
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName("sm_gate").outputMode("update")
        .option("checkpointLocation", ckpt).start()
      try src.processAllAvailable() finally src.stop()
      spark.catalog.dropTempView("sm_gate")
      // operator metadata: one stateful operator across both batches
      val meta = spark.read.format("state-metadata").load(ckpt).collect()
      assert(meta.length == 1)
      val m = meta.head
      assert(m.getAs[String]("operatorName") == "stateStoreSave")
      assert(m.getAs[Long]("minBatchId") == 0L && m.getAs[Long]("maxBatchId") == 1L)
      // state rows: 16 buckets, each counted 40000/16 across epochs
      // the value struct carries the AGG BUFFER's field names (count)
      val st = spark.read.format("statestore").load(ckpt)
        .select(col("key.bucket"), col("value.count")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(st.length == 16 && st.forall(_._2 == 2500L))
    } finally GraftSession.sweep(base)
  }

  test("admission control: read limits clamp, compose, and never regress") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val s = new RangeMicroBatchStream(0L, 100000L, 4, 10000L)
    // declared pace = the batchRows cursor step
    assert(s.getDefaultReadLimit.toString.contains("10000"))
    // maxRows admits exactly the window, clamped at the grid end
    assert(s.latestOffset(RangePos(0L), ReadLimit.maxRows(10000L))
      .asInstanceOf[RangePos].pos == 10000L)
    assert(s.latestOffset(RangePos(95000L), ReadLimit.maxRows(10000L))
      .asInstanceOf[RangePos].pos == 100000L)
    // allAvailable drains to the end in one admit
    assert(s.latestOffset(RangePos(20000L), ReadLimit.allAvailable())
      .asInstanceOf[RangePos].pos == 100000L)
    // a composite limit admits the tightest bound
    assert(s.latestOffset(RangePos(0L), ReadLimit.compositeLimit(
        Array(ReadLimit.maxRows(30000L), ReadLimit.maxRows(5000L))))
      .asInstanceOf[RangePos].pos == 5000L)
    // the true latest is the grid end regardless of pace
    assert(s.reportLatestOffset().asInstanceOf[RangePos].pos == 100000L)
    // admission keeps the restart high-water mark: a later legacy
    // call can never regress below an admitted offset
    val s2 = new RangeMicroBatchStream(0L, 100000L, 4, 10000L)
    s2.latestOffset(RangePos(0L), ReadLimit.maxRows(40000L))
    assert(s2.latestOffset().asInstanceOf[RangePos].pos == 50000L)
  }

  // parse one committed file into (bucket, id) rows in file order
  private def parsedFile(dir: String, f: String): Seq[(Long, Long)] =
    Files.readAllLines(Paths.get(dir, f)).asScala.toSeq.map { line =>
      val cells = line.split("\t", -1)
      (cells(1).toLong, cells(0).toLong)
    }

  test("clustered write: declared distribution/ordering shapes the committed files") {
    val dir = Files.createTempDirectory("graft_cl_spec_").toString
    try {
      rangeRows(0, 4000).write.format("graft.sources.DirSinkProvider")
        .option("path", dir)
        .option("cluster_by", "bucket").option("sort_by", "bucket,id")
        .option("write_partitions", "8")
        .mode("overwrite").save()
      val m = graft.sources.DirSink.readManifest(dir).get
      assert(m.files.size <= 8, s"requiredNumPartitions=8 must cap files, got ${m.files.size}")
      val byFile = m.files.map(f => f -> parsedFile(dir, f))
      // ordering honored: every file strictly sorted by (bucket, id)
      byFile.foreach { case (f, rows) =>
        assert(rows == rows.sorted, s"file $f is not (bucket,id)-sorted")
      }
      // clustering honored: every bucket wholly inside ONE file
      val filesPerBucket = byFile.flatMap { case (f, rows) => rows.map(r => (r._1, f)) }
        .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).distinct.size }
      assert(filesPerBucket.values.forall(_ == 1),
        s"each bucket must land in exactly one file: $filesPerBucket")
      assert(readBack(dir).count() == 4000L)

      // counterfactual: NO declared distribution — the 4 reader
      // slices each hold all 16 buckets, so every bucket spans files
      val dir2 = Files.createTempDirectory("graft_cl_spec2_").toString
      try {
        write(rangeRows(0, 4000), dir2, "overwrite")
        val m2 = graft.sources.DirSink.readManifest(dir2).get
        val spread = m2.files.flatMap(f => parsedFile(dir2, f).map(r => (r._1, f)))
          .groupBy(_._1).map { case (_, fs) => fs.map(_._2).distinct.size }
        assert(spread.exists(_ > 1),
          "without cluster_by, buckets must spread over multiple files")
        // and without sort_by the in-file order is id-major (reader
        // order), NOT (bucket, id) — the ordering contract is real
        val rows2 = parsedFile(dir2, m2.files.head)
        assert(rows2 != rows2.sorted, "unsorted write should not be (bucket,id)-sorted")
      } finally GraftSession.sweep(Paths.get(dir2))
    } finally GraftSession.sweep(Paths.get(dir))
  }

  test("time travel: versions archive per commit, truncate retains referenced files") {
    val dir = Files.createTempDirectory("graft_tt_spec_").toString
    def writeV(df: DataFrame, mode: String): Unit =
      df.write.format("graft.sources.DirSinkProvider")
        .option("path", dir).option("keep_versions", "true").mode(mode).save()
    def readV(v: Option[Int]) = {
      val r = spark.read.format("graft.sources.DirSinkProvider").option("path", dir)
      v.foreach(n => r.option("version", n.toString))
      r.load()
    }
    try {
      writeV(rangeRows(0, 2000), "overwrite")
      writeV(rangeRows(2000, 3000), "append")
      val v1Files = graft.sources.DirSink.readManifest(dir, Some(1)).get.files
      writeV(rangeRows(0, 500), "overwrite") // truncate, but versions retained
      assert(graft.sources.DirSink.listVersions(dir) == Seq(1, 2, 3))
      // every v1-referenced data file survived the truncate
      v1Files.foreach(f => assert(Files.exists(Paths.get(dir, f)),
        s"truncate under keep_versions must retain $f (referenced by v1)"))
      // version-pinned reads reconstruct each snapshot exactly
      assert(readV(Some(1)).count() == 2000L)
      assert(readV(Some(2)).count() == 3000L)
      assert(readV(Some(3)).count() == 500L)
      assert(readV(None).count() == 500L) // live = newest
      // archived versions are immutable history: v2 still sums right
      assert(readV(Some(2)).agg(sum(col("id"))).head.getLong(0)
        == (0L until 3000L).sum)
      // a missing version fails loudly at schema inference, naming it
      val e = intercept[Exception] { readV(Some(9)).count() }
      assert(e.getMessage.contains("no committed manifest v9"),
        s"missing-version read must name the version: ${e.getMessage}")
    } finally GraftSession.sweep(Paths.get(dir))
  }
}
