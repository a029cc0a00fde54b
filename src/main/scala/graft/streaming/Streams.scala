package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession.{install, sweep, withConf}
import graft.Tables

/** Structured Streaming surface over the `events` table.
  *
  * The reference's "streaming" is transport only (Node object-mode
  * Transforms, no event time — SURVEY.md §2.3 A9); this is the real
  * thing: file-source `readStream`s with event-time watermarks
  * driving a windowed aggregation, arbitrary keyed state
  * (mapGroupsWithState), and a time-interval stream-stream join. For
  * the correctness gate each query runs to completion against the
  * static parquet (a bounded stream) and the final result must equal
  * the batch answer — exactly the semantics Structured Streaming
  * guarantees (streaming query ≡ incremental execution of the batch
  * plan).
  *
  * At scale the same plans run unbounded: the 1-hour watermarks bound
  * window/join state, keyed state is partitioned by the grouping key,
  * and the memory sink becomes a parquet/Kafka sink.
  */
object Streams {

  /** Streaming state stores are per shuffle partition, and their
    * per-micro-batch overhead dominates small-state queries (measured
    * 11s -> 3s at sf0.1 going 32 -> 8 partitions). Streaming jobs pin
    * their partition count at start anyway (it's fixed into the
    * checkpoint), so these queries hold it in a scope
    * ([[graft.GraftSession.withConf]]) that restores the session value
    * after. At scale, size to key cardinality. */
  private val StreamPartitions = "8"
  private val StreamWidth = "spark.sql.shuffle.partitions" -> StreamPartitions
  /** transformWithState needs the RocksDB provider (multi-variable
    * column families); scoped like [[StreamWidth]]. */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Resolves the single part file a staging write left in a bucket
    * directory. `listFiles()` returns NULL for a missing directory —
    * and an md5-bucket split CAN leave a bucket empty at a tiny
    * corpus (the old per-bucket coalesce(1) writes always emitted a
    * part file, even for zero rows; the one-job
    * repartition+partitionBy write emits nothing for an empty
    * bucket) — so fail with the bucket's name instead of an NPE
    * deep inside the staging loop (r16 ADVICE). */
  private def stagedPartFile(stageDir: String, bucketDir: String): java.io.File = {
    val files = new java.io.File(s"$stageDir/$bucketDir").listFiles()
    assert(files != null,
      s"staging bucket $bucketDir is empty or missing under $stageDir — " +
        "the bucket split produced no rows for it at this corpus size")
    files.find(_.getName.startsWith("part-")).getOrElse(
      sys.error(s"no part file in $stageDir/$bucketDir"))
  }

  /** Runs `build(eventsStream)` to completion against the bounded
    * events source through a memory sink and returns the sink's final
    * contents as a materialized local frame, cleaning up the sink's
    * temp view and the symlink directory (the file stream source
    * monitors a directory; the test table is a single file).
    * `rawTs = true` skips the ns→µs conversion for queries that don't
    * read event time. */
  private def runBounded(
      s: SparkSession, dir: String, mode: String, rawTs: Boolean = false,
      ckpt: Option[String] = None)(
      build: DataFrame => DataFrame): DataFrame = withConf(s, StreamWidth) {
    val path = s"$dir/events.parquet"
    install(s)
    // cached footer schema (r18): the bare read.parquet(path).schema
    // here ran a one-task inference job per bounded-stream query
    val schema = Tables.rawSchema(s, dir, "events") // ts arrives as long nanos
    val name = "graft_stream_" + UUID.randomUUID().toString.replace("-", "")
    val streamDir = graft.GraftSession.scratchDir("graft_stream_")
    // the events table may be ONE parquet file or a multi-file
    // directory (the realistic layout — the r10 multi-file gate
    // caught the single-file-only symlink returning an empty stream):
    // symlink every data file into the monitored dir
    val src = java.nio.file.Paths.get(path)
    val srcFiles: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(src)
        try ls.iterator().asScala.toList
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
        finally ls.close()
      } else List(src)
    // links are created INSIDE the try so a partial failure still
    // sweeps whatever was already linked (the finally deletes every
    // entry that made it into the buffer)
    val links = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try {
      srcFiles.zipWithIndex.foreach { case (f, i) =>
        val l = streamDir.resolve(f"part-$i%05d.parquet")
        java.nio.file.Files.createSymbolicLink(l, f.toAbsolutePath)
        links += l
      }
      val raw = s.readStream.schema(schema).parquet(streamDir.toString)
      val stream = if (rawTs) raw else Tables.fixEventTs(raw)
      val w0 = build(stream).writeStream
        .format("memory").queryName(name).outputMode(mode)
      // always an EXPLICIT checkpoint on the scratch medium: with no
      // checkpointLocation Spark creates its temp checkpoint under
      // java.io.tmpdir — the disk-backed path the scratchDir exists
      // to avoid (one fsync'd offset+commit log write per batch)
      val ckptDir = ckpt.getOrElse(streamDir.resolve("_ckpt").toString)
      val q = w0.option("checkpointLocation", ckptDir).start()
      try q.processAllAvailable()
      finally q.stop()
      val sink = s.table(name)
      val rows = java.util.Arrays.asList(sink.collect(): _*)
      val out = s.createDataFrame(rows, sink.schema)
      s.catalog.dropTempView(name)
      out
    } finally {
      links.foreach(java.nio.file.Files.deleteIfExists(_))
      sweep(streamDir)
    }
  }

  /** Bounded-state EVIDENCE harness (spec-only): streams `events` as
    * `nFiles` TIME-CONTIGUOUS parquet files (ntile over ts, written in
    * order — so watermarks see in-order arrival and nothing is dropped
    * as late), one file per micro-batch through a noop sink, and
    * returns the per-micro-batch state-store row totals from the
    * query's progress events. This turns the Scaladoc claim
    * "watermark-bounded state" into a measured number: a watermarked
    * aggregation's total plateaus at the horizon while unbounded exact
    * dedup grows with every distinct key — asserted in the spec,
    * tabulated in PLANS.md. */
  private[graft] def stateRowsPerBatch(
      s: SparkSession, dir: String, nFiles: Int, mode: String = "append",
      groupSize: Int = 1)(
      build: DataFrame => DataFrame): Seq[Long] =
    streamProgress(s, dir, nFiles, mode, groupSize)(build)
      .filter(_.numInputRows > 0)
      .map(_.stateOperators.map(_.numRowsTotal).sum)

  /** Per-micro-batch rows dropped as late by the watermark — the
    * companion evidence stream to [[stateRowsPerBatch]] (a shuffled
    * within-batch arrival order must evict state WITHOUT discarding
    * data: the watermark only advances between batches). */
  private[graft] def lateDropsPerBatch(
      s: SparkSession, dir: String, nFiles: Int, mode: String = "append",
      groupSize: Int = 1)(
      build: DataFrame => DataFrame): Seq[Long] =
    streamProgress(s, dir, nFiles, mode, groupSize)(build)
      .filter(_.numInputRows > 0)
      .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)

  /** Shared runner behind the evidence helpers: stages `nFiles`
    * time-contiguous files and streams them `groupSize` per
    * micro-batch. With groupSize > 1 the files WITHIN each batch
    * group carry REVERSED modification times (FileStreamSource orders
    * by mtime), so a batch's files arrive anti-chronologically while
    * the groups themselves stay chronological — the realistic
    * multi-file-per-trigger layout (the r10 8-file gate exposed
    * discovery; this exercises ordering). Watermarks must be
    * indifferent: the watermark advances on the batch's MAX event
    * time, after the batch completes, so within-batch order can
    * neither drop rows as late nor change the eviction plateau
    * (asserted in the spec). */
  private def streamProgress(
      s: SparkSession, dir: String, nFiles: Int, mode: String,
      groupSize: Int)(
      build: DataFrame => DataFrame): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = withConf(s, StreamWidth) {
    val base = graft.GraftSession.scratchDir("graft_staged_")
    val watch = base.resolve("watch")
    java.nio.file.Files.createDirectory(watch)
    try {
      val ev = Tables.events(s, dir) // schema-cached scan (r18)
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
      // ONE staging job for all nFiles (was one coalesce(1) write per
      // file — nFiles job launches of pure scheduling overhead): the
      // hash repartition on bucket puts each bucket's rows in exactly
      // one task, so partitionBy(bucket) emits exactly one part file
      // per bucket directory
      val stageDir = base.resolve("stage").toString
      ev.withColumn("bucket", ntile(nFiles).over(w))
        .repartition(nFiles, col("bucket"))
        .write.partitionBy("bucket").parquet(stageDir)
      (1 to nFiles).foreach { b =>
        val part = stagedPartFile(stageDir, s"bucket=$b")
        val target = watch.resolve(f"ev_$b%02d.parquet")
        java.nio.file.Files.move(part.toPath, target)
        // FileStreamSource orders by modification time: group order
        // is the time order, but WITHIN a group the mtimes are
        // reversed so the files of one micro-batch arrive
        // anti-chronologically (groupSize == 1 degenerates to the
        // strictly-increasing single-file schedule)
        val g = (b - 1) / groupSize
        val posInGroup = (b - 1) % groupSize
        val slotsInGroup = math.min(groupSize, nFiles - g * groupSize)
        val slot = g * groupSize + (slotsInGroup - 1 - posInGroup)
        target.toFile.setLastModified(1000000000000L + slot * 60000L)
      }
      // the staged files carry ev's schema minus the partitionBy
      // column — no inference job needed (r18)
      val schema = org.apache.spark.sql.types.StructType(
        ev.schema.filterNot(_.name == "bucket"))
      val q = build(
          s.readStream.schema(schema)
            .option("maxFilesPerTrigger", groupSize.toString)
            .parquet(watch.toString))
        .writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        // ALL batches, including watermark-flush no-data batches —
        // rate/EOS accounting needs them; state-evidence callers
        // filter to data batches themselves
        q.recentProgress.toSeq
      } finally q.stop()
    } finally sweep(base)
  }

  // ---------------------------------------------------------------
  // CUSTOM DSv2 STREAMING SOURCE — the from-scratch
  // [[graft.sources.RangeMicroBatchStream]] read end-to-end: the id
  // grid arrives as deterministic micro-batches (`batchRows` ids per
  // trigger — a change feed/log cursor's shape), a stateful
  // complete-mode aggregation accumulates across them, and at
  // end-of-data the per-bucket totals must equal the batch-mode scan
  // of the same grid — source exhaustion, offset bookkeeping, and
  // cross-batch state composition gated value-for-value against
  // DuckDB's range(). n_batches rides along: exactly
  // ⌈range/batchRows⌉ data triggers (the rate_eos schedule
  // discipline, here for a source whose offsets WE define).
  private val SrcStreamEnd = 200000L
  private val SrcStreamBatch = 30000L

  def qSrcRangeStream(s: SparkSession, dir: String): DataFrame = withConf(s, StreamWidth) {
    val name = "graft_srcstream_" + UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", SrcStreamEnd.toString)
      .option("slices", "8").option("batchRows", SrcStreamBatch.toString)
      .load()
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .writeStream.format("memory").queryName(name).outputMode("complete")
      .start()
    val batches =
      try {
        q.processAllAvailable()
        q.recentProgress.count(_.numInputRows > 0).toLong
      } finally q.stop()
    val sink = s.table(name)
    val rows = java.util.Arrays.asList(sink.collect(): _*)
    val out = s.createDataFrame(rows, sink.schema)
    s.catalog.dropTempView(name)
    out.withColumn("n_batches", lit(batches)).orderBy(col("bucket"))
  }

  val qSrcRangeStreamSql: String = {
    val nBatches = (SrcStreamEnd + SrcStreamBatch - 1) / SrcStreamBatch
    s"""WITH r AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS v
       |  FROM range(0, $SrcStreamEnd) t(i))
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(v) AS BIGINT) AS sum_val,
       |  min(id) AS min_id, max(id) AS max_id,
       |  CAST($nBatches AS BIGINT) AS n_batches
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // CUSTOM DSv2 STREAMING WRITE — the fourth cell of the source/sink
  // capability matrix (batch read / micro-batch read / batch write /
  // STREAMING write): the range stream's 7 deterministic micro-
  // batches flow through `graft.sources.DirSink`'s epoch-committed
  // StreamingWrite — per-epoch staged task files, idempotent epoch
  // promotion (a replayed epoch after restart publishes nothing
  // twice), atomic manifest appends — and the gate aggregates the
  // BATCH READ-BACK of the sink directory against DuckDB's range()
  // closed form. Any lost epoch, double-committed epoch, or torn
  // manifest breaks the exact per-bucket integers; the committed
  // epoch count itself rides as `n_epochs` (file names carry the
  // (queryId, epoch) pair, so the manifest is its own evidence).
  // The idempotent-replay path is additionally unit-asserted in
  // DirSinkSpec (a re-commit of a published epoch must not promote).
  def qSrcRangeWriteStream(s: SparkSession, dir: String): DataFrame = withConf(s, StreamWidth) {
    val base = graft.GraftSession.scratchDir("graft_dirsink_stream_")
    val sink = base.resolve("table").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(sink))
    try {
      val q = s.readStream.format("graft.sources.RangeTableProvider")
        .option("start", "0").option("end", SrcStreamEnd.toString)
        .option("slices", "8").option("batchRows", SrcStreamBatch.toString)
        .load()
        .writeStream.format("graft.sources.DirSinkProvider")
        .option("path", sink)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
      // the epoch tag is the trailing "-e<epoch>-<i>.tsv" pair —
      // anchored at the END because the queryId before it is a UUID
      // whose hex groups can themselves match "-e<digits>-" (a
      // full-board run drew such a UUID and the unanchored parse
      // collapsed every file onto the same spurious "epoch")
      val epochs = graft.sources.DirSink.readManifest(sink)
        .map(_.files.flatMap(f =>
            "-e(\\d+)-\\d+\\.tsv$".r.findFirstMatchIn(f).map(_.group(1)))
          .distinct.size.toLong)
        .getOrElse(0L)
      val out = s.read.format("graft.sources.DirSinkProvider")
        .option("path", sink).load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .withColumn("n_epochs", lit(epochs))
        .orderBy(col("bucket"))
        .localCheckpoint(true) // sever lineage so the temp dir can go
      out
    } finally sweep(base)
  }

  // ---------------------------------------------------------------
  // STATE STORE READER — Spark 4's state data source
  // (`spark.read.format("statestore")`): the operational window into
  // a streaming query's checkpointed state, read back as a BATCH
  // table (key struct, value struct, partition_id). A stateful
  // (event_type, epoch-dow) aggregation runs to end-of-source with an
  // explicit checkpoint; the gate then reads the LAST batch's state
  // store and re-derives the aggregate FROM THE STATE — count and
  // integer user_id sum per key must equal the batch closed form,
  // and every key must occupy exactly one state row (n_rows gates
  // the dedup-by-key invariant of the store itself). This is how a
  // production pipeline debugs skewed/stuck state at 100 TB without
  // replaying the stream: the store is just another partitioned
  // table. The dow key derives from raw nanos by integer div/mod
  // (epoch day + 4 mod 7 — 1970-01-01 was a Thursday), so the state
  // key is exact-integer on both engines.
  def qStateReader(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.scratchDir("graft_state_rd_")
    val ckpt = base.resolve("ckpt").toString
    try {
      runBounded(s, dir, "update", ckpt = Some(ckpt)) { stream =>
        stream
          .withColumn("dow", expr("(unix_micros(ts) div 86400000000 + 4) % 7"))
          .groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"))
      }
      val st = s.read.format("statestore").load(ckpt)
      st.groupBy(col("key.event_type").as("event_type"), col("key.dow").as("dow"))
        .agg(count(lit(1)).as("n_state_rows"),
          sum(col("value.count")).as("state_count"),
          sum(col("value.sum")).as("state_sum"))
        .orderBy(col("event_type"), col("dow"))
        .localCheckpoint(true) // sever lineage so the ckpt dir can go
    } finally sweep(base)
  }

  val qStateReaderSql: String =
    """SELECT event_type,
      |  (epoch_ms(ts::TIMESTAMP) // 86400000 + 4) % 7 AS dow,
      |  CAST(1 AS BIGINT) AS n_state_rows,
      |  CAST(count(*) AS BIGINT) AS state_count,
      |  CAST(sum(user_id) AS BIGINT) AS state_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // transformWithState — Spark 4's arbitrary-state operator (the
  // successor to map/flatMapGroupsWithState): a [[StatefulProcessor]]
  // holding TWO typed state variables per user — a ValueState with
  // the running (n_events, sum_value) and a MapState keyed by
  // event_type with per-type counts — executed on the RocksDB state
  // store provider (the operator requires it; HDFS-backed stores
  // don't support the multi-variable column families). Update mode
  // emits the full derived row per key per batch; the final state per
  // user is selected by the monotone event count (the qStatefulCounts
  // discipline) and must equal the batch aggregate — which is the
  // oracle, including the deterministic top-type tiebreak
  // (count desc, type asc) computed FROM the MapState iterator.
  // At scale: state is keyed by user_id across shuffle partitions,
  // RocksDB spills to disk, and TTLConfig (NONE here — bounded
  // source) is where production retention plugs in.
  def qStreamTws(s: SparkSession, dir: String): DataFrame = withConf(s, RocksDb) {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val updated = runBounded(s, dir, "update", rawTs = true) { stream =>
      import s.implicits._
      stream.select(col("user_id"), col("event_type"), col("value"))
        .as[(Long, String, Double)]
        .groupByKey(_._1)
        .transformWithState(
          new TwsUserProfile(), TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "sum_value", "n_types", "top_type", "top_cnt")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    updated
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"),
        col("n_types"), col("top_type"), col("top_cnt"))
      .orderBy(col("user_id"))
  }

  val qStreamTwsSql: String =
    """WITH agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    round(sum(value), 2) AS sum_value,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |  FROM events GROUP BY 1),
      |tc AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
      |top AS (SELECT user_id, event_type AS top_type, CAST(c AS BIGINT) AS top_cnt,
      |    row_number() OVER (PARTITION BY user_id ORDER BY c DESC, event_type) AS rn
      |  FROM tc)
      |SELECT a.user_id, a.n_events, a.sum_value, a.n_types, t.top_type, t.top_cnt
      |FROM agg a JOIN top t ON a.user_id = t.user_id AND t.rn = 1
      |ORDER BY a.user_id""".stripMargin

  // ---------------------------------------------------------------
  // CLUSTERED STREAMING WRITE ACROSS AN INJECTED RESTART — composes
  // the two write-side contracts the sink proves separately:
  // idempotent epoch promotion (src_range_write_stream) and
  // RequiresDistributionAndOrdering (src_range_write_clustered),
  // under the failure mode that stresses both at once. Phase 1
  // streams 3 epochs into a cluster_by=bucket / write_partitions=4
  // sink and stops; the injected restart DELETES the checkpoint's
  // last epoch-commit marker, so the restarted query (a NEW runId →
  // a NEW write queryId) REPLAYS that epoch before draining the
  // remaining data. Exactly-once demands the sink recognize the
  // replayed epoch across the queryId change (the tail-anchored
  // epoch tag — a prefix check against the current queryId would
  // double-publish); the clustered contract demands every epoch
  // commit exactly write_partitions files (the hash exchange Spark
  // plans from requiredDistribution, per micro-batch). The gate
  // aggregates the read-back per bucket AND ships the manifest's own
  // evidence: distinct epoch count, total files, max files per epoch
  // — a double-published replay breaks the counts, a lost epoch
  // breaks the sums, an unclustered epoch breaks files_per_epoch.
  private val RstEnd = 120000L
  private val RstCut = 60000L
  private val RstBatch = 20000L
  private val RstWriteParts = 4

  def qSrcRangeStreamRestart(s: SparkSession, dir: String): DataFrame = withConf(s, StreamWidth) {
    val base = graft.GraftSession.scratchDir("graft_dirsink_restart_")
    val sink = base.resolve("table").toString
    val ckpt = base.resolve("ckpt").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(sink))
    def run(end: Long): Unit = {
      val q = s.readStream.format("graft.sources.RangeTableProvider")
        .option("start", "0").option("end", end.toString)
        .option("slices", "8").option("batchRows", RstBatch.toString)
        .load()
        .writeStream.format("graft.sources.DirSinkProvider")
        .option("path", sink)
        .option("cluster_by", "bucket").option("sort_by", "id")
        .option("write_partitions", RstWriteParts.toString)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    try {
      run(RstCut) // epochs 0..2 published
      // injected restart-replay: drop the LAST epoch's commit marker,
      // so the restarted query re-executes that epoch from its
      // checkpointed offsets before admitting new data
      val commits = java.nio.file.Paths.get(ckpt, "commits")
      val last = graft.sources.DirSink.listDirFiles(commits)
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .maxBy(_.getFileName.toString.toLong)
      java.nio.file.Files.delete(last)
      // the local-FS checkpoint manager shadows each commit file with
      // a .<name>.crc — drop it too, or the replayed epoch's re-commit
      // fails the atomic rename ("multiple streaming queries")
      java.nio.file.Files.deleteIfExists(
        last.resolveSibling("." + last.getFileName.toString + ".crc"))
      run(RstEnd) // replays the cut epoch, then drains to the full end
      val files = graft.sources.DirSink.readManifest(sink).map(_.files).getOrElse(Nil)
      val epochOf = files.flatMap(f =>
        "-e(\\d+)-\\d+\\.tsv$".r.findFirstMatchIn(f).map(_.group(1).toLong))
      val perEpoch = epochOf.groupBy(identity).map(_._2.size)
      val out = s.read.format("graft.sources.DirSinkProvider")
        .option("path", sink).load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .withColumn("n_epochs", lit(epochOf.distinct.size.toLong))
        .withColumn("n_files", lit(files.size.toLong))
        .withColumn("files_per_epoch_max",
          lit(if (perEpoch.isEmpty) 0L else perEpoch.max.toLong))
        .orderBy(col("bucket"))
        .localCheckpoint(true) // sever lineage so the temp dir can go
      out
    } finally sweep(base)
  }

  val qSrcRangeStreamRestartSql: String = {
    val nEpochs = (RstEnd + RstBatch - 1) / RstBatch
    s"""WITH r AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS v
       |  FROM range(0, $RstEnd) t(i))
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(v) AS BIGINT) AS sum_val,
       |  min(id) AS min_id, max(id) AS max_id,
       |  CAST($nEpochs AS BIGINT) AS n_epochs,
       |  CAST($nEpochs * $RstWriteParts AS BIGINT) AS n_files,
       |  CAST($RstWriteParts AS BIGINT) AS files_per_epoch_max
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // STREAMING ADMISSION CONTROL (SupportsAdmissionControl) — the
  // rate-limiting contract: the source DECLARES its pace
  // (getDefaultReadLimit = maxRows(batchRows)) and Spark calls
  // latestOffset(start, limit) to admit each micro-batch from the
  // checkpointed offset, stateless — the API that lets a backlogged
  // 100 TB source drain in bounded batches instead of one giant
  // catch-up batch. The gate observes the ACTUAL admitted batches
  // through foreachBatch: a grid deliberately NOT divisible by the
  // pace (173000 / 25000) must produce six full epochs and one
  // 23000-row remainder, each an exact id window — any double-admit,
  // skip, or mis-clamp breaks a row. Oracle = the closed-form
  // schedule.
  private val AdmEnd = 173000L
  private val AdmBatch = 25000L

  def qSrcRangeAdmission(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.scratchDir("graft_admission_")
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
    try {
      val q = s.readStream.format("graft.sources.RangeTableProvider")
        .option("start", "0").option("end", AdmEnd.toString)
        .option("slices", "8").option("batchRows", AdmBatch.toString)
        .load()
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: java.lang.Long) =>
          val r = df.agg(count(lit(1)), min(col("id")), max(col("id"))).first()
          if (r.getLong(0) > 0) acc.put(batchId, (r.getLong(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      import scala.jdk.CollectionConverters._
      import s.implicits._
      acc.asScala.toSeq.sortBy(_._1)
        .map { case (e, (n, mn, mx)) => (e, n, mn, mx) }
        .toDF("epoch", "n", "min_id", "max_id")
        .orderBy(col("epoch"))
    } finally sweep(base)
  }

  val qSrcRangeAdmissionSql: String = {
    val nBatches = (AdmEnd + AdmBatch - 1) / AdmBatch
    s"""SELECT e AS epoch,
       |  CAST(least($AdmBatch, $AdmEnd - e * $AdmBatch) AS BIGINT) AS n,
       |  e * $AdmBatch AS min_id,
       |  least($AdmEnd, (e + 1) * $AdmBatch) - 1 AS max_id
       |FROM (SELECT unnest(range($nBatches)) AS e)
       |ORDER BY e""".stripMargin
  }

  val qSrcRangeWriteStreamSql: String = {
    val nBatches = (SrcStreamEnd + SrcStreamBatch - 1) / SrcStreamBatch
    s"""WITH r AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS v
       |  FROM range(0, $SrcStreamEnd) t(i))
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(v) AS BIGINT) AS sum_val,
       |  min(id) AS min_id, max(id) AS max_id,
       |  CAST($nBatches AS BIGINT) AS n_epochs
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // CHECKPOINT RESTART RECOVERY — the fault-tolerance contract the
  // rest of the streaming family assumes, gated directly: a stateful
  // aggregation runs to end-of-available-data, the query STOPS, more
  // data lands, and a NEW query object restarts from the same
  // checkpoint. Exactly-once across the restart means (a) the final
  // per-user totals equal the batch aggregate over ALL data — the
  // run-1 state was recovered from the state store, not recomputed
  // or lost — and (b) run 2 consumed ONLY the new files (the offset
  // log, not a rescan): both gated, (a) as the per-user rows and (b)
  // as the run1_rows/run2_rows columns the oracle rebuilds from the
  // md5-bucket file schedule. This is the one streaming surface
  // stream_exactly_once (sink idempotency) does not cover — ENGINE
  // recovery. Two `Trigger.AvailableNow` phases over a shared
  // checkpoint are exactly the production restart (a stopped job
  // redeployed after new data arrived).
  def qStreamRestartRecovery(s: SparkSession, dir: String): DataFrame = withConf(s, StreamWidth) {
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.GraftSession.scratchDir("graft_restart_")
    val watch = base.resolve("watch")
    java.nio.file.Files.createDirectory(watch)
    val name = "graft_restart_" + UUID.randomUUID().toString.replace("-", "")
    try {
      install(s)
      // The aggregation is event-time-free (no watermark, complete
      // mode), so the 4-way file split needs NO time contiguity —
      // md5-bucket the event ids (the qSplit convention) instead of
      // the original ntile-over-ts, which planned the repo's last
      // full-table unpartitioned window (a single-task global sort;
      // the r13 verdict item). Hash buckets are exact and
      // embarrassingly parallel where a ts-quantile split would need
      // either approx percentiles (not oracle-reconstructible
      // bit-exactly) or an exact order statistic (a sort again); the
      // oracle rebuilds the same schedule from the same md5 rule.
      val ev = Tables.load(s, dir, "events") // schema-cached scan (r18)
      val staged = ev.withColumn("bucket",
        conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
          .cast("long") % 4)
      // one staging job per PHASE (not per file): hash repartition on
      // bucket → exactly one part file per bucket dir (the
      // streamProgress staging discipline)
      def stagePhase(phase: Int, buckets: Seq[Int]): Unit = {
        val stageDir = base.resolve(s"stage_p$phase").toString
        staged.filter(col("bucket").isin(buckets.map(b => (b - 1).toLong): _*))
          .repartition(buckets.length, col("bucket"))
          .write.partitionBy("bucket").parquet(stageDir)
        buckets.foreach { b =>
          val part = stagedPartFile(stageDir, s"bucket=${b - 1}")
          val target = watch.resolve(f"ev_$b%02d.parquet")
          java.nio.file.Files.move(part.toPath, target)
          target.toFile.setLastModified(1000000000000L + b * 60000L)
        }
      }
      stagePhase(1, Seq(1, 2))
      // staged files carry ev's schema minus the partitionBy column —
      // no inference job (r18)
      val schema = org.apache.spark.sql.types.StructType(
        staged.schema.filterNot(_.name == "bucket"))
      def runPhase(maxFilesPerTrigger: Option[Int]): Long = {
        // phase 1 keeps maxFilesPerTrigger=1 so its checkpoint commits
        // a MULTI-ENTRY offset log — the restart then provably resumes
        // from a mid-schedule offset history, not a single-batch one
        // (the r16 ADVICE coverage note: an AvailableNow-only phase 1
        // commits one batch and the recovery gate stops exercising
        // multi-batch resume). Phase 2 drains in one AvailableNow
        // batch — rate-limited consumption is stream_rate_eos's gate —
        // and the gated run totals are schedule-independent either way.
        val reader0 = s.readStream.schema(schema)
        val reader = maxFilesPerTrigger
          .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
        val q = reader
          .parquet(watch.toString)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            coalesce(sum(expr("cast(round(value * 100) as long)")), lit(0L))
              .as("cents"))
          .writeStream.format("memory").queryName(name).outputMode("complete")
          .option("checkpointLocation", base.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
        try {
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        } finally q.stop()
      }
      val run1 = runPhase(maxFilesPerTrigger = Some(1))
      s.catalog.dropTempView(name) // phase 2 re-registers the sink view
      stagePhase(2, Seq(3, 4))
      val run2 = runPhase(maxFilesPerTrigger = None)
      val sink = s.table(name)
      val rows = java.util.Arrays.asList(sink.collect(): _*)
      val out = s.createDataFrame(rows, sink.schema)
      s.catalog.dropTempView(name)
      out
        .withColumn("run1_rows", lit(run1))
        .withColumn("run2_rows", lit(run2))
        .orderBy(col("user_id"))
    } finally sweep(base)
  }

  val qStreamRestartRecoverySql: String =
    """WITH e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS vc,
      |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS f
      |  FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(coalesce(sum(vc), 0) AS BIGINT) AS cents,
      |  (SELECT CAST(count(*) AS BIGINT) FROM e WHERE f <= 1) AS run1_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM e WHERE f > 1) AS run2_rows
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // RATE-LIMITED CONSUMPTION + END-OF-STREAM ACCOUNTING — the
  // micro-batch schedule itself as a gated table: 6 time-contiguous
  // files consumed 2 per trigger (`maxFilesPerTrigger`, the file
  // source's rate limit) under a 1-hour watermark and 1-day tumbling
  // windows in APPEND mode. Each emitted row is one micro-batch —
  // including the engine's no-data FLUSH batch at end-of-stream (the
  // one that advances the watermark past the last data and drains
  // eligible state) — carrying (rows consumed, the watermark the
  // batch ran under, rows emitted). Every value is closed-form from
  // the file schedule, so the DuckDB oracle rebuilds the whole
  // account: batch b's input is ntile buckets {2b+1, 2b+2}; its
  // watermark is max ts of the PRIOR batches − 1h (the engine
  // advances watermarks between batches, never within); append
  // emits exactly the (day, event_type) windows whose end lands in
  // (wm_{b−1}, wm_b] — time-contiguous arrival means those windows
  // are complete when they emit, so the batch-side window counts
  // ARE the full-corpus groups. The withheld tail (windows past the
  // final watermark) is the gated difference between the group
  // total and Σ emitted — the emission-boundary discipline
  // (CLAUDE.md: gate the boundary, never fake complete mode).
  def qStreamRateEos(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val prog = streamProgress(s, dir, nFiles = 6, mode = "append", groupSize = 2) {
      stream =>
        stream.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"))
    }
    def wmUs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long = {
      val iso = p.eventTime.get("watermark")
      if (iso == null) 0L
      else {
        val inst = java.time.Instant.parse(iso)
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      }
    }
    val rows = prog.zipWithIndex.map { case (p, i) =>
      org.apache.spark.sql.Row(i.toLong, p.numInputRows,
        wmUs(p), p.sink.numOutputRows)
    }
    val schema = StructType(Seq(
      StructField("batch_idx", LongType), StructField("n_input", LongType),
      StructField("wm_us", LongType), StructField("n_emitted", LongType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(col("batch_idx"))
  }

  val qStreamRateEosSql: String =
    """WITH e AS (SELECT ts::TIMESTAMP AS ts, event_type FROM events),
      |b AS (SELECT ts, event_type,
      |  CAST((ntile(6) OVER (ORDER BY ts) - 1) // 2 AS BIGINT) AS batch FROM e),
      |mi AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_input, max(ts) AS mts
      |  FROM b GROUP BY 1),
      |sched AS (
      |  -- the engine's watermark clock is MILLISECOND-granular
      |  -- (event-time stats truncate to ms before the delay
      |  -- subtraction), hence epoch_ms, not epoch_us
      |  SELECT batch, n_input,
      |    coalesce((epoch_ms(max(mts) OVER (ORDER BY batch
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) - 3600000) * 1000, 0) AS wm_us
      |  FROM mi
      |  UNION ALL
      |  SELECT 3, 0, (SELECT (epoch_ms(max(ts)) - 3600000) * 1000 FROM e)),
      |sc AS (SELECT batch, n_input, wm_us,
      |  coalesce(lag(wm_us) OVER (ORDER BY batch), -1) AS wm_prev FROM sched),
      |w AS (SELECT time_bucket(INTERVAL 1 DAY, ts) AS ws, event_type
      |  FROM e GROUP BY 1, 2),
      |we AS (SELECT epoch_us(ws + INTERVAL 1 DAY) AS endus FROM w)
      |SELECT sc.batch AS batch_idx, sc.n_input, sc.wm_us,
      |  (SELECT CAST(count(*) AS BIGINT) FROM we
      |    WHERE endus <= sc.wm_us AND endus > sc.wm_prev) AS n_emitted
      |FROM sc ORDER BY batch_idx""".stripMargin

  // ---------------------------------------------------------------
  // Tumbling 1-hour windows per event_type, streamed end-to-end.
  def qWindowAgg(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "complete") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    }
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val qWindowAggSql: String =
    """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // Custom streaming state: per-user running (count, sum) maintained
  // in mapGroupsWithState — the arbitrary-state API a pipeline uses
  // when built-in aggregations can't express the state machine. Each
  // micro-batch emits the group's updated state (update mode); the
  // final state per user must equal the batch aggregate, which is the
  // oracle. State is one (long, double) per user.
  def qStatefulCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val updated = runBounded(s, dir, "update", rawTs = true) { stream =>
      import s.implicits._
      stream.select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Double)],
           state: org.apache.spark.sql.streaming.GroupState[(Long, Double)]) =>
            var (n, sum) = state.getOption.getOrElse((0L, 0.0))
            rows.foreach { case (_, v) => n += 1; sum += v }
            state.update((n, sum))
            (user, n, sum)
        }
        .toDF("user_id", "n_events", "sum_value")
    }
    // multiple micro-batches emit successive states; the final state
    // per user is the row with the highest count
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    updated
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val qStatefulCountsSql: String =
    """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // Stream-stream join: purchases joined to same-user clicks in the
  // preceding hour, both sides watermarked so the join state is
  // bounded (clicks older than purchase-watermark - 1h are evicted).
  // Inner time-interval join emits matches as they form; on the
  // bounded source the result equals the batch interval join, which
  // is the oracle.
  def qStreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append") { stream =>
      def side(tpe: String, prefix: String) =
        stream
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "1 hour")
      side("purchase", "p").join(side("click", "c"),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
    }
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy(col("p_id"), col("c_id"))

  val qStreamStreamJoinSql: String =
    """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events)
      |SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
      |  date_diff('microsecond', c.ts, p.ts) AS gap_us
      |FROM ev p JOIN ev c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND p.user_id = c.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |ORDER BY p_id, c_id""".stripMargin

  // ---------------------------------------------------------------
  // Streaming exact dedup — the ingest-time "have we seen this
  // content before" stage of a training pipeline, as streaming
  // dropDuplicates on a content hash (md5 of the payload). Only the
  // key column is emitted, so the result is the distinct key SET —
  // deterministic regardless of which arrival "won" — and equals the
  // batch DISTINCT, the oracle. State is one entry per distinct hash;
  // unbounded by design for EXACT global dedup (at 100 TB that state
  // lives in RocksDB, or becomes dropDuplicatesWithinWatermark when
  // duplicates are known to arrive within a bounded delay).
  def qStreamDedup(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append", rawTs = true) { stream =>
      stream
        .select(md5(col("props")).as("content_h"))
        .dropDuplicates("content_h")
    }
      .orderBy(col("content_h")) // the emitted rows ARE the distinct set

  val qStreamDedupSql: String =
    """SELECT DISTINCT md5(props) AS content_h
      |FROM events ORDER BY content_h""".stripMargin

  // ---------------------------------------------------------------
  // Bounded-state streaming dedup — dropDuplicatesWithinWatermark,
  // the scale alternative the qStreamDedup Scaladoc names: state for
  // a key is evicted once the watermark passes its event time + delay,
  // so the store holds only the dedup HORIZON, not all history. The
  // result equals batch DISTINCT exactly when every duplicate arrives
  // within the delay of its first occurrence — here the delay (31
  // days) covers the measured max duplicate gap in `events` (~30
  // days, the full table span), so the gate is a true equality; in
  // production the delay is the known duplicate-arrival bound (e.g.
  // an ingest retry window), which is what makes this the 100 TB
  // shape. Only the key column is emitted (first arrival per key), so
  // the result is the deterministic distinct key set.
  def qStreamDedupWatermarked(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append") { stream =>
      stream
        .select(col("ts"), md5(col("props")).as("content_h"))
        .withWatermark("ts", "31 days")
        .dropDuplicatesWithinWatermark("content_h")
        .select(col("content_h"))
    }
      .orderBy(col("content_h"))

  val qStreamDedupWatermarkedSql: String = qStreamDedupSql

  // ---------------------------------------------------------------
  // Streaming SESSION windows — the stateful gap-merge aggregation
  // (sessions extend/merge as events arrive; the state store holds
  // open sessions per user, closed by the watermark). Complete mode
  // on the bounded source re-emits all sessions each micro-batch, so
  // the final table equals the batch session_window aggregation —
  // the oracle is the identical lag+cumsum SQL used by the batch
  // twin (`session_window` in Temporal), closing the loop
  // batch ≡ stream for session semantics too.
  def qStreamSessionWindow(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "complete") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"))
    }
      .select(col("user_id"), col("session_start"), col("n_events"), col("duration_us"))
      .orderBy(col("user_id"), col("session_start"))

  val qStreamSessionWindowSql: String = graft.operators.Temporal.qSessionWindowSql

  // ---------------------------------------------------------------
  // Stream-STATIC join — enrichment at ingest: the event stream joins
  // a static dimension (customer → market segment) as each
  // micro-batch arrives, then aggregates per segment. The static side
  // is stateless for the stream (no watermark, no join state — every
  // batch probes the same broadcast dimension), which is why this is
  // THE pattern for attaching reference data at 100 TB/day ingest
  // rates: dimension updates just swap the static side between
  // restarts. Final result ≡ the batch join+agg, which is the oracle.
  def qStreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
    runBounded(s, dir, "complete", rawTs = true) { stream =>
      stream.select(col("user_id"), col("event_type"), col("value"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    }
      .select(col("c_mktsegment").as("mktsegment"), col("event_type"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy(col("mktsegment"), col("event_type"))
  }

  val qStreamStaticJoinSql: String =
    """SELECT c_mktsegment AS mktsegment, event_type,
      |  count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY mktsegment, event_type ORDER BY mktsegment, event_type""".stripMargin

  // ---------------------------------------------------------------
  // Streaming PIPELINE — the e2e composition a 100 TB/day ingest
  // actually runs, as ONE streaming query with CHAINED STATEFUL
  // operators (Spark 3.5+ append-mode support): quality filter
  // (stateless) → watermarked dedup on (user, type, hour) — the 1 h
  // delay covers any same-key spread inside an hour bucket, so the
  // bounded result equals a batch DISTINCT — → tumbling-window
  // distinct-user counts. Append mode only finalizes windows the
  // watermark has passed, so the last hour of data legitimately
  // stays in state at end-of-stream; the oracle states exactly that
  // (windows with end ≤ max(ts) − 1 h), gating the real emission
  // semantics instead of papering over them with complete mode.
  private val PipelineQualityMin = 1.0

  def qStreamPipeline(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .filter(col("value") >= PipelineQualityMin)
        .withColumn("hr", date_trunc("hour", col("ts")))
        .dropDuplicatesWithinWatermark("user_id", "event_type", "hr")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_users"))
    }
      .orderBy(col("window_start"), col("event_type"))

  val qStreamPipelineSql: String =
    s"""WITH allev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
       |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM allev),
       |ev AS (SELECT * FROM allev WHERE value >= $PipelineQualityMin),
       |d AS (SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr FROM ev),
       |agg AS (SELECT hr, event_type, count(*) AS n_users FROM d GROUP BY hr, event_type)
       |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n_users
       |FROM agg, wm WHERE hr + INTERVAL 1 HOUR <= w
       |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // EXACTLY-ONCE SINK — the missing piece of the streaming story
  // (source → state → SINK): Structured Streaming guarantees
  // at-least-once delivery to foreachBatch; end-to-end exactly-once
  // is the SINK's job, via an idempotent apply. This query runs the
  // canonical production pattern: each micro-batch's per-user partial
  // (exact integer cents — order-free across batches) MERGEs into a
  // keyed target table guarded by a per-key applied-batch watermark
  // (`last_batch`), the same full-outer-join merge shape as
  // [[Maintenance.qMergeUpsert]]. A batch re-delivered after a
  // failure hits `last_batch >= batchId` on every key and the merge
  // is a no-op.
  //
  // The gate SIMULATES the failure: after the stream completes, the
  // final micro-batch is re-applied verbatim (sink committed,
  // checkpoint didn't advance, restart re-delivers — the exact
  // at-least-once window), and `replay_noop` gates that the table
  // didn't move; the per-user totals gate against the batch oracle,
  // so double-counting OR under-counting zeroes the row. Events
  // arrive as 4 single-file micro-batches (maxFilesPerTrigger=1), so
  // the accumulation genuinely crosses 4 merges (`batches_applied`).
  //
  // Scale shape: the merge is one equi-join per batch on the key —
  // at 100 TB the target is a bucketed/partitioned table and the
  // batch partial is tiny (pre-aggregated map-side before the sink);
  // versioned-path writes stand in for a table format's atomic
  // commit. The per-batch partial is PERSISTED as parquet and merged
  // distributed (the [[graft.operators.Maintenance.qMergeUpsert]]
  // full-outer-join shape); the driver holds only PATHS and the
  // batch-id watermark — nothing key-cardinality-sized — so the sink
  // scales to real user cardinality. The persisted final partial is
  // also what the replay gate re-delivers verbatim.
  def qStreamExactlyOnce(s: SparkSession, dir: String): DataFrame = withConf(s, StreamWidth) {
    import org.apache.hadoop.fs.Path
    val base = graft.GraftSession.warehouseRoot(s) + s"/stream_eos"
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    // 3 single-file batches out of the one test parquet (3 is the
    // smallest count that still exercises first-batch create +
    // repeated merge + a non-adjacent replay; each extra batch is
    // ~3 jobs of pure scheduling overhead on the bench wall)
    install(s)
    val srcDir = s"$base/src"
    val srcSel = Tables.load(s, dir, "events") // schema-cached scan (r18)
      .select(col("user_id"), col("value"))
    srcSel.repartition(3).write.parquet(srcDir)
    val schema = srcSel.schema // what the write just produced

    // versioned-path target: each apply reads version N and writes
    // N+1 (never its own input — the read-then-overwrite trap)
    var curPath: Option[String] = None
    var applySeq = 0
    def applyBatch(partial: DataFrame, batchId: Long): Unit = {
      // p_cents is NULL for a batch where the user's events all have
      // NULL value (sum over an all-NULL group) — the oracle's
      // whole-table sum SKIPS those, so the merge must treat the
      // partial as 0, never poison the running total with NULL
      val next = curPath match {
        case None =>
          partial.select(col("p_uid").as("user_id"), col("p_n").as("n_events"),
            coalesce(col("p_cents"), lit(0L)).as("sum_cents"),
            lit(batchId).as("last_batch"))
        case Some(p) =>
          val fresh = col("p_uid").isNotNull &&
            (col("user_id").isNull || col("last_batch") < lit(batchId))
          s.read.parquet(p)
            .join(partial, col("user_id") === col("p_uid"), "full_outer")
            .select(
              coalesce(col("user_id"), col("p_uid")).as("user_id"),
              when(fresh, coalesce(col("n_events"), lit(0L)) + col("p_n"))
                .otherwise(col("n_events")).as("n_events"),
              when(fresh, coalesce(col("sum_cents"), lit(0L)) +
                  coalesce(col("p_cents"), lit(0L)))
                .otherwise(col("sum_cents")).as("sum_cents"),
              when(fresh, lit(batchId)).otherwise(col("last_batch")).as("last_batch"))
      }
      val out = s"$base/target_v$applySeq"
      next.write.mode("overwrite").parquet(out)
      applySeq += 1
      curPath = Some(out)
    }

    // per-batch partials persist as parquet (a distributed write —
    // never a driver collect); only their PATHS live on the driver
    var lastPartialPath: Option[String] = None
    var lastBatchId = -1L
    var batchesApplied = 0

    val q = s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        val pPath = s"$base/partial_b$batchId"
        batchDf
          .groupBy(col("user_id").as("p_uid"))
          .agg(count(lit(1)).as("p_n"),
            sum(floor(col("value") * 100).cast("long")).as("p_cents"))
          .write.mode("overwrite").parquet(pPath)
        val partial = s.read.parquet(pPath)
        if (!partial.isEmpty) {
          applyBatch(partial, batchId)
          lastPartialPath = Some(pPath)
          lastBatchId = batchId
          batchesApplied += 1
        }
      }
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable()
    finally q.stop()

    // the accumulation gate depends on repartition(4) having yielded
    // 4 non-empty source files; state that dependence explicitly
    // rather than letting a shortfall surface as a bare hash
    // mismatch. Count files WITH ROWS (a 0-row part file still has
    // a parquet footer, so file length cannot distinguish them)
    val srcFilesWithRows = s.read.parquet(srcDir)
      .select(input_file_name()).distinct().count()
    require(batchesApplied == srcFilesWithRows,
      s"exactly-once gate: $srcFilesWithRows non-empty source files " +
        s"but $batchesApplied batches applied")

    curPath match {
      case None =>
        // all micro-batches empty: an empty gated frame, not an NPE
        s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_events", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_cents", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("batches_applied", org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("replay_noop", org.apache.spark.sql.types.BooleanType, nullable = false))))
      case Some(preReplay) =>
        // failure simulation: re-deliver the final batch verbatim from
        // its persisted parquet; the per-key last_batch guard must
        // make the merge a no-op
        applyBatch(s.read.parquet(lastPartialPath.get), lastBatchId)
        val pre = s.read.parquet(preReplay)
        val post = s.read.parquet(curPath.get)
        val noop = pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty

        post.select(col("user_id"), col("n_events"), col("sum_cents"),
            lit(batchesApplied).as("batches_applied"), lit(noop).as("replay_noop"))
          .orderBy(col("user_id"))
    }
  }

  val qStreamExactlyOnceSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  CAST(COALESCE(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS sum_cents,
      |  3 AS batches_applied, TRUE AS replay_noop
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // STREAMING AS-OF ENRICHMENT — point-in-time correctness at ingest:
  // each event joins the dimension VERSION that was effective at the
  // event's event time (SCD-2 semantics), not the version current at
  // processing time — the difference between a training set with and
  // without feature leakage. The versioned dim here is synthesized
  // deterministically (per-user tier, three validity epochs over the
  // corpus span) so the oracle can state the identical point-in-time
  // join; in production it is the SCD-2 dim table itself.
  //
  // Spark-first shape: because validity intervals partition time,
  // each event matches EXACTLY one version, so the as-of lookup is a
  // plain INNER stream-static join on (key, interval-contains) —
  // stateless, so it gates in true append mode with no watermark and
  // holds no state store; the tiny dim broadcasts to every
  // micro-batch. Contrast with the batch twin
  // ([[graft.operators.Temporal.qAsofJoin]]) which needs the
  // union+running-max window because its left side is unbounded per
  // key. All boundary arithmetic is exact integer µs; the version
  // cuts use integer div on non-negative spans (truncate ≡ floor).
  /** The as-of enrich transform over an event stream — exposed to the
    * spec so [[stateRowsPerBatch]] can assert the stream-static join
    * holds ZERO state-store rows (the bounded-state claim, measured). */
  private[graft] def asofEnrichTransform(s: SparkSession, dir: String)(
      stream: DataFrame): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // corpus span → three validity epochs: a 1-row metadata agg (at
    // scale the dim store publishes its own validity boundaries)
    val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).first()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val c1 = lo + (hi - lo) / 3
    val c2 = lo + 2 * ((hi - lo) / 3)
    val versions = Seq((0L, lo, c1), (1L, c1, c2), (2L, c2, hi + 1))
      .toDF("tier_version", "vfrom", "vto")
    val dim = ev.select(col("user_id").as("d_uid")).distinct()
      .crossJoin(versions)
      .withColumn("tier", (col("d_uid") * 7 + col("tier_version") * 13) % 5)
    stream.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("event_ts_us"))
      .join(broadcast(dim),
        col("user_id") === col("d_uid") &&
          col("event_ts_us") >= col("vfrom") && col("event_ts_us") < col("vto"))
      .select(col("event_id"), col("user_id"), col("event_ts_us"),
        col("tier_version"), col("tier"))
  }

  def qStreamAsofEnrich(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append")(asofEnrichTransform(s, dir))
      .orderBy(col("event_id"))

  val qStreamAsofEnrichSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ev),
      |cuts AS (SELECT lo, hi, lo + (hi - lo) // 3 AS c1, lo + 2 * ((hi - lo) // 3) AS c2 FROM b),
      |vers AS (SELECT 0 AS tier_version, lo AS vfrom, c1 AS vto FROM cuts
      |  UNION ALL SELECT 1, c1, c2 FROM cuts
      |  UNION ALL SELECT 2, c2, hi + 1 FROM cuts),
      |dim AS (SELECT u.user_id AS d_uid, v.tier_version, v.vfrom, v.vto,
      |  (u.user_id * 7 + v.tier_version * 13) % 5 AS tier
      |  FROM (SELECT DISTINCT user_id FROM events) u, vers v)
      |SELECT e.event_id, e.user_id, CAST(e.ts_us AS BIGINT) AS event_ts_us,
      |  CAST(d.tier_version AS BIGINT) AS tier_version, CAST(d.tier AS BIGINT) AS tier
      |FROM ev e JOIN dim d ON e.user_id = d.d_uid
      |  AND e.ts_us >= d.vfrom AND e.ts_us < d.vto
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // STREAMING HEAVY HITTERS — the live top-k monitor every ingest
  // dashboard runs: per closed hour window, the 3 most frequent
  // event types. The STREAMING stage is the watermarked windowed
  // count (append mode — only watermark-closed windows emit, the
  // stream_pipeline emission-boundary discipline); the top-k rank is
  // batch post-processing on the emitted (window, type, count) rows,
  // because Structured Streaming forbids a rank window after a
  // streaming agg — exactly how production does it (the sink table
  // is tiny: windows × types, not events). Deterministic rank:
  // count DESC, event_type ASC.
  def qStreamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val agg = runBounded(s, dir, "append") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy(col("window_start"), col("rank"))
  }

  val qStreamHeavyHittersSql: String =
    """WITH allev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM allev),
      |agg AS (SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n_events
      |  FROM allev GROUP BY 1, 2),
      |closed AS (SELECT hr, event_type, CAST(n_events AS BIGINT) AS n_events
      |  FROM agg, wm WHERE hr + INTERVAL 1 HOUR <= w),
      |r AS (SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n_events,
      |  ROW_NUMBER() OVER (PARTITION BY hr ORDER BY n_events DESC, event_type) AS rank
      |  FROM closed)
      |SELECT window_start, event_type, n_events, rank FROM r WHERE rank <= 3
      |ORDER BY window_start, rank""".stripMargin

  // ---------------------------------------------------------------
  // SESSION CLOSURE via flatMapGroupsWithState — the ARBITRARY-state
  // API with data-driven emission (mapGroupsWithState must emit
  // exactly one row per group per batch; flatMap emits ZERO OR MORE,
  // which is what session closure needs: nothing while a session is
  // open, the completed session when its successor arrives). State
  // per user is the open session (start, last, n); an incoming event
  // either extends it (gap ≤ 30 min) or CLOSES it — emitting the
  // finished session downstream in append mode — and opens the next.
  // A user's final session stays in state forever (no successor), so
  // the bounded gate states exactly that: every session except each
  // user's last — honest emission semantics, like stream_pipeline's
  // watermark boundary, not a complete-mode fake. Events inside a
  // batch sort by (ts, event_id) in the function; state carries
  // across micro-batches. Exact integer µs arithmetic throughout.
  /** The session-closure state machine — exposed to the spec so
    * [[stateRowsPerBatch]] can assert state is USER-bounded (exactly
    * one open session per user ever seen, never event-bounded). */
  private[graft] def sessionFlatmapTransform(s: SparkSession)(
      stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    // event time as exact integer µs (fixEventTs ran; UTC session)
    stream.select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          val closed = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
          var open = state.getOption // (start, last, n)
          sorted.foreach { case (_, ts, _) =>
            open match {
              case Some((st, last, n)) if ts - last <= SessionGapUs =>
                open = Some((st, ts, n + 1))
              case Some((st, last, n)) =>
                closed += ((user, st, n, last - st))
                open = Some((ts, ts, 1L))
              case None =>
                open = Some((ts, ts, 1L))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
      .toDF("user_id", "start_us", "n_events", "duration_us")
  }

  def qStreamSessionFlatmap(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append")(sessionFlatmapTransform(s))
      .orderBy(col("user_id"), col("start_us"))

  private val SessionGapUs = 1800000000L // 30 min, matches Temporal.qSessionize

  val qStreamSessionFlatmapSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts FROM events),
       |g AS (SELECT user_id, event_id, ts,
       |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > $SessionGapUs
       |       THEN 1 ELSE 0 END AS is_new
       |  FROM ev),
       |sx AS (SELECT user_id, ts,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM g),
       |sess AS (SELECT user_id, session_idx,
       |  CAST(min(ts) AS BIGINT) AS start_us,
       |  count(*) AS n_events,
       |  CAST(max(ts) - min(ts) AS BIGINT) AS duration_us
       |  FROM sx GROUP BY user_id, session_idx),
       |mx AS (SELECT user_id, max(session_idx) AS last_idx FROM sess GROUP BY user_id)
       |SELECT s.user_id, s.start_us, s.n_events, s.duration_us
       |FROM sess s JOIN mx ON s.user_id = mx.user_id
       |WHERE s.session_idx < mx.last_idx
       |ORDER BY s.user_id, s.start_us""".stripMargin

  // ---------------------------------------------------------------
  // SESSION CLOSURE via EVENT-TIME TIMEOUT — the one arbitrary-state
  // surface [[qStreamSessionFlatmap]] leaves open: its final session
  // per user sits in state forever because closure is purely
  // data-driven (needs a successor event). GroupStateTimeout
  // .EventTimeTimeout is how a real pipeline drains those: every
  // state update arms `setTimeoutTimestamp(last + gap)`, and when
  // the WATERMARK passes that mark Spark re-invokes the function
  // with `state.hasTimedOut` — no successor needed — in the no-data
  // watermark-flush batch (the stream_rate_eos boundary machinery).
  // Emitted rows carry which path closed them (`closed_by`), so the
  // gate checks BOTH: successor-closed sessions exactly as the
  // flatmap query, plus timeout-closed finals exactly where
  // (last + gap) as ms < final watermark — and, just as honestly,
  // the NON-emission of finals still inside the watermark horizon.
  // Watermark reconstruction is ms-granular (event-time stats
  // truncate to ms before the delay subtraction — CLAUDE.md), and
  // GroupState timeouts are themselves ms timestamps, so both
  // engines compare floor(µs/1000) integers: bit-exact.
  private val SessionWmDelayMs = 3600000L // 1 hour watermark delay

  private[graft] def sessionTimeoutTransform(s: SparkSession)(
      stream: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    stream
      .withWatermark("ts", "1 hour")
      // the watermarked `ts` attribute must SURVIVE into the stateful
      // operator's input (projecting it away strips the watermark and
      // EventTimeTimeout refuses to plan); ts_us rides beside it
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed (last + gap): drain the open session
            val (st, last, n) = state.get
            state.remove()
            Iterator.single((user, st, n, last - st, "timeout"))
          } else {
            val sorted = rows.toArray.sortBy(r => (r._2, r._3))
            val closed =
              scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, String)]()
            var open = state.getOption // (start, last, n)
            sorted.foreach { case (_, ts, _, _) =>
              open match {
                case Some((st, last, n)) if ts - last <= SessionGapUs =>
                  open = Some((st, ts, n + 1))
                case Some((st, last, n)) =>
                  closed += ((user, st, n, last - st, "succ"))
                  open = Some((ts, ts, 1L))
                case None =>
                  open = Some((ts, ts, 1L))
              }
            }
            open.foreach { o =>
              state.update(o)
              // GroupState timeouts are MILLISECOND timestamps: arm at
              // floor((last+gap)/1000) — the oracle compares the same
              // floored integer against the reconstructed watermark
              state.setTimeoutTimestamp((o._2 + SessionGapUs) / 1000L)
            }
            closed.iterator
          }
      }
      .toDF("user_id", "start_us", "n_events", "duration_us", "closed_by")
  }

  def qStreamSessionTimeout(s: SparkSession, dir: String): DataFrame =
    runBounded(s, dir, "append")(sessionTimeoutTransform(s))
      .orderBy(col("user_id"), col("start_us"))

  val qStreamSessionTimeoutSql: String =
    s"""WITH ev AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts FROM events),
       |g AS (SELECT user_id, event_id, ts,
       |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
       |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > $SessionGapUs
       |       THEN 1 ELSE 0 END AS is_new
       |  FROM ev),
       |sx AS (SELECT user_id, ts,
       |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM g),
       |sess AS (SELECT user_id, session_idx,
       |  CAST(min(ts) AS BIGINT) AS start_us,
       |  count(*) AS n_events,
       |  CAST(max(ts) AS BIGINT) AS end_us
       |  FROM sx GROUP BY user_id, session_idx),
       |mx AS (SELECT user_id, max(session_idx) AS last_idx FROM sess GROUP BY user_id),
       |wm AS (SELECT max(ts) // 1000 - $SessionWmDelayMs AS wm_ms FROM ev)
       |SELECT s.user_id, s.start_us, s.n_events,
       |  CAST(s.end_us - s.start_us AS BIGINT) AS duration_us,
       |  CASE WHEN s.session_idx < mx.last_idx THEN 'succ' ELSE 'timeout' END AS closed_by
       |FROM sess s JOIN mx ON s.user_id = mx.user_id, wm
       |WHERE s.session_idx < mx.last_idx
       |   OR (s.end_us + $SessionGapUs) // 1000 < wm.wm_ms
       |ORDER BY s.user_id, s.start_us""".stripMargin

  // ---------------------------------------------------------------
  // transformWithState EVENT-TIME TIMERS — the timer half of the
  // Spark 4 arbitrary-state API ([[qStreamTws]] covers the state
  // variables): the SAME session semantics as
  // [[qStreamSessionTimeout]], re-expressed as a StatefulProcessor
  // on TimeMode.EventTime — every state update re-arms a REGISTERED
  // TIMER at (last + gap) ms (deleting the stale one first — tws
  // timers are multi-shot, an un-deleted old timer would fire a
  // phantom close), and `handleExpiredTimer` drains the open session
  // when the watermark passes the mark. Gated against the identical
  // closed-form oracle as the GroupState version: successor-closed
  // sessions plus timeout-closed finals strictly inside the final
  // ms-granular watermark — proving the two state APIs implement the
  // same timer contract. Runs on the RocksDB provider (required by
  // transformWithState).
  def qStreamTwsTimers(s: SparkSession, dir: String): DataFrame = withConf(s, RocksDb) {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    runBounded(s, dir, "append") { stream =>
      import s.implicits._
      stream
        .withWatermark("ts", "1 hour")
        // the watermarked ts attribute must survive into the
        // operator's direct input (the EventTimeTimeout lesson)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("ts"))
        .as[(Long, Long, Long, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new TwsSessionizer(SessionGapUs), TimeMode.EventTime(), OutputMode.Append())
        .toDF("user_id", "start_us", "n_events", "duration_us", "closed_by")
    }.orderBy(col("user_id"), col("start_us"))
  }

  // ---------------------------------------------------------------
  // STREAMING DRIFT MONITOR — [[graft.operators.Temporal.qDrift]]'s
  // chi-square statistic composed into the streaming surface, per
  // CLOSED hour window: the watermarked windowed count (append mode —
  // only watermark-closed windows emit, the stream_pipeline boundary
  // discipline) produces the live (hour, type) counts; the batch
  // post-stage grids them against the closed-set global mix
  // (reference = all closed hours pooled) and emits each hour×type's
  // exact integer chi-square contribution. An hour missing a type
  // contributes through the Laplace-smoothed zero (the full grid is
  // closed_hours × types — the emitted rows alone would silently skip
  // exactly the strongest drift signal, a type vanishing). Wide
  // arithmetic as in qDrift; drift flag at the same 2.0 threshold.
  // The post-stage is hours×types metadata — the stream stage touches
  // the events.
  def qStreamDrift(s: SparkSession, dir: String): DataFrame = {
    val closed = runBounded(s, dir, "append") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"))
    }.localCheckpoint()
    val grid = closed.select(col("window_start")).distinct()
      .crossJoin(closed.select(col("event_type")).distinct())
    val cells = grid.join(closed, Seq("window_start", "event_type"), "left")
      .select(col("window_start"), col("event_type"),
        (coalesce(col("n"), lit(0L)) + 1L).cast("long").as("o_cnt"))
    val hourTot = cells.groupBy(col("window_start"))
      .agg(sum(col("o_cnt")).cast("long").as("lt"))
    val typeTot = cells.groupBy(col("event_type"))
      .agg(sum(col("o_cnt")).cast("long").as("r_cnt"))
    val allTot = cells.agg(sum(col("o_cnt")).cast("long").as("rt"))
    cells
      .join(broadcast(hourTot), "window_start")
      .join(broadcast(typeTot), "event_type")
      .crossJoin(broadcast(allTot))
      .withColumn("d", expr(
        "cast(o_cnt as decimal(38,0)) * rt - cast(r_cnt as decimal(38,0)) * lt"))
      .select(col("window_start"), col("event_type"), col("o_cnt"),
        expr("(cast(1000000 as decimal(38,0)) * d * d) div " +
          "(cast(rt as decimal(38,0)) * r_cnt * lt)").as("contrib_ppm"))
      .withColumn("drifted",
        when(col("contrib_ppm") > graft.operators.Temporal.DriftThresholdPpm, 1L)
          .otherwise(0L))
      .orderBy(col("window_start"), col("event_type"))
  }

  val qStreamDriftSql: String =
    s"""WITH allev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM allev),
      |agg AS (SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n
      |  FROM allev GROUP BY 1, 2),
      |closed AS (SELECT hr, event_type, CAST(n AS BIGINT) AS n
      |  FROM agg, wm WHERE hr + INTERVAL 1 HOUR <= w),
      |grid AS (SELECT h.hr, t.event_type
      |  FROM (SELECT DISTINCT hr FROM closed) h
      |  CROSS JOIN (SELECT DISTINCT event_type FROM closed) t),
      |cells AS (SELECT g.hr, g.event_type,
      |  CAST(coalesce(c.n, 0) + 1 AS BIGINT) AS o_cnt
      |  FROM grid g LEFT JOIN closed c ON g.hr = c.hr AND g.event_type = c.event_type),
      |ht AS (SELECT hr, CAST(sum(o_cnt) AS BIGINT) AS lt FROM cells GROUP BY hr),
      |tt AS (SELECT event_type, CAST(sum(o_cnt) AS BIGINT) AS r_cnt FROM cells GROUP BY event_type),
      |at2 AS (SELECT CAST(sum(o_cnt) AS BIGINT) AS rt FROM cells),
      |sc AS (SELECT c.hr, c.event_type, c.o_cnt,
      |  c.o_cnt::HUGEINT * at2.rt - tt.r_cnt::HUGEINT * ht.lt AS d,
      |  tt.r_cnt, ht.lt, at2.rt
      |  FROM cells c JOIN ht ON c.hr = ht.hr JOIN tt ON c.event_type = tt.event_type
      |  CROSS JOIN at2)
      |SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, o_cnt,
      |  CAST((1000000::HUGEINT * d * d) // (rt::HUGEINT * r_cnt * lt) AS BIGINT) AS contrib_ppm,
      |  CASE WHEN (1000000::HUGEINT * d * d) // (rt::HUGEINT * r_cnt * lt) > ${graft.operators.Temporal.DriftThresholdPpm}
      |       THEN 1::BIGINT ELSE 0::BIGINT END AS drifted
      |FROM sc ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------
  // STREAMING WINDOWED QUANTILES — [[graft.operators.Sketches]]'
  // mergeable histogram sketch composed into the streaming surface:
  // the stream stage maintains per-(closed hour, $10 bin) counts
  // (watermarked windowed agg, append mode — the state per window is
  // bin-bounded, ~50 rows, NOT value-bounded: exactly why a
  // histogram sketch and not a sorted buffer is the streaming
  // quantile structure); the batch post-stage walks each closed
  // window's cumulative bins and emits rank-interpolated p50/p95 in
  // exact BIGINT arithmetic (the [[graft.operators.Sketches
  // .qQuantileSketch]] estimator applied per window). Gated: every
  // closed window's n_total, hit bin, and estimated cents per
  // quantile. The post-stage is windows×bins metadata — only the
  // stream stage touches events.
  private val SqBinW = 1000L // $10 bins over value cents
  private val SqPms = Seq(500L, 950L)

  def qStreamQuantile(s: SparkSession, dir: String): DataFrame = {
    val closed = runBounded(s, dir, "append") { stream =>
      stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"),
          expr(s"cast(round(value * 100) as bigint) div $SqBinW").as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("bin"), col("cnt"))
    }.localCheckpoint()
    graft.operators.Sketches
      .histQuantiles(s, closed, Seq("window_start"), SqBinW, SqPms)
      .select(col("window_start"), col("q_pm"), col("n_total"), col("bin"),
        col("est").as("est_cents"))
      .orderBy(col("window_start"), col("q_pm"))
  }

  val qStreamQuantileSql: String =
    s"""WITH allev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM allev),
      |agg AS (SELECT date_trunc('hour', ts) AS hr,
      |  CAST(round(value * 100) AS BIGINT) // $SqBinW AS bin, count(*) AS cnt
      |  FROM allev GROUP BY 1, 2),
      |closed AS MATERIALIZED (SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, bin,
      |  CAST(cnt AS BIGINT) AS cnt FROM agg, wm WHERE hr + INTERVAL 1 HOUR <= w),
      |cum AS (SELECT window_start, bin, cnt,
      |  sum(cnt) OVER (PARTITION BY window_start ORDER BY bin) AS cum,
      |  sum(cnt) OVER (PARTITION BY window_start ORDER BY bin) - cnt AS cum_before
      |  FROM closed),
      |n AS (SELECT window_start, CAST(sum(cnt) AS BIGINT) AS n_total FROM closed GROUP BY 1),
      |rk AS (SELECT n.window_start, q.q_pm, (q.q_pm * n.n_total + 999) // 1000 AS r, n.n_total
      |  FROM n, (SELECT unnest([${SqPms.mkString(", ")}]) AS q_pm) q),
      |hit AS (SELECT rk.window_start, rk.q_pm, rk.r, rk.n_total, min(c.bin) AS bin
      |  FROM rk JOIN cum c ON c.window_start = rk.window_start AND c.cum >= rk.r
      |  GROUP BY 1, 2, 3, 4)
      |SELECT h.window_start, h.q_pm, h.n_total, CAST(h.bin AS BIGINT) AS bin,
      |  CAST(h.bin * $SqBinW + $SqBinW * (h.r - c2.cum_before) // c2.cnt AS BIGINT) AS est_cents
      |FROM hit h JOIN cum c2 ON c2.window_start = h.window_start AND c2.bin = h.bin
      |ORDER BY h.window_start, h.q_pm""".stripMargin

  // ---------------------------------------------------------------
  // STREAMING DISTINCT-COUNT VIA HLL REGISTERS — the from-scratch
  // [[graft.operators.Sketches]] HyperLogLog run as a REGULAR
  // watermarked streaming aggregate: register = max(rho) per
  // (closed hour, bucket) is an ordinary max agg, so the state per
  // window is 64 fixed-width rows — the whole point of a mergeable
  // sketch as streaming state (exact distinct state grows with the
  // key universe; the register table cannot). The batch post-stage
  // folds each closed window's registers through the integer-exact
  // alpha estimate (the qHllEstimate arithmetic, absent buckets =
  // register 0) and gates it against the exact per-window distinct
  // count — per-window hourly cardinalities sit in HLL's
  // linear-counting regime here, which the gated linear_regime flag
  // states rather than hides (the qHllEstimate discipline).
  def qStreamHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val h = expr("conv(substring(md5(cast(user_id as string)), 1, 12), 16, 10)").cast("long")
    val closed = runBounded(s, dir, "append") { stream =>
      stream
        .withColumn("h", h)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), (col("h") % 64).as("bucket"))
        .agg(max(expr("CASE WHEN h div 64 = 0 THEN 43 ELSE 43 - length(bin(h div 64)) END")
          .cast("long")).as("register"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("bucket"), col("register"))
    }.localCheckpoint()
    val z = closed.groupBy(col("window_start")).agg(
      (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - least(register, 30) AS INT))"))
        + (lit(64L) - count(lit(1))) * (1L << 30)).as("denom_scaled"),
      (sum(when(col("register") === 0, 1L).otherwise(0L))
        + (lit(64L) - count(lit(1)))).as("v_zero"))
    val exact = Tables.events(s, dir)
      .select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("user_id"))
      .groupBy(col("window_start"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    z.join(exact, Seq("window_start"))
      .withColumn("hll_est",
        expr("CAST(2904064 AS BIGINT) * CAST(1073741824 AS BIGINT) div (1000 * denom_scaled)"))
      .select(col("window_start"), col("v_zero"), col("denom_scaled"),
        col("hll_est"), col("n_exact"),
        expr("abs(hll_est - n_exact) * 1000 div greatest(n_exact, 1)").as("err_pm"),
        expr("CAST(CASE WHEN v_zero > 0 AND hll_est <= 160 THEN 1 ELSE 0 END AS BIGINT)")
          .as("linear_regime"))
      .orderBy(col("window_start"))
  }

  val qStreamHllDistinctSql: String =
    s"""WITH allev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
      |wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM allev),
      |hv AS (SELECT date_trunc('hour', ts) AS hr, user_id,
      |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h FROM allev),
      |agg AS (SELECT hr, h % 64 AS bucket,
      |  max(CASE WHEN h // 64 = 0 THEN 43 ELSE 43 - length(bin(h // 64)) END) AS register
      |  FROM hv GROUP BY 1, 2),
      |closed AS MATERIALIZED (SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS window_start, bucket, register
      |  FROM agg, wm WHERE hr + INTERVAL 1 HOUR <= w),
      |z AS (SELECT window_start,
      |  CAST(sum(1::BIGINT << (30 - least(register, 30))) + (64 - count(*)) * (1::BIGINT << 30) AS BIGINT) AS denom_scaled,
      |  CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) + 64 - count(*) AS BIGINT) AS v_zero
      |  FROM closed GROUP BY 1),
      |ex AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM allev GROUP BY 1)
      |SELECT z.window_start, z.v_zero, z.denom_scaled,
      |  CAST(2904064::BIGINT * 1073741824 // (1000 * z.denom_scaled) AS BIGINT) AS hll_est,
      |  ex.n_exact,
      |  CAST(abs(2904064::BIGINT * 1073741824 // (1000 * z.denom_scaled) - ex.n_exact) * 1000
      |    // greatest(ex.n_exact, 1) AS BIGINT) AS err_pm,
      |  CAST(CASE WHEN z.v_zero > 0 AND 2904064::BIGINT * 1073741824 // (1000 * z.denom_scaled) <= 160
      |    THEN 1 ELSE 0 END AS BIGINT) AS linear_regime
      |FROM z JOIN ex USING (window_start) ORDER BY z.window_start""".stripMargin

  // ---------------------------------------------------------------
  // STREAMING CDC APPLY — materialize a change stream into a keyed
  // store with last-write-wins semantics: every event is an upsert
  // on its user key, `error` is the tombstone (a deleted entity
  // leaves the store), and the winner is decided by (ts, event_id) —
  // compared EXPLICITLY in the state function, never by arrival
  // order, because micro-batch iterator order is not a contract.
  // This is the streaming half of [[graft.operators.Maintenance
  // .qMergeUpsert]]: the same MERGE semantics, kept incrementally
  // current by keyed state instead of re-planned per snapshot — the
  // shape a feature store or serving mirror actually runs. State is
  // one fixed-width row per live key, partitioned by user_id; update
  // mode emits the evolving row and the final state per key is
  // selected by the monotone applied-op count (the qStatefulCounts
  // discipline). Oracle: batch LWW row_number over the same total
  // order, tombstones filtered last.
  def qStreamCdcApply(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val updated = runBounded(s, dir, "update") { stream =>
      import s.implicits._
      stream.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        .as[(Long, Long, Long, String, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long, Long, String, Double)],
           state: org.apache.spark.sql.streaming.GroupState[(Long, Long, String, Double, Long)]) =>
            var (ts, eid, tpe, v, n) =
              state.getOption.getOrElse((Long.MinValue, Long.MinValue, "", 0.0, 0L))
            rows.foreach { case (_, rts, rid, rtp, rv) =>
              n += 1
              if (rts > ts || (rts == ts && rid > eid)) {
                ts = rts; eid = rid; tpe = rtp; v = rv
              }
            }
            state.update((ts, eid, tpe, v, n))
            (user, ts, tpe, v, n)
        }
        .toDF("user_id", "ts_us", "last_type", "last_value", "n_ops")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_ops").desc)
    updated
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(col("last_type") =!= "error")
      .select(col("user_id"), col("last_type"),
        round(col("last_value"), 2).as("last_value"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_ts"),
        col("n_ops"))
      .orderBy(col("user_id"))
  }

  val qStreamCdcApplySql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value
      |  FROM events),
      |lww AS (SELECT user_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
      |  FROM ev)
      |SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts, n_ops
      |FROM lww WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cdc_apply" -> (qStreamCdcApply _),
    "stream_hll_distinct" -> (qStreamHllDistinct _),
    "stream_quantile" -> (qStreamQuantile _),
    "stream_drift" -> (qStreamDrift _),
    "stream_session_flatmap" -> (qStreamSessionFlatmap _),
    "stream_session_timeout" -> (qStreamSessionTimeout _),
    "stream_heavy_hitters" -> (qStreamHeavyHitters _),
    "stream_asof_enrich" -> (qStreamAsofEnrich _),
    "stream_exactly_once" -> (qStreamExactlyOnce _),
    "stream_pipeline" -> (qStreamPipeline _),
    "stream_window_agg" -> (qWindowAgg _),
    "stream_rate_eos" -> (qStreamRateEos _),
    "stream_restart_recovery" -> (qStreamRestartRecovery _),
    "src_range_stream" -> (qSrcRangeStream _),
    "src_range_admission" -> (qSrcRangeAdmission _),
    "src_range_write_stream" -> (qSrcRangeWriteStream _),
    "src_range_stream_restart" -> (qSrcRangeStreamRestart _),
    "stream_stateful_counts" -> (qStatefulCounts _),
    "stream_tws_profile" -> (qStreamTws _),
    "stream_tws_timers" -> (qStreamTwsTimers _),
    "stream_state_reader" -> (qStateReader _),
    "stream_stream_join" -> (qStreamStreamJoin _),
    "stream_dedup" -> (qStreamDedup _),
    "stream_dedup_watermarked" -> (qStreamDedupWatermarked _),
    "stream_session_window" -> (qStreamSessionWindow _),
    "stream_static_join" -> (qStreamStaticJoin _))

  val oracles: Map[String, String] = Map(
    "stream_cdc_apply" -> qStreamCdcApplySql,
    "stream_hll_distinct" -> qStreamHllDistinctSql,
    "stream_quantile" -> qStreamQuantileSql,
    "stream_drift" -> qStreamDriftSql,
    "stream_session_flatmap" -> qStreamSessionFlatmapSql,
    "stream_session_timeout" -> qStreamSessionTimeoutSql,
    "stream_heavy_hitters" -> qStreamHeavyHittersSql,
    "stream_asof_enrich" -> qStreamAsofEnrichSql,
    "stream_exactly_once" -> qStreamExactlyOnceSql,
    "stream_pipeline" -> qStreamPipelineSql,
    "stream_window_agg" -> qWindowAggSql,
    "stream_rate_eos" -> qStreamRateEosSql,
    "stream_restart_recovery" -> qStreamRestartRecoverySql,
    "src_range_stream" -> qSrcRangeStreamSql,
    "src_range_admission" -> qSrcRangeAdmissionSql,
    "src_range_write_stream" -> qSrcRangeWriteStreamSql,
    "src_range_stream_restart" -> qSrcRangeStreamRestartSql,
    "stream_stateful_counts" -> qStatefulCountsSql,
    "stream_tws_profile" -> qStreamTwsSql,
    "stream_tws_timers" -> qStreamSessionTimeoutSql,
    "stream_state_reader" -> qStateReaderSql,
    "stream_stream_join" -> qStreamStreamJoinSql,
    "stream_dedup" -> qStreamDedupSql,
    "stream_dedup_watermarked" -> qStreamDedupWatermarkedSql,
    "stream_session_window" -> qStreamSessionWindowSql,
    "stream_static_join" -> qStreamStaticJoinSql)
}

/** The [[qStreamTws]] processor: per-user ValueState (running count +
  * sum) and MapState (per-event-type counts), both NONE-TTL'd on the
  * bounded source. The emitted row derives ENTIRELY from state (never
  * from the batch's rows alone), so every output is a faithful
  * state snapshot; the top-type tiebreak (count desc, type asc) is
  * computed from the MapState iterator per emit. */
class TwsUserProfile
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Double), (Long, Long, Double, Long, String, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var agg: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
  @transient private var types: org.apache.spark.sql.streaming.MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    agg = getHandle.getValueState[(Long, Double)](
      "agg", E.product[(Long, Double)], TTLConfig.NONE)
    types = getHandle.getMapState[String, Long](
      "types", E.STRING, E.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      key: Long, rows: Iterator[(Long, String, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Double, Long, String, Long)] = {
    var (n, sum) = if (agg.exists()) agg.get() else (0L, 0.0)
    rows.foreach { case (_, tpe, v) =>
      n += 1
      sum += v
      types.updateValue(tpe, (if (types.containsKey(tpe)) types.getValue(tpe) else 0L) + 1L)
    }
    agg.update((n, sum))
    val snap = types.iterator().toArray
    val (topT, topC) = snap.minBy { case (t, c) => (-c, t) }
    Iterator.single((key, n, sum, snap.length.toLong, topT, topC))
  }
}

/** The [[Streams.qStreamTwsTimers]] processor: one ValueState row per
  * open session (start, last, n, armed-timer-ms); handleInputRows
  * folds the batch's events in (ts, event_id) order, closing on
  * gap-exceeding successors, then re-arms ONE timer at
  * floor((last+gap)/1000) — deleting the previously armed mark, since
  * tws timers accumulate rather than replace. handleExpiredTimer
  * drains the open session when the watermark passes the armed mark;
  * the expiry echo is cross-checked against state so a stale timer
  * (already superseded in the same batch) closes nothing. */
class TwsSessionizer(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, java.sql.Timestamp), (Long, Long, Long, Long, String)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
  import org.apache.spark.sql.{Encoders => E}

  @transient private var sess
      : org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getValueState[(Long, Long, Long, Long)](
      "sess", E.product[(Long, Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(
      user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(Long, Long, Long, Long, String)] = {
    val sorted = rows.toArray.sortBy(r => (r._2, r._3))
    val closed =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, String)]()
    var open: Option[(Long, Long, Long)] =
      if (sess.exists()) {
        val (st, last, n, timer) = sess.get()
        if (timer >= 0) getHandle.deleteTimer(timer)
        Some((st, last, n))
      } else None
    sorted.foreach { case (_, ts, _, _) =>
      open match {
        case Some((st, last, n)) if ts - last <= gapUs =>
          open = Some((st, ts, n + 1))
        case Some((st, last, n)) =>
          closed += ((user, st, n, last - st, "succ"))
          open = Some((ts, ts, 1L))
        case None =>
          open = Some((ts, ts, 1L))
      }
    }
    open match {
      case Some((st, last, n)) =>
        val t = (last + gapUs) / 1000L
        getHandle.registerTimer(t)
        sess.update((st, last, n, t))
      case None => sess.clear()
    }
    closed.iterator
  }

  override def handleExpiredTimer(
      user: Long, timerValues: org.apache.spark.sql.streaming.TimerValues,
      expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[(Long, Long, Long, Long, String)] = {
    if (!sess.exists()) return Iterator.empty
    val (st, last, n, timer) = sess.get()
    if (expiredTimerInfo.getExpiryTimeInMs() != timer) return Iterator.empty
    sess.clear()
    Iterator.single((user, st, n, last - st, "timeout"))
  }
}
