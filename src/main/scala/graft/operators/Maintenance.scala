package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Table-maintenance operators — the ops layer a 100 TB pipeline needs
  * around the query engine: small-files compaction and CDC
  * merge/upsert apply. The reference has none of this (its sinks
  * are streams, SURVEY.md §2.2 K1-K4); at scale the dominant ops
  * problem is small files: every incremental load/session write leaves
  * thousands of sub-row-group parquet files, and scan throughput dies
  * on open/footer overhead long before bytes matter.
  *
  * [[qCompact]] demonstrates the compaction pass end-to-end and gates
  * it: fragment a copy of `orders` into [[FragmentFiles]] deliberately
  * tiny files, then rewrite targeting [[TargetFileBytes]] per file —
  * the standard bin-pack maintenance job (Delta OPTIMIZE / Iceberg
  * rewrite_data_files do exactly this). File-count math comes from the
  * real listed sizes, the rewrite is a plain `repartition(target)`
  * (round-robin: compaction must balance bytes, not cluster keys),
  * and the gate checks rows survived and the file count collapsed.
  */
object Maintenance {

  private val FragmentFiles = 64
  private val TargetFileBytes = 32L * 1024 * 1024

  def qCompact(s: SparkSession, dir: String): DataFrame = {
    // app-id suffix: two concurrent sessions (e.g. Verify and sbt
    // test) running the query must not clobber each other's files
    // mid-read; the per-application path isolates them.
    val base = graft.GraftSession.warehouseRoot(s) + s"/compact"
    val fragPath = s"$base/orders_frag"
    val outPath = s"$base/orders_compacted"
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)

    // 1. simulate the small-files problem: 64 tiny parquet files.
    Tables.orders(s, dir).repartition(FragmentFiles)
      .write.mode("overwrite").parquet(fragPath)

    // 2. plan the compaction from listed file metadata (driver-side
    //    listing of file STATUS, not data): total bytes / target.
    def dataFiles(p: String) =
      fs.listStatus(new Path(p)).filter(f => f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(fragPath)
    val nTarget = math.max(1, math.ceil(before.map(_.getLen).sum.toDouble / TargetFileBytes).toInt)

    // 3. rewrite: round-robin repartition to the target file count.
    val frag = s.read.parquet(fragPath)
    frag.repartition(nTarget).write.mode("overwrite").parquet(outPath)

    // 4. gate: rows preserved, file count collapsed to the plan.
    val after = dataFiles(outPath)
    val nRows = s.read.parquet(outPath).count()
    import s.implicits._
    Seq((nRows, FragmentFiles, (after.length == nTarget) && (after.length < before.length)))
      .toDF("n_rows", "files_before", "compacted_ok")
  }

  /** Rows must match the source table; the structural facts are stated
    * as invariants (the oracle cannot see the filesystem). */
  val qCompactSql: String =
    s"""SELECT count(*) AS n_rows, $FragmentFiles AS files_before, TRUE AS compacted_ok
       |FROM orders""".stripMargin

  // ---------------------------------------------------------------
  // MERGE / upsert apply — the CDC-ingest shape: a snapshot plus a
  // change batch (updates, deletes, inserts) resolved into the next
  // snapshot with one full-outer join on the key. Spark has no MERGE
  // INTO without a table format; the join formulation IS what those
  // formats execute, and it co-partitions/buckets like any fact-fact
  // join at 100 TB. The change batch here is synthesized
  // deterministically from `orders` itself (keys %13 -> delete,
  // %7 -> 10%-price update, %11 -> insert under a shifted key;
  // delete wins over update), so the oracle can state the exact
  // same merge in SQL.
  //
  // The insert-key shift is DERIVED from the data — the next power of
  // 10 above max(o_orderkey) — not a fixed constant: a constant that
  // clears the key space at one SF collides with real keys at a
  // larger one, fanning out the full-outer join on duplicate keys and
  // leaving the ORDER BY tie-broken differently per engine. Both
  // engines compute the same offset from the same table (the oracle
  // as a scalar subquery), so the query stays SF-independent. The
  // driver-side agg here is a one-row metadata lookup, same class as
  // qCompact's file listing.
  // Memoized per (session, dir) — qSnapshotDiff re-invokes
  // qMergeUpsert, which would otherwise re-run this full-scan max()
  // driver action on every call (same pay-once pattern as
  // Relational2.ensureBucketTables).
  private def insertKeyOffset(s: SparkSession, dir: String): Long =
    Memo.get("insert_key_offset", s, dir) {
      val row = Tables.orders(s, dir).agg(max(col("o_orderkey"))).first()
      require(!row.isNullAt(0),
        s"orders at $dir is empty: cannot derive the merge insert-key offset")
      math.pow(10, row.getLong(0).toString.length).toLong
    }

  def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val InsertKeyOffset = insertKeyOffset(s, dir)
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val changes = base.select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        when(col("o_orderkey") % 13 === 0, lit("D"))
          .when(col("o_orderkey") % 7 === 0, lit("U"))
          .when(col("o_orderkey") % 11 === 0, lit("I"))
          .as("op"))
      .filter(col("op").isNotNull)
      .select(
        when(col("op") === "I", col("o_orderkey") + InsertKeyOffset)
          .otherwise(col("o_orderkey")).as("o_orderkey"),
        // floor-to-cents, not round: a x1.1 update lands on half-cent
        // boundaries where Spark (HALF_UP) and DuckDB disagree
        when(col("op") === "U", floor(col("o_totalprice") * 1.1 * 100) / 100)
          .otherwise(col("o_totalprice")).as("c_totalprice"),
        col("o_orderpriority").as("c_orderpriority"),
        col("op"))
    base.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        col("o_orderkey"),
        coalesce(col("c_totalprice"), col("o_totalprice")).as("o_totalprice"),
        coalesce(col("c_orderpriority"), col("o_orderpriority")).as("o_orderpriority"),
        coalesce(col("op"), lit("K")).as("op"))
      .orderBy(col("o_orderkey"))
  }

  val qMergeUpsertSql: String =
    s"""WITH base AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
       |tagged AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
       |  CASE WHEN o_orderkey % 13 = 0 THEN 'D'
       |       WHEN o_orderkey % 7 = 0 THEN 'U'
       |       WHEN o_orderkey % 11 = 0 THEN 'I' END AS op
       |  FROM base),
       |koff AS (SELECT CAST(power(10, length(CAST(max(o_orderkey) AS VARCHAR))) AS BIGINT) AS off FROM orders),
       |changes AS (SELECT
       |  CASE WHEN op = 'I' THEN o_orderkey + (SELECT off FROM koff) ELSE o_orderkey END AS c_orderkey,
       |  CASE WHEN op = 'U' THEN floor(o_totalprice * 1.1 * 100) / 100 ELSE o_totalprice END AS c_totalprice,
       |  o_orderpriority AS c_orderpriority, op
       |  FROM tagged WHERE op IS NOT NULL)
       |SELECT COALESCE(b.o_orderkey, c.c_orderkey) AS o_orderkey,
       |  COALESCE(c.c_totalprice, b.o_totalprice) AS o_totalprice,
       |  COALESCE(c.c_orderpriority, b.o_orderpriority) AS o_orderpriority,
       |  COALESCE(c.op, 'K') AS op
       |FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.c_orderkey
       |WHERE c.op IS NULL OR c.op <> 'D'
       |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // Snapshot RECONCILIATION — the data-ops diff that audits an apply:
  // full-outer join two table snapshots on the key and classify every
  // row as added / deleted / changed / unchanged, reporting counts
  // per class. Here the "next" snapshot is the CDC merge result, so
  // the diff independently re-derives the change batch's op counts
  // from the physical tables — a change in either the merge or the
  // diff logic breaks the cross-check. One co-partitioned join +
  // fixed-width partial counts: the 100 TB shape of every
  // reconciliation/backfill-audit job.
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price_a"))
    val next = qMergeUpsert(s, dir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price_b"))
    base.join(next, Seq("key"), "full_outer")
      .select(
        when(col("price_a").isNull, "added")
          .when(col("price_b").isNull, "deleted")
          .when(col("price_a") =!= col("price_b"), "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }

  val qSnapshotDiffSql: String =
    s"""WITH nxt AS (
       |$qMergeUpsertSql
       |),
       |d AS (SELECT
       |  CASE WHEN b.o_orderkey IS NULL THEN 'added'
       |       WHEN n.o_orderkey IS NULL THEN 'deleted'
       |       WHEN b.o_totalprice <> n.o_totalprice THEN 'changed'
       |       ELSE 'unchanged' END AS change_type
       |  FROM orders b FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey)
       |SELECT change_type, count(*) AS n FROM d
       |GROUP BY change_type ORDER BY change_type""".stripMargin

  // ---------------------------------------------------------------
  // SCHEMA EVOLUTION read — the ingest-generation drift problem: a
  // long-lived dataset accretes columns over time, so a scan must
  // union old and new file schemas and back-fill NULLs for columns a
  // generation predates. Two parquet generations are written under
  // gen= partition directories (gen 1: three columns; gen 2: adds
  // o_orderpriority), then read back as ONE table via partition
  // discovery + mergeSchema. The gate checks the union accounting:
  // total rows, rows whose missing column back-filled NULL (exactly
  // gen 1), rows carrying the new column (exactly gen 2), and the
  // exact money total across both — all stated by the oracle from the
  // base table alone, so a merge/back-fill bug turns the row red.
  //
  // At scale this is why mergeSchema exists: rewriting 100 TB of
  // history to add a column is not an option; footer-schema union at
  // planning time (+ per-file column pruning) is.
  def qSchemaEvolve(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.warehouseRoot(s) + s"/schema_evolve"
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val orders = Tables.orders(s, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/gen=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$base/gen=2")
    val merged = s.read.option("mergeSchema", "true").parquet(base)
    merged.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("n_backfilled"),
      sum(when(col("o_orderpriority").isNotNull, 1L).otherwise(0L)).as("n_evolved"),
      round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").as("total"))
  }

  val qSchemaEvolveSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_backfilled,
      |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_evolved,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------
  // Z-ORDER layout — the multi-dimensional clustering pass (Delta
  // OPTIMIZE ZORDER BY / Iceberg sort-order rewrite): interleave the
  // bits of two filter dimensions so that rows close in EITHER
  // dimension land in the same file, and a scan filtered on either
  // (or both) prunes by file min/max envelopes. A date-only sort
  // bounds dates but leaves every file spanning the full customer
  // range; the z-curve bounds both at once (measured here: each
  // bucket spans ~6% of the customer range and ~9% of the date
  // range).
  //
  // Dimensions normalize to 8-bit cells via data-derived maxima (a
  // one-row column-pruned metadata pass, memoized per (session, dir)
  // exactly like [[insertKeyOffset]] — at scale these come from table
  // stats). The gated query reports the per-bucket min/max envelope —
  // the file-skipping index a reader consults; the production write
  // is `repartitionByRange(nFiles, col("zval"))` + sortWithinPartitions
  // over the same zval, which shuffles once and writes in curve order.
  private val ZCellBits = 8 // 256 cells per dimension
  private val ZBucketShift = 8 // bucket = top 4 bits of each dim -> <=256 files

  private def zMaxima(s: SparkSession, dir: String): (Long, Long) =
    Memo.get("z_maxima", s, dir) {
      val dy = datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
      val row = Tables.orders(s, dir)
        .agg(max(col("o_custkey")), max(dy), min(col("o_custkey")), min(dy)).first()
      require(!row.isNullAt(0) && !row.isNullAt(1),
        s"orders at $dir is empty: cannot derive z-order cell scales")
      // negative dimension values would bit-interleave as garbage
      // (two's-complement high bits): reject rather than mis-bucket
      require(row.getLong(2) >= 0 && row.getLong(3) >= 0,
        s"z-order dims must be non-negative (got min custkey ${row.getLong(2)}, " +
          s"min day ${row.getLong(3)}): shift the epoch below the data")
      (row.getLong(0), row.getLong(1))
    }

  def qZOrder(s: SparkSession, dir: String): DataFrame = {
    val (mck, mdy) = zMaxima(s, dir)
    val cells = 1 << ZCellBits
    val scaled = Tables.orders(s, dir)
      .select(col("o_custkey").as("ck"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("dy"))
      .withColumn("ckc", floor(col("ck") * cells.toDouble / (mck + 1)).cast("long"))
      .withColumn("dyc", floor(col("dy") * cells.toDouble / (mdy + 1)).cast("long"))
    val zval = (0 until ZCellBits).map { i =>
      shiftleft(shiftright(col("ckc"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("dyc"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    scaled
      .withColumn("z_bucket", shiftright(zval, ZBucketShift))
      .groupBy(col("z_bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("ck")).as("min_cust"), max(col("ck")).as("max_cust"),
        min(col("dy")).as("min_day"), max(col("dy")).as("max_day"))
      .orderBy(col("z_bucket"))
  }

  val qZOrderSql: String = {
    val zx = (0 until ZCellBits).map { i =>
      s"(((ckc >> $i) & 1) << ${2 * i}) + (((dyc >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    val cells = 1 << ZCellBits
    s"""WITH raw AS (SELECT o_custkey AS ck,
       |  date_diff('day', DATE '1992-01-01', o_orderdate) AS dy FROM orders),
       |mx AS (SELECT max(ck) AS mck, max(dy) AS mdy FROM raw),
       |m AS (SELECT ck, dy,
       |  CAST(floor(ck * $cells.0 / (mck + 1)) AS BIGINT) AS ckc,
       |  CAST(floor(dy * $cells.0 / (mdy + 1)) AS BIGINT) AS dyc FROM raw, mx),
       |z AS (SELECT ck, dy, $zx AS zval FROM m)
       |SELECT CAST(zval >> $ZBucketShift AS BIGINT) AS z_bucket, count(*) AS n_orders,
       |  min(ck) AS min_cust, max(ck) AS max_cust,
       |  min(dy) AS min_day, max(dy) AS max_day
       |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
  }

  // ---------------------------------------------------------------
  // CONTENT FINGERPRINT — the anti-entropy / replica-verification
  // primitive a 100 TB pipeline runs after every copy, backfill, or
  // engine migration: a per-partition (here: order month) checksum
  // that two independent systems can compute and diff without moving
  // data. Each row hashes to a 60-bit integer (first 15 hex chars of
  // md5 over a canonical `|`-joined rendering — the cross-engine
  // hash rules); partitions reduce with XOR (order-free, overflow-
  // free, and incrementally updatable: re-XOR a changed row out/in)
  // plus a modular sum + count to catch XOR's blind spots (duplicate
  // pairs cancel under XOR; the sum sees them). Map-side partial
  // aggregate to |months| rows — the scan is the only full-data pass,
  // and a mismatched month pinpoints the partition to re-copy.
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val canon = concat_ws("|",
      col("o_orderkey"), col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long"),
      date_format(col("o_orderdate"), "yyyy-MM-dd"))
    Tables.orders(s, dir)
      .select(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"),
        conv(substring(md5(canon), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("month"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_fp"),
        sum(col("h") % 1000000007L).as("sum_fp"))
      .orderBy(col("month"))
  }

  val qFingerprintSql: String =
    """WITH h AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |  CAST(('0x' || substr(md5(o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' ||
      |    CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR || '|' ||
      |    strftime(o_orderdate, '%Y-%m-%d')), 1, 15)) AS BIGINT) AS h
      |  FROM orders)
      |SELECT month, count(*) AS n_rows, bit_xor(h) AS xor_fp,
      |  CAST(sum(h % 1000000007) AS BIGINT) AS sum_fp
      |FROM h GROUP BY month ORDER BY month""".stripMargin

  // ---------------------------------------------------------------
  // DYNAMIC PARTITION PRUNING — the scan-elimination that makes a
  // date-partitioned 100 TB fact table queryable: the fact is laid
  // out hive-style by order month (the write is the standard
  // ingest-partitioning pass, memoized per session like the bucket
  // tables), the filter arrives on a JOINED calendar dimension
  // (quarter → months), and Spark's DPP turns the broadcast dim into
  // a runtime partition filter on the fact scan — only the three
  // matching month directories are ever opened, provably
  // (`dynamicpruningexpression(o_month ...)` in the plan, asserted
  // in AnalyticsSpec). This is the dynamic sibling of static
  // partition pruning: the month list exists only at runtime, so no
  // literal filter could be pushed at plan time.
  @volatile private var dppFor: (SparkSession, String) = null

  /** Writes the month-partitioned fact and the tiny calendar dim;
    * returns their paths. The calendar is a REAL parquet table, not a
    * local relation: Catalyst folds a filter over literal rows into
    * the relation itself, and DPP's planner only plants a runtime
    * pruning subquery when a selective Filter survives on the dim
    * side — exactly the on-disk dimension-table shape a warehouse
    * has anyway. */
  private def dppTablePaths(s: SparkSession, dir: String): (String, String) = synchronized {
    val base = graft.GraftSession.warehouseRoot(s)
    val (factPath, calPath) = (s"$base/orders_by_month", s"$base/calendar")
    if (dppFor == ((s, dir))) return (factPath, calPath)
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(factPath), true)
    fs.delete(new Path(calPath), true)
    Tables.orders(s, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      // one task per month before the partitioned write: ~1 file per
      // month directory instead of |tasks|·|months| shards
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(factPath)
    import s.implicits._
    (for { y <- 1992 to 1998; m <- 1 to 12 }
      yield (f"$y-$m%02d", s"$y-Q${(m - 1) / 3 + 1}")).toDF("month", "quarter")
      .coalesce(1).write.mode("overwrite").parquet(calPath)
    dppFor = (s, dir)
    (factPath, calPath)
  }

  def qDpp(s: SparkSession, dir: String): DataFrame = {
    val (factPath, calPath) = dppTablePaths(s, dir)
    val cal = s.read.parquet(calPath)
    s.read.parquet(factPath)
      .join(broadcast(cal.filter(col("quarter") === "1996-Q1")),
        col("o_month") === col("month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("o_month"))
  }

  val qDppSql: String =
    """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS o_month,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE strftime(date_trunc('month', o_orderdate), '%Y-%m')
      |      IN ('1996-01', '1996-02', '1996-03')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // PARTITION RETENTION — the TTL/GDPR delete every regulated 100 TB
  // store runs: expire whole partition directories past a cutoff
  // (month < [[RetentionCutoff]]) by METADATA operation — a directory
  // list + delete, never a row scan of the expired data; that
  // O(partitions) cost profile is the entire point of date
  // partitioning for retention. The query writes its own partitioned
  // copy (fresh each call: the op is destructive, so re-runs must
  // start from the full table to stay deterministic), expires, then
  // audits the survivor table with a full read-back; the oracle
  // states the expected post-delete world from the original rows.
  private val RetentionCutoff = "1997-01"

  def qRetentionExpire(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.GraftSession.warehouseRoot(s) + s"/orders_retention"
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(path), true)
    Tables.orders(s, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(path)
    // the expire pass: pure directory metadata, no data read
    val expired = fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("o_month="))
      .filter(_.getPath.getName.stripPrefix("o_month=") < RetentionCutoff)
    expired.foreach(st => fs.delete(st.getPath, true))
    val kept = s.read.parquet(path)
      .agg(
        countDistinct(col("o_month")).as("n_months_kept"),
        count(lit(1)).as("n_rows_kept"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents_kept"))
    kept.select(lit(expired.size.toLong).as("n_months_dropped"),
      col("n_months_kept"), col("n_rows_kept"), col("sum_cents_kept"))
  }

  val qRetentionExpireSql: String =
    s"""WITH m AS (SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS mo,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
       |SELECT
       |  CAST(count(DISTINCT CASE WHEN mo < '$RetentionCutoff' THEN mo END) AS BIGINT) AS n_months_dropped,
       |  CAST(count(DISTINCT CASE WHEN mo >= '$RetentionCutoff' THEN mo END) AS BIGINT) AS n_months_kept,
       |  CAST(sum(CASE WHEN mo >= '$RetentionCutoff' THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_kept,
       |  CAST(sum(CASE WHEN mo >= '$RetentionCutoff' THEN cents ELSE 0 END) AS BIGINT) AS sum_cents_kept
       |FROM m""".stripMargin

  // ---------------------------------------------------------------
  // VACUUM / orphan-file GC — the other standing maintenance job
  // next to compaction: failed or zombie writers leave data files in
  // the table directory that no committed snapshot references, and
  // a plain directory listing would happily read them (duplicating
  // or corrupting results). Table formats fix this with a manifest:
  // the commit records exactly which files are the table, and VACUUM
  // deletes everything else past a retention window. This query runs
  // that lifecycle end-to-end: commit a snapshot (capturing its file
  // manifest — the metadata a format's commit log holds), drop
  // ORPHAN files of identical schema into the directory (the failed
  // writer), prove the naive directory read now over-counts, vacuum
  // by LISTING against the manifest (pure metadata, no data read —
  // same O(files) profile as [[qRetentionExpire]]), and audit that
  // the read-back equals the committed snapshot. The oracle states
  // the committed world from the source table; `orphans_removed`
  // and the over-count flag gate the GC itself.
  private val VacuumSnapshotFiles = 4

  def qVacuum(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.warehouseRoot(s) + s"/vacuum"
    val tablePath = s"$base/orders_snap"
    val scratch = s"$base/scratch"
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)

    // 1. the committed snapshot + its manifest (file names at commit)
    val snap = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    snap.repartition(VacuumSnapshotFiles).write.mode("overwrite").parquet(tablePath)
    def dataFiles() = fs.listStatus(new Path(tablePath))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.getName).toSet
    val manifest = dataFiles()

    // 2. a failed writer's leftovers: same-schema orphan files the
    //    manifest never recorded
    snap.limit(500).coalesce(1).write.mode("overwrite").parquet(scratch)
    val orphanSrcs = fs.listStatus(new Path(scratch))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath).toSeq
    orphanSrcs.zipWithIndex.foreach { case (p, i) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new Path(tablePath, s"part-orphan-$i.parquet"), false,
        s.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new Path(tablePath, s"part-orphan-${i + orphanSrcs.size}.parquet"), false,
        s.sparkContext.hadoopConfiguration)
    }
    val dirtyRows = s.read.parquet(tablePath).count() // the over-count a naive read sees

    // 3. vacuum: directory listing vs manifest — metadata only
    val orphans = (dataFiles() -- manifest).toSeq.sorted
    orphans.foreach(f => fs.delete(new Path(tablePath, f), false))

    // 4. audit: the table is the committed snapshot again
    val audited = s.read.parquet(tablePath).agg(
      count(lit(1)).as("n_rows"),
      sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    audited.select(
      col("n_rows"), col("sum_cents"),
      lit(orphans.size.toLong).as("orphans_removed"),
      (lit(dirtyRows) > col("n_rows")).as("naive_read_overcounted"))
  }

  val qVacuumSql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  2 AS orphans_removed, TRUE AS naive_read_overcounted
      |FROM orders""".stripMargin

  // ---------------------------------------------------------------
  // KEY-SKEW REPORT — the diagnostic that decides when a join needs
  // salting (q36) or AQE skew handling: the per-key count
  // distribution of a join key, as exact order statistics. Scale
  // shape: the only corpus-sized stage is the per-key count (one
  // map-side-combined exchange); quantiles then come from the
  // COUNT-OF-COUNTS histogram — a table bounded by the number of
  // DISTINCT count values, not by key cardinality — via a cumulative
  // sum and rank thresholds, all exact integer arithmetic
  // (order-statistic rank = (n_keys-1)·q div 100 + 1). No sampling,
  // no float percentile — the same numbers on any engine.
  def qSkewReport(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = counts.groupBy(col("cnt")).agg(count(lit(1)).as("nk"))
      .withColumn("cum", sum(col("nk")).over(wCum))
    def pct(q: Int) = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= expr(s"(n_keys - 1) * $q div 100 + 1"))
      .agg(min(col("cnt")).as(s"p${q}_cnt"))
    tot.crossJoin(pct(50)).crossJoin(pct(90)).crossJoin(pct(99))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        col("p50_cnt"), col("p90_cnt"), col("p99_cnt"),
        expr("max_cnt * 1000000 div n_rows").as("top1_share_ppm"))
  }

  val qSkewReportSql: String = {
    def pctCte(q: Int) =
      s"""p$q AS (SELECT CAST(min(cnt) AS BIGINT) AS p${q}_cnt FROM cum, t
         |  WHERE cum >= (n_keys - 1) * $q // 100 + 1)""".stripMargin
    s"""WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
       |  CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
       |cc AS (SELECT cnt, count(*) AS nk FROM c GROUP BY cnt),
       |cum AS (SELECT cnt, sum(nk) OVER (ORDER BY cnt
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cc),
       |${pctCte(50)},
       |${pctCte(90)},
       |${pctCte(99)}
       |SELECT n_keys, n_rows, max_cnt, p50_cnt, p90_cnt, p99_cnt,
       |  CAST(max_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_ppm
       |FROM t, p50, p90, p99""".stripMargin
  }

  // ---------------------------------------------------------------
  // STATS → SALT COMPOSITION — the skew-report numbers DOING their
  // job: [[qSkewReport]] computes the per-key count distribution that
  // decides salting, and q36_salted_join demonstrates salting with a
  // HARDCODED factor; this query closes the loop the way the ANALYZE
  // → CBO broadcast flip (maint_analyze) did for join strategy. The
  // fact key is synthesized skewed (even order keys collapse to one
  // hot key holding ~50% of rows); the salt factor is DERIVED from
  // the exact order statistics — max_cnt div p50 (clamped to [1,64]),
  // all integer arithmetic from the count-of-counts histogram — and
  // flows through the plan as a 1-row broadcast, never a driver
  // action: the fact side salts by o_orderkey % salt_factor, the dim
  // replicates per salt via explode(sequence(0, salt_factor-1)), and
  // the join exchanges on (hk, salt) — salt_factor reducers share
  // each hot key. Salting is correctness-neutral, so the oracle is
  // the UNSALTED join plus the independently derived salt_factor —
  // a wrong derivation or a salt-mismatch row loss flips the gate.
  // The spec asserts the salted exchange shape.
  def qSaltedFromStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact0 = Tables.orders(s, dir).select(
      when(col("o_orderkey") % 2 === 0, lit(0L))
        .otherwise(col("o_orderkey") % 10).as("hk"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderkey"))
    val counts = fact0.groupBy(col("hk")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val p50 = counts.groupBy(col("cnt")).agg(count(lit(1)).as("nk"))
      .withColumn("cum", sum(col("nk")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n_keys - 1) * 50 div 100 + 1"))
      .agg(min(col("cnt")).as("p50_cnt"))
    val saltRow = tot.crossJoin(p50)
      .select(least(greatest(expr("max_cnt div greatest(p50_cnt, 1)"), lit(1L)), lit(64L))
        .as("salt_factor"))
    val fact = fact0.crossJoin(broadcast(saltRow))
      .select(col("hk"), col("cents"), col("salt_factor"),
        (col("o_orderkey") % col("salt_factor")).as("salt"))
    val dim = (0L until 10L).map(hk => (hk, s"seg_$hk")).toDF("hk", "segment")
      .crossJoin(broadcast(saltRow))
      .withColumn("salt", explode(sequence(lit(0L), col("salt_factor") - 1)))
      .select(col("hk"), col("segment"), col("salt"))
    fact.join(dim.hint("shuffle_hash"), Seq("hk", "salt"))
      .groupBy(col("hk"), col("segment"), col("salt_factor"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("hk"), col("segment"), col("n"), col("sum_cents"), col("salt_factor"))
      .orderBy(col("hk"))
  }

  val qSaltedFromStatsSql: String =
    """WITH f AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE o_orderkey % 10 END AS hk,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |c AS (SELECT hk, count(*) AS cnt FROM f GROUP BY hk),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
      |cc AS (SELECT cnt, count(*) AS nk FROM c GROUP BY cnt),
      |cum AS (SELECT cnt, sum(nk) OVER (ORDER BY cnt
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cc),
      |p50 AS (SELECT CAST(min(cnt) AS BIGINT) AS p50_cnt FROM cum, t
      |  WHERE cum >= (n_keys - 1) * 50 // 100 + 1),
      |salt AS (SELECT CAST(least(greatest(max_cnt // greatest(p50_cnt, 1), 1), 64) AS BIGINT) AS salt_factor
      |  FROM t, p50),
      |dim AS (SELECT unnest(range(10)) AS hk),
      |j AS (SELECT f.hk, 'seg_' || f.hk AS segment, cents FROM f JOIN dim d ON f.hk = d.hk)
      |SELECT hk, segment, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  (SELECT salt_factor FROM salt) AS salt_factor
      |FROM j GROUP BY hk, segment ORDER BY hk""".stripMargin

  // ---------------------------------------------------------------
  // MERGE-ON-READ — the other half of the CDC story:
  // [[qMergeUpsert]] is copy-on-write (rewrite the snapshot per
  // batch); MOR instead appends version-stamped deltas and the
  // READER merges — base ∪ deltas, latest version wins per key,
  // tombstones drop. That trade (cheap writes, merge cost at read)
  // is how Hudi/Iceberg MOR tables and every LSM store work. The
  // delta log here is three synthesized generations (v1 price
  // update on keys %7, v2 priority update on %11, v3 tombstone on
  // %13 — later versions override earlier ones where keys overlap,
  // which the %7·%11·%13 intersections exercise). Spark shape: the
  // version pick is one row_number window over the key — a single
  // shuffle of fixed-width rows; at 100 TB the log is tiny next to
  // the base and real readers scope this merge per file group. The
  // gated value aggregates the merged view, so a wrong
  // version-precedence or tombstone bug flips counts and cents.
  def qMergeOnRead(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey").as("key"),
        col("o_totalprice").as("price"), col("o_orderpriority").as("priority"),
        lit(0L).as("version"), lit(false).as("tombstone"))
    import org.apache.spark.sql.Column
    def delta(keyPred: Column, version: Long, price: Column, priority: Column,
        tomb: Boolean) = Tables.orders(s, dir).filter(keyPred)
      .select(col("o_orderkey").as("key"), price.as("price"),
        priority.as("priority"), lit(version).as("version"), lit(tomb).as("tombstone"))
    val deltas =
      delta(col("o_orderkey") % 7 === 0, 1L,
          floor(col("o_totalprice") * 0.9 * 100) / 100, col("o_orderpriority"), tomb = false)
        .unionAll(delta(col("o_orderkey") % 11 === 0, 2L,
          col("o_totalprice"), lit("9-MOR"), tomb = false))
        .unionAll(delta(col("o_orderkey") % 13 === 0, 3L,
          col("o_totalprice"), col("o_orderpriority"), tomb = true))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("version").desc)
    base.unionAll(deltas)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("tombstone"))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("price") * 100).cast("long")).as("sum_cents"))
      .orderBy(col("priority"))
  }

  val qMergeOnReadSql: String =
    """WITH base AS (SELECT o_orderkey AS key, o_totalprice AS price,
      |    o_orderpriority AS priority, 0 AS version, FALSE AS tombstone FROM orders),
      |d1 AS (SELECT o_orderkey, floor(o_totalprice * 0.9 * 100) / 100 AS price,
      |    o_orderpriority, 1 AS version, FALSE AS tombstone FROM orders WHERE o_orderkey % 7 = 0),
      |d2 AS (SELECT o_orderkey, o_totalprice, '9-MOR', 2, FALSE FROM orders WHERE o_orderkey % 11 = 0),
      |d3 AS (SELECT o_orderkey, o_totalprice, o_orderpriority, 3, TRUE FROM orders WHERE o_orderkey % 13 = 0),
      |log AS (SELECT * FROM base UNION ALL SELECT * FROM d1
      |  UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3),
      |merged AS (SELECT key, price, priority, tombstone,
      |  ROW_NUMBER() OVER (PARTITION BY key ORDER BY version DESC) AS rn FROM log)
      |SELECT priority, count(*) AS n_rows,
      |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM merged WHERE rn = 1 AND NOT tombstone
      |GROUP BY priority ORDER BY priority""".stripMargin

  // ---------------------------------------------------------------
  // REFERENTIAL-INTEGRITY AUDIT — the data-quality gate a warehouse
  // runs after every load: each child table's foreign key checked
  // against its parent (orphan count must be zero), plus the
  // cross-modal pairing a training pipeline adds (every document has
  // an embedding and vice versa). Spark shape: one LEFT ANTI join
  // per relation on the key — at 100 TB the parent side is a
  // distinct-key projection (broadcast when it fits, else the bloom
  // prefilter from q37 ahead of the shuffle anti join); only keys
  // move, never payloads. The oracle states the same counts as NOT
  // IN subqueries, so the audit itself is what's gated — a loader
  // bug that orphans rows turns the row red on BOTH engines.
  def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    // NULL keys excluded EXPLICITLY on both sides: a NULL child key
    // never matches an anti join (counted as orphan) while the
    // oracle's NOT IN would yield NULL (counted as 0) — and one NULL
    // parent key makes NOT IN never-true for the whole relation. The
    // audited semantics are "non-null foreign keys without a non-null
    // parent match", stated identically in both engines.
    def check(rel: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child.select(col(childKey).as("k")).filter(col("k").isNotNull)
        .join(parent.select(col(parentKey).as("k")).filter(col("k").isNotNull).distinct(),
          Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"))
    }
    check("1_lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey")
      .unionAll(check("2_orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      .unionAll(check("3_customer_nation", Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey"))
      .unionAll(check("4_documents_embeddings", Tables.documents(s, dir), "doc_id",
        Tables.embeddings(s, dir), "vec_id"))
      .unionAll(check("5_embeddings_documents", Tables.embeddings(s, dir), "vec_id",
        Tables.documents(s, dir), "doc_id"))
      .orderBy(col("relation"))
  }

  val qRefIntegritySql: String =
    """SELECT '1_lineitem_orders' AS relation, count(*) AS n_child,
      |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND l_orderkey NOT IN
      |    (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |FROM lineitem
      |UNION ALL
      |SELECT '2_orders_customer', count(*),
      |  CAST(sum(CASE WHEN o_custkey IS NOT NULL AND o_custkey NOT IN
      |    (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT '3_customer_nation', count(*),
      |  CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND c_nationkey NOT IN
      |    (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT)
      |FROM customer
      |UNION ALL
      |SELECT '4_documents_embeddings', count(*),
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND doc_id NOT IN
      |    (SELECT vec_id FROM embeddings WHERE vec_id IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT)
      |FROM documents
      |UNION ALL
      |SELECT '5_embeddings_documents', count(*),
      |  CAST(sum(CASE WHEN vec_id IS NOT NULL AND vec_id NOT IN
      |    (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) THEN 1 ELSE 0 END) AS BIGINT)
      |FROM embeddings
      |ORDER BY relation""".stripMargin

  // ---------------------------------------------------------------
  // TABLE STATS COLLECTION — the ANALYZE pass that feeds a
  // cost-based optimizer: per-column row count, exact NDV, min/max,
  // null count. Exact NDV on purpose (the oracle must match);
  // production at 100 TB swaps in approx_count_distinct and the
  // query shape is unchanged — one pass per column batch, partial
  // aggregates, a |columns|-row result. These are the numbers that
  // decide broadcast-vs-shuffle and join order up the stack.
  def qAnalyze(s: SparkSession, dir: String): DataFrame = {
    def statsFor(c: String) = Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col(c)).as("ndv"),
      min(col(c)).cast("long").as("min_v"),
      max(col(c)).cast("long").as("max_v"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"))
      .select(lit(c).as("col"), col("n_rows"), col("ndv"),
        col("min_v"), col("max_v"), col("n_null"))
    statsFor("o_custkey").unionAll(statsFor("o_orderkey")).orderBy(col("col"))
  }

  val qAnalyzeSql: String =
    """SELECT 'o_custkey' AS col, count(*) AS n_rows,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
      |  CAST(min(o_custkey) AS BIGINT) AS min_v, CAST(max(o_custkey) AS BIGINT) AS max_v,
      |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
      |FROM orders
      |UNION ALL
      |SELECT 'o_orderkey', count(*), CAST(count(DISTINCT o_orderkey) AS BIGINT),
      |  CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT),
      |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders ORDER BY col""".stripMargin

  // ---------------------------------------------------------------
  // WRITE-AUDIT-PUBLISH — the table-maintenance pattern that stops a
  // bad batch from ever becoming visible: a candidate table version
  // is WRITTEN to an isolated branch (the DirSink staged-commit
  // machinery), AUDITED against its contract (row count + null scan —
  // the audit is a query over the branch, not the main table), and
  // only then PUBLISHED by one atomic manifest flip
  // ([[graft.sources.DirSink.publishFrom]]); a failing audit deletes
  // the branch and the live table never moves. The gate runs BOTH
  // paths: version A (clean, 150k rows) audits green and publishes
  // over the seed version; version B (1%-nulled val column) audits
  // red and is dropped — the read-back must equal exactly version A,
  // and the two audit verdicts ride as gated columns. At 100 TB this
  // is the difference between "validated before visible" and a
  // rollback scramble; the publish cost is one rename regardless of
  // table size.
  def qWap(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DirSink
    val base = graft.GraftSession.scratchDir("graft_wap_")
    val main = base.resolve("main").toString
    def rows(a: Long, b: Long, nullEvery: Option[Long]) = {
      val r = s.read.format("graft.sources.RangeTableProvider")
        .option("start", a.toString).option("end", b.toString).option("slices", "8")
        .load()
      nullEvery match {
        case Some(k) => r.select(col("id"), col("bucket"),
          when(col("id") % k === 0, lit(null).cast("long"))
            .otherwise(col("val")).as("val"))
        case None => r.select(col("id"), col("bucket"), col("val"))
      }
    }
    def writeBranch(name: String, df: DataFrame): String = {
      val b = base.resolve(name).toString
      df.write.format("graft.sources.DirSinkProvider")
        .option("path", b).mode("overwrite").save()
      b
    }
    // the audit contract: exact expected cardinality, zero nulls
    def audit(branch: String, expectRows: Long): Boolean = {
      val m = s.read.format("graft.sources.DirSinkProvider")
        .option("path", branch).load()
        .agg(count(lit(1)).as("n"), count(col("val")).as("nn")).collect()(0)
      m.getLong(0) == expectRows && m.getLong(1) == expectRows
    }
    try {
      // seed version already live
      DirSink.publishFrom(writeBranch("seed", rows(0, 50000, None)), main)
      // version A: clean full rewrite -> audit green -> publish
      val brA = writeBranch("vA", rows(0, 150000, None))
      val okA = audit(brA, 150000L)
      if (okA) DirSink.publishFrom(brA, main)
      // version B: 1%-corrupted rewrite -> audit red -> dropped
      val brB = writeBranch("vB", rows(0, 100000, Some(97L)))
      val okB = audit(brB, 100000L)
      if (okB) DirSink.publishFrom(brB, main)
      else graft.GraftSession.sweep(java.nio.file.Paths.get(brB))
      s.read.format("graft.sources.DirSinkProvider").option("path", main).load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("val")).cast("long").as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .withColumn("published_a", lit(okA))
        .withColumn("published_b", lit(okB))
        .orderBy(col("bucket"))
        .localCheckpoint(true) // sever lineage so the temp dirs can go
    } finally graft.GraftSession.sweep(base)
  }

  val qWapSql: String =
    """SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
      |  min(i) AS min_id, max(i) AS max_id,
      |  true AS published_a, false AS published_b
      |FROM range(0, 150000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // BLOOM FILE-SKIP INDEX — the data-skipping layer between min/max
  // zone maps (maint_zorder) and a full inverted index: one Bloom
  // filter PER DATA FILE over a point-lookup column (o_custkey; the
  // files are o_orderkey ranges, so min/max stats can't skip for a
  // custkey probe — exactly when parquet/Delta bloom indexes earn
  // their bytes). Deterministic by construction: h = md5-derived
  // 48-bit int, positions via the engine's standard affine family
  // (1+2k)h+(17+k) mod 2^31−1 mod 32768 (the sketch_bloom_fpr /
  // CMS convention), so DuckDB replays the index bit-for-bit. The
  // gate probes 12 md5-chosen existing customers + 3 nonexistent
  // keys and ships per-probe: files the bloom would touch (n_hit),
  // files that truly contain the key (n_true), false positives,
  // MISSED files (must be 0 — a bloom may over-read, never
  // under-read), and files skipped. A hit requires every one of the
  // probe's DISTINCT positions set (nhit == npos, not == K: two of
  // a key's K positions can collide, and requiring K would turn a
  // collision into a false negative on both engines).
  // Scale shape: the index build is one scan + one (file, pos)
  // dedup shuffle; probes broadcast; at 100 TB the bits table is
  // metadata (files × ≤M rows) and a point lookup plans from it
  // without touching data files.
  private val MersenneP = 2147483647L
  private val BfsM = 32768L
  private val BfsK = 3
  private val BfsWidth = 1024L
  private val BfsProbes = 12

  def qBloomFileSkip(s: SparkSession, dir: String): DataFrame = {
    val P = MersenneP
    def posOf(kCol: String, hCol: String) =
      expr(s"((1 + 2*$kCol) * ($hCol % $P) + (17 + $kCol)) % $P % $BfsM")
    def hOf(c: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(c.cast("string"), lit(":bfs"))), 1, 12), 16, 10)
        .cast("long")
    val f = Tables.orders(s, dir)
      .select(expr(s"o_orderkey div $BfsWidth").as("file_id"),
        col("o_custkey"), hOf(col("o_custkey")).as("h"))
      .localCheckpoint()
    val ks = broadcast(s.range(BfsK).toDF("k"))
    val bits = f.select(col("file_id"), col("h")).dropDuplicates("file_id", "h")
      .crossJoin(ks)
      .select(col("file_id"), posOf("k", "h").as("pos"))
      .dropDuplicates("file_id", "pos")
      .localCheckpoint()
    val nFiles = f.agg(countDistinct(col("file_id")).as("n_files"))
    val existing = f.select(col("o_custkey")).dropDuplicates("o_custkey")
      .orderBy(md5(concat(col("o_custkey").cast("string"), lit(":probe"))))
      .limit(BfsProbes)
      .select(col("o_custkey").as("probe"))
    val missing = f.agg(max(col("o_custkey")).as("mc"))
      .crossJoin(broadcast(s.range(1, 4).toDF("x")))
      .select((col("mc") + col("x")).as("probe"))
    val probes = existing.unionAll(missing)
      .select(col("probe"), hOf(col("probe")).as("h"))
      .localCheckpoint()
    val ppos = probes.crossJoin(ks)
      .select(col("probe"), posOf("k", "h").as("pos"))
      .dropDuplicates("probe", "pos")
    val npos = ppos.groupBy(col("probe")).agg(count(lit(1)).as("npos"))
    // bloom verdict per (probe, file): every distinct position set
    val hits = broadcast(ppos).join(bits, "pos")
      .groupBy(col("probe"), col("file_id")).agg(count(lit(1)).as("nhit"))
      .join(broadcast(npos), "probe")
      .filter(col("nhit") === col("npos"))
      .select(col("probe"), col("file_id"))
      .localCheckpoint()
    val truth = broadcast(probes.select(col("probe")))
      .join(f, col("probe") === col("o_custkey"))
      .select(col("probe"), col("file_id")).dropDuplicates("probe", "file_id")
      .localCheckpoint()
    val nHit = hits.groupBy(col("probe")).agg(count(lit(1)).as("n_hit"))
    val nTrue = truth.groupBy(col("probe")).agg(count(lit(1)).as("n_true"))
    val nBoth = truth.join(hits, Seq("probe", "file_id"))
      .groupBy(col("probe")).agg(count(lit(1)).as("n_both"))
    probes.select(col("probe"))
      .join(nHit, Seq("probe"), "left").join(nTrue, Seq("probe"), "left")
      .join(nBoth, Seq("probe"), "left")
      .crossJoin(broadcast(nFiles))
      .select(col("probe"), col("n_files").cast("long").as("n_files"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        (coalesce(col("n_hit"), lit(0L)) - coalesce(col("n_true"), lit(0L))).as("n_fp"),
        (coalesce(col("n_true"), lit(0L)) - coalesce(col("n_both"), lit(0L))).as("n_missed"),
        (col("n_files") - coalesce(col("n_hit"), lit(0L))).cast("long").as("n_skipped"))
      .orderBy(col("probe"))
  }

  val qBloomFileSkipSql: String =
    s"""WITH f AS MATERIALIZED (SELECT o_orderkey // $BfsWidth AS file_id, o_custkey,
       |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':bfs'), 1, 12))::BIGINT AS h
       |  FROM orders),
       |bits AS MATERIALIZED (
       |  SELECT DISTINCT file_id, ((1 + 2*k) * (h % $MersenneP) + (17 + k)) % $MersenneP % $BfsM AS pos
       |  FROM (SELECT DISTINCT file_id, h FROM f), (SELECT unnest(range($BfsK)) AS k)),
       |nf AS (SELECT count(DISTINCT file_id) AS n_files FROM f),
       |probes AS MATERIALIZED (
       |  SELECT o_custkey AS probe,
       |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':bfs'), 1, 12))::BIGINT AS h
       |  FROM (SELECT DISTINCT o_custkey FROM f
       |        ORDER BY md5(CAST(o_custkey AS VARCHAR) || ':probe') LIMIT $BfsProbes)
       |  UNION ALL
       |  SELECT mc + x, ('0x' || substr(md5(CAST(mc + x AS VARCHAR) || ':bfs'), 1, 12))::BIGINT
       |  FROM (SELECT max(o_custkey) AS mc FROM f), (SELECT unnest([1,2,3]) AS x)),
       |ppos AS MATERIALIZED (SELECT DISTINCT probe,
       |    ((1 + 2*k) * (h % $MersenneP) + (17 + k)) % $MersenneP % $BfsM AS pos
       |  FROM probes, (SELECT unnest(range($BfsK)) AS k)),
       |np AS (SELECT probe, count(*) AS npos FROM ppos GROUP BY 1),
       |hits AS MATERIALIZED (SELECT p.probe, b.file_id
       |  FROM ppos p JOIN bits b ON b.pos = p.pos
       |  GROUP BY p.probe, b.file_id
       |  HAVING count(*) = (SELECT npos FROM np WHERE np.probe = p.probe)),
       |truth AS MATERIALIZED (SELECT DISTINCT probes.probe, f.file_id
       |  FROM probes JOIN f ON f.o_custkey = probes.probe),
       |nh AS (SELECT probe, count(*) AS n_hit FROM hits GROUP BY 1),
       |nt AS (SELECT probe, count(*) AS n_true FROM truth GROUP BY 1),
       |nb AS (SELECT t.probe, count(*) AS n_both FROM truth t
       |  JOIN hits h ON h.probe = t.probe AND h.file_id = t.file_id GROUP BY 1)
       |SELECT p.probe, (SELECT CAST(n_files AS BIGINT) FROM nf) AS n_files,
       |  CAST(COALESCE(nh.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(nt.n_true, 0) AS BIGINT) AS n_true,
       |  CAST(COALESCE(nh.n_hit, 0) - COALESCE(nt.n_true, 0) AS BIGINT) AS n_fp,
       |  CAST(COALESCE(nt.n_true, 0) - COALESCE(nb.n_both, 0) AS BIGINT) AS n_missed,
       |  CAST((SELECT n_files FROM nf) - COALESCE(nh.n_hit, 0) AS BIGINT) AS n_skipped
       |FROM probes p
       |LEFT JOIN nh ON nh.probe = p.probe
       |LEFT JOIN nt ON nt.probe = p.probe
       |LEFT JOIN nb ON nb.probe = p.probe
       |ORDER BY p.probe""".stripMargin

  // ---------------------------------------------------------------
  // TIME TRAVEL — versioned reads over the manifest sink (the
  // Delta/Iceberg snapshot contract, from scratch): every commit
  // under keep_versions=true archives its just-published manifest as
  // an immutable `v<n>`, truncate-overwrites RETAIN superseded data
  // files (archived manifests still reference them; expiry belongs
  // to maintenance, not commits), and a read pins `version=n` to
  // plan exactly that snapshot's files. The gate drives
  // overwrite → append → truncate-overwrite and then reads all three
  // versions PLUS the live table: v1/v2 must still aggregate to
  // their full closed forms AFTER v3's truncate (the retention
  // proof), and latest must equal v3 (the live pointer). The same
  // discipline at 100 TB is what makes reproducible training runs
  // possible — a dataset version pin instead of "whatever the table
  // is today".
  private val TtV1End = 60000L
  private val TtV2End = 90000L
  private val TtV3End = 20000L

  def qTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.scratchDir("graft_dirsink_tt_")
    val tmp = base.toString
    def rows(a: Long, b: Long) = s.read.format("graft.sources.RangeTableProvider")
      .option("start", a.toString).option("end", b.toString).option("slices", "8")
      .load()
    def write(df: DataFrame, mode: String): Unit =
      df.write.format("graft.sources.DirSinkProvider")
        .option("path", tmp).option("keep_versions", "true")
        .mode(mode).save()
    def back(scope: String, version: Option[Int]) = {
      val r = s.read.format("graft.sources.DirSinkProvider").option("path", tmp)
      version.foreach(v => r.option("version", v.toString))
      r.load()
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("val")).cast("long").as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .select(lit(scope).as("scope"), col("n"), col("sum_val"),
          col("min_id"), col("max_id"))
    }
    try {
      write(rows(0, TtV1End), "overwrite") // v1
      write(rows(TtV1End, TtV2End), "append") // v2 = [0, 90000)
      write(rows(0, TtV3End), "overwrite") // v3 truncates; v1/v2 files retained
      back("v1", Some(1))
        .unionAll(back("v2", Some(2)))
        .unionAll(back("v3", Some(3)))
        .unionAll(back("latest", None))
        .orderBy(col("scope"))
        .localCheckpoint(true) // sever lineage so the temp dir can go
    } finally graft.GraftSession.sweep(base)
  }

  val qTimeTravelSql: String =
    s"""WITH v AS (
       |  SELECT 'v1' AS scope, 0 AS lo, $TtV1End AS hi UNION ALL
       |  SELECT 'v2', 0, $TtV2End UNION ALL
       |  SELECT 'v3', 0, $TtV3End UNION ALL
       |  SELECT 'latest', 0, $TtV3End)
       |SELECT scope, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM v JOIN range(0, $TtV2End) t(i) ON i >= lo AND i < hi
       |GROUP BY scope ORDER BY scope""".stripMargin

  // ---------------------------------------------------------------
  // INCREMENTAL VIEW MAINTENANCE — the aggregate-state merge that
  // keeps a materialized rollup current WITHOUT recomputing it: the
  // base snapshot's partial aggregates (n, sum, min, max per
  // (priority, status) — all self-mergeable states) FULL-OUTER merge
  // with the delta batch's partials via coalesce-arithmetic, exactly
  // how Spark's own partial→final aggregation merges map-side states
  // across partitions — lifted one level, across TIME. The delta
  // deliberately INTRODUCES a group the base never saw ('1-URGENT'
  // is withheld from the snapshot), so the merge's null-handling is
  // load-bearing, and the gate compares the merged view against the
  // full recompute group-by-group (`ivm_matches` must be 1
  // everywhere — the oracle asserts the constant). At 100 TB this is
  // the difference between touching the delta and touching the
  // corpus: the merge's cost is |delta| + |view|, never |base|.
  def qIvm(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"),
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val inBase = col("k") % 5 =!= 0 && col("pri") =!= "1-URGENT"
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("pri"), col("st"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
    val baseView = agg(o.filter(inBase)).localCheckpoint() // the materialized view
    val deltaAgg = agg(o.filter(!inBase))
    val merged = baseView
      .select(col("pri"), col("st"), col("n").as("bn"), col("sum_cents").as("bs"),
        col("min_key").as("bmin"), col("max_key").as("bmax"))
      .join(deltaAgg
        .select(col("pri"), col("st"), col("n").as("dn"), col("sum_cents").as("ds"),
          col("min_key").as("dmin"), col("max_key").as("dmax")),
        Seq("pri", "st"), "full_outer")
      .select(col("pri"), col("st"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L))).as("sum_cents"),
        least(coalesce(col("bmin"), col("dmin")), coalesce(col("dmin"), col("bmin")))
          .as("min_key"),
        greatest(coalesce(col("bmax"), col("dmax")), coalesce(col("dmax"), col("bmax")))
          .as("max_key"))
    val full = agg(o)
      .select(col("pri"), col("st"), col("n").as("fn"), col("sum_cents").as("fs"),
        col("min_key").as("fmin"), col("max_key").as("fmax"))
    merged.join(full, Seq("pri", "st"), "full_outer")
      .select(col("pri"), col("st"), col("n"), col("sum_cents"),
        col("min_key"), col("max_key"),
        (col("n") === col("fn") && col("sum_cents") === col("fs") &&
          col("min_key") === col("fmin") && col("max_key") === col("fmax"))
          .cast("long").as("ivm_matches"))
      .orderBy(col("pri"), col("st"))
  }

  val qIvmSql: String =
    """SELECT o_orderpriority AS pri, o_orderstatus AS st,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  CAST(1 AS BIGINT) AS ivm_matches
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "maint_ivm" -> (qIvm _),
    "maint_time_travel" -> (qTimeTravel _),
    "maint_bloom_file_skip" -> (qBloomFileSkip _),
    "maint_wap" -> (qWap _),
    "maint_fingerprint" -> (qFingerprint _),
    "maint_dpp" -> (qDpp _),
    "maint_retention" -> (qRetentionExpire _),
    "maint_analyze" -> (qAnalyze _),
    "maint_compact" -> (qCompact _),
    "maint_vacuum" -> (qVacuum _),
    "maint_ref_integrity" -> (qRefIntegrity _),
    "maint_merge_on_read" -> (qMergeOnRead _),
    "maint_skew_report" -> (qSkewReport _),
    "maint_salted_from_stats" -> (qSaltedFromStats _),
    "maint_merge_upsert" -> (qMergeUpsert _),
    "maint_snapshot_diff" -> (qSnapshotDiff _),
    "maint_zorder" -> (qZOrder _),
    "maint_schema_evolve" -> (qSchemaEvolve _))

  val oracles: Map[String, String] = Map(
    "maint_ivm" -> qIvmSql,
    "maint_bloom_file_skip" -> qBloomFileSkipSql,
    "maint_time_travel" -> qTimeTravelSql,
    "maint_wap" -> qWapSql,
    "maint_fingerprint" -> qFingerprintSql,
    "maint_dpp" -> qDppSql,
    "maint_retention" -> qRetentionExpireSql,
    "maint_analyze" -> qAnalyzeSql,
    "maint_compact" -> qCompactSql,
    "maint_vacuum" -> qVacuumSql,
    "maint_ref_integrity" -> qRefIntegritySql,
    "maint_merge_on_read" -> qMergeOnReadSql,
    "maint_skew_report" -> qSkewReportSql,
    "maint_salted_from_stats" -> qSaltedFromStatsSql,
    "maint_merge_upsert" -> qMergeUpsertSql,
    "maint_snapshot_diff" -> qSnapshotDiffSql,
    "maint_zorder" -> qZOrderSql,
    "maint_schema_evolve" -> qSchemaEvolveSql)
}
