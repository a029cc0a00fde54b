package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Normalize

/** The reference's normalization operators (SURVEY.md §2.2 F1–F5)
  * exposed as an oracle-checkable query: deterministic dirty inputs
  * are synthesized from the customer table and pushed through the
  * same `Normalize` expressions the ETL sources use, with the DuckDB
  * oracle re-implementing each rule in SQL. Exercises postcode,
  * phone, credit-limit (incl. comma decimals and unparsable →
  * "0.00"), birthday (all three formats + passthrough), and trim.
  */
object EtlQueries {

  def qNormalize(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val ck = col("c_custkey")
    val raw = c.select(
      ck,
      concat(lit("  "), lower(col("c_mktsegment")), lit(" "), (ck % 100).cast("string"), lit(" ")).as("pc_raw"),
      when(ck % 2 === 0, concat(lit("+31 6 "), ck.cast("string"), lit("-"), col("c_nationkey").cast("string")))
        .otherwise(concat(lit("0"), ck.cast("string"), lit(" "), col("c_nationkey").cast("string"))).as("ph_raw"),
      when(ck % 10 === 0, lit("NOTANUMBER"))
        .otherwise(concat((ck % 1000).cast("string"), lit(","), (ck % 100).cast("string"))).as("money_raw"),
      when(ck % 10 === 0, lit("someday maybe"))
        .when(ck % 3 === 0, concat((ck % 28 + 1).cast("string"), lit("/"), (ck % 12 + 1).cast("string"), lit("/19"), (ck % 20 + 80).cast("string")))
        .when(ck % 3 === 1, concat(lit("19"), (ck % 20 + 80).cast("string"),
          lpad((ck % 12 + 1).cast("string"), 2, "0"), lpad((ck % 28 + 1).cast("string"), 2, "0")))
        .otherwise(concat(lit("19"), (ck % 20 + 80).cast("string"), lit("-"), (ck % 12 + 1).cast("string"), lit("-"), (ck % 28 + 1).cast("string"))).as("date_raw"),
      concat(lit("  "), col("c_name"), lit("  ")).as("text_raw"))
    raw.select(
      ck.as("c_custkey"),
      Normalize.postcode(col("pc_raw")).as("postcode_norm"),
      Normalize.phone(col("ph_raw")).as("phone_norm"),
      Normalize.creditLimit(col("money_raw")).as("money_norm"),
      Normalize.birthday(col("date_raw")).as("date_norm"),
      Normalize.text(col("text_raw")).as("text_norm"))
      .orderBy(ck)
  }

  val qNormalizeSql: String =
    """WITH raw AS (
      |  SELECT c_custkey,
      |    '  ' || lower(c_mktsegment) || ' ' || CAST(c_custkey % 100 AS VARCHAR) || ' ' AS pc_raw,
      |    CASE WHEN c_custkey % 2 = 0
      |         THEN '+31 6 ' || CAST(c_custkey AS VARCHAR) || '-' || CAST(c_nationkey AS VARCHAR)
      |         ELSE '0' || CAST(c_custkey AS VARCHAR) || ' ' || CAST(c_nationkey AS VARCHAR) END AS ph_raw,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'NOTANUMBER'
      |         ELSE CAST(c_custkey % 1000 AS VARCHAR) || ',' || CAST(c_custkey % 100 AS VARCHAR) END AS money_raw,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'someday maybe'
      |         WHEN c_custkey % 3 = 0 THEN CAST(c_custkey % 28 + 1 AS VARCHAR) || '/' || CAST(c_custkey % 12 + 1 AS VARCHAR) || '/19' || CAST(80 + c_custkey % 20 AS VARCHAR)
      |         WHEN c_custkey % 3 = 1 THEN '19' || CAST(80 + c_custkey % 20 AS VARCHAR) || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
      |         ELSE '19' || CAST(80 + c_custkey % 20 AS VARCHAR) || '-' || CAST(c_custkey % 12 + 1 AS VARCHAR) || '-' || CAST(c_custkey % 28 + 1 AS VARCHAR) END AS date_raw,
      |    '  ' || c_name || '  ' AS text_raw
      |  FROM customer)
      |SELECT c_custkey,
      |  upper(regexp_replace(trim(pc_raw), '\s+', '', 'g')) AS postcode_norm,
      |  CASE WHEN starts_with(trim(ph_raw), '+')
      |       THEN '+' || regexp_replace(substr(trim(ph_raw), 2), '[^0-9]', '', 'g')
      |       ELSE regexp_replace(trim(ph_raw), '[^0-9]', '', 'g') END AS phone_norm,
      |  CASE WHEN regexp_extract(regexp_replace(trim(money_raw), ',', '.'), '^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?', 0) = ''
      |       THEN '0.00'
      |       ELSE CAST(CAST(regexp_extract(regexp_replace(trim(money_raw), ',', '.'), '^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?', 0) AS DECIMAL(38,2)) AS VARCHAR) END AS money_norm,
      |  CASE WHEN regexp_matches(trim(date_raw), '^(\d{1,2})/(\d{1,2})/(\d{4})$')
      |       THEN regexp_extract(trim(date_raw), '^(\d{1,2})/(\d{1,2})/(\d{4})$', 3) || '-' ||
      |            lpad(regexp_extract(trim(date_raw), '^(\d{1,2})/(\d{1,2})/(\d{4})$', 2), 2, '0') || '-' ||
      |            lpad(regexp_extract(trim(date_raw), '^(\d{1,2})/(\d{1,2})/(\d{4})$', 1), 2, '0')
      |       WHEN regexp_matches(trim(date_raw), '^(\d{4})(\d{2})(\d{2})$')
      |       THEN regexp_extract(trim(date_raw), '^(\d{4})(\d{2})(\d{2})$', 1) || '-' ||
      |            regexp_extract(trim(date_raw), '^(\d{4})(\d{2})(\d{2})$', 2) || '-' ||
      |            regexp_extract(trim(date_raw), '^(\d{4})(\d{2})(\d{2})$', 3)
      |       WHEN regexp_matches(trim(date_raw), '^(\d{4})-(\d{1,2})-(\d{1,2})$')
      |       THEN regexp_extract(trim(date_raw), '^(\d{4})-(\d{1,2})-(\d{1,2})$', 1) || '-' ||
      |            lpad(regexp_extract(trim(date_raw), '^(\d{4})-(\d{1,2})-(\d{1,2})$', 2), 2, '0') || '-' ||
      |            lpad(regexp_extract(trim(date_raw), '^(\d{4})-(\d{1,2})-(\d{1,2})$', 3), 2, '0')
      |       ELSE trim(date_raw) END AS date_norm,
      |  trim(text_raw) AS text_norm
      |FROM raw ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // CORRUPT-RECORD QUARANTINE — the resilient-ingest contract: a
  // malformed row must never fail the job OR silently vanish; it
  // routes to a quarantine channel with the clean rows unaffected.
  // A CSV rendering of `orders` (deterministically corrupted: every
  // 13th key's money field becomes unparsable) is read back under
  // PERMISSIVE mode with `columnNameOfCorruptRecord`, and the query
  // accounts for every input row: parsed count + exact parsed-cents
  // sum on one side, quarantined count + a key checksum recovered
  // FROM THE RAW QUARANTINED TEXT on the other (proving the corrupt
  // channel carries the full original line, not a null husk).
  //
  // Scale shape: the permissive parse is map-only (each task
  // quarantines locally — no coordination), and the accounting is a
  // single-row partial aggregate. The same pattern at 100 TB writes
  // the `_corrupt IS NOT NULL` slice to a quarantine sink with
  // observability counts — this query gates the counts.
  @volatile private var quarantineFor: (SparkSession, String) = null

  private def quarantineCsvPath(s: SparkSession, dir: String): String = synchronized {
    val path = graft.GraftSession.warehouseRoot(s) + s"/quarantine_csv"
    if (quarantineFor == ((s, dir))) return path
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 13 === 0, lit("N/A"))
          .otherwise(round(col("o_totalprice") * 100).cast("long").cast("string"))
          .as("cents"))
      .write.mode("overwrite").csv(path)
    quarantineFor = (s, dir)
    path
  }

  def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = quarantineCsvPath(s, dir)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("ck", LongType),
      StructField("cents", LongType), StructField("_corrupt", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .select(col("k"), col("cents"), col("_corrupt"),
        // the quarantined line is the raw original: recover its key
        split(col("_corrupt"), ",").getItem(0).cast("long").as("qk"))
      .agg(
        sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_parsed"),
        sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
        sum(when(col("_corrupt").isNull, col("cents")).otherwise(0L)).as("sum_cents_parsed"),
        sum(coalesce(col("qk"), lit(0L))).as("sum_quarantined_keys"))
  }

  val qQuarantineSql: String =
    """WITH c AS (SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
      |SELECT
      |  CAST(sum(CASE WHEN k % 13 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
      |  CAST(sum(CASE WHEN k % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
      |  CAST(sum(CASE WHEN k % 13 <> 0 THEN cents ELSE 0 END) AS BIGINT) AS sum_cents_parsed,
      |  CAST(sum(CASE WHEN k % 13 = 0 THEN k ELSE 0 END) AS BIGINT) AS sum_quarantined_keys
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // SOURCE-FORMAT ROUNDTRIPS — the interchange formats an engine must
  // read beyond its native parquet: JSON-lines (the log/API format)
  // and ORC (the other columnar warehouse format, with its own
  // predicate pushdown). Each query writes a projection of `events`
  // in the format, reads it back, and aggregates; the oracle computes
  // the same aggregate from the parquet original, so a fidelity bug
  // anywhere in the write→read loop (type mapping, timestamp
  // encoding, nullability) turns the row red. Timestamps cross the
  // JSON boundary as explicit µs longs — JSON has no timestamp type,
  // and gating that choice documents it. The ORC read keeps its
  // column pruning + pushdown (same FileScan surface as parquet).
  @volatile private var roundtripFor: (SparkSession, String) = null

  private def roundtripPaths(s: SparkSession, dir: String): (String, String) = synchronized {
    val base = graft.GraftSession.warehouseRoot(s)
    val (jsonPath, orcPath) = (s"$base/events_jsonl", s"$base/events_orc")
    if (roundtripFor == ((s, dir))) return (jsonPath, orcPath)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(jsonPath, orcPath).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      round(col("value") * 100).cast("long").as("cents"))
    ev.write.mode("overwrite").json(jsonPath)
    ev.write.mode("overwrite").orc(orcPath)
    roundtripFor = (s, dir)
    (jsonPath, orcPath)
  }

  private def roundtripAgg(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_ids"),
        sum(col("cents")).as("sum_cents"),
        min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"))
      .orderBy(col("event_type"))

  def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val (jsonPath, _) = roundtripPaths(s, dir)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts_us", LongType),
      StructField("cents", LongType)))
    roundtripAgg(s.read.schema(schema).json(jsonPath))
  }

  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val (_, orcPath) = roundtripPaths(s, dir)
    // ORC carries its own schema; the filter proves pushdown survives
    // the format (PushedFilters on the ORC scan, same as parquet)
    roundtripAgg(s.read.orc(orcPath).filter(col("event_id") >= 0))
  }

  private val roundtripOracle: String =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(event_id) AS BIGINT) AS sum_ids,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_normalize" -> (qNormalize _),
    "etl_quarantine" -> (qQuarantine _),
    "src_json_roundtrip" -> (qJsonRoundtrip _),
    "src_orc_roundtrip" -> (qOrcRoundtrip _),
    "src_range_pushdown" -> (qRangePushdown _),
    "src_range_agg_pushdown" -> (qRangeAggPushdown _),
    "src_range_group_pushdown" -> (qRangeGroupPushdown _),
    "src_range_join" -> (qRangeJoin _),
    "src_range_runtime_filter" -> (qRangeRuntimeFilter _),
    "src_range_topn_pushdown" -> (qRangeTopnPushdown _),
    "src_range_write" -> (qRangeWrite _),
    "src_catalog_sql" -> (qCatalogSql _),
    "src_range_metadata_cols" -> (qRangeMetadataCols _),
    "src_range_spj" -> (qRangeSpj _),
    "src_range_write_clustered" -> (qRangeWriteClustered _),
    "src_range_stats" -> (qRangeStats _),
    "src_catalog_agg_fn" -> (qCatalogAggFn _),
    "src_catalog_managed" -> (qCatalogManaged _),
    "src_catalog_merge" -> (qCatalogMerge _),
    "src_catalog_update" -> (qCatalogUpdate _),
    "src_catalog_procedure" -> (qCatalogProcedure _))

  // ---------------------------------------------------------------
  // CUSTOM DATASOURCE V2 gate — reads the from-scratch
  // [[graft.sources.RangeTableProvider]] (filter pushdown, slice-grid
  // partition pruning, column pruning; see its Scaladoc) through an
  // id-range filter and aggregates. The filter prunes 8 of 16 input
  // partitions at PLANNING time (plan-asserted in ExtensionSpec); the
  // oracle regenerates the same rows from DuckDB's range() — exact
  // integer arithmetic on both engines, so the gate checks the whole
  // pushdown → prune → generate loop value-for-value. The `dir`
  // parameter is unused: the source is synthetic by design.
  private val RangeLo = 250000L
  private val RangeHi = 750000L

  def qRangePushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "1000000").option("slices", "16")
      .load()
      .filter(col("id") >= RangeLo && col("id") < RangeHi)
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("val")).cast("long").as("sum_val"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("bucket"))

  private val rangePushdownOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range($RangeLo, $RangeHi) t(i)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 AGGREGATE PUSHDOWN — COUNT(*)/MIN(id)/MAX(id) answered by
  // the SOURCE at planning time (SupportsPushDownAggregates with
  // complete pushdown: the physical plan is a bare Project over the
  // BatchScan, NO aggregate node — plan-asserted in ExtensionSpec),
  // the DSv2 analogue of answering from parquet footer statistics.
  // Three scopes gate the interplay with filter pushdown: the full
  // range, a clipped window (bounds land in the scan, the aggregate
  // reads the clipped [lo,hi)), and an empty range (count 0 with
  // NULL min/max — SQL aggregate semantics through the one-row
  // reader). At 100 TB this is the difference between a metadata
  // lookup and a full scan.
  private val AggLo = 25000L
  private val AggHi = 75000L

  def qRangeAggPushdown(s: SparkSession, dir: String): DataFrame = {
    def rt = s.read.format("graft.sources.RangeTableProvider")
      .option("start", "1000").option("end", "101000").option("slices", "16")
      .load()
    def aggOf(df: DataFrame, scope: String) = df
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .select(lit(scope).as("scope"), col("n"), col("min_id"), col("max_id"))
    aggOf(rt, "full")
      .unionAll(aggOf(rt.filter(col("id") >= AggLo && col("id") < AggHi), "window"))
      .unionAll(aggOf(rt.filter(col("id") < 0), "empty"))
      .orderBy(col("scope"))
  }

  private val rangeAggPushdownOracle: String =
    s"""SELECT scope, CAST(n AS BIGINT) AS n, min_id, max_id FROM (
       |  SELECT 'full' AS scope, count(*) AS n, min(i) AS min_id, max(i) AS max_id
       |  FROM range(1000, 101000) t(i)
       |  UNION ALL
       |  SELECT 'window', count(*), min(i), max(i)
       |  FROM range(1000, 101000) t(i) WHERE i >= $AggLo AND i < $AggHi
       |  UNION ALL
       |  SELECT 'empty', count(*), min(i), max(i)
       |  FROM range(1000, 101000) t(i) WHERE i < 0
       |) ORDER BY scope""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 GROUP-BY AGGREGATE PUSHDOWN — the grouped variant: GROUP BY
  // bucket with count/min/max(id) is ALSO complete-pushable because
  // each bucket's members over a contiguous id range are an
  // arithmetic progression (first/last/cardinality in closed form).
  // The source emits one row per non-empty group; the plan carries
  // `groupBy=bucket complete` and again no aggregate node. The odd
  // window end (75003) makes three buckets one row longer — gating
  // that the modular arithmetic, not a uniform-split shortcut, is
  // what answers the query.
  private val GrpHi = 75003L

  def qRangeGroupPushdown(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.RangeTableProvider")
      .option("start", "1000").option("end", "101000").option("slices", "16")
      .load()
      .filter(col("id") >= AggLo && col("id") < GrpHi)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("bucket"))

  private val rangeGroupPushdownOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range(1000, 101000) t(i) WHERE i >= $AggLo AND i < $GrpHi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 SOURCE JOINED TO A PARQUET FACT — the scan-prune gate
  // composed into real work: the range table plays a key manifest
  // (id, bucket, val) enriching the orders fact on o_orderkey, with
  // the id bound pushed INTO the custom scan so only 4 of 16 planned
  // slices exist before the join (the DPP analogue for a DSv2
  // source; `slices=4/16` is plan-asserted in ExtensionSpec). The
  // pruned manifest side (bound rows, fixed width) BROADCASTS and the
  // fact streams map-side — at 100 TB the fact never shuffles for a
  // manifest-bounded enrich. The oracle regenerates the manifest from
  // range() and joins the same parquet fact, gating pushdown → prune
  // → generate → join end-to-end.
  private val RangeJoinEnd = 60000L
  private val RangeJoinBound = 15000L

  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val manifest = s.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", RangeJoinEnd.toString).option("slices", "16")
      .load()
      .filter(col("id") < RangeJoinBound)
    val orders = Tables.orders(s, dir).select(col("o_orderkey"))
    broadcast(manifest).join(orders, col("id") === col("o_orderkey"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("val")).cast("long").as("sum_val"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  private val rangeJoinOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range(0, $RangeJoinBound) t(i)
       |JOIN orders o ON o.o_orderkey = i
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 LIMIT / TOP-N PUSHDOWN — ORDER BY id {ASC|DESC} LIMIT n and
  // bare LIMIT n clip the generated range at PLANNING time
  // (SupportsPushDownTopN / SupportsPushDownLimit): the scan reads
  // exactly n rows and prunes every slice outside the clipped
  // window (plan-asserted in ExtensionSpec — `limit=… [desc]` in the
  // scan description, slices pruned). Partial-pushdown semantics:
  // Spark keeps its Sort/Limit, but they run over n rows, not the
  // range. Three scopes gate it: top-n ascending after a pushed
  // filter (both clips compose), top-n descending (the high end of
  // the range), and a bare LIMIT (deterministic HERE because the
  // dense source clips to exactly the first n ids — the gated SET is
  // [lo, lo+n) regardless of arrival order).
  private val TopNLo = 400000L
  private val TopNAsc = 500
  private val TopNDesc = 300
  private val BareLimit = 200

  def qRangeTopnPushdown(s: SparkSession, dir: String): DataFrame = {
    def rt = s.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "1000000").option("slices", "16")
      .load()
    val asc = rt.filter(col("id") >= TopNLo)
      .orderBy(col("id")).limit(TopNAsc)
      .select(lit("asc").as("scope"), col("id"), col("bucket"), col("val"))
    val desc = rt.orderBy(col("id").desc).limit(TopNDesc)
      .select(lit("desc").as("scope"), col("id"), col("bucket"), col("val"))
    val bare = rt.limit(BareLimit)
      .select(lit("bare").as("scope"), col("id"), col("bucket"), col("val"))
    asc.unionAll(desc).unionAll(bare)
      .orderBy(col("scope"), col("id"))
  }

  private val rangeTopnPushdownOracle: String =
    s"""WITH r AS (SELECT i AS id, i % 16 AS bucket, (i * 2654435761) % 1000000 AS v
       |  FROM range(0, 1000000) t(i))
       |SELECT scope, id, bucket, v AS val FROM (
       |  SELECT 'asc' AS scope, * FROM (
       |    SELECT * FROM r WHERE id >= $TopNLo ORDER BY id LIMIT $TopNAsc)
       |  UNION ALL
       |  SELECT 'desc', * FROM (SELECT * FROM r ORDER BY id DESC LIMIT $TopNDesc)
       |  UNION ALL
       |  SELECT 'bare', * FROM (SELECT * FROM r ORDER BY id LIMIT $BareLimit)
       |) ORDER BY scope, id""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 RUNTIME FILTERING — the dynamic half of the pushdown story
  // ([[qRangeJoin]] gates the STATIC clip): here no static predicate
  // touches the range side at all; the probe keys exist only in a
  // parquet dim filtered at runtime, and the scan implements
  // SupportsRuntimeFiltering so Spark hands it the materialized
  // build-side keys as In(id, …) AFTER planning — the scan then
  // drops every slice holding none of them (1 of 16 survives for
  // this band; asserted via [[graft.sources.RangeTable
  // .runtimePlanned]] in ExtensionSpec, since runtime pruning is
  // invisible to the static plan text). This is the DSv2 analogue of
  // dynamic partition pruning, the mechanism that makes a
  // fact-to-filtered-dim join read 1/1000th of a 100 TB custom
  // source. The dim rides from PARQUET (a local-relation dim
  // constant-folds and kills the dynamic filter — the maint_dpp
  // lesson) and broadcasts; the oracle regenerates both sides.
  // the dim filter deliberately touches NO join-key column: a bound
  // on o_orderkey would let constraint propagation infer a STATIC id
  // clip through the equi-join (measured — the scan planned 1/16
  // before any runtime filter arrived), and the test would prove
  // nothing about the dynamic path
  def qRangeRuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    val rt = s.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", "1000000").option("slices", "16")
      .load()
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_custkey") % 100 === 7)
      .select(col("o_orderkey"))
    rt.join(broadcast(dim), col("id") === col("o_orderkey"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("val")).cast("long").as("sum_val"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  private val rangeRuntimeFilterOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range(0, 1000000) t(i)
       |JOIN orders o ON o.o_orderkey = i
       |WHERE o.o_orderpriority = '1-URGENT' AND o.o_custkey % 100 = 7
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 WRITE PATH — the task-commit/abort protocol through
  // [[graft.sources.DirSinkProvider]] (staged task files, atomic
  // manifest rename, truncate-overwrite; see its Scaladoc). The gate
  // routes deterministic range-source rows through THREE write jobs —
  // overwrite [0,150k) → overwrite [0,200k) → append [200k,250k) —
  // and aggregates the read-back: a leaked pre-truncate file doubles
  // counts, a lost task file drops a bucket's ids, a torn manifest
  // breaks everything, so the exact per-bucket integers gate the
  // whole staged-commit loop. tag/tag_null/esc_tag additionally gate
  // NULL round-trip and the TSV escaping (tab, newline, literal
  // backslash-n) value-for-value against DuckDB's regenerated rows.
  // The injected-abort path (no partial output after a killed task)
  // is spec-asserted in DirSinkSpec — a failed job isn't SQL.
  def qRangeWrite(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.scratchDir("graft_dirsink_")
    val tmp = base.toString
    def rows(a: Long, b: Long) = s.read.format("graft.sources.RangeTableProvider")
      .option("start", a.toString).option("end", b.toString).option("slices", "8")
      .load()
      .select(col("id"), col("bucket"), col("val"),
        concat(lit("k"), (col("id") % 97).cast("string")).as("tag"),
        when(col("id") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("k"), (col("id") % 97).cast("string"))).as("tag_null"),
        concat(lit("a\t"), (col("id") % 97).cast("string"), lit("\\n\nZ")).as("esc_tag"))
    def write(df: DataFrame, mode: String): Unit =
      df.write.format("graft.sources.DirSinkProvider")
        .option("path", tmp).mode(mode).save()
    try {
      write(rows(0, 150000), "overwrite")
      write(rows(0, 200000), "overwrite") // must truncate write #1's files
      write(rows(200000, 250000), "append") // must preserve write #2's
      s.read.format("graft.sources.DirSinkProvider").option("path", tmp).load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("val")).cast("long").as("sum_val"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"),
          countDistinct(col("tag")).cast("long").as("n_tags"),
          count(col("tag_null")).cast("long").as("n_nonnull"),
          sum(length(col("esc_tag"))).cast("long").as("esc_len"))
        .orderBy(col("bucket"))
        .localCheckpoint(true) // sever lineage so the temp dir can go
    } finally graft.GraftSession.sweep(base)
  }

  private val rangeWriteOracle: String =
    """SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
      |  min(i) AS min_id, max(i) AS max_id,
      |  CAST(count(DISTINCT 'k' || CAST(i % 97 AS VARCHAR)) AS BIGINT) AS n_tags,
      |  CAST(count(CASE WHEN i % 11 = 0 THEN NULL ELSE 'x' END) AS BIGINT) AS n_nonnull,
      |  CAST(sum(length('a' || chr(9) || CAST(i % 97 AS VARCHAR) || '\n' || chr(10) || 'Z')) AS BIGINT) AS esc_len
      |FROM range(0, 250000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 REPORTED STATISTICS — the cost-model half of the source
  // contract (SupportsReportStatistics, opt-in via reportStats):
  // statistics are computed AFTER pushdown, so the planner costs the
  // CLIPPED [lo, hi) — here 15k of 2M rows — and auto-plans
  // BroadcastHashJoin with NO hint, exactly how parquet footer stats
  // let Catalyst pick build sides at 100 TB. Contrast src_range_join,
  // which must broadcast() explicitly because the statistics-less
  // default is Long.Max. Plan-asserted both ways in ExtensionSpec
  // (stats → initial-plan BHJ; no stats → initial-plan SMJ); the
  // oracle gates the same pushdown → clip → join values end-to-end.
  private val StatsEnd = 2000000L
  private val StatsBound = 15000L

  def qRangeStats(s: SparkSession, dir: String): DataFrame = {
    val manifest = s.read.format("graft.sources.RangeTableProvider")
      .option("start", "0").option("end", StatsEnd.toString).option("slices", "16")
      .option("reportStats", "true")
      .load()
      .filter(col("id") < StatsBound)
    val orders = Tables.orders(s, dir).select(col("o_orderkey"))
    manifest.join(orders, col("id") === col("o_orderkey")) // no hint: stats decide
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("val")).cast("long").as("sum_val"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
      .orderBy(col("bucket"))
  }

  private val rangeStatsOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range(0, $StatsBound) t(i)
       |JOIN orders ON o_orderkey = i
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 CLUSTERED WRITE — the write-side layout contract
  // (RequiresDistributionAndOrdering): the sink DECLARES clustering
  // (identity(bucket), 8 partitions) and in-file ordering (bucket,
  // id), and Spark plans the exchange + sort before the write — so
  // every bucket lands wholly in ONE data file with its rows
  // contiguous and id-sorted. That layout is the read-side payoff at
  // 100 TB (point lookups touch one file; merge scans never re-sort)
  // and this gate AUDITS it from the committed bytes: the manifest's
  // files are parsed and every per-bucket fact below must hold —
  // n_files=1 (clustering honored), sorted_ok (ordering honored) —
  // alongside the exact row/min/max closed form. The audit parse is
  // driver-side by design: it reads the ~16k-row committed artifact
  // (the maint_wap discipline), not the data path under test, which
  // is the fully distributed exchange→sort→write.
  private val CwEnd = 16000L

  def qRangeWriteClustered(s: SparkSession, dir: String): DataFrame = {
    val base = graft.GraftSession.scratchDir("graft_dirsink_cl_")
    val tmp = base.toString
    val stats = scala.collection.mutable.Map.empty[Long, (Set[String], Long, Long, Long)]
    var sortedAll = true
    try {
      s.read.format("graft.sources.RangeTableProvider")
        .option("start", "0").option("end", CwEnd.toString).option("slices", "8")
        .load()
        .write.format("graft.sources.DirSinkProvider")
        .option("path", tmp)
        .option("cluster_by", "bucket").option("sort_by", "bucket,id")
        .option("write_partitions", "8")
        .mode("overwrite").save()
      val m = graft.sources.DirSink.readManifest(tmp).getOrElse(
        throw new IllegalStateException(s"clustered write left no manifest in $tmp"))
      // audit the committed layout: (bucket -> files touched, rows,
      // min/max id) and per-file (bucket, id) sort order
      m.files.foreach { f =>
        var (prevB, prevId) = (Long.MinValue, Long.MinValue)
        java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(tmp, f), java.nio.charset.StandardCharsets.UTF_8)
          .forEach { line =>
            val cells = line.split("\t", -1)
            val (id, b) = (cells(0).toLong, cells(1).toLong)
            if (b < prevB || (b == prevB && id <= prevId)) sortedAll = false // strict (bucket, id) in-file order
            prevB = b; prevId = id
            val (fs, n, mn, mx) = stats.getOrElse(b, (Set.empty[String], 0L, Long.MaxValue, Long.MinValue))
            stats(b) = (fs + f, n + 1, math.min(mn, id), math.max(mx, id))
          }
      }
    } finally graft.GraftSession.sweep(base)
    val rows = stats.toSeq.sortBy(_._1).map { case (b, (fs, n, mn, mx)) =>
      (b, n, mn, mx, fs.size.toLong, sortedAll)
    }
    import s.implicits._
    rows.toDF("bucket", "n", "min_id", "max_id", "n_files", "sorted_ok")
      .orderBy(col("bucket"))
  }

  private val rangeWriteClusteredOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  min(i) AS min_id, max(i) AS max_id,
       |  CAST(1 AS BIGINT) AS n_files, true AS sorted_ok
       |FROM range(0, $CwEnd) t(i) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 CATALOG RESOLUTION — plain SQL addressing the engine's
  // tables and functions by NAME through
  // [[graft.sources.GraftCatalog]] (`spark.sql.catalog.graft`): the
  // range table resolves as `graft.range_<start>_<end>_<slices>` (the
  // SAME Table class as the path reads, so filter pushdown still
  // clips slices through SQL resolution), and `graft.knuth_val(id)`
  // is a V2 FunctionCatalog scalar with the magic-method codegen
  // path. The oracle regenerates both the rows and the function's
  // closed form from range() — the gate proves name resolution,
  // function binding, and pushdown compose.
  private val CatLo = 150000L
  private val CatHi = 550000L

  def qCatalogSql(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    s.sql(
      s"""SELECT bucket, cast(count(*) as bigint) AS n,
         |  cast(sum(graft.knuth_val(id)) as bigint) AS sum_knuth,
         |  min(id) AS min_id, max(id) AS max_id
         |FROM graft.range_100000_600000_16
         |WHERE id >= $CatLo AND id < $CatHi
         |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  private val catalogSqlOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_knuth,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range($CatLo, $CatHi) t(i)
       |GROUP BY 1 ORDER BY 1""".stripMargin


  // ---------------------------------------------------------------
  // V2 CATALOG AGGREGATE FUNCTION — the second FunctionCatalog
  // execution shape (src_catalog_sql covers the scalar): `xor_agg`
  // is a from-scratch connector AggregateFunction, so Spark itself
  // drives newAggregationState/update/merge/produceResult across the
  // scan's partitions — the distributed-aggregation contract a
  // custom 100 TB aggregate lives by. XOR is associative,
  // commutative, and order-independent bit-for-bit, which is what
  // makes a CUSTOM aggregate gateable across engines (DuckDB's
  // built-in bit_xor replays it exactly); the CASE arm gates the
  // NULL-skipping semantics too.
  private val AggFnLo = 200000L
  private val AggFnHi = 500000L

  def qCatalogAggFn(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    s.sql(
      s"""SELECT bucket, cast(count(*) as bigint) AS n,
         |  graft.xor_agg(val) AS x_val,
         |  graft.xor_agg(CASE WHEN id % 5 = 0 THEN CAST(NULL AS BIGINT) ELSE id END) AS x_id
         |FROM graft.range_${AggFnLo}_${AggFnHi}_16
         |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  private val catalogAggFnOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  bit_xor((i * 2654435761) % 1000000) AS x_val,
       |  bit_xor(CASE WHEN i % 5 = 0 THEN NULL ELSE i END) AS x_id
       |FROM range($AggFnLo, $AggFnHi) t(i)
       |GROUP BY 1 ORDER BY 1""".stripMargin


  // ---------------------------------------------------------------
  // CATALOG-MANAGED TABLE LIFECYCLE — the writable half of the
  // catalog story: CREATE TABLE materializes an empty DirSink table
  // under the per-application warehouse, INSERT INTO routes plain
  // SQL through the staged-commit write path, DELETE FROM exercises
  // SupportsDelete (a DISTRIBUTED keep-rewrite published by the same
  // atomic truncate commit — SQL semantics: NULL predicates do not
  // delete), and DROP TABLE tears the directory down. The gate runs
  // the whole lifecycle — create, insert 40k range rows through the
  // engine's own SQL function catalog, two deletes (a ranged one and
  // an equality one), aggregate, drop — against the range closed
  // form with both deletes applied. This is the full
  // "mount a feature store and manage it in SQL" loop a deployment
  // needs, with every byte moving through this repo's source/sink.
  private val MngEnd = 40000L
  private val MngDelFrom = 30000L
  private val MngDelBucket = 3L

  def qCatalogManaged(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    s.sql("DROP TABLE IF EXISTS graft.managed_gate")
    s.sql("CREATE TABLE graft.managed_gate (id BIGINT NOT NULL, bucket BIGINT NOT NULL, val BIGINT NOT NULL)")
    s.sql(s"INSERT INTO graft.managed_gate SELECT id, bucket, val FROM graft.range_0_${MngEnd}_16")
    s.sql(s"DELETE FROM graft.managed_gate WHERE id >= $MngDelFrom")
    s.sql(s"DELETE FROM graft.managed_gate WHERE bucket = $MngDelBucket")
    val out = s.sql(
      """SELECT bucket, cast(count(*) as bigint) AS n,
        |  cast(sum(val) as bigint) AS sum_val, min(id) AS min_id, max(id) AS max_id
        |FROM graft.managed_gate GROUP BY bucket ORDER BY bucket""".stripMargin)
      .localCheckpoint(true) // sever lineage so the table can drop
    s.sql("DROP TABLE graft.managed_gate")
    out
  }

  private val catalogManagedOracle: String =
    s"""SELECT i % 16 AS bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((i * 2654435761) % 1000000) AS BIGINT) AS sum_val,
       |  min(i) AS min_id, max(i) AS max_id
       |FROM range(0, $MngEnd) t(i)
       |WHERE NOT (i >= $MngDelFrom) AND NOT (i % 16 = $MngDelBucket)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // SQL MERGE INTO — the last DSv2 write shape
  // (SupportsRowLevelOperations, group-based copy-on-write): Spark
  // rewrites the MERGE into a full-outer join between the
  // operation's own table scan and the source, evaluates the clause
  // chain per row (MergeRowsExec, with the runtime cardinality
  // check), and replaces the scanned state through the sink's staged
  // truncate commit — one atomic manifest rename publishes the
  // merged table. The gate drives every clause family in one
  // statement — conditional MATCHED DELETE, MATCHED UPDATE,
  // conditional NOT MATCHED INSERT, conditional NOT MATCHED BY
  // SOURCE DELETE — over deterministic range-source rows, then
  // aggregates the post-merge table. DuckDB has no MERGE: the oracle
  // IS the join rewrite, expressed as the three-way union
  // (carry-over ∪ updated ∪ inserted) the engine must equal.
  private val MrgTgtEnd = 30000L
  private val MrgSrcLo = 20000L
  private val MrgSrcHi = 40000L
  private val MrgDelBucket = 5L
  private val MrgSkipBucket = 7L
  private val MrgPruneBelow = 1000L

  def qCatalogMerge(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    s.sql("DROP TABLE IF EXISTS graft.merge_gate")
    s.sql("CREATE TABLE graft.merge_gate (id BIGINT NOT NULL, bucket BIGINT NOT NULL, val BIGINT NOT NULL)")
    s.sql(s"INSERT INTO graft.merge_gate SELECT id, bucket, val FROM graft.range_0_${MrgTgtEnd}_16")
    s.sql(
      s"""MERGE INTO graft.merge_gate t
         |USING (SELECT id, bucket, val FROM graft.range_${MrgSrcLo}_${MrgSrcHi}_16) s
         |ON t.id = s.id
         |WHEN MATCHED AND t.bucket = $MrgDelBucket THEN DELETE
         |WHEN MATCHED THEN UPDATE SET val = t.val + s.val
         |WHEN NOT MATCHED AND s.bucket != $MrgSkipBucket THEN
         |  INSERT (id, bucket, val) VALUES (s.id, s.bucket, s.val)
         |WHEN NOT MATCHED BY SOURCE AND t.id < $MrgPruneBelow THEN DELETE""".stripMargin)
    val out = s.sql(
      """SELECT bucket, cast(count(*) as bigint) AS n,
        |  cast(sum(val) as bigint) AS sum_val, min(id) AS min_id, max(id) AS max_id
        |FROM graft.merge_gate GROUP BY bucket ORDER BY bucket""".stripMargin)
      .localCheckpoint(true) // sever lineage so the table can drop
    s.sql("DROP TABLE graft.merge_gate")
    out
  }

  private val catalogMergeOracle: String =
    s"""WITH tgt AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS val FROM range(0, $MrgTgtEnd) t(i)),
       |src AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS val FROM range($MrgSrcLo, $MrgSrcHi) t(i)),
       |merged AS (
       |  SELECT t.id, t.bucket, t.val FROM tgt t LEFT JOIN src s ON t.id = s.id
       |  WHERE s.id IS NULL AND NOT (t.id < $MrgPruneBelow)
       |  UNION ALL
       |  SELECT t.id, t.bucket, t.val + s.val FROM tgt t JOIN src s ON t.id = s.id
       |  WHERE t.bucket != $MrgDelBucket
       |  UNION ALL
       |  SELECT s.id, s.bucket, s.val FROM src s LEFT JOIN tgt t ON s.id = t.id
       |  WHERE t.id IS NULL AND s.bucket != $MrgSkipBucket)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(val) AS BIGINT) AS sum_val, min(id) AS min_id, max(id) AS max_id
       |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // SQL UPDATE — the remaining row-level statement next to MERGE and
  // DELETE (same SupportsRowLevelOperations machinery, rewritten by
  // Spark into updated ∪ carry-over → ReplaceData): one UPDATE with
  // an expression assignment under an arbitrary predicate (id%7 —
  // deliberately NOT metadata-pushable, so the statement MUST take
  // the distributed rewrite, not a deleteWhere-style shortcut), a
  // second UPDATE layered on top to prove read-your-writes across
  // rewrites, then the per-bucket aggregate. Oracle: the closed-form
  // range with both updates applied in sequence.
  private val UpdEnd = 30000L

  def qCatalogUpdate(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    s.sql("DROP TABLE IF EXISTS graft.update_gate")
    s.sql("CREATE TABLE graft.update_gate (id BIGINT NOT NULL, bucket BIGINT NOT NULL, val BIGINT NOT NULL)")
    s.sql(s"INSERT INTO graft.update_gate SELECT id, bucket, val FROM graft.range_0_${UpdEnd}_16")
    s.sql("UPDATE graft.update_gate SET val = val + bucket * 1000 WHERE id % 7 = 3")
    s.sql("UPDATE graft.update_gate SET val = val * 2 WHERE bucket = 11")
    val out = s.sql(
      """SELECT bucket, cast(count(*) as bigint) AS n,
        |  cast(sum(val) as bigint) AS sum_val, min(id) AS min_id, max(id) AS max_id
        |FROM graft.update_gate GROUP BY bucket ORDER BY bucket""".stripMargin)
      .localCheckpoint(true) // sever lineage so the table can drop
    s.sql("DROP TABLE graft.update_gate")
    out
  }

  private val catalogUpdateOracle: String =
    s"""WITH base AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS val FROM range(0, $UpdEnd) t(i)),
       |u1 AS (SELECT id, bucket,
       |    CASE WHEN id % 7 = 3 THEN val + bucket * 1000 ELSE val END AS val FROM base),
       |u2 AS (SELECT id, bucket,
       |    CASE WHEN bucket = 11 THEN val * 2 ELSE val END AS val FROM u1)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(val) AS BIGINT) AS sum_val, min(id) AS min_id, max(id) AS max_id
       |FROM u2 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // DSv2 STORED PROCEDURE (Spark 4 ProcedureCatalog): `CALL
  // graft.grid(start, end, slices)` — the catalog's metadata
  // procedure surface (the Iceberg system-procedure shape): bind
  // validates typed parameters, the driver computes the range
  // table's planning grid WITHOUT scanning, and the result comes
  // back as a LocalScan relation. The gate calls it on a grid whose
  // row count does NOT divide the slice count (173100/8 → step 21638
  // with a 21634-row short tail slice) and checks every (slice, lo,
  // hi, n_rows) against the closed form; a second CALL composes the
  // procedure output with a regular aggregate to prove it's a
  // first-class relation.
  private val ProcLo = 1000L
  private val ProcHi = 174100L
  private val ProcSlices = 8L

  def qCatalogProcedure(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    val grid = s.sql(s"CALL graft.grid($ProcLo, $ProcHi, $ProcSlices)")
    // the CALL result is a first-class relation: aggregate it like
    // any DataFrame and ride the totals on every row
    val tot = grid.agg(
      count(lit(1)).as("n_slices"), sum(col("n_rows")).as("total_rows"),
      min(col("lo")).as("grid_lo"), max(col("hi")).as("grid_hi"))
    grid.crossJoin(broadcast(tot))
      .select(col("slice"), col("lo"), col("hi"), col("n_rows"),
        col("n_slices"), col("total_rows"), col("grid_lo"), col("grid_hi"))
      .orderBy(col("slice"))
  }

  private val catalogProcedureOracle: String = {
    val step = math.max(1L, (ProcHi - ProcLo + ProcSlices - 1) / ProcSlices)
    s"""WITH g AS (
       |  SELECT CAST(k AS BIGINT) AS slice, $ProcLo + k * $step AS lo,
       |    least($ProcHi, $ProcLo + k * $step + $step) AS hi
       |  FROM (SELECT unnest(range($ProcSlices)) AS k)
       |  WHERE $ProcLo + k * $step < least($ProcHi, $ProcLo + k * $step + $step)),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_slices,
       |  CAST(sum(hi - lo) AS BIGINT) AS total_rows,
       |  min(lo) AS grid_lo, max(hi) AS grid_hi FROM g)
       |SELECT g.slice, g.lo, g.hi, CAST(g.hi - g.lo AS BIGINT) AS n_rows,
       |  t.n_slices, t.total_rows, t.grid_lo, t.grid_hi
       |FROM g, t ORDER BY g.slice""".stripMargin
  }

  // ---------------------------------------------------------------
  // DSv2 METADATA COLUMNS — the `_metadata`-file-column pattern on a
  // custom source (SupportsMetadataColumns): `_slice`, the row's
  // ORIGINAL planning-grid slice index, exists only when a query
  // references it (hidden from SELECT *) and is served by the reader
  // from its partition at zero per-row compute. The gate groups a
  // filter-clipped scan BY the metadata column: slice indices must
  // stay the original grid's (stable under the pushed clip — a
  // renumbered clip would shift every group), and the boundary
  // slices carry partial counts exactly where the filter cuts.
  // Oracle: slice = i div step over the same clipped range.
  private val MetaStart = 0L
  private val MetaEnd = 400000L
  private val MetaSlices = 16
  private val MetaLo = 50000L
  private val MetaHi = 330000L

  def qRangeMetadataCols(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.RangeTableProvider")
      .option("start", MetaStart.toString).option("end", MetaEnd.toString)
      .option("slices", MetaSlices.toString)
      .load()
      .filter(col("id") >= MetaLo && col("id") < MetaHi)
      .groupBy(col("_slice"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"),
        sum(col("bucket")).cast("long").as("sum_bucket"))
      .orderBy(col("_slice"))

  private val rangeMetadataColsOracle: String = {
    val step = (MetaEnd - MetaStart + MetaSlices - 1) / MetaSlices
    s"""SELECT i // $step AS _slice, CAST(count(*) AS BIGINT) AS n,
       |  min(i) AS min_id, max(i) AS max_id,
       |  CAST(sum(i % 16) AS BIGINT) AS sum_bucket
       |FROM range($MetaLo, $MetaHi) t(i)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // DSv2 STORAGE-PARTITIONED JOIN — the shuffle-elimination half of
  // the bucketed-table story (SupportsReportPartitioning +
  // HasPartitionKey + a declared identity(bucket) table transform):
  // two co-clustered scans join on `bucket` with NO exchange on
  // either side under spark.sql.sources.v2.bucketing.enabled — the
  // partitions align by key, the way Iceberg/Hive bucketed tables
  // join at 100 TB without moving data (plan-asserted both ways in
  // ExtensionSpec: zero shuffles with the flag on, two with it off).
  // The merge hint pins SMJ (statistics-less V2 relations would
  // otherwise be broadcast candidates via AQE and hide the contract
  // under a BroadcastExchange). The flag is one of the settings
  // GraftSession.install holds: it only changes planning for
  // KGP-reporting scans.
  // Oracle: the same join over DuckDB range() — exact integers.
  private val SpjLeftEnd = 1600L
  private val SpjRightLo = 800L
  private val SpjRightHi = 2400L

  def qRangeSpj(s: SparkSession, dir: String): DataFrame = {
    graft.GraftSession.install(s)
    def bt(a: Long, b: Long) = s.read.format("graft.sources.RangeTableProvider")
      .option("start", a.toString).option("end", b.toString)
      .option("slices", "16").option("clusterBy", "bucket")
      .load()
    val l = bt(0, SpjLeftEnd)
    val r = bt(SpjRightLo, SpjRightHi)
      .select(col("bucket"), col("id").as("rid"), col("val").as("rval"))
    l.hint("merge").join(r, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("val") + col("rval")).cast("long").as("sum_lr"),
        min(col("id")).as("min_lid"), max(col("rid")).as("max_rid"))
      .orderBy(col("bucket"))
  }

  private val rangeSpjOracle: String =
    s"""WITH l AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS val FROM range(0, $SpjLeftEnd) t(i)),
       |  r AS (SELECT i AS id, i % 16 AS bucket,
       |    (i * 2654435761) % 1000000 AS val FROM range($SpjRightLo, $SpjRightHi) t(i))
       |SELECT l.bucket AS bucket, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(l.val + r.val) AS BIGINT) AS sum_lr,
       |  min(l.id) AS min_lid, max(r.id) AS max_rid
       |FROM l JOIN r ON l.bucket = r.bucket
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "etl_normalize" -> qNormalizeSql,
    "etl_quarantine" -> qQuarantineSql,
    "src_catalog_sql" -> catalogSqlOracle,
    "src_range_spj" -> rangeSpjOracle,
    "src_range_write_clustered" -> rangeWriteClusteredOracle,
    "src_range_stats" -> rangeStatsOracle,
    "src_catalog_agg_fn" -> catalogAggFnOracle,
    "src_catalog_managed" -> catalogManagedOracle,
    "src_catalog_merge" -> catalogMergeOracle,
    "src_catalog_update" -> catalogUpdateOracle,
    "src_catalog_procedure" -> catalogProcedureOracle,
    "src_range_metadata_cols" -> rangeMetadataColsOracle,
    "src_range_write" -> rangeWriteOracle,
    "src_json_roundtrip" -> roundtripOracle,
    "src_orc_roundtrip" -> roundtripOracle,
    "src_range_pushdown" -> rangePushdownOracle,
    "src_range_agg_pushdown" -> rangeAggPushdownOracle,
    "src_range_group_pushdown" -> rangeGroupPushdownOracle,
    "src_range_join" -> rangeJoinOracle,
    "src_range_runtime_filter" -> rangeRuntimeFilterOracle,
    "src_range_topn_pushdown" -> rangeTopnPushdownOracle)
}
