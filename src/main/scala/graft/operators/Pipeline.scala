package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Dataset-assembly operators a training-data pipeline needs around
  * the analytics core: deterministic stratified sampling (train/eval
  * splits, per-source quotas) and pseudonymization (PII-safe
  * identifiers before a corpus leaves the trust boundary). The
  * reference has neither (SURVEY.md §2.3); both are driver-mandated
  * extension surface.
  *
  * Both are map-only projections/aggregations — no operator here
  * shuffles anything but fixed-width partial aggregates — and both
  * are deterministic (md5/sha2-keyed), so the same rows are selected
  * on any cluster size, any partitioning, and in the DuckDB oracle.
  */
object Pipeline {

  // ---------------------------------------------------------------
  // Stratified sampling over `events`: per-stratum rates applied via
  // a uniform hash of the row key — md5(event_id) mod 10000 — so
  // membership is a pure row-local predicate: reproducible across
  // engines and restarts, no sampling state, map-side evaluable. This
  // is how a pipeline takes "all purchases, half the clicks, 5% of
  // errors" out of 100 TB in one scan.
  private val strataRates: Seq[(String, Int)] = Seq( // per-10000
    "purchase" -> 10000,
    "click" -> 5000,
    "view" -> 2500,
    "signup" -> 1000,
    "error" -> 500)

  def qStratified(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("event_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 10000
    val thr = strataRates.tail.foldLeft(when(
      col("event_type") === strataRates.head._1, lit(strataRates.head._2))) {
      case (acc, (t, r)) => acc.when(col("event_type") === t, lit(r))
    }.otherwise(lit(0))
    val sampled = (h < thr).cast("int")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"), sampled.as("keep"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("keep")).as("n_sampled"),
        round(sum(col("value") * col("keep")), 2).as("sampled_value"))
      .orderBy(col("event_type"))
  }

  val qStratifiedSql: String = {
    val thr = strataRates.map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""WITH e AS (SELECT event_id, event_type, value,
       |  CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 10000
       |            < $thr
       |       THEN 1 ELSE 0 END AS keep
       |  FROM events)
       |SELECT event_type, count(*) AS n_total,
       |  CAST(sum(keep) AS BIGINT) AS n_sampled,
       |  round(sum(value * keep), 2) AS sampled_value
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------
  // Pseudonymization over `customer`: identifier -> deterministic
  // token (sha256 prefix — referentially stable across tables and
  // runs, irreversible without the original), quasi-identifier
  // generalized (account balance -> 1000-unit band; floor BEFORE the
  // int cast per the cross-engine rule). Map-only projection.
  def qPseudonymize(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        concat(lit("cust_"), substring(sha2(col("c_name"), 256), 1, 12)).as("name_token"),
        col("c_nationkey"),
        col("c_mktsegment"),
        (floor(col("c_acctbal") / 1000) * 1000).cast("long").as("acctbal_band"))
      .orderBy(col("c_custkey"))

  val qPseudonymizeSql: String =
    """SELECT c_custkey,
      |  'cust_' || substr(sha256(c_name), 1, 12) AS name_token,
      |  c_nationkey,
      |  c_mktsegment,
      |  CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acctbal_band
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // Language-BALANCED sampling over `documents`: cap each language at
  // `BalancedCap` docs, selected by md5(doc_id) order — the standard
  // re-balancing step before multilingual training (a raw crawl is
  // dominated by one language; the trainer wants a per-language
  // quota). Selection is deterministic: the hash order is a pure
  // function of doc_id, so the same docs are kept on any cluster
  // size and in the DuckDB oracle.
  //
  // Scale shape: a rank-filter under a per-group window is planned as
  // WindowGroupLimit (Spark 3.5+) — each map task keeps only its
  // local top-`cap` rows per language BEFORE the exchange, so the
  // shuffle carries at most cap·partitions rows per language, not the
  // whole corpus (asserted in ExtensionSpec). With ~dozens of
  // languages the reduce side is trivially parallel at any scale.
  private val BalancedCap = 50

  def qBalanced(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= BalancedCap)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("kept_chars"))
      .orderBy(col("lang"))
  }

  val qBalancedSql: String =
    s"""WITH r AS (SELECT doc_id, lang, n_chars,
       |  row_number() OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT lang, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM r WHERE rk <= $BalancedCap GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // Training-sequence PACKING — the concat-and-chunk step that turns
  // a document corpus into fixed-length training sequences: documents
  // are concatenated in order and split into SeqBudget-token windows;
  // each doc reports its token offset and the [first, last] sequence
  // ids it lands in (a doc can straddle a boundary).
  //
  // Scale shape: a single global concatenation order would serialize
  // into one partition, so packing is SHARDED — docs hash to
  // `shardCount` independent streams, and the running-offset window
  // partitions by shard: shardCount parallel cumsums, one shuffle.
  // All integer arithmetic (token counts, offsets, floor-div) —
  // bit-exact across engines by construction.
  //
  // Choosing shardCount: it caps the cumsum parallelism AND fixes the
  // number of independent packed streams, so at scale set it to the
  // intended output-file count (e.g. ~one shard per final training
  // shard file; thousands at 100 TB). The default 8 matches the gated
  // oracle, which templates the same value into its SQL.
  private val SeqBudget = 2048L
  val DefaultShardCount = 8

  def qPackSequences(s: SparkSession, dir: String,
                     shardCount: Int = DefaultShardCount): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % shardCount).as("shard"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("offset"),
        floor(col("offset") / SeqBudget).cast("long").as("seq_first"),
        floor((col("offset") + col("n_tokens") - 1) / SeqBudget).cast("long").as("seq_last"))
      .orderBy(col("doc_id"))
  }

  // DuckDB widens window sum(BIGINT) to HUGEINT, which the driver's
  // pandas layer coerces to float64 ("123.0" vs Spark's "123" under
  // the hasher) — the outer CAST back to BIGINT keeps the offset an
  // int64 on both engines (same pattern as qStratifiedSql's sum(keep)).
  val qPackSequencesSql: String =
    s"""WITH t AS (SELECT doc_id, doc_id % $DefaultShardCount AS shard,
       |  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT doc_id, shard, n_tokens,
       |  CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
       |  FROM t)
       |SELECT doc_id, shard, n_tokens, "offset",
       |  CAST(floor("offset" / $SeqBudget) AS BIGINT) AS seq_first,
       |  CAST(floor(("offset" + n_tokens - 1) / $SeqBudget) AS BIGINT) AS seq_last
       |FROM o ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // CURATION FUNNEL — [[qPipelineE2e]] shows what SURVIVES; this
  // shows WHERE the corpus went: per consecutive stage (raw →
  // quality rubric → repetition rules → near-dup canonical), the
  // exact docs/tokens remaining, share of raw per-mille, and the
  // marginal drop each stage charges — the attribution chart a
  // curation review reads before touching any threshold. Stages
  // intersect cumulatively on doc_id exactly as the e2e pipeline
  // composes them, so the last row reconciles with pipeline_e2e's
  // totals by construction. Filter legs are the operators' own
  // plans; the funnel adds only doc-id semi-joins and 4 metadata
  // rows.
  def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tok"))
      .localCheckpoint() // one scan; every stage measures against it
    // each leg is measured by SEVERAL of the four stage actions below
    // (qual by three, rep by two) — checkpoint the doc-id-sized
    // survivor lists once so no filter pipeline re-executes per stage
    // (measured: 12.3s → the canonical leg's own cost at 10×)
    val qual = Text.qQuality(s, dir)
      .filter(col("quality_score") >= MinQuality).select("doc_id").localCheckpoint()
    val rep = Text.qRepetition(s, dir).filter(col("keep")).select("doc_id").localCheckpoint()
    val keep = Dedup.qCanonical(s, dir).select(col("kept_doc").as("doc_id")).localCheckpoint()
    val stages = Seq[(String, DataFrame)](
      ("0_raw", toks.select("doc_id")),
      ("1_quality", qual),
      ("2_repetition", qual.join(rep, "doc_id")),
      ("3_canonical", qual.join(rep, "doc_id").join(keep, "doc_id")))
    // all four stage measurements union into ONE collected job (was
    // four sequential 1-row collects — the hits-converge job-overhead
    // lesson); every leg reads the checkpointed survivor lists
    val rows = stages.map { case (name, ids) =>
        toks.join(ids, "doc_id")
          .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("t"))
          .select(lit(name).as("stage"), col("n"), col("t"))
      }.reduce(_ unionAll _).collect()
      .map(m => (m.getString(0), m.getLong(1), m.getLong(2)))
      .sortBy(_._1).toSeq
    val (rawN, rawT) = (rows.head._2, rows.head._3)
    rows.zip((rawN, rawT) +: rows.map(r => (r._2, r._3)))
      .map { case ((name, n, t), (pn, _)) =>
        (name, n, t, n * 1000 / math.max(rawN, 1L), t * 1000 / math.max(rawT, 1L),
          (pn - n) * 1000 / math.max(pn, 1L))
      }
      .toDF("stage", "n_docs", "n_tokens", "docs_pm", "tokens_pm", "drop_pm")
      .orderBy(col("stage"))
  }

  lazy val qCurationFunnelSql: String =
    s"""WITH toks AS MATERIALIZED (SELECT doc_id,
  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok FROM documents),
qual AS MATERIALIZED (SELECT doc_id FROM (${Text.qQualitySql}) WHERE quality_score >= $MinQuality),
rep AS MATERIALIZED (SELECT doc_id FROM (${Text.qRepetitionSql}) WHERE keep),
keepd AS MATERIALIZED (SELECT kept_doc AS doc_id FROM (${Dedup.qCanonicalSql})),
s0 AS (SELECT '0_raw' AS stage, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS t FROM toks),
s1 AS (SELECT '1_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM toks JOIN qual USING (doc_id)),
s2 AS (SELECT '2_repetition', count(*), CAST(sum(n_tok) AS BIGINT) FROM toks
  JOIN qual USING (doc_id) JOIN rep USING (doc_id)),
s3 AS (SELECT '3_canonical', count(*), CAST(sum(n_tok) AS BIGINT) FROM toks
  JOIN qual USING (doc_id) JOIN rep USING (doc_id) JOIN keepd USING (doc_id)),
u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3),
l AS (SELECT stage, n, t,
  coalesce(lag(n) OVER (ORDER BY stage), n) AS pn,
  first_value(n) OVER (ORDER BY stage) AS rn,
  first_value(t) OVER (ORDER BY stage) AS rt
  FROM u)
SELECT stage, CAST(n AS BIGINT) AS n_docs, t AS n_tokens,
  CAST(n * 1000 // greatest(rn, 1) AS BIGINT) AS docs_pm,
  CAST(t * 1000 // greatest(rt, 1) AS BIGINT) AS tokens_pm,
  CAST((pn - n) * 1000 // greatest(pn, 1) AS BIGINT) AS drop_pm
FROM l ORDER BY stage"""

  // ---------------------------------------------------------------
  // EFFECTIVE SAMPLE SIZE UNDER WEIGHT CLIPPING — the
  // importance-sampling diagnostic a weighted-resampling plan ships
  // with: ESS = (Σw)²/(n·Σw²) (as ppm of n) for the per-doc quality
  // weights, RAW and CLIPPED at the ceil-rank p95 weight — the
  // standard variance fix (truncated importance sampling): a few
  // huge weights crater ESS, clipping trades a little bias for a
  // usable sample. Exact integers through DECIMAL(38,0)/HUGEINT
  // ((Σw)²·1e6 passes 2^63 — the DSIR overflow class); the p95 is
  // the deterministic order statistic of the weight distribution
  // (the sim_ood_detect discipline). Two gated rows: raw / clipped.
  def qEssClip(s: SparkSession, dir: String): DataFrame = {
    val w0 = Text.lmScored(s, dir)
      .select(col("doc_id"), col("lm_score_ppm").as("w"))
      .localCheckpoint() // one scoring pass; rank + both ESS variants read it
    val n = w0.count()
    val r = (95 * n + 99) / 100
    // ceil-rank p95 via the distributed exact order-statistic path
    // ([[OrderStats]]): identical (w, doc_id) positional semantics,
    // no corpus-global row_number window (plan-asserted in
    // ExtensionSpec)
    // empty-corpus guard (r10 ADVICE): rank 0 has no row to fetch;
    // clip-at 0 leaves the degenerate aggregate rows unchanged
    val p95 =
      if (n == 0) 0L
      else OrderStats.kthSmallest(
        w0.select(col("w"), col("doc_id")), Seq("w", "doc_id"), r).getLong(0)
    // sums accumulate in decimal and the raw sum_w/sum_w2 diagnostic
    // columns ship as decimal-backed strings (r10 item 6): Σw² is
    // ~1e12·n_docs and wraps BIGINT around sf100 — no gated column
    // may carry a known wrap horizon
    def essRow(variant: String, wc: org.apache.spark.sql.Column) = w0
      .select(wc.as("wv"))
      .agg(count(lit(1)).as("n"), sum(col("wv").cast("decimal(38,0)")).as("sum_w"),
        sum(col("wv").cast("decimal(38,0)") * col("wv")).as("sum_w2"))
      .select(lit(variant).as("variant"), lit(p95).as("clip_at"),
        col("n"), col("sum_w").cast("string").as("sum_w"),
        col("sum_w2").cast("string").as("sum_w2"),
        expr("cast(1000000 as decimal(38,0)) * sum_w * sum_w div " +
          "(cast(n as decimal(38,0)) * sum_w2)").cast("long").as("ess_ppm"))
    essRow("clipped", least(col("w"), lit(p95)))
      .unionAll(essRow("raw", col("w")))
      .orderBy(col("variant"))
  }

  lazy val qEssClipSql: String =
    s"""WITH sc AS MATERIALIZED (
SELECT doc_id, lm_score_ppm AS w FROM (
${Text.qLmScoreSql}
)),
n AS (SELECT count(*) AS n FROM sc),
p AS (SELECT w AS clip_at FROM (
  SELECT w, ROW_NUMBER() OVER (ORDER BY w, doc_id) AS rn FROM sc) t, n
  WHERE t.rn = (95 * n.n + 99) // 100),
v AS (SELECT 'raw' AS variant, w AS wv FROM sc
  UNION ALL SELECT 'clipped', least(w, (SELECT clip_at FROM p)) FROM sc),
agg AS (SELECT variant, count(*) AS n, sum(wv::HUGEINT) AS sum_w,
  sum(wv::HUGEINT * wv) AS sum_w2 FROM v GROUP BY variant)
SELECT variant, (SELECT clip_at FROM p) AS clip_at, CAST(n AS BIGINT) AS n,
  CAST(sum_w AS VARCHAR) AS sum_w, CAST(sum_w2 AS VARCHAR) AS sum_w2,
  CAST((1000000::HUGEINT * sum_w * sum_w) // (n::HUGEINT * sum_w2) AS BIGINT) AS ess_ppm
FROM agg ORDER BY variant"""

  // ---------------------------------------------------------------
  // QUALITY-BUDGET CURVE — the trade a filtering decision actually
  // is: for each candidate LM-score threshold, how many documents
  // and tokens survive, per-mille of the corpus — the curve a
  // pipeline owner reads to pick filtering strength (raise the bar
  // until the token budget is hit, not past it). One pass over the
  // checkpointed per-doc LM scores joined to token counts, swept by
  // a 5-row broadcast (the dedup_threshold_sweep discipline moved to
  // the quality axis). Exact integers everywhere.
  private val BudgetThresholds = Seq(32000L, 33000L, 34000L, 35000L, 36000L)

  def qBudgetCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Text.lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tok")),
        Seq("doc_id"))
      .localCheckpoint() // one scoring pass feeds the 5-threshold sweep + totals
    val tot = scored.agg(count(lit(1)).as("all_docs"), sum(col("n_tok")).as("all_toks"))
    scored.crossJoin(broadcast(BudgetThresholds.toDF("thr_ppm")))
      .filter(col("lm_score_ppm") >= col("thr_ppm"))
      .groupBy(col("thr_ppm"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("thr_ppm"), col("n_docs"), col("n_tokens"),
        expr("n_docs * 1000 div all_docs").as("docs_pm"),
        expr("n_tokens * 1000 div all_toks").as("tokens_pm"))
      .orderBy(col("thr_ppm"))
  }

  lazy val qBudgetCurveSql: String =
    s"""WITH sc AS MATERIALIZED (
SELECT doc_id, lm_score_ppm FROM (
${Text.qLmScoreSql}
)),
tk AS (SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
  FROM documents),
j AS MATERIALIZED (SELECT sc.doc_id, sc.lm_score_ppm, tk.n_tok FROM sc JOIN tk USING (doc_id)),
tot AS (SELECT count(*) AS all_docs, CAST(sum(n_tok) AS BIGINT) AS all_toks FROM j),
sw AS (SELECT unnest([${BudgetThresholds.mkString(", ")}]) AS thr_ppm),
agg AS (SELECT s.thr_ppm, count(*) AS n_docs, CAST(sum(j.n_tok) AS BIGINT) AS n_tokens
  FROM j, sw s WHERE j.lm_score_ppm >= s.thr_ppm GROUP BY s.thr_ppm)
SELECT CAST(a.thr_ppm AS BIGINT) AS thr_ppm, CAST(a.n_docs AS BIGINT) AS n_docs, a.n_tokens,
  CAST(a.n_docs * 1000 // t.all_docs AS BIGINT) AS docs_pm,
  CAST(a.n_tokens * 1000 // t.all_toks AS BIGINT) AS tokens_pm
FROM agg a, tot t ORDER BY a.thr_ppm"""

  // ---------------------------------------------------------------
  // SHARD MANIFEST — the artifact a training job actually consumes
  // from the packing stage: one row per shard with document/token/
  // sequence totals, the id range, and an ORDER-INDEPENDENT
  // integrity fingerprint (md5 over the sorted id list) the trainer
  // verifies before reading the shard — a corrupted or
  // partially-written shard fails the hash, not the loss curve.
  // Per-shard partial aggregates; the id-list hash sorts INSIDE the
  // aggregated array (collect_list order is partition-dependent,
  // array_sort makes the fingerprint deterministic — per-shard doc
  // lists are shard-sized metadata, not the corpus).
  def qShardManifest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % DefaultShardCount).as("shard"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tokens"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(doc_id)), x -> cast(x as string))")))
          .as("ids_md5"))
      .withColumn("n_seqs", expr(s"(n_tokens + ${SeqBudget - 1}) div $SeqBudget"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_seqs"),
        col("first_doc"), col("last_doc"), col("ids_md5"))
      .orderBy(col("shard"))

  val qShardManifestSql: String =
    s"""WITH t AS (SELECT doc_id, doc_id % $DefaultShardCount AS shard,
       |  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST((sum(n_tokens) + ${SeqBudget - 1}) // $SeqBudget AS BIGINT) AS n_seqs,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       |  md5(array_to_string(list(doc_id ORDER BY doc_id), ',')) AS ids_md5
       |FROM t GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------
  // END-TO-END corpus pipeline — the integration the individual
  // operators exist for, composed as one declarative plan:
  //   quality filter  (rubric >= 0.75, drops low-score docs)
  //   repetition filter (Gopher-style dup-2gram / top-word bounds)
  //   near-dup dedup   (keep each cluster's canonical doc)
  //   sequence packing (per-shard token totals and sequence counts)
  // Survivor sets intersect via inner joins on the unique doc_id —
  // all three filter legs and the token projection co-partition on
  // doc_id, so Catalyst plans one exchange per leg and the final
  // summary is a partial aggregate over 8 shard keys. At 100 TB the
  // same plan holds: filters are map-only, the canonical leg reads
  // the materialized cluster table, and no text ever shuffles.
  private val MinQuality = 0.75

  def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val qual = Text.qQuality(s, dir)
      .filter(col("quality_score") >= MinQuality).select("doc_id")
    val rep = Text.qRepetition(s, dir).filter(col("keep")).select("doc_id")
    val keep = Dedup.qCanonical(s, dir).select(col("kept_doc").as("doc_id"))
    val surv = qual.join(rep, "doc_id").join(keep, "doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % DefaultShardCount).as("shard"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tokens"))
      .join(surv, "doc_id")
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        floor((sum(col("n_tokens")) + SeqBudget - 1) / SeqBudget).cast("long").as("n_seqs"))
      .orderBy(col("shard"))
  }

  val qPipelineE2eSql: String =
    s"""WITH qual AS (SELECT doc_id FROM (${Text.qQualitySql}) WHERE quality_score >= $MinQuality),
       |rep AS (SELECT doc_id FROM (${Text.qRepetitionSql}) WHERE keep),
       |keepd AS (SELECT kept_doc AS doc_id FROM (${Dedup.qCanonicalSql})),
       |surv AS (SELECT doc_id FROM qual
       |  INTERSECT SELECT doc_id FROM rep
       |  INTERSECT SELECT doc_id FROM keepd),
       |toks AS (SELECT s.doc_id, s.doc_id % $DefaultShardCount AS shard,
       |  CAST(len(regexp_split_to_array(lower(trim(d.text)), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM surv s JOIN documents d ON s.doc_id = d.doc_id)
       |SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(floor((sum(n_tokens) + ${SeqBudget - 1}) / $SeqBudget) AS BIGINT) AS n_seqs
       |FROM toks GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------
  // SLIDING-WINDOW CHUNKING — the retrieval/RAG-side counterpart of
  // sequence packing: each document splits into overlapping
  // `ChunkSize`-word windows advancing by `ChunkStride`, each chunk
  // carrying a content hash (the embedding/indexing key downstream).
  // Overlap (stride < size) preserves cross-boundary context, the
  // standard retrieval-index preparation.
  //
  // Scale shape: pure flatMap — a per-partition kernel splits each
  // doc once and slides (the HOF form would re-split per element,
  // the measured O(words²) pathology), emitting only fixed-width
  // rows (ids, offsets, a 60-bit hash). No shuffle at all until the
  // presentation sort; chunk output is ~words/stride rows per doc
  // regardless of corpus size.
  private val ChunkSize = 32
  private val ChunkStride = 24

  def qChunkSliding(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("chunk_idx", LongType),
      StructField("start_word", LongType),
      StructField("n_words", LongType),
      StructField("chunk_h", LongType)))
    val (size, stride) = (ChunkSize, ChunkStride)
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val id = r.getLong(0)
          val ws = Text.duckWords(r.getString(1))
          val starts = 0 until math.max(ws.length, 1) by stride
          starts.map { start =>
            val n = math.min(size, ws.length - start)
            val chunk = ws.slice(start, start + n).mkString(" ")
            Row(id, (start / stride).toLong, start.toLong, n.toLong,
              Dedup.md5Mod(md, chunk, Long.MaxValue))
          }
        }
      }(Encoders.row(schema))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val qChunkSlidingSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |s AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), $ChunkStride)) AS start FROM w)
       |SELECT doc_id, CAST(start / $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(start AS BIGINT) AS start_word,
       |  CAST(least($ChunkSize, len(ws) - start) AS BIGINT) AS n_words,
       |  ('0x' || substr(md5(array_to_string(
       |    ws[start+1:start+least($ChunkSize, len(ws) - start)], ' ')), 1, 15))::BIGINT AS chunk_h
       |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------
  // TEMPERATURE-scaled language mixing — the multilingual rebalancing
  // rule (sample language l with probability ∝ p_l^α, α = 0.5): a
  // raw crawl's head language dominates; temperature flattens the
  // distribution without the hard cutoff of [[qBalanced]]'s cap.
  // Per-language keep rate = min(1, target·q_l / n_l) with
  // q_l = √p_l / Σ√p_m, applied row-locally via the md5(doc_id)
  // hash-mod threshold (same determinism device as [[qStratified]]).
  //
  // Cross-engine determinism: α = 0.5 on purpose — √ is IEEE-754
  // correctly rounded in both engines where libm pow(x, 0.5) need
  // not be; the 5-term Σ√p_m accumulates under an ORDER BY lang
  // window frame so both engines add in the same order; thresholds
  // integerize as floor(rate·1e6) compared against md5 mod 1e6.
  //
  // Scale shape: pass 1 reads only `lang` (column-pruned scan) into
  // a map-side partial count; the 5-row weight table broadcasts back
  // onto the corpus scan where keep is a row-local predicate — at
  // 100 TB this is two column-pruned scans and zero corpus shuffles
  // (the final rollup is a partial aggregate over |langs| keys).
  private val TempTarget = 250.0 // expected sample size at sf0.01

  def qTemperature(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // 5-row frame: the unpartitioned window is deliberate (and cheap)
    val rates = counts
      .withColumn("w", sqrt(col("n_docs").cast("double") / sum(col("n_docs")).over(full)))
      .withColumn("q", col("w") / sum(col("w")).over(full))
      .withColumn("rate", least(lit(1.0), lit(TempTarget) * col("q") / col("n_docs")))
      .select(col("lang"), col("n_docs"), col("q"), col("rate"),
        floor(col("rate") * 1000000).cast("long").as("thr"))
    val keep = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 1000000 < col("thr")).cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(rates), "lang")
      .withColumn("keep", keep)
      .groupBy(col("lang"), col("n_docs"), col("q"), col("rate"))
      .agg(
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("n_chars") * col("keep")).cast("long").as("kept_chars"))
      .select(col("lang"), col("n_docs"), round(col("q"), 6).as("q_weight"),
        round(col("rate"), 6).as("keep_rate"), col("n_kept"), col("kept_chars"))
      .orderBy(col("lang"))
  }

  val qTemperatureSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
       |t AS (SELECT lang, n_docs,
       |  sqrt(n_docs::DOUBLE / sum(n_docs) OVER (ORDER BY lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS w FROM c),
       |r AS (SELECT lang, n_docs,
       |  w / sum(w) OVER (ORDER BY lang
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS q FROM t),
       |r2 AS (SELECT lang, n_docs, q, least(1.0, $TempTarget * q / n_docs) AS rate FROM r),
       |r3 AS (SELECT lang, n_docs, q, rate,
       |  CAST(floor(rate * 1000000) AS BIGINT) AS thr FROM r2),
       |k AS (SELECT d.doc_id, d.lang, d.n_chars,
       |  CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
       |            < r3.thr THEN 1 ELSE 0 END AS keep
       |  FROM documents d JOIN r3 USING (lang))
       |SELECT k.lang, r3.n_docs, round(r3.q, 6) AS q_weight, round(r3.rate, 6) AS keep_rate,
       |  CAST(sum(k.keep) AS BIGINT) AS n_kept,
       |  CAST(sum(k.n_chars * k.keep) AS BIGINT) AS kept_chars
       |FROM k JOIN r3 USING (lang)
       |GROUP BY k.lang, r3.n_docs, r3.q, r3.rate ORDER BY k.lang""".stripMargin

  // ---------------------------------------------------------------
  // Deterministic GLOBAL SHUFFLE — the training-order randomization
  // pass (a corpus must be read in pseudo-random order, and that
  // order must be reproducible across re-runs and engines): position
  // = dense rank of md5(doc_id) over the whole corpus.
  //
  // The naive global `row_number() OVER (ORDER BY k)` is a
  // single-partition window — THE classic scale trap (every row
  // through one task). The scale shape used here is sharded rank +
  // offset compose: shard on the hash's first hex digit (its sort
  // prefix, so shard order IS global order), rank within each shard
  // in parallel, then add per-shard offsets from a 16-row cumulative
  // count (driver-scale metadata, broadcast back). The composed
  // positions equal the naive global row_number exactly — which is
  // what the oracle states. At 100 TB widen the prefix (2-3 hex
  // digits -> 256-4096 parallel shards); nothing else changes.
  def qShuffleOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), md5(col("doc_id").cast("string")).as("k"))
      .withColumn("shard", substring(col("k"), 1, 1))
    val rankW = Window.partitionBy(col("shard")).orderBy(col("k"))
    // 16-row offset table: rows before each shard, in shard sort order
    val offW = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(offW), lit(0L)))
      .select(col("shard"), col("off"))
    keyed
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .join(broadcast(offsets), "shard")
      .select((col("off") + col("rk") - 1).as("pos"), col("doc_id"), col("n_chars"))
      .orderBy(col("pos"))
  }

  val qShuffleOrderSql: String =
    """WITH k AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY k) - 1 AS BIGINT) AS pos, doc_id, n_chars
      |FROM k ORDER BY pos""".stripMargin

  // ---------------------------------------------------------------
  // DETERMINISTIC PER-SHARD RESERVOIR — uniform "k docs per source"
  // spot-check sampling (eval-set carving, manual-QA draws) that is
  // exact, seeded, and order-independent: the reservoir is the k
  // smallest salted hashes md5(doc_id || ':resv13') per shard, so
  // the same k rows are selected on any cluster size, any partition
  // order, and in the oracle (the house salted-hash-rank convention,
  // [[splitOf]]'s). The classical streaming reservoir (Vitter's
  // algorithm R) is sequence-order-dependent — ungateable across
  // engines; hash-rank top-k IS the distributed-exact equivalent
  // (a uniform random k-subset per seed).
  //
  // Scale shape — NO per-shard global window over the corpus: pass 1
  // computes each shard's k-th smallest hash with the k-bounded
  // [[graft.functions.TopKLongAggregator]] (partial buffers ship ≤k
  // longs per shard per partition, map-side combined); the
  // shard-count-sized threshold table broadcasts back and pass 2
  // streams the corpus against it. Only the ≤ k·|shards| survivors
  // (+ exact-tie rows, which the rank filter then resolves by
  // doc_id — tie-safe by construction) enter the tiny ranking
  // window. Two cheap scans instead of one corpus-wide sort+shuffle.
  private val ResvK = 10
  private val ResvSalt = "resv13"

  def qReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hk = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":" + ResvSalt))),
      1, 15), 16, 10).cast("long")
    val d = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"), hk.as("hk"))
    val topk = new graft.functions.TopKLongAggregator(ResvK).toColumn
    // top-k LARGEST of -hk = k smallest hashes; element k = the threshold
    val thr = d.select(col("source"), (-col("hk")).as("nk")).as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2).agg(topk.name("keys"))
      .toDF("source", "keys")
      .select(col("source"),
        when(size(col("keys")) >= ResvK, -element_at(col("keys"), ResvK))
          .otherwise(lit(Long.MaxValue)).as("thr"))
    val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
    d.join(broadcast(thr), "source")
      .filter(col("hk") <= col("thr"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ResvK)
      .select(col("source"), col("rk"), col("doc_id"), col("hk"), col("n_chars"))
      .orderBy(col("source"), col("rk"))
  }

  val qReservoirSql: String =
    s"""WITH h AS (SELECT source, doc_id, n_chars,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':$ResvSalt'), 1, 15))::BIGINT AS hk
       |  FROM documents),
       |r AS (SELECT source, doc_id, n_chars, hk,
       |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk FROM h)
       |SELECT source, CAST(rk AS INT) AS rk, doc_id, hk, n_chars FROM r
       |WHERE rk <= $ResvK ORDER BY source, rk""".stripMargin

  // ---------------------------------------------------------------
  // NEYMAN ALLOCATION — optimal stratified-sample sizing, the
  // estimation-theory step between "how much per stratum" intuition
  // and a defensible budget: allocate n_h ∝ N_h·S_h (stratum size ×
  // standard deviation), which minimizes the stratified estimator's
  // variance at a fixed total budget. Everything stays exact-integer
  // cross-engine: the population variance in cents² is the floored
  // rational (N·Σy² − (Σy)²) div N² over DECIMAL(38)/HUGEINT
  // widening, and S_h is the EXACT INTEGER SQRT — floor(sqrt(x)) via
  // the correctly-rounded IEEE double sqrt, then CLAMPED by one
  // integer step in each direction (s² ≤ x < (s+1)²), so the last-ulp
  // rounding of either engine's sqrt cannot move the result (the
  // libm-in-gated-values rule does not apply: sqrt is the one libm
  // function IEEE 754 requires correctly rounded, and the clamp makes
  // even that assumption unnecessary). Budget apportionment is
  // largest-remainder (Hamilton) over the |strata|-row frame.
  private val NeymanBudget = 10000L

  def qNeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("n_h"),
        sum(col("cents").cast("decimal(38,0)")).as("s1"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("s2"))
      .withColumn("varint", expr(
        "CAST((n_h * s2 - s1 * s1) div (cast(n_h as decimal(38,0)) * n_h) AS BIGINT)"))
      .withColumn("s0", floor(sqrt(col("varint").cast("double"))).cast("long"))
      .withColumn("sa", expr("s0 - CASE WHEN s0 * s0 > varint THEN 1 ELSE 0 END"))
      .withColumn("s_int",
        expr("sa + CASE WHEN (sa + 1) * (sa + 1) <= varint THEN 1 ELSE 0 END"))
      .withColumn("weight", col("n_h") * col("s_int"))
    // |strata|-row metadata frame: totals + largest-remainder ranking
    val full = Window.orderBy(col("pri"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val b = NeymanBudget
    st.withColumn("sw", sum(col("weight")).over(full))
      .withColumn("alloc0", expr(s"$b * weight div sw"))
      .withColumn("rem", expr(s"($b * weight) % sw"))
      .withColumn("deficit", lit(b) - sum(col("alloc0")).over(full))
      .withColumn("rn", row_number().over(Window.orderBy(col("rem").desc, col("pri"))))
      .select(col("pri"), col("n_h"), col("s_int"), col("weight"),
        (col("alloc0") + when(col("rn") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("pri"))
  }

  val qNeymanAllocSql: String =
    s"""WITH c AS (SELECT o_orderpriority AS pri,
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
       |st AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_h,
       |  CAST(sum(cents) AS HUGEINT) AS s1,
       |  CAST(sum(cents::HUGEINT * cents) AS HUGEINT) AS s2 FROM c GROUP BY 1),
       |v AS (SELECT pri, n_h,
       |  CAST((n_h * s2 - s1 * s1) // (n_h::HUGEINT * n_h) AS BIGINT) AS varint FROM st),
       |r0 AS (SELECT *, CAST(floor(sqrt(varint::DOUBLE)) AS BIGINT) AS s0 FROM v),
       |r1 AS (SELECT *, s0 - CASE WHEN s0 * s0 > varint THEN 1 ELSE 0 END AS sa FROM r0),
       |r2 AS (SELECT pri, n_h, varint,
       |  sa + CASE WHEN (sa + 1) * (sa + 1) <= varint THEN 1 ELSE 0 END AS s_int FROM r1),
       |w AS (SELECT pri, n_h, s_int, n_h * s_int AS weight FROM r2),
       |t AS (SELECT CAST(sum(weight) AS BIGINT) AS sw FROM w),
       |a AS (SELECT pri, n_h, s_int, weight,
       |  CAST($NeymanBudget * weight // t.sw AS BIGINT) AS alloc0,
       |  CAST(($NeymanBudget * weight) % t.sw AS BIGINT) AS rem FROM w, t),
       |d AS (SELECT CAST($NeymanBudget - sum(alloc0) AS BIGINT) AS deficit FROM a),
       |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, pri) AS rn FROM a)
       |SELECT pri, n_h, s_int, CAST(weight AS BIGINT) AS weight,
       |  CAST(alloc0 + CASE WHEN rn <= d.deficit THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM rk, d ORDER BY pri""".stripMargin

  // POISSON PPS + HORVITZ–THOMPSON — the unequal-probability
  // estimation pair Neyman allocation's equal-π cousin can't cover:
  // each customer enters the sample independently with probability
  // proportional to its SIZE measure (π_i = min(1, K·x_i/Σx), x =
  // positive-clipped balance cents), decided by an md5 uniform, and
  // the HT estimator reweights every sampled unit by 1/π_i so the
  // estimate is unbiased for the population total REGARDLESS of the
  // skewed inclusion design. The target variable is shifted
  // (+100000 cents) to keep every operand non-negative — integer
  // `div`/`//` diverge below zero (CLAUDE.md) — and each HT term is
  // floored individually (sum-of-floors: both engines floor the same
  // integers, order-independent). The gate carries population truth,
  // the HT estimate, and its per-mille error per segment — the
  // unbiasedness a sampling-pipeline review actually audits.
  private val PpsK = 300L
  private val PpsShift = 100000L

  def qPoissonHt(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.customer(s, dir).select(
      col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
      .withColumn("x", greatest(col("cents"), lit(1L)))
      .withColumn("y", col("cents") + lit(PpsShift))
    // Σx: one global scalar (broadcast-attached, not a window)
    val tot = c.agg(sum(col("x")).as("sx"))
    val u = conv(substring(md5(concat(lit("pps_"), col("k").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 1000000L
    c.crossJoin(broadcast(tot))
      .withColumn("pi_ppm", least(lit(1000000L), expr(s"$PpsK * x * 1000000 div sx")))
      .withColumn("inc", (u < col("pi_ppm")).cast("long"))
      .withColumn("ht_term", expr("CASE WHEN inc = 1 THEN y * 1000000 div pi_ppm ELSE 0 END"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_pop"),
        sum(col("inc")).as("n_sampled"),
        sum(col("y")).as("true_total"),
        sum(col("ht_term")).as("ht_est"))
      .withColumn("err_pm",
        expr("abs(ht_est - true_total) * 1000 div greatest(true_total, 1)"))
      .orderBy(col("seg"))
  }

  val qPoissonHtSql: String =
    s"""WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg,
       |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
       |b AS (SELECT k, seg, greatest(cents, 1) AS x, cents + $PpsShift AS y FROM c),
       |t AS (SELECT CAST(sum(x) AS BIGINT) AS sx FROM b),
       |p AS (SELECT k, seg, y,
       |  least(1000000, $PpsK * x * 1000000 // t.sx) AS pi_ppm,
       |  CASE WHEN ('0x' || substr(md5('pps_' || k), 1, 15))::BIGINT % 1000000
       |       < least(1000000, $PpsK * x * 1000000 // t.sx) THEN 1 ELSE 0 END AS inc
       |  FROM b, t)
       |SELECT seg, CAST(count(*) AS BIGINT) AS n_pop,
       |  CAST(sum(inc) AS BIGINT) AS n_sampled,
       |  CAST(sum(y) AS BIGINT) AS true_total,
       |  CAST(sum(CASE WHEN inc = 1 THEN y * 1000000 // pi_ppm ELSE 0 END) AS BIGINT) AS ht_est,
       |  CAST(abs(sum(CASE WHEN inc = 1 THEN y * 1000000 // pi_ppm ELSE 0 END) - sum(y))
       |    * 1000 // greatest(sum(y), 1) AS BIGINT) AS err_pm
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // RANDOMIZED RESPONSE (Warner's design) — the local-privacy
  // counting protocol: each respondent reports the TRUTH of a
  // sensitive binary attribute (doc lang = 'en') only when their
  // first md5 coin says so (q = 1/2), otherwise they report a second
  // independent md5 coin — so no individual report reveals the
  // attribute, yet the population count debiases exactly:
  // E[obs] = q·T + (1−q)·n/2 ⇒ T̂ = (4·obs − n)/2 at q = 1/2. Both
  // coins are md5 buckets (the qSplit convention — deterministic on
  // both engines), so the gate checks the whole mechanism in exact
  // integers: the reported count, the estimator numerator
  // (est = est_x2/2), and its doubled absolute error vs the true
  // count. Map-only over the corpus + one per-source fold; the
  // estimator's concentration (err shrinks relative to n) is what a
  // privacy-budget review reads off this table.
  def qRandResponse(s: SparkSession, dir: String): DataFrame = {
    val coin = (tag: String) =>
      conv(substring(md5(concat(lit(tag), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") % 1000000L < 500000L
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), (col("lang") === "en").as("truth"))
      .withColumn("report",
        when(coin("rr1_"), col("truth")).otherwise(coin("rr2_")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("truth").cast("long")).as("n_true"),
        sum(col("report").cast("long")).as("n_reported"))
      .withColumn("est_x2", expr("4 * n_reported - n"))
      .withColumn("err_x2", abs(col("est_x2") - lit(2L) * col("n_true")))
      .orderBy(col("source"))
  }

  val qRandResponseSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
      |    CASE WHEN ('0x' || substr(md5('rr1_' || doc_id), 1, 15))::BIGINT % 1000000 < 500000
      |         THEN CASE WHEN lang = 'en' THEN 1 ELSE 0 END
      |         ELSE CASE WHEN ('0x' || substr(md5('rr2_' || doc_id), 1, 15))::BIGINT % 1000000 < 500000
      |              THEN 1 ELSE 0 END END AS report
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(truth) AS BIGINT) AS n_true,
      |  CAST(sum(report) AS BIGINT) AS n_reported,
      |  CAST(4 * sum(report) - count(*) AS BIGINT) AS est_x2,
      |  CAST(abs(4 * sum(report) - count(*) - 2 * sum(truth)) AS BIGINT) AS err_x2
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // PII REDACTION — the log-scrubbing pass telemetry goes through
  // before leaving its trust boundary: every digit in the free-form
  // `props` payload masks to '#' (numbers are the id/quasi-identifier
  // carrier in structured logs), with the per-row masked count as the
  // audit column. Row-local regexp projection — map-only, no state,
  // no shuffle but the presentation sort; composes with
  // [[qPseudonymize]] (identifier tokens) as the two halves of the
  // privacy layer. DuckDB's regexp_replace needs the explicit 'g'
  // flag to match Spark's replace-all default (CLAUDE.md rule).
  def qRedact(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        (length(col("props")) - length(regexp_replace(col("props"), "[0-9]", "")))
          .cast("long").as("n_masked"),
        regexp_replace(col("props"), "[0-9]", "#").as("props_masked"))
      .orderBy(col("event_id"))

  val qRedactSql: String =
    """SELECT event_id,
      |  CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS n_masked,
      |  regexp_replace(props, '[0-9]', '#', 'g') AS props_masked
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // K-ANONYMITY AUDIT — the third leg of the privacy layer (beside
  // [[qRedact]]/[[qPseudonymize]]): before a record set with
  // quasi-identifiers leaves its trust boundary, measure how many
  // records sit in QI-equivalence groups smaller than k. QI here =
  // (nation, market segment, $1k account-balance bucket) — the
  // classic linkage-attack triple. Output is the group-size
  // histogram (tail capped at 5+, the value-bucket discipline): the
  // k_bin=1 row is the uniquely re-identifiable mass a release gate
  // blocks on. Two hash aggregates (QI shuffle, then a k-bounded
  // rollup), no window, no state — the shape survives any corpus
  // size. floor() before the cast (DuckDB rounds, Spark truncates;
  // balances go negative).
  def qKAnon(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("k"))
      .groupBy(least(col("k"), lit(5L)).as("k_bin"))
      .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_records"),
        max(col("k")).as("max_k"))
      .orderBy(col("k_bin"))

  val qKAnonSql: String =
    """WITH qi AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      |  FROM customer),
      |g AS (SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS k
      |      FROM qi GROUP BY 1, 2, 3)
      |SELECT CAST(least(k, 5) AS BIGINT) AS k_bin,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(k) AS BIGINT) AS n_records,
      |  CAST(max(k) AS BIGINT) AS max_k
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // L-DIVERSITY AUDIT — k-anonymity's necessary companion
  // (Machanavajjhala et al. 2007): a QI group can be large enough to
  // pass k-anonymity while every member shares the SAME sensitive
  // value, so the release still discloses the attribute. Same QI
  // triple as [[qKAnon]]; sensitive value = the priority of each
  // customer's earliest order (deterministic min-by-orderkey;
  // customers with no orders carry 'NONE'). Per QI group, l = count
  // of distinct sensitive values; output = the l histogram (tail
  // capped at 5+, the qKAnon bin discipline) — the l_bin=1 row is
  // the attribute-disclosure mass a release gate blocks on even
  // when k is fine.
  //
  // Scale shape: one key-partitioned join (customer ⋈ per-customer
  // earliest-order summary, both map-side-combinable), one QI
  // aggregate with a distinct-count, one l-bounded rollup — no
  // window, no state.
  def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    val firstOrder = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderkey"), col("o_orderpriority")))
        .getField("o_orderpriority").as("sens"))
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .join(firstOrder, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        coalesce(col("sens"), lit("NONE")).as("sens"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(count(lit(1)).as("k"), countDistinct(col("sens")).as("l"))
      .groupBy(least(col("l"), lit(5L)).as("l_bin"))
      .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_records"),
        max(col("l")).as("max_l"))
      .orderBy(col("l_bin"))
  }

  val qLDiversitySql: String =
    """WITH fo AS (SELECT o_custkey,
      |    min_by(o_orderpriority, o_orderkey) AS sens FROM orders GROUP BY 1),
      |qi AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
      |    coalesce(fo.sens, 'NONE') AS sens
      |  FROM customer LEFT JOIN fo ON c_custkey = fo.o_custkey),
      |g AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
      |    count(*) AS k, count(DISTINCT sens) AS l
      |  FROM qi GROUP BY 1, 2, 3)
      |SELECT CAST(least(l, 5) AS BIGINT) AS l_bin,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(k) AS BIGINT) AS n_records,
      |  CAST(max(l) AS BIGINT) AS max_l
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // T-CLOSENESS AUDIT — the third rung of the release-audit ladder
  // (Li/Li/Venkatasubramanian 2007): a QI group can pass k-anonymity
  // AND l-diversity while its sensitive-value DISTRIBUTION still
  // leaks (5 distinct priorities present but 90% URGENT discloses
  // plenty). t-closeness bounds the distance between each group's
  // sensitive distribution and the global one; distance here is
  // total-variation — EXACT as integers (the text_source_divergence
  // discipline; EMD over a nominal attribute IS TV): per group of
  // size k over corpus of size N, t·(2kN) = Σ_v |c_v·N − C_v·k|,
  // where values ABSENT from the group contribute C_v·k — folded in
  // closed form (Σ_absent C_v·k = kN − Σ_present C_v·k), so only
  // PRESENT (group, value) rows are ever materialized: t_num =
  // kN + Σ_present(|c_v·N − C_v·k| − C_v·k). Output is the t_ppm
  // decile histogram (the qKAnon bin discipline) — the high bins are
  // the skewed-disclosure mass a release gate blocks on even when k
  // and l pass.
  //
  // Scale shape: one (QI, sens) aggregate, one QI-keyed aggregate
  // for k reusing the same exchange, the |values|-row global table
  // broadcast, a final QI aggregate and a ≤11-bin rollup — no
  // window, no grid materialization, no state.
  def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val firstOrder = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(min(struct(col("o_orderkey"), col("o_orderpriority")))
        .getField("o_orderpriority").as("sens"))
    val qi = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
      .join(firstOrder, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        coalesce(col("sens"), lit("NONE")).as("sens"))
    val gv = qi.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        col("sens"))
      .agg(count(lit(1)).as("cv"))
    // k via a second aggregate over gv: shares gv's QI-prefixed
    // exchange (no corpus re-scan, no window)
    val gk = gv.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(sum(col("cv")).as("k"))
    val gl = qi.groupBy(col("sens")).agg(count(lit(1)).as("gc"))
    val nn = qi.agg(count(lit(1)).as("n"))
    val t = gv
      .join(gk, Seq("c_nationkey", "c_mktsegment", "bal_bucket"))
      .join(broadcast(gl), "sens")
      .crossJoin(broadcast(nn))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
      .agg(max(col("k")).as("k"), max(col("n")).as("n"),
        sum(abs(col("cv") * col("n") - col("gc") * col("k")) - col("gc") * col("k"))
          .as("spart"))
      .select(col("k"),
        // numerator widened to decimal(38,0)/HUGEINT: 1e6·k·n
        // approaches Long.MaxValue near n≈3M records, where Spark
        // would wrap silently and DuckDB would raise (the
        // overflow-audit class; matches qBrierDecomp/qYouden)
        expr("cast((1000000 * (cast(k as decimal(38,0)) * n + spart))" +
          " div (2 * cast(k as decimal(38,0)) * n) as bigint)").as("t_ppm"))
    t.groupBy(expr("t_ppm div 100000").as("t_bin"))
      .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_records"),
        max(col("t_ppm")).as("max_t_ppm"))
      .orderBy(col("t_bin"))
  }

  val qTClosenessSql: String =
    """WITH fo AS (SELECT o_custkey,
      |    min_by(o_orderpriority, o_orderkey) AS sens FROM orders GROUP BY 1),
      |qi AS (SELECT c_custkey, c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
      |    coalesce(fo.sens, 'NONE') AS sens
      |  FROM customer LEFT JOIN fo ON c_custkey = fo.o_custkey),
      |gv AS (SELECT c_nationkey, c_mktsegment, bal_bucket, sens,
      |    CAST(count(*) AS BIGINT) AS cv FROM qi GROUP BY 1, 2, 3, 4),
      |gk AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
      |    CAST(sum(cv) AS BIGINT) AS k FROM gv GROUP BY 1, 2, 3),
      |gl AS (SELECT sens, CAST(count(*) AS BIGINT) AS gc FROM qi GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qi),
      |t AS (SELECT gv.c_nationkey, gv.c_mktsegment, gv.bal_bucket,
      |    max(gk.k) AS k, max(nn.n) AS n,
      |    sum(abs(gv.cv * nn.n - gl.gc * gk.k) - gl.gc * gk.k) AS spart
      |  FROM gv JOIN gk USING (c_nationkey, c_mktsegment, bal_bucket)
      |       JOIN gl USING (sens), nn
      |  GROUP BY 1, 2, 3),
      |tp AS (SELECT k, CAST((1000000 * (k::HUGEINT * n + spart)) // (2 * k::HUGEINT * n) AS BIGINT) AS t_ppm FROM t)
      |SELECT CAST(t_ppm // 100000 AS BIGINT) AS t_bin,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(k) AS BIGINT) AS n_records,
      |  CAST(max(t_ppm) AS BIGINT) AS max_t_ppm
      |FROM tp GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // SOURCE-CONCENTRATION AUDIT (Lorenz curve + Gini) — how unequally
  // the token budget is spread across sources: the number a mixing
  // policy (samp_domain_mix / samp_temperature) is tuned against,
  // and the release-gate check that one crawl domain hasn't quietly
  // become half the corpus. Per source: token mass, ascending rank,
  // cumulative (Lorenz) share; plus the corpus Gini, all in exact
  // integer per-mille. The corpus-sized work is one groupBy(source)
  // token rollup (map-side partial); every window runs over the
  // |sources| rows that survive it — bounded by design, the same
  // class as qShuffleOrder's 16-row offset table. The Gini numerator
  // Σ(2i−n−1)·tok is n²·tok_max-ish, so it rides through
  // DECIMAL(38,0)/HUGEINT on both engines (the DSIR overflow
  // lesson); all operands non-negative after the ascending sort, so
  // integer div = floor on both.
  def qSourceGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Tables.documents(s, dir)
      .select(col("source"),
        size(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("tok"))
    val asc = Window.orderBy(col("tok"), col("source"))
    val full = asc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bySrc
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("tot", sum(col("tok")).over(full))
      .withColumn("cum", sum(col("tok")).over(cum))
      // the weight (2i-n-1) is widened to decimal BEFORE the product:
      // at large corpora n_sources·total_tokens approaches 2^63 and a
      // raw BIGINT term would wrap on the Spark side only (the oracle
      // multiplies as HUGEINT) — r10 ADVICE, the linreg/ols class
      .withColumn("gnum", sum((lit(2L) * col("i") - col("n") - lit(1L))
        .cast("decimal(38,0)") * col("tok")).over(full))
      .select(col("source"), col("tok").as("n_tokens"), col("i").as("rank_asc"),
        expr("1000 * cum div tot").as("cum_share_pm"),
        expr("cast(1000 as decimal(38,0)) * cast(gnum as decimal(38,0)) div (cast(n as decimal(38,0)) * cast(tot as decimal(38,0)))")
          .cast("long").as("gini_pm"))
      .orderBy(col("rank_asc"))
  }

  val qSourceGiniSql: String =
    """WITH d AS (
      |  SELECT source, CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS t
      |  FROM documents),
      |s AS (SELECT source, CAST(sum(t) AS BIGINT) AS tok FROM d GROUP BY 1),
      |r AS (SELECT source, tok,
      |  CAST(row_number() OVER (ORDER BY tok, source) AS BIGINT) AS i,
      |  CAST(count(*) OVER () AS BIGINT) AS n,
      |  CAST(sum(tok) OVER () AS BIGINT) AS tot,
      |  CAST(sum(tok) OVER (ORDER BY tok, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM s),
      |g AS (SELECT *, CAST(sum((2*i - n - 1)::HUGEINT * tok) OVER () AS HUGEINT) AS gnum FROM r)
      |SELECT source, tok AS n_tokens, i AS rank_asc,
      |  CAST(1000 * cum // tot AS BIGINT) AS cum_share_pm,
      |  CAST(1000::HUGEINT * gnum // (n::HUGEINT * tot::HUGEINT) AS BIGINT) AS gini_pm
      |FROM g ORDER BY rank_asc""".stripMargin

  // ---------------------------------------------------------------
  // TRAIN/VAL/TEST SPLIT — the 80/10/10 hash split every training
  // pipeline runs before anything else, with the per-language class
  // balance that audits split bias. Membership is a pure row-local
  // function of doc_id (md5 bucket 0-99 — the samp_stratified hash),
  // so the same document lands in the same split on any cluster
  // size, under any partitioning, and in the DuckDB oracle; no
  // global sort or state anywhere. Map-side partial aggregate to
  // |splits|·|langs| rows.
  private val SplitBuckets = Seq(("train", 80L), ("val", 90L)) // else "test"

  /** Deterministic split assignment as a pure function of doc_id
    * (md5 bucket % 100 against [[SplitBuckets]]) — shared by
    * [[qSplit]] and [[qSplitClean]]. */
  private def splitOf(id: Column): Column = {
    val b = conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    SplitBuckets.foldLeft(Option.empty[Column]) {
      case (acc, (name, hi)) => Some(acc.map(_.when(b < hi, name))
        .getOrElse(when(b < hi, name)))
    }.get.otherwise("test")
  }

  def qSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(splitOf(col("doc_id")).as("split"), col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))

  val qSplitSql: String = {
    val cases = SplitBuckets.map { case (n, hi) => s"WHEN b < $hi THEN '$n'" }
      .mkString(" ")
    s"""WITH h AS (SELECT lang,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |  FROM documents),
       |s AS (SELECT CASE $cases ELSE 'test' END AS split, lang FROM h)
       |SELECT split, lang, count(*) AS n_docs FROM s
       |GROUP BY split, lang ORDER BY split, lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // SPLIT SALT STABILITY — the audit that stops a silent eval-set
  // reshuffle: a hash split is deterministic PER SALT but almost
  // fully re-drawn ACROSS salts (cells ≈ product of marginals), so
  // changing the salt string in a config quietly moves ~20% of
  // yesterday's eval set into today's train set — memorization
  // leakage that no within-run check can see. This emits the full
  // 3×3 transition matrix between the splits under two salts plus
  // each cell's per-mille share; a release gate pins the diagonal.
  // Same row-local md5-bucket convention as [[splitOf]] (salted:
  // md5(id || ':' || salt)), map-side aggregate to 9 rows — no
  // shuffle beyond the 9-key exchange at any corpus size.
  private def saltedSplitOf(id: Column, salt: String): Column = {
    val b = conv(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 15), 16, 10)
      .cast("long") % 100
    SplitBuckets.foldLeft(Option.empty[Column]) {
      case (acc, (name, hi)) => Some(acc.map(_.when(b < hi, name))
        .getOrElse(when(b < hi, name)))
    }.get.otherwise("test")
  }

  def qSplitStability(s: SparkSession, dir: String): DataFrame = {
    val tot = Tables.documents(s, dir).count()
    Tables.documents(s, dir)
      .select(saltedSplitOf(col("doc_id"), "v1").as("split_a"),
        saltedSplitOf(col("doc_id"), "v2").as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("split_a"), col("split_b"), col("n_docs"),
        expr(s"1000 * n_docs div ${tot}L").as("cell_pm"),
        when(col("split_a") === col("split_b"), 0L).otherwise(1L).as("churned"))
      .orderBy(col("split_a"), col("split_b"))
  }

  val qSplitStabilitySql: String = {
    val cases = SplitBuckets.map { case (n, hi) => s"WHEN b < $hi THEN '$n'" }
      .mkString(" ")
    s"""WITH h AS (SELECT
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v1'), 1, 15))::BIGINT % 100 AS ba,
       |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':v2'), 1, 15))::BIGINT % 100 AS bb
       |  FROM documents),
       |s AS (SELECT
       |  CASE ${cases.replace("b <", "ba <")} ELSE 'test' END AS split_a,
       |  CASE ${cases.replace("b <", "bb <")} ELSE 'test' END AS split_b FROM h),
       |tot AS (SELECT count(*) AS t FROM documents)
       |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(1000 * count(*) // t AS BIGINT) AS cell_pm,
       |  CASE WHEN split_a = split_b THEN 0::BIGINT ELSE 1::BIGINT END AS churned
       |FROM s, tot GROUP BY split_a, split_b, t ORDER BY split_a, split_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // DECONTAMINATED SPLIT — the composition every training-set build
  // actually runs: assign train/val/test, then EXCLUDE from train any
  // document sharing ≥ [[SplitCleanMinShared]] word-3-grams with a
  // held-out (val/test) document — leakage from train into eval is
  // the [[Text.qDecontaminate]] mechanic, but pointed at the split's
  // OWN eval sets rather than an external benchmark. Per (split,
  // lang): total docs, excluded docs (train only by construction),
  // kept docs. Scale shape: split assignment is a pure doc_id
  // function (no join to assign); the gram kernel runs once; the
  // held-out gram table (≈20% of the corpus) is the broadcast build
  // side and train grams stream — the decontaminate orientation
  // unchanged.
  private val SplitCleanMinShared = 2

  def qSplitClean(s: SparkSession, dir: String): DataFrame = {
    val g = Text.gramHashes(s, dir)
      .withColumn("split", splitOf(col("doc_id")))
    val ev = g.filter(col("split") =!= "train")
      .select(col("doc_id").as("eval_id"), col("gram_h"))
    val tr = g.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("gram_h"))
    // eval-side broadcast behind the shared size guard (falls back to
    // a shuffled hash join on a large held-out set)
    val contaminated = Text.contaminationJoin(tr, ev)
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= SplitCleanMinShared)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("excluded", lit(1L))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), splitOf(col("doc_id")).as("split"))
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("excluded"), lit(0L))).as("n_excluded"))
      .select(col("split"), col("lang"), col("n_docs"), col("n_excluded"),
        (col("n_docs") - col("n_excluded")).as("n_kept"))
      .orderBy(col("split"), col("lang"))
  }

  val qSplitCleanSql: String = {
    val cases = SplitBuckets.map { case (n, hi) => s"WHEN b < $hi THEN '$n'" }
      .mkString(" ")
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= 3
       |    THEN list_transform(range(len(ws) - 2),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
       |    ELSE [array_to_string(ws, ' ')] END) AS grams FROM w),
       |sp AS (SELECT doc_id, lang, CASE $cases ELSE 'test' END AS split FROM (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |  FROM documents)),
       |ev AS (SELECT g.doc_id AS eval_id, unnest(grams) AS gram
       |  FROM g JOIN sp ON g.doc_id = sp.doc_id WHERE sp.split <> 'train'),
       |tr AS (SELECT g.doc_id AS train_id, unnest(grams) AS gram
       |  FROM g JOIN sp ON g.doc_id = sp.doc_id WHERE sp.split = 'train'),
       |cont AS (SELECT DISTINCT train_id FROM (
       |  SELECT train_id, eval_id FROM tr JOIN ev USING (gram)
       |  GROUP BY train_id, eval_id HAVING count(*) >= $SplitCleanMinShared))
       |SELECT sp.split, sp.lang, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cont.train_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded,
       |  CAST(count(*) - sum(CASE WHEN cont.train_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM sp LEFT JOIN cont ON sp.doc_id = cont.train_id
       |GROUP BY sp.split, sp.lang ORDER BY sp.split, sp.lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // DOMAIN-MIXTURE CONSTRUCTION — the pretraining mixing step: given
  // a per-SOURCE target weight (here md5-derived 1..4, standing in
  // for the curated DoReMi-style mixture config) and a global budget
  // (¾ of the corpus), compute each source's quota with exact integer
  // arithmetic, select rows by the deterministic md5-threshold
  // mechanic ([[qStratified]]), and — the part naive mixing gets
  // wrong — FLAG sources too small to fill their quota (keep rate
  // clamps at 1, the mixture silently shifts): `undersupplied` is the
  // signal to re-weight or up-sample. Scale shape: one column-pruned
  // count per source, a |sources|-row quota table broadcast back onto
  // the scan as a row-local predicate, and a map-side-combined
  // rollup — zero corpus shuffles.
  def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val w = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        conv(substring(md5(concat(lit("dmw_"), col("source"))), 1, 15), 16, 10)
          .cast("long") % 4 + 1)
    val tot = w.agg(sum(col("n_docs")).as("n_total"), sum(col("weight")).as("sum_w"))
    val rate = w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("weight"),
        expr("n_total * 3 div 4 * weight div sum_w").as("quota"))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr("quota * 1000000 div n_docs")))
    val bucket = conv(substring(md5(concat(lit("dm_"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 1000000L
    // ONE broadcast of the full quota table, its columns carried
    // through the rollup keys — a second join would replan the
    // per-source count subtree under both children (the CLAUDE.md
    // groupBy+join rule)
    d.withColumn("b", bucket)
      .join(broadcast(rate), "source")
      .groupBy(col("source"), col("n_docs"), col("weight"), col("quota"))
      .agg(sum(when(col("b") < col("keep_ppm"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("weight"), col("quota"), col("n_kept"),
        when(col("quota") > col("n_docs"), lit(1)).otherwise(lit(0)).as("undersupplied"))
      .orderBy(col("source"))
  }

  val qDomainMixSql: String =
    """WITH d AS (SELECT doc_id, source FROM documents),
      |c AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
      |w AS (SELECT source, n_docs, ('0x' || substr(md5('dmw_' || source), 1, 15))::BIGINT % 4 + 1 AS weight FROM c),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total, CAST(sum(weight) AS BIGINT) AS sum_w FROM w),
      |q AS (SELECT source, n_docs, weight, n_total * 3 // 4 * weight // sum_w AS quota FROM w, t),
      |r AS (SELECT source, n_docs, weight, quota,
      |  least(1000000, quota * 1000000 // n_docs) AS keep_ppm FROM q),
      |k AS (SELECT d.source, sum(CASE WHEN ('0x' || substr(md5('dm_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < r.keep_ppm THEN 1 ELSE 0 END) AS n_kept
      |  FROM d JOIN r ON d.source = r.source GROUP BY d.source)
      |SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, CAST(r.weight AS BIGINT) AS weight,
      |  CAST(r.quota AS BIGINT) AS quota, CAST(k.n_kept AS BIGINT) AS n_kept,
      |  CASE WHEN r.quota > r.n_docs THEN 1 ELSE 0 END AS undersupplied
      |FROM r JOIN k ON r.source = k.source ORDER BY r.source""".stripMargin

  // ---------------------------------------------------------------
  // QUALITY-WEIGHTED SAMPLING — rejection sampling where a document's
  // keep probability IS its quality: score in integer quarters
  // (0..4, [[Text.qualityQuarters]]) against a deterministic md5
  // bucket % 4, so a full-score doc always survives, a zero-score
  // doc never does, and the middle keeps proportionally — the
  // soft-filter alternative to a hard quality cutoff (which throws
  // away every mid-quality doc and over-concentrates the survivors).
  // Same row-local md5-threshold mechanic as [[qStratified]]
  // (map-only, zero corpus shuffles, reproducible under re-runs);
  // the gate reports per-score totals and kept counts, so both the
  // rubric and the acceptance arithmetic are value-checked.
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(concat(lit("wq_"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 4
    Tables.documents(s, dir)
      .select(Text.qualityQuarters.cast("long").as("quarters"), bucket.as("b"))
      .groupBy(col("quarters"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("b") < col("quarters"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("quarters"))
  }

  val qWeightedSampleSql: String =
    s"""WITH t AS (SELECT ${Text.qualityQuartersSql("text")} AS q,
       |  ('0x' || substr(md5('wq_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 4 AS b
       |  FROM documents)
       |SELECT CAST(q AS BIGINT) AS quarters, count(*) AS n_total,
       |  CAST(sum(CASE WHEN b < q THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM t GROUP BY q ORDER BY quarters""".stripMargin

  // ---------------------------------------------------------------
  // LENGTH-CURRICULUM BINNING — the shortest-first training schedule:
  // assign every document a curriculum phase by where its length
  // falls among the corpus deciles. The scalable shape is the
  // [[Maintenance.qSkewReport]] technique pointed at assignment
  // instead of reporting: decile thresholds come from the LENGTH
  // HISTOGRAM (count-of-counts — bounded by distinct lengths, not
  // corpus size) via a cumulative sum, broadcast back, and the phase
  // is a 9-term integer compare per doc — map-side, no global sort,
  // no single-partition window over the corpus (the rank-based ntile
  // formulation would need exactly that). Ties at a threshold get
  // the same phase BY CONSTRUCTION (assignment compares values, not
  // ranks), which is also what makes the two engines agree exactly.
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val lens = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = lens.groupBy(col("n_chars")).agg(count(lit(1)).as("k"))
      .withColumn("cum", sum(col("k")).over(wCum))
    val tot = lens.agg(count(lit(1)).as("n_total"))
    // all 9 thresholds in ONE aggregation pass over the (tiny) cum
    // frame — nine filter+agg subtrees would each replan the
    // scan→histogram→window chain (identical subtrees are not
    // reliably reused; see the dedup_winnow_pairs measurement)
    val tExprs = (1 to 9).map(q =>
      min(when(col("cum") >= expr(s"n_total * $q div 10"), col("n_chars"))).as(s"t$q"))
    val thresholds = cum.crossJoin(broadcast(tot)).agg(tExprs.head, tExprs.tail: _*)
    val phase = (1 to 9).map(q => when(col("n_chars") > col(s"t$q"), 1).otherwise(0))
      .reduce(_ + _)
    lens.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("n_chars"), phase.cast("long").as("phase"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_len"), max(col("n_chars")).as("max_len"))
      .orderBy(col("phase"))
  }

  val qCurriculumSql: String = {
    val tCtes = (1 to 9).map(q =>
      s"t$q AS (SELECT min(n_chars) AS t$q FROM cum, tot WHERE cum >= n_total * $q // 10)")
      .mkString(",\n")
    val phaseExpr = (1 to 9).map(q =>
      s"CASE WHEN n_chars > (SELECT t$q FROM t$q) THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH lens AS (SELECT doc_id, n_chars FROM documents),
       |h AS (SELECT n_chars, count(*) AS k FROM lens GROUP BY n_chars),
       |cum AS (SELECT n_chars, sum(k) OVER (ORDER BY n_chars
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
       |tot AS (SELECT count(*) AS n_total FROM lens),
       |$tCtes
       |SELECT CAST($phaseExpr AS BIGINT) AS phase,
       |  count(*) AS n_docs,
       |  CAST(min(n_chars) AS BIGINT) AS min_len, CAST(max(n_chars) AS BIGINT) AS max_len
       |FROM lens GROUP BY phase ORDER BY phase""".stripMargin
  }

  // ---------------------------------------------------------------
  // PARTIAL-AGGREGATE MERGE — the incremental-rollup contract: daily
  // partial aggregates (what a nightly job materializes per
  // partition) merge into the all-time answer without touching raw
  // rows again: counts add, sums add, mins/maxes fold. This is the
  // lambda-architecture primitive that makes 100 TB rollups O(days)
  // instead of O(events) — the gate proves merged(daily) by checking
  // the two-level aggregation against DuckDB's same two levels.
  // Money is exact integer cents end-to-end (order-free), and both
  // aggregation levels partial-aggregate map-side.
  def qPartialMerge(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("d"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sc"),
        min(col("vc")).as("mn"), max(col("vc")).as("mx"))
    daily.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("n")).as("n_events"),
        sum(col("sc")).as("sum_cents"),
        min(col("mn")).as("min_cents"),
        max(col("mx")).as("max_cents"))
      .orderBy(col("event_type"))
  }

  val qPartialMergeSql: String =
    """WITH c AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |daily AS (SELECT d, event_type, count(*) AS n, sum(vc) AS sc,
      |    min(vc) AS mn, max(vc) AS mx FROM c GROUP BY d, event_type)
      |SELECT event_type, count(*) AS n_days,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sc) AS BIGINT) AS sum_cents,
      |  min(mn) AS min_cents, max(mx) AS max_cents
      |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // FILTER-DECISION ENSEMBLE — the per-document keep/drop record a
  // production corpus pipeline materializes before sampling: every
  // filter contributes one bit to a reasons mask (1 = too short,
  // 2 = average word length outside [3.0, 9.0], 4 = one word above
  // 20% of the doc, 8 = exact-duplicate non-canonical), so audits
  // can ask "what did we drop and WHY" per document. Per-doc
  // metrics come from ONE map-only JVM kernel pass (word count,
  // character mass, top word frequency — the [[Text]] duckWords
  // primitives, no per-doc explode+groupBy shuffle); the only
  // exchange is the md5 window that elects exact-dup canonicals.
  // All thresholds compare scaled integers — no rounding anywhere.
  def qFilterDecisions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.expressions.Window
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_words", LongType),
      StructField("cl", LongType),
      StructField("mfc", LongType),
      StructField("th", StringType)))
    val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val text = r.getString(1)
          val ws = Text.duckWords(text)
          var cl = 0L
          val hm = new java.util.HashMap[String, Int]()
          var mf = 0
          var i = 0
          while (i < ws.length) {
            // codepoints, not UTF-16 units: the oracle's length() is
            // codepoint-based, and a supplementary-plane char would
            // otherwise skew awl_x1000 on the Spark side only
            cl += ws(i).codePointCount(0, ws(i).length)
            val c = hm.merge(ws(i), 1, Integer.sum)
            if (c > mf) mf = c
            i += 1
          }
          md.reset()
          val th = md.digest(text.getBytes("UTF-8"))
            .map(b => f"${b & 0xff}%02x").mkString
          Row(r.getLong(0), ws.length.toLong, cl, mf.toLong, th)
        }
      }(Encoders.row(schema))
    val w = Window.partitionBy(col("th")).orderBy(col("doc_id"))
    base
      .withColumn("is_dup", when(row_number().over(w) > 1, 1L).otherwise(0L))
      .select(col("doc_id"), col("n_words"),
        expr("cl * 1000 div greatest(n_words, 1)").as("awl_x1000"),
        expr("mfc * 1000 div greatest(n_words, 1)").as("maxfreq_x1000"),
        col("is_dup"))
      .select(col("doc_id"), col("n_words"), col("awl_x1000"), col("maxfreq_x1000"),
        expr("CASE WHEN n_words < 20 THEN 1 ELSE 0 END" +
          " + CASE WHEN awl_x1000 < 3000 OR awl_x1000 > 9000 THEN 2 ELSE 0 END" +
          " + CASE WHEN maxfreq_x1000 > 200 THEN 4 ELSE 0 END" +
          " + 8 * is_dup").as("reasons_mask"))
      .withColumn("keep",
        when(col("reasons_mask") === 0, 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val qFilterDecisionsSql: String =
    """WITH t AS (SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS ws,
      |  length(replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ', '')) AS cl FROM documents),
      |nw AS (SELECT doc_id, text, len(ws) AS n_words, cl FROM t),
      |mf AS (SELECT doc_id, max(c) AS mfc FROM (
      |  SELECT doc_id, word, count(*) AS c
      |  FROM (SELECT doc_id, unnest(ws) AS word FROM t) GROUP BY doc_id, word) GROUP BY doc_id),
      |dup AS (SELECT doc_id,
      |  CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS is_dup
      |  FROM documents),
      |j AS (SELECT n.doc_id, n.n_words, n.cl * 1000 // greatest(n.n_words, 1) AS awl_x1000,
      |  m.mfc * 1000 // greatest(n.n_words, 1) AS maxfreq_x1000, d.is_dup
      |  FROM nw n JOIN mf m USING (doc_id) JOIN dup d USING (doc_id)),
      |o AS (SELECT doc_id, n_words, awl_x1000, maxfreq_x1000,
      |  CASE WHEN n_words < 20 THEN 1 ELSE 0 END
      |    + CASE WHEN awl_x1000 < 3000 OR awl_x1000 > 9000 THEN 2 ELSE 0 END
      |    + CASE WHEN maxfreq_x1000 > 200 THEN 4 ELSE 0 END
      |    + 8 * is_dup AS reasons_mask FROM j)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(awl_x1000 AS BIGINT) AS awl_x1000,
      |  CAST(maxfreq_x1000 AS BIGINT) AS maxfreq_x1000, CAST(reasons_mask AS BIGINT) AS reasons_mask,
      |  CAST(CASE WHEN reasons_mask = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM o ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // DSIR-STYLE IMPORTANCE WEIGHTS — data selection by importance
  // resampling (Xie et al. 2023): score every raw document by how
  // much its hashed n-gram feature distribution looks like a TARGET
  // distribution (here the `lang = 'en'` slice standing in for "the
  // high-quality reference corpus"), so a 100 TB raw crawl can be
  // resampled toward the target domain without a trained classifier.
  // Features are word unigrams hashed to 64 buckets (the shared md5
  // digest convention); each bucket's importance is the Laplace-
  // smoothed frequency ratio lift_ppm = 1e6·(c_target·T_raw) /
  // (c_raw·T_target), and a document's score is the SUM of its
  // tokens' bucket lifts — the published estimator's log-likelihood
  // ratio replaced by the rational lift sum (no libm in gated
  // values; same monotone ranking on the smoothed ratios). Gated
  // per-source: total/mean lift and how many of the source's docs
  // score above parity (mean lift > 1e6) — the resampling decision.
  // Scale shape: one tokenize kernel (checkpointed, fixed-width
  // rows), a 64-row lift table broadcast back onto the token stream,
  // per-doc then per-source partial aggregation — no corpus shuffle.
  private val DsirBuckets = 64L

  def qDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val id = r.getLong(0)
          val lang = r.getString(1)
          val src = r.getString(2)
          graft.operators.Text.duckWords(r.getString(3)).iterator
            .map(w => (id, lang, src, Dedup.md5Mod(md, w, DsirBuckets)))
        }
      }.toDF("doc_id", "lang", "source", "b")
      .localCheckpoint() // one kernel pass for the count and score consumers
    val cnt = tok.groupBy(col("b")).agg(
      (sum(when(col("lang") === "en", 1L).otherwise(0L)) + 1L).cast("long").as("c_t"),
      (count(lit(1)) + 1L).cast("long").as("c_r"))
    val tot = cnt.agg(sum(col("c_t")).cast("long").as("t_t"), sum(col("c_r")).cast("long").as("t_r"))
    // the numerator is 1e6·c_t·t_r — three BIGINT factors whose
    // product exceeds Long range at roughly sf1 token counts, where
    // Spark wraps silently while DuckDB raises (the moneySum overflow
    // rule applied to a product): both engines compute it in wide
    // exact arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle —
    // products cap at ~1e31, far under both limits) and the integral
    // divide of positive operands is truncation on both.
    val lift = cnt.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        "(cast(1000000 as decimal(38,0)) * c_t * t_r) div (cast(c_r as decimal(38,0)) * t_t)")
        .as("lift_ppm"))
    tok.join(broadcast(lift), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("lift_ppm")).cast("long").as("sum_lift"), count(lit(1)).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("sum_lift")).cast("long").as("tot_lift"),
        sum(col("n_tok")).cast("long").as("n_tok"),
        sum(when(col("sum_lift") > col("n_tok") * 1000000L, 1L).otherwise(0L))
          .cast("long").as("n_above_parity"))
      .withColumn("mean_lift_ppm", expr("tot_lift div n_tok"))
      .orderBy(col("source"))
  }

  val qDsirSql: String =
    s"""WITH w AS (SELECT doc_id, lang, source,
       |    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |f AS (SELECT doc_id, lang, source,
       |    ('0x' || substr(md5(word),1,15))::BIGINT % $DsirBuckets AS b FROM w),
       |cnt AS (SELECT b,
       |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) + 1 AS c_t,
       |    CAST(count(*) AS BIGINT) + 1 AS c_r
       |  FROM f GROUP BY b),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_t, CAST(sum(c_r) AS BIGINT) AS t_r FROM cnt),
       |lift AS (SELECT b, CAST((1000000::HUGEINT * c_t * t_r) // (c_r::HUGEINT * t_t) AS BIGINT) AS lift_ppm
       |  FROM cnt CROSS JOIN tot),
       |ds AS (SELECT f.doc_id, f.source, CAST(sum(lift_ppm) AS BIGINT) AS sum_lift,
       |    CAST(count(*) AS BIGINT) AS n_tok
       |  FROM f JOIN lift USING (b) GROUP BY 1, 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(sum_lift) AS BIGINT) AS tot_lift,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |  CAST(count(*) FILTER (WHERE sum_lift > n_tok * 1000000) AS BIGINT) AS n_above_parity,
       |  CAST(sum(sum_lift) // sum(n_tok) AS BIGINT) AS mean_lift_ppm
       |FROM ds GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // PER-SOURCE DATA CARD — the ingest-accounting table every corpus
  // release ships (the "datasheet" rollup): one row per source with
  // volume (docs / chars / whitespace tokens, the [[Text.qTokenStats]]
  // tokenizer), exact-dup accounting (md5 distincts), language mix
  // (distinct langs + modal language, ties lexicographic), a
  // short-doc count, and mean tokens per doc as an exact scaled
  // integer (non-negative operands, so Spark `div` and DuckDB `//`
  // agree). This is the monitoring composite a pipeline derives its
  // mixing and retention decisions FROM — all map-side signals, so
  // the whole card is one scan + per-source partial aggregates; the
  // modal language adds one (source, lang)-granular rollup whose
  // argmax rides a window over a #sources×#langs metadata frame.
  private val CardShortLen = 100

  def qDatacard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(
      col("source"), col("lang"),
      length(col("text")).cast("long").as("n_chars"),
      size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tok"),
      md5(col("text")).as("h"))
    val base = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      sum(col("n_tok")).as("n_tokens"),
      countDistinct(col("h")).as("n_distinct_texts"),
      (count(lit(1)) - countDistinct(col("h"))).as("n_dup_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(col("n_chars") < CardShortLen, 1L).otherwise(0L)).as("short_docs"))
      .withColumn("mean_tokens_x100", expr("(100 * n_tokens) div n_docs"))
    val top = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    base.join(top, "source")
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_tokens"),
        col("n_distinct_texts"), col("n_dup_docs"), col("n_langs"),
        col("top_lang"), col("short_docs"), col("mean_tokens_x100"))
      .orderBy(col("source"))
  }

  val qDatacardSql: String =
    s"""WITH d AS (SELECT source, lang, text, length(text) AS n_chars,
       |    len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok, md5(text) AS h
       |  FROM documents),
       |base AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |    count(DISTINCT h) AS n_distinct_texts,
       |    count(*) - count(DISTINCT h) AS n_dup_docs,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(sum(CASE WHEN n_chars < $CardShortLen THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
       |    CAST((100 * sum(n_tok)) // count(*) AS BIGINT) AS mean_tokens_x100
       |  FROM d GROUP BY source),
       |lc AS (SELECT source, lang, count(*) AS c FROM d GROUP BY source, lang),
       |tl AS (SELECT source, lang AS top_lang FROM (
       |  SELECT source, lang, ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn FROM lc)
       |  WHERE rn = 1)
       |SELECT b.source, b.n_docs, b.n_chars, b.n_tokens, b.n_distinct_texts, b.n_dup_docs,
       |  b.n_langs, t.top_lang, b.short_docs, b.mean_tokens_x100
       |FROM base b JOIN tl t USING (source) ORDER BY b.source""".stripMargin

  // ---------------------------------------------------------------
  // CONTAMINATION REPORT — the eval-leak rollup a release audit
  // ships: the TEXTUAL decontamination pass ([[Text.qDecontaminate]],
  // shared 3-gram evidence) and the SEMANTIC pass
  // ([[Similarity.qDecontaminate]], embedding cosine through the IVF
  // cell index) UNION into one per-document verdict with a
  // provenance bitmask (bit 1 = textual, bit 2 = semantic — the
  // [[Dedup]] ensemble discipline applied to contamination). A doc
  // flagged by both signals is a near-certain leak; single-bit rows
  // are where a reviewer looks first. Gated per doc: the mask, the
  // count of eval docs textually hit, and the worst semantic cosine
  // (-1 when that family didn't fire — no NULLs near the sort).
  //
  // Scale shape: both inputs are already index-shaped (banded grams /
  // IVF cells — neither is all-pairs); their flagged outputs are
  // audit-sized, localCheckpointed before the outer join + sort (the
  // final-orderBy-samples-twice rule), so the expensive passes run
  // once each.
  def qContamReport(s: SparkSession, dir: String): DataFrame = {
    val tx = Text.qDecontaminate(s, dir)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).as("text_evals"))
      .localCheckpoint()
    val sem = Similarity.qDecontaminate(s, dir)
      .select(col("vec_id").as("doc_id"), col("cos_ppm"))
      .localCheckpoint()
    tx.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (when(col("text_evals").isNotNull, 1L).otherwise(0L) +
          when(col("cos_ppm").isNotNull, 2L).otherwise(0L)).as("families"),
        coalesce(col("text_evals"), lit(0L)).as("text_evals"),
        coalesce(col("cos_ppm"), lit(-1L)).as("sem_cos_ppm"))
      .orderBy(col("doc_id"))
  }

  // composed without stripMargin: the embedded SQLs carry `||`
  // continuation lines an outer margin strip would corrupt; both are
  // MATERIALIZED (referenced once, but DuckDB would inline the full
  // gram/assign pipelines into the outer-join plan otherwise).
  lazy val qContamReportSql: String =
    s"""WITH tx AS MATERIALIZED (
SELECT train_id AS doc_id, count(*) AS text_evals FROM (
${Text.qDecontaminateSql}
) GROUP BY train_id),
sem AS MATERIALIZED (
SELECT vec_id AS doc_id, cos_ppm FROM (
${Similarity.qDecontaminateSql}
)),
u AS (SELECT coalesce(t.doc_id, s.doc_id) AS doc_id,
  (CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END
   + CASE WHEN s.doc_id IS NOT NULL THEN 2 ELSE 0 END) AS families,
  coalesce(t.text_evals, 0) AS text_evals,
  coalesce(s.cos_ppm, -1) AS sem_cos_ppm
FROM tx t FULL OUTER JOIN sem s ON t.doc_id = s.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(families AS BIGINT) AS families,
  CAST(text_evals AS BIGINT) AS text_evals, CAST(sem_cos_ppm AS BIGINT) AS sem_cos_ppm
FROM u ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // RELEASE GATE — the per-source ship/no-ship decision a dataset
  // release actually runs, composing the audit surface this library
  // gates piecewise: LM keep rate ([[Text.qLmScore]]), contamination
  // involvement ([[qContamReport]] — textual OR semantic), and
  // near-dup involvement ([[Dedup.qMinHashLsh]] pair membership),
  // each rolled to per-source per-mille against the source's doc
  // count and compared to release thresholds. The ship column is the
  // gated artifact: at sf0.01 the rule splits the 20 sources on all
  // three axes (3 fail contamination, 2 fail near-dup, 8 fail
  // quality), so a regression in ANY upstream audit flips a row.
  //
  // Scale shape: the three audit passes are index-shaped already;
  // their per-source rollups are source-count-sized and checkpoint
  // before the join chain + final sort (the composite-query
  // discipline). Denominators guard with greatest(…, 1) on both
  // engines; all rates are non-negative floor divisions.
  private val ShipMinKeepPm = 400L
  private val ShipMaxContamPm = 160L
  private val ShipMaxNearDupPm = 160L

  def qReleaseGate(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val base = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val keep = Text.qLmScore(s, dir).select(col("doc_id"), col("keep"))
      .join(src, "doc_id").groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .localCheckpoint()
    val contam = qContamReport(s, dir).select(col("doc_id"))
      .join(src, "doc_id").groupBy(col("source"))
      .agg(count(lit(1)).as("contam_docs"))
      .localCheckpoint()
    val nd = Dedup.qMinHashLsh(s, dir).select(col("doc_a"), col("doc_b"))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      .join(src, "doc_id").groupBy(col("source"))
      .agg(count(lit(1)).as("neardup_docs"))
      .localCheckpoint()
    base
      .join(keep, Seq("source"), "left")
      .join(contam, Seq("source"), "left")
      .join(nd, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        expr("1000 * coalesce(n_keep, 0) div greatest(coalesce(n_scored, 0), 1)").as("keep_pm"),
        coalesce(col("contam_docs"), lit(0L)).as("contam_docs"),
        expr("1000 * coalesce(contam_docs, 0) div greatest(n_docs, 1)").as("contam_pm"),
        coalesce(col("neardup_docs"), lit(0L)).as("neardup_docs"),
        expr("1000 * coalesce(neardup_docs, 0) div greatest(n_docs, 1)").as("neardup_pm"))
      .withColumn("ship",
        col("keep_pm") >= ShipMinKeepPm &&
          col("contam_pm") <= ShipMaxContamPm &&
          col("neardup_pm") <= ShipMaxNearDupPm)
      .orderBy(col("source"))
  }

  // composed without stripMargin (embedded stripped SQLs carry `||`
  // continuation lines); every audit subquery MATERIALIZED.
  lazy val qReleaseGateSql: String =
    s"""WITH src AS (SELECT doc_id, source FROM documents),
base AS (SELECT source, count(*) AS n_docs FROM src GROUP BY source),
keepd AS MATERIALIZED (
SELECT doc_id, keep FROM (
${Text.qLmScoreSql}
)),
keep AS (SELECT source, count(*) AS n_scored,
  sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
  FROM keepd JOIN src USING (doc_id) GROUP BY source),
contamd AS MATERIALIZED (
SELECT doc_id FROM (
$qContamReportSql
)),
contam AS (SELECT source, count(*) AS contam_docs
  FROM contamd JOIN src USING (doc_id) GROUP BY source),
ndp AS MATERIALIZED (
SELECT doc_a, doc_b FROM (
${Dedup.qMinHashLshSql}
)),
ndd AS (
SELECT DISTINCT doc_id FROM (
  SELECT doc_a AS doc_id FROM ndp UNION ALL SELECT doc_b AS doc_id FROM ndp)),
nd AS (SELECT source, count(*) AS neardup_docs
  FROM ndd JOIN src USING (doc_id) GROUP BY source),
j AS (SELECT b.source, b.n_docs,
  1000 * coalesce(k.n_keep, 0) // greatest(coalesce(k.n_scored, 0), 1) AS keep_pm,
  coalesce(c.contam_docs, 0) AS contam_docs,
  1000 * coalesce(c.contam_docs, 0) // greatest(b.n_docs, 1) AS contam_pm,
  coalesce(n.neardup_docs, 0) AS neardup_docs,
  1000 * coalesce(n.neardup_docs, 0) // greatest(b.n_docs, 1) AS neardup_pm
FROM base b LEFT JOIN keep k USING (source) LEFT JOIN contam c USING (source)
  LEFT JOIN nd n USING (source))
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(keep_pm AS BIGINT) AS keep_pm,
  CAST(contam_docs AS BIGINT) AS contam_docs, CAST(contam_pm AS BIGINT) AS contam_pm,
  CAST(neardup_docs AS BIGINT) AS neardup_docs, CAST(neardup_pm AS BIGINT) AS neardup_pm,
  keep_pm >= $ShipMinKeepPm AND contam_pm <= $ShipMaxContamPm
    AND neardup_pm <= $ShipMaxNearDupPm AS ship
FROM j ORDER BY source"""

  // ---------------------------------------------------------------
  // MIXTURE EPOCH PLANNER — turns a per-source target mixture + a
  // total token budget into the per-source repeat ("epoch") schedule
  // a training run actually consumes: target tokens per source from
  // integer mixture weights, an epoch CAP (repeating a source more
  // than EpochCap× risks memorization), and one redistribution round
  // that hands capped sources' shortfall to the open ones
  // proportionally to their capacity. Sources the redistribution
  // would itself push past the cap get an `overflow` flag (the
  // planner's signal that the budget exceeds what the mixture can
  // supply at this cap) rather than a second iteration — the
  // single-round plan is the auditable artifact. Weights are derived
  // deterministically from the source name suffix (1 + id mod 5 —
  // standing in for the curated per-domain mixture table a real run
  // configures); everything is non-negative BIGINT arithmetic, so
  // `div`/`//` agree and the gate is exact.
  //
  // Scale shape: ONE corpus scan → per-source partial-agg (token
  // counts); every downstream step is a crossJoin of source-count- or
  // 1-row metadata frames. At 100 TB the plan output is a 20-row
  // table driving the sampler — the planner itself never reshuffles
  // the corpus.
  private val EpochCap = 3L
  private val BudgetMult = 3L

  def qEpochPlan(s: SparkSession, dir: String): DataFrame = {
    // source-count-sized; checkpointed so the corpus scan runs ONCE
    // (per feeds tot + tgt, and tgt feeds pool + the final select —
    // unmaterialized, the planner would re-run the scan under each)
    val per = Tables.documents(s, dir)
      .select(col("source"),
        size(split(lower(trim(col("text"))), s"[${Text.Re2Ws}]+")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
      .withColumn("w", lit(1L) + substring(col("source"), 4, 10).cast("long") % 5)
      .localCheckpoint()
    val tot = per.agg(sum(col("toks")).as("corpus_toks"), sum(col("w")).as("sum_w"))
    val tgt = per.crossJoin(broadcast(tot))
      .withColumn("target_toks", expr(s"($BudgetMult * corpus_toks * w) div sum_w"))
      .withColumn("got_toks", least(col("target_toks"), lit(EpochCap) * col("toks")))
      .withColumn("capped",
        when(col("target_toks") > lit(EpochCap) * col("toks"), 1L).otherwise(0L))
    val pool = tgt.agg(
      sum(col("target_toks") - col("got_toks")).as("shortfall"),
      sum(when(col("capped") === 0, col("toks")).otherwise(0L)).as("open_toks"))
    tgt.crossJoin(broadcast(pool))
      .withColumn("final_toks",
        col("got_toks") + when(col("capped") === 0,
          expr("shortfall * toks div greatest(open_toks, 1)")).otherwise(0L))
      .select(col("source"), col("n_docs"), col("toks"), col("w"),
        col("target_toks"), col("final_toks"),
        expr("final_toks * 1000 div toks").as("epochs_pm"),
        col("capped"),
        when(col("capped") === 0 && col("final_toks") > lit(EpochCap) * col("toks"), 1L)
          .otherwise(0L).as("overflow"))
      .orderBy(col("source"))
  }

  val qEpochPlanSql: String =
    s"""WITH tok AS (SELECT source,
       |    len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok FROM documents),
       |per AS MATERIALIZED (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS toks,
       |    1 + CAST(substr(source, 4) AS BIGINT) % 5 AS w FROM tok GROUP BY source),
       |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS corpus_toks, CAST(sum(w) AS BIGINT) AS sum_w FROM per),
       |tgt AS (SELECT p.source, p.n_docs, p.toks, p.w,
       |    ($BudgetMult * t.corpus_toks * p.w) // t.sum_w AS target_toks FROM per p, tot t),
       |capped AS (SELECT *, least(target_toks, $EpochCap * toks) AS got_toks,
       |    CASE WHEN target_toks > $EpochCap * toks THEN 1 ELSE 0 END AS capped FROM tgt),
       |pool AS (SELECT CAST(sum(target_toks - got_toks) AS BIGINT) AS shortfall,
       |    CAST(sum(CASE WHEN capped = 0 THEN toks ELSE 0 END) AS BIGINT) AS open_toks FROM capped),
       |fin AS (SELECT c.source, c.n_docs, c.toks, c.w, c.target_toks, c.capped,
       |    c.got_toks + CASE WHEN c.capped = 0
       |      THEN p.shortfall * c.toks // greatest(p.open_toks, 1) ELSE 0 END AS final_toks
       |  FROM capped c, pool p)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, toks, CAST(w AS BIGINT) AS w,
       |  CAST(target_toks AS BIGINT) AS target_toks, CAST(final_toks AS BIGINT) AS final_toks,
       |  CAST(final_toks * 1000 // toks AS BIGINT) AS epochs_pm,
       |  CAST(capped AS BIGINT) AS capped,
       |  CAST(CASE WHEN capped = 0 AND final_toks > $EpochCap * toks THEN 1 ELSE 0 END AS BIGINT) AS overflow
       |FROM fin ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // K-CENTER CORESET SELECTION — greedy farthest-point traversal
  // over the embedding space: start from a fixed seed, repeatedly add
  // the vector FARTHEST from the chosen set (ties to the smaller id).
  // This is the diversity-sampling primitive data curation uses to
  // pick a small representative subset (coreset) with a 2-approx
  // covering guarantee — the opposite lens from dedup (keep the most
  // SPREAD, not drop the most similar). All arithmetic is the
  // ml_kmeans µ-scaled integer convention (exact squared distances,
  // no sqrt/libm), so the (round, next_center, covering radius)
  // trace gates exactly, and the radii are PROVABLY non-increasing
  // (asserted in spec).
  //
  // Scale shape: round r is ONE map pass over the corpus against the
  // single newest center (broadcast K·dim metadata) folding into a
  // running min — O(k·n) total work, the textbook distributed greedy;
  // the per-vec min-distance state rides the checkpointed frame so
  // the plan never regrows. k=8 [[Fixpoint]] rounds of (map job +
  // 1-row collect), each freeing the frame the next one supersedes.
  private val KcRounds = 8
  private val KcSeed = 7L

  def qKcenter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("xm", ArrayType(LongType)),
      StructField("md", LongType)))
    val trace = Fixpoint.run(s, aqe = true) { fp =>
      val em = fp.checkpoint(Similarity.microVectors(s, dir))
      val seed = em.filter(col("vec_id") === KcSeed).collect().head.getSeq[Long](1).toArray
      fp.loop(KcRounds, (em.withColumn("md", lit(Long.MaxValue)), seed)) { case ((state, center), r) =>
        val bc = s.sparkContext.broadcast(center)
        val next = fp.checkpoint(state.mapPartitions { it =>
          val cm = bc.value
          it.map { row =>
            val d2 = Similarity.dist2(row.getSeq[Long](1).toArray, cm)
            Row(row.getLong(0), row.getSeq[Long](1), math.min(row.getLong(2), d2))
          }
        }(Encoders.row(schema)))
        val top = next.orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("md"), col("xm")).collect().head
        Fixpoint.Round((next, top.getSeq[Long](2).toArray), Seq((r.toLong, top.getLong(0), top.getLong(1))))
      }.trace
    }
    import s.implicits._
    trace.toDF("round", "next_center", "radius_d2").orderBy(col("round"))
  }

  val qKcenterSql: String = {
    def dist(a: String, b: String) =
      s"list_aggregate(list_transform(range(64), dd -> ($a[dd+1] - $b[dd+1]) * ($a[dd+1] - $b[dd+1])), 'sum')"
    val ctes = scala.collection.mutable.ArrayBuffer(
      Similarity.microVectorsCte,
      s"c0 AS (SELECT xm AS cm FROM em WHERE vec_id = $KcSeed)",
      s"d1 AS MATERIALIZED (SELECT v.vec_id, ${dist("v.xm", "c.cm")} AS md FROM em v, c0 c)")
    for (r <- 1 to KcRounds) {
      ctes += s"p$r AS (SELECT vec_id AS cid, md AS radius FROM d$r ORDER BY md DESC, vec_id LIMIT 1)"
      if (r < KcRounds) {
        ctes += s"c$r AS (SELECT xm AS cm FROM em WHERE vec_id = (SELECT cid FROM p$r))"
        ctes += s"d${r + 1} AS MATERIALIZED (SELECT v.vec_id, least(d.md, ${dist("v.xm", "c.cm")}) AS md" +
          s" FROM em v JOIN d$r d USING (vec_id), c$r c)"
      }
    }
    val union = (1 to KcRounds)
      .map(r => s"SELECT $r AS round, cid AS next_center, radius AS radius_d2 FROM p$r")
      .mkString(" UNION ALL ")
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT CAST(round AS BIGINT) AS round, next_center, CAST(radius_d2 AS BIGINT) AS radius_d2" +
      s" FROM ($union) ORDER BY round"
  }

  // ---------------------------------------------------------------
  // TOKEN-BUDGET WATERFILLING — the allocation step behind every
  // "cap the over-represented sources" mixing decision: given a
  // global token budget B (here 90% of the corpus, so the cap must
  // bind), find the unique cap c such that sources below c keep
  // every token and sources above it are clipped to c, with
  // Σ alloc ≤ B maximal. Computed EXACTLY in one pass of window
  // prefix sums over the (tok, source)-sorted source table: at
  // boundary rank i, c_i = (B − prefix_{i−1}) div (n − i + 1), and
  // the true boundary is the single row with
  // lag(tok) ≤ c_i < tok_i (waterfilling's uniqueness; both engines
  // evaluate the same integer conditions, and a negative c_i on an
  // invalid row fails the lag(tok) ≤ c_i test under truncation AND
  // floor, so the truncate-vs-floor divergence below zero never
  // selects a row). No iteration, no driver loop — the classic
  // sequential waterfill collapses into sort + prefix sum + one
  // 1-row broadcast back. Output per source: tokens, allocation,
  // kept per-mille, capped flag.
  private val WaterfillBudgetNum = 9L // B = 9/10 of corpus tokens
  private val WaterfillBudgetDen = 10L

  def qWaterfillBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Tables.documents(s, dir)
      .select(col("source"),
        size(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("tok"))
    val asc = Window.orderBy(col("tok"), col("source"))
    val full = asc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r = bySrc
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("b", expr(s"$WaterfillBudgetNum * sum(tok) over () div $WaterfillBudgetDen"))
      .withColumn("prefix", coalesce(sum(col("tok")).over(
        asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ptok", lag(col("tok"), 1, 0L).over(asc))
      .localCheckpoint() // |sources| rows; boundary row + final join read it
    val cap = r
      .withColumn("ci", expr("(b - prefix) div (n - i + 1)"))
      .filter(col("ci") >= col("ptok") && col("ci") < col("tok"))
      .select(col("i").as("ki"), col("ci").as("cap"))
    r.crossJoin(broadcast(cap))
      .select(col("source"), col("tok").as("n_tokens"), col("i").as("rank_asc"),
        when(col("i") < col("ki"), col("tok")).otherwise(col("cap")).as("alloc_tokens"),
        expr("1000 * (CASE WHEN i < ki THEN tok ELSE cap END) div greatest(tok, 1)").as("kept_pm"),
        (col("i") >= col("ki")).as("capped"))
      .orderBy(col("rank_asc"))
  }

  val qWaterfillBudgetSql: String =
    s"""WITH d AS (
       |  SELECT source, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS t
       |  FROM documents),
       |s AS (SELECT source, CAST(sum(t) AS BIGINT) AS tok FROM d GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST($WaterfillBudgetNum * sum(tok) // $WaterfillBudgetDen AS BIGINT) AS b FROM s),
       |r AS (SELECT source, tok,
       |  CAST(row_number() OVER (ORDER BY tok, source) AS BIGINT) AS i,
       |  CAST(coalesce(sum(tok) OVER (ORDER BY tok, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix,
       |  CAST(coalesce(lag(tok) OVER (ORDER BY tok, source), 0) AS BIGINT) AS ptok
       |  FROM s),
       |cc AS (SELECT r.*, (b - prefix) // (n - i + 1) AS ci FROM r, tot),
       |k AS (SELECT i AS ki, ci AS cap FROM cc WHERE ci >= ptok AND ci < tok)
       |SELECT source, tok AS n_tokens, i AS rank_asc,
       |  CAST(CASE WHEN i < ki THEN tok ELSE cap END AS BIGINT) AS alloc_tokens,
       |  CAST(1000 * (CASE WHEN i < ki THEN tok ELSE cap END) // greatest(tok, 1) AS BIGINT) AS kept_pm,
       |  i >= ki AS capped
       |FROM cc, k ORDER BY rank_asc""".stripMargin

  // ---------------------------------------------------------------
  // PARETO FRONTIER (skyline) — the multi-objective selection
  // operator: the documents no other document dominates on BOTH
  // axes (here maximize token count AND distinct-token count — the
  // length-vs-lexical-richness trade every curation mix negotiates).
  // The classical SQL skyline is a NOT-EXISTS self-join (the oracle
  // brute-checks the spec that way); at corpus scale the 2-D skyline
  // collapses relationally: group by w with max(d), suffix-max over
  // the DESCENDING w groups, then a row is on the frontier iff it
  // tops its own w group AND beats every higher-w group's best d —
  // equal-(w,d) rows co-survive (dominance needs a strict axis).
  //
  // Scale shape: per-doc metrics are map-only; the corpus collapses
  // in ONE partial agg to |distinct w| rows (bounded by max document
  // length, not corpus size — the [[Text.qZipfRatio]]
  // metric-cardinality window class), where the suffix-max window
  // runs; the frontier test is a broadcast join of that group frame
  // back onto the doc stream. No self-join, no corpus window.
  def qParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val sp = split(lower(trim(col("text"))), "[ \t\n\f\r]+")
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), size(sp).cast("long").as("w"),
        size(array_distinct(sp)).cast("long").as("d"))
    import org.apache.spark.sql.expressions.Window
    // checkpoint the (doc_id, w, d) metric frame: it feeds BOTH the
    // group side and the join stream, and without it the planner
    // puts the text-splitting scan under both join children (the
    // CLAUDE.md two-scan shape) — the split kernel ran twice
    val tc = t.localCheckpoint()
    val wDesc = Window.orderBy(col("w").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sfx = tc.groupBy(col("w")).agg(max(col("d")).as("maxd"))
      .withColumn("hi", coalesce(max(col("maxd")).over(wDesc), lit(-1L)))
    tc.join(broadcast(sfx), "w")
      .filter(col("d") === col("maxd") && col("d") > col("hi"))
      .select(col("doc_id"), col("w").as("n_tokens"), col("d").as("n_distinct"))
      .orderBy(col("n_tokens"), col("doc_id"))
  }

  val qParetoFrontierSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS w,
      |  CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS BIGINT) AS d
      |  FROM documents),
      |g AS (SELECT w, max(d) AS maxd FROM t GROUP BY w),
      |sfx AS (SELECT w, maxd, coalesce(max(maxd) OVER (ORDER BY w DESC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS hi FROM g)
      |SELECT t.doc_id, t.w AS n_tokens, t.d AS n_distinct
      |FROM t JOIN sfx ON t.w = sfx.w
      |WHERE t.d = sfx.maxd AND t.d > sfx.hi
      |ORDER BY n_tokens, doc_id""".stripMargin

  // ---------------------------------------------------------------
  // GROUP K-FOLD ASSIGNMENT — cross-validation folds that prevent
  // GROUP leakage: near-identical documents cluster within a crawl
  // source, so a doc-level split (qSplit) leaks a source's docs
  // across train and eval and inflates every metric; GroupKFold
  // hashes the SOURCE, putting all of a source's docs in exactly one
  // fold (the structural guarantee the spec asserts). fold =
  // md5(source) 60-bit % 5 — the qSplit hash idiom at group grain.
  // Gated per (fold, lang): doc count + token mass, plus the fold's
  // source count — the balance table a CV harness reads to check the
  // folds are usable (hash-grouping balances only in expectation;
  // the AUDIT is the operator).
  //
  // Scale shape: fold is a map-side expression of the source column
  // (no group table, no join); one partial agg to the (5 × |langs|)
  // grid + one 5-row distinct-count rollup joined back broadcast.
  def qGroupKfold(s: SparkSession, dir: String): DataFrame = {
    val fold = (conv(substring(md5(col("source")), 1, 15), 16, 10)
      .cast("long") % 5).as("fold")
    // checkpointed: the frame feeds both the source rollup and the
    // (fold, lang) agg — without it the text-splitting scan plans
    // under both join children (the two-scan shape)
    val d = Tables.documents(s, dir)
      .select(fold, col("lang"), col("source"),
        size(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).cast("long").as("t"))
      .localCheckpoint()
    val srcPerFold = d.select(col("fold"), col("source")).distinct()
      .groupBy(col("fold")).agg(count(lit(1)).as("n_sources"))
    d.groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .join(broadcast(srcPerFold), "fold")
      .select(col("fold"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_sources"))
      .orderBy(col("fold"), col("lang"))
  }

  val qGroupKfoldSql: String =
    """WITH d AS (SELECT
      |    ('0x' || substr(md5(source), 1, 15))::BIGINT % 5 AS fold,
      |    lang, source,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS t
      |  FROM documents),
      |sf AS (SELECT fold, CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |  FROM d GROUP BY 1)
      |SELECT d.fold, lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(t) AS BIGINT) AS n_tokens, CAST(min(n_sources) AS BIGINT) AS n_sources
      |FROM d JOIN sf ON d.fold = sf.fold
      |GROUP BY d.fold, lang ORDER BY d.fold, lang""".stripMargin

  // ---------------------------------------------------------------
  // ONE-PASS OBSERVED METRICS — the `Observation` API
  // (`Dataset.observe`): per-stage audit counters collected as
  // ACCUMULATORS DURING the single data pass, not as extra counting
  // jobs. [[qCurationFunnel]] measures a 4-stage funnel with doc-id
  // semi-joins (re-scanning survivor lists per stage); this is the
  // 100 TB-native alternative — each `observe` node folds its
  // aggregates into the running scan, so a 3-stage filter chain
  // costs exactly ONE traversal and zero extra shuffles, and the
  // driver reads the stage metrics off the query listener after the
  // one action. The gated rows ARE the observed values (docs, chars,
  // the exact integer survivors at each stage), so the gate proves
  // the accumulator path agrees with DuckDB's recomputation — the
  // trust anchor an observability hook needs before a release gate
  // can consume it. All metrics are exact integer counts/sums; the
  // single action is a count() whose result rides as the final row.
  private val ObsMinChars = 200L

  def qObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val o0 = Observation()
    val o1 = Observation()
    val o2 = Observation()
    def metrics = Seq(
      count(lit(1)).cast("long").as("n_docs"),
      sum(length(col("text"))).cast("long").as("n_chars"))
    val staged = Tables.documents(s, dir)
      .observe(o0, metrics.head, metrics(1))
      .filter(length(col("text")) >= ObsMinChars)
      .observe(o1, metrics.head, metrics(1))
      .filter(col("lang") === "en")
      .observe(o2, metrics.head, metrics(1))
    val survivors = staged.count() // the ONE action; all observations fill
    def row(stage: String, o: Observation): (String, Long, Long) = {
      val m = o.get
      (stage, m("n_docs").asInstanceOf[Long], m("n_chars").asInstanceOf[Long])
    }
    import s.implicits._
    Seq(row("0_raw", o0), row("1_len", o1), row("2_lang", o2))
      .toDF("stage", "n_docs", "n_chars")
      .withColumn("survivors", lit(survivors))
      .orderBy(col("stage"))
  }

  val qObserveMetricsSql: String =
    s"""WITH s0 AS (SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars FROM documents),
       |s1 AS (SELECT '1_len', CAST(count(*) AS BIGINT), CAST(sum(length(text)) AS BIGINT)
       |  FROM documents WHERE length(text) >= $ObsMinChars),
       |s2 AS (SELECT '2_lang', CAST(count(*) AS BIGINT), CAST(sum(length(text)) AS BIGINT)
       |  FROM documents WHERE length(text) >= $ObsMinChars AND lang = 'en'),
       |u AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2),
       |sv AS (SELECT CAST(count(*) AS BIGINT) AS survivors FROM documents
       |  WHERE length(text) >= $ObsMinChars AND lang = 'en')
       |SELECT u.stage, u.n_docs, u.n_chars, sv.survivors FROM u, sv
       |ORDER BY u.stage""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_observe_metrics" -> (qObserveMetrics _),
    "samp_group_kfold" -> (qGroupKfold _),
    "pipe_pareto_frontier" -> (qParetoFrontier _),
    "pii_ldiversity" -> (qLDiversity _),
    "pii_tcloseness" -> (qTCloseness _),
    "pipe_waterfill_budget" -> (qWaterfillBudget _),
    "samp_kcenter" -> (qKcenter _),
    "pipe_shard_manifest" -> (qShardManifest _),
    "pipe_budget_curve" -> (qBudgetCurve _),
    "samp_ess_clip" -> (qEssClip _),
    "pipe_curation_funnel" -> (qCurationFunnel _),
    "samp_epoch_plan" -> (qEpochPlan _),
    "pipe_release_gate" -> (qReleaseGate _),
    "pipe_contam_report" -> (qContamReport _),
    "pipe_datacard" -> (qDatacard _),
    "samp_dsir" -> (qDsir _),
    "pipe_filter_decisions" -> (qFilterDecisions _),
    "samp_split" -> (qSplit _),
    "samp_reservoir" -> (qReservoir _),
    "samp_split_stability" -> (qSplitStability _),
    "samp_split_clean" -> (qSplitClean _),
    "pipe_curriculum" -> (qCurriculum _),
    "samp_weighted" -> (qWeightedSample _),
    "pii_redact" -> (qRedact _),
    "pii_rand_response" -> (qRandResponse _),
    "samp_neyman_alloc" -> (qNeymanAlloc _),
    "samp_poisson_ht" -> (qPoissonHt _),
    "pii_kanon" -> (qKAnon _),
    "pipe_source_gini" -> (qSourceGini _),
    "pipeline_partial_merge" -> (qPartialMerge _),
    "samp_stratified" -> (qStratified _),
    "samp_domain_mix" -> (qDomainMix _),
    "samp_balanced" -> (qBalanced _),
    "samp_temperature" -> (qTemperature _),
    "pii_pseudonymize" -> (qPseudonymize _),
    "pack_sequences" -> ((s: SparkSession, dir: String) => qPackSequences(s, dir)),
    "chunk_sliding" -> (qChunkSliding _),
    "pipeline_shuffle" -> (qShuffleOrder _),
    "pipeline_e2e" -> (qPipelineE2e _))

  val oracles: Map[String, String] = Map(
    "samp_group_kfold" -> qGroupKfoldSql,
    "pipe_pareto_frontier" -> qParetoFrontierSql,
    "pii_ldiversity" -> qLDiversitySql,
    "pii_tcloseness" -> qTClosenessSql,
    "samp_epoch_plan" -> qEpochPlanSql,
    "samp_kcenter" -> qKcenterSql,
    "pipe_shard_manifest" -> qShardManifestSql,
    "pipe_budget_curve" -> qBudgetCurveSql,
    "samp_ess_clip" -> qEssClipSql,
    "pipe_curation_funnel" -> qCurationFunnelSql,
    "pipe_observe_metrics" -> qObserveMetricsSql,
    "pipe_release_gate" -> qReleaseGateSql,
    "pipe_contam_report" -> qContamReportSql,
    "pipe_datacard" -> qDatacardSql,
    "samp_dsir" -> qDsirSql,
    "pipe_filter_decisions" -> qFilterDecisionsSql,
    "samp_split" -> qSplitSql,
    "samp_reservoir" -> qReservoirSql,
    "samp_split_stability" -> qSplitStabilitySql,
    "samp_split_clean" -> qSplitCleanSql,
    "pipe_curriculum" -> qCurriculumSql,
    "samp_weighted" -> qWeightedSampleSql,
    "pii_redact" -> qRedactSql,
    "pii_rand_response" -> qRandResponseSql,
    "samp_neyman_alloc" -> qNeymanAllocSql,
    "samp_poisson_ht" -> qPoissonHtSql,
    "pii_kanon" -> qKAnonSql,
    "pipe_source_gini" -> qSourceGiniSql,
    "pipe_waterfill_budget" -> qWaterfillBudgetSql,
    "pipeline_partial_merge" -> qPartialMergeSql,
    "samp_stratified" -> qStratifiedSql,
    "samp_domain_mix" -> qDomainMixSql,
    "samp_balanced" -> qBalancedSql,
    "samp_temperature" -> qTemperatureSql,
    "pii_pseudonymize" -> qPseudonymizeSql,
    "pack_sequences" -> qPackSequencesSql,
    "chunk_sliding" -> qChunkSlidingSql,
    "pipeline_shuffle" -> qShuffleOrderSql,
    "pipeline_e2e" -> qPipelineE2eSql)
}
