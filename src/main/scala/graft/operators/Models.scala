package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.Vectors

/** Distributed model TRAINING as exact relational algebra — the two
  * classical fits whose sufficient statistics are integer moments,
  * so a 1000-executor training pass is nothing but a map-side
  * partial aggregation, and the learned parameters gate exactly
  * cross-engine (no gradient loops, no libm).
  *
  * The reference has no model operators (SURVEY.md §2.3); these
  * extend the LLM-pipeline layer: per-segment linear fits are the
  * heuristics-calibration workhorse (length→quality priors), and the
  * naive-Bayes count table is the classical trainable form of the
  * [[Text.qLangId]] heuristic.
  */
object Models {

  // ---------------------------------------------------------------
  // Per-source ordinary least squares, closed form. y = n_chars,
  // x = word count; the sufficient statistics (n, Σx, Σy, Σxy, Σx²)
  // are exact BIGINTs computed in ONE map-side-combined groupBy —
  // the 100 TB shape of every moment-based fit. The slope is emitted
  // as the exact integer pair (num = nΣxy−ΣxΣy, den = nΣx²−(Σx)²)
  // plus a scaled quotient. Cross-engine division discipline
  // (CLAUDE.md): Spark `div` truncates while DuckDB `//` floors, so
  // the quotient is computed sign-split — both branches feed the
  // operators non-negative values, where truncate == floor. den = 0
  // (a source whose docs all have equal word counts) is guarded with
  // greatest(den, 1) on both engines.
  def qLinregSources(s: SparkSession, dir: String): DataFrame =
    linregOf(Tables.documents(s, dir).select(col("source"),
      size(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).cast("long").as("x"),
      col("n_chars").as("y")))

  /** The moment aggregation + scaled-slope emission behind
    * [[qLinregSources]], factored over any (source, x, y) frame so
    * the overflow fixture test can drive adversarial magnitudes
    * through the exact expressions the gate runs. The 1000·num
    * product is widened through DECIMAL(38,0) (HUGEINT on the
    * oracle): num grows with n²·x·y and the raw-BIGINT form wraps
    * silently one order of magnitude above the gate SFs (the DSIR /
    * ols_r2 overflow class — see the audit table in PLANS.md). */
  private[operators] def linregOf(t: DataFrame): DataFrame = {
    // every moment accumulates in DECIMAL(38,0) (HUGEINT on the
    // oracle) and the raw num/den DIAGNOSTIC columns ship as
    // decimal-backed strings (r10 item 6): num ~ n²·x̄·ȳ wraps BIGINT
    // around sf100, and a gated output column must not carry a known
    // wrap horizon even when the ratio computed from it is exact
    val dec = "decimal(38,0)"
    t.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      .select(col("source"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("source"), col("n"),
        col("num").cast("string").as("num"), col("den").cast("string").as("den"),
        expr("CASE WHEN num >= 0 THEN cast(1000 as decimal(38,0)) * num div greatest(den, 1)" +
          " ELSE -(cast(1000 as decimal(38,0)) * (-num) div greatest(den, 1)) END")
          .cast("long").as("slope_x1000"))
      .orderBy(col("source"))
  }

  val qLinregSourcesSql: String =
    """WITH t AS (SELECT source, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS x, n_chars AS y
      |  FROM documents),
      |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, sum(x::HUGEINT) AS sx,
      |  sum(y::HUGEINT) AS sy, sum(x::HUGEINT * y) AS sxy,
      |  sum(x::HUGEINT * x) AS sxx FROM t GROUP BY source),
      |f AS (SELECT source, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM m)
      |SELECT source, n, CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den,
      |  CAST(CASE WHEN num >= 0 THEN (1000::HUGEINT * num) // greatest(den, 1)
      |       ELSE -((1000::HUGEINT * (-num)) // greatest(den, 1)) END AS BIGINT) AS slope_x1000
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // OLS GOODNESS OF FIT — R² for [[qLinregSources]]' per-source fits
  // as PURE MOMENTS, no residual pass: R² = (nΣxy − ΣxΣy)² /
  // ((nΣx² − (Σx)²)(nΣy² − (Σy)²)) — the same one map-side moment
  // aggregation learns the model AND scores it, which is exactly why
  // moment-based fits are the 100 TB calibration workhorse. Emitted
  // as exact integer ppm through DECIMAL(38,0)/HUGEINT (num² at
  // sf0.1 is ~1e18 — ×1e6 overflows BIGINT, the DSIR lesson);
  // degenerate sources (constant x or y) guard with greatest(...,1)
  // on both engines. The intercept ships as the sign-split scaled
  // rational (Sy·Sxx − Sx·Sxy)/den — no doubles anywhere.
  def qOlsR2(s: SparkSession, dir: String): DataFrame =
    olsR2Of(Tables.documents(s, dir).select(col("source"),
      size(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).cast("long").as("x"),
      col("n_chars").as("y")))

  /** [[qOlsR2]] over any (source, x, y) frame — shared with the
    * overflow fixture test (the [[linregOf]] discipline). */
  private[operators] def olsR2Of(t: DataFrame): DataFrame = {
    // the linregOf widening discipline: decimal moments end-to-end,
    // raw num/den/deny diagnostics as decimal-backed strings (anum
    // never ships — it only feeds the intercept rational)
    val dec = "decimal(38,0)"
    t.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("y").cast(dec) * col("y")).as("syy"))
      .select(col("source"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("deny"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("anum"))
      .select(col("source"), col("n"),
        col("num").cast("string").as("num"), col("den").cast("string").as("den"),
        col("deny").cast("string").as("deny"),
        expr("cast(1000000 as decimal(38,0)) * num * num div " +
          "greatest(den * deny, 1)").cast("long").as("r2_ppm"),
        expr("CASE WHEN anum >= 0 THEN cast(1000 as decimal(38,0)) * anum div greatest(den, 1)" +
          " ELSE -(cast(1000 as decimal(38,0)) * (-anum) div greatest(den, 1)) END")
          .cast("long").as("intercept_x1000"))
      .orderBy(col("source"))
  }

  val qOlsR2Sql: String =
    """WITH t AS (SELECT source, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS x, n_chars AS y
      |  FROM documents),
      |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, sum(x::HUGEINT) AS sx,
      |  sum(y::HUGEINT) AS sy, sum(x::HUGEINT * y) AS sxy,
      |  sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy FROM t GROUP BY source),
      |f AS (SELECT source, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
      |  n * syy - sy * sy AS deny, sy * sxx - sx * sxy AS anum FROM m)
      |SELECT source, n, CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den,
      |  CAST(deny AS VARCHAR) AS deny,
      |  CAST((1000000::HUGEINT * num * num) // greatest(den * deny, 1) AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN anum >= 0 THEN (1000::HUGEINT * anum) // greatest(den, 1)
      |       ELSE -((1000::HUGEINT * (-anum)) // greatest(den, 1)) END AS BIGINT) AS intercept_x1000
      |FROM f ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // Naive-Bayes trainer: class priors (docs per lang) and the top-10
  // Laplace-smoothed token conditionals per class. The corpus pass
  // is ONE (lang, word) count aggregate; totals and the vocabulary
  // size are then derived from that vocabulary-sized table, not from
  // a second corpus scan. Smoothed probabilities are emitted as
  // exact integer ppm: (cnt+1)·1e6 div (tokens_lang + |V|) — the
  // model table itself is the gated artifact (prediction needs
  // log-space accumulation, which is libm and stays out of gates).
  private val NbTopK = 10

  def qNbTrain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cw = docs
      .select(col("lang"),
        explode(split(lower(trim(col("text"))), "[ \t\n\f\r]+")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // vocabulary-sized; feeds ranks, totals, |V|
    val pri = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = cw.groupBy(col("lang")).agg(sum(col("cnt")).as("n_tokens"))
    val voc = cw.select(col("word")).distinct().agg(count(lit(1)).as("v"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("word"))
    cw.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= NbTopK)
      .join(broadcast(pri), "lang")
      .join(broadcast(tot), "lang")
      .crossJoin(broadcast(voc))
      .select(col("lang"), col("n_docs"), col("rank"), col("word"), col("cnt"),
        expr("(cnt + 1) * 1000000 div (n_tokens + v)").as("cond_ppm"))
      .orderBy(col("lang"), col("rank"))
  }

  val qNbTrainSql: String =
    s"""WITH t AS (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |cw AS MATERIALIZED (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY lang, word),
       |pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
       |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM cw GROUP BY lang),
       |voc AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM cw),
       |rk AS (SELECT lang, word, cnt, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rank
       |  FROM cw)
       |SELECT r.lang, p.n_docs, r.rank, r.word, r.cnt,
       |  CAST((r.cnt + 1) * 1000000 // (o.n_tokens + v.v) AS BIGINT) AS cond_ppm
       |FROM rk r JOIN pri p USING (lang) JOIN tot o USING (lang) CROSS JOIN voc v
       |WHERE r.rank <= $NbTopK ORDER BY r.lang, r.rank""".stripMargin

  // ---------------------------------------------------------------
  // K-MEANS TO CONVERGENCE — the iterate-to-fixpoint trainer behind
  // [[Similarity.qKmeansStep]]'s single Lloyd update, run by
  // [[Fixpoint]] like the graph loops: bounded rounds, the per-round
  // assignment checkpointed (lineage would otherwise re-run every
  // prior round per action) and freed once the next round supersedes
  // it, and an exact integer convergence trace as the gated artifact.
  // Everything is integer: vectors enter as µ-scaled BIGINTs
  // ([[Similarity.microVectors]]), assignment argmin compares exact
  // squared distances with ties to the smaller cid
  // ([[Similarity.nearest]]), and the centroid update divides Σ by n
  // sign-split — JVM `/` truncation mirrored by an explicit CASE in
  // the oracle, because DuckDB's integer `//` truncates on negative
  // BIGINTs (measured: -781621 // 34 = -22988) while floorDiv
  // floors. Per round the
  // gate sees: reassignment count, total centroid movement in µ
  // (Σ|Δ| over cells, the number that decays to 0 at the fixpoint),
  // and occupied-cell count; empty cells carry their centroid
  // (standard Lloyd).
  //
  // Scale shape: each round is one map-only argmin kernel over the
  // corpus (centroids broadcast — K·dim is metadata) plus one
  // (cid, dim)-keyed partial aggregate; the collected update is
  // K×64 rows, the PQ-codebook metadata class, never the corpus.
  private val KmRounds = 4


  def qKmeansConverge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val dim = 64
    val asgSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("xm", ArrayType(LongType)),
      StructField("cid", LongType),
      StructField("chg", LongType)))
    val trace = Fixpoint.run(s, aqe = true) { fp =>
      val asg0 = fp.checkpoint(Similarity.microVectors(s, dir)
        .select(col("vec_id"), col("xm"), lit(-1L).as("cid"), lit(0L).as("chg")))
      val cents0 = Similarity.strideSeeds(asg0)
        .select(col("vec_id"), col("xm")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
      fp.loop(KmRounds, (asg0, cents0)) { case ((asg, cents), r) =>
        val bc = s.sparkContext.broadcast(cents)
        val next = fp.checkpoint(asg.mapPartitions { it =>
          val cs = bc.value
          it.map { row =>
            val cid = Similarity.nearest(row.getSeq[Long](1).toArray, cs)._1
            Row(row.getLong(0), row.getSeq[Long](1), cid, if (cid != row.getLong(2)) 1L else 0L)
          }
        }(Encoders.row(asgSchema)))
        val changed = next.agg(sum(col("chg")).as("n")).first().getLong(0)
        val upd = next.select(col("cid"), posexplode(col("xm")).as(Seq("d", "x")))
          .groupBy(col("cid"), col("d"))
          .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
          .collect()
        val newByCid = upd.groupBy(_.getLong(0)).map { case (cid, rows) =>
          val cm = new Array[Long](dim)
          rows.foreach(r => cm(r.getInt(1)) = r.getLong(2) / r.getLong(3))
          cid -> cm
        }
        val moved = cents.map { case (cid, old) =>
          newByCid.get(cid).fold(0L)(cm => cm.indices.map(i => math.abs(cm(i) - old(i))).sum)
        }.sum
        val nextCents = cents.map { case (cid, old) => cid -> newByCid.getOrElse(cid, old) }
        // the trace keeps its 0-based round
        Fixpoint.Round((next, nextCents), Seq((r - 1L, changed, moved, newByCid.size.toLong)))
      }.trace
    }
    import s.implicits._
    trace.toDF("round", "n_changed", "moved_mu", "n_cells").orderBy(col("round"))
  }

  /** Chained-CTE oracle: one a/nc/c CTE triple per round (the
    * accumulator-as-column-ref rule — nesting would double the tree
    * per round), every loop CTE MATERIALIZED. */
  val qKmeansConvergeSql: String = {
    val dim = 64
    val dist = (xm: String, cm: String) =>
      s"list_aggregate(list_transform(range($dim), dd -> ($xm[dd+1] - $cm[dd+1]) * ($xm[dd+1] - $cm[dd+1])), 'sum')"
    val rounds = (0 until KmRounds).map { r =>
      s"""a$r AS MATERIALIZED (SELECT vec_id, xm, cid FROM (
         |  SELECT e.vec_id, e.xm, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dist("e.xm", "c.cm")} ASC, c.cid ASC) AS rn
         |  FROM em e CROSS JOIN c$r c) t WHERE rn = 1),
         |n$r AS (SELECT cid, list(cv ORDER BY dd) AS cm FROM (
         |  SELECT cid, dd, CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS cv FROM (
         |    SELECT cid, dd, sum(xm[dd+1]) AS s, count(*) AS n
         |    FROM a$r, (SELECT unnest(range($dim)) AS dd)
         |    GROUP BY cid, dd)) GROUP BY cid),
         |c${r + 1} AS MATERIALIZED (SELECT p.cid, coalesce(n.cm, p.cm) AS cm
         |  FROM c$r p LEFT JOIN n$r n USING (cid)),
         |m$r AS (SELECT $r AS round,
         |  ${if (r == 0) "(SELECT count(*) FROM a0)"
            else s"(SELECT count(*) FROM a$r a JOIN a${r - 1} p USING (vec_id) WHERE a.cid <> p.cid)"} AS n_changed,
         |  (SELECT sum(list_aggregate(list_transform(range($dim), dd -> abs(n.cm[dd+1] - p.cm[dd+1])), 'sum'))
         |     FROM c${r + 1} n JOIN c$r p USING (cid)) AS moved_mu,
         |  (SELECT count(DISTINCT cid) FROM a$r) AS n_cells)""".stripMargin
    }.mkString(",\n")
    val union = (0 until KmRounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${Similarity.microVectorsCte},
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, xm AS cm FROM em WHERE vec_id % ${Similarity.SeedStride} = 7
       |  ORDER BY cid LIMIT ${Similarity.seedKSql}),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round, CAST(n_changed AS BIGINT) AS n_changed,
       |  CAST(moved_mu AS BIGINT) AS moved_mu, CAST(n_cells AS BIGINT) AS n_cells
       |FROM ($union) ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------
  // CALIBRATION / RELIABILITY TABLE — the check run before trusting
  // any learned quality filter: bucket the model score and compare,
  // per bucket, the PREDICTED level (mean score) with the OBSERVED
  // positive rate. Here the en-trained LM score
  // ([[Text.qLmScore]]'s lm_score_ppm) is the predictor and
  // lang == 'en' the label, so a well-calibrated score shows en_pm
  // rising monotonically through the bins — and a bin where it
  // doesn't is exactly the miscalibration a reliability diagram
  // exists to expose. Buckets are FIXED-WIDTH score bins (value
  // histogram, map-side bucketing) rather than ntile deciles: the
  // positional cut needs a corpus order statistic while the value
  // bin is embarrassingly parallel — the [[graft.operators
  // .OrderStats]] lesson applied at design time. Exact integers
  // throughout (count, floor-div rates).
  private val CalBinPpm = 250L

  def qCalibration(s: SparkSession, dir: String): DataFrame =
    Text.lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        (col("lang") === "en").cast("long").as("is_en")), "doc_id")
      .groupBy(expr(s"lm_score_ppm div $CalBinPpm").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_en"),
        sum(col("lm_score_ppm")).as("sum_ppm"))
      .select(col("bin"), col("n_docs"), col("n_en"),
        expr("1000 * n_en div n_docs").as("en_pm"),
        expr("sum_ppm div n_docs").as("mean_score_ppm"))
      .orderBy(col("bin"))

  // composed without stripMargin: embeds the already-stripped
  // qLmScoreSql (the `||`-continuation rule)
  lazy val qCalibrationSql: String =
    s"""WITH lm AS MATERIALIZED (
SELECT doc_id, lm_score_ppm FROM (
${Text.qLmScoreSql}
)),
j AS (SELECT l.lm_score_ppm, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_en
  FROM lm l JOIN documents d USING (doc_id))
SELECT CAST(lm_score_ppm // $CalBinPpm AS BIGINT) AS bin,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(is_en) AS BIGINT) AS n_en,
  CAST(1000 * sum(is_en) // count(*) AS BIGINT) AS en_pm,
  CAST(sum(lm_score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
FROM j GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------
  // BRIER DECOMPOSITION (Murphy 1973) — what [[qCalibration]]'s
  // reliability table looks like when you score it: the binned
  // forecaster's Brier score splits EXACTLY into
  //   Brier = REL − RES + UNC
  // (reliability: calibration error, to minimize; resolution:
  // discrimination, to maximize; uncertainty: the label base rate's
  // intrinsic floor ȳ(1−ȳ)). The en-trained LM score (ppm, as the
  // forecast probability) against lang=='en': RES ≫ 0 with REL huge
  // is this corpus's verdict — the score DISCRIMINATES (worth
  // thresholding, as text_ccnet_buckets does) but is NOT calibrated
  // as a probability (never feed it to expected-loss arithmetic
  // without recalibration). That, in two columns, is why pipelines
  // recalibrate before budgeting.
  //
  // Everything is exact: per bin k with n rows, E positives, S =
  // Σ forecast-ppm, the three per-bin contributions (×1e6, floor'd —
  // all non-negative squares, no -0.0 class) are
  //   rel_e6   = (S − 1e6·E)² div (n·1e6)
  //   res_e6   = ((E·N − Etot·n)² · 1e6) div (n·N²)
  //   brier_e6 = (S² − 2·1e6·S·E + E·n·1e12) div (n·1e6)
  // with squares in DECIMAL(38,0)/HUGEINT (S² ~ 1e12·n² wraps BIGINT
  // past ~3k-row bins). The raw (n, n_pos, sum_p_ppm) columns ride
  // along so the Murphy identity is reconstructable in exact
  // rationals — the spec proves it (the sketch_hll_union
  // algebra-in-spec discipline). Scale shape: one pass over the
  // memoized [[Text.lmScored]] frame, a |bins|-row aggregate, the
  // 1-row total broadcast back — no window, no corpus re-scan.
  def qBrierDecomp(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val b = Text.lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        (col("lang") === "en").cast("long").as("is_en")), "doc_id")
      .groupBy(expr(s"lm_score_ppm div $CalBinPpm").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("is_en")).as("n_pos"),
        sum(col("lm_score_ppm")).as("sum_p_ppm"))
    val tot = b.agg(sum(col("n")).as("nt"), sum(col("n_pos")).as("et"))
    b.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("sum_p_ppm"),
        expr(s"cast((cast(sum_p_ppm - 1000000 * n_pos as $dec) * (sum_p_ppm - 1000000 * n_pos))" +
          s" div (cast(n as $dec) * 1000000) as bigint)").as("rel_e6"),
        expr(s"cast((cast(n_pos * nt - et * n as $dec) * (n_pos * nt - et * n) * 1000000)" +
          s" div (cast(n as $dec) * nt * nt) as bigint)").as("res_e6"),
        expr(s"cast((cast(sum_p_ppm as $dec) * sum_p_ppm - cast(2000000 as $dec) * sum_p_ppm * n_pos" +
          s" + cast(n_pos as $dec) * n * 1000000000000)" +
          s" div (cast(n as $dec) * 1000000) as bigint)").as("brier_e6"))
      .orderBy(col("bin"))
  }

  // composed without stripMargin: embeds the already-stripped
  // qLmScoreSql (the `||`-continuation rule)
  lazy val qBrierDecompSql: String =
    s"""WITH lm AS MATERIALIZED (
SELECT doc_id, lm_score_ppm FROM (
${Text.qLmScoreSql}
)),
j AS (SELECT l.lm_score_ppm AS p, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM lm l JOIN documents d USING (doc_id)),
b AS (SELECT CAST(p // $CalBinPpm AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS n_pos, CAST(sum(p) AS BIGINT) AS sum_p_ppm
  FROM j GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT) AS et FROM b)
SELECT bin, n, n_pos, sum_p_ppm,
  CAST((sum_p_ppm - 1000000 * n_pos)::HUGEINT * (sum_p_ppm - 1000000 * n_pos)
    // (n::HUGEINT * 1000000) AS BIGINT) AS rel_e6,
  CAST((n_pos * nt - et * n)::HUGEINT * (n_pos * nt - et * n) * 1000000
    // (n::HUGEINT * nt * nt) AS BIGINT) AS res_e6,
  CAST((sum_p_ppm::HUGEINT * sum_p_ppm - 2000000::HUGEINT * sum_p_ppm * n_pos
    + n_pos::HUGEINT * n * 1000000000000) // (n::HUGEINT * 1000000) AS BIGINT) AS brier_e6
FROM b, tot ORDER BY bin"""

  // ---------------------------------------------------------------
  // YOUDEN-J THRESHOLD SELECTION — the step between [[qPrCurve]]'s
  // curve and a DEPLOYED filter: pick the cut that maximizes
  // J = TPR − FPR (Youden 1950), the balanced-error optimum a
  // quality gate ships when positives and negatives matter equally.
  // Candidate cuts are the score-bin boundaries (predict positive at
  // lm_score_ppm ≥ bin·250); TP/FP per cut are suffix sums over the
  // bin histogram. The argmax is EXACT: J·P·N = TP·N − FP·P is a
  // plain integer (common denominator P·N), compared directly —
  // never a float — with the smallest bin breaking ties. The whole
  // curve emits (j_e6 can be legitimately negative at the extremes;
  // it is an exact integer, not a rounded double — no -0.0 class)
  // with is_best marking the selected cut.
  //
  // Scale shape: the corpus pass is the shared memoized lmScored
  // bin aggregate; suffix sums and the argmax run on the
  // value-domain-bounded bin table.
  def qYoudenThreshold(s: SparkSession, dir: String): DataFrame = {
    val b = Text.lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        (col("lang") === "en").cast("long").as("is_en")), "doc_id")
      .groupBy(expr(s"lm_score_ppm div $CalBinPpm").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("is_en")).as("e"))
    val wSuf = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = b.agg(sum(col("e")).as("p"), (sum(col("n")) - sum(col("e"))).as("ng"))
    val curve = b
      .withColumn("tp", sum(col("e")).over(wSuf))
      .withColumn("fp", sum(col("n") - col("e")).over(wSuf))
      .crossJoin(broadcast(tot))
      .withColumn("jnum", col("tp") * col("ng") - col("fp") * col("p"))
    val wBest = Window.orderBy(col("jnum").desc, col("bin"))
    curve
      .withColumn("is_best", row_number().over(wBest) === 1)
      .select(col("bin"), (col("bin") * CalBinPpm).as("cut_ppm"),
        col("tp"), col("fp"),
        // sign-split (the qPowerIteration pattern): Spark decimal div
        // truncates, DuckDB // floors — they agree only on
        // non-negative operands, and J is negative at
        // anti-discriminative cuts
        expr("cast(CASE WHEN jnum >= 0 THEN (cast(jnum as decimal(38,0)) * 1000000) div (cast(p as decimal(38,0)) * ng)" +
          " ELSE -((cast(-jnum as decimal(38,0)) * 1000000) div (cast(p as decimal(38,0)) * ng)) END as bigint)")
          .as("j_e6"),
        col("is_best"))
      .orderBy(col("bin"))
  }

  // composed without stripMargin: embeds the already-stripped
  // qLmScoreSql (the `||`-continuation rule)
  lazy val qYoudenThresholdSql: String =
    s"""WITH lm AS MATERIALIZED (
SELECT doc_id, lm_score_ppm FROM (
${Text.qLmScoreSql}
)),
j0 AS (SELECT l.lm_score_ppm AS p, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM lm l JOIN documents d USING (doc_id)),
b AS (SELECT CAST(p // $CalBinPpm AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS e
  FROM j0 GROUP BY 1),
tot AS (SELECT CAST(sum(e) AS BIGINT) AS p, CAST(sum(n) - sum(e) AS BIGINT) AS ng FROM b),
curve AS (SELECT bin,
    CAST(sum(e) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
    CAST(sum(n - e) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM b),
sc AS (SELECT bin, tp, fp, tp * ng - fp * p AS jnum, p, ng FROM curve, tot),
rk AS (SELECT sc.*, ROW_NUMBER() OVER (ORDER BY jnum DESC, bin) AS rn FROM sc)
SELECT bin, CAST(bin * $CalBinPpm AS BIGINT) AS cut_ppm, tp, fp,
  CAST(CASE WHEN jnum >= 0 THEN (jnum::HUGEINT * 1000000) // (p::HUGEINT * ng)
    ELSE -(((-jnum)::HUGEINT * 1000000) // (p::HUGEINT * ng)) END AS BIGINT) AS j_e6,
  rn = 1 AS is_best
FROM rk ORDER BY bin"""

  // ---------------------------------------------------------------
  // SPLIT-CONFORMAL PREDICTION INTERVALS — the distribution-free
  // uncertainty wrapper production ML ships around point predictors
  // (Vovk et al.; the split/inductive form is the only one that
  // scales): fit on train, take the ⌈(1−α)(n+1)⌉-th smallest
  // absolute residual on a held-out CALIBRATION split as the
  // interval half-width q̂, and the marginal coverage guarantee
  // P(|y−ŷ| ≤ q̂) ≥ 1−α holds with no distributional assumption.
  // Everything here is exact: the "model" is the integer slope
  // R_ppm = 10⁶·Σchars div Σtokens over train (doc_id%10<8),
  // residuals are |10⁶·y − R_ppm·x| scaled integers, q̂ is an exact
  // ORDER STATISTIC (k-th smallest, doc_id tiebreak), and coverage
  // is counted on the disjoint test split (doc_id%10==9). Computed
  // PER SOURCE (group-conditional conformal — the form pipelines
  // actually deploy, since marginal coverage can hide per-slice
  // failure); a calibration slice too small for the 90% quantile
  // (k > n_cal) yields the INFINITE interval, gated as qhat_e6 = −1
  // with full coverage — the honest answer, not a clamp.
  //
  // Scale shape: token counts are map-only over the corpus scan;
  // per-source residual rank is a keyed window (the order statistic
  // never leaves its group); test coverage attaches the |sources|-row
  // q̂ table by broadcast.
  private val ConfAlphaPct = 10L // 90% target coverage

  def qConformalInterval(s: SparkSession, dir: String): DataFrame = {
    // md5-bucket split, NOT doc_id modulo: doc_id % 20 IS the source
    // on this corpus, so a modulo split collapses the calibration
    // slice onto two sources (measured) — the qSplit hash-bucket
    // convention decorrelates split from every attribute
    val bkt = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), bkt.as("b"),
        length(col("text")).cast("long").as("y"),
        size(graft.operators.Text.words(col("text"))).cast("long").as("x"))
    val tr = base.filter(col("b") < 80)
      .agg(sum(col("y")).as("sy"), sum(col("x")).as("sx"))
      .select(expr("1000000 * sy div sx").as("r_ppm"))
    val scored = base.crossJoin(broadcast(tr))
      .withColumn("resid", abs(lit(1000000L) * col("y") - col("r_ppm") * col("x")))
      .select(col("doc_id"), col("source"), col("b"), col("resid"))
    // MARGINAL row rides beside the per-source slices (source='ALL'):
    // the per-source 90% quantile is honestly infinite on a tiny
    // calibration slice, and the pooled guarantee is the one that
    // must stay finite at every SF
    val audit = scored.filter(col("b") >= 80)
    val both = audit.unionAll(audit.withColumn("source", lit("ALL")))
    val cal = both.filter(col("b") < 90)
    val wRank = Window.partitionBy(col("source")).orderBy(col("resid"), col("doc_id"))
    val ranked = cal.withColumn("rk", row_number().over(wRank))
    val nCal = cal.groupBy(col("source")).agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(s"((100 - $ConfAlphaPct) * (n_cal + 1) + 99) div 100"))
    val qhat = nCal.join(ranked.select(col("source"), col("rk"), col("resid")),
        Seq("source"), "left")
      .filter(col("rk") === least(col("k"), col("n_cal")))
      .select(col("source"), col("n_cal"), col("k"),
        (col("k") <= col("n_cal")).as("finite"),
        when(col("k") <= col("n_cal"), col("resid")).otherwise(lit(-1L)).as("qhat_e6"))
    val test = both.filter(col("b") >= 90)
      .join(broadcast(qhat), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(!col("finite") || col("resid") <= col("qhat_e6"), 1L).otherwise(0L))
          .as("n_covered"))
    qhat.join(test, Seq("source"), "left")
      .select(col("source"), col("n_cal"), col("k"), col("finite"), col("qhat_e6"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(coalesce(col("n_test"), lit(0L)) > 0,
          expr("1000 * n_covered div n_test")).otherwise(lit(-1L)).as("coverage_pm"))
      .orderBy(col("source"))
  }

  val qConformalIntervalSql: String =
    s"""WITH base AS (SELECT doc_id, source,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b,
       |    CAST(length(text) AS BIGINT) AS y,
       |    CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS x
       |  FROM documents),
       |tr AS (SELECT 1000000 * sum(y) // sum(x) AS r_ppm FROM base WHERE b < 80),
       |scored AS (SELECT doc_id, source, b, abs(1000000 * y - r_ppm * x) AS resid
       |  FROM base, tr),
       |bo AS (SELECT doc_id, source, b, resid FROM scored WHERE b >= 80
       |  UNION ALL
       |  SELECT doc_id, 'ALL', b, resid FROM scored WHERE b >= 80),
       |cal AS (SELECT source, resid,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY resid, doc_id) AS rk
       |  FROM bo WHERE b < 90),
       |nc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_cal,
       |    CAST(((100 - $ConfAlphaPct) * (count(*) + 1) + 99) // 100 AS BIGINT) AS k
       |  FROM cal GROUP BY 1),
       |qh AS (SELECT nc.source, nc.n_cal, nc.k, nc.k <= nc.n_cal AS finite,
       |    CASE WHEN nc.k <= nc.n_cal THEN cal.resid ELSE -1 END AS qhat_e6
       |  FROM nc JOIN cal ON cal.source = nc.source
       |    AND cal.rk = least(nc.k, nc.n_cal)),
       |ts AS (SELECT s.source, CAST(count(*) AS BIGINT) AS n_test,
       |    CAST(sum(CASE WHEN NOT qh.finite OR s.resid <= qh.qhat_e6
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
       |  FROM bo s JOIN qh USING (source) WHERE s.b >= 90 GROUP BY 1)
       |SELECT qh.source, qh.n_cal, qh.k, qh.finite, CAST(qh.qhat_e6 AS BIGINT) AS qhat_e6,
       |  CAST(coalesce(ts.n_test, 0) AS BIGINT) AS n_test,
       |  CAST(coalesce(ts.n_covered, 0) AS BIGINT) AS n_covered,
       |  CAST(CASE WHEN coalesce(ts.n_test, 0) > 0
       |    THEN 1000 * ts.n_covered // ts.n_test ELSE -1 END AS BIGINT) AS coverage_pm
       |FROM qh LEFT JOIN ts USING (source) ORDER BY qh.source""".stripMargin

  // ---------------------------------------------------------------
  // ISOTONIC CALIBRATION (PAV) — the recalibration step
  // [[qBrierDecomp]]'s verdict demands: fit the best MONOTONE map
  // from score bins to observed positive rate (isotonic regression,
  // the standard-issue recalibrator next to Platt scaling — chosen
  // here because it is EXACT: no sigmoid, no libm). The classical
  // pool-adjacent-violators stack is sequential; this operator
  // computes the identical fit through the minimax closed form
  //   ŷ_i = max_{k≤i} min_{j≥i} mean(y over bins k..j)
  // (Robertson/Wright/Dykstra 1988, Thm 1.4.4 — equality with PAV is
  // ALSO proven at runtime by the spec's stack replay), which is
  // pure relational algebra over the bin triples (k ≤ i ≤ j).
  // Cross-engine exactness: pool means compare as IEEE quotients of
  // exact BIGINT prefix sums (identical doubles both engines, ties
  // broken by index), and the SELECTED pool's integer sums emit the
  // gated iso_ppm by exact integer division — the fit itself is
  // never a float.
  //
  // Scale shape: the corpus pass is the one binned aggregate shared
  // with [[qCalibration]]/[[qBrierDecomp]] (memoized lmScored); the
  // minimax runs on bin TRIPLES — bins are value-domain-bounded
  // (score-range/250, ~45 here, scale-INVARIANT like ml_ks_test), so
  // the triple table is metadata-sized at any corpus size.
  def qIsotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val bins = Text.lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"))
      .join(Tables.documents(s, dir).select(col("doc_id"),
        (col("lang") === "en").cast("long").as("is_en")), "doc_id")
      .groupBy(expr(s"lm_score_ppm div $CalBinPpm").as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("is_en")).as("e"))
    val wOrd = Window.orderBy(col("bin")) // B-row metadata frame
    val pre = bins
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("pn", sum(col("n")).over(wOrd))
      .withColumn("pe", sum(col("e")).over(wOrd))
      .localCheckpoint() // B rows; feeds four self-join arms
    val kj = pre.select(col("i").as("k"), (col("pn") - col("n")).as("pn0"),
        (col("pe") - col("e")).as("pe0"))
      .join(pre.select(col("i").as("j"), col("pn").as("pnj"), col("pe").as("pej")),
        col("k") <= col("j"))
      .select(col("k"), col("j"), (col("pej") - col("pe0")).as("num"),
        (col("pnj") - col("pn0")).as("den"))
      .withColumn("q", col("num").cast("double") / col("den").cast("double"))
    val tri = pre.select(col("i"))
      .join(kj, col("k") <= col("i") && col("j") >= col("i"))
    val wIn = Window.partitionBy(col("i"), col("k")).orderBy(col("q"), col("j"))
    val wOut = Window.partitionBy(col("i")).orderBy(col("q").desc, col("k"))
    val iso = tri.withColumn("rn", row_number().over(wIn)).filter(col("rn") === 1)
      .withColumn("rm", row_number().over(wOut)).filter(col("rm") === 1)
      .select(col("i"), col("num"), col("den"))
    pre.select(col("i"), col("bin"), col("n"), col("e").as("n_pos"))
      .join(iso, "i")
      .select(col("bin"), col("n"), col("n_pos"),
        expr("1000000 * n_pos div n").as("raw_ppm"),
        expr("1000000 * num div den").as("iso_ppm"))
      .orderBy(col("bin"))
  }

  // composed without stripMargin: embeds the already-stripped
  // qLmScoreSql (the `||`-continuation rule)
  lazy val qIsotonicCalibrationSql: String =
    s"""WITH lm AS MATERIALIZED (
SELECT doc_id, lm_score_ppm FROM (
${Text.qLmScoreSql}
)),
j0 AS (SELECT l.lm_score_ppm AS p, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM lm l JOIN documents d USING (doc_id)),
b AS (SELECT CAST(p // $CalBinPpm AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(y) AS BIGINT) AS e
  FROM j0 GROUP BY 1),
pre AS MATERIALIZED (SELECT bin, n, e,
  CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
  CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS pn,
  CAST(sum(e) OVER (ORDER BY bin) AS BIGINT) AS pe
  FROM b),
kj AS (SELECT k.i AS k, jj.i AS j,
    jj.pe - (k.pe - k.e) AS num, jj.pn - (k.pn - k.n) AS den,
    CAST(jj.pe - (k.pe - k.e) AS DOUBLE) / (jj.pn - (k.pn - k.n)) AS q
  FROM pre k JOIN pre jj ON k.i <= jj.i),
tri AS (SELECT p.i, kj.k, kj.j, kj.num, kj.den, kj.q
  FROM pre p JOIN kj ON kj.k <= p.i AND kj.j >= p.i),
mn AS (SELECT i, k, num, den, q,
    ROW_NUMBER() OVER (PARTITION BY i, k ORDER BY q, j) AS rn FROM tri),
mx AS (SELECT i, num, den,
    ROW_NUMBER() OVER (PARTITION BY i ORDER BY q DESC, k) AS rm
  FROM mn WHERE rn = 1),
iso AS (SELECT i, num, den FROM mx WHERE rm = 1)
SELECT p.bin, p.n, p.e AS n_pos,
  CAST(1000000 * p.e // p.n AS BIGINT) AS raw_ppm,
  CAST(1000000 * iso.num // iso.den AS BIGINT) AS iso_ppm
FROM pre p JOIN iso USING (i) ORDER BY p.bin"""

  // ---------------------------------------------------------------
  // POWER-ITERATION STEP — one distributed step of the classical
  // top-eigenvector iteration on the corpus's (uncentered) second
  // moment: v₁ = (XᵀX)·v₀ with the deterministic all-ones seed,
  // which reduces to Cv[d] = Σ_vec x[d]·(Σ_e x[e]) — i.e. per-vector
  // component SUM attached by a vec-partitioned window, then one
  // map-side-combined aggregate per dimension. This is the kernel
  // distributed PCA is made of (the full algorithm repeats this step
  // and renormalizes); it gates exactly because components ride as
  // round(x·1e6) micro-ints, the per-dimension products accumulate
  // in DECIMAL(38,0)/HUGEINT (product ~6e13/vec — BIGINT wraps at
  // ~sf100 corpus counts, the overflow-audit class), and the output
  // is the sign-split per-mille of the max |component| — no sqrt, no
  // norm, no doubles anywhere. Scale shape: one exchange on vec_id
  // for the window, a 64-row aggregate; the max-normalization
  // windows host on the 64-row frame.
  def qPowerIteration(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        round(col("x") * 1000000).cast("long").as("sv"))
    val cv = ex
      .withColumn("p", sum(col("sv")).over(Window.partitionBy(col("vec_id"))))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("cast(sv as decimal(38,0)) * p")).as("c"))
    cv.withColumn("m", max(abs(col("c"))).over(Window.partitionBy()))
      .select(col("d"), col("n_vecs"),
        expr("cast(CASE WHEN c >= 0 THEN (cast(1000 as decimal(38,0)) * c) div m" +
          " ELSE -((cast(1000 as decimal(38,0)) * (-c)) div m) END as bigint)").as("c_pm"))
      .orderBy(col("d"))
  }

  // ---------------------------------------------------------------
  // BATCH PERCEPTRON STEP — one distributed subgradient update of a
  // linear classifier (labels < 5 vs >= 5 on the embedding table),
  // the training-loop primitive that, unlike logistic regression,
  // needs NO transcendental in the gated values: scores, the
  // misclassification test and the gradient are all exact integers
  // on µ-scaled vectors. Under the all-ones w₀ (the qPowerIteration
  // seed convention): score(x) = Σ_d x_d, misclassified iff
  // y·score ≤ 0 (ties count as errors — the subgradient convention),
  // gradient g_d = Σ_miscl y·x_d summed in DECIMAL(38,0)/HUGEINT
  // (the moment-widening rule), emitted sign-split as per-mille of
  // max |g| — no output column carries a wrap horizon. Scale shape:
  // one (vec_id)-partitioned window for the scores, one 64-group
  // partial aggregate for the gradient; per-dim n_miscl is the
  // GLOBAL misclassified count repeated (self-checking: every
  // misclassified vector contributes to every dimension).
  def qPerceptronStep(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        when(col("label") < 5, 1L).otherwise(-1L).as("y"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .select(col("vec_id"), col("y"), col("d").cast("long").as("d"),
        round(col("x") * 1000000).cast("long").as("sv"))
    val grad = ex
      .withColumn("p", sum(col("sv")).over(Window.partitionBy(col("vec_id"))))
      .filter(col("y") * col("p") <= 0)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_miscl"),
        sum(expr("cast(y * sv as decimal(38,0))")).as("g"))
    grad.withColumn("m", greatest(max(abs(col("g"))).over(Window.partitionBy()), lit(1)))
      .select(col("d"), col("n_miscl"),
        expr("cast(CASE WHEN g >= 0 THEN (cast(1000 as decimal(38,0)) * g) div m" +
          " ELSE -((cast(1000 as decimal(38,0)) * (-g)) div m) END as bigint)").as("g_pm"))
      .orderBy(col("d"))
  }

  val qPerceptronStepSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, y, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d),
       |wp AS (SELECT vec_id, y, d, sv,
       |  CAST(sum(sv) OVER (PARTITION BY vec_id) AS BIGINT) AS p FROM ex),
       |g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_miscl,
       |  sum(y::HUGEINT * sv) AS g FROM wp WHERE y * p <= 0 GROUP BY d),
       |mx AS (SELECT greatest(max(abs(g)), 1) AS m FROM g)
       |SELECT d, n_miscl,
       |  CAST(CASE WHEN g >= 0 THEN (1000::HUGEINT * g) // m
       |    ELSE -((1000::HUGEINT * (-g)) // m) END AS BIGINT) AS g_pm
       |FROM g, mx ORDER BY d""".stripMargin

  // ---------------------------------------------------------------
  // EXACT ROC AUC — the eval metric every classifier pipeline gates
  // on, computed as the Mann–Whitney rank statistic with NO floats:
  // score(x) = Σ_d round(x_d·1e6) (the [[qPerceptronStep]] integer
  // margin under the all-ones w₀), y = [label < 5]. With per-score
  // counts (n_pos_s, n_neg_s), C = Σ_s n_pos_s·negBelow(s) the
  // concordant pairs and T = Σ_s n_pos_s·n_neg_s the tied pairs,
  // AUC = (C + T/2)/(n₊·n₋) — emitted as
  // auc_ppm = (10⁶·(2C + T)) div (2·n₊·n₋), all integer, plus the
  // raw pair counts as DECIMAL(38,0)-backed strings (C ~ n² wraps
  // BIGINT past ~3e9 rows — the r10 item-6 no-wrap-horizon rule).
  //
  // Scale shape (the OrderStats discipline — a corpus-global
  // row_number window is the one plan that can't survive 100×): one
  // map-only scoring kernel, one groupBy(score) partial agg, then
  // the global "negatives strictly below" prefix sum runs as
  // range-partition → P per-partition neg totals to the driver →
  // broadcast offsets → one partition-local accumulation kernel
  // emitting P metadata rows. No global sort, no corpus collect.
  /** (y = [label < 5], s = Σ_d round(x_d·1e6)) per vector — the
    * integer linear margin under the all-ones w₀, one map-only
    * kernel (the HOF-loop rule); same per-element rounding as the
    * perceptron's sv column. Shared by [[qAucExact]] and
    * [[qPrCurve]]. */
  private def scoredMargin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val e = Tables.embeddings(s, dir).select(
      when(col("label") < 5, 1L).otherwise(0L).as("y"),
      col("embedding").cast("array<double>").as("v"))
    val scoreSchema = StructType(Seq(
      StructField("y", LongType), StructField("s", LongType)))
    e.repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { r =>
          val v = r.getSeq[Double](1)
          var acc = 0L
          var i = 0
          while (i < v.length) {
            acc += Vectors.roundJvm(v(i) * 1000000d, 0).toLong
            i += 1
          }
          Row(r.getLong(0), acc)
        }
      }(Encoders.row(scoreSchema))
  }

  def qAucExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    import org.apache.spark.TaskContext
    val p = s.sparkContext.defaultParallelism
    val scored = scoredMargin(s, dir)
    val grouped = scored.groupBy(col("s")).agg(
      sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
    val ranged = grouped.repartitionByRange(p, col("s")).localCheckpoint()
    val partNeg = ranged
      .groupBy(spark_partition_id().as("pid")).agg(sum(col("n_neg")).as("neg"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val outSchema = StructType(Seq(
      StructField("n_pos", LongType), StructField("n_neg", LongType),
      StructField("concordant", StringType), StructField("tied", StringType),
      StructField("auc_ppm", LongType)))
    if (partNeg.isEmpty) return s.createDataFrame(
      s.sparkContext.emptyRDD[Row], outSchema) // degenerate-input rule
    // driver prefix over P counters -> negatives strictly below pid
    var below = 0L
    val offsets: Map[Int, Long] = partNeg.map { case (pid, c) =>
      val entry = pid -> below
      below += c
      entry
    }.toMap
    val bc = s.sparkContext.broadcast(offsets)
    val partSchema = StructType(Seq(
      StructField("np", LongType), StructField("nn", LongType),
      StructField("c", DecimalType(38, 0)), StructField("t", DecimalType(38, 0))))
    val parts = ranged.sortWithinPartitions(col("s"))
      .mapPartitions { it =>
        var cum = BigInt(bc.value.getOrElse(TaskContext.getPartitionId(), 0L))
        var c = BigInt(0); var t = BigInt(0); var np = 0L; var nn = 0L
        it.foreach { r =>
          val pos = r.getLong(1); val neg = r.getLong(2)
          c += BigInt(pos) * cum
          t += BigInt(pos) * BigInt(neg)
          np += pos; nn += neg; cum += neg
        }
        Iterator.single(Row(np, nn,
          new java.math.BigDecimal(c.bigInteger), new java.math.BigDecimal(t.bigInteger)))
      }(Encoders.row(partSchema))
    parts.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("c")).as("c"), sum(col("t")).as("t"))
      .select(col("n_pos"), col("n_neg"),
        col("c").cast("string").as("concordant"), col("t").cast("string").as("tied"),
        expr("cast((cast(1000000 as decimal(38,0)) * (2 * c + t))" +
          " div greatest(cast(2 as decimal(38,0)) * n_pos * n_neg, 1) as bigint)")
          .as("auc_ppm"))
  }

  val qAucExactSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, min(y) AS y,
       |  CAST(sum(CAST(round(v[d.d + 1] * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d
       |  GROUP BY vec_id),
       |g AS (SELECT s, CAST(sum(y) AS BIGINT) AS n_pos,
       |  CAST(sum(1 - y) AS BIGINT) AS n_neg FROM ex GROUP BY s),
       |w AS (SELECT n_pos, n_neg, CAST(coalesce(sum(n_neg) OVER (ORDER BY s
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS cb
       |  FROM g),
       |t AS (SELECT CAST(sum(n_pos) AS HUGEINT) AS np, CAST(sum(n_neg) AS HUGEINT) AS nn,
       |  CAST(coalesce(sum(n_pos::HUGEINT * cb), 0) AS HUGEINT) AS c,
       |  CAST(coalesce(sum(n_pos::HUGEINT * n_neg), 0) AS HUGEINT) AS t FROM w)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |  CAST(c AS VARCHAR) AS concordant, CAST(t AS VARCHAR) AS tied,
       |  CAST((1000000::HUGEINT * (2 * c + t)) // greatest(2 * np * nn, 1) AS BIGINT) AS auc_ppm
       |FROM t""".stripMargin

  // ---------------------------------------------------------------
  // ROC CONVEX HULL — the operating-point frontier (Provost & Fawcett
  // 2001): every achievable classifier operating point under varying
  // class/cost ratios lies ON the ROC hull, so the hull — not the raw
  // curve — is what threshold-selection reads. Thresholds come from a
  // FIXED integer score grid ((s + 1e8) div 1e5 — shift keeps the
  // floor-div non-negative, width is corpus-independent), so the
  // point set is metadata-sized at any corpus; cumulative (FP, TP)
  // per threshold are exact integers from one map-side aggregate.
  // HULL MEMBERSHIP is the closed form — point p is off the upper
  // hull iff SOME chord (a, b) straddling it passes strictly above:
  //   (tp_b − tp_a)·(fp_p − fp_a) − (fp_b − fp_a)·(tp_p − tp_a) > 0
  // — an all-pairs predicate over the ≤~100-point grid (the
  // stack-walk hull algorithm is an inherently sequential recurrence;
  // the predicate form is O(points³) on METADATA, the packing/
  // semantic-dedup closed-form discipline). Collinear points stay
  // (cross = 0 is not strictly above — deterministic both engines).
  // Cross products and trapezoid areas widen to decimal(38,0)/
  // HUGEINT (TP·FP products reach 1e18 at 1e9-row corpora). Output:
  // the hull points (fp, tp) with the running 2·area under the hull
  // (the exact-integer AUCH·2·P·N), lag+cumsum over the hull rows.
  //
  // Scale shape: ONE corpus pass (score kernel + bucket aggregate,
  // map-side partials); everything after is a ≤~100-row frame —
  // single-partition windows and broadcast self-joins on metadata,
  // the accepted bin-frame convention.
  def qRocHull(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byB = scoredMargin(s, dir)
      .groupBy(expr("(s + 100000000) div 100000").as("b"))
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val wDesc = Window.orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = byB
      .select(sum(col("nn")).over(wDesc).as("fp"), sum(col("np")).over(wDesc).as("tp"))
      .unionAll(s.range(1).select(lit(0L).as("fp"), lit(0L).as("tp")))
      .groupBy(col("fp")).agg(max(col("tp")).as("tp")) // vertical runs -> top point
      .localCheckpoint() // ≤ ~100 rows; self-joined below
    val a = pts.select(col("fp").as("afp"), col("tp").as("atp"))
    val b = pts.select(col("fp").as("bfp"), col("tp").as("btp"))
    val off = pts.join(broadcast(a), col("afp") < col("fp"))
      .join(broadcast(b), col("bfp") > col("fp"))
      .filter(expr(
        "cast(btp - atp as decimal(38,0)) * (fp - afp)" +
          " - cast(bfp - afp as decimal(38,0)) * (tp - atp) > 0"))
      .select(col("fp")).distinct()
    val wAsc = Window.orderBy(col("fp"))
    pts.join(broadcast(off), Seq("fp"), "left_anti")
      .withColumn("seg",
        coalesce(
          expr("cast(fp - lag(fp, 1) over (order by fp) as decimal(38,0))" +
            " * (tp + lag(tp, 1) over (order by fp))"),
          lit(java.math.BigDecimal.ZERO)))
      .withColumn("area2_cum",
        expr("cast(sum(seg) over (order by fp rows between unbounded preceding" +
          " and current row) as bigint)"))
      .select(col("fp"), col("tp"), col("area2_cum"))
      .orderBy(col("fp"))
  }

  val qRocHullSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, min(y) AS y,
       |  CAST(sum(CAST(round(v[d.d + 1] * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d
       |  GROUP BY vec_id),
       |g AS (SELECT (s + 100000000) // 100000 AS b, CAST(sum(y) AS BIGINT) AS np,
       |  CAST(sum(1 - y) AS BIGINT) AS nn FROM ex GROUP BY 1),
       |cumpts AS (SELECT
       |  CAST(sum(nn) OVER (ORDER BY b DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
       |  CAST(sum(np) OVER (ORDER BY b DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp
       |  FROM g),
       |pts AS (SELECT fp, CAST(max(tp) AS BIGINT) AS tp FROM (
       |  SELECT fp, tp FROM cumpts UNION ALL SELECT 0, 0) GROUP BY fp),
       |off AS (SELECT DISTINCT p.fp
       |  FROM pts p JOIN pts a ON a.fp < p.fp JOIN pts b ON b.fp > p.fp
       |  WHERE (b.tp - a.tp)::HUGEINT * (p.fp - a.fp)
       |      - (b.fp - a.fp)::HUGEINT * (p.tp - a.tp) > 0),
       |hull AS (SELECT p.fp, p.tp FROM pts p LEFT JOIN off o ON p.fp = o.fp
       |  WHERE o.fp IS NULL),
       |segs AS (SELECT fp, tp,
       |  coalesce((fp - lag(fp) OVER (ORDER BY fp))::HUGEINT
       |    * (tp + lag(tp) OVER (ORDER BY fp)), 0) AS seg FROM hull)
       |SELECT fp, tp, CAST(sum(seg) OVER (ORDER BY fp
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS area2_cum
       |FROM segs ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------
  // GINI DECISION-STUMP SPLIT — the tree-learner training primitive:
  // per dimension, the threshold minimizing weighted Gini impurity of
  // the y = [label < 5] split, exactly. With l/r the side totals and
  // l₊ l₋ r₊ r₋ the class counts, weighted impurity =
  // 2(l₊l₋r + r₊r₋l)/(l·r·n) — a pure rational whose ppm floor goes
  // through DECIMAL(38,0)/HUGEINT (numerator ~ n³; no wrap at 1e11
  // rows, no libm, no float). Candidate thresholds are the 15 inner
  // boundaries of a 16-bucket equi-width quantization of the
  // µ-scaled feature (bucket arithmetic all non-negative, so Spark
  // `div` / DuckDB `//` agree); the gated statement is the argmin of
  // the ppm-floored impurity with bucket-index tiebreak. Degenerate
  // sides (l = 0 or r = 0) are excluded; a constant dimension
  // therefore emits no row. Scale shape: one corpus pass for per-dim
  // min/max (64 metadata rows, broadcast back), one partial-agg pass
  // onto the (64 dim × 16 bucket) histogram, then every window runs
  // on 16-row partitions — nothing downstream touches the corpus.
  def qGiniSplit(s: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(s, dir)
      .select(when(col("label") < 5, 1L).otherwise(0L).as("y"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .select(col("y"), col("d").cast("long").as("d"),
        round(col("x") * 1000000).cast("long").as("sv"))
    val mm = ex.groupBy(col("d"))
      .agg(min(col("sv")).as("smin"), max(col("sv")).as("smax"))
    val hist = ex.join(broadcast(mm), "d")
      .withColumn("b", least(lit(15L),
        expr("(sv - smin) * 16 div (smax - smin + 1)")))
      .groupBy(col("d"), col("b"))
      .agg(sum(col("y")).as("bp"), sum(lit(1L) - col("y")).as("bn"))
    val wCum = Window.partitionBy(col("d")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("d"))
    val dec = "decimal(38,0)"
    val curve = hist
      .withColumn("l_pos", sum(col("bp")).over(wCum))
      .withColumn("l_neg", sum(col("bn")).over(wCum))
      .withColumn("r_pos", sum(col("bp")).over(wTot) - col("l_pos"))
      .withColumn("r_neg", sum(col("bn")).over(wTot) - col("l_neg"))
      .filter(col("b") < 15) // b is the left-inclusive boundary index
      .withColumn("l", col("l_pos") + col("l_neg"))
      .withColumn("r", col("r_pos") + col("r_neg"))
      .filter(col("l") > 0 && col("r") > 0)
      .withColumn("impurity_ppm", expr(
        s"cast((cast(2000000 as $dec) * (cast(l_pos as $dec) * l_neg * r" +
          s" + cast(r_pos as $dec) * r_neg * l))" +
          s" div (cast(l as $dec) * r * (l + r)) as bigint)"))
    curve.join(broadcast(mm), "d")
      .withColumn("tau",
        col("smin") + expr("(b + 1) * (smax - smin + 1) div 16") - 1)
      .withColumn("rn", row_number().over(Window.partitionBy(col("d"))
        .orderBy(col("impurity_ppm"), col("b"))))
      .filter(col("rn") === 1)
      .select(col("d"), col("b").as("split_bucket"), col("tau"),
        col("l_pos"), col("l_neg"), col("r_pos"), col("r_neg"),
        col("impurity_ppm"))
      .orderBy(col("d"))
  }

  val qGiniSplitSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT y, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d),
       |mm AS (SELECT d, min(sv) AS smin, max(sv) AS smax FROM ex GROUP BY d),
       |hist AS (SELECT ex.d, least(15, (sv - smin) * 16 // (smax - smin + 1)) AS b,
       |  CAST(sum(y) AS BIGINT) AS bp, CAST(sum(1 - y) AS BIGINT) AS bn
       |  FROM ex JOIN mm ON ex.d = mm.d GROUP BY 1, 2),
       |cum AS (SELECT d, b, bp, bn,
       |  CAST(sum(bp) OVER (PARTITION BY d ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS l_pos,
       |  CAST(sum(bn) OVER (PARTITION BY d ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS l_neg,
       |  CAST(sum(bp) OVER (PARTITION BY d) AS BIGINT) AS tp,
       |  CAST(sum(bn) OVER (PARTITION BY d) AS BIGINT) AS tn FROM hist),
       |curve AS (SELECT d, b, l_pos, l_neg,
       |  tp - l_pos AS r_pos, tn - l_neg AS r_neg,
       |  l_pos + l_neg AS l, tp + tn - l_pos - l_neg AS r FROM cum WHERE b < 15),
       |sc AS (SELECT d, b, l_pos, l_neg, r_pos, r_neg,
       |  CAST((2000000::HUGEINT * (l_pos::HUGEINT * l_neg * r + r_pos::HUGEINT * r_neg * l))
       |    // (l::HUGEINT * r * (l + r)) AS BIGINT) AS impurity_ppm
       |  FROM curve WHERE l > 0 AND r > 0),
       |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY d
       |  ORDER BY impurity_ppm, b) AS rn FROM sc)
       |SELECT best.d, b AS split_bucket,
       |  smin + (b + 1) * (smax - smin + 1) // 16 - 1 AS tau,
       |  l_pos, l_neg, r_pos, r_neg, impurity_ppm
       |FROM best JOIN mm ON best.d = mm.d WHERE rn = 1 ORDER BY best.d""".stripMargin

  // ---------------------------------------------------------------
  // PRECISION/RECALL CURVE — the operating-point table read off
  // before picking a filter threshold: at each exact score-decile
  // threshold τ_k (k = 1..9, ceil-rank convention — the k·n/10-th
  // smallest margin under the repo's positional-percentile rule),
  // classify ŷ = [s ≥ τ_k] and report TP/FP/FN plus
  // precision/recall/F1 as exact integer ppm (F1 = 2TP/(2TP+FP+FN)
  // — the harmonic mean IS a rational, no float ever). Thresholds
  // come from [[OrderStats]] (range-partition + one partition-local
  // sort per rank — no corpus-global window); the per-threshold
  // counts are one conditional aggregation of the per-score count
  // table against the 9 broadcast thresholds. TP+FP ≥ 1 always
  // (each τ is an attained score), so no division guard is needed.
  def qPrCurve(s: SparkSession, dir: String): DataFrame = {
    val scored = scoredMargin(s, dir)
    val grouped = scored.groupBy(col("s")).agg(
        sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
      .localCheckpoint() // threshold counting + the n₊ total both read it
    val ranked = OrderStats.rank(scored.select(col("s")), Seq("s"))
    val n = ranked.total
    if (n == 0) return grouped.select(lit(0L).as("k"), lit(0L).as("tau"),
      col("n_pos").as("tp"), col("n_neg").as("fp"), lit(0L).as("fn"),
      lit(0L).as("precision_ppm"), lit(0L).as("recall_ppm"),
      lit(0L).as("f1_ppm")).limit(0)
    // all 9 decile thresholds in ONE fetch job (OrderStats.kths, r18)
    val cuts = OrderStats.kths(ranked, (1L to 9L).map(k => (k * n + 9) / 10))
    val taus = (1L to 9L).map(k => (k, cuts((k * n + 9) / 10).getLong(0)))
    val tauDf = s.createDataFrame(taus).toDF("k", "tau")
    grouped.crossJoin(broadcast(tauDf))
      .filter(col("s") >= col("tau"))
      .groupBy(col("k"), col("tau"))
      .agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("fp"))
      .crossJoin(broadcast(grouped.agg(sum(col("n_pos")).as("np"))))
      .select(col("k"), col("tau"), col("tp"), col("fp"),
        (col("np") - col("tp")).as("fn"),
        expr("1000000 * tp div (tp + fp)").as("precision_ppm"),
        expr("1000000 * tp div greatest(np, 1)").as("recall_ppm"),
        expr("2000000 * tp div greatest(2 * tp + fp + np - tp, 1)").as("f1_ppm"))
      .orderBy(col("k"))
  }

  val qPrCurveSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, min(y) AS y,
       |  CAST(sum(CAST(round(v[d.d + 1] * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d
       |  GROUP BY vec_id),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np FROM ex),
       |r AS (SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS rn FROM ex),
       |ks AS (SELECT CAST(k.k AS BIGINT) AS k FROM (SELECT unnest(range(1, 10)) AS k) k),
       |tau AS (SELECT ks.k, r.s AS tau FROM ks, nn, r
       |  WHERE r.rn = (ks.k * nn.n + 9) // 10),
       |c AS (SELECT t.k, t.tau,
       |  CAST(sum(CASE WHEN ex.s >= t.tau THEN ex.y ELSE 0 END) AS BIGINT) AS tp,
       |  CAST(sum(CASE WHEN ex.s >= t.tau THEN 1 - ex.y ELSE 0 END) AS BIGINT) AS fp
       |  FROM tau t, ex GROUP BY 1, 2)
       |SELECT c.k, c.tau, c.tp, c.fp, np - tp AS fn,
       |  CAST(1000000 * tp // (tp + fp) AS BIGINT) AS precision_ppm,
       |  CAST(1000000 * tp // greatest(np, 1) AS BIGINT) AS recall_ppm,
       |  CAST(2000000 * tp // greatest(2 * tp + fp + np - tp, 1) AS BIGINT) AS f1_ppm
       |FROM c, nn ORDER BY c.k""".stripMargin

  val qPowerIterationSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d),
       |wp AS (SELECT vec_id, d, sv,
       |  CAST(sum(sv) OVER (PARTITION BY vec_id) AS BIGINT) AS p FROM ex),
       |cv AS (SELECT d, CAST(count(*) AS BIGINT) AS n_vecs,
       |  sum(sv::HUGEINT * p) AS c FROM wp GROUP BY d),
       |mx AS (SELECT max(abs(c)) AS m FROM cv)
       |SELECT d, n_vecs,
       |  CAST(CASE WHEN c >= 0 THEN (1000::HUGEINT * c) // m
       |    ELSE -((1000::HUGEINT * (-c)) // m) END AS BIGINT) AS c_pm
       |FROM cv, mx ORDER BY d""".stripMargin

  // ---------------------------------------------------------------
  // FEATURE CORRELATION MATRIX — Pearson correlation of every
  // embedding-dimension pair (64 dims → 2016 pairs), the redundancy
  // map read before PCA/whitening/feature pruning. Exactness is the
  // [[Relational2.q35CorrExact]] convention: all sufficient
  // statistics (n, Σx_d, Σx_d², Σx_a·x_b over µ-scaled integers
  // sv = round(x·10⁶)) are EXACT — DECIMAL(38,0) here, HUGEINT in
  // the oracle — and corr is then one fixed chain of double ops over
  // exact inputs, identical on both engines, rounded to 4 dp.
  //
  // Scale shape: the naive plan (explode to (vec_id, d, sv),
  // self-join on vec_id) shuffles the corpus ×64 and multiplies in
  // the join — the oracle does exactly that, Spark must NOT. Here
  // ALL 2081 sufficient statistics accumulate in ONE single-pass
  // mapPartitions kernel with constant-size state (64+64+2016
  // accumulators; per-row pair products ≤ 10¹² accumulate in Long
  // and fold into BigInt every 4M rows, so no per-partition row
  // bound — the no-wrap-horizon rule), emitting ≤ 2081 rows per
  // partition. Everything downstream is metadata: one partial-agg
  // exchange, two broadcast joins of 64-row frames. Output size is
  // corpus-independent (2016 rows).
  def qCorrPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val d = Vectors.Dim
    val nPairs = d * (d - 1) / 2
    val statSchema = StructType(Seq(
      StructField("da", LongType), StructField("db", LongType),
      StructField("v", DecimalType(38, 0))))
    val FlushEvery = 4000000
    val stats = Tables.embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("embedding").cast("array<double>").as("v"))
      .mapPartitions { it =>
        val sx = Array.fill(d)(BigInt(0)); val sxL = new Array[Long](d)
        val sxx = Array.fill(d)(BigInt(0)); val sxxL = new Array[Long](d)
        val sxy = Array.fill(nPairs)(BigInt(0)); val sxyL = new Array[Long](nPairs)
        val sv = new Array[Long](d)
        var n = 0L; var sinceFlush = 0
        def flush(): Unit = {
          var i = 0
          while (i < d) { sx(i) += sxL(i); sxL(i) = 0L
            sxx(i) += sxxL(i); sxxL(i) = 0L; i += 1 }
          i = 0
          while (i < nPairs) { sxy(i) += sxyL(i); sxyL(i) = 0L; i += 1 }
          sinceFlush = 0
        }
        it.foreach { r =>
          val v = r.getSeq[Double](0)
          var i = 0
          while (i < d) {
            sv(i) = Vectors.roundJvm(v(i) * 1000000d, 0).toLong
            sxL(i) += sv(i); sxxL(i) += sv(i) * sv(i)
            i += 1
          }
          var a = 0; var k = 0
          while (a < d) {
            var b = a + 1
            while (b < d) { sxyL(k) += sv(a) * sv(b); k += 1; b += 1 }
            a += 1
          }
          n += 1; sinceFlush += 1
          if (sinceFlush == FlushEvery) flush()
        }
        flush()
        def dec(x: BigInt) = new java.math.BigDecimal(x.bigInteger)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        if (n > 0L) {
          out += Row(-1L, -1L, dec(BigInt(n)))
          var i = 0
          while (i < d) {
            out += Row(i.toLong, -1L, dec(sx(i)))
            out += Row(i.toLong, i.toLong, dec(sxx(i)))
            i += 1
          }
          var a = 0; var k = 0
          while (a < d) {
            var b = a + 1
            while (b < d) { out += Row(a.toLong, b.toLong, dec(sxy(k))); k += 1; b += 1 }
            a += 1
          }
        }
        out.iterator
      }(Encoders.row(statSchema))
      .groupBy(col("da"), col("db")).agg(sum(col("v")).as("v"))
      .localCheckpoint()
    val n = stats.filter(col("da") === -1L)
      .select(col("v").as("n"))
    val perDimX = stats.filter(col("da") >= 0L && col("db") === -1L)
      .select(col("da").as("dd"), col("v").as("sx"))
    val perDimXX = stats.filter(col("da") >= 0L && col("da") === col("db"))
      .select(col("da").as("dd"), col("v").as("sxx"))
    val perDim = perDimX.join(perDimXX, "dd")
    val pairs = stats.filter(col("da") >= 0L && col("db") > col("da"))
      .select(col("da"), col("db"), col("v").as("sxy"))
    pairs
      .join(broadcast(perDim.select(col("dd").as("da"),
        col("sx").as("sxa"), col("sxx").as("sxxa"))), "da")
      .join(broadcast(perDim.select(col("dd").as("db"),
        col("sx").as("sxb"), col("sxx").as("sxxb"))), "db")
      .crossJoin(broadcast(n))
      // zero-variance guard (the temporal_autocorr discipline, r13
      // advice): a constant dimension makes the ratio 0/0 — NaN·1e4
      // floors to engine-dependent garbage (DuckDB CAST errors, Spark
      // non-ANSI yields 0). Guard on the SAME double chain the
      // denominator uses, identically on both engines.
      .filter((col("n").cast("double") * col("sxxa").cast("double") -
          col("sxa").cast("double") * col("sxa").cast("double")) > 0.0 &&
        (col("n").cast("double") * col("sxxb").cast("double") -
          col("sxb").cast("double") * col("sxb").cast("double")) > 0.0)
      .select(col("da"), col("db"), col("n").cast("long").as("n"),
        // House convention (r11 verdict): gated correlations go out
        // as floor'd scaled integers, never rounded doubles — DuckDB
        // round() preserves IEEE -0.0 while Spark's BigDecimal round
        // normalizes to +0.0, so a near-zero-negative corr hash-splits
        // the engines. floor() on the identical IEEE double chain is
        // exact and sign-of-zero-free after the BIGINT cast.
        floor(((col("n").cast("double") * col("sxy").cast("double") -
          col("sxa").cast("double") * col("sxb").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxxa").cast("double") -
            col("sxa").cast("double") * col("sxa").cast("double")) *
           sqrt(col("n").cast("double") * col("sxxb").cast("double") -
            col("sxb").cast("double") * col("sxb").cast("double")))) *
          lit(10000.0d)).cast("long")
          .as("corr_e4"))
      .orderBy(col("da"), col("db"))
  }

  val qCorrPairsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${Vectors.Dim})) AS d) d),
       |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
       |m AS (SELECT d, sum(sv::HUGEINT) AS sx, sum(sv::HUGEINT * sv) AS sxx
       |  FROM ex GROUP BY d),
       |cp AS (SELECT a.d AS da, b.d AS db, sum(a.sv::HUGEINT * b.sv) AS sxy
       |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.d < b.d GROUP BY 1, 2)
       |SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db,
       |  CAST(n AS BIGINT) AS n,
       |  CAST(floor(((n::DOUBLE * sxy::DOUBLE - ma.sx::DOUBLE * mb.sx::DOUBLE) /
       |    (sqrt(n::DOUBLE * ma.sxx::DOUBLE - ma.sx::DOUBLE * ma.sx::DOUBLE) *
       |     sqrt(n::DOUBLE * mb.sxx::DOUBLE - mb.sx::DOUBLE * mb.sx::DOUBLE)))
       |    * 10000) AS BIGINT) AS corr_e4
       |FROM cp JOIN m ma ON ma.d = cp.da JOIN m mb ON mb.d = cp.db, nn
       |WHERE (n::DOUBLE * ma.sxx::DOUBLE - ma.sx::DOUBLE * ma.sx::DOUBLE) > 0
       |  AND (n::DOUBLE * mb.sxx::DOUBLE - mb.sx::DOUBLE * mb.sx::DOUBLE) > 0
       |ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------
  // DETERMINISTIC POISSON BOOTSTRAP — the at-scale bootstrap: a true
  // with-replacement resample needs global coordination, so
  // production systems draw each row's multiplicity in resample b
  // i.i.d. Poisson(1) (Chamandy et al., "Estimating Uncertainty for
  // Massive Data Streams", Google 2012) and every statistic becomes
  // one map-side-combined pass. Randomness is the engine-shared hash
  // convention (ONE md5 of the salted event id → 60-bit int mod
  // 2³¹−1, then the minhash integer mix (1+2b)·h+(17+b) per
  // resample); multiplicity = inverse-CDF lookup of u = mix mod 10⁶
  // against the 6 fixed integer thresholds ⌊10⁶·CDF_Poisson(1)(k)⌋ =
  // 367879/735759/919699/981012/996340/999406 (documented constants
  // — no runtime libm). Statistic: mean purchase value in exact
  // centi-cents, (100·Σcx) div Σc through DECIMAL(38,0)/HUGEINT;
  // resample sums ship as decimal strings (no wrap horizon). lo/hi =
  // the 4th/29th order statistics of the 32 resample means (the
  // ⌈0.1·32⌉/⌈0.9·32⌉ percentile convention), tie-broken by b.
  //
  // Scale shape: ONE single-pass kernel with constant state (32
  // Long accumulator pairs, BigInt-folded every 4M rows), ≤32 rows
  // per partition out; everything downstream (the 32-row agg, the
  // rank window) is metadata. No row explosion, no second corpus
  // pass, no driver collect.
  private val BootstrapB = 32
  private val PoissonCdfPm = Array(367879L, 735759L, 919699L, 981012L, 996340L, 999406L)

  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val bN = BootstrapB
    val thr = PoissonCdfPm
    val statSchema = StructType(Seq(
      StructField("b", LongType), StructField("n", DecimalType(38, 0)),
      StructField("s", DecimalType(38, 0))))
    val FlushEvery = 4000000
    val parts = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), floor(col("value") * 100).cast("long").as("x"))
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val n = Array.fill(bN)(BigInt(0)); val nL = new Array[Long](bN)
        val sm = Array.fill(bN)(BigInt(0)); val sL = new Array[Long](bN)
        var sinceFlush = 0
        def flush(): Unit = {
          var b = 0
          while (b < bN) { n(b) += nL(b); nL(b) = 0L; sm(b) += sL(b); sL(b) = 0L; b += 1 }
          sinceFlush = 0
        }
        var any = false
        it.foreach { r =>
          any = true
          val h = Dedup.md5Mod(md, r.getLong(0).toString + ":bs", 2147483647L)
          val x = r.getLong(1)
          var b = 0
          while (b < bN) {
            val u = ((1L + 2L * b) * h + (17L + b)) % 2147483647L % 1000000L
            var c = 0L
            var j = 0
            while (j < thr.length) { if (u >= thr(j)) c += 1L; j += 1 }
            nL(b) += c; sL(b) += c * x
            b += 1
          }
          sinceFlush += 1
          if (sinceFlush == FlushEvery) flush()
        }
        flush()
        def dec(v: BigInt) = new java.math.BigDecimal(v.bigInteger)
        if (!any) Iterator.empty
        else (0 until bN).iterator.map(b => Row(b.toLong, dec(n(b)), dec(sm(b))))
      }(Encoders.row(statSchema))
    val agg = parts.groupBy(col("b"))
      .agg(sum(col("n")).as("nd"), sum(col("s")).as("sd"))
      .select(col("b"), col("nd").cast("long").as("n_events"),
        col("sd").cast("string").as("sum_cents"),
        expr("cast((cast(100 as decimal(38,0)) * sd) div greatest(nd, 1) as bigint)")
          .as("mean_cc"))
    val rnW = Window.orderBy(col("mean_cc"), col("b"))
    val full = rnW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg // 32-row frame: the rank window is metadata, never corpus
      .withColumn("rn", row_number().over(rnW))
      .withColumn("lo_cc", max(when(col("rn") === 4, col("mean_cc"))).over(full))
      .withColumn("hi_cc", max(when(col("rn") === 29, col("mean_cc"))).over(full))
      .select(col("b"), col("n_events"), col("sum_cents"), col("mean_cc"),
        col("lo_cc"), col("hi_cc"))
      .orderBy(col("b"))
  }

  val qBootstrapCiSql: String = {
    val cases = PoissonCdfPm
      .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH pu AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS x
       |  FROM events WHERE event_type = 'purchase'),
       |h AS (SELECT x, ('0x' || substr(md5(event_id::VARCHAR || ':bs'), 1, 15))::BIGINT
       |    % 2147483647 AS h FROM pu),
       |bs AS (SELECT bb.b AS b, x,
       |  ((1 + 2 * bb.b) * h + (17 + bb.b)) % 2147483647 % 1000000 AS u
       |  FROM h, (SELECT unnest(range($BootstrapB)) AS b) bb),
       |c AS (SELECT b, x, ($cases) AS c FROM bs),
       |a AS (SELECT b, CAST(sum(c) AS BIGINT) AS n_events,
       |  CAST(sum(c::HUGEINT * x) AS HUGEINT) AS s FROM c GROUP BY b),
       |m AS (SELECT CAST(b AS BIGINT) AS b, n_events, CAST(s AS VARCHAR) AS sum_cents,
       |  CAST((100::HUGEINT * s) // greatest(n_events, 1) AS BIGINT) AS mean_cc FROM a),
       |r AS (SELECT *, row_number() OVER (ORDER BY mean_cc, b) AS rn FROM m)
       |SELECT b, n_events, sum_cents, mean_cc,
       |  CAST(max(CASE WHEN rn = 4 THEN mean_cc END) OVER () AS BIGINT) AS lo_cc,
       |  CAST(max(CASE WHEN rn = 29 THEN mean_cc END) OVER () AS BIGINT) AS hi_cc
       |FROM r ORDER BY b""".stripMargin
  }

  // ---------------------------------------------------------------
  // WINSORIZED + TRIMMED MEAN — the robust-aggregation primitive: a
  // heavy-tailed metric's plain mean is one outlier away from
  // useless, so production reporting clamps at the 5th/95th
  // percentile (winsorize) or drops the tails (trim). Thresholds are
  // EXACT order statistics at ceil-ranks ⌈n/20⌉ and ⌈19n/20⌉ under
  // the total order (x, event_id) — the [[Temporal.qRfm]] tiebreak
  // discipline, so tie rows split identically on both engines and
  // n_trim = hi_rank − lo_rank − 1 structurally. All arithmetic
  // integer cents through DECIMAL(38,0)/HUGEINT; the winsorized sum
  // ships as a decimal string (no wrap horizon).
  //
  // Scale shape: two [[OrderStats]] rank fetches on ONE shared
  // range-partitioned frame (one exchange + P-row metadata reads —
  // no global sort window, no percentile_approx fuzz), then a single
  // conditional aggregate pass against the two broadcast threshold
  // literals. Output: one row.
  def qWinsorizedMean(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("n", LongType), StructField("t_lo", LongType),
      StructField("t_hi", LongType), StructField("wins_sum", StringType),
      StructField("wins_mean_cc", LongType), StructField("n_trim", LongType),
      StructField("trim_mean_cc", LongType)))
    val pu = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100).cast("long").as("x"), col("event_id"))
    val ranked = OrderStats.rank(pu, Seq("x", "event_id"))
    val n = ranked.total
    if (n == 0L) // degenerate-input rule: no purchases
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // both tail thresholds in ONE fetch job (OrderStats.kths, r18)
    val cuts = OrderStats.kths(ranked, Seq((n + 19) / 20, (19 * n + 19) / 20))
    val lo = cuts((n + 19) / 20)
    val hi = cuts((19 * n + 19) / 20)
    val (tlo, tlu) = (lo.getLong(0), lo.getLong(1))
    val (thi, thu) = (hi.getLong(0), hi.getLong(1))
    val dec = "decimal(38,0)"
    val inTrim = (col("x") > tlo || (col("x") === tlo && col("event_id") > tlu)) &&
      (col("x") < thi || (col("x") === thi && col("event_id") < thu))
    ranked.ranged
      .agg(count(lit(1)).as("n"),
        sum(least(greatest(col("x"), lit(tlo)), lit(thi)).cast(dec)).as("ws"),
        sum(when(inTrim, 1L).otherwise(0L)).as("n_trim"),
        sum(when(inTrim, col("x")).otherwise(0L).cast(dec)).as("ts"))
      .select(col("n"), lit(tlo).as("t_lo"), lit(thi).as("t_hi"),
        col("ws").cast("string").as("wins_sum"),
        expr(s"cast((cast(100 as $dec) * ws) div greatest(n, 1) as bigint)")
          .as("wins_mean_cc"),
        col("n_trim"),
        expr(s"cast((cast(100 as $dec) * ts) div greatest(n_trim, 1) as bigint)")
          .as("trim_mean_cc"))
  }

  val qWinsorizedMeanSql: String =
    """WITH pu AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS x
      |  FROM events WHERE event_type = 'purchase'),
      |nn AS (SELECT count(*) AS n FROM pu),
      |tlo AS (SELECT x AS tv, event_id AS tu FROM pu ORDER BY x, event_id
      |  LIMIT 1 OFFSET ((SELECT (n + 19) // 20 FROM nn) - 1)),
      |thi AS (SELECT x AS tv, event_id AS tu FROM pu ORDER BY x, event_id
      |  LIMIT 1 OFFSET ((SELECT (19 * n + 19) // 20 FROM nn) - 1)),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN x < tlo.tv THEN tlo.tv WHEN x > thi.tv THEN thi.tv
      |    ELSE x END::HUGEINT) AS HUGEINT) AS ws,
      |  CAST(count(*) FILTER ((x > tlo.tv OR (x = tlo.tv AND event_id > tlo.tu))
      |    AND (x < thi.tv OR (x = thi.tv AND event_id < thi.tu))) AS BIGINT) AS n_trim,
      |  CAST(sum(x::HUGEINT) FILTER ((x > tlo.tv OR (x = tlo.tv AND event_id > tlo.tu))
      |    AND (x < thi.tv OR (x = thi.tv AND event_id < thi.tu))) AS HUGEINT) AS ts,
      |  CAST(min(tlo.tv) AS BIGINT) AS t_lo, CAST(min(thi.tv) AS BIGINT) AS t_hi
      |  FROM pu, tlo, thi)
      |SELECT n, t_lo, t_hi, CAST(ws AS VARCHAR) AS wins_sum,
      |  CAST((100::HUGEINT * ws) // greatest(n, 1) AS BIGINT) AS wins_mean_cc,
      |  n_trim, CAST((100::HUGEINT * ts) // greatest(n_trim, 1) AS BIGINT) AS trim_mean_cc
      |FROM a""".stripMargin

  // ---------------------------------------------------------------
  // SPEARMAN RANK CORRELATION MATRIX — the robust twin of
  // [[qCorrPairs]]: Pearson on per-dimension ranks, the statistic a
  // feature-audit pipeline reaches for when raw values are
  // outlier-skewed. Ranks are EXACT and deterministic (total order
  // (sv, vec_id) — row_number semantics, ties broken by id, the
  // repo's ceil-rank convention), so both rankings are permutations
  // of 1..n and ρ = 1 − 6Σd²/(n(n²−1)) is a pure rational: Σd²
  // accumulates as integers, ρ gates as `rho_e6` through one
  // DECIMAL(38,0) floor-division on NON-NEGATIVE operands
  // ((2D − 6Σd²)·10⁶ ≥ 0 since Σd² ≤ D/3 — shifted by +1 so the
  // truncate-vs-floor engine split below zero never applies). Zero
  // libm, zero rounded doubles — the -0.0 class is structurally
  // impossible here.
  //
  // Scale shape: per-dimension ranks via the textbook DISTRIBUTED
  // rank (range-partition on (d, sv, vec_id) → per-(partition, dim)
  // counts to the driver (P·dim metadata rows) → broadcast prefix
  // offsets → partition-local sorted counting) — NO per-dim global
  // window (a 64-partition window is 64 single-task sorts of n rows
  // each: the plan shape that cannot survive 100×). The Σd² pass is
  // the [[qCorrPairs]] constant-state kernel: per-vector rank
  // arrays → 2016 Long accumulators with BigInt overflow flushes,
  // partials map-side-combined by (da, db).
  /** EXACT per-dimension ranks of the µ-scaled embedding values,
    * distributed: (vec_id, d, r) under the total order (sv, vec_id)
    * within each of the first `dims` dimensions, plus the corpus row
    * count. No per-dim global window (64 single-task n-row sorts
    * cannot survive 100×) — instead the textbook distributed rank:
    * range-partition on (d, sv, vec_id), per-(partition, dim) counts
    * to the driver (P·dims metadata rows), broadcast prefix offsets,
    * partition-local sorted counting. Shared by [[qRankCorr]] and
    * [[qKendallGamma]]. */
  private def dimRanks(s: SparkSession, dir: String, dims: Int): (DataFrame, Long) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val ex = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .filter(col("d") < dims)
      .select(col("vec_id"), col("d").cast("long").as("d"),
        round(col("x") * 1000000).cast("long").as("sv"))
    val p = s.sparkContext.defaultParallelism
    val ranged = ex.repartitionByRange(p, col("d"), col("sv"), col("vec_id"))
      .localCheckpoint() // freeze sampled boundaries for both passes
    // pass 1: per-(partition, dim) counts — P·dims metadata rows
    val cnts = ranged
      .groupBy(spark_partition_id().as("pid"), col("d")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val n = cnts.map(_._3).sum / dims
    val offsets: Map[(Int, Long), Long] = cnts.groupBy(_._2).iterator.flatMap {
      case (dim, rows) =>
        var cum = 0L
        rows.sortBy(_._1).map { case (pid, _, c) =>
          val off = cum; cum += c; ((pid, dim), off)
        }
    }.toMap
    val bOff = s.sparkContext.broadcast(offsets)
    val rankSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("d", LongType),
      StructField("sv", LongType), StructField("r", LongType)))
    // pass 2: partition-local sorted counting + broadcast offset
    val ranks = ranged
      .sortWithinPartitions(col("d"), col("sv"), col("vec_id"))
      .withColumn("__pid", spark_partition_id())
      .mapPartitions { it =>
        val off = bOff.value
        var curD = Long.MinValue
        var local = 0L
        var base = 0L
        it.map { row =>
          val dim = row.getLong(1)
          if (dim != curD) {
            curD = dim; local = 0L
            base = off.getOrElse((row.getInt(3), dim), 0L)
          }
          local += 1L
          Row(row.getLong(0), dim, row.getLong(2), base + local)
        }
      }(Encoders.row(rankSchema))
    (ranks, n)
  }

  def qRankCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val d = Vectors.Dim
    val nPairs = d * (d - 1) / 2
    val (ranks, _) = dimRanks(s, dir, d)
    // per-vector rank array (64 fixed entries), then the Σd² kernel
    val arr = ranks.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("r")))),
        c => c.getField("r")).as("rs"))
    val statSchema = StructType(Seq(
      StructField("da", LongType), StructField("db", LongType),
      StructField("v", DecimalType(38, 0))))
    val stats = arr.select(col("rs"))
      .mapPartitions { it =>
        val sd2 = Array.fill(nPairs)(BigInt(0)); val sd2L = new Array[Long](nPairs)
        val rv = new Array[Long](d)
        var n = 0L; var sinceFlush = 0
        val FlushEvery = 4000000
        def flush(): Unit = {
          var i = 0
          while (i < nPairs) { sd2(i) += sd2L(i); sd2L(i) = 0L; i += 1 }
          sinceFlush = 0
        }
        it.foreach { r =>
          val rs = r.getSeq[Long](0)
          var i = 0
          while (i < d) { rv(i) = rs(i); i += 1 }
          var a = 0; var k = 0
          while (a < d) {
            var b = a + 1
            while (b < d) {
              val diff = rv(a) - rv(b)
              sd2L(k) += diff * diff; k += 1; b += 1
            }
            a += 1
          }
          n += 1; sinceFlush += 1
          if (sinceFlush == FlushEvery) flush()
        }
        flush()
        def dec(x: BigInt) = new java.math.BigDecimal(x.bigInteger)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        if (n > 0L) {
          out += Row(-1L, -1L, dec(BigInt(n)))
          var a = 0; var k = 0
          while (a < d) {
            var b = a + 1
            while (b < d) { out += Row(a.toLong, b.toLong, dec(sd2(k))); k += 1; b += 1 }
            a += 1
          }
        }
        out.iterator
      }(Encoders.row(statSchema))
      .groupBy(col("da"), col("db")).agg(sum(col("v")).as("v"))
      .localCheckpoint()
    val n = stats.filter(col("da") === -1L).select(col("v").as("nv"))
    stats.filter(col("da") >= 0L)
      .select(col("da"), col("db"), col("v").as("sum_d2"))
      .crossJoin(broadcast(n))
      // D = n(n²−1); rho_e6 = ((2D − 6Σd²)·10⁶) div D − 10⁶, all
      // operands non-negative DECIMAL(38,0) (truncate == floor)
      .withColumn("dd", expr("nv * (nv * nv - 1)"))
      .select(col("da"), col("db"), col("nv").cast("long").as("n"),
        // Σd² ≤ n³/3 passes Long at ~3.0M vectors — ships as a
        // decimal STRING (the qAucByGroup convention, r13 advice) so
        // the value has no wrap horizon on either engine
        col("sum_d2").cast("string").as("sum_d2"),
        expr("cast(((2 * dd - 6 * sum_d2) * 1000000) div dd as bigint) - 1000000")
          .as("rho_e6"))
      .orderBy(col("da"), col("db"))
  }

  val qRankCorrSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${Vectors.Dim})) AS d) d),
       |rk AS (SELECT vec_id, d,
       |  CAST(row_number() OVER (PARTITION BY d ORDER BY sv, vec_id) AS BIGINT) AS r
       |  FROM ex),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |p AS (SELECT a.d AS da, b.d AS db,
       |    sum((a.r - b.r)::HUGEINT * (a.r - b.r)) AS sum_d2
       |  FROM rk a JOIN rk b ON a.vec_id = b.vec_id AND a.d < b.d GROUP BY 1, 2)
       |SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db, n,
       |  CAST(sum_d2 AS VARCHAR) AS sum_d2,
       |  CAST((2::HUGEINT * n * (n::HUGEINT * n - 1) - 6 * sum_d2) * 1000000
       |    // (n::HUGEINT * (n::HUGEINT * n - 1)) - 1000000 AS BIGINT) AS rho_e6
       |FROM p, nn ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------
  // KENDALL-FAMILY CONCORDANCE (Goodman–Kruskal gamma on a rank
  // grid) — the pair-orientation complement to [[qRankCorr]]:
  // Spearman weighs rank DISTANCE, gamma counts pure pair
  // ORIENTATION (concordant vs discordant). Exact Kendall τ needs a
  // per-pair inversion count — O(n log n) merge machinery per dim
  // pair, infeasible×2016 at corpus scale — so production feature
  // audits compute concordance over a Q×Q rank-bucket contingency
  // grid: bucket q = (r−1)·Q div n from the exact distributed rank
  // (balanced by construction, no quantile estimation), then
  // C = Σ n₁n₂ over strictly-SE cell pairs, D over strictly-SW.
  // γ = (C−D)/(C+D) gates as the shifted integer quotient
  // (2C·10⁶) div (C+D) − 10⁶ (non-negative operands; no doubles, no
  // -0.0 class). First 16 dims (120 pairs) keep the grid-join
  // volume ~120·Q⁴/4 cell comparisons — pure metadata.
  //
  // Scale shape: ranks via [[dimRanks]] (no global window); the grid
  // is built by a constant-state kernel (120·Q² = 30 720 Long
  // counters per task, map-side combined) — the corpus is read ONCE
  // and nothing corpus-sized shuffles; the C/D roll-up is a
  // broadcast self-join of the 30 720-row cell table.
  private val GammaDims = 16
  private val GammaQ = 16

  def qKendallGamma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val dims = GammaDims; val q = GammaQ
    val nPairs = dims * (dims - 1) / 2
    val (ranks, n) = dimRanks(s, dir, dims)
    val arr = ranks.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("r")))),
        c => c.getField("r")).as("rs"))
    val cellSchema = StructType(Seq(
      StructField("da", LongType), StructField("db", LongType),
      StructField("qa", LongType), StructField("qb", LongType),
      StructField("cnt", LongType)))
    val cells = arr.select(col("rs"))
      .mapPartitions { it =>
        val counters = new Array[Long](nPairs * q * q)
        val qv = new Array[Int](dims)
        it.foreach { r =>
          val rs = r.getSeq[Long](0)
          var i = 0
          while (i < dims) { qv(i) = (((rs(i) - 1L) * q) / n).toInt; i += 1 }
          var a = 0; var k = 0
          while (a < dims) {
            var b = a + 1
            while (b < dims) {
              counters(k * q * q + qv(a) * q + qv(b)) += 1L
              k += 1; b += 1
            }
            a += 1
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var a = 0; var k = 0
        while (a < dims) {
          var b = a + 1
          while (b < dims) {
            var ca = 0
            while (ca < q) {
              var cb = 0
              while (cb < q) {
                val c = counters(k * q * q + ca * q + cb)
                if (c > 0L) out += Row(a.toLong, b.toLong, ca.toLong, cb.toLong, c)
                cb += 1
              }
              ca += 1
            }
            k += 1; b += 1
          }
          a += 1
        }
        out.iterator
      }(Encoders.row(cellSchema))
      .groupBy(col("da"), col("db"), col("qa"), col("qb"))
      .agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint() // ≤ 30 720 rows; feeds both sides of the grid join
    val c2 = cells.select(col("da").as("da2"), col("db").as("db2"),
      col("qa").as("qa2"), col("qb").as("qb2"), col("cnt").as("cnt2"))
    val dec = "decimal(38,0)"
    // The grid join is CPU-heavy but tiny in bytes (30 720 rows →
    // ~Q²/4 comparisons each): AQE coalesces it to ONE task
    // (measured 3.1s single-task at sf0.1) — pin the width on the
    // roll-up keys so the groupBy shares the exchange. Per-cell
    // products stay in LONG (cnt·cnt2 ≤ n² ≪ 2⁶³; decimal multiply
    // measured 5× slower via Decimal.changePrecision); only the
    // ≤Q²-term per-pair SUM widens to decimal.
    cells.repartition(s.sparkContext.defaultParallelism, col("da"), col("db"))
      .join(broadcast(c2), col("da") === col("da2") && col("db") === col("db2"))
      .groupBy(col("da"), col("db"))
      .agg(
        sum(when(col("qa2") > col("qa") && col("qb2") > col("qb"),
          col("cnt") * col("cnt2")).otherwise(lit(0L)).cast(dec)).as("c_cnt"),
        sum(when(col("qa2") > col("qa") && col("qb2") < col("qb"),
          col("cnt") * col("cnt2")).otherwise(lit(0L)).cast(dec)).as("d_cnt"))
      .select(col("da"), col("db"), lit(n).as("n"),
        col("c_cnt").cast("long").as("c_cnt"),
        col("d_cnt").cast("long").as("d_cnt"),
        expr("cast((2 * c_cnt * 1000000) div greatest(c_cnt + d_cnt, 1) as bigint) - 1000000")
          .as("gamma_e6"))
      .orderBy(col("da"), col("db"))
  }

  val qKendallGammaSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range($GammaDims)) AS d) d),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |rk AS (SELECT vec_id, d,
       |  CAST(row_number() OVER (PARTITION BY d ORDER BY sv, vec_id) AS BIGINT) AS r
       |  FROM ex),
       |bk AS (SELECT vec_id, d, CAST((r - 1) * $GammaQ // n AS BIGINT) AS q FROM rk, nn),
       |cells AS (SELECT a.d AS da, b.d AS db, a.q AS qa, b.q AS qb,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM bk a JOIN bk b ON a.vec_id = b.vec_id AND a.d < b.d GROUP BY 1, 2, 3, 4),
       |cd AS (SELECT c1.da, c1.db,
       |    CAST(sum(CASE WHEN c2.qa > c1.qa AND c2.qb > c1.qb
       |      THEN c1.cnt::HUGEINT * c2.cnt ELSE 0 END) AS HUGEINT) AS c_cnt,
       |    CAST(sum(CASE WHEN c2.qa > c1.qa AND c2.qb < c1.qb
       |      THEN c1.cnt::HUGEINT * c2.cnt ELSE 0 END) AS HUGEINT) AS d_cnt
       |  FROM cells c1 JOIN cells c2 ON c1.da = c2.da AND c1.db = c2.db GROUP BY 1, 2)
       |SELECT da, db, n, CAST(c_cnt AS BIGINT) AS c_cnt, CAST(d_cnt AS BIGINT) AS d_cnt,
       |  CAST((2::HUGEINT * c_cnt * 1000000) // greatest(c_cnt + d_cnt, 1) - 1000000 AS BIGINT)
       |    AS gamma_e6
       |FROM cd, nn ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------
  // NEAR-ZERO-VARIANCE FEATURE SCREEN — the first feature-audit
  // pass every training pipeline runs: per embedding dimension, the
  // exact integer moments over the µ-scaled values and the variance
  // in µ² units, flagging dimensions whose spread collapsed (a dead
  // feature: an encoder bug, a constant pad, a clipped channel).
  // Everything gates as integers: mean as a sign-split µ quotient
  // (div is truncate-vs-floor-split below zero, so negatives go
  // through -((-sx) div n) — the sim_label_drift discipline),
  // variance as (n·Σx² − (Σx)²) div n² ≥ 0 by Cauchy–Schwarz. Scale
  // shape: ONE map-side-combined groupBy over the posexploded scan
  // to |dims| metadata rows; nothing else moves.
  private val VarFloorMicro2 = 1000000L // 0.001² in µ² units

  def qVarianceFilter(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("d", "x")))
      .select(col("d").cast("long").as("d"),
        round(col("x") * 1000000).cast("long").as("sv"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("sv").cast(dec)).as("sx"),
        sum(col("sv").cast(dec) * col("sv")).as("sxx"))
      .select(col("d"), col("n"),
        expr(s"cast(CASE WHEN sx >= 0 THEN sx div n ELSE -((-sx) div n) END as bigint)")
          .as("mean_micro"),
        expr(s"cast((n * sxx - sx * sx) div (cast(n as $dec) * n) as bigint)")
          .as("var_micro2"))
      .withColumn("near_zero",
        when(col("var_micro2") < VarFloorMicro2, 1L).otherwise(0L))
      .orderBy(col("d"))
  }

  val qVarianceFilterSql: String =
    s"""WITH ex AS (SELECT d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings) e,
       |       (SELECT unnest(range(${Vectors.Dim})) AS d) d),
       |m AS (SELECT d, CAST(count(*) AS BIGINT) AS n, sum(sv::HUGEINT) AS sx,
       |    sum(sv::HUGEINT * sv) AS sxx FROM ex GROUP BY d)
       |SELECT CAST(d AS BIGINT) AS d, n,
       |  CAST(CASE WHEN sx >= 0 THEN sx // n ELSE -((-sx) // n) END AS BIGINT) AS mean_micro,
       |  CAST((n::HUGEINT * sxx - sx * sx) // (n::HUGEINT * n) AS BIGINT) AS var_micro2,
       |  CASE WHEN (n::HUGEINT * sxx - sx * sx) // (n::HUGEINT * n) < $VarFloorMicro2
       |    THEN 1::BIGINT ELSE 0::BIGINT END AS near_zero
       |FROM m ORDER BY d""".stripMargin

  // ---------------------------------------------------------------
  // GROUPED EXACT AUC — [[qAucExact]] per evaluation SLICE, the
  // fairness/robustness audit a model gate actually reads: a global
  // AUC of 0.8 can hide a slice at 0.5 (the classic aggregate-masks-
  // subgroup failure), so per-slice ranking quality ships next to
  // the headline number. Slice g = label mod 5 pairs positive class
  // g against negative class g+5 — every slice has both outcomes by
  // construction. Same exact machinery as the global query
  // (concordant/tied pair counts via the distributed prefix-sum —
  // never an n² pair join), generalized: range-partition on (g, s),
  // per-(partition, group) negative counts to the driver (P·|g|
  // metadata), broadcast WITHIN-GROUP prefix offsets, one
  // partition-local pass with per-group accumulators. AUC gates as
  // the exact integer (10⁶(2c+t)) div (2·n₊n₋) — no doubles.
  def qAucByGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    import org.apache.spark.TaskContext
    val p = s.sparkContext.defaultParallelism
    val e = Tables.embeddings(s, dir).select(
      (col("label") % 5).cast("long").as("g"),
      when(col("label") < 5, 1L).otherwise(0L).as("y"),
      col("embedding").cast("array<double>").as("v"))
    val scoreSchema = StructType(Seq(
      StructField("g", LongType), StructField("y", LongType),
      StructField("s", LongType)))
    val scored = e.repartition(p)
      .mapPartitions { it =>
        it.map { r =>
          val v = r.getSeq[Double](2)
          var acc = 0L
          var i = 0
          while (i < v.length) {
            acc += Vectors.roundJvm(v(i) * 1000000d, 0).toLong
            i += 1
          }
          Row(r.getLong(0), r.getLong(1), acc)
        }
      }(Encoders.row(scoreSchema))
    val grouped = scored.groupBy(col("g"), col("s")).agg(
      sum(col("y")).as("n_pos"), sum(lit(1L) - col("y")).as("n_neg"))
    val ranged = grouped.repartitionByRange(p, col("g"), col("s")).localCheckpoint()
    val partNeg = ranged
      .groupBy(spark_partition_id().as("pid"), col("g")).agg(sum(col("n_neg")).as("neg"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val offsets: Map[(Int, Long), Long] = partNeg.groupBy(_._2).iterator.flatMap {
      case (g, rows) =>
        var below = 0L
        rows.sortBy(_._1).map { case (pid, _, c) =>
          val off = below; below += c; ((pid, g), off)
        }
    }.toMap
    val bc = s.sparkContext.broadcast(offsets)
    val partSchema = StructType(Seq(
      StructField("g", LongType),
      StructField("np", LongType), StructField("nn", LongType),
      StructField("c", DecimalType(38, 0)), StructField("t", DecimalType(38, 0))))
    val parts = ranged.sortWithinPartitions(col("g"), col("s"))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val off = bc.value
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        var curG = Long.MinValue
        var cum = BigInt(0); var c = BigInt(0); var t = BigInt(0)
        var np = 0L; var nn = 0L
        def dec(x: BigInt) = new java.math.BigDecimal(x.bigInteger)
        def flush(): Unit =
          if (curG != Long.MinValue) out += Row(curG, np, nn, dec(c), dec(t))
        it.foreach { r =>
          val g = r.getLong(0)
          if (g != curG) {
            flush()
            curG = g; cum = BigInt(off.getOrElse((pid, g), 0L))
            c = BigInt(0); t = BigInt(0); np = 0L; nn = 0L
          }
          val pos = r.getLong(2); val neg = r.getLong(3)
          c += BigInt(pos) * cum
          t += BigInt(pos) * BigInt(neg)
          np += pos; nn += neg; cum += neg
        }
        flush()
        out.iterator
      }(Encoders.row(partSchema))
    parts.groupBy(col("g")).agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("c")).as("c"), sum(col("t")).as("t"))
      .select(col("g"), col("n_pos"), col("n_neg"),
        col("c").cast("string").as("concordant"), col("t").cast("string").as("tied"),
        expr("cast((cast(1000000 as decimal(38,0)) * (2 * c + t))" +
          " div greatest(cast(2 as decimal(38,0)) * n_pos * n_neg, 1) as bigint)")
          .as("auc_ppm"))
      .orderBy(col("g"))
  }

  val qAucByGroupSql: String =
    s"""WITH e AS (SELECT vec_id, label % 5 AS g,
       |  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, min(g) AS g, min(y) AS y,
       |  CAST(sum(CAST(round(v[d.d + 1] * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d
       |  GROUP BY vec_id),
       |gg AS (SELECT g, s, CAST(sum(y) AS BIGINT) AS n_pos,
       |  CAST(sum(1 - y) AS BIGINT) AS n_neg FROM ex GROUP BY g, s),
       |w AS (SELECT g, n_pos, n_neg, CAST(coalesce(sum(n_neg) OVER (PARTITION BY g
       |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS cb
       |  FROM gg),
       |t AS (SELECT g, CAST(sum(n_pos) AS HUGEINT) AS np, CAST(sum(n_neg) AS HUGEINT) AS nn,
       |  CAST(coalesce(sum(n_pos::HUGEINT * cb), 0) AS HUGEINT) AS c,
       |  CAST(coalesce(sum(n_pos::HUGEINT * n_neg), 0) AS HUGEINT) AS t FROM w GROUP BY g)
       |SELECT CAST(g AS BIGINT) AS g, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |  CAST(c AS VARCHAR) AS concordant, CAST(t AS VARCHAR) AS tied,
       |  CAST((1000000::HUGEINT * (2 * c + t)) // greatest(2 * np * nn, 1) AS BIGINT) AS auc_ppm
       |FROM t ORDER BY g""".stripMargin

  // ---------------------------------------------------------------
  // TWO-SAMPLE KOLMOGOROV–SMIRNOV — the distribution-shift test a
  // pipeline runs between two event populations (here view vs click
  // purchase values): D = max_v |F₁(v) − F₂(v)|, EXACT as a rational
  // over the common denominator n₁n₂ — D_num = max|c₁n₂ − c₂n₁|
  // over cumulative counts at each distinct value, gated as
  // d_ppm = 10⁶·D_num div (n₁n₂) plus the argmax value (min-value
  // tiebreak). No doubles, no libm, no distributional approximation.
  //
  // Scale shape: the corpus collapses MAP-SIDE to the distinct-value
  // histogram (values are cents in a bounded domain — ≤ ~49k rows of
  // metadata at any corpus size), so the one unpartitioned
  // cumulative window runs on a value-domain-bounded frame, never on
  // corpus rows — the same bounded-window argument as the Zipf/
  // bootstrap tables. The argmax gates through one orderBy+limit on
  // that same metadata frame.
  def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click"))
      .select((col("event_type") === "view").as("is1"),
        round(col("value") * 100).cast("long").as("cent"))
    val h = ev.groupBy(col("cent")).agg(
      sum(when(col("is1"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("is1"), 1L).otherwise(0L)).as("c2"))
    val w = Window.orderBy(col("cent")).rowsBetween(Window.unboundedPreceding, 0)
    val tot = h.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val dec = "decimal(38,0)"
    h.select(col("cent"), sum(col("c1")).over(w).as("f1"), sum(col("c2")).over(w).as("f2"))
      .crossJoin(broadcast(tot))
      .select(col("cent"), col("n1"), col("n2"),
        abs(expr(s"cast(f1 as $dec) * n2 - cast(f2 as $dec) * n1")).as("d_num"))
      .orderBy(col("d_num").desc, col("cent"))
      .limit(1)
      .select(col("n1"), col("n2"), col("d_num").cast("long").as("d_num"),
        col("cent").as("at_cent"),
        expr(s"cast((cast(1000000 as $dec) * d_num)" +
          s" div greatest(cast(n1 as $dec) * n2, 1) as bigint)").as("d_ppm"))
  }

  val qKsTestSql: String =
    """WITH ev AS (SELECT event_type = 'view' AS is1,
      |    CAST(round(value * 100) AS BIGINT) AS cent
      |  FROM events WHERE event_type IN ('view', 'click')),
      |h AS (SELECT cent, CAST(count(*) FILTER (is1) AS BIGINT) AS c1,
      |    CAST(count(*) FILTER (NOT is1) AS BIGINT) AS c2
      |  FROM ev GROUP BY cent),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM h),
      |cum AS (SELECT cent,
      |    sum(c1) OVER (ORDER BY cent ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
      |    sum(c2) OVER (ORDER BY cent ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      |  FROM h),
      |d AS (SELECT cent, n1, n2, abs(f1::HUGEINT * n2 - f2::HUGEINT * n1) AS d_num
      |  FROM cum, tot),
      |top AS (SELECT * FROM d ORDER BY d_num DESC, cent LIMIT 1)
      |SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num, cent AS at_cent,
      |  CAST((1000000::HUGEINT * d_num) // greatest(n1::HUGEINT * n2, 1) AS BIGINT) AS d_ppm
      |FROM top""".stripMargin

  // ---------------------------------------------------------------
  // EQUAL-FREQUENCY QUANTILE BINS — the feature-discretization table
  // (decile cuts per embedding dimension) a training pipeline
  // materializes once and broadcasts into every binning pass:
  // cut k = the value at ceil-rank ⌈k·n/Q⌉ under the (µ-scaled
  // value, vec_id) total order — the repo's positional convention,
  // never an interpolated quantile (percentile_approx has no
  // cross-engine identity). Scale shape: [[dimRanks]]' distributed
  // ranking, then ONE broadcast join of the 64·(Q−1)-row literal
  // boundary table against the rank frame — exactly Q−1 rows leave
  // per dimension; no sort ever sees more than a partition.
  private val BinQ = 10

  def qQuantileBins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (ranks, n) = dimRanks(s, dir, Vectors.Dim)
    val bounds = (1 until BinQ)
      .map(k => ((k.toLong * n + BinQ - 1) / BinQ, k.toLong)).toDF("r", "k")
    ranks.join(broadcast(bounds), "r")
      .select(col("d"), col("k"), col("r").as("cut_rank"), col("sv").as("cut_sv"))
      .orderBy(col("d"), col("k"))
  }

  val qQuantileBinsSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, d.d AS d,
       |  CAST(round(v[d.d + 1] * 1000000) AS BIGINT) AS sv
       |  FROM e, (SELECT unnest(range(${Vectors.Dim})) AS d) d),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |rk AS (SELECT d, sv,
       |  CAST(row_number() OVER (PARTITION BY d ORDER BY sv, vec_id) AS BIGINT) AS r
       |  FROM ex),
       |b AS (SELECT CAST(k AS BIGINT) AS k, (k * n + $BinQ - 1) // $BinQ AS r
       |  FROM (SELECT unnest(range(1, $BinQ)) AS k) ks, nn)
       |SELECT CAST(rk.d AS BIGINT) AS d, b.k, CAST(rk.r AS BIGINT) AS cut_rank,
       |  rk.sv AS cut_sv
       |FROM rk JOIN b ON rk.r = b.r ORDER BY d, k""".stripMargin

  // ---------------------------------------------------------------
  // CUMULATIVE GAINS / LIFT TABLE — the ranking-evaluation table a
  // targeting or data-selection pipeline reads instead of a bare
  // AUC: sort by model score DESCENDING, cut into deciles, and ask
  // "how many positives has the top k/10 captured, and at what lift
  // over random?". Deciles come from an exact per-row rank under the
  // total order (score desc, vec_id) — the [[dimRanks]] distributed
  // ranking on a single dimension (range-partition, P metadata
  // counters, broadcast offsets, partition-local counting; no global
  // window). Gains/lift gate as exact integer quotients:
  // gain_ppm = 10⁶·cum_pos div total_pos,
  // lift_pm = 10³·cum_pos·n div (cum_rows·total_pos) — all operands
  // non-negative. The cumulative pass runs on the 10-row decile
  // frame (pure metadata).
  def qGainsTable(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    import org.apache.spark.TaskContext
    val p = s.sparkContext.defaultParallelism
    val e = Tables.embeddings(s, dir).select(
      col("vec_id"),
      when(col("label") < 5, 1L).otherwise(0L).as("y"),
      col("embedding").cast("array<double>").as("v"))
    val scoreSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("y", LongType),
      StructField("negs", LongType)))
    val scored = e.repartition(p)
      .mapPartitions { it =>
        it.map { r =>
          val v = r.getSeq[Double](2)
          var acc = 0L
          var i = 0
          while (i < v.length) {
            acc += Vectors.roundJvm(v(i) * 1000000d, 0).toLong
            i += 1
          }
          Row(r.getLong(0), r.getLong(1), -acc) // negate: rank = score desc
        }
      }(Encoders.row(scoreSchema))
    val ranged = scored.repartitionByRange(p, col("negs"), col("vec_id"))
      .localCheckpoint()
    val partCnt = ranged
      .groupBy(spark_partition_id().as("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = partCnt.map(_._2).sum
    var below = 0L
    val offsets: Map[Int, Long] = partCnt.map { case (pid, c) =>
      val entry = pid -> below; below += c; entry
    }.toMap
    val bc = s.sparkContext.broadcast(offsets)
    val decSchema = StructType(Seq(
      StructField("decile", LongType), StructField("y", LongType)))
    val deciled = ranged.sortWithinPartitions(col("negs"), col("vec_id"))
      .mapPartitions { it =>
        var r = bc.value.getOrElse(TaskContext.getPartitionId(), 0L)
        it.map { row =>
          r += 1L
          Row((r - 1L) * 10L / n, row.getLong(1))
        }
      }(Encoders.row(decSchema))
    val byDec = deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_rows"), sum(col("y")).as("n_pos"))
    val w = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, 0)
    val dec = "decimal(38,0)"
    byDec // 10-row metadata frame: the window is k-bounded
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(byDec.agg(sum(col("n_pos")).as("tot_pos"),
        sum(col("n_rows")).as("tot_rows"))))
      .select(col("decile"), col("n_rows"), col("n_pos"),
        col("cum_rows"), col("cum_pos"),
        expr(s"cast((cast(1000000 as $dec) * cum_pos)" +
          s" div greatest(tot_pos, 1) as bigint)").as("gain_ppm"),
        expr(s"cast((cast(1000 as $dec) * cum_pos * tot_rows)" +
          s" div greatest(cast(cum_rows as $dec) * tot_pos, 1) as bigint)").as("lift_pm"))
      .orderBy(col("decile"))
  }

  val qGainsTableSql: String =
    s"""WITH e AS (SELECT vec_id, CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT vec_id, min(y) AS y,
       |  CAST(sum(CAST(round(v[d.d + 1] * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM e, (SELECT unnest(range(${graft.functions.Vectors.Dim})) AS d) d
       |  GROUP BY vec_id),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ex),
       |rk AS (SELECT y, CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS r
       |  FROM ex),
       |dd AS (SELECT (r - 1) * 10 // n AS decile, y FROM rk, nn),
       |g AS (SELECT CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(y) AS BIGINT) AS n_pos FROM dd GROUP BY decile),
       |c AS (SELECT decile, n_rows, n_pos,
       |  CAST(sum(n_rows) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS BIGINT) AS cum_rows,
       |  CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
       |    AND CURRENT ROW) AS BIGINT) AS cum_pos
       |  FROM g),
       |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
       |  CAST(sum(n_rows) AS BIGINT) AS tot_rows FROM g)
       |SELECT decile, n_rows, n_pos, cum_rows, cum_pos,
       |  CAST((1000000::HUGEINT * cum_pos) // greatest(tot_pos, 1) AS BIGINT) AS gain_ppm,
       |  CAST((1000::HUGEINT * cum_pos * tot_rows)
       |    // greatest(cum_rows::HUGEINT * tot_pos, 1) AS BIGINT) AS lift_pm
       |FROM c, t ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  // EXACT MATTHEWS CORRELATION — the single-number classifier score
  // that survives class imbalance (accuracy and F1 both lie when one
  // class dominates; MCC is the φ coefficient of the 2×2 confusion
  // table). MCC itself needs a square root (libm, banned from
  // gates), so it ships in the house rational form: the SIGN of
  // TP·TN − FP·FN plus MCC² = (TP·TN−FP·FN)² div (four marginal
  // products) in ppm — together they carry exactly the information
  // MCC does, and near-zero correlations gate exactly instead of
  // hitting the -0.0 class. Classifier under audit: the zero-
  // threshold score sign (predict positive when Σ µ-ints ≥ 0) vs
  // y = label < 5. Scale shape: ONE map-side-combined aggregate over
  // the score kernel — four counters at any corpus size.
  def qMccExact(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val scored = scoredMargin(s, dir) // (y, s = Σ round(x·1e6))
    scored.agg(
        sum(when(col("y") === 1L && col("s") >= 0L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0L && col("s") >= 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 0L && col("s") < 0L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1L && col("s") < 0L, 1L).otherwise(0L)).as("fn"))
      .withColumn("num",
        expr(s"cast(tp as $dec) * tn - cast(fp as $dec) * fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        signum(col("num")).cast("long").as("mcc_sign"),
        expr(s"cast((num * num * 1000000) div greatest(" +
          s"cast(tp + fp as $dec) * (tp + fn) * (tn + fp) * (tn + fn), 1) as bigint)")
          .as("mcc2_ppm"))
  }

  val qMccExactSql: String =
    s"""WITH e AS (SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
       |  embedding::DOUBLE[] AS v FROM embeddings),
       |ex AS (SELECT y,
       |  CAST(list_aggregate(list_transform(range(${graft.functions.Vectors.Dim}),
       |    d -> CAST(round(v[d + 1] * 1000000) AS BIGINT)), 'sum') AS BIGINT) AS s
       |  FROM e),
       |c AS (SELECT
       |  CAST(count(*) FILTER (y = 1 AND s >= 0) AS BIGINT) AS tp,
       |  CAST(count(*) FILTER (y = 0 AND s >= 0) AS BIGINT) AS fp,
       |  CAST(count(*) FILTER (y = 0 AND s < 0) AS BIGINT) AS tn,
       |  CAST(count(*) FILTER (y = 1 AND s < 0) AS BIGINT) AS fn FROM ex),
       |n AS (SELECT tp, fp, tn, fn, tp::HUGEINT * tn - fp::HUGEINT * fn AS num FROM c)
       |SELECT tp, fp, tn, fn,
       |  CAST(sign(num) AS BIGINT) AS mcc_sign,
       |  CAST((num * num * 1000000) // greatest(
       |    (tp + fp)::HUGEINT * (tp + fn) * (tn + fp) * (tn + fn), 1) AS BIGINT) AS mcc2_ppm
       |FROM n""".stripMargin

  // ---------------------------------------------------------------
  // STRATIFIED TREATMENT-EFFECT ESTIMATE — the post-stratification
  // companion to temporal_did and the standard confounding audit: a
  // simulated rollout whose assignment RATE VARIES BY STRATUM
  // (event_type; md5 of event_id + ':ate', rates 30–70% — the
  // deterministic analogue of a staged rollout that treated noisy
  // segments more), so the naive pooled treated-vs-control contrast
  // (the 'ALL' row) mixes the treatment effect with the stratum
  // composition — Simpson's arithmetic, readable right off the gated
  // rows. Adjustment = the per-stratum contrasts. Every effect is an
  // EXACT RATIONAL: eff = s_t/n_t − s_c/n_c shipped as num/den
  // strings through decimal(38,0)/HUGEINT (sign is data-dependent —
  // never a rounded double; the temporal_did convention). Overflow
  // ceiling: |num| ≤ Σcents·n ≈ 1e12·1e9 = 1e21 per stratum — holds
  // far past sf100. One map-side aggregate per scope; no shuffle
  // beyond the 6-row union.
  def qStratifiedAte(s: SparkSession, dir: String): DataFrame = {
    val rate = expr("CASE event_type WHEN 'click' THEN 30 WHEN 'view' THEN 40 " +
      "WHEN 'purchase' THEN 50 WHEN 'signup' THEN 60 ELSE 70 END")
    val e = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type").as("stratum"),
        round(col("value") * 100).cast("long").as("cents"),
        (conv(substring(md5(concat(col("event_id").cast("string"), lit(":ate"))), 1, 15), 16, 10)
          .cast("long") % 100 < rate).cast("long").as("t"))
      .localCheckpoint()
    def cellsOf(df: DataFrame, scopeCol: org.apache.spark.sql.Column) = df
      .groupBy(scopeCol.as("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("n_t"),
        sum(col("t") * col("cents")).as("s_t"),
        (count(lit(1)) - sum(col("t"))).as("n_c"),
        sum((lit(1L) - col("t")) * col("cents")).as("s_c"))
    val d38 = "decimal(38,0)"
    cellsOf(e, col("stratum")).unionAll(cellsOf(e, lit("ALL")))
      .select(col("stratum"), col("n"), col("n_t"), col("s_t"), col("n_c"), col("s_c"),
        (col("s_t").cast(d38) * col("n_c") - col("s_c").cast(d38) * col("n_t"))
          .cast("string").as("eff_num"),
        (col("n_t").cast(d38) * col("n_c")).cast("string").as("eff_den"))
      .orderBy(col("stratum"))
  }

  val qStratifiedAteSql: String =
    """WITH e AS (
      |  SELECT event_type AS stratum, CAST(round(value * 100) AS BIGINT) AS cents,
      |    CASE WHEN (('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':ate'), 1, 15))::BIGINT % 100) <
      |      (CASE event_type WHEN 'click' THEN 30 WHEN 'view' THEN 40 WHEN 'purchase' THEN 50
      |        WHEN 'signup' THEN 60 ELSE 70 END) THEN 1 ELSE 0 END AS t
      |  FROM events WHERE value IS NOT NULL),
      |u AS (SELECT stratum, count(*) AS n, sum(t) AS n_t, sum(t*cents) AS s_t,
      |        count(*) - sum(t) AS n_c, sum((1-t)*cents) AS s_c FROM e GROUP BY 1
      |      UNION ALL
      |      SELECT 'ALL', count(*), sum(t), sum(t*cents), count(*) - sum(t), sum((1-t)*cents) FROM e)
      |SELECT stratum, CAST(n AS BIGINT) AS n, CAST(n_t AS BIGINT) AS n_t,
      |  CAST(s_t AS BIGINT) AS s_t, CAST(n_c AS BIGINT) AS n_c, CAST(s_c AS BIGINT) AS s_c,
      |  CAST(s_t::HUGEINT * n_c - s_c::HUGEINT * n_t AS VARCHAR) AS eff_num,
      |  CAST(n_t::HUGEINT * n_c AS VARCHAR) AS eff_den
      |FROM u ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------
  // RANDOMIZATION (PERMUTATION-STYLE) TEST — the inference layer for
  // the causal family: is temporal_did's rollout contrast bigger
  // than chance? Under H0 the cohort label is independent of the
  // outcome, so B=64 deterministic RE-RANDOMIZATIONS (md5 of
  // user_id + ':p<b>' — honest naming: salted reassignment at
  // p=1/2, the Monte-Carlo randomization test, not an exact
  // label permutation) form the null distribution, and the p-value
  // counts replicates whose |mean difference| ≥ the observed one.
  // Every comparison is EXACT: diffs are rationals (num/den) and the
  // ≥ test cross-multiplies in decimal(38,0)/HUGEINT — no division
  // ever happens. p ships as (1+n_ge)·1e6 div (B+1), the standard
  // add-one estimator, non-negative integer div. Overflow ceiling:
  // |num|·den ≈ (Σcents·n)·n² ≤ 1e20·1e16 = 1e36 at sf100 — inside
  // decimal(38,0); shard per source past that.
  // Scale shape: one 64-row broadcast fan-out (map-side, partial
  // aggregation absorbs the 64x before the 64-group shuffle), one
  // 1-row observed aggregate, one broadcast compare.
  private val PermB = 64

  def qPermutationTest(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def tOf(salt: org.apache.spark.sql.Column) =
      (conv(substring(md5(concat(col("user_id").cast("string"), salt)), 1, 15), 16, 10)
        .cast("long") % 100 < 50).cast("long")
    // the statistic is additive over users, so collapse the corpus to
    // per-user (event count, cents sum) FIRST and fan the 64 salts
    // over THAT: md5 work drops from events x B to users x B, and the
    // 64x row fan-out runs over the user aggregate, not the corpus
    val e = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("ne"), sum(round(col("value") * 100).cast("long")).as("sc"))
      .localCheckpoint()
    def cells(df: DataFrame, keys: Seq[String]) = df
      .groupBy(keys.map(col): _*)
      .agg(sum(col("t") * col("ne")).as("n_t"), sum(col("t") * col("sc")).as("s_t"),
        sum((lit(1L) - col("t")) * col("ne")).as("n_c"),
        sum((lit(1L) - col("t")) * col("sc")).as("s_c"))
      .withColumn("num",
        (col("s_t").cast(d38) * col("n_c") - col("s_c").cast(d38) * col("n_t")))
      .withColumn("den", col("n_t").cast(d38) * col("n_c"))
    val obs = cells(e.withColumn("t", tOf(lit(":did"))), Nil)
      .select(col("num").as("obs_num"), col("den").as("obs_den"))
    val reps = cells(
      e.crossJoin(broadcast(s.range(PermB).toDF("b")))
        .withColumn("t", tOf(concat(lit(":p"), col("b").cast("string")))),
      Seq("b"))
    reps.crossJoin(broadcast(obs))
      .agg(sum((abs(col("num")) * col("obs_den") >= abs(col("obs_num")) * col("den"))
        .cast("long")).as("n_ge"))
      .crossJoin(broadcast(obs))
      .select(lit(PermB.toLong).as("b"),
        col("obs_num").cast("string").as("obs_num"),
        col("obs_den").cast("string").as("obs_den"),
        col("n_ge"),
        expr(s"(1 + n_ge) * 1000000 div ${PermB + 1}").as("p_pm"))
  }

  val qPermutationTestSql: String =
    s"""WITH e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events WHERE value IS NOT NULL),
       |obs AS (
       |  SELECT sum(t) AS n_t, sum(t*cents) AS s_t,
       |      count(*)-sum(t) AS n_c, sum((1-t)*cents) AS s_c FROM (
       |    SELECT cents, CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':did'), 1, 15))::BIGINT % 100) < 50
       |      THEN 1 ELSE 0 END AS t FROM e)),
       |reps AS (
       |  SELECT b, sum(t) AS n_t, sum(t*cents) AS s_t,
       |      count(*)-sum(t) AS n_c, sum((1-t)*cents) AS s_c FROM (
       |    SELECT b, cents, CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':p' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 100) < 50
       |      THEN 1 ELSE 0 END AS t
       |    FROM e, (SELECT unnest(range($PermB)) AS b)) GROUP BY b),
       |od AS (SELECT s_t::HUGEINT * n_c - s_c::HUGEINT * n_t AS num,
       |    n_t::HUGEINT * n_c AS den FROM obs),
       |cmp AS (SELECT count(*) AS n_ge FROM reps, od
       |  WHERE abs(s_t::HUGEINT * n_c - s_c::HUGEINT * n_t) * od.den
       |     >= abs(od.num) * (n_t::HUGEINT * n_c))
       |SELECT CAST($PermB AS BIGINT) AS b, CAST(od.num AS VARCHAR) AS obs_num,
       |  CAST(od.den AS VARCHAR) AS obs_den, CAST(cmp.n_ge AS BIGINT) AS n_ge,
       |  CAST((1 + cmp.n_ge) * 1000000 // ${PermB + 1} AS BIGINT) AS p_pm
       |FROM od, cmp""".stripMargin

  // ---------------------------------------------------------------
  // PINBALL (QUANTILE) LOSS EVALUATION — the metric that scores a
  // quantile forecast the way MSE scores a mean forecast: for τ ∈
  // {0.1, 0.5, 0.9}, the per-priority DISCRETE quantile of order
  // cents (the value at sorted position (n−1)·τ10 div 10 + 1 — an
  // exact integer pick, immune to the engines' continuous-
  // interpolation differences that force q32_percentiles through
  // rounded doubles) is evaluated under the asymmetric pinball loss,
  // scaled ×10 so every term is an integer: y > q pays τ10·(y−q),
  // else (10−τ10)·(q−y). The τ=0.5 row is twice the L1 distance to
  // the median (the classic identity); the 0.1/0.9 rows price
  // under- vs over-forecasting asymmetrically — the demand-planning
  // readout. Scale shape: one per-group sort window to pick the
  // quantiles (5 groups), then the 15-row quantile frame broadcasts
  // and the corpus streams through one map-side loss aggregate.
  def qPinballEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("y"))
      .localCheckpoint()
    val r = c
      .withColumn("rn", row_number().over(Window.partitionBy(col("pri")).orderBy(col("y"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("pri"))))
    val taus = broadcast(Seq(1L, 5L, 9L).toDF("tau10"))
    // discrete quantile pick: sorted position (n-1)*tau10 div 10 + 1
    // (non-negative operands, so div floors identically on both engines)
    val q = r.crossJoin(taus)
      .filter(col("rn") === expr("(n - 1) * tau10 div 10 + 1"))
      .select(col("pri"), col("tau10"), col("n"), col("y").as("qv"))
      .localCheckpoint()
    c.join(broadcast(q), "pri")
      .groupBy(col("pri"), col("tau10"))
      .agg(max(col("n")).as("n"), max(col("qv")).as("qv"),
        sum(when(col("y") > col("qv"), col("tau10") * (col("y") - col("qv")))
          .otherwise((lit(10L) - col("tau10")) * (col("qv") - col("y"))))
          .cast("long").as("loss10"))
      .orderBy(col("pri"), col("tau10"))
  }

  val qPinballEvalSql: String =
    """WITH c AS (SELECT o_orderpriority AS pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
      |r AS (SELECT pri, y, row_number() OVER (PARTITION BY pri ORDER BY y) AS rn,
      |    count(*) OVER (PARTITION BY pri) AS n FROM c),
      |taus AS (SELECT unnest([1, 5, 9]) AS tau10),
      |q AS (SELECT pri, tau10, n, y AS qv FROM r, taus
      |  WHERE rn = (n - 1) * tau10 // 10 + 1)
      |SELECT q.pri AS pri, CAST(q.tau10 AS BIGINT) AS tau10, CAST(max(q.n) AS BIGINT) AS n,
      |  max(q.qv) AS qv,
      |  CAST(sum(CASE WHEN c.y > q.qv THEN q.tau10 * (c.y - q.qv)
      |    ELSE (10 - q.tau10) * (q.qv - c.y) END) AS BIGINT) AS loss10
      |FROM q JOIN c ON c.pri = q.pri GROUP BY q.pri, q.tau10
      |ORDER BY q.pri, q.tau10""".stripMargin

  // ---------------------------------------------------------------
  // DECISION-STUMP TRAINER — an exact-arithmetic tree-split search,
  // the inner loop of every gradient-boosting/CART trainer, run as
  // ONE distributed aggregation instead of a driver loop: melt the
  // two integer features (quantity; discount percent) into (feature,
  // value, y) rows, partial-aggregate per distinct value (map-side
  // combine — the shuffle carries ≤ |value domain| rows per feature,
  // ~50/11 here and bounded by the DOMAIN at any corpus size), then
  // a per-feature cumulative window turns value counts into split
  // candidates (split at v = "feature ≤ v"). The split criterion is
  // the weighted Gini numerator posL·negL·nR + posR·negR·nL over
  // denominator nL·nR — the exact rational form of
  // (nL·IL + nR·IR)/n with constants dropped — floored to a scaled
  // integer via DECIMAL widening (the product exceeds BIGINT at
  // sf0.1's row count ×1e9), so argmin + tiebreak (value asc) is
  // deterministic on both engines. Emits each feature's best split
  // and flags the global winner; the 2-row global window is
  // value-domain bounded (|features|).
  def qStumpTrain(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir).select(
      floor(col("l_quantity")).cast("long").as("qty"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      (col("l_returnflag") === "R").cast("long").as("y"))
    val melted = base.selectExpr(
      "stack(2, 'disc', disc, 'qty', qty) AS (feature, v)", "y")
    val perVal = melted.groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("n_v"), sum(col("y")).as("pos_v"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("v"))
    val cum = perVal
      .withColumn("nl", sum(col("n_v")).over(wCum))
      .withColumn("posl", sum(col("pos_v")).over(wCum))
    val tot = perVal.groupBy(col("feature"))
      .agg(sum(col("n_v")).as("n"), sum(col("pos_v")).as("pos"))
    val cand = cum.join(broadcast(tot), "feature")
      .filter(col("nl") < col("n")) // "everything left" is not a split
      .withColumn("negl", col("nl") - col("posl"))
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("posr", col("pos") - col("posl"))
      .withColumn("negr", col("nr") - col("posr"))
      .withColumn("score_e9", expr(
        // the INNER Gini product is widened too (not just the 1e9
        // factor): posl*negl*nr in raw BIGINT wraps silently on Spark
        // (non-ANSI long multiply) at ~2.1M rows/feature while DuckDB
        // raises — the whole numerator rides DECIMAL(38,0)/HUGEINT so
        // the any-scale claim holds on both engines (r15 ADVICE)
        """CAST((CAST(1000000000 AS DECIMAL(38,0))
          |  * (CAST(posl AS DECIMAL(38,0)) * negl * nr
          |     + CAST(posr AS DECIMAL(38,0)) * negr * nl))
          |  div (nl * nr) AS BIGINT)"""
          .stripMargin))
    val wBest = Window.partitionBy(col("feature"))
      .orderBy(col("score_e9"), col("v"))
    val best = cand.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("feature"), col("v").as("thr"),
        col("nl").as("n_left"), col("posl").as("pos_left"),
        col("nr").as("n_right"), col("posr").as("pos_right"), col("score_e9"))
    // |features|-row frame: the global winner flag (bounded window)
    val wAll = Window.orderBy(col("score_e9"), col("feature"))
    best.withColumn("is_best", (row_number().over(wAll) === 1).cast("long"))
      .orderBy(col("feature"))
  }

  val qStumpTrainSql: String =
    """WITH b AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS qty,
      |    CAST(round(l_discount * 100) AS BIGINT) AS disc,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |  FROM lineitem),
      |m AS (SELECT 'disc' AS feature, disc AS v, y FROM b
      |  UNION ALL SELECT 'qty', qty, y FROM b),
      |pv AS (SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v,
      |  CAST(sum(y) AS BIGINT) AS pos_v FROM m GROUP BY 1, 2),
      |cum AS (SELECT feature, v,
      |  CAST(sum(n_v) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS nl,
      |  CAST(sum(pos_v) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS posl
      |  FROM pv),
      |tot AS (SELECT feature, CAST(sum(n_v) AS BIGINT) AS n,
      |  CAST(sum(pos_v) AS BIGINT) AS pos FROM pv GROUP BY 1),
      |cand AS (SELECT c.feature, c.v, c.nl, c.posl, c.nl - c.posl AS negl,
      |  t.n - c.nl AS nr, t.pos - c.posl AS posr,
      |  (t.n - c.nl) - (t.pos - c.posl) AS negr
      |  FROM cum c JOIN tot t USING (feature) WHERE c.nl < t.n),
      |sc AS (SELECT feature, v, nl, posl, nr, posr,
      |  CAST((1000000000::HUGEINT * (posl::HUGEINT * negl * nr + posr::HUGEINT * negr * nl))
      |    // (nl::HUGEINT * nr) AS BIGINT) AS score_e9
      |  FROM cand),
      |r AS (SELECT *, row_number() OVER (PARTITION BY feature ORDER BY score_e9, v) AS rn
      |  FROM sc),
      |best AS (SELECT feature, v AS thr, nl AS n_left, posl AS pos_left,
      |  nr AS n_right, posr AS pos_right, score_e9 FROM r WHERE rn = 1),
      |g AS (SELECT *, row_number() OVER (ORDER BY score_e9, feature) AS grn FROM best)
      |SELECT feature, thr, n_left, pos_left, n_right, pos_right, score_e9,
      |  CAST(CASE WHEN grn = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
      |FROM g ORDER BY feature""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ml_stump_train" -> (qStumpTrain _),
    "ml_pinball_eval" -> (qPinballEval _),
    "ml_permutation_test" -> (qPermutationTest _),
    "ml_stratified_ate" -> (qStratifiedAte _),
    "ml_mcc_exact" -> (qMccExact _),
    "ml_gains_table" -> (qGainsTable _),
    "ml_quantile_bins" -> (qQuantileBins _),
    "ml_auc_by_group" -> (qAucByGroup _),
    "ml_ks_test" -> (qKsTest _),
    "ml_variance_filter" -> (qVarianceFilter _),
    "ml_kendall_gamma" -> (qKendallGamma _),
    "ml_rank_corr" -> (qRankCorr _),
    "ml_winsorized_mean" -> (qWinsorizedMean _),
    "ml_bootstrap_ci" -> (qBootstrapCi _),
    "ml_corr_pairs" -> (qCorrPairs _),
    "ml_power_iteration" -> (qPowerIteration _),
    "ml_perceptron_step" -> (qPerceptronStep _),
    "ml_linreg_sources" -> (qLinregSources _),
    "ml_ols_r2" -> (qOlsR2 _),
    "ml_nb_train" -> (qNbTrain _),
    "ml_kmeans_converge" -> (qKmeansConverge _),
    "ml_calibration" -> (qCalibration _),
    "ml_brier_decomp" -> (qBrierDecomp _),
    "ml_isotonic_calibration" -> (qIsotonicCalibration _),
    "ml_conformal_interval" -> (qConformalInterval _),
    "ml_youden_threshold" -> (qYoudenThreshold _),
    "ml_auc_exact" -> (qAucExact _),
    "ml_roc_hull" -> (qRocHull _),
    "ml_gini_split" -> (qGiniSplit _),
    "ml_pr_curve" -> (qPrCurve _),
  )

  val oracles: Map[String, String] = Map(
    "ml_stump_train" -> qStumpTrainSql,
    "ml_stratified_ate" -> qStratifiedAteSql,
    "ml_permutation_test" -> qPermutationTestSql,
    "ml_pinball_eval" -> qPinballEvalSql,
    "ml_mcc_exact" -> qMccExactSql,
    "ml_gains_table" -> qGainsTableSql,
    "ml_quantile_bins" -> qQuantileBinsSql,
    "ml_auc_by_group" -> qAucByGroupSql,
    "ml_ks_test" -> qKsTestSql,
    "ml_variance_filter" -> qVarianceFilterSql,
    "ml_kendall_gamma" -> qKendallGammaSql,
    "ml_rank_corr" -> qRankCorrSql,
    "ml_winsorized_mean" -> qWinsorizedMeanSql,
    "ml_bootstrap_ci" -> qBootstrapCiSql,
    "ml_corr_pairs" -> qCorrPairsSql,
    "ml_power_iteration" -> qPowerIterationSql,
    "ml_perceptron_step" -> qPerceptronStepSql,
    "ml_linreg_sources" -> qLinregSourcesSql,
    "ml_ols_r2" -> qOlsR2Sql,
    "ml_nb_train" -> qNbTrainSql,
    "ml_kmeans_converge" -> qKmeansConvergeSql,
    "ml_calibration" -> qCalibrationSql,
    "ml_brier_decomp" -> qBrierDecompSql,
    "ml_isotonic_calibration" -> qIsotonicCalibrationSql,
    "ml_conformal_interval" -> qConformalIntervalSql,
    "ml_youden_threshold" -> qYoudenThresholdSql,
    "ml_auc_exact" -> qAucExactSql,
    "ml_roc_hull" -> qRocHullSql,
    "ml_gini_split" -> qGiniSplitSql,
    "ml_pr_curve" -> qPrCurveSql,
  )
}
