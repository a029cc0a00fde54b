package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Memo, Tables}

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline layer (token counting, quality scoring,
  * language ID, fingerprinting). The reference has no text analytics
  * (SURVEY.md §2.3 A7); these are the driver-mandated extensions.
  *
  * All per-document logic is map-only — a narrow projection of
  * built-in functions, or (where HOF interpretation overhead was
  * measured to dominate: lang-id) a per-partition JVM kernel — with
  * no shuffles except the final deterministic `orderBy`. At 100 TB
  * this is the best possible shape: map-only over the scan, prunes
  * `documents` to the needed columns, and parallelizes per file
  * split. Every query is mirrored in DuckDB SQL for the oracle.
  */
object Text {

  /** Words of the lowercased, whitespace-collapsed text. RE2's `\s`
    * class spelled out ([ \t\n\f\r]) — Java's `\s` adds U+000B, so a
    * vertical-tab document would split differently from every
    * `regexp_split_to_array(..., '\s+')` oracle. */
  private[operators] def words(c: Column): Column = split(lower(trim(c)), "[ \t\n\f\r]+")

  /** RE2 `\s` for use inside Catalyst (Java-regex) char classes. */
  private[operators] val Re2Ws = " \t\n\f\r"

  // DuckDB-EXACT JVM text primitives for the per-partition kernels.
  // Every kernel tokenizer must match its oracle's
  // `regexp_split_to_array(lower(trim(text)), '\s+')` (or the
  // `regexp_replace(..., '\s+', ' ', 'g')` collapse) on EVERY input:
  // Java `String.trim` strips all chars <= U+0020 while DuckDB
  // trim() strips only spaces; Java's regex \s includes vertical tab
  // while RE2's does not; and DuckDB's split keeps leading/trailing
  // empty tokens (Java's default split drops trailing ones). The
  // corpora contain no edge-whitespace documents, so the old forms
  // were value-identical here — these exist so correctness does not
  // depend on that accident. Verified against DuckDB on edge cases
  // in AnalyticsSpec.

  /** DuckDB `trim(x)`: strip leading/trailing SPACES only. */
  private[operators] def duckTrimSpaces(raw: String): String = {
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    raw.substring(b, e)
  }

  /** JVM twin of `regexp_split_to_array(lower(trim(raw)), '\s+')`:
    * RE2 whitespace class, edge empties kept. */
  private[operators] def duckWords(raw: String): Array[String] =
    duckTrimSpaces(raw).toLowerCase(java.util.Locale.ROOT)
      .split("[ \t\n\f\r]+", -1)

  /** JVM twin of `lower(regexp_replace(trim(raw), '\s+', ' ', 'g'))`. */
  private[operators] def duckCollapse(raw: String): String =
    duckTrimSpaces(raw).replaceAll("[ \t\n\f\r]+", " ")
      .toLowerCase(java.util.Locale.ROOT)

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
  private def sqlList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("(", ", ", ")")

  // ---------------------------------------------------------------
  // token counting: whitespace tokens + a BPE-ish regex tokenization
  // (alnum runs and single punctuation marks), char counts, average
  // token length.
  def qTokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(words(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(s"[a-z0-9]+|[^a-z0-9$Re2Ws]"), lit(0))).as("n_re_tokens"),
        round(
          aggregate(transform(words(col("text")), w => length(w)), lit(0), (acc, x) => acc + x)
            .cast("double") / size(words(col("text"))), 4).as("avg_token_len"))
      .orderBy(col("doc_id"))

  val qTokenStatsSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars,
      |  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]', 0)) AS n_re_tokens,
      |  round(CAST(list_aggregate(list_transform(regexp_split_to_array(lower(trim(text)), '\s+'), w -> length(w)), 'sum') AS DOUBLE)
      |        / len(regexp_split_to_array(lower(trim(text)), '\s+')), 4) AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // quality scoring: length / stopword ratio / punctuation ratio /
  // mean word length, combined into a 0..1 rubric score. The ratio
  // arithmetic is identical on both engines (bit-equal doubles), so
  // the rubric thresholds compare identically too.
  /** The rubric score in integer QUARTERS (0..4: one point per
    * passed check) over the `text` column — shared by [[qQuality]]
    * and the quality-weighted sampler
    * ([[Pipeline.qWeightedSample]]). Integer so the sampler's
    * threshold compare is exact on both engines. */
  private[operators] def qualityQuarters: Column = {
    val ws = words(col("text"))
    val nWords = size(ws)
    val stopRatio = size(filter(ws, w => w.isin(stopwords: _*))).cast("double") / nWords
    val punctRatio = (length(col("text")) -
      length(regexp_replace(col("text"), s"[^a-zA-Z0-9$Re2Ws]", ""))).cast("double") / length(col("text"))
    val meanWordLen = aggregate(transform(ws, w => length(w)), lit(0), (acc, x) => acc + x)
      .cast("double") / nWords
    when(length(col("text")).between(100, 2000), lit(1)).otherwise(lit(0)) +
      when(stopRatio.between(0.05, 0.6), lit(1)).otherwise(lit(0)) +
      when(punctRatio < 0.1, lit(1)).otherwise(lit(0)) +
      when(meanWordLen.between(3.0, 12.0), lit(1)).otherwise(lit(0))
  }

  /** SQL twin of [[qualityQuarters]] as an inline scalar over a
    * `text` column (no CTE dependencies). */
  private[operators] def qualityQuartersSql(text: String): String = {
    val ws = s"regexp_split_to_array(lower(trim($text)), '\\s+')"
    s"""(CASE WHEN length($text) BETWEEN 100 AND 2000 THEN 1 ELSE 0 END +
       | CASE WHEN CAST(len(list_filter($ws, w -> w IN ${sqlList(stopwords)})) AS DOUBLE) / len($ws) BETWEEN 0.05 AND 0.6 THEN 1 ELSE 0 END +
       | CASE WHEN CAST(length($text) - length(regexp_replace($text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length($text) < 0.1 THEN 1 ELSE 0 END +
       | CASE WHEN CAST(list_aggregate(list_transform($ws, w -> length(w)), 'sum') AS DOUBLE) / len($ws) BETWEEN 3.0 AND 12.0 THEN 1 ELSE 0 END)""".stripMargin
  }

  def qQuality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val ws = words(col("text"))
    val nWords = size(ws)
    val stopRatio = size(filter(ws, w => w.isin(stopwords: _*))).cast("double") / nWords
    val punctRatio = (length(col("text")) -
      length(regexp_replace(col("text"), s"[^a-zA-Z0-9$Re2Ws]", ""))).cast("double") / length(col("text"))
    val meanWordLen = aggregate(transform(ws, w => length(w)), lit(0), (acc, x) => acc + x)
      .cast("double") / nWords
    val score = qualityQuarters.cast("double") * 0.25
    d.select(
      col("doc_id"),
      col("n_chars"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(punctRatio, 4).as("punct_ratio"),
      round(meanWordLen, 4).as("mean_word_len"),
      score.as("quality_score"))
      .orderBy(col("doc_id"))
  }

  val qQualitySql: String =
    s"""WITH t AS (
       |  SELECT doc_id, n_chars, text,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
       |    length(text) AS n FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(list_filter(ws, w -> w IN ${sqlList(stopwords)})) AS DOUBLE) / len(ws) AS stop_ratio,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
       |    CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum') AS DOUBLE) / len(ws) AS mean_wl,
       |    n FROM t)
       |SELECT doc_id, n_chars,
       |  round(stop_ratio, 4) AS stopword_ratio,
       |  round(punct_ratio, 4) AS punct_ratio,
       |  round(mean_wl, 4) AS mean_word_len,
       |  (CASE WHEN n BETWEEN 100 AND 2000 THEN 0.25 ELSE 0.0 END +
       |   CASE WHEN stop_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END +
       |   CASE WHEN punct_ratio < 0.1 THEN 0.25 ELSE 0.0 END +
       |   CASE WHEN mean_wl BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END) AS quality_score
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // language ID: marker-stopword n-gram heuristic with a CJK
  // character check, deterministic tie order. (The synthetic corpus
  // is English-vocabulary for every lang label, so the value of this
  // query is the operator itself, not label recovery.)
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "y", "es", "que"),
    "fr" -> Seq("le", "la", "et", "est", "que"))

  def qLangId(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // Single-pass JVM kernel: one walk over the words counts all four
    // marker sets at once (the four `list_filter` HOF passes were
    // interpreted — 4.1s at sf0.1 before kernelization), plus one char
    // scan for the CJK range. Tie-break order (first lang in marker
    // order with the max count) matches the oracle's CASE chain.
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("labeled_lang", StringType),
      StructField("predicted_lang", StringType)))
    val langOf: Map[String, Array[Int]] = {
      val m = scala.collection.mutable.Map[String, List[Int]]().withDefaultValue(Nil)
      markers.zipWithIndex.foreach { case ((_, ms), i) => ms.foreach(w => m(w) = i :: m(w)) }
      m.map { case (w, is) => w -> is.toArray }.toMap
    }
    val langNames = markers.map(_._1).toArray
    val nLangs = langNames.length
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      .mapPartitions { it =>
        it.map { r =>
          val text = r.getString(2)
          var cjk = false
          var ci = 0
          while (ci < text.length && !cjk) {
            val c = text.charAt(ci)
            if (c >= 0x4e00 && c <= 0x9fff) cjk = true
            ci += 1
          }
          val counts = new Array[Int](nLangs)
          duckWords(text).foreach { w =>
            langOf.get(w) match {
              case Some(is) =>
                var k = 0
                while (k < is.length) { counts(is(k)) += 1; k += 1 }
              case None => ()
            }
          }
          var best = 0
          var li = 0
          while (li < nLangs) { if (counts(li) > best) best = counts(li); li += 1 }
          val predicted =
            if (cjk) "zh"
            else if (best == 0) "und"
            else langNames(counts.indexOf(best))
          Row(r.getLong(0), r.getString(1), predicted)
        }
      }(Encoders.row(schema))
      .orderBy(col("doc_id"))
  }

  val qLangIdSql: String = {
    val countExprs = markers.map { case (lang, ms) =>
      s"len(list_filter(ws, w -> w IN ${sqlList(ms)})) AS c_$lang"
    }.mkString(",\n    ")
    val bestExpr = markers.map { case (l, _) => s"c_$l" }.mkString("greatest(", ", ", ")")
    val pick = markers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
      s"CASE WHEN c_$lang = best THEN '$lang' ELSE $acc END"
    }
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS cjk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, cjk,
       |    $countExprs
       |  FROM t),
       |b AS (SELECT *, $bestExpr AS best FROM c)
       |SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN best = 0 THEN 'und'
       |       ELSE $pick END AS predicted_lang
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // document fingerprinting: full-content fingerprint over the
  // whitespace-normalized text + a head fingerprint over the first 5
  // words (a cheap fuzzy key for prefix-clustering at scale).
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = lower(regexp_replace(trim(col("text")), s"[$Re2Ws]+", " "))
    val head = concat_ws(" ", slice(words(col("text")), 1, 5))
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(norm).as("content_fp"),
        md5(head).as("head_fp"))
      .orderBy(col("doc_id"))
  }

  val qFingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_fp,
      |  md5(array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[1:5], ' ')) AS head_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // TF-IDF top terms per document — the canonical two-pass corpus
  // statistic: document frequencies aggregated over the corpus, then
  // joined back to per-doc term frequencies, top-3 terms per doc by
  // score. Scale shape: both passes are explode -> partial-agg
  // groupBy (only (word, count) pairs shuffle); the df table joins on
  // the word key (broadcastable when the vocabulary is small, shuffle
  // join otherwise — left to Catalyst/AQE); top-k per doc is a
  // WindowGroupLimit window.
  //
  // idf is the RATIONAL form (N+1)/(df+1): IEEE division is
  // exact-rounded and bit-identical across engines, while ln()
  // (the textbook form) is libm-dependent and may differ in the last
  // ulp — the same reasoning as the left-to-right dot products.
  // Scores are rounded to 6 dp before ranking with a term tiebreak.
  private val TfIdfTopK = 3

  def qTfIdf(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val terms = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val score = round(col("tf") * ((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfTopK)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val qTfIdfSql: String =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT doc_id, term,
       |  round(tf * (CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 6) AS score
       |  FROM tf JOIN df USING (term), n),
       |r AS (SELECT doc_id, term, score,
       |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, score FROM r
       |WHERE rank <= $TfIdfTopK ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // Train/eval DECONTAMINATION — the n-gram overlap check every LLM
  // training pipeline runs before touching a benchmark: find training
  // documents sharing word n-grams with any eval-set document
  // (eval = doc_id % 50 == 3 here, standing in for a benchmark
  // corpus). Reports (train, eval, shared-gram count) pairs at a
  // minimum-overlap threshold.
  //
  // Scale shape: the eval side is inherently tiny (benchmarks are
  // KBs against a 100 TB corpus), so its exploded gram set is the
  // broadcast BUILD side — the training corpus streams map-side
  // through one broadcast hash join and a partial-aggregated count;
  // nothing about the corpus is ever shuffled except the matched
  // (train, eval) long pairs. Grams travel as 60-bit md5-derived
  // longs (the string-array cost rule); the oracle joins the same
  // grams as strings, which is value-identical (a cross-gram md5
  // collision is ~2^-60).
  private val DecontamGramLen = 3
  private val DecontamMinShared = 2
  private val DecontamEvalMod = 50
  private val DecontamEvalRem = 3

  /** doc_id -> distinct word-`n`-gram md5 hashes (60-bit longs),
    * exploded. A per-partition JVM kernel, not a transform() HOF: the
    * HOF form re-evaluates the interpreted `split` inside every
    * element_at of every lambda invocation — O(words²) splits per
    * document (UTF8String.split dominated the profile at 35s CPU for
    * 5k docs at sf0.1); the kernel splits once and slides. Same gram
    * definition and md5-prefix hash as the SQL oracle's string join
    * keys. */
  private[operators] def gramHashes(
      s: SparkSession, dir: String, n: Int = DecontamGramLen): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("gram_hs", ArrayType(LongType))))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val ws = duckWords(r.getString(1))
          val grams =
            if (ws.length >= n)
              (0 to ws.length - n).map(i => ws.slice(i, i + n).mkString(" ")).distinct
            else Seq(ws.mkString(" "))
          // md5Mod with p = Long.MaxValue is the identity on the 60-bit
          // digest prefix: the same value as the oracle's md5 strings
          Row(r.getLong(0), grams.map(g => Dedup.md5Mod(md, g, Long.MaxValue)).toArray)
        }
      }(Encoders.row(schema))
      .select(col("doc_id"), explode(col("gram_hs")).as("gram_h"))
  }

  /** Eval-gram rows above which the contamination join abandons the
    * broadcast: ~2M exploded (id, gram_h) longs ≈ 30 MB hashed —
    * the edge of comfortable per-executor broadcast. */
  private[operators] val DecontamBroadcastMaxGrams = 2000000L

  /** Train-grams ⋈ eval-grams with an explicit SIZE GUARD on the
    * broadcast: the eval side broadcasts only while its exploded gram
    * count fits [[DecontamBroadcastMaxGrams]] (benchmarks are KBs
    * against a 100 TB corpus — the documented normal case); pointed at
    * a LARGE eval suite the join falls back to a shuffled hash join
    * with the eval side still pinned as the build side (a broadcast
    * that size would OOM the driver before correctness even enters).
    * The sizing pass is one count over the eval subtree — the
    * skew-report discipline: measure, then pick the plan. */
  private[operators] def contaminationJoin(
      tr: DataFrame, ev: DataFrame,
      maxBroadcastGrams: Long = DecontamBroadcastMaxGrams): DataFrame = {
    val evSized =
      if (ev.count() <= maxBroadcastGrams) broadcast(ev)
      else ev.hint("shuffle_hash")
    tr.join(evSized, "gram_h")
  }

  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val g = gramHashes(s, dir)
    val ev = g.filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem)
      .select(col("doc_id").as("eval_id"), col("gram_h"))
    val tr = g.filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem)
      .select(col("doc_id").as("train_id"), col("gram_h"))
    contaminationJoin(tr, ev)
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DecontamMinShared)
      .orderBy(col("train_id"), col("eval_id"))
  }

  val qDecontaminateSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= $DecontamGramLen
       |    THEN list_transform(range(len(ws) - ${DecontamGramLen - 1}),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
       |    ELSE [array_to_string(ws, ' ')] END) AS grams FROM w),
       |ev AS (SELECT doc_id AS eval_id, unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DecontamEvalMod = $DecontamEvalRem),
       |tr AS (SELECT doc_id AS train_id, unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DecontamEvalMod <> $DecontamEvalRem)
       |SELECT train_id, eval_id, count(*) AS n_shared
       |FROM tr JOIN ev USING (gram)
       |GROUP BY train_id, eval_id HAVING count(*) >= $DecontamMinShared
       |ORDER BY train_id, eval_id""".stripMargin

  // ---------------------------------------------------------------
  // EVAL-SIDE GRAM COVERAGE — the RECALL view of decontamination:
  // [[qDecontaminate]] names the train documents that leak eval
  // content; this names, for each EVAL document, what fraction of
  // its 3-grams exists ANYWHERE in the training corpus — the number
  // an eval-set owner reads to decide whether a benchmark is burnt
  // (high coverage ⇒ the model has effectively seen it, even if no
  // single train doc crossed the per-pair threshold). Same gram
  // convention and size-guarded join orientation as the
  // contamination pass (eval side broadcast while small, train gram
  // set streams once, distinct'ed to 8-byte hashes first so corpus
  // multiplicity never inflates the join). Exact integer per-mille;
  // burnt flag at 500‰.
  private val CoverageBurntPm = 500L

  def qGramCoverage(s: SparkSession, dir: String): DataFrame = {
    val g = gramHashes(s, dir)
    val ev = g.filter(col("doc_id") % DecontamEvalMod === DecontamEvalRem)
      .select(col("doc_id").as("eval_id"), col("gram_h"))
      .localCheckpoint() // totals + the coverage join share one pass
    val trGrams = g.filter(col("doc_id") % DecontamEvalMod =!= DecontamEvalRem)
      .select(col("gram_h")).dropDuplicates("gram_h")
    // both join inputs are already distinct on gram_h (per-doc
    // distinct eval grams x corpus-distinct train grams), so the
    // join emits one row per (eval_id, gram_h) — count directly
    val cov = contaminationJoin(trGrams, ev)
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_cov"))
    ev.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
      .join(cov, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_cov"), lit(0L)).as("n_cov"))
      .withColumn("coverage_pm", expr("n_cov * 1000 div n_grams"))
      .withColumn("burnt", (col("coverage_pm") >= CoverageBurntPm).cast("boolean"))
      .orderBy(col("eval_id"))
  }

  val qGramCoverageSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |g AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) >= $DecontamGramLen
       |    THEN list_transform(range(len(ws) - ${DecontamGramLen - 1}),
       |      i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
       |    ELSE [array_to_string(ws, ' ')] END) AS grams FROM w),
       |ev AS (SELECT doc_id AS eval_id, unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DecontamEvalMod = $DecontamEvalRem),
       |trg AS (SELECT DISTINCT unnest(grams) AS gram FROM g
       |  WHERE doc_id % $DecontamEvalMod <> $DecontamEvalRem),
       |cov AS (SELECT eval_id, count(*) AS n_cov
       |  FROM (SELECT DISTINCT e.eval_id, e.gram FROM ev e JOIN trg USING (gram))
       |  GROUP BY eval_id),
       |tot AS (SELECT eval_id, count(*) AS n_grams FROM ev GROUP BY eval_id)
       |SELECT t.eval_id, CAST(t.n_grams AS BIGINT) AS n_grams,
       |  CAST(coalesce(c.n_cov, 0) AS BIGINT) AS n_cov,
       |  CAST(coalesce(c.n_cov, 0) * 1000 // t.n_grams AS BIGINT) AS coverage_pm,
       |  coalesce(c.n_cov, 0) * 1000 // t.n_grams >= $CoverageBurntPm AS burnt
       |FROM tot t LEFT JOIN cov c USING (eval_id) ORDER BY t.eval_id""".stripMargin

  // ---------------------------------------------------------------
  // FEATURE HASHING — the hashing-trick text→vector bridge
  // (Weinberger et al.): every word hashes to one of 64 dimensions
  // with a hash-derived ±1 sign, counts accumulate per (doc, dim) —
  // a fixed-width sparse document vector with NO vocabulary table,
  // which is exactly why the trick scales (the 100 TB corpus never
  // builds or broadcasts a dictionary; the "embedding" is pure
  // map-side arithmetic). Signs make collisions cancel in
  // expectation instead of biasing upward. Gated per doc: L1 mass,
  // non-zeros, and an md5 fingerprint over the SORTED sparse
  // (dim:value) encoding — the vector itself, order-independent.
  // Zero-valued dims (full sign cancellation) are dropped on both
  // engines before the fingerprint.
  def qFeatureHashing(s: SparkSession, dir: String): DataFrame = {
    val f = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), s"[$Re2Ws]+")).as("word"))
      .select(col("doc_id"),
        conv(substring(md5(col("word")), 1, 12), 16, 10).cast("long").as("h"))
      .select(col("doc_id"), (col("h") % 64).as("dim"),
        when(expr("(h div 64) % 2") === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("dim")).agg(sum(col("sgn")).as("v"))
      .filter(col("v") =!= 0)
    f.groupBy(col("doc_id"))
      .agg(sum(abs(col("v"))).as("l1"), count(lit(1)).as("nnz"),
        md5(concat_ws(",", expr(
          "transform(array_sort(collect_list(struct(dim, v)))," +
            " x -> concat(cast(x.dim as string), ':', cast(x.v as string)))")))
          .as("vec_md5"))
      .orderBy(col("doc_id"))
  }

  val qFeatureHashingSql: String =
    """WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |  FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 12))::BIGINT AS h FROM w),
      |f AS (SELECT doc_id, h % 64 AS dim,
      |  CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
      |  FROM h GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(abs(v)) AS BIGINT) AS l1,
      |  CAST(count(*) AS BIGINT) AS nnz,
      |  md5(string_agg(CAST(dim AS VARCHAR) || ':' || CAST(v AS VARCHAR), ',' ORDER BY dim)) AS vec_md5
      |FROM f WHERE v <> 0 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // LANGUAGE-ID CONFUSION MATRIX — the classifier EVAL gate for
  // [[qLangId]]: labeled × predicted counts with per-label recall
  // per-mille — the artifact that tells a pipeline owner which
  // languages the heuristic confuses before routing corpus slices by
  // its output (an off-diagonal cell is misrouted training data).
  // One pass over the per-doc predictions, a langs² metadata rollup.
  def qLangidConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = qLangId(s, dir).select(col("labeled_lang"), col("predicted_lang"))
    val byLabel = Window.partitionBy(col("labeled_lang"))
    pred.groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("label_n", sum(col("n")).over(byLabel))
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        expr("n * 1000 div label_n").as("recall_pm"),
        when(col("labeled_lang") === col("predicted_lang"), 1L).otherwise(0L)
          .as("diagonal"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  lazy val qLangidConfusionSql: String =
    s"""WITH pr AS MATERIALIZED (
SELECT labeled_lang, predicted_lang FROM (
$qLangIdSql
)),
c AS (SELECT labeled_lang, predicted_lang, count(*) AS n FROM pr GROUP BY 1, 2),
t AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS label_n FROM c GROUP BY 1)
SELECT c.labeled_lang, c.predicted_lang, CAST(c.n AS BIGINT) AS n,
  CAST(c.n * 1000 // t.label_n AS BIGINT) AS recall_pm,
  CAST(CASE WHEN c.labeled_lang = c.predicted_lang THEN 1 ELSE 0 END AS BIGINT) AS diagonal
FROM c JOIN t USING (labeled_lang)
ORDER BY c.labeled_lang, c.predicted_lang"""

  // ---------------------------------------------------------------
  // WORD BURSTINESS — variance-to-mean ratio of per-document counts
  // for the top-20 corpus words (zeros included): VMR ≈ 1 is
  // Poisson-like function-word behavior, VMR ≫ 1 is a bursty
  // content/boilerplate word that concentrates in few documents —
  // the classical keyword/topicality signal, here as exact integer
  // moments: vmr_ppm = 1e6·(n·Σc² − (Σc)²) div (Σc·(n−1)). One
  // (word, doc) partial agg then a vocabulary-sized moment rollup;
  // nothing touches the corpus twice.
  private val BurstTopK = 20

  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), s"[$Re2Ws]+")).as("word"))
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("c"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy(col("word"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sq"))
      .orderBy(col("total").desc, col("word")).limit(BurstTopK)
      .crossJoin(broadcast(n))
      .select(col("word"), col("df"), col("total"),
        // DECIMAL(38,0)/HUGEINT: 1e6·n·Σc² passes 2^63 near sf1 (the
        // DSIR overflow class, widened pre-emptively); numerator is
        // non-negative by Cauchy-Schwarz so no sign-split is needed
        expr("(cast(1000000 as decimal(38,0)) * (cast(n_docs as decimal(38,0)) * sq - cast(total as decimal(38,0)) * total))" +
          " div (cast(total as decimal(38,0)) * (n_docs - 1))").cast("long")
          .as("vmr_ppm"))
      .orderBy(col("total").desc, col("word"))
  }

  val qBurstinessSql: String =
    s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |pd AS (SELECT word, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
       |m AS (SELECT word, CAST(count(*) AS BIGINT) AS df, CAST(sum(c) AS BIGINT) AS total,
       |  CAST(sum(c * c) AS BIGINT) AS sq FROM pd GROUP BY word
       |  ORDER BY total DESC, word LIMIT $BurstTopK),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT m.word, m.df, m.total,
       |  CAST((1000000::HUGEINT * (n.n_docs::HUGEINT * m.sq - m.total::HUGEINT * m.total))
       |    // (m.total::HUGEINT * (n.n_docs - 1)) AS BIGINT) AS vmr_ppm
       |FROM m, n ORDER BY m.total DESC, m.word""".stripMargin

  // ---------------------------------------------------------------
  // REPETITION-based quality filter (the Gopher/MassiveText rules):
  // documents dominated by repeated n-grams or by one word are
  // low-quality for training. Per doc: duplicate-2-gram fraction
  // (1 - distinct/total) and top-word fraction, with the keep
  // decision at the published-style thresholds. Map-only except the
  // top-word partial aggregate (explode -> two-level groupBy, both
  // partial-aggregated map-side); fractions divide as doubles AFTER
  // integer counts, then round 4 dp (the cross-engine double rule).
  private val MaxDup2Frac = 0.2
  private val MaxTopWordFrac = 0.2

  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // One-pass per-doc JVM kernel (not HOFs — the interpreted-split
    // O(words²) pathology, see [[gramHashes]]): word count, bigram
    // counts via a HashSet, top-word count via a HashMap. Map-only:
    // the whole operator is kernel + projection + final sort.
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_words", IntegerType),
      StructField("n_2grams", IntegerType),
      StructField("n_distinct_2grams", IntegerType),
      StructField("top_c", IntegerType)))
    val perDoc = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.map { r =>
          val ws = duckWords(r.getString(1))
          val seen = new java.util.HashSet[String]()
          var i = 0
          while (i < ws.length - 1) { seen.add(ws(i) + " " + ws(i + 1)); i += 1 }
          val counts = new java.util.HashMap[String, Int]()
          var top = 0
          ws.foreach { w =>
            val c = counts.merge(w, 1, Integer.sum)
            if (c > top) top = c
          }
          Row(r.getLong(0), ws.length, math.max(ws.length - 1, 0), seen.size(), top)
        }
      }(Encoders.row(schema))
    val dup2 = round(lit(1.0) - col("n_distinct_2grams").cast("double") / col("n_2grams"), 4)
    val topf = round(col("top_c").cast("double") / col("n_words"), 4)
    perDoc
      .filter(col("n_2grams") > 0)
      .select(col("doc_id"), col("n_words"),
        dup2.as("dup_2gram_frac"), topf.as("top_word_frac"),
        (dup2 <= MaxDup2Frac && topf <= MaxTopWordFrac).as("keep"))
      .orderBy(col("doc_id"))
  }

  val qRepetitionSql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |g AS (SELECT doc_id, len(ws) AS n_words,
       |  CASE WHEN len(ws) >= 2
       |    THEN list_transform(range(len(ws) - 1), i -> ws[i+1] || ' ' || ws[i+2])
       |    ELSE [] END AS g2 FROM w),
       |t AS (SELECT doc_id, word, count(*) AS c
       |  FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY doc_id, word),
       |top AS (SELECT doc_id, max(c) AS top_c FROM t GROUP BY doc_id),
       |f AS (SELECT g.doc_id, n_words,
       |  round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4) AS dup_2gram_frac,
       |  round(CAST(top_c AS DOUBLE) / n_words, 4) AS top_word_frac
       |  FROM g JOIN top ON g.doc_id = top.doc_id WHERE len(g2) > 0)
       |SELECT doc_id, n_words, dup_2gram_frac, top_word_frac,
       |  dup_2gram_frac <= $MaxDup2Frac AND top_word_frac <= $MaxTopWordFrac AS keep
       |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Corpus VOCABULARY — the global bigram frequency table, i.e. the
  // pair-count statistic a BPE/WordPiece tokenizer trainer consumes
  // (and the classic "what does the corpus say" audit). One kernel
  // pass emits bigrams (split once, slide — not a HOF, see
  // [[gramHashes]]), then explode -> partial-aggregated groupBy:
  // only (gram, partial-count) pairs shuffle, which is the inherent
  // shape of vocabulary counting (strings ARE the output here; at
  // 100 TB the map-side combine is what keeps the exchange
  // proportional to the vocabulary, not the corpus). The global
  // top-k plans as TakeOrderedAndProject: each task keeps its local
  // top-k, the driver merges k·partitions rows — no global sort.
  private val VocabTopK = 200

  def qVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("gram", StringType)))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val ws = duckWords(r.getString(1))
          (0 until ws.length - 1).iterator.map(i => Row(ws(i) + " " + ws(i + 1)))
        }
      }(Encoders.row(schema))
      .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram"))
      .limit(VocabTopK)
  }

  val qVocabSql: String =
    s"""WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |g AS (SELECT unnest(list_transform(range(len(ws) - 1),
       |    i -> ws[i+1] || ' ' || ws[i+2])) AS gram FROM w)
       |SELECT gram, count(*) AS freq FROM g
       |GROUP BY gram ORDER BY freq DESC, gram LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------------
  // COLLOCATION LIFT — association-rule lift over corpus bigrams:
  // lift(w1,w2) = P(w1,w2) / (P(w1)·P(w2)), the monotone cousin of
  // PMI (PMI = ln lift). Lift instead of PMI ON PURPOSE: the value
  // is one fixed chain of divisions over exact integer counts —
  // bit-identical cross-engine — where PMI's ln() would hang the
  // gate on libm-vs-JVM last-ulp rounding (the same
  // rational-arithmetic dodge as [[qTfIdf]]'s idf and
  // [[qDiversity]]'s Simpson index).
  //
  // Scale shape: two kernel passes over the corpus (unigrams and
  // bigrams — the [[qTfIdf]] precedent; both partial-aggregate
  // map-side so only (token, partial-count) pairs shuffle, exchanges
  // proportional to vocabulary not corpus). The min-count filter
  // lands BEFORE the unigram joins, so the join input is the rare
  // high-frequency tail, not the long tail; totals are single-row
  // aggregates broadcast via crossJoin.
  private val CollocMinCount = 20

  def qCollocations(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val uniSchema = StructType(Seq(StructField("w", StringType)))
    val biSchema = StructType(Seq(StructField("w1", StringType), StructField("w2", StringType)))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val ucnt = docs.mapPartitions { it =>
        it.flatMap { r =>
          duckWords(r.getString(1))
            .iterator.map(Row(_))
        }
      }(Encoders.row(uniSchema))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bcnt = docs.mapPartitions { it =>
        it.flatMap { r =>
          val ws = duckWords(r.getString(1))
          (0 until ws.length - 1).iterator.map(i => Row(ws(i), ws(i + 1)))
        }
      }(Encoders.row(biSchema))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val nw = ucnt.agg(sum(col("c")).as("n_words"))
    val nb = bcnt.agg(sum(col("c_xy")).as("n_bigrams"))
    bcnt.filter(col("c_xy") >= CollocMinCount)
      .join(ucnt.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(ucnt.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c_xy"),
        round((col("c_xy").cast("double") / col("n_bigrams")) /
          ((col("c1").cast("double") / col("n_words")) *
           (col("c2").cast("double") / col("n_words"))), 4).as("lift"))
      .orderBy(col("w1"), col("w2"))
  }

  val qCollocationsSql: String =
    s"""WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |uni AS (SELECT unnest(ws) AS w FROM w),
       |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
       |nw AS (SELECT CAST(count(*) AS BIGINT) AS n_words FROM uni),
       |big AS (SELECT unnest(list_transform(range(len(ws) - 1),
       |    i -> struct_pack(w1 := ws[i+1], w2 := ws[i+2]))) AS b FROM w),
       |bcnt AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_xy FROM big GROUP BY 1, 2),
       |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bigrams FROM bcnt)
       |SELECT w1, w2, c_xy,
       |  round((c_xy::DOUBLE / n_bigrams) / ((u1.c::DOUBLE / n_words) * (u2.c::DOUBLE / n_words)), 4) AS lift
       |FROM bcnt JOIN ucnt u1 ON bcnt.w1 = u1.w JOIN ucnt u2 ON bcnt.w2 = u2.w, nw, nb
       |WHERE c_xy >= $CollocMinCount
       |ORDER BY w1, w2""".stripMargin

  // ---------------------------------------------------------------
  // DIVERSITY quality signal — Simpson index 1 − Σk²/n² over the
  // per-doc character and word distributions: near 1 for varied text,
  // plunging toward 0 for repeated-character/repeated-token junk
  // (the keyboard-mash and template-spam failure modes the
  // repetition filter's bigram rules don't catch). Simpson instead
  // of Shannon entropy ON PURPOSE: Σk² is exact integer arithmetic
  // (order-free, overflow-safe at any doc length long before Long
  // saturates), so the only float op is one final division —
  // bit-identical cross-engine where entropy's per-term log2 would
  // hang on libm rounding (same rational-arithmetic dodge as
  // [[qTfIdf]]'s idf).
  //
  // Scale shape: one kernel pass per doc (char counts via a codepoint
  // HashMap — codePOINTS, matching the oracle's split(text,'') —
  // word counts via a HashMap), integer outputs, Spark-side round():
  // map-only + presentation sort, nothing shuffles but the result.
  def qDiversity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_chars", LongType),
      StructField("n_unique_chars", LongType),
      StructField("ss_chars", LongType),
      StructField("n_words", LongType),
      StructField("n_unique_words", LongType),
      StructField("ss_words", LongType)))
    val perDoc = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.map { r =>
          val text = r.getString(1)
          val cc = new java.util.HashMap[Integer, Long]()
          var i = 0
          var n = 0L
          while (i < text.length) {
            val cp = text.codePointAt(i)
            cc.merge(cp, 1L, (a, b) => a + b)
            n += 1
            i += Character.charCount(cp)
          }
          var ssc = 0L
          cc.values.forEach(k => ssc += k * k)
          val wc = new java.util.HashMap[String, Long]()
          duckWords(r.getString(1))
            .foreach(w => wc.merge(w, 1L, (a, b) => a + b))
          var nw = 0L
          var ssw = 0L
          wc.values.forEach { k => nw += k; ssw += k * k }
          Row(r.getLong(0), n, cc.size.toLong, ssc, nw, wc.size.toLong, ssw)
        }
      }(Encoders.row(schema))
    perDoc
      // zero-length docs have no distribution to score; the oracle's
      // inner join drops them, so the library does too (not NaN)
      .filter(col("n_chars") > 0)
      .select(
        col("doc_id"), col("n_chars"), col("n_unique_chars"),
        round(lit(1.0) - col("ss_chars").cast("double") / (col("n_chars") * col("n_chars")), 6)
          .as("char_diversity"),
        col("n_words"), col("n_unique_words"),
        round(lit(1.0) - col("ss_words").cast("double") / (col("n_words") * col("n_words")), 6)
          .as("word_diversity"))
      .orderBy(col("doc_id"))
  }

  val qDiversitySql: String =
    """WITH ch AS (SELECT doc_id, unnest(split(text, '')) AS c FROM documents),
      |cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
      |ca AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
      |  CAST(count(*) AS BIGINT) AS n_unique_chars,
      |  round(1.0 - sum(k*k)::DOUBLE / (CAST(sum(k) AS BIGINT) * CAST(sum(k) AS BIGINT)), 6)
      |    AS char_diversity FROM cc GROUP BY doc_id),
      |wd AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w FROM documents),
      |wc AS (SELECT doc_id, w, count(*) AS k FROM wd GROUP BY doc_id, w),
      |wa AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
      |  CAST(count(*) AS BIGINT) AS n_unique_words,
      |  round(1.0 - sum(k*k)::DOUBLE / (CAST(sum(k) AS BIGINT) * CAST(sum(k) AS BIGINT)), 6)
      |    AS word_diversity FROM wc GROUP BY doc_id)
      |SELECT ca.doc_id, n_chars, n_unique_chars, char_diversity,
      |  n_words, n_unique_words, word_diversity
      |FROM ca JOIN wa ON ca.doc_id = wa.doc_id ORDER BY ca.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // WINNOWING FINGERPRINT — the rolling-hash document fingerprint
  // (Schleimer/Wilkerson/Aiken's MOSS winnowing): Rabin-Karp rolling
  // hashes over char 8-grams, then the minimum of each 4-hash window;
  // the DISTINCT window minima are the fingerprint. Guarantees: any
  // shared substring of length ≥ k+w-1 contributes a common
  // fingerprint hash, so near-dup detection is robust to insertions
  // in a way [[qFingerprint]]'s whole-doc md5 is not. The kernel runs
  // the TRUE O(1)-per-char rolling recurrence
  // (h·B + c − c_out·B^(k-1), all mod M) plus a monotonic-deque
  // window minimum — O(n) per document; the oracle states the same
  // values positionally (Σ c_j·B^(k-1-j) mod M and least() per
  // window), which the recurrence equals exactly in modular
  // arithmetic. Gated values are exact integers: gram count,
  // fingerprint size, and the order-free XOR of the fingerprint set.
  // Map-only over the corpus; nothing shuffles but the result.
  private val WinnowK = 8
  private val WinnowW = 4
  private val WinnowB = 257L
  private val WinnowM = 2147483647L // 2^31 - 1

  /** Rolling Rabin-Karp k-gram hashes over a codepoint array — the
    * O(1)-per-char recurrence (h·B + c − c_out·B^(k-1), all mod M)
    * shared by [[winnowFp]] and [[cdcChunks]]. Returns one hash per
    * gram start (n−k+1 entries); EMPTY when n < k — each caller owns
    * its own short-document convention. */
  private[operators] def rollingGramHashes(cps: Array[Int], k: Int, b: Long, m: Long): Array[Long] = {
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    var bk1 = 1L
    var j = 1
    while (j < k) { bk1 = bk1 * b % m; j += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * b + cps(i)) % m; i += 1 }
    out(0) = h
    while (i < n) {
      h = ((h - cps(i - k) * bk1 % m + m) % m * b + cps(i)) % m
      out(i - k + 1) = h
      i += 1
    }
    out
  }

  /** The SQL twin of [[rollingGramHashes]]: the positional gram-sum
    * expression Σ ord(t[i+j])·(B^(k−1−j) mod M), for a text column
    * named `t` and position variable `i`. INT64 safety: the
    * coefficients are the MOD-REDUCED powers (< 2^31), so the worst
    * 8-term sum is < 2e16 ≪ 2^63 even at codepoint U+10FFFF — raw
    * powers (257^7 ≈ 7.4e16) WOULD overflow at ord ≥ 125 and are
    * never emitted. Shared by [[winnowCteSql]] and [[qCdcChunksSql]]. */
  private[operators] def gramHashTermsSql(k: Int, b: Long, m: Long): String = {
    val pows = {
      var p = 1L
      val ps = new Array[Long](k)
      (0 until k).foreach { j => ps(k - 1 - j) = p; p = p * b % m }
      ps
    }
    (0 until k).map(j =>
      s"CAST(ord(substring(t, CAST(i+${j + 1} AS INTEGER), 1)) AS BIGINT) * ${pows(j)}")
      .mkString(" + ")
  }

  /** (doc_id, n_grams, fp) — the winnowing fingerprint SET per doc,
    * shared by [[qWinnowFingerprint]] (summary row) and
    * [[Dedup.qWinnowPairs]] (inverted-index near-dup join). */
  private[operators] def winnowFp(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_grams", LongType),
      StructField("fp", ArrayType(LongType))))
    val (k, w, b, m) = (WinnowK, WinnowW, WinnowB, WinnowM)
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.map { r =>
          val t = duckCollapse(r.getString(1))
          // codePOINTS, not UTF-16 units: the oracle's ord()/length()
          // are codepoint-based (the qDiversity discipline)
          val cps = t.codePoints().toArray
          val n = cps.length
          val rolled = rollingGramHashes(cps, k, b, m)
          // winnow's short-doc convention: a single length-derived hash
          val hs: Array[Long] = if (n < k) Array(n.toLong % m) else rolled
          // sliding-window minimum via monotonic deque (indices of
          // candidate minima, increasing hash value front to back)
          val mins =
            if (hs.length < w) Array(hs.min)
            else {
              val out = new Array[Long](hs.length - w + 1)
              val dq = new java.util.ArrayDeque[Int]()
              var i = 0
              while (i < hs.length) {
                while (!dq.isEmpty && hs(dq.peekLast) >= hs(i)) dq.pollLast()
                dq.addLast(i)
                if (dq.peekFirst <= i - w) dq.pollFirst()
                if (i >= w - 1) out(i - w + 1) = hs(dq.peekFirst)
                i += 1
              }
              out
            }
          Row(r.getLong(0), hs.length.toLong, mins.toSet.toArray.sorted)
        }
      }(Encoders.row(schema))
  }

  def qWinnowFingerprint(s: SparkSession, dir: String): DataFrame =
    winnowFp(s, dir)
      .select(col("doc_id"), col("n_grams"),
        size(col("fp")).cast("long").as("n_fp"),
        // interpreted HOF, but over the ~100-element fingerprint set
        // per doc — vocabulary-scale, not corpus-scale work
        aggregate(col("fp"), lit(0L), (acc, h) => acc.bitwiseXOR(h)).as("fp_xor"))
      .orderBy(col("doc_id"))

  /** CTE chain ending at `fps` (doc_id, n_grams, fp list) — the SQL
    * twin of [[winnowFp]], shared with the near-dup pair oracle.
    *
    * INT64 safety of the emitted gram sum: see [[gramHashTermsSql]]
    * (verified in DuckDB with codepoints ≥ 125, incl. U+1F600). */
  private[operators] val winnowCteSql: String = {
    val terms = gramHashTermsSql(WinnowK, WinnowB, WinnowM)
    val leastTerms = (1 to WinnowW).map(j => s"hv[p+$j]").mkString(", ")
    s"""norm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |hs AS (SELECT doc_id,
       |  CASE WHEN length(t) >= $WinnowK
       |    THEN list_transform(range(length(t) - $WinnowK + 1), i -> ($terms) % $WinnowM)
       |    ELSE [length(t)::BIGINT % $WinnowM] END AS hv
       |  FROM norm),
       |fps AS (SELECT doc_id, len(hv) AS n_grams,
       |  list_distinct(CASE WHEN len(hv) >= $WinnowW
       |    THEN list_transform(range(len(hv) - $WinnowW + 1), p -> least($leastTerms))
       |    ELSE [list_min(hv)] END) AS fp
       |  FROM hs)""".stripMargin
  }

  val qWinnowFingerprintSql: String =
    s"""WITH $winnowCteSql,
       |f AS (SELECT doc_id, n_grams, unnest(fp) AS h FROM fps)
       |SELECT doc_id, CAST(max(n_grams) AS BIGINT) AS n_grams,
       |  count(*) AS n_fp, CAST(bit_xor(h) AS BIGINT) AS fp_xor
       |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // CONTENT-DEFINED CHUNKING DEDUP — the storage-level span dedup
  // primitive (Rabin-fingerprint CDC, as in LBFS/Venti and the
  // FastCDC line of work): cut each document where the rolling
  // k-gram hash ≡ 0 mod D, so chunk boundaries are CONTENT-anchored
  // — an insertion shifts only the chunks it touches, unlike
  // fixed-size blocks where one byte shifts every boundary. Identical
  // spans across documents then hash to identical chunks, and the
  // gated table is the per-document dedup accounting a 100 TB store
  // actually bills by: chunk counts and how many characters live in
  // chunks shared with ANOTHER document.
  //
  // Differences from production FastCDC, by construction: the
  // min/max-size bounds are sequential (a cut's eligibility depends
  // on the previous cut), so the cut set here is the PURE content
  // condition — order-independent, hence expressible identically in
  // both engines — and the min-size rule moves to the ACCOUNTING:
  // chunks shorter than [[CdcMinLen]] are never dedup candidates
  // (real stores inline sub-minimum chunks rather than index them).
  // Mean chunk length is the divisor D = 64 chars.
  //
  // Scale shape: the kernel is the [[winnowFp]] O(1)-per-char rolling
  // recurrence (same k/B/M constants), map-only over the corpus;
  // chunk instances are fixed-width (doc_id, idx, clen, h64) rows —
  // text never shuffles, only 60-bit md5-derived chunk ids do. The
  // chunk-population rollup shuffles once on h64 and the per-doc
  // rollup once on doc_id. Exact integers throughout.
  private val CdcDivisor = 64L
  private val CdcMinLen = 16L

  /** Chunk instances: (doc_id, idx, clen, h64) — h64 is the first 15
    * md5 hex chars of the chunk text as a 60-bit long, the
    * [[Dedup.md5Mod]] digest with no modular reduction. */
  private[operators] def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("idx", LongType),
      StructField("clen", LongType),
      StructField("h64", LongType)))
    val (k, b, m, d) = (WinnowK, WinnowB, WinnowM, CdcDivisor)
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus -> ~3 scan partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val t = duckCollapse(r.getString(1))
          val cps = t.codePoints().toArray
          val n = cps.length
          // cut AFTER codepoint j+k-1 when the gram hash at j ≡ 0 mod
          // D (never at n: no empty tail chunk); docs shorter than k
          // carry no grams and stay one chunk
          val hs = rollingGramHashes(cps, k, b, m)
          val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
          var j = 0
          while (j < hs.length) {
            if (hs(j) % d == 0L && j + k < n) cuts += (j + k)
            j += 1
          }
          val starts = 0 +: cuts
          starts.iterator.zipWithIndex.map { case (st, ci) =>
            val fin = if (ci + 1 < starts.length) starts(ci + 1) else n
            val text = new String(cps, st, fin - st)
            Row(r.getLong(0), (ci + 1).toLong, (fin - st).toLong,
              Dedup.md5Mod(md, text, Long.MaxValue))
          }
        }
      }(Encoders.row(schema))
  }

  def qCdcChunks(s: SparkSession, dir: String): DataFrame = {
    // checkpointed once: the instance table feeds the cross-doc
    // population rollup AND the final per-doc join (the groupBy+join
    // twin-subtree trap does not bite a checkpointed source)
    val ck = cdcChunks(s, dir).localCheckpoint()
    val dh = ck.filter(col("clen") >= CdcMinLen)
      .groupBy(col("h64")).agg(countDistinct(col("doc_id")).as("n_docs"))
    ck.join(dh, Seq("h64"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h64")).as("n_unique"),
        countDistinct(when(col("n_docs") > 1, col("h64"))).as("n_shared"),
        coalesce(sum(when(col("n_docs") > 1, col("clen")).otherwise(0L)), lit(0L)).as("shared_chars"),
        sum(col("clen")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val qCdcChunksSql: String = {
    val terms = gramHashTermsSql(WinnowK, WinnowB, WinnowM)
    s"""WITH norm AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |hs AS (SELECT doc_id, t, length(t) AS n,
       |  CASE WHEN length(t) >= $WinnowK
       |    THEN list_transform(range(length(t) - $WinnowK + 1), i -> ($terms) % $WinnowM)
       |    ELSE [] END AS hv
       |  FROM norm),
       |cuts AS (SELECT doc_id, unnest(list_filter(list_transform(range(len(hv)), i ->
       |    CASE WHEN hv[i+1] % $CdcDivisor = 0 AND i + $WinnowK < n THEN i + $WinnowK ELSE -1 END), x -> x >= 0)) AS cut
       |  FROM hs),
       |starts AS (SELECT doc_id, 0 AS start FROM hs UNION ALL SELECT doc_id, cut FROM cuts),
       |spans AS (SELECT s.doc_id, s.start,
       |    coalesce(lead(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start), h.n) AS fin
       |  FROM starts s JOIN hs h USING (doc_id)),
       |ck AS MATERIALIZED (SELECT sp.doc_id, sp.fin - sp.start AS clen,
       |    CAST(('0x' || substring(md5(substring(h.t, CAST(sp.start + 1 AS INTEGER), CAST(sp.fin - sp.start AS INTEGER))), 1, 15)) AS BIGINT) AS h64
       |  FROM spans sp JOIN hs h USING (doc_id)),
       |dh AS (SELECT h64, count(DISTINCT doc_id) AS n_docs FROM ck WHERE clen >= $CdcMinLen GROUP BY h64)
       |SELECT ck.doc_id, count(*) AS n_chunks, count(DISTINCT ck.h64) AS n_unique,
       |  CAST(count(DISTINCT CASE WHEN dh.n_docs > 1 THEN ck.h64 END) AS BIGINT) AS n_shared,
       |  CAST(coalesce(sum(CASE WHEN dh.n_docs > 1 THEN ck.clen ELSE 0 END), 0) AS BIGINT) AS shared_chars,
       |  CAST(sum(ck.clen) AS BIGINT) AS n_chars
       |FROM ck LEFT JOIN dh USING (h64) GROUP BY ck.doc_id ORDER BY ck.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // BPE PAIR-MERGE STEP — one full iteration of the byte-pair-
  // encoding trainer loop (the tokenizer-training primitive every
  // LLM data pipeline runs): count adjacent symbol pairs over the
  // corpus vocabulary, pick the most frequent pair (rank-
  // deterministic tiebreak: count DESC, pair ASC), apply the merge
  // greedily left-to-right in every word type, and re-count. A
  // training driver loops this query, feeding each round's merged
  // vocabulary back — exactly like [[Similarity.qKmeansStep]] for
  // IVF codebooks.
  //
  // Scale shape: the one corpus-proportional stage is the word-type
  // rollup (tokenize kernel + groupBy word, map-side combined — only
  // (word, partial-count) pairs shuffle, the [[qVocab]] precedent);
  // everything after operates on the VOCABULARY (word types ×
  // frequencies), which is sublinear in corpus size — the reason
  // real BPE trainers run on type tables, not token streams. The
  // per-type pair extraction is a Catalyst HOF over vocab-sized
  // input (interpreted, but vocabulary-proportional — the measured
  // sim_quantize_int8 rule: don't kernelize cold loops), and the
  // rank windows order a ≤|alphabet|² pair table. Exact integer
  // counts throughout; the merge is `replace()` — greedy
  // left-to-right non-overlapping in BOTH engines, so "aaa" under
  // merge "aa" yields [aa][a] identically. The merged symbol is a
  // marker char from the Unicode PRIVATE-USE plane (U+E001+, chosen
  // over \x01.. control chars: corpus control bytes are plausible,
  // private-use codepoints are author-assigned by definition -- a
  // corpus collision would silently diverge the trainer's foldRight
  // rendering from the oracle's ascending CTE folds). BMP single
  // chars on both engines, so length()/replace() agree. Rank ties
  // break on the RAW pair (binary collation both sides) before the
  // marker is rendered back for display.
  private val BpeTopK = 10
  private val BpeMarker = "\uE001"

  /** Word types × frequencies — the vocabulary table a BPE trainer
    * iterates on (the only corpus-proportional stage; the tokenize
    * kernel + map-side-combined groupBy is the [[qVocab]] shape).
    * 1-char types carry no pairs and no 2-symbol merge can touch
    * them, so they are filtered once here. */
  private def wordTypes(s: SparkSession, dir: String): DataFrame =
    wordTypesWhere(s, dir, lit(true))

  /** [[wordTypes]] over a document subset — the holdout trainer's
    * corpus split (the filter reaches the parquet scan). */
  private def wordTypesWhere(s: SparkSession, dir: String, docPred: Column): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val uniSchema = StructType(Seq(StructField("word", StringType)))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(docPred)
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { r =>
          duckWords(r.getString(1))
            .iterator.map(Row(_))
        }
      }(Encoders.row(uniSchema))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .filter(length(col("word")) >= 2)
  }

  private def bpePairsOf(w: Column): Column =
    transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2)))

  /** Pair counts over a (word, f) vocabulary. The length >= 2 filter
    * is load-bearing on MERGED vocabularies, not just the initial
    * one: a word type equal to a winning pair collapses to the
    * 1-char marker, where Spark's `sequence(1, 0)` yields the
    * DESCENDING [1, 0] — two phantom marker "pairs" the oracle
    * (empty `range(0)` + its own length filter) never produces. */
  private def bpePairCounts(types: DataFrame): DataFrame = types
    .filter(length(col("word")) >= 2)
    .select(explode(bpePairsOf(col("word"))).as("pair"), col("f"))
    .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))

  def qBpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wf = wordTypes(s, dir)
    def pairCounts(types: DataFrame) = bpePairCounts(types)
    val before = pairCounts(wf)
    val best = before.orderBy(col("cnt").desc, col("pair")).limit(1)
      .select(col("pair").as("bp"))
    val merged = wf.crossJoin(broadcast(best))
      .select(replace(col("word"), col("bp"), lit(BpeMarker)).as("word"), col("f"))
    val after = pairCounts(merged)
    // rank windows order the ≤|alphabet|²-row pair table — vocab
    // metadata, not data (no single-partition window over the corpus)
    val wRank = Window.orderBy(col("cnt").desc, col("pair"))
    val beforeTop = before.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= BpeTopK)
      .select(lit("1_before").as("phase"), col("rank"), col("pair"), col("cnt"))
    val afterTop = after.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= BpeTopK)
      .crossJoin(broadcast(best))
      .select(lit("2_after").as("phase"), col("rank"),
        replace(col("pair"), lit(BpeMarker), col("bp")).as("pair"), col("cnt"))
    beforeTop.unionAll(afterTop).orderBy(col("phase"), col("rank"))
  }

  val qBpeMergeStepSql: String =
    s"""WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |wf AS (SELECT word, count(*) AS f FROM (SELECT unnest(ws) AS word FROM w) t
       |  WHERE length(word) >= 2 GROUP BY word),
       |pb AS (SELECT unnest(list_transform(range(length(word) - 1),
       |    i -> substring(word, CAST(i+1 AS INTEGER), 2))) AS pair, f FROM wf),
       |bc AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM pb GROUP BY pair),
       |best AS (SELECT pair AS bp FROM bc ORDER BY cnt DESC, pair LIMIT 1),
       |wf2 AS (SELECT replace(word, bp, chr(57345)) AS word, f FROM wf, best),
       |pa AS (SELECT unnest(list_transform(range(length(word) - 1),
       |    i -> substring(word, CAST(i+1 AS INTEGER), 2))) AS pair, f
       |  FROM wf2 WHERE length(word) >= 2),
       |ac AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM pa GROUP BY pair),
       |bt AS (SELECT '1_before' AS phase,
       |  ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank, pair, cnt FROM bc),
       |at2 AS (SELECT '2_after' AS phase,
       |  ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS rank,
       |  replace(pair, chr(57345), (SELECT bp FROM best)) AS pair, cnt FROM ac)
       |SELECT phase, rank, pair, cnt FROM (
       |  SELECT * FROM bt WHERE rank <= $BpeTopK
       |  UNION ALL SELECT * FROM at2 WHERE rank <= $BpeTopK) u
       |ORDER BY phase, rank""".stripMargin

  // ---------------------------------------------------------------
  // BPE TRAINER LOOP, 3 MERGES — [[qBpeMergeStep]] iterated the way a
  // real trainer runs it: each round counts pairs over the CURRENT
  // merged vocabulary, argmaxes (same count-DESC/pair-ASC
  // determinism), applies the merge, and feeds the vocabulary to the
  // next round. Each round's vocabulary is localCheckpoint'ed (the
  // [[Dedup.resolveComponents]] iteration discipline: the plan must
  // not re-grow — without it round 3 would re-run the tokenize kernel
  // ~5×). Merged symbols are private-use markers U+E001/E002/E003;
  // later merges can therefore select pairs CONTAINING earlier merged
  // symbols, and the output renders them back recursively (newest
  // marker first), so the learned merge table reads as real strings.
  // Output: (merge_idx, pair, cnt) — the first three rows of the
  // merges.txt every BPE tokenizer ships.
  private val BpeTrainMarkers = Seq("\uE001", "\uE002", "\uE003")

  /** The 3-round learned merge table: (b1, b2, b3), each a 1-row
    * (bp, cnt) frame over the evolving vocabulary. Shared by the
    * trainer output ([[qBpeTrain3]]) and the encoder
    * ([[qBpeEncode]]). */
  private def bpeMerges3(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    def top1(counts: DataFrame) =
      counts.orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair").as("bp"), col("cnt"))
    val wf1 = wordTypes(s, dir).localCheckpoint()
    val b1 = top1(bpePairCounts(wf1))
    val wf2 = wf1.crossJoin(broadcast(b1.select(col("bp").as("m1"))))
      .select(replace(col("word"), col("m1"), lit(BpeTrainMarkers(0))).as("word"), col("f"))
      .localCheckpoint()
    val b2 = top1(bpePairCounts(wf2))
    val wf3 = wf2.crossJoin(broadcast(b2.select(col("bp").as("m2"))))
      .select(replace(col("word"), col("m2"), lit(BpeTrainMarkers(1))).as("word"), col("f"))
      .localCheckpoint()
    val b3 = top1(bpePairCounts(wf3))
    (b1, b2, b3)
  }

  def qBpeTrain3(s: SparkSession, dir: String): DataFrame = {
    val (b1, b2, b3) = bpeMerges3(s, dir)
    val refs = b1.select(col("bp").as("r1")).crossJoin(b2.select(col("bp").as("r2")))
    b1.select(lit(1).as("merge_idx"), col("bp"), col("cnt"))
      .unionAll(b2.select(lit(2).as("merge_idx"), col("bp"), col("cnt")))
      .unionAll(b3.select(lit(3).as("merge_idx"), col("bp"), col("cnt")))
      .crossJoin(broadcast(refs))
      .select(col("merge_idx"),
        replace(replace(col("bp"), lit(BpeTrainMarkers(1)), col("r2")),
          lit(BpeTrainMarkers(0)), col("r1")).as("pair"),
        col("cnt"))
      .orderBy(col("merge_idx"))
  }

  val qBpeTrain3Sql: String = {
    def pairs(src: String) =
      s"""SELECT unnest(list_transform(range(length(word) - 1),
         |    i -> substring(word, CAST(i+1 AS INTEGER), 2))) AS pair, f
         |  FROM $src WHERE length(word) >= 2""".stripMargin
    s"""WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |wf1 AS (SELECT word, count(*) AS f FROM (SELECT unnest(ws) AS word FROM w) t
       |  WHERE length(word) >= 2 GROUP BY word),
       |bc1 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (${pairs("wf1")}) GROUP BY pair),
       |b1 AS (SELECT pair AS bp, cnt FROM bc1 ORDER BY cnt DESC, pair LIMIT 1),
       |wf2 AS (SELECT replace(word, bp, chr(57345)) AS word, f FROM wf1, b1),
       |bc2 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (${pairs("wf2")}) GROUP BY pair),
       |b2 AS (SELECT pair AS bp, cnt FROM bc2 ORDER BY cnt DESC, pair LIMIT 1),
       |wf3 AS (SELECT replace(word, bp, chr(57346)) AS word, f FROM wf2, b2),
       |bc3 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (${pairs("wf3")}) GROUP BY pair),
       |b3 AS (SELECT pair AS bp, cnt FROM bc3 ORDER BY cnt DESC, pair LIMIT 1)
       |SELECT 1 AS merge_idx, bp AS pair, cnt FROM b1
       |UNION ALL
       |SELECT 2, replace(bp, chr(57345), (SELECT bp FROM b1)), cnt FROM b2
       |UNION ALL
       |SELECT 3, replace(replace(bp, chr(57346), (SELECT bp FROM b2)), chr(57345), (SELECT bp FROM b1)), cnt FROM b3
       |ORDER BY merge_idx""".stripMargin
  }

  // ---------------------------------------------------------------
  // BPE TRAINER TO A REAL VOCABULARY — [[qBpeTrain3]]'s loop run to
  // rank k=16 with a data-driven STOP: each round counts pairs over
  // the current vocabulary, argmaxes (count DESC, pair ASC), applies
  // the merge, and stops early once the best pair's count falls below
  // [[BpeMinPairCount]] (counts are non-increasing across rounds — a
  // new pair's count is bounded by the merged symbol's — so the
  // per-round check is a true fixpoint test, and the oracle's
  // independent per-row cnt filter selects exactly the same rows).
  // The learned table itself is DRIVER-HELD vocabulary metadata (16
  // (pair, count) rows — the PQ-codebook class of materialization);
  // the corpus-proportional work stays in the per-round distributed
  // aggregates, each over the checkpointed base vocabulary and the
  // merges' replace projections (per-round cost is vocabulary-sized
  // and measured in PLANS.md). The rounds run in [[Fixpoint]], which
  // frees the base once the table is learned. Memoized per
  // (session, dir) in [[Memo]]: the encoder replays the same table.
  // Output: (merge_idx, pair, cnt, vocab_size) — merges.txt plus the
  // vocabulary-size trajectory |alphabet| + rank.
  private val BpeTrainK = 16
  private val BpeMinPairCount = 2L
  private val BpeKMarkers: Seq[String] = (1 to BpeTrainK).map(i => (0xE000 + i).toChar.toString)

  /** The learned rank-k merge table: (raw pair incl. marker symbols,
    * rendered pair, count), in rank order. */
  private[operators] def bpeMergesK(s: SparkSession, dir: String): Seq[(String, String, Long)] =
    Memo.get("bpe_merges_k", s, dir)(trainMerges(s, wordTypes(s, dir)))

  /** The rank-k trainer over an arbitrary starting vocabulary, which it
    * checkpoints and frees — shared by the full-corpus (memoized) table
    * and the holdout trainer's split vocabulary. */
  private def trainMerges(s: SparkSession, vocab: DataFrame): Seq[(String, String, Long)] =
    Fixpoint.run(s, aqe = true) { fp =>
      val start = (fp.checkpoint(vocab), Vector.empty[(String, String, Long)])
      fp.loop(BpeTrainK, start) { case ((wf, out), _) =>
        val top = bpePairCounts(wf).orderBy(col("cnt").desc, col("pair")).limit(1).collect()
        if (top.isEmpty || top(0).getLong(1) < BpeMinPairCount) Fixpoint.Round((wf, out), done = true)
        else {
          val (bp, cnt) = (top(0).getString(0), top(0).getLong(1))
          // render markers back to strings (rendered forms are
          // marker-free, so replacement order is immaterial)
          val rendered = out.indices.foldRight(bp)((j, acc) =>
            acc.replace(BpeKMarkers(j), out(j)._2))
          // the merged vocabulary stays a LINEAGE of replace projections
          // over the checkpointed base vocab (r17): a per-merge
          // localCheckpoint cost one extra job per merge round (2K jobs
          // per trainer at K=16) to materialize a vocabulary-sized frame
          // that only the next round's one collect reads. The chain is K
          // nested map-only projects over ≤|vocab| rows — re-executing
          // round j's replaces on round j+1's collect is microseconds of
          // CPU, while the saved jobs are the board's per-job dispatch
          // tax. Same expressions, same engine — no semantics change.
          val merged = wf.select(
            replace(col("word"), lit(bp), lit(BpeKMarkers(out.length))).as("word"), col("f"))
          Fixpoint.Round((merged, out :+ ((bp, rendered, cnt))))
        }
      }.state._2
    }

  /** Drops every operator memo ([[Memo.reset]]); kept public for
    * the perfbench harness, which calls it before each query. */
  def resetMemos(): Unit = Memo.reset()

  def qBpeTrainK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = bpeMergesK(s, dir)
    val alpha = wordTypes(s, dir)
      .select(explode(transform(
        sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1)))).as("ch"))
      .agg(countDistinct(col("ch")).as("a"))
    merges.zipWithIndex
      .map { case ((_, rendered, cnt), i) => (i + 1, rendered, cnt) }
      .toDF("merge_idx", "pair", "cnt")
      .crossJoin(broadcast(alpha))
      .select(col("merge_idx"), col("pair"), col("cnt"),
        (col("a") + col("merge_idx")).as("vocab_size"))
      .orderBy(col("merge_idx"))
  }

  /** CTE chain wf1, bc1..bcK, b1..bK (+ rendered r1..rK) — the
    * unrolled SQL twin of [[bpeMergesK]]. The wf(i+1) CASE guard
    * mirrors the trainer's stop: a sub-threshold best pair is never
    * applied, so the oracle's vocabulary evolution tracks the
    * trainer's exactly even past the stop point. */
  private lazy val bpeKCtesSql: String = bpeKCtesSqlWhere("")

  /** The same unrolled trainer chain over a document subset (the
    * holdout split's training corpus). */
  private def bpeKCtesSqlWhere(where: String): String = {
    def pairsOf(src: String) =
      s"""SELECT unnest(list_transform(range(length(word) - 1),
         |    i -> substring(word, CAST(i+1 AS INTEGER), 2))) AS pair, f
         |  FROM $src WHERE length(word) >= 2""".stripMargin
    val sb = new StringBuilder
    sb.append("w AS MATERIALIZED (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS ws" +
      s" FROM documents$where),\n")
    sb.append("wf1 AS MATERIALIZED (SELECT word, count(*) AS f FROM (SELECT unnest(ws) AS word FROM w) t\n")
    sb.append("  WHERE length(word) >= 2 GROUP BY word)")
    for (i <- 1 to BpeTrainK) {
      sb.append(s",\nbc$i AS MATERIALIZED (SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (${pairsOf(s"wf$i")}) GROUP BY pair)")
      sb.append(s",\nb$i AS MATERIALIZED (SELECT pair AS bp, cnt FROM bc$i ORDER BY cnt DESC, pair LIMIT 1)")
      if (i < BpeTrainK)
        sb.append(s",\nwf${i + 1} AS MATERIALIZED (SELECT CASE WHEN (SELECT cnt FROM b$i) >= $BpeMinPairCount" +
          s" THEN replace(word, (SELECT bp FROM b$i), chr(${0xE000 + i})) ELSE word END AS word, f FROM wf$i)")
    }
    for (i <- 1 to BpeTrainK) {
      val rep = (1 until i).foldLeft("bp")((acc, j) =>
        s"replace($acc, chr(${0xE000 + j}), (SELECT p FROM r$j))")
      sb.append(s",\nr$i AS MATERIALIZED (SELECT $rep AS p, cnt FROM b$i)")
    }
    sb.toString
  }

  val qBpeTrainKSql: String = {
    val union = (1 to BpeTrainK)
      .map(i => s"SELECT $i AS merge_idx, p AS pair, cnt FROM r$i WHERE cnt >= $BpeMinPairCount")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeKCtesSql,
alpha AS (SELECT CAST(count(DISTINCT ch) AS BIGINT) AS a FROM (
  SELECT unnest(list_transform(range(length(word)),
    i -> substring(word, CAST(i+1 AS INTEGER), 1))) AS ch FROM wf1)),
u AS (
$union
)
SELECT merge_idx, pair, cnt, CAST(a + merge_idx AS BIGINT) AS vocab_size
FROM u, alpha ORDER BY merge_idx"""
  }

  // ---------------------------------------------------------------
  // BPE ENCODE — the APPLY side of the tokenizer loop: the FULL
  // rank-k learned table ([[bpeMergesK]]) applied to every document
  // in rank order, emitting exact per-doc symbol counts before/after
  // and the saving in integer parts-per-million. Training is
  // vocabulary-sized, encoding is the corpus-sized map-only pass
  // (the k merges are literals in one projection, no shuffle but the
  // presentation sort) — the shape a 100 TB tokenize job must have.
  // Merges apply to the whitespace-normalized text directly: pairs
  // never contain a space, so `replace` cannot merge across word
  // boundaries, and symbol counts are `length` minus spaces (markers
  // are 1-char symbols by construction).
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesK(s, dir)
    val norm = regexp_replace(lower(trim(col("text"))), s"[$Re2Ws]+", " ")
    val encoded = merges.zipWithIndex.foldLeft(norm) {
      case (acc, ((bp, _, _), i)) => replace(acc, lit(bp), lit(BpeKMarkers(i)))
    }
    val nBefore = length(regexp_replace(norm, " ", ""))
    val nAfter = length(regexp_replace(encoded, " ", ""))
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .select(col("doc_id"),
        nBefore.cast("long").as("n_sym_before"),
        nAfter.cast("long").as("n_sym_after"))
      .withColumn("saved_ppm",
        expr("(n_sym_before - n_sym_after) * 1000000 div n_sym_before"))
      .orderBy(col("doc_id"))
  }

  // one CTE per merge, NOT a nested CASE chain: nesting duplicates
  // the accumulated expression twice per level (2^k planner blowup —
  // measured as a 22 GB DuckDB runaway at k=16); a chained CTE's `t`
  // is a column reference, so each level stays flat. Shared by the
  // full-corpus encode and the holdout split encode.
  private def bpeEncChainCols(carried: String): String = (1 to BpeTrainK).map { i =>
    s"enc$i AS MATERIALIZED (SELECT $carried," +
      s" CASE WHEN (SELECT cnt FROM b$i) >= $BpeMinPairCount" +
      s" THEN replace(t, (SELECT bp FROM b$i), chr(${0xE000 + i})) ELSE t END AS t" +
      s" FROM enc${i - 1})"
  }.mkString(",\n")

  private lazy val bpeEncChainSql: String = bpeEncChainCols("doc_id, n_sym_before")

  val qBpeEncodeSql: String = {
    val encChain = bpeEncChainSql
    s"""WITH $bpeKCtesSql,
norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents),
enc0 AS (SELECT doc_id, length(replace(t, ' ', '')) AS n_sym_before, t FROM norm),
$encChain
SELECT doc_id, CAST(n_sym_before AS BIGINT) AS n_sym_before,
  CAST(length(replace(t, ' ', '')) AS BIGINT) AS n_sym_after,
  CAST((n_sym_before - length(replace(t, ' ', ''))) * 1000000 // n_sym_before AS BIGINT) AS saved_ppm
FROM enc$BpeTrainK ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------
  // TOKENIZER FERTILITY BY LANGUAGE — the tokenizer-equity
  // measurement a multilingual pipeline gates before shipping a
  // vocabulary: BPE symbols-per-word (×1000) and compression, per
  // language. A vocabulary trained on a mixed corpus systematically
  // over-segments under-represented languages ("fertility" in the
  // tokenizer literature); this rolls [[qBpeEncode]]'s per-doc
  // encode up by `lang` so the disparity is one gated row per
  // language. Exact integer rates over per-language sums (ratios of
  // sums, not means of ratios — the doc-length weighting a corpus
  // budget actually experiences). Scale shape: the learned table is
  // rank-k literals broadcast inside one map-only projection; one
  // partial-agg shuffle of 5 language rows.
  def qFertility(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesK(s, dir)
    val norm = regexp_replace(lower(trim(col("text"))), s"[$Re2Ws]+", " ")
    val encoded = merges.zipWithIndex.foldLeft(norm) {
      case (acc, ((bp, _, _), i)) => replace(acc, lit(bp), lit(BpeKMarkers(i)))
    }
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(lower(trim(col("text"))), s"[$Re2Ws]+")).cast("long").as("n_words"),
        length(regexp_replace(norm, " ", "")).cast("long").as("n_sym_before"),
        length(regexp_replace(encoded, " ", "")).cast("long").as("n_sym_after"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_sym_before")).as("n_sym_before"),
        sum(col("n_sym_after")).as("n_sym_after"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_sym_before"), col("n_sym_after"),
        expr("n_sym_after * 1000 div n_words").as("fert_pm"),
        expr("(n_sym_before - n_sym_after) * 1000000 div n_sym_before").as("saved_ppm"))
      .orderBy(col("lang"))
  }

  val qFertilitySql: String = {
    val encChain = bpeEncChainCols("lang, n_words, n_sym_before")
    s"""WITH $bpeKCtesSql,
norm AS (SELECT lang,
  len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_words,
  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents),
enc0 AS (SELECT lang, n_words, length(replace(t, ' ', '')) AS n_sym_before, t FROM norm),
$encChain,
per AS (SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_words,
  CAST(sum(n_sym_before) AS BIGINT) AS n_sym_before,
  CAST(sum(length(replace(t, ' ', ''))) AS BIGINT) AS n_sym_after
  FROM enc$BpeTrainK GROUP BY lang)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_words, n_sym_before, n_sym_after,
  CAST(n_sym_after * 1000 // n_words AS BIGINT) AS fert_pm,
  CAST((n_sym_before - n_sym_after) * 1000000 // n_sym_before AS BIGINT) AS saved_ppm
FROM per ORDER BY lang"""
  }

  // ---------------------------------------------------------------
  // BPE HOLDOUT — the tokenizer-generalization measurement a real
  // pipeline makes before shipping a vocabulary: train the rank-k
  // table on HALF the corpus (even doc_ids), apply it to BOTH
  // splits, and gate the compression each split achieves. The
  // holdout row's saved_ppm minus the train row's is the
  // generalization gap; on a domain-shifted corpus it collapses,
  // and gating both numbers makes that regression-visible. The
  // trainer reuses [[trainMerges]] on the filtered vocabulary
  // (the doc-parity filter reaches the parquet scan); the encode is
  // the same corpus-sized map-only projection as [[qBpeEncode]].
  def qBpeHoldout(s: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(s, wordTypesWhere(s, dir, col("doc_id") % 2 === 0))
    val norm = regexp_replace(lower(trim(col("text"))), s"[$Re2Ws]+", " ")
    val encoded = merges.zipWithIndex.foldLeft(norm) {
      case (acc, ((bp, _, _), i)) => replace(acc, lit(bp), lit(BpeKMarkers(i)))
    }
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .select(
        when(col("doc_id") % 2 === 0, "1_train").otherwise("2_holdout").as("split"),
        length(regexp_replace(norm, " ", "")).cast("long").as("nb"),
        length(regexp_replace(encoded, " ", "")).cast("long").as("na"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("sym_before"), sum(col("na")).as("sym_after"))
      .select(col("split"), col("n_docs"), col("sym_before"), col("sym_after"),
        expr("(sym_before - sym_after) * 1000000 div sym_before").as("saved_ppm"))
      .orderBy(col("split"))
  }

  val qBpeHoldoutSql: String =
    s"""WITH ${bpeKCtesSqlWhere(" WHERE doc_id % 2 = 0")},
norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents),
enc0 AS (SELECT doc_id, length(replace(t, ' ', '')) AS n_sym_before, t FROM norm),
$bpeEncChainSql,
f AS (SELECT CASE WHEN doc_id % 2 = 0 THEN '1_train' ELSE '2_holdout' END AS split,
  n_sym_before AS nb, length(replace(t, ' ', '')) AS na FROM enc$BpeTrainK)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(nb) AS BIGINT) AS sym_before, CAST(sum(na) AS BIGINT) AS sym_after,
  CAST((sum(nb) - sum(na)) * 1000000 // sum(nb) AS BIGINT) AS saved_ppm
FROM f GROUP BY split ORDER BY split"""

  // ---------------------------------------------------------------
  // BM25 RELEVANCE SCORING — the ranking function behind keyword
  // retrieval (and the "quality by query affinity" signal training
  // pipelines use for targeted corpus selection). Scores are the
  // k1=1.2 / b=0.75 Robertson formula re-expressed as pure integer
  // arithmetic so both engines agree exactly: with N docs, L total
  // tokens, per-doc length dl and term frequency tf, the per-term
  // score is
  //   44e6·tf·(2N−2df+1) / [((20tf+6) + floor(18·dl·N / L))·(2df+1)]
  // floored to ppm — k1/b cleared to the rationals 6/5 and 3/4, the
  // idf as the rational (N−df+½)/(df+½) cross-multiplied (no libm:
  // the float BM25's ln(idf) would differ in the last ulp across
  // engines), and the dl/avgdl length normalization floored INSIDE
  // the denominator so every intermediate stays in BIGINT at any SF.
  // Scale shape: one tokenize kernel emits 3 fixed-width rows per
  // doc (localCheckpointed so corpus/df stats and scoring share the
  // single kernel pass); df and the corpus totals are broadcast
  // 1-to-3-row frames; the top-20 rides TakeOrderedAndProject
  // (per-partition partial top-k), so nothing corpus-sized shuffles.
  private val Bm25Terms = Seq("spark", "merge", "window")
  private val Bm25TopN = 20

  def qBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Bm25Terms.toArray
    val tf = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // single-file corpus scans as ~3 partitions; pin the kernel width
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val ws = duckWords(r.getString(1))
          val counts = new Array[Long](terms.length)
          var i = 0
          while (i < ws.length) {
            var t = 0
            while (t < terms.length) { if (ws(i) == terms(t)) counts(t) += 1; t += 1 }
            i += 1
          }
          val id = r.getLong(0)
          val dl = ws.length.toLong
          terms.indices.iterator.map(t => (id, dl, terms(t), counts(t)))
        }
      }.toDF("doc_id", "dl", "term", "tf")
      .localCheckpoint() // 3 fixed-width rows/doc; one kernel pass for 3 consumers
    val corpus = tf.filter(col("term") === lit(terms.head))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).cast("long").as("l"))
    // df seeded from the query-term literal, not derived from the
    // tf>0 slice alone: a term absent corpus-wide has df=0 — deriving
    // df by grouping the tf>0 rows would drop that term from the
    // inner join below entirely (empty result), while the oracle's
    // count-FILTER df keeps the row and scores every doc 0 for it.
    val dft = terms.toSeq.toDF("term")
      .join(tf.filter(col("tf") > 0)
        .groupBy(col("term")).agg(count(lit(1)).cast("long").as("dfc")), Seq("term"), "left")
      .select(col("term"), coalesce(col("dfc"), lit(0L)).as("df"))
    tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(corpus))
      // numerator through DECIMAL(38,0): three BIGINT factors overflow
      // Long at ~1e10-doc corpus counts (the qDsir rule; oracle twin
      // uses HUGEINT)
      .withColumn("s_micro", when(col("tf") > 0,
        expr("(cast(44000000 as decimal(38,0)) * tf * (2*n - 2*df + 1)) div " +
          "(((20*tf + 6) + (18*dl*n) div l) * (2*df + 1))"))
        .otherwise(lit(0L)))
      .groupBy(col("doc_id"))
      .agg(sum(col("s_micro")).cast("long").as("bm25_micro"),
        sum(when(col("tf") > 0, 1L).otherwise(0L)).cast("long").as("n_terms"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(Bm25TopN)
  }

  val qBm25Sql: String =
    s"""WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM w),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM d),
       |t AS (SELECT unnest(${Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")}) AS term),
       |tf AS (SELECT doc_id, dl, term, CAST(len(list_filter(ws, x -> x = term)) AS BIGINT) AS tf
       |  FROM d CROSS JOIN t),
       |df AS (SELECT term, CAST(count(*) FILTER (WHERE tf > 0) AS BIGINT) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id,
       |  CASE WHEN tf.tf > 0 THEN
       |    CAST((44000000::HUGEINT * tf.tf * (2*c.n - 2*df.df + 1)) // (((20*tf.tf + 6) + (18*tf.dl*c.n) // c.l) * (2*df.df + 1)) AS BIGINT)
       |  ELSE 0 END AS s_micro,
       |  CASE WHEN tf.tf > 0 THEN 1 ELSE 0 END AS hit
       |  FROM tf JOIN df USING (term) CROSS JOIN c)
       |SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro,
       |  CAST(sum(hit) AS BIGINT) AS n_terms
       |FROM sc GROUP BY doc_id
       |ORDER BY bm25_micro DESC, doc_id LIMIT $Bm25TopN""".stripMargin

  // ---------------------------------------------------------------
  // BM25 MORE-LIKE-THIS RETRIEVAL — the end-to-end keyword twin of
  // [[Similarity.qTopkCosine]]: a probe SET (doc_id % 50 == 0, the
  // same stride and shared id space as the embedding probes, so the
  // two rankings fuse per qid in [[Similarity.qBm25Fusion]]) each
  // retrieves its top-k most-similar documents. The per-probe "query"
  // is its [[MltQTerms]] most DISTINCTIVE terms — ranked by the
  // integer tf·1e6 div df (rarity-weighted frequency, term-asc
  // tiebreak; the rational-idf discipline with no libm) — and every
  // document containing a query term is scored with the same integer
  // BM25 formula as [[qBm25]], summed over the probe's terms.
  //
  // Scale shape: tf/df/dl all come from ONE explode+groupBy pass
  // (fixed-width (doc, term, tf) rows; dl attaches via a window over
  // the same doc_id exchange). The probe query-term table is
  // |probes|·m rows and BROADCASTS; candidates are the posting lists
  // of m·|probes| terms — inverted-index bounded, never corpus ×
  // probes — and only fixed-width (qid, doc_id, score) rows reach the
  // top-k window. The BM25 numerator goes through DECIMAL(38,0) /
  // HUGEINT (three BIGINT factors overflow Long at ~1e10-doc corpus
  // counts — the qDsir lesson applied proactively).
  private val MltStride = 50
  private val MltQTerms = 5
  // package-visible: qBm25Fusion's Borda weight is MltTopK + 1 on
  // both engines — a literal there would silently diverge from the
  // ranking depth if this is retuned
  private[operators] val MltTopK = 5

  def qBm25Mlt(s: SparkSession, dir: String): DataFrame = {
    // width pin BEFORE the tokenize (r18; the CLAUDE.md
    // repartition-before-CPU-bound rule): the single-file corpus
    // scans as ONE partition, so the explode + tf partial aggregate
    // ran single-threaded — Profile stage 50: 2.3s wall / 1.75s CPU
    // on 1 task, 84% of this query's honest cost. hash(doc_id)
    // satisfies ClusteredDistribution for BOTH the (doc_id, term)
    // groupBy and the dl window, so the pin adds zero exchanges —
    // tokenize, tf and dl all share the one pinned layout.
    val terms = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    // one corpus pass: per-(doc,term) tf, with per-doc length dl
    // riding the same doc_id-keyed exchange as a window sum
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .localCheckpoint() // feeds query-term selection AND candidate scoring
    val dfr = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val corpus = tf.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("dl")).cast("long").as("l"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("tscore").desc, col("term"))
    val qterms = tf.filter(col("doc_id") % MltStride === 0)
      .join(dfr, "term")
      .select(col("doc_id").as("qid"), col("term"),
        expr("(tf * 1000000) div df").as("tscore"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= MltQTerms)
      .select(col("qid"), col("term"))
    val sMicro = expr(
      "(cast(44000000 as decimal(38,0)) * tf * (2*n - 2*df + 1)) div " +
        "(((20*tf + 6) + (18*dl*n) div l) * (2*df + 1))")
    val wk = Window.partitionBy(col("qid")).orderBy(col("bm25_micro").desc, col("doc_id"))
    tf.join(broadcast(qterms), "term")
      .filter(col("doc_id") =!= col("qid"))
      .join(broadcast(dfr), "term")
      .crossJoin(broadcast(corpus))
      .select(col("qid"), col("doc_id"), sMicro.as("s_micro"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("s_micro")).cast("long").as("bm25_micro"),
        count(lit(1)).cast("long").as("n_qterms"))
      .withColumn("rank", row_number().over(wk))
      .filter(col("rank") <= MltTopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("bm25_micro"), col("n_qterms"))
      .orderBy(col("qid"), col("rank"))
  }

  val qBm25MltSql: String =
    s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, term),
       |dlt AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS l FROM dlt),
       |qt AS (SELECT qid, term FROM (
       |  SELECT tf.doc_id AS qid, tf.term, (tf.tf * 1000000) // dfr.df AS tscore,
       |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * 1000000) // dfr.df DESC, tf.term) AS rn
       |  FROM tf JOIN dfr USING (term) WHERE tf.doc_id % $MltStride = 0) t
       |  WHERE rn <= $MltQTerms),
       |sc AS (SELECT qt.qid, tf.doc_id,
       |  CAST((44000000::HUGEINT * tf.tf * (2*c.n - 2*dfr.df + 1)) //
       |    (((20*tf.tf + 6) + (18*dd.dl*c.n) // c.l) * (2*dfr.df + 1)) AS BIGINT) AS s_micro
       |  FROM qt JOIN tf USING (term) JOIN dfr USING (term) JOIN dlt dd ON tf.doc_id = dd.doc_id
       |  CROSS JOIN c WHERE tf.doc_id <> qt.qid),
       |agg AS (SELECT qid, doc_id, CAST(sum(s_micro) AS BIGINT) AS bm25_micro,
       |  CAST(count(*) AS BIGINT) AS n_qterms FROM sc GROUP BY qid, doc_id),
       |r AS (SELECT qid, doc_id, bm25_micro, n_qterms,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm25_micro DESC, doc_id) AS rank FROM agg)
       |SELECT qid, rank, doc_id, bm25_micro, n_qterms FROM r
       |WHERE rank <= $MltTopK ORDER BY qid, rank""".stripMargin

  // ---------------------------------------------------------------
  // BIGRAM-LM QUALITY SCORING — the KenLM-filter shape every
  // production corpus pipeline runs (CCNet/RefinedWeb: score every
  // doc under a target-language n-gram LM, drop the low-scoring
  // tail). Train: bigram + unigram counts over the English TRAIN
  // split (lang='en' AND doc_id%10<8 — the samp_split holdout
  // discipline, so scored docs include text the model never saw).
  // Score: every doc's mean add-one-smoothed conditional probability
  // P(w2|w1) = (c12+1)/(c1+V). No libm and no unordered double sums:
  // each term goes to integer ppm via floor division FIRST
  // (non-negative operands, so Spark `div` == DuckDB `//`), the
  // per-doc sum is an exact integer, and the mean is one more floor
  // division — association-independent end to end. Measured at
  // sf0.01: en docs average 34,990 ppm vs 32,700–32,870 for the
  // other four languages, so [[LmKeepPpm]] splits on language like
  // the real filter does.
  //
  // Scale shape: ONE tokenize kernel emits each token exactly once
  // as (w1, w2-or-null) — unigram counts are a count over w1 of ALL
  // rows, bigram counts a count over the non-null-w2 rows, so train
  // tables and the scoring stream share the single checkpointed
  // kernel pass (three consumers would otherwise plan the kernel
  // thrice — the groupBy+join double-scan rule). Count tables are
  // vocabulary-bounded and broadcast here; at a real 100 TB vocab the
  // bigram join flips to a shuffle join on (w1, w2) — the scoring
  // stream still touches the corpus once.
  private val LmKeepPpm = 33800L

  def qLmScore(s: SparkSession, dir: String): DataFrame =
    lmScored(s, dir).orderBy(col("doc_id"))

  /** The per-doc scored frame behind [[qLmScore]] (unsorted),
    * memoized per (session, dir) in [[Memo]] behind one eager
    * localCheckpoint (the lshPairs discipline): the
    * corpus bigram explode + three count joins is the shared prefix
    * of SIX consumers (lm_score, ccnet_buckets, ess_clip,
    * calibration, quality_budget, the dedup LM tier) and each was
    * paying its own scoring pass (r10 item 8 — measured ~1.2s/pass
    * at sf0.1, ~6s across the board in one Verify session). */
  private[operators] def lmScored(s: SparkSession, dir: String): DataFrame =
    Memo.get("lm_scored", s, dir)(buildLmScored(s, dir).localCheckpoint())

  private def buildLmScored(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("is_train", BooleanType),
      StructField("w1", StringType),
      StructField("w2", StringType)))
    val rows = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          val train = r.getString(1) == "en" && id % 10 < 8
          val ws = duckWords(r.getString(2))
          ws.indices.iterator.map { i =>
            Row(id, train, ws(i), if (i < ws.length - 1) ws(i + 1) else null)
          }
        }
      }(Encoders.row(schema))
      .localCheckpoint()
    val uni = rows.filter(col("is_train")).groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bi = rows.filter(col("is_train") && col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val vsz = uni.agg(count(lit(1)).as("vsz"))
    rows.filter(col("w2").isNotNull)
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w1"), "left")
      .crossJoin(broadcast(vsz))
      .select(col("doc_id"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        col("vsz"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(expr("1000000 * (c12 + 1) div (c1 + vsz)")).as("sum_ppm"),
        sum(when(col("c12") === 0L, 1L).otherwise(0L)).as("oov_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("lm_score_ppm"),
        col("oov_bigrams"),
        (expr("sum_ppm div n_bigrams") >= LmKeepPpm).as("keep"))
  }

  val qLmScoreSql: String =
    s"""WITH w AS (SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents),
       |tr AS (SELECT doc_id, ws FROM w WHERE lang = 'en' AND doc_id % 10 < 8),
       |uni AS MATERIALIZED (SELECT word, count(*) AS c1
       |  FROM (SELECT unnest(ws) AS word FROM tr) GROUP BY word),
       |v AS (SELECT count(*) AS vsz FROM uni),
       |bi AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM (
       |  SELECT ws[i+1] AS w1, ws[i+2] AS w2 FROM tr, LATERAL (SELECT unnest(range(len(ws)-1)) AS i)
       |) GROUP BY w1, w2),
       |db AS (SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
       |  FROM w, LATERAL (SELECT unnest(range(len(ws)-1)) AS i)),
       |sc AS (SELECT d.doc_id, coalesce(b.c12, 0) AS c12, coalesce(u.c1, 0) AS c1
       |  FROM db d LEFT JOIN bi b ON d.w1 = b.w1 AND d.w2 = b.w2
       |            LEFT JOIN uni u ON d.w1 = u.word),
       |t AS (SELECT doc_id, count(*) AS n_bigrams,
       |  sum(1000000 * (c12 + 1) // (c1 + (SELECT vsz FROM v))) AS sum_ppm,
       |  CAST(sum(CASE WHEN c12 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  CAST(sum_ppm // n_bigrams AS BIGINT) AS lm_score_ppm, oov_bigrams,
       |  sum_ppm // n_bigrams >= $LmKeepPpm AS keep
       |FROM t ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // CCNet HEAD/MIDDLE/TAIL SHARDING — the step CCNet runs right
  // after LM scoring: rank the corpus by model score and cut it into
  // three equal shards (head = best-modeled text, trained on most;
  // tail = candidate discard). ntile(3) over (score DESC, doc_id) is
  // positionally deterministic on both engines given the total
  // order; the rollup gates each shard's exact bounds, floor-div
  // mean, and keep-rate per-mille — head keeps 1000‰, tail 0‰ at
  // the [[LmKeepPpm]] threshold, i.e. the shard cut and the
  // threshold filter agree on this corpus. ntile(3)'s positional
  // cuts are re-expressed as TWO exact order statistics over
  // (score DESC, doc_id) — the boundary rows at ranks ⌈n/3⌉-ish
  // (ntile's front-loaded group sizes) fetched through the
  // distributed [[OrderStats]] path — and the bucketing itself is a
  // map-side tuple compare: identical output to the global ntile
  // window with no single-partition WindowExec anywhere in the plan
  // (plan-asserted in ExtensionSpec).
  def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val lm = lmScored(s, dir).select(col("doc_id"), col("lm_score_ppm"), col("keep"))
      .withColumn("negs", -col("lm_score_ppm"))
      .localCheckpoint() // one scoring pass: boundary ranks + rollup read it
    val n = lm.count()
    val q3 = n / 3
    val rem = n % 3
    val b1 = q3 + (if (rem >= 1) 1L else 0L) // ntile group sizes: first n%3 groups get +1
    val b2 = b1 + q3 + (if (rem >= 2) 1L else 0L)
    // degenerate-input guard (r10 ADVICE): an empty corpus has no
    // boundary ranks to fetch (OrderStats.kth rejects k < 1) — any
    // cut values leave the empty frame empty, matching the old
    // global-window form's behavior
    val ((c1s, c1d), (c2s, c2d)) =
      if (n == 0) ((0L, 0L), (0L, 0L))
      else {
        val ranked = OrderStats.rank(lm.select(col("negs"), col("doc_id")), Seq("negs", "doc_id"))
        // both tercile boundaries in ONE fetch job (OrderStats.kths, r18)
        val cuts = OrderStats.kths(ranked, Seq(b1, b2))
        def cut(k: Long): (Long, Long) = {
          val r = cuts(k)
          (r.getLong(0), r.getLong(1))
        }
        (cut(b1), cut(b2))
      }
    lm.withColumn("bkt",
        when(col("negs") < c1s || (col("negs") === c1s && col("doc_id") <= c1d), 1)
          .when(col("negs") < c2s || (col("negs") === c2s && col("doc_id") <= c2d), 2)
          .otherwise(3))
      .groupBy(col("bkt"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("lm_score_ppm")).as("min_ppm"),
        max(col("lm_score_ppm")).as("max_ppm"),
        sum(col("lm_score_ppm")).as("sum_ppm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(
        when(col("bkt") === 1, "1_head")
          .when(col("bkt") === 2, "2_middle")
          .otherwise("3_tail").as("bucket"),
        col("n_docs"), col("min_ppm"), col("max_ppm"),
        expr("sum_ppm div n_docs").as("mean_ppm"),
        expr("1000 * n_keep div n_docs").as("keep_pm"))
      .orderBy(col("bucket"))
  }

  // composed without stripMargin (embedded stripped SQL carries `||`
  // continuation lines)
  lazy val qCcnetBucketsSql: String =
    s"""WITH lm AS MATERIALIZED (
SELECT doc_id, lm_score_ppm, keep FROM (
$qLmScoreSql
)),
b AS (SELECT doc_id, lm_score_ppm, keep,
  ntile(3) OVER (ORDER BY lm_score_ppm DESC, doc_id) AS bkt FROM lm)
SELECT CASE bkt WHEN 1 THEN '1_head' WHEN 2 THEN '2_middle' ELSE '3_tail' END AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(min(lm_score_ppm) AS BIGINT) AS min_ppm,
  CAST(max(lm_score_ppm) AS BIGINT) AS max_ppm,
  CAST(sum(lm_score_ppm) // count(*) AS BIGINT) AS mean_ppm,
  CAST(1000 * sum(CASE WHEN keep THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS keep_pm
FROM b GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------
  // CROSS-DOC BOILERPLATE PROFILE — the complement of the WITHIN-doc
  // repetition rubric: how much of each document's shingle set is
  // CORPUS-repeated (nav bars, license headers, templates — content
  // that n-gram LMs memorize and near-dedup under-counts because no
  // single pair clears the pair threshold). df is counted over the
  // distinct word-3-shingle sets of the shared [[Dedup.wordBase]]
  // kernel pass, shingles carried as md5-derived 15-hex longs (the
  // string-array-through-joins 10× cost rule; df over the hash
  // domain, collision-tolerant like the minhash convention, and the
  // oracle hashes identically). A shingle in more than [[BpDfCap]]
  // docs is boilerplate; the gate emits per doc the distinct-shingle
  // count, boilerplate count, max df and the per-mille. Scale shape:
  // one exploded fixed-width (doc_id, h) table checkpointed, one
  // vocab-sized df aggregate, one hash join back — every column 8
  // bytes.
  private val BpDfCap = 3L

  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val hs = Dedup.wordBase(s, dir)
      .select(col("doc_id"), explode(col("sset")).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long").as("h"))
      .localCheckpoint() // one explode pass feeds the df table AND the rollup
    val dfTab = hs.groupBy(col("h")).agg(count(lit(1)).as("df"))
    hs.join(dfTab, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > BpDfCap, 1L).otherwise(0L)).as("n_common"),
        max(col("df")).as("max_df"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"), col("max_df"),
        expr("1000 * n_common div n_shingles").as("bp_pm"))
      .orderBy(col("doc_id"))
  }

  val qBoilerplateSql: String =
    s"""WITH ${Dedup.shinglesSqlCte},
       |hs AS MATERIALIZED (SELECT doc_id, ('0x' || substr(md5(s2), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(shingles)) AS s2 FROM sh)),
       |dfv AS (SELECT h, count(*) AS df FROM hs GROUP BY h)
       |SELECT hs.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN dfv.df > $BpDfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       |  CAST(max(dfv.df) AS BIGINT) AS max_df,
       |  CAST(1000 * sum(CASE WHEN dfv.df > $BpDfCap THEN 1 ELSE 0 END) // count(*) AS BIGINT) AS bp_pm
       |FROM hs JOIN dfv USING (h) GROUP BY hs.doc_id ORDER BY hs.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // LANG-ID CONFIDENCE MARGIN — the classifier-confidence audit
  // beside [[qLangidConfusion]]'s accuracy view: per predicted
  // language, the distribution of the top1−top2 marker-count margin.
  // A zero margin is a coin-flip resolved only by the deterministic
  // tie order (es/fr share markers, so ambiguity is structural, not
  // hypothetical) — the docs a pipeline routes to a heavier model;
  // margin ≥ 3 is the confident mass it can trust cheaply. CJK and
  // marker-free (und) docs carry no margin and are excluded (stated
  // identically in the oracle). One map-only kernel (the qLangId
  // count walk emitting (predicted, margin)), one per-lang rollup;
  // exact integers (floor-div mean).
  def qLangidMargin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("predicted_lang", StringType),
      StructField("margin", LongType)))
    val langNames = markers.map(_._1).toArray
    val nLangs = langNames.length
    val markerSets = markers.map { case (_, ms) => ms.toSet }.toArray
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val text = r.getString(1)
          var cjk = false
          var ci = 0
          while (ci < text.length && !cjk) {
            val c = text.charAt(ci)
            if (c >= 0x4e00 && c <= 0x9fff) cjk = true
            ci += 1
          }
          if (cjk) Iterator.empty
          else {
            val counts = new Array[Int](nLangs)
            duckWords(text).foreach { w =>
              var li = 0
              while (li < nLangs) {
                if (markerSets(li)(w)) counts(li) += 1
                li += 1
              }
            }
            val sorted = counts.sorted
            val best = sorted(nLangs - 1)
            if (best == 0) Iterator.empty
            else Iterator.single(Row(
              langNames(counts.indexOf(best)),
              (best - sorted(nLangs - 2)).toLong))
          }
        }
      }(Encoders.row(schema))
      // full margin HISTOGRAM per predicted language (tail capped at
      // 8+ so the row count is fixed, the value-bucket discipline) —
      // the shape a routing threshold is read off of, not one summary
      // row
      .groupBy(col("predicted_lang"), least(col("margin"), lit(8L)).as("margin_bin"))
      .agg(count(lit(1)).as("n_docs"), max(col("margin")).as("max_margin"))
      .orderBy(col("predicted_lang"), col("margin_bin"))
  }

  val qLangidMarginSql: String = {
    val countExprs = markers.map { case (lang, ms) =>
      s"len(list_filter(ws, w -> w IN ${sqlList(ms)})) AS c_$lang"
    }.mkString(",\n    ")
    val srt = markers.map { case (l, _) => s"c_$l" }.mkString("list_sort([", ", ", "])")
    val pick = markers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
      s"CASE WHEN c_$lang = best THEN '$lang' ELSE $acc END"
    }
    val n = markers.length
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_split_to_array(lower(trim(text)), '\\s+') AS ws,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS cjk
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, cjk,
       |    $countExprs
       |  FROM t),
       |b AS (SELECT *, $srt AS srt FROM c),
       |m AS (SELECT doc_id, srt[$n] AS best, CAST(srt[$n] - srt[${n - 1}] AS BIGINT) AS margin,
       |  ${markers.map { case (l, _) => s"c_$l" }.mkString(", ")}
       |  FROM b WHERE cjk = 0 AND srt[$n] > 0),
       |p AS (SELECT $pick AS predicted_lang, margin FROM m)
       |SELECT predicted_lang, CAST(least(margin, 8) AS BIGINT) AS margin_bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(max(margin) AS BIGINT) AS max_margin
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------
  // ZIPF RANK-FREQUENCY AUDIT — the corpus-health fingerprint: the
  // top-K words by frequency with their rank, count, share of the
  // top-1 count, and the Zipf product rank·freq normalized to the
  // top-1 (per-mille). Natural text holds rank·freq roughly constant
  // (zipf_pm ≈ 1000); template/boilerplate-heavy or deduplicated-
  // to-death corpora bow the curve, and THIS is the audit that shows
  // it — all in exact integers (no log-log regression: libm is
  // banned from gated values, and the normalized product carries the
  // same signal). Scale shape: one vocab-bounded groupBy(word) with
  // map-side partials, then TakeOrderedAndProject for the top K (no
  // global sort materializes); the K-row frame hosts the windows.
  private val ZipfTopK = 30

  def qZipfRatio(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(ZipfTopK)
    val desc = Window.orderBy(col("freq").desc, col("word"))
    val full = desc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("rank", row_number().over(desc).cast("long"))
      .withColumn("f1", max(col("freq")).over(full))
      .select(col("rank"), col("word"), col("freq"),
        expr("1000 * freq div f1").as("share_pm"),
        expr("1000 * (rank * freq) div f1").as("zipf_pm"))
      .orderBy(col("rank"))
  }

  val qZipfRatioSql: String =
    s"""WITH w AS (
       |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |f AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY 1
       |      ORDER BY freq DESC, word LIMIT $ZipfTopK),
       |r AS (SELECT word, freq,
       |  CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank,
       |  CAST(max(freq) OVER () AS BIGINT) AS f1 FROM f)
       |SELECT rank, word, freq,
       |  CAST(1000 * freq // f1 AS BIGINT) AS share_pm,
       |  CAST(1000 * (rank * freq) // f1 AS BIGINT) AS zipf_pm
       |FROM r ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------
  // CHARACTER-CLASS COMPOSITION — the per-language byte-level
  // profile a multilingual pipeline reads before tokenizer training:
  // what fraction of each language's character mass is letters,
  // digits, whitespace, or other (punctuation/symbols/non-Latin).
  // A lang bucket whose letter share collapses or whose "other"
  // share spikes is mislabeled data, markup leakage, or a decoder
  // bug — this is the cheapest corpus-intake alarm there is. Class
  // counts are regexp_replace LENGTH DIFFS (the [[qQuality]]
  // punct-ratio convention — codegen'd, no HOF loops), summed per
  // lang with map-side partials to a |langs|-row frame; shares gate
  // as integer `div` per-mille over non-negative totals.
  def qCharclass(s: SparkSession, dir: String): DataFrame = {
    def stripped(pat: String) =
      length(col("text")) - length(regexp_replace(col("text"), pat, ""))
    Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).as("n"),
        stripped("[a-zA-Z]").as("let"),
        stripped("[0-9]").as("dig"),
        stripped(s"[$Re2Ws]").as("sp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_chars_total"),
        sum(col("let")).as("sl"), sum(col("dig")).as("sd"), sum(col("sp")).as("ss"))
      .select(col("lang"), col("n_docs"), col("n_chars_total"),
        expr("1000 * sl div n_chars_total").as("letter_pm"),
        expr("1000 * sd div n_chars_total").as("digit_pm"),
        expr("1000 * ss div n_chars_total").as("space_pm"),
        expr("1000 * (n_chars_total - sl - sd - ss) div n_chars_total").as("other_pm"))
      .orderBy(col("lang"))
  }

  val qCharclassSql: String =
    """WITH t AS (SELECT lang, length(text) AS n,
      |    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS let,
      |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
      |    length(text) - length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) AS sp
      |  FROM documents),
      |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n) AS BIGINT) AS n_chars_total, CAST(sum(let) AS BIGINT) AS sl,
      |    CAST(sum(dig) AS BIGINT) AS sd, CAST(sum(sp) AS BIGINT) AS ss
      |  FROM t GROUP BY lang)
      |SELECT lang, n_docs, n_chars_total,
      |  CAST(1000 * sl // n_chars_total AS BIGINT) AS letter_pm,
      |  CAST(1000 * sd // n_chars_total AS BIGINT) AS digit_pm,
      |  CAST(1000 * ss // n_chars_total AS BIGINT) AS space_pm,
      |  CAST(1000 * (n_chars_total - sl - sd - ss) // n_chars_total AS BIGINT) AS other_pm
      |FROM a ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // RAKE KEYWORD EXTRACTION — Rapid Automatic Keyword Extraction
  // (Rose et al. 2010), the unsupervised per-document keyphrase
  // operator: candidate phrases are the maximal runs between
  // stopwords/punctuation; each word scores degree/frequency over
  // the doc's own phrase set (degree = Σ length of phrases
  // containing it); a phrase scores the sum of its words' scores.
  // Exactness: the gated phrase score is Σ_w (1000·deg_w div freq_w)
  // — floor-per-word then sum, identical on both engines
  // (non-negative div rule); no float ratio anywhere. Phrase
  // boundaries: any non-alnum run OR a \b-delimited stopword becomes
  // a delimiter (the \b assertions fully disambiguate the
  // alternation, so Java-regex and RE2 agree). Top-3 phrases per doc
  // by (score desc, phrase asc). Scale shape: everything is
  // doc-local — two explodes, one (doc, word) partial agg, one
  // broadcast-free doc+word equi-join, one per-doc window over that
  // doc's phrase types; no corpus-global structure at all.
  def qKeywords(s: SparkSession, dir: String): DataFrame = {
    // Phrase extraction is ONE single-pass kernel (the
    // Dedup.ngramSignatures rule — the equivalent Catalyst
    // regexp_replace chain measured 46s CPU at 10×: Java-regex
    // backtracking over the stopword alternation, per-phrase
    // trim/collapse replaces, and the whole subtree planned under
    // both join children). The kernel is the character-level
    // equivalent of the oracle's regex pipeline: maximal [a-z0-9]
    // runs are words, whitespace separates words inside a phrase,
    // any other char OR a stopword run breaks the phrase — \b in the
    // oracle only matches at alnum/non-alnum transitions, so
    // "stopword run" and "\b-delimited stopword" coincide exactly.
    // Checkpointed once: stats and phrase types both consume it.
    val stopSet = stopwords.toSet
    // the kernel emits ONE row per phrase INSTANCE (r18): the
    // previous form emitted a row per (word occurrence × phrase)
    // with the phrase string duplicated onto every word row — the
    // checkpoint carried Σ plen string copies and the profiler
    // showed the stage GC-bound (2.5 s GC on a 1.2 s-CPU stage).
    // The per-word occurrence rows are recovered below with a
    // codegen'd split+explode over the instance rows — the same
    // multiset (phrase = words.mkString(" "), words are [a-z0-9]+
    // runs, so the single-space split is exact) at a fraction of
    // the allocation.
    val pwSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("phrase", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("plen", org.apache.spark.sql.types.LongType)))
    val pw = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
      .mapPartitions { it =>
        import org.apache.spark.sql.Row
        it.flatMap { r =>
          val docId = r.getLong(0)
          val t = duckTrimSpaces(r.getString(1)).toLowerCase(java.util.Locale.ROOT)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          val words = scala.collection.mutable.ArrayBuffer.empty[String]
          val sb = new java.lang.StringBuilder
          def flushPhrase(): Unit = {
            if (words.nonEmpty) {
              out += Row(docId, words.mkString(" "), words.length.toLong)
              words.clear()
            }
          }
          def flushWord(breakPhrase: Boolean): Unit = {
            if (sb.length > 0) {
              val w = sb.toString
              sb.setLength(0)
              if (stopSet.contains(w)) flushPhrase() else words += w
            }
            if (breakPhrase) flushPhrase()
          }
          var i = 0
          while (i < t.length) {
            val c = t.charAt(i)
            if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
            else if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r')
              flushWord(breakPhrase = false)
            else flushWord(breakPhrase = true)
            i += 1
          }
          flushWord(breakPhrase = true)
          out
        }
      }(org.apache.spark.sql.Encoders.row(pwSchema))
      .localCheckpoint()
    // per-word OCCURRENCE rows (one per word per phrase instance),
    // exactly the rows the kernel used to emit
    val occ = pw.select(col("doc_id"), col("plen"),
      explode(split(col("phrase"), " ")).as("word"))
    val stats = occ.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
    // score phrase TYPES once per doc (occurrences share the score),
    // while freq/deg above count every occurrence — RAKE semantics.
    // n_in_phrase = the word's multiplicity within ONE instance of
    // the phrase string, so it must come from the distinct types,
    // not the occurrence rows (a twice-occurring phrase would
    // double its own score otherwise)
    val types = pw.select(col("doc_id"), col("phrase")).distinct()
      .select(col("doc_id"), col("phrase"),
        explode(split(col("phrase"), " ")).as("word"))
      .groupBy(col("doc_id"), col("phrase"), col("word"))
      .agg(count(lit(1)).as("n_in_phrase"))
    val scored = types.join(stats, Seq("doc_id", "word"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(sum(col("n_in_phrase") * expr("1000 * deg div freq")).as("score_pm"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score_pm").desc, col("phrase"))))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("phrase"), col("score_pm"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val qKeywordsSql: String = {
    val stopAlt = stopwords.mkString("|")
    s"""WITH ph0 AS (SELECT doc_id, unnest(str_split(
       |    regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 \t\n\f\r]+', '|', 'g'),
       |      '\\b($stopAlt)\\b', '|', 'g'), '|')) AS raw FROM documents),
       |ph AS (SELECT doc_id, regexp_replace(
       |    regexp_replace(raw, '^[ \t\n\f\r]+|[ \t\n\f\r]+$$', '', 'g'),
       |    '[ \t\n\f\r]+', ' ', 'g') AS phrase FROM ph0),
       |pw AS (SELECT doc_id, phrase, unnest(str_split(phrase, ' ')) AS word,
       |    CAST(len(str_split(phrase, ' ')) AS BIGINT) AS plen
       |  FROM ph WHERE phrase <> ''),
       |stats AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(plen) AS BIGINT) AS deg FROM pw GROUP BY 1, 2),
       |pt AS (SELECT DISTINCT doc_id, phrase FROM ph WHERE phrase <> ''),
       |ptw AS (SELECT doc_id, phrase, unnest(str_split(phrase, ' ')) AS word FROM pt),
       |tw AS (SELECT doc_id, phrase, word, CAST(count(*) AS BIGINT) AS n_in_phrase
       |  FROM ptw GROUP BY 1, 2, 3),
       |sc AS (SELECT tw.doc_id, tw.phrase,
       |    CAST(sum(n_in_phrase * (1000 * deg // freq)) AS BIGINT) AS score_pm
       |  FROM tw JOIN stats ON tw.doc_id = stats.doc_id AND tw.word = stats.word
       |  GROUP BY 1, 2),
       |rk AS (SELECT doc_id, phrase, score_pm, ROW_NUMBER() OVER (
       |    PARTITION BY doc_id ORDER BY score_pm DESC, phrase) AS rank FROM sc)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, score_pm
       |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // FORCAST READABILITY — the reading-grade quality signal a
  // pretraining filter thresholds on. Flesch/Kincaid need sentence
  // boundaries, which web-extracted and OCR'd corpora (and this one:
  // zero `[.!?]` in the whole table) often lack; FORCAST (Caylor &
  // Sticht 1973) is the readability formula defined WITHOUT them:
  // grade = 20 − M/10 where M = monosyllabic words per 150-word
  // sample, i.e. grade = 20 − 15·(n_mono/n_words). Centi-scaled to
  // the exact integer forcast_cpm = 2000 − ⌊1500·n_mono/n_words⌋
  // (operands non-negative, so Spark `div` and DuckDB `//` agree;
  // n_mono ≤ n_words bounds it to [500, 2000] — no wrap horizon).
  // Syllables are the standard vowel-group heuristic: maximal
  // [aeiouy]+ runs per word, min 1 (an all-consonant or all-digit
  // word counts one). syll_per_100w = ⌊100·n_syll/n_words⌋ rides
  // along as the syllable-density companion.
  //
  // Scale shape: entirely doc-local — ONE single-pass character
  // kernel per document (words, vowel runs, and the monosyllable
  // test in the same scan; the per-word HOF/regex equivalent is the
  // measured-interpreted class the qKeywords note documents), no
  // shuffle but the final deterministic orderBy. Docs with no words
  // drop out (mirrored WHERE in the oracle).
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_words", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_syll", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_mono", org.apache.spark.sql.types.LongType)))
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
      .mapPartitions { it =>
        import org.apache.spark.sql.Row
        it.flatMap { r =>
          val t = duckTrimSpaces(r.getString(1)).toLowerCase(java.util.Locale.ROOT)
          var w = 0L; var y = 0L; var m = 0L
          var inWord = false; var inVowel = false; var syl = 0L
          def isAlnum(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
          def isVowel(c: Char) = c == 'a' || c == 'e' || c == 'i' || c == 'o' ||
            c == 'u' || c == 'y'
          def endWord(): Unit = if (inWord) {
            val sy = math.max(1L, syl)
            w += 1; y += sy; if (sy == 1L) m += 1
            inWord = false; inVowel = false; syl = 0L
          }
          var i = 0
          while (i < t.length) {
            val c = t.charAt(i)
            if (isAlnum(c)) {
              inWord = true
              if (isVowel(c)) { if (!inVowel) { syl += 1; inVowel = true } }
              else inVowel = false
            } else endWord()
            i += 1
          }
          endWord()
          if (w == 0L) Iterator.empty
          else Iterator.single(Row(r.getLong(0), w, y, m))
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_mono"),
        expr("(100 * n_syll) div n_words").as("syll_per_100w"),
        (lit(2000L) - expr("(1500 * n_mono) div n_words")).as("forcast_cpm"))
      .orderBy(col("doc_id"))
  }

  val qReadabilitySql: String =
    """WITH w AS (SELECT doc_id,
      |    unnest(regexp_extract_all(lower(trim(text)), '[a-z0-9]+')) AS word
      |  FROM documents),
      |sy AS (SELECT doc_id,
      |    greatest(1, len(regexp_extract_all(word, '[aeiouy]+'))) AS syl FROM w),
      |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(syl) AS BIGINT) AS n_syll,
      |    CAST(count(*) FILTER (syl = 1) AS BIGINT) AS n_mono
      |  FROM sy GROUP BY 1)
      |SELECT doc_id, n_words, n_syll, n_mono,
      |  CAST((100 * n_syll) // n_words AS BIGINT) AS syll_per_100w,
      |  CAST(2000 - ((1500 * n_mono) // n_words) AS BIGINT) AS forcast_cpm
      |FROM a WHERE n_words >= 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // LABEL-ASSOCIATION ODDS RATIOS — which tokens are over- or
  // under-represented in one label slice (here lang = 'en') relative
  // to the rest: the feature-selection / domain-signature primitive
  // behind classifier-based quality filters and contamination
  // tracing. Per token, with a/b = docs containing it in/out of the
  // slice and c/d the complements, the Haldane–Anscombe-smoothed
  // odds ratio (a+1)(d+1)/((b+1)(c+1)) — smoothing keeps zero cells
  // finite AND the arithmetic integer; gated as or_ppm through
  // DECIMAL(38,0)/HUGEINT (degree-2 products — no wrap below ~10¹⁶
  // docs). No libm: the odds RATIO is the rational the log-odds
  // score monotonically wraps (the lift-not-PMI rule).
  //
  // Scale shape: token presence is doc-LOCAL — array_distinct over
  // the split inside the projection (one pass per doc, no
  // (doc, token) dedup exchange), then ONE map-side-combined
  // conditional aggregate to |vocab| rows; class totals are a 1-row
  // broadcast. Output is vocab-bounded, corpus-independent.
  def qLabelOdds(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tot = docs.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ne"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nr"))
    val dec = "decimal(38,0)"
    docs
      .select((col("lang") === "en").as("en"),
        explode(array_distinct(words(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(sum(when(col("en"), 1L).otherwise(0L)).as("n_en"),
        sum(when(!col("en"), 1L).otherwise(0L)).as("n_rest"))
      .crossJoin(broadcast(tot))
      .select(col("token"), col("n_en"), col("n_rest"),
        expr(s"cast((cast(1000000 as $dec) * (n_en + 1) * (nr - n_rest + 1))" +
          s" div (cast(n_rest + 1 as $dec) * (ne - n_en + 1)) as bigint)")
          .as("or_ppm"))
      .orderBy(col("or_ppm").desc, col("token"))
  }

  val qLabelOddsSql: String =
    """WITH dt AS (SELECT doc_id, lang = 'en' AS en,
      |    unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS token
      |  FROM documents),
      |tot AS (SELECT CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS ne,
      |    CAST(count(*) FILTER (lang <> 'en') AS BIGINT) AS nr FROM documents),
      |t AS (SELECT token, CAST(count(*) FILTER (en) AS BIGINT) AS n_en,
      |    CAST(count(*) FILTER (NOT en) AS BIGINT) AS n_rest
      |  FROM dt WHERE token <> '' GROUP BY token)
      |SELECT token, n_en, n_rest,
      |  CAST((1000000::HUGEINT * (n_en + 1) * (nr - n_rest + 1)) //
      |    ((n_rest + 1)::HUGEINT * (ne - n_en + 1)) AS BIGINT) AS or_ppm
      |FROM t, tot ORDER BY or_ppm DESC, token""".stripMargin

  // ---------------------------------------------------------------
  // χ² FEATURE ASSOCIATION — the classical feature-selection
  // statistic over the (token-presence × label) 2×2 table, the
  // magnitude twin of [[qLabelOdds]]'s direction score: the odds
  // ratio says WHICH way a token leans, χ² says how UNLIKELY the
  // lean is under independence — the ranking a classifier-feature
  // screen or contamination audit actually sorts by. Pure rational:
  // χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) over doc-presence counts
  // (the squared numerator kills the sign, so all div operands are
  // non-negative — no libm, no doubles, no -0.0 class). Scale shape
  // is qLabelOdds verbatim: doc-LOCAL distinct tokens (no (doc,
  // token) corpus exchange), one map-side-combined groupBy to
  // |vocab| rows, the 1-row label total broadcast.
  def qChi2Feature(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tot = docs.agg(
      count(lit(1)).as("n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ne"))
    val dec = "decimal(38,0)"
    docs
      .select((col("lang") === "en").as("en"),
        explode(array_distinct(words(col("text")))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(sum(when(col("en"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("en"), 1L).otherwise(0L)).as("b"))
      .crossJoin(broadcast(tot))
      .withColumn("c", col("ne") - col("a"))
      .withColumn("d2", col("n") - col("ne") - col("b"))
      // headroom bound (r13 advice): n·num²·10³ ≤ n⁵·10³ needs
      // decimal(38,0), which holds to n ≈ 10⁷ docs; beyond that Spark
      // overflows to NULL where DuckDB's HUGEINT does not — a corpus
      // that large must shard this audit per source (or drop the ·10³
      // scale) before gating
      .withColumn("num", expr(s"cast(a * d2 - b * c as $dec)"))
      .select(col("token"), col("a").as("n_en_with"), col("b").as("n_other_with"),
        col("c").as("n_en_without"), col("d2").as("n_other_without"),
        expr(s"cast((cast(n as $dec) * num * num * 1000)" +
          s" div greatest(cast(a + b as $dec) * (c + d2) * (a + c) * (b + d2), 1)" +
          s" as bigint)").as("chi2_e3"))
      .orderBy(col("chi2_e3").desc, col("token"))
  }

  val qChi2FeatureSql: String =
    """WITH dt AS (SELECT doc_id, lang = 'en' AS en,
      |    unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS token
      |  FROM documents),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS ne FROM documents),
      |t AS (SELECT token, CAST(count(*) FILTER (en) AS BIGINT) AS a,
      |    CAST(count(*) FILTER (NOT en) AS BIGINT) AS b
      |  FROM dt WHERE token <> '' GROUP BY token),
      |x0 AS (SELECT token, a, b, ne - a AS c, (n - ne) - b AS d2, n FROM t, tot),
      |x AS (SELECT token, a, b, c, d2, (a * d2 - b * c)::HUGEINT AS num, n FROM x0)
      |SELECT token, a AS n_en_with, b AS n_other_with, c AS n_en_without,
      |  d2 AS n_other_without,
      |  CAST((n::HUGEINT * num * num * 1000) //
      |    greatest((a + b)::HUGEINT * (c + d2) * (a + c) * (b + d2), 1) AS BIGINT)
      |    AS chi2_e3
      |FROM x ORDER BY chi2_e3 DESC, token""".stripMargin

  // ---------------------------------------------------------------
  // SOURCE DIVERGENCE — exact total-variation distance between every
  // source pair's word distributions: TV(p,q) = ½Σ_w|p_w − q_w|, the
  // distribution-shift audit a mixing plan reads before weighting
  // sources (KL/JSD need logs — libm, banned from gates; TV is the
  // pure-rational member of the family and bounds them both). Over
  // counts with the common denominator n₁n₂: tv_num = Σ|c₁n₂ − c₂n₁|
  // gates exactly, tv_ppm = 10⁶·tv_num div (2n₁n₂). Scale shape: the
  // corpus collapses map-side to the (source × word) count matrix
  // (|sources|·|vocab| metadata rows), densified by a cross join so
  // a word absent from one source still contributes |c·n|; the pair
  // join runs on metadata only.
  def qSourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val wc = Tables.documents(s, dir)
      .select(col("source"), explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // metadata matrix; feeds totals + both pair sides
    val dense = wc.select(col("source")).distinct()
      .crossJoin(wc.select(col("word")).distinct())
      .join(wc, Seq("source", "word"), "left")
      .select(col("source"), col("word"), coalesce(col("c"), lit(0L)).as("c"))
    val tot = wc.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val a = dense.join(tot, "source")
      .select(col("source").as("src_a"), col("word"), col("c").as("c1"), col("n").as("n1"))
    val b = dense.join(tot, "source")
      .select(col("source").as("src_b"), col("word"), col("c").as("c2"), col("n").as("n2"))
    a.join(b, Seq("word"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(abs(expr(s"cast(c1 as $dec) * n2 - cast(c2 as $dec) * n1"))).as("tv_num"))
      .select(col("src_a"), col("src_b"), col("n1"), col("n2"),
        col("tv_num").cast("long").as("tv_num"),
        expr(s"cast((cast(1000000 as $dec) * tv_num)" +
          s" div greatest(cast(2 as $dec) * n1 * n2, 1) as bigint)").as("tv_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val qSourceDivergenceSql: String =
    """WITH wc AS (SELECT source, w AS word, CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT source,
      |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY 1, 2),
      |dense AS (SELECT s.source, w.word, coalesce(wc.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM wc) s
      |  CROSS JOIN (SELECT DISTINCT word FROM wc) w
      |  LEFT JOIN wc ON wc.source = s.source AND wc.word = w.word),
      |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM wc GROUP BY source),
      |p AS (SELECT a.source AS src_a, b.source AS src_b, ta.n AS n1, tb.n AS n2,
      |    CAST(sum(abs(a.c::HUGEINT * tb.n - b.c::HUGEINT * ta.n)) AS HUGEINT) AS tv_num
      |  FROM dense a JOIN dense b ON a.word = b.word AND a.source < b.source
      |  JOIN tot ta ON ta.source = a.source JOIN tot tb ON tb.source = b.source
      |  GROUP BY 1, 2, 3, 4)
      |SELECT src_a, src_b, n1, n2, CAST(tv_num AS BIGINT) AS tv_num,
      |  CAST((1000000::HUGEINT * tv_num) // greatest(2::HUGEINT * n1 * n2, 1) AS BIGINT)
      |    AS tv_ppm
      |FROM p ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------
  // SIZE-CLASS SEQUENCE PACKING — the whole-document packing tier
  // between chunk_sliding and Pipeline.qPackSequences' concat-and-
  // chunk (which fragments boundary docs): docs are rounded up to a
  // power-of-two token class (64…2048 = the sequence budget), and
  // each training row packs `budget div class` SAME-CLASS docs in
  // md5 order — length-bucketing, the packing discipline that keeps
  // every document intact and makes the row assignment CLOSED FORM
  // (row_number div per_row), where exact greedy first-fit is an
  // inherently sequential recurrence no engine can window. The cost
  // of that tractability is measured, not hidden: per-row fill_ppm
  // and per-shard eff_ppm ARE the output — the padding-waste numbers
  // a pipeline owner reads before buying the fragmentation trade of
  // concat-and-chunk.
  //
  // Sharding follows the qSplit md5-bucket convention (doc_id-modulo
  // collapses onto sources — measured, CLAUDE.md); docs longer than
  // the budget truncate to one full row (tok = least(n_tokens, B)).
  // eff_ppm's 1e6·Σtok numerator widens to decimal(38,0)/HUGEINT
  // (BIGINT would wrap near ~9e12 packed tokens — a real corpus).
  //
  // Scale shape: one scan → map-side token count + class, ONE
  // exchange on (shard, class) feeding row_number, the (shard,
  // class, row) partial aggregate, and an 8-row final — no joins, no
  // arrays through shuffles, shard count = the intended output-file
  // parallelism (thousands at 100 TB).
  private val PackBudget = 2048L
  private val PackShards = 8L

  def qPackSeqClasses(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % PackShards).as("shard"),
      least(size(words(col("text"))).cast("long"), lit(PackBudget)).as("tok"))
    val cls = docs.withColumn("cls",
      when(col("tok") <= 64, 64L).when(col("tok") <= 128, 128L)
        .when(col("tok") <= 256, 256L).when(col("tok") <= 512, 512L)
        .when(col("tok") <= 1024, 1024L).otherwise(PackBudget))
    val byRow = cls
      .withColumn("row_id", expr(
        s"(cast(row_number() over (partition by shard, cls order by md5(cast(doc_id as string)), doc_id) as bigint) - 1L) div ($PackBudget div cls)"))
      .groupBy(col("shard"), col("cls"), col("row_id"))
      .agg(count(lit(1)).as("nd"), sum(col("tok")).as("rt"))
      .select(col("shard"), col("nd"), col("rt"),
        expr(s"(1000000 * rt) div $PackBudget").as("fill_ppm"))
    byRow.groupBy(col("shard"))
      .agg(sum(col("nd")).as("n_docs"), count(lit(1)).as("n_rows"),
        sum(col("rt")).as("packed_tokens"),
        min(col("fill_ppm")).as("min_fill_ppm"), max(col("fill_ppm")).as("max_fill_ppm"))
      .select(col("shard"), col("n_docs"), col("n_rows"), col("packed_tokens"),
        expr(s"cast((1000000 * cast(packed_tokens as decimal(38,0)))" +
          s" div (n_rows * $PackBudget) as bigint)").as("eff_ppm"),
        col("min_fill_ppm"), col("max_fill_ppm"))
      .orderBy(col("shard"))
  }

  val qPackSeqClassesSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % $PackShards AS shard,
       |    least(CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT), $PackBudget) AS tok
       |  FROM documents),
       |c AS (SELECT doc_id, shard, tok,
       |    CASE WHEN tok <= 64 THEN 64 WHEN tok <= 128 THEN 128 WHEN tok <= 256 THEN 256
       |         WHEN tok <= 512 THEN 512 WHEN tok <= 1024 THEN 1024 ELSE $PackBudget END AS cls
       |  FROM t),
       |r AS (SELECT shard, cls, tok,
       |    (row_number() OVER (PARTITION BY shard, cls
       |       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // ($PackBudget // cls) AS row_id
       |  FROM c),
       |rws AS (SELECT shard, cls, row_id, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(tok) AS BIGINT) AS rt FROM r GROUP BY 1, 2, 3),
       |f AS (SELECT shard, nd, rt, CAST((1000000 * rt) // $PackBudget AS BIGINT) AS fill_ppm FROM rws)
       |SELECT shard, CAST(sum(nd) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(rt) AS BIGINT) AS packed_tokens,
       |  CAST((1000000::HUGEINT * sum(rt)) // (count(*)::HUGEINT * $PackBudget) AS BIGINT) AS eff_ppm,
       |  min(fill_ppm) AS min_fill_ppm, max(fill_ppm) AS max_fill_ppm
       |FROM f GROUP BY shard ORDER BY shard""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_pack_sequences" -> (qPackSeqClasses _),
    "text_source_divergence" -> (qSourceDivergence _),
    "text_chi2_feature" -> (qChi2Feature _),
    "text_label_odds" -> (qLabelOdds _),
    "text_readability" -> (qReadability _),
    "text_keywords" -> (qKeywords _),
    "text_charclass" -> (qCharclass _),
    "text_zipf_ratio" -> (qZipfRatio _),
    "text_langid_margin" -> (qLangidMargin _),
    "text_boilerplate" -> (qBoilerplate _),
    "text_ccnet_buckets" -> (qCcnetBuckets _),
    "text_lm_score" -> (qLmScore _),
    "text_bm25" -> (qBm25 _),
    "text_bm25_mlt" -> (qBm25Mlt _),
    "text_bpe_encode" -> (qBpeEncode _),
    "text_fertility" -> (qFertility _),
    "text_gram_coverage" -> (qGramCoverage _),
    "text_feature_hashing" -> (qFeatureHashing _),
    "text_burstiness" -> (qBurstiness _),
    "text_langid_confusion" -> (qLangidConfusion _),
    "text_bpe_holdout" -> (qBpeHoldout _),
    "text_bpe_train_k" -> (qBpeTrainK _),
    "text_winnow_fp" -> (qWinnowFingerprint _),
    "dedup_cdc_chunks" -> (qCdcChunks _),
    "text_bpe_train3" -> (qBpeTrain3 _),
    "text_bpe_merge_step" -> (qBpeMergeStep _),
    "text_tfidf" -> (qTfIdf _),
    "text_token_stats" -> (qTokenStats _),
    "text_quality" -> (qQuality _),
    "text_langid" -> (qLangId _),
    "text_fingerprint" -> (qFingerprint _),
    "text_decontaminate" -> (qDecontaminate _),
    "text_repetition" -> (qRepetition _),
    "text_vocab" -> (qVocab _),
    "text_collocations" -> (qCollocations _),
    "text_diversity" -> (qDiversity _),
  )

  val oracles: Map[String, String] = Map(
    "text_pack_sequences" -> qPackSeqClassesSql,
    "text_source_divergence" -> qSourceDivergenceSql,
    "text_chi2_feature" -> qChi2FeatureSql,
    "text_label_odds" -> qLabelOddsSql,
    "text_readability" -> qReadabilitySql,
    "text_boilerplate" -> qBoilerplateSql,
    "text_ccnet_buckets" -> qCcnetBucketsSql,
    "text_lm_score" -> qLmScoreSql,
    "text_bm25" -> qBm25Sql,
    "text_bm25_mlt" -> qBm25MltSql,
    "text_bpe_encode" -> qBpeEncodeSql,
    "text_fertility" -> qFertilitySql,
    "text_gram_coverage" -> qGramCoverageSql,
    "text_feature_hashing" -> qFeatureHashingSql,
    "text_burstiness" -> qBurstinessSql,
    "text_langid_confusion" -> qLangidConfusionSql,
    "text_langid_margin" -> qLangidMarginSql,
    "text_zipf_ratio" -> qZipfRatioSql,
    "text_keywords" -> qKeywordsSql,
    "text_charclass" -> qCharclassSql,
    "text_bpe_train_k" -> qBpeTrainKSql,
    "text_bpe_holdout" -> qBpeHoldoutSql,
    "text_winnow_fp" -> qWinnowFingerprintSql,
    "dedup_cdc_chunks" -> qCdcChunksSql,
    "text_bpe_train3" -> qBpeTrain3Sql,
    "text_bpe_merge_step" -> qBpeMergeStepSql,
    "text_tfidf" -> qTfIdfSql,
    "text_token_stats" -> qTokenStatsSql,
    "text_quality" -> qQualitySql,
    "text_langid" -> qLangIdSql,
    "text_fingerprint" -> qFingerprintSql,
    "text_decontaminate" -> qDecontaminateSql,
    "text_repetition" -> qRepetitionSql,
    "text_vocab" -> qVocabSql,
    "text_collocations" -> qCollocationsSql,
    "text_diversity" -> qDiversitySql,
  )
}
