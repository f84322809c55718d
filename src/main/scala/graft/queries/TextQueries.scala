package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Rounding.dround
import graft.sources.{HadoopFs, PersistedIndex}

/** Text-analysis + deduplication operators over the `documents` table
  * (SURVEY §7.5 extension mandate: exact dedup, MinHash-LSH, SimHash,
  * n-gram Jaccard, language-ID, quality scoring, token stats,
  * fingerprinting).
  *
  * Oracle coverage: qd1-qd9 ALL carry exact DuckDB oracles —
  * qd6/qd6b/qd7 moved off xxhash64 onto the engine-portable md5-based
  * hashes (TextFunctions.shingleHash31 / tokenHash), which makes the
  * banded-LSH candidate generation itself SQL-replicable; the measured
  * candidate-recall floors (RecallSpec → RECALL.json) stay as the
  * approximation-quality artifact on top of the hash-match.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.registerNative(s)
    Tables.documents(s, dir)
  }

  // ---------------------------------------------------------------- qd1
  /** Exact deduplication by content hash: every doc keeps its group size
    * and whether it is the canonical (min doc_id) copy. At scale this is
    * one hash-shuffle on a 32-char key — the standard exact-dedup shape.
    */
  def qd1(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h")
    docs(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .select("doc_id", "n_copies", "keep")
  }

  private val qd1Sql =
    """SELECT doc_id,
      | count(*) OVER (PARTITION BY md5(text)) AS n_copies,
      | doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- qd2
  /** Token statistics: counts + average token length. */
  def qd2(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    docs(s, dir)
      .withColumn("n_chars", length(col("text")))
      .withColumn("toks", toks)
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("sum_len",
        aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"),
        dround(col("sum_len").cast("double") / col("n_tokens"), 6).as("avg_token_len"))
  }

  private val qd2Sql =
    """SELECT doc_id,
      | CAST(length(text) AS INT) AS n_chars,
      | CAST(len(toks) AS INT) AS n_tokens,
      | round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |       / len(toks), 6) AS avg_token_len
      |FROM (SELECT doc_id, text,
      |             regexp_split_to_array(trim(text), '\s+') AS toks
      |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------- qd3
  /** Stopword-profile language ID: per-language exact token hit counts,
    * argmax with lexicographic tie-break, 'unknown' when all zero.
    */
  /** Adds the per-language s_<lang> stopword-hit columns (expects
    * `toks`). Shared by qd3 and the qd10 pipeline so the language model
    * has exactly one Scala definition (and the oracles carry the same
    * SQL twice in lockstep).
    */
  private def withLangScores(df: DataFrame): DataFrame =
    stopwords.foldLeft(df) { case (d, (lang, words)) =>
      d.withColumn(s"s_$lang", langScore(col("toks"), words))
    }

  /** Argmax language with lexicographic tie-break, 'unknown' when every
    * profile scores zero (expects the s_<lang> columns).
    */
  private def langPred: Column = {
    val langs = stopwords.map(_._1)
    langs.foldLeft(when(lit(false), "x")) { (acc, l) =>
      val isMax = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _) && col(s"s_$l") > 0
      acc.when(isMax, l)
    }.otherwise("unknown")
  }

  def qd3(s: SparkSession, dir: String): DataFrame = {
    val langs = stopwords.map(_._1)
    withLangScores(docs(s, dir).withColumn("toks", tokens(col("text"))))
      .withColumn("pred_lang", langPred)
      .withColumn("matches_label", col("pred_lang") === col("lang"))
      .select(col("doc_id") +: langs.map(l => col(s"s_$l")) :+
        col("pred_lang") :+ col("matches_label"): _*)
  }

  /** Shared SQL fragment: per-doc (doc_id, lang, pred_lang) via the
    * stopword-profile scores — the inner body of qd3's oracle, reused by
    * qd41's confusion matrix so both engines share ONE definition.
    */
  private val langPredSql: String = {
    val langs = stopwords.map(_._1)
    val scoreExprs = stopwords.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, t -> t IN ($inList))) AS INT) AS s_$lang"
    }
    val arms = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'"
    }
    s"""SELECT *, CASE ${arms.mkString(" ")} ELSE 'unknown' END AS pred_lang
       |  FROM (
       |    SELECT doc_id, lang, ${scoreExprs.mkString(", ")}
       |    FROM (SELECT doc_id, lang,
       |                 regexp_split_to_array(trim(text), '\\s+') AS toks
       |          FROM documents))""".stripMargin
  }

  private val qd3Sql = {
    val langs = stopwords.map(_._1)
    s"""SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       | pred_lang, pred_lang = lang AS matches_label
       |FROM (
       |$langPredSql)""".stripMargin
  }

  // ---------------------------------------------------------------- qd4
  /** Quality scoring: character-class ratios + length norm, one weighted
    * score — the reference-free quality-filter shape used in pretraining
    * data pipelines.
    */
  /** Adds alpha/space/digit ratios, len_norm and the weighted
    * quality_score — one definition shared by qd4 and qd10.
    */
  private def withQuality(df: DataFrame): DataFrame = {
    val n = length(col("text")).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-z]", "")).cast("double")
    val space = (length(col("text")) - length(regexp_replace(col("text"), "\\s", ""))).cast("double")
    val digit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
    df
      .withColumn("alpha_ratio", dround(alpha / n, 6))
      .withColumn("space_ratio", dround(space / n, 6))
      .withColumn("digit_ratio", dround(digit / n, 6))
      .withColumn("len_norm", dround(least(n / lit(500.0), lit(1.0)), 6))
      .withColumn("quality_score",
        dround(col("alpha_ratio") * 0.5 + (lit(1.0) - col("digit_ratio")) * 0.2
          + col("len_norm") * 0.3, 6))
  }

  def qd4(s: SparkSession, dir: String): DataFrame =
    withQuality(docs(s, dir))
      .select("doc_id", "alpha_ratio", "space_ratio", "digit_ratio",
        "len_norm", "quality_score")

  private val qd4Sql =
    """SELECT doc_id, alpha_ratio, space_ratio, digit_ratio, len_norm,
      | round(alpha_ratio * 0.5 + (1.0 - digit_ratio) * 0.2
      |       + len_norm * 0.3, 6) AS quality_score
      |FROM (
      |  SELECT doc_id,
      |   round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |         / length(text), 6) AS alpha_ratio,
      |   round(CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |         / length(text), 6) AS space_ratio,
      |   round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |         / length(text), 6) AS digit_ratio,
      |   round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6) AS len_norm
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- qd5
  /** Document fingerprint: lexicographic min over md5 of word 5-grams
    * (winnowing-style content fingerprint, robust to doc reordering at
    * the corpus level; md5 so the oracle can reproduce it).
    */
  def qd5(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("fingerprint",
        when(size(col("toks")) < 5, md5(col("text")))
          .otherwise(array_min(transform(
            sequence(lit(1), size(col("toks")) - lit(4)),
            i => md5(concat_ws(" ", slice(col("toks"), i, lit(5))))))))
    val w = Window.partitionBy("fingerprint")
    base
      .withColumn("n_same_fp", count(lit(1)).over(w))
      .select("doc_id", "fingerprint", "n_same_fp")
  }

  private val qd5Sql =
    """SELECT doc_id, fingerprint,
      | count(*) OVER (PARTITION BY fingerprint) AS n_same_fp
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 5 THEN md5(text)
      |         ELSE list_aggregate(
      |           list_transform(range(1, len(toks) - 3),
      |             i -> md5(array_to_string(toks[i:i+4], ' '))), 'min')
      |    END AS fingerprint
      |  FROM (SELECT doc_id, text,
      |               regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents))""".stripMargin

  // ---------------------------------------------------------------- qd9
  /** BPE-ish subword token counting (the mandate's second tokenizer,
    * beside qd2's whitespace split): a GPT-2-style pre-tokenizer regex —
    * letter runs | digit runs | single non-alnum glyph — over lowered
    * text. Only ASCII character classes, so Java regex (engine) and RE2
    * (oracle) agree codepoint-for-codepoint; CJK text degrades to
    * one-glyph units exactly like a byte-level BPE pre-tokenizer.
    * Pure projection: scales as a map-only pass.
    */
  def qd9(s: SparkSession, dir: String): DataFrame = {
    val units = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    docs(s, dir)
      .withColumn("u", units)
      .select(
        col("doc_id"),
        size(col("u")).as("n_subwords"),
        size(filter(col("u"), t => t.rlike("^[a-z]+$"))).as("n_alpha_runs"),
        size(filter(col("u"), t => t.rlike("^[0-9]+$"))).as("n_digit_runs"),
        dround(aggregate(transform(col("u"), t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / greatest(size(col("u")), lit(1)), 6).as("avg_unit_len"))
  }

  private val qd9Sql =
    """SELECT doc_id,
      | CAST(len(u) AS INT) AS n_subwords,
      | CAST(len(list_filter(u, t -> regexp_matches(t, '^[a-z]+$'))) AS INT) AS n_alpha_runs,
      | CAST(len(list_filter(u, t -> regexp_matches(t, '^[0-9]+$'))) AS INT) AS n_digit_runs,
      | round(CAST(coalesce(list_sum(list_transform(u, t -> length(t))), 0) AS DOUBLE)
      |       / greatest(len(u), 1), 6) AS avg_unit_len
      |FROM (SELECT doc_id,
      |             regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS u
      |      FROM documents)""".stripMargin

  // --------------------------------------------------------------- qd10
  /** Corpus-prep pipeline composition: the end-to-end pretraining
    * data-prep flow a user would actually run, built from the qd2/qd3/
    * qd4/qd1 pieces in one DataFrame chain —
    *   1. language-ID (stopword argmax) → drop 'unknown';
    *   2. quality score (char-class ratios + length norm) → keep ≥ 0.75;
    *   3. token-count bounds (5 ≤ n_tokens ≤ 10000);
    *   4. exact dedup among the survivors (md5 canonical, keep min id).
    * One map-side pass computes every per-doc feature (no joins between
    * the stages — they are projections over the same row), then a single
    * hash-shuffle for the dedup window: at 100 TB this is one scan + one
    * exchange. Oracle: the same composition in DuckDB SQL.
    */
  def qd10(s: SparkSession, dir: String): DataFrame = {
    val filtered = withQuality(
      withLangScores(docs(s, dir).withColumn("toks", tokens(col("text")))))
      .withColumn("pred_lang", langPred)
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("pred_lang") =!= "unknown" &&
        col("quality_score") >= 0.75 &&
        col("n_tokens").between(5, 10000))
    val w = Window.partitionBy(md5(col("text")))
    filtered
      .withColumn("keep", col("doc_id") === min("doc_id").over(w))
      .filter(col("keep"))
      .select("doc_id", "pred_lang", "n_tokens", "quality_score")
  }

  private val qd10Sql = {
    val langs = stopwords.map(_._1)
    val scoreExprs = stopwords.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($inList))) AS s_$lang"
    }
    val arms = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $ge AND s_$l > 0 THEN '$l'"
    }
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    CASE ${arms.mkString(" ")} ELSE 'unknown' END AS pred_lang,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    round(alpha_ratio * 0.5 + (1.0 - digit_ratio) * 0.2
       |          + len_norm * 0.3, 6) AS quality_score
       |  FROM (
       |    SELECT doc_id, text, toks, ${scoreExprs.mkString(", ")},
       |      round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |            / length(text), 6) AS alpha_ratio,
       |      round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |            / length(text), 6) AS digit_ratio,
       |      round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6) AS len_norm
       |    FROM (SELECT doc_id, text,
       |                 regexp_split_to_array(trim(text), '\\s+') AS toks
       |          FROM documents))
       |  WHERE pred_lang <> 'unknown' AND quality_score >= 0.75
       |    AND n_tokens BETWEEN 5 AND 10000)
       |SELECT doc_id, pred_lang, n_tokens, quality_score FROM (
       |  SELECT *, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
       |  FROM f)
       |WHERE keep""".stripMargin
  }

  // --------------------------------------------------------------- qd11
  /** Deterministic stratified hash sampling (operators.Sampling): the
    * dataset-versioning-safe train-split / rebalancing shape — language
    * rebalancing here (keep 30% of 'en', 10% of everything else),
    * membership decided by md5(doc_id) alone so the sample is identical
    * on any partitioning, any engine, any run (unlike df.sample's
    * per-partition seeded draw). Pure map-side projection; the DuckDB
    * oracle reproduces the md5-bucket arithmetic verbatim.
    */
  def qd11(s: SparkSession, dir: String): DataFrame = {
    val sampled = graft.operators.Sampling.stratifiedHashSample(
      docs(s, dir), col("lang"), col("doc_id"),
      Map("en" -> 0.3), defaultFraction = 0.1, buckets = 100)
    sampled.select(col("doc_id"), col("lang"),
      graft.operators.Sampling.hashBucket(col("doc_id"), 100).as("bucket"))
  }

  private val qd11Sql =
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 100 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 30 ELSE 10 END""".stripMargin

  // --------------------------------------------------------------- qd12
  /** Corpus length-distribution report: token-count histogram (width-25
    * buckets) with doc share and mean char length per bucket — the
    * standard "what does this corpus look like" profile before
    * filtering decisions (token bounds in qd10 were picked from exactly
    * this view). Integer bucket arithmetic both sides; one partial-agg
    * shuffle at any scale.
    */
  def qd12(s: SparkSession, dir: String): DataFrame = {
    val binW = 25
    val total = Window.partitionBy(lit(1))
    docs(s, dir)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("bucket_lo", (floor(col("n_tokens") / binW) * binW).cast("long"))
      .groupBy("bucket_lo")
      .agg(
        count(lit(1)).as("n_docs"),
        dround(avg(col("n_chars").cast("double")), 2).as("avg_chars"))
      .withColumn("pct_docs",
        dround(col("n_docs").cast("double") / sum("n_docs").over(total), 6))
      .select("bucket_lo", "n_docs", "avg_chars", "pct_docs")
  }

  private val qd12Sql =
    """WITH t AS (
      |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |         n_chars
      |  FROM documents),
      |b AS (
      |  SELECT CAST(floor(n_tokens / 25) * 25 AS BIGINT) AS bucket_lo,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars
      |  FROM t GROUP BY 1)
      |SELECT bucket_lo, n_docs, avg_chars,
      |       round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS pct_docs
      |FROM b""".stripMargin

  // --------------------------------------------------------------- qd13
  /** Benchmark decontamination: flag training docs that share any word
    * 5-gram with an evaluation set — the standard pretraining hygiene
    * step (eval contamination leaks test answers into training data).
    * The demo eval set is the deterministic doc_id % 50 == 0 slice;
    * in production it is the benchmark suite. Shape: distinct grams
    * both sides → inverted-index equi-join on the gram → per-doc
    * distinct-hit count. At 100 TB the gram strings become xxhash64
    * keys (same join, 8-byte keys) and the eval side (tiny) broadcasts;
    * here the strings stay so DuckDB can replicate verbatim.
    */
  def qd13(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .withColumn("grams", array_distinct(wordGrams(tokens(col("text")), 5)))
      .select("doc_id", "grams")
    val evalGrams = g.filter(col("doc_id") % 50 === 0)
      .select(explode(col("grams")).as("gram")).distinct()
    val corpus = g.filter(col("doc_id") % 50 =!= 0)
    val hits = corpus
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  private val qd13Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
      |    THEN list_transform(range(1, len(t) - 3),
      |           i -> array_to_string(t[i:i+4], ' '))
      |    ELSE [] END) AS grams
      |  FROM toks),
      |eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 0),
      |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 50 <> 0),
      |hits AS (
      |  SELECT cg.doc_id, count(*) AS n_shared
      |  FROM cg JOIN eg USING (gram) GROUP BY cg.doc_id)
      |SELECT g.doc_id,
      |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
      |  coalesce(h.n_shared, 0) > 0 AS contaminated
      |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
      |WHERE g.doc_id % 50 <> 0""".stripMargin

  // --------------------------------------------------------------- qd13b
  /** Bloom-prefiltered decontamination CASCADE — the 100 TB shape of
    * qd13. The inverted-index join above shuffles every corpus gram; at
    * scale the eval suite is tiny and FIXED while the corpus is the
    * 100 TB side, so the right plan aggregates the EVAL grams into a
    * kilobyte-scale Bloom filter once (the offline stage, like
    * ivfBuild), probes it from a MAP-ONLY corpus scan via the native
    * `BloomAnyContain` expression (stage 1 — zero corpus shuffle for
    * the overwhelmingly-clean majority), and runs qd13's exact gram
    * join only on the tiny Bloom-survivor set (stage 2). A Bloom filter
    * cannot false-negative, so stage 2 sees every truly-contaminated
    * doc (recall 1.0 STRUCTURALLY — pinned in RecallSpec on the
    * prefilter stage) and scrubs the fpp-bounded false positives back
    * to n_shared = 0 — which makes the cascade's output IDENTICAL to
    * exact qd13 and lets it share qd13's DuckDB oracle (the qm9 trick:
    * a blocking scheme with structural recall 1.0 at the operator's
    * own threshold upgrades its twin from sketch-graded to
    * hash-matched). The prefilter's fpp now costs
    * only stage-2 work, never correctness; its drift stays visible via
    * the [[qd13bPrefilter]] precision floor in RecallSpec.
    */
  def bloomIndexPath(dir: String): String =
    HadoopFs.indexPath("bloom", dir, 5, 50, "1e-6")

  /** Offline build: aggregate the eval slice's grams into a Bloom
    * filter and persist it (one-row binary parquet — FS-agnostic,
    * `_SUCCESS`-gated like the other index artifacts). Two tiny
    * eval-side jobs: the distinct count sizes the filter, the
    * aggregation fills it. fpp is PER GRAM PROBE and a doc probes
    * every one of its grams (hundreds), so the per-doc false-flag
    * rate compounds to 1-(1-fpp)^grams — at 1e-2 that flagged ~all
    * docs (measured); 1e-6 keeps per-doc FP ~3e-4 at 300 grams for
    * ~29 bits/gram (a 1M-gram eval suite is still a ~3.6 MB filter).
    */
  def bloomBuild(s: SparkSession, dir: String, path: String): Unit = {
    import s.implicits._
    val evalGrams = docs(s, dir)
      .filter(col("doc_id") % 50 === 0)
      .select(explode(array_distinct(wordGrams(tokens(col("text")), 5))).as("gram"))
    val nGrams = math.max(evalGrams.distinct().count(), 1L)
    val bf = evalGrams.stat.bloomFilter("gram", nGrams, 1e-6)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    Seq(Tuple1(bos.toByteArray)).toDF("filter")
      .write.mode("overwrite").parquet(s"$path/filter")
  }

  val Bloom: PersistedIndex =
    PersistedIndex("bloom", "documents", "filter", bloomIndexPath, bloomBuild)

  /** The persisted filter bytes: a real deployment rebuilds once per
    * eval-suite release, every query after that pays one small-file read.
    */
  private[graft] def bloomFilterBytes(s: SparkSession, dir: String): Array[Byte] =
    HadoopFs.parquet(s, s"${Bloom.ensure(s, dir)}/filter").head().getAs[Array[Byte]](0)

  /** The qd13b probe column over a `text` column — ONE definition shared
    * with the streaming twin ([[graft.streaming.TextStreaming.decontaminate]])
    * so the gram derivation can never diverge between batch and stream.
    * Null text (no grams) coalesces to clean=false, matching exact
    * qd13's coalesce-to-0 — flag-for-flag parity includes the null row.
    */
  private[graft] def bloomProbe(bytes: Array[Byte]): Column =
    coalesce(
      call_function("graft_bloom_any",
        array_distinct(wordGrams(tokens(col("text")), 5)), lit(bytes)),
      lit(false))

  /** Stage 1 alone (doc_id, contaminated-by-Bloom): the fpp
    * regression probe for RecallSpec — the cascade's OUTPUT is exact,
    * so prefilter precision must be floored here or an fpp drift would
    * silently turn stage 2 back into full qd13.
    */
  private[graft] def qd13bPrefilter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.registerNative(s)
    val bytes = bloomFilterBytes(s, dir)
    docs(s, dir)
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), bloomProbe(bytes).as("contaminated"))
  }

  /** The distinct eval-slice gram set — the static dimension side of
    * both verify stages (batch qd13b's inverted-index join and the
    * streaming cascade's broadcast-array intersect).
    */
  private[graft] def evalGrams(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 50 === 0)
      .select(explode(array_distinct(wordGrams(tokens(col("text")), 5))).as("gram"))
      .distinct()

  def qd13b(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.registerNative(s)
    val bytes = bloomFilterBytes(s, dir)
    val corpus = docs(s, dir).filter(col("doc_id") % 50 =!= 0)
    // stage 1: map-only Bloom prune — clean docs never shuffle a gram
    val cand = corpus.filter(bloomProbe(bytes))
    // stage 2: qd13's exact inverted-index join, survivor set only
    val evalGrams = this.evalGrams(s, dir)
    val hits = cand
      .select(col("doc_id"), explode(array_distinct(wordGrams(tokens(col("text")), 5))).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    corpus.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  // --------------------------------------------------------------- qd14
  /** PII / URL scrubbing: redact emails and URLs from text — the
    * pretraining privacy-hygiene transform. The corpus has no natural
    * PII, so the query derives a deterministic dirty column (text +
    * synthetic contact suffix keyed by doc_id) and scrubs THAT — the
    * oracle replicates the derivation, so the regex parity (Java vs
    * RE2: ASCII classes only, per the determinism rules) is exercised
    * on every row, not vacuously. Map-only projection at any scale.
    */
  def qd14(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    // whitespace class spelled out: Java's \s includes \x0B, RE2's does
    // not — a URL followed by a vertical tab would scrub differently on
    // the two engines (the determinism rules' Java-vs-RE2 drift class)
    val urlRe = "https?://[^ \\t\\n\\r\\f]+"
    docs(s, dir)
      .withColumn("dirty", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or http://host/p/"),
        col("doc_id")))
      .withColumn("n_emails", size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0))))
      .withColumn("n_urls", size(regexp_extract_all(col("dirty"), lit(urlRe), lit(0))))
      .withColumn("clean",
        regexp_replace(regexp_replace(col("dirty"), emailRe, "<EMAIL>"),
          urlRe, "<URL>"))
      .select("doc_id", "n_emails", "n_urls", "clean")
  }

  private val qd14Sql =
    """SELECT doc_id,
      | CAST(len(regexp_extract_all(dirty,
      |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
      | CAST(len(regexp_extract_all(dirty, 'https?://[^ \t\n\r\f]+')) AS INT) AS n_urls,
      | regexp_replace(
      |   regexp_replace(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
      |     '<EMAIL>', 'g'),
      |   'https?://[^ \t\n\r\f]+', '<URL>', 'g') AS clean
      |FROM (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com or http://host/p/'
      |         || doc_id AS dirty
      |  FROM documents)""".stripMargin

  // --------------------------------------------------------------- qd15
  /** Sequence-packing assignment: docs are greedily packed into
    * fixed-token-budget training sequences (budget 512 whitespace
    * tokens here) WITHIN their source shard — the standard
    * pack-to-context-length step before tokenized training output.
    * pack_id = floor(exclusive-prefix-sum(n_tokens) / budget): a doc
    * lands in the pack where its first token falls (simple greedy —
    * docs longer than the budget span packs and overflow into the
    * next, like token-level packing does). Window partitioned by the
    * shard key, ordered by doc_id: integer arithmetic end-to-end, and
    * no global window — parallelism is per shard, the same layout the
    * training writer shards by.
    *
    * Scale ceiling, named: `source` has ~20 values in this corpus, so
    * at 100 TB the window key must be the TRAINING shard, not the
    * crawl source — substitute `Sampling.hashBucket(doc_id, numShards)`
    * (or a (source, sub_shard) composite) with numShards sized to the
    * cluster; the md5-bucket key keeps the same cross-engine
    * reproducibility as qd11's oracle. Packing semantics only need a
    * deterministic grouping, so the key swap is free.
    */
  def qd15(s: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("tok_start", coalesce(sum("n_tokens").over(w), lit(0)).cast("long"))
      .withColumn("pack_id", floor(col("tok_start") / budget).cast("long"))
      .select("doc_id", "source", "n_tokens", "tok_start", "pack_id")
  }

  private val qd15Sql =
    """SELECT doc_id, source, n_tokens,
      | CAST(coalesce(sum(n_tokens) OVER (
      |   PARTITION BY source ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |   AS tok_start,
      | CAST(floor(coalesce(sum(n_tokens) OVER (
      |   PARTITION BY source ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
      |   AS pack_id
      |FROM (SELECT doc_id, source,
      |             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
      |               AS n_tokens
      |      FROM documents)""".stripMargin

  // --------------------------------------------------------------- qd16
  /** Intra-document repetition metric (the Gopher-rules repetition
    * filter): fraction of word-3-gram occurrences that are repeats of
    * an earlier gram in the same doc — high values mean degenerate /
    * templated text. Pure projection (map-only at any scale); docs
    * above the 0.2 repetition threshold are flagged.
    */
  def qd16(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("grams", wordGrams(tokens(col("text")), 3))
      .withColumn("n_grams", size(col("grams")))
      .withColumn("n_distinct", size(array_distinct(col("grams"))))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          dround(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)).as("rep_ratio"))
      .withColumn("flagged", col("rep_ratio") > 0.2)
  }

  private val qd16Sql =
    """SELECT doc_id, n_grams, n_distinct,
      | CASE WHEN n_grams > 0
      |   THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6)
      |   ELSE 0.0 END AS rep_ratio,
      | (CASE WHEN n_grams > 0
      |   THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6)
      |   ELSE 0.0 END) > 0.2 AS flagged
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(grams) AS INT) AS n_grams,
      |    CAST(len(list_distinct(grams)) AS INT) AS n_distinct
      |  FROM (
      |    SELECT doc_id, CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [] END AS grams
      |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |          FROM documents)))""".stripMargin

  // --------------------------------------------------------------- qd17
  /** BM25 keyword retrieval: top-10 corpus docs per query under Okapi
    * BM25 (k1=1.2, b=0.75, Lucene's log(1+x) idf so every contribution
    * stays positive) — the lexical-retrieval workhorse a curation
    * pipeline runs for quality/topicality selection next to the dense
    * retrievers (qe1/qe2/qe5). Queries are deterministic and
    * data-derived: the distinct first four tokens of every
    * doc_id % 100 == 0 document.
    *
    * Shape: the per-(doc,term) tf aggregation IS the inverted-index
    * posting list, term-partitioned; df is a second aggregation over
    * it; the tiny query-term side broadcasts into the posting join, so
    * the corpus shuffles ONCE (by term) and never meets itself. At
    * 100 TB the postings persist as an offline artifact (qd6b's
    * lifecycle).
    *
    * Posting-list truncation (the qd34 df-cap recipe applied to BM25's
    * posting join): a term with document
    * frequency d contributes d scored rows to EVERY query carrying it,
    * so a high-df term makes the posting join quadratic in corpus
    * growth (query volume ×s AND its posting list ×s — measured
    * 1.2 s @sf0.1 → 63.4 s @10× on the duplication-heavy smoke
    * corpus). The classic stop-list cut (drop df-saturated terms,
    * idf ≈ 0) is the wrong knife here: this synthetic 31-word
    * vocabulary saturates EVERY term, so dropping would zero the demo.
    * Instead each term keeps only its top-[[Bm25PostingDfCap]] postings
    * by (tf desc, doc_id asc) — static impact-ordered index pruning
    * (Carmel et al., SIGIR 2001): the dropped postings are precisely
    * the LOWEST-impact contributions of the highest-df (lowest-idf)
    * terms, the rows least able to move a top-10. True df (computed
    * over the UNCAPPED postings) still feeds idf, so surviving scores
    * are unchanged by the cut. The cap is df/tf-deterministic,
    * replicated in the oracle SQL, and sized above every tested-sf max
    * df (415 / 402 / 3923) so tested outputs are bit-identical to the
    * uncapped form; CorpusOpsSpec plants a hot-term corpus that
    * exercises the cap explicitly. Cold terms (df ≤ cap) bypass the
    * ranking entirely — only hot posting lists pay the per-term sort,
    * and the posting join is bounded at cap·|query vocab| rows no
    * matter how the corpus duplicates.
    *
    * Cross-engine determinism: scores are dround-ed BEFORE the rank
    * window (per-group FP-association in the ≤4-term sum and libm ln
    * ulps sit at ~1e-15, far under the 1e-6 grid) and doc_id breaks
    * rounded ties, so top-k membership is total-ordered on both
    * engines.
    */
  private[graft] val Bm25PostingDfCap = 4096

  def qd17(s: SparkSession, dir: String): DataFrame =
    bm25From(docs(s, dir), Bm25PostingDfCap)

  /** Frame-parameterized twin (tests plant a hot-term corpus and a
    * sub-maxdf cap): `d` carries (doc_id, text).
    */
  private[graft] def bm25From(d: DataFrame, cap: Int): DataFrame = {
    val corpus = bm25Corpus(d)
    val (capped, stats) = bm25Postings(corpus, cap)
    bm25Tail(capped, bm25Queries(corpus), stats)
  }

  private def bm25Corpus(d: DataFrame): DataFrame = d
    .select(col("doc_id"), tokens(col("text")).as("toks"))
    .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))

  /** The capped posting list (doc_id, dl, term, tf, df) + the 1-row
    * (n, avgdl) stats frame — everything the scoring needs that is
    * query-independent, i.e. the OFFLINE index qd17b persists.
    */
  private def bm25Postings(corpus: DataFrame, cap: Int): (DataFrame, DataFrame) = {
    val tf = corpus
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // long sum / long count: association-free inputs, one double divide
    val stats = corpus.agg(count(lit(1)).as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // posting-truncation stage (qd17 scaladoc): cold terms pass
    // through untouched; hot terms rank within their posting list on
    // the exchange the df join already keyed by term, keeping only the
    // top-cap impacts. df rides along — it is the TRUE df either way.
    val withDf = tf.join(dfreq, "term")
    val hotRank = Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc_id").asc)
    val capped = withDf.filter(col("df") <= cap).unionByName(
      withDf.filter(col("df") > cap)
        .withColumn("pr", row_number().over(hotRank))
        .filter(col("pr") <= cap).drop("pr"))
    (capped, stats)
  }

  private def bm25Queries(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("toks"), 1, 4))).as("term"))

  private def bm25Tail(capped: DataFrame, qterms: DataFrame,
      stats: DataFrame): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val topK = 10
    val contrib = capped
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
          .as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    contrib.groupBy("query_id", "doc_id")
      .agg(dround(sum(col("c")), 6).as("score"))
      .select(col("query_id"), col("doc_id"), col("score"),
        row_number().over(w).cast("int").as("rank"))
      .filter(col("rank") <= topK)
  }

  private val qd17Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM documents),
      |corpus AS (SELECT doc_id, t, len(t) AS dl FROM toks),
      |stats AS (
      |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      |  FROM corpus),
      |tfx AS (
      |  SELECT doc_id, dl, term, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM corpus)
      |  GROUP BY doc_id, dl, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
      |posts AS (
      |  SELECT doc_id, dl, term, tf, df FROM (
      |    SELECT tfx.doc_id, tfx.dl, tfx.term, tfx.tf, dfreq.df,
      |      row_number() OVER (PARTITION BY tfx.term
      |        ORDER BY tf DESC, doc_id) AS pr
      |    FROM tfx JOIN dfreq USING (term))
      |  WHERE df <= $Bm25PostingDfCap OR pr <= $Bm25PostingDfCap),
      |q AS (
      |  SELECT doc_id AS query_id, unnest(list_distinct(t[1:4])) AS term
      |  FROM corpus WHERE doc_id % 100 = 0),
      |contrib AS (
      |  SELECT q.query_id, posts.doc_id,
      |    ln((n - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + 1) *
      |    (tf * (CAST(1.2 AS DOUBLE) + 1)) /
      |    (tf + CAST(1.2 AS DOUBLE) *
      |      (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
      |       CAST(0.75 AS DOUBLE) * dl / avgdl)) AS c
      |  FROM posts
      |  JOIN q USING (term)
      |  CROSS JOIN stats),
      |scored AS (
      |  SELECT query_id, doc_id, round(sum(c), 6) AS score
      |  FROM contrib GROUP BY query_id, doc_id)
      |SELECT query_id, doc_id, score, rank FROM (
      |  SELECT query_id, doc_id, score,
      |    CAST(row_number() OVER (
      |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
      |  FROM scored)
      |WHERE rank <= 10""".stripMargin

  // -------------------------------------------------------------- qd17b
  /** BM25 over a PERSISTED posting index — qd6b's offline-artifact
    * lifecycle applied to lexical retrieval, making real the scale
    * shape qd17's scaladoc promised in prose: the df-capped posting
    * list and the 1-row (n, avgdl) stats frame are a write-once,
    * staleness-probed parquet artifact, and the probe tokenizes ONLY
    * the query slice (doc_id % 100, 1% of the corpus) — the corpus is
    * never re-read, re-tokenized, or re-aggregated at query time. At
    * 100 TB this is the only viable shape: the tf/df pass is the
    * expensive corpus scan, amortized across every retrieval batch.
    * Scores equal qd17's by construction (the artifact IS qd17's
    * capped posting stage, [[bm25Postings]]), so the twin shares
    * qd17's DuckDB oracle and is hash-matched end-to-end at 3 sfs.
    *
    * Commit order: stats first, postings last — postings is the
    * [[Bm25]] witness.
    */
  /** Term-hash bucket count for the persisted posting layout: the
    * postings are PARTITIONED by `bucket = pmod(xxhash64(term), 64)` on
    * disk — the standard inverted-index file layout — so a probe whose
    * query vocabulary hashes into b buckets reads b/64 of the posting
    * files and never touches the cold vocabulary's file groups at all.
    * 64 buckets keeps the partitioned write at one file per bucket (the
    * build repartitions by bucket first) while leaving real pruning room:
    * at 100 TB the cold tail of a zipfian vocabulary is almost all of
    * the index bytes, and a retrieval batch's vocab covers few buckets.
    */
  private[graft] val Bm25Buckets = 64

  private def bm25Bucket(term: Column): Column =
    pmod(xxhash64(term), lit(Bm25Buckets)).cast("int")

  def bm25IndexPath(dir: String): String =
    HadoopFs.indexPath(
      "bm25", dir, Bm25PostingDfCap, Bm25Buckets, "cappedtfdf")

  def bm25Build(s: SparkSession, dir: String, path: String): Unit = {
    val (capped, stats) = bm25Postings(bm25Corpus(docs(s, dir)), Bm25PostingDfCap)
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    // one file per bucket: repartition ON the partition column so each
    // write task holds whole buckets (64 files, not tasks×buckets)
    capped
      .withColumn("bucket", bm25Bucket(col("term")))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
  }

  val Bm25: PersistedIndex =
    PersistedIndex("bm25", "documents", "postings", bm25IndexPath, bm25Build)

  def qd17b(s: SparkSession, dir: String): DataFrame = {
    val path = Bm25.ensure(s, dir)
    val postings = HadoopFs.parquet(s, s"$path/postings")
    val stats = HadoopFs.parquet(s, s"$path/stats")
    val qterms = bm25Queries(bm25Corpus(docs(s, dir)))
    // Partition pruning: the query vocab's bucket set is ≤ Bm25Buckets
    // driver-sized ints (the scalar-collect class — bounded by the
    // bucket constant, not by data volume); the IN filter on the
    // partition column prunes cold buckets' FILE GROUPS before a row
    // is read, which PlanSpec pins as PartitionFilters on the scan.
    // Chosen over dynamic partition pruning because a ≤64-literal
    // static filter is deterministic in the plan where DPP's benefit
    // heuristics are not.
    val qbuckets = qterms.select(bm25Bucket(col("term")).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    bm25Tail(
      postings.filter(col("bucket").isInCollection(qbuckets)).drop("bucket"),
      qterms, stats)
  }

  // --------------------------------------------------------------- qd18
  /** Cross-document duplicate-SPAN detection — the doc-granular
    * approximation of suffix-array exact-substring dedup (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * qd1 only sees whole-doc copies, but training corpora are polluted
    * by boilerplate PARAGRAPHS pasted into otherwise-distinct pages.
    * Each doc's word-5-gram md5 stream is winnowed with a w=4
    * sliding-window min (Schleimer/Wilkerson/Aiken, the MOSS scheme —
    * any shared run of ≥ 8 words is guaranteed to contribute a shared
    * selected fingerprint), and the doc's duplicate-span ratio is the
    * fraction of its selected fingerprints that also occur in some
    * OTHER doc; above 0.5 the doc is mostly duplicated material.
    *
    * Scale shape: fingerprint selection is map-only (winnowing keeps
    * ~2/(w+1) of grams, bounding posting volume); the inverted index is
    * ONE hash shuffle on the fingerprint key; the per-doc rollup is one
    * more on doc_id. Never all-pairs, no suffix array to build.
    */
  /** The winnowed-fingerprint posting list (doc_id, fp), distinct
    * within doc — qd18's map-only selection stage. The per-fp count
    * over it is a window, not groupBy + join back: the join form pays a
    * second full shuffle of the posting list (0.92 s vs 1.59 s at sf0.1;
    * BENCH_NOTES.md, "qd18 per-fp count — window vs groupBy+join").
    */
  private def qd18Fingerprints(s: SparkSession, dir: String): DataFrame = {
    val w = 4
    // The gram array MUST be bound once per row: naming it as a column
    // and referencing it from inside the window lambdas lets the
    // optimizer inline the whole md5-array construction into every
    // reference, and the per-window slice() then re-hashes the entire
    // doc once per window — O(n²) md5 calls per doc (measured 186 s at
    // sf0.1). transform over a single-element array is the binding
    // idiom: the element is evaluated ONCE, the lambda variable is a
    // cheap bound reference.
    val winnowed = flatten(transform(array(tokens(col("text"))), tk =>
      flatten(transform(
        array(when(size(tk) < 5, array(md5(col("text"))))
          .otherwise(transform(
            sequence(lit(1), size(tk) - lit(4)),
            i => md5(concat_ws(" ", slice(tk, i, lit(5))))))),
        g => when(size(g) <= w, array(array_min(g)))
          .otherwise(transform(
            sequence(lit(1), size(g) - lit(w - 1)),
            j => array_min(slice(g, j, lit(w)))))))))
    docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(winnowed)).as("fp"))
  }

  def qd18(s: SparkSession, dir: String): DataFrame = {
    val fps = qd18Fingerprints(s, dir)
    // fps are distinct within a doc, so the per-fp row count IS the
    // number of docs containing that span fingerprint
    val perFp = Window.partitionBy("fp")
    fps
      .withColumn("n_docs_fp", count(lit(1)).over(perFp))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_fps"),
        sum(when(col("n_docs_fp") > 1, 1L).otherwise(0L)).as("n_shared_fps"))
      .withColumn("dup_span_ratio",
        dround(col("n_shared_fps").cast("double") / col("n_fps"), 6))
      .withColumn("dup_span_flag", col("dup_span_ratio") > 0.5)
  }

  private val qd18Sql =
    """WITH grams AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 5 THEN [md5(text)]
      |         ELSE list_transform(range(1, len(toks) - 3),
      |                i -> md5(array_to_string(toks[i:i+4], ' ')))
      |    END AS grams
      |  FROM (SELECT doc_id, text,
      |               regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |fps AS (
      |  SELECT DISTINCT doc_id, fp
      |  FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(grams) <= 4
      |        THEN [list_aggregate(grams, 'min')]
      |        ELSE list_transform(range(1, len(grams) - 2),
      |               j -> list_aggregate(grams[j:j+3], 'min'))
      |      END) AS fp
      |    FROM grams)),
      |counted AS (
      |  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_docs_fp
      |  FROM fps),
      |rolled AS (
      |  SELECT doc_id, count(*) AS n_fps,
      |    CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_shared_fps
      |  FROM counted GROUP BY doc_id)
      |SELECT doc_id, n_fps, n_shared_fps,
      |  round(CAST(n_shared_fps AS DOUBLE) / n_fps, 6) AS dup_span_ratio,
      |  round(CAST(n_shared_fps AS DOUBLE) / n_fps, 6) > 0.5 AS dup_span_flag
      |FROM rolled""".stripMargin

  // --------------------------------------------------------------- qd19
  /** Per-domain quota cap — the representativeness guard web-scale
    * pipelines apply so a handful of giant domains can't dominate the
    * training mixture (C4/RefinedWeb-style per-host caps): rank each
    * doc within its `source` by qd4's quality score (doc_id breaks
    * rounded-score ties, so the rank is a total order on both engines)
    * and keep the top [[capPerSource]]. Both the rank and the keep
    * verdict are emitted so the selection is auditable, not just the
    * survivors.
    *
    * Scale shape: one hash shuffle on the domain key + a bounded
    * per-domain sort — no global sort, no collect. A pathological
    * mega-domain skews its one partition; AQE skew-split handles the
    * sort spill, and the cap itself discards the tail immediately after
    * rank, so downstream stages never see the skew.
    */
  val capPerSource = 10

  def qd19(s: SparkSession, dir: String): DataFrame = {
    val byQuality = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    withQuality(docs(s, dir))
      .withColumn("src_rank", row_number().over(byQuality))
      .withColumn("kept", col("src_rank") <= capPerSource)
      .select("doc_id", "source", "quality_score", "src_rank", "kept")
  }

  private val qd19Sql =
    s"""SELECT doc_id, source, quality_score,
       |  CAST(row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY quality_score DESC, doc_id) AS INT) AS src_rank,
       |  CAST(row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY quality_score DESC, doc_id) AS INT) <= $capPerSource
       |    AS kept
       |FROM (
       |  SELECT doc_id, source,
       |   round(round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
       |           / length(text), 6) * 0.5
       |     + (1.0 - round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |           / length(text), 6)) * 0.2
       |     + round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6) * 0.3,
       |     6) AS quality_score
       |  FROM documents)""".stripMargin

  // --------------------------------------------------------------- qd20
  /** Per-source vocabulary profile, EXACT: distinct tokens, doc count,
    * total tokens — the dataset-card cardinality table. Exact NDV is
    * the expensive path by construction: count(DISTINCT token) must
    * shuffle every (source, token) pair to dedup before counting, so
    * its cost scales with the token stream, not the group count. It
    * exists as the oracle-checkable twin; qd20b is the operating point
    * at scale.
    */
  def qd20(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("tok")).as("ndv_tokens"),
        count(lit(1)).as("total_tokens"))

  private val qd20Sql =
    """WITH tok AS (
      |  SELECT source, doc_id,
      |         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents)
      |SELECT source,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS ndv_tokens,
      |  CAST(count(*) AS BIGINT) AS total_tokens
      |FROM tok GROUP BY source""".stripMargin

  // -------------------------------------------------------------- qd20b
  /** qd20's NDV via HyperLogLog++ sketches (`approx_count_distinct`,
    * rsd 2%) — the 100 TB shape: each task folds its tokens into a
    * fixed-size register array, partials merge by register-max, so the
    * shuffle carries one sketch per (source × task) instead of the
    * deduplicated token stream. Merge is commutative and the hash is
    * seedless, so the estimate is partitioning-independent
    * (property-tested) — but it is engine-specific, so no DuckDB
    * oracle: SketchSpec floors the relative error against the exact
    * twin instead, the qd6b/qe2 pattern for approximate operators.
    */
  def qd20b(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        approx_count_distinct(col("tok"), 0.02).as("ndv_approx"),
        count(lit(1)).as("total_tokens"))

  // --------------------------------------------------------------- qd21
  /** Corpus heavy hitters, EXACT: the top [[heavyHittersK]] tokens by
    * occurrence count (ties to the smaller token — a total order both
    * engines agree on). The stopword-discovery / Zipf-head view; one
    * partial-agg shuffle on the token, then a 50-row global rank.
    */
  val heavyHittersK = 50

  def qd21(s: SparkSession, dir: String): DataFrame = {
    // rankBy auto-dispatches the global rank: single window below the
    // size threshold, range-partition + offset reconstruction above it
    // — the distinct-token table at corpus scale must not funnel
    // through one window task
    val counts = docs(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    graft.operators.Pareto.rankBy(
        counts, Seq(col("n").desc, col("tok").asc), "rnk")
      .filter(col("rnk") <= heavyHittersK)
      .select(col("tok"), col("n"), col("rnk"))
  }

  private val qd21Sql =
    s"""SELECT tok, n, rnk FROM (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS n,
       |         CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS INT) AS rnk
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |        FROM documents)
       |  GROUP BY tok)
       |WHERE rnk <= $heavyHittersK""".stripMargin

  // -------------------------------------------------------------- qd21b
  /** Watchlist frequencies from a Count-Min sketch — the second
    * classic sketch next to qd20b's HLL: one distributed pass folds
    * the token stream into a fixed (depth × width) counter grid
    * (`df.stat.countMinSketch`, partials merge cell-wise), and
    * estimating any token's frequency afterwards is a probe of that
    * grid via the native [[graft.functions.expr.CmsEstimate]] — no
    * second shuffle of the stream, which is the 100 TB point: the
    * exact qd21 groupBy re-shuffles all tokens for every question,
    * the sketch answers any watchlist from kilobytes. Estimates are
    * one-sided (never below the true count, over by ≤ eps*N at the
    * builder's confidence) — engine-specific layout, so no DuckDB
    * oracle: SketchSpec pins both CMS bounds against the exact twin.
    * The watchlist here is qd21's own top-50, making the two results
    * directly comparable.
    */
  def qd21b(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.registerNative(s)
    val tok = docs(s, dir).select(explode(tokens(col("text"))).as("tok"))
    val cms = tok.stat.countMinSketch("tok", eps = 2e-4, confidence = 0.99,
      seed = 42)
    qd21(s, dir)
      .select(col("tok"), col("rnk"),
        call_function("graft_cms_estimate", col("tok"),
          lit(cms.toByteArray)).as("est_n"))
  }

  // ---------------------------------------------------------------- qd8
  /** Blocked pairwise n-gram Jaccard near-dup detection: docs grouped by
    * `source` (the blocking key), all in-block pairs scored on distinct
    * word-3-gram sets. The block join is an equi-join on the blocking key
    * — no global cross product; at 100 TB block sizes bound the
    * quadratic term and MinHash-LSH (qd6) replaces it when blocks grow.
    */
  /** qd8's near-dup threshold. 0.2 is a realistic near-dup floor (a
    * value of 0.01 kept essentially every gram-sharing pair alive
    * through the aggregation — noise, and a blow-up risk on Zipfian
    * grams). The oracle SQL carries the same constant in lockstep.
    */
  private val JaccardThreshold = 0.2

  /** Candidate pairs of the inverted-index join, pre-aggregation —
    * exposed so tests can measure how many pair-rows the length filter
    * prunes. J(A,B) ≤ min/max of the set sizes, so J ≥ t implies
    * min(na,nb) ≥ t·max(na,nb): the filter is LOSSLESS w.r.t. the final
    * threshold but discards size-mismatched postings pairs before the
    * shuffle-heavy groupBy — the PPJoin length filter.
    */
  def ngramCandidatePairs(g: DataFrame, lengthFilter: Boolean): DataFrame = {
    val inv = g.select(col("source"), col("doc_id"), col("ng"),
      explode(col("grams")).as("gram"))
    val a = inv.select(col("source"), col("gram"),
      col("doc_id").as("doc_a"), col("ng").as("na"))
    val b = inv.select(col("source"), col("gram"),
      col("doc_id").as("doc_b"), col("ng").as("nb"))
    val joined = a.join(b, Seq("source", "gram"))
      .filter(col("doc_a") < col("doc_b"))
    if (lengthFilter)
      joined.filter(least(col("na"), col("nb")) >=
        lit(JaccardThreshold) * greatest(col("na"), col("nb")))
    else joined
  }

  def qd8(s: SparkSession, dir: String): DataFrame = {
    // Inverted-index set-similarity join (PPJoin-lite): explode distinct
    // grams, equi-join postings on (source, gram), length-filter, count
    // shared grams per pair, then |A∩B| / (|A|+|B|−|A∩B|). Identical
    // jaccard values to the naive pairwise form but no per-pair array
    // allocation — the block cross product materializes only pairs that
    // share ≥1 gram AND pass the size-ratio bound, which is the shape
    // that survives a 100 TB corpus.
    val g = docs(s, dir)
      .withColumn("grams", array_distinct(wordGrams(tokens(col("text")), 3)))
      .select(col("doc_id"), col("source"), col("grams"), size(col("grams")).as("ng"))
    ngramCandidatePairs(g, lengthFilter = true)
      .groupBy("source", "doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jac", dround(
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")), 6))
      .filter(col("jac") >= JaccardThreshold)
      .select("source", "doc_a", "doc_b", "jac")
  }

  private val qd8Sql =
    """WITH g AS (
      |  SELECT doc_id, source,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [] END) AS grams
      |  FROM (SELECT doc_id, source,
      |               regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents))
      |SELECT source, doc_a, doc_b, jac FROM (
      |  SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jac
      |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
      |WHERE jac >= 0.2""".stripMargin

  // ---------------------------------------------------------------- qd6
  /** MinHash-LSH near-duplicate candidates (no SQL oracle — xxhash64).
    * Pipeline: word-3-gram shingles → 64-component minhash signature →
    * 16 bands × 4 rows → band-bucket equi-join → per-doc candidate count
    * + verified near-dup count (exact Jaccard ≥ 0.5 on candidates).
    * Emits one row per doc so the result is stable on dup-free corpora.
    */
  private def qd6Sig(s: SparkSession, dir: String): DataFrame =
    signaturesOf(docs(s, dir)).select("doc_id", "grams", "sig", "bands")

  /** MinHash signatures + band hashes for any frame with (doc_id, text)
    * — ONE definition of the signature parameters (3-grams, k=64,
    * 16×4 bands) shared by qd6, qd6b's index build and the streaming
    * incremental dedup, so they can never drift.
    */
  private[graft] def signaturesOf(d: DataFrame): DataFrame =
    d.withColumn("grams", array_distinct(wordGrams(tokens(col("text")), 3)))
      .filter(size(col("grams")) > 0)
      .withColumn("sig", minhashSignature(col("grams"), 64))
      .withColumn("bands", bandHashes(col("sig"), 16, 4))

  /** Signature-estimated Jaccard between two sig columns. */
  private[graft] def sigEstimate(sa: Column, sb: Column): Column =
    aggregate(zip_with(sa, sb, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (a, x) => a + x).cast("double") / size(sa)

  /** MinHash band-collision candidate pairs (doc_a < doc_b), ids only —
    * exposed for the recall measurement (RECALL.json). The posting list
    * carries ONLY (doc_id, band, hash): deduplicating (doc_a, doc_b)
    * must never shuffle the gram arrays themselves (an earlier version
    * dragged both ~100-gram arrays through the distinct() exchange and
    * was 30× slower once the bench stopped letting count() prune it).
    */
  def qd6CandidatePairs(s: SparkSession, dir: String): DataFrame =
    bandCollisionPairs(qd6Sig(s, dir))

  /** qd6/qd6b oracle chain: with the portable md5-based shingle
    * hash ([[graft.functions.TextFunctions.shingleHash31]]) and the
    * polynomial band fold, the ENTIRE banded-LSH algorithm — shingles
    * → 64 affine-permutation minima (the (a,b) parameter stream is the
    * same seeded generator, embedded as literals) → 16×4 band buckets
    * → collision candidates — replicates in SQL, so both dedup twins
    * hash-match a transparent-model oracle (candidates INCLUDED: a
    * banding bug is a hash mismatch, not a recall dip). Ends at
    * `cand` (doc_a < doc_b) over `gf` (docs with grams) / `sb`
    * (signatures).
    */
  private lazy val minhashCtes: String = {
    val p = 2147483647L
    val rnd = new scala.util.Random(0x5EED)
    val params = Seq.fill(64)((1L + rnd.nextInt((p - 1).toInt).toLong,
      rnd.nextInt(p.toInt).toLong))
    val sigExprs = params.map { case (a, b) =>
      s"coalesce(list_min(list_transform(hs, h -> (h * $a + $b) % $p)), $p)"
    }.mkString(",\n      ")
    val bandExprs = (0 until 16).map { b =>
      (0 until 4).foldLeft(s"CAST($b AS BIGINT)")((acc, r) =>
        s"(($acc) * 1000000007 + sig[${b * 4 + r + 1}]) % $p")
    }.mkString(",\n      ")
    s"""WITH g AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(1, len(toks) - 1),
       |             i -> array_to_string(toks[i:i+2], ' '))
       |      ELSE [] END) AS grams
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)),
       |gf AS (SELECT doc_id, grams FROM g WHERE len(grams) > 0),
       |hsx AS (SELECT doc_id, grams,
       |               list_transform(grams, s ->
       |                 CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % $p) AS hs
       |        FROM gf),
       |sg AS (SELECT doc_id, grams, [
       |      $sigExprs
       |    ] AS sig FROM hsx),
       |sb AS (SELECT doc_id, grams, sig, [
       |      $bandExprs
       |    ] AS bands FROM sg),
       |bl AS (SELECT doc_id, bi AS band_idx, bands[bi + 1] AS band_val
       |       FROM sb, (SELECT unnest(range(0, 16)) AS bi) t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bl a JOIN bl b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Shared per-doc counts tail over a scored candidate frame. */
  private def minhashCountsSql(scoredCte: String): String =
    s"""$scoredCte,
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
       |         CAST(sum(CASE WHEN s >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_near_dups
       |  FROM (SELECT doc_a AS doc_id, s FROM scored
       |        UNION ALL SELECT doc_b, s FROM scored)
       |  GROUP BY doc_id)
       |SELECT gf.doc_id,
       |       coalesce(p.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
       |       coalesce(p.n_near_dups, CAST(0 AS BIGINT)) AS n_near_dups
       |FROM gf LEFT JOIN perdoc p ON gf.doc_id = p.doc_id""".stripMargin

  /** qd6: candidates verified on EXACT gram Jaccard. */
  private lazy val qd6Sql =
    s"""$minhashCtes,
       |${minhashCountsSql(
      """scored AS (
        |  SELECT c.doc_a, c.doc_b,
        |         len(list_intersect(a.grams, b.grams))
        |           / CAST(len(list_distinct(list_concat(a.grams, b.grams)))
        |                  AS DOUBLE) AS s
        |  FROM cand c
        |  JOIN gf a ON c.doc_a = a.doc_id
        |  JOIN gf b ON c.doc_b = b.doc_id)""".stripMargin)}""".stripMargin

  /** qd6b: candidates verified on SIGNATURE-estimated Jaccard (the
    * index-only probe never re-reads grams).
    */
  private lazy val qd6bSql =
    s"""$minhashCtes,
       |${minhashCountsSql(
      """scored AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(list_sum(list_transform(range(1, 65),
        |           i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
        |              AS DOUBLE) / 64 AS s
        |  FROM cand c
        |  JOIN sb a ON c.doc_a = a.doc_id
        |  JOIN sb b ON c.doc_b = b.doc_id)""".stripMargin)}""".stripMargin

  /** Shared candidate generator: band-collision pairs (doc_a < doc_b)
    * from any (doc_id, bands) frame — the fused path feeds it the
    * freshly-computed signatures, the index probe the persisted ones,
    * and TextStreaming its per-batch signatures, so banding changes
    * cannot diverge the three.
    */
  private[graft] def bandCollisionPairs(withBands: DataFrame): DataFrame = {
    val exploded = withBands.select(
      col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Shared aggregation tail: per-doc candidate/near-dup counts from
    * scored pairs, one row per doc of `allDocs` (zero-filled).
    */
  private def perDocDupCounts(scored: DataFrame, score: Column,
      allDocs: DataFrame): DataFrame = {
    val perDoc = scored
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), score.as("s")),
        struct(col("doc_b").as("doc_id"), score.as("s")))).as("x"))
      .select("x.*")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("s") >= 0.5, 1).otherwise(0)).as("n_near_dups"))
    allDocs.join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_near_dups"))
  }

  def qd6(s: SparkSession, dir: String): DataFrame = {
    // Signatures are computed ONCE and materialized through the SAME
    // write-once parquet index qd6b probes: the shingle + 64-permutation
    // pass dominates qd6's cost, and the frame is referenced five times
    // downstream (both sides of the band self-join, the two gram
    // lookups, the zero-fill doc list) — each reference would otherwise
    // re-run the full pass. A localCheckpoint would instead park the
    // frame in executor block-manager storage for the LIFETIME OF THE
    // SESSION with no release hook (BENCH_r05: every query running after
    // qd6 regressed 1.5–3.4× under that storage pressure). The parquet index has an explicit
    // lifecycle (staleness-probed, overwrite-on-rebuild), costs one
    // column-pruned read per reference, and is the artifact a 100 TB
    // deployment would ship anyway.
    val sig = minhashIndex(s, dir)
    // verify candidates on exact Jaccard: gram arrays are fetched by id
    // AFTER the pair dedup, via two broadcast joins of the doc-side table
    val grams = sig.select(col("doc_id"), col("grams"))
    // no broadcast hint: AQE broadcasts when the gram table fits and
    // falls back to a shuffled join when it doesn't — a forced hint
    // would cap the corpus at driver memory
    val cand = bandCollisionPairs(sig)
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga")),
        Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb")),
        Seq("doc_b"))
      .withColumn("jac", jaccard(col("ga"), col("gb")))
    perDocDupCounts(cand, col("jac"), sig.select("doc_id"))
  }

  // --------------------------------------------------------------- qd6b
  /** MinHash-LSH dedup over a PERSISTED signature index (the qe5b
    * pattern applied to text dedup): at corpus scale the signatures +
    * band hashes are an offline artifact — the probe never re-reads or
    * re-shingles the documents. Verification is SIGNATURE-estimated
    * Jaccard (matching minhash components / k), the standard index-only
    * verify: E[est] = J exactly, and at k = 64 a deviation > 0.25 has
    * probability < 2e⁻⁴ per pair (Hoeffding) — tested against the exact
    * gram Jaccard on every candidate pair. No SQL oracle (xxhash64);
    * determinism + agreement with qd6's candidates asserted in tests.
    */
  def minhashIndexPath(dir: String): String =
    HadoopFs.indexPath("minhash", dir, 3, 64, 16, 4, "md5p31")

  /** Write-once signature index shared by qd6 (fused verify, reads
    * grams) and qd6b (index-only probe, column-pruned to sig/bands —
    * the parquet reader never materializes the gram arrays there).
    */
  def minhashBuild(s: SparkSession, dir: String, path: String): Unit =
    qd6Sig(s, dir).select("doc_id", "grams", "sig", "bands")
      .write.mode("overwrite").parquet(s"$path/signatures")

  val Minhash: PersistedIndex =
    PersistedIndex("minhash", "documents", "signatures", minhashIndexPath, minhashBuild)

  private def minhashIndex(s: SparkSession, dir: String): DataFrame =
    HadoopFs.parquet(s, s"${Minhash.ensure(s, dir)}/signatures")

  /** The probe path's band-collision candidate pairs straight off the
    * persisted index — exposed for the recall measurement (RECALL.json
    * needs probe-path evidence, not just the fused qd6's).
    */
  def qd6bCandidatePairs(s: SparkSession, dir: String): DataFrame =
    bandCollisionPairs(minhashIndex(s, dir))

  def qd6b(s: SparkSession, dir: String): DataFrame = {
    val idx = minhashIndex(s, dir)
    val cand = bandCollisionPairs(idx)
    val sigs = idx.select(col("doc_id"), col("sig"))
    val est = cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), Seq("doc_b"))
      .withColumn("jac_est", sigEstimate(col("sa"), col("sb")))
    perDocDupCounts(est, col("jac_est"), idx.select("doc_id"))
  }

  // ---------------------------------------------------------------- qd7
  /** SimHash fingerprint + banded Hamming near-dup count. Tokens →
    * portable 60-bit md5 hash per token ([[tokenHash]], not xxhash64,
    * so the oracle can replicate it) → per-bit signed vote sums →
    * fingerprint; near-dups via 8×8-bit band blocking (pigeonhole: ≤7
    * flipped bits cannot dirty all 8 bands, so candidate recall at the
    * Hamming-6 verify radius is 1.0 BY CONSTRUCTION), verified with
    * bit_count(xor) ≤ 6.
    *
    * FULL SQL oracle: the portable hash + structural banding
    * make the output equal to the exact all-pairs Hamming result, so
    * the oracle skips the banding entirely and recomputes fingerprints
    * + all-pairs verify — any banding bug that loses a pair (or an
    * engine hash drift) is a hash mismatch, not a recall dip.
    */
  /** SimHash 64-bit fingerprints per doc — exposed for the recall
    * measurement's exact-twin (all-pairs Hamming) computation.
    *
    * Map-only: token hashes stay an array and the native SimHashBits
    * expression folds the 64 bit-votes in one fused loop. The
    * relational formulation (explode → groupBy(doc) with 64
    * conditional-sum aggregators) shuffled every token row; bit-vote
    * math is integer and order-free, so this is bit-identical
    * (parity-tested) with the shuffle gone from the plan.
    */
  def qd7Fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        transform(tokens(col("text")), t => tokenHash(t)).as("hs"))
      .select(col("doc_id"), call_function("graft_simhash", col("hs")).as("simhash"))

  /** Round-1 aggregation formulation — kept for the parity test. */
  def qd7FingerprintsAgg(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val bitVotes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$j"))
    val votes = tok.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    val fp = (0 until 64)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _) // disjoint powers of two: sum == bitwise OR
    votes.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash band-collision candidate pairs (doc_a < doc_b), before the
    * Hamming verification — exposed for the recall measurement.
    *
    * 8 bands × 8 bits (4×16 measured recall 0.646): by
    * pigeonhole, ≤ 7 flipped bits cannot dirty all 8 bands, so every
    * pair within the Hamming-6 verify radius shares ≥1 clean band —
    * candidate recall is exactly 1.0 BY CONSTRUCTION, at the cost of a
    * ~2⁻⁸-per-band random collision rate (vs 2⁻¹⁶) that the bit_count
    * verification then prunes.
    */
  def qd7CandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val banded = qd7Fingerprints(s, dir).select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band_idx"),
          shiftright(col("simhash"), b * 8).bitwiseAND(lit(0xFFL)).as("band_val"))): _*)).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band_idx"), col("bd.band_val"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("fa"), col("b.simhash").as("fb"))
      .distinct()
  }

  def qd7(s: SparkSession, dir: String): DataFrame = {
    val fps = qd7Fingerprints(s, dir)
    val near = qd7CandidatePairs(s, dir)
      .filter(bit_count(col("fa").bitwiseXOR(col("fb"))) <= 6)
    val perDoc = near
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_near"))
    fps.join(perDoc, Seq("doc_id"), "left").na.fill(0L, Seq("n_near"))
      .select("doc_id", "simhash", "n_near")
  }

  /** qd7 oracle: fingerprints from the portable md5 token hash (60
    * informative bits — fingerprint bits 60–63 are structurally 0, so
    * the vote loop stops at 59), then the EXACT all-pairs Hamming ≤ 6
    * count (equal to the banded path's output by the 8-band pigeonhole
    * guarantee). Docs with no token rows keep fingerprint 0 via the
    * documents left join, matching the empty-array vote.
    */
  private lazy val qd7Sql = {
    val votes = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n    ")
    val fp = (0 until 60).map(j =>
      s"CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id,
       |             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |      FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |f AS (
       |  SELECT d.doc_id, CAST(coalesce($fp, 0) AS BIGINT) AS simhash
       |  FROM documents d LEFT JOIN votes v ON d.doc_id = v.doc_id),
       |near AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM f a JOIN f b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
       |counts AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
       |    SELECT doc_a AS doc_id FROM near
       |    UNION ALL SELECT doc_b FROM near)
       |  GROUP BY doc_id)
       |SELECT f.doc_id, f.simhash,
       |       coalesce(c.n_near, CAST(0 AS BIGINT)) AS n_near
       |FROM f LEFT JOIN counts c ON f.doc_id = c.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- qd22
  /** Near-duplicate document CLUSTERS with canonical selection — the
    * keep/drop verdict that closes the text-dedup loop. qd6/qd8 only
    * COUNT or SCORE near-dups per doc; a training-data pipeline needs
    * the survivor set itself (which docs form a dup group, which single
    * doc represents it — cf. qe8/qe10 for embeddings). Edges are exact
    * word-3-gram Jaccard ≥ 0.5 pairs produced by a GLOBAL inverted-index
    * join: any pair with J > 0 shares at least one gram, so candidate
    * recall is structural (no banding to miss an edge — this is what
    * makes the operator oracle-checkable, unlike hash-banded qd6).
    * Clusters are connected components over those edges; the canonical
    * survivor is the min doc_id of each cluster (`is_canonical`), so
    * `filter(is_canonical)` IS the deduplicated corpus and
    * `cluster_size` the audit trail.
    *
    * Scale shape: the posting join is one hash shuffle on the gram key
    * (Zipfian hot grams are bounded by the PPJoin length filter and,
    * at 100 TB, by the standard stopword-gram cap); the per-pair
    * aggregation is map-side combinable; ConnectedComponents
    * auto-dispatches driver union-find (edges < 2^18) vs alternating-
    * star O(log n) distributed rounds. Never all-pairs.
    */
  /** qd22's exact-Jaccard edge list (doc_a < doc_b) — exposed so the
    * plan spec can pin the posting-join shape (the CC auto-dispatch
    * consumes the edges before the operator's final plan, so the join
    * isn't visible through qd22's own executedPlan).
    */
  private[graft] def qd22Edges(s: SparkSession, dir: String): DataFrame = {
    val t = 0.5
    val g = docs(s, dir)
      .withColumn("grams", array_distinct(wordGrams(tokens(col("text")), 3)))
      .select(col("doc_id"), col("grams"), size(col("grams")).as("ng"))
    // materialize the exploded posting list ONCE — both sides of the
    // gram self-join re-ran the documents scan + tokenize + gram-ify +
    // explode otherwise (2 documents scans in the uncut plan; AQE
    // re-plans each side so the scan-level reuse is not guaranteed).
    // The cut also makes the two join inputs the same LogicalRDD, so
    // the gram exchange is reusable by construction.
    val inv = graft.operators.Checkpoints.cut(
      g.select(col("doc_id"), col("ng"), explode(col("grams")).as("gram")))
    inv.as("a").join(inv.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      // J ≥ t ⇒ min(na,nb) ≥ t·max(na,nb): lossless size pruning before
      // the shuffle-heavy pair aggregation (PPJoin length filter)
      .filter(least(col("a.ng"), col("b.ng")) >=
        lit(t) * greatest(col("a.ng"), col("b.ng")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ng").as("na"), col("b.ng").as("nb"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .filter(dround(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")), 6) >= t)
      .select("doc_a", "doc_b")
  }

  def qd22(s: SparkSession, dir: String): DataFrame = {
    graft.operators.ConnectedComponents
      .clusters(qd22Edges(s, dir), docs(s, dir).select(col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).as("is_canonical"))
  }

  private val qd22Sql =
    """WITH RECURSIVE g AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [] END) AS grams
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |inv AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
      |edges AS (
      |  SELECT u, v FROM (
      |    SELECT a.doc_id AS u, b.doc_id AS v, a.ng AS na, b.ng AS nb,
      |           count(*) AS shared
      |    FROM inv a JOIN inv b
      |      ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |    GROUP BY 1, 2, 3, 4)
      |  WHERE round(CAST(shared AS DOUBLE) / (na + nb - shared), 6) >= 0.5),
      |reach(u, v) AS (
      |  SELECT doc_id, doc_id FROM g
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
      |  doc_id = cluster_id AS is_canonical
      |FROM cl""".stripMargin

  // --------------------------------------------------------------- qd23
  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * doc by how target-like its hashed-n-gram distribution is, where
    * the target is the high-quality slice (qd4 quality ≥ 0.75 — in
    * production this is your curated domain: Wikipedia, books). Tokens
    * hash into B=1024 buckets (the paper's hashed feature trick — fixed
    * feature space regardless of vocabulary); each bucket carries the
    * add-one-smoothed log-likelihood ratio log p̂_target(b) −
    * log p̂_raw(b); a doc's score is its mean per-token log-ratio and
    * `selected` marks docs that look more target than raw — the
    * importance-resampling pool.
    *
    * Determinism contract: the per-bucket log-ratio is quantized to
    * integer micro-nats (the dround floor construction — DuckDB round
    * semantics), per-doc sums are exact longs, so FP association order
    * can't flip a 6dp score; bucket ids are the md5 idiom the oracle
    * reproduces verbatim (qd11).
    *
    * Scale shape: ONE scan builds the (doc, bucket, is_target) token
    * stream; bucket stats are a B-row aggregation (map-side
    * combinable, B fixed at any corpus size) broadcast back; the only
    * per-corpus shuffle is the final partial-agged groupBy(doc_id).
    * The B-row ratio table is exactly what a 100 TB run would persist
    * and reuse across selection sweeps.
    */
  /** Frame-parameterized DSIR core (tests plant separable vocabularies):
    * `d` carries (doc_id, text). Smoothing is a Dirichlet prior that
    * shrinks the target estimate TOWARD THE RAW distribution —
    * p̂r(b) = (cr+1)/(nr+B), p̂t(b) = (ct + B·p̂r(b))/(nt + B) — not
    * add-one on both sides: with a small target slice (nt ≪ nr),
    * symmetric add-one makes every UNSEEN token look target-like
    * (log(1/(nt+B)) − log(1/(nr+B)) > 0), which inverts the selection
    * into a rare-junk magnet (observed on the sf0.001 corpus before the
    * fix). Under the raw-centered prior an unseen bucket scores
    * log(B/(nt+B)) < 0, and a target slice that IS the raw
    * distribution scores exactly 0 — unbiased.
    */
  private[graft] def dsirFrom(d: DataFrame, qualityThreshold: Double): DataFrame = {
    val B = 1024
    val base = withQuality(d)
      .select(col("doc_id"), (col("quality_score") >= qualityThreshold).as("is_target"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("b", graft.operators.Sampling.hashBucket(col("tok"), B))
      .select("doc_id", "is_target", "b")
    val counts = base.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
    val tot = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val pr = (col("cr") + lit(1.0)) / (col("nr") + lit(B.toDouble))
    val pt = (col("ct") + lit(B.toDouble) * pr) / (col("nt") + lit(B.toDouble))
    // micro-nat quantization with DuckDB round-half-away semantics
    // (Rounding.dround's floor construction, to integer)
    val x = (log(pt) - log(pr)) * lit(1e6)
    val cents = when(x >= 0, floor(x + lit(0.5)))
      .otherwise(-floor(-x + lit(0.5))).cast("long")
    val lr = counts.crossJoin(broadcast(tot)).select(col("b"), cents.as("cents"))
    val score = dround(col("sc") / lit(1e6) / col("n_tokens"), 6)
    base.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("cents").as("sc"))
      .select(col("doc_id"), col("n_tokens"),
        score.as("dsir_score"), (score > 0).as("selected"))
  }

  def qd23(s: SparkSession, dir: String): DataFrame =
    dsirFrom(docs(s, dir), 0.75)

  private val qd23Sql =
    """WITH tb AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS b
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents)),
      |q AS (
      |  SELECT doc_id,
      |    round(alpha_ratio * 0.5 + (1.0 - digit_ratio) * 0.2
      |          + len_norm * 0.3, 6) AS quality_score
      |  FROM (
      |    SELECT doc_id,
      |      round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |            / length(text), 6) AS alpha_ratio,
      |      round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |            / length(text), 6) AS digit_ratio,
      |      round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6) AS len_norm
      |    FROM documents)),
      |marked AS (
      |  SELECT tb.doc_id, tb.b, (q.quality_score >= 0.75) AS is_target
      |  FROM tb JOIN q ON tb.doc_id = q.doc_id),
      |counts AS (
      |  SELECT b, count(*) AS cr,
      |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM marked GROUP BY b),
      |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
      |               CAST(sum(ct) AS BIGINT) AS nt FROM counts),
      |lr AS (
      |  SELECT b,
      |    CAST(round((ln((ct + 1024.0 * pr) / (nt + 1024.0))
      |               - ln(pr)) * 1000000.0) AS BIGINT) AS cents
      |  FROM (SELECT b, ct, nt,
      |          (cr + 1.0) / (nr + 1024.0) AS pr
      |        FROM counts, tot)),
      |scored AS (
      |  SELECT m.doc_id, count(*) AS n_tokens, CAST(sum(l.cents) AS BIGINT) AS sc
      |  FROM marked m JOIN lr l ON m.b = l.b
      |  GROUP BY m.doc_id)
      |SELECT doc_id, n_tokens,
      |  round(sc / 1000000.0 / n_tokens, 6) AS dsir_score,
      |  round(sc / 1000000.0 / n_tokens, 6) > 0 AS selected
      |FROM scored""".stripMargin

  // --------------------------------------------------------------- qd24
  /** Zipf power-law fit over the token frequency spectrum — the
    * one-row corpus-health diagnostic run before tokenizer/mixture
    * decisions: natural text follows freq ∝ rank^s with s ≈ −1
    * (Zipf's law); a slope far from −1 flags synthetic/templated or
    * over-deduplicated data, and the intercept tracks vocabulary
    * concentration. Fit is OLS on (ln rank, ln freq) over the top-1000
    * ranks (the head is where the law holds; the tail is
    * finite-sample noise).
    *
    * Determinism contract: ln values are quantized to integer
    * micro-units FIRST, so all five OLS sums are exact longs —
    * distributed vs sequential summation order cannot move the fitted
    * slope; the closing arithmetic is double with the identical
    * operation order on both engines (cast-to-double before the
    * k·Σxy-scale products, which overflow longs).
    *
    * Scale shape: one partial-agged shuffle for token counts,
    * rankBy's auto-dispatched global rank for the top-1000, then a
    * 1000-row aggregation — nothing grows with corpus size past the
    * distinct-token count.
    */
  def qd24(s: SparkSession, dir: String): DataFrame = {
    val topN = 1000
    val counts = docs(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n"))
    val top = graft.operators.Pareto.rankBy(
        counts, Seq(col("n").desc, col("tok").asc), "rnk")
      .filter(col("rnk") <= topN)
    def micro(c: Column): Column = {
      val x = log(c) * lit(1e6)
      when(x >= 0, floor(x + lit(0.5))).otherwise(-floor(-x + lit(0.5))).cast("long")
    }
    val sums = top
      .select(micro(col("rnk").cast("double")).as("x"),
        micro(col("n").cast("double")).as("y"))
      .agg(count(lit(1)).as("k"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val tot = counts.agg(count(lit(1)).as("n_distinct"), sum("n").as("n_total"))
    val num = col("k").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = col("k").cast("double") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = when(den === 0, 0.0).otherwise(num / den)
    val intercept = when(den === 0, 0.0).otherwise(
      (col("sy").cast("double") - (num / den) * col("sx").cast("double"))
        / col("k").cast("double") / lit(1e6))
    sums.crossJoin(broadcast(tot)).select(
      col("n_distinct"), col("n_total"),
      dround(slope, 6).as("zipf_slope"),
      dround(intercept, 6).as("zipf_intercept"))
  }

  private val qd24Sql =
    """WITH counts AS (
      |  SELECT tok, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents)
      |  GROUP BY tok),
      |pts AS (
      |  SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
      |         CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
      |  FROM (SELECT n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rnk
      |        FROM counts)
      |  WHERE rnk <= 1000),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM pts),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct,
      |               CAST(sum(n) AS BIGINT) AS n_total FROM counts)
      |SELECT n_distinct, n_total,
      |  round(CASE WHEN den = 0 THEN 0.0 ELSE num / den END, 6) AS zipf_slope,
      |  round(CASE WHEN den = 0 THEN 0.0 ELSE
      |    (CAST(sy AS DOUBLE) - (num / den) * CAST(sx AS DOUBLE))
      |      / CAST(k AS DOUBLE) / 1000000.0 END, 6) AS zipf_intercept
      |FROM (
      |  SELECT *,
      |    CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den
      |  FROM sums), tot""".stripMargin

  // --------------------------------------------------------------- qd25
  /** Deterministic dataset mixture as a graded query surface —
    * operators.Sampling.mixture (the wiki×2.5 + web×0.3 corpus-mixing
    * recipe training runs consume) applied to the documents table:
    * English replays at 2.3 epochs (2 full + a 0.3 hash-sampled
    * partial, salted by epoch so the partial is independent of the
    * full replays), everything else at 0.4. Membership is a pure
    * function of (doc_id, epoch) via the md5-bucket idiom, so the mix
    * is identical on any partitioning/engine — which is exactly what
    * lets DuckDB reproduce it row-for-row. Plans as a union of
    * map-side-filtered scans: no shuffle, no RNG state.
    */
  def qd25(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("lang"))
    val mixed = graft.operators.Sampling.mixture(
      Seq(
        ("en_docs", d.filter(col("lang") === "en"), 2.3),
        ("other_docs", d.filter(col("lang") =!= "en"), 0.4)),
      "doc_id")
    mixed.select(col("doc_id"), col("lang"), col("_source"), col("_epoch"))
  }

  private val qd25Sql =
    """WITH en AS (SELECT doc_id, lang FROM documents WHERE lang = 'en'),
      |oth AS (SELECT doc_id, lang FROM documents WHERE lang <> 'en')
      |SELECT doc_id, lang, 'en_docs' AS _source, CAST(0 AS INT) AS _epoch FROM en
      |UNION ALL
      |SELECT doc_id, lang, 'en_docs', CAST(1 AS INT) FROM en
      |UNION ALL
      |SELECT doc_id, lang, 'en_docs', CAST(2 AS INT) FROM en
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#2'), 1, 8)) AS BIGINT)
      |        % 1000000 < 300000
      |UNION ALL
      |SELECT doc_id, lang, 'other_docs', CAST(0 AS INT) FROM oth
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 8)) AS BIGINT)
      |        % 1000000 < 400000""".stripMargin

  // --------------------------------------------------------------- qd26
  /** Sliding token-window chunking: split every document into
    * fixed-size overlapping chunks ([[ChunkSize]] tokens, stride
    * [[ChunkStride]]) — the passage-extraction step before embedding /
    * retrieval indexing and the context-window split before tokenized
    * training. Chunk starts are 0, S, 2S, … with the last start the
    * smallest multiple of S covering the tail, so every token lands in
    * ≥1 chunk and a short document yields exactly one chunk.
    *
    * Shape: map-only — one scan, a per-row `sequence`+`explode` (fan-out
    * ≤ n_tokens/S per row), no shuffle, no state. At 100 TB this runs
    * embarrassingly parallel and the output partitioning inherits the
    * input's; exactly what a chunker must be.
    */
  private val ChunkSize = 32
  private val ChunkStride = 24

  def qd26(s: SparkSession, dir: String): DataFrame =
    chunkDocs(docs(s, dir))

  /** The chunking transform itself, shared verbatim with the streaming
    * path (graft.streaming.TextStreaming.chunkDocs): stateless, so
    * batch ≡ stream by construction.
    */
  private[graft] def chunkDocs(df: DataFrame): DataFrame = {
    val (cs, st) = (ChunkSize, ChunkStride)
    df
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      // extra chunks past the first: ceil(max(n-C,0)/S) in int arithmetic
      .withColumn("n_extra",
        ((greatest(col("n_tokens") - cs, lit(0)) + (st - 1)) / st).cast("int"))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("n_extra"))))
      .withColumn("start_token", (col("chunk_idx") * st).cast("bigint"))
      .withColumn("chunk", slice(col("toks"), col("chunk_idx") * st + 1, lit(cs)))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        concat(col("doc_id"), lit("#"), col("chunk_idx")).as("chunk_id"),
        col("start_token"),
        size(col("chunk")).as("chunk_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  private val qd26Sql =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
       |c AS (SELECT doc_id, toks, n_tokens,
       |             (greatest(n_tokens - $ChunkSize, 0) + ${ChunkStride - 1})
       |               // $ChunkStride AS n_extra
       |      FROM n),
       |x AS (SELECT doc_id, toks, n_tokens,
       |             unnest(range(0, n_extra + 1)) AS i FROM c)
       |SELECT doc_id,
       |  CAST(i AS INT) AS chunk_idx,
       |  doc_id || '#' || i AS chunk_id,
       |  CAST(i * $ChunkStride AS BIGINT) AS start_token,
       |  CAST(len(list_slice(toks, i * $ChunkStride + 1,
       |                      i * $ChunkStride + $ChunkSize)) AS INT) AS chunk_tokens,
       |  array_to_string(list_slice(toks, i * $ChunkStride + 1,
       |                             i * $ChunkStride + $ChunkSize), ' ') AS chunk_text
       |FROM x""".stripMargin

  // --------------------------------------------------------------- qd27
  /** Corpus-LM perplexity scoring + CCNet-style quality buckets: fit an
    * add-k-smoothed bigram language model on the corpus itself, score
    * every document's per-token cross-entropy under it, and split the
    * corpus into head/middle/tail terciles by perplexity — the CCNet
    * (Wenzek et al., 2020) quality-bucketing step that decides which
    * slice of a crawl is worth training on (head = most natural under
    * the LM). Self-trained here; in production the LM is fit on a clean
    * target corpus (Wikipedia) and only the scoring join changes inputs.
    *
    * Determinism contract (the qd24 discipline): each bigram's ln P is
    * quantized to integer micro-nats BEFORE the per-doc sum, so document
    * scores are exact longs and summation order cannot move a bucket
    * boundary; the closing ce/ppl arithmetic runs the identical
    * operation order on both engines, and the tercile rank orders by the
    * exact rational (micro-sum, n_bigrams) pair before the formula
    * `floor((rnk-1)·3/n)` (= SQL NTILE's distribution).
    *
    * Scale shape: model = one (u,v) partial-agged shuffle + a
    * vocab-sized prefix rollup; scoring = doc-bigram counts shuffled
    * once on (u,v) into the model join; the tercile split uses
    * Pareto.rankBy's auto-dispatched two-phase global rank — no
    * single-partition window at corpus scale (production would swap the
    * exact tercile for approxQuantile cutoffs; the bucket column is the
    * contract, not the sort).
    */
  private val LmK = 0.5 // add-k smoothing mass

  def qd27(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    // (doc_id, u, v, cnt): per-doc bigram multiplicities
    val docBigrams = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "u")))
      .withColumn("v", lead("u", 1).over(
        Window.partitionBy("doc_id").orderBy("i")))
      .filter(col("v").isNotNull)
      .groupBy("doc_id", "u", "v")
      .agg(count(lit(1)).as("cnt"))
    val model = docBigrams.groupBy("u", "v").agg(sum("cnt").as("cuv"))
    val prefix = model.groupBy("u").agg(sum("cuv").as("cu"))
    val vocab = toks
      .select(explode(col("toks")).as("tok"))
      .agg(countDistinct("tok").as("vsz"))
    // micro-nats of ln P(v|u), rounded half-away-from-zero (qd24 idiom)
    def micro(c: Column): Column =
      when(c >= 0, floor(c * 1e6 + lit(0.5)))
        .otherwise(-floor(-(c * 1e6) + lit(0.5))).cast("long")
    val scored = docBigrams
      .join(model, Seq("u", "v"))
      .join(prefix, Seq("u"))
      .crossJoin(broadcast(vocab))
      .withColumn("mll", micro(log(
        (col("cuv") + LmK) / (col("cu") + lit(LmK) * col("vsz")))))
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("mll")).as("msum"), sum("cnt").as("n_bigrams"))
    val ndocs = scored.agg(count(lit(1)).as("nd"))
    val ranked = graft.operators.Pareto.rankBy(
        scored,
        Seq((col("msum").cast("double") / col("n_bigrams")).desc,
          col("doc_id").asc),
        "rnk")
      .crossJoin(broadcast(ndocs))
    val ce = (-col("msum").cast("double") / 1e6) / col("n_bigrams")
    ranked.select(
      col("doc_id"), col("n_bigrams"),
      dround(ce, 6).as("ce_nats"),
      dround(exp(dround(ce, 6)), 6).as("perplexity"),
      when(expr("(rnk - 1) * 3 div nd") === 0, "head")
        .when(expr("(rnk - 1) * 3 div nd") === 1, "middle")
        .otherwise("tail").as("bucket"))
  }

  private val qd27Sql =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |tx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
       |db AS (
       |  SELECT doc_id, u, v, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, toks[i] AS u, toks[i + 1] AS v FROM tx)
       |  GROUP BY doc_id, u, v),
       |model AS (SELECT u, v, CAST(sum(cnt) AS BIGINT) AS cuv FROM db GROUP BY u, v),
       |prefix AS (SELECT u, CAST(sum(cuv) AS BIGINT) AS cu FROM model GROUP BY u),
       |vocab AS (
       |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
       |  FROM (SELECT unnest(toks) AS tok FROM t)),
       |scored AS (
       |  SELECT doc_id,
       |         CAST(sum(cnt * CAST(round(ln((cuv + $LmK) / (cu + $LmK * vsz))
       |                                   * 1000000.0) AS BIGINT)) AS BIGINT) AS msum,
       |         CAST(sum(cnt) AS BIGINT) AS n_bigrams
       |  FROM db JOIN model USING (u, v) JOIN prefix USING (u), vocab
       |  GROUP BY doc_id),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM scored),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (
       |      ORDER BY CAST(msum AS DOUBLE) / n_bigrams DESC, doc_id) AS INT) AS rnk
       |  FROM scored)
       |SELECT doc_id, n_bigrams,
       |  round((-CAST(msum AS DOUBLE) / 1000000.0) / n_bigrams, 6) AS ce_nats,
       |  round(exp(round((-CAST(msum AS DOUBLE) / 1000000.0) / n_bigrams, 6)), 6)
       |    AS perplexity,
       |  CASE (rnk - 1) * 3 // nd
       |    WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM ranked, nd""".stripMargin

  // --------------------------------------------------------------- qd28
  /** Temperature-scaled source sampling (the multilingual mixing rule of
    * mT5/XLM-R: sample source i with p_i ∝ n_i^α, α < 1): token counts
    * per source are raised to [[TempAlpha]], normalized, and a token
    * budget of [[TempBudget]]·total is allotted — small sources are
    * up-weighted relative to their size, huge sources down-weighted.
    * The per-source keep-fraction f_i = min(1, budget_i / n_i) then
    * drives the deterministic md5-bucket membership (Sampling idiom:
    * pure function of doc_id — reproducible on any partitioning).
    *
    * Determinism contract: n_i^α is micro-quantized to a long BEFORE the
    * weight normalization (the qd24 discipline — summation order over
    * sources cannot move a fraction), the closing fraction arithmetic
    * runs one fixed operation order on both engines, and membership
    * compares an integer hash bucket against the micro-rounded integer
    * threshold.
    *
    * Scale shape: one partial-agged shuffle for source token counts
    * (sources are a tiny dimension), the fraction table broadcast back,
    * membership map-only — the corpus never shuffles.
    */
  private val TempAlpha = 0.7
  private val TempBudget = 0.3

  def qd28(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).as("n_tokens"))
    def microPos(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long")
    val bySrc = d.groupBy("source").agg(sum("n_tokens").as("n"))
      .withColumn("wmicro", microPos(pow(col("n").cast("double"), TempAlpha)))
    val tot = bySrc.agg(sum("n").as("ntot"), sum("wmicro").as("wsum"))
    val fm = bySrc.crossJoin(broadcast(tot))
      .withColumn("frac", least(lit(1.0),
        lit(TempBudget) * col("ntot") * col("wmicro").cast("double")
          / col("wsum") / col("n")))
      .select(col("source"), microPos(col("frac")).as("fmicro"))
    d.join(broadcast(fm), Seq("source"))
      .filter(graft.operators.Sampling.hashBucket(
        concat(col("doc_id").cast("string"), lit("#t")), 1000000) < col("fmicro"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        dround(col("fmicro").cast("double") / 1e6, 6).as("sample_frac"))
  }

  private val qd28Sql =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens
       |  FROM documents),
       |s AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n FROM d GROUP BY source),
       |w AS (SELECT source, n,
       |             CAST(round(pow(CAST(n AS DOUBLE), $TempAlpha) * 1000000.0)
       |                  AS BIGINT) AS wmicro
       |      FROM s),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
       |             CAST(sum(wmicro) AS BIGINT) AS wsum FROM w),
       |fm AS (
       |  SELECT source,
       |         CAST(round(least(1.0,
       |             CAST($TempBudget AS DOUBLE) * ntot * CAST(wmicro AS DOUBLE)
       |               / wsum / n) * 1000000.0) AS BIGINT) AS fmicro
       |  FROM w, t)
       |SELECT doc_id, d.source, n_tokens,
       |       round(CAST(fmicro AS DOUBLE) / 1000000.0, 6) AS sample_frac
       |FROM d JOIN fm ON d.source = fm.source
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#t'), 1, 8))
       |             AS BIGINT) % 1000000 < fmicro""".stripMargin

  // --------------------------------------------------------------- qd29
  /** Composite Gopher-rules document filter (Rae et al. 2021, §A1.1):
    * the standard pre-training keep/drop gate combining the signals the
    * individual operators expose (qd2 token stats, qd4 quality ratios,
    * qd16 repetition) into one verdict per document, with the FIRST
    * failed rule named in `reason` — pipelines keep the reason column so
    * filter-rate dashboards can attribute drops. Rules (document-level):
    * token count in [[GopherMinTokens]]..[[GopherMaxTokens]], mean word
    * length 3..10, ≥2 distinct stopwords from an 8-word list, ≥80% of
    * words containing an alphabetic character, and a symbol-to-word
    * ratio (`#`/`...`) ≤ 0.1.
    *
    * Shape: map-only — every rule is a per-row expression over the
    * token array; one scan, no shuffle, no state. Full DuckDB oracle
    * (ASCII-only regex classes for Java/RE2 agreement).
    */
  private val GopherMinTokens = 20
  private val GopherMaxTokens = 100000
  private val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  def qd29(s: SparkSession, dir: String): DataFrame =
    gopherGate(docs(s, dir))

  /** The rule gate itself, shared verbatim with the streaming path
    * (graft.streaming.TextStreaming.gopherFilter) — stateless, so
    * batch ≡ stream by construction.
    */
  private[graft] def gopherGate(df: DataFrame): DataFrame = {
    df
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("sum_len",
        aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x))
      .withColumn("avg_len",
        dround(col("sum_len").cast("double") / col("n_tokens"), 6))
      .withColumn("n_stop", size(array_intersect(col("toks"),
        typedLit(GopherStops))))
      .withColumn("alpha_frac", dround(
        size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))).cast("double")
          / col("n_tokens"), 6))
      .withColumn("n_sym",
        ((length(col("text")) - length(replace(col("text"), lit("#"), lit(""))))
          + (length(col("text")) - length(replace(col("text"), lit("..."), lit("")))) / 3)
          .cast("int"))
      .withColumn("reason",
        when(col("n_tokens") < GopherMinTokens || col("n_tokens") > GopherMaxTokens,
          "n_tokens")
          .when(col("avg_len") < 3 || col("avg_len") > 10, "word_length")
          .when(col("n_stop") < 2, "stopwords")
          .when(col("alpha_frac") < 0.8, "alpha_ratio")
          .when(col("n_sym").cast("double") / col("n_tokens") > 0.1, "symbol_ratio")
          .otherwise(lit(null).cast("string")))
      .select(col("doc_id"), col("n_tokens"), col("avg_len"), col("n_stop"),
        col("alpha_frac"), col("reason").isNull.as("keep"), col("reason"))
  }

  private val qd29Sql =
    s"""WITH t AS (
       |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
       |            / len(toks), 6) AS avg_len,
       |    CAST(len(list_intersect(toks,
       |      [${GopherStops.map(w => s"'$w'").mkString(", ")}])) AS INT) AS n_stop,
       |    round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
       |            AS DOUBLE) / len(toks), 6) AS alpha_frac,
       |    CAST((length(text) - length(replace(text, '#', '')))
       |      + (length(text) - length(replace(text, '...', ''))) // 3 AS INT) AS n_sym
       |  FROM t),
       |r AS (
       |  SELECT *,
       |    CASE
       |      WHEN n_tokens < $GopherMinTokens OR n_tokens > $GopherMaxTokens
       |        THEN 'n_tokens'
       |      WHEN avg_len < 3 OR avg_len > 10 THEN 'word_length'
       |      WHEN n_stop < 2 THEN 'stopwords'
       |      WHEN alpha_frac < 0.8 THEN 'alpha_ratio'
       |      WHEN CAST(n_sym AS DOUBLE) / n_tokens > 0.1 THEN 'symbol_ratio'
       |      ELSE NULL END AS reason
       |  FROM m)
       |SELECT doc_id, n_tokens, avg_len, n_stop, alpha_frac,
       |       reason IS NULL AS keep, reason
       |FROM r""".stripMargin

  // --------------------------------------------------------------- qd30
  /** Cross-source overlap matrix: for every pair of sources, how many
    * distinct word-5-grams they share, and the Jaccard of their gram
    * sets — the corpus diagnostic that surfaces mirror sites, syndicated
    * boilerplate, and cross-corpus contamination BEFORE mixing decisions
    * (qd25/qd28) treat the sources as independent. Same gram definition
    * as decontamination (qd13), so a hot pair here predicts exactly what
    * that operator will flag.
    *
    * Shape: per-source distinct gram sets are one aggregation; shared
    * counts come from the gram-keyed self-join of the (gram, source)
    * index — the inverted-index join (never source×source over raw
    * text), partial-aggregated on the pair key. At 100 TB the stop-gram
    * cut applies (a gram present in most sources contributes pairs
    * quadratically but no signal — drop grams above a document-frequency
    * ceiling, the qd17 stop-list argument); this corpus's vocabulary is
    * tiny so the exact form is the oracle anchor.
    */
  def qd30(s: SparkSession, dir: String): DataFrame = {
    val grams = docs(s, dir)
      .select(col("source"),
        explode(array_distinct(wordGrams(tokens(col("text")), 5))).as("gram"))
      .distinct()
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val shared = grams.as("x").join(grams.as("y"),
        col("x.gram") === col("y.gram") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_grams").as("na"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_grams").as("nb"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        col("na"), col("nb"),
        dround(col("shared_grams").cast("double")
          / (col("na") + col("nb") - col("shared_grams")), 6).as("jaccard"))
  }

  private val qd30Sql =
    """WITH toks AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT source, gram
      |  FROM (SELECT source, unnest(CASE WHEN len(t) >= 5
      |          THEN list_transform(range(1, len(t) - 3),
      |                 i -> array_to_string(t[i:i+4], ' '))
      |          ELSE [] END) AS gram
      |        FROM toks)),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source),
      |sh AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |         CAST(count(*) AS BIGINT) AS shared_grams
      |  FROM g x JOIN g y ON x.gram = y.gram AND x.source < y.source
      |  GROUP BY x.source, y.source)
      |SELECT source_a, source_b, shared_grams,
      |       a.n_grams AS na, b.n_grams AS nb,
      |       round(CAST(shared_grams AS DOUBLE)
      |               / (a.n_grams + b.n_grams - shared_grams), 6) AS jaccard
      |FROM sh
      |JOIN sz a ON sh.source_a = a.source
      |JOIN sz b ON sh.source_b = b.source""".stripMargin

  // -------------------------------------------------------------- qd30b
  /** KMV (k-minimum-values) sketch twin of qd30 — the scale path for
    * cross-source overlap when the exact inverted-index join can't
    * run (Beyer et al. 2007, "On Synopses for Distinct-Value
    * Estimation"; Cohen/Kaplan's bottom-k sketches). Per source, keep
    * the [[KmvK]] smallest gram-hash values mapped to [0,1): the
    * k-th value d estimates the distinct count as (k-1)/d, and for a
    * pair the fraction of the MERGED bottom-k present in both sketches
    * is an unbiased Jaccard estimator — so |A∩B| ≈ ρ·(k-1)/d without
    * ever joining gram-level data. HLL (qd20b) can union but not
    * intersect; KMV is the sketch family that closes that gap.
    *
    * Scale: the sketch build is MAP-SIDE (per-partition bottom-k via
    * sorted-distinct slice — duplicate grams collapse to one hash
    * value, so no global distinct is needed), merged by ONE shuffle on
    * the source key carrying ≤K doubles per partition; pair scoring is
    * a broadcast cross of the sources-sized sketch frame (dozens of
    * rows — the waterfill argument). Estimator-graded in SketchSpec
    * against the exact qd30 twin (no SQL oracle: xxhash64 ordering is
    * engine-side state).
    */
  private val KmvK = 256

  def qd30b(s: SparkSession, dir: String): DataFrame = {
    val u = (xxhash64(col("gram")).cast("double") / 1.8446744073709552e19
      + lit(0.5)).as("u")
    val hashed = docs(s, dir)
      .select(col("source"),
        explode(array_distinct(wordGrams(tokens(col("text")), 5))).as("gram"))
      .select(col("source"), u)
      .withColumn("_pid", spark_partition_id())
    val part = hashed.groupBy("source", "_pid")
      .agg(expr(s"slice(array_distinct(array_sort(collect_list(u))), 1, $KmvK)")
        .as("pk"))
    val sk = part.groupBy("source")
      .agg(expr(
        s"slice(array_distinct(array_sort(flatten(collect_list(pk)))), 1, $KmvK)")
        .as("sk"))
    val pairs = sk.select(col("source").as("source_a"), col("sk").as("ska"))
      .crossJoin(broadcast(
        sk.select(col("source").as("source_b"), col("sk").as("skb"))))
      .filter(col("source_a") < col("source_b"))
    pairs
      .withColumn("merged",
        expr(s"slice(array_distinct(array_sort(array_union(ska, skb))), 1, $KmvK)"))
      .withColumn("kp", size(col("merged")))
      .withColumn("d", element_at(col("merged"), col("kp")))
      .withColumn("common", size(array_intersect(col("merged"),
        array_intersect(col("ska"), col("skb")))))
      .select(col("source_a"), col("source_b"),
        dround(col("common").cast("double") / col("kp"), 6).as("est_jaccard"),
        // an under-full merged sketch (kp < K) holds EVERY distinct gram
        // of the union, so it is exhaustive, not a sample: `common` IS
        // |A∩B| and the (k-1)/d estimator would only add bias. The
        // estimator applies exactly when the sketch saturates.
        when(col("kp") < KmvK, col("common").cast("double"))
          .otherwise(dround((col("kp") - 1).cast("double") / col("d")
            * col("common") / col("kp"), 2)).as("est_shared"))
  }

  // --------------------------------------------------------------- qd31
  /** Document-frequency stop-term list: every term's df, its fraction of
    * the corpus, and the `is_stop` verdict at [[StopDfFrac]] — the
    * offline artifact qd17's posting-list fan-out cut and qd30's
    * stop-gram ceiling both reference ("terms carried by most documents
    * contribute candidate pairs quadratically but ~zero idf signal").
    * Emitting it as a first-class result makes the cut auditable and
    * reusable instead of an inlined magic threshold.
    *
    * Shape: distinct (doc, term) then a term-keyed count — one
    * partial-agged shuffle, vocabulary-sized output; the corpus-size
    * scalar broadcasts.
    */
  private val StopDfFrac = 0.5

  def qd31(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ndocs = d.agg(count(lit(1)).as("n_docs"))
    d.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(ndocs))
      .select(col("term"), col("df"),
        dround(col("df").cast("double") / col("n_docs"), 6).as("df_frac"),
        (col("df").cast("double") / col("n_docs") > StopDfFrac).as("is_stop"))
  }

  private val qd31Sql =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_distinct(
       |           regexp_split_to_array(trim(text), '\\s+'))) AS term
       |  FROM documents),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       |SELECT term, df,
       |       round(CAST(df AS DOUBLE) / n_docs, 6) AS df_frac,
       |       CAST(df AS DOUBLE) / n_docs > $StopDfFrac AS is_stop
       |FROM df, n""".stripMargin

  // --------------------------------------------------------------- qd32
  /** Per-document unigram entropy — the information-density quality
    * signal of the CCNet/Gopher family (a compression-ratio proxy
    * without a codec): H = ln n − (Σ c·ln c)/n over the within-doc token
    * multiplicities, plus the vocabulary-normalized H/ln(ndv) and a
    * low-entropy verdict at [[EntropyNormFloor]] (low normalized entropy
    * = a few tokens DOMINATE the distribution — keyword-stuffing/spam
    * where massive repeats hide amid filler, which qd16's
    * adjacent-3-gram test misses when the repeats are shuffled rather
    * than contiguous; outright vocabulary narrowness shows in the raw
    * `entropy`/`ndv` columns).
    *
    * Determinism contract (qd24/qd27 discipline): ln of each small-int
    * multiplicity is quantized to integer micro-nats BEFORE the per-doc
    * sum, so the numerator n·qln(n) − Σ c·qln(c) is an exact long on any
    * partitioning and both engines divide the same integers in one fixed
    * order. Shape: one (doc, token) partial-agged shuffle, then a
    * doc-keyed rollup — the qd2 class, output one row per doc.
    */
  private val EntropyNormFloor = 0.5

  def qd32(s: SparkSession, dir: String): DataFrame =
    entropyFrom(docs(s, dir))

  /** Frame-parameterized twin (tests plant skewed-distribution docs):
    * `d` carries (doc_id, text).
    */
  private[graft] def entropyFrom(d: DataFrame): DataFrame = {
    def micro(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long") // ln(int>=1) >= 0
    val cnt = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val agg = cnt.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      count(lit(1)).as("ndv"),
      sum(col("c") * micro(log(col("c")))).as("slc"))
    val ent = (col("n_tokens") * micro(log(col("n_tokens"))) - col("slc"))
      .cast("double") / (col("n_tokens") * 1e6)
    agg.select(
      col("doc_id"), col("n_tokens"), col("ndv"),
      dround(ent, 6).as("entropy"),
      when(col("ndv") > 1, dround(ent / (micro(log(col("ndv"))) / 1e6), 6))
        .as("norm_entropy"),
      coalesce(
        when(col("ndv") > 1, ent / (micro(log(col("ndv"))) / 1e6) < EntropyNormFloor),
        lit(true)).as("is_low_entropy"))
  }

  private val qd32Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |  FROM documents),
       |cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |        FROM toks GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id,
       |         CAST(sum(c) AS BIGINT) AS n_tokens,
       |         CAST(count(*) AS BIGINT) AS ndv,
       |         CAST(sum(c * CAST(floor(ln(c) * 1000000.0 + 0.5) AS BIGINT))
       |              AS BIGINT) AS slc
       |  FROM cnt GROUP BY doc_id),
       |ent AS (
       |  SELECT doc_id, n_tokens, ndv,
       |         CAST(n_tokens * CAST(floor(ln(n_tokens) * 1000000.0 + 0.5) AS BIGINT)
       |              - slc AS DOUBLE) / (n_tokens * 1000000.0) AS e,
       |         CAST(floor(ln(ndv) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS lndv
       |  FROM agg)
       |SELECT doc_id, n_tokens, ndv,
       |       round(e, 6) AS entropy,
       |       CASE WHEN ndv > 1 THEN round(e / lndv, 6) END AS norm_entropy,
       |       coalesce(CASE WHEN ndv > 1 THEN e / lndv < $EntropyNormFloor END,
       |                true) AS is_low_entropy
       |FROM ent""".stripMargin

  // --------------------------------------------------------------- qd33
  /** PMI collocation extraction (Church & Hanks, CL 1990): the top-50
    * adjacent bigrams by pointwise mutual information — PMI(u,v) =
    * ln p(u,v) − ln p(u) − ln p(v) over corpus counts, with a count
    * floor of [[PmiMinCount]] (rare-pair PMI diverges: a hapax pair
    * maxes the score — the classic artifact the floor exists for).
    * This is the phrase-mining pass a tokenizer/vocabulary pipeline
    * runs to promote multi-word units into single tokens before BPE.
    *
    * Determinism (qd24 discipline): every ln factor is the ln of an
    * exact integer count, micro-nat-quantized BEFORE the signed sum, so
    * each bigram's score is an exact long on any partitioning and the
    * global rank orders (pmi_micro, u, v) — a total order both engines
    * agree on, ranked through Pareto.rankBy (auto-dispatched two-phase:
    * no single-partition window over a production vocabulary).
    *
    * Shape: one (u,v) partial-agged shuffle for bigram counts, a
    * vocab-sized unigram rollup joined back by broadcast, scalar-frame
    * totals — the corpus streams once.
    */
  private val PmiMinCount = 5
  private val PmiTopK = 50

  def qd33(s: SparkSession, dir: String): DataFrame = {
    def micro(c: Column): Column = floor(c * 1e6 + lit(0.5)).cast("long") // ln(int>=1) >= 0
    val toks = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val pos = toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "u")))
    val big = pos
      .withColumn("v", lead("u", 1).over(Window.partitionBy("doc_id").orderBy("i")))
      .filter(col("v").isNotNull)
      .groupBy("u", "v").agg(count(lit(1)).as("cuv"))
    val uni = pos.groupBy(col("u").as("tok")).agg(count(lit(1)).as("cnt"))
    val nBig = big.agg(sum("cuv").as("nb"))
    val nUni = uni.agg(sum("cnt").as("m"))
    val scored = big.filter(col("cuv") >= PmiMinCount)
      .join(broadcast(uni.select(col("tok").as("u"), col("cnt").as("cu"))), Seq("u"))
      .join(broadcast(uni.select(col("tok").as("v"), col("cnt").as("cv"))), Seq("v"))
      .crossJoin(broadcast(nBig)).crossJoin(broadcast(nUni))
      .withColumn("pmi_micro",
        micro(log(col("cuv"))) - micro(log(col("nb")))
          + lit(2L) * micro(log(col("m")))
          - micro(log(col("cu"))) - micro(log(col("cv"))))
    graft.operators.Pareto.rankBy(scored,
        Seq(col("pmi_micro").desc, col("u").asc, col("v").asc), "rnk")
      .filter(col("rnk") <= PmiTopK)
      .select(col("u"), col("v"), col("cuv"),
        dround(col("pmi_micro") / 1e6, 6).as("pmi"), col("rnk"))
  }

  private val qd33Sql =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |tx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
       |big AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS cuv
       |  FROM (SELECT toks[i] AS u, toks[i + 1] AS v FROM tx) GROUP BY u, v),
       |uni AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
       |nb AS (SELECT CAST(sum(cuv) AS BIGINT) AS nb FROM big),
       |mm AS (SELECT CAST(sum(cnt) AS BIGINT) AS m FROM uni),
       |sc AS (
       |  SELECT b.u, b.v, b.cuv,
       |         CAST(floor(ln(b.cuv) * 1000000.0 + 0.5) AS BIGINT)
       |         - CAST(floor(ln(nb.nb) * 1000000.0 + 0.5) AS BIGINT)
       |         + 2 * CAST(floor(ln(mm.m) * 1000000.0 + 0.5) AS BIGINT)
       |         - CAST(floor(ln(cu.cnt) * 1000000.0 + 0.5) AS BIGINT)
       |         - CAST(floor(ln(cv.cnt) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
       |  FROM big b JOIN uni cu ON cu.tok = b.u JOIN uni cv ON cv.tok = b.v, nb, mm
       |  WHERE b.cuv >= $PmiMinCount)
       |SELECT u, v, cuv, round(pmi_micro / 1000000.0, 6) AS pmi, rnk FROM (
       |  SELECT *, CAST(row_number() OVER (ORDER BY pmi_micro DESC, u, v) AS INT)
       |    AS rnk
       |  FROM sc)
       |WHERE rnk <= $PmiTopK""".stripMargin

  // --------------------------------------------------------------- qd34
  /** Directed containment detection (Broder's containment coefficient,
    * SEQUENCES 1997): C(A→B) = |g(A)∩g(B)| / |g(A)| over distinct
    * word-3-gram sets, flagged at ≥ [[ContainmentThreshold]] — the
    * excerpt/quote/subset-duplicate relation symmetric Jaccard
    * structurally under-scores: a short doc quoted whole inside a long
    * one has J ≈ |A|/|B| ≈ 0 but C(A→B) ≈ 1, so a Jaccard-only dedup
    * keeps both. Deliberately UNBLOCKED (no source gate): containment
    * pairs typically cross sources — syndication and quoting, the same
    * pair class qd30 diagnoses at the source granularity; this emits
    * the doc-level evidence.
    *
    * Candidates from the global inverted gram index (any pair with
    * C > 0 shares a gram — structural recall 1.0, the qd22 argument)
    * with the lossless size bound nb ≥ t·na (shared ≤ min(na,nb), so
    * C ≥ t forces it) pruning pair-rows before the aggregation — the
    * PPJoin discipline in its asymmetric form. Full DuckDB oracle.
    *
    * df-cap: a gram with document frequency d
    * contributes d² pair-rows, so one boilerplate gram in a real
    * (duplication-heavy) corpus makes the join super-linear — measured
    * 25× wall at the 10×-duplicated smoke corpus, where the 22,492
    * grams with df > 64 carried 96% of the 279M-row pair volume
    * (BENCH_NOTES.md). Containment is therefore computed over the
    * INFORMATIVE vocabulary: grams with df > [[ContainmentDfCap]] are
    * stop-grams, excluded from BOTH the shared count and the
    * denominator (the qd31 stop-term discipline at the gram level).
    * Semantics note: a gram shared by more than 64 documents is
    * corpus vocabulary, not pairwise-copy evidence — but a pair whose
    * ONLY overlap is such boilerplate is no longer reported, the
    * deliberate trade. A doc whose every gram is capped leaves the
    * census (denominator 0). The cap is df-deterministic and
    * replicated in the oracle SQL; at every tested sf the max gram df
    * (7 / 25) sits under the cap, so tested outputs are bit-identical
    * to the uncapped form, and CorpusOpsSpec plants a boilerplate
    * corpus that exercises the cap explicitly.
    */
  private val ContainmentThreshold = 0.5
  private[graft] val ContainmentDfCap = 64

  def qd34(s: SparkSession, dir: String): DataFrame =
    containmentFrom(docs(s, dir))

  /** Frame-parameterized twin (tests plant an excerpt): `d` carries
    * (doc_id, text).
    */
  private[graft] def containmentFrom(d: DataFrame): DataFrame = {
    val g = d
      .withColumn("grams", array_distinct(wordGrams(tokens(col("text")), 3)))
      .filter(size(col("grams")) > 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    // df-cap stage (see qd34 scaladoc): stop-grams out of the index AND
    // the denominator; df and the pair join share the gram key, so the
    // cap costs one extra aggregate on an exchange the plan already has
    val kept = g.join(
      g.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainmentDfCap).select("gram"),
      Seq("gram"))
    val inv = kept.withColumn("ng",
      count(lit(1)).over(Window.partitionBy("doc_id")).cast("int"))
    val a = inv.select(col("gram"), col("doc_id").as("doc_a"), col("ng").as("na"))
    val b = inv.select(col("gram"), col("doc_id").as("doc_b"), col("ng").as("nb"))
    a.join(b, Seq("gram"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(col("nb") >= lit(ContainmentThreshold) * col("na"))
      .groupBy("doc_a", "doc_b", "na")
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment",
        dround(col("shared").cast("double") / col("na"), 6))
      .filter(col("containment") >= ContainmentThreshold)
      .select("doc_a", "doc_b", "na", "shared", "containment")
  }

  private val qd34Sql =
    // inverted-index form on the oracle side too (the pairwise
    // g×g/list_intersect formulation was semantically identical but
    // took ~10 min at sf0.1; this hash-joins on the gram key in
    // seconds)
    s"""WITH g AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) >= 3
       |      THEN list_transform(range(1, len(toks) - 1),
       |             i -> array_to_string(toks[i:i+2], ' '))
       |      ELSE [] END) AS grams
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
       |        FROM documents)),
       |inv0 AS (
       |  SELECT doc_id, unnest(grams) AS gram
       |  FROM g WHERE len(grams) > 0),
       |df AS (SELECT gram, count(*) AS df FROM inv0 GROUP BY gram),
       |inv AS (
       |  SELECT doc_id, gram, count(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM inv0 JOIN df USING (gram) WHERE df <= $ContainmentDfCap),
       |pair AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(a.ng AS INT) AS na,
       |         CAST(count(*) AS BIGINT) AS shared
       |  FROM inv a JOIN inv b
       |    ON a.gram = b.gram AND a.doc_id <> b.doc_id
       |  WHERE b.ng >= $ContainmentThreshold * a.ng
       |  GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, na, shared,
       |       round(CAST(shared AS DOUBLE) / na, 6) AS containment
       |FROM pair
       |WHERE round(CAST(shared AS DOUBLE) / na, 6) >= $ContainmentThreshold""".stripMargin

  // --------------------------------------------------------------- qd35
  /** Tokenizer-fit diagnostics per source: fertility (subword units per
    * whitespace word — the standard "how many pieces does this
    * tokenizer shatter a word into" measure from the multilingual-BPE
    * literature) and bytes-per-subword, using qd2's whitespace split
    * and qd9's GPT-2-style pre-tokenizer as the two ends. A source
    * whose fertility drifts high (or bytes-per-token low) is one the
    * vocabulary under-serves — the per-source gate a pipeline checks
    * before committing a tokenizer to a mixture. Integer sums only;
    * the two ratios divide exact longs at the end (6dp).
    *
    * Shape: map-only unit counting, one source-keyed partial-agged
    * shuffle, source-cardinality output.
    */
  def qd35(s: SparkSession, dir: String): DataFrame = {
    val units = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    docs(s, dir)
      .select(col("source"),
        size(tokens(col("text"))).as("nw"),
        size(units).as("ns"),
        length(col("text")).as("nc"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nw").as("n_words"),
        sum("ns").as("n_subwords"),
        sum("nc").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_subwords"),
        dround(col("n_subwords").cast("double") / col("n_words"), 6).as("fertility"),
        dround(col("n_chars").cast("double") / col("n_subwords"), 6)
          .as("chars_per_subword"))
  }

  private val qd35Sql =
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nw) AS BIGINT) AS n_words,
      |  CAST(sum(ns) AS BIGINT) AS n_subwords,
      |  round(CAST(sum(ns) AS BIGINT) / CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE), 6)
      |    AS fertility,
      |  round(CAST(sum(nc) AS BIGINT) / CAST(CAST(sum(ns) AS BIGINT) AS DOUBLE), 6)
      |    AS chars_per_subword
      |FROM (
      |  SELECT source,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS nw,
      |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS ns,
      |         length(text) AS nc
      |  FROM documents)
      |GROUP BY source""".stripMargin

  // --------------------------------------------------------------- qd36
  /** Blocked fuzzy dedup (record-linkage shape): candidate pairs come
    * from TWO deterministic blocking passes — same 8-char text prefix,
    * same 8-char suffix — then a Levenshtein edit-distance <= 10 verify
    * on the 60-char signature decides. Catches typo-grade near-dups that
    * token-set methods (qd6/qd8) miss because token EDITS change every
    * overlapping shingle.
    *
    * Scale: each blocking pass is one shuffle on the block key and pairs
    * only within blocks (never corpus x corpus); multi-pass union-distinct
    * recovers pairs a single key would miss at the cost of one more pass —
    * the standard linkage trade. Giant blocks would be capped upstream
    * (qd19-style) before the quadratic within-block step; the verify is
    * O(60^2) per candidate regardless of document length.
    */
  def qd36(s: SparkSession, dir: String): DataFrame =
    fuzzyDedupFrom(Tables.documents(s, dir))

  /** Frame-parameterized twin (tests plant docs): (doc_id, text). */
  private[graft] def fuzzyDedupFrom(documents: DataFrame): DataFrame = {
    // the qd22/q38 treatment: the slim blocking
    // projection feeds FOUR consumers (two sides of two blocking
    // passes) — without the cut each one re-ran the documents scan +
    // substring projection. ~76 bytes/doc materialized once.
    val d = graft.operators.Checkpoints.cut(documents.select(
      col("doc_id"),
      substring(col("text"), 1, 60).as("sig"),
      substring(col("text"), 1, 8).as("pre"),
      expr("substring(text, -8, 8)").as("suf")))
    def pass(key: String): DataFrame =
      d.as("a").join(d.as("b"),
          col(s"a.$key") === col(s"b.$key") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
    pass("pre").union(pass("suf"))
      .distinct()
      .withColumn("dist", levenshtein(col("sig_a"), col("sig_b")))
      .filter(col("dist") <= 10)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
  }

  private val qd36Sql =
    """WITH d AS (
      |  SELECT doc_id, substr(text, 1, 60) AS sig, substr(text, 1, 8) AS pre,
      |         substr(text, length(text) - 7, 8) AS suf
      |  FROM documents),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
      |  FROM d a JOIN d b ON a.pre = b.pre AND a.doc_id < b.doc_id
      |  UNION
      |  SELECT a.doc_id, b.doc_id, a.sig, b.sig
      |  FROM d a JOIN d b ON a.suf = b.suf AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(levenshtein(sig_a, sig_b) AS INT) AS dist
      |FROM cand WHERE levenshtein(sig_a, sig_b) <= 10""".stripMargin

  // --------------------------------------------------------------- qd37
  /** TF-IDF keyword extraction: the 5 highest tf*ln(N/df) terms per
    * document (score dround-ed at 6dp BEFORE ranking, term tie-break, so
    * both engines rank the identical total order).
    *
    * Scale: term frequencies shuffle once on (doc, term); the document
    * frequency table is vocabulary-sized and BROADCAST back into the
    * per-doc scoring, so the corpus-sized side never reshuffles; the
    * top-5 window is per-doc bounded. The df table is the same artifact
    * qd31 audits — at 100 TB it persists offline.
    */
  def qd37(s: SparkSession, dir: String): DataFrame =
    tfidfFrom(Tables.documents(s, dir))

  /** Frame-parameterized twin (tests plant docs): (doc_id, text). */
  private[graft] def tfidfFrom(documents: DataFrame): DataFrame = {
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        dround(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= 5)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
  }

  private val qd37Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.term AS term, tf, df,
      |         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score,
      |       CAST(row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY score DESC, term) AS INT) AS rnk
      |FROM scored
      |QUALIFY rnk <= 5""".stripMargin

  // --------------------------------------------------------------- qd38
  /** Per-source lexical diversity: type-token ratio and 3-gram
    * duplication fraction (1 - distinct/total) — the corpus-health
    * diagnostic run before mixing (a boilerplate-heavy source shows a
    * high gram-dup fraction long before exact dedup catches it).
    *
    * Scale: both metrics are count-distinct aggregations keyed on source
    * — partial aggregation map-side, one shuffle each, source-sized
    * output. The distinct-gram count would dispatch to the qd20b HLL
    * sketch at 100 TB (exact here so the oracle can grade it).
    */
  def qd38(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.registerNative(s)
    diversityFrom(Tables.documents(s, dir))
  }

  /** Frame-parameterized twin (tests plant docs): (source, text); the
    * caller must have run VectorFunctions.registerNative.
    */
  private[graft] def diversityFrom(documents: DataFrame): DataFrame = {
    val base = documents
      .select(col("source"), tokens(col("text")).as("toks"))
    val tok = base.select(col("source"), explode(col("toks")).as("term"))
      .groupBy("source").agg(
        count(lit(1)).as("n_tokens"),
        count_distinct(col("term")).as("distinct_tokens"))
    val gram = base
      .select(col("source"), explode(wordGrams(col("toks"), 3)).as("gram"))
      .groupBy("source").agg(
        count(lit(1)).as("n_grams"),
        count_distinct(col("gram")).as("distinct_grams"))
    tok.join(gram, Seq("source"))
      .select(
        col("source"), col("n_tokens"), col("distinct_tokens"),
        dround(col("distinct_tokens") / col("n_tokens"), 6).as("ttr"),
        col("n_grams"), col("distinct_grams"),
        dround(lit(1.0) - col("distinct_grams") / col("n_grams"), 6)
          .as("gram_dup_frac"))
  }

  private val qd38Sql =
    """WITH base AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
      |  FROM documents),
      |tok AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(count(DISTINCT term) AS BIGINT) AS distinct_tokens
      |  FROM (SELECT source, unnest(toks) AS term FROM base)
      |  GROUP BY source),
      |gram AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
      |         CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams
      |  FROM (SELECT source,
      |               unnest(list_transform(range(1, len(toks) - 1),
      |                 i -> array_to_string(toks[i:i+2], ' '))) AS g
      |        FROM base WHERE len(toks) >= 3)
      |  GROUP BY source)
      |SELECT tok.source AS source, n_tokens, distinct_tokens,
      |  round(distinct_tokens / n_tokens, 6) AS ttr,
      |  n_grams, distinct_grams,
      |  round(1.0 - distinct_grams / n_grams, 6) AS gram_dup_frac
      |FROM tok JOIN gram ON tok.source = gram.source""".stripMargin

  // --------------------------------------------------------------- qd39
  /** Fuzzy duplicate clusters: connected components over qd36's blocked
    * Levenshtein pairs, reporting only multi-document clusters with the
    * min-id canonical representative — the keep/drop list a fuzzy-dedup
    * pass actually ships (keep `is_canonical`, drop the rest).
    *
    * Scale: inherits qd36's blocked pair generation and qd22/qe8's
    * auto-dispatching components operator (driver union-find below 2^18
    * edges, alternating-star rounds above); edit-dup clusters are tiny
    * and star-shaped, so the iteration count stays logarithmic.
    */
  def qd39(s: SparkSession, dir: String): DataFrame = {
    val edges = qd36(s, dir).select(col("doc_a"), col("doc_b"))
    graft.operators.ConnectedComponents
      .clusters(edges, Tables.documents(s, dir).select(col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("cluster_size") >= 2)
      .select(col("id").as("doc_id"), col("cluster_id").as("canonical_id"),
        col("cluster_size"), (col("id") === col("cluster_id")).as("is_canonical"))
  }

  private val qd39Sql =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, substr(text, 1, 60) AS sig, substr(text, 1, 8) AS pre,
      |         substr(text, length(text) - 7, 8) AS suf
      |  FROM documents),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
      |  FROM d a JOIN d b ON a.pre = b.pre AND a.doc_id < b.doc_id
      |  UNION
      |  SELECT a.doc_id, b.doc_id, a.sig, b.sig
      |  FROM d a JOIN d b ON a.suf = b.suf AND a.doc_id < b.doc_id),
      |pairs AS (SELECT doc_a, doc_b FROM cand
      |          WHERE levenshtein(sig_a, sig_b) <= 10),
      |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(u, v) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |cl AS (SELECT u AS doc_id, min(v) AS canonical_id FROM reach GROUP BY u)
      |SELECT doc_id, canonical_id, cluster_size, is_canonical FROM (
      |  SELECT doc_id, canonical_id,
      |    CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size,
      |    doc_id = canonical_id AS is_canonical
      |  FROM cl)
      |WHERE cluster_size >= 2""".stripMargin

  // --------------------------------------------------------------- qd40
  /** Corpus report card: the one-row dataset summary a curation run
    * publishes next to its output — document/source/language counts,
    * exact token totals and vocabulary size, the exact-duplicate
    * fraction, and mean document length. Every figure is an exact
    * aggregate (ratios divide exact longs, dround-ed at 6dp).
    *
    * Scale: one doc-level pass (map-side md5 + token count, then a
    * global aggregate) plus one token-level pass for the vocabulary
    * count (the qd20/qd20b dispatch point — exact here so the card is
    * oracle-gradable, HLL at 100 TB). Output is a single row.
    */
  def qd40(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val perDoc = d.select(
      col("doc_id"), col("source"), col("lang"), md5(col("text")).as("h"),
      size(tokens(col("text"))).as("n_toks"))
    val docAgg = perDoc.agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("source")).as("n_sources"),
      count_distinct(col("lang")).as("n_langs"),
      sum("n_toks").as("total_tokens"),
      count_distinct(col("h")).as("n_unique_texts"))
    val vocab = d.select(explode(tokens(col("text"))).as("term"))
      .agg(count_distinct(col("term")).as("vocab_size"))
    docAgg.crossJoin(vocab)
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_tokens"), col("vocab_size"),
        dround((col("n_docs") - col("n_unique_texts")) / col("n_docs"), 6)
          .as("exact_dup_frac"),
        dround(col("total_tokens") / col("n_docs"), 6).as("mean_doc_tokens"))
  }

  private val qd40Sql =
    """WITH perdoc AS (
      |  SELECT doc_id, source, lang, md5(text) AS h,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      |  FROM documents),
      |docagg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      |         CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts
      |  FROM perdoc),
      |vocab AS (
      |  SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab_size
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |        FROM documents))
      |SELECT n_docs, n_sources, n_langs, total_tokens, vocab_size,
      |  round((n_docs - n_unique_texts) / n_docs, 6) AS exact_dup_frac,
      |  round(total_tokens / n_docs, 6) AS mean_doc_tokens
      |FROM docagg CROSS JOIN vocab""".stripMargin

  // --------------------------------------------------------------- qd41
  /** Language-ID confusion matrix: declared label x qd3 prediction with
    * counts and row fractions — the calibration artifact that decides
    * whether the cheap classifier is trustworthy per language before it
    * gates a corpus (a language whose row mass sits off-diagonal needs a
    * better model, not a threshold tweak).
    *
    * Scale: the per-doc prediction is map-only (qd3); the matrix is a
    * #langs² aggregation with broadcast row totals. Shares qd3's single
    * scoring definition on BOTH engines (one Spark helper, one SQL
    * fragment), so the matrix can never drift from the classifier.
    */
  def qd41(s: SparkSession, dir: String): DataFrame = {
    val pred = withLangScores(docs(s, dir).withColumn("toks", tokens(col("text"))))
      .withColumn("pred_lang", langPred)
      .select(col("lang"), col("pred_lang"))
    val counts = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("lang").agg(sum("n").as("n_lang"))
    counts.join(broadcast(totals), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n"),
        dround(col("n") / col("n_lang"), 6).as("frac"))
  }

  private val qd41Sql =
    s"""WITH pred AS (
       |$langPredSql),
       |counts AS (
       |  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM pred GROUP BY 1, 2),
       |totals AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
       |           FROM counts GROUP BY lang)
       |SELECT counts.lang AS lang, pred_lang, n, round(n / n_lang, 6) AS frac
       |FROM counts JOIN totals ON counts.lang = totals.lang""".stripMargin

  // --------------------------------------------------------------- qd42
  /** BPE merge induction, round one: the corpus-wide adjacent
    * character-pair frequencies inside whitespace words — the statistic
    * a byte-pair-encoding tokenizer TRAINER maximizes at every merge
    * step (Sennrich et al. 2016) — with the top-20 merge candidates
    * ranked by (count desc, pair asc). Counts weight word OCCURRENCES,
    * not types, exactly as BPE training does.
    *
    * Scale: pair extraction is map-only (per-token HOF over short
    * words); one partial-agged shuffle on the pair key; the rank runs on
    * the alphabet²-sized aggregate. Successive merge rounds would
    * re-segment against the accepted merge list (the offline artifact)
    * and re-run this exact aggregation — each round is one such pass.
    */
  def qd42(s: SparkSession, dir: String): DataFrame = {
    val pairs = docs(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
    pairs
      // global window by design: input is the distinct character-BIGRAM
      // aggregate (result cardinality — alphabet^2, not corpus-sized)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n").desc, col("pair").asc)).cast("int"))
      .filter(col("rnk") <= 20)
  }

  private val qd42Sql =
    """WITH pairs AS (
      |  SELECT pair, CAST(count(*) AS BIGINT) AS n
      |  FROM (
      |    SELECT unnest(list_transform(range(1, length(w)),
      |                                 i -> substr(w, i, 2))) AS pair
      |    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |          FROM documents)
      |    WHERE length(w) >= 2)
      |  GROUP BY pair)
      |SELECT pair, n, rnk FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rnk
      |  FROM pairs)
      |WHERE rnk <= 20""".stripMargin

  // --------------------------------------------------------------- qd43
  /** Quality-ensemble vote: four independent per-doc quality signals —
    * the qd4 heuristic score (>= 0.75), the qd29 Gopher rule gate, the
    * qd16 repetition flag, and the qd32 entropy flag — each cast one
    * vote; `keep` needs >= 3. Ensembling de-correlates single-filter
    * failure modes (a long listicle passes ratios but fails entropy; a
    * terse quality doc fails length but passes everything else) — the
    * production keep-list shape when no trained classifier is available.
    *
    * Both engines COMPOSE the four published definitions: Spark joins
    * the four operators' outputs; the oracle nests the four oracle SQL
    * constants verbatim (one definition each, zero drift). Scale: the
    * signals are map-only or per-doc aggregates; the ensemble is three
    * joins on the primary key — bucketed tables make it exchange-free,
    * or the four signals fuse into one scan when materialized together.
    */
  def qd43(s: SparkSession, dir: String): DataFrame = {
    val v = (c: Column) => when(c, 1).otherwise(0)
    val q4 = qd4(s, dir)
      .select(col("doc_id"), (col("quality_score") >= 0.75).as("heuristic_pass"))
    val gg = qd29(s, dir).select(col("doc_id"), col("keep").as("gopher_pass"))
    val rep = qd16(s, dir).select(col("doc_id"), (!col("flagged")).as("repetition_pass"))
    val ent = qd32(s, dir)
      .select(col("doc_id"), (!col("is_low_entropy")).as("entropy_pass"))
    q4.join(gg, Seq("doc_id")).join(rep, Seq("doc_id")).join(ent, Seq("doc_id"))
      .withColumn("votes",
        (v(col("heuristic_pass")) + v(col("gopher_pass")) +
          v(col("repetition_pass")) + v(col("entropy_pass"))).cast("int"))
      .withColumn("keep", col("votes") >= 3)
  }

  private val qd43Sql =
    s"""WITH q4 AS ($qd4Sql),
       |gg AS ($qd29Sql),
       |rep AS ($qd16Sql),
       |ent AS ($qd32Sql),
       |joined AS (
       |  SELECT q4.doc_id AS doc_id,
       |         q4.quality_score >= 0.75 AS heuristic_pass,
       |         gg.keep AS gopher_pass,
       |         NOT rep.flagged AS repetition_pass,
       |         NOT ent.is_low_entropy AS entropy_pass
       |  FROM q4
       |  JOIN gg ON q4.doc_id = gg.doc_id
       |  JOIN rep ON q4.doc_id = rep.doc_id
       |  JOIN ent ON q4.doc_id = ent.doc_id)
       |SELECT doc_id, heuristic_pass, gopher_pass, repetition_pass, entropy_pass,
       |  CAST(CAST(heuristic_pass AS INT) + CAST(gopher_pass AS INT)
       |       + CAST(repetition_pass AS INT) + CAST(entropy_pass AS INT) AS INT)
       |    AS votes,
       |  CAST(heuristic_pass AS INT) + CAST(gopher_pass AS INT)
       |       + CAST(repetition_pass AS INT) + CAST(entropy_pass AS INT) >= 3
       |    AS keep
       |FROM joined""".stripMargin

  // --------------------------------------------------------------- qd44
  /** Quality-weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006): each doc draws a deterministic uniform u from its
    * md5 (first 8 hex digits / 2^32, the qd11 idiom) and competes with
    * priority ln(u)/w, w = quality score + 0.01 — the top-200 priorities
    * ARE a weighted sample without replacement. Deterministic end to
    * end, so unlike rand()-based samplers it is fully oracle-graded;
    * priorities are dround-ed before ranking with a doc_id tiebreak for
    * a cross-engine total order.
    *
    * Scale: weights and priorities are map-only; the top-k is one
    * TakeOrdered-shaped global rank (two-phase above threshold). This is
    * the quality-proportional subsampling step between filtering (qd43)
    * and mixing (qd25/qd28): higher-quality docs win proportionally
    * more often, but nothing is certain — exactly the soft-selection
    * pressure curation wants.
    */
  def qd44(s: SparkSession, dir: String): DataFrame = {
    val w = col("quality_score") + lit(0.01)
    val u = (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val scored = withQuality(docs(s, dir))
      .select(col("doc_id"), col("quality_score"),
        dround(log(u) / w, 6).as("priority"))
    graft.operators.Pareto.rankBy(
        scored, Seq(col("priority").desc, col("doc_id").asc), "rnk")
      .filter(col("rnk") <= 200)
      .select(col("doc_id"), col("quality_score"), col("priority"),
        col("rnk").cast("int").as("rnk"))
  }

  private val qd44Sql =
    """WITH q AS (
      |  SELECT doc_id,
      |    round((round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
      |           / length(text), 6)) * 0.5
      |          + (1.0 - round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      |                   / length(text), 6)) * 0.2
      |          + round(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0), 6) * 0.3,
      |          6) AS quality_score,
      |    (CAST(('0x' || substr(md5(text), 1, 8))::BIGINT AS DOUBLE) + 0.5)
      |      / 4294967296.0 AS u
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, quality_score,
      |         round(ln(u) / (quality_score + 0.01), 6) AS priority
      |  FROM q)
      |SELECT doc_id, quality_score, priority, rnk FROM (
      |  SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS INT)
      |           AS rnk
      |  FROM scored)
      |WHERE rnk <= 200""".stripMargin

  // --------------------------------------------------------------- qd45
  /** Water-filling budget allocation: distribute a document budget
    * (half the corpus) across sources by the max-min-fair rule — find
    * the largest integer threshold t* with Σ min(n_i, t*) <= B, give
    * every source min(n_i, t*), then hand the remaining r documents one
    * each to the first r unsaturated sources in name order. Small
    * sources survive whole, big sources cap at a common level, and the
    * allocation sums to EXACTLY B — the fairness alternative to qd28's
    * temperature mixture (which preserves ratios instead of flattening
    * them). Pure integer arithmetic end to end ⇒ fully oracle-graded.
    *
    * Scale: everything after the per-source count runs on the
    * sources-sized frame (threshold candidates are the distinct sizes;
    * S(v) is a candidates x sources mini-join). The corpus itself is
    * touched once, by the count.
    */
  def qd45(s: SparkSession, dir: String): DataFrame =
    waterfillFrom(
      docs(s, dir).groupBy("source").agg(count(lit(1)).as("n")))

  /** Frame-parameterized twin (tests plant source sizes): (source, n). */
  private[graft] def waterfillFrom(sizes: DataFrame): DataFrame = {
    val tot = sizes.agg(sum("n").as("tot"))
    val cand = sizes.select(col("n").as("v")).distinct()
      .unionByName(sizes.sparkSession.range(1).select(lit(0L).as("v")))
    val sv = cand.crossJoin(sizes.select(col("n").as("nj")))
      .groupBy("v").agg(sum(least(col("nj"), col("v"))).as("sv"))
    val best = sv.crossJoin(broadcast(tot))
      .withColumn("b", expr("tot div 2"))
      .filter(col("sv") <= col("b"))
      .orderBy(col("v").desc).limit(1)
      .select(col("v").as("t0"), col("sv").as("s0"), col("b"))
    val act = sizes.crossJoin(broadcast(best)).filter(col("n") > col("t0"))
      .agg(count(lit(1)).as("active"))
    val params = best.crossJoin(broadcast(act))
      .withColumn("d",
        when(col("active") > 0, expr("(b - s0) div active")).otherwise(0L))
      .withColumn("r",
        when(col("active") > 0, expr("(b - s0) % active")).otherwise(0L))
      .withColumn("tstar", col("t0") + col("d"))
    val base = sizes.crossJoin(broadcast(params))
      .withColumn("alloc_base", least(col("n"), col("tstar")))
    val actv = base.filter(col("n") > col("tstar"))
      // global window by design: one row per SOURCE (result cardinality)
      .withColumn("ark", row_number().over(Window.orderBy(col("source").asc)))
      .select(col("source"), col("ark"))
    base.join(actv, Seq("source"), "left")
      .select(col("source"), col("n").as("n_docs"),
        (col("alloc_base") +
          when(col("ark").isNotNull && col("ark") <= col("r"), 1L).otherwise(0L))
          .as("allocation"))
  }

  private val qd45Sql =
    """WITH sizes AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM sizes),
      |cand AS (SELECT DISTINCT n AS v FROM sizes
      |         UNION SELECT CAST(0 AS BIGINT)),
      |sv AS (SELECT v, CAST(sum(least(nj, v)) AS BIGINT) AS sv
      |       FROM cand CROSS JOIN (SELECT n AS nj FROM sizes)
      |       GROUP BY v),
      |best AS (SELECT v AS t0, sv AS s0, tot // 2 AS b
      |         FROM sv CROSS JOIN tot WHERE sv <= tot // 2
      |         ORDER BY v DESC LIMIT 1),
      |act AS (SELECT CAST(count(*) AS BIGINT) AS active
      |        FROM sizes, best WHERE n > t0),
      |params AS (
      |  SELECT t0, s0, b,
      |    CASE WHEN active > 0 THEN (b - s0) % active ELSE 0 END AS r,
      |    t0 + CASE WHEN active > 0 THEN (b - s0) // active ELSE 0 END AS tstar
      |  FROM best CROSS JOIN act),
      |base AS (
      |  SELECT source, n, least(n, tstar) AS alloc_base, tstar, r
      |  FROM sizes CROSS JOIN params),
      |actv AS (
      |  SELECT source, row_number() OVER (ORDER BY source) AS ark
      |  FROM base WHERE n > tstar)
      |SELECT b.source AS source, b.n AS n_docs,
      |  CAST(b.alloc_base + CASE WHEN a.ark IS NOT NULL AND a.ark <= b.r
      |                           THEN 1 ELSE 0 END AS BIGINT) AS allocation
      |FROM base b LEFT JOIN actv a ON b.source = a.source""".stripMargin

  // --------------------------------------------------------------- qd46
  /** Dedup survivorship: qd39's fuzzy duplicate clusters with exactly
    * one KEPT document per cluster — the argmax-quality member (qd4's
    * score, ties to the smaller doc_id) rather than qd39's min-id
    * canonical. This is the policy step a curation pipeline runs after
    * clustering: "of these near-identical docs, which one ships?"
    * Picking by quality instead of id keeps the best-written variant.
    *
    * Scale: cluster ids and quality scores join on doc_id (one keyed
    * shuffle), then a per-cluster window whose partitions are
    * cluster-sized (duplicates, so tiny). The corpus outside clusters
    * never enters: qd39 already filtered to cluster_size >= 2.
    */
  def qd46(s: SparkSession, dir: String): DataFrame = {
    val clusters = qd39(s, dir)
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"))
    val quality = qd4(s, dir).select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("canonical_id")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters.join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "canonical_id", "cluster_size", "quality_score", "keep")
  }

  private val qd46Sql =
    s"""WITH cl AS ($qd39Sql),
       |q4 AS ($qd4Sql)
       |SELECT doc_id, canonical_id, cluster_size, quality_score,
       |       row_number() OVER (PARTITION BY canonical_id
       |           ORDER BY quality_score DESC, doc_id) = 1 AS keep
       |FROM (SELECT cl.doc_id, cl.canonical_id, cl.cluster_size,
       |             q4.quality_score
       |      FROM cl JOIN q4 USING (doc_id))""".stripMargin

  // --------------------------------------------------------------- qd47
  /** Vocabulary growth (Heaps-law) curve: the corpus in doc_id order
    * split into 10 equal-count buckets, with per-bucket token mass and
    * NEW vocabulary (terms whose first occurrence falls in the bucket),
    * both cumulated — the curve a corpus grower reads to decide whether
    * more of the same source still adds lexical novelty.
    *
    * Exactness: "first occurrence" is min(doc_id) per term — order-free
    * and engine-agnostic; bucket ids come from the two-phase global
    * rank (Pareto.rankBy, no single-partition window at scale) with
    * pure integer-division boundaries ((r-1)*10 div n + 1).
    *
    * Scale: one shuffle on token for the first-occurrence min, one
    * doc-sized rank; the cumulative window runs on the 10-row bucket
    * aggregate.
    */
  def qd47(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nd = d.agg(count(lit(1)).as("nd"))
    val buckets = graft.operators.Pareto
      .rankBy(d.select(col("doc_id")), Seq(col("doc_id").asc), "r")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"),
        (expr("((r - 1) * 10) div nd") + 1).cast("int").as("bucket"))
    val firstDoc = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("doc_id"))
    val perBucket = d
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"))
      .join(buckets, Seq("doc_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val newTerms = firstDoc.join(buckets, Seq("doc_id"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    // global window by design: one row per size BUCKET (result
    // cardinality — a fixed handful, not corpus-sized)
    val cum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTerms, Seq("bucket"), "left")
      .withColumn("new_terms", coalesce(col("new_terms"), lit(0L)))
      .withColumn("cum_tokens", sum("n_tokens").over(cum))
      .withColumn("cum_vocab", sum("new_terms").over(cum))
      .select("bucket", "n_docs", "n_tokens", "new_terms",
        "cum_tokens", "cum_vocab")
  }

  private val qd47Sql =
    """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
      |rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
      |       FROM documents),
      |bk AS (SELECT doc_id, CAST((r - 1) * 10 // nd + 1 AS INT) AS bucket
      |       FROM rk, nd),
      |tok AS (SELECT doc_id,
      |               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |        FROM documents),
      |first_doc AS (SELECT tok, min(doc_id) AS doc_id FROM tok GROUP BY tok),
      |per_bucket AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
      |           AS n_tokens
      |  FROM documents JOIN bk USING (doc_id) GROUP BY bucket),
      |new_terms AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS new_terms
      |  FROM first_doc JOIN bk USING (doc_id) GROUP BY bucket)
      |SELECT bucket, n_docs, n_tokens,
      |  COALESCE(new_terms, 0) AS new_terms,
      |  CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
      |  CAST(sum(COALESCE(new_terms, 0)) OVER (ORDER BY bucket) AS BIGINT)
      |    AS cum_vocab
      |FROM per_bucket LEFT JOIN new_terms USING (bucket)""".stripMargin

  // --------------------------------------------------------------- qd48
  /** Train-order novelty per document: walking the corpus in training
    * order (doc_id, the stream position proxy qd47 already uses), what
    * fraction of each document's distinct word-3-grams has never been
    * seen in any EARLIER document? The per-doc curve is the curation
    * signal qd47's bucketed unigram view can't give: a near-duplicate
    * of earlier data scores ~0 novelty wherever it lands, a fresh
    * domain scores ~1 even late in the stream — the "is new data still
    * adding content?" diagnostic read before extending a crawl, at the
    * granularity mixing decisions are made (docs, not buckets).
    *
    * Exactness: "seen earlier" is min(doc_id) per gram — order-free,
    * engine-agnostic, and tie-free (a gram's first doc counts it as
    * novel exactly once). Docs with no 3-gram (< 3 tokens) are kept
    * with ng=0 and novelty pinned 0.0 so the output stays corpus-sized.
    *
    * Scale: per-doc distinct gram sets are map-side; the only
    * gram-cardinality shuffle is the min(doc_id) aggregate, whose
    * output immediately collapses to doc cardinality (groupBy
    * first-seen doc) — there is NO gram-level join back to the corpus,
    * so the big side is touched once. The final doc↔doc join is
    * keyspace-sized on both sides.
    */
  /** Per-doc distinct gram sets (doc_id, grams, ng) — the single gram
    * definition shared by qd48 and the streaming noveltyBatch (the
    * signaturesOf discipline: batch and stream cannot drift).
    */
  private[graft] def gramSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        array_distinct(wordGrams(tokens(col("text")), 3)).as("grams"))
      .select(col("doc_id"), col("grams"),
        size(col("grams")).cast("long").as("ng"))

  /** (doc_id, ng, novel, novelty) from gram sets + per-doc novel-gram
    * counts — the shared output shape of qd48 and its streaming twin.
    */
  private[graft] def noveltyRollup(g: DataFrame, novelPerDoc: DataFrame): DataFrame =
    g.select("doc_id", "ng")
      .join(novelPerDoc, Seq("doc_id"), "left")
      .withColumn("novel", coalesce(col("novel"), lit(0L)))
      .select(col("doc_id"), col("ng"), col("novel"),
        when(col("ng") > 0,
          dround(col("novel").cast("double") / col("ng"), 6))
          .otherwise(lit(0.0)).as("novelty"))

  def qd48(s: SparkSession, dir: String): DataFrame = {
    val g = gramSets(docs(s, dir))
    val novelPerDoc = g
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy("gram").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("novel"))
    noveltyRollup(g, novelPerDoc)
  }

  private val qd48Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> array_to_string(toks[i:i+2], ' '))
      |      ELSE [] END) AS grams
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      |        FROM documents)),
      |novel AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS novel FROM (
      |    SELECT min(doc_id) AS doc_id
      |    FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
      |    GROUP BY gram)
      |  GROUP BY doc_id)
      |SELECT g.doc_id, CAST(len(g.grams) AS BIGINT) AS ng,
      |       COALESCE(n.novel, 0) AS novel,
      |       CASE WHEN len(g.grams) > 0
      |            THEN round(CAST(COALESCE(n.novel, 0) AS DOUBLE)
      |                       / len(g.grams), 6)
      |            ELSE 0.0 END AS novelty
      |FROM g LEFT JOIN novel n ON n.doc_id = g.doc_id""".stripMargin

  // --------------------------------------------------------------- qd50
  /** Full BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterated
    * closure of qd42's single round: [[BpeRounds]] merge rounds, each
    * counting adjacent token-pair frequencies over the corpus word
    * table, accepting the argmax (ties → lexicographically smallest
    * pair, deterministic), and re-segmenting every word against the
    * accepted merge before the next round. Output is the merge TABLE —
    * the artifact a tokenizer ships.
    *
    * Exactness: a word wraps EVERY token in its own separators
    * (unit separator U+001F) and a merge is the plain string
    * replacement SEP+u+SEP+SEP+v+SEP → SEP+uv+SEP — leftmost,
    * non-overlapping, boundary-safe: the pattern's flanking separators
    * mean u and v only match FULL tokens, and per-token separator PAIRS
    * mean back-to-back occurrences ("abab") share no boundary byte, so
    * simultaneous merges all fire while overlaps ("aaa") cannot —
    * which is exactly BPE's simultaneous left-to-right merge, and both
    * engines run the IDENTICAL replace call. Counts weight word
    * occurrences via the type-frequency table, like qd42.
    *
    * Scale: training iterates over the word-TYPE table (vocab-sized,
    * built by one corpus shuffle), never the corpus: each round is one
    * map-side pair explode + a pair-key partial-agged shuffle + a
    * driver-sized argmax collect (the accepted merge is the only thing
    * that leaves the cluster). Lineage is cut per round so round k
    * doesn't replay k-1 replaces.
    */
  private val BpeRounds = 8

  private val BpeSep = "\u001f"

  /** The training loop shared by qd50 (merge table) and qd51 (corpus
    * encode): returns the accepted merges in round order.
    */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] = {
    val Sep = BpeSep
    var w = docs(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("w"), "(.)", Sep + "$1" + Sep).as("ws"),
        col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to BpeRounds) {
      val top = w
        .select(filter(split(col("ws"), Sep), t => t =!= "").as("toks"), col("freq"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i - 1] as u, toks[i] as v))")).as("p"), col("freq"))
        .groupBy(col("p.u").as("u"), col("p.v").as("v"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("u").asc, col("v").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (u, v, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, u, v, n))
        // checkpoint-every-2nd-round was
        // measured at 10x and REVERTED — skipping the odd round's cut
        // makes both the odd argmax job and the even checkpoint job
        // re-evaluate the pending replace over the type table, and
        // that re-evaluation costs more than the saved barrier at both
        // sf0.1 and 10x (paired A/B, gates/r18/sf1skew_ab_text.txt:
        // qd50 3.73/4.17 -> 4.04/4.08, qd51 4.21/4.74 -> 4.62/5.94).
        // Per-round cuts stay: the type table is vocab-sized at any
        // corpus scale, so the barrier never grows with the corpus.
        w = w.select(replace(col("ws"), lit(Sep + u + Sep + Sep + v + Sep),
          lit(Sep + u + v + Sep)).as("ws"), col("freq")).localCheckpoint()
      }
    }
    merges.toSeq
  }

  def qd50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeMerges(s, dir).toDF("round", "u", "v", "n")
      .select(col("round").cast("int"), col("u"), col("v"), col("n"))
  }

  /** The shared training CTE chain (w0 → p1/t1 → w1 → …): each round
    * replays the SAME pair count + argmax + boundary-safe replace —
    * unrolled rounds, the qe31 precedent. Used by both qd50 (merge
    * table) and qd51 (encode against the derived merges).
    */
  private val bpeCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""x$r AS (
         |  SELECT toks, freq, unnest(range(1, len(toks))) AS i
         |  FROM (SELECT list_filter(string_split(ws, chr(31)), t -> t <> '') AS toks,
         |               freq
         |        FROM w${r - 1})),
         |p$r AS (
         |  SELECT toks[i] AS u, toks[i + 1] AS v, CAST(sum(freq) AS BIGINT) AS n
         |  FROM x$r GROUP BY 1, 2),
         |t$r AS (SELECT u, v, n FROM p$r ORDER BY n DESC, u, v LIMIT 1),
         |w$r AS (
         |  SELECT replace(ws, chr(31) || u || chr(31) || chr(31) || v || chr(31),
         |                 chr(31) || u || v || chr(31)) AS ws, freq
         |  FROM w${r - 1}, t$r)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g') AS ws,
       |         CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE len(w) >= 1
       |  GROUP BY 1),
       |$rounds""".stripMargin
  }

  private val qd50Sql = {
    val sel = (1 to BpeRounds)
      .map(r => s"SELECT $r AS round, u, v, n FROM t$r")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeCtes\n$sel"
  }

  // --------------------------------------------------------------- qd51
  /** Tokenizer ENCODE with the trained merge table — the serving half
    * of qd50: every corpus word occurrence is re-segmented by the
    * accepted merges in round order (map-only: [[BpeRounds]] string
    * replaces per occurrence, no shuffle until the per-source rollup),
    * and the output is the per-source fertility study a mixture owner
    * reads before committing a tokenizer (BPE tokens per whitespace
    * word; cf. qd35's fixed-tokenizer fertility). The oracle re-derives
    * the SAME merges through the shared CTE chain and applies them as
    * nested scalar-subquery replaces — train→encode consistency is
    * hash-checked end to end.
    *
    * Scale: training iterates the vocab-sized type table (see qd50);
    * encoding touches the corpus ONCE, map-only; the rollup is one
    * partial-agged shuffle on the source key.
    */
  def qd51(s: SparkSession, dir: String): DataFrame = {
    val Sep = BpeSep
    val wrapped = regexp_replace(col("w"), "(.)", Sep + "$1" + Sep)
    val encoded = bpeMerges(s, dir).foldLeft(wrapped) { case (c, (_, u, v, _)) =>
      replace(c, lit(Sep + u + Sep + Sep + v + Sep), lit(Sep + u + v + Sep))
    }
    docs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .select(col("source"),
        size(filter(split(encoded, Sep), t => t =!= "")).as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum("n_toks").cast("long").as("n_bpe_tokens"))
      .withColumn("fertility",
        dround(col("n_bpe_tokens").cast("double") / col("n_words"), 6))
  }

  private val qd51Sql = {
    // COALESCE to a never-occurring sentinel: on a corpus that exhausts
    // its pair vocabulary before round 8, t_r is empty and the scalar
    // subquery is NULL — a bare replace would NULL every word, while
    // the Spark side simply folds fewer merges
    val enc = (1 to BpeRounds).foldLeft("ws") { (inner, r) =>
      s"replace($inner, COALESCE((SELECT chr(31) || u || chr(31) || chr(31) || v || chr(31) FROM t$r), chr(1)), " +
        s"COALESCE((SELECT chr(31) || u || v || chr(31) FROM t$r), chr(1)))"
    }
    s"""WITH $bpeCtes,
       |occ AS (
       |  SELECT source,
       |         regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g') AS ws
       |  FROM (SELECT source,
       |               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |        FROM documents)
       |  WHERE len(w) >= 1),
       |enc AS (SELECT source, $enc AS ws FROM occ)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(list_filter(string_split(ws, chr(31)), t -> t <> '')))
       |    AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(len(list_filter(string_split(ws, chr(31)), t -> t <> '')))
       |    AS BIGINT) / count(*), 6) AS fertility
       |FROM enc GROUP BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qd1_dedup_exact" -> (qd1 _),
    "qd2_token_stats" -> (qd2 _),
    "qd3_lang_id" -> (qd3 _),
    "qd4_quality_score" -> (qd4 _),
    "qd5_fingerprint" -> (qd5 _),
    "qd6_minhash_lsh" -> (qd6 _),
    "qd6b_minhash_probe" -> (qd6b _),
    "qd7_simhash" -> (qd7 _),
    "qd8_ngram_jaccard" -> (qd8 _),
    "qd9_subword_tokens" -> (qd9 _),
    "qd10_corpus_prep" -> (qd10 _),
    "qd11_hash_sample" -> (qd11 _),
    "qd12_token_histogram" -> (qd12 _),
    "qd13_decontamination" -> (qd13 _),
    "qd13b_decontam_bloom" -> (qd13b _),
    "qd14_pii_scrub" -> (qd14 _),
    "qd15_sequence_pack" -> (qd15 _),
    "qd16_repetition" -> (qd16 _),
    "qd17_bm25" -> (qd17 _),
    "qd17b_bm25_index" -> (qd17b _),
    "qd18_dup_spans" -> (qd18 _),
    "qd19_domain_cap" -> (qd19 _),
    "qd20_token_ndv" -> (qd20 _),
    "qd20b_ndv_hll" -> (qd20b _),
    "qd21_heavy_hitters" -> (qd21 _),
    "qd21b_cms_probe" -> (qd21b _),
    "qd22_dup_clusters" -> (qd22 _),
    "qd23_dsir" -> (qd23 _),
    "qd24_zipf_fit" -> (qd24 _),
    "qd25_mixture" -> (qd25 _),
    "qd26_chunking" -> (qd26 _),
    "qd27_lm_perplexity" -> (qd27 _),
    "qd28_temperature_mixture" -> (qd28 _),
    "qd29_gopher_filter" -> (qd29 _),
    "qd30_source_overlap" -> (qd30 _),
    "qd30b_overlap_kmv" -> (qd30b _),
    "qd31_stop_terms" -> (qd31 _),
    "qd32_token_entropy" -> (qd32 _),
    "qd33_pmi_collocations" -> (qd33 _),
    "qd34_containment" -> (qd34 _),
    "qd35_tokenizer_fit" -> (qd35 _),
    "qd36_fuzzy_dedup" -> (qd36 _),
    "qd37_tfidf_keywords" -> (qd37 _),
    "qd38_source_diversity" -> (qd38 _),
    "qd39_fuzzy_clusters" -> (qd39 _),
    "qd40_report_card" -> (qd40 _),
    "qd41_lang_confusion" -> (qd41 _),
    "qd42_bpe_pairs" -> (qd42 _),
    "qd43_quality_ensemble" -> (qd43 _),
    "qd44_weighted_sample" -> (qd44 _),
    "qd45_waterfill_mixture" -> (qd45 _),
    "qd46_dedup_survivorship" -> (qd46 _),
    "qd47_vocab_growth" -> (qd47 _),
    "qd48_train_novelty" -> (qd48 _),
    "qd50_bpe_train" -> (qd50 _),
    "qd51_bpe_encode" -> (qd51 _),
  )

  val oracle: Map[String, String] = Map(
    "qd1_dedup_exact" -> qd1Sql,
    "qd2_token_stats" -> qd2Sql,
    "qd3_lang_id" -> qd3Sql,
    "qd4_quality_score" -> qd4Sql,
    "qd5_fingerprint" -> qd5Sql,
    // portable md5 shingle hash + polynomial band fold — the whole
    // banded-LSH algorithm replicates in SQL (candidates included)
    "qd6_minhash_lsh" -> qd6Sql,
    "qd6b_minhash_probe" -> qd6bSql,
    // portable md5 token hash + structural 8-band recall make the
    // banded output equal to the exact all-pairs Hamming result
    "qd7_simhash" -> qd7Sql,
    "qd8_ngram_jaccard" -> qd8Sql,
    "qd9_subword_tokens" -> qd9Sql,
    "qd10_corpus_prep" -> qd10Sql,
    "qd11_hash_sample" -> qd11Sql,
    "qd12_token_histogram" -> qd12Sql,
    "qd13_decontamination" -> qd13Sql,
    // the Bloom CASCADE's output is identical to exact qd13 by the
    // no-false-negative structural guarantee + exact verify — same SQL
    "qd13b_decontam_bloom" -> qd13Sql,
    "qd14_pii_scrub" -> qd14Sql,
    "qd15_sequence_pack" -> qd15Sql,
    "qd16_repetition" -> qd16Sql,
    "qd17_bm25" -> qd17Sql,
    // the persisted-index probe is score-identical to the fused qd17
    // by construction — one oracle serves both (the qe5/qe5b pattern)
    "qd17b_bm25_index" -> qd17Sql,
    "qd18_dup_spans" -> qd18Sql,
    "qd19_domain_cap" -> qd19Sql,
    "qd20_token_ndv" -> qd20Sql,
    "qd21_heavy_hitters" -> qd21Sql,
    "qd22_dup_clusters" -> qd22Sql,
    "qd23_dsir" -> qd23Sql,
    "qd24_zipf_fit" -> qd24Sql,
    "qd25_mixture" -> qd25Sql,
    "qd26_chunking" -> qd26Sql,
    "qd27_lm_perplexity" -> qd27Sql,
    "qd28_temperature_mixture" -> qd28Sql,
    "qd29_gopher_filter" -> qd29Sql,
    "qd30_source_overlap" -> qd30Sql,
    "qd31_stop_terms" -> qd31Sql,
    "qd32_token_entropy" -> qd32Sql,
    "qd33_pmi_collocations" -> qd33Sql,
    "qd34_containment" -> qd34Sql,
    "qd35_tokenizer_fit" -> qd35Sql,
    "qd36_fuzzy_dedup" -> qd36Sql,
    "qd37_tfidf_keywords" -> qd37Sql,
    "qd38_source_diversity" -> qd38Sql,
    "qd39_fuzzy_clusters" -> qd39Sql,
    "qd40_report_card" -> qd40Sql,
    "qd41_lang_confusion" -> qd41Sql,
    "qd42_bpe_pairs" -> qd42Sql,
    "qd43_quality_ensemble" -> qd43Sql,
    "qd44_weighted_sample" -> qd44Sql,
    "qd45_waterfill_mixture" -> qd45Sql,
    "qd46_dedup_survivorship" -> qd46Sql,
    "qd47_vocab_growth" -> qd47Sql,
    "qd48_train_novelty" -> qd48Sql,
    "qd50_bpe_train" -> qd50Sql,
    "qd51_bpe_encode" -> qd51Sql,
    // qd6/qd7 intentionally omitted: xxhash64-based, not SQL-expressible;
    // covered by ScalaTest invariants (TextQueriesSpec).
    // qd20b omitted: HLL++ registers are engine-specific — SketchSpec
    // floors its relative error against the exact qd20 twin.
    // qd21b omitted: CMS counter layout is engine-specific — SketchSpec
    // pins the one-sided CMS bounds against the exact qd21 twin.
  )
}
