package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.PortableHash

/** Data-selection and corpus-diagnostic operators — the curation suite's
  * "which documents do we train on" layer:
  *
  *   - dsir_select: Data Selection via Importance Resampling (Xie et al.,
  *     NeurIPS 2023) over hashed unigram features. A target domain
  *     (here: `lang = 'en'`, the high-quality-domain stand-in; production
  *     swaps the predicate) and the raw corpus each induce a smoothed
  *     distribution over 256 hashed-token buckets; every document is
  *     scored by its mean log importance ratio
  *     Σ log2(p_target(b)/p_raw(b)) / n_tokens.
  *   - ccnet_quality_buckets: the CCNet-style head/middle/tail split
  *     (Wenzek et al., LREC 2020) — per-language terciles of an LM
  *     quality signal, with per-bucket perplexity reported.
  *   - vocab_zipf_fit: per-language Zipf slope — OLS of log2(freq) on
  *     log2(rank) over the top-50 ranked words, the standard sanity
  *     check that a corpus slice has natural-language token statistics
  *     (slope ≈ −1) rather than boilerplate or spam.
  *   - corpus_report_card: the per-source "datasheet" roll-up — doc /
  *     token / vocabulary counts, corpus-wide exact-duplicate rate,
  *     mean composite quality and mean word-entropy — each signal the
  *     subtree of its standalone operator.
  *
  * Cross-engine exactness (why each hash-oracles): no transcendental
  * enters any ORDERING or DECISION.
  *   - dsir_select's keep decision is an integer MAJORITY VOTE: a token
  *     votes positive iff (c_t(b)+1)·(N_r+256) > (c_r(b)+1)·(N_t+256) —
  *     the smoothed-ratio comparison cross-multiplied into exact int64
  *     arithmetic (counts ≪ 2^26 here, products ≪ 2^53; at web scale
  *     promote to DECIMAL(38,0) — same plan). The log2-ratio score is
  *     informational output under the round-6 posture.
  *   - ccnet_quality_buckets' tercile sort key is NOT perplexity (a
  *     transcendental sum would make the tercile boundary engine-
  *     dependent) but bigram FAMILIARITY Σc12/n_bigrams — ONE correctly
  *     rounded division of exact int64 operands, bit-identical on both
  *     engines, ties broken by doc_id. Perplexity is reported per
  *     bucket, never sorted on.
  *   - vocab_zipf_fit ranks words by exact (count DESC, word) before
  *     any log; the OLS sums follow the text_entropy float-sum posture
  *     (round-6 outputs, driftaudit guarding boundaries).
  *
  * Scale shapes: dsir_select is two token-grain passes over one scan —
  * a 256-key map-side-combined aggregate (the bucket table, broadcast
  * back) and one doc-grain aggregate; nothing shuffles wider than the
  * corpus token relation, and the model side is 256 rows by
  * construction. ccnet_quality_buckets reuses the bigram-LM subtrees of
  * [[CurationQueries]] (model bounded by bigram types, broadcast) plus
  * one per-language window over doc-grain rows. vocab_zipf_fit is a
  * (lang, word)-grain aggregate, a per-language top-50 window over the
  * word-type table (type-bounded, not corpus-bounded), and a 5-row OLS
  * aggregate. corpus_report_card pays one token-grain shuffle for the
  * count signals, one text-hash shuffle for the duplicate rate, and
  * per-row arithmetic for quality — all meeting at |sources| rows.
  */
object DsirQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** (doc_id, lang, w) — nonempty whitespace tokens (the
    * [[CurationQueries.wordArrays]] convention: doubled-space empties
    * never become tokens). */
  private def tokens(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))

  // --------------------------------------------------------- dsir_select

  private val Buckets = 256

  /** DSIR importance score + exact-arithmetic keep decision.
    * Columns: doc_id, n_tokens, dsir_score (mean log2 importance ratio,
    * round-6), keep (majority of tokens in target-leaning buckets). */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(docs(s, dir))
      .withColumn("b", PortableHash.bucket(col("w"), Buckets))
    val stats = toks.groupBy(col("b")).agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    val tot = stats.agg(sum(col("c_r")).as("n_r"), sum(col("c_t")).as("n_t"))
    val lam = stats.crossJoin(broadcast(tot)).select(
      col("b"),
      (log2((col("c_t").cast("double") + lit(1.0)) /
          (col("n_t").cast("double") + lit(Buckets.toDouble))) -
        log2((col("c_r").cast("double") + lit(1.0)) /
          (col("n_r").cast("double") + lit(Buckets.toDouble)))).as("lam"),
      ((col("c_t") + lit(1L)) * (col("n_r") + lit(Buckets.toLong)) >
        (col("c_r") + lit(1L)) * (col("n_t") + lit(Buckets.toLong)))
        .as("pos"))
    toks.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lam")).as("sl"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("sl") / col("n_tokens").cast("double"), 6)
          .as("dsir_score"),
        (col("n_pos") * 2 > col("n_tokens")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val dsirSelectSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS w
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % $Buckets AS b
      |  FROM t),
      |st AS (
      |  SELECT b, count(*) AS c_r,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
      |  FROM tb GROUP BY 1),
      |tot AS (SELECT sum(c_r) AS n_r, sum(c_t) AS n_t FROM st),
      |l AS (
      |  SELECT b,
      |    log2((CAST(c_t AS DOUBLE) + 1.0) / (CAST(n_t AS DOUBLE) + $Buckets.0))
      |      - log2((CAST(c_r AS DOUBLE) + 1.0) / (CAST(n_r AS DOUBLE) + $Buckets.0))
      |      AS lam,
      |    (c_t + 1) * (n_r + $Buckets) > (c_r + 1) * (n_t + $Buckets) AS pos
      |  FROM st CROSS JOIN tot),
      |d AS (
      |  SELECT tb.doc_id, count(*) AS n_tokens, sum(lam) AS sl,
      |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos
      |  FROM tb JOIN l USING (b) GROUP BY 1)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  round(sl / n_tokens, 6) AS dsir_score,
      |  n_pos * 2 > n_tokens AS keep
      |FROM d ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- ccnet_quality_buckets

  /** Per-language quality terciles keyed on exact bigram familiarity;
    * bucket 1 = most familiar (the CCNet "head"). Single-word documents
    * have no bigrams and are out of scope by construction (as in
    * `lm_bigram_perplexity`). */
  def ccnetQualityBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = CurationQueries.wordArrays(d)
    val bi = CurationQueries.bigramRel(base)
    val model = CurationQueries.lmModel(CurationQueries.bigramCounts(base))
    val nv = base.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("nv"))
    val nll = -log2((col("c12").cast("double") + lit(0.5)) /
      (col("c1").cast("double") + lit(0.5) * col("nv").cast("double")))
    val perDoc = bi.join(broadcast(model), Seq("w1", "w2"))
      .crossJoin(broadcast(nv))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("c12")).as("sc12"),
        sum(nll).as("snll"))
      .withColumn("fam", col("sc12").cast("double") / col("nb").cast("double"))
      .withColumn("ppl",
        pow(lit(2.0), col("snll") / col("nb").cast("double")))
    perDoc.join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(
        Window.partitionBy(col("lang"))
          .orderBy(col("fam").desc, col("doc_id"))).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("fam")), 6).as("avg_fam"),
        round(avg(col("ppl")), 6).as("avg_ppl"),
        round(min(col("fam")), 6).as("min_fam"),
        round(max(col("fam")), 6).as("max_fam"))
      .orderBy(col("lang"), col("bucket"))
  }

  val ccnetQualityBucketsSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
      |    unnest(ws[2:len(ws)]) AS w2
      |  FROM d WHERE len(ws) >= 2),
      |c AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      |m AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1
      |      FROM c),
      |v AS (SELECT count(DISTINCT w) AS nv
      |      FROM (SELECT unnest(ws) AS w FROM d)),
      |p AS (
      |  SELECT b.doc_id, count(*) AS nb, sum(m.c12) AS sc12,
      |    sum(-log2((CAST(m.c12 AS DOUBLE) + 0.5)
      |      / (CAST(m.c1 AS DOUBLE) + 0.5 * CAST(nv AS DOUBLE)))) AS snll
      |  FROM b JOIN m USING (w1, w2) CROSS JOIN v GROUP BY 1),
      |k AS (
      |  SELECT p.doc_id, d2.lang,
      |    CAST(sc12 AS DOUBLE) / CAST(nb AS DOUBLE) AS fam,
      |    pow(2.0, snll / CAST(nb AS DOUBLE)) AS ppl
      |  FROM p JOIN d d2 ON p.doc_id = d2.doc_id),
      |t AS (
      |  SELECT lang, doc_id, fam, ppl,
      |    ntile(3) OVER (PARTITION BY lang ORDER BY fam DESC, doc_id)
      |      AS bucket
      |  FROM k)
      |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(fam), 6) AS avg_fam,
      |  round(avg(ppl), 6) AS avg_ppl,
      |  round(min(fam), 6) AS min_fam,
      |  round(max(fam), 6) AS max_fam
      |FROM t GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  // ------------------------------------------------------ vocab_zipf_fit

  private val ZipfTopN = 50

  /** Per-language Zipf OLS: y = slope·x + intercept over
    * (x, y) = (log2 rank, log2 freq) for the top-50 words by exact
    * (count DESC, word) rank. r2 is NULL when the freq column is
    * constant (zero y-variance — r2 undefined). */
  def vocabZipfFit(s: SparkSession, dir: String): DataFrame = {
    val ranked = tokens(docs(s, dir))
      .groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("w"))))
      .filter(col("rk") <= ZipfTopN)
    val xy = ranked.select(col("lang"),
      log2(col("rk").cast("double")).as("x"),
      log2(col("c").cast("double")).as("y"))
    val n = col("n").cast("double")
    val covn = n * col("sxy") - col("sx") * col("sy")   // n·cov·n
    val varxn = n * col("sxx") - col("sx") * col("sx")  // n·varx·n
    val varyn = n * col("syy") - col("sy") * col("sy")
    xy.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lang"),
        col("n").cast("long").as("n_terms"),
        round(covn / varxn, 6).as("slope"),
        round((col("sy") - (covn / varxn) * col("sx")) / n, 6)
          .as("intercept"),
        round(when(varyn > 0.0, covn * covn / (varxn * varyn)), 6)
          .as("r2"))
      .orderBy(col("lang"))
  }

  val vocabZipfFitSql: String =
    s"""WITH t AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS w
      |  FROM documents),
      |wc AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2),
      |r AS (
      |  SELECT lang, c,
      |    row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rk
      |  FROM wc QUALIFY rk <= $ZipfTopN),
      |xy AS (
      |  SELECT lang, log2(CAST(rk AS DOUBLE)) AS x,
      |    log2(CAST(c AS DOUBLE)) AS y
      |  FROM r),
      |a AS (
      |  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
      |    sum(x*y) AS sxy, sum(y*y) AS syy
      |  FROM xy GROUP BY 1)
      |SELECT lang, CAST(n AS BIGINT) AS n_terms,
      |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
      |    AS intercept,
      |  round(CASE WHEN n*syy - sy*sy > 0.0
      |    THEN (n*sxy - sx*sy)*(n*sxy - sx*sy)
      |      / ((n*sxx - sx*sx)*(n*syy - sy*sy)) END, 6) AS r2
      |FROM a ORDER BY lang""".stripMargin

  // -------------------------------------------------- corpus_report_card

  /** The per-source datasheet roll-up. dup_frac counts a document as
    * duplicated when its exact text (md5) appears on 2+ documents
    * ANYWHERE in the corpus — the cross-source duplicate is charged to
    * both sources, which is what a provenance audit wants.
    *
    * Plan shape: `source` is carried THROUGH the token explode (never
    * joined back at corpus grain), so the heavy work is exactly two
    * token-grain passes over one pruned scan — the (doc, word) counter
    * aggregate every count/entropy/stopword signal derives from, and the
    * (source, word) distinct for vocabulary — plus one text-hash window
    * for the duplicate rate. The doc-grain summary table is
    * localCheckpoint'd because three signals consume it (the
    * curation-funnel precedent); at 100 TB it is ~doc-count rows of
    * fixed-width summaries, orders of magnitude under the corpus. */
  def corpusReportCard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // ONE token-grain shuffle: per-(doc, word) counts, source carried
    val wc = d.select(col("doc_id"), col("source"),
        explode(filter(split(col("text"), " "), w => length(w) > 0)).as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    // doc-grain roll-up: token total, entropy terms, stopword count —
    // all from the counter relation (stopwords are never empty strings,
    // so counting them over filtered tokens matches text_quality's
    // unfiltered stopCountRel by construction)
    val perDoc = wc.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("nw"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("clogc"),
        sum(when(col("w").isin(TextQueries.Stopwords: _*), col("c"))
          .otherwise(0L)).as("stop_cnt"))
      .localCheckpoint(false)
    val entAgg = perDoc.groupBy(col("source"))
      .agg(sum(col("nw")).as("n_tokens"),
        round(avg(log2(col("nw").cast("double")) -
          col("clogc") / col("nw").cast("double")), 6).as("avg_entropy"))
    val vocabAgg = wc.select(col("source"), col("w")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("vocab_size"))
    val dupAgg = d
      .withColumn("n_sharing",
        count(lit(1)).over(Window.partitionBy(md5(col("text")))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_sharing") > 1, 1L).otherwise(0L)).as("dup_docs"),
        countDistinct(col("lang")).as("n_langs"))
    // quality: per-row text features + the checkpointed doc-grain
    // stop counts (the one doc-grain join; its left side is a pruned
    // per-row projection, its right the summary table)
    val nChars = length(col("text")).cast("double")
    val nWords = size(split(col("text"), " ")).cast("double")
    val punctCnt = nChars -
      length(regexp_replace(col("text"), TextQueries.PunctClass, ""))
        .cast("double")
    // LEFT join + coalesce: a doc whose tokens are all empty strings is
    // absent from the counter relation but still carries quality in the
    // SQL mirror (stop_cnt = 0 there) — the left join keeps the two
    // engines' averaging sets identical
    val quality = least(nWords / lit(200.0), lit(1.0)) * 0.5 +
      (coalesce(col("stop_cnt"), lit(0L)).cast("double") / nWords) * 0.3 +
      (lit(1.0) - punctCnt / nChars) * 0.2
    val qualAgg = d.select(col("doc_id"), col("source"), col("text"))
      .join(perDoc.select(col("doc_id"), col("stop_cnt")), Seq("doc_id"),
        "left")
      .groupBy(col("source"))
      .agg(round(avg(round(quality, 6)), 6).as("avg_quality"))
    dupAgg.join(entAgg, Seq("source"))
      .join(vocabAgg, Seq("source"))
      .join(qualAgg, Seq("source"))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("vocab_size").cast("long").as("vocab_size"),
        col("n_langs").cast("long").as("n_langs"),
        round(col("dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_frac"),
        col("avg_quality"), col("avg_entropy"))
      .orderBy(col("source"))
  }

  val corpusReportCardSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS w
      |  FROM documents),
      |ts AS (
      |  SELECT d.source, t.w FROM t JOIN documents d ON t.doc_id = d.doc_id),
      |ta AS (
      |  SELECT source, count(*) AS n_tokens, count(DISTINCT w) AS vocab_size
      |  FROM ts GROUP BY 1),
      |du AS (
      |  SELECT source,
      |    count(*) AS n_docs,
      |    sum(CASE WHEN n_sharing > 1 THEN 1 ELSE 0 END) AS dup_docs,
      |    count(DISTINCT lang) AS n_langs
      |  FROM (SELECT source, lang,
      |          count(*) OVER (PARTITION BY md5(text)) AS n_sharing
      |        FROM documents)
      |  GROUP BY 1),
      |q AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w IN
      |      ('the','a','and','of','to','in','is','it','that','for')))
      |      AS DOUBLE) AS stop_cnt,
      |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?()-]',
      |      '', 'g')) AS DOUBLE) AS punct_cnt
      |  FROM documents),
      |qs AS (
      |  SELECT doc_id,
      |    round(least(n_words / 200.0, 1.0) * 0.5
      |      + (stop_cnt / n_words) * 0.3
      |      + (1.0 - punct_cnt / n_chars) * 0.2, 6) AS quality
      |  FROM q),
      |qa AS (
      |  SELECT d.source, round(avg(qs.quality), 6) AS avg_quality
      |  FROM qs JOIN documents d ON qs.doc_id = d.doc_id GROUP BY 1),
      |ec AS (
      |  SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
      |ed AS (
      |  SELECT doc_id,
      |    log2(CAST(sum(c) AS DOUBLE))
      |      - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
      |        / CAST(sum(c) AS DOUBLE) AS ent
      |  FROM ec GROUP BY 1),
      |ea AS (
      |  SELECT d.source, round(avg(ed.ent), 6) AS avg_entropy
      |  FROM ed JOIN documents d ON ed.doc_id = d.doc_id GROUP BY 1)
      |SELECT du.source,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(vocab_size AS BIGINT) AS vocab_size,
      |  CAST(n_langs AS BIGINT) AS n_langs,
      |  round(CAST(dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    AS dup_frac,
      |  avg_quality, avg_entropy
      |FROM du JOIN ta ON du.source = ta.source
      |  JOIN qa ON du.source = qa.source
      |  JOIN ea ON du.source = ea.source
      |ORDER BY du.source""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("dsir_select", dsirSelect _, Some(dsirSelectSql)),
      ("ccnet_quality_buckets", ccnetQualityBuckets _,
        Some(ccnetQualityBucketsSql)),
      ("vocab_zipf_fit", vocabZipfFit _, Some(vocabZipfFitSql)),
      ("corpus_report_card", corpusReportCard _,
        Some(corpusReportCardSql)))
}
