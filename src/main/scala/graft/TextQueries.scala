package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext._

/** Text and tokenizers over the document corpus: statistics, language ID,
  * quality and contamination filters, n-gram language models, BPE, unigram
  * and WordPiece tokenizers, sequence packing, and data selection and
  * mixing (DSIR, token budgets, UniMax, max coverage).
  */
object TextQueries extends QueryFamily("text") {
  import Inputs.{FixtureRoot, calibScoreKeepCtes, shinglesSql, stopCountSql}

  /** Per-document n-gram novelty rate against everything earlier in corpus
    * order ([[graft.ext.TextStats.ngramNovelty]]): the share of each doc's
    * distinct 3-shingles first seen in that doc.
    */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.ngramNovelty(Tables.documents(spark, dir), "doc_id",
        "text", k = 3)
      .orderBy(col("doc_id"))

  val ngramNoveltySql: String =
    s"""WITH $shinglesSql,
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      |SELECT s.doc_id, COUNT(*) AS n_sh,
      |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1.0 / COUNT(*), 6) AS novelty_rate
      |FROM sh s JOIN f USING (sh) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic train/val/test assignment: split is a pure md5-bucket function
    * of doc_id (reproducible, join-free, stable under data growth); the query
    * reports the per-(lang, split) composition of the corpus.
    */
  def qDatasetSplit(spark: SparkSession, dir: String): DataFrame =
    Splits.withSplit(Tables.documents(spark, dir), "doc_id",
        trainPct = 80, valPct = 10)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  val datasetSplitSql: String =
    """WITH b AS (SELECT lang,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bk
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Balanced corpus sample: at most 50 docs per language, drawn by deterministic
    * md5-of-id order ([[Splits.balancedSample]]).
    */
  def qBalancedSample(spark: SparkSession, dir: String): DataFrame =
    Splits.balancedSample(
        Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", maxPerGroup = 50)
      .orderBy(col("lang"), col("doc_id"))

  val balancedSampleSql: String =
    """WITH r AS (SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang FROM r WHERE rk <= 50 ORDER BY lang, doc_id""".stripMargin

  /** TF-IDF top-3 terms per document (smoothed idf, rank window with term
    * tie-break).
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame =
    TextStats.tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  val tfidfSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    tf.tf * ln((n.n + 1) / (dfreq.df + 1)) AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (SELECT s.*, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rank FROM s)
      |SELECT doc_id, rank, term, tf, df, ROUND(tfidf, 6) AS tfidf
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Per-language document-length quantiles — exact `percentile` (linear
    * interpolation, same R-7 definition as DuckDB's `quantile_cont`). At extreme
    * scale swap for `percentile_approx` (t-digest sketch, map-side mergeable) —
    * the exact form shuffles per-group value multisets.
    */
  def qQualityQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val qualityQuantilesSql: String =
    """SELECT lang,
      |  ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------------
  // Text analysis
  // -------------------------------------------------------------------------

  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.qualityDF(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val textStatsSql: String =
    s"""WITH t AS (SELECT doc_id, text, length(text) AS n_chars,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
      |    $stopCountSql AS stop FROM documents)
      |SELECT doc_id, n_chars, n_tokens,
      |  ROUND((n_chars - n_tokens + 1) * 1.0 / n_tokens, 6) AS avg_token_len,
      |  ROUND(alpha_chars * 1.0 / n_chars, 6) AS alpha_ratio,
      |  ROUND(stop * 1.0 / n_tokens, 6) AS stopword_ratio,
      |  ROUND(CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
      |    + 0.3 * (alpha_chars * 1.0 / n_chars)
      |    + 0.3 * least(1.0, stop * 10.0 / n_tokens), 6) AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin

  def qLangId(spark: SparkSession, dir: String): DataFrame =
    TextStats.langIdDF(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val langIdSql: String =
    s"""WITH t AS (SELECT doc_id,
      |    $stopCountSql AS stopword_hits,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
      |  FROM documents)
      |SELECT doc_id, stopword_hits, n_tokens,
      |  CASE WHEN stopword_hits * 25 >= n_tokens * 2 THEN 'en'
      |       WHEN stopword_hits > 0 THEN 'en-maybe' ELSE 'unk' END AS lang_pred
      |FROM t ORDER BY doc_id""".stripMargin

  /** Multi-language fixture shared by the Spark query and the VALUES oracle —
    * the generated corpus is same-language synthetic text, so an on-corpus
    * multi-class check would be vacuous (same reasoning as [[piiFixture]]).
    */
  private[graft] val langFixture: Seq[(Long, String)] = Seq(
    (1L, "the cat sat on the mat and it is clear that you saw it leave"),
    (2L, "la casa de la madre es el lugar que los vecinos aman por siempre"),
    (3L, "der hund und die katze laufen von der stadt zu den feldern mit sich"),
    (4L, "le chien et les enfants jouent dans un jardin du village pour une heure"),
    (5L, "zzz qqq xxx words without common function tokens whatsoever"))

  def qLangIdMulti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextStats.langIdMultiDF(langFixture.toDF("doc_id", "text"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val langIdMultiSql: String = {
    val docs = langFixture
      .map { case (id, text) => s"(CAST($id AS BIGINT), '$text')" }
      .mkString(",\n    ")
    val profile = TextStats.langProfiles
      .flatMap { case (lang, toks) => toks.map(t => s"('$t', '$lang')") }
      .mkString(", ")
    s"""WITH docs(doc_id, text) AS (VALUES
      |    $docs),
      |profile(tok, plang) AS (VALUES $profile),
      |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM docs),
      |h AS (SELECT doc_id, plang, COUNT(*) AS n_hits
      |    FROM tok JOIN profile USING (tok) GROUP BY 1, 2),
      |r AS (SELECT doc_id, plang, n_hits,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY n_hits DESC, plang) AS rn FROM h)
      |SELECT d.doc_id, COALESCE(r.plang, 'unk') AS lang_pred,
      |  CAST(COALESCE(r.n_hits, 0) AS BIGINT) AS n_hits
      |FROM docs d LEFT JOIN r ON d.doc_id = r.doc_id AND r.rn = 1
      |ORDER BY d.doc_id""".stripMargin
  }

  def qTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"),
        TextStats.wsTokenCount(col("text")).as("ws_tokens"),
        TextStats.regexTokenCount(col("text")).cast("long").as("regex_tokens"))
      .orderBy(col("doc_id"))
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN 0
      |       ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS regex_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Corpus quality (Gopher/C4-style), n-gram stats, PII (round 3)
  // -------------------------------------------------------------------------

  def qGopherQuality(spark: SparkSession, dir: String): DataFrame =
    TextQuality.gopherSignals(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Bigram CTE shared by the quality + top-ngram oracles: slice+array_to_string
    * mirrors WordShingles' short-document behavior (a 1-token doc yields its one
    * token, not a NULL from concatenating a missing element).
    */
  private val bigramsSql =
    """bg AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(l) - 1, 1)),
      |    i -> array_to_string(l[i:i+1], ' '))) AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))""".stripMargin

  val gopherQualitySql: String =
    s"""WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |    FROM documents),
      |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tf GROUP BY 1, 2),
      |ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_distinct, MAX(c) AS max_tf FROM tc GROUP BY 1),
      |$bigramsSql,
      |ba AS (SELECT doc_id, COUNT(*) AS n_bg, COUNT(DISTINCT b) AS n_distinct_bg
      |    FROM bg GROUP BY 1)
      |SELECT ta.doc_id, n_tokens,
      |  ROUND(n_distinct * 1.0 / n_tokens, 6) AS type_token_ratio,
      |  ROUND(max_tf * 1.0 / n_tokens, 6) AS top_token_ratio,
      |  ROUND(1 - n_distinct_bg * 1.0 / n_bg, 6) AS dup_bigram_frac,
      |  (max_tf * 1.0 / n_tokens <= 0.20
      |    AND 1 - n_distinct_bg * 1.0 / n_bg <= 0.30) AS keep
      |FROM ta JOIN ba ON ta.doc_id = ba.doc_id ORDER BY ta.doc_id""".stripMargin

  def qTopNgrams(spark: SparkSession, dir: String): DataFrame =
    TextQuality.topNgrams(Tables.documents(spark, dir), "doc_id", "text",
        k = 2, topN = 20)
      .orderBy(col("rank"))

  val topNgramsSql: String =
    s"""WITH $bigramsSql,
      |sh AS (SELECT DISTINCT doc_id, b AS ngram FROM bg),
      |f AS (SELECT ngram, COUNT(*) AS doc_freq FROM sh GROUP BY 1
      |      ORDER BY doc_freq DESC, ngram LIMIT 20)
      |SELECT ngram, doc_freq,
      |  CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, ngram) AS BIGINT) AS rank
      |FROM f ORDER BY rank""".stripMargin

  /** PII fixture shared verbatim by the Spark query and the VALUES-based oracle —
    * the generated corpus has no PII, so an on-corpus query would be a vacuous
    * all-zeros check; a literal fixture exercises the regex semantics for real
    * (and proves the pattern strings behave identically under java.util.regex
    * and RE2).
    */
  private[graft] val piiFixture: Seq[(Long, String)] = Seq(
    (1L, "reach us at alice.smith@example.com or 555-123-4567 during business hours"),
    (2L, "ssn on file 123-45-6789 card 4111 1111 1111 1111 expires soon"),
    (3L, "no sensitive content in this row just plain words"),
    (4L, "bob@corp.io and carol@site.org both wrote while 999-555-0199 rang"))

  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = piiFixture.toDF("doc_id", "text")
    TextQuality.piiCounts(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
        TextQuality.redactPii(col("text")).as("redacted")), "doc_id")
      .select(col("doc_id"), col("redacted"), col("n_emails"), col("n_cards"),
        col("n_ssns"), col("n_phones"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String = {
    val values = piiFixture
      .map { case (id, text) => s"(CAST($id AS BIGINT), '$text')" }
      .mkString(",\n    ")
    import TextQuality.{EmailRe, CardRe, SsnRe, PhoneRe}
    s"""WITH docs(doc_id, text) AS (VALUES
      |    $values)
      |SELECT doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      |    '$EmailRe', '<EMAIL>', 'g'),
      |    '$CardRe', '<CARD>', 'g'),
      |    '$SsnRe', '<SSN>', 'g'),
      |    '$PhoneRe', '<PHONE>', 'g') AS redacted,
      |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '$CardRe')) AS BIGINT) AS n_cards,
      |  CAST(len(regexp_extract_all(text, '$SsnRe')) AS BIGINT) AS n_ssns,
      |  CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones
      |FROM docs ORDER BY doc_id""".stripMargin
  }

  /** Per-language document-length deciles via NTILE — the window partitions on
    * `lang`, so decile assignment parallelizes across languages (a GLOBAL ntile
    * would be a single-partition window; at corpus scale use approx-quantile
    * boundaries instead, [[graft.ext.TextStats.groupQuantilesApprox]]).
    */
  def qQualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("decile", ntile(10).over(byLang).cast("long"))
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("decile"))
  }

  val qualityDecilesSql: String =
    """WITH d AS (SELECT lang, n_chars,
      |    NTILE(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS decile
      |  FROM documents)
      |SELECT lang, CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_docs,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def qUnigramNll(spark: SparkSession, dir: String): DataFrame =
    TextQuality.unigramNll(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val unigramNllSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |    FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |corpus AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM corpus)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |  ROUND(-CAST(SUM(CAST(tf * ln(cnt * 1.0 / total) AS DECIMAL(18,8)))
      |      AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS avg_nll
      |FROM tf JOIN corpus USING (t) CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Benchmark set = every 100th document (simulated eval suite); the query
    * scores the REST of the corpus against it.
    */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextQuality.contamination(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
  }

  val contaminationSql: String =
    s"""WITH $shinglesSql,
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0),
      |docsh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 100 <> 0),
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM docsh GROUP BY 1),
      |h AS (SELECT doc_id, COUNT(*) AS n_hit FROM docsh
      |    WHERE sh IN (SELECT sh FROM bench) GROUP BY 1)
      |SELECT doc_id, n_sh, COALESCE(n_hit, 0) AS n_hit,
      |  ROUND(COALESCE(n_hit, 0) * 1.0 / n_sh, 6) AS contamination
      |FROM n LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Pair-level contamination: which benchmark docs leak into which corpus
    * docs (same %100 benchmark convention as [[qContamination]]). The
    * synthetic corpus has no real benchmark leakage (max containment ≈ 0.09),
    * so the demo threshold sits at 0.04 to keep the check non-vacuous — a
    * production decontamination pass runs the same plan at ~0.8.
    */
  def qContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextQuality.containmentPairs(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0),
        "doc_id", "text", k = 3, threshold = 0.04)
      .select(col("bench_id"), col("doc_id"), col("n_bench"), col("n_shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy(col("bench_id"), col("doc_id"))
  }

  val containmentSql: String =
    s"""WITH $shinglesSql,
      |bsh AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 100 = 0),
      |bn AS (SELECT bench_id, COUNT(*) AS n_bench FROM bsh GROUP BY 1),
      |dsh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 100 <> 0),
      |p AS (SELECT bench_id, doc_id, COUNT(*) AS n_shared
      |      FROM bsh JOIN dsh USING (sh) GROUP BY 1, 2)
      |SELECT bench_id, doc_id, n_bench, n_shared,
      |  ROUND(n_shared * 1.0 / n_bench, 6) AS containment
      |FROM p JOIN bn USING (bench_id)
      |WHERE n_shared * 1.0 / n_bench >= 0.04
      |ORDER BY bench_id, doc_id""".stripMargin

  /** First-BPE-iteration merge-pair table over the corpus vocabulary. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    TextStats.bpePairStats(Tables.documents(spark, dir), "text", topN = 20)

  /** Full BPE merge training ([[graft.ext.BpeTrain.train]], 16 merges over
    * the ≥2-freq vocabulary). No SQL oracle — the merge recurrence is not
    * SQL-expressible (driver records the rows-only check); the semantics gate
    * is BpeTrainSpec's golden fixture from the original paper.
    */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ext.BpeTrain.trainDF(spark, Tables.documents(spark, dir), "text",
      nMerges = 16, minFreq = 2)

  /** Train-then-encode composition: learn 16 merges, tokenize the corpus with
    * them, report per-doc BPE sequence lengths ([[graft.ext.BpeTrain.encode]];
    * rows-only check, like [[qBpeTrain]]).
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.ext.BpeTrain.train(docs, "text", nMerges = 16, minFreq = 2)
    graft.ext.BpeTrain.encode(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }

  val bpePairsSql: String =
    """WITH w AS (SELECT word, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE len(word) >= 2 GROUP BY 1),
      |p AS (SELECT n, unnest(list_transform(
      |    generate_series(1, len(word) - 1),
      |    i -> substr(word, i, 2))) AS pair FROM w),
      |a AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occ FROM p GROUP BY 1)
      |SELECT pair, n_occ FROM a ORDER BY n_occ DESC, pair LIMIT 20""".stripMargin

  /** Zipf fit over the top-100 vocabulary head. */
  def qZipfSlope(spark: SparkSession, dir: String): DataFrame =
    TextStats.zipfSlope(Tables.documents(spark, dir), "text", topN = 100)

  val zipfSlopeSql: String =
    """WITH v AS (SELECT t, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      |  GROUP BY 1 ORDER BY n DESC, t LIMIT 100),
      |r AS (SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, t) AS DOUBLE)) AS x,
      |    ln(CAST(n AS DOUBLE)) AS y FROM v),
      |a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m,
      |    CAST(SUM(CAST(x AS DECIMAL(18,8))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(18,8))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(18,8))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(18,8))) AS DOUBLE) AS sxx FROM r)
      |SELECT CAST(m AS BIGINT) AS n_terms,
      |  ROUND((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS slope,
      |  ROUND(sy / m - ((sxy - sx * sy / m) / (sxx - sx * sx / m)) * (sx / m), 6)
      |    AS intercept
      |FROM a""".stripMargin

  /** Heaps'-law vocabulary growth over 10 id-ordered corpus prefixes. */
  def qHeapsLaw(spark: SparkSession, dir: String): DataFrame =
    TextStats.heapsLaw(Tables.documents(spark, dir), "doc_id", "text",
        buckets = 10)
      .orderBy(col("bkt"))

  val heapsLawSql: String =
    """WITH n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
      |tok AS (SELECT CAST(FLOOR(doc_id * 10 / n.n) AS BIGINT) AS bkt,
      |    unnest(string_split(text, ' ')) AS t
      |  FROM documents CROSS JOIN n),
      |tb AS (SELECT bkt, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
      |fb AS (SELECT t, MIN(bkt) AS bkt FROM tok GROUP BY 1),
      |nv AS (SELECT bkt, COUNT(*) AS new_terms FROM fb GROUP BY 1)
      |SELECT tb.bkt, tb.n_tokens,
      |  CAST(SUM(tb.n_tokens) OVER w AS BIGINT) AS cum_tokens,
      |  COALESCE(nv.new_terms, 0) AS new_terms,
      |  CAST(SUM(COALESCE(nv.new_terms, 0)) OVER w AS BIGINT) AS cum_vocab
      |FROM tb LEFT JOIN nv USING (bkt)
      |WINDOW w AS (ORDER BY tb.bkt ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)
      |ORDER BY bkt""".stripMargin

  /** Character-trigram entropy per source in bits — the gibberish/mojibake
    * detector: natural language sits in a tight entropy band; binary spew or
    * repeated templates fall far outside it. Per-term contributions go
    * through DECIMAL (the userTypeEntropy discipline) so the sums are
    * partition-order-independent and engine-identical. One scan-proportional
    * explode, then (source, trigram)-keyed aggregates.
    */
  def qCharNgramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453
    // native kernel: the HOF substr formulation is CodegenFallback and was
    // ~half this query's budget at sf0.1 (the WordShingles lesson)
    val tri = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.CharNgrams.ngrams(col("text"), 3)).as("g"))
    val c = tri.groupBy(col("source"), col("g")).agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("source"))
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("n_grams"))
    val p = col("n").cast("double") / col("tot")
    c.join(t, Seq("source"))
      .select(col("source"), col("tot"), col("n_grams"),
        (-p * log(p) / lit(ln2)).cast("decimal(18,8)").as("term"))
      .groupBy(col("source"))
      .agg(max(col("tot")).as("n_total"), max(col("n_grams")).as("n_distinct"),
        round(sum(col("term")).cast("double"), 6).as("entropy_bits"))
      .orderBy(col("source"))
  }

  val charNgramEntropySql: String =
    """WITH tri AS (SELECT source, unnest(list_transform(
      |    generate_series(1, greatest(len(text) - 2, 1)),
      |    i -> substr(text, i, 3))) AS g FROM documents),
      |c AS (SELECT source, g, COUNT(*) AS n FROM tri GROUP BY 1, 2),
      |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot,
      |    COUNT(*) AS n_grams FROM c GROUP BY 1)
      |SELECT c.source, MAX(t.tot) AS n_total, MAX(t.n_grams) AS n_distinct,
      |  ROUND(CAST(SUM(CAST(-(CAST(n AS DOUBLE) / tot) *
      |    ln(CAST(n AS DOUBLE) / tot) / 0.6931471805599453
      |    AS DECIMAL(18,8))) AS DOUBLE), 6) AS entropy_bits
      |FROM c JOIN t USING (source) GROUP BY 1 ORDER BY 1""".stripMargin

  /** Boolean AND search for three common corpus terms. */
  def qKeywordAnd(spark: SparkSession, dir: String): DataFrame =
    TextStats.keywordAndSearch(Tables.documents(spark, dir), "doc_id", "text",
        Seq("join", "hash", "scan"))
      .orderBy(col("doc_id"))

  val keywordAndSql: String =
    """WITH tok AS (SELECT DISTINCT doc_id, t FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE t IN ('join', 'hash', 'scan'))
      |SELECT doc_id FROM tok GROUP BY 1 HAVING COUNT(*) = 3
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Training-data assembly: sequence packing, mixture resampling, repetition
  // signals, incremental ingest dedup
  // -------------------------------------------------------------------------

  /** Concat-and-chunk sequence packing: per source stream (docs in doc_id order),
    * each doc's offset in the concatenated token stream and the 512-token
    * training sequences it occupies ([[Packing.packChunks]]).
    */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      TextStats.wsTokenCount(col("text")).as("n_tokens"))
    Packing.packChunks(d, "doc_id", "source", "n_tokens", seqLen = 512)
      .orderBy(col("source"), col("doc_id"))
  }

  val seqPackSql: String =
    """WITH t AS (SELECT source, doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE length(text) - length(replace(text, ' ', '')) + 1 END
      |      AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT source, doc_id, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS tok_start
      |  FROM t),
      |s AS (SELECT source, doc_id, n_tokens, tok_start,
      |    CAST(FLOOR(tok_start / 512.0) AS BIGINT) AS seq_first,
      |    CAST(CASE WHEN n_tokens <= 0 THEN FLOOR(tok_start / 512.0)
      |         ELSE FLOOR((tok_start + n_tokens - 1) / 512.0) END AS BIGINT)
      |      AS seq_last
      |  FROM c)
      |SELECT source, doc_id, n_tokens, tok_start, seq_first, seq_last,
      |  seq_last - seq_first + 1 AS n_seqs
      |FROM s ORDER BY source, doc_id""".stripMargin

  /** Greedy document-boundary packing (no doc split, SFT-style) over the same
    * per-source streams as [[qSeqPack]] ([[Packing.packGreedy]]). The oracle
    * replays the sequential fold as a recursive CTE stepping one doc per
    * source per iteration.
    */
  def qSeqPackGreedy(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      TextStats.wsTokenCount(col("text")).as("n_tokens"))
    Packing.packGreedy(d, "doc_id", "source", "n_tokens", seqLen = 512)
      .orderBy(col("source"), col("doc_id"))
  }

  /** Recursive-CTE replay of the greedy fold, ending in
    * `rec(source, rn, doc_id, n_tokens, seq_id, acc)` — shared by the
    * per-doc and per-source-stats oracles.
    */
  private val greedyRecCtesSql: String =
    """WITH RECURSIVE t AS (SELECT source, doc_id,
      |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE length(text) - length(replace(text, ' ', '')) + 1 END
      |      AS BIGINT) AS n_tokens,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents),
      |rec AS (
      |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq_id,
      |    n_tokens AS acc
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
      |    CASE WHEN rec.acc + t.n_tokens > 512 THEN rec.seq_id + 1
      |         ELSE rec.seq_id END,
      |    CASE WHEN rec.acc + t.n_tokens > 512 THEN t.n_tokens
      |         ELSE rec.acc + t.n_tokens END
      |  FROM rec JOIN t ON t.source = rec.source AND t.rn = rec.rn + 1)""".stripMargin

  val seqPackGreedySql: String =
    s"""$greedyRecCtesSql
      |SELECT source, doc_id, n_tokens, seq_id FROM rec
      |ORDER BY source, doc_id""".stripMargin

  /** Packing efficiency monitor: per source, how many greedy sequences the
    * stream packs into and how full they are — fill rate is THE number a
    * training-data engineer watches when choosing seqLen (waste =
    * n_seqs·seqLen − total tokens, counting oversize docs' overflow as its own
    * sequence's fill). Pure aggregation over [[Packing.packGreedy]]'s output.
    */
  def qPackStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("doc_id"),
      TextStats.wsTokenCount(col("text")).as("n_tokens"))
    Packing.packGreedy(d, "doc_id", "source", "n_tokens", seqLen = 512)
      .groupBy(col("source"))
      .agg(
        (max(col("seq_id")) + 1).as("n_seqs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("n_tokens")).cast("double")
          / ((max(col("seq_id")) + 1) * 512), 6).as("fill_rate"))
      .orderBy(col("source"))
  }

  val packStatsSql: String =
    s"""$greedyRecCtesSql
      |SELECT source, MAX(seq_id) + 1 AS n_seqs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  ROUND(SUM(n_tokens) * 1.0 / ((MAX(seq_id) + 1) * 512), 6) AS fill_rate
      |FROM rec GROUP BY source ORDER BY source""".stripMargin

  /** Per-source unigram KL divergence from the corpus blend
    * ([[TextStats.groupDivergence]]) — the drift diagnostic behind mixture
    * rebalancing decisions.
    */
  def qSourceKl(spark: SparkSession, dir: String): DataFrame =
    TextStats.groupDivergence(Tables.documents(spark, dir), "source", "text")
      .orderBy(col("source"))

  val sourceKlSql: String =
    """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |gt AS (SELECT source, t, COUNT(*) AS n_gt FROM tok GROUP BY 1, 2),
      |g AS (SELECT source, CAST(SUM(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
      |ct AS (SELECT t, CAST(SUM(n_gt) AS BIGINT) AS n_t FROM gt GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_total FROM ct),
      |k AS (SELECT gt.source,
      |    CAST((n_gt * 1.0 / n_g) * ln((n_gt * 1.0 / n_g) / (n_t * 1.0 / n_total))
      |      AS DECIMAL(18,8)) AS term_kl
      |  FROM gt JOIN ct USING (t) JOIN g USING (source) CROSS JOIN tot)
      |SELECT k.source, MAX(g.n_g) AS n_tokens,
      |  ROUND(CAST(SUM(term_kl) AS DOUBLE) / 0.6931471805599453, 6) AS kl_bits
      |FROM k JOIN g ON k.source = g.source
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top-20 PMI collocations over the corpus ([[TextStats.collocations]]) —
    * the phrase-mining signal behind wordpiece-style vocabulary induction.
    */
  def qCollocations(spark: SparkSession, dir: String): DataFrame =
    TextStats.collocations(Tables.documents(spark, dir), "text",
      k = 20, minCount = 5L)

  val collocationsSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bg0 AS (SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
      |    i -> {'w1': w[i], 'w2': w[i+1]})) AS b FROM w),
      |bg AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair FROM bg0 GROUP BY 1, 2),
      |uc AS (SELECT t, COUNT(*) AS n_tok
      |  FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
      |tp AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS t_pairs FROM bg),
      |tt AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_toks FROM uc)
      |SELECT w1 || ' ' || w2 AS bigram, n_pair,
      |  ROUND(ln(n_pair * 1.0 * t_toks * t_toks / (t_pairs * 1.0 * n_a * n_b)), 6) AS pmi
      |FROM bg
      |JOIN (SELECT t AS w1, n_tok AS n_a FROM uc) a USING (w1)
      |JOIN (SELECT t AS w2, n_tok AS n_b FROM uc) b USING (w2)
      |CROSS JOIN tp CROSS JOIN tt
      |WHERE n_pair >= 5
      |ORDER BY pmi DESC, bigram LIMIT 20""".stripMargin

  /** Weighted sample of documents ∝ length ([[Splits.weightedSample]],
    * Efraimidis-Spirakis priorities from md5-derived uniforms — reproducible
    * across runs AND engines; the oracle replays the same priority draw).
    */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    Splits.weightedSample(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 100)
      .orderBy(col("doc_id"))

  val weightedSampleSql: String =
    """WITH pri AS (SELECT doc_id, n_chars,
      |    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
      |          / 4294967296.0,
      |        1.0 / n_chars) AS p
      |  FROM documents),
      |top AS (SELECT doc_id, n_chars FROM pri ORDER BY p DESC, doc_id LIMIT 100)
      |SELECT doc_id, n_chars FROM top ORDER BY doc_id""".stripMargin

  /** Distinct-n diversity per source: distinct bigrams / total bigrams — the
    * standard degeneracy metric for (synthetic) text: repetitive generation
    * drives it toward 0, diverse text toward 1. Two aggregates over the
    * bigram explode; the per-source denominator rides the same aggregate.
    */
  def qDistinctNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.WordShingles.shingles(col("text"), 2)).as("bg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_distinct"),
        round(countDistinct(col("bg")).cast("double") / count(lit(1)), 6)
          .as("distinct_2"))
      .orderBy(col("source"))

  val distinctNgramsSql: String =
    """WITH bg AS (SELECT source, unnest(list_transform(
      |    generate_series(1, greatest(len(l) - 1, 1)),
      |    i -> l[i] || ' ' || l[i+1])) AS bg
      |  FROM (SELECT source, string_split(text, ' ') AS l FROM documents))
      |SELECT source, COUNT(*) AS n_bigrams, COUNT(DISTINCT bg) AS n_distinct,
      |  ROUND(COUNT(DISTINCT bg) * 1.0 / COUNT(*), 6) AS distinct_2
      |FROM bg GROUP BY 1 ORDER BY 1""".stripMargin

  /** Target mixture in parts-per-million for [[qDomainMix]] — a deliberate
    * head/torso/tail skew over the 20 generated sources, exposed so the SQL
    * oracle embeds the SAME weights.
    */
  private[graft] val mixWeightsPpm: Seq[(String, Long)] =
    (0 until 5).map(i => s"src$i" -> 100000L) ++
      (5 until 15).map(i => s"src$i" -> 40000L) ++
      (15 until 20).map(i => s"src$i" -> 20000L)

  /** Domain-mixture resampling: deterministically downsample sources to the
    * target mixture, keeping the maximum total the scarcest source allows
    * ([[Splits.mixtureSample]]).
    */
  def qDomainMix(spark: SparkSession, dir: String): DataFrame =
    Splits.mixtureSample(
        Tables.documents(spark, dir).select(col("source"), col("doc_id")),
        "doc_id", "source", mixWeightsPpm)
      .select(col("source"), col("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  val domainMixSql: String = {
    val values = mixWeightsPpm
      .map { case (s, w) => s"('$s', $w)" }.mkString(", ")
    s"""WITH w AS (SELECT * FROM (VALUES $values) AS t(source, w_ppm)),
      |cw AS (SELECT d.source, COUNT(*) AS n_g, CAST(MAX(w.w_ppm) AS BIGINT) AS w_ppm
      |  FROM documents d JOIN w ON d.source = w.source GROUP BY 1),
      |m AS (SELECT MIN(CAST(FLOOR(n_g * 1000000 / w_ppm) AS BIGINT)) AS m FROM cw),
      |kept AS (SELECT source, CAST(FLOOR(w_ppm * m / 1000000) AS BIGINT) AS n_keep
      |  FROM cw CROSS JOIN m),
      |r AS (SELECT d.source, d.doc_id, k.n_keep,
      |    ROW_NUMBER() OVER (PARTITION BY d.source
      |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
      |  FROM documents d JOIN kept k ON d.source = k.source)
      |SELECT source, doc_id FROM r WHERE rk <= n_keep
      |ORDER BY source, doc_id""".stripMargin
  }

  /** Char-weighted Gopher repetition signals over word trigrams
    * ([[TextQuality.repetitionSignals]]).
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    TextQuality.repetitionSignals(Tables.documents(spark, dir), "doc_id", "text",
        k = 3)
      .orderBy(col("doc_id"))

  val repetitionSql: String =
    """WITH tg AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(l) - 2, 1)),
      |    i -> array_to_string(l[i:i+2], ' '))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY 1, 2),
      |a AS (SELECT doc_id,
      |    CAST(SUM(c * length(g)) AS BIGINT) AS w_total,
      |    CAST(SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS BIGINT)
      |      AS w_dup
      |  FROM tc GROUP BY 1),
      |t AS (SELECT doc_id, c * length(g) AS w_top,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
      |  FROM tc)
      |SELECT a.doc_id, w_total, w_dup,
      |  ROUND(w_dup * 1.0 / w_total, 6) AS dup_ngram_char_frac,
      |  ROUND(t.w_top * 1.0 / w_total, 6) AS top_ngram_char_frac
      |FROM a JOIN t ON a.doc_id = t.doc_id AND t.rn = 1
      |ORDER BY a.doc_id""".stripMargin

  /** Temperature-scaled (α=0.7) training-mixture weights per document source. */
  def qMixWeights(spark: SparkSession, dir: String): DataFrame =
    Mixing.temperatureWeights(Tables.documents(spark, dir), "source", "n_chars")
      .orderBy(col("source"))

  val mixWeightsSql: String =
    """WITH s AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS n_units FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_units) AS BIGINT) AS t_units FROM s),
      |ws AS (SELECT s.*, t.t_units,
      |    CAST(n_units AS DOUBLE) / t_units AS share,
      |    POWER(CAST(n_units AS DOUBLE) / t_units, 0.7) AS pa
      |  FROM s CROSS JOIN t),
      |z AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(27,12))) AS DOUBLE) AS z FROM ws)
      |SELECT source, n_docs, n_units, ROUND(share, 6) AS share,
      |  ROUND(pa / z.z, 6) AS weight,
      |  ROUND(pa / z.z * t_units / n_units, 6) AS epochs
      |FROM ws CROSS JOIN z ORDER BY source""".stripMargin

  /** Feature-hashed linear quality score (fastText shape) per document. */
  def qQualityLr(spark: SparkSession, dir: String): DataFrame =
    TextQuality.hashedLinearScore(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val qualityLrSql: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |f AS (SELECT doc_id, unnest(toks) AS feat FROM t
      |      UNION ALL
      |      SELECT doc_id, unnest(list_transform(
      |          generate_series(1, len(toks) - 1),
      |          i -> toks[i] || '_' || toks[i + 1])) AS feat
      |        FROM t WHERE len(toks) >= 2),
      |w AS (SELECT doc_id,
      |    CAST((('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096) % 997
      |      AS DOUBLE) / 996.0 - 0.5 AS w
      |  FROM f),
      |a AS (SELECT doc_id, COUNT(*) AS n_feats,
      |    CAST(SUM(CAST(w AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS raw
      |  FROM w GROUP BY 1)
      |SELECT doc_id, n_feats, ROUND(raw, 6) AS raw,
      |  ROUND(1.0 / (1.0 + EXP(-raw)), 6) AS score
      |FROM a ORDER BY doc_id""".stripMargin

  /** Calibration curve of the hashed linear scorer against the Gopher keep
    * label: fixed score bins (no global NTILE — a pure scan + aggregate at
    * any scale), per-bin empirical keep rate.
    */
  def qScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val s = TextQuality.hashedLinearScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("score"))
    val g = TextQuality.gopherSignals(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    s.join(g, "doc_id")
      .select(least(lit(19), floor(col("score") * 20)).cast("int").as("bin"),
        col("score"), col("keep"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("score").cast("decimal(27,12)")).cast("double") /
          count(lit(1)), 6).as("mean_score"),
        round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("keep_rate"))
      .withColumn("lo", round(col("bin") / lit(20.0), 6))
      .select(col("bin"), col("lo"), col("n_docs"), col("mean_score"),
        col("keep_rate"))
      .orderBy(col("bin"))
  }

  val scoreCalibrationSql: String =
    s"""WITH $calibScoreKeepCtes,
      |j AS (SELECT CAST(LEAST(19, FLOOR(sc.score * 20)) AS INT) AS bin,
      |    sc.score, g.keep FROM sc JOIN g USING (doc_id))
      |SELECT bin, ROUND(bin / 20.0, 6) AS lo, COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(score AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_score,
      |  ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS keep_rate
      |FROM j GROUP BY 1 ORDER BY bin""".stripMargin

  // --------------------------------------------------------------------------
  // RAG chunking
  // --------------------------------------------------------------------------

  /** 50-token windows every 40 tokens (10-token overlap) over the corpus. */
  def qChunking(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Chunking.chunk(Tables.documents(spark, dir), "doc_id", "text",
        size = 50, stride = 40)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val chunkingSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |st AS (SELECT doc_id, l,
      |    unnest(generate_series(1, GREATEST(len(l) - 10, 1), 40)) AS st
      |  FROM s)
      |SELECT doc_id,
      |  CAST((st - 1) // 40 + 1 AS BIGINT) AS chunk_idx,
      |  CAST(st AS BIGINT) AS start_token,
      |  CAST(LEAST(50, len(l) - st + 1) AS BIGINT) AS n_tokens,
      |  substr(md5(array_to_string(
      |    list_slice(l, st, st + LEAST(50, len(l) - st + 1) - 1), ' ')),
      |    1, 16) AS chunk_sig
      |FROM st ORDER BY doc_id, chunk_idx""".stripMargin

  // --------------------------------------------------------------------------
  // Skip-gram PMI
  // --------------------------------------------------------------------------

  /** Top-20 window-5 skip-gram pairs by PMI (support ≥ 5). */
  def qSkipgramPmi(spark: SparkSession, dir: String): DataFrame =
    TextStats.skipgramPmi(Tables.documents(spark, dir), "text",
      window = 5, k = 20, minCount = 5L)

  val skipgramPmiSql: String =
    """WITH s AS (SELECT string_split(text, ' ') AS w FROM documents),
      |pr AS (SELECT unnest(flatten(list_transform(
      |    generate_series(1, len(w)), i ->
      |      list_transform(generate_series(i + 1, LEAST(i + 5, len(w))), j ->
      |        {'w1': LEAST(w[i], w[j]), 'w2': GREATEST(w[i], w[j])})))) AS b
      |  FROM s),
      |p AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair
      |  FROM pr GROUP BY 1, 2),
      |u AS (SELECT unnest(w) AS t FROM s),
      |ug AS (SELECT t, COUNT(*) AS n_tok FROM u GROUP BY 1),
      |tot AS (SELECT CAST((SELECT SUM(n_pair) FROM p) AS BIGINT) AS t_pairs,
      |    CAST((SELECT SUM(n_tok) FROM ug) AS BIGINT) AS t_toks)
      |SELECT w1 || ' ' || w2 AS pair, n_pair,
      |  ROUND(ln(CAST(n_pair AS DOUBLE) * t_toks * t_toks /
      |    (CAST(t_pairs AS DOUBLE) * ua.n_tok * ub.n_tok)), 6) AS pmi
      |FROM p JOIN ug ua ON p.w1 = ua.t
      |  JOIN ug ub ON p.w2 = ub.t
      |  CROSS JOIN tot
      |WHERE n_pair >= 5
      |ORDER BY pmi DESC, pair LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // Readability
  // --------------------------------------------------------------------------

  def qReadability(spark: SparkSession, dir: String): DataFrame =
    TextStats.readabilityDF(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val readabilitySql: String =
    """WITH c AS (SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
      |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  CASE WHEN n_words = 0 THEN NULL
      |    ELSE ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
      |      + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6)
      |  END AS fk_grade
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // Interpolated bigram LM scoring
  // --------------------------------------------------------------------------

  def qBigramNll(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextQuality.bigramNll(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val bigramNllSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |bg AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i]))
      |      AS w1,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i+1]))
      |      AS w2
      |  FROM s),
      |dbf AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS cnt2
      |  FROM dbf GROUP BY 1, 2),
      |tok AS (SELECT unnest(l) AS t FROM s),
      |c1 AS (SELECT t, COUNT(*) AS cnt1 FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS total FROM c1)
      |SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams,
      |  ROUND(-CAST(SUM(CAST(bf * ln(0.7 * (CAST(cnt2 AS DOUBLE) / u1.cnt1)
      |      + 0.3 * (CAST(u2.cnt1 AS DOUBLE) / total)) AS DECIMAL(18,8)))
      |      AS DOUBLE) / CAST(SUM(bf) AS BIGINT), 6) AS avg_nll2
      |FROM dbf JOIN c2 USING (w1, w2)
      |  JOIN c1 u1 ON dbf.w1 = u1.t
      |  JOIN c1 u2 ON dbf.w2 = u2.t
      |  CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Data selection: DSIR importance weights, token-budget pick, interleave
  // --------------------------------------------------------------------------

  /** DSIR importance log-weights toward the English slice of the corpus
    * ([[graft.ext.Importance.dsirLogWeights]], 256 hash buckets).
    */
  def qDsirWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Importance.dsirLogWeights(Tables.documents(spark, dir),
        "doc_id", "text", isTarget = col("lang") === "en", numBuckets = 256)
      .orderBy(col("doc_id"))

  val dsirWeightsSql: String =
    """WITH toks AS (SELECT doc_id, lang = 'en' AS t,
      |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |dist AS (SELECT b, COUNT(*) AS n_raw,
      |    CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
      |  FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS nr,
      |    CAST(SUM(n_tgt) AS BIGINT) AS nt FROM dist),
      |lr AS (SELECT b,
      |    CAST(ln((n_tgt + 1) * 1.0 / (nt + 256))
      |      - ln((n_raw + 1) * 1.0 / (nr + 256)) AS DECIMAL(12,6)) AS lr
      |  FROM dist CROSS JOIN tot),
      |dc AS (SELECT doc_id, b, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      |SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(c * lr) AS DOUBLE), 6) AS log_weight
      |FROM dc JOIN lr ON dc.b = lr.b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Greedy token-budget selection ([[graft.ext.Importance.tokenBudgetSelect]]):
    * keep the highest-lexical-density documents until 20k tokens are spent.
    */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val nTokens =
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .cast("long")
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), nTokens.as("n_toks"),
        round(nTokens.cast("double") / col("n_chars"), 6).as("density"))
    graft.ext.Importance.tokenBudgetSelect(scored, "doc_id", "density",
        "n_toks", budget = 20000L)
      .orderBy(col("sel_rank"))
  }

  val tokenBudgetSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
      |      AS n_tokens,
      |    ROUND((length(text) - length(replace(text, ' ', '')) + 1) * 1.0
      |      / n_chars, 6) AS score
      |  FROM documents),
      |r AS (SELECT doc_id, score, n_tokens,
      |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS sel_rank,
      |    CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, score, n_tokens, sel_rank, cum_tokens
      |FROM r WHERE cum_tokens <= 20000 ORDER BY sel_rank""".stripMargin

  /** Proportional source interleave ([[graft.ext.Importance.interleaveBySource]]):
    * the deterministic global training order with same-source runs bounded by
    * corpus share.
    */
  def qInterleaveOrder(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Importance.interleaveBySource(Tables.documents(spark, dir),
        "doc_id", "source")
      .orderBy(col("position"))

  val interleaveOrderSql: String =
    """WITH k AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS m
      |  FROM documents),
      |r AS (SELECT doc_id, source, m,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY m, doc_id) AS rr,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM k)
      |SELECT ROW_NUMBER() OVER (ORDER BY ROUND((rr - 0.5) / n, 6), m, doc_id)
      |    AS position,
      |  doc_id, source, ROUND((rr - 0.5) / n, 6) AS interleave_key
      |FROM r ORDER BY position""".stripMargin

  // --------------------------------------------------------------------------
  // Perplexity-filter retention curve
  // --------------------------------------------------------------------------

  /** Decile retention table for a unigram-NLL quality cut
    * ([[TextQuality.nllRetentionCurve]]).
    */
  def qNllFilterCurve(spark: SparkSession, dir: String): DataFrame =
    TextQuality.nllRetentionCurve(Tables.documents(spark, dir), "doc_id", "text",
        buckets = 10)
      .orderBy(col("tier"))

  val nllFilterCurveSql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |    FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |corpus AS (SELECT t, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM corpus),
      |nll AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    ROUND(-CAST(SUM(CAST(tf * ln(cnt * 1.0 / total) AS DECIMAL(18,8)))
      |        AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS avg_nll
      |  FROM tf JOIN corpus USING (t) CROSS JOIN tot GROUP BY 1),
      |r AS (SELECT doc_id, n_tokens, avg_nll,
      |    ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS rn FROM nll),
      |nn AS (SELECT COUNT(*) AS n FROM r),
      |d AS (SELECT ((rn - 1) * 10 // n) + 1 AS tier, n_tokens, avg_nll
      |  FROM r CROSS JOIN nn),
      |g AS (SELECT tier, COUNT(*) AS n_docs, MAX(avg_nll) AS cutoff_nll,
      |    CAST(SUM(n_tokens) AS BIGINT) AS toks FROM d GROUP BY 1),
      |t2 AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM g)
      |SELECT tier, n_docs, ROUND(cutoff_nll, 6) AS cutoff_nll,
      |  CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
      |  CAST(SUM(toks) OVER w AS BIGINT) AS cum_tokens,
      |  ROUND(CAST(SUM(toks) OVER w AS DOUBLE) / tt, 6) AS token_share
      |FROM g CROSS JOIN t2
      |WINDOW w AS (ORDER BY tier ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY tier""".stripMargin

  // --------------------------------------------------------------------------
  // Tokenizer fertility by language (rows-only: BPE training is a recurrence)
  // --------------------------------------------------------------------------

  /** Per-language fertility/compression of the corpus-trained 16-merge BPE
    * tokenizer ([[graft.ext.BpeTrain.fertilityByGroup]]); semantics locked by
    * BpeTrainSpec's golden fixture.
    */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.ext.BpeTrain.train(docs, "text", nMerges = 16, minFreq = 2)
    graft.ext.BpeTrain.fertilityByGroup(docs, "doc_id", "text", "lang", merges)
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"))
  }

  // --------------------------------------------------------------------------
  // Padding-waste audit (length-bucketed batching)
  // --------------------------------------------------------------------------

  /** Pad-to-power-of-two waste table over the documents corpus
    * ([[graft.ext.Packing.padWasteByBucket]]).
    */
  def qPadWaste(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Packing.padWasteByBucket(Tables.documents(spark, dir), "text")
      .orderBy(col("bucket_len"))

  val padWasteSql: String =
    """WITH n AS (SELECT len(string_split(text, ' ')) AS nt FROM documents),
      |b AS (SELECT CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
      |    WHEN nt <= 64 THEN 64 WHEN nt <= 128 THEN 128 WHEN nt <= 256 THEN 256
      |    WHEN nt <= 512 THEN 512 WHEN nt <= 1024 THEN 1024 ELSE -1 END
      |      AS bucket_len, nt FROM n),
      |g AS (SELECT CAST(bucket_len AS BIGINT) AS bucket_len, COUNT(*) AS n_docs,
      |    CAST(SUM(nt) AS BIGINT) AS sum_tokens FROM b GROUP BY 1),
      |p AS (SELECT bucket_len, n_docs, sum_tokens,
      |    CASE WHEN bucket_len > 0 THEN bucket_len * n_docs ELSE sum_tokens END
      |      AS padded_tokens FROM g)
      |SELECT bucket_len, n_docs, sum_tokens, padded_tokens,
      |  padded_tokens - sum_tokens AS waste_tokens,
      |  ROUND(CAST(padded_tokens - sum_tokens AS DOUBLE) / padded_tokens, 6)
      |    AS waste_share
      |FROM p ORDER BY bucket_len""".stripMargin

  // --------------------------------------------------------------------------
  // Vocabulary diversity by source
  // --------------------------------------------------------------------------

  /** Per-source diversity panel ([[graft.ext.TextStats.vocabDiversity]]). */
  def qVocabDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.vocabDiversity(Tables.documents(spark, dir),
        "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy(col("source"))

  val vocabDiversitySql: String =
    """WITH tf AS (SELECT grp, t, COUNT(*) AS c FROM (
      |    SELECT source AS grp, unnest(string_split(text, ' ')) AS t
      |    FROM documents) GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
      |    SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(18,8)))
      |      AS sclc,
      |    CAST(SUM(c * (c - 1)) AS BIGINT) AS srep
      |  FROM tf GROUP BY 1)
      |SELECT grp AS source, n_tokens, n_types,
      |  ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
      |  ROUND((ln(CAST(n_tokens AS DOUBLE)) - CAST(sclc AS DOUBLE) / n_tokens)
      |    / 0.6931471805599453, 6) AS entropy_bits,
      |  ROUND(CAST(srep AS DOUBLE) /
      |    (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6) AS simpson
      |FROM g ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Chunk-level boilerplate detection
  // --------------------------------------------------------------------------

  /** Per-document boilerplate share from within-source chunk doc-frequency
    * ([[Boilerplate.chunkBoilerplate]], CCNet line-dedup shape at 2-token
    * chunk granularity, 20% doc-frequency threshold).
    */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame =
    Boilerplate.chunkBoilerplate(Tables.documents(spark, dir), "source",
        "doc_id", "text", chunkTokens = 2, minDocFrac = 0.2)
      .withColumnRenamed("grp", "source")
      .orderBy(col("doc_id"))

  val boilerplateSql: String =
    """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents),
      |ck AS (SELECT doc_id, source,
      |    unnest(generate_series(0, CAST(ceil(len(t) / 2.0) AS INT) - 1)) AS i,
      |    t
      |  FROM d),
      |c2 AS (SELECT doc_id, source,
      |    array_to_string(list_slice(t, i * 2 + 1, i * 2 + 2), ' ') AS chunk,
      |    len(list_slice(t, i * 2 + 1, i * 2 + 2)) AS clen
      |  FROM ck),
      |gd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
      |df AS (SELECT source, chunk, COUNT(DISTINCT doc_id) AS df_docs
      |  FROM c2 GROUP BY 1, 2),
      |bl AS (SELECT df.source, df.chunk,
      |    df.df_docs * 1000 >= 200 * gd.n_docs AS is_boiler
      |  FROM df JOIN gd USING (source))
      |SELECT c2.doc_id, c2.source, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_boiler_chunks,
      |  CAST(SUM(clen) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(CASE WHEN is_boiler THEN clen ELSE 0 END) AS BIGINT)
      |    * 1.0 / CAST(SUM(clen) AS BIGINT), 6) AS boiler_token_frac
      |FROM c2 JOIN bl ON c2.source = bl.source AND c2.chunk = bl.chunk
      |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // Memorization-depth audit
  // --------------------------------------------------------------------------

  /** Deepest shared word n-gram order (3/5/8) between each held-out document
    * (doc_id % 10 < 2) and the training split
    * ([[Boilerplate.memorizationDepth]]).
    */
  def qMemorization(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Boilerplate.memorizationDepth(
        docs.filter(col("doc_id") % 10 >= 2),
        docs.filter(col("doc_id") % 10 < 2),
        "doc_id", "text", ns = Seq(3, 5, 8))
      .orderBy(col("doc_id"))
  }

  /** Per-order shingle CTE matching [[graft.functions.WordShingles]]: docs
    * shorter than n yield one partial shingle.
    */
  private def shingleCte(name: String, n: Int): String =
    s"""$name AS (SELECT DISTINCT doc_id, sh FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len(l) - ${n - 1}, 1)),
       |    i -> array_to_string(list_slice(l, i, least(i + ${n - 1}, len(l))),
       |      ' '))) AS sh
       |  FROM tk))""".stripMargin

  val memorizationSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |${shingleCte("s3", 3)},
      |${shingleCte("s5", 5)},
      |${shingleCte("s8", 8)},
      |tr3 AS (SELECT DISTINCT sh FROM s3 WHERE doc_id % 10 >= 2),
      |tr5 AS (SELECT DISTINCT sh FROM s5 WHERE doc_id % 10 >= 2),
      |tr8 AS (SELECT DISTINCT sh FROM s8 WHERE doc_id % 10 >= 2),
      |h3 AS (SELECT DISTINCT s3.doc_id FROM s3 JOIN tr3 USING (sh)
      |  WHERE s3.doc_id % 10 < 2),
      |h5 AS (SELECT DISTINCT s5.doc_id FROM s5 JOIN tr5 USING (sh)
      |  WHERE s5.doc_id % 10 < 2),
      |h8 AS (SELECT DISTINCT s8.doc_id FROM s8 JOIN tr8 USING (sh)
      |  WHERE s8.doc_id % 10 < 2),
      |hd AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 2)
      |SELECT hd.doc_id,
      |  h3.doc_id IS NOT NULL AS shared_3,
      |  h5.doc_id IS NOT NULL AS shared_5,
      |  h8.doc_id IS NOT NULL AS shared_8,
      |  CASE WHEN h8.doc_id IS NOT NULL THEN 8
      |       WHEN h5.doc_id IS NOT NULL THEN 5
      |       WHEN h3.doc_id IS NOT NULL THEN 3 ELSE 0 END AS max_shared_n
      |FROM hd
      |LEFT JOIN h3 ON hd.doc_id = h3.doc_id
      |LEFT JOIN h5 ON hd.doc_id = h5.doc_id
      |LEFT JOIN h8 ON hd.doc_id = h8.doc_id
      |ORDER BY hd.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // Characteristic terms per language (Monroe log-odds)
  // --------------------------------------------------------------------------

  /** Top-5 tokens distinguishing each language slice from the rest of the
    * corpus ([[graft.ext.TextStats.logOddsTerms]], prior mass 1000, min
    * global count 5).
    */
  def qLogOdds(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.logOddsTerms(Tables.documents(spark, dir), "lang",
        "text", priorScale = 1000.0, minGlobalCount = 5, topK = 5)
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"), col("term_rank"))

  val logOddsSql: String =
    """WITH tok AS (SELECT lang AS grp, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |gt AS (SELECT grp, t, COUNT(*) AS y_iw FROM tok GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(SUM(y_iw) AS BIGINT) AS n_i FROM gt GROUP BY 1),
      |ct AS (SELECT t, CAST(SUM(y_iw) AS BIGINT) AS y_w FROM gt GROUP BY 1
      |  HAVING CAST(SUM(y_iw) AS BIGINT) >= 5),
      |tot AS (SELECT CAST(SUM(y_w) AS BIGINT) AS n_tot FROM ct),
      |j AS (SELECT gt.grp, gt.t, gt.y_iw, ct.y_w, g.n_i, tot.n_tot,
      |    1000.0 * CAST(ct.y_w AS DOUBLE) / tot.n_tot AS a_w,
      |    CAST(ct.y_w - gt.y_iw AS DOUBLE) AS y_rw,
      |    CAST(tot.n_tot - g.n_i AS DOUBLE) AS n_r
      |  FROM gt JOIN ct ON gt.t = ct.t JOIN g ON gt.grp = g.grp
      |  CROSS JOIN tot),
      |z AS (SELECT grp, t, y_iw, y_w,
      |    ROUND((ln((y_iw + a_w) / (n_i + 1000.0 - y_iw - a_w)) -
      |           ln((y_rw + a_w) / (n_r + 1000.0 - y_rw - a_w))) /
      |          sqrt(1.0 / (y_iw + a_w) + 1.0 / (y_rw + a_w)), 6) AS z_score
      |  FROM j),
      |r AS (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY grp ORDER BY z_score DESC, t) AS term_rank FROM z)
      |SELECT grp AS lang, t AS token, y_iw AS n_grp, y_w AS n_global,
      |  z_score, term_rank
      |FROM r WHERE term_rank <= 5 ORDER BY lang, term_rank""".stripMargin

  // --------------------------------------------------------------------------
  // Quantile normalization across sources
  // --------------------------------------------------------------------------

  /** Document lengths mapped onto the pooled length distribution per source
    * ([[graft.ext.Mixing.quantileNormalize]] — exact integer index
    * arithmetic, distributed pooled ranking).
    */
  def qQuantileNorm(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Mixing.quantileNormalize(Tables.documents(spark, dir),
        "source", "n_chars", "doc_id")
      .withColumnRenamed("grp", "source")
      .orderBy(col("doc_id"))

  val quantileNormSql: String =
    """WITH g AS (SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
      |      AS rg,
      |    COUNT(*) OVER (PARTITION BY source) AS ng
      |  FROM documents),
      |p AS (SELECT n_chars AS pv,
      |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rp FROM documents),
      |np AS (SELECT COUNT(*) AS n_p FROM documents),
      |ix AS (SELECT g.doc_id, g.source, g.n_chars,
      |    CASE WHEN g.ng = 1 THEN (np.n_p - 1) // 2 + 1
      |         ELSE ((g.rg - 1) * (np.n_p - 1)) // (g.ng - 1) + 1 END AS q_idx
      |  FROM g CROSS JOIN np)
      |SELECT ix.doc_id, ix.source, ix.n_chars AS raw, p.pv AS norm_value
      |FROM ix JOIN p ON ix.q_idx = p.rp ORDER BY ix.doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // Leave-one-source-out influence
  // --------------------------------------------------------------------------

  /** Per-source LOO influence on the corpus mean document length
    * ([[graft.ext.Importance.looSourceImpact]]).
    */
  def qLooImpact(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Importance.looSourceImpact(Tables.documents(spark, dir),
        "source", "n_chars")
      .withColumnRenamed("src", "source")
      .orderBy(col("source"))

  val looImpactSql: String =
    """WITH g AS (SELECT source AS src, COUNT(*) AS n_docs,
      |    CAST(SUM(n_chars) AS BIGINT) AS s_src
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
      |    CAST(SUM(s_src) AS BIGINT) AS s_tot FROM g)
      |SELECT src AS source, n_docs,
      |  ROUND(CAST(s_src AS DOUBLE) / n_docs, 6) AS mean_src,
      |  ROUND(CASE WHEN n_tot > n_docs THEN
      |      CAST(s_tot - s_src AS DOUBLE) / (n_tot - n_docs) END, 6)
      |    AS mean_rest,
      |  ROUND(CASE WHEN n_tot > n_docs THEN
      |      CAST(s_tot - s_src AS DOUBLE) / (n_tot - n_docs) END -
      |    CAST(s_tot AS DOUBLE) / n_tot, 6) AS delta
      |FROM g CROSS JOIN t ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // UniMax budget allocation + data-constrained effective data
  // --------------------------------------------------------------------------

  private val UnimaxEpochCap = 2

  /** The token budget is 2× the corpus's total chars — sized so the epoch-2
    * cap binds on the small sources while the large ones sit on the common
    * waterline (a genuinely mixed capped/uncapped solution at every sf). One
    * scalar collect (the corpus total) — O(1) driver traffic.
    */
  private def unimaxBudget(spark: SparkSession, dir: String): Long =
    2L * Tables.documents(spark, dir)
      .agg(sum(col("n_chars")).cast("long")).head.getLong(0)

  /** UniMax waterfill of a 2×-corpus token budget across sources at epoch cap
    * 2 ([[Mixing.unimaxAllocation]]) — the epoch-capped alternative to
    * q_mix_weights' temperature sampling.
    */
  def qUnimaxAlloc(spark: SparkSession, dir: String): DataFrame =
    Mixing.unimaxAllocation(Tables.documents(spark, dir), "source", "n_chars",
        budget = unimaxBudget(spark, dir), epochCap = UnimaxEpochCap)
      .orderBy(col("source"))

  /** CTE chain ending in `f(source, n_tokens, cap, is_capped, n, r_star,
    * capped_sum, b)` — the waterfill solved in SQL, shared by the allocation
    * and effective-data oracles.
    */
  private val unimaxCtesSql: String =
    s"""s AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT 2 * CAST(SUM(n_tokens) AS BIGINT) AS b FROM s),
      |c AS (SELECT source, n_tokens,
      |    n_tokens * $UnimaxEpochCap AS cap FROM s),
      |r AS (SELECT source, n_tokens, cap,
      |    ROW_NUMBER() OVER (ORDER BY cap, source) AS r,
      |    CAST(SUM(cap) OVER (ORDER BY cap, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS prefix,
      |    COUNT(*) OVER () AS n FROM c),
      |g AS (SELECT r.*, b,
      |    cap * (n - r + 1) <= b - (prefix - cap) AS is_capped
      |  FROM r CROSS JOIN tot),
      |rs AS (SELECT COALESCE(MAX(CASE WHEN is_capped THEN r END), 0) AS r_star,
      |    COALESCE(MAX(CASE WHEN is_capped THEN prefix END), CAST(0 AS BIGINT))
      |      AS capped_sum FROM g),
      |f AS (SELECT g.*, r_star, capped_sum,
      |    CASE WHEN is_capped THEN CAST(cap AS DOUBLE)
      |         ELSE CAST(b - capped_sum AS DOUBLE) / (n - r_star) END AS alloc
      |  FROM g CROSS JOIN rs)""".stripMargin

  val unimaxAllocSql: String =
    s"""WITH $unimaxCtesSql
      |SELECT source, n_tokens, cap, is_capped,
      |  ROUND(alloc, 6) AS allocated,
      |  ROUND(alloc / n_tokens, 6) AS epochs
      |FROM f ORDER BY source""".stripMargin

  private val RStar = 15.4

  /** Effective data of the UniMax allocation under the data-constrained
    * scaling law ([[Mixing.effectiveData]], Muennighoff et al. 2023): how much
    * of each source's allocated budget buys new learning once repeats decay.
    */
  def qDataConstrained(spark: SparkSession, dir: String): DataFrame =
    Mixing.effectiveData(
        Mixing.unimaxAllocation(Tables.documents(spark, dir), "source",
          "n_chars", budget = unimaxBudget(spark, dir),
          epochCap = UnimaxEpochCap),
        "source", "n_tokens", "allocated", rStar = RStar)
      .orderBy(col("source"))

  val dataConstrainedSql: String =
    s"""WITH $unimaxCtesSql,
      |al AS (SELECT source, n_tokens, ROUND(alloc, 6) AS allocated FROM f),
      |e AS (SELECT source, n_tokens, allocated,
      |    GREATEST(allocated / n_tokens - 1.0, 0.0) AS rp,
      |    CASE WHEN allocated <= n_tokens THEN allocated
      |         ELSE n_tokens + n_tokens * $RStar *
      |           (1.0 - exp(-GREATEST(allocated / n_tokens - 1.0, 0.0)
      |             / $RStar)) END AS eff
      |  FROM al)
      |SELECT source, n_tokens, allocated,
      |  ROUND(rp, 6) AS repeats, ROUND(eff, 6) AS effective,
      |  ROUND(eff / allocated, 6) AS efficiency
      |FROM e ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Neyman stratified-sample allocation
  // --------------------------------------------------------------------------

  /** Neyman allocation of a 1000-sample audit budget across document sources
    * by n_chars variance ([[Mixing.neymanAllocation]]) — the evaluation-side
    * partner of q_unimax_alloc's training-token waterfill.
    */
  def qNeymanAlloc(spark: SparkSession, dir: String): DataFrame =
    Mixing.neymanAllocation(Tables.documents(spark, dir), "source",
        "n_chars", budget = 1000L)
      .orderBy(col("source"))

  val neymanAllocSql: String =
    """WITH m AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s,
      |    CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT))
      |      AS BIGINT) AS s2
      |  FROM documents GROUP BY 1),
      |sd AS (SELECT source, n_docs,
      |    sqrt(GREATEST(CAST(s2 AS DOUBLE) / n_docs -
      |      (CAST(s AS DOUBLE) / n_docs) * (CAST(s AS DOUBLE) / n_docs),
      |      0.0)) AS sdv
      |  FROM m),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
      |    CAST(SUM(CAST(n_docs * sdv AS DECIMAL(28,12))) AS DOUBLE) AS tns
      |  FROM sd)
      |SELECT source, n_docs, ROUND(sdv, 6) AS sd,
      |  ROUND(1000.0 * n_docs / tn, 6) AS prop_n,
      |  ROUND(1000.0 * (n_docs * sdv) / tns, 6) AS neyman_n
      |FROM sd CROSS JOIN t ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Shuffle-quality audit of the corpus order
  // --------------------------------------------------------------------------

  /** χ² source-mix drift of 25-doc chunks under doc_id order
    * ([[Mixing.shuffleQuality]]) — "is this data order shuffled enough to
    * batch from?"; mean χ² near df = clean, a clumped order blows max_chi2
    * up.
    */
  def qShuffleQuality(spark: SparkSession, dir: String): DataFrame =
    Mixing.shuffleQuality(Tables.documents(spark, dir), "doc_id", "source",
      chunkSize = 25)

  val shuffleQualitySql: String =
    """WITH b AS (SELECT doc_id // 25 AS chunk, source AS src
      |  FROM documents),
      |c AS (SELECT chunk, src, COUNT(*) AS o FROM b GROUP BY 1, 2),
      |ct AS (SELECT chunk, CAST(SUM(o) AS BIGINT) AS n_c FROM c GROUP BY 1),
      |st AS (SELECT src, CAST(SUM(o) AS BIGINT) AS n_s FROM c GROUP BY 1),
      |g AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot,
      |    COUNT(*) AS n_sources FROM st),
      |grid AS (SELECT ct.chunk, st.src, ct.n_c, st.n_s,
      |    COALESCE(c.o, 0) AS o, g.n_tot, g.n_sources
      |  FROM ct CROSS JOIN st
      |  LEFT JOIN c ON c.chunk = ct.chunk AND c.src = st.src
      |  CROSS JOIN g),
      |chi AS (SELECT chunk, n_sources,
      |    CAST(SUM(CAST(
      |      (o - CAST(n_c AS DOUBLE) * n_s / n_tot) *
      |      (o - CAST(n_c AS DOUBLE) * n_s / n_tot) /
      |      (CAST(n_c AS DOUBLE) * n_s / n_tot) AS DECIMAL(18,8)))
      |      AS DOUBLE) AS chi2
      |  FROM grid GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_chunks, n_sources, n_sources - 1 AS df,
      |  ROUND(CAST(SUM(CAST(chi2 AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_chi2,
      |  ROUND(MAX(chi2), 6) AS max_chi2
      |FROM chi GROUP BY n_sources""".stripMargin

  // --------------------------------------------------------------------------
  // Chao1 vocabulary richness + Good–Turing unseen mass
  // --------------------------------------------------------------------------

  /** How much of the PHRASE space has the corpus not shown yet? Chao1
    * richness in its bias-corrected form `V + n₁(n₁−1)/(2(n₂+1))` (defined
    * even with no doubletons) over word 3-shingle types, plus the
    * Good–Turing unseen-probability mass `n₁/N` — the saturation gauge next
    * to q_heaps_law's growth exponent. Unigrams are useless here (the
    * synthetic vocabulary is closed — zero singletons); 3-shingles have the
    * heavy rare tail richness estimation exists for.
    */
  def qChao1(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(graft.functions.WordShingles.shingles(col("text"), 3))
        .as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    counts.agg(count(lit(1)).as("vocab_seen"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_doubletons"))
      .select(col("vocab_seen"), col("n_tokens"), col("n_singletons"),
        col("n_doubletons"),
        round(col("vocab_seen") +
          (col("n_singletons") * (col("n_singletons") - 1)).cast("double") /
          ((col("n_doubletons") + 1) * 2), 6).as("chao1"),
        round(col("n_singletons").cast("double") / col("n_tokens"), 6)
          .as("unseen_mass"))
  }

  val chao1Sql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
      |c AS (SELECT tok, COUNT(*) AS c FROM
      |    (SELECT unnest(list_transform(
      |      generate_series(1, greatest(len(l) - 2, 1)),
      |      i -> array_to_string(list_slice(l, i, least(i + 2, len(l))), ' ')))
      |      AS tok FROM t)
      |  GROUP BY 1)
      |SELECT COUNT(*) AS vocab_seen,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_singletons,
      |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_doubletons,
      |  ROUND(COUNT(*) +
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) *
      |         (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE) /
      |    ((SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1) * 2), 6) AS chao1,
      |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(c) AS BIGINT), 6) AS unseen_mass
      |FROM c""".stripMargin

  // --------------------------------------------------------------------------
  // Vocabulary coverage / OOV curve
  // --------------------------------------------------------------------------

  /** Occurrence-coverage of the top-V token vocabulary for
    * V ∈ {100, 500, 1000, 2000, 5000} ([[TextStats.vocabCoverage]]). */
  def qOovRate(spark: SparkSession, dir: String): DataFrame =
    TextStats.vocabCoverage(Tables.documents(spark, dir), "text",
      Seq(100, 500, 1000, 2000, 5000))

  val oovRateSql: String =
    """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |tc AS (SELECT tok, COUNT(*) AS cnt FROM toks
      |  WHERE len(tok) > 0 GROUP BY 1),
      |r AS (SELECT cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn FROM tc),
      |v AS (SELECT unnest([100, 500, 1000, 2000, 5000]) AS vocab_size),
      |agg AS (SELECT vocab_size,
      |    SUM(CASE WHEN rn <= vocab_size THEN cnt ELSE 0 END)
      |      AS covered_occurrences,
      |    SUM(cnt) AS total_occurrences
      |  FROM v CROSS JOIN r GROUP BY 1)
      |SELECT vocab_size, CAST(covered_occurrences AS BIGINT) AS covered_occurrences,
      |  CAST(total_occurrences AS BIGINT) AS total_occurrences,
      |  ROUND(CAST(covered_occurrences AS DOUBLE) / total_occurrences, 6)
      |    AS coverage,
      |  ROUND(1.0 - CAST(covered_occurrences AS DOUBLE) / total_occurrences, 6)
      |    AS oov_rate
      |FROM agg ORDER BY vocab_size""".stripMargin

  // --------------------------------------------------------------------------
  // Interpolated trigram NLL
  // --------------------------------------------------------------------------

  /** Per-document trigram-LM negative log likelihood with three-way
    * Jelinek-Mercer backoff ([[graft.ext.TextQuality.trigramNll]]) — the top
    * rung of the unigram/bigram/trigram quality-filter ladder.
    */
  def qTrigramNll(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextQuality.trigramNll(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val trigramNllSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |tg AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i]))
      |      AS w1,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+1]))
      |      AS w2,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+2]))
      |      AS w3
      |  FROM s),
      |dtf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM tg
      |  GROUP BY 1, 2, 3, 4),
      |c3 AS (SELECT w1, w2, w3, CAST(SUM(tf) AS BIGINT) AS cnt3 FROM dtf
      |  GROUP BY 1, 2, 3),
      |bg AS (SELECT
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i]))
      |      AS b1,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i+1]))
      |      AS b2
      |  FROM s),
      |c2 AS (SELECT b1, b2, COUNT(*) AS cnt2 FROM bg GROUP BY 1, 2),
      |tok AS (SELECT unnest(l) AS t0 FROM s),
      |c1 AS (SELECT t0, COUNT(*) AS cnt1 FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS total FROM c1)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
      |  ROUND(-CAST(SUM(CAST(tf * ln(0.6 * (CAST(cnt3 AS DOUBLE) / ctx.cnt2)
      |      + 0.3 * (CAST(suf.cnt2 AS DOUBLE) / u2.cnt1)
      |      + 0.1 * (CAST(u3.cnt1 AS DOUBLE) / total)) AS DECIMAL(18,8)))
      |      AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 6) AS avg_nll3
      |FROM dtf JOIN c3 USING (w1, w2, w3)
      |  JOIN c2 ctx ON dtf.w1 = ctx.b1 AND dtf.w2 = ctx.b2
      |  JOIN c2 suf ON dtf.w2 = suf.b1 AND dtf.w3 = suf.b2
      |  JOIN c1 u2 ON dtf.w2 = u2.t0
      |  JOIN c1 u3 ON dtf.w3 = u3.t0
      |  CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Effective sample size of DSIR importance weights
  // --------------------------------------------------------------------------

  /** Kish ESS per source of the per-token-geometric-mean DSIR importance
    * weights ([[graft.ext.Importance.effectiveSampleSize]] over
    * `exp(log_weight / n_tokens)`): ess_ratio → 1 means resampling toward
    * English behaves like a uniform sample; → 1/n means one document
    * dominates the source.
    */
  def qEssWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val lw = graft.ext.Importance.dsirLogWeights(docs, "doc_id", "text",
      isTarget = col("lang") === "en", numBuckets = 256)
    val w = lw.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"),
        exp(col("log_weight") / col("n_tokens")).cast("decimal(18,9)").as("w"))
    graft.ext.Importance.effectiveSampleSize(w, "source", col("w"))
      .select(col("source"), col("n"), round(col("ess"), 6).as("ess"),
        round(col("ess_ratio"), 6).as("ess_ratio"))
  }

  val essWeightsSql: String =
    s"""WITH dw AS (SELECT * FROM (
      |${dsirWeightsSql}
      |)),
      |w AS (SELECT d.source,
      |    CAST(exp(dw.log_weight / dw.n_tokens) AS DECIMAL(18,9)) AS w
      |  FROM dw JOIN documents d USING (doc_id)),
      |m AS (SELECT source, COUNT(*) AS n, SUM(w) AS sw, SUM(w * w) AS sww
      |  FROM w GROUP BY 1)
      |SELECT source, n,
      |  ROUND((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) /
      |    CAST(sww AS DOUBLE), 6) AS ess,
      |  ROUND(((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) /
      |    CAST(sww AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS ess_ratio
      |FROM m ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Held-out trigram NLL
  // --------------------------------------------------------------------------

  /** Held-out trigram perplexity: train counts from the deterministic 80%
    * md5 split, TEST docs scored with four-way backoff
    * ([[graft.ext.TextQuality.heldoutTrigramNll]]) — the honest LM quality
    * score (q_trigram_nll's in-corpus MLE lets unique text predict itself).
    */
  def qHeldoutNll(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextQuality.heldoutTrigramNll(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val heldoutNllSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS l,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 100 < 80 AS is_train
      |  FROM documents),
      |tr AS (SELECT * FROM s WHERE is_train),
      |te AS (SELECT * FROM s WHERE NOT is_train),
      |tg AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i]))
      |      AS w1,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+1]))
      |      AS w2,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+2]))
      |      AS w3
      |  FROM te),
      |dtf AS (SELECT doc_id, w1, w2, w3, COUNT(*) AS tf FROM tg
      |  GROUP BY 1, 2, 3, 4),
      |tg3 AS (SELECT
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i]))
      |      AS w1,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+1]))
      |      AS w2,
      |    unnest(list_transform(generate_series(1, len(l) - 2), i -> l[i+2]))
      |      AS w3
      |  FROM tr),
      |c3 AS (SELECT w1, w2, w3, COUNT(*) AS cnt3 FROM tg3 GROUP BY 1, 2, 3),
      |bg AS (SELECT
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i]))
      |      AS b1,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i+1]))
      |      AS b2
      |  FROM tr),
      |c2 AS (SELECT b1, b2, COUNT(*) AS cnt2 FROM bg GROUP BY 1, 2),
      |tok AS (SELECT unnest(l) AS t0 FROM tr),
      |c1 AS (SELECT t0, COUNT(*) AS cnt1 FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS nn, COUNT(*) AS vv FROM c1)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
      |  ROUND(-CAST(SUM(CAST(tf * ln(
      |      0.5 * (CASE WHEN ctx.cnt2 IS NOT NULL
      |        THEN CAST(COALESCE(c3.cnt3, 0) AS DOUBLE) / ctx.cnt2
      |        ELSE 0.0 END)
      |      + 0.3 * (CASE WHEN u2.cnt1 IS NOT NULL
      |        THEN CAST(COALESCE(suf.cnt2, 0) AS DOUBLE) / u2.cnt1
      |        ELSE 0.0 END)
      |      + 0.15 * (CAST(COALESCE(u3.cnt1, 0) AS DOUBLE) / nn)
      |      + 0.05 * (1.0 / vv)) AS DECIMAL(18,8))) AS DOUBLE) /
      |    CAST(SUM(tf) AS BIGINT), 6) AS heldout_nll
      |FROM dtf LEFT JOIN c3 USING (w1, w2, w3)
      |  LEFT JOIN c2 ctx ON dtf.w1 = ctx.b1 AND dtf.w2 = ctx.b2
      |  LEFT JOIN c2 suf ON dtf.w2 = suf.b1 AND dtf.w3 = suf.b2
      |  LEFT JOIN c1 u2 ON dtf.w2 = u2.t0
      |  LEFT JOIN c1 u3 ON dtf.w3 = u3.t0
      |  CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Kneser-Ney bigram NLL
  // --------------------------------------------------------------------------

  /** Per-document Kneser-Ney bigram NLL (d = 0.75)
    * ([[graft.ext.TextQuality.kneserNeyBigramNll]]) — the production n-gram
    * smoothing next to q_bigram_nll's Jelinek-Mercer mixture.
    */
  def qKnBigramNll(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextQuality.kneserNeyBigramNll(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  val knBigramNllSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |bg AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i]))
      |      AS w1,
      |    unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i+1]))
      |      AS w2
      |  FROM s),
      |dbf AS (SELECT doc_id, w1, w2, COUNT(*) AS bf FROM bg GROUP BY 1, 2, 3),
      |c2 AS (SELECT w1, w2, CAST(SUM(bf) AS BIGINT) AS c12 FROM dbf
      |  GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nf
      |  FROM c2 GROUP BY 1),
      |bwd AS (SELECT w2, COUNT(*) AS nb FROM c2 GROUP BY 1),
      |nbt AS (SELECT COUNT(*) AS nbt FROM c2)
      |SELECT doc_id, CAST(SUM(bf) AS BIGINT) AS n_bigrams,
      |  ROUND(-CAST(SUM(CAST(bf * ln(
      |      (CAST(c12 AS DOUBLE) - 0.75) / c1 +
      |      ((0.75 * nf) / c1) * (CAST(nb AS DOUBLE) / nbt))
      |      AS DECIMAL(18,8))) AS DOUBLE) / CAST(SUM(bf) AS BIGINT), 6)
      |    AS kn_nll
      |FROM dbf JOIN c2 USING (w1, w2)
      |  JOIN ctx USING (w1)
      |  JOIN bwd USING (w2)
      |  CROSS JOIN nbt
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Language-ID confusion / classifier evaluation
  // --------------------------------------------------------------------------

  /** Multi-class language-ID evaluated against the corpus's gold `lang`
    * column ([[graft.ext.TextStats.langIdEval]]): per-class P/R/F1 plus
    * accuracy and macro-F1 — q_lang_id_multi predicts, THIS grades (the zh
    * class has no stopword profile, so its recall-0 row is the honest
    * blind spot of the profile classifier).
    */
  def qLangidConfusion(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.langIdEval(Tables.documents(spark, dir),
        "doc_id", "text", "lang")
      .select(col("lang"), col("n_gold"), col("n_pred"), col("tp"),
        round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"),
        round(col("f1"), 6).as("f1"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("macro_f1"), 6).as("macro_f1"))

  val langidConfusionSql: String = {
    val profile = graft.ext.TextStats.langProfiles
      .flatMap { case (lang, toks) => toks.map(t => s"('$t', '$lang')") }
      .mkString(", ")
    s"""WITH profile(tok, plang) AS (VALUES $profile),
      |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, plang, COUNT(*) AS n_hits
      |  FROM tok JOIN profile USING (tok) GROUP BY 1, 2),
      |r AS (SELECT doc_id, plang, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY n_hits DESC, plang) AS rn FROM h),
      |preds AS (SELECT d.lang AS gold, COALESCE(r.plang, 'unk') AS pred
      |  FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id AND r.rn = 1),
      |cells AS (SELECT gold, pred, COUNT(*) AS nij FROM preds GROUP BY 1, 2),
      |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN gold = pred THEN nij ELSE 0 END) AS BIGINT)
      |      AS n_correct FROM cells),
      |gq AS (SELECT gold, CAST(SUM(nij) AS BIGINT) AS n_gold,
      |    CAST(SUM(CASE WHEN pred = gold THEN nij ELSE 0 END) AS BIGINT)
      |      AS tp FROM cells GROUP BY 1),
      |pq AS (SELECT pred AS gold, CAST(SUM(nij) AS BIGINT) AS n_pred
      |  FROM cells GROUP BY 1),
      |pc AS (SELECT gq.gold, n_gold, COALESCE(n_pred, 0) AS n_pred, tp
      |  FROM gq LEFT JOIN pq USING (gold)),
      |mac AS (SELECT SUM(CAST((2.0 * tp) / (n_gold + n_pred)
      |    AS DECIMAL(28,12))) AS sf, COUNT(*) AS nc FROM pc)
      |SELECT gold AS lang, n_gold, n_pred, tp,
      |  ROUND(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
      |    ELSE 0.0 END, 6) AS precision,
      |  ROUND(CAST(tp AS DOUBLE) / n_gold, 6) AS recall,
      |  ROUND((2.0 * tp) / (n_gold + n_pred), 6) AS f1,
      |  ROUND(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy,
      |  ROUND(CAST(sf AS DOUBLE) / nc, 6) AS macro_f1
      |FROM pc CROSS JOIN tot CROSS JOIN mac ORDER BY lang""".stripMargin
  }

  /** Per-source Jensen–Shannon divergence to the corpus unigram mix
    * ([[graft.ext.TextStats.groupJsDivergence]]) — the bounded symmetric
    * companion of q_source_kl.
    */
  def qSourceJsd(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.groupJsDivergence(Tables.documents(spark, dir),
        "source", "text")
      .select(col("grp").as("source"), col("n_tokens"), col("jsd_bits"))
      .orderBy(col("source"))

  val sourceJsdSql: String =
    """WITH tok AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS t
      |  FROM documents),
      |gt AS (SELECT grp, t, COUNT(*) AS n_gt FROM tok GROUP BY 1, 2),
      |g AS (SELECT grp, CAST(SUM(n_gt) AS BIGINT) AS n_g FROM gt GROUP BY 1),
      |ct AS (SELECT t, CAST(SUM(n_gt) AS BIGINT) AS n_t FROM gt GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_total FROM ct),
      |ff AS (SELECT ct.t, g.grp, g.n_g, ct.n_t, COALESCE(gt.n_gt, 0) AS n_gt
      |  FROM ct CROSS JOIN g
      |  LEFT JOIN gt ON gt.t = ct.t AND gt.grp = g.grp),
      |pq AS (SELECT grp, n_g, n_gt,
      |    CAST(n_gt AS DOUBLE) / CAST(n_g AS DOUBLE) AS p,
      |    CAST(n_t AS DOUBLE) / CAST(n_total AS DOUBLE) AS q
      |  FROM ff CROSS JOIN tot),
      |term AS (SELECT grp, n_g,
      |    CAST((CASE WHEN n_gt > 0 THEN 0.5 * p * ln(p / (0.5 * (p + q)))
      |        ELSE 0.0 END
      |      + 0.5 * q * ln(q / (0.5 * (p + q)))) AS DECIMAL(18,8)) AS tt
      |  FROM pq)
      |SELECT grp AS source, CAST(MAX(n_g) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(tt) AS DOUBLE) / 0.6931471805599453, 6) AS jsd_bits
      |FROM term GROUP BY 1 ORDER BY 1""".stripMargin

  /** Corpus-level RAKE keyphrases ([[graft.ext.Rake.keyphrases]], top 20,
    * phrases to 4 words) — every break decision, degree/frequency score and
    * phrase sum replayed by the oracle.
    */
  def qRakeKeyphrases(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Rake.keyphrases(Tables.documents(spark, dir), "doc_id", "text",
        k = 20, maxPhraseLen = 4)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(col("score"), 6).as("score"))

  val rakeKeyphrasesSql: String = {
    val stops = graft.ext.Rake.stopwordsEn.map(w => s"'$w'").mkString(", ")
    s"""WITH tk0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |tk1 AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(w)), i -> {'pos': i, 'tok': w[i]})) AS u
      |  FROM tk0),
      |tk AS (SELECT doc_id, u.pos AS pos,
      |    regexp_replace(u.tok, '[^a-z]', '', 'g') AS wd FROM tk1),
      |tb AS (SELECT doc_id, pos, wd,
      |    CASE WHEN wd = '' OR wd IN ($stops) THEN 1 ELSE 0 END AS brk
      |  FROM tk),
      |tp AS (SELECT doc_id, pos, wd, brk,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM tb),
      |ph AS (SELECT doc_id, pid,
      |    string_agg(wd, ' ' ORDER BY pos) AS phrase, COUNT(*) AS len
      |  FROM tp WHERE brk = 0 GROUP BY 1, 2),
      |phv AS (SELECT * FROM ph WHERE len <= 4),
      |ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
      |    CAST(SUM(len) AS BIGINT) AS deg
      |  FROM (SELECT len, unnest(string_split(phrase, ' ')) AS w FROM phv)
      |  GROUP BY 1),
      |wsc AS (SELECT w, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) AS wscore
      |  FROM ws),
      |occ AS (SELECT phrase, COUNT(*) AS n_occurrences,
      |    CAST(MAX(len) AS BIGINT) AS n_words FROM phv GROUP BY 1),
      |pw AS (SELECT phrase, n_words, n_occurrences,
      |    unnest(string_split(phrase, ' ')) AS w FROM occ),
      |sc AS (SELECT phrase, n_words, n_occurrences,
      |    CAST(SUM(CAST(wscore AS DECIMAL(18,8))) AS DOUBLE) AS score_raw
      |  FROM pw JOIN wsc USING (w) GROUP BY 1, 2, 3)
      |SELECT phrase, n_words, n_occurrences, ROUND(score_raw, 6) AS score
      |FROM sc ORDER BY score_raw DESC, phrase LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Context-length truncation audit
  // --------------------------------------------------------------------------

  /** Token loss under hard truncation at candidate context lengths
    * ([[graft.ext.TextStats.truncationLoss]], whitespace tokens) — the
    * pick-the-sequence-length curve upstream of q_seq_pack/q_pad_waste.
    */
  def qTruncationLoss(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TextStats.truncationLoss(Tables.documents(spark, dir), "text",
        budgets = Seq(64, 128, 256, 512))
      .select(col("context_len"), col("n_docs"), col("n_docs_over"),
        col("n_tokens"), col("n_tokens_lost"),
        round(col("frac_lost"), 6).as("frac_lost"))
      .orderBy(col("context_len"))

  val truncationLossSql: String =
    """WITH n AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS n
      |  FROM documents),
      |b AS (SELECT unnest([64, 128, 256, 512]) AS context_len),
      |x AS (SELECT b.context_len, n.n FROM n CROSS JOIN b)
      |SELECT CAST(context_len AS BIGINT) AS context_len,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n > context_len THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_docs_over,
      |  CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  CAST(SUM(GREATEST(n - context_len, 0)) AS BIGINT) AS n_tokens_lost,
      |  ROUND(CAST(SUM(GREATEST(n - context_len, 0)) AS DOUBLE) /
      |    CAST(SUM(n) AS DOUBLE), 6) AS frac_lost
      |FROM x GROUP BY context_len ORDER BY context_len""".stripMargin

  // --------------------------------------------------------------------------
  // Unigram-LM tokenizer
  // --------------------------------------------------------------------------

  /** Train a unigram-LM vocabulary on the document corpus
    * ([[graft.ext.UnigramLm.train]]): pieces up to 5 chars, 150-piece
    * multi-char seed pruned to 60 under hard-EM. Output one row per kept
    * piece: (rank, piece, count, logp) — the vocabulary table an encode
    * service ships. Rows-only check (merge recurrence, like q_bpe_train).
    */
  def qUnigramTrain(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UnigramLm.trainDF(Tables.documents(spark, dir), "text",
      graft.ext.UnigramLm.Config(maxPieceLen = 5, seedMulti = 150,
        targetMulti = 60, emIters = 2, minFreq = 2))

  /** Train-then-encode composition: learn the vocabulary, Viterbi-encode
    * the corpus with it, report per-doc unigram sequence lengths
    * ([[graft.ext.UnigramLm.encode]]; rows-only check, like q_bpe_encode).
    */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cfg = graft.ext.UnigramLm.Config(maxPieceLen = 5, seedMulti = 150,
      targetMulti = 60, emIters = 2, minFreq = 2)
    val pieces = graft.ext.UnigramLm.train(docs, "text", cfg)
    graft.ext.UnigramLm.encode(docs, "doc_id", "text", pieces,
        maxPieceLen = cfg.maxPieceLen)
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------------------------------------
  // Indexed exact substring search
  // --------------------------------------------------------------------------

  /** Multi-query exact substring search over the corpus
    * ([[graft.ext.SubstringSearch.searchCounts]]): five query strings
    * lifted verbatim from documents, each resolved through the k-gram
    * posting index (argmin-hash gram → broadcast candidate join →
    * `contains` verification on candidates only). The oracle recomputes
    * the selected gram and both counts by brute-force `contains` — a green
    * row proves the index path finds EXACTLY the scan's answer, plus the
    * candidates ⊇ matches containment the posting join guarantees.
    */
  def qSubstringSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val qs = docs
      .filter(col("doc_id").isin(1L, 101L, 201L, 301L, 401L) &&
        length(col("text")) >= 43)
      .select(col("doc_id").as("qid"),
        substring(col("text"), 25, 18).as("q"))
    graft.ext.SubstringSearch.searchCounts(docs, "doc_id", "text",
      qs, "qid", "q", gramLen = 8)
  }

  val substringSearchSql: String =
    """WITH qs AS (SELECT doc_id AS qid, substr(text, 25, 18) AS q
      |  FROM documents
      |  WHERE doc_id IN (1, 101, 201, 301, 401) AND len(text) >= 43),
      |qg AS (SELECT qid, q, g,
      |    ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
      |  FROM (SELECT qid, q, unnest(list_transform(
      |      generate_series(1, len(q) - 7), i -> substr(q, i, 8))) AS g
      |    FROM qs)),
      |sel AS (SELECT qid, q, g AS gram FROM (
      |    SELECT qid, q, g,
      |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY h, g) AS rn
      |    FROM qg) WHERE rn = 1),
      |cand AS (SELECT s.qid, COUNT(*) AS n_candidates,
      |    CAST(SUM(CASE WHEN contains(d.text, s.q) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_matches
      |  FROM sel s JOIN documents d ON contains(d.text, s.gram)
      |  GROUP BY 1)
      |SELECT s.qid AS query_id, s.gram,
      |  CAST(c.n_candidates AS BIGINT) AS n_candidates, c.n_matches
      |FROM sel s JOIN cand c USING (qid)
      |ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------------------
  // Unigram tokenizer fertility by language
  // --------------------------------------------------------------------------

  /** Language-skew readout of the unigram tokenizer
    * ([[graft.ext.UnigramLm.fertilityByGroup]]): train on the full corpus,
    * report tokens-per-word and chars-per-token by language — the
    * q_tokenizer_fertility contract on the second tokenizer family.
    * Rows-only check, like the rest of the trainer surface.
    */
  def qUnigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cfg = graft.ext.UnigramLm.Config(maxPieceLen = 5, seedMulti = 150,
      targetMulti = 60, emIters = 2, minFreq = 2)
    val pieces = graft.ext.UnigramLm.train(docs, "text", cfg)
    graft.ext.UnigramLm.fertilityByGroup(docs, "doc_id", "text", "lang",
        pieces, cfg.maxPieceLen)
      .orderBy(col("grp"))
  }

  /** The committed unigram vocabulary fixture for this scale factor — the
    * WordPiece vocabulary input ("vocab is a fixture table": both engines
    * read the SAME frozen piece list, so the oracle exercises the greedy
    * matcher, not the trainer).
    */
  private def unigramVocab(spark: SparkSession, dir: String): Seq[String] = {
    val sfName = new java.io.File(dir).getName
    val schema = StructType(Seq(
      StructField("rank", LongType), StructField("piece", StringType),
      StructField("count", LongType), StructField("logp", DoubleType)))
    spark.read.option("header", "true").schema(schema)
      .csv(s"${Inputs.FixtureRoot}/$sfName/q_unigram_train.csv")
      .select("piece").collect().map(_.getString(0)).toSeq
  }

  private val vocabCsvSql: String =
    s"""read_csv('${Inputs.FixtureRoot}/__GRAFT_SF__/q_unigram_train.csv',
       |  header=true, columns={'rank':'BIGINT','piece':'VARCHAR',
       |  'count':'BIGINT','logp':'DOUBLE'})""".stripMargin

  // --------------------------------------------------------------------
  // WordPiece greedy encode
  // --------------------------------------------------------------------

  /** Greedy longest-match (WordPiece-style) encode of the corpus over the
    * frozen unigram vocabulary ([[graft.ext.WordPiece.encode]]). Unlike
    * the BPE/unigram APPLY queries this one is fully oracle-expressible:
    * the DuckDB side walks the same maximal-munch recursion with a
    * recursive CTE over a per-position longest-match table.
    */
  def qWordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    graft.ext.WordPiece.encode(Tables.documents(spark, dir), "doc_id",
        "text", unigramVocab(spark, dir))
      .orderBy(col("doc_id"))

  private val wordpieceWalkSql: String =
    """docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |dw AS (SELECT doc_id, word FROM docw WHERE word <> ''),
      |uw AS (SELECT DISTINCT word FROM dw),
      |pos AS (SELECT word, unnest(generate_series(1, len(word))) AS p
      |  FROM uw),
      |lm AS (SELECT pos.word, pos.p, MAX(len(v.piece)) AS l
      |  FROM pos JOIN vocab v
      |    ON substr(pos.word, pos.p, len(v.piece)) = v.piece
      |  GROUP BY 1, 2),
      |walk(word, p, n, unk) AS (
      |  SELECT word, 1, 0, 0 FROM uw
      |  UNION ALL
      |  SELECT w.word, w.p + COALESCE(lm.l, 1), w.n + 1,
      |    w.unk + CASE WHEN lm.l IS NULL THEN 1 ELSE 0 END
      |  FROM walk w LEFT JOIN lm ON lm.word = w.word AND lm.p = w.p
      |  WHERE w.p <= len(w.word)),
      |tok AS (SELECT word, n, unk FROM walk WHERE p > len(word))""".stripMargin

  val wordpieceEncodeSql: String =
    s"""WITH RECURSIVE vocab AS (SELECT piece FROM $vocabCsvSql),
       |$wordpieceWalkSql,
       |per_doc AS (SELECT dw.doc_id, CAST(SUM(t.n) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_words, CAST(SUM(t.unk) AS BIGINT) AS n_unk
       |  FROM dw JOIN tok t USING (word) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
       |  COALESCE(p.n_words, 0) AS n_words, COALESCE(p.n_unk, 0) AS n_unk
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Cross-family fertility comparison
  // --------------------------------------------------------------------

  /** One row per language comparing tokens-per-word across the three
    * tokenizer families: BPE and unigram from their committed fertility
    * fixtures (their trainers are the frozen artifact), WordPiece computed
    * LIVE over the frozen vocabulary ([[graft.ext.WordPiece
    * .fertilityByGroup]]) — the language-skew dashboard a multilingual
    * pipeline reads before picking a tokenizer.
    */
  def qTokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val sfName = new java.io.File(dir).getName
    val fertSchema = StructType(Seq(
      StructField("lang", StringType), StructField("n_docs", LongType),
      StructField("n_words", LongType), StructField("n_tokens", LongType),
      StructField("fertility", DoubleType),
      StructField("chars_per_token", DoubleType)))
    def fixture(name: String, grpCol: String): DataFrame =
      spark.read.option("header", "true")
        .schema(StructType(StructField(grpCol, StringType) +:
          fertSchema.fields.drop(1)))
        .csv(s"${Inputs.FixtureRoot}/$sfName/$name.csv")
    val bpe = fixture("q_tokenizer_fertility", "lang")
      .select(col("lang"), col("fertility").as("fertility_bpe"))
    val uni = fixture("q_unigram_fertility", "grp")
      .select(col("grp").as("lang"), col("fertility").as("fertility_unigram"))
    val wp = graft.ext.WordPiece.fertilityByGroup(
        Tables.documents(spark, dir), "doc_id", "text", "lang",
        unigramVocab(spark, dir))
      .select(col("grp").as("lang"), col("n_words"),
        col("fertility").as("fertility_wordpiece"))
    wp.join(bpe, Seq("lang")).join(uni, Seq("lang"))
      .select(col("lang"), col("n_words"), col("fertility_bpe"),
        col("fertility_unigram"), col("fertility_wordpiece"))
      .orderBy(col("lang"))
  }

  val tokenizerCompareSql: String =
    s"""WITH RECURSIVE vocab AS (SELECT piece FROM $vocabCsvSql),
       |$wordpieceWalkSql,
       |wp AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(t.n) AS BIGINT) AS n_tokens
       |  FROM dw JOIN tok t USING (word)
       |  JOIN documents d ON d.doc_id = dw.doc_id
       |  GROUP BY 1),
       |bpe AS (SELECT lang, fertility AS fertility_bpe FROM read_csv(
       |  '${Inputs.FixtureRoot}/__GRAFT_SF__/q_tokenizer_fertility.csv',
       |  header=true, columns={'lang':'VARCHAR','n_docs':'BIGINT',
       |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
       |  'chars_per_token':'DOUBLE'})),
       |uni AS (SELECT grp AS lang, fertility AS fertility_unigram
       |  FROM read_csv(
       |  '${Inputs.FixtureRoot}/__GRAFT_SF__/q_unigram_fertility.csv',
       |  header=true, columns={'grp':'VARCHAR','n_docs':'BIGINT',
       |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
       |  'chars_per_token':'DOUBLE'}))
       |SELECT wp.lang, wp.n_words, bpe.fertility_bpe, uni.fertility_unigram,
       |  ROUND(CAST(wp.n_tokens AS DOUBLE) / wp.n_words, 6)
       |    AS fertility_wordpiece
       |FROM wp JOIN bpe USING (lang) JOIN uni USING (lang)
       |ORDER BY wp.lang""".stripMargin

  // --------------------------------------------------------------------
  // Greedy max-coverage selection
  // --------------------------------------------------------------------

  /** Pick the 6 documents whose word-trigram sets jointly cover the most
    * of the corpus ([[graft.ext.MaxCoverage.greedySelect]]) — the
    * coverage-based data-selection primitive. The exchange carries the
    * documents themselves into shuffle-partitions tasks, which shingle them
    * in parallel into per-candidate trigram sets, and one scan's shortlist
    * usually certifies all six rounds (at sf0.1, 3 jobs in all: the
    * exchange's map stage, the scan, and the 6-row result, which is sorted
    * inside one partition instead of through a range exchange; at sf0.01 a
    * sixth-round tie takes a second scan). The oracle unrolls
    * the six greedy rounds as MATERIALIZED CTEs (anti-join gains, LIMIT-1
    * argmax with the same ties-to-smallest-id order, set-union coverage).
    */
  def qMaxCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.ext.MaxCoverage.greedySelect(Tables.documents(spark, dir), "doc_id",
        graft.functions.WordShingles.shingles(col("text"), 3), k = 6)
      .coalesce(1).sortWithinPartitions(col("round"))

  val maxCoverageSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""g$r AS MATERIALIZED (SELECT i.doc_id, COUNT(*) AS g FROM items i
         |  ANTI JOIN cov${r - 1} c ON i.f = c.f GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT doc_id, g FROM g$r
         |  ORDER BY g DESC, doc_id LIMIT 1),
         |cov$r AS MATERIALIZED (SELECT f FROM cov${r - 1}
         |  UNION SELECT i.f FROM items i JOIN w$r USING (doc_id))""".stripMargin
    }.mkString(",\n")
    val readout = (1 to 6).map { r =>
      s"""SELECT $r AS round, doc_id, g AS marginal_gain,
         |  (SELECT COUNT(*) FROM cov$r) AS covered_total FROM w$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)),
       |      i -> array_to_string(l[i:i+2], ' '))) AS f
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
       |cov0 AS (SELECT f FROM items WHERE 1 = 0),
       |$rounds
       |SELECT * FROM (
       |$readout
       |) ORDER BY round""".stripMargin
  }

  // --------------------------------------------------------------------
  // DSIR-style importance-resampling weights
  // --------------------------------------------------------------------

  /** DSIR-style data SELECTION (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169) — the
    * resampling member the weights-only `q_dsir_weights`
    * ([[qDsirWeights]], target = en) stops short of:
    * hashed word-unigram bag features (256 md5 buckets), two
    * add-one-smoothed bag-of-ngrams models — target = the `lang='de'`
    * slice, raw = the whole corpus — and per-doc importance weight
    * log p_target(doc) − log p_raw(doc) = Σ_g c_g·(ln θT_g − ln θR_g).
    * All model counts are exact integers; each ln lands in a
    * DECIMAL(18,8) ladder so the per-doc sum is EXACT on both engines
    * (the q_ndcg discipline), with one double cast at the readout. The
    * deterministic selection policy takes the top ⌈n/5⌉ docs by weight
    * (ties → smallest doc_id) via [[graft.ext.GlobalRank]] — no
    * single-task global window. Docs with no tokens drop out (no
    * features ⇒ no weight).
    *
    * Scale shape: token explode is scan-side; ONE shuffle to (doc,g)
    * counts; the bucket model is a 256-row aggregate broadcast back;
    * per-doc weights are one more keyed aggregate; ranking is the
    * range-partition prefix trick.
    */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val B = 256
    val docs = Tables.documents(spark, dir)
    val tok = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % B)
          .as("g"))
    // dgl feeds the bucket model AND the per-doc weight aggregate —
    // checkpoint the (doc, bucket) counts so the token explode over the
    // text column runs once, not once per consumer (plan audit: 9 scans
    // of documents without it)
    val dgl = Materialize(tok.groupBy(col("doc_id"), col("g"), col("lang"))
      .agg(count(lit(1)).as("c"))).df
    val buckets = dgl.groupBy(col("g"))
      .agg(sum(when(col("lang") === "de", col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr"))
    val totals = buckets.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    // quantize the log-ratio DIFFERENCE once at DECIMAL(12,6) — the
    // logRatiosFromDist recipe: casting each log separately on the 1e-8
    // grid doubled the boundary exposure at 100x finer pitch, and the
    // r15 sf1.0 value-hash gate caught exactly that (6th-decimal
    // log_weight flips + selection-membership swaps near the threshold)
    val term = buckets.crossJoin(broadcast(totals))
      .select(col("g"),
        (log((col("ct") + 1).cast("double") / (col("tt") + B)) -
          log((col("cr") + 1).cast("double") / (col("tr") + B)))
          .cast("decimal(12,6)").as("dterm"))
    val perDoc = dgl.join(broadcast(term), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("decimal(10,0)") * col("dterm")).as("__lw"),
        sum(col("c")).as("n_tokens"))
    val ranked = graft.ext.GlobalRank.globalRowNumber(perDoc,
      Seq(col("__lw").desc, col("doc_id")), "rank")
    val tot = perDoc.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        round(col("__lw").cast("double"), 6).as("log_weight"), col("rank"),
        (col("rank") <= (col("__n") + 4) / lit(5)).as("selected"))
      .orderBy(col("doc_id"))
  }

  val dsirSelectSql: String =
    """WITH tok AS (SELECT doc_id, lang,
      |    ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS g
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |    FROM documents) WHERE w <> ''),
      |dgl AS (SELECT doc_id, lang, g, COUNT(*) AS c FROM tok
      |  GROUP BY 1, 2, 3),
      |bk AS (SELECT g,
      |    CAST(SUM(CASE WHEN lang = 'de' THEN c ELSE 0 END) AS BIGINT)
      |      AS ct,
      |    CAST(SUM(c) AS BIGINT) AS cr FROM dgl GROUP BY 1),
      |tts AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
      |    CAST(SUM(cr) AS BIGINT) AS tr FROM bk),
      |term AS (SELECT g,
      |    CAST(ln(CAST(ct + 1 AS DOUBLE) / (tt + 256)) -
      |      ln(CAST(cr + 1 AS DOUBLE) / (tr + 256)) AS DECIMAL(12,6))
      |      AS dterm
      |  FROM bk CROSS JOIN tts),
      |pd AS (SELECT doc_id,
      |    SUM(CAST(c AS DECIMAL(10,0)) * dterm) AS logw,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens
      |  FROM dgl JOIN term USING (g) GROUP BY 1),
      |rk AS (SELECT doc_id, n_tokens, logw,
      |    ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id) AS rank FROM pd),
      |nd AS (SELECT COUNT(*) AS n_docs FROM pd)
      |SELECT doc_id, n_tokens, ROUND(CAST(logw AS DOUBLE), 6) AS log_weight,
      |  rank, rank <= (n_docs + 4) // 5 AS selected
      |FROM rk CROSS JOIN nd ORDER BY doc_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_seq_pack", qSeqPack, seqPackSql),
    QuerySpec("q_seq_pack_greedy", qSeqPackGreedy, seqPackGreedySql),
    QuerySpec("q_pack_stats", qPackStats, packStatsSql),
    QuerySpec("q_source_kl", qSourceKl, sourceKlSql),
    QuerySpec("q_weighted_sample", qWeightedSample, weightedSampleSql),
    QuerySpec("q_distinct_ngrams", qDistinctNgrams, distinctNgramsSql),
    QuerySpec("q_collocations", qCollocations, collocationsSql),
    QuerySpec("q_domain_mix", qDomainMix, domainMixSql),
    QuerySpec("q_repetition", qRepetition, repetitionSql),
    QuerySpec("q_ngram_novelty", qNgramNovelty, ngramNoveltySql),
    QuerySpec("q_quality_quantiles", qQualityQuantiles, qualityQuantilesSql),
    QuerySpec("q_dataset_split", qDatasetSplit, datasetSplitSql),
    QuerySpec("q_balanced_sample", qBalancedSample, balancedSampleSql),
    QuerySpec("q_tfidf", qTfidf, tfidfSql),
    QuerySpec("q_text_stats", qTextStats, textStatsSql),
    QuerySpec("q_lang_id", qLangId, langIdSql),
    QuerySpec("q_lang_id_multi", qLangIdMulti, langIdMultiSql),
    QuerySpec("q_token_count", qTokenCount, tokenCountSql),
    QuerySpec("q_fingerprint", qFingerprint, fingerprintSql),
    QuerySpec("q_gopher_quality", qGopherQuality, gopherQualitySql),
    QuerySpec("q_top_ngrams", qTopNgrams, topNgramsSql),
    QuerySpec("q_pii_redact", qPiiRedact, piiRedactSql),
    QuerySpec("q_quality_deciles", qQualityDeciles, qualityDecilesSql),
    QuerySpec("q_unigram_nll", qUnigramNll, unigramNllSql),
    QuerySpec("q_contamination", qContamination, contaminationSql),
    QuerySpec("q_containment", qContainment, containmentSql),
    QuerySpec("q_bpe_pairs", qBpePairs, bpePairsSql),

    // -------------------------------------------------------------------
    // Tokenizer-trainer golden fixtures: the BPE merge loop and unigram
    // EM/prune recurrences are not SQL-expressible, so their oracles READ
    // the committed per-SF fixtures under fixtures/<sf>/ instead of
    // recomputing. Each fixture is generated by graft.FixtureGen from an
    // INDEPENDENT single-threaded reference implementation (the
    // BpeTrainSpec/UnigramLmSpec differential pattern) and FixtureGen
    // refuses to write a fixture that the live engine query does not
    // match bit-for-bit — so these rows give the driver a real value-hash
    // gate, not a rows-only check. `__GRAFT_SF__` is substituted with the
    // scale-factor directory name by Verify at dump time.
    // -------------------------------------------------------------------
    QuerySpec("q_bpe_train", qBpeTrain,
      s"""SELECT rank, "left", "right", pair_freq
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_bpe_train.csv',
        |  header=true, columns={'rank':'INTEGER','left':'VARCHAR',
        |  'right':'VARCHAR','pair_freq':'BIGINT'})
        |ORDER BY rank""".stripMargin),
    QuerySpec("q_bpe_encode", qBpeEncode,
      s"""SELECT doc_id, n_tokens, n_words
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_bpe_encode.csv',
        |  header=true, columns={'doc_id':'BIGINT','n_tokens':'BIGINT',
        |  'n_words':'BIGINT'})
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_keyword_and", qKeywordAnd, keywordAndSql),
    QuerySpec("q_zipf_slope", qZipfSlope, zipfSlopeSql),
    QuerySpec("q_heaps_law", qHeapsLaw, heapsLawSql),
    QuerySpec("q_char_ngram_entropy", qCharNgramEntropy, charNgramEntropySql),
    QuerySpec("q_score_calibration", qScoreCalibration, scoreCalibrationSql),
    QuerySpec("q_mix_weights", qMixWeights, mixWeightsSql),
    QuerySpec("q_quality_lr", qQualityLr, qualityLrSql),
    QuerySpec("q_bigram_nll", qBigramNll, bigramNllSql),
    QuerySpec("q_chunking", qChunking, chunkingSql),
    QuerySpec("q_skipgram_pmi", qSkipgramPmi, skipgramPmiSql),
    QuerySpec("q_readability", qReadability, readabilitySql),
    QuerySpec("q_dsir_weights", qDsirWeights, dsirWeightsSql),
    QuerySpec("q_token_budget", qTokenBudget, tokenBudgetSql),
    QuerySpec("q_interleave_order", qInterleaveOrder, interleaveOrderSql),
    QuerySpec("q_nll_filter_curve", qNllFilterCurve, nllFilterCurveSql),
    QuerySpec("q_tokenizer_fertility", qTokenizerFertility,
      s"""SELECT lang, n_docs, n_words, n_tokens, fertility, chars_per_token
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_tokenizer_fertility.csv',
        |  header=true, columns={'lang':'VARCHAR','n_docs':'BIGINT',
        |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
        |  'chars_per_token':'DOUBLE'})
        |ORDER BY lang""".stripMargin),
    QuerySpec("q_pad_waste", qPadWaste, padWasteSql),
    QuerySpec("q_vocab_diversity", qVocabDiversity, vocabDiversitySql),
    QuerySpec("q_boilerplate", qBoilerplate, boilerplateSql),
    QuerySpec("q_memorization", qMemorization, memorizationSql),
    QuerySpec("q_log_odds", qLogOdds, logOddsSql),
    QuerySpec("q_quantile_norm", qQuantileNorm, quantileNormSql),
    QuerySpec("q_loo_impact", qLooImpact, looImpactSql),
    QuerySpec("q_unimax_alloc", qUnimaxAlloc, unimaxAllocSql),
    QuerySpec("q_data_constrained", qDataConstrained, dataConstrainedSql),
    QuerySpec("q_neyman_alloc", qNeymanAlloc, neymanAllocSql),
    QuerySpec("q_shuffle_quality", qShuffleQuality, shuffleQualitySql),
    QuerySpec("q_chao1", qChao1, chao1Sql),
    QuerySpec("q_oov_rate", qOovRate, oovRateSql),
    QuerySpec("q_trigram_nll", qTrigramNll, trigramNllSql),
    QuerySpec("q_ess_weights", qEssWeights, essWeightsSql),
    QuerySpec("q_heldout_nll", qHeldoutNll, heldoutNllSql),
    QuerySpec("q_kn_bigram_nll", qKnBigramNll, knBigramNllSql),
    QuerySpec("q_langid_confusion", qLangidConfusion, langidConfusionSql),
    QuerySpec("q_truncation_loss", qTruncationLoss, truncationLossSql),
    QuerySpec("q_source_jsd", qSourceJsd, sourceJsdSql),
    QuerySpec("q_rake_keyphrases", qRakeKeyphrases, rakeKeyphrasesSql),
    QuerySpec("q_unigram_train", qUnigramTrain,
      s"""SELECT rank, piece, count, logp
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_unigram_train.csv',
        |  header=true, columns={'rank':'BIGINT','piece':'VARCHAR',
        |  'count':'BIGINT','logp':'DOUBLE'})
        |ORDER BY rank""".stripMargin),
    QuerySpec("q_unigram_encode", qUnigramEncode,
      s"""SELECT doc_id, n_tokens, n_words
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_unigram_encode.csv',
        |  header=true, columns={'doc_id':'BIGINT','n_tokens':'BIGINT',
        |  'n_words':'BIGINT'})
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q_unigram_fertility", qUnigramFertility,
      s"""SELECT grp, n_docs, n_words, n_tokens, fertility, chars_per_token
        |FROM read_csv('$FixtureRoot/__GRAFT_SF__/q_unigram_fertility.csv',
        |  header=true, columns={'grp':'VARCHAR','n_docs':'BIGINT',
        |  'n_words':'BIGINT','n_tokens':'BIGINT','fertility':'DOUBLE',
        |  'chars_per_token':'DOUBLE'})
        |ORDER BY grp""".stripMargin),
    QuerySpec("q_substring_search", qSubstringSearch, substringSearchSql),
    QuerySpec("q_max_coverage", qMaxCoverage, maxCoverageSql),
    QuerySpec("q_wordpiece_encode", qWordpieceEncode, wordpieceEncodeSql),
    QuerySpec("q_tokenizer_compare", qTokenizerCompare, tokenizerCompareSql),
    QuerySpec("q_dsir_select", qDsirSelect, dsirSelectSql),
  )
}
