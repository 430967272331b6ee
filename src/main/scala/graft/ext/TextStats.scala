package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Text-analysis operators for large-scale training-data pipelines: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  *
  * Extensions beyond the reference (north-star scope, SURVEY.md §7.2.6) — all pure
  * codegen-friendly column expressions (no UDFs), each with a portable DuckDB
  * formulation so the oracle can replay them 1:1.
  */
object TextStats {

  /** Whitespace token count, portable formulation (single-space-separated corpus):
    * `length(text) - length(replace(text, ' ', '')) + 1`.
    */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(length(text) - length(regexp_replace(text, " ", "")) + lit(1))
      .cast("long")

  /** BPE-ish regex token count: runs of word chars or single non-space symbols. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  /** Flesch-Kincaid-style readability signals per document — the grade-level
    * quality gate a corpus-curation pipeline scores alongside the Gopher
    * signals. Words are lowercase letter runs, sentences are `[.!?]+` runs
    * (floored at 1 so headline-only docs don't divide by zero), and syllables
    * use the standard vowel-group approximation (`[aeiouy]+` runs). Grade =
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    *
    * Pure scan-side codegen expressions — zero shuffles, scan-bandwidth-bound
    * at any corpus size; the double formula runs in the same operation order
    * as the DuckDB oracle.
    */
  def readabilityDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = lower(col(textCol))
    df.select(col(idCol),
        size(regexp_extract_all(t, lit("[a-z]+"), lit(0))).cast("long")
          .as("n_words"),
        greatest(size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))),
          lit(1)).cast("long").as("n_sentences"),
        size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")
          .as("n_syllables"))
      .withColumn("fk_grade",
        when(col("n_words") === 0, lit(null))
          .otherwise(round(
            lit(0.39) * (col("n_words").cast("double") / col("n_sentences")) +
              lit(11.8) * (col("n_syllables").cast("double") / col("n_words")) -
              lit(15.59), 6)))
  }

  /** TF-IDF top-k terms per document: tf from the per-doc term counts, smoothed
    * idf `ln((N+1)/(df+1))`, rank-1..k window per doc (descending score, ties by
    * term). Three shuffles — (doc,term) counts, term document frequencies, the
    * per-doc rank window — all keyed and partial-aggregated; the corpus size is a
    * broadcast 1-row aggregate. The rank window compiles to WindowGroupLimit, so
    * only each partition's top k rows per doc reach the exchange.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val byDoc = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log((col("__n") + 1) / (col("df") + 1)))
      .withColumn("rank", row_number().over(byDoc).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 6).as("tfidf"))
  }

  /** Simple quality features + composite score in [0,1]. */
  def qualityDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nTokens = wsTokenCount(t)
    val alphaChars = length(regexp_replace(t, "[^A-Za-z]", ""))
    val stop = stopwordCount(t)
    df.select(
      col(idCol),
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      round((nChars - nTokens + lit(1)).cast("double") / nTokens, 6).as("avg_token_len"),
      round(alphaChars.cast("double") / nChars, 6).as("alpha_ratio"),
      round(stop.cast("double") / nTokens, 6).as("stopword_ratio"),
      // composite: tokens in a sane range, mostly alphabetic, some stopwords
      round(
        when(nTokens >= 5 && nTokens <= 100000, lit(0.4)).otherwise(lit(0.0))
          + lit(0.3) * (alphaChars.cast("double") / nChars)
          + lit(0.3) * least(lit(1.0), stop.cast("double") * 10.0 / nTokens),
        6).as("quality_score"))
  }

  private val enStopwords = Seq("the", "and", "of", "to", "a", "in", "is", "it")

  /** Count of English stopword occurrences (word-bounded). */
  def stopwordCount(text: Column): Column =
    enStopwords.map(w => regexp_count(text, lit(s"\\b$w\\b")))
      .reduce(_ + _)

  /** Heuristic language ID: English stopword density vs text length. With no real
    * multilingual signal in the corpus this is a deterministic rule, identical in the
    * oracle: ≥2 stopword hits per 25 tokens → 'en', any hits → 'en-maybe', else 'unk'.
    */
  def langIdDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hits = stopwordCount(col(textCol))
    val tokens = wsTokenCount(col(textCol))
    df.select(col(idCol), hits.as("stopword_hits"), tokens.as("n_tokens"),
      when(hits * 25 >= tokens * 2, lit("en"))
        .when(hits > 0, lit("en-maybe"))
        .otherwise(lit("unk")).as("lang_pred"))
  }

  /** Per-language stopword profiles for [[langIdMultiDF]] — public common-word
    * lists, ten per language. Exposed so the SQL oracle embeds the SAME lists.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "he"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "los", "del", "las", "por"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "sich", "auf"),
    "fr" -> Seq("le", "et", "les", "des", "un", "du", "une", "dans", "est", "pour"))

  /** Multi-class language ID over stopword profiles: tokens join a broadcast
    * (token → language) profile table, per-(doc, language) hit counts are
    * aggregated map-side-partial, and each document takes the language with the
    * most hits (ties broken by language code; zero hits → 'unk'). The
    * distributed shape of a fastText-style classifier's first stage — a real
    * model swaps the profile table for learned weights; the container ships
    * none, so the profile variant is the honest oracle-checkable stand-in
    * (upgrade of the en-only density rule in [[langIdDF]]).
    * Output: (id, lang_pred, n_hits).
    */
  def langIdMultiDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val profile = langProfiles
      .flatMap { case (lang, toks) => toks.map(t => (t, lang)) }
      .toDF("tok", "plang")
    val tok = df.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("tok"))
    val best = tok.join(broadcast(profile), "tok")
      .groupBy(col(idCol), col("plang")).agg(count(lit(1)).as("n_hits"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("n_hits").desc, col("plang"))))
      .filter(col("__rn") === 1)
    df.select(col(idCol))
      .join(best.select(col(idCol), col("plang"), col("n_hits")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("plang"), lit("unk")).as("lang_pred"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Classifier evaluation of [[langIdMultiDF]] against a gold language
    * column: per-class precision/recall/F1 from the confusion cells plus
    * corpus accuracy and macro-F1 (repeated per row, the Benford
    * statistic-per-row convention). F1 uses the integer-clean form
    * `2·tp/(n_gold + n_pred)`; macro-F1 averages over GOLD classes
    * (a gold class the classifier never predicts scores its recall-only
    * F1, never NaN — n_gold ≥ 1 keeps the denominator positive), pooled
    * in DECIMAL(28,12).
    *
    * Scale shape: prediction is the broadcast-profile join; everything
    * downstream runs on the |gold|×|pred| cell table. Output per gold
    * class asc: (lang, n_gold, n_pred, tp, precision, recall, f1,
    * accuracy, macro_f1).
    */
  def langIdEval(df: DataFrame, idCol: String, textCol: String,
                 goldCol: String): DataFrame = {
    val preds = langIdMultiDF(df, idCol, textCol)
      .select(col(idCol), col("lang_pred"))
    val j = df.select(col(idCol), col(goldCol).as("gold"))
      .join(preds, Seq(idCol))
    val cells = j.groupBy(col("gold"), col("lang_pred").as("pred"))
      .agg(count(lit(1)).as("nij"))
    val tot = cells.agg(sum(col("nij")).as("n"),
      sum(when(col("gold") === col("pred"), col("nij")).otherwise(0L))
        .as("n_correct"))
    val gq = cells.groupBy(col("gold"))
      .agg(sum(col("nij")).as("n_gold"),
        sum(when(col("pred") === col("gold"), col("nij")).otherwise(0L))
          .as("tp"))
    val pq = cells.groupBy(col("pred").as("gold"))
      .agg(sum(col("nij")).as("n_pred"))
    val perClass = gq.join(pq, Seq("gold"), "left")
      .na.fill(0L, Seq("n_pred"))
    val f1 = (lit(2.0) * col("tp")) / (col("n_gold") + col("n_pred"))
    val macroAgg = perClass.agg(
      sum(f1.cast("decimal(28,12)")).as("sf"), count(lit(1)).as("nc"))
    perClass.crossJoin(broadcast(tot)).crossJoin(broadcast(macroAgg))
      .select(col("gold").as("lang"), col("n_gold"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred")).otherwise(lit(0.0))
          .as("precision"),
        (col("tp").cast("double") / col("n_gold")).as("recall"),
        f1.as("f1"),
        (col("n_correct").cast("double") / col("n")).as("accuracy"),
        (col("sf").cast("double") / col("nc")).as("macro_f1"))
      .orderBy(col("lang"))
  }

  /** Per-group quantiles of a numeric column — the 100 TB path. Exact
    * `percentile` buffers every value per group (OOM on a billion-doc group);
    * `percentile_approx` keeps a fixed-size KLL-style sketch per group that
    * merges map-side, so memory is O(accuracy) per group regardless of row
    * count. Rank error ≤ 1/accuracy (Spark's contract); the differential spec
    * quantifies it against the exact form. Use the exact variant (as
    * `q_quality_quantiles` does) only when per-group cardinality is bounded.
    */
  def groupQuantilesApprox(df: DataFrame, groupCol: String, valueCol: String,
                           probs: Seq[Double],
                           accuracy: Int = 10000): DataFrame = {
    val aggs = probs.map { p =>
      percentile_approx(col(valueCol), lit(p), lit(accuracy))
        .cast("double").as(s"p${math.round(p * 100)}")
    }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Context-length truncation audit: for each candidate context length in
    * `budgets` (whitespace tokens), how many docs exceed it and what fraction
    * of the corpus' tokens a hard truncation at that length would discard —
    * the curve a pipeline reads to pick sequence length before paying for
    * packing ([[Packing]] handles the residual waste AFTER the cut).
    *
    * ONE corpus scan: per-doc token counts feed a Generate over the (tiny)
    * budget list, then a budget-keyed aggregate — map-side combined,
    * |budgets| rows out. All integer arithmetic except the final ratio
    * (single fixed-order double division, matching the oracle). Output per
    * budget: (context_len, n_docs, n_docs_over, n_tokens, n_tokens_lost,
    * frac_lost).
    */
  def truncationLoss(df: DataFrame, textCol: String,
                     budgets: Seq[Int]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ >= 1),
      s"budgets must be >= 1, got $budgets")
    df.select(wsTokenCount(col(textCol)).as("__n"))
      .select(col("__n"),
        explode(array(budgets.map(lit): _*)).as("context_len"))
      .groupBy(col("context_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__n") > col("context_len"), 1L).otherwise(0L))
          .as("n_docs_over"),
        sum(col("__n")).as("n_tokens"),
        sum(greatest(col("__n") - col("context_len"), lit(0L)))
          .as("n_tokens_lost"))
      .select(col("context_len").cast("long").as("context_len"),
        col("n_docs"), col("n_docs_over"), col("n_tokens"),
        col("n_tokens_lost"),
        (col("n_tokens_lost").cast("double") / col("n_tokens").cast("double"))
          .as("frac_lost"))
  }

  /** Content fingerprint: md5 of the normalized text (lower-cased, whitespace
    * collapsed) — the exact-dedup key that survives formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Rabin-Karp rolling-hash winnowing fingerprints (Schleimer et al., SIGMOD'03):
    * k-gram rolling hashes over the normalized char stream, minimum per window.
    * Driver-free, but not SQL-expressible — covered by ScalaTest, not the oracle.
    * Returns (id, array<long> fingerprints).
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 8, window: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idIdx = 0
    df.select(col(idCol).cast("long"), fingerprintNormalize(col(textCol)))
      .map { r =>
        val id = r.getLong(idIdx)
        val s = r.getString(1)
        (id, winnow(s, k, window))
      }.toDF(idCol, "fingerprints")
  }

  private def fingerprintNormalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Pure-Scala winnowing over one string (used per-row inside the Dataset map). */
  private[ext] def winnow(s: String, k: Int, window: Int): Array[Long] = {
    if (s.length < k) return Array.empty
    val B = 257L; val M = 1000000007L
    var pow = 1L; (1 until k).foreach(_ => pow = pow * B % M)
    val hashes = new Array[Long](s.length - k + 1)
    var h = 0L
    (0 until k).foreach(i => h = (h * B + s.charAt(i)) % M)
    hashes(0) = h
    var i = k
    while (i < s.length) {
      h = ((h - s.charAt(i - k) * pow % M + M * 257) % M * B + s.charAt(i)) % M
      hashes(i - k + 1) = h
      i += 1
    }
    if (hashes.length <= window) return Array(hashes.min)
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var j = 0
    while (j + window <= hashes.length) {
      val m = hashes.slice(j, j + window).min
      if (out.isEmpty || out.last != m) out += m
      j += 1
    }
    out.toArray
  }

  /** Top-k collocations by pointwise mutual information:
    * `PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) )` over adjacent word pairs, with a
    * minimum pair count (PMI without a support floor surfaces one-off noise).
    * The vocabulary-induction signal behind phrase mining / wordpiece-style
    * merges: high-PMI adjacent pairs are the units worth fusing into one token.
    *
    * Three aggregations — bigram counts, unigram counts, two 1-row totals
    * broadcast back — then two unigram-keyed joins. All counts are integers and
    * the PMI arithmetic is stated with the identical operation order in the SQL
    * oracle, so the doubles (and the rank cut) match bit-for-bit. The top-k cut
    * is `orderBy(...).limit(k)` → TakeOrderedAndProject, never a global sort.
    * Output: (bigram, n_pair, pmi), k rows.
    */
  def collocations(df: DataFrame, textCol: String, k: Int = 20,
                   minCount: Long = 5L): DataFrame = {
    val words = df.select(split(col(textCol), " ").as("w"))
    val bigrams = words
      .select(explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> struct(x as w1, w[i + 1] as w2))"))
        .as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val unigrams = words.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_tok"))
    val totals = bigrams.agg(sum(col("n_pair")).as("t_pairs"))
      .crossJoin(unigrams.agg(sum(col("n_tok")).as("t_toks")))
    bigrams
      .filter(col("n_pair") >= minCount)
      .join(unigrams.select(col("t").as("w1"), col("n_tok").as("n_a")), "w1")
      .join(unigrams.select(col("t").as("w2"), col("n_tok").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("t_toks") * col("t_toks") /
          (col("t_pairs").cast("double") * col("n_a") * col("n_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(k)
  }

  /** Window-`w` skip-gram co-occurrence PMI — the word2vec/GloVe
    * preprocessing statistic: unordered token pairs within `window` positions
    * of each other, scored with the same PMI convention as [[collocations]]
    * (which is the `window = 1` adjacent special case). Pairs are
    * canonicalized (lexicographic least first) so both directions count to
    * one cell.
    *
    * Pair generation is ARRAY-LOCAL via the native codegen kernel
    * [[graft.functions.WordPairs]] (the ItemCF basket-form lesson plus the
    * WordShingles no-HOF lesson): no token-table self-join, the fan-out is
    * len×window map-side rows per document, and the pair-count aggregate is
    * map-side combined. Count tables are Zipf-bounded; totals broadcast as
    * 1-row aggregates.
    */
  def skipgramPmi(df: DataFrame, textCol: String, window: Int = 5,
                  k: Int = 20, minCount: Long = 5L): DataFrame = {
    val words = df.select(split(col(textCol), " ").as("w"))
    val pairs = df
      .select(explode(
        graft.functions.WordPairs.pairs(col(textCol), window)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
      .withColumn("w1", element_at(split(col("pair"), " "), 1))
      .withColumn("w2", element_at(split(col("pair"), " "), 2))
    val unigrams = words.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_tok"))
    val totals = pairs.agg(sum(col("n_pair")).as("t_pairs"))
      .crossJoin(unigrams.agg(sum(col("n_tok")).as("t_toks")))
    pairs
      .filter(col("n_pair") >= minCount)
      .join(unigrams.select(col("t").as("w1"), col("n_tok").as("n_a")), "w1")
      .join(unigrams.select(col("t").as("w2"), col("n_tok").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("pair"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("t_toks") * col("t_toks") /
          (col("t_pairs").cast("double") * col("n_a") * col("n_b"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("pair"))
      .limit(k)
  }

  /** Per-group unigram-distribution drift from the corpus:
    * `KL(P_group ‖ P_corpus)` in bits over whitespace tokens — the mixture
    * diagnostic a pipeline watches when rebalancing domains (a source whose
    * word distribution diverges from the blend is over/under-represented or
    * off-topic). Every group term also occurs in the corpus, so P_corpus > 0
    * wherever P_group > 0 and the sum is finite by construction.
    *
    * Three keyed aggregations ((group, term) counts → per-group totals +
    * corpus term counts) and one term-keyed join; the corpus total is a
    * broadcast 1-row aggregate. Per-term contributions are summed as
    * DECIMAL(18,8) — addition-order-independent, the [[TextQuality.unigramNll]]
    * pattern — so the result is identical across engines and partitionings.
    * Output: (group, n_tokens, kl_bits).
    */
  def groupDivergence(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(groupCol), explode(split(col(textCol), " ")).as("t"))
    val gt = tok.groupBy(col(groupCol), col("t")).agg(count(lit(1)).as("n_gt"))
    val g = gt.groupBy(col(groupCol)).agg(sum(col("n_gt")).as("n_g"))
    val ct = gt.groupBy(col("t")).agg(sum(col("n_gt")).as("n_t"))
    val total = ct.agg(sum(col("n_t")).as("n_total"))
    val pg = col("n_gt").cast("double") / col("n_g")
    val pc = col("n_t").cast("double") / col("n_total")
    gt.join(ct, "t")
      .join(g, groupCol)
      .crossJoin(broadcast(total))
      .withColumn("term_kl", (pg * log(pg / pc)).cast("decimal(18,8)"))
      .groupBy(col(groupCol))
      .agg(max(col("n_g")).as("n_tokens"),
        // nats → bits with an embedded ln(2) literal: both engines parse the
        // same double, dodging any libm log2-vs-ln/ln(2) last-bit skew
        round(sum(col("term_kl")).cast("double") / lit(0.6931471805599453), 6)
          .as("kl_bits"))
  }

  /** Per-group Jensen–Shannon divergence to the corpus unigram distribution
    * — the SYMMETRIC, [0, 1]-bounded (in bits) companion of
    * [[groupDivergence]]'s KL: JSD(P‖Q) = ½KL(P‖M) + ½KL(Q‖M) with
    * M = ½(P+Q), finite even where a source is missing corpus tokens, which
    * is exactly where raw KL(Q‖P) blows up — the data-mixture literature's
    * preferred distance for corpus-vs-corpus drift.
    *
    * The Q-side sum ranges over the WHOLE vocabulary for every group, so
    * the term table is |vocab| × |groups| rows — bounded by design because
    * groups are sources/splits (a handful), never documents. Terms pool in
    * DECIMAL(18,8); nats→bits via the shared embedded ln(2) literal.
    * Output per group: (grp, n_tokens, jsd_bits).
    */
  def groupJsDivergence(df: DataFrame, groupCol: String,
                        textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("grp"),
      explode(split(col(textCol), " ")).as("t"))
    // feeds g, ct and the term join
    val gt = Materialize(tok.groupBy(col("grp"), col("t"))
      .agg(count(lit(1)).as("n_gt"))).df
    val g = gt.groupBy(col("grp")).agg(sum(col("n_gt")).as("n_g"))
    val ct = gt.groupBy(col("t")).agg(sum(col("n_gt")).as("n_t"))
    val total = ct.agg(sum(col("n_t")).as("n_total"))
    val full = ct.crossJoin(g) // every (token, group) pair — Q's support
      .join(gt, Seq("t", "grp"), "left").na.fill(0L, Seq("n_gt"))
      .crossJoin(broadcast(total))
    val p = col("n_gt").cast("double") / col("n_g").cast("double")
    val q = col("n_t").cast("double") / col("n_total").cast("double")
    val m = lit(0.5) * (p + q)
    val term =
      (when(col("n_gt") > 0, lit(0.5) * p * log(p / m)).otherwise(lit(0.0)) +
        lit(0.5) * q * log(q / m)).cast("decimal(18,8)")
    full.select(col("grp"), col("n_g"), term.as("__t"))
      .groupBy(col("grp"))
      .agg(max(col("n_g")).as("n_tokens"),
        round(sum(col("__t")).cast("double") / lit(0.6931471805599453), 6)
          .as("jsd_bits"))
  }

  /** Characteristic terms per group — log-odds with an informative Dirichlet
    * prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words"): for token w in
    * group i vs the REST of the corpus,
    * δ = ln((y_iw + a_w)/(n_i + a₀ − y_iw − a_w))
    *   − ln((y_rw + a_w)/(n_r + a₀ − y_rw − a_w)),
    * σ² ≈ 1/(y_iw + a_w) + 1/(y_rw + a_w), z = δ/σ — the statistically sound
    * replacement for raw TF-IDF "top terms" when profiling what distinguishes
    * one source/language/split from the rest: the prior (a_w ∝ global
    * frequency, total mass `priorScale`) shrinks rare-word noise instead of
    * letting hapax legomena dominate.
    *
    * Scale shape: one token explode → (group, token) count (map-side
    * combined); group totals and the corpus total are broadcast; the
    * global-token join is the only corpus-sized shuffle. Ranking is a
    * per-group top-`topK` window over the ROUNDED z (rank on rounded values +
    * token tie-break — a last-ulp libm `ln` skew between engines cannot
    * reorder), which compiles to WindowGroupLimit.
    *
    * Output: (grp, token, n_grp, n_global, z_score, term_rank), `topK` rows
    * per group, z descending.
    */
  def logOddsTerms(df: DataFrame, groupCol: String, textCol: String,
                   priorScale: Double = 1000.0, minGlobalCount: Long = 5,
                   topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(groupCol).as("grp"),
      explode(split(col(textCol), " ")).as("t"))
    val gt = tok.groupBy(col("grp"), col("t")).agg(count(lit(1)).as("y_iw"))
    val g = gt.groupBy(col("grp")).agg(sum(col("y_iw")).as("n_i"))
    val ct = gt.groupBy(col("t")).agg(sum(col("y_iw")).as("y_w"))
      .filter(col("y_w") >= minGlobalCount)
    val total = ct.agg(sum(col("y_w")).as("n_tot"))

    val aw = lit(priorScale) * col("y_w").cast("double") / col("n_tot")
    val yRw = col("y_w") - col("y_iw")
    val nR = col("n_tot") - col("n_i")
    val delta =
      log((col("y_iw") + col("a_w")) /
        (col("n_i") + lit(priorScale) - col("y_iw") - col("a_w"))) -
      log((col("y_rw") + col("a_w")) /
        (col("n_r") + lit(priorScale) - col("y_rw") - col("a_w")))
    val sigma = sqrt(lit(1.0) / (col("y_iw") + col("a_w")) +
      lit(1.0) / (col("y_rw") + col("a_w")))
    val rank = Window.partitionBy(col("grp"))
      .orderBy(col("z_score").desc, col("t"))
    gt.join(ct, "t")
      .join(broadcast(g), "grp")
      .crossJoin(broadcast(total))
      .withColumn("a_w", aw)
      .withColumn("y_rw", yRw.cast("double"))
      .withColumn("n_r", nR.cast("double"))
      .withColumn("z_score", round(delta / sigma, 6))
      .withColumn("term_rank", row_number().over(rank))
      .filter(col("term_rank") <= topK)
      .select(col("grp"), col("t").as("token"), col("y_iw").as("n_grp"),
        col("y_w").as("n_global"), col("z_score"), col("term_rank"))
  }

  /** Zipf-law fit over the head of the corpus vocabulary: OLS slope of
    * ln(freq) on ln(rank) for the `topN` most frequent tokens. Natural text
    * sits near slope −1; a corpus drifting toward −0.5 (too uniform —
    * boilerplate/templating) or −2 (too peaked — spam loops) is the
    * distribution-health smoke alarm a curation pipeline watches per source.
    *
    * The vocabulary aggregate is corpus-scale; everything after the
    * `orderBy.limit(topN)` cut (TakeOrderedAndProject) is `topN` rows, so the
    * rank window's single partition is a constant-size table by construction.
    * Per-term OLS products are truncated to DECIMAL(18,8) before the sums —
    * addition-order-independent and identical across engines.
    * Output: one row (n_terms, slope, intercept).
    */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = df.select(explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(topN)
    val ranked = head
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n").desc, col("t"))))
      .select(log(col("rnk").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,8)")
    ranked
      .agg(count(lit(1)).cast("double").as("m"),
        sum(dec(col("x"))).cast("double").as("sx"),
        sum(dec(col("y"))).cast("double").as("sy"),
        sum(dec(col("x") * col("y"))).cast("double").as("sxy"),
        sum(dec(col("x") * col("x"))).cast("double").as("sxx"))
      .select(col("m").cast("long").as("n_terms"),
        round((col("sxy") - col("sx") * col("sy") / col("m")) /
          (col("sxx") - col("sx") * col("sx") / col("m")), 6).as("slope"),
        round(col("sy") / col("m") -
          ((col("sxy") - col("sx") * col("sy") / col("m")) /
            (col("sxx") - col("sx") * col("sx") / col("m"))) *
            (col("sx") / col("m")), 6).as("intercept"))
  }

  /** Heaps'-law vocabulary growth curve: cumulative distinct vocabulary vs
    * cumulative tokens over `buckets` growing id-ordered corpus prefixes.
    * Sub-linear growth (V ≈ K·Nᵝ, β ≈ 0.4-0.6) is what natural text does; a
    * curve bending UP signals injected noise/mojibake, flattening signals
    * template spam — the companion alarm to [[zipfSlope]].
    *
    * The growing-prefix distinct count is computed WITHOUT rescanning
    * prefixes: a term first appearing in bucket b contributes to every
    * prefix ≥ b, so cum_vocab is just a running sum over the per-bucket
    * first-appearance counts — one (term → min bucket) aggregate, then a
    * `buckets`-row window. Output: (bkt, n_tokens, cum_tokens, new_terms,
    * cum_vocab).
    */
  def heapsLaw(df: DataFrame, idCol: String, textCol: String,
               buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.agg((max(col(idCol)) + 1).as("__n"))
    val tok = df.crossJoin(broadcast(n))
      .select(floor(col(idCol) * buckets / col("__n")).cast("long").as("bkt"),
        explode(split(col(textCol), " ")).as("t"))
    val perBucket = tok.groupBy(col("bkt")).agg(count(lit(1)).as("n_tokens"))
    val newTerms = tok.groupBy(col("t")).agg(min(col("bkt")).as("bkt"))
      .groupBy(col("bkt")).agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTerms, Seq("bkt"), "left")
      .na.fill(0L, Seq("new_terms"))
      .select(col("bkt"), col("n_tokens"),
        sum(col("n_tokens")).over(w).as("cum_tokens"), col("new_terms"),
        sum(col("new_terms")).over(w).as("cum_vocab"))
  }

  /** Corpus-wide adjacent character-pair frequencies — the statistic the first
    * BPE merge iteration maximizes (Sennrich et al. '16: the merge chosen is
    * the most frequent symbol pair; iterating this IS tokenizer training, so
    * the top of this table is the merge list's head).
    *
    * Pair counts are weighted by word frequency, NOT recomputed per word
    * occurrence: the corpus first collapses to its vocabulary (one aggregate —
    * at 100 TB the vocab is millions of rows where the corpus is trillions),
    * and only vocabulary entries explode into (pair, n) rows. The final cut is
    * `orderBy.limit` → TakeOrderedAndProject, never a global sort.
    * Output: (pair, n_occ), topN rows by count desc then pair.
    */
  def bpePairStats(df: DataFrame, textCol: String, topN: Int = 20): DataFrame = {
    val vocab = df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    vocab
      .select(col("n"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(topN)
  }

  /** Boolean AND keyword search: documents containing EVERY term in `terms`.
    * The explode is pre-filtered to the query terms (the predicate rides the
    * scan-side projection, so non-matching tokens never leave the scan stage)
    * and the per-doc aggregate just checks the distinct-hit count — the
    * scan-and-probe shape. At index-serving scale the same plan runs against a
    * pre-built (term, doc_id) posting table bucketed by term, turning the scan
    * into a partition-pruned posting-list intersection. Output: (id) sorted.
    */
  /** Per-group vocabulary-diversity panel — the corpus-health dashboard row
    * that separates template farms from natural text: token/type counts,
    * type-token ratio, Shannon entropy of the unigram distribution (bits)
    * and the Simpson repeat-probability. A source whose entropy sits far
    * below its size-matched peers is template-generated; a TTR near 1 with
    * tiny counts is ID-like noise.
    *
    * One tokenize pass → (group, term) counts → group-keyed pool. The
    * entropy term Σ c·ln c is summed in DECIMAL(18,8)
    * (partition-order-exact), H = ln n − Σc·ln c / n re-derived in doubles
    * identically on both engines; Simpson Σc(c−1)/(n(n−1)) is exact integer
    * arithmetic until the final division. Output per group:
    * (group, n_tokens, n_types, ttr, entropy_bits, simpson).
    */
  def vocabDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(groupCol).as("grp"),
        explode(split(col(textCol), " ")).as("t"))
      .groupBy(col("grp"), col("t")).agg(count(lit(1)).as("c"))
    tf.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(18,8)")).as("sclc"),
        sum(col("c") * (col("c") - 1)).as("srep"))
      .select(col("grp"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round((log(col("n_tokens").cast("double")) -
            col("sclc").cast("double") / col("n_tokens")) /
          lit(0.6931471805599453), 6).as("entropy_bits"),
        round(col("srep").cast("double") /
          (col("n_tokens").cast("double") * (col("n_tokens") - 1)), 6)
          .as("simpson"))
  }

  def keywordAndSearch(df: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "keywordAndSearch needs at least one term")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.size)
      .select(col(idCol))
  }

  /** Per-document n-gram novelty against everything BEFORE it in corpus
    * order: the share of a doc's distinct word k-shingles whose first
    * occurrence (minimum `idCol` over the whole corpus) is the doc itself.
    * Novelty ≈ 1 = genuinely new text; ≈ 0 = recombination of earlier
    * material — the incremental-freshness score a crawl-ordering or
    * curriculum pass ranks by (complementary to q_dedup_*: low novelty
    * flags docs that are derivative without any single near-duplicate).
    *
    * Scale shape: one distinct-shingle explode (the native codegen
    * `word_shingles` kernel), one group-min over shingles, one equi-join
    * back — all linear in corpus shingles, never pairwise. Output per doc:
    * (idCol, n_sh, n_novel, novelty_rate).
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    val sh = Dedup.shingles(docs, idCol, textCol, k)
    val first = sh.groupBy(col("shingle")).agg(min(col(idCol)).as("__first"))
    sh.join(first, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col(idCol), col("n_sh"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_sh"), 6)
          .as("novelty_rate"))
  }

  /** Vocabulary-coverage / OOV curve: for each candidate vocabulary size V,
    * the share of total token OCCURRENCES covered by the top-V tokens (by
    * frequency, token-lexical tiebreak) — the first number a tokenizer
    * budget decision needs ("how big must the vocab be before the OOV rate
    * drops below 1%?"), and the occurrence-weighted complement of
    * `q_vocab_diversity`'s type-based view.
    *
    * Scale shape: one token-count groupBy over the scan (map-side combined),
    * then ranking of the VOCAB table via [[GlobalRank.globalRowNumber]] (no
    * single-task window even at web-corpus vocab sizes), then an explode of
    * |sizes| threshold tags per vocab row — linear in vocab × |sizes|, never
    * in corpus size. Output per V asc:
    * (vocab_size, covered_occurrences, total_occurrences, coverage, oov_rate).
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"bad vocab sizes $sizes")
    val toks = docs
      .select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = GlobalRank.globalRowNumber(
      toks, Seq(col("cnt").desc, col("tok")))
    val tagged = ranked.select(
      explode(array(sizes.map(lit(_)): _*)).as("vocab_size"),
      col("rn"), col("cnt"))
    tagged.groupBy(col("vocab_size"))
      .agg(sum(when(col("rn") <= col("vocab_size"), col("cnt")).otherwise(0L))
          .as("covered_occurrences"),
        sum(col("cnt")).as("total_occurrences"))
      .select(col("vocab_size"), col("covered_occurrences"),
        col("total_occurrences"),
        round(col("covered_occurrences").cast("double") /
          col("total_occurrences"), 6).as("coverage"),
        round(lit(1.0) - col("covered_occurrences").cast("double") /
          col("total_occurrences"), 6).as("oov_rate"))
      .orderBy(col("vocab_size"))
  }
}
