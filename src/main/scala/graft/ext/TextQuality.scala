package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Corpus-quality operators in the Gopher/C4 filtering tradition (Rae et al. 2021
  * §A1.1; Raffel et al. 2020 §2.2): repetition and diversity signals that
  * large-scale training-data pipelines use to drop boilerplate and degenerate
  * documents, plus corpus-level n-gram statistics and PII redaction.
  *
  * North-star extensions beyond the reference (SURVEY.md §7.2.6). Every metric is
  * groupBy/aggregate-shaped — shuffles key on doc_id (uniform), partial
  * aggregation applies map-side, nothing is quadratic — and each has a 1:1 DuckDB
  * formulation for the oracle.
  */
object TextQuality {

  /** Feature-hashed linear document scorer — the fastText-classifier shape
    * (Joulin et al. 2016: hash word uni/bigrams into a fixed feature space,
    * score = σ(mean feature weight)) that backs most production quality /
    * topic filters at corpus scale. The Spark plumbing is the real thing:
    * tokenize → n-gram → hash → per-doc reduce, all codegen expressions with
    * zero shuffles beyond the doc-keyed aggregate. The WEIGHTS are a
    * deterministic hash-derived stand-in (no trained model ships in this
    * library — a real deployment broadcasts its weight vector and replaces
    * `bucketWeight` alone; every other column is production-shaped).
    *
    * Hash = first 8 md5 hex chars mod `nFeatures` (engine-portable, unlike
    * xxhash whose DuckDB/Spark implementations differ); per-doc weight sums
    * ride DECIMAL. Output: (doc_id, n_feats, raw, score) with
    * raw = mean weight and score = sigmoid(raw).
    */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        nFeatures: Int = 4096): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    // unigrams ++ joining bigrams, one generator
    val bigrams = when(size(toks) >= 2,
      zip_with(slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit("_"), b)))
      .otherwise(array().cast("array<string>"))
    val bucket = conv(substring(md5(col("feat")), 1, 8), 16, 10)
      .cast("long") % nFeatures
    df.select(col(idCol).as("doc_id"),
        explode(concat(toks, bigrams)).as("feat"))
      .select(col("doc_id"), bucketWeight(bucket).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        (sum(col("w").cast("decimal(27,12)")).cast("double") /
          count(lit(1))).as("raw"))
      .select(col("doc_id"), col("n_feats"), round(col("raw"), 6).as("raw"),
        round(lit(1.0) / (lit(1.0) + exp(-col("raw"))), 6).as("score"))
  }

  /** The stand-in weight for a hashed feature bucket: a fixed pseudo-random
    * value in [-0.5, 0.5] derived from the bucket id. Swap for a broadcast
    * lookup against trained weights in a real deployment.
    */
  def bucketWeight(bucket: Column): Column =
    (bucket % 997).cast("double") / 996.0 - 0.5

  /** Per-document repetition/diversity signals:
    *  - `n_tokens`: whitespace token count
    *  - `type_token_ratio`: distinct / total tokens (low → repetitive)
    *  - `top_token_ratio`: most frequent token's share (high → degenerate)
    *  - `dup_bigram_frac`: 1 − distinct/total bigrams (high → looping text)
    *  - `keep`: the composite Gopher-style keep decision
    *
    * Two aggregations keyed on doc_id (token stats, bigram stats) joined back —
    * both partial-aggregate map-side; per-doc state is O(distinct tokens), never
    * corpus-wide.
    */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String,
                    maxTopTokenRatio: Double = 0.20,
                    maxDupBigramFrac: Double = 0.30): DataFrame = {
    val tf = df.select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("c"))
    val tokenStats = tf.groupBy(col(idCol)).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("max_tf"))
    // bigrams WITH duplicates (repetition is the signal, so no distinct here)
    val bigramStats = df.select(col(idCol),
        explode(graft.functions.WordShingles.shingles(col(textCol), 2)).as("b"))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bg"),
        countDistinct(col("b")).as("n_distinct_bg"))
    val ttr = col("n_distinct").cast("double") / col("n_tokens")
    val topTf = col("max_tf").cast("double") / col("n_tokens")
    val dupBg = lit(1.0) - col("n_distinct_bg").cast("double") / col("n_bg")
    tokenStats.join(bigramStats, idCol)
      .select(col(idCol),
        col("n_tokens"),
        round(ttr, 6).as("type_token_ratio"),
        round(topTf, 6).as("top_token_ratio"),
        round(dupBg, 6).as("dup_bigram_frac"),
        (topTf <= maxTopTokenRatio && dupBg <= maxDupBigramFrac).as("keep"))
  }

  /** Char-weighted repetition signals (the Gopher repetition filters' other half:
    * [[gopherSignals]] counts duplicated n-grams, this weights them by the
    * characters they cover, so a few long repeated phrases register as strongly
    * as many short ones):
    *  - `w_total`: Σ count·len over the doc's word `k`-grams (with duplicates)
    *  - `w_dup`: the same sum restricted to n-grams occurring ≥ 2 times
    *  - `dup_ngram_char_frac`: w_dup / w_total (high → looping/boilerplate text)
    *  - `top_ngram_char_frac`: the single most frequent n-gram's count·len share
    *    (ties broken by n-gram text for cross-engine determinism)
    *
    * One (doc, ngram) count aggregate feeding a doc-keyed aggregate plus a rank-1
    * window — all keyed on doc_id (uniform), partial-aggregated map-side; the
    * rank window compiles to WindowGroupLimit. Per-doc state is O(distinct
    * n-grams), never corpus-wide.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(col(idCol),
        explode(graft.functions.WordShingles.shingles(col(textCol), k)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("w", col("c") * length(col("g")))
    val perDoc = counts.groupBy(col(idCol)).agg(
      sum(col("w")).as("w_total"),
      sum(when(col("c") >= 2, col("w")).otherwise(0L)).as("w_dup"))
    val top = counts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("c").desc, col("g"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("w").as("w_top"))
    perDoc.join(top, idCol)
      .select(col(idCol), col("w_total"), col("w_dup"),
        round(col("w_dup").cast("double") / col("w_total"), 6)
          .as("dup_ngram_char_frac"),
        round(col("w_top").cast("double") / col("w_total"), 6)
          .as("top_ngram_char_frac"))
  }

  /** Corpus-wide top-`topN` word `k`-grams by document frequency (distinct per doc,
    * so a single looping document can't dominate). The global top-N runs as
    * TakeOrderedAndProject — per-partition heaps, only N rows per partition reach
    * the driver-side merge; no single-partition global sort. Ties break on the
    * n-gram text for determinism.
    */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                k: Int = 2, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFreq = Dedup.shingles(df, idCol, textCol, k)
      .groupBy(col("shingle").as("ngram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(topN)
    // rank window runs AFTER the top-N cut — topN rows, not the corpus
    byFreq.withColumn("rank",
      row_number().over(Window.orderBy(col("doc_freq").desc, col("ngram")))
        .cast("long"))
  }

  // PII patterns — RE2-safe (no backreferences/lookaround) so the same pattern
  // string runs in Spark (java.util.regex) and DuckDB (RE2) identically.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val CardRe = "[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}"
  val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact PII spans with typed placeholders. Order matters: card before
    * ssn/phone (a card's groups would otherwise partially match the shorter
    * digit patterns), ssn before phone (disjoint shapes, but explicit beats
    * implicit). Pure codegen'd expression — no UDF.
    */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val c = regexp_replace(e, CardRe, "<CARD>")
    val s = regexp_replace(c, SsnRe, "<SSN>")
    regexp_replace(s, PhoneRe, "<PHONE>")
  }

  /** Per-document unigram language-model score: average negative log-likelihood
    * of the document's tokens under the corpus unigram distribution
    * (perplexity = e^avg_nll, left to the caller — exponentiation would stack
    * float drift onto the oracle compare). Low avg_nll → the doc looks like the
    * corpus; high → outlier/garbage. This is the cheap first-pass LM filter a
    * training pipeline runs before an expensive neural scorer.
    *
    * Two corpus-keyed aggregations (per-doc-token tf, corpus token counts) and
    * one token-keyed join; the corpus total rides along as a broadcast 1-row
    * aggregate. Per-token log-likelihoods are summed as DECIMAL(18,8) so the
    * result is addition-order-independent — identical across engines and
    * partitionings at any scale.
    */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val corpus = tf.groupBy(col("t")).agg(sum(col("tf")).as("cnt"))
    val total = corpus.agg(sum(col("cnt")).as("total"))
    tf.join(corpus, "t")
      .crossJoin(broadcast(total))
      .withColumn("ll",
        (col("tf") * log(col("cnt").cast("double") / col("total")))
          .cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(-sum(col("ll")).cast("double") / sum(col("tf")), 6).as("avg_nll"))
  }

  /** Interpolated bigram-LM per-document scoring — the next rung above
    * [[unigramNll]] on the LM-quality-filter ladder: each bigram scores
    * `−ln(λ_bi·c(w₁w₂)/c(w₁) + λ_uni·c(w₂)/N)` (Jelinek-Mercer smoothing;
    * the unigram term keeps unseen-context probabilities finite), averaged
    * per document. Context counts use the plain unigram count (the standard
    * closed-corpus convention, stated so the oracle matches exactly).
    *
    * Scale shape mirrors unigramNll: bigram/unigram count tables are
    * Zipf-bounded vocab aggregates (map-side combined), the corpus total is
    * a broadcast 1-row aggregate, and the log terms — computed once per
    * DISTINCT (doc, w₁, w₂) — sum in DECIMAL(18,8) so the per-doc score is
    * partition-order independent. λ's are two explicit literals (not
    * 1−λ — binary 1.0−0.7 ≠ the SQL literal 0.3) so both engines evaluate
    * the identical double formula.
    */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
                lambdaBi: Double = 0.7, lambdaUni: Double = 0.3): DataFrame = {
    val l = split(col(textCol), " ")
    val bgArr = zip_with(
      slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val dbf = df.select(col(idCol), explode(bgArr).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
    val c2 = dbf.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cnt2"))
    val c1 = df.select(explode(l).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt1"))
    val tot = c1.agg(sum(col("cnt1")).as("total"))
    val p = lit(lambdaBi) * (col("cnt2").cast("double") / col("cut1")) +
      lit(lambdaUni) * (col("cut2").cast("double") / col("total"))
    dbf.join(c2, Seq("w1", "w2"))
      .join(c1.select(col("t").as("w1"), col("cnt1").as("cut1")), Seq("w1"))
      .join(c1.select(col("t").as("w2"), col("cnt1").as("cut2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("ll", (col("bf") * log(p)).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(sum(col("bf")).as("n_bigrams"),
        round(-sum(col("ll")).cast("double") / sum(col("bf")), 6).as("avg_nll2"))
  }

  /** Interpolated TRIGRAM-LM per-document scoring — the top rung of the
    * [[unigramNll]]/[[bigramNll]] quality-filter ladder: each trigram scores
    * `−ln(λ₃·c(w₁w₂w₃)/c(w₁w₂) + λ₂·c(w₂w₃)/c(w₂) + λ₁·c(w₃)/N)`
    * (three-way Jelinek-Mercer backoff; the lower orders keep unseen
    * contexts finite). The context counts are POSITIONAL bigram/unigram
    * counts from the same token stream, so every trigram's context exists
    * by construction (no zero denominators).
    *
    * Scale shape mirrors bigramNll one order up: all count tables are
    * Zipf-bounded n-gram aggregates (map-side combined), the probe joins
    * are equi-joins on (w1,w2)/(w2,w3)/w2/w3, log terms computed once per
    * DISTINCT (doc, trigram) and pooled in DECIMAL(18,8). Docs with fewer
    * than 3 tokens are absent from the output (no trigrams — stated so the
    * oracle matches). λ's are three explicit literals (two-engines-one-
    * literal discipline).
    */
  def trigramNll(df: DataFrame, idCol: String, textCol: String,
                 lambdaTri: Double = 0.6, lambdaBi: Double = 0.3,
                 lambdaUni: Double = 0.1): DataFrame = {
    val l = split(col(textCol), " ")
    val n3 = greatest(size(l) - 2, lit(0))
    val tgArr = zip_with(
      slice(l, lit(1), n3),
      zip_with(slice(l, lit(2), n3), slice(l, lit(3), n3),
        (b, c) => struct(b.as("w2"), c.as("w3"))),
      (a, p) => struct(a.as("w1"), p.getField("w2").as("w2"),
        p.getField("w3").as("w3")))
    val dtf = df.select(col(idCol), explode(tgArr).as("t"))
      .select(col(idCol), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
    val c3 = dtf.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("tf")).as("cnt3"))
    val bgArr = zip_with(
      slice(l, lit(1), greatest(size(l) - 1, lit(0))),
      slice(l, lit(2), greatest(size(l) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val c2 = df.select(explode(bgArr).as("b"))
      .select(col("b.w1").as("b1"), col("b.w2").as("b2"))
      .groupBy(col("b1"), col("b2")).agg(count(lit(1)).as("cnt2"))
    val c1 = df.select(explode(l).as("t0"))
      .groupBy(col("t0")).agg(count(lit(1)).as("cnt1"))
    val tot = c1.agg(sum(col("cnt1")).as("total"))
    val p = lit(lambdaTri) * (col("cnt3").cast("double") / col("cnt_ctx")) +
      lit(lambdaBi) * (col("cnt_suf").cast("double") / col("cnt_w2")) +
      lit(lambdaUni) * (col("cnt_w3").cast("double") / col("total"))
    dtf.join(c3, Seq("w1", "w2", "w3"))
      .join(c2.select(col("b1").as("w1"), col("b2").as("w2"),
        col("cnt2").as("cnt_ctx")), Seq("w1", "w2"))
      .join(c2.select(col("b1").as("w2"), col("b2").as("w3"),
        col("cnt2").as("cnt_suf")), Seq("w2", "w3"))
      .join(c1.select(col("t0").as("w2"), col("cnt1").as("cnt_w2")), Seq("w2"))
      .join(c1.select(col("t0").as("w3"), col("cnt1").as("cnt_w3")), Seq("w3"))
      .crossJoin(broadcast(tot))
      .withColumn("ll", (col("tf") * log(p)).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        round(-sum(col("ll")).cast("double") / sum(col("tf")), 6).as("avg_nll3"))
  }

  /** HELD-OUT trigram perplexity scoring — the honest version of
    * [[trigramNll]]: counts come from the TRAIN split only and the TEST
    * split is scored against them, so a unique-but-incoherent document can
    * no longer look "predictable" by predicting itself (the in-corpus MLE
    * pathology). Unseen events back off gracefully:
    * `p = λ₃·[c₃/c₂ctx | 0 if ctx unseen] + λ₂·[c₂suf/c₁(w₂) | 0] +
    *  λ₁·c₁(w₃)/N + λ₀/V` — the λ₀/V uniform floor keeps p > 0 for
    * fully-unseen tokens (V = train vocabulary size).
    *
    * Split is the deterministic md5 bucket ([[Splits.hashBucket]] < trainPct)
    * so both engines carve identical train/test sets. Scale shape mirrors
    * trigramNll with the probe joins turned LEFT (unseen n-grams survive to
    * the backoff terms); train count tables are Zipf-bounded.
    *
    * Output per TEST doc asc: (idCol, n_trigrams, heldout_nll).
    */
  def heldoutTrigramNll(df: DataFrame, idCol: String, textCol: String,
                        trainPct: Int = 80, l3: Double = 0.5,
                        l2: Double = 0.3, l1: Double = 0.15,
                        l0: Double = 0.05): DataFrame = {
    require(trainPct > 0 && trainPct < 100, s"bad trainPct $trainPct")
    val l = split(col(textCol), " ")
    val n3 = greatest(size(l) - 2, lit(0))
    val n2 = greatest(size(l) - 1, lit(0))
    def triRows(src: DataFrame) = src
      .select(col(idCol), explode(zip_with(
        slice(l, lit(1), n3),
        zip_with(slice(l, lit(2), n3), slice(l, lit(3), n3),
          (b, c) => struct(b.as("w2"), c.as("w3"))),
        (a, p) => struct(a.as("w1"), p.getField("w2").as("w2"),
          p.getField("w3").as("w3")))).as("t"))
      .select(col(idCol), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
    def bigRows(src: DataFrame) = src
      .select(explode(zip_with(slice(l, lit(1), n2), slice(l, lit(2), n2),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("b1"), col("b.w2").as("b2"))

    val isTrain = Splits.hashBucket(col(idCol)) < trainPct
    val train = df.filter(isTrain)
    val test = df.filter(!isTrain)
    val dtf = triRows(test)
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("tf"))
    val c3 = triRows(train).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("cnt3"))
    val c2 = bigRows(train).groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("cnt2"))
    val c1 = train.select(explode(l).as("t0"))
      .groupBy(col("t0")).agg(count(lit(1)).as("cnt1"))
    val tot = c1.agg(sum(col("cnt1")).as("nn"), count(lit(1)).as("vv"))
    val t3 = when(col("cnt_ctx").isNotNull,
      coalesce(col("cnt3"), lit(0L)).cast("double") / col("cnt_ctx"))
      .otherwise(lit(0.0))
    val t2 = when(col("cnt_w2").isNotNull,
      coalesce(col("cnt_suf"), lit(0L)).cast("double") / col("cnt_w2"))
      .otherwise(lit(0.0))
    val t1 = coalesce(col("cnt_w3"), lit(0L)).cast("double") / col("nn")
    val p = lit(l3) * t3 + lit(l2) * t2 + lit(l1) * t1 +
      lit(l0) * (lit(1.0) / col("vv"))
    dtf.join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("b1").as("w1"), col("b2").as("w2"),
        col("cnt2").as("cnt_ctx")), Seq("w1", "w2"), "left")
      .join(c2.select(col("b1").as("w2"), col("b2").as("w3"),
        col("cnt2").as("cnt_suf")), Seq("w2", "w3"), "left")
      .join(c1.select(col("t0").as("w2"), col("cnt1").as("cnt_w2")),
        Seq("w2"), "left")
      .join(c1.select(col("t0").as("w3"), col("cnt1").as("cnt_w3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("ll", (col("tf") * log(p)).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        round(-sum(col("ll")).cast("double") / sum(col("tf")), 6)
          .as("heldout_nll"))
  }

  /** Kneser-Ney interpolated BIGRAM scoring — the smoothing that actually
    * ships in n-gram LMs (Chen & Goodman 1999 found it dominant): instead
    * of [[bigramNll]]'s Jelinek-Mercer mixture, absolute discounting with a
    * CONTINUATION-count backoff,
    *
    *   p_KN(w₂|w₁) = (c(w₁w₂) − d)/c(w₁·) +
    *                 (d·N₁₊(w₁·)/c(w₁·)) · (N₁₊(·w₂)/N₁₊(··))
    *
    * where N₁₊(w₁·) = distinct continuations of w₁, N₁₊(·w₂) = distinct
    * contexts preceding w₂ ("how many ways has w₂ been seen", which is why
    * "Francisco" — frequent but only ever after "San" — gets a LOW backoff
    * weight where unigram frequency would overrate it), and N₁₊(··) = total
    * bigram types. In-corpus counts mean c(w₁w₂) ≥ 1 > d, so the discount
    * never clips. d is one explicit literal on both engines.
    *
    * Scale shape identical to [[bigramNll]]: all count tables are
    * Zipf-bounded bigram/continuation aggregates derived from ONE bigram
    * count table; log terms per DISTINCT (doc, bigram) pooled in
    * DECIMAL(18,8). Output per doc asc: (idCol, n_bigrams, kn_nll).
    */
  def kneserNeyBigramNll(df: DataFrame, idCol: String, textCol: String,
                         d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"discount d must be in (0,1), got $d")
    val l = split(col(textCol), " ")
    val n2 = greatest(size(l) - 1, lit(0))
    val bgArr = zip_with(slice(l, lit(1), n2), slice(l, lit(2), n2),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val dbf = df.select(col(idCol), explode(bgArr).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("bf"))
    val c2 = dbf.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("c12"))
    val ctx = c2.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val bwd = c2.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val nbt = c2.agg(count(lit(1)).as("nbt"))
    val p = (col("c12").cast("double") - lit(d)) / col("c1") +
      ((lit(d) * col("nf")) / col("c1")) *
        (col("nb").cast("double") / col("nbt"))
    dbf.join(c2, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(bwd, Seq("w2"))
      .crossJoin(broadcast(nbt))
      .withColumn("ll", (col("bf") * log(p)).cast("decimal(18,8)"))
      .groupBy(col(idCol))
      .agg(sum(col("bf")).as("n_bigrams"),
        round(-sum(col("ll")).cast("double") / sum(col("bf")), 6).as("kn_nll"))
  }

  /** Benchmark decontamination: for every non-benchmark document, the fraction of
    * its word `k`-gram shingles that appear anywhere in the benchmark set — the
    * standard train/eval leakage check (a near-copy of an eval document scores
    * ~1.0). The benchmark shingle set is distinct-ed and BROADCAST: eval suites
    * are tiny next to a training corpus, so the probe is a map-side semi-join —
    * no shuffle of the corpus at all.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 3): DataFrame = {
    val docSh = Dedup.shingles(docs, idCol, textCol, k)
    val benchSh = Dedup.shingles(benchmark, idCol, textCol, k)
      .select(col("shingle")).distinct()
    val hits = docSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    docSh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
      .join(hits, Seq(idCol), "left").na.fill(0L, Seq("n_hit"))
      .select(col(idCol), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("contamination"))
  }

  /** Containment join — the pair-level refinement of [[contamination]]: for
    * each (benchmark doc, corpus doc) pair, Jaccard CONTAINMENT
    * `|A ∩ B| / |A|` of the benchmark doc's shingle set A in the corpus doc's
    * set B. Containment, not Jaccard, is the right asymmetric measure here: a
    * short eval item pasted inside a long web page scores ~1.0 on containment
    * but near 0 on Jaccard (the page's size swamps the union).
    *
    * The benchmark shingle table (tiny vs the corpus) is BROADCAST into the
    * corpus-shingle scan, so candidate generation is map-side; only the
    * (bench_id, doc_id) hit pairs — bounded by corpus hits on benchmark
    * shingles — reach the pair aggregate. Output:
    * (bench_id, <idCol>, n_bench, n_shared, containment ≥ threshold).
    */
  def containmentPairs(docs: DataFrame, benchmark: DataFrame, idCol: String,
                       textCol: String, k: Int = 3,
                       threshold: Double = 0.5): DataFrame = {
    val benchSh = Dedup.shingles(benchmark, idCol, textCol, k)
      .select(col(idCol).as("bench_id"), col("shingle"))
    val benchSizes = benchSh.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_bench"))
    Dedup.shingles(docs, idCol, textCol, k)
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("bench_id"), col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(benchSizes), Seq("bench_id"))
      .select(col("bench_id"), col(idCol), col("n_bench"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_bench")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Bloom-filter variant of [[contamination]] for benchmark suites too big to
    * broadcast as an exact shingle array: the benchmark's xxhash64'd shingles go
    * into a `BloomFilter` sized for `fpp` (built DISTRIBUTED over the benchmark
    * side via `stat.bloomFilter`, which runs the `bloom_filter_agg` aggregate),
    * and every corpus shingle probes it through the codegen'd `might_contain`
    * expression with the filter bytes riding in the plan as a foldable literal —
    * constant memory per executor, zero corpus shuffle before the per-doc
    * aggregate, no UDF.
    *
    * `n_hit`/`contamination` are one-sided approximations: never below the exact
    * operator's values (a Bloom filter has no false negatives), inflated by at
    * most ~`fpp` of each document's non-benchmark shingles (TextQualitySpec
    * bounds the observed false-hit rate). `expectedItems` skips the sizing
    * count() on the benchmark side when the caller already knows it.
    */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, k: Int = 3, fpp: Double = 0.01,
                         expectedItems: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val benchHashes = Dedup.shingles(benchmark, idCol, textCol, k)
      .select(xxhash64(col("shingle")).as("h")).distinct()
    val n = math.max(expectedItems.getOrElse(benchHashes.count()), 1L)
    val bf = benchHashes.stat.bloomFilter("h", n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = ColumnBridge.bloomMightContain(
      lit(bytes), xxhash64(col("shingle")))
    Dedup.shingles(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(mightContain, 1L).otherwise(0L)).as("n_hit"))
      .select(col(idCol), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 6).as("contamination"))
  }

  /** Perplexity-filter retention curve — the tuning table behind an LM-score
    * quality cut (CCNet-style): rank documents by [[unigramNll]] ascending
    * (low NLL = closest to the corpus LM), cut into `buckets` equal-count
    * tiers, and report per tier the NLL cutoff plus the cumulative doc and
    * TOKEN retention a filter at that cutoff would keep. Token share is the
    * number that matters — perplexity filters keep short template-ish docs
    * and drop long tail ones, so doc- and token-retention diverge, and the
    * budget is in tokens.
    *
    * Scale shape: the NLL table is one token-keyed join ([[unigramNll]]);
    * the global ranking is [[GlobalRank.globalRowNumber]] (range partition +
    * per-partition offsets — no single-task sort); the curve itself is a
    * `buckets`-row aggregate + window. Output per tier:
    * (tier, n_docs, cutoff_nll, cum_docs, cum_tokens, token_share).
    */
  def nllRetentionCurve(df: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = unigramNll(df, idCol, textCol)
    val ranked = Materialize(
      GlobalRank.globalRowNumber(nll, Seq(col("avg_nll"), col(idCol)))).df
    val n = ranked.agg(count(lit(1)).as("__n"))
    val tiers = ranked.crossJoin(broadcast(n))
      .withColumn("tier", expr(s"((rn - 1) * $buckets) div __n") + 1)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_docs"), max(col("avg_nll")).as("cutoff_nll"),
        sum(col("n_tokens")).as("__toks"))
    val w = Window.orderBy(col("tier"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = tiers.agg(sum(col("__toks")).as("__tt"))
    tiers.crossJoin(broadcast(total))
      .select(col("tier"), col("n_docs"), round(col("cutoff_nll"), 6).as("cutoff_nll"),
        sum(col("n_docs")).over(w).as("cum_docs"),
        sum(col("__toks")).over(w).as("cum_tokens"),
        round(sum(col("__toks")).over(w).cast("double") / col("__tt"), 6)
          .as("token_share"))
  }

  /** Per-document PII hit counts (pre-redaction), one column per class. */
  def piiCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(CardRe)).cast("long").as("n_cards"),
      regexp_count(t, lit(SsnRe)).cast("long").as("n_ssns"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"))
  }
}
