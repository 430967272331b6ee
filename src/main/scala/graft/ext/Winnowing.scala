package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
  * the MOSS algorithm): hash every character k-gram, slide a window of `w`
  * consecutive hashes, and record each window's minimum (rightmost position on
  * ties). The guarantee: any substring match of length ≥ w + k − 1 shares at
  * least one selected fingerprint, at an expected density of 2/(w+1) — the
  * local-sampling property that makes plagiarism/quotation detection robust to
  * insertion and reordering, where [[Dedup.simhash]] (global) and
  * [[Dedup.minhashSignatures]] (set-level) are not position-robust.
  *
  * Exactness/portability: the k-gram hash is the repo's standard 32-bit
  * md5-prefix; the window's rightmost-min is ONE integer key
  * `h·2²⁰ + (2²⁰−1−pos)` minimized over the window (smaller h wins, then the
  * LARGER position — the paper's tie rule), so both engines pick identical
  * fingerprints with plain MIN. Positions are capped at 2²⁰ (docs to 1 MiB;
  * require guards).
  *
  * Scale shape: the PRIMARY path ([[fingerprintProfile]], [[similarPairs]])
  * runs the whole hash+window-min selection inside the scan via the native
  * [[graft.functions.WinnowKeys]] expression — O(chars) per doc with a
  * monotonic deque, no per-character rows, no shuffle before the per-doc
  * result. The declarative twins ([[fingerprintProfileDeclarative]],
  * [[similarPairsDeclarative]]) state the same selection as explode → two
  * per-doc ROWS windows; they are what the DuckDB oracle replays, and
  * WinnowingSpec pins fused == declarative, so the fast kernel can never
  * drift from the replayable definition.
  *
  * Supersedes the Dataset-map prototype [[TextStats.winnowingFingerprints]]
  * (kept for its per-row kernel spec): that loop is opaque to Catalyst and
  * rows-only-checkable, takes plain window minima without the rightmost tie
  * rule, and dedupes only consecutive repeats — this form is paper-faithful
  * and every selection decision is replayed by the DuckDB oracle.
  */
object Winnowing {

  private val PosSpace = graft.functions.WinnowKeys.PosSpace

  /** (id, __keys) — per-doc DISTINCT selected fingerprint keys (ascending)
    * from the fused kernel. Docs with no full window (length < k+w−1) carry
    * an empty array and are dropped, matching the declarative inner join.
    */
  private def fusedKeys(df: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int): DataFrame =
    graft.plans.ScanFanout.fanOut(df.filter(length(col(textCol)) >= k))
      .select(col(idCol),
        (length(col(textCol)) - (k - 1)).cast("long").as("__nk"),
        graft.functions.WinnowKeys.winnowKeys(col(textCol), k, w).as("__keys"))
      .filter(size(col("__keys")) > 0)

  /** (id, position, 32-bit hash) rows for every character k-gram, one per
    * text position. Loud guard: a doc at or beyond the 2²⁰-char position
    * space would silently corrupt the packed min-key, so it raises instead.
    */
  private def gramHashes(df: DataFrame, idCol: String, textCol: String,
                         k: Int): DataFrame =
    df.filter(length(col(textCol)) >= k) // shorter docs have no k-grams
      .select(col(idCol),
        when(length(col(textCol)) < lit(PosSpace), col(textCol))
          .otherwise(raise_error(concat(
            lit("winnowing position space exceeded: doc length "),
            length(col(textCol))))).as("__t"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(1), length(col("__t")) - (k - 1))).as("__p"))
      .select(col(idCol), col("__p"),
        conv(substring(md5(substring(col("__t"), col("__p"), lit(k))), 1, 8),
          16, 10).cast("long").as("__h"))

  /** Per-doc fingerprint profile. Output: (id, n_kgrams, n_fingerprints,
    * density, fp_min) — density ≈ 2/(w+1) on random text (the paper's bound),
    * fp_min is the doc's smallest selected hash (a 1-word doc signature).
    * Docs shorter than k characters yield no k-grams and are omitted.
    */
  def fingerprintProfile(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    // keys are sorted ascending and key = h·2²⁰ + ..., so keys[0] >> 20 is
    // the doc's smallest selected hash
    fusedKeys(df, idCol, textCol, k, w)
      .select(col(idCol), col("__nk").as("n_kgrams"),
        size(col("__keys")).cast("long").as("n_fingerprints"),
        (size(col("__keys")).cast("double") / col("__nk").cast("double"))
          .as("density"),
        shiftright(element_at(col("__keys"), 1), 20).as("fp_min"))
  }

  /** Declarative twin of [[fingerprintProfile]] — the explode + window form
    * the DuckDB oracle replays; WinnowingSpec pins equality with the fused
    * kernel.
    */
  def fingerprintProfileDeclarative(df: DataFrame, idCol: String,
                                    textCol: String,
                                    k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    val grams = gramHashes(df, idCol, textCol, k)
    // one integer key: min over (hash asc, position desc) == winnowing's
    // rightmost-min tie rule
    val keyed = grams.select(col(idCol), col("__p"),
      (col("__h") * PosSpace + (lit(PosSpace - 1) - col("__p"))).as("__key"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), 0)
    val selected = keyed
      .withColumn("__sel", min(col("__key")).over(win))
      .withColumn("__wpos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__p"))))
      .filter(col("__wpos") >= w) // only full windows select fingerprints
      .select(col(idCol), col("__sel")).distinct()
      .select(col(idCol),
        floor(col("__sel") / PosSpace).cast("long").as("__fh"))
    val counts = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_kgrams"))
    selected.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fingerprints"), min(col("__fh")).as("fp_min"))
      .join(counts, idCol)
      .select(col(idCol), col("n_kgrams"), col("n_fingerprints"),
        (col("n_fingerprints").cast("double") / col("n_kgrams").cast("double"))
          .as("density"),
        col("fp_min"))
  }

  /** MOSS-style similar-document pairs: docs sharing ≥ `minShared` selected
    * fingerprint HASHES, scored by fingerprint overlap (shared /
    * min(|A|, |B|) — containment, so a short quote inside a long doc still
    * scores). Candidate generation is an equi-join on the fingerprint hash —
    * the winnowing analog of LSH banding; a hash shared by more than
    * `maxDf` docs is dropped first (boilerplate fingerprints behave exactly
    * like stop-shingles and would otherwise go quadratic).
    */
  def similarPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4, minShared: Int = 2,
                   maxDf: Long = 50L): DataFrame = {
    // distinct HASHES per doc: distinct keys can share a hash (same k-gram
    // selected at two positions), so dedupe again after dropping positions
    val fp = fusedKeys(df, idCol, textCol, k, w)
      .select(col(idCol), explode(array_distinct(
        transform(col("__keys"), kk => shiftright(kk, 20)))).as("__fh"))
    pairsFromFingerprints(fp, idCol, minShared, maxDf)
  }

  /** Declarative twin of [[similarPairs]] — oracle-replayable explode +
    * window form; WinnowingSpec pins equality with the fused kernel.
    */
  def similarPairsDeclarative(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 8, w: Int = 4, minShared: Int = 2,
                              maxDf: Long = 50L): DataFrame = {
    val grams = gramHashes(df, idCol, textCol, k)
    val win = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(-(w - 1), 0)
    val fp = grams
      .select(col(idCol), col("__p"),
        (col("__h") * PosSpace + (lit(PosSpace - 1) - col("__p"))).as("__key"))
      .withColumn("__sel", min(col("__key")).over(win))
      .withColumn("__wpos", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__p"))))
      .filter(col("__wpos") >= w)
      .select(col(idCol),
        floor(col("__sel") / PosSpace).cast("long").as("__fh"))
      .distinct()
    pairsFromFingerprints(fp, idCol, minShared, maxDf)
  }

  /** Shared candidate-join tail: stop-fingerprint cut at df ≤ maxDf, hash
    * equi-join, containment scoring. `fp` = (idCol, __fh) distinct rows.
    */
  private def pairsFromFingerprints(fp: DataFrame, idCol: String,
                                    minShared: Int, maxDf: Long): DataFrame = {
    // document frequency rides ONE hash-keyed window pass (no second
    // aggregate + join back), and the df-cut survivor table is materialized
    // once: its three consumers below (sizes, both self-join sides) hash on
    // different keys, so without a checkpoint AQE re-runs the whole
    // fingerprint kernel per branch (the Dedup.jaccardPairsPrefix finding —
    // and the fused kernel has no shuffle of its own to reuse)
    val pruned = Materialize(fp
      .withColumn("__df", count(lit(1)).over(
        Window.partitionBy(col("__fh"))))
      .filter(col("__df") <= maxDf).drop("__df")).df
    val sizes = pruned.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val shared = pruned.select(col(idCol).as("id_a"), col("__fh"))
      .join(pruned.select(col(idCol).as("id_b"), col("__fh")), "__fh")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    shared
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("__na"), col("__nb")).cast("double")).as("containment"))
  }
}
