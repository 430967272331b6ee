package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** Exact-substring deduplication — the Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better", arXiv:2107.06499) tier of
  * the dedup ladder: find maximal duplicate token runs of length ≥
  * `minLen` — cross-document by default, within-document repeats too via
  * `includeSelf` — and report the per-document spans a curation pipeline
  * would cut. Where the paper builds a monolithic suffix array,
  * this is the distributed suffix-array-lite: anchor on k-token grams,
  * self-join anchors, and recover maximal runs as contiguity islands on
  * the (docA, docB, positionA − positionB) diagonal — two anchors of the
  * same doc pair on the same diagonal at consecutive positions extend the
  * same run, so MIN/MAX over an island IS the maximal match.
  *
  * Pipeline:
  *   1. k-gram anchor table (one generator explode, scan-side);
  *   2. doc-frequency cap: grams seen in > `maxDf` docs are dropped via a
  *      BROADCAST anti-join ([[Dedup]]'s stop-shingle rule — Zipf keeps
  *      the hot-gram table tiny at any scale, and boilerplate that hot is
  *      the span/line-dedup tiers' job). A capped interior gram can split
  *      a run; both engines apply the same cap, so the split is
  *      deterministic;
  *   3. anchor self-join on the gram (one shuffle, exchange REUSED across
  *      both sides; pair fan-out per gram bounded by maxDf²);
  *   4. islands per (d1, d2, diagonal): `pos − row_number` island ids —
  *      the window is PARTITIONED by doc pair × diagonal, bounded by
  *      document length;
  *   5. runs ≥ minLen explode to both docs' intervals, which merge per
  *      doc (overlapping-or-adjacent) under a doc-partitioned window.
  *
  * Join keys are the gram STRINGS by default for oracle parity;
  * `gramHash = true` swaps in the production key — a 128-bit gram
  * fingerprint as two salted xxhash64 halves — so the df-cap aggregate,
  * the anti-join and the anchor self-join all shuffle 16-byte keys
  * instead of k-token strings (~50 bytes at k=8). The algorithm is
  * unchanged — only the key width; results are identical short of a
  * 128-bit collision (~2⁻¹²⁸ per gram pair; SubstringDedupSpec holds the
  * two paths differential on real corpus data).
  */
object SubstringDedup {

  /** Anchor table: (doc, pos, g) — the k-token gram starting at 1-based
    * token position `pos`, df-capped at `maxDf` docs per gram. With
    * `gramHash` the key column `g` is the 128-bit (h1, h2) struct instead
    * of the string; the hash is computed BEFORE the checkpoint, so the
    * materialized anchor table itself shrinks too.
    */
  private def anchors(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, maxDf: Int,
                      gramHash: Boolean = false): DataFrame = {
    val l = col("__l")
    // CHECKPOINT the gram table: it feeds the df-cap aggregate, both sides
    // of the self-join, and (via the callers) the stats/apply readouts —
    // without it Catalyst re-runs the tokenize+explode pipeline per
    // consumer (the r13 plan audit counted 12-19 parquet scans of
    // documents across the query family; with the checkpoint the corpus
    // is tokenized ONCE per query).
    val key =
      if (!gramHash) col("a.g")
      else struct(xxhash64(lit(0x9e3779b97f4a7c15L), col("a.g")).as("h1"),
        xxhash64(lit(0xc2b2ae3d27d4eb4fL), col("a.g")).as("h2"))
    val grams = Materialize(docs
      .select(col(idCol).cast("long").as("doc"),
        split(col(textCol), " ").as("__l"))
      .select(col("doc"), explode(when(size(l) >= k,
          transform(sequence(lit(1), size(l) - (k - 1)),
            i => struct(i.as("pos"),
              concat_ws(" ", slice(l, i, lit(k))).as("g"))))
        .otherwise(array())).as("a"))
      .select(col("doc"), col("a.pos").as("pos"), key.as("g"))).df
    val hot = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc")).as("df"))
      .filter(col("df") > maxDf).select(col("g"))
    grams.join(broadcast(hot), Seq("g"), "leftanti")
  }

  /** Maximal duplicate runs ≥ `minLen` tokens: one row per (d1 ≤ d2, run)
    * with both occurrences' 1-based inclusive token intervals and the
    * anchor count that witnessed the run. Default scope is CROSS-document
    * (d1 < d2); `includeSelf = true` adds WITHIN-document repeats (Lee et
    * al.'s exact-substring dedup removes those too): same-doc anchor
    * pairs at diag = p1 − p2 > 0 (one orientation only, so each mirrored
    * pair is counted once; [s2,e2] is the earlier occurrence). Self
    * pairing joins on (doc, gram) — a FINER shuffle key than the
    * cross-doc gram join, so it adds no cross-doc fan-out — and is
    * multiplicity-capped at `maxSelfOcc` occurrences per (doc, gram): the
    * df cap bounds distinct DOCS per gram but not repeats inside one doc,
    * and a token repeated m times in one doc would otherwise fan out
    * m²/2 self pairs (that degenerate boilerplate is the line-dedup
    * tier's job, same rationale as the stop-gram rule).
    */
  def duplicateRuns(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minLen: Int = 20,
                    maxDf: Int = 64, includeSelf: Boolean = false,
                    maxSelfOcc: Int = 8,
                    gramHash: Boolean = false): DataFrame = {
    require(k >= 2 && minLen >= k,
      s"need k >= 2 and minLen >= k, got k=$k minLen=$minLen")
    val anc = anchors(docs, idCol, textCol, k, maxDf, gramHash)
    val a = anc.select(col("g"), col("doc").as("d1"), col("pos").as("p1"))
    val b = anc.select(col("g"), col("doc").as("d2"), col("pos").as("p2"))
    val cross = a.join(b, Seq("g")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("p1"),
        (col("p1") - col("p2")).as("diag"))
    val pairs = if (!includeSelf) cross else {
      val occHot = anc.groupBy(col("doc"), col("g"))
        .agg(count(lit(1)).as("__occ")).filter(col("__occ") > maxSelfOcc)
        .select(col("doc"), col("g"))
      val sa = anc.join(occHot, Seq("doc", "g"), "leftanti")
      val sb = sa.select(col("doc"), col("g"), col("pos").as("p2"))
      val self = sa.join(sb, Seq("doc", "g"))
        .filter(col("pos") > col("p2"))
        .select(col("doc").as("d1"), col("doc").as("d2"),
          col("pos").as("p1"), (col("pos") - col("p2")).as("diag"))
      cross.unionByName(self)
    }
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("p1"))
    pairs
      .withColumn("__isl", col("p1") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("__isl"))
      .agg(min(col("p1")).as("s1"), max(col("p1")).as("__e1p"),
        count(lit(1)).as("n_anchors"))
      .filter(col("__e1p") - col("s1") + k >= minLen)
      .select(col("d1"), col("d2"), col("s1"),
        (col("__e1p") + (k - 1)).as("e1"),
        (col("s1") - col("diag")).as("s2"),
        (col("__e1p") - col("diag") + (k - 1)).as("e2"),
        (col("__e1p") - col("s1") + k).as("run_len"), col("n_anchors"))
  }

  /** Per-document REMOVED-span intervals: both sides of every duplicate
    * run, merged per doc when overlapping or adjacent. Output: (doc_id,
    * span_start, span_end, span_len), 1-based inclusive token positions.
    */
  def mergedSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, minLen: Int = 20, maxDf: Int = 64,
                  includeSelf: Boolean = false,
                  maxSelfOcc: Int = 8,
                  gramHash: Boolean = false): DataFrame = {
    val runs = duplicateRuns(docs, idCol, textCol, k, minLen, maxDf,
      includeSelf, maxSelfOcc, gramHash)
    val spans = runs.select(explode(array(
        struct(col("d1").as("doc"), col("s1").as("s"), col("e1").as("e")),
        struct(col("d2").as("doc"), col("s2").as("s"), col("e2").as("e"))))
        .as("sp"))
      .select(col("sp.doc").as("doc"), col("sp.s").as("s"), col("sp.e").as("e"))
      .distinct()
    val wd = Window.partitionBy(col("doc")).orderBy(col("s"), col("e"))
    spans
      .withColumn("__maxe", max(col("e")).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new", when(col("__maxe").isNull ||
        col("s") > col("__maxe") + 1, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(
        wd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc"), col("__grp"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc").as("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** APPLY step — the tier's output artifact: every document's text with
    * the merged duplicate spans REMOVED (surviving tokens re-joined with
    * single spaces, in order). Docs without spans pass through verbatim
    * (modulo whitespace normalization, which tokenization already imposed).
    * Shape: the span table is one row per span-bearing doc — it scales
    * with the corpus's duplicate MASS, not with a constant, so no
    * broadcast hint is forced: AQE broadcasts it when its runtime size
    * fits and falls back to a plain doc_id shuffle join when boilerplate
    * is heavy (the safe default at 100 TB). The per-doc reassembly is one
    * groupBy(doc) of kept tokens — the cost is the tokenize explode plus
    * one doc-keyed shuffle, the same class as any per-doc aggregate.
    */
  def removeSpans(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, minLen: Int = 20, maxDf: Int = 64,
                  includeSelf: Boolean = false,
                  maxSelfOcc: Int = 8,
                  gramHash: Boolean = false): DataFrame = {
    val spans = mergedSpans(docs, idCol, textCol, k, minLen, maxDf,
        includeSelf, maxSelfOcc, gramHash)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("__p0", "__tok")))
      .select(col("doc_id"), (col("__p0") + 1).as("__pos"), col("__tok"))
    toks.join(spans, Seq("doc_id"), "left")
      .filter(col("__spans").isNull || !exists(col("__spans"),
        sp => col("__pos") >= sp.getField("s") && col("__pos") <= sp.getField("e")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens_kept"),
        concat_ws(" ", array_sort(collect_list(
          struct(col("__pos"), col("__tok")))).getField("__tok"))
          .as("text_dedup"))
  }

  /** Per-document dedup readout over the merged spans: span count, tokens
    * removed, total tokens and the removal rate — one row per doc that
    * loses at least one span.
    */
  def dedupStats(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, minLen: Int = 20, maxDf: Int = 64,
                 includeSelf: Boolean = false,
                 maxSelfOcc: Int = 8,
                 gramHash: Boolean = false): DataFrame = {
    val merged = mergedSpans(docs, idCol, textCol, k, minLen, maxDf,
      includeSelf, maxSelfOcc, gramHash)
    val per = merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_len").cast("long")).as("dup_tokens"))
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    per.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("n_tokens"),
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_rate"))
  }
}
