package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Document deduplication for large-scale training-data pipelines: exact (hash-group),
  * n-gram Jaccard, MinHash+LSH, SimHash — north-star extensions beyond the reference.
  *
  * Every hash here is derived from md5 so the DuckDB oracle can replay it exactly
  * (`conv(substring(md5(x),1,n),16,10)` ⇔ `('0x'||substr(md5(x),1,n))::BIGINT`).
  * All operators stay in long format — shingles/signatures explode to rows, candidate
  * generation is an equi-join on a bucket key (never an all-pairs cross join), so the
  * shuffle volume scales with corpus size × shingles, not documents².
  */
object Dedup {

  /** 32-bit portable token hash (md5-prefix). */
  def tokenHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Exact dedup: canonical id (min) per identical text. Output:
    * (id, canonical_id, group_size) — rows whose id != canonical_id are the drops.
    *
    * Null-safe: null texts hash to a sentinel so they form one group like any
    * other duplicate class — a plain `md5(text)` join key would silently DROP
    * every null-text row (null join keys never match), losing data instead of
    * deduplicating it.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = coalesce(md5(col(textCol)), lit("__null_text__"))
    val groups = df.groupBy(key.as("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))
    df.select(col(idCol), key.as("text_md5"))
      .join(groups, "text_md5")
      .select(col(idCol), col("canonical_id"), col("group_size"))
  }

  /** Word k-gram shingles, long format: (id, shingle), distinct per doc. Uses the
    * native codegen'd [[graft.functions.WordShingles]] expression (the composable
    * `transform(sequence...)` formulation is CodegenFallback → interpreted → the
    * dominant cost of the dedup family at scale).
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.WordShingles.shingles(col(textCol), k)).as("shingle"))
      .distinct()

  /** Keep only shingles whose document frequency is ≤ `maxDf` — the stop-shingle cut.
    * Boilerplate shingles ("all rights reserved...") appear in a huge share of a web
    * corpus and make the candidate equi-join quadratic in their document frequency;
    * dropping them from CANDIDATE GENERATION bounds that term while verification
    * stays exact on the full shingle sets.
    */
  private def rareShingles(sh: DataFrame, maxDf: Long): DataFrame = {
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df_sh"))
      .filter(col("df_sh") > maxDf)
      .select(col("shingle"))
    sh.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  /** Pairwise shingle-Jaccard near-dup detection. Output: (id_a, id_b, jaccard) for
    * pairs with jaccard ≥ threshold, id_a < id_b. Candidate pairs come from the
    * shingle equi-join (docs sharing ≥1 shingle); prefer [[minhashLshPairs]] when the
    * co-occurrence join itself gets hot (very common shingles).
    *
    * `stopShingleMaxDf`: if set, shingles seen in more than that many documents are
    * excluded from candidate generation (they contribute O(df²) join rows each);
    * jaccard is still computed on the FULL shingle sets, so reported pairs keep exact
    * values — only pairs whose every shared shingle is hot can be missed.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, threshold: Double = 0.5,
                   stopShingleMaxDf: Option[Long] = None): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    stopShingleMaxDf match {
      case None =>
        // one-pass shape: the co-occurrence join IS both candidates and n_shared
        val a = sh.select(col(idCol).as("id_a"), col("shingle"))
        val b = sh.select(col(idCol).as("id_b"), col("shingle"))
        a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
          .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("na")), Seq("id_a"))
          .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            (col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
              .as("jaccard"))
          .filter(col("jaccard") >= threshold)
      case Some(maxDf) =>
        // two-phase: candidates from rare shingles only, exact verify on full sets
        val rare = rareShingles(sh, maxDf)
        val a = rare.select(col(idCol).as("id_a"), col("shingle"))
        val b = rare.select(col(idCol).as("id_b"), col("shingle"))
        val candidates = a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        verifyJaccard(candidates, sh, sizes, idCol, threshold)
    }
  }

  /** PPJoin-style prefix-filtered Jaccard pairs — the SAME output as
    * [[jaccardPairs]] (exact, no false negatives — the differential spec locks
    * it), with candidate generation restricted to each document's PREFIX
    * shingles under a global rarity order.
    *
    * Prefix filtering (Chaudhuri et al. SSJoin / Xiao et al. PPJoin): order
    * every document's shingles by ascending document frequency (ties by
    * shingle), and keep only the first `n − ceil(t·n) + 1` as join tokens. Two
    * sets with Jaccard ≥ t MUST share a token inside both prefixes, so the
    * equi-join on prefix tokens is a complete candidate generator — while hot
    * boilerplate shingles (highest df) sort LAST and fall outside almost every
    * prefix, killing the quadratic term the naive co-occurrence join pays on
    * them. Verification runs on full shingle sets, so values are exact.
    *
    * vs `stopShingleMaxDf`: the stop-shingle cut is a lossy heuristic (pairs
    * whose every shared shingle is hot are MISSED) needing a tuned cap; the
    * prefix filter is threshold-derived, parameter-free, and lossless. Cost:
    * one extra df aggregate + a per-doc rank window (keyed by doc — uniform).
    *
    * The shingle table feeds four branches (df counts, the prefix window, and
    * both sides of the exact verify); their exchanges hash on different keys,
    * so Catalyst cannot reuse one scan across them and AQE re-runs the whole
    * explode pipeline per branch (20 scans observed in the final plan).
    * `localCheckpoint` materializes it once — the multi-pass token-table shape
    * a PPJoin runs at corpus scale anyway.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Materialize(shingles(df, idCol, textCol, k)).df
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df_sh"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df_sh"), col("shingle"))
    // n_sh rides the SAME doc-keyed window pass as the rank (whole-partition
    // frame) instead of a separate aggregate + join back.
    val prefix = sh
      .join(dfreq, "shingle")
      .withColumn("pos", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .filter(col("pos") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      // the candidate self-join needs only token EQUALITY, not the token:
      // join on the 8-byte xxhash64 instead of the k-gram string (r17, the
      // r15 substring hashed-key move). LOSSLESS by construction, not just
      // to 2^-64: equal shingles always hash equal, so every true candidate
      // still joins; a collision can only ADD a candidate pair (and can
      // only LOWER min(pa)/min(pb), which weakens the positional filter —
      // admitting, never dropping), and verifyJaccard re-checks every
      // candidate on the full string shingle sets. Shuffle/broadcast rows
      // narrow from (id, k-gram string, pos, n_sh) to (id, int64, pos,
      // n_sh) — the quadratic term's key drops from ~25 B to 8 B.
      .select(col(idCol), xxhash64(col("shingle")).as("hsh"), col("pos"),
        col("n_sh"))
    val a = prefix.select(col(idCol).as("id_a"), col("hsh"),
      col("pos").as("pa"), col("n_sh").as("na"))
    val b = prefix.select(col(idCol).as("id_b"), col("hsh"),
      col("pos").as("pb"), col("n_sh").as("nb"))
    // Positional filter (Xiao et al. PPJoin §3.2 / Vernica et al. VLDB'10):
    // prefix positions follow the global token order, so the pair's FIRST
    // matched token (min pa — and min pb, both monotone in token order) caps
    // the true overlap at 1 + min(na − pa, nb − pb): no shared token sorts
    // before it, and every other shared token lies after it in BOTH sets.
    // Jaccard ≥ t needs overlap·(1+t) ≥ t·(na+nb) — stated as that product
    // inequality (exact for dyadic t; the 1e-9 slack only ever ADMITS extra
    // candidates, so the exact verify keeps the output lossless regardless).
    // Without it the verify join ran on 1600× more candidates than survivors.
    val candidates = a.join(b, Seq("hsh")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("pa")).as("pa1"), min(col("pb")).as("pb1"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .filter((lit(1) + least(col("na") - col("pa1"), col("nb") - col("pb1"))) *
        lit(1.0 + threshold) >= lit(threshold) * (col("na") + col("nb")) - lit(1e-9))
      .select("id_a", "id_b")
    verifyJaccard(candidates, sh, sizes, idCol, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair table against the full shingle
    * sets (shared by the capped jaccard path and MinHash+LSH).
    */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame, sizes: DataFrame,
                            idCol: String, threshold: Double): DataFrame = {
    val shared = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(candidates, Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    candidates.join(shared, Seq("id_a", "id_b"), "left").na.fill(0L, Seq("n_shared"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // MinHash constants: h_j(x) = (A(j)*x + B(j)) mod P over 32-bit token
  // hashes — canonical definitions live with the fused kernel
  // ([[graft.functions.MinHashSigs]]); delegated here so the aggregate form
  // and the SQL oracle can't drift from it.
  val MinhashPrime: Long = graft.functions.MinHashSigs.Prime
  def minhashA(j: Int): Long = graft.functions.MinHashSigs.hashA(j)
  def minhashB(j: Int): Long = graft.functions.MinHashSigs.hashB(j)

  /** MinHash signature aggregation over a pre-built (id, shingle) table — the one
    * place the per-hash min-agg formula lives, so [[minhashSignatures]] and
    * [[minhashLshPairs]] (and the SQL oracle mirroring it) can't drift apart.
    */
  def signaturesFromShingles(sh: DataFrame, idCol: String,
                             numHashes: Int = 16,
                             carryCols: Seq[String] = Nil): DataFrame = {
    val hashed = sh.withColumn("h", tokenHash32(col("shingle")))
    val aggs = (0 until numHashes).map { j =>
      min((lit(minhashA(j)) * col("h") + lit(minhashB(j))) % lit(MinhashPrime))
        .as(s"mh_$j")
    }
    hashed.groupBy((idCol +: carryCols).map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures: one column mh_j per hash function (numHashes columns).
    * min over the doc's shingles of (A_j·h32(shingle) + B_j) mod P.
    *
    * Fused scan-local form (r8): signatures come from the native codegen
    * expression [[graft.functions.MinHashSigs]] — min is duplicate-
    * insensitive, so the per-row fold over raw shingles is bit-identical to
    * [[signaturesFromShingles]]'s aggregate over DISTINCT shingles
    * (differential spec), with ZERO shuffle before banding. The aggregate
    * form remains the path for pre-filtered shingle sets (stop-shingle cut,
    * incremental-store deltas). `carryCols` ride along after the id, as in
    * [[bandKeys]].
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16,
                        carryCols: Seq[String] = Nil): DataFrame = {
    val keep = (idCol +: carryCols).map(col)
    // two projections on purpose: CollapseProject keeps the non-cheap kernel
    // aliased once, so the array computes one time per row, not per column
    val withSig = df.select(keep :+
      graft.functions.MinHashSigs.minhashSigs(col(textCol), k, numHashes)
        .as("__sig"): _*)
    withSig.select(keep ++ (0 until numHashes).map(j =>
      element_at(col("__sig"), j + 1).as(s"mh_$j")): _*)
  }

  /** MinHash + LSH banding: signatures are split into bands of `rowsPerBand`; docs
    * sharing any band key become candidates; candidates are verified with the exact
    * shingle Jaccard. Output: (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.
    *
    * Skew hardening for web-scale corpora:
    *  - `stopShingleMaxDf`: shingles above this document frequency are excluded from
    *    SIGNATURE computation (boilerplate shingles otherwise dominate every doc's
    *    minima, herding unrelated docs into the same buckets). Verification still
    *    runs on the full shingle sets, so emitted jaccard values are exact.
    *  - `saltFactor` > 1 spreads each hot band bucket over that many shuffle keys
    *    (explode one join side over salts, hash-bucket the other) — identical
    *    candidate pairs, `saltFactor`× the parallelism on the hottest key.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      stopShingleMaxDf: Option[Long] = None,
                      saltFactor: Int = 1): DataFrame = {
    require(saltFactor >= 1, s"saltFactor must be >= 1, got $saltFactor")
    val numBands = numHashes / rowsPerBand
    val sh = shingles(df, idCol, textCol, k)
    // unfiltered signatures take the fused scan-local kernel (zero shuffle);
    // a stop-shingle cut needs the explicit shingle table, so that path keeps
    // the aggregate form
    val sig = stopShingleMaxDf match {
      case None => minhashSignatures(df, idCol, textCol, k, numHashes)
      case Some(m) => signaturesFromShingles(rareShingles(sh, m), idCol, numHashes)
    }
    val banded = bandKeys(sig, idCol, numBands, rowsPerBand)
    val x = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
    val y = banded.select(col(idCol).as("id_b"), col("band"), col("bkey"))
    val joined =
      if (saltFactor == 1) x.join(y, Seq("band", "bkey"))
      else {
        val xs = x.withColumn("salt",
          explode(array((0 until saltFactor).map(lit): _*)))
        val ys = y.withColumn("salt",
          pmod(xxhash64(col("id_b")), lit(saltFactor)).cast("int"))
        xs.join(ys, Seq("band", "bkey", "salt"))
      }
    val candidates = joined
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    verifyJaccard(candidates, sh, sizes, idCol, threshold)
  }

  /** LSH band-key rows (id, band, bkey) from a signature table, via ONE
    * explode(array(struct...)) generator rather than a UNION ALL of per-band
    * projections. The union shape reads as if the signature aggregate computes
    * once with four projections over it — but Catalyst's column pruning
    * specializes each branch's partial aggregate to ITS 4 minima, so the four
    * exchanges differ and each re-runs the whole shingle pipeline (no AQE
    * reuse possible; measured 4× the shingle work). The generator keeps all
    * `numHashes` minima on one exchange and expands to band rows scan-side:
    * #docs × numBands tiny structs, noise next to one shingle pass. (The SQL
    * oracle keeps its UNION ALL over the sig CTE — DuckDB CTEs materialize
    * once, and output is identical either way.)
    */
  private[graft] def bandKeys(sig: DataFrame, idCol: String,
                              numBands: Int, rowsPerBand: Int,
                              carryCols: Seq[String] = Nil): DataFrame = {
    val bands = array((0 until numBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("bkey"))
    }: _*)
    sig.select((idCol +: carryCols).map(col) :+ explode(bands).as("__bb"): _*)
      .select((idCol +: carryCols).map(col) ++
        Seq(col("__bb.band").as("band"), col("__bb.bkey").as("bkey")): _*)
  }

  /** MinHash estimator diagnostics: for every LSH candidate pair, the signature
    * Jaccard ESTIMATE (matching components / numHashes) next to the exact
    * shingle Jaccard — the surface for tuning numHashes/rowsPerBand against a
    * corpus sample before a full run (estimator std ≈ √(J(1−J)/numHashes); with
    * 16 hashes ≈ 0.12 at J=0.5). Same candidate generation as
    * [[minhashLshPairs]]; no threshold — every candidate is reported, so the
    * error distribution is visible across the whole similarity range.
    * Output: (id_a, id_b, est_jaccard, jaccard).
    */
  def minhashEstimatePairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, numHashes: Int = 16,
                           rowsPerBand: Int = 4): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val sig = minhashSignatures(df, idCol, textCol, k, numHashes)
    val banded = bandKeys(sig, idCol, numHashes / rowsPerBand, rowsPerBand)
    val cand = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sigA = sig.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(j => col(s"mh_$j").as(s"__a_$j")): _*)
    val sigB = sig.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(j => col(s"mh_$j").as(s"__b_$j")): _*)
    val est = (0 until numHashes).map { j =>
      when(col(s"__a_$j") === col(s"__b_$j"), 1.0).otherwise(0.0)
    }.reduce(_ + _) / numHashes
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    verifyJaccard(cand, sh, sizes, idCol, threshold = 0.0)
      .join(cand.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
          .select(col("id_a"), col("id_b"), est.as("est_jaccard")),
        Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
  }

  /** b-bit MinHash audit (Li & König, WWW 2010): for every LSH candidate
    * pair, the full-signature Jaccard estimate next to the 1-bit and 2-bit
    * estimates — keeping only the lowest b bits of each signature component
    * cuts sketch storage 64/b-fold, at the price of chance collisions the
    * estimator debiases: with match rate p_b over the components,
    * Ĵ_b = (p_b − 2⁻ᵇ)/(1 − 2⁻ᵇ) (the paper's r→0 form; exact shingle
    * Jaccard rides along as truth). The numbers a 100 TB dedup run reads
    * before choosing its signature width.
    * Output: (id_a, id_b, est_full, est_b2, est_b1, jaccard).
    */
  def bbitMinhashPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 16,
                       rowsPerBand: Int = 4): DataFrame = {
    val sh = shingles(df, idCol, textCol, k)
    val sig = minhashSignatures(df, idCol, textCol, k, numHashes)
    val banded = bandKeys(sig, idCol, numHashes / rowsPerBand, rowsPerBand)
    val cand = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val sigA = sig.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(j => col(s"mh_$j").as(s"__a_$j")): _*)
    val sigB = sig.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(j => col(s"mh_$j").as(s"__b_$j")): _*)
    def estBits(b: Int): org.apache.spark.sql.Column = {
      val mask = (1L << b) - 1
      val p = (0 until numHashes).map { j =>
        when(col(s"__a_$j").bitwiseAND(lit(mask)) ===
          col(s"__b_$j").bitwiseAND(lit(mask)), 1.0).otherwise(0.0)
      }.reduce(_ + _) / numHashes
      val c = 1.0 / (1L << b).toDouble
      (p - lit(c)) / lit(1.0 - c)
    }
    val estFull = (0 until numHashes).map { j =>
      when(col(s"__a_$j") === col(s"__b_$j"), 1.0).otherwise(0.0)
    }.reduce(_ + _) / numHashes
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    verifyJaccard(cand, sh, sizes, idCol, threshold = 0.0)
      .join(cand.join(sigA, Seq("id_a")).join(sigB, Seq("id_b"))
          .select(col("id_a"), col("id_b"), estFull.as("est_full"),
            estBits(2).as("est_b2"), estBits(1).as("est_b1")),
        Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_full"), col("est_b2"),
        col("est_b1"), col("jaccard"))
  }

  /** Edit-distance near-dup verification: MinHash-LSH candidate generation
    * (same banding as [[minhashLshPairs]] — candidates stay an equi-join on
    * band keys, never corpus²) verified with LEVENSHTEIN distance instead of
    * shingle Jaccard — the character-level measure that catches small
    * in-place edits (typo farms, template fills, near-identical boilerplate)
    * which token-set Jaccard scores leniently. Verification uses Spark's
    * bounded `levenshtein(l, r, threshold)` kernel: O(len·maxDist) per pair
    * with early exit, not O(len²), so a pathological long-doc candidate
    * cannot stall an executor. Output: (id_a, id_b, edit_dist,
    * edit_sim = 1 − dist/max(len)), pairs with dist ≤ maxDist only.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                        maxDist: Int = 400): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val sig = minhashSignatures(df, idCol, textCol, k, numHashes)
    val banded = bandKeys(sig, idCol, numHashes / rowsPerBand, rowsPerBand)
    val candidates = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val t = df.select(col(idCol), col(textCol))
    candidates
      .join(t.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(t.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("__d"),
        greatest(length(col("__ta")), length(col("__tb"))).as("__ml"))
      .filter(col("__d") >= 0) // bounded kernel returns -1 above threshold
      .select(col("id_a"), col("id_b"), col("__d").cast("long").as("edit_dist"),
        (lit(1.0) - col("__d").cast("double") / col("__ml").cast("double"))
          .as("edit_sim"))
  }

  /** LSH candidate-recall curve: ground-truth pairs (exact all-pairs Jaccard ≥
    * `truthThreshold`) bucketed by similarity decile, with the fraction that
    * the MinHash banding SURFACES as candidates — the empirical S-curve
    * (P[candidate] = 1 − (1 − j^rows)^bands) measured on the actual corpus.
    * This is the banding tuning surface: run it on a corpus SAMPLE, pick
    * (numHashes, rowsPerBand) so the recall at the dedup threshold clears the
    * target, then run the full [[minhashLshPairs]] with those parameters.
    * The exact all-pairs truth join is why this belongs on a sample, not the
    * corpus ([[minhashEstimatePairs]] profiles estimator error the same way).
    * Output: (bucket = ⌊10·jaccard⌋, n_pairs, n_found, recall).
    */
  def lshRecallCurve(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                     truthThreshold: Double = 0.2): DataFrame = {
    val truth = jaccardPairs(df, idCol, textCol, k, truthThreshold)
    val sh = shingles(df, idCol, textCol, k)
    val sig = minhashSignatures(df, idCol, textCol, k, numHashes)
    val banded = bandKeys(sig, idCol, numHashes / rowsPerBand, rowsPerBand)
    val cand = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val found = sum(coalesce(col("found"), lit(0L)))
    truth.join(cand.withColumn("found", lit(1L)), Seq("id_a", "id_b"), "left")
      .withColumn("bucket", floor(col("jaccard") * 10).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), found.as("n_found"),
        round(found.cast("double") / count(lit(1)), 6).as("recall"))
  }

  /** Dup-rate vs threshold curve — the tuning surface for picking a near-dup
    * Jaccard cutoff: ONE exact pair computation at the loosest threshold, then
    * every tighter threshold's statistics fold from the same pair table. Per
    * threshold t: `n_pairs` (pairs with jaccard ≥ t), `n_dup_docs` (docs in at
    * least one such pair — via each doc's MAX pair jaccard), `dup_doc_rate`
    * (fraction of the corpus that would be flagged at t).
    *
    * Scale shape: the corpus-sized work (shingle join) runs once and the pair
    * table is localCheckpointed — dup pairs are ≪ corpus; the per-threshold
    * sweep is a broadcast crossJoin over that small table.
    */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 3,
                     thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
  : DataFrame = {
    require(thresholds.nonEmpty, "thresholdCurve needs at least one threshold")
    val spark = df.sparkSession
    import spark.implicits._
    // feeds the pair sweep AND the doc sweep
    val pairs = Materialize(jaccardPairs(df, idCol, textCol, k, thresholds.min)).df
    val th = thresholds.toDF("threshold")
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    val pairCounts = pairs.crossJoin(broadcast(th))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val docMax = pairs.select(col("id_a").as("__id"), col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("__id"), col("jaccard")))
      .groupBy(col("__id")).agg(max(col("jaccard")).as("__mj"))
    val docCounts = docMax.crossJoin(broadcast(th))
      .filter(col("__mj") >= col("threshold"))
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_dup_docs"))
    th.join(pairCounts, Seq("threshold"), "left")
      .join(docCounts, Seq("threshold"), "left")
      .crossJoin(broadcast(nDocs))
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double") /
          col("n_docs"), 6).as("dup_doc_rate"))
  }

  /** Incremental (new-batch-vs-corpus) dedup — the shape a continuously-refreshed
    * training corpus runs on every ingest: classify each `incoming` document as
    *  - `exact_dup`: byte-identical text already in `existing` (md5 key match;
    *    `match_id` = the smallest matching existing id)
    *  - `near_dup`: MinHash-LSH candidate against `existing` whose exact
    *    cross-set shingle Jaccard ≥ `threshold` (`match_id` = best match —
    *    highest jaccard, ties to the smallest id; `jaccard` = its value)
    *  - `new`: neither.
    * Output: (id, status, match_id, jaccard), one row per incoming document;
    * `match_id`/`jaccard` are null for `new`, `jaccard` null for `exact_dup`.
    *
    * Scale shape: the existing corpus is NEVER self-joined — its md5 keys feed
    * one grouped join, its band keys one cross-set equi-join (incoming side is
    * the small batch, so AQE broadcasts it), and exact verification touches only
    * candidate pairs. Exact-dup docs take precedence over any near match in the
    * final select (masking there instead of pruning candidates keeps the near
    * phase's subtrees reusable — see the in-code note). At 100 TB, persist
    * `existing`'s signatures/band keys once (they're ingest-invariant) instead
    * of recomputing per batch.
    */
  def incrementalDedup(incoming: DataFrame, existing: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                       threshold: Double = 0.5): DataFrame = {
    val key = coalesce(md5(col(textCol)), lit("__null_text__"))
    val exKeys = existing.groupBy(key.as("hkey"))
      .agg(min(col(idCol)).as("__ex_id"))
    val exact = incoming.select(col(idCol), key.as("hkey"))
      .join(exKeys, Seq("hkey"), "left")
      .select(col(idCol), col("__ex_id"))

    // near phase: one shingle→signature→band pipeline PER SIDE, with NOTHING
    // from the exact phase woven into it. Three shapes that look equivalent are
    // measurably worse (sf0.01 timings vs ~2s for this one):
    //  - routing the incoming side through `exact` before shingling inlines the
    //    exact-match join pipeline under every band projection, defeating AQE
    //    exchange reuse (18s);
    //  - a single side-tagged union pipeline (the oracle SQL's shape) is undone
    //    by Catalyst, which pushes the side filters back through the union and
    //    re-specializes every subtree per band AND per side (16s);
    //  - even a left-semi cut of exact-dups on the candidate table gets pushed
    //    down into every incoming band subtree, breaking their mutual reuse
    //    (6-9s). Exact-dup precedence is instead applied in the final select
    //    (identical output: the status CASE masks any near match an exact-dup
    //    doc also has), so the near phase's subtrees stay identical per side
    //    and each side's shingle/signature work runs once.
    val numBands = numHashes / rowsPerBand
    val shIn = shingles(incoming, idCol, textCol, k)
    val shEx = shingles(existing, idCol, textCol, k)
    val bandIn = bandKeys(signaturesFromShingles(shIn, idCol, numHashes),
      idCol, numBands, rowsPerBand)
    val bandEx = bandKeys(signaturesFromShingles(shEx, idCol, numHashes),
      idCol, numBands, rowsPerBand)
    val cand = bandIn.select(col(idCol).as("id_in"), col("band"), col("bkey"))
      .join(bandEx.select(col(idCol).as("id_ex"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select("id_in", "id_ex").distinct()
    val shared = shIn.select(col(idCol).as("id_in"), col("shingle"))
      .join(cand, Seq("id_in"))
      .join(shEx.select(col(idCol).as("id_ex"), col("shingle")),
        Seq("id_ex", "shingle"))
      .groupBy(col("id_in"), col("id_ex")).agg(count(lit(1)).as("n_shared"))
    val nIn = shIn.groupBy(col(idCol)).agg(count(lit(1)).as("n_in"))
    val nEx = shEx.groupBy(col(idCol)).agg(count(lit(1)).as("n_ex"))
    val best = cand.join(shared, Seq("id_in", "id_ex"), "left")
      .na.fill(0L, Seq("n_shared"))
      .join(nIn.select(col(idCol).as("id_in"), col("n_in")), Seq("id_in"))
      .join(nEx.select(col(idCol).as("id_ex"), col("n_ex")), Seq("id_ex"))
      .select(col("id_in"), col("id_ex"),
        (col("n_shared").cast("double") / (col("n_in") + col("n_ex") - col("n_shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id_in"))
          .orderBy(col("jaccard").desc, col("id_ex"))))
      .filter(col("__rn") === 1)

    exact
      .join(best.select(col("id_in").as(idCol), col("id_ex"), col("jaccard")),
        Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ex_id").isNotNull, lit("exact_dup"))
          .when(col("id_ex").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("__ex_id"), col("id_ex")).as("match_id"),
        // exact-dup precedence: a byte-identical doc may also band-collide;
        // its near match (if any) is masked here, not pruned upstream (see
        // the near-phase note on why pruning there wrecks the plan)
        when(col("__ex_id").isNull, col("jaccard")).as("jaccard"))
  }

  /** Connected components over a near-dup pair table: every document in a duplicate
    * cluster gets the cluster's minimum id as `cluster_id` — the step a dedup
    * pipeline runs AFTER pair generation to pick one canonical doc per cluster
    * (pairs alone aren't actionable: a↔b and b↔c must collapse to one keep-decision).
    *
    * Algorithm: min-label propagation with pointer jumping — each round, every
    * node takes the min label over its closed neighborhood, then shortcuts to its
    * new label's OWN label (path halving). The shortcut makes label-forest depth
    * collapse geometrically, so convergence is O(log n) rounds even for
    * chain-shaped clusters, where plain propagation needs O(diameter) rounds
    * (`pointerJump = false` keeps that variant for differentials). Each round is
    * three shuffles (edge join + groupBy + label self-join) on the EDGE table; the
    * loop checkpoints the label table every round via localCheckpoint to cut the
    * growing lineage. Singleton docs (no pairs) are absent from the output — join
    * against the corpus if they're needed.
    *
    * Adaptive small-graph path: the edge list of a dedup graph is sparse —
    * orders of magnitude smaller than the corpus that produced it — and its
    * size is known for free once the edge table is checkpointed. When it has
    * at most `unionFindMaxEdges` rows (and integral ids), the loop is replaced
    * by a single-task union-find (path halving + union by size, O(E·α)): one
    * narrow coalesce instead of 3·O(log n) shuffle rounds, each of which costs
    * a full scheduling round-trip regardless of data volume. 5M edges ≈ 80 MB
    * in one task — well under executor memory; above the threshold (or for
    * non-integral ids) the distributed rounds run unchanged, so the 100 TB
    * path never depends on any single task holding the graph.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 10,
                  pointerJump: Boolean = true,
                  unionFindMaxEdges: Long = 5000000L): DataFrame =
    dupClustersWithStats(pairs, maxIter, pointerJump, unionFindMaxEdges) match {
      case (labels, iters, converged) =>
        if (!converged)
          // partially-converged labels over-split clusters (a chain longer than
          // maxIter hops ends up under several cluster_ids) — loud, not silent
          throw new IllegalStateException(
            s"dupClusters did not converge after $iters rounds. With pointer " +
              "jumping rounds needed ~ log2(max cluster size); without, max " +
              "cluster diameter. Raise maxIter or enable pointerJump.")
        labels
    }

  /** [[dupClusters]] with convergence telemetry: (labels, rounds run, converged).
    * Callers that can tolerate partial labels (e.g. progressive refinement)
    * use this instead of the throwing wrapper.
    */
  def dupClustersWithStats(pairs: DataFrame, maxIter: Int = 10,
                           pointerJump: Boolean = true,
                           unionFindMaxEdges: Long = 5000000L): (DataFrame, Int, Boolean) = {
    // materialize the edge table once: every propagation round joins against it,
    // and without this the whole upstream pair pipeline (shingle join included)
    // would re-execute per round
    val Materialized(edges, nEdges, _) = Materialize(pairs.select(col("id_a"), col("id_b"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"))))
    val integralId = {
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(edges.schema("id_a").dataType)
    }
    if (integralId && nEdges <= unionFindMaxEdges)
      return (unionFindLabels(edges), 1, true)
    var labels = Materialize(edges
      .select(col("id_a").as("id"), col("id_a").as("cluster_id"))
      .union(edges.select(col("id_a").as("id"), col("id_b").as("cluster_id")))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))).df
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node adopts the min of its own label and its neighbors' labels.
      // The node's previous label rides along through the aggregate (every id
      // has exactly one self-branch row, so max() just picks it past the
      // edge-branch nulls) — convergence detection then reads the checkpointed
      // result directly instead of re-joining against the old labels, saving
      // one shuffle join per round.
      val base = edges
        .join(labels.select(col("id").as("id_b"), col("cluster_id").as("nbr")), Seq("id_b"))
        .select(col("id_a").as("id"), col("nbr"), lit(null).cast("long").as("old"))
        .union(labels.select(col("id"), col("cluster_id").as("nbr"),
          col("cluster_id").as("old")))
        .groupBy(col("id")).agg(min(col("nbr")).as("mid"), max(col("old")).as("old"))
      // pointer jump (path halving): shortcut to the new label's OWN label.
      // Every label value is a node id present in `labels` (labels start as mins
      // of node ids and stay so inductively), so the self-join always hits, and
      // lbl(mid) <= mid <= old keeps the labels monotone non-increasing.
      val stepped =
        if (pointerJump)
          base.join(labels.select(col("id").as("mid"), col("cluster_id").as("jmp")),
              Seq("mid"))
            .select(col("id"), col("jmp").as("cluster_id"), col("old"))
        else base.select(col("id"), col("mid").as("cluster_id"), col("old"))
      val next = Materialize(stepped).df
      val changed = next.filter(col("cluster_id") =!= col("old")).limit(1).count()
      labels = next.select(col("id"), col("cluster_id"))
      converged = changed == 0
      iter += 1
    }
    (labels, iter, converged)
  }

  /** Single-task union-find over the symmetric edge table — the small-graph
    * fast path of [[dupClusters]]. Path halving + union by size → O(E·α(E));
    * labels are the component-minimum id, identical to the distributed rounds'
    * output. Ids travel as longs and are cast back to the input's integral
    * type (min commutes with widening integral casts).
    */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val idType = edges.schema("id_a").dataType
    val spark = edges.sparkSession
    import spark.implicits._
    val labelled = edges
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        val size = new java.util.HashMap[Long, Int]()
        def add(x: Long): Unit =
          if (!parent.containsKey(x)) { parent.put(x, x); size.put(x, 1) }
        def find(x0: Long): Long = {
          var x = x0
          while (parent.get(x) != x) {
            val p = parent.get(x)
            val gp = parent.get(p) // path halving: value puts only, no resize
            parent.put(x, gp)
            x = gp
          }
          x
        }
        it.foreach { case (a, b) =>
          add(a); add(b)
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            val (big, small) =
              if (size.get(ra) >= size.get(rb)) (ra, rb) else (rb, ra)
            parent.put(small, big)
            size.put(big, size.get(big) + size.get(small))
          }
        }
        val minOf = new java.util.HashMap[Long, Long]()
        parent.keySet().forEach { n =>
          val r = find(n)
          if (!minOf.containsKey(r) || n < minOf.get(r)) minOf.put(r, n)
        }
        import scala.jdk.CollectionConverters._
        parent.keySet().iterator().asScala.map(n => (n, minOf.get(find(n))))
      }
    labelled.toDF("id", "cluster_id")
      .select(col("id").cast(idType).as("id"),
        col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** SimHash (Charikar'02) over word unigrams with term frequency weights —
    * the fused scan-local form: signatures come from the native codegen
    * expression [[graft.functions.SimHash32]], so the whole
    * explode → tf-aggregate → 32-bit-sum pipeline (TWO token-stream shuffles
    * in [[simhashAgg]]) collapses to a per-row expression at the scan.
    * Output: (id, simhash). Bit-identical to [[simhashAgg]] (differential
    * spec) and to the DuckDB oracle's aggregate formulation.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.SimHash32.simhash32(col(textCol)).as("simhash"))

  /** The dataflow formulation of [[simhash]] — kept as the differential-test
    * partner (SURVEY §5 discipline): bit j of
    * the signature is 1 iff Σ_tokens tf·(bit_j(h32(token)) ? +1 : −1) > 0.
    * 32-bit signature (from the 32-bit portable hash). Output: (id, simhash).
    */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("h", tokenHash32(col("tok")))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s_$j")
    }
    val sums = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 32).map { j =>
      when(col(s"s_$j") > 0, lit(1L) * lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup candidates: pairs whose 60-bit signatures
    * ([[graft.functions.SimHash60]]) match on at least one of
    * `maxHamming + 1` bands (hamming-distance-bounded blocking), verified
    * by exact hamming distance ≤ maxHamming. The band count is DERIVED
    * from the bound (mirroring [[Multimodal.perceptualDupPairs]]): with
    * maxHamming + 1 bands, any pair within the bound has at least one
    * band with zero differing bits (pigeonhole), so candidate recall is
    * exact for EVERY maxHamming, not just the default. The 60 bits split
    * as evenly as possible across the bands (maxHamming = 3 ⇒ 4 × 15-bit
    * bands, the oracle-replayed convention). Output: (id_a, id_b, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   allowCoarseBands: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 19,
      s"maxHamming must be 0..19, got $maxHamming")
    // maxHamming > 5 shrinks bands below 10 bits (< 1024 keys): recall
    // stays pigeonhole-exact but buckets saturate at ~n/2^width docs and
    // the candidate join goes quadratic on any non-trivial corpus — the
    // exact failure mode the r13 probe measured for 8-bit bands. Callers
    // that KNOW the input is small (tests, bounded partitions) opt in.
    require(maxHamming <= 5 || allowCoarseBands,
      s"maxHamming=$maxHamming gives bands narrower than 10 bits; the " +
        s"candidate join saturates on large corpora — pass " +
        s"allowCoarseBands=true only for provably small inputs")
    // Band geometry: nBands = maxHamming + 1 over the 60-bit signature;
    // wide bands keep buckets sparse — the r13 sf1.0 probe measured 8-bit
    // buckets saturating (~n/256 docs per bucket → candidate join goes
    // quadratic, 23× time for 10× data); at the default's 15 bits buckets
    // stay sparse until ~10M docs per shuffle partition.
    val nBands = maxHamming + 1
    val base = 60 / nBands
    val extra = 60 % nBands // first `extra` bands get one extra bit
    val geom = (0 until nBands).scanLeft((0, 0)) { case ((off, w), b) =>
      (off + w, base + (if (b < extra) 1 else 0))
    }.tail // (offset, width) per band
    // sig (one row per doc) feeds three differently-keyed branches (banding +
    // both verify sides); checkpoint so the tokenize + bit-sum aggregate
    // runs once instead of per branch.
    val sig = Materialize(df.select(col(idCol),
        graft.functions.SimHash60.simhash60(col(textCol)).as("simhash"))).df
    // one explode generator, not a UNION ALL of band projections — the union
    // shape re-runs the bit-sum simhash aggregate per band (same column-pruning
    // trap as the MinHash bandKeys, see that note)
    val banded = sig.select(col(idCol), explode(array(geom.zipWithIndex.map {
        case ((off, w), b) =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
              .as("bkey"))
      }: _*)).as("__bb"))
      .select(col(idCol), col("__bb.band").as("band"), col("__bb.bkey").as("bkey"))
    val x = banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
    val y = banded.select(col(idCol).as("id_b"), col("band"), col("bkey"))
    val cand = x.join(y, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val withSig = cand
      .join(sig.select(col(idCol).as("id_a"), col("simhash").as("sig_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("simhash").as("sig_b")), Seq("id_b"))
    withSig.select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup detection over an embedding column via sign-LSH bucketing + in-bucket
    * cosine. Deterministic hyperplanes: plane p's coefficient for dimension i is
    * +1/−1 from bit (i+p) of a fixed pattern — portable to SQL. Output:
    * (id_a, id_b, cosine) with cosine ≥ threshold, from same-bucket pairs only
    * (approximate: cross-bucket near-dups are missed — that's the LSH trade).
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        numPlanes: Int = 8, threshold: Double = 0.8): DataFrame = {
    val v = col(vecCol)
    val bucketed = df.select(col(idCol), v,
      SimSearch.lshBucket(v, dims = 64, numPlanes).as("bucket"),
      sqrt(SimSearch.dot(v, v)).as("nrm"))
    val a = bucketed.select(col(idCol).as("id_a"), v.as("va"),
      col("bucket"), col("nrm").as("na"))
    val b = bucketed.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("bucket"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (SimSearch.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Canonical-representative selection — the step after [[dupClusters]] in a
    * real dedup pipeline: clusters tell you WHAT is duplicated; this decides
    * WHICH copy survives. Per multi-member cluster, keep the member with the
    * highest `quality` (doc length, a classifier score, …), smaller id on
    * ties — the same argmax-by-struct idiom as [[Clustering.assignToCentroids]],
    * so no window shuffle over the (tiny) cluster table is needed.
    *
    * Input: `clusters` as (id, cluster_id) from [[dupClusters]], `docs`
    * carrying the quality column. Output per cluster:
    * (cluster_id, canonical_id, canonical_quality, n_members, n_dropped).
    * Scale shape: one equi-join clusters⋈docs on id (both doc-keyed), one
    * cluster-keyed aggregate — linear in the number of duplicated docs, which
    * is already a small fraction of the corpus.
    */
  def canonicalPick(clusters: DataFrame, docs: DataFrame, idCol: String,
                    qualityCol: String): DataFrame =
    clusters.join(docs.select(col(idCol).as("id"), col(qualityCol).as("__q")), "id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("__q")).as("negq"), col("id").as("id"),
          col("__q").as("q"))).as("__b"))
      .filter(col("n_members") >= 2)
      .select(col("cluster_id"), col("__b.id").as("canonical_id"),
        col("__b.q").as("canonical_quality"), col("n_members"),
        (col("n_members") - 1).as("n_dropped"))

  /** Blocking-quality audit of the MinHash-LSH banding (the record-linkage
    * literature's two standard numbers, Christen 2012): REDUCTION RATIO — the
    * share of the n(n−1)/2 all-pairs space the banding never generates — and
    * PAIRS COMPLETENESS — the share of true duplicate pairs (exact Jaccard ≥
    * threshold) the banding surfaces as candidates. Together they quantify
    * the blocking trade-off a parameter choice buys; [[lshRecallCurve]] shows
    * the same recall RESOLVED by similarity, this gives the one-row summary
    * plus the cost side (candidate volume).
    *
    * Like the recall curve, the exact all-pairs truth join means this runs
    * on a corpus SAMPLE to tune (numHashes, rowsPerBand) before the full
    * [[minhashLshPairs]] run. Every count is exact; the two ratios are the
    * only floats. Output: 1 row (n_docs, n_total_pairs, n_candidates,
    * n_truth, n_caught, reduction_ratio, pairs_completeness).
    */
  def blockingQuality(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val banded = bandKeys(
      minhashSignatures(df, idCol, textCol, k, numHashes),
      idCol, numHashes / rowsPerBand, rowsPerBand)
    val cand = Materialize(banded.select(col(idCol).as("id_a"), col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()).df // two branches below read it
    val truth = jaccardPairs(df, idCol, textCol, k, threshold)
      .select("id_a", "id_b")
    val nd = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val nc = cand.agg(count(lit(1)).as("n_candidates"))
    // One pass over the truth pipeline computes n_truth AND n_caught: cand is
    // distinct on (id_a, id_b), so a left join preserves the truth row count
    // and the non-null hit flag counts exactly the semi-join's matches.
    val tc = truth
      .join(cand.withColumn("__hit", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_caught"))
    nd.crossJoin(nc).crossJoin(tc)
      .withColumn("n_total_pairs", expr("n_docs * (n_docs - 1) div 2"))
      .select(col("n_docs"), col("n_total_pairs"), col("n_candidates"),
        col("n_truth"), col("n_caught"),
        round(lit(1.0) - col("n_candidates").cast("double") /
          col("n_total_pairs"), 6).as("reduction_ratio"),
        round(col("n_caught").cast("double") / col("n_truth"), 6)
          .as("pairs_completeness"))
  }
}
