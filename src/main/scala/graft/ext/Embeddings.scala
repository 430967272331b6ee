package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Materialize, Materialized}

/** Embedding-column utilities for vector pipelines: int8 quantization (the
  * standard 4× storage/bandwidth cut before an ANN index is built) — pure
  * array-expression work, no UDFs, no shuffle beyond the caller's own.
  */
object Embeddings {

  /** Max-abs value of a float-vector column, in double. */
  def maxAbs(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Embedding-space health check: the cosine distribution over deterministic
    * pseudo-random disjoint vector pairs, binned into a histogram. A healthy
    * isotropic space concentrates near 0; mass near 1 flags collapsed /
    * duplicate regions, a shifted mode flags anisotropy (the "cone effect")
    * — the cheap corpus-level diagnostic run before trusting ANN recall.
    *
    * Pairing is reproducible and join-free: ids hash (md5) into `nBuckets`
    * buckets, rows rank by hash within their bucket, and each odd rank pairs
    * with its `lead()` successor — ONE bucket-keyed window, no self-join, no
    * second branch over the corpus. Buckets bound window partitions
    * (corpus/nBuckets rows each; raise `nBuckets` with corpus size). Per-bin
    * cosine sums ride DECIMAL.
    *
    * Output: (bin, lo, n_pairs, mean_cos) where bin i covers
    * [-1 + 2i/nBins, -1 + 2(i+1)/nBins).
    */
  def pairCosineHistogram(df: DataFrame, idCol: String, vecCol: String,
                          nBuckets: Int = 64, nBins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("h", md5(col("id").cast("string")))
      .withColumn("bucket",
        conv(substring(col("h"), 1, 8), 16, 10).cast("long") % nBuckets)
    val w = Window.partitionBy(col("bucket")).orderBy(col("h"), col("id"))
    val paired = h
      .withColumn("rn", row_number().over(w))
      .withColumn("pvec", lead(col("vec"), 1).over(w))
      .filter(col("rn") % 2 === 1 && col("pvec").isNotNull)
    val cos = round(
      graft.ext.SimSearch.dot(col("vec"), col("pvec")) /
        (graft.ext.SimSearch.norm(col("vec")) *
          graft.ext.SimSearch.norm(col("pvec"))), 6)
    paired
      .select(least(lit(nBins - 1), greatest(lit(0),
          floor((cos + 1.0) / 2.0 * nBins))).cast("int").as("bin"),
        cos.as("cos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("cos").cast("decimal(27,12)")).cast("double") /
          count(lit(1)), 6).as("mean_cos"))
      .withColumn("lo", round(lit(-1.0) + col("bin") * 2.0 / nBins, 6))
      .select(col("bin"), col("lo"), col("n_pairs"), col("mean_cos"))
  }

  /** Symmetric int8 quantization of one element: round(x · 127 / maxAbs), with
    * all-zero vectors mapping to 0 (not NaN). Kept as a scalar building block so
    * the SQL oracle can mirror it token-for-token.
    */
  def quantize(x: Column, mx: Column): Column =
    when(mx === 0.0, lit(0L))
      .otherwise(round(x.cast("double") * 127.0 / mx).cast("long"))

  /** Quantize a whole embedding column to int8 range. Output adds
    * `q: array<long>` and `scale: double` (the per-vector max-abs;
    * dequantize ≈ q · scale / 127).
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val mx = maxAbs(col(vecCol))
    df.withColumn("scale", mx)
      .withColumn("q", transform(col(vecCol), x => quantize(x, col("scale"))))
  }

  /** PCA projection of an `array<float>` embedding column to `k` dimensions —
    * the standard dimensionality cut before IVF/LSH indexing (64→16 dims
    * quarters every distance computation downstream).
    *
    * Distribution shape: the d×d Gram matrix is accumulated in ONE pass with
    * map-side partial aggregation (`RowMatrix.computeCovariance`), the d×d
    * eigendecomposition runs on the driver — d is the embedding width
    * (typically ≤ 4096), NEVER the row count, so the driver-local step is
    * O(d³) independent of data scale — and the projection back over the rows
    * is a broadcast matrix multiply. This mirrors MLlib's own PCA
    * (`org.apache.spark.mllib.linalg.distributed.RowMatrix
    * .computePrincipalComponents`, which this uses).
    *
    * Output: (idCol, projected array<double> of length k). Component signs
    * follow the underlying eigensolver (sign-indeterminate, as in every PCA
    * implementation) — tests assert variance/geometry, not raw signs.
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.mllib.linalg.{DenseMatrix, Vectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = df.select(col(idCol), col(vecCol)).rdd.map { r =>
      val id = r.get(0)
      val arr = r.getSeq[Float](1).toArray.map(_.toDouble)
      (id, Vectors.dense(arr))
    }
    rows.cache()
    val mat = new RowMatrix(rows.values)
    val pcs = mat.computePrincipalComponents(k) // d×k, driver-local (small)
    val pcB = df.sparkSession.sparkContext.broadcast(
      new DenseMatrix(pcs.numRows, pcs.numCols, pcs.toArray))
    val projected = rows.map { case (id, v) =>
      val p = pcB.value.transpose.multiply(v)
      org.apache.spark.sql.Row(id, p.toArray.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      df.select(col(idCol)).schema.head,
      org.apache.spark.sql.types.StructField("pca",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false))))
    df.sparkSession.createDataFrame(projected, schema)
  }

  /** Deterministic power iteration for the TOP principal eigenpair of the
    * centered covariance — the oracle-checkable partner of [[pcaProject]]
    * (whose MLlib SVD an external engine cannot replay bit-for-bit). Starts
    * from the all-ones direction and runs `iters` rounds of
    * w ← Σ_rows (v−μ)·((v−μ)·u) / n, u ← w/‖w‖; after enough rounds u is
    * the top eigenvector and ‖w‖ its eigenvalue (Mises & Pollaczek-
    * Geiringer 1929). `explained_share` = λ₁ / Σ_d Var_d — the one-number
    * anisotropy readout a truncation/whitening decision reads
    * (high share = embeddings collapse toward one axis; pairs with
    * [[isotropyProfile]]).
    *
    * Exactness: μ and every cross-row pooling are DECIMAL-summed before one
    * double division; per-row dots fold in array order ([[SimSearch
    * .dotGeneric]]); the iteration count is a literal, so the DuckDB oracle
    * unrolls the same rounds CTE-for-CTE.
    *
    * Scale shape: the centered table is checkpointed once and each round is
    * one broadcast of the 1-row direction + one (dim)-keyed aggregate —
    * O(iters) fixed-size jobs, dims rows shuffled per round, no driver
    * collect anywhere.
    */
  def powerIterationTopEig(df: DataFrame, vecCol: String, iters: Int,
                           dims: Int): DataFrame = {
    require(iters >= 1 && dims >= 1, s"bad iters=$iters dims=$dims")
    val mu = df.select(posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col("__pos"))
      .agg((sum(col("__x").cast("double").cast("decimal(18,9)"))
        .cast("double") / count(lit(1))).as("__mu"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("__pos"),
        col("__mu")))), e => e.getField("__mu")).as("__muv"))
    val Materialized(centered, n, _) = Materialize(df.crossJoin(broadcast(mu))
      .select(zip_with(col(vecCol), col("__muv"),
        (x, m) => x.cast("double") - m).as("__cv"))) // every round reads it
    var u = centered.sparkSession.range(1)
      .select(transform(sequence(lit(1), lit(dims)), _ => lit(1.0))
        .as("__u"))
    (1 to iters).foreach { _ =>
      val w = centered.crossJoin(broadcast(u))
        .select(col("__cv"),
          SimSearch.dotGeneric(col("__cv"), col("__u")).as("__d"))
        .select(posexplode(col("__cv")).as(Seq("__pos", "__x")), col("__d"))
        .groupBy(col("__pos"))
        .agg((sum((col("__x") * col("__d")).cast("decimal(28,12)"))
          .cast("double") / lit(n.toDouble)).as("__w"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("__pos"),
          col("__w")))), e => e.getField("__w")).as("__wv"))
      u = w.select(col("__wv"),
          sqrt(aggregate(col("__wv"), lit(0.0),
            (acc, x) => acc + x * x)).as("__lambda"))
        .select(transform(col("__wv"), x => x / col("__lambda")).as("__u"),
          col("__lambda"))
    }
    val totVar = centered
      .select(posexplode(col("__cv")).as(Seq("__pos", "__x")))
      .agg((sum((col("__x") * col("__x")).cast("decimal(28,12)"))
        .cast("double") / lit(n.toDouble)).as("__totvar"))
    u.crossJoin(totVar)
      .select(posexplode(col("__u")).as(Seq("__pos", "loading")),
        col("__lambda"), col("__totvar"))
      .select((col("__pos") + 1).cast("int").as("dim"), col("loading"),
        col("__lambda").as("lambda"),
        (col("__lambda") / col("__totvar")).as("explained_share"))
  }

  /** Per-vector quantization summary — the flat (non-array) projection of
    * [[quantizeInt8]] used by the oracle-checked query: element-wise explode,
    * re-aggregated to (sum, min, max) of the quantized values.
    */
  def quantizeStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mx = maxAbs(col(vecCol))
    df.select(col(idCol), mx.as("mx"), posexplode(col(vecCol)))
      .select(col(idCol), col("mx"), quantize(col("col"), col("mx")).as("qv"))
      .groupBy(col(idCol))
      .agg(round(first(col("mx")), 6).as("scale"),
        sum(col("qv")).as("sum_q"),
        min(col("qv")).as("min_q"),
        max(col("qv")).as("max_q"))
  }

  /** Per-dimension distribution profile: n/mean/std/min/max for every vector
    * component — the health check run before whitening, quantization-range
    * selection, or dead-dimension pruning (a dimension with ~zero variance
    * wastes index bits everywhere downstream). One posexplode + one
    * (dim)-keyed aggregation; sums ride DECIMAL so the profile is
    * partition-order-independent, and std derives from the exact decimal
    * moments (n·Σx² − (Σx)² form) in one pass.
    * Output: (dim, n, mean, std, v_min, v_max).
    */
  def dimProfile(df: DataFrame, vecCol: String): DataFrame = {
    val vd = col("v").cast("decimal(18,9)")
    df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(vd).as("s"), sum(vd * vd).as("sq"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .select(col("dim"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("mean"),
        round(sqrt((col("sq").cast("double") -
            col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - 1)), 6).as("std"),
        col("v_min"), col("v_max"))
  }

  /** Diagonal-Mahalanobis embedding outliers — the cheap whole-corpus anomaly
    * screen that catches broken encoders, corrupted rows and out-of-domain
    * inserts BEFORE they poison ANN indexes or dedup thresholds: score each
    * vector by Σ_i ((x_i − μ_i)/σ_i)², the squared Mahalanobis distance under
    * a diagonal covariance (per-dim moments, no d×d matrix), and keep the
    * top-N.
    *
    * Scale shape: the per-dim moments are [[dimProfile]]'s DECIMAL-exact
    * aggregate (one explode + dim-keyed combine); they collapse to ONE row of
    * dim-ordered mean/std arrays that broadcast-crosses the corpus, so
    * scoring never shuffles a vector — each row folds its own dimensions
    * left-to-right (the same sequential order DuckDB's list_sum uses, which
    * is what makes the doubles — and the oracle hash — engine-identical).
    * The top-N cut is a TakeOrderedAndProject heap. Constant dimensions
    * (σ=0) contribute 0 rather than ∞ on BOTH engines.
    * Output: (id, label-through columns…, mahal2) — top `n` by score desc,
    * id asc.
    */
  def mahalanobisOutliers(df: DataFrame, idCol: String, vecCol: String,
                          topN: Int): DataFrame = {
    val vd = col("v").cast("decimal(18,9)")
    val stats = df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(vd).as("s"), sum(vd * vd).as("sq"))
      // μ/σ are quantized to 6 decimals: the raw DECIMAL moments differ
      // across engines in the last float ulp (float→decimal casts round the
      // exact binary expansion in Spark but the shortest decimal repr in
      // DuckDB), and the scoring fold needs BIT-identical stats. 6 decimals
      // is the suite-wide proven agreement point (dimProfile's oracle).
      .select(col("dim"),
        round(col("s").cast("double") / col("n"), 6).as("mean"),
        round(sqrt((col("sq").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - 1)), 6).as("std"))
    // 64 rows → 1 row of dim-ordered arrays; sort_array fixes the order the
    // fold sees regardless of aggregate partitioning.
    val statsRow = stats
      .agg(sort_array(collect_list(struct(col("dim"), col("mean"), col("std"))))
        .as("ms"))
      .select(transform(col("ms"), m => m.getField("mean")).as("__mu"),
        transform(col("ms"), m => m.getField("std")).as("__sd"))
    val term = (x: Column, m: Column, s: Column) =>
      when(s === 0.0, lit(0.0))
        .otherwise(((x.cast("double") - m) / s) * ((x.cast("double") - m) / s))
    // Plain double fold: with bit-identical μ/σ the per-dim terms are the
    // same doubles in both engines, and both fold them strictly
    // left-to-right (Spark aggregate(); DuckDB list_sum ≡ list_reduce,
    // probed empirically), so the sum is bit-identical without decimal
    // quantization — which would itself diverge, double→decimal casts round
    // differently across engines.
    df.crossJoin(broadcast(statsRow))
      .select(col(idCol),
        aggregate(
          zip_with(zip_with(col(vecCol), col("__mu"),
              (x, m) => struct(x.as("x"), m.as("m"))),
            col("__sd"),
            (xm, s) => term(xm.getField("x"), xm.getField("m"), s)),
          lit(0.0), (acc, t) => acc + t).as("mahal2"))
      .orderBy(col("mahal2").desc, col(idCol))
      .limit(topN)
  }

  /** Embedding isotropy profile — the one-row health check that predicts
    * retrieval quality: anisotropic spaces (variance concentrated in a few
    * rogue dimensions, the classic contextual-embedding pathology) make
    * cosine scores collapse toward a dominant direction. Reports the
    * participation ratio PR = (Σλ)²/Σλ² over the per-dimension variances (a
    * diagonal proxy for the covariance spectrum; PR = d for perfect isotropy,
    * → 1 for rank-1 collapse), its fraction of d, and the top-1 variance
    * share.
    *
    * The moments are [[dimProfile]]'s DECIMAL-exact aggregate; variances are
    * quantized at 6 decimals (the cross-engine float→decimal agreement
    * point, see [[mahalanobisOutliers]]) and pooled as DECIMAL(18,6)/(38,12)
    * so PR is partition-order-exact. Output:
    * (n_dims, total_var, participation_ratio, pr_fraction, top1_var_share).
    */
  def isotropyProfile(df: DataFrame, vecCol: String): DataFrame = {
    val vd = col("v").cast("decimal(18,9)")
    val variances = df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(vd).as("s"), sum(vd * vd).as("sq"))
      .select(round((col("sq").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - 1), 6).cast("decimal(18,6)").as("var"))
    variances
      .agg(count(lit(1)).as("n_dims"),
        sum(col("var")).as("sv"),
        sum((col("var") * col("var")).cast("decimal(38,12)")).as("svv"),
        max(col("var")).as("vmax"))
      .select(col("n_dims"),
        round(col("sv").cast("double"), 6).as("total_var"),
        round(col("sv").cast("double") * col("sv").cast("double") /
          col("svv").cast("double"), 6).as("participation_ratio"),
        round(col("sv").cast("double") * col("sv").cast("double") /
          col("svv").cast("double") / col("n_dims"), 6).as("pr_fraction"),
        round(col("vmax").cast("double") / col("sv").cast("double"), 6)
          .as("top1_var_share"))
  }

  /** Sign-bit packing: one bit per dimension (1 iff the component is > 0),
    * packed into 64-bit words — a 32× compression over float32 that turns
    * cosine ranking into XOR + popcount over a handful of longs. For
    * mean-centered embeddings, Hamming distance on sign bits approximates
    * angular distance (Charikar's SimHash bound: P[bits agree] =
    * 1 − θ/π), which is why binary rerank-then-refine is the standard
    * bandwidth-bound first pass at corpus scale.
    *
    * Emits one column per 32-dim word (`w0`, `w1`, …): 32 bits per word
    * keeps every value positive and small, sidestepping cross-engine
    * sign-bit edge cases at no capacity cost. Pure codegen'd array
    * expressions, scan-side.
    */
  def signPack(df: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims % 32 == 0, s"dims must be a multiple of 32, got $dims")
    val words = (0 until dims / 32).map { w =>
      val lo = 32 * w
      // SQL form: functions.shiftleft only takes a literal shift count
      expr(s"""aggregate(
        transform(sequence($lo, ${lo + 31}),
          i -> IF(element_at($vecCol, i + 1) > 0.0D, shiftleft(1L, i - $lo), 0L)),
        0L, (acc, x) -> acc | x)""").as(s"w$w")
    }
    df.select(df.columns.map(col).toIndexedSeq ++ words: _*)
  }

  /** Hamming distance between two sign-packed vectors given as word column
    * pairs: Σ popcount(a XOR b).
    */
  def hammingDist(wordPairs: Seq[(Column, Column)]): Column =
    wordPairs.map { case (a, b) => bit_count(a.bitwiseXOR(b)) }
      .reduce(_ + _)

  /** Binary top-k: exact Hamming ranking over the sign-packed corpus for a
    * set of query vectors (query rows selected by `isQuery`). The corpus
    * never shuffles more than (queries × corpus) candidate rows of packed
    * words — 16 bytes a row at 64 dims instead of 256 — and the per-query
    * rank runs on Hamming-distance-sorted candidates with deterministic
    * (dist, id) ties. Output: (query_id, vec_id, hamming, rnk ≤ k).
    *
    * At 100 TB the same packed words feed the banded variant: split words
    * into bands, equi-join on exact band matches (Hamming ≤ r implies ≥ 1
    * exact band among r+1 bands — the pigeonhole blocking used by
    * [[Dedup.simhashPairs]]) — this exact-scan form is the recall-1 baseline
    * the banded plan is measured against.
    */
  def binaryTopK(df: DataFrame, idCol: String, vecCol: String, dims: Int,
                 isQuery: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nWords = dims / 32
    val packed = signPack(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"), isQuery.as("is_q")),
      "vec", dims)
    val corpus = packed.select(
      col("vec_id") +: (0 until nWords).map(w => col(s"w$w")): _*)
    val queries = packed.filter(col("is_q")).select(
      col("vec_id").as("query_id") +:
        (0 until nWords).map(w => col(s"w$w").as(s"q$w")): _*)
    val dist = hammingDist((0 until nWords).map(w => (col(s"w$w"), col(s"q$w"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", dist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("rnk"))
  }

  /** Banded binary search with exact-cosine rerank — the sub-linear scale
    * path of [[binaryTopK]]. The packed words split into `dims / bandBits`
    * bands; a corpus row is a candidate for a query iff SOME band matches
    * exactly (pigeonhole: Hamming < #bands implies an exact band, the
    * [[Dedup]] SimHash blocking). Candidates then rerank by TRUE cosine
    * ([[graft.functions.VectorFunctions.floatDot]], codegen'd), so binary
    * quantization only gates RECALL, never the reported scores.
    *
    * Scale shape: candidate generation is an equi-join on (band, value) —
    * the corpus shuffles its packed bands once, never the float vectors; only
    * candidate ids join back to vectors for the rerank. Hot bands (all-zero
    * sign patterns from dead dimensions) bound fan-out exactly like hot LSH
    * buckets — the same salting/cap escapes apply.
    *
    * Output: (query_id, vec_id, cosine, rnk ≤ k) over the candidate set.
    */
  def binaryTopKBandedRerank(df: DataFrame, idCol: String, vecCol: String,
                             dims: Int, isQuery: Column, k: Int,
                             bandBits: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    require(32 % bandBits == 0 || bandBits % 32 == 0,
      s"bandBits must pack into 32-bit words, got $bandBits")
    val nWords = dims / 32
    val nBands = dims / bandBits
    val mask = (1L << bandBits) - 1
    val packed = signPack(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"), isQuery.as("is_q")),
      "vec", dims)
    def bandVal(j: Int): Column = {
      val word = j * bandBits / 32
      val off = (j * bandBits) % 32
      shiftright(col(s"w$word"), off).bitwiseAND(lit(mask))
    }
    val bandCols = array((0 until nBands).map(bandVal): _*)
    val corpusBands = packed
      .select(col("vec_id"), posexplode(bandCols).as(Seq("band", "bval")))
    val queryBands = packed.filter(col("is_q"))
      .select(col("vec_id").as("query_id"),
        posexplode(bandCols).as(Seq("band", "bval")))
    val cand = corpusBands.join(broadcast(queryBands), Seq("band", "bval"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val vecs = df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val qVecs = df.filter(isQuery)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val cos = VectorFunctions.floatDot(col("vec"), col("qvec")) /
      (sqrt(VectorFunctions.floatDot(col("vec"), col("vec"))) *
        sqrt(VectorFunctions.floatDot(col("qvec"), col("qvec"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vecs, Seq("vec_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .withColumn("cosine", cos)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id"), col("cosine"), col("rnk"))
  }

  /** Triplet-margin violation rate — the metric-learning health check for a
    * labeled embedding space: over deterministic (anchor, positive, negative)
    * triplets, the fraction where cos(a, pos) < cos(a, neg) + margin (the
    * triplet loss is active). Triplet selection is id-deterministic, not
    * sampled: positive = the anchor's successor within its label (vec-id
    * order), negative = the first of the anchor's next two successors in
    * GLOBAL id order whose label differs (with ≥3 well-mixed labels almost
    * every anchor gets one; anchors without a positive or negative are
    * excluded and counted). Deterministic selection is what makes the rate
    * reproducible AND oracle-checkable — a sampled variant answers the same
    * question with less auditability.
    *
    * Scale shape: one label-partitioned lead window for the positive, then
    * [[GlobalRank.globalRowNumber]] neighbor pairing for the negative — each
    * row's global-id-order successors are fetched by equi-joining rank rn
    * against rn+1 and rn+2, so no task ever holds more than its range share
    * (the former global `lead()` window held the whole corpus in one task) —
    * + two id-keyed equi-joins to fetch the pos/neg vectors; cosines are
    * codegen'd float dots. Output: one row (n_anchors, n_triplets,
    * n_violations, violation_rate, avg_gap).
    */
  def tripletViolations(df: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, margin: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLabel = Window.partitionBy(col("lbl")).orderBy(col("id"))
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(labelCol).as("lbl"))
    val ranked = GlobalRank.globalRowNumber(
      base.withColumn("pos_id", lead(col("id"), 1).over(byLabel)),
      Seq(col("id")), "rn")
    val idx = ranked.select(col("rn"), col("id").as("n_id"),
      col("lbl").as("n_lbl"))
    val n1 = idx.select((col("rn") - 1).as("rn"), col("n_id").as("n1_id"),
      col("n_lbl").as("n1_lbl"))
    val n2 = idx.select((col("rn") - 2).as("rn"), col("n_id").as("n2_id"),
      col("n_lbl").as("n2_lbl"))
    val picked = ranked
      .join(n1, Seq("rn"), "left").join(n2, Seq("rn"), "left")
      .withColumn("neg_id",
        when(col("n1_lbl").isNotNull && col("n1_lbl") =!= col("lbl"),
          col("n1_id"))
          .when(col("n2_lbl").isNotNull && col("n2_lbl") =!= col("lbl"),
            col("n2_id")))
    val pos = base.select(col("id").as("pos_id"), col("vec").as("pvec"))
    val neg = base.select(col("id").as("neg_id"), col("vec").as("nvec"))
    val trip = picked
      .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
      .join(pos, "pos_id").join(neg, "neg_id")
      .select(col("id"),
        (SimSearch.dot(col("vec"), col("pvec")) /
          (SimSearch.norm(col("vec")) * SimSearch.norm(col("pvec"))))
          .as("cos_pos"),
        (SimSearch.dot(col("vec"), col("nvec")) /
          (SimSearch.norm(col("vec")) * SimSearch.norm(col("nvec"))))
          .as("cos_neg"))
    base.agg(count(lit(1)).as("n_anchors")).crossJoin(
      trip.agg(count(lit(1)).as("n_triplets"),
        sum(when(col("cos_pos") < col("cos_neg") + lit(margin), 1L)
          .otherwise(0L)).as("n_violations"),
        sum((col("cos_pos") - col("cos_neg")).cast("decimal(28,12)"))
          .as("__gap")))
      .select(col("n_anchors"), col("n_triplets"), col("n_violations"),
        round(col("n_violations").cast("double") / col("n_triplets"), 6)
          .as("violation_rate"),
        round(col("__gap").cast("double") / col("n_triplets"), 6)
          .as("avg_gap"))
  }

  /** Matryoshka-style dimension-truncation fidelity: over deterministic
    * (even id, id+1) vector pairs, how far the cosine computed on the FIRST
    * `d` dims drifts from the full-dimension cosine, for each candidate
    * truncation in `dims` — the curve that says how many dims a
    * shortlist/rerank index can drop (cf. Kusupati et al., Matryoshka
    * Representation Learning: prefix-truncated embeddings as first-pass
    * keys). All `|dims|` errors per pair come from ONE generator over the
    * joined pair row (never |dims| passes over the corpus); means pool in
    * DECIMAL(18,9). Zero-norm prefixes score cosine 0, like every cosine in
    * this module. Output per d: (dims, n_pairs, mean_abs_err).
    */
  def dimTruncationFidelity(df: DataFrame, idCol: String, vecCol: String,
                            dims: Seq[Int], fullDim: Int = 64): DataFrame = {
    require(dims.nonEmpty && dims.forall(d => d >= 1 && d <= fullDim),
      s"dims must lie in [1, $fullDim], got $dims")
    val a = df.filter(col(idCol) % 2 === 0)
      .select(col(idCol).as("__id"), col(vecCol).as("__a"))
    val b = df.select((col(idCol) - 1).as("__id"), col(vecCol).as("__b"))
    def cosAt(d: Int): org.apache.spark.sql.Column = {
      val (xa, xb) = (slice(col("__a"), 1, d), slice(col("__b"), 1, d))
      val (na, nb) =
        (sqrt(SimSearch.dotGeneric(xa, xa)), sqrt(SimSearch.dotGeneric(xb, xb)))
      when(na === 0 || nb === 0, lit(0.0))
        .otherwise(SimSearch.dotGeneric(xa, xb) / (na * nb))
    }
    a.join(b, "__id")
      .select(explode(array(dims.map { d =>
        struct(lit(d).as("d"), abs(cosAt(d) - cosAt(fullDim)).as("err"))
      }: _*)).as("__e"))
      .select(col("__e.d").as("dims"), col("__e.err").as("err"))
      .groupBy(col("dims"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum(col("err").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("mean_abs_err"))
      .select(col("dims").cast("long").as("dims"), col("n_pairs"),
        col("mean_abs_err"))
  }
}
