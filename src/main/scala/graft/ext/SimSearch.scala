package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (one scan, no shuffle until the
  * top-k reduction — `orderBy(...).limit(k)` is planned as TakeOrderedAndProject:
  * per-partition heaps, only k rows per partition cross the wire). The scale path is
  * sign-LSH bucketing ([[lshTopK]]): probe only the query's bucket ring instead of the
  * full corpus. North-star extension (no counterpart in the reference).
  */
object SimSearch {

  /** Deterministic ±1 hyperplane sign for (dimension i, plane p) — the single source
    * of truth shared by the LSH operators here, [[Dedup.embeddingDupPairs]], and the
    * generated SQL oracles ([[graft.Inputs.lshBucketPlanesSql]]).
    */
  def planeSign(i: Int, p: Int): Double =
    if (((i + p) * 2654435761L >>> 13) % 2 == 0) 1.0 else -1.0

  /** Sign-LSH bucket id from `numPlanes` deterministic hyperplanes over a `dims`-dim
    * vector column (bit p set iff plane p's dot product is positive).
    */
  def lshBucket(vec: Column, dims: Int, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      val d = (0 until dims).map { i =>
        element_at(vec, i + 1).cast("double") * lit(planeSign(i, p))
      }.reduce(_ + _)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Dot product of two `array<float>` columns via the native codegen expression
    * [[graft.functions.VecDot]] (double accumulator, index-ordered — identical
    * numerics to the composable `aggregate(zip_with(...))` form).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.floatDot(a, b)

  /** Dot product over `array<float|double>` columns — the native codegen'd
    * loop, bit-equal to the zip_with/aggregate fold it replaced
    * (VectorExpressionsSpec holds the equality, NULL semantics included).
    * This is the Lloyd / power-iteration / pair-cosine hot primitive. For
    * array types outside float/double (none in this library), compose
    * `aggregate(zip_with(a, b, (x, y) => x.cast("double") *
    * y.cast("double")), lit(0.0), _ + _)` directly.
    */
  def dotGeneric(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of every row's `array<float>` vector against a constant query
    * vector (query floats are exactly representable as the doubles used before, so
    * results are bit-identical to the double-literal formulation).
    */
  def cosineToQuery(vec: Column, query: Seq[Float]): Column = {
    val q = array(query.map(lit): _*)
    dot(vec, q) /
      (norm(vec) * lit(math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)))
  }

  /** Exact brute-force top-k by cosine against the vector of `queryId`.
    * Output: (id, cosine), k rows, descending.
    */
  def topKForId(df: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int): DataFrame = {
    val qRow = df.filter(col(idCol) === queryId).select(col(vecCol)).head()
    val q = qRow.getSeq[Float](0)
    df.filter(col(idCol) =!= queryId)
      .select(col(idCol), cosineToQuery(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Quantized-shortlist retrieval — the production two-stage ANN pattern:
    * vectors are L2-normalized and symmetric-int8 quantized (4× the scan
    * bandwidth of fp32; in production the int8 table is the PERSISTED index and
    * the fp32 vectors are fetched only for the shortlist), candidates are ranked
    * by the INTEGER dot product of quantized vectors scaled by the row's
    * quantization step (order ≈ cosine to within quantization noise), and the
    * top `rerank` shortlist is re-scored with exact fp32 cosine for the final
    * `k`. Both ranking stages run as TakeOrderedAndProject (per-partition heaps,
    * no global sort). Integer dots make the shortlist ordering exactly
    * reproducible across engines — the whole pipeline is oracle-checkable.
    *
    * Zero vectors normalize to zero (guarded division), quantize to all-zero,
    * score 0 — never NaN.
    */
  def quantizedRerankTopKForId(df: DataFrame, idCol: String, vecCol: String,
                               queryId: Long, k: Int = 10,
                               rerank: Int = 50): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val nv = norm(col(vecCol))
    val nx = transform(col(vecCol),
      x => when(lit(0.0) === col("__nv"), lit(0.0))
        .otherwise(x.cast("double") / col("__nv")))
    val prepared = df
      .withColumn("__nv", nv)
      .withColumn("__nx", nx)
      .withColumn("__mx", Embeddings.maxAbs(col("__nx")))
      .withColumn("__q",
        transform(col("__nx"), x => Embeddings.quantize(x, col("__mx"))))
    val qrow = prepared.filter(col(idCol) === queryId)
      .select(col("__q").as("__qq"), col(vecCol).as("__qv"),
        col("__nv").as("__qn"))
    val idot = aggregate(
      zip_with(col("__q"), col("__qq"), (x, y) => x * y), lit(0L), _ + _)
    val shortlist = prepared.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qrow))
      .withColumn("__idot", idot)
      .orderBy((col("__idot").cast("double") * col("__mx")).desc, col(idCol))
      .limit(rerank)
    shortlist
      .select(col(idCol),
        when(col("__nv") * col("__qn") === 0.0, lit(0.0))
          .otherwise(dot(col(vecCol), col("__qv")) / (col("__nv") * col("__qn")))
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched exact top-k: every row of `queries` is searched against `corpus` in
    * ONE job — the shape a similarity-search service wants, instead of one driver
    * round-trip per query ([[topKForId]]).
    *
    * Plan: broadcast the (small) query table, BroadcastNestedLoopJoin against the
    * corpus scan (each corpus partition scores all queries locally — the corpus is
    * never shuffled), then a per-query bounded-heap aggregate
    * ([[graft.functions.TopKAggregator]]) with map-side partial reduction, so at
    * most k rows per query per partition cross the wire. At 100 TB the corpus scan
    * dominates and parallelizes perfectly; the shuffle is O(#queries × k × #parts).
    *
    * Output: (query_id, rank, idCol, cosine) — rank 1..k by descending cosine,
    * ties broken by ascending id; a query never matches itself.
    */
  def topKForQueries(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val scored = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"))
      .crossJoin(q)
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (dot(col(vecCol), col("__qv")) / (col("__n") * col("__qn"))).as("cosine"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col(idCol), col("cosine")).as("__r"))
      .select(col("query_id"), posexplode(col("__r.items")))
      .select(col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol),
        col("col.score").as("cosine"))
  }

  /** Batched APPROXIMATE top-k: the candidate-pruned variant of
    * [[topKForQueries]]. Both sides are sign-LSH bucketed with the shared
    * deterministic hyperplanes; each query probes the ring of buckets within
    * hamming `maxHammingProbe` of its own (the Σ C(numPlanes, i) ring masks are
    * a STATIC list, exploded query-side), and candidates come from a broadcast
    * hash EQUI-join on the probe bucket — no BroadcastNestedLoopJoin, and only
    * the ring's corpus fraction is scored (~ring/2^numPlanes of the corpus per
    * query instead of all of it). Each corpus row has exactly one bucket and
    * ring masks are distinct, so a (query, candidate) pair can't duplicate.
    * The per-query bounded-heap aggregate then keeps shuffle volume at
    * O(#queries × k × #parts), same as the exact path.
    *
    * Recall < 1 by design (near neighbors outside the probed ring are missed);
    * SimSearchSpec checks recall against [[topKForQueries]]. Output shape is
    * identical: (query_id, rank, idCol, cosine), rank 1..k by descending
    * cosine, ties broken by ascending id.
    */
  def lshTopKForQueries(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        numPlanes: Int = 8, maxHammingProbe: Int = 2,
                        dims: Int = 64): DataFrame = {
    val masks = (0 until (1 << numPlanes))
      .filter(m => Integer.bitCount(m) <= maxHammingProbe)
      .map(m => lit(m.toLong))
    val c = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"),
      lshBucket(col(vecCol), dims, numPlanes).as("__bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(col(vecCol)).as("__qn"),
        lshBucket(col(vecCol), dims, numPlanes).as("__qb"))
      .withColumn("__mask", explode(array(masks: _*)))
      .select(col("query_id"), col("__qv"), col("__qn"),
        col("__qb").bitwiseXOR(col("__mask")).as("__bucket"))
    val scored = c.join(broadcast(q), Seq("__bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (dot(col(vecCol), col("__qv")) / (col("__n") * col("__qn"))).as("cosine"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col(idCol), col("cosine")).as("__r"))
      .select(col("query_id"), posexplode(col("__r.items")))
      .select(col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol),
        col("col.score").as("cosine"))
  }

  /** All-pairs exact cosine ≥ threshold (small corpora / verification). */
  def allPairsCosine(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val n = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    val a = n.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("nrm").as("na"))
    val b = n.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Seeded-quantizer IVF probe — the oracle-checkable twin of
    * [[ivfIndex]]+[[ivfTopK]]: the coarse quantizer is a deterministic seed
    * table (vectors picked by id) instead of trained k-means centers, so the
    * whole pipeline — assignment, probe selection, in-cell exact top-k — is
    * reproducible bit-for-bit in any engine. Same plan shape as production
    * IVF: centroids broadcast, inverted lists = the assignment's `centroid_id`
    * key, the probe an equi-join on that key pruning the corpus to
    * ~nProbe/nCells, per-cell candidates scored exactly and cut by
    * TakeOrderedAndProject.
    */
  def seededIvfTopK(df: DataFrame, idCol: String, vecCol: String,
                    seeds: DataFrame, cidCol: String, cvecCol: String,
                    queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val c = seeds.select(col(cidCol).as("__cid"), col(cvecCol).as("__cv"),
      norm(col(cvecCol)).as("__nc"))
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"), norm(col(vecCol)).as("__qn"))
    // nProbe nearest centroids to the query: |seeds| rows, broadcast both ways.
    val probes = c.crossJoin(broadcast(q))
      .select(col("__cid").as("centroid_id"),
        (dot(col("__cv"), col("__qv")) / (col("__nc") * col("__qn"))).as("__pcos"))
      .orderBy(col("__pcos").desc, col("centroid_id"))
      .limit(nProbe)
      .select(col("centroid_id"))
    // Assignment carries the vector THROUGH the argmax aggregate (first() over
    // the per-id group — every group row holds the same vector), so the corpus
    // crosses exactly one shuffle and is never self-joined to refetch vectors.
    // Map-side combine collapses the k broadcast-expanded rows back to one per
    // id before that shuffle. Same guard as Clustering.assignToCentroids:
    // zero norms score 0, ties break toward the smaller centroid id.
    val cos = when(col("__nv") === 0 || col("__nc") === 0, lit(0.0))
      .otherwise(dot(col(vecCol), col("__cv")) / (col("__nv") * col("__nc")))
    val assigned = df.select(col(idCol), col(vecCol), norm(col(vecCol)).as("__nv"))
      .crossJoin(broadcast(c))
      .select(col(idCol), col(vecCol), col("__nv"), col("__cid"), cos.as("__cos"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__cos")).as("neg"), col("__cid").as("cid"))).as("__b"),
        first(col(vecCol)).as(vecCol), first(col("__nv")).as("__nv"))
      .select(col(idCol), col("__b.cid").as("centroid_id"), col(vecCol), col("__nv"))
    assigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), col("centroid_id"),
        (dot(col(vecCol), col("__qv")) / (col("__nv") * col("__qn"))).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) index: k-means coarse quantizer over the corpus, each vector
    * assigned to its nearest centroid. Returns (assigned df with `ivf_cell` column,
    * local centroid array). At scale the assigned table is written bucketed by
    * `ivf_cell` so probes prune files; here it's rebuilt per call.
    */
  def ivfIndex(df: DataFrame, vecCol: String, nCells: Int = 16,
               seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = df.withColumn("__v", array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("__v")
      .setPredictionCol("ivf_cell").setMaxIter(10)
      .fit(withVec)
    val assigned = model.transform(withVec).drop("__v")
    (assigned, model.clusterCenters.map(_.toArray))
  }

  /** IVF probe: search only the `nProbe` cells whose centroids are closest to the
    * query vector; exact cosine within the probed cells. Recall < 1 by design
    * (ScalaTest checks it against [[topKForId]]).
    */
  def ivfTopK(assigned: DataFrame, centroids: Array[Array[Double]],
              idCol: String, vecCol: String, queryId: Long, k: Int,
              nProbe: Int = 4): DataFrame = {
    val qVec = assigned.filter(col(idCol) === queryId)
      .select(col(vecCol)).head().getSeq[Float](0)
    val qd = qVec.map(_.toDouble).toArray
    val probeCells = centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    assigned
      .filter(col("ivf_cell").isin(probeCells.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosineToQuery(col(vecCol), qVec).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVF probe: every query row resolves its `nProbe` nearest cells and
    * scores ONLY those cells' vectors, all in one job — the IVF counterpart of
    * [[lshTopKForQueries]]. The (tiny) centroid list is broadcast-crossed with
    * the query table (#queries × nCells rows), ranked per query by squared
    * centroid distance, cut to nProbe; candidates come from an equi-join on
    * `ivf_cell`, and the bounded-heap aggregate keeps shuffle volume at
    * O(#queries × k × #parts). Probing all cells reproduces the exact batch
    * result (spec-asserted); fewer cells trade recall for reading ~nProbe/nCells
    * of the corpus per query.
    */
  def ivfTopKForQueries(assigned: DataFrame, centroids: Array[Array[Double]],
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = assigned.sparkSession
    import spark.implicits._
    val cent = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ivf_cell", "__centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val d2 = aggregate(
      zip_with(col("__qv"), col("__centroid"),
        (x, c) => { val dx = x.cast("double") - c; dx * dx }),
      lit(0.0), (acc, x) => acc + x)
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(d2, col("ivf_cell"))))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("ivf_cell"))
    val scored = assigned
      .select(col(idCol), col(vecCol), norm(col(vecCol)).as("__n"), col("ivf_cell"))
      .join(broadcast(probes), Seq("ivf_cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        (dot(col(vecCol), col("__qv")) / (col("__n") * col("__qn"))).as("cosine"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy("query_id")
      .agg(topk(col(idCol), col("cosine")).as("__r"))
      .select(col("query_id"), posexplode(col("__r.items")))
      .select(col("query_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as(idCol),
        col("col.score").as("cosine"))
  }

  /** Build and PERSIST an IVF index: k-means assignment written as parquet
    * partitioned by `ivf_cell` (one directory per cell → probes prune whole
    * files), plus the nCells centroids as a tiny side table. This is the
    * production shape [[ivfIndex]]'s scaladoc promises: pay the clustering once,
    * then serve many probes that each read only nProbe cells' files.
    */
  def ivfWriteIndex(df: DataFrame, vecCol: String, path: String,
                    nCells: Int = 16, seed: Long = 42L): Unit = {
    val spark = df.sparkSession
    val (assigned, centroids) = ivfIndex(df, vecCol, nCells, seed)
    assigned.write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$path/data")
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("ivf_cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Probe a persisted IVF index by query VECTOR (service shape — the query need
    * not be in the corpus): pick the nProbe nearest centroids from the O(nCells)
    * side table, then scan ONLY those cells' parquet partitions (`ivf_cell IN`
    * becomes a partition filter — zero bytes read from the other cells) with
    * exact cosine + TakeOrderedAndProject inside.
    */
  def ivfProbePersistedTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                            idCol: String, vecCol: String, queryVec: Seq[Float],
                            k: Int, nProbe: Int = 4): DataFrame = {
    val qd = queryVec.map(_.toDouble).toArray
    val probeCells = graft.Tables.parquet(spark, s"$path/centroids")
      .collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        (r.getInt(0), c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy(_._2).take(nProbe).map(_._1)
    graft.Tables.parquet(spark, s"$path/data")
      .filter(col("ivf_cell").isin(probeCells.map(Integer.valueOf): _*))
      .select(col(idCol), cosineToQuery(col(vecCol), queryVec).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Build and persist an IVF index from a TRAINED quantizer: run `iters`
    * Lloyd rounds from deterministic seed centroids
    * ([[Clustering.lloydCentroids]] — the q_kmeans_iters recurrence, so the
    * learned cells are bit-reproducible across engines, unlike MLlib's
    * sampled init in [[ivfWriteIndex]]), assign every vector to its
    * highest-cosine learned centroid, and write the corpus parquet
    * partitioned by `ivf_cell` plus the learned centroids as a side table.
    * This is the full train → build lifecycle; [[ivfProbeTrainedTopK]] is
    * the serve half.
    *
    * Scale shape: training is the lloyd loop (broadcast centroids, one
    * (cid,dim) aggregate per round); the final assignment is one more
    * broadcast scan; the only id-keyed shuffle is the join that re-attaches
    * the vector column for the partitioned write — a one-time index-build
    * cost. Centroid collect is O(nCells) rows.
    */
  def ivfTrainedWriteIndex(df: DataFrame, idCol: String, vecCol: String,
                           seeds: DataFrame, cidCol: String, cvecCol: String,
                           iters: Int, path: String, dims: Int = 64): Unit = {
    val cents = Materialize(Clustering.lloydCentroids(df, idCol, vecCol, seeds, cidCol,
        cvecCol, iters, dims)).df // feeds the side-table write AND the assignment
    cents.select(col("cid").cast("int").as("ivf_cell"), col("cvec").as("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val v = Clustering.lloydPrep(df, idCol, vecCol)
    Clustering.lloydAssign(v, idCol, vecCol, cents)
      .select(col(idCol), col("cid").cast("int").as("ivf_cell"))
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
      .write.mode("overwrite").partitionBy("ivf_cell").parquet(s"$path/data")
  }

  /** Probe a [[ivfTrainedWriteIndex]] index by query vector: rank the
    * learned centroids by squared L2 distance to the query (driver-side over
    * the O(nCells) side table, ties to the smaller cell id), scan ONLY the
    * nProbe nearest cells' parquet partitions (`ivf_cell IN` → partition
    * filter, zero bytes from other cells), exact cosine + bounded top-k
    * inside. `excludeId` drops the query's own row before the cut (pass a
    * sentinel when the query vector is not in the corpus).
    */
  def ivfProbeTrainedTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                          idCol: String, vecCol: String, queryVec: Seq[Float],
                          k: Int, nProbe: Int = 4,
                          excludeId: Long = -1L): DataFrame = {
    val qd = queryVec.map(_.toDouble).toArray
    val probeCells = graft.Tables.parquet(spark, s"$path/centroids")
      .collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        (r.getInt(0), c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (cell, d2) => (d2, cell) }.take(nProbe).map(_._1)
    graft.Tables.parquet(spark, s"$path/data")
      .filter(col("ivf_cell").isin(probeCells.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= excludeId)
      .select(col(idCol), col("ivf_cell"),
        cosineToQuery(col(vecCol), queryVec).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Build and persist a full IVFPQ index (Jégou et al. TPAMI 2011, the
    * FAISS IVFPQ shape): [[ivfTrainedWriteIndex]]'s Lloyd-learned coarse
    * cells + vectors partitioned by cell, PLUS a `codes` table — every
    * vector's m PQ code ids packed into one `array<int>`
    * ([[ProductQuant.packCodes]]), partitioned by the same learned cell —
    * and the PQ codebook as a side table. A probe then reads m ints per
    * candidate from only nProbe cells; full vectors are touched only for the
    * reranked shortlist.
    */
  def ivfPqWriteIndex(df: DataFrame, idCol: String, vecCol: String,
                      seeds: DataFrame, cidCol: String, cvecCol: String,
                      iters: Int, codebook: DataFrame, codeCol: String,
                      pqVecCol: String, path: String,
                      m: Int = 8, subDim: Int = 8, dims: Int = 64): Unit = {
    ivfTrainedWriteIndex(df, idCol, vecCol, seeds, cidCol, cvecCol, iters,
      path, dims)
    val spark = df.sparkSession
    val assign = graft.Tables.parquet(spark, s"$path/data")
      .select(col(idCol), col("ivf_cell"))
    ProductQuant.packCodes(
        ProductQuant.encode(df, idCol, vecCol, codebook, codeCol, pqVecCol,
          m, subDim), idCol)
      .join(assign, Seq(idCol))
      .write.mode("overwrite").partitionBy("ivf_cell")
      .parquet(s"$path/codes")
    codebook.select(col(codeCol).as("code"), col(pqVecCol).as("cvec"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Serve an [[ivfPqWriteIndex]] index: rank learned centroids driver-side
    * (O(nCells)), ADC-score ONLY the nProbe nearest cells' code rows against
    * the broadcast m×codes lookup table (`ivf_cell IN` → partition filter on
    * the codes table — zero bytes from other cells, m ints per candidate),
    * cut to a `shortlist` by approximate distance, then rerank the shortlist
    * EXACTLY by fetching just those vectors (broadcast semi of the shortlist
    * against the pruned vector partitions). Output: (id, ivf_cell, adc_dist,
    * cosine), k rows by exact cosine descending.
    *
    * recall(rerank) ≥ recall(ADC alone) whenever the shortlist is deeper
    * than k — quantization error can reorder near-ties, and the exact pass
    * repairs every inversion inside the shortlist (spec-asserted).
    */
  def ivfPqProbeTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, vecCol: String, queryVec: Seq[Float],
                     k: Int, nProbe: Int = 2, shortlist: Int = 30,
                     excludeId: Long = -1L,
                     m: Int = 8, subDim: Int = 8): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val qd = queryVec.map(_.toDouble).toArray
    val probeCells = graft.Tables.parquet(spark, s"$path/centroids")
      .collect()
      .map { r =>
        val c = r.getSeq[Double](1)
        (r.getInt(0), c.zip(qd).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (cell, d2) => (d2, cell) }.take(nProbe).map(_._1)
    val cellFilter = col("ivf_cell").isin(probeCells.map(Integer.valueOf): _*)
    val lut = ProductQuant.adcLut(graft.Tables.parquet(spark, s"$path/codebook"),
      "code", "cvec", queryVec, m, subDim)
    // posexplode position IS the subspace (packCodes stores subspace order)
    val adc = graft.Tables.parquet(spark, s"$path/codes")
      .filter(cellFilter).filter(col(idCol) =!= excludeId)
      .select(col(idCol), col("ivf_cell"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col(idCol))
      .agg(first(col("ivf_cell")).as("ivf_cell"),
        sum(col("__dq2").cast("decimal(18,9)")).cast("double").as("adc_dist"))
    // keep only (id, adc_dist): the vector table re-supplies ivf_cell
    val short = adc.orderBy(col("adc_dist"), col(idCol)).limit(shortlist)
      .select(col(idCol), col("adc_dist"))
    graft.Tables.parquet(spark, s"$path/data").filter(cellFilter)
      .join(broadcast(short), Seq(idCol))
      .select(col(idCol), col("ivf_cell"), col("adc_dist"),
        cosineToQuery(col(vecCol), queryVec).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVFPQ serve: every query row in `queries` resolves its nProbe
    * nearest learned cells, ADC-scores ONLY those cells' code rows against
    * its own broadcast lookup-table slice, shortlists per query by
    * approximate distance, and exactly reranks the shortlist — the
    * many-queries-one-job shape a production ANN service runs
    * ([[ivfPqProbeTopK]] × queries without per-query jobs, the IVFPQ
    * counterpart of [[ivfTopKForQueries]]/[[lshTopKForQueries]]).
    *
    * Scale shape: centroids (nCells rows) and the per-query LUTs
    * (#queries × m × codes rows) broadcast; the codes table is read ONCE
    * filtered to the UNION of all queries' probe cells (partition filter),
    * candidates join their queries' probes on `ivf_cell`; per-query
    * shortlists come from a rank window PARTITIONED BY query (parallel
    * across queries); vectors are fetched only for shortlisted (query, id)
    * pairs via a broadcast join against the pruned vector partitions.
    * Output: (query_id, id, ivf_cell, adc_dist, cosine), k rows per query
    * by exact cosine descending.
    */
  def ivfPqProbeTopKForQueries(spark: org.apache.spark.sql.SparkSession,
                               path: String, queries: DataFrame,
                               idCol: String, vecCol: String,
                               k: Int, nProbe: Int = 2, shortlist: Int = 30,
                               m: Int = 8, subDim: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cents = graft.Tables.parquet(spark, s"$path/centroids")
      .select(col("ivf_cell"), col("centroid"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn"))
    val d2 = aggregate(
      zip_with(col("__qv"), col("__centroid"),
        (x, c) => { val dx = x.cast("double") - c; dx * dx }),
      lit(0.0), (acc, x) => acc + x)
    // nProbe cells per query: #queries × nCells rows, both sides broadcast
    // cell filter + candidate join + rerank
    val probes = Materialize(q.crossJoin(broadcast(
        cents.select(col("ivf_cell"), col("centroid").as("__centroid"))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(d2, col("ivf_cell"))))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("ivf_cell"))).df
    // per-query ADC lookup tables: slice the query vector per subspace
    // against every codeword — #queries × m × codes broadcast rows
    val cb = graft.Tables.parquet(spark, s"$path/codebook")
    val lut = q.crossJoin(broadcast(cb))
      .select(col("query_id"), col("code"),
        explode(array((0 until m).map { s =>
          struct(lit(s).as("subspace"),
            aggregate(zip_with(
              slice(col("__qv"), s * subDim + 1, subDim),
              slice(col("cvec"), s * subDim + 1, subDim),
              (x, y) => {
                val d = x.cast("double") - y.cast("double"); d * d
              }), lit(0.0), (acc, x) => acc + x).as("dq2"))
        }: _*)).as("__s"))
      .select(col("query_id"), col("__s.subspace").as("subspace"),
        col("code"), col("__s.dq2").as("__dq2"))
    // the probed-cell UNION comes to the driver as O(nCells) ints so both
    // index reads carry a STATIC partition filter (isin prunes files at
    // plan time; a join would not)
    val cellsArr = probes.select(col("ivf_cell")).distinct()
      .collect().map(_.getInt(0))
    val cellFilter = col("ivf_cell").isin(cellsArr.map(Integer.valueOf): _*)
    val adc = graft.Tables.parquet(spark, s"$path/codes")
      .filter(cellFilter)
      .join(broadcast(probes), Seq("ivf_cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("ivf_cell"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .join(broadcast(lut), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(first(col("ivf_cell")).as("ivf_cell"),
        sum(col("__dq2").cast("decimal(18,9)")).cast("double")
          .as("adc_dist"))
    val short = adc
      .withColumn("__sr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist"), col(idCol))))
      .filter(col("__sr") <= shortlist)
      .select(col("query_id"), col(idCol), col("adc_dist"))
    graft.Tables.parquet(spark, s"$path/data")
      .filter(cellFilter)
      .join(broadcast(short), Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col(idCol), col("ivf_cell"), col("adc_dist"),
        (dot(col(vecCol), col("__qv")) /
          (norm(col(vecCol)) * col("__qn"))).as("cosine"))
      .withColumn("__kr", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col(idCol))))
      .filter(col("__kr") <= k)
      .select(col("query_id"), col(idCol), col("ivf_cell"), col("adc_dist"),
        col("cosine"))
  }

  /** Approximate top-k: sign-LSH bucket the corpus once (numPlanes deterministic
    * hyperplanes — same scheme as [[Dedup.embeddingDupPairs]]), then scan only
    * candidates whose bucket is within `maxHammingProbe` of the query's bucket.
    * Recall < 1 by design; ScalaTest checks recall vs [[topKForId]].
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, numPlanes: Int = 8,
              maxHammingProbe: Int = 2): DataFrame = {
    // In a production ANN service the bucketed corpus would be persisted once
    // (bucketed parquet or cached) and probed many times; here each query
    // recomputes it — the bucket expression is scan-side and cheap.
    val bucketed = df
      .withColumn("bucket", lshBucket(col(vecCol), dims = 64, numPlanes))
    val qBucket = bucketed.filter(col(idCol) === queryId)
      .select(col("bucket")).head().getLong(0)
    val qVec = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol)).head().getSeq[Float](0)
    bucketed
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= maxHammingProbe)
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosineToQuery(col(vecCol), qVec).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe recall curve for the sign-LSH index: for each hamming probe
    * radius 0..`maxRadius`, the fraction of EXACT top-k results (per query,
    * vs brute force — [[topKForQueries]]) whose corpus bucket lies within that
    * radius of the query's bucket, i.e. the candidate recall the banded
    * multi-probe ring ([[lshTopKForQueries]]) achieves at that radius. The
    * whole curve needs ONE hamming evaluation per truth pair — a true
    * neighbor at hamming h is admitted by every radius ≥ h, so per-radius
    * candidate generation would recompute the same information
    * (the exact re-rank inside the ring keeps every admitted true neighbor).
    *
    * `n_probe_buckets` rides along: Σ_{i≤r} C(numPlanes, i) — the index cost
    * knob a caller tunes against the recall this curve measures.
    *
    * Scale shape: the truth side is the production measurement harness run on
    * a SAMPLE of queries (here: the query frame itself); everything downstream
    * of the exact top-k is O(#queries × k) rows.
    */
  def lshRecallByProbe(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       numPlanes: Int = 8, maxRadius: Int = 3,
                       dims: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val truth = topKForQueries(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col(idCol))
    val cb = corpus.select(col(idCol),
      lshBucket(col(vecCol), dims, numPlanes).as("__cb"))
    val qb = queries.select(col(idCol).as("query_id"),
      lshBucket(col(vecCol), dims, numPlanes).as("__qb"))
    def choose(n: Int, r: Int): Long =
      (0 until r).foldLeft(1L)((acc, i) => acc * (n - i) / (i + 1))
    val radii = (0 to maxRadius)
      .map(r => (r, (0 to r).map(choose(numPlanes, _)).sum))
      .toDF("max_hamming", "n_probe_buckets")
    truth.join(cb, Seq(idCol)).join(broadcast(qb), Seq("query_id"))
      .select(bit_count(col("__cb").bitwiseXOR(col("__qb"))).as("__h"))
      .crossJoin(broadcast(radii))
      .groupBy(col("max_hamming"), col("n_probe_buckets"))
      .agg(count(lit(1)).as("n_truth_pairs"),
        sum(when(col("__h") <= col("max_hamming"), 1L).otherwise(0L))
          .as("n_found"))
      .select(col("max_hamming").cast("int").as("max_hamming"),
        col("n_probe_buckets"), col("n_truth_pairs"), col("n_found"),
        round(col("n_found").cast("double") / col("n_truth_pairs"), 6)
          .as("recall"))
  }

  /** MUTUAL nearest neighbors between two embedding sides (Haghverdi et
    * al., Nat. Biotech 2018 — batch-effect alignment; Artetxe/Conneau —
    * unsupervised translation-pair mining): (a, b) pairs where b is a's
    * top-1 AND a is b's top-1 by cosine. One-directional top-1 pairs
    * everything greedily and drags in hubs; mutuality is the cheap filter
    * that keeps only pairs BOTH sides agree on — the standard alignment
    * seed.
    *
    * Exact contract: all A×B cosines — the SIDES must be bounded by
    * construction (two query batches, two shortlist pools; at corpus
    * scale route each side through the IVF/LSH shortlist paths first and
    * align the shortlists). Norms precompute per row; the pair table
    * checkpoints once and feeds both per-side argmax windows (partitioned
    * by a-id / b-id — never global). Ties break on the partner id, and
    * dot/norm arithmetic is the module's ascending-index discipline, so
    * both engines rank identically.
    *
    * Output, a-id ascending: (a_id, b_id, cosine) for mutual pairs only.
    */
  def mutualNearestNeighbors(df: DataFrame, idCol: String, vecCol: String,
                             sideA: Column): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"), sideA.as("in_a"))
    val a = base.filter(col("in_a"))
      .select(col("id").as("a_id"), col("v").as("va"),
        sqrt(dot(col("v"), col("v"))).as("nrm_a"))
    val b = base.filter(!col("in_a"))
      .select(col("id").as("b_id"), col("v").as("vb"),
        sqrt(dot(col("v"), col("v"))).as("nrm_b"))
    val pairs = Materialize(a.crossJoin(b)
      .select(col("a_id"), col("b_id"),
        (dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
          .as("cos"))).df
    val wa = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b_id")).orderBy(col("cos").desc, col("a_id"))
    val topA = pairs.withColumn("r", row_number().over(wa))
      .filter(col("r") === 1).select(col("a_id"), col("b_id"), col("cos"))
    val topB = pairs.withColumn("r", row_number().over(wb))
      .filter(col("r") === 1)
      .select(col("a_id").as("a2"), col("b_id").as("b2"))
    topA.join(topB, col("a_id") === col("a2") && col("b_id") === col("b2"),
        "leftsemi")
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("a_id"))
  }
}
