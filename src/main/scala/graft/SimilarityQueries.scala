package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Vector similarity search and embedding diagnostics: exact, LSH, IVF and
  * product-quantized top-k, reranking, clustering and its evaluation, and
  * lexical retrieval (BM25, TF-IDF, hashed bag-of-words).
  */
object SimilarityQueries extends QueryFamily("similarity") {
  import Inputs.{centroidAssignCtes, ivfCtesSql, lshBucketPlanesSql, scratchPath, seedCentroids}

  // -------------------------------------------------------------------------
  // Similarity search
  // -------------------------------------------------------------------------

  def qSimsearchTopk(spark: SparkSession, dir: String): DataFrame =
    SimSearch.topKForId(Tables.embeddings(spark, dir), "vec_id", "embedding",
        queryId = 0L, k = 10)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))

  val simsearchTopkSql: String =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT e.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
      |     sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)))) AS cos_raw
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
      |SELECT vec_id, ROUND(cos_raw, 6) AS cosine FROM s
      |ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin

  /** Two-stage quantized retrieval: int8 integer-dot shortlist (50) → exact
    * fp32 cosine re-rank to top 10 ([[SimSearch.quantizedRerankTopKForId]]).
    */
  def qSimsearchQuantized(spark: SparkSession, dir: String): DataFrame =
    SimSearch.quantizedRerankTopKForId(Tables.embeddings(spark, dir),
        "vec_id", "embedding", queryId = 0L, k = 10, rerank = 50)
      .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))

  val simsearchQuantizedSql: String =
    """WITH nrm AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nv
      |  FROM embeddings),
      |nx AS (SELECT vec_id, embedding, nv, list_transform(embedding,
      |    x -> CASE WHEN nv = 0 THEN 0.0 ELSE x::DOUBLE / nv END) AS n
      |  FROM nrm),
      |mxq AS (SELECT vec_id, embedding, nv,
      |    list_max(list_transform(n, x -> abs(x))) AS mx, n
      |  FROM nx),
      |qv AS (SELECT vec_id, embedding, nv, mx, list_transform(n,
      |    x -> CASE WHEN mx = 0 THEN 0 ELSE CAST(ROUND(x * 127.0 / mx) AS BIGINT) END) AS q
      |  FROM mxq),
      |qq AS (SELECT q AS qarr, embedding AS qe, nv AS qn FROM qv WHERE vec_id = 0),
      |sc AS (SELECT v.vec_id, v.embedding, v.nv, v.mx,
      |    CAST(list_sum(list_transform(generate_series(1, 64),
      |      i -> v.q[i] * qq.qarr[i])) AS BIGINT) AS idot
      |  FROM qv v CROSS JOIN qq WHERE v.vec_id <> 0),
      |short AS (SELECT * FROM sc ORDER BY idot::DOUBLE * mx DESC, vec_id LIMIT 50),
      |rr AS (SELECT s.vec_id,
      |    CASE WHEN s.nv * qq.qn = 0 THEN 0.0 ELSE
      |      list_sum(list_transform(generate_series(1, 64),
      |        i -> s.embedding[i]::DOUBLE * qq.qe[i]::DOUBLE)) / (s.nv * qq.qn)
      |    END AS cos_raw
      |  FROM short s CROSS JOIN qq)
      |SELECT vec_id, ROUND(cos_raw, 6) AS cosine FROM rr
      |ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin

  /** Batched service-shape ANN: 5 query vectors resolved against the corpus in one
    * job via the broadcast + bounded-heap-aggregate plan ([[SimSearch.topKForQueries]]).
    */
  def qSimsearchBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimSearch.topKForQueries(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simsearchBatchSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS qn
      |  FROM embeddings WHERE vec_id < 5),
      |s AS (SELECT q.query_id, e.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) * q.qn) AS cos_raw
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
      |r AS (SELECT query_id, vec_id, cos_raw,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, vec_id) AS rank
      |  FROM s)
      |SELECT query_id, rank, vec_id, ROUND(cos_raw, 6) AS cosine
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** Batched APPROXIMATE ANN through the candidate-pruned LSH path
    * ([[SimSearch.lshTopKForQueries]]): probe-ring bucket equi-join instead of
    * the exact path's full-corpus scan. The oracle replays the SAME bucket
    * arithmetic and ring condition (`bit_count(xor(bucket, qbucket)) <= probe`)
    * in DuckDB, so the approximation itself — which candidates the ring admits —
    * is oracle-checked, not just recall-bounded.
    */
  def qSimsearchLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimSearch.lshTopKForQueries(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, numPlanes = 8, maxHammingProbe = 2)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val simsearchLshSql: String = {
    val planes = lshBucketPlanesSql(8)
    s"""WITH b AS (SELECT vec_id, embedding,
      |      $planes AS bucket,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
      |    FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket AS qb
      |    FROM b WHERE vec_id < 5),
      |s AS (SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> c.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (c.nrm * q.qn) AS cos_raw
      |  FROM b c JOIN q ON bit_count(xor(c.bucket, q.qb)) <= 2
      |    AND c.vec_id <> q.query_id),
      |r AS (SELECT query_id, vec_id, cos_raw,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, vec_id) AS rank
      |  FROM s)
      |SELECT query_id, rank, vec_id, ROUND(cos_raw, 6) AS cosine
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** Multi-probe LSH recall/probes curve ([[SimSearch.lshRecallByProbe]]):
    * for probe radius 0..3 over the 8-plane sign-LSH index, what fraction of
    * the exact top-10 (5 queries, brute force) falls inside the probed bucket
    * ring — the measured tuning curve for `maxHammingProbe`, with the probed
    * bucket count alongside as the cost axis.
    */
  def qLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    SimSearch.lshRecallByProbe(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, numPlanes = 8, maxRadius = 3)
      .orderBy(col("max_hamming"))
  }

  val lshMultiprobeSql: String = {
    val planes = lshBucketPlanesSql(8)
    s"""WITH b AS (SELECT vec_id, embedding,
      |      $planes AS bucket,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
      |    FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket AS qb
      |    FROM b WHERE vec_id < 5),
      |s AS (SELECT q.query_id, c.vec_id, q.qb,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> c.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (c.nrm * q.qn)
      |      AS cos_raw,
      |    c.bucket
      |  FROM b c CROSS JOIN q WHERE c.vec_id <> q.query_id),
      |t AS (SELECT query_id, vec_id, bucket, qb,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos_raw DESC, vec_id) AS rank
      |  FROM s),
      |h AS (SELECT bit_count(xor(bucket, qb)) AS h FROM t WHERE rank <= 10),
      |r AS (SELECT * FROM (VALUES (0, 1), (1, 9), (2, 37), (3, 93))
      |    AS v(max_hamming, n_probe_buckets))
      |SELECT CAST(r.max_hamming AS INT) AS max_hamming,
      |  CAST(r.n_probe_buckets AS BIGINT) AS n_probe_buckets,
      |  COUNT(*) AS n_truth_pairs,
      |  CAST(SUM(CASE WHEN h.h <= r.max_hamming THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_found,
      |  ROUND(SUM(CASE WHEN h.h <= r.max_hamming THEN 1 ELSE 0 END) * 1.0
      |    / COUNT(*), 6) AS recall
      |FROM h CROSS JOIN r GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  /** Per-label embedding centroids in long format (label, dimension, mean) — class
    * prototypes for embedding-space analysis. posexplode turns the array into
    * (pos, value) rows so the mean is one map-side-partial hash aggregate keyed by
    * (label, pos); no array column ever crosses the shuffle.
    */
  def qLabelCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 6).as("centroid"))
      .orderBy(col("label"), col("dim"))

  val labelCentroidSql: String =
    """SELECT label, i AS dim,
      |  ROUND(AVG(embedding[i]::DOUBLE), 6) AS centroid
      |FROM embeddings CROSS JOIN generate_series(1, 64) s(i)
      |GROUP BY label, i ORDER BY label, i""".stripMargin

  /** Embedding-space quality eval: 1-NN label agreement on a deterministic
    * 10% query sample (every vector whose id ≡ 0 mod 10 finds its nearest
    * OTHER vector by cosine; agreement of their labels per query label). The
    * kNN leg is [[SimSearch.topKForQueries]] — broadcast queries, corpus
    * never shuffles, bounded-heap top-1 — so the eval is the search service's
    * own plan pointed at itself. High agreement ⇒ the space clusters by
    * label; a drop after re-embedding is the retrain regression alarm.
    */
  def qKnnLabelAcc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // FIXED probe panel (200 vectors): an accuracy estimator's error is set
    // by the panel size, not the corpus — and a panel that grows with the
    // corpus makes the probe join quadratic (the r13 sf1.0 probe measured
    // 44x time for 10x data with `vec_id % 10 = 0` alone; the cap restores
    // panel x corpus = O(corpus)).
    val nn = SimSearch.topKForQueries(emb,
      emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 2000),
      "vec_id", "embedding", k = 1)
    nn.join(emb.select(col("vec_id").as("query_id"), col("label").as("q_label")),
        Seq("query_id"))
      .join(emb.select(col("vec_id"), col("label").as("n_label")), Seq("vec_id"))
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
          .as("n_match"))
      .select(col("label"), col("n_queries"), col("n_match"),
        round(col("n_match").cast("double") / col("n_queries"), 6).as("acc"))
      .orderBy(col("label"))
  }

  val knnLabelAccSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlab
      |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 2000),
      |s AS (SELECT q.qid, q.qlab, e.label AS nlab,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
      |     sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE)))) AS cos, e.vec_id
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
      |r AS (SELECT qid, qlab, nlab FROM (SELECT *, ROW_NUMBER() OVER (
      |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn FROM s)
      |  WHERE rn = 1)
      |SELECT qlab AS label, COUNT(*) AS n_queries,
      |  CAST(SUM(CASE WHEN qlab = nlab THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |  ROUND(SUM(CASE WHEN qlab = nlab THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
      |    AS acc
      |FROM r GROUP BY 1 ORDER BY label""".stripMargin

  /** Embedding drift between two corpus snapshots (stand-in: even/odd vec_id
    * halves): per-label mean-vector prototypes for each half, their cosine and
    * norms. prototype_cos ≈ 1 means the label's region didn't move between
    * embedding runs; a dip says re-index/re-train. Everything is exploded to
    * (label, half, dim) keyed aggregates — the array never crosses a shuffle,
    * and per-dim/per-term sums go through DECIMAL so both engines see
    * identical doubles regardless of partition order.
    */
  def qEmbedDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec18 = (c: org.apache.spark.sql.Column) => c.cast("decimal(27,12)")
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")))
    val m = e.groupBy(col("label"), col("half"), col("pos"))
      .agg((sum(dec18(col("col").cast("double"))).cast("double") /
        count(lit(1))).as("m"))
    val a = m.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("m").as("ma"))
    val b = m.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("m").as("mb"))
    a.join(b, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(sum(dec18(col("ma") * col("mb"))).cast("double").as("dt"),
        sum(dec18(col("ma") * col("ma"))).cast("double").as("na2"),
        sum(dec18(col("mb") * col("mb"))).cast("double").as("nb2"))
      .select(col("label"),
        round(col("dt") / (sqrt(col("na2")) * sqrt(col("nb2"))), 6)
          .as("prototype_cos"),
        round(sqrt(col("na2")), 6).as("norm_a"),
        round(sqrt(col("nb2")), 6).as("norm_b"))
      .orderBy(col("label"))
  }

  val embedDriftSql: String =
    """WITH e AS (SELECT label, vec_id % 2 AS half, x.i AS pos,
      |    embedding[x.i]::DOUBLE AS v
      |  FROM embeddings CROSS JOIN
      |    (SELECT unnest(generate_series(1, 64)) AS i) x),
      |m AS (SELECT label, half, pos,
      |    CAST(SUM(CAST(v AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*) AS m
      |  FROM e GROUP BY 1, 2, 3),
      |j AS (SELECT a.label, a.m AS ma, b.m AS mb
      |  FROM m a JOIN m b ON a.label = b.label AND a.pos = b.pos
      |  WHERE a.half = 0 AND b.half = 1),
      |g AS (SELECT label,
      |    CAST(SUM(CAST(ma * mb AS DECIMAL(27,12))) AS DOUBLE) AS dt,
      |    CAST(SUM(CAST(ma * ma AS DECIMAL(27,12))) AS DOUBLE) AS na2,
      |    CAST(SUM(CAST(mb * mb AS DECIMAL(27,12))) AS DOUBLE) AS nb2
      |  FROM j GROUP BY 1)
      |SELECT label, ROUND(dt / (sqrt(na2) * sqrt(nb2)), 6) AS prototype_cos,
      |  ROUND(sqrt(na2), 6) AS norm_a, ROUND(sqrt(nb2), 6) AS norm_b
      |FROM g ORDER BY label""".stripMargin

  def qEmbedQuantize(spark: SparkSession, dir: String): DataFrame =
    Embeddings.quantizeStats(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  val embedQuantizeSql: String =
    """WITH m AS (SELECT vec_id,
      |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx,
      |    embedding FROM embeddings),
      |e AS (SELECT vec_id, mx, unnest(embedding) AS x FROM m),
      |q AS (SELECT vec_id, mx, CASE WHEN mx = 0 THEN 0
      |    ELSE CAST(ROUND(x::DOUBLE * 127.0 / mx) AS BIGINT) END AS qv FROM e)
      |SELECT vec_id, ROUND(mx, 6) AS scale, CAST(SUM(qv) AS BIGINT) AS sum_q,
      |  MIN(qv) AS min_q, MAX(qv) AS max_q
      |FROM q GROUP BY vec_id, mx ORDER BY vec_id""".stripMargin

  /** Nearest-centroid assignment ([[Clustering.assignToCentroids]]) — the
    * deterministic half of k-means, oracle-checked against a rank-1 window over
    * all (vector, centroid) cosines.
    */
  def qCentroidAssign(spark: SparkSession, dir: String): DataFrame =
    Clustering.assignToCentroids(Tables.embeddings(spark, dir), "vec_id",
        "embedding", seedCentroids(spark, dir), "cid", "cvec")
      .select(col("vec_id"), col("centroid_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("vec_id"))

  val centroidAssignSql: String =
    s"""WITH $centroidAssignCtes
      |SELECT vec_id, cid AS centroid_id, ROUND(cos, 6) AS cosine
      |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin

  /** Hybrid retrieval with reciprocal-rank fusion: a dense leg (embedding
    * cosine to query vector 0) and a sparse leg (distinct-term overlap with
    * query document 0) each produce a top-100 candidate ranking, fused as
    * `Σ 1/(60 + rank)` (RRF, Cormack et al.) and cut to the final top 20.
    *
    * Scale shape: each leg is scan → TakeOrderedAndProject(100) — the rank
    * window then runs on ≤100 rows post-limit (the [[TextQuality.topNgrams]]
    * precedent), never on the corpus. The fusion join touches 100-row inputs.
    */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), SimSearch.norm(col("embedding")).as("qn"))
    val dense = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("id"),
        (SimSearch.dot(col("embedding"), col("qe")) /
          (SimSearch.norm(col("embedding")) * col("qn"))).as("cos"))
      .orderBy(col("cos").desc, col("id")).limit(100)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("id"))).cast("long"))
    val qTerms = docs.filter(col("doc_id") === 0)
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
    val sparse = docs.filter(col("doc_id") =!= 0)
      .select(col("doc_id").as("id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .join(broadcast(qTerms), "term")
      .groupBy(col("id")).agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("id")).limit(100)
      .withColumn("sparse_rank",
        row_number().over(Window.orderBy(col("overlap").desc, col("id"))).cast("long"))
    dense.select(col("id"), col("dense_rank"))
      .join(sparse.select(col("id"), col("sparse_rank")), Seq("id"), "full_outer")
      .select(col("id"), col("dense_rank"), col("sparse_rank"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("sparse_rank")), lit(0.0)), 6)
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id")).limit(20)
  }

  val hybridRrfSql: String =
    """WITH qv AS (SELECT embedding AS qe,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS qn
      |  FROM embeddings WHERE vec_id = 0),
      |dense0 AS (SELECT vec_id AS id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * qv.qe[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE))) * qv.qn) AS cos
      |  FROM embeddings e CROSS JOIN qv WHERE vec_id <> 0),
      |dense AS (SELECT id, ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS dense_rank
      |  FROM dense0 QUALIFY dense_rank <= 100),
      |qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
      |  FROM documents WHERE doc_id = 0),
      |ov AS (SELECT doc_id AS id, COUNT(*) AS overlap
      |  FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents WHERE doc_id <> 0) d
      |  JOIN qt USING (term) GROUP BY 1),
      |sparse AS (SELECT id, ROW_NUMBER() OVER (ORDER BY overlap DESC, id) AS sparse_rank
      |  FROM ov QUALIFY sparse_rank <= 100),
      |fused AS (SELECT COALESCE(dense.id, sparse.id) AS id, dense_rank, sparse_rank,
      |    ROUND(COALESCE(1.0::DOUBLE / (60 + dense_rank), 0) +
      |          COALESCE(1.0::DOUBLE / (60 + sparse_rank), 0), 6) AS rrf_score
      |  FROM dense FULL OUTER JOIN sparse ON dense.id = sparse.id)
      |SELECT id, dense_rank, sparse_rank, rrf_score FROM fused
      |ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin

  // -------------------------------------------------------------------------
  // Clustering quality, popularity bias, graph drift
  // -------------------------------------------------------------------------

  /** Simplified silhouette of the seed-centroid clustering over the embedding
    * corpus — the measurable form of SemDeDup's "raise k or sub-cluster"
    * decision.
    */
  def qSilhouette(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Clustering.simplifiedSilhouette(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        Inputs.seedCentroids(spark, dir), "cid", "cvec")
      .orderBy(col("centroid_id"))

  val silhouetteSql: String =
    s"""WITH ${Inputs.centroidAssignCtes},
      |b1 AS (SELECT vec_id, cid, 1 - cos AS a FROM r WHERE rk = 1),
      |b2 AS (SELECT vec_id, 1 - cos AS b FROM r WHERE rk = 2),
      |sil AS (SELECT b1.cid,
      |    CAST(CASE WHEN GREATEST(a, b) = 0 THEN 0
      |      ELSE (b - a) / GREATEST(a, b) END AS DECIMAL(18,8)) AS s
      |  FROM b1 JOIN b2 ON b1.vec_id = b2.vec_id)
      |SELECT cid AS centroid_id, COUNT(*) AS n_vectors,
      |  ROUND(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
      |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cosine histogram over deterministic md5-paired embedding rows. */
  def qEmbedSimHist(spark: SparkSession, dir: String): DataFrame =
    Embeddings.pairCosineHistogram(Tables.embeddings(spark, dir),
        "vec_id", "embedding")
      .orderBy(col("bin"))

  val embedSimHistSql: String =
    """WITH h AS (SELECT vec_id AS id, embedding AS vec,
      |    md5(CAST(vec_id AS VARCHAR)) AS hh,
      |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 64
      |      AS bucket
      |  FROM embeddings),
      |p AS (SELECT *, ROW_NUMBER() OVER w AS rn, LEAD(vec) OVER w AS pvec
      |  FROM h WINDOW w AS (PARTITION BY bucket ORDER BY hh, id)),
      |c AS (SELECT ROUND(
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> vec[i]::DOUBLE * pvec[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> vec[i]::DOUBLE * vec[i]::DOUBLE))) *
      |     sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> pvec[i]::DOUBLE * pvec[i]::DOUBLE)))), 6) AS cos
      |  FROM p WHERE rn % 2 = 1 AND pvec IS NOT NULL),
      |b AS (SELECT CAST(LEAST(19, GREATEST(0,
      |    FLOOR((cos + 1.0) / 2.0 * 20))) AS INT) AS bin, cos FROM c)
      |SELECT bin, ROUND(-1.0 + bin * 2.0 / 20, 6) AS lo, COUNT(*) AS n_pairs,
      |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_cos
      |FROM b GROUP BY 1 ORDER BY bin""".stripMargin

  // -------------------------------------------------------------------------
  // Binary sign-quantized Hamming top-k over the embeddings table
  // -------------------------------------------------------------------------

  /** Hamming top-10 for the first five vectors as queries (64 dims → two
    * 32-bit words).
    */
  def qEmbedBinary(spark: SparkSession, dir: String): DataFrame =
    Embeddings.binaryTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
        dims = 64, isQuery = col("vec_id") < 5, k = 10)
      .orderBy(col("query_id"), col("rnk"))

  val embedBinarySql: String =
    """WITH b AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN i < 32 AND embedding[i + 1] > 0
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS w0,
      |    CAST(SUM(CASE WHEN i >= 32 AND embedding[i + 1] > 0
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS w1
      |  FROM embeddings
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS i)
      |  GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM b
      |      WHERE vec_id < 5),
      |d AS (SELECT q.query_id, b.vec_id,
      |    bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1)) AS hamming
      |  FROM b CROSS JOIN q WHERE b.vec_id <> q.query_id),
      |r AS (SELECT query_id, vec_id, hamming,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id)
      |      AS rnk FROM d)
      |SELECT query_id, vec_id, hamming, rnk FROM r WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  /** Banded binary candidates + exact-cosine rerank (the sub-linear path);
    * exercises the codegen'd VecDot in the rerank projection. 8-bit
    * bands: the synthetic embeddings have near-independent dimensions, so a
    * 16-bit exact band almost never fires (p ≈ 4·2⁻¹⁶ per pair); real
    * embedding spaces are anisotropic (correlated sign patterns) and band
    * wider. Band width is the recall/cost dial, like LSH rows-per-band.
    */
  def qEmbedBinaryRerank(spark: SparkSession, dir: String): DataFrame =
    Embeddings.binaryTopKBandedRerank(Tables.embeddings(spark, dir), "vec_id",
        "embedding", dims = 64, isQuery = col("vec_id") < 5, k = 5, bandBits = 8)
      .select(col("query_id"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))

  val embedBinaryRerankSql: String =
    """WITH b AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN i < 32 AND embedding[i + 1] > 0
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS w0,
      |    CAST(SUM(CASE WHEN i >= 32 AND embedding[i + 1] > 0
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS w1
      |  FROM embeddings
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS i)
      |  GROUP BY 1),
      |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM b
      |      WHERE vec_id < 5),
      |cand AS (SELECT q.query_id, b.vec_id FROM b CROSS JOIN q
      |  WHERE b.vec_id <> q.query_id AND (
      |    (xor(b.w0, q.q0) & 255) = 0 OR
      |    ((xor(b.w0, q.q0) >> 8) & 255) = 0 OR
      |    ((xor(b.w0, q.q0) >> 16) & 255) = 0 OR
      |    ((xor(b.w0, q.q0) >> 24) & 255) = 0 OR
      |    (xor(b.w1, q.q1) & 255) = 0 OR
      |    ((xor(b.w1, q.q1) >> 8) & 255) = 0 OR
      |    ((xor(b.w1, q.q1) >> 16) & 255) = 0 OR
      |    ((xor(b.w1, q.q1) >> 24) & 255) = 0)),
      |cs AS (SELECT c.query_id, c.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * qe.embedding[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) *
      |     sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> qe.embedding[i]::DOUBLE * qe.embedding[i]::DOUBLE)))) AS cosine
      |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
      |  JOIN embeddings qe ON c.query_id = qe.vec_id),
      |r AS (SELECT query_id, vec_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id)
      |      AS rnk FROM cs)
      |SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rnk
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Per-dimension embedding profile (whitening / dead-dim diagnostics). */
  def qEmbedDimProfile(spark: SparkSession, dir: String): DataFrame =
    Embeddings.dimProfile(Tables.embeddings(spark, dir), "embedding")
      .orderBy(col("dim"))

  val embedDimProfileSql: String =
    """WITH c AS (SELECT i AS dim, embedding[i + 1] AS v,
      |    CAST(embedding[i + 1] AS DECIMAL(18,9)) AS vd
      |  FROM embeddings
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS i)),
      |a AS (SELECT dim, COUNT(*) AS n, SUM(vd) AS s, SUM(vd * vd) AS sq,
      |    MIN(v) AS v_min, MAX(v) AS v_max
      |  FROM c GROUP BY 1)
      |SELECT dim, n, ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
      |  ROUND(SQRT((CAST(sq AS DOUBLE) -
      |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 6) AS std,
      |  v_min, v_max
      |FROM a ORDER BY dim""".stripMargin

  // --------------------------------------------------------------------------
  // MMR rerank
  // --------------------------------------------------------------------------

  /** MMR(λ=0.5) selection of 5 from the cosine top-20 shortlist for vec 0. */
  def qMmrRerank(spark: SparkSession, dir: String): DataFrame =
    Mmr.rerank(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryId = 0L, candidates = 20, k = 5, lambda = 0.5)

  /** Index-ordered float→double cosine between two DuckDB list columns —
    * bit-identical to [[graft.ext.SimSearch.dot]]/norm (the q_simsearch_topk
    * precedent).
    */
  private def cosSql(a: String, b: String): String = {
    def dotSql(x: String, y: String): String =
      "list_sum(list_transform(generate_series(1, 64), " +
        s"i -> $x[i]::DOUBLE * $y[i]::DOUBLE))"
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  }

  /** Unrolled greedy MMR — each step i: max-sim of every remaining candidate
    * against the i−1 selected, argmax of `0.5·rel − 0.5·maxsim` with id
    * tiebreak, identical to the Spark loop in [[graft.ext.Mmr.rerank]].
    */
  val mmrRerankSql: String = {
    val k = 5
    val steps = (2 to k).map { i =>
      val prev = i - 1
      s"""ms$i AS (SELECT c.vec_id, c.embedding, c.rel,
         |    MAX(${cosSql("c.embedding", "s.embedding")}) AS maxsim
         |  FROM cand c CROSS JOIN sel$prev s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel$prev)
         |  GROUP BY c.vec_id, c.embedding, c.rel),
         |s$i AS (SELECT $i AS rnk, vec_id, embedding, rel,
         |    0.5 * rel - 0.5 * maxsim AS score
         |  FROM ms$i ORDER BY score DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id, embedding FROM sel$prev
         |  UNION ALL SELECT vec_id, embedding FROM s$i)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(i => s"SELECT rnk, vec_id, rel, score FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT e.vec_id, e.embedding,
       |    ${cosSql("e.embedding", "q.qe")} AS rel
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT 20),
       |s1 AS (SELECT 1 AS rnk, vec_id, embedding, rel,
       |    0.5 * rel - 0.5 * 0.0 AS score
       |  FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT vec_id, embedding FROM s1),
       |$steps
       |SELECT rnk, vec_id, ROUND(rel, 6) AS relevance,
       |  ROUND(score, 6) AS mmr_score
       |FROM ($unionAll) ORDER BY rnk""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Farthest-point sampling (k-center coreset over embeddings)
  // --------------------------------------------------------------------------

  def qFpsSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Coreset.farthestPointSample(Tables.embeddings(spark, dir),
      "vec_id", "embedding", seedId = 0L, k = 5)

  /** Unrolled greedy k-center: b_i carries each point's running max-cosine to
    * the selected set (incremental GREATEST == full MAX — associative), s_i
    * is the argmin with id tiebreak. Identical to the Spark loop in
    * [[graft.ext.Coreset.farthestPointSample]].
    */
  val fpsSampleSql: String = {
    val k = 5
    val steps = (2 to k).map { i =>
      val prev = i - 1
      val stepCte =
        s"""s$i AS (SELECT vec_id, embedding, bs FROM b$prev
           |  ORDER BY bs ASC, vec_id LIMIT 1)""".stripMargin
      val nextB = if (i < k)
        s""",
           |b$i AS (SELECT b$prev.vec_id, b$prev.embedding,
           |    GREATEST(b$prev.bs, ${cosSql(s"b$prev.embedding", s"s$i.embedding")}) AS bs
           |  FROM b$prev CROSS JOIN s$i WHERE b$prev.vec_id <> s$i.vec_id)""".stripMargin
      else ""
      stepCte + nextB
    }.mkString(",\n")
    val unionAll = (2 to k).map(i =>
      s"UNION ALL SELECT $i AS rnk, vec_id, ROUND(bs, 6) AS farthest_sim FROM s$i")
      .mkString("\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |b1 AS (SELECT e.vec_id, e.embedding,
       |    ${cosSql("e.embedding", "q.qe")} AS bs
       |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
       |$steps
       |SELECT 1 AS rnk, CAST(0 AS BIGINT) AS vec_id,
       |  CAST(NULL AS DOUBLE) AS farthest_sim
       |$unionAll
       |ORDER BY rnk""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Seeded IVF probe search
  // --------------------------------------------------------------------------

  /** IVF top-10 for vec 0 with the vec_id<8 seed quantizer, probing the 3
    * nearest cells ([[SimSearch.seededIvfTopK]]). Recall vs the exact scan is
    * by design < 1 (SimSearchSpec asserts the trade); the oracle proves the
    * PRUNED result exactly.
    */
  def qIvfSeeded(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimSearch.seededIvfTopK(emb, "vec_id", "embedding", seeds, "cid", "cvec",
        queryId = 0L, k = 10, nProbe = 3)
      .select(col("vec_id"), col("centroid_id"), round(col("cosine"), 6).as("cosine"))
  }

  val ivfSeededSql: String =
    s"""WITH ${Inputs.centroidAssignCtes},
      |asn AS (SELECT vec_id, cid FROM r WHERE rk = 1),
      |q AS (SELECT embedding AS qe, nv AS qn FROM v WHERE vec_id = 0),
      |probe AS (SELECT c.cid FROM c CROSS JOIN q
      |  ORDER BY list_sum(list_transform(generate_series(1, 64),
      |      i -> c.ce[i]::DOUBLE * q.qe[i]::DOUBLE)) / (c.nc * q.qn) DESC, c.cid
      |  LIMIT 3),
      |cand AS (SELECT a.vec_id, a.cid FROM asn a JOIN probe p ON a.cid = p.cid
      |  WHERE a.vec_id <> 0),
      |sc AS (SELECT cand.vec_id, cand.cid AS centroid_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (v.nv * q.qn) AS cos_raw
      |  FROM cand JOIN v ON cand.vec_id = v.vec_id CROSS JOIN q)
      |SELECT vec_id, centroid_id, ROUND(cos_raw, 6) AS cosine FROM sc
      |ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------------------
  // Cohen's kappa (1-NN-seed label predictions vs true labels)
  // --------------------------------------------------------------------------

  /** Chance-corrected agreement ([[Experiment.cohensKappa]]) between the
    * nearest-seed-centroid label prediction (seeds: vec_id<10 with their
    * labels) and the true label, over all non-seed vectors.
    */
  def qCohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("label").as("seed_label"))
    val assigned = Clustering.assignToCentroids(emb.filter(col("vec_id") >= 10),
      "vec_id", "embedding", seeds.select(col("cid"), col("cvec")), "cid", "cvec")
    val joined = assigned
      .join(seeds.select(col("cid").as("centroid_id"), col("seed_label")),
        "centroid_id")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select(col("seed_label").as("pred"), col("label").as("truth"))
    Experiment.cohensKappa(joined, "pred", "truth")
  }

  val cohensKappaSql: String =
    """WITH v AS (SELECT vec_id, embedding, label,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nv
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce, label AS slabel, nv AS nc
      |  FROM v WHERE vec_id < 10),
      |s AS (SELECT v.vec_id, c.cid, c.slabel,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) / (v.nv * c.nc) AS cos
      |  FROM v CROSS JOIN c WHERE v.vec_id >= 10),
      |r AS (SELECT vec_id, slabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |  FROM s),
      |j AS (SELECT r.slabel AS pred, v.label AS truth
      |  FROM r JOIN v USING (vec_id) WHERE rk = 1),
      |cell AS (SELECT pred, truth, COUNT(*) AS n_cell FROM j GROUP BY 1, 2),
      |n AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n FROM cell),
      |po AS (SELECT COALESCE(CAST(SUM(n_cell) AS BIGINT), 0) AS n_agree
      |  FROM cell WHERE pred = truth),
      |pm AS (SELECT pred AS cl, CAST(SUM(n_cell) AS BIGINT) AS n_pred
      |  FROM cell GROUP BY 1),
      |tm AS (SELECT truth AS cl, CAST(SUM(n_cell) AS BIGINT) AS n_truth
      |  FROM cell GROUP BY 1),
      |pe AS (SELECT COALESCE(CAST(SUM(n_pred * n_truth) AS BIGINT), 0) AS s_pe
      |  FROM pm JOIN tm USING (cl))
      |SELECT n,
      |  ROUND(CAST(n_agree AS DOUBLE) / n, 6) AS p_o,
      |  ROUND(CAST(s_pe AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS p_e,
      |  ROUND((CAST(n_agree AS DOUBLE) / n - CAST(s_pe AS DOUBLE) / (CAST(n AS DOUBLE) * n))
      |    / (1.0 - CAST(s_pe AS DOUBLE) / (CAST(n AS DOUBLE) * n)), 6) AS kappa
      |FROM n CROSS JOIN po CROSS JOIN pe""".stripMargin

  // --------------------------------------------------------------------------
  // Diagonal-Mahalanobis embedding outliers
  // --------------------------------------------------------------------------

  /** Top-20 corpus anomalies by squared diagonal-Mahalanobis distance
    * ([[graft.ext.Embeddings.mahalanobisOutliers]]).
    */
  def qEmbedOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Embeddings.mahalanobisOutliers(Tables.embeddings(spark, dir),
        "vec_id", "embedding", topN = 20)
      .select(col("vec_id"), round(col("mahal2"), 6).as("mahal2"))

  val embedOutliersSql: String =
    """WITH c AS (SELECT i AS dim, CAST(embedding[i + 1] AS DECIMAL(18,9)) AS vd
      |  FROM embeddings
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS i)),
      |a AS (SELECT dim, COUNT(*) AS n, SUM(vd) AS s, SUM(vd * vd) AS sq
      |  FROM c GROUP BY 1),
      |st AS (SELECT dim, ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
      |    ROUND(SQRT((CAST(sq AS DOUBLE) -
      |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 6) AS std
      |  FROM a),
      |arr AS (SELECT list(mean ORDER BY dim) AS mu, list(std ORDER BY dim) AS sd
      |  FROM st),
      |sc AS (SELECT e.vec_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CASE WHEN sd[i] = 0 THEN 0.0 ELSE
      |        ((e.embedding[i]::DOUBLE - mu[i]) / sd[i]) *
      |        ((e.embedding[i]::DOUBLE - mu[i]) / sd[i]) END)) AS mahal2
      |  FROM embeddings e CROSS JOIN arr)
      |SELECT vec_id, ROUND(mahal2, 6) AS mahal2 FROM sc
      |ORDER BY mahal2 DESC, vec_id LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // kNN label-noise screen
  // --------------------------------------------------------------------------

  /** Vectors whose label disagrees with the 5-NN anchor majority
    * ([[Clustering.labelNoiseByKnn]]; anchors: vec_id<10 with their labels).
    */
  def qLabelNoise(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Clustering.labelNoiseByKnn(emb.filter(col("vec_id") >= 10),
        "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label", k = 5)
      .orderBy(col("vec_id"))
  }

  val labelNoiseSql: String =
    """WITH v AS (SELECT vec_id, embedding, label,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nv
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce, label AS slabel, nv AS nc
      |  FROM v WHERE vec_id < 10),
      |s AS (SELECT v.vec_id, v.label, c.cid, c.slabel,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) / (v.nv * c.nc) AS cos
      |  FROM v CROSS JOIN c WHERE v.vec_id >= 10),
      |r AS (SELECT vec_id, label, cid, slabel,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |  FROM s),
      |votes AS (SELECT vec_id, label, slabel, COUNT(*) AS n
      |  FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
      |m AS (SELECT vec_id, label, slabel, n,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY n DESC, slabel) AS vr
      |  FROM votes)
      |SELECT vec_id, label, slabel AS pred_label, CAST(n AS BIGINT) AS n_votes
      |FROM m WHERE vr = 1 AND slabel <> label ORDER BY vec_id""".stripMargin

  // --------------------------------------------------------------------------
  // Embedding isotropy
  // --------------------------------------------------------------------------

  /** One-row isotropy panel ([[graft.ext.Embeddings.isotropyProfile]]). */
  def qEmbedIsotropy(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Embeddings.isotropyProfile(Tables.embeddings(spark, dir),
      "embedding")

  val embedIsotropySql: String =
    """WITH c AS (SELECT i AS dim, CAST(embedding[i + 1] AS DECIMAL(18,9)) AS vd
      |  FROM embeddings
      |  CROSS JOIN (SELECT CAST(UNNEST(range(0, 64)) AS INT) AS i)),
      |a AS (SELECT dim, COUNT(*) AS n, SUM(vd) AS s, SUM(vd * vd) AS sq
      |  FROM c GROUP BY 1),
      |va AS (SELECT CAST(ROUND((CAST(sq AS DOUBLE) -
      |    CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 6)
      |    AS DECIMAL(18,6)) AS var FROM a),
      |g AS (SELECT COUNT(*) AS n_dims, SUM(var) AS sv,
      |    SUM(CAST(var * var AS DECIMAL(38,12))) AS svv, MAX(var) AS vmax
      |  FROM va)
      |SELECT n_dims, ROUND(CAST(sv AS DOUBLE), 6) AS total_var,
      |  ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(svv AS DOUBLE), 6)
      |    AS participation_ratio,
      |  ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / CAST(svv AS DOUBLE)
      |    / n_dims, 6) AS pr_fraction,
      |  ROUND(CAST(vmax AS DOUBLE) / CAST(sv AS DOUBLE), 6) AS top1_var_share
      |FROM g""".stripMargin

  // --------------------------------------------------------------------------
  // Triplet-margin violation rate
  // --------------------------------------------------------------------------

  /** Metric-learning health of the labeled embedding space
    * ([[graft.ext.Embeddings.tripletViolations]], margin 0.05,
    * id-deterministic triplet selection).
    */
  def qTripletViolation(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Embeddings.tripletViolations(Tables.embeddings(spark, dir),
      "vec_id", "embedding", "label", margin = 0.05)

  val tripletViolationSql: String =
    """WITH v AS (SELECT vec_id AS id, embedding AS vec, label AS lbl,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> x::DOUBLE * x::DOUBLE))) AS nv
      |  FROM embeddings),
      |p AS (SELECT id, vec, lbl, nv,
      |    lead(id, 1) OVER (PARTITION BY lbl ORDER BY id) AS pos_id,
      |    lead(id, 1) OVER (ORDER BY id) AS n1_id,
      |    lead(lbl, 1) OVER (ORDER BY id) AS n1_lbl,
      |    lead(id, 2) OVER (ORDER BY id) AS n2_id,
      |    lead(lbl, 2) OVER (ORDER BY id) AS n2_lbl
      |  FROM v),
      |pk AS (SELECT *,
      |    CASE WHEN n1_lbl IS NOT NULL AND n1_lbl <> lbl THEN n1_id
      |         WHEN n2_lbl IS NOT NULL AND n2_lbl <> lbl THEN n2_id
      |    END AS neg_id FROM p),
      |t AS (SELECT pk.id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> pk.vec[i]::DOUBLE * pv.vec[i]::DOUBLE)) /
      |      (pk.nv * pv.nv) AS cos_pos,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> pk.vec[i]::DOUBLE * ng.vec[i]::DOUBLE)) /
      |      (pk.nv * ng.nv) AS cos_neg
      |  FROM pk JOIN v pv ON pk.pos_id = pv.id
      |  JOIN v ng ON pk.neg_id = ng.id
      |  WHERE pk.pos_id IS NOT NULL AND pk.neg_id IS NOT NULL),
      |a AS (SELECT COUNT(*) AS n_anchors FROM v),
      |s AS (SELECT COUNT(*) AS n_triplets,
      |    CAST(SUM(CASE WHEN cos_pos < cos_neg + 0.05 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_violations,
      |    SUM(CAST(cos_pos - cos_neg AS DECIMAL(28,12))) AS gap
      |  FROM t)
      |SELECT n_anchors, n_triplets, n_violations,
      |  ROUND(CAST(n_violations AS DOUBLE) / n_triplets, 6) AS violation_rate,
      |  ROUND(CAST(gap AS DOUBLE) / n_triplets, 6) AS avg_gap
      |FROM a CROSS JOIN s""".stripMargin

  // --------------------------------------------------------------------------
  // BM25 ranked retrieval
  // --------------------------------------------------------------------------

  /** BM25 top-20 for the query {hash, join, scan} over documents
    * ([[graft.ext.Bm25.bm25TopK]]) — the ranked-retrieval complement of the
    * boolean q_keyword_and.
    */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Bm25.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      terms = Seq("hash", "join", "scan"), k1 = 1.2, b = 0.75, topK = 20)

  val bm25Sql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_toks
      |  FROM dl),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      |  WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1, 2),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
      |        (CAST(t_toks AS DOUBLE) / n_docs))) AS DECIMAL(18,8)) AS ts
      |  FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id)
      |  CROSS JOIN corpus),
      |agg AS (SELECT doc_id, COUNT(*) AS n_terms_hit,
      |    ROUND(CAST(SUM(ts) AS DOUBLE), 6) AS score FROM sc GROUP BY 1),
      |top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 20)
      |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank,
      |  doc_id, n_terms_hit, score
      |FROM top ORDER BY rank""".stripMargin

  // --------------------------------------------------------------------------
  // TF-IDF more-like-this
  // --------------------------------------------------------------------------

  /** Top-10 documents by TF-IDF cosine to doc 1
    * ([[graft.ext.Bm25.moreLikeThis]]) — related-items retrieval over the
    * sparse inverted-index join (vs q_semantic_dup's embedding cosine).
    */
  def qMoreLikeThis(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Bm25.moreLikeThis(Tables.documents(spark, dir), "doc_id",
      "text", queryId = 1L, topK = 10)

  val moreLikeThisSql: String =
    """WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
      |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |     FROM documents) GROUP BY 1, 2),
      |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
      |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |wts AS (SELECT doc_id, tok,
      |    tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS w
      |  FROM tf JOIN dfq USING (tok) CROSS JOIN nn),
      |nr AS (SELECT doc_id,
      |    sqrt(CAST(SUM(CAST(w * w AS DECIMAL(18,8))) AS DOUBLE)) AS nrm
      |  FROM wts GROUP BY 1),
      |qw AS (SELECT tok, w AS qw FROM wts WHERE doc_id = 1),
      |qn AS (SELECT nrm AS qnrm FROM nr WHERE doc_id = 1),
      |dt AS (SELECT w.doc_id, COUNT(*) AS n_shared_terms,
      |    SUM(CAST(w.w * qw.qw AS DECIMAL(18,8))) AS dot
      |  FROM wts w JOIN qw USING (tok) WHERE w.doc_id <> 1 GROUP BY 1),
      |cs AS (SELECT doc_id, n_shared_terms,
      |    ROUND(CAST(dot AS DOUBLE) / (nrm * qnrm), 6) AS cosine
      |  FROM dt JOIN nr USING (doc_id) CROSS JOIN qn),
      |top AS (SELECT * FROM cs ORDER BY cosine DESC, doc_id LIMIT 10)
      |SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rank,
      |  doc_id, n_shared_terms, cosine
      |FROM top ORDER BY rank""".stripMargin

  // --------------------------------------------------------------------------
  // Lloyd k-means iteration
  // --------------------------------------------------------------------------

  /** One full Lloyd round over the embeddings (assign → per-dim DECIMAL mean
    * update → re-assign; [[graft.ext.Clustering.lloydIterations]]) from the
    * deterministic `vec_id < 8` seeds — the iterative completion of
    * q_centroid_assign, oracle-checked through the centroid UPDATE, which
    * the assignment-only query never exercises.
    */
  def qKmeansIters(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.ext.Clustering.lloydIterations(emb, "vec_id", "embedding",
        seeds, "cid", "cvec", iters = 1, dims = 64)
      .select(col("centroid_id"), col("n_members"),
        round(col("mean_cos"), 6).as("mean_cos"))
      .orderBy(col("centroid_id"))
  }

  val kmeansItersSql: String =
    """WITH v AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nv
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid,
      |    list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE)
      |      AS ce
      |  FROM embeddings WHERE vec_id < 8),
      |cn0 AS (SELECT cid, ce, sqrt(list_sum(list_transform(
      |    generate_series(1, 64), i -> ce[i] * ce[i]))) AS nc FROM c0),
      |s1 AS (SELECT v.vec_id, cn0.cid,
      |    CASE WHEN v.nv = 0 OR cn0.nc = 0 THEN 0.0
      |      ELSE list_sum(list_transform(generate_series(1, 64),
      |        i -> v.embedding[i]::DOUBLE * cn0.ce[i])) / (v.nv * cn0.nc)
      |    END AS cos
      |  FROM v CROSS JOIN cn0),
      |a1 AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cid) AS rk FROM s1),
      |asn1 AS (SELECT vec_id, cid FROM a1 WHERE rk = 1),
      |upd AS (SELECT asn1.cid, ii.i,
      |    CAST(SUM(CAST(v.embedding[ii.i]::DOUBLE AS DECIMAL(18,9)))
      |      AS DOUBLE) / COUNT(*) AS mu
      |  FROM asn1 JOIN v USING (vec_id)
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ii
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(mu ORDER BY i) AS ce FROM upd GROUP BY 1),
      |cn1 AS (SELECT cid, ce, sqrt(list_sum(list_transform(
      |    generate_series(1, 64), i -> ce[i] * ce[i]))) AS nc FROM c1),
      |s2 AS (SELECT v.vec_id, cn1.cid,
      |    CASE WHEN v.nv = 0 OR cn1.nc = 0 THEN 0.0
      |      ELSE list_sum(list_transform(generate_series(1, 64),
      |        i -> v.embedding[i]::DOUBLE * cn1.ce[i])) / (v.nv * cn1.nc)
      |    END AS cos
      |  FROM v CROSS JOIN cn1),
      |a2 AS (SELECT vec_id, cid, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cid) AS rk FROM s2),
      |asn2 AS (SELECT vec_id, cid, cos FROM a2 WHERE rk = 1)
      |SELECT cid AS centroid_id, COUNT(*) AS n_members,
      |  ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_cos
      |FROM asn2 GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Cluster evaluation vs gold labels (BCubed, ARI)
  // --------------------------------------------------------------------------

  private def assignVsGold(spark: SparkSession, dir: String) = {
    val emb = Tables.embeddings(spark, dir)
    val asn = graft.ext.Clustering.assignToCentroids(emb, "vec_id",
        "embedding", Inputs.seedCentroids(spark, dir), "cid", "cvec")
      .select(col("vec_id"), col("centroid_id"))
    (asn, emb.select(col("vec_id"), col("label")))
  }

  /** BCubed P/R/F of the centroid assignment against the gold embedding
    * labels ([[graft.ext.ClusterEval.bcubed]]) — does the geometric
    * partition recover the label classes?
    */
  def qBcubed(spark: SparkSession, dir: String): DataFrame = {
    val (asn, gold) = assignVsGold(spark, dir)
    graft.ext.ClusterEval.bcubed(asn, "vec_id", "centroid_id",
        gold, "vec_id", "label")
      .select(col("n"), col("n_clusters"), col("n_classes"),
        round(col("bcubed_p"), 6).as("bcubed_p"),
        round(col("bcubed_r"), 6).as("bcubed_r"),
        round(col("bcubed_f"), 6).as("bcubed_f"))
  }

  val bcubedSql: String =
    s"""WITH ${Inputs.centroidAssignCtes},
      |asn AS (SELECT vec_id, cid FROM r WHERE rk = 1),
      |cells AS (SELECT asn.cid AS c, e.label AS g, COUNT(*) AS nij
      |  FROM asn JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
      |ai AS (SELECT c, CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY 1),
      |bj AS (SELECT g, CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
      |    COUNT(DISTINCT c) AS n_clusters, COUNT(DISTINCT g) AS n_classes
      |  FROM cells),
      |terms AS (SELECT
      |    CAST(CAST(CAST(nij AS DECIMAL(19,0)) * CAST(nij AS DECIMAL(19,0))
      |      AS DOUBLE) / CAST(ai AS DOUBLE) AS DECIMAL(28,12)) AS tp,
      |    CAST(CAST(CAST(nij AS DECIMAL(19,0)) * CAST(nij AS DECIMAL(19,0))
      |      AS DOUBLE) / CAST(bj AS DOUBLE) AS DECIMAL(28,12)) AS tr
      |  FROM cells JOIN ai USING (c) JOIN bj USING (g)),
      |ss AS (SELECT SUM(tp) AS sp, SUM(tr) AS sr FROM terms),
      |f AS (SELECT n, n_clusters, n_classes,
      |    CAST(sp AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS r
      |  FROM ss CROSS JOIN tot)
      |SELECT n, n_clusters, n_classes,
      |  ROUND(p, 6) AS bcubed_p, ROUND(r, 6) AS bcubed_r,
      |  ROUND((2.0 * p) * r / (p + r), 6) AS bcubed_f
      |FROM f""".stripMargin

  /** Adjusted Rand index of the same assignment-vs-labels comparison
    * ([[graft.ext.ClusterEval.adjustedRandIndex]]) — the chance-corrected
    * pair-counting partner of q_bcubed.
    */
  def qAri(spark: SparkSession, dir: String): DataFrame = {
    val (asn, gold) = assignVsGold(spark, dir)
    graft.ext.ClusterEval.adjustedRandIndex(asn, "vec_id", "centroid_id",
        gold, "vec_id", "label")
      .select(col("n"), round(col("sum_pairs_cells"), 6).as("sum_pairs_cells"),
        round(col("expected_index"), 6).as("expected_index"),
        round(col("max_index"), 6).as("max_index"),
        round(col("ari"), 6).as("ari"))
  }

  val ariSql: String =
    s"""WITH ${Inputs.centroidAssignCtes},
      |asn AS (SELECT vec_id, cid FROM r WHERE rk = 1),
      |cells AS (SELECT asn.cid AS c, e.label AS g, COUNT(*) AS nij
      |  FROM asn JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
      |sidx AS (SELECT SUM(CAST(nij AS DECIMAL(19,0)) *
      |      CAST(nij - 1 AS DECIMAL(19,0))) AS sidx2,
      |    CAST(SUM(nij) AS BIGINT) AS n FROM cells),
      |sa AS (SELECT SUM(CAST(ai AS DECIMAL(19,0)) *
      |      CAST(ai - 1 AS DECIMAL(19,0))) AS sa2
      |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY c)),
      |sb AS (SELECT SUM(CAST(bj AS DECIMAL(19,0)) *
      |      CAST(bj - 1 AS DECIMAL(19,0))) AS sb2
      |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY g)),
      |f AS (SELECT n,
      |    CAST(sidx2 AS DOUBLE) / 2.0 AS sidx,
      |    CAST(sa2 AS DOUBLE) / 2.0 AS sa,
      |    CAST(sb2 AS DOUBLE) / 2.0 AS sb,
      |    CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
      |      AS DOUBLE) / 2.0 AS cn
      |  FROM sidx CROSS JOIN sa CROSS JOIN sb)
      |SELECT n, ROUND(sidx, 6) AS sum_pairs_cells,
      |  ROUND((sa * sb) / cn, 6) AS expected_index,
      |  ROUND((sa + sb) / 2.0, 6) AS max_index,
      |  ROUND((sidx - (sa * sb) / cn) / ((sa + sb) / 2.0 - (sa * sb) / cn), 6)
      |    AS ari
      |FROM f""".stripMargin

  // --------------------------------------------------------------------------
  // Feature-hashed document similarity
  // --------------------------------------------------------------------------

  /** Top-10 documents by feature-hashed bag-of-words cosine against doc 0
    * ([[graft.ext.HashedEmbedding.topKSimilar]], D=64) — the no-model
    * text→vector bridge, fully relational (vectors are (doc, dim, v) rows,
    * dots an equi-join), so the whole sketch is oracle-checked.
    */
  def qHashedTopk(spark: SparkSession, dir: String): DataFrame =
    graft.ext.HashedEmbedding.topKSimilar(Tables.documents(spark, dir),
        "doc_id", "text", queryId = 0L, k = 10, dims = 64)
      .select(col("rank").as("sim_rank"), col("doc_id"), col("dot"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("sim_rank"))

  val hashedTopkSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' '))
      |    AS tok FROM documents),
      |th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
      |    AS h FROM toks WHERE len(tok) > 0),
      |vec AS (SELECT doc_id, h % 64 AS dim,
      |    CAST(SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END)
      |      AS BIGINT) AS v
      |  FROM th GROUP BY 1, 2
      |  HAVING SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) <> 0),
      |norms AS (SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM vec
      |  GROUP BY 1),
      |qv AS (SELECT dim, v AS qv FROM vec WHERE doc_id = 0),
      |qn AS (SELECT n2 AS qn2 FROM norms WHERE doc_id = 0),
      |dots AS (SELECT vec.doc_id, CAST(SUM(v * qv) AS BIGINT) AS dot
      |  FROM vec JOIN qv USING (dim) WHERE vec.doc_id <> 0 GROUP BY 1),
      |sc AS (SELECT d.doc_id, dot,
      |    CAST(dot AS DOUBLE) /
      |      (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE))) AS cosine
      |  FROM dots d JOIN norms USING (doc_id) CROSS JOIN qn),
      |top AS (SELECT doc_id, dot, cosine,
      |    ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sim_rank
      |  FROM sc)
      |SELECT sim_rank, doc_id, dot, ROUND(cosine, 6) AS cosine
      |FROM top WHERE sim_rank <= 10 ORDER BY sim_rank""".stripMargin

  // --------------------------------------------------------------------------
  // Trained IVF lifecycle: Lloyd-trained quantizer → persisted index → probe
  // --------------------------------------------------------------------------

  /** Full IVF lifecycle ([[SimSearch.ivfTrainedWriteIndex]] →
    * [[SimSearch.ivfProbeTrainedTopK]]): train a 4-cell quantizer with one
    * Lloyd round from the vec_id<4 seeds (the q_kmeans_iters recurrence, so
    * the learned cells are engine-reproducible), persist the corpus
    * partitioned by learned cell, then serve vec 0's top-10 reading only the
    * 2 nearest cells' files. The oracle proves the PRUNED result exactly —
    * recall vs the exact scan is < 1 by design (SimSearchSpec asserts the
    * partition pruning and the recall trade).
    */
  def qIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = scratchPath(spark, "ivf_trained", dir)
    SimSearch.ivfTrainedWriteIndex(emb, "vec_id", "embedding", seeds,
      "cid", "cvec", iters = 1, path)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    SimSearch.ivfProbeTrainedTopK(spark, path, "vec_id", "embedding", qVec,
        k = 10, nProbe = 2, excludeId = 0L)
      .select(col("vec_id"), col("ivf_cell").cast("long").as("ivf_cell"),
        round(col("cosine"), 6).as("cosine"))
  }

  val ivfTrainedSql: String =
    s"""WITH $ivfCtesSql,
      |sc AS (SELECT cand.vec_id, cand.cid AS ivf_cell,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (v.nv * q.qn)
      |      AS cos_raw
      |  FROM cand JOIN v USING (vec_id) CROSS JOIN q)
      |SELECT vec_id, ivf_cell, ROUND(cos_raw, 6) AS cosine FROM sc
      |ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin

  /** Full IVFPQ serve path ([[SimSearch.ivfPqWriteIndex]] →
    * [[SimSearch.ivfPqProbeTopK]]): Lloyd-learned 4-cell coarse quantizer
    * (1 round, vec_id<4 seeds), PQ codes (8×8, vec_id<4 codebook) persisted
    * per cell, then vec 0's top-10 served by ADC-scoring ONLY the 2 nearest
    * cells' code rows from the broadcast lookup table, shortlisting 30 by
    * approximate distance and exactly reranking just those vectors — the
    * FAISS-style IVFPQ deployment shape. The oracle replays the Lloyd round,
    * every code assignment, the ADC sums, the shortlist cut and the exact
    * rerank; SimSearchSpec asserts the partition pruning and
    * recall(rerank) ≥ recall(ADC-only).
    */
  def qIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = scratchPath(spark, "ivfpq", dir)
    SimSearch.ivfPqWriteIndex(emb, "vec_id", "embedding", seeds,
      "cid", "cvec", iters = 1, pqCodebook(spark, dir), "code", "cvec",
      path, m = 8, subDim = 8)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    SimSearch.ivfPqProbeTopK(spark, path, "vec_id", "embedding", qVec,
        k = 10, nProbe = 2, shortlist = 30, excludeId = 0L)
      .select(col("vec_id"), col("ivf_cell").cast("long").as("ivf_cell"),
        round(col("adc_dist"), 6).as("adc_dist"),
        round(col("cosine"), 6).as("cosine"))
  }

  val ivfPqSql: String =
    s"""WITH $ivfCtesSql,
      |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
      |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings
      |  WHERE vec_id < 4),
      |pd AS (SELECT c.vec_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS d2
      |  FROM cand c JOIN v ON c.vec_id = v.vec_id
      |  CROSS JOIN ss CROSS JOIN cb),
      |pa AS (SELECT vec_id, s, code, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |  FROM pd),
      |asnc AS (SELECT vec_id, s, code FROM pa WHERE rk = 1),
      |lut AS (SELECT ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS dq2
      |  FROM ss CROSS JOIN cb CROSS JOIN q),
      |adc AS (SELECT asnc.vec_id,
      |    CAST(SUM(CAST(lut.dq2 AS DECIMAL(18,9))) AS DOUBLE) AS adc_raw
      |  FROM asnc JOIN lut ON asnc.s = lut.s AND asnc.code = lut.code
      |  GROUP BY 1),
      |short AS (SELECT vec_id, adc_raw FROM adc
      |  ORDER BY adc_raw, vec_id LIMIT 30),
      |rr AS (SELECT sh.vec_id, c.cid AS ivf_cell, sh.adc_raw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (v.nv * q.qn)
      |      AS cos_raw
      |  FROM short sh JOIN cand c ON sh.vec_id = c.vec_id
      |  JOIN v ON sh.vec_id = v.vec_id CROSS JOIN q)
      |SELECT vec_id, ivf_cell, ROUND(adc_raw, 6) AS adc_dist,
      |  ROUND(cos_raw, 6) AS cosine
      |FROM rr ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------------------
  // Product quantization: encode summary + asymmetric-distance probe
  // --------------------------------------------------------------------------

  private def pqCodebook(spark: SparkSession, dir: String) =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cvec"))

  /** Shared oracle CTE chain for the PQ queries, ending in
    * `a(vec_id, s, code, d2, rk)` — subspace split, per-subspace squared L2
    * against the vec_id<4 seed codebook, argmin rank.
    */
  private[graft] val pqCtesSql: String =
    """ss AS (SELECT unnest(generate_series(0, 7)) AS s),
      |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings
      |  WHERE vec_id < 4),
      |d AS (SELECT v.vec_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (v.embedding[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (v.embedding[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS d2
      |  FROM embeddings v CROSS JOIN ss CROSS JOIN cb),
      |a AS (SELECT vec_id, s, code, d2, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |  FROM d)""".stripMargin

  /** PQ codebook utilization/distortion summary
    * ([[graft.ext.ProductQuant.codebookSummary]], 8 subspaces × 8 dims,
    * vec_id<4 seed codewords): one row per (subspace, code) cell with its
    * population and DECIMAL-pooled mean squared quantization error.
    */
  def qPqEncode(spark: SparkSession, dir: String): DataFrame =
    graft.ext.ProductQuant.codebookSummary(Tables.embeddings(spark, dir),
        "vec_id", "embedding", pqCodebook(spark, dir), "code", "cvec",
        m = 8, subDim = 8)
      .select(col("subspace").cast("long").as("subspace"), col("code"),
        col("n_vecs"), round(col("mse"), 6).as("mse"))
      .orderBy(col("subspace"), col("code"))

  val pqEncodeSql: String =
    s"""WITH $pqCtesSql
      |SELECT CAST(s AS BIGINT) AS subspace, code, COUNT(*) AS n_vecs,
      |  ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
      |    AS mse
      |FROM a WHERE rk = 1 GROUP BY s, code ORDER BY subspace, code""".stripMargin

  /** ADC top-10 for vec 0's query against the PQ-coded corpus
    * ([[graft.ext.ProductQuant.adcTopK]]) — the m-lookups-per-vector
    * approximate search the codes exist for; the oracle replays every code
    * assignment and the DECIMAL-pooled distance sum.
    */
  def qPqAdc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    graft.ext.ProductQuant.adcTopK(emb, "vec_id", "embedding",
        pqCodebook(spark, dir), "code", "cvec", qVec, k = 10, excludeId = 0L)
      .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_dist"))
  }

  val pqAdcSql: String =
    s"""WITH $pqCtesSql,
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |lut AS (SELECT ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS dq2
      |  FROM ss CROSS JOIN cb CROSS JOIN q),
      |asn AS (SELECT vec_id, s, code FROM a WHERE rk = 1),
      |adc AS (SELECT asn.vec_id,
      |    CAST(SUM(CAST(lut.dq2 AS DECIMAL(18,9))) AS DOUBLE) AS adc_raw
      |  FROM asn JOIN lut ON asn.s = lut.s AND asn.code = lut.code
      |  WHERE asn.vec_id <> 0 GROUP BY 1)
      |SELECT vec_id, ROUND(adc_raw, 6) AS adc_dist FROM adc
      |ORDER BY adc_raw, vec_id LIMIT 10""".stripMargin

  // --------------------------------------------------------------------------
  // Dimension-truncation fidelity curve
  // --------------------------------------------------------------------------

  /** Matryoshka truncation audit
    * ([[graft.ext.Embeddings.dimTruncationFidelity]]): mean |cos_d − cos_64|
    * over (even, +1) pairs for d ∈ {8, 16, 32, 64} — the 64-dim row is an
    * exact-zero sanity anchor.
    */
  def qDimTruncation(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Embeddings.dimTruncationFidelity(Tables.embeddings(spark, dir),
        "vec_id", "embedding", dims = Seq(8, 16, 32, 64), fullDim = 64)
      .select(col("dims"), col("n_pairs"),
        round(col("mean_abs_err"), 6).as("mean_abs_err"))
      .orderBy(col("dims"))

  val dimTruncationSql: String =
    """WITH pr AS (SELECT a.embedding AS ea, b.embedding AS eb
      |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |  WHERE a.vec_id % 2 = 0),
      |dd AS (SELECT unnest([8, 16, 32, 64]) AS d),
      |e AS (SELECT dd.d,
      |    sqrt(list_sum(list_transform(generate_series(1, dd.d),
      |      i -> ea[i]::DOUBLE * ea[i]::DOUBLE))) AS na,
      |    sqrt(list_sum(list_transform(generate_series(1, dd.d),
      |      i -> eb[i]::DOUBLE * eb[i]::DOUBLE))) AS nb,
      |    list_sum(list_transform(generate_series(1, dd.d),
      |      i -> ea[i]::DOUBLE * eb[i]::DOUBLE)) AS dt,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> ea[i]::DOUBLE * ea[i]::DOUBLE))) AS na64,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> eb[i]::DOUBLE * eb[i]::DOUBLE))) AS nb64,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> ea[i]::DOUBLE * eb[i]::DOUBLE)) AS dt64
      |  FROM pr CROSS JOIN dd),
      |er AS (SELECT d,
      |    ABS((CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dt / (na * nb) END)
      |      - (CASE WHEN na64 = 0 OR nb64 = 0 THEN 0.0
      |          ELSE dt64 / (na64 * nb64) END)) AS err
      |  FROM e)
      |SELECT CAST(d AS BIGINT) AS dims, COUNT(*) AS n_pairs,
      |  ROUND(CAST(SUM(CAST(err AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_abs_err
      |FROM er GROUP BY d ORDER BY dims""".stripMargin

  // --------------------------------------------------------------------------
  // Residual product quantization
  // --------------------------------------------------------------------------

  /** Residual PQ vs raw PQ, per subspace: quantize v − centroid(v) (the
    * coarse cell from the q_ivf_trained Lloyd round) against a residual
    * codebook and compare pooled MSE with quantizing v directly
    * ([[graft.ext.ProductQuant.residualVectors]]/[[graft.ext.ProductQuant
    * .subspaceMse]]) — the measurement behind FAISS's choice to PQ-encode
    * residuals inside IVF cells. OmegaModulesSpec asserts the residual MSE
    * is lower on clustered data; the oracle replays the Lloyd round, both
    * code assignments and both poolings.
    */
  def qPqResidual(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.{Clustering, ProductQuant}
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cents = Materialize(Clustering.lloydCentroids(emb, "vec_id",
      "embedding", seeds, "cid", "cvec", iters = 1, dims = 64))
      .df // assignment + residual join read it
    val resid = Materialize(ProductQuant.residualVectors(emb, "vec_id",
      "embedding", cents)).df // codebook slice + encode read it
    val residCb = resid.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("resid").as("cvec"))
    val rawMse = ProductQuant.subspaceMse(ProductQuant.encode(
      emb, "vec_id", "embedding", pqCodebook(spark, dir), "code", "cvec",
      m = 8, subDim = 8)).withColumnRenamed("mse", "mse_raw")
    val residMse = ProductQuant.subspaceMse(ProductQuant.encode(
      resid, "vec_id", "resid", residCb, "code", "cvec",
      m = 8, subDim = 8)).withColumnRenamed("mse", "mse_resid")
    rawMse.join(residMse, Seq("subspace"))
      .select(col("subspace").cast("long").as("subspace"),
        round(col("mse_raw"), 6).as("mse_raw"),
        round(col("mse_resid"), 6).as("mse_resid"),
        round(col("mse_resid") / col("mse_raw"), 6).as("mse_ratio"))
      .orderBy(col("subspace"))
  }

  val pqResidualSql: String =
    s"""WITH ${Inputs.ivfCtesSql},
      |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
      |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings
      |  WHERE vec_id < 4),
      |rd0 AS (SELECT v.vec_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS d2
      |  FROM v CROSS JOIN ss CROSS JOIN cb),
      |ra0 AS (SELECT vec_id, s, d2, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM rd0),
      |rawm AS (SELECT s,
      |    CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mse_raw
      |  FROM ra0 WHERE rk = 1 GROUP BY 1),
      |rv AS (SELECT v.vec_id,
      |    list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE - c1.ce[i]) AS r
      |  FROM v JOIN asn2 ON v.vec_id = asn2.vec_id
      |  JOIN c1 ON asn2.cid = c1.cid),
      |rcb AS (SELECT vec_id AS code, r AS rce FROM rv WHERE vec_id < 4),
      |rd1 AS (SELECT rv.vec_id, ss.s, rcb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (rv.r[ss.s * 8 + i] - rcb.rce[ss.s * 8 + i])
      |         * (rv.r[ss.s * 8 + i] - rcb.rce[ss.s * 8 + i])))
      |      AS d2
      |  FROM rv CROSS JOIN ss CROSS JOIN rcb),
      |ra1 AS (SELECT vec_id, s, d2, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM rd1),
      |resm AS (SELECT s,
      |    CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
      |      AS mse_resid
      |  FROM ra1 WHERE rk = 1 GROUP BY 1)
      |SELECT CAST(s AS BIGINT) AS subspace, ROUND(mse_raw, 6) AS mse_raw,
      |  ROUND(mse_resid, 6) AS mse_resid,
      |  ROUND(mse_resid / mse_raw, 6) AS mse_ratio
      |FROM rawm JOIN resm USING (s) ORDER BY subspace""".stripMargin

  // --------------------------------------------------------------------------
  // Power-iteration top eigenpair of the embedding covariance
  // --------------------------------------------------------------------------

  /** Top principal eigenpair by two deterministic power-iteration rounds
    * ([[graft.ext.Embeddings.powerIterationTopEig]]): per-dim loading of
    * the dominant direction, its eigenvalue, and the share of total
    * variance it explains — the oracle-checkable partner of the MLlib
    * [[graft.ext.Embeddings.pcaProject]].
    */
  def qPcaPower(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Embeddings.powerIterationTopEig(
        Tables.embeddings(spark, dir), "embedding", iters = 2, dims = 64)
      .select(col("dim"), round(col("loading"), 6).as("loading"),
        round(col("lambda"), 6).as("lambda"),
        round(col("explained_share"), 6).as("explained_share"))
      .orderBy(col("dim"))

  val pcaPowerSql: String =
    """WITH ii AS (SELECT unnest(generate_series(1, 64)) AS i),
      |v AS (SELECT vec_id, embedding FROM embeddings),
      |n AS (SELECT COUNT(*) AS n FROM v),
      |mu AS (SELECT ii.i,
      |    CAST(SUM(CAST(v.embedding[ii.i]::DOUBLE AS DECIMAL(18,9)))
      |      AS DOUBLE) / COUNT(*) AS mu
      |  FROM v CROSS JOIN ii GROUP BY 1),
      |muv AS (SELECT list(mu ORDER BY i) AS muv FROM mu),
      |cv AS (SELECT v.vec_id, list_transform(generate_series(1, 64),
      |    i -> v.embedding[i]::DOUBLE - muv.muv[i]) AS c
      |  FROM v CROSS JOIN muv),
      |d1 AS (SELECT vec_id, c,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> c[i] * 1.0)) AS d
      |  FROM cv),
      |w1 AS (SELECT ii.i,
      |    CAST(SUM(CAST(d1.c[ii.i] * d1.d AS DECIMAL(28,12))) AS DOUBLE)
      |      / (SELECT CAST(n AS DOUBLE) FROM n) AS w
      |  FROM d1 CROSS JOIN ii GROUP BY 1),
      |wv1 AS (SELECT list(w ORDER BY i) AS wv FROM w1),
      |l1 AS (SELECT wv,
      |    sqrt(list_sum(list_transform(wv, x -> x * x))) AS l FROM wv1),
      |u1 AS (SELECT list_transform(wv, x -> x / l) AS u FROM l1),
      |d2 AS (SELECT cv.vec_id, cv.c,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> cv.c[i] * u1.u[i])) AS d
      |  FROM cv CROSS JOIN u1),
      |w2 AS (SELECT ii.i,
      |    CAST(SUM(CAST(d2.c[ii.i] * d2.d AS DECIMAL(28,12))) AS DOUBLE)
      |      / (SELECT CAST(n AS DOUBLE) FROM n) AS w
      |  FROM d2 CROSS JOIN ii GROUP BY 1),
      |wv2 AS (SELECT list(w ORDER BY i) AS wv FROM w2),
      |l2 AS (SELECT wv,
      |    sqrt(list_sum(list_transform(wv, x -> x * x))) AS l FROM wv2),
      |u2 AS (SELECT list_transform(wv, x -> x / l) AS u, l FROM l2),
      |tv AS (SELECT CAST(SUM(CAST(cv.c[ii.i] * cv.c[ii.i]
      |      AS DECIMAL(28,12))) AS DOUBLE)
      |      / (SELECT CAST(n AS DOUBLE) FROM n) AS totvar
      |  FROM cv CROSS JOIN ii)
      |SELECT CAST(ii.i AS INT) AS dim, ROUND(u2.u[ii.i], 6) AS loading,
      |  ROUND(u2.l, 6) AS lambda, ROUND(u2.l / tv.totvar, 6)
      |    AS explained_share
      |FROM ii CROSS JOIN u2 CROSS JOIN tv ORDER BY dim""".stripMargin

  // --------------------------------------------------------------------------
  // Batched IVFPQ serve
  // --------------------------------------------------------------------------

  /** Many-queries-one-job IVFPQ serve
    * ([[graft.ext.SimSearch.ivfPqProbeTopKForQueries]]): vecs 0/1/2 each
    * resolve their 2 nearest learned cells, ADC-score only those cells'
    * code rows against their own broadcast LUT slice, shortlist 20 by
    * approximate distance, exact-rerank to top-5 — the production batch
    * shape of q_ivfpq_topk. The probed-cell union reaches the reads as a
    * STATIC partition filter.
    */
  def qIvfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.SimSearch
    val emb = Tables.embeddings(spark, dir)
    val seeds = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val path = Scratch.path(spark, "ivfpq_batch", dir)
    SimSearch.ivfPqWriteIndex(emb, "vec_id", "embedding", seeds,
      "cid", "cvec", iters = 1, pqCodebook(spark, dir), "code", "cvec",
      path, m = 8, subDim = 8)
    val queries = emb.filter(col("vec_id") < 3)
    SimSearch.ivfPqProbeTopKForQueries(spark, path, queries,
        "vec_id", "embedding", k = 5, nProbe = 2, shortlist = 20)
      .select(col("query_id"), col("vec_id"),
        col("ivf_cell").cast("long").as("ivf_cell"),
        round(col("adc_dist"), 6).as("adc_dist"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  val ivfPqBatchSql: String =
    s"""WITH ${Inputs.ivfCtesSql},
      |qs AS (SELECT vec_id AS query_id, embedding AS qe, nv AS qn FROM v
      |  WHERE vec_id IN (0, 1, 2)),
      |prk AS (SELECT qs.query_id, cn1.cid, ROW_NUMBER() OVER (
      |    PARTITION BY qs.query_id ORDER BY
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> (cn1.ce[i] - qs.qe[i]::DOUBLE)
      |         * (cn1.ce[i] - qs.qe[i]::DOUBLE))), cn1.cid) AS rk
      |  FROM qs CROSS JOIN cn1),
      |probes2 AS (SELECT query_id, cid FROM prk WHERE rk <= 2),
      |ss AS (SELECT unnest(generate_series(0, 7)) AS s),
      |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings
      |  WHERE vec_id < 4),
      |candv AS (SELECT p.query_id, a.vec_id, a.cid
      |  FROM asn2 a JOIN probes2 p ON a.cid = p.cid
      |  WHERE a.vec_id <> p.query_id),
      |cvd AS (SELECT DISTINCT vec_id FROM candv),
      |pdd AS (SELECT c.vec_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (v.embedding[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS d2
      |  FROM cvd c JOIN v ON c.vec_id = v.vec_id
      |  CROSS JOIN ss CROSS JOIN cb),
      |pa AS (SELECT vec_id, s, code, ROW_NUMBER() OVER
      |    (PARTITION BY vec_id, s ORDER BY d2, code) AS rk FROM pdd),
      |asnc AS (SELECT vec_id, s, code FROM pa WHERE rk = 1),
      |lut AS (SELECT qs.query_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (qs.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (qs.qe[ss.s * 8 + i]::DOUBLE
      |              - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS dq2
      |  FROM qs CROSS JOIN ss CROSS JOIN cb),
      |adc AS (SELECT cv.query_id, cv.vec_id, cv.cid AS ivf_cell,
      |    CAST(SUM(CAST(l.dq2 AS DECIMAL(18,9))) AS DOUBLE) AS adc_raw
      |  FROM candv cv JOIN asnc a ON cv.vec_id = a.vec_id
      |  JOIN lut l ON l.query_id = cv.query_id AND l.s = a.s
      |    AND l.code = a.code
      |  GROUP BY 1, 2, 3),
      |shr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY adc_raw, vec_id) AS sr FROM adc),
      |sh2 AS (SELECT query_id, vec_id, ivf_cell, adc_raw FROM shr
      |  WHERE sr <= 20),
      |rr AS (SELECT s.query_id, s.vec_id, s.ivf_cell, s.adc_raw,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * q.qe[i]::DOUBLE)) / (v.nv * q.qn)
      |      AS cos_raw
      |  FROM sh2 s JOIN v ON s.vec_id = v.vec_id
      |  JOIN qs q ON s.query_id = q.query_id),
      |rk2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY cos_raw DESC, vec_id) AS kr FROM rr)
      |SELECT query_id, vec_id, ivf_cell, ROUND(adc_raw, 6) AS adc_dist,
      |  ROUND(cos_raw, 6) AS cosine
      |FROM rk2 WHERE kr <= 5
      |ORDER BY query_id, cos_raw DESC, vec_id""".stripMargin

  // --------------------------------------------------------------------------
  // JL random-projection distortion
  // --------------------------------------------------------------------------

  /** 64→16-dim Johnson–Lindenstrauss projection with the hash-seeded ±1
    * matrix ([[graft.ext.RandomProjection]]), audited by the squared-
    * distance ratio histogram over id-sampled pairs — the read before
    * shrinking an embedding store 4×. Mass should sit at bucket 10
    * (ratio ≈ 1).
    */
  def qJlDistortion(spark: SparkSession, dir: String): DataFrame =
    graft.ext.RandomProjection.distortionHistogram(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        inDims = 64, outDims = 16, modA = 29, modB = 31)
      .select(col("bucket"), col("n_pairs"),
        round(col("mean_ratio"), 6).as("mean_ratio"))
      .orderBy(col("bucket"))

  val jlDistortionSql: String = {
    val sign = """(CASE WHEN ('0x' || substr(md5('jl:' || i || ':' || j),
      |        1, 8))::BIGINT % 2 = 0 THEN 1.0 ELSE -1.0 END)""".stripMargin
    s"""WITH proj AS (SELECT vec_id, embedding,
      |    list_transform(generate_series(0, 15), i ->
      |      list_sum(list_transform(generate_series(1, 64), j ->
      |        embedding[j]::DOUBLE * $sign)) / sqrt(16.0)) AS y
      |  FROM embeddings WHERE vec_id % 29 = 0 OR vec_id % 31 = 0),
      |a AS (SELECT vec_id AS ida, embedding AS xa, y AS ya FROM proj
      |  WHERE vec_id % 29 = 0 ORDER BY vec_id LIMIT 256),
      |b AS (SELECT vec_id AS idb, embedding AS xb, y AS yb FROM proj
      |  WHERE vec_id % 31 = 0 ORDER BY vec_id LIMIT 256),
      |pr AS (SELECT
      |    list_sum(list_transform(generate_series(1, 64), j ->
      |      (xa[j]::DOUBLE - xb[j]::DOUBLE)
      |      * (xa[j]::DOUBLE - xb[j]::DOUBLE))) AS dx2,
      |    list_sum(list_transform(generate_series(1, 16), i ->
      |      (ya[i] - yb[i]) * (ya[i] - yb[i]))) AS dy2
      |  FROM a JOIN b ON ida < idb),
      |r AS (SELECT dy2 / dx2 AS ratio FROM pr WHERE dx2 > 0)
      |SELECT CAST(FLOOR(ratio * 10) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_pairs,
      |  ROUND(CAST(SUM(CAST(ratio AS DECIMAL(18,9))) AS DOUBLE)
      |    / COUNT(*), 6) AS mean_ratio
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Mutual nearest neighbors (batch 17b)
  // --------------------------------------------------------------------------

  /** Mutual-nearest-neighbor alignment between the even- and odd-id
    * halves of the embedding store ([[graft.ext.SimSearch
    * .mutualNearestNeighbors]]): pairs both sides agree on — the
    * batch-alignment / translation-mining seed set. The oracle replays
    * the full A×B cosine matrix and both argmax windows.
    */
  def qMnnPairs(spark: SparkSession, dir: String): DataFrame =
    // side A is a FIXED 1000-vector batch (the alignment/translation-mining
    // use case aligns a bounded new batch against the corpus): letting it
    // grow with the corpus made the exact pair matrix quadratic — the r13
    // sf1.0 sweep measured 226 s for 10x data; the cap restores
    // batch x corpus = O(corpus). At the oracle scale factors every even
    // vec_id is < 2000, so the candidate set (and hash) is unchanged.
    graft.ext.SimSearch.mutualNearestNeighbors(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      col("vec_id") % 2 === 0 && col("vec_id") < 2000)

  val mnnPairsSql: String =
    """WITH a AS (SELECT vec_id AS a_id, embedding AS va,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm_a
      |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 2000),
      |b AS (SELECT vec_id AS b_id, embedding AS vb,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm_b
      |  FROM embeddings WHERE NOT (vec_id % 2 = 0 AND vec_id < 2000)),
      |p AS MATERIALIZED (SELECT a_id, b_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> va[i]::DOUBLE * vb[i]::DOUBLE)) / (nrm_a * nrm_b) AS cos
      |  FROM a CROSS JOIN b),
      |ra AS (SELECT a_id, b_id, cos, ROW_NUMBER() OVER (
      |    PARTITION BY a_id ORDER BY cos DESC, b_id) AS r FROM p),
      |rb AS (SELECT a_id, b_id, ROW_NUMBER() OVER (
      |    PARTITION BY b_id ORDER BY cos DESC, a_id) AS r FROM p)
      |SELECT ra.a_id, ra.b_id, ROUND(ra.cos, 6) AS cosine
      |FROM ra JOIN rb ON ra.a_id = rb.a_id AND ra.b_id = rb.b_id
      |WHERE ra.r = 1 AND rb.r = 1
      |ORDER BY ra.a_id""".stripMargin

  // --------------------------------------------------------------------
  // Large-codebook ADC through the broadcast-join path
  // --------------------------------------------------------------------

  /** ADC top-10 against a 128-codeword seeded book — above
    * [[graft.ext.ProductQuant.AdcFoldMaxCodes]], so this query exercises
    * the broadcast-LUT JOIN shape in the oracle gate (the 4-codeword
    * `q_pq_adc` rides the scan-side literal fold; the spec's differential
    * covers both, this makes the production-size path hash-checked too).
    * Same DECIMAL(18,9) pooling and (d2, code) tie-break; the oracle
    * replays all 128 × 8 assignments and the lookup sum.
    */
  def qPqAdcBigbook(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    val book = emb.filter(col("vec_id") < 128)
      .select(col("vec_id").as("code"), col("embedding").as("cvec"))
    graft.ext.ProductQuant.adcTopK(emb, "vec_id", "embedding",
        book, "code", "cvec", qVec, k = 10, excludeId = 0L)
      .select(col("vec_id"), round(col("adc_dist"), 6).as("adc_dist"))
  }

  val pqAdcBigbookSql: String =
    """WITH ss AS (SELECT unnest(generate_series(0, 7)) AS s),
      |cb AS (SELECT vec_id AS code, embedding AS ce FROM embeddings
      |  WHERE vec_id < 128),
      |d AS (SELECT v.vec_id, ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (v.embedding[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (v.embedding[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS d2
      |  FROM embeddings v CROSS JOIN ss CROSS JOIN cb),
      |asn AS (SELECT vec_id, s, code FROM (SELECT vec_id, s, code,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rk
      |  FROM d) WHERE rk = 1),
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |lut AS (SELECT ss.s, cb.code,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)
      |         * (q.qe[ss.s * 8 + i]::DOUBLE - cb.ce[ss.s * 8 + i]::DOUBLE)))
      |      AS dq2
      |  FROM ss CROSS JOIN cb CROSS JOIN q),
      |adc AS (SELECT asn.vec_id,
      |    CAST(SUM(CAST(lut.dq2 AS DECIMAL(18,9))) AS DOUBLE) AS adc_raw
      |  FROM asn JOIN lut ON asn.s = lut.s AND asn.code = lut.code
      |  WHERE asn.vec_id <> 0 GROUP BY 1)
      |SELECT vec_id, ROUND(adc_raw, 6) AS adc_dist FROM adc
      |ORDER BY adc_raw, vec_id LIMIT 10""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_centroid_assign", qCentroidAssign, centroidAssignSql),
    QuerySpec("q_hybrid_rrf", qHybridRrf, hybridRrfSql),
    QuerySpec("q_simsearch_topk", qSimsearchTopk, simsearchTopkSql),
    QuerySpec("q_simsearch_batch", qSimsearchBatch, simsearchBatchSql),
    QuerySpec("q_simsearch_lsh", qSimsearchLsh, simsearchLshSql),
    QuerySpec("q_lsh_multiprobe", qLshMultiprobe, lshMultiprobeSql),
    QuerySpec("q_simsearch_quantized", qSimsearchQuantized, simsearchQuantizedSql),
    QuerySpec("q_label_centroid", qLabelCentroid, labelCentroidSql),
    QuerySpec("q_knn_label_acc", qKnnLabelAcc, knnLabelAccSql),
    QuerySpec("q_embed_drift", qEmbedDrift, embedDriftSql),
    QuerySpec("q_embed_quantize", qEmbedQuantize, embedQuantizeSql),
    QuerySpec("q_silhouette", qSilhouette, silhouetteSql),
    QuerySpec("q_embed_sim_hist", qEmbedSimHist, embedSimHistSql),
    QuerySpec("q_embed_binary", qEmbedBinary, embedBinarySql),
    QuerySpec("q_embed_binary_rerank", qEmbedBinaryRerank, embedBinaryRerankSql),
    QuerySpec("q_embed_dim_profile", qEmbedDimProfile, embedDimProfileSql),
    QuerySpec("q_mmr_rerank", qMmrRerank, mmrRerankSql),
    QuerySpec("q_fps_sample", qFpsSample, fpsSampleSql),
    QuerySpec("q_ivf_seeded", qIvfSeeded, ivfSeededSql),
    QuerySpec("q_cohens_kappa", qCohensKappa, cohensKappaSql),
    QuerySpec("q_embed_outliers", qEmbedOutliers, embedOutliersSql),
    QuerySpec("q_label_noise", qLabelNoise, labelNoiseSql),
    QuerySpec("q_embed_isotropy", qEmbedIsotropy, embedIsotropySql),
    QuerySpec("q_triplet_violation", qTripletViolation, tripletViolationSql),
    QuerySpec("q_bm25", qBm25, bm25Sql),
    QuerySpec("q_more_like_this", qMoreLikeThis, moreLikeThisSql),
    QuerySpec("q_kmeans_iters", qKmeansIters, kmeansItersSql),
    QuerySpec("q_bcubed", qBcubed, bcubedSql),
    QuerySpec("q_ari", qAri, ariSql),
    QuerySpec("q_hashed_topk", qHashedTopk, hashedTopkSql),
    QuerySpec("q_ivf_trained", qIvfTrained, ivfTrainedSql),
    QuerySpec("q_pq_encode", qPqEncode, pqEncodeSql),
    QuerySpec("q_pq_adc", qPqAdc, pqAdcSql),
    QuerySpec("q_ivfpq_topk", qIvfPqTopK, ivfPqSql),
    QuerySpec("q_dim_truncation", qDimTruncation, dimTruncationSql),
    QuerySpec("q_ivfpq_batch", qIvfPqBatch, ivfPqBatchSql),
    QuerySpec("q_pq_residual", qPqResidual, pqResidualSql),
    QuerySpec("q_pca_power", qPcaPower, pcaPowerSql),
    QuerySpec("q_jl_distortion", qJlDistortion, jlDistortionSql),
    QuerySpec("q_mnn_pairs", qMnnPairs, mnnPairsSql),
    QuerySpec("q_pq_adc_bigbook", qPqAdcBigbook, pqAdcBigbookSql),
  )
}
