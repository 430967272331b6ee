package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Deduplication over the document corpus: exact, MinHash/SimHash/LSH and
  * prefix-filtered near-dup pairs and clusters, exact-substring span removal,
  * winnowing, curation pipelines, record linkage and URL canonicalization.
  */
object DedupQueries extends QueryFamily("dedup") {
  import Inputs.{centroidAssignCtes, lshBucketPlanesSql, seedCentroids, shinglesSql}

  // -------------------------------------------------------------------------
  // Dedup
  // -------------------------------------------------------------------------

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val dedupExactSql: String =
    """WITH g AS (SELECT md5(text) AS h, MIN(doc_id) AS canonical_id,
      |    COUNT(*) AS group_size FROM documents GROUP BY 1)
      |SELECT doc_id, canonical_id, group_size
      |FROM documents JOIN g ON md5(text) = g.h ORDER BY doc_id""".stripMargin

  def qDedupJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val dedupJaccardSql: String =
    s"""WITH $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  ROUND(n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared), 6) AS jaccard
      |FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Dup-rate vs threshold sweep ([[Dedup.thresholdCurve]]): pair and
    * flagged-doc counts at Jaccard cutoffs 0.5–0.9 from one pair computation.
    */
  def qDedupThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    Dedup.thresholdCurve(Tables.documents(spark, dir), "doc_id", "text", k = 3)
      .orderBy(col("threshold"))

  val dedupThresholdCurveSql: String =
    s"""WITH $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |      n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) AS jaccard
      |  FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |  WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |th AS (SELECT CAST(v AS DOUBLE) AS threshold
      |  FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) t(v)),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |pc AS (SELECT threshold, COUNT(*) AS n_pairs
      |  FROM j JOIN th ON j.jaccard >= th.threshold GROUP BY 1),
      |dm AS (SELECT id, MAX(jaccard) AS mj FROM (
      |    SELECT id_a AS id, jaccard FROM j
      |    UNION ALL SELECT id_b AS id, jaccard FROM j) GROUP BY 1),
      |dc AS (SELECT threshold, COUNT(*) AS n_dup_docs
      |  FROM dm JOIN th ON dm.mj >= th.threshold GROUP BY 1)
      |SELECT th.threshold, COALESCE(pc.n_pairs, 0) AS n_pairs,
      |  COALESCE(dc.n_dup_docs, 0) AS n_dup_docs,
      |  ROUND(COALESCE(dc.n_dup_docs, 0) * 1.0 / nd.n_docs, 6) AS dup_doc_rate
      |FROM th LEFT JOIN pc ON th.threshold = pc.threshold
      |LEFT JOIN dc ON th.threshold = dc.threshold
      |CROSS JOIN nd ORDER BY th.threshold""".stripMargin

  /** PPJoin-style prefix-filtered Jaccard ([[Dedup.jaccardPairsPrefix]]):
    * output-identical to [[qDedupJaccard]] (the prefix filter is lossless),
    * but candidates come only from each doc's rarest-first prefix shingles —
    * the oracle replays the whole prefix pipeline, so the rank/cut logic
    * itself is hash-verified, not just the final pairs.
    */
  def qDedupPrefix(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairsPrefix(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val dedupPrefixSql: String =
    s"""WITH $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |dfq AS (SELECT sh, COUNT(*) AS df_sh FROM sh GROUP BY 1),
      |pp AS (SELECT s.doc_id, s.sh,
      |    ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY df_sh, s.sh) AS pos,
      |    n.n_sh
      |  FROM sh s JOIN dfq USING (sh) JOIN n USING (doc_id)),
      |pref AS (SELECT doc_id, sh, pos, n_sh FROM pp
      |  WHERE pos <= n_sh - ceil(0.5 * n_sh) + 1),
      |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  HAVING (1 + LEAST(ANY_VALUE(a.n_sh) - MIN(a.pos),
      |                    ANY_VALUE(b.n_sh) - MIN(b.pos))) * 1.5
      |    >= 0.5 * (ANY_VALUE(a.n_sh) + ANY_VALUE(b.n_sh)) - 1e-9),
      |v AS (SELECT id_a, id_b, COUNT(*) AS n_shared
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = cand.id_a
      |  JOIN sh sb ON sb.doc_id = cand.id_b AND sb.sh = sa.sh
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  ROUND(n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared), 6) AS jaccard
      |FROM v JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  private val numHashes = 16

  private val rowsPerBand = 4

  private val numBands = numHashes / rowsPerBand

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand, threshold = 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** CTE chain ending in `banded(doc_id, band, bkey)` — shingles → minhash
    * signatures → LSH band keys over `documents`, shared by the same-set pair
    * oracles and the cross-set incremental-dedup oracle.
    */
  private[graft] val minhashSigBandCtesSql: String = {
    val mh = (0 until numHashes).map { j =>
      s"MIN((${Dedup.minhashA(j)} * h + ${Dedup.minhashB(j)}) % ${Dedup.MinhashPrime}) AS mh_$j"
    }.mkString(",\n      ")
    val bandRows = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => s"mh_${b * rowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS bkey FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""$shinglesSql,
      |hh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
      |sig AS (SELECT doc_id,
      |      $mh
      |      FROM hh GROUP BY doc_id),
      |banded AS ($bandRows)""".stripMargin
  }

  /** CTE chain ending in `j(id_a, id_b, jaccard)` — the MinHash-LSH candidate +
    * exact-verify pipeline, shared by the pair oracle and the LSH-cluster oracle.
    */
  private[graft] val minhashPairCtesSql: String = {
    s"""$minhashSigBandCtesSql,
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |      FROM banded x JOIN banded y
      |        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
      |      FROM cand c JOIN sh a ON a.doc_id = c.id_a
      |      JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh GROUP BY 1, 2),
      |j AS (SELECT c.id_a, c.id_b,
      |      COALESCE(s.n_shared, 0) * 1.0 / (na.n_sh + nb.n_sh - COALESCE(s.n_shared, 0)) AS jaccard
      |      FROM cand c LEFT JOIN shared s ON c.id_a = s.id_a AND c.id_b = s.id_b
      |      JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id)""".stripMargin
  }

  val dedupMinhashSql: String =
    s"""WITH $minhashPairCtesSql
      |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM j
      |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** Near-dup clusters: connected components (min-label) over the exact-jaccard
    * pair table — each clustered doc mapped to its cluster's min doc_id. The oracle
    * computes the same components with a recursive CTE (transitive min-reachability).
    */
  def qDupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
        Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
          k = 3, threshold = 0.5))
      .orderBy(col("id"))

  val dupClustersSql: String =
    s"""WITH RECURSIVE $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT id_a, id_b FROM p
      |      JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |      WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id)
      |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** The flagship dedup pipeline at its 100-TB shape: connected components
    * (pointer-jumping min-label) over the MinHash-LSH candidate path — banded
    * bucket join for candidates, exact verify, then clustering — instead of the
    * raw-shingle quadratic join [[qDupClusters]] uses. At scale THIS is the
    * composition that runs ([[qDupClusters]]'s exact pair table stays as the
    * verifier); the oracle re-derives the same components with a recursive CTE
    * over the minhash-pair SQL.
    */
  def qDupClustersLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(
        Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
          k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand, threshold = 0.5))
      .orderBy(col("id"))

  val dupClustersLshSql: String =
    s"""WITH RECURSIVE $minhashPairCtesSql,
      |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id)
      |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** Blocking-quality audit of the MinHash-LSH banding vs the exact-Jaccard
    * ground truth ([[Dedup.blockingQuality]]): reduction ratio (share of the
    * all-pairs space never generated) + pairs completeness (share of true
    * dup pairs surfaced) — the one-row summary behind q_lsh_recall_curve's
    * per-decile resolution.
    */
  def qBlockingQuality(spark: SparkSession, dir: String): DataFrame =
    Dedup.blockingQuality(Tables.documents(spark, dir), "doc_id", "text",
      k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand,
      threshold = 0.5)

  val blockingQualitySql: String =
    s"""WITH $minhashSigBandCtesSql,
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |      FROM banded x JOIN banded y
      |        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |tr AS (SELECT id_a, id_b FROM p
      |      JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |      WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |nc AS (SELECT COUNT(*) AS n_candidates FROM cand),
      |nt AS (SELECT COUNT(*) AS n_truth FROM tr),
      |cg AS (SELECT COUNT(*) AS n_caught
      |      FROM tr JOIN cand USING (id_a, id_b))
      |SELECT n_docs, n_docs * (n_docs - 1) // 2 AS n_total_pairs,
      |  n_candidates, n_truth, n_caught,
      |  ROUND(1.0 - CAST(n_candidates AS DOUBLE) /
      |    (n_docs * (n_docs - 1) // 2), 6) AS reduction_ratio,
      |  ROUND(CAST(n_caught AS DOUBLE) / n_truth, 6) AS pairs_completeness
      |FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN cg""".stripMargin

  /** The COMPLETE near-dup curation pipeline in one plan — what a training-data
    * run actually executes end-to-end: MinHash-LSH candidate pairs → connected
    * components → keep the cluster canonical (min doc_id; singletons keep
    * themselves) → per-language stats of the surviving corpus. Composes four
    * operators ([[Dedup.minhashLshPairs]], [[Dedup.dupClusters]], an anti-join
    * drop, an aggregate); the oracle re-derives every stage in SQL including
    * the recursive-CTE components.
    */
  def qCorpusCurationLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dupClusters(
      Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand, threshold = 0.5))
    val drops = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy(col("lang"))
  }

  val corpusCurationLshSql: String =
    s"""WITH RECURSIVE $minhashPairCtesSql,
      |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
      |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      |drops AS (SELECT id AS doc_id FROM cl WHERE id <> cluster_id)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Cross-modal agreement: each text near-dup pair (exact jaccard ≥ 0.5) paired
    * with the cosine of the two docs' embeddings (doc_id ⇔ vec_id) — the check a
    * pipeline runs to see whether text-level and embedding-level similarity agree.
    * Composition showcase: dedup pair generation × vector similarity in one plan.
    */
  def qDupPairCosine(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      k = 3, threshold = 0.5)
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        sqrt(SimSearch.dot(col("embedding"), col("embedding"))).as("nrm"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        round(SimSearch.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val dupPairCosineSql: String =
    s"""WITH $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT id_a, id_b,
      |      n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) AS jaccard
      |      FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |      WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |e AS (SELECT vec_id, embedding,
      |      sqrt(list_sum(list_transform(generate_series(1, 64),
      |        i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
      |      FROM embeddings)
      |SELECT pr.id_a, pr.id_b, ROUND(pr.jaccard, 6) AS jaccard,
      |  ROUND(list_sum(list_transform(generate_series(1, 64),
      |    i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
      |    / (x.nrm * y.nrm), 6) AS cosine
      |FROM pr JOIN e x ON pr.id_a = x.vec_id JOIN e y ON pr.id_b = y.vec_id
      |ORDER BY pr.id_a, pr.id_b""".stripMargin

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** CTE chain ending in `sims(doc_id, simhash)` — shared by the signature and
    * pair oracles.
    */
  private val simhashCtesSql: String = {
    val bitSums = (0 until 32).map { j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN tf ELSE -tf END) AS s_$j"
    }.mkString(",\n      ")
    val sig = (0 until 32).map { j =>
      s"CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""tok AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY 1, 2),
      |hh AS (SELECT doc_id, tf, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok),
      |s AS (SELECT doc_id,
      |      $bitSums
      |      FROM hh GROUP BY doc_id),
      |sims AS (SELECT doc_id, $sig AS simhash FROM s)""".stripMargin
  }

  val dedupSimhashSql: String =
    s"""WITH $simhashCtesSql
      |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin

  /** SimHash PAIR detection through the oracle gate: 60-bit signatures
    * banded into 4 × 15-bit blocks (hamming-bounded candidate generation,
    * pigeonhole-exact at maxHamming = 3) + exact hamming verify — the
    * operator [[Dedup.simhashPairs]], previously spec-only. The oracle
    * replays the same bands and `bit_count(xor(...))` verify.
    */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** 60-bit signature replay for the PAIR query (the 32-bit `sims` CTE
    * stays for q_dedup_simhash's signature dump): token hash = first 15
    * md5 hex chars, 60 conditional bit sums, 4 × 15-bit band keys —
    * the [[graft.functions.SimHash60]] convention.
    */
  private val simhash60CtesSql: String = {
    val bitSums = (0 until 60).map { j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN tf ELSE -tf END) AS s_$j"
    }.mkString(",\n      ")
    val sig = (0 until 60).map { j =>
      s"CASE WHEN s_$j > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""tok AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY 1, 2),
      |hh AS (SELECT doc_id, tf,
      |    ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
      |s AS (SELECT doc_id,
      |      $bitSums
      |      FROM hh GROUP BY doc_id),
      |sims AS (SELECT doc_id, $sig AS simhash FROM s)""".stripMargin
  }

  val simhashPairsSql: String =
    s"""WITH $simhash60CtesSql,
      |banded AS (SELECT doc_id, b AS band,
      |        (simhash >> (b * 15)) & 32767 AS bkey
      |      FROM sims CROSS JOIN generate_series(0, 3) g(b)),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |      FROM banded x JOIN banded y
      |        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      |SELECT c.id_a, c.id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM cand c JOIN sims a ON c.id_a = a.doc_id JOIN sims b ON c.id_b = b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  def qDedupEmbed(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        numPlanes = 8, threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))

  val dedupEmbedSql: String = {
    val planes = lshBucketPlanesSql(8)
    s"""WITH b AS (SELECT vec_id, embedding,
      |      $planes AS bucket,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) AS nrm
      |    FROM embeddings),
      |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
      |      list_sum(list_transform(generate_series(1, 64),
      |        i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
      |        / (x.nrm * y.nrm) AS cosine
      |      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
      |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM p
      |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
  }

  /** End-to-end corpus curation — the composed shape a training-data pipeline runs:
    * quality filter (length band) → exact dedup keeping canonical docs → per-language
    * corpus stats. Exercises operator COMPOSITION under one plan: the filter pushes
    * to the parquet scan, dedup's group-and-join-back consumes the filtered scan, and
    * the final aggregate is map-side partial.
    */
  def qCorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("n_chars").between(100, 2000))
    val canon = Dedup.exactDedup(docs, "doc_id", "text")
      .filter(col("doc_id") === col("canonical_id"))
      .select(col("doc_id"))
    docs.join(canon, Seq("doc_id"))
      .withColumn("n_tokens",
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy(col("lang"))
  }

  val corpusCurationSql: String =
    """WITH f AS (SELECT * FROM documents WHERE n_chars BETWEEN 100 AND 2000),
      |g AS (SELECT md5(text) AS h, MIN(doc_id) AS canonical_id FROM f GROUP BY 1),
      |k AS (SELECT f.* FROM f JOIN g ON md5(f.text) = g.h AND f.doc_id = g.canonical_id)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
      |    AS total_tokens,
      |  ROUND(AVG(n_chars), 6) AS avg_chars
      |FROM k GROUP BY lang ORDER BY lang""".stripMargin

  /** Exact-duplicate rate per source — the first number a curation run
    * reports per feed (a source whose dup rate jumps is re-crawling itself).
    * Composition: [[Dedup.exactDedup]] ⋈ the source dimension.
    */
  def qDupRateBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("source"))
      .join(Dedup.exactDedup(docs, "doc_id", "text"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("canonical_id"), 1L).otherwise(0L))
          .as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        round(col("n_dropped").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy(col("source"))
  }

  val dupRateBySourceSql: String =
    """WITH g AS (SELECT md5(text) AS h, MIN(doc_id) AS canonical_id
      |  FROM documents GROUP BY 1),
      |x AS (SELECT d.doc_id, d.source, g.canonical_id
      |  FROM documents d JOIN g ON md5(d.text) = g.h)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  ROUND(CAST(SUM(CASE WHEN doc_id <> canonical_id THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS dup_rate
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cross-source near-duplicate overlap: for each ordered source pair, how
    * many near-dup pairs (shingle Jaccard ≥ 0.5) span the two feeds — the
    * redundancy matrix that decides which upstream feed to drop. Composition:
    * the exact pair table ⋈ the source dimension twice; the pair table is
    * tiny relative to the corpus, so both dimension joins broadcast.
    */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
        Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_1"),
        greatest(col("src_a"), col("src_b")).as("source_2"))
      .groupBy(col("source_1"), col("source_2"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy(col("source_1"), col("source_2"))
  }

  val sourceOverlapSql: String =
    s"""WITH $shinglesSql,
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |pr AS (SELECT id_a, id_b FROM p
      |      JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |      WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |s AS (SELECT LEAST(da.source, db.source) AS source_1,
      |    GREATEST(da.source, db.source) AS source_2
      |  FROM pr JOIN documents da ON pr.id_a = da.doc_id
      |  JOIN documents db ON pr.id_b = db.doc_id)
      |SELECT source_1, source_2, COUNT(*) AS n_dup_pairs
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** C4-style span-level exact dedup with document reassembly
    * ([[SpanDedup.spanDedup]]): drop every 10-word span already seen in an
    * earlier doc, rebuild documents from surviving spans.
    */
  def qSpanDedup(spark: SparkSession, dir: String): DataFrame =
    SpanDedup.spanDedup(Tables.documents(spark, dir), "doc_id", "text",
        spanWords = 10)
      .orderBy(col("doc_id"))

  val spanDedupSql: String =
    """WITH w AS (
      |  SELECT doc_id, u.pos AS pos, u.word AS word
      |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(l)),
      |          i -> {'pos': i-1, 'word': l[i]})) AS u
      |        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
      |),
      |sp AS (SELECT doc_id, pos // 10 AS span_id,
      |    string_agg(word, ' ' ORDER BY pos) AS span_text
      |  FROM w GROUP BY 1, 2),
      |fst AS (SELECT span_text, MIN(ROW(doc_id, span_id)) AS f FROM sp GROUP BY 1),
      |kept AS (SELECT sp.* FROM sp JOIN fst USING (span_text)
      |  WHERE ROW(doc_id, span_id) = f),
      |tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY 1),
      |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(span_text, ' ' ORDER BY span_id) AS text_deduped
      |  FROM kept GROUP BY 1)
      |SELECT tot.doc_id, n_spans, COALESCE(n_kept, 0) AS n_kept,
      |  COALESCE(text_deduped, '') AS text_deduped
      |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  /** SemDeDup-style semantic near-dup pairs ([[Clustering.centroidDupPairs]]):
    * centroid blocking bounds the quadratic term to cluster size; exact cosine
    * within blocks.
    */
  def qSemanticDup(spark: SparkSession, dir: String): DataFrame =
    Clustering.centroidDupPairs(Tables.embeddings(spark, dir), "vec_id",
        "embedding", seedCentroids(spark, dir), "cid", "cvec", threshold = 0.2)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("id_a"), col("id_b"))

  val semanticDupSql: String =
    s"""WITH $centroidAssignCtes,
      |asn AS (SELECT vec_id, cid FROM r WHERE rk = 1),
      |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> vx.embedding[i]::DOUBLE * vy.embedding[i]::DOUBLE)) / (vx.nv * vy.nv) AS cosine
      |  FROM asn x JOIN asn y ON x.cid = y.cid AND x.vec_id < y.vec_id
      |  JOIN v vx ON x.vec_id = vx.vec_id JOIN v vy ON y.vec_id = vy.vec_id)
      |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM p
      |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin

  /** Snapshot diff between corpus versions ([[TableDiff.diff]]): the new
    * version is derived deterministically from the old (every 50th doc
    * dropped, every 97th-mod-3 lang rewritten, every 61st-mod-5 re-added
    * under a shifted key), so both engines build identical versions and the
    * oracle replays the same chr(31)-fingerprint comparison.
    */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val old = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val newV = old.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 97 === 3, lit("xx")).otherwise(col("lang")).as("lang"),
        col("source"), col("n_chars"))
      .unionByName(old.filter(col("doc_id") % 61 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
    TableDiff.diff(old, newV, "doc_id")
      .orderBy(col("key"))
  }

  val tableDiffSql: String =
    """WITH old AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
      |new_v AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 97 = 3 THEN 'xx' ELSE lang END AS lang,
      |    source, n_chars
      |  FROM old WHERE doc_id % 50 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source, n_chars
      |  FROM old WHERE doc_id % 61 = 5),
      |ofp AS (SELECT doc_id AS key, md5(concat_ws(chr(31),
      |    COALESCE(CAST(text AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(lang AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(source AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(n_chars AS VARCHAR), chr(30) || 'null'))) AS old_fp
      |  FROM old),
      |nfp AS (SELECT doc_id AS key, md5(concat_ws(chr(31),
      |    COALESCE(CAST(text AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(lang AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(source AS VARCHAR), chr(30) || 'null'),
      |    COALESCE(CAST(n_chars AS VARCHAR), chr(30) || 'null'))) AS new_fp
      |  FROM new_v)
      |SELECT COALESCE(ofp.key, nfp.key) AS key,
      |  CASE WHEN old_fp IS NULL THEN 'added'
      |       WHEN new_fp IS NULL THEN 'removed'
      |       WHEN old_fp <> new_fp THEN 'changed'
      |       ELSE 'unchanged' END AS status
      |FROM ofp FULL OUTER JOIN nfp ON ofp.key = nfp.key
      |WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
      |ORDER BY key""".stripMargin

  /** MinHash estimator diagnostics: estimated vs exact Jaccard for every LSH
    * candidate pair ([[Dedup.minhashEstimatePairs]]) — the tuning surface for
    * banding parameters.
    */
  def qMinhashEst(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashEstimatePairs(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val minhashEstSql: String = {
    val matches = (0 until numHashes)
      .map(j => s"CASE WHEN a.mh_$j = b.mh_$j THEN 1.0 ELSE 0.0 END")
      .mkString("(", " + ", s") / $numHashes")
    s"""WITH $minhashPairCtesSql,
      |est AS (SELECT c.id_a, c.id_b, $matches AS est
      |  FROM cand c JOIN sig a ON c.id_a = a.doc_id JOIN sig b ON c.id_b = b.doc_id)
      |SELECT j.id_a, j.id_b, ROUND(est.est, 6) AS est_jaccard,
      |  ROUND(j.jaccard, 6) AS jaccard
      |FROM j JOIN est ON j.id_a = est.id_a AND j.id_b = est.id_b
      |ORDER BY j.id_a, j.id_b""".stripMargin
  }

  /** LSH candidate-recall curve ([[Dedup.lshRecallCurve]]): the measured
    * banding S-curve — per similarity decile, how many TRUE pairs (exact
    * all-pairs Jaccard ≥ 0.2) the MinHash banding surfaces.
    */
  def qLshRecallCurve(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshRecallCurve(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand,
        truthThreshold = 0.05)
      .orderBy(col("bucket"))

  val lshRecallCurveSql: String =
    s"""WITH $minhashSigBandCtesSql,
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |      FROM banded x JOIN banded y
      |        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |tr AS (SELECT p.id_a, p.id_b,
      |      p.n_shared * 1.0 / (na.n_sh + nb.n_sh - p.n_shared) AS jaccard
      |      FROM p JOIN n na ON p.id_a = na.doc_id
      |      JOIN n nb ON p.id_b = nb.doc_id
      |      WHERE p.n_shared * 1.0 / (na.n_sh + nb.n_sh - p.n_shared) >= 0.05),
      |f AS (SELECT tr.jaccard,
      |      CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS found
      |  FROM tr LEFT JOIN cand c ON tr.id_a = c.id_a AND tr.id_b = c.id_b)
      |SELECT CAST(FLOOR(jaccard * 10) AS INT) AS bucket, COUNT(*) AS n_pairs,
      |  CAST(SUM(found) AS BIGINT) AS n_found,
      |  ROUND(SUM(found) * 1.0 / COUNT(*), 6) AS recall
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Incremental ingest dedup: the corpus is split deterministically into an
    * "existing" store (md5 bucket < 80, ~80%) and an "incoming" batch (the
    * rest); every incoming doc is classified exact_dup / near_dup / new against
    * the store ([[Dedup.incrementalDedup]] — exact md5 match, then cross-set
    * MinHash-LSH candidates verified with exact Jaccard).
    */
  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bucket = Splits.hashBucket(col("doc_id"))
    val incoming = docs.filter(bucket >= 80)
    val existing = docs.filter(bucket < 80)
    Dedup.incrementalDedup(incoming, existing, "doc_id", "text",
        k = 3, numHashes = numHashes, rowsPerBand = rowsPerBand, threshold = 0.5)
      .select(col("doc_id"), col("status"), col("match_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  val incrementalDedupSql: String =
    s"""WITH $minhashSigBandCtesSql,
      |mem AS (SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 >= 80
      |      AS is_inc
      |  FROM documents),
      |exk AS (SELECT COALESCE(md5(d.text), '__null_text__') AS hkey,
      |      MIN(d.doc_id) AS ex_id
      |  FROM documents d JOIN mem m ON d.doc_id = m.doc_id
      |  WHERE NOT m.is_inc GROUP BY 1),
      |inc AS (SELECT d.doc_id, COALESCE(md5(d.text), '__null_text__') AS hkey
      |  FROM documents d JOIN mem m ON d.doc_id = m.doc_id WHERE m.is_inc),
      |ex0 AS (SELECT i.doc_id, e.ex_id FROM inc i LEFT JOIN exk e ON i.hkey = e.hkey),
      |cand AS (SELECT DISTINCT x.doc_id AS id_in, y.doc_id AS id_ex
      |  FROM banded x
      |  JOIN ex0 f ON x.doc_id = f.doc_id AND f.ex_id IS NULL
      |  JOIN banded y ON x.band = y.band AND x.bkey = y.bkey
      |  JOIN mem my ON y.doc_id = my.doc_id AND NOT my.is_inc),
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |shared AS (SELECT c.id_in, c.id_ex, COUNT(*) AS n_shared
      |  FROM cand c JOIN sh a ON a.doc_id = c.id_in
      |  JOIN sh b ON b.doc_id = c.id_ex AND b.sh = a.sh GROUP BY 1, 2),
      |jj AS (SELECT c.id_in, c.id_ex,
      |    COALESCE(s.n_shared, 0) * 1.0
      |      / (na.n_sh + nb.n_sh - COALESCE(s.n_shared, 0)) AS jaccard
      |  FROM cand c LEFT JOIN shared s ON c.id_in = s.id_in AND c.id_ex = s.id_ex
      |  JOIN n na ON c.id_in = na.doc_id JOIN n nb ON c.id_ex = nb.doc_id),
      |best AS (SELECT id_in, id_ex, jaccard,
      |    ROW_NUMBER() OVER (PARTITION BY id_in ORDER BY jaccard DESC, id_ex) AS rn
      |  FROM jj WHERE jaccard >= 0.5)
      |SELECT e.doc_id,
      |  CASE WHEN e.ex_id IS NOT NULL THEN 'exact_dup'
      |       WHEN b.id_ex IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
      |  COALESCE(e.ex_id, b.id_ex) AS match_id,
      |  ROUND(b.jaccard, 6) AS jaccard
      |FROM ex0 e LEFT JOIN best b ON e.doc_id = b.id_in AND b.rn = 1
      |ORDER BY e.doc_id""".stripMargin

  // -------------------------------------------------------------------------
  // Record linkage over the part-name "entity" table
  // -------------------------------------------------------------------------

  /** Distinct part names as linkage entities, keyed by the min part key that
    * carries the name (the deterministic surrogate id).
    */
  private def entities(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("id"))

  private val entitiesSql =
    """e AS (SELECT p_name AS name, MIN(p_partkey) AS id
      |      FROM part GROUP BY p_name)""".stripMargin

  /** Fuzzy name pairs: block on last token, band on length, Levenshtein ≤ 3. */
  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    Linkage.fuzzyPairs(entities(spark, dir), "id", "name",
        maxDist = 3, lengthBand = 3)
      .orderBy(col("id_a"), col("id_b"))

  private val fuzzyPairsSql =
    s"""$entitiesSql,
      |blk AS (SELECT id, name, string_split(name, ' ')[-1] AS b,
      |        LENGTH(name) AS len FROM e),
      |pr AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
      |        b.name AS name_b, levenshtein(a.name, b.name) AS dist
      |      FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id
      |      WHERE ABS(a.len - b.len) <= 3)""".stripMargin

  val fuzzyMatchSql: String =
    s"""WITH $fuzzyPairsSql
      |SELECT id_a, id_b, name_a, name_b, dist FROM pr
      |WHERE dist <= 3 ORDER BY id_a, id_b""".stripMargin

  /** Multi-pass (first ∪ last token) blocked fuzzy pairs — the recall-
    * insurance variant; 16 of its 96 sf0.01 pairs are invisible to
    * single-pass last-token blocking.
    */
  def qFuzzyMulti(spark: SparkSession, dir: String): DataFrame =
    Linkage.fuzzyPairsMultiBlock(entities(spark, dir), "id", "name",
        maxDist = 3, lengthBand = 3)
      .orderBy(col("id_a"), col("id_b"))

  val fuzzyMultiSql: String =
    s"""WITH $entitiesSql,
      |blk AS (SELECT id, name,
      |        UNNEST(list_distinct([string_split(name, ' ')[1],
      |                              string_split(name, ' ')[-1]])) AS b,
      |        LENGTH(name) AS len FROM e),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a,
      |        b.name AS name_b
      |      FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id
      |      WHERE ABS(a.len - b.len) <= 3)
      |SELECT id_a, id_b, name_a, name_b,
      |  levenshtein(name_a, name_b) AS dist
      |FROM cand WHERE levenshtein(name_a, name_b) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Entity clusters: connected components over the fuzzy pairs. */
  def qEntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val ents = entities(spark, dir)
    graft.ext.Dedup.dupClusters(
        Linkage.fuzzyPairs(ents, "id", "name", maxDist = 3, lengthBand = 3)
          .select(col("id_a"), col("id_b")))
      .join(ents, Seq("id"))
      .select(col("id"), col("name"), col("cluster_id"))
      .orderBy(col("id"))
  }

  val entityClustersSql: String =
    s"""WITH RECURSIVE $fuzzyPairsSql,
      |fp AS (SELECT id_a, id_b FROM pr WHERE dist <= 3),
      |edges AS (SELECT id_a AS a, id_b AS b FROM fp
      |      UNION SELECT id_b, id_a FROM fp),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT ed.a, r.r FROM edges ed JOIN reach r ON ed.b = r.id),
      |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      |SELECT cl.id, e.name, cl.cluster_id FROM cl JOIN e ON cl.id = e.id
      |ORDER BY cl.id""".stripMargin

  // --------------------------------------------------------------------------
  // Canonical-representative selection after dup clustering
  // --------------------------------------------------------------------------

  /** Per dup-cluster survivor pick ([[Dedup.canonicalPick]]) over the
    * Jaccard-0.5 clusters of q_dup_clusters: keep the longest member
    * (n_chars, smaller doc_id on ties).
    */
  def qClusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val clusters = Dedup.dupClusters(
      Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5))
    Dedup.canonicalPick(clusters, docs, "doc_id", "n_chars")
      .orderBy(col("cluster_id"))
  }

  val clusterCanonicalSql: String =
    s"""WITH RECURSIVE ${Inputs.shinglesSql},
      |n AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      |      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (SELECT id_a, id_b FROM p
      |      JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |      WHERE n_shared * 1.0 / (na.n_sh + nb.n_sh - n_shared) >= 0.5),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pr
      |      UNION SELECT id_b, id_a FROM pr),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
      |cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      |g AS (SELECT cl.cluster_id, cl.id, d.n_chars
      |      FROM cl JOIN documents d ON cl.id = d.doc_id),
      |agg AS (SELECT cluster_id, COUNT(*) AS n_members FROM g GROUP BY 1),
      |pick AS (SELECT cluster_id, id AS canonical_id, n_chars AS canonical_quality,
      |      ROW_NUMBER() OVER (PARTITION BY cluster_id
      |        ORDER BY n_chars DESC, id) AS rk FROM g)
      |SELECT a.cluster_id, canonical_id, canonical_quality, n_members,
      |  n_members - 1 AS n_dropped
      |FROM agg a JOIN pick p ON a.cluster_id = p.cluster_id
      |WHERE rk = 1 AND n_members >= 2
      |ORDER BY a.cluster_id""".stripMargin

  // --------------------------------------------------------------------------
  // Edit-distance dedup verification
  // --------------------------------------------------------------------------

  /** MinHash-LSH candidates verified with bounded Levenshtein
    * ([[graft.ext.Dedup.editDistancePairs]]) — the character-level near-dup
    * check next to the shingle-Jaccard one (q_dedup_minhash shares the exact
    * same banding, so the two rows differ only in the verifier).
    */
  def qDedupEdit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.editDistancePairs(Tables.documents(spark, dir),
        "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 4,
        maxDist = 400)
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        round(col("edit_sim"), 6).as("edit_sim"))
      .orderBy(col("id_a"), col("id_b"))

  val dedupEditSql: String =
    s"""WITH ${minhashSigBandCtesSql},
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |d AS (SELECT c.id_a, c.id_b,
      |    levenshtein(ta.text, tb.text) AS edit_dist,
      |    GREATEST(length(ta.text), length(tb.text)) AS ml
      |  FROM cand c JOIN documents ta ON ta.doc_id = c.id_a
      |  JOIN documents tb ON tb.doc_id = c.id_b)
      |SELECT id_a, id_b, CAST(edit_dist AS BIGINT) AS edit_dist,
      |  ROUND(1.0 - CAST(edit_dist AS DOUBLE) / CAST(ml AS DOUBLE), 6)
      |    AS edit_sim
      |FROM d WHERE edit_dist <= 400 ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------------
  // Winnowing fingerprints (MOSS) — profile and similar-pair search
  // --------------------------------------------------------------------------

  /** Per-doc winnowing fingerprint profile
    * ([[graft.ext.Winnowing.fingerprintProfile]], k=8 chars, window 4):
    * every window-min selection decision is replayed by the oracle through
    * the shared packed-key MIN.
    */
  def qWinnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Winnowing.fingerprintProfile(Tables.documents(spark, dir),
        "doc_id", "text", k = 8, w = 4)
      .select(col("doc_id"), col("n_kgrams"), col("n_fingerprints"),
        round(col("density"), 6).as("density"), col("fp_min"))
      .orderBy(col("doc_id"))

  private val winnowCtesSql: String =
    """g AS (SELECT doc_id, text FROM documents WHERE length(text) >= 8),
      |pp AS (SELECT doc_id, text,
      |    unnest(generate_series(1, length(text) - 7)) AS p FROM g),
      |h AS (SELECT doc_id, p,
      |    ('0x' || substr(md5(substr(text, p, 8)), 1, 8))::BIGINT AS h
      |  FROM pp),
      |kk AS (SELECT doc_id, p, h * 1048576 + (1048575 - p) AS key FROM h),
      |s AS (SELECT doc_id, p,
      |    MIN(key) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS wpos
      |  FROM kk),
      |selset AS (SELECT DISTINCT doc_id, sel FROM s WHERE wpos >= 4)""".stripMargin

  val winnowFingerprintSql: String =
    s"""WITH $winnowCtesSql,
      |nk AS (SELECT doc_id, COUNT(*) AS n_kgrams FROM h GROUP BY 1),
      |fp AS (SELECT doc_id, COUNT(*) AS n_fingerprints,
      |    MIN(sel // 1048576) AS fp_min
      |  FROM selset GROUP BY 1)
      |SELECT doc_id, n_kgrams, n_fingerprints,
      |  ROUND(CAST(n_fingerprints AS DOUBLE) / CAST(n_kgrams AS DOUBLE), 6)
      |    AS density,
      |  fp_min
      |FROM fp JOIN nk USING (doc_id) ORDER BY doc_id""".stripMargin

  /** MOSS-style similar pairs ([[graft.ext.Winnowing.similarPairs]]):
    * fingerprint-hash equi-join candidates (stop-fingerprint cut at df≤20),
    * scored by containment.
    */
  def qWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Winnowing.similarPairs(Tables.documents(spark, dir),
        "doc_id", "text", k = 8, w = 4, minShared = 10, maxDf = 20L)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy(col("id_a"), col("id_b"))

  val winnowPairsSql: String =
    s"""WITH $winnowCtesSql,
      |fh AS (SELECT DISTINCT doc_id, sel // 1048576 AS fh FROM selset),
      |rare AS (SELECT fh FROM fh GROUP BY 1 HAVING COUNT(*) <= 20),
      |pruned AS (SELECT doc_id, fh.fh FROM fh JOIN rare USING (fh)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM pruned GROUP BY 1),
      |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    COUNT(*) AS n_shared
      |  FROM pruned a JOIN pruned b ON a.fh = b.fh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 10)
      |SELECT id_a, id_b, n_shared,
      |  ROUND(CAST(n_shared AS DOUBLE) /
      |    CAST(LEAST(na.n, nb.n) AS DOUBLE), 6) AS containment
      |FROM shared JOIN sz na ON id_a = na.doc_id
      |JOIN sz nb ON id_b = nb.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------------
  // b-bit MinHash audit
  // --------------------------------------------------------------------------

  /** b-bit MinHash estimator audit over the LSH candidate pairs
    * ([[graft.ext.Dedup.bbitMinhashPairs]]): full-signature vs 2-bit vs
    * 1-bit Jaccard estimates next to the exact shingle Jaccard — the
    * storage-vs-variance sweep before shrinking a 100 TB signature store.
    */
  def qBbitMinhash(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.bbitMinhashPairs(Tables.documents(spark, dir),
        "doc_id", "text", k = 3, numHashes = 16, rowsPerBand = 4)
      .select(col("id_a"), col("id_b"),
        round(col("est_full"), 6).as("est_full"),
        round(col("est_b2"), 6).as("est_b2"),
        round(col("est_b1"), 6).as("est_b1"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  val bbitMinhashSql: String = {
    def matchFrac(expr: Int => String): String =
      (0 until 16).map(j =>
        s"CASE WHEN ${expr(j)} THEN 1.0 ELSE 0.0 END")
        .mkString("(", " + ", ") / 16")
    val full = matchFrac(j => s"a.mh_$j = b.mh_$j")
    val b2 = matchFrac(j => s"a.mh_$j % 4 = b.mh_$j % 4")
    val b1 = matchFrac(j => s"a.mh_$j % 2 = b.mh_$j % 2")
    s"""WITH ${minhashPairCtesSql},
      |est AS (SELECT c.id_a, c.id_b, $full AS est_full,
      |    ($b2 - 0.25) / 0.75 AS est_b2,
      |    ($b1 - 0.5) / 0.5 AS est_b1
      |  FROM cand c JOIN sig a ON c.id_a = a.doc_id
      |  JOIN sig b ON c.id_b = b.doc_id)
      |SELECT j.id_a, j.id_b, ROUND(est.est_full, 6) AS est_full,
      |  ROUND(est.est_b2, 6) AS est_b2, ROUND(est.est_b1, 6) AS est_b1,
      |  ROUND(j.jaccard, 6) AS jaccard
      |FROM j JOIN est ON j.id_a = est.id_a AND j.id_b = est.id_b
      |ORDER BY j.id_a, j.id_b""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Jaro-Winkler linkage + rank fusion (batch 14)
  // --------------------------------------------------------------------------

  /** Blocked Jaro-Winkler name linkage over parts: candidate pairs from
    * (brand, size) blocking, scored by the native codegen
    * [[graft.functions.JaroWinkler]] expression, top-100 by similarity.
    * The oracle is DuckDB's own `jaro_winkler_similarity` — an
    * independent implementation of the same standard algorithm, so a
    * green row pins the expression's window/transposition/prefix-boost
    * semantics end to end.
    */
  def qJaroMatch(spark: SparkSession, dir: String): DataFrame = {
    // Sorted neighborhood in DISTINCT-VALUE space (r16). The r14/r15
    // row-space window paid two structural costs at scale: (1) every
    // row-pair in the window re-scored jw on names that repeat massively
    // (the part vocabulary is small — 64 distinct names at sf1.0), and
    // (2) a run of IDENTICAL names longer than W left same-name pairs
    // unreachable under ANY sort key — the real residual behind the
    // 64.0% -> 89.9% -> ~92% recall ladder (a third positional-q-gram
    // pass measured only +2.3 points, /tmp-measured r16). Jaro-Winkler
    // is a function of the NAME pair alone, so: score each distinct
    // in-block name pair once through the two-pass (forward + reversed
    // name) W = 32 window, take same-name part pairs from an exact
    // group self-join (jw = 1.0 by definition, no window involved), and
    // expand only the MATCHED cross-name pairs back to part pairs.
    // Measured at sf1.0 (SCALE.md r16): recall 89.9% -> 100.0% while jw
    // computations drop 9.0M -> 124k (73x) — the window now saturates
    // with the per-block VALUE vocabulary (<= 27 distinct names <= W+1,
    // exhaustive), not the row count, and same-name pairs are exact at
    // any scale. Beyond W+1 distinct values per block the cross-name
    // window degrades gracefully exactly as the row window did, at a
    // vocabulary-bounded candidate count. At the oracle SFs both the old
    // and new candidate sets are exhaustive within blocks, so the
    // query's output is unchanged (hashes re-verified green).
    val wFwd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand"), col("p_size"))
      .orderBy(col("p_name"))
    val wRev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand"), col("p_size"))
      .orderBy(reverse(col("p_name")))
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"))
    val dn = parts.select(col("p_brand"), col("p_size"), col("p_name"))
      .distinct()
      .withColumn("rn", row_number().over(wFwd))
      .withColumn("rnr", row_number().over(wRev))
    def pass(rnCol: String): DataFrame = {
      val a = dn.select(col("p_brand"), col("p_size"),
        col(rnCol).as("rn_a"), col("p_name").as("name_a"))
      val b = dn.select(col("p_brand").as("b2"), col("p_size").as("s2"),
        col(rnCol).as("rn_b"), col("p_name").as("name_b"))
      a.join(b, col("p_brand") === col("b2") && col("p_size") === col("s2") &&
        col("rn_b") > col("rn_a") && col("rn_b") <= col("rn_a") + FsWindow)
    }
    // forward pass is already name-oriented (rn order IS p_name order;
    // names are distinct within a block); the reversed pass re-orients
    val fwd = pass("rn")
      .select(col("p_brand"), col("p_size"), col("name_a"), col("name_b"))
    val rev = pass("rnr").select(col("p_brand"), col("p_size"),
      least(col("name_a"), col("name_b")).as("name_a"),
      greatest(col("name_a"), col("name_b")).as("name_b"))
    val matched = fwd.union(rev).distinct()
      .withColumn("jw",
        round(graft.functions.JaroWinkler.jaroWinkler(col("name_a"),
          col("name_b")), 6))
      .filter(col("jw") >= 0.7)
    // same-name part pairs: exact group self-join, jw = 1.0 by identity
    val x = parts.select(col("p_brand"), col("p_size"), col("p_name"),
      col("p_partkey").as("key_a"))
    val y = parts.select(col("p_brand").as("b2"), col("p_size").as("s2"),
      col("p_name").as("n2"), col("p_partkey").as("key_b"))
    val same = x.join(y, col("p_brand") === col("b2") &&
        col("p_size") === col("s2") && col("p_name") === col("n2") &&
        col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), lit(1.0).as("jw"))
    // matched cross-name pairs expand to part pairs via two broadcast
    // probes — `matched` is vocabulary-bounded (25k rows at sf1.0),
    // never row-bounded; orientation (name_a < name_b) implies
    // (name, key) order, matching the same-name branch's convention
    val mb = broadcast(matched.select(col("p_brand").as("mb_brand"),
      col("p_size").as("mb_size"), col("name_a"), col("name_b"),
      col("jw")))
    val cross = mb
      .join(x, col("p_brand") === col("mb_brand") &&
        col("p_size") === col("mb_size") && col("p_name") === col("name_a"))
      .join(y, col("b2") === col("mb_brand") &&
        col("s2") === col("mb_size") && col("n2") === col("name_b"))
      .select(col("key_a"), col("key_b"), col("jw"))
    same.unionByName(cross)
      .orderBy(col("jw").desc, col("key_a"), col("key_b"))
      .limit(100)
  }

  val jaroMatchSql: String =
    """WITH dn AS (SELECT p_brand, p_size, p_name,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
      |      ORDER BY p_name) AS rn,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
      |      ORDER BY reverse(p_name)) AS rnr
      |  FROM (SELECT DISTINCT p_brand, p_size, p_name FROM part)),
      |np AS (
      |  SELECT a.p_brand, a.p_size, a.p_name AS name_a, b.p_name AS name_b
      |  FROM dn a JOIN dn b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |    AND b.rn > a.rn AND b.rn <= a.rn + 32
      |  UNION
      |  SELECT a.p_brand, a.p_size,
      |    LEAST(a.p_name, b.p_name), GREATEST(a.p_name, b.p_name)
      |  FROM dn a JOIN dn b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
      |    AND b.rnr > a.rnr AND b.rnr <= a.rnr + 32),
      |m AS (SELECT p_brand, p_size, name_a, name_b,
      |    ROUND(jaro_winkler_similarity(name_a, name_b), 6) AS jw
      |  FROM np
      |  WHERE ROUND(jaro_winkler_similarity(name_a, name_b), 6) >= 0.7),
      |same AS (SELECT x.p_partkey AS key_a, y.p_partkey AS key_b,
      |    CAST(1.0 AS DOUBLE) AS jw
      |  FROM part x JOIN part y ON x.p_brand = y.p_brand
      |    AND x.p_size = y.p_size AND x.p_name = y.p_name
      |    AND x.p_partkey < y.p_partkey),
      |xn AS (SELECT pa.p_partkey AS key_a, pb.p_partkey AS key_b, m.jw
      |  FROM m
      |  JOIN part pa ON pa.p_brand = m.p_brand AND pa.p_size = m.p_size
      |    AND pa.p_name = m.name_a
      |  JOIN part pb ON pb.p_brand = m.p_brand AND pb.p_size = m.p_size
      |    AND pb.p_name = m.name_b)
      |SELECT key_a, key_b, jw
      |FROM (SELECT * FROM same UNION ALL SELECT * FROM xn)
      |ORDER BY jw DESC, key_a, key_b LIMIT 100""".stripMargin

  // --------------------------------------------------------------------------
  // Fellegi-Sunter linkage (batch 15)
  // --------------------------------------------------------------------------

  /** Sorted-neighborhood window within a (brand, size) block: a plain
    * blocked self-join saturates — the block count is FIXED (25 brands x
    * 50 sizes) so block population grows linearly with the catalog and
    * within-block pairs quadratically (the r13 sf1.0 sweep measured
    * q_fs_scores at 37x for 10x data). Pairing each record with only its
    * W nearest in-block successors (Hernandez & Stolfo's sorted
    * neighborhood) bounds pairs to n*W — linear — and is EXHAUSTIVE
    * whenever a block holds <= W+1 records. W = 32 covers the oracle
    * scale factors (measured max block sizes: ~3 at sf0.01, 28 at sf0.1 —
    * the r13 W = 16 silently dropped ~2.8% of sf0.1's within-block
    * pairs), so there the candidate set is identical to the full blocked
    * join REGARDLESS of sort order. Beyond sf0.1 the neighborhood is the
    * deliberate linear-cost approximation, and the SORT KEY is what sets
    * its recall (the method's core lever): ordering by (p_type,
    * p_partkey) clusters would-be matches so same-type records sit
    * adjacent — measured on the r15 sf1.0 probe data (280-record max
    * blocks), true-pair recall is 90.1% type-sorted vs 33.0% when sorted
    * by part key alone, at identical n*W cost; the residual 9.9% is
    * same-type groups wider than W + 1. Recorded in SCALE.md ("W = 32
    * recall audit").
    */
  private val FsWindow = 32

  /** Candidate part pairs from (brand, size) blocking + the
    * sorted-neighborhood window, with boolean comparison fields and a
    * p_type-equality truth label — the input surface both Fellegi-Sunter
    * queries share.
    */
  private def fsPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand"), col("p_size"))
      .orderBy(col("p_type"), col("p_partkey"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"),
      col("p_brand"), col("p_size"), col("p_type"),
      expr("CAST(FLOOR(p_retailprice) AS BIGINT)").as("pr"))
      .withColumn("rn", row_number().over(w))
    val a = p.select(col("p_brand"), col("p_size"), col("rn").as("rn_a"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"),
      col("p_type").as("type_a"), col("pr").as("pr_a"))
    val b = p.select(col("p_brand").as("b2"), col("p_size").as("s2"),
      col("rn").as("rn_b"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"),
      col("p_type").as("type_b"), col("pr").as("pr_b"))
    a.join(b, col("p_brand") === col("b2") && col("p_size") === col("s2") &&
        col("rn_b") > col("rn_a") && col("rn_b") <= col("rn_a") + FsWindow)
      .select(col("key_a"), col("key_b"),
        (col("type_a") === col("type_b")).as("is_match"),
        (element_at(split(col("name_a"), " "), 2) ===
          element_at(split(col("name_b"), " "), 2)).as("f_noun"),
        (round(graft.functions.JaroWinkler.jaroWinkler(col("name_a"),
          col("name_b")), 6) >= 0.72).as("f_jw"),
        (abs(col("pr_a") - col("pr_b")) <= 50).as("f_price50"),
        (expr("pr_a div 100") === expr("pr_b div 100")).as("f_price100"))
  }

  private val fsFields = Seq("f_noun", "f_jw", "f_price50", "f_price100")

  private val fsPairsSql: String =
    """pp AS (SELECT p_brand, p_size, p_partkey, p_name, p_type,
      |    CAST(FLOOR(p_retailprice) AS BIGINT) AS pr,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand, p_size
      |      ORDER BY p_type, p_partkey) AS rn
      |  FROM part),
      |pairs AS (SELECT a.key_a, b.key_b, ta = tb AS is_match,
      |    split_part(na, ' ', 2) = split_part(nb, ' ', 2) AS f_noun,
      |    ROUND(jaro_winkler_similarity(na, nb), 6) >= 0.72 AS f_jw,
      |    ABS(pa - pb) <= 50 AS f_price50,
      |    pa // 100 = pb // 100 AS f_price100
      |  FROM (SELECT p_brand, p_size, rn AS rn_a, p_partkey AS key_a,
      |      p_name AS na, p_type AS ta, pr AS pa FROM pp) a
      |  JOIN (SELECT p_brand AS b2, p_size AS s2, rn AS rn_b,
      |      p_partkey AS key_b, p_name AS nb, p_type AS tb, pr AS pb
      |    FROM pp) b
      |  ON a.p_brand = b.b2 AND a.p_size = b.s2
      |    AND b.rn_b > a.rn_a AND b.rn_b <= a.rn_a + 32)"""
      .stripMargin

  /** Fellegi-Sunter m/u probabilities and log2 agreement weights per
    * comparison field ([[graft.ext.Linkage.fellegiSunterWeights]]) over
    * the blocked part pairs — the model table a Splink-style linkage
    * pass ships. All counts exact integers; each weight one fixed
    * double formula.
    */
  def qFsWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Linkage.fellegiSunterWeights(fsPairs(spark, dir), "is_match",
      fsFields)

  val fsWeightsSql: String = {
    val fieldRows = fsFields.map(f => s"SELECT '$f' AS field, $f AS agree," +
      s" is_match FROM pairs").mkString("\n  UNION ALL ")
    s"""WITH $fsPairsSql,
       |long AS ($fieldRows),
       |cnt AS (SELECT field,
       |    CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
       |      AS BIGINT) AS m_cnt,
       |    CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
       |      AS m_tot,
       |    CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
       |      AS BIGINT) AS u_cnt,
       |    CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
       |      AS u_tot
       |  FROM long GROUP BY 1)
       |SELECT field, m_cnt, m_tot, u_cnt, u_tot,
       |  ROUND(CAST(m_cnt + 1 AS DOUBLE) / CAST(m_tot + 2 AS DOUBLE), 6)
       |    AS m,
       |  ROUND(CAST(u_cnt + 1 AS DOUBLE) / CAST(u_tot + 2 AS DOUBLE), 6)
       |    AS u,
       |  ROUND(log2(CAST((m_cnt + 1) * (u_tot + 2) AS DOUBLE) /
       |    CAST((u_cnt + 1) * (m_tot + 2) AS DOUBLE)), 6) AS w_agree,
       |  ROUND(log2(CAST((m_tot - m_cnt + 1) * (u_tot + 2) AS DOUBLE) /
       |    CAST((u_tot - u_cnt + 1) * (m_tot + 2) AS DOUBLE)), 6)
       |    AS w_disagree
       |FROM cnt ORDER BY field""".stripMargin
  }

  /** Top-20 pair scores under the learned Fellegi-Sunter weights
    * ([[graft.ext.Linkage.fellegiSunterScore]]): score = Σ per-field
    * agreement/disagreement weights, summed in fixed field order against
    * the 1-row broadcast weight table.
    */
  def qFsScores(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Linkage.fellegiSunterScore(fsPairs(spark, dir),
        Seq("key_a", "key_b"), "is_match", fsFields)
      .orderBy(col("score").desc, col("key_a"), col("key_b"))
      .limit(20)

  val fsScoresSql: String = {
    val wcols = fsFields.flatMap(f => Seq(
      s"MAX(CASE WHEN field = '$f' THEN w_agree END) AS wa_$f",
      s"MAX(CASE WHEN field = '$f' THEN w_disagree END) AS wd_$f"))
      .mkString(",\n    ")
    val total = fsFields.map(f =>
      s"(CASE WHEN $f THEN wa_$f ELSE wd_$f END)").mkString(" + ")
    s"""WITH $fsPairsSql,
       |long AS (${fsFields.map(f =>
      s"SELECT '$f' AS field, $f AS agree, is_match FROM pairs")
      .mkString("\n  UNION ALL ")}),
       |cnt AS (SELECT field,
       |    CAST(SUM(CASE WHEN is_match AND agree THEN 1 ELSE 0 END)
       |      AS BIGINT) AS m_cnt,
       |    CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
       |      AS m_tot,
       |    CAST(SUM(CASE WHEN NOT is_match AND agree THEN 1 ELSE 0 END)
       |      AS BIGINT) AS u_cnt,
       |    CAST(SUM(CASE WHEN NOT is_match THEN 1 ELSE 0 END) AS BIGINT)
       |      AS u_tot
       |  FROM long GROUP BY 1),
       |wt AS (SELECT field,
       |    ROUND(log2(CAST((m_cnt + 1) * (u_tot + 2) AS DOUBLE) /
       |      CAST((u_cnt + 1) * (m_tot + 2) AS DOUBLE)), 6) AS w_agree,
       |    ROUND(log2(CAST((m_tot - m_cnt + 1) * (u_tot + 2) AS DOUBLE) /
       |      CAST((u_tot - u_cnt + 1) * (m_tot + 2) AS DOUBLE)), 6)
       |      AS w_disagree
       |  FROM cnt),
       |one AS (SELECT
       |    $wcols
       |  FROM wt)
       |SELECT key_a, key_b, is_match,
       |  ROUND($total, 6) AS score
       |FROM pairs CROSS JOIN one
       |ORDER BY score DESC, key_a, key_b LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------------
  // URL canonicalization / dedup
  // --------------------------------------------------------------------

  /** Deterministic messy crawl URL per document — every field derived from
    * the row, so both engines synthesize the SAME raw string and the
    * oracle genuinely tests the canonicalizer, not the generator. The
    * noise axes are exactly what [[graft.ext.UrlCanonical]] normalizes:
    * scheme/host case, www/cdn labels, default vs real ports, path case +
    * trailing slash, tracking params, parameter order.
    */
  private def withUrls(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val id = col("doc_id")
    val scheme = when(id % 3 === 0, "HTTPS").when(id % 3 === 1, "http")
      .otherwise("Https")
    val sub = when(id % 4 === 0, "WWW.").when(id % 4 === 1, "www.")
      .when(id % 4 === 2, "cdn.").otherwise("")
    val hostbase = concat(col("source"),
      when(id % 5 === 0, ".co.uk").when(id % 5 === 3, ".github.io")
        .otherwise(".com"))
    val hostcased = when(id % 7 < 3, upper(concat(sub, hostbase)))
      .otherwise(concat(sub, hostbase))
    val port = when(id % 12 === 0, ":443").when(id % 12 === 7, ":8080")
      .when(id % 12 === 4, ":80").otherwise("")
    val path = concat(
      when(id % 2 === 0, "/Docs/").otherwise("/docs/"), col("lang"),
      lit("/item"), (col("n_chars") % 2).cast("string"),
      when(id % 2 === 1, "/").otherwise(""))
    val qid = (id % 2).cast("string")
    val query = when(id % 3 === 0,
        concat(lit("?utm_source=feed&id="), qid, lit("&v=1")))
      .when(id % 3 === 1, concat(lit("?id="), qid, lit("&utm_campaign=x&ref=abc")))
      .otherwise(concat(lit("?v=1&id="), qid))
    d.select(id, concat(scheme, lit("://"), hostcased, port, path, query)
      .as("url"))
  }

  /** The same synthesis as a DuckDB CTE `u(doc_id, url)`. */
  private val urlGenSql: String =
    """u AS (SELECT doc_id,
      |  (CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'http'
      |     ELSE 'Https' END) || '://' ||
      |  (CASE WHEN doc_id % 7 < 3 THEN upper(sub || hostbase)
      |     ELSE sub || hostbase END) ||
      |  (CASE doc_id % 12 WHEN 0 THEN ':443' WHEN 7 THEN ':8080'
      |     WHEN 4 THEN ':80' ELSE '' END) ||
      |  (CASE doc_id % 2 WHEN 0 THEN '/Docs/' ELSE '/docs/' END) || lang ||
      |  '/item' || CAST(n_chars % 2 AS VARCHAR) ||
      |  (CASE doc_id % 2 WHEN 1 THEN '/' ELSE '' END) ||
      |  (CASE doc_id % 3
      |     WHEN 0 THEN '?utm_source=feed&id=' ||
      |       CAST(doc_id % 2 AS VARCHAR) || '&v=1'
      |     WHEN 1 THEN '?id=' || CAST(doc_id % 2 AS VARCHAR) ||
      |       '&utm_campaign=x&ref=abc'
      |     ELSE '?v=1&id=' || CAST(doc_id % 2 AS VARCHAR) END) AS url
      |FROM (SELECT doc_id, lang, n_chars,
      |    CASE doc_id % 4 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.'
      |      WHEN 2 THEN 'cdn.' ELSE '' END AS sub,
      |    source || CASE WHEN doc_id % 5 = 0 THEN '.co.uk'
      |      WHEN doc_id % 5 = 3 THEN '.github.io'
      |      ELSE '.com' END AS hostbase
      |  FROM documents))""".stripMargin

  /** DuckDB replay of [[graft.ext.UrlCanonical.canonicalize]] over `u`
    * (foldPathCase = true, the synthetic crawl's case noise is
    * intentional) — produces `c(doc_id, url, url_host,
    * registrable_domain, canonical_url)`. The registrable domain replays
    * the [[graft.ext.PublicSuffix]] longest-matching-suffix algorithm
    * over the SAME committed `fixtures/psl.csv` rule table the engine
    * broadcasts: exception beats all, else max labels among exact and
    * one-extra-label wildcard matches, implicit `*` when nothing matches.
    */
  private val urlCanonSql: String =
    s"""pslr AS (SELECT suffix, MAX(he) AS he, MAX(hw) AS hw,
      |    MAX(hx) AS hx FROM (
      |  SELECT CASE WHEN starts_with(rule, '!') THEN substr(rule, 2)
      |      WHEN starts_with(rule, '*.') THEN substr(rule, 3)
      |      ELSE rule END AS suffix,
      |    CASE WHEN starts_with(rule, '!') OR starts_with(rule, '*.')
      |      THEN 0 ELSE 1 END AS he,
      |    CASE WHEN starts_with(rule, '*.') THEN 1 ELSE 0 END AS hw,
      |    CASE WHEN starts_with(rule, '!') THEN 1 ELSE 0 END AS hx
      |  FROM read_csv('${Inputs.FixtureRoot}/psl.csv', header=true,
      |    columns={'rule':'VARCHAR','section':'VARCHAR'}))
      |  GROUP BY suffix),
      |parts AS (SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      AS scheme,
      |    lower(regexp_extract(url, '^[^/]*//([^/?#]*)', 1)) AS hostport,
      |    regexp_extract(url, '^[^/]*//[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\\?([^#]*)', 1) AS rawq
      |  FROM u),
      |hp AS (SELECT *,
      |    CASE WHEN strpos(hostport, ':') > 0
      |      THEN split_part(hostport, ':', 1) ELSE hostport END AS host0,
      |    CASE WHEN strpos(hostport, ':') > 0
      |      THEN regexp_extract(hostport, ':([^:]*)$$', 1) ELSE '' END
      |      AS port
      |  FROM parts),
      |hh AS (SELECT *, regexp_replace(host0, '^www\\.', '') AS url_host,
      |    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |      OR (scheme = 'https' AND port = '443')
      |      THEN '' ELSE ':' || port END AS portout
      |  FROM hp),
      |pp AS (SELECT *,
      |    CASE WHEN regexp_replace(lower(rawpath), '/+$$', '') = ''
      |      THEN '/' ELSE regexp_replace(lower(rawpath), '/+$$', '') END
      |      AS path,
      |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      x -> x <> '' AND NOT starts_with(x, 'utm_')
      |        AND NOT starts_with(x, 'fbclid')
      |        AND NOT starts_with(x, 'gclid')
      |        AND NOT starts_with(x, 'msclkid')
      |        AND NOT starts_with(x, 'ref='))), '&') AS qc
      |  FROM hh),
      |lab AS (SELECT *, string_split(url_host, '.') AS labels,
      |    len(string_split(url_host, '.')) AS nl FROM pp),
      |cand AS (SELECT doc_id, nl, i,
      |    array_to_string(labels[nl - i + 1:nl], '.') AS cnd
      |  FROM (SELECT doc_id, nl, labels,
      |      unnest(generate_series(1, least(nl,
      |        (SELECT MAX(len(string_split(suffix, '.'))) FROM pslr))))
      |        AS i FROM lab)),
      |mm AS (SELECT doc_id,
      |    MAX(CASE WHEN hx = 1 THEN i - 1 END) AS exc,
      |    MAX(CASE WHEN hw = 1 AND nl > i THEN i + 1 END) AS wc,
      |    MAX(CASE WHEN he = 1 THEN i END) AS ex
      |  FROM cand JOIN pslr ON cnd = suffix GROUP BY 1),
      |psn AS (SELECT l.doc_id, CASE WHEN m.exc IS NOT NULL THEN m.exc
      |    ELSE COALESCE(GREATEST(m.wc, m.ex), 1) END AS ps
      |  FROM lab l LEFT JOIN mm m USING (doc_id)),
      |c AS (SELECT l.doc_id, l.url, l.url_host,
      |    CASE WHEN l.nl > p.ps
      |      THEN array_to_string(l.labels[l.nl - p.ps:l.nl], '.')
      |      ELSE l.url_host END AS registrable_domain,
      |    l.scheme || '://' || l.url_host || l.portout || l.path ||
      |      CASE WHEN l.qc = '' THEN '' ELSE '?' || l.qc END
      |      AS canonical_url
      |  FROM lab l JOIN psn p USING (doc_id))""".stripMargin

  /** Per-doc canonicalization readout ([[graft.ext.UrlCanonical
    * .canonicalize]]): raw URL → canonical URL + host + registrable
    * domain. Scan-side string expressions only — zero shuffles.
    */
  def qUrlCanonical(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.canonicalize(withUrls(spark, dir), "url",
        foldPathCase = true)
      .select(col("doc_id"), col("url"), col("url_host"),
        col("registrable_domain"), col("canonical_url"))
      .orderBy(col("doc_id"))

  val urlCanonicalSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT doc_id, url, url_host, registrable_domain, canonical_url
       |FROM c ORDER BY doc_id""".stripMargin

  /** Canonical-URL dup clusters ([[graft.ext.UrlCanonical.dupClusters]]):
    * pages fetched under ≥2 raw variants, collapsed by the canonicalizer —
    * the cheap first dedup pass that runs BEFORE any content
    * fingerprinting. One groupBy shuffle on the canonical key.
    */
  def qUrlDupClusters(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.dupClusters(withUrls(spark, dir), "url", "doc_id",
        foldPathCase = true)
      .orderBy(col("canonical_url"))

  val urlDupClustersSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT canonical_url, COUNT(*) AS cluster_size,
       |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
       |  MIN(doc_id) AS cluster_id, MAX(doc_id) AS max_id
       |FROM c GROUP BY 1 HAVING COUNT(*) >= 2
       |ORDER BY canonical_url""".stripMargin

  /** Per-registrable-domain crawl stats ([[graft.ext.UrlCanonical
    * .domainStats]]): how much of each site's crawl volume
    * canonicalization collapses (`dup_rate`) and how many distinct hosts
    * (www/cdn/...) feed it.
    */
  def qUrlDomainStats(spark: SparkSession, dir: String): DataFrame =
    graft.ext.UrlCanonical.domainStats(withUrls(spark, dir), "url",
        foldPathCase = true)
      .orderBy(col("registrable_domain"))

  val urlDomainStatsSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql
       |SELECT registrable_domain, COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_urls,
       |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       |  CAST(COUNT(DISTINCT url_host) AS BIGINT) AS n_hosts,
       |  ROUND(1.0 - CAST(COUNT(DISTINCT canonical_url) AS DOUBLE) /
       |    COUNT(DISTINCT url), 6) AS dup_rate
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Crawl-budget allocation and dup-cluster representatives
  // --------------------------------------------------------------------

  /** Max-min fair crawl budget over registrable domains
    * ([[graft.ext.Waterfill.maxMinFair]], budget = half the corpus):
    * every domain keeps its full demand unless it sits above the water
    * level — the politeness-bounded fetch-quota split a crawler computes
    * per cycle. All-integer feasibility; ONE double division (the water
    * level) at the readout.
    */
  def qCrawlBudget(spark: SparkSession, dir: String): DataFrame = {
    // fetch segments = site × language section; byte demands spread ~5×
    // across segments, so half the budget saturates the heavy ones while
    // light ones keep their full demand — a real mixed water level
    val dem = graft.ext.UrlCanonical
      .canonicalize(withUrls(spark, dir), "url", foldPathCase = true)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("n_chars"), col("lang")), Seq("doc_id"))
      .groupBy(concat(col("registrable_domain"), lit("/"), col("lang"))
        .as("segment"))
      .agg(sum(col("n_chars")).as("demand"))
    graft.ext.Waterfill.maxMinFair(dem, "segment", "demand",
        budgetFrac = 0.5)
      .orderBy(col("segment"))
  }

  val crawlBudgetSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |dem AS (SELECT registrable_domain || '/' || d.lang AS segment,
       |    CAST(SUM(d.n_chars) AS BIGINT) AS demand
       |  FROM c JOIN documents d USING (doc_id) GROUP BY 1),
       |r AS (SELECT segment, demand,
       |    ROW_NUMBER() OVER (ORDER BY demand, segment) AS rnk,
       |    CAST(SUM(demand) OVER (ORDER BY demand, segment
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS p
       |  FROM dem),
       |nb AS (SELECT COUNT(*) AS n,
       |    CAST(FLOOR(CAST(SUM(demand) AS DOUBLE) * 0.5) AS BIGINT) AS b
       |  FROM dem),
       |k AS (SELECT COALESCE(MAX(CASE WHEN p + (n - rnk) * demand <= b
       |      THEN rnk END), 0) AS ks FROM r CROSS JOIN nb),
       |kp AS (SELECT ks, COALESCE((SELECT p FROM r WHERE rnk = ks), 0) AS pk
       |  FROM k)
       |SELECT segment, demand, rnk,
       |  ROUND(CASE WHEN rnk <= ks THEN CAST(demand AS DOUBLE)
       |    ELSE CAST(b - pk AS DOUBLE) / (n - ks) END, 6) AS allocated,
       |  rnk > ks AS saturated
       |FROM r CROSS JOIN nb CROSS JOIN kp
       |ORDER BY segment""".stripMargin

  /** Quality-aware representative per canonical-URL dup cluster: within
    * each ≥2-variant cluster keep the longest document (ties → smallest
    * doc id) and count what dedup drops — the "which copy survives"
    * policy every curation pipeline must pin down, made deterministic.
    * One groupBy on the canonical key; the argmax is a struct min, no
    * window.
    */
  def qUrlClusterReps(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.ext.UrlCanonical
      .canonicalize(withUrls(spark, dir), "url", foldPathCase = true)
      .join(Tables.documents(spark, dir).select(col("doc_id"),
        col("n_chars")), Seq("doc_id"))
    c.groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct((-col("n_chars")).as("nn"), col("doc_id").as("id")))
          .as("__rep"))
      .filter(col("cluster_size") >= 2)
      .select(col("canonical_url"), col("cluster_size"),
        col("__rep.id").as("rep_doc"), (-col("__rep.nn")).as("rep_chars"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("canonical_url"))
  }

  val urlClusterRepsSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |j AS (SELECT c.canonical_url, c.doc_id, d.n_chars
       |  FROM c JOIN documents d USING (doc_id)),
       |rk AS (SELECT canonical_url, doc_id, n_chars,
       |    COUNT(*) OVER (PARTITION BY canonical_url) AS cluster_size,
       |    ROW_NUMBER() OVER (PARTITION BY canonical_url
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM j)
       |SELECT canonical_url, cluster_size, doc_id AS rep_doc,
       |  n_chars AS rep_chars, cluster_size - 1 AS n_dropped
       |FROM rk WHERE rn = 1 AND cluster_size >= 2
       |ORDER BY canonical_url""".stripMargin

  // --------------------------------------------------------------------
  // Leakage-safe domain-grouped split audit
  // --------------------------------------------------------------------

  /** Group-aware train/val/test assignment: the split key is the
    * REGISTRABLE DOMAIN, not the document ([[graft.ext.Splits
    * .splitLabel]] over the domain string), so every page of a site lands
    * in one split — the near-dup/template leakage channel a per-document
    * split leaves wide open. The readout reports per-split volume plus
    * the counterfactual: how many domains a naive doc-keyed split would
    * scatter across splits (`n_leaky_domains_docsplit` — the leak this
    * operator exists to zero out). Scan-side md5 bucket expressions;
    * two aggregates; scalars broadcast back.
    */
  def qDomainSplit(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.ext.UrlCanonical.canonicalize(withUrls(spark, dir), "url",
        foldPathCase = true)
      .select(col("doc_id"), col("registrable_domain"))
    val byDomain = c.withColumn("split",
      graft.ext.Splits.splitLabel(col("registrable_domain"), 80, 10))
    val naive = c.withColumn("split",
      graft.ext.Splits.splitLabel(col("doc_id"), 80, 10))
    val leaky = naive.groupBy(col("registrable_domain"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("n_leaky_domains_docsplit"))
    val per = byDomain.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("registrable_domain")).as("n_domains"))
    // total folds from the ≤3-row per-split aggregate — no third scan
    val tot = per.agg(sum(col("n_docs")).as("tot"))
    per.crossJoin(broadcast(tot)).crossJoin(broadcast(leaky))
      .select(col("split"), col("n_docs"), col("n_domains"),
        round(col("n_docs").cast("double") / col("tot"), 6).as("pct_docs"),
        col("n_leaky_domains_docsplit"))
      .orderBy(col("split"))
  }

  val domainSplitSql: String =
    s"""WITH $urlGenSql,
       |$urlCanonSql,
       |t AS (SELECT doc_id, registrable_domain,
       |    ('0x' || substr(md5(registrable_domain), 1, 8))::BIGINT % 100
       |      AS bd,
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      % 100 AS bi
       |  FROM c),
       |s AS (SELECT CASE WHEN bd < 80 THEN 'train' WHEN bd < 90 THEN 'val'
       |    ELSE 'test' END AS split, registrable_domain FROM t),
       |per AS (SELECT split, COUNT(*) AS n_docs,
       |    CAST(COUNT(DISTINCT registrable_domain) AS BIGINT) AS n_domains
       |  FROM s GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS tot FROM s),
       |leaky AS (SELECT COUNT(*) AS n_leaky_domains_docsplit FROM (
       |  SELECT registrable_domain FROM (
       |    SELECT registrable_domain, CASE WHEN bi < 80 THEN 'train'
       |      WHEN bi < 90 THEN 'val' ELSE 'test' END AS sp FROM t)
       |  GROUP BY 1 HAVING COUNT(DISTINCT sp) > 1))
       |SELECT split, n_docs, n_domains,
       |  ROUND(CAST(n_docs AS DOUBLE) / tot, 6) AS pct_docs,
       |  n_leaky_domains_docsplit
       |FROM per CROSS JOIN tot CROSS JOIN leaky
       |ORDER BY split""".stripMargin

  // --------------------------------------------------------------------
  // Exact-substring dedup (graft.ext.SubstringDedup)
  // --------------------------------------------------------------------

  private val SubK = 8

  private val SubMinLen = 20

  private val SubMaxDf = 64

  /** Per-document removed-span intervals from maximal cross-document
    * duplicate token runs ≥ 20 tokens ([[graft.ext.SubstringDedup
    * .mergedSpans]], 8-token anchors, df cap 64).
    */
  def qSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SubstringDedup.mergedSpans(Tables.documents(spark, dir),
        "doc_id", "text", k = SubK, minLen = SubMinLen, maxDf = SubMaxDf)
      .orderBy(col("doc_id"), col("span_start"))

  /** Per-document dedup rate over those spans ([[graft.ext.SubstringDedup
    * .dedupStats]]) — the "how much would exact-substring dedup cut"
    * readout.
    */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame =
    // gramHash (r17): 16-byte anchor keys, the r15 production key — results
    // identical short of a ~2^-128 collision (SubstringDedupSpec
    // differential); q_substring_spans deliberately KEEPS the string key so
    // the spans pipeline retains a live string↔hash differential pair
    // (q_substring_spans vs q_substring_hashed).
    graft.ext.SubstringDedup.dedupStats(Tables.documents(spark, dir),
        "doc_id", "text", k = SubK, minLen = SubMinLen, maxDf = SubMaxDf,
        gramHash = true)
      .orderBy(col("doc_id"))

  /** Shared oracle CTE chain replaying the anchor → df-cap → diagonal
    * islands → interval merge pipeline; ends with
    * `merged(doc_id, span_start, span_end, span_len)`.
    */
  private val substringCte: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |grams AS (SELECT doc_id, i AS pos,
       |    array_to_string(l[i:i + ${SubK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, l,
       |      unnest(generate_series(1, len(l) - ${SubK - 1})) AS i
       |    FROM toks WHERE len(l) >= $SubK)),
       |hot AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df
       |    FROM grams GROUP BY 1) WHERE df > $SubMaxDf),
       |keep AS (SELECT grams.* FROM grams ANTI JOIN hot USING (g)),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1,
       |    a.pos - b.pos AS diag
       |  FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id),
       |isl AS (SELECT *, p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, diag
       |    ORDER BY p1) AS grp FROM pr),
       |runs AS (SELECT d1, d2, diag, MIN(p1) AS s1, MAX(p1) AS e1p
       |  FROM isl GROUP BY d1, d2, diag, grp
       |  HAVING MAX(p1) - MIN(p1) + $SubK >= $SubMinLen),
       |sp0 AS (SELECT d1 AS doc, s1 AS s, e1p + ${SubK - 1} AS e FROM runs
       |  UNION
       |  SELECT d2, s1 - diag, e1p - diag + ${SubK - 1} FROM runs),
       |mg AS (SELECT doc, s, e, MAX(e) OVER (PARTITION BY doc
       |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS maxe FROM sp0),
       |gr AS (SELECT doc, s, e, SUM(CASE WHEN maxe IS NULL OR s > maxe + 1
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid FROM mg),
       |merged AS (SELECT doc AS doc_id, MIN(s) AS span_start,
       |    MAX(e) AS span_end, MAX(e) - MIN(s) + 1 AS span_len
       |  FROM gr GROUP BY doc, gid)""".stripMargin

  val substringSpansSql: String =
    s"""WITH $substringCte
       |SELECT doc_id, span_start, span_end, span_len FROM merged
       |ORDER BY doc_id, span_start""".stripMargin

  val substringDedupSql: String =
    s"""WITH $substringCte,
       |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents)
       |SELECT m.doc_id, COUNT(*) AS n_spans,
       |  CAST(SUM(span_len) AS BIGINT) AS dup_tokens, tk.n_tokens,
       |  ROUND(CAST(SUM(span_len) AS DOUBLE) / tk.n_tokens, 6) AS dup_rate
       |FROM merged m JOIN tk USING (doc_id)
       |GROUP BY m.doc_id, tk.n_tokens ORDER BY m.doc_id""".stripMargin

  /** The tier's APPLY step ([[graft.ext.SubstringDedup.removeSpans]]):
    * every document's text with the duplicate spans cut and survivors
    * re-joined — the artifact a curation pipeline actually writes. Docs
    * that lose everything (or have no tokens) come back empty via the
    * left join; the oracle replays the cut with a NOT EXISTS over the
    * span table and an ordered string_agg.
    */
  def qSubstringApply(spark: SparkSession, dir: String): DataFrame = {
    // gramHash = true: same rationale as qSubstringDedup (r17)
    val rs = graft.ext.SubstringDedup.removeSpans(
      Tables.documents(spark, dir), "doc_id", "text",
      k = SubK, minLen = SubMinLen, maxDf = SubMaxDf, gramHash = true)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(rs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  val substringApplySql: String =
    s"""WITH $substringCte,
       |tk AS (SELECT doc_id, i AS pos, l[i] AS tok
       |  FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i
       |    FROM toks)),
       |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tk t
       |  WHERE NOT EXISTS (SELECT 1 FROM merged m
       |    WHERE m.doc_id = t.doc_id
       |      AND t.pos BETWEEN m.span_start AND m.span_end)),
       |agg AS (SELECT doc_id, COUNT(*) AS n_tokens_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS text_dedup
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, COALESCE(a.n_tokens_kept, 0) AS n_tokens_kept,
       |  COALESCE(a.text_dedup, '') AS text_dedup
       |FROM documents d LEFT JOIN agg a USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Exact-substring dedup, within-document repeats
  // --------------------------------------------------------------------

  private val SubSelfOcc = 8

  /** Merged removed-span intervals with the substring tier's self-repeat
    * handling ON ([[graft.ext.SubstringDedup.mergedSpans]],
    * includeSelf = true): cross-document runs AND within-document repeats
    * land in one span table. The synthetic corpus carries no natural
    * ≥ 20-token in-doc repeats (measured: zero repeated 8-grams beyond
    * 4-gram noise), so the query PLANTS them deterministically — docs
    * with doc_id ≡ 0 (mod 7) get their first 25 tokens re-appended at the
    * end, the same planted-fixture pattern as q_image_near_dup — and the
    * oracle replays both the plant and the full anchor → df-cap →
    * self-occurrence-cap → diagonal-islands → interval-merge pipeline.
    */
  def qSubstringSelf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val l = split(col("text"), " ")
    val aug = d.select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat_ws(" ", col("text"), concat_ws(" ", slice(l, 1, 25))))
        .otherwise(col("text")).as("text"))
    // gramHash (r17): every anchor shuffle carries the 16-byte (h1, h2)
    // fingerprint instead of the 8-token gram string — the r15 production
    // key (measured −31% shuffle bytes on the spans pipeline). Results are
    // identical short of a ~2^-128 collision (SubstringDedupSpec holds the
    // string/hash differential for the includeSelf path too); the oracle
    // stays the string-path SQL, so hash-green doubles as the differential.
    graft.ext.SubstringDedup.mergedSpans(aug, "doc_id", "text",
        k = SubK, minLen = SubMinLen, maxDf = SubMaxDf,
        includeSelf = true, maxSelfOcc = SubSelfOcc, gramHash = true)
      .orderBy(col("doc_id"), col("span_start"))
  }

  val substringSelfSql: String =
    s"""WITH atoks AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' ||
       |      array_to_string(string_split(text, ' ')[1:25], ' ')
       |    ELSE text END AS text FROM documents),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM atoks),
       |grams AS (SELECT doc_id, i AS pos,
       |    array_to_string(l[i:i + ${SubK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, l,
       |      unnest(generate_series(1, len(l) - ${SubK - 1})) AS i
       |    FROM toks WHERE len(l) >= $SubK)),
       |hot AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df
       |    FROM grams GROUP BY 1) WHERE df > $SubMaxDf),
       |keep AS (SELECT grams.* FROM grams ANTI JOIN hot USING (g)),
       |occhot AS (SELECT doc_id, g FROM (SELECT doc_id, g, COUNT(*) AS occ
       |    FROM keep GROUP BY 1, 2) WHERE occ > $SubSelfOcc),
       |skeep AS (SELECT keep.* FROM keep ANTI JOIN occhot
       |  USING (doc_id, g)),
       |pr AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.pos AS p1,
       |    a.pos - b.pos AS diag
       |    FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, a.doc_id, a.pos, a.pos - b.pos
       |    FROM skeep a JOIN skeep b ON a.doc_id = b.doc_id
       |      AND a.g = b.g AND a.pos > b.pos),
       |isl AS (SELECT *, p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, diag
       |    ORDER BY p1) AS grp FROM pr),
       |runs AS (SELECT d1, d2, diag, MIN(p1) AS s1, MAX(p1) AS e1p
       |  FROM isl GROUP BY d1, d2, diag, grp
       |  HAVING MAX(p1) - MIN(p1) + $SubK >= $SubMinLen),
       |sp0 AS (SELECT d1 AS doc, s1 AS s, e1p + ${SubK - 1} AS e FROM runs
       |  UNION
       |  SELECT d2, s1 - diag, e1p - diag + ${SubK - 1} FROM runs),
       |mg AS (SELECT doc, s, e, MAX(e) OVER (PARTITION BY doc
       |    ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |    AS maxe FROM sp0),
       |gr AS (SELECT doc, s, e, SUM(CASE WHEN maxe IS NULL OR s > maxe + 1
       |    THEN 1 ELSE 0 END) OVER (PARTITION BY doc ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid FROM mg),
       |merged AS (SELECT doc AS doc_id, MIN(s) AS span_start,
       |    MAX(e) AS span_end, MAX(e) - MIN(s) + 1 AS span_len
       |  FROM gr GROUP BY doc, gid)
       |SELECT doc_id, span_start, span_end, span_len FROM merged
       |ORDER BY doc_id, span_start""".stripMargin

  // --------------------------------------------------------------------
  // Exact-substring dedup over hashed gram keys
  // --------------------------------------------------------------------

  /** The substring tier's merged spans computed over the HASHED gram key
    * ([[graft.ext.SubstringDedup.mergedSpans]], gramHash = true): every
    * shuffle in the anchor pipeline (df-cap aggregate, stop-gram
    * anti-join, anchor self-join) carries a 16-byte (h1, h2) struct
    * instead of a k-token string. Results are identical to the string
    * path short of a ~2⁻¹²⁸ collision, so the oracle IS the string
    * path's SQL — the query being hash-green is the differential.
    */
  def qSubstringHashed(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SubstringDedup.mergedSpans(Tables.documents(spark, dir),
        "doc_id", "text", k = 8, minLen = 20, maxDf = 64, gramHash = true)
      .orderBy(col("doc_id"), col("span_start"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_span_dedup", qSpanDedup, spanDedupSql),
    QuerySpec("q_semantic_dup", qSemanticDup, semanticDupSql),
    QuerySpec("q_dedup_prefix", qDedupPrefix, dedupPrefixSql),
    QuerySpec("q_table_diff", qTableDiff, tableDiffSql),
    QuerySpec("q_incremental_dedup", qIncrementalDedup, incrementalDedupSql),
    QuerySpec("q_minhash_est", qMinhashEst, minhashEstSql),
    QuerySpec("q_lsh_recall_curve", qLshRecallCurve, lshRecallCurveSql),
    QuerySpec("q_blocking_quality", qBlockingQuality, blockingQualitySql),
    QuerySpec("q_dedup_exact", qDedupExact, dedupExactSql),
    QuerySpec("q_dedup_jaccard", qDedupJaccard, dedupJaccardSql),
    QuerySpec("q_dedup_minhash", qDedupMinhash, dedupMinhashSql),
    QuerySpec("q_dedup_simhash", qDedupSimhash, dedupSimhashSql),
    QuerySpec("q_simhash_pairs", qSimhashPairs, simhashPairsSql),
    QuerySpec("q_dup_clusters", qDupClusters, dupClustersSql),
    QuerySpec("q_dup_clusters_lsh", qDupClustersLsh, dupClustersLshSql),
    QuerySpec("q_dup_pair_cosine", qDupPairCosine, dupPairCosineSql),
    QuerySpec("q_dedup_embed", qDedupEmbed, dedupEmbedSql),
    QuerySpec("q_dedup_threshold_curve", qDedupThresholdCurve, dedupThresholdCurveSql),
    QuerySpec("q_corpus_curation", qCorpusCuration, corpusCurationSql),
    QuerySpec("q_corpus_curation_lsh", qCorpusCurationLsh, corpusCurationLshSql),
    QuerySpec("q_dup_rate_by_source", qDupRateBySource, dupRateBySourceSql),
    QuerySpec("q_source_overlap", qSourceOverlap, sourceOverlapSql),
    QuerySpec("q_fuzzy_match", qFuzzyMatch, fuzzyMatchSql),
    QuerySpec("q_fuzzy_multi", qFuzzyMulti, fuzzyMultiSql),
    QuerySpec("q_entity_clusters", qEntityClusters, entityClustersSql),
    QuerySpec("q_cluster_canonical", qClusterCanonical, clusterCanonicalSql),
    QuerySpec("q_dedup_edit", qDedupEdit, dedupEditSql),
    QuerySpec("q_winnow_fingerprint", qWinnowFingerprint, winnowFingerprintSql),
    QuerySpec("q_winnow_pairs", qWinnowPairs, winnowPairsSql),
    QuerySpec("q_bbit_minhash", qBbitMinhash, bbitMinhashSql),
    QuerySpec("q_jaro_match", qJaroMatch, jaroMatchSql),
    QuerySpec("q_fs_weights", qFsWeights, fsWeightsSql),
    QuerySpec("q_fs_scores", qFsScores, fsScoresSql),
    QuerySpec("q_url_canonical", qUrlCanonical, urlCanonicalSql),
    QuerySpec("q_url_dup_clusters", qUrlDupClusters, urlDupClustersSql),
    QuerySpec("q_url_domain_stats", qUrlDomainStats, urlDomainStatsSql),
    QuerySpec("q_crawl_budget", qCrawlBudget, crawlBudgetSql),
    QuerySpec("q_url_cluster_reps", qUrlClusterReps, urlClusterRepsSql),
    QuerySpec("q_domain_split", qDomainSplit, domainSplitSql),
    QuerySpec("q_substring_spans", qSubstringSpans, substringSpansSql),
    QuerySpec("q_substring_dedup", qSubstringDedup, substringDedupSql),
    QuerySpec("q_substring_apply", qSubstringApply, substringApplySql),
    QuerySpec("q_substring_self", qSubstringSelf, substringSelfSql),

    // the string-key path's SQL verbatim: hashed keys change no result
    QuerySpec("q_substring_hashed", qSubstringHashed, substringSpansSql),
  )
}
