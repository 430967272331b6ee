package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Input shapes and helpers that queries of more than one family share:
  * the sales/recommendations interaction pairs, the golden-fixture root,
  * exact-decimal revenue, the repeat-co-purchase and co-purchase edge
  * lists, seed centroids, and the oracle CTE fragments built on them.
  * References no family object, so a family's initialization never waits
  * on another family's.
  */
object Inputs {

  /** Absolute root of the committed golden-fixture CSVs (tokenizer
    * trainers) — absolute because the driver's DuckDB process has an
    * unknown working directory. Overridable for foreign checkouts via
    * `-Dgraft.fixture.root=...` or `GRAFT_FIXTURE_ROOT`; the default is
    * this repo's canonical path.
    */
  val FixtureRoot: String =
    sys.props.get("graft.fixture.root")
      .orElse(sys.env.get("GRAFT_FIXTURE_ROOT"))
      .getOrElse("/root/repo/fixtures")

  // ---------------------------------------------------------------------------
  // Shared input shapes (each mirrored 1:1 in the oracle SQL CTEs)
  // ---------------------------------------------------------------------------

  /** "Sales" interactions: (user_id, item_id) from finalized orders. */
  private[graft] def sales(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
    val l = Tables.lineitem(spark, dir)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
  }

  /** "Recommendations": (user_id, item_id) from urgent orders — overlaps sales but
    * includes items absent from it, exercising novelty's left-join null semantics
    * (SURVEY.md §2.4.2).
    */
  private[graft] def recommendations(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    val l = Tables.lineitem(spark, dir)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
  }

  private[graft] val salesSql =
    """sales AS (SELECT o_custkey AS user_id, l_partkey AS item_id
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderstatus = 'F')""".stripMargin

  private[graft] val recsSql =
    """recs AS (SELECT o_custkey AS user_id, l_partkey AS item_id
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority = '1-URGENT')""".stripMargin

  /** Shared shingle CTE (word 3-grams, distinct per doc). */
  private[graft] val shinglesSql =
    """sh AS (SELECT DISTINCT doc_id, sh FROM (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(l) - 2, 1)),
      |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)))""".stripMargin

  /** Sign-LSH bucket expression over `embedding` — the SQL twin of
    * [[SimSearch.lshBucket]], shared by the embedding-dedup and LSH-top-k
    * oracles (same deterministic [[SimSearch.planeSign]] hyperplanes).
    */
  private[graft] def lshBucketPlanesSql(numPlanes: Int): String =
    (0 until numPlanes).map { p =>
      val signs = (0 until 64).map(i => SimSearch.planeSign(i, p)).mkString("[", ", ", "]")
      s"""CASE WHEN list_sum(list_transform(generate_series(1, 64),
         |        i -> embedding[i]::DOUBLE * ($signs)[i])) > 0
         |      THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString(" +\n      ")

  private[graft] val stopRegexes = Seq("the", "and", "of", "to", "a", "in", "is", "it")
    .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))")

  private[graft] val stopCountSql = stopRegexes.mkString("(", " + ", ")")

  /** Shared oracle CTEs for the clustering queries: per-vector norms, seed
    * centroids (vec_id < 8 — deterministic, engine-portable), all-centroid
    * cosines, and the rank-1 assignment.
    */
  private[graft] val centroidAssignCtes =
    """v AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nv
      |  FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce, nv AS nc FROM v WHERE vec_id < 8),
      |s AS (SELECT v.vec_id, c.cid,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> v.embedding[i]::DOUBLE * c.ce[i]::DOUBLE)) / (v.nv * c.nc) AS cos
      |  FROM v CROSS JOIN c),
      |r AS (SELECT vec_id, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM s)""".stripMargin

  /** Deterministic seed centroids for the clustering oracle queries: the 8
    * lowest-id embedding rows (the oracle SQL embeds the same `vec_id < 8`).
    */
  private[graft] def seedCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))

  /** Money/value aggregates use exact DECIMAL arithmetic: double sums differ across
    * engines in the last ulp once enough rows accumulate (observed at sf0.1:
    * 1215710442.893292 vs ...93293 before rounding), so the oracle hashes diverge.
    * Doubles cast to DECIMAL(18,4) round identically in Spark and DuckDB (inputs are
    * clean 2-decimal values), decimal sums are order-independent and exact, and the
    * final CAST(... AS DOUBLE) is deterministic IEEE on both sides.
    */
  private[graft] def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,4)")

  private[graft] def revenueDec(price: org.apache.spark.sql.Column,
                                discount: org.apache.spark.sql.Column) =
    sum(dec(price) * (lit(1).cast("decimal(18,4)") - dec(discount)))

  private[graft] val revenueDecSql =
    "SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))))"

  /** Repeat-co-purchase edges: parts appearing together in ≥2 DISTINCT orders.
    * The support floor is the market-basket minSupport idea applied to graph
    * construction — single co-occurrences on a dense catalog are noise, and
    * they also dominate the wedge volume (the raw ≥1 graph at sf0.1 has 1.2M
    * edges / 72M wedges, the signal graph 3.6k / 1.4k). Shared by
    * [[qTriangles]] and [[qKcore]].
    */
  private[graft] def repeatEdges(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // basket form: ONE order-keyed set aggregate (partial map-side) replaces
    // the two-sided self-join shuffle; pairs generate map-side from each
    // basket, bounded by basket size², and the distinct-order count becomes a
    // plain count because a set yields each pair at most once per order
    l.groupBy(col("ok")).agg(collect_set(col("pk")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"), explode(col("parts")).as("dst"))
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .select(col("src"), col("dst"))
  }

  private[graft] val repeatEdgesSql =
    """e AS (SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2)""".stripMargin

  /** Shared oracle CTE chain for the hashed-score queries, ending in
    * `sc(doc_id, score)` (ROUND 6) and `g(doc_id, keep)`.
    */
  private[graft] val calibScoreKeepCtes: String =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |  FROM documents),
      |f AS (SELECT doc_id, unnest(toks) AS feat FROM t
      |      UNION ALL
      |      SELECT doc_id, unnest(list_transform(
      |          generate_series(1, len(toks) - 1),
      |          i -> toks[i] || '_' || toks[i + 1])) AS feat
      |        FROM t WHERE len(toks) >= 2),
      |wf AS (SELECT doc_id,
      |    CAST((('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096) % 997
      |      AS DOUBLE) / 996.0 - 0.5 AS w
      |  FROM f),
      |sc AS (SELECT doc_id, ROUND(1.0 / (1.0 + EXP(
      |    -(CAST(SUM(CAST(w AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)))), 6)
      |    AS score
      |  FROM wf GROUP BY 1),
      |tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      |  FROM documents),
      |tc AS (SELECT doc_id, tk, COUNT(*) AS c FROM tf GROUP BY 1, 2),
      |ta AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    MAX(c) AS max_tf FROM tc GROUP BY 1),
      |bg AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(len(l) - 1, 1)),
      |    i -> array_to_string(l[i:i+1], ' '))) AS b
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |ba AS (SELECT doc_id, COUNT(*) AS n_bg, COUNT(DISTINCT b) AS n_distinct_bg
      |    FROM bg GROUP BY 1),
      |g AS (SELECT ta.doc_id,
      |    (CAST(max_tf AS DOUBLE) / n_tokens <= 0.20 AND
      |     1.0 - CAST(n_distinct_bg AS DOUBLE) / n_bg <= 0.30) AS keep
      |  FROM ta JOIN ba USING (doc_id))""".stripMargin

  /** Weighted repeat-co-purchase edge list (weight = orders containing both
    * parts, edges with ≥2 co-orders) — basket form as in
    * repeatEdges: one order-keyed set aggregate, pairs
    * generated map-side per basket. Shared with [[GraphQueries]]'
    * modularity query.
    */
  private[graft] def copurchaseEdges(spark: SparkSession,
                                     dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    l.groupBy(col("ok")).agg(collect_set(col("pk")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"), explode(col("parts")).as("dst"))
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
  }

  /** Scratch path for artifacts a query writes then reads back: keyed by
    * data dir AND the Spark application id, so two concurrent runs over the
    * same dir (or a hash collision between dirs) never race on one
    * half-rewritten index/round-trip file.
    */
  private[graft] def scratchPath(spark: SparkSession, tag: String,
                          dir: String): String =
    Scratch.path(spark, tag, dir)

  /** Shared oracle CTE chain for the trained-IVF queries: Lloyd round from
    * the vec_id<4 seeds, second assignment, the query row, the 2 probed
    * cells, and `cand(vec_id, cid)` — the pruned candidate set.
    */
  private[graft] val ivfCtesSql: String =
    """v AS (SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
      |      AS nv
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid,
      |    list_transform(generate_series(1, 64), i -> embedding[i]::DOUBLE)
      |      AS ce
      |  FROM embeddings WHERE vec_id < 4),
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
      |a2 AS (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
      |    ORDER BY cos DESC, cid) AS rk FROM s2),
      |asn2 AS (SELECT vec_id, cid FROM a2 WHERE rk = 1),
      |q AS (SELECT embedding AS qe, nv AS qn FROM v WHERE vec_id = 0),
      |probe AS (SELECT cid FROM cn1 CROSS JOIN q
      |  ORDER BY list_sum(list_transform(generate_series(1, 64),
      |      i -> (ce[i] - qe[i]::DOUBLE) * (ce[i] - qe[i]::DOUBLE))), cid
      |  LIMIT 2),
      |cand AS (SELECT a.vec_id, a.cid FROM asn2 a JOIN probe USING (cid)
      |  WHERE a.vec_id <> 0)""".stripMargin
}
