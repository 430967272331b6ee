package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Graph analytics over the co-purchase and customer-part graphs: ranking,
  * triangles, cores and trusses, components, communities, paths, temporal
  * reachability, matching, coloring and independent sets.
  */
object GraphQueries extends QueryFamily("graph") {
  import Inputs.{copurchaseEdges, repeatEdges, repeatEdgesSql}

  /** PageRank over the co-purchase graph ([[PageRank.pageRank]], 5 damped
    * iterations): structural item importance beyond raw counts. Edges =
    * part pairs co-purchased in ≥2 orders, symmetrized. The oracle unrolls
    * the SAME 5 iterations as chained CTEs with identical DECIMAL contribution
    * sums and double scalar arithmetic — every rank matches to 6 decimals.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    // basket form: one order-keyed set aggregate + map-side pair generation
    // (bounded by basket size²) instead of a two-sided self-join shuffle
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .groupBy(col("okey")).agg(collect_set(col("item")).as("items"))
      .select(explode(col("items")).as("ia"), col("items"))
      .select(col("ia"), explode(col("items")).as("ib"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    // both edge directions from ONE generator — a union of two projections
    // of `pairs` re-runs the whole basket pipeline per branch (column
    // pruning specializes each branch's partial aggregate, so the exchange
    // is NOT shared; the q_dedup_lsh banding trap)
    val edges = pairs.select(explode(array(
        struct(col("ia").as("src"), col("ib").as("dst")),
        struct(col("ib").as("src"), col("ia").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    PageRank.pageRank(edges, "src", "dst", iterations = 5, damping = 0.85)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }

  val pagerankSql: String = {
    val iters = (1 to 5).map { i =>
      s"""pr$i AS (SELECT nodes.node,
        |    (1.0::DOUBLE - 0.85::DOUBLE) / n
        |      + 0.85::DOUBLE * COALESCE(CAST(s AS DOUBLE), 0.0::DOUBLE) AS pr
        |  FROM nodes CROSS JOIN cnt LEFT JOIN (
        |    SELECT e.dst AS node,
        |      SUM(CAST(pr${i - 1}.pr / deg.deg AS DECIMAL(28,15))) AS s
        |    FROM e JOIN pr${i - 1} ON e.src = pr${i - 1}.node
        |    JOIN deg ON e.src = deg.src GROUP BY 1) c
        |  ON nodes.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS ia, b.item AS ib, COUNT(*) AS n_ab
      |  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item
      |  GROUP BY 1, 2),
      |e AS (SELECT ia AS src, ib AS dst FROM p WHERE n_ab >= 2
      |  UNION ALL SELECT ib, ia FROM p WHERE n_ab >= 2),
      |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node
      |  FROM (SELECT src FROM e UNION ALL SELECT dst FROM e) t(src)),
      |cnt AS (SELECT COUNT(*) AS n FROM nodes),
      |pr0 AS (SELECT node, 1.0::DOUBLE / n AS pr FROM nodes CROSS JOIN cnt),
      |$iters
      |SELECT node, ROUND(pr, 6) AS pr FROM pr5 ORDER BY node""".stripMargin
  }

  /** Triangle census of the repeat-co-purchase graph (the oracle's a<b<c
    * three-way join states the same count the degree-oriented wedge join
    * computes).
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    Triangles.triangleCensus(repeatEdges(spark, dir), "src", "dst")

  /** BFS level histogram from the repeat-co-purchase graph's busiest hub
    * ([[graft.ext.GraphPaths.bfsLevels]], depth cap 10): how much of the
    * graph sits within r hops of the max-degree part — the reachability
    * fingerprint next to q_assortativity's mixing summary.
    */
  def qBfsLevels(spark: SparkSession, dir: String): DataFrame =
    graft.ext.GraphPaths.bfsLevels(repeatEdges(spark, dir), "src", "dst",
      maxDepth = 10)

  val bfsLevelsSql: String =
    s"""WITH RECURSIVE $repeatEdgesSql,
      |bt AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |seed AS (SELECT u AS node FROM bt GROUP BY 1
      |  ORDER BY COUNT(*) DESC, u LIMIT 1),
      |reach(id, d) AS (
      |  SELECT node, 0 FROM seed
      |  UNION
      |  SELECT bt.v, r.d + 1 FROM reach r JOIN bt ON bt.u = r.id
      |  WHERE r.d < 10),
      |lv AS (SELECT id, MIN(d) AS level FROM reach GROUP BY 1)
      |SELECT level, COUNT(*) AS n_nodes FROM lv GROUP BY 1 ORDER BY 1""".stripMargin

  /** Degree assortativity of the repeat-co-purchase graph
    * ([[Triangles.assortativity]]): r < 0 = hub-and-spoke (popular parts
    * attach to one-off parts), r > 0 = hubs cluster — the structural summary
    * that says whether the degree-oriented tricks in q_triangles/q_kcore are
    * load-bearing on this graph.
    */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame =
    Triangles.assortativity(repeatEdges(spark, dir), "src", "dst")

  val assortativitySql: String =
    s"""WITH $repeatEdgesSql,
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |p AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
      |j AS (SELECT dx.deg AS dx, dy.deg AS dy FROM p
      |  JOIN deg dx ON p.x = dx.node JOIN deg dy ON p.y = dy.node),
      |m AS (SELECT COUNT(*) AS n2,
      |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
      |    CAST(SUM(dx * dy) AS BIGINT) AS sxy,
      |    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
      |    CAST(SUM(dy * dy) AS BIGINT) AS syy FROM j),
      |r AS (SELECT
      |    CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |    sqrt((CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS den FROM m)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  ROUND(num / (CASE WHEN den = 0.0 THEN NULL ELSE den END), 6)
      |    AS assortativity
      |FROM r""".stripMargin

  val trianglesSql: String =
    s"""WITH $repeatEdgesSql,
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |tri AS (SELECT COUNT(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
      |  ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) FROM deg) AS n_wedges,
      |  (SELECT n_triangles FROM tri) AS n_triangles,
      |  ROUND(3.0 * (SELECT n_triangles FROM tri)
      |    / (SELECT SUM(deg * (deg - 1)) / 2 FROM deg), 6) AS global_clustering""".stripMargin

  /** Connected components of the repeat-co-purchase graph — product families
    * that sell together, via the SAME pointer-jumping CC machinery the dedup
    * pipeline uses ([[graft.ext.Dedup.dupClusters]]): operators compose
    * across domains. Oracle: transitive min-reachability recursive CTE.
    */
  def qCopurchaseCc(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.dupClusters(
        repeatEdges(spark, dir)
          .select(col("src").as("id_a"), col("dst").as("id_b")))
      .orderBy(col("id"))

  val copurchaseCcSql: String =
    s"""WITH RECURSIVE $repeatEdgesSql,
      |edges AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT eg.a, r.r FROM edges eg JOIN reach r ON eg.b = r.id)
      |SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** 2-core of the repeat-co-purchase graph (the peel cascades: depth 3 at
    * sf0.01, 5 at sf0.1, with a non-empty core at the correctness SF). The
    * oracle unrolls 10 peeling rounds as CTEs; peeling is IDEMPOTENT at
    * fixpoint, so unrolling more rounds than the actual depth changes
    * nothing — the PageRank fixed-iteration discipline without needing the
    * iteration counts to match exactly.
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame =
    graft.ext.KCore.kCore(repeatEdges(spark, dir), "src", "dst", k = 2)
      .orderBy(col("node"))

  val kcoreSql: String = {
    val k = 2
    val rounds = 10
    // AS MATERIALIZED is load-bearing: each round references the previous
    // frame several times, and inlined CTEs would expand the lineage
    // exponentially (observed as thousands of re-opened parquet scans)
    val peels = (1 to rounds).map { i =>
      val prev = if (i == 1) "p0" else s"p${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM
         |  (SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
         |  GROUP BY 1),
         |p$i AS MATERIALIZED (SELECT a, b FROM $prev
         |  WHERE a IN (SELECT node FROM d$i WHERE deg >= $k)
         |  AND b IN (SELECT node FROM d$i WHERE deg >= $k))""".stripMargin
    }.mkString(",\n")
    s"""WITH $repeatEdgesSql,
       |p0 AS MATERIALIZED (SELECT a, b FROM e),
       |$peels
       |SELECT node, COUNT(*) AS deg FROM
       |  (SELECT a AS node FROM p$rounds UNION ALL SELECT b FROM p$rounds)
       |GROUP BY 1 HAVING COUNT(*) >= $k ORDER BY node""".stripMargin
  }

  /** Year-over-year drift of the co-purchase graph: Jaccard of consecutive
    * years' edge sets — the retraining-cadence signal (a high-drift catalog
    * invalidates item-item models faster).
    */
  def qGraphDrift(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("ok"), year(col("o_orderdate")).as("y"))
    val ey = l.as("x").join(l.as("y"), col("x.ok") === col("y.ok") &&
        col("x.pk") < col("y.pk"))
      .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b"))
      .join(o, Seq("ok"))
      .select(col("y"), col("a"), col("b")).distinct()
    val ny = ey.groupBy(col("y")).agg(count(lit(1)).as("n_edges"))
    val common = ey.as("p").join(ey.as("q"),
        col("p.a") === col("q.a") && col("p.b") === col("q.b") &&
          col("q.y") === col("p.y") + 1)
      .groupBy(col("p.y").as("y"))
      .agg(count(lit(1)).as("n_common"))
    ny.as("na").join(ny.as("nb"), col("nb.y") === col("na.y") + 1)
      .select(col("na.y").as("year_a"), col("nb.y").as("year_b"),
        col("na.n_edges").as("n_a"), col("nb.n_edges").as("n_b"))
      .join(common.withColumnRenamed("y", "year_a"), Seq("year_a"), "left")
      .select(col("year_a"), col("year_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6))
      .orderBy(col("year_a"))
  }

  val graphDriftSql: String =
    """WITH e AS (SELECT DISTINCT year(o.o_orderdate) AS y,
      |    x.l_partkey AS a, y2.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y2
      |  ON x.l_orderkey = y2.l_orderkey AND x.l_partkey < y2.l_partkey
      |  JOIN orders o ON x.l_orderkey = o.o_orderkey),
      |ny AS (SELECT y, COUNT(*) AS n_edges FROM e GROUP BY 1),
      |cm AS (SELECT p.y, COUNT(*) AS n_common
      |  FROM e p JOIN e q ON p.a = q.a AND p.b = q.b AND q.y = p.y + 1
      |  GROUP BY 1)
      |SELECT na.y AS year_a, nb.y AS year_b, na.n_edges AS n_a,
      |  nb.n_edges AS n_b, COALESCE(cm.n_common, 0) AS n_common,
      |  ROUND(COALESCE(cm.n_common, 0) * 1.0
      |    / (na.n_edges + nb.n_edges - COALESCE(cm.n_common, 0)), 6) AS jaccard
      |FROM ny na JOIN ny nb ON nb.y = na.y + 1
      |LEFT JOIN cm ON cm.y = na.y
      |ORDER BY year_a""".stripMargin

  /** Top-50 predicted links (Adamic-Adar) on the repeat-co-purchase graph. */
  def qLinkPred(spark: SparkSession, dir: String): DataFrame =
    LinkPrediction.neighborScores(
        Inputs.repeatEdges(spark, dir), "src", "dst")
      .orderBy(col("adamic_adar").desc, col("node_a"), col("node_b"))
      .limit(50)

  val linkPredSql: String =
    s"""WITH ${Inputs.repeatEdgesSql},
      |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |deg AS (SELECT u AS mid, COUNT(*) AS deg FROM adj GROUP BY 1),
      |wdg AS (SELECT x.v AS node_a, y.v AS node_b, x.u AS mid
      |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v),
      |sc AS (SELECT node_a, node_b, COUNT(*) AS n_common,
      |    SUM(CAST(1.0 / LN(deg) AS DECIMAL(27,12))) AS aa,
      |    SUM(CAST(1.0 / deg AS DECIMAL(27,12))) AS ra
      |  FROM wdg JOIN deg USING (mid) GROUP BY 1, 2),
      |f AS (SELECT sc.* FROM sc WHERE NOT EXISTS
      |  (SELECT 1 FROM adj WHERE adj.u = sc.node_a AND adj.v = sc.node_b))
      |SELECT node_a, node_b, n_common,
      |  ROUND(CAST(aa AS DOUBLE), 6) AS adamic_adar,
      |  ROUND(CAST(ra AS DOUBLE), 6) AS resource_alloc
      |FROM f ORDER BY adamic_adar DESC, node_a, node_b LIMIT 50""".stripMargin

  // --------------------------------------------------------------------------
  // Label-propagation communities
  // --------------------------------------------------------------------------

  /** Three rounds of deterministic synchronous label propagation
    * ([[Communities.labelPropagation]]) over the weighted repeat-co-purchase
    * graph (weight = number of orders containing both parts, edges with ≥2
    * co-orders). The oracle unrolls the same three rounds — one
    * aggregate + rank-1 CTE pair per round — so every adoption decision is
    * checked, not just the fixed point.
    */
  def qCommunities(spark: SparkSession, dir: String): DataFrame =
    Communities.labelPropagation(copurchaseEdges(spark, dir),
        "src", "dst", "w", iters = 3)
      .orderBy(col("node"))

  /** One unrolled LPA round: labels `lPrev` → labels `lNext`. */
  private def lpaRoundSql(t: Int): String = {
    val (prev, a, r, next) = (s"l${t - 1}", s"a$t", s"r$t", s"l$t")
    s"""$a AS (SELECT s.dst, l.label AS lbl, CAST(SUM(s.w) AS BIGINT) AS wsum
       |  FROM sym s JOIN $prev l ON s.src = l.node GROUP BY 1, 2),
       |$r AS (SELECT dst, lbl, ROW_NUMBER() OVER (
       |    PARTITION BY dst ORDER BY wsum DESC, lbl) AS rn FROM $a),
       |$next AS (SELECT p.node, COALESCE(r.lbl, p.label) AS label
       |  FROM $prev p LEFT JOIN $r r ON p.node = r.dst AND r.rn = 1)"""
      .stripMargin
  }

  /** Shared CTE block (edges `e`, symmetric `sym`, LPA labels `l3`) — reused
    * by the modularity oracle [[modularitySql]].
    */
  private[graft] val communitiesCtes: String =
    s"""e AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
      |    COUNT(DISTINCT x.l_orderkey) AS w
      |  FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
      |sym AS (SELECT a AS src, b AS dst, w FROM e
      |  UNION ALL SELECT b, a, w FROM e),
      |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
      |${lpaRoundSql(1)},
      |${lpaRoundSql(2)},
      |${lpaRoundSql(3)}""".stripMargin

  val communitiesSql: String =
    s"""WITH $communitiesCtes
      |SELECT node, label FROM l3 ORDER BY node""".stripMargin

  // --------------------------------------------------------------------------
  // Graph modularity of the LPA partition
  // --------------------------------------------------------------------------

  /** Newman modularity of q_communities' label-propagation partition over
    * the repeat-co-purchase graph ([[graft.ext.Communities.modularity]]) —
    * the quality score that says whether the partition found real structure
    * (Q ≳ 0.3) or noise (Q ≈ 0). The oracle replays the 3 LPA rounds AND
    * the modularity arithmetic.
    */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    // the edge table feeds LPA (3 rounds) AND the modularity joins —
    // checkpoint once so the basket-explode pipeline doesn't re-run per
    // consumer (the q_dedup_prefix localCheckpoint discipline)
    val edges = Materialize(Inputs.copurchaseEdges(spark, dir)).df
    val labels = graft.ext.Communities.labelPropagation(edges,
      "src", "dst", "w", iters = 3)
    graft.ext.Communities.modularity(edges, "src", "dst", "w",
        labels, "node", "label")
      .select(col("n_communities"), col("total_weight"),
        round(col("modularity"), 6).as("modularity"))
  }

  val modularitySql: String =
    s"""WITH ${communitiesCtes},
      |lab AS (SELECT node, label FROM l3),
      |mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e),
      |intra AS (SELECT la.label AS c, CAST(SUM(e.w) AS BIGINT) AS ec
      |  FROM e JOIN lab la ON e.a = la.node
      |  JOIN lab lb ON e.b = lb.node AND la.label = lb.label
      |  GROUP BY 1),
      |deg AS (SELECT la.label AS c, CAST(SUM(s.w) AS BIGINT) AS dc
      |  FROM sym s JOIN lab la ON s.src = la.node GROUP BY 1),
      |terms AS (SELECT deg.c,
      |    CAST(CAST(COALESCE(ec, 0) AS DOUBLE) / CAST(m AS DOUBLE) -
      |      (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) *
      |      (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
      |      AS DECIMAL(28,12)) AS t, m
      |  FROM deg LEFT JOIN intra USING (c) CROSS JOIN mm)
      |SELECT COUNT(*) AS n_communities, m AS total_weight,
      |  ROUND(CAST(SUM(t) AS DOUBLE), 6) AS modularity
      |FROM terms GROUP BY m""".stripMargin

  // --------------------------------------------------------------------------
  // Percolation / attack tolerance
  // --------------------------------------------------------------------------

  /** Hub-removal robustness of the repeat-co-purchase graph
    * ([[graft.ext.GraphPaths.percolationAudit]], top-20 hubs): does the
    * giant component survive losing the whale items? The oracle replays
    * BOTH connected-components passes with recursive reach CTEs.
    */
  def qPercolation(spark: SparkSession, dir: String): DataFrame =
    graft.ext.GraphPaths.percolationAudit(
        Inputs.repeatEdges(spark, dir), "src", "dst", topKHubs = 20)
      .select(col("scenario"), col("n_nodes"), col("n_edges"),
        col("largest_cc"),
        round(col("largest_cc_share"), 6).as("largest_cc_share"))

  val percolationSql: String =
    s"""WITH RECURSIVE ${Inputs.repeatEdgesSql},
      |edges AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      |deg AS (SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
      |hubs AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT 20),
      |ea AS (SELECT a, b FROM e
      |  WHERE a NOT IN (SELECT node FROM hubs)
      |    AND b NOT IN (SELECT node FROM hubs)),
      |edgesa AS (SELECT a, b FROM ea UNION SELECT b, a FROM ea),
      |reach(id, r) AS (
      |      SELECT a, a FROM edges UNION SELECT a, b FROM edges
      |      UNION SELECT eg.a, r.r FROM edges eg JOIN reach r ON eg.b = r.id),
      |lab AS (SELECT id, MIN(r) AS c FROM reach GROUP BY 1),
      |reacha(id, r) AS (
      |      SELECT a, a FROM edgesa UNION SELECT a, b FROM edgesa
      |      UNION SELECT eg.a, r.r FROM edgesa eg
      |        JOIN reacha r ON eg.b = r.id),
      |laba AS (SELECT id, MIN(r) AS c FROM reacha GROUP BY 1),
      |s1 AS (SELECT 'intact' AS scenario,
      |    (SELECT COUNT(*) FROM lab) AS n_nodes,
      |    (SELECT COUNT(*) FROM e) AS n_edges,
      |    (SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt FROM lab GROUP BY c))
      |      AS largest_cc),
      |s2 AS (SELECT 'attacked' AS scenario,
      |    (SELECT COUNT(*) FROM laba) AS n_nodes,
      |    (SELECT COUNT(*) FROM ea) AS n_edges,
      |    (SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt FROM laba GROUP BY c))
      |      AS largest_cc),
      |u AS (SELECT * FROM s2 UNION ALL SELECT * FROM s1)
      |SELECT scenario, n_nodes, n_edges, largest_cc,
      |  ROUND(CAST(largest_cc AS DOUBLE) / n_nodes, 6) AS largest_cc_share
      |FROM u ORDER BY scenario""".stripMargin

  // --------------------------------------------------------------------------
  // Degree-distribution tail index
  // --------------------------------------------------------------------------

  /** Hill tail index of the co-purchase DEGREE distribution
    * ([[graft.metrics.LongTail.hillTailIndex]] over edge endpoints, k=50) —
    * the scale-free-ness test that explains q_percolation's result: a
    * heavy-tailed degree distribution (α̂ ≈ 1-2) predicts hub-fragility, a
    * thin tail predicts the robustness we measured.
    */
  def qDegreeTail(spark: SparkSession, dir: String): DataFrame = {
    val e = Inputs.repeatEdges(spark, dir)
    val endpoints = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
    graft.metrics.LongTail.hillTailIndex(endpoints, "node", k = 50)
  }

  val degreeTailSql: String =
    s"""WITH ${Inputs.repeatEdgesSql},
      |ep AS (SELECT a AS node FROM e UNION ALL SELECT b FROM e),
      |c AS (SELECT node, COUNT(*) AS volume FROM ep GROUP BY 1),
      |r AS (SELECT node, volume,
      |    ROW_NUMBER() OVER (ORDER BY volume DESC, node) AS rnk FROM c),
      |tl AS (SELECT volume AS x_kplus1 FROM r WHERE rnk = 51),
      |s AS (SELECT SUM(CAST(ln(CAST(r.volume AS DOUBLE) / tl.x_kplus1)
      |      AS DECIMAL(18,8))) AS sl
      |  FROM r CROSS JOIN tl WHERE rnk <= 50)
      |SELECT 50 AS k, x_kplus1,
      |  ROUND(CAST(sl AS DOUBLE), 6) AS sum_log,
      |  ROUND(50 / CAST(sl AS DOUBLE), 6) AS hill_alpha
      |FROM s CROSS JOIN tl""".stripMargin

  // --------------------------------------------------------------------------
  // HITS hubs/authorities over the customer→part bipartite graph
  // --------------------------------------------------------------------------

  /** Top-20 authorities (parts) and hubs (customers) after two HITS rounds
    * ([[graft.ext.Hits.hits]]) over the who-bought-what bipartite graph —
    * the mutually-reinforcing ranking next to q_pagerank's random walk; the
    * oracle unrolls the same DECIMAL-pooled recurrence.
    */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
    val w = Window.partitionBy(col("kind"))
      .orderBy(col("score").desc, col("node"))
    graft.ext.Hits.hits(edges, "src", "dst", iterations = 2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .orderBy(col("kind"), col("rk"))
      .select(col("kind"), col("rk").cast("long").as("rk"), col("node"),
        round(col("score"), 6).as("score"))
  }

  val hitsSql: String = {
    def norm(prev: String, tag: String): String =
      s"""${tag}s AS (SELECT CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) AS s
        |  FROM ${prev}),
        |$tag AS (SELECT node, v / s AS v FROM $prev CROSS JOIN ${tag}s)""".stripMargin
    s"""WITH e AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |a1r AS (SELECT dst AS node,
      |    CAST(SUM(CAST(1.0 AS DECIMAL(18,9))) AS DOUBLE) AS v
      |  FROM e GROUP BY 1),
      |${norm("a1r", "a1")},
      |h1r AS (SELECT e.src AS node,
      |    CAST(SUM(CAST(a1.v AS DECIMAL(18,9))) AS DOUBLE) AS v
      |  FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1),
      |${norm("h1r", "h1")},
      |a2r AS (SELECT e.dst AS node,
      |    CAST(SUM(CAST(h1.v AS DECIMAL(18,9))) AS DOUBLE) AS v
      |  FROM e JOIN h1 ON h1.node = e.src GROUP BY 1),
      |${norm("a2r", "a2")},
      |h2r AS (SELECT e.src AS node,
      |    CAST(SUM(CAST(a2.v AS DECIMAL(18,9))) AS DOUBLE) AS v
      |  FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1),
      |${norm("h2r", "h2")},
      |au AS (SELECT 'authority' AS kind, node, v AS score FROM a2
      |  UNION ALL SELECT 'hub', node, v FROM h2),
      |rr AS (SELECT kind, node, score, ROW_NUMBER() OVER
      |    (PARTITION BY kind ORDER BY score DESC, node) AS rk
      |  FROM au)
      |SELECT kind, CAST(rk AS BIGINT) AS rk, node, ROUND(score, 6) AS score
      |FROM rr WHERE rk <= 20 ORDER BY kind, rk""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Local clustering coefficient by degree
  // --------------------------------------------------------------------------

  /** Watts–Strogatz local clustering coefficient averaged per degree
    * ([[graft.ext.Triangles.localClusteringByDegree]]) over the repeat
    * co-purchase graph — the degree-resolved closure curve next to
    * q_triangles' global number.
    */
  def qClusteringCoef(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Triangles.localClusteringByDegree(
        Inputs.repeatEdges(spark, dir), "src", "dst")
      .select(col("deg"), col("n_nodes"),
        round(col("mean_coef"), 6).as("mean_coef"))
      .orderBy(col("deg"))

  val clusteringCoefSql: String =
    s"""WITH ${Inputs.repeatEdgesSql},
      |deg AS (SELECT node, COUNT(*) AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |pn AS (SELECT node, COUNT(*) AS tri FROM
      |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |   UNION ALL SELECT z FROM tri) GROUP BY 1),
      |c AS (SELECT d.deg,
      |    2.0 * COALESCE(pn.tri, 0) / (d.deg * (d.deg - 1)) AS c
      |  FROM deg d LEFT JOIN pn USING (node) WHERE d.deg >= 2)
      |SELECT deg, COUNT(*) AS n_nodes,
      |  ROUND(CAST(SUM(CAST(c AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_coef
      |FROM c GROUP BY deg ORDER BY deg""".stripMargin

  // --------------------------------------------------------------------------
  // Truncated harmonic centrality of co-purchase hubs
  // --------------------------------------------------------------------------

  /** Harmonic centrality of the 5 smallest part ids in the repeat
    * co-purchase graph, truncated at 3 hops ([[graft.ext.GraphPaths
    * .harmonicCentrality]]) — one simultaneous multi-source BFS.
    */
  def qHarmonicCentrality(spark: SparkSession, dir: String): DataFrame =
    graft.ext.GraphPaths.harmonicCentrality(
        Inputs.copurchaseEdges(spark, dir), "src", "dst", nSeeds = 5)
      .select(col("seed"), col("n_d1"), col("n_d2"), col("n_d3"),
        round(col("harmonic"), 6).as("harmonic"))
      .orderBy(col("seed"))

  val harmonicCentralitySql: String =
    """WITH e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
      |    COUNT(DISTINCT x.l_orderkey) AS w
      |  FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
      |sym AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
      |seeds AS (SELECT DISTINCT u AS node FROM sym ORDER BY node LIMIT 5),
      |d0 AS (SELECT node AS seed, node AS id FROM seeds),
      |f1 AS (SELECT DISTINCT d0.seed, s.v AS id
      |  FROM d0 JOIN sym s ON d0.id = s.u),
      |d1 AS (SELECT seed, id FROM f1 EXCEPT SELECT seed, id FROM d0),
      |f2 AS (SELECT DISTINCT d1.seed, s.v AS id
      |  FROM d1 JOIN sym s ON d1.id = s.u),
      |d2 AS (SELECT seed, id FROM f2
      |  EXCEPT SELECT seed, id FROM d0
      |  EXCEPT SELECT seed, id FROM d1),
      |f3 AS (SELECT DISTINCT d2.seed, s.v AS id
      |  FROM d2 JOIN sym s ON d2.id = s.u),
      |d3 AS (SELECT seed, id FROM f3
      |  EXCEPT SELECT seed, id FROM d0
      |  EXCEPT SELECT seed, id FROM d1
      |  EXCEPT SELECT seed, id FROM d2),
      |cnt AS (SELECT seed,
      |    CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
      |    CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
      |    CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3
      |  FROM (SELECT seed, id, 1 AS dist FROM d1
      |    UNION ALL SELECT seed, id, 2 FROM d2
      |    UNION ALL SELECT seed, id, 3 FROM d3)
      |  GROUP BY 1)
      |SELECT seed, n_d1, n_d2, n_d3,
      |  ROUND(CAST(n_d1 AS DOUBLE) + CAST(n_d2 AS DOUBLE) / 2.0
      |    + CAST(n_d3 AS DOUBLE) / 3.0, 6) AS harmonic
      |FROM cnt ORDER BY seed""".stripMargin

  // --------------------------------------------------------------------------
  // Personalized PageRank from seed parts
  // --------------------------------------------------------------------------

  /** Proximity-to-seeds ranking over the weighted co-purchase graph
    * ([[graft.ext.PageRank.personalizedPageRank]], 3 rounds, d=0.85,
    * teleport uniform over the 3 smallest part ids): the graph-native
    * "more like these" expansion. Top-20 by score.
    */
  def qPpr(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the co-purchase pair table once: the union's two projections
    // and the two checkpoints inside personalizedPageRank (edge table, seed
    // set) otherwise each re-execute the whole basket-pair pipeline.
    val e = Materialize(Inputs.copurchaseEdges(spark, dir)).df
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"),
      col("w")))
    val seeds = sym.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(3)
    graft.ext.PageRank.personalizedPageRank(sym, "src", "dst", "w", seeds,
        "node", iterations = 3, damping = 0.85)
      .orderBy(col("ppr").desc, col("node"))
      .limit(20)
      .select(col("node"), round(col("ppr"), 6).as("ppr"))
  }

  val pprSql: String =
    """WITH e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b,
      |    COUNT(DISTINCT x.l_orderkey) AS w
      |  FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
      |sym AS (SELECT a AS src, b AS dst, w FROM e0
      |  UNION ALL SELECT b, a, w FROM e0),
      |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM sym
      |  GROUP BY 1),
      |seeds AS (SELECT DISTINCT src AS node FROM sym ORDER BY node LIMIT 3),
      |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM seeds),
      |p0 AS (SELECT node, 1.0 / (SELECT k FROM ns) AS ppr FROM seeds),
      |c1 AS (SELECT s.dst AS node,
      |    CAST(SUM(CAST(p.ppr * s.w / o.outw AS DECIMAL(28,15))) AS DOUBLE)
      |      AS s
      |  FROM sym s JOIN p0 p ON s.src = p.node JOIN outw o
      |    ON s.src = o.src GROUP BY 1),
      |p1 AS (SELECT COALESCE(c.node, sd.node) AS node,
      |    CASE WHEN sd.node IS NOT NULL
      |      THEN (1.0 - 0.85) * (1.0 / (SELECT k FROM ns)) ELSE 0.0 END
      |    + 0.85 * COALESCE(c.s, 0.0) AS ppr
      |  FROM c1 c FULL JOIN seeds sd ON c.node = sd.node),
      |c2 AS (SELECT s.dst AS node,
      |    CAST(SUM(CAST(p.ppr * s.w / o.outw AS DECIMAL(28,15))) AS DOUBLE)
      |      AS s
      |  FROM sym s JOIN p1 p ON s.src = p.node JOIN outw o
      |    ON s.src = o.src GROUP BY 1),
      |p2 AS (SELECT COALESCE(c.node, sd.node) AS node,
      |    CASE WHEN sd.node IS NOT NULL
      |      THEN (1.0 - 0.85) * (1.0 / (SELECT k FROM ns)) ELSE 0.0 END
      |    + 0.85 * COALESCE(c.s, 0.0) AS ppr
      |  FROM c2 c FULL JOIN seeds sd ON c.node = sd.node),
      |c3 AS (SELECT s.dst AS node,
      |    CAST(SUM(CAST(p.ppr * s.w / o.outw AS DECIMAL(28,15))) AS DOUBLE)
      |      AS s
      |  FROM sym s JOIN p2 p ON s.src = p.node JOIN outw o
      |    ON s.src = o.src GROUP BY 1),
      |p3 AS (SELECT COALESCE(c.node, sd.node) AS node,
      |    CASE WHEN sd.node IS NOT NULL
      |      THEN (1.0 - 0.85) * (1.0 / (SELECT k FROM ns)) ELSE 0.0 END
      |    + 0.85 * COALESCE(c.s, 0.0) AS ppr
      |  FROM c3 c FULL JOIN seeds sd ON c.node = sd.node)
      |SELECT node, ROUND(ppr, 6) AS ppr FROM p3 WHERE ppr > 0
      |ORDER BY p3.ppr DESC, node LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // HyperANF neighborhood function
  // --------------------------------------------------------------------------

  /** HyperANF over the symmetric co-purchase graph
    * ([[graft.ext.HyperAnf.neighborhoodFunction]], b=4, 3 hops): the
    * register-algebra neighborhood function N(t) = Σ_v |B(v,t)| whose growth
    * curve reads off average distance and effective diameter — all-pairs
    * reachability at O(nodes·16) state instead of quadratic BFS frontiers.
    * The oracle replays every register: init rho, three max-merge hops, the
    * per-node estimator, and the DECIMAL-pooled corpus sum.
    */
  def qHyperAnf(spark: SparkSession, dir: String): DataFrame = {
    // (r16 note: a pre-union localCheckpoint was tried and measured ~0.4 s
    // SLOWER — the union's two branches prune to the same columns, so the
    // basket-pair aggregate's exchange is already reused across them inside
    // neighborhoodFunction's own checkpoint job; the extra materialization
    // only added a job boundary)
    val e = Inputs.copurchaseEdges(spark, dir)
      .select(col("src"), col("dst"))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    graft.ext.HyperAnf.neighborhoodFunction(sym, "src", "dst",
      hops = 3, b = 4)
  }

  val hyperAnfSql: String = {
    def hop(t: Int): String = {
      val prev = s"r${t - 1}"
      s"""r$t AS (SELECT node, idx, MAX(mreg) AS mreg FROM (
        |    SELECT node, idx, mreg FROM $prev
        |    UNION ALL
        |    SELECT s.src AS node, r.idx, r.mreg
        |    FROM sym s JOIN $prev r ON s.dst = r.node)
        |  GROUP BY 1, 2)""".stripMargin
    }
    def est(t: Int): String =
      s"""pn$t AS (SELECT node, COUNT(*) AS cnt,
        |    SUM(power(2.0, -CAST(mreg AS DOUBLE))) AS zp
        |  FROM r$t GROUP BY 1),
        |es$t AS (SELECT CASE
        |    WHEN 0.673 * (16.0 * 16.0) / (16.0 - cnt + zp) <= 40.0
        |      AND (16 - cnt) > 0
        |    THEN 16.0 * ln(16.0 / CAST(16 - cnt AS DOUBLE))
        |    ELSE 0.673 * (16.0 * 16.0) / (16.0 - cnt + zp) END AS e
        |  FROM pn$t),
        |o$t AS (SELECT CAST($t AS BIGINT) AS hop,
        |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    ROUND(CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE), 6)
        |      AS nf_est,
        |    ROUND(CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS avg_ball
        |  FROM es$t)""".stripMargin
    s"""WITH e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b
      |  FROM lineitem x JOIN lineitem y
      |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
      |sym AS (SELECT a AS src, b AS dst FROM e0
      |  UNION ALL SELECT b, a FROM e0),
      |nodes AS (SELECT DISTINCT src AS node FROM sym),
      |hh AS (SELECT node,
      |    ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8))::BIGINT AS h
      |  FROM nodes),
      |r0 AS (SELECT node, h % 16 AS idx,
      |    CASE WHEN h // 16 = 0 THEN 29
      |      ELSE 29 - len(bin(h // 16)) END AS mreg
      |  FROM hh),
      |${hop(1)},
      |${hop(2)},
      |${hop(3)},
      |${est(0)},
      |${est(1)},
      |${est(2)},
      |${est(3)}
      |SELECT * FROM o0 UNION ALL SELECT * FROM o1
      |UNION ALL SELECT * FROM o2 UNION ALL SELECT * FROM o3
      |ORDER BY hop""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Deterministic random walks + clustering-depth audit (batch 6)
  // --------------------------------------------------------------------------

  private val walkSteps = 4

  /** DeepWalk-style corpus generation over the symmetrized customer↔part
    * interaction graph ([[graft.ext.RandomWalks.walks]]): 4-step
    * hash-seeded walks from every 100th customer. Deterministic by
    * construction — the oracle replays the identical md5 pick per step as
    * chained CTE joins over the same ROW_NUMBER adjacency index.
    */
  def qRandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val ed = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"), (col("l_partkey") + 10000000L).as("b"))
      .distinct()
    // both directions from ONE generator (a union of two projections would
    // re-run the orders⋈lineitem pipeline per branch)
    val sym = ed.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val starts = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 100 === 0)
    graft.ext.RandomWalks.walks(sym, "src", "dst", starts, "c_custkey",
        steps = walkSteps)
      .orderBy(col("walker"), col("step"))
  }

  val randomWalksSql: String = {
    val stepCtes = (1 to walkSteps).map { t =>
      val prev = s"s${t - 1}"
      s"""s$t AS (SELECT $prev.walker, a.dst AS cur FROM $prev JOIN adj a
         |  ON $prev.cur = a.src
         |  AND a.pos = ('0x' || substr(md5($prev.walker::VARCHAR || ':$t:' ||
         |    $prev.cur::VARCHAR), 1, 8))::BIGINT % a.deg)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to walkSteps).map { t =>
      s"UNION ALL SELECT walker, $t AS step, cur AS node FROM s$t"
    }.mkString("\n")
    s"""WITH ed AS (SELECT DISTINCT o_custkey AS a, l_partkey + 10000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT a AS src, b AS dst FROM ed
       |  UNION SELECT b, a FROM ed),
       |adj AS (SELECT src, dst,
       |  ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS pos,
       |  COUNT(*) OVER (PARTITION BY src) AS deg FROM sym),
       |s0 AS (SELECT c_custkey AS walker, c_custkey AS cur FROM customer
       |  WHERE c_custkey % 100 = 0),
       |$stepCtes
       |SELECT walker, 0 AS step, walker AS node FROM s0
       |$unions
       |ORDER BY walker, step""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Temporal-graph reachability + cascade motifs (batch 7)
  // --------------------------------------------------------------------------

  private val reachSeedArr = 8500L  // epoch day ~1993-04 — mid data range,
                                    // so the time-respecting filter bites

  private val cascadeWindow = 28

  private def datedEdges(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).as("d"))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))

  /** Time-respecting earliest-arrival reachability
    * ([[graft.ext.TemporalGraph.earliestArrival]]): 3 hops over the dated
    * customer↔part contact graph from every 500th customer active on epoch
    * day 8500 — each reached node reports the earliest day any
    * time-increasing path delivers to it. The oracle replays the min-merge
    * rounds as chained CTEs.
    */
  def qTemporalReach(spark: SparkSession, dir: String): DataFrame = {
    val ed = datedEdges(spark, dir)
      .select(col("o_custkey").as("a"), (col("l_partkey") + 10000000L).as("b"),
        col("d"))
      .distinct()
    val sym = ed.select(explode(array(
        struct(col("a").as("u"), col("b").as("v"), col("d")),
        struct(col("b").as("u"), col("a").as("v"), col("d")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.d").as("d"))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 500 === 0)
      .select(col("c_custkey").as("node"), lit(reachSeedArr).as("arr"))
    graft.ext.TemporalGraph.earliestArrival(sym, "u", "v", "d",
        seeds, "node", "arr", hops = 3)
      .orderBy(col("node"))
  }

  val temporalReachSql: String = {
    val rounds = (1 to 3).map { h =>
      val prev = s"a${h - 1}"
      s"""r$h AS (SELECT v AS node, MIN(d) AS arr FROM $prev
         |  JOIN sym ON $prev.node = sym.u AND sym.d >= $prev.arr GROUP BY 1),
         |a$h AS (SELECT node, MIN(arr) AS arr FROM
         |  (SELECT * FROM $prev UNION ALL SELECT * FROM r$h) GROUP BY 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT DISTINCT o_custkey AS a, l_partkey + 10000000 AS b,
       |    date_diff('day', DATE '1970-01-01', o_orderdate) AS d
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT a AS u, b AS v, d FROM ed UNION SELECT b, a, d FROM ed),
       |a0 AS (SELECT c_custkey AS node, CAST($reachSeedArr AS BIGINT) AS arr
       |  FROM customer WHERE c_custkey % 500 = 0),
       |$rounds
       |SELECT node, arr FROM a3 ORDER BY node""".stripMargin
  }

  /** Co-purchase cascade wedges ([[graft.ext.TemporalGraph.cascadeWedges]]):
    * customer b adopts a part ≤ 28 days after customer a's first adoption —
    * counted per whole-week gap bucket. The temporal-motif primitive of
    * influence analysis, bounded per item, never actor².
    */
  def qCascade(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TemporalGraph.cascadeWedges(
        datedEdges(spark, dir).select(col("o_custkey").as("actor"),
          col("l_partkey").as("item"), col("d")),
        "actor", "item", "d", windowDays = cascadeWindow)
      .orderBy(col("gap_week"))

  val cascadeSql: String =
    s"""WITH t AS (SELECT o_custkey AS actor, l_partkey AS item,
       |    MIN(date_diff('day', DATE '1970-01-01', o_orderdate)) AS d
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
       |w AS (SELECT l.item, (r.d - l.d - 1) // 7 AS gap_week
       |  FROM t l JOIN t r ON l.item = r.item AND l.actor <> r.actor
       |    AND r.d > l.d AND r.d <= l.d + $cascadeWindow)
       |SELECT gap_week, COUNT(*) AS n_wedges, COUNT(DISTINCT item) AS n_items
       |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic Luby MIS over the symmetrized customer↔part contact
    * graph ([[graft.ext.Mis.luby]], 3 rounds): every node reports
    * mis / dominated / undecided with its decision round. The oracle
    * replays the identical md5 priorities round by round.
    */
  def qMis(spark: SparkSession, dir: String): DataFrame = {
    val ed = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"), (col("l_partkey") + 10000000L).as("b"))
    // no distinct here: luby() dedups after symmetrization — one shuffle
    // over 2|rows| instead of distinct-then-distinct.
    val sym = ed.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    graft.ext.Mis.luby(sym, "src", "dst", rounds = 3)
      .orderBy(col("node"))
  }

  val misSql: String = {
    val prioN = "(('0x' || substr(md5(a.node::VARCHAR), 1, 8))::BIGINT" +
      " * 2147483648 + a.node)"
    val prioV = "(('0x' || substr(md5(ae.v::VARCHAR), 1, 8))::BIGINT" +
      " * 2147483648 + ae.v)"
    // AS MATERIALIZED: each act_r is referenced 4x by round r+1; inlining
    // would re-evaluate the whole prefix exponentially (DuckDB temp blowup
    // at sf0.1).
    val roundCtes = (1 to 3).map { r =>
      val act = s"act${r - 1}"
      s"""ae$r AS (SELECT e.u, e.v FROM e
         |  JOIN $act x ON e.u = x.node JOIN $act y ON e.v = y.node),
         |nb$r AS (SELECT ae.u, MIN($prioV) AS minp FROM ae$r ae GROUP BY 1),
         |mis$r AS MATERIALIZED (SELECT a.node FROM $act a
         |  LEFT JOIN nb$r ON a.node = nb$r.u
         |  WHERE nb$r.minp IS NULL OR $prioN < nb$r.minp),
         |dom$r AS MATERIALIZED (SELECT DISTINCT e.v AS node FROM e
         |  JOIN mis$r m ON e.u = m.node JOIN $act y ON e.v = y.node),
         |act$r AS MATERIALIZED (SELECT node FROM $act
         |  EXCEPT SELECT node FROM mis$r
         |  EXCEPT SELECT node FROM dom$r)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to 3).flatMap { r =>
      Seq(s"UNION ALL SELECT node, 'mis' AS status, $r AS round FROM mis$r",
        s"UNION ALL SELECT node, 'dominated', $r FROM dom$r")
    }.mkString("\n")
    s"""WITH ed AS (SELECT DISTINCT o_custkey AS a, l_partkey + 10000000 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT a AS u, b AS v FROM ed
       |  UNION SELECT b, a FROM ed),
       |act0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
       |$roundCtes
       |SELECT * FROM (
       |SELECT node, 'undecided' AS status, 0 AS round FROM act3
       |$unions)
       |ORDER BY node""".stripMargin
  }

  /** 4-truss of the repeat-co-purchase part graph
    * ([[graft.ext.Truss.ktruss]], k = 4, 4 peel rounds): every surviving
    * edge closes ≥ 2 triangles inside the surviving subgraph; peeled edges
    * carry the round that dropped them. The oracle replays the identical
    * simultaneous peel with materialized per-round CTEs.
    */
  def qKtruss(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Truss.ktruss(
        Inputs.repeatEdges(spark, dir), "src", "dst", k = 4,
        rounds = 4)
      .orderBy(col("a"), col("b"))

  val ktrussSql: String = {
    val roundCtes = (1 to 4).map { r =>
      val e = s"e${r - 1}"
      s"""tri$r AS MATERIALIZED (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $e e1 JOIN $e e2 ON e1.b = e2.a
         |  JOIN $e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |supp$r AS (SELECT a, b, COUNT(*) AS supp FROM (
         |    SELECT x AS a, y AS b FROM tri$r
         |    UNION ALL SELECT x, z FROM tri$r
         |    UNION ALL SELECT y, z FROM tri$r) GROUP BY 1, 2),
         |tag$r AS MATERIALIZED (SELECT e.a, e.b,
         |    COALESCE(s.supp, 0) >= 2 AS keep
         |  FROM $e e LEFT JOIN supp$r s ON e.a = s.a AND e.b = s.b),
         |e$r AS (SELECT a, b FROM tag$r WHERE keep)""".stripMargin
    }.mkString(",\n")
    val removed = (1 to 4).map { r =>
      s"UNION ALL SELECT a, b, 'removed', $r FROM tag$r WHERE NOT keep"
    }.mkString("\n")
    s"""WITH e0 AS MATERIALIZED (SELECT a, b FROM (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2)),
       |$roundCtes
       |SELECT * FROM (
       |SELECT a, b, 'kept' AS status, 0 AS round FROM e4
       |$removed)
       |ORDER BY a, b""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Maximal matching + encoding advisor (batch 10)
  // --------------------------------------------------------------------------

  /** Deterministic greedy maximal matching over the repeat-co-purchase
    * graph ([[graft.ext.Matching.maximalMatching]], 3 rounds): every edge
    * reports matched / dropped (an endpoint taken) / unmatched with its
    * decision round. The oracle replays the identical md5-string
    * priorities round by round.
    */
  def qMatching(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Matching.maximalMatching(
        Inputs.repeatEdges(spark, dir), "src", "dst", rounds = 3)
      .orderBy(col("a"), col("b"))

  val matchingSql: String = {
    val prio = "md5(a::VARCHAR || ':' || b::VARCHAR) || ':' ||" +
      " lpad(a::VARCHAR, 12, '0') || ':' || lpad(b::VARCHAR, 12, '0')"
    val roundCtes = (1 to 3).map { r =>
      val e = s"e${r - 1}"
      s"""nm$r AS (SELECT v, MIN(p) AS mp FROM (
         |    SELECT a AS v, p FROM $e UNION ALL SELECT b, p FROM $e)
         |  GROUP BY 1),
         |tag$r AS MATERIALIZED (SELECT e.a, e.b, e.p,
         |    (e.p = na.mp AND e.p = nb.mp) AS win
         |  FROM $e e JOIN nm$r na ON e.a = na.v JOIN nm$r nb ON e.b = nb.v),
         |mn$r AS MATERIALIZED (SELECT a AS v FROM tag$r WHERE win
         |  UNION SELECT b FROM tag$r WHERE win),
         |dec$r AS MATERIALIZED (SELECT a, b,
         |    CASE WHEN win THEN 'matched' ELSE 'dropped' END AS status
         |  FROM tag$r WHERE win OR a IN (SELECT v FROM mn$r)
         |    OR b IN (SELECT v FROM mn$r)),
         |e$r AS (SELECT a, b, p FROM tag$r WHERE NOT win
         |  AND a NOT IN (SELECT v FROM mn$r)
         |  AND b NOT IN (SELECT v FROM mn$r))""".stripMargin
    }.mkString(",\n")
    val decs = (1 to 3).map { r =>
      s"SELECT a, b, status, $r AS round FROM dec$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH base AS (SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
       |e0 AS MATERIALIZED (SELECT a, b, $prio AS p FROM base),
       |$roundCtes,
       |alldec AS ($decs)
       |SELECT a, b, status, round FROM alldec
       |UNION ALL
       |SELECT e0.a, e0.b, 'unmatched', 0 FROM e0
       |  LEFT JOIN (SELECT DISTINCT a, b FROM alldec) d
       |  ON e0.a = d.a AND e0.b = d.b WHERE d.a IS NULL
       |ORDER BY a, b""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Jones-Plassmann coloring (batch 11)
  // --------------------------------------------------------------------------

  /** Deterministic Jones-Plassmann coloring of the repeat-co-purchase
    * graph ([[graft.ext.Coloring.jonesPlassmann]], 4 sweeps): every node
    * reports its color and the sweep that assigned it (−1/0 if the budget
    * ran out). The oracle replays the identical priorities, winner rule,
    * and relational smallest-free-color pick round by round.
    */
  def qColoring(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Coloring.jonesPlassmann(
        Inputs.repeatEdges(spark, dir), "src", "dst", rounds = 4)
      .orderBy(col("node"))

  val coloringSql: String = {
    def prio(x: String) =
      s"(('0x' || substr(md5($x::VARCHAR), 1, 8))::BIGINT * 2147483648 + $x)"
    val roundCtes = (1 to 4).map { r =>
      val ea = s"ea${r - 1}"
      val act = s"act${r - 1}"
      val colored = s"colored${r - 1}"
      s"""nb$r AS (SELECT u, MIN(${prio("v")}) AS minp FROM $ea GROUP BY 1),
         |win$r AS MATERIALIZED (SELECT n.node FROM $act n
         |  LEFT JOIN nb$r ON n.node = nb$r.u
         |  WHERE minp IS NULL OR ${prio("n.node")} < minp),
         |used$r AS MATERIALIZED (SELECT s.u AS wnode, c.color FROM sym s
         |  JOIN win$r w ON s.u = w.node JOIN $colored c ON s.v = c.node
         |  GROUP BY 1, 2),
         |nu$r AS (SELECT w.node, COALESCE(x.n, 0) AS n FROM win$r w
         |  LEFT JOIN (SELECT wnode, COUNT(*) AS n FROM used$r GROUP BY 1) x
         |  ON w.node = x.wnode),
         |cand$r AS (SELECT node, UNNEST(generate_series(0, n)) AS cand
         |  FROM nu$r),
         |pick$r AS MATERIALIZED (SELECT c.node,
         |    CAST(MIN(c.cand) AS INT) AS color, $r AS round
         |  FROM cand$r c LEFT JOIN used$r u2
         |  ON c.node = u2.wnode AND c.cand = u2.color
         |  WHERE u2.wnode IS NULL GROUP BY 1),
         |colored$r AS MATERIALIZED (SELECT node, color, round FROM $colored
         |  UNION ALL SELECT node, color, round FROM pick$r),
         |act$r AS MATERIALIZED (SELECT node FROM $act
         |  EXCEPT SELECT node FROM pick$r),
         |ea$r AS MATERIALIZED (SELECT e.u, e.v FROM $ea e
         |  JOIN act$r x ON e.u = x.node JOIN act$r y ON e.v = y.node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2),
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
       |  UNION ALL SELECT b, a FROM e0),
       |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym),
       |colored0 AS (SELECT node, 0 AS color, 0 AS round FROM nodes
       |  WHERE 1 = 0),
       |act0 AS (SELECT node FROM nodes),
       |ea0 AS (SELECT u, v FROM sym),
       |$roundCtes
       |SELECT node, color, round FROM colored4
       |UNION ALL
       |SELECT node, -1 AS color, 0 AS round FROM act4
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Weighted SSSP + Merkle drill-down (batch 13)
  // --------------------------------------------------------------------------

  /** Weighted single-source shortest paths over the repeat-co-purchase
    * graph ([[graft.ext.GraphPaths.ssspWeighted]], 4 Bellman-Ford
    * sweeps): edge cost = inverse co-purchase affinity
    * (greatest(1, 1000 div support)), seed = the busiest hub. All-integer
    * distances; the oracle replays each min-merge sweep.
    */
  def qSssp(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val weighted = l.groupBy(col("ok")).agg(collect_set(col("pk")).as("parts"))
      .select(explode(col("parts")).as("src"), col("parts"))
      .select(col("src"), explode(col("parts")).as("dst"))
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= 2)
      .select(col("src"), col("dst"),
        expr("greatest(1, 1000 div s)").as("w"))
    graft.ext.GraphPaths.ssspWeighted(weighted, "src", "dst", "w",
      rounds = 4)
  }

  val ssspSql: String = {
    val roundCtes = (1 to 4).map { r =>
      s"""d$r AS MATERIALIZED (SELECT id, MIN(d) AS d FROM (
         |    SELECT id, d FROM d${r - 1}
         |    UNION ALL
         |    SELECT bo.v, dd.d + bo.w FROM bt bo
         |    JOIN d${r - 1} dd ON bo.u = dd.id)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT a, b, GREATEST(1, 1000 // s) AS w FROM (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b,
       |    COUNT(DISTINCT x.l_orderkey) AS s
       |  FROM lineitem x JOIN lineitem y
       |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(DISTINCT x.l_orderkey) >= 2)),
       |bt AS MATERIALIZED (SELECT a AS u, b AS v, w FROM e0
       |  UNION ALL SELECT b, a, w FROM e0),
       |seed AS (SELECT u AS node FROM bt GROUP BY 1
       |  ORDER BY COUNT(*) DESC, u LIMIT 1),
       |d0 AS (SELECT node AS id, CAST(0 AS BIGINT) AS d FROM seed),
       |$roundCtes
       |SELECT id AS node, d AS dist FROM d4 ORDER BY node""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_pagerank", qPagerank, pagerankSql),
    QuerySpec("q_triangles", qTriangles, trianglesSql),
    QuerySpec("q_assortativity", qAssortativity, assortativitySql),
    QuerySpec("q_bfs_levels", qBfsLevels, bfsLevelsSql),
    QuerySpec("q_kcore", qKcore, kcoreSql),
    QuerySpec("q_graph_drift", qGraphDrift, graphDriftSql),
    QuerySpec("q_copurchase_cc", qCopurchaseCc, copurchaseCcSql),
    QuerySpec("q_link_pred", qLinkPred, linkPredSql),
    QuerySpec("q_communities", qCommunities, communitiesSql),
    QuerySpec("q_modularity", qModularity, modularitySql),
    QuerySpec("q_percolation", qPercolation, percolationSql),
    QuerySpec("q_degree_tail", qDegreeTail, degreeTailSql),
    QuerySpec("q_hits", qHits, hitsSql),
    QuerySpec("q_clustering_coef", qClusteringCoef, clusteringCoefSql),
    QuerySpec("q_ppr", qPpr, pprSql),
    QuerySpec("q_harmonic_centrality", qHarmonicCentrality, harmonicCentralitySql),
    QuerySpec("q_hyperanf", qHyperAnf, hyperAnfSql),
    QuerySpec("q_random_walks", qRandomWalks, randomWalksSql),
    QuerySpec("q_temporal_reach", qTemporalReach, temporalReachSql),
    QuerySpec("q_cascade", qCascade, cascadeSql),
    QuerySpec("q_mis", qMis, misSql),
    QuerySpec("q_ktruss", qKtruss, ktrussSql),
    QuerySpec("q_matching", qMatching, matchingSql),
    QuerySpec("q_coloring", qColoring, coloringSql),
    QuerySpec("q_sssp", qSssp, ssspSql),
  )
}
