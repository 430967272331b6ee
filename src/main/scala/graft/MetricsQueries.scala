package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._
import graft.metrics._

/** Recommender metrics over the orders-as-interactions shape: the reference's
  * long tail, coverage, novelty, personalization and intra-list similarity,
  * the accuracy family (precision/recall, MRR, NDCG, MAP, ERR), popularity
  * and calibration gauges, candidate generation and rank comparison.
  */
object MetricsQueries extends QueryFamily("metrics") {
  import Inputs.{recommendations, recsSql, repeatEdges, repeatEdgesSql, sales, salesSql}

  // ---------------------------------------------------------------------------
  // Queries (SURVEY.md §2.1 P1-P8)
  // ---------------------------------------------------------------------------

  /** P1 long_tail_plot → data-out long-tail distribution over lineitem part volume. */
  def qLongTail(spark: SparkSession, dir: String): DataFrame =
    LongTail.longTailDF(Tables.lineitem(spark, dir), "l_partkey", headPct = 0.5)
      .withColumnRenamed("rank", "item_rank")
      .withColumn("pct_of_total", round(col("pct_of_total"), 6))
      .orderBy(col("item_rank"))

  /** P2 coverage: distinct returned-flagged lineitem parts vs the part catalog. */
  def qCoverage(spark: SparkSession, dir: String): DataFrame =
    Coverage.coverageDF(
      Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R"),
      Tables.part(spark, dir), "l_partkey", "p_partkey")

  /** P5 novelty: per-user mean self-information of recommended items. */
  def qNovelty(spark: SparkSession, dir: String): DataFrame =
    Novelty.perUserMsi(sales(spark, dir), recommendations(spark, dir),
        u = None, colUser = "user_id", colItem = "item_id")
      .select(col("user_id"), round(col("msi"), 6).as("msi"))
      .orderBy(col("user_id"))

  /** P5 novelty, scalar form: mean msi over users (reference returns this first). */
  def qNoveltyMean(spark: SparkSession, dir: String): DataFrame =
    Novelty.perUserMsi(sales(spark, dir), recommendations(spark, dir),
        u = None, colUser = "user_id", colItem = "item_id")
      .agg(count(lit(1)).as("n_users"), round(avg(col("msi")), 6).as("mean_msi"))

  /** P6 personalization over one nation's customers (all-pairs cosine is O(users²);
    * the unbounded path is [[Personalization.personalizationDimsum]] — SURVEY.md §7.4).
    */
  def qPersonalization(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .filter(col("c_nationkey") === 1)
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"))
    Personalization.personalizationDF(df, "user_id", "item_id")
  }

  /** P8 intra-list similarity: per customer, cosine similarity among their purchased
    * parts represented as brand×quantity vectors.
    */
  def qIntraList(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"),
        col("p_brand").as("feature"), col("l_quantity").as("value"))
    IntraList.intraListSimilarity(src, "user_id", "item_id", "feature", "value")
      .select(col("user_id"), col("n_items"), round(col("ils"), 6).as("ils"))
      .orderBy(col("user_id"))
  }

  /** Per-user precision/recall of the urgent-order "recommendations" against
    * finalized-order "sales" ([[RankingMetrics.precisionRecall]]) — the
    * accuracy side of the metric family (coverage/novelty/personalization
    * measure catalog reach and diversity).
    */
  def qRecPrecision(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.precisionRecall(recommendations(spark, dir), sales(spark, dir),
        "user_id", "item_id")
      .orderBy(col("user"))

  /** Mean reciprocal rank of the first sales hit in each user's
    * frequency-ranked recommendation list ([[RankingMetrics.meanReciprocalRank]]).
    */
  def qMrr(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.meanReciprocalRank(recommendations(spark, dir),
      sales(spark, dir), "user_id", "item_id")

  /** NDCG@10 of the urgent-order recommendations vs finalized-order sales
    * ([[RankingMetrics.ndcgAtK]]) — completes the accuracy family
    * (precision/recall, MRR, NDCG).
    */
  def qNdcg(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.ndcgAtK(recommendations(spark, dir), sales(spark, dir),
        "user_id", "item_id", k = 10)
      .orderBy(col("user"))

  /** Catalog coverage at k: the share of the part catalog that appears in ANY
    * user's frequency-ranked top-3 recommendation list — the coverage@k
    * refinement of P2's all-recommendations coverage (a recommender can touch
    * the whole catalog in its tails while its HEAD — what users actually see —
    * covers almost nothing; this measures the head).
    */
  def qCoverageAtK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("item_id"))
    val topK = recommendations(spark, dir)
      .groupBy(col("user_id"), col("item_id")).agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
    val nTop = topK.agg(countDistinct(col("item_id")).as("n_rec_items"))
    val nCat = Tables.part(spark, dir)
      .agg(countDistinct(col("p_partkey")).as("n_catalog"))
    nTop.crossJoin(nCat)
      .select(lit(3).as("k"), col("n_rec_items"), col("n_catalog"),
        round(col("n_rec_items").cast("double") / col("n_catalog"), 6)
          .as("coverage_at_k"))
  }

  /** Gini concentration of item interaction volume — the catalog-inequality
    * companion of P1's long-tail curve (0 = uniform attention, → 1 = all
    * volume on one item). Exact closed form on the ascending volume ranking:
    * `G = 2·Σ(rank·vol) / (n·Σvol) − (n+1)/n`, with the rank from
    * [[graft.ext.GlobalRank.globalRowNumber]] — no single-task sort — and
    * every sum an exact integer, so both engines produce identical doubles.
    */
  def qGini(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("volume"))
    val ranked = graft.ext.GlobalRank.globalRowNumber(
      counts, Seq(col("volume"), col("l_partkey")))
    ranked
      .agg(count(lit(1)).as("n"), sum(col("volume")).as("s"),
        sum(col("rn") * col("volume")).as("srw"))
      .select(col("n"), col("s"),
        round(lit(2.0) * col("srw") / (col("n") * col("s")) -
          (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
  }

  /** Temporal leave-one-out evaluation split over the event log
    * ([[Splits.leaveOneOutSplit]]): each user's last event is the test point.
    * Reported as per-split totals (the assignment itself is row-level).
    */
  def qLooSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_id"))
    Splits.leaveOneOutSplit(e, "user_id", "ms", "event_id")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("split"))
  }

  val looSplitSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts DESC, event_id DESC) = 1
      |      THEN 'test' ELSE 'train' END AS split
      |  FROM events)
      |SELECT split, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Market-basket analysis: co-purchased part pairs ranked by lift
    * (`P(ab) / (P(a)·P(b))` over orders) with a support floor — the
    * "frequently bought together" surface. The within-order self-join is
    * bounded by basket size (≤ items-per-order choose 2 — whale baskets cap
    * via a per-order item limit if a corpus has them); counts partial-aggregate
    * map-side; the cut is TakeOrderedAndProject.
    */
  def qMarketBasket(spark: SparkSession, dir: String): DataFrame = {
    // basket form: one order-keyed set aggregate feeds pair generation, item
    // frequencies AND the order count — checkpointed because three branches
    // of one aggregate would otherwise each re-run it (the plan-shape trap)
    val baskets = Materialize(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .groupBy(col("okey")).agg(collect_set(col("item")).as("items"))).df
    val pairs = baskets
      .select(explode(col("items")).as("item_a"), col("items"))
      .select(col("item_a"), explode(col("items")).as("item_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
    val itemN = baskets.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_i"))
    val total = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .filter(col("n_ab") >= 3)
      .join(itemN.select(col("item").as("item_a"), col("n_i").as("n_a")), "item_a")
      .join(itemN.select(col("item").as("item_b"), col("n_i").as("n_b")), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        round(col("n_ab").cast("double") * col("n_orders") /
          (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(20)
  }

  val marketBasketSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
      |p AS (SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
      |  FROM li a JOIN li b ON a.okey = b.okey AND a.item < b.item GROUP BY 1, 2),
      |i AS (SELECT item, COUNT(*) AS n_i FROM li GROUP BY 1),
      |t AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM li)
      |SELECT item_a, item_b, n_ab,
      |  ROUND(n_ab * 1.0 * n_orders / (n_a * 1.0 * n_b), 6) AS lift
      |FROM p
      |JOIN (SELECT item AS item_a, n_i AS n_a FROM i) a USING (item_a)
      |JOIN (SELECT item AS item_b, n_i AS n_b FROM i) b USING (item_b)
      |CROSS JOIN t
      |WHERE n_ab >= 3
      |ORDER BY lift DESC, item_a, item_b LIMIT 20""".stripMargin

  /** Exponentially time-decayed popularity: each order contributes
    * `exp(−Δdays/30)` against the corpus's latest order date — the freshness-
    * weighted ranking signal (a trending-items surface). The decay anchor is
    * the max order date (data-derived, so the query is reproducible at any
    * time); per-item decayed weights sum through DECIMAL(28,12) accumulators
    * (order-independent; each exp term is engine-identical double arithmetic
    * on exact integer day deltas).
    */
  def qDecayedPopularity(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (unix_timestamp(col("o_orderdate")) / 86400L)
        .cast("long").as("day"))
    val anchor = o.agg(max(col("day")).as("max_day"))
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(anchor))
      .select(col("l_partkey"),
        exp((col("day") - col("max_day")).cast("double") / 30.0)
          .cast("decimal(28,12)").as("w"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("w")).cast("double"), 6).as("decayed_pop"))
      .orderBy(col("decayed_pop").desc, col("l_partkey"))
      .limit(20)
  }

  val decayedPopularitySql: String =
    """WITH o AS (SELECT o_orderkey,
      |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day FROM orders),
      |a AS (SELECT MAX(day) AS max_day FROM o),
      |w AS (SELECT l_partkey,
      |    CAST(exp((day - max_day) * 1.0 / 30.0) AS DECIMAL(28,12)) AS w
      |  FROM lineitem JOIN o ON l_orderkey = o_orderkey CROSS JOIN a),
      |g AS (SELECT l_partkey, COUNT(*) AS n_lines,
      |    ROUND(CAST(SUM(w) AS DOUBLE), 6) AS decayed_pop FROM w GROUP BY 1)
      |SELECT l_partkey, n_lines, decayed_pop FROM g
      |ORDER BY decayed_pop DESC, l_partkey LIMIT 20""".stripMargin

  // -------------------------------------------------------------------------
  // Ranking-metric family completion
  // -------------------------------------------------------------------------

  /** MAP@10 per user: average precision of the frequency-ranked urgent-order
    * recommendations against finalized-order actuals.
    */
  def qMapAtK(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.mapAtK(recommendations(spark, dir), sales(spark, dir),
        "user_id", "item_id", k = 10)
      .orderBy(col("user"))

  val mapAtKSql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |rc AS (SELECT user_id AS "user", item_id AS item, COUNT(*) AS n
      |       FROM recs GROUP BY 1, 2),
      |rk AS (SELECT "user", item,
      |    ROW_NUMBER() OVER (PARTITION BY "user" ORDER BY n DESC, item) AS rnk
      |  FROM rc),
      |topk AS (SELECT * FROM rk WHERE rnk <= 10),
      |a AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM sales),
      |f AS (SELECT t."user", t.rnk,
      |    CASE WHEN a.item IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM topk t LEFT JOIN a ON t."user" = a."user" AND t.item = a.item),
      |c AS (SELECT "user", rnk, hit,
      |    SUM(hit) OVER (PARTITION BY "user" ORDER BY rnk) AS cum FROM f),
      |t AS (SELECT "user", SUM(hit) AS n_hits_at_k,
      |    SUM(CASE WHEN hit = 1 THEN cum * (2520 // rnk) ELSE 0 END) AS ap_num
      |  FROM c GROUP BY 1),
      |na AS (SELECT "user", COUNT(*) AS n_actual FROM a GROUP BY 1),
      |fin AS (SELECT na."user", na.n_actual,
      |    CAST(COALESCE(t.n_hits_at_k, 0) AS BIGINT) AS n_hits_at_k,
      |    CAST(COALESCE(t.ap_num, 0) AS BIGINT) AS s,
      |    2520 * LEAST(10, na.n_actual) AS d
      |  FROM na LEFT JOIN t ON na."user" = t."user")
      |SELECT "user", n_actual, n_hits_at_k,
      |  CAST((2000000 * s + d) // (2 * d) AS DOUBLE) / 1000000.0 AS ap
      |FROM fin ORDER BY "user"""".stripMargin

  /** Corpus hit-rate@10 + ARHR of the same rec/actual pair — 1 row. */
  def qHitRate(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.hitRateAtK(recommendations(spark, dir), sales(spark, dir),
      "user_id", "item_id", k = 10)

  val hitRateSql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |rc AS (SELECT user_id AS "user", item_id AS item, COUNT(*) AS n
      |       FROM recs GROUP BY 1, 2),
      |rk AS (SELECT "user", item,
      |    ROW_NUMBER() OVER (PARTITION BY "user" ORDER BY n DESC, item) AS rnk
      |  FROM rc),
      |a AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM sales),
      |fh AS (SELECT rk."user", MIN(rk.rnk) AS first_hit
      |  FROM rk JOIN a ON rk."user" = a."user" AND rk.item = a.item
      |  WHERE rk.rnk <= 10 GROUP BY 1),
      |u AS (SELECT DISTINCT "user" FROM rc)
      |SELECT 10 AS k, COUNT(*) AS n_users, COUNT(fh.first_hit) AS n_users_hit,
      |  ROUND(COUNT(fh.first_hit) * 1.0 / COUNT(*), 6) AS hit_rate,
      |  ROUND(CAST(SUM(COALESCE(CAST(1.0 / fh.first_hit AS DECIMAL(18,8)),
      |      CAST(0 AS DECIMAL(18,8)))) AS DOUBLE) / COUNT(*), 6) AS arhr
      |FROM u LEFT JOIN fh ON u."user" = fh."user"""".stripMargin

  /** Serendipity per user: relevant-AND-unexpected share of recommendations,
    * "expected" = the 100 most-popular sales items.
    */
  def qSerendipity(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.serendipity(recommendations(spark, dir), sales(spark, dir),
        "user_id", "item_id", topN = 100)
      .orderBy(col("user"))

  val serendipitySql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |r AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM recs),
      |a AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM sales),
      |pop AS (SELECT item FROM a GROUP BY item
      |        ORDER BY COUNT(DISTINCT "user") DESC, item LIMIT 100),
      |h AS (SELECT r."user", r.item FROM r JOIN a
      |      ON r."user" = a."user" AND r.item = a.item),
      |nh AS (SELECT "user", COUNT(*) AS n_hits FROM h GROUP BY 1),
      |ns AS (SELECT "user", COUNT(*) AS n_serendipitous FROM h
      |       WHERE item NOT IN (SELECT item FROM pop) GROUP BY 1),
      |nr AS (SELECT "user", COUNT(*) AS n_recs FROM r GROUP BY 1)
      |SELECT nr."user", nr.n_recs, COALESCE(nh.n_hits, 0) AS n_hits,
      |  COALESCE(ns.n_serendipitous, 0) AS n_serendipitous,
      |  ROUND(COALESCE(ns.n_serendipitous, 0) * 1.0 / nr.n_recs, 6) AS serendipity
      |FROM nr LEFT JOIN nh ON nr."user" = nh."user"
      |LEFT JOIN ns ON nr."user" = ns."user"
      |ORDER BY nr."user"""".stripMargin

  /** Calibration overlap per user: how well the brand mix of recommendations
    * matches the brand mix of purchase history (1 − total-variation distance).
    */
  def qCalibration(spark: SparkSession, dir: String): DataFrame = {
    def withBrand(df: DataFrame, spark: SparkSession): DataFrame =
      df.join(Tables.part(spark, dir), col("item_id") === col("p_partkey"))
        .select(col("user_id"), col("p_brand").as("brand"))
    RankingMetrics.calibrationOverlap(
        withBrand(sales(spark, dir), spark),
        withBrand(recommendations(spark, dir), spark),
        "user_id", "brand")
      .orderBy(col("user"))
  }

  val calibrationSql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |hb AS (SELECT s.user_id AS "user", p.p_brand AS feat, COUNT(*) AS n
      |       FROM sales s JOIN part p ON s.item_id = p.p_partkey GROUP BY 1, 2),
      |rb AS (SELECT r.user_id AS "user", p.p_brand AS feat, COUNT(*) AS n
      |       FROM recs r JOIN part p ON r.item_id = p.p_partkey GROUP BY 1, 2),
      |ht AS (SELECT "user", SUM(n) AS tot, COUNT(*) AS n_feat_hist FROM hb GROUP BY 1),
      |rt AS (SELECT "user", SUM(n) AS tot, COUNT(*) AS n_feat_rec FROM rb GROUP BY 1),
      |u AS (SELECT ht."user", ht.tot AS th, rt.tot AS tr,
      |       ht.n_feat_hist, rt.n_feat_rec
      |  FROM ht JOIN rt ON ht."user" = rt."user"),
      |ov AS (SELECT hb."user",
      |       CAST(SUM(LEAST(hb.n * u.tr, rb.n * u.th)) AS BIGINT) AS num
      |  FROM hb JOIN rb ON hb."user" = rb."user" AND hb.feat = rb.feat
      |  JOIN u ON hb."user" = u."user" GROUP BY 1)
      |SELECT u."user", u.n_feat_hist, u.n_feat_rec,
      |  ROUND(COALESCE(ov.num, 0) * 1.0 / (u.th * u.tr), 6) AS overlap
      |FROM u LEFT JOIN ov ON u."user" = ov."user"
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Item-item CF + co-purchase graph
  // -------------------------------------------------------------------------

  /** "Customers who bought X also bought Y": top-3 cosine neighbors per part
    * over finalized-order baskets (min item support 5, whale-basket cap 50).
    */
  def qItemCf(spark: SparkSession, dir: String): DataFrame =
    ItemCF.itemNeighbors(sales(spark, dir), "user_id", "item_id",
        k = 3, minSupport = 5, maxBasket = 50)
      .orderBy(col("item_id"), col("rnk"))

  val itemCfSql: String =
    s"""WITH $salesSql,
      |b0 AS (SELECT DISTINCT user_id, item_id FROM sales),
      |ku AS (SELECT user_id FROM b0 GROUP BY 1 HAVING COUNT(*) <= 50),
      |ni AS (SELECT item_id, COUNT(*) AS n_users
      |       FROM b0 JOIN ku USING (user_id) GROUP BY 1 HAVING COUNT(*) >= 5),
      |b AS (SELECT b0.user_id, b0.item_id, ni.n_users
      |      FROM b0 JOIN ku USING (user_id) JOIN ni USING (item_id)),
      |co AS (SELECT x.item_id AS i, y.item_id AS j,
      |    x.n_users AS ni, y.n_users AS nj, COUNT(*) AS n_both
      |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.item_id < y.item_id
      |  GROUP BY 1, 2, 3, 4),
      |d AS (SELECT i AS item_id, j AS neighbor_id, ni AS n_item,
      |        nj AS n_neighbor, n_both FROM co
      |      UNION ALL
      |      SELECT j, i, nj, ni, n_both FROM co),
      |s AS (SELECT *, n_both / SQRT(n_item * n_neighbor) AS cosine FROM d),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id
      |         ORDER BY cosine DESC, neighbor_id) AS rnk FROM s)
      |SELECT item_id, neighbor_id, n_item, n_neighbor, n_both,
      |  ROUND(cosine, 6) AS cosine, rnk
      |FROM rk WHERE rnk <= 3 ORDER BY item_id, rnk""".stripMargin

  /** 2-hop candidate generation over the repeat-co-purchase graph: for each
    * part, the top-3 parts reachable through a common neighbor but NOT
    * directly co-purchased — the classic "customers who bought what you
    * bought also bought" expansion ranked by distinct-path support. The
    * direct-edge exclusion is a left-anti join, and both hop joins shuffle on
    * node keys (wedge volume Σ deg² is the cost driver — bounded here by the
    * ≥2-support signal graph, by degree caps at web scale).
    */
  def qTwoHopRecs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // undirected adjacency from ONE generator (the union-of-projections shape
    // re-runs the edge aggregate per branch); the edge table is iterated over
    // three differently-keyed branches, so materialize it once
    val adj = Materialize(repeatEdges(spark, dir).select(explode(array(
        struct(col("src").as("u"), col("dst").as("v")),
        struct(col("dst").as("u"), col("src").as("v")))).as("p"))
      .select(col("p.u"), col("p.v"))).df
    val hop2 = adj.as("x").join(adj.as("y"), col("x.v") === col("y.u"))
      .filter(col("x.u") =!= col("y.v"))
      .groupBy(col("x.u").as("item_id"), col("y.v").as("rec_id"))
      .agg(countDistinct(col("x.v")).as("n_paths"))
    val indirect = hop2.join(
      adj.select(col("u").as("item_id"), col("v").as("rec_id")),
      Seq("item_id", "rec_id"), "left_anti")
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("n_paths").desc, col("rec_id"))
    indirect.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .orderBy(col("item_id"), col("rnk"))
  }

  val twoHopRecsSql: String =
    s"""WITH $repeatEdgesSql,
      |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |h AS (SELECT x.u AS item_id, y.v AS rec_id,
      |    COUNT(DISTINCT x.v) AS n_paths
      |  FROM adj x JOIN adj y ON x.v = y.u WHERE x.u <> y.v GROUP BY 1, 2),
      |r AS (SELECT h.* FROM h WHERE NOT EXISTS (SELECT 1 FROM adj
      |    WHERE adj.u = h.item_id AND adj.v = h.rec_id)),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_id
      |    ORDER BY n_paths DESC, rec_id) AS rnk FROM r)
      |SELECT item_id, rec_id, n_paths, rnk FROM rk WHERE rnk <= 3
      |ORDER BY item_id, rnk""".stripMargin

  /** Temporal split-leakage audit: fraction of each user's post-cutoff
    * (user, item) holdout pairs already present pre-cutoff. A time-based
    * evaluation split silently turns into re-purchase prediction when this is
    * high — the standard pre-training sanity check on interaction splits.
    * Both sides reduce to distinct pairs before the semi-join, so the probe
    * is keyed and partial-aggregated all the way down.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1999-01-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user_id"), col("l_partkey").as("item_id"),
        col("o_orderdate"))
    val train = pairs.filter(col("o_orderdate") < cutoff)
      .select("user_id", "item_id").distinct()
    val test = pairs.filter(col("o_orderdate") >= cutoff)
      .select("user_id", "item_id").distinct()
    val leaked = test.join(train, Seq("user_id", "item_id"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_leaked"))
    test.groupBy(col("user_id")).agg(count(lit(1)).as("n_test_pairs"))
      .join(leaked, Seq("user_id"), "left").na.fill(0L, Seq("n_leaked"))
      .select(col("user_id"), col("n_test_pairs"), col("n_leaked"),
        round(col("n_leaked").cast("double") / col("n_test_pairs"), 6)
          .as("leakage"))
      .orderBy(col("user_id"))
  }

  val splitLeakageSql: String =
    """WITH p AS (SELECT o_custkey AS user_id, l_partkey AS item_id, o_orderdate
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |tr AS (SELECT DISTINCT user_id, item_id FROM p
      |       WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      |te AS (SELECT DISTINCT user_id, item_id FROM p
      |       WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
      |lk AS (SELECT user_id, COUNT(*) AS n_leaked FROM te
      |  WHERE EXISTS (SELECT 1 FROM tr
      |    WHERE tr.user_id = te.user_id AND tr.item_id = te.item_id)
      |  GROUP BY 1),
      |nt AS (SELECT user_id, COUNT(*) AS n_test_pairs FROM te GROUP BY 1)
      |SELECT nt.user_id, nt.n_test_pairs, COALESCE(lk.n_leaked, 0) AS n_leaked,
      |  ROUND(COALESCE(lk.n_leaked, 0) * 1.0 / nt.n_test_pairs, 6) AS leakage
      |FROM nt LEFT JOIN lk ON nt.user_id = lk.user_id
      |ORDER BY nt.user_id""".stripMargin

  // -------------------------------------------------------------------------
  // Counterfactual evaluation + training-data assembly
  // -------------------------------------------------------------------------

  /** Self-normalized inverse-propensity precision@10 (SNIPS): hits weighted by
    * 1/propensity so popular items can't buy precision — the standard
    * debiased offline evaluation when the logged feedback itself came from a
    * popularity-skewed policy. Propensity is Laplace-smoothed interaction
    * share `(pop_i + 1) / (total + n_items)` (smoothing keeps zero-history
    * rec items finite); per-user score = Σ(hit·w) / Σ(w) over the top-10
    * frequency-ranked recs. All weights derive from exact integers, so both
    * engines compute identical doubles; per-user sums go through DECIMAL.
    */
  def qIpsPrecision(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = sales(spark, dir).select(col("user_id"), col("item_id"))
    val pop = a.groupBy(col("item_id")).agg(count(lit(1)).as("pop_n"))
    val totals = a.agg(count(lit(1)).as("total"),
      countDistinct(col("item_id")).as("n_items"))
    val rc = recommendations(spark, dir)
      .groupBy(col("user_id"), col("item_id")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("n").desc, col("item_id"))
    val topk = rc.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
    val hits = a.distinct().withColumn("hit", lit(1L))
    topk
      .join(hits, Seq("user_id", "item_id"), "left")
      .join(pop, Seq("item_id"), "left")
      .crossJoin(broadcast(totals))
      // micro-units: the IPS weight is quantized to an INTEGER number of
      // 1e-6 units — integer sums are engine-exact, and the single final
      // double division of two BIGINTs is IEEE-identical everywhere. (The
      // earlier per-row double→DECIMAL(18,8) cast diverged sub-ulp between
      // engines at sf0.1 — caught by the scale-tier oracle gate.)
      .withColumn("wgt",
        round((col("total") + col("n_items")).cast("double") * 1000000.0 /
          (coalesce(col("pop_n"), lit(0L)) + 1)).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_topk"),
        sum(when(col("hit") === 1, col("wgt")).otherwise(0L)).as("num"),
        sum(col("wgt")).as("den"))
      .select(col("user_id"), col("n_topk"),
        round(col("num").cast("double") / col("den"), 6).as("snips"))
      .orderBy(col("user_id"))
  }

  val ipsPrecisionSql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |pop AS (SELECT item_id, COUNT(*) AS pop_n FROM sales GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS total, COUNT(DISTINCT item_id) AS n_items
      |        FROM sales),
      |rc AS (SELECT user_id, item_id, COUNT(*) AS n FROM recs GROUP BY 1, 2),
      |topk AS (SELECT * FROM (SELECT user_id, item_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, item_id)
      |      AS rnk FROM rc) WHERE rnk <= 10),
      |h AS (SELECT DISTINCT user_id, item_id, 1 AS hit FROM sales),
      |t AS (SELECT k.user_id,
      |    CAST(ROUND((tot.total + tot.n_items) * 1000000.0
      |      / (COALESCE(pop.pop_n, 0) + 1)) AS BIGINT) AS wgt,
      |    COALESCE(h.hit, 0) AS hit
      |  FROM topk k
      |  LEFT JOIN h ON k.user_id = h.user_id AND k.item_id = h.item_id
      |  LEFT JOIN pop ON k.item_id = pop.item_id
      |  CROSS JOIN tot)
      |SELECT user_id, COUNT(*) AS n_topk,
      |  ROUND(SUM(CASE WHEN hit = 1 THEN wgt ELSE 0 END) * 1.0 / SUM(wgt), 6)
      |    AS snips
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deterministic negative sampling: for each user with purchase history,
    * 5 items drawn from the 200 most-popular catalog items the user has NOT
    * interacted with — the contrastive-training counterpart of the positive
    * pairs. Popularity-proposal negatives (not uniform) are the standard
    * hard-negative heuristic, and the md5 pick order makes every engine and
    * every rerun draw the same rows (the dataset-split discipline).
    */
  def qNegativeSamples(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the distinct interaction table feeds three differently-keyed branches
    // (popularity top-200, the user roster, the history anti-join) — one
    // materialization instead of three sales-join re-runs (17 scans observed)
    val a = Materialize(sales(spark, dir)
      .select(col("user_id"), col("item_id")).distinct()).df
    val popTop = a.groupBy(col("item_id")).agg(count(lit(1)).as("pop_n"))
      .orderBy(col("pop_n").desc, col("item_id")).limit(200)
      .select(col("item_id"))
    val users = a.select(col("user_id")).distinct()
    // pick = 52-bit md5 prefix as a NUMBER (exact in a double, same value in
    // both engines via the conv ⇔ ('0x'||…)::BIGINT identity) so the draw can
    // run through the bounded-heap TopKAggregator instead of a row_number
    // window: the window shuffles all #users × 200 candidate rows to sort
    // them; the aggregator's map-side partial heaps forward ≤ 5 rows per user
    // — the q_simsearch_batch shape applied to sampling. Ties (52-bit
    // collisions) break by ascending item_id in BOTH engines.
    // the anti-join only ever needs history rows whose item is in the top-200
    // candidate set — semi-restricting `a` first shrinks the build side from
    // the full interaction table to the top-item histories, small enough to
    // broadcast, so the #users × 200 candidate stream never shuffles: it flows
    // map-side from the crossJoin straight into the partial heaps. (The
    // broadcast bound is Σ_top-items |users(item)|; if that outgrows the
    // driver at extreme scale, drop the hint and AQE's runtime conversion
    // keeps the same join with a local shuffle read instead.)
    val topHistory = a.join(broadcast(popTop), Seq("item_id"), "left_semi")
    val cand = users.crossJoin(broadcast(popTop))
      .join(broadcast(topHistory), Seq("user_id", "item_id"), "left_anti")
      // fused 52-bit pick ([[graft.functions.Md5Pick52]]): same bytes, same
      // digest as conv(substring(md5(concat(u,':',i)),1,13),16,10), minus
      // the per-candidate string concat / hex string / parse allocations
      .withColumn("pick",
        graft.functions.Md5Pick52.md5Pick52(col("user_id"), col("item_id")))
    val topk = udaf(new graft.functions.TopKAggregator(5))
    cand.groupBy(col("user_id"))
      .agg(topk(col("item_id"), (-col("pick")).cast("double")).as("__r"))
      .select(col("user_id"), posexplode(col("__r.items")))
      .select(col("user_id"), col("col.id").as("item_id"),
        (col("pos") + 1).cast("long").as("rnk"))
      .orderBy(col("user_id"), col("rnk"))
  }

  val negativeSamplesSql: String =
    s"""WITH $salesSql,
      |a AS (SELECT DISTINCT user_id, item_id FROM sales),
      |pt AS (SELECT item_id FROM a GROUP BY item_id
      |       ORDER BY COUNT(*) DESC, item_id LIMIT 200),
      |u AS (SELECT DISTINCT user_id FROM a),
      |cand AS (SELECT u.user_id, pt.item_id,
      |    ('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':' ||
      |      CAST(pt.item_id AS VARCHAR)), 1, 13))::BIGINT AS pick
      |  FROM u CROSS JOIN pt
      |  WHERE NOT EXISTS (SELECT 1 FROM a
      |    WHERE a.user_id = u.user_id AND a.item_id = pt.item_id)),
      |rk AS (SELECT user_id, item_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pick, item_id)
      |      AS rnk FROM cand)
      |SELECT user_id, item_id, rnk FROM rk WHERE rnk <= 5
      |ORDER BY user_id, rnk""".stripMargin

  /** Average recommendation popularity (ARP) per user — the popularity-bias
    * gauge: high ARP with low [[qSerendipity]] means the recommender re-serves
    * blockbusters. Popularity = the item's interaction count in sales; items
    * never sold count 0.
    */
  def qPopBias(spark: SparkSession, dir: String): DataFrame = {
    val pop = sales(spark, dir)
      .groupBy(col("item_id")).agg(count(lit(1)).as("pop_n"))
    val r = recommendations(spark, dir)
      .select(col("user_id"), col("item_id")).distinct()
    r.join(pop, Seq("item_id"), "left")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_recs"),
        round(sum(coalesce(col("pop_n"), lit(0L))).cast("double") /
          count(lit(1)), 6).as("arp"))
      .orderBy(col("user_id"))
  }

  val popBiasSql: String =
    s"""WITH $salesSql,
      |$recsSql,
      |pop AS (SELECT item_id, COUNT(*) AS pop_n FROM sales GROUP BY 1),
      |r AS (SELECT DISTINCT user_id, item_id FROM recs)
      |SELECT r.user_id, COUNT(*) AS n_recs,
      |  ROUND(CAST(SUM(COALESCE(pop.pop_n, 0)) AS BIGINT) * 1.0 / COUNT(*), 6)
      |    AS arp
      |FROM r LEFT JOIN pop ON r.item_id = pop.item_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Rank-biased overlap between the quantity and revenue item rankings
  // --------------------------------------------------------------------------

  /** RBO(p=0.9, depth 20) between "top items by total quantity" and "top
    * items by revenue" — how much do the two popularity notions agree at the
    * head?
    */
  def qRbo(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = Tables.lineitem(spark, dir)
    def topRanked(valued: DataFrame): DataFrame = {
      val top = valued.orderBy(col("v").desc, col("item")).limit(20)
      top.withColumn("rnk",
        row_number().over(Window.orderBy(col("v").desc, col("item"))))
    }
    val byQty = topRanked(l.groupBy(col("l_partkey").as("item"))
      .agg(sum(Inputs.dec(col("l_quantity"))).as("v")))
    val byRev = topRanked(l.groupBy(col("l_partkey").as("item"))
      .agg(Inputs.revenueDec(col("l_extendedprice"),
        col("l_discount")).as("v")))
    graft.ext.RankCompare.rbo(byQty, byRev, "item", "rnk",
      depth = 20, p = 0.9)
  }

  val rboSql: String =
    """WITH qty AS (SELECT l_partkey AS item,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS v FROM lineitem GROUP BY 1),
      |rev AS (SELECT l_partkey AS item,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))
      |      * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS v
      |  FROM lineitem GROUP BY 1),
      |ra AS (SELECT item, r FROM (SELECT item,
      |    ROW_NUMBER() OVER (ORDER BY v DESC, item) AS r FROM qty) WHERE r <= 20),
      |rb AS (SELECT item, r FROM (SELECT item,
      |    ROW_NUMBER() OVER (ORDER BY v DESC, item) AS r FROM rev) WHERE r <= 20),
      |m AS (SELECT ra.item, ra.r AS rnk_a, rb.r AS rnk_b
      |  FROM ra JOIN rb USING (item)),
      |ds AS (SELECT unnest(generate_series(1, 20)) AS d),
      |ov AS (SELECT ds.d, COUNT(*) AS ov FROM m JOIN ds
      |    ON ds.d >= GREATEST(m.rnk_a, m.rnk_b) GROUP BY 1),
      |t AS (SELECT d, ov,
      |    CAST(POWER(0.9, d - 1) * ov / d AS DECIMAL(28,12)) AS term FROM ov)
      |SELECT CAST(20 AS BIGINT) AS depth,
      |  COALESCE(MAX(CASE WHEN d = 20 THEN ov END), 0) AS n_overlap,
      |  ROUND((1.0 - 0.9) * CAST(COALESCE(SUM(term), 0) AS DOUBLE), 6) AS rbo
      |FROM t""".stripMargin

  // --------------------------------------------------------------------------
  // Expected reciprocal rank — cascade-model ranking quality
  // --------------------------------------------------------------------------

  /** ERR@10 of the urgent-order recommendations vs finalized-order sales
    * ([[RankingMetrics.errAtK]]) — unlike q_mrr, later hits are discounted by
    * the probability the user already stopped at an earlier hit.
    */
  def qErrRank(spark: SparkSession, dir: String): DataFrame =
    RankingMetrics.errAtK(Inputs.recommendations(spark, dir),
        Inputs.sales(spark, dir), "user_id", "item_id", k = 10)
      .orderBy(col("user"))

  val errRankSql: String =
    s"""WITH ${Inputs.salesSql},
      |${Inputs.recsSql},
      |rc AS (SELECT user_id, item_id, COUNT(*) AS n FROM recs GROUP BY 1, 2),
      |rk AS (SELECT user_id, item_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, item_id)
      |      AS rnk FROM rc QUALIFY rnk <= 10),
      |a AS (SELECT DISTINCT user_id, item_id FROM sales),
      |f AS (SELECT rk.user_id, rnk,
      |    CASE WHEN a.item_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM rk LEFT JOIN a
      |    ON rk.user_id = a.user_id AND rk.item_id = a.item_id),
      |t AS (SELECT user_id, rnk, hit,
      |    COALESCE(SUM(hit) OVER (PARTITION BY user_id ORDER BY rnk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hb
      |  FROM f)
      |SELECT user_id AS "user", CAST(SUM(hit) AS BIGINT) AS n_hits_at_k,
      |  ROUND(CAST(SUM(CASE WHEN hit = 1
      |      THEN CAST(power(0.5, hb + 1) / rnk AS DECIMAL(18,8))
      |      ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE), 6) AS err
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Hill tail-index — power-law exponent of item popularity
  // --------------------------------------------------------------------------

  /** Hill estimator (k = 100) of the item-popularity tail exponent over
    * lineitem part volume ([[LongTail.hillTailIndex]]) — the scalar that says
    * whether q_long_tail's curve is blockbuster-dominated (α̂ ≈ 1) or
    * thin-tailed.
    */
  def qHillTail(spark: SparkSession, dir: String): DataFrame =
    LongTail.hillTailIndex(Tables.lineitem(spark, dir), "l_partkey", k = 100)

  val hillTailSql: String =
    """WITH c AS (SELECT l_partkey, COUNT(*) AS volume FROM lineitem GROUP BY 1),
      |r AS (SELECT l_partkey, volume,
      |    ROW_NUMBER() OVER (ORDER BY volume DESC, l_partkey) AS rnk FROM c),
      |tl AS (SELECT volume AS x_kplus1 FROM r WHERE rnk = 101),
      |s AS (SELECT SUM(CAST(ln(CAST(r.volume AS DOUBLE) / tl.x_kplus1)
      |      AS DECIMAL(18,8))) AS sl
      |  FROM r CROSS JOIN tl WHERE rnk <= 100)
      |SELECT 100 AS k, x_kplus1,
      |  ROUND(CAST(sl AS DOUBLE), 6) AS sum_log,
      |  ROUND(100 / CAST(sl AS DOUBLE), 6) AS hill_alpha
      |FROM s CROSS JOIN tl""".stripMargin

  // --------------------------------------------------------------------------
  // Kendall's tau-b — do revenue and volume rank brands the same way?
  // --------------------------------------------------------------------------

  /** τ-b between the brand ranking by revenue and by unit volume
    * ([[graft.ext.RankCompare.kendallTau]]) — the whole-list agreement
    * complement of q_rbo's top-weighted overlap.
    */
  def qKendallTau(spark: SparkSession, dir: String): DataFrame = {
    val perBrand = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("rev_cents"),
        sum(col("l_quantity").cast("long")).as("qty"))
    graft.ext.RankCompare.kendallTau(perBrand, "brand", "rev_cents", "qty")
  }

  val kendallTauSql: String =
    """WITH pb AS (SELECT p_brand AS brand,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |pr AS (SELECT
      |    CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END *
      |    CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS cd,
      |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
      |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      |  FROM pb a JOIN pb b ON a.brand < b.brand),
      |n AS (SELECT COUNT(*) AS n_keys FROM pb),
      |ag AS (SELECT
      |    CAST(COALESCE(SUM(CASE WHEN cd = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |      AS n_concordant,
      |    CAST(COALESCE(SUM(CASE WHEN cd = -1 THEN 1 ELSE 0 END), 0)
      |      AS BIGINT) AS n_discordant,
      |    CAST(COALESCE(SUM(tx), 0) AS BIGINT) AS n_tied_x,
      |    CAST(COALESCE(SUM(ty), 0) AS BIGINT) AS n_tied_y
      |  FROM pr)
      |SELECT n_keys, n_concordant, n_discordant, n_tied_x, n_tied_y,
      |  ROUND(CAST(n_concordant - n_discordant AS DOUBLE) /
      |    sqrt(CAST((n_keys * (n_keys - 1) // 2 - n_tied_x) *
      |      (n_keys * (n_keys - 1) // 2 - n_tied_y) AS DOUBLE)), 6) AS tau_b
      |FROM n CROSS JOIN ag""".stripMargin

  // --------------------------------------------------------------------------
  // Lorenz curve deciles
  // --------------------------------------------------------------------------

  /** Lorenz curve of item interaction volume at decile resolution — the
    * curve q_gini integrates: items ranked ascending by volume
    * ([[graft.ext.GlobalRank.globalRowNumber]], no single-task sort), cut
    * into 10 equal-count tiers, cumulative volume share per tier.
    */
  def qLorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("volume"))
    val ranked = graft.ext.GlobalRank.globalRowNumber(
      counts, Seq(col("volume"), col("l_partkey")))
    val n = ranked.agg(count(lit(1)).as("n_items"),
      sum(col("volume")).as("t_vol"))
    val dec = ranked.crossJoin(broadcast(n))
      .select(expr("(rn - 1) * 10 div n_items").as("decile"),
        col("volume"), col("t_vol"))
      .groupBy(col("decile"), col("t_vol"))
      .agg(count(lit(1)).as("n_items"), sum(col("volume")).as("vol"))
    // 10 rows post-aggregate — the unpartitioned cumsum window is bounded
    dec
      .withColumn("cum_vol", sum(col("vol")).over(Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"), col("n_items"), col("vol"),
        round(col("cum_vol").cast("double") / col("t_vol"), 6)
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  val lorenzCurveSql: String =
    """WITH c AS (SELECT l_partkey, COUNT(*) AS volume FROM lineitem
      |  GROUP BY 1),
      |r AS (SELECT volume,
      |    ROW_NUMBER() OVER (ORDER BY volume, l_partkey) AS rn FROM c),
      |nn AS (SELECT COUNT(*) AS n_items, CAST(SUM(volume) AS BIGINT) AS t_vol
      |  FROM r),
      |d AS (SELECT (rn - 1) * 10 // n_items AS decile, t_vol,
      |    COUNT(*) AS n_items, CAST(SUM(volume) AS BIGINT) AS vol
      |  FROM r CROSS JOIN nn GROUP BY 1, 2)
      |SELECT decile, n_items, vol,
      |  ROUND(CAST(CAST(SUM(vol) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS DOUBLE) / t_vol, 6) AS cum_share
      |FROM d ORDER BY decile""".stripMargin

  // --------------------------------------------------------------------------
  // Leaderboard turnover
  // --------------------------------------------------------------------------

  /** Day-over-day Jaccard of the daily top-10 most-active users
    * ([[graft.ext.RankCompare.topKTurnover]]) — the leaderboard-volatility
    * series; q_rbo compares one ranking pair, this monitors set stability
    * over time.
    */
  def qRankChurn(spark: SparkSession, dir: String): DataFrame =
    graft.ext.RankCompare.topKTurnover(Tables.events(spark, dir),
        dayCol = to_date(col("ts")), keyCol = "user_id", k = 10)
      .select(col("day"), col("n_common"),
        round(col("jaccard"), 6).as("jaccard"))

  val rankChurnSql: String =
    """WITH counts AS (SELECT CAST(ts AS DATE) AS day, user_id AS key,
      |    COUNT(*) AS n FROM events GROUP BY 1, 2),
      |top AS (SELECT day, key FROM (SELECT day, key,
      |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, key) AS rk
      |  FROM counts) WHERE rk <= 10),
      |prev AS (SELECT day + 1 AS day, key FROM top),
      |common AS (SELECT day, COUNT(*) AS n_common FROM top
      |  JOIN prev USING (day, key) GROUP BY 1),
      |sizes AS (SELECT day, COUNT(*) AS sz FROM top GROUP BY 1),
      |psizes AS (SELECT day + 1 AS day, sz AS psz FROM sizes),
      |days AS (SELECT DISTINCT day FROM top),
      |spine AS (SELECT d.day FROM days d
      |  JOIN (SELECT day + 1 AS day FROM days) p USING (day))
      |SELECT spine.day, COALESCE(n_common, 0) AS n_common,
      |  ROUND(CAST(COALESCE(n_common, 0) AS DOUBLE) /
      |    CAST(sz + psz - COALESCE(n_common, 0) AS DOUBLE), 6) AS jaccard
      |FROM spine LEFT JOIN common USING (day)
      |JOIN sizes USING (day) JOIN psizes USING (day) ORDER BY day""".stripMargin

  // --------------------------------------------------------------------------
  // Apriori level-3 frequent itemsets
  // --------------------------------------------------------------------------

  /** Frequent brand TRIPLES in order baskets at support ≥ 1/500 of baskets
    * ([[graft.ext.Itemsets.frequentTriples]]), with the level-3 lift
    * readout — multi-way co-occurrence beyond `q_market_basket`'s pairs.
    * Top-20 by support. The oracle counts triples of frequent items
    * directly: by downward closure the Apriori pruning in the Spark plan is
    * a pure performance device and cannot change the result.
    */
  def qItemsets3(spark: SparkSession, dir: String): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("bk"), col("p_brand").as("it"))
    graft.ext.Itemsets.frequentTriples(baskets, "bk", "it",
        supNum = 1L, supDenom = 500L)
      .select(col("item_a"), col("item_b"), col("item_c"), col("support"),
        round(col("lift"), 6).as("lift"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"),
        col("item_c"))
      .limit(20)
  }

  val itemsets3Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, p.p_brand AS it
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
      |tot AS (SELECT COUNT(DISTINCT bk) AS nb FROM b),
      |s1 AS (SELECT it, COUNT(*) AS n1 FROM b GROUP BY 1
      |  HAVING COUNT(*) * 500 >= (SELECT nb FROM tot) * 1),
      |bf AS (SELECT b.bk, b.it FROM b JOIN s1 ON b.it = s1.it),
      |t3 AS (SELECT x.it AS ia, y.it AS ib, z.it AS ic, COUNT(*) AS n3
      |  FROM bf x JOIN bf y ON x.bk = y.bk AND x.it < y.it
      |  JOIN bf z ON y.bk = z.bk AND y.it < z.it
      |  GROUP BY 1, 2, 3
      |  HAVING COUNT(*) * 500 >= (SELECT nb FROM tot) * 1)
      |SELECT t3.ia AS item_a, t3.ib AS item_b, t3.ic AS item_c,
      |  CAST(t3.n3 AS BIGINT) AS support,
      |  ROUND(CAST(t3.n3 AS DOUBLE) * (SELECT nb FROM tot)
      |    * (SELECT nb FROM tot)
      |    / (CAST(a.n1 AS DOUBLE) * bb.n1 * c.n1), 6) AS lift
      |FROM t3 JOIN s1 a ON t3.ia = a.it JOIN s1 bb ON t3.ib = bb.it
      |JOIN s1 c ON t3.ic = c.it
      |ORDER BY support DESC, item_a, item_b, item_c LIMIT 20""".stripMargin

  /** Borda + Copeland fusion of three brand rankers (integer revenue,
    * total quantity, distinct orders) over the lineitem⋈part join
    * ([[graft.ext.RankFusion.bordaCopeland]]): the Condorcet-consistent
    * complement of `q_hybrid_rrf`. All-integer metrics and scores.
    */
  def qRankFusion(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    val metrics = li.groupBy(col("p_brand"))
      .agg(sum(expr("CAST(FLOOR(l_extendedprice) AS BIGINT)")).as("rev"),
        sum(col("l_quantity").cast("long")).as("qty"),
        countDistinct(col("l_orderkey")).as("orders"))
    val w = (m: String) => org.apache.spark.sql.expressions.Window
      .orderBy(col(m).desc, col("p_brand"))
    val long = Seq("rev", "qty", "orders").map { m =>
      metrics.select(col("p_brand").as("item"), lit(m).as("ranker"),
        row_number().over(w(m)).as("rank"))
    }.reduce(_ unionByName _)
    graft.ext.RankFusion.bordaCopeland(long, "item", "ranker", "rank")
  }

  val rankFusionSql: String =
    """WITH m AS (SELECT p_brand,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
      |      AS rev,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |    COUNT(DISTINCT l_orderkey) AS orders
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |r AS (SELECT p_brand AS item, 'rev' AS ranker,
      |    ROW_NUMBER() OVER (ORDER BY rev DESC, p_brand) AS rank FROM m
      |  UNION ALL SELECT p_brand, 'qty',
      |    ROW_NUMBER() OVER (ORDER BY qty DESC, p_brand) FROM m
      |  UNION ALL SELECT p_brand, 'orders',
      |    ROW_NUMBER() OVER (ORDER BY orders DESC, p_brand) FROM m),
      |ni AS (SELECT COUNT(DISTINCT item) AS n_items FROM r),
      |borda AS (SELECT item, COUNT(*) AS n_rankers,
      |    CAST(SUM(ni.n_items - rank) AS BIGINT) AS borda
      |  FROM r CROSS JOIN ni GROUP BY 1),
      |pairs AS (SELECT x.item AS i, y.item AS j,
      |    SUM(CASE WHEN x.rank < y.rank THEN 1 ELSE 0 END) AS i_wins,
      |    SUM(CASE WHEN y.rank < x.rank THEN 1 ELSE 0 END) AS j_wins
      |  FROM r x JOIN r y ON x.ranker = y.ranker AND x.item < y.item
      |  GROUP BY 1, 2),
      |duels AS (SELECT i AS item,
      |    CASE WHEN i_wins > j_wins THEN 1
      |      WHEN j_wins > i_wins THEN -1 ELSE 0 END AS pt FROM pairs
      |  UNION ALL SELECT j,
      |    CASE WHEN j_wins > i_wins THEN 1
      |      WHEN i_wins > j_wins THEN -1 ELSE 0 END FROM pairs),
      |cope AS (SELECT item,
      |    CAST(SUM(CASE WHEN pt = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS copeland_wins,
      |    CAST(SUM(CASE WHEN pt = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS copeland_losses
      |  FROM duels GROUP BY 1)
      |SELECT b.item, b.n_rankers, b.borda,
      |  COALESCE(c.copeland_wins, 0) AS copeland_wins,
      |  COALESCE(c.copeland_losses, 0) AS copeland_losses,
      |  COALESCE(c.copeland_wins, 0) - COALESCE(c.copeland_losses, 0)
      |    AS copeland
      |FROM borda b LEFT JOIN cope c ON b.item = c.item
      |ORDER BY copeland DESC, borda DESC, b.item""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_long_tail", qLongTail,
      """WITH v AS (SELECT l_partkey, COUNT(*) AS volume FROM lineitem GROUP BY 1),
        |w AS (SELECT l_partkey, volume,
        |  ROW_NUMBER() OVER (ORDER BY volume DESC, l_partkey) AS item_rank,
        |  CAST(SUM(volume) OVER (ORDER BY volume DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_volume,
        |  SUM(volume) OVER () AS total FROM v)
        |SELECT l_partkey, volume, item_rank, cum_volume,
        |  ROUND(cum_volume * 1.0 / total, 6) AS pct_of_total,
        |  cum_volume * 1.0 / total <= 0.5 AS is_head
        |FROM w ORDER BY item_rank""".stripMargin),
    QuerySpec("q_coverage", qCoverage,
      """SELECT n_recommended, n_catalog,
        |  ROUND(n_recommended * 1.0 / n_catalog, 6) AS coverage
        |FROM (SELECT COUNT(DISTINCT l_partkey) AS n_recommended
        |      FROM lineitem WHERE l_returnflag = 'R')
        |CROSS JOIN (SELECT COUNT(DISTINCT p_partkey) AS n_catalog FROM part)""".stripMargin),
    QuerySpec("q_novelty", qNovelty,
      s"""WITH $salesSql,
        |$recsSql,
        |pop AS (SELECT item_id, COUNT(*) AS pop_count FROM sales GROUP BY 1),
        |uu AS (SELECT COUNT(DISTINCT user_id) AS u FROM sales),
        |j AS (SELECT r.user_id, -log2(p.pop_count * 1.0 / (SELECT u FROM uu)) AS lg
        |      FROM recs r LEFT JOIN pop p ON r.item_id = p.item_id)
        |SELECT user_id, ROUND(SUM(lg) / COUNT(*), 6) AS msi
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q_novelty_mean", qNoveltyMean,
      s"""WITH $salesSql,
        |$recsSql,
        |pop AS (SELECT item_id, COUNT(*) AS pop_count FROM sales GROUP BY 1),
        |uu AS (SELECT COUNT(DISTINCT user_id) AS u FROM sales),
        |j AS (SELECT r.user_id, -log2(p.pop_count * 1.0 / (SELECT u FROM uu)) AS lg
        |      FROM recs r LEFT JOIN pop p ON r.item_id = p.item_id),
        |m AS (SELECT user_id, SUM(lg) / COUNT(*) AS msi FROM j GROUP BY 1)
        |SELECT COUNT(*) AS n_users, ROUND(AVG(msi), 6) AS mean_msi FROM m""".stripMargin),
    QuerySpec("q_personalization", qPersonalization,
      """WITH dfp AS (SELECT o_custkey AS user_id, l_partkey AS item_id
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 1),
        |c AS (SELECT user_id, item_id, COUNT(*) * 1.0 AS v FROM dfp GROUP BY 1, 2),
        |n AS (SELECT user_id, SQRT(SUM(v * v)) AS nrm FROM c GROUP BY 1),
        |d AS (SELECT a.user_id AS u1, b.user_id AS u2, SUM(a.v * b.v) AS dot
        |      FROM c a JOIN c b ON a.item_id = b.item_id AND a.user_id < b.user_id
        |      GROUP BY 1, 2),
        |s AS (SELECT COALESCE(SUM(dot / (n1.nrm * n2.nrm)), 0) AS sum_sim
        |      FROM d JOIN n n1 ON d.u1 = n1.user_id JOIN n n2 ON d.u2 = n2.user_id),
        |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM dfp)
        |SELECT n_users,
        |  ROUND(1 - 2 * sum_sim / (n_users * (n_users - 1)), 6) AS personalization
        |FROM nu CROSS JOIN s""".stripMargin),
    QuerySpec("q_intra_list", qIntraList,
      """WITH src AS (SELECT o_custkey AS user_id, l_partkey AS item_id,
        |    p_brand AS feature, l_quantity AS value
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey),
        |f AS (SELECT user_id, item_id, feature, AVG(value) AS v FROM src GROUP BY 1, 2, 3),
        |n AS (SELECT user_id, item_id, SQRT(SUM(v * v)) AS nrm FROM f GROUP BY 1, 2),
        |ni AS (SELECT user_id, COUNT(*) AS n_items FROM n GROUP BY 1),
        |p AS (SELECT a.user_id, a.item_id AS i1, b.item_id AS i2, SUM(a.v * b.v) AS dot
        |      FROM f a JOIN f b ON a.user_id = b.user_id AND a.feature = b.feature
        |        AND a.item_id < b.item_id
        |      GROUP BY 1, 2, 3),
        |s AS (SELECT p.user_id, SUM(dot / (n1.nrm * n2.nrm)) AS sum_sim FROM p
        |      JOIN n n1 ON p.user_id = n1.user_id AND p.i1 = n1.item_id
        |      JOIN n n2 ON p.user_id = n2.user_id AND p.i2 = n2.item_id
        |      GROUP BY 1)
        |SELECT ni.user_id, ni.n_items,
        |  ROUND(COALESCE(sum_sim, 0) / (n_items * (n_items - 1) / 2.0), 6) AS ils
        |FROM ni LEFT JOIN s ON ni.user_id = s.user_id
        |WHERE n_items >= 2 ORDER BY 1""".stripMargin),
    QuerySpec("q_rec_precision", qRecPrecision,
      s"""WITH $salesSql,
        |$recsSql,
        |r AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM recs),
        |a AS (SELECT DISTINCT user_id AS "user", item_id AS item FROM sales),
        |nr AS (SELECT "user", COUNT(*) AS n_recs FROM r GROUP BY 1),
        |na AS (SELECT "user", COUNT(*) AS n_actual FROM a GROUP BY 1),
        |h AS (SELECT r."user", COUNT(*) AS n_hit
        |      FROM r JOIN a ON r."user" = a."user" AND r.item = a.item GROUP BY 1)
        |SELECT COALESCE(nr."user", na."user") AS "user",
        |  COALESCE(n_recs, 0) AS n_recs, COALESCE(n_actual, 0) AS n_actual,
        |  COALESCE(n_hit, 0) AS n_hit,
        |  ROUND(COALESCE(n_hit, 0) * 1.0 / NULLIF(COALESCE(n_recs, 0), 0), 6)
        |    AS precision,
        |  ROUND(COALESCE(n_hit, 0) * 1.0 / NULLIF(COALESCE(n_actual, 0), 0), 6)
        |    AS recall
        |FROM nr FULL OUTER JOIN na ON nr."user" = na."user"
        |LEFT JOIN h ON COALESCE(nr."user", na."user") = h."user"
        |ORDER BY 1""".stripMargin),
    QuerySpec("q_mrr", qMrr,
      s"""WITH $salesSql,
        |$recsSql,
        |rc AS (SELECT user_id, item_id, COUNT(*) AS n FROM recs GROUP BY 1, 2),
        |rk AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, item_id)
        |      AS rnk FROM rc),
        |a AS (SELECT DISTINCT user_id, item_id FROM sales),
        |fh AS (SELECT rk.user_id, MIN(rnk) AS first_hit
        |  FROM rk JOIN a ON rk.user_id = a.user_id AND rk.item_id = a.item_id
        |  GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM rc)
        |SELECT COUNT(*) AS n_users, COUNT(first_hit) AS n_users_hit,
        |  ROUND(CAST(SUM(COALESCE(CAST(1.0::DOUBLE / first_hit AS DECIMAL(18,8)),
        |      CAST(0 AS DECIMAL(18,8)))) AS DOUBLE) / COUNT(*), 6) AS mrr
        |FROM u LEFT JOIN fh ON u.user_id = fh.user_id""".stripMargin),
    QuerySpec("q_ndcg", qNdcg,
      s"""WITH $salesSql,
        |$recsSql,
        |rc AS (SELECT user_id, item_id, COUNT(*) AS n FROM recs GROUP BY 1, 2),
        |rk AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, item_id)
        |      AS rnk FROM rc QUALIFY rnk <= 10),
        |a AS (SELECT DISTINCT user_id, item_id FROM sales),
        |dcg AS (SELECT rk.user_id,
        |    SUM(CAST(0.6931471805599453 / ln(rnk + 1) AS DECIMAL(18,8))) AS dcg
        |  FROM rk JOIN a ON rk.user_id = a.user_id AND rk.item_id = a.item_id
        |  GROUP BY 1),
        |na AS (SELECT user_id, COUNT(*) AS n_actual FROM a GROUP BY 1),
        |idcg AS (SELECT user_id, n_actual,
        |    SUM(CAST(0.6931471805599453 / ln(i + 1) AS DECIMAL(18,8))) AS idcg
        |  FROM (SELECT user_id, n_actual,
        |      unnest(generate_series(1, least(10, n_actual))) AS i FROM na)
        |  GROUP BY 1, 2)
        |SELECT idcg.user_id AS "user", idcg.n_actual,
        |  ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE), 6) AS dcg,
        |  ROUND(CAST(idcg AS DOUBLE), 6) AS idcg,
        |  ROUND(CAST(COALESCE(dcg, 0) AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg
        |FROM idcg LEFT JOIN dcg ON idcg.user_id = dcg.user_id
        |ORDER BY 1""".stripMargin),
    QuerySpec("q_coverage_at_k", qCoverageAtK,
      s"""WITH $recsSql,
        |rc AS (SELECT user_id, item_id, COUNT(*) AS n FROM recs GROUP BY 1, 2),
        |tk AS (SELECT user_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, item_id)
        |      AS rnk FROM rc QUALIFY rnk <= 3)
        |SELECT 3 AS k,
        |  (SELECT COUNT(DISTINCT item_id) FROM tk) AS n_rec_items,
        |  (SELECT COUNT(DISTINCT p_partkey) FROM part) AS n_catalog,
        |  ROUND((SELECT COUNT(DISTINCT item_id) FROM tk) * 1.0 /
        |        (SELECT COUNT(DISTINCT p_partkey) FROM part), 6)
        |    AS coverage_at_k""".stripMargin),
    QuerySpec("q_gini", qGini,
      """WITH c AS (SELECT l_partkey, COUNT(*) AS volume FROM lineitem GROUP BY 1),
        |r AS (SELECT volume,
        |    ROW_NUMBER() OVER (ORDER BY volume, l_partkey) AS rn FROM c),
        |s AS (SELECT COUNT(*) AS n, CAST(SUM(volume) AS BIGINT) AS s,
        |    CAST(SUM(rn * volume) AS BIGINT) AS srw FROM r)
        |SELECT n, s,
        |  ROUND(2.0 * srw / (n * s) - (n + 1) * 1.0 / n, 6) AS gini
        |FROM s""".stripMargin),
    QuerySpec("q_market_basket", qMarketBasket, marketBasketSql),
    QuerySpec("q_decayed_popularity", qDecayedPopularity, decayedPopularitySql),
    QuerySpec("q_loo_split", qLooSplit, looSplitSql),
    QuerySpec("q_map_at_k", qMapAtK, mapAtKSql),
    QuerySpec("q_hit_rate", qHitRate, hitRateSql),
    QuerySpec("q_serendipity", qSerendipity, serendipitySql),
    QuerySpec("q_calibration", qCalibration, calibrationSql),
    QuerySpec("q_item_cf", qItemCf, itemCfSql),
    QuerySpec("q_pop_bias", qPopBias, popBiasSql),
    QuerySpec("q_ips_precision", qIpsPrecision, ipsPrecisionSql),
    QuerySpec("q_negative_samples", qNegativeSamples, negativeSamplesSql),
    QuerySpec("q_two_hop_recs", qTwoHopRecs, twoHopRecsSql),
    QuerySpec("q_split_leakage", qSplitLeakage, splitLeakageSql),
    QuerySpec("q_rbo", qRbo, rboSql),
    QuerySpec("q_err_rank", qErrRank, errRankSql),
    QuerySpec("q_hill_tail", qHillTail, hillTailSql),
    QuerySpec("q_kendall_tau", qKendallTau, kendallTauSql),
    QuerySpec("q_lorenz_curve", qLorenzCurve, lorenzCurveSql),
    QuerySpec("q_rank_churn", qRankChurn, rankChurnSql),
    QuerySpec("q_itemsets3", qItemsets3, itemsets3Sql),
    QuerySpec("q_rank_fusion", qRankFusion, rankFusionSql),
  )
}
