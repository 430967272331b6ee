package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Relational queries over the TPC-H-idiom warehouse: OLAP aggregates,
  * semi/anti/range/as-of joins, rollups and grouping sets, physical layouts,
  * storage-format round-trips, and integrity and sharding checks.
  */
object RelationalQueries extends QueryFamily("relational") {
  import Inputs.{dec, revenueDec, revenueDecSql, scratchPath}

  /** Repeat-purchase intensity via the bucketed range join: for each order, how
    * many OTHER orders the same customer placed in the 90 days ending at (and
    * including) that order's date. Zero-count orders are kept via the left
    * join-back. The oracle uses DuckDB's plain inequality join — same semantics,
    * different algorithm.
    */
  def qRepeatOrders(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000L
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        (unix_timestamp(col("o_orderdate")) * 1000).as("pms"))
    val iv = base.select(col("o_orderkey").as("iv_orderkey"),
      col("o_custkey").as("iv_custkey"), col("pms").as("ivs"),
      (col("pms") + lit(90L * day)).as("ive"))
    val counts = RangeJoin.rangeJoinPairs(base, iv,
        "o_custkey", "iv_custkey", "pms", "ivs", "ive", bucketWidth = 90L * day)
      .filter(col("o_orderkey") =!= col("iv_orderkey"))
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("__n"))
    base.join(counts, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("__n"), lit(0L)).cast("long").as("n_prior_90d"))
      .orderBy(col("o_orderkey"))
  }

  /** Concurrent-order detection: pairs of a customer's orders whose 30-day
    * fulfillment windows overlap ([[RangeJoin.intervalOverlapPairs]] — the
    * interval×interval companion to the point-in-interval range join; each
    * pair emerges exactly once from its overlap-start bucket, no distinct).
    * The oracle is DuckDB's plain inequality self-join.
    */
  def qOrderOverlap(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000L
    val base = Tables.orders(spark, dir).select(col("o_custkey"),
        col("o_orderkey"), (unix_timestamp(col("o_orderdate")) * 1000).as("s"))
      .withColumn("e", col("s") + lit(30L * day))
    val a = base.select(col("o_custkey").as("cust_a"),
      col("o_orderkey").as("okey_a"), col("s").as("sa"), col("e").as("ea"))
    val b = base.select(col("o_custkey").as("cust_b"),
      col("o_orderkey").as("okey_b"), col("s").as("sb"), col("e").as("eb"))
    RangeJoin.intervalOverlapPairs(a, b, "cust_a", "cust_b",
        "sa", "ea", "sb", "eb", bucketWidth = 30L * day)
      .filter(col("okey_a") < col("okey_b"))
      .select(col("cust_a").as("o_custkey"), col("okey_a"), col("okey_b"),
        ((least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
          / lit(day)).cast("long").as("overlap_days"))
      .orderBy(col("o_custkey"), col("okey_a"), col("okey_b"))
  }

  val orderOverlapSql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS s,
      |    CAST(epoch(o_orderdate) AS BIGINT) * 1000 + 2592000000 AS e
      |  FROM orders)
      |SELECT a.o_custkey, a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
      |  CAST((least(a.e, b.e) - greatest(a.s, b.s)) / 86400000 AS BIGINT)
      |    AS overlap_days
      |FROM o a JOIN o b ON a.o_custkey = b.o_custkey
      |  AND a.o_orderkey < b.o_orderkey AND a.s < b.e AND b.s < a.e
      |ORDER BY a.o_custkey, okey_a, okey_b""".stripMargin

  val repeatOrdersSql: String =
    """WITH p AS (SELECT o_orderkey, o_custkey,
      |    CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS ms FROM orders)
      |SELECT a.o_orderkey, COUNT(b.o_orderkey) AS n_prior_90d
      |FROM p a LEFT JOIN p b
      |  ON a.o_custkey = b.o_custkey AND a.o_orderkey <> b.o_orderkey
      |  AND a.ms >= b.ms AND a.ms < b.ms + 7776000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** As-of join: each event picks up the most recent prior order-day aggregate of
    * its user ([[AsOfJoin.asOf]] — union + carry-forward window, one shuffle).
    * The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so the semantics (inclusive
    * bound, null when no prior order) are checked against an independent
    * first-class implementation.
    */
  def qAsofLastOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), (unix_timestamp(col("o_orderdate")) * 1000).as("oms"))
      .agg(count(lit(1)).as("n_day"),
        round(sum(Inputs.dec(col("o_totalprice"))).cast("double"), 6)
          .as("day_total"))
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ems"))
    AsOfJoin.asOf(e, o, "user_id", "o_custkey", "ems", "oms",
        Seq("oms", "n_day", "day_total"))
      .orderBy(col("event_id"))
  }

  val asofLastOrderSql: String =
    """WITH o AS (SELECT o_custkey, CAST(epoch(o_orderdate) AS BIGINT) * 1000 AS oms,
      |    COUNT(*) AS n_day,
      |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6) AS day_total
      |  FROM orders GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ems FROM events)
      |SELECT e.event_id, e.user_id, e.ems, o.oms, o.n_day, o.day_total
      |FROM e ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ems >= o.oms
      |ORDER BY e.event_id""".stripMargin

  /** The as-of whale-key guard oracle-verified: [[AsOfJoin.asOfChunked]] must
    * produce output identical to [[AsOfJoin.asOf]] (chunk-local carry-forward +
    * cross-chunk tail merge), so it runs the same query as [[qAsofLastOrder]]
    * against the same DuckDB native `ASOF LEFT JOIN` oracle.
    */
  def qAsofChunked(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"), (unix_timestamp(col("o_orderdate")) * 1000).as("oms"))
      .agg(count(lit(1)).as("n_day"),
        round(sum(Inputs.dec(col("o_totalprice"))).cast("double"), 6)
          .as("day_total"))
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ems"))
    AsOfJoin.asOfChunked(e, o, "user_id", "o_custkey", "ems", "oms",
        Seq("oms", "n_day", "day_total"), chunkMs = 86400000L)
      .orderBy(col("event_id"))
  }

  // -------------------------------------------------------------------------
  // Classic analytics (bench headliners)
  // -------------------------------------------------------------------------

  // exact DECIMAL sums for money columns — see Inputs.dec rationale

  def qPricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      // the three whole-table sums pass 1e10 at sf1.0 where a 1e-6 round
      // increment is below double ulp — round the exact decimal at 2 dp
      // and cast (r15 sf1.0 value-hash gate discipline); the per-line
      // averages stay small-magnitude doubles
      .agg(
        sum(dec(col("l_quantity"))).cast("decimal(38,2)")
          .cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("decimal(38,2)")
          .cast("double").as("sum_base_price"),
        Inputs.revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,2)").cast("double").as("sum_disc_price"),
        round(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(sum(dec(col("l_discount"))).cast("double") / count(lit(1)), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(ROUND(${Inputs.revenueDecSql}, 2) AS DOUBLE) AS sum_disc_price,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def qBrandRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      // DECIMAL-space round before the double cast: per-brand revenue
      // passes 1e10 at sf1.0, where a 1e-6 round increment sits BELOW
      // double ulp and the engines pick adjacent doubles (the r15 sf1.0
      // value-hash gate caught it); 2-dp money rounding on the exact
      // decimal is deterministic on both sides at any magnitude.
      .agg(Inputs.revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,2)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))

  val brandRevenueSql: String =
    s"""SELECT p_brand,
      |  CAST(ROUND(${Inputs.revenueDecSql}, 2) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCD-type-2 history build over the event stream ([[Runs.collapseRuns]]):
    * per user, collapse consecutive same-event_type events into validity
    * intervals with the next run's start as the exclusive upper bound.
    */
  def qScd2Runs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
    Runs.collapseRuns(e, "user_id", "ms", "event_id", "event_type")
      .orderBy(col("user_id"), col("run_id"))
  }

  val scd2RunsSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events),
      |f AS (SELECT user_id, ms, event_id, event_type,
      |    CASE WHEN ROW_NUMBER() OVER w = 1
      |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |r AS (SELECT user_id, event_type, ms,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM f),
      |c AS (SELECT user_id, run_id, MAX(event_type) AS value, MIN(ms) AS valid_from,
      |    MAX(ms) AS valid_to, COUNT(*) AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, run_id, value, valid_from, valid_to,
      |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_until,
      |  n_events
      |FROM c ORDER BY user_id, run_id""".stripMargin

  /** Feature-store point-in-time join: every order picks up the user state
    * that was valid AT order time — the composition of [[Runs.collapseRuns]]
    * (SCD2 dimension from the event log) with [[AsOfJoin.asOf]] (as-of ON the
    * run's valid_from; runs tile each key's timeline, so as-of ≡ interval
    * containment — the oracle states it as BETWEEN-style containment and the
    * hash compare proves the equivalence). Orders before a user's first event,
    * or for users with no events, get null state — exactly what a leakage-safe
    * training-feature join must do (no future peeking).
    */
  def qPitJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"),
      unix_millis(col("ts")).as("ms"), col("event_id"), col("event_type"))
    val dim = Runs.collapseRuns(e, "user_id", "ms", "event_id", "event_type")
      .select(col("user_id"), col("run_id"), col("value"), col("valid_from"))
    val facts = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_custkey"), (unix_timestamp(col("o_orderdate")) * 1000).as("oms"))
    AsOfJoin.asOf(facts, dim, "o_custkey", "user_id", "oms", "valid_from",
        Seq("run_id", "value"))
      .select(col("o_orderkey"), col("o_custkey"), col("oms"),
        col("run_id"), col("value"))
      .orderBy(col("o_orderkey"))
  }

  /** The scd2 runs CTEs of [[scd2RunsSql]], reusable: yields `runs`
    * (user_id, run_id, value, valid_from, valid_until).
    */
  private val scd2RunsCtes =
    """e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events),
      |f AS (SELECT user_id, ms, event_id, event_type,
      |    CASE WHEN ROW_NUMBER() OVER w = 1
      |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |r AS (SELECT user_id, event_type, ms,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
      |  FROM f),
      |c AS (SELECT user_id, run_id, MAX(event_type) AS value, MIN(ms) AS valid_from
      |  FROM r GROUP BY 1, 2),
      |runs AS (SELECT user_id, run_id, value, valid_from,
      |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_until
      |  FROM c)""".stripMargin

  val pitJoinSql: String =
    s"""WITH $scd2RunsCtes
      |SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) AS oms,
      |  runs.run_id, runs.value
      |FROM orders LEFT JOIN runs ON o_custkey = runs.user_id
      |  AND runs.valid_from <= epoch_ms(o_orderdate)
      |  AND (runs.valid_until IS NULL OR epoch_ms(o_orderdate) < runs.valid_until)
      |ORDER BY o_orderkey""".stripMargin

  /** Join-key skew diagnostic — the report that decides whether a join needs
    * salting BEFORE it runs: per-key frequency profile of lineitem's part key
    * (key count, max/avg per key, the hottest key's share, how many keys run
    * hot). Two aggregations; the per-key table partial-aggregates map-side.
    */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val stats = perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("total_rows"),
      max(col("n")).as("max_per_key"),
      avg(col("n")).as("__avg"))
    val hot = perKey
      .crossJoin(broadcast(stats.select(col("__avg"))))
      .filter(col("n") > col("__avg") * 2)
      .agg(count(lit(1)).as("n_hot_keys"))
    stats.crossJoin(broadcast(hot))
      .select(col("n_keys"), col("total_rows"), col("max_per_key"),
        round(col("__avg"), 6).as("avg_per_key"),
        round(col("max_per_key").cast("double") / col("total_rows"), 6)
          .as("top1_share"),
        col("n_hot_keys"))
  }

  val skewReportSql: String =
    """WITH k AS (SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS total_rows,
      |    CAST(MAX(n) AS BIGINT) AS max_per_key,
      |    ROUND(AVG(n * 1.0), 6) AS avg_per_key,
      |    MAX(n) * 1.0 / SUM(n) AS t1, AVG(n * 1.0) AS av FROM k)
      |SELECT n_keys, total_rows, max_per_key, avg_per_key,
      |  ROUND(t1, 6) AS top1_share,
      |  (SELECT COUNT(*) FROM k, s WHERE n > av * 2) AS n_hot_keys
      |FROM s""".stripMargin

  /** Gap-free hourly series: a calendar spine from `sequence(min, max, 1h)`
    * left-joins the hourly counts so missing hours surface as explicit zeros —
    * the densification a downstream time-series model needs. The spine explodes
    * from a 1-row min/max aggregate (no driver-side range building).
    */
  def qEventHourlyDense(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"))
      .agg(count(lit(1)).as("n_events"))
    val spine = Tables.events(spark, dir)
      .agg(unix_timestamp(date_trunc("hour", min(col("ts")))).as("lo"),
        unix_timestamp(date_trunc("hour", max(col("ts")))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hour_start"))
    spine.join(hourly, Seq("hour_start"), "left")
      .select(col("hour_start"), coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("hour_start"))
  }

  val eventHourlyDenseSql: String =
    """WITH h AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
      |    COUNT(*) AS n_events FROM events GROUP BY 1),
      |b AS (SELECT CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) AS lo,
      |    CAST(epoch(date_trunc('hour', MAX(ts))) AS BIGINT) AS hi FROM events),
      |sp AS (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_start FROM b)
      |SELECT sp.hour_start, COALESCE(h.n_events, 0) AS n_events
      |FROM sp LEFT JOIN h ON sp.hour_start = h.hour_start
      |ORDER BY sp.hour_start""".stripMargin

  /** Month-over-month customer churn from the order log: for every month,
    * how many of the previous month's active customers did not come back.
    * Distinct (customer, month) activity (≪ orders), one self-join on
    * (customer, month+1), per-month aggregates — no windows over users.
    */
  def qChurn(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("m"))
      .distinct()
    val nxt = act.select(col("cust"), (col("m") - 1).as("m"))
    val retained = act.join(nxt, Seq("cust", "m"))
      .groupBy(col("m")).agg(count(lit(1)).as("n_retained"))
    val monthly = act.groupBy(col("m")).agg(count(lit(1)).as("n_active"))
    val lastMonth = act.agg(max(col("m")).as("mx"))
    monthly.join(retained, Seq("m"), "left")
      .crossJoin(broadcast(lastMonth))
      .filter(col("m") < col("mx")) // the final month has no successor to churn into
      .select(col("m"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        (col("n_active") - coalesce(col("n_retained"), lit(0L))).as("n_churned"),
        round((col("n_active") - coalesce(col("n_retained"), lit(0L)))
          .cast("double") / col("n_active"), 6).as("churn_rate"))
      .orderBy(col("m"))
  }

  val churnSql: String =
    """WITH act AS (SELECT DISTINCT o_custkey AS cust,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m FROM orders),
      |nxt AS (SELECT cust, m - 1 AS m FROM act),
      |ret AS (SELECT act.m, COUNT(*) AS n_retained
      |  FROM act JOIN nxt ON act.cust = nxt.cust AND act.m = nxt.m GROUP BY 1),
      |mon AS (SELECT m, COUNT(*) AS n_active FROM act GROUP BY 1),
      |mx AS (SELECT MAX(m) AS mx FROM act)
      |SELECT mon.m, n_active, COALESCE(n_retained, 0) AS n_retained,
      |  n_active - COALESCE(n_retained, 0) AS n_churned,
      |  ROUND((n_active - COALESCE(n_retained, 0)) * 1.0 / n_active, 6)
      |    AS churn_rate
      |FROM mon LEFT JOIN ret ON mon.m = ret.m CROSS JOIN mx
      |WHERE mon.m < mx ORDER BY mon.m""".stripMargin

  /** RFM segmentation per market: recency / frequency / monetary quartiles
    * WITHIN each nation (windows partitioned by nation — parallel across
    * markets, no global NTILE) and the 3-digit segment code. The classic
    * customer-value segmentation, deterministic via (metric, custkey) total
    * orders.
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (unix_timestamp(col("o_orderdate")) / 86400L).cast("long").as("day"),
        Inputs.dec(col("o_totalprice")).as("price"))
    val anchor = o.agg(max(col("day")).as("max_day"))
    val perCust = o.groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("frequency"),
        sum(col("price")).as("monetary_dec"))
      .crossJoin(broadcast(anchor))
      .select(col("o_custkey"), (col("max_day") - col("last_day")).as("recency"),
        col("frequency"), col("monetary_dec"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    def q(metric: org.apache.spark.sql.Column, asc: Boolean) = {
      val ordered = if (asc) Window.partitionBy(col("c_nationkey"))
        .orderBy(metric, col("o_custkey"))
      else Window.partitionBy(col("c_nationkey"))
        .orderBy(metric.desc, col("o_custkey"))
      ntile(4).over(ordered)
    }
    perCust
      .select(col("o_custkey").as("custkey"), col("c_nationkey").as("nation"),
        col("recency"), col("frequency"),
        round(col("monetary_dec").cast("double"), 2).as("monetary"),
        q(col("recency"), asc = true).as("r_q"), // low recency = best → quartile 1
        q(col("frequency"), asc = false).as("f_q"),
        q(col("monetary_dec"), asc = false).as("m_q"))
      .withColumn("segment",
        concat(col("r_q").cast("string"), col("f_q").cast("string"),
          col("m_q").cast("string")))
      .orderBy(col("custkey"))
  }

  val rfmSql: String =
    """WITH o AS (SELECT o_custkey,
      |    CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS price FROM orders),
      |a AS (SELECT MAX(day) AS max_day FROM o),
      |pc AS (SELECT o_custkey, MAX(day) AS last_day, COUNT(*) AS frequency,
      |    SUM(price) AS monetary_dec FROM o GROUP BY 1),
      |j AS (SELECT o_custkey, max_day - last_day AS recency, frequency,
      |    monetary_dec, c_nationkey
      |  FROM pc CROSS JOIN a JOIN customer ON o_custkey = c_custkey)
      |SELECT o_custkey AS custkey, c_nationkey AS nation, recency, frequency,
      |  ROUND(CAST(monetary_dec AS DOUBLE), 2) AS monetary,
      |  NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY recency, o_custkey) AS r_q,
      |  NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY frequency DESC, o_custkey) AS f_q,
      |  NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY monetary_dec DESC, o_custkey) AS m_q,
      |  CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY recency, o_custkey) AS VARCHAR) ||
      |  CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY frequency DESC, o_custkey) AS VARCHAR) ||
      |  CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY monetary_dec DESC, o_custkey) AS VARCHAR)
      |    AS segment
      |FROM j ORDER BY custkey""".stripMargin

  /** Q3-like shipping priority: top-20 open orders by potential revenue for one
    * market segment (orders placed before the cutoff, lines shipped after it).
    */
  def qShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-06-01 00:00:00"
    Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(revenueDec(col("l_extendedprice"), col("l_discount")).as("rev"))
      .select(col("o_orderkey"),
        round(col("rev").cast("double"), 6).as("revenue"), col("rev"),
        unix_timestamp(col("o_orderdate")).as("orderdate_epoch"),
        col("o_orderpriority"))
      .orderBy(col("rev").desc, col("o_orderkey"))
      .limit(20)
      .drop("rev")
  }

  val shippingPrioritySql: String =
    s"""SELECT o_orderkey,
      |  ROUND(CAST($revenueDecSql AS DOUBLE), 6) AS revenue,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_epoch, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY $revenueDecSql DESC, o_orderkey LIMIT 20""".stripMargin

  /** Q5-like local supplier volume: revenue per nation from orders where the customer
    * and the line's supplier share the nation, for one region.
    */
  def qLocalSupplierVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "AMERICA")
      .groupBy(col("n_name"))
      // per-nation volume passes 1e10 at sf1.0 — decimal-space 2-dp round
      .agg(revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,2)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"))

  val localSupplierVolumeSql: String =
    s"""SELECT n_name,
      |  CAST(ROUND($revenueDecSql, 2) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'AMERICA'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Q10-like returned-item losses: per customer, revenue on lines flagged returned. */
  def qReturnedItemLosses(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(round(revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("double"), 6).as("lost_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("c_custkey"))

  val returnedItemLossesSql: String =
    s"""SELECT c_custkey, c_mktsegment,
      |  ROUND(CAST($revenueDecSql AS DOUBLE), 6) AS lost_revenue,
      |  COUNT(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin

  /** Q15-like top supplier per brand: argmax-per-group via a rank-1 window over the
    * aggregated revenue — the window partitions by brand (parallel), never globally.
    * Ranking key is the EXACT decimal revenue (ties broken by s_suppkey), so Spark
    * and DuckDB pick the same winner even when doubles would tie.
    */
  def qTopSupplierBrand(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_brand"), col("s_suppkey"), col("s_name"))
      .agg(revenueDec(col("l_extendedprice"), col("l_discount")).as("rev"))
    val byBrand = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev").desc, col("s_suppkey"))
    g.withColumn("rnk", row_number().over(byBrand))
      .filter(col("rnk") === 1)
      .select(col("p_brand"), col("s_suppkey"), col("s_name"),
        round(col("rev").cast("double"), 6).as("revenue"))
      .orderBy(col("p_brand"))
  }

  val topSupplierBrandSql: String =
    s"""WITH g AS (SELECT p_brand, s_suppkey, s_name, $revenueDecSql AS rev
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY p_brand, s_suppkey, s_name),
      |r AS (SELECT p_brand, s_suppkey, s_name, rev,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY rev DESC, s_suppkey) AS rnk
      |  FROM g)
      |SELECT p_brand, s_suppkey, s_name, ROUND(CAST(rev AS DOUBLE), 6) AS revenue
      |FROM r WHERE rnk = 1 ORDER BY p_brand""".stripMargin

  /** Per-customer order cadence: lag window partitioned by customer (parallel across
    * customers, no global sort), average gap in days between consecutive orders.
    * Only customers with ≥ 2 orders appear.
    */
  def qOrderGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val epochDay = unix_timestamp(col("o_orderdate")).cast("double") / 86400.0
    Tables.orders(spark, dir)
      .withColumn("gap_days", epochDay - lag(epochDay, 1).over(byCust))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(avg(col("gap_days")), 6).as("avg_gap_days"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("o_custkey"))
  }

  val orderGapsSql: String =
    """WITH o AS (SELECT o_custkey, o_orderkey,
      |    CAST(epoch(o_orderdate) AS DOUBLE) / 86400.0 AS d FROM orders),
      |g AS (SELECT o_custkey,
      |    d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS gap_days
      |  FROM o)
      |SELECT o_custkey, COUNT(*) AS n_orders,
      |  ROUND(AVG(gap_days), 6) AS avg_gap_days
      |FROM g GROUP BY o_custkey HAVING COUNT(*) >= 2 ORDER BY o_custkey""".stripMargin

  /** Q4-idiom semi-join: orders having at least one returned line, counted per
    * priority. `left_semi` never materializes the match — each order contributes
    * once no matter how many lines matched (broadcast/shuffled hash semi at the
    * physical layer); the oracle states the same thing as EXISTS.
    */
  def qOrdersWithReturns(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val ordersWithReturnsSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Anti-join: customers who never placed an order, per market segment
    * (`left_anti` ⇔ NOT EXISTS).
    */
  def qCustomersNoOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  val customersNoOrdersSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Revenue subtotals at three grain levels in one pass — GROUP BY ROLLUP
    * ((brand), (brand, type), ()). Spark expands grouping sets inside a
    * single hash aggregate (one shuffle keyed on the grouping-set id + keys),
    * not one job per level. NULL grouping markers are normalized to 'ALL' so
    * both engines order and hash identically.
    */
  def qRevenueRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .rollup(col("p_brand"), col("p_type"))
      // round in DECIMAL space FIRST, then cast: rounding the DOUBLE at the
      // grand total's ~3e9 magnitude is a knife edge (the r15 sf1.0 hash
      // gate caught .36 vs .37 on a half-cent boundary the two engines'
      // double round() resolved differently); the decimal round is exact
      // and identical (HALF_UP both sides), and both engines then convert
      // the SAME 2-dp decimal to its nearest double.
      .agg(revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,2)").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .select(coalesce(col("p_brand"), lit("ALL")).as("brand"),
        coalesce(col("p_type"), lit("ALL")).as("ptype"),
        col("revenue"), col("n_lines"))
      .orderBy(col("brand"), col("ptype"))

  val revenueRollupSql: String =
    s"""SELECT COALESCE(p_brand, 'ALL') AS brand,
      |  COALESCE(p_type, 'ALL') AS ptype,
      |  CAST(ROUND($revenueDecSql, 2) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY ROLLUP(p_brand, p_type)
      |ORDER BY 1, 2""".stripMargin

  /** Full CUBE over (status, priority) — all four grain levels in one hash
    * aggregate (grouping-set expansion, one shuffle), completing the
    * multi-grain family next to [[qRevenueRollup]] (ROLLUP) and the explicit
    * grouping-sets query. 2-dp money rounding for the same ulp reason.
    */
  def qOrderCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("total"),
        count(lit(1)).as("n_orders"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total"), col("n_orders"))
      .orderBy(col("status"), col("priority"))

  val orderCubeSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY 1, 2""".stripMargin

  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** Hourly event-type matrix via `pivot` with an EXPLICIT value list — the
    * scale-safe pivot form (no distinct-value collect to the driver; one hash
    * aggregate with 5 conditional counts). The oracle states the same thing as
    * conditional aggregation.
    */
  def qEventPivot(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .withColumn("window_start",
        unix_timestamp(date_trunc("hour", col("ts"))))
      .groupBy(col("window_start"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
    eventTypes.foldLeft(hourly) { (df, t) =>
      df.withColumnRenamed(t, s"n_$t")
    }.na.fill(0L, eventTypes.map(t => s"n_$t"))
      .orderBy(col("window_start"))
  }

  val eventPivotSql: String = {
    val cols = eventTypes.map { t =>
      s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS n_$t"
    }.mkString(", ")
    s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      |  $cols
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Churn-model label + feature builder: per (user, month) activity with the
    * churned-next-month label — the supervised-training counterpart of
    * `q_churn`'s aggregate rates. Leakage-free by construction: features come
    * from month M only, the label from M+1, and the final month (whose label
    * is unobservable) is excluded via a broadcast 1-row horizon.
    */
  def qChurnLabels(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val m = o.groupBy(col("o_custkey").as("user_id"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(Inputs.dec(col("o_totalprice"))).cast("double"), 6)
          .as("spend"))
    val horizon = m.agg(max(col("month")).as("max_m"))
    val nextActive = m.select(col("user_id"),
        add_months(col("month"), -1).as("month"))
      .distinct().withColumn("next_flag", lit(true))
    m.join(nextActive, Seq("user_id", "month"), "left")
      .crossJoin(broadcast(horizon))
      .filter(col("month") < col("max_m"))
      .select(col("user_id"), col("month"), col("n_orders"), col("spend"),
        coalesce(col("next_flag"), lit(false)).as("active_next"),
        col("next_flag").isNull.as("churned"))
      .orderBy(col("user_id"), col("month"))
  }

  val churnLabelsSql: String =
    """WITH m AS (SELECT o_custkey AS user_id,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    COUNT(*) AS n_orders,
      |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6)
      |      AS spend
      |  FROM orders GROUP BY 1, 2),
      |mx AS (SELECT MAX(month) AS max_m FROM m),
      |nx AS (SELECT DISTINCT user_id,
      |    CAST(month - INTERVAL 1 MONTH AS DATE) AS month FROM m)
      |SELECT m.user_id, m.month, m.n_orders, m.spend,
      |  (nx.user_id IS NOT NULL) AS active_next,
      |  (nx.user_id IS NULL) AS churned
      |FROM m CROSS JOIN mx
      |LEFT JOIN nx ON m.user_id = nx.user_id AND m.month = nx.month
      |WHERE m.month < mx.max_m
      |ORDER BY m.user_id, m.month""".stripMargin

  /** Order-to-ship latency percentiles per order priority — the operational
    * SLA view (does URGENT actually ship faster?). Exact p50/p90 over the
    * per-line day lag, grouped by the priority dimension.
    */
  def qShipLatency(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("double")
          .as("lag_days"))
    x.groupBy(col("priority"))
      .agg(count(lit(1)).as("n_lines"),
        round(percentile(col("lag_days"), lit(0.5)), 6).as("p50_days"),
        round(percentile(col("lag_days"), lit(0.9)), 6).as("p90_days"),
        round(max(col("lag_days")), 6).as("max_days"))
      .orderBy(col("priority"))
  }

  val shipLatencySql: String =
    """WITH x AS (SELECT o_orderpriority AS priority,
      |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS DOUBLE)
      |      AS lag_days
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT priority, COUNT(*) AS n_lines,
      |  ROUND(QUANTILE_CONT(lag_days, 0.5), 6) AS p50_days,
      |  ROUND(QUANTILE_CONT(lag_days, 0.9), 6) AS p90_days,
      |  ROUND(MAX(lag_days), 6) AS max_days
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** Order basket-size distribution: how many orders carry k lines, with the
    * cumulative order share — the shape parameter behind every co-purchase
    * operator's cost model (wedge counts grow with Σ basket²).
    */
  def qBasketSizeDist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("basket_size"))
      .groupBy(col("basket_size")).agg(count(lit(1)).as("n_orders"))
    val total = sizes.agg(sum(col("n_orders")).as("n_total"))
    val w = Window.orderBy(col("basket_size"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the distribution table is bounded by max basket size — tiny; the
    // single-partition cumulative window is safe by construction
    sizes.crossJoin(broadcast(total))
      .select(col("basket_size"), col("n_orders"),
        sum(col("n_orders")).over(w).as("cum_orders"),
        round(sum(col("n_orders")).over(w).cast("double") / col("n_total"), 6)
          .as("cum_share"))
      .orderBy(col("basket_size"))
  }

  val basketSizeDistSql: String =
    """WITH s AS (SELECT l_orderkey, COUNT(*) AS basket_size FROM lineitem
      |  GROUP BY 1),
      |d AS (SELECT basket_size, COUNT(*) AS n_orders FROM s GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM d)
      |SELECT basket_size, n_orders,
      |  CAST(SUM(n_orders) OVER w AS BIGINT) AS cum_orders,
      |  ROUND(CAST(SUM(n_orders) OVER w AS DOUBLE) / t.n_total, 6) AS cum_share
      |FROM d CROSS JOIN t
      |WINDOW w AS (ORDER BY basket_size ROWS BETWEEN UNBOUNDED PRECEDING
      |  AND CURRENT ROW)
      |ORDER BY basket_size""".stripMargin

  /** Referential-integrity audit across the warehouse's FK chains — the
    * data-quality gate a pipeline runs on every drop (generated data is
    * clean, so the sf oracle run is a zero-orphans regression check; the
    * orphan-detection logic itself, NULL child keys included, is
    * fixture-tested in RelationalQueriesSpec, next to the
    * q_customers_no_orders precedent).
    */
  def qFkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // ONE pass per child: LEFT join against the parent's DISTINCT keys
    // (exact even if a parent key were ever duplicated) and count rows +
    // unmatched rows in the same aggregate. The previous shape scanned
    // every child twice (anti join for orphans + a separate total count)
    // and crossJoined the two 1-row aggregates — 14 child scans for 7
    // relations; this is 7.
    def audit(child: DataFrame, childKey: String, parent: DataFrame,
              parentKey: String, relation: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey)).distinct(),
          col(childKey) === col(parentKey), "left")
        .agg(count(lit(1)).as("n_child"),
          count(when(col(parentKey).isNull, 1)).as("n_orphans"))
        .select(lit(relation).as("relation"), col("n_child"), col("n_orphans"))
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    Seq(
      audit(l, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
      audit(l, "l_partkey", Tables.part(spark, dir), "p_partkey", "lineitem->part"),
      audit(l, "l_suppkey", s, "s_suppkey", "lineitem->supplier"),
      audit(o, "o_custkey", c, "c_custkey", "orders->customer"),
      audit(c, "c_nationkey", n, "n_nationkey", "customer->nation"),
      audit(s, "s_nationkey", n, "n_nationkey", "supplier->nation"),
      audit(n, "n_regionkey", r, "r_regionkey", "nation->region")
    ).reduce(_ unionAll _).orderBy(col("relation"))
  }

  val fkIntegritySql: String = {
    val rels = Seq(
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
    rels.map { case (rel, ct, ck, pt, pk) =>
      // NULL-safe orphan predicate: the engine's left join counts a NULL
      // child key as an orphan (it can never match a parent); plain NOT IN
      // would silently exclude it (NULL NOT IN ... is NULL), and a NULL
      // parent key would nuke the whole NOT IN — filter both explicitly
      s"""SELECT '$rel' AS relation,
         |  (SELECT COUNT(*) FROM $ct) AS n_child,
         |  (SELECT COUNT(*) FROM $ct WHERE $ck IS NULL OR $ck NOT IN
         |    (SELECT $pk FROM $pt WHERE $pk IS NOT NULL)) AS n_orphans""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  /** Changelog compaction of the event stream to current per-user state;
    * users whose LATEST event is an error are tombstoned out.
    */
  def qUpsertCompact(spark: SparkSession, dir: String): DataFrame =
    Compaction.compactLatest(Tables.events(spark, dir),
        Seq("user_id"), Seq("ts", "event_id"),
        tombstone = col("event_type") === "error")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"), col("n_versions"))
      .orderBy(col("user_id"))

  val upsertCompactSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
      |    value FROM events),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_us DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions FROM e)
      |SELECT user_id, ts_us, event_id, event_type,
      |  ROUND(value, 6) AS value, n_versions
      |FROM r WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------------------
  // Z-order layout audit over part (size × price-bucket)
  // -------------------------------------------------------------------------

  private val zBits = 6

  private val zCoarse = 4

  /** Morton-key locality audit: 6-bit p_size × 6-bit price bucket, grouped
    * into zvalue >> 4 "files"; each bucket's min/max rectangle shows both
    * dimensions pruning.
    */
  def qZorder(spark: SparkSession, dir: String): DataFrame =
    Layout.zorderAudit(
        Tables.part(spark, dir)
          .withColumn("pb", expr("(CAST(FLOOR(p_retailprice) AS BIGINT) - 900) div 2")),
        col("p_size"), col("pb"), bits = zBits, coarseBits = zCoarse)
      .orderBy(col("z_bucket"))

  val zorderSql: String = {
    val interleave = (0 until zBits).flatMap { b =>
      Seq(s"((((x >> $b) & 1)) << ${2 * b})", s"((((y >> $b) & 1)) << ${2 * b + 1})")
    }.mkString(" | ")
    s"""WITH d AS (SELECT CAST(p_size AS BIGINT) AS x,
      |    (CAST(FLOOR(p_retailprice) AS BIGINT) - 900) // 2 AS y FROM part),
      |z AS (SELECT x, y, ($interleave) AS z FROM d)
      |SELECT z >> $zCoarse AS z_bucket, COUNT(*) AS n,
      |  MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
      |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -------------------------------------------------------------------------
  // Skew-salted join (output-identical to the plain join, by construction)
  // -------------------------------------------------------------------------

  /** Brand revenue through [[Layout.saltedJoin]] — the oracle is the PLAIN
    * join: salting must never change the match set.
    */
  def qSaltedBrandRev(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("partkey"),
        col("l_extendedprice"), col("l_discount"))
    val small = Tables.part(spark, dir)
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    Layout.saltedJoin(big, small, Seq("partkey"), saltFactor = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        // per-brand revenue passes 1e10 at sf1.0 — decimal-space round
        Inputs.revenueDec(col("l_extendedprice"), col("l_discount"))
          .cast("decimal(38,2)").cast("double").as("revenue"))
      .orderBy(col("p_brand"))
  }

  val saltedBrandRevSql: String =
    s"""SELECT p_brand, COUNT(*) AS n_lines,
      |  CAST(ROUND(${Inputs.revenueDecSql}, 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Market-share OLAP (TPC-H Q8 / Q14 idiom)
  // -------------------------------------------------------------------------

  /** Q8-like national market share: per order year, the revenue share
    * supplied by nation-1 suppliers.
    *
    * Exactness: revenue is carried as integer 1e-4 currency units
    * (price-cents × (100 − discount-pct-cents)), so `total_revenue` is a
    * plain BIGINT on both engines — the round-8 driver red row was a
    * cross-environment DECIMAL(18,4)-representation divergence on the raw
    * decimal grand total, which integer units remove entirely. The share is
    * the repo's one fixed-order double formula, ROUND(nat/total, 6).
    */
  def qMarketShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(rev).as("total"),
        sum(when(col("s_nationkey") === 1, rev).otherwise(lit(0L))).as("nat"))
      .select(col("o_year"),
        col("total").as("total_revenue"),
        round(col("nat").cast("double") / col("total").cast("double"), 6)
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  val marketShareSql: String =
    """WITH a AS (SELECT YEAR(o_orderdate) AS o_year,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
      |        (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS total,
      |    CAST(SUM(CASE WHEN s_nationkey = 1
      |        THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
      |             (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
      |        ELSE 0 END) AS BIGINT) AS nat
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1)
      |SELECT o_year, total AS total_revenue,
      |  ROUND(CAST(nat AS DOUBLE) / CAST(total AS DOUBLE), 6) AS mkt_share
      |FROM a ORDER BY o_year""".stripMargin

  /** Q14-like promo effect: per ship month, the percent of revenue from
    * PROMO-type parts.
    */
  def qPromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = Inputs.dec _
    val rev = dec(col("l_extendedprice")) *
      (lit(1).cast("decimal(18,4)") - dec(col("l_discount")))
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("o_month"))
      .agg(
        sum(rev).as("total"),
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo"))
      .select(col("o_month"),
        round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 6).as("promo_pct"))
      .orderBy(col("o_month"))
  }

  val promoRevenueSql: String =
    """WITH a AS (SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS o_month,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |        (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total,
      |    SUM(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
      |             (1 - CAST(l_discount AS DECIMAL(18,4)))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT o_month,
      |  ROUND(100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 6)
      |    AS promo_pct
      |FROM a ORDER BY o_month""".stripMargin

  // --------------------------------------------------------------------------
  // Waiting suppliers (TPC-H Q21 idiom: correlated EXISTS + NOT EXISTS)
  // --------------------------------------------------------------------------

  /** Suppliers who single-handedly held up finalized multi-supplier orders:
    * their line shipped >60 days after the order date (late) while EVERY
    * other supplier on the order shipped on time. The Q21 plan shape —
    * one semi join (another supplier exists) + one anti join (no other late
    * supplier) over the same fact table, both equi-keyed on the order with a
    * supplier-inequality residual — exercises exactly the correlated-
    * subquery planning a warehouse engine must get right.
    */
  def qWaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .select(col("l_orderkey"), col("l_suppkey"))
    val hasOther = late.join(
      l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
      col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"),
      "left_semi")
    val soleLate = hasOther.join(
      late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
      col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"),
      "left_anti")
    soleLate.join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name")).limit(20)
  }

  val waitingSuppliersSql: String =
    """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders
      |  WHERE o_orderstatus = 'F'),
      |late AS (SELECT l_orderkey, l_suppkey
      |  FROM lineitem JOIN f ON l_orderkey = o_orderkey
      |  WHERE date_diff('day', CAST(o_orderdate AS DATE),
      |    CAST(l_shipdate AS DATE)) > 60)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late t JOIN supplier ON t.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem x
      |    WHERE x.l_orderkey = t.l_orderkey AND x.l_suppkey <> t.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late y
      |    WHERE y.l_orderkey = t.l_orderkey AND y.l_suppkey <> t.l_suppkey)
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // Deletion-propagation sweep (right-to-be-forgotten impact audit)
  // --------------------------------------------------------------------------

  /** Given a deterministic user blacklist (custkey % 97 = 0, standing in for
    * a deletion-request table), count the rows each table must drop —
    * cascading through the FK chain (lineitem is reached via its orders).
    * The audit every deletion pipeline runs before executing: the actual
    * deletes are anti-joins with exactly these join shapes.
    */
  def qDeletionSweep(spark: SparkSession, dir: String): DataFrame = {
    val bl = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("uid"))
    val o = Tables.orders(spark, dir)
    val delOrders = o.join(broadcast(bl), col("o_custkey") === col("uid"))
    def cnt(df: DataFrame, rel: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows")).select(lit(rel).as("relation"),
        col("n_rows"))
    cnt(bl, "customer")
      .unionByName(cnt(delOrders, "orders"))
      .unionByName(cnt(Tables.lineitem(spark, dir)
        .join(delOrders.select(col("o_orderkey").as("dok")),
          col("l_orderkey") === col("dok")), "lineitem"))
      .unionByName(cnt(Tables.events(spark, dir)
        .join(broadcast(bl), col("user_id") === col("uid")), "events"))
      .orderBy(col("relation"))
  }

  val deletionSweepSql: String =
    """WITH bl AS (SELECT c_custkey AS uid FROM customer WHERE c_custkey % 97 = 0),
      |do_ AS (SELECT o_orderkey FROM orders JOIN bl ON o_custkey = uid)
      |SELECT 'customer' AS relation, COUNT(*) AS n_rows FROM bl
      |UNION ALL SELECT 'orders', COUNT(*) FROM do_
      |UNION ALL SELECT 'lineitem', COUNT(*)
      |  FROM lineitem JOIN do_ ON l_orderkey = o_orderkey
      |UNION ALL SELECT 'events', COUNT(*)
      |  FROM events JOIN bl ON user_id = uid
      |ORDER BY relation""".stripMargin

  // --------------------------------------------------------------------------
  // Data-contract gate: many rules, ONE scan
  // --------------------------------------------------------------------------

  /** Schema/constraint gate over lineitem as conditional aggregates in a
    * single scan — the shape that matters at 100 TB: N rules cost one pass,
    * not N. Generated data is clean, so the oracle run doubles as a
    * zero-violations regression; the rule logic itself is fixture-tested.
    */
  def qDataContract(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    def viol(cond: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(cond, 1L).otherwise(0L))
    val wide = l.agg(
      count(lit(1)).as("n_rows"),
      viol(col("l_quantity") <= 0 || col("l_quantity") > 60)
        .as("quantity_range"),
      viol(col("l_discount") < 0 || col("l_discount") > 0.2)
        .as("discount_range"),
      viol(!col("l_returnflag").isin("A", "N", "R")).as("returnflag_enum"),
      viol(col("l_extendedprice").isNull || col("l_extendedprice") <= 0)
        .as("price_positive"),
      viol(col("l_shipdate").isNull).as("shipdate_null"))
    wide.select(explode(array(
        Seq(("quantity_range", col("quantity_range")),
          ("discount_range", col("discount_range")),
          ("returnflag_enum", col("returnflag_enum")),
          ("price_positive", col("price_positive")),
          ("shipdate_null", col("shipdate_null"))).map { case (n, c) =>
          struct(lit(n).as("rule"), col("n_rows"), c.as("n_violations"))
        }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_rows"), col("r.n_violations"))
      .orderBy(col("rule"))
  }

  val dataContractSql: String =
    """WITH w AS (SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 60
      |    THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
      |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.2
      |    THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
      |  CAST(SUM(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_enum,
      |  CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
      |  CAST(SUM(CASE WHEN l_shipdate IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_null
      |  FROM lineitem)
      |SELECT 'discount_range' AS rule, n_rows, discount_range AS n_violations
      |  FROM w
      |UNION ALL SELECT 'price_positive', n_rows, price_positive FROM w
      |UNION ALL SELECT 'quantity_range', n_rows, quantity_range FROM w
      |UNION ALL SELECT 'returnflag_enum', n_rows, returnflag_enum FROM w
      |UNION ALL SELECT 'shipdate_null', n_rows, shipdate_null FROM w
      |ORDER BY rule""".stripMargin

  // --------------------------------------------------------------------------
  // Pareto skyline
  // --------------------------------------------------------------------------

  /** Parts on the (retail price ↓, size ↑) Pareto frontier
    * ([[Skyline.skyline2d]] — histogram-pruned, no quadratic self-join). The
    * oracle re-derives the frontier from the distinct-price scaffold alone.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame =
    Skyline.skyline2d(
        Tables.part(spark, dir)
          .select(col("p_partkey"), col("p_retailprice"), col("p_size")),
        "p_retailprice", "p_size")
      .orderBy(col("p_partkey"))

  val skylineSql: String =
    """WITH px AS (SELECT p_retailprice AS x, MAX(p_size) AS maxy
      |  FROM part GROUP BY 1),
      |sc AS (SELECT x, maxy, MAX(maxy) OVER (ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strict
      |  FROM px)
      |SELECT p.p_partkey, p.p_retailprice, p.p_size
      |FROM part p JOIN sc ON p.p_retailprice = sc.x
      |WHERE (sc.strict IS NULL OR sc.strict < p.p_size)
      |  AND sc.maxy <= p.p_size
      |ORDER BY p.p_partkey""".stripMargin

  // --------------------------------------------------------------------------
  // Incremental rollup maintenance
  // --------------------------------------------------------------------------

  /** Base rollup over 3/4 of the event stream merged with the remaining 1/4
    * as a late-arriving delta ([[graft.ext.Compaction.incrementalRollup]]);
    * the oracle recomputes the rollup from scratch over ALL events, so the
    * merge algebra itself is what's checked.
    */
  def qIncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"),
        col("event_id"))
    val base = ev.filter(col("event_id") % 4 < 3)
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("vm")).as("s"))
    val delta = ev.filter(col("event_id") % 4 === 3)
    graft.ext.Compaction
      .incrementalRollup(base, delta, Seq("event_type", "day"), "vm")
      .select(col("event_type"), col("day"), col("n"),
        col("s").cast("long").as("s_micro"))
      .orderBy(col("event_type"), col("day"))
  }

  val incrementalRollupSql: String =
    """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm FROM events)
      |SELECT event_type, day, COUNT(*) AS n, CAST(SUM(vm) AS BIGINT) AS s_micro
      |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // Join-cardinality audit
  // --------------------------------------------------------------------------

  /** Exact self-join size on lineitem's part key vs the uniform-assumption
    * estimate ([[graft.ext.Profiling.selfJoinCardinality]]) — the skew
    * multiplier a cost model would miss.
    */
  def qJoinCard(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Profiling.selfJoinCardinality(
      Tables.lineitem(spark, dir), "l_partkey")

  val joinCardSql: String =
    """WITH k AS (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
      |    CAST(SUM(c * c) AS BIGINT) AS actual_pairs FROM k)
      |SELECT n_rows, n_keys, actual_pairs,
      |  ROUND(CAST(n_rows AS DOUBLE) * n_rows / n_keys, 6)
      |    AS est_pairs_uniform,
      |  ROUND(CAST(actual_pairs AS DOUBLE) /
      |    (CAST(n_rows AS DOUBLE) * n_rows / n_keys), 6) AS skew_factor
      |FROM s""".stripMargin

  // --------------------------------------------------------------------------
  // Laspeyres price index
  // --------------------------------------------------------------------------

  /** Monthly Laspeyres price index over parts: base-month quantities weight
    * each month's unit prices, L_t = Σ q₀·p_t / Σ q₀·p₀ over parts traded in
    * both the base month and month t — the classic fixed-basket inflation
    * measure, here over order data. Quantities and cents are exact longs;
    * each part's q₀·p_t term is one deterministic double expression
    * truncated to DECIMAL(28,12) before the sums, so the ratio is
    * partition-order exact. The basket (and the denominator) is re-matched
    * per month to the parts actually traded — the matched-Laspeyres variant
    * that avoids imputing prices for missing parts.
    */
  def qPriceIndex(spark: SparkSession, dir: String): DataFrame = {
    val pm = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("part"),
        trunc(col("o_orderdate"), "month").as("month"),
        col("l_quantity").cast("long").as("qv"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("part"), col("month"))
      .agg(sum(col("qv")).as("q"), sum(col("cents")).as("c"))
    val baseMonth = pm.agg(min(col("month")).as("base_month"))
    val basePm = pm.crossJoin(broadcast(baseMonth))
      .filter(col("month") === col("base_month"))
      .select(col("part"), col("q").as("q0"), col("c").as("c0"))
    pm.join(basePm, "part")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum((col("q0") * (col("c").cast("double") / col("q")))
          .cast("decimal(28,12)")).as("__num"),
        sum((col("q0") * (col("c0").cast("double") / col("q0")))
          .cast("decimal(28,12)")).as("__den"))
      .select(col("month"), col("n_parts"),
        round(col("__num").cast("double") / col("__den").cast("double"), 6)
          .as("price_index"))
      .orderBy(col("month"))
  }

  val priceIndexSql: String =
    """WITH pm AS (SELECT l_partkey AS part,
      |    date_trunc('month', o_orderdate) AS month,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |bm AS (SELECT MIN(month) AS base_month FROM pm),
      |b AS (SELECT part, q AS q0, c AS c0 FROM pm CROSS JOIN bm
      |  WHERE month = base_month)
      |SELECT pm.month, COUNT(*) AS n_parts,
      |  ROUND(CAST(SUM(CAST(b.q0 * (CAST(pm.c AS DOUBLE) / pm.q)
      |      AS DECIMAL(28,12))) AS DOUBLE) /
      |    CAST(SUM(CAST(b.q0 * (CAST(b.c0 AS DOUBLE) / b.q0)
      |      AS DECIMAL(28,12))) AS DOUBLE), 6) AS price_index
      |FROM pm JOIN b ON pm.part = b.part
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Herfindahl–Hirschman concentration
  // --------------------------------------------------------------------------

  /** Supplier revenue concentration per region: HHI = Σ share² (exact
    * DECIMAL cents² over C²) and the effective supplier count 1/HHI — the
    * market-structure readout next to q_market_share's raw shares and
    * q_gini's inequality curve.
    */
  def qHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("s_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .cast("decimal(19,0)").as("c"))
    rev.groupBy(col("region"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("c")).cast("decimal(38,0)").as("__tot"),
        sum(col("c") * col("c")).as("__ss"))
      .select(col("region"), col("n_suppliers"),
        round(col("__ss").cast("double") /
          (col("__tot").cast("double") * col("__tot").cast("double")), 6)
          .as("hhi"),
        round(col("__tot").cast("double") * col("__tot").cast("double") /
          col("__ss").cast("double"), 6).as("effective_n"))
      .orderBy(col("region"))
  }

  val hhiSql: String =
    """WITH rev AS (SELECT r_name AS region, s_suppkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS HUGEINT)
      |      AS c
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |m AS (SELECT region, COUNT(*) AS n_suppliers,
      |    SUM(c) AS tot, SUM(c * c) AS ss FROM rev GROUP BY 1)
      |SELECT region, n_suppliers,
      |  ROUND(CAST(ss AS DOUBLE) /
      |    (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS hhi,
      |  ROUND(CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) /
      |    CAST(ss AS DOUBLE), 6) AS effective_n
      |FROM m ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Sort-layout prefix-compression estimate
  // --------------------------------------------------------------------------

  /** Delta/prefix-encoding savings a p_name sort layout buys
    * ([[graft.ext.Layout.prefixCompressionStats]], native
    * `common_prefix_len` kernel): adjacent-row common prefixes under the
    * sorted order vs the natural p_partkey order.
    */
  def qPrefixCompress(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Layout.prefixCompressionStats(Tables.part(spark, dir),
      "p_name", col("p_partkey"))

  val prefixCompressSql: String =
    """WITH base AS (SELECT p_name AS s, p_partkey AS k FROM part),
      |so AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s, k) AS rn FROM base),
      |sp AS (SELECT a.s AS s, b.s AS t FROM so a JOIN so b
      |  ON b.rn = a.rn + 1),
      |na AS (SELECT s, ROW_NUMBER() OVER (ORDER BY k) AS rn FROM base),
      |np AS (SELECT a.s AS s, b.s AS t FROM na a JOIN na b
      |  ON b.rn = a.rn + 1),
      |pfx_s AS (SELECT COUNT(*) AS n_pairs,
      |    CAST(SUM(length(s)) AS BIGINT) AS sum_len,
      |    CAST(SUM(len(list_filter(
      |      range(1, LEAST(length(s), length(t)) + 1),
      |      i -> substr(s, 1, CAST(i AS INTEGER)) =
      |           substr(t, 1, CAST(i AS INTEGER))))) AS BIGINT) AS sum_prefix
      |  FROM sp),
      |pfx_n AS (SELECT CAST(SUM(length(s)) AS BIGINT) AS nat_len,
      |    CAST(SUM(len(list_filter(
      |      range(1, LEAST(length(s), length(t)) + 1),
      |      i -> substr(s, 1, CAST(i AS INTEGER)) =
      |           substr(t, 1, CAST(i AS INTEGER))))) AS BIGINT) AS nat_prefix
      |  FROM np)
      |SELECT n_pairs,
      |  ROUND(CAST(sum_len AS DOUBLE) / n_pairs, 6) AS avg_len,
      |  ROUND(CAST(sum_prefix AS DOUBLE) / n_pairs, 6) AS avg_prefix_sorted,
      |  ROUND(CAST(nat_prefix AS DOUBLE) / n_pairs, 6)
      |    AS avg_prefix_natural,
      |  ROUND(CAST(sum_prefix AS DOUBLE) / sum_len, 6) AS savings_sorted,
      |  ROUND(CAST(nat_prefix AS DOUBLE) / nat_len, 6) AS savings_natural
      |FROM pfx_s CROSS JOIN pfx_n""".stripMargin

  // --------------------------------------------------------------------------
  // Zone-map skipping audit
  // --------------------------------------------------------------------------

  /** Min/max chunk-skipping under natural vs value-sorted layout for a
    * price range predicate ([[graft.ext.Layout.zoneMapSkipAudit]], 64
    * simulated row groups) — the quantitative case for clustering the
    * table on its filter column.
    */
  def qZonemapSkip(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Layout.zoneMapSkipAudit(Tables.lineitem(spark, dir),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"),
        chunks = 64, lo = 50000.0, hi = 55000.0)
      .select(col("layout"), col("n_chunks"), col("n_skippable"),
        round(col("skip_fraction"), 6).as("skip_fraction"))

  val zonemapSkipSql: String =
    """WITH proj AS (SELECT l_extendedprice AS v, l_orderkey, l_linenumber
      |  FROM lineitem),
      |nt AS (SELECT COUNT(*) AS total FROM proj),
      |nat AS (SELECT v, ROW_NUMBER() OVER (ORDER BY l_orderkey,
      |    l_linenumber) AS rn FROM proj),
      |natc AS (SELECT ((rn - 1) * 64) // total AS chunk, MIN(v) AS mn,
      |    MAX(v) AS mx FROM nat CROSS JOIN nt GROUP BY 1),
      |nata AS (SELECT 'natural' AS layout, COUNT(*) AS n_chunks,
      |    CAST(SUM(CASE WHEN mx < 50000.0 OR mn > 55000.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_skippable FROM natc),
      |srt AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v, l_orderkey,
      |    l_linenumber) AS rn FROM proj),
      |srtc AS (SELECT ((rn - 1) * 64) // total AS chunk, MIN(v) AS mn,
      |    MAX(v) AS mx FROM srt CROSS JOIN nt GROUP BY 1),
      |srta AS (SELECT 'sorted' AS layout, COUNT(*) AS n_chunks,
      |    CAST(SUM(CASE WHEN mx < 50000.0 OR mn > 55000.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_skippable FROM srtc)
      |SELECT layout, n_chunks, n_skippable,
      |  ROUND(CAST(n_skippable AS DOUBLE) / n_chunks, 6) AS skip_fraction
      |FROM (SELECT * FROM nata UNION ALL SELECT * FROM srta)
      |ORDER BY layout""".stripMargin

  // --------------------------------------------------------------------------
  // Sampled join-cardinality estimation
  // --------------------------------------------------------------------------

  /** 10% two-independent-sample estimate of the l_partkey self-join
    * cardinality vs the exact Σc(k)²
    * ([[graft.ext.Profiling.sampledSelfJoinCardinality]]) — the optimizer
    * estimation audit: how much error does sampling buy at 1% of the work?
    */
  def qJoinCardSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Profiling.sampledSelfJoinCardinality(
        Tables.lineitem(spark, dir), "l_partkey",
        rowKey = concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")),
        pctSample = 10)
      .select(col("n_rows"), col("exact_join_card"), col("sample_join_card"),
        col("estimate"), round(col("rel_err_pct"), 6).as("rel_err_pct"))

  val joinCardSampleSql: String =
    """WITH base AS (SELECT l_partkey AS k,
      |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
      |      CAST(l_linenumber AS VARCHAR) || ':a'), 1, 8)) AS BIGINT) % 100
      |      AS ba,
      |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_' ||
      |      CAST(l_linenumber AS VARCHAR) || ':b'), 1, 8)) AS BIGINT) % 100
      |      AS bb
      |  FROM lineitem),
      |ex AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
      |    CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
      |      AS BIGINT) AS exact_card
      |  FROM (SELECT k, COUNT(*) AS c FROM base GROUP BY 1)),
      |ca AS (SELECT k, COUNT(*) AS ca FROM base WHERE ba < 10 GROUP BY 1),
      |cb AS (SELECT k, COUNT(*) AS cb FROM base WHERE bb < 10 GROUP BY 1),
      |sm AS (SELECT COALESCE(CAST(SUM(CAST(ca AS DECIMAL(19,0)) *
      |    CAST(cb AS DECIMAL(19,0))) AS BIGINT), 0) AS sample_card
      |  FROM ca JOIN cb USING (k))
      |SELECT n_rows, exact_card AS exact_join_card,
      |  sample_card AS sample_join_card,
      |  CAST(sample_card * 100 AS BIGINT) AS estimate,
      |  ROUND(100.0 * abs(CAST(sample_card * 100 AS DOUBLE) -
      |    CAST(exact_card AS DOUBLE)) / CAST(exact_card AS DOUBLE), 6)
      |    AS rel_err_pct
      |FROM ex CROSS JOIN sm""".stripMargin

  // --------------------------------------------------------------------------
  // Fisher ideal price index
  // --------------------------------------------------------------------------

  /** Completes q_price_index's index-number family: matched-basket
    * Laspeyres (base-quantity weights, overstates inflation under
    * substitution), Paasche (current-quantity weights, understates), and
    * the Fisher ideal index √(L·P) with the L−P substitution gap — the
    * classic Diewert superlative-index triple over monthly order data.
    * Same exactness shape as q_price_index: exact long quantities/cents,
    * per-part terms DECIMAL(28,12)-quantized, Paasche numerator an exact
    * cents sum.
    */
  def qFisherIndex(spark: SparkSession, dir: String): DataFrame = {
    val pm = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("part"),
        trunc(col("o_orderdate"), "month").as("month"),
        col("l_quantity").cast("long").as("qv"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("part"), col("month"))
      .agg(sum(col("qv")).as("q"), sum(col("cents")).as("c"))
    val baseMonth = pm.agg(min(col("month")).as("base_month"))
    val basePm = pm.crossJoin(broadcast(baseMonth))
      .filter(col("month") === col("base_month"))
      .select(col("part"), col("q").as("q0"), col("c").as("c0"))
    val agg = pm.join(basePm, "part")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_parts"),
        sum((col("q0") * (col("c").cast("double") / col("q")))
          .cast("decimal(28,12)")).as("lnum"),
        sum((col("q0") * (col("c0").cast("double") / col("q0")))
          .cast("decimal(28,12)")).as("lden"),
        sum(col("c")).as("pnum"),
        sum((col("q") * (col("c0").cast("double") / col("q0")))
          .cast("decimal(28,12)")).as("pden"))
    val l = col("lnum").cast("double") / col("lden").cast("double")
    val p = col("pnum").cast("double") / col("pden").cast("double")
    agg.select(col("month"), col("n_parts"),
        round(l, 6).as("laspeyres"), round(p, 6).as("paasche"),
        round(sqrt(l * p), 6).as("fisher"),
        round(l - p, 6).as("substitution_gap"))
      .orderBy(col("month"))
  }

  val fisherIndexSql: String =
    """WITH pm AS (SELECT l_partkey AS part,
      |    date_trunc('month', o_orderdate) AS month,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |bm AS (SELECT MIN(month) AS base_month FROM pm),
      |base AS (SELECT part, q AS q0, c AS c0 FROM pm CROSS JOIN bm
      |  WHERE month = base_month),
      |agg AS (SELECT month, COUNT(*) AS n_parts,
      |    SUM(CAST(q0 * (CAST(c AS DOUBLE) / q) AS DECIMAL(28,12))) AS lnum,
      |    SUM(CAST(q0 * (CAST(c0 AS DOUBLE) / q0) AS DECIMAL(28,12)))
      |      AS lden,
      |    CAST(SUM(c) AS BIGINT) AS pnum,
      |    SUM(CAST(q * (CAST(c0 AS DOUBLE) / q0) AS DECIMAL(28,12))) AS pden
      |  FROM pm JOIN base USING (part) GROUP BY 1)
      |SELECT month, n_parts,
      |  ROUND(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE), 6) AS laspeyres,
      |  ROUND(CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE), 6) AS paasche,
      |  ROUND(sqrt((CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE)) *
      |    (CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE))), 6) AS fisher,
      |  ROUND(CAST(lnum AS DOUBLE) / CAST(lden AS DOUBLE) -
      |    CAST(pnum AS DOUBLE) / CAST(pden AS DOUBLE), 6)
      |    AS substitution_gap
      |FROM agg ORDER BY month""".stripMargin

  // --------------------------------------------------------------------------
  // Replication integrity: two-level Merkle digest per month
  // --------------------------------------------------------------------------

  /** Order-independent per-month content digest of the orders table
    * ([[graft.ext.Integrity.groupDigest]], 16 leaf buckets) — the
    * replication-verification surface: equal digests ⇒ byte-identical
    * slice, unequal leaf drill-down localizes the diff. Row rendering uses
    * only integer/string/date columns (engine-identical text forms).
    */
  def qTableDigest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    graft.ext.Integrity.groupDigest(o,
        substring(to_date(col("o_orderdate")).cast("string"), 1, 7),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"), to_date(col("o_orderdate")).cast("string")),
        buckets = 16)
      .select(col("grp").as("month"), col("n_rows"), col("digest"))
      .orderBy(col("month"))
  }

  val tableDigestSql: String =
    """WITH r AS (SELECT
      |    substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7) AS grp,
      |    md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
      |      CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority,
      |      CAST(CAST(o_orderdate AS DATE) AS VARCHAR))) AS rh
      |  FROM orders),
      |rb AS (SELECT grp, rh,
      |    ('0x' || substr(rh, 1, 2))::BIGINT % 16 AS bk FROM r),
      |lv AS (SELECT grp, bk, COUNT(*) AS n,
      |    md5(string_agg(rh, '' ORDER BY rh)) AS leaf
      |  FROM rb GROUP BY 1, 2)
      |SELECT grp AS month, CAST(SUM(n) AS BIGINT) AS n_rows,
      |  md5(string_agg(leaf, '' ORDER BY bk)) AS digest
      |FROM lv GROUP BY grp ORDER BY month""".stripMargin

  // --------------------------------------------------------------------------
  // Format interop: ORC / CSV round-trips proven by digest equality
  // --------------------------------------------------------------------------

  private[graft] def ordersDigestFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), col("o_orderpriority"),
      to_date(col("o_orderdate")).cast("string").as("o_date"))

  private[graft] def digestOf(rt: DataFrame): DataFrame =
    graft.ext.Integrity.groupDigest(rt, substring(col("o_date"), 1, 7),
        Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_date")), buckets = 16)
      .select(col("grp").as("month"), col("n_rows"), col("digest"))
      .orderBy(col("month"))

  /** ORC write→read round-trip of the orders slice, digested per month
    * ([[graft.sources.Formats.orcRoundtrip]]) — the oracle digests the
    * PARQUET original, so a green row proves the ORC path is lossless
    * end-to-end (columns, values, row multiplicity).
    */
  def qOrcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    digestOf(graft.sources.Formats.orcRoundtrip(
      ordersDigestFrame(spark, dir),
      scratchPath(spark, "orc", dir)))

  /** CSV (headered, explicit schema) round-trip with the same digest proof
    * ([[graft.sources.Formats.csvRoundtrip]]) — the projected frame carries
    * only exact-text columns, the documented precondition.
    */
  def qCsvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    digestOf(graft.sources.Formats.csvRoundtrip(
      ordersDigestFrame(spark, dir),
      scratchPath(spark, "csv", dir)))

  val roundtripDigestSql: String =
    """WITH r AS (SELECT
      |    substr(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), 1, 7) AS grp,
      |    md5(concat_ws('|', CAST(o_orderkey AS VARCHAR),
      |      CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority,
      |      CAST(CAST(o_orderdate AS DATE) AS VARCHAR))) AS rh
      |  FROM orders),
      |rb AS (SELECT grp, rh,
      |    ('0x' || substr(rh, 1, 2))::BIGINT % 16 AS bk FROM r),
      |lv AS (SELECT grp, bk, COUNT(*) AS n,
      |    md5(string_agg(rh, '' ORDER BY rh)) AS leaf
      |  FROM rb GROUP BY 1, 2)
      |SELECT grp AS month, CAST(SUM(n) AS BIGINT) AS n_rows,
      |  md5(string_agg(leaf, '' ORDER BY bk)) AS digest
      |FROM lv GROUP BY grp ORDER BY month""".stripMargin

  // --------------------------------------------------------------------------
  // GROUPING SETS via the SQL front end
  // --------------------------------------------------------------------------

  /** Custom GROUPING SETS ((nation, segment), (nation), ()) with a
    * grouping-bit id — the partial-rollup surface q_revenue_rollup's full
    * ROLLUP can't state, run through `spark.sql` (the SQL front end is part
    * of the API surface; the DataFrame queries cover the other entry).
    * Money pools by the repo's ROUND(x·100) integer-cents convention.
    */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_gs")
    spark.sql(
      """SELECT coalesce(c_nationkey, -1) AS nation,
        |  coalesce(c_mktsegment, 'ALL') AS segment,
        |  grouping(c_nationkey) * 2 + grouping(c_mktsegment) AS gid,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM customer_gs
        |GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment),
        |  (c_nationkey), ())
        |ORDER BY gid, nation, segment""".stripMargin)
      .select(col("nation"), col("segment"), col("gid").cast("long").as("gid"),
        col("n_customers"), col("bal_cents"))
  }

  val groupingSetsSql: String =
    """SELECT coalesce(c_nationkey, -1) AS nation,
      |  coalesce(c_mktsegment, 'ALL') AS segment,
      |  CAST(GROUPING(c_nationkey) * 2 + GROUPING(c_mktsegment) AS BIGINT)
      |    AS gid,
      |  COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS bal_cents
      |FROM customer
      |GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment), (c_nationkey), ())
      |ORDER BY gid, nation, segment""".stripMargin

  // --------------------------------------------------------------------------
  // JSONL round-trip digest
  // --------------------------------------------------------------------------

  /** JSON Lines write→read round-trip of the orders slice, digested per
    * month ([[graft.sources.Formats.jsonlRoundtrip]]) — same lossless
    * proof as q_orc_roundtrip/q_csv_roundtrip, for the interchange format
    * LLM corpora actually ship in.
    */
  def qJsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    digestOf(graft.sources.Formats.jsonlRoundtrip(
      ordersDigestFrame(spark, dir),
      Scratch.path(spark, "jsonl", dir)))

  // --------------------------------------------------------------------------
  // Bloom pre-join audit
  // --------------------------------------------------------------------------

  /** Runtime-filter sizing audit ([[graft.ext.Sketches.bloomPrejoinAudit]]):
    * a Bloom filter over one brand's part keys probed by every lineitem
    * row — how many fact rows the dim-side filter would keep off the
    * shuffle, and how many false positives leak through.
    */
  def qBloomPrejoin(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Sketches.bloomPrejoinAudit(
        Tables.lineitem(spark, dir), col("l_partkey"),
        Tables.part(spark, dir).filter(col("p_brand") === "Brand#23"),
        col("p_partkey"), wWords = 64, kHashes = 4)
      .withColumn("reduction_pct", round(col("reduction_pct"), 6))

  val bloomPrejoinSql: String =
    """WITH dimk AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS key
      |  FROM part WHERE p_brand = 'Brand#23'),
      |ip AS (SELECT key, unnest(generate_series(0, 3)) AS j FROM dimk),
      |ipos AS (SELECT key,
      |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || key), 1, 8))
      |      ::BIGINT % 2048 AS pos
      |  FROM ip),
      |fw AS (SELECT pos // 32 AS word,
      |    BIT_OR(CAST(POWER(2, pos % 32) AS BIGINT)) AS bits
      |  FROM ipos GROUP BY 1),
      |fk AS (SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS nr
      |  FROM lineitem GROUP BY 1),
      |pp AS (SELECT key, unnest(generate_series(0, 3)) AS j FROM fk),
      |ppos AS (SELECT key,
      |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || key), 1, 8))
      |      ::BIGINT % 2048 AS pos
      |  FROM pp),
      |pw AS (SELECT key, pos // 32 AS word,
      |    CAST(POWER(2, pos % 32) AS BIGINT) AS mask FROM ppos),
      |hits AS (SELECT pw.key,
      |    SUM(CASE WHEN fw.bits IS NOT NULL AND (fw.bits & pw.mask) = pw.mask
      |      THEN 1 ELSE 0 END) AS n_hit
      |  FROM pw LEFT JOIN fw USING (word) GROUP BY 1),
      |pass AS (SELECT key, n_hit = 4 AS p FROM hits),
      |truth AS (SELECT key, TRUE AS in_dim FROM dimk),
      |agg AS (SELECT
      |    CAST(SUM(fk.nr) AS BIGINT) AS n_fact_rows,
      |    COUNT(*) AS n_fact_keys,
      |    CAST(SUM(CASE WHEN pass.p THEN fk.nr ELSE 0 END) AS BIGINT)
      |      AS n_pass_rows,
      |    CAST(SUM(CASE WHEN truth.in_dim IS NOT NULL THEN fk.nr ELSE 0 END)
      |      AS BIGINT) AS n_true_rows,
      |    CAST(SUM(CASE WHEN pass.p AND truth.in_dim IS NULL THEN fk.nr
      |      ELSE 0 END) AS BIGINT) AS n_fp_rows
      |  FROM fk JOIN pass USING (key) LEFT JOIN truth USING (key))
      |SELECT n_fact_rows, n_fact_keys, n_pass_rows, n_true_rows, n_fp_rows,
      |  ROUND(100.0 * (1.0 - CAST(n_pass_rows AS DOUBLE)
      |    / CAST(n_fact_rows AS DOUBLE)), 6) AS reduction_pct
      |FROM agg""".stripMargin

  // --------------------------------------------------------------------------
  // Prefix-hierarchy rollup of part types
  // --------------------------------------------------------------------------

  /** Revenue rollup at every word-prefix depth of p_type
    * ([[graft.ext.Hierarchy.prefixRollup]]): the taxonomy-from-strings
    * OLAP shape ("STANDARD" ⊃ "STANDARD BRUSHED" ⊃ ...), exact
    * integer-cent totals.
    */
  def qTypePrefixRollup(spark: SparkSession, dir: String): DataFrame = {
    val partRev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("rev_cents"))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("l_partkey"), col("p_type")),
        Seq("l_partkey"))
    graft.ext.Hierarchy.prefixRollup(partRev, "p_type", "rev_cents",
        sep = " ", maxLevels = 3)
      .withColumnRenamed("n_rows", "n_parts")
      .withColumnRenamed("total", "rev_cents")
      .orderBy(col("level"), col("prefix"))
  }

  val typePrefixRollupSql: String =
    """WITH pr AS (SELECT l.l_partkey,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS rev,
      |    MAX(p.p_type) AS p_type
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1),
      |w AS (SELECT rev, string_split(p_type, ' ') AS ws FROM pr),
      |px AS (SELECT lvl.l AS level,
      |    array_to_string(ws[1:lvl.l], ' ') AS prefix, rev
      |  FROM w CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS l) lvl
      |  WHERE len(ws) >= lvl.l)
      |SELECT CAST(level AS INT) AS level, prefix, COUNT(*) AS n_parts,
      |  CAST(SUM(rev) AS BIGINT) AS rev_cents
      |FROM px GROUP BY 1, 2 ORDER BY level, prefix""".stripMargin

  // --------------------------------------------------------------------------
  // Consistent-hash ring audit
  // --------------------------------------------------------------------------

  /** Consistent-hash placement of customers on a 16-node ring (8 virtual
    * nodes each), then the same ring grown to 17 nodes
    * ([[graft.ext.Sharding.consistentOwners]]): per node, keys before,
    * keys after, and keys moved away. The audit asserts the scheme's whole
    * point — adding a node steals only the keys landing on its arcs
    * (sum(moved_out) = node 16's keys_after, ~1/17 of the corpus), where a
    * mod-N shard map would relocate ~16/17 of it.
    */
  def qConsistentHash(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sharding
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val ring17 = Materialize(Sharding.ring(spark, 17, 8)).df // both owner passes read it
    val ring16 = ring17.filter(col("node") < 16)
    val owners = Materialize(Sharding
      .consistentOwners(cust, "c_custkey", ring16)
      .withColumnRenamed("node", "nb")
      .join(Sharding.consistentOwners(cust, "c_custkey", ring17)
        .withColumnRenamed("node", "na"), "key")).df // three count passes read it
    val nodes = spark.range(17).select(col("id").as("node"))
    nodes
      .join(owners.groupBy(col("nb").as("node"))
        .agg(count(lit(1)).as("kb")), Seq("node"), "left")
      .join(owners.groupBy(col("na").as("node"))
        .agg(count(lit(1)).as("ka")), Seq("node"), "left")
      .join(owners.filter(col("na") =!= col("nb"))
        .groupBy(col("nb").as("node"))
        .agg(count(lit(1)).as("mv")), Seq("node"), "left")
      .select(col("node"), coalesce(col("kb"), lit(0L)).as("keys_before"),
        coalesce(col("ka"), lit(0L)).as("keys_after"),
        coalesce(col("mv"), lit(0L)).as("moved_out"))
      .orderBy(col("node"))
  }

  /** Shared CTE chain: the 17-node ring, the hashed keys, and both owner
    * maps (16- and 17-node). */
  private val consistentHashCtesSql: String =
    """ring AS (SELECT n.node, v.v,
      |    ('0x' || substr(md5('n:' || n.node || ':' || v.v), 1, 8))::BIGINT
      |      AS ph
      |  FROM (SELECT unnest(generate_series(0, 16)) AS node) n
      |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS v) v),
      |k AS (SELECT c_custkey AS key,
      |    ('0x' || substr(md5('k:' || c_custkey), 1, 8))::BIGINT AS kh
      |  FROM customer),
      |s16 AS (SELECT key, node FROM (
      |    SELECT k.key, r.node,
      |      ROW_NUMBER() OVER (PARTITION BY k.key ORDER BY r.ph, r.node)
      |        AS rk
      |    FROM k JOIN ring r ON r.ph >= k.kh AND r.node < 16) WHERE rk = 1),
      |w16 AS (SELECT node FROM ring WHERE node < 16 ORDER BY ph, node
      |  LIMIT 1),
      |b16 AS (SELECT k.key, COALESCE(s.node, (SELECT node FROM w16))
      |    AS node
      |  FROM k LEFT JOIN s16 s ON k.key = s.key),
      |s17 AS (SELECT key, node FROM (
      |    SELECT k.key, r.node,
      |      ROW_NUMBER() OVER (PARTITION BY k.key ORDER BY r.ph, r.node)
      |        AS rk
      |    FROM k JOIN ring r ON r.ph >= k.kh) WHERE rk = 1),
      |w17 AS (SELECT node FROM ring ORDER BY ph, node LIMIT 1),
      |b17 AS (SELECT k.key, COALESCE(s.node, (SELECT node FROM w17))
      |    AS node
      |  FROM k LEFT JOIN s17 s ON k.key = s.key)""".stripMargin

  val consistentHashSql: String =
    s"""WITH $consistentHashCtesSql,
      |nodes AS (SELECT unnest(generate_series(0, 16)) AS node),
      |j AS (SELECT b16.key, b16.node AS nb, b17.node AS na
      |  FROM b16 JOIN b17 ON b16.key = b17.key)
      |SELECT n.node,
      |  CAST(COALESCE(kb.c, 0) AS BIGINT) AS keys_before,
      |  CAST(COALESCE(ka.c, 0) AS BIGINT) AS keys_after,
      |  CAST(COALESCE(mv.c, 0) AS BIGINT) AS moved_out
      |FROM nodes n
      |LEFT JOIN (SELECT nb AS node, COUNT(*) AS c FROM j GROUP BY 1) kb
      |  ON n.node = kb.node
      |LEFT JOIN (SELECT na AS node, COUNT(*) AS c FROM j GROUP BY 1) ka
      |  ON n.node = ka.node
      |LEFT JOIN (SELECT nb AS node, COUNT(*) AS c FROM j WHERE na <> nb
      |  GROUP BY 1) mv ON n.node = mv.node
      |ORDER BY n.node""".stripMargin

  // --------------------------------------------------------------------------
  // Rendezvous-hash failover audit
  // --------------------------------------------------------------------------

  /** Rendezvous (HRW) placement of customers on 16 nodes, then node 0
    * removed ([[graft.ext.Sharding.rendezvousOwners]]): per node, keys
    * before, keys after, and keys inherited from the dead node. HRW's
    * minimal-disruption guarantee is structural — a surviving node's argmax
    * cannot change — so keys_after = keys_before + inherited on every
    * surviving node, which NexusModulesSpec asserts.
    */
  def qRendezvous(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Sharding
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val n16 = spark.range(16).select(col("id").as("node"))
    val owners = Materialize(Sharding.rendezvousOwners(cust, "c_custkey", n16)
      .withColumnRenamed("node", "nb")
      .join(Sharding
        .rendezvousOwners(cust, "c_custkey", n16.filter(col("node") > 0))
        .withColumnRenamed("node", "na"), "key")).df
    n16
      .join(owners.groupBy(col("nb").as("node"))
        .agg(count(lit(1)).as("kb")), Seq("node"), "left")
      .join(owners.groupBy(col("na").as("node"))
        .agg(count(lit(1)).as("ka")), Seq("node"), "left")
      .join(owners.filter(col("nb") === 0)
        .groupBy(col("na").as("node"))
        .agg(count(lit(1)).as("ih")), Seq("node"), "left")
      .select(col("node"), coalesce(col("kb"), lit(0L)).as("keys_before"),
        coalesce(col("ka"), lit(0L)).as("keys_after"),
        coalesce(col("ih"), lit(0L)).as("inherited"))
      .orderBy(col("node"))
  }

  val rendezvousSql: String =
    """WITH nodes AS (SELECT unnest(generate_series(0, 15)) AS node),
      |k AS (SELECT c_custkey AS key FROM customer),
      |rnd AS (SELECT k.key, n.node,
      |    ('0x' || substr(md5('r:' || n.node || ':' || k.key), 1, 8))::BIGINT
      |      AS w
      |  FROM k CROSS JOIN nodes n),
      |b AS (SELECT key, node FROM (SELECT key, node, ROW_NUMBER() OVER
      |    (PARTITION BY key ORDER BY w DESC, node DESC) AS rk FROM rnd)
      |  WHERE rk = 1),
      |a AS (SELECT key, node FROM (SELECT key, node, ROW_NUMBER() OVER
      |    (PARTITION BY key ORDER BY w DESC, node DESC) AS rk FROM rnd
      |    WHERE node > 0)
      |  WHERE rk = 1),
      |j AS (SELECT b.key, b.node AS nb, a.node AS na
      |  FROM b JOIN a ON b.key = a.key)
      |SELECT n.node,
      |  CAST(COALESCE(kb.c, 0) AS BIGINT) AS keys_before,
      |  CAST(COALESCE(ka.c, 0) AS BIGINT) AS keys_after,
      |  CAST(COALESCE(ih.c, 0) AS BIGINT) AS inherited
      |FROM nodes n
      |LEFT JOIN (SELECT nb AS node, COUNT(*) AS c FROM j GROUP BY 1) kb
      |  ON n.node = kb.node
      |LEFT JOIN (SELECT na AS node, COUNT(*) AS c FROM j GROUP BY 1) ka
      |  ON n.node = ka.node
      |LEFT JOIN (SELECT na AS node, COUNT(*) AS c FROM j WHERE nb = 0
      |  GROUP BY 1) ih ON n.node = ih.node
      |ORDER BY n.node""".stripMargin

  // --------------------------------------------------------------------------
  // Hilbert-curve layout (batch 5)
  // --------------------------------------------------------------------------

  private val hBits = 6

  private val hCoarse = 4

  /** Chained-CTE unroll of [[graft.functions.HilbertXy2d]]'s per-plane
    * reflect-rotate recurrence: stages hp0..hp{order-1} each consume the
    * previous plane's (x, y, d) and carry the ORIGINAL coordinates (ox, oy)
    * through untouched. `base` must expose columns x, y, ox, oy, d. Pure
    * integer algebra — byte-identical to the engine's codegen kernel.
    */
  private def hilbertStagesSql(base: String): (String, String) = {
    val stages = (hBits - 1 to 0 by -1).zipWithIndex.map { case (b, i) =>
      val s = 1L << b
      val prev = if (i == 0) base else s"hp${i - 1}"
      s"""hp$i AS (SELECT ox, oy,
         |  CASE WHEN (y & $s) <> 0 THEN x
         |       WHEN (x & $s) <> 0 THEN $s - 1 - y ELSE y END AS x,
         |  CASE WHEN (y & $s) <> 0 THEN y
         |       WHEN (x & $s) <> 0 THEN $s - 1 - x ELSE x END AS y,
         |  d + ${s * s} * xor(3 * (CASE WHEN (x & $s) <> 0 THEN 1 ELSE 0 END),
         |    CASE WHEN (y & $s) <> 0 THEN 1 ELSE 0 END) AS d
         |FROM $prev)""".stripMargin
    }
    (stages.mkString(",\n"), s"hp${hBits - 1}")
  }

  private val partCellsSql: String =
    """SELECT CAST(p_size AS BIGINT) AS x,
      |    (CAST(FLOOR(p_retailprice) AS BIGINT) - 900) // 2 AS y FROM part"""
      .stripMargin

  private def partCellsDF(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).withColumn("pb",
      expr("(CAST(FLOOR(p_retailprice) AS BIGINT) - 900) div 2"))

  /** Hilbert-curve bucket audit over (p_size, price-bucket) on a 64×64
    * grid — `q_zorder`'s twin on the better-adjacency curve
    * ([[graft.ext.Layout.hilbertAudit]]). The oracle replays the xy2d
    * recurrence as a 6-plane chained-CTE unroll.
    */
  def qHilbert(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Layout.hilbertAudit(partCellsDF(spark, dir),
        col("p_size"), col("pb"), order = hBits, coarseBits = hCoarse)
      .orderBy(col("h_bucket"))

  val hilbertSql: String = {
    val (stages, last) = hilbertStagesSql("d0")
    s"""WITH cells AS ($partCellsSql),
       |d0 AS (SELECT x, y, x AS ox, y AS oy, CAST(0 AS BIGINT) AS d
       |  FROM cells),
       |$stages
       |SELECT d >> $hCoarse AS h_bucket, COUNT(*) AS n,
       |  MIN(ox) AS x_min, MAX(ox) AS x_max,
       |  MIN(oy) AS y_min, MAX(oy) AS y_max
       |FROM $last GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Consecutive-key Manhattan step, Hilbert vs Morton, over the distinct
    * occupied cells ([[graft.ext.Layout.curveLocality]]) — the measurable
    * locality claim behind the Hilbert layout: its mean step stays near 1
    * while Morton's bit-boundary jumps push the mean well above.
    */
  def qCurveLocality(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Layout.curveLocality(partCellsDF(spark, dir),
      col("p_size"), col("pb"), order = hBits)

  val curveLocalitySql: String = {
    val (stages, last) = hilbertStagesSql("c0")
    val interleave = (0 until hBits).flatMap { b =>
      Seq(s"(((x >> $b) & 1) << ${2 * b})", s"(((y >> $b) & 1) << ${2 * b + 1})")
    }.mkString(" | ")
    s"""WITH cells AS (SELECT DISTINCT x, y FROM ($partCellsSql)),
       |c0 AS (SELECT x, y, x AS ox, y AS oy, CAST(0 AS BIGINT) AS d
       |  FROM cells),
       |$stages,
       |hk AS (SELECT ox AS x, oy AS y, d AS h FROM $last),
       |zk AS (SELECT x, y, ($interleave) AS z FROM cells),
       |hp AS (SELECT x - LAG(x) OVER (ORDER BY h) AS dx,
       |  y - LAG(y) OVER (ORDER BY h) AS dy FROM hk),
       |zp AS (SELECT x - LAG(x) OVER (ORDER BY z) AS dx,
       |  y - LAG(y) OVER (ORDER BY z) AS dy FROM zk),
       |hs AS (SELECT CAST(SUM(ABS(dx) + ABS(dy)) AS BIGINT) AS h_sum FROM hp),
       |zs AS (SELECT CAST(SUM(ABS(dx) + ABS(dy)) AS BIGINT) AS z_sum FROM zp),
       |n AS (SELECT COUNT(*) AS n_cells FROM cells)
       |SELECT n.n_cells, hs.h_sum AS hilbert_step_sum,
       |  zs.z_sum AS morton_step_sum,
       |  ROUND(CAST(hs.h_sum AS DOUBLE) / CAST(n.n_cells - 1 AS DOUBLE), 6)
       |    AS hilbert_avg_step,
       |  ROUND(CAST(zs.z_sum AS DOUBLE) / CAST(n.n_cells - 1 AS DOUBLE), 6)
       |    AS morton_avg_step
       |FROM n CROSS JOIN hs CROSS JOIN zs""".stripMargin
  }

  /** Snowflake-style clustering-depth histogram on orders' total price
    * ([[graft.ext.Layout.clusteringDepth]]): value-quantized "sorted"
    * buckets (depth 1 — disjoint ranges) vs round-robin "natural" buckets
    * (depth ≈ 32 — every file overlaps every point). The depth metric is
    * what an OPTIMIZE/compaction job monitors to decide when to re-sort.
    */
  def qClusteringDepth(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Layout.clusteringDepth(Tables.orders(spark, dir),
        expr("CAST(FLOOR(o_totalprice) AS BIGINT)"),
        least(lit(31L), expr("CAST(FLOOR(o_totalprice) AS BIGINT) div 17500")),
        pmod(col("o_orderkey"), lit(32L)))
      .orderBy(col("layout"), col("depth"))

  val clusteringDepthSql: String =
    """WITH base AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
      |    LEAST(31, CAST(FLOOR(o_totalprice) AS BIGINT) // 17500) AS sb,
      |    o_orderkey % 32 AS nb FROM orders),
      |lb AS (SELECT v, 'sorted' AS layout, sb AS bucket FROM base
      |  UNION ALL SELECT v, 'natural', nb FROM base),
      |iv AS (SELECT layout, bucket, MIN(v) AS lo, MAX(v) AS hi
      |  FROM lb GROUP BY 1, 2),
      |ev AS (SELECT layout, v, typ, CAST(SUM(delta) AS BIGINT) AS delta
      |  FROM (SELECT layout, lo AS v, 0 AS typ, 1 AS delta FROM iv
      |    UNION ALL SELECT layout, hi, 1, -1 FROM iv)
      |  GROUP BY 1, 2, 3),
      |sw AS (SELECT layout, v, typ, CAST(SUM(delta) OVER (
      |    PARTITION BY layout ORDER BY v, typ
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |  AS depth FROM ev)
      |SELECT iv.layout, sw.depth, COUNT(*) AS n_buckets
      |FROM iv JOIN sw ON iv.layout = sw.layout AND iv.lo = sw.v
      |  AND sw.typ = 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Columnar encoding advisor over lineitem
    * ([[graft.ext.EncodingAdvisor.advise]]): per column, run/cardinality/
    * byte statistics and the cheaper of plain / dictionary / RLE under the
    * shared all-integer cost model; runs counted within each order (the
    * row-group analogy), so only order-partitioned windows are needed.
    */
  def qEncodingAdvisor(spark: SparkSession, dir: String): DataFrame =
    graft.ext.EncodingAdvisor.advise(
      Tables.lineitem(spark, dir)
        .withColumn("l_qty_int", col("l_quantity").cast("long"))
        .withColumn("l_shipday", col("l_shipdate").cast("date")
          .cast("string")),
      col("l_orderkey"),
      // (l_orderkey, l_linenumber) is NOT unique in the generated data;
      // tie-break by the full analyzed tuple - identical rows then sort
      // arbitrarily but every analyzed value agrees, so runs are exact
      struct(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_qty_int"), col("l_shipday"), col("l_returnflag"),
        col("l_linestatus")),
      Seq("l_partkey", "l_suppkey", "l_linenumber", "l_returnflag",
        "l_linestatus", "l_qty_int", "l_shipday"))

  val encodingAdvisorSql: String = {
    val colsList = Seq("l_partkey", "l_suppkey", "l_linenumber",
      "l_returnflag", "l_linestatus", "l_qty_int", "l_shipday")
    val unpivot = colsList.map { c =>
      s"SELECT l_orderkey AS g, l_linenumber AS s1, l_partkey AS s2," +
        s" l_suppkey AS s3, l_qty_int AS s4, l_shipday AS s5," +
        s" l_returnflag AS s6, l_linestatus AS s7, '$c' AS cname," +
        s" $c::VARCHAR AS v FROM li"
    }.mkString("\n  UNION ALL ")
    s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    l_returnflag, l_linestatus,
       |    CAST(l_quantity AS BIGINT) AS l_qty_int,
       |    CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS l_shipday
       |  FROM lineitem),
       |rows_ AS ($unpivot),
       |flag AS (SELECT cname, v,
       |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY cname, g
       |        ORDER BY s1, s2, s3, s4, s5, s6, s7) = 1
       |      OR v IS DISTINCT FROM LAG(v) OVER (PARTITION BY cname, g
       |        ORDER BY s1, s2, s3, s4, s5, s6, s7)
       |    THEN 1 ELSE 0 END AS newrun
       |  FROM rows_),
       |percol AS (SELECT cname, COUNT(*) AS n,
       |    CAST(SUM(newrun) AS BIGINT) AS n_runs,
       |    CAST(SUM(strlen(v)) AS BIGINT) AS plain_bytes,
       |    CAST(SUM(CASE WHEN newrun = 1 THEN strlen(v) + 4
       |      ELSE 0 END) AS BIGINT) AS rle_bytes
       |  FROM flag GROUP BY 1),
       |dict AS (SELECT cname, COUNT(*) AS ndv,
       |    CAST(SUM(strlen(v)) AS BIGINT) AS dict_val_bytes
       |  FROM (SELECT DISTINCT cname, v FROM rows_) GROUP BY 1),
       |j AS (SELECT p.cname, n, ndv, n_runs, plain_bytes, rle_bytes,
       |    (n * length(bin(greatest(ndv - 1, 1))) + 7) // 8 + dict_val_bytes
       |      AS dict_bytes
       |  FROM percol p JOIN dict USING (cname))
       |SELECT cname AS col_name, n, ndv, n_runs,
       |  ROUND(CAST(n AS DOUBLE) / CAST(n_runs AS DOUBLE), 6)
       |    AS avg_run_len,
       |  plain_bytes, dict_bytes, rle_bytes,
       |  CASE WHEN rle_bytes <= dict_bytes AND rle_bytes <= plain_bytes
       |    THEN 'rle'
       |    WHEN dict_bytes <= plain_bytes THEN 'dict'
       |    ELSE 'plain' END AS recommended
       |FROM j ORDER BY col_name""".stripMargin
  }

  /** Merkle range drill-down between lineitem and a deterministically
    * perturbed next version (edits where orderkey % 997 = 0, deletes
    * where orderkey % 991 = 0 and linenumber % 3 = 0)
    * ([[graft.ext.Integrity.merkleDrill]], 3 levels): the sync audit
    * reports exactly which key-hash buckets diverge, drilling only under
    * differing parents.
    */
  def qMerkleDrill(spark: SparkSession, dir: String): DataFrame = {
    // Version B derives from version A by a filter (deletes) plus a sparse
    // edit (q+1 where orderkey % 997 = 0), so both sides' hashes render in
    // ONE lineitem scan (Integrity.merkleDrillHashed, r16): the key hash is
    // shared, and the b-side content hash is recomputed ONLY on edited rows
    // — versus the materialize-both-sides form, half the scans and ~half
    // the md5 work. The drill output is identical (oracle + IntegritySpec
    // differential pin it).
    val a = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity").cast("long").as("q"), col("l_returnflag"))
    def rowHash(qCol: org.apache.spark.sql.Column) =
      conv(substring(md5(concat_ws("|", col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), qCol,
        col("l_returnflag"))), 1, 15), 16, 10).cast("long")
    val deleted = col("l_orderkey") % 991 === 0 && col("l_linenumber") % 3 === 0
    val edited = col("l_orderkey") % 997 === 0
    val sideA = struct(lit("a").as("side"), col("__ha").as("h"))
    val sideB = struct(lit("b").as("side"), col("__hb").as("h"))
    val hashed = a
      .withColumn("__kh", md5(concat_ws("|", col("l_orderkey"),
        col("l_linenumber"))))
      .withColumn("__ha", rowHash(col("q")))
      .withColumn("__hb",
        when(edited, rowHash(col("q") + 1)).otherwise(col("__ha")))
      .select(col("__kh").as("kh"),
        explode(when(deleted, array(sideA))
          .otherwise(array(sideA, sideB))).as("e"))
      .select(col("e.side").as("side"), col("kh"), col("e.h").as("h"))
    graft.ext.Integrity.merkleDrillHashed(hashed, levels = 3)
  }

  val merkleDrillSql: String = {
    val levelCtes = (2 to 3).map { l =>
      s"""la$l AS (SELECT substr(kh, 1, $l) AS bucket, COUNT(*) AS n,
         |    bit_xor(h) AS x FROM ha
         |  WHERE substr(kh, 1, ${l - 1}) IN (SELECT bucket FROM p${l - 1})
         |  GROUP BY 1),
         |lb$l AS (SELECT substr(kh, 1, $l) AS bucket, COUNT(*) AS n,
         |    bit_xor(h) AS x FROM hb
         |  WHERE substr(kh, 1, ${l - 1}) IN (SELECT bucket FROM p${l - 1})
         |  GROUP BY 1),
         |c$l AS MATERIALIZED (SELECT $l AS level,
         |    COALESCE(la$l.bucket, lb$l.bucket) AS bucket,
         |    COALESCE(la$l.n, 0) AS n_a, COALESCE(lb$l.n, 0) AS n_b,
         |    (la$l.n IS DISTINCT FROM lb$l.n
         |      OR la$l.x IS DISTINCT FROM lb$l.x) AS differs
         |  FROM la$l FULL OUTER JOIN lb$l ON la$l.bucket = lb$l.bucket),
         |p$l AS (SELECT bucket FROM c$l WHERE differs)""".stripMargin
    }.mkString(",\n")
    s"""WITH a_ AS (SELECT l_orderkey, l_linenumber, l_partkey,
       |    CAST(l_quantity AS BIGINT) AS q, l_returnflag FROM lineitem),
       |b_ AS (SELECT l_orderkey, l_linenumber, l_partkey,
       |    CASE WHEN l_orderkey % 997 = 0 THEN q + 1 ELSE q END AS q,
       |    l_returnflag
       |  FROM a_ WHERE NOT (l_orderkey % 991 = 0 AND l_linenumber % 3 = 0)),
       |ha AS MATERIALIZED (SELECT
       |    md5(concat_ws('|', l_orderkey, l_linenumber)) AS kh,
       |    ('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber,
       |      l_partkey, q, l_returnflag)), 1, 15))::BIGINT AS h FROM a_),
       |hb AS MATERIALIZED (SELECT
       |    md5(concat_ws('|', l_orderkey, l_linenumber)) AS kh,
       |    ('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber,
       |      l_partkey, q, l_returnflag)), 1, 15))::BIGINT AS h FROM b_),
       |la1 AS (SELECT substr(kh, 1, 1) AS bucket, COUNT(*) AS n,
       |    bit_xor(h) AS x FROM ha GROUP BY 1),
       |lb1 AS (SELECT substr(kh, 1, 1) AS bucket, COUNT(*) AS n,
       |    bit_xor(h) AS x FROM hb GROUP BY 1),
       |c1 AS MATERIALIZED (SELECT 1 AS level,
       |    COALESCE(la1.bucket, lb1.bucket) AS bucket,
       |    COALESCE(la1.n, 0) AS n_a, COALESCE(lb1.n, 0) AS n_b,
       |    (la1.n IS DISTINCT FROM lb1.n OR la1.x IS DISTINCT FROM lb1.x)
       |      AS differs
       |  FROM la1 FULL OUTER JOIN lb1 ON la1.bucket = lb1.bucket),
       |p1 AS (SELECT bucket FROM c1 WHERE differs),
       |$levelCtes
       |SELECT level, bucket, n_a, n_b, differs FROM c1
       |UNION ALL SELECT level, bucket, n_a, n_b, differs FROM c2
       |UNION ALL SELECT level, bucket, n_a, n_b, differs FROM c3
       |ORDER BY level, bucket""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_scd2_runs", qScd2Runs, scd2RunsSql),
    QuerySpec("q_pit_join", qPitJoin, pitJoinSql),
    QuerySpec("q_skew_report", qSkewReport, skewReportSql),
    QuerySpec("q_event_hourly_dense", qEventHourlyDense, eventHourlyDenseSql),
    QuerySpec("q_churn", qChurn, churnSql),
    QuerySpec("q_rfm", qRfm, rfmSql),
    QuerySpec("q_repeat_orders", qRepeatOrders, repeatOrdersSql),
    QuerySpec("q_order_overlap", qOrderOverlap, orderOverlapSql),
    QuerySpec("q_asof_last_order", qAsofLastOrder, asofLastOrderSql),
    QuerySpec("q_asof_chunked", qAsofChunked, asofLastOrderSql),
    QuerySpec("q_pricing_summary", qPricingSummary, pricingSummarySql),
    QuerySpec("q_brand_revenue", qBrandRevenue, brandRevenueSql),
    QuerySpec("q_shipping_priority", qShippingPriority, shippingPrioritySql),
    QuerySpec("q_local_supplier_volume", qLocalSupplierVolume, localSupplierVolumeSql),
    QuerySpec("q_returned_item_losses", qReturnedItemLosses, returnedItemLossesSql),
    QuerySpec("q_top_supplier_brand", qTopSupplierBrand, topSupplierBrandSql),
    QuerySpec("q_order_gaps", qOrderGaps, orderGapsSql),
    QuerySpec("q_orders_with_returns", qOrdersWithReturns, ordersWithReturnsSql),
    QuerySpec("q_customers_no_orders", qCustomersNoOrders, customersNoOrdersSql),
    QuerySpec("q_revenue_rollup", qRevenueRollup, revenueRollupSql),
    QuerySpec("q_order_cube", qOrderCube, orderCubeSql),
    QuerySpec("q_event_pivot", qEventPivot, eventPivotSql),
    QuerySpec("q_fk_integrity", qFkIntegrity, fkIntegritySql),
    QuerySpec("q_churn_labels", qChurnLabels, churnLabelsSql),
    QuerySpec("q_ship_latency", qShipLatency, shipLatencySql),
    QuerySpec("q_basket_size_dist", qBasketSizeDist, basketSizeDistSql),
    QuerySpec("q_upsert_compact", qUpsertCompact, upsertCompactSql),
    QuerySpec("q_zorder", qZorder, zorderSql),
    QuerySpec("q_salted_brand_rev", qSaltedBrandRev, saltedBrandRevSql),
    QuerySpec("q_market_share", qMarketShare, marketShareSql),
    QuerySpec("q_promo_revenue", qPromoRevenue, promoRevenueSql),
    QuerySpec("q_waiting_suppliers", qWaitingSuppliers, waitingSuppliersSql),
    QuerySpec("q_deletion_sweep", qDeletionSweep, deletionSweepSql),
    QuerySpec("q_data_contract", qDataContract, dataContractSql),
    QuerySpec("q_skyline", qSkyline, skylineSql),
    QuerySpec("q_incremental_rollup", qIncrementalRollup, incrementalRollupSql),
    QuerySpec("q_join_card", qJoinCard, joinCardSql),
    QuerySpec("q_price_index", qPriceIndex, priceIndexSql),
    QuerySpec("q_hhi", qHhi, hhiSql),
    QuerySpec("q_prefix_compress", qPrefixCompress, prefixCompressSql),
    QuerySpec("q_zonemap_skip", qZonemapSkip, zonemapSkipSql),
    QuerySpec("q_join_card_sample", qJoinCardSample, joinCardSampleSql),
    QuerySpec("q_fisher_index", qFisherIndex, fisherIndexSql),
    QuerySpec("q_table_digest", qTableDigest, tableDigestSql),
    QuerySpec("q_orc_roundtrip", qOrcRoundtrip, roundtripDigestSql),
    QuerySpec("q_csv_roundtrip", qCsvRoundtrip, roundtripDigestSql),
    QuerySpec("q_grouping_sets", qGroupingSets, groupingSetsSql),
    QuerySpec("q_type_prefix_rollup", qTypePrefixRollup, typePrefixRollupSql),
    QuerySpec("q_jsonl_roundtrip", qJsonlRoundtrip, roundtripDigestSql),
    QuerySpec("q_bloom_prejoin", qBloomPrejoin, bloomPrejoinSql),
    QuerySpec("q_consistent_hash", qConsistentHash, consistentHashSql),
    QuerySpec("q_rendezvous", qRendezvous, rendezvousSql),
    QuerySpec("q_hilbert", qHilbert, hilbertSql),
    QuerySpec("q_curve_locality", qCurveLocality, curveLocalitySql),
    QuerySpec("q_clustering_depth", qClusteringDepth, clusteringDepthSql),
    QuerySpec("q_encoding_advisor", qEncodingAdvisor, encodingAdvisorSql),
    QuerySpec("q_merkle_drill", qMerkleDrill, merkleDrillSql),
  )
}
