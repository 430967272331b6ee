package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext._

/** Statistics over the event log and the warehouse: experiments and tests,
  * drift, sketches, time series and change detection, event windows and
  * funnels, profiling, and privacy audits.
  */
object StatsQueries extends QueryFamily("stats") {

  // -------------------------------------------------------------------------
  // Event-time operators
  // -------------------------------------------------------------------------

  def qEventHourly(spark: SparkSession, dir: String): DataFrame =
    EventWindows.hourlyStats(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  val eventHourlySql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6) AS sum_value,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding 1h/30min windows per event type — each event lands in exactly two
    * windows. The oracle replays Spark's epoch-aligned `window()` semantics with a
    * 2-way generate_series fan-out: window starts are the event's 30-min floor
    * boundary and the one before it.
    */
  def qSlidingHourly(spark: SparkSession, dir: String): DataFrame =
    EventWindows.slidingStats(Tables.events(spark, dir), "1 hour", "30 minutes")
      .orderBy(col("window_start"), col("event_type"))

  val slidingHourlySql: String =
    """WITH e AS (SELECT event_type, value, epoch_ms(ts) / 1000.0 AS es FROM events),
      |w AS (SELECT event_type, value,
      |    CAST(floor(es / 1800) * 1800 - k * 1800 AS BIGINT) AS window_start
      |  FROM e CROSS JOIN generate_series(0, 1) s(k))
      |SELECT window_start, window_start + 3600 AS window_end, event_type,
      |  COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6) AS sum_value
      |FROM w GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin

  /** Catalog coverage over time: per hour, the fraction of the customer base active
    * in events — the event-time variant of the coverage metric.
    */
  def qCoverageTime(spark: SparkSession, dir: String): DataFrame =
    EventWindows.coverageOverTime(Tables.events(spark, dir),
        Tables.customer(spark, dir), "user_id", "c_custkey")
      .orderBy(col("window_start"))

  val coverageTimeSql: String =
    """WITH c AS (SELECT COUNT(DISTINCT c_custkey) AS cat FROM customer)
      |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
      |  COUNT(DISTINCT user_id) AS n_items,
      |  ROUND(COUNT(DISTINCT user_id) * 1.0 / (SELECT cat FROM c), 6) AS coverage
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    EventWindows.sessionize(Tables.events(spark, dir), gapMinutes = 30)
      .orderBy(col("user_id"), col("session_id"))

  val sessionizeSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |f AS (SELECT user_id, ms,
      |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |s AS (SELECT user_id, ms,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(ms) AS start_ms, MAX(ms) AS end_ms, MAX(ms) - MIN(ms) AS duration_ms
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The whale-user skew guard oracle-verified: [[EventWindows.sessionizeChunked]]
    * produces output identical to [[EventWindows.sessionize]] by construction
    * (chunk-local sessions re-merged across boundaries), so it shares
    * [[sessionizeSql]] — the guard itself goes through the correctness gate.
    */
  def qSessionizeChunked(spark: SparkSession, dir: String): DataFrame =
    EventWindows.sessionizeChunked(Tables.events(spark, dir), gapMinutes = 30,
        chunk = "day")
      .orderBy(col("user_id"), col("session_id"))

  def qEventProps(spark: SparkSession, dir: String): DataFrame =
    EventWindows.propsStats(Tables.events(spark, dir))
      .orderBy(col("event_type"))

  val eventPropsSql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  ROUND(AVG(k), 6) AS avg_k, MAX(k) AS max_k
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Funnel + cohort retention (round 3)
  // -------------------------------------------------------------------------

  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    Funnel.funnelCounts(Tables.events(spark, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  val funnelSql: String =
    """WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
      |    WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |    JOIN s1 ON e.user_id = s1.user_id
      |    WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
      |    JOIN s2 ON e.user_id = s2.user_id
      |    WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_stage_1,
      |       (SELECT COUNT(*) FROM s2) AS n_stage_2,
      |       (SELECT COUNT(*) FROM s3) AS n_stage_3""".stripMargin

  /** SESSION-scoped funnel: the same strictly-ordered stages, but a
    * conversion must complete within ONE session (30-min gap sessionization) —
    * the composition of [[EventWindows.sessionize]]'s per-event session
    * numbering with [[Funnel.funnelCounts]], via a synthetic
    * (user, session) funnel key. Counts are sessions reaching each stage:
    * the per-session product-analytics view next to [[qFunnel]]'s lifetime
    * view and [[qFunnelWindowed]]'s fixed-window view.
    */
  def qSessionFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSession = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_type"))
      .withColumn("__new",
        when(lag(col("ms"), 1).over(w).isNull or
          col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(cum))
      .withColumn("skey", col("user_id") * 100000L + col("session_id"))
    Funnel.funnelCounts(withSession, "skey", "ms", "event_type",
      Seq("view", "click", "purchase"))
  }

  val sessionFunnelSql: String =
    """WITH e0 AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |f AS (SELECT user_id, ms, event_type,
      |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |e AS (SELECT user_id * 100000 + CAST(SUM(is_new) OVER (
      |      PARTITION BY user_id ORDER BY ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS skey,
      |    ms, event_type FROM f),
      |s1 AS (SELECT skey, MIN(ms) AS t FROM e
      |    WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.skey, MIN(e.ms) AS t FROM e
      |    JOIN s1 ON e.skey = s1.skey
      |    WHERE e.event_type = 'click' AND e.ms >= s1.t GROUP BY 1),
      |s3 AS (SELECT e.skey, MIN(e.ms) AS t FROM e
      |    JOIN s2 ON e.skey = s2.skey
      |    WHERE e.event_type = 'purchase' AND e.ms >= s2.t GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_stage_1,
      |       (SELECT COUNT(*) FROM s2) AS n_stage_2,
      |       (SELECT COUNT(*) FROM s3) AS n_stage_3""".stripMargin

  /** Windowed funnel: each stage must convert within 24h of the previous one —
    * [[Funnel.funnelCountsWindowed]], the conversion-window refinement of
    * [[qFunnel]].
    */
  def qFunnelWindowed(spark: SparkSession, dir: String): DataFrame =
    Funnel.funnelCountsWindowed(Tables.events(spark, dir), "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"), windowMs = 86400000L)

  val funnelWindowedSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |s1 AS (SELECT user_id, MIN(ms) AS t FROM e
      |    WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.ms) AS t FROM e
      |    JOIN s1 ON e.user_id = s1.user_id
      |    WHERE e.event_type = 'click' AND e.ms >= s1.t
      |      AND e.ms <= s1.t + 86400000 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.ms) AS t FROM e
      |    JOIN s2 ON e.user_id = s2.user_id
      |    WHERE e.event_type = 'purchase' AND e.ms >= s2.t
      |      AND e.ms <= s2.t + 86400000 GROUP BY 1)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_stage_1,
      |       (SELECT COUNT(*) FROM s2) AS n_stage_2,
      |       (SELECT COUNT(*) FROM s3) AS n_stage_3""".stripMargin

  def qCohortRetention(spark: SparkSession, dir: String): DataFrame =
    Funnel.cohortRetention(Tables.events(spark, dir), "user_id", "ts")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))

  val cohortRetentionSql: String =
    """WITH weekly AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cw FROM weekly GROUP BY 1),
      |j AS (SELECT w.user_id, c.cw, w.wk
      |    FROM weekly w JOIN c ON w.user_id = c.user_id)
      |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
      |  CAST(date_diff('day', cw, wk) / 7 AS BIGINT) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One-pass column profiling of the documents table
    * ([[Profiling.profileColumns]]) — the data-quality gate a pipeline runs on
    * every new drop.
    */
  def qProfileDocs(spark: SparkSession, dir: String): DataFrame =
    Profiling.profileColumns(Tables.documents(spark, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy(col("column_name"))

  val profileDocsSql: String = {
    val perCol = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
        |  CAST(MIN($c) AS VARCHAR) AS min_value,
        |  CAST(MAX($c) AS VARCHAR) AS max_value
        |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$perCol\nORDER BY column_name"
  }

  /** Equi-depth histogram of lineitem prices ([[GlobalRank.equiDepthHistogram]]):
    * 8 equal-count buckets cut on a distributed global row number — NO
    * single-task `ROW_NUMBER() OVER (ORDER BY ...)` window anywhere in the plan
    * (the oracle uses one; at sf it's equivalent, at 100 TB only ours runs).
    */
  def qEquidepthPrice(spark: SparkSession, dir: String): DataFrame =
    GlobalRank.equiDepthHistogram(Tables.lineitem(spark, dir),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), buckets = 8)
      .orderBy(col("bucket"))

  val equidepthPriceSql: String =
    """WITH r AS (SELECT l_extendedprice AS v,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM lineitem)
      |SELECT (rn - 1) * 8 // n AS bucket, COUNT(*) AS n_rows,
      |  MIN(v) AS min_value, MAX(v) AS max_value
      |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin

  /** One-pass pairwise Pearson correlation over lineitem's numeric columns
    * ([[Profiling.corrMatrix]]) — column-relationship profiling in a single
    * map-side-partial aggregate.
    */
  def qNumericCorr(spark: SparkSession, dir: String): DataFrame =
    Profiling.corrMatrix(Tables.lineitem(spark, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .select(col("col_a"), col("col_b"), round(col("pearson_r"), 6).as("pearson_r"))
      .orderBy(col("col_a"), col("col_b"))

  val numericCorrSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
        |  ROUND(corr($a, $b), 6) AS pearson_r FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
  }

  /** Exact distributed quantiles of lineitem prices
    * ([[GlobalRank.exactQuantiles]]): percentile_disc values at p50/p90/p99
    * picked by global rank — the zero-error partner of
    * `q_quality_quantiles`'s sketch, still with no single-task sort.
    */
  def qExactQuantiles(spark: SparkSession, dir: String): DataFrame =
    GlobalRank.exactQuantiles(Tables.lineitem(spark, dir), "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), probs = Seq(0.5, 0.9, 0.99))
      .select(col("p"), col("value"))
      .orderBy(col("p"))

  val exactQuantilesSql: String =
    """WITH r AS (SELECT l_extendedprice AS v,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM lineitem)
      |SELECT CAST(p AS DOUBLE) AS p, v AS value
      |FROM r JOIN (VALUES (0.5), (0.9), (0.99)) t(p)
      |  ON rn = GREATEST(1, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT))
      |ORDER BY p""".stripMargin

  /** Relative-standing windows: per-brand percent_rank + cume_dist of part
    * price — completes the window-function family (row_number / rank-1 / NTILE
    * / lag / lead / running sum are covered elsewhere). `partitionBy(brand)`,
    * parallel across brands, no global window; the full order (price, partkey)
    * makes both engines rank identically.
    */
  def qPricePctRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The ordering is TOTAL (price, partkey), so percent_rank = (rn−1)/
    // (n−1) and cume_dist = rn/n with rn = row_number. The built-ins
    // compute those as doubles, and at sf1.0 partition sizes (n−1 = 6400)
    // values like 410/6400 = 0.0640625 sit exactly on the 6-dp round
    // boundary, where the engines' division ulps pick opposite sides (the
    // sf1.0 value-hash gate caught 3 such rows). Round in exact integer
    // space instead: half-up of k/d at 6 dp is (2k·10⁶ + d) div 2d, and
    // the final /1e6 is a single exact-operand IEEE division both
    // engines perform identically.
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
    val nw = Window.partitionBy(col("p_brand"))
    Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        (row_number().over(w) - 1).cast("long").as("__k"),
        count(lit(1)).over(nw).as("__n"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        when(col("__n") === 1, lit(0.0)).otherwise(
          expr("(2 * __k * 1000000 + (__n - 1)) div (2 * (__n - 1))")
            .cast("double") / 1e6).as("pct_rank"),
        (expr("(2 * (__k + 1) * 1000000 + __n) div (2 * __n)")
          .cast("double") / 1e6).as("cume"))
      .orderBy(col("p_partkey"))
  }

  val pricePctRankSql: String =
    """WITH r AS (SELECT p_partkey, p_brand, p_retailprice,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |      ORDER BY p_retailprice, p_partkey) - 1 AS k,
      |    COUNT(*) OVER (PARTITION BY p_brand) AS n
      |  FROM part)
      |SELECT p_partkey, p_brand, p_retailprice,
      |  CASE WHEN n = 1 THEN CAST(0.0 AS DOUBLE) ELSE
      |    CAST((2 * k * 1000000 + (n - 1)) // (2 * (n - 1)) AS DOUBLE)
      |      / 1e6 END AS pct_rank,
      |  CAST((2 * (k + 1) * 1000000 + n) // (2 * n) AS DOUBLE) / 1e6
      |    AS cume
      |FROM r
      |ORDER BY p_partkey""".stripMargin

  /** Jackknife error bars for a corpus-level metric (mean document length):
    * 10 deterministic md5 folds, leave-one-fold-out means, jackknife variance
    * `(k-1)/k · Σ (m_i − m̄)²`. Per-fold sums are exact integers and both
    * double reductions (m̄ and the squared deviations) run through
    * DECIMAL(28,12) accumulators — order-independent, engine-identical. This
    * is how a pipeline attaches uncertainty to any quality metric at scale:
    * two aggregations, no resampling passes.
    */
  def qFoldVariance(spark: SparkSession, dir: String): DataFrame = {
    val folds = Tables.documents(spark, dir)
      .select(col("n_chars"), (Splits.hashBucket(col("doc_id")) % 10).as("fold"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_f"), sum(col("n_chars")).as("s_f"))
    val tot = folds.agg(sum(col("n_f")).as("n"), sum(col("s_f")).as("s"))
    val loo = folds.crossJoin(broadcast(tot))
      .select(((col("s") - col("s_f")).cast("double") /
        (col("n") - col("n_f"))).as("m_i"), col("n"), col("s"))
    val mbar = loo
      .agg(first(col("n")).as("n"), first(col("s")).as("s"),
        count(lit(1)).as("k"),
        sum(col("m_i").cast("decimal(28,12)")).as("sm"))
      .select(col("n"), col("s"), col("k"),
        (col("sm").cast("double") / col("k")).as("mbar"))
    loo.crossJoin(broadcast(mbar.select(col("k"), col("mbar"))))
      .agg(
        round((first(col("s")).cast("double") / first(col("n"))), 6).as("mean"),
        round(sqrt(
          (first(col("k")) - 1).cast("double") / first(col("k")) *
            sum(((col("m_i") - col("mbar")) * (col("m_i") - col("mbar")))
              .cast("decimal(28,12)")).cast("double")), 6).as("jk_se"))
  }

  val foldVarianceSql: String =
    """WITH f AS (SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      % 100) % 10 AS fold,
      |    COUNT(*) AS n_f, CAST(SUM(n_chars) AS BIGINT) AS s_f
      |  FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_f) AS BIGINT) AS n, CAST(SUM(s_f) AS BIGINT) AS s FROM f),
      |loo AS (SELECT (s - s_f) * 1.0 / (n - n_f) AS m_i, n, s FROM f CROSS JOIN t),
      |mb AS (SELECT COUNT(*) AS k,
      |    CAST(SUM(CAST(m_i AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mbar
      |  FROM loo)
      |SELECT ROUND(loo.s * 1.0 / loo.n, 6) AS mean,
      |  ROUND(sqrt((k - 1) * 1.0 / k *
      |    CAST(SUM(CAST((m_i - mbar) * (m_i - mbar) AS DECIMAL(28,12))) AS DOUBLE)), 6)
      |    AS jk_se
      |FROM loo CROSS JOIN mb GROUP BY loo.n, loo.s, k""".stripMargin

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current) — the statistic behind next-action
    * prediction baselines and funnel-shape sanity checks. One per-user lag
    * window (ordered by time, tie on event id) + a (from, to)-keyed aggregate;
    * row-normalized by the per-from totals.
    */
  def qTransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = steps.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    steps.join(fromTotals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val transitionMatrixSql: String =
    """WITH s AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
      |SELECT c.from_type, to_type, n, ROUND(n * 1.0 / n_from, 6) AS p
      |FROM c JOIN f ON c.from_type = f.from_type
      |ORDER BY c.from_type, to_type""".stripMargin

  /** Rolling 7-day event volume via a RANGE window frame (`RANGE BETWEEN 6
    * PRECEDING AND CURRENT ROW` over per-day aggregates) — the frame variant
    * the window family still lacked. The window runs over the per-(type, day)
    * aggregate (≤ types × days rows), partitioned by type — never over raw
    * events.
    */
  def qRolling7d(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400L).cast("long").as("day"))
      .agg(count(lit(1)).as("n_day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .select(col("event_type"), col("day"), col("n_day"),
        sum(col("n_day")).over(w).as("n_7d"))
      .orderBy(col("event_type"), col("day"))
  }

  val rolling7dSql: String =
    """WITH d AS (SELECT event_type,
      |    CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day,
      |    COUNT(*) AS n_day
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n_day,
      |  CAST(SUM(n_day) OVER (PARTITION BY event_type ORDER BY day
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
      |FROM d ORDER BY event_type, day""".stripMargin

  /** Heavy hitters via the SpaceSaving sketch
    * ([[graft.functions.SpaceSavingAggregator]]) in its EXACTNESS regime:
    * capacity (32) covers the event-type domain (5), so every counter is
    * exact with zero error and the result equals a plain GROUP BY — which is
    * what the oracle states. The approx regime (capacity ≪ domain) is
    * property-tested in SpaceSavingSpec; this query proves the Aggregator's
    * map-side partial-aggregation path end-to-end on real data.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    val types = Tables.events(spark, dir).select(col("event_type")).as[String]
    types.select(new graft.functions.SpaceSavingAggregator(32).toColumn)
      .toDF("sk")
      .select(explode(col("sk")).as("c"))
      .select(col("c.item").as("event_type"), col("c.est").as("n_events"),
        col("c.err").as("err"))
      .orderBy(col("event_type"))
  }

  val heavyHittersSql: String =
    """SELECT event_type, COUNT(*) AS n_events, 0 AS err
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Two-proportion A/B significance test: users hash-split into arms (the
    * [[Splits.hashBucket]] draw — same deterministic assignment machinery as
    * the dataset splits), conversion = any purchase event, pooled two-
    * proportion z-score. The experimentation-analytics primitive: three
    * aggregates, all integer counts until the final closed-form doubles
    * (stated identically in the oracle). Conversion = a purchase above 90
    * (every generated user has some purchase, so the bare event would be
    * degenerate — rate 1.0 on both arms, z undefined).
    */
  def qAbTest(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 90,
        1L).otherwise(0L)).as("conv"))
      .withColumn("arm", when(Splits.hashBucket(col("user_id")) % 2 === 0,
        lit("A")).otherwise(lit("B")))
    val byArm = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("n_conv"))
    val a = byArm.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("n_conv").as("conv_a"))
    val b = byArm.filter(col("arm") === "B")
      .select(col("n").as("n_b"), col("n_conv").as("conv_b"))
    a.crossJoin(b)
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        round(col("conv_a").cast("double") / col("n_a"), 6).as("rate_a"),
        round(col("conv_b").cast("double") / col("n_b"), 6).as("rate_b"),
        round(
          (col("conv_a").cast("double") / col("n_a") -
            col("conv_b").cast("double") / col("n_b")) /
            sqrt(((col("conv_a") + col("conv_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z"))
  }

  val abTestSql: String =
    """WITH u AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value > 90
      |        THEN 1 ELSE 0 END) AS conv,
      |    CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
      |        % 100) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |ba AS (SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS n_conv
      |  FROM u GROUP BY 1),
      |a AS (SELECT n AS n_a, n_conv AS conv_a FROM ba WHERE arm = 'A'),
      |b AS (SELECT n AS n_b, n_conv AS conv_b FROM ba WHERE arm = 'B')
      |SELECT n_a, n_b, conv_a, conv_b,
      |  ROUND(conv_a * 1.0 / n_a, 6) AS rate_a,
      |  ROUND(conv_b * 1.0 / n_b, 6) AS rate_b,
      |  ROUND((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) /
      |    sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b)) *
      |      (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b)) *
      |      (1.0 / n_a + 1.0 / n_b)), 6) AS z
      |FROM a CROSS JOIN b""".stripMargin

  // -------------------------------------------------------------------------
  // Event-stream behavioral statistics
  // -------------------------------------------------------------------------

  /** Kaplan-Meier view→purchase conversion curve: per-user duration from
    * first view to first subsequent purchase in days, non-converters
    * right-censored at the corpus horizon ([[graft.ext.Survival.kaplanMeier]]
    * documents the estimator and its determinism discipline).
    */
  def qSurvival(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_millis(col("ts"))).as("t0"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("tp"))
    val conv = v.join(p, Seq("user_id")).filter(col("tp") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("tp")).as("t1"))
    val horizon = e.agg(max(unix_millis(col("ts"))).as("mx"))
    val durations = v.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        floor((coalesce(col("t1"), col("mx")) - col("t0")) / lit(86400000.0))
          .cast("long").as("t_days"),
        when(col("t1").isNotNull, 1).otherwise(0).as("converted"))
    Survival.kaplanMeier(durations, "t_days", "converted").orderBy(col("t"))
  }

  val survivalSql: String =
    """WITH v AS (SELECT user_id, MIN(epoch_ms(ts)) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |p AS (SELECT user_id, epoch_ms(ts) AS tp FROM events
      |  WHERE event_type = 'purchase'),
      |cv AS (SELECT v.user_id, MIN(p.tp) AS t1 FROM v JOIN p
      |  ON v.user_id = p.user_id AND p.tp >= v.t0 GROUP BY 1),
      |mx AS (SELECT MAX(epoch_ms(ts)) AS mx FROM events),
      |dur AS (SELECT
      |    CAST(FLOOR((COALESCE(cv.t1, mx.mx) - v.t0) / 86400000.0) AS BIGINT)
      |      AS t,
      |    CASE WHEN cv.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM v LEFT JOIN cv ON v.user_id = cv.user_id CROSS JOIN mx),
      |bt AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS n_events,
      |    CAST(SUM(1 - ev) AS BIGINT) AS n_censored FROM dur GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS total FROM bt),
      |rk AS (SELECT bt.*, CAST(tt.total - COALESCE(SUM(n_events + n_censored)
      |    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS n_at_risk
      |  FROM bt CROSS JOIN tt),
      |lg AS (SELECT *, CAST(CASE WHEN n_events = 0 THEN 0.0
      |    WHEN n_events < n_at_risk
      |      THEN ln(1.0 - n_events * 1.0 / n_at_risk)
      |    ELSE -50.0 END AS DECIMAL(18,8)) AS log_term FROM rk)
      |SELECT t, n_at_risk, n_events, n_censored,
      |  ROUND(EXP(CAST(SUM(log_term) OVER (ORDER BY t
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 6)
      |    AS survival
      |FROM lg ORDER BY t""".stripMargin

  /** Most common within-session event-type paths (30-minute gap sessions). */
  def qTopPaths(spark: SparkSession, dir: String): DataFrame =
    graft.ext.EventWindows.topSessionPaths(Tables.events(spark, dir),
      gapMinutes = 30, topN = 20)

  val topPathsSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type
      |  FROM events),
      |f AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
      |      OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM f),
      |p AS (SELECT user_id, sid,
      |    string_agg(event_type, '>' ORDER BY ms, event_id) AS path
      |  FROM s GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** DAU plus trailing-7-day rolling distinct actives per observed day. */
  def qRollingDau(spark: SparkSession, dir: String): DataFrame =
    EventStats.rollingActiveUsers(Tables.events(spark, dir), "ts", "user_id",
        windowDays = 7)
      .orderBy(col("day"))

  val rollingDauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      |  FROM events),
      |mx AS (SELECT MAX(d) AS max_d FROM ud),
      |c AS (SELECT DISTINCT u, d + x.i AS day
      |  FROM ud CROSS JOIN (SELECT CAST(unnest(generate_series(0, 6)) AS INTEGER)
      |    AS i) x
      |  CROSS JOIN mx WHERE d + x.i <= mx.max_d),
      |w AS (SELECT day, COUNT(*) AS wau FROM c GROUP BY 1),
      |da AS (SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY 1)
      |SELECT da.day, da.dau, w.wau FROM da JOIN w USING (day)
      |ORDER BY day""".stripMargin

  /** Weekly-seasonal volume anomalies: day vs same-day-of-week median. */
  def qSeasonalBaseline(spark: SparkSession, dir: String): DataFrame =
    EventStats.seasonalAnomalies(Tables.events(spark, dir), "ts", "event_type")
      .orderBy(col("event_type"), col("day"))

  val seasonalBaselineSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |dw AS (SELECT *, CAST(isodow(day) AS BIGINT) AS dow FROM d),
      |m AS (SELECT event_type, dow, QUANTILE_CONT(n_events, 0.5) AS dow_median,
      |    COUNT(*) AS n_weeks FROM dw GROUP BY 1, 2)
      |SELECT dw.event_type, dw.day, dw.dow, dw.n_events, m.n_weeks,
      |  ROUND(m.dow_median, 6) AS dow_median,
      |  ROUND(dw.n_events / m.dow_median, 6) AS ratio,
      |  (dw.n_events > 1.5 * m.dow_median OR dw.n_events < 0.5 * m.dow_median)
      |    AS is_anomaly
      |FROM dw JOIN m USING (event_type, dow)
      |ORDER BY event_type, day""".stripMargin

  /** 10-90% trimmed mean of line price per brand — the robust central
    * tendency for skew/outlier-heavy money columns (a fat-finger price or a
    * whale order moves a plain mean; the trimmed mean ignores both tails).
    * Exact per-group percentiles bound the kept range (identical
    * interpolation in both engines, the q_mad_outliers precedent); the kept
    * sum goes through DECIMAL so the mean is partition-order-independent.
    */
  def qTrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        col("l_extendedprice").cast("double").as("v"))
    val q = x.groupBy(col("brand"))
      .agg(percentile(col("v"), lit(0.1)).as("lo"),
        percentile(col("v"), lit(0.9)).as("hi"),
        count(lit(1)).as("n_all"))
    x.join(q, Seq("brand"))
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy(col("brand"))
      .agg(max(col("n_all")).as("n_all"), count(lit(1)).as("n_kept"),
        round(max(col("lo")), 6).as("p10"),
        round(max(col("hi")), 6).as("p90"),
        round(sum(Inputs.dec(col("v"))).cast("double") /
          count(lit(1)), 6).as("trimmed_mean"))
      .orderBy(col("brand"))
  }

  val trimmedMeanSql: String =
    """WITH x AS (SELECT p_brand AS brand, CAST(l_extendedprice AS DOUBLE) AS v
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |q AS (SELECT brand, QUANTILE_CONT(v, 0.1) AS lo, QUANTILE_CONT(v, 0.9) AS hi,
      |    COUNT(*) AS n_all FROM x GROUP BY 1)
      |SELECT x.brand, MAX(q.n_all) AS n_all, COUNT(*) AS n_kept,
      |  ROUND(MAX(q.lo), 6) AS p10, ROUND(MAX(q.hi), 6) AS p90,
      |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
      |    AS trimmed_mean
      |FROM x JOIN q USING (brand) WHERE v >= q.lo AND v <= q.hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stage-to-stage funnel latency percentiles: among users who complete each
    * transition of the strict view→click→purchase funnel, the median and p90
    * dwell times — the "WHERE is the funnel slow" companion to `q_funnel`'s
    * "where does it leak" counts. The per-stage tables reuse the funnel's
    * monotone-shrinking min-timestamp joins; the final percentiles run over
    * one row per completing user.
    */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ms") >= col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ms")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id"), col("t2")), Seq("user_id"))
      .filter(col("ms") >= col("t2"))
      .groupBy(col("user_id"), col("t2")).agg(min(col("ms")).as("t3"))
    val l1 = c.agg(count(lit(1)).as("n_users"),
      percentile(col("t2") - col("t1"), lit(0.5)).as("p50"),
      percentile(col("t2") - col("t1"), lit(0.9)).as("p90"))
      .select(lit("view>click").as("stage"), col("n_users"),
        round(col("p50"), 6).as("p50_ms"), round(col("p90"), 6).as("p90_ms"))
    val l2 = p.agg(count(lit(1)).as("n_users"),
      percentile(col("t3") - col("t2"), lit(0.5)).as("p50"),
      percentile(col("t3") - col("t2"), lit(0.9)).as("p90"))
      .select(lit("click>purchase").as("stage"), col("n_users"),
        round(col("p50"), 6).as("p50_ms"), round(col("p90"), 6).as("p90_ms"))
    l1.unionAll(l2).orderBy(col("stage"))
  }

  val funnelLatencySql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, v.t1, MIN(e.ms) AS t2 FROM e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.ms >= v.t1 GROUP BY 1, 2),
      |p AS (SELECT e.user_id, c.t2, MIN(e.ms) AS t3 FROM e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.ms >= c.t2 GROUP BY 1, 2)
      |SELECT 'view>click' AS stage, COUNT(*) AS n_users,
      |  ROUND(QUANTILE_CONT(t2 - t1, 0.5), 6) AS p50_ms,
      |  ROUND(QUANTILE_CONT(t2 - t1, 0.9), 6) AS p90_ms FROM c
      |UNION ALL
      |SELECT 'click>purchase', COUNT(*),
      |  ROUND(QUANTILE_CONT(t3 - t2, 0.5), 6),
      |  ROUND(QUANTILE_CONT(t3 - t2, 0.9), 6) FROM p
      |ORDER BY stage""".stripMargin

  /** Theil-Sen robust daily-volume trend per event type. */
  def qTheilSen(spark: SparkSession, dir: String): DataFrame =
    EventStats.theilSenTrend(Tables.events(spark, dir), "ts", "event_type")
      .orderBy(col("event_type"))

  val theilSenSql: String =
    """WITH d AS (SELECT event_type,
      |    CAST(ts AS DATE) - DATE '1970-01-01' AS x, COUNT(*) AS y
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |p AS (SELECT a.event_type, (b.y - a.y) * 1.0 / (b.x - a.x) AS s
      |  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x),
      |m AS (SELECT event_type, QUANTILE_CONT(s, 0.5) AS slope FROM p GROUP BY 1)
      |SELECT d.event_type, COUNT(*) AS n_days,
      |  ROUND(MAX(m.slope), 6) AS slope_per_day,
      |  ROUND(QUANTILE_CONT(d.y - m.slope * d.x, 0.5), 6) AS intercept
      |FROM d JOIN m USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-brand return rate with a 95% Wilson score interval — the
    * small-sample-honest version of the naive rate (a brand with 2 returns
    * out of 3 lines should NOT outrank one with 200/350; the Wilson lower
    * bound encodes exactly that). Closed-form arithmetic from exact integer
    * counts with the z=1.96 literal embedded identically in both engines.
    */
  def qReturnRateCi(spark: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
    val n = col("n_lines").cast("double")
    val p = col("n_returned").cast("double") / n
    val z2 = lit(z * z)
    val center = (p + z2 / (lit(2.0) * n)) / (lit(1.0) + z2 / n)
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))) /
      (lit(1.0) + z2 / n)
    x.select(col("brand"), col("n_lines"), col("n_returned"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy(col("brand"))
  }

  val returnRateCiSql: String =
    """WITH x AS (SELECT p_brand AS brand, COUNT(*) AS n_lines,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_returned
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |c AS (SELECT brand, n_lines, n_returned, CAST(n_lines AS DOUBLE) AS n,
      |    CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
      |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2
      |  FROM x)
      |SELECT brand, n_lines, n_returned, ROUND(p, 6) AS rate,
      |  ROUND((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
      |    - (CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / n
      |        + z2 / (4.0 * n * n))) / (1.0 + z2 / n), 6) AS wilson_lo,
      |  ROUND((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
      |    + (CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / n
      |        + z2 / (4.0 * n * n))) / (1.0 + z2 / n), 6) AS wilson_hi
      |FROM c ORDER BY brand""".stripMargin

  /** Monthly revenue volatility per brand: coefficient of variation of
    * monthly revenue totals — the stability screen behind assortment and
    * forecasting decisions (a brand with CV 1.2 needs a different safety
    * stock than one at 0.1). Monthly sums go through DECIMAL; the CV runs on
    * the brand × month aggregate, bounded by catalog × calendar.
    */
  def qPriceVolatility(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"),
        to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(sum(Inputs.dec(col("l_extendedprice"))).cast("double")
        .as("rev"))
    m.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_months"),
        round(avg(col("rev")), 6).as("mean_rev"),
        round(stddev_samp(col("rev")), 6).as("std_rev"),
        round(stddev_samp(col("rev")) / avg(col("rev")), 6).as("cv"))
      .orderBy(col("brand"))
  }

  val priceVolatilitySql: String =
    """WITH m AS (SELECT p_brand AS brand,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2)
      |SELECT brand, COUNT(*) AS n_months, ROUND(AVG(rev), 6) AS mean_rev,
      |  ROUND(STDDEV_SAMP(rev), 6) AS std_rev,
      |  ROUND(STDDEV_SAMP(rev) / AVG(rev), 6) AS cv
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** User active-lifetime distribution: the span in days between each user's
    * first and last event, bucketed — the engagement-horizon histogram that
    * sets retention-window defaults. Per-user min/max is one keyed aggregate;
    * the histogram is bounded by the observation window.
    */
  def qActiveLifetime(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("long").as("span_days"))
    val total = spans.agg(count(lit(1)).as("n_total"))
    spans.groupBy(col("span_days")).agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("span_days"), col("n_users"),
        round(col("n_users").cast("double") / col("n_total"), 6).as("share"))
      .orderBy(col("span_days"))
  }

  val activeLifetimeSql: String =
    """WITH s AS (SELECT user_id,
      |    CAST(MAX(CAST(ts AS DATE)) - MIN(CAST(ts AS DATE)) AS BIGINT)
      |      AS span_days
      |  FROM events GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n_total FROM s)
      |SELECT span_days, COUNT(*) AS n_users,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / t.n_total, 6) AS share
      |FROM s CROSS JOIN t GROUP BY span_days, t.n_total
      |ORDER BY span_days""".stripMargin

  /** Quantity uplift by discount band: average line quantity at each discount
    * level vs the zero-discount baseline — the first-order price-elasticity
    * read a merchandiser pulls before any modeling. DECIMAL sums; the
    * baseline rides a broadcast 1-row aggregate.
    */
  def qDiscountUplift(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select((round(col("l_discount") * 100).cast("long")).as("disc_pct"),
        col("l_quantity"))
    val bands = l.groupBy(col("disc_pct"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(Inputs.dec(col("l_quantity"))).cast("double") /
          count(lit(1))).as("avg_qty"))
    val base = bands.filter(col("disc_pct") === 0)
      .select(col("avg_qty").as("base_qty"))
    bands.crossJoin(broadcast(base))
      .select(col("disc_pct"), col("n_lines"),
        round(col("avg_qty"), 6).as("avg_qty"),
        round(col("avg_qty") / col("base_qty"), 6).as("uplift"))
      .orderBy(col("disc_pct"))
  }

  val discountUpliftSql: String =
    """WITH l AS (SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
      |    l_quantity FROM lineitem),
      |b AS (SELECT disc_pct, COUNT(*) AS n_lines,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
      |      AS avg_qty
      |  FROM l GROUP BY 1),
      |z AS (SELECT avg_qty AS base_qty FROM b WHERE disc_pct = 0)
      |SELECT disc_pct, n_lines, ROUND(avg_qty, 6) AS avg_qty,
      |  ROUND(avg_qty / z.base_qty, 6) AS uplift
      |FROM b CROSS JOIN z ORDER BY disc_pct""".stripMargin

  /** Conversion rate by session ordinal: does the Nth session of a user's
    * life convert better than the first? Reuses the gap-sessionized stream
    * (session_id IS the ordinal — the cumulative window numbers a user's
    * sessions in time order); the rate table is bounded by max sessions per
    * user over the observation window.
    */
  def qSessionConversion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("event_type"))
    val prev = lag(col("ms"), 1).over(byUser)
    val sess = e
      .withColumn("session_id",
        sum(when(prev.isNull || col("ms") - prev > 1800000L, 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
    sess.groupBy(col("session_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"))
      .select(col("session_id"), col("n_sessions"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_sessions"), 6)
          .as("conversion_rate"))
      .orderBy(col("session_id"))
  }

  val sessionConversionSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_type FROM events),
      |f AS (SELECT *, CASE WHEN lag(ms) OVER w IS NULL
      |      OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
      |s AS (SELECT user_id, event_type,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM f),
      |g AS (SELECT user_id, session_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM s GROUP BY 1, 2)
      |SELECT session_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** Trailing-7-day volume anomalies per event type (current day scored
    * against the preceding week's mean/stddev).
    */
  def qAnomalyDaily(spark: SparkSession, dir: String): DataFrame =
    EventStats.dailyAnomalies(Tables.events(spark, dir), "ts", "event_type")
      .orderBy(col("event_type"), col("day"))

  val anomalyDailySql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, n_events,
      |    COUNT(n_events) OVER pw AS baseline_n,
      |    AVG(n_events) OVER pw AS baseline_mean,
      |    STDDEV_SAMP(n_events) OVER pw AS baseline_std
      |  FROM d WINDOW pw AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT *, CASE WHEN baseline_n >= 3 AND baseline_std > 0
      |    THEN (n_events - baseline_mean) / baseline_std END AS zv FROM w)
      |SELECT event_type, day, n_events,
      |  ROUND(baseline_mean, 6) AS baseline_mean,
      |  ROUND(baseline_std, 6) AS baseline_std,
      |  ROUND(zv, 6) AS z, ABS(zv) > 2.0 AS is_anomaly
      |FROM z ORDER BY event_type, day""".stripMargin

  /** Per-user inter-arrival burstiness B = (σ−μ)/(σ+μ) over event gaps. */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame =
    EventStats.burstiness(Tables.events(spark, dir), "ts", "user_id")
      .orderBy(col("user_id"))

  val burstinessSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |g AS (SELECT user_id,
      |    ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
      |      AS gap_ms
      |  FROM e),
      |s AS (SELECT user_id, COUNT(*) + 1 AS n_events,
      |    CAST(SUM(gap_ms) AS BIGINT) AS sms, COUNT(*) AS ng,
      |    AVG(gap_ms / 1000.0) AS mu, STDDEV_SAMP(gap_ms / 1000.0) AS sigma
      |  FROM g WHERE gap_ms IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_events,
      |  CAST((2 * sms * 1000000 + 1000 * ng) // (2000 * ng) AS DOUBLE)
      |    / 1e6 AS mean_gap_s,
      |  ROUND(sigma, 6) AS std_gap_s,
      |  ROUND((sigma - mu) / (sigma + mu), 6) AS burstiness
      |FROM s WHERE n_events >= 6 ORDER BY user_id""".stripMargin

  /** Shannon entropy (bits) of each user's event-type mix. */
  def qUserEntropy(spark: SparkSession, dir: String): DataFrame =
    EventStats.userTypeEntropy(Tables.events(spark, dir), "user_id", "event_type")
      .orderBy(col("user_id"))

  val userEntropySql: String =
    """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, SUM(n) AS tot, COUNT(*) AS n_types FROM c GROUP BY 1),
      |j AS (SELECT c.user_id, t.tot, t.n_types,
      |    CAST(-(c.n / CAST(t.tot AS DOUBLE))
      |      * LN(c.n / CAST(t.tot AS DOUBLE)) / 0.6931471805599453
      |      AS DECIMAL(18,8)) AS term
      |  FROM c JOIN t ON c.user_id = t.user_id)
      |SELECT user_id, CAST(MAX(tot) AS BIGINT) AS n_events, MAX(n_types) AS n_types,
      |  CAST(ROUND(SUM(term), 6) AS DOUBLE) AS entropy_bits
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Conversion attribution
  // -------------------------------------------------------------------------

  /** First/last/linear attribution of purchases to view/click touchpoints
    * within a 7-day lookback.
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Attribution.channelCredit(Tables.events(spark, dir),
        "ts", "user_id", "event_type", "event_id",
        touchTypes = Seq("view", "click"), convType = "purchase",
        lookbackMs = 7L * 24 * 3600 * 1000)
      .orderBy(col("channel"))

  val attributionSql: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |    event_type AS channel FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s AS (SELECT *, SUM(CASE WHEN channel = 'purchase' THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM e),
      |seg AS (SELECT user_id, ms, event_id, channel,
      |    CASE WHEN channel = 'purchase' THEN cum - 1 ELSE cum END AS seg FROM s),
      |t AS (SELECT * FROM seg WHERE channel <> 'purchase'),
      |c AS (SELECT user_id, seg, ms AS conv_ms, event_id AS conv_id
      |      FROM seg WHERE channel = 'purchase'),
      |j AS (SELECT t.user_id, t.seg, t.ms, t.event_id, t.channel,
      |        c.conv_ms, c.conv_id
      |      FROM t JOIN c ON t.user_id = c.user_id AND t.seg = c.seg
      |      WHERE c.conv_ms - t.ms <= 604800000),
      |m AS (SELECT *,
      |    COUNT(*) OVER pc AS n_touches,
      |    FIRST_VALUE(channel) OVER po AS first_chan,
      |    LAST_VALUE(channel) OVER po AS last_chan
      |  FROM j WINDOW
      |    pc AS (PARTITION BY user_id, seg),
      |    po AS (PARTITION BY user_id, seg ORDER BY ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |lin AS (SELECT channel, SUM(CAST(1.0 / n_touches AS DECIMAL(18,8)))
      |        AS lin FROM m GROUP BY 1),
      |pc AS (SELECT DISTINCT user_id, conv_id, first_chan, last_chan FROM m),
      |f AS (SELECT first_chan AS channel, COUNT(*) AS n_first_touch FROM pc GROUP BY 1),
      |l AS (SELECT last_chan AS channel, COUNT(*) AS n_last_touch FROM pc GROUP BY 1)
      |SELECT COALESCE(f.channel, l.channel, lin.channel) AS channel,
      |  COALESCE(f.n_first_touch, 0) AS n_first_touch,
      |  COALESCE(l.n_last_touch, 0) AS n_last_touch,
      |  ROUND(CAST(COALESCE(lin.lin, CAST(0 AS DECIMAL(18,8))) AS DOUBLE), 6)
      |    AS linear_credit
      |FROM f FULL OUTER JOIN l ON f.channel = l.channel
      |FULL OUTER JOIN lin ON COALESCE(f.channel, l.channel) = lin.channel
      |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------------
  // Robust outliers
  // -------------------------------------------------------------------------

  /** Median/MAD modified-z outliers over event values (threshold 3.5) —
    * o_totalprice was the first candidate but its spread is too uniform to
    * flag anything (max |z| ≈ 1.4 at sf0.01), which would make the oracle
    * pass vacuous; the long-tailed events.value column genuinely trips the
    * 3.5 cut.
    */
  def qMadOutliers(spark: SparkSession, dir: String): DataFrame =
    Profiling.madOutliers(Tables.events(spark, dir), "event_id", "value")
      .orderBy(abs(col("robust_z")).desc, col("id"))

  val madOutliersSql: String =
    """WITH x AS (SELECT event_id AS id, CAST(value AS DOUBLE) AS value
      |  FROM events),
      |m AS (SELECT QUANTILE_CONT(value, 0.5) AS median_value FROM x),
      |md AS (SELECT QUANTILE_CONT(ABS(value - m.median_value), 0.5) AS mad
      |       FROM x CROSS JOIN m),
      |z AS (SELECT id, value, m.median_value, md.mad,
      |    0.6745 * (value - m.median_value) / md.mad AS rz
      |  FROM x CROSS JOIN m CROSS JOIN md)
      |SELECT id, value, ROUND(median_value, 6) AS median_value,
      |  ROUND(mad, 6) AS mad, ROUND(rz, 6) AS robust_z
      |FROM z WHERE ABS(rz) > 3.5 ORDER BY ABS(ROUND(rz, 6)) DESC, id""".stripMargin

  /** EWMA(decay 0.9, trailing 28 days) of daily event volumes per type. */
  def qEwmaDaily(spark: SparkSession, dir: String): DataFrame =
    EventStats.ewmaDaily(Tables.events(spark, dir), "ts", "event_type")
      .orderBy(col("event_type"), col("day"))

  val ewmaDailySql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT t.event_type, t.day, t.n AS n_events,
      |  ROUND(CAST(SUM(CAST(s.n * POWER(0.9, date_diff('day', s.day, t.day))
      |      AS DECIMAL(27,12))) AS DOUBLE)
      |    / CAST(SUM(CAST(POWER(0.9, date_diff('day', s.day, t.day))
      |      AS DECIMAL(27,12))) AS DOUBLE), 6) AS ewma
      |FROM d t JOIN d s ON t.event_type = s.event_type
      |  AND date_diff('day', s.day, t.day) BETWEEN 0 AND 27
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2""".stripMargin

  /** Poisson-bootstrap 95% CI for mean order value per order priority. */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame =
    Bootstrap.groupMeanCi(
        Tables.orders(spark, dir)
          .select(col("o_orderpriority").as("priority"),
            col("o_totalprice"), col("o_orderkey")),
        Seq("priority"), "o_totalprice", "o_orderkey")
      .orderBy(col("priority"))

  val bootstrapCiSql: String =
    """WITH b AS (SELECT o_orderpriority AS priority, o_orderkey AS rid,
      |    CAST(o_totalprice AS DECIMAL(18,4)) AS v FROM orders),
      |r AS (SELECT priority, rid, v, rep FROM b CROSS JOIN
      |    (SELECT unnest(generate_series(0, 49)) AS rep)),
      |u0 AS (SELECT priority, rep, v,
      |    ('0x' || substr(md5(rid || ':' || rep), 1, 13))::BIGINT
      |      / 4503599627370496.0 AS u FROM r),
      |w AS (SELECT priority, rep, v,
      |    CASE WHEN u < 0.36787944117144233 THEN 0
      |         WHEN u < 0.7357588823428847 THEN 1
      |         WHEN u < 0.9196986029286059 THEN 2
      |         WHEN u < 0.9810118431238463 THEN 3
      |         WHEN u < 0.9963401531726564 THEN 4
      |         WHEN u < 0.9994058151824184 THEN 5
      |         ELSE 6 END AS w
      |  FROM u0),
      |rm AS (SELECT priority, rep,
      |    CAST(SUM(v * w) AS DOUBLE) / SUM(w) AS rm FROM w GROUP BY 1, 2),
      |a AS (SELECT priority, COUNT(*) AS n,
      |    CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean FROM b GROUP BY 1),
      |c AS (SELECT priority, quantile_cont(rm, 0.025) AS ci_lo,
      |    quantile_cont(rm, 0.975) AS ci_hi FROM rm GROUP BY 1)
      |SELECT a.priority, a.n, ROUND(a.mean, 6) AS mean,
      |  ROUND(c.ci_lo, 6) AS ci_lo, ROUND(c.ci_hi, 6) AS ci_hi
      |FROM a JOIN c USING (priority) ORDER BY priority""".stripMargin

  // -------------------------------------------------------------------------
  // Distribution drift & feature-dependence audits (graft.ext.Drift)
  // -------------------------------------------------------------------------

  /** One-vs-rest KS drift scan of the token-count distribution per document
    * source — "which feed's length profile diverges from the blend".
    */
  def qKsDrift(spark: SparkSession, dir: String): DataFrame =
    Drift.ksOneVsRest(
        Tables.documents(spark, dir).select(col("source"),
          size(split(col("text"), " ")).as("x")),
        "source", "x")
      .withColumnRenamed("s", "source")
      .orderBy(col("source"))

  val ksDriftSql: String =
    """WITH t AS (SELECT source AS src, len(string_split(text, ' ')) AS x
      |           FROM documents),
      |c AS (SELECT src, x, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
      |r AS (SELECT DISTINCT src AS s FROM c),
      |ev AS (SELECT r.s, c.x,
      |    CAST(SUM(CASE WHEN c.src = r.s THEN c.cnt ELSE 0 END) AS BIGINT)
      |      AS in_cnt,
      |    CAST(SUM(CASE WHEN c.src <> r.s THEN c.cnt ELSE 0 END) AS BIGINT)
      |      AS out_cnt
      |  FROM c CROSS JOIN r GROUP BY 1, 2),
      |tot AS (SELECT src AS s, CAST(SUM(cnt) AS BIGINT) AS n_grp
      |        FROM c GROUP BY 1),
      |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM c),
      |cum AS (SELECT s, x,
      |    SUM(in_cnt) OVER (PARTITION BY s ORDER BY x) AS cin,
      |    SUM(out_cnt) OVER (PARTITION BY s ORDER BY x) AS cout
      |  FROM ev)
      |SELECT cum.s AS source, MAX(n_grp) AS n,
      |  ROUND(MAX(ABS(CAST(cin AS DOUBLE) / CAST(n_grp AS DOUBLE) -
      |      CAST(cout AS DOUBLE) / CAST(n_tot - n_grp AS DOUBLE))), 6) AS ks
      |FROM cum JOIN tot USING (s) CROSS JOIN g
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-vs-rest Wasserstein-1 drift of token counts per source — the
    * magnitude-aware companion to q_ks_drift (how FAR the lengths moved, in
    * tokens, not just the sup CDF gap).
    */
  def qW1Drift(spark: SparkSession, dir: String): DataFrame =
    Drift.wasserstein1OneVsRest(
        Tables.documents(spark, dir).select(col("source"),
          size(split(col("text"), " ")).as("x")),
        "source", "x")
      .withColumnRenamed("s", "source")
      .orderBy(col("source"))

  val w1DriftSql: String =
    """WITH t AS (SELECT source AS src, len(string_split(text, ' ')) AS x
      |           FROM documents),
      |c AS (SELECT src, x, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
      |r AS (SELECT DISTINCT src AS s FROM c),
      |ev AS (SELECT r.s, c.x,
      |    CAST(SUM(CASE WHEN c.src = r.s THEN c.cnt ELSE 0 END) AS BIGINT)
      |      AS in_cnt,
      |    CAST(SUM(CASE WHEN c.src <> r.s THEN c.cnt ELSE 0 END) AS BIGINT)
      |      AS out_cnt
      |  FROM c CROSS JOIN r GROUP BY 1, 2),
      |tot AS (SELECT src AS s, CAST(SUM(cnt) AS BIGINT) AS n_grp
      |        FROM c GROUP BY 1),
      |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM c),
      |cum AS (SELECT s, x,
      |    SUM(in_cnt) OVER (PARTITION BY s ORDER BY x) AS cin,
      |    SUM(out_cnt) OVER (PARTITION BY s ORDER BY x) AS cout,
      |    CAST(LEAD(x) OVER (PARTITION BY s ORDER BY x) - x AS DOUBLE) AS dx
      |  FROM ev)
      |SELECT cum.s AS source, MAX(n_grp) AS n,
      |  ROUND(CAST(SUM(CAST(
      |      ABS(CAST(cin AS DOUBLE) / CAST(n_grp AS DOUBLE) -
      |          CAST(cout AS DOUBLE) / CAST(n_tot - n_grp AS DOUBLE)) * dx
      |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS w1
      |FROM cum JOIN tot USING (s) CROSS JOIN g
      |WHERE dx IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** PSI of the price distribution between the pre-1998 reference period and
    * the rest — the standard go/no-go drift gate, with the per-bin
    * decomposition.
    */
  def qPsiPrice(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val split = col("l_shipdate") < lit("1998-01-01").cast("timestamp")
    Drift.psi(li.filter(split), li.filter(!split), "l_extendedprice", nBins = 10)
      .orderBy(col("bin"))
  }

  val psiPriceSql: String =
    """WITH st AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      |            FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'),
      |b AS (SELECT CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
      |        THEN 'ref' ELSE 'cur' END AS slice,
      |    CAST(LEAST(GREATEST(
      |        FLOOR((l_extendedprice - mn) * 10 / (mx - mn)), 0), 9) AS INT)
      |      AS bin
      |  FROM lineitem CROSS JOIN st),
      |c AS (SELECT slice, bin, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM b GROUP BY 1, 2),
      |spine AS (SELECT CAST(range AS INT) AS bin FROM range(0, 10)),
      |wide AS (SELECT spine.bin,
      |    COALESCE(rf.cnt, 0) AS ref_cnt, COALESCE(cu.cnt, 0) AS cur_cnt
      |  FROM spine
      |  LEFT JOIN (SELECT bin, cnt FROM c WHERE slice = 'ref') rf USING (bin)
      |  LEFT JOIN (SELECT bin, cnt FROM c WHERE slice = 'cur') cu USING (bin)),
      |t AS (SELECT bin, ref_cnt, cur_cnt,
      |    ((CAST(ref_cnt AS DOUBLE) + 0.5) /
      |       (CAST(SUM(ref_cnt) OVER () AS DOUBLE) + 5.0) -
      |     (CAST(cur_cnt AS DOUBLE) + 0.5) /
      |       (CAST(SUM(cur_cnt) OVER () AS DOUBLE) + 5.0)) *
      |    LN(((CAST(ref_cnt AS DOUBLE) + 0.5) /
      |          (CAST(SUM(ref_cnt) OVER () AS DOUBLE) + 5.0)) /
      |        ((CAST(cur_cnt AS DOUBLE) + 0.5) /
      |          (CAST(SUM(cur_cnt) OVER () AS DOUBLE) + 5.0))) AS psi_term_raw
      |  FROM wide)
      |SELECT bin, ref_cnt, cur_cnt,
      |  ROUND(psi_term_raw, 6) AS psi_term,
      |  ROUND(CAST(SUM(CAST(psi_term_raw AS DECIMAL(28,12))) OVER ()
      |    AS DOUBLE), 6) AS psi_total
      |FROM t ORDER BY bin""".stripMargin

  /** Categorical dependence audit over two warehouse column pairs: mutual
    * information, chi-square and Cramér's V from the contingency tables.
    */
  def qMutualInfo(spark: SparkSession, dir: String): DataFrame =
    Drift.categoricalDependence(Tables.orders(spark, dir),
        "o_orderpriority", "o_orderstatus", "orders_priority_x_status")
      .unionAll(Drift.categoricalDependence(Tables.customer(spark, dir),
        "c_mktsegment", "c_nationkey", "customer_segment_x_nation"))
      .orderBy(col("pair"))

  private val dependenceSqlTemplate: String =
    """SELECT '%LABEL%' AS pair, n, r_levels, c_levels,
      |  ROUND(CAST(SUM(CAST((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      LN(CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) /
      |         (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)))
      |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS mi_nats,
      |  ROUND(CAST(SUM(CAST(
      |      CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) /
      |      (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
      |    AS DECIMAL(28,12))) AS DOUBLE) - CAST(n AS DOUBLE), 6) AS chi2,
      |  ROUND(SQRT((CAST(SUM(CAST(
      |      CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE) /
      |      (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))
      |    AS DECIMAL(28,12))) AS DOUBLE) - CAST(n AS DOUBLE)) /
      |    (CAST(n AS DOUBLE) *
      |      CAST(LEAST(r_levels - 1, c_levels - 1) AS DOUBLE))), 6)
      |    AS cramers_v
      |FROM (
      |  SELECT cells.cnt, ra.ra, cb.cb, g.n, g.r_levels, g.c_levels
      |  FROM (SELECT %A% AS a, %B% AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      |        FROM %TBL% GROUP BY 1, 2) cells
      |  JOIN (SELECT %A% AS a, CAST(COUNT(*) AS BIGINT) AS ra
      |        FROM %TBL% GROUP BY 1) ra USING (a)
      |  JOIN (SELECT %B% AS b, CAST(COUNT(*) AS BIGINT) AS cb
      |        FROM %TBL% GROUP BY 1) cb USING (b)
      |  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |      CAST(COUNT(DISTINCT %A%) AS BIGINT) AS r_levels,
      |      CAST(COUNT(DISTINCT %B%) AS BIGINT) AS c_levels FROM %TBL%) g)
      |GROUP BY n, r_levels, c_levels""".stripMargin

  private def dependenceSql(tbl: String, a: String, b: String,
      label: String): String =
    dependenceSqlTemplate.replace("%TBL%", tbl).replace("%A%", a)
      .replace("%B%", b).replace("%LABEL%", label)

  val mutualInfoSql: String =
    s"""SELECT * FROM (
      |${dependenceSql("orders", "o_orderpriority", "o_orderstatus",
        "orders_priority_x_status")}
      |UNION ALL
      |${dependenceSql("customer", "c_mktsegment", "c_nationkey",
        "customer_segment_x_nation")}
      |) ORDER BY pair""".stripMargin

  /** Per-brand OLS of quantity on discount — the grouped price-elasticity
    * regression (does discounting move volume, and for which brand).
    */
  def qBrandElasticity(spark: SparkSession, dir: String): DataFrame =
    Drift.groupedOls(
        Tables.lineitem(spark, dir)
          .join(Tables.part(spark, dir),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("brand"), col("l_discount"),
            col("l_quantity")),
        "brand", "l_discount", "l_quantity")
      .orderBy(col("brand"))

  val brandElasticitySql: String =
    """WITH m AS (SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(l_discount AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sy,
      |    SUM(CAST(l_discount AS DECIMAL(18,4)) *
      |        CAST(l_quantity AS DECIMAL(18,4))) AS sxy,
      |    SUM(CAST(l_discount AS DECIMAL(18,4)) *
      |        CAST(l_discount AS DECIMAL(18,4))) AS sxx
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |s AS (SELECT brand, n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS slope_raw,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m)
      |SELECT brand, n, ROUND(slope_raw, 6) AS slope,
      |  ROUND((syd - slope_raw * sxd) / CAST(n AS DOUBLE), 6) AS intercept
      |FROM s ORDER BY brand""".stripMargin

  /** CUPED variance-reduced A/B readout over the events stream: arms from
    * the deterministic md5 user split (the q_ab_test assignment), covariate
    * x = pre-period purchase spend, metric y = experiment-period spend.
    */
  def qCuped(spark: SparkSession, dir: String): DataFrame = {
    val splitTs = lit("2024-01-16").cast("timestamp")
    val dec0 = lit(0).cast("decimal(18,4)")
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" && col("ts") < splitTs,
          col("value").cast("decimal(18,4)")).otherwise(dec0)).as("x"),
        sum(when(col("event_type") === "purchase" && col("ts") >= splitTs,
          col("value").cast("decimal(18,4)")).otherwise(dec0)).as("y"))
      .withColumn("arm", when(Splits.hashBucket(col("user_id")) % 2 === 0,
        lit("A")).otherwise(lit("B")))
    Experiment.cuped(u, "arm", "x", "y").orderBy(col("arm"))
  }

  val cupedSql: String =
    """WITH u AS (SELECT user_id,
      |    SUM(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
      |        THEN CAST(value AS DECIMAL(18,4))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS x,
      |    SUM(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
      |        THEN CAST(value AS DECIMAL(18,4))
      |        ELSE CAST(0 AS DECIMAL(18,4)) END) AS y,
      |    CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
      |        % 100) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |m AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(18,4))) AS sx,
      |    SUM(CAST(y AS DECIMAL(18,4))) AS sy,
      |    SUM(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS sxy,
      |    SUM(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))) AS sxx,
      |    SUM(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS syy
      |  FROM u GROUP BY 1),
      |g AS (SELECT CAST(SUM(n) AS DOUBLE) AS gn, CAST(SUM(sx) AS DOUBLE) AS gsx,
      |    CAST(SUM(sy) AS DOUBLE) AS gsy, CAST(SUM(sxy) AS DOUBLE) AS gsxy,
      |    CAST(SUM(sxx) AS DOUBLE) AS gsxx, CAST(SUM(syy) AS DOUBLE) AS gsyy
      |  FROM m),
      |s AS (SELECT gn, gsx, gsy,
      |    gn * gsxy - gsx * gsy AS covn,
      |    gn * gsxx - gsx * gsx AS varxn,
      |    gn * gsyy - gsy * gsy AS varyn
      |  FROM g)
      |SELECT arm, n,
      |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
      |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) -
      |    (covn / NULLIF(varxn, 0.0)) *
      |    (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - gsx / gn), 6)
      |    AS mean_y_adj,
      |  ROUND(covn / NULLIF(varxn, 0.0), 6) AS theta,
      |  ROUND(covn * covn / NULLIF(varxn * varyn, 0.0), 6) AS var_reduction
      |FROM m CROSS JOIN s ORDER BY arm""".stripMargin

  /** Sample-ratio-mismatch gate for the md5 user split (the q_ab_test /
    * q_cuped assignment): arm counts vs equal expected shares.
    */
  def qSrm(spark: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(spark, dir).select(col("user_id")).distinct()
      .withColumn("arm", when(Splits.hashBucket(col("user_id")) % 2 === 0,
        lit("A")).otherwise(lit("B")))
    Experiment.srm(u, "arm").orderBy(col("arm"))
  }

  val srmSql: String =
    """WITH u AS (SELECT DISTINCT user_id,
      |    CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
      |        % 100) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      |  FROM events),
      |b AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1),
      |g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot, CAST(COUNT(*) AS BIGINT) AS k
      |      FROM b)
      |SELECT arm, n,
      |  ROUND(CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE), 6) AS expected,
      |  ROUND(CAST(SUM(CAST(
      |      (CAST(n AS DOUBLE) - CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE)) *
      |      (CAST(n AS DOUBLE) - CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE)) /
      |      (CAST(n_tot AS DOUBLE) / CAST(k AS DOUBLE))
      |    AS DECIMAL(28,12))) OVER () AS DOUBLE), 6) AS chi2,
      |  k - 1 AS dof
      |FROM b CROSS JOIN g ORDER BY arm""".stripMargin

  /** One-vs-rest Mann–Whitney location test of token counts per document
    * source — the rank-based companion to q_ks_drift from the same counts.
    */
  def qMwuDrift(spark: SparkSession, dir: String): DataFrame =
    Drift.mannWhitneyOneVsRest(
        Tables.documents(spark, dir).select(col("source"),
          size(split(col("text"), " ")).as("x")),
        "source", "x")
      .withColumnRenamed("src", "source")
      .orderBy(col("source"))

  val mwuDriftSql: String =
    """WITH t AS (SELECT source AS src, len(string_split(text, ' ')) AS x
      |           FROM documents),
      |c AS (SELECT src, x, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1, 2),
      |p AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS tc FROM c GROUP BY 1),
      |r AS (SELECT x, tc, SUM(tc) OVER (ORDER BY x) * 2 - tc + 1 AS a2 FROM p),
      |ti AS (SELECT CAST(SUM(tc) AS BIGINT) AS n_tot,
      |    SUM(CAST(tc * tc * tc - tc AS DECIMAL(38,0))) AS tie_sum FROM p),
      |pg AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS n,
      |    SUM(CAST(cnt AS DECIMAL(19,0)) * CAST(a2 AS DECIMAL(19,0))) AS r2
      |  FROM c JOIN r USING (x) GROUP BY 1)
      |SELECT src AS source, n,
      |  ROUND((CAST(r2 AS DOUBLE) -
      |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) / 2.0, 6) AS u,
      |  ROUND(((CAST(r2 AS DOUBLE) -
      |      CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) / 2.0 -
      |    CAST(n AS DOUBLE) * CAST(n_tot - n AS DOUBLE) / 2.0) /
      |    SQRT(CASE WHEN CAST(n AS DOUBLE) * CAST(n_tot - n AS DOUBLE) / 12.0 *
      |        ((CAST(n_tot AS DOUBLE) + 1.0) - CAST(tie_sum AS DOUBLE) /
      |         (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) - 1.0))) <= 0.0
      |      THEN NULL
      |      ELSE CAST(n AS DOUBLE) * CAST(n_tot - n AS DOUBLE) / 12.0 *
      |        ((CAST(n_tot AS DOUBLE) + 1.0) - CAST(tie_sum AS DOUBLE) /
      |         (CAST(n_tot AS DOUBLE) * (CAST(n_tot AS DOUBLE) - 1.0)))
      |    END), 6) AS z
      |FROM pg CROSS JOIN ti ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Autocorrelation of daily revenue
  // --------------------------------------------------------------------------

  /** ACF(lags 1..10) of the daily order-revenue series. */
  def qAcf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Inputs.dec(col("o_totalprice"))).as("x"))
    Series.acf(d, "day", "x", maxLag = 10)
  }

  val acfSql: String =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS HUGEINT) AS x
      |  FROM orders GROUP BY 1),
      |l AS (SELECT unnest(generate_series(1, 10)) AS lag),
      |s AS (SELECT l.lag, d.day + CAST(l.lag AS INTEGER) AS tday, d.x AS xs
      |  FROM d CROSS JOIN l),
      |p AS (SELECT s.lag, t.x AS y, s.xs AS x FROM d t JOIN s ON t.day = s.tday),
      |m AS (SELECT lag, COUNT(*) AS n_pairs,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY 1)
      |SELECT lag, n_pairs,
      |  ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
      |FROM m ORDER BY lag""".stripMargin

  // --------------------------------------------------------------------------
  // Per-brand ROC AUC (does discount depth predict returns?)
  // --------------------------------------------------------------------------

  def qBrandAuc(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_discount").as("score"),
        (col("l_returnflag") === "R").cast("int").as("label"))
    Experiment.rankAuc(j, "brand", "score", "label")
  }

  val brandAucSql: String =
    """WITH j AS (SELECT p_brand AS brand, l_discount AS score,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |t AS (SELECT brand, score, COUNT(*) AS cnt,
      |    CAST(SUM(label) AS BIGINT) AS pos
      |  FROM j GROUP BY 1, 2),
      |r AS (SELECT brand, cnt, pos,
      |    2 * (SUM(cnt) OVER (PARTITION BY brand ORDER BY score) - cnt)
      |      + cnt + 1 AS r2
      |  FROM t),
      |a AS (SELECT brand, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
      |    SUM(pos * r2) AS pr2
      |  FROM r GROUP BY 1)
      |SELECT brand, n_pos, n_neg,
      |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |    ELSE ROUND(CAST(pr2 - n_pos * (n_pos + 1) AS DOUBLE)
      |      / (2.0 * n_pos * n_neg), 6) END AS auc
      |FROM a ORDER BY brand""".stripMargin

  // --------------------------------------------------------------------------
  // BH-FDR brand scan: which brands have significantly deviant return rates?
  // --------------------------------------------------------------------------

  def qBhFdr(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_returnflag") === "R").cast("int").as("ret"))
    Experiment.bhFdr(j, "brand", "ret", alpha = 0.05)
  }

  val bhFdrSql: String =
    """WITH j AS (SELECT p_brand AS brand,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |g AS (SELECT brand, COUNT(*) AS n, CAST(SUM(ret) AS BIGINT) AS pos
      |  FROM j GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(pos) AS BIGINT) AS pp,
      |    COUNT(*) AS m FROM g),
      |sc AS (SELECT brand, n, pos, m,
      |    ROUND(CAST(pos AS DOUBLE) / n, 6) AS rate,
      |    CASE WHEN nn = n OR pp = 0 OR pp = nn THEN NULL ELSE
      |    ROUND((CAST(pos AS DOUBLE) / n - CAST(pp - pos AS DOUBLE) / (nn - n)) /
      |      sqrt((CAST(pp AS DOUBLE) / nn) * (1.0 - CAST(pp AS DOUBLE) / nn) *
      |        (1.0 / n + 1.0 / (nn - n))), 6) END AS z,
      |    CASE WHEN nn = n OR pp = 0 OR pp = nn THEN NULL ELSE
      |    abs((CAST(pos AS DOUBLE) / n - CAST(pp - pos AS DOUBLE) / (nn - n)) /
      |      sqrt((CAST(pp AS DOUBLE) / nn) * (1.0 - CAST(pp AS DOUBLE) / nn) *
      |        (1.0 / n + 1.0 / (nn - n)))) / sqrt(2.0) END AS x
      |  FROM g CROSS JOIN tot),
      |pv AS (SELECT brand, n, pos, m, rate, z,
      |    ROUND((1.0 / (1.0 + 0.3275911 * x)) * (0.254829592
      |      + (1.0 / (1.0 + 0.3275911 * x)) * (-0.284496736
      |      + (1.0 / (1.0 + 0.3275911 * x)) * (1.421413741
      |      + (1.0 / (1.0 + 0.3275911 * x)) * (-1.453152027
      |      + (1.0 / (1.0 + 0.3275911 * x)) * 1.061405429))))
      |      * exp(-(x * x)), 6) AS p_value
      |  FROM sc),
      |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY p_value NULLS LAST, brand)
      |    AS bh_rank
      |  FROM pv),
      |fr AS (SELECT *, MAX(CASE WHEN p_value <= CAST(bh_rank AS DOUBLE)
      |      * 0.05 / m THEN bh_rank END) OVER () AS sig_rank
      |  FROM rk)
      |SELECT brand, n, pos, rate, z, p_value, bh_rank,
      |  bh_rank <= COALESCE(sig_rank, 0) AS significant
      |FROM fr ORDER BY bh_rank""".stripMargin

  // --------------------------------------------------------------------------
  // k-anonymity / l-diversity release audit
  // --------------------------------------------------------------------------

  /** Per-equivalence-class re-identification audit of the customer table
    * ([[Privacy.kAnonymity]]): quasi-identifiers (nation, market segment,
    * $1000 balance band), sensitive value = the exact balance; k=5, l=3.
    */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame =
    Privacy.kAnonymity(Tables.customer(spark, dir),
        Seq(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        col("c_acctbal"), k = 5, l = 3)
      .orderBy(col("nation"), col("segment"), col("bal_band"))

  val kAnonymitySql: String =
    """SELECT c_nationkey AS nation, c_mktsegment AS segment,
      |  CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |  COUNT(*) AS class_size,
      |  COUNT(DISTINCT c_acctbal) AS l_diversity,
      |  COUNT(*) < 5 AS k_at_risk,
      |  COUNT(DISTINCT c_acctbal) < 3 AS l_at_risk
      |FROM customer GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------------------
  // Benford first-digit audit
  // --------------------------------------------------------------------------

  /** Benford's-law chi² over order totals ([[graft.ext.Profiling.benfordAudit]]). */
  def qBenford(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Profiling.benfordAudit(Tables.orders(spark, dir), "o_totalprice")
      .orderBy(col("digit"))

  val benfordSql: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
      |spine AS (SELECT CAST(UNNEST(range(1, 10)) AS INT) AS digit),
      |b AS (SELECT s.digit, CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs
      |  FROM spine s LEFT JOIN c ON s.digit = c.digit),
      |g AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM b),
      |t AS (SELECT b.digit, b.n_obs,
      |    CAST(n_tot AS DOUBLE) *
      |      (ln(1.0::DOUBLE + 1.0::DOUBLE / CAST(b.digit AS DOUBLE)) /
      |       ln(10.0::DOUBLE)) AS expected
      |  FROM b CROSS JOIN g),
      |x AS (SELECT digit, n_obs, expected,
      |    CAST((CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
      |      / expected AS DECIMAL(28,12)) AS chi_term
      |  FROM t),
      |s2 AS (SELECT CAST(SUM(chi_term) AS DOUBLE) AS chi2_raw FROM x)
      |SELECT digit, n_obs, ROUND(expected, 6) AS expected,
      |  ROUND(chi2_raw, 6) AS chi2, CAST(8 AS BIGINT) AS dof
      |FROM x CROSS JOIN s2 ORDER BY digit""".stripMargin

  // --------------------------------------------------------------------------
  // A/B power / minimum detectable effect
  // --------------------------------------------------------------------------

  /** Per-event-type MDE of the user_id-parity bucketing over event `value`
    * ([[Experiment.powerMde]], α = 0.05 two-sided, power = 0.80).
    */
  def qPowerMde(spark: SparkSession, dir: String): DataFrame =
    Experiment.powerMde(
        Tables.events(spark, dir).select(col("event_type"),
          when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
          col("value")),
        "event_type", "arm", "value")
      .orderBy(col("segment"))

  val powerMdeSql: String = {
    val zSum = Experiment.ZAlphaTwoSided05 + Experiment.ZPower80
    s"""WITH e AS (SELECT event_type AS segment,
      |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm
      |  FROM events),
      |g AS (SELECT segment, arm, COUNT(*) AS n, SUM(vm) AS s1,
      |    SUM(CAST(vm AS HUGEINT) * vm) AS s2
      |  FROM e GROUP BY 1, 2),
      |a AS (SELECT segment, n AS n_a, s1 AS s1_a, s2 AS s2_a FROM g
      |  WHERE arm = 'A'),
      |b AS (SELECT segment, n AS n_b, s1 AS s1_b, s2 AS s2_b FROM g
      |  WHERE arm = 'B'),
      |j AS (SELECT segment, n_a, n_b,
      |    CAST(s1_a AS DOUBLE) / n_a / 1000000.0 AS mean_a,
      |    CAST(s1_b AS DOUBLE) / n_b / 1000000.0 AS mean_b,
      |    $zSum * sqrt(
      |      (CAST(s2_a AS DOUBLE) -
      |        CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE) / n_a) /
      |        (n_a - 1) / 1000000000000.0 / n_a +
      |      (CAST(s2_b AS DOUBLE) -
      |        CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE) / n_b) /
      |        (n_b - 1) / 1000000000000.0 / n_b) AS mde
      |  FROM a JOIN b USING (segment)
      |  WHERE n_a > 1 AND n_b > 1)
      |SELECT segment, n_a, n_b, ROUND(mean_a, 6) AS mean_a,
      |  ROUND(mean_b, 6) AS mean_b, ROUND(mde, 6) AS mde_abs,
      |  ROUND(mde / NULLIF(mean_a, 0.0), 6) AS mde_rel
      |FROM j ORDER BY segment""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Split-conformal coverage gate
  // --------------------------------------------------------------------------

  /** Conformal interval for l_extendedprice ~ l_quantity: calibrate on
    * l_orderkey % 5 = 0, α = 0.1 ([[Experiment.conformalGate]]); coverage on
    * the rest should come out ≥ ~0.9.
    */
  def qConformal(spark: SparkSession, dir: String): DataFrame =
    Experiment.conformalGate(Tables.lineitem(spark, dir),
      "l_quantity", "l_extendedprice", col("l_orderkey") % 5 === 0,
      alpha = 0.1, xScale = 1.0, yScale = 100.0)

  val conformalSql: String =
    """WITH base AS (SELECT CAST(ROUND(l_quantity * 1.0) AS HUGEINT) AS xi,
      |    CAST(ROUND(l_extendedprice * 100.0) AS HUGEINT) AS yi,
      |    l_orderkey % 5 = 0 AS is_cal
      |  FROM lineitem),
      |cal AS (SELECT * FROM base WHERE is_cal),
      |m0 AS (SELECT COUNT(*) AS n_cal, SUM(xi) AS sx, SUM(yi) AS sy,
      |    SUM(xi * xi) AS sxx, SUM(xi * yi) AS sxy FROM cal),
      |m1 AS (SELECT n_cal,
      |    CAST(n_cal * sxy - sx * sy AS DOUBLE) /
      |      CAST(n_cal * sxx - sx * sx AS DOUBLE) AS b_i,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd FROM m0),
      |m AS (SELECT n_cal, b_i,
      |    syd / n_cal - b_i * (sxd / n_cal) AS a_i FROM m1),
      |k AS (SELECT CAST(FLOOR(((n_cal + 1) * 900 + 999) / 1000.0) AS BIGINT)
      |    AS k, n_cal, a_i, b_i FROM m),
      |r AS (SELECT n_cal, a_i, b_i, k, xi, yi,
      |    ABS(CAST(yi AS DOUBLE) - (a_i + b_i * CAST(xi AS DOUBLE))) AS r
      |  FROM cal CROSS JOIN k),
      |rq AS (SELECT n_cal, a_i, b_i, r AS q_i FROM (
      |    SELECT *, ROW_NUMBER() OVER (ORDER BY r, xi, yi) AS rn FROM r)
      |  WHERE rn = LEAST(k, n_cal)),
      |t AS (SELECT COUNT(*) AS n_test,
      |    CAST(SUM(CASE WHEN ABS(CAST(yi AS DOUBLE) -
      |        (a_i + b_i * CAST(xi AS DOUBLE))) <= q_i
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cov,
      |    MAX(n_cal) AS n_cal, MAX(a_i) AS a_i, MAX(b_i) AS b_i,
      |    MAX(q_i) AS q_i
      |  FROM base CROSS JOIN rq WHERE NOT is_cal)
      |SELECT n_cal, n_test, ROUND(b_i * 0.01, 6) AS slope,
      |  ROUND(a_i / 100.0, 6) AS intercept, ROUND(q_i / 100.0, 6) AS q_alpha,
      |  ROUND(CAST(n_cov AS DOUBLE) / n_test, 6) AS coverage
      |FROM t""".stripMargin

  // --------------------------------------------------------------------------
  // Empirical-Bayes shrunk return rates per brand
  // --------------------------------------------------------------------------

  /** Per-brand return-rate ranking before/after fixed-strength EB shrinkage
    * toward the pooled rate ([[graft.ext.Profiling.shrunkRates]], τ = 200).
    */
  def qEbShrinkage(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Profiling.shrunkRates(
        Tables.lineitem(spark, dir)
          .join(Tables.part(spark, dir),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("brand"),
            (col("l_returnflag") === "R").as("is_return")),
        "brand", "is_return", tau = 200.0)
      .withColumnRenamed("grp", "brand")
      .orderBy(col("brand"))

  val ebShrinkageSql: String =
    """WITH g AS (SELECT p_brand AS brand, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS k
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |p AS (SELECT CAST(SUM(k) AS BIGINT) AS tk, CAST(SUM(n) AS BIGINT) AS tn
      |  FROM g),
      |s AS (SELECT brand, n, k,
      |    CAST(k AS DOUBLE) / n AS raw,
      |    (k + CAST(tk AS DOUBLE) / tn * 200.0) / (n + 200.0) AS shrunk
      |  FROM g CROSS JOIN p),
      |r AS (SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY raw DESC, brand) AS rank_raw,
      |    ROW_NUMBER() OVER (ORDER BY shrunk DESC, brand) AS rank_shrunk
      |  FROM s)
      |SELECT brand, n, k, ROUND(raw, 6) AS raw_rate,
      |  ROUND(shrunk, 6) AS shrunk_rate, rank_raw, rank_shrunk,
      |  CAST(rank_raw - rank_shrunk AS BIGINT) AS rank_shift
      |FROM r ORDER BY brand""".stripMargin

  // --------------------------------------------------------------------------
  // CUSUM change detection
  // --------------------------------------------------------------------------

  /** One-sided CUSUM (k = 0.5, h = 3) over each event type's daily
    * micro-quantized value volume ([[ChangeDetect.cusum]]); the oracle
    * replays the nonlinear fold day by day with a recursive CTE.
    */
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
    ChangeDetect.cusum(daily, "event_type", "day", "v", k = 0.5, h = 3.0)
      .select(col("event_type"), col("n_days"),
        round(col("max_s"), 6).as("max_s"), col("peak_day"), col("n_alarms"))
      .orderBy(col("event_type"))
  }

  val cusumSql: String =
    """WITH RECURSIVE dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT g, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS s2
      |  FROM dly GROUP BY 1),
      |mm AS (SELECT g, CAST(s AS DOUBLE) / n AS mean,
      |    sqrt(GREATEST(CAST(s2 AS DOUBLE) / n -
      |      (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)) AS sd
      |  FROM m),
      |z AS (SELECT dly.g, dly.d,
      |    ROW_NUMBER() OVER (PARTITION BY dly.g ORDER BY dly.d) AS rn,
      |    (CAST(dly.v AS DOUBLE) - mm.mean) /
      |      (CASE WHEN mm.sd > 0.0 THEN mm.sd ELSE 1.0 END) AS z
      |  FROM dly JOIN mm USING (g)),
      |f(g, rn, s, maxs, peak, alarms) AS (
      |  SELECT g, rn, GREATEST(z - 0.5, 0.0),
      |    GREATEST(z - 0.5, 0.0),
      |    CASE WHEN GREATEST(z - 0.5, 0.0) > 0.0 THEN d ELSE NULL END,
      |    CASE WHEN GREATEST(z - 0.5, 0.0) > 3.0 THEN 1 ELSE 0 END
      |  FROM z WHERE rn = 1
      |  UNION ALL
      |  SELECT z.g, z.rn, GREATEST(f.s + z.z - 0.5, 0.0),
      |    CASE WHEN GREATEST(f.s + z.z - 0.5, 0.0) > f.maxs
      |         THEN GREATEST(f.s + z.z - 0.5, 0.0) ELSE f.maxs END,
      |    CASE WHEN GREATEST(f.s + z.z - 0.5, 0.0) > f.maxs
      |         THEN z.d ELSE f.peak END,
      |    f.alarms + CASE WHEN GREATEST(f.s + z.z - 0.5, 0.0) > 3.0
      |               THEN 1 ELSE 0 END
      |  FROM f JOIN z ON z.g = f.g AND z.rn = f.rn + 1),
      |fin AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY rn DESC)
      |    AS rr FROM f)
      |SELECT g AS event_type, rn AS n_days, ROUND(maxs, 6) AS max_s,
      |  peak AS peak_day, CAST(alarms AS BIGINT) AS n_alarms
      |FROM fin WHERE rr = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------------
  // Always-valid sequential p-value (mSPRT)
  // --------------------------------------------------------------------------

  /** Per-event-type always-valid p-value curve for the user-parity A/B over
    * daily cumulative moments ([[Experiment.alwaysValidPValue]], ρ = 1):
    * safe-to-peek sequential testing next to `q_ab_test`'s fixed-horizon z.
    */
  def qAlwaysValid(spark: SparkSession, dir: String): DataFrame =
    Experiment.alwaysValidPValue(
        Tables.events(spark, dir).select(col("event_type"),
          to_date(col("ts")).as("day"),
          when(col("user_id") % 2 === 0, "A").otherwise("B").as("arm"),
          col("value")),
        "event_type", "day", "arm", "value", rho = 1.0)
      .orderBy(col("segment"), col("day"))

  val alwaysValidSql: String =
    """WITH e AS (SELECT event_type AS segment, CAST(ts AS DATE) AS day,
      |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(ROUND(value * 1000000.0) AS BIGINT) AS vm FROM events),
      |d AS (SELECT segment, day,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS dn_a,
      |    CAST(SUM(CASE WHEN arm = 'A' THEN vm ELSE 0 END) AS HUGEINT)
      |      AS ds1_a,
      |    SUM(CASE WHEN arm = 'A' THEN CAST(vm AS HUGEINT) * vm ELSE 0 END)
      |      AS ds2_a,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS dn_b,
      |    CAST(SUM(CASE WHEN arm = 'B' THEN vm ELSE 0 END) AS HUGEINT)
      |      AS ds1_b,
      |    SUM(CASE WHEN arm = 'B' THEN CAST(vm AS HUGEINT) * vm ELSE 0 END)
      |      AS ds2_b
      |  FROM e GROUP BY 1, 2),
      |c AS (SELECT segment, day,
      |    SUM(dn_a) OVER w AS n_a, SUM(ds1_a) OVER w AS s1_a,
      |    SUM(ds2_a) OVER w AS s2_a,
      |    SUM(dn_b) OVER w AS n_b, SUM(ds1_b) OVER w AS s1_b,
      |    SUM(ds2_b) OVER w AS s2_b
      |  FROM d WINDOW w AS (PARTITION BY segment ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |x AS (SELECT segment, day, CAST(n_a AS BIGINT) AS n_a,
      |    CAST(n_b AS BIGINT) AS n_b,
      |    CAST(s1_a AS DOUBLE) / n_a / 1000000.0 -
      |      CAST(s1_b AS DOUBLE) / n_b / 1000000.0 AS delta,
      |    ((CAST(s2_a AS DOUBLE) -
      |        CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE) / n_a) +
      |     (CAST(s2_b AS DOUBLE) -
      |        CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE) / n_b)) /
      |      (n_a + n_b - 2) / 1000000000000.0 *
      |      (1.0 / n_a + 1.0 / n_b) AS v
      |  FROM c),
      |pp AS (SELECT segment, day, n_a, n_b, delta,
      |    CASE WHEN n_a > 1 AND n_b > 1 AND v > 0.0 THEN
      |      ROUND(LEAST(1.0, 1.0 / (sqrt(v / (v + 1.0)) *
      |        exp(delta * delta * 1.0 / (2.0 * v * (v + 1.0))))), 6)
      |    END AS p_value
      |  FROM x)
      |SELECT segment, day, n_a, n_b, ROUND(delta, 6) AS delta, p_value,
      |  MIN(p_value) OVER (PARTITION BY segment ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_min
      |FROM pp ORDER BY segment, day""".stripMargin

  // --------------------------------------------------------------------------
  // Order-2 Markov next-event model
  // --------------------------------------------------------------------------

  /** P(next | previous two events) per user sequence — the order-2 upgrade of
    * `q_transition_matrix`, with a per-context rank so the top continuation
    * reads off directly. Same shape: one per-user lag window + a
    * context-keyed aggregate; the rank-1 window runs over |contexts| rows.
    */
  def qMarkov2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ctx = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev1", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .filter(col("prev1").isNotNull && col("prev2").isNotNull)
      .groupBy(col("prev2"), col("prev1"),
        col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = ctx.groupBy(col("prev2"), col("prev1"))
      .agg(sum(col("n")).as("n_ctx"))
    val rk = Window.partitionBy(col("prev2"), col("prev1"))
      .orderBy(col("n").desc, col("next_type"))
    ctx.join(totals, Seq("prev2", "prev1"))
      .select(col("prev2"), col("prev1"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("n_ctx"), 6).as("p"),
        row_number().over(rk).as("nxt_rank"))
      .orderBy(col("prev2"), col("prev1"), col("nxt_rank"))
  }

  val markov2Sql: String =
    """WITH s AS (SELECT event_type,
      |    lag(event_type, 1) OVER w AS prev1,
      |    lag(event_type, 2) OVER w AS prev2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |c AS (SELECT prev2, prev1, event_type AS next_type, COUNT(*) AS n
      |  FROM s WHERE prev1 IS NOT NULL AND prev2 IS NOT NULL
      |  GROUP BY 1, 2, 3),
      |t AS (SELECT prev2, prev1, CAST(SUM(n) AS BIGINT) AS n_ctx
      |  FROM c GROUP BY 1, 2)
      |SELECT c.prev2, c.prev1, c.next_type, c.n,
      |  ROUND(c.n * 1.0 / t.n_ctx, 6) AS p,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY c.prev2, c.prev1
      |    ORDER BY c.n DESC, c.next_type) AS INT) AS nxt_rank
      |FROM c JOIN t ON c.prev2 = t.prev2 AND c.prev1 = t.prev1
      |ORDER BY c.prev2, c.prev1, nxt_rank""".stripMargin

  // --------------------------------------------------------------------------
  // Seasonality strength
  // --------------------------------------------------------------------------

  /** Day-of-week seasonality strength per event type: the share of daily
    * volume variance explained by the day-of-week means — the eta² ANOVA
    * decomposition in its all-integer form (SSB/SST from Σn, Σn², per-dow
    * sums; means never materialize, so no double accumulation at any step
    * before the final ratio). strength 1 = perfectly weekly, 0 = no weekly
    * structure; `peak_dow` is the highest-mean day. The companion of
    * `q_seasonal_baseline`, which flags per-day anomalies against the same
    * structure.
    */
  def qSeasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", dayofweek(col("day")).cast("long"))
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("s_dow"), count(lit(1)).as("c_dow"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("s_all"),
        sum(col("n") * col("n")).as("ss_all"))
    val rk = Window.partitionBy(col("event_type"))
      .orderBy((col("s_dow").cast("double") / col("c_dow")).desc, col("dow"))
    val dowAgg = byDow
      .withColumn("__rk", row_number().over(rk))
      .groupBy(col("event_type"))
      .agg(sum((col("s_dow").cast("double") * col("s_dow") / col("c_dow"))
          .cast("decimal(28,12)")).as("ssb_dec"),
        max(when(col("__rk") === 1, col("dow"))).as("peak_dow"))
    tot.join(dowAgg, "event_type")
      .select(col("event_type"), col("n_days"),
        round((col("ssb_dec").cast("double") -
          col("s_all").cast("double") * col("s_all") / col("n_days")) /
          (col("ss_all").cast("double") -
            col("s_all").cast("double") * col("s_all") / col("n_days")), 6)
          .as("strength"),
        col("peak_dow"))
      .orderBy(col("event_type"))
  }

  val seasonalStrengthSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |dw AS (SELECT event_type, n,
      |    CAST(dayofweek(day) + 1 AS BIGINT) AS dow FROM d),
      |b AS (SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS s_dow,
      |    COUNT(*) AS c_dow FROM dw GROUP BY 1, 2),
      |t AS (SELECT event_type, COUNT(*) AS n_days,
      |    CAST(SUM(n) AS BIGINT) AS s_all,
      |    CAST(SUM(n * n) AS BIGINT) AS ss_all FROM dw GROUP BY 1),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY CAST(s_dow AS DOUBLE) / c_dow DESC, dow) AS rk FROM b),
      |g AS (SELECT event_type,
      |    SUM(CAST(CAST(s_dow AS DOUBLE) * s_dow / c_dow
      |      AS DECIMAL(28,12))) AS ssb_dec,
      |    MAX(CASE WHEN rk = 1 THEN dow END) AS peak_dow
      |  FROM r GROUP BY 1)
      |SELECT t.event_type, t.n_days,
      |  ROUND((CAST(g.ssb_dec AS DOUBLE) -
      |      CAST(t.s_all AS DOUBLE) * t.s_all / t.n_days) /
      |    (CAST(t.ss_all AS DOUBLE) -
      |      CAST(t.s_all AS DOUBLE) * t.s_all / t.n_days), 6) AS strength,
      |  g.peak_dow
      |FROM t JOIN g ON t.event_type = g.event_type
      |ORDER BY t.event_type""".stripMargin

  // --------------------------------------------------------------------------
  // Mann–Kendall trend test — nonparametric per-feed trend gate
  // --------------------------------------------------------------------------

  /** Mann–Kendall trend test per event_type over the daily micro-unit value
    * sum ([[ChangeDetect.mannKendall]]) — the distribution-free companion to
    * q_theil_sen's slope and q_cusum's level-shift alarm.
    */
  def qMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
    ChangeDetect.mannKendall(daily, "event_type", "day", "v")
      .orderBy(col("event_type"))
  }

  val mannKendallSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT a.g, CAST(SUM(CASE WHEN b.v > a.v THEN 1
      |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM dly a JOIN dly b ON a.g = b.g AND a.d < b.d GROUP BY 1),
      |tt AS (SELECT g, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
      |      AS tie_term
      |  FROM (SELECT g, v, COUNT(*) AS t FROM dly GROUP BY 1, 2) GROUP BY 1),
      |n AS (SELECT g, COUNT(*) AS n_days FROM dly GROUP BY 1),
      |f AS (SELECT n.g, n_days, s_stat,
      |    CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE)
      |      / 18.0 AS var_s
      |  FROM n JOIN s USING (g) JOIN tt USING (g)),
      |z AS (SELECT g, n_days, s_stat, var_s,
      |    CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
      |         WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
      |         ELSE 0.0 END AS z_stat FROM f)
      |SELECT g AS event_type, n_days, s_stat,
      |  ROUND(var_s, 6) AS var_s, ROUND(z_stat, 6) AS z_stat,
      |  CASE WHEN z_stat > 1.96 THEN 'increasing'
      |       WHEN z_stat < -1.96 THEN 'decreasing'
      |       ELSE 'none' END AS trend
      |FROM z ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Krippendorff's alpha — multi-rater label reliability
  // --------------------------------------------------------------------------

  /** Krippendorff's alpha over three deterministic "annotators" labeling each
    * document long/short at slightly different n_chars thresholds (300 / 290 /
    * 310), the third rating only doc_id % 3 ≠ 0 — so units have 2 or 3
    * ratings, exercising the missing-data path 2-rater kappa
    * (q_cohens_kappa) can't ([[Experiment.krippendorffAlpha]]).
    */
  def qKrippAlpha(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    def rate(threshold: Int) =
      when(col("n_chars") > threshold, lit("long")).otherwise(lit("short"))
        .as("label")
    val ratings = d.select(col("doc_id").as("u"), rate(300))
      .union(d.select(col("doc_id").as("u"), rate(290)))
      .union(d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("u"), rate(310)))
    Experiment.krippendorffAlpha(ratings, "u", "label", maxRaters = 3)
  }

  val krippAlphaSql: String =
    """WITH rat AS (
      |  SELECT doc_id AS u, CASE WHEN n_chars > 300 THEN 'long' ELSE 'short'
      |    END AS label FROM documents
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN n_chars > 290 THEN 'long' ELSE 'short' END
      |    FROM documents
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN n_chars > 310 THEN 'long' ELSE 'short' END
      |    FROM documents WHERE doc_id % 3 <> 0),
      |ouc AS (SELECT u, label AS c, COUNT(*) AS o FROM rat GROUP BY 1, 2),
      |nu AS (SELECT u, CAST(SUM(o) AS BIGINT) AS n_u FROM ouc GROUP BY 1
      |  HAVING SUM(o) >= 2),
      |p AS (SELECT ouc.u, ouc.c, ouc.o, nu.n_u FROM ouc JOIN nu USING (u)),
      |obs AS (SELECT CAST(SUM(o * (n_u - o) * (2 // (n_u - 1))) AS BIGINT)
      |    AS num_scaled FROM p),
      |tt AS (SELECT CAST(SUM(n_c) AS BIGINT) AS n,
      |    CAST(SUM(n_c * n_c) AS BIGINT) AS s_nc2
      |  FROM (SELECT c, SUM(o) AS n_c FROM p GROUP BY 1)),
      |un AS (SELECT COUNT(*) AS n_units_pairable FROM nu)
      |SELECT n_units_pairable, n AS n_ratings,
      |  ROUND(CAST(num_scaled AS DOUBLE) / (2 * n), 6) AS d_o,
      |  ROUND(CAST(n * n - s_nc2 AS DOUBLE) / (n * (n - 1)), 6) AS d_e,
      |  ROUND(1.0 - CAST((n - 1) * num_scaled AS DOUBLE) /
      |    CAST(2 * (n * n - s_nc2) AS DOUBLE), 6) AS alpha
      |FROM un CROSS JOIN obs CROSS JOIN tt""".stripMargin

  // --------------------------------------------------------------------------
  // Winsorized mean — clamping robust location per brand
  // --------------------------------------------------------------------------

  /** 10%-winsorized mean of per-brand line price in cents
    * ([[graft.ext.Profiling.winsorizedMean]]) — the clamping counterpart of
    * q_trimmed_mean (tails replaced by the boundary order statistics, not
    * dropped). Rank-based and exact end to end.
    */
  def qWinsorized(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"))
    graft.ext.Profiling.winsorizedMean(x, "brand", "cents", "tie",
        pctNum = 1, pctDen = 10)
      .orderBy(col("brand"))
  }

  val winsorizedSql: String =
    """WITH x AS (SELECT p_brand AS brand,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
      |    l_orderkey * 8 + l_linenumber AS tie
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |r AS (SELECT brand, v,
      |    ROW_NUMBER() OVER (PARTITION BY brand ORDER BY v, tie) AS rn,
      |    COUNT(*) OVER (PARTITION BY brand) AS n FROM x),
      |b AS (SELECT brand, MAX(n) AS n,
      |    MAX(CASE WHEN rn = n // 10 + 1 THEN v END) AS lo_bound,
      |    MAX(CASE WHEN rn = n - n // 10 THEN v END) AS hi_bound
      |  FROM r GROUP BY 1)
      |SELECT r.brand, b.n, b.lo_bound, b.hi_bound,
      |  ROUND(CAST(CAST(SUM(GREATEST(LEAST(r.v, b.hi_bound), b.lo_bound))
      |    AS BIGINT) AS DOUBLE) / b.n, 6) AS winsorized_mean
      |FROM r JOIN b USING (brand)
      |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Ljung–Box whiteness test over the daily-revenue ACF
  // --------------------------------------------------------------------------

  /** Ljung–Box Q over lags 1..10 of the daily order-revenue series
    * ([[graft.ext.Series.ljungBox]]) — the one-number "any autocorrelation
    * left?" gate over the same series q_acf resolves per lag.
    */
  def qLjungBox(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Inputs.dec(col("o_totalprice"))).as("x"))
    graft.ext.Series.ljungBox(d, "day", "x", maxLag = 10)
  }

  val ljungBoxSql: String =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100 AS HUGEINT) AS x
      |  FROM orders GROUP BY 1),
      |l AS (SELECT unnest(generate_series(1, 10)) AS lag),
      |s AS (SELECT l.lag, d.day + CAST(l.lag AS INTEGER) AS tday, d.x AS xs
      |  FROM d CROSS JOIN l),
      |p AS (SELECT s.lag, t.x AS y, s.xs AS x FROM d t JOIN s ON t.day = s.tday),
      |m AS (SELECT lag, COUNT(*) AS n_pairs,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY 1),
      |rho AS (SELECT lag,
      |  ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
      |  FROM m),
      |nn AS (SELECT COUNT(*) AS n_obs FROM d),
      |t AS (SELECT n_obs,
      |    CAST((acf * acf) / (n_obs - lag) AS DECIMAL(18,8)) AS term
      |  FROM rho CROSS JOIN nn)
      |SELECT n_obs, CAST(10 AS BIGINT) AS max_lag,
      |  ROUND(CAST(n_obs * (n_obs + 2) AS DOUBLE) *
      |    CAST(SUM(term) AS DOUBLE), 6) AS q_stat,
      |  1.8307038053275146E1 AS chi2_crit_95,
      |  CAST(n_obs * (n_obs + 2) AS DOUBLE) * CAST(SUM(term) AS DOUBLE)
      |    > 1.8307038053275146E1 AS reject_white
      |FROM t GROUP BY n_obs""".stripMargin

  // --------------------------------------------------------------------------
  // Wald–Wolfowitz runs test — sign-sequence randomness per event feed
  // --------------------------------------------------------------------------

  /** Runs test per event_type over the daily micro-unit value sums
    * ([[graft.ext.Runs.runsTest]]) — too few runs = regime clumping, too
    * many = oscillation; the sequence-structure companion to q_mann_kendall.
    */
  def qRunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
    graft.ext.Runs.runsTest(daily, "event_type", "day", "v")
      .orderBy(col("event_type"))
  }

  val runsTestSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT g, COUNT(*) AS n, SUM(v) AS sv FROM dly GROUP BY 1),
      |sg AS (SELECT dly.g, d,
      |    CASE WHEN v * n > sv THEN 1 WHEN v * n < sv THEN -1 END AS sign
      |  FROM dly JOIN m USING (g)),
      |sgn AS (SELECT g, d, sign FROM sg WHERE sign IS NOT NULL),
      |r AS (SELECT g, sign,
      |    CASE WHEN LAG(sign) OVER (PARTITION BY g ORDER BY d) IS NULL
      |      OR sign <> LAG(sign) OVER (PARTITION BY g ORDER BY d)
      |      THEN 1 ELSE 0 END AS nw
      |  FROM sgn),
      |c AS (SELECT g,
      |    CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |    CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_down,
      |    CAST(SUM(nw) AS BIGINT) AS n_runs FROM r GROUP BY 1),
      |f AS (SELECT g, n_up, n_down, n_runs,
      |    CAST(n_up * n_down * 2 AS DOUBLE) AS p2,
      |    CAST(n_up + n_down AS DOUBLE) AS n FROM c)
      |SELECT g AS event_type, n_up, n_down, n_runs,
      |  ROUND(1.0 + p2 / n, 6) AS e_runs,
      |  ROUND((n_runs - (1.0 + p2 / n)) /
      |    sqrt(CASE WHEN p2 * (p2 - n) / (n * n * (n - 1)) > 0.0
      |      THEN p2 * (p2 - n) / (n * n * (n - 1)) END), 6) AS z_stat
      |FROM f ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Holt linear forecast
  // --------------------------------------------------------------------------

  /** Holt linear smoothing (α=0.5, β=0.25) per event_type over the daily
    * micro-unit value sums ([[graft.ext.Forecast.holtLinear]]): final
    * level/trend state, next-day forecast, and the one-step-ahead MAE — the
    * expectation q_cusum's alarms are measured against. The oracle replays
    * the fold day by day with a recursive CTE (the q_cusum pattern).
    */
  def qHoltLinear(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
      // back to original units: level ≈ daily value keeps |x| ≪ 1e9, where
      // ROUND(x, 6) is still ulp-stable across engines (verify-skill gotcha)
      .select(col("event_type"), col("day"),
        (col("v").cast("double") / 1e6).as("x"))
    graft.ext.Forecast.holtLinear(daily, "event_type", "day", "x",
        alpha = 0.5, beta = 0.25)
      .select(col("event_type"), col("n_days"),
        round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
        round(col("forecast_next"), 6).as("forecast_next"),
        round(col("mae"), 6).as("mae"))
      .orderBy(col("event_type"))
  }

  val holtLinearSql: String =
    """WITH RECURSIVE dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |z AS (SELECT g, d, CAST(v AS DOUBLE) / 1000000.0 AS x,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn FROM dly),
      |f(g, rn, l, b, sae) AS (
      |  SELECT z2.g, CAST(2 AS BIGINT), z2.x, z2.x - z1.x,
      |    CAST(0.0 AS DOUBLE)
      |  FROM z z2 JOIN z z1 ON z1.g = z2.g AND z1.rn = 1 WHERE z2.rn = 2
      |  UNION ALL
      |  SELECT z.g, z.rn,
      |    0.5 * z.x + 0.5 * (f.l + f.b),
      |    0.25 * (0.5 * z.x + 0.5 * (f.l + f.b) - f.l) + 0.75 * f.b,
      |    f.sae + abs(z.x - (f.l + f.b))
      |  FROM f JOIN z ON z.g = f.g AND z.rn = f.rn + 1),
      |fin AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY rn DESC)
      |    AS rr FROM f)
      |SELECT g AS event_type, rn AS n_days,
      |  ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
      |  ROUND(l + b, 6) AS forecast_next,
      |  ROUND(sae / (rn - 2), 6) AS mae
      |FROM fin WHERE rr = 1 AND rn >= 3 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Optimal single changepoint (binary segmentation, step 1)
  // --------------------------------------------------------------------------

  /** Best single split per event_type over the daily micro-unit value sums
    * ([[ChangeDetect.bestSplit]]) — the retrospective "WHERE did the level
    * shift?" breakpoint next to q_cusum's sequential alarm; means reported in
    * original units.
    */
  def qBestSplit(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
    ChangeDetect.bestSplit(daily, "event_type", "day", "v", unitScale = 1e6)
      .orderBy(col("event_type"))
  }

  val bestSplitSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT g, d, v,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS k,
      |    CAST(SUM(v) OVER (PARTITION BY g ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
      |      AS p,
      |    COUNT(*) OVER (PARTITION BY g) AS n,
      |    CAST(SUM(v) OVER (PARTITION BY g) AS HUGEINT) AS s
      |  FROM dly),
      |sc AS (SELECT g, d, k, n, p, s,
      |    CAST(p AS DOUBLE) * CAST(p AS DOUBLE) / k +
      |      (CAST(s AS DOUBLE) - CAST(p AS DOUBLE)) *
      |      (CAST(s AS DOUBLE) - CAST(p AS DOUBLE)) / (n - k) AS score
      |  FROM b WHERE k < n),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY g
      |    ORDER BY score DESC, d) AS rr FROM sc)
      |SELECT g AS event_type, n AS n_days, d AS split_day, k AS n_left,
      |  ROUND(CAST(p AS DOUBLE) / k / 1000000.0, 6) AS mean_left,
      |  ROUND((CAST(s AS DOUBLE) - CAST(p AS DOUBLE)) / (n - k)
      |    / 1000000.0, 6) AS mean_right,
      |  ROUND((CAST(s AS DOUBLE) - CAST(p AS DOUBLE)) / (n - k) / 1000000.0
      |    - CAST(p AS DOUBLE) / k / 1000000.0, 6) AS shift
      |FROM r WHERE rr = 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Weighted median
  // --------------------------------------------------------------------------

  /** Quantity-weighted median line price (cents) per brand
    * ([[graft.ext.Profiling.weightedMedian]]) — the typical UNIT's price, vs
    * the typical row's; exact integer `2·cumw ≥ W` rule, no interpolation.
    */
  def qWeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"))
    graft.ext.Profiling.weightedMedian(x, "brand", "cents", "qty", "tie")
      .orderBy(col("brand"))
  }

  val weightedMedianSql: String =
    """WITH x AS (SELECT p_brand AS brand,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS wt,
      |    l_orderkey * 8 + l_linenumber AS tie
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |c AS (SELECT brand, v, tie,
      |    CAST(SUM(wt) OVER (PARTITION BY brand ORDER BY v, tie
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cumw,
      |    COUNT(*) OVER (PARTITION BY brand) AS n,
      |    CAST(SUM(wt) OVER (PARTITION BY brand) AS BIGINT) AS tw
      |  FROM x),
      |f AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY brand
      |    ORDER BY cumw, v, tie) AS r
      |  FROM c WHERE cumw * 2 >= tw)
      |SELECT brand, n AS n_rows, tw AS total_weight, v AS w_median
      |FROM f WHERE r = 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Isotonic calibration (PAVA)
  // --------------------------------------------------------------------------

  /** Isotonic fit of return rate over the discount axis
    * ([[graft.ext.Isotonic.isotonicFit]]) — the monotone calibration curve a
    * serving layer would apply on top of q_score_calibration's reliability
    * diagram. PAVA on the Spark side; the oracle states the same fit through
    * the minimax characterization `max_{k≤i} min_{j≥i} avg(k..j)` — two
    * independent formulations that must agree bit-for-bit.
    */
  def qIsotonic(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(spark, dir)
      .groupBy(lit("all").as("curve"),
        round(col("l_discount") * 100, 0).cast("long").as("x"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("n"))
    graft.ext.Isotonic.isotonicFit(b, "curve", "x", "pos", "n")
      .orderBy(col("x"))
  }

  val isotonicSql: String =
    """WITH b AS (SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY 1),
      |o AS (SELECT x, pos, n, ROW_NUMBER() OVER (ORDER BY x) AS i FROM b),
      |pre AS (SELECT i, x, pos, n,
      |    CAST(SUM(pos) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS sp,
      |    CAST(SUM(n) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS sn
      |  FROM o),
      |a AS (SELECT k.i AS k, j.i AS j,
      |    CAST(j.sp - k.sp + k.pos AS DOUBLE) / (j.sn - k.sn + k.n) AS avgkj
      |  FROM pre k JOIN pre j ON k.i <= j.i),
      |mm AS (SELECT p.i, a.k, MIN(avgkj) AS mn
      |  FROM pre p JOIN a ON a.k <= p.i AND a.j >= p.i GROUP BY 1, 2),
      |fit AS (SELECT i, MAX(mn) AS iso FROM mm GROUP BY 1)
      |SELECT 'all' AS curve, pre.x, pre.pos, pre.n,
      |  ROUND(CAST(pre.pos AS DOUBLE) / pre.n, 6) AS raw_rate,
      |  ROUND(iso, 6) AS iso_rate
      |FROM pre JOIN fit USING (i) ORDER BY pre.x""".stripMargin

  // --------------------------------------------------------------------------
  // Simpson's paradox detector
  // --------------------------------------------------------------------------

  /** Does the discount→return association reverse within brand strata? The
    * aggregation-bias audit (Simpson 1951): the pooled rate difference
    * (high-discount vs low), the per-stratum differences, and how many
    * strata point the OTHER way — plus the stratum-size-weighted within
    * effect (the confounder-adjusted estimate). Arms split at discount ≥ 5%
    * in exact integer percent units; every rate is exact-count derived.
    */
  def qSimpsonParadox(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (round(col("l_discount") * 100, 0).cast("long") >= 5).as("hi"),
        (col("l_returnflag") === "R").cast("long").as("ret"))
    // overall + per-stratum branches read it
    val byBrand = Materialize(x.groupBy(col("brand"))
      .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(when(col("hi"), col("ret")).otherwise(0L)).as("r_hi"),
        sum(when(!col("hi"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(!col("hi"), col("ret")).otherwise(0L)).as("r_lo"))
      .filter(col("n_hi") > 0 && col("n_lo") > 0)).df
    val diffB = col("r_hi").cast("double") / col("n_hi") -
      col("r_lo").cast("double") / col("n_lo")
    val overall = byBrand.agg(
        sum(col("n_hi")).as("t_nhi"), sum(col("r_hi")).as("t_rhi"),
        sum(col("n_lo")).as("t_nlo"), sum(col("r_lo")).as("t_rlo"))
      .select((col("t_rhi").cast("double") / col("t_nhi") -
        col("t_rlo").cast("double") / col("t_nlo")).as("od"))
    byBrand.crossJoin(broadcast(overall))
      .select(col("od"),
        diffB.as("db"), (col("n_hi") + col("n_lo")).as("w"))
      .agg(count(lit(1)).as("n_strata"),
        round(max(col("od")), 6).as("overall_diff"),
        sum(when(col("db") * col("od") < 0, 1L).otherwise(0L))
          .as("n_opposite"),
        round(sum((col("w") * col("db")).cast("decimal(28,12)"))
          .cast("double") / sum(col("w")), 6).as("weighted_within_diff"))
  }

  val simpsonParadoxSql: String =
    """WITH x AS (SELECT p_brand AS brand,
      |    CAST(ROUND(l_discount * 100) AS BIGINT) >= 5 AS hi,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |bb AS (SELECT brand,
      |    CAST(SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |    CAST(SUM(CASE WHEN hi THEN ret ELSE 0 END) AS BIGINT) AS r_hi,
      |    CAST(SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |    CAST(SUM(CASE WHEN NOT hi THEN ret ELSE 0 END) AS BIGINT) AS r_lo
      |  FROM x GROUP BY 1
      |  HAVING SUM(CASE WHEN hi THEN 1 ELSE 0 END) > 0
      |    AND SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) > 0),
      |ov AS (SELECT CAST(SUM(r_hi) AS DOUBLE) / SUM(n_hi)
      |    - CAST(SUM(r_lo) AS DOUBLE) / SUM(n_lo) AS od FROM bb),
      |d AS (SELECT od,
      |    CAST(r_hi AS DOUBLE) / n_hi - CAST(r_lo AS DOUBLE) / n_lo AS db,
      |    n_hi + n_lo AS w
      |  FROM bb CROSS JOIN ov)
      |SELECT COUNT(*) AS n_strata,
      |  ROUND(MAX(od), 6) AS overall_diff,
      |  CAST(SUM(CASE WHEN db * od < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_opposite,
      |  ROUND(CAST(SUM(CAST(w * db AS DECIMAL(28,12))) AS DOUBLE) /
      |    SUM(w), 6) AS weighted_within_diff
      |FROM d""".stripMargin

  // --------------------------------------------------------------------------
  // Lead–lag cross-correlation
  // --------------------------------------------------------------------------

  /** Cross-correlation of the click and purchase daily value series at lags
    * −7..7 ([[graft.ext.Series.crossCorrelation]]) — "does click volume LEAD
    * purchases?", the two-series companion of q_acf.
    */
  def qXcorr(spark: SparkSession, dir: String): DataFrame = {
    val dly = Materialize(Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))).df // both series filters read it
    graft.ext.Series.crossCorrelation(
      dly.filter(col("event_type") === "click"),
      dly.filter(col("event_type") === "purchase"),
      "day", "v", "v", maxLag = 7)
  }

  val xcorrSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT d, v AS x FROM dly WHERE g = 'click'),
      |b AS (SELECT d, v AS y FROM dly WHERE g = 'purchase'),
      |l AS (SELECT unnest(generate_series(-7, 7)) AS lag),
      |s AS (SELECT l.lag, a.d + CAST(l.lag AS INTEGER) AS tday, a.x
      |  FROM a CROSS JOIN l),
      |p AS (SELECT s.lag, s.x, b.y FROM s JOIN b ON s.tday = b.d),
      |m AS (SELECT lag, COUNT(*) AS n_pairs,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM p GROUP BY 1)
      |SELECT lag, n_pairs,
      |  ROUND((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS xcorr
      |FROM m ORDER BY lag""".stripMargin

  // --------------------------------------------------------------------------
  // Markov entropy rate of the event stream
  // --------------------------------------------------------------------------

  /** Entropy rate of the per-user event-type process:
    * H(X_t | X_{t−1}) = Σ_ij (c_ij/C)·log2(c_i·/c_ij) over the pooled
    * transition counts — how predictable the next action is given the
    * current one, against the log2(k) ceiling. The one-number summary of
    * q_transition_matrix (its per-cell detail) and q_markov2 (the order-2
    * refinement).
    */
  def qEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val c = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).as("n"))
    val rows = c.groupBy(col("f")).agg(sum(col("n")).as("n_f"))
    val tot = c.agg(sum(col("n")).as("c_tot"),
      countDistinct(col("f")).as("n_states"))
    c.join(rows, "f").crossJoin(broadcast(tot))
      .select(col("c_tot"), col("n_states"),
        ((col("n").cast("double") / col("c_tot")) *
          log2(col("n_f").cast("double") / col("n")))
          .cast("decimal(18,8)").as("__term"))
      .groupBy(col("c_tot").as("n_transitions"), col("n_states"))
      .agg(sum(col("__term")).as("__h"))
      .select(col("n_transitions"), col("n_states"),
        round(col("__h").cast("double"), 6).as("entropy_rate_bits"),
        round(log2(col("n_states").cast("double")), 6).as("max_bits"),
        round(lit(1.0) - col("__h").cast("double") /
          log2(col("n_states").cast("double")), 6).as("predictability"))
  }

  val entropyRateSql: String =
    """WITH s AS (SELECT event_type AS f,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS t
      |  FROM events),
      |c AS (SELECT f, t, COUNT(*) AS n FROM s WHERE t IS NOT NULL
      |  GROUP BY 1, 2),
      |r AS (SELECT f, CAST(SUM(n) AS BIGINT) AS n_f FROM c GROUP BY 1),
      |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS c_tot,
      |    COUNT(DISTINCT f) AS n_states FROM c),
      |h AS (SELECT c_tot AS n_transitions, n_states,
      |    SUM(CAST((CAST(n AS DOUBLE) / c_tot) *
      |      log2(CAST(n_f AS DOUBLE) / n) AS DECIMAL(18,8))) AS hh
      |  FROM c JOIN r USING (f) CROSS JOIN tt GROUP BY 1, 2)
      |SELECT n_transitions, n_states,
      |  ROUND(CAST(hh AS DOUBLE), 6) AS entropy_rate_bits,
      |  ROUND(log2(CAST(n_states AS DOUBLE)), 6) AS max_bits,
      |  ROUND(1.0 - CAST(hh AS DOUBLE) / log2(CAST(n_states AS DOUBLE)), 6)
      |    AS predictability
      |FROM h""".stripMargin

  // --------------------------------------------------------------------------
  // DAU/MAU stickiness
  // --------------------------------------------------------------------------

  /** Daily stickiness: DAU over the trailing-30-day MAU — the engagement
    * ratio next to q_rolling_dau's raw counts. MAU's sliding DISTINCT can't
    * ride a window aggregate; the exact form joins the bounded day spine
    * against the (user, day) grain and de-dupes per (spine day, user) —
    * |days| × active-users rows, a calendar-bounded frame.
    */
  def qStickiness(spark: SparkSession, dir: String): DataFrame = {
    // spine + DAU + MAU branches read it
    val ud = Materialize(Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()).df
    val days = ud.select(col("day")).distinct().withColumnRenamed("day", "d")
    val dau = ud.groupBy(col("day").as("d")).agg(count(lit(1)).as("dau"))
    val mau = days.join(ud,
        col("day") <= col("d") && col("day") >= date_sub(col("d"), 29))
      .select(col("d"), col("user_id")).distinct()
      .groupBy(col("d")).agg(count(lit(1)).as("mau"))
    dau.join(mau, "d")
      .select(col("d").as("day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6).as("stickiness"))
      .orderBy(col("day"))
  }

  val stickinessSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |d AS (SELECT DISTINCT day AS d FROM ud),
      |dau AS (SELECT day AS d, COUNT(*) AS dau FROM ud GROUP BY 1),
      |mau AS (SELECT d, COUNT(DISTINCT user_id) AS mau
      |  FROM d JOIN ud ON ud.day <= d.d AND ud.day >= d.d - INTERVAL 29 DAY
      |  GROUP BY 1)
      |SELECT dau.d AS day, dau, mau,
      |  ROUND(CAST(dau AS DOUBLE) / mau, 6) AS stickiness
      |FROM dau JOIN mau ON dau.d = mau.d ORDER BY day""".stripMargin

  // --------------------------------------------------------------------------
  // Two-feature ridge regression
  // --------------------------------------------------------------------------

  /** Per-brand ridge fit of line price (cents) on quantity and discount
    * percent ([[graft.ext.Drift.ridge2]], λ = 1000 in centered-moment
    * units) — the multicollinearity-robust upgrade of q_brand_elasticity's
    * single-feature OLS, solved in closed 2×2 form from one exact-DECIMAL
    * moment pass.
    */
  def qRidgePrice(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_discount") * 100, 0).cast("long").as("disc"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    graft.ext.Drift.ridge2(x, "brand", "qty", "disc", "cents",
        lambda = 1000.0)
      .orderBy(col("brand"))
  }

  val ridgePriceSql: String =
    """WITH x AS (SELECT p_brand AS brand,
      |    CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(28,4)) AS x1,
      |    CAST(CAST(ROUND(l_discount * 100) AS BIGINT) AS DECIMAL(28,4))
      |      AS x2,
      |    CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
      |      AS DECIMAL(28,4)) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (SELECT brand, COUNT(*) AS n,
      |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
      |    SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
      |    SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y, SUM(y * y) AS syy
      |  FROM x GROUP BY 1),
      |c AS (SELECT brand, n,
      |    CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
      |    CAST(sy AS DOUBLE) AS syd,
      |    CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n
      |      + 1000.0 AS a11,
      |    CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n
      |      + 1000.0 AS a22,
      |    CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) / n
      |      AS c12,
      |    CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) / n
      |      AS c1y,
      |    CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) / n
      |      AS c2y,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n
      |      AS cyy
      |  FROM m),
      |f AS (SELECT brand, n, s1d, s2d, syd, c1y, c2y, cyy,
      |    (a22 * c1y - c12 * c2y) /
      |      (CASE WHEN a11 * a22 - c12 * c12 = 0.0 THEN NULL
      |            ELSE a11 * a22 - c12 * c12 END) AS b1,
      |    (a11 * c2y - c12 * c1y) /
      |      (CASE WHEN a11 * a22 - c12 * c12 = 0.0 THEN NULL
      |            ELSE a11 * a22 - c12 * c12 END) AS b2
      |  FROM c)
      |SELECT brand, n, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
      |  ROUND((syd - b1 * s1d - b2 * s2d) / n, 6) AS intercept,
      |  ROUND((b1 * c1y + b2 * c2y) /
      |    (CASE WHEN cyy = 0.0 THEN NULL ELSE cyy END), 6) AS r2
      |FROM f ORDER BY brand""".stripMargin

  // --------------------------------------------------------------------------
  // Difference-in-differences
  // --------------------------------------------------------------------------

  /** 2×2 DiD of line quantity: treated = large parts (p_size > 25), post =
    * orders from 1998 on ([[Experiment.diffInDiff]]) — the observational
    * causal estimate next to q_cuped's randomized variance reduction.
    */
  def qDiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select((col("p_size") > 25).as("treated"),
        (col("o_orderdate") >= lit("1998-01-01").cast("date")).as("post"),
        col("l_quantity").cast("long").as("qty"))
    Experiment.diffInDiff(x, "treated", "post", "qty")
  }

  val diffInDiffSql: String =
    """WITH x AS (SELECT p_size > 25 AS treated,
      |    o_orderdate >= DATE '1998-01-01' AS post,
      |    CAST(l_quantity AS BIGINT) AS v
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |a AS (SELECT COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
      |  CAST(SUM(CASE WHEN treated AND NOT post THEN v ELSE 0 END) AS BIGINT) AS s_tp,
      |  CAST(SUM(CASE WHEN treated AND NOT post THEN v * v ELSE 0 END) AS BIGINT) AS q_tp,
      |  CAST(SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
      |  CAST(SUM(CASE WHEN treated AND post THEN v ELSE 0 END) AS BIGINT) AS s_tq,
      |  CAST(SUM(CASE WHEN treated AND post THEN v * v ELSE 0 END) AS BIGINT) AS q_tq,
      |  CAST(SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
      |  CAST(SUM(CASE WHEN NOT treated AND NOT post THEN v ELSE 0 END) AS BIGINT) AS s_cp,
      |  CAST(SUM(CASE WHEN NOT treated AND NOT post THEN v * v ELSE 0 END) AS BIGINT) AS q_cp,
      |  CAST(SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_cq,
      |  CAST(SUM(CASE WHEN NOT treated AND post THEN v ELSE 0 END) AS BIGINT) AS s_cq,
      |  CAST(SUM(CASE WHEN NOT treated AND post THEN v * v ELSE 0 END) AS BIGINT) AS q_cq
      |  FROM x),
      |f AS (SELECT n,
      |    CAST(s_tp AS DOUBLE) / n_tp AS m_tp, CAST(s_tq AS DOUBLE) / n_tq AS m_tq,
      |    CAST(s_cp AS DOUBLE) / n_cp AS m_cp, CAST(s_cq AS DOUBLE) / n_cq AS m_cq,
      |    (CAST(q_tp AS DOUBLE) / n_tp - (CAST(s_tp AS DOUBLE) / n_tp) * (CAST(s_tp AS DOUBLE) / n_tp)) / n_tp +
      |    (CAST(q_tq AS DOUBLE) / n_tq - (CAST(s_tq AS DOUBLE) / n_tq) * (CAST(s_tq AS DOUBLE) / n_tq)) / n_tq +
      |    (CAST(q_cp AS DOUBLE) / n_cp - (CAST(s_cp AS DOUBLE) / n_cp) * (CAST(s_cp AS DOUBLE) / n_cp)) / n_cp +
      |    (CAST(q_cq AS DOUBLE) / n_cq - (CAST(s_cq AS DOUBLE) / n_cq) * (CAST(s_cq AS DOUBLE) / n_cq)) / n_cq
      |      AS var_sum
      |  FROM a)
      |SELECT n,
      |  ROUND(m_tp, 6) AS y_treated_pre, ROUND(m_tq, 6) AS y_treated_post,
      |  ROUND(m_cp, 6) AS y_control_pre, ROUND(m_cq, 6) AS y_control_post,
      |  ROUND((m_tq - m_tp) - (m_cq - m_cp), 6) AS did,
      |  ROUND(sqrt(var_sum), 6) AS se,
      |  ROUND(((m_tq - m_tp) - (m_cq - m_cp)) /
      |    (CASE WHEN sqrt(var_sum) = 0.0 THEN NULL ELSE sqrt(var_sum) END), 6)
      |    AS z_stat
      |FROM f""".stripMargin

  // --------------------------------------------------------------------------
  // Geometric adstock correlation
  // --------------------------------------------------------------------------

  /** Does carryover-transformed click volume explain purchases better than
    * raw clicks? ([[graft.ext.Attribution.adstockCorrelation]], θ = 0.7 via
    * the literal ln θ, 14-day truncation.)
    */
  def qAdstock(spark: SparkSession, dir: String): DataFrame = {
    val dly = Materialize(Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))).df
    graft.ext.Attribution.adstockCorrelation(
      dly.filter(col("event_type") === "click"),
      dly.filter(col("event_type") === "purchase"),
      "day", "v", "v", lnTheta = -0.35667494393873245, maxLag = 14)
  }

  val adstockSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |x AS (SELECT d, v AS xv FROM dly WHERE g = 'click'),
      |y AS (SELECT d, v AS yv FROM dly WHERE g = 'purchase'),
      |l AS (SELECT unnest(generate_series(0, 14)) AS k),
      |lg AS (SELECT x.d + CAST(l.k AS INTEGER) AS tday,
      |    CAST(exp(l.k * -3.5667494393873245E-1) * x.xv AS DECIMAL(28,12))
      |      AS term
      |  FROM x CROSS JOIN l),
      |ads AS (SELECT tday, SUM(term) AS a FROM lg GROUP BY 1),
      |j AS (SELECT CAST(y.yv AS DOUBLE) AS yd, CAST(ads.a AS DOUBLE) AS ad,
      |    CAST(x.xv AS DOUBLE) AS xd
      |  FROM y JOIN ads ON y.d = ads.tday JOIN x ON x.d = y.d),
      |m AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(xd AS DECIMAL(28,12))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(yd AS DECIMAL(28,12))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ad AS DECIMAL(28,12))) AS DOUBLE) AS sa,
      |    CAST(SUM(CAST(xd * yd AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ad * yd AS DECIMAL(38,12))) AS DOUBLE) AS say,
      |    CAST(SUM(CAST(xd * xd AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ad * ad AS DECIMAL(38,12))) AS DOUBLE) AS saa,
      |    CAST(SUM(CAST(yd * yd AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM j)
      |SELECT n AS n_days,
      |  ROUND((n * sxy - sx * sy) /
      |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_raw,
      |  ROUND((n * say - sa * sy) /
      |    sqrt((n * saa - sa * sa) * (n * syy - sy * sy)), 6)
      |    AS corr_adstock
      |FROM m""".stripMargin

  // --------------------------------------------------------------------------
  // Peak detection
  // --------------------------------------------------------------------------

  /** Local maxima of the daily value series per event_type
    * ([[graft.ext.Series.peaks]]) — which days spiked relative to their
    * immediate neighbors, with prominence in original units.
    */
  def qPeaks(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        round(col("value") * 1e6, 0).cast("decimal(38,0)").as("vm"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vm")).as("v"))
    graft.ext.Series.peaks(daily, "event_type", "day", "v", unitScale = 1e6)
      .orderBy(col("event_type"), col("day"))
  }

  val peaksSql: String =
    """WITH dly AS (SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS HUGEINT) AS v
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT g, d, v,
      |    LAG(v) OVER (PARTITION BY g ORDER BY d) AS pv,
      |    LEAD(v) OVER (PARTITION BY g ORDER BY d) AS nv
      |  FROM dly)
      |SELECT g AS event_type, d AS day,
      |  ROUND(CAST(v AS DOUBLE) / 1000000.0, 6) AS value,
      |  ROUND(CAST(v - GREATEST(pv, nv) AS DOUBLE) / 1000000.0, 6)
      |    AS prominence
      |FROM w
      |WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // QQ plot between two brand price distributions
  // --------------------------------------------------------------------------

  /** Decile QQ points of Brand#11 vs Brand#22 line prices — the
    * distribution-comparison surface behind q_ks_drift's one-number
    * statistic: where exactly do the two distributions diverge? Per-group
    * quantiles are rank-picked within group-partitioned windows (exact, no
    * interpolation; `percentile_disc` convention rn = ⌈p·n⌉).
    */
  def qQqPlot(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .filter(col("p_brand").isin("Brand#11", "Brand#22"))
      .select(col("p_brand").as("brand"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"))
    val w = Window.partitionBy(col("brand")).orderBy(col("cents"), col("tie"))
    val ranked = x.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("brand"))))
    val probs = spark.range(1, 10)
      .select((col("id").cast("double") / 10).as("p"))
    val at = ranked.join(broadcast(probs),
        col("rn") === greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
      .select(col("p"), col("brand"), col("cents"))
    at.groupBy(col("p"))
      .agg(max(when(col("brand") === "Brand#11", col("cents"))).as("q_a"),
        max(when(col("brand") === "Brand#22", col("cents"))).as("q_b"))
      .select(col("p"), col("q_a"), col("q_b"),
        round(col("q_a").cast("double") / col("q_b"), 6).as("qq_ratio"))
      .orderBy(col("p"))
  }

  val qqPlotSql: String =
    """WITH x AS (SELECT p_brand AS brand,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
      |    l_orderkey * 8 + l_linenumber AS tie
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand IN ('Brand#11', 'Brand#22')),
      |r AS (SELECT brand, cents,
      |    ROW_NUMBER() OVER (PARTITION BY brand ORDER BY cents, tie) AS rn,
      |    COUNT(*) OVER (PARTITION BY brand) AS n FROM x),
      |pr AS (SELECT CAST(i AS DOUBLE) / 10 AS p
      |  FROM (SELECT unnest(generate_series(1, 9)) AS i)),
      |at AS (SELECT p, brand, cents FROM r JOIN pr
      |  ON rn = GREATEST(1, CAST(ceil(p * n) AS BIGINT)))
      |SELECT p,
      |  MAX(CASE WHEN brand = 'Brand#11' THEN cents END) AS q_a,
      |  MAX(CASE WHEN brand = 'Brand#22' THEN cents END) AS q_b,
      |  ROUND(CAST(MAX(CASE WHEN brand = 'Brand#11' THEN cents END)
      |    AS DOUBLE) / MAX(CASE WHEN brand = 'Brand#22' THEN cents END), 6)
      |    AS qq_ratio
      |FROM at GROUP BY p ORDER BY p""".stripMargin

  // --------------------------------------------------------------------------
  // Chapman capture–recapture catalog estimate
  // --------------------------------------------------------------------------

  /** Chapman mark–recapture estimate of the active catalog from two
    * independent "sightings" (parts ordered in 1995-01 vs 1995-02):
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the classic "how big is the population
    * we're sampling from" estimator, scored against the true part count.
    * The corpus-survey workhorse when full enumeration is off the table.
    */
  def qCaptureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), date_format(col("o_orderdate"), "yyyy-MM")
        .as("m"))
    // counted + overlap-joined
    val s1 = Materialize(li.filter(col("m") === "1995-01")
      .select(col("l_partkey")).distinct()).df
    val s2 = Materialize(li.filter(col("m") === "1995-02")
      .select(col("l_partkey")).distinct()).df
    val n1 = s1.agg(count(lit(1)).as("n1"))
    val n2 = s2.agg(count(lit(1)).as("n2"))
    val m = s1.join(s2, "l_partkey").agg(count(lit(1)).as("m"))
    val truth = Tables.part(spark, dir).agg(count(lit(1)).as("true_n"))
    n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
      .select(col("n1"), col("n2"), col("m"), col("true_n"),
        round((col("n1") + 1).cast("double") * (col("n2") + 1) /
          (col("m") + 1) - 1, 6).as("chapman_n"),
        round(((col("n1") + 1).cast("double") * (col("n2") + 1) /
          (col("m") + 1) - 1) / col("true_n"), 6).as("coverage_ratio"))
  }

  val captureRecaptureSql: String =
    """WITH li AS (SELECT l_partkey, strftime(o_orderdate, '%Y-%m') AS m
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |s1 AS (SELECT DISTINCT l_partkey FROM li WHERE m = '1995-01'),
      |s2 AS (SELECT DISTINCT l_partkey FROM li WHERE m = '1995-02'),
      |a AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |    (SELECT COUNT(*) FROM s2) AS n2,
      |    (SELECT COUNT(*) FROM s1 JOIN s2 USING (l_partkey)) AS m,
      |    (SELECT COUNT(*) FROM part) AS true_n)
      |SELECT n1, n2, m, true_n,
      |  ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 6)
      |    AS chapman_n,
      |  ROUND((CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1) / true_n, 6)
      |    AS coverage_ratio
      |FROM a""".stripMargin

  // --------------------------------------------------------------------------
  // Count overdispersion
  // --------------------------------------------------------------------------

  /** Poisson-overdispersion audit of daily event counts per type: dispersion
    * index var/mean and the χ² index-of-dispersion test
    * z = (χ² − (n−1))/√(2(n−1)) — the "is a Poisson model even admissible"
    * gate before any count-based alerting threshold (overdispersed feeds
    * need negative-binomial thresholds or q_cusum's empirical
    * standardization). All moments exact integer daily counts.
    */
  def qOverdispersion(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("s2"))
    val mean = col("s").cast("double") / col("n_days")
    val vr = col("s2").cast("double") / col("n_days") - mean * mean
    val chi2 = col("n_days") * vr / mean
    val z = (chi2 - (col("n_days") - 1)) /
      sqrt((col("n_days") - 1).cast("double") * 2)
    m.select(col("event_type"), col("n_days"),
        round(mean, 6).as("mean"), round(vr, 6).as("variance"),
        round(vr / mean, 6).as("dispersion"),
        round(chi2, 6).as("chi2"), round(z, 6).as("z_stat"),
        (z > 1.96).as("overdispersed"))
      .orderBy(col("event_type"))
  }

  val overdispersionSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    COUNT(*) AS c FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, COUNT(*) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS s2
      |  FROM d GROUP BY 1),
      |f AS (SELECT event_type, n_days,
      |    CAST(s AS DOUBLE) / n_days AS mean,
      |    CAST(s2 AS DOUBLE) / n_days -
      |      (CAST(s AS DOUBLE) / n_days) * (CAST(s AS DOUBLE) / n_days)
      |      AS vr
      |  FROM m),
      |g AS (SELECT event_type, n_days, mean, vr,
      |    n_days * vr / mean AS chi2,
      |    (n_days * vr / mean - (n_days - 1)) /
      |      sqrt(CAST(n_days - 1 AS DOUBLE) * 2) AS z
      |  FROM f)
      |SELECT event_type, n_days, ROUND(mean, 6) AS mean,
      |  ROUND(vr, 6) AS variance, ROUND(vr / mean, 6) AS dispersion,
      |  ROUND(chi2, 6) AS chi2, ROUND(z, 6) AS z_stat,
      |  z > 1.96 AS overdispersed
      |FROM g ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // Jackknife standard error of a ratio metric
  // --------------------------------------------------------------------------

  /** Delete-one-brand jackknife SE of the corpus return rate: θ_(i) =
    * (R−r_i)/(N−n_i) from per-brand exact counts (the [[graft.ext
    * .Importance.looSourceImpact]] LOO algebra), SE = √((k−1)/k ·
    * Σ(θ_(i) − θ̄)²) — the honest uncertainty of a ratio whose rows are
    * CLUSTERED by brand, where the naive binomial SE undercounts.
    */
  def qJackknifeSe(spark: SparkSession, dir: String): DataFrame = {
    // totals + per-brand LOO read it
    val b = Materialize(Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_b"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r_b"))).df
    val tot = b.agg(sum(col("n_b")).as("nn"), sum(col("r_b")).as("rr"),
      count(lit(1)).as("k"))
    val loo = b.crossJoin(broadcast(tot))
      .select(col("nn"), col("rr"), col("k"),
        ((col("rr") - col("r_b")).cast("double") /
          (col("nn") - col("n_b"))).as("th"))
    val mean = loo.groupBy(col("nn"), col("rr"), col("k"))
      .agg((sum(col("th").cast("decimal(28,12)")).cast("double") / col("k"))
        .as("th_bar"))
    loo.join(broadcast(mean), Seq("nn", "rr", "k"))
      .select(col("nn"), col("rr"), col("k"),
        ((col("th") - col("th_bar")) * (col("th") - col("th_bar")))
          .cast("decimal(28,12)").as("__d2"))
      .groupBy(col("k"), col("nn"), col("rr"))
      .agg(sum(col("__d2")).cast("double").as("__ss"))
      .select(col("k").as("n_strata"),
        round(col("rr").cast("double") / col("nn"), 6).as("theta"),
        round(sqrt((col("k") - 1).cast("double") / col("k") * col("__ss")), 6)
          .as("jackknife_se"))
  }

  val jackknifeSeSql: String =
    """WITH b AS (SELECT p_brand,
      |    COUNT(*) AS n_b,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r_b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_b) AS BIGINT) AS nn,
      |    CAST(SUM(r_b) AS BIGINT) AS rr, COUNT(*) AS k FROM b),
      |loo AS (SELECT nn, rr, k,
      |    CAST(rr - r_b AS DOUBLE) / (nn - n_b) AS th
      |  FROM b CROSS JOIN t),
      |mb AS (SELECT nn, rr, k,
      |    CAST(SUM(CAST(th AS DECIMAL(28,12))) AS DOUBLE) / k AS th_bar
      |  FROM loo GROUP BY 1, 2, 3),
      |ss AS (SELECT loo.k, loo.nn, loo.rr,
      |    CAST(SUM(CAST((th - th_bar) * (th - th_bar) AS DECIMAL(28,12)))
      |      AS DOUBLE) AS s2
      |  FROM loo JOIN mb ON loo.nn = mb.nn AND loo.rr = mb.rr
      |    AND loo.k = mb.k
      |  GROUP BY 1, 2, 3)
      |SELECT k AS n_strata,
      |  ROUND(CAST(rr AS DOUBLE) / nn, 6) AS theta,
      |  ROUND(sqrt(CAST(k - 1 AS DOUBLE) / k * s2), 6) AS jackknife_se
      |FROM ss""".stripMargin

  // --------------------------------------------------------------------------
  // Spearman rank correlation
  // --------------------------------------------------------------------------

  /** Spearman's ρ between order quantity and line revenue base
    * ([[RankCorr.spearman]]): extendedprice = qty × unit price, so the
    * monotone association is strong but not perfect (unit prices vary per
    * part) — a value Pearson underestimates whenever the relation is
    * monotone-nonlinear.
    */
  def qSpearman(spark: SparkSession, dir: String): DataFrame =
    RankCorr.spearman(Tables.lineitem(spark, dir), "l_quantity", "l_extendedprice")
      .select(col("n"), round(col("spearman_rho"), 6).as("spearman_rho"))

  val spearmanSql: String =
    """WITH t AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
      |vx AS (SELECT x AS v, COUNT(*) AS c FROM t GROUP BY 1),
      |rx AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      |  FROM vx),
      |vy AS (SELECT y AS v, COUNT(*) AS c FROM t GROUP BY 1),
      |ry AS (SELECT v, 2 * COALESCE(SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
      |  FROM vy),
      |p AS (SELECT rx.r2 AS rxv, ry.r2 AS ryv FROM t
      |  JOIN rx ON t.x = rx.v JOIN ry ON t.y = ry.v),
      |m AS (SELECT COUNT(*) AS n, SUM(rxv) AS sx, SUM(ryv) AS sy,
      |    SUM(rxv * ryv) AS sxy, SUM(rxv * rxv) AS sxx, SUM(ryv * ryv) AS syy
      |  FROM p)
      |SELECT n, ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
      |         CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
      |FROM m""".stripMargin

  // --------------------------------------------------------------------------
  // Chi-square independence + Cramér's V
  // --------------------------------------------------------------------------

  /** Is return behavior independent of brand? χ² test + Cramér's V over the
    * p_brand × l_returnflag contingency table
    * ([[Contingency.chiSquareCramersV]]).
    */
  def qCramersV(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
    Contingency.chiSquareCramersV(src, "p_brand", "l_returnflag")
      .select(col("n"), col("r_levels"), col("c_levels"), col("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(col("cramers_v"), 6).as("cramers_v"))
  }

  val cramersVSql: String =
    """WITH src AS (SELECT p_brand AS a, l_returnflag AS b FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand IS NOT NULL AND l_returnflag IS NOT NULL),
      |cells AS (SELECT a, b, COUNT(*) AS o FROM src GROUP BY 1, 2),
      |rm AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
      |cm AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY 1),
      |tot AS (SELECT SUM(o) AS nn, COUNT(DISTINCT a) AS r_levels,
      |    COUNT(DISTINCT b) AS c_levels FROM cells),
      |grid AS (SELECT rm.a, cm.b, rm.ra, cm.cb, COALESCE(cells.o, 0) AS o
      |  FROM rm CROSS JOIN cm
      |  LEFT JOIN cells ON rm.a = cells.a AND cm.b = cells.b),
      |d AS (SELECT CAST(CAST(o AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0)) -
      |      CAST(ra AS DECIMAL(19,0)) * CAST(cb AS DECIMAL(19,0)) AS DOUBLE)
      |      AS dn,
      |    (CAST(nn AS DOUBLE) * CAST(ra AS DOUBLE)) * CAST(cb AS DOUBLE) AS dd,
      |    nn, r_levels, c_levels
      |  FROM grid CROSS JOIN tot),
      |s AS (SELECT nn, r_levels, c_levels,
      |    SUM(CAST((dn * dn) / dd AS DECIMAL(28,12))) AS chi2d
      |  FROM d GROUP BY 1, 2, 3)
      |SELECT CAST(nn AS BIGINT) AS n, r_levels, c_levels,
      |  (r_levels - 1) * (c_levels - 1) AS dof,
      |  ROUND(CAST(chi2d AS DOUBLE), 6) AS chi2,
      |  ROUND(sqrt(CAST(chi2d AS DOUBLE) / (CAST(nn AS DOUBLE) *
      |    CAST(least(r_levels - 1, c_levels - 1) AS DOUBLE))), 6) AS cramers_v
      |FROM s""".stripMargin

  // --------------------------------------------------------------------------
  // Delta-method ratio metric
  // --------------------------------------------------------------------------

  /** Mean order value per market segment with CUSTOMER-clustered delta-method
    * standard errors ([[RatioMetric.deltaMethodRatio]]): x = order total in
    * 1e-4 dollars (exact DECIMAL), y = order count, clusters = customers —
    * the correct SE when customers, not orders, are the independent unit.
    */
  def qDeltaMethod(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
    RatioMetric.deltaMethodRatio(src, "c_mktsegment", "o_custkey",
        xCents = col("o_totalprice").cast("decimal(18,4)") * lit(10000),
        yCount = lit(1L))
      .select(col("c_mktsegment"), col("n_clusters"), col("sum_x"), col("sum_y"),
        // report in dollars: the 1e-4-dollar ratio is ~2.4e9, where a 6-decimal
        // grid sits BELOW double ulp (4.8e-7) and cross-engine ROUND ties are
        // guaranteed; at ~2.4e5 dollars ulp is 2.9e-11 — no boundary risk
        round(col("ratio") / 10000.0, 6).as("ratio"),
        round(col("se") / 10000.0, 6).as("se"),
        round(col("ci_lo") / 10000.0, 6).as("ci_lo"),
        round(col("ci_hi") / 10000.0, 6).as("ci_hi"))
      .orderBy(col("c_mktsegment"))
  }

  val deltaMethodSql: String =
    """WITH cl AS (SELECT c_mktsegment, o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)) * 10000)
      |      AS DECIMAL(19,0)) AS x,
      |    CAST(COUNT(*) AS DECIMAL(19,0)) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |m AS (SELECT c_mktsegment, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM cl GROUP BY 1),
      |f AS (SELECT c_mktsegment, n, sx, sy,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xb,
      |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS yb,
      |    CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
      |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
      |    CAST(syy AS DOUBLE) AS syyd
      |  FROM m WHERE n > 1),
      |g AS (SELECT c_mktsegment, n, sx, sy, nd, yb, r,
      |    (sxxd - nd * (xb * xb)) / (nd - 1) AS vx,
      |    (syyd - nd * (yb * yb)) / (nd - 1) AS vy,
      |    (sxyd - nd * (xb * yb)) / (nd - 1) AS cxy
      |  FROM f),
      |h AS (SELECT c_mktsegment, n, sx, sy, r,
      |    sqrt((vx - (2.0 * r) * cxy + (r * r) * vy) / (nd * (yb * yb))) AS se
      |  FROM g)
      |SELECT c_mktsegment, n AS n_clusters,
      |  CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
      |  ROUND(r / 10000.0, 6) AS ratio, ROUND(se / 10000.0, 6) AS se,
      |  ROUND((r - 1.959963984540054 * se) / 10000.0, 6) AS ci_lo,
      |  ROUND((r + 1.959963984540054 * se) / 10000.0, 6) AS ci_hi
      |FROM h ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------------------
  // ANOVA periodogram
  // --------------------------------------------------------------------------

  /** Trig-free periodogram of daily event value: variance explained by phase
    * folding at periods 2..14 ([[Periodogram.anovaPeriodogram]]) — a weekly
    * cycle peaks at p=7 and echoes at 14.
    */
  def qPeriodogram(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,6)") * lit(1000000))
        .cast("decimal(19,0)").as("x_micro"))
    Periodogram.anovaPeriodogram(daily, "day", "x_micro", 2, 14)
      .select(col("period"), col("n_days"), round(col("r2"), 6).as("r2"))
  }

  val periodogramSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS DECIMAL(19,0))
      |      AS x
      |  FROM events GROUP BY 1),
      |d0 AS (SELECT MIN(day) AS mind FROM daily),
      |t AS (SELECT datediff('day', mind, day) AS t, x FROM daily CROSS JOIN d0),
      |tot AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sxx FROM t),
      |folded AS (SELECT p.period, t.t % p.period AS phase,
      |    COUNT(*) AS n_ph, SUM(x) AS s_ph
      |  FROM t CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS period) p
      |  GROUP BY 1, 2),
      |terms AS (SELECT period,
      |    CAST(CAST(s_ph * s_ph AS DOUBLE) / CAST(n_ph AS DOUBLE)
      |      AS DECIMAL(38,6)) AS term
      |  FROM folded),
      |ssb AS (SELECT period, SUM(term) AS sum_term FROM terms GROUP BY 1)
      |SELECT period, n AS n_days,
      |  ROUND((CAST(sum_term AS DOUBLE) -
      |      CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)) /
      |    (CAST(sxx AS DOUBLE) - CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)),
      |    6) AS r2
      |FROM ssb CROSS JOIN tot ORDER BY period""".stripMargin

  // --------------------------------------------------------------------------
  // Source freshness
  // --------------------------------------------------------------------------

  /** Per-event-type last-seen audit with 1-hour staleness flag
    * ([[Profiling.freshness]]). */
  def qFreshness(spark: SparkSession, dir: String): DataFrame =
    Profiling.freshness(Tables.events(spark, dir), "event_type", "ts", 3600L)

  val freshnessSql: String =
    """WITH per AS (SELECT event_type AS source, COUNT(*) AS n_events,
      |    MAX(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
      |      AS last_seen_epoch
      |  FROM events GROUP BY 1),
      |g AS (SELECT MAX(last_seen_epoch) AS gmax FROM per)
      |SELECT source, n_events, last_seen_epoch,
      |  gmax - last_seen_epoch AS staleness_sec,
      |  gmax - last_seen_epoch > 3600 AS is_stale
      |FROM per CROSS JOIN g ORDER BY source""".stripMargin

  // --------------------------------------------------------------------------
  // Count-Min sketch audit
  // --------------------------------------------------------------------------

  /** CMS (d=4, w=256) point-frequency audit for the true top-10 parts by
    * line count ([[Sketches.countMinTopKAudit]]) — estimates can only
    * overestimate; the audit quantifies by how much at this sketch size.
    */
  def qCmsSketch(spark: SparkSession, dir: String): DataFrame =
    Sketches.countMinTopKAudit(Tables.lineitem(spark, dir), "l_partkey",
      k = 10, depth = 4, width = 256)

  val cmsSketchSql: String =
    """WITH counts AS (SELECT l_partkey AS item, COUNT(*) AS true_cnt
      |  FROM lineitem GROUP BY 1),
      |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |b AS (SELECT j,
      |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(item AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bucket,
      |    true_cnt AS cnt
      |  FROM counts CROSS JOIN js),
      |sketch AS (SELECT j, bucket, SUM(cnt) AS bucket_cnt FROM b GROUP BY 1, 2),
      |top AS (SELECT item, true_cnt FROM counts
      |  ORDER BY true_cnt DESC, item LIMIT 10),
      |probes AS (SELECT j, item, true_cnt,
      |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
      |      CAST(item AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bucket
      |  FROM top CROSS JOIN js)
      |SELECT item, true_cnt,
      |  CAST(MIN(bucket_cnt) AS BIGINT) AS cms_estimate,
      |  CAST(MIN(bucket_cnt) - true_cnt AS BIGINT) AS overestimate
      |FROM probes JOIN sketch USING (j, bucket)
      |GROUP BY item, true_cnt
      |ORDER BY true_cnt DESC, item""".stripMargin

  // --------------------------------------------------------------------------
  // Portable HyperLogLog audit
  // --------------------------------------------------------------------------

  /** md5-portable HLL (b=6, m=64) distinct-part estimate vs the exact count
    * ([[Sketches.hyperLogLogAudit]]) — the oracle replays the sketch
    * register-for-register, which Spark's built-in HLL++ can never offer.
    */
  def qHllEstimate(spark: SparkSession, dir: String): DataFrame =
    Sketches.hyperLogLogAudit(Tables.lineitem(spark, dir), "l_partkey", b = 6)
      .select(col("m"), col("v_empty"),
        round(col("hll_estimate"), 6).as("hll_estimate"),
        col("true_distinct"), round(col("rel_err_pct"), 6).as("rel_err_pct"))

  val hllEstimateSql: String =
    """WITH h AS (SELECT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)),
      |    1, 8)) AS BIGINT) AS h FROM lineitem),
      |hw AS (SELECT h % 64 AS idx, h // 64 AS w FROM h),
      |r AS (SELECT idx, MAX(CASE WHEN w = 0 THEN 27
      |    ELSE 27 - len(bin(w)) END) AS mreg FROM hw GROUP BY 1),
      |spine AS (SELECT unnest(generate_series(0, 63)) AS idx),
      |fl AS (SELECT spine.idx, COALESCE(mreg, 0) AS mreg
      |  FROM spine LEFT JOIN r USING (idx)),
      |z AS (SELECT SUM(power(2.0, -CAST(mreg AS DOUBLE))) AS zsum,
      |    CAST(SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty
      |  FROM fl),
      |ex AS (SELECT COUNT(DISTINCT l_partkey) AS true_distinct FROM lineitem),
      |e AS (SELECT v_empty, true_distinct,
      |    0.709 * (64.0 * 64.0) / zsum AS raw FROM z CROSS JOIN ex),
      |f AS (SELECT v_empty, true_distinct,
      |    CASE WHEN raw <= 160.0 AND v_empty > 0
      |      THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE)) ELSE raw END AS est
      |  FROM e)
      |SELECT 64 AS m, v_empty, ROUND(est, 6) AS hll_estimate, true_distinct,
      |  ROUND(100.0 * abs(est - CAST(true_distinct AS DOUBLE)) /
      |    CAST(true_distinct AS DOUBLE), 6) AS rel_err_pct
      |FROM f""".stripMargin

  // --------------------------------------------------------------------------
  // Welch's t-test
  // --------------------------------------------------------------------------

  /** Welch's unequal-variance t over per-user purchase revenue, arms from
    * the deterministic md5 bucket ([[graft.ext.Experiment.welchTTest]]) —
    * the continuous-metric companion of q_ab_test's two-proportion z.
    */
  def qWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("arm",
        when(graft.ext.Splits.hashBucket(col("user_id")) % 2 === 0, lit("A"))
          .otherwise(lit("B")))
    graft.ext.Experiment.welchTTest(ev, "arm", "user_id",
        xExact = col("value").cast("decimal(18,6)") * lit(1000000),
        armA = "A", armB = "B")
      .select(col("n_a"), col("n_b"),
        round(col("mean_a") / 1000000.0, 6).as("mean_a"),
        round(col("mean_b") / 1000000.0, 6).as("mean_b"),
        round(col("t_stat"), 6).as("t_stat"),
        round(col("dof"), 6).as("dof"), col("significant"))
  }

  val welchTtestSql: String =
    """WITH pu AS (SELECT user_id,
      |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 100 % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS DECIMAL(19,0))
      |      AS x
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |m AS (SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      |  FROM pu GROUP BY 1),
      |a AS (SELECT n AS n_a, sx AS sx_a, sxx AS sxx_a FROM m WHERE arm = 'A'),
      |b AS (SELECT n AS n_b, sx AS sx_b, sxx AS sxx_b FROM m WHERE arm = 'B'),
      |f AS (SELECT n_a, n_b,
      |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
      |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
      |    ((CAST(sxx_a AS DOUBLE) - CAST(n_a AS DOUBLE) *
      |      ((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) *
      |       (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)))) /
      |      (CAST(n_a AS DOUBLE) - 1)) / CAST(n_a AS DOUBLE) AS sa,
      |    ((CAST(sxx_b AS DOUBLE) - CAST(n_b AS DOUBLE) *
      |      ((CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
      |       (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)))) /
      |      (CAST(n_b AS DOUBLE) - 1)) / CAST(n_b AS DOUBLE) AS sb
      |  FROM a CROSS JOIN b),
      |g AS (SELECT n_a, n_b, ma, mb,
      |    (ma - mb) / sqrt(sa + sb) AS t,
      |    ((sa + sb) * (sa + sb)) /
      |      ((sa * sa) / (CAST(n_a AS DOUBLE) - 1) +
      |       (sb * sb) / (CAST(n_b AS DOUBLE) - 1)) AS dof
      |  FROM f)
      |SELECT n_a, n_b,
      |  ROUND(ma / 1000000.0, 6) AS mean_a, ROUND(mb / 1000000.0, 6) AS mean_b,
      |  ROUND(t, 6) AS t_stat, ROUND(dof, 6) AS dof,
      |  abs(t) > 1.959963984540054 AS significant
      |FROM g""".stripMargin

  // --------------------------------------------------------------------------
  // Gumbel block-maxima return levels
  // --------------------------------------------------------------------------

  /** Gumbel return levels of the DAILY PEAK event value at 30/90/365-day
    * horizons ([[graft.ext.Series.gumbelReturnLevels]]) — extreme-value
    * capacity planning over the day-maxima series.
    */
  def qGumbelLevels(spark: SparkSession, dir: String): DataFrame = {
    val dailyMax = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(max((col("value").cast("decimal(18,6)") * lit(1000000))
        .cast("decimal(19,0)")).as("x_micro"))
    graft.ext.Series.gumbelReturnLevels(dailyMax, "x_micro", Seq(30, 90, 365))
      .select(col("t_blocks"), col("n_blocks"),
        round(col("mu") / 1000000.0, 6).as("mu"),
        round(col("beta") / 1000000.0, 6).as("beta"),
        round(col("return_level") / 1000000.0, 6).as("return_level"))
  }

  val gumbelLevelsSql: String =
    """WITH daily AS (SELECT date_trunc('day', ts) AS day,
      |    MAX(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS DECIMAL(19,0)))
      |      AS x
      |  FROM events GROUP BY 1),
      |m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx FROM daily),
      |f AS (SELECT n,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xb,
      |    sqrt((CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) *
      |      ((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |       (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) /
      |      (CAST(n AS DOUBLE) - 1)) AS s
      |  FROM m),
      |g AS (SELECT n, xb, s * 0.779696801233676 AS beta FROM f),
      |h AS (SELECT n, xb - 0.5772156649015329 * beta AS mu, beta FROM g),
      |t AS (SELECT unnest([30, 90, 365]) AS t_blocks)
      |SELECT t_blocks, n AS n_blocks,
      |  ROUND(mu / 1000000.0, 6) AS mu, ROUND(beta / 1000000.0, 6) AS beta,
      |  ROUND((mu - beta * ln(-ln(1.0 - 1.0 / CAST(t_blocks AS DOUBLE)))) /
      |    1000000.0, 6) AS return_level
      |FROM h CROSS JOIN t ORDER BY t_blocks""".stripMargin

  // --------------------------------------------------------------------------
  // Grouped HyperLogLog
  // --------------------------------------------------------------------------

  /** Per-event-type distinct-user HLL audit
    * ([[Sketches.hyperLogLogGroupedAudit]]) — one 64-register sketch per
    * source, the per-partition cardinality profile a 100 TB ingest ships
    * instead of per-source distinct shuffles.
    */
  def qHllGrouped(spark: SparkSession, dir: String): DataFrame =
    Sketches.hyperLogLogGroupedAudit(Tables.events(spark, dir),
        "event_type", "user_id", b = 6)
      .select(col("event_type"), col("v_empty"),
        round(col("hll_estimate"), 6).as("hll_estimate"),
        col("true_distinct"), round(col("rel_err_pct"), 6).as("rel_err_pct"))

  val hllGroupedSql: String =
    """WITH h AS (SELECT event_type AS grp,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) AS h
      |  FROM events),
      |hw AS (SELECT grp, h % 64 AS idx, h // 64 AS w FROM h),
      |r AS (SELECT grp, idx, MAX(CASE WHEN w = 0 THEN 27
      |    ELSE 27 - len(bin(w)) END) AS mreg FROM hw GROUP BY 1, 2),
      |spine AS (SELECT grp, idx FROM (SELECT DISTINCT event_type AS grp
      |    FROM events) CROSS JOIN (SELECT unnest(generate_series(0, 63))
      |    AS idx)),
      |fl AS (SELECT spine.grp, spine.idx, COALESCE(mreg, 0) AS mreg
      |  FROM spine LEFT JOIN r USING (grp, idx)),
      |z AS (SELECT grp, SUM(power(2.0, -CAST(mreg AS DOUBLE))) AS zsum,
      |    CAST(SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v_empty
      |  FROM fl GROUP BY 1),
      |ex AS (SELECT event_type AS grp, COUNT(DISTINCT user_id)
      |    AS true_distinct FROM events GROUP BY 1),
      |e AS (SELECT z.grp, v_empty, true_distinct,
      |    0.709 * (64.0 * 64.0) / zsum AS raw FROM z JOIN ex USING (grp)),
      |f AS (SELECT grp, v_empty, true_distinct,
      |    CASE WHEN raw <= 160.0 AND v_empty > 0
      |      THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE)) ELSE raw END AS est
      |  FROM e)
      |SELECT grp AS event_type, v_empty, ROUND(est, 6) AS hll_estimate,
      |  true_distinct,
      |  ROUND(100.0 * abs(est - CAST(true_distinct AS DOUBLE)) /
      |    CAST(true_distinct AS DOUBLE), 6) AS rel_err_pct
      |FROM f ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------------
  // UCB1 exploration scores
  // --------------------------------------------------------------------------

  /** UCB1 ranking of brands by non-return rate with the exploration bonus
    * ([[graft.ext.Experiment.ucb1]]) — which brand a bandit-driven
    * merchandising loop would surface next.
    */
  def qUcbScores(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
    graft.ext.Experiment.ucb1(src, "p_brand",
        when(col("l_returnflag") =!= "R", 1L).otherwise(0L))
      .select(col("arm"), col("n_pulls"),
        round(col("mean_reward"), 6).as("mean_reward"),
        round(col("ucb_bonus"), 6).as("ucb_bonus"),
        round(col("ucb_score"), 6).as("ucb_score"),
        col("rank").as("arm_rank"))
      .orderBy(col("arm_rank"))
  }

  val ucbScoresSql: String =
    """WITH arms AS (SELECT p_brand AS arm, COUNT(*) AS n_pulls,
      |    CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r
      |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS nn FROM arms),
      |s AS (SELECT arm, n_pulls,
      |    CAST(r AS DOUBLE) / CAST(n_pulls AS DOUBLE) AS mean_reward,
      |    sqrt(2.0 * ln(CAST(nn AS DOUBLE)) / CAST(n_pulls AS DOUBLE))
      |      AS ucb_bonus
      |  FROM arms CROSS JOIN tot)
      |SELECT arm, n_pulls, ROUND(mean_reward, 6) AS mean_reward,
      |  ROUND(ucb_bonus, 6) AS ucb_bonus,
      |  ROUND(mean_reward + ucb_bonus, 6) AS ucb_score,
      |  ROW_NUMBER() OVER (ORDER BY mean_reward + ucb_bonus DESC, arm)
      |    AS arm_rank
      |FROM s ORDER BY arm_rank""".stripMargin

  // --------------------------------------------------------------------------
  // Differential-privacy sensitivity audit
  // --------------------------------------------------------------------------

  /** Per-event-type L1 sensitivity audit ([[graft.ext.Privacy.dpSensitivity]])
    * — max single-user contribution and whale count, the clipping bound any
    * DP release of per-type counts would need.
    */
  def qDpSensitivity(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.dpSensitivity(Tables.events(spark, dir),
        "event_type", "user_id", whalePct = 1)
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("max_user_n"), round(col("max_share"), 6).as("max_share"),
        col("n_whales"))

  val dpSensitivitySql: String =
    """WITH pu AS (SELECT event_type AS key, user_id,
      |    COUNT(*) AS user_n FROM events GROUP BY 1, 2),
      |pk AS (SELECT key, CAST(SUM(user_n) AS BIGINT) AS n_events,
      |    COUNT(*) AS n_users, MAX(user_n) AS max_user_n
      |  FROM pu GROUP BY 1),
      |wh AS (SELECT pu.key, COUNT(*) AS n_whales
      |  FROM pu JOIN pk USING (key)
      |  WHERE pu.user_n * 100 > pk.n_events * 1 GROUP BY 1)
      |SELECT pk.key AS event_type, n_events, n_users, max_user_n,
      |  ROUND(CAST(max_user_n AS DOUBLE) / n_events, 6) AS max_share,
      |  COALESCE(n_whales, 0) AS n_whales
      |FROM pk LEFT JOIN wh ON pk.key = wh.key
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------------
  // Post-stratified mean
  // --------------------------------------------------------------------------

  /** Mean customer spend post-stratified by market segment
    * ([[graft.ext.Experiment.postStratifiedMean]]): sample = customers with
    * orders, population = all customers — corrects the raw responder mean
    * for segment response skew. Dollars out.
    */
  def qPostStratified(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val spend = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)") * lit(10000))
        .cast("decimal(19,0)").as("x"))
    graft.ext.Experiment.postStratifiedMean(spend, cust, "c_mktsegment",
        col("x"))
      .select(col("n_sample"), col("n_strata_used"), col("n_strata_pop"),
        round(col("raw_mean") / 10000.0, 6).as("raw_mean"),
        round(col("post_mean") / 10000.0, 6).as("post_mean"),
        round(col("post_se") / 10000.0, 6).as("post_se"))
  }

  val postStratifiedSql: String =
    """WITH spend AS (SELECT c_mktsegment AS h, o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)) * 10000)
      |      AS DECIMAL(19,0)) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
      |s AS (SELECT h, COUNT(*) AS n, CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx FROM spend GROUP BY 1),
      |p AS (SELECT c_mktsegment AS h, COUNT(*) AS nh FROM customer
      |  GROUP BY 1),
      |ptot AS (SELECT CAST(SUM(nh) AS BIGINT) AS npop,
      |    COUNT(*) AS n_strata_pop FROM p),
      |stot AS (SELECT CAST(SUM(n) AS BIGINT) AS ns,
      |    CAST(SUM(sx) AS DECIMAL(38,0)) AS sxall FROM s),
      |terms AS (SELECT s.h, s.n, n_strata_pop,
      |    CAST((CAST(nh AS DOUBLE) / CAST(npop AS DOUBLE)) *
      |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(28,10))
      |      AS tmean,
      |    CAST(((CAST(nh AS DOUBLE) / CAST(npop AS DOUBLE)) *
      |      (CAST(nh AS DOUBLE) / CAST(npop AS DOUBLE)) *
      |      ((CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE) *
      |        ((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |         (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) /
      |        (CAST(n AS DOUBLE) - 1))) / CAST(n AS DOUBLE)
      |      AS DECIMAL(28,10)) AS tvar
      |  FROM s JOIN p USING (h) CROSS JOIN ptot WHERE s.n > 1),
      |agg AS (SELECT COUNT(*) AS n_strata_used,
      |    ANY_VALUE(n_strata_pop) AS n_strata_pop,
      |    SUM(tmean) AS pm, SUM(tvar) AS pv FROM terms)
      |SELECT ns AS n_sample, n_strata_used, n_strata_pop,
      |  ROUND((CAST(sxall AS DOUBLE) / CAST(ns AS DOUBLE)) / 10000.0, 6)
      |    AS raw_mean,
      |  ROUND(CAST(pm AS DOUBLE) / 10000.0, 6) AS post_mean,
      |  ROUND(sqrt(CAST(pv AS DOUBLE)) / 10000.0, 6) AS post_se
      |FROM agg CROSS JOIN stot""".stripMargin

  // --------------------------------------------------------------------------
  // Upper-tail dependence
  // --------------------------------------------------------------------------

  /** λ_U of (l_quantity, l_extendedprice) at q ∈ {0.9, 0.95, 0.99}
    * ([[graft.ext.RankCorr.tailDependence]]) — do the largest orders and the
    * largest line revenues spike together beyond what correlation shows?
    */
  def qTailDependence(spark: SparkSession, dir: String): DataFrame =
    graft.ext.RankCorr.tailDependence(Tables.lineitem(spark, dir),
        "l_quantity", "l_extendedprice",
        tieCols = Seq("l_orderkey", "l_linenumber"),
        probs = Seq(0.9, 0.95, 0.99))
      .select(col("p"), col("tx"), col("ty"), col("n_joint"), col("n_y"),
        round(col("lambda_u"), 6).as("lambda_u"))

  val tailDependenceSql: String =
    """WITH rx AS (SELECT l_quantity AS v,
      |    ROW_NUMBER() OVER (ORDER BY l_quantity, l_orderkey, l_linenumber)
      |      AS rn, COUNT(*) OVER () AS n
      |  FROM lineitem),
      |tx AS (SELECT CAST(p AS DOUBLE) AS p, v AS tx FROM rx
      |  JOIN (VALUES (0.90), (0.95), (0.99)) t(p)
      |    ON rn = GREATEST(1, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT))),
      |ry AS (SELECT l_extendedprice AS v,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
      |      l_linenumber) AS rn, COUNT(*) OVER () AS n
      |  FROM lineitem),
      |ty AS (SELECT CAST(p AS DOUBLE) AS p, v AS ty FROM ry
      |  JOIN (VALUES (0.90), (0.95), (0.99)) t(p)
      |    ON rn = GREATEST(1, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT))),
      |th AS (SELECT tx.p, tx.tx, ty.ty FROM tx JOIN ty USING (p)),
      |c AS (SELECT p, tx, ty,
      |    CAST(SUM(CASE WHEN l_extendedprice > ty THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_y,
      |    CAST(SUM(CASE WHEN l_quantity > tx AND l_extendedprice > ty
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_joint
      |  FROM lineitem CROSS JOIN th GROUP BY 1, 2, 3)
      |SELECT p, tx, ty, n_joint, n_y,
      |  ROUND(CAST(n_joint AS DOUBLE) / n_y, 6) AS lambda_u
      |FROM c ORDER BY p""".stripMargin

  // --------------------------------------------------------------------------
  // Naive forecasting backtest
  // --------------------------------------------------------------------------

  /** Naive-1 vs seasonal-naive-7 backtest per event type over daily value
    * sums ([[graft.ext.Forecast.naiveBacktest]]) — the MASE floor any
    * forecast must beat; micro units rescaled to original units.
    */
  def qNaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,6)") * lit(1000000))
        .cast("decimal(19,0)").as("x_micro"))
    graft.ext.Forecast.naiveBacktest(daily, "event_type", "day", "x_micro")
      .select(col("event_type"), col("n1"),
        round(col("mae_naive1") / 1000000.0, 6).as("mae_naive1"),
        col("n7"),
        round(col("mae_naive7") / 1000000.0, 6).as("mae_naive7"),
        round(col("mase7"), 6).as("mase7"))
  }

  val naiveBacktestSql: String =
    """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS d,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * 1000000) AS DECIMAL(19,0))
      |      AS x
      |  FROM events GROUP BY 1, 2),
      |e1 AS (SELECT a.g, COUNT(*) AS n1,
      |    CAST(SUM(abs(a.x - b.x)) AS DECIMAL(38,0)) AS s1
      |  FROM daily a JOIN daily b
      |    ON a.g = b.g AND a.d = b.d + INTERVAL 1 DAY
      |  GROUP BY 1),
      |e7 AS (SELECT a.g, COUNT(*) AS n7,
      |    CAST(SUM(abs(a.x - b.x)) AS DECIMAL(38,0)) AS s7
      |  FROM daily a JOIN daily b
      |    ON a.g = b.g AND a.d = b.d + INTERVAL 7 DAY
      |  GROUP BY 1)
      |SELECT e1.g AS event_type, n1,
      |  ROUND((CAST(s1 AS DOUBLE) / n1) / 1000000.0, 6) AS mae_naive1,
      |  n7, ROUND((CAST(s7 AS DOUBLE) / n7) / 1000000.0, 6) AS mae_naive7,
      |  ROUND((CAST(s7 AS DOUBLE) / n7) / (CAST(s1 AS DOUBLE) / n1), 6)
      |    AS mase7
      |FROM e1 JOIN e7 USING (g) ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------------
  // Histogram quantile sketch audit
  // --------------------------------------------------------------------------

  /** 128-bin histogram quantile estimates vs the exact percentile_disc
    * values ([[graft.ext.HistSketch.histQuantilesAudit]]) — the one-pass,
    * mergeable quantile path for 100 TB scans, with its error measured
    * before anyone trusts it.
    */
  def qHistQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.ext.HistSketch.histQuantilesAudit(Tables.lineitem(spark, dir),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"),
        Seq(0.5, 0.9, 0.99), bins = 128)
      .select(col("p"), round(col("est"), 6).as("est"), col("exact_value"),
        round(col("abs_err"), 6).as("abs_err"),
        round(col("rel_err"), 6).as("rel_err"))

  val histQuantilesSql: String =
    """WITH v AS (SELECT l_extendedprice AS v FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL),
      |mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v),
      |binned AS (SELECT LEAST(CAST(floor(((v - lo) / (hi - lo)) * 128)
      |    AS BIGINT), 127) AS bin, COUNT(*) AS c
      |  FROM v CROSS JOIN mm GROUP BY 1),
      |cum AS (SELECT a.bin, a.c, COALESCE(SUM(b.c), 0) AS cum_before
      |  FROM binned a LEFT JOIN binned b ON b.bin < a.bin GROUP BY 1, 2),
      |ps AS (SELECT CAST(p AS DOUBLE) AS p
      |  FROM (VALUES (0.5), (0.9), (0.99)) t(p)),
      |tg AS (SELECT p, lo, hi, n,
      |    GREATEST(1, CAST(ceil(p * n) AS BIGINT)) AS target
      |  FROM ps CROSS JOIN mm),
      |est AS (SELECT p,
      |    lo + ((hi - lo) / 128) * (CAST(bin AS DOUBLE) +
      |      CAST(target - cum_before AS DOUBLE) / CAST(c AS DOUBLE)) AS est
      |  FROM tg JOIN cum ON target > cum_before
      |    AND target <= cum_before + c),
      |rx AS (SELECT l_extendedprice AS ev,
      |    ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey,
      |      l_linenumber) AS rn, COUNT(*) OVER () AS n
      |  FROM lineitem),
      |ex AS (SELECT CAST(p AS DOUBLE) AS p, ev AS exact_value FROM rx
      |  JOIN (VALUES (0.5), (0.9), (0.99)) t(p)
      |    ON rn = GREATEST(1, CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT)))
      |SELECT est.p, ROUND(est, 6) AS est, exact_value,
      |  ROUND(abs(est - exact_value), 6) AS abs_err,
      |  ROUND(abs(est - exact_value) / abs(exact_value), 6) AS rel_err
      |FROM est JOIN ex USING (p) ORDER BY p""".stripMargin

  // --------------------------------------------------------------------------
  // Theil's U, source JSD, RAKE keyphrases
  // --------------------------------------------------------------------------

  /** Asymmetric categorical association
    * ([[graft.ext.Contingency.theilsU]]): how much of the market segment is
    * predictable from nation and vice versa — the direction-resolved
    * readout next to q_cramers_v's symmetric one.
    */
  def qTheilsU(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Contingency.theilsU(Tables.customer(spark, dir),
        "c_mktsegment", "c_nationkey")
      .select(col("n"), col("x_levels"), col("y_levels"),
        round(col("h_x"), 6).as("h_x"), round(col("h_y"), 6).as("h_y"),
        round(col("u_x_given_y"), 6).as("u_x_given_y"),
        round(col("u_y_given_x"), 6).as("u_y_given_x"))

  val theilsUSql: String =
    """WITH cells AS (SELECT c_mktsegment AS x, c_nationkey AS y,
      |    COUNT(*) AS nxy FROM customer GROUP BY 1, 2),
      |nx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
      |ny AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
      |hx AS (SELECT COUNT(*) AS x_levels,
      |    -1.0 * CAST(SUM(CAST((CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(18,8)))
      |      AS DOUBLE) AS h_x
      |  FROM nx CROSS JOIN tot),
      |hy AS (SELECT COUNT(*) AS y_levels,
      |    -1.0 * CAST(SUM(CAST((CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(18,8)))
      |      AS DOUBLE) AS h_y
      |  FROM ny CROSS JOIN tot),
      |hxgy AS (SELECT
      |    -1.0 * CAST(SUM(CAST((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(nxy AS DOUBLE) / CAST(ny AS DOUBLE)) AS DECIMAL(18,8)))
      |      AS DOUBLE) AS h_x_given_y
      |  FROM cells JOIN ny USING (y) CROSS JOIN tot),
      |hygx AS (SELECT
      |    -1.0 * CAST(SUM(CAST((CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      ln(CAST(nxy AS DOUBLE) / CAST(nx AS DOUBLE)) AS DECIMAL(18,8)))
      |      AS DOUBLE) AS h_y_given_x
      |  FROM cells JOIN nx USING (x) CROSS JOIN tot)
      |SELECT n, x_levels, y_levels,
      |  ROUND(h_x, 6) AS h_x, ROUND(h_y, 6) AS h_y,
      |  CASE WHEN h_x > 0 THEN ROUND((h_x - h_x_given_y) / h_x, 6) END
      |    AS u_x_given_y,
      |  CASE WHEN h_y > 0 THEN ROUND((h_y - h_y_given_x) / h_y, 6) END
      |    AS u_y_given_x
      |FROM tot CROSS JOIN hx CROSS JOIN hy
      |CROSS JOIN hxgy CROSS JOIN hygx""".stripMargin

  // --------------------------------------------------------------------------
  // Sequential motif discovery
  // --------------------------------------------------------------------------

  /** Top first-occurrence 3-step journeys
    * ([[graft.ext.SequencePatterns.firstOccurrenceTriples]]) — funnel
    * DISCOVERY next to q_funnel's single hypothesized sequence.
    */
  def qSeqPatterns(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SequencePatterns.firstOccurrenceTriples(
      Tables.events(spark, dir), "user_id", "event_type",
      unix_millis(col("ts")), k = 20)

  val seqPatternsSql: String =
    """WITH f AS (SELECT user_id AS u, event_type AS ty,
      |    MIN(epoch_ms(ts)) AS t
      |  FROM events GROUP BY 1, 2),
      |tr AS (SELECT a.ty AS step1, b.ty AS step2, c.ty AS step3
      |  FROM f a
      |  JOIN f b ON a.u = b.u AND (a.t < b.t OR (a.t = b.t AND a.ty < b.ty))
      |  JOIN f c ON b.u = c.u AND (b.t < c.t OR (b.t = c.t AND b.ty < c.ty)))
      |SELECT step1, step2, step3, COUNT(*) AS n_users FROM tr
      |GROUP BY 1, 2, 3 ORDER BY n_users DESC, step1, step2, step3
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // Bloom filter audit
  // --------------------------------------------------------------------------

  /** Portable Bloom filter over namespaced customer keys probed with a
    * disjoint namespace ([[graft.ext.Sketches.bloomFilterAudit]],
    * m = 131072 bits, k = 4): observed false-positive rate vs the textbook
    * (1 − e^(−kn/m))^k — the sizing measurement for Bloom-filtered
    * anti-joins.
    */
  def qBloomAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    graft.ext.Sketches.bloomFilterAudit(c,
        concat(lit("c:"), col("c_custkey")), c,
        concat(lit("p:"), col("c_custkey")), wWords = 4096, kHashes = 4)
      .select(col("m_bits"), col("k_hashes"), col("n_inserted"),
        col("n_bits_set"), col("n_probes"), col("n_fp"),
        round(col("fp_rate"), 6).as("fp_rate"),
        round(col("fp_theory"), 6).as("fp_theory"))
  }

  val bloomAuditSql: String =
    """WITH ins AS (SELECT DISTINCT 'c:' || CAST(c_custkey AS VARCHAR) AS key
      |  FROM customer),
      |ip AS (SELECT key, unnest(generate_series(0, 3)) AS j FROM ins),
      |ipos AS (SELECT key,
      |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || key), 1, 8))
      |      ::BIGINT % 131072 AS pos
      |  FROM ip),
      |iw AS (SELECT pos // 32 AS word,
      |    CAST(POWER(2, pos % 32) AS BIGINT) AS mask FROM ipos),
      |fw AS (SELECT word, BIT_OR(mask) AS bits FROM iw GROUP BY 1),
      |pr AS (SELECT DISTINCT 'p:' || CAST(c_custkey AS VARCHAR) AS key
      |  FROM customer),
      |pp AS (SELECT key, unnest(generate_series(0, 3)) AS j FROM pr),
      |ppos AS (SELECT key,
      |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || key), 1, 8))
      |      ::BIGINT % 131072 AS pos
      |  FROM pp),
      |pw AS (SELECT key, pos // 32 AS word,
      |    CAST(POWER(2, pos % 32) AS BIGINT) AS mask FROM ppos),
      |hits AS (SELECT pw.key,
      |    SUM(CASE WHEN fw.bits IS NOT NULL AND (fw.bits & pw.mask) = pw.mask
      |      THEN 1 ELSE 0 END) AS n_hit
      |  FROM pw LEFT JOIN fw USING (word) GROUP BY 1),
      |pa AS (SELECT COUNT(*) AS n_probes,
      |    CAST(SUM(CASE WHEN n_hit = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
      |  FROM hits),
      |fa AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS n_bits_set
      |  FROM fw),
      |ni AS (SELECT COUNT(*) AS n_inserted FROM ins)
      |SELECT CAST(131072 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k_hashes,
      |  n_inserted, n_bits_set, n_probes, n_fp,
      |  ROUND(CAST(n_fp AS DOUBLE) / CAST(n_probes AS DOUBLE), 6) AS fp_rate,
      |  ROUND(POWER(1 - EXP(-1.0 * 4 * n_inserted / 131072.0), 4), 6)
      |    AS fp_theory
      |FROM pa CROSS JOIN fa CROSS JOIN ni""".stripMargin

  // --------------------------------------------------------------------------
  // Stratified / paired / resampled statistics
  // --------------------------------------------------------------------------

  /** Mantel–Haenszel pooled odds ratio
    * ([[graft.ext.Experiment.mantelHaenszel]]) of positive balance on the
    * BUILDING segment, stratified by nation — crude vs pooled OR side by
    * side, the odds-scale Simpson check.
    */
  def qMantelHaenszel(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.mantelHaenszel(Tables.customer(spark, dir),
        col("c_nationkey"), col("c_mktsegment") === "BUILDING",
        col("c_acctbal") > 0)
      .select(col("n_strata"), col("n_units"),
        round(col("crude_or"), 6).as("crude_or"),
        round(col("mh_or"), 6).as("mh_or"))

  val mantelHaenszelSql: String =
    """WITH f AS (SELECT c_nationkey AS h,
      |    c_mktsegment = 'BUILDING' AS e, c_acctbal > 0 AS y FROM customer),
      |cells AS (SELECT h,
      |    SUM(CASE WHEN e AND y THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS b,
      |    SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS c,
      |    SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END) AS d
      |  FROM f GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n_strata,
      |    CAST(SUM(a + b + c + d) AS BIGINT) AS n_units,
      |    CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
      |    CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(d) AS BIGINT) AS td,
      |    SUM(CAST(CAST(a * d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)
      |      AS DECIMAL(28,12))) AS sn,
      |    SUM(CAST(CAST(b * c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)
      |      AS DECIMAL(28,12))) AS sd
      |  FROM cells)
      |SELECT n_strata, n_units,
      |  CASE WHEN tb * tc > 0 THEN
      |    ROUND(CAST(ta * td AS DOUBLE) / CAST(tb * tc AS DOUBLE), 6)
      |  END AS crude_or,
      |  CASE WHEN CAST(sd AS DOUBLE) > 0 THEN
      |    ROUND(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE), 6)
      |  END AS mh_or
      |FROM t""".stripMargin

  /** Deterministic hash-permutation test
    * ([[graft.ext.Experiment.permutationTest]], 200 md5-parity relabelings)
    * for the returned-vs-kept quantity gap on a 1%-of-parts lineitem slice —
    * both engines regenerate the identical permutation set, so the
    * Monte-Carlo p-value is exactly reproducible.
    */
  def qPermutationTest(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Experiment.permutationTest(
        Tables.lineitem(spark, dir).filter(col("l_partkey") % 100 === 0),
        concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        col("l_returnflag") === "R", col("l_quantity"), reps = 200)
      .select(col("n_units"), col("n_reps"),
        round(col("obs_diff"), 6).as("obs_diff"), col("n_exceed"),
        round(col("p_value"), 6).as("p_value"))

  val permutationTestSql: String =
    """WITH base AS (SELECT
      |    CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)
      |      AS k,
      |    l_returnflag = 'R' AS f, l_quantity AS v
      |  FROM lineitem WHERE l_partkey % 100 = 0),
      |obs AS (SELECT COUNT(*) AS n_units,
      |    CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    SUM(CASE WHEN f THEN CAST(v AS DECIMAL(28,12)) END) AS sa,
      |    SUM(CASE WHEN NOT f THEN CAST(v AS DECIMAL(28,12)) END) AS sb
      |  FROM base),
      |od AS (SELECT n_units,
      |    CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / (n_units - na)
      |      AS obs_diff
      |  FROM obs),
      |reps AS (SELECT unnest(generate_series(0, 199)) AS r),
      |perm AS (SELECT r,
      |    CAST(na AS BIGINT) AS na, n, sa, sb FROM (
      |    SELECT b.r, SUM(CASE WHEN pf THEN 1 ELSE 0 END) AS na,
      |      COUNT(*) AS n,
      |      SUM(CASE WHEN pf THEN CAST(v AS DECIMAL(28,12)) END) AS sa,
      |      SUM(CASE WHEN NOT pf THEN CAST(v AS DECIMAL(28,12)) END) AS sb
      |    FROM (SELECT base.v, reps.r AS r,
      |        ('0x' || substr(md5(base.k || ':' || CAST(reps.r AS VARCHAR)),
      |          1, 8))::BIGINT % 2 = 0 AS pf
      |      FROM base CROSS JOIN reps) b
      |    GROUP BY 1)),
      |rd AS (SELECT r,
      |    CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / (n - na) AS rdiff
      |  FROM perm)
      |SELECT od.n_units, COUNT(*) AS n_reps,
      |  ROUND(od.obs_diff, 6) AS obs_diff,
      |  CAST(SUM(CASE WHEN ABS(rdiff) >= ABS(od.obs_diff) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_exceed,
      |  ROUND(CAST(SUM(CASE WHEN ABS(rdiff) >= ABS(od.obs_diff)
      |      THEN 1 ELSE 0 END) + 1 AS DOUBLE) / (COUNT(*) + 1), 6) AS p_value
      |FROM rd CROSS JOIN od GROUP BY od.n_units, od.obs_diff""".stripMargin

  /** McNemar paired test ([[graft.ext.Experiment.mcnemar]]) between the two
    * shipped language classifiers (en-density rule vs multi-profile argmax)
    * scored against the gold `lang` column — do they err on the SAME
    * documents, or is one strictly better where they disagree?
    */
  def qMcnemar(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextStats
    val d = Tables.documents(spark, dir)
    val pa = TextStats.langIdDF(d, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred").as("pa"))
    val pb = TextStats.langIdMultiDF(d, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred").as("pb"))
    val j = d.select(col("doc_id"), col("lang"))
      .join(pa, "doc_id").join(pb, "doc_id")
    graft.ext.Experiment.mcnemar(j, col("pa") === col("lang"),
        col("pb") === col("lang"))
      .select(col("n_pairs"), col("n_both"), col("n10"), col("n01"),
        round(col("chi2"), 6).as("chi2"))
  }

  val mcnemarSql: String = {
    val profile = graft.ext.TextStats.langProfiles
      .flatMap { case (lang, toks) => toks.map(t => s"('$t', '$lang')") }
      .mkString(", ")
    s"""WITH profile(tok, plang) AS (VALUES $profile),
      |ta AS (SELECT doc_id, ${Inputs.stopCountSql} AS sh,
      |    length(text) - length(replace(text, ' ', '')) + 1 AS nt
      |  FROM documents),
      |pa AS (SELECT doc_id, CASE WHEN sh * 25 >= nt * 2 THEN 'en'
      |    WHEN sh > 0 THEN 'en-maybe' ELSE 'unk' END AS pa FROM ta),
      |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |h AS (SELECT doc_id, plang, COUNT(*) AS n_hits
      |  FROM tok JOIN profile USING (tok) GROUP BY 1, 2),
      |r AS (SELECT doc_id, plang, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY n_hits DESC, plang) AS rn FROM h),
      |pb AS (SELECT d.doc_id, COALESCE(r.plang, 'unk') AS pb
      |  FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id AND r.rn = 1),
      |fl AS (SELECT d.lang = pa.pa AS ca, d.lang = pb.pb AS cb
      |  FROM documents d JOIN pa USING (doc_id) JOIN pb USING (doc_id)),
      |agg AS (SELECT COUNT(*) AS n_pairs,
      |    CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_both,
      |    CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n10,
      |    CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n01
      |  FROM fl)
      |SELECT n_pairs, n_both, n10, n01,
      |  CASE WHEN n10 + n01 > 0 THEN
      |    ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
      |      / CAST(n10 + n01 AS DOUBLE), 6)
      |  END AS chi2
      |FROM agg""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Offline changepoint: binary-segmentation single split of daily revenue
  // --------------------------------------------------------------------------

  /** Single most likely break in the daily order-revenue series
    * ([[graft.ext.Series.binarySegmentSplit]] over integer-cent daily
    * sums): the split minimizing SSE_left + SSE_right, with segment means
    * in dollars and SSE magnitudes rescaled to 1e12 units so every output
    * stays inside ROUND's stable range.
    */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .cast("decimal(18,2)").as("cents"))
    graft.ext.Series.binarySegmentSplit(daily, "day", "cents")
      .select(col("split_day"), col("n_left"), col("n_right"),
        round(col("mean_left") / 100.0, 2).as("mean_left_usd"),
        round(col("mean_right") / 100.0, 2).as("mean_right_usd"),
        round(col("sse_full") / 1.0e12, 6).as("sse_full_e12"),
        round(col("sse_split") / 1.0e12, 6).as("sse_split_e12"),
        round(col("gain_share"), 6).as("gain_share"))
  }

  val changepointSql: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |pref AS (SELECT day, x,
      |    ROW_NUMBER() OVER (ORDER BY day) AS t,
      |    SUM(CAST(x AS HUGEINT)) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) OVER (ORDER BY day ROWS BETWEEN
      |      UNBOUNDED PRECEDING AND CURRENT ROW) AS s2,
      |    LEAD(day, 1) OVER (ORDER BY day) AS next_day
      |  FROM daily),
      |tot AS (SELECT MAX(t) AS n, MAX(s) AS sn, MAX(s2) AS s2n FROM pref),
      |cand AS (SELECT p.t, p.next_day, p.s, p.s2, tot.n, tot.sn, tot.s2n,
      |    (CAST(p.s2 AS DOUBLE)
      |       - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE) / CAST(p.t AS DOUBLE))
      |    + ((CAST(tot.s2n AS DOUBLE) - CAST(p.s2 AS DOUBLE))
      |       - (CAST(tot.sn AS DOUBLE) - CAST(p.s AS DOUBLE))
      |         * (CAST(tot.sn AS DOUBLE) - CAST(p.s AS DOUBLE))
      |         / (CAST(tot.n AS DOUBLE) - CAST(p.t AS DOUBLE))) AS cost
      |  FROM pref p CROSS JOIN tot WHERE p.t < tot.n),
      |best AS (SELECT * FROM cand ORDER BY cost, t LIMIT 1)
      |SELECT next_day AS split_day, CAST(t AS BIGINT) AS n_left,
      |  CAST(n - t AS BIGINT) AS n_right,
      |  ROUND(CAST(s AS DOUBLE) / CAST(t AS DOUBLE) / 100.0, 2)
      |    AS mean_left_usd,
      |  ROUND((CAST(sn AS DOUBLE) - CAST(s AS DOUBLE))
      |    / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) / 100.0, 2)
      |    AS mean_right_usd,
      |  ROUND((CAST(s2n AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
      |    / CAST(n AS DOUBLE)) / 1000000000000.0, 6) AS sse_full_e12,
      |  ROUND(cost / 1000000000000.0, 6) AS sse_split_e12,
      |  ROUND(1.0 - cost / (CAST(s2n AS DOUBLE) - CAST(sn AS DOUBLE)
      |    * CAST(sn AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS gain_share
      |FROM best""".stripMargin

  // --------------------------------------------------------------------------
  // SAX motifs of the daily revenue series
  // --------------------------------------------------------------------------

  /** SAX motif profile ([[graft.ext.Series.saxMotifs]], 7-day PAA frames,
    * 3-symbol words over the quartile alphabet) of daily order revenue —
    * does the series repeat weekly shapes?
    */
  def qSaxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .cast("decimal(18,2)").as("cents"))
    graft.ext.Series.saxMotifs(daily, "day", "cents", paaWidth = 7,
        wordLen = 3)
      .orderBy(col("n_occurrences").desc, col("word"))
  }

  val saxMotifsSql: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |base AS (SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS t
      |  FROM daily),
      |m AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM base),
      |paa AS (SELECT (t - 1) // 7 AS frame, SUM(x) AS fs, COUNT(*) AS fn
      |  FROM base GROUP BY 1),
      |z AS (SELECT frame,
      |    (CAST(fs AS DOUBLE) / CAST(fn AS DOUBLE)
      |      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS z
      |  FROM paa CROSS JOIN m),
      |sym AS (SELECT frame,
      |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
      |         WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS s
      |  FROM z),
      |words AS (SELECT s
      |    || LEAD(s, 1) OVER (ORDER BY frame)
      |    || LEAD(s, 2) OVER (ORDER BY frame) AS word
      |  FROM sym)
      |SELECT word, COUNT(*) AS n_occurrences FROM words
      |WHERE length(word) = 3 GROUP BY 1
      |ORDER BY n_occurrences DESC, word""".stripMargin

  // --------------------------------------------------------------------------
  // Interval concurrency: orders in flight
  // --------------------------------------------------------------------------

  /** Peak orders-in-flight per month ([[graft.ext.EventStats
    * .intervalConcurrency]]): each order is open from o_orderdate to its
    * last lineitem ship date; the +1/−1 day sweep reports every month's
    * maximum concurrency and first peak day.
    */
  def qMaxConcurrent(spark: SparkSession, dir: String): DataFrame = {
    // the synthetic generator draws o_orderdate and l_shipdate
    // independently, so an "order" can postdate its last shipment —
    // normalize each span to [least, greatest] before the sweep
    val spans = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("d2"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d1")),
        Seq("o_orderkey"))
      .select(least(col("d1"), col("d2")).as("start"),
        greatest(col("d1"), col("d2")).as("ship_end"))
    graft.ext.EventStats.intervalConcurrency(spans, "start", "ship_end")
  }

  val maxConcurrentSql: String =
    """WITH spans0 AS (SELECT l.l_orderkey,
      |    CAST(o.o_orderdate AS DATE) AS d1,
      |    MAX(CAST(l.l_shipdate AS DATE)) AS d2
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |spans AS (SELECT l_orderkey, LEAST(d1, d2) AS s,
      |    GREATEST(d1, d2) AS e FROM spans0),
      |ev AS (SELECT s AS day, 1 AS d FROM spans
      |  UNION ALL SELECT e + INTERVAL 1 DAY, -1 FROM spans),
      |net AS (SELECT day, CAST(SUM(d) AS BIGINT) AS net FROM ev GROUP BY 1),
      |open AS (SELECT day,
      |    SUM(net) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS open
      |  FROM net),
      |rk AS (SELECT strftime(day, '%Y-%m') AS month, day, open,
      |    ROW_NUMBER() OVER (PARTITION BY strftime(day, '%Y-%m')
      |      ORDER BY open DESC, day) AS rn
      |  FROM open)
      |SELECT month, CAST(open AS BIGINT) AS max_open, CAST(day AS DATE)
      |    AS peak_day
      |FROM rk WHERE rn = 1 ORDER BY month""".stripMargin

  // --------------------------------------------------------------------------
  // HLL set operations: repeat customers across years
  // --------------------------------------------------------------------------

  /** HLL union/intersection estimates vs exact for the customer sets
    * ordering in 1996 vs 1997 ([[graft.ext.Sketches.hllIntersectAudit]],
    * b=6): the register-max merge and the inclusion-exclusion intersection
    * a 100 TB overlap job would run on sketches alone.
    */
  def qHllIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
    graft.ext.Sketches.hllIntersectAudit(
        o.filter(col("yr") === 1996), o.filter(col("yr") === 1997),
        "o_custkey", b = 6)
      .select(col("m"), round(col("est_a"), 6).as("est_a"),
        round(col("est_b"), 6).as("est_b"),
        round(col("est_union"), 6).as("est_union"),
        round(col("est_intersect"), 6).as("est_intersect"),
        col("true_intersect"),
        round(col("jaccard_est"), 6).as("jaccard_est"),
        round(col("jaccard_true"), 6).as("jaccard_true"))
  }

  val hllIntersectSql: String = {
    // one register CTE chain per set; estimator = the q_hll_estimate math
    // (rho = 27 - bitlength(w) for b=6; 27 when w = 0)
    def regs(src: String, tag: String): String =
      s"""h_$tag AS (SELECT CAST(('0x' ||
        |      substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS h FROM $src),
        |g_$tag AS (SELECT h % 64 AS idx,
        |    MAX(CASE WHEN h // 64 = 0 THEN 27
        |      ELSE 27 - len(bin(h // 64)) END) AS mreg
        |  FROM h_$tag GROUP BY 1)""".stripMargin
    def est(tag: String): String =
      s"""z_$tag AS (SELECT SUM(power(2.0, -CAST(mreg AS DOUBLE))) AS zsum,
        |    CAST(SUM(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_empty
        |  FROM (SELECT sp.idx, COALESCE(g_$tag.mreg, 0) AS mreg
        |    FROM sp LEFT JOIN g_$tag ON sp.idx = g_$tag.idx)),
        |e_$tag AS (SELECT CASE
        |    WHEN 0.709 * (64.0 * 64.0) / zsum <= 160.0 AND v_empty > 0
        |      THEN 64.0 * ln(64.0 / CAST(v_empty AS DOUBLE))
        |    ELSE 0.709 * (64.0 * 64.0) / zsum END AS est
        |  FROM z_$tag)""".stripMargin
    s"""WITH a0 AS (SELECT o_custkey FROM orders
      |  WHERE year(o_orderdate) = 1996),
      |b0 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |sp AS (SELECT unnest(generate_series(0, 63)) AS idx),
      |${regs("a0", "a")},
      |${regs("b0", "b")},
      |g_u AS (SELECT idx, MAX(mreg) AS mreg FROM
      |  (SELECT * FROM g_a UNION ALL SELECT * FROM g_b) GROUP BY 1),
      |${est("a")},
      |${est("b")},
      |${est("u")},
      |ex AS (SELECT
      |    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM a0
      |       INTERSECT SELECT DISTINCT o_custkey FROM b0)) AS true_intersect,
      |    (SELECT COUNT(*) FROM (SELECT o_custkey FROM a0
      |       UNION SELECT o_custkey FROM b0)) AS true_union)
      |SELECT CAST(64 AS INT) AS m, ROUND(e_a.est, 6) AS est_a,
      |  ROUND(e_b.est, 6) AS est_b, ROUND(e_u.est, 6) AS est_union,
      |  ROUND(GREATEST(0.0, e_a.est + e_b.est - e_u.est), 6)
      |    AS est_intersect,
      |  CAST(ex.true_intersect AS BIGINT) AS true_intersect,
      |  ROUND(GREATEST(0.0, e_a.est + e_b.est - e_u.est) / e_u.est, 6)
      |    AS jaccard_est,
      |  CASE WHEN ex.true_union > 0
      |    THEN ROUND(CAST(ex.true_intersect AS DOUBLE)
      |      / CAST(ex.true_union AS DOUBLE), 6) END AS jaccard_true
      |FROM e_a CROSS JOIN e_b CROSS JOIN e_u CROSS JOIN ex""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Brier decomposition of the quality-score forecast
  // --------------------------------------------------------------------------

  /** Murphy decomposition of the hashed-linear quality score treated as a
    * forecast of the Gopher keep decision ([[graft.ext.Experiment
    * .brierDecomposition]], 20 bins): reliability / resolution /
    * uncertainty plus the within-bin variance gap — the readout that says
    * whether recalibrating the score (REL) or retraining it (RES) is the
    * lever. Forecasts enter at ROUND 6 on both engines.
    */
  def qBrierDecomp(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.TextQuality
    val docs = Tables.documents(spark, dir)
    val s = TextQuality.hashedLinearScore(docs, "doc_id", "text")
      .select(col("doc_id"), round(col("score"), 6).as("score"))
    val g = TextQuality.gopherSignals(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    graft.ext.Experiment.brierDecomposition(s.join(g, "doc_id"),
        "score", "keep", bins = 20)
      .select(col("n"), round(col("brier"), 6).as("brier"),
        round(col("reliability"), 6).as("reliability"),
        round(col("resolution"), 6).as("resolution"),
        round(col("uncertainty"), 6).as("uncertainty"),
        round(col("decomp_gap"), 6).as("decomp_gap"))
  }

  val brierDecompSql: String =
    s"""WITH ${Inputs.calibScoreKeepCtes},
      |rows0 AS (SELECT sc.score AS p,
      |    CASE WHEN g.keep THEN 1 ELSE 0 END AS o,
      |    CAST(LEAST(19, FLOOR(sc.score * 20)) AS INT) AS bin
      |  FROM sc JOIN g USING (doc_id)),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(o) AS BIGINT) AS son,
      |    SUM(CAST((p - CAST(o AS DOUBLE)) * (p - CAST(o AS DOUBLE))
      |      AS DECIMAL(27,12))) AS sbs
      |  FROM rows0),
      |gb AS (SELECT bin, COUNT(*) AS nk,
      |    SUM(CAST(p AS DECIMAL(27,12))) AS sp,
      |    CAST(SUM(o) AS BIGINT) AS so
      |  FROM rows0 GROUP BY 1),
      |terms AS (SELECT tot.n, tot.son, tot.sbs,
      |    SUM(CAST(CAST(nk AS DOUBLE) *
      |      ((CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE)
      |          - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE))
      |       * (CAST(sp AS DOUBLE) / CAST(nk AS DOUBLE)
      |          - CAST(so AS DOUBLE) / CAST(nk AS DOUBLE)))
      |      AS DECIMAL(28,12))) AS srel,
      |    SUM(CAST(CAST(nk AS DOUBLE) *
      |      ((CAST(so AS DOUBLE) / CAST(nk AS DOUBLE)
      |          - CAST(son AS DOUBLE) / CAST(n AS DOUBLE))
      |       * (CAST(so AS DOUBLE) / CAST(nk AS DOUBLE)
      |          - CAST(son AS DOUBLE) / CAST(n AS DOUBLE)))
      |      AS DECIMAL(28,12))) AS sres
      |  FROM gb CROSS JOIN tot GROUP BY 1, 2, 3)
      |SELECT n, ROUND(CAST(sbs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS brier,
      |  ROUND(CAST(srel AS DOUBLE) / CAST(n AS DOUBLE), 6) AS reliability,
      |  ROUND(CAST(sres AS DOUBLE) / CAST(n AS DOUBLE), 6) AS resolution,
      |  ROUND((CAST(son AS DOUBLE) / CAST(n AS DOUBLE))
      |    * (1.0 - CAST(son AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS uncertainty,
      |  ROUND(CAST(sbs AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(srel AS DOUBLE) / CAST(n AS DOUBLE)
      |       - CAST(sres AS DOUBLE) / CAST(n AS DOUBLE)
      |       + (CAST(son AS DOUBLE) / CAST(n AS DOUBLE))
      |         * (1.0 - CAST(son AS DOUBLE) / CAST(n AS DOUBLE))), 6)
      |    AS decomp_gap
      |FROM terms""".stripMargin

  // --------------------------------------------------------------------------
  // Quantile treatment effects
  // --------------------------------------------------------------------------

  /** Per-arm exact purchase-value quantiles via ONE distributed global
    * ranking ([[graft.ext.GlobalRank.groupedExactQuantiles]] — groups
    * contiguous in rank space, no per-arm single-task sort): the
    * quantile-level readout of the A/B split that q_ab_test's means
    * average away.
    */
  def qQte(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        when(graft.ext.Splits.hashBucket(col("user_id")) % 2 === 0,
          lit("A")).otherwise(lit("B")).as("arm"),
        round(col("value") * 1000000.0, 0).cast("long").as("vm"),
        col("user_id"))
    graft.ext.GlobalRank.groupedExactQuantiles(e, "arm", "vm",
        Seq("user_id"), probs = Seq(0.25, 0.5, 0.75, 0.9))
      .select(col("arm"), col("p"),
        round(col("value") / 1000000.0, 6).as("value"))
      .orderBy(col("arm"), col("p"))
  }

  val qteSql: String =
    """WITH e AS (SELECT
      |    CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      ::BIGINT % 100) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
      |    CAST(ROUND(value * 1000000.0, 0) AS BIGINT) AS vm,
      |    user_id
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT arm, COUNT(*) AS ng FROM e GROUP BY 1),
      |ps AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9] AS DOUBLE[]))
      |  AS p),
      |t AS (SELECT arm, p,
      |    GREATEST(1, CAST(CEIL(p * ng) AS BIGINT)) AS tr
      |  FROM g CROSS JOIN ps),
      |r AS (SELECT arm, vm,
      |    ROW_NUMBER() OVER (PARTITION BY arm ORDER BY vm, user_id) AS rn
      |  FROM e)
      |SELECT r.arm, t.p, ROUND(r.vm / 1000000.0, 6) AS value
      |FROM r JOIN t ON r.arm = t.arm AND r.rn = t.tr
      |ORDER BY r.arm, t.p""".stripMargin

  // --------------------------------------------------------------------------
  // Absorbing-Markov conversion probability
  // --------------------------------------------------------------------------

  /** Probability of reaching 'purchase' within 4 steps from each event
    * state, by value iteration over the empirical transition matrix
    * ([[graft.ext.AbsorbingMarkov.absorptionProbability]]) — the
    * all-paths completion of `q_funnel`'s hand-picked sequence. The oracle
    * unrolls the same 4 DECIMAL-pooled rounds.
    */
  def qAbsorbingMarkov(spark: SparkSession, dir: String): DataFrame =
    graft.ext.AbsorbingMarkov.absorptionProbability(
        Tables.events(spark, dir), "user_id", Seq("ts", "event_id"),
        "event_type", absorbing = "purchase", iterations = 4)
      .select(col("state"), col("n_out"),
        round(col("p_absorb"), 6).as("p_absorb"))
      .orderBy(col("state"))

  val absorbingMarkovSql: String = {
    def round_(k: Int): String =
      s"""g$k AS (SELECT tr.s AS state,
        |    CAST(SUM(CAST(p.p * tr.n_st AS DECIMAL(28,15))) AS DOUBLE)
        |      / o.n_s AS pn
        |  FROM tr JOIN p${k - 1} p ON tr.t = p.state
        |  JOIN outs o ON tr.s = o.s GROUP BY tr.s, o.n_s),
        |p$k AS (SELECT st.state, CASE WHEN st.state = 'purchase' THEN 1.0
        |    ELSE COALESCE(g$k.pn, 0.0) END AS p
        |  FROM st LEFT JOIN g$k ON st.state = g$k.state)""".stripMargin
    s"""WITH seq AS (SELECT user_id, event_type AS s,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t
      |  FROM events),
      |tr AS (SELECT s, t, COUNT(*) AS n_st FROM seq WHERE t IS NOT NULL
      |  GROUP BY 1, 2),
      |outs AS (SELECT s, CAST(SUM(n_st) AS BIGINT) AS n_s FROM tr
      |  GROUP BY 1),
      |st AS (SELECT DISTINCT event_type AS state FROM events),
      |p0 AS (SELECT state, CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0
      |    END AS p FROM st),
      |${round_(1)},
      |${round_(2)},
      |${round_(3)},
      |${round_(4)}
      |SELECT st.state, CAST(COALESCE(o.n_s, 0) AS BIGINT) AS n_out,
      |  ROUND(p4.p, 6) AS p_absorb
      |FROM st LEFT JOIN outs o ON st.state = o.s
      |JOIN p4 ON st.state = p4.state
      |ORDER BY st.state""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Entropy l-diversity
  // --------------------------------------------------------------------------

  /** Entropy ℓ-diversity of order priority within (nation, market-segment)
    * equivalence classes ([[graft.ext.Privacy.entropyLDiversity]]) — the
    * strict variant of the `q_k_anonymity` release audit: a class that is
    * 99% one priority passes distinct-ℓ but fails entropy-ℓ.
    */
  def qEntropyL(spark: SparkSession, dir: String): DataFrame = {
    val rec = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("c_custkey") === col("o_custkey"))
    graft.ext.Privacy.entropyLDiversity(rec,
        Seq(col("c_nationkey"), col("c_mktsegment")),
        col("o_orderpriority"))
      .select(col("__qi0").as("c_nationkey"),
        col("__qi1").as("c_mktsegment"),
        col("class_size"), col("l_diversity"),
        round(col("entropy"), 6).as("entropy"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  val entropyLSql: String =
    """WITH rec AS (SELECT c.c_nationkey, c.c_mktsegment,
      |    o.o_orderpriority AS v
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey),
      |pv AS (SELECT c_nationkey, c_mktsegment, v, COUNT(*) AS n_v
      |  FROM rec GROUP BY 1, 2, 3),
      |cls AS (SELECT c_nationkey, c_mktsegment,
      |    CAST(SUM(n_v) AS BIGINT) AS class_size,
      |    COUNT(*) AS l_diversity,
      |    SUM(CAST(n_v * LN(CAST(n_v AS DOUBLE)) AS DECIMAL(28,15))) AS s
      |  FROM pv GROUP BY 1, 2)
      |SELECT c_nationkey, c_mktsegment, class_size, l_diversity,
      |  ROUND(LN(CAST(class_size AS DOUBLE)) - CAST(s AS DOUBLE)
      |    / class_size, 6) AS entropy
      |FROM cls ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // Haar wavelet energy decomposition
  // --------------------------------------------------------------------------

  /** Haar energy shares of the first 64 ship days' revenue (integer cents,
    * [[graft.ext.Wavelet.haarEnergyShares]]): which time scale — 2-day
    * spikes through 64-day regimes — carries the variation that
    * q_periodogram (frequency) and q_changepoint (single break) each see
    * only a slice of.
    */
  def qHaarEnergy(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
        .as("cents"))
      .orderBy(col("day")).limit(64)
    // d2_sum is emitted as a DIGIT STRING: it is the suite's only 128-bit
    // integer readout, and decimal128 surfaces hash differently across
    // DuckDB/Arrow builds even when the values are identical (the r8
    // q_market_share lesson in reverse). The exact DECIMAL(38,0) arithmetic
    // stays internal; only the portable string crosses the oracle boundary.
    graft.ext.Wavelet.haarEnergyShares(daily, "day", "cents", levels = 6)
      .select(col("level"), col("n_coeffs"),
        col("d2_sum").cast("string").as("d2_sum"),
        round(col("energy_share"), 6).as("energy_share"))
      .orderBy(col("level"))
  }

  val haarEnergySql: String =
    """WITH daily AS (SELECT day, cents FROM (
      |    SELECT CAST(l_shipdate AS DATE) AS day,
      |      CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
      |        AS BIGINT) AS cents
      |    FROM lineitem GROUP BY 1 ORDER BY 1 LIMIT 64)),
      |s AS (SELECT list(cents ORDER BY day) AS x FROM daily),
      |p AS (SELECT list_transform(generate_series(0, 64), i ->
      |    CAST(COALESCE(list_sum(list_slice(x, 1, i)), 0) AS BIGINT)) AS p
      |  FROM s),
      |lv AS (SELECT l.level, p.p, CAST(pow(2, l.level) AS BIGINT) AS sz
      |  FROM p CROSS JOIN
      |    (SELECT unnest(generate_series(1, 6)) AS level) l),
      |blk AS (SELECT level, sz, p, bb.b FROM lv CROSS JOIN
      |    (SELECT unnest(generate_series(0, 31)) AS b) bb
      |  WHERE bb.b <= 64 // sz - 1),
      |d AS (SELECT level, sz,
      |    CAST((p[CAST(b*sz + sz//2 AS INT) + 1] - p[CAST(b*sz AS INT) + 1])
      |       - (p[CAST((b+1)*sz AS INT) + 1]
      |          - p[CAST(b*sz + sz//2 AS INT) + 1]) AS DECIMAL(38,0))
      |      AS dd
      |  FROM blk),
      |en AS (SELECT level, COUNT(*) AS n_coeffs,
      |    CAST(SUM(dd * dd) AS DECIMAL(38,0)) AS d2_sum,
      |    CAST(CAST(SUM(dd * dd) AS DECIMAL(38,0))
      |      * CAST(pow(2, 6 - level) AS BIGINT) AS DECIMAL(38,0)) AS scaled
      |  FROM d GROUP BY 1),
      |tot AS (SELECT CAST(SUM(scaled) AS DECIMAL(38,0)) AS t FROM en)
      |SELECT CAST(level AS BIGINT) AS level, n_coeffs,
      |  CAST(d2_sum AS VARCHAR) AS d2_sum,
      |  ROUND(CAST(scaled AS DOUBLE)
      |    / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS energy_share
      |FROM en ORDER BY level""".stripMargin

  // --------------------------------------------------------------------------
  // CMS heavy-change detection
  // --------------------------------------------------------------------------

  /** Sketch-diff change detection audit ([[graft.ext.Sketches
    * .countMinHeavyChangeAudit]]): the stream splits at its time midpoint,
    * each half gets an independent CMS (d=4, w=64), and the estimated
    * per-user activity change is compared against the exact change for the
    * true top-10 movers — the accuracy read before replacing exact two-
    * window counts with sketches.
    */
  def qHeavyChange(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Sketches.countMinHeavyChangeAudit(
      Tables.events(spark, dir).withColumn("tsm", unix_millis(col("ts"))),
      "user_id", "tsm", k = 10, depth = 4, width = 64)

  val heavyChangeSql: String = {
    def bucketOf(item: String): String =
      s"""('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
        |      CAST($item AS VARCHAR)), 1, 8))::BIGINT % 64""".stripMargin
    s"""WITH ev AS (SELECT user_id AS item, epoch_ms(ts) AS tsm FROM events),
      |mid AS (SELECT MIN(tsm) + CAST(FLOOR((MAX(tsm) - MIN(tsm)) / 2.0)
      |    AS BIGINT) AS mid FROM ev),
      |tagged AS (SELECT item, tsm <= (SELECT mid FROM mid) AS fh FROM ev),
      |exact AS (SELECT item,
      |    CAST(SUM(CASE WHEN fh THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
      |    CAST(SUM(CASE WHEN fh THEN 0 ELSE 1 END) AS BIGINT) AS n_second
      |  FROM tagged GROUP BY 1),
      |top AS (SELECT item, n_first, n_second,
      |    ABS(n_second - n_first) AS true_change
      |  FROM exact ORDER BY ABS(n_second - n_first) DESC, item LIMIT 10),
      |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |c1 AS (SELECT item, COUNT(*) AS cnt FROM tagged WHERE fh GROUP BY 1),
      |c2 AS (SELECT item, COUNT(*) AS cnt FROM tagged WHERE NOT fh
      |  GROUP BY 1),
      |sk1 AS (SELECT j, ${bucketOf("item")} AS bucket, SUM(cnt) AS bc
      |  FROM c1 CROSS JOIN js GROUP BY 1, 2),
      |sk2 AS (SELECT j, ${bucketOf("item")} AS bucket, SUM(cnt) AS bc
      |  FROM c2 CROSS JOIN js GROUP BY 1, 2),
      |pr AS (SELECT t.item, j, ${bucketOf("t.item")} AS bucket
      |  FROM top t CROSS JOIN js),
      |e1 AS (SELECT item, CAST(MIN(COALESCE(s.bc, 0)) AS BIGINT)
      |    AS est_first
      |  FROM pr LEFT JOIN sk1 s USING (j, bucket) GROUP BY 1),
      |e2 AS (SELECT item, CAST(MIN(COALESCE(s.bc, 0)) AS BIGINT)
      |    AS est_second
      |  FROM pr LEFT JOIN sk2 s USING (j, bucket) GROUP BY 1)
      |SELECT t.item, t.n_first, t.n_second,
      |  CAST(t.true_change AS BIGINT) AS true_change,
      |  e1.est_first, e2.est_second,
      |  ABS(e2.est_second - e1.est_first) AS est_change
      |FROM top t JOIN e1 USING (item) JOIN e2 USING (item)
      |ORDER BY true_change DESC, item""".stripMargin
  }

  // --------------------------------------------------------------------------
  // KMV set-operation sketches
  // --------------------------------------------------------------------------

  /** KMV k-minimum-values set-operation estimates for the 1996-vs-1997
    * customer sets ([[graft.ext.Kmv.setOpsAudit]], k=128) — the same
    * pairing as q_hll_intersect, adding what HLL registers cannot do: the
    * union sketch is a uniform sample of union-distinct elements, so
    * |A∩B|, |A\B| and |B\A| all get direct unbiased estimates instead of
    * inclusion-exclusion. The oracle replays hash, k-smallest selection,
    * tagging and every estimator formula.
    */
  def qKmvSetops(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
    graft.ext.Kmv.setOpsAudit(
      o.filter(col("yr") === 1996), o.filter(col("yr") === 1997),
      "o_custkey", k = 128)
  }

  val kmvSetopsSql: String = {
    def dv(h: String, n: String): String =
      s"(CAST($n AS DOUBLE) - 1.0) / (CAST($h AS DOUBLE) / 4294967296.0)"
    s"""WITH a0 AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
      |  FROM orders WHERE year(o_orderdate) = 1996),
      |b0 AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
      |  FROM orders WHERE year(o_orderdate) = 1997),
      |sa AS (SELECT key, ('0x' || substr(md5(key), 1, 8))::BIGINT AS h
      |  FROM a0 ORDER BY h, key LIMIT 128),
      |sb AS (SELECT key, ('0x' || substr(md5(key), 1, 8))::BIGINT AS h
      |  FROM b0 ORDER BY h, key LIMIT 128),
      |u AS (SELECT key, h FROM (SELECT DISTINCT key, h FROM
      |    (SELECT key, h FROM sa UNION ALL SELECT key, h FROM sb))
      |  ORDER BY h, key LIMIT 128),
      |tg AS (SELECT u.h,
      |    sa.key IS NOT NULL AS ina, sb.key IS NOT NULL AS inb
      |  FROM u LEFT JOIN sa ON u.key = sa.key
      |  LEFT JOIN sb ON u.key = sb.key),
      |es AS (SELECT MAX(h) AS hu, COUNT(*) AS nu,
      |    CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_both,
      |    CAST(SUM(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_only_a,
      |    CAST(SUM(CASE WHEN inb AND NOT ina THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c_only_b
      |  FROM tg),
      |ka AS (SELECT MAX(h) AS ha, COUNT(*) AS na FROM sa),
      |kb AS (SELECT MAX(h) AS hb, COUNT(*) AS nb FROM sb),
      |ex AS (SELECT
      |    (SELECT COUNT(*) FROM a0 WHERE key IN (SELECT key FROM b0))
      |      AS t_intersect,
      |    (SELECT COUNT(*) FROM a0 WHERE key NOT IN (SELECT key FROM b0))
      |      AS t_only_a,
      |    (SELECT COUNT(*) FROM b0 WHERE key NOT IN (SELECT key FROM a0))
      |      AS t_only_b)
      |SELECT CAST(128 AS BIGINT) AS k,
      |  ROUND(${dv("ka.ha", "ka.na")}, 6) AS est_a,
      |  ROUND(${dv("kb.hb", "kb.nb")}, 6) AS est_b,
      |  ROUND(${dv("es.hu", "es.nu")}, 6) AS est_union,
      |  ROUND(CAST(es.c_both AS DOUBLE) / es.nu
      |    * (${dv("es.hu", "es.nu")}), 6) AS est_intersect,
      |  ROUND(CAST(es.c_only_a AS DOUBLE) / es.nu
      |    * (${dv("es.hu", "es.nu")}), 6) AS est_only_a,
      |  ROUND(CAST(es.c_only_b AS DOUBLE) / es.nu
      |    * (${dv("es.hu", "es.nu")}), 6) AS est_only_b,
      |  CAST(ex.t_intersect AS BIGINT) AS true_intersect,
      |  CAST(ex.t_only_a AS BIGINT) AS true_only_a,
      |  CAST(ex.t_only_b AS BIGINT) AS true_only_b
      |FROM ka CROSS JOIN kb CROSS JOIN es CROSS JOIN ex""".stripMargin
  }

  // --------------------------------------------------------------------------
  // AMS F2 self-join-size estimation
  // --------------------------------------------------------------------------

  /** Self-join-size estimation from AMS/Count-Sketch registers
    * ([[graft.ext.Sketches.selfJoinSizeAudit]], d=5, w=64): the planner
    * primitive |events ⋈_user events| = Σ_u f(u)², estimated as the
    * median over sign-sketch rows of Σ_bucket (Σ ±f)² against the exact
    * second moment — the calibration run before sizing join outputs from
    * d·w counters alone.
    */
  def qSelfjoinF2(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Sketches.selfJoinSizeAudit(
      Tables.events(spark, dir), "user_id", depth = 5, width = 64)

  val selfjoinF2Sql: String =
    """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS item, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |ex AS (SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact FROM c),
      |js AS (SELECT unnest([0, 1, 2, 3, 4]) AS j),
      |sk AS (SELECT j,
      |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || item), 1, 8))
      |      ::BIGINT % 64 AS bucket,
      |    CAST(SUM(((('0x' || substr(md5('s:' || CAST(j AS VARCHAR) || ':'
      |      || item), 1, 8))::BIGINT % 2) * 2 - 1) * cnt) AS BIGINT) AS bc
      |  FROM c CROSS JOIN js GROUP BY 1, 2),
      |re AS (SELECT j, CAST(SUM(bc * bc) AS BIGINT) AS row_est
      |  FROM sk GROUP BY 1),
      |mn AS (SELECT list_sort(list(row_est))[3] AS f2_est FROM re)
      |SELECT CAST(5 AS BIGINT) AS depth, CAST(64 AS BIGINT) AS width,
      |  ex.f2_exact, mn.f2_est,
      |  ROUND(CAST(mn.f2_est - ex.f2_exact AS DOUBLE)
      |    / CAST(ex.f2_exact AS DOUBLE), 6) AS rel_err
      |FROM ex CROSS JOIN mn""".stripMargin

  // --------------------------------------------------------------------------
  // HDR log-linear quantiles + Luby MIS (batch 8)
  // --------------------------------------------------------------------------

  /** Log-linear (HdrHistogram/DDSketch-family) quantile sketch audit on
    * lineitem prices ([[graft.ext.HdrHistogram.quantileAudit]], k = 16):
    * sketch estimate vs the exact percentile_disc value with signed
    * relative error. The bucketing is all-integer (floor-log2 via
    * length(bin(v))), so both engines agree bit-for-bit.
    */
  def qHdrQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.ext.HdrHistogram.quantileAudit(
        Tables.lineitem(spark, dir)
          .select(expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").as("price")),
        "price", k = 16, percents = Seq(50, 90, 99))
      .orderBy(col("pct"))

  val hdrQuantilesSql: String =
    """WITH vals AS (SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
      |  FROM lineitem WHERE CAST(FLOOR(l_extendedprice) AS BIGINT) >= 1),
      |b1 AS (SELECT e, ((v - p2) * 16) // p2 AS sub FROM
      |  (SELECT v, length(bin(v)) - 1 AS e,
      |     CAST(POWER(2, length(bin(v)) - 1) AS BIGINT) AS p2 FROM vals)),
      |g AS (SELECT e, sub, COUNT(*) AS cnt FROM b1 GROUP BY 1, 2),
      |g3 AS (SELECT e, sub, cnt, p2 + (sub * p2) // 16 AS lo,
      |    p2 + ((sub + 1) * p2) // 16 AS hi
      |  FROM (SELECT e, sub, cnt, CAST(POWER(2, e) AS BIGINT) AS p2 FROM g)),
      |c AS (SELECT cnt, lo, hi, SUM(cnt) OVER (ORDER BY e, sub
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM g3),
      |nn AS (SELECT COUNT(*) AS n FROM vals),
      |t AS (SELECT pct, nn.n, (nn.n * pct + 99) // 100 AS target
      |  FROM (VALUES (50), (90), (99)) p(pct) CROSS JOIN nn),
      |est AS (SELECT pct, n, target, (lo + hi) // 2 AS est FROM c JOIN t
      |  ON cum >= target AND cum - cnt < target),
      |rk AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM vals),
      |ex AS (SELECT t.pct AS xpct, rk.v AS exact FROM rk
      |  JOIN t ON rk.rn = t.target)
      |SELECT est.pct, est.n, est.est, ex.exact,
      |  ROUND(CAST(est.est - ex.exact AS DOUBLE) / CAST(ex.exact AS DOUBLE),
      |    6) AS rel_err
      |FROM est JOIN ex ON est.pct = ex.xpct ORDER BY est.pct""".stripMargin

  // --------------------------------------------------------------------------
  // t-closeness + k-truss (batch 9)
  // --------------------------------------------------------------------------

  /** t-closeness release audit ([[graft.ext.Privacy.tCloseness]], t = 0.15)
    * over the same (nation, mktsegment) → order-priority surface as
    * `q_entropy_l`: ordered-EMD distance between each class's priority
    * distribution and the global one. All-integer cumulative differences;
    * one double division at the readout.
    */
  def qTCloseness(spark: SparkSession, dir: String): DataFrame = {
    val rec = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
    graft.ext.Privacy.tCloseness(rec,
        Seq(col("c_nationkey"), col("c_mktsegment")),
        col("o_orderpriority"), t = 0.15)
      .select(col("__qi0").as("c_nationkey"),
        col("__qi1").as("c_mktsegment"), col("class_size"),
        round(col("emd"), 6).as("emd"), col("t_at_risk"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  val tClosenessSql: String =
    """WITH rec AS (SELECT c.c_nationkey, c.c_mktsegment,
      |    o.o_orderpriority AS v
      |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey),
      |cv AS (SELECT c_nationkey, c_mktsegment, v, COUNT(*) AS c_v
      |  FROM rec GROUP BY 1, 2, 3),
      |cls AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_c
      |  FROM rec GROUP BY 1, 2),
      |gv AS (SELECT v, COUNT(*) AS g_v FROM rec GROUP BY 1),
      |gtot AS (SELECT CAST(SUM(g_v) AS BIGINT) AS n_total,
      |    COUNT(*) AS m FROM gv),
      |dense AS (SELECT cls.c_nationkey, cls.c_mktsegment, gv.v, cls.n_c,
      |    gv.g_v, gtot.n_total, gtot.m, COALESCE(cv.c_v, 0) AS c_v
      |  FROM cls CROSS JOIN gv CROSS JOIN gtot
      |  LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
      |    AND cv.c_mktsegment = cls.c_mktsegment AND cv.v = gv.v),
      |cum AS (SELECT c_nationkey, c_mktsegment, n_c, n_total, m,
      |    SUM(c_v * n_total - g_v * n_c) OVER (
      |      PARTITION BY c_nationkey, c_mktsegment ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM dense)
      |SELECT c_nationkey, c_mktsegment,
      |  CAST(MAX(n_c) AS BIGINT) AS class_size,
      |  ROUND(CAST(SUM(ABS(cum)) AS DOUBLE) /
      |    CAST(MAX(n_c) * MAX(n_total) * (MAX(m) - 1) AS DOUBLE), 6) AS emd,
      |  CAST(SUM(ABS(cum)) AS DOUBLE) /
      |    CAST(MAX(n_c) * MAX(n_total) * (MAX(m) - 1) AS DOUBLE)
      |    > 0.15 AS t_at_risk
      |FROM cum GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // Markov removal-effect attribution (batch 12)
  // --------------------------------------------------------------------------

  /** Markov removal-effect channel attribution over the event log
    * ([[graft.ext.AbsorbingMarkov.removalEffects]], 4 value-iteration
    * rounds): ablate each touch channel (p pinned 0), read the drop in
    * start-weighted conversion, normalize the effects into credits. The
    * oracle unrolls all five chains (baseline + 4 ablations) with the
    * module's DECIMAL-pooling discipline.
    */
  def qMarkovAttribution(spark: SparkSession, dir: String): DataFrame =
    graft.ext.AbsorbingMarkov.removalEffects(Tables.events(spark, dir),
        "user_id", Seq("ts", "event_id"), "event_type",
        absorbing = "purchase",
        removable = Seq("click", "error", "signup", "view"),
        iterations = 4)
      .select(col("channel"), round(col("conv_base"), 6).as("conv_base"),
        round(col("conv_removed"), 6).as("conv_removed"),
        round(col("removal_effect"), 6).as("removal_effect"),
        round(col("credit"), 6).as("credit"))
      .orderBy(col("channel"))

  val markovAttributionSql: String = {
    val channels = Seq("click", "error", "signup", "view")
    def pin(v: String, inner: String): String = v match {
      case "base" => s"CASE WHEN st.state = 'purchase' THEN 1.0" +
        s" ELSE $inner END"
      case c => s"CASE WHEN st.state = 'purchase' THEN 1.0" +
        s" WHEN st.state = '$c' THEN 0.0 ELSE $inner END"
    }
    def chain(v: String): String = {
      val rounds = (1 to 4).map { k =>
        s"""g${k}_$v AS (SELECT tr.s AS state,
           |    CAST(SUM(CAST(p.p * tr.n_st AS DECIMAL(28,15))) AS DOUBLE)
           |      / o.n_s AS pn
           |  FROM tr JOIN p${k - 1}_$v p ON tr.t = p.state
           |  JOIN outs o ON tr.s = o.s GROUP BY tr.s, o.n_s),
           |p${k}_$v AS (SELECT st.state,
           |    ${pin(v, s"COALESCE(g.pn, 0.0)")} AS p
           |  FROM st LEFT JOIN g${k}_$v g ON st.state = g.state)"""
          .stripMargin
      }.mkString(",\n")
      s"""p0_$v AS (SELECT st.state, ${pin(v, "0.0")} AS p FROM st),
         |$rounds,
         |conv_$v AS (SELECT
         |    CAST(SUM(CAST(p.p * sx.n_start AS DECIMAL(28,15))) AS DOUBLE)
         |    / CAST(SUM(sx.n_start) AS DOUBLE) AS conv
         |  FROM starts sx JOIN p4_$v p ON sx.state = p.state)""".stripMargin
    }
    val chains = ("base" +: channels).map(chain).mkString(",\n")
    val rows = channels.map { c =>
      s"SELECT '$c' AS channel, b.conv AS conv_base, r.conv AS conv_removed," +
        s" 1.0 - r.conv / b.conv AS removal_effect" +
        s" FROM conv_base b CROSS JOIN conv_$c r"
    }.mkString("\n  UNION ALL ")
    s"""WITH seq AS (SELECT user_id, event_type AS s,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS t,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |tr AS (SELECT s, t, COUNT(*) AS n_st FROM seq WHERE t IS NOT NULL
       |  GROUP BY 1, 2),
       |outs AS (SELECT s, CAST(SUM(n_st) AS BIGINT) AS n_s FROM tr
       |  GROUP BY 1),
       |st AS (SELECT DISTINCT event_type AS state FROM events),
       |starts AS (SELECT s AS state, COUNT(*) AS n_start FROM seq
       |  WHERE rn = 1 GROUP BY 1),
       |$chains,
       |eff AS ($rows),
       |tot AS (SELECT SUM(CAST(removal_effect AS DECIMAL(28,15)))
       |    AS re_sum FROM eff)
       |SELECT channel, ROUND(conv_base, 6) AS conv_base,
       |  ROUND(conv_removed, 6) AS conv_removed,
       |  ROUND(removal_effect, 6) AS removal_effect,
       |  ROUND(CASE WHEN CAST(re_sum AS DOUBLE) = 0.0 THEN NULL
       |    ELSE removal_effect / CAST(re_sum AS DOUBLE) END, 6) AS credit
       |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  // --------------------------------------------------------------------------
  // V-optimal histogram (batch 12)
  // --------------------------------------------------------------------------

  /** 6-bucket V-optimal histogram of lineitem prices over a 64-cell
    * equi-width pre-bucketing ([[graft.ext.VOptimal.histogram]]): the
    * minimum-SSE boundaries a cost-based optimizer's statistics build
    * wants. The oracle replays the integer moment prefixes, all five DP
    * levels with the two-step argmin, and the relational backtrack.
    */
  def qVoptimal(spark: SparkSession, dir: String): DataFrame =
    graft.ext.VOptimal.histogram(
      Tables.lineitem(spark, dir)
        .select(expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").as("price")),
      "price", cells = 64, buckets = 6)

  val voptimalSql: String = {
    def segd(i: String, k: String): String =
      s"CAST(CAST($i.ps2 - $k.ps2 AS DECIMAL(38,0)) * ($i.pn - $k.pn) - " +
        s"CAST($i.ps1 - $k.ps1 AS DECIMAL(38,0)) * ($i.ps1 - $k.ps1)" +
        s" AS DOUBLE) / CAST($i.pn - $k.pn AS DOUBLE)"
    val levels = (2 to 6).map { j =>
      s"""cand$j AS (SELECT pi.idx AS i, d.i AS k,
         |    d.cost + (${segd("pi", "pk")}) AS cost
         |  FROM dp${j - 1} d JOIN pres pk ON pk.idx = d.i
         |  JOIN pre pi ON pi.idx > d.i),
         |mins$j AS (SELECT i, MIN(cost) AS mcost FROM cand$j GROUP BY 1),
         |dp$j AS MATERIALIZED (SELECT c.i, MIN(c.cost) AS cost,
         |    MIN(c.k) AS k
         |  FROM cand$j c JOIN mins$j m ON c.i = m.i AND c.cost = m.mcost
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val backtrack = (5 to 1 by -1).map { j =>
      s"bt$j AS (SELECT $j AS j, d.i, d.k FROM dp$j d" +
        s" JOIN bt${j + 1} b ON d.i = b.k)"
    }.mkString(",\n")
    val unions = (1 to 6).map(j => s"SELECT j, i, k FROM bt$j")
      .mkString(" UNION ALL ")
    s"""WITH vals AS (SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
       |  FROM lineitem),
       |mm AS (SELECT MIN(v) AS minv, MAX(v) AS maxv FROM vals),
       |cells0 AS (SELECT ((v - minv) * 64) // (maxv - minv + 1) AS cell,
       |    COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS s1,
       |    CAST(SUM(v * v) AS BIGINT) AS s2
       |  FROM vals CROSS JOIN mm GROUP BY 1),
       |pre AS MATERIALIZED (SELECT
       |    CAST(ROW_NUMBER() OVER (ORDER BY cell) - 1 AS BIGINT) AS idx,
       |    cell, CAST(SUM(cnt) OVER w AS BIGINT) AS pn,
       |    CAST(SUM(s1) OVER w AS BIGINT) AS ps1,
       |    CAST(SUM(s2) OVER w AS BIGINT) AS ps2
       |  FROM cells0 WINDOW w AS (ORDER BY cell
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |pres AS MATERIALIZED (SELECT idx, pn, ps1, ps2 FROM pre
       |  UNION ALL SELECT CAST(-1 AS BIGINT), 0, 0, 0),
       |dp1 AS MATERIALIZED (SELECT p.idx AS i,
       |    CAST(CAST(p.ps2 - 0 AS DECIMAL(38,0)) * (p.pn - 0) -
       |      CAST(p.ps1 - 0 AS DECIMAL(38,0)) * (p.ps1 - 0)
       |      AS DOUBLE) / CAST(p.pn - 0 AS DOUBLE) AS cost,
       |    CAST(-1 AS BIGINT) AS k
       |  FROM pre p),
       |$levels,
       |li AS (SELECT MAX(idx) AS li FROM pre),
       |bt6 AS (SELECT 6 AS j, d.i, d.k FROM dp6 d JOIN li ON d.i = li.li),
       |$backtrack,
       |ranges AS ($unions)
       |SELECT r.j AS bucket, lo.cell AS lo_cell, pi.cell AS hi_cell,
       |  pi.pn - pk.pn AS n_rows,
       |  ROUND(${segd("pi", "pk")}, 2) AS sse
       |FROM ranges r JOIN pres pk ON pk.idx = r.k
       |JOIN pre pi ON pi.idx = r.i
       |JOIN pre lo ON lo.idx = r.k + 1
       |ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------------------
  // Persistent-items audit (batch 17)
  // --------------------------------------------------------------------------

  /** Persistence × intensity quadrants of customers over order quarters
    * ([[graft.ext.EventStats.persistenceQuadrants]], persistence ≥ 0.25,
    * ≥ 2 orders per active quarter): the loyal-but-light vs bursty-heavy
    * separation a frequency sketch cannot read. All-integer quadrant
    * splits; one double division per average.
    */
  def qPersistence(spark: SparkSession, dir: String): DataFrame =
    graft.ext.EventStats.persistenceQuadrants(
      Tables.orders(spark, dir)
        .select(col("o_custkey"),
          expr("CAST(date_trunc('quarter', CAST(o_orderdate AS DATE))" +
            " AS DATE)").as("qt")),
      col("o_custkey"), col("qt"), persistMin = 0.25, perWindowMin = 2)

  val persistenceSql: String =
    """WITH grain AS (SELECT o_custkey AS ent,
      |    CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
      |      AS win
      |  FROM orders),
      |pw AS (SELECT ent, win, COUNT(*) AS n_in_win FROM grain GROUP BY 1, 2),
      |pe AS (SELECT ent, COUNT(*) AS windows_active,
      |    CAST(SUM(n_in_win) AS BIGINT) AS n_events FROM pw GROUP BY 1),
      |tw AS (SELECT COUNT(DISTINCT win) AS total_windows FROM grain),
      |cls AS (SELECT ent, windows_active, n_events, total_windows,
      |    windows_active * 100 >= total_windows * 25 AS persistent,
      |    n_events >= windows_active * 2 AS intense
      |  FROM pe CROSS JOIN tw)
      |SELECT (CASE WHEN persistent THEN 'persistent' ELSE 'transient' END
      |    || '_' || CASE WHEN intense THEN 'heavy' ELSE 'light' END)
      |    AS quadrant,
      |  COUNT(*) AS n_entities, CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  ROUND(CAST(SUM(windows_active) AS DOUBLE) /
      |    CAST(COUNT(*) * MAX(total_windows) AS DOUBLE), 6)
      |    AS avg_persistence,
      |  ROUND(CAST(SUM(n_events) AS DOUBLE) /
      |    CAST(SUM(windows_active) AS DOUBLE), 6) AS avg_per_window
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_profile_docs", qProfileDocs, profileDocsSql),
    QuerySpec("q_equidepth_price", qEquidepthPrice, equidepthPriceSql),
    QuerySpec("q_numeric_corr", qNumericCorr, numericCorrSql),
    QuerySpec("q_exact_quantiles", qExactQuantiles, exactQuantilesSql),
    QuerySpec("q_price_pctrank", qPricePctRank, pricePctRankSql),
    QuerySpec("q_fold_variance", qFoldVariance, foldVarianceSql),
    QuerySpec("q_transition_matrix", qTransitionMatrix, transitionMatrixSql),
    QuerySpec("q_rolling_7d", qRolling7d, rolling7dSql),
    QuerySpec("q_heavy_hitters", qHeavyHitters, heavyHittersSql),
    QuerySpec("q_session_funnel", qSessionFunnel, sessionFunnelSql),
    QuerySpec("q_ab_test", qAbTest, abTestSql),
    QuerySpec("q_event_hourly", qEventHourly, eventHourlySql),
    QuerySpec("q_sliding_hourly", qSlidingHourly, slidingHourlySql),
    QuerySpec("q_coverage_time", qCoverageTime, coverageTimeSql),
    QuerySpec("q_sessionize", qSessionize, sessionizeSql),
    QuerySpec("q_sessionize_chunked", qSessionizeChunked, sessionizeSql),
    QuerySpec("q_event_props", qEventProps, eventPropsSql),
    QuerySpec("q_funnel", qFunnel, funnelSql),
    QuerySpec("q_funnel_windowed", qFunnelWindowed, funnelWindowedSql),
    QuerySpec("q_cohort_retention", qCohortRetention, cohortRetentionSql),
    QuerySpec("q_anomaly_daily", qAnomalyDaily, anomalyDailySql),
    QuerySpec("q_burstiness", qBurstiness, burstinessSql),
    QuerySpec("q_user_entropy", qUserEntropy, userEntropySql),
    QuerySpec("q_attribution", qAttribution, attributionSql),
    QuerySpec("q_mad_outliers", qMadOutliers, madOutliersSql),
    QuerySpec("q_survival", qSurvival, survivalSql),
    QuerySpec("q_top_paths", qTopPaths, topPathsSql),
    QuerySpec("q_rolling_dau", qRollingDau, rollingDauSql),
    QuerySpec("q_seasonal_baseline", qSeasonalBaseline, seasonalBaselineSql),
    QuerySpec("q_trimmed_mean", qTrimmedMean, trimmedMeanSql),
    QuerySpec("q_funnel_latency", qFunnelLatency, funnelLatencySql),
    QuerySpec("q_theil_sen", qTheilSen, theilSenSql),
    QuerySpec("q_return_rate_ci", qReturnRateCi, returnRateCiSql),
    QuerySpec("q_price_volatility", qPriceVolatility, priceVolatilitySql),
    QuerySpec("q_active_lifetime", qActiveLifetime, activeLifetimeSql),
    QuerySpec("q_discount_uplift", qDiscountUplift, discountUpliftSql),
    QuerySpec("q_session_conversion", qSessionConversion, sessionConversionSql),
    QuerySpec("q_bootstrap_ci", qBootstrapCi, bootstrapCiSql),
    QuerySpec("q_ewma_daily", qEwmaDaily, ewmaDailySql),
    QuerySpec("q_ks_drift", qKsDrift, ksDriftSql),
    QuerySpec("q_psi_price", qPsiPrice, psiPriceSql),
    QuerySpec("q_mutual_info", qMutualInfo, mutualInfoSql),
    QuerySpec("q_brand_elasticity", qBrandElasticity, brandElasticitySql),
    QuerySpec("q_cuped", qCuped, cupedSql),
    QuerySpec("q_srm", qSrm, srmSql),
    QuerySpec("q_mwu_drift", qMwuDrift, mwuDriftSql),
    QuerySpec("q_w1_drift", qW1Drift, w1DriftSql),
    QuerySpec("q_acf", qAcf, acfSql),
    QuerySpec("q_brand_auc", qBrandAuc, brandAucSql),
    QuerySpec("q_bh_fdr", qBhFdr, bhFdrSql),
    QuerySpec("q_k_anonymity", qKAnonymity, kAnonymitySql),
    QuerySpec("q_benford", qBenford, benfordSql),
    QuerySpec("q_power_mde", qPowerMde, powerMdeSql),
    QuerySpec("q_conformal", qConformal, conformalSql),
    QuerySpec("q_eb_shrinkage", qEbShrinkage, ebShrinkageSql),
    QuerySpec("q_cusum", qCusum, cusumSql),
    QuerySpec("q_always_valid", qAlwaysValid, alwaysValidSql),
    QuerySpec("q_markov2", qMarkov2, markov2Sql),
    QuerySpec("q_seasonal_strength", qSeasonalStrength, seasonalStrengthSql),
    QuerySpec("q_mann_kendall", qMannKendall, mannKendallSql),
    QuerySpec("q_kripp_alpha", qKrippAlpha, krippAlphaSql),
    QuerySpec("q_winsorized", qWinsorized, winsorizedSql),
    QuerySpec("q_ljung_box", qLjungBox, ljungBoxSql),
    QuerySpec("q_runs_test", qRunsTest, runsTestSql),
    QuerySpec("q_holt_linear", qHoltLinear, holtLinearSql),
    QuerySpec("q_best_split", qBestSplit, bestSplitSql),
    QuerySpec("q_weighted_median", qWeightedMedian, weightedMedianSql),
    QuerySpec("q_isotonic", qIsotonic, isotonicSql),
    QuerySpec("q_simpson_paradox", qSimpsonParadox, simpsonParadoxSql),
    QuerySpec("q_xcorr", qXcorr, xcorrSql),
    QuerySpec("q_entropy_rate", qEntropyRate, entropyRateSql),
    QuerySpec("q_stickiness", qStickiness, stickinessSql),
    QuerySpec("q_ridge_price", qRidgePrice, ridgePriceSql),
    QuerySpec("q_diff_in_diff", qDiffInDiff, diffInDiffSql),
    QuerySpec("q_adstock", qAdstock, adstockSql),
    QuerySpec("q_peaks", qPeaks, peaksSql),
    QuerySpec("q_qq_plot", qQqPlot, qqPlotSql),
    QuerySpec("q_capture_recapture", qCaptureRecapture, captureRecaptureSql),
    QuerySpec("q_overdispersion", qOverdispersion, overdispersionSql),
    QuerySpec("q_jackknife_se", qJackknifeSe, jackknifeSeSql),
    QuerySpec("q_spearman", qSpearman, spearmanSql),
    QuerySpec("q_cramers_v", qCramersV, cramersVSql),
    QuerySpec("q_delta_method", qDeltaMethod, deltaMethodSql),
    QuerySpec("q_periodogram", qPeriodogram, periodogramSql),
    QuerySpec("q_freshness", qFreshness, freshnessSql),
    QuerySpec("q_cms_sketch", qCmsSketch, cmsSketchSql),
    QuerySpec("q_hll_estimate", qHllEstimate, hllEstimateSql),
    QuerySpec("q_welch_ttest", qWelchTtest, welchTtestSql),
    QuerySpec("q_gumbel_levels", qGumbelLevels, gumbelLevelsSql),
    QuerySpec("q_hll_grouped", qHllGrouped, hllGroupedSql),
    QuerySpec("q_ucb_scores", qUcbScores, ucbScoresSql),
    QuerySpec("q_dp_sensitivity", qDpSensitivity, dpSensitivitySql),
    QuerySpec("q_post_stratified", qPostStratified, postStratifiedSql),
    QuerySpec("q_tail_dependence", qTailDependence, tailDependenceSql),
    QuerySpec("q_naive_backtest", qNaiveBacktest, naiveBacktestSql),
    QuerySpec("q_hist_quantiles", qHistQuantiles, histQuantilesSql),
    QuerySpec("q_mantel_haenszel", qMantelHaenszel, mantelHaenszelSql),
    QuerySpec("q_permutation_test", qPermutationTest, permutationTestSql),
    QuerySpec("q_mcnemar", qMcnemar, mcnemarSql),
    QuerySpec("q_bloom_audit", qBloomAudit, bloomAuditSql),
    QuerySpec("q_seq_patterns", qSeqPatterns, seqPatternsSql),
    QuerySpec("q_theils_u", qTheilsU, theilsUSql),
    QuerySpec("q_brier_decomp", qBrierDecomp, brierDecompSql),
    QuerySpec("q_qte", qQte, qteSql),
    QuerySpec("q_changepoint", qChangepoint, changepointSql),
    QuerySpec("q_sax_motifs", qSaxMotifs, saxMotifsSql),
    QuerySpec("q_max_concurrent", qMaxConcurrent, maxConcurrentSql),
    QuerySpec("q_hll_intersect", qHllIntersect, hllIntersectSql),
    QuerySpec("q_absorbing_markov", qAbsorbingMarkov, absorbingMarkovSql),
    QuerySpec("q_entropy_l", qEntropyL, entropyLSql),
    QuerySpec("q_haar_energy", qHaarEnergy, haarEnergySql),
    QuerySpec("q_heavy_change", qHeavyChange, heavyChangeSql),
    QuerySpec("q_kmv_setops", qKmvSetops, kmvSetopsSql),
    QuerySpec("q_selfjoin_f2", qSelfjoinF2, selfjoinF2Sql),
    QuerySpec("q_hdr_quantiles", qHdrQuantiles, hdrQuantilesSql),
    QuerySpec("q_t_closeness", qTCloseness, tClosenessSql),
    QuerySpec("q_markov_attribution", qMarkovAttribution, markovAttributionSql),
    QuerySpec("q_voptimal", qVoptimal, voptimalSql),
    QuerySpec("q_persistence", qPersistence, persistenceSql),
  )
}
