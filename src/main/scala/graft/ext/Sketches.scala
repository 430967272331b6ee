package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Count-Min Sketch — the fixed-memory frequency oracle (Cormode &
  * Muthukrishnan, J. Algorithms 2005): d hash rows × w buckets of counters;
  * an item's estimate is the MIN over its d bucket counters, which can only
  * OVER-estimate (collisions add, never subtract) — `est ≥ true` always,
  * `est ≤ true + εN` with probability 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
  * Complements the engine's existing deterministic heavy-hitter surface
  * (`SpaceSavingAggregator`): SpaceSaving tracks the top-k identities; CMS
  * answers point frequency queries for ANY item in O(d) from O(d·w) memory —
  * what a 100 TB pipeline ships to a coordinator instead of a full item
  * histogram.
  *
  * Hashes are md5-prefix derived ([[Dedup]]'s portable-hash idiom) so the
  * DuckDB oracle replays the exact bucket assignment:
  * `bucket_j(x) = conv(substr(md5(j||':'||x),1,8),16,10) % w`.
  *
  * Scale shape: counts are reduced per item FIRST (map-side combined
  * groupBy), so the d-way explode runs over the item table, not the raw
  * scan; the sketch itself is d·w rows regardless of scale; probes join the
  * broadcast sketch.
  */
object Sketches {

  private[graft] def bucket(j: org.apache.spark.sql.Column,
                            item: org.apache.spark.sql.Column, width: Int) =
    conv(substring(md5(concat(j.cast("string"), lit(":"),
      item.cast("string"))), 1, 8), 16, 10).cast("long") % width

  /** Build the d×w sketch from an item column: one row per (hash row j,
    * bucket) with the summed count. */
  def countMinSketch(df: DataFrame, itemCol: String,
                     depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape d=$depth w=$width")
    val counts = df.groupBy(col(itemCol).as("item")).agg(count(lit(1)).as("cnt"))
    counts
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("item"), col("cnt"))
      .groupBy(col("j"), bucket(col("j"), col("item"), width).as("bucket"))
      .agg(sum(col("cnt")).as("bucket_cnt"))
  }

  /** Self-join-size (second frequency moment, F2) audit from AMS/Count-
    * Sketch registers (Alon-Matias-Szegedy, STOC'96; Charikar et al.'s
    * bucketed fast variant): |R ⋈_key R| = Σ_key f(key)² — the query-
    * planner cardinality primitive — estimated per hash row as
    * Σ_bucket (Σ_item ±f(item))² with md5-derived random signs, then the
    * MEDIAN over the d rows. The signs make each row UNBIASED with
    * variance ≈ 2·F2²/width, which is why this sketch (and not a plain
    * CMS inner product, whose error scales with F1² and drowns any
    * non-heavy-hitter corpus) is the one planners actually use for
    * join-size estimation. This audit is the calibration run before
    * trusting d·w counters to size join outputs at corpus scale.
    *
    * Exactness: frequencies, signed bucket sums and squared sums are
    * exact longs; the median of d longs is element (d+1)/2 of the sorted
    * list (d odd required); rel_err is the single double division.
    * Output one row: (depth, width, f2_exact, f2_est, rel_err).
    *
    * Scale shape: one (item) count aggregate (map-side partials absorb
    * hot keys), then the d-way explode groups into d·w register rows —
    * the corpus never moves again; exact and estimate read the same
    * counts table once via a localCheckpoint.
    */
  def selfJoinSizeAudit(df: DataFrame, itemCol: String,
                        depth: Int = 5, width: Int = 64): DataFrame = {
    require(depth >= 1 && depth % 2 == 1 && width >= 2,
      s"need odd depth >= 1 and width >= 2, got d=$depth w=$width")
    val counts = Materialize(df.groupBy(col(itemCol).cast("string").as("item"))
      .agg(count(lit(1)).as("cnt"))).df // exact moment + sketch both read it
    val exact = counts
      .agg(sum(col("cnt") * col("cnt")).cast("long").as("f2_exact"))
    val sign = (conv(substring(md5(concat(lit("s:"),
      col("j").cast("string"), lit(":"), col("item"))), 1, 8), 16, 10)
      .cast("long") % 2) * 2 - 1
    val est = counts
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("item"), col("cnt"))
      .groupBy(col("j"), bucket(col("j"), col("item"), width).as("bucket"))
      .agg(sum(sign * col("cnt")).as("bc"))
      .groupBy(col("j"))
      .agg(sum(col("bc") * col("bc")).cast("long").as("row_est"))
      .agg(element_at(sort_array(collect_list(col("row_est"))),
        (depth + 1) / 2).as("f2_est"))
    exact.crossJoin(est)
      .select(lit(depth.toLong).as("depth"), lit(width.toLong).as("width"),
        col("f2_exact"), col("f2_est"),
        round((col("f2_est") - col("f2_exact")).cast("double") /
          col("f2_exact").cast("double"), 6).as("rel_err"))
  }

  /** Point-query the sketch for the true top-k items and report the
    * overestimate — the accuracy audit a pipeline runs before trusting the
    * sketch at full scale. Output per item (true-count desc, item asc):
    * (item, true_cnt, cms_estimate, overestimate ≥ 0).
    */
  def countMinTopKAudit(df: DataFrame, itemCol: String, k: Int = 10,
                        depth: Int = 4, width: Int = 256): DataFrame = {
    val counts = df.groupBy(col(itemCol).as("item")).agg(count(lit(1)).as("true_cnt"))
    val sketch = countMinSketch(df, itemCol, depth, width)
    val top = counts.orderBy(col("true_cnt").desc, col("item")).limit(k)
    val probes = top
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col("item"), col("true_cnt"))
      .withColumn("bucket", bucket(col("j"), col("item"), width))
    probes.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("item"), col("true_cnt"))
      .agg(min(col("bucket_cnt")).as("cms_estimate"))
      .select(col("item"), col("true_cnt"), col("cms_estimate"),
        (col("cms_estimate") - col("true_cnt")).as("overestimate"))
      .orderBy(col("true_cnt").desc, col("item"))
  }

  /** Heavy-CHANGE detection audit (Cormode & Muthukrishnan's "what's new"
    * question): split the stream at its time midpoint, sketch each half
    * with an independent CMS, and compare the sketch-estimated per-item
    * change |est₂ − est₁| against the exact change for the true top-`k`
    * movers — the accuracy read before deploying sketch-diff change
    * detection at a scale where exact per-key counts from BOTH windows
    * can't be kept. Items absent from a half estimate 0 there (an empty
    * bucket is a true zero in CMS).
    *
    * Scale shape: the midpoint is a 1-row broadcast; both sketches reduce
    * per item first (map-side) and are d·w rows each; probes join the
    * broadcast sketches. All-integer math. Output per item (true-change
    * desc, item asc): (item, n_first, n_second, true_change, est_first,
    * est_second, est_change).
    */
  def countMinHeavyChangeAudit(df: DataFrame, itemCol: String, tsCol: String,
                               k: Int = 10, depth: Int = 4,
                               width: Int = 256): DataFrame = {
    val mid = df.agg((min(col(tsCol)) +
      floor((max(col(tsCol)) - min(col(tsCol))) / 2).cast("long")).as("mid"))
    // exact counts + both sketches read it
    val tagged = Materialize(df.crossJoin(broadcast(mid))
      .select(col(itemCol).as("item"),
        (col(tsCol) <= col("mid")).as("first_half"))).df
    val exact = tagged.groupBy(col("item"))
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("n_first"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("n_second"))
      .withColumn("true_change", abs(col("n_second") - col("n_first")))
    val top = exact.orderBy(col("true_change").desc, col("item")).limit(k)
    def sketchOf(firstHalf: Boolean): DataFrame =
      countMinSketch(tagged.filter(col("first_half") === firstHalf), "item",
        depth, width)
    def estOf(sk: DataFrame, out: String): DataFrame =
      top.select(col("item"),
          explode(sequence(lit(0), lit(depth - 1))).as("j"))
        .withColumn("bucket", bucket(col("j"), col("item"), width))
        .join(broadcast(sk), Seq("j", "bucket"), "left")
        .groupBy(col("item"))
        .agg(min(coalesce(col("bucket_cnt"), lit(0L))).as(out))
    top
      .join(estOf(sketchOf(firstHalf = true), "est_first"), "item")
      .join(estOf(sketchOf(firstHalf = false), "est_second"), "item")
      .select(col("item"), col("n_first"), col("n_second"),
        col("true_change"), col("est_first"), col("est_second"),
        abs(col("est_second") - col("est_first")).as("est_change"))
      .orderBy(col("true_change").desc, col("item"))
  }

  /** Per-row HLL (register index, rho) projection — the stateless part of
    * the portable sketch, shared by the batch audits and
    * [[graft.streaming.StreamingOps.hllRegistersStream]].
    */
  private[graft] def hllRho(df: DataFrame, itemCol: String, b: Int): DataFrame = {
    val m = 1 << b
    val wBits = 32 - b
    val h = conv(substring(md5(col(itemCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    df.select(h.as("h"))
      .select((col("h") % m).as("idx"), expr(s"h div $m").as("w"))
      .select(col("idx"), when(col("w") === 0, lit(wBits + 1))
        .otherwise(lit(wBits + 1) - length(bin(col("w")))).as("rho"))
  }

  /** Portable HyperLogLog distinct-count audit (Flajolet et al., AofA 2007)
    * — the cardinality sketch partner of [[countMinSketch]] (frequency) and
    * MinHash (similarity). Spark's built-in `approx_count_distinct` IS HLL++
    * but its hash is engine-private; this variant derives everything from
    * the md5-portable hash so the DuckDB oracle replays the sketch exactly,
    * making the estimator itself oracle-checkable (the audit the built-in
    * can never get).
    *
    * 32-bit hash h → register idx = h mod m (m = 2^b), payload
    * w = h div m (32−b bits), ρ(w) = position of the first 1 bit
    * = (32−b) + 1 − bitlength(w), with ρ = 33−b for w = 0. Registers keep
    * max ρ; the raw estimate is α_m·m²/Σ_j 2^(−M_j) (empty registers
    * contribute 2⁰ = 1), with the standard small-range linear-counting
    * correction when raw ≤ 2.5m and empty registers remain. Every 2^(−M)
    * term is an exact power of two ≥ 2^(b−33), so the 64-register double
    * sum is EXACT under any addition order — no DECIMAL quantization
    * needed.
    *
    * Scale shape: one select + groupBy(idx) max over the scan (map-side
    * combined to m partials per task); the register table is m rows
    * regardless of scale; the exact-distinct comparison column is the only
    * full-cardinality aggregate, present because this is the AUDIT — at
    * 100 TB one ships only the m registers.
    *
    * Output: 1 row (m, v_empty, hll_estimate, true_distinct, rel_err_pct).
    */
  def hyperLogLogAudit(df: DataFrame, itemCol: String, b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 12, s"b=$b out of supported [4,12]")
    val m = 1 << b
    val wBits = 32 - b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val regs = hllRho(df, itemCol, b)
      .groupBy(col("idx")).agg(max(col("rho")).as("mreg"))
    val spine = df.sparkSession.range(m).select(col("id").as("idx"))
    val full = spine.join(regs, Seq("idx"), "left").na.fill(0, Seq("mreg"))
    val z = full.agg(
      sum(pow(lit(2.0), -col("mreg").cast("double"))).as("zsum"),
      sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("v_empty"))
    val exact = df.agg(countDistinct(col(itemCol)).as("true_distinct"))
    val raw = lit(alpha) * (lit(m.toDouble) * lit(m.toDouble)) / col("zsum")
    val est = when(raw <= lit(2.5 * m) && col("v_empty") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")))
      .otherwise(raw)
    z.crossJoin(exact).select(
      lit(m).as("m"), col("v_empty"), est.as("hll_estimate"),
      col("true_distinct"),
      (lit(100.0) * abs(est - col("true_distinct").cast("double")) /
        col("true_distinct").cast("double")).as("rel_err_pct"))
  }

  /** Per-group [[hyperLogLogAudit]] — one m-register sketch per group key
    * (per-source distinct users, per-partition cardinality profiling). The
    * register aggregate keys on (group, idx) — m partials per group per
    * task, map-side combined — and the register spine is the distinct-group
    * table crossed with the m-row range, so empty registers contribute their
    * 2⁰ on every group. Same estimator math as the global audit.
    *
    * Output per group asc: (group, v_empty, hll_estimate, true_distinct,
    * rel_err_pct).
    */
  def hyperLogLogGroupedAudit(df: DataFrame, groupCol: String, itemCol: String,
                              b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 12, s"b=$b out of supported [4,12]")
    val m = 1 << b
    val wBits = 32 - b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val h = conv(substring(md5(col(itemCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val hashed = df.select(col(groupCol).as("grp"), h.as("h"))
      .select(col("grp"), (col("h") % m).as("idx"), expr(s"h div $m").as("w"))
    val rho = when(col("w") === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(col("w"))))
    val regs = hashed.select(col("grp"), col("idx"), rho.as("rho"))
      .groupBy(col("grp"), col("idx")).agg(max(col("rho")).as("mreg"))
    val spine = df.select(col(groupCol).as("grp")).distinct()
      .crossJoin(broadcast(
        df.sparkSession.range(m).select(col("id").as("idx"))))
    val full = spine.join(regs, Seq("grp", "idx"), "left")
      .na.fill(0, Seq("mreg"))
    val z = full.groupBy(col("grp")).agg(
      sum(pow(lit(2.0), -col("mreg").cast("double"))).as("zsum"),
      sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("v_empty"))
    val exact = df.groupBy(col(groupCol).as("grp"))
      .agg(countDistinct(col(itemCol)).as("true_distinct"))
    val raw = lit(alpha) * (lit(m.toDouble) * lit(m.toDouble)) / col("zsum")
    val est = when(raw <= lit(2.5 * m) && col("v_empty") > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")))
      .otherwise(raw)
    z.join(exact, Seq("grp")).select(
      col("grp").as(groupCol), col("v_empty"), est.as("hll_estimate"),
      col("true_distinct"),
      (lit(100.0) * abs(est - col("true_distinct").cast("double")) /
        col("true_distinct").cast("double")).as("rel_err_pct"))
      .orderBy(col(groupCol))
  }

  /** HLL set-operation audit: estimate |A|, |B|, |A∪B| and — by
    * inclusion-exclusion — |A∩B| from three m-register sketches, next to
    * the exact counts. The union sketch is the REGISTER-WISE MAX of A's and
    * B's sketches (the merge that makes HLL distributable at all); the
    * intersection has no native sketch, so est_intersect = est_a + est_b −
    * est_union is the standard derived figure whose error grows as the
    * overlap shrinks — exactly the trade this audit quantifies before a
    * 100 TB overlap job chooses sketches over an exact join. Same portable
    * md5 register math as [[hyperLogLogAudit]], so the DuckDB oracle
    * replays every register.
    *
    * Output: 1 row (m, est_a, est_b, est_union, est_intersect,
    * true_intersect, jaccard_est = est_intersect/est_union, jaccard_true).
    */
  def hllIntersectAudit(dfA: DataFrame, dfB: DataFrame, itemCol: String,
                        b: Int = 6): DataFrame = {
    require(b >= 4 && b <= 12, s"b=$b out of supported [4,12]")
    val m = 1 << b
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val spark = dfA.sparkSession
    val spine = spark.range(m).select(col("id").as("idx"))
    def estOf(regs: DataFrame, tag: String): DataFrame = {
      val full = spine.join(regs, Seq("idx"), "left").na.fill(0, Seq("mreg"))
      val z = full.agg(
        sum(pow(lit(2.0), -col("mreg").cast("double"))).as("zsum"),
        sum(when(col("mreg") === 0, 1L).otherwise(0L)).as("v_empty"))
      val raw = lit(alpha) * (lit(m.toDouble) * lit(m.toDouble)) / col("zsum")
      val est = when(raw <= lit(2.5 * m) && col("v_empty") > 0,
        lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty").cast("double")))
        .otherwise(raw)
      z.select(est.as(tag))
    }
    def regsOf(df: DataFrame): DataFrame =
      hllRho(df, itemCol, b).groupBy(col("idx")).agg(max(col("rho")).as("mreg"))
    val ra = Materialize(regsOf(dfA)).df // own est + union
    val rb = Materialize(regsOf(dfB)).df
    val ru = ra.union(rb).groupBy(col("idx")).agg(max(col("mreg")).as("mreg"))
    val ia = dfA.select(col(itemCol).as("__k")).distinct()
    val ib = dfB.select(col(itemCol).as("__k")).distinct()
    val exact = ia.join(ib, Seq("__k"))
      .agg(count(lit(1)).as("true_intersect"))
      .crossJoin(ia.union(ib).distinct().agg(count(lit(1)).as("true_union")))
    // Inclusion-exclusion can go NEGATIVE on disjoint-ish sets (est_union
    // overshooting est_a+est_b is ordinary sketch noise) — clamp the derived
    // intersection and its jaccard at 0 so the audit never reports a
    // negative cardinality; and null out jaccard_true on two empty inputs
    // (0/0) instead of emitting NaN.
    val interEst = greatest(lit(0.0),
      col("est_a") + col("est_b") - col("est_union"))
    estOf(ra, "est_a").crossJoin(estOf(rb, "est_b"))
      .crossJoin(estOf(ru, "est_union")).crossJoin(exact)
      .select(lit(m).as("m"), col("est_a"), col("est_b"), col("est_union"),
        interEst.as("est_intersect"),
        col("true_intersect"),
        (interEst / col("est_union")).as("jaccard_est"),
        when(col("true_union") > 0,
          col("true_intersect").cast("double") /
            col("true_union").cast("double")).as("jaccard_true"))
  }

  /** Portable Bloom filter audit (Bloom, CACM 1970): build an m-bit filter
    * (m = 32·`wWords`, stored as `wWords` 32-bit words in BIGINTs so no
    * sign-bit arithmetic ever differs between engines) over `items` with
    * `kHashes` md5-derived positions per key, then probe it with the
    * DISJOINT `probes` set and report the observed false-positive rate next
    * to the textbook expectation (1 − e^(−kn/m))^k — the measurement a
    * pipeline runs before sizing a Bloom-filtered anti-join at 100 TB.
    *
    * Scale shape: the filter is a word-keyed BIT_OR aggregate (wWords rows
    * total — it IS the broadcast-ready form of Spark's own
    * `fpp`-parameterized Bloom join filters, but portable); probing joins
    * each probe's k (word, mask) rows against those wWords rows and demands
    * all k bits set. Output one row: (m_bits, k_hashes, n_inserted,
    * n_bits_set, n_probes, n_fp, fp_rate, fp_theory).
    */
  /** (key, word, mask) Bloom positions: kHashes md5-derived bits per key in
    * an m = 32·wWords bit space stored as 32-bit words. No dedup — BIT_OR
    * absorbs duplicates, which is what makes the SAME expression the batch
    * builder AND the streaming register twin.
    */
  private[graft] def bloomPositions(df: DataFrame,
                                    c: org.apache.spark.sql.Column,
                                    wWords: Int, kHashes: Int): DataFrame = {
    val m = 32L * wWords
    df.select(c.cast("string").as("key"))
      .select(col("key"),
        explode(sequence(lit(0), lit(kHashes - 1))).as("j"))
      .select(col("key"),
        (conv(substring(md5(concat(col("j").cast("string"), lit(":"),
          col("key"))), 1, 8), 16, 10).cast("long") % m).as("pos"))
      .select(col("key"), floor(col("pos") / 32).cast("long").as("word"),
        pow(lit(2.0), col("pos") % 32).cast("long").as("mask"))
  }

  /** The filter itself: word-keyed BIT_OR of [[bloomPositions]] — wWords
    * rows, the broadcast-ready membership structure. Works unchanged on a
    * streaming DataFrame (update/complete mode): BIT_OR is monotone, so the
    * snapshot after a stream drains equals the batch build bit-for-bit
    * (spec-locked, the [[graft.streaming.StreamingOps.hllRegistersStream]]
    * discipline).
    */
  def bloomFilterWords(df: DataFrame, itemCol: org.apache.spark.sql.Column,
                       wWords: Int = 64, kHashes: Int = 4): DataFrame =
    bloomPositions(df, itemCol, wWords, kHashes)
      .groupBy(col("word")).agg(bit_or(col("mask")).as("bits"))

  def bloomFilterAudit(items: DataFrame, itemCol: org.apache.spark.sql.Column,
                       probes: DataFrame, probeCol: org.apache.spark.sql.Column,
                       wWords: Int = 64, kHashes: Int = 4): DataFrame = {
    require(wWords >= 1 && kHashes >= 1,
      s"bad bloom shape w=$wWords k=$kHashes")
    val m = 32L * wWords
    val filterWords = bloomFilterWords(items, itemCol, wWords, kHashes)
    val nIns = items.select(itemCol.cast("string")).distinct().count()
    // probes dedup by key: the all-k-bits test below counts hits per key
    val probePos = bloomPositions(
      probes.select(probeCol.cast("string").as("__pk")).distinct(),
      col("__pk"), wWords, kHashes)
    val hits = probePos
      .join(filterWords, Seq("word"), "left")
      .select(col("key"),
        when(col("bits").isNotNull &&
          col("bits").bitwiseAND(col("mask")) === col("mask"), 1L)
          .otherwise(0L).as("hit"))
      .groupBy(col("key")).agg(sum(col("hit")).as("n_hit"))
    val probeAgg = hits.agg(count(lit(1)).as("n_probes"),
      sum(when(col("n_hit") === kHashes, 1L).otherwise(0L)).as("n_fp"))
    val fillAgg = filterWords.agg(
      sum(bit_count(col("bits"))).cast("long").as("n_bits_set"))
    val theory = pow(lit(1.0) -
      exp(lit(-1.0) * kHashes * nIns / m.toDouble), kHashes)
    probeAgg.crossJoin(broadcast(fillAgg))
      .select(lit(m).as("m_bits"), lit(kHashes.toLong).as("k_hashes"),
        lit(nIns).as("n_inserted"), col("n_bits_set"), col("n_probes"),
        col("n_fp"),
        (col("n_fp").cast("double") / col("n_probes").cast("double"))
          .as("fp_rate"),
        theory.as("fp_theory"))
  }

  /** Bloom pre-join audit — the sizing measurement a runtime-filtered join
    * runs BEFORE shipping a selective dim-side filter against a huge fact
    * scan (what Spark's own `spark.sql.optimizer.runtimeFilter.*` bloom
    * does engine-side, replayed here portably so the numbers are
    * oracle-checkable): build the filter over the dim keys, classify every
    * fact ROW by whether its key passes all k bits, and report the row
    * reduction next to the exact semi-join truth. false-positive rows are
    * the shuffle the filter fails to save; `reduction_pct` is what it does
    * save.
    *
    * Scale shape: the filter is wWords rows broadcast; fact keys dedupe
    * before probing (distinct keys ≪ rows), and the pass/fail flag joins
    * back to fact rows by key — one broadcast-sized equi-join, no
    * fact-side shuffle.
    *
    * Output 1 row: (n_fact_rows, n_fact_keys, n_pass_rows, n_true_rows,
    * n_fp_rows, reduction_pct).
    */
  def bloomPrejoinAudit(facts: DataFrame,
                        factKey: org.apache.spark.sql.Column,
                        dim: DataFrame,
                        dimKey: org.apache.spark.sql.Column,
                        wWords: Int = 64, kHashes: Int = 4): DataFrame = {
    require(wWords >= 1 && kHashes >= 1,
      s"bad bloom shape w=$wWords k=$kHashes")
    val filterWords = bloomFilterWords(dim, dimKey, wWords, kHashes)
    val factKeys = facts.select(factKey.cast("string").as("__fk"))
    val keyed = factKeys.groupBy(col("__fk")).agg(count(lit(1)).as("__nr"))
    val pass = bloomPositions(keyed.select(col("__fk")), col("__fk"),
        wWords, kHashes)
      .join(filterWords, Seq("word"), "left")
      .select(col("key").as("__fk"),
        when(col("bits").isNotNull &&
          col("bits").bitwiseAND(col("mask")) === col("mask"), 1L)
          .otherwise(0L).as("__hit"))
      .groupBy(col("__fk"))
      .agg((sum(col("__hit")) === kHashes).as("__pass"))
    val truth = dim.select(dimKey.cast("string").as("__fk")).distinct()
      .select(col("__fk"), lit(true).as("__in_dim"))
    keyed.join(pass, Seq("__fk")).join(truth, Seq("__fk"), "left")
      .agg(sum(col("__nr")).as("n_fact_rows"),
        count(lit(1)).as("n_fact_keys"),
        sum(when(col("__pass"), col("__nr")).otherwise(0L)).as("n_pass_rows"),
        sum(when(col("__in_dim").isNotNull, col("__nr")).otherwise(0L))
          .as("n_true_rows"),
        sum(when(col("__pass") && col("__in_dim").isNull, col("__nr"))
          .otherwise(0L)).as("n_fp_rows"))
      .select(col("n_fact_rows"), col("n_fact_keys"), col("n_pass_rows"),
        col("n_true_rows"), col("n_fp_rows"),
        (lit(100.0) * (lit(1.0) - col("n_pass_rows").cast("double") /
          col("n_fact_rows").cast("double"))).as("reduction_pct"))
  }
}
