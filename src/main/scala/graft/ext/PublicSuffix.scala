package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public-suffix-list registrable domains — the production replacement for
  * the r12 registry-label heuristic. Rules come from a committed fixture
  * table (`fixtures/psl.csv`, a subset of the public list at
  * publicsuffix.org in its documented rule syntax: plain suffixes,
  * `*.`-wildcards matching exactly one extra label, `!`-exceptions) and
  * are applied with the list's matching algorithm:
  *
  *   1. every rule whose labels equal the rightmost labels of the host
  *      matches (`*` consumes one label);
  *   2. a matching EXCEPTION rule wins outright — its public suffix is the
  *      rule minus its leftmost label;
  *   3. otherwise the prevailing rule is the matching rule with the most
  *      labels; no match at all ⇒ the implicit rule `*` (1 label);
  *   4. registrable domain = public suffix + one preceding label; a host
  *      that IS a public suffix (or a bare label) falls back to itself —
  *      the same degenerate-host convention the heuristic used.
  *
  * Scale shape: the grouped rule table (≈10k rows for the full PSL, 68 in
  * the fixture subset) is BROADCAST; the host side takes `maxLabels`
  * broadcast-hash probes — one per candidate suffix depth — inside a
  * single codegen stage with ZERO shuffles, so at 100 TB the domain
  * extraction rides the scan exactly like the rest of the canonicalizer.
  * ICANN and private sections are both honored (curation pipelines want
  * `github.io` sites separated per user, which is what the private
  * section encodes); callers needing ICANN-only can pre-filter the rule
  * table on `section`.
  */
object PublicSuffix {

  /** Default committed rule table (repo fixture; overridable like the
    * tokenizer fixtures via graft.Inputs.FixtureRoot).
    */
  def defaultRulesPath: String = s"${graft.Inputs.FixtureRoot}/psl.csv"

  /** Loads and GROUPS the rule table: one row per concrete suffix base
    * with `has_exact` / `has_wildcard` / `has_exception` flags (a base can
    * carry several rule kinds, e.g. private `platform.sh` + its wildcard).
    * The grouping happens DRIVER-side (the file is a local fixture and the
    * full PSL is ~10k rows) so the broadcast side contributes no exchange
    * to the query plan and the file only needs to exist on the driver.
    */
  def loadRules(spark: SparkSession, path: String = null): DataFrame = {
    val p = Option(path).getOrElse(defaultRulesPath)
    val src = scala.io.Source.fromFile(p, "UTF-8")
    val rules = try {
      src.getLines().drop(1).filter(_.nonEmpty).map { line =>
        val rule = line.split(",", 2)(0).trim
        if (rule.startsWith("!")) (rule.substring(1), (false, false, true))
        else if (rule.startsWith("*.")) (rule.substring(2), (false, true, false))
        else (rule, (true, false, false))
      }.toSeq
    } finally src.close()
    val grouped = rules.groupBy(_._1).map { case (suffix, rs) =>
      (suffix, rs.exists(_._2._1), rs.exists(_._2._2), rs.exists(_._2._3))
    }.toSeq
    import spark.implicits._
    grouped.toDF("suffix", "has_exact", "has_wildcard", "has_exception")
  }

  /** Adds `out` = the registrable domain of `hostCol` (already-lowercased
    * host, no port) under the given grouped rule table. `maxLabels` caps
    * the candidate-suffix depth probed; the default (0) DERIVES it from the
    * rule table — the deepest rule base (a driver-side 1-row aggregate over
    * the already-driver-local rules), so a 3-deep fixture costs 3 broadcast
    * probes, not a pessimistic constant. Candidate depths beyond the
    * deepest base can never match a rule, so the derivation is lossless.
    */
  def withRegistrableDomain(df: DataFrame, hostCol: String, rules: DataFrame,
                            out: String = "registrable_domain",
                            maxLabels: Int = 0): DataFrame = {
    val depth =
      if (maxLabels >= 1) maxLabels
      else rules.select(max(size(split(col("suffix"), "\\."))))
        .head().getInt(0)
    // No upper cap: each extra depth level costs exactly one broadcast
    // hash probe of that depth's (small) rule slice, and the DuckDB
    // oracle derives depth unbounded from the same rule table — a hard
    // cap here would make the engine throw on a fixture the oracle still
    // handles (the real PSL has bases deeper than 8 labels).
    require(depth >= 1, s"probe depth must be >= 1, got $depth")
    val host = col(hostCol)
    val labels = split(host, "\\.")
    val n = size(labels)
    var cur = df
    for (i <- 1 to depth) {
      // candidate = the host's last i labels (null when the host is shorter)
      val cand = when(n >= i,
        concat_ws(".", slice(labels, n - lit(i - 1), lit(i))))
      // a depth-i candidate can only equal a suffix with exactly i labels,
      // so each probe broadcasts just its own depth slice of the rule
      // table (the full PSL is ~10k rows; the deep slices are dozens)
      val r = broadcast(rules
        .filter(size(split(col("suffix"), "\\.")) === i)
        .select(col("suffix").as(s"__psl_s$i"),
          col("has_exact").as(s"__psl_e$i"),
          col("has_wildcard").as(s"__psl_w$i"),
          col("has_exception").as(s"__psl_x$i")))
      cur = cur.join(r, cand === col(s"__psl_s$i"), "left")
    }
    val nullI = lit(null).cast("int")
    def best(f: Int => org.apache.spark.sql.Column) =
      greatest(nullI +: (1 to depth).map(f): _*)
    // exception rule: public suffix = rule minus its leftmost label
    val exc = best(i => when(col(s"__psl_x$i") === true, lit(i - 1)))
    // wildcard *.base consumes one label beyond the base it matched on
    val wc = best(i => when(col(s"__psl_w$i") === true && n > i, lit(i + 1)))
    val ex = best(i => when(col(s"__psl_e$i") === true, lit(i)))
    val ps = when(exc.isNotNull, exc).otherwise(coalesce(greatest(wc, ex), lit(1)))
    val reg = when(n > ps,
      concat_ws(".", slice(labels, n - ps, ps + lit(1)))).otherwise(host)
    cur.withColumn(out, reg)
      .drop((1 to depth).flatMap(i =>
        Seq(s"__psl_s$i", s"__psl_e$i", s"__psl_w$i", s"__psl_x$i")): _*)
  }
}
