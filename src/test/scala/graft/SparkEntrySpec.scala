package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract guards for the driver surface: every declared query must carry its
  * DuckDB oracle (a query without one silently downgrades to a rows-only check
  * in the driver), and the key sets must stay consistent.
  */
class SparkEntrySpec extends AnyFunSuite {

  /** Queries DELIBERATELY without a SQL oracle (driver records the weaker
    * rows-only check): each must be genuinely non-SQL-expressible and carry a
    * golden spec as its semantics gate. Grows only with a documented reason.
    */
  // Every query now carries a DuckDB oracle: the tokenizer-trainer six,
  // formerly rows-only (non-SQL-expressible recurrences), hash-compare
  // against committed golden fixtures generated by graft.FixtureGen from
  // independent single-threaded reference implementations.
  private val rowsOnlyQueries = Set.empty[String]

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o -- rowsOnlyQueries).isEmpty,
      s"queries missing oracles: ${(q -- o -- rowsOnlyQueries).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted}")
    assert((rowsOnlyQueries -- q).isEmpty, "stale rows-only allowlist entry")
    assert((rowsOnlyQueries & o).isEmpty,
      "allowlisted query gained an oracle - remove it from rowsOnlyQueries")
  }

  test("a duplicate name fails the catalog, naming both families") {
    def family(n: String, names: String*): QueryFamily = new QueryFamily(n) {
      val specs: Seq[QuerySpec] =
        names.map(q => QuerySpec(q, (_, _) => null, "SELECT 1"))
    }
    val e = intercept[IllegalArgumentException](Catalog.index(Seq(
      family("alpha", "q_a", "q_shared"), family("beta", "q_b"),
      family("gamma", "q_shared"))))
    assert(e.getMessage.contains("q_shared"), e.getMessage)
    assert(e.getMessage.contains("alpha") && e.getMessage.contains("gamma"),
      e.getMessage)
  }

  test("the catalog holds 406 distinct q_ names and no empty family") {
    val declared = Catalog.families.flatMap(_.specs.map(_.name))
    assert(declared.size == 406, declared.size)
    assert(declared.distinct.size == declared.size)
    assert(SparkEntry.queries.size == 406)
    Catalog.families.foreach(f => assert(f.specs.nonEmpty, s"${f.name} is empty"))
    assert(Catalog.families.map(_.name).distinct.size == Catalog.families.size)
  }

  test("query names follow the q_ convention and are non-empty SQL") {
    SparkEntry.queries.keys.foreach(k => assert(k.startsWith("q_"), k))
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.toUpperCase.startsWith("WITH") ||
        sql.trim.toUpperCase.startsWith("SELECT"), s"$k oracle doesn't look like SQL")
    }
  }

  test("integer SUMs in oracle SQL are BIGINT-cast (DuckDB DECIMAL128 trap)") {
    // DuckDB SUM over an integer column yields DECIMAL128(38,0) while Spark
    // yields int64 — any un-cast SUM over a known integer column in a FINAL
    // projection breaks the driver's typed hash. Heuristic guard: the known
    // integer-sum aliases introduced so far must carry the cast.
    val knownIntSums = Seq("cum_volume", "session_id", "sum_k", "total_tokens")
    for ((name, sql) <- SparkEntry.oracleSql; alias <- knownIntSums
         if sql.contains(s"AS $alias")) {
      val ok = sql.contains(s"AS BIGINT) AS $alias") ||
        !sql.replaceAll("(?s)\\s+", " ").matches(s".*SUM\\([^)]*\\) AS $alias.*")
      assert(ok, s"$name: SUM AS $alias lacks CAST(... AS BIGINT)")
    }
  }
}
