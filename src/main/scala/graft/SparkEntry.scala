package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7).
  *
  * Every query reads the driver-generated parquet tables under `dir`
  * (TESTDATA.md), computes one operator from SURVEY.md §2's inventory, and has a
  * DuckDB-equivalent oracle in [[oracleSql]] with identical column names, rounding
  * (6 decimals on floating-point outputs) and ORDER BY, so the driver's hash compare
  * is deterministic. Both maps are views over [[Catalog]], where each query is
  * declared once, with its oracle, in a domain-named family.
  */
object SparkEntry {
  import MetricsQueries.qNovelty

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qNovelty(spark, "/root/testdata/sf0.001")

  /** Every catalog query by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Catalog.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  // Every oracle ships with its top-level CTEs forced to AS MATERIALIZED
  // (OracleCtes.materialize, applied once here): DuckDB inlines a CTE per
  // reference, and chained iterative oracles compound that exponentially —
  // q_hits spilled >60 GB of DuckDB temp at the sf1.0 value-hash gate
  // before the systematic guard (the r13 q_mis precedent). Results are
  // unchanged; Spark never parses these strings.
  def oracleSql: Map[String, String] = Catalog.byName.map { case (k, (s, _)) =>
    k -> OracleCtes.materialize(s.oracleSql)
  }
}
