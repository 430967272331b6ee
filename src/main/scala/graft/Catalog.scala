package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, the Spark plan it builds from a session and a
  * table directory, and the DuckDB SQL that computes the same rows on the same
  * parquet tables.
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
                           oracleSql: String)

/** A domain-named group of catalog queries. Family objects reference no other
  * family, only [[Inputs]], so initializing one never depends on another.
  */
abstract class QueryFamily(val name: String) {
  def specs: Seq[QuerySpec]
}

/** Every catalog query, each declared once in one family. */
object Catalog {
  val families: Seq[QueryFamily] = Seq(MetricsQueries, DedupQueries, SimilarityQueries,
    TextQueries, MediaQueries, GraphQueries, StatsQueries, RelationalQueries)

  /** Each query by name with its family's name; a name declared twice fails
    * here, naming both families.
    */
  def index(families: Seq[QueryFamily]): Map[String, (QuerySpec, String)] =
    families.foldLeft(Map.empty[String, (QuerySpec, String)]) { (acc, f) =>
      f.specs.foldLeft(acc) { (m, s) =>
        m.get(s.name).foreach { case (_, other) =>
          throw new IllegalArgumentException(
            s"query ${s.name} is declared by both family $other and family ${f.name}")
        }
        m.updated(s.name, (s, f.name))
      }
    }

  val byName: Map[String, (QuerySpec, String)] = index(families)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (k, (s, _)) => k -> s.build }

  def family(name: String): Option[String] = byName.get(name).map(_._2)
}
