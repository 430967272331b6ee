package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session, storage release and per-query loop behind every dev main
  * (`Verify`, `Bench`, `SmokeEntry`, `FixtureGen`).
  *
  * `SPARK_GRAFT_CPUS` sets the local core count (default: every core the JVM
  * sees); `SPARK_GRAFT_ONLY=substr1,substr2` restricts the loop to query names
  * containing one of the substrings.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Local core count of [[session]]; also its shuffle partition count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session with graft's SQL extensions, so their planning-time check
    * rules run on every plan the harness executes. UTC is pinned: every entry
    * point must agree on the instant semantics of the TIMESTAMP_NTZ ->
    * TIMESTAMP normalization in `Tables.load`.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release everything a query pinned in executor storage. clearCache()
    * only drops catalog-cached plans; localCheckpoint blocks stay resident
    * until their RDD is unpersisted, and over a few hundred queries they
    * shrink unified memory until shuffle-heavy queries degrade run over run
    * (observed: q_triangles 2.5s -> 14.9s across reps in one session).
    * Broadcasts and shuffle files are cleaned by ContextCleaner only after a
    * GC notices the references are dead, and a large heap may never GC on
    * its own, so kick one: milliseconds between queries.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The query-name filter of `SPARK_GRAFT_ONLY` (comma-separated
    * substrings). Unset, empty or only commas selects every name; empty
    * pieces are dropped, since "" is a substring of every name.
    */
  def only(raw: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): String => Boolean =
    raw.map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty) match {
      case None => _ => true
      case Some(subs) => name => subs.exists(name.contains)
    }

  /** Run `body` once per selected query, in name order. A query that throws
    * is reported on stderr as `[tag] name failed: message` and recorded as a
    * `Left`; storage is released after every query, failed or not.
    */
  def run[A](spark: SparkSession, tag: String,
             queries: Map[String, Query] = SparkEntry.queries,
             selected: String => Boolean = only())(
      body: (String, Query) => A): Seq[(String, Either[Throwable, A])] =
    queries.toSeq.sortBy(_._1).filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
        val result =
          try Right(body(name, fn))
          catch { case e: Throwable =>
            System.err.println(s"[$tag] $name failed: ${e.getMessage}")
            Left(e)
          }
        release(spark)
        name -> result
      }
}
