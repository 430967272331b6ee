package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import scala.collection.concurrent.TrieMap

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every parquet read goes through [[parquet]], which infers a path's
  * schema once per session and then reads with `spark.read.schema(s)`:
  * inference reads a footer in a Spark job (one job per table load), a
  * given schema reads none. The cache holds one entry per (session, path);
  * an entry is used only while every file under the path still has the
  * length and modification time it had at inference, and while the
  * session's explicitly set `spark.sql.parquet.*` and
  * `spark.sql.legacy.parquet.*` confs (binaryAsString, inferTimestampNTZ,
  * nanosAsLong, …, which change what inference returns) are the ones it
  * was inferred under. Anything else re-infers and replaces the entry.
  */
object Tables {
  private final case class Entry(files: Seq[(String, Long, Long)],
                                 confs: Map[String, String], schema: StructType)

  private val schemas =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Entry]]()

  private def entries(spark: SparkSession): TrieMap[String, Entry] =
    schemas.synchronized {
      Option(schemas.get(spark)).getOrElse {
        val m = TrieMap.empty[String, Entry]
        schemas.put(spark, m)
        m
      }
    }

  /** Every file under `path` (recursively) with its length and
    * modification time, in path order; None when `path` does not exist. */
  private def files(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(out.result().sortBy(_._1))
    }
  }

  private def parquetConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** `spark.read.parquet(path)` with the schema inferred once per session
    * and reused while the files and parquet confs are unchanged (see the
    * object doc). The result has the schema `spark.read.parquet(path)`
    * would give, partition columns included.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = files(spark, path) match {
    case None => spark.read.parquet(path) // Spark's own error (or glob expansion)
    case Some(current) =>
      // listed before inferring: a write in between leaves a stale
      // listing, which the next load sees as a change
      val confs = parquetConfs(spark)
      val cache = entries(spark)
      val schema = cache.get(path)
        .filter(e => e.files == current && e.confs == confs).map(_.schema)
        .getOrElse {
          val s = spark.read.parquet(path).schema
          cache.put(path, Entry(current, confs, s))
          s
        }
      spark.read.schema(schema).parquet(path)
  }

  /** Driver-generated parquet stores timestamps as
    * `Timestamp(isAdjustedToUTC=false)`, which Spark 4 infers as
    * TIMESTAMP_NTZ (`spark.sql.parquet.inferTimestampNTZ.enabled` default) —
    * a type `unix_timestamp`/`unix_millis`/window functions reject. Every
    * harness session pins the session timezone to UTC, so casting NTZ →
    * TIMESTAMP reinterprets the wall clock as the same UTC instant the
    * oracle (DuckDB reads the column as naive TIMESTAMP) computes with.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = parquet(spark, s"$dir/$name.parquet")
    raw.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(raw) {
      (df, f) => df.withColumn(f.name, col(f.name).cast("timestamp"))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 only reads via
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set in every session builder here).
    * Convert the ns long back to a µs timestamp (integer DIV — a double division
    * would lose precision above 2^53 ns).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
