package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, DoubleType, StringType}

class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private def tempDir(tag: String): String =
    Scratch.register(Files.createTempDirectory(tag).toString)

  /** The DataFrame `f` returns (schema resolved) and the jobs that took. */
  private def jobsOf(f: => DataFrame): (DataFrame, Int) = {
    val sc = spark.sparkContext
    val group = "tables-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "load")
      val df = try { val d = f; d.schema; d } finally sc.clearJobGroup()
      ListenerBridge.drain(sc)
      (df, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Writes `df` as ONE parquet file at `path`, replacing what is there. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = tempDir("graft_tables_file")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = new File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(path).toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Runs `f` with the given SQL confs set, restoring the old values. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try f
    finally old.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("a second load of the same table in one session runs no job") {
    val dir = tempDir("graft_tables")
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), s"$dir/t.parquet")
    val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(firstJobs >= 1, "inference reads a footer in a job")
    val (second, jobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs == 0, s"$jobs jobs")
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("a file rewritten at the same path with a new schema is re-inferred") {
    val dir = tempDir("graft_tables_rewrite")
    writeFile(Seq((1L, "a")).toDF("id", "s"), s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema("s").dataType == StringType)
    writeFile(Seq((1L, 0.5, 7)).toDF("id", "x", "y"), s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "x", "y"))
    assert(df.schema("x").dataType == DoubleType)
    assert(df.select(col("x")).as[Double].collect().toSeq == Seq(0.5))
  }

  test("a directory table that gains a part file is re-inferred") {
    val path = tempDir("graft_tables_dir") + "/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    // with merged footers, the new part file's extra column shows in the schema
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(Tables.parquet(spark, path).columns.toSeq == Seq("id", "s"))
      Seq((2L, "b", 3.0)).toDF("id", "s", "extra").write.mode("append").parquet(path)
      val (df, jobs) = jobsOf(Tables.parquet(spark, path))
      assert(jobs >= 1, "the changed listing re-infers")
      assert(df.schema == spark.read.parquet(path).schema)
      assert(df.columns.toSet == Set("id", "s", "extra"))
      assert(df.count() == 2)
    }
  }

  test("setting spark.sql.parquet.binaryAsString re-infers") {
    // a footer without Spark's schema metadata, as other writers leave it:
    // only then does binaryAsString change what inference returns
    val path = tempDir("graft_tables_bin") + "/t.parquet"
    val pq = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup()
      .append("id", 1L).append("b", Binary.fromString("ab")))
    finally w.close()
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      val df = Tables.parquet(spark, path)
      assert(df.schema == spark.read.parquet(path).schema)
      assert(df.schema("b").dataType == StringType)
      assert(df.select(col("b")).as[String].collect().toSeq == Seq("ab"))
    }
    assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
  }

  test("the loaded schema is spark.read.parquet's, partition columns included") {
    val path = tempDir("graft_tables_part") + "/t"
    val df = (0 until 20).map(i =>
        (i.toLong, i * 0.25, s"s$i", Seq(i.toFloat, 1f), i % 3))
      .toDF("id", "x", "s", "v", "p")
      .withColumn("ts", col("id").cast("timestamp"))
    df.write.partitionBy("p").parquet(path)
    val expected = spark.read.parquet(path)
    val (loaded, _) = jobsOf(Tables.parquet(spark, path))
    val (again, jobs) = jobsOf(Tables.parquet(spark, path))
    assert(jobs == 0, s"$jobs jobs")
    Seq(loaded, again).foreach { got =>
      assert(got.schema == expected.schema)
      assert(got.orderBy("id").collect().toSeq ==
        expected.orderBy("id").collect().toSeq)
    }
    intercept[AnalysisException](Tables.parquet(spark, s"$path-missing"))
  }
}
