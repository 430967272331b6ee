package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class MaterializeSpec extends SparkTestBase {

  private def known: DataFrame =
    spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("k"))

  private def rddOf(m: Materialized[_]) = m.df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => fail(s"not a LogicalRDD: $p")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBridge.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("rows equal count() and bytes equal the block manager's figure") {
    val m = Materialize(known)
    assert(m.rows == 1000L && m.df.count() == 1000L)
    assert(m.df.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      (0L until 1000L))
    val id = rddOf(m).id
    ListenerBridge.drain(spark.sparkContext)
    val info = spark.sparkContext.getRDDStorageInfo.find(_.id == id)
      .getOrElse(fail(s"rdd $id is not in storage"))
    assert(info.numCachedPartitions == 4)
    assert(m.bytes > 0 && m.bytes == info.memSize + info.diskSize)
  }

  test("a local Materialize runs exactly one Spark job") {
    val (m, jobs) = jobsOf(Materialize(known))
    assert(jobs == 1, s"$jobs jobs")
    assert(m.rows == 1000L)
    // as many as Spark's own eager checkpoint, which keeps no row count
    assert(jobsOf(known.localCheckpoint())._2 == 1)
  }

  test("hash partitioning survives: a groupBy on the key plans no exchange") {
    val m = Materialize(known.repartition(col("k")))
    val agg = m.df.groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(agg.collect().map(_.getLong(1)).sum == 1000L)
    val plan = agg.queryExecution.executedPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e } ++
      plan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case e: ShuffleExchangeExec => e }
      }.flatten
    assert(exchanges.isEmpty, plan.toString)
  }

  test("an empty frame gives 0 rows") {
    val m = Materialize(known.filter(col("id") < 0))
    assert(m.rows == 0L && m.df.collect().isEmpty)
  }

  test("with a checkpoint directory the checkpoint is reliable: files, " +
    "a cut lineage and the same rows") {
    val local = Materialize(known)
    val (rows, files, bytes, reliable, parents) = withCheckpointDir {
      val m = Materialize(known)
      val rdd = rddOf(m)
      val dir = Paths.get(new java.net.URI(rdd.getCheckpointFile.get))
      val files = Files.list(dir).iterator().asScala.toList
      val fileBytes = files.filterNot(isHidden).map(Files.size(_)).sum
      (m.df.orderBy("id").collect().toSeq, files.size, m.bytes == fileBytes,
        rdd.isCheckpointed,
        rdd.dependencies.map(_.rdd.getClass.getSimpleName))
    }
    assert(reliable && files >= 4 && bytes)
    assert(parents == Seq("ReliableCheckpointRDD"), parents)
    assert(rows == local.df.orderBy("id").collect().toSeq)
    assert(rddOf(local).isCheckpointed &&
      rddOf(local).getCheckpointFile.isEmpty)
  }

  private def isHidden(p: Path): Boolean = p.getFileName.toString.startsWith(".")

  test("no second materialization path: only Materialize checkpoints") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val allowed = Set("Materialize.scala", "CheckpointBridge.scala")
    val checkpointCall = """localCheckpoint\(|\.checkpoint\(""".r
    val gate = "Broadcast" + "Gate" // split so this file does not match
    def scalaFiles(root: Path) = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val offenders =
      scalaFiles(main).filterNot(p => allowed(p.getFileName.toString))
        .filter(p => checkpointCall.findFirstIn(Files.readString(p)).nonEmpty) ++
      scalaFiles(Paths.get("src")).filter(p => Files.readString(p).contains(gate))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
