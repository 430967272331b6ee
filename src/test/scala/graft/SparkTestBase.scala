package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite; cheap after JVM warm-up). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean = math.abs(a - b) <= eps

  /** `body` run with reliable checkpoints: [[graft.Materialize]] writes
    * checkpoint files while a checkpoint directory is set. The directory is
    * fresh, cleared from the SparkContext afterwards and deleted, so `body`
    * must collect what it reads.
    */
  def withCheckpointDir[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-checkpoint")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body
    finally {
      spark.sparkContext.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
