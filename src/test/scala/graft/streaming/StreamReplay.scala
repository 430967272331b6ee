package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** End-to-end replay harness for the stateful streaming twins: drive a
  * DETERMINISTIC timestamped event stream through a streaming operator via
  * the deployment sink shape (`foreachBatch` appending into one table) and
  * hand back the final accumulated table. One `addData` +
  * `processAllAvailable` per micro-batch makes watermark advancement — and
  * therefore event-time TTL eviction — deterministic, so a spec can pin the
  * op's end-to-end behavior (which pairs surface, which evictions happen)
  * against the batch twin run on the same data, rather than only unit-level
  * state transitions.
  */
object StreamReplay {

  /** Replay `batches` in order through `build`, appending every
    * micro-batch's output to one parquet table under `dir/out`; returns the
    * table re-read. The parquet round-trip is deliberate: it exercises the
    * real `foreachBatch` sink path (schema, append atomicity) instead of the
    * memory sink's shortcut.
    *
    * `outputMode` is the query's, which must match the operator's (an
    * Update-mode `flatMapGroupsWithState` needs "update"). With
    * `resume = Some((n, next))` the query stops after the first `n` batches
    * and `next` resumes from the same checkpoint (`dir/ck`) for the rest —
    * a restart, possibly under a changed operator. `noDataBatches = false`
    * turns Spark's no-data micro-batches off for the replay, as on a stream
    * busy enough that every trigger has data: a watermark advance then takes
    * effect in the next batch that carries rows, not in an empty batch
    * before it.
    */
  def replay[I <: Product : Encoder](spark: SparkSession,
                                     batches: Seq[Seq[I]],
                                     build: DataFrame => Dataset[_],
                                     outputMode: String = "append",
                                     resume: Option[(Int, DataFrame => Dataset[_])] = None,
                                     noDataBatches: Boolean = true,
                                     dir: Path = Files.createTempDirectory("graft_replay"))
      : DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    graft.Scratch.register(dir.toString)
    val outDir = dir.resolve("out").toString
    val ckDir = dir.resolve("ck").toString
    val runs = resume.fold(Seq(build -> batches)) { case (n, next) =>
      Seq(build -> batches.take(n), next -> batches.drop(n))
    }
    val noDataConf = "spark.sql.streaming.noDataMicroBatches.enabled"
    if (!noDataBatches) spark.conf.set(noDataConf, "false")
    try runs.foreach { case (op, part) =>
      val query = op(input.toDF()).toDF().writeStream
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .outputMode(outputMode)
        .option("checkpointLocation", ckDir)
        .start()
      try part.foreach { b =>
        if (b.nonEmpty) input.addData(b: _*)
        query.processAllAvailable()
      } finally query.stop()
    } finally if (!noDataBatches) spark.conf.unset(noDataConf)
    spark.read.parquet(outDir)
  }
}
