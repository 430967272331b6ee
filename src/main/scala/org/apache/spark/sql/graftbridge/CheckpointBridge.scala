package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

import graft.Materialized

/** The steps of Spark's eager `Dataset.checkpoint`, keeping the row count
  * its job computes (Spark's own `RDD.doCheckpoint` job discards it).
  * `SQLExecution`, `LogicalRDD.fromDataset` and the block manager master are
  * internal; living under `org.apache.spark.sql` grants the access. Only
  * [[graft.Materialize]] calls it.
  */
object CheckpointBridge {

  /** The plan executes under a SQL execution id, as `withAction` does. Its
    * RDD is marked for checkpointing before its one `count()` job, so that
    * job's trailing `doCheckpoint` finds every local block present and runs
    * nothing more. A reliable checkpoint persists the rows first, so the job
    * writing its files reads blocks instead of recomputing the plan, and
    * drops them once the files exist.
    */
  def checkpoint[T](in: Dataset[T]): Materialized[T] = {
    val ds = in.asInstanceOf[classic.Dataset[T]]
    val sc = ds.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe,
        Some(if (reliable) "checkpoint" else "localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      val id = rdd.id
      if (reliable) {
        rdd.persist(StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint()
      val rows = rdd.count()
      val bytes =
        if (reliable) {
          rdd.unpersist(blocking = false)
          val dir = new Path(rdd.getCheckpointFile.get)
          dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir)
            .iterator.map(_.getLen).sum
        } else {
          // the block manager master's figures: executors report each block
          // before their task ends, while `getRDDStorageInfo` reads the same
          // figures later, through the asynchronous listener bus
          SparkEnv.get.blockManager.master.getStorageStatus.iterator
            .flatMap(_.rddBlocks)
            .collect { case (RDDBlockId(`id`, _), s) => s.memSize + s.diskSize }
            .sum
        }
      Materialized(classic.Dataset(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))(ds.encoder), rows, bytes)
    }
  }
}
