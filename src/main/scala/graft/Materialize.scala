package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** A materialized frame with its row count and checkpoint size in bytes. */
final case class Materialized[T](df: Dataset[T], rows: Long, bytes: Long)

/** The one materialize step of graft's iterative operators: every
  * checkpoint in the library goes through `Materialize(df)`.
  *
  * It checkpoints `df` eagerly in ONE Spark job and returns the frame with
  * its row count from that same job (no second `count()` over blocks just
  * written) and its bytes, read on the driver: the block manager's memory
  * plus disk bytes of a local checkpoint, the file lengths of a reliable one.
  *
  * The kind is derived, not configured: reliable (files under
  * `SparkContext.getCheckpointDir`, so an iterative query survives a lost
  * executor, at one more job to write them) when a checkpoint directory is
  * set, local (executor blocks) otherwise.
  *
  * The frame is a `LogicalRDD` that keeps the plan's output partitioning
  * and ordering, so a frame repartitioned on a key feeds later joins and
  * aggregates on that key without another exchange. It also keeps the
  * ORIGINAL subtree's size estimate: for the iterative operators an
  * edge-join-sized guess far over the 10 MB `autoBroadcastJoinThreshold`, so
  * the planner sort-merges and re-shuffles the big side of every join
  * against a checkpointed node-sized table, every round (q_mis shuffled
  * 41 MB where 1.8 MB does once hinted). AQE cannot rescue these joins: its
  * strategy switch needs a materialized exchange on the build side, and
  * checkpoint reads have none. Such sites hint the broadcast explicitly,
  * gated on measured bytes by [[broadcastHint]].
  */
object Materialize {

  /** The broadcast bound, in checkpoint bytes. Blocks hold deserialized
    * rows: a slim row of two or three longs takes 80-92 B there, about
    * three times its `UnsafeRow` bytes, so 256 MiB of blocks is about 3M
    * such rows and a broadcast hash relation of about 100 MB, collected on
    * the driver and copied to every executor: well inside both, and far
    * under Spark's 8 GB broadcast cap. Above it, callers keep their
    * shuffled or partitioned-layout plans, the right plans at that size.
    */
  val MaxBroadcastBytes: Long = 256L << 20

  def apply[T](ds: Dataset[T]): Materialized[T] = CheckpointBridge.checkpoint(ds)

  /** `broadcast` for a join side bounded by `bytes` checkpoint bytes when
    * that is at most [[MaxBroadcastBytes]], identity otherwise. */
  def broadcastHint(bytes: Long): DataFrame => DataFrame =
    if (bytes <= MaxBroadcastBytes) broadcast else identity
}
