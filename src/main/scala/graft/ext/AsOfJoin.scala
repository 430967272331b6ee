package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join — for each left row, attach the payload of the most
  * recent right row with the same key and right time ≤ left time (DuckDB/kdb
  * `ASOF LEFT JOIN` semantics, inclusive). An operator Spark's built-ins lack;
  * the naive formulation (inequality theta-join + argmax) degenerates to a
  * BroadcastNestedLoopJoin over every (left × right-with-same-key) pair.
  *
  * This implementation never builds that product: both sides are UNIONed into
  * one keyed timeline, and a single `last(payload, ignoreNulls) OVER
  * (PARTITION BY key ORDER BY time ROWS UNBOUNDED PRECEDING..CURRENT)` window
  * carries the latest right payload forward onto each left row. Cost is ONE
  * shuffle of left+right keyed by the join key plus a per-key sort — the same
  * profile as sessionize, and the same whale-key caveat (a key holding a large
  * fraction of both sides serializes its partition; pre-aggregate the right
  * side per (key, time) — as [[graft.RelationalQueries.qAsofLastOrder]] does — to keep
  * timelines short).
  *
  * At equal timestamps the right row sorts FIRST (side flag), so a right row
  * timestamped exactly at the left row's time IS matched — inclusive bound,
  * matching DuckDB. Right payload columns must not collide with left column
  * names; left rows with no prior right row get null payloads.
  */
object AsOfJoin {

  def asOf(left: DataFrame, right: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           payloadCols: Seq[String]): DataFrame = {
    val lCols = left.columns.toSeq
    require(payloadCols.intersect(lCols).isEmpty,
      s"payload columns ${payloadCols.intersect(lCols)} collide with left columns")
    val rSchema = right.schema
    val l = left.select(
      Seq(col(leftKey).as("__k"), col(leftTime).as("__t"), lit(1).as("__side")) ++
        lCols.map(col) ++
        payloadCols.map(c => lit(null).cast(rSchema(c).dataType).as(s"__p_$c")): _*)
    val lSchema = left.schema
    val r = right.select(
      Seq(col(rightKey).as("__k"), col(rightTime).as("__t"), lit(0).as("__side")) ++
        lCols.map(c => lit(null).cast(lSchema(c).dataType).as(c)) ++
        payloadCols.map(c => col(c).as(s"__p_$c")): _*)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.union(r)
      .select(Seq(col("__side")) ++ lCols.map(col) ++
        payloadCols.map(c => last(col(s"__p_$c"), ignoreNulls = true).over(w).as(c)): _*)
      .filter(col("__side") === 1)
      .drop("__side")
  }

  /** Whale-key-guarded as-of join: identical semantics to [[asOf]], but no window
    * partition ever holds more than one key's rows for one `chunkMs`-wide time
    * chunk — the same chunk-and-merge trick as
    * [[graft.ext.EventWindows.sessionizeChunked]], ported to carry-forward.
    *
    * [[asOf]]'s `partitionBy(key)` window serializes ALL of a key's timeline into
    * one task; a whale key (one user holding a large fraction of both sides)
    * stalls the stage. Here:
    *  1. the carry-forward window runs within (key, chunk) — parallel across a
    *     whale's chunks — marking each left row that found an in-chunk prior
    *     right row;
    *  2. each chunk's TAIL payload (its last right row) is aggregated per
    *     (key, chunk) — one row per chunk, not per event;
    *  3. a second window over the per-key CHUNK LIST (orders of magnitude smaller
    *     than the timeline) carries the latest prior tail to every chunk;
    *  4. left rows with no in-chunk match take their chunk's carried tail.
    *
    * Time columns must be NUMERIC (epoch millis) so chunk ids are exact integer
    * floor-divisions. At equal right timestamps the chunk tail picks the row with
    * the greatest payload tuple (plain [[asOf]] resolves such ties by partition
    * sort order — both are arbitrary; keep right (key, time) unique for
    * deterministic output). Payload columns must be orderable types (no maps).
    */
  def asOfChunked(left: DataFrame, right: DataFrame,
                  leftKey: String, rightKey: String,
                  leftTime: String, rightTime: String,
                  payloadCols: Seq[String], chunkMs: Long): DataFrame = {
    require(chunkMs > 0, s"chunkMs must be positive, got $chunkMs")
    val lCols = left.columns.toSeq
    require(payloadCols.intersect(lCols).isEmpty,
      s"payload columns ${payloadCols.intersect(lCols)} collide with left columns")
    val rSchema = right.schema
    val lSchema = left.schema
    // exact integer floor division (pmod keeps it right for negative epochs)
    def chunkOf(t: Column): Column =
      ((t - pmod(t, lit(chunkMs))) / lit(chunkMs)).cast("long")
    val l = left.select(
      Seq(col(leftKey).as("__k"), col(leftTime).cast("long").as("__t"),
        lit(1).as("__side")) ++
        lCols.map(col) ++
        payloadCols.map(c => lit(null).cast(rSchema(c).dataType).as(s"__p_$c")): _*)
    val r = right.select(
      Seq(col(rightKey).as("__k"), col(rightTime).cast("long").as("__t"),
        lit(0).as("__side")) ++
        lCols.map(c => lit(null).cast(lSchema(c).dataType).as(c)) ++
        payloadCols.map(c => col(c).as(s"__p_$c")): _*)
    val u = l.union(r).withColumn("__chunk", chunkOf(col("__t")))
    // 1. in-chunk carry-forward; __has marks "some prior right row in MY chunk"
    val w1 = Window.partitionBy(col("__k"), col("__chunk"))
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phase1 = u.select(
      Seq(col("__k"), col("__chunk"), col("__side"),
        last(when(col("__side") === 0, lit(1)), ignoreNulls = true).over(w1)
          .as("__has")) ++
        lCols.map(col) ++
        payloadCols.map(c =>
          last(col(s"__p_$c"), ignoreNulls = true).over(w1).as(s"__w_$c")): _*)
    // 2. per-(key, chunk) tail payload — one row per chunk with right rows
    val tails = r.withColumn("__chunk", chunkOf(col("__t")))
      .groupBy(col("__k"), col("__chunk"))
      .agg(max(struct(col("__t") +: payloadCols.map(c => col(s"__p_$c")): _*))
        .as("__tail"))
    // 3. carry the latest STRICTLY-PRIOR chunk tail across the per-key chunk list
    val w2 = Window.partitionBy(col("__k")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = u.select(col("__k"), col("__chunk")).distinct()
      .join(tails, Seq("__k", "__chunk"), "left")
      .select(col("__k"), col("__chunk"),
        last(col("__tail"), ignoreNulls = true).over(w2).as("__prev"))
    // 4. left rows: in-chunk result, else the carried tail (atomic per-row pick —
    //    a legitimately-null payload FIELD from an in-chunk match stays null)
    phase1.filter(col("__side") === 1)
      .join(carry, Seq("__k", "__chunk"))
      .select(lCols.map(col) ++ payloadCols.map(c =>
        when(col("__has").isNotNull, col(s"__w_$c"))
          .otherwise(col("__prev").getField(s"__p_$c")).as(c)): _*)
  }
}
