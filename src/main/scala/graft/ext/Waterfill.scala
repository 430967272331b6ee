package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Materialize

/** Max-min fair (water-filling) budget allocation — the classic capacity
  * planner (Bertsekas & Gallager, "Data Networks" §6.5.2): give every key
  * as much of its integer demand as possible under a total budget B, never
  * letting one key starve another — allocate `min(demand, t)` where the
  * water level t is the unique threshold making the total exactly B. The
  * crawl-budget shape (per-domain fetch quotas under a politeness-bounded
  * crawler), and equally GPU-hour or ingestion-quota split.
  *
  * Closed form on the ASCENDING demand order d₁ ≤ … ≤ dₙ with inclusive
  * prefix sums Pₖ: k* = max{ k : Pₖ + (n−k)·dₖ ≤ B } (every key ranked ≤ k
  * fully satisfied), water level t = (B − Pₖ*)/(n − k*). All feasibility
  * arithmetic is INTEGER; t is the single double division at the readout,
  * so both engines agree bit-for-bit.
  *
  * Scale shape: the [[GlobalRank]] discipline — NO unpartitioned window.
  * One range-repartition on (demand, key), per-partition (count, sum)
  * scalars collected to the driver (O(#partitions) longs), local rank +
  * prefix offsets per partition, and the k* search as ONE aggregate whose
  * result broadcasts back via a 1-row cross join. The total demand comes
  * free from the same per-partition sums, so a FRACTIONAL budget costs no
  * extra job.
  */
object Waterfill {

  /** Allocate `floor(Σ demand × budgetFrac)` units max-min fairly across
    * keys, `budgetFrac` in (0,1] (1 = the whole demand is affordable).
    * Input: one row per key with an integer demand ≥ 0. Output per
    * key: (keyCol, demand, rnk, allocated, saturated) — `rnk` the global
    * ascending-demand rank (ties by key), `allocated` rounded to 6,
    * `saturated` true when the key hit the water level.
    */
  def maxMinFair(df: DataFrame, keyCol: String, demandCol: String,
                 budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac must be in (0,1], got $budgetFrac")
    val spark = df.sparkSession
    val base = df.select(col(keyCol), col(demandCol).cast("long").as("__d"))
    val sorted = base.repartitionByRange(col("__d"), col(keyCol))
      .sortWithinPartitions(col("__d"), col(keyCol))
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one tiny job: (rows, demand sum) per partition → prefix offsets
    val partStats = rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += r.getLong(r.length - 1) }
      Iterator((pid, n, s))
    }.collect().sortBy(_._1)
    val rowOff = partStats.map(_._2).scanLeft(0L)(_ + _)
    val sumOff = partStats.map(_._3).scanLeft(0L)(_ + _)
    val nTotal = rowOff.last
    val budget = math.floor(sumOff.last.toDouble * budgetFrac).toLong
    val bc = spark.sparkContext.broadcast((rowOff, sumOff))
    // local numbering + inclusive prefix sums under the broadcast offsets
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rn = bc.value._1(pid)
      var p = bc.value._2(pid)
      it.map { r =>
        val d = r.getLong(r.length - 1)
        rn += 1; p += d
        Row.fromSeq(r.toSeq :+ rn :+ p)
      }
    }
    // read twice: the k* aggregate + the readout
    val rdf = Materialize(spark.createDataFrame(ranked,
        sorted.schema.add("rnk", LongType, nullable = false)
          .add("__p", LongType, nullable = false))).df
    // the eager checkpoint above was the ranked RDD's last consumer —
    // release the cache here instead of leaking it to the caller
    rdd.unpersist(blocking = false)
    // k* = max feasible rank; P_{k*} rides in the same max (the struct is
    // ordered by rnk, so max picks the matching prefix)
    val kStar = rdf
      .select(when(col("__p") + (lit(nTotal) - col("rnk")) * col("__d") <=
          lit(budget), struct(col("rnk"), col("__p")))
        .as("__f"))
      .agg(coalesce(max(col("__f")),
        struct(lit(0L).as("rnk"), lit(0L).as("__p"))).as("__k"))
      .select(col("__k.rnk").as("__ks"), col("__k.__p").as("__pk"))
    val t = (lit(budget) - col("__pk")).cast(DoubleType) /
      (lit(nTotal) - col("__ks")).cast(DoubleType)
    rdf.crossJoin(broadcast(kStar))
      .select(col(keyCol), col("__d").as("demand"), col("rnk"),
        round(when(col("rnk") <= col("__ks"), col("__d").cast(DoubleType))
          .otherwise(t), 6).as("allocated"),
        (col("rnk") > col("__ks")).as("saturated"))
  }
}
