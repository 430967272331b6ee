package graft.ext

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Greedy maximum-coverage subset selection (Nemhauser, Wolsey & Fisher
  * 1978: the (1 − 1/e) greedy for monotone submodular maximization) — the
  * diverse-subset primitive of training-data curation: pick k documents
  * that together cover the most distinct features (shingles, domains,
  * topics), the exact shape of facility-location / coverage-based data
  * selection.
  *
  * Greedy is inherently sequential in k: each pick conditions the next
  * round's marginal gains. The input is hash-partitioned on id once (one
  * exchange) into one row per candidate, (id, distinct features), and that
  * table is the only thing checkpointed. Each partition stores its rows as
  * one array, so caching it sizes a sample of the rows instead of walking
  * every feature string (for q_max_coverage on 4 cores at sf0.1 the walk
  * took ~0.6 s, more than all six rounds). The covered set lives on the
  * driver as the union of the winners' features. Per round, the covered
  * set is broadcast, every partition computes |F(c) \ covered| for its
  * candidates and returns only its local best (gain, id, partition) —
  * ties → smallest id, so the pick is deterministic — and a one-task job
  * on the winner's partition returns the winner's features: two narrow
  * jobs per round, no shuffle and no query planning.
  *
  * Scale shape: the candidate table is the only corpus-sized relation
  * and never leaves the executors. The driver holds the k picks and the
  * covered set (at most k × the largest candidate's distinct features,
  * which is also what each round broadcasts), and per round receives one
  * (gain, id, partition) triple per partition plus one candidate's
  * features. Output: one row per pick — (round, doc_id, marginal_gain,
  * covered_total), covered_total being the size of the covered set.
  */
object MaxCoverage {

  /** Greedily select `k` ids from `items` (idCol, featureCol — duplicates
    * fine, coverage is set semantics). Rows whose id or feature is null
    * are dropped: a null feature is no feature and a null id is no
    * candidate. Stops early when no positive gain remains.
    */
  def greedySelect(items: DataFrame, idCol: String, featureCol: String,
                   k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be 1..64, got $k")
    val spark = items.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val cands = items.select(col(idCol).cast("long").as("id"),
        col(featureCol).cast("string").as("f"))
      .na.drop()
      .repartition(col("id"))
      .as[(Long, String)].rdd
      .mapPartitions { rows =>
        val byId = mutable.HashMap.empty[Long, mutable.HashSet[String]]
        rows.foreach { case (id, f) =>
          byId.getOrElseUpdate(id, mutable.HashSet.empty[String]) += f }
        Iterator(byId.iterator.map { case (id, fs) => (id, fs.toArray) }.toArray)
      }
      .localCheckpoint() // materialized by round 1, scanned every round
    var covered = Set.empty[String]
    val picks = Seq.newBuilder[(Int, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val cov = sc.broadcast(covered)
      val best = cands.mapPartitions { blocks =>
        val c = cov.value
        var (bg, bid) = (0L, Long.MaxValue)
        blocks.foreach(_.foreach { case (id, fs) =>
          val g = fs.count(f => !c.contains(f)).toLong
          if (g > bg || (g == bg && id < bid)) { bg = g; bid = id }
        })
        if (bg > 0) Iterator((bg, bid, TaskContext.getPartitionId()))
        else Iterator.empty
      }.collect()
      cov.destroy()
      if (best.isEmpty) done = true
      else {
        val (g, id, part) = best.minBy { case (g, id, _) => (-g, id) }
        covered ++= sc.runJob(cands,
          (blocks: Iterator[Array[(Long, Array[String])]]) =>
            blocks.flatMap(_.iterator).collectFirst { case (`id`, fs) => fs }.get,
          Seq(part)).head
        picks += ((r, id, g, covered.size.toLong))
        r += 1
      }
    }
    picks.result()
      .toDF("round", "doc_id", "marginal_gain", "covered_total")
  }
}
