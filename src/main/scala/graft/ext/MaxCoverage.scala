package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import scala.collection.mutable
import scala.math.Ordering.Implicits._

/** Greedy maximum-coverage subset selection (Nemhauser, Wolsey & Fisher
  * 1978: the (1 − 1/e) greedy for monotone submodular maximization) — the
  * diverse-subset primitive of training-data curation: pick k documents
  * that together cover the most distinct features (shingles, domains,
  * topics), the exact shape of facility-location / coverage-based data
  * selection.
  *
  * Greedy is inherently sequential in k: each pick conditions the next
  * round's marginal gains. It runs here as a certified lazy greedy
  * (Minoux 1978) over one scan. The input is hash-partitioned on id once
  * (one exchange) into one row per candidate, (id, distinct features). A
  * scan broadcasts the covered set and returns, through one
  * `treeAggregate` job, the top m candidates with their features, ranked
  * by (gain desc, id asc) at that covered set, plus the best key it left
  * out (the best (gain, id) with positive gain not in the list). The driver
  * then picks rounds from that shortlist, recomputing the listed gains
  * against its own covered set, as long as the winner's current key beats
  * the left-out key: gains only fall as coverage grows, so no unlisted
  * candidate can win or tie. When the check fails it scans again at the
  * current covered set. The output is exactly the greedy's, ties → smallest
  * id included. m = 2 × the rounds left: with m = the rounds left,
  * q_max_coverage at sf0.1 needs a second scan (doc 256 loses a trigram
  * to an earlier pick), with 2 × one scan suffices.
  *
  * Scale shape: the exchange carries the input rows as they are (for
  * q_max_coverage the documents, not their trigrams) into exactly
  * `spark.sql.shuffle.partitions` partitions; the explicit count keeps
  * adaptive execution from coalescing them, so the features are built
  * after it, in that many parallel tasks. The candidate table is the only
  * corpus-sized relation and never leaves the executors; it is not cached
  * or checkpointed, so a rescan rebuilds it from the exchange's shuffle
  * output. The driver holds m candidates' features plus the covered set (at
  * most k × the largest candidate's distinct features, which is also what
  * each scan broadcasts), and each scan receives O(√P) shortlists over P
  * candidate partitions. Output: one row per pick — (round, doc_id,
  * marginal_gain, covered_total), covered_total being the size of the
  * covered set.
  */
object MaxCoverage {

  /** A scan's result: up to m (gain, id, features) in rank order, and the
    * rank key of the best candidate with positive gain left out of them. */
  private final case class Shortlist(top: Seq[(Long, Long, Array[String])],
                                     left: Option[(Long, Long)])

  /** Rank key: smaller is better (gain desc, id asc). */
  private def key(g: Long, id: Long): (Long, Long) = (-g, id)

  private def ranked(m: Int, cands: Seq[(Long, Long, Array[String])],
                     lefts: Iterable[(Long, Long)]): Shortlist = {
    val sorted = cands.sortBy { case (g, id, _) => key(g, id) }
    val dropped = sorted.lift(m).map { case (g, id, _) => key(g, id) }
    Shortlist(sorted.take(m), (lefts ++ dropped).minOption)
  }

  /** Greedily select `k` ids from `items`: each row gives the candidate
    * `idCol` and its `features`, a string (one feature) or an array of
    * strings (one feature per element); an id may span several rows, and
    * duplicates are fine (coverage is set semantics). `features` is
    * evaluated after the exchange. Rows with a null id are dropped, as are
    * null features (a null string, a null array or a null element): a null
    * feature is no feature and a null id is no candidate. Stops early when
    * no positive gain remains.
    */
  def greedySelect(items: DataFrame, idCol: String, features: Column,
                   k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be 1..64, got $k")
    val spark = items.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val id = col(idCol).cast("long")
    val fs = items.select(features).schema.head.dataType match {
      case _: ArrayType => features.cast("array<string>")
      case _ => array(features.cast("string"))
    }
    val cands = items.filter(id.isNotNull)
      .repartition(spark.sessionState.conf.numShufflePartitions, id)
      .select(id.as("id"), explode(fs).as("f"))
      .na.drop()
      .as[(Long, String)].rdd
      .mapPartitions { rows =>
        val byId = mutable.HashMap.empty[Long, mutable.HashSet[String]]
        rows.foreach { case (id, f) =>
          byId.getOrElseUpdate(id, mutable.HashSet.empty[String]) += f }
        Iterator(byId.iterator.map { case (id, fs) => (id, fs.toArray) }.toArray)
      }
    def scan(covered: Set[String], m: Int): Shortlist = {
      val cov = sc.broadcast(covered)
      val merge = (a: Shortlist, b: Shortlist) => ranked(m, a.top ++ b.top, a.left ++ b.left)
      try cands.map { block =>
          val c = cov.value
          ranked(m, block.toSeq.map { case (id, fs) =>
            (fs.count(f => !c.contains(f)).toLong, id, fs) }.filter(_._1 > 0), Nil)
        }.treeAggregate(Shortlist(Nil, None))(merge, merge)
      finally cov.destroy()
    }
    var covered = Set.empty[String]
    var short = scan(covered, 2 * k)
    val picks = Seq.newBuilder[(Int, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val best = short.top.map { case (_, id, fs) =>
          (fs.count(f => !covered.contains(f)).toLong, id, fs) }
        .minByOption { case (g, id, _) => key(g, id) }
      best match {
        case None => done = true // no candidate had a positive gain
        case Some((g, id, fs)) if short.left.forall(key(g, id) < _) =>
          if (g == 0) done = true
          else {
            covered ++= fs // the winner's own gain is 0 from here on
            picks += ((r, id, g, covered.size.toLong))
            r += 1
          }
        case _ => short = scan(covered, 2 * (k - r + 1))
      }
    }
    picks.result()
      .toDF("round", "doc_id", "marginal_gain", "covered_total")
  }
}
