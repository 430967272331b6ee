package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-11 batch-10 specs: greedy maximal matching and the columnar
  * encoding advisor.
  */
class MatchingEncodingSpec extends SparkTestBase {
  import spark.implicits._

  // --------------------------------------------------------------------------
  // Matching.maximalMatching
  // --------------------------------------------------------------------------

  private def prioStr(a: Long, b: Long): String = {
    val h = org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$a:$b")
    f"$h:$a%012d:$b%012d"
  }

  /** Plain-Scala replay of the parallel greedy rounds. */
  private def matchReplay(edges: Set[(Long, Long)],
                          rounds: Int): Map[(Long, Long), (String, Int)] = {
    var alive = edges
    var out = Map.empty[(Long, Long), (String, Int)]
    for (r <- 1 to rounds) {
      val nodeMin = alive.flatMap(e => Seq(e._1 -> prioStr(e._1, e._2),
          e._2 -> prioStr(e._1, e._2)))
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).min }
      val matched = alive.filter(e =>
        prioStr(e._1, e._2) == nodeMin(e._1) &&
        prioStr(e._1, e._2) == nodeMin(e._2))
      val mNodes = matched.flatMap(e => Seq(e._1, e._2))
      val dropped = alive.diff(matched)
        .filter(e => mNodes.contains(e._1) || mNodes.contains(e._2))
      out ++= matched.map(_ -> ("matched", r)) ++
        dropped.map(_ -> ("dropped", r))
      alive = alive.diff(matched).diff(dropped)
    }
    out ++ alive.map(_ -> ("unmatched", 0))
  }

  test("matching: exact match with an independent replay on a seeded graph") {
    val rnd = new scala.util.Random(17)
    val edges = (0 until 400).map(_ => (rnd.nextInt(60).toLong,
        rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    def run() = Matching.maximalMatching(edges.toSeq.toDF("src", "dst"),
        "src", "dst", rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getInt(3)))).toMap
    val got = run()
    assert(got == matchReplay(edges, 3))
    assert(withCheckpointDir(run()) == got, "reliable checkpoints")
  }

  test("matching: matched edges are vertex-disjoint and maximal") {
    val rnd = new scala.util.Random(29)
    val edges = (0 until 1200).map(_ => (rnd.nextInt(150).toLong,
        rnd.nextInt(150).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val rows = Matching.maximalMatching(edges.toSeq.toDF("src", "dst"),
      "src", "dst", rounds = 5).collect()
    val matched = rows.filter(_.getString(2) == "matched")
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = matched.flatMap(e => Seq(e._1, e._2))
    assert(nodes.distinct.length == nodes.length, "vertex-disjoint")
    val mSet = nodes.toSet
    // every dropped edge touches a matched vertex
    rows.filter(_.getString(2) == "dropped").foreach { r =>
      assert(mSet.contains(r.getLong(0)) || mSet.contains(r.getLong(1)))
    }
    // maximality: an `unmatched` edge has two free endpoints, i.e. the
    // round budget did not converge — 5 rounds on this size must finish
    assert(!rows.exists(_.getString(2) == "unmatched"), "converged")
    // partition: every input edge classified exactly once
    assert(rows.length == edges.size)
  }

  test("matching: a single edge matches in round 1") {
    val rows = Matching.maximalMatching(Seq((5L, 3L)).toDF("src", "dst"),
      "src", "dst", rounds = 1).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 3L && rows.head.getLong(1) == 5L)
    assert(rows.head.getString(2) == "matched" && rows.head.getInt(3) == 1)
  }

  // --------------------------------------------------------------------------
  // EncodingAdvisor.advise
  // --------------------------------------------------------------------------

  test("encoding advisor: exact costs on a hand-laid table") {
    // one group g=1, seq 1..6; col c: values a,a,a,b,b,a
    // runs = 3 (a*3, b*2, a), plain = 6 bytes, ndv = 2 -> bits = 1
    // dict = ceil(6*1/8)=1 + 2 = 3; rle = 3 runs * (1+4) = 15
    val df = Seq((1L, 1, "a"), (1L, 2, "a"), (1L, 3, "a"),
      (1L, 4, "b"), (1L, 5, "b"), (1L, 6, "a")).toDF("g", "s", "c")
    val r = EncodingAdvisor.advise(df, col("g"), col("s"), Seq("c"))
      .collect().head
    assert(r.getString(0) == "c")
    assert(r.getLong(1) == 6L, "n")
    assert(r.getLong(2) == 2L, "ndv")
    assert(r.getLong(3) == 3L, "runs")
    assert(r.getLong(5) == 6L, "plain")
    assert(r.getLong(6) == 3L, "dict")
    assert(r.getLong(7) == 15L, "rle")
    assert(r.getString(8) == "dict")
  }

  test("encoding advisor: group boundaries break runs; constant col costs") {
    // same value everywhere but 3 groups -> 3 runs
    val df = (1 to 9).map(i => ((i - 1) / 3, i, "x")).toDF("g", "s", "c")
    val r = EncodingAdvisor.advise(df, col("g"), col("s"), Seq("c"))
      .collect().head
    assert(r.getLong(3) == 3L, "one run per group")
    // plain = 9, dict = ceil(9*1/8)+1 = 2+1 = 3, rle = 3*(1+4) = 15
    assert(r.getLong(5) == 9L && r.getLong(6) == 3L && r.getLong(7) == 15L)
    assert(r.getString(8) == "dict")
  }

  test("encoding advisor: high-cardinality column falls back to plain") {
    val df = (1 to 64).map(i => (1L, i, i.toString)).toDF("g", "s", "c")
    val r = EncodingAdvisor.advise(df, col("g"), col("s"), Seq("c"))
      .collect().head
    assert(r.getLong(2) == 64L)
    // every value distinct: runs = 64; plain < dict (dict adds index bits)
    assert(r.getString(8) == "plain")
  }
}
