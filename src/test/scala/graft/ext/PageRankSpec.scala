package graft.ext

import graft.SparkTestBase

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank: ranks sum to ~1 and a hub outranks leaves") {
    // star graph: node 0 connected to 1..5 (symmetrized)
    val edges = ((1L to 5L).map(i => (0L, i)) ++ (1L to 5L).map(i => (i, 0L)))
      .toDF("src", "dst")
    val pr = PageRank.pageRank(edges, "src", "dst", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"ranks must sum to 1: ${pr.values.sum}")
    assert(pr(0L) > pr(1L) * 2, s"hub should dominate: $pr")
    // leaves are symmetric → equal ranks
    assert((1L to 5L).map(pr).distinct.size == 1)
  }

  test("pageRank matches a hand-rolled local power iteration") {
    val rng = new scala.util.Random(5)
    val rawEdges = (0 until 80).map { _ =>
      (rng.nextInt(12).toLong, rng.nextInt(12).toLong)
    }.filter { case (a, b) => a != b }.distinct
    val sym = (rawEdges ++ rawEdges.map(_.swap)).distinct
    def run() = PageRank.pageRank(sym.toDF("src", "dst"), "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = run()
    assert(withCheckpointDir(run()) == got, "reliable checkpoints")

    // local reference implementation (plain doubles — values agree to 1e-9
    // because the distributed DECIMAL sums are exact)
    val nodes = sym.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = sym.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val deg = out.map { case (s, ds) => s -> ds.size }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    (1 to 5).foreach { _ =>
      val contrib = scala.collection.mutable.Map[Long, BigDecimal]()
        .withDefaultValue(BigDecimal(0))
      out.foreach { case (s, ds) =>
        val c = BigDecimal(pr(s) / deg(s))
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)
        ds.foreach(d => contrib(d) += c)
      }
      pr = nodes.map(v => v -> ((1.0 - 0.85) / n + 0.85 * contrib(v).toDouble)).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - pr(v)) < 1e-9, s"node $v: ${got(v)} vs ${pr(v)}")
    }
  }

  test("pageRank: dangling-free undirected graphs preserve total mass") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val pr = PageRank.pageRank(edges, "src", "dst", iterations = 5)
      .collect().map(_.getDouble(1))
    assert(math.abs(pr.sum - 1.0) < 1e-9)
  }
}
