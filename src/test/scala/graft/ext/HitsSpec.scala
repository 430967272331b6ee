package graft.ext

import graft.SparkTestBase

class HitsSpec extends SparkTestBase {
  import spark.implicits._

  test("two-iteration scores on a hand-computed bipartite graph") {
    // hubs {1,2}, authorities {10,11}: 1→10, 1→11, 2→10
    // iter 1: a = (2/3, 1/3); h = (3/5, 2/5)
    // iter 2: a_raw = (1, 3/5) → a = (5/8, 3/8);
    //         h_raw = (1, 5/8) → h = (8/13, 5/13)
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    def run() = Hits.hits(edges, "src", "dst", iterations = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val out = run()
    assert(withCheckpointDir(run()) == out, "reliable checkpoints")
    assert(math.abs(out(("authority", 10L)) - 5.0 / 8.0) < 1e-6)
    assert(math.abs(out(("authority", 11L)) - 3.0 / 8.0) < 1e-6)
    assert(math.abs(out(("hub", 1L)) - 8.0 / 13.0) < 1e-6)
    assert(math.abs(out(("hub", 2L)) - 5.0 / 13.0) < 1e-6)
  }

  test("L1 invariants: each kind sums to 1; duplicate edges collapse") {
    val edges = Seq((1L, 10L), (1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L))
      .toDF("src", "dst")
    val rows = Hits.hits(edges, "src", "dst", iterations = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    Seq("authority", "hub").foreach { kind =>
      val s = rows.collect { case (`kind`, _, v) => v }.sum
      assert(math.abs(s - 1.0) < 1e-6, s"$kind sums to $s")
    }
    // the duplicate 1→10 edge must not double 10's authority over 11's base
    val a = rows.collect { case ("authority", n, v) => n -> v }.toMap
    assert(a(10L) > a(11L) && a(11L) > 0.0)
    // 3→12 is an isolated pair: hub 3 and authority 12 stay positive
    assert(rows.exists(r => r._1 == "hub" && r._2 == 3L && r._3 > 0))
  }
}
