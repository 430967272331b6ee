package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TemporalGraphSpec extends SparkTestBase {
  import spark.implicits._

  private def arrivals(edges: Seq[(Long, Long, Long)],
                       seeds: Seq[(Long, Long)], hops: Int) =
    TemporalGraph.earliestArrival(
        edges.toDF("u", "v", "d"), "u", "v", "d",
        seeds.toDF("node", "arr"), "node", "arr", hops)
      .as[(Long, Long)].collect().toMap

  test("a time-DECREASING two-hop path is not reachable even though the " +
    "static graph connects it") {
    val got = arrivals(Seq((1L, 2L, 5L), (2L, 3L, 3L)), Seq((1L, 0L)), 3)
    assert(got == Map(1L -> 0L, 2L -> 5L)) // 3 absent: its edge fires too early
  }

  test("min-merge keeps the earliest arrival across competing paths") {
    // 1->3 direct on day 9; 1->2 (day 2) -> 3 (day 4): two-hop wins
    val e = Seq((1L, 3L, 9L), (1L, 2L, 2L), (2L, 3L, 4L))
    val got = arrivals(e, Seq((1L, 0L)), 2)
    assert(got(3L) == 4L && got(2L) == 2L)
    assert(withCheckpointDir(arrivals(e, Seq((1L, 0L)), 2)) == got,
      "reliable checkpoints")
  }

  test("a seed's activation day gates its first hop") {
    val got = arrivals(Seq((1L, 2L, 5L), (1L, 4L, 20L)), Seq((1L, 10L)), 1)
    assert(got == Map(1L -> 10L, 4L -> 20L)) // day-5 edge predates activation
  }

  test("hops bound the path length: a 3-chain needs 3 rounds") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L))
    assert(!arrivals(e, Seq((1L, 0L)), 2).contains(4L))
    assert(arrivals(e, Seq((1L, 0L)), 3)(4L) == 3L)
  }

  test("cascadeWedges: hand-computed wedges, first-adoption collapse, " +
    "same-day and out-of-window pairs excluded") {
    // item 10: a@0 (twice - collapses), b@10, c@10, d@100
    //   wedges within 28d: a->b gap (10-1)/7 = wk1, a->c wk1; b/c same day: no
    // item 20: x@0, y@3 -> gap (3-1)/7 = wk0
    val touches = Seq(
      (1L, 10L, 0L), (1L, 10L, 7L), (2L, 10L, 10L), (3L, 10L, 10L),
      (4L, 10L, 100L), (5L, 20L, 0L), (6L, 20L, 3L)
    ).toDF("actor", "item", "d")
    val got = TemporalGraph.cascadeWedges(touches, "actor", "item", "d", 28)
      .orderBy("gap_week").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 1L), (1L, 2L, 1L)))
  }
}
