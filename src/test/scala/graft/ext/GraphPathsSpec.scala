package graft.ext

import graft.SparkTestBase

class GraphPathsSpec extends SparkTestBase {
  import spark.implicits._

  test("bfsLevels: star graph is one hop from the hub") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("s", "t")
    val out = GraphPaths.bfsLevels(star, "s", "t")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 1L, 1 -> 4L))
  }

  test("bfsLevels: path graph seeds at the (max-degree, min-id) node and " +
    "levels are true hop distances") {
    // path 1-2-3-4-5: degrees 1,2,2,2,1 → seed = node 2 (min id at degree 2)
    // distances from 2: {2:0, 1:1, 3:1, 4:2, 5:3}
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    def run() = GraphPaths.bfsLevels(path, "s", "t")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val out = run()
    assert(out == Map(0 -> 1L, 1 -> 2L, 2 -> 1L, 3 -> 1L))
    assert(withCheckpointDir(run()) == out, "reliable checkpoints")
  }

  test("bfsLevels: the depth cap truncates and disconnected components " +
    "never appear") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain at the hub
      (10L, 11L)).toDF("s", "t")                        // island
    val out = GraphPaths.bfsLevels(g, "s", "t", maxDepth = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0, 1, 2), s"capped at depth 2: $out")
    assert(out.values.sum == 4L, "island nodes 10/11 unreached")
  }
}
