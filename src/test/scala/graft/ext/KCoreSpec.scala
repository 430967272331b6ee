package graft.ext

import graft.SparkTestBase

class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  // smallGraphMaxEdges = 0 forces the distributed peeling rounds on these
  // tiny fixtures; every test also runs the single-task fast path (default)
  // and asserts the two agree.
  private def core(edges: Seq[(Long, Long)], k: Int) = {
    val df = edges.toDF("src", "dst")
    val dist = KCore.kCore(df, "src", "dst", k, smallGraphMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = KCore.kCore(df, "src", "dst", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == fast, s"distributed $dist vs single-task $fast")
    dist
  }

  test("triangle with pendant chain: 2-core strips the chain recursively") {
    // 1-2-3 triangle; 3-4-5 chain. Peeling 5 (deg 1) exposes 4, which must
    // also fall — the recursive case a single-pass degree filter gets wrong.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val out = core(edges, 2)
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out.values.forall(_ == 2))
  }

  test("k larger than any core yields empty") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(core(edges, 3).isEmpty)
  }

  test("k=1 drops only isolated self-loops, keeps every real edge endpoint") {
    val edges = Seq((1L, 2L), (3L, 3L), (4L, 5L))
    assert(core(edges, 1).keySet == Set(1L, 2L, 4L, 5L))
  }

  test("matches brute-force peeling on a random graph") {
    val rnd = new scala.util.Random(13)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)).filter(t => t._1 != t._2)
    val k = 4
    // driver-side reference peeling
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    var changed = true
    while (changed) {
      val deg = es.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != es.size
      es = next
    }
    val expect = es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(core(edges, k) == expect)
    assert(withCheckpointDir(core(edges, k)) == expect, "reliable checkpoints")
  }
}
