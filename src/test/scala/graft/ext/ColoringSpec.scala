package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-11 batch-11 spec: Jones-Plassmann coloring. */
class ColoringSpec extends SparkTestBase {
  import spark.implicits._

  private def md5h32(s: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(8), 16)

  private def prio(v: Long): Long = md5h32(v.toString) * 2147483648L + v

  /** Plain-Scala JP replay over an adjacency map. */
  private def jpReplay(adj: Map[Long, Set[Long]],
                       rounds: Int): Map[Long, (Int, Int)] = {
    var colored = Map.empty[Long, (Int, Int)] // node -> (color, round)
    for (r <- 1 to rounds) {
      val active = adj.keySet.diff(colored.keySet)
      val winners = active.filter { n =>
        val unc = adj(n).intersect(active)
        unc.isEmpty || prio(n) < unc.map(prio).min
      }
      val picks = winners.map { w =>
        val used = adj(w).flatMap(colored.get).map(_._1)
        val mex = Iterator.from(0).find(c => !used.contains(c)).get
        w -> ((mex, r))
      }
      colored ++= picks
    }
    colored ++ adj.keySet.diff(colored.keySet).map(_ -> ((-1, 0)))
  }

  test("coloring: exact match with an independent JP replay") {
    val rnd = new scala.util.Random(41)
    val edges = (0 until 500).map(_ => (rnd.nextInt(70).toLong,
      rnd.nextInt(70).toLong)).filter(e => e._1 != e._2).distinct
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    def run() = Coloring.jonesPlassmann(edges.toDF("src", "dst"),
        "src", "dst", rounds = 4).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val got = run()
    assert(got == jpReplay(adj, 4))
    assert(withCheckpointDir(run()) == got, "reliable checkpoints")
  }

  test("coloring: colored nodes form a proper partial coloring") {
    val rnd = new scala.util.Random(53)
    val edges = (0 until 2000).map(_ => (rnd.nextInt(200).toLong,
      rnd.nextInt(200).toLong)).filter(e => e._1 != e._2).distinct
    val rows = Coloring.jonesPlassmann(edges.toDF("src", "dst"),
      "src", "dst", rounds = 6).collect()
    val color = rows.filter(_.getInt(1) >= 0)
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    edges.foreach { case (a, b) =>
      if (color.contains(a) && color.contains(b))
        assert(color(a) != color(b), s"edge ($a,$b) monochromatic")
    }
    // every node classified exactly once
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    // colors are compact: a color c > 0 implies its holder saw 0..c-1 used,
    // so max color is bounded by max degree
    val maxDeg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .values.map(_.size).max
    assert(color.values.max <= maxDeg)
  }

  test("coloring: a path 3-node graph colors fully in <= 3 rounds") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rows = Coloring.jonesPlassmann(edges, "src", "dst", rounds = 3)
      .collect()
    assert(rows.forall(_.getInt(1) >= 0), "all colored")
    val c = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(c(1L) != c(2L) && c(2L) != c(3L))
  }
}
