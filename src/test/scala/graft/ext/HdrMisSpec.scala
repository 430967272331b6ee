package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-11 batch-8 specs: log-linear (HDR/DDSketch-family) quantile audit
  * and deterministic Luby MIS.
  */
class HdrMisSpec extends SparkTestBase {
  import spark.implicits._

  // --------------------------------------------------------------------------
  // HdrHistogram.quantileAudit
  // --------------------------------------------------------------------------

  test("hdr: exact replay of the bucket arithmetic on a known set") {
    // values 1..1000, k = 16. Independent Scala replay of the sketch.
    val vals = (1L to 1000L)
    val k = 16
    def bucket(v: Long): (Long, Long) = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val p2 = 1L << e
      (e.toLong, (v - p2) * k / p2)
    }
    val counts = vals.groupBy(bucket).map { case (b, vs) => (b, vs.size.toLong) }
      .toSeq.sortBy(_._1)
    def bounds(e: Long, sub: Long): (Long, Long) = {
      val p2 = 1L << e.toInt
      (p2 + sub * p2 / k, p2 + (sub + 1) * p2 / k)
    }
    def sketchEst(pct: Int): Long = {
      val n = vals.size.toLong
      val target = (n * pct + 99) / 100
      var cum = 0L
      val it = counts.iterator
      var res = -1L
      while (it.hasNext && res < 0) {
        val ((e, sub), c) = it.next(); cum += c
        if (cum >= target) { val (lo, hi) = bounds(e, sub); res = (lo + hi) / 2 }
      }
      res
    }
    val df = vals.toDF("v")
    val out = HdrHistogram.quantileAudit(df, "v", k, Seq(50, 90, 99))
      .orderBy("pct").collect()
    for ((row, pct) <- out.zip(Seq(50, 90, 99))) {
      assert(row.getInt(0) == pct)
      assert(row.getLong(1) == 1000L, "n")
      assert(row.getLong(2) == sketchEst(pct), s"est at p$pct")
      val exact = (1000L * pct + 99) / 100 // values are 1..1000 so rank = value
      assert(row.getLong(3) == exact, s"exact at p$pct")
    }
  }

  test("hdr: relative error stays within the 1/k log-linear guarantee") {
    // Long-tailed values: powers scattered over 5 octaves, k = 32.
    val rnd = new scala.util.Random(11)
    val vals = (0 until 5000).map(_ => (math.exp(rnd.nextDouble() * 10) + 1).toLong)
    val out = HdrHistogram.quantileAudit(vals.toDF("v"), "v", 32,
      Seq(25, 50, 75, 90, 99)).collect()
    assert(out.length == 5)
    // bucket width ≤ p2/k on [p2, 2p2) → midpoint error ≤ 1/(2k) + 1 ulp slack
    out.foreach { r =>
      assert(math.abs(r.getDouble(4)) <= 1.0 / 32 + 1e-6,
        s"p${r.getInt(0)} rel_err ${r.getDouble(4)}")
    }
  }

  test("hdr: values below 1 are dropped, k out of range raises") {
    val df = Seq(-5L, 0L, 1L, 2L, 3L).toDF("v")
    val out = HdrHistogram.quantileAudit(df, "v", 16, Seq(100)).collect()
    assert(out.head.getLong(1) == 3L, "n counts only positive values")
    intercept[IllegalArgumentException] {
      HdrHistogram.quantileAudit(df, "v", 1, Seq(50))
    }
    intercept[IllegalArgumentException] {
      HdrHistogram.quantileAudit(df, "v", 16, Seq(0))
    }
  }

  // --------------------------------------------------------------------------
  // Mis.luby
  // --------------------------------------------------------------------------

  private def md5h32(s: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(8), 16)

  private def prio(v: Long): Long = md5h32(v.toString) * 2147483648L + v

  /** Plain-Scala Luby replay over an adjacency map. */
  private def lubyReplay(adj: Map[Long, Set[Long]],
                         rounds: Int): Map[Long, (String, Int)] = {
    var active = adj.keySet
    var out = Map.empty[Long, (String, Int)]
    for (r <- 1 to rounds if active.nonEmpty) {
      val mis = active.filter { n =>
        val nbrs = adj(n).intersect(active)
        nbrs.isEmpty || prio(n) < nbrs.map(prio).min
      }
      val dom = active.diff(mis).filter(n => adj(n).exists(mis.contains))
      out ++= mis.map(_ -> ("mis", r)) ++ dom.map(_ -> ("dominated", r))
      active = active.diff(mis).diff(dom)
    }
    out ++ active.map(_ -> ("undecided", 0))
  }

  test("mis: exact match with an independent Luby replay on a seeded graph") {
    val rnd = new scala.util.Random(23)
    val edges = (0 until 400).map(_ => (rnd.nextInt(60).toLong,
      rnd.nextInt(60).toLong)).filter(e => e._1 != e._2).distinct
    val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val sym = edges.flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    def run() = Mis.luby(sym, "src", "dst", rounds = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val got = run()
    val want = lubyReplay(adj, 3)
    assert(got == want)
    assert(withCheckpointDir(run()) == got, "reliable checkpoints")
  }

  test("mis: independence and maximality invariants hold") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 1500).map(_ => (rnd.nextInt(200).toLong,
      rnd.nextInt(200).toLong)).filter(e => e._1 != e._2).distinct
    val adjSet = edges.flatMap(e => Seq(e, e.swap)).toSet
    val sym = edges.flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    val rows = Mis.luby(sym, "src", "dst", rounds = 4).collect()
    val mis = rows.filter(_.getString(1) == "mis").map(_.getLong(0)).toSet
    val dom = rows.filter(_.getString(1) == "dominated").map(_.getLong(0)).toSet
    // independence: no edge inside the MIS
    assert(!adjSet.exists(e => mis.contains(e._1) && mis.contains(e._2)))
    // every dominated node touches a MIS node
    dom.foreach { d =>
      assert(adjSet.exists(e => e._1 == d && mis.contains(e._2)), s"dom $d")
    }
    // partition: every node decided or undecided exactly once
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("mis: a star graph resolves fully in one round") {
    // center 0 vs leaves 1..10: whoever wins the priority comparison takes
    // the whole graph in round 1 (center in MIS → all leaves dominated, or
    // center dominated once some leaf with lower prio enters).
    val edges = (1L to 10L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val rows = Mis.luby(edges, "src", "dst", rounds = 2).collect()
    assert(rows.forall(_.getString(1) != "undecided"))
    val misNodes = rows.filter(_.getString(1) == "mis").map(_.getLong(0)).toSet
    if (misNodes.contains(0L)) assert(misNodes == Set(0L))
    else assert(misNodes == (1L to 10L).toSet)
  }
}
