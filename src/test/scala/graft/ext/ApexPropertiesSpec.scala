package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties for graft.ext operators behind catalog queries of
  * the stats, similarity, text and metrics families — invariants that hold
  * for EVERY input, on generated data with fixed seeds (the
  * Round8PropertiesSpec convention).
  */
class ApexPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val xyGen: Gen[List[(Double, Double)]] = for {
    n <- Gen.choose(5, 60)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(-50.0, 50.0),
      Gen.choose(-50.0, 50.0)))
  } yield rows

  test("spearman: rho is always in [-1, 1] and rho(x, x) = 1 on any data " +
    "with at least two distinct values") {
    (1 to 6).foreach { seed =>
      val rows = sample(xyGen, seed)
      val df = rows.toDF("x", "y")
      val rho = RankCorr.spearman(df, "x", "y").collect().head.getDouble(1)
      if (!rho.isNaN)
        assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"seed $seed: $rho")
      val selfDf = rows.zipWithIndex
        .map { case ((x, _), i) => (x + i, x + i) }.toDF("x", "y")
      val self = RankCorr.spearman(selfDf, "x", "y").collect().head.getDouble(1)
      assert(approx(self, 1.0), s"seed $seed: self-rho $self")
    }
  }

  test("countMinTopKAudit: CMS never underestimates on any multiset, at " +
    "any sketch width") {
    val gen = for {
      n <- Gen.choose(10, 200)
      items <- Gen.listOfN(n, Gen.choose(1L, 30L))
      w <- Gen.oneOf(4, 16, 64)
    } yield (items, w)
    (1 to 6).foreach { seed =>
      val (items, w) = sample(gen, seed)
      val audit = Sketches.countMinTopKAudit(items.toDF("item_id"), "item_id",
        k = 5, depth = 3, width = w).collect()
      audit.foreach { r =>
        assert(r.getAs[Long]("overestimate") >= 0L,
          s"seed $seed width $w: underestimate at $r")
      }
    }
  }

  test("bcubed: precision, recall and F1 are in (0, 1] for any non-empty " +
    "assignment, and F1 is between min and max of P and R") {
    val gen = for {
      n <- Gen.choose(4, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(1L, 6L), Gen.choose(1L, 4L)))
    } yield rows
    (1 to 6).foreach { seed =>
      val rows = sample(gen, seed).zipWithIndex
        .map { case ((cl, g), i) => (i.toLong, cl, s"g$g") }
      val assign = rows.map(r => (r._1, r._2)).toDF("id", "cl")
      val gold = rows.map(r => (r._1, r._3)).toDF("id", "cls")
      val o = ClusterEval.bcubed(assign, "id", "cl", gold, "id", "cls")
        .collect().head
      val (p, r, f) = (o.getAs[Double]("bcubed_p"), o.getAs[Double]("bcubed_r"),
        o.getAs[Double]("bcubed_f"))
      assert(p > 0 && p <= 1 + 1e-9 && r > 0 && r <= 1 + 1e-9,
        s"seed $seed: P=$p R=$r")
      assert(f >= math.min(p, r) - 1e-9 && f <= math.max(p, r) + 1e-9,
        s"seed $seed: F1 $f outside [min,max] of ($p, $r)")
    }
  }

  test("effectiveSampleSize: 1 <= ESS <= n for any positive weights; " +
    "scaling all weights leaves ESS unchanged") {
    val gen = for {
      n <- Gen.choose(2, 40)
      ws <- Gen.listOfN(n, Gen.choose(1L, 1000L))
    } yield ws
    (1 to 6).foreach { seed =>
      val ws = sample(gen, seed)
      val df = ws.map(w => ("g", w)).toDF("grp", "w")
      val o = Importance.effectiveSampleSize(df, "grp",
        col("w").cast("decimal(18,9)")).collect().head
      val ess = o.getAs[Double]("ess")
      assert(ess >= 1.0 - 1e-9 && ess <= ws.size + 1e-9,
        s"seed $seed: ESS $ess outside [1, ${ws.size}]")
      val scaled = ws.map(w => ("g", w * 7)).toDF("grp", "w")
      val e2 = Importance.effectiveSampleSize(scaled, "grp",
        col("w").cast("decimal(18,9)")).collect().head.getAs[Double]("ess")
      assert(approx(ess, e2, 1e-9), s"seed $seed: scale-variant ESS $ess $e2")
    }
  }

  test("histQuantilesAudit: estimates always land inside [min, max] and " +
    "are monotone in p, for any data") {
    val gen = for {
      n <- Gen.choose(20, 300)
      vs <- Gen.listOfN(n, Gen.choose(-1000.0, 1000.0))
    } yield vs
    (1 to 6).foreach { seed =>
      val vs = sample(gen, seed)
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "k")
      val out = HistSketch.histQuantilesAudit(df, "v", Seq("k"),
        Seq(0.1, 0.5, 0.9), bins = 16).collect()
      val ests = out.map(_.getAs[Double]("est"))
      assert(ests.sliding(2).forall(p => p(0) <= p(1) + 1e-9),
        s"seed $seed: non-monotone ${ests.toSeq}")
      ests.foreach(e => assert(e >= vs.min - 1e-9 && e <= vs.max + 1e-9,
        s"seed $seed: $e outside [${vs.min}, ${vs.max}]"))
    }
  }

  test("kneserNeyBigramNll: NLL is strictly positive (interpolated p < 1 " +
    "whenever the corpus has more than one bigram type)") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val gen = for {
      n <- Gen.choose(2, 10)
      docs <- Gen.listOfN(n, Gen.listOfN(8, word).map(_.mkString(" ")))
    } yield docs
    (1 to 6).foreach { seed =>
      val docs = sample(gen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = TextQuality.kneserNeyBigramNll(docs, "doc_id", "text")
        .collect()
      out.foreach { r =>
        assert(r.getAs[Double]("kn_nll") >= -1e-9,
          s"seed $seed: negative NLL at $r")
      }
    }
  }

  test("topKTurnover: jaccard is always in [0, 1]") {
    def day(d: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(d.toLong))
    val gen = for {
      n <- Gen.choose(20, 150)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 9), Gen.choose(1L, 12L)))
    } yield rows
    (1 to 6).foreach { seed =>
      val rows = sample(gen, seed).map { case (d, u) => (day(d), u) }
      val out = RankCompare.topKTurnover(rows.toDF("d", "uid"), col("d"),
        "uid", k = 3).collect()
      out.foreach { r =>
        val j = r.getAs[Double]("jaccard")
        assert(j >= -1e-9 && j <= 1.0 + 1e-9, s"seed $seed: $j")
      }
    }
  }
}
