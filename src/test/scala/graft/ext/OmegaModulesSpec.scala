package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hand-computed closed forms + invariants for the round-10 modules:
  * residual PQ, power-iteration PCA, binary-segmentation changepoint, SAX
  * motifs, interval concurrency, truncated harmonic centrality, HLL set
  * ops, JSONL round-trip, Bloom pre-join audit.
  */
class OmegaModulesSpec extends SparkTestBase {
  import spark.implicits._

  private def day(d: Int) = java.sql.Date.valueOf(f"2024-01-$d%02d")

  test("binarySegmentSplit finds the obvious break with exact means") {
    // 5 days at 1000, then 5 days at 5000 (cents)
    val rows = (1 to 10).map(d =>
      (day(d), java.math.BigDecimal.valueOf(if (d <= 5) 1000 else 5000)))
    val out = Series.binarySegmentSplit(rows.toDF("day", "x"), "day", "x")
      .collect().head
    assert(out.getDate(0) == day(6), "split at the first right-segment day")
    assert(out.getLong(1) == 5L && out.getLong(2) == 5L)
    assert(approx(out.getDouble(3), 1000.0) && approx(out.getDouble(4), 5000.0))
    // perfect step: split SSE is 0, full SSE = n/4 * (5000-1000)^2 * ... > 0
    assert(approx(out.getDouble(6), 0.0) && out.getDouble(5) > 0.0)
    assert(approx(out.getDouble(7), 1.0), "gain_share = 1 on a perfect step")
  }

  test("binarySegmentSplit on a flat series: zero gain, first-split tie") {
    val rows = (1 to 6).map(d => (day(d), java.math.BigDecimal.valueOf(700)))
    val out = Series.binarySegmentSplit(rows.toDF("day", "x"), "day", "x")
      .collect().head
    assert(out.getDate(0) == day(2), "all costs tie at 0 -> smallest t wins")
    assert(approx(out.getDouble(5), 0.0) && approx(out.getDouble(6), 0.0))
    assert(out.isNullAt(7), "gain undefined on a flat series")
  }

  test("binarySegmentSplit picks the same break as its between-SSE dual " +
      "ChangeDetect.bestSplit") {
    // noisy series with a planted level shift at day 13
    val rows = (1 to 24).map { d =>
      val base = if (d <= 12) 2000 else 5000
      (day(d), java.math.BigDecimal.valueOf(base + (d * 37) % 100))
    }
    val mine = Series.binarySegmentSplit(rows.toDF("day", "x"), "day", "x")
      .collect().head
    val dual = ChangeDetect.bestSplit(
        rows.map { case (d, x) => ("g", d, x) }.toDF("g", "day", "v"),
        "g", "day", "v")
      .collect().head
    // bestSplit reports the LAST LEFT day; binarySegmentSplit the first
    // right day — adjacent by construction
    val lastLeft = dual.getDate(dual.fieldIndex("split_day"))
    assert(mine.getDate(0) == day(13) &&
      lastLeft == day(12),
      s"duals disagree: ${mine.getDate(0)} vs $lastLeft")
  }

  test("saxMotifs: alternating high/low frames yield the alternating word") {
    // 1-day PAA frames, values alternate far above/below the mean
    val rows = (1 to 12).map(d =>
      (day(d), java.math.BigDecimal.valueOf(if (d % 2 == 0) 1000 else 9000)))
    val out = Series.saxMotifs(rows.toDF("day", "x"), "day", "x",
        paaWidth = 1, wordLen = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // z alternates ± the same magnitude -> symbols d,a,d,a,... words dad/ada
    assert(out.keySet == Set("dad", "ada"), s"words: $out")
    assert(out.values.sum == 10L, "12 frames -> 10 full words")
  }

  test("intervalConcurrency: hand-counted overlaps, raise on reversed span") {
    val rows = Seq((day(1), day(3)), (day(2), day(5)), (day(4), day(4)))
      .toDF("s", "e")
    val out = EventStats.intervalConcurrency(rows, "s", "e")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDate(2)))
    // opens: d1=1 d2=2 d3=2 d4=3? no: [1,3],[2,5],[4,4] ->
    // d1:1 d2:2 d3:2 d4:3(=[2,5]+[4,4]... [1,3] closed) -> actually
    // d4 has [2,5],[4,4] = 2. Peak is 2 first reached on day 2.
    assert(out.length == 1)
    assert(out.head._1 == "2024-01" && out.head._2 == 2L &&
      out.head._3 == day(2), s"got ${out.head}")
    val bad = Seq((day(5), day(2))).toDF("s", "e")
    val ex = intercept[Exception] {
      EventStats.intervalConcurrency(bad, "s", "e").collect()
    }
    assert(ex.getMessage.contains("interval ends before start"))
  }

  test("harmonicCentrality on a path graph matches the closed form") {
    // path 1-2-3-4-5-6: seed 1 reaches 2@1, 3@2, 4@3 within 3 hops
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L),
      (5L, 6L, 1L)).toDF("src", "dst", "w")
    val out = GraphPaths.harmonicCentrality(edges, "src", "dst", nSeeds = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((1L, 1L, 1L, 1.0 + 0.5 + 1.0 / 3.0)))
    // seed 2 reaches 1,3 @1; 4 @2; 5 @3
    assert(out(2L) == ((2L, 1L, 1L, 2.0 + 0.5 + 1.0 / 3.0)))
  }

  test("hllIntersectAudit: estimates track truth; union bounded by parts") {
    val a = (1L to 400L).toDF("k")
    val b = (201L to 600L).toDF("k")
    val r = Sketches.hllIntersectAudit(a, b, "k", b = 6).collect().head
    val (estA, estB, estU, estI) =
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(r.getLong(5) == 200L, "true intersect")
    // register-max union can never exceed the sum of the parts and never
    // fall below either part
    assert(estU <= estA + estB + 1e-9 && estU >= math.max(estA, estB) - 1e-9)
    // b=6 HLL rel. error ~ 1.04/sqrt(64) = 13%; allow 3 sigma on each term
    assert(math.abs(estA - 400) / 400 < 0.45, s"est_a $estA")
    assert(math.abs(estI - 200) < 250, s"est_intersect $estI far off")
    // identical sets: intersection estimate collapses to the set estimate
    val same = Sketches.hllIntersectAudit(a, a, "k", b = 6).collect().head
    assert(approx(same.getDouble(4), same.getDouble(1), 1e-9))
    assert(approx(same.getDouble(6), 1.0, 1e-9), "jaccard_est of A with A")
  }

  test("bloomPrejoinAudit: no false negatives, row accounting adds up") {
    val dim = (1L to 10L).toDF("pk")
    // fact rows: key k repeated k%3+1 times, keys 1..50
    val facts = (1L to 50L).flatMap(k => Seq.fill((k % 3 + 1).toInt)(k))
      .toDF("fk")
    val r = Sketches.bloomPrejoinAudit(facts, col("fk"), dim, col("pk"),
      wWords = 8, kHashes = 3).collect().head
    val nTrue = (1L to 10L).map(k => k % 3 + 1).sum
    val nAll = (1L to 50L).map(k => k % 3 + 1).sum
    assert(r.getLong(0) == nAll && r.getLong(1) == 50L)
    assert(r.getLong(3) == nTrue, "exact semi-join truth")
    // Bloom filters never false-negative: every true row passes
    assert(r.getLong(2) >= r.getLong(3))
    assert(r.getLong(2) == r.getLong(3) + r.getLong(4), "pass = true + fp")
  }

  test("powerIterationTopEig recovers a planted dominant axis") {
    // vectors = a * e1 + tiny noise along the other dims, a in {-8..8}
    val dims = 16
    val rows = (0 until 40).map { i =>
      val a = (i % 17 - 8).toFloat
      (i.toLong, (0 until dims).map { d =>
        if (d == 0) a else 0.01f * ((i * 7 + d) % 5 - 2)
      })
    }
    val out = Embeddings.powerIterationTopEig(
        rows.toDF("vec_id", "embedding"), "embedding", iters = 4,
        dims = dims)
      .collect().sortBy(_.getInt(0))
    val loadings = out.map(_.getDouble(1))
    assert(math.abs(math.abs(loadings(0)) - 1.0) < 0.01,
      s"dominant loading ${loadings(0)}")
    assert(loadings.drop(1).forall(l => math.abs(l) < 0.05),
      "off-axis loadings near zero")
    // unit norm
    assert(approx(loadings.map(l => l * l).sum, 1.0, 1e-9))
    val share = out.head.getDouble(3)
    assert(share > 0.95, s"explained share $share")
    assert(out.map(_.getDouble(2)).distinct.length == 1, "one lambda")
  }

  test("residual PQ beats raw PQ on clustered vectors") {
    val dims = 16
    // two tight clusters far apart; PQ codebook = 4 seed vectors
    def vec(center: Double, off: Int) =
      (0 until dims).map(d => (center + 0.1 * ((off * 13 + d) % 7 - 3)).toFloat)
    val df = ((0 until 20).map(i => (i.toLong, vec(10.0, i))) ++
      (20 until 40).map(i => (i.toLong, vec(-10.0, i))))
      .toDF("vec_id", "embedding")
    val seeds = df.filter(col("vec_id").isin(0L, 20L))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val cents = Clustering.lloydCentroids(df, "vec_id", "embedding", seeds,
      "cid", "cvec", iters = 2, dims = dims)
    val resid = ProductQuant.residualVectors(df, "vec_id", "embedding", cents)
    // every vector's residual is near zero (clusters are tight)
    val maxAbs = resid.select(max(aggregate(col("resid"), lit(0.0),
      (acc, x) => greatest(acc, abs(x))))).head().getDouble(0)
    assert(maxAbs < 1.5, s"residual magnitude $maxAbs")
    val cb = df.filter(col("vec_id").isin(0L, 10L, 20L, 30L))
      .select(col("vec_id").as("code"), col("embedding").as("cvec"))
    val rcb = resid.filter(col("vec_id").isin(0L, 10L, 20L, 30L))
      .select(col("vec_id").as("code"), col("resid").as("cvec"))
    val mseRaw = ProductQuant.subspaceMse(ProductQuant.encode(
        df, "vec_id", "embedding", cb, "code", "cvec", m = 4, subDim = 4))
      .agg(sum("mse")).head().getDouble(0)
    val mseRes = ProductQuant.subspaceMse(ProductQuant.encode(
        resid, "vec_id", "resid", rcb, "code", "cvec", m = 4, subDim = 4))
      .agg(sum("mse")).head().getDouble(0)
    assert(mseRes < mseRaw,
      s"residual PQ should cut distortion: $mseRes vs $mseRaw")
  }

  test("personalizedPageRank: one hand-computed round on a 3-node path") {
    // edges 1->2, 2->1, 2->3, 3->2 (path 1-2-3, unit weights); seed {1}
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val out = PageRank.personalizedPageRank(edges, "src", "dst", "w", seeds,
        "node", iterations = 1, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // p0 = {1: 1.0}; contribs: node2 gets 1.0 * 1/1 = 1.0
    // p1(1) = 0.15*1 + 0.85*0 = 0.15; p1(2) = 0.85*1.0 = 0.85; 3 absent
    assert(out.keySet == Set(1L, 2L))
    assert(approx(out(1L), 0.15) && approx(out(2L), 0.85))
    // more rounds: mass reaches 3, seed proximity ordering holds
    def run3() = PageRank.personalizedPageRank(edges, "src", "dst", "w", seeds,
        "node", iterations = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val out3 = run3()
    assert(withCheckpointDir(run3()) == out3, "reliable checkpoints")
    assert(out3.keySet == Set(1L, 2L, 3L))
    assert(out3(2L) > out3(3L), "closer to seed ranks higher")
  }

  test("bbitMinhashPairs: identical docs estimate 1 at every width; " +
      "debiased estimates track the exact Jaccard direction") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((1L, base), (2L, base),
      (3L, base + " lambda mu nu xi omicron pi rho sigma"))
      .toDF("doc_id", "text")
    val rows = Dedup.bbitMinhashPairs(docs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val (f12, b2_12, b1_12, j12) = rows((1L, 2L))
    assert(approx(f12, 1.0) && approx(b2_12, 1.0) && approx(b1_12, 1.0) &&
      approx(j12, 1.0))
    // the partially-similar pair: every estimator should sit well below 1
    rows.get((1L, 3L)).foreach { case (f, b2, b1, j) =>
      assert(j < 1.0 && f < 1.0)
      // debiased range: estimates live in [-c/(1-c), 1]
      assert(b1 <= 1.0 + 1e-9 && b2 <= 1.0 + 1e-9)
    }
  }

  test("brierDecomposition: perfect and constant forecasts hit the " +
      "closed forms") {
    // perfect: p == o -> BS=0, REL=0, RES=UNC, gap=0
    val perfect = Seq.tabulate(40)(i => (if (i % 4 == 0) 1.0 else 0.0,
      i % 4 == 0)).toDF("p", "o")
    val r1 = Experiment.brierDecomposition(perfect, "p", "o", bins = 20)
      .collect().head
    val obar = 0.25
    assert(approx(r1.getDouble(1), 0.0) && approx(r1.getDouble(2), 0.0))
    assert(approx(r1.getDouble(3), obar * (1 - obar)))
    assert(approx(r1.getDouble(4), obar * (1 - obar)))
    assert(approx(r1.getDouble(5), 0.0))
    // constant forecast at the base rate: RES=0, REL=0, BS=UNC
    val const = Seq.tabulate(40)(i => (0.25, i % 4 == 0)).toDF("p", "o")
    val r2 = Experiment.brierDecomposition(const, "p", "o", bins = 20)
      .collect().head
    assert(approx(r2.getDouble(2), 0.0) && approx(r2.getDouble(3), 0.0))
    assert(approx(r2.getDouble(1), obar * (1 - obar)))
  }

  test("prefixRollup aggregates every word-prefix level exactly") {
    val df = Seq(("a b c", 1L), ("a b d", 10L), ("a x", 100L), ("z", 1000L))
      .toDF("path", "v")
    val out = Hierarchy.prefixRollup(df, "path", "v", " ", maxLevels = 3)
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((1, "a")) == ((3L, 111L)) && out((1, "z")) == ((1L, 1000L)))
    assert(out((2, "a b")) == ((2L, 11L)) && out((2, "a x")) == ((1L, 100L)))
    assert(out((3, "a b c")) == ((1L, 1L)) && out((3, "a b d")) == ((1L, 10L)))
    assert(!out.contains((2, "z")), "short paths stop at their depth")
  }

  test("groupedExactQuantiles matches per-group sorted picks") {
    val rows = (1 to 7).map(i => ("A", i.toLong, i.toLong)) ++
      (1 to 4).map(i => ("B", (10 * i).toLong, (100 + i).toLong))
    val df = rows.toDF("g", "v", "id")
    val out = GlobalRank.groupedExactQuantiles(df, "g", "v", Seq("id"),
        Seq(0.5, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
      .toMap
    // A: n=7 -> ceil(0.5*7)=4 -> value 4; ceil(1.0*7)=7 -> 7
    assert(out(("A", 0.5)) == 4L && out(("A", 1.0)) == 7L)
    // B: n=4 -> ceil(2)=2 -> 20; 4 -> 40
    assert(out(("B", 0.5)) == 20L && out(("B", 1.0)) == 40L)
  }

  test("jsonlRoundtrip is lossless on exact-text column types") {
    val dir = graft.Scratch.register(
      java.nio.file.Files.createTempDirectory("graft_jsonl").toString)
    try {
      val df = Seq((1L, "alpha", day(3)), (2L, "beta|comma, \"quoted\"",
        day(14))).toDF("id", "s", "d")
      val back = graft.sources.Formats.jsonlRoundtrip(df, s"$dir/t")
        .orderBy("id").collect().map(_.toSeq.toList).toList
      assert(back == df.orderBy("id").collect().map(_.toSeq.toList).toList)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
