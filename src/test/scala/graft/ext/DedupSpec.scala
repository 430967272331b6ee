package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private val nearDup = base.replace("today", "tonight") // one token differs
  private def docs = Seq(
    (1L, base), (2L, base), // exact dups
    (3L, nearDup), // near dup of 1/2
    (4L, "completely different words about spark query engines and data processing"),
    (5L, "another unrelated document mentioning neither foxes nor dogs at all whatsoever")
  ).toDF("doc_id", "text")

  test("exactDedup maps duplicates to the canonical (min) id") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 2L) && out(2L) == (1L, 2L))
    assert(out(3L) == (3L, 1L) && out(4L) == (4L, 1L))
  }

  test("exactDedup groups null texts instead of silently dropping them") {
    val withNulls = Seq(
      (1L, Some("alpha")), (2L, None), (3L, None), (4L, Some("alpha"))
    ).toDF("doc_id", "text")
    val out = Dedup.exactDedup(withNulls, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 4, s"rows lost: $out") // nothing dropped
    assert(out(2L) == (2L, 2L) && out(3L) == (2L, 2L)) // nulls form one group
    assert(out(1L) == (1L, 2L) && out(4L) == (1L, 2L))
  }

  test("shingles: n tokens → n-k+1 distinct k-grams") {
    val one = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val sh = Dedup.shingles(one, "doc_id", "text", k = 3).collect().map(_.getString(1))
    assert(sh.toSet == Set("a b c", "b c d", "c d e"))
  }

  test("native WordShingles matches the composable transform formulation") {
    import org.apache.spark.sql.functions._
    val texts = Seq((1L, "a b c d e"), (2L, "x y"), (3L, ""), (4L, "one"),
      (5L, "the quick brown fox jumps over dogs")).toDF("doc_id", "text")
    val k = 3
    val toks = split(col("text"), " ")
    val composable = transform(
      sequence(lit(1), greatest(size(toks) - lit(k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    val out = texts.select(col("doc_id"),
      graft.functions.WordShingles.shingles(col("text"), k).as("native"),
      composable.as("reference")).collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
    }
  }

  test("jaccardPairs: identical docs → 1.0; near-dups high; unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(approx(pairs((1L, 2L)), 1.0))
    assert(pairs((1L, 3L)) > 0.5 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((4L, 5L)))
  }

  test("minhashLshPairs recovers the pairs exact jaccard finds at high threshold") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH is a candidate filter + exact verify: subset of exact, and identical
    // docs (jaccard 1) can never be missed (identical signatures share every band)
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L)))
    assert(lsh.contains((1L, 3L)), s"near-dup missed: $lsh")
  }

  test("dupClusters: transitive chains collapse to the min id, components stay apart") {
    // path graph 1-2-3-4 (diameter 3, needs >1 propagation round) + separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dupClusters: non-convergence is loud, not silently partial") {
    // path graph 1-2-...-8 (diameter 7): maxIter=2 can't finish propagating
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // unionFindMaxEdges = 0 forces the distributed rounds on this tiny fixture
    val (_, iters, converged) =
      Dedup.dupClustersWithStats(chain, maxIter = 2, unionFindMaxEdges = 0)
    assert(!converged && iters == 2)
    val e = intercept[IllegalStateException](
      Dedup.dupClusters(chain, maxIter = 2, unionFindMaxEdges = 0))
    assert(e.getMessage.contains("did not converge"))
    // and with headroom the same chain converges to one cluster
    val (labels, _, ok) =
      Dedup.dupClustersWithStats(chain, maxIter = 10, unionFindMaxEdges = 0)
    assert(ok)
    assert(labels.collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("pointer jumping: a 50-node chain converges within 10 rounds; plain does not") {
    val chain = (1L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def run() = {
      val (labels, iters, ok) =
        Dedup.dupClustersWithStats(chain, maxIter = 10, unionFindMaxEdges = 0)
      (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, iters, ok)
    }
    val (labels, iters, ok) = run()
    assert(ok, s"pointer-jump CC did not converge in 10 rounds (ran $iters)")
    assert(labels.values.toSet == Set(1L))
    assert(withCheckpointDir(run()) == ((labels, iters, ok)),
      "reliable checkpoints")
    // plain min-label propagation needs O(diameter)=49 rounds on the same chain
    val (_, _, plainOk) = Dedup.dupClustersWithStats(chain, maxIter = 10,
      pointerJump = false, unionFindMaxEdges = 0)
    assert(!plainOk, "plain propagation should not finish a 49-hop chain in 10 rounds")
  }

  test("pointer jumping matches plain propagation on random graphs") {
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { trial =>
      val edges = (0 until 40)
        .map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val df = edges.toDF("id_a", "id_b")
      val fast = Dedup.dupClusters(df, maxIter = 12, unionFindMaxEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Dedup.dupClusters(df, maxIter = 30, pointerJump = false,
          unionFindMaxEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // and the single-task union-find fast path agrees with both
      val uf = Dedup.dupClusters(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"trial $trial: $fast vs $slow")
      assert(uf == fast, s"trial $trial union-find: $uf vs $fast")
    }
  }

  // skewed fixture: every doc ends with the same boilerplate (hot shingles,
  // document frequency = corpus size) but above-threshold pairs share RARE shingles
  private def skewedDocs = {
    val boiler = "all rights reserved contact us for more information about this site"
    val body = "sphinx of black quartz judge my vow while zephyrs wind the daft jumbled text " +
      "pack my box with five dozen liquor jugs and the quick onyx goblin jumps over " +
      "a lazy dwarf as bright vixens jump while dozy fowl quack loudly nearby"
    (
      (0 until 20).map(i => (i.toLong, s"unique$i alpha$i beta$i gamma$i delta$i epsilon$i $boiler")) :+
      (100L, s"$body today $boiler") :+
      (101L, s"$body tonight $boiler")
    ).toDF("doc_id", "text")
  }

  test("jaccardPairsPrefix: identical output to the full co-occurrence join") {
    val rng = new scala.util.Random(11)
    val vocab = Array("spark", "query", "table", "scan", "join", "agg", "row",
      "col", "sort", "hash", "data", "key")
    val randomDocs = (0 until 60).map { i =>
      val base = Array.fill(12)(vocab(rng.nextInt(vocab.length))).mkString(" ")
      // plant near-dups by copying some docs with a one-word change
      (i.toLong, if (i % 7 == 0 && i > 0) base else base)
    }
    // explicit near-dup plants
    val planted = Seq(
      (200L, "aa bb cc dd ee ff gg hh"), (201L, "aa bb cc dd ee ff gg zz"),
      (202L, "aa bb cc dd ee ff gg hh"))
    val df = (randomDocs ++ planted).toDF("doc_id", "text")
    def norm(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val full = norm(Dedup.jaccardPairs(df, "doc_id", "text", k = 3, threshold = 0.5))
    val pref = norm(Dedup.jaccardPairsPrefix(df, "doc_id", "text", k = 3, threshold = 0.5))
    assert(pref == full, s"prefix filter must be lossless: ${pref.size} vs ${full.size}")
    assert(full.nonEmpty)
  }

  test("prefix filter excludes hot boilerplate shingles from candidate generation") {
    // on the skewed fixture, the boilerplate shingles have df = 22 (every doc);
    // with threshold 0.5 a 16-shingle doc keeps prefix 16-8+1=9 rarest shingles
    // — all unique ones — so no boilerplate-only candidate pairs are generated,
    // yet the planted near-dup pair survives with its exact jaccard
    val out = Dedup.jaccardPairsPrefix(skewedDocs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((100L, 101L)))
    val exact = Dedup.jaccardPairs(skewedDocs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == exact)
  }

  test("stop-shingle cap leaves above-threshold jaccard pairs untouched") {
    val uncapped = Dedup.jaccardPairs(skewedDocs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.jaccardPairs(skewedDocs, "doc_id", "text", k = 3, threshold = 0.5,
        stopShingleMaxDf = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(uncapped.keySet == capped.keySet, s"pairs differ: $uncapped vs $capped")
    uncapped.foreach { case (k, v) => assert(approx(capped(k), v)) } // exact values
    assert(capped.contains((100L, 101L)))
  }

  test("minhash stop-shingle cap keeps the near-dup pair with exact jaccard") {
    val uncapped = Dedup.minhashLshPairs(skewedDocs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val capped = Dedup.minhashLshPairs(skewedDocs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4, threshold = 0.5,
        stopShingleMaxDf = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.contains((100L, 101L)))
    // values of surviving pairs are the exact full-set jaccard, unchanged by the cap
    capped.keySet.intersect(uncapped.keySet)
      .foreach(k => assert(approx(capped(k), uncapped(k))))
  }

  test("salted band-key join yields identical candidate pairs") {
    val plain = Dedup.minhashLshPairs(skewedDocs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val salted = Dedup.minhashLshPairs(skewedDocs, "doc_id", "text", k = 3,
        numHashes = 16, rowsPerBand = 4, threshold = 0.5, saltFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, v) => assert(approx(salted(k), v)) }
  }

  test("simhash: identical docs get identical signatures, near-dups close hamming") {
    val sig = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    val hammingNear = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val hammingFar = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(hammingNear < hammingFar,
      s"near=$hammingNear far=$hammingFar sig=$sig")
  }

  test("simhash: the fused native expression is bit-identical to the " +
    "dataflow aggregate on every doc, including repeats and empty strings") {
    import spark.implicits._
    val corpus = docs.union(Seq((90L, ""), (91L, "a a a b"),
      (92L, "b a a a")).toDF("doc_id", "text"))
    val fused = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = Dedup.simhashAgg(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == agg, s"fused $fused vs agg $agg")
    // tf-weighting is order-independent: same bag, same signature
    assert(fused(91L) == fused(92L))
  }

  test("minhashSignatures: the fused native kernel is bit-identical to the " +
    "distinct-shingle aggregate, including repeated shingles and short docs") {
    import spark.implicits._
    val corpus = docs.union(Seq((90L, "a b"), // shorter than k → 1 partial
      (91L, "x y z x y z x y z")).toDF("doc_id", "text")) // repeats
    val fused = Dedup.minhashSignatures(corpus, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val agg = Dedup.signaturesFromShingles(
        Dedup.shingles(corpus, "doc_id", "text", k = 3), "doc_id")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fused == agg)
  }

  test("SimHash60 kernel matches an independent reference (15-hex-char " +
      "token hash, tf-weighted bit sums) on repeats/empty/order cases") {
    def refHash60(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def refSim60(text: String): Long = {
      val tf = text.split(" ", -1).groupBy(identity).view.mapValues(_.length)
      val sums = new Array[Long](60)
      for ((t, w) <- tf; j <- 0 until 60)
        sums(j) += (if (((refHash60(t) >> j) & 1L) == 1L) w else -w)
      (0 until 60).map(j => if (sums(j) > 0) 1L << j else 0L).sum
    }
    for (t <- Seq("", "a", "a a a b", "b a a a", "the quick brown fox",
        "x y z x y z")) {
      assert(graft.functions.SimHash60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) == refSim60(t),
        s"mismatch on '$t'")
    }
  }

  test("simhashPairs finds exact and near dups within hamming bound") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6,
        allowCoarseBands = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)))
  }

  test("simhashPairs refuses sub-10-bit bands without the explicit " +
      "small-input opt-in (bucket saturation goes quadratic at scale)") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
    }
    assert(ex.getMessage.contains("allowCoarseBands"))
  }

  test("simhashPairs banding is pigeonhole-exact at ANY maxHamming — " +
      "uneven band widths included: agrees with brute-force hamming over " +
      "the 60-bit signatures") {
    // 30 docs drifting away from one base a token at a time: signature
    // hammings span the whole 0..60 range, so every band boundary is
    // exercised; maxHamming = 6 ⇒ 7 bands of widths 9,9,9,9,8,8,8
    val words = base.split(" ")
    val corpus = (0 until 30).map { i =>
      val t = words.zipWithIndex.map { case (w, j) =>
        if (j < i % words.length) s"drift${i}_$j" else w
      }.mkString(" ")
      (i.toLong, t)
    }.toDF("doc_id", "text")
    for (mh <- Seq(1, 4, 6, 9)) {
      val banded = Dedup.simhashPairs(corpus, "doc_id", "text",
          maxHamming = mh, allowCoarseBands = mh > 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sigs = corpus
        .select(col("doc_id"),
          graft.functions.SimHash60.simhash60(col("text")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= mh
      } yield (ia, ib, d.toLong)).toSet
      assert(banded == brute,
        s"maxHamming=$mh: banded ${banded.size} pairs != brute ${brute.size}")
      assert(brute.nonEmpty, s"maxHamming=$mh fixture produced no pairs")
    }
  }

  test("embeddingDupPairs: planted near-identical vectors are found, bucket-local") {
    val dim = 64
    def vec(seed: Int, jitter: Float): Seq[Float] =
      (0 until dim).map(i => math.sin(seed * 31 + i).toFloat + (if (i == 0) jitter else 0f))
    val df = Seq(
      (1L, vec(1, 0f)), (2L, vec(1, 0.01f)), // near-identical pair
      (3L, vec(7, 0f)), (4L, vec(13, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(df, "vec_id", "embedding",
        numPlanes = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.99, s"got $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("band keys ride ONE signature exchange (no per-band pipeline re-run)") {
    // regression lock for the r4 plan fix: the UNION-ALL band construction let
    // column pruning specialize each band's partial aggregate to its own 4
    // minima — four distinct exchanges, each re-running the shingle pipeline.
    // With the explode generator there is exactly one shingle Generate (plus
    // the band-struct Generate) in the whole pair plan.
    val df = (1 to 40).map(i =>
        (i.toLong, base + (if (i % 2 == 0) " tail" + i / 2 else "")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text")
    assert(pairs.count() > 0) // non-degenerate: AQE must not short-circuit
    pairs.queryExecution.toRdd.count() // finalize the adaptive plan
    val plan = pairs.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==").head
    val shingleGenerates = finalPlan.split("\n").count(l =>
      l.contains("Generate") && l.contains("word_shingles"))
    // 2 = one for the signature/band path + one for the verify/sizes path
    // (different pruning → different exchanges, irreducible declaratively);
    // the union-shaped regression measures 8 here
    assert(shingleGenerates <= 2,
      s"shingle pipeline ran $shingleGenerates times — band exchange reuse lost:\n" +
        finalPlan.take(2000))
  }

  test("minhashEstimatePairs: exact dups estimate 1.0; errors within estimator noise") {
    val docs = (1 to 30).map { i =>
      (i.toLong, if (i <= 10) base else base.replace("today", s"tok$i extra words"))
    }.toDF("doc_id", "text")
    val rows = Dedup.minhashEstimatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // identical docs: signatures identical → estimate exactly 1.0
    rows.filter(r => r._1 <= 10 && r._2 <= 10)
      .foreach(r => assert(r._3 == 1.0 && r._4 == 1.0, s"got $r"))
    // estimator noise: std ≈ √(J(1−J)/16) ≤ 0.125 — allow 4σ per pair, and the
    // mean absolute error over candidates must be well inside one σ
    rows.foreach(r => assert(math.abs(r._3 - r._4) <= 0.5, s"outlier $r"))
    val meanErr = rows.map(r => math.abs(r._3 - r._4)).sum / rows.length
    assert(meanErr <= 0.125, s"mean |est-exact| = $meanErr")
  }

  test("incrementalDedup classifies exact / near / new against the store") {
    val existing = Seq(
      (1L, base), (2L, base), // store has its own internal dup — min id wins
      (4L, "completely different words about spark query engines and data processing")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base), // exact match of 1/2
      (11L, nearDup), // one token off base → near_dup
      (12L, "entirely fresh content that resembles nothing stored so far at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(incoming, existing, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), !r.isNullAt(3)))
      .toMap
    assert(out(10L) == (("exact_dup", 1L, false)))
    assert(out(11L)._1 == "near_dup" && out(11L)._2 == 1L && out(11L)._3)
    assert(out(12L) == (("new", -1L, false)))
  }

  test("incrementalDedup: an exact dup is never double-reported as near") {
    val existing = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = Seq((10L, base)).toDF("doc_id", "text")
    val rows = Dedup.incrementalDedup(incoming, existing, "doc_id", "text").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "exact_dup")
  }

  test("canonicalPick: highest quality wins, smaller id breaks ties, " +
    "clusters below two members are dropped") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: quality 10, 30, 30 → pick 2
      (7L, 7L), (9L, 7L),           // cluster 7: pick 9 (40 > 5)
      (5L, 5L)                      // singleton: excluded
    ).toDF("id", "cluster_id")
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 40L), (5L, 99L)
    ).toDF("doc_id", "quality")
    val out = Dedup.canonicalPick(clusters, docs, "doc_id", "quality")
      .orderBy(col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 2L, 30L, 3L, 2L),
      (7L, 9L, 40L, 2L, 1L)))
  }

  test("blockingQuality: identical docs are always caught (completeness 1) " +
    "and the candidate space is far below all-pairs (reduction > 0)") {
    import spark.implicits._
    // 2 exact-dup pairs + 16 distinct docs: identical docs share every band
    val dup = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"))
    val noise = (5L to 20L).map(i =>
      (i, s"doc$i word$i token$i item$i thing$i stuff$i part$i"))
    val out = Dedup.blockingQuality((dup ++ noise).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(out.getLong(0) == 20 && out.getLong(1) == 190) // 20·19/2
    assert(out.getLong(3) == 2L, "two true dup pairs")
    assert(out.getLong(4) == 2L, "identical docs share all bands")
    assert(out.getDouble(6) == 1.0)
    assert(out.getDouble(5) > 0.5,
      s"blocking should prune most of the 190 pairs: $out")
    // candidates can never exceed the all-pairs space
    assert(out.getLong(2) <= out.getLong(1))
  }

  test("editDistancePairs: one-char edit verified with its exact distance; " +
      "pairs beyond maxDist are cut by the bounded kernel") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("lazy", "hazy")),        // 1 substitution
      (3L, base + " with a short extra tail"),   // small append
      (4L, "utterly different text about compilers and register allocation"))
      .toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text",
        k = 3, numHashes = 16, rowsPerBand = 4, maxDist = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(pairs.contains((1L, 2L)), s"found: ${pairs.keySet}")
    val (d12, s12) = pairs((1L, 2L))
    assert(d12 == 1L, s"lazy->hazy is one substitution, got $d12")
    assert(math.abs(s12 - (1.0 - 1.0 / base.length)) < 1e-12)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
    // with maxDist = 2 the appended-tail pair (dist ~ 23) must disappear
    // while the 1-edit pair survives
    val tight = Dedup.editDistancePairs(docs, "doc_id", "text",
        k = 3, numHashes = 16, rowsPerBand = 4, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.contains((1L, 2L)) && !tight.contains((1L, 3L)), s"$tight")
  }
}
