package graft.ext

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkTestBase {
  import spark.implicits._

  test("token counts: whitespace and regex") {
    val df = Seq(("a bb ccc", 3), ("one", 1), ("x, y!", 2)).toDF("text", "ws")
    val out = df.select(col("ws"),
      TextStats.wsTokenCount(col("text")).as("n"),
      TextStats.regexTokenCount(col("text")).as("rx")).collect()
    out.foreach(r => assert(r.getLong(1) == r.getInt(0).toLong))
    // "x, y!" → tokens x , y ! = 4
    assert(out.find(_.getInt(0) == 2).get.getInt(2) == 4)
  }

  test("quality features on a known string") {
    val df = Seq((1L, "the cat and the dog in a house")).toDF("doc_id", "text")
    val r = TextStats.qualityDF(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_tokens") == 8L)
    assert(r.getAs[Int]("n_chars") == 30)
    // stopwords: the×2, and, in, a → 5
    assert(approx(r.getAs[Double]("stopword_ratio"), 5.0 / 8, 1e-6))
  }

  test("langId rule: stopword-dense → en, none → unk") {
    val df = Seq((1L, "the cat and the dog in a house"),
      (2L, "zzz qqq www rrr ttt yyy uuu iii")).toDF("doc_id", "text")
    val out = TextStats.langIdDF(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "en" && out(2L) == "unk")
  }

  test("langIdMulti classifies each profile language, unk with zero hits") {
    val df = graft.TextQueries.langFixture.toDF("doc_id", "text")
    val out = TextStats.langIdMultiDF(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "en" && out(2L)._1 == "es" &&
      out(3L)._1 == "de" && out(4L)._1 == "fr", s"got $out")
    assert(out(5L) == ("unk", 0L))
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_)._2 >= 5L), s"weak signal: $out")
  }

  test("fingerprint is whitespace/case invariant") {
    val df = Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val fp = df.select(TextStats.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fp(0) == fp(1) && fp(0) != fp(2))
  }

  test("winnowing fingerprints: deterministic, shift-invariant-ish, discriminative") {
    val a = TextStats.winnow("the quick brown fox jumps over the lazy dog", 8, 4)
    val a2 = TextStats.winnow("the quick brown fox jumps over the lazy dog", 8, 4)
    val b = TextStats.winnow("a completely different sentence altogether here", 8, 4)
    assert(a.sameElements(a2))
    assert(a.nonEmpty && b.nonEmpty)
    assert(a.toSet.intersect(b.toSet).size.toDouble / a.toSet.size < 0.3)
    // winnowing property: shared long substring → shared fingerprints
    val c = TextStats.winnow("XYZ quick brown fox jumps over the lazy dog", 8, 4)
    assert(a.toSet.intersect(c.toSet).nonEmpty)
  }

  test("distributed winnowingFingerprints matches local winnow") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val out = TextStats.winnowingFingerprints(df, "doc_id", "text", 8, 4)
      .head().getSeq[Long](1)
    assert(out == TextStats.winnow("the quick brown fox jumps over the lazy dog", 8, 4).toSeq)
  }

  test("groupQuantilesApprox tracks exact percentiles within rank tolerance") {
    // skewed per-group distributions: group g gets values i^2 + offset
    val rows = for (g <- 0 until 3; i <- 0 until 2000)
      yield (s"g$g", (i.toLong * i) % 5000 + g * 10)
    val df = rows.toDF("grp", "v")
    val probs = Seq(0.5, 0.9, 0.99)
    val approx = TextStats.groupQuantilesApprox(df, "grp", "v", probs)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val sortedByGroup = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted
    }
    // percentile_approx returns an actual element whose RANK is within
    // 1/accuracy of the target — compare ranks, not values
    def rankOf(g: String, v: Double): Double = {
      val s = sortedByGroup(g)
      s.count(_ <= v).toDouble / s.size
    }
    approx.foreach { case (g, (p50, p90, p99)) =>
      probs.zip(Seq(p50, p90, p99)).foreach { case (p, got) =>
        assert(math.abs(rankOf(g, got) - p) <= 0.01,
          s"$g p$p: value $got at rank ${rankOf(g, got)}")
      }
    }
  }

  test("groupDivergence: identical distribution → 0; skewed group → positive KL") {
    import spark.implicits._
    val docs = Seq(
      ("mirror", "a b a b"),    // same distribution as the corpus half it forms
      ("mirror", "a b a b"),
      ("skew", "a a a a"),      // all mass on 'a'
      ("skew", "a a a a")
    ).toDF("source", "text")
    val out = TextStats.groupDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: a=12/16, b=4/16. mirror: a=1/2,b=1/2; skew: a=1.
    val (nm, klM) = out("mirror")
    val (ns, klS) = out("skew")
    assert(nm == 8L && ns == 8L)
    val expM = 0.5 * math.log(0.5 / 0.75) / math.log(2) +
      0.5 * math.log(0.5 / 0.25) / math.log(2)
    val expS = 1.0 * math.log(1.0 / 0.75) / math.log(2)
    assert(math.abs(klM - expM) < 1e-5, s"mirror kl $klM vs $expM")
    assert(math.abs(klS - expS) < 1e-5, s"skew kl $klS vs $expS")
  }

  test("collocations: adjacent pair PMI with support floor and top-k cut") {
    import spark.implicits._
    // "x y" always adjacent (PMI high); "a b" adjacent but a,b also frequent
    // alone (PMI lower); pairs under minCount are dropped.
    val docs = (1 to 6).map(_ => "x y a b a c a d").toDF("text")
    val out = TextStats.collocations(docs, "text", k = 10, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= 5L))
    // ranked descending by pmi
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sortBy(-(_: Double)))
    val byPair = out.map(r => r._1 -> r._3).toMap
    assert(byPair.contains("x y"))
    assert(byPair("x y") > byPair("a b"), s"got $byPair")
    // manual PMI for "x y": n_pair=6, n_x=6, n_y=6, pairs=42, toks=48
    val exp = math.log(6.0 * 48 * 48 / (42.0 * 6 * 6))
    assert(math.abs(byPair("x y") - exp) < 1e-5)
  }

  test("groupDivergence: single group diverges 0 from itself") {
    import spark.implicits._
    val docs = Seq(("only", "x y z x")).toDF("source", "text")
    val out = TextStats.groupDivergence(docs, "source", "text").collect().head
    assert(out.getDouble(2) == 0.0)
  }

  test("bpePairStats: pair counts are vocabulary-weighted by word frequency") {
    import spark.implicits._
    // "abc" ×3 and "bcd" ×1: ab=3, bc=3+1=4, cd=1; 1-char words contribute none
    val docs = Seq("abc abc bcd a", "abc x").toDF("text")
    val out = TextStats.bpePairStats(docs, "text", topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("ab" -> 3L, "bc" -> 4L, "cd" -> 1L))
  }

  test("bpePairStats: topN keeps the most frequent pairs, ties by pair") {
    import spark.implicits._
    val docs = Seq("aa bb aa").toDF("text")
    val out = TextStats.bpePairStats(docs, "text", topN = 1).collect()
    assert(out.length == 1 && out.head.getString(0) == "aa" &&
      out.head.getLong(1) == 2L)
  }

  test("keywordAndSearch: only docs containing EVERY term match") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join hash scan filter"), // all three
      (2L, "join hash join hash"),   // missing scan
      (3L, "scan join hash"),        // all three, different order
      (4L, "other words entirely")
    ).toDF("doc_id", "text")
    val out = TextStats.keywordAndSearch(docs, "doc_id", "text",
      Seq("join", "hash", "scan")).collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("heapsLaw: cum_vocab counts each term at its first bucket only") {
    import spark.implicits._
    // ids 0-3 with buckets=2 → bucket 0 = docs 0,1; bucket 1 = docs 2,3
    val docs = Seq(
      (0L, "a b"), (1L, "a c"),     // bucket 0: 4 tokens, vocab {a,b,c}
      (2L, "a b d"), (3L, "d")      // bucket 1: 4 tokens, new term {d}
    ).toDF("doc_id", "text")
    val out = TextStats.heapsLaw(docs, "doc_id", "text", buckets = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0L) == ((4L, 4L, 3L, 3L)))
    assert(out(1L) == ((4L, 8L, 1L, 4L)))
  }

  test("zipfSlope: exact two-point fit recovers slope and intercept") {
    import spark.implicits._
    // vocab "a"×8 rank 1, "b"×2 rank 2: slope = ln(2/8)/ln(2) = −2,
    // intercept = ln(8)
    val docs = Seq("a a a a a a a a b b").toDF("text")
    val out = TextStats.zipfSlope(docs, "text", topN = 10).collect().head
    assert(out.getLong(0) == 2L)
    assert(approx(out.getDouble(1), -2.0, 1e-5))
    assert(approx(out.getDouble(2), math.log(8.0), 1e-5))
  }

  test("keywordAndSearch: repeated terms in one doc count once") {
    import spark.implicits._
    val docs = Seq((1L, "join join join")).toDF("doc_id", "text")
    val out = TextStats.keywordAndSearch(docs, "doc_id", "text",
      Seq("join", "hash")).collect()
    assert(out.isEmpty)
  }

  test("skipgramPmi: hand-counted window pairs, canonical order, PMI value") {
    import spark.implicits._
    // tokens [a b c a], window 2 → pairs ab, ac, bc, ab(b-a), ac(c-a):
    // counts ab=2 ac=2 bc=1; unigrams a=2 b=1 c=1, T_toks=4, T_pairs=5
    val docs = Seq("a b c a").toDF("text")
    val out = TextStats.skipgramPmi(docs, "text", window = 2, k = 10,
      minCount = 1L).collect()
    val counts = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a b" -> 2L, "a c" -> 2L, "b c" -> 1L))
    val pmiBc = math.log(1.0 * 4 * 4 / (5.0 * 1 * 1))
    assert(approx(out.find(_.getString(0) == "b c").get.getDouble(2),
      math.round(pmiBc * 1e6) / 1e6, 1e-9))
  }

  test("skipgramPmi: window=1 pair counts match adjacent bigram counts") {
    import spark.implicits._
    val docs = Seq("x y z x y").toDF("text")
    val sg = TextStats.skipgramPmi(docs, "text", window = 1, k = 10,
      minCount = 1L).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // adjacent pairs: xy, yz, zx, xy → canonical: x y=2, y z=1, x z=1
    assert(sg == Map("x y" -> 2L, "y z" -> 1L, "x z" -> 1L))
  }

  test("readability: golden Flesch-Kincaid on a hand-counted doc") {
    import spark.implicits._
    // words [the cat sat the dog ran] = 6, sentences ('.', '!') = 2,
    // vowel groups e/a/a/e/o/a = 6 → 0.39*3 + 11.8*1 - 15.59 = -2.62
    val docs = Seq((1L, "The cat sat. The dog ran!")).toDF("doc_id", "text")
    val r = TextStats.readabilityDF(docs, "doc_id", "text").collect().head
    assert(r.getLong(1) == 6L && r.getLong(2) == 2L && r.getLong(3) == 6L)
    assert(approx(r.getDouble(4), -2.62, 1e-9))
  }

  test("readability: no sentence marks floors at 1; no words gives null grade") {
    import spark.implicits._
    val docs = Seq((1L, "beautiful prose without punctuation"),
      (2L, "!!! ???")).toDF("doc_id", "text")
    val out = TextStats.readabilityDF(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) == 1L)            // floored sentence count
    assert(out(1).getLong(1) == 0L && out(1).isNullAt(4))
  }

  test("vocabDiversity: degenerate and uniform vocabularies, by hand") {
    val docs = Seq(
      ("s1", "a a"), ("s1", "a a"),      // n=4, V=1: TTR .25, H 0, simpson 1
      ("s2", "a b"), ("s2", "c d")       // n=4, V=4: TTR 1, H 2 bits, simpson 0
    ).toDF("source", "text")
    val out = TextStats.vocabDiversity(docs, "source", "text")
      .orderBy(col("grp")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("s1", 4L, 1L, 0.25, 0.0, 1.0),
      ("s2", 4L, 4L, 1.0, 2.0, 0.0)))
  }

  test("logOddsTerms: group-exclusive heavy tokens surface with positive z, " +
    "shared filler does not") {
    // "alpha" dominates g1, "beta" dominates g2, "the" is even filler
    val docs = Seq(
      ("g1", Seq.fill(30)("alpha").mkString(" ") + " " +
        Seq.fill(20)("the").mkString(" ")),
      ("g2", Seq.fill(30)("beta").mkString(" ") + " " +
        Seq.fill(20)("the").mkString(" "))).toDF("src", "text")
    val out = TextStats.logOddsTerms(docs, "src", "text",
        priorScale = 10.0, minGlobalCount = 5, topK = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(4), r.getInt(5))).toMap
    assert(out(("g1", "alpha"))._2 == 1 && out(("g1", "alpha"))._1 > 0)
    assert(out(("g2", "beta"))._2 == 1 && out(("g2", "beta"))._1 > 0)
    // the filler ranks below the exclusive token and its |z| is small
    assert(math.abs(out(("g1", "the"))._1) < out(("g1", "alpha"))._1)
    // the symmetric design gives mirrored z-scores
    assert(math.abs(out(("g1", "alpha"))._1 - out(("g2", "beta"))._1) < 1e-9)
  }

  test("logOddsTerms: minGlobalCount prunes rare tokens; topK caps each group") {
    val docs = Seq(
      ("a", "x x x x x x rare"),
      ("b", "y y y y y y")).toDF("src", "text")
    val out = TextStats.logOddsTerms(docs, "src", "text",
      priorScale = 10.0, minGlobalCount = 5, topK = 1).collect()
    assert(!out.exists(_.getString(1) == "rare"))
    assert(out.groupBy(_.getString(0)).forall(_._2.length == 1))
  }

  test("ngramNovelty: the first doc is fully novel, a verbatim copy scores " +
    "0, and a half-recombined doc sits in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),      // 4 shingles, all first
      (2L, "the quick brown fox jumps high"),      // verbatim copy → 0
      (3L, "the quick brown cat sleeps low now")). // shares only 1 of 5
      toDF("doc_id", "text")
    val out = TextStats.ngramNovelty(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((4L, 4L, 1.0)))
    assert(out(2L) == ((4L, 0L, 0.0)))
    assert(out(3L)._1 == 5L && out(3L)._2 == 4L && out(3L)._3 == 0.8)
  }

  test("truncationLoss: hand-computed loss curve over two budgets") {
    // docs of 2, 4 and 6 whitespace tokens
    val docs = Seq((1L, "a b"), (2L, "a b c d"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val out = TextStats.truncationLoss(docs, "text", budgets = Seq(3, 5))
      .orderBy("context_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // L=3: docs over = 2 (4-tok, 6-tok); lost = 1 + 3 = 4 of 12
    assert(out(0) == ((3L, 3L, 2L, 12L, 4L, 4.0 / 12.0)))
    // L=5: docs over = 1 (6-tok); lost = 1 of 12
    assert(out(1) == ((5L, 3L, 1L, 12L, 1L, 1.0 / 12.0)))
    intercept[IllegalArgumentException] {
      TextStats.truncationLoss(docs, "text", budgets = Seq.empty)
    }
  }
}
