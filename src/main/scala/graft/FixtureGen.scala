package graft

import java.nio.file.{Files, Paths}

/** Golden-fixture generator for the tokenizer-trainer queries — the six
  * suite rows whose recurrences (BPE merge loop, unigram EM/prune) are not
  * SQL-expressible. Their driver-side check used to be rows-only; this tool
  * freezes their expected outputs per scale factor as committed CSVs that
  * the oracle side READS (`read_csv`), so the driver hash-compares values
  * like every other query.
  *
  * Independence: every fixture value is computed HERE by single-threaded
  * plain-Scala reference implementations (the UnigramLmSpec / BpeTrainSpec
  * differential pattern — pair-list argmax trainer, ascending-scan Viterbi),
  * NOT by the distributed engine. The tool then runs the live Spark queries
  * and refuses to write any fixture that does not match the reference
  * EXACTLY (strings, longs, and rounded doubles bit-for-bit) — so a
  * committed fixture certifies engine == reference at that scale, and any
  * later engine regression breaks the driver's hash compare.
  *
  * Usage: runMain graft.FixtureGen <sfDir> <fixtureDir>
  *   e.g. runMain graft.FixtureGen /root/testdata/sf0.01 fixtures/sf0.01
  */
object FixtureGen {

  // ---------------------------------------------------------------------
  // Single-threaded reference BPE (Sennrich et al. 2016 §3.2 semantics,
  // mirroring the worked-example fixture in BpeTrainSpec)
  // ---------------------------------------------------------------------

  private val EndOfWord = "</w>"

  private def wordFreqs(texts: Seq[String], minFreq: Long): Seq[(String, Long)] = {
    val wf = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (t <- texts; w <- t.split(" ") if w.nonEmpty) wf(w) += 1L
    wf.toSeq.filter(_._2 >= minFreq).sortBy(_._1)
  }

  private def refBpeTrain(texts: Seq[String], nMerges: Int,
                          minFreq: Long): Seq[(Int, String, String, Long)] = {
    var vocab: Seq[(Array[String], Long)] = wordFreqs(texts, minFreq)
      .map { case (w, f) => (w.map(_.toString).toArray :+ EndOfWord, f) }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var iter = 0
    var exhausted = false
    while (iter < nMerges && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((s, f) <- vocab; i <- 0 until s.length - 1) pc((s(i), s(i + 1))) += f
      if (pc.isEmpty) exhausted = true
      else {
        // freq desc, then (left, right) asc — the engine's TakeOrdered order
        val ((l, r), f) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((iter + 1, l, r, f))
        vocab = vocab.map { case (s, wf2) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == l && s(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += s(i); i += 1 }
          }
          (out.toArray, wf2)
        }
        iter += 1
      }
    }
    merges.result()
  }

  /** Rank-order greedy BPE encode of one word (apply_bpe shape: merge the
    * lowest-rank adjacent pair everywhere, repeat) → token count.
    */
  private def refBpeEncodeWord(word: String,
                               ranks: Map[(String, String), Int]): Int = {
    var s = word.map(_.toString).toVector :+ EndOfWord
    var done = false
    while (!done && s.size > 1) {
      val ranked = s.zip(s.tail).flatMap(p => ranks.get(p).map(r => (r, p)))
      if (ranked.isEmpty) done = true
      else {
        val (_, (l, r)) = ranked.minBy(_._1)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.size) {
          if (i + 1 < s.size && s(i) == l && s(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += s(i); i += 1 }
        }
        s = out.result()
      }
    }
    s.size
  }

  // ---------------------------------------------------------------------
  // Single-threaded reference unigram-LM (Kudo 2018 hard-EM shape,
  // mirroring UnigramLmSpec's refTrain/refViterbi)
  // ---------------------------------------------------------------------

  private val UnkLogp = -25.0

  private def refViterbi(word: String, lp: Map[String, Double],
                         maxLen: Int): List[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    for (i <- 1 to n; l <- 1 to math.min(i, maxLen)) {
      val piece = word.substring(i - l, i)
      val sc = lp.get(piece) match {
        case Some(p)        => best(i - l) + p
        case None if l == 1 => best(i - 1) + UnkLogp
        case None           => Double.NegativeInfinity
      }
      // >= with ASCENDING l keeps the longest piece on exact ties — the
      // engine scans descending with strict >, same tie policy
      if (sc != Double.NegativeInfinity && sc >= best(i)) {
        best(i) = sc; back(i) = l
      }
    }
    var out = List.empty[String]
    var pos = n
    while (pos > 0) {
      out = word.substring(pos - back(pos), pos) :: out; pos -= back(pos)
    }
    out
  }

  private def refLogp(counts: Seq[(String, Long)]): Map[String, Double] = {
    val eff = counts.map { case (p, c) => (p, if (p.length == 1) c + 1 else c) }
    val total = eff.map(_._2).sum
    eff.map { case (p, c) =>
      p -> (math.log(c.toDouble) - math.log(total.toDouble))
    }.toMap
  }

  /** (piece, count) vocabulary ranked (count desc, piece asc). */
  private def refUnigramTrain(texts: Seq[String],
                              cfg: graft.ext.UnigramLm.Config): Seq[(String, Long)] = {
    val words = wordFreqs(texts, cfg.minFreq)
    val sub = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(cfg.maxPieceLen, w.length - i))
      sub(w.substring(i, i + l)) += f
    val chars = sub.toSeq.filter(_._1.length == 1).sortBy { case (p, c) => (-c, p) }
    val charSet = chars.map(_._1).toSet
    val multis = sub.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(cfg.seedMulti)
    var vocab: Seq[(String, Long)] = chars ++ multis
    def em(): Unit = {
      val lp = refLogp(vocab)
      val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((w, f) <- words; p <- refViterbi(w, lp, cfg.maxPieceLen)) cnt(p) += f
      vocab = charSet.toSeq.sorted.map(c => (c, cnt.getOrElse(c, 0L))) ++
        cnt.toSeq.filter { case (p, c) => p.length > 1 && c > 0 }
    }
    for (_ <- 1 to cfg.emIters) em()
    var nMulti = vocab.count(_._1.length > 1)
    while (nMulti > cfg.targetMulti) {
      val keep = math.max(cfg.targetMulti, nMulti * 3 / 4)
      vocab = vocab.filter(_._1.length == 1) ++
        vocab.filter(_._1.length > 1).sortBy { case (p, c) => (-c, p) }.take(keep)
      for (_ <- 1 to cfg.emIters) em()
      nMulti = vocab.count(_._1.length > 1)
    }
    vocab.sortBy { case (p, c) => (-c, p) }
  }

  // ---------------------------------------------------------------------
  // Fixture rows (exactly the six queries' output schemas, same rounding)
  // ---------------------------------------------------------------------

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private final case class Doc(id: Long, text: String, lang: String)

  private def fertRows(docs: Seq[Doc], tok: String => Int): Seq[(String, Long, Long, Long, Double, Double)] =
    docs.groupBy(_.lang).toSeq.sortBy(_._1).map { case (lang, ds) =>
      val words = ds.flatMap(_.text.split(" ").filter(_.nonEmpty))
      val nTok = words.map(w => tok(w).toLong).sum
      val nWords = words.size.toLong
      val nChars = ds.map(_.text.length.toLong).sum
      (lang, ds.size.toLong, nWords, nTok,
        round6(nTok.toDouble / nWords), round6(nChars.toDouble / nTok))
    }

  // ---------------------------------------------------------------------
  // CSV writing (minimal quoting; doubles via shortest round-trip repr)
  // ---------------------------------------------------------------------

  private def csvCell(v: Any): String = v match {
    case s: String =>
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    case d: Double => java.lang.Double.toString(d)
    case x => x.toString
  }

  private def writeCsv(path: String, header: Seq[String],
                       rows: Seq[Seq[Any]]): Unit = {
    val sb = new StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rows.foreach(r => sb.append(r.map(csvCell).mkString(",")).append('\n'))
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }

  // ---------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val Array(sfDir, fixDir) = args
    val spark = Harness.session()

    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.id).toSeq
    val texts = docs.map(_.text)

    // ---- reference values ------------------------------------------------
    val merges = refBpeTrain(texts, nMerges = 16, minFreq = 2L)
    val bpeRanks = merges.map { case (rk, l, r, _) => (l, r) -> rk }.toMap
    val bpeTokCache = scala.collection.mutable.Map.empty[String, Int]
    def bpeTok(w: String): Int =
      bpeTokCache.getOrElseUpdate(w, refBpeEncodeWord(w, bpeRanks))
    val bpeEnc = docs.map { d =>
      val ws = d.text.split(" ").filter(_.nonEmpty)
      (d.id, ws.map(w => bpeTok(w).toLong).sum, ws.length.toLong)
    }
    val bpeFert = fertRows(docs, bpeTok)

    val cfg = graft.ext.UnigramLm.Config(maxPieceLen = 5, seedMulti = 150,
      targetMulti = 60, emIters = 2, minFreq = 2)
    val uniVocab = refUnigramTrain(texts, cfg)
    val uniLp = refLogp(uniVocab)
    val uniTokCache = scala.collection.mutable.Map.empty[String, Int]
    def uniTok(w: String): Int =
      uniTokCache.getOrElseUpdate(w, refViterbi(w, uniLp, cfg.maxPieceLen).size)
    val uniEnc = docs.map { d =>
      val ws = d.text.split(" ").filter(_.nonEmpty)
      (d.id, ws.map(w => uniTok(w).toLong).sum, ws.length.toLong)
    }
    val uniFert = fertRows(docs, uniTok)

    // ---- cross-check: live Spark queries must equal the reference -------
    def collectRows(q: String): Seq[Seq[Any]] =
      SparkEntry.queries(q)(spark, sfDir).collect()
        .map(_.toSeq.map {
          case i: Int => i.toLong // width-normalize for the compare
          case x => x
        }.toSeq).toSeq

    def check(q: String, ref: Seq[Seq[Any]]): Unit = {
      val got = collectRows(q)
      require(got == ref,
        s"$q: engine != reference at $sfDir\n  engine ${got.take(3)}...\n" +
          s"  ref    ${ref.take(3)}...\n  first diff: ${
            got.zipAll(ref, null, null).find { case (a, b) => a != b }}")
      println(s"[fixturegen] $q: engine matches reference (${ref.size} rows)")
    }

    val bpeTrainRows = merges.map { case (rk, l, r, f) =>
      Seq[Any](rk.toLong, l, r, f) }
    val bpeEncRows = bpeEnc.map { case (id, t, w) => Seq[Any](id, t, w) }
    val bpeFertRows = bpeFert.map { case (g, d, w, t, fe, ct) =>
      Seq[Any](g, d, w, t, fe, ct) }
    val uniTrainRows = uniVocab.zipWithIndex.map { case ((p, c), i) =>
      Seq[Any]((i + 1).toLong, p, c, round6(uniLp(p))) }
    val uniEncRows = uniEnc.map { case (id, t, w) => Seq[Any](id, t, w) }
    val uniFertRows = uniFert.map { case (g, d, w, t, fe, ct) =>
      Seq[Any](g, d, w, t, fe, ct) }

    check("q_bpe_train", bpeTrainRows)
    check("q_bpe_encode", bpeEncRows)
    check("q_tokenizer_fertility", bpeFertRows)
    check("q_unigram_train", uniTrainRows)
    check("q_unigram_encode", uniEncRows)
    check("q_unigram_fertility", uniFertRows)

    // ---- write fixtures --------------------------------------------------
    writeCsv(s"$fixDir/q_bpe_train.csv",
      Seq("rank", "left", "right", "pair_freq"), bpeTrainRows)
    writeCsv(s"$fixDir/q_bpe_encode.csv",
      Seq("doc_id", "n_tokens", "n_words"), bpeEncRows)
    writeCsv(s"$fixDir/q_tokenizer_fertility.csv",
      Seq("lang", "n_docs", "n_words", "n_tokens", "fertility",
        "chars_per_token"), bpeFertRows)
    writeCsv(s"$fixDir/q_unigram_train.csv",
      Seq("rank", "piece", "count", "logp"), uniTrainRows)
    writeCsv(s"$fixDir/q_unigram_encode.csv",
      Seq("doc_id", "n_tokens", "n_words"), uniEncRows)
    writeCsv(s"$fixDir/q_unigram_fertility.csv",
      Seq("grp", "n_docs", "n_words", "n_tokens", "fertility",
        "chars_per_token"), uniFertRows)
    println(s"[fixturegen] wrote 6 fixtures to $fixDir")
    spark.stop()
  }
}
