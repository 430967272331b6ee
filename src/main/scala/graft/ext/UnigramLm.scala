package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Distributed unigram-LM (SentencePiece-style) tokenizer training — the
  * OTHER algorithm real pipelines train besides BPE (Kudo 2018, arXiv:
  * 1804.10959): hold a vocabulary of candidate pieces with probabilities,
  * segment each word by the most probable piece sequence (Viterbi over the
  * word's substring lattice), re-estimate piece probabilities from the
  * segmentations (EM), and prune the vocabulary down to a target size by
  * keeping the pieces that carry the likelihood.
  *
  * Like [[BpeTrain]], the corpus collapses to a (word, freq) vocabulary
  * ONCE — the only corpus-sized pass — and every training step runs over
  * that far smaller table. The piece vocabulary itself is BOUNDED
  * (`seedMulti` + alphabet, a few hundred rows), so it lives on the driver
  * between iterations and broadcasts into each E-step, exactly the shape of
  * the merge table in BPE: a web-scale corpus whose distinct WORDS do not
  * fit one machine still trains, because only the word table is distributed.
  *
  * Determinism (the BPE discipline): every ranking quantity is an INTEGER.
  * The E-step is hard-EM — each word contributes freq × (occurrences in its
  * Viterbi-best segmentation) to each piece's count, an exact long — so
  * cross-partition aggregation order cannot drift the counts, and piece
  * probabilities are derived from those longs by one fixed formula
  * (logp = ln(eff) − ln(total)). Pruning ranks by expected count — the
  * dominant term of SentencePiece's likelihood-loss criterion — with the
  * total order (count desc, piece asc). Viterbi ties (exact double
  * equality) break to the LONGEST piece at each position. The merge
  * recurrence across EM rounds makes the trainer non-SQL-expressible, so
  * the correctness gate is UnigramLmSpec's independent single-threaded
  * reference differential (the BpeTrainSpec pattern) plus the driver's
  * rows-only check.
  *
  * Smoothing: every single-character piece carries a +1 effective count so
  * the alphabet never leaves the vocabulary (full coverage, SentencePiece's
  * required-character rule); multi-char pieces with zero expected count are
  * dropped immediately (they are unreachable under the current model).
  * Characters unseen at training time encode as one piece with [[UnkLogp]].
  */
object UnigramLm {

  final case class Piece(rank: Int, piece: String, count: Long, logp: Double)

  /** Fixed score of an out-of-alphabet character at encode time — low
    * enough that any in-vocabulary path beats a path through unknowns.
    */
  val UnkLogp: Double = -25.0

  /** Training configuration: pieces are 1..`maxPieceLen` chars; the seed
    * keeps the `seedMulti` most frequent multi-char substrings (plus the
    * whole alphabet); each prune round keeps max(`targetMulti`, 3/4 of the
    * current multi-char pieces) and runs `emIters` EM sweeps; `minFreq`
    * prunes hapax words from the word table first.
    */
  final case class Config(maxPieceLen: Int = 5, seedMulti: Int = 150,
                          targetMulti: Int = 60, emIters: Int = 2,
                          minFreq: Long = 1L)

  // --------------------------------------------------------------------------
  // Viterbi lattice
  // --------------------------------------------------------------------------

  /** Most probable segmentation of `word` under `lp` (piece → logp).
    * best(i) = max over piece lengths ℓ of best(i−ℓ) + logp(word[i−ℓ..i));
    * ℓ scans DESCENDING with strict improvement, so an exact score tie
    * keeps the longest piece. A single char absent from `lp` scores
    * [[UnkLogp]] (encode-time unknowns); multi-char candidates must be in
    * the vocabulary.
    */
  private[ext] def viterbi(word: String, lp: java.util.HashMap[String, java.lang.Double],
                           maxPieceLen: Int): List[String] = {
    val n = word.length
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      best(i) = Double.NegativeInfinity
      var l = math.min(i, maxPieceLen)
      while (l >= 1) {
        val piece = word.substring(i - l, i)
        val p = lp.get(piece)
        val sc =
          if (p ne null) best(i - l) + p.doubleValue()
          else if (l == 1) best(i - 1) + UnkLogp
          else Double.NegativeInfinity
        if (sc > best(i)) { best(i) = sc; back(i) = l }
        l -= 1
      }
      i += 1
    }
    var out = List.empty[String]
    var pos = n
    while (pos > 0) {
      val l = back(pos)
      out = word.substring(pos - l, pos) :: out
      pos -= l
    }
    out
  }

  /** logp per piece from integer counts: eff = count (+1 for single chars —
    * the coverage floor), logp = ln(eff) − ln(Σ eff). One fixed formula on
    * exact longs, so the distributed trainer and the single-threaded
    * reference land on bit-identical doubles.
    */
  private[ext] def logProbs(counts: Seq[(String, Long)]): Map[String, Double] = {
    val eff = counts.map { case (p, c) =>
      (p, if (p.length == 1) c + 1 else c)
    }
    val total = eff.map(_._2).sum
    val lnT = math.log(total.toDouble)
    eff.map { case (p, c) => p -> (math.log(c.toDouble) - lnT) }.toMap
  }

  private def toJavaMap(m: Map[String, Double]): java.util.HashMap[String, java.lang.Double] = {
    val jm = new java.util.HashMap[String, java.lang.Double](m.size * 2)
    m.foreach { case (k, v) => jm.put(k, java.lang.Double.valueOf(v)) }
    jm
  }

  // --------------------------------------------------------------------------
  // Training
  // --------------------------------------------------------------------------

  /** Learn a unigram-LM vocabulary from the corpus. Output pieces are
    * ranked (count desc, piece asc); rank 1 is the heaviest piece.
    */
  def train(docs: DataFrame, textCol: String, cfg: Config = Config()): Seq[Piece] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(cfg.maxPieceLen >= 2 && cfg.seedMulti >= cfg.targetMulti &&
      cfg.targetMulti >= 1 && cfg.emIters >= 1, s"bad config $cfg")

    // the single corpus-sized pass: word frequencies
    val words: Dataset[(String, Long)] = Materialize(docs
      .select(explode(split(col(textCol), " ")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .filter(col("__f") >= cfg.minFreq)
      .as[(String, Long)]).df

    // seed: every substring occurrence of every word, weighted by word freq
    val maxLen = cfg.maxPieceLen
    val subCounts = words.flatMap { case (w, f) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxLen && i + l <= w.length) {
          out += ((w.substring(i, i + l), f))
          l += 1
        }
        i += 1
      }
      out
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .toDF("piece", "cnt")
    val chars = subCounts.filter(length(col("piece")) === 1)
      .orderBy(col("cnt").desc, col("piece"))
      .as[(String, Long)].collect().toSeq
    val seedMultis = subCounts.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(cfg.seedMulti)
      .as[(String, Long)].collect().toSeq
    var vocab: Seq[(String, Long)] = chars ++ seedMultis
    val charSet = chars.map(_._1).toSet

    // one hard-EM sweep: Viterbi-segment every word, pool exact long counts
    def emStep(v: Seq[(String, Long)]): Seq[(String, Long)] = {
      val bc = spark.sparkContext.broadcast(toJavaMap(logProbs(v)))
      val counted = words.flatMap { case (w, f) =>
        viterbi(w, bc.value, maxLen).map(p => (p, f))
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .collect().toSeq // bounded: ≤ |vocab| rows
      bc.destroy()
      val cm = counted.toMap
      // chars persist at their (possibly zero) count; unreachable multi-char
      // pieces drop out
      val keptChars = charSet.toSeq.sorted.map(c => (c, cm.getOrElse(c, 0L)))
      val keptMulti = counted.filter { case (p, _) => p.length > 1 }
      keptChars ++ keptMulti
    }

    def ranked(v: Seq[(String, Long)]): Seq[(String, Long)] =
      v.sortBy { case (p, c) => (-c, p) }

    def runEm(): Unit = { var k = 0; while (k < cfg.emIters) { vocab = emStep(vocab); k += 1 } }
    runEm()
    var nMulti = vocab.count(_._1.length > 1)
    while (nMulti > cfg.targetMulti) {
      val keep = math.max(cfg.targetMulti, nMulti * 3 / 4)
      val multis = ranked(vocab.filter(_._1.length > 1)).take(keep)
      vocab = vocab.filter(_._1.length == 1) ++ multis
      runEm()
      nMulti = vocab.count(_._1.length > 1)
    }

    words.unpersist()
    val lp = logProbs(vocab)
    ranked(vocab).zipWithIndex.map { case ((p, c), i) =>
      Piece(i + 1, p, c, lp(p))
    }
  }

  /** DataFrame form of [[train]] for query surfaces:
    * (rank, piece, count, logp).
    */
  def trainDF(docs: DataFrame, textCol: String, cfg: Config = Config()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, cfg).toDF()
      .select(col("rank").cast("long").as("rank"), col("piece"),
        col("count"), round(col("logp"), 6).as("logp"))
      .orderBy(col("rank"))
  }

  // --------------------------------------------------------------------------
  // Encoding
  // --------------------------------------------------------------------------

  /** Viterbi-encode documents with a trained vocabulary — the APPLY half.
    * Output: (idCol, n_tokens, n_words) — the sequence-length accounting a
    * packing/budget pipeline consumes, the [[BpeTrain.encode]] contract.
    * Pieces are vocabulary-sized → one broadcast map; encoding is
    * embarrassingly parallel per row.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             pieces: Seq[Piece], maxPieceLen: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      toJavaMap(pieces.map(p => p.piece -> p.logp).toMap))
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val ws = text.split(" ").filter(_.nonEmpty)
        var nTok = 0L
        var i = 0
        while (i < ws.length) {
          nTok += viterbi(ws(i), bc.value, maxPieceLen).length
          i += 1
        }
        (id, nTok, ws.length.toLong)
      }
      .toDF("id", "n_tokens", "n_words")
      .withColumnRenamed("id", idCol)
  }

  /** Fertility (tokens per word) and chars-per-token by a group column —
    * the language-skew readout ([[BpeTrain.fertilityByGroup]] contract):
    * (grp, n_docs, n_words, n_tokens, fertility, chars_per_token).
    */
  def fertilityByGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, pieces: Seq[Piece],
                       maxPieceLen: Int = 5): DataFrame =
    BpeTrain.fertility(docs, idCol, textCol, groupCol,
      encode(docs, idCol, textCol, pieces, maxPieceLen))
}
