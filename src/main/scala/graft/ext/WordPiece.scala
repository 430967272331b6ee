package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece-style greedy subword encoding (Wu et al. 2016, arXiv:
  * 1609.08144 §4.1 "wordpiece model"; the BERT tokenizer's apply half):
  * per word, repeatedly take the LONGEST vocabulary piece matching at the
  * current position (maximal munch), emitting one token per match. This
  * completes the tokenizer family next to [[BpeTrain.encode]] (merge-rank
  * greedy) and [[UnigramLm.encode]] (Viterbi): three apply algorithms, one
  * sequence-length accounting contract.
  *
  * Vocabulary: position-agnostic piece strings — the shared-vocab variant,
  * where the `##` continuation distinction degenerates because the same
  * piece set is legal at word start and word middle (exactly the shape of
  * a unigram-LM vocabulary, which is what the query surface feeds it).
  * A position with NO matching piece emits one single-character UNK token
  * and advances one char (the single-char fallback, mirroring
  * [[UnigramLm.UnkLogp]]'s coverage rule rather than BERT's whole-word
  * [UNK], so a rare character costs one token instead of erasing the
  * word) — n_unk counts those fallbacks.
  *
  * Unlike the trainers, greedy longest-match is PURE string recursion —
  * SQL-expressible (a recursive CTE over a per-position longest-match
  * table), so the driver gets a full value oracle with no fixture freeze
  * of the output itself.
  *
  * Scale shape: the vocabulary is bounded (a few hundred pieces) → one
  * broadcast length-bucketed hash set; encoding is embarrassingly parallel
  * per row, scan-side, O(len × maxPieceLen) per word.
  */
object WordPiece {

  /** Tokenize one word; returns (nTokens, nUnk). */
  private[ext] def encodeWord(w: String, vocab: java.util.HashSet[String],
                              maxPieceLen: Int): (Long, Long) = {
    var pos = 0
    var n = 0L
    var unk = 0L
    val len = w.length
    while (pos < len) {
      var l = math.min(maxPieceLen, len - pos)
      var matched = 0
      while (l >= 1 && matched == 0) {
        if (vocab.contains(w.substring(pos, pos + l))) matched = l
        else l -= 1
      }
      if (matched == 0) { unk += 1L; pos += 1 } else pos += matched
      n += 1L
    }
    (n, unk)
  }

  /** Per-document greedy encode: (idCol, n_tokens, n_words, n_unk). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val maxLen = if (vocab.isEmpty) 1 else vocab.map(_.length).max
    val set = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(set.add)
    val bc = spark.sparkContext.broadcast((set, maxLen))
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (v, ml) = bc.value
        var nTok = 0L; var nUnk = 0L; var nW = 0L
        text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
          nW += 1
          val (t, u) = encodeWord(w, v, ml)
          nTok += t; nUnk += u
        }
        (id, nTok, nW, nUnk)
      }
      .toDF(idCol, "n_tokens", "n_words", "n_unk")
  }

  /** Fertility by group — the [[BpeTrain.fertilityByGroup]] contract on the
    * greedy family: (grp, n_docs, n_words, n_tokens, fertility,
    * chars_per_token).
    */
  def fertilityByGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, vocab: Seq[String]): DataFrame =
    BpeTrain.fertility(docs, idCol, textCol, groupCol,
      encode(docs, idCol, textCol, vocab))
}
