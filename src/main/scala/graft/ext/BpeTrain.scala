package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich et al. 2016, arXiv:1508.07909) in
  * the standard word-frequency formulation: the corpus collapses to a
  * (word, freq) vocabulary ONCE — the only corpus-sized pass — and every merge
  * iteration runs over that far smaller table: count symbol-pair frequencies
  * weighted by word freq, pick the argmax pair, rewrite the vocabulary's
  * symbol sequences. This is the shape real tokenizer trainers use; here the
  * vocabulary itself stays distributed, so a web-scale corpus whose distinct
  * words do not fit one machine still trains.
  *
  * Per iteration the driver holds exactly ONE (pair, freq) row (the argmax —
  * a TakeOrderedAndProject, ties broken lexicographically for determinism);
  * the rewrite is a typed map over the vocab (per-row sequential merge — the
  * genuinely imperative kernel, like LongTail's prefix sum), checkpointed so
  * iteration i never replays iterations 1..i−1.
  *
  * Output: one row per learned merge — (rank, left, right, pair_freq).
  * No SQL oracle (the merge recurrence is not expressible without recursive
  * row-dependent rewriting); the gate is BpeTrainSpec's golden fixture from
  * the original paper's worked example.
  */
object BpeTrain {

  /** End-of-word marker, kept distinct from any character symbol so merges
    * cannot cross word boundaries (the paper's `</w>`).
    */
  val EndOfWord = "</w>"

  final case class VocabRow(symbols: Seq[String], freq: Long)
  final case class Merge(rank: Int, left: String, right: String, pair_freq: Long)

  /** Learn `nMerges` BPE merges from the corpus. `minFreq` prunes the long
    * tail of hapax words from the vocab table (they cannot win a merge early
    * and dominate its row count).
    */
  /** Re-checkpoint cadence for the distributed merge loop. [[applyMerge]] is
    * a narrow per-row map over a small (word, freq) table, so iteration i can
    * simply CHAIN onto iteration i−1's plan — consecutive MapElements fuse
    * with no intermediate ser/de (EliminateSerialization) — instead of paying
    * an eager localCheckpoint job per merge. A checkpoint every 8 merges
    * bounds the replay depth (bestPair at iteration i re-runs ≤ 8 chained
    * maps over the vocab table) and the plan size; the r16 measurement:
    * per-iteration checkpointing spent HALF the train jobs on
    * materialization (2 jobs per merge → ~1 job per merge + 2 checkpoints
    * for 16 merges).
    */
  private val CheckpointEvery = 8

  /** SYMBOL-count bound under which the merge recurrence runs on the
    * driver. The merge loop is inherently sequential (each argmax depends
    * on the previous rewrite), so running it distributed costs 1-2 Spark
    * jobs PER MERGE regardless of data size — pure scheduling overhead once
    * the vocab is small. The corpus-sized pass (word counting) is always
    * distributed; what is collected is the DISTINCT freq-pruned word table,
    * which Heaps' law keeps sub-linear in corpus size and which every
    * production tokenizer trainer holds in one process.
    *
    * The gate counts SYMBOLS, not rows, because the collected footprint is
    * per-symbol: each symbol is one small JVM String (~24 B header + ~24 B
    * byte[] for a 1-char string) plus a Seq slot — roughly 60-70 B each —
    * so 4M symbols ≈ 250-280 MB of driver heap and a serialized collect in
    * the tens of MB, comfortably under the default 1 GiB
    * spark.driver.maxResultSize. (A row-count gate at 1M rows admitted ~9M
    * strings at typical word lengths — several hundred MB, not the "tens of
    * MB" its comment claimed.) Beyond the gate the loop stays fully
    * distributed (a web-scale vocab that genuinely does not fit still
    * trains). Both paths share [[bestPairLocal]]/[[applyMergeLocal]]
    * semantics bit-for-bit: same freq-desc/(left,right)-asc argmax in UTF-8
    * binary order, same left-to-right non-overlapping rewrite (BpeTrainSpec
    * differential).
    */
  private[ext] val LocalTrainMaxSymbols = 4000000L

  def train(docs: DataFrame, textCol: String, nMerges: Int,
            minFreq: Long = 1L): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the single corpus-sized pass: word frequencies
    val vocabDf = docs
      .select(explode(split(col(textCol), " ")).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .filter(col("__f") >= minFreq)
    val base: Dataset[VocabRow] = vocabDf
      .as[(String, Long)]
      .map { case (w, f) => VocabRow(w.map(_.toString) :+ EndOfWord, f) }
      .localCheckpoint(eager = true)
    // cheap job over the already-materialized checkpoint blocks (the Hits
    // partitioned-copy gate pattern): decide where the merge loop runs.
    // sum(size(symbols)) is the collected-footprint proxy the gate bounds
    // (see LocalTrainMaxSymbols); one aggregate job, same cost as count().
    val nSymbols = base.toDF()
      .agg(sum(size(col("symbols"))).cast("long")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)
    val result =
      if (nSymbols <= LocalTrainMaxSymbols)
        trainLocal(base.collect(), nMerges)
      else trainDistributed(base, nMerges)
    base.unpersist()
    result
  }

  /** Driver-side merge loop for gate-sized vocabularies: zero Spark jobs
    * per merge. Argmax and rewrite semantics are shared with the
    * distributed path (see [[LocalTrainMaxSymbols]]).
    */
  private[ext] def trainLocal(rows: Array[VocabRow],
                              nMerges: Int): Seq[Merge] = {
    var vocab = rows.map(r => (r.symbols.toArray, r.freq))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var iter = 0
    var exhausted = false
    while (iter < nMerges && !exhausted) {
      bestPairLocal(vocab) match {
        case None => exhausted = true
        case Some((left, right, freq)) =>
          merges += Merge(iter + 1, left, right, freq)
          vocab = vocab.map { case (s, f) => (applyMergeLocal(s, left, right), f) }
          iter += 1
      }
    }
    merges.toSeq
  }

  /** Distributed merge loop for vocabularies over the driver gate. */
  private[ext] def trainDistributed(base: Dataset[VocabRow],
                                    nMerges: Int): Seq[Merge] = {
    var vocab = base
    // the checkpoint currently holding the loop's materialized state — only
    // this one is ever pinned; the chained maps between checkpoints replay.
    // The caller owns (and unpersists) `base` itself.
    var ckpt: Dataset[VocabRow] = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var iter = 0
    var exhausted = false
    while (iter < nMerges && !exhausted) {
      bestPair(vocab) match {
        case None => exhausted = true
        case Some((left, right, freq)) =>
          merges += Merge(iter + 1, left, right, freq)
          vocab = applyMerge(vocab, left, right)
          iter += 1
          if (iter % CheckpointEvery == 0 && iter < nMerges) {
            val next = vocab.localCheckpoint(eager = true)
            if (ckpt != null) ckpt.unpersist()
            vocab = next
            ckpt = next
          }
      }
    }
    if (ckpt != null) ckpt.unpersist()
    merges.toSeq
  }

  /** Spark compares strings as UTF-8 bytes, unsigned (UTF8String.compareTo);
    * Java String ordering compares UTF-16 code units, and the two disagree
    * when a supplementary character (UTF-16 surrogates 0xD800-0xDFFF, UTF-8
    * lead byte 0xF0-0xF4) ties against a BMP character in U+E000-U+FFFF
    * (UTF-16 units above the surrogate block, UTF-8 lead 0xEE-0xEF). The
    * local path must break freq ties exactly like the distributed orderBy,
    * so it compares the same bytes Spark does — including Java's unpaired-
    * surrogate-to-'?' mangling, which String.getBytes(UTF_8) applies on the
    * distributed side too (UTF8String.fromString).
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Local twin of [[bestPair]]: highest total freq, ties broken by
    * (left, right) ascending in Spark's UTF-8 binary string order — the
    * exact orderBy of the distributed form (see [[utf8Cmp]]).
    */
  private[ext] def bestPairLocal(
      vocab: Array[(Array[String], Long)]): Option[(String, String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    vocab.foreach { case (s, f) =>
      var i = 0
      while (i < s.length - 1) {
        val k = (s(i), s(i + 1))
        counts.update(k, counts.getOrElse(k, 0L) + f)
        i += 1
      }
    }
    if (counts.isEmpty) None
    else {
      var bl: String = null; var br: String = null; var bf = 0L
      counts.foreach { case ((l, r), f) =>
        val better = bl == null || f > bf || (f == bf && {
          val cl = utf8Cmp(l, bl)
          cl < 0 || (cl == 0 && utf8Cmp(r, br) < 0)
        })
        if (better) { bl = l; br = r; bf = f }
      }
      Some((bl, br, bf))
    }
  }

  /** Local twin of [[applyMerge]]'s per-row kernel: merge each
    * non-overlapping left-to-right occurrence.
    */
  private[ext] def applyMergeLocal(s: Array[String], left: String,
                                   right: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == left && s(i + 1) == right) {
        out += left + right; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** DataFrame form of [[train]] for query surfaces. */
  def trainDF(spark: SparkSession, docs: DataFrame, textCol: String,
              nMerges: Int, minFreq: Long = 1L): DataFrame = {
    import spark.implicits._
    train(docs, textCol, nMerges, minFreq).toDF()
      .select(col("rank"), col("left"), col("right"), col("pair_freq"))
  }

  /** Encode documents with a learned merge list — the APPLY half of BPE:
    * per word, repeatedly merge the adjacent pair with the LOWEST merge rank
    * until none applies (the standard greedy encoding order — rank order, not
    * left-to-right discovery order). Output: (idCol, n_tokens, n_word_ends) —
    * the sequence-length accounting a packing/budget pipeline consumes.
    *
    * Scale shape: merges are vocabulary-sized (thousands) → one broadcast
    * map; encoding is embarrassingly parallel per row. The per-word loop is
    * O(symbols × applied merges) — the same kernel every tokenizer runs.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rank: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(rank)
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val r = bc.value
        var nTokens = 0L
        var nWords = 0L
        text.split(" ").iterator.filter(_.nonEmpty).foreach { w =>
          nWords += 1
          var s = (w.map(_.toString) :+ EndOfWord).toArray
          var done = false
          while (!done && s.length > 1) {
            // lowest-rank applicable merge wins each round
            var best = Int.MaxValue; var bi = -1
            var i = 0
            while (i < s.length - 1) {
              val rk = r.getOrElse((s(i), s(i + 1)), Int.MaxValue)
              if (rk < best) { best = rk; bi = i }
              i += 1
            }
            if (bi < 0) done = true
            else {
              val l = s(bi); val rt = s(bi + 1)
              val out = new Array[String](s.length)
              // merge EVERY occurrence of this pair, left-to-right
              var j = 0; var k = 0
              while (j < s.length) {
                if (j + 1 < s.length && s(j) == l && s(j + 1) == rt) {
                  out(k) = l + rt; j += 2
                } else { out(k) = s(j); j += 1 }
                k += 1
              }
              s = java.util.Arrays.copyOf(out, k)
            }
          }
          nTokens += s.length
        }
        (id, nTokens, nWords)
      }
      .toDF(idCol, "n_tokens", "n_words")
  }

  /** Tokenizer fertility by group (language, source, domain …) — the
    * multilingual-tokenizer audit: fertility = BPE tokens per whitespace
    * word. A tokenizer trained on an English-heavy corpus fragments other
    * languages into many more subwords, which silently taxes their context
    * budget and training compute; this table is how that skew is measured
    * (cf. the fertility metric in the XLM-R / NLLB tokenizer analyses).
    *
    * Composes [[encode]] (embarrassingly parallel, broadcast merge ranks)
    * with one group-keyed aggregate. `chars_per_token` is the compression
    * view of the same skew (chars counted on the text column, whitespace
    * included — stated so the oracle matches). Output per group:
    * (group, n_docs, n_words, n_tokens, fertility, chars_per_token).
    */
  def fertilityByGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, merges: Seq[Merge]): DataFrame = {
    val enc = encode(docs, idCol, textCol, merges)
    docs.select(col(idCol), col(groupCol).as("grp"),
        length(col(textCol)).cast("long").as("__chars"))
      .join(enc, idCol)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("__chars")).as("__c"))
      .select(col("grp"), col("n_docs"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("__c").cast("double") / col("n_tokens"), 6).as("chars_per_token"))
  }

  /** Highest-frequency adjacent symbol pair (freq desc, then (left, right)
    * asc for determinism); None when no row has two symbols left.
    *
    * Relational form (r16): adjacent pairs come from a codegen
    * transform/explode over the symbols array and the count is a partial
    * (map-side) aggregation + TakeOrderedAndProject — the typed
    * groupByKey/reduceGroups predecessor shipped every (pair, freq) object
    * row through the exchange with no combine. Same pair multiset (both
    * emit every adjacent occurrence, freq-weighted), same Long sum, same
    * (freq desc, left, right) tie-break.
    */
  private def bestPair(vocab: Dataset[VocabRow]): Option[(String, String, Long)] = {
    vocab.toDF()
      .filter(size(col("symbols")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(symbols) - 2)," +
          " i -> struct(symbols[i] AS l, symbols[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("f"))
      .orderBy(col("f").desc, col("l"), col("r"))
      .limit(1)
      .collect().headOption
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
  }

  /** Rewrite every vocab row, merging each non-overlapping left-to-right
    * occurrence of (left, right) into one symbol — the sequential per-word
    * kernel of BPE (state across positions, so a typed map, not SQL).
    */
  private[ext] def applyMerge(vocab: Dataset[VocabRow], left: String,
                              right: String): Dataset[VocabRow] = {
    val spark = vocab.sparkSession
    import spark.implicits._
    vocab.map { r =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      val s = r.symbols
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == left && s(i + 1) == right) {
          out += left + right; i += 2
        } else { out += s(i); i += 1 }
      }
      VocabRow(out.toSeq, r.freq)
    }
  }
}
