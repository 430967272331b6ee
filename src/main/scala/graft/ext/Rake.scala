package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materialize

/** RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010, "Automatic
  * Keyword Extraction from Individual Documents"): candidate phrases are the
  * maximal runs of content words between stopword/punctuation breaks; each
  * word scores deg(w)/freq(w) where freq counts occurrences inside candidates
  * and deg sums the lengths of the candidate phrases containing them (words
  * that travel in long phrases outrank loners); a phrase scores the sum of
  * its words' scores. The corpus-level variant here surfaces the vocabulary
  * a domain keeps using in multiword units — the keyphrase seed list for
  * taxonomy/facet building over a crawl.
  *
  * Exactness: word scores are exact integer ratios in doubles; per-phrase
  * sums pool in DECIMAL(18,8); ranking is on the raw score with a phrase
  * tie-break, all restated identically in the oracle. Phrase assembly uses
  * a per-doc window cumsum over break flags — the sessionize idiom applied
  * to token streams — so everything stays whole-stage-codegen; the only
  * shuffles are (doc, phrase)- and word-keyed aggregates.
  */
object Rake {

  /** Top-20 English function words — public list, exposed so the SQL oracle
    * embeds the SAME breaks.
    */
  val stopwordsEn: Seq[String] = Seq(
    "the", "and", "of", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "at")

  /** Corpus-level top-`k` keyphrases. Output:
    * (phrase, n_words, n_occurrences, score), score desc then phrase asc.
    */
  def keyphrases(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 20, maxPhraseLen: Int = 4): DataFrame = {
    require(k >= 1 && maxPhraseLen >= 1, s"bad k=$k maxPhraseLen=$maxPhraseLen")
    val toks = df
      .select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("pos", "tok")))
      .select(col("id"), col("pos"),
        regexp_replace(col("tok"), "[^a-z]", "").as("w"))
      .withColumn("brk",
        (col("w") === "" || col("w").isin(stopwordsEn: _*)).cast("int"))
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val phrases = Materialize(toks
      .withColumn("pid", sum(col("brk")).over(wDoc))
      .filter(col("brk") === 0)
      .groupBy(col("id"), col("pid"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          e => e.getField("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .filter(col("len") <= maxPhraseLen)).df // feeds word stats AND occurrence counts
    val words = phrases
      .select(col("len"), explode(split(col("phrase"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"),
        (col("deg").cast("double") / col("freq").cast("double")).as("wscore"))
    val occ = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), max(col("len")).as("n_words"))
    occ.select(col("phrase"), col("n_occurrences"), col("n_words"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(words, "w")
      .groupBy(col("phrase"), col("n_words"), col("n_occurrences"))
      .agg(sum(col("wscore").cast("decimal(18,8)")).cast("double").as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }
}
