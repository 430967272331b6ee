package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Structured-Streaming variants of the event-time operators in
  * [[graft.ext.EventWindows]]. The reference has no streaming semantics
  * (SURVEY.md §2.3 "Streaming: Absent") — these are north-star extensions showing the
  * same aggregations as incremental, watermark-bounded streams.
  */
object StreamingOps {

  /** Tumbling 1-hour windowed counts/sums per event type with a watermark bounding
    * state. Works on any streaming DataFrame with (ts timestamp, event_type string,
    * value double).
    */
  def hourlyStats(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the incremental twin of [[graft.ext.Dedup.exactDedup]]:
    * only the FIRST document with each content hash passes through; later arrivals
    * within the watermark horizon are dropped.
    *
    * Keying on the md5 digest (not the text) keeps per-key state at 32 bytes, and
    * `dropDuplicatesWithinWatermark` expires state once the watermark passes a
    * duplicate's event time — bounded state at 100 TB/day ingest, at the cost of
    * re-admitting a duplicate that recurs after the horizon (the batch dedup is the
    * exact backstop).
    */
  def dedupExactStream(stream: DataFrame, tsCol: String = "ts",
                       textCol: String = "text",
                       watermark: String = "1 hour"): DataFrame =
    stream
      .withColumn("text_md5", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Streaming canonical-URL dedup — the incremental twin of
    * [[graft.ext.UrlCanonical.dupClusters]]: canonicalization is pure
    * scan-side string expressions (works unchanged on a streaming frame),
    * then only the FIRST fetch of each canonical URL passes; later
    * scheme/case/port/tracking-param variants within the watermark horizon
    * drop. Keying on the md5 of the canonical form keeps per-key state at
    * 32 bytes regardless of URL length, and the within-watermark dedup
    * expires state — bounded at crawl-firehose scale, with the batch
    * dupClusters as the exact backstop beyond the horizon.
    */
  def urlDedupStream(stream: DataFrame, tsCol: String = "ts",
                     urlCol: String = "url",
                     watermark: String = "1 hour"): DataFrame =
    graft.ext.UrlCanonical.canonicalize(stream, urlCol)
      .withColumn("canon_md5", md5(col("canonical_url")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canon_md5")

  final case class CandidatePair(id_a: Long, id_b: Long)

  /** Streaming MinHash+LSH near-dup candidate detection — the incremental twin of
    * [[graft.ext.Dedup.minhashLshPairs]]'s candidate-generation stage. Arriving
    * documents are signed and banded with the SAME hash family as the batch
    * operator; state is one Long per occupied band bucket (the bucket's canonical
    * = minimum doc id), and a document landing in an occupied bucket emits a
    * `(canonical, doc)` candidate pair.
    *
    * Two structural differences from the batch path, both forced by streaming:
    *  - the signature is a per-row fold over the shingle array
    *    (`functions.aggregate`) instead of an explode + groupBy min — zero
    *    shuffle before the keyed state, so no streaming-aggregation watermark is
    *    needed for signing;
    *  - candidates are NOT Jaccard-verified here (verification needs both full
    *    shingle sets; run the batch `verifyJaccard` over the emitted pairs, or
    *    join pairs back against a document store downstream). The same pair can
    *    also emit from several bands — `.distinct()` downstream.
    *
    * State grows with distinct occupied buckets (8 bytes + key per bucket), the
    * same asymptotics as the batch band table; add a state-store TTL in
    * deployment if the corpus is unbounded.
    */
  def minhashCandidatesStream(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text", k: Int = 3,
                              numHashes: Int = 16, rowsPerBand: Int = 4)
      : Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    import graft.ext.Dedup
    val numBands = numHashes / rowsPerBand
    val shingleArr = graft.functions.WordShingles.shingles(col(textCol), k)
    val mh = (0 until numHashes).map { j =>
      aggregate(shingleArr, lit(Long.MaxValue), (acc, s) =>
        least(acc, (lit(Dedup.minhashA(j)) * Dedup.tokenHash32(s)
          + lit(Dedup.minhashB(j))) % lit(Dedup.MinhashPrime)))
        .as(s"mh_$j")
    }
    val sig = docs.select(col(idCol).cast("long").as("__id") +: mh: _*)
    val banded = (0 until numBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("bkey"))
    }
    // per-row generator over numBands elements — interpreted, but O(bands), not hot
    val keyed = sig
      .select(col("__id"), explode(array(banded: _*)).as("bk"))
      .select(col("__id").as("_1"), col("bk.band").as("_2"), col("bk.bkey").as("_3"))
      .as[(Long, Int, String)]
    keyed
      .groupByKey { case (_, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState[Long, CandidatePair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[(Long, Int, String)], state: GroupState[Long]) =>
          val ids = it.map(_._1).toSeq.distinct.sorted
          val out = scala.collection.mutable.ArrayBuffer[CandidatePair]()
          var canon = state.getOption.getOrElse(Long.MaxValue)
          ids.foreach { id =>
            if (canon == Long.MaxValue) canon = id
            else if (id != canon) {
              out += CandidatePair(math.min(canon, id), math.max(canon, id))
              canon = math.min(canon, id)
            }
          }
          if (canon != Long.MaxValue) state.update(canon)
          out.iterator
      }
  }

  /** [[minhashCandidatesStream]] with EVENT-TIME state TTL — the deployment
    * shape for unbounded corpora, where NoTimeout state grows with occupied
    * band buckets forever. A bucket's canonical id expires once the watermark
    * passes `ttlMs` beyond the bucket's last-seen event time (the timeout is
    * re-armed on every visit); an expired bucket forgets its canonical, so a
    * duplicate recurring after the horizon re-seeds instead of pairing — the
    * same trade [[dedupExactStream]] makes, with the batch operator as the
    * exact backstop.
    */
  def minhashCandidatesStreamTtl(docs: DataFrame, tsCol: String, ttlMs: Long,
                                 idCol: String = "doc_id",
                                 textCol: String = "text", k: Int = 3,
                                 numHashes: Int = 16, rowsPerBand: Int = 4,
                                 allowedLateness: String = "0 seconds")
      : Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    import graft.ext.Dedup
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val numBands = numHashes / rowsPerBand
    val shingleArr = graft.functions.WordShingles.shingles(col(textCol), k)
    val mh = (0 until numHashes).map { j =>
      aggregate(shingleArr, lit(Long.MaxValue), (acc, s) =>
        least(acc, (lit(Dedup.minhashA(j)) * Dedup.tokenHash32(s)
          + lit(Dedup.minhashB(j))) % lit(Dedup.MinhashPrime)))
        .as(s"mh_$j")
    }
    val sig = docs.withWatermark(tsCol, allowedLateness)
      .select(Seq(col(idCol).cast("long").as("__id"), col(tsCol).as("__ts")) ++ mh: _*)
    val banded = (0 until numBands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("bkey"))
    }
    val keyed = sig
      .select(col("__id"), col("__ts"), explode(array(banded: _*)).as("bk"))
      .select(col("__id").as("_1"), col("__ts").as("_2"),
        col("bk.band").as("_3"), col("bk.bkey").as("_4"))
      .as[(Long, Timestamp, Int, String)]
    keyed
      .groupByKey { case (_, _, band, bkey) => (band, bkey) }
      .flatMapGroupsWithState[Long, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), it: Iterator[(Long, Timestamp, Int, String)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val ids = rows.map(_._1).distinct.sorted
            val out = scala.collection.mutable.ArrayBuffer[CandidatePair]()
            var canon = state.getOption.getOrElse(Long.MaxValue)
            ids.foreach { id =>
              if (canon == Long.MaxValue) canon = id
              else if (id != canon) {
                out += CandidatePair(math.min(canon, id), math.max(canon, id))
                canon = math.min(canon, id)
              }
            }
            if (canon != Long.MaxValue) {
              state.update(canon)
              // re-arm: expire ttlMs past this bucket's latest event time (must
              // stay strictly above the current watermark to be settable)
              val maxTs = rows.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  final case class HammingPair(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming banded-Hamming near-dup candidates with event-time state
    * TTL — the perceptual-fingerprint twin of [[graft.multimodal
    * .Multimodal]]'s banded batch joins (image dHash, audio envelope,
    * video mdat), closing the streaming story for that tier the way
    * [[minhashCandidatesStreamTtl]] does for set-level dedup: each
    * arriving (id, 64-bit fingerprint) keys into `maxHamming + 1` band
    * buckets (pigeonhole: a pair within the bound shares at least one
    * bucket), a bucket holds one canonical (id, fingerprint), and an
    * arrival pairs against the canonical with an EXACT `bitCount` verify.
    * Canonical-chain trade as in the minhash/winnow twins: a hot bucket
    * grows pairs linearly in arrivals, never quadratically, and the same
    * pair may surface from more than one band (downstream dedups —
    * identical to the batch operators' pre-`distinct` candidate stream).
    * Bucket state expires `ttlMs` past its last-seen event time, re-armed
    * per visit, so an unbounded corpus keeps bounded state; a duplicate
    * recurring after the horizon re-seeds instead of pairing, with the
    * batch operators as the exact backstop.
    */
  def fingerprintCandidatesStreamTtl(fps: DataFrame, tsCol: String,
                                     ttlMs: Long, idCol: String = "doc_id",
                                     fpCol: String = "fingerprint",
                                     maxHamming: Int = 3,
                                     allowedLateness: String = "0 seconds")
      : Dataset[HammingPair] = {
    import fps.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    require(maxHamming >= 0 && maxHamming <= 15,
      s"need 0 <= maxHamming <= 15, got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    val banded = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("__fp"), b * bandBits).bitwiseAND(lit(mask))
          .as("bits"))
    }
    val keyed = fps.withWatermark(tsCol, allowedLateness)
      .select(col(idCol).cast("long").as("__id"), col(tsCol).as("__ts"),
        col(fpCol).cast("long").as("__fp"))
      .select(col("__id"), col("__ts"), col("__fp"),
        explode(array(banded: _*)).as("bk"))
      .select(col("__id").as("_1"), col("__ts").as("_2"),
        col("__fp").as("_3"), col("bk.band").as("_4"), col("bk.bits").as("_5"))
      .as[(Long, Timestamp, Long, Int, Long)]
    keyed
      .groupByKey { case (_, _, _, band, bits) => (band, bits) }
      .flatMapGroupsWithState[(Long, Long), HammingPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), it: Iterator[(Long, Timestamp, Long, Int, Long)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val arrivals = rows.map(r => (r._1, r._3)).distinct.sortBy(_._1)
            val out = scala.collection.mutable.ArrayBuffer[HammingPair]()
            var canon: (Long, Long) = state.getOption.orNull
            arrivals.foreach { case (id, fp) =>
              if (canon == null) canon = (id, fp)
              // the canonical doc re-arriving with a CHANGED fingerprint
              // must refresh the stored one, or later arrivals verify
              // against a stale fingerprint until the bucket's TTL expires
              else if (id == canon._1) canon = (id, fp)
              else {
                val d = java.lang.Long.bitCount(canon._2 ^ fp)
                if (d <= maxHamming)
                  out += HammingPair(math.min(canon._1, id),
                    math.max(canon._1, id), d)
                if (id < canon._1) canon = (id, fp)
              }
            }
            if (canon != null) {
              state.update(canon)
              val maxTs = rows.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  final case class ShinglePair(id_a: Long, id_b: Long, hamming: Int,
                               offset_windows: Int)

  /** Streaming SHIFT-TOLERANT near-dup candidates with event-time state
    * TTL — the streaming twin of [[graft.multimodal.Multimodal
    * .audioDupPairsShifted]]/[[graft.multimodal.Multimodal
    * .videoDupPairsShifted]]: input rows are the already-shingled
    * (id, shingle index, 64-bit fingerprint) stream (the same
    * per-blob [[graft.multimodal.Multimodal.envelopeShingles]] fan-out
    * the batch path produces), each row keys into `maxHamming + 1` band
    * buckets, a bucket holds one canonical (id, shingle, fp), and an
    * arrival from a DIFFERENT blob pairs against it with an exact
    * bitCount verify, reporting the shingle-offset witness — so a
    * window-aligned trimmed copy of an in-horizon original is caught as
    * it streams in, exactly the case the whole-signal
    * [[fingerprintCandidatesStreamTtl]] twin cannot see. Same canonical-
    * chain trade and TTL-bounded state as the other dedup twins; a blob's
    * own later shingles refresh its canonical entry and never self-pair.
    * The trade's two misses, explicitly: (1) two NON-canonical arrivals
    * never pair against EACH OTHER, only against the bucket's canonical —
    * three same-batch copies a < b < c emit (a, b) and (a, c) but never
    * (b, c) (StreamReplaySpec holds this case); (2) a duplicate arriving
    * after its original's bucket state expired past the TTL horizon
    * re-seeds instead of pairing. For both, the batch operator
    * ([[graft.multimodal.Multimodal.audioDupPairsShifted]] and kin) is
    * the exact backstop — the streamed pairs are a subset of the batch
    * pairs, complete whenever each bucket holds one canonical per
    * TTL-epoch and dups arrive within the horizon.
    * The same pair may surface from several (band, shingle) collisions
    * with different witnesses — downstream keeps min (hamming, offset) as
    * the batch operator's groupBy does.
    */
  def shingleCandidatesStreamTtl(fps: DataFrame, tsCol: String,
                                 ttlMs: Long, idCol: String = "doc_id",
                                 shingleCol: String = "s",
                                 fpCol: String = "fp",
                                 maxHamming: Int = 3,
                                 allowedLateness: String = "0 seconds")
      : Dataset[ShinglePair] = {
    import fps.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    require(maxHamming >= 0 && maxHamming <= 15,
      s"need 0 <= maxHamming <= 15, got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    val banded = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("__fp"), b * bandBits).bitwiseAND(lit(mask))
          .as("bits"))
    }
    val keyed = fps.withWatermark(tsCol, allowedLateness)
      .select(col(idCol).cast("long").as("__id"), col(tsCol).as("__ts"),
        col(shingleCol).cast("int").as("__s"), col(fpCol).cast("long").as("__fp"))
      .select(col("__id"), col("__ts"), col("__s"), col("__fp"),
        explode(array(banded: _*)).as("bk"))
      .select(col("__id").as("_1"), col("__ts").as("_2"), col("__s").as("_3"),
        col("__fp").as("_4"), col("bk.band").as("_5"), col("bk.bits").as("_6"))
      .as[(Long, Timestamp, Int, Long, Int, Long)]
    keyed
      .groupByKey { case (_, _, _, _, band, bits) => (band, bits) }
      .flatMapGroupsWithState[(Long, Int, Long), ShinglePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long),
         it: Iterator[(Long, Timestamp, Int, Long, Int, Long)],
         state: GroupState[(Long, Int, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val arrivals = rows.map(r => (r._1, r._3, r._4)).distinct
              .sortBy(t => (t._1, t._2))
            val out = scala.collection.mutable.ArrayBuffer[ShinglePair]()
            var canon: (Long, Int, Long) = state.getOption.orNull
            arrivals.foreach { case (id, s, fp) =>
              if (canon == null) canon = (id, s, fp)
              // same blob: refresh the canonical shingle (never self-pair)
              else if (id == canon._1) canon = (id, s, fp)
              else {
                val d = java.lang.Long.bitCount(canon._3 ^ fp)
                if (d <= maxHamming)
                  out += (if (canon._1 < id)
                    ShinglePair(canon._1, id, d, canon._2 - s)
                  else ShinglePair(id, canon._1, d, s - canon._2))
                if (id < canon._1) canon = (id, s, fp)
              }
            }
            if (canon != null) {
              state.update(canon)
              val maxTs = rows.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  final case class CdcSegMatch(id_a: Long, id_b: Long, offset_frames: Int)

  /** Streaming CONTENT-DEFINED segment match candidates with event-time
    * state TTL — the streaming twin of [[graft.multimodal.Multimodal
    * .audioDupPairsCdc]]/[[graft.multimodal.Multimodal.videoDupPairsCdc]]:
    * input rows are the already-segmented (id, pos, len, fp) stream (the
    * per-blob [[graft.multimodal.Multimodal.cdcSegments]] fan-out the
    * batch path produces, minLen-filtered by the caller), each (fp, len)
    * key holds one canonical (id, pos), and an arrival from a DIFFERENT
    * blob emits the per-segment match witness oriented exactly as the
    * batch op's (id_a < id_b, offset = pos_a − pos_b) — so a trimmed
    * copy of an in-horizon original surfaces one match per shared
    * interior segment as it streams in. Downstream keeps pairs with
    * ≥ minShared distinct matched segments and the minimal offset
    * witness, which is precisely the batch threshold + groupBy reduce.
    * Same canonical-chain trade and TTL-bounded state as the other dedup
    * twins (two non-canonical same-batch arrivals pair against the
    * canonical, not each other; an expired bucket re-seeds) — and the
    * batch df-cap has a streaming analogue built in: a bucket holds ONE
    * canonical, so a hot boilerplate segment pairs each arrival against
    * one representative, linearly, never quadratically.
    */
  def cdcCandidatesStreamTtl(segs: DataFrame, tsCol: String, ttlMs: Long,
                             idCol: String = "doc_id",
                             posCol: String = "pos",
                             lenCol: String = "len",
                             fpCol: String = "fp",
                             allowedLateness: String = "0 seconds")
      : Dataset[CdcSegMatch] = {
    import segs.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val keyed = segs.withWatermark(tsCol, allowedLateness)
      .select(col(idCol).cast("long").as("_1"), col(tsCol).as("_2"),
        col(posCol).cast("int").as("_3"), col(lenCol).cast("int").as("_4"),
        col(fpCol).cast("long").as("_5"))
      .as[(Long, Timestamp, Int, Int, Long)]
    keyed
      .groupByKey { case (_, _, _, len, fp) => (fp, len) }
      .flatMapGroupsWithState[(Long, Int), CdcSegMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, Int),
         it: Iterator[(Long, Timestamp, Int, Int, Long)],
         state: GroupState[(Long, Int)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val arrivals = rows.map(r => (r._1, r._3)).distinct
              .sortBy(identity)
            val out = scala.collection.mutable.ArrayBuffer[CdcSegMatch]()
            var canon: (Long, Int) = state.getOption.orNull
            arrivals.foreach { case (id, pos) =>
              if (canon == null) canon = (id, pos)
              // same blob re-arriving (a repeat of its own segment):
              // refresh the canonical position, never self-pair
              else if (id == canon._1) canon = (id, pos)
              else {
                out += (if (canon._1 < id)
                  CdcSegMatch(canon._1, id, canon._2 - pos)
                else CdcSegMatch(id, canon._1, pos - canon._2))
                if (id < canon._1) canon = (id, pos)
              }
            }
            if (canon != null) {
              state.update(canon)
              val maxTs = rows.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Streaming winnowing near-dup candidates with event-time state TTL —
    * the fingerprint-register twin of [[graft.ext.Winnowing.similarPairs]],
    * closing the streaming story for position-robust dedup the way
    * [[minhashCandidatesStreamTtl]] does for set-level: each arriving doc's
    * DISTINCT selected fingerprint hashes (the native
    * [[graft.functions.WinnowKeys]] kernel — same selection the batch oracle
    * replays) key into per-fingerprint buckets holding one canonical doc id;
    * a doc landing in an occupied bucket emits a candidate pair against the
    * canonical (the canonical-chain trade: a boilerplate fingerprint grows
    * pairs LINEARLY in arrivals, never quadratically — the streaming analog
    * of the batch maxDf cut). Bucket state expires `ttlMs` past its
    * last-seen event time, re-armed per visit, so an unbounded corpus keeps
    * bounded state; a duplicate recurring after the horizon re-seeds instead
    * of pairing, with the batch operator as the exact backstop.
    */
  def winnowCandidatesStreamTtl(docs: DataFrame, tsCol: String, ttlMs: Long,
                                idCol: String = "doc_id",
                                textCol: String = "text", k: Int = 8,
                                w: Int = 4,
                                allowedLateness: String = "0 seconds")
      : Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val keyed = docs.withWatermark(tsCol, allowedLateness)
      .select(col(idCol).cast("long").as("_1"), col(tsCol).as("_2"),
        explode(array_distinct(transform(
          graft.functions.WinnowKeys.winnowKeys(col(textCol), k, w),
          kk => shiftright(kk, 20)))).as("_3"))
      .as[(Long, Timestamp, Long)]
    keyed
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, CandidatePair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[(Long, Timestamp, Long)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rows = it.toSeq
            val ids = rows.map(_._1).distinct.sorted
            val out = scala.collection.mutable.ArrayBuffer[CandidatePair]()
            var canon = state.getOption.getOrElse(Long.MaxValue)
            ids.foreach { id =>
              if (canon == Long.MaxValue) canon = id
              else if (id != canon) {
                out += CandidatePair(math.min(canon, id), math.max(canon, id))
                canon = math.min(canon, id)
              }
            }
            if (canon != Long.MaxValue) {
              state.update(canon)
              val maxTs = rows.map(_._2.getTime).max
              state.setTimeoutTimestamp(
                math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Streaming twin of [[graft.ext.TextQuality.contamination]]: score arriving
    * documents against a STATIC benchmark shingle set, statelessly. The
    * benchmark is collapsed to one array row and broadcast-cross-joined; per-doc
    * scoring is then a pure array expression (`array_intersect` of the doc's
    * distinct shingles with the benchmark array) — no streaming aggregation, no
    * watermark, no state store.
    *
    * Fine up to benchmark sets that fit one in-memory array (eval suites
    * usually do). For bigger suites, swap the array for a Bloom filter built
    * once on the static side (`DataFrameStatFunctions.bloomFilter` +
    * `might_contain`) — same stateless shape, constant memory, small false-hit
    * rate inflating `n_hit`.
    */
  def contaminationStream(docs: DataFrame, benchmark: DataFrame,
                          textCol: String = "text", k: Int = 3): DataFrame = {
    val benchArr = graft.ext.Dedup
      .shingles(benchmark, benchmark.columns.head, textCol, k)
      .agg(collect_set(col("shingle")).as("__bench"))
    val docSh = array_distinct(
      graft.functions.WordShingles.shingles(col(textCol), k))
    // constant-key equi join rather than crossJoin: stream-static INNER
    // equi-joins are the supported streaming join shape
    docs
      .withColumn("__one", lit(1))
      .join(broadcast(benchArr.withColumn("__one", lit(1))), "__one")
      .drop("__one")
      .withColumn("n_sh", size(docSh).cast("long"))
      .withColumn("n_hit", size(array_intersect(docSh, col("__bench"))).cast("long"))
      .withColumn("contamination",
        round(col("n_hit").cast("double") / greatest(col("n_sh"), lit(1L)), 6))
      .drop("__bench")
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelState(stage: Int, reachMs: Long)
  final case class StageReached(user_id: Long, stage: Int, stage_name: String,
                                reach_ms: Long)

  /** Streaming twin of [[graft.ext.Funnel.funnelCounts]]: per-user funnel
    * progression as a keyed state machine. State per user is (stage index,
    * reach time) — two fields, O(1) regardless of event volume. A row is
    * emitted each time a user first reaches a stage.
    *
    * Greedy in-order advancement ("first qualifying event of the next stage at
    * or after the current stage's reach time") is equivalent to the batch
    * min-timestamp chaining when events are processed in event-time order —
    * guaranteed within a micro-batch by the explicit sort below, and across
    * batches when arrival respects event time (add a watermark + sorted replay
    * for heavily late sources).
    */
  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String])
      : Dataset[StageReached] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption.getOrElse(FunnelState(-1, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer[StageReached]()
          sorted.foreach { e =>
            val next = cur.stage + 1
            if (next < stages.length &&
                stageIdx.get(e.event_type).contains(next) &&
                (cur.stage < 0 || e.ts.getTime >= cur.reachMs)) {
              cur = FunnelState(next, e.ts.getTime)
              out += StageReached(user, next, stages(next), e.ts.getTime)
            }
          }
          if (cur.stage >= 0) state.update(cur)
          out.iterator
      }
  }

  final case class FunnelLateState(stage: Int, reachMs: Long,
                                   buffer: Seq[FunnelEvent])

  /** Late-data-hardened [[funnelStream]]: correct under OUT-OF-ORDER arrival
    * within an `allowedLateness` watermark horizon, where the plain variant
    * assumes cross-batch event-time order.
    *
    * Mechanics: arriving events are BUFFERED in state; only events at or below
    * the current watermark are run through the stage machine (no
    * later-arriving earlier event can reorder them anymore), in
    * (event time, stage index) order — the stage-index tie-break makes
    * same-timestamp events advance lower stages first, matching the batch
    * operator's inclusive `ts >= prev_reach` chaining. Events still above the
    * watermark stay buffered, and an EVENT-TIME TIMEOUT at the earliest
    * buffered timestamp re-invokes the group when the watermark passes it,
    * even if no new data arrives. Arrivals already below the watermark
    * (later than `allowedLateness`) are dropped — the deterministic policy the
    * watermark contract promises.
    *
    * Cost of determinism: emission is delayed by the lateness horizon, and
    * per-user state grows with the events inside that horizon (bounded by
    * rate × lateness, not total volume).
    */
  def funnelStreamLate(events: Dataset[FunnelEvent], stages: Seq[String],
                       allowedLateness: String = "30 minutes")
      : Dataset[StageReached] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("ts", allowedLateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelLateState, StageReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelLateState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(FunnelLateState(-1, Long.MinValue, Vector.empty))
          // incoming rows already past the horizon are too late — drop them
          val buf = prev.buffer ++ it.filter(_.ts.getTime > wm)
          val (ripe, hold) = buf.partition(_.ts.getTime <= wm)
          var stage = prev.stage
          var reachMs = prev.reachMs
          val out = scala.collection.mutable.ArrayBuffer[StageReached]()
          ripe.sortBy(e => (e.ts.getTime, stageIdx.getOrElse(e.event_type, Int.MaxValue)))
            .foreach { e =>
              val next = stage + 1
              if (next < stages.length &&
                  stageIdx.get(e.event_type).contains(next) &&
                  (stage < 0 || e.ts.getTime >= reachMs)) {
                stage = next
                reachMs = e.ts.getTime
                out += StageReached(user, next, stages(next), e.ts.getTime)
              }
            }
          if (stage < 0 && hold.isEmpty) state.remove()
          else {
            state.update(FunnelLateState(stage, reachMs, hold))
            // wake this group when the watermark reaches the earliest buffered
            // event, even with no new arrivals (> wm by construction of `hold`)
            if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.ts.getTime).min)
          }
          out.iterator
      }
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
                              n_events: Long, sum_value: Double)

  /** Gap-based streaming sessionization via flatMapGroupsWithState: a user's session
    * closes (and emits one row) when a later event arrives more than `gapMs` after
    * the session's last event. State per user is O(1) — counts and bounds, not the
    * events themselves. NoTimeout keeps micro-batch scheduling purely data-driven;
    * [[sessionizeLate]] is the watermark-hardened variant (out-of-order safety +
    * sessions close by event-time timeout instead of waiting for a next event).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += SessionOut(user, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class SessionLateState(cur: Option[SessionState],
                                    buffer: Seq[SessionEvent])

  /** Watermark-hardened [[sessionize]]: correct under out-of-order arrival
    * within `allowedLateness`, and sessions CLOSE BY EVENT-TIME TIMEOUT — an
    * idle user's last session emits once the watermark passes its end + gap,
    * instead of waiting for a next event that may never come (the two caveats
    * the plain variant documents).
    *
    * Same buffering discipline as [[funnelStreamLate]]: events are held in
    * state until the watermark passes them (no later-arriving earlier event
    * can reorder them anymore), then folded through the gap logic in event-time
    * order; too-late arrivals are dropped. The open session also closes as soon
    * as the watermark clears its gap horizon — any event that could still
    * extend it would have ts below the watermark, i.e. be dropped as too late,
    * so the close is safe, not speculative. Timeouts re-arm at the earliest
    * buffered event or the open session's gap deadline, whichever applies.
    */
  def sessionizeLate(events: Dataset[SessionEvent],
                     gapMs: Long = 30 * 60 * 1000L,
                     allowedLateness: String = "30 minutes")
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowedLateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionLateState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionLateState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(SessionLateState(None, Vector.empty))
          val buf = prev.buffer ++ it.filter(_.ts.getTime > wm)
          val (ripe, hold) = buf.partition(_.ts.getTime <= wm)
          var cur = prev.cur
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          ripe.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += SessionOut(user, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          // close the open session once the watermark clears its gap horizon:
          // nothing that could still extend it can arrive on time anymore
          cur match {
            case Some(s) if hold.isEmpty && wm > s.last + gapMs =>
              closed += SessionOut(user, s.start, s.last, s.n, s.sum)
              cur = None
            case _ => ()
          }
          if (cur.isEmpty && hold.isEmpty) state.remove()
          else {
            state.update(SessionLateState(cur, hold))
            val wake =
              if (hold.nonEmpty) hold.map(_.ts.getTime).min
              else cur.get.last + gapMs + 1
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          closed.iterator
      }
  }

  /** Build the STATIC side of streaming incremental dedup from an existing
    * corpus: one row per (store doc, band) with the doc's exact-match key, LSH
    * band key, full distinct-shingle array and its size — everything
    * [[incrementalDedupStream]] reads into its driver index, in one
    * persistable table (this is the "persist the store's signatures once,
    * they're ingest-invariant" artifact [[graft.ext.Dedup.incrementalDedup]]'s
    * docs call for; write it out partitioned however the store is managed and
    * hand it to every stream). Each row repeats its doc's shingle array once
    * per band; the index keeps one copy per doc, from the band-0 row.
    */
  def dedupStore(existing: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 4)
      : DataFrame = {
    val sh = graft.ext.Dedup.shingles(existing, idCol, textCol, k)
    val perDoc = sh.groupBy(col(idCol)).agg(
      collect_set(col("shingle")).as("__ex_sh"),
      count(lit(1)).as("__n_ex"))
    val banded = graft.ext.Dedup.bandKeys(
      graft.ext.Dedup.signaturesFromShingles(sh, idCol, numHashes),
      idCol, numHashes / rowsPerBand, rowsPerBand)
    existing
      .select(col(idCol).as("__ex_id"),
        coalesce(md5(col(textCol)), lit("__null_text__")).as("__hkey"))
      .join(perDoc.select(col(idCol).as("__ex_id"), col("__ex_sh"), col("__n_ex")),
        Seq("__ex_id"))
      .join(banded.select(col(idCol).as("__ex_id"), col("band"), col("bkey")),
        Seq("__ex_id"))
  }

  /** Streaming twin of [[graft.ext.Dedup.incrementalDedup]]: classify ARRIVING
    * documents against a static store built by [[dedupStore]], STATELESSLY —
    * no watermark, no state store, O(batch) work per trigger.
    *
    * The store is read ONCE, when this method is called: one collect job
    * folds it on the driver into an index (md5 key → smallest store id; per
    * store doc its distinct shingles once, from the band-0 row; (band, band
    * key) → store rows), shipped to the executors with one
    * `sparkContext.broadcast` that lives as long as the returned DataFrame.
    * The stream therefore classifies against a SNAPSHOT of the store taken
    * when the query is defined: rows added to the store later are not seen
    * until the query is defined again (a restart from the same checkpoint
    * picks up a refreshed store and resumes from the recovered offsets).
    *
    * Driver bound: the index holds every store doc's distinct shingles once
    * plus numHashes / rowsPerBand band keys per store row (4 per doc at the
    * defaults). Like the broadcast join it replaces, the build fails with a
    * clear message above Spark's broadcast limits, 512M store rows or 8 GB of
    * payload (string bytes plus 8 per numeric field), instead of running the
    * driver out of memory.
    *
    * Per micro-batch the arriving docs get shingles, MinHash, band keys and
    * md5 key from Catalyst expressions (transform/array_min over the doc's
    * shingle hashes; same hash constants as the batch operator, so the
    * candidates match it), then one narrow `mapPartitions` probes the index:
    * no shuffle, no store scan, no job besides the sink's own.
    *
    * Emits (id, status, match_id, jaccard) rows:
    *  - `exact_dup`: md5 key found in the store (match_id = smallest holder
    *    under Spark's ordering of the id type, jaccard null) — exactly one
    *    row per exact-dup doc; such docs are not probed for near dups,
    *    mirroring the batch operator's exact-over-near precedence
    *  - `near_dup`: band-collision candidate whose exact shingle Jaccard
    *    ≥ `threshold` — one row per (doc, store row, colliding band):
    *    stateless append mode can neither dedupe bands nor pick a per-doc
    *    best, so the consumer's reduction is a one-line distinct+groupBy
    *    (the spec's differential does exactly that); a doc with null text
    *    has no shingles and emits no near-dup row
    *  - docs with NO emitted row are `new` — a stateless stream cannot emit a
    *    negative (proving "no match" needs all of a doc's candidate rows in
    *    one place, i.e. state); the batch operator emits the explicit rows.
    */
  def incrementalDedupStream(stream: DataFrame, store: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 3, numHashes: Int = 16,
                             rowsPerBand: Int = 4,
                             threshold: Double = 0.5): DataFrame = {
    import graft.ext.Dedup.{minhashA, minhashB, MinhashPrime}
    val numBands = numHashes / rowsPerBand
    val docSh = array_distinct(
      graft.functions.WordShingles.shingles(col(textCol), k))
    val hashes = transform(col("__sh"),
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))
    val mh = (0 until numHashes).map { j =>
      array_min(transform(col("__h"),
        h => (lit(minhashA(j)) * h + lit(minhashB(j))) % lit(MinhashPrime)))
    }
    val bandKeys = array((0 until numBands).map { b =>
      md5(concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand).map(mh): _*))
    }: _*)

    val probes = stream.select(col(idCol), col(textCol))
      .withColumn("__sh", docSh)
      .withColumn("__h", hashes)
      .select(col(idCol), col("__sh"),
        coalesce(md5(col(textCol)), lit("__null_text__")).as("__hkey"),
        bandKeys.as("__bkeys"))
    val index = DedupIndex.build(store)
    val shipped = stream.sparkSession.sparkContext.broadcast(index)
    val schema = StructType(Seq(probes.schema.head,
      StructField("status", StringType, nullable = false),
      StructField("match_id", index.idType),
      StructField("jaccard", DoubleType)))
    probes.mapPartitions { rows =>
      val ix = shipped.value
      rows.flatMap(ix.probe(_, threshold))
    }(Encoders.row(schema))
  }

  final case class RunEvent(user_id: Long, ts: Timestamp, event_id: Long,
                            value: String)
  final case class RunState(value: String, run_id: Long, from: Long, to: Long,
                            n: Long)
  final case class RunOut(user_id: Long, run_id: Long, value: String,
                          valid_from: Long, valid_to: Long, valid_until: Long,
                          n_events: Long)

  /** Streaming twin of [[graft.ext.Runs.collapseRuns]]: the SCD2 history build
    * as a live stream — a run row is emitted the moment a DIFFERENT value
    * arrives for the key (the run's exclusive upper bound is then known, so
    * the emitted row is final — exactly the append-mode contract). The key's
    * open run stays in O(1) state: (value, run_id, bounds, count) — never the
    * events. Same cross-batch assumption as [[sessionize]]: per-key event-time
    * order across batches (within a batch it sorts); the watermark-buffering
    * discipline of [[sessionizeLate]] ports directly if arrival can disorder.
    *
    * Differential contract (spec-checked): emitted rows == the batch
    * operator's CLOSED runs (`valid_until IS NOT NULL`); open runs live only
    * in state, matching batch rows with null `valid_until`.
    */
  def collapseRunsStream(events: Dataset[RunEvent]): Dataset[RunOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[RunEvent], state: GroupState[RunState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[RunOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if s.value == e.value =>
                cur = Some(s.copy(to = t, n = s.n + 1))
              case Some(s) =>
                closed += RunOut(user, s.run_id, s.value, s.from, s.to, t, s.n)
                cur = Some(RunState(e.value, s.run_id + 1, t, t, 1L))
              case None =>
                cur = Some(RunState(e.value, 1L, t, t, 1L))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  final case class AttribEvent(user_id: Long, event_id: Long, ts: Timestamp,
                               event_type: String)
  final case class AttribState(channel: String, touch_ms: Long, touch_id: Long)
  final case class AttributedConv(user_id: Long, conv_id: Long, conv_ms: Long,
                                  channel: String, touch_ms: Long)

  /** Streaming LAST-TOUCH attribution — the incremental twin of
    * [[graft.ext.Attribution.channelCredit]]'s last-touch model. State per
    * user is ONE row: the most recent touch since the last conversion. A
    * conversion emits `(conversion, credited channel)` immediately if the
    * stored touch is within the lookback, then RESETS the touch — mirroring
    * the batch operator's segment semantics (a touch never credits two
    * conversions, and pre-conversion touches never leak forward).
    *
    * First/linear models are not streamable in O(1) state (they need the
    * segment's full touch list); the batch operator remains their home — the
    * same division of labor as minhash candidates vs batch verification.
    *
    * Assumes event-time order across batches (in-batch disorder is sorted
    * out); port [[funnelStreamLate]]'s watermark-buffering if arrival can
    * disorder. State is O(1) per user but lives under `NoTimeout` — add a
    * state TTL for user spaces that grow without bound.
    */
  def attributionStream(events: Dataset[AttribEvent], touchTypes: Set[String],
                        convType: String, lookbackMs: Long)
      : Dataset[AttributedConv] = {
    import events.sparkSession.implicits._
    events
      .filter(e => touchTypes.contains(e.event_type) || e.event_type == convType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttributedConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AttribEvent], state: GroupState[AttribState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[AttributedConv]()
          sorted.foreach { e =>
            val ms = e.ts.getTime
            if (e.event_type == convType) {
              cur.foreach { t =>
                if (ms - t.touch_ms <= lookbackMs)
                  out += AttributedConv(user, e.event_id, ms, t.channel, t.touch_ms)
              }
              cur = None // conversion closes the segment
            } else {
              cur = Some(AttribState(e.event_type, ms, e.event_id))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None    => if (state.exists) state.remove()
          }
          out.iterator
      }
  }

  final case class ChangeEvent(key: Long, ver: Long, op: String, payload: String)
  final case class CompactState(ver: Long, op: String, payload: String, n: Long)
  final case class CompactOut(key: Long, ver: Long, op: String, payload: String,
                              n_versions: Long, live: Boolean)

  /** Streaming twin of [[graft.ext.Compaction.compactLatest]]: keyed
    * latest-wins state over a CDC change stream, emitting each touched key's
    * CURRENT state per micro-batch (an upsert stream — `live = false` rows
    * are the tombstone signal a MERGE sink turns into deletes; emitting them
    * is what makes downstream deletion possible at all).
    *
    * Out-of-order-safe by construction: a lower-version arrival bumps the
    * version COUNT but never overwrites the surviving row, so arrival order
    * across micro-batches cannot change the final state — the property the
    * differential spec locks against the batch operator under shuffled
    * delivery. State per key is O(1) (the surviving row + a counter), the
    * [[sessionize]] discipline; add a timeout-based TTL for unbounded key
    * spaces.
    */
  def compactLatestStream(changes: Dataset[ChangeEvent],
                          tombstoneOp: String = "del"): Dataset[CompactOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[CompactState, CompactOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[ChangeEvent], state: GroupState[CompactState]) =>
          var cur = state.getOption
          it.foreach { e =>
            cur = Some(cur match {
              case Some(s) if e.ver > s.ver =>
                CompactState(e.ver, e.op, e.payload, s.n + 1)
              case Some(s) => s.copy(n = s.n + 1)
              case None => CompactState(e.ver, e.op, e.payload, 1L)
            })
          }
          cur.foreach(state.update)
          cur.map(s => CompactOut(key, s.ver, s.op, s.payload, s.n,
            s.op != tombstoneOp)).iterator
      }
  }

  final case class HHItem(shard: Int, item: String)
  final case class HHState(buf: graft.functions.SSBuf, n_seen: Long)
  final case class HHCounter(shard: Int, item: String, est: Long, err: Long,
                             n_seen: Long)

  /** Streaming heavy hitters — the incremental twin of the batch
    * [[graft.functions.SpaceSavingAggregator]] path (`q_heavy_hitters`).
    * Each shard keeps ONE SpaceSaving sketch (`capacity` counters) in keyed
    * state and re-emits its counters every micro-batch (Update mode): the
    * latest emission per shard IS the sketch snapshot, and shard snapshots
    * merge downstream with the aggregator's own mergeable-summary merge —
    * the same map-side-sketch / merge split as the batch plan, with state
    * bounded at O(nShards × capacity) regardless of stream cardinality or
    * length (no watermark needed: the sketch never grows).
    *
    * Callers shard by `hash(item) % nShards` so every occurrence of an item
    * lands in one shard — then per-shard guarantees are exactly the batch
    * ones: est − err ≤ true ≤ est, and exactness when a shard's distinct
    * items fit in `capacity`.
    */
  final case class DailyCount(event_type: String, day: java.sql.Date,
                              n_events: Long)
  final case class EwmaState(num: Double, den: Double, lastEpochDay: Long)
  final case class EwmaOut(event_type: String, day: java.sql.Date,
                           n_events: Long, ewma: Double)

  /** Streaming EWMA volume baseline — the incremental twin of
    * [[graft.ext.EventStats.ewmaDaily]], the smoothing under its anomaly
    * flags. Input is the per-(type, day) count stream (the upstream windowed
    * aggregation every monitoring pipeline already runs); state per type is
    * three numbers — the decayed numerator/denominator and the last day seen
    * — updated with the same calendar-gap decay (`decay^Δdays`, gap days
    * decay without contributing), so day t costs O(1) instead of the batch
    * join's O(windowDays) regardless of history length.
    *
    * Two documented deltas vs batch: the recursion never drops terms past
    * `windowDays` (geometric decay makes the tail negligible once
    * `decay^windowDays` ≈ 0 — equal within fp noise when history is shorter
    * than the window), and per-type days must arrive in day order across
    * micro-batches (within a batch they are sorted here) — the
    * [[funnelStream]] ordering assumption; feed it from a watermarked daily
    * aggregation to make that hold.
    */
  def ewmaDailyStream(daily: Dataset[DailyCount],
                      decay: Double = 0.9): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[DailyCount], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0.0, 0.0, Long.MinValue))
          // a micro-batch may carry several days of one type: process in day
          // order (bounded by days per batch, not by history)
          val out = it.toSeq.sortBy(_.day.getTime).map { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            val w =
              if (st.lastEpochDay == Long.MinValue) 0.0
              else math.pow(decay, (epochDay - st.lastEpochDay).toDouble)
            val num = e.n_events.toDouble + w * st.num
            val den = 1.0 + w * st.den
            st = EwmaState(num, den, epochDay)
            EwmaOut(typ, e.day, e.n_events,
              math.round(num / den * 1e6) / 1e6)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming twin of [[graft.ext.Drift.psi]]: the monitored slice arrives
    * as a stream, the reference slice is static. The reference collapses
    * batch-side into ONE wide row (bin edges + per-bin counts), attached to
    * every input row via the constant-key stream-static equi-join (the
    * [[contaminationStream]] idiom); the stream then runs a single global
    * aggregation whose state is the `nBins` conditional counters — one row,
    * O(nBins) state regardless of volume — and every PSI term is a
    * downstream projection with the batch operator's exact bin/smoothing
    * math. Each trigger emits the PSI-so-far (Complete mode); once the
    * current slice has fully arrived it equals the batch `Drift.psi` (the
    * streaming sum folds doubles in fixed bin order vs batch's DECIMAL
    * accumulator — agreement is within fp noise, differential-tested).
    *
    * Output (one row per trigger): (n_ref, n_cur, psi_total,
    * bins: array&lt;struct&lt;bin, ref_cnt, cur_cnt, psi_term&gt;&gt;).
    */
  def psiDriftStream(cur: DataFrame, ref: DataFrame, valueCol: String,
                     nBins: Int = 10): DataFrame = {
    val stats = ref.agg(
      min(col(valueCol).cast("double")).as("mn"),
      max(col(valueCol).cast("double")).as("mx"))
    def binOf(v: Column, mn: Column, mx: Column): Column =
      least(greatest(floor((v - mn) * nBins / (mx - mn)), lit(0L)),
        lit(nBins - 1L)).cast("int")
    val refRow = ref.crossJoin(broadcast(stats))
      .select(binOf(col(valueCol).cast("double"), col("mn"), col("mx")).as("bin"),
        col("mn"), col("mx"))
      .groupBy(col("mn"), col("mx"))
      .agg(count(lit(1)).as("n_ref"),
        (0 until nBins).map(i =>
          sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"ref_$i")): _*)
      .withColumn("__one", lit(1))
    val curTagged = cur
      .withColumn("__one", lit(1))
      .join(broadcast(refRow), "__one")
      .withColumn("bin", binOf(col(valueCol).cast("double"), col("mn"), col("mx")))
    val wide = curTagged
      .groupBy()
      .agg(max(col("n_ref")).as("n_ref"),
        (0 until nBins).map(i => max(col(s"ref_$i")).as(s"ref_$i")) ++
        Seq(count(lit(1)).as("n_cur")) ++
        (0 until nBins).map(i =>
          sum(when(col("bin") === i, 1L).otherwise(0L)).as(s"cur_$i")): _*)
    def p(i: Int) = (col(s"ref_$i").cast("double") + 0.5) /
      (col("n_ref").cast("double") + nBins / 2.0)
    def q(i: Int) = (col(s"cur_$i").cast("double") + 0.5) /
      (col("n_cur").cast("double") + nBins / 2.0)
    def term(i: Int) = (p(i) - q(i)) * log(p(i) / q(i))
    wide.select(col("n_ref"), col("n_cur"),
      round((0 until nBins).map(term).reduce(_ + _), 6).as("psi_total"),
      array((0 until nBins).map(i => struct(
        lit(i).as("bin"), col(s"ref_$i").as("ref_cnt"),
        col(s"cur_$i").as("cur_cnt"),
        round(term(i), 6).as("psi_term"))): _*).as("bins"))
  }

  final case class DailyValue(series: String, day: java.sql.Date, x: Double)

  final case class CusumState(s: Double, maxS: Double,
                              peakEpochDay: Long, alarms: Long,
                              lastEpochDay: Long)
  final case class CusumOut(series: String, day: java.sql.Date, s: Double,
                            is_alarm: Boolean, max_s: Double, n_alarms: Long)

  /** Streaming one-sided CUSUM monitor — the deployed form of
    * [[graft.ext.ChangeDetect.cusum]]: the batch operator standardizes
    * against the SERIES' own moments (a retrospective audit); a live monitor
    * can't know them, so this twin folds z = (x − refMean)/refSd against
    * FIXED reference parameters fitted on a training window (the standard
    * Shewhart/CUSUM deployment contract). With the reference parameters set
    * to the series' own moments the fold is bit-identical to the batch
    * operator — the differential the spec pins.
    *
    * Same in-order/unique-day contract as [[acfDailyStream]], enforced the
    * same way (late or duplicate days are dropped, not folded). State is four
    * scalars + the day cursor per series; each arrival emits the running
    * (s, alarm, max_s, n_alarms) snapshot.
    */
  def cusumStream(daily: Dataset[DailyValue], refMean: Double, refSd: Double,
                  k: Double, h: Double): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    require(refSd > 0, s"reference sd must be > 0, got $refSd")
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(
            CusumState(0.0, 0.0, Long.MinValue, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay) {
              val z = (e.x - refMean) / refSd
              // left-assoc (s + z) - k, matching the batch fold exactly
              val s = math.max(0.0, st.s + z - k)
              val (maxS, peak) =
                if (s > st.maxS) (s, epochDay) else (st.maxS, st.peakEpochDay)
              val alarms = st.alarms + (if (s > h) 1L else 0L)
              st = CusumState(s, maxS, peak, alarms, epochDay)
              out += CusumOut(series, e.day, s, s > h, maxS, alarms)
            }
          }
          state.update(st)
          out.iterator
      }
  }
  final case class AcfState(ring: Seq[Double], lastEpochDay: Long,
                            moments: Seq[(Long, Double, Double, Double, Double,
                              Double)])
  final case class AcfOut(series: String, lag: Int, n_pairs: Long, acf: Double)

  /** Streaming sample autocorrelation — the incremental twin of
    * [[graft.ext.Series.acf]]. State per series is an O(maxLag) ring of the
    * latest day values plus per-lag moment sums (n, Σx, Σy, Σxy, Σx², Σy²):
    * each arriving day pairs against the lagged ring entries, updates the
    * six sums per lag, and the Pearson readout is re-derived from the sums
    * at every emit — the bhFdr sufficient-statistics split. Calendar gaps
    * shift the ring (missing days pair with nothing, exactly like the batch
    * equi-join on day+lag); per-series days must arrive in day order across
    * micro-batches (sorted within a batch), the [[ewmaDailyStream]]
    * ordering assumption.
    *
    * The streaming sums fold doubles in arrival order vs the batch
    * operator's DECIMAL accumulators — agreement is within fp noise
    * (differential-tested), exact when values are small integers.
    */
  def acfDailyStream(daily: Dataset[DailyValue],
                     maxLag: Int = 10): Dataset[AcfOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[AcfState, AcfOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue], state: GroupState[AcfState]) =>
          var st = state.getOption.getOrElse(AcfState(Seq.empty, Long.MinValue,
            Seq.fill(maxLag)((0L, 0.0, 0.0, 0.0, 0.0, 0.0))))
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            // the in-order/unique-day contract, ENFORCED: a duplicate or
            // out-of-order day would pair against an unshifted ring and then
            // prepend a second entry for the same day, silently corrupting
            // every later lag alignment — drop such arrivals instead
            if (st.lastEpochDay != Long.MinValue && epochDay <= st.lastEpochDay) {
              // skip: late/duplicate day
            } else {
            // shift the ring past calendar gaps: ring(i) = value at day−1−i
            val gap =
              if (st.lastEpochDay == Long.MinValue) 0
              else (epochDay - st.lastEpochDay).toInt
            val shifted =
              if (gap == 0) st.ring
              else (Seq.fill(math.min(gap - 1, maxLag))(Double.NaN) ++ st.ring)
                .take(maxLag)
            val moments = st.moments.zipWithIndex.map { case (m, i) =>
              // lag L = i+1 pairs today's y with the ring entry L−1 back
              if (i < shifted.length && !shifted(i).isNaN) {
                val (n, sx, sy, sxy, sxx, syy) = m
                val x = shifted(i); val y = e.x
                (n + 1, sx + x, sy + y, sxy + x * y, sxx + x * x, syy + y * y)
              } else m
            }
            st = AcfState((e.x +: shifted).take(maxLag), epochDay, moments)
            }
          }
          state.update(st)
          st.moments.zipWithIndex.map { case ((n, sx, sy, sxy, sxx, syy), i) =>
            val nn = n.toDouble
            val num = nn * sxy - sx * sy
            val den = math.sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
            AcfOut(series, i + 1, n,
              if (den == 0.0) Double.NaN
              else math.round(num / den * 1e6) / 1e6)
          }.iterator
      }
  }

  /** Streaming BH-FDR segment scan — the incremental twin of
    * [[graft.ext.Experiment.bhFdr]]. The streaming side maintains ONLY the
    * per-group (n, pos) counts (O(groups) state, map-side partial like any
    * stateful aggregate); the z/p/rejection-frontier math is a SNAPSHOT
    * readout over m group rows, so it runs per trigger in `foreachBatch` via
    * [[graft.ext.Experiment.bhFdrFromCounts]] — the psiDriftStream division
    * of labor (stream accumulates sufficient statistics, the bounded readout
    * re-derives the metric exactly).
    *
    * Run with `outputMode("complete")`:
    * {{{
    * bhFdrCountsStream(events, "brand", "ret").writeStream
    *   .outputMode("complete")
    *   .foreachBatch { (counts: DataFrame, _: Long) =>
    *     Experiment.bhFdrFromCounts(counts, "brand").write...
    *   }.start()
    * }}}
    */
  def bhFdrCountsStream(stream: DataFrame, groupCol: String,
                        flagCol: String): DataFrame =
    stream.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(flagCol).cast("long")).as("pos"))

  /** Streaming DSIR distribution — the incremental twin of
    * [[graft.ext.Importance.dsirLogWeights]]'s distribution half. The stream
    * maintains ONLY the per-bucket (n_raw, n_tgt) token counts (O(numBuckets)
    * state, map-side partial); the smoothed log-ratio readout is a snapshot
    * over `numBuckets` rows per trigger in `foreachBatch` via
    * [[graft.ext.Importance.logRatiosFromDist]] — the bhFdrCountsStream
    * division of labor. A live pipeline scores incoming documents by joining
    * their hashed-unigram counts against the latest ratio snapshot, so the
    * selection distribution tracks the corpus as it grows.
    *
    * Run with `outputMode("complete")`:
    * {{{
    * dsirBucketCountsStream(docs, "text", col("lang") === "en").writeStream
    *   .outputMode("complete")
    *   .foreachBatch { (counts: DataFrame, _: Long) =>
    *     Importance.logRatiosFromDist(counts, 256).write...
    *   }.start()
    * }}}
    */
  def dsirBucketCountsStream(stream: DataFrame, textCol: String,
                             isTarget: Column,
                             numBuckets: Int = 256): DataFrame =
    stream
      .select(isTarget.as("__t"),
        explode(split(col(textCol), " ")).as("__tok"))
      .withColumn("__b",
        graft.ext.Importance.tokenBucket(col("__tok"), numBuckets))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_tgt"))

  /** Streaming twin of [[graft.ext.Privacy.kAnonymity]]'s k side — the
    * release gate kept CONTINUOUSLY true while rows arrive: per
    * quasi-identifier class, the running class size and its below-k flag.
    * As data accumulates a class can only leave the at-risk set, never
    * re-enter it, so a consumer gating exports on `NOT k_at_risk` is
    * monotone-safe across micro-batches. l-diversity stays batch-only:
    * streaming aggregation has no exact COUNT(DISTINCT), and an
    * approximate l would under- or over-promise exactly where the audit
    * must not.
    *
    * Run with `outputMode("update")` (or `complete` for small class
    * spaces); state is one row per equivalence class — the same
    * cardinality the batch audit materializes.
    */
  def kAnonymityClassStream(rows: DataFrame, quasiIds: Seq[Column],
                            k: Int): DataFrame =
    rows.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("k_at_risk", col("class_size") < k)

  /** Streaming twin of [[graft.ext.Boilerplate.chunkBoilerplate]]'s detection
    * side: per (group, chunk) running document frequency with a boilerplate
    * flag at an ABSOLUTE doc count. Each document arrives once on a corpus
    * ingest stream, so within-doc chunk repeats are deduped doc-locally
    * (`array_distinct` before the explode — per-row codegen, no state) and
    * the streaming count is an exact distinct-doc count without keeping doc
    * ids in state. The threshold is an absolute `minDocs`, not the batch
    * operator's fraction: a fraction of a growing group denominator could
    * UNflag a chunk as clean docs arrive, and a monotone flag is what makes
    * gating downstream consumers on it safe (the kAnonymityClassStream
    * argument, inverted: here the risky state is the one rows can only
    * enter).
    */
  /** Stream-static SCD2 enrichment — the streaming twin of the batch
    * point-in-time join ([[graft.ext.AsOfJoin.asOf]], `q_pit_join`): each
    * streaming fact left-joins the dimension VERSION valid at its event time
    * via an interval predicate on the static side. With a well-formed SCD2
    * dimension (non-overlapping validity, null-open last interval) the
    * interval predicate selects exactly the as-of row, so the stream output
    * row-matches the batch as-of — which is what StreamingOpsSpec pins.
    *
    * Scale shape: stream-static joins re-resolve the static side per
    * micro-batch (that's the feature — a dimension refresh between batches
    * is picked up, same discipline as the incremental-dedup store); a
    * compact dimension broadcasts, a huge one shuffles only the micro-batch.
    * No state is kept — correctness needs no buffering because the dimension
    * carries its full history.
    */
  def enrichAsOfStream(facts: DataFrame, dim: DataFrame, factKey: String,
                       dimKey: String, factTsCol: String,
                       validFromCol: String,
                       validUntilCol: String): DataFrame =
    facts.join(dim,
      facts(factKey) === dim(dimKey) &&
        dim(validFromCol) <= facts(factTsCol) &&
        (dim(validUntilCol).isNull ||
          facts(factTsCol) < dim(validUntilCol)),
      "left_outer")

  final case class AvRow(segment: String, arm: String, vm: Long)
  final case class AvState(nA: Long, s1A: Double, s2A: Double,
                           nB: Long, s1B: Double, s2B: Double, pMin: Double)
  final case class AvOut(segment: String, n_a: Long, n_b: Long,
                         p_value: Double, p_min: Double)

  /** Streaming twin of [[graft.ext.Experiment.alwaysValidPValue]]: per
    * segment, the running mSPRT p-value and its running minimum over the
    * whole stream so far. The running min is the always-valid quantity — a
    * consumer stops the experiment the first emission with `p_min < α`, and
    * because inf_t p_t only ever decreases the decision is monotone-safe
    * across micro-batches (same argument as the k-anonymity gate, inverted).
    *
    * State per segment is seven scalars (two arms' count/Σ/Σ² + the min) —
    * O(1) regardless of traffic. The moment accumulators are doubles here,
    * not the batch operator's DECIMALs: exactness would need unbounded-width
    * state, and a monitoring stream's p at 6 decimals is insensitive to the
    * last-ulp difference (the spec pins the stream within 1e-9 of the exact
    * batch p on identical prefixes). Emissions with an arm at ≤1 obs or zero
    * variance report p = 1 and don't move the minimum.
    */
  def alwaysValidPStream(rows: Dataset[AvRow], rho: Double): Dataset[AvOut] = {
    import rows.sparkSession.implicits._
    val rho2 = rho * rho
    rows.groupByKey(_.segment)
      .mapGroupsWithState[AvState, AvOut](GroupStateTimeout.NoTimeout) {
        (seg: String, it: Iterator[AvRow], state: GroupState[AvState]) =>
          var st = state.getOption.getOrElse(
            AvState(0L, 0.0, 0.0, 0L, 0.0, 0.0, 1.0))
          it.foreach { r =>
            val v = r.vm.toDouble
            if (r.arm == "A")
              st = st.copy(nA = st.nA + 1, s1A = st.s1A + v,
                s2A = st.s2A + v * v)
            else if (r.arm == "B")
              st = st.copy(nB = st.nB + 1, s1B = st.s1B + v,
                s2B = st.s2B + v * v)
          }
          val p =
            if (st.nA > 1 && st.nB > 1) {
              val ssA = st.s2A - st.s1A * st.s1A / st.nA
              val ssB = st.s2B - st.s1B * st.s1B / st.nB
              val varPool = (ssA + ssB) / (st.nA + st.nB - 2) / 1e12
              val bigV = varPool * (1.0 / st.nA + 1.0 / st.nB)
              val delta = st.s1A / st.nA / 1e6 - st.s1B / st.nB / 1e6
              if (bigV > 0.0) {
                val lam = math.sqrt(bigV / (bigV + rho2)) *
                  math.exp(delta * delta * rho2 /
                    (2.0 * bigV * (bigV + rho2)))
                math.min(1.0, 1.0 / lam)
              } else 1.0
            } else 1.0
          st = st.copy(pMin = math.min(st.pMin, p))
          state.update(st)
          AvOut(seg, st.nA, st.nB, p, st.pMin)
      }
  }

  /** Streaming twin of [[graft.ext.Experiment.powerMde]]: the per-segment
    * A/B minimum-detectable-effect readout over RUNNING exact integer
    * moments — literally the batch operator's shared
    * [[graft.ext.Experiment.perArmMoments]] aggregation run incrementally
    * (complete/update mode) with the same [[graft.ext.Experiment
    * .mdeFromMoments]] projection on top. MDE is a monitoring readout, not a
    * gate flag: it shrinks as n grows, so consumers treat each emission as
    * the current design resolution ("what lift could this test detect if
    * stopped now"), not a monotone pass/fail.
    */
  def powerMdeStream(df: DataFrame, segmentCol: String, armCol: String,
                     valueCol: String): DataFrame =
    graft.ext.Experiment.mdeFromMoments(
      graft.ext.Experiment.perArmMoments(df, segmentCol, armCol, valueCol))

  def boilerplateChunkStream(docs: DataFrame, groupCol: String,
                             textCol: String, chunkTokens: Int,
                             minDocs: Long): DataFrame =
    docs.select(col(groupCol).as("grp"),
        explode(array_distinct(
          graft.ext.Boilerplate.chunkArray(col(textCol), chunkTokens)))
          .as("chunk"))
      .groupBy(col("grp"), col("chunk"))
      .agg(count(lit(1)).as("df_docs"))
      .withColumn("is_boiler", col("df_docs") >= minDocs)

  def heavyHittersStream(items: Dataset[HHItem], capacity: Int): Dataset[HHCounter] = {
    import items.sparkSession.implicits._
    val agg = new graft.functions.SpaceSavingAggregator(capacity)
    items
      .groupByKey(_.shard)
      .flatMapGroupsWithState[HHState, HHCounter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[HHItem], state: GroupState[HHState]) =>
          var st = state.getOption.getOrElse(HHState(agg.zero, 0L))
          it.foreach(e => st = HHState(agg.reduce(st.buf, e.item), st.n_seen + 1))
          state.update(st)
          // n_seen stamps each snapshot: a consumer keeps, per shard, the rows
          // with the maximal n_seen — the latest (complete) sketch — instead
          // of guessing from per-item emissions that may be stale after
          // eviction
          st.buf.counters.iterator.map(c =>
            HHCounter(shard, c.item, c.est, c.err, st.n_seen))
      }
  }

  final case class RunsState(lastSign: Int, nUp: Long, nDown: Long,
                             nRuns: Long, lastEpochDay: Long)
  final case class RunsOut(series: String, day: java.sql.Date, n_up: Long,
                           n_down: Long, n_runs: Long, e_runs: Double,
                           z_stat: Double)

  /** Streaming Wald–Wolfowitz runs monitor — the deployed form of
    * [[graft.ext.Runs.runsTest]]: the batch operator dichotomizes against
    * the SERIES' own mean (retrospective); a live monitor can't know it, so
    * this twin signs each day against a FIXED reference mean fitted on a
    * training window (the [[cusumStream]] deployment contract). With the
    * reference set to the series' own mean, counts match the batch operator
    * exactly — the differential the spec pins. Days exactly AT the reference
    * are dropped, like the batch op.
    *
    * State per series: last sign + three counters + the day cursor (O(1)).
    * Same in-order/unique-day contract as [[acfDailyStream]] (late or
    * duplicate days dropped). Each arrival emits the running counts and the
    * continuity-free z readout re-derived from the counters (the bhFdr
    * sufficient-statistics split).
    */
  def runsTestStream(daily: Dataset[DailyValue],
                     refMean: Double): Dataset[RunsOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[RunsState, RunsOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[RunsState]) =>
          var st = state.getOption.getOrElse(
            RunsState(0, 0L, 0L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[RunsOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            val sign = if (e.x > refMean) 1 else if (e.x < refMean) -1 else 0
            if (sign != 0 &&
              (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay)) {
              val runs = st.nRuns + (if (sign != st.lastSign) 1L else 0L)
              st = RunsState(sign,
                st.nUp + (if (sign == 1) 1L else 0L),
                st.nDown + (if (sign == -1) 1L else 0L),
                runs, epochDay)
              // same formula shapes as the batch operator
              val p2 = (st.nUp * st.nDown * 2).toDouble
              val n = (st.nUp + st.nDown).toDouble
              val eR = 1.0 + p2 / n
              val varR = p2 * (p2 - n) / (n * n * (n - 1))
              val z = if (varR > 0.0) (st.nRuns - eR) / math.sqrt(varR)
                else Double.NaN
              out += RunsOut(series, e.day, st.nUp, st.nDown, st.nRuns, eR, z)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class PeakState(d1: Long, v1: Double, d2: Long, v2: Double)
  final case class PeakOut(series: String, day: java.sql.Date, value: Double,
                           prominence: Double)

  /** Streaming local-maximum detector — the incremental twin of
    * [[graft.ext.Series.peaks]]: a peak is confirmed one day LATE (when the
    * right neighbor arrives), from an O(1) two-day ring of state per series.
    * Strict-inequality and edge conventions match the batch operator; the
    * in-order/unique-day contract is [[acfDailyStream]]'s (late/duplicate
    * days dropped). Emits (series, peak day, value, prominence).
    */
  def peaksStream(daily: Dataset[DailyValue]): Dataset[PeakOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[PeakState, PeakOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[PeakState]) =>
          var st = state.getOption.getOrElse(
            PeakState(Long.MinValue, 0.0, Long.MinValue, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[PeakOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.d2 == Long.MinValue || epochDay > st.d2) {
              // ROW adjacency in day order — the batch lag/lead convention
              // (calendar holes are just neighbors, not edges)
              if (st.d1 != Long.MinValue &&
                st.v2 > st.v1 && st.v2 > e.x) {
                val prom = st.v2 - math.max(st.v1, e.x)
                out += PeakOut(series,
                  java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(st.d2)), st.v2, prom)
              }
              st = PeakState(st.d2, st.v2, epochDay, e.x)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  final case class HoltState(n: Long, x1: Double, level: Double,
                             trend: Double, sae: Double, lastEpochDay: Long)
  final case class HoltOut(series: String, day: java.sql.Date, n_days: Long,
                           level: Double, trend: Double,
                           forecast_next: Double, mae: Double)

  /** Streaming Holt linear smoother — the incremental twin of
    * [[graft.ext.Forecast.holtLinear]]. The fold is already sequential in
    * day order, so the streaming form IS the batch form with the state
    * (n, x₁, level, trend, Σ|err|) persisted between micro-batches — O(1)
    * per series, bit-identical to the batch fold by construction (the spec
    * pins the differential). Same in-order/unique-day contract as
    * [[acfDailyStream]]; emits the post-update forecast snapshot from the
    * third day on.
    */
  def holtStream(daily: Dataset[DailyValue], alpha: Double = 0.5,
                 beta: Double = 0.25): Dataset[HoltOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(
            HoltState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay) {
              val n = st.n + 1
              st =
                if (n == 1L) HoltState(n, e.x, st.level, st.trend, st.sae, epochDay)
                else if (n == 2L)
                  HoltState(n, st.x1, e.x, e.x - st.x1, st.sae, epochDay)
                else {
                  // operation order matches Forecast.holtLinear term by term
                  val f = st.level + st.trend
                  val sae = st.sae + math.abs(e.x - f)
                  val lNew = alpha * e.x + (1.0 - alpha) * f
                  val bNew = beta * (lNew - st.level) + (1.0 - beta) * st.trend
                  HoltState(n, st.x1, lNew, bNew, sae, epochDay)
                }
              if (n >= 3L)
                out += HoltOut(series, e.day, n, st.level, st.trend,
                  st.level + st.trend, st.sae / (n - 2))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming twin of [[graft.ext.Profiling.freshness]]: per-source event
    * count and last-seen epoch, maintained incrementally — the live
    * ingestion-health board. Pure built-in streaming aggregation: state is
    * one (count, max) pair per source, bounded by source cardinality, no
    * watermark needed (max/count never need retraction). The batch
    * operator's staleness flag compares against the GLOBAL max — a
    * snapshot-level projection the consumer applies to the emitted table
    * (same crossJoin as batch), since a cross-source comparison inside the
    * stream would serialize all keys through one state row.
    *
    * Output per trigger (Update/Complete): (source, n_events,
    * last_seen_epoch) — after the stream drains it equals
    * `Profiling.freshness` minus the staleness projection.
    */
  def freshnessStream(stream: DataFrame, sourceCol: String = "event_type",
                      tsCol: String = "ts"): DataFrame =
    stream.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_timestamp(col(tsCol))).as("last_seen_epoch"))

  /** Streaming twin of [[graft.ext.Sketches.countMinSketch]]: the d×w
    * counter matrix as an incrementally-maintained streaming aggregation —
    * the fixed-memory frequency sketch a 100 TB/day ingest keeps warm for
    * point queries. State is exactly d·w counters regardless of stream
    * cardinality or length (the CMS guarantee made physical), so no
    * watermark and no TTL. One documented delta vs batch: the batch builder
    * pre-reduces per item before the d-way explode (an unbounded-state
    * luxury a stream cannot afford), so the stream explodes raw rows ×d —
    * same sketch, d× the map-side rows, counters identical.
    *
    * Output per trigger (Update/Complete): (j, bucket, bucket_cnt); after
    * the stream drains the snapshot equals `Sketches.countMinSketch`.
    */
  def countMinSketchStream(stream: DataFrame, itemCol: String,
                           depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape d=$depth w=$width")
    stream
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col(itemCol).as("item"))
      .groupBy(col("j"),
        graft.ext.Sketches.bucket(col("j"), col("item"), width).as("bucket"))
      .agg(count(lit(1)).as("bucket_cnt"))
  }

  /** WINDOWED CMS registers — the streaming half of
    * [[graft.ext.Sketches.countMinHeavyChangeAudit]]: one independent
    * sketch per tumbling event-time window, emitted in APPEND mode only
    * once the watermark closes the window, so each (window, j, bucket) row
    * is FINAL when it appears and a consumer can diff consecutive windows'
    * registers the moment the newer one lands (heavy-change detection with
    * d·w longs per open window of state, never per-key counts). Late rows
    * beyond the watermark drop — the count they would have added is
    * acknowledged lost, the same contract as `topKTurnoverStream`. Drained
    * snapshot equals the batch per-window
    * [[graft.ext.Sketches.countMinSketch]] (spec-locked).
    */
  def cmsWindowedRegistersStream(stream: DataFrame, itemCol: String,
                                 tsCol: String = "ts",
                                 windowDur: String = "1 hour",
                                 watermark: String = "2 hours",
                                 depth: Int = 4, width: Int = 256)
  : DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape d=$depth w=$width")
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(sequence(lit(0), lit(depth - 1))).as("j"),
        col(itemCol).as("item"))
      .groupBy(window(col(tsCol), windowDur).as("w"), col("j"),
        graft.ext.Sketches.bucket(col("j"), col("item"), width).as("bucket"))
      .agg(count(lit(1)).as("bucket_cnt"))
      .select(col("w.start").as("window_start"), col("j"), col("bucket"),
        col("bucket_cnt"))
  }

  /** WINDOWED log-linear (HDR/DDSketch-family) histogram registers — the
    * streaming half of [[graft.ext.HdrHistogram.quantileAudit]]: one
    * bounded (octave, sub-bucket) register table per tumbling event-time
    * window, emitted in APPEND mode only once the watermark closes the
    * window — the per-hour p50/p99 latency board. Each closed window
    * carries at most 64·k registers regardless of row count; the consumer
    * runs the cumulative-readout quantile formula snapshot-side (the
    * hllRegistersStream division of labor). Bucketing is the module's
    * shared all-integer arithmetic (floor-log2 via bin-length, integer
    * sub-bucket), so a drained window's register table equals the batch
    * bucket build bit-for-bit (spec-locked). Values < 1 drop at the door,
    * as in the batch audit; late rows beyond the watermark drop with
    * their mass acknowledged lost.
    */
  def hdrWindowedBucketsStream(stream: DataFrame, valueCol: String,
                               tsCol: String = "ts",
                               windowDur: String = "1 hour",
                               watermark: String = "2 hours",
                               k: Int = 16): DataFrame = {
    require(k >= 2 && k <= 256, s"k must be 2..256, got $k")
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(valueCol).cast("long").as("v"))
      .filter(col("v") >= 1)
      .selectExpr(tsCol, "v", "CAST(length(bin(v)) - 1 AS BIGINT) AS e")
      .selectExpr(tsCol, "v", "e",
        "CAST(pow(2.0d, CAST(e AS DOUBLE)) AS BIGINT) AS p2")
      .selectExpr(tsCol, "e", s"((v - p2) * $k) div p2 AS sub")
      .groupBy(window(col(tsCol), windowDur).as("w"), col("e"), col("sub"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("window_start"), col("e"), col("sub"),
        col("cnt"))
  }

  /** Streaming MERKLE DIGEST registers — the live half of
    * [[graft.ext.Integrity.merkleDrill]]: per key-hash-prefix bucket,
    * (row count, bit_xor of the 60-bit row-content hash) maintained
    * incrementally. State is EXACTLY 16^level registers forever (the
    * bucket domain is a fixed hex-prefix space — the stream-state guard's
    * register-bounded classification), and xor is its own inverse, so the
    * register table tracks the table's content digest as rows stream in.
    * A consumer diffs the snapshot against another replica's registers to
    * locate divergent buckets without any row shipping — anti-entropy as
    * a standing streaming aggregate. After the stream drains, the
    * register table equals the batch [[graft.ext.Integrity.merkleDrill]]
    * leaf build bit-for-bit (spec-locked).
    *
    * `keyCols`/`rowCols` follow the batch contract (pre-stringified,
    * engine-identical rendering). Output per touched bucket per trigger
    * (Update/Complete): (bucket, n, x).
    */
  def merkleRegistersStream(stream: DataFrame, keyCols: Seq[Column],
                            rowCols: Seq[Column], level: Int = 3)
  : DataFrame = {
    require(level >= 1 && level <= 4, s"level must be 1..4, got $level")
    stream
      .select(substring(md5(concat_ws("|", keyCols: _*)), 1, level)
          .as("bucket"),
        conv(substring(md5(concat_ws("|", rowCols: _*)), 1, 15), 16, 10)
          .cast("long").as("__h"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(__h)").as("x"))
  }

  /** Streaming twin of [[graft.ext.Sketches.hyperLogLogAudit]]'s register
    * table: the portable HLL maintained incrementally — state is EXACTLY m
    * max-registers forever (no watermark; max never retracts), the live
    * distinct-count board for an unbounded key stream. Each trigger emits
    * the updated registers (Update/Complete); the consumer applies the
    * estimator formula α·m²/Σ2^(−M) snapshot-side, same as the batch
    * audit's tail. After the stream drains the register table equals the
    * batch [[graft.ext.Sketches.hllRho]]→max aggregation bit-for-bit.
    */
  def hllRegistersStream(stream: DataFrame, itemCol: String,
                         b: Int = 6): DataFrame =
    graft.ext.Sketches.hllRho(stream, itemCol, b)
      .groupBy(col("idx")).agg(max(col("rho")).as("mreg"))

  /** Streaming Bloom filter registers — the membership twin of
    * [[graft.ext.Sketches.bloomFilterAudit]]'s build half: the word-keyed
    * BIT_OR is monotone (bits only turn on), so state is EXACTLY wWords
    * longs forever, no watermark, and the drained snapshot equals the batch
    * [[graft.ext.Sketches.bloomFilterWords]] bit-for-bit (spec-locked).
    * The live form of a Bloom-filtered anti-join's build side: stream the
    * key space once, broadcast the word table to consumers each trigger.
    */
  def bloomRegistersStream(stream: DataFrame, itemCol: String,
                           wWords: Int = 64, kHashes: Int = 4): DataFrame =
    graft.ext.Sketches.bloomFilterWords(stream, col(itemCol), wWords, kHashes)

  /** Streaming KMV registers — the incremental twin of [[graft.ext.Kmv]]'s
    * set-operation sketch: per hash shard, the k smallest DISTINCT md5
    * hashes maintained by a bounded [[graft.functions.KmvAggregator]]
    * (duplicate arrivals are no-ops — the distinct-set semantics that make
    * KMV a union-able sample). State is EXACTLY nShards × k longs forever
    * (shard = pmod(hash, nShards), a register-bounded key domain the
    * stream-state guard proves); the consumer merges the shard snapshots —
    * global k smallest of the union, exact because each shard's global
    * minima are necessarily within its own k-min — and applies the
    * (k−1)/u_k estimator snapshot-side, the hllRegistersStream division of
    * labor. After the stream drains the merged sketch equals the batch
    * TakeOrdered sketch value-for-value (spec-locked).
    *
    * Output per touched shard per trigger (Update mode): (shard, hs) with
    * hs ascending.
    */
  def kmvRegistersStream(stream: DataFrame, itemCol: String,
                         nShards: Int = 8, k: Int = 64): DataFrame = {
    require(nShards >= 1 && k >= 1, s"bad kmv shape s=$nShards k=$k")
    val kmv = udaf(new graft.functions.KmvAggregator(k))
    stream
      .select(conv(substring(md5(col(itemCol).cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
      .groupBy(pmod(col("h"), lit(nShards)).as("shard"))
      .agg(kmv(col("h")).as("__b"))
      .select(col("shard"), col("__b.hs").as("hs"))
  }

  /** Streaming AMS/Count-Sketch registers — the incremental twin of
    * [[graft.ext.Sketches.selfJoinSizeAudit]]'s sign sketch: per (hash row
    * j, bucket), the running Σ ±1 over arriving items. Signs and buckets
    * are the audit's exact md5 derivations, so the drained register table
    * equals the batch Σ_item sign·count registers value-for-value
    * (spec-locked); the consumer squares, sums and medians snapshot-side
    * to read F2 — live join-size telemetry at d·w longs of state forever,
    * no watermark, the countMinSketchStream contract with signs.
    */
  def amsRegistersStream(stream: DataFrame, itemCol: String,
                         depth: Int = 5, width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape d=$depth w=$width")
    val item = col(itemCol).cast("string")
    val sign = (conv(substring(md5(concat(lit("s:"),
      col("j").cast("string"), lit(":"), col("item"))), 1, 8), 16, 10)
      .cast("long") % 2) * 2 - 1
    stream
      .select(explode(sequence(lit(0), lit(depth - 1))).as("j"),
        item.as("item"))
      .groupBy(col("j"),
        graft.ext.Sketches.bucket(col("j"), col("item"), width).as("bucket"))
      .agg(sum(sign).as("bc"))
  }

  final case class P2Value(series: String, x: Double, seq: Long)
  final case class P2State(init: Seq[Double], q: Seq[Double], n: Seq[Long],
                           np: Seq[Double], count: Long)
  final case class P2Out(series: String, n: Long, estimate: Double)

  /** Streaming single-quantile estimator — the P² algorithm (Jain &
    * Chlamtac, CACM 1985): five markers (min, three interior, max) whose
    * heights adjust by a piecewise-parabolic rule as observations arrive.
    * State per series is O(1) — 5 heights + 5 positions — forever, against
    * the O(n) an exact quantile needs; the price is approximation (the spec
    * bounds it on smooth data). This is the keyed-state analog of the batch
    * sketch in [[graft.ext.HistSketch]]: that one buckets value space, this
    * one tracks ONE quantile with no bucketing decisions.
    *
    * Emits the current (n, estimate) per touched series per micro-batch
    * (Update mode). Deterministic given arrival order: in-batch rows sort
    * by `seq`, and the marker recurrence has no randomness — same input
    * order, same estimate, both of which the spec pins.
    */
  def p2QuantileStream(values: Dataset[P2Value], p: Double): Dataset[P2Out] = {
    require(p > 0.0 && p < 1.0, s"p must lie in (0,1), got $p")
    import values.sparkSession.implicits._
    val d = Array(0.0, p / 2.0, p, (1.0 + p) / 2.0, 1.0)
    values
      .groupByKey(_.series)
      .flatMapGroupsWithState[P2State, P2Out](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[P2Value], state: GroupState[P2State]) =>
          var st = state.getOption.getOrElse(
            P2State(Seq.empty, Seq.empty, Seq.empty, Seq.empty, 0L))
          var init = st.init.toArray
          var q = st.q.toArray
          var n = st.n.toArray
          var np = st.np.toArray
          var count = st.count
          it.toSeq.sortBy(_.seq).foreach { v =>
            val x = v.x
            count += 1
            if (q.isEmpty) {
              init = init :+ x
              if (init.length == 5) {
                q = init.sorted
                n = Array(1L, 2L, 3L, 4L, 5L)
                np = Array(1.0, 1.0 + 4.0 * d(1), 1.0 + 4.0 * d(2),
                  1.0 + 4.0 * d(3), 5.0)
                init = Array.empty
              }
            } else {
              // locate cell k, clamping the extreme markers
              var k = -1
              if (x < q(0)) { q(0) = x; k = 0 }
              else if (x >= q(4)) { q(4) = math.max(q(4), x); k = 3 }
              else {
                k = 0
                var i = 1
                while (i < 5 && x >= q(i)) { k = i; i += 1 }
                if (k > 3) k = 3
              }
              var i = k + 1
              while (i < 5) { n(i) += 1; i += 1 }
              i = 0
              while (i < 5) { np(i) += d(i); i += 1 }
              // adjust interior markers
              i = 1
              while (i <= 3) {
                val dd = np(i) - n(i)
                if ((dd >= 1.0 && n(i + 1) - n(i) > 1) ||
                    (dd <= -1.0 && n(i - 1) - n(i) < -1)) {
                  val s = if (dd >= 1.0) 1 else -1
                  // piecewise-parabolic (P²) candidate
                  val qp = q(i) + s.toDouble / (n(i + 1) - n(i - 1)) * (
                    (n(i) - n(i - 1) + s) * (q(i + 1) - q(i)) /
                      (n(i + 1) - n(i)) +
                    (n(i + 1) - n(i) - s) * (q(i) - q(i - 1)) /
                      (n(i) - n(i - 1)))
                  q(i) =
                    if (q(i - 1) < qp && qp < q(i + 1)) qp
                    else q(i) + s * (q(i + s) - q(i)) / (n(i + s) - n(i))
                  n(i) += s
                }
                i += 1
              }
            }
          }
          st = P2State(init.toSeq, q.toSeq, n.toSeq, np.toSeq, count)
          state.update(st)
          val est =
            if (q.nonEmpty) q(2)
            else if (init.nonEmpty) {
              val s = init.sorted
              s(math.min(s.length - 1, (p * s.length).toInt))
            } else Double.NaN
          Iterator.single(P2Out(series, count, est))
      }
  }

  final case class TurnoverEvent(board: String, key: Long, ts: Timestamp)
  final case class TurnoverState(day: Long, counts: Map[Long, Long],
                                 prevDay: Long, prevTop: Seq[Long])
  final case class TurnoverOut(board: String, day: java.sql.Date,
                               n_common: Long, jaccard: Double)

  /** Streaming day-over-day top-k leaderboard turnover — the live twin of
    * [[graft.ext.RankCompare.topKTurnover]]: per board, count keys within
    * the open UTC day; when the first event of a LATER day arrives the open
    * day closes (the [[collapseRunsStream]] finality discipline — a closed
    * day's top-k can no longer change, so the emitted row is final) and, if
    * the immediately-preceding day's top set is in state, the day's
    * turnover row (n_common, Jaccard over actual set sizes) is emitted.
    * Gap days emit nothing, exactly like the batch operator's
    * has-a-predecessor spine.
    *
    * State per board: ONE open day's count map + the previous CLOSED day's
    * top-k id list (O(k)). The count map is bounded by the day's distinct
    * keys — for an unbounded key space swap it for the
    * [[heavyHittersStream]] SpaceSaving buffer and accept approximate
    * tops; the leaderboards this monitors (items, domains, channels) are
    * bounded in practice.
    *
    * Same cross-batch event-time-order contract as [[sessionize]] (within a
    * batch it sorts): an event arriving AFTER its day already closed is
    * dropped — its day's row is already emitted and final (spec-locked;
    * port [[sessionizeLate]]'s watermark buffering if arrival can disorder
    * across days). Emitted rows == the batch operator's rows for every day
    * with a CLOSED successor; the final still-open day lives only in state.
    */
  def topKTurnoverStream(events: Dataset[TurnoverEvent],
                         k: Int): Dataset[TurnoverOut] = {
    require(k >= 1, s"k ($k) must be >= 1")
    import events.sparkSession.implicits._

    def topOf(counts: Map[Long, Long]): Seq[Long] =
      counts.toSeq.sortBy { case (key, n) => (-n, key) }.take(k).map(_._1)

    events
      .groupByKey(_.board)
      .flatMapGroupsWithState[TurnoverState, TurnoverOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (board: String, it: Iterator[TurnoverEvent],
         state: GroupState[TurnoverState]) =>
          var st = state.getOption.getOrElse(
            TurnoverState(Long.MinValue, Map.empty, Long.MinValue, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[TurnoverOut]
          it.toSeq.sortBy(e => (e.ts.getTime, e.key)).foreach { e =>
            val day = Math.floorDiv(e.ts.getTime, 86400000L)
            if (st.day == Long.MinValue) {
              st = st.copy(day = day, counts = Map(e.key -> 1L))
            } else if (day == st.day) {
              st = st.copy(counts =
                st.counts.updated(e.key, st.counts.getOrElse(e.key, 0L) + 1L))
            } else if (day > st.day) {
              // the open day closes: its top-k is final
              val top = topOf(st.counts)
              if (st.prevDay == st.day - 1) {
                val common = top.toSet.intersect(st.prevTop.toSet).size.toLong
                val denom = (top.size + st.prevTop.size - common).toDouble
                // Date.valueOf(LocalDate) round-trips the UTC epoch day
                // through Spark's JVM-default-TZ DateType conversion
                // without shifting on a non-UTC JVM
                out += TurnoverOut(board,
                  java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(st.day)),
                  common, common.toDouble / denom)
              }
              st = TurnoverState(day, Map(e.key -> 1L), st.day, top)
            } // day < st.day: late event for an already-closed day — dropped
          }
          state.update(st)
          out.iterator
      }
  }
}
