package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import StreamingOps.{CandidatePair, CdcSegMatch, HammingPair, ShinglePair}

/** The six near-dup streaming twins as they stood before
  * [[StreamingOps]] folded them onto one canonical-chain state machine:
  * each with its own `flatMapGroupsWithState`, the MinHash twins signing
  * with per-hash `aggregate` folds and the Hamming twins writing their own
  * band layout. Kept verbatim as the differential reference for
  * [[CanonicalChainSpec]] — same names, signatures and defaults as the
  * operators they pin.
  */
object CanonicalChainReference {

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
}
