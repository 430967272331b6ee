package graft.streaming

import java.sql.Timestamp

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

final case class ChainDoc(ts: Timestamp, doc_id: Long, text: String)
final case class ChainFp(ts: Timestamp, doc_id: Long, fingerprint: Long)
final case class ChainSh(ts: Timestamp, doc_id: Long, s: Int, fp: Long)
final case class ChainSeg(ts: Timestamp, doc_id: Long, pos: Int, len: Int,
                          fp: Long)

/** Differential spec of the six near-dup streaming twins against their
  * pre-refactor bodies ([[CanonicalChainReference]]): over one seeded
  * multi-micro-batch corpus per input shape, each twin's raw emitted
  * multiset (every row, duplicates kept) must equal the reference's, and a
  * checkpoint the reference wrote must restart under the current operator
  * with the same rows. The corpora hold the edge cases of the bucket state
  * machine: null, empty and shorter-than-k text, a canonical re-arriving
  * with a changed fingerprint or position, three copies in one batch, ids
  * arriving out of order, rows between the previous and the current
  * watermark (where the timeout's `watermark + 1` floor binds), late rows,
  * and a watermark advance past the TTL so buckets expire and re-seed.
  */
class CanonicalChainSpec extends SparkTestBase {
  import spark.implicits._

  private val HourMs = 60 * 60000L
  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  /** Micro-batch index after which each run stops and restarts from its
    * checkpoint: past the watermark jump, before the re-seeding batches. */
  private val SwitchAt = 4

  /** Replays `batches` through `first` up to [[SwitchAt]], stops, and
    * resumes from the same checkpoint through `second`; returns every
    * emitted row (via a `foreachBatch` parquet sink), sorted.
    *
    * No-data micro-batches are off, as on a stream busy enough that every
    * trigger has data: the batch after a watermark jump then admits rows
    * against the previous watermark while timing out against the new one,
    * which is where the re-armed timeout needs its `watermark + 1` floor.
    * (An idle stream runs a no-data batch first, and that batch's jump
    * drops those rows as late.) */
  private def replay[I <: Product : Encoder](batches: Seq[Seq[I]],
                                             first: DataFrame => Dataset[_],
                                             second: DataFrame => Dataset[_])
      : Seq[String] =
    StreamReplay.replay(spark, batches, first,
        resume = Some(SwitchAt -> second), noDataBatches = false)
      .collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** Parent form, current form, and parent checkpoint resumed by the
    * current form: all three emit the same multiset, and it is not empty. */
  private def assertSameRows[I <: Product : Encoder](name: String,
      batches: Seq[Seq[I]], parent: DataFrame => Dataset[_],
      current: DataFrame => Dataset[_]): Unit = {
    val want = replay(batches, parent, parent)
    assert(want.size >= 4, s"$name: corpus too thin to compare: $want")
    val got = replay(batches, current, current)
    assert(got == want, s"$name emitted ${got.diff(want)} extra and " +
      s"${want.diff(got)} missing against the parent form")
    val resumed = replay(batches, parent, current)
    assert(resumed == want, s"$name restarted from the parent's checkpoint " +
      s"emitted ${resumed.diff(want)} extra and ${want.diff(resumed)} missing")
  }

  /** Seeded near-copies of a few base texts, plus the text edge cases. */
  private lazy val docBatches: Seq[Seq[ChainDoc]] = {
    val rnd = new Random(17)
    val vocab = (0 until 24).map(i => s"w$i")
    val bases = Seq.fill(3)(Seq.fill(12)(vocab(rnd.nextInt(vocab.size))))
    def mutant(): String = {
      val b = bases(rnd.nextInt(bases.size)).toArray
      (0 until rnd.nextInt(3)).foreach(_ => b(rnd.nextInt(b.length)) =
        vocab(rnd.nextInt(vocab.size)))
      b.mkString(" ")
    }
    def seeded(ids: Seq[Long], from: Long): Seq[ChainDoc] =
      ids.map(id => ChainDoc(ts(from + rnd.nextInt(8)), id, mutant()))
    val copy = bases.head.mkString(" ")
    Seq(
      // three copies in one batch, ids out of order; null, empty and
      // shorter-than-k texts (each twice, so they meet in a bucket)
      Seq(ChainDoc(ts(2), 7L, copy), ChainDoc(ts(1), 3L, copy),
        ChainDoc(ts(3), 5L, copy), ChainDoc(ts(4), 40L, null),
        ChainDoc(ts(4), 41L, null), ChainDoc(ts(5), 42L, ""),
        ChainDoc(ts(5), 43L, ""), ChainDoc(ts(6), 44L, "ab cd"),
        ChainDoc(ts(6), 45L, "ab cd")) ++ seeded(Seq(12L, 9L, 15L, 11L), 0),
      // a smaller id takes over; a canonical re-arrives with other text
      Seq(ChainDoc(ts(12), 1L, copy), ChainDoc(ts(13), 3L, mutant())) ++
        seeded(Seq(20L, 2L, 18L), 10),
      // the watermark jumps three hours, past every bucket's TTL
      Seq(ChainDoc(ts(180), 50L, "an unrelated watermark carrier of words")),
      // between the previous and the current watermark: admitted, and the
      // re-armed timeout clamps to watermark + 1
      seeded(Seq(31L, 30L), 22),
      // late rows, then re-seeding copies in the new epoch
      Seq(ChainDoc(ts(5), 60L, copy)),
      Seq(ChainDoc(ts(190), 62L, copy), ChainDoc(ts(191), 61L, copy)) ++
        seeded(Seq(64L, 63L), 185),
      seeded(Seq(70L, 66L, 68L), 195))
  }

  /** Fingerprints within a few bits of four bases, and the changed-
    * fingerprint refresh case of a canonical (id 100). */
  private lazy val fpBatches: Seq[Seq[ChainFp]] = {
    val rnd = new Random(23)
    val bases = Seq.fill(4)(rnd.nextLong())
    def near(): Long = (0 until rnd.nextInt(5)).foldLeft(
      bases(rnd.nextInt(bases.size)))((f, _) => f ^ (1L << rnd.nextInt(64)))
    def seeded(ids: Seq[Long], from: Long): Seq[ChainFp] =
      ids.map(id => ChainFp(ts(from + rnd.nextInt(8)), id, near()))
    val fpB = 0xffL << 20
    val fpC = fpB ^ (1L << 21) ^ (1L << 37) ^ (1L << 53)
    Seq(
      Seq(ChainFp(ts(0), 100L, 0L), ChainFp(ts(1), 9L, bases(1)),
        ChainFp(ts(2), 7L, bases(1)), ChainFp(ts(3), 8L, bases(1))) ++
        seeded(Seq(14L, 4L, 12L, 6L, 10L), 0),
      Seq(ChainFp(ts(12), 100L, fpB), ChainFp(ts(13), 102L, fpC),
        ChainFp(ts(14), 7L, bases(2)), ChainFp(ts(14), 7L, bases(3))) ++
        seeded(Seq(22L, 3L, 18L), 10),
      Seq(ChainFp(ts(180), 50L, rnd.nextLong())),
      seeded(Seq(31L, 30L), 22),
      Seq(ChainFp(ts(5), 60L, bases(1))),
      Seq(ChainFp(ts(190), 62L, bases(1)), ChainFp(ts(191), 61L, bases(1))) ++
        seeded(Seq(64L, 63L), 185),
      seeded(Seq(70L, 66L, 68L), 195))
  }

  /** Per-blob shingle rows near a few base fingerprints; a blob's own later
    * shingles refresh its canonical entry. */
  private lazy val shBatches: Seq[Seq[ChainSh]] = {
    val rnd = new Random(29)
    val bases = Seq.fill(6)(rnd.nextLong())
    def blob(id: Long, at: Long): Seq[ChainSh] =
      (0 until 3 + rnd.nextInt(3)).map { s =>
        val fp = (0 until rnd.nextInt(4)).foldLeft(
          bases(rnd.nextInt(bases.size)))((f, _) => f ^ (1L << rnd.nextInt(64)))
        ChainSh(ts(at + rnd.nextInt(5)), id, s + rnd.nextInt(4), fp)
      }
    def copyOf(id: Long, at: Long, shift: Int): Seq[ChainSh] =
      bases.zipWithIndex.map { case (fp, s) => ChainSh(ts(at), id, s + shift, fp) }
    Seq(
      copyOf(7L, 0, 0) ++ copyOf(3L, 1, 2) ++ copyOf(5L, 2, 1) ++
        Seq(9L, 4L, 12L).flatMap(blob(_, 0)),
      // the canonical (3) re-arrives at new positions, then 8 pairs with it
      copyOf(3L, 13, 5) ++ copyOf(8L, 14, 0) ++
        Seq(20L, 2L).flatMap(blob(_, 10)),
      Seq(ChainSh(ts(180), 50L, 0, rnd.nextLong())),
      copyOf(1L, 22, 3) ++ Seq(31L, 30L).flatMap(blob(_, 22)),
      copyOf(60L, 5, 0),
      copyOf(62L, 190, 0) ++ copyOf(61L, 191, 4) ++
        Seq(64L, 63L).flatMap(blob(_, 185)),
      Seq(70L, 66L).flatMap(blob(_, 195)))
  }

  /** Content-defined segments over a small (fp, len) pool; a blob repeating
    * its own segment at a new position refreshes the canonical position. */
  private lazy val segBatches: Seq[Seq[ChainSeg]] = {
    val rnd = new Random(31)
    val pool = Seq.fill(5)(rnd.nextLong())
    def blob(id: Long, at: Long): Seq[ChainSeg] =
      (0 until 2 + rnd.nextInt(4)).map(_ => ChainSeg(ts(at + rnd.nextInt(5)),
        id, rnd.nextInt(100), 4 * (1 + rnd.nextInt(2)), pool(rnd.nextInt(5))))
    def seg(id: Long, at: Long, pos: Int, fp: Int) =
      ChainSeg(ts(at), id, pos, 8, pool(fp))
    Seq(
      Seq(seg(7L, 0, 10, 0), seg(3L, 1, 30, 0), seg(5L, 2, 20, 0)) ++
        Seq(9L, 4L, 12L).flatMap(blob(_, 0)),
      Seq(seg(3L, 12, 44, 0), seg(3L, 12, 48, 0), seg(8L, 13, 5, 0)) ++
        Seq(20L, 2L).flatMap(blob(_, 10)),
      Seq(seg(50L, 180, 0, 4)),
      Seq(31L, 30L).flatMap(blob(_, 22)),
      Seq(seg(60L, 5, 10, 0)),
      Seq(seg(62L, 190, 10, 0), seg(61L, 191, 70, 0)) ++
        Seq(64L, 63L).flatMap(blob(_, 185)),
      Seq(70L, 66L).flatMap(blob(_, 195)))
  }

  private val Ref = CanonicalChainReference

  test("minhash twins emit the parent form's rows, and resume its checkpoint") {
    assertSameRows("minhashCandidatesStream", docBatches,
      df => Ref.minhashCandidatesStream(df),
      df => StreamingOps.minhashCandidatesStream(df))
    assertSameRows("minhashCandidatesStreamTtl", docBatches,
      df => Ref.minhashCandidatesStreamTtl(df, "ts", HourMs),
      df => StreamingOps.minhashCandidatesStreamTtl(df, "ts", HourMs))
  }

  test("winnow twin emits the parent form's rows, and resumes its checkpoint") {
    assertSameRows("winnowCandidatesStreamTtl", docBatches,
      df => Ref.winnowCandidatesStreamTtl(df, "ts", HourMs),
      df => StreamingOps.winnowCandidatesStreamTtl(df, "ts", HourMs))
  }

  test("fingerprint twin emits the parent form's rows, and resumes its " +
      "checkpoint") {
    assertSameRows("fingerprintCandidatesStreamTtl", fpBatches,
      df => Ref.fingerprintCandidatesStreamTtl(df, "ts", HourMs),
      df => StreamingOps.fingerprintCandidatesStreamTtl(df, "ts", HourMs))
  }

  test("shingle twin emits the parent form's rows, and resumes its " +
      "checkpoint") {
    assertSameRows("shingleCandidatesStreamTtl", shBatches,
      df => Ref.shingleCandidatesStreamTtl(df, "ts", HourMs),
      df => StreamingOps.shingleCandidatesStreamTtl(df, "ts", HourMs))
  }

  test("cdc twin emits the parent form's rows, and resumes its checkpoint") {
    assertSameRows("cdcCandidatesStreamTtl", segBatches,
      df => Ref.cdcCandidatesStreamTtl(df, "ts", HourMs),
      df => StreamingOps.cdcCandidatesStreamTtl(df, "ts", HourMs))
  }

  test("state schema pin: each twin's grouping key, state type and timeout " +
      "kind equal the parent form's, so its checkpoints restart") {
    implicit val sqlCtx = spark.sqlContext
    def docs = MemoryStream[ChainDoc].toDF()
    def fps = MemoryStream[ChainFp].toDF()
    def shs = MemoryStream[ChainSh].toDF()
    def segs = MemoryStream[ChainSeg].toDF()
    def layout(ds: Dataset[_]): (String, String, GroupStateTimeout) = {
      val ops = ds.queryExecution.analyzed.collect {
        case f: FlatMapGroupsWithState => f
      }
      assert(ops.size == 1, s"expected one stateful node: $ops")
      val f = ops.head
      (f.groupingAttributes.map(a => s"${a.name}:${a.dataType.simpleString}" +
        (if (a.nullable) "?" else "")).mkString(","),
        f.stateEncoder.schema.catalogString, f.timeout)
    }
    val EventTime = GroupStateTimeout.EventTimeTimeout
    val twins: Seq[(String, Dataset[_], Dataset[_],
        (String, String, GroupStateTimeout))] = Seq(
      ("minhashCandidatesStream", Ref.minhashCandidatesStream(docs),
        StreamingOps.minhashCandidatesStream(docs),
        ("_1:int,_2:string?", "struct<value:bigint>",
          GroupStateTimeout.NoTimeout)),
      ("minhashCandidatesStreamTtl", Ref.minhashCandidatesStreamTtl(docs,
        "ts", HourMs), StreamingOps.minhashCandidatesStreamTtl(docs, "ts",
        HourMs), ("_1:int,_2:string?", "struct<value:bigint>", EventTime)),
      ("fingerprintCandidatesStreamTtl",
        Ref.fingerprintCandidatesStreamTtl(fps, "ts", HourMs),
        StreamingOps.fingerprintCandidatesStreamTtl(fps, "ts", HourMs),
        ("_1:int,_2:bigint", "struct<_1:bigint,_2:bigint>", EventTime)),
      ("shingleCandidatesStreamTtl",
        Ref.shingleCandidatesStreamTtl(shs, "ts", HourMs),
        StreamingOps.shingleCandidatesStreamTtl(shs, "ts", HourMs),
        ("_1:int,_2:bigint", "struct<_1:bigint,_2:int,_3:bigint>", EventTime)),
      ("cdcCandidatesStreamTtl",
        Ref.cdcCandidatesStreamTtl(segs, "ts", HourMs),
        StreamingOps.cdcCandidatesStreamTtl(segs, "ts", HourMs),
        ("_1:bigint,_2:int", "struct<_1:bigint,_2:int>", EventTime)),
      ("winnowCandidatesStreamTtl",
        Ref.winnowCandidatesStreamTtl(docs, "ts", HourMs),
        StreamingOps.winnowCandidatesStreamTtl(docs, "ts", HourMs),
        ("value:bigint", "struct<value:bigint>", EventTime)))
    twins.foreach { case (name, parent, current, pinned) =>
      assert(layout(parent) == pinned, s"$name: parent form moved")
      assert(layout(current) == pinned,
        s"$name: state layout ${layout(current)} != parent's $pinned")
    }
  }
}
