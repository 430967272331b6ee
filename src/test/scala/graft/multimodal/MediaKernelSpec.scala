package graft.multimodal

import scala.util.Try

import graft.SparkTestBase

/** Differential of the media tier's envelope kernel and box walk against
  * the loops they replaced ([[MediaKernelReference]]): every envelope bit
  * for bit (`doubleToRawLongBits`), every fingerprint, shingle and mdat
  * payload exactly, over seeded blobs and the edge shapes of the window
  * grid (fewer frames than a window, exactly one, a remainder, 64/65/66
  * frames), of the RIFF walk (stereo, an odd-sized chunk before `data`,
  * full-scale samples) and of the ISO-BMFF walk (largesize and to-EOF
  * mdats, a `free` box first, truncated and undersized boxes, no mdat).
  */
class MediaKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val Ref = MediaKernelReference

  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] = Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def be32(v: Long): Array[Byte] = le32(v).reverse
  private def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] =
    ascii(id) ++ le32(body.length) ++ body ++ Array.fill(body.length & 1)(0.toByte)

  /** A 16-bit PCM WAVE whose first channel carries `samples`; further
    * channels hold filler, and `before` goes between `fmt ` and `data`.
    */
  private def wav(samples: Array[Int], channels: Int = 1,
                  before: Array[Byte] = Array.empty): Array[Byte] = {
    val blockAlign = 2 * channels
    val fmt = le16(1) ++ le16(channels) ++ le32(16000) ++
      le32(16000L * blockAlign) ++ le16(blockAlign) ++ le16(16)
    val data = samples.flatMap(v => le16(v) ++ Array.fill(blockAlign - 2)(0x5a.toByte))
    val body = ascii("WAVE") ++ riffChunk("fmt ", fmt) ++ before ++ riffChunk("data", data)
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  private def box(tp: String, body: Array[Byte]): Array[Byte] =
    be32(8L + body.length) ++ ascii(tp) ++ body

  private val ftyp = box("ftyp", ascii("isom") ++ be32(0) ++ ascii("isommp41"))

  private val rnd = new scala.util.Random(20261021)
  private def samples(n: Int): Array[Int] = Array.fill(n)(rnd.nextInt(65536) - 32768)
  private def payload(n: Int): Array[Byte] = Array.fill(n)(rnd.nextInt(256).toByte)

  private val frameCounts = Seq(0, 1, 3, 4, 7, 8, 13, 64, 65, 66, 130, 257, 1000)

  private val audioBlobs: Seq[(String, Array[Byte])] =
    frameCounts.flatMap { n =>
      Seq(s"mono $n" -> wav(samples(n)),
        s"stereo $n" -> wav(samples(n), channels = 2),
        s"odd chunk before data $n" ->
          wav(samples(n), before = riffChunk("LIST", ascii("INFO!"))))
    } ++ Seq(
      "full scale" -> wav(Array.tabulate(200)(i => if (i % 3 == 0) -32768 else 32767)),
      "all -32768" -> wav(Array.fill(130)(-32768)),
      "encodePcm" -> WavCodec.encodePcm(8000, samples(700).map(_ / 2)),
      "encode" -> WavCodec.encode(16000, 2, 16, 333),
      "8-bit" -> WavCodec.encode(16000, 1, 8, 333),
      "not riff" -> ascii("hello, this is certainly not a wave file at all"),
      "empty" -> Array.empty[Byte])

  private val videoBlobs: Seq[(String, Array[Byte])] =
    frameCounts.map(n => s"encodeWithMdat $n" ->
      Mp4Codec.encodeWithMdat("isom", 1, 1000L, 2000L, payload(n))) ++ Seq(
      "encode" -> Mp4Codec.encode("mp42", 2, 600L, 1200L, 500),
      "mdat behind free" -> (ftyp ++ box("free", payload(13)) ++ box("mdat", payload(300))),
      "largesize mdat" -> (ftyp ++ be32(1) ++ ascii("mdat") ++ be64(16L + 200) ++ payload(200)),
      "size-0 mdat" -> (ftyp ++ be32(0) ++ ascii("mdat") ++ payload(150)),
      "two mdats" -> (ftyp ++ box("mdat", payload(70)) ++ box("mdat", payload(90))),
      "truncated box" -> (ftyp ++ be32(500) ++ ascii("mdat") ++ payload(100)),
      "box shorter than its header" -> (ftyp ++ be32(5) ++ ascii("mdat") ++ payload(100)),
      "largesize header cut off" -> (ftyp ++ be32(1) ++ ascii("mdat") ++ be32(0)),
      "largesize below 16" -> (ftyp ++ be32(1) ++ ascii("mdat") ++ be64(12) ++ payload(20)),
      "no mdat" -> (ftyp ++ box("free", payload(40))),
      "trailing bytes, no mdat" -> (ftyp ++ payload(5)),
      "short" -> payload(7),
      "empty" -> Array.empty[Byte])

  private val grids = Seq((1, 1), (2, 1), (2, 2), (3, 2), (4, 4), (5, 3), (7, 7),
    (8, 2), (16, 16), (64, 16))

  private def bits(e: Option[Array[Double]]): Option[Seq[Long]] =
    e.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  /** Same value, or a failure of the same class on both sides. */
  private def same[A](what: String)(ref: => A, now: => A): Unit = {
    val (r, n) = (Try(ref), Try(now))
    assert(r.toOption == n.toOption &&
      r.failed.toOption.map(_.getClass) == n.failed.toOption.map(_.getClass),
      s"$what: reference $r, kernel $n")
  }

  test("audio envelopes, fingerprints and shingles match the pre-kernel " +
      "loops bit for bit") {
    for ((name, b) <- audioBlobs) {
      same(s"$name fingerprint")(Ref.audioFingerprint(b), WavCodec.audioFingerprint(b))
      for ((w, hop) <- grids) {
        same(s"$name overlap($w, $hop)")(bits(Ref.audioEnvelopeOverlap(b, w, hop)),
          bits(WavCodec.audioEnvelopeOverlap(b, w, hop)))
        if (hop == w) same(s"$name fixed($w)")(bits(Ref.audioEnvelopeFixed(b, w)),
          bits(WavCodec.audioEnvelopeFixed(b, w)))
        WavCodec.audioEnvelopeOverlap(b, w, hop).foreach { e =>
          for (cap <- Seq(1, 3, 256))
            same(s"$name shingles($w, $hop, $cap)")(Ref.envelopeShingles(e, cap),
              Multimodal.envelopeShingles(e, cap))
        }
      }
    }
    // the corpus reaches every branch it claims to
    assert(WavCodec.audioFingerprint(wav(samples(65))).nonEmpty)
    assert(WavCodec.audioFingerprint(wav(samples(64))).isEmpty)
    assert(WavCodec.audioEnvelopeFixed(wav(samples(7), channels = 2), 4).get.length == 1)
  }

  test("mdat payloads, video envelopes and fingerprints match the " +
      "pre-kernel loops bit for bit") {
    for ((name, b) <- videoBlobs) {
      same(s"$name mdat")(Ref.mdatPayload(b).map(_.toSeq), Mp4Codec.mdatPayload(b).map(_.toSeq))
      same(s"$name fingerprint")(Ref.videoFingerprint(b), Mp4Codec.videoFingerprint(b))
      for ((w, hop) <- grids) {
        same(s"$name overlap($w, $hop)")(bits(Ref.videoEnvelopeOverlap(b, w, hop)),
          bits(Mp4Codec.videoEnvelopeOverlap(b, w, hop)))
        if (hop == w) same(s"$name fixed($w)")(bits(Ref.videoEnvelopeFixed(b, w)),
          bits(Mp4Codec.videoEnvelopeFixed(b, w)))
      }
    }
    val found = videoBlobs.toMap.map { case (k, b) => k -> Mp4Codec.mdatPayload(b).map(_.length) }
    assert(found("mdat behind free").contains(300) && found("largesize mdat").contains(200) &&
      found("size-0 mdat").contains(150) && found("two mdats").contains(70))
    assert(Seq("truncated box", "box shorter than its header", "no mdat",
      "largesize header cut off", "largesize below 16").forall(found(_).isEmpty))
  }

  test("the public envelopes keep their require messages") {
    val b = wav(samples(10))
    val mp4 = Mp4Codec.encodeWithMdat("isom", 1, 1000L, 2000L, payload(10))
    for ((call, msg) <- Seq[(() => Any, String)](
        (() => WavCodec.audioEnvelopeFixed(b, 0), "windowFrames must be >= 1, got 0"),
        (() => WavCodec.audioEnvelopeOverlap(b, 0, 1), "windowFrames must be >= 1, got 0"),
        (() => WavCodec.audioEnvelopeOverlap(b, 2, 3), "need 1 <= hopFrames <= windowFrames, got 3"),
        (() => Mp4Codec.videoEnvelopeFixed(mp4, 0), "windowBytes must be >= 1, got 0"),
        (() => Mp4Codec.videoEnvelopeOverlap(mp4, 0, 1), "windowBytes must be >= 1, got 0"),
        (() => Mp4Codec.videoEnvelopeOverlap(mp4, 2, 0), "need 1 <= hopBytes <= windowBytes, got 0")))
      assert(intercept[IllegalArgumentException](call()).getMessage ==
        s"requirement failed: $msg")
  }

  test("a 16-bit frame narrower than one sample (blockAlign 1) is not " +
      "16-bit PCM: the old loops read past the data chunk") {
    val fmt = le16(1) ++ le16(1) ++ le32(16000) ++ le32(16000) ++ le16(1) ++ le16(16)
    val body = ascii("WAVE") ++ riffChunk("fmt ", fmt) ++ riffChunk("data", payload(130))
    val narrow = ascii("RIFF") ++ le32(body.length) ++ body
    assert(Try(Ref.audioFingerprint(narrow)).isFailure)
    assert(WavCodec.audioMagnitudes(narrow).isEmpty)
    assert(WavCodec.audioFingerprint(narrow).isEmpty)
    assert(WavCodec.audioEnvelopeOverlap(narrow, 4, 1).isEmpty)
  }

  private def pairRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSeq.sorted

  test("*DupPairsShifted(w) returns *DupPairsShiftedOverlap(w, hop = w)'s " +
      "rows under the witness name offset_windows, audio and video") {
    val r = new scala.util.Random(5)
    val base = Array.fill(1200)(r.nextInt(32768))
    val other = Array.fill(1200)(r.nextInt(32768))
    // a whole-window trim: 3 windows of 8 off the front, new tail behind
    val trimmed = base.drop(24) ++ Array.fill(24)(r.nextInt(32768))
    val docs = Seq((1L, base.toSeq), (2L, trimmed.toSeq), (3L, other.toSeq))
    val wavs = Multimodal.synthPcmWav(docs.toDF("doc_id", "samples"), "samples", 16000)
    val mp4s = Multimodal.synthMp4Samples(
      docs.map { case (i, s) => (i, s.map(_ % 256)) }.toDF("doc_id", "samples"), "samples")
    for ((shifted, overlap) <- Seq(
        (Multimodal.audioDupPairsShifted(wavs, "doc_id", "media", windowFrames = 8),
          Multimodal.audioDupPairsShiftedOverlap(wavs, "doc_id", "media",
            windowFrames = 8, hopFrames = 8)),
        (Multimodal.videoDupPairsShifted(mp4s, "doc_id", "media", windowBytes = 8),
          Multimodal.videoDupPairsShiftedOverlap(mp4s, "doc_id", "media",
            windowBytes = 8, hopBytes = 8)))) {
      assert(shifted.columns.toSeq == Seq("id_a", "id_b", "hamming", "offset_windows"))
      assert(overlap.columns.last == "offset_hops")
      assert(shifted.schema.map(_.copy(name = "")) == overlap.schema.map(_.copy(name = "")))
      val rows = pairRows(shifted)
      assert(rows.contains((1L, 2L, 0, 3)), rows.toString)
      assert(rows == pairRows(overlap))
    }
  }
}
