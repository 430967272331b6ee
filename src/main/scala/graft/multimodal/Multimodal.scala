package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Materialize

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary` columns
  * with typed metadata, decoded/featurized per partition in batches.
  *
  * North-star extension (no counterpart in the reference). The Spark-side shape —
  * schema, partition-parallel batch processing, explode of frame samples — is real and
  * tested, and the codec seam is a [[MediaCodec]] trait with TWO implementations:
  * [[ImageIoCodec]] (REAL — JDK `javax.imageio`, reads PNG/JPEG/GIF/BMP headers
  * without new dependencies) and [[FakeCodec]] (deterministic stand-in for formats
  * the JDK can't read, and the oracle-checkable default for the synthetic corpus,
  * whose "media" blobs are UTF-8 text, not images). Swap in JavaCPP/FFmpeg or
  * TwelveMonkeys per-executor at deployment for the long-tail formats; everything
  * else stays.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Attach a binary media column. In production this is the raw image/audio blob
    * column of the table; here we fake it from a text column's UTF-8 bytes.
    */
  def withFakeMedia(df: DataFrame, textCol: String, mediaCol: String = "media"): DataFrame =
    df.withColumn(mediaCol, encode(col(textCol), "UTF-8"))

  /** Expression-only metadata variant: byte length plus md5-derived fake dimensions,
    * all portable column expressions (oracle-checkable, unlike the codec path below
    * which models real per-partition native decoding).
    */
  def metaExprDF(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val media = encode(col(textCol), "UTF-8")
    val h = conv(substring(md5(col(textCol)), 1, 8), 16, 10).cast("long")
    df.select(col(idCol),
      octet_length(media).cast("long").as("n_bytes"),
      (lit(1L) + h.bitwiseAND(lit(1023L))).as("width"),
      (lit(1L) + shiftright(h, 10).bitwiseAND(lit(1023L))).as("height"),
      when(octet_length(media) % 2 === 0, lit("png")).otherwise(lit("jpeg"))
        .as("format"))
  }

  /** The media tier's one per-row step, the multimodal codec batch loop: per
    * partition, one iterator in and one iterator out (the Scala analog of
    * `mapInPandas`: no per-row driver work, native codec calls allowed
    * inside), wrapped back into a DataFrame. Every `rdd.mapPartitions` and
    * `createDataFrame` of the package is this one.
    *
    * An output row starts with its input row's columns, all of them or, when
    * `id` is given, only that key (a keyed row), and ends with one tuple of
    * `fields` values. `open` runs once per partition (a per-task digest or a
    * JVM-global codec setting lives there) and returns the row step, which
    * reads the `inputs` columns, in that order, as one Row and gives zero or
    * more value tuples for it. A tuple holds each field's external type, so
    * an Int beside a Long is written `Seq[Any](i, l)`: a plain `Seq` would
    * widen the Int.
    */
  private def codecLoop(df: DataFrame, inputs: Seq[String],
                        fields: Seq[StructField], id: Option[StructField] = None)(
      open: () => Row => Iterator[Seq[Any]]): DataFrame = {
    val inIdx = inputs.map(df.schema.fieldIndex)
    val idIdx = id.map(f => df.schema.fieldIndex(f.name))
    val schema = StructType(id.fold(df.schema.fields.toSeq)(Seq(_)) ++ fields)
    df.sparkSession.createDataFrame(df.rdd.mapPartitions { it =>
      val step = open()
      it.flatMap { r =>
        val head = idIdx.fold(r.toSeq)(i => Seq(r.get(i)))
        step(Row.fromSeq(inIdx.map(r.get))).map(v => Row.fromSeq(head ++ v))
      }
    }, schema)
  }

  /** [[codecLoop]] over one media column, keyed by `idCol` when given, with
    * the tier's null-blob rule: a SQL NULL blob is handed to no codec and
    * counts as a blob the codec gives nothing for. With `fill` (the
    * decoders and [[featurize]]) such a row keeps one tuple of null
    * appended columns; without it ([[frameSample]] and the near-dup
    * tiers) the row emits nothing, as a blob that does not fingerprint
    * drops out of pairing.
    */
  private def blobLoop(df: DataFrame, mediaCol: String, fields: Seq[StructField],
                       idCol: Option[String] = None, fill: Boolean = false)(
      codec: Array[Byte] => Iterator[Seq[Any]]): DataFrame = {
    val nulls = Seq.fill(fields.length)(null)
    val id = idCol.map { c => val f = df.schema(c); StructField(c, f.dataType, f.nullable) }
    codecLoop(df, Seq(mediaCol), fields, id) { () => in =>
      val blob = in.getAs[Array[Byte]](0)
      val out = if (blob == null) Iterator.empty else codec(blob)
      if (fill && !out.hasNext) Iterator.single(nulls) else out
    }
  }

  /** A generated media column: one non-null blob per row. */
  private def blobField(mediaCol: String): Seq[StructField] =
    Seq(StructField(mediaCol, BinaryType, nullable = false))

  /** Decode metadata for each media blob in the [[codecLoop]]. The codec is
    * injected ([[MediaCodec]] is `Serializable`, instantiated once per partition
    * iterator closure, so a real codec can hold native handles per executor).
    * A null blob gets null `meta`.
    */
  def decodeMeta(df: DataFrame, mediaCol: String,
                 codec: MediaCodec = FakeCodec): DataFrame =
    blobLoop(df, mediaCol, Seq(StructField("meta", mediaMetaSchema)), fill = true) { b =>
      val m = codec.decode(b)
      Iterator.single(Seq(Row(m.format, m.width, m.height, m.nBytes)))
    }

  /** Feature-extract: fixed-size byte-value histogram per blob (stands in for an
    * embedding model / mel spectrogram). Output adds `features: array<double>`,
    * null for a null blob.
    */
  def featurize(df: DataFrame, mediaCol: String, bins: Int = 16): DataFrame =
    blobLoop(df, mediaCol,
        Seq(StructField("features", ArrayType(DoubleType, containsNull = false))),
        fill = true) { bytes =>
      val hist = new Array[Double](bins)
      bytes.foreach(b => hist(((b & 0xff) * bins) / 256) += 1.0)
      val n = math.max(bytes.length, 1).toDouble
      Iterator.single(Seq(hist.map(_ / n).toSeq))
    }

  /** Image near-dup pairs by perceptual hash: dHash every decodable blob
    * ([[ImageIoCodec.dHash]], per-partition batch decode), then find pairs
    * within `maxHamming` bits via banded equi-join — the 64-bit hash splits
    * into `maxHamming + 1` bands, and by pigeonhole any pair within the
    * budget shares at least one EXACT band, so candidate generation is an
    * equi-join on (band, bits), never corpus². Verification is one
    * bit_count(xor) on candidates. Output: (id_a, id_b, hamming), id_a <
    * id_b. The simhash-banding discipline applied to the pixel domain.
    */
  def perceptualDupPairs(df: DataFrame, idCol: String, mediaCol: String,
                         maxHamming: Int = 3): DataFrame =
    hashPairs(df, idCol, mediaCol, "dhash", maxHamming)(ImageIoCodec.dHash(_))

  /** The pigeonhole band layout of a 64-bit fingerprint, as an
    * `array<struct<band: int, bits: long>>` to explode: `maxHamming + 1`
    * bands of `64 / (maxHamming + 1)` bits, so two fingerprints within
    * `maxHamming` bits agree exactly on at least one band. The batch banded
    * joins below and the streaming twins
    * ([[graft.streaming.StreamingOps.fingerprintCandidatesStreamTtl]],
    * [[graft.streaming.StreamingOps.shingleCandidatesStreamTtl]]) all band
    * through here, which is what keeps the streamed pairs a subset of the
    * batch pairs.
    */
  private[graft] def hammingBands(fp: Column, maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"need 0 <= maxHamming <= 15, got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val mask = (1L << bandBits) - 1
    array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(fp, b * bandBits).bitwiseAND(lit(mask)).as("bits"))
    }: _*)
  }

  /** The whole-signal near-dup tier, one body for image, audio and video:
    * `hash` gives each blob's 64-bit fingerprint (blobs it gives none drop
    * out), then a pigeonhole-banded Hamming join over it: [[hammingBands]],
    * so any pair within the bound collides on at least one band (exact
    * recall), candidates verified with `bit_count(xor)`. Never corpus².
    */
  private def hashPairs(df: DataFrame, idCol: String, mediaCol: String,
                        hashCol: String, maxHamming: Int)(
      hash: Array[Byte] => Option[Long]): DataFrame = {
    val hashed = blobLoop(df, mediaCol,
      Seq(StructField(hashCol, LongType, nullable = false)), Some(idCol))(
      hash(_).map(Seq(_)).iterator)
    val bands = explode(hammingBands(col(hashCol), maxHamming))
    val banded = hashed.select(col(idCol), col(hashCol), bands.as("__bb"))
      .select(col(idCol), col(hashCol),
        col("__bb.band").as("band"), col("__bb.bits").as("bits"))
    banded.select(col(idCol).as("id_a"), col(hashCol).as("__ha"),
        col("band"), col("bits"))
      .join(banded.select(col(idCol).as("id_b"), col(hashCol).as("__hb"),
        col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Per-partition MD5 helper for the deterministic media fixtures:
    * `hex32(s)` is the unsigned 32-bit value of the digest's first four
    * bytes over s's UTF-8 bytes — bit-identical to the Catalyst
    * formulation `conv(substring(md5(s), 1, 8), 16, 10).cast("long")`
    * (the hex string's first 8 chars ARE the first 4 digest bytes). One
    * MessageDigest per deserialized instance — i.e. one per task, so no
    * cross-thread sharing; digest() resets it between calls.
    */
  final class Md5Hex32 extends Serializable {
    @transient private lazy val md =
      java.security.MessageDigest.getInstance("MD5")
    def hex32(s: String): Long = {
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
  }

  /** Generate a fixture's md5-derived `array<int>` sample column in one
    * JVM pass: sample w of row id is `gen(h, id, w)`. Replaces the
    * `transform(sequence(0, n-1), w -> conv(substring(md5(...), 1, 8), 16,
    * 10) % mod)` column formulation: `transform` is a HigherOrderFunction →
    * CodegenFallback → the whole synth evaluates INTERPRETED, ~n allocating
    * expression evaluations per row — the dominant synth cost for the
    * media fixtures at sf0.1 and the source of the q_image_near_dup
    * C2-recompilation bimodality (r16). `gen` must be a pure function of
    * (id, w) through [[Md5Hex32.hex32]] so values stay bit-identical to
    * the expression form — Md5SamplesSpec pins the shared derive shapes
    * and the oracle re-checks every query end to end. `idCol` must be
    * non-null (it is every fixture's primary key).
    * Output columns: (idCol long, samplesCol array<int>).
    */
  def md5Samples(df: DataFrame, idCol: String, n: Int,
                 gen: (Md5Hex32, Long, Int) => Int,
                 samplesCol: String = "samples"): DataFrame =
    codecLoop(df.select(col(idCol).cast("long").as(idCol)), Seq(idCol),
        Seq(StructField(samplesCol, ArrayType(IntegerType, containsNull = false),
          nullable = false)),
        Some(StructField(idCol, LongType, nullable = false))) { () =>
      val h = new Md5Hex32
      in => {
        val id = in.getLong(0)
        val arr = new Array[Int](n)
        var w = 0
        while (w < n) { arr(w) = gen(h, id, w); w += 1 }
        Iterator.single(Seq(arr.toSeq))
      }
    }

  /** Synthesize a mono 16-bit PCM WAV blob per row from an
    * `array<int>` sample column ([[WavCodec.encodePcm]]) — the audio
    * counterpart of [[synthPixelPng]]: caller-controlled samples make the
    * downstream fingerprint oracle-checkable in closed form while the
    * engine still exercises the real encode → parse → fingerprint path.
    */
  def synthPcmWav(df: DataFrame, samplesCol: String, sampleRate: Int,
                  mediaCol: String = "media"): DataFrame =
    codecLoop(df, Seq(samplesCol), blobField(mediaCol)) { () => in =>
      Iterator.single(Seq(WavCodec.encodePcm(sampleRate, in.getSeq[Int](0).toArray)))
    }

  /** Audio near-dup pairs: [[WavCodec.audioFingerprint]]'s 64-bit
    * loudness-envelope sign-of-delta hash per blob, then the same
    * pigeonhole-banded Hamming join as the image path. Blobs that don't
    * fingerprint (non-PCM, < 65 frames, null) drop out of pairing.
    */
  def audioDupPairs(df: DataFrame, idCol: String, mediaCol: String,
                    maxHamming: Int = 3): DataFrame =
    hashPairs(df, idCol, mediaCol, "afp", maxHamming)(WavCodec.audioFingerprint)

  val audioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("bits_per_sample", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** Synthesize a canonical 16-bit PCM WAV blob per row from integer parameter
    * columns (sample rate, channels, frame count) — the audio counterpart of
    * [[withFakeMedia]]: the synthetic corpus has no real recordings, so the
    * generator manufactures REAL RIFF containers ([[WavCodec.encode]]) whose
    * parse-back is oracle-checkable against the parameter columns.
    */
  def synthWavMedia(df: DataFrame, srCol: String, chCol: String,
                    nFramesCol: String, mediaCol: String = "media"): DataFrame =
    codecLoop(df, Seq(srCol, chCol, nFramesCol), blobField(mediaCol)) { () => in =>
      Iterator.single(Seq(WavCodec.encode(in.getInt(0), in.getInt(1),
        bitsPerSample = 16, nFrames = in.getInt(2))))
    }

  /** Parse audio metadata from each media blob with the REAL RIFF/WAVE header
    * parser ([[WavCodec.decode]]) in the [[codecLoop]]; non-WAV and null
    * blobs yield null metadata so a mixed-media scan never throws.
    * Header-only: the data payload is never touched, the right cost for a
    * 100 TB metadata sweep.
    */
  def decodeAudioMeta(df: DataFrame, mediaCol: String): DataFrame =
    blobLoop(df, mediaCol, audioMetaSchema.fields.toSeq, fill = true)(
      WavCodec.decode(_).map(a => Seq(a.format, a.sampleRate.toLong,
        a.channels.toLong, a.bitsPerSample.toLong, a.nFrames, a.durationMs,
        a.nBytes)).iterator)

  private val videoMetaSchema = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("major_brand", StringType, nullable = true),
    StructField("n_tracks", LongType, nullable = true),
    StructField("timescale", LongType, nullable = true),
    StructField("duration_units", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("mdat_bytes", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** Synthesize a canonical ISO-BMFF MP4 blob per row from parameter columns
    * — the video counterpart of [[synthWavMedia]]: REAL box structure
    * ([[Mp4Codec.encode]]) whose parse-back is oracle-checkable against the
    * source columns.
    */
  def synthMp4Media(df: DataFrame, brandCol: String, nTracksCol: String,
                    timescaleCol: String, durUnitsCol: String,
                    payloadCol: String, mediaCol: String = "media"): DataFrame =
    codecLoop(df, Seq(brandCol, nTracksCol, timescaleCol, durUnitsCol, payloadCol),
        blobField(mediaCol)) { () => in =>
      Iterator.single(Seq(Mp4Codec.encode(in.getString(0), in.getInt(1),
        in.getLong(2), in.getLong(3), in.getInt(4))))
    }

  /** Synthesize an MP4 blob per row whose mdat carries the given
    * `array<int>` sample bytes ([[Mp4Codec.encodeWithMdat]]) — the video
    * counterpart of [[synthPcmWav]]: caller-controlled payload makes the
    * downstream fingerprint oracle-checkable in closed form while the
    * engine exercises the real box-walk → fingerprint path.
    */
  def synthMp4Samples(df: DataFrame, samplesCol: String,
                      brand: String = "isom", nTracks: Int = 1,
                      timescale: Long = 1000L, durUnits: Long = 2000L,
                      mediaCol: String = "media"): DataFrame =
    codecLoop(df, Seq(samplesCol), blobField(mediaCol)) { () => in =>
      val mdat = in.getSeq[Int](0).map(v => (v & 0xff).toByte).toArray
      Iterator.single(Seq(Mp4Codec.encodeWithMdat(brand, nTracks, timescale,
        durUnits, mdat)))
    }

  /** Video near-dup pairs: [[Mp4Codec.videoFingerprint]]'s 64-bit
    * mdat-envelope hash per blob, then the same pigeonhole-banded Hamming
    * join as the image and audio paths. Blobs with no mdat (or one too
    * short to window) drop out of pairing.
    */
  def videoDupPairs(df: DataFrame, idCol: String, mediaCol: String,
                    maxHamming: Int = 3): DataFrame =
    hashPairs(df, idCol, mediaCol, "vfp", maxHamming)(Mp4Codec.videoFingerprint)

  /** The envelope kernel of the audio and video tiers. Each modality reads
    * its blob as one magnitude sequence — first-channel |sample| per frame
    * ([[WavCodec.audioMagnitudes]]) or the unsigned mdat bytes
    * ([[Mp4Codec.videoMagnitudes]]) — and every envelope is a sequence of
    * window means over it: this loop sums a window left to right as
    * doubles and divides by its length.
    */
  private[multimodal] def windowMean(m: Array[Int], from: Int, until: Int): Double = {
    var s = 0.0
    var i = from
    while (i < until) { s += m(i); i += 1 }
    s / (until - from)
  }

  /** Means of the full `window`-long windows starting every `hop`
    * positions, or None when not one window fits; hop = window is the
    * fixed, non-overlapping grid.
    */
  private[multimodal] def windowMeans(m: Array[Int], window: Int,
                                      hop: Int): Option[Array[Double]] =
    if (m.length < window) None
    else Some(Array.tabulate((m.length - window) / hop + 1) { w =>
      windowMean(m, w * hop, w * hop + window)
    })

  /** The whole-signal fingerprint: [[signBits]] over the means of 65 equal
    * windows, or None for fewer than 65 magnitudes.
    */
  private[multimodal] def fingerprint65(m: Array[Int]): Option[Long] =
    if (m.length < 65) None
    else Some(signBits(Array.tabulate(65) { w =>
      windowMean(m, (w.toLong * m.length / 65).toInt,
        ((w + 1).toLong * m.length / 65).toInt)
    }, 0))

  /** Sign-of-delta fold of the 65 envelope values from `s`: bit b is set
    * when e(s+b+1) > e(s+b).
    */
  private[multimodal] def signBits(e: Array[Double], s: Int): Long = {
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (e(s + b + 1) > e(s + b)) fp |= 1L << b
      b += 1
    }
    fp
  }

  /** Sign-of-delta 64-bit fingerprint of every 65-window shingle of an
    * envelope, capped at `maxShingles`: fp(s) bit b = e(s+b+1) > e(s+b).
    * The shingling is what buys SHIFT tolerance — a copy trimmed/offset by
    * w whole windows reproduces the original's fingerprints at shingle
    * index s − w exactly, so the banded join finds it even though the
    * whole-signal fingerprints ([[WavCodec.audioFingerprint]],
    * [[Mp4Codec.videoFingerprint]]) are disjoint. Tolerance granularity is
    * one window: a sub-window trim re-mixes every window mean. Fan-out is
    * (nWindows − 64) fingerprints per blob, linear in media duration up to
    * the cap — the media-domain analogue of text shingling, and the price
    * of offset tolerance; trims beyond `maxShingles` windows are outside
    * the detection horizon by construction.
    */
  private[multimodal] def envelopeShingles(e: Array[Double],
                                           maxShingles: Int): Seq[(Int, Long)] = {
    val n = math.min(math.max(e.length - 64, 0), maxShingles)
    (0 until n).map(s => (s, signBits(e, s)))
  }

  /** Shift-tolerant audio near-dup pairs: fixed-size loudness windows
    * ([[WavCodec.audioEnvelopeFixed]]), one fingerprint per 65-window
    * shingle ([[envelopeShingles]]), then the pigeonhole-banded Hamming
    * join over ALL (blob, shingle) rows. A pair matches when ANY shingle
    * alignment lands within `maxHamming` — which is exactly what a
    * window-aligned trimmed/offset copy produces and what the
    * whole-signal [[audioDupPairs]] cannot see. Output: (id_a, id_b,
    * hamming, offset_windows) with the lexicographically minimal
    * (hamming, offset, shingle) witness per pair; offset_windows > 0
    * means id_b's content starts offset_windows windows EARLIER (id_b is
    * the trimmed copy). The same rows as [[audioDupPairsShiftedOverlap]]
    * with hopFrames = windowFrames, under the witness name offset_windows.
    */
  def audioDupPairsShifted(df: DataFrame, idCol: String, mediaCol: String,
                           maxHamming: Int = 3, windowFrames: Int = 256,
                           maxShingles: Int = 256): DataFrame =
    shingledPairs(df, idCol, mediaCol, maxHamming, maxShingles, "offset_windows")(
      WavCodec.audioEnvelopeOverlap(_, windowFrames, windowFrames))

  /** Shift-tolerant video near-dup pairs — [[audioDupPairsShifted]]'s
    * convention over the mdat byte stream ([[Mp4Codec
    * .videoEnvelopeFixed]] windows). Same output contract.
    */
  def videoDupPairsShifted(df: DataFrame, idCol: String, mediaCol: String,
                           maxHamming: Int = 3, windowBytes: Int = 256,
                           maxShingles: Int = 256): DataFrame =
    shingledPairs(df, idCol, mediaCol, maxHamming, maxShingles, "offset_windows")(
      Mp4Codec.videoEnvelopeOverlap(_, windowBytes, windowBytes))

  /** SUB-window shift-tolerant audio near-dup pairs: the
    * [[audioDupPairsShifted]] pipeline over OVERLAPPING envelope windows
    * ([[WavCodec.audioEnvelopeOverlap]], hop < window). The
    * non-overlapping grid only survives trims that are a whole number of
    * windows — an offset of half a window re-phases every window boundary
    * and scrambles all fingerprints (ShiftedOverlapSpec holds that
    * negative control). With hop = windowFrames/h, any trim that is a
    * multiple of hopFrames shifts the envelope by whole positions and the
    * shingled fingerprints realign; tolerance granularity drops from
    * windowFrames to hopFrames at an h× row fan-out (rows, not key width
    * — the same linear price the shingling itself pays). Output matches
    * [[audioDupPairsShifted]] except the witness offset is in HOPS
    * (`offset_hops`): offset_hops > 0 means id_b's content starts
    * offset_hops · hopFrames frames into id_a's.
    */
  def audioDupPairsShiftedOverlap(df: DataFrame, idCol: String,
                                  mediaCol: String, maxHamming: Int = 3,
                                  windowFrames: Int = 256,
                                  hopFrames: Int = 64,
                                  maxShingles: Int = 256): DataFrame =
    shingledPairs(df, idCol, mediaCol, maxHamming, maxShingles, "offset_hops")(
      WavCodec.audioEnvelopeOverlap(_, windowFrames, hopFrames))

  /** SUB-window shift-tolerant video near-dup pairs —
    * [[audioDupPairsShiftedOverlap]]'s convention over the mdat byte
    * stream ([[Mp4Codec.videoEnvelopeOverlap]] windows). Same output
    * contract (`offset_hops` witness in hops of hopBytes bytes).
    */
  def videoDupPairsShiftedOverlap(df: DataFrame, idCol: String,
                                  mediaCol: String, maxHamming: Int = 3,
                                  windowBytes: Int = 256,
                                  hopBytes: Int = 64,
                                  maxShingles: Int = 256): DataFrame =
    shingledPairs(df, idCol, mediaCol, maxHamming, maxShingles, "offset_hops")(
      Mp4Codec.videoEnvelopeOverlap(_, windowBytes, hopBytes))

  /** Content-defined chunking parameters shared by the Scala pipeline and
    * the SQL oracle replays. Cut predicate: position i is a boundary when
    * the degree-3 polynomial hash of magnitudes [i-3, i] over base
    * [[CdcCutBase]] is ≡ 0 (mod [[CdcCutMod]]) — a pure per-position
    * predicate (no min/max segment clamps), so the whole chain is
    * closed-form SQL-expressible; a production variant would add FastCDC
    * min/max bounds in the same per-partition scan. Segment fingerprint:
    * positional polynomial over base [[CdcFpBase]] mod [[CdcFpMod]]
    * (prime; terms < 32768 · CdcFpMod keep every partial sum well inside
    * Int64 in both engines).
    */
  val CdcCutBase = 31L
  val CdcCutMod = 8L
  val CdcFpBase = 37L
  val CdcFpMod = 2000003L

  /** CONTENT-DEFINED segments of a magnitude sequence: (startPos, len,
    * fp) per interior segment. Boundaries sit where the rolling cut
    * predicate fires — positions defined by the CONTENT, so they move
    * WITH the content: a copy trimmed by ANY amount reproduces every
    * interior boundary (once the 4-value hash window clears the cut
    * point) and therefore every interior segment verbatim. That removes
    * the tolerance-granularity-vs-fan-out trade the overlap tier pays
    * ([[audioDupPairsShiftedOverlap]]: granularity hopFrames at a
    * (window/hop)× row fan-out): CDC gives exact-offset tolerance at ~1
    * row per [[CdcCutMod]] input positions. The head and tail segments
    * are dropped (blob edges truncate them, so a trim changes them); a
    * segment's fp is position-independent (indexed from its own start),
    * which is exactly the trim invariance. The rsync/FastCDC idea
    * applied to the media-dedup candidate key.
    */
  private[multimodal] def cdcSegments(m: Array[Int]): Seq[(Int, Int, Long)] = {
    if (m.length < 5) return Seq.empty
    val cuts = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 3
    while (i < m.length) {
      val h = (m(i - 3) * CdcCutBase * CdcCutBase * CdcCutBase +
        m(i - 2) * CdcCutBase * CdcCutBase +
        m(i - 1) * CdcCutBase + m(i)) % CdcCutMod
      if (h == 0) cuts += i
      i += 1
    }
    (0 until cuts.length - 1).map { k =>
      val start = cuts(k) + 1
      val end = cuts(k + 1) // inclusive
      var fp = 0L
      var pw = 1L
      var j = start
      while (j <= end) {
        fp = (fp + m(j) * pw) % CdcFpMod
        pw = pw * CdcFpBase % CdcFpMod
        j += 1
      }
      (start, end - start + 1, fp)
    }
  }

  /** The content-defined near-dup tier, one body for audio and video:
    * `magnitudes` reads each blob, [[cdcSegments]] chunks it, and the pair
    * reduction is an equi-join on (fp, len) — an exact-key join, no
    * banding — with a document-frequency cap dropping segments shared by
    * more than `maxDf` blobs (boilerplate/silence guard, the
    * substring-dedup df-cap precedent: a hot segment key would otherwise
    * fan out quadratically). A pair reports when it shares at least
    * `minShared` DISTINCT segments; the witness is the minimal (pos_a −
    * pos_b, pos_a) — for a pure trim every shared segment agrees on pos_a
    * − pos_b, and that common delta IS the trim in input positions.
    * Segments shorter than `minLen` are excluded from the match key
    * entirely: a 1-2 value segment carries almost no content entropy (over
    * a byte alphabet there are only 256 distinct length-1 segments), so
    * tiny segments collide by chance and would both fabricate pairs and
    * steal the offset witness from real ones.
    */
  private def cdcPairs(df: DataFrame, idCol: String, mediaCol: String,
                       minShared: Int, maxDf: Int, minLen: Int)(
      magnitudes: Array[Byte] => Option[Array[Int]]): DataFrame = {
    val segs0 = blobLoop(df, mediaCol, Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("len", IntegerType, nullable = false),
        StructField("fp", LongType, nullable = false)), Some(idCol)) {
      magnitudes(_).iterator.flatMap(cdcSegments)
        .map { case (p, l, fp) => Seq[Any](p, l, fp) }
    }
    // the segment table feeds the df-cap aggregate AND both self-join
    // sides — materialize once or Catalyst re-runs the decode+chunk scan
    // per consumer (the standing multi-consumer localCheckpoint rule)
    val segs = Materialize(segs0.filter(col("len") >= minLen)).df
    val kept = segs.join(
      segs.groupBy(col("fp"), col("len"))
        .agg(countDistinct(col(idCol)).as("__df"))
        .filter(col("__df") <= maxDf)
        .select(col("fp"), col("len")),
      Seq("fp", "len"))
    kept.select(col(idCol).as("id_a"), col("pos").as("__pa"),
        col("fp"), col("len"))
      .join(kept.select(col(idCol).as("id_b"), col("pos").as("__pb"),
        col("fp"), col("len")), Seq("fp", "len"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("fp"), col("len")).as("shared"),
        min(struct((col("__pa") - col("__pb")).as("__off"),
          col("__pa").as("__wit"))).as("__m"))
      .filter(col("shared") >= minShared)
      .select(col("id_a"), col("id_b"), col("shared"),
        col("__m.__off").as("offset_frames"))
  }

  /** Content-defined audio near-dup pairs: per-frame |sample| magnitudes
    * → [[cdcSegments]] → exact (fp, len) join ([[cdcPairs]]). Catches a
    * copy trimmed by ANY number of frames — no window grid to realign —
    * at ~1 segment row per [[CdcCutMod]] frames, where the overlap tier
    * needs a (window/hop)× fan-out to reach granularity hop
    * (CdcSpec holds the negative control: a 3-frame trim is invisible to
    * [[audioDupPairsShiftedOverlap]] at hop 2 and exact here). Trade
    * documented honestly: CDC keys are EXACT content hashes, so
    * amplitude-perturbed near-copies that the Hamming tiers tolerate do
    * NOT match — this tier is for trim/offset/splice variants of
    * byte-identical content, the two tiers compose.
    */
  def audioDupPairsCdc(df: DataFrame, idCol: String, mediaCol: String,
                       minShared: Int = 2, maxDf: Int = 64,
                       minLen: Int = 4): DataFrame =
    cdcPairs(df, idCol, mediaCol, minShared, maxDf, minLen)(WavCodec.audioMagnitudes)

  /** Content-defined video near-dup pairs — [[audioDupPairsCdc]]'s
    * convention over the mdat byte stream (unsigned byte magnitudes).
    */
  def videoDupPairsCdc(df: DataFrame, idCol: String, mediaCol: String,
                       minShared: Int = 2, maxDf: Int = 64,
                       minLen: Int = 4): DataFrame =
    cdcPairs(df, idCol, mediaCol, minShared, maxDf, minLen)(Mp4Codec.videoMagnitudes)

  /** The shingled near-dup tier, one body for audio and video and for both
    * window grids: `envelope` reads each blob's window means, one
    * fingerprint per 65-window shingle ([[envelopeShingles]]), then
    * candidates are (blob, shingle) × (blob, shingle) band collisions,
    * verified by exact bit_count, then reduced per blob pair to the
    * lexicographically minimal (hamming, offset, shingle) witness, named
    * `offsetName`. One shuffle on the band key, one keyed aggregate — the
    * shingle fan-out multiplies ROWS, not plan stages, and buckets stay
    * sparse for the same reason the whole-signal path's do (16-bit bands
    * at the default budget).
    */
  private def shingledPairs(df: DataFrame, idCol: String, mediaCol: String,
                            maxHamming: Int, maxShingles: Int, offsetName: String)(
      envelope: Array[Byte] => Option[Array[Double]]): DataFrame = {
    val shingled = blobLoop(df, mediaCol, Seq(
        StructField("s", IntegerType, nullable = false),
        StructField("fp", LongType, nullable = false)), Some(idCol)) {
      envelope(_).iterator.flatMap(envelopeShingles(_, maxShingles))
        .map { case (s, fp) => Seq[Any](s, fp) }
    }
    val bands = explode(hammingBands(col("fp"), maxHamming))
    val banded = shingled
      .select(col(idCol), col("s"), col("fp"), bands.as("__bb"))
      .select(col(idCol), col("s"), col("fp"),
        col("__bb.band").as("band"), col("__bb.bits").as("bits"))
    banded.select(col(idCol).as("id_a"), col("s").as("__sa"),
        col("fp").as("__fa"), col("band"), col("bits"))
      // sort-merge deliberately (r16 A/B, guide §3.1): a shuffle_hash hint
      // was measured SLOWER here — band keys are massively duplicated
      // (that is what banding means), and SMJ streams duplicate-key
      // groups where SHJ buffers them in per-bucket chains
      .join(banded.select(col(idCol).as("id_b"), col("s").as("__sb"),
        col("fp").as("__fb"), col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"),
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // no distinct before the min-agg (r16): an alignment colliding in
      // several bands duplicates its candidate row, but min(struct) is
      // idempotent to duplicates — the distinct was a FULL extra exchange
      // of the candidate table (the tier's one super-linear intermediate,
      // SCALE.md r16 probe rows), and dropping it lets the pair min
      // partial-aggregate map-side before anything shuffles
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(struct(col("hamming"),
        (col("__sa") - col("__sb")).as("__off"),
        col("__sa").as("__wit"))).as("__m"))
      .select(col("id_a"), col("id_b"), col("__m.hamming").as("hamming"),
        col("__m.__off").as(offsetName))
  }

  /** Parse video metadata from each media blob with the REAL ISO-BMFF box
    * parser ([[Mp4Codec.decode]]) in the [[codecLoop]]; non-MP4 and null
    * blobs yield null metadata so a mixed-media scan never throws.
    * Header-only: sample payloads are never decoded.
    */
  def decodeVideoMeta(df: DataFrame, mediaCol: String): DataFrame =
    blobLoop(df, mediaCol, videoMetaSchema.fields.toSeq, fill = true)(
      Mp4Codec.decode(_).map(v => Seq(v.format, v.majorBrand, v.nTracks.toLong,
        v.timescale, v.durationUnits, v.durationMs, v.mdatBytes, v.nBytes)).iterator)

  /** Frame-sample a "video" blob: split the payload into `n` evenly spaced fixed-size
    * frames, one output row each — the explode shape a video pipeline needs.
    * An empty or null blob gives no rows.
    */
  def frameSample(df: DataFrame, mediaCol: String, n: Int,
                  frameBytes: Int = 32): DataFrame =
    blobLoop(df, mediaCol, Seq(
        StructField("frame_idx", IntegerType, nullable = false),
        StructField("frame", BinaryType, nullable = false))) { bytes =>
      if (bytes.isEmpty) Iterator.empty
      else (0 until n).iterator.map { i =>
        val start = (bytes.length.toLong * i / n).toInt
        Seq(i, bytes.slice(start, math.min(start + frameBytes, bytes.length)))
      }
    }

  private val imageMetaSchema = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("bit_depth", LongType, nullable = true),
    StructField("n_channels", LongType, nullable = true),
    StructField("n_bytes", LongType, nullable = true)))

  /** Synthesize a real PNG or JPEG blob per row from parameter columns —
    * the image counterpart of [[synthWavMedia]]: genuine signatures,
    * CRC-correct IHDR / walkable marker structure
    * ([[ImageHeaderCodec.encodePng]]/[[ImageHeaderCodec.encodeJpeg]]) whose
    * parse-back is oracle-checkable against the source columns. `fmtCol`
    * selects "png" or "jpeg"; `depthCol` is the PNG bit depth (JPEG is
    * always 8-bit baseline); `ctOrNcCol` is the PNG color type / JPEG
    * component count; `payloadCol` sizes the opaque payload.
    */
  def synthImageMedia(df: DataFrame, fmtCol: String, wCol: String,
                      hCol: String, depthCol: String, ctOrNcCol: String,
                      payloadCol: String, mediaCol: String = "media"): DataFrame =
    codecLoop(df, Seq(fmtCol, wCol, hCol, depthCol, ctOrNcCol, payloadCol),
        blobField(mediaCol)) { () => in =>
      Iterator.single(Seq(
        if (in.getString(0) == "png")
          ImageHeaderCodec.encodePng(in.getInt(1), in.getInt(2), in.getInt(3),
            in.getInt(4), in.getInt(5))
        else
          ImageHeaderCodec.encodeJpeg(in.getInt(1), in.getInt(2), in.getInt(4),
            in.getInt(5))))
    }

  /** Render a REAL decodable grayscale PNG per row from `pixelsCol`
    * (array<int> of length w·h, row-major luma values 0-255) — the
    * full-pixel counterpart of [[synthImageMedia]]'s header-only blobs,
    * for operators that DECODE pixels (dHash, luma histograms). Because
    * the pixel values arrive as a Catalyst-expressible column and PNG is
    * lossless, anything computed from the decoded pixels has a closed
    * form over the same expressions — which is what makes the perceptual
    * near-dup query oracle-checkable. Per-partition batch encode via
    * `javax.imageio`, same shape as the other synth generators.
    */
  def synthPixelPng(df: DataFrame, pixelsCol: String, w: Int, h: Int,
                    mediaCol: String = "media"): DataFrame = {
    require(w >= 1 && h >= 1, "need positive dimensions")
    codecLoop(df, Seq(pixelsCol), blobField(mediaCol)) { () =>
      // memory-backed ImageOutputStreams — otherwise every PNG encode
      // spools through a temp FILE (see the ImageIoCodec note); idempotent,
      // set here because this closure can run before ImageIoCodec loads
      javax.imageio.ImageIO.setUseCache(false)
      in => {
        val pix = in.getSeq[Int](0)
        require(pix.length == w * h,
          s"pixels length ${pix.length} != $w*$h")
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = pix(y * w + x) & 0xff
            img.setRGB(x, y, (v << 16) | (v << 8) | v)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Iterator.single(Seq(bos.toByteArray))
      }
    }
  }

  /** Parse image metadata from each media blob with the REAL header-only
    * PNG/JPEG parser ([[ImageHeaderCodec.decode]]) in the [[codecLoop]];
    * blobs that are neither, and null blobs, yield null metadata so a
    * mixed-media scan never throws. This replaces the `javax.imageio`
    * reader-dispatch path for metadata sweeps: no stream, no plugin
    * lookup, one pass over the leading bytes.
    */
  def decodeImageMeta(df: DataFrame, mediaCol: String): DataFrame =
    blobLoop(df, mediaCol, imageMetaSchema.fields.toSeq, fill = true)(
      ImageHeaderCodec.decode(_).map(m => Seq(m.format, m.width.toLong,
        m.height.toLong, m.bitDepth.toLong, m.nChannels.toLong, m.nBytes)).iterator)
}

final case class MediaMeta(format: String, width: Int, height: Int, nBytes: Long)

/** The codec seam: one blob in, typed metadata out. Implementations must be
  * serializable (shipped inside the mapPartitions closure) and thread-safe per
  * instance OR cheap to construct per partition.
  */
trait MediaCodec extends Serializable {
  def decode(bytes: Array[Byte]): MediaMeta
}

/** REAL image decoder on the JDK's built-in `javax.imageio` readers (PNG, JPEG,
  * GIF, BMP, WBMP — no external dependency). Reads ONLY the header: an
  * `ImageReader` over a memory-backed stream answers `getWidth/getHeight/
  * getFormatName` from metadata without decoding pixel data — the right shape
  * for a 100 TB metadata sweep where full decode would be ~1000× the IO.
  * Blobs no reader claims (audio, video, corrupt) fall back to [[FakeCodec]]
  * semantics with format "unknown" so a mixed-media scan never throws.
  */
object ImageIoCodec extends MediaCodec {
  // ImageIO's default Image{Input,Output}Stream cache is DISK-backed: every
  // ImageIO.read / createImageInputStream call first spools the source to a
  // temp FILE (FileCacheImageInputStream) before parsing — for thousands of
  // already-in-memory blobs per query that is thousands of temp-file
  // create/write/delete cycles per run, and their filesystem jitter is a
  // measured source of run-to-run bimodality (r17). Everything here decodes
  // from byte arrays, so cache in memory. JVM-global, values unaffected.
  javax.imageio.ImageIO.setUseCache(false)

  override def decode(bytes: Array[Byte]): MediaMeta = {
    val in = new java.io.ByteArrayInputStream(bytes)
    val iis = javax.imageio.ImageIO.createImageInputStream(in)
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (readers.hasNext) {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          MediaMeta(r.getFormatName.toLowerCase, r.getWidth(0), r.getHeight(0),
            bytes.length.toLong)
        } finally r.dispose()
      } else MediaMeta("unknown", 0, 0, bytes.length.toLong)
    } finally if (iis != null) iis.close()
  }

  /** Perceptual difference-hash (dHash): decode, average-pool the luma plane
    * to a (size+1)×size grid, emit one bit per horizontal neighbor pair
    * (left > right). Near-duplicate images (recompression, mild resize/crop,
    * brightness shifts) land within a few bits of hamming distance — the
    * standard cheap screen for image-level training-data dedup. None for
    * undecodable blobs.
    */
  def dHash(bytes: Array[Byte], size: Int = 8): Option[Long] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null || img.getWidth == 0 || img.getHeight == 0) None
    else {
      val w = size + 1; val h = size
      val cell = Array.ofDim[Long](h, w)
      val cnt = Array.ofDim[Long](h, w)
      var y = 0
      while (y < img.getHeight) {
        val gy = math.min(h - 1, (y.toLong * h / img.getHeight).toInt)
        var x = 0
        while (x < img.getWidth) {
          val gx = math.min(w - 1, (x.toLong * w / img.getWidth).toInt)
          val rgb = img.getRGB(x, y)
          val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff)) / 1000
          cell(gy)(gx) += luma; cnt(gy)(gx) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L; var bit = 0
      var gy = 0
      while (gy < h) {
        var gx = 0
        while (gx < w - 1) {
          val a = if (cnt(gy)(gx) == 0) 0.0 else cell(gy)(gx).toDouble / cnt(gy)(gx)
          val b = if (cnt(gy)(gx + 1) == 0) 0.0
            else cell(gy)(gx + 1).toDouble / cnt(gy)(gx + 1)
          if (a > b) hash |= (1L << bit)
          bit += 1; gx += 1
        }
        gy += 1
      }
      Some(hash)
    }
  }

  /** Full-decode feature extraction: normalized 256-bin luminance histogram of
    * the decoded pixels (the classic cheap image fingerprint). Null for
    * undecodable blobs.
    */
  def lumaHistogram(bytes: Array[Byte], bins: Int = 16): Option[Array[Double]] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    if (img == null) None
    else {
      val hist = new Array[Double](bins)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          // ITU-R BT.601 integer luma
          val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
            114 * (rgb & 0xff)) / 1000
          hist((luma * bins) / 256) += 1.0
          x += 1
        }
        y += 1
      }
      val n = (img.getWidth.toLong * img.getHeight).toDouble
      Some(hist.map(_ / n))
    }
  }
}

final case class AudioMeta(format: String, sampleRate: Int, channels: Int,
                           bitsPerSample: Int, nFrames: Long, durationMs: Long,
                           nBytes: Long)

/** REAL audio container parser — the second real codec next to [[ImageIoCodec]],
  * pure JVM with zero dependencies: walks the RIFF chunk list of a WAVE file
  * (canonical little-endian layout, even-byte chunk padding, unknown chunks
  * like LIST/INFO skipped), reads the `fmt ` block's rate/channels/width and
  * the `data` chunk's size, and derives frame count and duration. Header-only —
  * sample data is never read. Returns None for anything that isn't a
  * well-formed PCM WAVE so mixed-media scans degrade gracefully.
  */
object WavCodec extends Serializable {
  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def putLe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putLe32(b: Array[Byte], o: Int, v: Long): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
    b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
  }
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  def decode(bytes: Array[Byte]): Option[AudioMeta] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var off = 12
    var sampleRate = 0; var channels = 0; var bits = 0; var blockAlign = 0
    var dataSize = -1L
    while (off + 8 <= bytes.length && (dataSize < 0 || sampleRate == 0)) {
      val id = tag(bytes, off)
      val size = le32(bytes, off + 4)
      // a chunk must fit in the bytes REMAINING after its header, not just
      // the total buffer — a truncated data chunk is corrupt, not shorter
      if (off + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16 && off + 24 <= bytes.length) {
        channels = le16(bytes, off + 10)
        sampleRate = le32(bytes, off + 12).toInt
        blockAlign = le16(bytes, off + 20)
        bits = le16(bytes, off + 22)
      } else if (id == "data") {
        dataSize = size
      }
      off += 8 + size.toInt + (size.toInt & 1) // RIFF chunks pad to even length
    }
    if (sampleRate <= 0 || channels <= 0 || blockAlign <= 0 || dataSize < 0) None
    else {
      val nFrames = dataSize / blockAlign
      Some(AudioMeta("wav", sampleRate, channels, bits, nFrames,
        nFrames * 1000L / sampleRate, bytes.length.toLong))
    }
  }

  /** Emit a canonical 44-byte-header PCM WAVE blob with `nFrames` frames of
    * deterministic payload — the generator whose parse-back [[decode]] the
    * oracle checks, and a valid file any external WAV reader accepts.
    */
  def encode(sampleRate: Int, channels: Int, bitsPerSample: Int,
             nFrames: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nFrames >= 0 &&
      bitsPerSample % 8 == 0 && bitsPerSample > 0,
      s"bad wav params sr=$sampleRate ch=$channels bits=$bitsPerSample n=$nFrames")
    val blockAlign = channels * bitsPerSample / 8
    val dataSize = nFrames.toLong * blockAlign
    require(44L + dataSize <= Int.MaxValue,
      s"wav payload too large for one buffer: $nFrames frames x " +
        s"$blockAlign bytes/frame = $dataSize bytes")
    val out = new Array[Byte](44 + dataSize.toInt)
    "RIFF".getBytes("US-ASCII").copyToArray(out, 0)
    putLe32(out, 4, 36L + dataSize)
    "WAVE".getBytes("US-ASCII").copyToArray(out, 8)
    "fmt ".getBytes("US-ASCII").copyToArray(out, 12)
    putLe32(out, 16, 16L)                       // PCM fmt block length
    putLe16(out, 20, 1)                         // audio format = PCM
    putLe16(out, 22, channels)
    putLe32(out, 24, sampleRate.toLong)
    putLe32(out, 28, sampleRate.toLong * blockAlign) // byte rate
    putLe16(out, 32, blockAlign)
    putLe16(out, 34, bitsPerSample)
    "data".getBytes("US-ASCII").copyToArray(out, 36)
    putLe32(out, 40, dataSize)
    var i = 0
    while (i < dataSize) { out(44 + i) = ((i * 31 + 7) & 0xff).toByte; i += 1 }
    out
  }

  /** Emit a canonical mono 16-bit PCM WAVE blob carrying the GIVEN sample
    * values — the audio counterpart of [[ImageIoCodec]]'s synthetic-pixel
    * PNG: because the payload is caller-controlled, a generator can derive
    * samples from closed-form expressions and an oracle can recompute the
    * downstream fingerprint without parsing bytes.
    */
  def encodePcm(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val out = encode(sampleRate, channels = 1, bitsPerSample = 16,
      nFrames = samples.length)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      require(v >= Short.MinValue && v <= Short.MaxValue, s"sample $v")
      out(44 + 2 * i) = (v & 0xff).toByte
      out(44 + 2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** (dataOff, blockAlign, nFrames) of a parseable 16-bit PCM WAV — the
    * one chunk walk behind [[audioMagnitudes]]. None for anything that
    * isn't 16-bit PCM, including a frame narrower than one 16-bit sample
    * (blockAlign < 2), whose last sample would read past the data chunk.
    */
  private def pcm16Info(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE")
      return None
    var off = 12
    var channels = 0; var bits = 0; var blockAlign = 0
    var dataOff = -1; var dataSize = -1L
    while (off + 8 <= bytes.length && (dataSize < 0 || channels == 0)) {
      val id = tag(bytes, off)
      val size = le32(bytes, off + 4)
      if (off + 8 + size > bytes.length) return None
      if (id == "fmt " && size >= 16 && off + 24 <= bytes.length) {
        channels = le16(bytes, off + 10)
        blockAlign = le16(bytes, off + 20)
        bits = le16(bytes, off + 22)
      } else if (id == "data") { dataOff = off + 8; dataSize = size }
      off += 8 + size.toInt + (size.toInt & 1)
    }
    if (channels <= 0 || bits != 16 || blockAlign < 2 || dataOff < 0) None
    else Some((dataOff, blockAlign, (dataSize / blockAlign).toInt))
  }

  /** First-channel |sample| per frame of a 16-bit PCM WAV — the audio
    * magnitude sequence of the envelope kernel ([[Multimodal.windowMeans]],
    * [[Multimodal.fingerprint65]]) and of [[Multimodal.cdcSegments]]; None
    * for anything that isn't 16-bit PCM.
    */
  def audioMagnitudes(bytes: Array[Byte]): Option[Array[Int]] =
    pcm16Info(bytes).map { case (dataOff, blockAlign, n) =>
      Array.tabulate(n) { f =>
        val o = dataOff + f * blockAlign
        math.abs(((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toInt)
      }
    }

  /** First-channel mean-|sample| per FIXED-SIZE window of `windowFrames`
    * frames, full windows only (the tail partial window is dropped).
    * Unlike [[audioFingerprint]]'s 65 length-normalized windows, this
    * binning is length-INDEPENDENT — two blobs' windows describe the same
    * wall-clock span regardless of their durations, which is what makes
    * the shingled fingerprints ([[Multimodal.envelopeShingles]])
    * comparable across a trimmed/offset copy and its original.
    */
  def audioEnvelopeFixed(bytes: Array[Byte],
                         windowFrames: Int): Option[Array[Double]] = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    audioMagnitudes(bytes).flatMap(Multimodal.windowMeans(_, windowFrames, windowFrames))
  }

  /** [[audioEnvelopeFixed]] with OVERLAPPING windows: window w covers
    * frames [w·hopFrames, w·hopFrames + windowFrames), full windows only.
    * Overlap is what buys SUB-window shift tolerance downstream
    * ([[Multimodal.audioDupPairsShiftedOverlap]]): a copy trimmed by any
    * multiple of hopFrames frames reproduces the original's envelope
    * shifted by whole positions, so the shingled fingerprints realign —
    * the non-overlapping grid (hop = window) only survives whole-WINDOW
    * trims. Tolerance granularity = hopFrames at a (windowFrames /
    * hopFrames)× row fan-out; hop = window degenerates to the fixed grid.
    */
  def audioEnvelopeOverlap(bytes: Array[Byte], windowFrames: Int,
                           hopFrames: Int): Option[Array[Double]] = {
    require(windowFrames >= 1, s"windowFrames must be >= 1, got $windowFrames")
    require(hopFrames >= 1 && hopFrames <= windowFrames,
      s"need 1 <= hopFrames <= windowFrames, got $hopFrames")
    audioMagnitudes(bytes).flatMap(Multimodal.windowMeans(_, windowFrames, hopFrames))
  }

  /** 64-bit perceptual audio fingerprint: split the first channel's frames
    * into 65 equal windows, take each window's mean |amplitude|, and set
    * bit w iff window w+1 is strictly louder than window w — the
    * sign-of-delta convention of the dHash gradient bit, over the loudness
    * envelope instead of the luma row. Robust to gain-preserving edits
    * that keep the envelope shape; a localized edit flips only the
    * neighboring envelope bits, which is what lets a Hamming-banded join
    * find perturbed re-encodes. None for anything that is not 16-bit PCM
    * with ≥ 65 frames (too short to carry the envelope).
    */
  def audioFingerprint(bytes: Array[Byte]): Option[Long] =
    audioMagnitudes(bytes).flatMap(Multimodal.fingerprint65)
}

final case class VideoMeta(format: String, majorBrand: String, nTracks: Int,
                           timescale: Long, durationUnits: Long,
                           durationMs: Long, mdatBytes: Long, nBytes: Long)

/** REAL video container parser — the third real codec behind the seam, after
  * [[ImageIoCodec]] and [[WavCodec]]: walks the top-level ISO-BMFF box list
  * of an MP4 file (ISO/IEC 14496-12 — big-endian 32-bit size + fourcc,
  * `size==1` → 64-bit largesize follows, `size==0` → box extends to EOF),
  * reads `ftyp`'s major brand, `moov`→`mvhd`'s timescale/duration (version
  * 0 and 1 layouts), counts `trak` children, and sums `mdat` payload bytes.
  * Header-only: sample data is never decoded — the right cost for a 100 TB
  * metadata sweep. Returns None for anything that is not a well-formed MP4
  * so mixed-media scans degrade gracefully; unknown boxes (`free`, `skip`,
  * `udta`, …) are skipped by size exactly as the spec requires.
  */
object Mp4Codec extends Serializable {
  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
  private def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o) << 32) | be32(b, o + 4)
  private def putBe32(b: Array[Byte], o: Int, v: Long): Unit = {
    b(o) = ((v >> 24) & 0xff).toByte; b(o + 1) = ((v >> 16) & 0xff).toByte
    b(o + 2) = ((v >> 8) & 0xff).toByte; b(o + 3) = (v & 0xff).toByte
  }
  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** (boxType, payloadStart, payloadEnd, boxEnd) for the box at `off`, or
    * None if the header or declared size does not fit in [off, limit).
    */
  private def boxAt(bytes: Array[Byte], off: Int,
                    limit: Int): Option[(String, Int, Int, Int)] = {
    if (off + 8 > limit) return None
    val size32 = be32(bytes, off)
    val tp = tag(bytes, off + 4)
    if (size32 == 0L) { // box runs to the end of the enclosing scope
      Some((tp, off + 8, limit, limit))
    } else if (size32 == 1L) { // 64-bit largesize follows the fourcc
      if (off + 16 > limit) return None
      val size = be64(bytes, off + 8)
      if (size < 16 || off + size > limit) None
      else Some((tp, off + 16, off + size.toInt, off + size.toInt))
    } else {
      if (size32 < 8 || off + size32 > limit) None
      else Some((tp, off + 8, off + size32.toInt, off + size32.toInt))
    }
  }

  def decode(bytes: Array[Byte]): Option[VideoMeta] = {
    // an MP4 must LEAD with ftyp (14496-12 §4.3: "shall be placed as early
    // as possible"); we require it first, which also rejects non-MP4 blobs
    val ftyp = boxAt(bytes, 0, bytes.length) match {
      case Some(("ftyp", ps, pe, _)) if pe - ps >= 8 => (ps, pe)
      case _ => return None
    }
    val majorBrand = tag(bytes, ftyp._1)
    var off = boxAt(bytes, 0, bytes.length).get._4
    var timescale = -1L; var duration = -1L
    var nTracks = 0; var mdatBytes = 0L; var sawMoov = false
    while (off < bytes.length) {
      boxAt(bytes, off, bytes.length) match {
        case None => return None // corrupt: declared size overruns buffer
        case Some((tp, ps, pe, end)) =>
          if (tp == "moov") {
            sawMoov = true
            var o = ps
            while (o < pe) {
              boxAt(bytes, o, pe) match {
                case None => return None
                case Some((ctp, cps, _, cend)) =>
                  if (ctp == "mvhd") {
                    if (cps + 4 > pe) return None
                    val version = bytes(cps) & 0xff
                    if (version == 1) { // 64-bit creation/modification/duration
                      if (cps + 32 > pe) return None
                      timescale = be32(bytes, cps + 20)
                      duration = be64(bytes, cps + 24)
                    } else {
                      if (cps + 24 > pe) return None
                      timescale = be32(bytes, cps + 12)
                      duration = be32(bytes, cps + 16)
                    }
                  } else if (ctp == "trak") nTracks += 1
                  o = cend
              }
            }
          } else if (tp == "mdat") mdatBytes += (pe - ps).toLong
          off = end
      }
    }
    if (!sawMoov || timescale <= 0 || duration < 0) None
    else Some(VideoMeta("mp4", majorBrand, nTracks, timescale, duration,
      duration * 1000L / timescale, mdatBytes, bytes.length.toLong))
  }

  /** Emit a minimal valid MP4: `ftyp` (major brand + isom/mp41 compatible
    * brands), `moov` holding a version-0 `mvhd` (timescale, duration) and
    * `nTracks` `trak` boxes each with a version-0 `tkhd`, then an `mdat` of
    * `payloadBytes` deterministic bytes. Sizes: ftyp 24, mvhd 108, trak 100
    * (8 + 92-byte tkhd), moov 116 + 100·nTracks, mdat 8 + payload.
    */
  def encode(majorBrand: String, nTracks: Int, timescale: Long,
             durationUnits: Long, payloadBytes: Int): Array[Byte] = {
    require(majorBrand.length == 4, s"brand must be 4 chars: '$majorBrand'")
    require(nTracks >= 0 && timescale > 0 && durationUnits >= 0 &&
      payloadBytes >= 0,
      s"bad mp4 params tracks=$nTracks ts=$timescale dur=$durationUnits " +
        s"payload=$payloadBytes")
    val ftypSize = 24; val mvhdSize = 108; val trakSize = 100
    val moovSize = 8 + mvhdSize + trakSize * nTracks
    val total = ftypSize + moovSize + 8 + payloadBytes
    val out = new Array[Byte](total)
    var o = 0
    def fourcc(s: String, at: Int): Unit =
      s.getBytes("US-ASCII").copyToArray(out, at)
    // ftyp
    putBe32(out, o, ftypSize); fourcc("ftyp", o + 4)
    fourcc(majorBrand, o + 8); putBe32(out, o + 12, 0L) // minor_version
    fourcc("isom", o + 16); fourcc("mp41", o + 20)
    o += ftypSize
    // moov > mvhd
    putBe32(out, o, moovSize); fourcc("moov", o + 4)
    var m = o + 8
    putBe32(out, m, mvhdSize); fourcc("mvhd", m + 4)
    // version/flags 0, creation 0, modification 0 (bytes already zero)
    putBe32(out, m + 20, timescale)
    putBe32(out, m + 24, durationUnits)
    putBe32(out, m + 28, 0x00010000L) // rate 1.0
    out(m + 32) = 0x01; out(m + 33) = 0x00 // volume 1.0
    // unity matrix at +44 (after 10 reserved bytes)
    putBe32(out, m + 44, 0x00010000L)
    putBe32(out, m + 60, 0x00010000L)
    putBe32(out, m + 76, 0x40000000L)
    putBe32(out, m + 104, nTracks + 1L) // next_track_ID
    m += mvhdSize
    var t = 0
    while (t < nTracks) {
      putBe32(out, m, trakSize); fourcc("trak", m + 4)
      putBe32(out, m + 8, trakSize - 8L); fourcc("tkhd", m + 12)
      putBe32(out, m + 16, 0x00000007L) // version 0, flags enabled|in-movie
      putBe32(out, m + 28, t + 1L)      // track_ID
      putBe32(out, m + 36, durationUnits)
      // unity matrix at +56 (layer/alt-group/volume/reserved precede)
      putBe32(out, m + 56, 0x00010000L)
      putBe32(out, m + 72, 0x00010000L)
      putBe32(out, m + 88, 0x40000000L)
      m += trakSize
      t += 1
    }
    o += moovSize
    // mdat with deterministic payload
    putBe32(out, o, 8L + payloadBytes); fourcc("mdat", o + 4)
    var i = 0
    while (i < payloadBytes) {
      out(o + 8 + i) = ((i * 131 + 11) & 0xff).toByte; i += 1
    }
    out
  }

  /** [[encode]] with a CALLER-CONTROLLED mdat payload — the video
    * counterpart of [[WavCodec.encodePcm]]: a generator can derive sample
    * bytes from closed-form expressions so the downstream fingerprint is
    * oracle-checkable without parsing.
    */
  def encodeWithMdat(majorBrand: String, nTracks: Int, timescale: Long,
                     durationUnits: Long, mdat: Array[Byte]): Array[Byte] = {
    val out = encode(majorBrand, nTracks, timescale, durationUnits,
      mdat.length)
    mdat.copyToArray(out, out.length - mdat.length)
    out
  }

  /** The mdat payload bytes of a well-formed MP4 (first mdat box), or None
    * — the same top-level [[boxAt]] walk as [[decode]], never a sample
    * decode. The ISO 14496-12 size escapes are boxAt's: a 64-bit largesize
    * is how real-world >4 GB mdats are written, and a size-0 box runs to
    * the end of the file.
    */
  def mdatPayload(bytes: Array[Byte]): Option[Array[Byte]] = {
    var off = 0
    while (off < bytes.length) boxAt(bytes, off, bytes.length) match {
      case Some(("mdat", ps, pe, _)) => return Some(bytes.slice(ps, pe))
      case Some((_, _, _, end)) => off = end
      case None => return None
    }
    None
  }

  /** The unsigned mdat bytes — the video magnitude sequence of the
    * envelope kernel ([[Multimodal.windowMeans]],
    * [[Multimodal.fingerprint65]]) and of [[Multimodal.cdcSegments]].
    */
  private[multimodal] def videoMagnitudes(bytes: Array[Byte]): Option[Array[Int]] =
    mdatPayload(bytes).map(_.map(_ & 0xff))

  /** Mean unsigned mdat byte per FIXED-SIZE window of `windowBytes`, full
    * windows only — the video counterpart of [[WavCodec
    * .audioEnvelopeFixed]]: length-independent binning so shingled
    * fingerprints stay comparable across a trimmed copy and its original.
    */
  def videoEnvelopeFixed(bytes: Array[Byte],
                         windowBytes: Int): Option[Array[Double]] = {
    require(windowBytes >= 1, s"windowBytes must be >= 1, got $windowBytes")
    videoMagnitudes(bytes).flatMap(Multimodal.windowMeans(_, windowBytes, windowBytes))
  }

  /** [[videoEnvelopeFixed]] with OVERLAPPING windows — the video
    * counterpart of [[WavCodec.audioEnvelopeOverlap]]: window w covers
    * mdat bytes [w·hopBytes, w·hopBytes + windowBytes), full windows
    * only. Sub-window trim tolerance at granularity hopBytes.
    */
  def videoEnvelopeOverlap(bytes: Array[Byte], windowBytes: Int,
                           hopBytes: Int): Option[Array[Double]] = {
    require(windowBytes >= 1, s"windowBytes must be >= 1, got $windowBytes")
    require(hopBytes >= 1 && hopBytes <= windowBytes,
      s"need 1 <= hopBytes <= windowBytes, got $hopBytes")
    videoMagnitudes(bytes).flatMap(Multimodal.windowMeans(_, windowBytes, hopBytes))
  }

  /** 64-bit perceptual video fingerprint — the [[WavCodec
    * .audioFingerprint]] convention over the mdat sample stream: 65 equal
    * windows, mean unsigned byte value per window, bit w = window w+1 >
    * window w. On a real corpus the windows would hold decoded frame
    * luma; over the synthetic containers they hold the deterministic
    * sample bytes — the banding/verify pipeline downstream is identical
    * either way. None when there is no mdat or it is shorter than 65
    * bytes.
    */
  def videoFingerprint(bytes: Array[Byte]): Option[Long] =
    videoMagnitudes(bytes).flatMap(Multimodal.fingerprint65)
}

/** Deterministic stand-in codec: derives metadata from the bytes alone. Kept as
  * the default for the synthetic corpus (whose media blobs are UTF-8 text, which
  * no image reader claims) and as the oracle-checkable path — DuckDB can't run
  * javax.imageio, but it CAN replay this arithmetic.
  */
object FakeCodec extends MediaCodec {
  /** "Decodes" dimensions from the byte content deterministically. */
  override def decode(bytes: Array[Byte]): MediaMeta = {
    var h = 1125899906842597L
    bytes.take(64).foreach(b => h = 31 * h + (b & 0xff))
    val w = 1 + (math.abs(h) % 1024).toInt
    val ht = 1 + (math.abs(h / 1024) % 1024).toInt
    val fmt = if (bytes.length % 2 == 0) "png" else "jpeg"
    MediaMeta(fmt, w, ht, bytes.length.toLong)
  }
}
