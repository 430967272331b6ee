package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Media over synthesized image, audio and video blobs: real header and
  * container parsers, byte histograms, and perceptual near-duplicate
  * detection (whole-signal, shifted, sub-window and content-defined).
  */
object MediaQueries extends QueryFamily("media") {

  // -------------------------------------------------------------------------
  // Multimodal
  // -------------------------------------------------------------------------

  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal
      .metaExprDF(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  val multimodalMetaSql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  1 + (h & 1023) AS width, 1 + ((h >> 10) & 1023) AS height,
      |  CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
      |FROM (SELECT doc_id, text,
      |      ('0x' || substr(md5(text), 1, 8))::BIGINT AS h FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Byte-histogram features through the REAL per-partition batch path
    * ([[graft.multimodal.Multimodal.featurize]] — the mapPartitions codec loop, not
    * a column expression), exploded to long format. The oracle replays the
    * histogram in SQL: the corpus is ASCII, so each byte is `ascii(substr(...))`
    * and the bin is integer `code*16//256`; absent bins densify to 0 via a
    * generate_series cross join.
    */
  def qMultimodalHist(spark: SparkSession, dir: String): DataFrame = {
    val media = graft.multimodal.Multimodal.withFakeMedia(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), "text")
    graft.multimodal.Multimodal.featurize(media, "media", bins = 16)
      .select(col("doc_id"), posexplode(col("features")))
      .select(col("doc_id"), col("pos").cast("long").as("bin"),
        round(col("col"), 6).as("frac"))
      .orderBy(col("doc_id"), col("bin"))
  }

  val multimodalHistSql: String =
    """WITH ch AS (SELECT doc_id, text,
      |    unnest(generate_series(1, length(text))) AS i FROM documents),
      |agg AS (SELECT doc_id, (ascii(substr(text, i, 1)) * 16) // 256 AS bin,
      |    COUNT(*) AS c FROM ch GROUP BY 1, 2),
      |dn AS (SELECT doc_id, length(text) AS n FROM documents),
      |bins AS (SELECT doc_id, n, b AS bin
      |  FROM dn CROSS JOIN generate_series(0, 15) g(b))
      |SELECT b.doc_id, b.bin, ROUND(COALESCE(a.c, 0) * 1.0 / b.n, 6) AS frac
      |FROM bins b LEFT JOIN agg a ON b.doc_id = a.doc_id AND b.bin = a.bin
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------------
  // Audio metadata: real RIFF/WAVE header parse over synthesized containers
  // --------------------------------------------------------------------------

  /** WAV metadata sweep with the REAL RIFF parser
    * ([[graft.multimodal.WavCodec]]): manufacture a genuine PCM WAVE
    * container per document (rate/channels/frame-count derived from the
    * row), then recover the metadata by PARSING the binary — the oracle
    * recomputes the expected values from the source columns, so a green row
    * proves parse∘encode is the identity on every header field. The codec
    * spec additionally locks the parser against an independent
    * `javax.sound.sampled` fixture.
    */
  def qMultimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val params = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (lit(8000) * (lit(1) + col("doc_id") % 3)).cast("int").as("sr"),
        (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
        (octet_length(encode(col("text"), "UTF-8")) % 500 + 5).cast("int")
          .as("nf"))
    val wav = Multimodal.synthWavMedia(params, "sr", "ch", "nf")
    Multimodal.decodeAudioMeta(wav, "media")
      .select(col("doc_id"), col("format"), col("sample_rate"), col("channels"),
        col("bits_per_sample"), col("n_frames"), col("duration_ms"),
        col("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val multimodalAudioSql: String =
    """WITH p AS (SELECT doc_id,
      |    8000 * (1 + doc_id % 3) AS sr,
      |    1 + doc_id % 2 AS ch,
      |    octet_length(encode(text)) % 500 + 5 AS nf
      |  FROM documents)
      |SELECT doc_id, 'wav' AS format,
      |  CAST(sr AS BIGINT) AS sample_rate,
      |  CAST(ch AS BIGINT) AS channels,
      |  CAST(16 AS BIGINT) AS bits_per_sample,
      |  CAST(nf AS BIGINT) AS n_frames,
      |  (nf * 1000) // sr AS duration_ms,
      |  CAST(44 + nf * ch * 2 AS BIGINT) AS n_bytes
      |FROM p ORDER BY doc_id""".stripMargin

  /** MP4 metadata sweep with the REAL ISO-BMFF box parser
    * ([[graft.multimodal.Mp4Codec]]): manufacture a genuine MP4 container
    * per document (brand/track-count/timescale/duration derived from the
    * row), then recover the metadata by walking the binary box tree — the
    * oracle recomputes every field from the source columns, so a green row
    * proves parse∘encode is the identity on the whole header (including the
    * floor semantics of units→ms). The codec spec additionally locks the
    * parser against a hand-laid fixture with free boxes, a 64-bit largesize
    * mdat and a version-1 mvhd.
    */
  def qMultimodalVideo(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val params = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("isom")).otherwise(lit("mp42"))
          .as("brand"),
        (lit(1) + col("doc_id") % 3).cast("int").as("nt"),
        (lit(600) * (lit(1) + col("doc_id") % 4)).cast("long").as("ts"),
        ((col("doc_id") % 1000) + 30).cast("long").as("du"),
        (octet_length(encode(col("text"), "UTF-8")) % 400).cast("int")
          .as("pb"))
    val mp4 = Multimodal.synthMp4Media(params, "brand", "nt", "ts", "du", "pb")
    Multimodal.decodeVideoMeta(mp4, "media")
      .select(col("doc_id"), col("format"), col("major_brand"),
        col("n_tracks"), col("timescale"), col("duration_units"),
        col("duration_ms"), col("mdat_bytes"), col("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val multimodalVideoSql: String =
    """WITH p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
      |    1 + doc_id % 3 AS nt,
      |    600 * (1 + doc_id % 4) AS ts,
      |    (doc_id % 1000) + 30 AS du,
      |    octet_length(encode(text)) % 400 AS pb
      |  FROM documents)
      |SELECT doc_id, 'mp4' AS format, brand AS major_brand,
      |  CAST(nt AS BIGINT) AS n_tracks, CAST(ts AS BIGINT) AS timescale,
      |  CAST(du AS BIGINT) AS duration_units,
      |  (du * 1000) // ts AS duration_ms,
      |  CAST(pb AS BIGINT) AS mdat_bytes,
      |  CAST(148 + 100 * nt + pb AS BIGINT) AS n_bytes
      |FROM p ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------------
  // Image header metadata sweep
  // --------------------------------------------------------------------------

  /** Image metadata sweep with the REAL header-only PNG/JPEG parser
    * ([[graft.multimodal.ImageHeaderCodec]]): manufacture a genuine image
    * blob per document (format/dimensions/depth/channels derived from the
    * row — CRC-correct PNG IHDR or walkable JPEG marker stream), then
    * recover the metadata by parsing the binary header back. The oracle
    * recomputes every field from the source columns, so a green row proves
    * parse∘encode is the identity on the whole header, including the PNG
    * color-type → channel map and both closed-form byte sizes. The codec
    * spec additionally locks the parser against hand-laid fixtures
    * (fill bytes, restart markers, progressive SOF2, corrupted CRC).
    */
  def qMultimodalImage(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val params = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("png")).otherwise(lit("jpeg"))
          .as("fmt"),
        (lit(1) + col("doc_id") % 1021).cast("int").as("w"),
        (lit(1) + (col("doc_id") * 7) % 997).cast("int").as("h"),
        when(col("doc_id") % 4 === 0, lit(16)).otherwise(lit(8))
          .cast("int").as("bd"),
        // even ids: doc_id % 8 ∈ {0,2,4,6} IS a valid non-palette PNG
        // color type; odd ids: 1..3 JPEG components
        when(col("doc_id") % 2 === 0, (col("doc_id") % 8).cast("int"))
          .otherwise((lit(1) + col("doc_id") % 3).cast("int")).as("cc"),
        (octet_length(encode(col("text"), "UTF-8")) % 300).cast("int")
          .as("pb"))
    val img = Multimodal.synthImageMedia(params, "fmt", "w", "h", "bd", "cc",
      "pb")
    Multimodal.decodeImageMeta(img, "media")
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("bit_depth"), col("n_channels"), col("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val multimodalImageSql: String =
    """WITH p AS (SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
      |    1 + doc_id % 1021 AS w,
      |    1 + (doc_id * 7) % 997 AS h,
      |    CASE WHEN doc_id % 4 = 0 THEN 16 ELSE 8 END AS bd,
      |    doc_id % 8 AS ct,
      |    1 + doc_id % 3 AS nc,
      |    octet_length(encode(text)) % 300 AS pb
      |  FROM documents)
      |SELECT doc_id, fmt AS format,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(CASE WHEN fmt = 'png' THEN bd ELSE 8 END AS BIGINT)
      |    AS bit_depth,
      |  CAST(CASE WHEN fmt = 'png' THEN
      |      CASE ct WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 4 THEN 2
      |        WHEN 6 THEN 4 END
      |    ELSE nc END AS BIGINT) AS n_channels,
      |  CAST(CASE WHEN fmt = 'png' THEN 57 + pb
      |    ELSE 44 + 5 * nc + pb END AS BIGINT) AS n_bytes
      |FROM p ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // Perceptual image near-dup through the banded-LSH path
  // --------------------------------------------------------------------

  private val ImgW = 9

  private val ImgH = 8

  private val ImgMaxHam = 3

  /** Image near-dup pairs: REAL 9×8 grayscale PNGs are rendered from
    * md5-derived per-cell lumas (docs with id ≡ 1 mod 10 reuse the
    * PREVIOUS doc's pattern with one perturbed cell — a planted near-dup,
    * flipping ≤ 2 dHash bits), dHash'd through `javax.imageio` decode,
    * and paired within Hamming ≤ 3 by [[graft.multimodal.Multimodal
    * .perceptualDupPairs]]'s banded equi-join (4 bands × 16 bits;
    * pigeonhole makes the banding EXACT at this budget, never corpus²).
    * The budget was 7 (8 × 8-bit bands) until the r14 sf1.0 probe caught
    * the 256-key bands saturating — ~n/256 images per bucket goes
    * quadratic, the same failure the r13 probe found in the 8-bit simhash
    * bands; 16-bit bands stay sparse into the tens of millions of images,
    * and the planted dups sit at Hamming ≤ 2 so the tightened budget
    * changes no tested output. Because the 9×8 canvas maps one pixel
    * per dHash grid cell and PNG is lossless, the decoded-pixel hash has a
    * closed form over the generator expressions — the oracle computes
    * pairwise Hamming straight from them, so it independently checks the
    * render → decode → hash → band → verify pipeline end to end.
    */
  def qImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    // JVM twin of the documented per-cell generator expression
    // conv(substring(md5(pat || '_' || y || '_' || x), 1, 8), 16, 10) % 256
    // with the (y, x) = (3, 4) perturbation on copies — one mapPartitions
    // pass instead of the 72-element interpreted transform/md5 column
    // (Multimodal.md5Samples; values bit-identical, Md5SamplesSpec +
    // oracle). The r16 q_image_near_dup bimodality (fast ~2.1 s / slow
    // ~6.5 s reps on identical plans) was this expression's C2
    // recompilation; the JVM pass removes it at the root.
    val px = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      ImgW * ImgH, (h, id, i) => {
        val pat = if (id % 10 == 1) id - 1 else id
        val y = i / ImgW
        val x = i % ImgW
        val v = h.hex32(s"${pat}_${y}_$x") % 256
        (if (id % 10 == 1 && y == 3 && x == 4) (v + 60) % 256 else v).toInt
      }, samplesCol = "pixels")
    val img = graft.multimodal.Multimodal.synthPixelPng(px, "pixels",
      ImgW, ImgH)
    graft.multimodal.Multimodal.perceptualDupPairs(img, "doc_id", "media",
        maxHamming = ImgMaxHam)
      .orderBy(col("id_a"), col("id_b"))
  }

  val imageNearDupSql: String =
    s"""WITH px AS (SELECT doc_id, y, x,
       |    CASE WHEN doc_id % 10 = 1 AND y = 3 AND x = 4
       |      THEN (v + 60) % 256 ELSE v END AS v
       |  FROM (SELECT doc_id, i // $ImgW AS y, i % $ImgW AS x,
       |      ('0x' || substr(md5((CASE WHEN doc_id % 10 = 1
       |          THEN doc_id - 1 ELSE doc_id END) || '_' ||
       |          (i // $ImgW) || '_' || (i % $ImgW)), 1, 8))::BIGINT % 256
       |        AS v
       |    FROM (SELECT doc_id FROM documents) CROSS JOIN
       |      (SELECT unnest(generate_series(0, ${ImgW * ImgH - 1})) AS i))),
       |bits AS (SELECT a.doc_id, a.y, a.x, a.v > c.v AS bit
       |  FROM px a JOIN px c ON a.doc_id = c.doc_id AND a.y = c.y
       |    AND c.x = a.x + 1
       |  WHERE a.x < ${ImgW - 1}),
       |ham AS (SELECT p.doc_id AS id_a, q.doc_id AS id_b,
       |    CAST(SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hamming
       |  FROM bits p JOIN bits q ON p.y = q.y AND p.x = q.x
       |    AND p.doc_id < q.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= $ImgMaxHam
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------
  // Perceptual audio near-dup through the banded-Hamming path
  // --------------------------------------------------------------------

  private val AudWindows = 65

  private val AudMaxHam = 3

  /** Audio near-dup pairs: REAL mono 16-bit PCM WAVs are synthesized from
    * md5-derived per-window sample values (docs with id ≡ 1 mod 10 reuse
    * the PREVIOUS doc's waveform with one perturbed window — a planted
    * near-dup flipping at most the two neighboring envelope bits),
    * fingerprinted through the real RIFF parse
    * ([[graft.multimodal.WavCodec.audioFingerprint]]: 65-window loudness
    * envelope, sign-of-delta bits), and paired within Hamming ≤ 3 by the
    * same pigeonhole-banded equi-join as the image tier (4 bands ×
    * 16 bits — exact recall at this budget, never corpus²). One sample
    * per envelope window and non-negative amplitudes give the decoded
    * fingerprint a closed form over the generator expressions, so the
    * oracle checks the encode → parse → fingerprint → band → verify
    * pipeline end to end.
    */
  def qAudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    // JVM twin of the documented generator expression
    // conv(substring(md5(pat || '_' || w), 1, 8), 16, 10) % 32768 with the
    // w = 7 perturbation — one mapPartitions pass instead of the
    // interpreted transform/md5 column (Multimodal.md5Samples; values
    // bit-identical, Md5SamplesSpec + oracle)
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      AudWindows, (h, id, w) => {
        val pat = if (id % 10 == 1) id - 1 else id
        val v = h.hex32(s"${pat}_$w") % 32768
        (if (id % 10 == 1 && w == 7) (v + 9000) % 32768 else v).toInt
      })
    val wav = graft.multimodal.Multimodal.synthPcmWav(sm, "samples",
      sampleRate = 16000)
    graft.multimodal.Multimodal.audioDupPairs(wav, "doc_id", "media",
        maxHamming = AudMaxHam)
      .orderBy(col("id_a"), col("id_b"))
  }

  val audioNearDupSql: String =
    s"""WITH v0 AS (SELECT doc_id, w,
       |    ('0x' || substr(md5((CASE WHEN doc_id % 10 = 1
       |        THEN doc_id - 1 ELSE doc_id END) || '_' || w), 1,
       |      8))::BIGINT % 32768 AS v0
       |  FROM (SELECT doc_id FROM documents) CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${AudWindows - 1})) AS w)),
       |v AS (SELECT doc_id, w, CASE WHEN doc_id % 10 = 1 AND w = 7
       |    THEN (v0 + 9000) % 32768 ELSE v0 END AS v FROM v0),
       |bits AS (SELECT a.doc_id, a.w AS b, n.v > a.v AS bit
       |  FROM v a JOIN v n ON a.doc_id = n.doc_id AND n.w = a.w + 1
       |  WHERE a.w < ${AudWindows - 1}),
       |ham AS (SELECT p.doc_id AS id_a, q.doc_id AS id_b,
       |    CAST(SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hamming
       |  FROM bits p JOIN bits q ON p.b = q.b AND p.doc_id < q.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= $AudMaxHam
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------
  // Perceptual video near-dup through the banded-Hamming path
  // --------------------------------------------------------------------

  /** Video near-dup pairs — the third member of the banded-Hamming family
    * (image dHash, audio envelope, now video): REAL ISO-BMFF MP4s are
    * synthesized with md5-derived mdat sample bytes (docs with id ≡ 1 mod
    * 10 reuse the PREVIOUS doc's payload with one perturbed window),
    * fingerprinted through the real box walk ([[graft.multimodal.Mp4Codec
    * .videoFingerprint]]: 65-window mdat envelope, sign-of-delta bits) and
    * paired within Hamming ≤ 3 by the shared pigeonhole-banded equi-join.
    * One byte per envelope window gives the fingerprint a closed form, so
    * the oracle checks encode → box-walk → fingerprint → band → verify
    * end to end.
    */
  def qVideoNearDup(spark: SparkSession, dir: String): DataFrame = {
    // JVM twin of conv(substring(md5('v' || pat || '_' || w), 1, 8), 16,
    // 10) % 256 with the w = 11 perturbation (see qAudioNearDup)
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      AudWindows, (h, id, w) => {
        val pat = if (id % 10 == 1) id - 1 else id
        val v = h.hex32(s"v${pat}_$w") % 256
        (if (id % 10 == 1 && w == 11) (v + 97) % 256 else v).toInt
      })
    val mp4 = graft.multimodal.Multimodal.synthMp4Samples(sm, "samples")
    graft.multimodal.Multimodal.videoDupPairs(mp4, "doc_id", "media",
        maxHamming = AudMaxHam)
      .orderBy(col("id_a"), col("id_b"))
  }

  val videoNearDupSql: String =
    s"""WITH v0 AS (SELECT doc_id, w,
       |    ('0x' || substr(md5('v' || (CASE WHEN doc_id % 10 = 1
       |        THEN doc_id - 1 ELSE doc_id END) || '_' || w), 1,
       |      8))::BIGINT % 256 AS v0
       |  FROM (SELECT doc_id FROM documents) CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${AudWindows - 1})) AS w)),
       |v AS (SELECT doc_id, w, CASE WHEN doc_id % 10 = 1 AND w = 11
       |    THEN (v0 + 97) % 256 ELSE v0 END AS v FROM v0),
       |bits AS (SELECT a.doc_id, a.w AS b, n.v > a.v AS bit
       |  FROM v a JOIN v n ON a.doc_id = n.doc_id AND n.w = a.w + 1
       |  WHERE a.w < ${AudWindows - 1}),
       |ham AS (SELECT p.doc_id AS id_a, q.doc_id AS id_b,
       |    CAST(SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hamming
       |  FROM bits p JOIN bits q ON p.b = q.b AND p.doc_id < q.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= $AudMaxHam
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------------
  // Shift-tolerant audio/video near-dup (shingled envelope fingerprints)
  // --------------------------------------------------------------------

  private val ShWindows = 80 // envelope windows per synthetic blob

  private val ShShift = 5    // planted trim, in whole windows

  private val ShMaxHam = 3

  /** JVM form of the tier's generator (the documented column form was
    * `conv(substring(md5(prefix || d || '_' || w), 1, 8), 16, 10) % mod`,
    * a CodegenFallback transform/md5 expression that evaluated interpreted
    * and dominated the synth cost) plus the copy-shift plant: docs with
    * id ≡ 1 (mod 10) read the PREVIOUS doc's generator at w + shift for
    * the copied head. Values bit-identical (Md5SamplesSpec + oracle);
    * consumed by [[graft.multimodal.Multimodal.md5Samples]].
    */
  private def copyShiftGen(prefix: String, mod: Int, shift: Int)
      : (graft.multimodal.Multimodal.Md5Hex32, Long, Int) => Int = {
    val lastCopied = ShWindows - shift - 1
    (h, id, w) => {
      val (d, ww) = if (id % 10 == 1 && w <= lastCopied) (id - 1, w + shift)
        else (id, w)
      (h.hex32(prefix + d + "_" + ww) % mod).toInt
    }
  }

  /** Shift-tolerant audio near-dup: docs with id ≡ 1 (mod 10) carry the
    * PREVIOUS doc's waveform trimmed by [[ShShift]] windows (the first 5
    * windows cut, fresh tail appended) — the classic trimmed-copy
    * near-dup that defeats the whole-signal fingerprint
    * (`q_audio_near_dup`'s path; ShiftedNearDupSpec holds the negative
    * control). [[graft.multimodal.Multimodal.audioDupPairsShifted]]
    * recovers each pair with hamming 0 at offset_windows = +5 through
    * real WAV encode → RIFF parse → fixed-window envelope → shingled
    * fingerprints → pigeonhole-banded join. One sample per window gives
    * the whole pipeline a closed form, so the oracle replays it end to
    * end, banding included.
    */
  def qAudioShiftedDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      ShWindows, copyShiftGen("as", 32768, ShShift))
    val wav = graft.multimodal.Multimodal.synthPcmWav(sm, "samples",
      sampleRate = 16000)
    graft.multimodal.Multimodal.audioDupPairsShifted(wav, "doc_id", "media",
        maxHamming = ShMaxHam, windowFrames = 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shift-tolerant video near-dup — [[qAudioShiftedDup]]'s plant over
    * mdat sample bytes ([[graft.multimodal.Multimodal
    * .videoDupPairsShifted]]: real MP4 encode → box walk → fixed-window
    * byte envelope → shingled fingerprints → banded join).
    */
  def qVideoShiftedDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      ShWindows, copyShiftGen("vs", 256, ShShift))
    val mp4 = graft.multimodal.Multimodal.synthMp4Samples(sm, "samples")
    graft.multimodal.Multimodal.videoDupPairsShifted(mp4, "doc_id", "media",
        maxHamming = ShMaxHam, windowBytes = 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared oracle chain for the shifted fixtures: generator values →
    * sign-of-delta bits (shingle-independent: bit b of shingle s is the
    * delta at window s + b) → per-(shingle, band) 16-bit keys → banded
    * candidates (pigeonhole-exact, the same theorem the engine relies on)
    * → exact hamming per alignment → lexicographically minimal
    * (hamming, offset, shingle) witness per pair.
    */
  private def shiftedSql(prefix: String, mod: Int): String = {
    val lastCopied = ShWindows - ShShift - 1
    val nShingles = ShWindows - 65 // max shingle index
    s"""WITH v AS (SELECT doc_id, w,
       |    ('0x' || substr(md5('$prefix' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN doc_id - 1 ELSE doc_id END) || '_' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN w + $ShShift ELSE w END)), 1, 8))::BIGINT % $mod AS v
       |  FROM (SELECT doc_id FROM documents) CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${ShWindows - 1})) AS w)),
       |d AS (SELECT a.doc_id, a.w,
       |    CASE WHEN n.v > a.v THEN 1 ELSE 0 END AS bit
       |  FROM v a JOIN v n ON a.doc_id = n.doc_id AND n.w = a.w + 1
       |  WHERE a.w < ${ShWindows - 1}),
       |bands AS (SELECT d.doc_id, sh.s, ks.k,
       |    CAST(SUM(bit * (1 << (w - sh.s - 16 * ks.k))) AS BIGINT) AS bits
       |  FROM d
       |  CROSS JOIN (SELECT unnest(generate_series(0, $nShingles)) AS s) sh
       |  CROSS JOIN (SELECT unnest(generate_series(0, $ShMaxHam)) AS k) ks
       |  WHERE d.w >= sh.s + 16 * ks.k AND d.w < sh.s + 16 * (ks.k + 1)
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT DISTINCT p.doc_id AS id_a, q.doc_id AS id_b,
       |    p.s AS sa, q.s AS sb
       |  FROM bands p JOIN bands q
       |    ON p.k = q.k AND p.bits = q.bits AND p.doc_id < q.doc_id),
       |ham AS (SELECT c.id_a, c.id_b, c.sa, c.sb,
       |    CAST(SUM(CASE WHEN da.bit <> db.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hamming
       |  FROM cand c
       |  JOIN d da ON da.doc_id = c.id_a
       |    AND da.w >= c.sa AND da.w < c.sa + 64
       |  JOIN d db ON db.doc_id = c.id_b AND db.w = da.w - c.sa + c.sb
       |  GROUP BY 1, 2, 3, 4),
       |best AS (SELECT id_a, id_b, hamming, sa - sb AS offset_windows,
       |    ROW_NUMBER() OVER (PARTITION BY id_a, id_b
       |      ORDER BY hamming, sa - sb, sa) AS rn
       |  FROM ham WHERE hamming <= $ShMaxHam)
       |SELECT id_a, id_b, hamming, offset_windows FROM best WHERE rn = 1
       |ORDER BY id_a, id_b""".stripMargin
  }

  val audioShiftedDupSql: String = shiftedSql("as", 32768)

  val videoShiftedDupSql: String = shiftedSql("vs", 256)

  private val OvSamples = 160 // samples (audio) / mdat bytes (video) per blob

  private val OvTrim = 5      // planted trim in samples = 2.5 windows at W=2

  private val OvMaxHam = 3

  /** JVM form of the tier's generator (the documented column form was
    * `conv(substring(md5(prefix || d || '_' || w), 1, 8), 16, 10) % mod`,
    * a CodegenFallback transform/md5 expression that evaluated interpreted
    * and dominated the synth cost) plus the copy-shift plant, for
    * [[graft.multimodal.Multimodal.md5Samples]]: docs with id ≡ 1 (mod 10)
    * read the PREVIOUS doc's generator at w + trim for the copied head.
    * Values bit-identical (Md5SamplesSpec + oracle).
    */
  private def copyTrimGen(prefix: String, mod: Int, trim: Int)
      : (graft.multimodal.Multimodal.Md5Hex32, Long, Int) => Int = {
    val lastCopied = OvSamples - trim - 1
    (h, id, w) => {
      val (d, ww) = if (id % 10 == 1 && w <= lastCopied) (id - 1, w + trim)
        else (id, w)
      (h.hex32(prefix + d + "_" + ww) % mod).toInt
    }
  }

  /** Sub-window shift-tolerant audio near-dup: docs with id ≡ 1 (mod 10)
    * carry the PREVIOUS doc's waveform trimmed by [[OvTrim]] = 5 samples
    * — 2.5 windows at windowFrames = 2, so the trim is NOT window-aligned
    * and [[graft.multimodal.Multimodal.audioDupPairsShifted]] cannot see
    * it (every non-overlapping window boundary re-phases).
    * [[graft.multimodal.Multimodal.audioDupPairsShiftedOverlap]] at
    * hopFrames = 1 recovers each pair at hamming 0, offset_hops = +5
    * through real WAV encode → RIFF parse → overlapping-window envelope →
    * shingled fingerprints → pigeonhole-banded join. The oracle replays
    * the whole chain in closed form (window sums stand in for means —
    * same comparisons, no division).
    */
  def qAudioSubwindowDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      OvSamples, copyTrimGen("ao", 32768, OvTrim))
    val wav = graft.multimodal.Multimodal.synthPcmWav(sm, "samples",
      sampleRate = 16000)
    graft.multimodal.Multimodal.audioDupPairsShiftedOverlap(wav, "doc_id",
        "media", maxHamming = OvMaxHam, windowFrames = 2, hopFrames = 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Sub-window shift-tolerant video near-dup — [[qAudioSubwindowDup]]'s
    * plant over mdat sample bytes ([[graft.multimodal.Multimodal
    * .videoDupPairsShiftedOverlap]]: real MP4 encode → box walk →
    * overlapping byte-window envelope → shingled fingerprints → banded
    * join).
    */
  def qVideoSubwindowDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      OvSamples, copyTrimGen("vo", 256, OvTrim))
    val mp4 = graft.multimodal.Multimodal.synthMp4Samples(sm, "samples")
    graft.multimodal.Multimodal.videoDupPairsShiftedOverlap(mp4, "doc_id",
        "media", maxHamming = OvMaxHam, windowBytes = 2, hopBytes = 1)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Shared oracle chain for the sub-window fixtures: generator values →
    * overlapping-window envelope SUMS (window w = v(w) + v(w+1); the
    * engine's /windowFrames mean normalization is order-preserving, so
    * sum comparisons replay it exactly with no floating point) →
    * sign-of-delta bits → per-(shingle, band) 16-bit keys → banded
    * candidates (pigeonhole-exact) → exact hamming per alignment →
    * lexicographically minimal (hamming, offset, shingle) witness.
    */
  private def subwindowSql(prefix: String, mod: Int): String = {
    val lastCopied = OvSamples - OvTrim - 1
    val nWin = OvSamples - 1          // overlapping W=2 hop=1 windows
    val nShingles = nWin - 65         // max shingle index
    s"""WITH v AS (SELECT doc_id, w,
       |    ('0x' || substr(md5('$prefix' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN doc_id - 1 ELSE doc_id END) || '_' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN w + $OvTrim ELSE w END)), 1, 8))::BIGINT % $mod AS v
       |  FROM (SELECT doc_id FROM documents) CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${OvSamples - 1})) AS w)),
       |env AS (SELECT a.doc_id, a.w, a.v + n.v AS env
       |  FROM v a JOIN v n ON a.doc_id = n.doc_id AND n.w = a.w + 1
       |  WHERE a.w < ${OvSamples - 1}),
       |d AS (SELECT a.doc_id, a.w,
       |    CASE WHEN n.env > a.env THEN 1 ELSE 0 END AS bit
       |  FROM env a JOIN env n ON a.doc_id = n.doc_id AND n.w = a.w + 1
       |  WHERE a.w < ${nWin - 1}),
       |bands AS (SELECT doc_id, s, k,
       |    CAST(SUM(bit * (1 << off)) AS BIGINT) AS bits
       |  FROM (SELECT d.doc_id, d.bit, ks.k, f.off,
       |      d.w - 16 * ks.k - f.off AS s
       |    FROM d
       |    CROSS JOIN (SELECT unnest(generate_series(0, $OvMaxHam)) AS k) ks
       |    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS off) f)
       |  WHERE s >= 0 AND s <= $nShingles
       |  GROUP BY 1, 2, 3),
       |cand AS (SELECT DISTINCT p.doc_id AS id_a, q.doc_id AS id_b,
       |    p.s AS sa, q.s AS sb
       |  FROM bands p JOIN bands q
       |    ON p.k = q.k AND p.bits = q.bits AND p.doc_id < q.doc_id),
       |ham AS (SELECT c.id_a, c.id_b, c.sa, c.sb,
       |    CAST(SUM(CASE WHEN da.bit <> db.bit THEN 1 ELSE 0 END) AS BIGINT)
       |      AS hamming
       |  FROM cand c
       |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) jj
       |  JOIN d da ON da.doc_id = c.id_a AND da.w = c.sa + jj.j
       |  JOIN d db ON db.doc_id = c.id_b AND db.w = c.sb + jj.j
       |  GROUP BY 1, 2, 3, 4),
       |best AS (SELECT id_a, id_b, hamming, sa - sb AS offset_hops,
       |    ROW_NUMBER() OVER (PARTITION BY id_a, id_b
       |      ORDER BY hamming, sa - sb, sa) AS rn
       |  FROM ham WHERE hamming <= $OvMaxHam)
       |SELECT id_a, id_b, hamming, offset_hops FROM best WHERE rn = 1
       |ORDER BY id_a, id_b""".stripMargin
  }

  val audioSubwindowDupSql: String = subwindowSql("ao", 32768)

  val videoSubwindowDupSql: String = subwindowSql("vo", 256)

  private val CdcTrim = 3 // frames — deliberately NOT a multiple of any hop

  /** Content-defined-chunking audio near-dup: docs with id ≡ 1 (mod 10)
    * carry the PREVIOUS doc's waveform trimmed by [[CdcTrim]] = 3 frames.
    * No fixed grid survives an arbitrary trim without paying fan-out for
    * the granularity (the hop-2 overlap path provably misses an odd trim
    * — CdcSpec holds that negative control); the content-defined
    * boundaries of [[graft.multimodal.Multimodal.audioDupPairsCdc]] move
    * WITH the content, so every interior segment of the copy reproduces
    * the original's (fp, len) keys verbatim and the pair reports with
    * offset_frames = +3 at ~1 segment row per [[graft.multimodal
    * .Multimodal.CdcCutMod]] frames. The oracle replays the whole chain
    * in closed form: generator values → rolling cut polynomial →
    * interior segments → positional-polynomial fingerprints → df-capped
    * exact (fp, len) join → shared-count + minimal-offset witness.
    */
  def qAudioCdcDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      OvSamples, copyTrimGen("cd", 32768, CdcTrim))
    val wav = graft.multimodal.Multimodal.synthPcmWav(sm, "samples",
      sampleRate = 16000)
    graft.multimodal.Multimodal.audioDupPairsCdc(wav, "doc_id", "media")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Content-defined-chunking video near-dup — [[qAudioCdcDup]]'s plant
    * over mdat sample bytes ([[graft.multimodal.Multimodal
    * .videoDupPairsCdc]]: real MP4 encode → box walk → CDC over the
    * byte magnitudes → exact (fp, len) join).
    */
  def qVideoCdcDup(spark: SparkSession, dir: String): DataFrame = {
    val sm = graft.multimodal.Multimodal.md5Samples(
      Tables.documents(spark, dir).select(col("doc_id")), "doc_id",
      OvSamples, copyTrimGen("cv", 256, CdcTrim))
    val mp4 = graft.multimodal.Multimodal.synthMp4Samples(sm, "samples")
    graft.multimodal.Multimodal.videoDupPairsCdc(mp4, "doc_id", "media")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Closed-form oracle for the CDC fixtures: the constants mirror
    * [[graft.multimodal.Multimodal.CdcCutBase]]/CdcCutMod/CdcFpBase/
    * CdcFpMod, and the power table is generated Scala-side so both
    * engines fold the identical (B^j mod M) residues.
    */
  private def cdcSql(prefix: String, mod: Int): String = {
    val b = graft.multimodal.Multimodal.CdcCutBase
    val b2 = b * b
    val b3 = b * b * b
    val cutMod = graft.multimodal.Multimodal.CdcCutMod
    val fpM = graft.multimodal.Multimodal.CdcFpMod
    val fpB = graft.multimodal.Multimodal.CdcFpBase
    val lastCopied = OvSamples - CdcTrim - 1
    val pows = Iterator.iterate(1L)(_ * fpB % fpM).take(OvSamples)
      .zipWithIndex.map { case (p, j) => s"($j, $p)" }.mkString(", ")
    s"""WITH v AS (SELECT doc_id, w,
       |    ('0x' || substr(md5('$prefix' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN doc_id - 1 ELSE doc_id END) || '_' ||
       |        (CASE WHEN doc_id % 10 = 1 AND w <= $lastCopied
       |           THEN w + $CdcTrim ELSE w END)), 1, 8))::BIGINT % $mod AS v
       |  FROM (SELECT doc_id FROM documents) CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${OvSamples - 1})) AS w)),
       |pows(j, p) AS (VALUES $pows),
       |hv AS (SELECT doc_id, w,
       |    (LAG(v, 3) OVER win * $b3 + LAG(v, 2) OVER win * $b2
       |      + LAG(v, 1) OVER win * $b + v) % $cutMod AS h
       |  FROM v WINDOW win AS (PARTITION BY doc_id ORDER BY w)),
       |cuts AS (SELECT doc_id, w,
       |    LEAD(w) OVER (PARTITION BY doc_id ORDER BY w) AS nw
       |  FROM hv WHERE w >= 3 AND h = 0),
       |seg AS (SELECT doc_id, w + 1 AS pos, nw AS endw, nw - w AS len
       |  FROM cuts WHERE nw IS NOT NULL AND nw - w >= 4),
       |fpseg AS (SELECT s.doc_id, s.pos, s.len,
       |    CAST(SUM(v.v * pw.p) % $fpM AS BIGINT) AS fp
       |  FROM seg s
       |  JOIN v ON v.doc_id = s.doc_id AND v.w BETWEEN s.pos AND s.endw
       |  JOIN pows pw ON pw.j = v.w - s.pos
       |  GROUP BY 1, 2, 3),
       |keep AS (SELECT fp, len FROM fpseg GROUP BY fp, len
       |  HAVING COUNT(DISTINCT doc_id) <= 64),
       |k AS (SELECT f.* FROM fpseg f JOIN keep USING (fp, len)),
       |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp, a.len,
       |    a.pos AS pa, b.pos AS pb
       |  FROM k a JOIN k b ON a.fp = b.fp AND a.len = b.len
       |    AND a.doc_id < b.doc_id),
       |agg AS (SELECT id_a, id_b,
       |    COUNT(DISTINCT (fp, len)) AS shared
       |  FROM prs GROUP BY 1, 2 HAVING COUNT(DISTINCT (fp, len)) >= 2),
       |best AS (SELECT id_a, id_b, pa - pb AS offset_frames,
       |    ROW_NUMBER() OVER (PARTITION BY id_a, id_b
       |      ORDER BY pa - pb, pa) AS rn
       |  FROM prs)
       |SELECT a.id_a, a.id_b, a.shared, b.offset_frames
       |FROM agg a JOIN best b ON a.id_a = b.id_a AND a.id_b = b.id_b
       |  AND b.rn = 1
       |ORDER BY a.id_a, a.id_b""".stripMargin
  }

  val audioCdcDupSql: String = cdcSql("cd", 32768)

  val videoCdcDupSql: String = cdcSql("cv", 256)

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_multimodal_meta", qMultimodalMeta, multimodalMetaSql),
    QuerySpec("q_multimodal_hist", qMultimodalHist, multimodalHistSql),
    QuerySpec("q_multimodal_audio", qMultimodalAudio, multimodalAudioSql),
    QuerySpec("q_multimodal_video", qMultimodalVideo, multimodalVideoSql),
    QuerySpec("q_multimodal_image", qMultimodalImage, multimodalImageSql),
    QuerySpec("q_image_near_dup", qImageNearDup, imageNearDupSql),
    QuerySpec("q_audio_near_dup", qAudioNearDup, audioNearDupSql),
    QuerySpec("q_video_near_dup", qVideoNearDup, videoNearDupSql),
    QuerySpec("q_audio_shifted_dup", qAudioShiftedDup, audioShiftedDupSql),
    QuerySpec("q_video_shifted_dup", qVideoShiftedDup, videoShiftedDupSql),
    QuerySpec("q_audio_subwindow_dup", qAudioSubwindowDup, audioSubwindowDupSql),
    QuerySpec("q_video_subwindow_dup", qVideoSubwindowDup, videoSubwindowDupSql),
    QuerySpec("q_audio_cdc_dup", qAudioCdcDup, audioCdcDupSql),
    QuerySpec("q_video_cdc_dup", qVideoCdcDup, videoCdcDupSql),
  )
}
