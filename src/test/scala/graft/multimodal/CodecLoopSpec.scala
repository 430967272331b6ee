package graft.multimodal

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The media tier's one per-row step ([[Multimodal]]'s codec loop): its
  * null-blob rule at every per-blob entry point, and a source guard that
  * keeps the loop from being copied again.
  */
class CodecLoopSpec extends SparkTestBase {
  import spark.implicits._

  private val NullId = 99L

  private def nullBlobAt(df: DataFrame): DataFrame =
    df.withColumn("media",
      when(col("doc_id") === NullId, lit(null).cast("binary")).otherwise(col("media")))

  private def withoutNull(df: DataFrame): DataFrame = df.filter(col("doc_id") =!= NullId)

  private val mixed: DataFrame = {
    val blobs = Seq(
      1L -> WavCodec.encode(16000, 1, 16, 200),
      2L -> Mp4Codec.encode("isom", 1, 1000L, 2000L, 100),
      3L -> ImageHeaderCodec.encodePng(4, 3, 8, 2, 10),
      4L -> ImageHeaderCodec.encodeJpeg(5, 6, 3, 10),
      5L -> "plain text, no container".getBytes("UTF-8"),
      6L -> Array.empty[Byte],
      NullId -> null)
    spark.createDataFrame(spark.sparkContext.parallelize(
      blobs.map { case (i, b) => Row(i, b) }, 2), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media", BinaryType, nullable = true))))
  }

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("doc_id").collect().toSeq

  test("a null blob gets null decoded columns and no frames; the other " +
      "rows are as without it") {
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        "decodeMeta" -> (Multimodal.decodeMeta(_, "media")),
        "decodeMeta(ImageIoCodec)" -> (Multimodal.decodeMeta(_, "media", ImageIoCodec)),
        "featurize" -> (Multimodal.featurize(_, "media")),
        "decodeAudioMeta" -> (Multimodal.decodeAudioMeta(_, "media")),
        "decodeVideoMeta" -> (Multimodal.decodeVideoMeta(_, "media")),
        "decodeImageMeta" -> (Multimodal.decodeImageMeta(_, "media")))) {
      val got = sorted(op(mixed))
      assert(got.filter(_.getLong(0) != NullId) == sorted(op(withoutNull(mixed))), name)
      val nullRow = got.filter(_.getLong(0) == NullId)
      assert(nullRow.length == 1, name)
      assert((1 until nullRow.head.length).forall(nullRow.head.isNullAt), s"$name: $nullRow")
    }
    val decoded = sorted(Multimodal.decodeAudioMeta(mixed, "media"))
    assert(decoded.count(!_.isNullAt(2)) == 1) // the WAV row still decodes

    val frames = Multimodal.frameSample(mixed, "media", n = 3, frameBytes = 4)
    val rows = frames.orderBy("doc_id", "frame_idx").collect().toSeq
    assert(!rows.exists(_.getLong(0) == NullId))
    assert(rows == Multimodal.frameSample(withoutNull(mixed), "media", 3, 4)
      .orderBy("doc_id", "frame_idx").collect().toSeq)
    assert(rows.map(_.getLong(0)).distinct == Seq(1L, 2L, 3L, 4L, 5L)) // empty blob: none
  }

  private def pairs(df: DataFrame): Seq[Row] =
    df.orderBy("id_a", "id_b").collect().toSeq

  test("every near-dup tier drops a null blob: the same pairs as the " +
      "corpus without it") {
    val r = new scala.util.Random(17)
    val base = Array.fill(1200)(r.nextInt(32768))
    val trimmed = base.drop(16) ++ Array.fill(16)(r.nextInt(32768))
    val docs = Seq(1L -> base, 2L -> base, 3L -> trimmed,
      4L -> Array.fill(1200)(r.nextInt(32768)), NullId -> base)
    val wavs = nullBlobAt(Multimodal.synthPcmWav(
      docs.map { case (i, s) => (i, s.toSeq) }.toDF("doc_id", "samples"), "samples", 16000))
    val mp4s = nullBlobAt(Multimodal.synthMp4Samples(
      docs.map { case (i, s) => (i, s.toSeq.map(_ % 256)) }.toDF("doc_id", "samples"),
      "samples"))
    val gradient = (0 until 72).map(i => (i * 7) % 256)
    val pngs = nullBlobAt(Multimodal.synthPixelPng(Seq(1L -> gradient, 2L -> gradient,
        3L -> gradient.reverse, NullId -> gradient).toDF("doc_id", "pixels"),
      "pixels", w = 9, h = 8))
    for ((name, corpus, op) <- Seq[(String, DataFrame, DataFrame => DataFrame)](
        ("perceptualDupPairs", pngs, Multimodal.perceptualDupPairs(_, "doc_id", "media")),
        ("audioDupPairs", wavs, Multimodal.audioDupPairs(_, "doc_id", "media")),
        ("videoDupPairs", mp4s, Multimodal.videoDupPairs(_, "doc_id", "media")),
        ("audioDupPairsShifted", wavs,
          Multimodal.audioDupPairsShifted(_, "doc_id", "media", windowFrames = 8)),
        ("videoDupPairsShifted", mp4s,
          Multimodal.videoDupPairsShifted(_, "doc_id", "media", windowBytes = 8)),
        ("audioDupPairsShiftedOverlap", wavs, Multimodal.audioDupPairsShiftedOverlap(
          _, "doc_id", "media", windowFrames = 8, hopFrames = 4)),
        ("videoDupPairsShiftedOverlap", mp4s, Multimodal.videoDupPairsShiftedOverlap(
          _, "doc_id", "media", windowBytes = 8, hopBytes = 4)),
        ("audioDupPairsCdc", wavs, Multimodal.audioDupPairsCdc(_, "doc_id", "media")),
        ("videoDupPairsCdc", mp4s, Multimodal.videoDupPairsCdc(_, "doc_id", "media")))) {
      val got = pairs(op(corpus))
      assert(got.nonEmpty, name)
      assert(got == pairs(op(withoutNull(corpus))), name)
    }
  }

  test("one codec batch loop: createDataFrame( and .rdd.mapPartitions " +
      "appear in graft.multimodal only inside Multimodal.codecLoop") {
    val dir = Paths.get("src/main/scala/graft/multimodal")
    assert(Files.isDirectory(dir), s"run from the repository root: $dir")
    def count(text: String, call: String): Int =
      Pattern.quote(call).r.findAllMatchIn(text).size
    val sources = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toList
    val main = Files.readString(dir.resolve("Multimodal.scala"))
    val start = main.indexOf("private def codecLoop(")
    assert(start >= 0, "Multimodal.codecLoop is gone")
    val loop = main.substring(start, main.indexOf("\n  /**", start))
    for (call <- Seq("createDataFrame(", ".rdd.mapPartitions")) {
      assert(count(loop, call) == 1, s"$call not in codecLoop")
      assert(sources.map(count(_, call)).sum == 1, s"$call outside codecLoop")
    }
  }
}
