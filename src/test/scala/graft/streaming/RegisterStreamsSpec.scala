package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

final case class KmvItem(item: Long)

/** The KMV and AMS sign-sketch register streams: drained snapshots must
  * equal an independent plain-Scala replay of the batch register math (the
  * hll/bloomRegistersStream discipline).
  */
class RegisterStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def md5h32(s: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s).take(8), 16)

  test("kmvRegistersStream: drained shard snapshots merge to the batch " +
      "k-min sketch; duplicate arrivals are no-ops") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val items = (0L until 500L) ++ (0L until 200L) // 200 duplicates
    val input = MemoryStream[KmvItem]
    input.addData(items.map(KmvItem): _*)
    val q = StreamingOps
      .kmvRegistersStream(input.toDF(), "item", nShards = 4, k = 16)
      .writeStream.format("memory").queryName("kmv_regs")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // last snapshot per shard (update mode re-emits shards)
    val snap = spark.table("kmv_regs").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .groupBy(_._1).map { case (s, rows) => s -> rows.last._2 }
    val hashes = (0L until 500L).map(i => md5h32(i.toString)).distinct
    // per-shard truth
    snap.foreach { case (shard, hs) =>
      val expect = hashes.filter(_ % 4 == shard).sorted.take(16)
      assert(hs == expect, s"shard $shard")
    }
    // merged consumer read: global k smallest of the shard union
    val merged = snap.values.flatten.toSeq.distinct.sorted.take(16)
    assert(merged == hashes.sorted.take(16))
  }

  test("amsRegistersStream: drained registers equal the batch signed sums " +
      "per (row, bucket)") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val items = (0L until 300L) ++ (0L until 100L)
    val input = MemoryStream[KmvItem]
    input.addData(items.map(KmvItem): _*)
    val q = StreamingOps
      .amsRegistersStream(input.toDF(), "item", depth = 3, width = 16)
      .writeStream.format("memory").queryName("ams_regs")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ams_regs").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1).map { case (k, rows) => k -> rows.last._2 }
    // independent replay
    val counts = items.groupBy(identity).map { case (i, g) => i -> g.size.toLong }
    val expect = scala.collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    for ((i, c) <- counts; j <- 0 until 3) {
      val b = md5h32(s"$j:$i") % 16
      val s = (md5h32(s"s:$j:$i") % 2) * 2 - 1
      expect((j, b)) += s * c
    }
    val expectNonzeroOrTouched = expect.toMap
    got.foreach { case (k, v) =>
      assert(v == expectNonzeroOrTouched.getOrElse(k, 0L), s"register $k")
    }
    // every touched register is present
    expectNonzeroOrTouched.keys.foreach { k =>
      assert(got.contains(k), s"missing register $k")
    }
  }
}
