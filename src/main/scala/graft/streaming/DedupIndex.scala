package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Driver-side snapshot of a [[StreamingOps.dedupStore]] table, the static
  * side [[StreamingOps.incrementalDedupStream]] broadcasts once and probes
  * per arriving document:
  *  - `exact`: md5 text key → smallest store id holding it (Spark's ordering
  *    for the id's type, as `min` would give);
  *  - per store doc (slot): its id, distinct shingles (taken once, from the
  *    doc's band-0 row) and shingle count `__n_ex`;
  *  - `buckets`: (band, band key) → doc slots, one entry per store row, so
  *    a store id held by two store rows matches twice, as a join would.
  */
private[streaming] final class DedupIndex(
    val idType: DataType,
    exact: java.util.HashMap[String, Any],
    buckets: java.util.HashMap[(Int, String), Array[Int]],
    ids: Array[Any], shingles: Array[Array[String]], nEx: Array[Long])
    extends Serializable {

  /** Rows for one probe row (id, distinct shingles, md5 key, band keys in
    * band order): the exact-dup row if the key is stored, else one near-dup
    * row per (colliding band, store row) whose shingle Jaccard ≥ `threshold`.
    * The Jaccard arithmetic is the relational form's: a long `shared` and
    * `shared / (|sh| + n_ex − shared)` in double.
    */
  def probe(r: Row, threshold: Double): Iterator[Row] = {
    val id = r.get(0)
    val hkey = r.getString(2)
    if (exact.containsKey(hkey))
      Iterator.single(Row(id, "exact_dup", exact.get(hkey), null))
    else if (r.isNullAt(1)) Iterator.empty
    else {
      val sh = r.getSeq[String](1)
      val bkeys = r.getSeq[String](3)
      lazy val own = { val s = new java.util.HashSet[String](sh.size * 2); sh.foreach(s.add); s }
      val out = mutable.ArrayBuffer.empty[Row]
      for (b <- bkeys.indices; d <- buckets.getOrDefault((b, bkeys(b)), Array.emptyIntArray)) {
        val shared = shingles(d).count(own.contains).toLong
        val jaccard = shared.toDouble / (sh.size + nEx(d) - shared)
        if (jaccard >= threshold) out += Row(id, "near_dup", ids(d), jaccard)
      }
      out.iterator
    }
  }
}

private[streaming] object DedupIndex {

  /** Spark's broadcast-exchange limits (`BroadcastExchangeExec`): the store
    * used to be broadcast whole, and the index fails where that join did. */
  val MaxRows: Long = 512000000L
  val MaxBytes: Long = 8L << 30

  /** Read `store` with one collect job and fold it on the driver. Each task
    * reports its row count and payload bytes (string lengths, 8 per numeric
    * field); once either total passes its limit the remaining partitions are
    * dropped as they arrive and the build fails with the totals seen. The
    * store is read as stored: [[StreamingOps.dedupStore]] carries an id's
    * shingles on its band-0 rows only, so they are counted and kept once per
    * id. A store persisted with shingles on every band row still builds the
    * same index; it only reads (and counts) the extra copies. */
  def build(store: DataFrame, maxRows: Long = MaxRows,
            maxBytes: Long = MaxBytes): DedupIndex = {
    val idType = store.schema("__ex_id").dataType
    val rdd = store.select(col("__ex_id"), col("__hkey"),
        col("band").cast("int"), col("bkey"), col("__ex_sh"), col("__n_ex"))
      .rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    var (rows, bytes) = (0L, 0L)
    store.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      val a = it.toArray
      (a, a.iterator.map { r =>
        val sh = if (r.isNullAt(4)) Nil else r.getSeq[String](4)
        24L + r.getString(1).length + r.getString(3).length +
          sh.iterator.map(_.length.toLong).sum
      }.sum)
    }, (i: Int, part: (Array[Row], Long)) => {
      rows += part._1.length
      bytes += part._2
      if (rows <= maxRows && bytes <= maxBytes) parts(i) = part._1
    })
    if (rows > maxRows || bytes > maxBytes)
      throw new IllegalStateException(
        s"dedup store too large for the driver index: $rows rows and $bytes " +
          s"payload bytes read, limits $maxRows rows and $maxBytes bytes " +
          "(the limits of a Spark broadcast)")

    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val exact = new java.util.HashMap[String, Any]
    val slotOf = new java.util.HashMap[Any, Integer]
    val ids = mutable.ArrayBuffer.empty[Any]
    val shingles = mutable.ArrayBuffer.empty[Array[String]]
    val nEx = mutable.ArrayBuffer.empty[Long]
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuilder.ofInt]
    for (part <- parts; r <- part) {
      val id = r.get(0)
      val hkey = r.getString(1)
      val cur = exact.get(hkey)
      if (!exact.containsKey(hkey) ||
          (id != null && (cur == null || ord.lt(toCatalyst(id), toCatalyst(cur)))))
        exact.put(hkey, id)
      // binary ids compare by content, as Spark's join keys do
      val key = id match { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case o => o }
      val slot: Int = slotOf.computeIfAbsent(key, _ => {
        ids += id; shingles += null; nEx += r.getLong(5); Int.box(ids.size - 1) })
      if (!r.isNullAt(4)) shingles(slot) = r.getSeq[String](4).toArray
      buckets.getOrElseUpdate((r.getInt(2), r.getString(3)),
        new mutable.ArrayBuilder.ofInt) += slot
    }
    ids.indices.find(shingles(_) == null).foreach { s =>
      throw new IllegalArgumentException(
        s"dedup store id ${ids(s)} has no shingle set on a band-0 row; " +
          "build the store with dedupStore")
    }
    val bucketMap = new java.util.HashMap[(Int, String), Array[Int]](buckets.size * 2)
    buckets.foreach { case (k, v) => bucketMap.put(k, v.result()) }
    new DedupIndex(idType, exact, bucketMap, ids.toArray, shingles.toArray, nEx.toArray)
  }
}
