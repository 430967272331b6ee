package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import graft.multimodal.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

final case class IncDoc(doc_id: Long, text: String)
final case class StrDoc(doc_id: String, text: String)
final case class PrivRow(region: String, band: Long, salary: Double)
final case class CorpusDoc(src: String, doc_id: Long, text: String)
final case class SourcedEvent(src: String, ts: Timestamp)
final case class UrlFetch(ts: Timestamp, doc_id: Long, url: String)

class StreamingOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)

  test("incrementalDedupStream matches batch incrementalDedup after consumer reduction") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val existing = Seq(
      (1L, base), (2L, base),
      (4L, "completely different words about spark query engines and data processing")
    ).toDF("doc_id", "text")
    val incomingRows = Seq(
      IncDoc(10L, base), // exact dup of 1/2
      IncDoc(11L, base.replace("today", "tonight")), // near dup
      IncDoc(12L, "entirely fresh content that resembles nothing stored so far at all"))

    val store = StreamingOps.dedupStore(existing, "doc_id", "text")
    val input = MemoryStream[IncDoc]
    input.addData(incomingRows: _*)
    val query = StreamingOps
      .incrementalDedupStream(input.toDF(), store, "doc_id", "text")
      .writeStream.format("memory").queryName("incdedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    // consumer reduction: distinct rows, then best match per doc
    // (max jaccard, ties to min id); docs with no row are `new`
    val emitted = spark.table("incdedup_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).distinct
    val reduced = emitted.groupBy(_._1).map { case (id, rows) =>
      val best = rows.minBy(r => (-(if (r._4.isNaN) 2.0 else r._4), r._3))
      id -> (best._2, best._3)
    }
    val batch = graft.ext.Dedup
      .incrementalDedup(incomingRows.toDF(), existing, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    incomingRows.map(_.doc_id).foreach { id =>
      val streamed = reduced.getOrElse(id, ("new", -1L))
      assert(streamed == batch(id), s"doc $id: stream=$streamed batch=${batch(id)}")
    }
    // and the jaccard the stream reports for the near dup is the exact one
    val nearJac = emitted.filter(r => r._1 == 11L).map(_._4)
    assert(nearJac.nonEmpty && nearJac.forall(j => j > 0.5 && j <= 1.0))
  }

  test("incrementalDedupStream survives checkpoint restart: offsets recovered, " +
    "store refresh picked up, no re-emission") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val fresh = "entirely fresh content that resembles nothing stored so far at all"
    val existing = Seq((1L, base), (2L, base),
      (4L, "completely different words about spark query engines and data processing")
    ).toDF("doc_id", "text")
    val ckpt = graft.Scratch.register(
      java.nio.file.Files.createTempDirectory("incdedup_ckpt").toString)
    val outDir = graft.Scratch.register(
      java.nio.file.Files.createTempDirectory("incdedup_out").toString)

    val input = MemoryStream[IncDoc]
    def run(store: org.apache.spark.sql.DataFrame): Unit = {
      val q = StreamingOps
        .incrementalDedupStream(input.toDF(), store, "doc_id", "text")
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }

    // incarnation 1: doc 10 is an exact dup, doc 12 is new (no row emitted)
    input.addData(IncDoc(10L, base), IncDoc(12L, fresh))
    run(StreamingOps.dedupStore(existing, "doc_id", "text"))
    val afterRun1 = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).distinct.sorted
    assert(afterRun1.toSeq == Seq((10L, "exact_dup", 1L)))

    // between incarnations the consumer folds run-1's `new` docs into the
    // store (the incremental-dedup discipline); the restarted query must see
    // BOTH the refreshed static side and the checkpointed offsets
    val grown = existing.unionByName(Seq((12L, fresh)).toDF("doc_id", "text"))
    input.addData(IncDoc(20L, fresh), // exact dup of the doc stored BETWEEN runs
      IncDoc(21L, base.replace("today", "tonight"))) // near dup of run-1 data
    run(StreamingOps.dedupStore(grown, "doc_id", "text"))

    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).distinct
    // doc 10's row appears EXACTLY once across both incarnations: the restart
    // resumed from checkpointed offsets instead of replaying batch 1
    assert(spark.read.parquet(outDir).filter("doc_id = 10").count() == 1)
    // doc 20 matched the doc added to the store between incarnations
    assert(rows.filter(_._1 == 20L).toSeq == Seq((20L, "exact_dup", 12L)))
    // doc 21 near-matched the original corpus (docs 1/2 share the base text,
    // so either may appear as match_id; the consumer reduction picks one)
    val m21 = rows.filter(_._1 == 21L)
    assert(m21.nonEmpty &&
      m21.forall(r => r._2 == "near_dup" && (r._3 == 1L || r._3 == 2L)))
  }

  /** The relational form `incrementalDedupStream` had before its driver
    * index: stream-static broadcast joins against the store, re-read every
    * micro-batch. Kept verbatim as the reference for the raw-output
    * differential below. */
  private def relationalDedupStream(stream: org.apache.spark.sql.DataFrame,
                                    store: org.apache.spark.sql.DataFrame,
                                    idCol: String, textCol: String,
                                    k: Int = 3, numHashes: Int = 16,
                                    rowsPerBand: Int = 4,
                                    threshold: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
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
    val bandArr = array((0 until numBands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand).map(mh)
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("bkey"))
    }: _*)

    val base = stream.select(col(idCol), col(textCol))
      .withColumn("__sh", docSh)
      .withColumn("__h", hashes)
      .withColumn("__hkey", coalesce(md5(col(textCol)), lit("__null_text__")))

    val exKeys = broadcast(
      store.groupBy(col("__hkey")).agg(min(col("__ex_id")).as("__m")))
    val exact = base.join(exKeys, Seq("__hkey"))
      .select(col(idCol), lit("exact_dup").as("status"),
        col("__m").as("match_id"), lit(null).cast("double").as("jaccard"))

    val near = base
      .join(exKeys, Seq("__hkey"), "left_anti") // exact dups report via `exact`
      .withColumn("__bb", explode(bandArr))
      .select(col(idCol), col("__sh"),
        col("__bb.band").as("band"), col("__bb.bkey").as("bkey"))
      .join(broadcast(store.drop("__hkey")), Seq("band", "bkey"))
      .withColumn("__shared",
        size(array_intersect(col("__sh"), col("__ex_sh"))).cast("long"))
      .withColumn("jaccard", col("__shared").cast("double") /
        (size(col("__sh")) + col("__n_ex") - col("__shared")))
      .filter(col("jaccard") >= threshold)
      .select(col(idCol), lit("near_dup").as("status"),
        col("__ex_id").as("match_id"), col("jaccard"))

    exact.unionByName(near)
  }

  /** Exact multiset of (id, status, match_id, jaccard) rows. */
  private def multiset(rows: Array[org.apache.spark.sql.Row])
      : Map[(String, String, String, Option[Double]), Int] =
    rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  test("incrementalDedupStream emits exactly the relational form's rows, " +
    "as a batch and through a MemoryStream") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(20261017L)
    val vocab = (0 until 40).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    def edit(ws: Seq[String], n: Int) =
      (0 until n).foldLeft(ws)((acc, _) =>
        acc.updated(rnd.nextInt(acc.size), vocab(rnd.nextInt(vocab.size))))
    val bases = Seq.fill(12)(words(24))
    val twin = words(20).mkString(" ")
    // "｡" (U+FF61) sorts before "😀" (U+1F600) in UTF-8 byte order, after
    // it in UTF-16 code units: Spark's min picks "｡", String.compareTo "😀"
    assert("😀".compareTo("｡") < 0)
    val existing = bases.zipWithIndex.map { case (ws, i) => (s"s$i", ws.mkString(" ")) } ++
      Seq(("｡", twin), ("😀", twin),
        ("dup", bases(0).mkString(" ")), ("dup", (bases(0).init :+ "y").mkString(" ")),
        ("s_null", null), ("s_empty", ""))
    val incoming = bases.zipWithIndex.flatMap { case (ws, i) =>
      Seq(StrDoc(s"t$i", ws.mkString(" ")), // exact dup
        StrDoc(s"n$i", edit(ws, 1 + i % 4).mkString(" ")), // near dup, 1-4 edits
        StrDoc(s"f$i", words(24).mkString(" "))) // fresh
    } ++ Seq(StrDoc("t_twin", twin), StrDoc("n_twin", twin.replaceFirst("w", "x")),
      StrDoc("n_dup", (bases(0).init :+ "z").mkString(" ")),
      StrDoc("t_null", null), StrDoc("t_empty", ""),
      StrDoc(null, bases(1).mkString(" ")), StrDoc(null, (bases(2).init :+ "z").mkString(" ")))

    val store = StreamingOps.dedupStore(existing.toDF("doc_id", "text"), "doc_id", "text")
      .persist()
    val batchDocs = incoming.toDF()
    val expected = multiset(relationalDedupStream(batchDocs, store, "doc_id", "text").collect())
    // the corpus reaches every case the differential is about
    assert(expected.contains((("t_twin", "exact_dup", "｡", None))))
    assert(expected.keys.exists(r => r._1 == null && r._2 == "exact_dup"))
    assert(expected.keys.exists(r => r._1 == null && r._2 == "near_dup"))
    assert(expected.exists { case (r, n) => r._3 == "dup" && r._2 == "near_dup" && n >= 2 })
    assert(expected.exists { case (r, n) => r._3.startsWith("s") && n >= 2 },
      "some doc collides with one store row in several bands")
    assert(expected.keys.exists(r => r._2 == "near_dup" && r._4.exists(_ < 1.0)))

    assert(multiset(StreamingOps
      .incrementalDedupStream(batchDocs, store, "doc_id", "text").collect()) == expected)

    val input = MemoryStream[StrDoc]
    val queries = Seq(
      "incdedup_index" -> StreamingOps.incrementalDedupStream(
        input.toDF(), store, "doc_id", "text"),
      "incdedup_relational" -> relationalDedupStream(input.toDF(), store, "doc_id", "text"))
      .map { case (name, df) =>
        df.writeStream.format("memory").queryName(name).outputMode("append").start()
      }
    incoming.grouped(11).foreach { batch =>
      input.addData(batch: _*)
      queries.foreach(_.processAllAvailable())
    }
    queries.foreach(_.stop())
    assert(multiset(spark.table("incdedup_relational").collect()) == expected)
    assert(multiset(spark.table("incdedup_index").collect()) == expected)
    store.unpersist()
  }

  test("incrementalDedupStream: after the first micro-batch, each runs at " +
    "most one job and writes no shuffle bytes") {
    // Named in advance: the relational form ran 6 jobs and a 294 KB shuffle
    // per micro-batch (the store's exact keys re-aggregated, both broadcast
    // relations rebuilt). Job counts repeat exactly, unlike timings.
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(7L)
    val texts = Seq.fill(30)(Seq.fill(20)(s"w${rnd.nextInt(50)}").mkString(" "))
    val store = StreamingOps.dedupStore(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "doc_id", "text").persist()
    val input = MemoryStream[IncDoc]
    val q = StreamingOps.incrementalDedupStream(input.toDF(), store, "doc_id", "text")
      .writeStream.format("memory").queryName("incdedup_budget")
      .outputMode("append").start()
    val group = q.runId.toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    }
    val ctx = spark.sparkContext
    ctx.addSparkListener(listener)
    val perBatch = try (0 until 4).map { b =>
      org.apache.spark.graftbridge.ListenerBridge.drain(ctx)
      val (j0, s0) = (jobs.get, shuffleBytes.get)
      input.addData((0 until 6).map { i =>
        val id = b * 6 + i
        IncDoc(100L + id, if (i % 2 == 0) texts(id) else texts(id).replace("w1 ", "w2 "))
      }: _*)
      q.processAllAvailable()
      org.apache.spark.graftbridge.ListenerBridge.drain(ctx)
      (jobs.get - j0, shuffleBytes.get - s0)
    } finally {
      q.stop()
      ctx.removeSparkListener(listener)
      store.unpersist()
    }
    assert(spark.table("incdedup_budget").count() > 0)
    assert(perBatch.head._1 >= 1, s"listener saw no job: $perBatch")
    perBatch.tail.foreach { case (j, s) =>
      assert(j <= 1 && s == 0, s"per micro-batch (jobs, shuffle bytes): $perBatch")
    }
  }

  test("incrementalDedupStream's driver index fails loudly past its limits") {
    implicit val sc = spark.sqlContext
    val store = StreamingOps.dedupStore(Seq((1L, "alpha beta gamma delta"),
      (2L, "one two three four five")).toDF("doc_id", "text"), "doc_id", "text")
    assert(DedupIndex.build(store).idType == org.apache.spark.sql.types.LongType)
    val rows = intercept[IllegalStateException](DedupIndex.build(store, maxRows = 7L))
    assert(rows.getMessage.contains("too large for the driver index: 8 rows"))
    val bytes = intercept[IllegalStateException](DedupIndex.build(store, maxBytes = 100L))
    assert(bytes.getMessage.contains("limits 512000000 rows and 100 bytes"))
  }

  test("dsirBucketCountsStream counts match the batch distribution and the " +
    "shared readout reproduces batch log-ratios") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      IncDoc(1L, "the quick brown fox"), IncDoc(2L, "der schnelle fuchs"),
      IncDoc(3L, "the lazy dog sleeps"), IncDoc(4L, "den faulen hund"))
    val lang = (id: Long) => if (id % 2 == 1) "en" else "de"
    val batchDf = docs.map(d => (d.doc_id, d.text, lang(d.doc_id)))
      .toDF("doc_id", "text", "lang")

    val input = MemoryStream[IncDoc]
    input.addData(docs.take(2): _*)
    val q = StreamingOps
      .dsirBucketCountsStream(
        input.toDF().withColumn("lang",
          when(col("doc_id") % 2 === 1, "en").otherwise("de")),
        "text", col("lang") === "en", numBuckets = 16)
      .writeStream.format("memory").queryName("dsir_counts")
      .outputMode("complete").start()
    q.processAllAvailable()
    input.addData(docs.drop(2): _*) // second micro-batch folds in incrementally
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("dsir_counts")
    // distribution equals the batch aggregate over the same corpus
    val batchDist = batchDf
      .select((col("lang") === "en").as("__t"),
        explode(split(col("text"), " ")).as("__tok"))
      .withColumn("__b", conv(substring(md5(col("__tok")), 1, 8), 16, 10)
        .cast("long") % 16)
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_tgt"))
    val s = streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = batchDist.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(s == b, s"stream=$s batch=$b")
    // and the shared readout on the streamed snapshot == batch readout
    val fromStream = graft.ext.Importance.logRatiosFromDist(streamed, 16)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val fromBatch = graft.ext.Importance.logRatiosFromDist(batchDist, 16)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    assert(fromStream == fromBatch)
  }

  test("kAnonymityClassStream matches the batch audit's k side across " +
    "micro-batches") {
    implicit val sc = spark.sqlContext
    val rows = Seq(
      PrivRow("N", 1L, 100.0), PrivRow("N", 1L, 100.0), PrivRow("N", 1L, 200.0),
      PrivRow("N", 2L, 300.0),
      PrivRow("S", 1L, 400.0), PrivRow("S", 1L, 400.0))
    val input = MemoryStream[PrivRow]
    input.addData(rows.take(3): _*)
    val q = StreamingOps
      .kAnonymityClassStream(input.toDF(), Seq(col("region"), col("band")), k = 3)
      .writeStream.format("memory").queryName("kanon_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    // after batch 1 the N/1 class is already safe at k=3
    val mid = spark.table("kanon_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(mid(("N", 1L)) == ((3L, false)))
    input.addData(rows.drop(3): _*) // second micro-batch folds in
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("kanon_stream").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    val batch = graft.ext.Privacy.kAnonymity(
        rows.toDF(), Seq(col("region"), col("band")), col("salary"), k = 3, l = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(4)))
      .toMap
    assert(streamed == batch, s"stream=$streamed batch=$batch")
  }

  test("boilerplateChunkStream matches the batch doc-frequency across " +
    "micro-batches, deduping chunk repeats doc-locally") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      CorpusDoc("g1", 1L, "a b a b c d"), // "a b" twice → counts once
      CorpusDoc("g1", 2L, "a b x y"),
      CorpusDoc("g2", 3L, "a b"),
      CorpusDoc("g1", 4L, "a b q"))
    val input = MemoryStream[CorpusDoc]
    input.addData(docs.take(2): _*)
    val q = StreamingOps
      .boilerplateChunkStream(input.toDF(), "src", "text",
        chunkTokens = 2, minDocs = 3)
      .writeStream.format("memory").queryName("boiler_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    val mid = spark.table("boiler_stream").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // doc 1's repeated "a b" counted once; not boiler yet at df=2
    assert(mid(("g1", "a b")) == ((2L, false)))
    input.addData(docs.drop(2): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("boiler_stream").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // g1 "a b" reaches the absolute threshold; g2's copy is scoped apart
    assert(streamed(("g1", "a b")) == ((3L, true)))
    assert(streamed(("g2", "a b")) == ((1L, false)))
    // full differential vs the same pipeline run as one batch
    val batch = docs.toDF()
      .select(col("src").as("grp"),
        explode(array_distinct(
          graft.ext.Boilerplate.chunkArray(col("text"), 2))).as("chunk"))
      .groupBy("grp", "chunk").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed.view.mapValues(_._1).toMap == batch)
  }

  test("UpsertSink: overlapping keys across micro-batches resolve to the " +
    "latest version and a replayed batch is idempotent") {
    implicit val sc = spark.sqlContext
    val outDir = graft.Scratch.register(
      java.nio.file.Files.createTempDirectory("upsert_sink").toString)
    val input = MemoryStream[IncDoc] // doc_id = key, text = payload
    input.addData(IncDoc(1L, "v1"), IncDoc(2L, "v1"))
    val q = input.toDS().toDF()
      .writeStream.option("checkpointLocation",
        graft.Scratch.register(
        java.nio.file.Files.createTempDirectory("upsert_ckpt").toString))
      .foreachBatch(UpsertSink.writeBatch(outDir) _)
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(IncDoc(2L, "v2"), IncDoc(3L, "v1"))
    q.processAllAvailable(); q.stop()

    def state() = UpsertSink.readCurrent(spark, outDir, Seq("doc_id"),
        Seq("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "v1", 2L -> "v2", 3L -> "v1"))

    // replay batch 1 (crash-between-write-and-commit): same directory is
    // overwritten, state unchanged
    UpsertSink.writeBatch(outDir)(
      Seq(IncDoc(2L, "v2"), IncDoc(3L, "v1")).toDF(), 1L)
    assert(state() == Map(1L -> "v1", 2L -> "v2", 3L -> "v1"))
  }

  test("cusumStream with the series' own moments folds bit-identically to " +
    "the batch CUSUM, and drops late/duplicate days") {
    implicit val sc = spark.sqlContext
    import StreamingOps.DailyValue
    def d(day: Int) = java.sql.Date.valueOf(f"2024-05-$day%02d")
    val xs = Seq(100.0, 100.0, 100.0, 100.0, 200.0, 200.0, 200.0)
    val mean = xs.sum / xs.length
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.length)
    val rows = xs.zipWithIndex.map { case (x, i) => DailyValue("a", d(i + 1), x) }
    val input = MemoryStream[DailyValue]
    input.addData(rows.take(4): _*)
    val q = StreamingOps.cusumStream(input.toDS(), refMean = mean,
        refSd = sd, k = 0.5, h = 1.0)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    // late + duplicate arrivals must be dropped, not folded
    input.addData(DailyValue("a", d(2), 999.0), DailyValue("a", d(4), 999.0))
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val last = spark.table("cusum_stream").collect()
      .maxBy(_.getDate(1).getTime)
    val batch = graft.ext.ChangeDetect.cusum(
        rows.toDF("g", "day", "x")
          .select(org.apache.spark.sql.functions.col("g"),
            org.apache.spark.sql.functions.col("day"),
            org.apache.spark.sql.functions.round(
              org.apache.spark.sql.functions.col("x") * 1e6, 0)
              .cast("decimal(38,0)").as("v")),
        "g", "day", "v", k = 0.5, h = 1.0)
      .collect().head
    // same z-standardization (micro-scaling cancels), same fold -> same stats
    assert(math.abs(last.getDouble(4) - batch.getDouble(2)) < 1e-9,
      s"max_s stream ${last.getDouble(4)} batch ${batch.getDouble(2)}")
    assert(last.getLong(5) == batch.getLong(4), "alarm counts")
  }

  test("runsTestStream with the series' own mean matches the batch runs " +
    "test exactly, across micro-batch splits and dropped at-mean days") {
    implicit val sc = spark.sqlContext
    import StreamingOps.DailyValue
    def d(day: Int) = java.sql.Date.valueOf(f"2024-06-$day%02d")
    // mean = 20; day 4 sits exactly at it and must be dropped by both forms
    val xs = Seq(10.0, 30.0, 10.0, 20.0, 30.0, 30.0, 10.0)
    val mean = 20.0
    val rows = xs.zipWithIndex.map { case (x, i) => DailyValue("a", d(i + 1), x) }
    val input = MemoryStream[DailyValue]
    input.addData(rows.take(3): _*)
    val q = StreamingOps.runsTestStream(input.toDS(), refMean = mean)
      .writeStream.format("memory").queryName("runs_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val last = spark.table("runs_stream").collect()
      .maxBy(_.getDate(1).getTime)
    val batch = graft.ext.Runs.runsTest(
        rows.toDF("g", "day", "x")
          .select(col("g"), col("day"),
            round(col("x") * 1e6, 0).cast("decimal(38,0)").as("v")),
        "g", "day", "v")
      .collect().head
    assert(last.getLong(2) == batch.getLong(1), "n_up")
    assert(last.getLong(3) == batch.getLong(2), "n_down")
    assert(last.getLong(4) == batch.getLong(3), "n_runs")
    assert(math.abs(last.getDouble(5) - batch.getDouble(4)) < 1e-9, "e_runs")
  }

  test("peaksStream confirms each peak one day late and matches the batch " +
    "detector's peaks exactly") {
    implicit val sc = spark.sqlContext
    import StreamingOps.DailyValue
    def d(day: Int) = java.sql.Date.valueOf(f"2024-08-$day%02d")
    val xs = Seq(5.0, 9.0, 3.0, 7.0, 7.0, 2.0, 8.0, 1.0)
    val rows = xs.zipWithIndex.map { case (x, i) => DailyValue("a", d(i + 1), x) }
    val input = MemoryStream[DailyValue]
    input.addData(rows.take(3): _*)
    val q = StreamingOps.peaksStream(input.toDS())
      .writeStream.format("memory").queryName("peaks_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    input.addData(rows.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val stream = spark.table("peaks_stream").collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val batch = graft.ext.Series.peaks(
        rows.toDF("g", "day", "x")
          .select(col("g"), col("day"),
            col("x").cast("decimal(18,6)").as("v")),
        "g", "day", "v")
      .collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(stream.toSeq == batch.toSeq, s"stream $stream vs batch $batch")
    assert(stream.nonEmpty)
  }

  test("holtStream folds bit-identically to the batch Holt smoother " +
    "across micro-batches and ignores late/duplicate days") {
    implicit val sc = spark.sqlContext
    import StreamingOps.DailyValue
    def d(day: Int) = java.sql.Date.valueOf(f"2024-07-$day%02d")
    val xs = Seq(5.0, 9.0, 2.0, 14.0, 8.0, 11.0, 3.0)
    val rows = xs.zipWithIndex.map { case (x, i) => DailyValue("a", d(i + 1), x) }
    val input = MemoryStream[DailyValue]
    input.addData(rows.take(4): _*)
    val q = StreamingOps.holtStream(input.toDS())
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    input.addData(DailyValue("a", d(2), 999.0), DailyValue("a", d(4), 999.0))
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    q.processAllAvailable(); q.stop()
    val last = spark.table("holt_stream").collect()
      .maxBy(_.getDate(1).getTime)
    val batch = graft.ext.Forecast.holtLinear(
        rows.toDF("g", "day", "x")
          .select(col("g"), col("day"), col("x").cast("decimal(18,6)").as("x")),
        "g", "day", "x")
      .collect().head
    assert(last.getLong(2) == batch.getLong(1), "n_days")
    assert(last.getDouble(3) == batch.getDouble(2), "level bit-identical")
    assert(last.getDouble(4) == batch.getDouble(3), "trend bit-identical")
    assert(last.getDouble(6) == batch.getDouble(5), "mae bit-identical")
  }

  test("enrichAsOfStream matches the batch point-in-time join on an SCD2 " +
    "dimension and honors a refresh between micro-batches") {
    implicit val sc = spark.sqlContext
    // SCD2 dimension: user 1 is "bronze" [0, 100), "gold" [100, null)
    def dim(rows: Seq[(Long, String, Long, Option[Long])]) =
      rows.toDF("duser", "tier", "valid_from", "valid_until")
        .select(col("duser"), col("tier"), col("valid_from"),
          col("valid_until").cast("long").as("valid_until"))
    val d1 = dim(Seq((1L, "bronze", 0L, Some(100L)), (1L, "gold", 100L, None)))
    val input = MemoryStream[IncDoc] // (doc_id = fact ts, text = unused)
    val facts = input.toDF()
      .select(lit(1L).as("fuser"), col("doc_id").as("fts"))
    val q = StreamingOps
      .enrichAsOfStream(facts, d1, "fuser", "duser", "fts",
        "valid_from", "valid_until")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    input.addData(IncDoc(50L, ""), IncDoc(100L, ""), IncDoc(250L, ""))
    q.processAllAvailable(); q.stop()
    val out = spark.table("asof_stream").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) null else r.getString(3)))
      .toMap
    assert(out == Map(50L -> "bronze", 100L -> "gold", 250L -> "gold"))
    // batch as-of twin over the same facts agrees
    val factsB = Seq((1L, 50L), (1L, 100L), (1L, 250L)).toDF("fuser", "fts")
    val batch = graft.ext.AsOfJoin.asOf(factsB,
        d1.select(col("duser"), col("valid_from"), col("tier")),
        "fuser", "duser", "fts", "valid_from", Seq("tier"))
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(batch == Map(50L -> "bronze", 100L -> "gold", 250L -> "gold"))
  }

  test("alwaysValidPStream tracks the exact batch mSPRT p within 1e-9 and " +
    "its p_min is monotone across micro-batches") {
    implicit val sc = spark.sqlContext
    import StreamingOps.AvRow
    def day(d: Int, shift: Long) = (1 to 12).flatMap(i => Seq(
      AvRow("s", "A", (20000000L + shift * 1000000L + i % 3 * 1000000L)),
      AvRow("s", "B", (10000000L + i % 3 * 1000000L))))
    val d1 = day(1, 0); val d2 = day(2, 2)
    val input = MemoryStream[AvRow]
    input.addData(d1: _*)
    val q = StreamingOps.alwaysValidPStream(input.toDS(), rho = 1.0)
      .writeStream.format("memory").queryName("av_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    val p1 = spark.table("av_stream").collect().last.getDouble(3)
    input.addData(d2: _*)
    q.processAllAvailable(); q.stop()
    val fin = spark.table("av_stream").collect().maxBy(_.getLong(1))
    val p2 = fin.getDouble(3); val pMin = fin.getDouble(4)
    assert(pMin <= math.min(p1, p2) + 1e-12)
    // batch twin over the identical two-day prefix (vm micro-units -> /1e6)
    val batchDf = (d1.map(r => (r.segment, "2024-03-01", r.arm, r.vm / 1e6)) ++
      d2.map(r => (r.segment, "2024-03-02", r.arm, r.vm / 1e6)))
      .toDF("seg", "day", "arm", "v")
      .select(col("seg"), col("day").cast("date").as("day"), col("arm"),
        col("v"))
    val batch = graft.ext.Experiment
      .alwaysValidPValue(batchDf, "seg", "day", "arm", "v", rho = 1.0)
      .orderBy("day").collect()
    // batch p is rounded to 6; the stream is unrounded double accumulation
    assert(math.abs(batch.last.getDouble(5) - p2) < 1e-6 + 1e-9,
      s"batch ${batch.last.getDouble(5)} stream $p2")
  }

  test("powerMdeStream equals the batch MDE readout after each micro-batch") {
    implicit val sc = spark.sqlContext
    val rows = Seq(
      PrivRow("seg1", 0L, 10.0), PrivRow("seg1", 1L, 14.0),
      PrivRow("seg1", 2L, 11.0), PrivRow("seg1", 3L, 19.0),
      PrivRow("seg1", 4L, 12.5), PrivRow("seg1", 5L, 13.5))
    def withArm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("arm", when(col("band") % 2 === 0, "A").otherwise("B"))
    val input = MemoryStream[PrivRow]
    input.addData(rows.take(4): _*)
    val q = StreamingOps
      .powerMdeStream(withArm(input.toDF()), "region", "arm", "salary")
      .writeStream.format("memory").queryName("mde_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    def snapshot() = spark.table("mde_stream").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(5)))
      .toSeq.sorted
    def batch(n: Int) = graft.ext.Experiment
      .powerMde(withArm(rows.take(n).toDF()), "region", "arm", "salary")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(5)))
      .toSeq.sorted
    assert(snapshot() == batch(4))
    input.addData(rows.drop(4): _*)
    q.processAllAvailable(); q.stop()
    assert(snapshot() == batch(6))
  }

  final case class Ev(ts: Timestamp, event_type: String, value: Double)

  test("hourlyStats aggregates a stream incrementally with watermark") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Ev]
    // data must be added BEFORE an AvailableNow query starts: the trigger snapshots
    // available offsets at start, so a late addData races a zero-row completion
    input.addData(Ev(ts(0), "click", 1.0), Ev(ts(10), "click", 2.0),
      Ev(ts(70), "view", 5.0))
    val query = StreamingOps.hourlyStats(input.toDF(), watermark = "2 hours")
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val out = spark.table("hourly_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2)).toMap
    assert(out.values.sum == 3)
    assert(out.exists { case ((_, t), n) => t == "click" && n == 2 })
  }

  test("streaming sessionize emits closed sessions via flatMapGroupsWithState") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    val query = StreamingOps.sessionize(input.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    // batch 1: user 1 events 0-20min (one open session), user 2 at 0
    input.addData(StreamingOps.SessionEvent(1L, ts(0), 1.0),
      StreamingOps.SessionEvent(1L, ts(20), 2.0),
      StreamingOps.SessionEvent(2L, ts(0), 9.0))
    query.processAllAvailable()
    // batch 2: user 1 event at 120min → closes the first session (gap > 30min)
    input.addData(StreamingOps.SessionEvent(1L, ts(120), 3.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("sessions_out").as[StreamingOps.SessionOut].collect()
    assert(out.exists(s => s.user_id == 1L && s.n_events == 2 && s.sum_value == 3.0),
      s"got ${out.mkString(";")}")
  }

  test("collapseRunsStream emits closed runs matching batch collapseRuns") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{RunEvent, RunOut}
    val input = MemoryStream[RunEvent]
    val query = StreamingOps.collapseRunsStream(input.toDS())
      .writeStream.format("memory").queryName("runs_out")
      .outputMode("append").start()
    // user 1: A A | B (closes A run) | B A (closes B run); user 2: X only (open)
    input.addData(RunEvent(1L, ts(0), 1L, "A"), RunEvent(1L, ts(1), 2L, "A"),
      RunEvent(2L, ts(0), 10L, "X"))
    query.processAllAvailable()
    input.addData(RunEvent(1L, ts(5), 3L, "B"))
    query.processAllAvailable()
    input.addData(RunEvent(1L, ts(6), 4L, "B"), RunEvent(1L, ts(9), 5L, "A"))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("runs_out").as[RunOut].collect()
      .map(r => (r.user_id, r.run_id, r.value, r.valid_from, r.valid_to,
        r.valid_until, r.n_events)).toSet

    val batch = graft.ext.Runs.collapseRuns(
        Seq((1L, ts(0).getTime, 1L, "A"), (1L, ts(1).getTime, 2L, "A"),
          (2L, ts(0).getTime, 10L, "X"), (1L, ts(5).getTime, 3L, "B"),
          (1L, ts(6).getTime, 4L, "B"), (1L, ts(9).getTime, 5L, "A"))
          .toDF("user_id", "ms", "event_id", "event_type"),
        "user_id", "ms", "event_id", "event_type")
      .filter($"valid_until".isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // open runs (user 1's trailing A, user 2's X) must NOT be emitted
    assert(!streamed.exists(r => r._1 == 2L))
    assert(!streamed.exists(r => r._1 == 1L && r._3 == "A" && r._4 == ts(9).getTime))
  }

  test("compactLatestStream: upsert stream matches batch compaction under " +
      "shuffled cross-batch delivery") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{ChangeEvent, CompactOut}
    val input = MemoryStream[ChangeEvent]
    val query = StreamingOps.compactLatestStream(input.toDS())
      .writeStream.format("memory").queryName("compact_out")
      .outputMode("update").start()
    // key 1: upserts arriving OUT OF ORDER across batches (30 before 20)
    // key 2: delete arrives last → tombstone
    // key 3: old delete then a later upsert → resurrect
    input.addData(ChangeEvent(1L, 10L, "put", "v1"), ChangeEvent(1L, 30L, "put", "v3"),
      ChangeEvent(2L, 10L, "put", "x"))
    query.processAllAvailable()
    input.addData(ChangeEvent(1L, 20L, "put", "v2"), ChangeEvent(3L, 10L, "del", null))
    query.processAllAvailable()
    input.addData(ChangeEvent(2L, 40L, "del", null), ChangeEvent(3L, 50L, "put", "back"))
    query.processAllAvailable()
    query.stop()
    // update-mode memory sink appends each emission; n_versions grows
    // monotonically, so max-n per key IS the final state
    val fin = spark.table("compact_out").as[CompactOut].collect()
      .groupBy(_.key).map { case (k, rows) => k -> rows.maxBy(_.n_versions) }
    assert(fin(1L) == CompactOut(1L, 30L, "put", "v3", 3L, live = true))
    assert(fin(2L) == CompactOut(2L, 40L, "del", null, 2L, live = false))
    assert(fin(3L) == CompactOut(3L, 50L, "put", "back", 2L, live = true))

    // batch differential on the same changelog: live keys match exactly
    val batch = graft.ext.Compaction.compactLatest(
        Seq((1L, 10L, "put", "v1"), (1L, 30L, "put", "v3"), (2L, 10L, "put", "x"),
          (1L, 20L, "put", "v2"), (3L, 10L, "del", null.asInstanceOf[String]),
          (2L, 40L, "del", null.asInstanceOf[String]), (3L, 50L, "put", "back"))
          .toDF("key", "ver", "op", "payload"),
        Seq("key"), Seq("ver"), tombstone = $"op" === "del")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4))).toMap
    val live = fin.filter(_._2.live)
      .map { case (k, o) => k -> ((o.ver, o.op, o.payload, o.n_versions)) }
    assert(live == batch, s"stream $live vs batch $batch")
  }

  final case class Doc(ts: Timestamp, doc_id: Long, text: String)

  test("streaming funnel advances per-user stages across batches, matching batch semantics") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{FunnelEvent, StageReached}
    val stages = Seq("view", "click", "purchase")
    val input = MemoryStream[FunnelEvent]
    val query = StreamingOps.funnelStream(input.toDS(), stages)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    // batch 1: user 1 view+click; user 2 clicks BEFORE viewing (click must not count)
    input.addData(FunnelEvent(1L, ts(0), "view"), FunnelEvent(1L, ts(1), "click"),
      FunnelEvent(2L, ts(0), "click"), FunnelEvent(2L, ts(1), "view"))
    query.processAllAvailable()
    // batch 2: user 1 completes; user 2's purchase doesn't count (no click since view)
    input.addData(FunnelEvent(1L, ts(2), "purchase"), FunnelEvent(2L, ts(2), "purchase"))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("funnel_out").as[StageReached].collect()
      .map(r => (r.user_id, r.stage_name)).toSet
    assert(out == Set((1L, "view"), (1L, "click"), (1L, "purchase"), (2L, "view")),
      s"got $out")
    // matches the batch operator on the same events
    val batch = graft.ext.Funnel.funnelCounts(
      Seq((1L, ts(0), "view"), (1L, ts(1), "click"), (1L, ts(2), "purchase"),
        (2L, ts(0), "click"), (2L, ts(1), "view"), (2L, ts(2), "purchase"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", stages).collect().head
    // each user emits each reached stage exactly once, so users reaching
    // stage i == pairs named stages(i)
    val streamCounts = stages.map(st => out.count(_._2 == st).toLong)
    assert(streamCounts == Seq(batch.getLong(0), batch.getLong(1), batch.getLong(2)))
  }

  test("sessionizeLate: out-of-order arrivals fold correctly; idle session closes by timeout") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{SessionEvent, SessionOut}
    val input = MemoryStream[SessionEvent]
    val query = StreamingOps.sessionizeLate(input.toDS(), gapMs = 30 * 60000L,
        allowedLateness = "30 minutes")
      .writeStream.format("memory").queryName("sessions_late_out")
      .outputMode("append").start()
    // the session's LAST event arrives first; earlier events follow a batch later
    input.addData(SessionEvent(1L, ts(20), 2.0))
    query.processAllAvailable()
    input.addData(SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(10), 4.0))
    query.processAllAvailable()
    // sentinels push the watermark past the session's gap horizon — the session
    // must close WITHOUT any further user-1 event
    input.addData(SessionEvent(99L, ts(500), 0.0))
    query.processAllAvailable()
    input.addData(SessionEvent(99L, ts(1000), 0.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("sessions_late_out").as[SessionOut].collect()
      .filter(_.user_id == 1L)
    assert(out.length == 1, s"got ${out.mkString(";")}")
    val s = out.head
    assert(s.n_events == 3 && s.sum_value == 7.0 &&
      s.start_ms == ts(0).getTime && s.end_ms == ts(20).getTime, s"got $s")
  }

  test("funnelStreamLate matches batch funnel under shuffled cross-batch arrival") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{FunnelEvent, StageReached}
    val stages = Seq("view", "click", "purchase")
    val input = MemoryStream[FunnelEvent]
    val query = StreamingOps.funnelStreamLate(input.toDS(), stages, "30 minutes")
      .writeStream.format("memory").queryName("funnel_late_out")
      .outputMode("append").start()
    // user 1's view arrives a batch AFTER its click+purchase; user 2's purchase
    // arrives between view and click in event time but must not count
    input.addData(FunnelEvent(1L, ts(5), "click"), FunnelEvent(1L, ts(10), "purchase"),
      FunnelEvent(2L, ts(0), "view"))
    query.processAllAvailable()
    input.addData(FunnelEvent(1L, ts(0), "view"),
      FunnelEvent(2L, ts(2), "click"), FunnelEvent(2L, ts(1), "purchase"))
    query.processAllAvailable()
    // sentinels push the watermark far past every real event; a second round
    // lets the event-time timeouts fire and flush the buffered users
    input.addData(FunnelEvent(999L, ts(10000), "view"))
    query.processAllAvailable()
    input.addData(FunnelEvent(999L, ts(20000), "view"))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("funnel_late_out").as[StageReached].collect()
      .filter(_.user_id != 999L).map(r => (r.user_id, r.stage_name)).toSet
    assert(out == Set((1L, "view"), (1L, "click"), (1L, "purchase"),
      (2L, "view"), (2L, "click")), s"got $out")
    // equality with the batch operator over the same events in proper order
    val batch = graft.ext.Funnel.funnelCounts(
      Seq((1L, ts(0), "view"), (1L, ts(5), "click"), (1L, ts(10), "purchase"),
        (2L, ts(0), "view"), (2L, ts(1), "purchase"), (2L, ts(2), "click"))
        .toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", stages).collect().head
    val streamCounts = stages.indices.map(i => out.count(_._2 == stages(i)).toLong)
    assert(streamCounts == Seq(batch.getLong(0), batch.getLong(1), batch.getLong(2)))
  }

  final case class RawDoc(doc_id: Long, text: String)

  test("streaming contamination scores docs against a static benchmark, statelessly") {
    implicit val sc = spark.sqlContext
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val input = MemoryStream[RawDoc]
    input.addData(
      RawDoc(1L, "alpha beta gamma delta epsilon zeta eta iota"), // near-copy
      RawDoc(2L, "totally different content with no overlap at all"))
    val query = StreamingOps.contaminationStream(input.toDF(), bench)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val out = spark.table("contam_out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_sh"), r.getAs[Long]("n_hit"), r.getAs[Double]("contamination")))
      .toMap
    assert(out(1L) == (6L, 5L, 0.833333)) // matches the batch operator's fixture
    assert(out(2L) == (6L, 0L, 0.0))
  }

  test("streaming minhash emits near-dup candidates incrementally, matching batch LSH") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val input = MemoryStream[RawDoc]
    val query = StreamingOps.minhashCandidatesStream(input.toDF())
      .writeStream.format("memory").queryName("mh_cand_out")
      .outputMode("append").start()
    // batch 1: exact dup (1,2), near dup 3, unrelated 4
    input.addData(RawDoc(1L, base), RawDoc(2L, base),
      RawDoc(3L, base.replace("today", "tonight")),
      RawDoc(4L, "completely different words about spark query engines and data processing"))
    query.processAllAvailable()
    val afterBatch1 = spark.table("mh_cand_out").as[StreamingOps.CandidatePair]
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(afterBatch1.contains((1L, 2L)), s"got $afterBatch1")
    assert(afterBatch1.contains((1L, 3L)) || afterBatch1.contains((2L, 3L)),
      s"near-dup missed: $afterBatch1")
    assert(!afterBatch1.exists(p => p._1 == 4L || p._2 == 4L))
    // batch 2: a late copy of the base doc → candidate against the stored canonical
    input.addData(RawDoc(5L, base))
    query.processAllAvailable()
    query.stop()
    val all = spark.table("mh_cand_out").as[StreamingOps.CandidatePair]
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(all.contains((1L, 5L)), s"cross-batch dup missed: $all")
  }

  final case class TsDoc(ts: Timestamp, doc_id: Long, text: String)

  test("winnow TTL candidates: shared-passage docs pair in-horizon, late " +
      "rows drop, expired buckets re-seed, batch twin agrees") {
    implicit val sc = spark.sqlContext
    import graft.ext.Winnowing
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "orbital mechanics of interplanetary transfer windows explained"
    val third = "completely distinct text about sourdough bread fermentation"
    val input = MemoryStream[TsDoc]
    val query = StreamingOps.winnowCandidatesStreamTtl(input.toDF(), "ts",
        ttlMs = 60 * 60000L) // 1 hour of event time
      .writeStream.format("memory").queryName("wn_ttl_out")
      .outputMode("append").start()
    // docs 1/2 share the whole base passage (>> w+k-1 chars): guaranteed
    // shared fingerprint; doc 3 is unrelated
    input.addData(TsDoc(ts(0), 1L, base),
      TsDoc(ts(10), 2L, base + " with a different ending entirely"))
    query.processAllAvailable()
    input.addData(TsDoc(ts(20), 3L, other))
    query.processAllAvailable()
    // 3 hours later: watermark passes the TTL horizon (and ts(20))
    input.addData(TsDoc(ts(180), 7L, third))
    query.processAllAvailable()
    input.addData(TsDoc(ts(200), 8L, third + " varied"))
    query.processAllAvailable()
    // LATE row (event time far behind the watermark): dropped before the
    // stateful op — its base text must not pair with anything
    input.addData(TsDoc(ts(5), 9L, base))
    query.processAllAvailable()
    // recurrence after expiry: re-seeds, no cross-epoch pair with 1/2
    input.addData(TsDoc(ts(210), 5L, base))
    query.processAllAvailable()
    input.addData(TsDoc(ts(215), 6L, base))
    query.processAllAvailable()
    query.stop()
    val pairs = spark.table("wn_ttl_out").as[StreamingOps.CandidatePair]
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(pairs.contains((1L, 2L)), s"in-horizon shared passage missed: $pairs")
    assert(!pairs.exists(p => p._1 == 9L || p._2 == 9L),
      s"late row leaked into pairing: $pairs")
    assert(!pairs.exists(p => p._2 == 5L && p._1 <= 3L),
      s"expired canonical leaked across the TTL horizon: $pairs")
    assert(pairs.contains((5L, 6L)), s"re-seeded epoch dup missed: $pairs")
    // batch twin on the first epoch's corpus: same candidate components
    val batchPairs = Winnowing.similarPairs(
        Seq((1L, base), (2L, base + " with a different ending entirely"),
          (3L, other)).toDF("doc_id", "text"),
        "doc_id", "text", k = 8, w = 4, minShared = 1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val firstEpoch = pairs.filter(p => p._1 <= 3L && p._2 <= 3L)
    assert(firstEpoch == batchPairs,
      s"streamed first-epoch pairs $firstEpoch != batch twin $batchPairs")
  }

  final case class FpDoc(ts: Timestamp, doc_id: Long, fingerprint: Long)

  test("fingerprint TTL candidates: near-dups within the horizon pair " +
      "with exact hamming, unrelated fingerprints stay unpaired, expired " +
      "buckets re-seed") {
    implicit val sc = spark.sqlContext
    val base = 0x0123456789abcdefL
    val near = base ^ (1L << 5) ^ (1L << 40) // hamming 2; bands 1 and 3 agree
    val far = 0x5a5a13377331a5a5L // hamming 32 vs base, no shared band
    val input = MemoryStream[FpDoc]
    val query = StreamingOps.fingerprintCandidatesStreamTtl(input.toDF(),
        "ts", ttlMs = 60 * 60000L) // 1 hour of event time
      .writeStream.format("memory").queryName("fp_ttl_out")
      .outputMode("append").start()
    input.addData(FpDoc(ts(0), 1L, base), FpDoc(ts(10), 2L, near),
      FpDoc(ts(12), 3L, far))
    query.processAllAvailable()
    // 3 hours later: an UNRELATED fingerprint advances the watermark past
    // every first-epoch bucket's TTL (watermarks lag one batch, so this
    // row itself is still judged against the old watermark — it must
    // share no band with anything live)
    input.addData(FpDoc(ts(180), 4L, 0xfedcba9876543210L))
    query.processAllAvailable()
    // base again: its old bucket expired -> re-seeds, no cross-epoch pair
    input.addData(FpDoc(ts(200), 5L, base))
    query.processAllAvailable()
    // a fresh near-dup inside the new epoch pairs against the re-seed
    input.addData(FpDoc(ts(205), 6L, base ^ (1L << 63)))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("fp_ttl_out").as[StreamingOps.HammingPair]
      .collect()
    val pairs = rows.map(p => (p.id_a, p.id_b)).toSet
    val ham = rows.map(p => (p.id_a, p.id_b) -> p.hamming).toMap
    assert(pairs.contains((1L, 2L)) && ham((1L, 2L)) == 2,
      s"in-horizon near-dup missed or wrong hamming: $rows")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated fingerprint paired: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated watermark-advancer paired: $pairs")
    assert(!pairs.exists(p => p._2 == 5L && p._1 <= 3L),
      s"expired base bucket leaked across the TTL horizon: $pairs")
    assert(pairs.contains((5L, 6L)) && ham((5L, 6L)) == 1,
      s"re-seeded epoch near-dup missed: $pairs")
    // batch differential on the first epoch: the streamed pair set equals
    // the banded batch join over the same three fingerprints
    val batch = {
      import org.apache.spark.sql.functions._
      val fps = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "fp")
      val banded = fps.select(col("id"), col("fp"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xffffL))
            .as("bits"))): _*)).as("bk"))
        .select(col("id"), col("fp"), col("bk.band").as("band"),
          col("bk.bits").as("bits"))
      banded.select(col("id").as("ia"), col("fp").as("fa"), col("band"),
          col("bits"))
        .join(banded.select(col("id").as("ib"), col("fp").as("fb"),
          col("band"), col("bits")), Seq("band", "bits"))
        .filter(col("ia") < col("ib"))
        .select(col("ia"), col("ib"),
          bit_count(col("fa").bitwiseXOR(col("fb"))).as("d"))
        .distinct().filter(col("d") <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(pairs.filter(p => p._1 <= 3L && p._2 <= 3L) == batch,
      s"streamed first-epoch pairs != batch banded join: $pairs vs $batch")
  }

  test("fingerprint TTL: a canonical doc re-arriving with a changed " +
      "fingerprint refreshes the stored one — later arrivals verify " +
      "against the NEW fingerprint, not the stale seed") {
    implicit val sc = spark.sqlContext
    val fpA = 0L
    // 8 bits set inside band 1 only: hamming(A,B) = 8 > 3, band-0 key
    // (and bands 2/3) unchanged, so id 1's re-arrival hits its own buckets
    val fpB = (0xffL << 20)
    // 1-bit flips in bands 1, 2, 3: hamming(B,C) = 3 <= 3 but every band
    // key of C except band 0 differs from BOTH A's and B's — the ONLY
    // shared bucket is (band 0, 0), so the pair exists iff that bucket's
    // canonical fingerprint was refreshed to fpB (hamming(A,C) = 9)
    val fpC = fpB ^ (1L << 21) ^ (1L << 37) ^ (1L << 53)
    val input = MemoryStream[FpDoc]
    val query = StreamingOps.fingerprintCandidatesStreamTtl(input.toDF(),
        "ts", ttlMs = 60 * 60000L)
      .writeStream.format("memory").queryName("fp_refresh_out")
      .outputMode("append").start()
    input.addData(FpDoc(ts(0), 1L, fpA))
    query.processAllAvailable()
    input.addData(FpDoc(ts(5), 1L, fpB))
    query.processAllAvailable()
    input.addData(FpDoc(ts(10), 3L, fpC))
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("fp_refresh_out").as[StreamingOps.HammingPair]
      .collect()
    assert(rows.map(p => ((p.id_a, p.id_b), p.hamming)).toSet ==
      Set(((1L, 3L), 3)),
      s"stale canonical fingerprint survived the re-arrival: ${rows.toSeq}")
  }

  final case class ShRow(ts: Timestamp, doc_id: Long, s: Int, fp: Long)

  test("shingle TTL candidates: a trimmed copy streaming in pairs against " +
      "its original at the right offset witness, TTL re-seeds, and the " +
      "first-epoch pair set matches the batch shifted operator") {
    implicit val sc = spark.sqlContext
    // driver-side sign-of-delta shingles, the same convention as
    // Multimodal.envelopeShingles at windowFrames = 1
    def shingles(samples: Array[Int]): Seq[(Int, Long)] =
      (0 to samples.length - 65).map { s =>
        var fp = 0L
        (0 until 64).foreach { b =>
          if (samples(s + b + 1) > samples(s + b)) fp |= 1L << b
        }
        (s, fp)
      }
    val rnd = new scala.util.Random(11)
    val base = Array.fill(80)(rnd.nextInt(32768))
    val copy = base.drop(5) ++ Array.fill(5)(rnd.nextInt(32768))
    val other = Array.fill(80)(rnd.nextInt(32768))
    def rows(id: Long, at: Timestamp, ss: Array[Int]): Seq[ShRow] =
      shingles(ss).map { case (s, fp) => ShRow(at, id, s, fp) }
    val input = MemoryStream[ShRow]
    val query = StreamingOps.shingleCandidatesStreamTtl(input.toDF(), "ts",
        ttlMs = 60 * 60000L)
      .writeStream.format("memory").queryName("sh_ttl_out")
      .outputMode("append").start()
    input.addData(rows(1L, ts(0), base): _*)
    query.processAllAvailable()
    input.addData(rows(2L, ts(10), copy) ++ rows(3L, ts(12), other): _*)
    query.processAllAvailable()
    // 3 hours later an unrelated doc advances the watermark past the TTL
    input.addData(rows(4L, ts(180), Array.fill(80)(rnd.nextInt(32768))): _*)
    query.processAllAvailable()
    // base re-arrives after expiry: re-seeds, then its fresh copy pairs
    input.addData(rows(5L, ts(200), base): _*)
    query.processAllAvailable()
    input.addData(rows(6L, ts(205), base): _*)
    query.processAllAvailable()
    query.stop()
    val got = spark.table("sh_ttl_out").as[StreamingOps.ShinglePair].collect()
    val pairs = got.map(p => (p.id_a, p.id_b)).toSet
    // min (hamming, offset) witness per pair — the batch groupBy's reduce
    val best = got.groupBy(p => (p.id_a, p.id_b)).map { case (k, ps) =>
      k -> ps.map(p => (p.hamming, p.offset_windows)).min
    }
    assert(pairs.contains((1L, 2L)) && best((1L, 2L)) == ((0, 5)),
      s"trimmed copy missed or wrong witness: ${best.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L) &&
      !pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated blob paired: $pairs")
    assert(!pairs.exists(p => p._2 == 5L && p._1 < 5L),
      s"expired bucket leaked across the TTL horizon: $pairs")
    assert(pairs.contains((5L, 6L)) && best((5L, 6L)) == ((0, 0)),
      s"re-seeded epoch dup missed: ${best.toSeq}")
    // batch differential on the first epoch's media (real WAV round-trip)
    val wav = Multimodal.synthPcmWav(
      Seq((1L, base.toSeq), (2L, copy.toSeq), (3L, other.toSeq))
        .toDF("doc_id", "samples"), "samples", sampleRate = 16000)
    val batch = Multimodal.audioDupPairsShifted(wav, "doc_id", "media",
        maxHamming = 3, windowFrames = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3)))).toMap
    val firstEpoch = best.filter { case ((a, b), _) => a <= 3L && b <= 3L }
    assert(firstEpoch == batch,
      s"streamed first-epoch witnesses $firstEpoch != batch twin $batch")
  }

  test("minhash TTL: buckets expire past the horizon, dups within it still pair") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away today"
    val other = "completely different words about spark query engines and data processing"
    val input = MemoryStream[TsDoc]
    val query = StreamingOps.minhashCandidatesStreamTtl(input.toDF(), "ts",
        ttlMs = 60 * 60000L) // 1 hour of event time
      .writeStream.format("memory").queryName("mh_ttl_out")
      .outputMode("append").start()
    // dup pair well inside the horizon
    input.addData(TsDoc(ts(0), 1L, base), TsDoc(ts(10), 2L, base))
    query.processAllAvailable()
    // unrelated docs 3 hours later advance the watermark past the TTL
    input.addData(TsDoc(ts(180), 3L, other))
    query.processAllAvailable()
    input.addData(TsDoc(ts(200), 4L, other))
    query.processAllAvailable()
    // same text again: the old canonical has expired → no cross-epoch pair
    input.addData(TsDoc(ts(210), 5L, base))
    query.processAllAvailable()
    // a fresh dup inside the new epoch pairs against the re-seeded canonical
    input.addData(TsDoc(ts(215), 6L, base))
    query.processAllAvailable()
    query.stop()
    val pairs = spark.table("mh_ttl_out").as[StreamingOps.CandidatePair]
      .collect().map(p => (p.id_a, p.id_b)).toSet
    assert(pairs.contains((1L, 2L)), s"in-horizon dup missed: $pairs")
    assert(!pairs.exists(p => p._2 == 5L && p._1 <= 2L),
      s"expired canonical leaked across the TTL horizon: $pairs")
    assert(pairs.contains((5L, 6L)), s"re-seeded epoch dup missed: $pairs")
  }

  test("streaming exact dedup passes first occurrence only, across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Doc]
    val query = StreamingOps.dedupExactStream(input.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData(Doc(ts(0), 1L, "alpha"), Doc(ts(1), 2L, "beta"),
      Doc(ts(2), 3L, "alpha")) // in-batch duplicate
    query.processAllAvailable()
    input.addData(Doc(ts(5), 4L, "alpha"), Doc(ts(6), 5L, "gamma")) // cross-batch dup
    query.processAllAvailable()
    query.stop()
    val out = spark.table("dedup_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    assert(out.map(_._2).sorted.toSeq == Seq("alpha", "beta", "gamma"),
      s"got ${out.mkString(";")}")
    assert(out.toMap.get(1L).contains("alpha")) // the FIRST alpha won
  }

  test("urlDedupStream passes the first fetch per canonical URL and drops " +
      "scheme/case/port/param variants; guard classifies bounded") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[UrlFetch]
    val op = StreamingOps.urlDedupStream(input.toDF(), watermark = "1 hour")
    // the within-watermark dedup keyed on a fixed-width md5 is bounded state
    assert(graft.plans.StreamStateGuard.audit(op).forall(_.bounded),
      s"guard: ${graft.plans.StreamStateGuard.audit(op)}")
    val query = op.writeStream.format("memory").queryName("urldedup_out")
      .outputMode("append").start()
    input.addData(
      UrlFetch(ts(0), 1L, "HTTPS://WWW.A.COM:443/x?utm_source=f&id=1"),
      UrlFetch(ts(1), 2L, "https://a.com/x?id=1"),          // in-batch variant
      UrlFetch(ts(2), 3L, "https://a.com/y?id=1"))          // different path
    query.processAllAvailable()
    input.addData(
      UrlFetch(ts(5), 4L, "Https://a.com/x/?id=1&fbclid=z"), // cross-batch variant
      UrlFetch(ts(6), 5L, "http://a.com/x?id=1"))            // http ≠ https
    query.processAllAvailable()
    query.stop()
    val out = spark.table("urldedup_out").collect()
      .map(r => r.getAs[Long]("doc_id")).sorted.toSeq
    assert(out == Seq(1L, 3L, 5L), s"got $out")
    // differential: survivors = one per batch dupClusters canonical key
    val batch = graft.ext.UrlCanonical.canonicalize(
        Seq((1L, "HTTPS://WWW.A.COM:443/x?utm_source=f&id=1"),
          (2L, "https://a.com/x?id=1"), (3L, "https://a.com/y?id=1"),
          (4L, "Https://a.com/x/?id=1&fbclid=z"), (5L, "http://a.com/x?id=1"))
          .toDF("doc_id", "url"), "url")
      .groupBy(col("canonical_url")).agg(min(col("doc_id")).as("first_id"))
      .collect().map(_.getAs[Long]("first_id")).sorted.toSeq
    assert(batch == out, s"stream $out vs batch first-seen $batch")
  }

  test("attributionStream last-touch credit matches batch channelCredit") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{AttribEvent, AttributedConv}
    val input = MemoryStream[AttribEvent]
    val query = StreamingOps.attributionStream(input.toDS(),
        Set("view", "click"), "purchase", lookbackMs = 1000000L)
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    // user 1 conv A: view, click -> last = click; conv B: view only
    input.addData(AttribEvent(1L, 1L, ts(0), "view"),
      AttribEvent(1L, 2L, ts(10), "click"))
    query.processAllAvailable()
    input.addData(AttribEvent(1L, 3L, ts(20), "purchase"),
      AttribEvent(1L, 4L, ts(30), "view"))
    query.processAllAvailable()
    // cross-batch: the view from the previous batch credits this purchase
    input.addData(AttribEvent(1L, 5L, ts(40), "purchase"),
      // user 2: purchase with NO prior touch -> unattributed
      AttribEvent(2L, 6L, ts(40), "purchase"),
      // user 2: ignored event types never become touches
      AttribEvent(2L, 7L, ts(50), "error"),
      AttribEvent(2L, 8L, ts(60), "purchase"))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("attrib_out").as[AttributedConv].collect()
      .map(r => (r.user_id, r.conv_id, r.channel)).toSet
    assert(streamed == Set((1L, 3L, "click"), (1L, 5L, "view")))

    // batch last-touch totals agree per channel
    val events = Seq(
      (1L, 1L, ts(0), "view"), (1L, 2L, ts(10), "click"),
      (1L, 3L, ts(20), "purchase"), (1L, 4L, ts(30), "view"),
      (1L, 5L, ts(40), "purchase"), (2L, 6L, ts(40), "purchase"),
      (2L, 7L, ts(50), "error"), (2L, 8L, ts(60), "purchase")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val batch = graft.ext.Attribution.channelCredit(events, "ts", "user_id",
        "event_type", "event_id", Seq("view", "click"), "purchase", 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val streamedPerChannel = streamed.toSeq.groupBy(_._3)
      .view.mapValues(_.size.toLong).toMap
    assert(streamedPerChannel == batch,
      s"stream $streamedPerChannel vs batch $batch")
  }

  test("attributionStream: lookback expiry drops stale touches") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{AttribEvent, AttributedConv}
    val input = MemoryStream[AttribEvent]
    val query = StreamingOps.attributionStream(input.toDS(),
        Set("view"), "purchase", lookbackMs = 5L)
      .writeStream.format("memory").queryName("attrib_stale")
      .outputMode("append").start()
    input.addData(AttribEvent(1L, 1L, ts(0), "view"),
      AttribEvent(1L, 2L, ts(60), "purchase"))
    query.processAllAvailable()
    query.stop()
    assert(spark.table("attrib_stale").as[AttributedConv].isEmpty)
  }

  test("ewmaDailyStream: matches batch ewmaDaily across batches and gap days") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{DailyCount, EwmaOut}
    def day(s: String) = java.sql.Date.valueOf(s)
    // type A: consecutive days + a 2-day gap; type B: sparse
    val counts = Seq(
      DailyCount("A", day("2024-01-01"), 10L),
      DailyCount("A", day("2024-01-02"), 20L),
      DailyCount("A", day("2024-01-04"), 40L),
      DailyCount("B", day("2024-01-01"), 5L),
      DailyCount("B", day("2024-01-05"), 50L))
    val (b1, b2) = counts.sortBy(_.day.getTime).splitAt(3)

    val input = MemoryStream[DailyCount]
    val query = StreamingOps.ewmaDailyStream(input.toDS(), decay = 0.9)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").start()
    input.addData(b1: _*)
    query.processAllAvailable()
    input.addData(b2: _*)
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("ewma_out").as[EwmaOut].collect()
      .map(r => (r.event_type, r.day.toString) -> r.ewma).toMap

    // batch twin over raw events with the same counts (history < windowDays,
    // so the recursion and the windowed join agree exactly up to fp noise)
    val events = counts.flatMap(c => (1L to c.n_events).map(i =>
      (new Timestamp(c.day.getTime + 3600000L), c.event_type, i)))
    val batch = graft.ext.EventStats.ewmaDaily(
        events.toDF("ts", "event_type", "event_id"), "ts", "event_type",
        decay = 0.9, windowDays = 28)
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date]("day").toString) ->
        r.getDouble(3)).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (k, v) =>
      assert(approx(v, batch(k), 1e-5), s"$k stream=$v batch=${batch(k)}")
    }
  }

  test("heavyHittersStream: sharded sketches merge to the batch guarantees") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{HHItem, HHCounter}
    val rnd = new scala.util.Random(5)
    // skewed stream: item_i appears ~2^(8-i) times, plus a long random tail
    val hot = (0 until 8).flatMap(i => Seq.fill(1 << (8 - i))(s"hot_$i"))
    val tail = Seq.fill(300)(s"tail_${rnd.nextInt(150)}")
    val all = rnd.shuffle(hot ++ tail)
    def shard(s: String) = math.abs(s.hashCode) % 4
    val (b1, b2) = all.splitAt(all.size / 2)

    val input = MemoryStream[HHItem]
    val query = StreamingOps.heavyHittersStream(input.toDS(), capacity = 64)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("update").start()
    input.addData(b1.map(s => HHItem(shard(s), s)): _*)
    query.processAllAvailable()
    input.addData(b2.map(s => HHItem(shard(s), s)): _*)
    query.processAllAvailable()
    query.stop()

    // final snapshot per shard = the emission stamped with that shard's
    // maximal n_seen (stale per-item emissions from before an eviction are
    // NOT summaries of the full stream)
    val rows = spark.table("hh_out").as[HHCounter].collect()
    val lastN = rows.groupBy(_.shard).view.mapValues(_.map(_.n_seen).max).toMap
    val latest = rows.filter(r => r.n_seen == lastN(r.shard))
    // the stamp equals the true per-shard item count — nothing lost en route
    assert(lastN == all.groupBy(shard).view.mapValues(_.size.toLong).toMap)
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // SpaceSaving bounds per tracked item: est − err ≤ true ≤ est
    latest.foreach { c =>
      val t = exact(c.item)
      assert(c.est >= t && c.est - c.err <= t,
        s"${c.item}: est=${c.est} err=${c.err} true=$t")
    }
    // no false dismissal: every item above its shard's N/capacity is tracked
    val tracked = latest.map(_.item).toSet
    all.groupBy(shard).foreach { case (sh, items) =>
      val n = items.size
      items.groupBy(identity).foreach { case (item, occ) =>
        if (occ.size > n / 64)
          assert(tracked.contains(item), s"heavy $item of shard $sh dropped")
      }
    }
    // the truly hot items are all present with exact-regime tight bounds
    (0 until 8).foreach(i => assert(tracked.contains(s"hot_$i")))
  }

  test("psiDriftStream: converges to the batch PSI once the slice arrives") {
    import org.apache.spark.sql.functions.col
    implicit val sc = spark.sqlContext
    val refVals = (0 until 200).map(i => (i % 10) * 1.0)
    val curVals = (0 until 200).map(i => (i % 5) * 2.0) // shifted: odd bins empty
    val ref = refVals.toDF("v")

    val input = MemoryStream[Double]
    val query = StreamingOps
      .psiDriftStream(input.toDF().withColumnRenamed("value", "v"), ref, "v")
      .writeStream.format("memory").queryName("psi_out")
      .outputMode("complete").start()
    // the slice arrives over three micro-batches
    curVals.grouped(80).foreach { chunk =>
      input.addData(chunk: _*)
      query.processAllAvailable()
    }
    query.stop()

    val streamed = spark.table("psi_out").head()
    val batch = graft.ext.Drift.psi(ref, curVals.toDF("v"), "v")
      .orderBy(col("bin")).collect()

    assert(streamed.getLong(0) == 200L && streamed.getLong(1) == 200L)
    // per-bin counts identical to batch
    val bins = streamed.getSeq[org.apache.spark.sql.Row](3)
    (0 until 10).foreach { i =>
      assert(bins(i).getLong(1) == batch(i).getLong(1), s"ref bin $i")
      assert(bins(i).getLong(2) == batch(i).getLong(2), s"cur bin $i")
      assert(math.abs(bins(i).getDouble(3) - batch(i).getDouble(3)) < 1e-6)
    }
    // totals agree within fp noise (double fold vs DECIMAL accumulator)
    assert(math.abs(streamed.getDouble(2) - batch(0).getDouble(4)) < 1e-6)
    // the shift is actually flagged
    assert(streamed.getDouble(2) > 0.25)
  }

  test("psiDriftStream: mid-stream snapshots are well-formed prefixes") {
    implicit val sc = spark.sqlContext
    val ref = (0 until 100).map(i => (i % 10) * 1.0).toDF("v")
    val input = MemoryStream[Double]
    val query = StreamingOps
      .psiDriftStream(input.toDF().withColumnRenamed("value", "v"), ref, "v")
      .writeStream.format("memory").queryName("psi_out2")
      .outputMode("complete").start()
    input.addData(0.0, 1.0, 2.0)
    query.processAllAvailable()
    val snap = spark.table("psi_out2").head()
    query.stop()
    // 3 rows so far, finite PSI, all 10 bins present
    assert(snap.getLong(1) == 3L)
    assert(!snap.getDouble(2).isNaN && !snap.getDouble(2).isInfinite)
    assert(snap.getSeq[org.apache.spark.sql.Row](3).length == 10)
  }

  test("acfDailyStream converges to batch Series.acf, gaps handled") {
    import org.apache.spark.sql.functions.{col, to_date}
    implicit val sc = spark.sqlContext
    // alternating series with one calendar gap (day 6 missing)
    val days = (1 to 12).filter(_ != 6)
    val vals = days.map(d => StreamingOps.DailyValue("s",
      java.sql.Date.valueOf(f"2024-01-$d%02d"), if (d % 2 == 0) 10.0 else 20.0))

    val input = MemoryStream[StreamingOps.DailyValue]
    val query = StreamingOps.acfDailyStream(input.toDS(), maxLag = 4)
      .writeStream.format("memory").queryName("acf_out")
      .outputMode("update").start()
    vals.grouped(4).foreach { chunk =>
      input.addData(chunk: _*)
      query.processAllAvailable()
    }
    query.stop()

    // latest snapshot per lag = the row with the highest n_pairs
    val streamed = spark.table("acf_out").collect()
      .groupBy(_.getInt(1)).map { case (lag, rows) =>
        val last = rows.maxBy(_.getLong(2))
        lag.toLong -> (last.getLong(2), last.getDouble(3))
      }
    val batch = graft.ext.Series.acf(
        vals.map(v => (v.day.toString, v.x)).toDF("ds", "x")
          .select(to_date(col("ds")).as("day"), col("x")),
        "day", "x", maxLag = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    batch.foreach { case (lag, (nB, acfB)) =>
      val (nS, acfS) = streamed(lag)
      assert(nS == nB, s"lag $lag pair count: stream $nS vs batch $nB")
      if (!acfB.isNaN)
        assert(math.abs(acfS - acfB) < 1e-6, s"lag $lag: $acfS vs $acfB")
    }
    // the gap really removed pairs: lag 1 has fewer pairs than days-1
    assert(streamed(1L)._1 < days.length - 1)
  }

  test("bhFdrCountsStream + bhFdrFromCounts matches batch bhFdr per trigger") {
    implicit val sc = spark.sqlContext
    // group A runs hot (80% flags), B..D at 50% — arriving over 3 batches
    val rows = (1 to 100).map(i => ("A", if (i % 5 != 0) 1 else 0)) ++
      Seq("B", "C", "D").flatMap(g => (1 to 100).map(i => (g, i % 2)))
    val shuffled = new scala.util.Random(7).shuffle(rows)

    val input = MemoryStream[(String, Int)]
    val query = StreamingOps
      .bhFdrCountsStream(input.toDF().toDF("grp", "flag"), "grp", "flag")
      .writeStream.format("memory").queryName("bh_counts")
      .outputMode("complete").start()

    var seen = Seq.empty[(String, Int)]
    shuffled.grouped(150).foreach { chunk =>
      input.addData(chunk: _*)
      query.processAllAvailable()
      seen = seen ++ chunk
      // snapshot frontier == batch bhFdr over exactly the rows seen so far
      val streamed = graft.ext.Experiment
        .bhFdrFromCounts(spark.table("bh_counts"), "grp")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(5), r.getLong(6), r.getBoolean(7)))
      val batch = graft.ext.Experiment
        .bhFdr(seen.toDF("grp", "flag"), "grp", "flag")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(5), r.getLong(6), r.getBoolean(7)))
      assert(streamed.toSeq == batch.toSeq)
    }
    query.stop()
    // the hot group ends up rejected in the final snapshot
    val fin = graft.ext.Experiment
      .bhFdrFromCounts(spark.table("bh_counts"), "grp").collect()
    assert(fin.find(_.getString(0) == "A").get.getBoolean(7))
  }

  test("freshnessStream snapshot matches the batch freshness audit across " +
    "micro-batches") {
    implicit val sc = spark.sqlContext
    val b1 = Seq(SourcedEvent("feed_a", ts(0)), SourcedEvent("feed_a", ts(10)),
      SourcedEvent("feed_b", ts(5)))
    val b2 = Seq(SourcedEvent("feed_b", ts(20)), SourcedEvent("feed_c", ts(2)))
    val input = MemoryStream[SourcedEvent]
    val query = StreamingOps.freshnessStream(input.toDF(), "src", "ts")
      .writeStream.format("memory").queryName("fresh_stream")
      .outputMode("complete").start()
    input.addData(b1: _*); query.processAllAvailable()
    input.addData(b2: _*); query.processAllAvailable()
    query.stop()
    val streamed = spark.table("fresh_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val batch = graft.ext.Profiling
      .freshness((b1 ++ b2).toDF(), "src", "ts", 3600L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq,
      s"stream=$streamed batch=$batch")
    // the snapshot-level staleness projection reproduces the batch flags
    val gmax = streamed.map(_._3).max
    val flags = streamed.map(t => t._1 -> (gmax - t._3 > 300L)).toMap
    assert(flags == Map("feed_a" -> true, "feed_b" -> false, "feed_c" -> true))
  }

  test("hllRegistersStream snapshot equals the batch register table and " +
    "never loses a register across micro-batches") {
    implicit val sc = spark.sqlContext
    val b1 = (1L to 300L)
    val b2 = (200L to 500L)
    val input = MemoryStream[Long]
    val query = StreamingOps
      .hllRegistersStream(input.toDF().withColumnRenamed("value", "item_id"),
        "item_id", b = 6)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    input.addData(b1: _*); query.processAllAvailable()
    val mid = spark.table("hll_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    input.addData(b2: _*); query.processAllAvailable()
    query.stop()
    val fin = spark.table("hll_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // registers only grow
    mid.foreach { case (idx, rho) =>
      assert(fin.getOrElse(idx, 0) >= rho, s"register $idx regressed")
    }
    import spark.implicits._
    val batch = graft.ext.Sketches
      .hllRho((b1 ++ b2).toDF("item_id"), "item_id", 6)
      .groupBy(col("idx")).agg(max(col("rho")).as("mreg"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fin == batch, s"streamed registers must equal batch: " +
      s"${fin.size} vs ${batch.size}")
  }

  test("countMinSketchStream snapshot equals the batch CMS counter for " +
    "counter matrix across micro-batches") {
    implicit val sc = spark.sqlContext
    val b1 = (1L to 40L) ++ Seq.fill(10)(7L)
    val b2 = (20L to 60L) ++ Seq.fill(5)(7L)
    val input = MemoryStream[Long]
    val query = StreamingOps
      .countMinSketchStream(input.toDF().withColumnRenamed("value", "item_id"),
        "item_id", depth = 3, width = 32)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    input.addData(b1: _*); query.processAllAvailable()
    input.addData(b2: _*); query.processAllAvailable()
    query.stop()
    val streamed = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ext.Sketches
      .countMinSketch((b1 ++ b2).toDF("item_id"), "item_id",
        depth = 3, width = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      s"streaming sketch must equal batch sketch: ${streamed.size} vs ${batch.size} cells")
    // mass conservation per hash row at the snapshot
    val n = (b1 ++ b2).size.toLong
    (0 to 2).foreach { j =>
      val mass = streamed.collect { case ((jj, _), c) if jj == j => c }.sum
      assert(mass == n, s"row $j mass $mass != $n")
    }
  }

  test("cmsWindowedRegistersStream: closed windows are final, equal the " +
    "batch per-window sketch, diff recovers the planted change, and a " +
    "late row is dropped") {
    implicit val sc = spark.sqlContext
    final case class It(ts: Timestamp, item: Long)
    val input = MemoryStream[Ev]
    // window0 (min 0-59): item ids via value; window1 (min 60-119)
    val w0 = Seq(Ev(ts(0), "x", 1.0), Ev(ts(5), "x", 1.0), Ev(ts(9), "x", 2.0))
    val w1 = Seq(Ev(ts(60), "x", 1.0), Ev(ts(65), "x", 3.0),
      Ev(ts(70), "x", 3.0), Ev(ts(80), "x", 3.0))
    val query = StreamingOps.cmsWindowedRegistersStream(
        input.toDF().select(col("ts"), col("value").cast("long").as("item")),
        "item", windowDur = "1 hour", watermark = "1 hour",
        depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_win_out")
      .outputMode("append").start()
    input.addData(w0 ++ w1: _*); query.processAllAvailable()
    // advance the watermark past both windows; then a LATE row for window0
    input.addData(Ev(ts(240), "x", 9.0)); query.processAllAvailable()
    input.addData(Ev(ts(10), "x", 2.0)); query.processAllAvailable()
    query.stop()
    val out = spark.table("cms_win_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    def batchOf(items: Seq[Long]) = graft.ext.Sketches
      .countMinSketch(items.toDF("item"), "item", depth = 3, width = 64)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // tumbling windows align to epoch hour boundaries, not to ts(0)
    val t0 = ts(0).getTime / 3600000L * 3600000L
    val t1 = t0 + 3600000L
    val got0 = out.collect { case ((t, j, b), c) if t == t0 => (j, b) -> c }
    val got1 = out.collect { case ((t, j, b), c) if t == t1 => (j, b) -> c }
    assert(got0 == batchOf(Seq(1L, 1L, 2L)),
      "window0 equals the batch sketch (the late row never lands)")
    assert(got1 == batchOf(Seq(1L, 3L, 3L, 3L)), "window1 equals batch")
    // register diff = heavy change: item 3 estimates 0 -> 3 across windows
    val est3 = (0 to 2).map { j =>
      got1.getOrElse((j, item3Bucket(j, 64)), 0L)
    }.min
    val est3w0 = (0 to 2).map { j =>
      got0.getOrElse((j, item3Bucket(j, 64)), 0L)
    }.min
    assert(est3w0 == 0L && est3 == 3L,
      s"sketch diff recovers the change: $est3w0 -> $est3")
  }

  /** Reference bucket for item 3 — the md5 convention the module states. */
  private def item3Bucket(j: Int, width: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$j:3".getBytes("UTF-8"))
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    h % width
  }

  test("hdrWindowedBucketsStream: closed windows are final, equal the " +
    "batch bucket build, sub-1 values drop, and a late row is dropped") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Ev]
    // window0 (min 0-59) and window1 (min 60-119); values span octaves
    val w0 = Seq(Ev(ts(0), "x", 3.0), Ev(ts(5), "x", 17.0),
      Ev(ts(9), "x", 17.0), Ev(ts(20), "x", 250.0), Ev(ts(30), "x", 0.0))
    val w1 = Seq(Ev(ts(61), "x", 1.0), Ev(ts(70), "x", 1000.0),
      Ev(ts(80), "x", 1000.0))
    val query = StreamingOps.hdrWindowedBucketsStream(
        input.toDF(), "value", windowDur = "1 hour", watermark = "1 hour",
        k = 16)
      .writeStream.format("memory").queryName("hdr_win_out")
      .outputMode("append").start()
    input.addData(w0 ++ w1: _*); query.processAllAvailable()
    // advance the watermark far past both windows, then a LATE w0 row
    input.addData(Ev(ts(240), "x", 9.0)); query.processAllAvailable()
    input.addData(Ev(ts(10), "x", 17.0)); query.processAllAvailable()
    query.stop()
    val out = spark.table("hdr_win_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)) ->
        r.getLong(3)).toMap
    // independent bucket replay (same all-integer arithmetic)
    def bucket(v: Long): (Long, Long) = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val p2 = 1L << e
      (e.toLong, (v - p2) * 16 / p2)
    }
    def batchOf(vals: Seq[Long]) =
      vals.filter(_ >= 1).groupBy(bucket)
        .map { case (b, xs) => b -> xs.size.toLong }
    val t0 = ts(0).getTime / 3600000L * 3600000L
    val t1 = t0 + 3600000L
    val got0 = out.collect { case ((t, e, s), c) if t == t0 => (e, s) -> c }
    val got1 = out.collect { case ((t, e, s), c) if t == t1 => (e, s) -> c }
    // w0: 3, 17, 17, 250 (the 0.0 drops); the late 17 never lands
    assert(got0 == batchOf(Seq(3L, 17L, 17L, 250L)),
      s"window0 equals batch buckets: $got0")
    assert(got1 == batchOf(Seq(1L, 1000L, 1000L)), "window1 equals batch")
    // and the register table also matches the batch module's bucket build
    val batchBuckets = graft.ext.HdrHistogram.quantileAudit(
      Seq(3L, 17L, 17L, 250L).toDF("v"), "v", 16, Seq(100)).collect()
    assert(batchBuckets.head.getLong(1) == 4L,
      "batch audit sees the same 4 surviving rows")
  }

  test("merkleRegistersStream snapshot equals the batch leaf digest build") {
    implicit val sc = spark.sqlContext
    val b1 = (1L to 300L)
    val b2 = (301L to 500L)
    val input = MemoryStream[Long]
    val query = StreamingOps.merkleRegistersStream(
        input.toDF().select(col("value").as("k"),
          (col("value") * 7).as("v")),
        keyCols = Seq(col("k")), rowCols = Seq(col("k"), col("v")),
        level = 2)
      .writeStream.format("memory").queryName("merkle_stream")
      .outputMode("complete").start()
    input.addData(b1: _*); query.processAllAvailable()
    input.addData(b2: _*); query.processAllAvailable()
    query.stop()
    val streamed = spark.table("merkle_stream").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch leaf build: merkleDrill of the full table against itself at
    // level 2 audits only level-1 buckets (nothing differs) — replicate
    // the register independently instead
    def md5hex(s: String) =
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    def h(k: Long) = java.lang.Long.parseLong(
      md5hex(s"$k|${k * 7}").take(15), 16)
    val expect = (b1 ++ b2).groupBy(k => md5hex(s"$k").take(2))
      .map { case (bkt, ks) =>
        bkt -> ((ks.size.toLong, ks.map(h).reduce(_ ^ _))) }
    assert(streamed == expect,
      s"${streamed.size} streamed vs ${expect.size} expected buckets")
    // and the drained registers agree with the batch module's own leaf
    // aggregation (merkleDrill with an edited copy localizes the edit)
    val a = (b1 ++ b2).map(k => (k, k * 7)).toDF("k", "v")
    val edited = (b1 ++ b2).map(k =>
      (k, if (k == 42L) k * 7 + 1 else k * 7)).toDF("k", "v")
    val drill = graft.ext.Integrity.merkleDrill(a, edited,
      Seq(col("k")), Seq(col("k"), col("v")), levels = 2).collect()
    val diff2 = drill.filter(r => r.getInt(0) == 2 && r.getBoolean(4))
    assert(diff2.length == 1 &&
      diff2.head.getString(1) == md5hex("42").take(2))
  }

  test("bloomRegistersStream snapshot equals the batch filter bit-for-bit") {
    implicit val sc = spark.sqlContext
    val b1 = (1L to 300L).toSeq
    val b2 = (200L to 500L).toSeq // overlap: BIT_OR must absorb repeats
    val input = MemoryStream[Long]
    val query = StreamingOps.bloomRegistersStream(
        input.toDF().withColumnRenamed("value", "item"), "item",
        wWords = 32, kHashes = 4)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("complete").start()
    input.addData(b1: _*); query.processAllAvailable()
    input.addData(b2: _*); query.processAllAvailable()
    query.stop()
    val streamed = spark.table("bloom_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ext.Sketches.bloomFilterWords(
        (b1 ++ b2).toDF("item"), col("item"), wWords = 32, kHashes = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} words vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("p2QuantileStream: exact at 5 samples, close to the true median on " +
      "a long smooth stream, and deterministic") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{P2Out, P2Value}
    // phase 1: exactly 5 values → marker init makes q(2) the exact median
    val five = Seq(9.0, 1.0, 5.0, 3.0, 7.0).zipWithIndex
      .map { case (x, i) => P2Value("s", x, i.toLong) }
    val input = MemoryStream[P2Value]
    val query = StreamingOps.p2QuantileStream(input.toDS(), p = 0.5)
      .writeStream.format("memory").queryName("p2_out")
      .outputMode("update").start()
    input.addData(five: _*); query.processAllAvailable()
    val atFive = spark.table("p2_out").as[P2Out].collect()
      .filter(_.n == 5L).head
    assert(atFive.estimate == 5.0, s"exact median of 5: $atFive")
    // phase 2: 2000 more smooth values — estimate tracks the true median
    val more = (0 until 2000).map { i =>
      P2Value("s", (i * 37 % 2000).toDouble, (5 + i).toLong) }
    input.addData(more.take(1000): _*); query.processAllAvailable()
    input.addData(more.drop(1000): _*); query.processAllAvailable()
    query.stop()
    val fin = spark.table("p2_out").as[P2Out].collect()
      .maxBy(_.n)
    assert(fin.n == 2005L)
    // true median ≈ 1000 over range 2000: P² on smooth data stays within
    // a few percent of range
    assert(math.abs(fin.estimate - 1000.0) < 100.0,
      s"median estimate ${fin.estimate}")
    // determinism: replay the identical stream → identical estimate
    val input2 = MemoryStream[P2Value]
    val q2 = StreamingOps.p2QuantileStream(input2.toDS(), p = 0.5)
      .writeStream.format("memory").queryName("p2_out2")
      .outputMode("update").start()
    input2.addData(five: _*); q2.processAllAvailable()
    input2.addData(more.take(1000): _*); q2.processAllAvailable()
    input2.addData(more.drop(1000): _*); q2.processAllAvailable()
    q2.stop()
    val fin2 = spark.table("p2_out2").as[P2Out].collect().maxBy(_.n)
    assert(fin2.estimate == fin.estimate && fin2.n == fin.n)
  }

  test("topKTurnoverStream matches batch topKTurnover; late event for a " +
      "closed day is dropped") {
    implicit val sc = spark.sqlContext
    import StreamingOps.{TurnoverEvent, TurnoverOut}
    val d0 = 19700L // epoch day of the first leaderboard day
    def dts(day: Long, i: Long) =
      new Timestamp((d0 + day) * 86400000L + i * 60000L)
    // day 0: {1:2, 2:2, 3:1} → top2 {1,2} (count ties → smaller key)
    // day 1: {2:2, 3:2, 4:1} → top2 {2,3}; common {2} → 1/3
    // day 2: {3:1, 5:2}      → top2 {5,3}; common {3} → 1/3
    // day 4 (gap): {1,2}     → closes day 2; no day-3 predecessor row
    val byDay = Map(
      0L -> Seq(1L, 1L, 2L, 2L, 3L),
      1L -> Seq(2L, 2L, 3L, 3L, 4L),
      2L -> Seq(3L, 5L, 5L),
      4L -> Seq(1L, 2L))
    def evs(day: Long) = byDay(day).zipWithIndex.map { case (k, i) =>
      TurnoverEvent("b", k, dts(day, i.toLong)) }
    val input = MemoryStream[TurnoverEvent]
    val query = StreamingOps.topKTurnoverStream(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("turnover_out")
      .outputMode("append").start()
    // day-1 events arrive BEFORE the tail of day 0 in the same batch:
    // in-batch sorting must still bucket them correctly
    input.addData((evs(0).drop(3) ++ evs(1) ++ evs(0).take(3)): _*)
    query.processAllAvailable()
    input.addData(evs(2): _*); query.processAllAvailable()
    input.addData(evs(4): _*); query.processAllAvailable()
    // late event for long-closed day 1: its row is already final → dropped
    input.addData(TurnoverEvent("b", 9L, dts(1L, 90L)))
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("turnover_out").as[TurnoverOut].collect()
      .map(r => (r.day.toString, r.n_common, r.jaccard)).toSet

    val batchDf = byDay.toSeq.flatMap { case (d, ks) =>
      ks.zipWithIndex.map { case (k, i) => (k, dts(d, i.toLong)) } }
      .toDF("key", "ts")
    val batch = graft.ext.RankCompare
      .topKTurnover(batchDf, to_date(col("ts")), "key", k = 2)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
      .toSet
    // every streamed day is closed (day 4 still open, day 0 has no
    // predecessor), so stream == batch exactly here
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.map(_._2) == Set(1L))
    assert(streamed.forall(r => math.abs(r._3 - 1.0 / 3.0) < 1e-12))
    assert(streamed.size == 2)
  }
  final case class CdcRow(ts: Timestamp, doc_id: Long, pos: Int, len: Int,
                          fp: Long)

  test("CDC TTL candidates: a trimmed copy's shared segments stream in " +
      "against the original, downstream minShared+min-offset reduce " +
      "matches the batch CDC operator, and TTL re-seeds") {
    implicit val sc = spark.sqlContext
    // driver-side replica of Multimodal.cdcSegments (cut polynomial,
    // positional fp, interior segments, minLen = 4) — the differential
    // against the batch operator below keeps it honest
    def segments(m: Array[Int]): Seq[(Int, Int, Long)] = {
      val cuts = (3 until m.length).filter { i =>
        (m(i - 3) * 31L * 31L * 31L + m(i - 2) * 31L * 31L +
          m(i - 1) * 31L + m(i)) % 8L == 0
      }
      (0 until cuts.length - 1).map { k =>
        val start = cuts(k) + 1
        val end = cuts(k + 1)
        var fp = 0L; var pw = 1L
        (start to end).foreach { j =>
          fp = (fp + m(j) * pw) % 2000003L; pw = pw * 37L % 2000003L
        }
        (start, end - start + 1, fp)
      }.filter(_._2 >= 4)
    }
    val rnd = new scala.util.Random(17)
    val base = Array.fill(160)(rnd.nextInt(32768))
    val copy = base.drop(3) ++ Array.fill(3)(rnd.nextInt(32768))
    val other = Array.fill(160)(rnd.nextInt(32768))
    def rows(id: Long, at: Timestamp, m: Array[Int]): Seq[CdcRow] =
      segments(m).map { case (p, l, fp) => CdcRow(at, id, p, l, fp) }
    def ts(min: Int) = new Timestamp(3600L * 1000 * 24 + min * 60000L)
    val input = MemoryStream[CdcRow]
    val query = StreamingOps.cdcCandidatesStreamTtl(input.toDF(), "ts",
        ttlMs = 60 * 60000L)
      .writeStream.format("memory").queryName("cdc_ttl_out")
      .outputMode("append").start()
    input.addData(rows(1L, ts(0), base): _*)
    query.processAllAvailable()
    input.addData(rows(2L, ts(10), copy) ++ rows(3L, ts(12), other): _*)
    query.processAllAvailable()
    // 3 hours later an unrelated doc advances the watermark past the TTL
    input.addData(rows(4L, ts(180), Array.fill(160)(rnd.nextInt(32768))): _*)
    query.processAllAvailable()
    // base re-arrives after expiry: re-seeds, then a fresh copy pairs
    input.addData(rows(5L, ts(200), base): _*)
    query.processAllAvailable()
    input.addData(rows(6L, ts(205), base): _*)
    query.processAllAvailable()
    query.stop()
    val got = spark.table("cdc_ttl_out").as[StreamingOps.CdcSegMatch]
      .collect()
    // downstream reduce = the batch op's threshold + witness: keep pairs
    // with >= 2 matches, take the minimal offset
    val reduced = got.groupBy(p => (p.id_a, p.id_b))
      .filter(_._2.length >= 2)
      .map { case (k, ps) => k -> ps.map(_.offset_frames).min }
    assert(reduced.get((1L, 2L)).contains(3),
      s"trimmed copy missed or wrong witness: ${reduced.toSeq.sorted}")
    assert(!reduced.keySet.exists(p => p._1 == 3L || p._2 == 3L) &&
      !reduced.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated blob paired: ${reduced.keySet}")
    assert(!reduced.keySet.exists(p => p._2 == 5L && p._1 < 5L),
      s"expired bucket leaked across the TTL horizon: ${reduced.keySet}")
    assert(reduced.get((5L, 6L)).contains(0),
      s"re-seeded epoch dup missed: ${reduced.toSeq.sorted}")
    // batch differential on the first epoch's media (real WAV round-trip)
    val wav = Multimodal.synthPcmWav(
      Seq((1L, base.toSeq), (2L, copy.toSeq), (3L, other.toSeq))
        .toDF("doc_id", "samples"), "samples", sampleRate = 16000)
    val batch = Multimodal.audioDupPairsCdc(wav, "doc_id", "media")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val firstEpoch = reduced.filter { case ((a, b), _) => a <= 3L && b <= 3L }
    assert(firstEpoch == batch,
      s"streamed first-epoch pairs $firstEpoch != batch CDC $batch")
  }
}
