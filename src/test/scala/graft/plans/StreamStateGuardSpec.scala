package graft.plans

import java.sql.Timestamp

import graft.SparkTestBase
import graft.streaming.StreamingOps
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

final case class GuardEvt(ts: Timestamp, event_type: String, value: Double)
final case class GuardDoc(doc_id: Long, text: String, ts: Timestamp)
final case class GuardExp(segment: String, arm: String, value: Double)

/** Enumerates EVERY streaming op in [[StreamingOps]] against the
  * stream-state lint: the deployment-grade twins (watermark/TTL/registers)
  * must classify bounded; the plain NoTimeout demo twins must be flagged —
  * that classification IS the documentation that they are not the
  * deployment shape. Plus deliberately unbounded fixtures the gate must
  * catch, and the fail-conf check-rule posture.
  */
class StreamStateGuardSpec extends SparkTestBase {
  import spark.implicits._
  import StreamingOps._

  private implicit lazy val sc: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def evts = MemoryStream[GuardEvt].toDF()
  private def docs = MemoryStream[GuardDoc].toDF()

  private def flags(ds: Dataset[_]): Seq[StreamStateGuard.StateOp] =
    StreamStateGuard.audit(ds).filterNot(_.bounded)

  test("deployment-grade ops classify BOUNDED: watermarked windows, " +
      "within-watermark dedup, event-time TTL state, stream-static joins") {
    val boundedOps: Seq[(String, Dataset[_])] = Seq(
      "hourlyStats" -> hourlyStats(evts),
      "dedupExactStream" -> dedupExactStream(docs),
      "minhashCandidatesStreamTtl" ->
        minhashCandidatesStreamTtl(docs, "ts", ttlMs = 60000L),
      "winnowCandidatesStreamTtl" ->
        winnowCandidatesStreamTtl(docs, "ts", ttlMs = 60000L),
      "fingerprintCandidatesStreamTtl" ->
        fingerprintCandidatesStreamTtl(
          docs.select(col("doc_id"), col("ts"),
            col("doc_id").cast("long").as("fingerprint")),
          "ts", ttlMs = 60000L),
      "shingleCandidatesStreamTtl" ->
        shingleCandidatesStreamTtl(
          docs.select(col("doc_id"), col("ts"), lit(0).as("s"),
            col("doc_id").cast("long").as("fp")),
          "ts", ttlMs = 60000L),
      "cdcCandidatesStreamTtl" ->
        cdcCandidatesStreamTtl(
          docs.select(col("doc_id"), col("ts"), lit(0).as("pos"),
            lit(8).as("len"), col("doc_id").cast("long").as("fp")),
          "ts", ttlMs = 60000L),
      "funnelStreamLate" ->
        funnelStreamLate(MemoryStream[FunnelEvent].toDS(), Seq("a", "b")),
      "sessionizeLate" -> sessionizeLate(MemoryStream[SessionEvent].toDS()),
      "contaminationStream" -> contaminationStream(docs,
        Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")),
      "incrementalDedupStream" -> {
        val store = dedupStore(
          Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
          "doc_id", "text")
        incrementalDedupStream(docs, store, "doc_id", "text")
      },
      "enrichAsOfStream" -> enrichAsOfStream(evts,
        Seq(("a", ts(0), ts(100))).toDF("k", "valid_from", "valid_until"),
        "event_type", "k", "ts", "valid_from", "valid_until"),
      "psiDriftStream" -> psiDriftStream(evts,
        Seq(1.0, 2.0, 3.0).toDF("value"), "value"),
      "cmsWindowedRegistersStream" ->
        cmsWindowedRegistersStream(evts, "event_type"),
      "hdrWindowedBucketsStream" ->
        hdrWindowedBucketsStream(evts, "value"))
    boundedOps.foreach { case (name, ds) =>
      assert(flags(ds).isEmpty,
        s"$name should be bounded, got: ${flags(ds)}")
    }
    // the TTL twins really do carry audited state (not just zero findings)
    assert(StreamStateGuard.audit(
      sessionizeLate(MemoryStream[SessionEvent].toDS())).exists(_.bounded))
  }

  test("register-table aggregates classify BOUNDED via key-domain " +
      "analysis: modulus buckets, literal spines, bit-position words") {
    val regs: Seq[(String, Dataset[_])] = Seq(
      "countMinSketchStream" -> countMinSketchStream(evts, "event_type"),
      "hllRegistersStream" -> hllRegistersStream(evts, "event_type"),
      "bloomRegistersStream" -> bloomRegistersStream(evts, "event_type"),
      "dsirBucketCountsStream" ->
        dsirBucketCountsStream(docs, "text", col("doc_id") % 2 === 0),
      "kmvRegistersStream" -> kmvRegistersStream(evts, "event_type"),
      "amsRegistersStream" -> amsRegistersStream(evts, "event_type"),
      "merkleRegistersStream" -> merkleRegistersStream(evts,
        Seq(org.apache.spark.sql.functions.col("event_type")),
        Seq(org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value")), level = 2))
    regs.foreach { case (name, ds) =>
      val audit = StreamStateGuard.audit(ds)
      assert(audit.exists(o => o.bounded && o.op == "streamingAggregate" &&
        o.detail.contains("register")),
        s"$name should be register-bounded, got: $audit")
      assert(flags(ds).isEmpty, s"$name flagged: ${flags(ds)}")
    }
  }

  test("least() ceilings do NOT bound a signed key; the greatest/least " +
      "clamp ladder does") {
    def keyAudit(keyed: Dataset[_]): Seq[StreamStateGuard.StateOp] =
      StreamStateGuard.audit(keyed)
    // least(v, 100) over a signed long: clamped above, unbounded below
    val ceilingOnly = evts
      .groupBy(least(col("value").cast("long"), lit(100L)).as("k"))
      .count()
    assert(keyAudit(ceilingOnly).exists(o =>
        o.op == "streamingAggregate" && !o.bounded),
      s"least(signed, lit) must stay flagged: ${keyAudit(ceilingOnly)}")
    // least(greatest(v, 0), 100): a finite interval — bounded
    val clamp = evts
      .groupBy(least(greatest(col("value").cast("long"), lit(0L)),
        lit(100L)).as("k"))
      .count()
    assert(keyAudit(clamp).forall(o =>
        o.op != "streamingAggregate" || o.bounded),
      s"clamp ladder should classify bounded: ${keyAudit(clamp)}")
    // least of two bounded keys stays bounded (forall branch)
    val bothBounded = evts
      .groupBy(least(col("value").cast("long") % 8,
        pmod(col("value").cast("long"), lit(16L))).as("k"))
      .count()
    assert(keyAudit(bothBounded).forall(o =>
        o.op != "streamingAggregate" || o.bounded),
      s"least(bounded, bounded) should stay bounded: ${keyAudit(bothBounded)}")
  }

  test("NoTimeout demo twins are FLAGGED — the audit documents that their " +
      "*Late/*Ttl twins are the deployment shape") {
    val demos: Seq[(String, Dataset[_])] = Seq(
      "minhashCandidatesStream" -> minhashCandidatesStream(docs),
      "funnelStream" ->
        funnelStream(MemoryStream[FunnelEvent].toDS(), Seq("a", "b")),
      "sessionize" -> sessionize(MemoryStream[SessionEvent].toDS()),
      "collapseRunsStream" -> collapseRunsStream(MemoryStream[RunEvent].toDS()),
      "attributionStream" ->
        attributionStream(MemoryStream[AttribEvent].toDS(), Set("click"),
          "conv", 3600000L),
      "compactLatestStream" ->
        compactLatestStream(MemoryStream[ChangeEvent].toDS()),
      "ewmaDailyStream" -> ewmaDailyStream(MemoryStream[DailyCount].toDS()),
      "cusumStream" ->
        cusumStream(MemoryStream[DailyValue].toDS(), 0.0, 1.0, 0.5, 4.0),
      "acfDailyStream" -> acfDailyStream(MemoryStream[DailyValue].toDS()),
      "alwaysValidPStream" ->
        alwaysValidPStream(MemoryStream[AvRow].toDS(), rho = 1.0),
      "heavyHittersStream" ->
        heavyHittersStream(MemoryStream[HHItem].toDS(), capacity = 8),
      "runsTestStream" ->
        runsTestStream(MemoryStream[DailyValue].toDS(), 0.0),
      "peaksStream" -> peaksStream(MemoryStream[DailyValue].toDS()),
      "holtStream" -> holtStream(MemoryStream[DailyValue].toDS()),
      "p2QuantileStream" ->
        p2QuantileStream(MemoryStream[P2Value].toDS(), p = 0.5),
      "topKTurnoverStream" ->
        topKTurnoverStream(MemoryStream[TurnoverEvent].toDS(), k = 3))
    demos.foreach { case (name, ds) =>
      val bad = flags(ds)
      assert(bad.nonEmpty && bad.forall(_.op.contains("GroupsWithState")),
        s"$name should be flagged for NoTimeout state, got: ${StreamStateGuard.audit(ds)}")
      assert(bad.exists(_.detail.contains("NoTimeout")), s"$name: $bad")
    }
  }

  test("keyed streaming aggregates with arbitrary key domains are FLAGGED " +
      "even though each key's row is O(1)") {
    val aggs: Seq[(String, Dataset[_])] = Seq(
      "bhFdrCountsStream" -> bhFdrCountsStream(
        evts.withColumn("flag", col("value") > 0), "event_type", "flag"),
      "kAnonymityClassStream" ->
        kAnonymityClassStream(docs, Seq(col("text")), k = 5),
      "boilerplateChunkStream" ->
        boilerplateChunkStream(docs, "doc_id", "text", 3, 2L),
      "freshnessStream" -> freshnessStream(evts),
      "powerMdeStream" ->
        powerMdeStream(MemoryStream[GuardExp].toDF(), "segment", "arm",
          "value"))
    aggs.foreach { case (name, ds) =>
      val bad = flags(ds)
      assert(bad.nonEmpty && bad.exists(_.op == "streamingAggregate"),
        s"$name should be flagged, got: ${StreamStateGuard.audit(ds)}")
    }
  }

  test("deliberately unbounded fixtures are caught: EventTimeTimeout " +
      "without a watermark, streaming dropDuplicates without a watermark, " +
      "stream-stream join with an unwatermarked side") {
    // EventTimeTimeout but NO watermark anywhere below — can never fire
    val etNoWm = MemoryStream[SessionEvent].toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, _: Iterator[SessionEvent], _: GroupState[SessionState]) =>
          Iterator.empty
      }
    val etBad = flags(etNoWm)
    assert(etBad.nonEmpty && etBad.head.detail.contains("never fire"), s"$etBad")

    val dd = docs.dropDuplicates("text")
    val ddBad = flags(dd)
    assert(ddBad.nonEmpty && ddBad.head.op == "dropDuplicates", s"$ddBad")

    val left = MemoryStream[GuardEvt].toDF()
      .withWatermark("ts", "1 hour").withColumnRenamed("value", "lv")
    val right = MemoryStream[GuardEvt].toDF()
      .withColumnRenamed("value", "rv").withColumnRenamed("ts", "ts2")
    val ssj = left.join(right, "event_type")
    val ssjBad = flags(ssj)
    assert(ssjBad.nonEmpty && ssjBad.head.op == "streamStreamJoin", s"$ssjBad")
    // both sides watermarked → bounded
    val rightWm = MemoryStream[GuardEvt].toDF()
      .withWatermark("ts", "1 hour")
      .withColumnRenamed("value", "rv").withColumnRenamed("ts", "ts2")
    assert(flags(left.join(rightWm, "event_type")).isEmpty)
  }

  test("requireBounded throws listing every unbounded op; the check rule " +
      "is silent by default and fails under spark.graft.streamGuard.fail") {
    val unbounded = sessionize(MemoryStream[SessionEvent].toDS())
    val ex = intercept[IllegalStateException] {
      StreamStateGuard.requireBounded(unbounded)
    }
    assert(ex.getMessage.contains("flatMapGroupsWithState"))
    StreamStateGuard.requireBounded(hourlyStats(evts)) // no throw

    val plan = unbounded.queryExecution.analyzed
    StreamStateGuard.check(spark)(plan) // default: warn only, no throw
    spark.conf.set(StreamStateGuard.FailConf, "true")
    try {
      intercept[IllegalStateException] { StreamStateGuard.check(spark)(plan) }
      // batch plans stay silent even in fail mode
      StreamStateGuard.check(spark)(
        Seq(1, 2).toDF("x").groupBy("x").count().queryExecution.analyzed)
    } finally spark.conf.unset(StreamStateGuard.FailConf)
  }

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
}
