package graft.streaming

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Differential spec of the seventeen per-key streaming twins against their
  * pre-refactor bodies ([[KeyedFoldReference]]): over one seeded
  * multi-micro-batch corpus per input shape, each twin's raw emitted
  * multiset (every row, duplicates kept) and its final state-store rows
  * (read with Spark's `statestore` data source) must equal the
  * reference's, and a checkpoint the reference wrote must restart under the
  * current operator with the same rows and the same final state. The
  * corpora hold the cases the shared loop must keep apart: keys that never
  * store state (a funnel user before the first stage) or drop it (a
  * conversion), in-batch disorder for the sorted twins, arrival order for
  * the unsorted ones (a sketch that evicts), calendar gaps, and late and
  * duplicate days for the daily twins.
  */
class KeyedFoldSpec extends SparkTestBase {
  import spark.implicits._
  import StreamingOps._

  private val Ref = KeyedFoldReference

  /** Micro-batch index after which each run stops and restarts from its
    * checkpoint. */
  private val SwitchAt = 3

  private def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
  private def day(d: Int) = Date.valueOf(LocalDate.ofEpochDay(19800L + d))

  /** Replays `batches` through `first` up to [[SwitchAt]], then resumes its
    * checkpoint through `second`; returns the emitted rows and the final
    * state-store rows, each rendered and sorted. */
  private def run[I <: Product : Encoder](batches: Seq[Seq[I]], mode: String,
                                          first: DataFrame => Dataset[_],
                                          second: DataFrame => Dataset[_])
      : (Seq[String], Seq[String]) = {
    val dir = Files.createTempDirectory("graft_fold")
    val rows = StreamReplay.replay(spark, batches, first, mode,
        resume = Some(SwitchAt -> second), dir = dir)
      .collect().map(_.toSeq.mkString(",")).toSeq.sorted
    val state = spark.read.format("statestore")
      .load(dir.resolve("ck").toString)
      .select("key", "value").collect().map(_.toString).toSeq.sorted
    (rows, state)
  }

  /** Parent form, current form, and parent checkpoint resumed by the
    * current form: all three emit the same multiset and leave the same
    * state, and neither is empty. */
  private def assertSame[I <: Product : Encoder](name: String,
      batches: Seq[Seq[I]], mode: String, parent: DataFrame => Dataset[_],
      current: DataFrame => Dataset[_]): Unit = {
    val (want, wantState) = run(batches, mode, parent, parent)
    assert(want.size >= 4 && wantState.nonEmpty,
      s"$name: corpus too thin to compare: $want / $wantState")
    val (got, gotState) = run(batches, mode, current, current)
    assert(got == want, s"$name emitted ${got.diff(want)} extra and " +
      s"${want.diff(got)} missing against the parent form")
    assert(gotState == wantState, s"$name left state ${gotState.diff(wantState)}" +
      s" extra and ${wantState.diff(gotState)} missing against the parent form")
    val (resumed, resumedState) = run(batches, mode, parent, current)
    assert(resumed == want, s"$name restarted from the parent's checkpoint " +
      s"emitted ${resumed.diff(want)} extra and ${want.diff(resumed)} missing")
    assert(resumedState == wantState, s"$name restarted from the parent's " +
      s"checkpoint left state ${resumedState.diff(wantState)} extra and " +
      s"${wantState.diff(resumedState)} missing")
  }

  /** `n` seeded micro-batches of `perBatch` rows from `row(rnd, batch)`. */
  private def seeded[I](seed: Int, n: Int, perBatch: Int)(
      row: (Random, Int) => I): Seq[Seq[I]] = {
    val rnd = new Random(seed)
    (0 until n).map(b => Seq.fill(perBatch)(row(rnd, b)))
  }

  private val Stages = Seq("visit", "cart", "buy")

  /** Users 1-5 walk the stages with in-batch disorder; users 6 and 7 never
    * visit, so they never reach the first stage. */
  private lazy val funnelBatches: Seq[Seq[FunnelEvent]] =
    seeded(41, 6, 14) { (rnd, b) =>
      val user = 1L + rnd.nextInt(7)
      val types = if (user >= 6) Seq("cart", "buy", "other")
        else Seq("visit", "cart", "buy", "other")
      FunnelEvent(user, ts(b * 20 + rnd.nextInt(30)),
        types(rnd.nextInt(types.size)))
    }

  private lazy val sessionBatches: Seq[Seq[SessionEvent]] =
    seeded(43, 6, 12) { (rnd, b) =>
      SessionEvent(1L + rnd.nextInt(4), ts(b * 50 + rnd.nextInt(60)),
        rnd.nextInt(100) / 4.0)
    }

  private lazy val runBatches: Seq[Seq[RunEvent]] = {
    var id = 0L
    seeded(47, 6, 12) { (rnd, b) =>
      id += 1
      RunEvent(1L + rnd.nextInt(3), ts(b * 10 + rnd.nextInt(6)), id,
        Seq("a", "b", "c")(rnd.nextInt(3)))
    }
  }

  /** Touches, conversions (which drop the user's state) and filtered-out
    * views. */
  private lazy val attribBatches: Seq[Seq[AttribEvent]] = {
    var id = 0L
    seeded(53, 6, 12) { (rnd, b) =>
      id += 1
      AttribEvent(1L + rnd.nextInt(4), id, ts(b * 30 + rnd.nextInt(40)),
        Seq("email", "search", "conv", "conv", "view")(rnd.nextInt(5)))
    }
  }

  /** Versions out of order and repeated, tombstones included. */
  private lazy val changeBatches: Seq[Seq[ChangeEvent]] =
    seeded(59, 6, 10) { (rnd, _) =>
      ChangeEvent(1L + rnd.nextInt(5), rnd.nextInt(8).toLong,
        if (rnd.nextInt(4) == 0) "del" else "put", s"p${rnd.nextInt(100)}")
    }

  /** Per series, days in increasing order across batches (shuffled within
    * a batch) with calendar gaps; `late` adds, from the third batch on, a
    * day already folded and a repeat of the latest one. */
  private def dailyBatches[I](seed: Int, late: Boolean)(
      row: (String, Date, Random) => I): Seq[Seq[I]] = {
    val rnd = new Random(seed)
    val next = scala.collection.mutable.Map("a" -> 0, "b" -> 0, "c" -> 0)
    (0 until 6).map { b =>
      val fresh = next.keys.toSeq.sorted.flatMap { s =>
        (0 until 1 + rnd.nextInt(3)).map { _ =>
          next(s) += 1 + (if (rnd.nextInt(4) == 0) 2 else 0)
          row(s, day(next(s)), rnd)
        }
      }
      val stale = if (!late || b < 2) Seq.empty
        else Seq(row("a", day(next("a") - 2), rnd), row("b", day(next("b")), rnd))
      rnd.shuffle(fresh ++ stale)
    }
  }

  /** At-mean values (20.0) included, for the runs test's dropped days. */
  private lazy val valueBatches: Seq[Seq[DailyValue]] =
    dailyBatches(61, late = true) { (s, d, rnd) =>
      DailyValue(s, d, Seq(20.0, 5.0 + rnd.nextInt(30))(rnd.nextInt(2)))
    }

  private lazy val countBatches: Seq[Seq[DailyCount]] =
    dailyBatches(67, late = false) { (s, d, rnd) =>
      DailyCount(s, d, rnd.nextInt(50).toLong)
    }

  /** Arms A, B and an ignored C, in micro-units. */
  private lazy val avBatches: Seq[Seq[AvRow]] =
    seeded(71, 6, 14) { (rnd, _) =>
      AvRow(Seq("s1", "s2")(rnd.nextInt(2)), Seq("A", "B", "C")(rnd.nextInt(3)),
        1000000L + rnd.nextInt(900000) * 7L)
    }

  /** Twenty items over a 4-counter sketch: evictions depend on arrival
    * order. */
  private lazy val hhBatches: Seq[Seq[HHItem]] =
    seeded(73, 6, 16) { (rnd, _) =>
      val item = math.min(rnd.nextInt(20), rnd.nextInt(20))
      HHItem(item % 2, s"i$item")
    }

  /** Sequence numbers arrive shuffled within a batch; series "b" stays in
    * its five-sample start-up phase for the first batches. */
  private lazy val p2Batches: Seq[Seq[P2Value]] = {
    val rnd = new Random(79)
    var seq = 0L
    (0 until 6).map { b =>
      rnd.shuffle((0 until 5).map { i =>
        seq += 1
        P2Value(if (i == 0 || b >= 3) "b" else "a", rnd.nextInt(1000) / 10.0,
          seq)
      })
    }
  }

  /** Two boards over consecutive and gapped UTC days, with a late event
    * for a day that already closed. */
  private lazy val turnoverBatches: Seq[Seq[TurnoverEvent]] = {
    val rnd = new Random(83)
    val dayMin = 24 * 60L
    Seq(0, 1, 2, 4, 5, 6).zipWithIndex.map { case (d, b) =>
      Seq.fill(10)(TurnoverEvent(Seq("x", "y")(rnd.nextInt(2)),
        1L + rnd.nextInt(6), ts(d * dayMin + rnd.nextInt(600)))) ++
        (if (b >= 2) Seq(TurnoverEvent("x", 3L, ts((d - 2) * dayMin + 5)))
         else Seq.empty)
    }
  }

  test("funnel twins emit the parent form's rows and state, and resume its " +
      "checkpoint") {
    assertSame("funnelStream", funnelBatches, "append",
      df => Ref.funnelStream(df.as[FunnelEvent], Stages),
      df => StreamingOps.funnelStream(df.as[FunnelEvent], Stages))
    assertSame("funnelStreamLate", funnelBatches, "append",
      df => Ref.funnelStreamLate(df.as[FunnelEvent], Stages),
      df => StreamingOps.funnelStreamLate(df.as[FunnelEvent], Stages))
  }

  test("sessionize twins emit the parent form's rows and state, and resume " +
      "its checkpoint") {
    assertSame("sessionize", sessionBatches, "append",
      df => Ref.sessionize(df.as[SessionEvent]),
      df => StreamingOps.sessionize(df.as[SessionEvent]))
    assertSame("sessionizeLate", sessionBatches, "append",
      df => Ref.sessionizeLate(df.as[SessionEvent]),
      df => StreamingOps.sessionizeLate(df.as[SessionEvent]))
  }

  test("collapseRunsStream and attributionStream emit the parent form's " +
      "rows and state, and resume its checkpoint") {
    assertSame("collapseRunsStream", runBatches, "append",
      df => Ref.collapseRunsStream(df.as[RunEvent]),
      df => StreamingOps.collapseRunsStream(df.as[RunEvent]))
    val touches = Set("email", "search")
    assertSame("attributionStream", attribBatches, "append",
      df => Ref.attributionStream(df.as[AttribEvent], touches, "conv",
        40 * 60000L),
      df => StreamingOps.attributionStream(df.as[AttribEvent], touches, "conv",
        40 * 60000L))
  }

  test("compactLatestStream, heavyHittersStream and alwaysValidPStream keep " +
      "arrival order: the parent form's rows and state, and its checkpoint") {
    assertSame("compactLatestStream", changeBatches, "update",
      df => Ref.compactLatestStream(df.as[ChangeEvent]),
      df => StreamingOps.compactLatestStream(df.as[ChangeEvent]))
    assertSame("heavyHittersStream", hhBatches, "update",
      df => Ref.heavyHittersStream(df.as[HHItem], capacity = 4),
      df => StreamingOps.heavyHittersStream(df.as[HHItem], capacity = 4))
    assertSame("alwaysValidPStream", avBatches, "update",
      df => Ref.alwaysValidPStream(df.as[AvRow], rho = 1.0),
      df => StreamingOps.alwaysValidPStream(df.as[AvRow], rho = 1.0))
  }

  test("daily twins emit the parent form's rows and state over late and " +
      "duplicate days, and resume its checkpoint") {
    def daily(df: DataFrame) = df.as[DailyValue]
    assertSame("cusumStream", valueBatches, "update",
      df => Ref.cusumStream(daily(df), 18.0, 9.0, 0.5, 2.0),
      df => StreamingOps.cusumStream(daily(df), 18.0, 9.0, 0.5, 2.0))
    assertSame("acfDailyStream", valueBatches, "update",
      df => Ref.acfDailyStream(daily(df), maxLag = 4),
      df => StreamingOps.acfDailyStream(daily(df), maxLag = 4))
    assertSame("runsTestStream", valueBatches, "update",
      df => Ref.runsTestStream(daily(df), 20.0),
      df => StreamingOps.runsTestStream(daily(df), 20.0))
    assertSame("peaksStream", valueBatches, "update",
      df => Ref.peaksStream(daily(df)),
      df => StreamingOps.peaksStream(daily(df)))
    assertSame("holtStream", valueBatches, "update",
      df => Ref.holtStream(daily(df)),
      df => StreamingOps.holtStream(daily(df)))
  }

  test("ewmaDailyStream emits the parent form's rows and state over in-order " +
      "days, and resumes its checkpoint") {
    // in-order days only: the parent form folded late and duplicate days,
    // which the current form drops (StreamingOpsSpec pins the drop)
    assertSame("ewmaDailyStream", countBatches, "update",
      df => Ref.ewmaDailyStream(df.as[DailyCount]),
      df => StreamingOps.ewmaDailyStream(df.as[DailyCount]))
  }

  test("p2QuantileStream and topKTurnoverStream emit the parent form's rows " +
      "and state, and resume its checkpoint") {
    assertSame("p2QuantileStream", p2Batches, "update",
      df => Ref.p2QuantileStream(df.as[P2Value], p = 0.5),
      df => StreamingOps.p2QuantileStream(df.as[P2Value], p = 0.5))
    assertSame("topKTurnoverStream", turnoverBatches, "append",
      df => Ref.topKTurnoverStream(df.as[TurnoverEvent], k = 2),
      df => StreamingOps.topKTurnoverStream(df.as[TurnoverEvent], k = 2))
  }

  test("state layout pin: each twin's grouping key, state schema, timeout " +
      "kind and output mode equal the parent form's") {
    implicit val sqlCtx = spark.sqlContext
    def layout(ds: Dataset[_]): (String, String, String, String) = {
      val ops = ds.queryExecution.analyzed.collect {
        case f: FlatMapGroupsWithState => f
      }
      assert(ops.size == 1, s"expected one stateful node: $ops")
      val f = ops.head
      (f.groupingAttributes.map(a => s"${a.name}:${a.dataType.simpleString}" +
        (if (a.nullable) "?" else "")).mkString(","),
        f.stateEncoder.schema.catalogString, f.timeout.toString,
        f.outputMode.toString)
    }
    val NoT = GroupStateTimeout.NoTimeout.toString
    val EvT = GroupStateTimeout.EventTimeTimeout.toString
    val App = OutputMode.Append.toString
    val Upd = OutputMode.Update.toString
    val Lng = "value:bigint"
    val Str = "value:string?"
    def s[I <: Product : Encoder] = MemoryStream[I].toDS()
    val touches = Set("email")
    val twins: Seq[(String, Dataset[_], Dataset[_], (String, String, String,
        String))] = Seq(
      ("funnelStream", Ref.funnelStream(s[FunnelEvent], Stages),
        StreamingOps.funnelStream(s[FunnelEvent], Stages),
        (Lng, "struct<stage:int,reachMs:bigint>", NoT, App)),
      ("funnelStreamLate", Ref.funnelStreamLate(s[FunnelEvent], Stages),
        StreamingOps.funnelStreamLate(s[FunnelEvent], Stages),
        (Lng, "struct<stage:int,reachMs:bigint,buffer:array<struct<user_id:" +
          "bigint,ts:timestamp,event_type:string>>>", EvT, App)),
      ("sessionize", Ref.sessionize(s[SessionEvent]),
        StreamingOps.sessionize(s[SessionEvent]),
        (Lng, "struct<start:bigint,last:bigint,n:bigint,sum:double>", NoT,
          App)),
      ("sessionizeLate", Ref.sessionizeLate(s[SessionEvent]),
        StreamingOps.sessionizeLate(s[SessionEvent]),
        (Lng, "struct<cur:struct<start:bigint,last:bigint,n:bigint,sum:double>" +
          ",buffer:array<struct<user_id:bigint,ts:timestamp,value:double>>>",
          EvT, App)),
      ("collapseRunsStream", Ref.collapseRunsStream(s[RunEvent]),
        StreamingOps.collapseRunsStream(s[RunEvent]),
        (Lng, "struct<value:string,run_id:bigint,from:bigint,to:bigint," +
          "n:bigint>", NoT, App)),
      ("attributionStream",
        Ref.attributionStream(s[AttribEvent], touches, "conv", 1L),
        StreamingOps.attributionStream(s[AttribEvent], touches, "conv", 1L),
        (Lng, "struct<channel:string,touch_ms:bigint,touch_id:bigint>", NoT,
          App)),
      ("compactLatestStream", Ref.compactLatestStream(s[ChangeEvent]),
        StreamingOps.compactLatestStream(s[ChangeEvent]),
        (Lng, "struct<ver:bigint,op:string,payload:string,n:bigint>", NoT,
          Upd)),
      ("ewmaDailyStream", Ref.ewmaDailyStream(s[DailyCount]),
        StreamingOps.ewmaDailyStream(s[DailyCount]),
        (Str, "struct<num:double,den:double,lastEpochDay:bigint>", NoT, Upd)),
      ("cusumStream", Ref.cusumStream(s[DailyValue], 0.0, 1.0, 0.5, 4.0),
        StreamingOps.cusumStream(s[DailyValue], 0.0, 1.0, 0.5, 4.0),
        (Str, "struct<s:double,maxS:double,peakEpochDay:bigint,alarms:bigint," +
          "lastEpochDay:bigint>", NoT, Upd)),
      ("acfDailyStream", Ref.acfDailyStream(s[DailyValue]),
        StreamingOps.acfDailyStream(s[DailyValue]),
        (Str, "struct<ring:array<double>,lastEpochDay:bigint,moments:array<" +
          "struct<_1:bigint,_2:double,_3:double,_4:double,_5:double," +
          "_6:double>>>", NoT, Upd)),
      ("alwaysValidPStream", Ref.alwaysValidPStream(s[AvRow], rho = 1.0),
        StreamingOps.alwaysValidPStream(s[AvRow], rho = 1.0),
        (Str, "struct<nA:bigint,s1A:double,s2A:double,nB:bigint,s1B:double," +
          "s2B:double,pMin:double>", NoT, Upd)),
      ("heavyHittersStream", Ref.heavyHittersStream(s[HHItem], capacity = 8),
        StreamingOps.heavyHittersStream(s[HHItem], capacity = 8),
        ("value:int", "struct<buf:struct<counters:array<struct<item:string," +
          "est:bigint,err:bigint>>>,n_seen:bigint>", NoT, Upd)),
      ("runsTestStream", Ref.runsTestStream(s[DailyValue], 0.0),
        StreamingOps.runsTestStream(s[DailyValue], 0.0),
        (Str, "struct<lastSign:int,nUp:bigint,nDown:bigint,nRuns:bigint," +
          "lastEpochDay:bigint>", NoT, Upd)),
      ("peaksStream", Ref.peaksStream(s[DailyValue]),
        StreamingOps.peaksStream(s[DailyValue]),
        (Str, "struct<d1:bigint,v1:double,d2:bigint,v2:double>", NoT, Upd)),
      ("holtStream", Ref.holtStream(s[DailyValue]),
        StreamingOps.holtStream(s[DailyValue]),
        (Str, "struct<n:bigint,x1:double,level:double,trend:double,sae:double," +
          "lastEpochDay:bigint>", NoT, Upd)),
      ("p2QuantileStream", Ref.p2QuantileStream(s[P2Value], p = 0.5),
        StreamingOps.p2QuantileStream(s[P2Value], p = 0.5),
        (Str, "struct<init:array<double>,q:array<double>,n:array<bigint>," +
          "np:array<double>,count:bigint>", NoT, Upd)),
      ("topKTurnoverStream", Ref.topKTurnoverStream(s[TurnoverEvent], k = 3),
        StreamingOps.topKTurnoverStream(s[TurnoverEvent], k = 3),
        (Str, "struct<day:bigint,counts:map<bigint,bigint>,prevDay:bigint," +
          "prevTop:array<bigint>>", NoT, App)))
    assert(twins.size == 17)
    twins.foreach { case (name, parent, current, pinned) =>
      assert(layout(parent) == pinned, s"$name: parent form moved: " +
        s"${layout(parent)}")
      assert(layout(current) == pinned,
        s"$name: state layout ${layout(current)} != parent's $pinned")
    }
  }
}
