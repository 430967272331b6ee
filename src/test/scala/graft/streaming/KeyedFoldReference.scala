package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import StreamingOps._

/** The seventeen per-key streaming twins as they stood before
  * [[StreamingOps]] folded the fifteen NoTimeout ones onto one keyed-fold
  * loop and the two watermark-hardened ones onto their plain twin's rule:
  * each with its own `[flat]mapGroupsWithState`, state default, output
  * buffer and state write. Kept verbatim as the differential reference for
  * [[KeyedFoldSpec]] — same names, signatures and defaults as the
  * operators they pin.
  */
object KeyedFoldReference {

  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String])
      : Dataset[StageReached] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageReached](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption.getOrElse(FunnelState(-1, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer[StageReached]()
          sorted.foreach { e =>
            val next = cur.stage + 1
            if (next < stages.length &&
                stageIdx.get(e.event_type).contains(next) &&
                (cur.stage < 0 || e.ts.getTime >= cur.reachMs)) {
              cur = FunnelState(next, e.ts.getTime)
              out += StageReached(user, next, stages(next), e.ts.getTime)
            }
          }
          if (cur.stage >= 0) state.update(cur)
          out.iterator
      }
  }

  def funnelStreamLate(events: Dataset[FunnelEvent], stages: Seq[String],
                       allowedLateness: String = "30 minutes")
      : Dataset[StageReached] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("ts", allowedLateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelLateState, StageReached](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelLateState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(FunnelLateState(-1, Long.MinValue, Vector.empty))
          // incoming rows already past the horizon are too late — drop them
          val buf = prev.buffer ++ it.filter(_.ts.getTime > wm)
          val (ripe, hold) = buf.partition(_.ts.getTime <= wm)
          var stage = prev.stage
          var reachMs = prev.reachMs
          val out = scala.collection.mutable.ArrayBuffer[StageReached]()
          ripe.sortBy(e => (e.ts.getTime, stageIdx.getOrElse(e.event_type, Int.MaxValue)))
            .foreach { e =>
              val next = stage + 1
              if (next < stages.length &&
                  stageIdx.get(e.event_type).contains(next) &&
                  (stage < 0 || e.ts.getTime >= reachMs)) {
                stage = next
                reachMs = e.ts.getTime
                out += StageReached(user, next, stages(next), e.ts.getTime)
              }
            }
          if (stage < 0 && hold.isEmpty) state.remove()
          else {
            state.update(FunnelLateState(stage, reachMs, hold))
            // wake this group when the watermark reaches the earliest buffered
            // event, even with no new arrivals (> wm by construction of `hold`)
            if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.ts.getTime).min)
          }
          out.iterator
      }
  }

  def sessionize(events: Dataset[SessionEvent], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += SessionOut(user, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  def sessionizeLate(events: Dataset[SessionEvent],
                     gapMs: Long = 30 * 60 * 1000L,
                     allowedLateness: String = "30 minutes")
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", allowedLateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionLateState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionLateState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(SessionLateState(None, Vector.empty))
          val buf = prev.buffer ++ it.filter(_.ts.getTime > wm)
          val (ripe, hold) = buf.partition(_.ts.getTime <= wm)
          var cur = prev.cur
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          ripe.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += SessionOut(user, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          // close the open session once the watermark clears its gap horizon:
          // nothing that could still extend it can arrive on time anymore
          cur match {
            case Some(s) if hold.isEmpty && wm > s.last + gapMs =>
              closed += SessionOut(user, s.start, s.last, s.n, s.sum)
              cur = None
            case _ => ()
          }
          if (cur.isEmpty && hold.isEmpty) state.remove()
          else {
            state.update(SessionLateState(cur, hold))
            val wake =
              if (hold.nonEmpty) hold.map(_.ts.getTime).min
              else cur.get.last + gapMs + 1
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          closed.iterator
      }
  }

  def collapseRunsStream(events: Dataset[RunEvent]): Dataset[RunOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RunState, RunOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[RunEvent], state: GroupState[RunState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer[RunOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if s.value == e.value =>
                cur = Some(s.copy(to = t, n = s.n + 1))
              case Some(s) =>
                closed += RunOut(user, s.run_id, s.value, s.from, s.to, t, s.n)
                cur = Some(RunState(e.value, s.run_id + 1, t, t, 1L))
              case None =>
                cur = Some(RunState(e.value, 1L, t, t, 1L))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  def attributionStream(events: Dataset[AttribEvent], touchTypes: Set[String],
                        convType: String, lookbackMs: Long)
      : Dataset[AttributedConv] = {
    import events.sparkSession.implicits._
    events
      .filter(e => touchTypes.contains(e.event_type) || e.event_type == convType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttributedConv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[AttribEvent], state: GroupState[AttribState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[AttributedConv]()
          sorted.foreach { e =>
            val ms = e.ts.getTime
            if (e.event_type == convType) {
              cur.foreach { t =>
                if (ms - t.touch_ms <= lookbackMs)
                  out += AttributedConv(user, e.event_id, ms, t.channel, t.touch_ms)
              }
              cur = None // conversion closes the segment
            } else {
              cur = Some(AttribState(e.event_type, ms, e.event_id))
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None    => if (state.exists) state.remove()
          }
          out.iterator
      }
  }

  def compactLatestStream(changes: Dataset[ChangeEvent],
                          tombstoneOp: String = "del"): Dataset[CompactOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[CompactState, CompactOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[ChangeEvent], state: GroupState[CompactState]) =>
          var cur = state.getOption
          it.foreach { e =>
            cur = Some(cur match {
              case Some(s) if e.ver > s.ver =>
                CompactState(e.ver, e.op, e.payload, s.n + 1)
              case Some(s) => s.copy(n = s.n + 1)
              case None => CompactState(e.ver, e.op, e.payload, 1L)
            })
          }
          cur.foreach(state.update)
          cur.map(s => CompactOut(key, s.ver, s.op, s.payload, s.n,
            s.op != tombstoneOp)).iterator
      }
  }

  def ewmaDailyStream(daily: Dataset[DailyCount],
                      decay: Double = 0.9): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[DailyCount], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(0.0, 0.0, Long.MinValue))
          // a micro-batch may carry several days of one type: process in day
          // order (bounded by days per batch, not by history)
          val out = it.toSeq.sortBy(_.day.getTime).map { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            val w =
              if (st.lastEpochDay == Long.MinValue) 0.0
              else math.pow(decay, (epochDay - st.lastEpochDay).toDouble)
            val num = e.n_events.toDouble + w * st.num
            val den = 1.0 + w * st.den
            st = EwmaState(num, den, epochDay)
            EwmaOut(typ, e.day, e.n_events,
              math.round(num / den * 1e6) / 1e6)
          }
          state.update(st)
          out.iterator
      }
  }

  def cusumStream(daily: Dataset[DailyValue], refMean: Double, refSd: Double,
                  k: Double, h: Double): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    require(refSd > 0, s"reference sd must be > 0, got $refSd")
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(
            CusumState(0.0, 0.0, Long.MinValue, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay) {
              val z = (e.x - refMean) / refSd
              // left-assoc (s + z) - k, matching the batch fold exactly
              val s = math.max(0.0, st.s + z - k)
              val (maxS, peak) =
                if (s > st.maxS) (s, epochDay) else (st.maxS, st.peakEpochDay)
              val alarms = st.alarms + (if (s > h) 1L else 0L)
              st = CusumState(s, maxS, peak, alarms, epochDay)
              out += CusumOut(series, e.day, s, s > h, maxS, alarms)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def acfDailyStream(daily: Dataset[DailyValue],
                     maxLag: Int = 10): Dataset[AcfOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[AcfState, AcfOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue], state: GroupState[AcfState]) =>
          var st = state.getOption.getOrElse(AcfState(Seq.empty, Long.MinValue,
            Seq.fill(maxLag)((0L, 0.0, 0.0, 0.0, 0.0, 0.0))))
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            // the in-order/unique-day contract, ENFORCED: a duplicate or
            // out-of-order day would pair against an unshifted ring and then
            // prepend a second entry for the same day, silently corrupting
            // every later lag alignment — drop such arrivals instead
            if (st.lastEpochDay != Long.MinValue && epochDay <= st.lastEpochDay) {
              // skip: late/duplicate day
            } else {
            // shift the ring past calendar gaps: ring(i) = value at day−1−i
            val gap =
              if (st.lastEpochDay == Long.MinValue) 0
              else (epochDay - st.lastEpochDay).toInt
            val shifted =
              if (gap == 0) st.ring
              else (Seq.fill(math.min(gap - 1, maxLag))(Double.NaN) ++ st.ring)
                .take(maxLag)
            val moments = st.moments.zipWithIndex.map { case (m, i) =>
              // lag L = i+1 pairs today's y with the ring entry L−1 back
              if (i < shifted.length && !shifted(i).isNaN) {
                val (n, sx, sy, sxy, sxx, syy) = m
                val x = shifted(i); val y = e.x
                (n + 1, sx + x, sy + y, sxy + x * y, sxx + x * x, syy + y * y)
              } else m
            }
            st = AcfState((e.x +: shifted).take(maxLag), epochDay, moments)
            }
          }
          state.update(st)
          st.moments.zipWithIndex.map { case ((n, sx, sy, sxy, sxx, syy), i) =>
            val nn = n.toDouble
            val num = nn * sxy - sx * sy
            val den = math.sqrt((nn * sxx - sx * sx) * (nn * syy - sy * sy))
            AcfOut(series, i + 1, n,
              if (den == 0.0) Double.NaN
              else math.round(num / den * 1e6) / 1e6)
          }.iterator
      }
  }

  def alwaysValidPStream(rows: Dataset[AvRow], rho: Double): Dataset[AvOut] = {
    import rows.sparkSession.implicits._
    val rho2 = rho * rho
    rows.groupByKey(_.segment)
      .mapGroupsWithState[AvState, AvOut](GroupStateTimeout.NoTimeout) {
        (seg: String, it: Iterator[AvRow], state: GroupState[AvState]) =>
          var st = state.getOption.getOrElse(
            AvState(0L, 0.0, 0.0, 0L, 0.0, 0.0, 1.0))
          it.foreach { r =>
            val v = r.vm.toDouble
            if (r.arm == "A")
              st = st.copy(nA = st.nA + 1, s1A = st.s1A + v,
                s2A = st.s2A + v * v)
            else if (r.arm == "B")
              st = st.copy(nB = st.nB + 1, s1B = st.s1B + v,
                s2B = st.s2B + v * v)
          }
          val p =
            if (st.nA > 1 && st.nB > 1) {
              val ssA = st.s2A - st.s1A * st.s1A / st.nA
              val ssB = st.s2B - st.s1B * st.s1B / st.nB
              val varPool = (ssA + ssB) / (st.nA + st.nB - 2) / 1e12
              val bigV = varPool * (1.0 / st.nA + 1.0 / st.nB)
              val delta = st.s1A / st.nA / 1e6 - st.s1B / st.nB / 1e6
              if (bigV > 0.0) {
                val lam = math.sqrt(bigV / (bigV + rho2)) *
                  math.exp(delta * delta * rho2 /
                    (2.0 * bigV * (bigV + rho2)))
                math.min(1.0, 1.0 / lam)
              } else 1.0
            } else 1.0
          st = st.copy(pMin = math.min(st.pMin, p))
          state.update(st)
          AvOut(seg, st.nA, st.nB, p, st.pMin)
      }
  }

  def heavyHittersStream(items: Dataset[HHItem], capacity: Int): Dataset[HHCounter] = {
    import items.sparkSession.implicits._
    val agg = new graft.functions.SpaceSavingAggregator(capacity)
    items
      .groupByKey(_.shard)
      .flatMapGroupsWithState[HHState, HHCounter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[HHItem], state: GroupState[HHState]) =>
          var st = state.getOption.getOrElse(HHState(agg.zero, 0L))
          it.foreach(e => st = HHState(agg.reduce(st.buf, e.item), st.n_seen + 1))
          state.update(st)
          // n_seen stamps each snapshot: a consumer keeps, per shard, the rows
          // with the maximal n_seen — the latest (complete) sketch — instead
          // of guessing from per-item emissions that may be stale after
          // eviction
          st.buf.counters.iterator.map(c =>
            HHCounter(shard, c.item, c.est, c.err, st.n_seen))
      }
  }

  def runsTestStream(daily: Dataset[DailyValue],
                     refMean: Double): Dataset[RunsOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[RunsState, RunsOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[RunsState]) =>
          var st = state.getOption.getOrElse(
            RunsState(0, 0L, 0L, 0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[RunsOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            val sign = if (e.x > refMean) 1 else if (e.x < refMean) -1 else 0
            if (sign != 0 &&
              (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay)) {
              val runs = st.nRuns + (if (sign != st.lastSign) 1L else 0L)
              st = RunsState(sign,
                st.nUp + (if (sign == 1) 1L else 0L),
                st.nDown + (if (sign == -1) 1L else 0L),
                runs, epochDay)
              // same formula shapes as the batch operator
              val p2 = (st.nUp * st.nDown * 2).toDouble
              val n = (st.nUp + st.nDown).toDouble
              val eR = 1.0 + p2 / n
              val varR = p2 * (p2 - n) / (n * n * (n - 1))
              val z = if (varR > 0.0) (st.nRuns - eR) / math.sqrt(varR)
                else Double.NaN
              out += RunsOut(series, e.day, st.nUp, st.nDown, st.nRuns, eR, z)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def peaksStream(daily: Dataset[DailyValue]): Dataset[PeakOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[PeakState, PeakOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[PeakState]) =>
          var st = state.getOption.getOrElse(
            PeakState(Long.MinValue, 0.0, Long.MinValue, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[PeakOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.d2 == Long.MinValue || epochDay > st.d2) {
              // ROW adjacency in day order — the batch lag/lead convention
              // (calendar holes are just neighbors, not edges)
              if (st.d1 != Long.MinValue &&
                st.v2 > st.v1 && st.v2 > e.x) {
                val prom = st.v2 - math.max(st.v1, e.x)
                out += PeakOut(series,
                  java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(st.d2)), st.v2, prom)
              }
              st = PeakState(st.d2, st.v2, epochDay, e.x)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def holtStream(daily: Dataset[DailyValue], alpha: Double = 0.5,
                 beta: Double = 0.25): Dataset[HoltOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.series)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[DailyValue],
         state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(
            HoltState(0L, 0.0, 0.0, 0.0, 0.0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltOut]
          it.toSeq.sortBy(_.day.getTime).foreach { e =>
            // toLocalDate inverts Spark's DateType → java.sql.Date decode
            // (local midnight) TZ-independently; floorDiv of getTime would
            // shift a day on a JVM east of UTC
            val epochDay = e.day.toLocalDate.toEpochDay
            if (st.lastEpochDay == Long.MinValue || epochDay > st.lastEpochDay) {
              val n = st.n + 1
              st =
                if (n == 1L) HoltState(n, e.x, st.level, st.trend, st.sae, epochDay)
                else if (n == 2L)
                  HoltState(n, st.x1, e.x, e.x - st.x1, st.sae, epochDay)
                else {
                  // operation order matches Forecast.holtLinear term by term
                  val f = st.level + st.trend
                  val sae = st.sae + math.abs(e.x - f)
                  val lNew = alpha * e.x + (1.0 - alpha) * f
                  val bNew = beta * (lNew - st.level) + (1.0 - beta) * st.trend
                  HoltState(n, st.x1, lNew, bNew, sae, epochDay)
                }
              if (n >= 3L)
                out += HoltOut(series, e.day, n, st.level, st.trend,
                  st.level + st.trend, st.sae / (n - 2))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def p2QuantileStream(values: Dataset[P2Value], p: Double): Dataset[P2Out] = {
    require(p > 0.0 && p < 1.0, s"p must lie in (0,1), got $p")
    import values.sparkSession.implicits._
    val d = Array(0.0, p / 2.0, p, (1.0 + p) / 2.0, 1.0)
    values
      .groupByKey(_.series)
      .flatMapGroupsWithState[P2State, P2Out](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[P2Value], state: GroupState[P2State]) =>
          var st = state.getOption.getOrElse(
            P2State(Seq.empty, Seq.empty, Seq.empty, Seq.empty, 0L))
          var init = st.init.toArray
          var q = st.q.toArray
          var n = st.n.toArray
          var np = st.np.toArray
          var count = st.count
          it.toSeq.sortBy(_.seq).foreach { v =>
            val x = v.x
            count += 1
            if (q.isEmpty) {
              init = init :+ x
              if (init.length == 5) {
                q = init.sorted
                n = Array(1L, 2L, 3L, 4L, 5L)
                np = Array(1.0, 1.0 + 4.0 * d(1), 1.0 + 4.0 * d(2),
                  1.0 + 4.0 * d(3), 5.0)
                init = Array.empty
              }
            } else {
              // locate cell k, clamping the extreme markers
              var k = -1
              if (x < q(0)) { q(0) = x; k = 0 }
              else if (x >= q(4)) { q(4) = math.max(q(4), x); k = 3 }
              else {
                k = 0
                var i = 1
                while (i < 5 && x >= q(i)) { k = i; i += 1 }
                if (k > 3) k = 3
              }
              var i = k + 1
              while (i < 5) { n(i) += 1; i += 1 }
              i = 0
              while (i < 5) { np(i) += d(i); i += 1 }
              // adjust interior markers
              i = 1
              while (i <= 3) {
                val dd = np(i) - n(i)
                if ((dd >= 1.0 && n(i + 1) - n(i) > 1) ||
                    (dd <= -1.0 && n(i - 1) - n(i) < -1)) {
                  val s = if (dd >= 1.0) 1 else -1
                  // piecewise-parabolic (P²) candidate
                  val qp = q(i) + s.toDouble / (n(i + 1) - n(i - 1)) * (
                    (n(i) - n(i - 1) + s) * (q(i + 1) - q(i)) /
                      (n(i + 1) - n(i)) +
                    (n(i + 1) - n(i) - s) * (q(i) - q(i - 1)) /
                      (n(i) - n(i - 1)))
                  q(i) =
                    if (q(i - 1) < qp && qp < q(i + 1)) qp
                    else q(i) + s * (q(i + s) - q(i)) / (n(i + s) - n(i))
                  n(i) += s
                }
                i += 1
              }
            }
          }
          st = P2State(init.toSeq, q.toSeq, n.toSeq, np.toSeq, count)
          state.update(st)
          val est =
            if (q.nonEmpty) q(2)
            else if (init.nonEmpty) {
              val s = init.sorted
              s(math.min(s.length - 1, (p * s.length).toInt))
            } else Double.NaN
          Iterator.single(P2Out(series, count, est))
      }
  }

  def topKTurnoverStream(events: Dataset[TurnoverEvent],
                         k: Int): Dataset[TurnoverOut] = {
    require(k >= 1, s"k ($k) must be >= 1")
    import events.sparkSession.implicits._

    def topOf(counts: Map[Long, Long]): Seq[Long] =
      counts.toSeq.sortBy { case (key, n) => (-n, key) }.take(k).map(_._1)

    events
      .groupByKey(_.board)
      .flatMapGroupsWithState[TurnoverState, TurnoverOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (board: String, it: Iterator[TurnoverEvent],
         state: GroupState[TurnoverState]) =>
          var st = state.getOption.getOrElse(
            TurnoverState(Long.MinValue, Map.empty, Long.MinValue, Seq.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[TurnoverOut]
          it.toSeq.sortBy(e => (e.ts.getTime, e.key)).foreach { e =>
            val day = Math.floorDiv(e.ts.getTime, 86400000L)
            if (st.day == Long.MinValue) {
              st = st.copy(day = day, counts = Map(e.key -> 1L))
            } else if (day == st.day) {
              st = st.copy(counts =
                st.counts.updated(e.key, st.counts.getOrElse(e.key, 0L) + 1L))
            } else if (day > st.day) {
              // the open day closes: its top-k is final
              val top = topOf(st.counts)
              if (st.prevDay == st.day - 1) {
                val common = top.toSet.intersect(st.prevTop.toSet).size.toLong
                val denom = (top.size + st.prevTop.size - common).toDouble
                // Date.valueOf(LocalDate) round-trips the UTC epoch day
                // through Spark's JVM-default-TZ DateType conversion
                // without shifting on a non-UTC JVM
                out += TurnoverOut(board,
                  java.sql.Date.valueOf(
                    java.time.LocalDate.ofEpochDay(st.day)),
                  common, common.toDouble / denom)
              }
              st = TurnoverState(day, Map(e.key -> 1L), st.day, top)
            } // day < st.day: late event for an already-closed day — dropped
          }
          state.update(st)
          out.iterator
      }
  }
}
