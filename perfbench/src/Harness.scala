package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement engine of the benchmark, driven by `perfbench/run.py`.
  *
  * Reads a run plan (key=value lines written by run.py: workload, seed-derived
  * operation orders or micro-batch sizes, run length, trace flag), runs the
  * set-ups, the timed passes and the untimed correctness pass in one JVM, and
  * writes every raw number to one JSON file. All aggregation (medians,
  * per-pass sums, oracle checks) happens in run.py, so this file only
  * measures. One driver thread, one operation in flight (closed loop, one
  * client).
  *
  * Usage: perfbench.Harness <plan file> <result json>
  */
object Harness {

  // ---------------------------------------------------------------------------
  // Plan
  // ---------------------------------------------------------------------------

  final case class Plan(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"run plan lacks '$k'"))
    def ints(k: String): Seq[Int] = kv.get(k).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Nil)
    def strs(k: String): Seq[String] = kv.get(k).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil)
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def readPlan(path: String): Plan = Plan(
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(l => l.contains("=") && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap)

  // ---------------------------------------------------------------------------
  // JSON output (no dependency beyond what Spark ships)
  // ---------------------------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  // ---------------------------------------------------------------------------
  // Clock, JVM numbers
  // ---------------------------------------------------------------------------

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** Wall clock in epoch milliseconds with nanoTime resolution, so harness
    * spans line up with Spark's job and planning-phase timestamps. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Old-generation occupancy right after the last collection of that pool. */
  def oldGenAfterGcMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
    val old = pools.filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
    (if (old.nonEmpty) old else pools).map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Hash of a physical plan with expression ids, plan ids, object hashes and
    * the checkout's data path stripped, so it changes only when the plan does. */
  def planHash(plan: String, dataDir: String): String = sha256(plan
    .replace(new File(dataDir).getAbsolutePath, "<data>")
    .replaceAll("#\\d+L?", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("@[0-9a-f]{5,}", "@")
    .replaceAll("\\[\\d+\\] at ", "[] at ")
    .replaceAll("(RDD|ExistingRDD|LocalTableScan)\\[\\d+", "$1[")).take(16)

  // ---------------------------------------------------------------------------
  // Session and storage release
  // ---------------------------------------------------------------------------

  /** The session Verify builds (same configs), with graft's SQL extensions so
    * their planning-time check rules run, and every scratch dir in `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drops cached data and checkpoints, so the next operation starts from
    * the same storage state (outside any timed window). */
  def unpersistAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---------------------------------------------------------------------------
  // Operations
  // ---------------------------------------------------------------------------

  /** Operations injected by `run.py --inject-failures` to prove the harness
    * reports failures: one throws, one returns rows its oracle disagrees with. */
  val injected: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "selftest_throw" -> (((_: SparkSession, _: String) =>
      throw new IllegalStateException("injected failure")), "SELECT 1 AS x"),
    "selftest_wrong" -> (((s: SparkSession, _: String) =>
      s.range(3).toDF("x")), "SELECT CAST(range + 1 AS BIGINT) AS x FROM range(3)"))

  def operation(name: String): (SparkSession, String) => DataFrame =
    injected.get(name).map(_._1).getOrElse(graft.SparkEntry.queries(name))

  def oracleSql(name: String, dataDir: String): String =
    injected.get(name).map(_._2).getOrElse(graft.SparkEntry.oracleSql(name)
      .replace("__GRAFT_SF__", new File(dataDir).getName))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** An operation's status when it threw: the first line of the message. */
  def failure(e: Throwable): String =
    "error: " + String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")

  // ---------------------------------------------------------------------------
  // Tracing: listeners that tally per operation, and spans
  // ---------------------------------------------------------------------------

  final class Tally {
    val n = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = n(k) += v
    def max(k: String, v: Double): Unit = n(k) = math.max(n(k), v)
  }

  /** One listener object for the three buses. Events are delivered
    * asynchronously, so the harness drains the bus (ListenerBridge.drain)
    * before it reads or resets the tally. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    @volatile var tally = new Tally
    @volatile var phase = "exec"
    val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var opId = ""
    val qes = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

    def span(name: String, start: Double, end: Double, parent: String,
             extra: Map[String, Any] = Map.empty): Unit =
      spans.add(Map("op" -> opId, "name" -> name, "start_ms" -> start,
        "end_ms" -> end, "parent" -> parent) ++ extra)

    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      tally.add(s"${phase}_jobs", 1)
      jobStart(e.jobId) = (e.time, phase)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, ph) =>
        span(s"job ${e.jobId}", t0.toDouble, e.time.toDouble, ph)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      tally.add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = tally
      t.add("tasks", 1)
      if (m != null) {
        val info = e.taskInfo
        t.add("task_run_s", m.executorRunTime / 1e3)
        t.add("task_cpu_s", m.executorCpuTime / 1e9)
        t.add("task_gc_s", m.jvmGCTime / 1e3)
        t.add("deser_s", m.executorDeserializeTime / 1e3)
        t.add("sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime) / 1e3)
        t.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        t.add("shuffle_write_rows", m.shuffleWriteMetrics.recordsWritten.toDouble)
        t.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        t.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        t.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        t.max("peak_mem_bytes", m.peakExecutionMemory.toDouble)
        t.add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
        t.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        t.add(s"${phase}_result_bytes", m.resultSize.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(phase -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
      spark.streams.addListener(streamListener)
    }
    def detach(spark: SparkSession): Unit = {
      drain(spark)
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      spark.streams.removeListener(streamListener)
    }
    def drain(spark: SparkSession): Unit =
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)

    /** Plan-layer numbers of the operation's final action plus scan time of
      * every query the listener saw during the operation. */
    def planNumbers(t: Tally): Unit = {
      val seen = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
      seen.foreach { case (_, qe) =>
        nodes(qe.executedPlan).foreach {
          case s: FileSourceScanExec => s.metrics.get("scanTime").foreach { m =>
            t.add("scan_s", if (m.metricType == "nsTiming") m.value / 1e9 else m.value / 1e3)
          }
          case _ =>
        }
      }
      seen.filter(_._1 == "exec").lastOption.foreach { case (_, qe) =>
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach { p =>
            t.add(s"plan_${k}_s", p.durationMs / 1e3)
            span(s"plan.$k", p.startTimeMs.toDouble, p.endTimeMs.toDouble, "exec")
          }
        }
        val ns = nodes(qe.executedPlan)
        t.add("plan_nodes", ns.size.toDouble)
        t.add("plan_exchanges", ns.count(_.isInstanceOf[Exchange]).toDouble)
      }
    }
  }

  /** Physical operators of a plan, looking through adaptive, query-stage and
    * codegen wrappers (which are not operators themselves) and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case w: WholeStageCodegenExec => nodes(w.child)
    case i: InputAdapter => nodes(i.child)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  // ---------------------------------------------------------------------------
  // Batch workloads
  // ---------------------------------------------------------------------------

  final class Run(plan: Plan) {
    val work: String = plan("work_dir")
    val dataDir: String = plan("data_dir")
    val cpus: Int = plan("cpus").toInt
    val seconds: Double = plan("seconds").toDouble
    val trace: Boolean = plan.flag("trace")
    val ops: Seq[String] = plan.strs("ops")
    val record = mutable.LinkedHashMap.empty[String, Any]
    val opRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer
    /** A traced run alternates untraced and traced passes in the order
      * U T T U, repeated, so that a steady drift over the run (JIT warming)
      * cancels out of the traced run's own overhead (traced minus untraced
      * pass time). */
    def tracedPass(pass: Int): Boolean = trace && (pass % 4 == 1 || pass % 4 == 2)
    val minPasses: Int = if (trace) 4 else 2
    val orders: Seq[Seq[String]] =
      Iterator.from(0).map(i => plan.ints(s"order.$i")).takeWhile(_.nonEmpty)
        .map(_.map(ops)).toSeq

    /** One timed execution: build the DataFrame through the query catalog,
      * then write every row to the noop sink. Returns seconds or the error. */
    def timedOp(spark: SparkSession, name: String, traced: Boolean,
                pass: Int): Map[String, Any] = {
      val opId = s"p$pass:$name"
      tracer.opId = opId
      if (traced) tracer.tally = new Tally
      val gc0 = gcSeconds()
      val t0 = nowMs()
      var tb = t0
      val status = try {
        tracer.phase = "build"
        val df = operation(name)(spark, dataDir)
        tb = nowMs()
        if (traced) tracer.drain(spark)
        tracer.phase = "exec"
        val te = nowMs()
        noop(df)
        if (traced) {
          tracer.span("build", t0, tb, opId)
          tracer.span("exec", te, nowMs(), opId)
        }
        "ok"
      } catch { case e: Throwable => failure(e) }
      val t1 = nowMs()
      val gc = gcSeconds() - gc0
      var row = Map[String, Any]("pass" -> pass, "name" -> name, "status" -> status,
        "start_ms" -> t0, "t_s" -> (t1 - t0) / 1e3, "jvm_gc_s" -> gc)
      if (traced) {
        tracer.drain(spark)
        tracer.span("op", t0, t1, "", Map("status" -> status))
        val t = tracer.tally
        tracer.planNumbers(t)
        val rdds = spark.sparkContext.getPersistentRDDs.keySet
        val storage = spark.sparkContext.getRDDStorageInfo.filter(i => rdds.contains(i.id))
        t.add("checkpoints", rdds.size.toDouble)
        t.add("checkpoint_bytes", storage.map(i => i.memSize + i.diskSize).sum.toDouble)
        row ++= Map("build_s" -> (tb - t0) / 1e3, "exec_s" -> (t1 - tb) / 1e3) ++
          t.n.toMap
      }
      // Release: one collection (its cleaner pass frees the operation's
      // shuffles and broadcasts), read the heap while the operation's
      // checkpoints are still pinned, then drop them.
      val r0 = System.nanoTime()
      System.gc()
      row += "heap_mb" -> oldGenAfterGcMb()
      unpersistAll(spark)
      row + ("release_s" -> (System.nanoTime() - r0) / 1e9)
    }

    /** One untimed execution of every operation. In the first set-up it
      * writes each full result to parquet (the write Verify does) for the
      * oracle check and records the hash of the executed plan; later set-ups
      * write to the noop sink like the timed passes. */
    def warmup(spark: SparkSession, first: Boolean): Unit = {
      val outputs = ops.map { name =>
        val r = try {
          val df = operation(name)(spark, dataDir)
          if (first) {
            val h = planHash(df.queryExecution.executedPlan.toString, dataDir)
            df.write.mode("overwrite").parquet(s"${plan("out_dir")}/$name")
            Map("status" -> "ok", "plan_hash" -> h)
          } else { noop(df); Map.empty[String, Any] }
        } catch { case e: Throwable => Map("status" -> failure(e), "plan_hash" -> "") }
        unpersistAll(spark)
        name -> (r ++ Map("oracle_sql" -> oracleSql(name, dataDir)))
      }
      if (first) record("outputs") = outputs.toMap
    }

    /** Timed passes until the run length is used, at least two. A traced run
      * alternates untraced and traced passes, so the traced run reports its
      * own overhead against untraced passes of the same JVM. */
    def measure(spark: SparkSession): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < minPasses ||
             ((System.nanoTime() - t0) / 1e9 < seconds && pass < orders.size)) {
        val traced = tracedPass(pass)
        if (traced) tracer.attach(spark)
        val p0 = nowMs()
        orders(pass % orders.size).foreach { name =>
          opRows += timedOp(spark, name, traced, pass)
        }
        if (traced) tracer.detach(spark)
        passRows += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (nowMs() - p0) / 1e3)
        pass += 1
      }
    }

    /** count() beside the full-row noop write, per operation, alternating. */
    def bridge(spark: SparkSession): Unit = {
      record("bridge") = ops.map { name =>
        def time(f: DataFrame => Unit): Double = {
          val t0 = System.nanoTime()
          f(operation(name)(spark, dataDir))
          val dt = (System.nanoTime() - t0) / 1e9
          unpersistAll(spark)
          dt
        }
        val reps = (1 to 3).map(_ => (time(_.count()), time(noop)))
        name -> Map("count_s" -> median(reps.map(_._1)), "noop_s" -> median(reps.map(_._2)))
      }.toMap
    }
  }

  def canary(spark: SparkSession, cpus: Int): Double = median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 200000, 1, cpus).selectExpr("sum(id % 7)").collect()
    (System.nanoTime() - t0) / 1e9
  })

  // ---------------------------------------------------------------------------
  // Stream workload
  // ---------------------------------------------------------------------------

  /** `graft.streaming.StreamingOps.incrementalDedupStream`, the streaming twin
    * of q_incremental_dedup: the documents with hash bucket >= 80 arrive in
    * seed-sized micro-batches against a dedupStore built from the rest; each
    * micro-batch is one `addData` + `processAllAvailable` (closed loop) and
    * appends through a foreachBatch parquet sink with a checkpoint location. */
  final class Stream(run: Run, plan: Plan) {
    import run._
    val sizes: Seq[Int] = plan.ints("batches")
    val perPass: Int = plan("batches_per_pass").toInt
    var docs: Array[(Long, String)] = Array.empty
    val sinkRows = new ConcurrentLinkedQueue[Map[String, Any]]()

    def load(spark: SparkSession): Unit = {
      val all = graft.Tables.documents(spark, dataDir)
      docs = all.filter(graft.ext.Splits.hashBucket(col("doc_id")) >= 80)
        .select(col("doc_id"), col("text")).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1)))
    }

    def bounds(b: Int): (Int, Int) = {
      val s = sizes.take(b).sum
      (math.min(s, docs.length), math.min(s + sizes(b), docs.length))
    }

    final class Query(spark: SparkSession, tag: String, traced: () => Boolean) {
      val out = s"${plan("out_dir")}/$tag"
      val input = MemoryStream[(Long, String)](Encoders.tuple(Encoders.scalaLong,
        Encoders.STRING), spark.sqlContext)
      val q = graft.streaming.StreamingOps
        .incrementalDedupStream(input.toDF().toDF("doc_id", "text"), store, "doc_id", "text")
        .writeStream
        .option("checkpointLocation", s"$work/checkpoints/$tag")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], id: Long) =>
          val t0 = nowMs()
          df.write.mode("append").parquet(out)
          val t1 = nowMs()
          if (traced()) {
            val files = Option(new File(out).listFiles).getOrElse(Array.empty[File])
              .filter(f => f.getName.endsWith(".parquet") && f.lastModified >= t0.toLong - 1000)
            val rows = files.map { f =>
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                  new org.apache.hadoop.fs.Path(f.getAbsolutePath),
                  spark.sparkContext.hadoopConfiguration))
              try r.getRecordCount finally r.close()
            }.sum
            sinkRows.add(Map("batch_id" -> id, "write_s" -> (t1 - t0) / 1e3,
              "files" -> files.length, "bytes" -> files.map(_.length).sum, "rows_out" -> rows))
            tracer.span("sink.write", t0, t1, tracer.opId)
          }
          ()
        }
        .start()

      def batch(b: Int): Unit = {
        val (lo, hi) = bounds(b)
        input.addData(docs.slice(lo, hi).toSeq)
        q.processAllAvailable()
      }
      def stop(): String = {
        val h = try planHash(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan.toString, dataDir) catch { case _: Throwable => "" }
        q.stop()
        h
      }
    }

    /** The static side, built and persisted once per session: the store's
      * signatures do not depend on the arriving documents. */
    var store: DataFrame = _

    def warmup(spark: SparkSession, i: Int): Unit = {
      if (docs.isEmpty) load(spark)
      store = graft.streaming.StreamingOps.dedupStore(
        graft.Tables.documents(spark, dataDir)
          .filter(graft.ext.Splits.hashBucket(col("doc_id")) < 80),
        "doc_id", "text").persist()
      store.count()
      val w = new Query(spark, s"warmup$i", () => false)
      try w.batch(0) finally w.stop()
    }

    def measure(spark: SparkSession): Unit = {
      var tracedNow = false
      val query = new Query(spark, "stream", () => tracedNow)
      val t0 = System.nanoTime()
      var b = 0
      var failed = false
      def passDone = b % perPass == 0
      while (!failed && b < sizes.size && bounds(b)._2 > bounds(b)._1 &&
             (b < minPasses * perPass || !passDone || (System.nanoTime() - t0) / 1e9 < seconds)) {
        val pass = b / perPass
        val traced = tracedPass(pass)
        if (traced && b % perPass == 0) tracer.attach(spark)
        tracedNow = traced
        if (traced) { tracer.tally = new Tally; tracer.progress.clear() }
        val opId = s"p$pass:batch$b"
        tracer.opId = opId
        val gc0 = gcSeconds()
        val s0 = nowMs()
        val status = try { query.batch(b); "ok" } catch { case e: Throwable =>
          failed = true
          failure(e)
        }
        val s1 = nowMs()
        val (lo, hi) = bounds(b)
        var row = Map[String, Any]("pass" -> pass, "name" -> s"batch$b", "status" -> status,
          "start_ms" -> s0, "t_s" -> (s1 - s0) / 1e3, "jvm_gc_s" -> (gcSeconds() - gc0),
          "doc_ids" -> docs.slice(lo, hi).map(_._1).toSeq, "release_s" -> 0.0)
        if (traced) {
          val deadline = System.nanoTime() + 3e9.toLong
          while (tracer.progress.isEmpty && System.nanoTime() < deadline) {
            tracer.drain(spark); Thread.sleep(5)
          }
          tracer.drain(spark)
          tracer.span("op", s0, s1, "", Map("status" -> status))
          val t = tracer.tally
          tracer.planNumbers(t)
          tracer.progress.asScala.foreach { e =>
            val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
            t.add("stream_add_batch_s", d.getOrElse("addBatch", 0.0))
            t.add("stream_query_planning_s", d.getOrElse("queryPlanning", 0.0))
            t.add("stream_commit_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
            t.add("stream_latest_offset_s", d.getOrElse("latestOffset", 0.0))
            t.add("stream_rows_in", e.progress.numInputRows.toDouble)
          }
          tracer.progress.clear()
          Iterator.continually(sinkRows.poll()).takeWhile(_ != null).foreach { s =>
            t.add("sink_write_s", s("write_s").asInstanceOf[Double])
            t.add("sink_files", s("files").asInstanceOf[Int].toDouble)
            t.add("sink_bytes", s("bytes").asInstanceOf[Long].toDouble)
            t.add("stream_rows_out", s("rows_out").asInstanceOf[Long].toDouble)
          }
          row ++= t.n.toMap
        }
        opRows += row
        b += 1
        if (b % perPass == 0) {
          System.gc()
          opRows(opRows.size - 1) = opRows.last + ("heap_mb" -> oldGenAfterGcMb())
          val ps = opRows.filter(_("pass") == pass)
          passRows += Map("pass" -> pass, "traced" -> traced,
            "wall_s" -> ps.map(_("t_s").asInstanceOf[Double]).sum)
          if (traced) tracer.detach(spark)
        }
      }
      if (!passDone && tracedPass((b - 1) / perPass)) tracer.detach(spark)
      record("outputs") = Map("stream" -> Map("status" -> "ok", "plan_hash" -> query.stop(),
        "out_dir" -> query.out, "batches" -> b))
    }
  }

  // ---------------------------------------------------------------------------
  // Main
  // ---------------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val run = new Run(plan)
    val record = run.record
    val stream = if (plan("kind") == "stream") Some(new Stream(run, plan)) else None
    val nSetups = plan("setups").toInt
    // Set-up: a fresh session plus one untimed warm-up execution of every
    // operation, repeated; the last session is the one that is measured.
    var spark: SparkSession = null
    record("setups") = (1 to nSetups).map { i =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(run.cpus, run.work)
      val t1 = System.nanoTime()
      stream match {
        case Some(s) => s.warmup(spark, i)
        case None => run.warmup(spark, first = i == 1)
      }
      val t2 = System.nanoTime()
      Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "setup_s" -> (t2 - t0) / 1e9)
    }
    record("canary_start_s") = canary(spark, run.cpus)
    System.gc()
    stream match {
      case Some(s) => s.measure(spark)
      case None =>
        run.measure(spark)
        if (plan.flag("bridge")) run.bridge(spark)
    }
    record("canary_end_s") = canary(spark, run.cpus)
    if (stream.nonEmpty)
      record("stream_oracle_sql") = oracleSql("q_incremental_dedup", run.dataDir)
    record("spark_version") = spark.version
    record("ops") = run.opRows
    record("passes") = run.passRows
    record("spans") = run.tracer.spans.asScala.toSeq
    stopSession(spark)
    Files.write(Paths.get(args(1)), json(record).getBytes(UTF_8))
  }
}
