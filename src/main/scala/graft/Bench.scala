package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main: one JSON line with per-query seconds at SPARK_GRAFT_SF_DIR,
  * last on stdout.
  *
  * Single-run timings on a shared VM are noise-dominated (round-1: 359.7s recorded
  * vs 18.9s re-run on identical code — Firecracker vCPU throttling). So each
  * query is timed SPARK_GRAFT_BENCH_REPS times (default 3) after one cold run
  * (codegen compile + JIT), and the reported per-query number is the MEDIAN
  * across reps. Every run writes the full result to Spark's noop sink:
  * `count()` would let Catalyst prune the sorts and expressions of the result
  * the oracle checks.
  *
  * Usage: runMain graft.Bench [query ...]. Per query, stderr gets
  *   BENCH <name> cold=<s> warm=<s>,<s>,... jobs= stages= tasks= shufKB= recs=
  * where the counts (Spark jobs, stages, tasks, shuffle-write KiB and records,
  * real executor metrics) come from a listener on the first warm rep and do
  * not depend on machine load, though AQE's stage completion order can add a
  * job between runs (q_mis), so compare repeated runs. Each query named
  * as an argument also gets its final adaptive plan on stderr. A query that
  * throws is reported on stderr, counted in "n_failed", left out of every
  * total, and makes the process exit 1 after the JSON line.
  */
object Bench {
  private final class Tally extends SparkListener {
    val jobs, stages, tasks, shuffleBytes, shuffleRecords = new AtomicLong()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(): Unit
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(): Unit
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
      }
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1/5/15-min load averages — recorded in the artifact so an
    * environment-contaminated run (machine contention skews every query by a
    * uniform factor, e.g. BENCH_r07's ~2.8x) is self-diagnosing instead of
    * masquerading as a code regression.
    */
  private def loadAvg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split("\\s+").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "[]" }

  /** Each selected query's warm rep seconds, or what it threw. */
  def measure(spark: SparkSession, sfDir: String, reps: Int,
              planFor: Set[String] = Set.empty,
              queries: Map[String, Harness.Query] = SparkEntry.queries)
      : Seq[(String, Either[Throwable, Seq[Double]])] =
    Harness.run(spark, "bench", queries) { (name, fn) =>
      def timed(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val sc = spark.sparkContext
      val cold = timed()
      val tally = new Tally
      val warm = (1 to reps).map { rep =>
        // outside the timed window: a full GC on the bench heap costs ~1s and
        // is harness hygiene, not query time
        Harness.release(spark)
        if (rep > 1) timed()
        else {
          // the listener bus is asynchronous: drain it before attaching, so no
          // event of the cold run is tallied, and before detaching, so no
          // trailing task-end event of this rep is missed
          ListenerBridge.drain(sc)
          sc.addSparkListener(tally)
          try timed()
          finally { ListenerBridge.drain(sc); sc.removeSparkListener(tally) }
        }
      }
      System.err.println(f"BENCH $name%-24s cold=$cold%.3f " +
        s"warm=${warm.map(w => f"$w%.3f").mkString(",")} " +
        s"jobs=${tally.jobs} stages=${tally.stages} tasks=${tally.tasks} " +
        s"shufKB=${tally.shuffleBytes.get / 1024} recs=${tally.shuffleRecords}")
      if (planFor(name)) {
        Harness.release(spark)
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count() // same QueryExecution → AQE finalizes its plan
        System.err.println(s"=== plan $name (final adaptive) ===\n" +
          df.queryExecution.explainString(FormattedMode))
      }
      warm
    }

  /** The stdout JSON line and the BENCH_DETAIL.json body. A failed query
    * counts in "n_queries" and "n_failed" and in nothing else.
    */
  def report(results: Seq[(String, Either[Throwable, Seq[Double]])], reps: Int,
             sfDir: String, cpus: Int, loadStart: String, loadEnd: String)
      : (String, String) = {
    val timings = results.collect { case (k, Right(runs)) => k -> runs }
    val nFailed = results.length - timings.length
    // The driver records only a bounded tail of stdout (~2.2 KB): round medians
    // to 3 decimals and keep ONE compact line so the artifact parses whole (the
    // r3 full-precision double line overflowed the capture and front-truncated).
    // At 100+ queries even the rounded full map exceeds the capture, so the
    // printed map carries only the SLOWEST 30 (the ones a perf review reads);
    // per-rep timings for every query go to BENCH_DETAIL.json in the repo.
    def r3d(x: Double) = math.round(x * 1000) / 1000.0
    val slowest = timings.map { case (k, runs) => k -> median(runs) }
      .sortBy(-_._2).take(30)
    val qs = slowest
      .map { case (k, m) => "\"" + k + "\":" + r3d(m) }
      .mkString("{", ",", "}")
    val total = r3d(timings.map { case (_, runs) => median(runs) }.sum)
    val totalMin = r3d(timings.map { case (_, runs) => runs.min }.sum)
    val detail = timings
      .map { case (k, runs) => "\"" + k + "\":" + runs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-rep suite totals: a uniform environment skew shows up as ALL rep
    // totals inflated together (r7: 353.7/354.5/314.9 vs 113.9 on idle HW);
    // flag when the spread or the absolute level makes medians untrustworthy
    val repTotals = (0 until reps).map(i =>
      r3d(timings.map { case (_, runs) => runs(i) }.sum))
    val varianceWarn = repTotals.max > repTotals.min * 1.5
    val machine = s""""cpus":$cpus,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"rep_totals":${repTotals.mkString("[", ",", "]")},"variance_warning":$varianceWarn"""
    (s"""{"metric":"total","value":$total,"unit":"sec","stat":"median_of_$reps","total_min":$totalMin,"n_queries":${results.length},"queries_shown":"slowest_${slowest.length}_of_${timings.length}_full_set_in_BENCH_DETAIL.json","queries":$qs,"reps":$reps,"sf":"$sfDir",$machine,"n_failed":$nFailed}""",
      s"""{"reps_per_query":$detail,"reps":$reps,"sf":"$sfDir",$machine}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val loadStart = loadAvg()
    val spark = Harness.session()
    val results = measure(spark, sfDir, reps, args.toSet)
    val (line, detail) =
      report(results, reps, sfDir, Harness.cpus, loadStart, loadAvg())
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    println(line)
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }
}
