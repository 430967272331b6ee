package graft.ext

import graft.SparkTestBase
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

class MaxCoverageSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  private def run(items: Seq[(Long, String)], k: Int) =
    rows(MaxCoverage.greedySelect(items.toDF("id", "f"), "id", col("f"), k))

  /** Single-threaded greedy replay: the reference for the differentials. */
  private def replay(items: Seq[(Long, String)], k: Int) = {
    val sets = items.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map(_._2).toSet }
    var covered = Set.empty[String]
    val exp = Seq.newBuilder[(Int, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= k && !done) {
      val (id, g) = sets.toSeq
        .map { case (i, s) => (i, (s -- covered).size.toLong) }
        .sortBy { case (i, g2) => (-g2, i) }.head
      if (g == 0) done = true
      else {
        covered ++= sets(id)
        exp += ((r, id, g, covered.size.toLong))
        r += 1
      }
    }
    exp.result()
  }

  /** Runs `f` with the given SQL confs set, restoring the old values. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (key, _) => key -> spark.conf.getOption(key) }
    kv.foreach { case (key, v) => spark.conf.set(key, v) }
    try f
    finally old.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("hand-worked greedy: biggest set first, then best marginal") {
    // A={a,b,c}, B={c,d}, C={d,e,f,g}, D={a,g}
    val items = Seq(
      1L -> "a", 1L -> "b", 1L -> "c",
      2L -> "c", 2L -> "d",
      3L -> "d", 3L -> "e", 3L -> "f", 3L -> "g",
      4L -> "a", 4L -> "g")
    // round1: C gains 4. round2: A gains 3 (a,b,c). round3: B gains 0? no —
    // covered={d,e,f,g,a,b,c}; B adds nothing, D adds nothing -> stop at 2
    assert(run(items, 4) == Seq((1, 3L, 4L, 4L), (2, 1L, 3L, 7L)))
  }

  test("ties break to the smallest id") {
    val items = Seq(1L -> "x", 2L -> "y") // both gain 1
    assert(run(items, 1) == Seq((1, 1L, 1L, 1L)))
  }

  test("duplicate (id, feature) rows don't inflate gains") {
    val items = Seq(1L -> "x", 1L -> "x", 1L -> "y", 2L -> "z")
    assert(run(items, 2) == Seq((1, 1L, 2L, 2L), (2, 2L, 1L, 3L)))
  }

  test("seeded differential vs a single-threaded greedy replay") {
    val rnd = new scala.util.Random(11)
    val items = (0 until 50).flatMap { id =>
      (0 until 3 + rnd.nextInt(20)).map(_ => (id.toLong, s"f${rnd.nextInt(120)}"))
    }
    val got = run(items, 8)
    // replay
    val sets = items.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map(_._2).toSet }
    var covered = Set.empty[String]
    val exp = Seq.newBuilder[(Int, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= 8 && !done) {
      val (id, g) = sets.toSeq
        .map { case (i, s) => (i, (s -- covered).size.toLong) }
        .sortBy { case (i, g2) => (-g2, i) }.head
      if (g == 0) done = true
      else {
        covered ++= sets(id)
        exp += ((r, id, g, covered.size.toLong))
        r += 1
      }
    }
    assert(got == exp.result(), s"got $got")
  }

  test("seeded differential over many candidate partitions, ties across partitions") {
    val rnd = new scala.util.Random(11)
    val random = (0 until 50).flatMap { id =>
      (0 until 3 + rnd.nextInt(20)).map(_ => (id.toLong, s"f${rnd.nextInt(120)}"))
    }
    // Tied groups: the ids of a group share one feature set, larger than
    // any random candidate's, so each group is one round's tie, decided by
    // the smallest id.
    val tieIds = Seq(Seq(205L, 117L, 311L, 120L), Seq(408L, 110L, 107L, 208L))
    val ties = tieIds.zipWithIndex.flatMap { case (ids, gi) =>
      ids.flatMap(id => (0 until 60 - 10 * gi).map(j => (id, s"t$gi-$j")))
    }
    val items = new scala.util.Random(12).shuffle(random ++ ties)
    val parts = 7
    // the hash partitioning of the grouping exchange
    val owner = tieIds.flatten.toDF("id")
      .select(col("id"), pmod(hash(col("id")), lit(parts)))
      .as[(Long, Int)].collect().toMap
    tieIds.foreach { ids =>
      assert(ids.exists(id => owner(id) < owner(ids.min)),
        s"the smallest of $ids sits in the first partition holding the tie")
    }
    val got = withConf("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      rows(MaxCoverage.greedySelect(items.toDF("id", "f").repartition(parts),
        "id", col("f"), 8))
    }
    assert(got.take(2).map(_._2) == Seq(117L, 107L))
    assert(got == replay(items, 8), s"got $got")
  }

  test("null ids and null features are dropped at the input") {
    val nullFeature = Seq[(java.lang.Long, String)](
      (1L, "a"), (1L, null), (2L, null), (2L, "b")).toDF("id", "f")
    assert(rows(MaxCoverage.greedySelect(nullFeature, "id", col("f"), 2)) ==
      Seq((1, 1L, 1L, 1L), (2, 2L, 1L, 2L)))
    // the null id would win round 1 with gain 2
    val nullId = Seq[(java.lang.Long, String)](
      (null, "a"), (null, "b"), (3L, "c")).toDF("id", "f")
    assert(rows(MaxCoverage.greedySelect(nullId, "id", col("f"), 2)) ==
      Seq((1, 3L, 1L, 1L)))
  }

  test("empty input gives zero rows") {
    assert(run(Seq.empty, 3).isEmpty)
  }

  test("k above the number of positive-gain candidates stops early") {
    assert(run(Seq(1L -> "a", 2L -> "b", 3L -> "a"), 5) ==
      Seq((1, 1L, 1L, 1L), (2, 2L, 1L, 2L)))
  }

  /** One completed stage of a traced run: its name, tasks, and the shuffle
    * records and bytes its tasks wrote. */
  private case class StageRun(name: String, tasks: Int, records: Long, bytes: Long)

  /** Runs `greedySelect` in its own job group; returns the picks, the
    * jobs it ran, how many of them were shortlist scans (a scan's result
    * stage is named after the `treeAggregate` call site), and its stages. */
  private def traced(items: DataFrame, k: Int, features: Column = col("f")) = {
    val sc = spark.sparkContext
    val group = "max-coverage-traced"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRun]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          if (j.stageInfos.exists(_.name.startsWith("treeAggregate at MaxCoverage")))
            scans.incrementAndGet()
          j.stageIds.foreach(id => stageIds.add(id))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val info = s.stageInfo
        if (stageIds.contains(info.stageId)) {
          val w = info.taskMetrics.shuffleWriteMetrics
          stages.add(StageRun(info.name, info.numTasks, w.recordsWritten, w.bytesWritten))
        }
      }
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "greedySelect")
      try MaxCoverage.greedySelect(items, "id", features, k)
      finally {
        sc.clearJobGroup()
        ListenerBridge.drain(sc)
      }
    } finally sc.removeSparkListener(listener)
    (rows(out), jobs.get, scans.get, stages.asScala.toSeq)
  }

  test("job budget: the exchange's map stage plus one scan, none persisted") {
    // Job counts repeat exactly at fixed data, unlike timings. One scan's
    // shortlist (2 × 12 candidates) certifies all 12 rounds here.
    val items = (0 until 40).flatMap(id =>
      (0 until 5).map(j => (id.toLong, s"f${(id * 3 + j) % 90}"))).toDF("id", "f")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (picked, jobs, scans, _) = traced(items, 12)
    assert(picked.size == 12)
    assert(jobs >= 1, "the listener saw no job")
    assert(jobs <= 2, s"$jobs jobs")
    assert(scans == 1, s"$scans scans")
    assert(spark.sparkContext.getPersistentRDDs.keys.forall(persisted))
  }

  test("forced rescan: a shortlist of near-copies of the winner fails the check") {
    // k = 3, so the first scan lists 2 × 3 = 6 candidates: the winner (id 1,
    // 100 features) and five near-copies (95 of its features plus 4 of
    // their own, gain 99), which leaves id 7 (50 features of its own) out.
    // After round 1 the copies gain 4 < 50, so round 2 must scan again.
    val rnd = new scala.util.Random(5)
    val winner = (0 until 100).map(j => (1L, s"w$j"))
    val copies = (2L to 6L).flatMap(id =>
      (0 until 95).map(j => (id, s"w$j")) ++ (0 until 4).map(j => (id, s"c$id-$j")))
    val outsider = (0 until 50).map(j => (7L, s"o$j"))
    val small = (10L until 40L).flatMap(id =>
      (0 until 1 + rnd.nextInt(8)).map(_ => (id, s"s${rnd.nextInt(40)}")))
    val items = rnd.shuffle(winner ++ copies ++ outsider ++ small)
    val (got, _, scans, _) = traced(items.toDF("id", "f"), 3)
    assert(scans >= 2, s"$scans scans")
    assert(got.take(2).map(_._2) == Seq(1L, 7L))
    assert(got == replay(items, 3), s"got $got")
  }

  test("exchange shape: the input rows cross it, features are built after it") {
    // 30 input rows of 40 features each (64 hex chars apiece): building
    // the features before the exchange writes 1,200 records, or 30 rows of
    // about 2.6 KB each. 5 partitions is more than local[4]'s default
    // parallelism, and few enough that `treeAggregate` merges in its result
    // stage, without a level between.
    val parts = 5
    val input = (0 until 30).map(i => (i.toLong, i % 11)).toDF("id", "n")
    val features = transform(sequence(lit(1), lit(40)),
      j => sha2(concat_ws("-", col("n").cast("string"), j.cast("string")), 256))
    val (got, _, scans, stages) =
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        traced(input, 4, features)
      }
    val expanded = input.select(col("id"), explode(features)).as[(Long, String)].collect().toSeq
    assert(got == replay(expanded, 4), s"got $got")
    assert(scans == 1, s"$scans scans")
    val (scan, exchange) = stages.partition(_.name.startsWith("treeAggregate at MaxCoverage"))
    assert(exchange.map(_.records).sum == 30L, s"stages $stages")
    assert(exchange.map(_.bytes).sum < 10000L, s"stages $stages")
    assert(scan.map(_.tasks) == Seq(parts), s"stages $stages")
  }

  test("array features: seeded differential with split ids, null and empty arrays") {
    val rnd = new scala.util.Random(23)
    val random = (0 until 60).flatMap { id =>
      (0 until 1 + rnd.nextInt(3)).map { _ =>
        val fs: Seq[String] =
          if (rnd.nextInt(10) == 0) null // a null array
          else (0 until rnd.nextInt(9)).map(_ => // empty arrays included
            if (rnd.nextInt(10) == 0) null else s"f${rnd.nextInt(150)}")
        (java.lang.Long.valueOf(id.toLong), fs)
      }
    }
    val edge = Seq[(java.lang.Long, Seq[String])](
      (500L, null), // a null array only: never a candidate
      (501L, Seq.empty), // an empty array only
      (502L, Seq(null, null)), // null elements only
      (503L, (0 until 30).map(j => s"d${j % 10}")), // 10 features, each thrice
      (null, (0 until 40).map(j => s"n$j"))) // a null id would win round 1
    val all = new scala.util.Random(24).shuffle(random ++ edge)
    val df = spark.sparkContext.parallelize(all, 5).toDF("id", "fs")
    val partsOf = df.select(col("id"), spark_partition_id()).as[(java.lang.Long, Int)]
      .collect().filter(_._1 != null).groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
    assert(partsOf.values.count(_.size > 1) >= 5,
      "several ids span more than one input partition")
    val got = rows(MaxCoverage.greedySelect(df, "id", col("fs"), 10))
    val pairs = all.collect { case (id, fs) if id != null && fs != null =>
        fs.filter(_ != null).map(f => (id.longValue, f)) }.flatten
    val exp = replay(pairs, 10)
    assert(exp.map(_._2).contains(503L), "the duplicate-element candidate is picked")
    assert(got == exp, s"got $got")
  }
}
