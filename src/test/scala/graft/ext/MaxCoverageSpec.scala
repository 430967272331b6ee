package graft.ext

import graft.SparkTestBase
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

class MaxCoverageSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  private def run(items: Seq[(Long, String)], k: Int) =
    rows(MaxCoverage.greedySelect(items.toDF("id", "f"), "id", "f", k))

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
        "id", "f", 8))
    }
    assert(got.take(2).map(_._2) == Seq(117L, 107L))
    assert(got == replay(items, 8), s"got $got")
  }

  test("null ids and null features are dropped at the input") {
    val nullFeature = Seq[(java.lang.Long, String)](
      (1L, "a"), (1L, null), (2L, null), (2L, "b")).toDF("id", "f")
    assert(rows(MaxCoverage.greedySelect(nullFeature, "id", "f", 2)) ==
      Seq((1, 1L, 1L, 1L), (2, 2L, 1L, 2L)))
    // the null id would win round 1 with gain 2
    val nullId = Seq[(java.lang.Long, String)](
      (null, "a"), (null, "b"), (3L, "c")).toDF("id", "f")
    assert(rows(MaxCoverage.greedySelect(nullId, "id", "f", 2)) ==
      Seq((1, 3L, 1L, 1L)))
  }

  test("empty input gives zero rows") {
    assert(run(Seq.empty, 3).isEmpty)
  }

  test("k above the number of positive-gain candidates stops early") {
    assert(run(Seq(1L -> "a", 2L -> "b", 3L -> "a"), 5) ==
      Seq((1, 1L, 1L, 1L), (2, 2L, 1L, 2L)))
  }

  test("job budget: fixed set-up jobs plus 2 per round, one RDD left persisted") {
    // Job counts repeat exactly at fixed data, unlike timings. The one
    // set-up job is the map stage of the grouping exchange; the 12 rounds
    // all pick, so no final zero-gain round runs.
    val setupJobs = 1
    val items = (0 until 40).flatMap(id =>
      (0 until 5).map(j => (id.toLong, s"f${(id * 3 + j) % 90}"))).toDF("id", "f")
    val sc = spark.sparkContext
    val group = "max-coverage-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    val persisted = sc.getPersistentRDDs.keySet.toSet
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "greedySelect")
      try MaxCoverage.greedySelect(items, "id", "f", 12)
      finally {
        sc.clearJobGroup()
        ListenerBridge.drain(sc)
      }
    } finally sc.removeSparkListener(listener)
    val picked = rows(out)
    assert(picked.size == 12)
    assert(jobs.get >= 2 * picked.size, s"listener saw ${jobs.get} jobs")
    assert(jobs.get <= setupJobs + 2 * picked.size, s"${jobs.get} jobs")
    assert(sc.getPersistentRDDs.keys.count(id => !persisted(id)) == 1)
  }
}
