package graft

import org.apache.spark.sql.functions.{col, udf}

/** The dev harness loop (`Harness.run`) and `Bench` over injected queries. */
class HarnessSpec extends SparkTestBase {

  test("a throwing UDF in a column count() would prune fails the query") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom")
      x
    }
    val q: Harness.Query = (s, _) =>
      s.range(10).toDF("id").withColumn("bad", boom(col("id")))
    val results = Bench.measure(spark, "unused", reps = 1,
      queries = Map("q_udf" -> q))
    assert(results.map(_._1) == Seq("q_udf"))
    assert(results.head._2.isLeft)
  }

  test("a throwing query is left out of the totals, and storage is released") {
    val ok: Harness.Query = (s, _) => s.range(1000).toDF("id")
    val throws: Harness.Query = (_, _) => throw new IllegalStateException("x")
    // sorts last, so the last release runs after a failure with a checkpoint
    // still pinned
    val checkpointThenThrow: Harness.Query = { (s, _) =>
      s.range(100).toDF("id").localCheckpoint()
      throw new IllegalStateException("after checkpoint")
    }
    val results = Bench.measure(spark, "unused", reps = 2,
      queries = Map("q_ok" -> ok, "q_throw" -> throws,
        "q_zz_checkpoint" -> checkpointThenThrow))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(results.map { case (n, r) => n -> r.isRight } ==
      Seq("q_ok" -> true, "q_throw" -> false, "q_zz_checkpoint" -> false))

    val runs = results.head._2.toOption.get
    def r3d(x: Double) = math.round(x * 1000) / 1000.0
    val (line, detail) = Bench.report(results, reps = 2, sfDir = "sf",
      cpus = 4, loadStart = "[]", loadEnd = "[]")
    assert(line.contains("\"value\":" + r3d(runs.sum / 2) + ","))
    assert(line.contains("\"total_min\":" + r3d(runs.min) + ","))
    assert(line.contains("\"n_queries\":3,"))
    assert(line.endsWith(",\"n_failed\":2}"))
    assert(detail.startsWith(
      "{\"reps_per_query\":{\"q_ok\":" + runs.mkString("[", ",", "]") + "},"))
    assert(detail.contains(
      "\"rep_totals\":" + runs.map(r3d).mkString("[", ",", "]")))
  }

  test("SPARK_GRAFT_ONLY selects by substring; unset, empty and empty pieces") {
    val all = Seq("q_apple", "q_berry", "q_cherry")
    val queries: Map[String, Harness.Query] = all.map(n =>
      n -> ((_: org.apache.spark.sql.SparkSession, _: String) =>
        throw new IllegalStateException("never built"))).toMap
    def names(raw: Option[String]): Seq[String] =
      Harness.run(spark, "spec", queries, Harness.only(raw))((n, _) => n)
        .map(_._1)
    assert(names(None) == all)
    assert(names(Some("")) == all)
    assert(names(Some(",,")) == all)
    // the empty piece must not match: "" is a substring of q_cherry
    assert(names(Some("a,,b")) == Seq("q_apple", "q_berry"))
    assert(names(Some("err")) == Seq("q_berry", "q_cherry"))
  }
}
