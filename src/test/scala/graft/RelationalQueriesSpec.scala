package graft

import java.nio.file.Files
import java.sql.Timestamp

/** Fixture-backed checks for queries the sf-corpus oracle can't exercise.
  *
  * `q_customers_no_orders` returns 0 rows on the driver's generated data (every
  * customer has at least one order), so its oracle pass is vacuous there — this
  * spec feeds the anti-join a corpus where some customers genuinely have no
  * orders and checks the per-segment counts. `q_fk_integrity` is the same
  * case: the generated warehouse has no orphans.
  */
class RelationalQueriesSpec extends SparkTestBase {
  import spark.implicits._

  test("q_customers_no_orders counts order-less customers per segment") {
    val dir = Scratch.register(Files.createTempDirectory("graft_noorders").toString)
    Seq(
      (1L, "AUTOMOBILE"), (2L, "AUTOMOBILE"), (3L, "BUILDING"),
      (4L, "BUILDING"), (5L, "MACHINERY")
    ).toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // customers 2, 3, 4 never order; 5's key appears twice (dedup inside EXISTS)
    Seq((10L, 1L), (11L, 5L), (12L, 5L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val out = RelationalQueries.qCustomersNoOrders(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("AUTOMOBILE" -> 1L, "BUILDING" -> 2L))
  }

  test("q_fk_integrity counts orphans per FK chain, NULL child keys included") {
    // the generated warehouse has no orphans, so the oracle run only checks
    // zeros; this fixture breaks every one of the seven chains
    val dir = Scratch.register(Files.createTempDirectory("graft_fk").toString)
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    // a NULL parent key must not match a NULL child key
    write(Seq(Some(0L), Some(1L), None).toDF("r_regionkey"), "region")
    write(Seq((0L, Some(0L)), (1L, Some(1L)), (2L, Some(5L)), (3L, None))
      .toDF("n_nationkey", "n_regionkey"), "nation")
    write(Seq((1L, 0L), (2L, 1L), (3L, 9L))
      .toDF("s_suppkey", "s_nationkey"), "supplier")
    write(Seq((10L, Some(0L)), (11L, Some(2L)), (12L, None))
      .toDF("c_custkey", "c_nationkey"), "customer")
    // a duplicated parent key still matches each child row once
    write(Seq(100L, 101L, 101L).toDF("p_partkey"), "part")
    write(Seq((1000L, 10L), (1001L, 11L), (1002L, 99L), (1003L, 12L))
      .toDF("o_orderkey", "o_custkey"), "orders")
    write(Seq((Some(1000L), 100L, 1L), (Some(1000L), 101L, 2L),
        (Some(1001L), 101L, 3L), (Some(1002L), 102L, 1L),
        (Some(9999L), 100L, 4L), (None, 100L, 1L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey"), "lineitem")

    val out = RelationalQueries.qFkIntegrity(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("customer->nation", 3L, 1L),
      ("lineitem->orders", 6L, 2L),
      ("lineitem->part", 6L, 1L),
      ("lineitem->supplier", 6L, 1L),
      ("nation->region", 4L, 2L),
      ("orders->customer", 4L, 1L),
      ("supplier->nation", 3L, 1L)), out.mkString(", "))
  }

  test("data contract flags each dirty rule exactly once on a dirty fixture") {
    // the driver corpus is clean (the oracle run is a zero-violations
    // regression) — the rule logic itself needs a dirty fixture
    val tmp = Scratch.register(
      java.nio.file.Files.createTempDirectory("graft_contract").toString)
    Seq(
      (1.0, 0.05, "A", 10.0, Some(new Timestamp(1700000000000L))),
      (0.0, 0.50, "X", -1.0, Option.empty[Timestamp])
    ).toDF("l_quantity", "l_discount", "l_returnflag", "l_extendedprice",
        "l_shipdate")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val out = RelationalQueries.qDataContract(spark, tmp).collect()
    assert(out.length == 5)
    assert(out.forall(_.getLong(1) == 2L))
    assert(out.forall(_.getLong(2) == 1L), out.mkString(", "))
  }
}
