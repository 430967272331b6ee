package graft

import java.nio.file.Files
import java.sql.Timestamp

/** Fixture-backed checks for queries the sf-corpus oracle can't exercise.
  *
  * `q_customers_no_orders` returns 0 rows on the driver's generated data (every
  * customer has at least one order), so its oracle pass is vacuous there — this
  * spec feeds the anti-join a corpus where some customers genuinely have no
  * orders and checks the per-segment counts.
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
