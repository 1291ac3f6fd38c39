package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sinks

/** Pins the co-location contract of [[Sinks.writeBucketed]]: equal-key
  * equal-bucket tables join with zero shuffle exchanges.
  */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Shuffle-exchange count in a plan string: hash/range/single
    * partitioning forms only — bare "Exchange" would also match
    * BroadcastExchange and ReusedExchange (ADVICE r11). */
  private def shuffles(plan: String): Int =
    "Exchange (hash|range|single)partitioning".r.findAllIn(plan).length

  test("bucketed tables join without a shuffle exchange") {
    val dir = Files.createTempDirectory("graft_bucketed").toString
    val orders = Tables.load(spark, TestSpark.sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.load(spark, TestSpark.sf, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    Sinks.writeBucketed(orders, "orders_b", s"$dir/orders", "o_custkey", 8)
    Sinks.writeBucketed(customer, "customer_b", s"$dir/customer", "c_custkey", 8)

    // disable broadcast so the planner must pick SMJ — the point is that
    // the bucket layout replaces BOTH shuffles, not that the table is small
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      // count in the PLAN STRING: a typed collect over ShuffleExchangeExec
      // is vacuous under AQE (AdaptiveSparkPlanExec exposes no children),
      // which would make this assertion pass on any plan. Match the
      // SHUFFLE exchange forms specifically — a bare "Exchange" regex
      // also hits BroadcastExchange/ReusedExchange, where a planner
      // change could flip the count without any real shuffle regression.
      val p = joined.queryExecution.executedPlan.toString
      assert(shuffles(p) == 0,
        s"expected zero shuffles, got:\n$p")
      // and it still computes the right thing
      val expected = orders.join(customer,
        col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
