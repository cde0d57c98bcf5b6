package graft.source

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class BucketingSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("partitioned write prunes partitions at scan time") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val path = "/tmp/graft-test-warehouse/events_parted"
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    val read = spark.read.parquet(path)
      .filter(col("event_type") === "click")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("= click"),
      s"expected the event_type predicate as a partition filter in:\n$plan")
    assert(read.count() ===
      events.filter(col("event_type") === "click").count())
  }

  test("co-located join of same-bucketed tables plans with zero Exchange") {
    val spark2 = spark
    import spark2.implicits._
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .select("o_orderkey", "o_totalprice")
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
      .withColumnRenamed("l_orderkey", "o_orderkey")

    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Bucketing.writeBucketed(li, "b_lineitem", "o_orderkey", 4)
    // sf0.001 fixtures fit under the broadcast threshold, which would mask
    // the layout under test; disable to plan the large-table scenario
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected merge join in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed-to-bucketed join must not shuffle either side:\n$plan")
      // and it is the same result a shuffled join produces
      val expect = orders.join(li, "o_orderkey").count()
      assert(joined.count() === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
