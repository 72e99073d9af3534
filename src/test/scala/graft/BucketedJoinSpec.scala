package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing: the co-located-join story for repeated fact⋈fact joins at
  * scale — both sides bucketed by the join key into the warehouse join
  * WITHOUT a shuffle exchange on either side.
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed tables join without shuffle exchanges") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    spark.sql("DROP TABLE IF EXISTS graft_buckets.orders_b")
    spark.sql("DROP TABLE IF EXISTS graft_buckets.lineitem_b")
    Tables.orders(spark, TestSpark.sf0001)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_buckets.orders_b")
    Tables.lineitem(spark, TestSpark.sf0001)
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_buckets.lineitem_b")

    val joined = spark.table("graft_buckets.lineitem_b")
      .join(spark.table("graft_buckets.orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))

    // force a sort-merge join (broadcast would hide the bucketing)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // bucketed co-location: no shuffle below the join
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"lineitem side shuffled:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"orders side shuffled:\n$plan")
      // correctness unchanged vs the unbucketed join
      val expect = Tables.lineitem(spark, TestSpark.sf0001)
        .join(Tables.orders(spark, TestSpark.sf0001),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("harness sessions build from the GraftSession conf list") {
    assert(GraftSession.harnessConf(4).toMap == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    assert(GraftSession.harnessConf(32).toMap.apply("spark.sql.shuffle.partitions") == "32")
    // the shared test session is built from harness(4): every pair holds
    val conf = spark.sparkContext.getConf
    GraftSession.harnessConf(4).foreach { case (k, v) =>
      assert(conf.getOption(k).orElse(spark.conf.getOption(k)).contains(v), k)
    }
  }
}
