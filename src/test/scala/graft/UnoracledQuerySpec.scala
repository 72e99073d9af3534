package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The declared queries DuckDB cannot oracle, each pinned against an
  * exact answer: the two sketches within their documented error bound,
  * the two streams equal to a batch twin over the same fixture.
  */
class UnoracledQuerySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("agg_approx_hll: each day within approx_count_distinct's 5% rsd of exact") {
    val got = run("agg_approx_hll").collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id"))).collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet && exact.nonEmpty)
    exact.foreach { case (day, n) =>
      assert(math.abs(got(day) - n).toDouble / n <= 0.05, s"$day exact=$n approx=${got(day)}")
    }
  }

  test("agg_approx_percentile: ranks within 1/accuracy of p50 and p95") {
    val accuracy = 10000.0
    val values = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    val rows = run("agg_approx_percentile").collect()
    assert(rows.map(_.getString(0)).toSet == values.keySet)
    for (r <- rows; (p, i) <- Seq(0.5 -> 1, 0.95 -> 2)) {
      val xs = values(r.getString(0))
      val v = r.getDouble(i)
      val n = xs.length
      // rank of v spans [#(x < v), #(x <= v)]; it must reach p·n within
      // n/accuracy (+1 for the discrete rank convention)
      val slack = n / accuracy + 1
      assert(xs.contains(v), s"$p: $v is not a column value")
      assert(xs.count(_ < v) <= p * n + slack && xs.count(_ <= v) >= p * n - slack,
        s"flag=${r.getString(0)} p=$p v=$v n=$n")
    }
  }

  test("stream_sliding equals its batch twin") {
    val twin = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), approx_count_distinct(col("user_id")).as("n_users"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("n_users"))
      .orderBy("w_start")
    val want = twin.collect().toSeq
    assert(want.nonEmpty)
    assert(run("stream_sliding").collect().toSeq == want)
  }

  test("stream_transformwithstate equals its batch twin (per-user value sum)") {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(provKey)
    val got = run("stream_transformwithstate").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the query runs on RocksDB and must leave the session's provider
    // as it found it
    assert(spark.conf.getOption(provKey) == prior)
    // exact decimal sums: the stream's double fold, rounded to cents,
    // stays within half a cent of them
    val exact = Tables.events(spark, sf)
      .groupBy("user_id").agg(sum(col("value").cast("decimal(38,10)")))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue).toMap
    assert(got.keySet == exact.keySet && exact.nonEmpty)
    exact.foreach { case (u, s) =>
      assert(math.abs(got(u) - s) <= 0.005 + 1e-9, s"user $u stream=${got(u)} exact=$s")
    }
  }
}
