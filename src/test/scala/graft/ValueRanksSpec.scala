package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distinct-value rank device (`Ops.valueRanks`) on sf0.001: the
  * one unpartitioned window of every query built on it reads the value
  * histogram, never the rows (its stated bound), and the two-sample
  * ECDF numerators match a brute-force recount of the raw events.
  */
class ValueRanksSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  /** Executes `df` and returns the input row count of each of its
    * unpartitioned windows.
    */
  private def unpartitionedWindowInputs(df: DataFrame): Seq[Long] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => PlanRows.into(w.child)
    }
  }

  test("each device window reads one row per distinct value, not per input row") {
    val events = Tables.events(spark, d).filter(col("event_type").isin("click", "view"))
    val clickView = events.select("value").distinct().count()
    val nChars = Tables.documents(spark, d).select("n_chars").distinct().count()
    val quantities = Tables.lineitem(spark, d).select("l_quantity").distinct().count()
    val scores = graft.api.TextMetrics
      .quality(Tables.documents(spark, d), "doc_id", "text")
      .select("quality").distinct().count()
    assert((clickView, nChars, quantities) == ((389L, 311L, 50L)))
    assert(scores < Tables.documents(spark, d).count())
    val expected = Seq(
      "stat_ks_test" -> clickView, "stat_kuiper_test" -> clickView,
      "stat_cvm_test" -> clickView, "stat_mannwhitney" -> clickView,
      "stat_cliffs_delta" -> clickView, "stat_effect_sizes" -> clickView,
      "stat_kruskal_wallis" -> nChars, "stat_dunn_test" -> quantities,
      "stat_moods_median" -> quantities, "llm_quality_auc" -> scores)
    for ((q, distinct) <- expected) {
      val inputs = unpartitionedWindowInputs(SparkEntry.queries(q)(spark, d))
      assert(inputs.nonEmpty, s"$q: no unpartitioned window")
      assert(inputs.forall(_ == distinct),
        s"$q: window inputs $inputs, expected $distinct distinct values")
    }
  }

  test("KS, Kuiper and CvM numerators match a brute-force ECDF recount") {
    val rows = Tables.events(spark, d)
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "value").collect()
    val a = rows.filter(_.getString(0) == "click").map(_.getDouble(1))
    val b = rows.filter(_.getString(0) == "view").map(_.getDouble(1))
    val (na, nb) = (a.length.toLong, b.length.toLong)
    // n_a·n_b·(F_a(x) − F_b(x)) at every pooled observation x
    val gaps = (a ++ b).map(x => a.count(_ <= x) * nb - b.count(_ <= x) * na)

    val ks = SparkEntry.queries("stat_ks_test")(spark, d).head()
    assert((ks.getLong(0), ks.getLong(1)) == ((na, nb)))
    assert(ks.getLong(2) == gaps.map(math.abs).max, "KS d_num")

    val kuiper = SparkEntry.queries("stat_kuiper_test")(spark, d).head()
    assert(kuiper.getLong(2) ==
      math.max(gaps.max, 0L) + math.max(gaps.map(-_).max, 0L), "Kuiper v_num")

    val cvm = SparkEntry.queries("stat_cvm_test")(spark, d).head()
    val num = gaps.map(g => BigInt(g) * g).sum
    val want = (BigDecimal(num) /
      (BigDecimal(na) * nb * (na + nb) * (na + nb))).toDouble
    assert(math.abs(cvm.getDouble(2) - want) <= 5e-7 + 1e-12,
      s"CvM: got ${cvm.getDouble(2)}, brute force $want")
  }
}
