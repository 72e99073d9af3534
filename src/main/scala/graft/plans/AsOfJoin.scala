package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: for every left row, attach the LATEST right row
  * of the same key with `rightTs <= leftTs` (left-outer semantics) —
  * the standard time-series point-in-time join, which Spark lacks as a
  * first-class operator.
  *
  * Architecture (the full custom-operator stack):
  *  - [[AsOfJoin]]: resolved logical node.
  *  - [[AsOfJoinStrategy]]: plans it to the physical operator
  *    (installed by `GraftSession.install`, which [[AsOf]] calls, or
  *    through `GraftExtensions`).
  *  - [[AsOfJoinExec]]: declares ClusteredDistribution on the key and
  *    (key, ts) child ordering — Catalyst's EnsureRequirements inserts
  *    the exchanges and sorts (exactly how SortMergeJoinExec gets its
  *    inputs) — then streams a two-pointer merge per co-partition.
  *
  * Scale: one key-shuffle per side, sorted merge, O(1) state per key
  * (the single current candidate row). No buffering of right groups,
  * so arbitrarily hot keys stream through.
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTs: Expression,
    rightKey: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val blk = BindReferences.bindReference(leftKey, left.output)
    val blt = BindReferences.bindReference(leftTs, left.output)
    val brk = BindReferences.bindReference(rightKey, right.output)
    val brt = BindReferences.bindReference(rightTs, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nRight = right.output.length

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(nRight)
      val joiner = new JoinedRow
      var candidate: InternalRow = null
      var candidateKey: Any = null
      lIter.map { l =>
        val lk = blk.eval(l)
        val lt = blt.eval(l)
        // null left key or null left ts → no match by definition (the
        // interpreted orderings reject null operands, so both are
        // guarded before any compare).
        if (lk != null && lt != null) {
          // advance the right side up to (lk, lt]; remember the last
          // same-key row as the as-of candidate
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rHead = rBuf.head
            val rk = brk.eval(rHead)
            val cmp = if (rk == null) -1 else keyOrd.compare(rk, lk)
            // null right ts sorts first within its key (ascending nulls
            // first): consume it without candidacy so it cannot block
            // the key group's real rows.
            val rt = if (cmp == 0) brt.eval(rHead) else null
            if (cmp < 0 || (cmp == 0 && (rt == null || tsOrd.compare(rt, lt) <= 0))) {
              val r = rBuf.next()
              if (cmp == 0 && rt != null) {
                candidate = r.copy() // UnsafeRow reuse — must copy
                // re-derive the key FROM THE COPY: for non-primitive
                // types (UTF8String, Decimal, structs) the value from
                // brk.eval(rHead) points into the sorter's reused
                // buffer and is clobbered once the iterator advances
                candidateKey = brk.eval(candidate)
              }
            } else advancing = false
          }
        }
        val matched = lk != null && lt != null && candidate != null &&
          keyOrd.compare(candidateKey, lk) == 0
        joiner(l, if (matched) candidate else nullRight)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API:
  * `AsOf.join(events, signups, key = "user_id", leftTs = "ts", rightTs = "signup_ts")`
  * — keeps every left column plus the right side's non-key columns
  * (null when no right row precedes the left timestamp).
  */
object AsOf {
  def join(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    graft.GraftSession.install(spark)
    // rename the right key so the joined output has no duplicate name
    val r2 = right.withColumnRenamed(key, "__asof_key")
    val lPlan = left.queryExecution.analyzed
    val rPlan = r2.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(",")}"))
    org.apache.spark.sql.graftbridge.Bridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan,
        attr(lPlan, key), attr(lPlan, leftTs),
        attr(rPlan, "__asof_key"), attr(rPlan, rightTs)))
      .drop("__asof_key")
  }
}
