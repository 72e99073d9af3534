package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Range-bucket id of a double against a sorted boundary array: the
  * count of boundaries `b` with `value >= b` (the upper-bound insertion
  * index), found by binary search. A NULL (or NaN) value and a NULL
  * boundary array both map to bucket 0 — the contract
  * `graft.api.Ranking` relies on for ascending nulls-first sorts.
  *
  * `bounds` is an ordinary child expression: a literal array for one
  * global boundary set, or a CASE over group keys choosing each group's
  * literal array. Either way every plan subtree that evaluates it sees
  * the identical boundaries.
  *
  * Why a native expression and not `aggregate(bounds, …)` or a
  * `when`-chain over the boundaries (both tried):
  *   - the when-chain fold is (p−1) nested additions deep — codegen
  *     method-size blowup / interpreted fallback at p = thousands;
  *   - the HOF form hits a correctness trap: a lambda body's captured
  *     outer attribute is NOT part of `ArrayAggregate.references` when
  *     the array argument is a literal, so constraint inference at the
  *     rank/offsets self-join pushes an inferred filter mentioning the
  *     LEFT branch's attribute into the RIGHT branch, which fails
  *     runtime binding (`INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND`; caught by
  *     RankingSpec).
  * Here the generated code is a single static-shaped call — O(1) codegen
  * size in p — and lookup is O(log p) instead of the linear scan both
  * rejected forms pay.
  */
case class BucketIndex(value: Expression, bounds: Expression)
    extends BinaryExpression {

  override def left: Expression = value
  override def right: Expression = bounds
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bucket_index"

  override def checkInputDataTypes(): TypeCheckResult =
    (value.dataType, bounds.dataType) match {
      case (DoubleType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (v, b) => TypeCheckResult.TypeCheckFailure(
        s"bucket_index requires (double, array<double>), got ($v, $b)")
    }

  override def eval(input: InternalRow): Any = {
    val v = value.eval(input)
    val b = bounds.eval(input)
    if (v == null || b == null) 0
    else BucketIndex.upperBound(b.asInstanceOf[ArrayData], v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = BucketIndex.getClass.getName.stripSuffix("$")
    val v = value.genCode(ctx)
    val b = bounds.genCode(ctx)
    ev.copy(
      code = code"""
        ${v.code}
        ${b.code}
        int ${ev.value} = (${v.isNull} || ${b.isNull}) ? 0
          : $obj.upperBound(${b.value}, ${v.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(value = newLeft, bounds = newRight)
}

object BucketIndex {

  /** First index with bounds(i) > v. `bounds(mid) <= v` is false for
    * NaN, so NaN lands in bucket 0 — identical to the `v >= b`
    * comparison count.
    */
  def upperBound(bounds: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = bounds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds.getDouble(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }
}
