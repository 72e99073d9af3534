package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused squared-L2 distance over two
  * double-array columns, with whole-stage codegen (`doGenCode`).
  *
  * Built for the IVF hot path (cell assignment + probe ranking in
  * `graft.api.Similarity`): nearest-centroid assignment evaluates
  * k distances per row per Lloyd round, and the higher-order
  * `aggregate(zip_with(...))` form pays per-element interpreted lambda
  * dispatch — measurable across 5 training rounds plus both declared
  * IVF search queries. Same design as [[CosineSim]].
  *
  * Numerics: accumulates `(x_i - y_i)^2` in index order — bit-identical
  * to the sequential HOF fold it replaces and to the DuckDB oracle's
  * `list_sum(list_transform(...))` mirror, so oracle parity is exact.
  *
  * Null semantics: exactly the HOF form's — null if either array is
  * null, any element is null, or lengths differ (zip_with pads the
  * shorter side with nulls, poisoning the fold). No divisor, so no
  * ANSI-mode split (unlike cosine_sim).
  */
case class SqL2(left: Expression, right: Expression) extends BinaryExpression {

  // Can return null from non-null inputs (length mismatch, null
  // element) — see CosineSim.nullable for why the override matters.
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_l2 requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
