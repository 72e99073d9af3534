package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused cosine similarity over two
  * double-array columns, with whole-stage codegen (`doGenCode`).
  *
  * Why not the `zip_with`+`aggregate` higher-order form: HOF lambdas are
  * evaluated per element through the interpreter inside codegen'd
  * plans; this fuses dot + both norms into one tight primitive loop.
  * Numerics: accumulates in index order — bit-identical to the
  * sequential HOF fold and to DuckDB's `list_sum(list_transform(...))`,
  * so oracle parity is preserved exactly.
  *
  * Null semantics: EXACTLY the higher-order-function form's — null if
  * either array is null, if any element is null, or if lengths differ
  * (zip_with pads the shorter side with nulls, poisoning the fold).
  * Zero norm mirrors Divide's 0.0-divisor contract mode-for-mode:
  * `failOnError` is captured from the session at construction (the
  * same pattern as Divide itself), so ANSI throws DIVIDE_BY_ZERO and
  * legacy mode returns null. This equivalence is what makes the
  * AccelerateCosine optimizer rewrite safe under either mode.
  */
case class CosineSim(left: Expression, right: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  // Can return null from non-null inputs (length mismatch, null
  // element, zero norm) — same pattern as Spark's Divide. Without this
  // override the inherited nullable would be false for non-nullable
  // inputs, NullPropagation could constant-fold IsNull to false, and
  // the non-nullable codegen path would emit `false = true;`.
  override def nullable: Boolean = true

  private def zeroNormError(): Nothing =
    throw Bridge.divideByZeroError()

  // ExpectsInputTypes is unusable outside org.apache.spark.sql
  // (AbstractDataType is private[sql]); check types directly.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) {
      // 0.0 divisor: throw under ANSI, null in legacy — like Divide
      if (failOnError) zeroNormError() else null
    } else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: the same expression can be instantiated several
      // times inside one codegen scope (fixed names → "Redefinition of
      // local variable" compile errors, silent interpreter fallback)
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${if (failOnError)
               "throw org.apache.spark.sql.graftbridge.Bridge.divideByZeroError();"
             else s"${ev.isNull} = true;"}
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  // failOnError participates in equality (two CosineSims in different
  // ANSI modes are different expressions) but must not break the
  // 2-child contract — BinaryExpression's children stay (left, right).
}
