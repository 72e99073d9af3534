package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native IVF cell assignment: the `probes` nearest codebook centroids
  * of a double-vector column, by squared L2 (ascending), ties broken by
  * lowest cell id. Returns `array<int>` of length `min(probes, k)`.
  *
  * Why not k `sq_l2` columns (the previous shape): the codebook is
  * embedded as k×dims LITERALS there, so generated code grows linearly
  * in k — measured falling off the JIT cliff at k=64 (k-means training
  * 50 s → 353 s for 4× k at 100k vectors; PERF.md round 5).
  * Here the codebook rides along as ONE referenced object
  * (`ctx.addReferenceObj`) and the generated code is a single call into
  * [[nearestEval]] — a tight, JIT-compiled primitive-array loop whose
  * size is independent of k, so raising k with corpus size (the IVF
  * scale dial: cells ≈ √n) no longer degrades codegen.
  *
  * Numerics and tie-breaks are EXACTLY the previous forms':
  * (x_i - y_i)² accumulated in index order (bit-identical to [[SqL2]]
  * and the DuckDB oracle), strict-less insertion keeps the FIRST
  * minimum — same as `array_position(dists, array_min(dists))` for
  * probes=1 and as the lexicographic (dist, cell) struct sort for
  * probes>1. All IVF oracles hold unchanged.
  *
  * Null semantics: null if the input is null, any element is null, or
  * the vector length differs from the codebook dims.
  */
case class NearestCells(child: Expression, codebook: Array[Array[Double]],
    probes: Int) extends UnaryExpression {

  require(codebook.nonEmpty && probes >= 1, "need a non-empty codebook and probes >= 1")

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells requires array<double>, got $t")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  /** Shared by eval and codegen (the generated code is one call into
    * this JIT-compiled loop). Returns null for bad input — the caller
    * maps that to SQL NULL.
    */
  def nearestEval(a: AnyRef): ArrayData = {
    val x = a.asInstanceOf[ArrayData]
    val dims = codebook(0).length
    if (x.numElements() != dims) return null
    val v = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      if (x.isNullAt(i)) return null
      v(i) = x.getDouble(i)
      i += 1
    }
    val p = math.min(probes, codebook.length)
    val bestD = Array.fill(p)(Double.PositiveInfinity)
    val bestC = new Array[Int](p)
    var c = 0
    while (c < codebook.length) {
      val cb = codebook(c)
      var d = 0.0
      var j = 0
      while (j < dims) { val t = v(j) - cb(j); d += t * t; j += 1 }
      var pos = p
      while (pos > 0 && d < bestD(pos - 1)) pos -= 1 // strict < keeps first-min on ties
      if (pos < p) {
        var m = p - 1
        while (m > pos) { bestD(m) = bestD(m - 1); bestC(m) = bestC(m - 1); m -= 1 }
        bestD(pos) = d
        bestC(pos) = c
      }
      c += 1
    }
    new GenericArrayData(bestC)
  }

  override def nullSafeEval(a: Any): Any = nearestEval(a.asInstanceOf[AnyRef])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $ref.nearestEval($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
