package graft

import graft.functions.NearestCells
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** The native IVF cell-assignment expression (functions/NearestCells):
  * correctness of the distance/tie-break contract, null semantics, and
  * codegen/eval agreement. The at-scale motivation (k-independent
  * generated code) is measured in PERF.md round 5.
  */
class NearestCellsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val codebook = Array(
    Array(0.0, 0.0), // cell 0
    Array(1.0, 0.0), // cell 1
    Array(0.0, 1.0), // cell 2
    Array(2.0, 2.0)) // cell 3

  private def cellsOf(vecs: Seq[Seq[java.lang.Double]], probes: Int): Seq[Seq[Int]] = {
    import spark.implicits._
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "__v")
      .withColumn("__v", col("__v").cast("array<double>"))
    df.select(Bridge.column(NearestCells(UnresolvedAttribute("__v"), codebook, probes)).as("c"))
      .collect().map { r =>
        if (r.isNullAt(0)) null else r.getSeq[Int](0).toList
      }.toSeq
  }

  test("nearest cell by squared L2; equidistant ties take the lowest cell id") {
    val out = cellsOf(Seq(
      Seq(0.1, 0.1),   // nearest 0
      Seq(1.1, -0.1),  // nearest 1
      Seq(0.5, 0.5),   // equidistant to cells 0/1/2 -> first min = 0
      Seq(3.0, 3.0)),  // nearest 3
      probes = 1)
    assert(out == Seq(List(0), List(1), List(0), List(3)))
  }

  test("probes returns distance-ascending cells, ties by cell id") {
    val out = cellsOf(Seq(Seq(0.5, 0.5)), probes = 3)
    // d(0)=d(1)=d(2)=0.5, d(3)=4.5 -> order by (dist, cell): 0, 1, 2
    assert(out == Seq(List(0, 1, 2)))
    val out2 = cellsOf(Seq(Seq(1.9, 1.9)), probes = 2)
    assert(out2.head.head == 3, s"nearest must lead: $out2")
  }

  test("null vector, null element, and dims mismatch all yield NULL") {
    assert(cellsOf(Seq(Seq[java.lang.Double](null, 1.0)), 1) == Seq(null))
    assert(cellsOf(Seq(Seq(1.0, 2.0, 3.0).map(Double.box)), 1) == Seq(null))
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[Array[Double]])).toDF("id", "__v")
    val r = df.select(Bridge.column(
      NearestCells(UnresolvedAttribute("__v"), codebook, 1)).as("c")).head
    assert(r.isNullAt(0))
  }

  test("interpreted eval agrees with the codegen path") {
    val vecs = (0 until 32).map(i => Seq(Double.box(i * 0.37 % 3 - 1), Double.box(i * 0.61 % 3 - 1)))
    val viaDf = cellsOf(vecs, 2) // whole-stage codegen path
    val direct = vecs.map { v => // eval path, same contract
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.map(_.doubleValue()).toArray)
      NearestCells(UnresolvedAttribute("__v"), codebook, 2)
        .nearestEval(arr).toIntArray().toList
    }
    assert(viaDf == direct)
  }
}
