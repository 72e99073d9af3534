package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native cosine_sim expression: parity with the HOF form, codegen and
  * interpreted paths, type checking, the shared native-function list.
  */
class CosineSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def hofSim = {
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("bit-exact parity with the higher-order-function form") {
    GraftSession.install(spark)
    val vecs = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = vecs.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val both = vecs.crossJoin(q)
      .select(expr("cosine_sim(v, qv)").as("native"),
        hofSim(col("v"), col("qv")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("self-similarity is 1.0 within 1e-9") {
    GraftSession.install(spark)
    val bad = Tables.embeddings(spark, TestSpark.sf0001)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .select(expr("cosine_sim(v, v)").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-9)
    assert(bad.count() == 0)
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = Literal.create(new GenericArrayData(Array(1.0, 2.0, 3.0)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val b = Literal.create(new GenericArrayData(Array(3.0, 2.0, 1.0)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val interp = graft.functions.CosineSim(a, b).eval(null).asInstanceOf[Double]
    val expected = (3.0 + 4.0 + 3.0) / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(interp - expected) < 1e-12)
  }

  test("zero-norm vector mirrors Divide per SQL mode (null legacy, throw ANSI)") {
    GraftSession.install(spark)
    import spark.implicits._
    val df = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    // legacy mode: both the native expression and the HOF+Divide form → null
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(df.select(expr("cosine_sim(a, b)")).head.isNullAt(0))
      assert(df.select(hofSim(col("a"), col("b"))).head.isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // ANSI mode: both throw DIVIDE_BY_ZERO
    val eNative = intercept[Exception](
      df.select(expr("cosine_sim(a, b)")).collect())
    assert(eNative.getMessage.contains("DIVIDE_BY_ZERO"), eNative.getMessage)
    val eHof = intercept[Exception](
      df.select(hofSim(col("a"), col("b"))).collect())
    assert(eHof.getMessage.contains("DIVIDE_BY_ZERO"), eHof.getMessage)
    // interpreted path, legacy semantics, explicit failOnError=false
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val z = Literal.create(new GenericArrayData(Array(0.0, 0.0)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val v = Literal.create(new GenericArrayData(Array(1.0, 2.0)),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    assert(graft.functions.CosineSim(z, v, failOnError = false).eval(null) == null)
    intercept[ArithmeticException](
      graft.functions.CosineSim(z, v, failOnError = true).eval(null))
  }

  test("nullable is true even over non-nullable inputs") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val a = Literal.create(new GenericArrayData(Array(1.0)),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))
    assert(graft.functions.CosineSim(a, a).nullable)
  }

  test("type mismatch is rejected at analysis") {
    GraftSession.install(spark)
    import spark.implicits._
    val df = Seq(("x", 1)).toDF("s", "i")
    val e = intercept[Exception](df.select(expr("cosine_sim(s, i)")).collect())
    assert(e.getMessage.contains("cosine_sim") || e.getMessage.contains("DATATYPE"))
  }

  test("GraftExtensions and install read the one native-function list") {
    val injected = Seq.newBuilder[org.apache.spark.sql.SparkSessionExtensions#FunctionDescription]
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected += f
    })
    val injectedFns = injected.result()
    assert(injectedFns.map(_._1.funcName) == Seq("cosine_sim", "sq_l2"))
    assert(injectedFns.zip(GraftSession.nativeFunctions).forall { case (a, b) => a eq b })
    // a plain session has none of them until install adds each one
    val s2 = spark.newSession()
    val registry = s2.sessionState.functionRegistry
    assert(GraftSession.nativeFunctions.forall { case (id, _, _) => !registry.functionExists(id) })
    GraftSession.install(s2)
    GraftSession.nativeFunctions.foreach { case (id, info, build) =>
      assert(registry.lookupFunction(id).contains(info), id)
      assert(registry.lookupFunctionBuilder(id).contains(build), id)
    }
    val r = s2.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
