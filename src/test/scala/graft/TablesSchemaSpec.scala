package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables' parquet loader: a fixture's schema is inferred once per
  * (path, fingerprint, parquet confs) and every later load runs no
  * schema-inference job, while still building a fresh relation.
  */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs started by `body` on this thread. */
  private def jobs[T](body: => T): (T, Int) = {
    val tag = s"tables-schema-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("graft.spec.tag") == tag)
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
    try {
      val r = body
      Bridge.waitListenerBusEmpty(spark)
      (r, n.get)
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.tag", null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a repeat load runs no job and matches a plain parquet read") {
    val d = TestSpark.sf0001
    Tables.customer(spark, d)
    val (again, n) = jobs(Tables.customer(spark, d))
    assert(n == 0, s"second load of customer issued $n jobs")
    val (plain, inferJobs) = jobs(spark.read.parquet(s"$d/customer.parquet"))
    assert(inferJobs >= 1, "the listener must see a plain read's inference job")
    assert(again.schema == plain.schema)
    assert(again.count() == plain.count())
    // two loads are two relations: a self-join resolves both sides
    val other = Tables.customer(spark, d)
    assert(again.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(other.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    val pairs = again.as("a").join(other.as("b"), col("a.c_custkey") === col("b.c_custkey"))
    assert(pairs.count() == plain.count())
  }

  test("a rewritten file is seen once its fingerprint moves") {
    val dir = tmpDir("graft_tables_schema")
    val path = s"$dir/t.parquet"
    Seq((1L, "x")).toDF("a", "b").write.parquet(path)
    Fixtures.invalidate()
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    Seq((2L, "y", 3.0)).toDF("a", "b", "c").write.mode("overwrite").parquet(path)
    // within the fingerprint TTL the old schema is served (the staleness
    // rule every fixture memo shares) ...
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a", "b"))
    // ... and an invalidation makes the next load infer the new one
    Fixtures.invalidate()
    val now = Tables.table(spark, dir, "t")
    assert(now.columns.toSeq == Seq("a", "b", "c"))
    assert(now.as[(Long, String, Double)].collect().toSeq == Seq((2L, "y", 3.0)))
  }

  test("nanosAsLong is part of the key: each setting gets its own schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an events file whose ts is TIMESTAMP(NANOS): Spark refuses it
    // unless nanosAsLong reads it as a bigint
    val dir = tmpDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    def refused(): Boolean =
      try { Tables.table(spark, dir, "events"); false }
      catch { case _: org.apache.spark.sql.AnalysisException => true }
    try {
      spark.conf.set(key, "false")
      assert(refused(), "TIMESTAMP(NANOS) must be refused without nanosAsLong")
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      assert(refused(), "the nanosAsLong schema must not be served without it")
      spark.conf.set(key, "true")
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(expr("unix_micros(ts)")).as[Long].head() == 1700000000123456L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("events loaders and queries leave nanosAsLong unset on the caller's session") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val fresh = spark.newSession()
    fresh.conf.unset(key)
    val d = TestSpark.sf0001
    val calls: Seq[(String, () => Any)] = Seq(
      "Tables.events" -> (() => Tables.events(fresh, d).head()),
      "Tables.eventsRawNanos" -> (() => Tables.eventsRawNanos(fresh, d).head())) ++
      Seq("catalog_table_stats", "catalog_column_inventory", "stream_stateful_count")
        .map(q => q -> (() => SparkEntry.queries(q)(fresh, d).collect()))
    calls.foreach { case (name, call) =>
      call()
      val set = fresh.conf.getAll.get(key)
      assert(set.isEmpty, s"$name set $key on the caller's session")
    }
  }

  test("the memo holds at most its bound") {
    val dir = tmpDir("graft_tables_bound")
    val src = s"$dir/src.parquet"
    Seq(1L).toDF("a").coalesce(1).write.parquet(src)
    val part = new java.io.File(src).listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    (0 until Tables.SchemaMemoBound + 6).foreach { i =>
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(s"$dir/t$i.parquet"))
      assert(Tables.table(spark, dir, s"t$i").columns.toSeq == Seq("a"))
      assert(Tables.schemaMemoSize <= Tables.SchemaMemoBound)
    }
    assert(Tables.schemaMemoSize == Tables.SchemaMemoBound)
  }
}
