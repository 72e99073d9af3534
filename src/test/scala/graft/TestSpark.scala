package graft

import org.apache.spark.sql.SparkSession

/** One shared hive-enabled session for the whole forked test JVM
  * (embedded Derby metastore + warehouse in a temp dir).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_test")
    val s = GraftSession.harness(4)
      .config("spark.sql.warehouse.dir", tmp.resolve("wh").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${tmp.resolve("metastore")};create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
