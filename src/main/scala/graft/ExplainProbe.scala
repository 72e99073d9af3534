package graft

import java.nio.file.{Files, Paths}

/** Dev-only plan dumper: writes `explain("formatted")` of each named
  * query (comma list, or "all") to <outDir>/<name>.txt — the
  * before/after plan evidence the optimization rounds commit under
  * the plans directory. Not part of the driver contract.
  * Usage: runMain graft.ExplainProbe <sfDir> <outDir> <names|all>
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val spark = GraftSession.harness().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$n.txt"), txt)
        println(s"[explain] wrote $outDir/$n.txt")
      } catch { case e: Throwable =>
        println(s"[explain] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
