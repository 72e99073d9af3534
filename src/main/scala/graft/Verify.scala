package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in an oracle's SQL would otherwise make
    * a JSON reader reject the whole oracle file.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [--only name1,name2 | --shards i/n]
    // (filters are dev-only; the driver always invokes with exactly two
    // args = full dump). --shards i/n keeps every query whose rank in
    // the SORTED name list ≡ i (mod n) — a deterministic partition of
    // the surface so a comparator death can be bisected to the shard
    // (and the query) that kills it from the driver's own artifacts.
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length >= 4 && args(2) == "--only") Some(args(3).split(",").toSet)
      else if (args.length >= 4 && args(2) == "--shards") {
        // Validate shape before destructuring (r12 ADVICE): a malformed
        // "--shards 3" must hit the friendly require, not a MatchError.
        val parts = args(3).split("/").toSeq.map(p => scala.util.Try(p.toInt))
        require(parts.length == 2 && parts.forall(_.isSuccess),
          s"--shards wants i/n with 0<=i<n, got ${args(3)}")
        val Seq(i, n) = parts.map(_.get)
        require(n > 0 && i >= 0 && i < n, s"--shards wants i/n with 0<=i<n, got ${args(3)}")
        Some(SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
          .collect { case (name, idx) if idx % n == i => name }.toSet)
      } else None
    val spark = GraftSession.harness().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // one summary line, so a failure is counted, not only logged
    println(s"""{"metric":"verify","n_queries":${selected.size},"n_errors":${failed.size},""" +
      s""""failed":${failed.sorted.map(jsonString).mkString("[", ",", "]")}}""")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
