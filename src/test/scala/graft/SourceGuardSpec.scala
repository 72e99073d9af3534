package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main/scala`: sessions are built, native
  * functions registered and `experimental.extra*` lists written only in
  * GraftSession and GraftExtensions, ExplainProbe is the one dev probe
  * main, memos and fixture keys are built only by Memo and Fixtures, and
  * on-disk paths and catalog databases only by Artifacts; the shared
  * oracle SQL devices, the graph BFS level, the distinct-value rank
  * device and the range-bucketed rank body are each written once; no
  * doc comment is stacked on another.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val owners = Set("GraftSession.scala", "GraftExtensions.scala")

  private lazy val sources: Seq[(Path, Seq[String])] = {
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
  }

  private def hits(pattern: String, allowed: Path => Boolean): Seq[String] = {
    val re = pattern.r
    for {
      (p, lines) <- sources if !allowed(p)
      (line, i) <- lines.zipWithIndex if re.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  private def isOwner(p: Path) = owners.contains(p.getFileName.toString)

  test("SparkSession.builder() only in GraftSession/GraftExtensions") {
    assert(sources.nonEmpty)
    val found = hits("""SparkSession\.builder\(\)""", isOwner)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("function registration only in GraftSession/GraftExtensions") {
    val found = hits("""createOrReplaceTempFunction|registerFunction\(|injectFunction""", isOwner)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("experimental.extra* writes only in GraftSession/GraftExtensions") {
    val found = hits("""\.extra(Strategies|Optimizations)\s*=(?!=)""", isOwner)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("ExplainProbe is the only probe main") {
    val found = hits("""\bobject\s+\w+Probe\b""", _ => false)
    assert(found.size == 1 && found.head.contains("object ExplainProbe"), found.mkString("\n"))
  }

  test("memo maps and fixture keys only in Memo/Fixtures") {
    val memoOwners = Set("Memo.scala", "Fixtures.scala")
    val found = hits(
      """new (java\.util\.concurrent\.)?ConcurrentHashMap|new (java\.util\.)?LinkedHashMap""" +
        """|replaceAll\("\[\^A-Za-z0-9|isStopped\) it\.remove\(\)""",
      p => memoOwners.contains(p.getFileName.toString))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("on-disk paths and catalog databases only in Artifacts") {
    val found = hits("""java\.io\.tmpdir|createTempDirectory|createTempFile|CREATE DATABASE""",
      _.getFileName.toString == "Artifacts.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("api/Dedup.scala persists only inside exactSubstringSpans") {
    val (_, lines) = sources.find(_._1.endsWith("api/Dedup.scala"))
      .getOrElse(fail("api/Dedup.scala not found"))
    val start = lines.indexWhere(_.contains("def exactSubstringSpans("))
    val end = lines.indexWhere(l => l.startsWith("  def ") || l.startsWith("  /**"), start + 1)
    assert(start >= 0 && end > start)
    val found = lines.zipWithIndex.collect {
      case (l, i) if """\b(un)?persist\(""".r.findFirstIn(l).isDefined &&
          (i < start || i >= end) => s"Dedup.scala:${i + 1}: ${l.trim}"
    }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("oracle SQL devices are written once: Lloyd chain, squared L2, md5 hex") {
    val bodies = Seq(
      "ORDER BY md5(CAST(vec_id AS VARCHAR))", // Lloyd init
      "CAST(SUM(CAST(x AS DECIMAL(38,20))) AS DOUBLE) / COUNT(*)", // exact means
      "WHERE c_id NOT IN (SELECT DISTINCT cell FROM", // empty-cell carry-over
      "x -> (x[1] - x[2]) * (x[1] - x[2])", // squared L2
      "* ${1L << (4 * (15 - p))}", // 15-nibble md5 hex
      "list_sum(list(partial ORDER BY chunk))") // ordered chunked sum
    for (b <- bodies) {
      val found = hits(java.util.regex.Pattern.quote(b), _ => false)
      assert(found.size == 1, s"$b written ${found.size} times:\n${found.mkString("\n")}")
    }
  }

  test("the graph BFS level is written once and GRAFT_GRAPH_DEBUG is gone") {
    // a hand-written BFS level: distinct new (src, node) pairs, a
    // left-anti join against the visited set, a per-level checkpoint
    val levels = for {
      (p, lines) <- sources
      (line, i) <- lines.zipWithIndex if line.contains("\"left_anti\"")
      if lines.slice(i - 3, i + 1).exists(_.contains(".distinct()"))
      if lines.slice(i, i + 3).exists(_.contains(".cpReset()"))
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(levels.size == 1 && levels.head.contains("api/Graph.scala"),
      s"BFS level written ${levels.size} times:\n${levels.mkString("\n")}")
    val debug = hits("GRAFT_GRAPH_DEBUG", _ => false)
    assert(debug.isEmpty, debug.mkString("\n"))
  }

  test("the distinct-value rank device is written once per engine") {
    // stat_spearman keeps its per-flag midranks (Ranking's bucketed
    // prefix sum over prices, a per-flag window over quantities); every
    // other midrank and cumulative count over a value histogram goes
    // through Ops.valueRanks / Ops.SQL_VALUE_RANKS
    def inSpearman(p: Path, i: Int): Boolean = {
      val lines = sources.find(_._1 == p).get._2
      val start = lines.lastIndexWhere(_.contains("Q(\""), i)
      start >= 0 && lines(start).contains("Q(\"stat_spearman\"")
    }
    val texts = Seq(
      "Spark doubled midrank" ->
        ("""(lit\(2L?\)|\b2L?)\s*\*\s*col\("\w+"\)(\s*\+\s*col\("\w+"\))+\s*[+-]\s*(lit\()?1L?\b""" +
          """|col\("\w+"\)\s*\*\s*2\s*\+\s*col\("\w+"\)\s*\+\s*1\b"""),
      "DuckDB doubled midrank" -> """\b2 \* (COALESCE\(|RANK\(|prev\b)""",
      "Spark cumulative count" -> """Window\.orderBy\((value|"value"|"n_chars"|"q")\)""",
      "DuckDB cumulative count" ->
        """OVER \(ORDER BY (\$value|value|n_chars|q)\s*(NULLS FIRST\s*)?(ROWS|\)|$)""")
    for ((what, pattern) <- texts) {
      val re = pattern.r
      val found = for {
        (p, lines) <- sources
        (line, i) <- lines.zipWithIndex
        if re.findFirstIn(line).isDefined && !inSpearman(p, i)
      } yield s"$p:${i + 1}: ${line.trim}"
      assert(found.size == 1 && found.head.contains("graft/Ops.scala"),
        s"$what written ${found.size} times:\n${found.mkString("\n")}")
    }
  }

  test("the range-bucketed rank has one body: one bounds job, no when-chain, no balancedShared") {
    val (_, ranking) = sources.find(_._1.endsWith("api/Ranking.scala"))
      .getOrElse(fail("api/Ranking.scala not found"))
    val bounds = ranking.count(_.contains("percentile_approx("))
    assert(bounds == 1, s"percentile_approx( written $bounds times in api/Ranking.scala")
    val found = hits("""pidFromBounds|balancedShared""", _ => false)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no doc comment is stacked directly on another") {
    // scaladoc attaches only the last of two stacked blocks to the
    // declaration below; the first documents nothing
    val stacked = for {
      (p, lines) <- sources
      (line, i) <- lines.zipWithIndex if line.trim.startsWith("/**")
      end = lines.indexWhere(_.contains("*/"), i)
      next = lines.indexWhere(_.trim.nonEmpty, end + 1)
      if next >= 0 && lines(next).trim.startsWith("/**")
    } yield s"$p:${i + 1}: doc block followed by another at line ${next + 1}"
    assert(stacked.isEmpty, stacked.mkString("\n"))
  }
}
