package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite

/** graft.Artifacts: atomic publish of staged copies, one build per key,
  * a lost cross-JVM race served from the winner, and a per-JVM home
  * that is gone once its JVM exits.
  */
class ArtifactsSpec extends AnyFunSuite {

  /** A one-table fixture directory, so each test gets its own key. */
  private def withFixture(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_fp_artifacts")
    Files.write(d.resolve("t.parquet"), "rows".getBytes("UTF-8"))
    try body(d.toString)
    finally {
      FileUtils.deleteQuietly(new java.io.File(Artifacts.path("t", d.toString, "t")))
      FileUtils.deleteQuietly(d.toFile)
    }
  }

  private def write(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"))

  private def read(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), "UTF-8")

  test("a build that throws leaves nothing at the path; the next call rebuilds") {
    withFixture { d =>
      var staging = ""
      val e = intercept[IllegalStateException] {
        Artifacts.staged("t", d, "t") { p =>
          staging = p
          write(p, "part", "partial")
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(!Files.exists(Paths.get(Artifacts.path("t", d, "t"))))
      assert(!Files.exists(Paths.get(staging)), "the failed build's copy must be deleted")
      val out = Artifacts.staged("t", d, "t") { p =>
        write(p, "part", "partial")
        write(p, "part", "full")
      }
      assert(out == Artifacts.path("t", d, "t"))
      assert(read(out, "part") == "full")
    }
  }

  test("a repeat call, and a call after the memo is cleared, does not rebuild") {
    withFixture { d =>
      val builds = new AtomicInteger()
      def get() = Artifacts.staged("t", d, "t") { p =>
        builds.incrementAndGet()
        write(p, "part", "v")
      }
      val first = get()
      assert(get() == first)
      Artifacts.published.clear()
      assert(get() == first)
      assert(builds.get == 1)
      assert(read(first, "part") == "v")
    }
  }

  test("8 threads on one key run exactly one build") {
    withFixture { d =>
      val builds = new AtomicInteger()
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = (1 to 8).map(_ => Future {
          start.await()
          Artifacts.staged("t", d, "t") { p =>
            builds.incrementAndGet()
            Thread.sleep(200)
            write(p, "part", "v")
          }
        })
        start.countDown()
        val got = Await.result(Future.sequence(fs), 30.seconds)
        assert(builds.get == 1)
        assert(got.distinct == Seq(Artifacts.path("t", d, "t")))
      } finally pool.shutdownNow()
    }
  }

  test("a target published by another JVM during our build is served; our copy is deleted") {
    withFixture { d =>
      val target = Paths.get(Artifacts.path("t", d, "t"))
      var staging = ""
      val out = Artifacts.staged("t", d, "t") { p =>
        staging = p
        write(p, "part", "ours")
        Files.createDirectories(target)
        write(target.toString, "part", "theirs")
      }
      assert(out == target.toString)
      assert(read(out, "part") == "theirs")
      assert(!Files.exists(Paths.get(staging)), "the losing copy must be deleted")
    }
  }

  test("a JVM that used home, database and scratch leaves no home behind") {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m") ++ jvmArgs ++
      Seq("-cp", sys.props("java.class.path"), "graft.ArtifactsHomeMain")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(120, TimeUnit.SECONDS) && proc.exitValue == 0, out.takeRight(4000))
    val home = out.linesIterator.collectFirst {
      case l if l.startsWith("home: ") => Paths.get(l.stripPrefix("home: "))
    }
    assert(home.isDefined, out.takeRight(4000))
    assert(out.linesIterator.contains("used: true"), out.takeRight(4000))
    assert(!Files.exists(home.get), s"${home.get} outlived its JVM")
  }
}

/** Child-JVM half of ArtifactsSpec's home test: create a database and a
  * scratch directory in [[Artifacts.home]], write into both, exit.
  */
object ArtifactsHomeMain {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.harness(1).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    try {
      val db = Artifacts.database(s, "graft_home_check")
      s.range(3).write.saveAsTable(s"$db.t")
      val scratch = Artifacts.scratch("check")
      Files.write(Paths.get(scratch, "f"), Array[Byte](1))
      val home: Path = Paths.get(Artifacts.home)
      println(s"home: $home")
      println(s"used: ${Files.exists(home.resolve(db)) && scratch.startsWith(home.toString)}")
    } finally s.stop()
  }
}
