package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one owner of every path graft writes to disk: to disk what
  * [[Memo]] is to memory and [[Fixtures.key]] is to keys. Everything
  * lives under `<java.io.tmpdir>/graft`.
  *
  *  - [[staged]]: a fixture-keyed copy at `graft/<name>_<Fixtures.key>`,
  *    kept across JVMs. A path that exists is complete: a build writes
  *    into a fresh directory under [[home]] that is published with one
  *    atomic rename, so a build that throws (or a killed JVM) leaves
  *    nothing at the path and the next call builds again. If another
  *    JVM publishes first, its copy is served and ours is deleted. One
  *    build per key within the JVM.
  *  - [[path]]: the same layout with no publish step, for roots that
  *    carry their own commit protocol (the streaming catch-up roots:
  *    checkpoint plus sink metadata). A catch-up whose streaming plan
  *    or staged source changes must take a new name; an old checkpoint
  *    is never resumed against a new plan.
  *  - [[home]]: one directory per JVM for what must not outlive it
  *    (catalog databases, the Derby store, per-call scratch), deleted
  *    recursively at JVM exit.
  *
  * Staleness is the key's job, as in [[Memo]]: a rewritten fixture
  * changes [[Fixtures.key]], so it gets a new path.
  */
object Artifacts {

  private lazy val root: Path =
    Files.createDirectories(Paths.get(sys.props("java.io.tmpdir"), "graft"))

  /** Published path → it is complete. At most 64 keys; an evicted key
    * finds its directory on disk.
    */
  private[graft] val published = Memo[String, String](bound = 64)

  /** `graft/<name>_<Fixtures.key(d, table)>`, not created. */
  def path(name: String, d: String, table: String): String =
    root.resolve(s"${name}_${Fixtures.key(d, table)}").toString

  /** The published copy `name` of fixture table `table` under `d`,
    * built on a miss by `build`, which gets an empty directory to write
    * into (Spark writers need `mode("overwrite")` there).
    */
  def staged(name: String, d: String, table: String)(build: String => Unit): String = {
    val target = path(name, d, table)
    published(target) {
      if (!Files.exists(Paths.get(target))) publish(Paths.get(target), build)
      target
    }
  }

  private def publish(target: Path, build: String => Unit): Unit = {
    val tmp = Files.createTempDirectory(Paths.get(home), target.getFileName.toString)
    try {
      build(tmp.toString)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: IOException if Files.exists(target) => () }
    } finally FileUtils.deleteQuietly(tmp.toFile)
  }

  /** This JVM's directory under `graft/`, deleted at JVM exit. */
  lazy val home: String = {
    val h = Files.createTempDirectory(root, "home_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(h)))
    h.toString
  }

  /** Catalog database `name`, located at `home/name`. */
  def database(s: SparkSession, name: String): String = {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $name LOCATION '$home/$name'")
    name
  }

  /** A fresh directory under [[home]]. */
  def scratch(prefix: String): String =
    Files.createTempDirectory(Paths.get(home), prefix).toString
}
