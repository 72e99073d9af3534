package graft

/** One fixture-fingerprint convention for every per-fixture artifact
  * and memo key. The hazard: keys built from a parquet DIRECTORY's
  * top-level (length, lastModified) miss a regenerated fixture whose
  * part files change while the top-level dir stats happen not to move
  * — the artifact (partitioned copy, bucketed table, persisted index,
  * bloom rewrite) is then served stale. The fix is a recursive walk:
  * every file's (name, length, mtime) under the path feeds the key, so
  * ANY part-file change invalidates. Each directory contributes its OWN
  * name to its fragment too, so renaming a nested subdirectory — or
  * swapping identical-stat content between sibling subdirs — moves the
  * digest even though the leaf stats are unchanged; an unlistable
  * directory folds in as its name, not a shared constant.
  *
  * The walk is collapsed to an MD5 hex digest so the result is safe to
  * embed in filesystem artifact names (a sf0.1 fixture dir holds
  * dozens of part files; the raw walk string would blow past name
  * limits) and in memo keys. MD5 here is a cache key, not a security
  * boundary. [[key]] and [[tableKey]] are the one artifact-key format
  * built on it.
  *
  * Walks are memoized per JVM with a conservative TTL: ~50 call sites
  * fingerprint their fixture on EVERY query invocation, so a bench pass
  * would otherwise re-stat every part file on each query — microseconds
  * on a flat fixture dir, real driver latency on a thousands-of-part-
  * files table. Within the TTL a repeat call returns the cached digest
  * without touching the filesystem; after it, the next call re-walks
  * (so a regenerated fixture is picked up without any process
  * restart). Tests that mutate files and need immediate sensitivity
  * call [[invalidate]].
  */
object Fixtures {

  /** Memo lifetime. 10 min covers one full Verify/bench pass over the
    * fixture (the hot loop the memo protects) while still re-walking
    * between rounds of a long-lived session. Test-adjustable.
    */
  @volatile private[graft] var ttlMillis: Long = 600000L

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Drop every memoized digest — the next [[fingerprint]] call
    * re-walks. For tests (and any caller that just rewrote a fixture
    * and needs the change visible before the TTL lapses).
    */
  def invalidate(): Unit = memo.clear()

  /** Content fingerprint of a file or directory tree: 32 hex chars.
    * Served from the per-JVM memo when computed within [[ttlMillis]].
    */
  def fingerprint(f: java.io.File): String = {
    val path = f.getAbsolutePath
    val now = System.currentTimeMillis
    val hit = memo.get(path)
    if (hit != null && now - hit._2 < ttlMillis) hit._1
    else {
      val d = compute(f)
      memo.put(path, (d, now))
      d
    }
  }

  def fingerprint(path: String): String =
    fingerprint(new java.io.File(path))

  /** Artifact key of fixture table `table` under `dir`: the directory
    * made path-safe (letters, digits, `.`, `_`, `-`) plus the
    * [[fingerprint]] of `<dir>/<table>.parquet`. Staged copies,
    * persisted artifacts and memo entries named by it miss once the
    * table is rewritten, and two fixture directories never share one.
    */
  def key(dir: String, table: String): String =
    keyed(dir.replaceAll("[^A-Za-z0-9._-]", "_"), dir, table)

  /** [[key]] safe inside a catalog table identifier: `.` and `-` are
    * replaced too (`sf0.01` would otherwise split the name).
    */
  def tableKey(dir: String, table: String): String =
    keyed(dir.replaceAll("[^A-Za-z0-9_]", "_"), dir, table)

  private def keyed(safeDir: String, dir: String, table: String): String =
    s"${safeDir}_${fingerprint(s"$dir/$table.parquet")}"

  private def compute(f: java.io.File): String = {
    def fp(x: java.io.File): String =
      if (x.isDirectory)
        Option(x.listFiles())
          .map(cs => s"${x.getName}/[" +
            cs.sortBy(_.getName).map(fp).mkString(",") + "]")
          .getOrElse(s"${x.getName}/<unlistable>")
      else s"${x.getName}:${x.length}:${x.lastModified}"
    val walk = s"${f.getAbsolutePath}|${fp(f)}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(walk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }
}
