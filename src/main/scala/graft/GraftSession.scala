package graft

import graft.functions.{CosineSim, SqL2}
import graft.plans.{AsOfJoinStrategy, ResolveCosineTopK}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point: every session graft builds, and every native
  * function, strategy and rule it installs on a session, goes through
  * here.
  *
  * Cluster-scale knobs and the reasoning (defaults target local mode;
  * override per deployment):
  *  - AQE (with skew-join split + partition coalescing) is on by
  *    default in Spark 4: runtime re-planning replaces hand-tuned
  *    shuffle counts at 100 TB.
  *  - `spark.sql.shuffle.partitions` should track total executor cores
  *    × 2-3 on a real cluster (the AQE coalescer trims the excess).
  *  - `spark.sql.files.maxPartitionBytes` (default 128m) governs scan
  *    parallelism; raise to 256-512m for wide-column parquet at scale.
  *  - `nanosAsLong` tolerates TIMESTAMP(NANOS) parquet (see Tables).
  *  - GraftExtensions injects the native functions, the as-of join
  *    strategy and the cosine rewrite rules.
  */
object GraftSession {

  /** Pass-through conf: set to a `thrift://host:port` URI to point the
    * Catalog API at a LIVE Hive metastore instead of the embedded/
    * in-memory catalog. [[builder]] translates it to the two settings a
    * Hive-backed session needs (`hive.metastore.uris` + Hive catalog
    * implementation) and enables Hive support. Tests cover the conf
    * plumbing only — this offline environment has no thrift endpoint
    * (SURVEY §7.5); everything in [[graft.api.Catalog]] goes through
    * `spark.catalog`, so no other code changes when this is set.
    */
  val MetastoreUriKey = "spark.graft.metastore.uri"

  /** The confs every session is built from: `local[cpus]` with one
    * shuffle partition per core, UTC session time, no UI. Bench,
    * Verify, ExplainProbe and the test session use exactly this list
    * ([[harness]]); [[builder]] layers the library extras on it.
    */
  def harnessConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Core count of a harness session: `SPARK_GRAFT_CPUS`, default 4. */
  def harnessCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A plain session builder over [[harnessConf]] — no extensions, so
    * the optimizer rewrites stay off (see [[install]]).
    */
  def harness(cpus: Int = harnessCpus): SparkSession.Builder =
    harnessConf(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The library session: [[harnessConf]] plus `nanosAsLong`,
    * GraftExtensions and, when a metastore URI is given, Hive.
    */
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors(),
      metastoreUri: Option[String] = None): SparkSession.Builder = {
    val b = harness(shufflePartitions)
      .master(master)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    metastoreUri
      .orElse(sys.props.get(MetastoreUriKey))
      .fold(b) { uri =>
        metastoreConf(uri).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
          .enableHiveSupport()
      }
  }

  /** The conf pairs a metastore URI expands to — factored pure so the
    * plumbing is assertable in tests without a live thrift endpoint.
    * Rejects non-thrift URIs early: a silently-misspelled scheme would
    * otherwise fall back to the embedded Derby catalog and "work".
    */
  def metastoreConf(uri: String): Seq[(String, String)] = {
    require(uri.startsWith("thrift://"),
      s"$MetastoreUriKey must be a thrift://host:port URI, got: $uri")
    Seq(
      MetastoreUriKey -> uri,
      "hive.metastore.uris" -> uri,
      "spark.sql.catalogImplementation" -> "hive")
  }

  /** The native SQL functions, read by both GraftExtensions (at session
    * build) and [[install]] (on a running session).
    */
  val nativeFunctions: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (e: Seq[Expression]) => CosineSim(e(0), e(1))),
    (FunctionIdentifier("sq_l2"),
      new ExpressionInfo(classOf[SqL2].getName, "sq_l2"),
      (e: Seq[Expression]) => SqL2(e(0), e(1))))

  private val installLock = new Object

  /** Install the native functions, the as-of join strategy and the
    * CosineTopK resolution rule on a session built without
    * GraftExtensions (such as [[harness]] builds). Idempotent: each
    * piece is added only if absent, under one lock, so repeat calls
    * neither grow the session's strategy/rule lists nor replace (and
    * warn about) a registered function. The AccelerateCosine/SqL2
    * rewrites are NOT installed here — they stay extension-only, so a
    * plain session plans the exact expressions it was given.
    */
  def install(spark: SparkSession): Unit = installLock.synchronized {
    val registry = spark.sessionState.functionRegistry
    nativeFunctions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val x = spark.experimental
    if (!x.extraStrategies.contains(AsOfJoinStrategy))
      x.extraStrategies = x.extraStrategies :+ AsOfJoinStrategy
    if (!x.extraOptimizations.exists(_.isInstanceOf[ResolveCosineTopK]))
      x.extraOptimizations = x.extraOptimizations :+ ResolveCosineTopK(spark)
  }
}
