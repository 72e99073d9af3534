package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver fixtures (TESTDATA.md / FIXTURES.md).
  *
  * Scale notes (100 TB mandate): every loader is a plain parquet scan —
  * Spark's vectorized columnar reader + Catalyst pushdown means filters
  * and projections applied downstream reach the scan. No data is cached
  * and nothing is collected.
  *
  * Schemas are memoized ([[parquetSchema]]): `spark.read.parquet(path)`
  * without a schema runs a schema-inference Spark job on every call,
  * one scheduler round-trip per load. The memo keys a path's inferred
  * schema by
  *  - the absolute path,
  *  - [[Fixtures.fingerprint]] of it (the repo's one staleness rule: a
  *    rewritten file is seen once the fingerprint's TTL lapses, or at
  *    once after [[Fixtures.invalidate]]),
  *  - every `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` conf
  *    set on the session (`nanosAsLong` changes the schema of the same
  *    file).
  * It holds at most [[SchemaMemoBound]] schemas, least recently used
  * first out. A schema, not a DataFrame: every load still builds a
  * fresh relation with fresh attribute ids, so a self-join of two loads
  * of one table stays unambiguous.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A parquet scan of `<dir>/<name>.parquet` with its schema from
    * [[parquetSchema]]: the first load of a key infers it with one
    * Spark job, later loads run none.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The memoized inferred schema of a parquet path (key, bound and
    * staleness rule in the object doc). For fixture inputs only: a file
    * rewritten on every call would only miss.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val abs = new java.io.File(path).getAbsolutePath
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    schemaMemo((abs, Fixtures.fingerprint(abs), confs))(spark.read.parquet(path).schema)
  }

  /** Most schemas the memo holds: ten fixture tables, each under a few
    * conf variants, across a few fixture directories.
    */
  val SchemaMemoBound = 64

  private val schemaMemo =
    Memo[(String, String, Seq[(String, String)]), StructType](SchemaMemoBound)

  private[graft] def schemaMemoSize: Int = schemaMemo.size

  /** Balance a CPU-heavy derivation over an under-split scan (guide
    * §2.5 "input skew": one huge unsplittable file → repartition right
    * after the read). A single-row-group parquet fixture (or a gzip
    * landing file at deployment) arrives as ONE scan task, so an
    * expensive per-row stage fused into the scan — tokenize + n-gram
    * explode + hash, vector math — runs serially while the rest of the
    * cluster idles. When the scan has fewer splits than the session's
    * parallelism, redistribute rows first; the exchange carries only
    * the projected input (cheap next to the serial stage it unblocks).
    * At warehouse scale a columnar scan has thousands of splits, so
    * this is a structural NO-OP — the cost is only ever paid when the
    * alternative is a single-core stage. Results are unaffected:
    * repartition is row-preserving, and every query here is
    * partitioning-independent by construction (the local[4]/local[32]
    * double-Verify gate).
    */
  def balanced(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Split probe: df.rdd instantiates a throwaway physical plan just
    // to count the scan's splits — a one-time driver cost of a few ms
    // per query (accepted knowingly: the probe plan is a
    // bare column-pruned scan, and no cheaper public API exposes the
    // split count before execution).
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Normalizes an events scan's `ts` to a µs TimestampType column,
    * whatever physical type the fixture stores:
    *  - TIMESTAMP(NANOS) read as `bigint` ns under `nanosAsLong`
    *    (pre-round-9 fixtures): `ts div 1000` — exact integer
    *    truncation, matching DuckDB's native ns→µs read;
    *  - TIMESTAMP_NTZ µs (round-9+ fixtures): cast to TimestampType —
    *    value-preserving because the session timezone is pinned UTC;
    *  - already TimestampType: pass through.
    * Being schema-adaptive here (one place) keeps every events query
    * fixture-version-agnostic.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** `events` with `ts` normalized to a proper µs TimestampType column.
    * The session's confs are left alone: a TIMESTAMP(NANOS) fixture
    * reads only on a session with `nanosAsLong` set (FIXTURES.md; the
    * library session from [[GraftSession.builder]] sets it).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(table(s, d, "events"))

  /** `events` with `ts` as raw nanosecond epoch longs. For a µs-typed
    * fixture the ns value is derived (×1000, zero sub-µs digits) so
    * callers keep a stable BIGINT contract across fixture versions.
    */
  def eventsRawNanos(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => normalizeEventsTs(raw)
        .withColumn("ts", expr("unix_micros(ts) * 1000L"))
    }
  }
}
