package graft.api

import java.security.MessageDigest

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public similarity-search API over embedding DataFrames
  * (`ArrayType(FloatType)` or `ArrayType(DoubleType)` vector column).
  *
  * `bruteForceTopK` is the exact small-n baseline (broadcast of one
  * query vector, linear scan). `signLshBuckets` + `bucketedNeighbors`
  * are the scale path: 2^planes buckets collapse the pairwise term from
  * n² to Σ bucket². Both use the native codegen'd [[graft.functions.CosineSim]]
  * expression in the hot loop.
  */
object Similarity {

  /** Vector column normalized to array<double> + precomputed L2 norm. */
  def prepare(embs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftSession.install(embs.sparkSession)
    embs.withColumn("__v", transform(col(vecCol), x => x.cast("double")))
      .withColumn("__nrm",
        sqrt(aggregate(zip_with(col("__v"), col("__v"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)))
  }

  /** Exact top-k neighbors of the vector with id `queryId` by cosine. */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
      queryId: Long, topK: Int = 10): DataFrame = {
    val e = prepare(embs, idCol, vecCol)
    val q = e.filter(col(idCol) === queryId).select(col("__v").as("__qv"))
    e.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), expr("cosine_sim(__v, __qv)").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Approximate top-k neighbors of ONE query vector via sign-LSH:
    * only the candidates sharing the query's bucket are scored — the
    * single-query twin of [[bucketedNeighbors]], and the scale path
    * [[graft.plans.ResolveCosineTopK]] swaps in for [[bruteForceTopK]]
    * when the corpus is large and the user has opted in.
    *
    * Same output schema as bruteForceTopK (idCol, cos_sim); APPROXIMATE
    * results (recall < 1 — neighbors hashed into other buckets are
    * unseen). Cost: the query row broadcast against one bucket's
    * candidates (~n/2^planes rows) instead of the full corpus.
    */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String,
      queryId: Long, topK: Int = 10, nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val b = signLshBuckets(embs, idCol, vecCol, nPlanes, dims)
    val q = b.filter(col(idCol) === queryId)
      .select(col("bucket").as("__qbucket"), col("__v").as("__qv"))
    b.join(broadcast(q), col("bucket") === col("__qbucket"))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), expr("cosine_sim(__v, __qv)").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** Declarative top-k: plants a [[graft.plans.CosineTopK]] logical
    * node and lets the resolution rule pick the physical path — exact
    * brute force by default, the LSH-bucketed approximate path when the
    * corpus exceeds the configured size AND
    * `spark.graft.similarity.autoApprox.enabled=true` (STRICTLY opt-in:
    * the swap changes exact→approximate semantics, so it must never be
    * a silent default). Works on sessions without GraftExtensions too —
    * `GraftSession.install` adds the rule.
    */
  def topKAuto(embs: DataFrame, idCol: String, vecCol: String,
      queryId: Long, topK: Int = 10): DataFrame =
    graft.plans.CosineTopK.dataframe(embs, idCol, vecCol, queryId, topK)

  /** Deterministic ±1 hyperplanes derived from md5 (reproducible across
    * runs, sessions, and engines).
    */
  def hyperplanes(nPlanes: Int, dims: Int): Array[Array[Int]] = {
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    Array.tabulate(nPlanes, dims) { (i, j) =>
      if ((Integer.parseInt(md5hex(s"$i:$j").substring(0, 1), 16) & 1) == 0) 1 else -1
    }
  }

  /** Sign-LSH bucket id per vector (a bit-string column `bucket`). */
  def signLshBuckets(embs: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val e = prepare(embs, idCol, vecCol)
    val planes = hyperplanes(nPlanes, dims)
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val bits = (0 until nPlanes).map { i =>
      val plane = array(planes(i).map(p => lit(p.toDouble)): _*)
      when(dot(col("__v"), plane) >= 0, lit("1")).otherwise(lit("0"))
    }
    e.withColumn("bucket", concat(bits: _*))
  }

  /** Top-k neighbors per vector among the vectors sharing its LSH
    * bucket — approximate, linear-ish at scale.
    */
  def bucketedNeighbors(embs: DataFrame, idCol: String, vecCol: String,
      topK: Int = 1, nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val b = signLshBuckets(embs, idCol, vecCol, nPlanes, dims)
    val w = Window.partitionBy("__id_a").orderBy(col("cos_sim").desc, col("nbr_id"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col("a.bucket").as("bucket"),
        col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** IVF-style ANN: assign every vector to its nearest coarse centroid
    * (probe = 1), then search only within the cell. The codebook here
    * is the `nCentroids` lowest-id vectors — a deterministic stand-in
    * for a trained k-means codebook (training is an offline step in a
    * real pipeline; the query-time dataflow — broadcast codebook →
    * argmax assignment → cell-blocked pairwise — is identical).
    */
  def ivfNeighbors(embs: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, topK: Int = 2): DataFrame = {
    val base = prepare(embs, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    val cents = base.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("c_id"), col("__v").as("c_v"), col("__nrm").as("c_nrm"))
    val wAssign = Window.partitionBy(col(idCol))
      .orderBy(col("c_sim").desc, col("c_id"))
    val assigned = base.crossJoin(broadcast(cents))
      .withColumn("c_sim", expr("cosine_sim(__v, c_v)"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col(idCol), col("__v"), col("__nrm"), col("c_id").as("cell"))
    val wNbr = Window.partitionBy("__id_a").orderBy(col("cos_sim").desc, col("nbr_id"))
    assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col("a.cell").as("cell"),
        col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .withColumn("rn", row_number().over(wNbr))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** Trained codebooks memoized per (input plan, source files, k,
    * iters): training is deterministic, so re-deriving it for every
    * query over the same corpus would repeat the Lloyd rounds for
    * bit-identical output. Entries are k×dims doubles — driver-trivial.
    *
    * Key = the CANONICALIZED logical plan itself (structural equality —
    * the same match rule Spark's CacheManager uses, so a 32-bit hash
    * collision between distinct corpora cannot alias entries) plus a
    * (path, size, mtime) fingerprint of every file-source leaf, so
    * regenerating a fixture in place invalidates the entry.
    *
    * At most 256 codebooks: the full query surface trains well over 32
    * distinct (plan, k, iters) keys per pass (each PQ query trains 1
    * coarse + M subspace codebooks; the tuning sweep adds ~17), and an
    * evicted codebook is only retrained.
    */
  private case class CodebookKey(plan: LogicalPlan, sourceFp: String, k: Int, iters: Int)
  private val codebookCache = graft.Memo[CodebookKey, Array[Array[Double]]](bound = 256)

  /** Force retraining of an UNCHANGED corpus (KMeansIvfSpec proves two
    * trainings agree, which memoization would otherwise make vacuous).
    * A changed corpus needs no call: its key differs.
    */
  private[graft] def clearCodebookCache(): Unit = codebookCache.clear()

  /** (path, length, mtime) of every file behind file-source leaves —
    * cheap (the FileIndex has already listed) and exactly the staleness
    * signal the plan key lacks (InMemoryFileIndex equality is by root
    * path only).
    */
  private[graft] def sourceFingerprint(plan: LogicalPlan): String =
    plan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
            .sorted.mkString("|")
        case _ => ""
      }
    }.mkString(";")

  /** IVF cell-count rule, measured (PERF.md, rounds 5 and 7): the
    * within-cell pairwise term is n²/k, so cells must GROW with the
    * corpus — cells ≈ √n holds per-cell cost flat, and since
    * [[graft.functions.NearestCells]] the assignment cost is
    * k-independent, so nothing pushes back. Clamped to [16, 4096]
    * (below 16 cells the index stops discriminating; above 4096 the
    * k×dims codebook broadcast and the per-round (cell, dim) aggregate
    * stop being driver-trivial).
    */
  def suggestCells(corpusSize: Long): Int =
    math.max(16, math.min(4096,
      math.round(math.sqrt(corpusSize.toDouble)).toInt))

  /** Deterministic Lloyd k-means codebook over the embedding column —
    * the trained upgrade of [[ivfNeighbors]]' first-k stand-in.
    *
    * Engine-portable determinism, piece by piece:
    *  - init: the k vectors with the smallest `md5(cast(id as string))`
    *    (a seedless pseudo-random draw both engines compute equally);
    *  - assignment: nearest centroid by squared L2 accumulated in index
    *    order, ties broken by lowest centroid id;
    *  - update: per-cell per-dimension mean — the sum runs in
    *    DECIMAL(38,20) (order-independent, and double→decimal rounding
    *    is HALF_UP in both Spark and DuckDB, so even dyadic-tie values
    *    cast identically), then one double division;
    *  - empty cells keep their previous centroid.
    *
    * Scale shape: each round is one linear scan (assignment is a
    * codegen'd map against the BROADCAST literal codebook — no join)
    * plus one (cell, dim)-key aggregation whose result is k×dims rows;
    * the driver collects only the k×dims codebook per round, which is
    * the legitimate driver-sized reduce of k-means at any corpus size.
    */
  def kmeansCodebook(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5): Array[Array[Double]] = {
    val analyzed = embs.select(col(idCol), col(vecCol)).queryExecution.analyzed
    val key = CodebookKey(analyzed.canonicalized, sourceFingerprint(analyzed), k, iters)
    codebookCache(key)(trainCodebook(embs, idCol, vecCol, k, iters))
  }

  /** Opt-out flag for the native Lloyd-round aggregate
    * ([[graft.functions.CellVectorSums]]): `false` falls back to the
    * original posexplode + DECIMAL(38,20) aggregate. The two paths are
    * bit-identical BY CONSTRUCTION (the native one sums the same
    * decimal-rounded elements as exact 128-bit integers — associative
    * and merge-order-free; KMeansAggSpec asserts element equality,
    * PERF.md records matching cross-JVM codebook fingerprints), so the
    * default is the fast path and no oracle changes.
    */
  val KmeansNativeAggKey = "spark.graft.kmeans.nativeAgg"

  private def trainCodebook(embs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): Array[Array[Double]] = {
    val prepared = prepare(embs, idCol, vecCol)
      .select(col(idCol).as("__id"), col("__v"))
    // Training iterates `iters`+1 jobs over the SAME rows, so (a)
    // repartition up to defaultParallelism when the source arrives in
    // fewer splits — a 100k-vector corpus is one ~25 MB parquet split,
    // which ran every Lloyd round's decimal-exact aggregate on ONE core
    // of 32 (profiled: 3.6 s of the 4.5 s round was the single-task
    // aggregate; PERF.md round 7) — and (b) persist the prepared
    // (cast + normed) rows across rounds instead of re-scanning and
    // re-casting per round. Neither changes a single output bit:
    // repartitioning only rebalances rows (the 128-bit aggregate is
    // associative/commutative and the md5-ranked init is an orderBy —
    // both partitioning-independent), and the cache stores the same
    // rows the plan would recompute. MEMORY_AND_DISK: beyond-memory
    // corpora spill, never fail — the standard iterative-ML tradeoff.
    val p = embs.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (prepared.rdd.getNumPartitions < p) prepared.repartition(p)
      else prepared
    val base = balanced.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val native = embs.sparkSession.conf
      .get(KmeansNativeAggKey, "true").toBoolean
    var codebook: Array[Array[Double]] = base
      .withColumn("__h", md5(col("__id").cast("string")))
      .orderBy("__h").limit(k)
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to iters) {
      val next = codebook.map(_.clone) // empty cells keep their centroid
      if (native) {
        // one typed partial aggregate over the (cell, vector) rows:
        // k×(dims+1) numbers cross the wire, nothing is exploded
        import graft.functions.CellVectorSums
        val sums = udaf(new CellVectorSums.Agg(k),
          org.apache.spark.sql.Encoders.product[(Int, Seq[Double])])
        val row = assignCells(base, codebook)
          .select(col("__cell"), col("__v"))
          .agg(sums(col("__cell"), col("__v")).as("s"))
          .head.getSeq[org.apache.spark.sql.Row](0)
        row.foreach { r =>
          val cell = r.getInt(0); val n = r.getLong(1)
          val hi = r.getSeq[Long](2); val lo = r.getSeq[Long](3)
          var i = 0
          while (i < hi.length) {
            next(cell)(i) = CellVectorSums.mean(hi(i), lo(i), n); i += 1
          }
        }
      } else {
        val stats = assignCells(base, codebook)
          .select(col("__cell"), posexplode(col("__v")).as(Seq("__pos", "__x")))
          .groupBy("__cell", "__pos")
          .agg(sum(col("__x").cast("decimal(38,20)")).as("__sx"),
            count(lit(1)).as("__n"))
          .collect()
        stats.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) =
            r.getDecimal(2).doubleValue() / r.getLong(3)
        }
      }
      codebook = next
    }
    codebook
    } finally base.unpersist(false)
  }

  /** Nearest-centroid cell (squared-L2, first-index tie-break) via the
    * native [[graft.functions.NearestCells]] expression — the codebook
    * rides as ONE codegen reference, so generated-code size is
    * independent of k. (History: the HOF `transform(cb, aggregate(...))`
    * form paid interpreted lambda dispatch; the k-SqL2-literal-columns
    * form that replaced it fell off the JIT cliff at k≥64 — 50 s→353 s
    * training for 4× k at 100k vectors, PERF.md round 5.)
    * Numerics and tie-break unchanged: index-order (x-y)² fold,
    * first-min = lowest cell id.
    */
  private def assignCells(df: DataFrame, codebook: Array[Array[Double]]): DataFrame =
    df.withColumn("__cell",
      element_at(Bridge.column(graft.functions.NearestCells(
        UnresolvedAttribute("__v"), codebook, 1)), 1))

  /** Top-`probes` nearest cells per vector (squared-L2 ascending, cell
    * id tie-break) as an array column `__probe_cells` — same
    * [[graft.functions.NearestCells]] expression as [[assignCells]],
    * same deterministic order (its probes=1 head IS the assign cell).
    */
  private def probeCells(df: DataFrame, codebook: Array[Array[Double]],
      probes: Int): DataFrame =
    df.withColumn("__probe_cells",
      Bridge.column(graft.functions.NearestCells(
        UnresolvedAttribute("__v"), codebook, probes)))

  /** Per-vector cell assignment + squared-L2 distance to the assigned
    * centroid, over the shared memoized [[kmeansCodebook]] — the raw
    * material for index-health reporting (cell balance, inertia). The
    * codebook joins on as a broadcast k-row frame; the distance is the
    * native index-order [[graft.functions.SqL2]] fold, so it matches
    * the oracle's list-fold bit for bit.
    */
  def cellAssignments(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5): DataFrame = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val e = prepare(embs, idCol, vecCol)
    val s = embs.sparkSession
    import s.implicits._
    val cbDf = codebook.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("c_id", "cb_v")
    assignCells(e, codebook)
      .join(broadcast(cbDf), col("__cell") === col("c_id"))
      .select(col(idCol), col("__cell").cast("long").as("cell"),
        expr("sq_l2(__v, cb_v)").as("dist"))
  }

  /** IVF ANN over a TRAINED codebook: k-means cells from
    * [[kmeansCodebook]], then top-k cosine neighbors searched in each
    * query's `probes` nearest cells — same cell-blocked dataflow as
    * [[ivfNeighbors]], better cells.
    *
    * `probes` trades cost for recall: the index side stores each vector
    * once (its single nearest cell), the query side fans out to its
    * `probes` nearest cells, so the pairwise term scales linearly in
    * `probes` (Σ probes·bucket² vs the n² brute force). probes=1 is the
    * classic IVF fast path; KMeansIvfSpec measures the recall curve.
    */
  def ivfTrainedNeighbors(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5, topK: Int = 2, probes: Int = 1): DataFrame = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val base = prepare(embs, idCol, vecCol).select(col(idCol), col("__v"), col("__nrm"))
    val assigned = assignCells(base, codebook).withColumnRenamed("__cell", "cell")
    val queriesSide =
      if (probes <= 1) assigned
      else probeCells(base, codebook, probes)
        .select(col(idCol), col("__v"), col("__nrm"),
          explode(col("__probe_cells")).as("cell"))
    val w = Window.partitionBy("__id_a").orderBy(col("cos_sim").desc, col("nbr_id"))
    queriesSide.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col("b.cell").as("cell"),
        col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** IVF RANGE search: every neighbor with cosine ≥ `threshold`, not a
    * fixed top-k — the radius query a dedup or recall-audit pipeline
    * asks ("all vectors this close"), with the same trained-codebook
    * cell blocking as [[ivfTrainedNeighbors]]: pairwise work is
    * Σ probes·bucket², never n², and there is NO per-query window at
    * all (the result is an unranked filter), so nothing sorts.
    * APPROXIMATE like all IVF paths: in-range neighbors outside the
    * probed cells are missed; `probes` is the recall dial.
    */
  def ivfRangeNeighbors(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5, threshold: Double = 0.4,
      probes: Int = 1): DataFrame = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val base = prepare(embs, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    val assigned = assignCells(base, codebook).withColumnRenamed("__cell", "cell")
    val queriesSide =
      if (probes <= 1) assigned
      else probeCells(base, codebook, probes)
        .select(col(idCol), col("__v"), col("__nrm"),
          explode(col("__probe_cells")).as("cell"))
    queriesSide.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .withColumnRenamed("__id_a", idCol)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    * semantic deduplication by k-means clustering + within-cluster
    * cosine pruning. Every vector is assigned to its nearest trained
    * cell ([[kmeansCodebook]], shared memo with the IVF queries), and a
    * vector is DROPPED when an earlier-id vector in the SAME cell has
    * cosine ≥ `threshold` — a deterministic stand-in for the paper's
    * arbitrary within-group keep choice. Emits every input vector with
    * its cell, keep verdict, and (for drops) the earliest duplicate
    * partner and the max similarity that condemned it.
    *
    * Scale shape — the paper's own trick: pairwise work is confined to
    * cells, Σ n_cell² instead of n², and the cell count k is the dial
    * (√n via [[suggestCells]] keeps expected cell sizes ~√n, so the
    * per-cell quadratic term stays bounded as the corpus grows). The
    * join shuffles on `cell` only; no global pairwise stage exists.
    * APPROXIMATE in the same sense as the paper: near-dups straddling
    * a cell boundary are missed; raise k more slowly than n (or probe
    * neighbor cells) to trade cost for recall.
    */
  def semDedup(embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 16, iters: Int = 5, threshold: Double = 0.4,
      probes: Int = 1): DataFrame = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val base = prepare(embs, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    val assigned = assignCells(base, codebook).withColumnRenamed("__cell", "cell")
    // probes ≥ 2 narrows the boundary-miss recall gap (the documented
    // approximation): BOTH join sides fan out to their `probes` nearest
    // cells (reusing probeCells, the IVF device), so a boundary pair
    // (x,y) is recovered when EITHER vector probes a cell containing
    // the other — the one-directional variant (candidate side only)
    // still missed pairs where only the smaller id probed the larger's
    // home cell. A pair can now match in up to `probes` shared cells;
    // the min/max aggregate below absorbs the duplicates, and probes=1
    // degenerates to exactly the home-cell-only shape. Cost multiplies
    // the pairwise term by ≤probes² in the worst case; the declared
    // llm_semdedup query stays probes=1 — the dial is the library
    // surface, measured in the PERF.md round-8 SemDeDup probe sweep.
    val candSide =
      if (probes <= 1) assigned
      else probeCells(base, codebook, probes)
        .select(col(idCol), col("__v"), col("__nrm"),
          explode(col("__probe_cells")).as("cell"))
    val dups = candSide.as("a").join(candSide.as("b"),
        col("a.cell") === col("b.cell") &&
          col(s"b.$idCol") < col(s"a.$idCol"))
      .select(col(s"a.$idCol").as("__id"), col(s"b.$idCol").as("__nbr"),
        expr("cosine_sim(a.__v, b.__v)").as("__sim"))
      .filter(col("__sim") >= threshold)
      .groupBy("__id")
      // max_sim ships RAW: the cosines are already bit-equal across
      // engines (ordered-fold dot product), while round(.,4) is NOT
      // cross-engine stable at decimal midpoints (Spark shortest-string
      // BigDecimal vs DuckDB binary rounding — the documented
      // ts_interpolate_linear finding).
      .agg(min("__nbr").as("dup_of"), max("__sim").as("max_sim"))
    assigned.join(dups, col(idCol) === col("__id"), "left")
      .select(col(idCol), col("cell"), col("__id").isNull.as("kept"),
        col("dup_of"), col("max_sim"))
  }

  /** [[knnPerLabel]] routed through the trained IVF index — the scale
    * path for same-label kNN. Label blocking alone is a quadratic trap:
    * (n/L)² pairs per label grows 10,000× at 100× data. Here candidates
    * must share BOTH the label and an IVF cell, so the pairwise term is
    * Σ_cell Σ_label (n_cell,label)² · probes — and cell count k is a
    * free dial: raise it with corpus size to keep cells bounded, which
    * label cardinality never was. APPROXIMATE (recall < 1 when a true
    * neighbor lives outside the probed cells); [[knnPerLabel]] stays
    * the small-n exact ground truth. The codebook is shared with the
    * ann_ivf_* queries via [[kmeansCodebook]]'s memo.
    */
  def knnPerLabelIvf(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 16, iters: Int = 5, topK: Int = 3,
      probes: Int = 2): DataFrame =
    labelBlockedIvf(embs, idCol, vecCol, labelCol, k, iters, topK, probes,
      sameLabel = true)

  /** Hard-negative mining for contrastive training: each vector's
    * top-k most-similar neighbors with a DIFFERENT label — the
    * near-miss examples a metric-learning objective needs. Same IVF
    * cell blocking (and shared memoized codebook) as
    * [[knnPerLabelIvf]], only the label predicate flips: candidates
    * must share the cell and DIFFER in label, so the pairwise term is
    * the same Σ_cell bounded product and the k dial scales it exactly
    * the same way.
    */
  def hardNegatives(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 16, iters: Int = 5, topK: Int = 3,
      probes: Int = 2): DataFrame =
    labelBlockedIvf(embs, idCol, vecCol, labelCol, k, iters, topK, probes,
      sameLabel = false)

  private def labelBlockedIvf(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, iters: Int, topK: Int, probes: Int,
      sameLabel: Boolean): DataFrame = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val base = prepare(embs, idCol, vecCol)
      .select(col(idCol), col(labelCol), col("__v"), col("__nrm"))
    val assigned = assignCells(base, codebook).withColumnRenamed("__cell", "cell")
    val queriesSide =
      if (probes <= 1) assigned
      else probeCells(base, codebook, probes)
        .select(col(idCol), col(labelCol), col("__v"), col("__nrm"),
          explode(col("__probe_cells")).as("cell"))
    val labelPred =
      if (sameLabel) col(s"a.$labelCol") === col(s"b.$labelCol")
      else col(s"a.$labelCol") =!= col(s"b.$labelCol")
    // each index vector owns ONE cell (rn=1), so a (query, nbr) pair
    // matches at most once even with the probe-side fan-out
    val w = Window.partitionBy("__id_a").orderBy(col("cos_sim").desc, col("nbr_id"))
    queriesSide.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && labelPred &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col(s"a.$labelCol").as(labelCol),
        col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** Top-k same-label neighbors per vector (label blocking bounds the
    * quadratic term to (n/labels)² per partition).
    *
    * EXACT small-n ground truth, guarded: the within-label self-join is
    * O(n²/L) pairs, which grows 10,000× at 100× data — running it
    * unmodified over a production corpus is a scale-killer, so corpora
    * larger than `maxExactRows` are rejected up front (one cheap count
    * of the id column, paid before any quadratic work is scheduled).
    * Callers above the bound should use [[knnPerLabelIvf]] (candidates
    * blocked on label AND trained IVF cell — the k dial keeps cells
    * bounded at any corpus size) and keep this form for recall
    * ground-truthing on samples; to knowingly run the exact form on a
    * bigger corpus, pass an explicit larger `maxExactRows`.
    */
  def knnPerLabel(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, topK: Int = 3,
      maxExactRows: Long = 200000L): DataFrame = {
    val n = embs.select(col(idCol)).count()
    require(n <= maxExactRows,
      s"knnPerLabel is the EXACT quadratic baseline (O(n²/labels) pairs) " +
        s"and the corpus has $n rows > maxExactRows=$maxExactRows. Use " +
        s"Similarity.knnPerLabelIvf (IVF-cell-blocked, scale-safe) or pass " +
        s"a larger maxExactRows to knowingly run the exact form.")
    val e = prepare(embs, idCol, vecCol)
    val w = Window.partitionBy("__id_a").orderBy(col("cos_sim").desc, col("nbr_id"))
    e.as("a").join(e.as("b"),
        col(s"a.$labelCol") === col(s"b.$labelCol") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("__id_a"), col(s"a.$labelCol").as(labelCol),
        col(s"b.$idCol").as("nbr_id"),
        expr("cosine_sim(a.__v, b.__v)").as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** Persist the trained IVF index as a BUCKETED postings table — the
    * serving artifact of the IVF family (the ANN twin of
    * [[graft.api.Dedup.writeBandIndex]]): one row per corpus vector
    * (id, cell, normalized v, norm), bucketed+sorted by `cell`, so
    * every later query batch joins bucket-to-bucket with NO Exchange on
    * the corpus side. The 5-round training happens here ONCE; the
    * returned codebook is the model-sized routing table query batches
    * need (persist it separately or recompute from the memo — it is
    * k×dim doubles, parameter-sized by construction).
    */
  def writeIvfIndex(embs: DataFrame, idCol: String, vecCol: String,
      table: String, k: Int = 16, iters: Int = 5,
      buckets: Int = 8): Array[Array[Double]] = {
    val codebook = kmeansCodebook(embs, idCol, vecCol, k, iters)
    val base = prepare(embs, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    assignCells(base, codebook).withColumnRenamed("__cell", "cell")
      .select(col(idCol), col("cell"), col("__v").as("v"),
        col("__nrm").as("nrm"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)
    codebook
  }

  /** Commit a NEW vector batch into the persisted IVF index —
    * append-only, cost O(batch): the batch is assigned against the
    * FROZEN codebook (per-row expression work — no retraining, no
    * corpus re-scan) and its postings are appended under the SAME
    * bucket spec, so the artifact stays co-partitionable forever. The
    * ANN twin of [[graft.api.Dedup.appendToBandIndex]], completing the
    * continuous-ingestion story: daily embedding deliveries assign
    * against the frozen codebook and append; a periodic retrain
    * rebuilds via [[writeIvfIndex]] when centroid drift warrants it
    * (llm_embedding_drift is the monitor for exactly that decision).
    *
    * `buckets <= 0` (the default) derives the count from the TARGET
    * table's own catalog bucket spec when it exists (r15 ADVICE: the
    * "never silently re-bucket" convention compaction/retrain already
    * follow — a hard-coded 8 made appending to a non-default-bucketed
    * index fail with a bucket-spec mismatch unless every caller
    * re-threaded the count); a first append that CREATES the table
    * falls back to [[writeIvfIndex]]'s default of 8.
    */
  def appendToIvfIndex(batch: DataFrame, idCol: String, vecCol: String,
      table: String, codebook: Array[Array[Double]],
      buckets: Int = 0): Unit = {
    val nb = resolveAppendBuckets(batch.sparkSession, table, buckets)
    val base = prepare(batch, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    assignCells(base, codebook).withColumnRenamed("__cell", "cell")
      .select(col(idCol), col("cell"), col("__v").as("v"),
        col("__nrm").as("nrm"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(nb, "cell").sortBy("cell")
      .saveAsTable(table)
  }

  /** Bucket count for an APPEND: explicit positive wins; else the
    * existing target table's catalog spec (never silently re-bucket);
    * else — the table doesn't exist yet, the append creates it — the
    * write-path default of 8. An existing table WITHOUT a bucket spec
    * throws: a bucketed append into it would fail downstream anyway,
    * and loudly beats silently.
    */
  private[graft] def resolveAppendBuckets(spark: SparkSession, table: String,
      buckets: Int): Int =
    if (buckets > 0) buckets
    else if (spark.catalog.tableExists(table))
      catalogBuckets(spark, table).getOrElse(throw new IllegalArgumentException(
        s"append: existing table $table has no bucket spec; pass buckets explicitly"))
    else 8

  /** Retrain-decision audit of a persisted IVF index — the "WHEN to
    * rebuild" signal [[appendToIvfIndex]]'s continuous-ingestion story
    * needs: after batches accrete against the FROZEN codebook, report
    * per cell
    *   - `n_vecs` — postings count,
    *   - `fill_factor` — n_vecs·k / corpus (1.0 = perfectly balanced;
    *     skew means some cells answer most probes and serving degrades),
    *   - `drift` — squared-L2 distance between the frozen centroid and
    *     the EXACT per-dimension mean of the vectors currently posted
    *     to the cell (the Lloyd-update device: DECIMAL(38,20) sums cast
    *     to double, so the mean is partitioning-independent and
    *     cross-engine identical; distance is the index-ordered
    *     [[graft.functions.SqL2]] fold behind a ROUND(4)).
    * A deployment rebuilds via [[writeIvfIndex]] when drift or fill
    * skew crosses its threshold.
    *
    * Scale shape: one scan of the postings artifact into a
    * (cell, dim)-keyed aggregate — k×dims result cells, model-sized at
    * any corpus size — then a broadcast join against the k-row codebook
    * frame; no pairwise stage, no corpus-side Exchange beyond the one
    * aggregate shuffle of k×dims partial rows.
    */
  def ivfIndexDrift(spark: SparkSession, table: String,
      codebook: Array[Array[Double]]): DataFrame = {
    GraftSession.install(spark)
    val postings = spark.table(table)
    val m = postings
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(col("x").cast("decimal(38,20)")).cast("double") /
        count(lit(1))).as("dv"))
    val mv = m.groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("dv")))),
        e => e.getField("dv")).as("mv"))
    val counts = postings.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val cents = spark.createDataFrame(
        codebook.toIndexedSeq.zipWithIndex.map { case (v, i) =>
          (i, v.toIndexedSeq)
        })
      .toDF("cell", "c_v")
    // corpus total over the ≤k-row cell frame — the single-partition
    // window is over model-sized data, never the corpus
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts.join(mv, "cell").join(broadcast(cents), "cell")
      .withColumn("__t", sum(col("n_vecs")).over(wAll))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") * codebook.length / col("__t"),
          4).as("fill_factor"),
        round(expr("sq_l2(mv, c_v)"), 4).as("drift"))
  }

  /** The SOURCE table's bucket count from the catalog (DESCRIBE
    * EXTENDED) — the "same bucket spec" guarantee every compaction
    * rewrite leans on. Shared with
    * [[graft.api.Dedup.compactBandIndex]].
    */
  private[graft] def catalogBuckets(spark: SparkSession,
      table: String): Option[Int] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .collectFirst {
        case r if r.getString(0).trim == "Num Buckets" =>
          r.getString(1).trim.toInt
      }

  /** Compact the persisted IVF postings table — the maintenance op a
    * continuously-ingesting index needs: every [[appendToIvfIndex]]
    * delivery adds its own small bucket files, and read amplification
    * grows with the delivery count until a compaction rewrites the
    * postings ONCE under the same bucket spec. `repartition(buckets,
    * cell)` uses the same hash the bucketing does, so each write task
    * holds exactly one bucket and emits ONE file per bucket — the
    * minimal layout — while content stays bit-identical (the snapshot
    * is localCheckpoint-materialized before the overwrite, so
    * compacting a table in place is safe). Cost: one read + one
    * shuffle of the postings, amortized over every later query's
    * saved file-open fan-out.
    *
    * `buckets <= 0` (the default) derives the count from the SOURCE
    * table's own bucket spec (a hard-coded 8 silently changed the
    * layout of an index written with a non-default count), so "same
    * bucket spec" holds by construction; pass an explicit
    * positive count only to deliberately re-bucket.
    */
  def compactIvfIndex(spark: SparkSession, table: String,
      target: String, buckets: Int = 0): Unit = {
    val nb =
      if (buckets > 0) buckets
      else catalogBuckets(spark, table)
        .getOrElse(throw new IllegalArgumentException(
          s"compactIvfIndex: $table has no bucket spec; pass buckets explicitly"))
    val snap = spark.table(table).localCheckpoint()
    snap.repartition(nb, col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(nb, "cell").sortBy("cell")
      .saveAsTable(target)
    graft.Memo.releaseCheckpoint(snap)
  }

  /** Retrain the persisted IVF index — the decision [[ivfIndexDrift]]
    * informs, executed: re-run the Lloyd chain over the CURRENT
    * postings (initial cohort + every appended delivery — a deployment
    * retrains from what the index actually holds, not the original
    * source) and rewrite a fresh artifact at `target`. Returns the
    * retrained codebook.
    *
    * `buckets <= 0` (the default) derives the count from the SOURCE
    * artifact's own catalog bucket spec, exactly like
    * [[compactIvfIndex]] (r14 ADVICE: a hard-coded 8 here silently
    * re-bucketed an index built with a non-default count); pass an
    * explicit positive count only to deliberately re-bucket.
    */
  def retrainIvfIndex(spark: SparkSession, table: String, target: String,
      idCol: String = "vec_id", k: Int = 16, iters: Int = 5,
      buckets: Int = 0): Array[Array[Double]] = {
    val nb =
      if (buckets > 0) buckets
      else catalogBuckets(spark, table)
        .getOrElse(throw new IllegalArgumentException(
          s"retrainIvfIndex: $table has no bucket spec; pass buckets explicitly"))
    writeIvfIndex(spark.table(table).select(col(idCol), col("v")),
      idCol, "v", target, k, iters, nb)
  }

  /** Persist the IVF+PQ CODED index — the
    * artifact a billion-vector corpus actually serves from: instead of
    * raw vectors, each posting row is (id, cell, codes) where `codes`
    * are the M per-subspace PQ centroid ids of the vector's RESIDUAL
    * v − coarseCentroid(cell) (the FAISS IVFPQ layout; residuals
    * concentrate around the origin so the code budget is spent on what
    * the coarse quantizer didn't explain; `ann_ivfpq_adc` serves its
    * pinned query from this artifact and reranks the ADC list). At
    * M=4 int codes per vector vs 64 raw doubles + norm, the postings
    * shrink to ~a few percent of the raw-vector artifact's bytes
    * (AnnIndexSpec measures the fraction); the two codebooks returned
    * (coarse CELLS×dims + PQ M×PQK×(dims/M)) are the model-sized
    * routing/decoding tables a serving tier keeps in memory.
    *
    * Training reuses the memoized deterministic [[kmeansCodebook]]
    * (md5-ranked init, decimal-exact Lloyd means) for the coarse AND
    * each subspace codebook, and cell/code assignment is the exact
    * strict-< first-min [[graft.functions.NearestCells]] — so the
    * artifact is bit-reproducible and oracle-mirrorable. Postings are
    * bucketed+sorted by `cell` like [[writeIvfIndex]], so serving
    * joins bucket-to-bucket with no corpus-side Exchange.
    */
  def writeIvfPqIndex(embs: DataFrame, idCol: String, vecCol: String,
      table: String, cells: Int = 16, m: Int = 4, pqk: Int = 16,
      iters: Int = 5, buckets: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val base = embs.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val coarse = kmeansCodebook(base, idCol, "__v", cells, iters)
    val dims = coarse(0).length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val sub = dims / m
    val coarseLit = typedlit(coarse.map(_.toIndexedSeq).toIndexedSeq)
    val resid = assignCells(base, coarse)
      .withColumn("__r", zip_with(col("__v"),
        element_at(coarseLit, col("__cell") + 1), (x, y) => x - y))
    def subCol(mi: Int) = expr(s"slice(__r, ${mi * sub + 1}, $sub)")
    val pq: Array[Array[Array[Double]]] = (0 until m).map { mi =>
      kmeansCodebook(resid.select(col(idCol), subCol(mi).as("__sub")),
        idCol, "__sub", pqk, iters)
    }.toArray
    encodeIvfPq(base, idCol, coarse, pq)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(buckets, "cell").sortBy("cell")
      .saveAsTable(table)
    (coarse, pq)
  }

  /** (id, cell, codes) rows for a pre-cast (id, __v) frame against
    * FROZEN codebooks — the shared encode of [[writeIvfPqIndex]] and
    * [[appendToIvfPqIndex]]: exact NearestCells assign, residual
    * against the assigned centroid, per-subspace PQ code.
    */
  private def encodeIvfPq(base: DataFrame, idCol: String,
      coarse: Array[Array[Double]],
      pq: Array[Array[Array[Double]]]): DataFrame = {
    val dims = coarse(0).length
    val m = pq.length
    val sub = dims / m
    val coarseLit = typedlit(coarse.map(_.toIndexedSeq).toIndexedSeq)
    var coded = assignCells(base, coarse)
      .withColumn("__r", zip_with(col("__v"),
        element_at(coarseLit, col("__cell") + 1), (x, y) => x - y))
    for (mi <- 0 until m)
      coded = coded
        .withColumn(s"__sub_$mi", expr(s"slice(__r, ${mi * sub + 1}, $sub)"))
        .withColumn(s"__code_$mi", element_at(Bridge.column(
          graft.functions.NearestCells(
            UnresolvedAttribute(s"__sub_$mi"), pq(mi), 1)), 1))
    coded.select(col(idCol), col("__cell").cast("int").as("cell"),
      array((0 until m).map(mi => col(s"__code_$mi").cast("int")): _*)
        .as("codes"))
  }

  /** Commit a NEW vector batch into the persisted CODED index —
    * append-only, cost O(batch), the PQ twin of [[appendToIvfIndex]]:
    * the batch is assigned against the FROZEN coarse codebook and
    * encoded against the FROZEN PQ codebooks (per-row expression work
    * — no retraining, no corpus re-scan, no raw vectors stored), and
    * its coded postings append under the SAME bucket spec. Completes
    * the coded artifact's ingest leg; retrain is deliberately NOT
    * expressible from codes alone (quantization is lossy — a
    * deployment retrains from the raw source table via
    * [[writeIvfPqIndex]], which is the honest 100-TB story: codes
    * serve, sources train).
    *
    * `buckets <= 0` (the default) derives the count from the TARGET
    * table's own catalog bucket spec when it exists (r15 ADVICE —
    * same convention as [[appendToIvfIndex]]): appending to a coded
    * index written with a non-default count Just Works instead of
    * failing with a bucket-spec mismatch.
    */
  def appendToIvfPqIndex(batch: DataFrame, idCol: String, vecCol: String,
      table: String, coarse: Array[Array[Double]],
      pq: Array[Array[Array[Double]]], buckets: Int = 0): Unit = {
    val nb = resolveAppendBuckets(batch.sparkSession, table, buckets)
    val base = batch.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    encodeIvfPq(base, idCol, coarse, pq)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(nb, "cell").sortBy("cell")
      .saveAsTable(table)
  }

  /** ADC serving from the persisted CODED postings of
    * [[writeIvfPqIndex]] — true asymmetric-distance computation at
    * scale: each query row fans out to its `probes` nearest coarse
    * cells and builds, per (query, cell), the M×PQK LUT of exact
    * subspace distances between the query's residual slice and every
    * PQ centroid (model-sized per-row expression work against the
    * broadcast-literal codebooks — no corpus touch); each candidate
    * posting then costs O(M) array lookups — `adc =
    * Σ_m lut[m][codes[m]]` — never a dims-length fold. The corpus side
    * is the bucketed coded table read straight into the cell
    * equi-join: the only Exchanges are on the batch/probe side
    * (AnnIndexSpec asserts it), so serving is O(batch·probes·cell) in
    * compute AND reads ~3% of the bytes the raw-vector index serves.
    * Returns per query the `topK` ADC-nearest (cell, rn, nbr_id,
    * adc_dist) — approximate by construction; rerank the short list
    * against source vectors when exactness matters.
    *
    * `postingsFilter` restricts the candidate universe BEFORE the join
    * (filtered ANN — the standard metadata-constrained serving shape;
    * also how `ann_ivfpq_recall` caps its exact ground truth to a
    * slice): the predicate lands on the bucketed scan, so a selective
    * filter prunes, never post-filters the top-k.
    */
  def ivfPqQueryIndexed(batch: DataFrame, idCol: String, vecCol: String,
      table: String, coarse: Array[Array[Double]],
      pq: Array[Array[Array[Double]]], topK: Int = 5,
      probes: Int = 4, postingsFilter: Column = lit(true)): DataFrame = {
    val s = batch.sparkSession
    val dims = coarse(0).length
    val m = pq.length
    val sub = dims / m
    val coarseLit = typedlit(coarse.map(_.toIndexedSeq).toIndexedSeq)
    val pqLit = typedlit(
      pq.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
    val base = prepare(batch, idCol, vecCol).select(col(idCol), col("__v"))
    val qs = probeCells(base, coarse, probes)
      .select(col(idCol), col("__v"),
        explode(col("__probe_cells")).as("cell"))
      .withColumn("__qr", zip_with(col("__v"),
        element_at(coarseLit, col("cell") + 1), (x, y) => x - y))
      .withColumn("__lut", transform(pqLit, (mcb, mi) =>
        transform(mcb, cvec =>
          aggregate(
            zip_with(slice(col("__qr"), mi * sub + 1, lit(sub)), cvec,
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, e) => acc + e))))
      .select(col(idCol), col("cell"), col("__lut"))
    val postings = s.table(table).filter(postingsFilter)
      .select(col(idCol).as("pb_id"), col("cell").as("pb_cell"),
        col("codes").as("pb_codes"))
    val w = Window.partitionBy("__id_a")
      .orderBy(col("adc_dist"), col("nbr_id"))
    qs.as("a").join(postings,
        col("a.cell") === col("pb_cell") && col(s"a.$idCol") =!= col("pb_id"))
      .select(col(s"a.$idCol").as("__id_a"), col("pb_cell").as("cell"),
        col("pb_id").as("nbr_id"),
        aggregate(
          zip_with(col("pb_codes"), col("__lut"),
            (c, l) => element_at(l, c + 1)),
          lit(0.0), (acc, e) => acc + e).as("adc_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** The exactness-recovery serving form (r16 — `ann_ivfpq_rerank` as
    * a first-class API, the step [[ivfPqQueryIndexed]]'s doc calls
    * "rerank when exactness matters"): ADC over-fetch of
    * `overfetch · topK` candidates from the persisted codes, then an
    * EXACT squared-L2 rerank of that short list against the raw
    * `source` vectors — fetched by a short-list keyed broadcast probe
    * of ONE source scan, never a corpus distance pass. Returns per
    * query the `topK` exact-reranked (nbr_id, dist, rn). The true NN's
    * exact distance is globally minimal, so whenever it survives into
    * the short list it reranks to position 1 — reranked recall ≥ ADC
    * recall by construction (`ann_ivfpq_rerank` measures the recovery;
    * AnnIndexSpec pins API-served ≡ exact recomputation).
    *
    * Sizing: the short list is O(batch · overfetch · topK) — the
    * serving assumption (as everywhere in this API family) is that the
    * QUERY BATCH is the small side and the corpus the large one, so
    * both the short list and the query vectors broadcast; corpus bytes
    * are touched only by the bucketed coded scan and the one keyed
    * source fetch.
    */
  def ivfPqQueryReranked(batch: DataFrame, idCol: String, vecCol: String,
      table: String, coarse: Array[Array[Double]],
      pq: Array[Array[Array[Double]]], source: DataFrame,
      srcIdCol: String, srcVecCol: String, topK: Int = 5,
      probes: Int = 4, overfetch: Int = 4,
      postingsFilter: Column = lit(true)): DataFrame = {
    val short = ivfPqQueryIndexed(batch, idCol, vecCol, table, coarse,
        pq, topK * overfetch, probes, postingsFilter)
      .select(col(idCol).as("__q_id"), col("nbr_id"))
    val srcV = source.select(col(srcIdCol).as("nbr_id"),
      transform(col(srcVecCol), x => x.cast("double")).as("__nv"))
    val qv = batch.select(col(idCol).as("__q_id"),
      transform(col(vecCol), x => x.cast("double")).as("__qv"))
    val w = Window.partitionBy("__q_id").orderBy(col("dist"), col("nbr_id"))
    srcV.join(broadcast(short), Seq("nbr_id"))
      .join(broadcast(qv), Seq("__q_id"))
      .select(col("__q_id"), col("nbr_id"),
        aggregate(zip_with(col("__qv"), col("__nv"),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__q_id", idCol)
  }

  /** Retrain the CODED index from the raw `source` table — the
    * "sources train" half of the coded lifecycle's honest contract
    * (codes are lossy, so retrain-from-codes is deliberately absent;
    * [[ivfPqDistortion]] and `ann_ivfpq_drift` are the signals that
    * say WHEN to run this). Trains fresh coarse + PQ codebooks on
    * `source` and writes a fresh coded artifact to `target` under the
    * OLD table's catalog bucket spec (never silently re-bucket — the
    * [[retrainIvfIndex]] convention).
    */
  def retrainIvfPqIndex(spark: SparkSession, source: DataFrame,
      idCol: String, vecCol: String, table: String, target: String,
      cells: Int = 16, m: Int = 4, pqk: Int = 16, iters: Int = 5,
      buckets: Int = 0)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val nb =
      if (buckets > 0) buckets
      else catalogBuckets(spark, table)
        .getOrElse(throw new IllegalArgumentException(
          s"retrainIvfPqIndex: $table has no bucket spec; pass buckets explicitly"))
    writeIvfPqIndex(source, idCol, vecCol, target, cells, m, pqk,
      iters, nb)
  }

  /** Per-cell quantization-distortion audit of a persisted CODED
    * index: for every posting, the exact squared-L2 between the
    * source vector's residual and its PQ reconstruction (Σ over
    * subspaces of ‖resid slice − centroid(code)‖²), aggregated per
    * cell as (n_vecs, sum_q, mean_sqerr). This is the quality side of
    * the WHEN-to-retrain decision (`ann_ivfpq_drift` is the
    * distribution side): distortion a retrain would reclaim, measured
    * in the serving metric's own units. Per-vector distortions are
    * quantized to exact 1e-6 integers BEFORE the cell sum (the
    * ann_index_compact device) so the aggregate is order-independent
    * — same result at any partitioning, oracle-mirrorable. One
    * source-join pass, map-side partial aggregation to CELLS rows; no
    * corpus shuffle.
    */
  def ivfPqDistortion(spark: SparkSession, table: String,
      source: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]],
      pq: Array[Array[Array[Double]]]): DataFrame = {
    val dims = coarse(0).length
    val m = pq.length
    val sub = dims / m
    val coarseLit = typedlit(coarse.map(_.toIndexedSeq).toIndexedSeq)
    val src = source.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val j = spark.table(table).select(col(idCol), col("cell"), col("codes"))
      .join(src, Seq(idCol))
      .withColumn("__r", zip_with(col("__v"),
        element_at(coarseLit, col("cell") + 1), (x, y) => x - y))
    val dists = (0 until m).map { mi =>
      val cent = element_at(
        typedlit(pq(mi).map(_.toIndexedSeq).toIndexedSeq),
        element_at(col("codes"), mi + 1) + 1)
      aggregate(
        zip_with(expr(s"slice(__r, ${mi * sub + 1}, $sub)"), cent,
          (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, e) => acc + e)
    }
    j.withColumn("__qd",
        floor(dists.reduce(_ + _) * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum("__qd").as("sum_q"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("sum_q"),
        round(col("sum_q").cast("double")
          / (col("n_vecs").cast("double") * lit(1000000.0)), 4)
          .as("mean_sqerr"))
  }

  /** Top-k cosine neighbors of a QUERY BATCH against the persisted
    * postings table from [[writeIvfIndex]]. The batch fans out to its
    * `probes` nearest cells via the codebook (per-row expression work);
    * the corpus side is the bucketed artifact, read straight into the
    * cell equi-join — the only Exchanges in the plan are on the
    * batch/probe side, never the corpus side (AnnIndexSpec asserts
    * this), which is what makes serving O(batch·probes·cell) at any
    * corpus size. Postings columns are aliased `pb_*` so plan audits
    * can tell the sides apart.
    */
  def ivfQueryIndexed(batch: DataFrame, idCol: String, vecCol: String,
      table: String, codebook: Array[Array[Double]],
      topK: Int = 2, probes: Int = 2): DataFrame = {
    val s = batch.sparkSession
    val base = prepare(batch, idCol, vecCol)
      .select(col(idCol), col("__v"), col("__nrm"))
    val qs = probeCells(base, codebook, probes)
      .select(col(idCol), col("__v"), col("__nrm"),
        explode(col("__probe_cells")).as("cell"))
    val postings = s.table(table)
      .select(col(idCol).as("pb_id"), col("cell").as("pb_cell"),
        col("v").as("pb_v"), col("nrm").as("pb_nrm"))
    val w = Window.partitionBy("__id_a")
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    qs.as("a").join(postings,
        col("a.cell") === col("pb_cell") && col(s"a.$idCol") =!= col("pb_id"))
      .select(col(s"a.$idCol").as("__id_a"), col("pb_cell").as("cell"),
        col("pb_id").as("nbr_id"),
        expr("cosine_sim(a.__v, pb_v)").as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .withColumnRenamed("__id_a", idCol)
  }

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998):
    * per label, take the `pool` most-relevant candidates (cosine to the
    * label's seed = its min-id vector) and greedily pick `k` of them,
    * each round scoring score = λ·rel − (1−λ)·max_sim_to_selected — the
    * standard diversity rerank a retrieval pipeline runs on its top
    * pool before serving.
    *
    * Scale shape: relevance is ONE broadcast join of the corpus against
    * the model-sized seed set plus a per-label top-`pool` window — the
    * only corpus-wide work. The greedy loop then runs on the pooled
    * candidates (labels × pool rows, checkpointed once), so each of the
    * k−1 rounds is a broadcast join over a model-sized frame: pairwise
    * similarity cost is labels·pool·k, never corpus². Determinism: all
    * similarities and MMR scores are rounded to 4 dp before any ordering
    * or max, with the candidate id as the total-order tie-break.
    */
  def mmrRerank(embs: DataFrame, idCol: String, vecCol: String,
      labelCol: String, pool: Int = 8, k: Int = 4,
      lambda: Double = 0.7): DataFrame = {
    val e = prepare(embs, idCol, vecCol)
    val wSeed = Window.partitionBy(labelCol).orderBy(idCol)
    val seeds = e
      .withColumn("__srn", row_number().over(wSeed))
      .filter(col("__srn") === 1)
      .select(col(labelCol), col(idCol).as("__seed_id"),
        col("__v").as("__sv"))
    val wPool = Window.partitionBy(labelCol)
      .orderBy(col("rel").desc, col(idCol))
    val cand = e.join(broadcast(seeds), labelCol)
      .filter(col(idCol) =!= col("__seed_id"))
      .withColumn("rel", round(expr("cosine_sim(__v, __sv)"), 4))
      .withColumn("__rn", row_number().over(wPool))
      .filter(col("__rn") <= pool)
      .select(col(labelCol), col(idCol), col("__v"), col("rel"),
        col("__rn"))
      .localCheckpoint()
    var sel = cand.filter(col("__rn") === 1)
      .select(col(labelCol), col(idCol), col("__v"), col("rel"),
        col("rel").as("score"), lit(1).as("pick"))
    for (r <- 2 to k) {
      val remaining = cand
        .join(sel.select(col(labelCol), col(idCol)),
          Seq(labelCol, idCol), "left_anti")
      val picked = remaining
        .join(broadcast(sel.select(col(labelCol), col("__v").as("__pv"))),
          labelCol)
        .groupBy(col(labelCol), col(idCol), col("rel"))
        .agg(max(round(expr("cosine_sim(__v, __pv)"), 4)).as("msim"))
        .withColumn("score",
          round(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("msim"), 4))
        .withColumn("__prn", row_number().over(Window.partitionBy(labelCol)
          .orderBy(col("score").desc, col(idCol))))
        .filter(col("__prn") === 1)
        .select(col(labelCol), col(idCol), col("rel"), col("score"),
          lit(r).as("pick"))
      val pickedFull = picked
        .join(cand.select(col(labelCol), col(idCol), col("__v")),
          Seq(labelCol, idCol))
        .select(col(labelCol), col(idCol), col("__v"), col("rel"),
          col("score"), col("pick"))
      sel = sel.unionByName(pickedFull).localCheckpoint()
    }
    sel.select(col(labelCol), col("pick").cast("long").as("pick"),
      col(idCol), col("rel"), col("score"))
  }
}
