"""PySpark bindings for the graft engine's Scala API.

Thin py4j wrappers: every function delegates to the JVM-side
``graft.api.*`` objects through the active session's gateway and wraps
the returned JVM DataFrame back into a PySpark ``DataFrame``. No logic
lives here — the Scala API is the single source of truth, so results
are bit-identical to the Scala calls (same plans, same expressions).

Usage::

    from pyspark.sql import SparkSession
    import graft

    spark = (SparkSession.builder
             .config("spark.jars", "path/to/graft.jar")
             .config("spark.sql.extensions", "graft.plans.GraftExtensions")
             .getOrCreate())
    docs = spark.read.parquet(".../documents.parquet")
    clean = graft.dedup.near_dup_components(docs, "doc_id", "text")

Notes:
  * Scala default arguments do not exist at the Java interop layer, so
    every wrapper passes the full argument list explicitly (defaults
    here mirror the Scala defaults).
  * The binding layer is exercised offline by
    ``tools/check_pybindings.py`` (a dev-only smoke test run against
    the compiled classes with the driver-side pyspark install: 33
    delegations across dedup/similarity/graph/ranking/text/catalog, covering
    str/int/float-list/Seq/Column/None marshalling plus double[][]
    codebooks in both directions for the persisted-index lifecycle);
    the wrapped Scala methods themselves are oracle- and
    scalatest-covered.
"""

from pyspark.sql import DataFrame, SparkSession


def _active_spark():
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession")
    return spark


def _wrap(jdf, spark=None):
    spark = spark or _active_spark()
    return DataFrame(jdf, spark)


def _jvm():
    return _active_spark()._jvm


class dedup:
    """graft.api.Dedup — exact/minhash/LSH/SimHash deduplication."""

    @staticmethod
    def exact_groups(docs, id_col, text_col):
        return _wrap(_jvm().graft.api.Dedup.exactGroups(docs._jdf, id_col, text_col))

    @staticmethod
    def exact_keep(docs, id_col, text_col):
        return _wrap(_jvm().graft.api.Dedup.exactKeep(docs._jdf, id_col, text_col))

    @staticmethod
    def minhash_signatures(docs, id_col, text_col, k=16):
        return _wrap(_jvm().graft.api.Dedup.minhashSignatures(docs._jdf, id_col, text_col, k))

    @staticmethod
    def lsh_candidate_pairs(docs, id_col, text_col, k=16, bands=4, max_bucket=1000):
        return _wrap(_jvm().graft.api.Dedup.lshCandidatePairs(
            docs._jdf, id_col, text_col, k, bands, max_bucket))

    @staticmethod
    def jaccard_verify(docs, id_col, text_col, threshold=0.6, k=16, bands=4):
        return _wrap(_jvm().graft.api.Dedup.jaccardVerify(
            docs._jdf, id_col, text_col, threshold, k, bands))

    @staticmethod
    def near_dup_components(docs, id_col, text_col, threshold=0.6, k=16,
                            bands=4, max_iters=25):
        return _wrap(_jvm().graft.api.Dedup.nearDupComponents(
            docs._jdf, id_col, text_col, threshold, k, bands, max_iters))

    @staticmethod
    def incremental_near_dups(docs, id_col, text_col, is_new, threshold=0.6,
                              k=16, bands=4):
        """``is_new``: a pyspark Column marking the new-batch rows."""
        return _wrap(_jvm().graft.api.Dedup.incrementalNearDups(
            docs._jdf, id_col, text_col, is_new._jc, threshold, k, bands))

    @staticmethod
    def simhash(docs, id_col, text_col):
        return _wrap(_jvm().graft.api.Dedup.simhash(docs._jdf, id_col, text_col))

    @staticmethod
    def drop_boilerplate_lines(docs, id_col, text_col, line_words=3, max_docs=2):
        """Line-level cross-document dedup: drop lines occurring in more
        than ``max_docs`` distinct docs, reassemble with retention stats."""
        return _wrap(_jvm().graft.api.Dedup.dropBoilerplateLines(
            docs._jdf, id_col, text_col, line_words, max_docs))

    @staticmethod
    def keep_best_per_component(docs, id_col, text_col, threshold=0.6, k=16,
                                bands=4):
        """Near-dup collapse with the keep-longest policy: every doc
        labeled (comp, n_tokens, kept); singletons keep themselves."""
        return _wrap(_jvm().graft.api.Dedup.keepBestPerComponent(
            docs._jdf, id_col, text_col, threshold, k, bands))

    @staticmethod
    def exact_substring_spans(docs, id_col, text_col, span_tokens=5, min_docs=2):
        """Per-doc token mass covered by spans appearing verbatim in
        other docs (Lee-et-al exact-substring dedup report)."""
        return _wrap(_jvm().graft.api.Dedup.exactSubstringSpans(
            docs._jdf, id_col, text_col, span_tokens, min_docs))

    @staticmethod
    def write_band_index(docs, id_col, text_col, table, k=16, bands=4,
                         buckets=8):
        """Persist the corpus near-dup index as bucketed tables
        (``<table>_bands`` / ``<table>_sets``)."""
        _jvm().graft.api.Dedup.writeBandIndex(
            docs._jdf, id_col, text_col, table, k, bands, buckets)

    @staticmethod
    def append_to_band_index(batch, id_col, text_col, table, k=16, bands=4,
                             buckets=0):
        """Append a batch to both halves, O(batch). ``buckets<=0`` takes
        each half's bucket count from its catalog spec."""
        _jvm().graft.api.Dedup.appendToBandIndex(
            batch._jdf, id_col, text_col, table, k, bands, buckets)

    @staticmethod
    def incremental_near_dups_indexed(batch, id_col, text_col, table,
                                      threshold=0.6, k=16, bands=4):
        """Batch-vs-persisted-index dedup: no shuffle Exchange on the
        pre-bucketed corpus sides."""
        return _wrap(_jvm().graft.api.Dedup.incrementalNearDupsIndexed(
            batch._jdf, id_col, text_col, table, threshold, k, bands))

    @staticmethod
    def compact_band_index(table, target):
        """Rewrite both halves of an append-fragmented band index
        one-file-per-bucket under their original catalog bucket specs
        (content-preserving; source untouched)."""
        s = _active_spark()
        _jvm().graft.api.Dedup.compactBandIndex(s._jsparkSession, table, target)

    @staticmethod
    def retrain_band_index(table, target, k=16, bands=4, buckets=0):
        """Rebuild the band index at adjusted (k, bands) FROM THE
        STANDING ARTIFACT alone (the _sets half holds the complete
        minhash input — no source re-scan). ``buckets<=0`` derives
        each half's bucket count from the source's catalog spec."""
        s = _active_spark()
        _jvm().graft.api.Dedup.retrainBandIndex(
            s._jsparkSession, table, target, k, bands, buckets)

    @staticmethod
    def release_caches(docs, id_col, text_col):
        """Free the memoized sketches of ``docs`` (every k) at once."""
        _jvm().graft.api.Dedup.releaseCaches(docs._jdf, id_col, text_col)


class similarity:
    """graft.api.Similarity — brute/LSH/IVF vector search."""

    @staticmethod
    def brute_force_top_k(embs, id_col, vec_col, query_id, top_k=10):
        return _wrap(_jvm().graft.api.Similarity.bruteForceTopK(
            embs._jdf, id_col, vec_col, query_id, top_k))

    @staticmethod
    def lsh_top_k(embs, id_col, vec_col, query_id, top_k=10, n_planes=8, dims=64):
        return _wrap(_jvm().graft.api.Similarity.lshTopK(
            embs._jdf, id_col, vec_col, query_id, top_k, n_planes, dims))

    @staticmethod
    def top_k_auto(embs, id_col, vec_col, query_id, top_k=10):
        """Cost-based path selection (see spark.graft.similarity.autoApprox.*)."""
        return _wrap(_jvm().graft.api.Similarity.topKAuto(
            embs._jdf, id_col, vec_col, query_id, top_k))

    @staticmethod
    def bucketed_neighbors(embs, id_col, vec_col, top_k=1, n_planes=8, dims=64):
        return _wrap(_jvm().graft.api.Similarity.bucketedNeighbors(
            embs._jdf, id_col, vec_col, top_k, n_planes, dims))

    @staticmethod
    def ivf_trained_neighbors(embs, id_col, vec_col, k=16, iters=5, top_k=2,
                              probes=1):
        return _wrap(_jvm().graft.api.Similarity.ivfTrainedNeighbors(
            embs._jdf, id_col, vec_col, k, iters, top_k, probes))

    @staticmethod
    def knn_per_label(embs, id_col, vec_col, label_col, top_k=3,
                      max_exact_rows=200000):
        """EXACT quadratic baseline; corpora above ``max_exact_rows``
        are rejected (use :meth:`knn_per_label_ivf`). py4j resolves by
        arity, so the guard bound is passed explicitly."""
        return _wrap(_jvm().graft.api.Similarity.knnPerLabel(
            embs._jdf, id_col, vec_col, label_col, top_k, max_exact_rows))

    @staticmethod
    def knn_per_label_ivf(embs, id_col, vec_col, label_col, k=16, iters=5,
                          top_k=3, probes=2):
        return _wrap(_jvm().graft.api.Similarity.knnPerLabelIvf(
            embs._jdf, id_col, vec_col, label_col, k, iters, top_k, probes))

    @staticmethod
    def hard_negatives(embs, id_col, vec_col, label_col, k=16, iters=5,
                       top_k=3, probes=2):
        """Top-k most-similar DIFFERENT-label neighbors (contrastive
        hard-negative mining), same IVF cell blocking as
        :meth:`knn_per_label_ivf`."""
        return _wrap(_jvm().graft.api.Similarity.hardNegatives(
            embs._jdf, id_col, vec_col, label_col, k, iters, top_k, probes))

    @staticmethod
    def sem_dedup(embs, id_col, vec_col, k=16, iters=5, threshold=0.4):
        """SemDeDup: k-means cells + within-cell cosine pruning; every
        vector gets (cell, kept, dup_of, max_sim)."""
        return _wrap(_jvm().graft.api.Similarity.semDedup(
            embs._jdf, id_col, vec_col, k, iters, threshold))

    # ---- persisted IVF index lifecycle: build → serve → append →
    # drift-audit → compact → retrain. Codebooks cross the py4j
    # boundary as double[][]; the wrappers accept/return plain Python
    # list-of-lists so callers never touch JVM array handles. ----

    @staticmethod
    def write_ivf_index(embs, id_col, vec_col, table, k=16, iters=5,
                        buckets=8):
        """Train + persist the bucketed IVF postings artifact; returns
        the trained codebook (list of per-cell centroid lists)."""
        cb = _jvm().graft.api.Similarity.writeIvfIndex(
            embs._jdf, id_col, vec_col, table, k, iters, buckets)
        return [list(row) for row in cb]

    @staticmethod
    def append_to_ivf_index(batch, id_col, vec_col, table, codebook,
                            buckets=0):
        """Commit a new vector delivery against the FROZEN codebook —
        append-only bucket files, O(batch), no retraining.
        ``buckets<=0`` derives the count from the existing target's
        catalog bucket spec (never silently re-buckets)."""
        _jvm().graft.api.Similarity.appendToIvfIndex(
            batch._jdf, id_col, vec_col, table, _to_j2d(codebook), buckets)

    @staticmethod
    def ivf_query_indexed(batch, id_col, vec_col, table, codebook,
                          top_k=2, probes=2):
        """Serve a query batch against the persisted postings — no
        Exchange on the corpus side."""
        return _wrap(_jvm().graft.api.Similarity.ivfQueryIndexed(
            batch._jdf, id_col, vec_col, table, _to_j2d(codebook),
            top_k, probes))

    @staticmethod
    def ivf_index_drift(table, codebook):
        """Per-cell fill factor + centroid drift of the postings vs the
        frozen codebook — the WHEN-to-retrain signal."""
        s = _active_spark()
        return _wrap(_jvm().graft.api.Similarity.ivfIndexDrift(
            s._jsparkSession, table, _to_j2d(codebook)), s)

    @staticmethod
    def compact_ivf_index(table, target, buckets=0):
        """Rewrite append-fragmented postings one-file-per-bucket;
        ``buckets<=0`` derives the count from the source's catalog
        spec (the "same bucket spec" guarantee)."""
        s = _active_spark()
        _jvm().graft.api.Similarity.compactIvfIndex(
            s._jsparkSession, table, target, buckets)

    @staticmethod
    def retrain_ivf_index(table, target, id_col="vec_id", k=16, iters=5,
                          buckets=0):
        """The decision ivf_index_drift informs, executed: re-run the
        Lloyd chain over the CURRENT postings (initial + appended) and
        rewrite a fresh artifact at ``target``; returns the retrained
        codebook. ``buckets<=0`` derives the count from the source
        artifact's catalog bucket spec (never silently re-buckets)."""
        s = _active_spark()
        cb = _jvm().graft.api.Similarity.retrainIvfIndex(
            s._jsparkSession, table, target, id_col, k, iters, buckets)
        return [list(row) for row in cb]

    # ---- PQ-coded index (r15): build the coded artifact and serve ADC
    # from the codes alone. Codebooks cross the gateway as double[][]
    # (coarse) and double[][][] (PQ). ----

    @staticmethod
    def write_ivf_pq_index(embs, id_col, vec_col, table, cells=16, m=4,
                           pqk=16, iters=5, buckets=8):
        """Persist (id, cell, codes) — M int residual-PQ codes per
        vector instead of raw vectors; returns (coarse, pq) codebooks
        as plain Python nested lists."""
        t = _jvm().graft.api.Similarity.writeIvfPqIndex(
            embs._jdf, id_col, vec_col, table, cells, m, pqk, iters,
            buckets)
        coarse = [list(row) for row in t._1()]
        pq = [[list(row) for row in sub] for sub in t._2()]
        return coarse, pq

    @staticmethod
    def append_to_ivf_pq_index(batch, id_col, vec_col, table, coarse, pq,
                               buckets=0):
        """Commit a new delivery into the coded index: assigned against
        the FROZEN coarse codebook, encoded against the FROZEN PQ
        codebooks, appended under the same bucket spec — O(batch).
        ``buckets<=0`` derives the count from the existing target's
        catalog bucket spec (never silently re-buckets)."""
        _jvm().graft.api.Similarity.appendToIvfPqIndex(
            batch._jdf, id_col, vec_col, table, _to_j2d(coarse),
            _to_j3d(pq), buckets)

    @staticmethod
    def ivf_pq_query_indexed(batch, id_col, vec_col, table, coarse, pq,
                             top_k=5, probes=4, postings_filter=None):
        """Serve a query batch from the persisted CODES alone (true
        ADC: per-(query, probed cell) LUT + O(M) lookups per
        candidate; no corpus-side Exchange). ``postings_filter``: an
        optional pyspark Column restricting the candidate universe
        before the join (filtered ANN)."""
        from pyspark.sql import functions as F
        flt = postings_filter if postings_filter is not None else F.lit(True)
        return _wrap(_jvm().graft.api.Similarity.ivfPqQueryIndexed(
            batch._jdf, id_col, vec_col, table, _to_j2d(coarse),
            _to_j3d(pq), top_k, probes, flt._jc))

    @staticmethod
    def ivf_pq_query_reranked(batch, id_col, vec_col, table, coarse, pq,
                              source, src_id_col, src_vec_col, top_k=5,
                              probes=4, overfetch=4, postings_filter=None):
        """The exactness-recovery serving form: ADC over-fetch of
        ``overfetch * top_k`` candidates from the codes, then an EXACT
        rerank of that short list against the raw ``source`` vectors —
        fetched by a short-list keyed broadcast probe, never a corpus
        distance pass. Reranked recall >= ADC recall by construction."""
        from pyspark.sql import functions as F
        flt = postings_filter if postings_filter is not None else F.lit(True)
        return _wrap(_jvm().graft.api.Similarity.ivfPqQueryReranked(
            batch._jdf, id_col, vec_col, table, _to_j2d(coarse),
            _to_j3d(pq), source._jdf, src_id_col, src_vec_col, top_k,
            probes, overfetch, flt._jc))

    @staticmethod
    def retrain_ivf_pq_index(source, id_col, vec_col, table, target,
                             cells=16, m=4, pqk=16, iters=5, buckets=0):
        """Retrain the coded index from the raw ``source`` table —
        codes are lossy, so there is deliberately no retrain-from-codes
        (codes serve, sources train). Writes a fresh coded artifact at
        ``target`` under the old table's catalog bucket spec; returns
        the fresh (coarse, pq) codebooks as Python nested lists."""
        s = _active_spark()
        t = _jvm().graft.api.Similarity.retrainIvfPqIndex(
            s._jsparkSession, source._jdf, id_col, vec_col, table,
            target, cells, m, pqk, iters, buckets)
        coarse = [list(row) for row in t._1()]
        pq = [[list(row) for row in sub] for sub in t._2()]
        return coarse, pq

    @staticmethod
    def ivf_pq_distortion(table, source, id_col, vec_col, coarse, pq):
        """Per-cell quantization-distortion audit of a coded index
        (exact residual-vs-reconstruction squared-L2, 1e-6-quantized
        before the order-independent cell sum) — the quality side of
        the WHEN-to-retrain decision."""
        s = _active_spark()
        return _wrap(_jvm().graft.api.Similarity.ivfPqDistortion(
            s._jsparkSession, table, source._jdf, id_col, vec_col,
            _to_j2d(coarse), _to_j3d(pq)), s)


class graph:
    """graft.api.Graph — convergent distributed graph primitives.

    Edge frames are plain DataFrames with two id columns; undirected
    algorithms (``connected_components``, ``kcore``) expect BOTH
    directions of each edge present.
    """

    @staticmethod
    def connected_components(edges, src_col, dst_col, max_iters=100):
        """(node, component) with component = min reachable node id;
        converges in O(log diameter) rounds via pointer doubling."""
        return _wrap(_jvm().graft.api.Graph.connectedComponents(
            edges._jdf, src_col, dst_col, max_iters))

    @staticmethod
    def strongly_connected_components(edges, src_col, dst_col,
                                      max_outer=50, max_iters=100,
                                      local_cutoff=4096):
        """(node, scc_id) of the DIRECTED graph by FW-BW min-label
        peeling. ``local_cutoff``: remainder row count at or below which
        the peel finishes with one exact driver-side Tarjan pass
        (0 disables — always distributed); ids are normalized to long."""
        return _wrap(_jvm().graft.api.Graph.stronglyConnectedComponents(
            edges._jdf, src_col, dst_col, max_outer, max_iters,
            local_cutoff))

    @staticmethod
    def hop_distances(edges, src_col, dst_col, source, max_iters=100):
        """(node, d) BFS hop distances to ``source`` along the edges
        (``d`` = length of the shortest path node →* source); nodes that
        cannot reach it are absent."""
        return _wrap(_jvm().graft.api.Graph.hopDistances(
            edges._jdf, src_col, dst_col, int(source), max_iters))

    @staticmethod
    def kcore(edges, src_col, dst_col, k, max_rounds=12):
        """Iterative degree peel: surviving (node, degree) rows of the
        k-core subgraph."""
        return _wrap(_jvm().graft.api.Graph.kcore(
            edges._jdf, src_col, dst_col, k, max_rounds))


class ranking:
    """graft.api.Ranking — scale-safe global/grouped row numbers and NTILE.

    ``sort_cols`` are pyspark Columns forming a total order;
    ``bucket_by`` (optional Column) must be numeric and
    ascending-monotonic in that order (pass ``-col`` for a descending
    first sort column). Each call runs one small eager Spark job (the
    range-bucket boundaries, groups x (partitions - 1) doubles) and
    raises at the call if ``bucket_by`` is not numeric.
    """

    @staticmethod
    def _cols(cols):
        return _to_seq([c._jc for c in cols])

    @staticmethod
    def with_global_row_number(df, sort_cols, rn_col="__rn", n_col="__n",
                               partitions=0, bucket_by=None):
        return _wrap(_jvm().graft.api.Ranking.withGlobalRowNumber(
            df._jdf, ranking._cols(sort_cols), rn_col, n_col, partitions,
            bucket_by._jc if bucket_by is not None else None))

    @staticmethod
    def with_grouped_row_number(df, group_cols, sort_cols, rn_col="__rn",
                                partitions=0, bucket_by=None):
        return _wrap(_jvm().graft.api.Ranking.withGroupedRowNumber(
            df._jdf, _to_seq(group_cols), ranking._cols(sort_cols), rn_col,
            partitions, bucket_by._jc if bucket_by is not None else None))

    @staticmethod
    def ntile_exact(df, tiles, sort_cols, tile_col="__ntile", bucket_by=None):
        return _wrap(_jvm().graft.api.Ranking.ntileExact(
            df._jdf, tiles, ranking._cols(sort_cols), tile_col,
            bucket_by._jc if bucket_by is not None else None))


class text:
    """graft.api.TextMetrics — quality / language-ID / tf-idf / fingerprints."""

    @staticmethod
    def quality(docs, id_col, text_col, stopwords):
        sw = _to_seq(stopwords)
        return _wrap(_jvm().graft.api.TextMetrics.quality(docs._jdf, id_col, text_col, sw))

    @staticmethod
    def lang_id(docs, id_col, text_col, lang_col, profile_size=20):
        return _wrap(_jvm().graft.api.TextMetrics.langId(
            docs._jdf, id_col, text_col, lang_col, profile_size))

    @staticmethod
    def token_counts(docs, id_col, text_col):
        return _wrap(_jvm().graft.api.TextMetrics.tokenCounts(docs._jdf, id_col, text_col))

    @staticmethod
    def tf_idf_top_terms(docs, id_col, text_col, group_col, top_n=5):
        return _wrap(_jvm().graft.api.TextMetrics.tfIdfTopTerms(
            docs._jdf, id_col, text_col, group_col, top_n))

    @staticmethod
    def fingerprint(docs, id_col, text_col):
        return _wrap(_jvm().graft.api.TextMetrics.fingerprint(docs._jdf, id_col, text_col))

    @staticmethod
    def normalize(docs, text_col):
        """NFC + control-strip + whitespace-collapse with per-row
        per-stage removal counts and a changed flag."""
        return _wrap(_jvm().graft.api.TextMetrics.normalize(docs._jdf, text_col))

    @staticmethod
    def chunk_documents(docs, id_col, text_col, chunk_tokens=40, stride=30):
        """Overlapping token-window chunks (chunk_idx / n_tokens /
        chunk_text per chunk); the final chunk may be shorter."""
        return _wrap(_jvm().graft.api.TextMetrics.chunkDocuments(
            docs._jdf, id_col, text_col, chunk_tokens, stride))

    @staticmethod
    def hashed_linear_score(docs, id_col, text_col, weights):
        """fastText-style hashed linear scorer: md5-bucketed tokens into
        the given weight vector, score = mean bucket weight (token-order
        fold), keep_label = score >= 0."""
        ws = _to_seq([float(w) for w in weights])
        return _wrap(_jvm().graft.api.TextMetrics.hashedLinearScore(
            docs._jdf, id_col, text_col, ws))


class catalog:
    """graft.api.Catalog — metastore collection (DBS/TBLS/COLUMNS analogs)."""

    @staticmethod
    def databases():
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.databases(s._jsparkSession), s)

    @staticmethod
    def tables(db):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.tables(s._jsparkSession, db), s)

    @staticmethod
    def columns(db):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.columns(s._jsparkSession, db), s)

    @staticmethod
    def table_stats(db):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.tableStats(s._jsparkSession, db), s)

    @staticmethod
    def partitions(db, table):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.partitions(s._jsparkSession, db, table), s)

    @staticmethod
    def column_stats(db):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.columnStats(s._jsparkSession, db), s)

    @staticmethod
    def storage_breakdown(db):
        s = _active_spark()
        return _wrap(_jvm().graft.api.Catalog.storageBreakdown(s._jsparkSession, db), s)


class multimodal:
    """Pandas-UDF multimodal plumbing (mapInPandas) — the brief's
    decode / feature-extract / frame-sample shapes. The DECODE step is
    a clearly-marked deterministic STUB (no codec libs ship in this
    offline container — swap ``_decode_stub`` for PIL / pyav in
    production); everything Spark-side is the real thing: output
    schema, Arrow-batch iteration (one pandas.DataFrame per batch,
    streamed — never a whole-partition materialization), column
    pruning BEFORE the UDF so only (id, payload) crosses the Arrow
    boundary, and the fan-out row shape of a frame sampler. Payloads
    are opaque bytes (the ``documents.text`` bytes stand in for an
    image/video blob — the mm_* Scala operators' convention).
    """

    DECODE_SCHEMA = ("doc_id long, width int, height int, n_frames int, "
                     "mean_luma double")
    FRAME_SCHEMA = "doc_id long, frame_idx int, frame_luma double"

    @staticmethod
    def _payload_bytes(p):
        return p if isinstance(p, (bytes, bytearray)) else str(p).encode("utf-8")

    @staticmethod
    def _decode_stub(payload):
        """STUB decoder: header-derived fake dimensions, 64-byte frame
        blocks, byte-mean luma. Deterministic in the payload bytes."""
        b = multimodal._payload_bytes(payload)
        n = len(b)
        w = 16 + (b[0] % 48 if n else 0)
        h = 16 + (b[n // 2] % 48 if n else 0)
        frames = max(1, n // 64)
        luma = (sum(b) / float(n)) if n else 0.0
        return w, h, frames, luma

    @staticmethod
    def decode_features(docs, id_col="doc_id", payload_col="text"):
        """One feature row per blob via mapInPandas. The closure is
        deliberately SELF-CONTAINED (no module-level references):
        cloudpickle then ships it whole, so executors need no `graft`
        module on their PYTHONPATH — the standard packaging rule for
        production pandas UDFs."""
        ic, pc = id_col, payload_col

        def fn(batches):
            import pandas as pd

            def blob(p):
                return (p if isinstance(p, (bytes, bytearray))
                        else str(p).encode("utf-8"))

            def decode(p):  # STUB — swap for a real codec in production
                b = blob(p)
                n = len(b)
                w = 16 + (b[0] % 48 if n else 0)
                h = 16 + (b[n // 2] % 48 if n else 0)
                return w, h, max(1, n // 64), (sum(b) / float(n)) if n else 0.0

            for pdf in batches:
                rows = [(int(i),) + decode(p)
                        for i, p in zip(pdf[ic], pdf[pc])]
                yield pd.DataFrame(
                    rows, columns=["doc_id", "width", "height",
                                   "n_frames", "mean_luma"])

        return (docs.select(id_col, payload_col)
                .mapInPandas(fn, multimodal.DECODE_SCHEMA))

    @staticmethod
    def frame_sample(docs, id_col="doc_id", payload_col="text", every=4):
        """One row per SAMPLED frame (idx ≡ 0 mod ``every``) — the
        fan-out shape of a video pipeline (output rows > input rows),
        still streamed one Arrow batch at a time."""
        ic, pc, ev = id_col, payload_col, every

        def fn(batches):  # self-contained — see decode_features
            import pandas as pd
            for pdf in batches:
                out = {"doc_id": [], "frame_idx": [], "frame_luma": []}
                for i, p in zip(pdf[ic], pdf[pc]):
                    b = (p if isinstance(p, (bytes, bytearray))
                         else str(p).encode("utf-8"))
                    for f in range(0, max(1, len(b) // 64), ev):
                        chunk = b[f * 64:(f + 1) * 64]
                        out["doc_id"].append(int(i))
                        out["frame_idx"].append(f)
                        out["frame_luma"].append(
                            (sum(chunk) / float(len(chunk))) if chunk else 0.0)
                yield pd.DataFrame(out)

        return (docs.select(id_col, payload_col)
                .mapInPandas(fn, multimodal.FRAME_SCHEMA))


def _to_seq(xs):
    """Python list → scala.collection.immutable.Seq of strings."""
    jvm = _jvm()
    arr = jvm.java.util.ArrayList()
    for x in xs:
        arr.add(x)
    return jvm.scala.jdk.CollectionConverters.ListHasAsScala(arr).asScala().toSeq()


def _to_j2d(codebook):
    """Python list-of-lists (or an already-JVM double[][]) → double[][]."""
    if not isinstance(codebook, (list, tuple)):
        return codebook  # already a JVM array handle — pass through
    gw = _active_spark().sparkContext._gateway
    n = len(codebook)
    d = len(codebook[0]) if n else 0
    arr = gw.new_array(gw.jvm.double, n, d)
    for i, row in enumerate(codebook):
        for j, x in enumerate(row):
            arr[i][j] = float(x)
    return arr


def _to_j3d(pq):
    """Python list-of-list-of-lists (or a JVM double[][][]) → double[][][]."""
    if not isinstance(pq, (list, tuple)):
        return pq
    gw = _active_spark().sparkContext._gateway
    m = len(pq)
    k = len(pq[0]) if m else 0
    d = len(pq[0][0]) if k else 0
    arr = gw.new_array(gw.jvm.double, m, k, d)
    for a, sub in enumerate(pq):
        for b, row in enumerate(sub):
            for c, x in enumerate(row):
                arr[a][b][c] = float(x)
    return arr
