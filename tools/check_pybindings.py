#!/usr/bin/env python3
"""Dev-only smoke test of the PySpark bindings (python/graft.py).

Runs every binding class against the sf0.001 fixtures with the repo's
compiled classes on the driver classpath, asserting that each py4j
delegation crosses the gateway (argument marshalling: str, int, float
list, scala Seq, Column handles, None->null) and returns a usable
PySpark DataFrame. The wrapped Scala logic is oracle-covered by the
driver's gate; THIS script covers the binding layer itself, which the
Scala test suite cannot reach.

Usage: python3 tools/check_pybindings.py [sfDir]
Dev-only tool — requires the driver-side pyspark install; never shipped
with, or imported by, the Scala library.
"""
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

sys.path.insert(0, os.path.join(REPO, "python"))

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.driver.extraClassPath",
            os.path.join(REPO, "target", "scala-2.13", "classes"))
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import graft  # noqa: E402

docs = spark.read.parquet(f"{SF}/documents.parquet")
embs = spark.read.parquet(f"{SF}/embeddings.parquet")
n_docs = docs.count()
n_embs = embs.count()

passed, failed = [], []


def check(name, fn):
    try:
        fn()
        passed.append(name)
        print(f"PASS {name}")
    except Exception:
        failed.append(name)
        print(f"FAIL {name}")
        traceback.print_exc()


def expect(cond, msg):
    if not cond:
        raise AssertionError(msg)


# --- dedup ---------------------------------------------------------------
check("dedup.exact_groups", lambda: expect(
    graft.dedup.exact_groups(docs, "doc_id", "text").count() >= 0, "ran"))
check("dedup.exact_keep", lambda: expect(
    graft.dedup.exact_keep(docs, "doc_id", "text").count() <= n_docs,
    "keep must not grow the corpus"))
check("dedup.minhash_signatures", lambda: expect(
    graft.dedup.minhash_signatures(docs, "doc_id", "text").count() == n_docs,
    "one signature row per doc"))
check("dedup.lsh_candidate_pairs", lambda: expect(
    graft.dedup.lsh_candidate_pairs(docs, "doc_id", "text").count() >= 0,
    "ran"))
check("dedup.jaccard_verify", lambda: expect(
    graft.dedup.jaccard_verify(docs, "doc_id", "text").count() >= 0, "ran"))
check("dedup.near_dup_components", lambda: expect(
    graft.dedup.near_dup_components(docs, "doc_id", "text").count() >= 0,
    "ran"))
check("dedup.release_caches", lambda: expect(
    graft.dedup.release_caches(docs, "doc_id", "text") is None, "ran"))
check("dedup.simhash", lambda: expect(
    graft.dedup.simhash(docs, "doc_id", "text").count() == n_docs,
    "one simhash per doc"))

# --- similarity ----------------------------------------------------------
qid = embs.select("vec_id").orderBy("vec_id").first()[0]


def _sim_equiv():
    bf = graft.similarity.brute_force_top_k(
        embs, "vec_id", "embedding", qid, top_k=5)
    expect(bf.count() == 5, "brute force must return top_k rows")


check("similarity.brute_force_top_k", _sim_equiv)
check("similarity.top_k_auto", lambda: expect(
    graft.similarity.top_k_auto(embs, "vec_id", "embedding", qid,
                                top_k=5).count() == 5, "auto top_k rows"))
check("similarity.bucketed_neighbors", lambda: expect(
    graft.similarity.bucketed_neighbors(embs, "vec_id", "embedding")
    .count() >= 0, "ran"))


# --- persisted IVF index lifecycle (r14): build → append → serve →
# drift → compact → retrain, exercising double[][] marshalling BOTH
# directions across the gateway ---------------------------------------
import tempfile  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

# fresh per-process database location (the Llm.scala convention: a
# fixed dir outlives the in-memory catalog and a later JVM's
# saveAsTable trips over the orphaned directory)
spark.sql("CREATE DATABASE IF NOT EXISTS graft_pyidx LOCATION "
          f"'{tempfile.mkdtemp(prefix='graft_pyidx_')}'")

_state = {}


def _ivf_build_check():
    cb = graft.similarity.write_ivf_index(
        embs.filter("vec_id % 3 != 0"), "vec_id", "embedding",
        "graft_pyidx.ivf")
    expect(isinstance(cb, list) and len(cb) == 16 and len(cb[0]) > 0,
           f"codebook shape: {len(cb)}")
    _state["cb"] = cb
    expect(spark.table("graft_pyidx.ivf").count() ==
           embs.filter("vec_id % 3 != 0").count(), "one posting per vector")


def _ivf_append_check():
    n0 = spark.table("graft_pyidx.ivf").count()
    graft.similarity.append_to_ivf_index(
        embs.filter("vec_id % 3 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivf", _state["cb"])
    expect(spark.table("graft_pyidx.ivf").count() == n_embs,
           f"append must grow {n0} to {n_embs}")


def _ivf_query_check():
    r = graft.similarity.ivf_query_indexed(
        embs.filter("vec_id % 97 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivf", _state["cb"])
    expect(r.count() > 0 and "cos_sim" in r.columns, "served neighbors")


def _ivf_drift_check():
    r = graft.similarity.ivf_index_drift("graft_pyidx.ivf", _state["cb"])
    expect(r.count() == 16 and "drift" in r.columns, "per-cell drift rows")
    expect(r.agg(F.sum("n_vecs")).first()[0] == n_embs, "counts cover corpus")


def _ivf_compact_check():
    graft.similarity.compact_ivf_index("graft_pyidx.ivf",
                                       "graft_pyidx.ivf_cmp")
    expect(spark.table("graft_pyidx.ivf_cmp").count() == n_embs,
           "compaction preserves row count")


def _ivf_retrain_check():
    cb2 = graft.similarity.retrain_ivf_index("graft_pyidx.ivf",
                                             "graft_pyidx.ivf_retr")
    expect(len(cb2) == 16, "retrained codebook shape")
    d0 = graft.similarity.ivf_index_drift(
        "graft_pyidx.ivf", _state["cb"]).agg(F.max("drift")).first()[0]
    d1 = graft.similarity.ivf_index_drift(
        "graft_pyidx.ivf_retr", cb2).agg(F.max("drift")).first()[0]
    expect(d1 <= d0, f"retrain must not worsen drift: {d1} vs {d0}")


def _band_compact_check():
    graft.dedup.write_band_index(
        docs.filter("doc_id % 2 = 0"), "doc_id", "text", "graft_pyidx.band")
    graft.dedup.append_to_band_index(
        docs.filter("doc_id % 2 = 1"), "doc_id", "text", "graft_pyidx.band")
    graft.dedup.compact_band_index("graft_pyidx.band", "graft_pyidx.band_cmp")
    for sfx in ["_bands", "_sets"]:
        expect(spark.table(f"graft_pyidx.band_cmp{sfx}").count() ==
               spark.table(f"graft_pyidx.band{sfx}").count(),
               f"{sfx} content preserved")
    r = graft.dedup.incremental_near_dups_indexed(
        docs.limit(5), "doc_id", "text", "graft_pyidx.band_cmp")
    expect(r.count() == 5, "compacted band index serves batches")


_pq_coarse = None
_pq_pq = None


def _ivfpq_check():
    # double[][][] marshalling both directions: Tuple2 return unpacked
    # into nested lists, the pq codebook shipped back as a 3-d array
    global _pq_coarse, _pq_pq
    coarse, pq = graft.similarity.write_ivf_pq_index(
        embs.filter("vec_id % 3 != 0"), "vec_id", "embedding",
        "graft_pyidx.ivfpq")
    expect(len(coarse) == 16 and len(pq) == 4 and len(pq[0]) == 16
           and len(pq[0][0]) == 16, "codebook shapes")
    graft.similarity.append_to_ivf_pq_index(
        embs.filter("vec_id % 3 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivfpq", coarse, pq)
    expect(spark.table("graft_pyidx.ivfpq").count() == n_embs,
           "one coded posting per vector after append")
    r = graft.similarity.ivf_pq_query_indexed(
        embs.filter("vec_id % 97 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivfpq", coarse, pq)
    expect(r.count() > 0 and "adc_dist" in r.columns, "ADC served")
    flt = graft.similarity.ivf_pq_query_indexed(
        embs.filter("vec_id % 97 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivfpq", coarse, pq,
        postings_filter=F.col("vec_id") % 2 == 0)
    expect(flt.filter("nbr_id % 2 != 0").count() == 0,
           "postings_filter must constrain the candidate universe")
    _pq_coarse, _pq_pq = coarse, pq


def _ivfpq_rerank_check():
    # serving with the exact-rerank recovery leg: reranked rows carry
    # exact distances, and the top-1 exact distance can only improve
    # on (or match) the best exact distance among the ADC top-k
    r = graft.similarity.ivf_pq_query_reranked(
        embs.filter("vec_id % 97 = 0"), "vec_id", "embedding",
        "graft_pyidx.ivfpq", _pq_coarse, _pq_pq,
        embs, "vec_id", "embedding", 3)
    expect(r.count() > 0 and "dist" in r.columns and "rn" in r.columns,
           "reranked serving returns (nbr_id, dist, rn)")
    expect(r.filter("rn > 3").count() == 0, "top_k respected")


def _ivfpq_retrain_check():
    # sources-train retrain + the distortion audit that motivates it
    d0 = graft.similarity.ivf_pq_distortion(
        "graft_pyidx.ivfpq", embs, "vec_id", "embedding",
        _pq_coarse, _pq_pq)
    expect(d0.count() > 0 and "mean_sqerr" in d0.columns,
           "distortion audit emits per-cell mean_sqerr")
    c2, p2 = graft.similarity.retrain_ivf_pq_index(
        embs, "vec_id", "embedding", "graft_pyidx.ivfpq",
        "graft_pyidx.ivfpq_retr")
    expect(len(c2) == 16 and len(p2) == 4, "fresh codebook shapes")
    expect(spark.table("graft_pyidx.ivfpq_retr").count() == n_embs,
           "retrain re-encodes every posting")


def _band_retrain_check():
    # from-artifact retrain at tightened banding (4 -> 2 bands): bands
    # half rebuilt, sets half carried over exactly
    graft.dedup.retrain_band_index("graft_pyidx.band_cmp",
                                   "graft_pyidx.band_retr", 16, 2)
    expect(spark.table("graft_pyidx.band_retr_sets").count() ==
           spark.table("graft_pyidx.band_cmp_sets").count(),
           "sets half carried over")
    n_docs_idx = spark.table("graft_pyidx.band_cmp_sets").count()
    expect(spark.table("graft_pyidx.band_retr_bands").count() ==
           2 * n_docs_idx, "2 band rows per doc after retrain")


check("similarity.write_ivf_index", _ivf_build_check)
check("similarity.append_to_ivf_index", _ivf_append_check)
check("similarity.ivf_query_indexed", _ivf_query_check)
check("similarity.ivf_index_drift", _ivf_drift_check)
check("similarity.compact_ivf_index", _ivf_compact_check)
check("similarity.retrain_ivf_index", _ivf_retrain_check)
check("similarity.write_ivf_pq_index/ivf_pq_query_indexed", _ivfpq_check)
check("similarity.ivf_pq_query_reranked", _ivfpq_rerank_check)
check("similarity.retrain_ivf_pq_index/ivf_pq_distortion",
      _ivfpq_retrain_check)
check("dedup.write/append/compact_band_index", _band_compact_check)
check("dedup.retrain_band_index", _band_retrain_check)

# --- graph (r15: the one api/ object that had zero bindings) -------------
_ring = [(i, (i + 1) % 5) for i in range(5)]          # directed 5-cycle
_tail = [(5, 6), (6, 7), (4, 5)]                       # chain off the ring
_edges = spark.createDataFrame(_ring + _tail, "u long, v long")
_both = _edges.union(_edges.selectExpr("v AS u", "u AS v"))


def _cc_check():
    r = graft.graph.connected_components(_both, "u", "v")
    got = {row["node"]: row["component"] for row in r.collect()}
    expect(len(got) == 8 and set(got.values()) == {0},
           f"one component labelled 0, got {got}")


def _scc_check():
    # default local_cutoff (exercises the local-Tarjan tail) AND
    # local_cutoff=0 (forces the distributed peel) must agree
    for cutoff in (4096, 0):
        r = graft.graph.strongly_connected_components(
            _edges, "u", "v", local_cutoff=cutoff)
        got = {row["node"]: row["scc_id"] for row in r.collect()}
        expect(all(got[i] == 0 for i in range(5)),
               f"ring is one SCC (cutoff={cutoff}): {got}")
        expect(all(got[i] == i for i in (5, 6, 7)),
               f"tail nodes are singletons (cutoff={cutoff}): {got}")


def _hops_check():
    r = graft.graph.hop_distances(_both, "u", "v", 0)
    got = {row[0]: row[1] for row in r.collect()}
    # undirected ring: 0-4 is one hop, so the tail end 7 sits at 4
    expect(got[0] == 0 and got[7] == 4, f"BFS distances: {got}")


def _kcore_check():
    # the 2-core of ring+tail is exactly the ring (tail peels off)
    r = graft.graph.kcore(_both, "u", "v", 2)
    expect({row[0] for row in r.collect()} == set(range(5)),
           "2-core must be the 5-ring")


check("graph.connected_components", _cc_check)
check("graph.strongly_connected_components", _scc_check)
check("graph.hop_distances", _hops_check)
check("graph.kcore", _kcore_check)

# --- ranking -------------------------------------------------------------
from pyspark.sql import functions as F  # noqa: E402


def _rank_check():
    r = graft.ranking.with_global_row_number(docs, [F.col("doc_id")])
    got = r.agg(F.countDistinct("__rn"), F.max("__rn")).first()
    expect(got[0] == n_docs and got[1] == n_docs,
           f"row numbers must be a permutation of 1..{n_docs}, got {got}")


def _ntile_check():
    r = graft.ranking.ntile_exact(docs, 4, [F.col("doc_id")])
    got = r.groupBy("__ntile").count().count()
    expect(got == 4, f"expected 4 tiles, got {got}")


check("ranking.with_global_row_number", _rank_check)
check("ranking.ntile_exact", _ntile_check)

# --- text ----------------------------------------------------------------
STOP = ["the", "a", "of", "and", "to", "in"]


def _quality_check():
    r = graft.text.quality(docs, "doc_id", "text", STOP)
    expect(r.count() == n_docs, "one quality row per doc")
    expect("quality" in r.columns, "quality column present")


check("text.quality", _quality_check)
check("text.token_counts", lambda: expect(
    graft.text.token_counts(docs, "doc_id", "text").count() == n_docs,
    "one row per doc"))
check("text.fingerprint", lambda: expect(
    graft.text.fingerprint(docs, "doc_id", "text").count() == n_docs,
    "one row per doc"))
check("text.tf_idf_top_terms", lambda: expect(
    graft.text.tf_idf_top_terms(docs, "doc_id", "text", "lang",
                                top_n=3).count() >= 1, "ran"))
check("text.hashed_linear_score", lambda: expect(
    graft.text.hashed_linear_score(
        docs, "doc_id", "text",
        [0.1 * ((i % 7) - 3) for i in range(64)]).count() == n_docs,
    "one score per doc"))

# --- multimodal (mapInPandas plumbing; pure-python, no py4j) --------------
def _mm_decode_check():
    r = graft.multimodal.decode_features(docs)
    expect(r.count() == n_docs, "one decoded row per blob")
    expect(set(r.columns) == {"doc_id", "width", "height", "n_frames",
                              "mean_luma"}, f"schema: {r.columns}")
    row = r.orderBy("doc_id").first()
    expect(row["width"] >= 16 and row["n_frames"] >= 1, f"stub sane: {row}")


def _mm_frames_check():
    r = graft.multimodal.frame_sample(docs, every=4)
    expect(r.count() >= n_docs, "at least one sampled frame per blob")
    expect(r.filter("frame_idx % 4 != 0").count() == 0,
           "only every-4th frame sampled")


check("multimodal.decode_features", _mm_decode_check)
check("multimodal.frame_sample", _mm_frames_check)

# --- catalog -------------------------------------------------------------
check("catalog.databases", lambda: expect(
    graft.catalog.databases().count() >= 1, "default db must exist"))

print(f"\n{len(passed)} pass, {len(failed)} fail")
spark.stop()
sys.exit(1 if failed else 0)
