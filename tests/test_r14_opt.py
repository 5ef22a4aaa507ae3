"""r14 optimization-round seams: every change made for performance must
be ROW-IDENTICAL to the straight-line form it replaces (the
optimization never changes what a query computes).

Covers:
- similarity._resolve_bits: lazy checkpoint folded with the auto-bits
  count (one scheduler job instead of two) — same bits, same rows,
  repeated consumption stable.
- semantic_dedup / semantic_dedup_pruned: the k∝N knob-count
  checkpoint is lazy (count materializes it) — auto-k output ≡ the
  straight-line explicit-k output.
- the r14 truth-overlap restructure of the recall gauges (the O(Q·N)
  brute-force truth set materialized on an overlapped driver thread):
  the declared q_ivf_recall_monitor / q_graph_recall_monitor builders
  ≡ their straight-line serial forms (truth lazy in the final job).
"""
from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from wasaffi_spark.operators import catalog, similarity

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_resolve_bits_lazy_fold(emb):
    """The folded (lazy-checkpoint) auto-bits path returns the same
    bits and the same frame rows as the input, and the returned frame
    survives repeated consumption (checkpoint semantics intact)."""
    corpus, bits = similarity._resolve_bits(emb, None, 32)
    n = emb.count()
    assert bits == similarity.auto_sign_bits(n, 32)
    # two separate actions over the returned frame read identical rows
    first = _rows(corpus.select("vec_id"))
    second = _rows(corpus.select("vec_id"))
    assert first == second == _rows(emb.select("vec_id"))


def test_semantic_dedup_knob_fold_row_identical(emb):
    """Auto-k (lazy knob-count checkpoint) ≡ explicit-k straight line,
    both variants."""
    corpus = emb.select("vec_id", "embedding")
    n = corpus.count()
    k = max(16, math.ceil(n / 128))
    for fn in (similarity.semantic_dedup, similarity.semantic_dedup_pruned):
        auto = fn(corpus)
        explicit = fn(corpus, k_seeds=k)
        assert _rows(auto) == _rows(explicit), fn.__name__


def test_knn_descent_overlay_total_bits_row_identical(emb):
    """knn_descent deriving the auto-bits knob from the ring overlay's
    row total (r14) ≡ the explicit-bits straight line ≡ the IndexCorpus
    path whose count comes from a prebuilt overlay, at the descent's
    own target_cell_size."""
    n = emb.count()
    bits = similarity.auto_sign_bits(n, 32)
    auto = similarity.knn_descent(emb, k=4, rounds=1, ring=2)
    explicit = similarity.knn_descent(emb, k=4, rounds=1, ring=2, bits=bits)
    assert _rows(auto) == _rows(explicit)
    c = similarity.IndexCorpus(emb)
    c.overlay(n_entry=0, ring=2)
    assert c.count() == n
    pre = similarity.knn_descent(c, k=4, rounds=1, ring=2)
    assert _rows(pre) == _rows(auto)
    # bits follow the call's target_cell_size, not a fixed 32
    small = similarity.knn_descent(
        c, k=4, rounds=0, ring=2, target_cell_size=8
    )
    small_explicit = similarity.knn_descent(
        emb, k=4, rounds=0, ring=2,
        bits=similarity.auto_sign_bits(n, 8),
    )
    assert _rows(small) == _rows(small_explicit)


@pytest.mark.slow
def test_ivf_recall_monitor_truth_overlap_row_identical(spark):
    """The r14 overlapped-truth builder ≡ the r13 serial form (truth
    lazy inside the final gauge job)."""
    new = catalog.q_ivf_recall_monitor(spark, SF_DIR)
    # straight-line replica of the pre-r14 builder body
    emb = catalog._table(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % catalog.IAP_MOD != catalog.IAP_MOD - 1)
    batch = emb.where(F.col("vec_id") % catalog.IAP_MOD == catalog.IAP_MOD - 1)
    dele = emb.where(
        F.pmod(F.col("vec_id"), F.lit(catalog.IMS_DEL_MOD))
        == catalog.IMS_DEL_RES
    ).select("vec_id")
    queries = emb.where(
        (F.col("vec_id") < catalog.ANN_QUERY_MAX_ID)
        & (
            F.pmod(F.col("vec_id"), F.lit(catalog.IMS_DEL_MOD))
            != catalog.IMS_DEL_RES
        )
    )
    got = similarity.ivf_maintained_topk(
        queries, base, batch, dele, k=catalog.ANN_K,
        n_cells=catalog.LLOYD_CELLS, n_probe=catalog.LLOYD_PROBE,
        iters=catalog.LLOYD_ITERS,
    )
    d = dele.withColumnRenamed("vec_id", "_did")
    alive = emb.join(d, F.col("vec_id") == F.col("_did"), "left_anti")
    truth = similarity.brute_force_topk(queries, alive, k=catalog.ANN_K)
    old = (
        similarity.recall_at_k(got, truth)
        .select(
            "qid", "hits", F.lit(catalog.ANN_K).cast("bigint").alias("k")
        )
        .orderBy("qid")
    )
    assert _rows(new) == _rows(old)


@pytest.mark.slow
def test_graph_recall_monitor_truth_overlap_row_identical(spark):
    """The r14 overlapped-truth builder ≡ a serial gauge over the same
    maintained chain (truth computed lazily from raw-table frames)."""
    new = catalog.q_graph_recall_monitor(spark, SF_DIR)
    emb = catalog._table(spark, SF_DIR, "embeddings")
    base, batch, dele, _alive, queries = catalog._maintenance_corpus(emb)
    got = catalog._maintained_search(base, batch, dele, queries)
    d = dele.df.select(F.col("vec_id").alias("_did"))
    alive = emb.join(d, F.col("vec_id") == F.col("_did"), "left_anti")
    truth = similarity.brute_force_topk(queries.df, alive, k=catalog.GS_K)
    old = (
        similarity.recall_at_k(got, truth)
        .select(
            "qid", "hits", F.lit(catalog.GS_K).cast("bigint").alias("k")
        )
        .orderBy("qid")
    )
    assert _rows(new) == _rows(old)
