"""r13 optimization-round seams: every sharing shortcut added for
performance must be ROW-IDENTICAL to the straight-line form it
replaces (the optimization never changes what a query computes).

Covers:
- similarity.ivf_postings_topk ≡ ivf_maintained_topk's search tail
- knn_descent / graph_search_topk / graph_insert over an IndexCorpus
  slice whose ring overlay was built beforehand ≡ the plain-DataFrame
  call
- ivf_retrain_delta / ivf_retrained_topk with shared codebooks ≡ the
  per-leg retrain
- graph.triangle_count materialized ≡ unmaterialized (pure lineage cut)
- similarity._mmr_greedy lazy steps ≡ per-step-checkpointed steps
- similarity.top_pc_power: server-side-parsed expressions (oracle-
  pinned via pca_power/pca_outliers MATCH; spot-pinned here on the
  grid projection's exactness)
- every graph operator over IndexCorpus slices (norm frame filtered
  from the root's) ≡ the plain-DataFrame call
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wasaffi_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"

IAP_MOD = 8
IMS_DEL_MOD = 13
IMS_DEL_RES = 4
ANN_QUERY_MAX_ID = 8
ANN_K = 3
LLOYD_CELLS = 16
LLOYD_ITERS = 2
DESCENT_K = 8
DESCENT_ROUNDS = 4
DESCENT_MAX_REVERSE = 16
DESCENT_RING = 4
GS_K = 3
GS_BEAM = 8
GS_ROUNDS = 4
GS_ENTRY = 4
GS_RING = 4


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def corpus(emb):
    """Slices of ONE IndexCorpus matching the ``split`` frames."""
    c = similarity.IndexCorpus(emb)
    base = c.where(F.col("vec_id") % IAP_MOD != IAP_MOD - 1)
    batch = c.where(F.col("vec_id") % IAP_MOD == IAP_MOD - 1)
    dele = c.where(F.pmod(F.col("vec_id"), F.lit(IMS_DEL_MOD)) == IMS_DEL_RES)
    alive = (base | batch) - dele
    queries = alive.where(F.col("vec_id") < ANN_QUERY_MAX_ID)
    return base, batch, dele, queries


@pytest.fixture(scope="module")
def split(emb):
    base = emb.where(F.col("vec_id") % IAP_MOD != IAP_MOD - 1)
    batch = emb.where(F.col("vec_id") % IAP_MOD == IAP_MOD - 1)
    dele = emb.where(
        F.pmod(F.col("vec_id"), F.lit(IMS_DEL_MOD)) == IMS_DEL_RES
    ).select("vec_id")
    queries = emb.where(
        (F.col("vec_id") < ANN_QUERY_MAX_ID)
        & (F.pmod(F.col("vec_id"), F.lit(IMS_DEL_MOD)) != IMS_DEL_RES)
    )
    return base, batch, dele, queries


@pytest.mark.slow
def test_ivf_postings_topk_equals_maintained(emb, split):
    """The shared-components probe tail returns exactly the rows the
    all-in-one maintained search returns (the q_policy_applied r13
    restructure's equivalence)."""
    base, batch, dele, queries = split
    whole = similarity.ivf_maintained_topk(
        queries, base, batch, dele, k=ANN_K, n_cells=LLOYD_CELLS,
        n_probe=2, iters=LLOYD_ITERS,
    )
    cents = similarity.lloyd_centroids(base, LLOYD_CELLS, LLOYD_ITERS)
    postings = similarity.ivf_assign_hashed(
        base, cents, LLOYD_CELLS
    ).unionByName(similarity.ivf_append(batch, cents, LLOYD_CELLS))
    postings = similarity.ivf_delete(dele, postings)
    d = dele.withColumnRenamed("vec_id", "_did")
    alive = emb.select("vec_id", "embedding").join(
        d, F.col("vec_id") == F.col("_did"), "left_anti"
    )
    shared = similarity.ivf_postings_topk(
        queries, cents, postings, alive, k=ANN_K, n_cells=LLOYD_CELLS,
        n_probe=2,
    )
    assert _rows(shared) == _rows(whole)


def test_knn_descent_with_prebuilt_ring(emb, split):
    base = split[0]
    plain = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    )
    c = similarity.IndexCorpus(base)
    ringe, _ = c.overlay(n_entry=0, ring=DESCENT_RING)
    pre = similarity.knn_descent(
        c, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    )
    assert _rows(pre) == _rows(plain)
    # the build read the prebuilt overlay, not a second one
    assert c.overlay(n_entry=0, ring=DESCENT_RING)[0] is ringe


@pytest.mark.slow
def test_graph_search_and_insert_with_overlay(emb, split, corpus):
    base, batch, _dele, queries = split
    cbase, cbatch, _cdele, cqueries = corpus
    graph = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    ).localCheckpoint(eager=True)
    cbase.overlay(n_entry=GS_ENTRY, ring=GS_RING)
    plain_search = similarity.graph_search_topk(
        queries, graph, base, k=GS_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING,
    )
    pre_search = similarity.graph_search_topk(
        cqueries, graph, cbase, k=GS_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING,
    )
    assert _rows(pre_search) == _rows(plain_search)

    plain_ins = similarity.graph_insert(
        batch, graph, base, k=DESCENT_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING, max_reverse=DESCENT_MAX_REVERSE,
    )
    pre_ins = similarity.graph_insert(
        cbatch, graph, cbase, k=DESCENT_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING, max_reverse=DESCENT_MAX_REVERSE,
    )
    assert _rows(pre_ins) == _rows(plain_ins)


@pytest.mark.slow
def test_retrain_with_shared_codebooks(emb, split):
    base, _batch, dele, queries = split
    old_c = similarity.lloyd_centroids(base, LLOYD_CELLS, LLOYD_ITERS)
    new_c = similarity.lloyd_centroids(
        emb, LLOYD_CELLS, LLOYD_ITERS, init_cents=old_c
    )
    plain_delta = similarity.ivf_retrain_delta(
        base, emb, n_cells=LLOYD_CELLS, iters=LLOYD_ITERS
    )
    shared_delta = similarity.ivf_retrain_delta(
        base, emb, n_cells=LLOYD_CELLS, iters=LLOYD_ITERS,
        old_cents=old_c, new_cents=new_c,
    )
    assert _rows(shared_delta) == _rows(plain_delta)

    plain_topk = similarity.ivf_retrained_topk(
        queries, base, emb, dele, k=ANN_K, n_cells=LLOYD_CELLS,
        n_probe=2, iters=LLOYD_ITERS,
    )
    shared_topk = similarity.ivf_retrained_topk(
        queries, base, emb, dele, k=ANN_K, n_cells=LLOYD_CELLS,
        n_probe=2, iters=LLOYD_ITERS, new_cents=new_c,
    )
    assert _rows(shared_topk) == _rows(plain_topk)


def test_triangle_count_materialization_is_pure(emb):
    """triangle_count's r13 lineage-cut checkpoints (und, e) change the
    physical plan only — per-node triangle counts identical."""
    from wasaffi_spark.operators import graph

    edges = similarity.knn_edges_bucketed(emb, k=2)
    pairs = similarity.mutual_knn_pairs(edges).select("id_a", "id_b")
    mat = graph.triangle_count(pairs)
    plain = graph.triangle_count(pairs, _materialize=False)
    got = _rows(mat)
    assert got == _rows(plain)
    assert got, "fixture graph closes at least one triangle"


def test_mmr_greedy_lazy_equals_materialized(emb):
    """_mmr_greedy with lazy steps (the k<=4 r13 default) returns
    exactly the rows of the per-step-checkpointed form, at a k above
    AND below the auto threshold."""
    lam_micro = 700000
    sl = (
        similarity.knn_edges_bucketed(emb, k=8)
        .where(F.col("src") < 4)
        .select(
            F.col("src").alias("qid"),
            F.col("dst").alias("nid"),
            F.col("cos_sim"),
            F.floor(F.col("cos_sim") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("rel_micro"),
        )
        .localCheckpoint(eager=True)
    )
    pp = (
        sl.alias("x")
        .join(sl.alias("y"), "qid")
        .where(F.col("x.nid") != F.col("y.nid"))
        .select(
            "qid",
            F.col("x.nid").alias("_a"),
            F.col("y.nid").alias("_b"),
            F.floor(F.col("y.cos_sim") * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("sim_micro"),
        )
        .localCheckpoint(eager=True)
    )
    for k in (3, 5):
        lazy = similarity._mmr_greedy(
            sl, pp, k, lam_micro, 1_000_000 - lam_micro, "cos_sim",
            materialize_steps=False,
        )
        eager = similarity._mmr_greedy(
            sl, pp, k, lam_micro, 1_000_000 - lam_micro, "cos_sim",
            materialize_steps=True,
        )
        assert _rows(lazy) == _rows(eager)


def test_cluster_safe_split_shared_components(spark):
    """cluster_safe_split(components=prebuilt) ≡ the straight-line
    form, in both plain and freeze mode (the q_split_drift r13
    sharing)."""
    from wasaffi_spark.operators import dedup, graph, pipeline

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sig = dedup.minhash_signatures(docs).persist()
    sig.count()
    try:
        pairs = dedup.lsh_candidate_pairs(sig)
        comps = graph.connected_components(pairs).localCheckpoint(
            eager=True
        )
        plain = pipeline.cluster_safe_split(docs, pairs)
        shared = pipeline.cluster_safe_split(docs, pairs, components=comps)
        assert _rows(shared) == _rows(plain)

        prior = plain.select("doc_id", "split").localCheckpoint(eager=True)
        plain_f = pipeline.cluster_safe_split(docs, pairs, prior=prior)
        shared_f = pipeline.cluster_safe_split(
            docs, pairs, prior=prior, components=comps
        )
        assert _rows(shared_f) == _rows(plain_f)
    finally:
        sig.unpersist()


@pytest.mark.slow
def test_norm_frame_seams_row_identical(emb, split, corpus):
    """Every graph operator reading an IndexCorpus slice's norm frame
    (the root's, filtered) — and graph_search_topk's
    ``_materialize_final`` skip — is row-identical to the plain-
    DataFrame call that builds its own."""
    base, batch, dele, queries = split
    cbase, _cbatch, cdele, cqueries = corpus

    # knn_edges_bucketed: slice-backed cells ≡ inline cells (incl. the
    # auto-bits count over the slice)
    plain_edges = similarity.knn_edges_bucketed(base, k=2)
    pre_edges = similarity.knn_edges_bucketed(cbase, k=2)
    assert _rows(pre_edges) == _rows(plain_edges)

    # knn_descent: slice ≡ per-call build
    plain_g = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    )
    pre_g = similarity.knn_descent(
        cbase, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    )
    assert _rows(pre_g) == _rows(plain_g)
    graph = pre_g.localCheckpoint(eager=True)

    # graph_search_topk: query/corpus slices + final-checkpoint skip
    plain_s = similarity.graph_search_topk(
        queries, graph, base, k=GS_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING,
    )
    pre_s = similarity.graph_search_topk(
        cqueries, graph, cbase, k=GS_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING, _materialize_final=False,
    )
    assert _rows(pre_s) == _rows(plain_s)

    # graph_delete: cached slice norm ≡ lazy per-call projection
    plain_d = similarity.graph_delete(dele, graph, base, k=DESCENT_K)
    pre_d = similarity.graph_delete(cdele, graph, cbase, k=DESCENT_K)
    assert _rows(pre_d) == _rows(plain_d)

    # graph_refresh: slice ≡ per-call build
    plain_r = similarity.graph_refresh(
        graph, base, k=DESCENT_K, rounds=1,
        max_reverse=DESCENT_MAX_REVERSE,
    )
    pre_r = similarity.graph_refresh(
        graph, cbase, k=DESCENT_K, rounds=1,
        max_reverse=DESCENT_MAX_REVERSE,
    )
    assert _rows(pre_r) == _rows(plain_r)


@pytest.mark.slow
def test_graph_maintained_search_norm_seams(emb, split, corpus):
    """graph_maintained_search over IndexCorpus slices (every side a
    filter of one norm frame, the alive overlay built beforehand, the
    overlapped CRUD/prep threads) ≡ the straight-line composition."""
    base, batch, dele, queries = split
    cbase, cbatch, cdele, cqueries = corpus
    graph = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    ).localCheckpoint(eager=True)
    plain = similarity.graph_maintained_search(
        queries, graph, base, batch, dele, k=GS_K, k_graph=DESCENT_K,
        beam=GS_BEAM, rounds=2, n_entry=GS_ENTRY, ring=GS_RING,
        max_reverse=DESCENT_MAX_REVERSE,
    )
    ((cbase | cbatch) - cdele).overlay(n_entry=GS_ENTRY, ring=GS_RING)
    pre = similarity.graph_maintained_search(
        cqueries, graph, cbase, cbatch, cdele, k=GS_K, k_graph=DESCENT_K,
        beam=GS_BEAM, rounds=2, n_entry=GS_ENTRY, ring=GS_RING,
        max_reverse=DESCENT_MAX_REVERSE,
    )
    assert _rows(pre) == _rows(plain)


@pytest.mark.slow
def test_final_checkpoint_folds_row_identical(emb, split):
    """Batch-7 pins: skipping the LAST round's checkpoint
    (``_materialize_final=False``) and trusting a maintenance output's
    rank column (``_seed_ranked=True``) are row-identical to the
    straight-line forms — the checkpoint is a pure lineage cut and the
    stored rank IS the normalization window's result."""
    from wasaffi_spark.operators import graph as graph_ops

    base, batch, dele, queries = split

    # knn_descent: last-round checkpoint folded into the consumer
    plain_g = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING,
    )
    fold_g = similarity.knn_descent(
        base, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        ring=DESCENT_RING, _materialize_final=False,
    )
    assert _rows(fold_g) == _rows(plain_g)
    g = plain_g  # checkpointed (default path) — the maintained seed

    # graph_refresh over a MAINTAINED adjacency (insert+delete applied
    # via apply_delta — the exact q_graph_refresh input shape):
    # _seed_ranked + the final fold ≡ the re-ranking checkpointed form
    ins = similarity.graph_insert(
        batch, g, base, k=DESCENT_K, beam=GS_BEAM, rounds=2,
        n_entry=GS_ENTRY, ring=GS_RING, max_reverse=DESCENT_MAX_REVERSE,
    )
    g1 = similarity.graph_apply_delta(g, ins).localCheckpoint(eager=True)
    corpus = base.select("vec_id", "embedding").unionByName(
        batch.select("vec_id", "embedding")
    )
    rep = similarity.graph_delete(dele, g1, corpus, k=DESCENT_K)
    d = dele.withColumnRenamed("vec_id", "_did")
    g2 = (
        similarity.graph_apply_delta(g1, rep)
        .join(d, F.col("src") == F.col("_did"), "left_anti")
        .localCheckpoint(eager=True)
    )
    alive = corpus.join(d, F.col("vec_id") == F.col("_did"), "left_anti")
    plain_r = similarity.graph_refresh(
        g2, alive, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE
    )
    fold_r = similarity.graph_refresh(
        g2, alive, k=DESCENT_K, rounds=1, max_reverse=DESCENT_MAX_REVERSE,
        _materialize_final=False, _seed_ranked=True,
    )
    assert _rows(fold_r) == _rows(plain_r)

    # label_propagation: last-round state checkpoint folded
    nodes = base.select(
        "vec_id",
        F.when(F.pmod(F.col("vec_id"), F.lit(5)) == 0, F.col("label"))
        .alias("label"),
        (F.pmod(F.col("vec_id"), F.lit(5)) == 0).alias("is_seed"),
    )
    plain_lp = graph_ops.label_propagation(g, nodes, rounds=2)
    fold_lp = graph_ops.label_propagation(
        g, nodes, rounds=2, _materialize_final=False
    )
    assert _rows(fold_lp) == _rows(plain_lp)

    # graph_maintained_search: the composed final fold
    plain_m = similarity.graph_maintained_search(
        queries, g, base, batch, dele, k=GS_K, k_graph=DESCENT_K,
        beam=GS_BEAM, rounds=2, n_entry=GS_ENTRY, ring=GS_RING,
        max_reverse=DESCENT_MAX_REVERSE,
    )
    fold_m = similarity.graph_maintained_search(
        queries, g, base, batch, dele, k=GS_K, k_graph=DESCENT_K,
        beam=GS_BEAM, rounds=2, n_entry=GS_ENTRY, ring=GS_RING,
        max_reverse=DESCENT_MAX_REVERSE, _materialize_final=False,
    )
    assert _rows(fold_m) == _rows(plain_m)


def test_top_pc_power_grid_projection_exact(spark):
    """The r13 server-side-parsed grid snap matches the Column-API
    form it replaced, including the negative-value floor+0.5 rule."""
    df = spark.createDataFrame(
        [([0.25, -0.75],), ([1.0000005, -0.0000005],)], "embedding array<double>"
    )
    got = df.selectExpr(
        "cast(floor(cast(element_at(`embedding`, 1) as double)"
        " * 1000000 + 0.5d) as bigint) as g1",
        "cast(floor(cast(element_at(`embedding`, 2) as double)"
        " * 1000000 + 0.5d) as bigint) as g2",
    ).collect()
    want = df.select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double") * 1000000
                + F.lit(0.5)).cast("long").alias("g1"),
        F.floor(F.element_at(F.col("embedding"), 2).cast("double") * 1000000
                + F.lit(0.5)).cast("long").alias("g2"),
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
