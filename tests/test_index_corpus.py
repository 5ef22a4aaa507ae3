"""IndexCorpus slices and the overlap helper.

- the descent → maintained-search chain over slices of ONE
  IndexCorpus returns exactly the rows of the plain-DataFrame calls;
- a failing overlap branch cancels its siblings' Spark jobs (also
  those of an overlap nested inside a branch) and re-raises its own
  error;
- worker threads carry the submitter's Spark local properties;
- concurrent requests for one memoized artifact build it once.
"""
from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wasaffi_spark.operators import similarity
from wasaffi_spark.operators.overlap import overlap


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_maintained_search_over_slices_matches_plain(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    is_base = F.col("vec_id") % 8 != 7
    is_batch = F.col("vec_id") % 8 == 7
    is_del = F.pmod(F.col("vec_id"), F.lit(13)) == 4
    is_query = (F.col("vec_id") < 8) & ~is_del
    kw = dict(
        k=3, k_graph=4, beam=4, rounds=1, n_entry=4, ring=2, max_reverse=8
    )

    base, batch = emb.where(is_base), emb.where(is_batch)
    graph = similarity.knn_descent(base, k=4, rounds=1, ring=2)
    plain_graph = _rows(graph)
    plain = _rows(similarity.graph_maintained_search(
        emb.where(is_query), graph, base, batch,
        emb.where(is_del).select("vec_id"), **kw,
    ))

    c = similarity.IndexCorpus(emb)
    cbase, cbatch, cdele = c.where(is_base), c.where(is_batch), c.where(is_del)
    alive = (cbase | cbatch) - cdele
    assert alive is (cbase | cbatch) - cdele
    cgraph = similarity.knn_descent(cbase, k=4, rounds=1, ring=2)
    assert _rows(cgraph) == plain_graph
    got = similarity.graph_maintained_search(
        alive.where(F.col("vec_id") < 8), cgraph, cbase, cbatch, cdele, **kw,
    )
    assert _rows(got) == plain
    # the final search read the alive slice's memoized overlay
    assert ("overlay", similarity.IVF_SEED, 2) in alive._memo


def _sleep_job(sc):
    sc.parallelize(range(4), 4).map(lambda x: time.sleep(60) or x).count()


def _boom_once_busy(sc):
    t0 = time.monotonic()
    while not sc.statusTracker().getActiveJobsIds():
        assert time.monotonic() - t0 < 30, "the sibling job never started"
        time.sleep(0.1)
    raise RuntimeError("boom")


def _assert_no_active_jobs(sc):
    t0 = time.monotonic()
    while sc.statusTracker().getActiveJobsIds():
        assert time.monotonic() - t0 < 10, "a cancelled job is still running"
        time.sleep(0.1)


@pytest.mark.parametrize("boom_first", [True, False])
def test_overlap_failure_cancels_sibling_job(spark, boom_first):
    sc = spark.sparkContext
    thunks = [lambda: _boom_once_busy(sc), lambda: _sleep_job(sc)]
    if not boom_first:
        thunks.reverse()
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="boom"):
        overlap(*thunks)
    assert time.monotonic() - t0 < 30
    _assert_no_active_jobs(sc)


def test_overlap_cancels_nested_overlap(spark):
    """Neither inner branch fails, so only the tag passed on from the
    outer call can cancel them."""
    sc = spark.sparkContext
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="boom"):
        overlap(
            lambda: _boom_once_busy(sc),
            lambda: overlap(lambda: _sleep_job(sc), lambda: _sleep_job(sc)),
        )
    assert time.monotonic() - t0 < 30
    _assert_no_active_jobs(sc)


def test_overlap_workers_inherit_local_properties(spark):
    sc = spark.sparkContext
    sc.setJobDescription("overlap-attribution")
    try:
        descs = overlap(*[
            lambda: sc.getLocalProperty("spark.job.description")
        ] * 3)
    finally:
        sc.setJobDescription(None)
    assert descs == ("overlap-attribution",) * 3


def test_memo_builds_once_under_contention():
    c = similarity.IndexCorpus(None)
    calls, results = [], []

    def build():
        calls.append(1)
        time.sleep(0.01)
        return object()

    def ask():
        for _ in range(50):
            results.append(c._get(("artifact",), build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=ask) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(results) == 16 * 50 and all(r is results[0] for r in results)
