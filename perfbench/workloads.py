"""The benchmark's workloads: seeded input generation, set-up, the timed
op, its result check and the per-layer measurements of a traced run.

Each run is a closed loop with one client on a fresh ``local[2]``
session; two task slots, each a JVM task thread plus a Python worker,
fill four cores. Why these two (perfbench/NOTES.md has the sizes, the
studies and the workload left out):

- ``udf_typed``: the paper's batch-at-a-time scalar functions across the
  JVM/Python-worker boundary, where the engine's argument coercion
  dominates: a DECIMAL literal, a BIGINT column, strings with NULLs and
  64-wide float lists, all through vectorized guests. No graph operator
  runs.
- ``index_maintenance``: insert, delete and beam search over a graph
  index: many small Spark jobs and no UDF work, so a UDF-path change
  should leave it unchanged, and an index change the UDF workload.
"""

from __future__ import annotations

import os
import statistics
import time
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# One Arrow batch as the recommended session sends it to a Python worker
# (spark.sql.execution.arrow.maxRecordsPerBatch in conf.py).
BATCH_ROWS = 65536
SLOTS = 2
REL_TOL = 1e-9


def _rel_close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(fn, reps: int) -> float:
    """Median wall time of ``reps`` calls, in milliseconds."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1000.0)
    return _median(times)


def _with_nulls(arr: pa.Array, null_mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(null_mask), pa.scalar(None, arr.type), arr)


def _strings(rng: np.random.Generator, n: int) -> pa.Array:
    """ASCII lower-case/digit strings of 4-24 characters (ASCII keeps
    Spark's and Arrow's upper-casing identical)."""
    lens = rng.integers(4, 25, n)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", np.uint8)
    data = alphabet[rng.integers(0, len(alphabet), int(offsets[-1]))]
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())
    )


def _col(name):
    return lambda batch: batch.column(name).to_pandas()


def _const(value, dtype=None):
    def make(batch):
        import pandas as pd

        return pd.Series([value] * batch.num_rows, dtype=dtype)

    return make


class UdfTyped:
    """One query calling four DDL-registered functions over generated
    parquet input, checked against the same query written with native
    Spark expressions."""

    name = "udf_typed"
    # One full Arrow batch per task slot.
    rows, dim = SLOTS * BATCH_ROWS, 64
    warmup_ops = 10
    ddl = (
        "CREATE FUNCTION f1(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM "
        "AS 'fixtures/udfs.py!f1'",
        "CREATE FUNCTION slen(VARCHAR) RETURNS BIGINT LANGUAGE WASM "
        "AS 'fixtures/udfs.py!str_len_upper'",
        "CREATE FUNCTION vnorm(ARRAY<FLOAT>) RETURNS DOUBLE LANGUAGE WASM "
        "AS 'perfbench/guest.py!vec_norm'",
    )
    op_sql = (
        "select sum(p), sum(q), sum(l), count(l), sum(n), count(n) from ("
        "select f1(a, 2.0) p, f1(k, 2) q, slen(s) l, vnorm(v) n from t)"
    )
    reference_sql = (
        "select sum(p), sum(q), sum(l), count(l), sum(n), count(n) from ("
        "select pow(a, 2.0) p, pow(k, 2) q, length(upper(s)) l, "
        "sqrt(aggregate(v, 0D, (acc, y) -> acc + cast(y as double) * cast(y as double))) n "
        "from t)"
    )
    # (label, call) pairs that a traced run also runs alone, each in the
    # op's query shape, to split the UDF node's metrics by call.
    calls = (
        ("pow_dd", "f1(a, b)"),
        ("pow_dec", "f1(a, 2.0)"),
        ("pow_long", "f1(k, 2)"),
        ("strlen", "slen(s)"),
        ("norm", "vnorm(v)"),
    )
    # (function, argument makers) for each call of the op, replayed
    # in-process through the built UDF on one batch; a maker turns the
    # batch into the pandas Series Spark hands the UDF for that argument.
    replay = (
        ("f1", (_col("a"), _const(Decimal("2.0"), object))),
        ("f1", (_col("k"), _const(2, "int32"))),
        ("slen", (_col("s"),)),
        ("vnorm", (_col("v"),)),
    )

    def __init__(self, work_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(work_dir, "input")
        self.seed = seed
        self.sample: pa.Table | None = None
        self.expected = None

    def generate(self) -> None:
        """One parquet file with one row group per task slot, so the scan
        splits into one task per slot."""
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.data_dir, exist_ok=True)
        per_file = self.rows // SLOTS
        for i in range(SLOTS):
            table = pa.table(self.columns(rng, per_file))
            if self.sample is None:
                self.sample = table.slice(0, BATCH_ROWS)
            pq.write_table(
                table, os.path.join(self.data_dir, f"part-{i}.parquet"),
                row_group_size=per_file,
            )

    @property
    def units_per_op(self) -> int:
        return self.rows

    def setup(self, spark, counters, tracer, times: dict) -> dict:
        from wasaffi_spark import Engine

        engine = Engine(spark)
        with tracer.span("engine.register"):
            engine.register("t", spark.read.parquet(self.data_dir))
        for stmt in self.ddl:
            t = time.perf_counter()
            with tracer.span("engine.create_function"):
                engine.sql(stmt)
            times.setdefault("create_function_ms", []).append(
                (time.perf_counter() - t) * 1000.0
            )
        return {"engine": engine}

    def prepare_check(self, ctx: dict) -> None:
        self.expected = ctx["engine"].sql(self.reference_sql).collect()[0]

    def op(self, ctx: dict, tracer, op_id: int):
        with tracer.span("spark.sql", op_id):
            df = ctx["engine"].sql(self.op_sql)
        with tracer.span("spark.collect", op_id):
            rows = df.collect()
        ctx["last_df"] = df
        return rows

    def check(self, rows) -> bool:
        """Every aggregate matches the native query: counts and integer
        sums exactly, double sums within ``REL_TOL`` (native and UDF
        ``pow`` can differ in the last digit)."""
        if len(rows) != 1 or len(rows[0]) != len(self.expected):
            return False
        for g, e in zip(rows[0], self.expected):
            if isinstance(e, float) or isinstance(g, float):
                if g is None or e is None or not _rel_close(g, e):
                    return False
            elif g != e:
                return False
        return True

    # -- traced-run measurements -------------------------------------------

    def layer_metrics(self, ctx: dict, tracer, counters) -> dict[str, float]:
        from probes import python_udf_node_metrics
        from pyspark.sql.pandas.types import to_arrow_type
        from wasaffi_spark import udf_runtime

        engine = ctx["engine"]
        out: dict[str, float] = {}
        specs = {name: engine.registry.get(name) for name, _ in self.replay}
        paths = sorted({s.module_path for s in specs.values()})

        def cold_load():
            udf_runtime.clear_executor_cache()
            for p in paths:
                udf_runtime.load_module(p)

        with tracer.span("udf_runtime.load_module"):
            out["udf_runtime.module_load_ms"] = _timed(cold_load, 5)

        batch = self.sample
        invokes, guests = [], []
        for name, makers in self.replay:
            spec = specs[name]
            args = [make(batch) for make in makers]
            invoke = udf_runtime.build_pandas_udf(
                spec.module_path, spec.method, spec.stmt.arg_types,
                spec.stmt.return_type,
            ).func
            guest = udf_runtime.get_function(spec.module_path, spec.method)
            coerced = [
                pa.Array.from_pandas(s).cast(to_arrow_type(t))
                for s, t in zip(args, spec.stmt.arg_types)
            ]
            with tracer.span(f"udf_runtime.invoke.{name}"):
                invokes.append(_timed(lambda: invoke(*args), 7))
            with tracer.span(f"udf_runtime.guest.{name}"):
                guests.append(_timed(lambda: guest(coerced), 7))
        out["udf_runtime.invoke_ms_per_batch"] = sum(invokes)
        out["udf_runtime.guest_ms_per_batch"] = sum(guests)
        out["udf_runtime.wrap_ms_per_batch"] = sum(invokes) - sum(guests)

        for label, call in self.calls:
            sent, total = [], []
            for _ in range(5):
                with tracer.span(f"udf_runtime.call.{label}"):
                    df = engine.sql(f"select sum(x), count(x) from (select {call} x from t)")
                    df.collect()
                m = python_udf_node_metrics(df)
                sent.append(m.get("pythonDataSent", 0) / 1e6)
                total.append(m.get("pythonTotalTime", 0) / 1000.0)
            out[f"udf_runtime.{label}.data_sent_mb"] = _median(sent)
            out[f"udf_runtime.{label}.python_total_s"] = _median(total)
        return out

    def columns(self, rng, n):
        a = pa.array(rng.uniform(0.5, 2.0, n))
        null_lists = rng.random(n) < 0.01
        offsets = np.zeros(n + 1, np.int32)
        np.cumsum(np.where(null_lists, 0, self.dim), out=offsets[1:])
        values = pa.array(rng.standard_normal(int(offsets[-1])).astype(np.float32))
        return {
            "a": _with_nulls(a, rng.random(n) < 0.01),
            "b": pa.array(rng.uniform(0.0, 3.0, n)),
            "k": pa.array(rng.integers(0, 1000, n)),
            "s": _with_nulls(_strings(rng, n), rng.random(n) < 0.05),
            "v": pa.ListArray.from_arrays(
                pa.array(offsets), values, mask=pa.array(null_lists)
            ),
        }


# ``index_maintenance``: hits of the maintained index's top-3 among the
# exact top-3 (out of 96) for seeds 0-63, as measured with the settings
# below; perfbench/NOTES.md has how.
RECORDED_HITS = (
    89, 86, 79, 73, 87, 74, 81, 89, 80, 88, 90, 85, 88, 74, 87, 88,
    86, 74, 87, 91, 81, 85, 84, 80, 82, 90, 94, 83, 80, 89, 87, 87,
    84, 80, 88, 83, 82, 83, 79, 85, 84, 72, 82, 88, 85, 93, 84, 84,
    89, 78, 90, 89, 77, 87, 83, 84, 88, 79, 89, 79, 79, 81, 77, 87,
)


class IndexMaintenance:
    """``graph_maintained_search`` (insert batch, delete set, beam search)
    over a seeded clustered corpus; the base graph is built by
    ``knn_descent`` in set-up."""

    name = "index_maintenance"
    warmup_ops = 5
    base, batch, n_queries, dim, clusters = 448, 64, 32, 16, 16
    n_delete_base, n_delete_batch = 32, 16
    # The catalog's graph settings (catalog.py GS_* / DESCENT_*), except
    # two descent rounds instead of four, which keeps a run inside the
    # benchmark's time budget; the beam search keeps its four rounds,
    # which recall needs (0.20 with two on seed 1, 0.90 with four).
    k, k_graph, descent_rounds = 3, 8, 2
    # Hits of the maintained index's top-3 in the exact top-3 over the
    # alive corpus (out of k * n_queries = 96), recorded for seeds 0-63;
    # the index is deterministic at a seed. An op must score at least
    # the recorded hits less ``recall_slack_hits``; a seed without a
    # record must reach ``recall_floor``, below every recorded value.
    recall_slack_hits = 1
    recall_floor = 0.70

    def __init__(self, work_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(work_dir, "input")
        self.seed = seed
        self.expected_rows = None
        self.last_recall = None

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.base + self.batch + self.n_queries
        centers = rng.normal(size=(self.clusters, self.dim))
        labels = rng.integers(0, self.clusters, n)
        x = (centers[labels] + 0.35 * rng.normal(size=(n, self.dim))).astype(np.float32)
        ids = np.arange(n, dtype=np.int64)
        ids[self.base + self.batch:] += 1_000_000  # queries are not corpus ids
        deleted = np.concatenate([
            rng.choice(self.base, self.n_delete_base, replace=False),
            self.base + rng.choice(self.batch, self.n_delete_batch, replace=False),
        ])
        os.makedirs(self.data_dir, exist_ok=True)
        parts = {
            "base": slice(0, self.base),
            "batch": slice(self.base, self.base + self.batch),
            "queries": slice(self.base + self.batch, n),
        }
        for name, sl in parts.items():
            vecs = pa.FixedSizeListArray.from_arrays(pa.array(x[sl].ravel()), self.dim)
            pq.write_table(
                pa.table({"vec_id": ids[sl], "embedding": vecs.cast(pa.list_(pa.float32()))}),
                os.path.join(self.data_dir, f"{name}.parquet"),
            )
        pq.write_table(
            pa.table({"vec_id": ids[deleted]}),
            os.path.join(self.data_dir, "delete.parquet"),
        )
        alive = np.ones(self.base + self.batch, bool)
        alive[deleted] = False
        corpus = x[: self.base + self.batch].astype(np.float64)
        corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
        q = x[self.base + self.batch:].astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        sims = q @ corpus[alive].T
        top = np.argsort(-sims, axis=1)[:, : self.k]
        alive_ids = ids[: self.base + self.batch][alive]
        self.truth = {
            int(qid): set(alive_ids[row].tolist())
            for qid, row in zip(ids[self.base + self.batch:], top)
        }
        self.n_alive = int(alive.sum())

    @property
    def units_per_op(self) -> int:
        return self.n_alive

    def setup(self, spark, counters, tracer, times: dict) -> dict:
        from wasaffi_spark.operators import similarity

        with tracer.span("engine.register"):
            ctx = {
                name: spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet"))
                for name in ("base", "batch", "queries", "delete")
            }
        j0 = counters.last_job_id()
        t = time.perf_counter()
        with tracer.span("similarity.knn_descent"):
            ctx["graph"] = similarity.knn_descent(
                ctx["base"], k=self.k_graph, rounds=self.descent_rounds, ring=4
            ).localCheckpoint(eager=True)
        times.setdefault("knn_descent_s", []).append(time.perf_counter() - t)
        times.setdefault("knn_descent_jobs", []).append(counters.work_since(j0)["jobs"])
        return ctx

    def prepare_check(self, ctx: dict) -> None:
        pass

    def op(self, ctx: dict, tracer, op_id: int):
        from wasaffi_spark.operators import similarity

        with tracer.span("similarity.graph_maintained_search", op_id):
            df = similarity.graph_maintained_search(
                ctx["queries"], ctx["graph"], ctx["base"], ctx["batch"],
                ctx["delete"], k=self.k, k_graph=self.k_graph,
            )
            rows = df.collect()
        ctx["last_df"] = df
        return rows

    def recall(self, rows) -> float:
        hits = sum(1 for r in rows if r["nid"] in self.truth.get(r["qid"], ()))
        return hits / (len(self.truth) * self.k)

    @property
    def min_recall(self) -> float:
        if self.seed in range(len(RECORDED_HITS)):
            hits = RECORDED_HITS[self.seed] - self.recall_slack_hits
            return hits / (self.n_queries * self.k)
        return self.recall_floor

    def check(self, rows) -> bool:
        """Rows are identical on every op, and recall@k against exact
        search over the alive corpus stays at the value recorded for
        the seed."""
        got = sorted(tuple(r) for r in rows)
        if self.expected_rows is None:
            self.expected_rows = got
        self.last_recall = self.recall(rows)
        return got == self.expected_rows and self.last_recall >= self.min_recall - 1e-12

    def layer_metrics(self, ctx: dict, tracer, counters) -> dict[str, float]:
        """Each public leg of the op, timed and job-counted separately on
        the same inputs; each leg's output is materialized once, as the
        composed op does."""
        from pyspark.sql import functions as F

        from wasaffi_spark.operators import similarity

        base, batch, graph = ctx["base"], ctx["batch"], ctx["graph"]
        corpus = base.unionByName(batch)
        dele = ctx["delete"]
        out: dict[str, float] = {}

        def leg(name, fn):
            j0 = counters.last_job_id()
            t = time.perf_counter()
            with tracer.span(f"similarity.{name}"):
                res = fn().localCheckpoint(eager=True)
            out[f"similarity.{name}_s"] = time.perf_counter() - t
            out[f"similarity.{name}_jobs"] = counters.work_since(j0)["jobs"]
            return res

        ins = leg("graph_insert", lambda: similarity.graph_insert(
            batch, graph, base, k=self.k_graph))
        g1 = similarity.graph_apply_delta(graph, ins)
        rep = leg("graph_delete", lambda: similarity.graph_delete(
            dele, g1, corpus, k=self.k_graph))
        d = dele.select(F.col("vec_id").alias("_did"))
        g2 = similarity.graph_apply_delta(g1, rep).join(
            d, F.col("src") == F.col("_did"), "left_anti")
        alive = corpus.join(d, F.col("vec_id") == F.col("_did"), "left_anti")
        leg("graph_search_topk", lambda: similarity.graph_search_topk(
            ctx["queries"], g2, alive, k=self.k))
        return out


WORKLOADS = {w.name: w for w in (UdfTyped, IndexMaintenance)}
