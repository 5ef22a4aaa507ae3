"""Similarity search over embedding columns (``array<float>``).

Beyond-reference extensions (SURVEY §7.6):

- **brute-force cosine top-k** — the correctness baseline: query set ×
  corpus join, cosine via higher-order array functions (``zip_with`` +
  ``aggregate`` fold — sequential, deterministic, JVM-side), ranked with
  a window. O(Q·N·d): fine for small Q, the oracle for everything else.
- **bucketed ANN (sign-LSH / coarse IVF)** — the scale path: a coarse
  cell id from the sign pattern of the first ``SIGN_BITS`` dimensions;
  probing joins only within the cell, so the candidate set — and the
  shuffle — shrinks by ~2^bits. Deterministic (no trained centroids), so
  it stays oracle-checkable; swap the cell function for k-means
  centroids at production scale without touching the probe join.
- **embedding near-dup pairs** — cosine ≥ threshold within cells.

Everything is built-in column expressions; the dot product folds in
index order, so Spark and DuckDB produce bit-identical doubles before
the defensive rounding.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .overlap import overlap

SIGN_BITS = 8  # coarse cell = sign pattern of the first 8 dims


def auto_sign_bits(n_rows: int, target_cell_size: int = 256) -> int:
    """Data-proportional cell width (VERDICT r3 #4): pick ``bits`` so the
    EXPECTED cell occupancy n/2^bits ≈ ``target_cell_size``, instead of
    the constant 256 cells that made within-cell candidate sets grow
    O(N) with the corpus. Callers pass their (approximate) corpus size —
    a cached count, catalog statistics, or the previous snapshot's size;
    the bucketing only needs the right order of magnitude.

    With bits chosen this way the per-query probe cost and the
    ``neardup_pairs`` per-cell pair join stay O(target²) as the corpus
    grows; the alternative scale path with *trained* data-proportional
    cells is :func:`ivf_topk` / :func:`ivf_topk_hashed` (``n_cells``
    knob). Clamped to [1, 30]; callers with vectors shorter than the
    returned bits should cap at their dimension.

    Integer-exact (r5): the smallest ``b ≥ 1`` with
    ``target_cell_size · 2^b ≥ n_rows`` — identical to
    ``max(1, min(30, ceil(log2(n/target))))`` but with no float
    ``log2`` boundary risk, so a DuckDB oracle replays it with the
    same shift-compare (``min(b) where target * (1 << b) >= n``).
    """
    if n_rows <= 0 or target_cell_size <= 0:
        raise ValueError("auto_sign_bits: n_rows and target_cell_size must be > 0")
    bits = 1
    while bits < 30 and target_cell_size * (1 << bits) < n_rows:
        bits += 1
    return bits


def _resolve_bits(
    corpus: DataFrame, bits: int | None, target_cell_size: int
) -> tuple[DataFrame, int]:
    """``bits=None`` → :func:`auto_sign_bits` from one O(N) corpus
    count (a single scalar to the driver — the legitimate-collect
    class). Deterministic in the data, so oracles mirror it.

    Returns ``(corpus, bits)``: on the auto path the corpus is
    localCheckpoint-ed BEFORE the count so the count and the main job
    share one execution of the upstream plan — for derived inputs
    (e.g. a hashed-embedding build) the raw plan would otherwise run
    twice, once for the knob and once for the query (review finding
    r6). With explicit ``bits`` the frame passes through untouched.

    r14 (guide §1.2 step 1 — the graph.py 5a probe-fold): the
    checkpoint is LAZY and the count is the action that materializes
    it — one scheduler job instead of an eager-checkpoint job PLUS a
    count job. Legal because the count references the frame exactly
    once (the subtree executes once, inside the count's job), and
    every later consumer reads the already-materialized checkpoint."""
    if bits is not None:
        return corpus, bits
    corpus = corpus.localCheckpoint(eager=False)
    return corpus, auto_sign_bits(corpus.count(), target_cell_size)


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _cosine_prenorm(va: Column, vb: Column, na: Column, nb: Column) -> Column:
    """``round(try_divide(dot, na·nb), 6)`` — cosine over PRECOMPUTED
    norms, shared by every pair/probe stage that projects the norm
    below its join (one dot fold per pair instead of cosine()'s
    three). FP-identical to ``round(cosine(va, vb), 6)``: the norm is
    the same per-vector expression, and try_divide(dot, na*nb)
    preserves _dot/(_norm*_norm)'s evaluation order — one definition
    so the rounding digits and operand order can never drift between
    call sites."""
    return F.round(F.try_divide(_dot(va, vb), na * nb), 6)


def cosine(a: Column, b: Column) -> Column:
    """``try_divide`` so an all-zero vector yields NULL instead of an
    ANSI DIVIDE_BY_ZERO job failure (found by property test: a single
    zero vector anywhere in a pair join would otherwise kill the whole
    query). NULL similarities rank last under every ``desc`` ordering
    in this module, so zero vectors simply never reach a top-k."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def with_cell(df: DataFrame, vec_col: str = "embedding", bits: int = SIGN_BITS) -> DataFrame:
    """Adds ``cell`` — the sign-pattern bucket of the first ``bits`` dims.

    The SIMPLE axis-aligned variant (kept for callers that want
    inspectable buckets); the pair/probe operators use
    :func:`with_cell_rh` instead — raw coordinate signs inherit
    whatever bias the embedding dimensions carry (a dimension that is
    positive for 90% of the corpus contributes ~0.5 bits of entropy,
    and correlated dimensions compound: measured max-cell occupancy
    66× the expected value on the r5 10×-scale probe data)."""
    cell: Column = F.lit(0)
    for i in range(bits):
        # try_element_at: a vector shorter than `bits` dims yields NULL
        # (→ bit 0) instead of an ANSI index error, matching the SQL
        # oracle's out-of-range semantics.
        cell = cell + F.when(
            F.try_element_at(F.col(vec_col), F.lit(i + 1)) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return df.withColumn("cell", cell.cast("int"))


RH_SEED = "cell-rh-v1"
RH_QUANT = 1_000_000  # micro-unit grid: integer projections, engine-exact
RH_MAX_DIM = 64  # hyperplane width; dims past this are ignored (documented)
# expected rows per block in _keepfirst_within_cluster's blocked pair
# join (bounds per-task work at ~B² dot-folds regardless of cluster
# skew); module-level so tests can shrink it to force multi-block paths
KEEPFIRST_BLOCK = 128


def _rh_sign(i: int, j: int, seed: str = RH_SEED) -> int:
    """Deterministic Rademacher ±1 for hyperplane ``i``, dimension
    ``j`` (1-based): parity of the first hex digit of
    ``md5(seed|i|j)`` — the same digit DuckDB extracts with
    ``substr(md5(...), 1, 1)``, so the oracle regenerates the exact
    sign matrix instead of shipping it as literals."""
    import hashlib

    h = hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def with_cell_rh(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    seed: str = RH_SEED,
    max_dim: int = RH_MAX_DIM,
) -> DataFrame:
    """Adds ``cell`` — the Charikar random-hyperplane LSH bucket:
    bit ``i`` is the sign of the vector's projection onto a fixed
    Rademacher hyperplane, ``Σ_j sgn(i,j)·floor(v_j·10⁶ + 0.5) > 0``.

    Why not raw coordinate signs (:func:`with_cell`): hyperplane bits
    mix EVERY dimension, so biased/correlated coordinates can't
    collapse the corpus into a few mega-cells — on the 10×-scale probe
    data the max-cell occupancy drops from 66× expected (coordinate
    signs) to near-uniform, which is what keeps the within-cell pair
    joins bounded. This is also the textbook cosine-LSH guarantee:
    P[bit collision] = 1 − θ/π per hyperplane.

    Engine-exact by construction: projections are integer sums over
    the micro-unit grid (the ``_pq_grid_dist`` idiom) with md5-derived
    signs, so Spark and the DuckDB oracle agree on every bit — a float
    projection's sign near zero would be FP-fragile across engines.
    Dimensions beyond ``max_dim`` are ignored on BOTH engines (the
    hyperplane matrix is finite); raise it for wider embeddings.

    Execution: an Arrow-batched ``pandas_udf`` int64 matmul
    (``Q @ Sᵀ`` then sign-bit packing) — dense linear algebra is the
    one shape where the vectorized-Python island beats JVM expressions
    outright: the interpreted ``zip_with``/``aggregate`` fold twin
    (:func:`_rh_cell_expr`, kept for reference/fallback) measures
    ~250 µs/row at bits=6 — linear and parallel, but ~100× the numpy
    matmul, which at 10⁹ rows is thousands of CPU-hours left on the
    table. Integer math end-to-end, so the two paths — and the DuckDB
    oracle — are bit-identical (property-pinned).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    S = np.array(
        [
            [_rh_sign(i, j, seed) for j in range(1, max_dim + 1)]
            for i in range(bits)
        ],
        dtype=np.int64,
    ).T  # max_dim × bits
    weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
    quant = RH_QUANT  # bound into the closure BY VALUE: a module-global
    # reference would make cloudpickle import this package on executors,
    # breaking the ship-by-value posture every other UDF keeps

    def _cell(v):  # legacy-signature scalar pandas_udf (no type hints:
        # pd is a local import, so string annotations would not resolve)
        n = len(v)
        M = np.zeros((n, max_dim), dtype=np.int64)
        for r, arr in enumerate(v):
            if arr is None or len(arr) == 0:
                continue
            a = np.asarray(arr[:max_dim], dtype=np.float64)
            # NULL/NaN elements contribute 0 (SQL sum-skips-NULL parity)
            q = np.floor(np.where(np.isnan(a), 0.0, a) * quant + 0.5)
            M[r, : len(a)] = q.astype(np.int64)
        P = M @ S  # n × bits, exact int64
        return pd.Series(((P > 0) @ weights).astype(np.int32))

    return df.withColumn(
        "cell", pandas_udf(_cell, returnType="int")(F.col(vec_col))
    )


def _rh_cell_expr(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = SIGN_BITS,
    seed: str = RH_SEED,
    max_dim: int = RH_MAX_DIM,
) -> DataFrame:
    """Pure-JVM expression twin of :func:`with_cell_rh` (zip_with +
    aggregate folds) — bit-identical output, kept as the fallback for
    Python-free pipelines and as the cross-implementation property
    anchor. See with_cell_rh's docstring for the measured trade-off.
    """
    # quantize ONCE into a fixed-width (max_dim) bigint array: absent
    # dims become 0, extra dims are dropped. Fixed width lets every
    # hyperplane zip against its full-length sign LITERAL with no
    # per-row slice/greatest allocations (measured 2× on the whole
    # cell pass). Engine parity: the oracle's SQL `sum()` skips the
    # NULL terms of out-of-range q[j], which is exactly contributing 0.
    q = F.transform(
        F.sequence(F.lit(1), F.lit(max_dim)),
        lambda i: F.coalesce(
            F.floor(
                F.try_element_at(F.col(vec_col), i).cast("double") * RH_QUANT
                + F.lit(0.5)
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        ),
    )
    cell: Column = F.lit(0)
    for i in range(bits):
        # one ArrayType LITERAL per hyperplane (constant-folded), not a
        # per-row CreateArray of max_dim children
        signs = F.lit([_rh_sign(i, j, seed) for j in range(1, max_dim + 1)])
        p = F.aggregate(
            F.zip_with(
                F.col("_q"), signs, lambda x, s: x * s.cast("bigint")
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        cell = cell + F.when(p > 0, F.lit(2**i)).otherwise(F.lit(0))
    return (
        df.withColumn("_q", q)
        .withColumn("cell", cell.cast("int"))
        .drop("_q")
    )


def normalize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit_vec"
) -> DataFrame:
    """L2-normalize vectors once so downstream similarity is a plain dot
    product — the standard precompute that removes per-pair norm work
    from every subsequent ANN/near-dup pass. Zero vectors yield NULL.
    """
    v = F.col(vec_col)
    nrm = _norm(v)
    unit = F.when(
        nrm > 0, F.transform(v, lambda x: F.round(x.cast("double") / nrm, 6))
    )
    return df.withColumn(out_col, unit)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: every query against the whole corpus.

    The query side is expected to be small → broadcast it so the corpus
    never shuffles. Ties broken by neighbour id for determinism.
    """
    # norms projected below the join: one fold per row/query instead of
    # three per pair (FP-identical to cosine() — see semantic_dedup)
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).withColumn("_nq", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    ).withColumn("_nn", _norm(F.col("nv")))
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            _cosine_prenorm(
                F.col("qv"), F.col("nv"), F.col("_nq"), F.col("_nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos_sim", "rank")
    )


def filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    filter_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Attribute-filtered exact top-k (r6): each query sees only corpus
    vectors whose ``filter_col`` equals its own — the PRE-FILTER form
    of filtered vector search (the "filtered ANN" every production
    vector store exposes: same-language retrieval, same-tenant
    isolation, per-split negatives). Pre-filter beats post-filter
    whenever the predicate is selective: post-filtering a top-k list
    computed over the whole corpus returns FEWER than k rows (or
    recall-0 for rare attributes), while pre-filtering ranks inside
    the attribute slice and stays exact.

    Scale shape: the attribute equality joins the broadcast query side
    before any distance math, so per-query candidates shrink from N to
    N·sel(attr); with the corpus stored partitioned/z-ordered by the
    attribute (operators/layout.py) the filter prunes file scans too.
    At corpus scale compose with the IVF cell join per attribute slice
    exactly as :func:`ivf_topk_hashed` — the cell id simply gains the
    attribute as a prefix (wired form: :func:`filtered_ivf_topk`).
    Ties break by neighbour id.

    NULL attributes: a query whose ``filter_col`` is NULL returns ZERO
    rows (NULL never equals anything in the equality join), and
    NULL-attributed corpus rows are likewise unreachable — "no slice"
    means "no candidates", not "all candidates". Map NULL to a
    sentinel value before calling if un-attributed rows should form
    their own searchable slice."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(filter_col).alias("_fq"),
        F.col(vec_col).alias("qv"),
    ).withColumn("_nq", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(filter_col).alias("_fc"),
        F.col(vec_col).alias("nv"),
    ).withColumn("_nn", _norm(F.col("nv")))
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("qid") != F.col("nid"))
            & (F.col("_fq") == F.col("_fc")),
        )
        .select(
            "qid",
            "nid",
            _cosine_prenorm(
                F.col("qv"), F.col("nv"), F.col("_nq"), F.col("_nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos_sim", "rank")
    )


def bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int | None = None,
    max_bucket_size: int | None = None,
    target_cell_size: int = 32,
) -> DataFrame:
    """Approximate top-k probing only the query's coarse cell.

    Recall < 1 by design (cell boundaries); at 100 TB this is the join
    that keeps ANN tractable: candidates ∝ N/2^bits per query, and the
    corpus can be written bucketed-by-cell so the probe is shuffle-free.
    ``bits=None`` (default) derives the cell width from the corpus size
    (:func:`auto_sign_bits`) so per-query candidates stay
    ≈ ``target_cell_size`` at any scale instead of growing O(N).

    ``max_bucket_size`` drops corpus cells above the cap before the
    probe join (the hot-bucket valve shared with the dedup family —
    a mega-cell of near-identical/zero vectors otherwise makes every
    query probing it scan the whole cell); capped cells lose recall,
    nothing else changes. ``None`` = exact cell semantics (oracled).
    """
    from .dedup import _cap_buckets

    corpus, bits = _resolve_bits(corpus, bits, target_cell_size)
    q = (
        with_cell_rh(queries, vec_col, bits)
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"), "cell")
        .withColumn("_nq", _norm(F.col("qv")))
    )
    c = (
        with_cell_rh(corpus, vec_col, bits)
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell")
        .withColumn("_nn", _norm(F.col("nv")))
    )
    c = _cap_buckets(c, max_bucket_size, cols=("cell",))
    scored = (
        F.broadcast(q)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            _cosine_prenorm(
                F.col("qv"), F.col("nv"), F.col("_nq"), F.col("_nn")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos_sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN with *trained* coarse centroids (MLlib KMeans).

    The production upgrade of :func:`bucketed_topk` (SCALE.md): cells are
    k-means centroids fit on (a sample of) the corpus, so they adapt to
    the data distribution instead of assuming uncorrelated dimension
    signs. Each query probes its ``n_probe`` nearest cells; the
    candidate join is on cell id — shuffle ∝ N·n_probe/n_cells.

    MLlib's float k-means is not SQL-expressible, so this operator is
    test-verified (recall vs brute force) rather than oracle-checked;
    :func:`ivf_topk_lloyd` is the hash-oracled trained twin (Lloyd on
    the integer grid). At 100 TB the fit runs on a sample (KMeans is
    itself distributed) and the corpus is written bucketed by cell.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    corpus_v = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("_v")
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="_v", predictionCol="cell")
    model = km.fit(corpus_v)
    c = model.transform(corpus_v).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )

    # centroid frame (tiny) → per-query n_probe nearest cells
    centers = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]
    spark = queries.sparkSession
    cdf = spark.createDataFrame(centers, f"cell int, centroid array<double>")
    # only the centroid frame (n_cells rows) is guaranteed tiny — the
    # query side may be the whole corpus (all-pairs neardup), so it must
    # NOT be broadcast; AQE picks the probe-join strategy.
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    qc = q.crossJoin(F.broadcast(cdf)).select(
        "qid", "qv", "cell", cosine(F.col("qv"), F.col("centroid")).alias("csim")
    )
    w_cell = Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cell"))
    probes = (
        qc.withColumn("r", F.row_number().over(w_cell))
        .where(F.col("r") <= n_probe)
        .select("qid", "qv", "cell")
    )

    scored = (
        probes.join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos_sim", "rank")
    )


def neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int | None = None,
    max_bucket_size: int | None = None,
    target_cell_size: int = 32,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold), blocked by
    coarse cell so the pair join is per-bucket, not corpus².
    ``bits=None`` (default) scales the cell count with the corpus
    (:func:`auto_sign_bits`) so per-cell occupancy — and the cell²
    pair term — stays ≈ ``target_cell_size`` as N grows.

    ``max_bucket_size`` caps the per-cell self-join at cap² pairs by
    dropping over-full cells first (shared ``_cap_buckets`` valve;
    ``None`` = exact, oracled semantics) — the guard the docstring
    always promised for degenerate mega-cells (e.g. all-zero
    embeddings from empty documents all landing in cell 0).
    """
    from .dedup import _cap_buckets

    corpus, bits = _resolve_bits(corpus, bits, target_cell_size)
    c = with_cell_rh(corpus, vec_col, bits).withColumn(
        "_n", _norm(F.col(vec_col))
    )
    c = _cap_buckets(c, max_bucket_size, cols=("cell",))
    a = c.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cell",
        F.col("_n").alias("_na"),
    )
    b = c.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cell",
        F.col("_n").alias("_nb"),
    )
    return (
        a.join(b, ["cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cosine_prenorm(
                F.col("va"), F.col("vb"), F.col("_na"), F.col("_nb")
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    k_seeds: int | None = None,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "semdedup-v1",
    target_cluster_size: int = 128,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (cluster, then drop
    within-cluster near-duplicates; Abbas et al. 2023): returns one row
    per input vector as ``(id_col, cluster, keep)``.

    1. **Codebook**: the ``k_seeds`` vectors with the smallest
       ``md5(seed || id)`` act as coarse centroids — a deterministic,
       layout-independent hash sample (global top-k =
       TakeOrderedAndProject, no full shuffle). A production run swaps
       in trained k-means centroids (:func:`ivf_topk`'s quantizer)
       without touching the remaining stages; the hash-sampled codebook
       keeps the operator oracle-checkable.
    2. **Assignment**: broadcast the codebook, score every vector
       against all k seeds, keep the argmax-cosine seed (ties → lower
       seed id) via ``max_by`` — an aggregate with map-side partial
       merge, so the shuffle carries one row per vector, not k.
    3. **Keep-first near-dup rule**: self-join within the cluster only;
       a vector is dropped when any LOWER-id vector in the same cluster
       has cosine ≥ ``threshold``. Same rule as :func:`neardup_pairs`
       but blocked by codebook cells instead of sign-LSH, so cluster
       granularity (and the quadratic term) is tuned by ``k_seeds``,
       independent of the embedding's sign pattern.

    Scale: stages shuffle on ``id`` (size N) and ``cluster`` (size N);
    the pair join is Σ|cluster|² — SemDeDup's own knob is ``k_seeds``,
    and by default (``k_seeds=None``) it FOLLOWS THE DATA:
    ``k = max(16, ceil(n / target_cluster_size))`` from one O(N)
    count (a single scalar to the driver — the legitimate-collect
    class), so the expected cluster size (and the quadratic term per
    cluster) stays bounded at any corpus size. The formula is a
    deterministic function of the row count, so a DuckDB oracle
    mirrors it with the same ``greatest(16, ceil(count(*)/target))``
    subquery. Measured: the fixed-k variant probes 15.5× at 10× data,
    the k∝N variant 0.95× (BENCH_SCALE.json r4). Zero vectors (cosine
    NaN) are assumed absent upstream (:func:`normalize_embeddings`
    drops them to NULL).
    """
    if k_seeds is None:
        import math

        # materialize before the knob count so the count and the main
        # job share one execution of the upstream plan (for derived
        # inputs like a hashed-embedding build the raw plan would
        # otherwise run twice — review finding r6); projected to the
        # two columns every downstream stage reads. r14 (the 5a
        # probe-fold): the checkpoint is LAZY and the knob count
        # materializes it — one job instead of two (the count
        # references the frame once; later consumers read the
        # materialized checkpoint).
        corpus = corpus.select(id_col, vec_col).localCheckpoint(eager=False)
        k_seeds = max(16, math.ceil(corpus.count() / target_cluster_size))
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    seeds = (
        corpus.select(
            F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"), h.alias("_h")
        )
        .orderBy(F.col("_h").asc(), F.col("sid").asc())
        .limit(k_seeds)
        .drop("_h")
    )
    # Norms precomputed on BOTH sides of the assignment crossJoin (r5):
    # with the k∝N auto knob the N·k scoring stage is the dominant
    # cost, and inline cosine() evaluates three folds per (vector,
    # seed) pair. Projecting the norm below the join evaluates it once
    # per row/seed — the pair expression is a single dot fold.
    # FP-identical to cosine(): same per-vector norm expression, and
    # try_divide(dot, nv*ns) is cosine()'s own evaluation order.
    seeds = seeds.withColumn("_ns", _norm(F.col("sv")))
    scored = (
        corpus.select(id_col, vec_col)
        .withColumn("_nv", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(seeds))
        .select(
            id_col,
            vec_col,
            "sid",
            _cosine_prenorm(
                F.col(vec_col), F.col("sv"), F.col("_nv"), F.col("_ns")
            ).alias("cs"),
        )
    )
    assign = scored.groupBy(id_col).agg(
        F.max_by(
            "sid", F.struct(F.col("cs").alias("cs"), (-F.col("sid")).alias("ns"))
        ).alias("cluster"),
        F.any_value(vec_col).alias(vec_col),  # constant within the group
    )
    return _keepfirst_within_cluster(assign, threshold, vec_col, id_col)


def _keepfirst_within_cluster(
    assign: DataFrame, threshold: float, vec_col: str, id_col: str
) -> DataFrame:
    """SemDeDup's drop stage, shared by the exact and cell-pruned
    variants: given ``(id, cluster, vec)``, drop every vector whose
    cluster holds a LOWER-id vector with cosine ≥ threshold.

    Precomputes each vector's norm ONCE (O(N) folds) so the quadratic
    pair stage evaluates a single dot-product fold per pair instead of
    cosine()'s three (dot + both norms) — FP-identical to cosine():
    the norm is the same per-vector expression, and dot/(na·nb)
    preserves the evaluation order of _dot/(_norm·_norm).
    Checkpointed: three downstream branches (a, b, final) would
    otherwise each recompute the upstream assignment.

    Blocked pair join (r6): joining the two sides on ``cluster`` alone
    put every pair of a cluster into ONE task — with few, skewed
    clusters the heaviest task carries Σ of the biggest |c|² terms
    (measured: the x3 scale probe ran 1.5× SLOWER than x10 because 118
    clusters hashed onto 32 shuffle partitions worse than 391 did).
    Each cluster is now hash-split into ``ceil(|c|/B)`` blocks of
    expected size B=128 and the join keys on (cluster, block_p,
    block_q) with p ≤ q — the L side replicates each row for every
    q ≥ its own block, the R side for every p ≤ its own block, so
    every unordered pair meets in exactly one bucket, per-task work is
    bounded by ~B² dot-folds regardless of cluster size, and the
    replication overhead is |c|/B ≈ |c|/128 per row. Output pairs are
    IDENTICAL (the drop rule drops the greater id of each qualifying
    pair, as before), so the DuckDB oracles replay unchanged."""
    B = KEEPFIRST_BLOCK
    assign = assign.withColumn("_n", _norm(F.col(vec_col))).localCheckpoint(
        eager=True
    )
    sizes = assign.groupBy("cluster").agg(F.count("*").alias("_cnt"))
    blk = (
        assign.join(sizes, "cluster")
        .withColumn(
            "_nb", F.ceil(F.col("_cnt") / F.lit(B)).cast("int")
        )
        .withColumn(
            "_bk",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nb")).cast("int"),
        )
    )
    a = blk.select(
        F.col(id_col).alias("_ida"), "cluster", F.col(vec_col).alias("_va"),
        F.col("_n").alias("_na"),
        F.col("_bk").alias("_p"),
        F.explode(F.sequence(F.col("_bk"), F.col("_nb") - 1)).alias("_q"),
    )
    b = blk.select(
        F.col(id_col).alias("_idb"), "cluster", F.col(vec_col).alias("_vb"),
        F.col("_n").alias("_nb2"),
        F.explode(F.sequence(F.lit(0), F.col("_bk"))).alias("_p"),
        F.col("_bk").alias("_q"),
    )
    dups = (
        a.join(b, ["cluster", "_p", "_q"])
        # cross-block (p<q) pairs meet in exactly one orientation (keep
        # either order); same-block pairs meet in both — keep only the
        # ordered one so the dot-fold runs once per unordered pair
        .where(
            (F.col("_p") != F.col("_q"))
            | (F.col("_ida") < F.col("_idb"))
        )
        .where(
            F.round(
                _dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb2")),
                6,
            )
            >= threshold
        )
        .select(F.greatest(F.col("_ida"), F.col("_idb")).alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assign.select(id_col, "cluster")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup_pruned(
    corpus: DataFrame,
    k_seeds: int | None = None,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "semdedup-v1",
    target_cluster_size: int = 128,
    seeds_per_cell: int = 8,
) -> DataFrame:
    """SemDeDup with HIERARCHICAL (cell-pruned) codebook assignment —
    the 100 TB form of :func:`semantic_dedup`'s N·k scoring stage:
    with the k∝N auto knob, exact assignment is N·k ∝ N²/target
    cosines; here each vector scores only the seeds sharing its
    random-hyperplane cell (``bits = auto_sign_bits(k_seeds,
    seeds_per_cell)``, so expected candidates ≈ ``seeds_per_cell``),
    and the exact argmax is kept as a FALLBACK for vectors whose cell
    holds no seed (the Poisson-tail orphans — e^-8 ≈ 0.03% expected).
    Assignment cost drops to ≈ N·seeds_per_cell + orphans·k — linear
    with a vanishing correction.

    This is the standard IVF coarse-within-coarse trick applied to
    SemDeDup's codebook, deterministic end to end (hash-sampled seeds,
    md5-Rademacher cells, rounded-cosine argmax with the same
    tie-break), so the DuckDB oracle replays every stage — including
    which vectors took the fallback path. The trade vs the exact
    variant: a vector near a cell boundary may assign to a more LOCAL
    seed than the global argmax — the clusters are slightly different,
    not worse (SemDeDup's clusters are themselves a knob, not a truth).
    The keep-first drop stage is byte-shared (:func:`_keepfirst_within_cluster`).
    """
    if k_seeds is None:
        import math

        # materialize before the knob count so the count and the main
        # job share one execution of the upstream plan (for derived
        # inputs like a hashed-embedding build the raw plan would
        # otherwise run twice — review finding r6); projected to the
        # two columns every downstream stage reads. r14 (the 5a
        # probe-fold): the checkpoint is LAZY and the knob count
        # materializes it — one job instead of two (the count
        # references the frame once; later consumers read the
        # materialized checkpoint).
        corpus = corpus.select(id_col, vec_col).localCheckpoint(eager=False)
        k_seeds = max(16, math.ceil(corpus.count() / target_cluster_size))
    bits_a = auto_sign_bits(k_seeds, seeds_per_cell)
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    seeds = (
        corpus.select(
            F.col(id_col).alias("sid"), F.col(vec_col).alias("sv"), h.alias("_h")
        )
        .orderBy(F.col("_h").asc(), F.col("sid").asc())
        .limit(k_seeds)
        .drop("_h")
    )
    seeds = with_cell_rh(seeds, "sv", bits_a).withColumnRenamed(
        "cell", "scell"
    ).withColumn("_ns", _norm(F.col("sv")))
    # checkpointed: the orphan anti-join branch reads corp AND assigned
    # a second time — without materialization the whole cell+scoring
    # subtree executes twice (measured 2.5× on the 10× probe)
    corp = (
        with_cell_rh(corpus.select(id_col, vec_col), vec_col, bits_a)
        .withColumn("_nv", _norm(F.col(vec_col)))
        .localCheckpoint(eager=True)
    )

    cs = _cosine_prenorm(
        F.col(vec_col), F.col("sv"), F.col("_nv"), F.col("_ns")
    ).alias("cs")
    argmax = F.max_by(
        "sid", F.struct(F.col("cs").alias("cs"), (-F.col("sid")).alias("ns"))
    ).alias("cluster")

    cand = corp.join(
        F.broadcast(seeds), corp["cell"] == seeds["scell"]
    ).select(id_col, vec_col, "sid", cs)
    assigned = (
        cand.groupBy(id_col)
        .agg(argmax, F.any_value(vec_col).alias(vec_col))
        .localCheckpoint(eager=True)
    )
    orphans = corp.join(assigned.select(id_col), id_col, "left_anti")
    orph_assigned = (
        orphans.crossJoin(F.broadcast(seeds))
        .select(id_col, vec_col, "sid", cs)
        .groupBy(id_col)
        .agg(argmax, F.any_value(vec_col).alias(vec_col))
    )
    assign = assigned.unionByName(orph_assigned)
    return _keepfirst_within_cluster(assign, threshold, vec_col, id_col)


def _pq_grid_dist(a_col: str, b_col: str, j: int, sub: int, quant: int) -> Column:
    """Quantized-integer L2² between subvectors j of two arrays, as an
    EXPLICIT per-index expression sum rather than a zip_with/aggregate
    fold: higher-order-function lambdas evaluate outside whole-stage
    codegen (interpreted per element), while this expression tree stays
    inside it.

    The grid snap is ``floor(x·quant + 0.5)`` (round-half-up), NOT
    ``round()``: Spark's round on doubles goes through BigDecimal — one
    allocation per value, measured ~40% of this operator's runtime —
    while floor is pure double arithmetic. With a power-of-two
    ``quant``, ``x·quant`` is an exact exponent shift for float inputs,
    so both engines see identical doubles and the snap is
    engine-exact (the oracle uses the same floor formula).

    r13: takes column NAMES and builds the whole sum as ONE
    server-side-parsed SQL expression — the per-index Column-API form
    cost ~10 py4j round trips per dimension per call site (measured
    7.3 s of ann_ivf_lloyd's 14.7 s construction just building these
    trees); the parsed tree is term-for-term identical (same floor /
    cast / multiply nodes), so plans, codegen and values are
    unchanged."""

    def term(i: int) -> str:
        a = (
            f"cast(floor(cast(element_at(`{a_col}`, {j * sub + i}) as double)"
            f" * {quant} + 0.5d) as bigint)"
        )
        b = (
            f"cast(floor(cast(element_at(`{b_col}`, {j * sub + i}) as double)"
            f" * {quant} + 0.5d) as bigint)"
        )
        return f"(({a}) - ({b})) * (({a}) - ({b}))"

    return F.expr(" + ".join(term(i) for i in range(1, sub + 1)))


PQ_SEED = "pq-v1"
PQ_M = 8
PQ_K = 16
PQ_QUANT = 1024


def pq_encode(
    corpus: DataFrame,
    dim: int = 64,
    m: int = PQ_M,
    k: int = PQ_K,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = PQ_SEED,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., the IVF-PQ building
    block): split each ``dim``-vector into ``m`` subvectors, quantize
    each against a ``k``-codeword subspace codebook, emit the code per
    subspace — ``dim`` floats compress to ``m`` small ints (here
    64×4 B → 8×4 bits).

    Codebooks are the subvectors of the ``k`` hash-sampled seed vectors
    (same deterministic sampling as :func:`semantic_dedup`; a
    production run swaps in per-subspace k-means codebooks without
    touching the plan shape). Distances are computed on
    ``round(x·quant)`` integer grids, so every distance, the argmin,
    and its rank tiebreak are INTEGER-EXACT — bit-identical across
    engines and partitionings, which is what makes a PQ encoder
    hash-verifiable at all (float L2 argmin is not, under ties).

    The argmin itself is the packed-min trick: per subspace
    ``code = min(dist·k + rank) % k`` — smallest distance wins, ties
    break to the smallest codeword rank, no window function needed.

    Scale: one broadcast of k seed vectors, a k-way fan-out (codegen
    zip_with/aggregate folds — no Python), one groupBy per vector id
    with map-side partial mins. Shuffle carries m small ints per
    vector.
    """
    sub = dim // m
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    from pyspark.sql.window import Window

    seeds = (
        corpus.select(F.col(vec_col).alias("sv"), h.alias("_h"), F.col(id_col).alias("_sid"))
        .orderBy("_h", "_sid")
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy("_h", "_sid")) - 1,
        )
        .select("sv", "rank")
    )

    def qdist(j: int):
        return _pq_grid_dist(vec_col, "sv", j, sub, quant)

    pairs = corpus.select(id_col, vec_col).crossJoin(F.broadcast(seeds)).select(
        id_col,
        "rank",
        *[qdist(j).alias(f"_d{j}") for j in range(m)],
    )
    return pairs.groupBy(id_col).agg(
        *[
            (F.min(F.col(f"_d{j}") * k + F.col("rank")) % k)
            .cast("int")
            .alias(f"c{j}")
            for j in range(m)
        ]
    )


IVF_SEED = "ivf-v1"


def hashed_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """Deterministic IVF coarse codebook: the ``n_cells`` corpus vectors
    with the smallest ``md5(seed || id)`` — the same layout-independent
    hash sample :func:`semantic_dedup` and :func:`pq_encode` use, which
    is what keeps an IVF index oracle-checkable (FLOAT-trained k-means,
    MLlib's quantizer in :func:`ivf_topk`, is not SQL-expressible;
    :func:`lloyd_centroids` recovers training under the oracle by
    keeping the whole loop on the integer grid).
    Global top-k = TakeOrderedAndProject — no full shuffle.
    Returns ``(cell int, cv array)`` with cell = hash-order rank.
    """
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    return (
        corpus.select(F.col(vec_col).alias("cv"), h.alias("_h"), F.col(id_col).alias("_cid"))
        .orderBy("_h", "_cid")
        .limit(n_cells)
        .withColumn("cell", F.row_number().over(Window.orderBy("_h", "_cid")) - 1)
        .select("cell", "cv")
    )


def ivf_assign_hashed(
    df: DataFrame,
    centroids: DataFrame,
    n_cells: int,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """Assign every vector to its nearest hashed centroid — integer-grid
    L2 (same ``floor(x·quant + 0.5)`` snap as :func:`pq_encode`, so the
    argmin and its rank tiebreak are ENGINE-EXACT) via the packed-min
    trick ``min(dist·n_cells + cell) % n_cells``. One broadcast of the
    centroid frame, one groupBy(id) shuffle carrying (id, vec, cell);
    at production scale write the corpus bucketed by ``cell`` so every
    downstream probe join is shuffle-free.
    Returns ``(id_col, vec_col, cell int, *extra_cols)`` —
    ``extra_cols`` ride the same groupBy via ``any_value`` (one value
    per id), so carrying an attribute costs no extra shuffle.
    """
    d = _pq_grid_dist(vec_col, "cv", 0, dim, quant)
    pairs = (
        df.select(id_col, vec_col, *extra_cols)
        .crossJoin(F.broadcast(centroids))
        .select(id_col, vec_col, *extra_cols, "cell", d.alias("_d"))
    )
    return pairs.groupBy(id_col).agg(
        F.any_value(vec_col).alias(vec_col),
        (F.min(F.col("_d") * n_cells + F.col("cell")) % n_cells)
        .cast("int")
        .alias("cell"),
        *[F.any_value(c).alias(c) for c in extra_cols],
    )


def _ivf_probes(
    q: DataFrame,
    corpus: DataFrame,
    n_cells: int,
    n_probe: int,
    dim: int,
    quant: int,
    vec_col: str,
    id_col: str,
    seed: str,
    qvec_col: str = "qv",
    carry: tuple = ("qv",),
    corpus_carry: tuple = (),
    cents: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared hashed-IVF routing used by every composed index
    (:func:`ivf_topk_hashed`, :func:`ivf_sq8_topk`, :func:`ivf_bq_topk`,
    :func:`filtered_ivf_topk`) so the probe-order tiebreak contract
    (grid L2 asc, cell asc) lives in exactly one place. ``q`` must
    carry ``qid`` and ``qvec_col``; ``carry`` names the query-side
    columns to keep on the probe frame (the scoring payload: raw
    vector, SQ8 micro-grid ints, BQ words); ``corpus_carry`` names
    corpus columns to keep on the assignment (e.g. a filter
    attribute). Returns ``(assigned, probes)``: the cell-assigned
    corpus ``(id_col, vec_col, cell, *corpus_carry)`` and the
    per-query probed cells ``(qid, *carry, cell)``. Pass ``cents`` to
    reuse an already-built centroid frame (saves one corpus scan when
    the caller needs the centroids itself, e.g. for residuals); pass
    ``assigned`` to search a PRE-BUILT postings frame (the incremental
    ivf_append path — the corpus is then never reassigned)."""
    if cents is None:
        cents = hashed_centroids(corpus, n_cells, vec_col, id_col, seed)
    if assigned is None:
        assigned = ivf_assign_hashed(
            corpus, cents, n_cells, dim, quant, vec_col, id_col,
            extra_cols=corpus_carry,
        )
    d = _pq_grid_dist(qvec_col, "cv", 0, dim, quant)
    qd = q.crossJoin(F.broadcast(cents)).select(
        "qid", *carry, "cell", d.alias("_d")
    )
    w_cell = Window.partitionBy("qid").orderBy(
        F.col("_d").asc(), F.col("cell").asc()
    )
    probes = (
        qd.withColumn("_pr", F.row_number().over(w_cell))
        .where(F.col("_pr") <= n_probe)
        .select("qid", *carry, "cell")
    )
    return assigned, probes


def _ranked_shortlist(
    scored: DataFrame,
    order: list,
    out_cols: list,
    k: int,
    rerank: int | None,
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared per-query shortlist tail of the quantized indexes: rank
    ``scored`` by ``order`` within each qid, keep ``rerank or k`` rows,
    and (with ``rerank``) refine via :func:`_exact_rerank` — one
    definition so the flat and IVF-composed variants of each rung can
    never drift in their tiebreak/rerank contract."""
    w = Window.partitionBy("qid").orderBy(*order)
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank else k))
        .select(*out_cols, "rank")
    )
    if rerank:
        # Materialize the Q×rerank shortlist (tiny) before the refine
        # stage: the rerank references it under a broadcast AND the
        # whole ADC/quantization pipeline above it would otherwise be
        # recomputed per referencing job — measured 2.5x first-run
        # swings on pq_topk_rerank (VERDICT r10 What's-wrong #2). Same
        # lineage-truncation pattern as graph_maintained_search.
        # Durability tradeoff (ADVICE r11): localCheckpoint blocks are
        # executor-held — losing an executor after the cut fails the
        # job instead of recomputing. Right for interactive/bench runs
        # (the blocks are Q×rerank rows); a long-lived cluster job
        # should prefer persist(MEMORY_AND_DISK)+count (recomputable)
        # or a reliable checkpoint dir, at the cost of keeping the
        # full quantization lineage alive.
        shortlist = shortlist.localCheckpoint(eager=True)
        return _exact_rerank(shortlist, queries, corpus, k, vec_col, id_col)
    return shortlist


def ivf_topk_hashed(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """IVF ANN with the DETERMINISTIC hash-sampled codebook — the
    hash-checkable twin of :func:`ivf_topk` (same probe-join plan
    shape; only the quantizer differs: hash sample here, trained
    k-means there). Each query probes its ``n_probe`` nearest cells by
    integer-grid L2 to the centroid; candidates join on cell id, exact
    cosine re-scores, top-k per query.

    Scale: candidates ∝ N·n_probe/n_cells per query; the corpus-side
    assignment is one broadcast + one groupBy; the probe join
    broadcasts the (tiny) query×probe frame so assigned corpus vectors
    never shuffle for search.
    """
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def lloyd_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    init_cents: DataFrame | None = None,
) -> DataFrame:
    """TRAINED coarse quantizer that is still hash-oracle-able: ``iters``
    unrolled Lloyd (k-means) iterations with every centroid snapped to
    the dyadic grid ``floor(x·quant + 0.5)/quant``.

    :func:`hashed_centroids` documents why trained k-means normally
    can't be oracle-checked: float means are summation-order-dependent
    and float argmins tie unstably, so no SQL engine replays them
    bit-for-bit. This routine removes both obstacles:

    - **means on the integer grid** — members contribute
      ``floor(x·quant + 0.5)`` (a long), per-dimension sums are exact
      integers (associative, partitioning-independent), and the mean
      is snapped back to the grid with the same round-half-up, so the
      updated centroid is an exact dyadic double both engines agree on;
    - **assignments stay integer-exact** — snapped centroids round-trip
      through :func:`ivf_assign_hashed`'s ``floor(cv·quant + 0.5)``
      unchanged (power-of-two ``quant``), so every distance, argmin,
      and probe-order tiebreak is the same packed-min integer contract
      the untrained index uses.

    ``iters=0`` returns the (snapped) hash-sampled seeds — the index
    then degenerates EXACTLY to :func:`ivf_topk_hashed` (pinned by
    pytest: the snap is invisible to the integer-grid distances). A
    cell that loses all members keeps its previous centroid
    (deterministic; matches common k-means empty-cluster handling).
    ``init_cents`` warm-starts the loop from an existing ``(cell, cv)``
    codebook instead of hash-sampled seeds — the production REFRESH
    shape (:func:`ivf_retrain_delta`): cell identities stay anchored
    to the deployed codebook, so the post-refresh assignment delta
    measures actual drift, not label permutation.

    Scale: each iteration is one broadcast of ``n_cells`` centroids +
    one groupBy(cell) whose partial aggregation reduces to
    ``n_cells × dim`` longs — the corpus never shuffles; plan depth
    grows with ``iters`` (a small constant: 2 Lloyd rounds recover most
    of the k-means gain over random seeds), and at 100 TB the train
    loop runs on a hash-sample of the corpus exactly like the seeds.
    """
    snap = F.transform(
        F.col("cv"),
        lambda x: (
            F.floor(x.cast("double") * quant + F.lit(0.5)).cast("double")
            / F.lit(float(quant))
        ),
    )
    if init_cents is not None:
        # warm start: the deployed codebook is already on the grid
        # (its centroids came out of this loop's snap), but re-snap
        # defensively so any caller-constructed frame obeys the
        # integer-grid contract
        cents = init_cents.select("cell", snap.alias("cv"))
        # A codebook trained with a different n_cells would not fail
        # loudly downstream: ivf_assign_hashed's packed-min
        # min(d*n_cells+cell) % n_cells silently WRAPS cell ids
        # >= n_cells onto wrong cells (ADVICE r9). The codebook is
        # n_cells rows by construction, so this collect is O(n_cells).
        cells = sorted(r["cell"] for r in cents.select("cell").collect())
        if cells != list(range(n_cells)):
            raise ValueError(
                f"init_cents is not a dense codebook for n_cells="
                f"{n_cells}: got {len(cells)} cells, "
                f"min={cells[0] if cells else None}, "
                f"max={cells[-1] if cells else None}"
            )
    else:
        cents = hashed_centroids(
            corpus, n_cells, vec_col, id_col, seed
        ).select("cell", snap.alias("cv"))
    for _ in range(iters):
        assigned = ivf_assign_hashed(
            corpus, cents, n_cells, dim, quant, vec_col, id_col
        )

        def _gmean(i: int) -> Column:
            # one server-side-parsed expression per dimension (the
            # _pq_grid_dist r13 note: the Column-API form cost ~3.7 s
            # of construction per train loop in py4j round trips;
            # the parsed tree — floor/cast/sum/count — is identical)
            g = (
                f"cast(floor(cast(element_at(`{vec_col}`, {i}) as double)"
                f" * {quant} + 0.5d) as bigint)"
            )
            return F.expr(
                f"cast(floor(cast(sum({g}) as double)"
                f" / cast(count(1) as double) + 0.5d) as double)"
                f" / {float(quant)}d"
            ).alias(f"_c{i}")

        means = assigned.groupBy("cell").agg(
            *[_gmean(i) for i in range(1, dim + 1)]
        ).select(
            "cell",
            F.array(*[F.col(f"_c{i}") for i in range(1, dim + 1)]).alias(
                "_ncv"
            ),
        )
        cents = (
            cents.join(means, ["cell"], "left")
            .select("cell", F.coalesce(F.col("_ncv"), F.col("cv")).alias("cv"))
            # n_cells×dim doubles — materialize each round so (a) the
            # next assignment pass reads a table, not a re-execution of
            # every prior round, and (b) the search's two uses of the
            # final centroids (corpus assignment + query probe routing)
            # don't each replay the whole train loop; plan depth stays
            # O(1) in iters
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_topk_lloyd(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """IVF ANN with the TRAINED-yet-hash-oracled coarse quantizer
    (:func:`lloyd_centroids`): the same probe-join plan as
    :func:`ivf_topk_hashed` — cell routing via :func:`_ivf_probes`,
    exact cosine re-score, :func:`_ranked_shortlist` tail — but cells
    are ``iters`` Lloyd rounds over the integer grid instead of raw
    hash-sampled seeds, so the quantizer adapts to the data
    distribution (the property :func:`ivf_topk`'s MLlib KMeans buys)
    while every assignment, probe order, and rank stays engine-exact
    and DuckDB-replayable. ``iters=0`` ≡ :func:`ivf_topk_hashed`.

    Scale: training adds ``iters`` broadcast+groupBy passes (partials
    collapse to n_cells×dim longs — no corpus shuffle); search is
    unchanged: candidates ∝ N·n_probe/n_cells per query.
    """
    cents = lloyd_centroids(
        corpus, n_cells, iters, dim, quant, vec_col, id_col, seed
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        cents=cents,
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def ivf_append(
    batch: DataFrame,
    cents: DataFrame,
    n_cells: int = 16,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Incremental IVF index maintenance — the WRITE path of a
    continuously-ingesting 100 TB pipeline: assign a new-vector batch
    to a FROZEN codebook (``cents`` from :func:`lloyd_centroids` or
    :func:`hashed_centroids`) and return the postings-delta rows
    ``(id_col, vec_col, cell)`` to append to the index, WITHOUT
    retraining or touching existing postings.

    This is exactly how production IVF indexes (FAISS ``add`` after
    ``train``) ingest: the codebook is trained once on a base snapshot
    and frozen; each ingest batch pays one broadcast of ``n_cells``
    centroids + one groupBy(id) over the BATCH only — O(|batch|), not
    O(|index|). Because :func:`ivf_assign_hashed` is per-row (integer
    grid argmin, no batch-level state), appending then searching is
    ROW-IDENTICAL to having assigned base∪batch in one pass against
    the same codebook — the insert≡rebuild-assignment equivalence the
    pytest pins. Codebook drift under a shifting ingest distribution
    is handled by periodic re-train + re-snapshot, not by this path.
    """
    return ivf_assign_hashed(
        batch, cents, n_cells, dim, quant, vec_col, id_col
    )


def ivf_append_topk(
    queries: DataFrame,
    base: DataFrame,
    batch: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """IVF ANN over an INCREMENTALLY-MAINTAINED index: the Lloyd
    codebook is trained on ``base`` only and frozen, ``base`` postings
    come from the build-time assignment, ``batch`` postings from
    :func:`ivf_append` — then the standard probe-join search
    (:func:`ivf_topk_lloyd`'s exact tail) runs over the UNION of old
    and appended postings. The declared composed form of the
    production insert path: search results over old∪new are identical
    to a full rebuild whose training saw only ``base`` (pinned by
    pytest), and the whole flow — train, both assignments, probes,
    ranks — stays integer-exact and DuckDB-replayable.

    Scale: the append touches only the batch (one broadcast + one
    groupBy over |batch| rows); the union is a metadata-only concat of
    two bucketed postings tables; search cost is unchanged
    (candidates ∝ (N_base+N_batch)·n_probe/n_cells per query)."""
    cents = lloyd_centroids(
        base, n_cells, iters, dim, quant, vec_col, id_col, seed
    )
    postings = ivf_assign_hashed(
        base, cents, n_cells, dim, quant, vec_col, id_col
    ).unionByName(
        ivf_append(batch, cents, n_cells, dim, quant, vec_col, id_col)
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    corpus = base.unionByName(batch)
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        cents=cents, assigned=postings,
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def ivf_delete(
    delete_ids: DataFrame,
    postings: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF postings DELETE — the trivial half of inverted-list index
    maintenance, included so the IVF lifecycle is explicitly symmetric
    with the graph family's: unlike :func:`graph_delete`, removing a
    vector from an inverted list needs NO repair (postings rows are
    independent; nothing points at them), so the delete is one
    anti-join on id. At 100 TB: partition-local when the postings are
    bucketed by ``cell`` and the delete set is broadcast; in a
    Delta/Iceberg layout it is a tombstone merge. Returns the
    maintained postings frame unchanged in schema."""
    d = delete_ids.select(F.col(id_col)).distinct()
    return postings.join(d, id_col, "left_anti")


def ivf_maintained_topk(
    queries: DataFrame,
    base: DataFrame,
    batch: DataFrame,
    delete_ids: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """IVF ANN over a FULLY maintained index — append AND delete
    applied before the search (the IVF analogue of
    :func:`graph_maintained_search`, closing the CRUD-then-search
    composition for both index families): the Lloyd codebook trains on
    ``base`` and freezes, ``batch`` postings come from
    :func:`ivf_append`, ``delete_ids`` (which may include
    just-appended ids) drop via :func:`ivf_delete`, and the standard
    probe-join search runs over the maintained postings. The
    maintained postings are ROW-IDENTICAL to a one-pass assignment of
    the alive corpus against the same frozen codebook (pinned by
    pytest) — for IVF, unlike the graph, incremental maintenance is
    EXACT, not an approximation a rebuild would improve.

    Scale: append O(|batch|), delete one broadcast anti-join,
    search candidates ∝ N_alive·n_probe/n_cells per query."""
    cents = lloyd_centroids(
        base, n_cells, iters, dim, quant, vec_col, id_col, seed
    )
    postings = ivf_assign_hashed(
        base, cents, n_cells, dim, quant, vec_col, id_col
    ).unionByName(
        ivf_append(batch, cents, n_cells, dim, quant, vec_col, id_col)
    )
    postings = ivf_delete(delete_ids, postings, id_col)
    d = delete_ids.select(F.col(id_col).alias("_did")).distinct()
    alive = (
        base.select(id_col, vec_col)
        .unionByName(batch.select(id_col, vec_col))
        .join(d, F.col(id_col) == F.col("_did"), "left_anti")
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, alive, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        cents=cents, assigned=postings,
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        alive,
        vec_col,
        id_col,
    )


def ivf_postings_topk(
    queries: DataFrame,
    cents: DataFrame,
    postings: DataFrame,
    alive: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """The probe-join search tail over PREBUILT index components —
    exactly the plan :func:`ivf_maintained_topk` executes after its
    build phase, factored out so a controller that gauges recall more
    than once (``policy_applied``'s before/after rungs) can train the
    codebook, build the maintained postings and pin them ONCE, then
    re-run only this tail per gauge (r13 optimization; the components
    are deterministic, so gauge rows are identical to the recomputed
    form — the equivalence the pytest pins).

    ``cents``: the frozen codebook ``(cell, cv)``; ``postings``: the
    maintained ``(id, vec, cell)`` rows (append + delete applied);
    ``alive``: the alive corpus the searched ids live in (used only
    for the shared shortlist tail's signature). Scale: unchanged —
    candidates ∝ N_alive·n_probe/n_cells per query."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, alive, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        cents=cents, assigned=postings,
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        alive,
        vec_col,
        id_col,
    )


def ivf_retrain_delta(
    base: DataFrame,
    full: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    old_cents: DataFrame | None = None,
    new_cents: DataFrame | None = None,
) -> DataFrame:
    """Codebook-refresh DELTA — the third leg of IVF maintenance next
    to :func:`ivf_append` (insert) and periodic retrain: when the
    frozen codebook has drifted (ingest distribution shift), retrain
    Lloyd on the full corpus and emit ONLY the postings whose cell
    assignment CHANGES — ``(id_col, old_cell, new_cell)``. At 100 TB
    this is the difference between re-snapshotting the whole
    cell-bucketed postings layout and rewriting just the moved rows'
    partitions: the delta fraction is typically small when drift is
    (two trained codebooks mostly agree on stable regions), and the
    delta frame IS the minimal move plan a refresh job executes.

    ``old_cents`` / ``new_cents`` let a caller that already trained the
    two codebooks (e.g. a drift controller that also re-gauges recall
    via :func:`ivf_retrained_topk`) pass them in instead of paying the
    Lloyd loops a second time — the codebooks are deterministic, so the
    result is row-identical either way (r13 optimization).

    Reconciliation identity (pytest-pinned): applying the delta to the
    old postings — replace ``old_cell`` with ``new_cell`` for the ids
    in the delta — reproduces the new assignment row-for-row, so a
    partial rewrite is provably equivalent to the full re-snapshot.

    Both codebooks and both assignments are the grid-exact Lloyd
    machinery, so the whole comparison is engine-exact and the oracle
    replays BOTH train loops side by side. Scale: two broadcast
    assignment passes over the corpus + one id-equi-join — all linear,
    no new shuffle class."""
    old_c = old_cents if old_cents is not None else lloyd_centroids(
        base, n_cells, iters, dim, quant, vec_col, id_col, seed
    )
    # WARM-START the refresh from the deployed codebook: cell
    # identities stay anchored, so the delta measures actual
    # distribution drift. A cold retrain (fresh hash seeds over the
    # full corpus) relabels cells wholesale — measured 76% spurious
    # "moves" on the undrifted sf0.001 fixture vs ~a few percent warm
    # — and would make the "minimal move plan" anything but minimal.
    new_c = new_cents if new_cents is not None else lloyd_centroids(
        full, n_cells, iters, dim, quant, vec_col, id_col, seed,
        init_cents=old_c,
    )
    old_a = ivf_assign_hashed(
        full, old_c, n_cells, dim, quant, vec_col, id_col
    ).select(id_col, F.col("cell").alias("old_cell"))
    new_a = ivf_assign_hashed(
        full, new_c, n_cells, dim, quant, vec_col, id_col
    ).select(id_col, F.col("cell").alias("new_cell"))
    return old_a.join(new_a, id_col).where(
        F.col("old_cell") != F.col("new_cell")
    )


def ivf_retrained_topk(
    queries: DataFrame,
    base: DataFrame,
    full: DataFrame,
    delete_ids: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    old_cents: DataFrame | None = None,
    new_cents: DataFrame | None = None,
) -> DataFrame:
    """IVF search AFTER the warm codebook refresh — the APPLY leg of
    the drift→retrain loop (r13; the search-side counterpart of
    :func:`ivf_retrain_delta`, whose delta frame is the move plan this
    retrain executes): the codebook is ``lloyd(base)`` warm-retrained
    on ``full`` (EXACTLY ``ivf_retrain_delta``'s ``new_c`` — cell
    identities stay anchored to the deployed codebook), the postings
    are ``full`` assigned to the NEW codebook minus ``delete_ids``
    (≡ old postings with the delta applied, the pytest-pinned
    reconciliation identity), and the standard probe-join search runs
    on top. Re-gauging recall over THIS index is how
    :func:`~wasaffi_spark.operators.serving.apply_drift_policy`
    proves its retrain decision out.

    Scale: two broadcast assignment passes (train warm-start + final
    postings) over the corpus, then the unchanged probe search —
    candidates ∝ N_alive·n_probe/n_cells per query. Grid-exact Lloyd
    throughout, so the whole leg replays under the DuckDB oracle.
    ``old_cents`` / ``new_cents`` reuse already-trained codebooks (the
    :func:`ivf_retrain_delta` sharing contract — deterministic, so
    results are row-identical; r13 optimization)."""
    if new_cents is not None:
        new_c = new_cents
    else:
        old_c = old_cents if old_cents is not None else lloyd_centroids(
            base, n_cells, iters, dim, quant, vec_col, id_col, seed
        )
        new_c = lloyd_centroids(
            full, n_cells, iters, dim, quant, vec_col, id_col, seed,
            init_cents=old_c,
        )
    postings = ivf_assign_hashed(
        full, new_c, n_cells, dim, quant, vec_col, id_col
    )
    postings = ivf_delete(delete_ids, postings, id_col)
    d = delete_ids.select(F.col(id_col).alias("_did")).distinct()
    alive = full.select(id_col, vec_col).join(
        d, F.col(id_col) == F.col("_did"), "left_anti"
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, alive, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        cents=new_c, assigned=postings,
    )
    c = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        alive,
        vec_col,
        id_col,
    )


def _mmr_greedy(
    sl: DataFrame,
    pp: DataFrame,
    k: int,
    lam_micro: int,
    mu_micro: int,
    disp: str,
    materialize_steps: bool | None = None,
) -> DataFrame:
    """Shared greedy MMR selection loop (integer-exact — see
    :func:`mmr_topk` for why floats never touch the argmax): ``sl`` is
    the per-query shortlist ``(qid, nid, <disp>, rel_micro)``, ``pp``
    the pairwise-similarity frame ``(qid, _a, _b, sim_micro)``; one
    definition so the vector form (:func:`mmr_topk`) and the BM25 form
    (retrieval.bm25_mmr) can never drift in their pick/tiebreak
    contract. Returns ``(qid, nid, <disp>, mmr_nano, step)``."""
    # r13: per-step eager checkpoints cost ~0.5 s of driver-serialized
    # work each (the graph-family measurement) but each greedy step
    # references `selected` 3× (anti-join, penalty join, union), so the
    # lazy plan grows ~3^(k-1) copies of the tiny pick subtree over the
    # CHECKPOINTED sl/pp leaves. For the small k of the rerank surface
    # (k=3 declared) lazy is strictly cheaper — one job at action time;
    # past k=4 the per-step cut keeps the plan bounded, as before.
    # Purely physical either way: values identical (pytest-pinned).
    if materialize_steps is None:
        materialize_steps = k > 4
    w_pick = Window.partitionBy("qid").orderBy(
        F.col("mmr_nano").desc(), F.col("nid").asc()
    )
    first = (
        sl.withColumn("mmr_nano", F.lit(lam_micro) * F.col("rel_micro"))
        .withColumn("_r", F.row_number().over(w_pick))
        .where(F.col("_r") == 1)
        .select("qid", "nid", disp, "mmr_nano", F.lit(1).alias("step"))
    )
    selected = first
    if materialize_steps:
        selected = selected.localCheckpoint(eager=True)
    for i in range(2, k + 1):
        rem = sl.join(selected.select("qid", "nid"), ["qid", "nid"], "left_anti")
        pen = (
            pp.join(
                selected.select("qid", F.col("nid").alias("_b")),
                ["qid", "_b"],
            )
            .groupBy("qid", F.col("_a").alias("nid"))
            .agg(F.max("sim_micro").alias("_pen"))
        )
        cand = rem.join(pen, ["qid", "nid"], "left").select(
            "qid",
            "nid",
            disp,
            (
                F.lit(lam_micro) * F.col("rel_micro")
                - F.lit(mu_micro) * F.coalesce(F.col("_pen"), F.lit(0))
            ).alias("mmr_nano"),
        )
        pick = (
            cand.withColumn("_r", F.row_number().over(w_pick))
            .where(F.col("_r") == 1)
            .select("qid", "nid", disp, "mmr_nano", F.lit(i).alias("step"))
        )
        selected = selected.union(pick)
        if materialize_steps:
            selected = selected.localCheckpoint(eager=True)
    return selected


def top_pc_power(
    corpus: DataFrame,
    iters: int = 3,
    dim: int = 64,
    quant: int = PQ_QUANT,
    scale: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[int]:
    """Top principal direction by POWER ITERATION on the integer grid —
    the third member of the oracle-replayable-training family
    (:func:`lloyd_centroids` replays k-means, :func:`knn_descent`
    replays NN-descent, this replays the eigensolver): each iteration
    is the matrix-free matvec ``y = Gᵀ(G·w)`` over the grid-snapped
    corpus ``G`` (two passes of exact bigint sums — no dim×dim
    covariance ever materializes), then an L∞ renormalization
    ``w ← floor(y·scale/max|y| + 0.5)``.

    Engine-exactness argument, step by step: ``G`` entries and ``w``
    are bigints, so ``s = G·w`` and ``y = Gᵀs`` are exact integer sums
    (associative — partitioning-independent); the normalization
    converts two bigints to doubles — EXACT conversions while
    ``|y| < 2⁵³`` (bound below) — and performs the same
    multiply/divide/floor in every engine, so the next ``w`` is
    bit-identical whether computed by Spark + driver Python or by the
    SQL oracle's unrolled CTEs. The O(dim) per-iteration collect is
    the bounded-collect class (same as BPE's merge pick and the
    streaming gates' literal centroids).

    Magnitude bound: with unit-ish inputs (|x| ≲ 2) each round has
    ``|s| ≤ dim·2·quant·scale ≈ 1.3e8`` and ``|y| ≤ N·2·quant·|s| ≈
    N·2.7e11`` — under the 2⁵³ exact-double-conversion bound for N up
    to ~3·10⁴. Beyond that, run the fit on a hash-sample exactly like
    :func:`hashed_centroids` seeds (the principal direction is a
    statistic, not a per-row artifact).

    Returns the final ``w`` as a Python list of ``dim`` ints (L∞ norm
    = ``scale``, sign fixed by the deterministic all-ones start) —
    project with ``Σ gⱼ·wⱼ`` for whitening-lite, principal-axis
    outlier scoring, or PQ pre-rotation.
    """
    import math

    # server-side-parsed expressions (the _pq_grid_dist r13 note: the
    # Column-API form pays ~6 py4j round trips per dimension per
    # iteration; the parsed floor/cast/sum trees are identical)
    gexprs = [
        f"cast(floor(cast(element_at(`{vec_col}`, {j + 1}) as double)"
        f" * {quant} + 0.5d) as bigint) as `_g{j}`"
        for j in range(dim)
    ]
    # N×dim longs — materialize once; every iteration reads this table.
    # r14 (the 5a probe-fold): LAZY checkpoint — iteration 1's collect
    # references gdf exactly once, so its job materializes the
    # checkpoint (one job instead of two); iterations 2+ read the
    # materialized rows as before.
    gdf = corpus.selectExpr(*gexprs).localCheckpoint(eager=False)
    w = [scale] * dim
    for _ in range(iters):
        s_sql = " + ".join(f"(`_g{j}` * {w[j]})" for j in range(dim))
        row = (
            gdf.withColumn("_s", F.expr(s_sql))
            .selectExpr(
                *[f"sum(`_g{j}` * `_s`) as `_y{j}`" for j in range(dim)]
            )
            .collect()[0]
        )
        y = [int(row[f"_y{j}"] or 0) for j in range(dim)]
        m = max(abs(v) for v in y)
        if m == 0:
            return [0] * dim
        # identical double ops to the oracle: exact bigint→double
        # conversions (|y| < 2^53), one multiply, one divide, floor
        w = [int(math.floor(float(v) * scale / float(m) + 0.5)) for v in y]
    return w


def ivf_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """Hashed-IVF candidate GENERATION without the scoring tail:
    returns the distinct ``(qid, nid)`` pairs a hashed-IVF probe would
    score (``qid != nid``) — the pluggable shortlist generator for
    rerank-shaped consumers (:func:`mmr_topk` ``candidates=``). Each
    corpus vector lives in exactly one cell (argmin assignment), so
    the probe join already yields distinct pairs. Same routing
    contract as :func:`ivf_topk_hashed` (shared :func:`_ivf_probes`);
    candidates per query ∝ N·n_probe/n_cells."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        carry=(),
    )
    c = assigned.select(F.col(id_col).alias("nid"), "cell")
    return (
        F.broadcast(probes)
        .join(c, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    lam: float = 0.7,
    shortlist: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998) — the standard RAG/retrieval rerank that
    trades relevance against redundancy: greedily pick
    ``argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)`` where ``S`` is
    what's already selected, so near-duplicate passages can't crowd
    the context window.

    Two-stage: an exact cosine ``shortlist`` per query, then ``k``
    greedy selection steps over it. The shortlist generator is
    pluggable: pass ``candidates`` — any ``(qid, nid)`` pair frame,
    e.g. :func:`ivf_candidates` — and only those pairs are scored (the
    corpus-scale shape; the Q×N ``crossJoin`` default is the exact
    small-Q rerank). MMR only ever reads the shortlist, so the greedy
    tail and its oracle are identical under either generator. The blend is computed in INTEGER space: the 6-dp cosines lift
    to micro-units (bigint) and the score is ``lam_micro·cos_micro −
    mu_micro·pen_micro`` — floats never touch the argmax. This is not
    pedantry: ``round(0.7·cos, 6)`` lands exactly on the 7th-decimal
    half-boundary whenever cos's 6th digit is odd, where Spark's
    shortest-repr HALF_UP and other engines' true-value rounding
    systematically disagree (found by the oracle on real data). With
    id tiebreaks the greedy loop is then fully deterministic and
    unrolls into the SQL oracle exactly like :func:`lloyd_centroids`
    / :func:`knn_descent`.

    Scale: the shortlist is Q×shortlist rows, the pairwise-sim frame
    Q×shortlist² — both tiny and broadcast-able; each greedy step is
    an anti-join + one grouped max + one argmax window over frames
    that never touch the corpus again. ``k`` is a small constant, so
    the unrolled plan depth is bounded; selections localCheckpoint per
    step. Returns ``(qid, nid, cos_sim, mmr_nano, step)`` with
    ``step`` 1..k in pick order and ``mmr_nano`` the exact integer
    score (units of 1e-12); a query with fewer than ``k`` candidates
    returns fewer rows.
    """
    lam_micro = int(round(lam * 1_000_000))
    mu_micro = 1_000_000 - lam_micro
    micro = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    if candidates is None:
        pairs = q.crossJoin(c)
    else:
        pairs = candidates.select("qid", "nid").join(q, "qid").join(c, "nid")
    scored = pairs.where(F.col("qid") != F.col("nid")).select(
        "qid",
        "nid",
        F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
    )
    w_sl = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    sl = (
        scored.withColumn("_r", F.row_number().over(w_sl))
        .where(F.col("_r") <= shortlist)
        .select("qid", "nid", "cos_sim")
        .localCheckpoint(eager=True)
    )
    # pairwise sims among shortlist members, per query — Q·s² rows
    a = sl.join(c, "nid").select(
        "qid", F.col("nid").alias("_a"), F.col("nv").alias("_av")
    )
    b = sl.join(c, "nid").select(
        "qid", F.col("nid").alias("_b"), F.col("nv").alias("_bv")
    )
    pp = (
        a.join(b, "qid")
        .where(F.col("_a") != F.col("_b"))
        .select(
            "qid",
            "_a",
            "_b",
            F.round(cosine(F.col("_av"), F.col("_bv")), 6).alias("_sab"),
        )
        .localCheckpoint(eager=True)
    )
    return _mmr_greedy(
        sl.withColumn("rel_micro", micro(F.col("cos_sim"))),
        pp.withColumn("sim_micro", micro(F.col("_sab"))),
        k,
        lam_micro,
        mu_micro,
        "cos_sim",
    )


def prototype_prune(
    corpus: DataFrame,
    frac: float = 0.25,
    keep: str = "hard",
    n_cells: int = 16,
    iters: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Prototype-distance data pruning (Sorscher et al., NeurIPS 2022
    "Beyond neural scaling laws"): cluster the corpus embeddings,
    score every example by its distance to its own cluster centroid,
    and drop a ``frac`` slice per cluster — ``keep="hard"`` drops the
    CLOSEST (most prototypical, most redundant) examples, the paper's
    regime for abundant data; ``keep="easy"`` drops the FARTHEST
    (outliers/noise), the scarce-data regime. Per-cluster percentile
    banding (not a global cutoff) is what makes the rule
    self-calibrating across clusters of different tightness.

    Built on the grid-exact machinery, so the whole pipeline is
    engine-exact and hash-oracled: the quantizer is
    :func:`lloyd_centroids` (trained k-means the oracle replays), the
    assignment and the prototype distance are the same packed-min /
    integer-grid L2 every IVF consumer uses (``proto_dist`` is an
    exact bigint), and the percentile is ``percent_rank`` over the
    unique order ``(proto_dist asc, id asc)``.

    Scale: one broadcast+groupBy per Lloyd round, one broadcast join
    for the distance, one per-cell window — the corpus shuffles once
    (by cell) for the window; no join ever exceeds N×n_cells.
    Returns kept rows ``(id_col, cell, proto_dist, proto_pct)``.
    """
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    if cents is None:
        cents = lloyd_centroids(
            corpus, n_cells, iters, dim, quant, vec_col, id_col, seed
        )
    assigned = ivf_assign_hashed(
        corpus, cents, n_cells, dim, quant, vec_col, id_col
    )
    d = _pq_grid_dist(vec_col, "cv", 0, dim, quant)
    scored = assigned.join(F.broadcast(cents), ["cell"]).select(
        id_col, "cell", d.alias("proto_dist")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("proto_dist").asc(), F.col(id_col).asc()
    )
    w_cell = Window.partitionBy("cell")
    ranked = scored.withColumn(
        "proto_pct", F.round(F.percent_rank().over(w), 6)
    ).withColumn("_cn", F.count(F.lit(1)).over(w_cell))
    # singleton guard: a one-member cluster has no redundancy to prune
    # (and percent_rank of a single row is 0, which would delete it
    # under keep="hard" for ANY frac) — sole members always survive
    if keep == "hard":
        cond = (F.col("proto_pct") >= F.lit(frac)) | (F.col("_cn") == 1)
    else:
        cond = (F.col("proto_pct") <= F.lit(1.0 - frac)) | (F.col("_cn") == 1)
    return ranked.where(cond).select(
        id_col, "cell", "proto_dist", "proto_pct"
    )


def filtered_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    filter_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
) -> DataFrame:
    """Composed filtered×IVF search (r7) — the wired form of the
    corpus-scale composition :func:`filtered_topk`'s docstring
    promises: the attribute prefixes the IVF cell, i.e. the candidate
    join keys on ``(attribute, cell)`` so a query scans only
    same-attribute vectors inside its ``n_probe`` probed cells. This
    is the production "filtered ANN" shape (same-language retrieval,
    per-tenant isolation) at the scale where the exact pre-filter
    slice is itself too large to scan: per-query candidates are
    O(N·sel(attr)·n_probe/n_cells) — the two prunings multiply.

    Cell routing is :func:`_ivf_probes` (deterministic hashed
    centroids, integer-grid argmin — engine-exact, so the whole
    composition hash-oracles); the attribute rides the assignment
    groupBy via ``any_value`` at zero extra shuffle, and with the
    corpus written partitioned by (attribute, cell) the probe join is
    shuffle-free AND scan-pruned. Recall note: like every IVF search,
    a same-attribute neighbour outside the probed cells is missed —
    the attribute filter does not change the probe set, only the
    candidates inside it. NULL attributes behave as in
    :func:`filtered_topk`: no slice, no candidates.
    Output/tiebreak contract is exactly :func:`filtered_topk`'s."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(filter_col).alias("_fq"),
        F.col(vec_col).alias("qv"),
    ).withColumn("_nq", _norm(F.col("qv")))
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        carry=("_fq", "qv", "_nq"),
        corpus_carry=(filter_col,),
    )
    c = assigned.select(
        F.col(id_col).alias("nid"),
        F.col(filter_col).alias("_fq"),
        F.col(vec_col).alias("nv"),
        "cell",
    ).withColumn("_nn", _norm(F.col("nv")))
    # the attribute equality is a JOIN KEY, not a post-join filter:
    # under the non-broadcast shuffle variant the exchange then hashes
    # on (attribute, cell) so hot cells split across attribute values
    # and the shuffle groups are exactly the candidate groups
    scored = (
        F.broadcast(probes)
        .join(c, ["_fq", "cell"])
        .where(F.col("qid") != F.col("nid"))
        .select(
            "qid",
            "nid",
            _cosine_prenorm(
                F.col("qv"), F.col("nv"), F.col("_nq"), F.col("_nn")
            ).alias("cos_sim"),
        )
    )
    return _ranked_shortlist(
        scored,
        [F.col("cos_sim").desc(), F.col("nid").asc()],
        ["qid", "nid", "cos_sim"],
        k,
        None,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def _exact_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The refine stage of a quantized ANN index (Jégou's ADC+R): take
    an approximate shortlist of (qid, nid) candidates, fetch the RAW
    corpus vectors for just those ids, exact-cosine re-rank to top-k.

    Without this, strong clusters collapse to identical codes: ADC
    distances tie and the id tiebreak — not similarity — picks the
    winners (measured recall@3 ≈ 0.12 on planted clusters; 1.0 with a
    deep-enough shortlist — ANN_RECALL.json). Size ``r`` to cover the
    ADC tie group: r ≳ N/codebook_k (the expected number of corpus
    vectors sharing a code region), floored at ~8·k — measured on
    2000×20-cluster data: r=24 → 0.33, r=96≈N/k → 0.96-1.0.
    Shortlists are Q×r rows — broadcast — so the raw-vector fetch is a
    broadcast hash join the corpus never shuffles for; per-query exact
    work drops from N to r vectors.
    """
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    scored = (
        F.broadcast(shortlist.select("qid", "nid"))
        .join(c, "nid")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "nid",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "cos_sim", "rank")
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    dim: int = 64,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = PQ_SEED,
    rerank: int | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes — the
    search half of IVF-PQ: the corpus is represented ONLY by its
    :func:`pq_encode` codes; each query precomputes an m×k distance
    lookup table against the codebook, and a candidate's approximate
    distance is m array lookups + a sum, never a d-dim float op.

    Returns ``(qid, nid, adist, rank)`` — integer quantized distances
    (same grid as pq_encode, hence engine-exact), ties on distance
    break to the lower neighbour id.

    Scale shape: codes = one pass over the corpus (pq_encode); the
    lookup tables are built by a groupBy over Q×k broadcast-joined
    seed pairs (rows ∝ Q·k — tiny); the search join broadcasts the
    query tables so the corpus codes never shuffle, and each candidate
    costs m ``element_at`` lookups inside codegen. At production scale
    compose with the IVF cell join (:func:`ivf_topk`) so each query
    scans one cell's codes, not the corpus.

    ``rerank=r``: ADC selects an r-sized shortlist instead of k, then
    :func:`_exact_rerank` refines it with exact cosine on the raw
    vectors (output schema becomes the exact-search one:
    (qid, nid, cos_sim, rank)). Use ~8·k: the recall cure for code
    collapse inside dense clusters.
    """
    sub = dim // m
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    seeds = (
        corpus.select(
            F.col(vec_col).alias("sv"), h.alias("_h"), F.col(id_col).alias("_sid")
        )
        .orderBy("_h", "_sid")
        .limit(codebook_k)
        .withColumn("rank", F.row_number().over(Window.orderBy("_h", "_sid")) - 1)
        .select("sv", "rank")
    )

    def qdist(j: int):
        return _pq_grid_dist("qv", "sv", j, sub, quant)

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    pairs = q.crossJoin(F.broadcast(seeds)).select(
        "qid", "rank", *[qdist(j).alias(f"_d{j}") for j in range(m)]
    )
    # rank-ordered lookup array per (query, subspace): table_j[rank+1]
    tables = pairs.groupBy("qid").agg(
        *[
            F.array_sort(
                F.collect_list(F.struct(F.col("rank"), F.col(f"_d{j}").alias("d")))
            ).alias(f"_t{j}")
            for j in range(m)
        ]
    )
    codes = pq_encode(
        corpus,
        dim=dim,
        m=m,
        k=codebook_k,
        quant=quant,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
    ).withColumnRenamed(id_col, "nid")
    adist = None
    for j in range(m):
        term = F.element_at(F.col(f"_t{j}"), F.col(f"c{j}") + 1)["d"]
        adist = term if adist is None else adist + term
    scored = (
        codes.join(F.broadcast(tables), F.col("qid") != F.col("nid"))
        .select("qid", "nid", adist.alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("nid").asc())
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank else k))
        .select("qid", "nid", "adist", "rank")
    )
    if rerank:
        return _exact_rerank(shortlist, queries, corpus, k, vec_col, id_col)
    return shortlist


SQ8_QUERY_QUANT = 1_000_000  # micro-grid for query-side quantization


def sq8_encode(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """Scalar quantization to int8 (the SQ8 of FAISS/Milvus — the third
    member of the quantization ladder next to :func:`pq_encode` and
    IVF-PQ): each vector stores one small int per dimension plus one
    scale, ``code_i = floor(x_i·127/max|x| + 0.5)``. A 4× memory cut
    vs float32 (PQ's 8× is stronger but needs per-query lookup tables;
    SQ8 decode is table-free multiply-add), so at 100 TB the win is
    scan bandwidth: an ADC pass reads a quarter of the bytes.

    Engine-exact by construction: ``max|x|`` is a comparison (no float
    accumulation anywhere), each code is one floor over IEEE-double
    ops the DuckDB oracle replays verbatim, and ``code_norm_sq`` — the
    integer ||code||² that downstream cosine ranking divides by — is
    an integer sum. Zero vectors encode as all-zero codes with
    scale_nano 0.

    Returns ``(id, codes array<int>, code_norm_sq bigint, scale_nano
    bigint)``; ``scale_nano = floor(max|x|/127·1e9 + 0.5)`` is the
    decode step in nano-units (``codes·scale ≈ x``), carried so a
    reader can dequantize without the raw vectors.

    Scale shape: one narrow projection — no shuffle, no UDF; codes
    live in-row beside the id exactly like minhash signatures do."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    codes = F.when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.floor(
                x.cast("double") * F.lit(127) / mx + F.lit(0.5)
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    cn = F.aggregate(
        F.col("codes"),
        F.lit(0).cast("bigint"),
        lambda acc, c: acc + (c * c).cast("bigint"),
    )
    scale = (
        F.when(
            mx > 0,
            F.floor(mx / F.lit(127) * F.lit(1000000000.0) + F.lit(0.5)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return corpus.select(
        F.col(id_col),
        codes.alias("codes"),
        scale.alias("scale_nano"),
        *[F.col(c) for c in extra_cols],
    ).select(
        id_col,
        "codes",
        cn.alias("code_norm_sq"),
        "scale_nano",
        *extra_cols,
    )


# one definition of each quantized rung's ranking contract, shared by
# the flat scan and its IVF composition so they can never drift:
# SQ8 ranks by ip/√code_norm_sq (∝ cosine — the per-vector scale
# cancels), BQ ascending by hamming; both tiebreak to the lower nid.
# (Functions, not module constants: Column construction needs an
# active SparkContext, which import time doesn't have.)
def _sq8_order() -> list:
    return [
        (
            F.col("ip").cast("double")
            / F.sqrt(F.col("code_norm_sq").cast("double"))
        ).desc(),
        F.col("nid").asc(),
    ]


def _bq_order() -> list:
    return [F.col("hamming").asc(), F.col("nid").asc()]


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    quant: int = SQ8_QUERY_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: int | None = None,
) -> DataFrame:
    """ADC top-k over SQ8 codes: the corpus is represented only by its
    :func:`sq8_encode` codes; each candidate costs one zip-multiply
    fold of small ints inside codegen — no lookup tables, no float
    vector reads. Ranking is by ``ip/√code_norm_sq`` (∝ cosine: the
    per-vector SQ8 scale cancels in the direction, and the query's own
    norm is constant within a qid partition), computed from two exact
    integers so both engines derive the identical double; ties break
    to the lower neighbour id.

    Returns ``(qid, nid, ip bigint, code_norm_sq bigint, rank)`` —
    integer outputs only, hence hash-checkable.

    Scale shape: queries quantize to a fixed micro-grid and broadcast;
    the corpus codes never shuffle; candidates are Q×N (linear in N) —
    at production scale compose with the IVF cell join exactly as
    :func:`pq_topk` does via :func:`ivf_pq_topk`.

    ``rerank=r``: the ADC shortlist widens to r and
    :func:`_exact_rerank` refines with exact cosine on the raw vectors
    (output becomes the exact-search schema)."""
    enc = (
        sq8_encode(corpus, vec_col, id_col)
        .where(F.col("code_norm_sq") > 0)
        .withColumnRenamed(id_col, "nid")
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(quant) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("qq"),
    )
    ip = F.aggregate(
        F.zip_with(
            F.col("qq"), F.col("codes"), lambda a, b: a * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = enc.join(F.broadcast(q), F.col("qid") != F.col("nid")).select(
        "qid", "nid", ip.alias("ip"), "code_norm_sq"
    )
    return _ranked_shortlist(
        scored,
        _sq8_order(),
        ["qid", "nid", "ip", "code_norm_sq"],
        k,
        rerank,
        queries,
        corpus,
        vec_col,
        id_col,
    )


BQ_WORD_BITS = 32  # sign bits per packed word (sum-safe in a signed 64)


def bq_encode(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """Binary (1-bit) quantization — the extreme end of the
    quantization ladder (:func:`sq8_encode` 4×, :func:`pq_encode` 8×,
    BQ **32×**): one sign bit per dimension, packed 32 bits to a word,
    so a 64-d float32 vector becomes two bigints. This is the storage
    layout of the modern hamming-first ANN stacks (Lucene/Elasticsearch
    BBQ, RaBitQ's sign core): at 100 TB the candidate scan reads 1/32nd
    of the bytes and the distance kernel is two XOR+popcounts.

    Engine-exact trivially: each bit is one ``x > 0`` comparison (no
    arithmetic at all), packing is a sum of distinct powers of two
    capped at 2³²−1 per word — no overflow, no float ops anywhere.

    Returns ``(id, words array<bigint>)`` — ``ceil(d/32)`` words, bit
    ``i % 32`` of word ``i // 32`` set iff dimension ``i`` is positive.

    Scale shape: one narrow projection — no shuffle, no UDF; words
    live in-row beside the id exactly like minhash signatures do."""
    v = F.col(vec_col)
    # shiftleft() takes only a literal shift count, so the per-index
    # power of two comes from a constant lookup array instead
    pow2 = F.array(
        *[F.lit(1 << b).cast("bigint") for b in range(BQ_WORD_BITS)]
    )
    contribs = F.transform(
        v,
        lambda x, i: F.when(
            x.cast("double") > 0,
            F.element_at(pow2, (i % BQ_WORD_BITS) + 1),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    n_words = F.ceil(F.size(v) / F.lit(BQ_WORD_BITS)).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda j: F.aggregate(
            F.slice(contribs, j * BQ_WORD_BITS + 1, BQ_WORD_BITS),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    return corpus.select(
        F.col(id_col), words.alias("words"), *[F.col(c) for c in extra_cols]
    )


def bq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: int | None = None,
) -> DataFrame:
    """Hamming top-k over :func:`bq_encode` sign words: per candidate
    the distance kernel is ``Σ bit_count(xor(word, word))`` — pure
    integer codegen, no tables, no float reads. Sign-bit hamming is a
    monotone estimate of angular distance (the same guarantee sign-LSH
    banking relies on), so ranking ascending by it approximates
    cosine top-k; ties break to the lower neighbour id. Integer
    outputs only, hence hash-checkable.

    This is the coarse stage of the standard BBQ two-stage search:
    ``rerank=r`` widens the hamming shortlist to r and
    :func:`_exact_rerank` refines with exact cosine on the raw
    vectors — at 32× compression the shortlist must out-width the
    hamming tie groups (hamming takes only d+1 distinct values), so
    size r ≳ 8·k; the recall ladder (ANN_RECALL.json) measures both
    stages.

    Scale shape: queries encode to two words and broadcast; corpus
    words never shuffle; candidates are Q×N (linear in N) — at
    production scale compose with the IVF cell join exactly as
    :func:`pq_topk` does via :func:`ivf_pq_topk`."""
    enc = bq_encode(corpus, vec_col, id_col).withColumnRenamed(id_col, "nid")
    q = bq_encode(queries, vec_col, id_col).select(
        F.col(id_col).alias("qid"), F.col("words").alias("qwords")
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("qwords"),
            F.col("words"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("int")
    scored = enc.join(F.broadcast(q), F.col("qid") != F.col("nid")).select(
        "qid", "nid", hamming.alias("hamming")
    )
    return _ranked_shortlist(
        scored,
        _bq_order(),
        ["qid", "nid", "hamming"],
        k,
        rerank,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def ivf_sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    sq_quant: int = SQ8_QUERY_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    rerank: int | None = None,
) -> DataFrame:
    """Composed IVF×SQ8 search — the wired form of the corpus-scale
    composition :func:`sq8_topk`'s docstring promises (the r5 lesson:
    documented ≠ wired). Cell routing is the deterministic hashed-IVF
    machinery of :func:`ivf_topk_hashed` (integer-grid argmin cells,
    engine-exact); candidate scoring is :func:`sq8_topk`'s table-free
    integer ADC over int8 codes. Per-query candidates shrink from N to
    O(N·n_probe/n_cells) AND each candidate read is a quarter the
    bytes of the float vectors — the two savings multiply, which is
    the point of the composition at 100 TB.

    Plan shape: corpus side shuffles ONCE (the assignment groupBy —
    codes are a projection on top of it); the search join is a
    broadcast HASH join on ``cell``; no full-corpus nested loop.
    Output and tiebreak contract are exactly :func:`sq8_topk`'s
    (integer outputs, hash-checkable); ``rerank=r`` refines the
    shortlist with exact cosine on the raw vectors."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(sq_quant) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("qq"),
    )
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        carry=("qq",),
    )
    enc = (
        sq8_encode(assigned, vec_col, id_col, extra_cols=("cell",))
        .where(F.col("code_norm_sq") > 0)
        .withColumnRenamed(id_col, "nid")
    )
    ip = F.aggregate(
        F.zip_with(
            F.col("qq"), F.col("codes"), lambda a, b: a * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(probes)
        .join(enc, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", ip.alias("ip"), "code_norm_sq")
    )
    return _ranked_shortlist(
        scored,
        _sq8_order(),
        ["qid", "nid", "ip", "code_norm_sq"],
        k,
        rerank,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def ivf_bq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    rerank: int | None = None,
) -> DataFrame:
    """Composed IVF×BQ search — :func:`ivf_sq8_topk`'s twin at the
    32× rung: hashed-IVF cell routing, then :func:`bq_topk`'s
    XOR+popcount hamming kernel over the probed cells only. The
    candidate scan reads 1/32nd of the float bytes AND only
    n_probe/n_cells of the corpus — at 100 TB this is the cheapest
    first stage the ladder offers, and (hamming being tie-dense)
    the one that most needs its ``rerank=`` refine stage, measured
    in ANN_RECALL.json. Output/tiebreak contract is exactly
    :func:`bq_topk`'s (integer outputs, hash-checkable)."""
    qenc = bq_encode(queries, vec_col, id_col).select(
        F.col(id_col).alias("qid"), F.col("words").alias("qwords")
    )
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).join(qenc, "qid")
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, seed,
        carry=("qwords",),
    )
    enc = bq_encode(
        assigned, vec_col, id_col, extra_cols=("cell",)
    ).withColumnRenamed(id_col, "nid")
    hamming = F.aggregate(
        F.zip_with(
            F.col("qwords"),
            F.col("words"),
            lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("int")
    scored = (
        F.broadcast(probes)
        .join(enc, ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", hamming.alias("hamming"))
    )
    return _ranked_shortlist(
        scored,
        _bq_order(),
        ["qid", "nid", "hamming"],
        k,
        rerank,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    dim: int = 64,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = PQ_SEED,
    rerank: int | None = None,
) -> DataFrame:
    """Composed IVF×PQ search — the full Jégou-style ANN index
    :func:`pq_topk`'s docstring promises: each query's ADC scan covers
    only its ``n_probe`` probed IVF cells, so candidates are
    O(N·n_probe/n_cells), never the corpus, and the per-query ranking
    window shrinks by the same factor. This removes the Q×N
    broadcast-NLJ + window shuffle that makes plain :func:`pq_topk` the
    bench's heaviest query (VERDICT r3 "What's wrong" #3).

    One codebook serves both roles (the standard shared-quantizer IVF-PQ
    trim): the ``codebook_k`` hash-sampled seed vectors are the PQ
    subspace codebooks AND the IVF coarse centroids — a vector's cell is
    its nearest seed by WHOLE-vector grid L2, which is just the SUM of
    the per-subspace distances already computed for encoding, so cell
    assignment adds zero distance work and no extra shuffle: one
    crossJoin(broadcast seeds) + one groupBy(id) yields (codes, cell)
    together. Everything stays on the integer grid of
    :func:`_pq_grid_dist` ⇒ argmin, probe order, and ADC sums are
    engine-exact and the whole composition is hash-oracle-able.

    Plan shape (asserted in tests/test_plans.py): corpus side shuffles
    ONCE (the encode groupBy); the search join is a broadcast HASH join
    on ``cell`` (the per-query lookup tables explode to n_probe rows
    each — tiny); no full-corpus nested-loop anywhere. At 100 TB write
    the code table bucketed by cell and even the encode shuffle
    amortizes across queries.
    """
    sub = dim // m
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    seeds = (
        corpus.select(
            F.col(vec_col).alias("sv"), h.alias("_h"), F.col(id_col).alias("_sid")
        )
        .orderBy("_h", "_sid")
        .limit(codebook_k)
        .withColumn("rank", F.row_number().over(Window.orderBy("_h", "_sid")) - 1)
        .select("sv", "rank")
    )

    def cdist(j: int):
        return _pq_grid_dist(vec_col, "sv", j, sub, quant)

    def qdist(j: int):
        return _pq_grid_dist("qv", "sv", j, sub, quant)

    # -- corpus: codes + IVF cell in ONE pass --------------------------------
    pairs = corpus.select(id_col, vec_col).crossJoin(F.broadcast(seeds)).select(
        id_col, "rank", *[cdist(j).alias(f"_d{j}") for j in range(m)]
    )
    total = sum(F.col(f"_d{j}") for j in range(1, m)) + F.col("_d0")
    codes = pairs.groupBy(id_col).agg(
        *[
            (F.min(F.col(f"_d{j}") * codebook_k + F.col("rank")) % codebook_k)
            .cast("int")
            .alias(f"c{j}")
            for j in range(m)
        ],
        (F.min(total * codebook_k + F.col("rank")) % codebook_k)
        .cast("int")
        .alias("cell"),
    ).withColumnRenamed(id_col, "nid")

    # -- queries: ADC lookup tables + probed cells in ONE pass ---------------
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    qpairs = q.crossJoin(F.broadcast(seeds)).select(
        "qid", "rank", *[qdist(j).alias(f"_d{j}") for j in range(m)]
    )
    qtotal = sum(F.col(f"_d{j}") for j in range(1, m)) + F.col("_d0")
    tables = qpairs.groupBy("qid").agg(
        *[
            F.array_sort(
                F.collect_list(F.struct(F.col("rank"), F.col(f"_d{j}").alias("d")))
            ).alias(f"_t{j}")
            for j in range(m)
        ],
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(qtotal.alias("td"), F.col("rank")))
            ),
            1,
            n_probe,
        ).alias("_probes"),
    )
    probe_tables = tables.select(
        "qid",
        *[f"_t{j}" for j in range(m)],
        F.explode(
            F.transform(F.col("_probes"), lambda s: s["rank"])
        ).alias("cell"),
    )

    # -- search: equi-join on cell, ADC score, top-k -------------------------
    adist = None
    for j in range(m):
        term = F.element_at(F.col(f"_t{j}"), F.col(f"c{j}") + 1)["d"]
        adist = term if adist is None else adist + term
    scored = (
        codes.join(F.broadcast(probe_tables), ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", adist.alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("nid").asc())
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank else k))
        .select("qid", "nid", "adist", "rank")
    )
    if rerank:
        return _exact_rerank(shortlist, queries, corpus, k, vec_col, id_col)
    return shortlist


def _res_grid_arr(v: Column, cv: Column, quant: int) -> Column:
    """Residual on the integer grid, as a long array:
    ``g(v_i) − g(cv_i)`` per dimension with ``g(x) = floor(x·quant +
    0.5)`` — the same IEEE floor every other quantizer here uses, so
    the residual is engine-exact. Built ONCE per row (HOF lambdas run
    interpreted, but only N times), so the pair stage downstream is
    pure integer subtraction in codegen instead of re-flooring four
    doubles per element per codeword."""
    return F.zip_with(
        v,
        cv,
        lambda a, b: F.floor(a.cast("double") * quant + F.lit(0.5)).cast(
            "long"
        )
        - F.floor(b.cast("double") * quant + F.lit(0.5)).cast("long"),
    )


def _res_sub_dist(a_col: str, b_col: str, j: int, sub: int) -> Column:
    """Integer L2² between subvectors j of two PRECOMPUTED residual
    grid arrays (:func:`_res_grid_arr`) — ``Σ (a_i − b_i)²`` as an
    explicit expression-tree sum (stays inside whole-stage codegen;
    see :func:`_pq_grid_dist` for why not a fold). Operands are exact
    longs, so distances, argmins, and tiebreaks are bit-identical
    across engines. r13: built from column NAMES as one server-side-
    parsed expression (the :func:`_pq_grid_dist` py4j economics);
    identical tree, identical values."""

    def term(i: int) -> str:
        idx = j * sub + i
        d = f"element_at(`{a_col}`, {idx}) - element_at(`{b_col}`, {idx})"
        return f"(({d})) * (({d}))"

    return F.expr(" + ".join(term(i) for i in range(1, sub + 1)))


def ivf_pq_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    m: int = PQ_M,
    codebook_k: int = PQ_K,
    quant: int = PQ_QUANT,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_seed: str = IVF_SEED,
    seed: str = PQ_SEED,
    rerank: int | None = None,
) -> DataFrame:
    """RESIDUAL IVF-PQ (r7) — the textbook Jégou et al. IVF-ADC form:
    PQ encodes each vector's residual ``x − c(x)`` to its coarse
    centroid rather than the vector itself. Residuals concentrate near
    zero once the coarse quantizer has soaked up the between-cell
    variance, so the same code budget spends its resolution on the
    within-cell detail that actually ranks neighbours — this is why
    every production IVF-PQ index (FAISS IndexIVFPQ, Milvus, ScaNN's
    anisotropic variant) encodes residuals, and it is the piece the
    shared-quantizer trim in :func:`ivf_pq_topk` deliberately leaves
    out. The cost is per-probed-cell query work: the query's residual
    differs per cell, so ADC lookup tables are built per (query, probed
    cell) — n_probe·m tables instead of m, the standard IVF-ADC trade.

    Engine-exact throughout: residuals live on the shared integer grid
    (``g(x)−g(c)`` — a difference of the same IEEE floors every other
    quantizer here uses), the codebook is the hash-sampled seed
    vectors' OWN residuals to their assigned cells, and all distances/
    argmins/probe orders are integer packed-mins — the whole index is
    hash-oracle-able. With ``n_cells=1`` the centroid cancels
    identically (``(g(v)−g(c)) − (g(sv)−g(c)) = g(v)−g(sv)``) and the
    index degenerates to exactly :func:`pq_topk`'s codes and ADC sums
    — pinned by pytest as the flat↔composed bridge.

    Plan shape: corpus shuffles ONCE (the assignment groupBy; encode is
    a broadcast-codebook projection + one groupBy(id) with map-side
    partial mins); the search join is a broadcast HASH join on ``cell``
    against the per-(query, cell) tables; candidates are
    O(N·n_probe/n_cells). ``rerank=r`` refines with exact cosine."""
    sub = dim // m
    cents = hashed_centroids(corpus, n_cells, vec_col, id_col, cell_seed)
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    assigned, probes = _ivf_probes(
        q, corpus, n_cells, n_probe, dim, quant, vec_col, id_col, cell_seed,
        cents=cents,
    )
    # codebook: the hash-sampled seeds' residuals to THEIR cells
    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    seeds = (
        corpus.select(
            F.col(vec_col).alias("sv"), h.alias("_h"), F.col(id_col).alias("_sid")
        )
        .orderBy("_h", "_sid")
        .limit(codebook_k)
        .withColumn("rank", F.row_number().over(Window.orderBy("_h", "_sid")) - 1)
        .select("sv", "rank")
    )
    sassign = ivf_assign_hashed(
        seeds, cents, n_cells, dim, quant, vec_col="sv", id_col="rank"
    )
    cb = sassign.join(
        F.broadcast(cents.select("cell", F.col("cv").alias("wv"))), "cell"
    ).select("rank", "sv", "wv")

    # codeword residuals precomputed once per codebook row (k rows)
    cb = cb.select(
        "rank", _res_grid_arr(F.col("sv"), F.col("wv"), quant).alias("_wg")
    )

    # corpus: residual-encode inside the assigned cell (one groupBy);
    # the residual grid array is built once per row, so each of the k
    # codeword comparisons is pure integer subtraction in codegen
    withc = assigned.join(F.broadcast(cents), "cell").select(
        id_col,
        "cell",
        _res_grid_arr(F.col(vec_col), F.col("cv"), quant).alias("_rg"),
    )
    cpairs = withc.crossJoin(F.broadcast(cb)).select(
        id_col,
        "cell",
        "rank",
        *[
            _res_sub_dist("_rg", "_wg", j, sub).alias(f"_d{j}")
            for j in range(m)
        ],
    )
    codes = (
        cpairs.groupBy(id_col)
        .agg(
            F.any_value("cell").alias("cell"),
            *[
                (F.min(F.col(f"_d{j}") * codebook_k + F.col("rank")) % codebook_k)
                .cast("int")
                .alias(f"c{j}")
                for j in range(m)
            ],
        )
        .withColumnRenamed(id_col, "nid")
    )

    # queries: per-(qid, probed cell) ADC tables over the query residual
    qp = probes.join(F.broadcast(cents), "cell").select(
        "qid",
        "cell",
        _res_grid_arr(F.col("qv"), F.col("cv"), quant).alias("_qg"),
    )
    qpairs = qp.crossJoin(F.broadcast(cb)).select(
        "qid",
        "cell",
        "rank",
        *[
            _res_sub_dist("_qg", "_wg", j, sub).alias(f"_d{j}")
            for j in range(m)
        ],
    )
    tables = qpairs.groupBy("qid", "cell").agg(
        *[
            F.array_sort(
                F.collect_list(F.struct(F.col("rank"), F.col(f"_d{j}").alias("d")))
            ).alias(f"_t{j}")
            for j in range(m)
        ]
    )
    adist = None
    for j in range(m):
        term = F.element_at(F.col(f"_t{j}"), F.col(f"c{j}") + 1)["d"]
        adist = term if adist is None else adist + term
    scored = (
        codes.join(F.broadcast(tables), ["cell"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid", adist.alias("adist"))
    )
    return _ranked_shortlist(
        scored,
        [F.col("adist").asc(), F.col("nid").asc()],
        ["qid", "nid", "adist"],
        k,
        rerank,
        queries,
        corpus,
        vec_col,
        id_col,
    )


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the ``k`` MOST similar corpus vectors whose ``label_col``
    DIFFERS from the query's (the classic in-batch-negatives upgrade —
    DPR, Karpukhin et al. 2020 §5.2 "hard negatives" shape).

    Exact variant: broadcast the (small) query side so the corpus never
    shuffles; the label predicate rides the join condition so same-class
    pairs are dropped BEFORE scoring. At corpus scale, swap the
    broadcast NLJ for :func:`ivf_topk` probing and apply the label
    filter on the shortlist — same output contract.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlabel"),
    )
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    scored = (
        F.broadcast(q)
        .join(c, (F.col("qid") != F.col("nid")) & (F.col("qlabel") != F.col("nlabel")))
        .select(
            "qid",
            "qlabel",
            "nid",
            "nlabel",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "qlabel", "nid", "nlabel", "cos_sim", "rank")
    )


def knn_edges_bucketed(
    df: DataFrame,
    k: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int | None = None,
    max_bucket_size: int | None = None,
    target_cell_size: int = 32,
) -> DataFrame:
    """Directed k-nearest-neighbour edges within sign-LSH cells:
    ``(src, dst, cos_sim, rank)`` — each vector's ``k`` most similar
    same-cell neighbours. The candidate join is an EQUI-join on the cell
    (never all-pairs); within-cell fan-out is bounded by the cell size
    (``bits=None`` → ``auto_sign_bits`` scales cells with the corpus so
    occupancy stays ≈ ``target_cell_size`` — r4 VERDICT fix #3;
    ``max_bucket_size`` is the degenerate-cell valve, as everywhere in
    the pair family).

    ``df`` may be an :class:`IndexCorpus`: the cell and norm columns
    then derive from its memoized norm frame (same expressions) and
    ``bits=None`` from its memoized row count.
    """
    from .dedup import _cap_buckets

    if isinstance(df, IndexCorpus):
        if bits is None:
            bits = auto_sign_bits(df.count(), target_cell_size)
        cells = with_cell_rh(
            df.norm().select(
                F.col("_vid").alias(id_col),
                F.col("_vv").alias(vec_col),
                F.col("_vn").alias("_n"),
            ),
            vec_col,
            bits,
        )
    else:
        df, bits = _resolve_bits(df, bits, target_cell_size)
        cells = with_cell_rh(
            df.select(id_col, vec_col), vec_col, bits
        ).withColumn("_n", _norm(F.col(vec_col)))
    cells = _cap_buckets(cells, max_bucket_size, cols=("cell",))
    a = cells.select(
        F.col(id_col).alias("src"), F.col(vec_col).alias("av"), "cell",
        F.col("_n").alias("_na"),
    )
    b = cells.select(
        F.col(id_col).alias("dst"), F.col(vec_col).alias("bv"), "cell",
        F.col("_n").alias("_nb"),
    )
    scored = (
        a.join(b, "cell")
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            _cosine_prenorm(
                F.col("av"), F.col("bv"), F.col("_na"), F.col("_nb")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )


def mutual_knn_pairs(edges: DataFrame) -> DataFrame:
    """Undirected MUTUAL-kNN pairs (id_a < id_b): kept only when each
    endpoint ranks the other inside its own top-k — the symmetrization
    used by kNN-graph clustering (and SemDeDup's graph variant) to shed
    hub vertices. Self-join on the reversed edge key; rows ∝ kN both
    sides, so the join is linear in the edge list, never in N²."""
    fwd = edges.select("src", "dst", "cos_sim")
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        fwd.join(rev, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "cos_sim",
        )
    )


def norm_frame(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
) -> DataFrame:
    """The ``(_vid, _vv, _vn)`` id+vector+norm projection every
    graph-family operator joins per round — factored out (r13, guide
    §1.2 step 1) so a composed chain (build → insert → delete →
    refresh → search over slices of ONE corpus) materializes the
    corpus projection ONCE and derives each stage's side by a cheap
    filter over the cached rows (:meth:`IndexCorpus.norm`), instead of
    each stage paying its own eager materialization job. The norm
    expression is byte-identical to the inline builds it replaces
    (shared :func:`_norm`), so a slice of it is row-identical by
    construction (pytest-pinned).
    """
    v = corpus.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vv")
    ).withColumn("_vn", _norm(F.col("_vv")))
    if materialize:
        v = v.localCheckpoint(eager=True)
    return v


class IndexCorpus:
    """A vector corpus prepared once for the graph-ANN operators.

    :func:`knn_edges_bucketed`, :func:`knn_descent`,
    :func:`graph_refresh`, :func:`ring_overlay`,
    :func:`graph_search_topk`, :func:`graph_insert`,
    :func:`graph_delete` and :func:`graph_maintained_search` accept one
    wherever they take a vector DataFrame. Given a plain DataFrame an
    operator builds the artifacts below for its own call only, exactly
    as it always has; given an ``IndexCorpus`` every operator reads the
    same ones — shared materialized intermediates consumed by small
    operators ("Building Advanced SQL Analytics From Low-Level Plan
    Operators", PAPERS.md). Memoized:

    - :meth:`norm` — the materialized :func:`norm_frame`;
    - :meth:`overlay` — the hash-ring overlay, one per ``(seed,
      ring)``; the entry points are its ``pos < n_entry`` filter, and
      the ring edges are a lazy checkpoint: the first consumer's job
      materializes them, later consumers read the cached rows (a
      corpus an operator makes from a plain DataFrame leaves them a
      plain plan — they have one consumer there);
    - :meth:`count` — the exact row count, taken from an overlay's
      ranking (no separate count job).

    Each memo entry is a future: a thread that asks for an artifact
    another thread is building waits for it instead of building it
    again. So artifacts asked for by independent chains build side by
    side (:mod:`.overlap`), and a caller can start one beside a chain
    (``overlap(chain, lambda: c.overlay(n_entry, ring))``) for an
    operator inside the chain to pick up.

    ``where(cond)`` gives a slice over the same root; ``cond`` may
    reference only the id column. A slice's norm frame is the root's
    filtered by ``cond`` (no new materialization); its overlay and
    count are its own, since ring positions are dense over the slice's
    rows. ``a | b`` and ``a - b`` are the union and the difference of
    slices of one root, and the same operands give the same slice, so
    the alive corpus a caller derives as ``(base | batch) - dele`` is
    the one :func:`graph_maintained_search` derives. Every derived
    frame holds exactly the rows of the straight-line form, so results
    are row-identical (pytest-pinned).
    """

    def __init__(
        self,
        df: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        _materialize: bool = True,
        _per_call: bool = False,
        _root: IndexCorpus | None = None,
        _cond: Column | None = None,
    ):
        self.df, self.vec_col, self.id_col = df, vec_col, id_col
        self._materialize, self._per_call = _materialize, _per_call
        self._root, self._cond = _root or self, _cond
        self._memo: dict = {}
        self._lock = threading.Lock()

    def _check_root(self, other: IndexCorpus) -> None:
        if other._root is not self._root:
            raise ValueError("slices of different IndexCorpus roots")

    def _get(self, key, build):
        with self._lock:
            fut = self._memo.get(key)
            owner = fut is None
            if owner:
                fut = self._memo[key] = Future()
        if owner:
            try:
                fut.set_result(build())
            except BaseException as e:
                fut.set_exception(e)
                raise
        return fut.result()

    def where(self, cond: Column) -> IndexCorpus:
        if self._cond is not None:
            cond = self._cond & cond
        r = self._root
        return IndexCorpus(
            r.df.where(cond), r.vec_col, r.id_col, r._materialize,
            _root=r, _cond=cond,
        )

    def __or__(self, other: IndexCorpus) -> IndexCorpus:
        self._check_root(other)

        def build():
            if self._cond is None or other._cond is None:
                return self._root
            return self._root.where(self._cond | other._cond)

        return self._get(("|", other), build)

    def __sub__(self, other: IndexCorpus) -> IndexCorpus:
        self._check_root(other)
        return self._get(("-", other), lambda: self.where(~other._cond))

    def norm(self) -> DataFrame:
        """The ``(_vid, _vv, _vn)`` :func:`norm_frame`."""
        if self._cond is None:
            return self._get(("norm",), lambda: norm_frame(
                self.df, self.vec_col, self.id_col, self._materialize
            ))
        return self._get(("norm",), lambda: (
            self._root.norm()
            .withColumnRenamed("_vid", self.id_col)
            .where(self._cond)
            .withColumnRenamed(self.id_col, "_vid")
        ))

    def overlay(
        self, n_entry: int = 4, ring: int = 4, seed: str = IVF_SEED
    ) -> tuple[DataFrame, DataFrame]:
        """``(ringe, entries)`` of :func:`ring_overlay`."""
        pos, ringe, _n = self._get(
            ("overlay", seed, ring),
            lambda: _ring_overlay(
                self.df, ring, self.id_col, seed, self._materialize,
                pin=self._materialize and not self._root._per_call,
            ),
        )
        entries = pos.where(F.col("pos") < n_entry).select(
            F.col(self.id_col).alias("nid")
        )
        return ringe, entries

    def count(self) -> int:
        """The exact row count: an overlay's ranking total when one is
        built or building, else one count over the norm frame."""
        with self._lock:
            ov = [f for k, f in self._memo.items() if k[0] == "overlay"]
        if ov:
            return ov[0].result()[2]
        return self._get(("count",), lambda: self.norm().count())


def _frame(x: DataFrame | IndexCorpus) -> DataFrame:
    return x.df if isinstance(x, IndexCorpus) else x


def _as_corpus(
    x: DataFrame | IndexCorpus,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _materialize: bool = True,
) -> IndexCorpus:
    """``x`` itself, or a corpus whose artifacts serve one call: each
    has one consumer there, so its ring edges stay a lazy plan."""
    if isinstance(x, IndexCorpus):
        return x
    return IndexCorpus(x, vec_col, id_col, _materialize, _per_call=True)


def knn_descent(
    df: DataFrame | IndexCorpus,
    k: int = 3,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int | None = None,
    max_bucket_size: int | None = None,
    target_cell_size: int = 32,
    max_reverse: int | None = 16,
    ring: int = 2,
    seed: str = IVF_SEED,
    _materialize: bool = True,
    _materialize_final: bool = True,
) -> DataFrame:
    """(``_materialize_final=False`` — skip the LAST round's edge
    checkpoint when the caller reads the result exactly once (its job
    absorbs one round's plan — the graph_search_topk contract); r13
    optimization, row-identical.)

    kNN-graph construction by NN-DESCENT (Dong, Moses & Li, WWW
    2011): seed a directed top-``k`` graph, then repeatedly offer each
    node its neighbours' neighbours as candidates and keep the best
    ``k`` — "a neighbour of a neighbour is likely a neighbour".

    The seed is the within-cell sign-LSH graph
    (:func:`knn_edges_bucketed`) UNIONED with ``ring`` hash-ring links
    per node (its successors in ``md5(seed || id)`` order, wrapping).
    The ring is load-bearing, not decoration: within-cell seed edges
    make the candidate graph BLOCK-DIAGONAL — every
    neighbour-of-neighbour stays inside the cell, so descent alone can
    never recover a true neighbour across a hyperplane boundary
    (measured: recall frozen at the seed value for any number of
    rounds). The ring plays the role of classic NN-descent's random
    initialization — a deterministic, O(N·ring) connected overlay that
    crosses every cell — and each round then propagates real
    neighbours along it.

    Deterministic end to end — candidates are set-valued (distinct
    union), scores are the shared :func:`_cosine_prenorm` rounding,
    ranks tiebreak on ``dst`` — so the whole loop (seed cells, ring,
    every round's candidate set, final ranks) replays under the SQL
    oracle as unrolled CTE rounds, exactly like :func:`lloyd_centroids`
    replays k-means.

    Scale: one round = one self-join of the edge list on its middle
    vertex + one distinct + one top-k window. Forward degree is ``k``
    by construction; REVERSE degree is unbounded on hub vertices (the
    known NN-descent blowup), so ``max_reverse`` caps the in-edges a
    node offers back (deterministic smallest-``src`` sample — the
    same valve family as ``max_bucket_size``); per-round candidate
    rows are then ≤ N·(k + max_reverse)² + kN, independent of hub
    skew. The ring position is the dense 0..N-1 rank over (hash, id)
    computed by :func:`ranking.global_row_number` — a range exchange +
    per-range row_number, never a single-partition global sort, so the
    position frame scales like any other shuffle. Edges (``kN`` rows)
    localCheckpoint per
    round, so plan depth stays O(1) in ``rounds``. Returns ``(src,
    dst, cos_sim, rank)`` — each node's refined top-``k``;
    ``rounds=0, ring=0`` is exactly the sign-LSH seed graph.
    """
    # r13: every descent round's materialization job re-scans the
    # corpus and recomputes the norms to rebuild the va/vb score-join
    # sides (broadcast reuse does not cross job boundaries) — read the
    # corpus's one cached (id, vec, norm) frame instead, and feed the
    # SAME frame to the LSH seed so _resolve_bits' separate corpus
    # checkpoint drops too. The norm frame and the ring overlay are
    # independent eager chains → overlapped (guide §2.6). r14: the
    # overlay's ranking already collected the exact row count — the
    # auto-bits knob derives from it instead of a separate O(N) count
    # job (same count over the same rows, so every cell and edge is
    # identical by construction).
    c = _as_corpus(df, vec_col, id_col, _materialize)
    if ring:
        v, (ringe, _e) = overlap(c.norm, lambda: c.overlay(0, ring, seed))
    else:
        v = c.norm()
    if bits is None:
        bits = auto_sign_bits(c.count(), target_cell_size)
    edges = knn_edges_bucketed(
        c, k, vec_col, id_col, bits, max_bucket_size, target_cell_size
    )
    va = v.select(
        F.col("_vid").alias("src"), F.col("_vv").alias("av"),
        F.col("_vn").alias("_na"),
    )
    vb = v.select(
        F.col("_vid").alias("dst"), F.col("_vv").alias("bv"),
        F.col("_vn").alias("_nb"),
    )
    w_rank = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    if ring:
        # one shared src exchange for dedup + the seed-rank window
        # (the _nn_descent_rounds cand trick; 2 Exchange → 1)
        seedp = (
            edges.select("src", "dst")
            .union(ringe)
            .repartition("src")
            .dropDuplicates(["src", "dst"])
        )
        scored0 = (
            seedp.join(va, "src")
            .join(vb, "dst")
            .select(
                "src",
                "dst",
                _cosine_prenorm(
                    F.col("av"), F.col("bv"), F.col("_na"), F.col("_nb")
                ).alias("cos_sim"),
            )
        )
        edges = scored0.withColumn(
            "rank", F.row_number().over(w_rank)
        ).where(F.col("rank") <= k).select("src", "dst", "cos_sim", "rank")
        # with rounds the seed is referenced ~5× by round 1 → always
        # checkpoint; at rounds=0 the seed IS the result, so the
        # _materialize_final contract applies to it directly
        if _materialize and (rounds > 0 or _materialize_final):
            edges = edges.localCheckpoint(eager=True)
    return _nn_descent_rounds(
        edges, va, vb, rounds, k, max_reverse, _materialize,
        _materialize_final=_materialize_final,
    )


def _nn_descent_rounds(
    edges: DataFrame,
    va: DataFrame,
    vb: DataFrame,
    rounds: int,
    k: int,
    max_reverse: int | None,
    _materialize: bool,
    _materialize_final: bool = True,
) -> DataFrame:
    """The NN-descent round loop, shared verbatim by
    :func:`knn_descent` (cold build from LSH cells + ring) and
    :func:`graph_refresh` (warm re-descent from a maintained
    adjacency) — one definition so the two paths cannot drift (pinned:
    refresh(descent(a rounds), b rounds) ≡ descent(a+b rounds))."""
    w_rank = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    for _r in range(rounds):
        fwd = edges.select("src", "dst")
        rev = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        if max_reverse is not None:
            w_rev = Window.partitionBy("src").orderBy(F.col("dst").asc())
            rev = (
                rev.withColumn("_rr", F.row_number().over(w_rev))
                .where(F.col("_rr") <= max_reverse)
                .select("src", "dst")
            )
        und = fwd.union(rev)
        # repartition(src) + dropDuplicates + the top-k window SHARE one
        # exchange (guide §2.4: hash(src) co-locates (src,dst) groups,
        # so the dedup needs no second (src,dst) exchange and the rank
        # window none at all — plan: 2 Exchange → 1, verified; at
        # cluster scale the corpus-side score join also keys on src, so
        # the single src partitioning serves all three). Values
        # unchanged: dedup over co-located groups is exact.
        cand = (
            und.alias("a")
            .join(und.alias("b"), F.col("a.dst") == F.col("b.src"))
            .where(F.col("a.src") != F.col("b.dst"))
            .select(
                F.col("a.src").alias("src"), F.col("b.dst").alias("dst")
            )
            .union(fwd)
            .repartition("src")
            .dropDuplicates(["src", "dst"])
        )
        scored = (
            cand.join(va, "src")
            .join(vb, "dst")
            .select(
                "src",
                "dst",
                _cosine_prenorm(
                    F.col("av"), F.col("bv"), F.col("_na"), F.col("_nb")
                ).alias("cos_sim"),
            )
        )
        edges = (
            scored.withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= k)
            .select("src", "dst", "cos_sim", "rank")
        )
        # kN rows — materialize so the next round (and the final
        # consumer) reads a table instead of replaying every prior
        # round's join chain; same O(1)-plan-depth contract as
        # lloyd_centroids. _materialize=False is the plan-audit seam:
        # tests disable the checkpoints to assert on the FULL composed
        # lineage (checkpoints would hide it behind a scan).
        # r13 note: each eager localCheckpoint costs ~0.6 s of
        # driver-serialized JVM work at bench scale (measured), but a
        # descent round references `edges` ~5× (fwd, rev, und⋈und),
        # so skipping a round's checkpoint grows the next plan ~5× —
        # measured SLOWER at every-2 (11.2 s vs 9.6 s) and 3× worse
        # at every-4; the per-round cadence stays. The LAST round's
        # checkpoint is skippable via _materialize_final when the
        # caller reads the result exactly once (its job absorbs one
        # round's plan — the graph_search_topk _materialize_final
        # contract).
        if _materialize and (_r < rounds - 1 or _materialize_final):
            edges = edges.localCheckpoint(eager=True)
    return edges


def graph_refresh(
    graph: DataFrame,
    corpus: DataFrame | IndexCorpus,
    k: int = 8,
    rounds: int = 1,
    max_reverse: int | None = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _materialize: bool = True,
    _materialize_final: bool = True,
    _seed_ranked: bool = False,
) -> DataFrame:
    """(``_materialize_final=False`` — skip the last round's checkpoint
    when the caller reads the result exactly once; ``_seed_ranked=True``
    — trust the input graph's existing ``rank`` column instead of
    recomputing the normalization window. Only pass ``_seed_ranked``
    for a MAINTENANCE OUTPUT of this module (knn_descent /
    graph_apply_delta / graph_insert / graph_delete results, k-capped
    at the same ``k``): those frames carry rank = row_number over
    (cos_sim desc, dst asc) per src with complete per-src lists by
    construction, so the recomputed window is bit-identical to the
    stored column (pytest-pinned) — but round 1 references the seed
    ~5×, and the un-checkpointed window costs one full-graph exchange
    + sort PER REFERENCE (4 redundant kN-row shuffles at any scale);
    r13 optimizations, row-identical.)

    Warm-started re-descent over a MAINTAINED adjacency — the
    REFRESH leg of the graph-index lifecycle, the analogue of
    :func:`ivf_retrain_delta`'s warm start, and the periodic step the
    documented maintenance boundary promises (SCALE.md: batch inserts
    form no new→new links and local delete-repair misses tail edges a
    global rebuild would find — production interleaves incremental ops
    with re-descent; this IS that re-descent, declared).

    Runs ``rounds`` NN-descent rounds (the exact
    :func:`_nn_descent_rounds` loop :func:`knn_descent` uses — pinned:
    refreshing a ``rounds=a`` build for ``b`` rounds equals a
    ``rounds=a+b`` build) seeded from the CURRENT graph instead of LSH
    cells + ring. Because the seed is an already-navigable graph, the
    warm refresh converges in 1-2 rounds where a cold build needs 4 —
    the same economics as the warm codebook refresh. At the exact
    top-``k`` fixpoint a refresh round is a no-op (pinned), so
    refreshing is always safe.

    Scale: per round ≤ N·(k + max_reverse)² candidate rows — identical
    to a build round; ``graph`` must carry scored rows (src, dst,
    cos_sim), which every maintenance output in this module does.
    Returns the refreshed ``(src, dst, cos_sim, rank)`` top-``k``."""
    # r13: one cached (id, vec, norm) frame per refresh — see the
    # knn_descent note (per-round broadcast rebuilds don't cross jobs)
    v = _as_corpus(corpus, vec_col, id_col, _materialize).norm()
    va = v.select(
        F.col("_vid").alias("src"), F.col("_vv").alias("av"),
        F.col("_vn").alias("_na"),
    )
    vb = v.select(
        F.col("_vid").alias("dst"), F.col("_vv").alias("bv"),
        F.col("_vn").alias("_nb"),
    )
    w_rank = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    # normalize the warm seed to ranked top-k (maintenance outputs are
    # already exactly this shape, so for them the re-rank is a no-op —
    # _seed_ranked skips recomputing it, see the docstring)
    if _seed_ranked:
        edges = graph.select("src", "dst", "cos_sim", "rank").where(
            F.col("rank") <= k
        )
    else:
        edges = (
            graph.select("src", "dst", "cos_sim")
            .withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= k)
        )
    return _nn_descent_rounds(
        edges, va, vb, rounds, k, max_reverse, _materialize,
        _materialize_final=_materialize_final,
    )


def _ring_overlay(
    df: DataFrame,
    ring: int,
    id_col: str,
    seed: str,
    materialize: bool,
    pin: bool,
) -> tuple[DataFrame, DataFrame, int]:
    """``(pos, ringe, n_total)`` for :meth:`IndexCorpus.overlay`: the
    dense ring positions, the successor edges (checkpointed when
    ``pin``), and the exact row count the ranking's offsets collect
    already holds (r14, guide §1.2 step 1: a caller's auto-bits count
    over the same rows is free)."""
    from wasaffi_spark.operators import ranking

    h = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    ranked, n_total = ranking.global_row_number_with_total(
        df.select(id_col).withColumn("_h", h),
        [F.col("_h").asc(), F.col(id_col).asc()],
        out_col="_grn",
    )
    pos = ranked.withColumn("pos", F.col("_grn") - F.lit(1)).select(
        id_col, "pos"
    )
    if materialize:
        pos = pos.localCheckpoint(eager=True)
    ringe = (
        pos.withColumn(
            "_j",
            F.explode(F.array(*[F.lit(j) for j in range(1, ring + 1)])),
        )
        .withColumn(
            "_tp", F.pmod(F.col("pos") + F.col("_j"), F.lit(n_total))
        )
        .join(
            pos.select(
                F.col(id_col).alias("_did"), F.col("pos").alias("_tp")
            ),
            "_tp",
        )
        .where(F.col(id_col) != F.col("_did"))
        .select(F.col(id_col).alias("src"), F.col("_did").alias("dst"))
    )
    if pin:
        # lazy: the first consumer's job materializes the edges and
        # later consumers read the cached rows, with no job of its own
        ringe = ringe.localCheckpoint(eager=False)
    return pos, ringe, n_total


def ring_overlay(
    corpus: DataFrame | IndexCorpus,
    n_entry: int = 4,
    ring: int = 4,
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    _materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The deterministic hash-ring overlay + entry points of
    :func:`graph_search_topk` and :func:`knn_descent`: a pure function
    of (corpus, seed, ring), which an :class:`IndexCorpus` builds once
    for every search and build over it. Returns ``(ringe, entries)``:
    the ring successor edges ``(src, dst)`` and the first ``n_entry``
    ring nodes ``(nid)``."""
    c = _as_corpus(corpus, id_col=id_col, _materialize=_materialize)
    return c.overlay(n_entry, ring, seed)


def graph_search_topk(
    queries: DataFrame | IndexCorpus,
    graph: DataFrame,
    corpus: DataFrame | IndexCorpus,
    k: int = 3,
    beam: int = 8,
    rounds: int = 4,
    n_entry: int = 4,
    ring: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    _materialize: bool = True,
    _materialize_final: bool = True,
) -> DataFrame:
    """(``_materialize_final=False`` — skip the LAST frontier checkpoint
    when the caller immediately re-materializes the result (e.g.
    :func:`graph_insert`'s ``found``), folding two back-to-back
    materialization jobs into one; r13 optimization, row-identical.)

    Greedy beam search over a prebuilt kNN graph — the SEARCH side
    of :func:`knn_descent`'s build side, the HNSW-layer-0 shape
    (Malkov & Yashunin, TPAMI 2020): start each query at deterministic
    entry points, repeatedly offer the beam its graph neighbours, keep
    the ``beam`` best, answer with the top-``k`` after ``rounds``
    bounded expansion steps.

    The searched edge set is ``graph`` UNION ``ring`` hash-ring
    successors per node — the SAME deterministic overlay the build
    side uses, playing the role of DiskANN/Vamana's retained long
    edges (or HNSW's upper layers): a refined kNN graph on clustered
    data is block-diagonal BETWEEN clusters, so pure greedy ascent
    from a distant entry point stalls in the entry's cluster (measured
    on the planted-cluster corpus: recall froze at 0.125 without the
    overlay, 0.96 with it — the exact navigability failure the ring
    fixes for the build, recurring on the search side).

    Entry points are the first ``n_entry`` nodes of that hash ring
    (via :func:`ranking.global_row_number` — no single-partition
    sort), so the whole search is a pure function of (corpus, seed):
    batched rather than per-query-sequential (classic best-first pops
    one candidate at a time; expanding the whole beam per round is the
    batch form that maps to joins), with bounded rounds instead of a
    data-dependent termination test — which is exactly what makes it
    oracle-unrollable like the build side.

    Deterministic end to end: scores are the shared 6-dp rounded
    cosine, beam membership tiebreaks on ``nid`` — each round replays
    as one unrolled CTE block (expand ∪ keep → distinct → score →
    top-beam window).

    Scale: per round the frontier is Q·beam rows, the expansion join
    touches ≤ Q·beam·(k+ring) edges (equi-join on ``src``), and
    scoring joins the corpus by id for the candidate vectors — the
    corpus itself never rescans; work is O(Q·beam·(k+ring)·rounds),
    independent of N once the graph is built. Frontiers
    localCheckpoint per round (plan depth O(1) in ``rounds``;
    ``_materialize=False`` is the plan-audit seam). Returns ``(qid,
    nid, cos_sim, rank)``, rank 1..k; recall measured in
    tools/ann_recall.py vs the IVF rungs."""
    # r13: q and c feed every round's score join — read each side's
    # cached norm frame so the per-round materialization jobs read
    # cached rows instead of re-deriving corpus+norms (see the
    # knn_descent note); whatever still builds here (q, c, overlay) is
    # independent eager chains → overlapped (guide §2.6)
    qc = _as_corpus(queries, vec_col, id_col, _materialize)
    cc = _as_corpus(corpus, vec_col, id_col, _materialize)
    qn, cn, (ringe, entries) = overlap(
        qc.norm, cc.norm, lambda: cc.overlay(n_entry, ring, seed)
    )
    q = qn.select(
        F.col("_vid").alias("qid"), F.col("_vv").alias("qv"),
        F.col("_vn").alias("_nq"),
    )
    c = cn.select(
        F.col("_vid").alias("nid"), F.col("_vv").alias("nv"),
        F.col("_vn").alias("_nn"),
    )
    g = graph.select("src", "dst")
    if ring:
        g = g.union(ringe).distinct()
        if _materialize:
            g = g.localCheckpoint(eager=True)
    w_beam = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid").asc()
    )

    def _score_topn(pairs: DataFrame, n: int) -> DataFrame:
        scored = (
            pairs.join(q, "qid")
            .join(c, "nid")
            .where(F.col("qid") != F.col("nid"))
            .select(
                "qid",
                "nid",
                _cosine_prenorm(
                    F.col("qv"), F.col("nv"), F.col("_nq"), F.col("_nn")
                ).alias("cos_sim"),
            )
        )
        return (
            scored.withColumn("rank", F.row_number().over(w_beam))
            .where(F.col("rank") <= n)
            .select("qid", "nid", "cos_sim", "rank")
        )

    frontier = _score_topn(
        q.select("qid").crossJoin(F.broadcast(entries)), beam
    )
    # r13 note: a sparser checkpoint cadence was measured SLOWER here
    # (every-2: 16.9 s vs 12.4 s warm for the declared query) — each
    # round references the frontier twice and the edge frame once, so
    # skipped checkpoints multiply the analyzed plan; the per-round
    # cadence stays. The LAST round's checkpoint is skippable via
    # _materialize_final (the result is referenced once, so the
    # caller's own materialization absorbs exactly one round's plan).
    if _materialize and (rounds > 0 or _materialize_final):
        frontier = frontier.localCheckpoint(eager=True)
    for _r in range(rounds):
        # one shared qid exchange for dedup + the beam window (the
        # _nn_descent_rounds cand trick; 2 Exchange → 1 — the scoring
        # joins are id-equi lookups that leave qid partitioning intact)
        expanded = (
            frontier.select("qid", F.col("nid").alias("src"))
            .join(g, "src")
            .select("qid", F.col("dst").alias("nid"))
            .union(frontier.select("qid", "nid"))
            .repartition("qid")
            .dropDuplicates(["qid", "nid"])
        )
        frontier = _score_topn(expanded, beam)
        if _materialize and (_r < rounds - 1 or _materialize_final):
            frontier = frontier.localCheckpoint(eager=True)
    return frontier.where(F.col("rank") <= k)


def graph_insert(
    batch: DataFrame | IndexCorpus,
    graph: DataFrame,
    base: DataFrame | IndexCorpus,
    k: int = 8,
    beam: int = 8,
    rounds: int = 4,
    n_entry: int = 4,
    ring: int = 4,
    max_reverse: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    _materialize: bool = True,
) -> DataFrame:
    """Incremental graph-ANN index maintenance — the search-then-link
    INSERT of HNSW/Vamana (Malkov & Yashunin TPAMI 2020 §4 insert;
    DiskANN's FreshVamana shape): for every new vector in ``batch``,
    find its ``k`` nearest BASE nodes by :func:`graph_search_topk`
    over the frozen base ``graph``, emit those as the new node's
    out-adjacency, and SPLICE the reverse edges — each touched base
    node merges the new in-candidates into its existing out-list and
    re-ranks to the top-``k`` by the shared (cos desc, dst asc)
    contract. Reverse candidates per base node are valve-capped at
    ``max_reverse`` (deterministic smallest-new-id sample — the same
    valve :func:`knn_descent` uses for reverse degree), so one hub-shaped
    batch cannot blow up any node's merge.

    Batch semantics: the batch searches a FROZEN snapshot, so new→new
    links are not formed here (they appear at the next descent round /
    rebuild) — the standard batched-ingest contract; a production
    pipeline alternates append batches with periodic re-descent
    exactly like IVF alternates :func:`ivf_append` with re-training.

    Deterministic end to end (bounded search rounds, rounded-cosine
    scores, id tiebreaks), so the whole insert — base build replay,
    per-new-node beam search, valve, splice re-rank — unrolls under
    the DuckDB oracle.

    Scale: search is O(|batch|·beam·(k+ring)·rounds), independent of
    base size; the splice touches ≤ |batch|·k base adjacency lists
    (one equi-join on src + one bounded window) — the whole insert
    never scans the base corpus beyond the id-lookup joins of the
    search itself. Returns the updated adjacency slice:
    ``(src, dst, cos_sim, rank)`` for every new node (its fresh
    out-edges) and every spliced base node (its re-ranked out-edges).
    """
    # _materialize_final=False: the found checkpoint right below would
    # otherwise re-materialize the search's already-checkpointed last
    # frontier back-to-back — folding the two jobs into one (r13)
    found = graph_search_topk(
        batch, graph, base, k=k, beam=beam, rounds=rounds,
        n_entry=n_entry, ring=ring, vec_col=vec_col, id_col=id_col,
        seed=seed, _materialize=_materialize, _materialize_final=False,
    )
    if _materialize:
        found = found.localCheckpoint(eager=True)
    fwd = found.select(
        F.col("qid").alias("src"), F.col("nid").alias("dst"),
        "cos_sim", "rank",
    )
    # reverse candidates: base node <- new node, same rounded score;
    # valve: each base node accepts at most max_reverse in-candidates
    # (smallest new id first — knn_descent's reverse-valve contract)
    w_valve = Window.partitionBy("src").orderBy(F.col("dst").asc())
    revc = (
        found.select(
            F.col("nid").alias("src"), F.col("qid").alias("dst"), "cos_sim"
        )
        .withColumn("_rr", F.row_number().over(w_valve))
        .where(F.col("_rr") <= max_reverse)
        .select("src", "dst", "cos_sim")
    )
    affected = revc.select("src").distinct()
    old = graph.join(affected, "src").select("src", "dst", "cos_sim")
    w_rank = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    upd = (
        old.unionByName(revc)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )
    return fwd.unionByName(upd)


def graph_delete(
    delete_ids: DataFrame | IndexCorpus,
    graph: DataFrame,
    corpus: DataFrame | IndexCorpus,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    _materialize: bool = True,
) -> DataFrame:
    """Incremental graph-ANN DELETE with repair — the other half of
    :func:`graph_insert`'s maintenance story (the FreshDiskANN /
    FreshVamana delete rule, Singh et al. 2021): removing a node must
    not just drop edges, it must PATCH the holes it leaves, or the
    graph fragments and search recall silently decays as deletions
    accumulate.

    For a deleted set ``D``: (1) all adjacency rows of ``D`` itself
    are dropped; (2) every surviving node ``b`` with an edge into some
    ``d ∈ D`` loses that edge and receives ``d``'s out-neighbours
    (minus ``D``, minus itself) as REPAIR CANDIDATES — the local
    detour around the hole; (3) ``b``'s surviving edges ∪ scored
    repair candidates re-rank to the top-``k`` by the shared
    (cos desc, dst asc) contract. Deterministic end to end, so the
    oracle replays drop, bridge, scoring, and re-rank.

    Scale: the bridge join touches |edges into D| × k candidate rows
    and only AFFECTED adjacency lists re-rank — never the whole graph;
    scoring joins the corpus by id for candidate vectors only (a plain
    DataFrame corpus is read through a lazy id+vec+norm projection, an
    :class:`IndexCorpus` through its cached norm frame). Returns
    the updated adjacency slice ``(src, dst, cos_sim, rank)`` for
    every affected node (rows for unaffected nodes are unchanged by
    definition; deleted nodes emit nothing)."""
    d = _frame(delete_ids).select(F.col(id_col).alias("_did")).distinct()
    if _materialize:
        d = d.localCheckpoint(eager=True)
    g = graph.select("src", "dst", "cos_sim")
    # edges b -> d into the deleted set (b itself surviving)
    into = (
        g.join(d, g.src == F.col("_did"), "left_anti")
        .join(d, F.col("dst") == F.col("_did"))
        .select("src", F.col("dst").alias("_mid"))
    )
    affected = into.select("src").distinct()
    # d's out-neighbours = repair candidates around the hole
    dout = (
        g.join(d, g.src == F.col("_did"))
        .select(F.col("src").alias("_mid"), F.col("dst").alias("_cd"))
        .join(d, F.col("_cd") == F.col("_did"), "left_anti")
    )
    cand = (
        into.join(dout, "_mid")
        .select("src", F.col("_cd").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    v = (
        corpus.norm()
        if isinstance(corpus, IndexCorpus)
        else norm_frame(corpus, vec_col, id_col, materialize=False)
    )
    scored_cand = (
        cand.join(
            v.select(
                F.col("_vid").alias("src"), F.col("_vv").alias("av"),
                F.col("_vn").alias("_na"),
            ),
            "src",
        )
        .join(
            v.select(
                F.col("_vid").alias("dst"), F.col("_vv").alias("bv"),
                F.col("_vn").alias("_nb"),
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            _cosine_prenorm(
                F.col("av"), F.col("bv"), F.col("_na"), F.col("_nb")
            ).alias("cos_sim"),
        )
    )
    # surviving edges of the affected nodes (scores already on the graph)
    surv = (
        g.join(affected, "src")
        .join(d, F.col("dst") == F.col("_did"), "left_anti")
        .select("src", "dst", "cos_sim")
    )
    # a repair candidate can coincide with a surviving edge; the shared
    # rounded-cosine makes the rows byte-identical, so a set-union
    # dedups them exactly — on one src exchange shared with the re-rank
    # window below (the _nn_descent_rounds cand trick; 2 Exchange → 1)
    merged = (
        surv.union(scored_cand).repartition("src").dropDuplicates()
    )
    w_rank = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    return (
        merged.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )


def graph_apply_delta(graph: DataFrame, delta: DataFrame) -> DataFrame:
    """Apply an adjacency delta (the output of :func:`graph_insert` or
    :func:`graph_delete`) to a graph: both maintenance ops REWRITE the
    full out-adjacency of every node they touch, so application is
    latest-wins per ``src`` — one anti-join drops the touched nodes'
    old rows, the delta's rows take their place. Columns
    ``(src, dst, cos_sim, rank)``.

    This is the batch analogue of the ``batch_id``-partitioned
    latest-wins read in ``streaming/vectors.py::read_graph_state`` —
    same contract, one materialized frame instead of a partition
    window. Scale: one |V_touched| broadcast-ish anti-join; the
    untouched (vast) majority of the adjacency never moves."""
    cols = ["src", "dst", "cos_sim", "rank"]
    kept = graph.join(delta.select("src").distinct(), "src", "left_anti")
    return kept.select(*cols).unionByName(delta.select(*cols))


def graph_maintained_search(
    queries: DataFrame | IndexCorpus,
    graph: DataFrame,
    base: DataFrame | IndexCorpus,
    batch: DataFrame | IndexCorpus,
    delete_ids: DataFrame | IndexCorpus,
    k: int = 3,
    k_graph: int = 8,
    beam: int = 8,
    rounds: int = 4,
    n_entry: int = 4,
    ring: int = 4,
    max_reverse: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = IVF_SEED,
    _materialize: bool = True,
    _materialize_final: bool = True,
) -> DataFrame:
    """Search over a MAINTAINED graph index — the composed
    insert→delete→search chain a production graph-ANN pipeline
    actually serves (VERDICT r9 What's-missing #5; the graph analogue
    of ``ivf_append_topk``): what matters operationally is not the
    index delta itself but whether SEARCH is still good after CRUD.

    Steps, each an already-attested operator:

    1. :func:`graph_insert` links ``batch`` into the frozen ``graph``
       (HNSW/Vamana search-then-link, valve-capped reverse splice);
       the delta applies latest-wins per src
       (:func:`graph_apply_delta`).
    2. :func:`graph_delete` removes ``delete_ids`` (which may include
       just-inserted nodes — the FreshDiskANN interleaving) with local
       repair; the delta applies the same way, and the deleted nodes'
       own adjacencies drop.
    3. :func:`graph_search_topk` answers ``queries`` over the
       maintained adjacency, with the ring overlay + entry points
       recomputed over the ALIVE corpus (base ∪ batch − deleted) —
       exactly what a server would navigate after the CRUD settled.

    The final search's overlay and norm sides depend only on (corpus,
    delete_ids), not on the maintained adjacency, so they build on a
    driver thread OVERLAPPED with the insert→delete chain (guide §2.6)
    and their jobs back-fill the chain's idle cores. When ``base``,
    ``batch`` and ``delete_ids`` are slices of one :class:`IndexCorpus`
    every stage reads that corpus's artifacts, and the alive corpus is
    the slice ``(base | batch) - delete_ids``, so an overlay the caller
    started on it early is picked up here.

    Deterministic end to end (every stage shares the rounded-cosine /
    id-tiebreak contract), so the full chain — base-build replay,
    insert search+splice, delete repair, final beam search — unrolls
    under the DuckDB oracle.

    Scale: sums its parts — insert O(|batch|·beam·(k+ring)·rounds),
    delete ∝ |edges into D|·k, search O(|Q|·beam·(k+ring)·rounds) —
    all independent of base size post-build; the two delta
    applications are bounded anti-joins (graph_apply_delta). The
    documented boundary holds: batch inserts don't form new→new
    links and local repair is not a global rebuild — production
    interleaves this chain with periodic re-descent (SCALE.md).
    Returns ``(qid, nid, cos_sim, rank)``, rank 1..k."""
    d = _frame(delete_ids).select(F.col(id_col).alias("_did")).distinct()
    if all(isinstance(x, IndexCorpus) for x in (base, batch, delete_ids)):
        corpus = base | batch
        alive = corpus - delete_ids
    else:
        corpus = _frame(base).select(id_col, vec_col).unionByName(
            _frame(batch).select(id_col, vec_col)
        )
        alive = _as_corpus(
            corpus.join(d, F.col(id_col) == F.col("_did"), "left_anti"),
            vec_col, id_col, _materialize,
        )
    qc = _as_corpus(queries, vec_col, id_col, _materialize)

    def crud():
        ins = graph_insert(
            batch, graph, base, k=k_graph, beam=beam, rounds=rounds,
            n_entry=n_entry, ring=ring, max_reverse=max_reverse,
            vec_col=vec_col, id_col=id_col, seed=seed,
            _materialize=_materialize,
        )
        g1 = graph_apply_delta(graph, ins)
        if _materialize:
            g1 = g1.localCheckpoint(eager=True)
        rep = graph_delete(
            d.select(F.col("_did").alias(id_col)), g1, corpus, k=k_graph,
            vec_col=vec_col, id_col=id_col, _materialize=_materialize,
        )
        g2 = graph_apply_delta(g1, rep).join(
            d, F.col("src") == F.col("_did"), "left_anti"
        )
        if _materialize:
            g2 = g2.localCheckpoint(eager=True)
        return g2

    def prep():
        alive.overlay(n_entry, ring, seed)
        alive.norm()
        qc.norm()

    g2, _ = overlap(crud, prep)
    return graph_search_topk(
        qc, g2, alive, k=k, beam=beam, rounds=rounds,
        n_entry=n_entry, ring=ring, vec_col=vec_col, id_col=id_col,
        seed=seed, _materialize=_materialize,
        _materialize_final=_materialize_final,
    )


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing document embedding (the hashing trick with the
    sign variant — Weinberger et al. 2009): each token hashes to a
    dimension ``j = md5[0:8] % dim`` with sign ``±1`` from md5's 9th
    hex digit's parity; the document vector is the signed count per
    dimension. INTEGER components — so downstream dot products are
    integer sums, making cosine over these vectors engine-exact (the
    rare ANN pipeline whose scores carry no float-summation caveat at
    all).

    This is the deterministic text→vector bridge between the document
    corpus and the ANN/cluster family (brute-force/bucketed top-k,
    mutual-kNN, semantic dedup all accept it via ``vec_col``); swap in
    a learned encoder at production scale without touching any
    consumer — the vector column contract is the same.

    Returns ``(id_col, embedding array<bigint>, norm_sq bigint)``.
    Scale: explode_outer → sparse groupBy (id, j) with single-column
    map-side partial sums (one counter update per token row — a wide
    per-dimension conditional-sum variant was measured 30-40 % SLOWER
    here: it evaluates ``dim`` when-branches per token row), then a
    tiny groupBy (id) over ≤ dim rows/doc builds the dense vector.
    ``explode_outer`` keeps zero-token docs as a null-j row that the
    null-guarded collect_list skips (r6 — this removes the r5 form's
    third pass, a left join re-attaching empty docs).
    """
    from .hashing import md5_prefix_int

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    t = df.select(F.col(id_col), F.explode_outer(toks).alias("tok"))
    h = F.md5(F.col("tok"))
    j = F.pmod(md5_prefix_int(h, 8), F.lit(dim))
    s = F.when(
        F.pmod(F.conv(F.substring(h, 9, 1), 16, 10).cast("int"), F.lit(2))
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    g = (
        t.select(F.col(id_col), j.alias("j"), s.alias("s"))
        .groupBy(id_col, "j")
        .agg(F.sum("s").alias("v"))
    )
    # null-token (empty-doc) groups carry j = NULL; the when-guard makes
    # collect_list skip them, so empty docs keep a row with an empty map
    per_doc = g.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(
                F.when(
                    F.col("j").isNotNull(),
                    F.struct(F.col("j"), F.col("v")),
                )
            )
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda jj: F.coalesce(
            F.element_at(F.col("_m"), jj.cast("bigint")),
            F.lit(0).cast("bigint"),
        ),
    )
    norm_sq = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x * x,
    )
    return per_doc.select(
        F.col(id_col), dense.alias("embedding")
    ).withColumn("norm_sq", norm_sq)


def recall_at_k(
    result: DataFrame,
    truth: DataFrame,
    q_col: str = "qid",
    n_col: str = "nid",
) -> DataFrame:
    """Per-query overlap between an ANN result and the exact truth set —
    the integer core of every recall@k monitor: ``(qid, hits)`` where
    ``hits = |result ∩ truth|`` per query (queries with zero hits kept,
    via the truth side's query list).

    This is the nightly signal the maintenance legs act on: recall of
    the MAINTAINED index vs exact brute force on a sampled query set
    decides when to run :func:`graph_refresh` (see the
    maintained-vs-rebuilt and refreshed rungs in ANN_RECALL.json). One
    semi-join + one aggregate, both keyed on (query, neighbour) —
    at scale the sampled query set is small, so both sides broadcast.
    """
    hits = (
        result.join(truth, [q_col, n_col], "left_semi")
        .groupBy(q_col)
        .agg(F.count("*").alias("hits"))
    )
    qs = truth.select(q_col).distinct()
    return qs.join(hits, q_col, "left").select(
        q_col,
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
    )
