"""Distributed exact global ranking — the scale-safe replacement for
``Window.orderBy(...)`` with no ``partitionBy`` (which Spark executes
as a SINGLE-partition sort: every row through one task, the classic
hidden bottleneck that turns an otherwise-linear pipeline superlinear
at 10× data — measured on ``dsir_select``, BENCH_SCALE r4).

Beyond-reference extension (the reference engine, /root/reference/, has
no ranking surface; DataFusion would hit the same single-partition sort
for an unpartitioned window).

The two-phase shape is the textbook distributed row-number:

1. ``repartitionByRange`` on the order key — a sampled range exchange,
   parallel, the same machinery as a global ``orderBy``;
2. per-range local ``row_number`` (window partitioned by the range id),
   plus the cumulative row count of all earlier ranges, fetched as an
   O(num_parts) scalar list to the driver (the legitimate-collect
   class: partition counts, never rows) and shipped back as a tiny
   broadcast-joined (range id → offset) frame — O(1) per row, never a
   partition-deep CASE chain.

Correctness does not depend on where the sampled range boundaries land:
the caller's order key must be TOTAL (include a unique tiebreaker such
as the id column — every call site in this repo already does, it is
what makes the rank oracle-able), so ``offset + local_rank`` is the
exact global rank for any boundary placement. Ranks are BIGINT —
int32 would silently wrap past 2³¹ rows, precisely the regime this
module exists for.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _ranked_with_total(
    df: DataFrame,
    order_by: list[Column],
    out_col: str,
    num_parts: int | None,
) -> tuple[DataFrame, int]:
    """(ranked frame, exact total row count) — the total falls out of
    the same offsets collect, so callers that need N (percent_rank,
    ntile) never pay a second full scan."""
    sc = df.sparkSession.sparkContext
    if num_parts is None:
        num_parts = sc.defaultParallelism
    ranged = df.repartitionByRange(num_parts, *order_by).localCheckpoint(
        eager=False
    )
    ranged = ranged.withColumn("_rpid", F.spark_partition_id())
    counts = sorted(
        (r["_rpid"], r["c"])
        for r in ranged.groupBy("_rpid").agg(F.count("*").alias("c")).collect()
    )
    pids, offs, acc = [], [], 0
    for pid, c in counts:
        pids.append(pid)
        offs.append(acc)
        acc += c
    # built from an Arrow table, the frame is a LocalRelation: no Python
    # worker task serializes it and no job broadcasts it
    offsets = pa.table(
        {"_rpid": pa.array(pids or [0], pa.int32()), "_off": pa.array(offs or [0], pa.int64())}
    )
    off_df = F.broadcast(df.sparkSession.createDataFrame(offsets))
    w = Window.partitionBy("_rpid").orderBy(*order_by)
    ranked = (
        ranged.withColumn("_lrn", F.row_number().over(w))
        .join(off_df, "_rpid", "left")
        .withColumn(
            out_col,
            (F.col("_lrn").cast("bigint") + F.coalesce(F.col("_off"), F.lit(0))),
        )
        .drop("_rpid", "_lrn", "_off")
    )
    return ranked, acc


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rnk",
    num_parts: int | None = None,
) -> DataFrame:
    """Adds ``out_col`` = exact 1-based global row number (BIGINT)
    under ``order_by`` (which MUST be a total order — include a unique
    tiebreaker) without ever materializing a single-partition sort.

    Cost: one range exchange + one hash exchange on the range id (both
    parallel) + an O(num_parts) count collect. The frame is
    ``localCheckpoint``-ed after the range exchange so the count pass
    and the rank pass read the same materialized layout (range
    boundaries are sampled; re-execution could legally resample).
    """
    ranked, _ = _ranked_with_total(df, order_by, out_col, num_parts)
    return ranked


def global_row_number_with_total(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rnk",
    num_parts: int | None = None,
) -> tuple[DataFrame, int]:
    """:func:`global_row_number` that ALSO returns the exact total row
    count — it falls out of the same offsets collect, so callers that
    need N (the hash-ring modulus in the graph-ANN operators) skip the
    separate ``count()`` job they would otherwise pay after
    materializing the ranked frame (r13 optimization)."""
    return _ranked_with_total(df, order_by, out_col, num_parts)


def global_percent_rank(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "pct",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact ``percent_rank`` = (rank − 1)/(N − 1) from the distributed
    row number; N comes from the SAME offsets collect (no second scan).

    NOTE on ties: SQL ``percent_rank`` uses RANK (ties share a value);
    this helper uses the caller's TOTAL order, so it equals the SQL
    function only when the order key is unique per row — same
    precondition as :func:`global_row_number`, which every call site
    satisfies by design (id tiebreaker).
    """
    ranked, n = _ranked_with_total(df, order_by, "_grn", num_parts)
    denom = max(n - 1, 1)
    return ranked.withColumn(
        out_col,
        F.round((F.col("_grn") - F.lit(1)).cast("double") / F.lit(denom), 6),
    ).drop("_grn")


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_by: list[Column],
    out_col: str = "bucket",
    num_parts: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_tiles)`` over a total order, from the distributed
    row number: with N rows, the first ``N mod k`` tiles take
    ``ceil(N/k)`` rows and the rest ``floor(N/k)`` — the SQL-standard
    (and Spark/DuckDB-identical) split, reproduced as a closed-form
    expression on the global rank. N comes from the same offsets
    collect (no second scan)."""
    if n_tiles < 1:
        raise ValueError(f"n_tiles must be >= 1, got {n_tiles}")
    ranked, n = _ranked_with_total(df, order_by, "_grn", num_parts)
    q, rem = divmod(n, n_tiles) if n else (0, 0)
    big = rem * (q + 1)  # rows covered by the first `rem` (larger) tiles
    r0 = F.col("_grn") - F.lit(1)  # 0-based
    if q == 0:  # n < n_tiles: ntile gives one row to each of the first n tiles
        bucket = r0 + F.lit(1)
    else:
        bucket = F.when(
            r0 < F.lit(big), F.floor(r0 / F.lit(q + 1)) + F.lit(1)
        ).otherwise(F.floor((r0 - F.lit(big)) / F.lit(q)) + F.lit(rem + 1))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_grn")
