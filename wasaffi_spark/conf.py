"""Recommended session configuration.

One place encoding the engine's scale posture (SCALE.md): AQE with
partition coalescing and skew handling, Arrow transfers for every
Python-boundary crossing in batches that end at a row cap or a byte
budget, shuffle partitions sized to the core count, byte-sized file
splits for wide (media) rows, and a codegen class cache that holds the
graph controllers' generated classes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def recommended_builder(
    master: str | None = None,
    cpus: int | None = None,
    app_name: str = "wasaffi-spark",
) -> SparkSession.Builder:
    """A ``SparkSession.Builder`` with the engine's recommended configs.

    ``cpus`` sizes shuffle parallelism; on a real cluster leave it unset
    and size ``spark.sql.shuffle.partitions`` to ~2-3× total cores (AQE
    coalesces the excess at runtime).
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    if cpus:
        b = b.config("spark.sql.shuffle.partitions", str(max(cpus, 16)))
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the byte-sized partition target when coalescing
        # instead of stopping at the default-parallelism floor (the
        # Spark-documented production recommendation; optimization
        # guide §2.2: partitions sized by bytes, not by a core-count
        # constant). r13-measured on the iterative-round microbench:
        # ~5% at local bench scale (tiny frames coalesce below the
        # 32-partition floor), byte-proportional at cluster scale.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # smaller-than-default splits: media/doc rows are wide, so 64 MiB
        # keeps a task's row batch bounded by bytes rather than row count
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        # An Arrow batch across the JVM↔Python-worker boundary ends at
        # 65,536 rows or at 2 MiB, whichever comes first. The row cap
        # means fewer, larger batches for narrow rows (measured ~8% on
        # the UDF hot path vs the 10k default; 64k rows ≈ 0.5 MB per
        # double column). The byte budget splits a task's wide rows
        # (64-float lists, media payloads, documents) into several
        # batches, so the JVM encodes the next batch while the worker
        # runs the current one: 2 MiB is the smallest budget of a
        # 1/2/4/8 MiB sweep that leaves two-DOUBLE batches at the row
        # cap, and as fast as 1 MiB on 64-float rows (SCALE.md "UDF
        # runtime").
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2 * 1024 * 1024))
        # Whole-stage codegen compiles each plan shape into Java classes
        # (Janino) and keeps them in an LRU cache of 100 by default. One
        # graph-maintenance op (insert, delete, beam search) runs about
        # 180 distinct generated classes in a fixed order, so an LRU of
        # 100 evicts each class before its next use: every op compiled
        # them all again (~1 s of Janino per op) and ran them cold in
        # the interpreter. A 256/512/1024/2048 sweep over repeat runs of
        # the largest composed controllers (graph_policy_applied,
        # index_maintenance_policy, graph_recall_monitor; SCALE.md
        # "Global posture") found 1024 the smallest size at which
        # repeats compile close to nothing (the rest are new AQE plan
        # shapes); the retained classes cost a few MB of metaspace.
        # A static conf: it takes effect only when the JVM's first
        # session starts, and a builder reusing a running session
        # leaves the cache as it was.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
