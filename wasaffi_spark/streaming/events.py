"""Structured Streaming operators over the events stream.

The reference has no streaming surface (DataFusion v38 has no structured
streaming — SURVEY §2C last row); this is a north-star extension built
directly on Spark Structured Streaming: file source → event-time
transformations with watermarks → windowed aggregations, plus a custom
stateful operator via ``applyInPandasWithState``.

Batch/stream parity: each streaming query here has a batch twin in
``wasaffi_spark.operators.catalog`` (``events_tumbling``,
``events_sessions``, ``events_session_window``) computed by the same
expressions, and the tests assert the streaming result (run with an
``availableNow`` trigger over the fixture file) equals the batch result.

Scale notes: file-source streaming shards by file; watermarks bound the
window state store; ``applyInPandasWithState`` state is per-key and
partitioned by the grouping key — no driver state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.parquet import NANOS_AS_LONG, _nano_timestamp_cols


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet, normalizing the
    nano-precision ``ts`` exactly like the batch reader."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    ns_cols = _nano_timestamp_cols(path)
    if ns_cols:
        # Deliberately left set for the SESSION lifetime (unlike the
        # batch reader, which restores it): the streaming source re-reads
        # files at every micro-batch, long after this function returns,
        # and needs the conf live then. Side effect: later plain batch
        # reads of nano-timestamp files in the same session see those
        # columns as bigint — use sources.parquet.read_parquet, which
        # normalizes either way.
        spark.conf.set(NANOS_AS_LONG, "true")
    schema = spark.read.parquet(path).schema
    # the streaming file source wants a directory; a bare-file table is
    # streamed via its parent + filename glob, a directory table (Spark's
    # own part-*.parquet layout) directly — the glob would match nothing
    # against part filenames.
    reader = spark.readStream.schema(schema)
    if os.path.isdir(path):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    for c in ns_cols:
        # exact integer division — see sources/parquet.py
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # micro-precision fixtures arrive as TIMESTAMP_NTZ (parquet
    # isAdjustedToUTC=false + Spark's NTZ inference); watermarks demand
    # TIMESTAMP. The session tz is pinned UTC by every caller, so the
    # cast reinterprets the same wall-clock instant — value-preserving.
    for fld in df.schema.fields:
        if fld.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(fld.name, F.col(fld.name).cast("timestamp"))
    return df


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling windows per event_type with a late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "cnt", "sum_value")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour windows sliding every 15 minutes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "cnt",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per user (built-in ``session_window``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "cnt",
        )
    )


STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("v_max", T.DoubleType()),
    ]
)
USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def stateful_user_stats(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Running per-user statistics via ``applyInPandasWithState`` —
    the custom-stateful-operator escape hatch (SURVEY §7.6).

    The update function is defined inline so cloudpickle ships it BY
    VALUE: executors do not need ``wasaffi_spark`` on their python path
    (same cluster posture as the Arrow-native UDF runtime — see
    ``udf_runtime.build_pandas_udf``). State lives in the partitioned
    state store keyed by user_id; nothing accumulates on the driver.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_user_stats(key, pdfs, state):
        import pandas as pd

        n, v_max = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                v_max = max(v_max, float(pdf["value"].max()))
        state.update((n, v_max))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [v_max]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_user_stats,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_user_stats_tws(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """The same running per-user statistics on Spark 4's
    ``transformWithStateInPandas`` — the new arbitrary-state API that
    replaces ``applyInPandasWithState`` (typed state handles, multiple
    named states, timers, TTL). Kept alongside the legacy-API twin so
    both stateful surfaces stay pinned to the same batch oracle.

    Requires the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider``) — transformWithState's state
    layout is RocksDB-only; the test sets it per-session. At scale this
    is the preferred operator: RocksDB state spills off-heap and
    snapshots incrementally, so per-key state size no longer pressures
    executor heaps the way the default HDFS-backed store does.

    Environment note: the state protocol between the JVM and the Python
    stateful processor is protobuf-based; containers without
    ``google.protobuf`` cannot run it (the pinned equivalence test
    skip-marks itself and lights up wherever protobuf is present —
    the ``applyInPandasWithState`` twin above carries the exercised
    coverage meanwhile).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _UserStats(StatefulProcessor):
        # defined inline: cloudpickle ships the class BY VALUE, same
        # executor posture as every other Python island in the engine
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n BIGINT, v_max DOUBLE"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n, v_max = (
                self._stats.get() if self._stats.exists() else (0, float("-inf"))
            )
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    v_max = max(v_max, float(pdf["value"].max()))
            self._stats.update((n, v_max))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [v_max]}
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserStats(),
            outputStructType=USER_STATS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def sketch_distinct_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Continuous approximate distinct-user counts per tumbling hour via
    mergeable HLL sketches (operators/sketches.py is the batch analog).

    The sketch aggregate is ALGEBRAIC — Spark keeps one KB-sized sketch
    per window in the state store and merges each micro-batch's partial
    into it, so state size is O(windows), never O(distinct users). The
    same sketch bytes could be emitted instead of the estimate and
    rolled up across days later without reprocessing the stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias(
                "distinct_users"
            ),
            F.count("*").alias("cnt"),
        )
        .select(F.col("w.start").alias("hour_start"), "distinct_users", "cnt")
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` bounds the dedup state store by
    event time (the unbounded-state trap of plain dropDuplicates on an
    infinite stream). The streaming twin of exact corpus dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Execute a streaming frame with an availableNow trigger into an
    in-memory table; returns after the stream drains."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def countmin_cells_stream(
    events: DataFrame, item_col: str = "event_type"
) -> DataFrame:
    """Continuous count-min sketch maintenance over a stream: the state
    IS the ≤ depth×width cell table (operators/sketches.py), regardless
    of stream cardinality — the bounded-state twin of the HLL leg above,
    but for FREQUENCIES instead of distincts. Each micro-batch's cell
    partials merge by addition (algebraic aggregate), so the streamed
    table equals the batch ``countmin_table`` over the same data exactly
    (pinned by test); query it any time with ``countmin_query``. The
    batch builder works unchanged on a streaming frame (groupBy-agg in
    complete mode), so this is a one-line delegation by design."""
    from ..operators import sketches

    return sketches.countmin_table(events, item_col)


def view_click_join(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: every (view → click) pair for a user
    where the click lands within ``gap`` after the view — the canonical
    attribution join, and the one streaming shape the rest of this
    module doesn't cover (both inputs unbounded).

    Both sides carry watermarks and the join condition bounds click_ts
    relative to view_ts, so Spark can expire join state on BOTH sides
    (an un-bounded stream-stream join would buffer forever). State is
    keyed by user_id — partitioned, nothing driver-side. The batch twin
    is the same expressions on a static frame (pinned stream ≡ batch by
    the tests).
    """
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    if views.isStreaming:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    return views.join(
        clicks,
        F.expr(
            f"""user_id = c_user_id
                and click_ts > view_ts
                and click_ts <= view_ts + interval {gap}"""
        ),
    ).select("user_id", "view_id", "click_id", "view_ts", "click_ts")


EWMA_OUT_SCHEMA = "user_id bigint, event_id bigint, ewma_micro bigint"
EWMA_STATE_SCHEMA = "s bigint"


def ewma_stream(
    events: DataFrame,
    alpha_bp: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators/temporal.py::ewma`` — the same
    integer micro-unit recurrence ``s ← ⌊(α·x + (100−α)·s)/100⌋``
    carried as per-user state via ``applyInPandasWithState``: arriving
    rows fold in ``event_id`` order within each micro-batch, and the
    last smoothed value persists in the state store so the series
    continues seamlessly across batches. Emits one (user_id, event_id,
    ewma_micro) row per input event — bit-identical to the batch
    operator when per-key event_ids arrive monotonically across
    batches (an ordered log/CDC feed; the same contract every stateful
    stream fold carries). NULL keys/values are excluded, as in batch.

    Update function inline so cloudpickle ships it by value (executors
    need no package install — module posture, see stateful_user_stats).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    a = int(alpha_bp)

    def update_ewma(key, pdfs, state):
        import math

        import pandas as pd

        s = int(state.get[0]) if state.exists else None
        # concatenate EVERY Arrow chunk first, THEN sort once: the
        # iterator yields chunks that end at maxRecordsPerBatch rows or
        # maxBytesPerBatch bytes, whichever comes first, and a
        # per-chunk sort would fold events out of order whenever a
        # key's rows span chunks — silently breaking the
        # bit-identical-to-batch contract (review finding r5)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[pdf["value"].notna()].sort_values("event_id")
        out_u, out_e, out_s = [], [], []
        for eid, val in zip(pdf["event_id"], pdf["value"]):
            q = math.floor(float(val) * 1_000_000 + 0.5)
            # `//` not `/`: int/int true division rounds through a
            # 53-bit double before flooring, which can disagree with
            # the exact floor by 1 once |a·q + (100−a)·s| > 2^53; the
            # batch twin uses decimal(38,0) arithmetic for the same
            # reason (review finding r6)
            s = q if s is None else (a * q + (100 - a) * s) // 100
            out_u.append(int(key[0]))
            out_e.append(int(eid))
            out_s.append(int(s))
        if s is not None:
            state.update((int(s),))
        yield pd.DataFrame(
            {"user_id": out_u, "event_id": out_e, "ewma_micro": out_s}
        )

    return (
        events.where(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update_ewma,
            outputStructType=EWMA_OUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
