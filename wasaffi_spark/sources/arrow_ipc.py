"""Arrow IPC file source/sink (DataFusion external-table parity).

The reference's embedded engine registers Arrow-format files as external
tables (`CREATE EXTERNAL TABLE ... STORED AS ARROW`) and copies results
to them — DataFusion v38 ships an Arrow file format provider alongside
parquet/CSV/JSON (SURVEY §2C sources row). Spark has no built-in Arrow
file source, so this module supplies one Spark-first:

- **read**: schema sniffed driver-side from ONE file footer (same
  pattern as the parquet ns-timestamp sniff in ``sources/parquet.py``),
  then a distributed ``binaryFile`` scan + ``mapInPandas`` decode — each
  task decodes whole files with pyarrow, so parallelism = file count
  (the same unit every file source has) and bytes never pass through
  the driver.
- **write**: ``mapInArrow`` streams each partition's record batches
  straight into one IPC file per partition from inside the task —
  a genuinely distributed sink, no driver collect.

Both IPC framings are handled: the random-access *file* format
(``ARROW1`` magic, written here) and the *stream* format.
"""

from __future__ import annotations

import glob
import os
import uuid
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql import types as T

from ..udf_runtime import guard_zip_caches

ARROW_EXTENSIONS = (".arrow", ".arrows", ".feather", ".ipc")
_FILE_MAGIC = b"ARROW1"


def _arrow_files(path: str) -> list[str]:
    if os.path.isdir(path):
        out = [
            p
            for p in sorted(glob.glob(os.path.join(path, "*")))
            if p.endswith(ARROW_EXTENSIONS)
        ]
        if not out:
            raise FileNotFoundError(f"no Arrow IPC files under {path!r}")
        return out
    return [path]


def _open_ipc(source):
    """Open either IPC framing; returns a reader with ``.schema`` and
    batch iteration via ``read_all()``.  ``open_file`` seeks around for
    the footer before failing, so rewind before the stream fallback."""
    try:
        return pa.ipc.open_file(source)
    except pa.ArrowInvalid:
        source.seek(0)
        return pa.ipc.open_stream(source)


def sniff_schema(path: str) -> pa.Schema:
    """Driver-side: one file's schema (footer/stream header only)."""
    with open(_arrow_files(path)[0], "rb") as f:
        return _open_ipc(f).schema


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC scan: one task per file decodes with
    pyarrow and yields pandas frames (Arrow-native both sides of the
    worker boundary). Column pruning happens at decode (cheap — IPC is
    columnar); predicate evaluation is Spark-side.

    File-size ceiling: the ``binaryFile`` source refuses files above
    ``spark.sql.sources.binaryFile.maxLength`` (Int.MaxValue ≈ 2 GB),
    and one task holds one file's decoded columns — keep IPC files at
    the conventional 128 MB-1 GB (the same sizing discipline every
    whole-file format needs)."""
    arrow_schema = sniff_schema(path)
    spark_schema = T.StructType(
        [
            T.StructField(f.name, from_arrow_type(f.type), f.nullable)
            for f in arrow_schema
        ]
    )
    files_df = spark.read.format("binaryFile").load(_arrow_files(path))
    names = [f.name for f in arrow_schema]

    guard = guard_zip_caches

    def decode(batches: Iterator) -> Iterator:
        import io

        import pyarrow as _pa

        guard()
        for pdf in batches:
            for blob in pdf["content"]:
                buf = io.BytesIO(blob)
                try:
                    reader = _pa.ipc.open_file(buf)
                except _pa.ArrowInvalid:
                    buf.seek(0)
                    reader = _pa.ipc.open_stream(buf)
                tbl = reader.read_all().select(names)
                yield tbl.to_pandas()

    return files_df.select("content").mapInPandas(decode, schema=spark_schema)


def write_arrow_ipc(df: DataFrame, path: str) -> None:
    """Distributed Arrow IPC write: each partition streams its record
    batches into one ``part-<partition>.arrow`` file (IPC *file*
    framing) from inside its task. Empty partitions write nothing; an
    empty DataFrame still writes one schema-only file so reads
    round-trip.

    Filesystem scope: ``path`` must be a filesystem every executor AND
    the driver can reach — local mode, NFS/FUSE mounts, or any POSIX
    shared store. (An object store would need a Hadoop-committer-backed
    sink instead; that is out of scope for this DDL surface.)

    Task-retry safety: each task writes to a hidden temp name and
    ``os.rename``s into the deterministic per-partition final name on
    success (atomic on POSIX). A retried/speculative attempt overwrites
    the SAME final name rather than adding a duplicate part, and a
    crashed attempt leaves only a ``.tmp-`` file, which overwrite
    cleanup removes.

    Overwrite semantics (like ``df.write.mode("overwrite")``): Arrow
    part files and stale temps already under ``path`` are removed
    first, so a re-run can't mix old and new parts."""
    os.makedirs(path, exist_ok=True)
    for stale in glob.glob(os.path.join(path, "part-*.arrow")) + glob.glob(
        os.path.join(path, ".tmp-*")
    ):
        os.remove(stale)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(df.schema)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import os as _os
        import uuid as _uuid

        import pyarrow as _pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        final = _os.path.join(path, f"part-{pid:05d}.arrow")
        tmp = _os.path.join(path, f".tmp-{pid:05d}-{_uuid.uuid4().hex}")
        writer = None
        n = 0
        for batch in batches:
            if writer is None:
                writer = _pa.ipc.new_file(tmp, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            _os.rename(tmp, final)  # atomic commit; retries overwrite
        yield _pa.RecordBatch.from_pylist(
            [{"file": final, "rows": n}],
            schema=_pa.schema([("file", _pa.string()), ("rows", _pa.int64())]),
        )

    stats = df.mapInArrow(write_partition, schema="file string, rows bigint")
    total = stats.groupBy().sum("rows").collect()[0][0]
    if total is None or not glob.glob(os.path.join(path, "part-*.arrow")):
        # empty input: persist the schema so the table reads back
        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
        with pa.ipc.new_file(fname, arrow_schema) as w:  # noqa: F841
            pass
