"""The Engine: a thin, idiomatic wrapper around ``SparkSession``.

≙ DataFusion's ``SessionContext`` as used by the reference
(/root/reference/wasmedge_factory/examples/wasaffi.rs:10-27):

- ``Engine(spark, function_factory=...)`` ≙ ``SessionContext::new()
  .with_function_factory(...)`` (lib.rs:176-177)
- ``engine.register(name, df)`` ≙ ``ctx.register_batch`` (lib.rs:183)
- ``engine.sql(...)`` ≙ ``ctx.sql(...)`` (lib.rs:192-198): function DDL
  (``CREATE FUNCTION`` / ``DROP FUNCTION``) is intercepted and dispatched
  to the configured factory; every other statement goes straight to
  ``spark.sql`` — Catalyst supplies the entire relational surface, as
  DataFusion does for the reference (SURVEY §2C).

The reference's factory ignores ``LANGUAGE`` (lib.rs:33-64 never reads
it); we keep a language→factory dispatch map but default any language —
including none — to the default factory for parity (SURVEY §2A).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .ddl import (
    CopyToStmt,
    CreateExternalTableStmt,
    CreateFunctionStmt,
    DropFunctionStmt,
    is_function_ddl,
    parse_function_ddl,
)
from .errors import FunctionDefinitionError, WasmFunctionError
from .factory import FunctionFactory, PythonModuleFunctionFactory
from .registry import FunctionRegistry
from .udf_runtime import build_pandas_udf

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        function_factory: FunctionFactory | None = None,
        factories: dict[str, FunctionFactory] | None = None,
    ) -> None:
        self.spark = spark
        self._default_factory: FunctionFactory = (
            function_factory or PythonModuleFunctionFactory()
        )
        self._factories: dict[str, FunctionFactory] = {
            k.lower(): v for k, v in (factories or {}).items()
        }
        self.registry = FunctionRegistry()

    # -- tables ------------------------------------------------------------

    def register(self, name: str, df: DataFrame) -> None:
        """≙ ``ctx.register_batch(name, batch)`` (lib.rs:183)."""
        df.createOrReplaceTempView(name)

    def load_tables(self, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every fixture parquet in ``sf_dir`` as a temp view."""
        from .sources.parquet import read_parquet

        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.register(t, read_parquet(self.spark, path))

    # -- sql ---------------------------------------------------------------

    def sql(self, query: str) -> DataFrame:
        """≙ ``ctx.sql`` (lib.rs:192): intercept function DDL, else
        delegate to Spark SQL."""
        m = re.match(r"^\s*EXPLAIN\s+ANALYZE\s+(.*)$", query, re.IGNORECASE | re.DOTALL)
        if m:
            return self._explain_analyze(m.group(1))
        if is_function_ddl(query):
            try:
                stmt = parse_function_ddl(query)
            except FunctionDefinitionError:
                # Statements our mini-grammar doesn't cover (Hive-style
                # CREATE FUNCTION ... AS 'class', qualified DROP
                # FUNCTION db.fn, Hive-style CREATE EXTERNAL TABLE with
                # column lists / other formats) delegate to Spark —
                # UNLESS the statement carries our 'module!method'
                # definition marker, or is a COPY (Spark cannot parse
                # COPY at all, so our typed error beats its generic
                # syntax error).
                if re.search(r"AS\s+'[^']*![^']*'", query, re.IGNORECASE):
                    raise
                if re.match(r"^\s*COPY\s", query, re.IGNORECASE):
                    raise
                return self.spark.sql(query)
            if isinstance(stmt, CreateFunctionStmt):
                return self._create_function(stmt)
            if isinstance(stmt, DropFunctionStmt):
                return self._drop_function(stmt)
            if isinstance(stmt, CreateExternalTableStmt):
                return self._create_external_table(stmt)
            return self._copy_to(stmt)
        return self.spark.sql(query)

    def _explain_analyze(self, inner: str) -> DataFrame:
        """``EXPLAIN ANALYZE <query>`` parity (DataFusion supports it;
        Spark SQL only has plain EXPLAIN): execute the query to a noop
        sink, then return the FINAL adaptive physical plan — the one
        with AQE's runtime re-plans and per-node metrics — as a
        one-column frame, mirroring Spark's EXPLAIN output shape.

        Driver-materialization-free (r7): a ``.write`` to the noop
        source would run a SEPARATE query execution and leave this
        one un-finalized (isFinalPlan=false), so instead the SAME
        QueryExecution's adaptive plan is driven to completion via a
        cluster-side ``count()`` on its row RDD — only per-partition
        counts reach the driver, never result rows, so analyzing a
        huge-result query is safe (no aggregate-wrapping caveat).

        Observability caveat: the RDD count runs OUTSIDE
        ``SQLExecution.withNewExecutionId`` (the wrapper is a curried
        Scala closure, not py4j-callable), so the run does not appear
        in the Spark SQL UI tab and ``QueryExecutionListener``s do not
        fire; accumulator-backed per-node metrics still populate,
        which is what the returned plan text renders. If SQL-tab /
        listener parity matters, ``collect()`` the inner query
        instead and accept driver materialization.
        """
        df = self.spark.sql(inner)
        qe = df._jdf.queryExecution()
        qe.executedPlan().execute().count()
        plan = qe.executedPlan().toString()
        return self.spark.createDataFrame([(plan,)], "plan string")

    # -- function DDL ------------------------------------------------------

    def _factory_for(self, language: str | None) -> FunctionFactory:
        if language and language.lower() in self._factories:
            return self._factories[language.lower()]
        return self._default_factory

    def _create_function(self, stmt: CreateFunctionStmt) -> DataFrame:
        """≙ ``WasmFunctionFactory::create`` dispatch + registration
        (lib.rs:33-64 → RegisterFunction::Scalar at lib.rs:63)."""
        if not stmt.arg_types:
            # a scalar arrow_udf needs at least one column; a zero-arg
            # registration would die later with an opaque serializer
            # error — reject clearly at CREATE time instead.
            raise FunctionDefinitionError(
                f"function {stmt.name!r} declares no arguments; the "
                "vectorized runtime requires at least one"
            )
        spec = self._factory_for(stmt.language).create(stmt)
        udf = build_pandas_udf(
            spec.module_path, spec.method, stmt.arg_types, stmt.return_type,
            version=spec.version,
        )
        self.spark.udf.register(stmt.name, udf)
        self.registry.register(spec)
        return self._empty_result()

    def _drop_function(self, stmt: DropFunctionStmt) -> DataFrame:
        """≙ DROP FUNCTION → deregistration + cache eviction
        (lib.rs:347-372)."""
        if stmt.name not in self.registry:
            if stmt.if_exists:
                return self._empty_result()
            raise WasmFunctionError(f"function {stmt.name!r} is not registered")
        self.registry.drop(stmt.name)
        try:
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {stmt.name}")
        except Exception:
            # Session-registry cleanup paths differ across Spark versions.
            # If the UDF is still resolvable from SQL, registry state and
            # session state have diverged — surface it instead of letting
            # function_names() silently disagree with what SQL can call.
            import logging

            still_there = False
            try:
                still_there = self.spark.catalog.functionExists(stmt.name)
            except Exception:
                pass
            if still_there:
                logging.getLogger(__name__).warning(
                    "DROP FUNCTION %s: session cleanup failed; the UDF "
                    "remains callable from SQL until the session ends",
                    stmt.name,
                )
        return self._empty_result()

    def _create_external_table(self, stmt: CreateExternalTableStmt) -> DataFrame:
        """≙ DataFusion ``CREATE EXTERNAL TABLE`` → lazy scan + temp view.

        The registered view is a plain scan: predicates and projections
        from later queries still push down into the file source.
        """
        if stmt.if_not_exists and stmt.name in [
            t.name for t in self.spark.catalog.listTables()
        ]:
            return self._empty_result()
        if stmt.format == "parquet":
            from .sources.parquet import read_parquet

            df = read_parquet(self.spark, stmt.location)
        elif stmt.format == "csv":
            df = self.spark.read.csv(
                stmt.location, header=stmt.header, inferSchema=True
            )
        elif stmt.format == "arrow":
            from .sources.arrow_ipc import read_arrow_ipc

            df = read_arrow_ipc(self.spark, stmt.location)
        elif stmt.format == "orc":
            df = self.spark.read.orc(stmt.location)
        else:
            df = self.spark.read.json(stmt.location)
        self.register(stmt.name, df)
        return self._empty_result()

    def _copy_to(self, stmt: CopyToStmt) -> DataFrame:
        """≙ DataFusion ``COPY <src> TO 'path'`` → distributed write."""
        src = stmt.source.strip()
        if src.startswith("("):
            df = self.spark.sql(src[1:-1])
        else:
            df = self.spark.table(src)
        if stmt.format == "arrow":
            from .sources.arrow_ipc import write_arrow_ipc

            write_arrow_ipc(df, stmt.location)
            return self._empty_result()
        writer = df.write.mode("overwrite")
        if stmt.format == "csv":
            writer.option("header", True).csv(stmt.location)
        elif stmt.format == "json":
            writer.json(stmt.location)
        elif stmt.format == "orc":
            writer.orc(stmt.location)
        else:
            writer.parquet(stmt.location)
        return self._empty_result()

    def _empty_result(self) -> DataFrame:
        # DDL returns an empty frame, ≙ the empty .show() at lib.rs:192
        return self.spark.createDataFrame([], T.StructType([]))

    # -- introspection -----------------------------------------------------

    def function_names(self) -> list[str]:
        return sorted(self.registry.functions())

    def module_cache_size(self) -> int:
        """Driver-side live-module count (≙ lib.rs:344-372 assertions)."""
        return self.registry.cache_size()
