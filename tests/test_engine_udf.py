"""End-to-end engine tests — ports of the reference's five e2e scenarios
(/root/reference/wasmedge_factory/src/lib.rs:174-375, SURVEY §5).

Goldens compare *values*, not formatted strings: Spark auto-names the UDF
column differently from DataFusion (`f1(a, b)` vs `f1(t.a,t.b)`, SURVEY
§3.2), so every query aliases its output.
"""

from __future__ import annotations

import math
import os
import sys

import pytest
from pyspark.sql import Row

from wasaffi_spark import Engine, WasmFunctionError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UDFS = os.path.join(REPO, "fixtures", "udfs.py")

GOLDEN = [4.0, 27.0, 256.0, 3670.684197150057]  # lib.rs:199-208


def make_t(spark):
    # ≙ the 4-row batch at lib.rs:179-183 / examples/wasaffi.rs:12-16
    return spark.createDataFrame(
        [(2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.1)], "a double, b double"
    )


def create_f1(engine, name="f1"):
    engine.sql(
        f"CREATE FUNCTION {name}(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM "
        f"AS '{UDFS}!f1'"
    )


def record_registrations(monkeypatch):
    """A dict that collects each UDF the session registers, by name."""
    from pyspark.sql.udf import UDFRegistration

    registered = {}
    original = UDFRegistration.register

    def recording(self, name, f, *args, **kwargs):
        registered[name] = f
        return original(self, name, f, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", recording)
    return registered


def test_happy_path(engine):
    # ≙ should_handle_happy_path (lib.rs:174-213)
    engine.register("t", make_t(engine.spark))
    create_f1(engine)
    rows = engine.sql("select a, b, f1(a, b) as f from t order by a").collect()
    assert [r["a"] for r in rows] == [2.0, 3.0, 4.0, 5.0]
    assert [r["b"] for r in rows] == [2.0, 3.0, 4.0, 5.1]
    for got, want in zip([r["f"] for r in rows], GOLDEN):
        assert got == pytest.approx(want, rel=0, abs=1e-9)


def test_happy_path_dataframe_api(engine):
    from pyspark.sql import functions as F

    engine.register("t", make_t(engine.spark))
    create_f1(engine)
    df = make_t(engine.spark).select("a", "b", F.expr("f1(a, b)").alias("f"))
    got = [r["f"] for r in df.orderBy("a").collect()]
    assert got == pytest.approx(GOLDEN)


def test_literal_only_projection(engine):
    # ≙ select f2(1.0, 1.0) with no FROM (lib.rs:229): nondeterminism must
    # keep the call a runtime evaluation, and SELECT-without-FROM works.
    engine.sql(
        f"CREATE FUNCTION f2(DOUBLE, DOUBLE) RETURNS DOUBLE AS '{UDFS}!f2'"
    )
    [row] = engine.sql("select f2(2.0, 10.0) as v").collect()
    assert row["v"] == 1024.0


def test_null_propagation(engine):
    # NULL-boundary divergence test (SURVEY §7.5.4, FIXTURES §1.2): the
    # reference's synthetic schema would reject NULLs; we support them.
    engine.register(
        "t_nulls",
        engine.spark.createDataFrame(
            [(2.0, 2.0), (None, 3.0), (4.0, None)], "a double, b double"
        ),
    )
    create_f1(engine)
    rows = engine.sql(
        "select a, b, f1(a, b) as f from t_nulls order by a nulls last"
    ).collect()
    assert rows[0]["f"] == 4.0
    assert rows[1]["f"] is None  # a=4.0, b=NULL
    assert rows[2]["f"] is None  # a=NULL


def test_error_protocol(engine):
    # ≙ should_handle_error (lib.rs:215-238): message payload must carry
    # '[Wasm Invocation] wasm function returned error'
    engine.sql(
        f"CREATE FUNCTION ferr(DOUBLE, DOUBLE) RETURNS DOUBLE AS '{UDFS}!f_return_error'"
    )
    with pytest.raises(Exception) as ei:
        engine.sql("select ferr(1.0, 1.0) as v").collect()
    assert "[Wasm Invocation] wasm function returned error" in str(ei.value)


def test_arrow_error_protocol(engine):
    # ≙ should_handle_arrow_error (lib.rs:240-263)
    engine.sql(
        f"CREATE FUNCTION fdiv(DOUBLE, DOUBLE) RETURNS DOUBLE "
        f"AS '{UDFS}!f_return_arrow_error'"
    )
    with pytest.raises(Exception) as ei:
        engine.sql("select fdiv(1.0, 1.0) as v").collect()
    assert "[Wasm Invocation] Divide by zero error" in str(ei.value)


def test_panic_protocol(engine):
    # ≙ should_handle_panic (lib.rs:265-308; #[ignore]d upstream because
    # WasmEdge stopped surfacing panics — our runtime does surface them).
    engine.sql(
        f"CREATE FUNCTION fpanic(DOUBLE, DOUBLE) RETURNS DOUBLE AS '{UDFS}!f_panic'"
    )
    with pytest.raises(Exception) as ei:
        engine.sql("select fpanic(1.0, 1.0) as v").collect()
    assert "[Wasm Invocation Panic] unreachable" in str(ei.value)
    # engine still usable afterwards (≙ lib.rs:297-306)
    create_f1(engine)
    [row] = engine.sql("select f1(2.0, 2.0) as v").collect()
    assert row["v"] == 4.0


def test_create_drop_lifecycle(engine):
    # ≙ should_create_drop_function (lib.rs:310-375)
    create_f1(engine)
    engine.sql(
        f"CREATE FUNCTION f2(DOUBLE, DOUBLE) RETURNS DOUBLE AS '{UDFS}!f2'"
    )
    # two functions from one module ⇒ one live module (lib.rs:344-345)
    assert engine.module_cache_size() == 1
    engine.sql("DROP FUNCTION f1")
    assert engine.module_cache_size() == 1
    engine.sql("DROP FUNCTION f2")
    # both dropped ⇒ cache empty (lib.rs:363-372)
    assert engine.module_cache_size() == 0
    # dropping an unknown function errors; IF EXISTS does not
    with pytest.raises(WasmFunctionError):
        engine.sql("DROP FUNCTION f1")
    engine.sql("DROP FUNCTION IF EXISTS f1")


def test_create_or_replace(engine):
    create_f1(engine, "g")
    engine.sql(
        f"CREATE OR REPLACE FUNCTION g(DOUBLE, DOUBLE) RETURNS DOUBLE "
        f"AS '{UDFS}!f_return_error'"
    )
    with pytest.raises(Exception, match=r"\[Wasm Invocation\]"):
        engine.sql("select g(1.0, 1.0) as v").collect()
    # replace back; registry stays consistent (one module, one function)
    engine.sql(
        f"CREATE OR REPLACE FUNCTION g(DOUBLE, DOUBLE) RETURNS DOUBLE AS '{UDFS}!f1'"
    )
    [row] = engine.sql("select g(3.0, 2.0) as v").collect()
    assert row["v"] == 9.0
    assert engine.module_cache_size() == 1
    engine.sql("DROP FUNCTION g")
    assert engine.module_cache_size() == 0


def test_edited_module_is_reloaded(engine, tmp_path):
    # A guest file edited at the same path runs its new code after a
    # DROP + CREATE and after a CREATE OR REPLACE: the module cache is
    # keyed by the path plus a version taken from the file at CREATE.
    mod = tmp_path / "g.py"
    head = "import pyarrow.compute as pc\n\n"
    mod.write_text(head + "def g(args):\n    return pc.multiply(args[0], 2.0)\n")

    def create(name, method, replace=""):
        engine.sql(
            f"CREATE {replace}FUNCTION {name}(DOUBLE) RETURNS DOUBLE "
            f"AS '{mod}!{method}'"
        )

    def call(name):
        [row] = engine.sql(f"select {name}(1.0D) as v").collect()
        return row["v"]

    create("g", "g")
    assert call("g") == 2.0
    engine.sql("DROP FUNCTION g")
    assert engine.module_cache_size() == 0
    mod.write_text(
        head + "def g(args):\n    return pc.add(args[0], 100.0)\n"
        "\n"
        "def h(args):\n    return pc.subtract(args[0], 100.0)\n"
    )
    create("g", "g")
    assert call("g") == 101.0
    create("h", "h")  # a symbol the edit added passes CREATE validation
    assert call("h") == -99.0
    assert engine.module_cache_size() == 1
    mod.write_text(head + "def g(args):\n    return pc.add(args[0], 1000.0)\n")
    create("g", "g", replace="OR REPLACE ")
    assert call("g") == 1001.0
    engine.sql("DROP FUNCTION g")
    engine.sql("DROP FUNCTION h")
    assert engine.module_cache_size() == 0


def test_registered_function_ships_by_value(engine, monkeypatch, tmp_path):
    # The registered function is pickled by value: a process that cannot
    # import the package unpickles it and runs the .py guest.
    import subprocess
    import sys

    from pyspark import cloudpickle

    registered = record_registrations(monkeypatch)
    create_f1(engine)
    blob = tmp_path / "f1.pickle"
    blob.write_bytes(cloudpickle.dumps(registered["f1"].func))
    script = (
        "import os, pickle, sys\n"
        "sys.modules['wasaffi_spark'] = None\n"
        "assert not any(os.path.isdir(os.path.join(p or '.', 'wasaffi_spark'))"
        " for p in sys.path), sys.path\n"
        "import pyarrow as pa\n"
        f"fn = pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "print(fn(pa.array([2.0, 3.0]), pa.array([2.0, 3.0])).to_pylist())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "[4.0, 27.0]"


def test_language_dispatch(spark):
    """The reference ignores LANGUAGE (lib.rs:33-64); we additionally
    support a language→factory map, defaulting everything else to the
    default factory."""
    from wasaffi_spark import Engine, PythonModuleFunctionFactory
    from wasaffi_spark.ddl import CreateFunctionStmt

    calls = []

    class Recording(PythonModuleFunctionFactory):
        def create(self, stmt: CreateFunctionStmt):
            calls.append(stmt.language)
            return super().create(stmt)

    eng = Engine(
        spark,
        function_factory=PythonModuleFunctionFactory(),
        factories={"python": Recording()},
    )
    eng.sql(
        f"CREATE FUNCTION h1(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE PYTHON "
        f"AS '{UDFS}!f1'"
    )
    assert calls == ["python"]  # routed to the language-specific factory
    eng.sql(
        f"CREATE FUNCTION h2(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM "
        f"AS '{UDFS}!f2'"
    )
    assert calls == ["python"]  # unknown language → default factory
    eng.sql("DROP FUNCTION h1")
    eng.sql("DROP FUNCTION h2")


def test_arity_mismatch_rejected(engine):
    # ≙ Signature::exact (udf.rs:54): extra/missing call-site arguments
    # must error, never silently truncate.
    create_f1(engine)
    with pytest.raises(Exception, match=r"expects 2 arguments, got 3"):
        engine.sql("select f1(2.0, 3.0, 99.0) as v").collect()
    with pytest.raises(Exception, match=r"expects 2 arguments, got 1"):
        engine.sql("select f1(2.0) as v").collect()


def test_zero_arg_function_rejected_at_create(engine):
    from wasaffi_spark.errors import FunctionDefinitionError

    with pytest.raises(FunctionDefinitionError, match="no arguments"):
        engine.sql(f"CREATE FUNCTION zf() RETURNS DOUBLE AS '{UDFS}!f1'")


def test_uncovered_ddl_falls_through_to_spark(engine):
    # qualified DROP FUNCTION isn't our grammar → must delegate to Spark
    # (which raises its own analysis error), not FunctionDefinitionError
    from wasaffi_spark.errors import FunctionDefinitionError

    with pytest.raises(Exception) as ei:
        engine.sql("DROP FUNCTION some_db.some_fn")
    assert not isinstance(ei.value, FunctionDefinitionError)
    # but a statement with our module!method marker still errors clearly
    with pytest.raises(FunctionDefinitionError):
        engine.sql("CREATE FUNCTION bad RETURNS DOUBLE AS 'mod.py!f'")


def test_input_coercion(engine):
    # ≙ Signature::exact (udf.rs:54): integer call-site args are cast to
    # the declared DOUBLE before the guest sees them.
    engine.register(
        "ints", engine.spark.createDataFrame([(2, 3), (3, 2)], "a int, b int")
    )
    create_f1(engine)
    rows = engine.sql("select f1(a, b) as f from ints order by a").collect()
    assert [r["f"] for r in rows] == [8.0, 9.0]


def test_nan_passes_through_like_native_pow(engine):
    # Arguments reach the guest as Arrow arrays: NaN stays NaN (a pandas
    # hop would turn it into NULL) and NULL stays NULL, as native pow.
    create_f1(engine)
    rows = engine.sql(
        "select f1(x, 1.0D) as f, pow(x, 1.0D) as p "
        "from values (cast('NaN' as double)), (null) as t(x)"
    ).collect()
    assert math.isnan(rows[0]["f"]) and math.isnan(rows[0]["p"])
    assert rows[1]["f"] is None and rows[1]["p"] is None


def test_chunked_result(engine, tmp_path):
    # A guest may return a ChunkedArray; it crosses back as one array.
    mod = tmp_path / "chunked_udf.py"
    mod.write_text(
        "import pyarrow as pa\n"
        "import pyarrow.compute as pc\n"
        "\n"
        "def double_chunked(args):\n"
        "    [x] = args\n"
        "    half = len(x) // 2\n"
        "    return pa.chunked_array(\n"
        "        [pc.multiply(x.slice(0, half), 2.0), pc.multiply(x.slice(half), 2.0)],\n"
        "        type=pa.float64(),\n"
        "    )\n"
    )
    engine.sql(
        f"CREATE FUNCTION dbl(DOUBLE) RETURNS DOUBLE AS '{mod}!double_chunked'"
    )
    engine.register(
        "r", engine.spark.range(0, 10, 1, 1).selectExpr("cast(id as double) as x")
    )
    rows = engine.sql("select x, dbl(x) as y from r order by x").collect()
    assert [r["y"] for r in rows] == [2.0 * i for i in range(10)]


def test_argument_cast_failure_protocol(engine):
    # A value the declared argument type cannot hold fails inside the
    # invocation error protocol, not as a raw Arrow error.
    engine.sql(f"CREATE FUNCTION f1(INT, INT) RETURNS DOUBLE AS '{UDFS}!f1'")
    with pytest.raises(Exception) as ei:
        engine.sql("select f1(cast(1099511627776 as bigint), 1) as v").collect()
    assert "[Wasm Invocation] argument cast to declared type failed" in str(ei.value)


def test_result_cast_failure_protocol(engine):
    # A result the declared return type cannot hold (2.5 as INT) likewise.
    engine.sql(f"CREATE FUNCTION f1(DOUBLE, DOUBLE) RETURNS INT AS '{UDFS}!f1'")
    with pytest.raises(Exception) as ei:
        engine.sql("select f1(2.5D, 1.0D) as v").collect()
    assert (
        "[Wasm Invocation] result cast to declared return type failed"
        in str(ei.value)
    )


def test_registers_nondeterministic_arrow_udf(engine, monkeypatch):
    # CREATE FUNCTION registers a scalar Arrow UDF (Arrow arrays in and
    # out, no pandas), kept nondeterministic (≙ Volatility::Volatile).
    from pyspark.util import PythonEvalType

    registered = record_registrations(monkeypatch)
    create_f1(engine)
    udf = registered["f1"]
    assert udf.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
    assert udf.deterministic is False


def test_create_hashes_the_guest_once(engine, monkeypatch):
    # CREATE reads and hashes the guest file once; the validation load
    # and the UDF closure use that version, so all three name the file
    # as it was at one moment.
    import inspect

    from wasaffi_spark import factory, udf_runtime

    calls = []
    original_version = udf_runtime.module_version

    def counting(path):
        calls.append(path)
        return original_version(path)

    monkeypatch.setattr(udf_runtime, "module_version", counting)
    monkeypatch.setattr(factory, "module_version", counting)
    registered = record_registrations(monkeypatch)
    create_f1(engine)
    assert calls == [UDFS]
    version = inspect.getclosurevars(registered["f1"].func).nonlocals["version"]
    assert version == engine.registry.get("f1").version


def test_arrow_batches_end_at_row_cap_or_byte_budget(engine, recommended_posture):
    # Under the recommended posture an Arrow batch to the Python worker
    # ends at 65,536 rows or at the byte budget, whichever comes first:
    # 65,536 wide rows (64 floats each) in one partition cross in
    # several smaller batches, a DOUBLE column of the same rows in one.
    rows = 65536
    engine.sql(
        f"CREATE FUNCTION blen_v(ARRAY<FLOAT>) RETURNS BIGINT AS '{UDFS}!batch_len'"
    )
    engine.sql(f"CREATE FUNCTION blen_d(DOUBLE) RETURNS BIGINT AS '{UDFS}!batch_len'")
    engine.register(
        "batch_shape",
        engine.spark.range(0, rows, 1, 1).selectExpr(
            "cast(id as double) as d", "array_repeat(cast(id as float), 64) as v"
        ),
    )

    def batches(call):
        """{batch length: number of batches of that length}"""
        got = engine.sql(
            f"select n, count(*) as c from (select {call} as n from batch_shape) "
            "group by n"
        ).collect()
        assert sum(r["c"] for r in got) == rows
        return {r["n"]: r["c"] // r["n"] for r in got}

    wide = batches("blen_v(v)")
    assert sum(wide.values()) > 1, wide
    assert max(wide) < rows, wide
    assert batches("blen_d(d)") == {rows: 1}
    engine.sql("DROP FUNCTION blen_v")
    engine.sql("DROP FUNCTION blen_d")


ZIP_GUARD_SCRIPT = """
import importlib, sys, zipfile, zipimport
archive = sys.argv[1]
sys.path.insert(0, archive)
import zmod_a
from wasaffi_spark.udf_runtime import guard_zip_caches

reads = []
read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return read_directory(path)
zipimport._read_directory = counting

importlib.invalidate_caches()
assert reads == [archive], reads  # the stock method re-reads every time
guard_zip_caches()
guard_zip_caches()  # swaps the method once per process
reads.clear()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads == [], reads
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zmod_a.py", "A = 1\\n")
    z.writestr("zmod_b.py", "B = 2\\n")
importlib.invalidate_caches()
assert reads == [archive], reads
import zmod_b
reads.clear()
importlib.invalidate_caches()
assert reads == [], reads
print(zmod_a.A, zmod_b.B)
"""


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zipimport re-reads lazily")
def test_zip_directories_are_reread_only_when_changed(tmp_path):
    # After the guard, invalidate_caches() reads no unchanged archive's
    # directory, and a rewritten archive's new module becomes importable.
    import subprocess
    import zipfile

    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "A = 1\n")
    proc = subprocess.run(
        [sys.executable, "-c", ZIP_GUARD_SCRIPT, str(archive)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "1 2"


MAP_IN_PANDAS_GUARD_SCRIPT = """
from pyspark.sql import SparkSession

from wasaffi_spark.operators.grouped import grouped_median

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


def probe(batches):
    import os
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    checked = getattr(zipimport.zipimporter.invalidate_caches, "stat_checked", False)
    yield pd.DataFrame({"pid": [os.getpid()], "checked": [checked]})


def worker():
    [row] = spark.range(0, 1, 1, 1).mapInPandas(probe, "pid long, checked boolean").collect()
    return row


before = worker()
grouped_median(
    spark.range(0, 8, 1, 1).selectExpr("id % 2 as g", "cast(id as double) as v"),
    "g", "v", num_partitions=1,
).collect()
after = worker()
print(before.pid == after.pid, before.checked, after.checked)
spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zipimport re-reads lazily")
def test_map_in_pandas_batch_function_guards_zip_caches():
    # A mapInPandas batch function of the engine installs the zip guard
    # in its worker, so the worker's next tasks (here a plain mapInPandas
    # probe, in the one worker of local[1]) re-read no unchanged archive.
    import subprocess

    proc = subprocess.run(
        [sys.executable, "-c", MAP_IN_PANDAS_GUARD_SCRIPT],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip().splitlines()[-1] == "True False True"


def test_reused_worker_rereads_no_zip_directory(engine):
    # A Python worker runs importlib.invalidate_caches() at each task's
    # start; once a UDF batch has run in it, that call reads no zip
    # archive's directory again.
    engine.sql(f"CREATE FUNCTION zimp(BIGINT) RETURNS BIGINT AS '{UDFS}!zip_importers'")
    engine.sql(f"CREATE FUNCTION zread(BIGINT) RETURNS BIGINT AS '{UDFS}!zip_rereads'")
    query = "select zimp(id) as importers, zread(id) as reads from range(0, 1, 1, 1)"
    engine.sql(query).collect()
    [row] = engine.sql(query).collect()
    assert row["importers"] > 0
    assert row["reads"] == 0
    engine.sql("DROP FUNCTION zimp")
    engine.sql("DROP FUNCTION zread")


def test_invoke_accepts_arrow_and_pandas_arguments():
    """The wrapped function gives the same result for the Arrow arrays
    Spark sends and for the pandas Series the benchmark's in-process
    replay (``perfbench/workloads.py`` ``UdfTyped.replay``) passes to
    ``.func``; runs without a Spark session."""
    from decimal import Decimal

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from perfbench.workloads import UdfTyped
    from wasaffi_spark.udf_runtime import build_pandas_udf

    n = 512
    batch = pa.table(UdfTyped("", 0).columns(np.random.default_rng(0), n))
    assert batch.column("a").null_count and batch.column("s").null_count
    assert batch.column("v").null_count
    guest = os.path.join(REPO, "perfbench", "guest.py")
    double = T.DoubleType()

    def col(name):
        return batch.column(name).combine_chunks()

    # (module, method, arg types, return type, Arrow args as Spark sends
    # them), in the replay's call order
    cases = [
        (UDFS, "f1", [double, double], double,
         [col("a"), pa.array([Decimal("2.0")] * n)]),  # DECIMAL(2,1) literal
        (UDFS, "f1", [double, double], double,
         [col("k"), pa.array([2] * n, pa.int32())]),  # BIGINT, INT literal
        (UDFS, "str_len_upper", [T.StringType()], T.LongType(), [col("s")]),
        (guest, "vec_norm", [T.ArrayType(T.FloatType())], double, [col("v")]),
    ]
    assert [name for name, _ in UdfTyped.replay] == ["f1", "f1", "slen", "vnorm"]
    for (name, makers), case in zip(UdfTyped.replay, cases):
        module, method, arg_types, ret, arrow_args = case
        invoke = build_pandas_udf(module, method, arg_types, ret).func
        from_arrow = invoke(*arrow_args)
        from_pandas = invoke(*[make(batch) for make in makers])
        assert isinstance(from_arrow, pa.Array)
        assert from_arrow.type == from_pandas.type
        assert from_arrow.equals(from_pandas), method


def test_udf_over_parquet(engine):
    # the UDF path over a real parquet scan at sf0.001
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(sf):
        pytest.skip("testdata not present")
    engine.load_tables(sf, ("lineitem",))
    create_f1(engine)
    rows = engine.sql(
        "select l_linenumber, f1(cast(l_linenumber as double), 2.0) as sq "
        "from lineitem group by l_linenumber, sq order by l_linenumber"
    ).collect()
    for r in rows:
        assert r["sq"] == float(r["l_linenumber"]) ** 2


def test_explain_analyze(spark):
    """EXPLAIN ANALYZE parity (DataFusion has it, plain Spark does not):
    executes the query and returns the FINAL adaptive plan
    (isFinalPlan=true), not the pre-execution sketch."""
    eng = Engine(spark)
    eng.register(
        "ea_t",
        spark.createDataFrame([(1, "x"), (2, "y"), (1, "z")], "k int, v string"),
    )
    [row] = eng.sql(
        "EXPLAIN ANALYZE select k, count(*) as c from ea_t group by k"
    ).collect()
    assert "HashAggregate" in row["plan"]
    assert "isFinalPlan=true" in row["plan"]
