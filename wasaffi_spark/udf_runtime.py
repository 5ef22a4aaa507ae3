"""Executor-side function runtime.

This module is the Spark analog of the reference's host↔WASM invocation
path (/root/reference/wasmedge_factory/src/udf.rs:82-115): Spark itself
performs the Arrow IPC transfer, batching, and scalar→array broadcast that
the reference hand-rolls (README.md:76). Functions run as scalar
``arrow_udf``s, so each batch's columns reach the guest as the
``pa.Array``s Spark sent and the guest's ``pa.Array`` goes back as is,
with no pandas conversion on either side. What remains here is

- the per-worker-process module cache (≙ the factory's weak-valued VM
  cache, /root/reference/wasmedge_factory/src/lib.rs:79-100 — Python
  workers are reused across batches via ``spark.python.worker.reuse``, so
  a process-global dict amortizes module loads exactly like the VM cache),
- input coercion to the declared argument types (≙ ``Signature::exact``,
  udf.rs:54 — DataFusion's analyzer casts call sites; Spark doesn't
  type-check Python UDF args, so we cast per-batch in pyarrow),
- the guest calling convention ``list[pa.Array] -> pa.Array``
  (≙ ``export_udf_function!``, /root/reference/wasm_udf/src/lib.rs:51-67),
- the error protocol (``[Wasm Invocation] …`` / ``[Wasm Invocation Panic]
  …``, udf.rs:95,111-113).

Everything here must be importable on executors; in local mode that is
automatic, on a real cluster the package ships via ``--py-files`` and
function modules via ``SparkContext.addFile`` (SURVEY §7.5.5).
"""

from __future__ import annotations

import importlib.util
import os
import sys
import threading
from collections.abc import Callable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from .errors import ModuleLoadError

# Process-global module cache keyed by resolved path. One per worker
# process; lives for the worker's lifetime (workers are reused).
_MODULE_CACHE: dict[str, Any] = {}
_CACHE_LOCK = threading.Lock()


def resolve_module_path(path: str, roots: Sequence[str] = ()) -> str:
    """Resolve a module path: absolute as-is, else relative to the given
    roots, the cwd, and the repo root (directory above this package).

    ≙ ``wasm_model_load``'s absolute-or-project-root resolution
    (/root/reference/wasmedge_factory/src/lib.rs:111-121).
    """
    if os.path.isabs(path):
        if os.path.exists(path):
            return path
        raise ModuleLoadError(f"function module not found: {path}")
    candidates = [os.path.join(r, path) for r in roots]
    candidates.append(os.path.join(os.getcwd(), path))
    candidates.append(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), path)
    )
    try:  # cluster mode: modules shipped via SparkContext.addFile
        from pyspark import SparkFiles

        candidates.append(SparkFiles.get(os.path.basename(path)))
    except Exception:
        pass
    for c in candidates:
        if os.path.exists(c):
            return os.path.abspath(c)
    raise ModuleLoadError(f"function module not found: {path!r} (tried {candidates})")


def load_module(resolved_path: str) -> Any:
    """Load (with process-global caching) a function module from a path.

    ≙ ``wasm_model_cache_or_load`` (/root/reference/wasmedge_factory/src/lib.rs:79-100).
    ``.py`` modules load via importlib; ``.wasm`` modules load through
    :mod:`wasaffi_spark.wasm_backend` (wasmtime when importable, else
    the bundled pure-Python interpreter).
    """
    with _CACHE_LOCK:
        mod = _MODULE_CACHE.get(resolved_path)
        if mod is not None:
            return mod
        if resolved_path.endswith(".wasm"):
            from . import wasm_backend

            mod = wasm_backend.WasmModule(resolved_path)
        else:
            name = "_wasaffi_udf_" + os.path.basename(resolved_path).replace(".", "_")
            spec = importlib.util.spec_from_file_location(name, resolved_path)
            if spec is None or spec.loader is None:
                raise ModuleLoadError(f"cannot import module: {resolved_path}")
            mod = importlib.util.module_from_spec(spec)
            sys.modules[name] = mod
            spec.loader.exec_module(mod)
        _MODULE_CACHE[resolved_path] = mod
        return mod


def get_function(resolved_path: str, method: str) -> Callable[[list[pa.Array]], pa.Array]:
    mod = load_module(resolved_path)
    if hasattr(mod, "get_udf"):  # wasm backend exposes a lookup
        return mod.get_udf(method)
    fn = getattr(mod, method, None)
    if fn is None or not callable(fn):
        raise ModuleLoadError(
            f"module {resolved_path!r} does not export a callable {method!r}"
        )
    return fn


def executor_cache_size() -> int:
    """Visible for tests (≙ cache assertions, lib.rs:344-372)."""
    return len(_MODULE_CACHE)


def clear_executor_cache() -> None:
    with _CACHE_LOCK:
        _MODULE_CACHE.clear()


def build_pandas_udf(
    module_path: str,
    method: str,
    arg_types: Sequence[T.DataType],
    return_type: T.DataType,
):
    """Build the nondeterministic scalar ``arrow_udf`` wrapping a loaded
    function — the body of ``WasmFunctionWrapper::invoke``
    (/root/reference/wasmedge_factory/src/udf.rs:82-115) with Spark
    supplying IPC + batching.

    The Arrow UDF contract is the guest's own, ``list[pa.Array] ->
    pa.Array``: the arguments arrive as the batch's Arrow columns and the
    result goes back as an Arrow array, so NaN stays NaN (a pandas hop
    would read it as NULL) and no batch is converted to pandas. The name
    predates the switch from ``pandas_udf`` and is kept because callers
    import it. The wrapped function (``.func``) also accepts
    ``pandas.Series`` arguments, which ``pa.array`` converts.

    ``.asNondeterministic()`` ≙ ``Volatility::Volatile`` (udf.rs:54):
    blocks constant folding / CSE so even literal-only calls execute at
    runtime (observable in the reference's error tests, lib.rs:229).

    The inner function is deliberately **self-contained** (stdlib +
    pyarrow only, with ``sys.modules`` as the per-worker-process module
    cache): cloudpickle ships it by value, so executors do NOT need
    ``wasaffi_spark`` on their python path. This is what makes the engine
    work unmodified on a real multi-node cluster where only the function
    module (via ``SparkContext.addFile``) reaches the workers
    (SURVEY §7.5.5). Exception: ``.wasm`` modules additionally need the
    package (for :mod:`wasaffi_spark.wasm_backend`) shipped via
    ``--py-files``.
    """
    arrow_arg_types = [to_arrow_type(t) for t in arg_types]
    arrow_ret = to_arrow_type(return_type)
    is_wasm = module_path.endswith(".wasm")
    # Captured by value into the closure: lets a local-mode executor (or
    # any worker sharing the driver's filesystem) import the package even
    # when the driver process found it via a sys.path entry the workers
    # don't inherit. On a real cluster this path won't exist and the
    # normal --py-files import is used instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def _invoke(*cols: pa.Array) -> pa.Array:
        import hashlib
        import importlib.util
        import os
        import sys

        import pyarrow as _pa

        # -- per-process module cache, keyed through sys.modules
        #    (≙ wasm_model_cache_or_load, lib.rs:79-100; Python workers are
        #    reused, so this amortizes loads exactly like the VM cache)
        path = module_path
        if not os.path.exists(path):  # cluster: shipped via addFile
            try:
                from pyspark import SparkFiles

                cand = SparkFiles.get(os.path.basename(path))
                if os.path.exists(cand):
                    path = cand
            except Exception:
                pass
        if is_wasm:
            try:
                from wasaffi_spark.udf_runtime import load_module
            except ImportError:
                if os.path.isdir(os.path.join(pkg_root, "wasaffi_spark")):
                    sys.path.insert(0, pkg_root)
                from wasaffi_spark.udf_runtime import load_module

            fn = load_module(path).get_udf(method)
        else:
            modname = "_wasaffi_udf_" + hashlib.md5(path.encode()).hexdigest()
            mod = sys.modules.get(modname)
            if mod is None:
                spec = importlib.util.spec_from_file_location(modname, path)
                if spec is None or spec.loader is None:
                    raise RuntimeError(f"cannot import function module: {path}")
                mod = importlib.util.module_from_spec(spec)
                sys.modules[modname] = mod
                spec.loader.exec_module(mod)
            fn = getattr(mod, method, None)
            if fn is None or not callable(fn):
                raise RuntimeError(
                    f"module {path!r} does not export a callable {method!r}"
                )

        # -- exact-signature arity + coercion (≙ Signature::exact,
        #    udf.rs:54). Spark does not arity-check Python UDF calls, so
        #    a mismatched call would silently drop/miss arguments here;
        #    the reference rejects it at plan time — we reject at the
        #    first batch with a protocol-shaped error.
        if len(cols) != len(arrow_arg_types):
            raise RuntimeError(
                f"[Wasm Invocation] function '{method}' expects "
                f"{len(arrow_arg_types)} arguments, got {len(cols)}"
            )
        # Argument coercion sits inside the error protocol: a cast
        # failure (overflow / invalid value vs the declared type) is an
        # invocation-path error in the reference too (the analyzer's
        # inserted cast fails at execution, udf.rs:95-113), so it must
        # surface protocol-shaped, not as a raw ArrowInvalid.
        try:
            arrays = []
            for col, at in zip(cols, arrow_arg_types):
                arr = _pa.array(col)  # zero-copy for a pa.Array
                if at is not None and arr.type != at:
                    arr = arr.cast(at)
                arrays.append(arr)
        except Exception as e:
            raise RuntimeError(
                f"[Wasm Invocation] argument cast to declared type failed: {e}"
            ) from e

        # -- guest call + error protocol (≙ udf.rs:92-113)
        try:
            result = fn(arrays)
        except Exception as e:  # recoverable guest error (≙ Err(String))
            msg = str(e)
            if msg.startswith("[Wasm Invocation"):
                raise  # wasm backend already speaks the protocol
            raise RuntimeError(f"[Wasm Invocation] {msg}") from e
        except BaseException as e:  # trap/panic path (≙ udf.rs:95)
            raise RuntimeError(
                f"[Wasm Invocation Panic] {str(e) or type(e).__name__}"
            ) from e
        # Result cast likewise: declared-return-type mismatch is part of
        # the invoke contract, not an anonymous Arrow error.
        try:
            if isinstance(result, _pa.ChunkedArray):
                result = result.combine_chunks()
            elif not isinstance(result, _pa.Array):
                result = _pa.array(result)
            if result.type != arrow_ret:
                result = result.cast(arrow_ret)
            return result
        except Exception as e:
            raise RuntimeError(
                f"[Wasm Invocation] result cast to declared return type failed: {e}"
            ) from e

    udf = arrow_udf(_invoke, returnType=return_type)
    return udf.asNondeterministic()
