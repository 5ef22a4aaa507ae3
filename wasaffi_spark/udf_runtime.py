"""Guest loading and the executor-side function runtime.

This module is the Spark analog of the reference's host↔WASM invocation
path (/root/reference/wasmedge_factory/src/udf.rs:82-115): Spark itself
performs the Arrow IPC transfer, batching, and scalar→array broadcast that
the reference hand-rolls (README.md:76). The guest is called once per
Arrow batch, and a batch ends at 65,536 rows or 2 MiB, whichever comes
first (``conf.recommended_builder``): narrow rows cross in full
65,536-row batches, wide rows in several smaller ones that the JVM
encodes while the worker runs the guest. Functions run as scalar
``arrow_udf``s, so each batch's columns reach the guest as the
``pa.Array``s Spark sent and the guest's ``pa.Array`` goes back as is,
with no pandas conversion on either side. What remains here is

- the one guest loader and its process-global module cache
  (≙ the factory's weak-valued VM cache,
  /root/reference/wasmedge_factory/src/lib.rs:79-100). Every load, on
  the driver (CREATE-time validation, :func:`load_module`,
  :func:`get_function`) and in the executor's UDF closure, goes through
  the loader :func:`_guest_loader` builds. The cache is keyed by the
  resolved path plus a version token, a hash of the file's bytes that
  the driver takes at CREATE time (:func:`module_version`): a file
  edited at the same path is loaded afresh by the next CREATE, and
  Python workers, reused across batches via
  ``spark.python.worker.reuse``, load each version once;
- the per-task worker setup: a worker runs
  ``importlib.invalidate_caches()`` at every task's start, and on
  Python < 3.12 that re-reads the directory of every zip archive on
  ``sys.path`` (``pyspark.zip`` with 11 sub-package importers, the
  ``spark-core`` jar and the py4j zip twice each: about 0.2 s per task).
  The UDF closure calls :data:`guard_zip_caches`, which at a process's
  first batch makes that call re-read only archives whose file changed
  (:func:`_zip_cache_guard`), so each worker pays the setup once,
  including a worker forked after a UDF exception ended the previous
  one. Spark's ``pythonInitTime`` (``perfbench``'s
  ``udf_runtime.worker_init_s``) on a reused worker holds the wait for
  the next task plus this setup;
- input coercion to the declared argument types (≙ ``Signature::exact``,
  udf.rs:54 — DataFusion's analyzer casts call sites; Spark doesn't
  type-check Python UDF args, so we cast per-batch in pyarrow),
- the guest calling convention ``list[pa.Array] -> pa.Array``
  (≙ ``export_udf_function!``, /root/reference/wasm_udf/src/lib.rs:51-67),
- the error protocol (``[Wasm Invocation] …`` / ``[Wasm Invocation Panic]
  …``, udf.rs:95,111-113).

The UDF closure ships by value (see :func:`build_pandas_udf`); on a real
cluster function modules reach the workers via ``SparkContext.addFile``
(SURVEY §7.5.5).
"""

from __future__ import annotations

import hashlib
import os
import sys
from collections.abc import Callable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from .errors import ModuleLoadError

# Name prefix of the cached guest modules in ``sys.modules``.
_CACHE_PREFIX = "_wasaffi_guest_"


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


def module_version(path: str) -> str:
    """The version token of a guest file: the SHA-256 of its bytes."""
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _guest_loader() -> Callable[..., Any]:
    """Build the guest loader.

    It is returned as a closure so that cloudpickle ships it by value
    inside each UDF: it needs only the stdlib, plus the package for
    ``.wasm`` modules, imported from this package's root (captured here)
    when the worker's path lacks it, as a local-mode worker's may. Its
    cache is ``sys.modules``, the one process-global table such a
    closure reaches in every process; a failed load caches nothing.
    Where the loader itself cannot load (no import spec, no such
    callable in a ``.py`` module) it raises ``ImportError``.
    """
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def load(path: str, version: str, method: str | None) -> Any:
        """Return ``method`` of the guest module at ``path``, or the module
        itself for ``None``, loading it once per ``(path, version)``."""
        import hashlib
        import importlib.util
        import os
        import sys

        if not os.path.exists(path):  # cluster: shipped via SparkContext.addFile
            try:
                from pyspark import SparkFiles

                shipped = SparkFiles.get(os.path.basename(path))
            except Exception:
                shipped = path
            if os.path.exists(shipped):
                path = shipped
        is_wasm = path.endswith(".wasm")
        key = _CACHE_PREFIX + hashlib.sha256(f"{path}\0{version}".encode()).hexdigest()
        mod = sys.modules.get(key)
        if mod is None:
            if is_wasm:
                try:
                    from wasaffi_spark.wasm_backend import WasmModule
                except ImportError:
                    sys.path.append(pkg_root)
                    from wasaffi_spark.wasm_backend import WasmModule
                mod = sys.modules[key] = WasmModule(path)
            else:
                spec = importlib.util.spec_from_file_location(key, path)
                if spec is None or spec.loader is None:
                    raise ImportError(f"cannot import function module: {path}")
                mod = importlib.util.module_from_spec(spec)
                sys.modules[key] = mod  # visible to the module while it runs
                try:
                    spec.loader.exec_module(mod)
                except BaseException:
                    del sys.modules[key]
                    raise
        if method is None:
            return mod
        if is_wasm:
            return mod.get_udf(method)
        fn = getattr(mod, method, None)
        if not callable(fn):
            raise ImportError(f"module {path!r} does not export a callable {method!r}")
        return fn

    return load


_load = _guest_loader()


def _zip_cache_guard() -> Callable[[], None]:
    """Build the guard that makes ``importlib.invalidate_caches()`` cheap
    for zip archives on ``sys.path``.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on Python < 3.12 each ``zipimport.zipimporter``
    then re-reads its archive's whole directory (``pyspark.zip``, the
    py4j zip and the Spark jar, about 0.2 s per task together; 3.12 made
    the re-read lazy). The guard, called at every batch, swaps that
    method once per process for one that re-reads an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken
    at its last read, and otherwise reuses the directory already in
    ``zipimport._zip_directory_cache``, so a rewritten archive (say, one
    re-added with ``addPyFile``) is still read afresh. The archives of
    the importers present at the swap are stamped as they are then: in
    a worker, the task's setup has just re-read them.

    Like :func:`_guest_loader`, it is a closure so that cloudpickle
    ships it by value inside each UDF; its state lives on the
    ``zipimporter`` class, the one table every task of a process reaches.
    """

    def guard() -> None:
        import sys

        if sys.version_info >= (3, 12):
            return
        import os
        import zipimport

        cls = zipimport.zipimporter
        if getattr(cls.invalidate_caches, "stat_checked", False):
            return
        cache = zipimport._zip_directory_cache
        reread = cls.invalidate_caches

        def stamp(archive: str) -> tuple[int, int, int] | None:
            try:
                st = os.stat(archive)
            except OSError:
                return None
            return (st.st_mtime_ns, st.st_size, st.st_ino)

        stamps = {
            imp.archive: stamp(imp.archive)
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, cls) and imp.archive in cache
        }

        def invalidate_caches(self) -> None:
            """Re-read the archive's directory only if the file changed."""
            now = stamp(self.archive)
            files = cache.get(self.archive)
            if now is not None and files is not None and stamps.get(self.archive) == now:
                self._files = files
                return
            reread(self)
            stamps[self.archive] = now

        invalidate_caches.stat_checked = True
        cls.invalidate_caches = invalidate_caches

    return guard


guard_zip_caches = _zip_cache_guard()


def _load_current(path: str, method: str | None, version: str | None = None) -> Any:
    try:
        if version is None:
            version = module_version(path)
        return _load(path, version, method)
    except (ImportError, OSError) as e:
        raise ModuleLoadError(str(e)) from e


def load_module(resolved_path: str) -> Any:
    """Load the module at ``resolved_path`` as it is on disk now, through
    the guest loader and its cache.

    ≙ ``wasm_model_cache_or_load`` (/root/reference/wasmedge_factory/src/lib.rs:79-100).
    ``.py`` modules load via importlib; ``.wasm`` modules load through
    :mod:`wasaffi_spark.wasm_backend` (wasmtime when importable, else
    the bundled pure-Python interpreter).
    """
    return _load_current(resolved_path, None)


def get_function(
    resolved_path: str, method: str, version: str | None = None
) -> Callable[[list[pa.Array]], pa.Array]:
    """The guest function ``method`` of the module at ``resolved_path``,
    at ``version`` (default: the file as it is on disk now); raises
    :class:`ModuleLoadError` when it cannot be loaded."""
    return _load_current(resolved_path, method, version)


def clear_executor_cache() -> None:
    """Drop every cached guest module of this process."""
    for key in list(sys.modules):
        if key.startswith(_CACHE_PREFIX):
            sys.modules.pop(key, None)


def build_pandas_udf(
    module_path: str,
    method: str,
    arg_types: Sequence[T.DataType],
    return_type: T.DataType,
    version: str | None = None,
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
    pyarrow, and the guest loader, itself a closure): cloudpickle ships
    it by value, so executors do NOT need ``wasaffi_spark`` on their
    python path. This is what makes the engine work unmodified on a real
    multi-node cluster where only the function module (via
    ``SparkContext.addFile``) reaches the workers (SURVEY §7.5.5).
    Exception: ``.wasm`` modules additionally need the package (for
    :mod:`wasaffi_spark.wasm_backend`) shipped via ``--py-files``.
    The closure carries the module's version token: ``version`` when
    given (CREATE passes the one its spec took, so the file is hashed
    once per CREATE), else taken from the file now.
    """
    arrow_arg_types = [to_arrow_type(t) for t in arg_types]
    arrow_ret = to_arrow_type(return_type)
    if version is None:
        version = module_version(module_path)
    load = _load
    guard = guard_zip_caches

    def _invoke(*cols: pa.Array) -> pa.Array:
        import pyarrow as _pa

        guard()
        fn = load(module_path, version, method)

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
