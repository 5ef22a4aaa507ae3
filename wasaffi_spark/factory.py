"""Pluggable function factories.

≙ DataFusion's ``FunctionFactory`` extension point that the reference
implements (/root/reference/wasmedge_factory/src/lib.rs:31-65, installed at
lib.rs:176-177). A factory turns a parsed ``CREATE FUNCTION`` statement
into a *function spec* — enough information to (a) validate the definition
at the driver and (b) lazily load + call the function inside executor
Python workers.

One factory serves both backends (SURVEY §7.0):
:class:`PythonModuleFunctionFactory` resolves ``'path/mod.py!fn'`` (a
dynamic import, the native analog of "load external module, bind
exported symbol", lib.rs:111-132) and ``'path/mod.wasm!fn'`` (run with
wasmtime when it is importable and with the bundled pure-Python
interpreter ``wasm_interp`` otherwise, see ``wasm_backend.WasmModule``)
through ``udf_runtime``'s one guest loader, and records the file's
version token, so the spec names the module exactly as it was at CREATE.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Protocol

from .ddl import CreateFunctionStmt, split_definition
from .udf_runtime import get_function, module_version, resolve_module_path


@dataclass(frozen=True)
class FunctionSpec:
    """Everything needed to register + later evict a function."""

    name: str
    module_path: str  # resolved, absolute
    method: str
    stmt: CreateFunctionStmt
    version: str  # udf_runtime.module_version of the file at CREATE

    @property
    def module_key(self) -> tuple[str, str]:
        """The loader's cache key (≙ path key, lib.rs:20, plus version)."""
        return self.module_path, self.version


class FunctionFactory(Protocol):
    """≙ ``trait FunctionFactory`` (lib.rs:31)."""

    def create(self, stmt: CreateFunctionStmt) -> FunctionSpec:  # pragma: no cover
        ...


class PythonModuleFunctionFactory:
    """Loads scalar functions from Python modules (``'mod.py!fn'``) and
    WASM modules (``'mod.wasm!fn'``).

    The loaded symbol must follow the guest calling convention
    ``list[pyarrow.Array] -> pyarrow.Array`` (≙ ``fn(&[ArrayRef]) ->
    Result<ArrayRef, E>``, /root/reference/wasm_function/src/lib.rs:26),
    raising exceptions for the error path.
    """

    def __init__(self, roots: tuple[str, ...] = ()):
        self._roots = tuple(roots)

    def create(self, stmt: CreateFunctionStmt) -> FunctionSpec:
        module, method = split_definition(stmt.definition)
        resolved = resolve_module_path(module, self._roots)
        version = module_version(resolved)
        # Driver-side validation: load this version once and check the
        # symbol exists (the executor re-loads lazily into its own
        # process cache).
        get_function(resolved, method, version)
        return FunctionSpec(stmt.name, resolved, method, stmt, version)
