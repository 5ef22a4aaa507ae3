"""Driver-side function registry.

≙ the reference's session function registry plus the live-module count
of its weak-valued module cache
(/root/reference/wasmedge_factory/src/lib.rs:20,79-100): a module counts
as loaded while at least one registered function references it, and
stops counting when the last such function is dropped — the contract
pinned by ``should_create_drop_function`` (lib.rs:310-375: two functions
of one module ⇒ cache size 1; drop both ⇒ cache size 0). The count is
derived from the registered specs' module keys (path plus version), so
it needs no state of its own; the modules themselves live in
``udf_runtime``'s loader cache.
"""

from __future__ import annotations

from .errors import WasmFunctionError
from .factory import FunctionSpec


class FunctionRegistry:
    def __init__(self) -> None:
        self._functions: dict[str, FunctionSpec] = {}

    def register(self, spec: FunctionSpec) -> None:
        # Spark's udf.register overwrites; so does the registry.
        self._functions[spec.name] = spec

    def drop(self, name: str) -> FunctionSpec:
        spec = self._functions.pop(name, None)
        if spec is None:
            raise WasmFunctionError(f"function {name!r} is not registered")
        return spec

    def get(self, name: str) -> FunctionSpec | None:
        return self._functions.get(name)

    def __contains__(self, name: str) -> bool:
        return name in self._functions

    def functions(self) -> dict[str, FunctionSpec]:
        return dict(self._functions)

    def cache_size(self) -> int:
        """Number of live (referenced) modules — the quantity the
        reference test asserts (lib.rs:344-345, 363-372)."""
        return len({spec.module_key for spec in self._functions.values()})
