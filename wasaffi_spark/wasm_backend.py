"""Real-WASM module backend, speaking the reference's ABI.

The reference guest exports ``__wasm_udf_<name>(payload: Vec<u8>) ->
Result<Vec<u8>, String>`` where payload/result are Arrow IPC streams of
the packed argument batch / single-column result batch
(/root/reference/wasm_udf/src/lib.rs:51-67, pack/unpack at lib.rs:12-43),
bound through wasmedge-bindgen's allocate/call convention.

Execution vehicle: wasmtime when importable, else the bundled
pure-Python interpreter (:mod:`wasaffi_spark.wasm_interp`) — slower by
orders of magnitude but sufficient for parity tests and small batches;
the production UDF path remains the Arrow-vectorized ``.py`` backend.

wasmedge-bindgen calling convention (verified EMPIRICALLY against the
reference's prebuilt guest, not assumed — see
tests/test_wasm_backend.py::test_e2e_golden_values; the default test
path runs it on the in-repo guest of tests/test_wasm_guest.py), written
once in :meth:`WasmModule._call`:

- host: ``buf = allocate(len(payload))``; write payload at ``buf``
  (the guest takes ownership of ``buf`` — it is freed guest-side, so a
  fresh buffer is required per call);
- host: ``params = allocate(8)``; write ``[buf: u32][len: u32]``;
- call ``__wasm_udf_<name>(params, 1) -> ret``;
- at ``ret`` (packed, unaligned): ``[status: u8][p1: u32][p2: u32]``;
- status != 0 → Err: the UTF-8 error string is at ``(p1, len=p2)``;
- status == 0 → Ok: ``p1`` points to ``p2`` value descriptors of
  ``[ptr: u32][type_tag: u32][len: u32][cap: u32]`` — for
  ``Vec<u8>`` (type_tag 21) the result bytes are at ``(ptr, len)``;
- a guest panic reaches the host as a trap (``unreachable``), and the
  instance remains usable afterwards (≙ lib.rs:297-306).
"""

from __future__ import annotations

import struct
from collections.abc import Callable

import pyarrow as pa

from .errors import ModuleLoadError, WasmInvocationError, WasmInvocationPanic

GUEST_PREFIX = "__wasm_udf_"  # ≙ udf.rs:52


def pack_arrays(arrays: list[pa.Array]) -> bytes:
    """arrays → single-batch Arrow IPC stream with columns ``c0..cN``.

    ≙ ``pack_array`` + ``to_ipc`` (/root/reference/wasm_udf/src/lib.rs:12-22,31-37).
    Unlike the reference we declare fields nullable (SURVEY §1.2 quirk).
    """
    batch = pa.RecordBatch.from_arrays(
        list(arrays), names=[f"c{i}" for i in range(len(arrays))]
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def unpack_result(payload: bytes) -> pa.Array:
    """IPC stream bytes → column 0 of the first batch.

    ≙ ``from_ipc`` + ``batch.column(0)`` (/root/reference/wasm_udf/src/lib.rs:40-43,
    wasmedge_factory/src/udf.rs:104-108)."""
    with pa.ipc.open_stream(payload) as r:
        batch = r.read_next_batch()
    return batch.column(0)


class _InterpRuntime:
    """Pure-Python interpreter runtime (always available)."""

    def __init__(self, path: str):
        from . import wasm_interp

        self.trap_type = wasm_interp.Trap
        try:
            with open(path, "rb") as f:
                self.inst = wasm_interp.Instance(wasm_interp.parse_module(f.read()))
        except (wasm_interp.WasmError, OSError) as e:
            raise ModuleLoadError(f"cannot load {path!r}: {e}") from e
        self.invoke = self.inst.invoke
        self.read = self.inst.read_mem
        self.write = self.inst.write_mem

    def has(self, name: str) -> bool:
        if name == "memory":
            # The memory section is optional in a valid module; the ABI
            # requires one, so check the parsed module itself.
            return self.inst.m.has_memory
        return name in self.inst.exports


class _WasmtimeRuntime:
    """wasmtime runtime (preferred when the package is importable)."""

    def __init__(self, path: str):
        import wasmtime

        self.trap_type = wasmtime.Trap
        engine = wasmtime.Engine()
        self.store = wasmtime.Store(engine)
        module = wasmtime.Module.from_file(engine, path)
        self._ex = wasmtime.Instance(self.store, module, []).exports(self.store)

    def has(self, name: str) -> bool:
        return self._ex.get(name) is not None

    def invoke(self, name: str, *args: int):
        return self._ex[name](self.store, *args)

    def read(self, ptr: int, n: int) -> bytes:
        return bytes(self._ex["memory"].read(self.store, ptr, ptr + n))

    def write(self, ptr: int, data: bytes) -> None:
        self._ex["memory"].write(self.store, data, ptr)


class WasmModule:
    """A loaded ``.wasm`` module exposing reference-ABI UDFs.

    Mirrors ``VmDock`` usage (/root/reference/wasmedge_factory/src/lib.rs:124-129):
    one engine/store/instance per module per worker process, cached by
    :mod:`wasaffi_spark.udf_runtime`. The runtime underneath supplies
    only ``invoke``/``read``/``write``/``has``; the bindgen call
    sequence is :meth:`_call`, written once for both.
    """

    def __init__(self, path: str):
        self.path = path
        try:
            import wasmtime  # noqa: F401
        except ImportError:
            self._rt = _InterpRuntime(path)
        else:
            try:
                self._rt = _WasmtimeRuntime(path)
            except Exception as e:  # missing/corrupt file, bad module
                raise ModuleLoadError(f"cannot load {path!r}: {e}") from e
        # Validate the wasmedge-bindgen ABI surface at load time so a
        # non-conforming module fails with ModuleLoadError at CREATE
        # FUNCTION, not with a raw error at first invoke.
        for required in ("memory", "allocate", "deallocate"):
            if not self._rt.has(required):
                raise ModuleLoadError(
                    f"wasm module {path!r} does not export {required!r} "
                    "(wasmedge-bindgen ABI required)"
                )

    def get_udf(self, method: str) -> Callable[[list[pa.Array]], pa.Array]:
        symbol = GUEST_PREFIX + method  # ≙ udf.rs:52
        if not self._rt.has(symbol):
            raise ModuleLoadError(f"wasm module does not export {symbol!r}")

        def call(arrays: list[pa.Array]) -> pa.Array:
            try:
                out = self._call(symbol, pack_arrays(arrays))
            except self._rt.trap_type as e:  # guest panic/trap (≙ udf.rs:95)
                raise WasmInvocationPanic(str(e)) from e
            return unpack_result(out)

        return call

    def _call(self, symbol: str, payload: bytes) -> bytes:
        """One wasmedge-bindgen call (module docstring): the result bytes,
        or :class:`WasmInvocationError` carrying the guest's ``Err``."""
        rt = self._rt
        buf = rt.invoke("allocate", len(payload))
        rt.write(buf, payload)
        params = rt.invoke("allocate", 8)
        rt.write(params, struct.pack("<II", buf, len(payload)))
        try:
            ret = rt.invoke(symbol, params, 1)
        finally:
            rt.invoke("deallocate", params, 8)
        # Read then FREE everything the guest handed back: the module is
        # cached for the worker's lifetime and called once per Arrow
        # batch, so unfreed result buffers grow linear memory until
        # allocate fails.  (Rust's wasm dlmalloc ignores the size arg of
        # dealloc, so the len/cap distinction below is belt-and-braces.)
        status, p1, p2 = struct.unpack("<BII", rt.read(ret, 9))
        try:
            if status != 0:
                message = rt.read(p1, p2).decode("utf-8", errors="replace")
                rt.invoke("deallocate", p1, p2)
                raise WasmInvocationError(message)
            vptr, _tag, vlen, vcap = struct.unpack("<4I", rt.read(p1, 16))
            out = rt.read(vptr, vlen)
            rt.invoke("deallocate", vptr, vcap)
            rt.invoke("deallocate", p1, p2 * 16)
            return out
        finally:
            rt.invoke("deallocate", ret, 9)
