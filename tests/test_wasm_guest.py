"""The `.wasm` path end to end through ``Engine.sql``, on a tiny in-repo
guest that speaks the wasmedge-bindgen ABI ``wasm_backend`` binds (see
its module docstring). The guest is assembled here as bytes, so these
tests need no toolchain and no reference artifact. It exports

- ``memory`` (16 pages), ``allocate`` (a bump allocator over global 0
  that never frees; enough for test-sized batches) and a no-op
  ``deallocate``;
- ``__wasm_udf_echo``: returns its payload, the Arrow IPC stream of the
  argument batch, so column 0 round-trips;
- ``__wasm_udf_err``: returns ``Err(ERR_MESSAGE)`` from a data segment;
- ``__wasm_udf_trap``: runs ``unreachable``.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from tests.wasm_encoding import section, sleb, uleb
from wasaffi_spark import udf_runtime
from wasaffi_spark.errors import ModuleLoadError, WasmInvocationPanic

ERR_MESSAGE = b"guest says no"
ERR_AT = 16  # data-segment offset of ERR_MESSAGE
HEAP_AT = 1024  # first address allocate hands out

I32 = 0x7F
# (i32) -> i32, (i32, i32) -> (), (i32, i32) -> i32
TYPES = [([I32], [I32]), ([I32, I32], []), ([I32, I32], [I32])]


def _i32_const(v: int) -> bytes:
    return b"\x41" + sleb(v)


def _local(op: int, i: int) -> bytes:  # 0x20 get, 0x21 set
    return bytes([op]) + uleb(i)


def _store(offset: int, value: bytes, base: int, op: int = 0x36) -> bytes:
    """``mem[local base + offset] = value`` (i32.store, or 0x3A i32.store8)."""
    return _local(0x20, base) + value + bytes([op, 0]) + uleb(offset)


def _load(offset: int, base: int) -> bytes:
    return _local(0x20, base) + b"\x28\x00" + uleb(offset)


def _header(r: int, status: int, p1: bytes, p2: bytes) -> bytes:
    """``r = allocate(9)``, then ``[status: u8][p1: u32][p2: u32]`` at r."""
    return (
        _i32_const(9) + b"\x10\x00" + _local(0x21, r)
        + _store(0, _i32_const(status), r, op=0x3A)
        + _store(1, p1, r)
        + _store(5, p2, r)
        + _local(0x20, r)
    )


def _body(n_locals: int, code: bytes) -> bytes:
    decl = (b"\x01" + uleb(n_locals) + bytes([I32])) if n_locals else b"\x00"
    body = decl + code + b"\x0b"
    return uleb(len(body)) + body


def guest_bytes(with_allocate: bool = True) -> bytes:
    # allocate(n): old = heap; heap += n; return old
    allocate = b"\x23\x00" + b"\x23\x00" + _local(0x20, 0) + b"\x6a" + b"\x24\x00"
    # echo(params, n): d = allocate(16) = [buf][21][len][len]; Ok(d, 1)
    echo = (
        _i32_const(16) + b"\x10\x00" + _local(0x21, 2)
        + _store(0, _load(0, 0), 2)
        + _store(4, _i32_const(21), 2)
        + _store(8, _load(4, 0), 2)
        + _store(12, _load(4, 0), 2)
        + _header(3, 0, _local(0x20, 2), _i32_const(1))
    )
    err = _header(2, 1, _i32_const(ERR_AT), _i32_const(len(ERR_MESSAGE)))
    funcs = [
        ("allocate", 0, _body(0, allocate)),
        ("deallocate", 1, _body(0, b"")),
        ("__wasm_udf_echo", 2, _body(2, echo)),
        ("__wasm_udf_err", 2, _body(1, err)),
        ("__wasm_udf_trap", 2, _body(0, b"\x00")),
    ]

    def vec(items) -> bytes:
        return uleb(len(items)) + b"".join(items)

    def name(s: str) -> bytes:
        return uleb(len(s)) + s.encode()

    exports = [name("memory") + b"\x02\x00"] + [
        name(n) + b"\x00" + uleb(i)
        for i, (n, _, _) in enumerate(funcs)
        if with_allocate or n != "allocate"
    ]
    return b"\0asm\x01\0\0\0" + b"".join([
        section(1, vec([
            b"\x60" + vec([bytes([t]) for t in ps]) + vec([bytes([t]) for t in rs])
            for ps, rs in TYPES
        ])),
        section(3, vec([uleb(t) for _, t, _ in funcs])),
        section(5, b"\x01\x00" + uleb(16)),
        section(6, b"\x01" + bytes([I32]) + b"\x01" + _i32_const(HEAP_AT) + b"\x0b"),
        section(7, vec(exports)),
        section(10, vec([b for _, _, b in funcs])),
        section(11, b"\x01\x00" + _i32_const(ERR_AT) + b"\x0b"
                + uleb(len(ERR_MESSAGE)) + ERR_MESSAGE),
    ])


@pytest.fixture()
def guest(tmp_path):
    path = tmp_path / "guest.wasm"
    path.write_bytes(guest_bytes())
    return str(path)


def create(engine, name: str, path: str, method: str) -> None:
    engine.sql(
        f"CREATE FUNCTION {name}(DOUBLE) RETURNS DOUBLE LANGUAGE WASM "
        f"AS '{path}!{method}'"
    )


def test_echo_round_trips_a_double_column_with_nulls(engine, guest):
    create(engine, "echo", guest, "echo")
    rows = engine.sql(
        "select x, echo(x) as y from values (1.5D), (null), (-3.0D), (1e300D) as t(x)"
    ).collect()
    assert [r["y"] for r in rows] == [1.5, None, -3.0, 1e300]


def test_err_surfaces_as_invocation_error(engine, guest):
    create(engine, "err", guest, "err")
    with pytest.raises(Exception) as ei:
        engine.sql("select err(1.0D) as v").collect()
    assert f"[Wasm Invocation] {ERR_MESSAGE.decode()}" in str(ei.value)


def test_trap_surfaces_as_panic_and_instance_survives(engine, guest):
    create(engine, "trap", guest, "trap")
    create(engine, "echo", guest, "echo")
    with pytest.raises(Exception) as ei:
        engine.sql("select trap(1.0D) as v").collect()
    assert "[Wasm Invocation Panic] unreachable" in str(ei.value)
    [row] = engine.sql("select echo(2.0D) as v").collect()
    assert row["v"] == 2.0
    # the cached instance CREATE validated with: a trap, then an echo
    module = udf_runtime.load_module(guest)
    with pytest.raises(WasmInvocationPanic):
        module.get_udf("trap")([pa.array([1.0])])
    assert udf_runtime.load_module(guest) is module
    assert module.get_udf("echo")([pa.array([7.0, None])]).to_pylist() == [7.0, None]


def test_unknown_symbol_and_missing_allocate_rejected_at_create(engine, guest, tmp_path):
    with pytest.raises(ModuleLoadError, match="__wasm_udf_nope"):
        create(engine, "nope", guest, "nope")
    bare = tmp_path / "no_allocate.wasm"
    bare.write_bytes(guest_bytes(with_allocate=False))
    with pytest.raises(ModuleLoadError, match="does not export 'allocate'"):
        create(engine, "echo", str(bare), "echo")
    assert engine.function_names() == []
