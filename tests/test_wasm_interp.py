"""Unit tests for the pure-Python WASM interpreter.

Semantics pinned with tiny hand-assembled modules (no toolchain in the
environment): integer division/remainder truncation, shift masking,
control flow (loop + br_if, br_table, if/else), call_indirect, memory
ops, and the float edge cases that differ from Python's defaults.
The integration-level proof is tests/test_wasm_backend.py, which runs
the reference's real Rust guest.
"""

from __future__ import annotations

import struct

import pytest

from tests.wasm_encoding import section, uleb
from wasaffi_spark.wasm_interp import Instance, Trap, parse_module


def _module(param_types: bytes, result_types: bytes, body: bytes,
            n_locals_i32: int = 0, extra_sections: bytes = b"") -> Instance:
    """One-function module: (params) -> (results) with the given raw body."""
    ftype = b"\x60" + uleb(len(param_types)) + param_types + uleb(len(result_types)) + result_types
    types = section(1, b"\x01" + ftype)
    funcs = section(3, b"\x01\x00")
    mem = section(5, b"\x01\x00\x01")  # 1 page, no max
    exports = section(7, b"\x01" + uleb(1) + b"f" + b"\x00\x00")
    locals_decl = (b"\x01" + uleb(n_locals_i32) + b"\x7f") if n_locals_i32 else b"\x00"
    code_body = locals_decl + body + b"\x0b"
    code = section(10, b"\x01" + uleb(len(code_body)) + code_body)
    blob = b"\0asm\x01\0\0\0" + types + funcs + mem + extra_sections + exports + code
    return Instance(parse_module(blob))


I32, I64, F64 = b"\x7f", b"\x7e", b"\x7c"


def test_div_rem_truncate_toward_zero():
    # (a, b) -> a div_s b
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x6d")
    assert inst.invoke("f", -7, 2) == (-3) & 0xFFFFFFFF  # trunc, not floor
    assert inst.invoke("f", 7, -2) == (-3) & 0xFFFFFFFF
    with pytest.raises(Trap):
        inst.invoke("f", 1, 0)
    with pytest.raises(Trap):
        inst.invoke("f", -(2**31), -1)
    # rem_s: sign follows the dividend
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x6f")
    assert inst.invoke("f", -7, 2) == (-1) & 0xFFFFFFFF
    assert inst.invoke("f", 7, -2) == 1


def test_shifts_mask_count_and_rotl():
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x74")  # shl
    assert inst.invoke("f", 1, 33) == 2  # count mod 32
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x77")  # rotl
    assert inst.invoke("f", 0x80000001, 1) == 3


def test_loop_sum_with_br_if():
    # sum 1..n via loop: local1=acc, local0=n
    body = bytes(
        [
            0x02, 0x40,              # block
            0x03, 0x40,              # loop
            0x20, 0x00, 0x45, 0x0D, 0x01,  # local.get 0; eqz; br_if 1 (exit)
            0x20, 0x01, 0x20, 0x00, 0x6A, 0x21, 0x01,  # acc += n
            0x20, 0x00, 0x41, 0x01, 0x6B, 0x21, 0x00,  # n -= 1
            0x0C, 0x00,              # br 0 (continue loop)
            0x0B, 0x0B,              # end end
            0x20, 0x01,              # local.get 1
        ]
    )
    inst = _module(I32, I32, body, n_locals_i32=1)
    assert inst.invoke("f", 100) == 5050


def test_br_table_and_if_else():
    # br_table selecting 10/20/default 30
    body = bytes(
        [
            0x02, 0x40, 0x02, 0x40, 0x02, 0x40,  # 3 nested blocks
            0x20, 0x00, 0x0E, 0x02, 0x00, 0x01, 0x02,  # br_table [0,1] default 2
            0x0B, 0x41, 0x0A, 0x0F,  # end; return 10
            0x0B, 0x41, 0x14, 0x0F,  # end; return 20
            0x0B, 0x41, 0x1E,        # end; 30
        ]
    )
    inst = _module(I32, I32, body)
    assert inst.invoke("f", 0) == 10
    assert inst.invoke("f", 1) == 20
    assert inst.invoke("f", 7) == 30
    # if/else with result type
    body = bytes([0x20, 0x00, 0x04, 0x7F, 0x41, 0x01, 0x05, 0x41, 0x02, 0x0B])
    inst = _module(I32, I32, body)
    assert inst.invoke("f", 5) == 1
    assert inst.invoke("f", 0) == 2


def test_memory_store_load_and_oob():
    # store i32 at addr, load back
    body = bytes([0x20, 0x00, 0x20, 0x01, 0x36, 0x02, 0x00,  # i32.store
                  0x20, 0x00, 0x28, 0x02, 0x00])             # i32.load
    inst = _module(I32 + I32, I32, body)
    assert inst.invoke("f", 1024, 0xDEADBEEF) == 0xDEADBEEF
    with pytest.raises(Trap):
        inst.invoke("f", 65536, 1)  # past the 1-page memory


def test_float_edges():
    # f64.div: 1/0 -> inf (Python would raise)
    inst = _module(F64 + F64, F64, b"\x20\x00\x20\x01\xa3")
    assert inst.invoke("f", 1.0, 0.0) == float("inf")
    assert inst.invoke("f", -1.0, 0.0) == float("-inf")
    out = inst.invoke("f", 0.0, 0.0)
    assert out != out  # NaN
    # i32.trunc_f64_s traps on overflow; saturating variant clamps
    inst = _module(F64, I32, b"\x20\x00\xaa")
    with pytest.raises(Trap):
        inst.invoke("f", 1e20)
    inst = _module(F64, I32, b"\x20\x00\xfc\x02")
    assert inst.invoke("f", 1e20) == 0x7FFFFFFF
    assert inst.invoke("f", float("nan")) == 0


def test_i64_ops_and_wrap():
    inst = _module(I64 + I64, I64, b"\x20\x00\x20\x01\x7e")  # i64.mul
    assert inst.invoke("f", 2**40, 2**30) == (2**70) & ((1 << 64) - 1)
    # i32.wrap_i64
    inst = _module(I64, I32, b"\x20\x00\xa7")
    assert inst.invoke("f", 0x1_FFFF_FFFF) == 0xFFFFFFFF


def test_sign_extension_ops():
    inst = _module(I32, I32, b"\x20\x00\xc0")  # i32.extend8_s
    assert inst.invoke("f", 0x80) == 0xFFFFFF80
    assert inst.invoke("f", 0x7F) == 0x7F


def test_reference_artifact_loads():
    import os

    path = "/root/reference/wasm_function.wasm"
    if not os.path.exists(path):
        pytest.skip("reference artifact not present")
    m = parse_module(open(path, "rb").read())
    inst = Instance(m)
    p = inst.invoke("allocate", 256)
    inst.write_mem(p, b"x" * 256)
    assert inst.read_mem(p, 256) == b"x" * 256
    inst.invoke("deallocate", p, 256)


# -- property tests: interpreter arithmetic vs a Python reference model


from hypothesis import given, settings, strategies as st

_i32 = st.integers(min_value=0, max_value=0xFFFFFFFF)
_i64 = st.integers(min_value=0, max_value=(1 << 64) - 1)


def _sgn(v, bits):
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


@st.composite
def _i32_pairs(draw):
    return draw(_i32), draw(_i32)


_I32_BINOPS = {
    0x6A: lambda a, b: (a + b) & 0xFFFFFFFF,
    0x6B: lambda a, b: (a - b) & 0xFFFFFFFF,
    0x6C: lambda a, b: (a * b) & 0xFFFFFFFF,
    0x71: lambda a, b: a & b,
    0x72: lambda a, b: a | b,
    0x73: lambda a, b: a ^ b,
    0x74: lambda a, b: (a << (b % 32)) & 0xFFFFFFFF,
    0x75: lambda a, b: (_sgn(a, 32) >> (b % 32)) & 0xFFFFFFFF,
    0x76: lambda a, b: a >> (b % 32),
}


@settings(max_examples=200, deadline=None)
@given(_i32_pairs(), st.sampled_from(sorted(_I32_BINOPS)))
def test_i32_binops_match_model(pair, op):
    a, b = pair
    inst = _module(I32 + I32, I32, bytes([0x20, 0x00, 0x20, 0x01, op]))
    assert inst.invoke("f", a, b) == _I32_BINOPS[op](a, b)


@settings(max_examples=100, deadline=None)
@given(_i32, _i32)
def test_i32_divmod_match_model(a, b):
    if b == 0:
        return
    sa, sb = _sgn(a, 32), _sgn(b, 32)
    if sa == -(2**31) and sb == -1:
        return
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x6d")
    q = abs(sa) // abs(sb)
    if (sa < 0) != (sb < 0):
        q = -q
    assert inst.invoke("f", a, b) == q & 0xFFFFFFFF
    inst = _module(I32 + I32, I32, b"\x20\x00\x20\x01\x6f")
    assert inst.invoke("f", a, b) == (sa - sb * q) & 0xFFFFFFFF


@settings(max_examples=100, deadline=None)
@given(_i64, st.integers(min_value=0, max_value=127))
def test_i64_rot_inverse(v, n):
    # rotl then rotr by the same count is the identity
    body_l = b"\x20\x00\x20\x01\x89"
    body_r = b"\x20\x00\x20\x01\x8a"
    il = _module(I64 + I64, I64, body_l)
    ir = _module(I64 + I64, I64, body_r)
    assert ir.invoke("f", il.invoke("f", v, n), n) == v


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=0xFFFFFFFF))
def test_clz_ctz_popcnt_model(v):
    for op, model in (
        (0x67, lambda x: 32 - x.bit_length() if x else 32),
        (0x68, lambda x: (x & -x).bit_length() - 1 if x else 32),
        (0x69, lambda x: x.bit_count()),
    ):
        inst = _module(I32, I32, bytes([0x20, 0x00, op]))
        assert inst.invoke("f", v) == model(v)


def test_br_to_function_label_returns():
    # `br 0` with no open blocks targets the implicit function label:
    # must act as return, not IndexError.
    inst = _module(I32, I32, b"\x20\x00\x0c\x00")  # local.get 0; br 0
    assert inst.invoke("f", 42) == 42
    # br_if 0 at top level: nonzero arg returns the arg, zero falls through
    body = b"\x20\x00\x20\x00\x0d\x00\x1a\x41\xe3\x00"  # lg0 lg0 br_if0 drop i32.const 99
    inst = _module(I32, I32, body)
    assert inst.invoke("f", 7) == 7
    assert inst.invoke("f", 0) == 99
    # br_table whose default arm is the function label
    body = b"\x20\x00\x41\x00\x0e\x00\x00"  # lg0; i32.const 0; br_table [] 0
    inst = _module(I32, I32, body)
    assert inst.invoke("f", 11) == 11


def test_f32_overflow_rounds_to_infinity():
    # f32.demote_f64 of an out-of-range double is +/-inf per spec,
    # not a Python OverflowError.
    F32 = b"\x7d"
    inst = _module(F64, F32, b"\x20\x00\xb6")  # local.get 0; f32.demote_f64
    assert inst.invoke("f", 1e300) == float("inf")
    assert inst.invoke("f", -1e300) == float("-inf")
    assert inst.invoke("f", 1.5) == 1.5
