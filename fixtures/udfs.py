"""Function-module fixture — the Python analog of the reference's guest
crate (/root/reference/wasm_function/src/lib.rs).

Calling convention (≙ ``fn(&[ArrayRef]) -> Result<ArrayRef, E>``,
wasm_function/src/lib.rs:26): each function takes ``list[pyarrow.Array]``
and returns a ``pyarrow.Array``; raising an ``Exception`` is the
recoverable error path (``Err(String)``), raising a ``BaseException``
subclass that is *not* an ``Exception`` is the trap/panic path.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


class PanicError(BaseException):
    """A hard, unrecoverable failure (≙ a WASM trap)."""


def f1(args: list[pa.Array]) -> pa.Array:
    """Element-wise ``a ** b``, NULL-propagating, Float64.

    ≙ guest ``f1`` (wasm_function/src/lib.rs:26-53); golden output for
    a=[2,3,4,5], b=[2,3,4,5.1] is 4.0, 27.0, 256.0, 3670.684197150057
    (wasmedge_factory/src/lib.rs:199-208).
    """
    base, exponent = args
    return pc.power(base.cast(pa.float64()), exponent.cast(pa.float64()))


# A second export of the same module — used by the create/drop lifecycle
# test to assert the module cache is shared (lib.rs:344-345).
f2 = f1


def emb_norm(args: list[pa.Array]) -> pa.Array:
    """L2 norm of a float-list column — demonstrates ARRAY arguments
    crossing the vectorized boundary (beyond the reference's
    Float64-only exercise, SURVEY §1.2)."""
    import numpy as np

    [vecs] = args
    out = []
    for v in vecs:
        if v is None or not v.is_valid:
            out.append(None)
        else:
            arr = np.asarray(v.as_py(), dtype=np.float64)
            out.append(float(np.sqrt((arr * arr).sum())))
    return pa.array(out, pa.float64())


def str_len_upper(args: list[pa.Array]) -> pa.Array:
    """Length of the upper-cased string — STRING in, BIGINT out."""
    import pyarrow.compute as pc

    [s] = args
    return pc.utf8_length(pc.utf8_upper(s)).cast(pa.int64())


def f_return_error(args: list[pa.Array]) -> pa.Array:
    """≙ guest ``f_return_error`` (wasm_function/src/lib.rs:55-57)."""
    raise RuntimeError("wasm function returned error")


def f_return_arrow_error(args: list[pa.Array]) -> pa.Array:
    """≙ guest ``f_return_arrow_error`` (wasm_function/src/lib.rs:60-62):
    an ArrowError::DivideByZero stringifies to this exact message."""
    raise RuntimeError("Divide by zero error")


def f_panic(args: list[pa.Array]) -> pa.Array:
    """≙ guest ``f_panic`` (wasm_function/src/lib.rs:64-66, trap path —
    test ignored upstream, lib.rs:265-308)."""
    raise PanicError("unreachable")


def batch_len(args: list[pa.Array]) -> pa.Array:
    """The length of the batch this call received, on every row — makes
    the Arrow batches Spark sends across the boundary visible from SQL."""
    n = len(args[0])
    return pa.array([n] * n, pa.int64())
