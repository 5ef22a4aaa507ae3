"""Guest functions the benchmark registers through ``CREATE FUNCTION``
in addition to those in ``fixtures/udfs.py``. They follow the same
calling convention, ``list[pyarrow.Array] -> pyarrow.Array``, and are
vectorized so that a call's cost is the engine's transfer and coercion,
not a per-row loop in the guest.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def vec_norm(args: list[pa.Array]) -> pa.Array:
    """L2 norm of each list of floats, accumulated in float64 in element
    order; NULL for a NULL list."""
    [vecs] = args
    flat = pc.list_flatten(vecs).cast(pa.float64()).to_numpy(zero_copy_only=False)
    rows = pc.list_parent_indices(vecs).to_numpy(zero_copy_only=False)
    sums = np.bincount(rows, weights=flat * flat, minlength=len(vecs))
    return pa.array(np.sqrt(sums), mask=vecs.is_null().to_numpy(zero_copy_only=False))
