"""Vectorized NumPy backend for the vector kernels — the analog of the
reference's ``blas32`` backend (/root/reference/node/backend/blas32.go:41-43),
selected like ``backend.Select`` (node/backend/backend.go:26-36).

Arrow UDFs: each batch arrives as an Arrow list array, and every kernel
is a segmented sum (``np.add.reduceat``) over the list's flat values and
offsets, so one batch may hold vectors of any mix of lengths and no
Python loop runs per row. NULL semantics follow the Catalyst path: a
null vector, a null element, or (for dot) a length mismatch yields NULL;
an empty vector sums to 0. This is the wide-vector fast path; for dims
up to a few hundred, the pure-Catalyst expressions in ``vector.py`` win
because they never leave the JVM.

Unlike the reference — whose backend serializes every call behind a global
mutex (node/backend/backend.go:8,67-71) — both backends here parallelize
per-partition.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

_BACKEND = "catalyst"  # {"catalyst", "numpy"}; reference default is "blas32"


def select_backend(name: str) -> None:
    """Choose the kernel implementation, mirroring backend.Select
    (node/backend/backend.go:26-36). 'catalyst' ≈ 'naive' (but codegen'd
    and parallel), 'numpy' ≈ 'blas32'."""
    if name not in ("catalyst", "numpy"):
        raise ValueError(f"unknown backend {name!r}")
    global _BACKEND
    _BACKEND = name


def current_backend() -> str:
    return _BACKEND


def _segment_sums(x: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row sums of ``x`` over the rows ``[offsets[i], offsets[i+1])``.
    ``reduceat`` yields the element itself for an empty segment, not 0,
    so empty rows are masked; the appended 0 keeps the start index of a
    trailing empty row in range."""
    sums = np.add.reduceat(np.append(x[: offsets[-1]], 0), offsets[:-1])
    return np.where(np.diff(offsets) > 0, sums, 0)


def _lists(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat float64 values, offsets, null mask) of an Arrow list array.
    A row is null when the list is null or holds a null element."""
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False).astype(np.float64)
    null = ~arr.is_valid().to_numpy(zero_copy_only=False)
    if arr.values.null_count:
        elem_null = arr.values.is_null().to_numpy(zero_copy_only=False).astype(np.int64)
        null |= _segment_sums(elem_null, offsets) > 0
    return values, offsets, null


def _dot(a: pa.Array, b: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(dot products, null mask): rows whose lengths differ are null,
    like the Catalyst ``zip_with`` padding."""
    va, oa, na = _lists(a)
    vb, ob, nb = _lists(b)
    lens = np.diff(oa)
    ok = ~na & ~nb & (lens == np.diff(ob))
    lens = np.where(ok, lens, 0)
    # gather the kept rows of both sides into one aligned flat layout
    ends = np.cumsum(lens)
    row = np.repeat(np.arange(len(lens)), lens)
    pos = np.arange(len(row)) - np.repeat(ends - lens, lens)
    prods = va[oa[:-1][row] + pos] * vb[ob[:-1][row] + pos]
    return _segment_sums(prods, np.concatenate([[0], ends])), ~ok


def _norms(a: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    values, offsets, null = _lists(a)
    return np.sqrt(_segment_sums(values * values, offsets)), null


def _out(values: np.ndarray, null: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.float64(), mask=null)


@F.arrow_udf(DoubleType())
def dot_np(a: pa.Array, b: pa.Array) -> pa.Array:
    """Batched dot product: one segmented sum per Arrow batch."""
    return _out(*_dot(a, b))


@F.arrow_udf(DoubleType())
def magnitude_np(a: pa.Array) -> pa.Array:
    return _out(*_norms(a))


@F.arrow_udf(DoubleType())
def cosine_np(a: pa.Array, b: pa.Array) -> pa.Array:
    """Cosine with the reference's zero-magnitude -> 0.0 rule
    (node/wrapper/record.go:98-102), which wins over a NULL dot exactly
    as in the Catalyst ``when``."""
    dots, dot_null = _dot(a, b)
    (ma, na), (mb, nb) = _norms(a), _norms(b)
    den = ma * mb
    zero = den == 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(zero, 0.0, dots / np.where(zero, 1.0, den))
    return _out(out, na | nb | (~zero & dot_null))


def dot_auto(a: Column | str, b: Column | str) -> Column:
    """Backend-dispatched dot, like the reference's pluggable Dot kernel."""
    from sum_spark.functions import vector

    if _BACKEND == "numpy":
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return dot_np(a, b)
    return vector.dot(a, b)


def cosine_auto(a: Column | str, b: Column | str) -> Column:
    from sum_spark.functions import vector

    if _BACKEND == "numpy":
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return cosine_np(a, b)
    return vector.cosine(a, b)
