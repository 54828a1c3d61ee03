"""Vector kernel library — the reference's per-record compute surface
(/root/reference/node/wrapper/record.go) as composable Catalyst Column
expressions.

Design notes (Spark-first, not a port):

- Everything here is a *pure column expression* built from
  ``zip_with``/``aggregate``/``slice``: it parallelizes per-partition and
  needs no Python round-trip. The higher-order functions are
  ``CodegenFallback`` in Spark 4.1, so each one is interpreted per
  element outside whole-stage codegen; callers that need a kernel more
  than once per row should alias it in one projection and reference the
  alias (``operators/similarity.py`` stages dot and norm that way).
  Contrast: the reference serializes every dot product behind one global
  mutex (node/backend/backend.go:8,67-71); Spark's per-partition execution
  removes that bottleneck by construction.
- Accumulation is float64 over float32 inputs, matching the reference's
  ``naive`` backend (node/backend/naive.go:29-36) and avoiding
  precision loss on long vectors.
- Edge-case semantics preserved exactly:
    * cosine with a zero-magnitude side returns 0.0
      (node/wrapper/record.go:98-102);
    * jaccard = m11 / (m11 + m10), 0.0 when the denominator is 0
      (node/wrapper/record.go:129-147) — "m11" counts positions where the
      product is nonzero-one (binary vectors assumed), "m10" positions
      where exactly one side is 1;
    * range variants operate on the half-open index range [start, end)
      (node/wrapper/record.go:78-84, 117-127, 149-168), sub variants on
      the first ``elems`` elements.
- Length-mismatched inputs yield NULL (zip_with pads with nulls) rather
  than the reference's panic; callers that want the strict behavior can
  assert on ``F.size``.

A vectorized NumPy/Arrow path (the ``blas32`` analog,
node/backend/blas32.go:41-43) lives in ``vector_pandas.py``; selection
between the two mirrors ``backend.Select`` (node/backend/backend.go:26-36).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "dot_range",
    "dot_sub",
    "magnitude",
    "cosine",
    "cosine_sub",
    "cosine_range",
    "jaccard",
    "jaccard_range",
    "vec_equal",
    "vec_get",
    "meta_get",
    "is_null",
    "is_same",
    "set_data",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _sum_array(arr: Column) -> Column:
    """Fold a double array to its sum with float64 accumulation."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product with float64 accumulation.

    Reference: node/wrapper/record.go:73-76 -> backend Dot
    (naive float64 loop, node/backend/naive.go:29-36).
    """
    a, b = _col(a), _col(b)
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _sum_array(prods)


def _slice_range(c: Column, start: int | Column, end: int | Column) -> Column:
    """Half-open [start, end) slice over 0-based indices (Spark slice is
    1-based with a length argument)."""
    start = F.lit(start) if isinstance(start, int) else start
    end = F.lit(end) if isinstance(end, int) else end
    return F.slice(c, start + 1, end - start)


def dot_range(a: Column | str, b: Column | str, start: int, end: int) -> Column:
    """Dot over elements [start, end). Reference: node/wrapper/record.go:78-84."""
    return dot(_slice_range(_col(a), start, end), _slice_range(_col(b), start, end))


def dot_sub(a: Column | str, b: Column | str, elems: int) -> Column:
    """Dot over the first ``elems`` elements. Reference: node/wrapper/record.go:86-89."""
    return dot_range(a, b, 0, elems)


def magnitude(a: Column | str) -> Column:
    """L2 norm = sqrt(dot(self, self)). Reference: node/wrapper/record.go:91-94.

    One fold over the array, the squares summed in the same order as
    ``dot(a, a)`` (so the same bits, NULL for a null array or element),
    without ``dot``'s intermediate ``zip_with`` array.
    """
    return F.sqrt(
        F.aggregate(
            _col(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _cosine_expr(a: Column, b: Column) -> Column:
    den = magnitude(a) * magnitude(b)
    return F.when(den == 0.0, F.lit(0.0)).otherwise(dot(a, b) / den)


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; 0.0 when either magnitude is 0.

    Reference: node/wrapper/record.go:96-103 (zero-denominator rule at 98-102).
    """
    return _cosine_expr(_col(a), _col(b))


def cosine_sub(a: Column | str, b: Column | str, elems: int) -> Column:
    """Cosine over the first ``elems`` elements. Reference: record.go:105-115."""
    return _cosine_expr(_slice_range(_col(a), 0, elems), _slice_range(_col(b), 0, elems))


def cosine_range(a: Column | str, b: Column | str, start: int, end: int) -> Column:
    """Cosine over [start, end). Reference: record.go:117-127."""
    return _cosine_expr(_slice_range(_col(a), start, end), _slice_range(_col(b), start, end))


def _jaccard_expr(a: Column, b: Column) -> Column:
    # One zip_with pass computing both m11 (both == 1) and m10 (exactly one
    # == 1); the reference's loop does the same two counters
    # (node/wrapper/record.go:129-147).
    m11 = _sum_array(F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double"))))
    m10 = _sum_array(
        F.zip_with(
            a,
            b,
            lambda x, y: F.when(x.cast("double") + y.cast("double") == 1.0, 1.0).otherwise(0.0),
        )
    )
    den = m11 + m10
    return F.when(den == 0.0, F.lit(0.0)).otherwise(m11 / den)


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Binary-vector Jaccard similarity m11/(m11+m10); 0.0 when denominator 0.

    Reference: node/wrapper/record.go:129-147 (the comment there says
    "distance" but the code computes similarity; we keep the code's
    semantics).
    """
    return _jaccard_expr(_col(a), _col(b))


def jaccard_range(a: Column | str, b: Column | str, start: int, end: int) -> Column:
    """Jaccard over [start, end). Reference: record.go:149-168."""
    return _jaccard_expr(_slice_range(_col(a), start, end), _slice_range(_col(b), start, end))


def vec_equal(a: Column | str, b: Column | str) -> Column:
    """Element-wise deep equality of the data arrays.

    Reference: node/wrapper/record.go:68-71 (reflect.DeepEqual).
    """
    return _col(a) == _col(b)


def vec_get(a: Column | str, index: int) -> Column:
    """i-th element, 0-based (reference panics out-of-range; here NULL).

    Reference: node/wrapper/record.go:57-60.
    """
    return F.element_at(_col(a), index + 1)


def meta_get(meta: Column | str, name: str) -> Column:
    """Metadata value or '' when absent. Reference: node/wrapper/record.go:62-66."""
    return F.coalesce(_col(meta)[name], F.lit(""))


def is_null(rec: Column | str) -> Column:
    """Lookup-miss test (≡ wrapped-record IsNull after a Find miss,
    node/wrapper/record.go:41-44) — in join terms, a left-join miss."""
    return _col(rec).isNull()


def is_same(id_a: Column | str, id_b: Column | str) -> Column:
    """Identity by id (≡ Is, node/wrapper/record.go:46-54)."""
    return _col(id_a) == _col(id_b)


def set_data(df, vec_col: str, new_data: Column):
    """Replace the vector column (≡ SetData, node/wrapper/record.go:35-39 —
    in-memory only there; here a projection, persisted by the caller)."""
    return df.withColumn(vec_col, new_data)
