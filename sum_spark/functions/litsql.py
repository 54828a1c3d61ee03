"""Exact SQL-literal formatting for BATCHED expression construction.

Plan-literal codebooks/params built as Column objects cost py4j socket
round trips per node: a 64 x 64 double array built from ``F.lit``
Columns takes about 19,000-23,000 round trips (the spread is py4j
releasing proxy objects), while the same values rendered into ONE
``F.expr`` string take 10-24 and fold to the identical Catalyst
literal. Count round trips, not milliseconds: a count does not
depend on host speed.

Doubles are EXACT: Python ``repr`` emits the shortest decimal that
round-trips, and Spark's literal parser is correctly rounded, so
``F.expr(dlit(x))`` equals ``F.lit(x)`` bit-for-bit (unit-pinned in
tests/test_sql_functions.py) — which is what keeps the
oracle-hash-checked codebook paths byte-identical after batching.
"""

from __future__ import annotations

import math
from collections.abc import Iterable


def qid(name: str) -> str:
    """Backtick-quoted Spark SQL identifier for an arbitrary caller
    string (a backtick doubles inside backticks). Every caller-supplied
    COLUMN NAME entering an expr/selectExpr string goes through this —
    the Column API handled any name for free; batched strings must
    escape (ADVICE r8: kmv_sketch/corpus_fingerprint interpolated raw)."""
    return "`" + str(name).replace("`", "``") + "`"


def qstr(s: str) -> str:
    """Single-quoted Spark SQL string literal for an arbitrary caller
    value (default parser: backslash escapes active, so backslashes and
    quotes are backslash-escaped). Every caller-supplied VALUE (seed,
    tag) entering an expr string goes through this."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def qstr_duck(s: str) -> str:
    """Single-quoted DuckDB string literal (standard SQL: quotes double,
    backslashes are literal). The oracle-side twin of ``qstr`` — the two
    engines escape differently, so seeded-hash oracles must route the
    same seed through this, not through ``qstr``."""
    return "'" + str(s).replace("'", "''") + "'"


def dlit(x: float) -> str:
    """An exact DOUBLE literal for ``x`` (finite only)."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"dlit needs a finite double, got {v!r}")
    return repr(v) + "D"


def darray(xs: Iterable[float]) -> str:
    """An exact ``array<double>`` literal: the shortest-repr elements in
    ONE string literal, split and cast. Spark's string-to-double cast is
    correctly rounded like its literal parser, so the elements are the
    same bits as ``array(<dlit>, ...)``, and the optimizer folds both to
    the same array literal. The parse cost is not: on a 4-core host the
    parser spent about 0.1 ms per double-literal token (a 512-element
    codebook was ~70 ms of every plan build), and ~1 ms on the one
    string. The one type difference: the elements are nullable, as a
    cast from string can yield null. Every caller feeds the array to
    zip_with, whose elements are nullable either way."""
    vals = [dlit(x)[:-1] for x in xs]
    if not vals:
        return "array()"
    return f"CAST(split('{','.join(vals)}', ',') AS ARRAY<DOUBLE>)"
