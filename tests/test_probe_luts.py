"""IVF-PQ probe planning (similarity._probe_luts) against a plain Python
left-to-right fold — the order Catalyst's aggregate(zip_with(...)) and
DuckDB's list_sum add in. Driver-only: no Spark session."""

from __future__ import annotations

import numpy as np
import pytest

from sum_spark.operators.similarity import _probe_luts


def _fold(q, c):
    acc = 0.0
    for x, y in zip(q, c):
        acc = acc + (x - y) * (x - y)
    return acc


def _reference(book, res_book, probe_rows, m, n_probes):
    items = sorted(book.items())
    sd = len(items[0][1]) // m
    lut_items = sorted(res_book.items()) if res_book is not None else items
    pairs, luts = [], {}
    for r in probe_rows:
        q = [float(x) for x in r["__pv"]]
        ranked = sorted((_fold(q, c), cid) for cid, c in items)[:n_probes]
        for _, cid in ranked:
            key = r["__pid"] if res_book is None else len(pairs)
            tab = q if res_book is None else [x - c for x, c in zip(q, book[cid])]
            luts[key] = [
                {
                    code: _fold(tab[j * sd : (j + 1) * sd], c[j * sd : (j + 1) * sd])
                    for code, c in lut_items
                }
                for j in range(m)
            ]
            pairs.append((r["__pid"], cid))
    return pairs, luts


def _hexed(pairs, luts):
    return pairs, {
        k: [{c: v.hex() for c, v in lut.items()} for lut in ls] for k, ls in luts.items()
    }


@pytest.mark.parametrize("residual", [False, True], ids=["raw", "res"])
@pytest.mark.parametrize("m", [1, 2, 8])
@pytest.mark.parametrize("d", [8, 64])
@pytest.mark.parametrize("k", [8, 100])
def test_probe_luts_bit_equal_python_fold(k, d, m, residual):
    rng = np.random.default_rng(k * 1000 + d * 10 + m)
    book = {j: rng.standard_normal(d).tolist() for j in range(k)}
    book[k] = list(book[3])  # duplicate centroid: the tie goes to the lower id
    res_book = (
        {j: (0.1 * rng.standard_normal(d)).tolist() for j in range(k)} if residual else None
    )
    probe_rows = [{"__pid": i, "__pv": rng.standard_normal(d).tolist()} for i in range(7)]
    probe_rows.append({"__pid": 7, "__pv": list(book[3])})  # exact tie at distance 0
    for n_probes in (1, 3):
        got = _probe_luts(book, res_book, probe_rows, m, n_probes)
        want = _reference(book, res_book, probe_rows, m, n_probes)
        assert _hexed(*got) == _hexed(*want), (n_probes,)


def test_probe_luts_no_probes():
    assert _probe_luts({0: [0.0, 1.0]}, None, [], 2, 1) == ([], {})
