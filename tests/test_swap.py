"""The staged swap (sum_spark/swap.py) under every caller.

For each caller — RecordStore.compact (a Spark rewrite of every bucket,
and a driver merge of each bucket's delta beside its linked base),
compact_pq_index, compact_ivf_index, retrain_pq_index and
compact_inverted_index — one
uninterrupted compaction counts its ``os.rename``, ``shutil.rmtree`` and
``os.remove`` calls; then the compaction is crashed at each of those
calls in turn, recovered (the store by reopening, an index by re-running
the compaction), and must read exactly as the uninterrupted run with no
``_compacted`` dir left. Inputs stay at 60 rows or fewer.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pytest
from conftest import _Crash, _crash_on

import sum_spark.operators.search as II
import sum_spark.operators.similarity as S
import sum_spark.store as store_mod
from sum_spark import swap
from sum_spark.store import RecordStore

_CALLS = ((os, "rename"), (shutil, "rmtree"), (os, "remove"))


def _sorted_rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _vectors(spark, n, seed, shift=0.0, start=0):
    rng = np.random.default_rng(seed)
    rows = [(start + i, (rng.standard_normal(8) + shift).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "id long, data array<double>")


# -- the five callers: build a state, compact it, recover, read it back --


def _store_build(spark, path):
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(6):
        store.create([float(i), 0.5], meta={"k": str(i % 3)})
    store.update(2, data=[7.0])
    store.delete(3)
    store.delete_many([4])


def _store_compact(spark, path):
    RecordStore(spark, path, num_buckets=2).compact()


def _store_recover(spark, path):
    RecordStore(spark, path, num_buckets=2)  # the open repairs the fold


def _store_read(spark, path):
    store = RecordStore(spark, path, num_buckets=2)
    rows = _sorted_rows(store.df)
    return rows, [repr(store.read(i)) for i in (1, 2, 5, 6)]


def _store_delta_build(spark, path):
    """A base of wide vectors from a first fold, then small writes in
    both buckets: each bucket's delta (two files of a few KB) stays under
    a tenth of its base (20 rows of 1024 floats), so the next fold
    merges the deltas from the driver."""
    rng = np.random.default_rng(9)
    store = RecordStore(spark, path, num_buckets=2)
    store.create_many_with_id({i: rng.standard_normal(1024).tolist() for i in range(1, 41)})
    store.create_many_with_id({41: [1.0], 42: [2.0], 43: [3.0], 44: [4.0]})
    store.compact()
    store.update(42, data=[-0.0, float("nan")])
    store.delete(44)
    store.create([5.0], meta={"k": "new"})
    store.update(43, meta={"k": "u"})


def _store_delta_read(spark, path):
    store = RecordStore(spark, path, num_buckets=2)
    rows = _sorted_rows(store.df)
    return rows, [repr(store.read(i)) for i in (1, 2, 42, 43, 45)]


def _base_inodes(path) -> dict:
    out = {}
    for bucket in ("b=0", "b=1"):
        d = os.path.join(path, bucket)
        with open(os.path.join(d, store_mod._BASE)) as fh:
            for name in fh.read().split():
                out[bucket, name] = os.stat(os.path.join(d, name)).st_ino
    return out


def test_store_delta_merge_links_the_base(spark, tmp_path):
    """The delta merge leaves each bucket its base files, the same
    inodes, plus one merged delta file, and keeps the netting marker,
    since a delta is left."""
    path = str(tmp_path / "store")
    _store_delta_build(spark, path)
    before = _base_inodes(path)
    assert before
    _store_compact(spark, path)
    assert _base_inodes(path) == before
    for bucket in ("b=0", "b=1"):
        files = store_mod._data_files(os.path.join(path, bucket))
        assert len(files) == 1 + sum(1 for b, _ in before if b == bucket)
    assert os.path.isfile(os.path.join(path, "_tombstones"))


def _pq_build(spark, path):
    corpus = _vectors(spark, 40, seed=3)
    S.write_pq_index(corpus, path, m=2, n_codes=2)
    S.retire_from_pq_index(corpus.where("id % 4 = 0"), path, m=2)


def _pq_read(spark, path):
    probes = _vectors(spark, 40, seed=3).where("id = 21")
    hits = S.knn_ivfpq_from_index(spark, path, probes, k=8, round_to=4, n_probes=2)
    return _sorted_rows(S.pq_index_rows(spark, path)), _sorted_rows(hits)


def _retrain_build(spark, path):
    corpus = _vectors(spark, 30, seed=5)
    S.write_pq_index(corpus, path, m=2, n_codes=2)
    S.append_to_pq_index(_vectors(spark, 20, seed=6, shift=10.0, start=100), path, m=2)
    S.retire_from_pq_index(corpus.where("id % 5 = 0"), path, m=2)


def _retrain_corpus(spark):
    return _vectors(spark, 30, seed=5).unionByName(
        _vectors(spark, 20, seed=6, shift=10.0, start=100)
    )


def _retrain_compact(spark, path):
    S.retrain_pq_index(spark, path, _retrain_corpus(spark), m=2, n_codes=2)


def _retrain_read(spark, path):
    probes = _retrain_corpus(spark).where("id = 101")
    hits = S.knn_ivfpq_from_index(spark, path, probes, k=8, round_to=4, n_probes=2)
    book = _sorted_rows(spark.read.parquet(path + "/_codebook"))
    return book, _sorted_rows(S.pq_index_rows(spark, path)), _sorted_rows(hits)


def _ivf_build(spark, path):
    # batch layout, so the fold also drops an old dir by name
    S.append_to_ivf_index(_vectors(spark, 20, seed=7), path, n_bits=2, batch_dir=0)
    S.append_to_ivf_index(
        _vectors(spark, 20, seed=8, start=50), path, n_bits=2, batch_dir=1
    )
    retired = _vectors(spark, 20, seed=7).where("id % 3 = 0")
    S.retire_from_ivf_index(retired, path, batch_dir=-1)


def _ivf_compact(spark, path):
    S.compact_ivf_index(spark, path, keep_batch_layout=True)


def _ivf_read(spark, path):
    probes = _vectors(spark, 20, seed=8, start=50).where("id = 55")
    hits = S.knn_ivf_from_index(spark, path, probes, k=8, round_to=4, n_probes=4)
    return _sorted_rows(S.ivf_index_rows(spark, path)), _sorted_rows(hits)


_DOCS = [
    (1, "data spark data"),
    (2, "the data"),
    (3, "spark engine"),
    (4, "engine data the spark"),
]
_TERMS = ["data", "spark", "engine"]


def _ii_build(spark, path):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    II.write_inverted_index(docs.where("doc_id < 3"), path)
    II.append_to_inverted_index(docs.where("doc_id >= 3"), path)
    II.retire_from_inverted_index(docs.where("doc_id = 2"), path)


def _ii_read(spark, path):
    return _sorted_rows(II.bm25_from_index(spark, path, _TERMS, k=10))


_CASES = {
    "store": (_store_build, _store_compact, _store_recover, _store_read),
    "store_delta": (_store_delta_build, _store_compact, _store_recover, _store_delta_read),
    "pq": (
        _pq_build,
        lambda spark, p: S.compact_pq_index(spark, p),
        lambda spark, p: S.compact_pq_index(spark, p),
        _pq_read,
    ),
    "ivf": (_ivf_build, _ivf_compact, _ivf_compact, _ivf_read),
    "retrain": (_retrain_build, _retrain_compact, _retrain_compact, _retrain_read),
    "inverted": (
        _ii_build,
        lambda spark, p: II.compact_inverted_index(spark, p),
        lambda spark, p: II.compact_inverted_index(spark, p),
        _ii_read,
    ),
}


def _count_calls(monkeypatch, run) -> list[tuple[object, str, int]]:
    counts = {name: 0 for _, name in _CALLS}
    for module, name in _CALLS:
        real = getattr(module, name)

        def counting(*args, _real=real, _name=name, **kwargs):
            counts[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(module, name, counting)
    run()
    monkeypatch.undo()
    return [
        (module, name, n)
        for module, name in _CALLS
        for n in range(1, counts[name] + 1)
    ]


@pytest.mark.parametrize("case", sorted(_CASES))
def test_crash_at_every_swap_step_recovers(spark, tmp_path, monkeypatch, case):
    build, compact, recover, read = _CASES[case]
    base = str(tmp_path / "base")
    build(spark, base)
    before = read(spark, base)

    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    points = _count_calls(monkeypatch, lambda: compact(spark, clean))
    want = read(spark, clean)
    if case != "retrain":  # a fold never changes what reads return
        assert want == before
    assert not os.path.exists(os.path.join(clean, swap.STAGE))
    # every caller goes through the swap: the _DONE commit is one rename
    assert sum(1 for _, name, _ in points if name == "rename") >= 3

    for i, (module, name, n) in enumerate(points):
        work = str(tmp_path / f"crash{i}")
        shutil.copytree(base, work)
        _crash_on(monkeypatch, module, name, n)
        with pytest.raises(_Crash):
            compact(spark, work)
        monkeypatch.undo()
        recover(spark, work)
        assert read(spark, work) == want, (name, n)
        assert not os.path.exists(os.path.join(work, swap.STAGE)), (name, n)


# -- a partial fold leaves the uncommitted tail where it is -------------


def _tail_files(tail_dirs) -> dict:
    out = {}
    for d in tail_dirs:
        for dp, _, fns in os.walk(d):
            for f in fns:
                p = os.path.join(dp, f)
                with open(p, "rb") as fh:
                    out[p] = (os.stat(p).st_ino, fh.read())
    return out


def _checkpoint_committing(tmp_path, batch_id) -> str:
    ck = tmp_path / "ck"
    (ck / "commits").mkdir(parents=True)
    (ck / "commits" / str(batch_id)).write_text("v1\n")
    return str(ck)


@pytest.mark.parametrize("kind", ["pq", "ivf", "inverted"])
def test_partial_fold_leaves_tail_in_place(spark, tmp_path, kind):
    """Batches 0 and 1 on disk, only batch 0 committed: the fold takes
    batch 0 and must not copy, move or rewrite batch 1's files."""
    path = str(tmp_path / kind)
    ck = _checkpoint_committing(tmp_path, 0)
    waves = [_vectors(spark, 20, seed=11), _vectors(spark, 20, seed=12, start=50)]
    if kind == "pq":
        S.write_pq_codebook(spark, S.train_pq_codebook(waves[0], 2), path)
        for b, wave in enumerate(waves):
            S.append_to_pq_index(wave, path, m=2, batch_dir=b)
        tails = [os.path.join(path, "batch_id=1")]
        fold = S.compact_pq_index
    elif kind == "ivf":
        for b, wave in enumerate(waves):
            S.append_to_ivf_index(wave, path, n_bits=2, batch_dir=b)
        tails = [os.path.join(path, "batch_id=1")]
        fold = S.compact_ivf_index
    else:
        docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
        II.append_to_inverted_index(docs.where("doc_id < 3"), path, batch_dir=0)
        II.append_to_inverted_index(docs.where("doc_id >= 3"), path, batch_dir=1)
        tails = [os.path.join(path, fam, "batch_id=1") for fam in II._II_FAMILIES]
        fold = II.compact_inverted_index
    before = _tail_files(tails)
    assert before

    fold(spark, path, keep_batch_layout=True, checkpoint=ck, partial=True)
    assert _tail_files(tails) == before
    assert not os.path.exists(os.path.join(path, swap.STAGE))
    if kind == "inverted":
        got = _sorted_rows(II.bm25_from_index(spark, path, _TERMS, k=10))
        docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
        assert got == _sorted_rows(II.bm25_search(docs, _TERMS, k=10))


# -- a staging dir left by the earlier compactions ----------------------


def _tree(root) -> list[tuple[str, bytes]]:
    out = []
    for dp, _, fns in sorted(os.walk(root)):
        for f in sorted(fns):
            with open(os.path.join(dp, f), "rb") as fh:
                out.append((os.path.relpath(os.path.join(dp, f), root), fh.read()))
    return out


def _touch(path, data=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


@pytest.mark.parametrize(
    "staged",
    [
        # the vector indexes' earlier swap: every row dir under rows/
        ["rows/coarse=0/part-0.parquet", "rows/_codebook/part-0.parquet"],
        # the inverted index's earlier swap: one dir per family
        [
            "postings/bucket=0/part-0.parquet",
            "terms/bucket=0/part-0.parquet",
            "meta/part-0.parquet",
        ],
    ],
    ids=["vector_rows", "inverted_families"],
)
def test_earlier_committed_staging_is_refused_untouched(tmp_path, staged):
    """An earlier compaction's committed staging (``_DONE`` holding
    ``1``, no manifest) is never reinterpreted: recover raises an error
    naming the dir and deletes nothing. Without ``_DONE`` the earlier
    protocols would have deleted it too, and so does recover."""
    root = str(tmp_path / "idx")
    _touch(os.path.join(root, "coarse=0", "part-old.parquet"))
    _touch(os.path.join(root, "postings", "bucket=0", "part-old.parquet"))
    for rel in staged:
        _touch(os.path.join(root, swap.STAGE, rel))
    _touch(os.path.join(root, swap.STAGE, "_DONE"), b"1")
    tree = _tree(root)
    with pytest.raises(RuntimeError, match=re.escape(os.path.join(root, swap.STAGE))):
        swap.recover(root)
    assert _tree(root) == tree

    os.remove(os.path.join(root, swap.STAGE, "_DONE"))
    swap.recover(root)
    assert not os.path.exists(os.path.join(root, swap.STAGE))
    assert os.path.isfile(os.path.join(root, "coarse=0", "part-old.parquet"))

