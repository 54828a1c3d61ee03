"""Inverted-index properties: the posting-list BM25 paths (in-flight
and from-disk) return exactly what the full-scan bm25_search returns,
and the stored layout actually prunes — the postings scan's
PartitionFilters restricts to the query terms' buckets and the term
predicate is pushed."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from sum_spark.operators.search import (
    II_BUCKETS,
    bm25_from_index,
    bm25_postings_search,
    bm25_search,
    build_inverted_index,
    write_inverted_index,
)
from sum_spark.sources.tables import load_table

TERMS = ["the", "data", "zebra"]  # common, mid, likely-absent


def test_postings_path_equals_scan_path(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    scan = bm25_search(docs, TERMS, k=10).collect()
    idx = bm25_postings_search(docs, TERMS, k=10).collect()
    assert sorted(map(tuple, idx)) == sorted(map(tuple, scan))


def test_index_roundtrip_equals_scan_and_prunes(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "ii")
    write_inverted_index(docs, path)

    from_disk = bm25_from_index(spark, path, TERMS, k=10)
    scan = bm25_search(docs, TERMS, k=10)
    assert sorted(map(tuple, from_disk.collect())) == sorted(
        map(tuple, scan.collect())
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        from_disk.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters: [" in p
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf and pf.strip() != ""
    # the term equality predicate reached the parquet row-group level
    assert "PushedFilters: [" in p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "term" in pushed


def test_serve_stats_memo_bounded_and_order_insensitive(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """ADVICE r9: the serve context's per-query stats memo must not grow
    without bound over an index generation, and must key on the SORTED
    term set (permutations of one query share an entry — _collect_stats
    is order-insensitive)."""
    from sum_spark.operators import search as search_mod

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "ii_memo")
    write_inverted_index(docs, path)

    a = bm25_from_index(spark, path, ["data", "model"], k=5)
    b = bm25_from_index(spark, path, ["model", "data"], k=5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    ctx = search_mod._ii_serve_ctx(spark, path)
    assert list(ctx["stats"]) == [("data", "model")]

    # Flood with distinct term sets: the memo stays FIFO-bounded (cap
    # shrunk so the test stays fast — the constant is read at call time).
    monkeypatch.setattr(search_mod, "_II_STATS_MEMO_MAX", 6)
    for i in range(10):
        bm25_from_index(spark, path, [f"zz_unseen_{i}"], k=1).count()
    assert len(ctx["stats"]) <= 6
    # The oldest entries were evicted, the newest kept.
    assert ("zz_unseen_9",) in ctx["stats"]


def test_meta_counts_zero_token_documents(spark):
    """A document with no tokens has no postings but still counts
    toward N and sum_dl — meta must come from the document frame."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "")], "doc_id long, text string"
    )
    postings, terms, meta = build_inverted_index(docs)
    [m] = meta.collect()
    # split('', ' ') is [''] — one (empty-string) token, same as the
    # scan path tokenizes; both docs count toward N and sum_dl.
    assert m["n"] == 2
    assert m["sum_dl"] == 3  # 'alpha beta' -> 2, '' -> 1
    per_doc = {r["doc_id"]: r["dl"] for r in postings.select("doc_id", "dl").distinct().collect()}
    assert per_doc == {1: 2, 2: 1}


def test_tf_and_df_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    postings, terms, _ = build_inverted_index(docs)
    got = {(r["term"], r["doc_id"]): (r["tf"], r["dl"]) for r in postings.collect()}
    assert got[("a", 1)] == (2, 3)
    assert got[("b", 1)] == (1, 3)
    assert got[("a", 2)] == (1, 2)
    dfs = {r["term"]: r["df"] for r in terms.collect()}
    assert dfs == {"a": 2, "b": 1, "c": 1}


def test_bucket_count_bounds_scanned_partitions(spark, sf_smoke, tmp_path):
    """Single-term query: exactly one bucket value survives in the
    partition filter literal set."""
    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "ii1")
    write_inverted_index(docs, path, n_buckets=II_BUCKETS)
    one = bm25_from_index(spark, path, ["data"], k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one.explain("formatted")
    pf = buf.getvalue().split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    # isin collapses to a single equality or 1-element IN
    assert pf.count(",") <= 2


def test_append_then_query_equals_full_corpus_scan(spark, sf_smoke, tmp_path):
    """Index half the corpus, append the other half, query — results
    must equal bm25_search over the full corpus (df/meta partials merge
    at read; the first half is never re-tokenized)."""
    from sum_spark.operators.search import append_to_inverted_index

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "ii_app")
    write_inverted_index(docs.where(F.col("doc_id") % 2 == 0), path)
    append_to_inverted_index(docs.where(F.col("doc_id") % 2 != 0), path)

    got = bm25_from_index(spark, path, TERMS, k=10).collect()
    want = bm25_search(docs, TERMS, k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_null_and_empty_text_parity_across_paths(spark, tmp_path):
    """Documents with NULL or empty text must not break any path, and
    all three paths (scan, in-flight postings, disk index) must agree
    on corpora containing them."""
    docs = spark.createDataFrame(
        [
            (1, "data spark data"),
            (2, None),
            (3, ""),
            (4, "the data"),
        ],
        "doc_id long, text string",
    )
    terms = ["data", "the"]
    scan = sorted(map(tuple, bm25_search(docs, terms, k=10).collect()))
    mem = sorted(map(tuple, bm25_postings_search(docs, terms, k=10).collect()))
    path = str(tmp_path / "ii_null")
    write_inverted_index(docs, path)
    disk = sorted(map(tuple, bm25_from_index(spark, path, terms, k=10).collect()))
    assert scan == mem == disk
    assert {r[1] for r in scan} == {1, 4}  # only real matches rank


def _parquet_files(root):
    import os

    return [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(root)
        for f in fns
        if f.endswith(".parquet")
    ]


def test_compact_folds_appends_and_tombstones(spark, sf_smoke, tmp_path):
    """Build, append, retire, compact: queries are unchanged through
    compaction AND equal a from-scratch rebuild over the surviving
    corpus; the compacted postings hold no netted-out (tf <= 0) rows,
    the meta is one row, and the file count actually shrinks — the
    whole point of folding three partial generations into base files."""
    from sum_spark.operators.search import (
        append_to_inverted_index,
        compact_inverted_index,
        retire_from_inverted_index,
    )

    docs = load_table(spark, sf_smoke, "documents")
    base = docs.where(F.col("doc_id") % 3 != 0)
    extra = docs.where(F.col("doc_id") % 3 == 0)
    retired = base.where(F.col("doc_id") % 5 == 0)
    surviving = docs.where((F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 5 != 0))

    path = str(tmp_path / "ii_cmp")
    write_inverted_index(base, path)
    append_to_inverted_index(extra, path)
    retire_from_inverted_index(retired, path)

    before = sorted(map(tuple, bm25_from_index(spark, path, TERMS, k=10).collect()))
    n_files_before = len(_parquet_files(f"{path}/postings"))
    stats = compact_inverted_index(spark, path)
    after = sorted(map(tuple, bm25_from_index(spark, path, TERMS, k=10).collect()))
    want = sorted(map(tuple, bm25_search(surviving, TERMS, k=10).collect()))
    assert before == after == want

    assert stats["n_docs"] == surviving.count()
    pp = spark.read.parquet(f"{path}/postings")
    assert pp.where(F.col("tf") <= 0).count() == 0
    assert spark.read.parquet(f"{path}/meta").count() == 1
    assert len(_parquet_files(f"{path}/postings")) < n_files_before
    # idempotent: compacting a compacted index is a no-op for queries
    compact_inverted_index(spark, path)
    again = sorted(map(tuple, bm25_from_index(spark, path, TERMS, k=10).collect()))
    assert again == want


def test_compact_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    """A crash between old-dir removal and rename must be recoverable by
    re-running: the _DONE marker (written strictly after the merged data
    is durable) tells the re-run to finish the remaining renames instead
    of discarding the merge."""
    import os

    import pytest

    import sum_spark.operators.search as S

    docs = spark.createDataFrame(
        [(1, "data spark data"), (2, "the data"), (3, "spark engine")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ii_crash")
    write_inverted_index(docs.where(F.col("doc_id") < 3), path)
    S.append_to_inverted_index(docs.where(F.col("doc_id") == 3), path)

    real = os.rename
    calls = {"n": 0}

    def crash_after_first_family(src, dst, **kw):
        # rename 1 commits _DONE, 2-3 swap the first family (old one
        # aside, staged one in), 4 would start on the second family
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("simulated crash mid-swap")
        return real(src, dst, **kw)

    monkeypatch.setattr(os, "rename", crash_after_first_family)
    with pytest.raises(RuntimeError, match="mid-swap"):
        S.compact_inverted_index(spark, path)
    # merged data durable under _compacted, marker present, the first
    # family already swapped, the other two not yet
    assert os.path.isfile(os.path.join(path, "_compacted", "_DONE"))
    monkeypatch.setattr(os, "rename", real)

    S.compact_inverted_index(spark, path)  # recovery run
    assert not os.path.isdir(os.path.join(path, "_compacted"))
    got = sorted(map(tuple, bm25_from_index(spark, path, ["data", "spark"], k=10).collect()))
    want = sorted(map(tuple, bm25_search(docs, ["data", "spark"], k=10).collect()))
    assert got == want
