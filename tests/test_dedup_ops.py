"""Unit tests for dedup operators on synthetic corpora with known
duplicates (the driver tables contain near-dups but no exact dups)."""

from __future__ import annotations

import pytest

from sum_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 1
        (4, "completely different words entirely unrelated content here now"),
        (5, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(corpus):
    out = {r["keep_id"]: r["n_dups"] for r in dedup.dedup_exact(corpus).collect()}
    assert out[1] == 3  # docs 1, 2, 5
    assert out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_exact_and_near(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(corpus, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0 and pairs[(2, 5)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_lsh_matches_exact(corpus):
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_minhash_lsh(corpus, threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(corpus, threshold=0.5).collect()
    }
    assert lsh == exact  # planted dups sit far above the LSH miss floor


def test_simhash_identical_docs_distance_zero(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in dedup.dedup_simhash(corpus, max_dist=3).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0 and pairs[(2, 5)] == 0
    assert not any(4 in p for p in pairs)


def test_minhash_pandas_matches_catalyst_fold(corpus):
    """The Arrow-vectorized signature must be value-identical to the
    Catalyst fold (same params, same modulus) — this is what keeps the
    DuckDB oracle checkable after the fast path swap."""
    from pyspark.sql import functions as F

    from sum_spark.functions.hashing import (
        hash32,
        minhash_signature,
        minhash_signature_pandas,
    )
    from sum_spark.operators.dedup import shingle_sets

    hashed = shingle_sets(corpus).select(
        "doc_id", F.transform("shingles", lambda s: hash32(s)).alias("shash")
    )
    fold = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", minhash_signature(F.col("shash")).alias("sig")
        ).collect()
    }
    arrow = {
        r["doc_id"]: r["sig"]
        for r in hashed.select(
            "doc_id", minhash_signature_pandas(F.col("shash")).alias("sig")
        ).collect()
    }
    assert fold == arrow


def test_dedup_caches_released_after_result_dropped(spark, corpus):
    """Persisted signature intermediates must not accumulate across a
    query-server session: dropping the result DataFrame (post-action)
    releases them (weakref finalizer in dedup._release_with)."""
    import gc

    # Assert on NEW cache entries, not the global count: suites that run
    # earlier may legitimately hold localCheckpoint RDDs (pack_sequences'
    # lineage truncation) whose lifetime is GC-bound, and this test's
    # subject is the dedup finalizers only.
    gc.collect()
    before = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    for _ in range(3):
        out = dedup.dedup_minhash_lsh(corpus, threshold=0.5)
        out.count()
        del out
        out = dedup.dedup_simhash(corpus, max_dist=3)
        out.count()
        del out
        gc.collect()
    after = {
        int(i)
        for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert after - before == set()


def test_embedding_cosine_no_driver_collect(spark):
    """Block-pair GEMM form: exact all-pairs result with no toPandas or
    driver broadcast on the data path, and invariant to block count."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.random(8)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base + 0.001]),  # near-dup of 1
        (3, [float(x) for x in rng.random(8)]),
        (4, [0.0] * 8),  # zero vector: cosine -> 0.0, never crosses
        (5, [float(x) for x in -base]),  # anti-parallel
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for k in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"]): r["sim"]
            for r in dedup.dedup_embedding_cosine(df, threshold=0.9, n_blocks=k).collect()
        }
        assert (1, 2) in got and got[(1, 2)] > 0.999
        assert all(4 not in p and 5 not in p for p in got)


def test_block_pair_kernel_on_hand_built_blocks():
    """The cosine-pair kernel every embedding near-dup operator shares
    (unit_block + block_pairs), on hand-built blocks without Spark:
    same-block pairs are the upper triangle by id, cross-block pairs come
    out as (min, max), zero and anti-parallel rows never pair, a sim
    equal to the threshold is kept and sims are rounded to 4 places."""
    import numpy as np

    def blk(rows):
        return dedup.unit_block([i for i, _ in rows], [x for _, v in rows for x in v])

    def pairs(a, b, thr, same):
        lo, hi, sim = dedup.block_pairs(a, b, thr, same)
        return {(int(x), int(y)): float(s) for x, y, s in zip(lo, hi, sim)}

    # Three parallel rows stored out of id order, a zero row and a row
    # anti-parallel to the others.
    a = blk([(9, [1.0, 1.0]), (2, [2.0, 2.0]), (5, [3.0, 3.0]),
             (4, [0.0, 0.0]), (7, [-1.0, -1.0])])
    assert pairs(a, a, 0.5, same=True) == {(2, 5): 1.0, (2, 9): 1.0, (5, 9): 1.0}

    # cos([1, 0], [1, 1]) is exactly 1/||[1, 1]||: the threshold itself.
    thr = 1.0 / np.sqrt(2.0)
    b = blk([(1, [1.0, 0.0]), (8, [1.0, 1.0])])
    c = blk([(3, [1.0, 0.0]), (6, [0.0, 0.0]), (12, [3.0, 1.0])])
    got = pairs(b, c, thr, same=False)
    assert got == {(1, 3): 1.0, (3, 8): 0.7071, (1, 12): 0.9487, (8, 12): 0.8944}
    above = pairs(b, c, np.nextafter(thr, 1.0), same=False)
    assert above == {(1, 3): 1.0, (1, 12): 0.9487, (8, 12): 0.8944}


def test_dedup_clusters_transitive(spark):
    # Chain A-B, B-C, C-D (one 4-node component, diameter 3 — forces
    # multiple propagation rounds) plus an isolated pair E-F.
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (50, 60)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in dedup.dedup_clusters(pairs).collect()}
    assert {out[n] for n in (10, 20, 30, 40)} == {(10, 4)}
    assert out[50] == (50, 2) and out[60] == (50, 2)
    assert len(out) == 6


def test_dedup_clusters_restores_shuffle_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    # driver_max_edges=0 forces the distributed path (the one that tunes
    # and must restore the shuffle conf).
    dedup.dedup_clusters(pairs, driver_max_edges=0).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_dedup_clusters_driver_and_distributed_paths_agree(spark):
    # Random-ish graph with chains, a star, and isolated pairs.
    edges = [(i, i + 1) for i in range(0, 20, 2)]          # 10 isolated pairs
    edges += [(100, 100 + i) for i in range(1, 6)]         # star
    edges += [(200, 201), (201, 202), (202, 203), (203, 204)]  # chain, diam 4
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    key = lambda r: r["doc_id"]  # noqa: E731
    local = sorted(dedup.dedup_clusters(pairs).collect(), key=key)
    dist = sorted(
        dedup.dedup_clusters(pairs, driver_max_edges=0).collect(), key=key
    )
    assert [tuple(r) for r in local] == [tuple(r) for r in dist]
    assert len(local) == 20 + 6 + 5


def test_dedup_incremental_new_vs_corpus_only(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally unrelated corpus document with other words"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1,3
            (11, "brand new unique content nothing like the rest here"),
        ],
        "doc_id long, text string",
    )
    out = {(r["new_id"], r["corpus_id"]): r["jaccard"]
           for r in dedup.dedup_incremental(new, corpus, threshold=0.8).collect()}
    assert out == {(10, 1): 1.0, (10, 3): 1.0}  # corpus-corpus pair (1,3) excluded


def test_dedup_incremental_stored_sig_no_corpus_text_scan(spark, tmp_path):
    """The O(delta) ingest path (VERDICT r3 #4): with corpus_sig read from
    a stored signature table, the per-batch plan scans ONLY the delta's
    text plus the signature parquet — corpus text is never re-shingled.
    Also: results identical to the recompute-from-text path."""
    import contextlib
    import io

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally unrelated corpus document with other words"),
            (3, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "brand new unique content nothing like the rest here"),
        ],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "corpus_sig.parquet")
    dedup.minhash_signatures(corpus).write.parquet(sig_path)
    corpus_sig = spark.read.parquet(sig_path)

    out_df = dedup.dedup_incremental(new, corpus_sig=corpus_sig, threshold=0.8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out_df.explain("formatted")
    plan = buf.getvalue()
    # Every parquet scan in the delta-path plan is the signature table.
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert scans, "expected the stored signature table to be scanned"
    locations = [ln for ln in plan.splitlines() if "Location:" in ln]
    assert locations and all("corpus_sig.parquet" in ln for ln in locations), plan

    got = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in out_df.collect()}
    want = {(r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dedup.dedup_incremental(new, corpus, threshold=0.8).collect()}
    assert got == want == {(10, 1): 1.0, (10, 3): 1.0}


def test_dedup_embedding_lsh_prunes_and_finds_near_identicals(spark):
    """SRP-LSH: near-identical vectors (the production near-dup regime)
    are all found, every emitted pair is a true >= threshold pair (subset
    of exact), and candidate generation is a band equi-join (no cross
    join in the plan)."""
    import io
    import contextlib
    import random

    rng = random.Random(7)
    dims = 32
    base = [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, v))
        # near-identical twin: tiny perturbation -> cosine ~0.999
        rows.append((i * 2 + 1, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    lsh = dedup.dedup_embedding_lsh(df, threshold=0.95, dims=dims)
    exact = dedup.dedup_embedding_cosine(df, threshold=0.95)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    twins = {(i * 2, i * 2 + 1) for i in range(40)}
    assert twins <= exact_pairs          # the planted dups are real dups
    assert lsh_pairs <= exact_pairs      # verify step: no false positives
    assert twins <= lsh_pairs            # ~1 recall at sim ~0.999

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lsh.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_duplicate_ngrams_counts_and_first_doc(spark):
    # 3-gram "x y z" appears in docs 1, 2, 3; "a b c" only in doc 1.
    rows = [
        (1, "a b c x y z"),
        (2, "p q r x y z"),
        (3, "x y z m n o"),
        (4, "nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from sum_spark.functions.hashing import hash60
    from pyspark.sql import functions as F

    out = dedup.duplicate_ngrams(df, n=3).collect()
    target = spark.range(1).select(hash60(F.lit("x y z")).alias("h")).first()["h"]
    by_hash = {r["gram_h"]: (r["first_doc"], r["n_docs"]) for r in out}
    assert by_hash[target] == (1, 3)
    # nothing below min_df leaks through
    assert all(n >= 2 for _, n in by_hash.values())
    # "a b c" is unique to doc 1 -> absent
    solo = spark.range(1).select(hash60(F.lit("a b c")).alias("h")).first()["h"]
    assert solo not in by_hash


def test_duplicated_span_stats_counts(spark):
    rows = [
        (1, "a b c x y z"),      # grams: "a b c","b c x","c x y","x y z" -> 1 dup
        (2, "p q r x y z"),      # 4 grams -> 1 dup ("x y z")
        (3, "x y z m n o"),      # 4 grams -> 1 dup
        (4, "nothing shared here at all"),  # 3 grams -> 0 dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in dedup.duplicated_span_stats(df, n=3).collect()}
    assert out == {1: (4, 1), 2: (4, 1), 3: (4, 1), 4: (3, 0)}
    # precomputed dup-gram table path gives the same answer
    dup = dedup.duplicate_ngrams(df, n=3)
    out2 = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
            for r in dedup.duplicated_span_stats(df, dup_grams=dup, n=3).collect()}
    assert out2 == out


class TestDedupLines:
    def test_removes_cross_doc_lines_keeps_within_doc_repeats(self, spark):
        from sum_spark.operators.dedup import dedup_lines

        df = spark.createDataFrame(
            [
                (1, "a\nboil\nb"),
                (2, "boil\nc"),
                (3, "x"),
                (4, "y\ny"),  # repeated WITHIN one doc only: kept
                (5, None),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
        assert got[1]["clean_text"] == "a\nb" and got[1]["n_dup_lines"] == 1
        assert got[2]["clean_text"] == "c"
        assert got[3]["n_dup_lines"] == 0
        assert got[4]["clean_text"] == "y\ny" and got[4]["n_dup_lines"] == 0
        assert 5 not in got  # NULL text carries no lines

    def test_all_lines_removed_yields_empty_text(self, spark):
        from sum_spark.operators.dedup import dedup_lines

        df = spark.createDataFrame(
            [(1, "boil"), (2, "boil")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in dedup_lines(df).collect()}
        assert got[1]["clean_text"] == "" and got[1]["n_dup_lines"] == 1
        assert got[2]["clean_text"] == ""

    def test_min_df_threshold(self, spark):
        from sum_spark.operators.dedup import dedup_lines

        df = spark.createDataFrame(
            [(1, "p\nq"), (2, "p\nr"), (3, "p\ns")], "doc_id long, text string"
        )
        # min_df=4: 'p' occurs in only 3 docs, nothing removed.
        got = dedup_lines(df, min_df=4).collect()
        assert all(r["n_dup_lines"] == 0 for r in got)
        got2 = {r["doc_id"]: r for r in dedup_lines(df, min_df=3).collect()}
        assert all(got2[d]["n_dup_lines"] == 1 for d in (1, 2, 3))

    def test_layout_invariant_and_order_preserving(self, spark, sf_smoke):
        from sum_spark.operators.dedup import dedup_lines
        from sum_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        docs = load_table(spark, sf_smoke, "documents").limit(80)
        # Break into 5-word lines so cross-doc repeats actually occur.
        lined = docs.select(
            "doc_id",
            F.expr(
                "array_join(transform(sequence(0, CAST(floor((size(split(text, ' ')) + 4) / 5) AS INT) - 1), "
                "c -> array_join(slice(split(text, ' '), c * 5 + 1, 5), ' ')), '\n')"
            ).alias("text"),
        )
        a = sorted(map(tuple, dedup_lines(lined).collect()))
        b = sorted(map(tuple, dedup_lines(lined.repartition(17)).collect()))
        assert a == b
        # Surviving lines keep their original relative order.
        orig = {r["doc_id"]: r["text"].split("\n") for r in lined.collect()}
        for doc_id, *_rest, clean in a:
            kept = clean.split("\n") if clean else []
            it = iter(orig[doc_id])
            assert all(any(line == o for o in it) for line in kept)


    def test_unbroadcast_boiler_same_result(self, spark):
        from sum_spark.operators.dedup import dedup_lines

        df = spark.createDataFrame(
            [(1, "a\nboil\nb"), (2, "boil\nc"), (3, "x")],
            "doc_id long, text string",
        )
        a = sorted(map(tuple, dedup_lines(df).collect()))
        b = sorted(map(tuple, dedup_lines(df, broadcast_boiler=False).collect()))
        assert a == b

    def test_regex_metachar_separator_is_literal(self, spark):
        """line_sep is a LITERAL separator: '|' (a regex metachar) must
        split on pipes, not per character, and the clean text must
        round-trip with the literal reassembly join."""
        from sum_spark.operators.dedup import dedup_lines

        df = spark.createDataFrame(
            [(1, "a|boil|b"), (2, "boil|c"), (3, "zz")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in dedup_lines(df, line_sep="|").collect()}
        assert got[1]["n_lines"] == 3 and got[1]["clean_text"] == "a|b"
        assert got[2]["clean_text"] == "c"
        assert got[3]["n_lines"] == 1 and got[3]["clean_text"] == "zz"

    def test_dot_separator_chunk_by_lines_literal(self, spark):
        """chunk_by_lines with '.' must treat the dot literally (a regex
        '.' would split every character into its own line)."""
        from sum_spark.operators.textops import chunk_by_lines

        df = spark.createDataFrame(
            [(1, "one two.three four five.six")], "doc_id long, text string"
        )
        rows = chunk_by_lines(df, budget=4, line_sep=".").collect()
        text = ".".join(r["chunk_text"] for r in rows)
        assert text == "one two.three four five.six"


class TestRemoveDuplicateSpans:
    def test_hand_case(self, spark):
        from sum_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(
            [(1, "x a b c y"), (2, "a b c z"), (3, "p q r s"), (4, None)],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
        assert (got[1]["n_removed"], got[1]["clean_text"]) == (3, "x y")
        assert (got[2]["n_removed"], got[2]["clean_text"]) == (3, "z")
        assert got[3]["n_removed"] == 0 and got[3]["clean_text"] == "p q r s"
        assert 4 not in got  # NULL text excluded

    def test_overlapping_spans_and_full_coverage(self, spark):
        from sum_spark.operators.dedup import remove_duplicate_spans

        # "a b c d" shares overlapping 3-grams (a b c) and (b c d) with
        # the two other docs: all 4 tokens covered, clean_text empty.
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c"), (3, "b c d")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
        assert got[1]["n_removed"] == 4 and got[1]["clean_text"] == ""

    def test_precomputed_dup_grams_matches_derived(self, spark, sf_smoke):
        from sum_spark.operators.dedup import duplicate_ngrams, remove_duplicate_spans
        from sum_spark.sources.tables import load_table

        docs = load_table(spark, sf_smoke, "documents").limit(120)
        dg = duplicate_ngrams(docs)
        a = sorted(map(tuple, remove_duplicate_spans(docs).collect()))
        b = sorted(map(tuple, remove_duplicate_spans(docs, dup_grams=dg).collect()))
        assert a == b

    def test_layout_invariant(self, spark, sf_smoke):
        from sum_spark.operators.dedup import remove_duplicate_spans
        from sum_spark.sources.tables import load_table

        docs = load_table(spark, sf_smoke, "documents").limit(80)
        a = sorted(map(tuple, remove_duplicate_spans(docs).collect()))
        b = sorted(map(tuple, remove_duplicate_spans(docs.repartition(17)).collect()))
        assert a == b
