"""Operator-level tests for the similarity search family (find_similar,
k-NN brute force, IVF buckets, multi-probe) and dedup scale options."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from sum_spark.functions.vector import cosine, dot, magnitude
from sum_spark.operators import dedup
from sum_spark.operators.similarity import find_similar, knn_bruteforce, knn_ivf
from sum_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return load_table(spark, sf_smoke, "embeddings")


def test_find_similar_excludes_probe_and_orders(emb):
    rows = find_similar(emb, 1, threshold=-1.0, id_col="vec_id", vec_col="embedding", k=5).collect()
    assert len(rows) == 5
    assert all(r["vec_id"] != 1 for r in rows)
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_find_similar_threshold_filters(emb):
    all_rows = find_similar(emb, 1, threshold=-1.0, id_col="vec_id", vec_col="embedding").count()
    some = find_similar(emb, 1, threshold=0.2, id_col="vec_id", vec_col="embedding").count()
    assert 0 < some < all_rows


def test_find_similar_strict_missing_probe(emb):
    with pytest.raises(KeyError, match="not found"):
        find_similar(emb, 10**9, threshold=0.0, id_col="vec_id", vec_col="embedding", strict=True)
    # lazy default: empty result, no error
    assert (
        find_similar(emb, 10**9, threshold=0.0, id_col="vec_id", vec_col="embedding").count()
        == 0
    )


def test_knn_bruteforce_k_per_probe(emb):
    probes = emb.where(F.col("vec_id") <= 2)
    out = knn_bruteforce(emb, probes, k=7, id_col="vec_id", vec_col="embedding")
    counts = {r["probe_id"]: r["n"] for r in out.groupBy("probe_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 7, 2: 7} or counts == {0: 7, 1: 7, 2: 7}


NAN, INF = float("nan"), float("inf")
_rng = random.Random(7)
# Every edge the kernel has: NaN, -0.0, inf, zero norms (0.0 and -0.0),
# a length mismatch, a null element, a null array, an empty array, and
# exact ties (1, 11 and 12 are parallel), beside random vectors whose
# sims straddle the thresholds.
EDGE_VECTORS = [
    (1, [1.0, 2.0, 3.0, 4.0]),
    (2, [0.5, -1.0, 2.5, 0.0]),
    (3, [NAN, 1.0, 1.0, 1.0]),
    (4, [-0.0, 1.0, -2.0, 3.0]),
    (5, [INF, 1.0, 0.0, 0.0]),
    (6, [0.0, 0.0, 0.0, 0.0]),
    (7, [1.0, 2.0, 3.0]),
    (8, [1.0, None, 3.0, 4.0]),
    (9, None),
    (10, []),
    (11, [2.0, 4.0, 6.0, 8.0]),
    (12, [1.0, 2.0, 3.0, 4.0]),
    (13, [-1.0, -2.0, -3.0, -4.0]),
    (14, [-0.0, -0.0, -0.0, -0.0]),
] + [(i, [_rng.uniform(-1.0, 1.0) for _ in range(4)]) for i in range(15, 40)]
EDGE_PROBES = (1, 3, 6, 7, 8, 2)


@pytest.fixture(scope="module")
def edge_recs(spark):
    # Cached: uncached, every query re-reads the local rows through
    # Python workers, about 1 s per collect.
    df = spark.createDataFrame(EDGE_VECTORS, "id long, data array<float>").cache()
    yield df
    df.unpersist()


def _bits(pairs):
    """(id, sim) pairs with sims as exact bits; every NaN is one value."""
    return [
        (i, None if s is None else "nan" if math.isnan(s) else struct.pack("<d", s))
        for i, s in pairs
    ]


def _reference(recs, probe_id, threshold, round_to):
    """The findSimilar contract written with the Column-level cosine:
    every record but the probe, filtered on the threshold (None keeps
    every row, NULL sims too), in (sim desc, id) order."""
    probe = recs.where(F.col("id") == probe_id).select(F.col("data").alias("__q"))
    sim = cosine("data", "__q")
    if round_to is not None:
        sim = F.round(sim, round_to)
    out = recs.where(F.col("id") != probe_id).crossJoin(probe).select("id", sim.alias("sim"))
    if threshold is not None:
        out = out.where(F.col("sim") >= threshold)
    return _bits(
        (r["id"], r["sim"]) for r in out.orderBy(F.col("sim").desc(), "id").collect()
    )


def test_magnitude_fold_matches_self_dot(edge_recs):
    rows = edge_recs.select(
        "id", magnitude("data").alias("m"), F.sqrt(dot("data", "data")).alias("d")
    ).collect()
    assert _bits((r["id"], r["m"]) for r in rows) == _bits((r["id"], r["d"]) for r in rows)


@pytest.mark.parametrize("round_to", [None, 4])
def test_staged_kernel_bit_identical_to_cosine(edge_recs, round_to):
    """find_similar and knn_bruteforce return exactly the (id, sim) lists
    of the Column-level cosine: a zero norm gives 0.0 even against a
    length mismatch, a mismatch with nonzero norms gives NULL (dropped by
    any threshold), NaN sorts first and passes, and the threshold applied
    after the top-k keeps the first k passing rows."""
    for probe in EDGE_PROBES:
        for threshold in (-1.0, 0.0, 0.5):
            want = _reference(edge_recs, probe, threshold, round_to)
            for k in (None, 1, 3, 1000):
                got = find_similar(edge_recs, probe, threshold, k=k, round_to=round_to)
                assert _bits(got.collect()) == want[:k], (probe, threshold, k)
    probes = edge_recs.where(F.col("id").isin(*EDGE_PROBES))
    unfiltered = {p: _reference(edge_recs, p, None, round_to) for p in EDGE_PROBES}
    for k in (1, 3, 1000):
        rows = knn_bruteforce(edge_recs, probes, k=k, round_to=round_to).collect()
        for p in EDGE_PROBES:
            mine = [r for r in rows if r["probe_id"] == p]
            assert [r["rank"] for r in mine] == list(range(1, len(mine) + 1))
            assert _bits((r["id"], r["sim"]) for r in mine) == unfiltered[p][:k], (p, k)


def test_knn_ivf_subset_of_bruteforce_candidates(emb):
    probes = emb.where(F.col("vec_id") == 1)
    ivf = knn_ivf(emb, probes, k=50, id_col="vec_id", vec_col="embedding")
    ivf_rows = ivf.collect()
    # every IVF neighbor shares the probe's bucket by construction
    brute = {
        r["vec_id"]: r["sim"]
        for r in knn_bruteforce(emb, probes, k=10**6, id_col="vec_id", vec_col="embedding").collect()
    }
    for r in ivf_rows:
        assert r["vec_id"] in brute
        assert r["sim"] == pytest.approx(brute[r["vec_id"]], abs=1e-9)


def test_knn_ivf_multiprobe_increases_candidates(emb):
    probes = emb.where(F.col("vec_id") == 1)
    one = knn_ivf(emb, probes, k=10**6, id_col="vec_id", vec_col="embedding", n_probes=1).count()
    four = knn_ivf(emb, probes, k=10**6, id_col="vec_id", vec_col="embedding", n_probes=4).count()
    assert four >= one


def test_ngram_max_df_prunes_hot_shingles(spark):
    rows = [(i, "the common shingle appears everywhere plus unique token%d here now" % i) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.dedup_ngram_jaccard(df, threshold=0.1).count()
    capped = dedup.dedup_ngram_jaccard(df, threshold=0.1, max_df=3).count()
    assert capped <= uncapped


def test_ivf_index_prunes_partitions_and_matches_inflight(spark, sf_smoke, tmp_path):
    """The write-time IVF layout must (a) return exactly what the
    on-the-fly knn_ivf returns and (b) actually prune: the parquet scan's
    PartitionFilters restricts to the probed buckets."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from sum_spark.operators.similarity import knn_ivf, knn_ivf_from_index, write_ivf_index
    from sum_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    probes = emb.where(F.col("vec_id") <= 3)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, id_col="vec_id", vec_col="embedding")

    from_index = knn_ivf_from_index(
        spark, path, probes, k=5, id_col="vec_id", vec_col="embedding", round_to=4
    )
    inflight = knn_ivf(emb, probes, k=5, id_col="vec_id", vec_col="embedding", round_to=4)
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, inflight.collect())
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        from_index.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters: [" in p
    # the filter is non-empty: bucket isin(...) reached the scan
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf and pf.strip() != ""


def test_knn_ivf_kmeans_recall_and_full_probe_exactness(spark, sf_smoke):
    from sum_spark.operators.clustering import kmeans_fit
    from sum_spark.operators.similarity import knn_bruteforce, knn_ivf_kmeans
    from sum_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_smoke, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("data")
    )
    probes = emb.where(F.col("id") % 100 == 3)
    cents = kmeans_fit(emb, k=8, iters=3, id_col="id", vec_col="data")
    exact = knn_bruteforce(emb, probes, 10, id_col="id", vec_col="data")
    # Probing EVERY cluster must reproduce brute force exactly.
    all_probe = knn_ivf_kmeans(
        emb, probes, 10, cents, n_probes=len(cents), id_col="id", vec_col="data"
    )
    assert sorted(map(tuple, all_probe.collect())) == sorted(
        map(tuple, exact.collect())
    )
    # Probing a few clusters keeps most of the true neighbors.
    few = knn_ivf_kmeans(emb, probes, 10, cents, n_probes=3, id_col="id", vec_col="data")
    e = {(r["probe_id"], r["id"]) for r in exact.collect()}
    g = {(r["probe_id"], r["id"]) for r in few.collect()}
    recall = len(e & g) / len(e)
    assert recall >= 0.5
    # Candidate generation is an equi-join, never a cross join.
    plan = few._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_knn_ivfpq_properties(spark):
    """IVF-PQ: candidates come only from the probe's coarse list, adc is
    a non-negative ascending ranking, and an exact twin of the probe
    (same vector -> same codes) scores the reconstruction-error floor —
    no candidate can score below it."""
    import numpy as np

    from sum_spark.operators.similarity import knn_ivfpq

    rng = np.random.default_rng(11)
    d = 8
    base = rng.standard_normal(d).tolist()
    rows = [(i, rng.standard_normal(d).tolist()) for i in range(60)]
    rows.append((500, base))   # probe
    rows.append((501, base))   # exact twin
    df = spark.createDataFrame(rows, "id long, data array<double>")
    probes = df.where("id = 500")

    out = knn_ivfpq(df, probes, k=60, m=2, n_codes=4).collect()
    assert out, "probe's coarse list is empty"
    assert all(r["probe_id"] == 500 for r in out)
    assert all(r["adc"] >= 0.0 for r in out)
    ranks = [r["rank"] for r in out]
    assert ranks == sorted(ranks)
    adcs = [r["adc"] for r in out]
    assert adcs == sorted(adcs)
    by_id = {r["id"]: r["adc"] for r in out}
    assert 501 in by_id  # twin shares the probe's coarse cluster
    assert by_id[501] == min(adcs)  # reconstruction-error floor


def test_pq_index_roundtrip_matches_inflight(spark, tmp_path):
    """write_pq_index -> knn_ivfpq_from_index: identical neighbors to the
    in-flight knn_ivfpq (same codebook recipe), the scan reads ONLY the
    probed coarse lists (PartitionFilters on the partition column), and
    the index stores codes, never vectors."""
    import numpy as np

    from sum_spark.operators.similarity import (
        knn_ivfpq,
        knn_ivfpq_from_index,
        write_pq_index,
    )

    rng = np.random.default_rng(23)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    probes = df.where("id <= 2")
    path = str(tmp_path / "pqidx")

    write_pq_index(df, path, m=2, n_codes=4)
    stored = spark.read.parquet(path)
    # codes + the mergeable-partial weight (w=+1 here; retire writes -1),
    # never vectors
    assert sorted(stored.columns) == ["coarse", "codes", "id", "w"]

    from_idx = knn_ivfpq_from_index(spark, path, probes, k=7, m=2, round_to=4)
    inflight = knn_ivfpq(df, probes, k=7, m=2, n_codes=4, round_to=4)
    assert sorted(map(tuple, from_idx.collect())) == sorted(
        map(tuple, inflight.collect())
    )

    p = from_idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "coarse" in pf  # the scan prunes to the probed lists


def test_rerank_converges_to_exact_within_probed_lists(spark, tmp_path):
    """knn_ivfpq_rerank: (a) with C >= corpus the result is EXACTLY the
    true-cosine top-k within the probed coarse lists (= knn_ivf_kmeans
    with the same codebook and n_probes — ADC error fully confined to
    the cut); (b) recall vs brute force is monotone non-decreasing in C
    (a bigger candidate set can only add true neighbors); (c) the
    candidate frames are broadcast (no corpus shuffle in stage 2)."""
    import numpy as np

    from sum_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf_kmeans,
        knn_ivfpq_rerank,
        write_pq_index,
    )

    rng = np.random.default_rng(71)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    probes = df.where("id <= 2")
    path = str(tmp_path / "pqidx_rr")
    book = write_pq_index(df, path, m=2, n_codes=4)

    exact_in_lists = knn_ivf_kmeans(
        df, probes, k=7, centroids=book, n_probes=2, round_to=4
    )
    rr_full = knn_ivfpq_rerank(
        spark, path, df, probes, k=7, c=1000, m=2, n_probes=2, round_to=4
    )
    assert sorted(map(tuple, rr_full.collect())) == sorted(
        map(tuple, exact_in_lists.collect())
    )

    truth = {
        (r["probe_id"], r["id"]) for r in knn_bruteforce(df, probes, k=7).collect()
    }

    def hits(c):
        got = {
            (r["probe_id"], r["id"])
            for r in knn_ivfpq_rerank(
                spark, path, df, probes, k=7, c=c, m=2, n_probes=2
            ).collect()
        }
        return len(got & truth)

    h = [hits(c) for c in (7, 30, 1000)]
    assert h[0] <= h[1] <= h[2]

    plan = rr_full._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_residual_encoding_tightens_adc(spark):
    """residual=True (textbook IVF-PQ) must approximate true squared
    distances strictly better than raw-vector PQ on clustered data:
    within a coarse list the residual spread is small, so the same
    m x n_codes budget buys much finer quantization."""
    import numpy as np

    from sum_spark.operators.similarity import knn_ivfpq

    rng = np.random.default_rng(31)
    d = 8
    centers = [rng.standard_normal(d) * 20 for _ in range(3)]
    rows = []
    vecs = {}
    for i in range(120):
        v = centers[i % 3] + rng.standard_normal(d)
        vecs[i] = v
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "id long, data array<double>")
    probes = df.where("id = 0")

    def mean_err(residual):
        out = knn_ivfpq(
            df, probes, k=120, m=2, n_codes=8, residual=residual
        ).collect()
        assert out
        q = vecs[0]
        errs = [
            abs(r["adc"] - float(((q - vecs[r["id"]]) ** 2).sum())) for r in out
        ]
        return sum(errs) / len(errs)

    raw, res = mean_err(False), mean_err(True)
    assert res < raw * 0.8, (raw, res)


def test_append_to_pq_index_is_delta_and_equivalent(spark, tmp_path):
    """Appending a batch with the stored codebook must equal an index
    rebuilt from the full corpus WITH THE SAME codebook — old codes are
    untouched, new vectors become searchable."""
    import numpy as np

    from sum_spark.operators.similarity import (
        append_to_pq_index,
        knn_ivfpq_from_index,
        write_pq_index,
    )

    rng = np.random.default_rng(53)
    base_rows = [(i, rng.standard_normal(8).tolist()) for i in range(60)]
    delta_rows = [(1000 + i, rng.standard_normal(8).tolist()) for i in range(20)]
    base = spark.createDataFrame(base_rows, "id long, data array<double>")
    delta = spark.createDataFrame(delta_rows, "id long, data array<double>")

    p1 = str(tmp_path / "grown")
    book = write_pq_index(base, p1, m=2, n_codes=4)
    append_to_pq_index(delta, p1, m=2)

    p2 = str(tmp_path / "rebuilt")
    write_pq_index(base.unionAll(delta), p2, m=2, n_codes=4, centroids=book)

    a = {tuple([r["id"], r["coarse"]] + list(r["codes"])) for r in spark.read.parquet(p1).collect()}
    b = {tuple([r["id"], r["coarse"]] + list(r["codes"])) for r in spark.read.parquet(p2).collect()}
    assert a == b and len(a) == 80

    probes = delta.where("id = 1000")
    s1 = sorted(map(tuple, knn_ivfpq_from_index(spark, p1, probes, k=10, round_to=4).collect()))
    s2 = sorted(map(tuple, knn_ivfpq_from_index(spark, p2, probes, k=10, round_to=4).collect()))
    assert s1 == s2 and s1


def test_knn_filtered_is_topk_of_qualifying_set(emb):
    from sum_spark.operators.similarity import knn_filtered

    probes = emb.where(F.col("vec_id") <= 2)
    pred = F.col("label") % 2 == 0
    got = knn_filtered(
        emb, probes, k=5, predicate=pred, id_col="vec_id", vec_col="embedding"
    ).collect()
    # Reference: brute-force over the manually filtered set.
    want = knn_bruteforce(
        emb.where(pred), probes, k=5, id_col="vec_id", vec_col="embedding"
    ).collect()
    assert got == want
    # Every returned neighbor satisfies the predicate.
    ok = {r["vec_id"] for r in emb.where(pred).select("vec_id").collect()}
    assert all(r["vec_id"] in ok for r in got)
    # Pre-filter recall: exactly k per probe as long as the qualifying
    # set has >= k rows (post-filter would under-return here).
    per_probe = {}
    for r in got:
        per_probe[r["probe_id"]] = per_probe.get(r["probe_id"], 0) + 1
    assert set(per_probe.values()) == {5}


def test_knn_filtered_ivf_strategy_composes(emb):
    from sum_spark.operators.similarity import knn_filtered, knn_ivf

    probes = emb.where(F.col("vec_id") <= 2)
    pred = F.col("label") % 2 == 0
    got = knn_filtered(
        emb, probes, k=3, predicate=pred, id_col="vec_id", vec_col="embedding",
        strategy="ivf",
    ).collect()
    want = knn_ivf(
        emb.where(pred), probes, k=3, id_col="vec_id", vec_col="embedding"
    ).collect()
    assert got == want
    with pytest.raises(ValueError):
        knn_filtered(emb, probes, k=3, predicate=pred, strategy="nope")


def test_ivf_index_filtered_search_composes_both_prunes(spark, sf_smoke, tmp_path):
    """Indexed filtered ANN: attr columns denormalized into the index,
    predicate + bucket prune BOTH visible at the scan, result equals the
    in-flight pre-filter path."""
    import contextlib
    import io

    from sum_spark.operators.similarity import (
        knn_filtered,
        knn_ivf_from_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    probes = emb.where(F.col("vec_id") <= 3)
    path = str(tmp_path / "ivf_attr_index")
    write_ivf_index(
        emb, path, id_col="vec_id", vec_col="embedding", attr_cols=["label"]
    )

    pred = F.col("label") % 2 == 0
    from_index = knn_ivf_from_index(
        spark, path, probes, k=5, id_col="vec_id", vec_col="embedding",
        round_to=4, predicate=pred,
    )
    inflight = knn_filtered(
        emb, probes, k=5, predicate=pred, id_col="vec_id", vec_col="embedding",
        strategy="ivf", round_to=4,
    )
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, inflight.collect())
    )

    # Both prune dimensions at the scan: partition pruning on bucket AND
    # a pushed row-group filter on the indexed attribute (equality form
    # so the filter is pushable).
    eq = knn_ivf_from_index(
        spark, path, probes, k=5, id_col="vec_id", vec_col="embedding",
        predicate=F.col("label") == 1,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        eq.explain("formatted")
    p = buf.getvalue()
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "bucket" in pf
    assert "EqualTo(label,1)" in p


def test_ivf_index_multiprobe_matches_inflight(spark, sf_smoke, tmp_path):
    from sum_spark.operators.similarity import (
        knn_ivf,
        knn_ivf_from_index,
        write_ivf_index,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    probes = emb.where(F.col("vec_id") <= 3)
    path = str(tmp_path / "ivf_mp_index")
    write_ivf_index(emb, path, id_col="vec_id", vec_col="embedding")

    from_index = knn_ivf_from_index(
        spark, path, probes, k=5, id_col="vec_id", vec_col="embedding",
        round_to=4, n_probes=4,
    )
    inflight = knn_ivf(
        emb, probes, k=5, id_col="vec_id", vec_col="embedding", round_to=4,
        n_probes=4,
    )
    got = sorted(map(tuple, from_index.collect()))
    want = sorted(map(tuple, inflight.collect()))
    assert got == want
    # Multi-probe genuinely widens the candidate set vs single-probe.
    single = knn_ivf_from_index(
        spark, path, probes, k=5, id_col="vec_id", vec_col="embedding", round_to=4
    )
    assert len(got) >= single.count()


def test_pq_index_multiprobe_expands_candidates(spark, tmp_path):
    """n_probes > 1 on the stored PQ index: the probe searches its
    n nearest coarse lists — recall can only improve (the top-k ADC
    total is non-increasing in n_probes), and the scan is STILL pruned
    to exactly the probed lists (a literal isin partition filter), never
    a full read."""
    import numpy as np

    from sum_spark.operators.similarity import knn_ivfpq_from_index, write_pq_index

    rng = np.random.default_rng(47)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    probes = df.where("id <= 1")
    path = str(tmp_path / "pqidx_mp")
    write_pq_index(df, path, m=2, n_codes=4)

    def topk_sum(n_probes):
        out = knn_ivfpq_from_index(
            spark, path, probes, k=7, m=2, round_to=6, n_probes=n_probes
        )
        return out, sum(r["adc"] for r in out.collect())

    one, s1 = topk_sum(1)
    two, s2 = topk_sum(2)
    all_, s_all = topk_sum(64)  # clamps to the list count
    assert s2 <= s1 + 1e-9 and s_all <= s2 + 1e-9

    p = two._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p
    pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "coarse" in pf  # pruned to the probed lists even when several


def test_retire_from_pq_index_nets_out_including_changed_vectors(spark, tmp_path):
    """Deletion as negation on the vector index: retiring vectors (and
    changing one — retire old embedding, append new under the SAME id)
    must make searches equal an index rebuilt from the surviving corpus
    with the same codebook. The netting is exact because encoding
    against the immutable stored codebook is deterministic."""
    import numpy as np

    from sum_spark.operators.similarity import (
        append_to_pq_index,
        knn_ivfpq_from_index,
        pq_index_rows,
        retire_from_pq_index,
        write_pq_index,
    )

    rng = np.random.default_rng(91)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(60)]
    changed_new = (7, rng.standard_normal(8).tolist())
    corpus = spark.createDataFrame(rows, "id long, data array<double>")

    p1 = str(tmp_path / "maintained")
    book = write_pq_index(corpus, p1, m=2, n_codes=4)
    # retire ids 0-4 outright, plus id 7's OLD vector; re-append id 7 new
    retired = corpus.where("id < 5 or id = 7")
    retire_from_pq_index(retired, p1, m=2)
    newrow = spark.createDataFrame([changed_new], "id long, data array<double>")
    append_to_pq_index(newrow, p1, m=2)

    survivors = corpus.where("id >= 5 and id != 7").unionAll(newrow)
    p2 = str(tmp_path / "rebuilt")
    write_pq_index(survivors, p2, m=2, n_codes=4, centroids=book)

    live = {
        tuple([r["id"], r["coarse"]] + list(r["codes"]))
        for r in pq_index_rows(spark, p1).collect()
    }
    want_rows = {
        tuple([r["id"], r["coarse"]] + list(r["codes"]))
        for r in pq_index_rows(spark, p2).collect()
    }
    assert live == want_rows and len(live) == 55

    probes = corpus.where("id = 20")
    s1 = sorted(
        map(
            tuple,
            knn_ivfpq_from_index(
                spark, p1, probes, k=10, round_to=4, n_probes=4
            ).collect(),
        )
    )
    s2 = sorted(
        map(
            tuple,
            knn_ivfpq_from_index(
                spark, p2, probes, k=10, round_to=4, n_probes=4
            ).collect(),
        )
    )
    assert s1 == s2 and s1
    # no retired id may surface at any k
    assert not {r[1] for r in s1} & {0, 1, 2, 3, 4}


def test_compact_pq_index_folds_tombstones_and_recovers_from_crash(
    spark, tmp_path, monkeypatch
):
    """Compaction materializes the netting (no w<=0 residue, fewer
    files), leaves searches unchanged, and a crash mid-swap is repaired
    by re-running (the staged copy stays durable until the final
    cleanup)."""
    import os

    import numpy as np
    import pytest

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(17)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(60)]
    corpus = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "idx")
    S.write_pq_index(corpus, p, m=2, n_codes=4)
    S.retire_from_pq_index(corpus.where("id % 4 = 0"), p, m=2)

    probes = corpus.where("id = 21")
    want = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(
                spark, p, probes, k=8, round_to=4, n_probes=4
            ).collect(),
        )
    )

    def _files(root):
        return [
            os.path.join(dp, f)
            for dp, _, fns in os.walk(root)
            for f in fns
            if f.endswith(".parquet") and "_codebook" not in dp
        ]

    n_before = len(_files(p))

    # crash on the SECOND rename of the swap (the first commits _DONE)
    real_rename = os.rename
    calls = {"n": 0}

    def crashing(src, dst, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-swap")
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", crashing)
    with pytest.raises(RuntimeError, match="mid-swap"):
        S.compact_pq_index(spark, p)
    assert os.path.isfile(os.path.join(p, "_compacted", "_DONE"))
    monkeypatch.undo()

    stats = S.compact_pq_index(spark, p)  # recovery run
    assert not os.path.isdir(os.path.join(p, "_compacted"))
    assert stats["n_rows"] == 45
    idx = spark.read.parquet(p)
    assert idx.where("w <= 0").count() == 0
    assert len(_files(p)) < n_before

    got = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(
                spark, p, probes, k=8, round_to=4, n_probes=4
            ).collect(),
        )
    )
    assert got == want
    # idempotent: compacting again changes nothing
    S.compact_pq_index(spark, p)
    again = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(
                spark, p, probes, k=8, round_to=4, n_probes=4
            ).collect(),
        )
    )
    assert again == want


def test_ivf_index_retire_append_compact_full_loop(spark, tmp_path):
    """The raw-vector IVF index's maintenance loop (append / retire /
    compact), including a changed vector that hops buckets: searches
    against the maintained index must equal an index rebuilt from the
    surviving corpus, before AND after compaction."""
    import os

    import numpy as np

    from sum_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        ivf_index_rows,
        knn_ivf_from_index,
        retire_from_ivf_index,
        write_ivf_index,
    )

    rng = np.random.default_rng(29)
    rows = [(i, rng.standard_normal(8).tolist(), i % 3) for i in range(50)]
    extra = [(100 + i, rng.standard_normal(8).tolist(), i % 3) for i in range(10)]
    changed_new = (7, (-np.array(rows[7][1])).tolist(), 1)  # flips every sign bit
    corpus = spark.createDataFrame(rows, "id long, data array<double>, label long")
    delta = spark.createDataFrame(extra, "id long, data array<double>, label long")
    newrow = spark.createDataFrame(
        [changed_new], "id long, data array<double>, label long"
    )

    p1 = str(tmp_path / "maintained")
    write_ivf_index(corpus, p1, n_bits=4, attr_cols=["label"])
    append_to_ivf_index(delta, p1, n_bits=4, attr_cols=["label"])
    retire_from_ivf_index(
        corpus.where("id < 5 or id = 7"), p1, n_bits=4, attr_cols=["label"]
    )
    append_to_ivf_index(newrow, p1, n_bits=4, attr_cols=["label"])

    survivors = (
        corpus.where("id >= 5 and id != 7").unionAll(delta).unionAll(newrow)
    )
    p2 = str(tmp_path / "rebuilt")
    write_ivf_index(survivors, p2, n_bits=4, attr_cols=["label"])

    live = {
        (r["id"], tuple(r["data"]), r["label"], r["bucket"])
        for r in ivf_index_rows(spark, p1).collect()
    }
    want_rows = {
        (r["id"], tuple(r["data"]), r["label"], r["bucket"])
        for r in ivf_index_rows(spark, p2).collect()
    }
    assert live == want_rows and len(live) == 55

    probes = corpus.where("id = 20")

    def search(path):
        return sorted(
            map(
                tuple,
                knn_ivf_from_index(
                    spark,
                    path,
                    probes,
                    k=8,
                    round_to=4,
                    n_bits=4,
                    n_probes=4,
                    predicate=F.col("label") % 2 == 0,
                ).collect(),
            )
        )

    want = search(p2)
    assert search(p1) == want and want
    assert not {r[1] for r in want} & {0, 1, 2, 3, 4}

    stats = compact_ivf_index(spark, p1)
    assert stats["n_rows"] == 55
    assert not os.path.isdir(os.path.join(p1, "_compacted"))
    assert spark.read.parquet(p1).where("w <= 0").count() == 0
    assert search(p1) == want


def test_compact_refuses_fully_netted_out_index(spark, tmp_path):
    """Retiring EVERYTHING then compacting must refuse (ValueError)
    rather than swap in an unreadable empty layout — deleting an index
    is the caller's explicit move, never a compaction side effect. The
    refusal happens before anything destructive: the index still reads."""
    import numpy as np

    from sum_spark.operators.similarity import (
        compact_pq_index,
        pq_index_rows,
        retire_from_pq_index,
        write_pq_index,
    )

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(20)]
    corpus = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "idx_all_gone")
    write_pq_index(corpus, p, m=2, n_codes=4)
    retire_from_pq_index(corpus, p, m=2)
    with pytest.raises(ValueError, match="nets to empty"):
        compact_pq_index(spark, p)
    # nothing was deleted: the raw partials still read and net to zero
    assert spark.read.parquet(p).count() == 40
    assert pq_index_rows(spark, p).count() == 0


def test_retrain_pq_index_closes_drift_and_survives_crash(spark, tmp_path, monkeypatch):
    """VERDICT r6 #4: retrain_pq_index trains a fresh book on the
    survivors, re-encodes everything, and staged-swaps rows+codebook
    together. Checks all three Done criteria: (a) retrained index ==
    write_pq_index from scratch on the survivors, row-for-row; (b)
    quantization error under the new book is STRICTLY below the old
    book's on a drifted corpus; (c) a crash mid-swap is repaired by
    re-running, and searches serve from the new book afterwards."""
    import os

    import numpy as np
    import pytest

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(37)
    d = 8
    # bootstrap corpus near the origin; later wave drifted by +10
    old_rows = [(i, rng.standard_normal(d).tolist()) for i in range(50)]
    new_rows = [
        (100 + i, (rng.standard_normal(d) + 10.0).tolist()) for i in range(50)
    ]
    corpus = spark.createDataFrame(old_rows + new_rows, "id long, data array<double>")
    p = str(tmp_path / "idx_drift")
    old_book = S.write_pq_index(corpus.where("id < 50"), p, m=2, n_codes=4)
    S.append_to_pq_index(corpus.where("id >= 100"), p, m=2)  # drifted, old book
    S.retire_from_pq_index(corpus.where("id < 50 AND id % 5 = 0"), p, m=2)
    survivors = corpus.where("NOT (id < 50 AND id % 5 = 0)")

    vs = [np.array(r["data"]) for r in survivors.collect()]

    def qerr(book):
        items = sorted(book.items())
        sd = d // 2
        tot = 0.0
        for v in vs:
            for j in range(2):
                seg = v[j * sd : (j + 1) * sd]
                tot += min(
                    float(np.sum((seg - np.array(c[j * sd : (j + 1) * sd])) ** 2))
                    for _, c in items
                )
        return tot

    # (c) crash on the second rename of the swap, then recover
    real_rename = os.rename
    calls = {"n": 0}

    def crashing(src, dst, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-swap")
        return real_rename(src, dst, **kw)

    monkeypatch.setattr(os, "rename", crashing)
    with pytest.raises(RuntimeError, match="mid-swap"):
        S.retrain_pq_index(spark, p, corpus, m=2, n_codes=4)
    assert os.path.isfile(os.path.join(p, "_compacted", "_DONE"))
    monkeypatch.undo()
    new_book = S.retrain_pq_index(spark, p, corpus, m=2, n_codes=4)
    assert not os.path.isdir(os.path.join(p, "_compacted"))
    assert not os.path.isfile(os.path.join(p, "_tombstones"))

    # (b) drift closed: strictly lower quantization error on survivors
    assert qerr(new_book) < qerr(old_book)

    # (a) row-for-row == write_pq_index from scratch on the survivors
    p2 = str(tmp_path / "idx_scratch")
    book2 = S.write_pq_index(survivors, p2, m=2, n_codes=4)
    assert new_book == book2

    def rows(path):
        return sorted(
            (r["id"], r["coarse"], tuple(r["codes"]), r["w"])
            for r in spark.read.parquet(path).collect()
        )

    assert rows(p) == rows(p2) and rows(p)

    # searches serve from the new book: from-index == in-flight(new book)
    probes = survivors.where("id = 101")
    got = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(spark, p, probes, k=6, m=2, round_to=4).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            S.knn_ivfpq(
                survivors, probes, k=6, m=2, n_codes=4, round_to=4,
                centroids=new_book,
            ).collect(),
        )
    )
    assert got == want and got


def test_residual_pq_index_roundtrip_maintenance_and_retrain(spark, tmp_path):
    """write_pq_index(residual=True): (a) from-index search equals the
    in-flight knn_ivfpq(residual=True) bit-for-bit (same one-step books
    over the same frame); (b) residual ADC from the stored index
    approximates true squared distances strictly better than the raw
    encoding at the same code budget (clustered data); (c) O(delta)
    append + deletion-as-negation retire stay bit-exact under residual
    encoding (== rebuilt-from-survivors row-for-row and
    search-for-search); (d) retrain keeps residual mode and still
    equals a from-scratch residual build."""
    import os

    import numpy as np

    import sum_spark.operators.similarity as S
    from sum_spark.operators.similarity import knn_ivfpq

    rng = np.random.default_rng(31)
    d = 8
    # clustered corpus (the in-flight residual test's recipe): 3
    # far-apart centers + unit noise — raw PQ error scales with the
    # center magnitudes, residual error only with the noise
    centers = [rng.standard_normal(d) * 20 for _ in range(3)]
    rows = [
        (i, (centers[i % 3] + rng.standard_normal(d)).tolist())
        for i in range(120)
    ]
    corpus = spark.createDataFrame(rows, "id long, data array<double>")
    probes = corpus.where("id <= 2")

    p = str(tmp_path / "pq_res")
    book = S.write_pq_index(corpus, p, m=2, n_codes=8, residual=True)
    assert os.path.isdir(os.path.join(p, "_codebook_res"))

    from_idx = S.knn_ivfpq_from_index(spark, p, probes, k=7, m=2, round_to=4)
    inflight = knn_ivfpq(
        corpus, probes, k=7, m=2, n_codes=8, round_to=4, residual=True
    )
    assert sorted(map(tuple, from_idx.collect())) == sorted(
        map(tuple, inflight.collect())
    )

    # (b) stored residual ADC tighter than stored raw ADC vs true dists
    # (both indexes train the same one-step coarse book on this frame —
    # deterministic recipe — so only the encoding differs)
    p_raw = str(tmp_path / "pq_raw")
    S.write_pq_index(corpus, p_raw, m=2, n_codes=8)
    vecs = {r["id"]: np.array(r["data"]) for r in corpus.collect()}

    def adc_err(path):
        out = S.knn_ivfpq_from_index(spark, path, probes, k=1000, m=2).collect()
        tot = 0.0
        for r in out:
            true = float(np.sum((vecs[r["probe_id"]] - vecs[r["id"]]) ** 2))
            tot += abs(r["adc"] - true)
        return tot / len(out)

    assert adc_err(p) < 0.8 * adc_err(p_raw)

    # res_iters>0: point-init + Lloyd residual book (the one-step
    # partition-mean recipe degenerates on zero-centered residuals at
    # scale — all means ~0, constant LUTs); the trained book must stay
    # at least as tight, and the stored encode path (maintenance,
    # streaming) keeps using whatever book is stored
    p_rt = str(tmp_path / "pq_res_t")
    S.write_pq_index(corpus, p_rt, m=2, n_codes=8, residual=True, res_iters=4)
    assert adc_err(p_rt) < 0.8 * adc_err(p_raw)

    # rerank composes with the residual index unchanged: C >= corpus
    # makes it the exact cosine top-k within the probed lists
    rr = S.knn_ivfpq_rerank(
        spark, p, corpus, probes, k=7, c=10_000, m=2, n_probes=3, round_to=4
    )
    want = S.knn_ivf_kmeans(
        corpus, probes, k=7, centroids=book, n_probes=3, round_to=4,
        id_col="id", vec_col="data",
    )
    assert sorted(map(tuple, rr.collect())) == sorted(map(tuple, want.collect()))

    # (c) maintenance: grow + retire == rebuild over survivors
    wave1 = corpus.where("id < 80")
    p_m = str(tmp_path / "pq_res_maint")
    S.write_pq_index(wave1, p_m, m=2, n_codes=8, centroids=book, residual=True)
    # the residual book must match the full build's for bit-exact compare:
    # rebuild it the way write_pq_index(residual=True) does on wave1 —
    # here we just check maintenance against ITS OWN stored books
    S.append_to_pq_index(corpus.where("id >= 80"), p_m, m=2)
    S.retire_from_pq_index(corpus.where("id % 7 = 3"), p_m, m=2)
    survivors = corpus.where("id % 7 != 3")

    got = sorted(
        (r["id"], r["coarse"], tuple(r["codes"]))
        for r in S.pq_index_rows(spark, p_m).collect()
    )
    want = sorted(
        (r["id"], r["coarse"], tuple(r["codes"]))
        for r in S._encode_with_stored_book(survivors, p_m, 2, "id", "data").collect()
    )
    assert got == want and got

    # (d) retrain keeps residual mode; == from-scratch residual build
    new_book = S.retrain_pq_index(spark, p_m, corpus, m=2, n_codes=8)
    assert os.path.isdir(os.path.join(p_m, "_codebook_res"))
    p_s = str(tmp_path / "pq_res_scratch")
    book_s = S.write_pq_index(survivors, p_s, m=2, n_codes=8, residual=True)
    assert new_book == book_s

    def rows_of(path):
        return sorted(
            (r["id"], r["coarse"], tuple(r["codes"]), r["w"])
            for r in spark.read.parquet(path).collect()
        )

    assert rows_of(p_m) == rows_of(p_s) and rows_of(p_m)

    # the trainer RECIPE persists with the book (code-review fix): a
    # DEFAULT retrain of a res_iters=4 index reproduces the Lloyd
    # recipe — it can never silently fall back to the degeneracy-prone
    # one-step book
    import os as _os

    assert _os.path.isfile(_os.path.join(p_rt, "_codebook_res", "_res_iters"))
    S.retire_from_pq_index(corpus.where("id % 11 = 1"), p_rt, m=2)
    nb = S.retrain_pq_index(spark, p_rt, corpus, m=2, n_codes=8)
    surv2 = corpus.where("id % 11 != 1")
    p_s2 = str(tmp_path / "pq_rt_scratch")
    b2 = S.write_pq_index(surv2, p_s2, m=2, n_codes=8, residual=True, res_iters=4)
    assert nb == b2
    assert rows_of(p_rt) == rows_of(p_s2) and rows_of(p_rt)
    # ...and the recipe survives the retrain swap too
    assert _os.path.isfile(_os.path.join(p_rt, "_codebook_res", "_res_iters"))


def test_ivf_index_marker_gated_netting(spark, tmp_path):
    """The raw-vector IVF index gets the same tombstone-marker
    short-circuit as the PQ index (ADVICE r6): a never-retired index's
    live view has NO netting aggregate (every read is pass-through),
    the first retire turns it on (and results net correctly), and
    compaction folds the partials, removes the marker, and returns the
    reads to pass-through."""
    import os

    import numpy as np

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(29)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "ivf_marker")
    S.write_ivf_index(df.where("id < 40"), p)
    S.append_to_ivf_index(df.where("id >= 40"), p)

    def plan():
        return (
            S.ivf_index_rows(spark, p)._jdf.queryExecution().executedPlan().toString()
        )

    marker = os.path.join(p, "_tombstones")
    assert not os.path.isfile(marker)
    assert "HashAggregate" not in plan()  # appends never pay netting
    assert S.ivf_index_rows(spark, p).count() == 50

    S.retire_from_ivf_index(df.where("id % 9 = 0"), p)
    assert os.path.isfile(marker)
    assert "HashAggregate" in plan()  # tombstones exist -> netting on
    live = {r["id"] for r in S.ivf_index_rows(spark, p).select("id").collect()}
    assert live == {i for i in range(50) if i % 9 != 0}

    S.compact_ivf_index(spark, p)
    assert not os.path.isfile(marker)
    assert "HashAggregate" not in plan()
    again = {r["id"] for r in S.ivf_index_rows(spark, p).select("id").collect()}
    assert again == live


def test_legacy_index_without_sentinel_always_nets(spark, tmp_path):
    """ADVICE r7 (medium): an index persisted by a PRE-MARKER version
    has w=-1 retire partials but neither the ``_tombstones`` marker nor
    the ``_marker_aware`` sentinel. The read side must NET such a legacy
    index — a bare no-marker pass-through would serve every retired row
    as live AND surface each tombstone as a duplicate. One compaction
    migrates it to attested (sentinel written), restoring the
    short-circuit for clean reads."""
    import os

    import numpy as np

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(31)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, data array<double>")

    for kind in ("ivf", "pq"):
        p = str(tmp_path / f"legacy_{kind}")
        if kind == "ivf":
            S.write_ivf_index(df, p)
            S.retire_from_ivf_index(df.where("id % 7 = 0"), p)
            read = lambda: S.ivf_index_rows(spark, p)  # noqa: E731
            compact = S.compact_ivf_index
        else:
            S.write_pq_index(df, p, m=2, n_codes=8)
            S.retire_from_pq_index(df.where("id % 7 = 0"), p, m=2)
            read = lambda: S.pq_index_rows(spark, p)  # noqa: E731
            compact = S.compact_pq_index
        live = {i for i in range(40) if i % 7 != 0}

        # simulate the pre-marker version's on-disk state: w partials
        # present, no bookkeeping files at all
        os.remove(os.path.join(p, "_tombstones"))
        os.remove(os.path.join(p, "_marker_aware"))

        plan = read()._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in plan  # legacy -> conservative netting
        got = {r["id"] for r in read().select("id").collect()}
        assert got == live  # retired rows netted, no duplicates

        compact(spark, p)  # the one-time migration
        assert os.path.isfile(os.path.join(p, "_marker_aware"))
        assert not os.path.isfile(os.path.join(p, "_tombstones"))
        plan = read()._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" not in plan  # attested-clean short-circuit
        assert {r["id"] for r in read().select("id").collect()} == live


def test_retrain_pq_index_mid_batch_tail_error_names_no_partial_mode(
    spark, tmp_path
):
    """ADVICE r7: the mid-batch-tail refusal surfaced through
    retrain_pq_index must not advise 'pass partial=True' (retrain has no
    partial mode — mixing books corrupts ADC); it must give
    retrain-specific guidance instead."""
    import os

    import numpy as np
    import pytest

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(37)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "pq_tail")
    book = S.train_pq_codebook(df, 8)
    S.write_pq_codebook(spark, book, p)
    S.append_to_pq_index(df, p, m=2, batch_dir=0)  # batch layout
    # a checkpoint whose commit log has NOT committed batch 0 = the
    # stream stopped mid-batch
    ck = str(tmp_path / "ck")
    os.makedirs(os.path.join(ck, "commits"))
    with pytest.raises(ValueError) as ei:
        S.retrain_pq_index(
            spark, p, df, m=2, n_codes=8, keep_batch_layout=True, checkpoint=ck
        )
    msg = str(ei.value)
    assert "partial=True" not in msg
    assert "retrain" in msg and "resume the stream" in msg


def test_auto_sized_coarse_quantizer(spark, tmp_path):
    """VERDICT r7 #4: n_cells='auto' sizes the coarse book ~4*sqrt(N)
    (bounded), the large-k encode (numpy/GEMM, broadcast-join
    residualize — never plan literals) stays deterministic through the
    whole maintenance loop (append + retire net exactly), and
    retrain_pq_index(n_cells='auto') is the RESIZE path: it equals
    write_pq_index from scratch over the survivors row-for-row."""
    import numpy as np

    import sum_spark.operators.similarity as S

    assert S.auto_cells(20000) == 566  # 4*sqrt(20000)
    assert S.auto_cells(1) == 16  # lower bound
    assert S.auto_cells(10**10) == 4096  # upper bound

    rng = np.random.default_rng(41)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(900)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "auto_pq")
    book = S.write_pq_index(
        df.where("id % 3 != 0"), p, m=2, n_codes=8, n_cells="auto"
    )
    assert len(book) == S.auto_cells(600) > S._LARGE_K  # numpy path taken
    S.append_to_pq_index(df.where("id % 3 = 0"), p, m=2)
    S.retire_from_pq_index(df.where("id % 10 = 7"), p, m=2)
    live = {r["id"] for r in S.pq_index_rows(spark, p).select("id").collect()}
    assert live == {i for i in range(900) if i % 10 != 7}  # exact netting

    probes = df.where("id <= 3")
    out = S.knn_ivfpq_from_index(spark, p, probes, k=5, m=2, n_probes=4)
    got = out.collect()
    assert len(got) == 20 and all(r["rank"] <= 5 for r in got)

    # resize: retrain at 'auto' over the live corpus == scratch build
    nb = S.retrain_pq_index(spark, p, df, m=2, n_codes=8, n_cells="auto")
    p2 = str(tmp_path / "auto_pq_scratch")
    b2 = S.write_pq_index(
        df.where("id % 10 != 7"), p2, m=2, n_codes=8, n_cells="auto"
    )
    assert nb == b2
    r1 = sorted(
        tuple(r)
        for r in spark.read.parquet(p).select("id", "coarse", "codes").collect()
    )
    r2 = sorted(
        tuple(r)
        for r in spark.read.parquet(p2).select("id", "coarse", "codes").collect()
    )
    assert r1 == r2 and len(r1) == 810


def test_ivf_auto_bits_sidecar(spark, tmp_path):
    """write_ivf_index(n_bits='auto') records the chosen width in the
    _n_bits sidecar; readers and maintenance with n_bits=None resolve
    it (pre-sidecar indexes fall back to the historical 8), and the
    from-index search equals the in-flight knn_ivf at that width."""
    import os

    import numpy as np

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(43)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "auto_ivf")
    S.write_ivf_index(df, p, n_bits="auto")
    bits = int(open(os.path.join(p, "_n_bits")).read())
    # clamped to >= 8 so the no-sidecar fail-safe can tell wider auto
    # indexes (bucket values >= 256 exist) from legacy 8-bit ones
    assert bits == max(8, round(np.log2(S.auto_cells(200))))
    probes = df.where("id <= 3")
    a = S.knn_ivf_from_index(spark, p, probes, k=5, round_to=4).collect()
    b = S.knn_ivf(df, probes, k=5, n_bits=bits, round_to=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # maintenance resolves the sidecar too: retire nets exactly
    S.retire_from_ivf_index(df.where("id % 9 = 0"), p)
    live = {r["id"] for r in S.ivf_index_rows(spark, p).select("id").collect()}
    assert live == {i for i in range(200) if i % 9 != 0}
    # pre-sidecar fallback
    assert S._resolve_n_bits(str(tmp_path / "nope"), None) == 8
    assert S._resolve_n_bits(str(tmp_path / "nope"), 5) == 5


def test_numpy_encode_backends_agree_with_catalyst(spark):
    """The large-k encoders (assign_clusters backend='numpy', the
    _pq_codes_numpy GEMM, _residualize's join form past _LARGE_K) must
    produce the SAME assignments/codes/residuals as the catalyst literal
    paths on generic data — float summation order differs only in the
    last bits, which cannot flip an argmin off ties, and ties are
    measure-zero on continuous data. This pins the two paths against
    drift: an auto-sized index must search identically to a small one
    modulo cell count."""
    import numpy as np

    from sum_spark.operators.clustering import assign_clusters, kmeans_fit
    from sum_spark.operators.embeddings import _pq_codes_numpy, product_quantize
    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(47)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    cents = kmeans_fit(df, k=5, iters=2, id_col="id", vec_col="data")

    a_cat = {
        r["id"]: r["cluster"]
        for r in assign_clusters(
            df, cents, "id", "data", backend="catalyst"
        ).collect()
    }
    a_np = {
        r["id"]: r["cluster"]
        for r in assign_clusters(df, cents, "id", "data", backend="numpy").collect()
    }
    assert a_cat == a_np

    c_cat, _ = product_quantize(
        df, m=2, k=5, id_col="id", vec_col="data", centroids=cents
    )
    c_np = _pq_codes_numpy(
        df.withColumn("coarse", F.col("id") % 3), 2, sorted(cents.items()),
        "id", "data",
    )
    cc = {r["vec_id"]: list(r["codes"]) for r in c_cat.collect()}
    cn = {r["vec_id"]: list(r["codes"]) for r in c_np.collect()}
    assert cc == cn
    # the coarse id rides through the GEMM pass unchanged
    assert {r["vec_id"]: r["coarse"] for r in c_np.collect()} == {
        i: i % 3 for i in range(300)
    }

    # _residualize: the catalyst form up to _LARGE_K entries, the join
    # form past it. Both must equal the catalyst assignment plus the
    # IEEE subtraction x - c, bit for bit.
    vecs = dict(rows)
    big = {j: rng.standard_normal(8).tolist() for j in range(S._LARGE_K + 6)}
    for book in (cents, big):
        want_cluster = {
            r["id"]: r["cluster"]
            for r in assign_clusters(
                df, book, "id", "data", backend="catalyst"
            ).collect()
        }
        want = {
            i: (c, tuple(x - y for x, y in zip(vecs[i], book[c])))
            for i, c in want_cluster.items()
        }
        got = {
            r["id"]: (r["coarse"], tuple(r["__res"]))
            for r in S._residualize(df, book, "id", "data").collect()
        }
        assert got == want, len(book)


def test_backend_follows_actual_book_size_not_params(spark, tmp_path):
    """Review r8: the encode backend must be a pure function of the
    ACTUAL codebook size — an externally supplied large book with small
    n_codes used to build via catalyst but maintain via numpy, and the
    float-order difference breaks the bit-exact re-encode that
    deletion-as-negation needs. Build with a 100-entry external book,
    retire through the stored-book encoder, and require exact netting."""
    import numpy as np

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(53)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    book = {j: rng.standard_normal(8).tolist() for j in range(100)}  # >64
    p = str(tmp_path / "pq_extbook")
    S.write_pq_index(df, p, m=2, n_codes=8, centroids=book)
    S.retire_from_pq_index(df.where("id % 5 = 0"), p, m=2)
    live = {r["id"] for r in S.pq_index_rows(spark, p).select("id").collect()}
    assert live == {i for i in range(400) if i % 5 != 0}


def test_missing_n_bits_sidecar_fails_safe(spark, tmp_path):
    """Review r8: a wide auto index whose _n_bits sidecar is missing
    (crash between data write and sidecar write) must REFUSE to serve
    at the 8-bit default — silent 8 would compute probe buckets in the
    wrong key space and return wrong/empty neighbors."""
    import os

    import numpy as np
    import pytest

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(59)
    rows = [(i, rng.standard_normal(12).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, data array<double>")
    p = str(tmp_path / "ivf_wide")
    S.write_ivf_index(df, p, n_bits=10)  # buckets up to 1023
    os.remove(os.path.join(p, "_n_bits"))
    with pytest.raises(ValueError, match="sidecar"):
        S.knn_ivf_from_index(spark, p, df.where("id <= 2"), k=5)
    # an 8-bit-compatible index without a sidecar keeps the legacy default
    p8 = str(tmp_path / "ivf_8")
    S.write_ivf_index(df, p8, n_bits=8)
    os.remove(os.path.join(p8, "_n_bits"))
    assert S._resolve_n_bits(p8, None) == 8


def test_append_built_index_records_sidecar_and_deep_failsafe(spark, tmp_path):
    """ADVICE r8: (a) an index built purely by appends at an explicit
    non-default width whose bucket values stay below 256 must record the
    width in the _n_bits sidecar — n_bits=None later resolved 8 and
    silently probed the wrong key space; (b) the no-sidecar fail-safe
    must also see bucket= dirs one level under batch_id= dirs, or a
    batch-laid-out wide index bypasses the refusal."""
    import os

    import numpy as np
    import pytest

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(61)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, data array<double>")

    # (a) fresh append at n_bits=4: every bucket < 16 < 256
    p = str(tmp_path / "ivf_append_fresh")
    S.append_to_ivf_index(df, p, n_bits=4)
    assert int(open(os.path.join(p, "_n_bits")).read()) == 4
    assert S._resolve_n_bits(p, None) == 4
    a = S.knn_ivf_from_index(spark, p, df.where("id <= 2"), k=5, round_to=4)
    b = S.knn_ivf(df, df.where("id <= 2"), k=5, n_bits=4, round_to=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # (b) batch-laid-out WIDE index with a missing sidecar must refuse
    rows12 = [(i, rng.standard_normal(12).tolist()) for i in range(300)]
    df12 = spark.createDataFrame(rows12, "id long, data array<double>")
    pb = str(tmp_path / "ivf_batch_wide")
    S.append_to_ivf_index(df12, pb, n_bits=10, batch_dir=-1)
    os.remove(os.path.join(pb, "_n_bits"))
    with pytest.raises(ValueError, match="sidecar"):
        S._resolve_n_bits(pb, None)


def test_numpy_backend_refuses_non_integral_ids(spark):
    """ADVICE r8: a string id column on the numpy encode path used to
    cast to NULL row-by-row and silently drop every row at the join back
    — refuse with a clear error instead (catalyst keeps any id type)."""
    import numpy as np
    import pytest

    from sum_spark.operators.embeddings import _pq_codes_numpy, product_quantize

    rng = np.random.default_rng(67)
    rows = [(f"doc-{i}", rng.standard_normal(8).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "id string, data array<double>")
    book = {j: rng.standard_normal(8).tolist() for j in range(4)}
    with pytest.raises(TypeError, match="integral id"):
        _pq_codes_numpy(
            df.withColumn("coarse", F.lit(0)), 2, sorted(book.items()), "id", "data"
        ).collect()
    # the catalyst path accepts the same frame
    codes, _ = product_quantize(
        df, m=2, k=4, id_col="id", vec_col="data", centroids=book
    )
    assert codes.count() == 50


def test_pq_serve_context_reuse(spark, tmp_path):
    """pq_serve_context reuses loaded books/index across repeated
    serves of an UNCHANGED index and rebuilds when the on-disk
    generation changes."""
    import numpy as np

    import sum_spark.operators.similarity as S

    rng = np.random.default_rng(71)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(200)],
        "id long, data array<double>",
    )
    p = str(tmp_path / "pq_lut")
    S.write_pq_index(df, p, m=2, n_codes=8)
    probes = df.where("id <= 2")

    base = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(
                spark, p, probes, k=5, m=2, round_to=4, n_probes=2
            ).collect(),
        )
    )
    assert base

    # serve context: reuse while unchanged, same results through it
    cache: dict = {}
    ctx = S.pq_serve_context(spark, p, cache=cache)
    idx_obj = ctx["idx"]
    via_ctx = sorted(
        map(
            tuple,
            S.knn_ivfpq_from_index(
                spark, p, probes, k=5, m=2, round_to=4, n_probes=2,
                serve_ctx=S.pq_serve_context(spark, p, cache=cache),
            ).collect(),
        )
    )
    assert via_ctx == base
    assert S.pq_serve_context(spark, p, cache=cache)["idx"] is idx_obj
    # a mutation (retire) changes the generation -> context rebuilds and
    # the served result reflects the netted index
    S.retire_from_pq_index(df.where("id % 7 = 0"), p, m=2)
    ctx2 = S.pq_serve_context(spark, p, cache=cache)
    assert ctx2["idx"] is not idx_obj
    after = S.knn_ivfpq_from_index(
        spark, p, probes, k=5, m=2, round_to=4, n_probes=2, serve_ctx=ctx2
    )
    live = {r["id"] for r in after.collect()}
    assert live and all(i % 7 != 0 for i in live)


def test_rerank_driver_bounded_job_contract(spark, tmp_path):
    """VERDICT r9 #2: the driver serve backend's per-call Spark-job
    count is a small CONSTANT (probe collect + candidate raw-vector
    fetch, plus at most a broadcast materialization), with exactly ONE
    extra job on a cold serve — the probed-list code fetch, cached in
    the serve context per on-disk generation so hot lists amortize
    across micro-batches. The composed plan path pays a whole job/stage
    cascade per trigger; this constant bound is the reason the
    streaming ANN sink serves through the driver backend."""
    import numpy as np

    from sum_spark.operators.similarity import (
        knn_ivfpq_rerank,
        pq_serve_context,
        write_pq_index,
    )

    rng = np.random.default_rng(7)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(6).tolist()) for i in range(200)],
        "id long, data array<double>",
    )
    idx = str(tmp_path / "pq_jobs")
    write_pq_index(corpus, idx, m=2, n_codes=8)
    probes = corpus.where("id < 3")
    sc = spark.sparkContext
    cache: dict = {}
    ctx = pq_serve_context(spark, idx, cache=cache)

    def jobs(tag):
        sc.setJobGroup(tag, tag)
        try:
            knn_ivfpq_rerank(
                spark, idx, corpus, probes, k=4, c=10, m=2,
                serve_backend="driver", serve_ctx=ctx,
            )
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    cold = jobs("rr-driver-cold")
    warm = jobs("rr-driver-warm")
    warm2 = jobs("rr-driver-warm2")
    # One extra job cold: the probed-list code fetch, then never again
    # for this index generation.
    assert cold - warm == 1, (cold, warm)
    # Warm serves pay a bounded constant — NOT a per-trigger cascade.
    assert warm == warm2 <= 3, (warm, warm2)


def test_rerank_driver_lists_cache_lru_bounded(spark, tmp_path, monkeypatch):
    """VERDICT r9 #3: the serve context's per-coarse-list codes cache is
    LRU-bounded — a long-lived stream probing many DISTINCT lists holds
    the cache under the row cap (while the lists the current serve needs
    are always kept), and results are unchanged vs the plan backend."""
    import numpy as np

    from sum_spark.operators import similarity as sim
    from sum_spark.operators.similarity import (
        knn_ivfpq_rerank,
        pq_serve_context,
        write_pq_index,
    )

    rng = np.random.default_rng(13)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(6).tolist()) for i in range(400)],
        "id long, data array<double>",
    )
    idx = str(tmp_path / "pq_lru")
    # Many coarse cells so successive probe batches hit distinct lists.
    write_pq_index(corpus, idx, m=2, n_codes=8, n_cells=16)
    cap = 60
    monkeypatch.setattr(sim, "_DRIVER_LISTS_CACHE_ROWS", cap)
    cache: dict = {}
    kw = dict(k=4, c=10, m=2, n_probes=2)
    for lo in range(0, 400, 40):
        probes = corpus.where(f"id >= {lo} and id < {lo + 4}")
        ctx = pq_serve_context(spark, idx, cache=cache)
        drv = knn_ivfpq_rerank(
            spark, idx, corpus, probes, serve_backend="driver",
            serve_ctx=ctx, **kw,
        )
        plan = knn_ivfpq_rerank(spark, idx, corpus, probes, **kw)
        assert sorted(map(tuple, drv.collect())) == sorted(
            map(tuple, plan.collect())
        ), lo
        lists = ctx["lists"]
        held = sum(len(v) for v in lists.values())
        # Eviction invariant: either the cache is under the cap, or
        # everything still held was needed by THIS serve (at most
        # |probes| * n_probes = 8 lists — correctness beats the cap).
        if held > cap:
            assert len(lists) <= 8, (lo, held, len(lists))
    # The cache genuinely evicted: far fewer rows than the whole table.
    assert sum(len(v) for v in ctx["lists"].values()) < 400


def test_rerank_backends_agree_on_probe_id_type(spark, tmp_path):
    """ADVICE r9: with a NON-LONG id column the two serve backends must
    emit the SAME output schema — probe_id is LongType by the plan
    path's int() coercion rule ('probe_id long' lut schema survives the
    using-join), and the driver backend mirrors that rule instead of
    echoing probes.schema[id_col]."""
    import numpy as np
    from pyspark.sql.types import LongType

    from sum_spark.operators.similarity import knn_ivfpq_rerank, write_pq_index

    rng = np.random.default_rng(31)
    corpus = spark.createDataFrame(
        [(i, rng.standard_normal(6).tolist()) for i in range(120)],
        "vec_id int, embedding array<double>",
    )
    idx = str(tmp_path / "pq_int_id")
    write_pq_index(corpus, idx, m=2, n_codes=8, id_col="vec_id", vec_col="embedding")
    kw = dict(k=4, c=12, m=2, n_probes=2, id_col="vec_id", vec_col="embedding")
    probes = corpus.where("vec_id < 3")
    plan = knn_ivfpq_rerank(spark, idx, corpus, probes, round_to=4, **kw)
    drv = knn_ivfpq_rerank(
        spark, idx, corpus, probes, round_to=4, serve_backend="driver", **kw
    )
    assert isinstance(plan.schema["probe_id"].dataType, LongType)
    assert [(f.name, f.dataType) for f in drv.schema.fields] == [
        (f.name, f.dataType) for f in plan.schema.fields
    ]
    got_p = sorted((r[0], r[1], round(r[2], 4), r[3]) for r in plan.collect())
    got_d = sorted((r[0], r[1], round(r[2], 4), r[3]) for r in drv.collect())
    assert got_p == got_d


def test_round_half_up_py_matches_spark_round(spark):
    """_round_half_up_py must reproduce F.round on doubles exactly —
    including the .xxx5 shortest-repr midpoints where engines disagree
    (Spark rounds the Double.toString shortest repr via BigDecimal
    HALF_UP; Decimal(repr(x)) is the same shortest repr)."""
    import numpy as np

    from sum_spark.operators.similarity import _round_half_up_py

    rng = np.random.default_rng(17)
    vals = [
        0.0, -0.0, 1.0, -1.0, 0.12345, -0.12345, 0.123450000001,
        0.00005, -0.00005, 0.99995, 2.5e-5, 7.00005, 1e-12, -1e-12,
        0.1 + 0.2,  # classic repr-carrying sum
        *(float(x) for x in rng.standard_normal(200)),
        *(round(float(x), 5) for x in rng.uniform(-1, 1, 100)),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["r"]
        for r in df.select(F.round("x", 4).alias("r")).collect()
    ]
    import struct

    for v, g in zip(vals, got):
        mine = _round_half_up_py(v, 4)
        assert struct.pack("<d", g) == struct.pack("<d", mine), (v, g, mine)


def test_rerank_driver_backend_bit_equals_plan(spark, tmp_path):
    """serve_backend='driver' must return bit-identical rows to the plan
    path — raw and residual indexes, subspaces 4 and 32 wide (numpy's
    pairwise .sum() would differ from the fold past 8), through a
    retire (netting), at round_to=4 and unrounded."""
    import struct

    import numpy as np

    from sum_spark.operators.similarity import (
        knn_ivfpq_rerank,
        pq_serve_context,
        retire_from_pq_index,
        write_pq_index,
    )

    rng = np.random.default_rng(29)
    kw = dict(k=6, c=20, m=2, n_probes=3, id_col="vec_id", vec_col="embedding")

    def packed(df):
        return sorted(
            (r["probe_id"], r["vec_id"], struct.pack("<d", r["sim"]), r["rank"])
            for r in df.collect()
        )

    for d in (8, 64):
        corpus = spark.createDataFrame(
            [(i, rng.standard_normal(d).tolist()) for i in range(300)],
            "vec_id long, embedding array<double>",
        )
        probes = corpus.where("vec_id < 5")
        for tag, res in (("raw", False), ("res", True)):
            idx = str(tmp_path / f"pq_{tag}_{d}")
            write_pq_index(
                corpus, idx, m=2, n_codes=8, id_col="vec_id", vec_col="embedding",
                residual=res, res_iters=2 if res else 0,
            )
            retire_from_pq_index(
                corpus.where("vec_id % 7 = 3"), idx, id_col="vec_id", vec_col="embedding"
            )
            cache: dict = {}
            for rt in (4, None):
                plan = knn_ivfpq_rerank(spark, idx, corpus, probes, round_to=rt, **kw)
                drv = knn_ivfpq_rerank(
                    spark, idx, corpus, probes, round_to=rt, serve_backend="driver",
                    serve_ctx=pq_serve_context(spark, idx, cache=cache),
                    **kw,
                )
                assert packed(plan) == packed(drv), (d, tag, rt)
            # the cached context must invalidate on a further mutation
            retire_from_pq_index(
                corpus.where("vec_id % 11 = 5"), idx, id_col="vec_id", vec_col="embedding"
            )
            plan = knn_ivfpq_rerank(spark, idx, corpus, probes, round_to=4, **kw)
            drv = knn_ivfpq_rerank(
                spark, idx, corpus, probes, round_to=4, serve_backend="driver",
                serve_ctx=pq_serve_context(spark, idx, cache=cache), **kw,
            )
            assert packed(plan) == packed(drv), (d, tag, "post-retire")
