"""Unit tests for BM25 retrieval and int8 embedding quantization."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sum_spark.operators import sampling
from sum_spark.operators.embeddings import quantize_int8
from sum_spark.operators.search import BM25_B, BM25_K1, bm25_search


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark runs fast and spark scales"),
        (2, "the cat sat on the mat"),
        (3, "spark spark spark spark"),
        (4, "window functions in spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_ref(corpus_rows, terms, k1=BM25_K1, b=BM25_B):
    docs = {i: t.split(" ") for i, t in corpus_rows}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    out = {}
    for i, w in docs.items():
        s = 0.0
        for t in terms:
            dft = sum(1 for ww in docs.values() if t in ww)
            idf = math.log(1 + (n - dft + 0.5) / (dft + 0.5))
            tf = float(w.count(t))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(w) / avgdl))
        out[i] = s
    return out


def test_bm25_matches_reference_formula(corpus):
    rows = [(r["doc_id"], r["score"], r["rank"]) for r in
            bm25_search(corpus, ["spark", "cat"], k=10).collect()]
    raw = [(1, "spark runs fast and spark scales"), (2, "the cat sat on the mat"),
           (3, "spark spark spark spark"), (4, "window functions in spark")]
    ref = _bm25_ref(raw, ["spark", "cat"])
    expect = sorted(
        [(i, s) for i, s in ref.items() if s > 0], key=lambda p: (-p[1], p[0])
    )
    assert [(d, round(s, 4)) for d, s, _ in rows] == [
        (d, round(s, 4)) for d, s in expect
    ]
    assert [r for _, _, r in rows] == list(range(1, len(expect) + 1))


def test_bm25_zero_hits_excluded(corpus):
    assert bm25_search(corpus, ["zzz"], k=10).count() == 0


def test_quantize_int8_roundtrip(spark):
    rows = [
        (1, [1.0, -2.0, 0.5, 127.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (3, [-0.001, 0.001, 0.0005, -0.0005]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    r1 = out[1]
    qs = [int(x) for x in r1["q_str"].split(",")]
    assert qs[3] == 127 and qs[1] == -2  # amax element hits +/-127 exactly
    assert max(abs(q) for q in qs) <= 127
    assert r1["max_abs_err"] <= r1["scale"] / 2 + 1e-12
    r2 = out[2]
    assert r2["scale"] == 0.0 and set(r2["q_str"].split(",")) == {"0"}
    assert r2["max_abs_err"] == 0.0
    r3 = out[3]
    assert abs(r3["scale"] - 0.001 / 127) < 1e-12


def test_sample_stratified_deterministic_and_rate(spark):
    from sum_spark.operators.sampling import sample_stratified

    rows = [(i, "src%d" % (i % 2), "t") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out1 = sample_stratified(df, {"src0": 0.5, "src1": 0.0}).collect()
    out2 = sample_stratified(df, {"src0": 0.5, "src1": 0.0}).collect()
    assert out1 == out2  # reproducible
    assert all(r["stratum"] == "src0" for r in out1)  # rate-0 stratum empty
    # ~50% of the 1000 src0 docs, with generous tolerance
    assert 400 <= len(out1) <= 600
    full = sample_stratified(df, {}, default_rate=1.0).count()
    assert full == 2000


def test_sample_exact_k_counts_determinism_nesting(spark):
    from sum_spark.operators.sampling import sample_exact_k

    rows = [(i, "src%d" % (i % 3), "t") for i in range(300)] + [
        (1000 + i, "tiny", "t") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sample_exact_k(df, 10).collect()
    # Exactly min(k, |stratum|) per stratum; pick numbering is 1..n.
    by_s: dict[str, list] = {}
    for r in out:
        by_s.setdefault(r["stratum"], []).append(r)
    assert {s: len(v) for s, v in by_s.items()} == {
        "src0": 10, "src1": 10, "src2": 10, "tiny": 4
    }
    assert sorted(r["pick"] for r in by_s["tiny"]) == [1, 2, 3, 4]
    # Reproducible.
    assert out == sample_exact_k(df, 10).collect()
    # Nested: the k=5 draw is a prefix of the k=10 draw per stratum.
    small = {(r["doc_id"], r["stratum"]) for r in sample_exact_k(df, 5).collect()}
    big = {(r["doc_id"], r["stratum"]) for r in out}
    assert small < big


def test_split_holdout_stable_under_corpus_growth(spark):
    from sum_spark.operators.sampling import split_holdout

    rows = [(i, "t") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["split"] for r in split_holdout(df, 50_000).collect()}
    # Disjoint + exhaustive, roughly 5% holdout.
    assert set(out.values()) <= {"train", "holdout"}
    n_hold = sum(1 for v in out.values() if v == "holdout")
    assert 50 <= n_hold <= 160
    # The contamination guarantee: growing the corpus flips NO doc's split.
    bigger = df.unionAll(
        spark.createDataFrame([(10_000 + i, "t") for i in range(500)], df.schema)
    )
    out2 = {r["doc_id"]: r["split"] for r in split_holdout(bigger, 50_000).collect()}
    assert all(out2[k] == v for k, v in out.items())
    # Different seeds draw independent-looking holdouts (not identical).
    outb = {
        r["doc_id"]: r["split"]
        for r in split_holdout(df, 50_000, seed="fold-1").collect()
    }
    assert outb != out
    # Edge rates: 0 ppm -> all train; 1e6 ppm -> all holdout.
    assert split_holdout(df, 0).where("split = 'holdout'").count() == 0
    assert split_holdout(df, 1_000_000).where("split = 'train'").count() == 0


def test_sample_exact_k_matches_duckdb(spark):
    import duckdb

    from sum_spark.operators.sampling import duck_sample_exact_k_sql, sample_exact_k

    rows = [(i, "s%d" % (i % 5), "t") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = [tuple(r) for r in sample_exact_k(df, 13).collect()]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = con.execute(duck_sample_exact_k_sql(13)).fetchall()
    assert got == [tuple(r) for r in want]


def test_corpus_mixture_shares_sum_to_one(spark):
    from sum_spark.operators.sampling import corpus_mixture

    rows = [(1, "a", "x y z"), (2, "a", "x y"), (3, "b", "x")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["stratum"]: r for r in corpus_mixture(df).collect()}
    assert out["a"]["n_tokens"] == 5 and out["b"]["n_tokens"] == 1
    # ppm shares of an exact partition sum to 1e6 ± 1 (half-up rounding)
    s = out["a"]["token_share_ppm"] + out["b"]["token_share_ppm"]
    assert abs(s - 1_000_000) <= 1
    assert isinstance(out["a"]["token_share_ppm"], int)


def test_corpus_mixture_midpoint_matches_duckdb(spark):
    """token_share_ppm on a repr-half midpoint: 1/128 = 0.0078125 exactly;
    half-up to 6 decimals must give 7813 ppm on BOTH engines. The integer
    emission (VERDICT r3 #1) makes bit-level double divergence impossible —
    this test pins the half-up semantics and the cross-engine equality."""
    import duckdb
    import pandas as pd

    import sum_spark.queries.llm  # noqa: F401 — populates REGISTRY
    from sum_spark.operators.sampling import corpus_mixture
    from sum_spark.queries.base import REGISTRY

    rows = [(1, "a", "w")] + [(2, "b", " ".join(["w"] * 127))]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["stratum"]: r["token_share_ppm"] for r in corpus_mixture(df).collect()}
    assert got["a"] == 7813

    # The registry oracle is now tagged (mode, stratum, n_docs, n_tokens,
    # ppm, weight, planned_tokens); the 'mix' leg's ppm is token_share_ppm.
    oracle = REGISTRY["corpus_mixture"].oracle
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "source", "text"]))
    duck = {r[1]: r[4] for r in con.execute(oracle).fetchall() if r[0] == "mix"}
    assert duck == got


def test_assign_contiguous_ids_matches_global_row_number(spark):
    from sum_spark.operators.sampling import assign_contiguous_ids

    # Skewed, shuffled input across many partitions.
    rows = [(i, (i * 37) % 100) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(16)
    out = assign_contiguous_ids(df, ["v", "k"], num_partitions=8).collect()
    got = sorted((r["sample_id"], r["k"]) for r in out)
    expect = [(i + 1, k) for i, (v, k) in enumerate(sorted((v, k) for k, v in rows))]
    assert [k for _, k in got] == [k for _, k in expect]
    assert [s for s, _ in got] == list(range(1, 5001))  # contiguous, no gaps

    # total_name (r13): the census total rides in as a literal column —
    # exact row count, no extra aggregate pass (q16's denominators).
    out2 = assign_contiguous_ids(
        df, ["v", "k"], num_partitions=8, total_name="__n"
    )
    rows2 = out2.limit(3).collect()
    assert all(r["__n"] == 5000 for r in rows2)
    assert dict(out2.dtypes)["__n"] == "bigint"


def test_decontaminate_planted_overlap(spark):
    from sum_spark.operators.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares the 3-gram "beta gamma delta" (and more) with bench
            (1, "xx beta gamma delta epsilon yy"),
            # no 3-gram overlap
            (2, "one two three four five six"),
            # shares exactly one distinct 3-gram
            (3, "alpha beta gamma nothing else here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in decontaminate(corpus, bench, n=3).collect()}
    # doc1 distinct contaminated 3-grams: "beta gamma delta", "gamma delta epsilon"
    assert got == {1: 2, 3: 1}


def test_decontaminate_accepts_precomputed_benchmark_hashes(spark):
    """The streaming corpus-state sink decontaminates every micro-batch
    against the SAME static benchmark; ``benchmark_hashes`` lets it hash
    the benchmark once (VERDICT r9 #4) — results must equal the
    hash-it-here path exactly, and omitting both sides must raise."""
    import pytest

    from sum_spark.operators.decontam import _shingle_hashes, decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, "xx beta gamma delta epsilon yy"), (2, "one two three four")],
        "doc_id long, text string",
    )
    pre = _shingle_hashes(bench, 3, "text", None).distinct()
    via_df = sorted(map(tuple, decontaminate(corpus, bench, n=3).collect()))
    via_hashes = sorted(
        map(
            tuple,
            decontaminate(corpus, None, n=3, benchmark_hashes=pre).collect(),
        )
    )
    assert via_df == via_hashes and via_df
    with pytest.raises(ValueError, match="benchmark"):
        decontaminate(corpus, None, n=3)


def test_decontaminate_broadcasts_benchmark(spark):
    import contextlib
    import io

    from sum_spark.operators.decontam import decontaminate

    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "a b c x")], "doc_id long, text string")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        decontaminate(corpus, bench).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_matches_naive_cumsum(spark):
    from sum_spark.operators.sampling import pack_sequences

    rows = [(i, " ".join(["w"] * (7 + 13 * i % 29))) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["pack_id"])
        for r in pack_sequences(df, budget=50).collect()
    }
    cum = 0
    for i, t in rows:
        n = len(t.split(" "))
        assert got[i] == (n, cum // 50), f"doc {i}"
        cum += n


def test_pack_sequences_pack_ids_nondecreasing(spark):
    from sum_spark.operators.sampling import pack_sequences

    rows = [(i, " ".join(["t"] * ((i * 31) % 17 + 1))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, budget=64).orderBy("doc_id").collect()
    packs = [r["pack_id"] for r in out]
    assert packs == sorted(packs)
    assert packs[0] == 0


def test_global_shuffle_permutation_and_seed(spark):
    from sum_spark.operators.sampling import global_shuffle

    df = spark.createDataFrame([(i,) for i in range(1, 101)], "doc_id long")
    a = global_shuffle(df, seed="s1").collect()
    assert sorted(r["shuffle_pos"] for r in a) == list(range(1, 101))
    # deterministic: same seed -> same order
    a2 = global_shuffle(df, seed="s1").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in a2]
    # different seed -> (overwhelmingly) different order
    b = global_shuffle(df, seed="s2").collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in b]
    # and not the identity order
    assert [r["doc_id"] for r in a] != list(range(1, 101))


def test_l2_normalize_unit_norm_and_zero_rule(spark):
    from sum_spark.operators.embeddings import l2_normalize

    rows = [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in l2_normalize(df).collect()}
    assert abs(out[1]["norm"] - 5.0) < 1e-12
    assert [round(x, 6) for x in out[1]["unit"]] == [0.6, 0.8]
    assert out[2]["norm"] == 0.0 and out[2]["unit"] == [0.0, 0.0]
    assert out[3]["unit"] == [1.0, 0.0]


def test_mean_pool_values_and_fixed_point_layout_invariance(spark):
    from sum_spark.operators.embeddings import mean_pool

    rows = [
        (1, 0, [1.0, 2.0]),
        (2, 0, [3.0, 6.0]),
        (3, 1, [10.0, 20.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    pooled = {r["group"]: r for r in mean_pool(df).collect()}
    assert pooled[0]["n_vecs"] == 2 and pooled[0]["pooled"] == [2.0, 4.0]
    assert pooled[1]["pooled"] == [10.0, 20.0]

    # fixed-point mode: integer micro-unit SUMS, identical under
    # adversarially different partition layouts (the double path cannot
    # guarantee this across layouts; the integer path must).
    fp_a = [
        tuple(r)
        for r in mean_pool(df.coalesce(1), fixed_point=6).orderBy("group").collect()
    ]
    fp_b = [
        tuple(r)
        for r in mean_pool(df.repartition(7, "vec_id"), fixed_point=6)
        .orderBy("group")
        .collect()
    ]
    assert fp_a == fp_b
    assert fp_a[0][2] == [4_000_000, 8_000_000]  # sums of 1e-6 units


def test_plan_mixture_hits_target_and_caps_binding_stratum(spark, sf_smoke):
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    weights = {f"src{i}": 1 + (i % 3) for i in range(20)}
    weights["src5"] = 0  # explicit zero: plan must exclude it
    plan = {r["stratum"]: r for r in sampling.plan_mixture(docs, weights).collect()}
    assert plan["src5"]["rate_ppm"] == 0 and plan["src5"]["planned_tokens"] == 0
    rates = [r["rate_ppm"] for r in plan.values()]
    assert max(rates) >= 999_990 and all(rp <= 1_000_000 for rp in rates)
    # Achieved mixture matches the target within integer-floor slack.
    W = sum(weights.values())
    tot = sum(r["planned_tokens"] for r in plan.values())
    for s, r in plan.items():
        target = weights.get(s, 0) / W
        achieved = r["planned_tokens"] / tot
        assert abs(achieved - target) < 5e-3, (s, target, achieved)


def test_plan_mixture_rejects_bad_weights(spark, sf_smoke):
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.plan_mixture(docs, {})
    with _pytest.raises(ValueError):
        sampling.plan_mixture(docs, {"src0": -1})
    with _pytest.raises(ValueError):
        sampling.plan_mixture(docs, {"src0": 0})


def test_plan_mixture_executes_via_stratified_sampling(spark, sf_smoke):
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    weights = {"src0": 3, "src1": 1}
    plan = {r["stratum"]: r for r in sampling.plan_mixture(docs, weights).collect()}
    rates = {s: r["rate_ppm"] / 1e6 for s, r in plan.items()}
    picked = sampling.sample_stratified(docs, rates, default_rate=0.0)
    got = {
        r["stratum"]: r["n"]
        for r in picked.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert set(got) <= {"src0", "src1"}  # rate-0 strata are gone
    assert got.get("src0", 0) > 0


def test_plan_mixture_exact_integer_cases(spark):
    # Hand-checkable arithmetic. Two strata, equal weights, 100x token
    # skew: capacity binds on the small stratum (rate 1), the large one
    # downsamples to exactly its tokens' worth of the 50/50 target.
    df = spark.createDataFrame(
        [(1, "a", " ".join(["w"] * 100)), (2, "b", " ".join(["w"] * 10000))],
        "doc_id long, source string, text string",
    )
    plan = {r["stratum"]: r for r in sampling.plan_mixture(df, {"a": 1, "b": 1}).collect()}
    assert plan["a"]["rate_ppm"] == 1_000_000 and plan["a"]["planned_tokens"] == 100
    assert plan["b"]["rate_ppm"] == 10_000 and plan["b"]["planned_tokens"] == 100
    # Single weighted stratum: rate exactly 1, planned = all its tokens;
    # the unweighted stratum plans to zero.
    plan2 = {r["stratum"]: r for r in sampling.plan_mixture(df, {"b": 5}).collect()}
    assert plan2["b"]["rate_ppm"] == 1_000_000 and plan2["b"]["planned_tokens"] == 10000
    assert plan2["a"]["rate_ppm"] == 0 and plan2["a"]["weight"] == 0


def test_random_project_deterministic_and_jl(spark, sf_smoke):
    import numpy as np

    from sum_spark.operators.embeddings import random_project
    from sum_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings").limit(100)
    a = {r["vec_id"]: r["proj"] for r in random_project(emb, 16).collect()}
    b = {r["vec_id"]: r["proj"] for r in random_project(emb.repartition(7), 16).collect()}
    assert a == b  # deterministic planes, layout-proof
    assert all(len(v) == 16 for v in a.values())
    # JL sanity: squared distances preserved in aggregate (not per-pair).
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in emb.collect()}
    ids = sorted(orig)[:40]
    do, dp = [], []
    for i in range(0, len(ids) - 1, 2):
        x, y = ids[i], ids[i + 1]
        do.append(float(((orig[x] - orig[y]) ** 2).sum()))
        dp.append(float(((np.array(a[x]) - np.array(a[y])) ** 2).sum()))
    ratio = sum(dp) / sum(do)
    assert 0.5 < ratio < 2.0  # k=16 of d=64: loose JL band, deterministic data


def test_random_project_is_map_side(spark, sf_smoke):
    from sum_spark.operators.embeddings import random_project
    from sum_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    plan = random_project(emb, 8)._jdf.queryExecution().executedPlan().toString()
    # The single Exchange is the final orderBy's range partitioning; no
    # join/aggregate shuffle feeds the projection itself.
    assert plan.count("Exchange") <= 1


def test_temperature_weights_shape_and_limits(spark, sf_smoke):
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    # T=1: weights proportional to token counts -> plan keeps (almost)
    # everything; integer weight rounding can shave a few ppm.
    w1 = sampling.temperature_weights(docs, temperature=1.0)
    plan1 = sampling.plan_mixture(docs, w1)
    assert all(r["rate_ppm"] >= 999_900 for r in plan1.collect())
    # Large T: flattens toward uniform -> every stratum plans ~the
    # smallest stratum's token mass; the largest downsamples hardest.
    w_flat = sampling.temperature_weights(docs, temperature=1e9)
    assert len(set(w_flat.values())) == 1
    plan_flat = {r["stratum"]: r for r in sampling.plan_mixture(docs, w_flat).collect()}
    planned = [r["planned_tokens"] for r in plan_flat.values()]
    assert max(planned) - min(planned) <= max(planned) * 0.01
    big = max(plan_flat.values(), key=lambda r: r["n_tokens"])
    assert big["rate_ppm"] < 1_000_000
    # Intermediate T orders between the two: bigger strata keep larger
    # weight than uniform, smaller than proportional.
    w2 = sampling.temperature_weights(docs, temperature=2.0)
    s_big = max(w1, key=w1.get)
    s_small = min(w1, key=w1.get)
    assert w_flat[s_big] / w_flat[s_small] <= w2[s_big] / w2[s_small] <= w1[s_big] / w1[s_small]
    with pytest.raises(ValueError):
        sampling.temperature_weights(docs, temperature=0.0)


def test_product_quantize_codes(spark):
    """PQ codes: m entries per vector, each a trained codebook id; twin
    vectors get identical codes; subspace codes derive from the right
    slice (two vectors equal in subspace 0 but wildly different in
    subspace 1 share code[0])."""
    import numpy as np

    from sum_spark.operators.embeddings import product_quantize

    rng = np.random.default_rng(3)
    d = 8
    base = rng.standard_normal(d)
    rows = [(i, rng.standard_normal(d).tolist()) for i in range(40)]
    rows.append((100, base.tolist()))
    rows.append((101, base.tolist()))  # exact twin of 100
    half = base.copy()
    half[d // 2 :] += 50.0  # same first half, far-off second half
    rows.append((102, half.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    codes, book = product_quantize(df, m=2, k=4)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert all(len(c) == 2 for c in got.values())
    valid = set(book)
    assert all(c in valid for cs in got.values() for c in cs)
    assert got[100] == got[101]
    # NOTE: 102 participates in codebook training, so codebooks shift a
    # little — but its subspace-0 slice equals 100's, so code[0] matches.
    assert got[102][0] == got[100][0]

    with pytest.raises(ValueError, match="not divisible"):
        product_quantize(df, m=3)


def test_top_k_per_group_matches_reference(spark, sf_smoke):
    """Generic per-group top-k equals a direct Python selection under the
    same total order, with correct ranks."""
    from sum_spark.operators.sampling import top_k_per_group
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "n_chars"
    )
    got = {
        (r["source"], r["doc_id"]): r["rank"]
        for r in top_k_per_group(
            docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id")], 3
        ).collect()
    }
    by_src: dict[str, list] = {}
    for r in docs.collect():
        by_src.setdefault(r["source"], []).append((-r["n_chars"], r["doc_id"]))
    expected = {}
    for src, rows in by_src.items():
        for i, (_, did) in enumerate(sorted(rows)[:3], 1):
            expected[(src, did)] = i
    assert got == expected and got


def test_sample_weighted_k_determinism_nesting_and_clamp(spark):
    from sum_spark.operators.sampling import sample_weighted_k

    df = spark.createDataFrame(
        [(i, "s", 1 + i % 4) for i in range(60)],
        "doc_id long, source string, weight long",
    )
    out = sample_weighted_k(df, 10)
    rows = out.collect()
    assert len(rows) == 10
    assert sorted(r["pick"] for r in rows) == list(range(1, 11))
    # deterministic + layout-invariant (integer hashes, no floats)
    again = sample_weighted_k(df.repartition(7, "doc_id"), 10).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # nested: k=5 sample is a prefix of k=10 (same priorities)
    small = {r["doc_id"] for r in sample_weighted_k(df, 5).collect()}
    big_by_pick = {r["pick"]: r["doc_id"] for r in rows}
    assert small == {big_by_pick[p] for p in range(1, 6)}
    # weight <= 0 clamps to 1 replica, not zero (every row drawable)
    zero = spark.createDataFrame(
        [(1, "s", 0), (2, "s", -5)], "doc_id long, source string, weight long"
    )
    assert sample_weighted_k(zero, 2).count() == 2


def test_sample_weighted_k_uniform_weights_reduce_to_hash_order(spark):
    """With w=1 everywhere, each row has exactly one replica, so the
    draw is the k smallest single hashes — the plain uniform draw."""
    from pyspark.sql import functions as F

    from sum_spark.functions.hashing import hash60
    from sum_spark.operators.sampling import sample_weighted_k

    df = spark.createDataFrame(
        [(i, "s", 1) for i in range(50)], "doc_id long, source string, weight long"
    )
    got = {r["doc_id"] for r in sample_weighted_k(df, 8, seed="u").collect()}
    h = hash60(F.concat(F.lit("u:"), F.col("doc_id").cast("string"), F.lit(":0")))
    want = {
        r["doc_id"]
        for r in df.select("doc_id", h.alias("h")).orderBy("h", "doc_id").limit(8).collect()
    }
    assert got == want


def test_sample_weighted_k_favors_heavy_rows(spark):
    """Across many independent seeds, weight-8 rows must be picked far
    more often than weight-1 rows (exact deterministic counts — no
    randomness in the assertion)."""
    from sum_spark.operators.sampling import sample_weighted_k

    df = spark.createDataFrame(
        [(i, "s", 8 if i < 10 else 1) for i in range(50)],
        "doc_id long, source string, weight long",
    )
    heavy = light = 0
    for s in range(20):
        for r in sample_weighted_k(df, 5, seed=f"t{s}").collect():
            if r["doc_id"] < 10:
                heavy += 1
            else:
                light += 1
    # heavy rows hold 80/120 replicas; expect ~2/3 of picks, require >1/2
    assert heavy > (heavy + light) // 2, (heavy, light)


def test_sample_weighted_k_per_stratum(spark):
    """per_stratum=True draws k per stratum (the weighted fixed-budget
    twin of sample_exact_k), compiles to WindowGroupLimit, and each
    stratum's draw equals the global draw restricted to that stratum's
    rows (priorities are per-row, independent of other strata)."""
    from sum_spark.operators.sampling import sample_weighted_k

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", 1 + i % 4) for i in range(60)],
        "doc_id long, source string, weight long",
    )
    out = sample_weighted_k(df, 4, per_stratum=True)
    rows = out.collect()
    by_s = {}
    for r in rows:
        by_s.setdefault(r["stratum"], []).append(r)
    assert set(by_s) == {"s0", "s1", "s2"}
    for s, grp in by_s.items():
        assert sorted(r["pick"] for r in grp) == [1, 2, 3, 4]
        solo = sample_weighted_k(df.where(F.col("source") == s), 4).collect()
        assert sorted((r["doc_id"], r["pick"]) for r in grp) == sorted(
            (r["doc_id"], r["pick"]) for r in solo
        )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()


@pytest.mark.parametrize("n_probes", [1, 3])
def test_knn_ivf_kmeans_probe_side_matches_column_reference(spark, n_probes):
    """knn_ivf_kmeans picks each probe's lists with assign_clusters_topp's
    catalyst fold; its rows must be bit-equal to the Column-API
    (distance, id) struct sort it replaced, at d=64 (past numpy's
    pairwise-sum width) with a duplicate centroid for a tie."""
    import struct

    import numpy as np
    from pyspark.sql import Window as W

    from sum_spark.functions.vector import cosine
    from sum_spark.operators.clustering import assign_clusters
    from sum_spark.operators.similarity import knn_ivf_kmeans

    rng = np.random.default_rng(64)
    d = 64
    recs = spark.createDataFrame(
        [(i, rng.standard_normal(d).tolist()) for i in range(120)],
        "id long, data array<double>",
    )
    cents = {j: rng.standard_normal(d).tolist() for j in range(6)}
    cents[6] = list(cents[2])
    probes = recs.where("id < 6")
    got = knn_ivf_kmeans(recs, probes, 7, cents, n_probes=n_probes)

    cent_lit = F.array(
        *[
            F.struct(
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
                F.lit(int(j)).cast("long").alias("j"),
            )
            for j, c in sorted(cents.items())
        ]
    )
    pv = F.col("data").cast("array<double>")
    ranked = F.slice(
        F.array_sort(
            F.transform(
                cent_lit,
                lambda s: F.struct(
                    F.aggregate(
                        F.zip_with(pv, s["c"], lambda x, c: (x - c) * (x - c)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    s["j"].alias("j"),
                ),
            )
        ),
        1,
        n_probes,
    )
    p = probes.select(
        F.col("id").alias("probe_id"),
        F.col("data").alias("__pv"),
        F.explode(F.transform(ranked, lambda s: s["j"])).alias("__cluster"),
    )
    r = assign_clusters(recs, cents, id_col="id", vec_col="data", cluster_col="__cluster")
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("id"))
    want = (
        r.join(F.broadcast(p), "__cluster")
        .where(F.col("id") != F.col("probe_id"))
        .select("probe_id", "id", cosine(F.col("data"), F.col("__pv")).alias("sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 7)
    )

    def packed(df):
        return sorted(
            (r["probe_id"], r["id"], struct.pack("<d", r["sim"]), r["rank"])
            for r in df.collect()
        )

    rows = packed(want)
    assert packed(got) == rows and rows


def test_knn_ivfpq_large_book_equals_from_index(spark, tmp_path):
    """In-flight knn_ivfpq with a book past _LARGE_K encodes through the
    same GEMM path as write_pq_index, so its rows (adc by its bits)
    equal knn_ivfpq_from_index over an index written with that book."""
    import numpy as np

    from sum_spark.operators.similarity import (
        _LARGE_K,
        knn_ivfpq,
        knn_ivfpq_from_index,
        write_pq_index,
    )

    rng = np.random.default_rng(100)
    d = 8
    recs = spark.createDataFrame(
        [(i, rng.standard_normal(d).tolist()) for i in range(400)],
        "id long, data array<double>",
    )
    book = {j: rng.standard_normal(d).tolist() for j in range(100)}
    assert len(book) > _LARGE_K
    probes = recs.where("id < 8")
    path = str(tmp_path / "pq_large")
    write_pq_index(recs, path, m=2, centroids=book)

    def rows(df):
        return sorted(
            (r["probe_id"], r["id"], r["adc"].hex(), r["rank"]) for r in df.collect()
        )

    inflight = rows(knn_ivfpq(recs, probes, k=5, m=2, centroids=book))
    assert inflight
    assert inflight == rows(knn_ivfpq_from_index(spark, path, probes, k=5, m=2))
