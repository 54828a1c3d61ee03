"""Payload (gzip contract), server info, and scale-utility tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sum_spark.payload import GZIP_THRESHOLD, build_payload, info
from sum_spark.plans.scale import bucketize_table, salted_join
from sum_spark.registry import QueryRegistry
from sum_spark.sources.tables import load_table


# -- payload contract (service.go:21-23, 106-124) ---------------------------


def test_small_payload_uncompressed():
    p = build_payload({"1": 0.99})
    assert not p.compressed
    assert p.decode() == {"1": 0.99}


def test_large_payload_gzipped():
    big = {str(i): i * 0.5 for i in range(1000)}
    p = build_payload(big)
    assert p.compressed
    assert len(p.data) < GZIP_THRESHOLD * 4  # actually compressed
    assert p.decode() == big


def test_threshold_is_exclusive():
    # exactly-threshold payloads stay uncompressed (len > threshold rule)
    filler = "x" * (GZIP_THRESHOLD - 2)
    p = build_payload(filler)
    assert len(p.data) == GZIP_THRESHOLD  # '"' + filler + '"'
    assert not p.compressed


def test_info(spark, sf_smoke):
    reg = QueryRegistry()
    reg.create(lambda: 1, name="one")
    emb = load_table(spark, sf_smoke, "embeddings")
    out = info(spark, records_df=emb, registry=reg)
    assert out["records"] > 0 and out["oracles"] == 1


# -- scale utilities ---------------------------------------------------------


def test_salted_join_matches_plain_join(spark, sf_smoke):
    orders = load_table(spark, sf_smoke, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customer, "o_custkey").count()
    salted = salted_join(orders, customer, "o_custkey", salt=4).count()
    assert salted == plain


def test_bucketized_join_has_no_shuffle(spark, sf_smoke):
    orders = load_table(spark, sf_smoke, "orders").select("o_custkey", "o_totalprice")
    customer = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    # Disable auto-broadcast so the test observes the bucketed (shuffle-free
    # sort-merge) path rather than a broadcast join.
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketize_table(orders, "t_orders_b", "o_custkey", buckets=8)
        bucketize_table(customer, "t_customer_b", "o_custkey", buckets=8)
        joined = spark.table("t_orders_b").join(spark.table("t_customer_b"), "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucket-to-bucket join: no Exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == orders.join(customer, "o_custkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_salted_right_join_preserves_unmatched_right_rows(spark):
    left = spark.createDataFrame([(1, "l1")], "k long, lv string")
    right = spark.createDataFrame([(1, "r1"), (2, "r2")], "k long, rv string")
    out = salted_join(left, right, "k", salt=4, how="right").collect()
    # r2 is unmatched: exactly ONE null-padded row, not one per salt replica
    assert sorted((r["k"], r["lv"], r["rv"]) for r in out) == [
        (1, "l1", "r1"),
        (2, None, "r2"),
    ]


def test_salted_join_rejects_full(spark):
    import pytest

    df = spark.range(2).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(df, df, "k", how="full")


def test_gzip_payload_deterministic_and_zero_mtime():
    big = {str(i): i * 0.5 for i in range(1000)}
    a, b = build_payload(big), build_payload(big)
    assert a.compressed and a.data == b.data  # mtime=0 -> byte-stable
    assert a.data[4:8] == b"\x00\x00\x00\x00"  # gzip header MTIME field


def test_info_memory_stats(spark):
    out = info(spark)
    mem = out["memory"]
    assert mem is not None
    assert mem["heap_used_bytes"] > 0
    assert mem["heap_max_bytes"] >= mem["heap_used_bytes"]
    assert mem["cached_memory_bytes"] >= 0 and mem["cached_disk_bytes"] >= 0


def test_range_partitioned_lead_matches_global_window(spark):
    """Distributed LEAD (range partition + boundary stitch) must equal the
    single-task global-window LEAD on data with gaps and shuffled input."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sum_spark.plans.scale import range_partitioned_lead

    # Non-contiguous keys (gaps!), multiple value columns, shuffled.
    rows = [(k * 7 % 1009, [float(k), float(k) + 0.5], "s%d" % k) for k in range(600)]
    df = spark.createDataFrame(rows, "k long, v array<double>, s string").repartition(16)

    expect = {
        r["k"]: (r["lv"], r["ls"])
        for r in df.select(
            "k",
            F.lead("v").over(W.orderBy("k")).alias("lv"),
            F.lead("s").over(W.orderBy("k")).alias("ls"),
        ).collect()
    }
    got = {
        r["k"]: (r["__lead_v"], r["__lead_s"])
        for r in range_partitioned_lead(df, "k", ["v", "s"], num_partitions=7).collect()
    }
    assert got == expect
    # The whole point: no Exchange SinglePartition in the plan.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        range_partitioned_lead(df, "k", ["v"], num_partitions=7).explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_contiguous_ids_stable_under_downstream_window(spark):
    """Regression (round 3): spark_partition_id-based ids were evaluated
    per plan-branch; when a downstream window broke AQE exchange reuse,
    the offsets branch and the data branch could coalesce differently and
    silently corrupt the ids. Round 10 removed the hazard at the root —
    placement groups by a MONOTONE DATA-DERIVED bucket (_monotone_bucket),
    so no physical-layout value exists for branches to disagree on — and
    this test keeps pinning the user-visible property: composing with
    further windows is deterministic and the ids are true global ranks."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from sum_spark.operators.sampling import assign_contiguous_ids

    rows = [((i * 131) % 3001, i % 50, float(i)) for i in range(3000)]
    df = spark.createDataFrame(rows, "k long, grp long, v double").repartition(16)

    def run():
        g = assign_contiguous_ids(df, ["v", "k"], id_name="gid")
        w = W.partitionBy("grp").orderBy(F.col("v").desc(), "k")
        return {
            r["k"]: (r["gid"], r["rn"])
            for r in g.select("k", "gid", F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= 3)
            .collect()
        }

    a, b = run(), run()
    assert a == b  # deterministic across evaluations
    # and the ids are the true global ranks
    expect_gid = {
        k: i + 1
        for i, (v, k) in enumerate(sorted((v, k) for k, _, v in rows))
    }
    assert all(gid == expect_gid[k] for k, (gid, _) in a.items())


def test_monotone_bucket_placement_edge_keys(spark):
    """_monotone_bucket edge cases through the public placement ops:
    a CONSTANT leading key (every row one bucket — ties fall to the
    tiebreak column), NEGATIVE ids spanning zero (the integer DIV
    bucketing must stay monotone across the sign change), and a tiny
    frame (rows << buckets). pack_sequences must cover every input row
    with contiguous budget rollover in all three."""
    from sum_spark.operators.sampling import assign_contiguous_ids, pack_sequences

    # constant leading key, unique tiebreak
    const = spark.createDataFrame(
        [(0.5, i) for i in range(40)], "v double, k long"
    ).repartition(7)
    got = {
        r["k"]: r["gid"]
        for r in assign_contiguous_ids(const, ["v", "k"], id_name="gid").collect()
    }
    assert got == {i: i + 1 for i in range(40)}

    # negative ids spanning zero
    neg = spark.createDataFrame(
        [(i, "w " * 5) for i in range(-25, 25)], "doc_id long, text string"
    ).repartition(5)
    rows = pack_sequences(neg, budget=7).collect()
    assert [r["doc_id"] for r in rows] == list(range(-25, 25))
    # ids in order, running token sum DIV budget: recompute exactly
    cum = 0
    for r in rows:
        assert r["pack_id"] == cum // 7, r
        cum += r["n_tokens"]

    # tiny frame (fewer rows than buckets)
    tiny = spark.createDataFrame([(3, "a b"), (9, "c")], "doc_id long, text string")
    t = {r["doc_id"]: (r["n_tokens"], r["pack_id"]) for r in pack_sequences(tiny, 100).collect()}
    assert t == {3: (2, 0), 9: (1, 0)}


def test_monotone_bucket_null_keys_survive_and_sort_first(spark):
    """ADVICE r10 (medium): NULL leading order keys used to yield a NULL
    __b — the offsets equi-join silently DROPPED those rows on the
    integer path, and the float path misordered them into bucket n-1.
    NULLs must (a) survive, (b) take the NULLS-FIRST ranks the window's
    ORDER BY semantics promise, on both the integer and float paths."""
    from pyspark.sql import functions as F

    from sum_spark.operators.sampling import assign_contiguous_ids

    # integer path: 60 rows, every third key NULL
    rows = [(None if i % 3 == 0 else (i * 37) % 1000, i) for i in range(60)]
    df = spark.createDataFrame(rows, "k long, t long").repartition(8)
    got = assign_contiguous_ids(df, ["k", "t"], id_name="gid")
    assert got.count() == 60  # no silent row loss
    by_t = {r["t"]: r["gid"] for r in got.collect()}
    expect = {
        t: i + 1
        for i, (k, t) in enumerate(
            sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
        )
    }
    assert by_t == expect

    # float path: same contract
    frows = [(None if i % 4 == 0 else float((i * 13) % 97), i) for i in range(40)]
    fdf = spark.createDataFrame(frows, "k double, t long").repartition(8)
    fgot = assign_contiguous_ids(fdf, ["k", "t"], id_name="gid")
    assert fgot.count() == 40
    fby_t = {r["t"]: r["gid"] for r in fgot.collect()}
    fexpect = {
        t: i + 1
        for i, (k, t) in enumerate(
            sorted(frows, key=lambda r: (r[0] is not None, r[0] or 0.0, r[1]))
        )
    }
    assert fby_t == fexpect

    # all-NULL key column: every row lands in the NULL bucket, tiebreak
    # column alone determines the ranks
    nrows = [(None, i) for i in range(10)]
    ndf = spark.createDataFrame(nrows, "k long, t long")
    ngot = {r["t"]: r["gid"] for r in assign_contiguous_ids(ndf, ["k", "t"], id_name="gid").collect()}
    assert ngot == {i: i + 1 for i in range(10)}


def test_monotone_bucket_skew_refinement_bounds_hot_buckets(spark):
    """VERDICT r10 #1: equi-width buckets degenerate on lumpy keys (half
    the corpus in one key decile -> one bucket -> single-task sort). The
    refinement must (a) keep ranks exact on every distribution, and (b)
    bound the max bucket population at _HOT_FACTOR x the equi-depth
    target whenever buckets are splittable (multi-key)."""
    from sum_spark.operators.sampling import (
        _HOT_FACTOR,
        _monotone_bucket,
        assign_contiguous_ids,
    )

    n = 8

    def check(keys, expect_bounded):
        rows = [(k, i) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "k long, t long").repartition(7)
        d, bcol, counts = _monotone_bucket(df.select("k", "t"), "k", n)
        assert sum(counts.values()) == len(rows)  # census is exact
        # the histogram matches the frame's actual final buckets
        actual = {
            r[bcol]: r["c"]
            for r in d.groupBy(bcol).count().withColumnRenamed("count", "c").collect()
        }
        assert counts == actual
        target = -(-len(rows) // n)
        if expect_bounded:
            assert max(counts.values()) <= _HOT_FACTOR * target, counts
        got = {
            r["t"]: r["gid"]
            for r in assign_contiguous_ids(df, ["k", "t"], id_name="gid").collect()
        }
        want = {
            t: i + 1
            for i, (k, t) in enumerate(sorted(rows))
        }
        assert got == want

    # 95% of keys inside [0, 100), 5% spread over [0, 1e9): the round-10
    # form put ~95% of rows in bucket 0
    lumpy = [((i * 37) % 100) * 3 + i % 3 for i in range(1900)] + [
        (i * 104729) % (10**9) for i in range(100)
    ]
    check(lumpy, expect_bounded=True)

    # Zipf-ish: key = 10^6 // rank — heavy mass at the large end
    zipf = [10**6 // (1 + (i % 500)) for i in range(2000)]
    check(zipf, expect_bounded=True)

    # Half the corpus is ONE key value: irreducible (min == max inside
    # the hot bucket) — ranks must still be exact, boundedness waived
    const_hot = [5] * 1000 + [(i * 9973) % (10**9) for i in range(1000)]
    check(const_hot, expect_bounded=False)

    # float path with the same lumpy shape
    frows = [(float(k), i) for i, k in enumerate(lumpy)]
    fdf = spark.createDataFrame(frows, "k double, t long").repartition(7)
    _, _, fcounts = _monotone_bucket(fdf, "k", n)
    ftarget = -(-len(frows) // n)
    assert max(fcounts.values()) <= _HOT_FACTOR * ftarget, fcounts
    fgot = {
        r["t"]: r["gid"]
        for r in assign_contiguous_ids(fdf, ["k", "t"], id_name="gid").collect()
    }
    fwant = {t: i + 1 for i, (k, t) in enumerate(sorted(frows))}
    assert fgot == fwant


def test_monotone_bucket_nan_and_infinity_keys(spark):
    """Float specials through the placement: Spark sorts NaN LAST
    (greater than any double) and +-Inf at the extremes; the bucket
    quantization must agree with the window's ORDER BY on all of them.
    NaN lands in the last bucket via F.least's NaN semantics; -Inf
    collapses the quantization to one bucket (width = inf) — degraded
    parallelism, still exact ranks."""
    import math

    from sum_spark.operators.sampling import assign_contiguous_ids

    vals = [3.5, -2.0, 0.0, 7.25, -100.5, 42.0]
    rows = (
        [(v, i) for i, v in enumerate(vals)]
        + [(float("inf"), 100), (float("-inf"), 101)]
        + [(float("nan"), 102), (float("nan"), 103)]
    )
    df = spark.createDataFrame(rows, "k double, t long").repartition(5)
    got = {
        r["t"]: r["gid"]
        for r in assign_contiguous_ids(df, ["k", "t"], id_name="gid").collect()
    }
    expect_order = sorted(
        rows, key=lambda r: (math.isnan(r[0]), 0.0 if math.isnan(r[0]) else r[0], r[1])
    )
    assert got == {t: i + 1 for i, (k, t) in enumerate(expect_order)}
    assert len(got) == len(rows)  # no row lost


def test_pack_sequences_pipeline_frame_memoized_per_session(spark, sf_smoke):
    """VERDICT r10 #5: the pack_sequences query's pipeline leg pays real
    eager prep at construction (signature persists, cluster collect) —
    a deployment pays that once per corpus snapshot, so the query fn
    memoizes the prepared frame per (session, sf_dir). Rebuilding must
    not occur on a second construction, and the result must be
    identical through the memo."""
    from sum_spark.queries import REGISTRY, llm

    llm._PIPE_MEMO.clear()
    try:
        df1 = REGISTRY["pack_sequences"].fn(spark, sf_smoke)
        rows1 = sorted(map(tuple, df1.collect()))
        assert len(llm._PIPE_MEMO) == 1
        key, frame = next(iter(llm._PIPE_MEMO.items()))
        assert key[1] == sf_smoke
        df2 = REGISTRY["pack_sequences"].fn(spark, sf_smoke)
        assert llm._PIPE_MEMO[key] is frame  # no rebuild
        assert sorted(map(tuple, df2.collect())) == rows1
    finally:
        llm._PIPE_MEMO.clear()


def test_pack_sequences_pipe_memo_invalidates_on_disk_mutation(
    spark, sf_smoke, tmp_path
):
    """VERDICT r11 #4: the pipeline memo fingerprints the snapshot's
    on-disk generation (the _ii_serve_ctx / pq_serve_context pattern) —
    a documents table mutated between two builds IN ONE SESSION must
    trigger a rebuild, never serve the stale frame. Immutable dirs
    (same generation) keep the round-10 no-rebuild semantics, which the
    test above pins."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sum_spark.queries import REGISTRY, llm

    snap = tmp_path / "snap"
    snap.mkdir()
    shutil.copy(
        os.path.join(sf_smoke, "documents.parquet"), snap / "documents.parquet"
    )
    sf_dir = str(snap)
    llm._PIPE_MEMO.clear()
    try:
        rows1 = REGISTRY["pack_sequences"].fn(spark, sf_dir).count()
        (key, (gen1, frame1)) = next(iter(llm._PIPE_MEMO.items()))
        assert key[1] == sf_dir
        # Mutate the snapshot in place: drop two-thirds of the corpus.
        t = pq.read_table(snap / "documents.parquet")
        pq.write_table(
            t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 3), 0)),
            snap / "documents.parquet",
        )
        spark.catalog.clearCache()  # drop any parquet footer/relation cache
        rows2 = REGISTRY["pack_sequences"].fn(spark, sf_dir).count()
        gen2, frame2 = llm._PIPE_MEMO[key]
        assert gen2 != gen1 and frame2 is not frame1  # rebuilt
        assert rows2 < rows1  # and the result reflects the new snapshot
    finally:
        llm._PIPE_MEMO.clear()


def test_monotone_bucket_refinement_job_and_scan_bound(spark):
    """VERDICT r11 #6: the skew detector rides on the per-bucket
    histogram the placement operators need anyway — refinement may add
    at most ONE aggregate job per refinement level, and ZERO extra
    scans of the FULL frame (every histogram reads the checkpointed
    narrow projection, never the source). Pinned so a future edit can't
    silently turn the detector into a second data pass. Scans are
    counted by an accumulator-tracked UDF on the key column (the source
    executes only where that UDF runs); jobs via the thread-local job
    group, with AQE off for the measurement so one aggregate = one job
    (AQE splits each exchange into its own job, which would make the
    count a Spark-version artifact instead of a plan-shape pin)."""
    from pyspark.sql import functions as F

    from sum_spark.operators import sampling

    sc = spark.sparkContext
    acc = sc.accumulator(0)

    @F.udf("long")
    def tracked(x):
        acc.add(1)
        return x

    nrows = 1000
    uniform = [(i * 1_000_000,) for i in range(nrows)]
    # 900 DENSE rows in [0, 900) and 100 rows far away: bucket 0 of the
    # 8-way equi-width split holds the dense mass (> _HOT_FACTOR x the
    # 125-row target) and its observed key range IS [0, 899], so ONE
    # re-quantization spreads it (~112 rows per sub-bucket < 500). The
    # far rows start beyond the first bucket's width so none of them
    # share the hot bucket (their presence would stretch its __hi and
    # force a second level — the shape the two-level property tests
    # cover; here we pin the per-level cost).
    skewed = [(i,) for i in range(900)] + [
        (1_000_000_000 + i * 10_000_000,) for i in range(nrows - 900)
    ]

    def run(tag, rows):
        df = spark.createDataFrame(rows, "k long").withColumn("k", tracked("k"))
        before = acc.value
        sc.setJobGroup(tag, tag)
        try:
            _, _, counts = sampling._monotone_bucket(df, "k", 8)
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(tag))
        return jobs, acc.value - before, counts

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain_jobs, plain_scans, plain_counts = run("mb-plain", uniform)
        skew_jobs, skew_scans, skew_counts = run("mb-skew", skewed)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # The skew run really refined (finer bucket ids, hot bucket gone)...
    assert len(skew_counts) > len(plain_counts), (plain_counts, skew_counts)
    assert max(skew_counts.values()) < 900, skew_counts
    # ...for at most a bounded constant of extra jobs per refinement
    # level: the level's histogram collect plus the broadcast of its
    # driver-built param table (+1 headroom for a runner job Spark may
    # add) — never a re-aggregation of the data or a second scan.
    assert skew_jobs <= plain_jobs + 3, (plain_jobs, skew_jobs)
    # ...and ZERO extra executions of the source frame: both runs invoke
    # the tracked UDF the same number of times (bounds + checkpoint
    # materialization; refinement reads only the checkpoint).
    assert skew_scans == plain_scans, (plain_scans, skew_scans)
    assert plain_scans >= nrows  # the tracker actually saw the data


def test_bloom_prefilter_join_equals_plain_join(spark, sf_smoke):
    """The reduced join returns exactly the plain join's rows (no false
    negatives; join removes Bloom false positives), and the map-side
    pre-filter actually prunes non-matching big-side rows."""
    from pyspark.sql import functions as F

    from sum_spark.operators.sketch import bloom_build_bits, bloom_member
    from sum_spark.plans.scale import bloom_prefilter_join
    from sum_spark.sources.tables import load_table

    orders = load_table(spark, sf_smoke, "orders")
    custs = (
        load_table(spark, sf_smoke, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    got = bloom_prefilter_join(orders, custs, "o_custkey")
    want = orders.join(custs, "o_custkey")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # the pre-filter prunes: fewer big-side rows pass than exist, and
    # at least every true match passes
    words = bloom_build_bits(custs.select("o_custkey"), "o_custkey")
    passed = (
        bloom_member(orders, "o_custkey", words)
        .where(F.col("maybe"))
        .count()
    )
    true_matches = orders.join(custs.select("o_custkey").distinct(), "o_custkey").count()
    assert true_matches <= passed < orders.count()

    # stored-words path: same result without rescanning the small side
    got2 = bloom_prefilter_join(orders, custs, "o_custkey", words=words)
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want.collect()))

    # left_semi flavor matches the plain semi join
    semi = bloom_prefilter_join(orders, custs.select("o_custkey"), "o_custkey", how="left_semi")
    want_semi = orders.join(custs.select("o_custkey"), "o_custkey", "left_semi")
    assert semi.count() == want_semi.count()

    import pytest

    with pytest.raises(ValueError):
        bloom_prefilter_join(orders, custs, "o_custkey", how="left")


def test_sweep_dead_artifact_dirs(tmp_path, monkeypatch):
    """VERDICT r7 #7: a crashed harness's pid-keyed artifact dirs are
    swept at the next process's first _artifact_dir call; dirs owned by
    a LIVE pid are kept."""
    import os

    import sum_spark.queries.llm as llm

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = tmp_path / "sum_spark_pq_incr_0123456789_999999999"
    live = tmp_path / f"sum_spark_pq_incr_0123456789_{os.getpid()}"
    other = tmp_path / "not_ours_12345"
    for d in (dead, live, other):
        d.mkdir()
        (d / "x").write_text("1")
    llm._sweep_dead_artifact_dirs()
    assert not dead.exists()  # dead pid -> removed
    assert live.exists()  # live pid -> kept
    assert other.exists()  # foreign name -> untouched


def test_release_with_refcounts_shared_cache_entries(spark):
    """Spark's CacheManager deduplicates persist() of semantically
    identical plans into ONE shared entry, and unpersist() removes that
    entry by plan match — so when release_with holders OVERLAP (a query
    server calling the same fn twice, any construct-before-drop loop),
    dropping the first result must NOT kill the cache the second still
    reads; only the LAST holder releases it (r12: before the refcount,
    q38 executed fully uncached on every post-first bench run because
    run N's finalizer unpersisted run N+1's just-deduped entry)."""
    import gc

    from sum_spark.plans import scale

    def grouped():
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    def build():
        df = grouped().persist()
        return scale.release_with(df.select(F.sum("count").alias("s")), df)

    a = build()
    a.count()
    b = build()  # persist() dedupes onto a's still-live entry
    del a
    gc.collect()
    b.count()
    # the shared entry must still be cached: a fresh semantically
    # identical frame optimizes onto the InMemoryRelation
    opt = grouped()._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in opt
    del b
    gc.collect()
    opt2 = grouped()._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in opt2  # last holder released it
