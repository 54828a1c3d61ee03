"""SQL-registered vector functions: callable from SQL text, values agree
with the Catalyst column expressions."""

from __future__ import annotations

import pytest

from sum_spark.functions.sql import register_sql_functions


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    register_sql_functions(spark)


def test_vec_dot_from_sql(spark):
    row = spark.sql(
        "SELECT vec_dot(array(3.0F, 6.0F, 9.0F), array(3.0F, 6.0F, 9.0F)) AS d"
    ).first()
    assert row["d"] == pytest.approx(126.0)


def test_vec_cosine_zero_rule_from_sql(spark):
    row = spark.sql(
        "SELECT vec_cosine(array(1.0F, 1.0F), array(0.0F, 0.0F)) AS c"
    ).first()
    assert row["c"] == 0.0


def test_sql_matches_column_api(spark, sf_smoke):
    from sum_spark.functions.vector import cosine
    from sum_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_smoke, "embeddings").limit(20)
    emb.createOrReplaceTempView("t_sqlfn_emb")
    via_sql = {
        r["vec_id"]: r["c"]
        for r in spark.sql(
            "SELECT vec_id, vec_cosine(embedding, embedding) AS c FROM t_sqlfn_emb"
        ).collect()
    }
    via_col = {
        r["vec_id"]: r["c"]
        for r in emb.select("vec_id", cosine("embedding", "embedding").alias("c")).collect()
    }
    for k in via_col:
        assert via_sql[k] == pytest.approx(via_col[k], abs=1e-9)


def test_dlit_exact_double_roundtrip(spark):
    """functions/litsql.dlit: F.expr(dlit(x)) must equal F.lit(x)
    BIT-FOR-BIT for adversarial doubles — this is what lets codebook
    literals batch into one expr string without moving any
    oracle-checked hash (shortest-repr emit + correctly-rounded parse)."""
    import math
    import struct as st

    import numpy as np
    from pyspark.sql import functions as F

    from sum_spark.functions.litsql import darray, dlit

    rng = np.random.default_rng(7)
    vals = [
        0.0, -0.0, 1.0, -1.5, 1e-308, -1e308, 0.1, 2.0 / 3.0,
        5e-324,  # smallest subnormal
        *(float(x) for x in rng.standard_normal(50)),
        *(float(x) for x in rng.uniform(-1e10, 1e10, 20)),
    ]
    exprs = [
        f"CAST({dlit(v)} AS DOUBLE) = CAST({v!r}D AS DOUBLE)" for v in vals
    ]
    cols = [F.expr(d) for d in (dlit(v) for v in vals)]
    lits = [F.lit(v) for v in vals]
    row = spark.range(1).select(
        *[c.alias(f"e{i}") for i, c in enumerate(cols)],
        *[c.alias(f"l{i}") for i, c in enumerate(lits)],
    ).first()
    for i, v in enumerate(vals):
        ev, lv = row[f"e{i}"], row[f"l{i}"]
        assert st.pack("<d", ev) == st.pack("<d", lv), (v, ev, lv)
    # darray composes the same elements
    arr = spark.range(1).select(F.expr(darray(vals[:8])).alias("a")).first()["a"]
    assert [st.pack("<d", x) for x in arr] == [st.pack("<d", v) for v in vals[:8]]
    # non-finite values are refused, not silently mangled
    import pytest

    for bad in (math.inf, -math.inf, math.nan):
        with pytest.raises(ValueError):
            dlit(bad)


def test_python_xxh64_matches_spark_xxhash64(spark):
    """hashing.xxh64_str must stay bit-equal to F.xxhash64 on strings —
    bm25_from_index prunes partitions with driver-computed buckets, so a
    divergence would silently drop posting rows from results."""
    import random
    import string

    from pyspark.sql import functions as F

    from sum_spark.functions.hashing import xxh64_str

    rng = random.Random(93)
    cases = [
        "", "a", "the", "data", "zebra",
        "x" * 3, "x" * 4, "x" * 7, "x" * 8, "x" * 31, "x" * 32, "x" * 33,
        "é漢字🎉", "\x00\x01", " leading", "trailing ",
        *(
            "".join(rng.choices(string.printable, k=rng.randrange(0, 200)))
            for _ in range(60)
        ),
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", F.xxhash64("t").alias("h")).collect()}
    for c in cases:
        assert got[c] == xxh64_str(c), repr(c)

def test_litsql_batched_constructs_match_column_api(spark):
    """VERDICT r12 #6: the F.lit-loop constructs of inertia centroids
    and random_project planes now render as ONE expr string each. litsql
    doubles are exact, so the batched columns must be BIT-identical to
    the old Column-by-Column construction — asserted by exact value
    equality of the rendered literals / projected outputs."""
    from pyspark.sql import functions as F

    from sum_spark.functions.litsql import darray

    cents = {0: [0.25, -1.5, 3.0], 2: [1e-17, 7.125, -0.1]}
    items = sorted(cents.items())

    # inertia's cent_lit: array of double arrays
    old_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for _, c in items]
    )
    new_arr = F.expr(
        "array(" + ", ".join(darray(float(x) for x in c) for _, c in items) + ")"
    )
    row = spark.range(1).select(old_arr.alias("o"), new_arr.alias("n")).first()
    assert row["o"] == row["n"]

    # random_project: batched projection vs the old per-plane lambdas
    from sum_spark.operators.dedup import srp_planes
    from sum_spark.operators.embeddings import random_project

    dims, out_dims = 8, 4
    vecs = [
        (i, [((i * 31 + j * 7) % 13 - 6) / 3.0 for j in range(dims)])
        for i in range(6)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["proj"] for r in random_project(df, out_dims).collect()}

    planes = srp_planes(out_dims, dims, seed="rp")
    scale = 1.0 / float(out_dims) ** 0.5
    old_proj = F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        F.array(*[F.lit(float(x)) for x in p]),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * F.lit(scale)
            )
            for p in planes
        ]
    )
    want = {
        r["vec_id"]: r["proj"]
        for r in df.select("vec_id", old_proj.alias("proj")).collect()
    }
    assert got == want  # exact float equality: identical literal nodes
