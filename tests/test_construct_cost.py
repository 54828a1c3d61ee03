"""Plan-construction cost of the embedding builders.

A registry fn() pays its construct time in py4j round trips and in the
eager Spark jobs it starts. The builders render each projection as SQL
text; each test below builds the Column-API form inline as the
reference and checks that the text form yields the same plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import py4j_calls, spark_jobs
from sum_spark.functions.hashing import hash60
from sum_spark.functions.litsql import darray, dlit
from sum_spark.operators import clustering, embeddings
from sum_spark.operators.similarity import knn_ivfpq
from sum_spark.plans.scale import spread_for_compute
from sum_spark.queries import REGISTRY

CENTS = {0: [0.5, -1.0, 2.0, 0.0], 3: [-0.75, 0.25, 1.0, 4.0], 5: [0.0, 0.0, -2.5, 1.5]}


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [
            (1, 0, [1.0, -2.0, 0.5, 3.0]),
            (2, 1, [0.0, 0.0, 0.0, 0.0]),
            (3, 0, [-0.25, 0.125, 7.0, -1.0]),
            (4, 1, [2.5, 1e-9, -3.75, 0.3]),
        ],
        "vec_id long, label int, embedding array<double>",
    )


def test_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_embed_quantize_construct_round_trips_and_jobs(spark, sf_smoke):
    fn = REGISTRY["embed_quantize"].fn
    fn(spark, sf_smoke)  # warm: the table-load memo and first-call lookups
    with py4j_calls() as calls:
        jobs = spark_jobs(spark, "construct-embed_quantize", lambda: fn(spark, sf_smoke))
    # about 3,500 round trips and 5 jobs when every projection was built
    # through the Column API and the codebook collect sorted its rows
    assert calls[0] <= 600
    assert jobs <= 3


def _quantize_int8_ref(df):
    staged = spread_for_compute(df).select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    a = staged.select(
        "vec_id",
        "__v",
        F.array_max(F.transform("__v", lambda x: F.abs(x))).alias("__amax"),
    )
    amax = F.col("__amax")
    q = F.when(
        amax > 0,
        F.transform("__v", lambda x: F.floor(x * 127 / amax + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform("__v", lambda x: F.lit(0)))
    b = a.select("vec_id", "__v", "__amax", q.alias("__q"))
    err = F.array_max(F.zip_with("__v", "__q", lambda x, qq: F.abs(x - qq * (amax / 127))))
    return b.select(
        "vec_id",
        (amax / 127).alias("scale"),
        F.array_join(F.transform("__q", lambda x: x.cast("string")), ",").alias("q_str"),
        err.alias("max_abs_err"),
    ).orderBy("vec_id")


def _l2_normalize_ref(df):
    staged = df.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    n = F.sqrt(
        F.aggregate(F.transform("__v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    a = staged.select("vec_id", "__v", n.alias("__n"))
    unit = F.when(F.col("__n") > 0, F.transform("__v", lambda x: x / F.col("__n"))).otherwise(
        F.transform("__v", lambda x: F.lit(0.0))
    )
    return a.select("vec_id", F.col("__n").alias("norm"), unit.alias("unit")).orderBy("vec_id")


def _mean_pool_ref(df, fixed_point):
    ex = df.select(
        F.col("label").alias("group"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    if fixed_point is not None:
        v = F.floor(F.col("val") * 10**fixed_point + F.lit(0.5)).cast("long")
        per = ex.groupBy("group", "pos").agg(F.sum(v).alias("m"), F.count("*").alias("c"))
    else:
        per = ex.groupBy("group", "pos").agg(F.avg("val").alias("m"), F.count("*").alias("c"))
    out_col = "pooled_fp" if fixed_point is not None else "pooled"
    return (
        per.groupBy("group")
        .agg(
            F.max("c").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias(out_col),
        )
        .orderBy("group")
    )


def _dist_structs_ref(items, v):
    cent_lit = F.expr(
        "array("
        + ", ".join(f"struct({darray(c)} AS c, CAST({int(j)} AS BIGINT) AS j)" for j, c in items)
        + ")"
    )
    return F.transform(
        cent_lit,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(v, s["c"], lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            s["j"].alias("j"),
        ),
    )


def _pq_codes_ref(df, items, m):
    sd = len(items[0][1]) // m
    v = F.col("embedding").cast("array<double>")
    codes = [
        F.array_min(
            _dist_structs_ref(
                [(j, c[i * sd : (i + 1) * sd]) for j, c in items], F.slice(v, i * sd + 1, sd)
            )
        )["j"]
        for i in range(m)
    ]
    return df.select(F.col("vec_id").alias("vec_id"), F.array(*codes).alias("codes"))


def _topp_ref(df, items, p):
    v = F.col("embedding").cast("array<double>")
    ranked = F.slice(F.array_sort(_dist_structs_ref(items, v)), 1, p)
    probed = df.withColumn("__cls", F.transform(ranked, lambda s: s["j"]))
    return probed.withColumn("cluster", F.explode("__cls")).drop("__cls")


def test_sql_text_builders_match_column_api_plans(vecs):
    items = sorted(CENTS.items())
    pairs = {
        "quantize_int8": (embeddings.quantize_int8(vecs), _quantize_int8_ref(vecs)),
        "l2_normalize": (embeddings.l2_normalize(vecs), _l2_normalize_ref(vecs)),
        "mean_pool": (embeddings.mean_pool(vecs), _mean_pool_ref(vecs, None)),
        "mean_pool_fp": (
            embeddings.mean_pool(vecs, fixed_point=6),
            _mean_pool_ref(vecs, 6),
        ),
        "hash_init_assign": (
            clustering.hash_init_assign(vecs, 8),
            vecs.withColumn("cluster", hash60(F.col("vec_id").cast("string")) % F.lit(8)),
        ),
        "assign_clusters": (
            clustering.assign_clusters(vecs, CENTS, backend="catalyst"),
            vecs.withColumn(
                "cluster",
                F.array_min(
                    _dist_structs_ref(items, F.col("embedding").cast("array<double>"))
                )["j"],
            ),
        ),
        "assign_clusters_topp": (
            clustering.assign_clusters_topp(vecs, CENTS, probes=2, backend="catalyst"),
            _topp_ref(vecs, items, 2),
        ),
        "pq_codes": (
            embeddings.product_quantize(vecs, m=2, centroids=CENTS, ordered=False)[0],
            _pq_codes_ref(vecs, items, 2),
        ),
    }
    for name, (got, ref) in pairs.items():
        assert got.semanticHash() == ref.semanticHash(), name
        assert got.collect() == ref.collect(), name


def test_darray_elements_equal_double_literals(spark):
    """darray renders one string literal cast to array<double>; each
    element must carry the bits of the matching double literal."""
    import struct

    import numpy as np

    rng = np.random.default_rng(11)
    vals = [
        0.0, -0.0, 5e-324, 2.2250738585072014e-308, 1.7976931348623157e308,
        -1e308, 0.1, 2.0 / 3.0, 1e22, 1e23, 123456789012345678.0,
        *(float(x) for x in rng.standard_normal(500)),
        *(float(x) for x in rng.standard_normal(100) * 1e-300),
        *(float(x) for x in rng.uniform(-1e10, 1e10, 100)),
    ]
    lits = "array(" + ", ".join(dlit(v) for v in vals) + ")"
    row = spark.range(1).select(
        F.expr(darray(vals)).alias("s"), F.expr(lits).alias("l")
    ).first()
    bits = [struct.pack("<d", v) for v in vals]
    assert [struct.pack("<d", x) for x in row["s"]] == bits
    assert [struct.pack("<d", x) for x in row["l"]] == bits


@pytest.mark.parametrize("backend", ["catalyst", "numpy"])
def test_empty_codebook_raises_value_error(spark, backend):
    """An empty book refuses in both PQ encoders: product_quantize's
    catalyst fold and the large-k GEMM encoder _pq_codes_numpy."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least one centroid"):
        if backend == "catalyst":
            embeddings.product_quantize(empty, m=2, k=4)
        else:
            embeddings._pq_codes_numpy(
                empty.withColumn("coarse", F.lit(0)), 2, [], "vec_id", "embedding"
            )


def test_knn_ivfpq_empty_codebook_raises_value_error(spark):
    empty = spark.createDataFrame([], "id long, data array<double>")
    with pytest.raises(ValueError, match="at least one centroid"):
        knn_ivfpq(empty, empty, k=1, centroids={})
