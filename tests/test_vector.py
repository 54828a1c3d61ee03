"""Golden-value tests for the vector kernel library, mirroring the
reference's unit tests (/root/reference/node/wrapper/record_test.go and
FIXTURES.md §A1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from sum_spark.functions import vector as V
from sum_spark.functions import vector_pandas as VP


@pytest.fixture(scope="module")
def vec_df(spark):
    schema = StructType(
        [
            StructField("a", ArrayType(FloatType())),
            StructField("b", ArrayType(FloatType())),
        ]
    )
    rows = [
        ([3.0, 6.0, 9.0], [3.0, 6.0, 9.0]),
        ([3.0, 6.0, 9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 666.0], [3.0, 6.0, 9.0, 1.0, 2.0, 3.0, 4.0, 5.0, 666.0]),
        ([0.0, 0.0, 2.0], [1.0, 2.0, 3.0]),
        ([1.0, 1.0, 0.0], [0.0, 0.0, 0.0]),  # zero-magnitude b
        ([1.0, 0.0, 1.0, 1.0], [1.0, 1.0, 0.0, 1.0]),  # binary jaccard
        ([0.0, 0.0], [0.0, 0.0]),  # jaccard zero denominator
    ]
    return spark.createDataFrame(rows, schema)


def _one(df, col, row=0):
    return df.select(col.alias("x")).collect()[row]["x"]


def test_dot_golden(vec_df):
    # dot([3,6,9],[3,6,9]) = 126 (record_test.go TestWrappedRecordDot)
    assert _one(vec_df, V.dot("a", "b")) == pytest.approx(126.0)


def test_dot_range_and_sub(vec_df):
    # first 3 of the 9-element fixture -> 126 (record_test.go DotRange/DotSub)
    assert _one(vec_df, V.dot_range("a", "b", 0, 3), row=1) == pytest.approx(126.0)
    assert _one(vec_df, V.dot_sub("a", "b", 3), row=1) == pytest.approx(126.0)


def test_magnitude(vec_df):
    # magnitude([0,0,2]) = 2 (record_test.go TestWrappedRecordMagnitude)
    assert _one(vec_df, V.magnitude("a"), row=2) == pytest.approx(2.0)


def test_cosine_self_is_one(vec_df):
    assert _one(vec_df, V.cosine("a", "b")) == pytest.approx(1.0)


def test_cosine_zero_denominator_rule(vec_df):
    # cosine(v, 0) = 0.0, NOT NaN (record.go:98-102)
    assert _one(vec_df, V.cosine("a", "b"), row=3) == 0.0


def test_cosine_range(vec_df):
    got = _one(vec_df, V.cosine_range("a", "b", 0, 3), row=1)
    assert got == pytest.approx(1.0)


def test_jaccard(vec_df):
    # a=[1,0,1,1], b=[1,1,0,1]: m11=2, m10=2 -> 0.5 (record.go:129-147)
    assert _one(vec_df, V.jaccard("a", "b"), row=4) == pytest.approx(0.5)


def test_jaccard_zero_denominator(vec_df):
    assert _one(vec_df, V.jaccard("a", "b"), row=5) == 0.0


def test_jaccard_range(vec_df):
    # over [0,2): a=[1,0], b=[1,1]: m11=1, m10=1 -> 0.5
    assert _one(vec_df, V.jaccard_range("a", "b", 0, 2), row=4) == pytest.approx(0.5)


def test_size_mismatch_yields_null(spark):
    # The reference panics on size mismatch (BLAS); the engine's documented
    # behavior is NULL propagation via zip_with padding.
    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<float>, b array<float>"
    )
    assert _one(df, V.dot("a", "b")) is None


def test_vec_get_and_meta(spark):
    df = spark.createDataFrame(
        [([1.0, 5.0], {"label": "x"})], "data array<float>, meta map<string,string>"
    )
    assert _one(df, V.vec_get("data", 1)) == 5.0
    assert _one(df, V.meta_get("meta", "label")) == "x"
    assert _one(df, V.meta_get("meta", "missing")) == ""  # '' not NULL (record.go:62-66)


def test_vec_equal(vec_df):
    assert _one(vec_df, V.vec_equal("a", "b")) is True
    assert _one(vec_df, V.vec_equal("a", "b"), row=2) is False


def test_numpy_backend_parity(vec_df):
    """The blas32-analog NumPy backend must agree with the Catalyst path."""
    rows = vec_df.where(F.size("a") == F.size("b")).select(
        V.dot("a", "b").alias("d1"),
        VP.dot_np("a", "b").alias("d2"),
        V.cosine("a", "b").alias("c1"),
        VP.cosine_np("a", "b").alias("c2"),
    )
    for r in rows.collect():
        assert r["d1"] == pytest.approx(r["d2"], abs=1e-9)
        assert r["c1"] == pytest.approx(r["c2"], abs=1e-9)


@pytest.mark.parametrize("batch", [1000, 1])
def test_numpy_backend_ragged_batches(spark, vec_df, batch):
    """The NumPy kernels agree with the Catalyst path whatever the Arrow
    batch composition: one partition, so at 1000 rows per batch every
    vector length shares one batch, and at 1 each row is its own."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        rows = (
            vec_df.coalesce(1)
            .select(
                V.dot("a", "b").alias("d1"),
                VP.dot_np("a", "b").alias("d2"),
                V.cosine("a", "b").alias("c1"),
                VP.cosine_np("a", "b").alias("c2"),
                V.magnitude("a").alias("m1"),
                VP.magnitude_np("a").alias("m2"),
            )
            .collect()
        )
    finally:
        spark.conf.set(key, prev)
    assert len(rows) == 6
    for r in rows:
        assert r["d2"] == pytest.approx(r["d1"], abs=1e-9)
        assert r["c2"] == pytest.approx(r["c1"], abs=1e-9)
        assert r["m2"] == pytest.approx(r["m1"], abs=1e-9)


def test_magnitude_matches_math(vec_df):
    got = _one(vec_df, V.magnitude("a"), row=4)
    assert got == pytest.approx(math.sqrt(3.0))


def test_is_null_is_same_set_data(spark):
    left = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    right = spark.createDataFrame([(1, "hit")], "id long, w string")
    joined = left.join(right, "id", "left")
    # IsNull ≡ left-join miss (record.go:41-44)
    misses = joined.select("id", V.is_null("w").alias("m")).orderBy("id").collect()
    assert [r["m"] for r in misses] == [False, True]
    # Is ≡ identity by id (record.go:46-54)
    same = left.crossJoin(right.select(F.col("id").alias("id2")))
    got = same.select(V.is_same("id", "id2").alias("s")).orderBy(F.col("s").desc()).collect()
    assert [r["s"] for r in got] == [True, False]
    # SetData ≡ vector replacement (record.go:35-39)
    df = spark.createDataFrame([([1.0],)], "data array<float>")
    out = V.set_data(df, "data", F.array(F.lit(9.0).cast("float")))
    assert out.first()["data"] == [9.0]
