"""Round-trip tests for the non-parquet source/sink formats and the
records <-> embeddings data-model adapter (FIXTURES A1 analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sum_spark.sources.formats import delta_available, read_source, write_sink
from sum_spark.sources.tables import load_table
from sum_spark.store import RECORD_SCHEMA, RecordStore


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip_formats(spark, sf_smoke, tmp_path, fmt):
    src = load_table(spark, sf_smoke, "customer").limit(50)
    path = str(tmp_path / fmt)
    write_sink(src, fmt, path)
    back = read_source(spark, fmt, path, schema=src.schema)
    assert back.count() == 50
    a = sorted(src.select("c_custkey", "c_name").collect())
    b = sorted(back.select("c_custkey", "c_name").collect())
    assert a == b


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="schema"):
        read_source(spark, "csv", str(tmp_path))
    with pytest.raises(ValueError, match="unsupported"):
        read_source(spark, "avro", str(tmp_path))


def test_delta_gated_not_stubbed(spark):
    assert delta_available(spark) in (True, False)


def test_embeddings_as_records(spark, sf_smoke, tmp_path):
    """The embeddings table maps onto the reference's record model
    (vec_id<->id, embedding<->data, label<->meta; FIXTURES.md §B) and the
    canonical findSimilar runs through the RecordStore's DataFrame."""
    from sum_spark.operators.similarity import find_similar

    emb = load_table(spark, sf_smoke, "embeddings")
    records = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("data"),
        F.array(F.size("embedding").cast("long")).alias("shape"),
        F.create_map(F.lit("label"), F.col("label").cast("string")).alias("meta"),
    )
    path = str(tmp_path / "records")
    records.write.parquet(path, mode="overwrite")
    store = RecordStore(spark, path)
    assert store.count() == emb.count()
    assert [f.name for f in store.df.schema.fields] == [f.name for f in RECORD_SCHEMA.fields]
    top = find_similar(store.df, probe_id=1, threshold=0.0, k=5).collect()
    assert len(top) == 5 and all(r["id"] != 1 for r in top)
    # meta round-trips through the store's find_by_meta path
    label = store.read(1)["meta"]["label"]
    hits = store.find_by_meta("label", label)
    assert any(r["id"] == 1 for r in hits)


def _write_events_variant(tmp_path, name, ts_array):
    """Write a minimal events.parquet with the given pyarrow ts column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(table, str(d / "events.parquet"), version="2.6")
    return str(d)


def test_events_loader_both_parquet_shapes(spark, tmp_path):
    """Data drift guard: events.ts has shipped as TIMESTAMP(NANOS) and as
    timestamp[us]; both (and UTC-adjusted LTZ) must load to the identical
    microsecond TIMESTAMP_NTZ column (VERDICT r2 #1)."""
    import pyarrow as pa

    micros = [1704067200_000000 + 123456, 1704067200_000000 + 1, 1704153599_999999]
    nanos = pa.array([m * 1000 + 789 for m in micros], pa.timestamp("ns"))
    us_ntz = pa.array(micros, pa.timestamp("us"))
    us_ltz = pa.array(micros, pa.timestamp("us", tz="UTC"))

    dirs = {
        "nanos": _write_events_variant(tmp_path, "nanos", nanos),
        "us_ntz": _write_events_variant(tmp_path, "us_ntz", us_ntz),
        "us_ltz": _write_events_variant(tmp_path, "us_ltz", us_ltz),
    }

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        # a non-UTC caller session must not shift any of the three paths
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        results = {}
        for key, d in dirs.items():
            df = load_table(spark, d, "events")
            assert df.schema["ts"].dataType.typeName() == "timestamp_ntz", key
            results[key] = [r["ts"] for r in df.orderBy("event_id").collect()]
        assert results["nanos"] == results["us_ntz"] == results["us_ltz"]
        assert results["us_ntz"][2].microsecond == 999999
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_compact_parquet_dir_hits_target_and_preserves_rows(spark, sf_smoke, tmp_path):
    import glob
    import os

    from sum_spark.sources.formats import compact_parquet_dir
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    path = str(tmp_path / "frag")
    docs.repartition(40).write.parquet(path)  # deliberately fragmented
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert len(glob.glob(os.path.join(path, "part-*"))) == 40

    total_mb = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*"))
    ) / (1 << 20)
    n = compact_parquet_dir(spark, path, target_mb=max(1, int(total_mb) or 1))
    files = glob.glob(os.path.join(path, "part-*"))
    assert len(files) == n <= 3
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before


def test_compact_parquet_dir_recovers_interrupted_swap(spark, sf_smoke, tmp_path):
    """Crash between remove and rename: original gone, complete staged
    dir present — the next call finishes the rename."""
    import os
    import shutil

    from sum_spark.sources.formats import compact_parquet_dir
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "source")
    path = str(tmp_path / "tab")
    docs.write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    # simulate the crash window
    staged = path + ".__compacted"
    shutil.move(path, staged)
    assert os.path.exists(os.path.join(staged, "_SUCCESS"))
    compact_parquet_dir(spark, path, target_mb=64)
    assert spark.read.parquet(path).count() == n_rows
    assert not os.path.isdir(staged)


def test_compact_parquet_dir_recovers_partly_removed_original(spark, tmp_path):
    """Crash inside the removal of the original: a complete staged copy
    next to what is left of the original. The next call must keep the
    staged copy, not rewrite the table from the remnant."""
    import glob
    import os
    import shutil

    from sum_spark.sources.formats import compact_parquet_dir

    path = str(tmp_path / "tab")
    spark.range(10_000).repartition(8).write.parquet(path)
    staged = path + ".__compacted"
    shutil.copytree(path, staged)  # the staged copy, complete with _SUCCESS
    for f in sorted(glob.glob(os.path.join(path, "part-*")))[:5]:
        os.remove(f)

    compact_parquet_dir(spark, path, target_mb=64)
    assert spark.read.parquet(path).count() == 10_000
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(10_000))
    assert not os.path.isdir(staged)


def test_expire_partitions_drops_only_failing_values(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F

    from sum_spark.sources.formats import expire_partitions
    from sum_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").withColumn(
        "day",
        F.concat(F.lit("2026-01-0"), (F.col("doc_id") % 5 + 1).cast("string")),
    )
    path = str(tmp_path / "rolling")
    docs.write.partitionBy("day").parquet(path)
    before = spark.read.parquet(path).count()

    dropped = expire_partitions(path, "day", keep=lambda d: d >= "2026-01-03")
    assert dropped == ["2026-01-01", "2026-01-02"]
    kept = spark.read.parquet(path)
    assert kept.select("day").distinct().count() == 3
    assert kept.count() < before
    assert kept.where("day < '2026-01-03'").count() == 0
    # idempotent
    assert expire_partitions(path, "day", keep=lambda d: d >= "2026-01-03") == []


def test_load_table_plan_memo_contract(spark, sf_smoke):
    """The load_table plan memo returns the SAME DataFrame handle for
    repeated loads in one session (the construction-cost point), never
    crosses sessions (stale plans on a stopped session's successor fail
    obscurely), and stays FIFO-bounded."""
    from sum_spark.sources import tables as T

    a = T.load_table(spark, sf_smoke, "region")
    b = T.load_table(spark, sf_smoke, "region")
    assert a is b  # memo hit
    key = (id(spark), __import__("os").path.realpath(sf_smoke), "region")
    assert key in T._PLAN_MEMO and T._PLAN_MEMO[key][0] is spark
    # a different session OBJECT at the same id must not hit the memo
    class _Fake:  # only identity matters for the guard
        pass

    stale_key = (id(spark), "/nowhere", "region")
    T._PLAN_MEMO[stale_key] = (_Fake(), a)
    # guard: value's session is not the caller -> rebuild, not reuse
    assert T._PLAN_MEMO[stale_key][0] is not spark
    del T._PLAN_MEMO[stale_key]
    # FIFO bound holds
    assert len(T._PLAN_MEMO) <= T._PLAN_MEMO_MAX
