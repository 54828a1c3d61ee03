"""RecordStore CRUD tests mirroring the reference's storage/service suites
(/root/reference/node/storage/index_test.go, node/service/records_test.go)."""

from __future__ import annotations

import pytest

from conftest import _Crash, _crash_on, spark_jobs as _jobs
from sum_spark.store import IdCollision, RecordNotFound, RecordStore


@pytest.fixture()
def store(spark, tmp_path):
    return RecordStore(spark, str(tmp_path / "records"))


def test_create_assigns_sequential_ids(store):
    assert store.create([1.0, 2.0]) == 1
    assert store.create([3.0]) == 2
    assert store.count() == 2


def test_default_shape_rule(store):
    rid = store.create([1.0, 2.0, 3.0])
    row = store.read(rid)
    # shape defaults to [len(data)] (node/storage/records.go:126-129)
    assert row["shape"] == [3]


def test_read_miss_raises(store):
    with pytest.raises(RecordNotFound):
        store.read(666)


def test_create_with_id_and_collision(store):
    store.create_with_id(666, [0.6, 0.6, 0.6], meta={"666": "666"})
    with pytest.raises(IdCollision):
        store.create_with_id(666, [1.0])
    # next sequential id continues after the explicit one
    assert store.create([1.0]) == 667


def test_bulk_create_all_or_nothing(store):
    store.create_with_id(2, [1.0])
    with pytest.raises(IdCollision):
        store.create_many_with_id({1: [1.0], 2: [2.0], 3: [3.0]})
    # nothing from the failed batch got written (index.go:188-218)
    assert store.count() == 1


def test_update_overwrites(store):
    rid = store.create([1.0, 2.0], meta={"a": "1"})
    store.update(rid, data=[9.0], meta={"b": "2"})
    row = store.read(rid)
    assert row["data"] == [9.0]
    assert row["meta"] == {"b": "2"}
    assert store.count() == 1


def test_delete(store):
    rid = store.create([1.0])
    store.delete(rid)
    assert store.count() == 0
    with pytest.raises(RecordNotFound):
        store.delete(rid)


def test_list_pagination(store):
    for i in range(25):
        store.create([float(i)])
    total, rows = store.list(page=2, per_page=10)
    assert total == 25
    assert [r["id"] for r in rows] == list(range(11, 21))


def test_find_by_meta(store):
    store.create([1.0], meta={"label": "malware"})
    store.create([2.0], meta={"label": "clean"})
    store.create([3.0], meta={"label": "malware"})
    hits = store.find_by_meta("label", "malware")
    assert [r["id"] for r in hits] == [1, 3]


def test_find_by_meta_bounded_and_lazy(store):
    """The meta path never does an unbounded collect (VERDICT r2 #5):
    the DataFrame surface stays lazy and the Row surface paginates."""
    from pyspark.sql import DataFrame

    for i in range(25):
        store.create([float(i)], meta={"label": "hot"})
    assert isinstance(store.find_by_meta_df("label", "hot"), DataFrame)
    page1 = store.find_by_meta("label", "hot", page=1, per_page=10)
    page2 = store.find_by_meta("label", "hot", page=2, per_page=10)
    assert len(page1) == 10 and len(page2) == 10
    assert [r["id"] for r in page1] + [r["id"] for r in page2] == list(range(1, 21))


def test_reopen_preserves_next_id(spark, tmp_path):
    path = str(tmp_path / "records")
    s1 = RecordStore(spark, path)
    s1.create([1.0])
    s1.create([2.0])
    s2 = RecordStore(spark, path)  # startup scan (loader.go:20-46)
    assert s2.create([3.0]) == 3


def test_mutations_are_pure_appends(spark, tmp_path):
    """Merge-on-read O(delta) contract (VERDICT r6 #2): update/delete
    never rewrite ANY existing file — every pre-existing parquet file
    stays byte-identical (same path, same mtime); the mutation only adds
    new partial files in the id's bucket (plus the tombstone marker)."""
    import os

    path = str(tmp_path / "records")
    store = RecordStore(spark, path)
    for i in range(18):
        store.create([float(i)])

    def parquet_files() -> dict[str, float]:
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    target = 7
    bucket = target % store.num_buckets
    before = parquet_files()
    store.update(target, data=[99.0])
    after = parquet_files()
    assert all(after[p] == t for p, t in before.items())  # appends only
    new = set(after) - set(before)
    assert new and all(f"b={bucket}" in p for p in new)  # only the id's bucket
    assert store.read(target)["data"] == [99.0]
    assert store.count() == 18

    before = parquet_files()
    store.delete(target)
    after = parquet_files()
    assert all(after[p] == t for p, t in before.items())
    assert all(f"b={bucket}" in p for p in set(after) - set(before))
    assert store.count() == 17


def test_merge_on_read_lifecycle(spark, tmp_path):
    """Deletion-as-negation end-to-end: retire-then-reappend the same id
    works (the negated partial cancels bit-for-bit); repeated updates net
    to the latest version; compact() folds the partials into one file per
    bucket, removes the tombstone marker (reads return to pass-through),
    and changes no result; point reads prune to the id's bucket even
    through the netting aggregate."""
    import glob
    import os

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    a = store.create([1.0, 2.0], meta={"k": "v1"})
    b = store.create([3.0])
    store.update(a, meta={"k": "v2"})
    store.update(a, meta={"k": "v3"})
    assert store.read(a)["meta"] == {"k": "v3"}
    store.delete(a)
    with pytest.raises(RecordNotFound):
        store.read(a)
    # retire-then-reappend the same id (the IdCollision check consults
    # the netted view, so the retired id is free again)
    store.create_with_id(a, [1.0, 2.0], meta={"k": "v1"})
    assert store.read(a)["meta"] == {"k": "v1"}
    assert store.count() == 2

    # the point read pushes the bucket filter below the netting aggregate
    from pyspark.sql import functions as F

    assert os.path.isfile(store._marker)
    plan = (
        store._live()
        .where((F.col("b") == store._bucket(a)) & (F.col("id") == a))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "b" in pf

    before = {(r["id"], tuple(r["data"]), str(r["meta"])) for r in store.df.collect()}
    store.compact()
    assert not os.path.isfile(store._marker)  # netting work folded away
    assert len(glob.glob(f"{path}/b=*/part-*.parquet")) == 2
    after = {(r["id"], tuple(r["data"]), str(r["meta"])) for r in store.df.collect()}
    assert after == before
    assert store.read(b)["data"] == [3.0]


def test_compact_merges_small_files(spark, tmp_path):
    import glob

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(10):
        store.create([float(i)])  # 10 one-row files across 2 buckets
    n_before = len(glob.glob(f"{path}/b=*/part-*.parquet"))
    assert n_before >= 10
    store.compact()
    n_after = len(glob.glob(f"{path}/b=*/part-*.parquet"))
    assert n_after == 2  # one file per bucket
    assert store.count() == 10
    assert [r["id"] for r in store.list(per_page=3)[1]] == [1, 2, 3]


def test_point_read_prunes_to_one_bucket(spark, tmp_path):
    """The physical scan for read(rid) must touch only the id's bucket
    directory (partition pruning on the Hive partition column)."""
    from pyspark.sql import functions as F

    store = RecordStore(spark, str(tmp_path / "records"))
    for i in range(4):
        store.create([float(i)])
    rid = 3
    plan = (
        store._df_or_empty()
        .where((F.col("b") == store._bucket(rid)) & (F.col("id") == rid))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


@pytest.mark.parametrize("seed", [7, 23])
def test_merge_on_read_random_ops_match_dict_model(spark, tmp_path, seed):
    """Model-based check of the merge-on-read store: a random sequence of
    create / create_with_id / update / delete / delete_many / compact
    must leave the store equal to a plain dict model after every
    mutation batch — the netting, tombstone-marker, and compaction
    machinery can never disagree with ordinary map semantics."""
    import numpy as np

    rng = np.random.default_rng(seed)
    store = RecordStore(spark, str(tmp_path / f"records_{seed}"), num_buckets=4)
    model: dict[int, tuple] = {}
    next_id = 1

    def snapshot():
        got = {
            r["id"]: (tuple(r["data"]), tuple(r["shape"]), dict(r["meta"]))
            for r in store.df.collect()
        }
        want = {i: (tuple(d), tuple(s), dict(m)) for i, (d, s, m) in model.items()}
        assert got == want

    for step in range(14):
        op = rng.choice(["create", "create_id", "update", "delete", "delete_many", "compact"])
        if op == "create":
            data = [float(x) for x in rng.integers(0, 9, 3)]
            rid = store.create(data, meta={"s": str(step)})
            assert rid == next_id
            model[rid] = (data, [3], {"s": str(step)})
            next_id += 1
        elif op == "create_id":
            rid = int(rng.integers(100, 120))
            data = [float(step)]
            if rid in model:
                with pytest.raises(IdCollision):
                    store.create_with_id(rid, data)
            else:
                store.create_with_id(rid, data)
                model[rid] = (data, [1], {})
                next_id = max(next_id, rid + 1)
        elif op == "update" and model:
            rid = int(rng.choice(sorted(model)))
            data = [float(x) for x in rng.integers(0, 9, 2)]
            store.update(rid, data=data, meta={"u": str(step)})
            model[rid] = (data, model[rid][1], {"u": str(step)})
        elif op == "delete" and model:
            rid = int(rng.choice(sorted(model)))
            store.delete(rid)
            del model[rid]
        elif op == "delete_many" and model:
            ids = sorted(model)[: int(rng.integers(1, 3))] + [999_999]
            store.delete_many(ids)
            for i in ids:
                model.pop(i, None)
        elif op == "compact":
            store.compact()
        snapshot()

    # survives reopen (startup scan over the accumulated partials)
    store2 = RecordStore(spark, str(tmp_path / f"records_{seed}"), num_buckets=4)
    got = {r["id"] for r in store2.df.collect()}
    assert got == set(model)


def test_auto_compact_threshold(spark, tmp_path):
    """VERDICT r7 #8: with auto_compact_after set, mutations that push
    the on-disk partial-file count past num_buckets + threshold trigger
    one inline compaction — reads identical, one file per bucket,
    netting marker cleared; the next mutation re-marks."""
    import os

    from sum_spark.store import RecordStore

    p = str(tmp_path / "store_ac")
    st = RecordStore(spark, p, num_buckets=4, auto_compact_after=6)
    for i in range(8):
        st.create([float(i)], meta={"k": str(i)})
    before = {(r["id"], tuple(r["data"]), dict(r["meta"])["k"]) for r in st.df.collect()}
    marker = os.path.join(p, "_tombstones")
    fired = False
    for i in range(1, 9):
        st.update(i, data=[float(100 + i)])
        if not os.path.isfile(marker) and st._parquet_file_count() == 4:
            fired = True
            break
    assert fired, "auto-compact never fired within the threshold window"
    after = {(r["id"], tuple(r["data"]), dict(r["meta"])["k"]) for r in st.df.collect()}
    # identical ids/meta; data reflects the updates applied so far
    assert {t[0] for t in after} == {t[0] for t in before}
    assert len(after) == 8
    # the store keeps working after the fold: next mutation re-marks
    st.delete(8)
    assert os.path.isfile(marker)
    assert st.count() == 7


def test_auto_compact_fires_on_creates(spark, tmp_path):
    """Review r8: creates count toward the auto-compact threshold too —
    an insert-heavy store hits the small-files pathology without any
    tombstone ever existing."""
    from sum_spark.store import RecordStore

    p = str(tmp_path / "store_ac_create")
    st = RecordStore(spark, p, num_buckets=4, auto_compact_after=5)
    for i in range(12):
        st.create([float(i)])
    assert st._parquet_file_count() <= 4 + 5  # a fold ran mid-stream
    assert st.count() == 12
    assert {int(r["id"]) for r in st.df.collect()} == set(range(1, 13))


def test_keyset_pagination_equals_offset_walk(spark, tmp_path):
    """list_after pages through the store row-for-row identically to the
    offset form, and its seek predicate reaches the parquet scan as a
    pushed filter (O(page) per page, not O(offset))."""
    store = RecordStore(spark, str(tmp_path / "records"))
    for i in range(23):
        store.create([float(i)], meta={"k": str(i % 3)})
    # perturb the id space: deletes and an update mid-range
    store.delete(5)
    store.delete(18)
    store.update(9, data=[99.0])

    per_page = 4
    offset_rows = []
    page = 1
    while True:
        _, rows = store.list(page, per_page)
        if not rows:
            break
        offset_rows.extend(rows)
        page += 1

    keyset_rows, last_id = [], None
    while True:
        rows = store.list_after(last_id, per_page)
        if not rows:
            break
        keyset_rows.extend(rows)
        last_id = rows[-1]["id"]

    assert [tuple(r) for r in keyset_rows] == [tuple(r) for r in offset_rows]

    from pyspark.sql import functions as F

    plan = (
        store.df.where(F.col("id") > 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(id,7)" in plan


def _rows(store) -> dict:
    """Live rows as {id: (data, shape, meta)}; NaN-safe for equality."""
    import math

    def f(x):
        return "nan" if isinstance(x, float) and math.isnan(x) else x

    return {
        r["id"]: (
            None if r["data"] is None else tuple(f(x) for x in r["data"]),
            None if r["shape"] is None else tuple(r["shape"]),
            None if r["meta"] is None else tuple(sorted(r["meta"].items())),
        )
        for r in store.df.collect()
    }


def _netted_store(spark, path):
    """A 2-bucket store holding partials and tombstones in both buckets."""
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(6):
        store.create([float(i), 0.5], meta={"k": str(i % 3)})
    store.update(2, data=[7.0])
    store.delete(3)
    store.delete(4)
    return store


@pytest.mark.parametrize(
    "crash",
    [
        ("shutil", "rmtree", 1),  # fold staged, old bucket 0 not yet removed
        ("os", "rename", 1),  # fold staged, nothing swapped
        ("os", "rename", 2),  # bucket 0 moved aside, its fold not yet in
        ("os", "rename", 4),  # bucket 1 moved aside after bucket 0 swapped
        ("os", "remove", 1),  # every bucket swapped, marker still set
    ],
)
def test_reopen_recovers_interrupted_compact(spark, tmp_path, monkeypatch, crash):
    """A crash at any point of the fold leaves a store that, reopened,
    serves exactly the rows it held before the fold, carries no staging
    or swap leftovers, and folds cleanly afterwards."""
    import glob
    import os
    import shutil

    path = str(tmp_path / "records")
    store = _netted_store(spark, path)
    before = _rows(store)
    mod = {"os": os, "shutil": shutil}[crash[0]]
    _crash_on(monkeypatch, mod, crash[1], crash[2])
    with pytest.raises(_Crash):
        store.compact()
    monkeypatch.undo()

    reopened = RecordStore(spark, path, num_buckets=2)
    assert sorted(os.listdir(path)) == ["_tombstones", "b=0", "b=1"]
    assert _rows(reopened) == before
    assert reopened.read(2)["data"] == [7.0]
    with pytest.raises(RecordNotFound):
        reopened.read(3)
    reopened.compact()
    assert _rows(reopened) == before
    assert len(glob.glob(f"{path}/b=*/part-*.parquet")) == 2


def test_reopen_drops_half_written_partial(spark, tmp_path, monkeypatch):
    """A crash between the partial's write and its rename leaves a hidden
    file that no read sees; the reopen removes it and the update it
    belonged to simply did not happen."""
    import os

    path = str(tmp_path / "records")
    store = _netted_store(spark, path)
    before = _rows(store)
    _crash_on(monkeypatch, os, "rename", 1)
    with pytest.raises(_Crash):
        store.update(1, data=[9.0])
    monkeypatch.undo()
    bucket = os.path.join(path, "b=1")
    assert any(f.startswith(".part-") for f in os.listdir(bucket))
    assert _rows(store) == before  # invisible even before the reopen

    reopened = RecordStore(spark, path, num_buckets=2)
    assert not any(f.startswith(".part-") for f in os.listdir(bucket))
    assert _rows(reopened) == before


def test_reopen_drops_staged_bucket_rewrite(spark, tmp_path):
    """A ``b=<k>.tmp-*`` directory (a bucket rewrite staged by an older
    fold that crashed) must not hide the store's rows: reopen drops it,
    and count, read and compact work on the rows as they were."""
    import os
    import shutil

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(4):
        store.create([float(i)])
    before = _rows(store)
    shutil.copytree(os.path.join(path, "b=0"), os.path.join(path, "b=0.tmp-deadbeef"))

    reopened = RecordStore(spark, path, num_buckets=2)
    assert not os.path.exists(os.path.join(path, "b=0.tmp-deadbeef"))
    assert reopened.count() == 4
    assert reopened.read(2)["data"] == [1.0]
    reopened.compact()
    assert _rows(reopened) == before
    assert reopened._parquet_file_count() == 2


def test_compact_empties_a_bucket(spark, tmp_path):
    """Deleting every row of one bucket, then folding: the emptied bucket
    is swapped for an empty directory, so clearing the netting marker
    cannot bring its deleted rows back."""
    import os

    path = str(tmp_path / "records")
    store = RecordStore(spark, path, num_buckets=2)
    for i in range(1, 7):
        store.create([float(i)], meta={"parity": str(i % 2)})
    store.delete(2)
    store.delete_many([4, 6])
    store.compact()
    assert not os.path.isfile(store._marker)
    assert os.listdir(os.path.join(path, "b=0")) == []
    for s in (store, RecordStore(spark, path, num_buckets=2)):
        assert s.count() == 3
        assert sorted(s.df.toPandas()["id"]) == [1, 3, 5]
        for rid in (2, 4, 6):
            with pytest.raises(RecordNotFound):
                s.read(rid)
        assert s.read(3)["data"] == [3.0]
        assert s.find_by_meta("parity", "0") == []
        assert [r["id"] for r in s.find_by_meta("parity", "1")] == [1, 3, 5]
    # the store keeps working in the emptied bucket
    store.create_with_id(8, [8.0])
    assert store.read(8)["data"] == [8.0]
    assert store.count() == 4


def test_writer_parity_floats_and_nulls(spark, tmp_path):
    """Rows from the driver-side writer, from adoption of a flat file and
    from a fold net against each other exactly: awkward floats store as
    Spark's FloatType cast would, null meta/shape round-trip, and update
    and delete cancel adopted, written and folded rows alike."""
    import math
    import struct

    from pyspark.sql import functions as F

    floats = [0.1, 1 / 3, 1e39, float("nan"), -0.0, 1e-40]
    cast = (
        spark.createDataFrame([(floats,)], "x array<double>")
        .select(F.col("x").cast("array<float>").alias("x"))
        .first()["x"]
    )
    assert math.isinf(cast[2]) and cast[5] != 0.0  # overflow and subnormal

    def bits(xs):
        return [
            "nan" if math.isnan(x) else struct.pack("<f", x).hex() for x in xs
        ]

    # adopted rows: a plain Spark parquet write of the FloatType cast,
    # two of them with null meta / null shape
    path = str(tmp_path / "records")
    spark.createDataFrame(
        [
            (1, floats, [6], {"src": "flat"}),
            (2, [1.0], None, {"src": "flat"}),
            (3, [2.0], [1], None),
        ],
        "id bigint, data array<double>, shape array<bigint>, meta map<string,string>",
    ).withColumn("data", F.col("data").cast("array<float>")).coalesce(1).write.parquet(path)
    store = RecordStore(spark, path, num_buckets=2)
    store.create_with_id(4, floats)
    for rid in (1, 4):  # pass-through reads: stored bits, no netting
        assert bits(store.read(rid)["data"]) == bits(cast)
    assert store.read(2)["shape"] is None and store.read(3)["meta"] is None

    # negations of adopted rows (awkward floats, null shape, null meta)
    store.update(1, meta={"src": "updated"})
    store.delete(2)
    store.update(3, data=[3.0])
    store.delete(4)
    assert _rows(store) == {
        1: (tuple("nan" if math.isnan(x) else x for x in cast), (6,), (("src", "updated"),)),
        3: ((3.0,), (1,), ()),  # an update writes meta {} for null
    }

    # negations of folded rows
    store.create_with_id(5, floats, meta={"src": "new"})
    store.compact()
    before = _rows(store)
    store.update(5, meta={"src": "again"})
    store.delete(3)
    store.update(1, data=floats)
    after = _rows(store)
    assert set(after) == {1, 5}
    assert after[1] == before[1] and after[5][0] == before[5][0]
    assert after[5][2] == (("src", "again"),)
    store.delete(1)
    store.delete(5)
    assert store.count() == 0


def _canon(row):
    """A row as a comparable tuple: NaN-safe, meta order-free."""
    if row is None:
        return None
    return (
        row["id"],
        None if row["data"] is None else tuple("nan" if x != x else x for x in row["data"]),
        None if row["shape"] is None else tuple(row["shape"]),
        None if row["meta"] is None else tuple(sorted(row["meta"].items())),
    )


@pytest.mark.parametrize("seed", [5, 31])
def test_driver_lookup_matches_live_view(spark, tmp_path, seed):
    """The driver-side point lookup serves exactly what the Spark live
    view holds: after every step of a random create / create_with_id /
    update / delete / delete_many / compact / reopen sequence, read(id)
    equals the id's row in ``_live()`` — or both are absent — for every
    id ever used, on awkward floats and on adopted rows with null meta
    and null shape."""
    import numpy as np
    from pyspark.sql import functions as F

    floats = [0.1, 1 / 3, 1e39, float("nan"), -0.0, 1e-40]
    path = str(tmp_path / "records")
    spark.createDataFrame(
        [
            (1, floats, [6], {"src": "flat"}),
            (2, [1.0, -0.0], None, {"src": "flat"}),
            (3, [float("nan")], [1], None),
            (4, [], None, None),
        ],
        "id bigint, data array<double>, shape array<bigint>, meta map<string,string>",
    ).withColumn("data", F.col("data").cast("array<float>")).coalesce(1).write.parquet(path)
    rng = np.random.default_rng(seed)
    store = RecordStore(spark, path, num_buckets=4)
    live, used = {1, 2, 3, 4}, {1, 2, 3, 4}

    def data():
        return [floats[i] for i in rng.integers(0, len(floats), int(rng.integers(0, 4)))]

    def check():
        ids = sorted(used)
        rows: dict = {}
        for r in (
            store._live()
            .where(
                F.col("b").isin(sorted({store._bucket(i) for i in ids}))
                & F.col("id").isin(ids)
            )
            .drop("b")
            .collect()
        ):
            assert r["id"] not in rows  # one live version per id
            rows[r["id"]] = r
        assert set(rows) == live
        for rid in ids:
            try:
                got = store.read(rid)
            except RecordNotFound:
                got = None
            assert _canon(got) == _canon(rows.get(rid)), rid

    def pick(pool):
        return int(rng.choice(sorted(pool)))

    check()
    for step in range(20):
        op = rng.choice(
            ["create", "create_id", "update", "delete", "delete_many", "compact", "reopen"],
            p=[0.2, 0.15, 0.25, 0.12, 0.08, 0.1, 0.1],
        )
        if op == "create":
            rid = store.create(data(), meta={"s": str(step)})
            live.add(rid)
            used.add(rid)
        elif op == "create_id":
            rid = pick(used | {100, 101, 102})
            used.add(rid)
            if rid in live:
                with pytest.raises(IdCollision):
                    store.create_with_id(rid, data())
            else:
                store.create_with_id(rid, data(), meta={"c": str(step)})
                live.add(rid)
        elif op == "update":
            rid = pick(live if live and rng.random() < 0.8 else used)
            if rid in live:
                store.update(rid, data=data() if rng.random() < 0.5 else None)
            else:
                with pytest.raises(RecordNotFound):
                    store.update(rid, data=[1.0])
        elif op == "delete":
            rid = pick(live if live and rng.random() < 0.8 else used)
            if rid in live:
                store.delete(rid)
                live.discard(rid)
            else:
                with pytest.raises(RecordNotFound):
                    store.delete(rid)
        elif op == "delete_many":
            ids = [int(i) for i in rng.choice(sorted(used), 2)]
            store.delete_many(ids)
            live.difference_update(ids)
        elif op == "compact":
            store.compact()
        else:
            store = RecordStore(spark, path, num_buckets=4)
        check()


def test_point_ops_start_no_spark_job(spark, tmp_path):
    """read, update, delete and the create-with-id collision checks run
    from the driver even on a netted store (tombstone marker set): they
    start no Spark job. compact still runs on Spark."""
    import os

    store = RecordStore(spark, str(tmp_path / "records"), num_buckets=2)
    for i in range(5):
        store.create([float(i)], meta={"k": str(i)})
    store.delete(5)
    assert os.path.isfile(store._marker)
    sc = spark.sparkContext

    def jobs(tag, fn):
        sc.setJobGroup(tag, tag)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    def point_ops():
        assert store.read(1)["data"] == [0.0]
        store.update(2, data=[9.0])
        store.delete(3)
        with pytest.raises(RecordNotFound):
            store.read(3)
        store.create_with_id(3, [3.0])
        with pytest.raises(IdCollision):
            store.create_with_id(1, [1.0])
        with pytest.raises(IdCollision):
            store.create_many_with_id({7: [7.0], 4: [4.0]})
        store.create_many_with_id({7: [7.0], 8: [8.0]})

    assert jobs("store-point-ops", point_ops) == 0
    assert jobs("store-compact", store.compact) >= 1
    assert {r["id"]: r["data"] for r in store.df.collect()} == {
        1: [0.0], 2: [9.0], 3: [3.0], 4: [3.0], 7: [7.0], 8: [8.0]
    }


@pytest.mark.parametrize("seed", [3, 17])
def test_tiered_fold_random_ops_match_dict_model(spark, tmp_path, seed):
    """Both fold tiers serve the same rows. On a base of wide vectors
    plus adopted rows with awkward floats (NaN, -0.0, overflow to inf,
    subnormal), null meta and null shape, a random sequence of point
    writes, delete_many, folds, bulk creates of wide rows (which push a
    bucket's delta past its share of the base, so the next fold
    rewrites it on Spark) and reopens must leave, after every step,
    ``df`` equal to a dict model and ``read(id)`` equal to the id's row
    in ``_live()``. A fold starts a Spark job exactly when it rewrites a
    base, both tiers run, and the netting marker is off exactly when no
    bucket holds a delta."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sum_spark import store as store_mod

    floats = [0.1, 1 / 3, 1e39, float("nan"), -0.0, 1e-40]
    cast = (
        spark.createDataFrame([(floats,)], "x array<double>")
        .select(F.col("x").cast("array<float>").alias("x"))
        .first()["x"]
    )
    rng = np.random.default_rng(seed)

    def wide():
        return rng.standard_normal(1024).astype(np.float32).tolist()

    model: dict[int, tuple] = {i: (wide(), [1024], {"src": "flat"}) for i in range(1, 81)}
    model[81] = (cast, None, {"src": "flat"})
    model[82] = ([cast[3]], [1], None)
    model[83] = ([], None, None)
    model[84] = ([cast[4], 1.0], [2], {})
    path = str(tmp_path / "records")
    os.makedirs(path)
    ids = sorted(model)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "data": pa.array([model[i][0] for i in ids], pa.list_(pa.float32())),
                "shape": pa.array([model[i][1] for i in ids], pa.list_(pa.int64())),
                "meta": pa.array(
                    [None if model[i][2] is None else list(model[i][2].items()) for i in ids],
                    pa.map_(pa.string(), pa.string()),
                ),
            }
        ),
        os.path.join(path, "flat.parquet"),
    )
    store = RecordStore(spark, path, num_buckets=2)
    store.compact()  # the adopted rows become each bucket's base
    used = set(model)

    def data():
        return [cast[i] for i in rng.integers(0, len(cast), int(rng.integers(0, 4)))]

    def pick(pool):
        return int(rng.choice(sorted(pool)))

    def layout():
        """Per bucket: (base names, delta names)."""
        out = {}
        for bucket, d in store._bucket_dirs().items():
            names = store_mod._base_names(d)
            out[bucket] = (names, set(store_mod._data_files(d)) - names)
        return out

    def check():
        want = {rid: _canon({"id": rid, "data": d, "shape": s, "meta": m})
                for rid, (d, s, m) in model.items()}
        assert {r["id"]: _canon(r) for r in store.df.collect()} == want
        live = {
            r["id"]: r
            for r in store._live().where(F.col("id").isin(sorted(used))).drop("b").collect()
        }
        for rid in sorted(used):
            try:
                got = store.read(rid)
            except RecordNotFound:
                got = None
            assert _canon(got) == _canon(live.get(rid)), rid

    tiers = []
    check()
    for step in range(24):
        op = rng.choice(
            ["create", "create_id", "update", "delete", "delete_many", "grow", "compact",
             "reopen"],
            p=[0.14, 0.1, 0.18, 0.08, 0.06, 0.06, 0.3, 0.08],
        )
        if op == "create":
            d = data()
            rid = store.create(d, meta={"s": str(step)})
            model[rid] = (d, [len(d)], {"s": str(step)})
            used.add(rid)
        elif op == "create_id":
            rid = pick(used | {100, 101, 102})
            used.add(rid)
            if rid in model:
                with pytest.raises(IdCollision):
                    store.create_with_id(rid, data())
            else:
                d = data()
                store.create_with_id(rid, d, meta={"c": str(step)})
                model[rid] = (d, [len(d)], {"c": str(step)})
        elif op == "update" and model:
            rid = pick(model)
            d = data() if rng.random() < 0.5 else None
            m = {"u": str(step)} if rng.random() < 0.5 else None
            store.update(rid, data=d, meta=m)
            old_d, old_s, old_m = model[rid]
            d = old_d if d is None else d
            model[rid] = (d, old_s or [len(d)], (old_m or {}) if m is None else m)
        elif op == "delete" and model:
            rid = pick(model)
            store.delete(rid)
            del model[rid]
        elif op == "delete_many":
            rids = [int(i) for i in rng.choice(sorted(used), 2)]
            store.delete_many(rids)
            for rid in rids:
                model.pop(rid, None)
        elif op == "grow":
            rows = {max(used) + 1 + i: wide() for i in range(8)}
            store.create_many_with_id(rows)
            model.update({rid: (d, [1024], {}) for rid, d in rows.items()})
            used.update(rows)
        elif op == "compact":
            marked, before = os.path.isfile(store._marker), layout()
            jobs = _jobs(spark, f"tiered-fold-{seed}-{step}", store.compact)
            after = layout()
            rewrote = any(after[b][0] != names for b, (names, _) in before.items())
            assert (jobs > 0) == rewrote, (jobs, before, after)
            if before != after:
                tiers.append(rewrote)
            delta_left = any(delta for _, delta in after.values())
            assert os.path.isfile(store._marker) == (marked and delta_left)
        elif op == "reopen":
            store = RecordStore(spark, path, num_buckets=2)
        check()
    assert True in tiers and False in tiers, tiers
