"""RecordStore — CRUD parity with the reference's record service
(/root/reference/node/service/records.go + node/storage/index.go), built
on a Parquet-backed canonical ``records`` DataFrame.

Data model (SURVEY §1.3): one table with schema
    id BIGINT, data ARRAY<FLOAT>, shape ARRAY<BIGINT>, meta MAP<STRING,STRING>

Semantics preserved from the reference:
- sequential id allocation: next id = max(id)+1, computed at open and
  advanced per create (nextID, node/storage/index.go:39-43, 154-172);
- default shape = [len(data)] when absent (node/storage/records.go:126-129);
- create-with-id fails on collision; bulk create rolls back on partial
  failure (node/storage/index.go:174-218);
- find-by-meta is exact key=value equality (node/storage/records.go:103-123)
  — served here by a pushed-down predicate instead of an inverted index;
- list is ordered by id with page/per_page + total (node/service/records.go:66-114).

Storage engine: Hive-partitioned Parquet, ``b=<id % NUM_BUCKETS>/``,
MERGE-ON-READ (VERDICT r6 #2 — the deletion-as-negation pattern proven
on the PQ/IVF and inverted indexes, operators/similarity.py:803 and
operators/search.py:444, applied to the base table). Every row carries
a weight ``w``: creates append w=+1; ``delete`` appends the stored row
again with w=-1 (bit-identical — floats/longs/strings round-trip the
point read exactly, so the negation cancels in the netting group);
``update`` appends the old row with w=-1 plus the new row with w=+1.
Mutations are therefore O(rows touched) APPENDS — no bucket rewrite,
no read-modify-write race window, and a changed row nets to exactly
its new version. The live view (``_live``) nets w per full row content
and keeps positive sums; a bucket/id filter on it still prunes to the
id's bucket directory because the partition column is a grouping key
(the filter pushes below the aggregate — the pq_index_rows plan shape).
A ``_tombstones`` marker file, written by the first mutation and removed
by ``compact``, lets a never-mutated table skip the netting aggregate
entirely (ADVICE r6 #4).

Point operations bypass Spark. Like the reference, which persists a
record by writing its file directly (node/storage/saver.go:12-20), a
mutation's partials are written from the driver with pyarrow: one
parquet file per touched bucket, under a hidden ``.part-*.tmp`` name
that Spark's listing skips, then renamed into place, so each partial
file appears whole or not at all. Point lookups — ``read``, the read
before ``update``/``delete``, and the collision checks of the
create-with-id calls — read the id's bucket files from the driver too
(``_lookup``: id filter pushed into the pyarrow scan, then the same
netting rule as ``_live``, with Spark's grouping equality for floats),
as the reference serves Read from memory (node/storage/index.go). A
point operation thus pays no Spark job, no Python worker, no query
planning and no commit protocol. Scans — ``df``, ``list``,
``find_by_meta``, ``count`` — and ``delete_many``, ``compact`` and
adoption stay Spark jobs on the ``_live`` view. ``compact()`` folds
every bucket's partials in ONE Spark write into a hidden ``_compact-*``
staging directory, then swaps each bucket in by rename; opening the store
repairs whatever an interrupted fold or write left behind. Unlike the
reference's one file per record, append-only partials plus periodic
compaction bound file count AND rewrite amplification. The store
assumes a local POSIX path (listing, rename, the marker file). A
transactional table format (Delta/Iceberg, gated by
sources.formats.delta_available) would add MERGE/ACID on top of the
same layout.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

RECORD_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("data", ArrayType(FloatType()), True),
        StructField("shape", ArrayType(LongType()), True),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

# Write-side schema: the merge-on-read weight rides every row (+1 live
# partial, -1 tombstone partial).
_WRITE_SCHEMA = StructType([*RECORD_SCHEMA.fields, StructField("w", IntegerType(), True)])

# Read-side schema: the bucket is a Hive partition column. Files written
# before the merge-on-read layout (or adopted flat files) lack ``w`` and
# read as null -> coalesced to +1.
_READ_SCHEMA = StructType([*_WRITE_SCHEMA.fields, StructField("b", IntegerType(), True)])

# The Arrow form of _WRITE_SCHEMA, for partials written from the driver.
_ARROW_WRITE_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("data", pa.list_(pa.float32())),
        pa.field("shape", pa.list_(pa.int64())),
        pa.field("meta", pa.map_(pa.string(), pa.string())),
        pa.field("w", pa.int32()),
    ]
)

# A bucket directory, and what an interrupted fold leaves beside one.
_BUCKET_DIR = re.compile(r"b=-?\d+")
_SWAP_LEFTOVER = re.compile(r"(b=-?\d+)\.(old|tmp)-\w+")

NUM_BUCKETS = 16


class RecordNotFound(KeyError):
    """Read/update/delete of an absent id (≡ 'record not found' RPC error)."""


class IdCollision(ValueError):
    """CreateWithId on an existing id (node/storage/index.go:183-186)."""


class RecordStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = NUM_BUCKETS,
        auto_compact_after: int | None = None,
    ):
        """``auto_compact_after`` (VERDICT r7 #8): when set, any write —
        create, update, or delete — that leaves more than
        ``num_buckets + auto_compact_after`` parquet files on disk
        triggers :meth:`compact` inline — the threshold that keeps a
        long-lived store's reads from degrading unboundedly (every
        write appends at least one partial file; an insert-heavy store
        hits the small-files pathology without any tombstone ever
        existing, so creates count too). Compaction folds back to one
        file per bucket and clears the netting marker. The trigger
        measures the ON-DISK file count, not an in-process counter, so
        it survives reopen. None (default) keeps compaction manual —
        the store is single-writer by contract either way, so the
        inline fold is safe whenever a write is."""
        self.spark = spark
        self.path = path
        self.num_buckets = int(num_buckets)
        self.auto_compact_after = (
            int(auto_compact_after) if auto_compact_after is not None else None
        )
        os.makedirs(path, exist_ok=True)
        self._recover()
        self._adopt_flat_files()
        self._next_id = int(self._df_or_empty().agg(F.max("id")).first()[0] or 0) + 1

    # -- internals ----------------------------------------------------------

    def _adopt_flat_files(self) -> None:
        """One-time adoption of an unbucketed parquet directory (e.g. a
        table written by a plain ``df.write.parquet``): move top-level
        files into the ``b=`` layout so bucket pruning and O(delta)
        mutations hold. The analog of the reference's startup directory
        scan (node/storage/loader.go:20-46) — it pays the read once, at
        open, not per mutation."""
        flat = [
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(self.path, f))
        ]
        if not flat:
            return
        df = self.spark.read.schema(RECORD_SCHEMA).parquet(*flat)
        df.withColumn("b", (F.col("id") % self.num_buckets).cast("int")).write.mode(
            "append"
        ).partitionBy("b").parquet(self.path)
        for f in flat:
            os.remove(f)

    def _bucket(self, rid: int) -> int:
        return int(rid) % self.num_buckets

    def _bucket_dir(self, bucket: int) -> str:
        return os.path.join(self.path, f"b={bucket}")

    def _df_or_empty(self) -> DataFrame:
        try:
            return self.spark.read.schema(_READ_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], _READ_SCHEMA)

    def _write(self, rows: list[tuple[dict, int]]) -> None:
        """Persist ``(record, weight)`` rows from the driver: one parquet
        file per touched bucket, written under a hidden name (Spark's
        listing and ``_parquet_file_count`` skip dot-files) and renamed
        into place, so each file appears whole or not at all. No Spark
        job, no Python worker, no commit protocol: a point write costs
        a file write, as in the reference (node/storage/saver.go:12-20).
        Floats land as float32 exactly as Spark's FloatType cast would
        store them, so a negation of a read row cancels bit-for-bit."""
        by_bucket: dict[int, list[dict]] = {}
        for rec, w in rows:
            by_bucket.setdefault(self._bucket(rec["id"]), []).append({**rec, "w": int(w)})
        for bucket, batch in by_bucket.items():
            d = self._bucket_dir(bucket)
            os.makedirs(d, exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(d, f".{name}.tmp")
            pq.write_table(pa.Table.from_pylist(batch, schema=_ARROW_WRITE_SCHEMA), tmp)
            os.rename(tmp, os.path.join(d, name))

    def _bucket_dirs(self) -> dict[int, str]:
        """The bucket directories on disk, by bucket: exact ``b=<int>``
        names only, never a fold's staging or swap leftovers."""
        return {
            int(entry[2:]): os.path.join(self.path, entry)
            for entry in os.listdir(self.path)
            if _BUCKET_DIR.fullmatch(entry)
        }

    def _recover(self) -> None:
        """Repair what an interrupted write or fold left behind, once at
        open: drop fold staging directories and hidden half-written
        partials; a bucket renamed aside (``b=<k>.old-*``) goes back
        when the crash came before its replacement landed and is dropped
        otherwise; staged bucket rewrites (``b=<k>.tmp-*``) are dropped.
        Each step restores the rows as they were before the crash. The
        store is single-writer, so nothing found here is still in flight."""
        for entry in sorted(os.listdir(self.path)):
            p = os.path.join(self.path, entry)
            leftover = _SWAP_LEFTOVER.fullmatch(entry)
            if entry.startswith("_compact-"):
                shutil.rmtree(p)
            elif leftover:
                target = os.path.join(self.path, leftover.group(1))
                if leftover.group(2) == "old" and not os.path.exists(target):
                    os.rename(p, target)
                else:
                    shutil.rmtree(p)
            elif _BUCKET_DIR.fullmatch(entry):
                for f in os.listdir(p):
                    if f.startswith(".part-") and f.endswith(".tmp"):
                        os.remove(os.path.join(p, f))

    # -- merge-on-read netting ------------------------------------------------

    @property
    def _marker(self) -> str:
        return os.path.join(self.path, "_tombstones")

    def _mark_tombstones(self) -> None:
        with open(self._marker, "w") as fh:
            fh.write("1")

    def _live(self, by_bucket: bool = False) -> DataFrame:
        """The netted live view: sum(w) per full row content, positive
        sums survive. ``meta`` is a MapType (not groupable), so it rides
        the aggregate as its canonical sorted entry array and reassembles
        after. Every content column plus the partition column is a
        grouping key, so bucket/id predicates push below the aggregate to
        the scan (the pq_index_rows plan shape — plan-tested). A table
        with no tombstone marker skips the aggregate: creates append
        unique live rows, so netting would be the identity. ``by_bucket``
        hash-partitions the scan by bucket first, which also satisfies
        the aggregate's distribution: one shuffle serves both the netting
        and a per-bucket write."""
        raw = self._df_or_empty()
        if by_bucket:
            raw = raw.repartition("b")
        if not os.path.isfile(self._marker):
            return raw.drop("w")
        keyed = raw.select(
            "id",
            "data",
            "shape",
            # null meta -> null entries -> null map back out; {} round-trips
            F.array_sort(F.map_entries("meta")).alias("__me"),
            "b",
            F.coalesce(F.col("w"), F.lit(1)).alias("w"),
        )
        return (
            keyed.groupBy("id", "data", "shape", "__me", "b")
            .agg(F.sum("w").alias("__w"))
            .where(F.col("__w") > 0)
            .select(
                "id",
                "data",
                "shape",
                F.map_from_entries(F.col("__me")).alias("meta"),
                "b",
            )
        )

    @staticmethod
    def _record(rid: int, data, shape=None, meta=None) -> dict:
        data = [float(x) for x in (data or [])]
        shape = [int(s) for s in shape] if shape else [len(data)]
        return {"id": int(rid), "data": data, "shape": shape, "meta": dict(meta or {})}

    # -- API ----------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """The canonical records DataFrame (the 'records' an oracle sees):
        the netted live view, partials and weights invisible."""
        return self._live().drop("b")

    def create(self, data, meta=None, shape=None) -> int:
        """Assign the next sequential id and persist (records.go:26-31)."""
        rid = self._next_id
        self._next_id += 1
        self._write([(self._record(rid, data, shape, meta), 1)])
        self._maybe_auto_compact()
        return rid

    def create_with_id(self, rid: int, data, meta=None, shape=None) -> None:
        if self._lookup([rid]):
            raise IdCollision(f"record {rid} exists")
        self._write([(self._record(rid, data, shape, meta), 1)])
        self._next_id = max(self._next_id, int(rid) + 1)
        self._maybe_auto_compact()

    def create_many_with_id(self, records: dict[int, list]) -> None:
        """Bulk create; all-or-nothing like CreateRecordsWithId
        (node/storage/index.go:188-218): collisions are checked for the
        whole batch before any write. One file per touched bucket for the
        whole batch — creates batch naturally instead of one file per
        record."""
        ids = [int(i) for i in records]
        hits = self._lookup(ids)
        if hits:
            raise IdCollision(f"record {min(hits)} exists")
        self._write([(self._record(rid, data), 1) for rid, data in records.items()])
        self._next_id = max(self._next_id, max(ids) + 1)
        self._maybe_auto_compact()

    def _lookup(self, ids) -> dict[int, Row]:
        """Live rows by id, read from the driver with pyarrow: no Spark
        job, no Python worker, no query planning — a point lookup costs
        a filtered read of the touched buckets' files, as the reference
        serves Read from its in-memory index (node/storage/index.go).
        Files are listed by Spark's rules (names starting with ``.`` or
        ``_`` are hidden), the id filter is pushed into the parquet scan,
        and files with no ``w`` (adopted) read as +1. Rows then net as
        ``_live`` nets them — sum(w) per full row content, positive sums
        survive — under Spark's grouping equality: -0.0 groups with 0.0
        and every NaN with every NaN. Returns ``{id: Row(id, data, shape,
        meta)}`` with the stored bits; null shape/meta stay null."""
        ids = sorted({int(i) for i in ids})
        files = [
            os.path.join(d, f)
            for d in (self._bucket_dir(b) for b in sorted({self._bucket(i) for i in ids}))
            if os.path.isdir(d)
            for f in sorted(os.listdir(d))
            if not f.startswith((".", "_"))
        ]
        if not files:
            return {}
        table = ds.dataset(files, schema=_ARROW_WRITE_SCHEMA, format="parquet").to_table(
            filter=ds.field("id").isin(ids)
        )
        net: dict[tuple, list] = {}
        for rec in table.to_pylist():
            data, shape, meta = rec["data"], rec["shape"], rec["meta"]
            key = (
                rec["id"],
                None if data is None else tuple("NaN" if x != x else x for x in data),
                None if shape is None else tuple(shape),
                None if meta is None else tuple(sorted(meta)),
            )
            entry = net.setdefault(key, [rec, 0])
            entry[1] += 1 if rec["w"] is None else rec["w"]
        out: dict[int, Row] = {}
        for (rid, _, _, meta), (rec, w) in net.items():
            if w > 0 and rid not in out:
                out[rid] = Row(
                    id=rid,
                    data=rec["data"],
                    shape=rec["shape"],
                    meta=None if meta is None else dict(meta),
                )
        return out

    def read(self, rid: int) -> Row:
        """Point lookup of the live row, from the driver with no Spark
        job (see :meth:`_lookup`): reads only the id's bucket directory
        and nets it as ``_live`` does, with Spark's grouping equality
        (-0.0 equals 0.0, NaN equals NaN)."""
        row = self._lookup([rid]).get(int(rid))
        if row is None:
            raise RecordNotFound(rid)
        return row

    def update(self, rid: int, data=None, meta=None, shape=None) -> None:
        """Overwrite data/meta/shape by id (record_driver.go:32-45).
        O(delta) APPEND: the old version, fetched by the driver-side
        lookup with its stored bits, goes back in with w=-1 (netting
        cancels it), the new version with w=+1 — no bucket rewrite, no
        other row touched, no Spark job."""
        old = self.read(rid)
        new = self._record(
            rid,
            data if data is not None else old["data"],
            shape if shape is not None else old["shape"],
            meta if meta is not None else old["meta"],
        )
        # marker FIRST (a crash after the -1 row but before the marker
        # would let the pass-through path serve the tombstone as live),
        # then BOTH partials in ONE file: a crash between two separate
        # appends would negate the old version with no replacement — a
        # silent delete where the caller asked for an update. Both
        # versions share the id, hence the bucket, hence the file, which
        # appears in a single rename: the pair lands whole or not at all.
        self._mark_tombstones()
        self._write([(old.asDict(), -1), (new, 1)])
        self._maybe_auto_compact()

    def delete(self, rid: int) -> None:
        """Deletion as negation: append the stored row again with w=-1
        (read() both enforces the not-found contract, records.go:117-121,
        and fetches the exact live version to negate)."""
        old = self.read(rid)
        self._mark_tombstones()  # marker first — see update()
        self._write([(old.asDict(), -1)])
        self._maybe_auto_compact()

    def delete_many(self, rids: list[int]) -> None:
        """Bulk deletion-as-negation, fully distributed: the live rows
        matching ``rids`` re-append with w=-1 straight from the netted
        view — one write job, nothing collected to the driver (absent
        ids simply match nothing, preserving the old filter semantics)."""
        ids = [int(r) for r in rids]
        buckets = sorted({self._bucket(r) for r in ids})
        self._mark_tombstones()  # marker first — see update()
        (
            self._live()
            .where(F.col("b").isin(buckets) & F.col("id").isin(ids))
            .drop("b")
            .withColumn("w", F.lit(-1))
            .withColumn("b", (F.col("id") % self.num_buckets).cast("int"))
            .write.mode("append")
            .partitionBy("b")
            .parquet(self.path)
        )
        self._maybe_auto_compact()

    def _parquet_file_count(self) -> int:
        return sum(
            1
            for d in self._bucket_dirs().values()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def _maybe_auto_compact(self) -> None:
        """Fire :meth:`compact` when accumulated partial files exceed
        the configured threshold (see __init__). Reads are identical
        before and after by compaction's construction; what changes is
        file count (one per bucket) and the netting marker (cleared)."""
        if self.auto_compact_after is None:
            return
        if self._parquet_file_count() > self.num_buckets + self.auto_compact_after:
            self.compact()

    def compact(self) -> None:
        """Fold every bucket's accumulated partials (create-appends and
        tombstones) into one netted file per bucket — the maintenance
        job that bounds file count and removes the per-read netting work
        (the tombstone marker comes off afterwards, so reads return to
        the pass-through path). ONE Spark write, with a single shuffle
        by bucket whatever the bucket count, puts the live view into a
        hidden staging directory; each bucket is then swapped in by
        rename. A bucket with no live row
        left is swapped for an empty directory: were its old partials
        kept, clearing the marker would serve its deleted rows again.
        A crash at any point leaves a state that reads the same rows and
        that ``_recover`` repairs at the next open."""
        buckets = self._bucket_dirs()
        staging = os.path.join(self.path, f"_compact-{uuid.uuid4().hex}")
        self._live(by_bucket=True).write.partitionBy("b").parquet(staging)
        for bucket, target in sorted(buckets.items()):
            folded = os.path.join(staging, f"b={bucket}")
            os.makedirs(folded, exist_ok=True)
            old = f"{target}.old-{uuid.uuid4().hex[:8]}"
            os.rename(target, old)
            os.rename(folded, target)
            shutil.rmtree(old)
        if os.path.isfile(self._marker):
            os.remove(self._marker)
        shutil.rmtree(staging)

    def list(self, page: int = 1, per_page: int = 10) -> tuple[int, list[Row]]:
        """Ordered pagination returning (total, rows)
        (node/service/records.go:66-114; sort by id at 96-99)."""
        df = self.df
        total = df.count()
        rows = (
            df.orderBy("id").offset(max(0, (page - 1) * per_page)).limit(per_page).collect()
        )
        return total, rows

    def list_after(self, last_id: int | None = None, per_page: int = 10) -> list[Row]:
        """Keyset pagination (VERDICT r8 #6): the page strictly after
        ``last_id`` in id order (None starts at the beginning). Page
        through with ``rows[-1]["id"]`` as the next ``last_id``; an empty
        list ends the walk. Equivalent row stream to :meth:`list`, but
        the ``id > last_id`` predicate pushes into the parquet scan, so
        every page costs O(page) instead of the offset form's O(offset)
        re-sort — the shape to use for a deep walk over a large store.
        (The offset form stays for reference parity:
        node/service/records.go:66-114 paginates by page number.)"""
        df = self.df
        if last_id is not None:
            df = df.where(F.col("id") > int(last_id))
        return df.orderBy("id").limit(per_page).collect()

    def find_by_meta_df(self, key: str, value: str) -> DataFrame:
        """Exact meta equality (records.go:103-123) as a lazy DataFrame —
        the scale-safe surface: nothing materializes on the driver. The
        reference keeps an inverted index; here the predicate pushes into
        the parquet scan (partition-prunable if the table is partitioned
        by hot meta keys)."""
        return self.df.where(F.col("meta")[key] == value)

    def find_by_meta(
        self, key: str, value: str, page: int = 1, per_page: int = 1000
    ) -> list[Row]:
        """Paginated materialization of :meth:`find_by_meta_df`. A hot meta
        value at 100 TB can match millions of rows; the collect is bounded
        to one page (default 1000) like :meth:`list` — never unbounded."""
        return (
            self.find_by_meta_df(key, value)
            .orderBy("id")
            .offset(max(0, (page - 1) * per_page))
            .limit(per_page)
            .collect()
        )

    def count(self) -> int:
        return self.df.count()
