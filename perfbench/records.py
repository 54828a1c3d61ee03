"""The records workload's inputs and its shadow model.

``make_table`` and ``make_script`` turn a seed into the seeded store
contents and the op script; ``Shadow`` is the in-memory model that both
picks valid op targets while the script is generated and checks every
result while it runs. Plain numpy: nothing here touches Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 20_000
DIM = 64
LABELS = 100
SOURCES = 5
PER_PAGE = 20
TOP_K = 20
ZIPF_S = 1.1
# One pass: a fixed op sequence; the seed picks targets and payloads.
# The mix is an assumption, not measured traffic: neither the reference
# nor its docs give a read:write ratio. A pass holds every op kind the
# reference serves, one write of each kind, more point reads than
# writes, and exactly one fold of the store, in as few ops as that
# allows, so that several passes fit in one run.
# Each write appends one file; with a threshold of two extra files,
# every pass's create folds the store, at the same op in every pass.
# The update marks tombstones, so the reads, the findSimilar and the
# delete after it pay the netting; the read and meta page after the
# fold are clean.
PASS_KINDS = (
    "update", "read", "similar", "read", "delete", "read", "create", "read", "meta",
)
# Set-up runs one whole pass, so the first timed pass does not pay
# first-call costs (a cold pass took 10-20% longer).
WARMUP_KINDS = PASS_KINDS
# A fold rewrites every bucket, one Spark job each: 2 buckets fold in
# about 2 s, where 4 take about 3 s and the store's default 16 about
# 7 s (4-core host). With 2, a pass takes about 7 s.
NUM_BUCKETS = 2
AUTO_COMPACT_AFTER = 2
WRITES = ("create", "update", "delete")

# The stored findSimilar procedure, registered from source text.
SIMILAR_NAME = "find_similar_top20"
SIMILAR_CODE = f'''
def {SIMILAR_NAME}(records, probe_id):
    from sum_spark.operators.similarity import find_similar
    return find_similar(records, probe_id, -1.0, k={TOP_K})
'''


def _meta(rng) -> dict[str, str]:
    return {
        "label": f"l{int(rng.integers(LABELS))}",
        "source": f"s{int(rng.integers(SOURCES))}",
    }


class Shadow:
    """Live records as numpy rows: id -> (float32 vector, meta)."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, metas: list[dict]):
        self.row = {int(i): k for k, i in enumerate(ids)}
        self.ids = np.array(ids, dtype=np.int64)
        self.vecs = np.array(vecs, dtype=np.float32)
        self.metas = list(metas)
        self.live = np.ones(len(self.ids), dtype=bool)
        self.seeded = len(self.ids)  # rows before the first create
        self.next_id = int(self.ids.max()) + 1

    # -- mutations (mirror RecordStore semantics) ----------------------------

    def create(self, vec, meta) -> int:
        rid = self.next_id
        self.next_id += 1
        self.row[rid] = len(self.ids)
        self.ids = np.append(self.ids, rid)
        self.vecs = np.vstack([self.vecs, np.asarray(vec, np.float32)[None, :]])
        self.metas.append(dict(meta))
        self.live = np.append(self.live, True)
        return rid

    def update(self, rid: int, vec) -> None:
        self.vecs[self.row[rid]] = np.asarray(vec, np.float32)

    def delete(self, rid: int) -> None:
        self.live[self.row[rid]] = False

    # -- target choice (script generation) -----------------------------------

    def hot_id(self, rng) -> int:
        """Zipf-skewed over live ids by recency. Creates take the next
        id, so the newest live record is the highest id: rank 1."""
        order = self.ids[self.live][::-1]
        p = np.arange(1, len(order) + 1, dtype=np.float64) ** -ZIPF_S
        return int(order[rng.choice(len(order), p=p / p.sum())])

    def cold_id(self, rng) -> int:
        """Uniform over the live seeded records."""
        ids = self.ids[: self.seeded][self.live[: self.seeded]]
        return int(ids[rng.integers(len(ids))])

    # -- expected results (checks) -------------------------------------------

    def apply(self, op: tuple) -> None:
        kind = op[0]
        if kind == "create":
            self.create(op[1], op[2])
        elif kind == "update":
            self.update(op[1], op[2])
        elif kind == "delete":
            self.delete(op[1])

    def expect_read(self, rid: int) -> tuple[np.ndarray, dict]:
        k = self.row[rid]
        return self.vecs[k], self.metas[k]

    def expect_meta_page(self, value: str, page: int) -> list[int]:
        ids = sorted(
            int(i) for i, m, ok in zip(self.ids, self.metas, self.live)
            if ok and m.get("label") == value
        )
        return ids[(page - 1) * PER_PAGE : page * PER_PAGE]

    def cosines(self, probe: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, cosine) of every live record except the probe, float64."""
        mask = self.live.copy()
        mask[self.row[probe]] = False
        m = self.vecs[mask].astype(np.float64)
        p = self.vecs[self.row[probe]].astype(np.float64)
        denom = np.linalg.norm(m, axis=1) * np.linalg.norm(p)
        sims = np.where(denom == 0, 0.0, (m @ p) / np.where(denom == 0, 1, denom))
        return self.ids[mask], sims


def check_read(shadow: Shadow, rid: int, row) -> str | None:
    vec, meta = shadow.expect_read(rid)
    if row["id"] != rid:
        return f"read {rid}: got id {row['id']}"
    if not np.array_equal(np.asarray(row["data"], np.float32), vec):
        return f"read {rid}: data differs from the shadow"
    if dict(row["meta"] or {}) != meta:
        return f"read {rid}: meta {dict(row['meta'] or {})} != {meta}"
    return None


def check_meta_page(shadow: Shadow, value: str, page: int, rows) -> str | None:
    want = shadow.expect_meta_page(value, page)
    got = [r["id"] for r in rows]
    if got != want:
        return f"meta label={value} page {page}: ids {got[:5]}.. != {want[:5]}.."
    for r in rows:
        err = check_read(shadow, r["id"], r)
        if err:
            return err
    return None


def check_similar(shadow: Shadow, probe: int, rows, tol: float = 1e-6) -> str | None:
    """Top-k by cosine against numpy brute force. Each returned sim must
    match the shadow's, the list must be sorted, and nothing left out
    may beat the k-th returned sim by more than ``tol``."""
    ids, sims = shadow.cosines(probe)
    by_id = dict(zip(ids.tolist(), sims.tolist()))
    if len(rows) != min(TOP_K, len(ids)):
        return f"similar {probe}: {len(rows)} rows"
    got = [(r[0], r[1]) for r in rows]
    for rid, sim in got:
        if rid not in by_id or abs(by_id[rid] - sim) > tol:
            return f"similar {probe}: id {rid} sim {sim} vs {by_id.get(rid)}"
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        return f"similar {probe}: not sorted by sim"
    kth = got[-1][1]
    chosen = {rid for rid, _ in got}
    best_left = max((s for i, s in by_id.items() if i not in chosen), default=-2.0)
    if best_left > kth + tol:
        return f"similar {probe}: missed a record with sim {best_left} > {kth}"
    return None


def check_op(shadow: Shadow, op: tuple, out) -> str | None:
    """Check one op's result ``out`` against the shadow, before the op
    is applied to it. Updates and deletes return nothing; their effect
    is checked by the reads, pages and top-k that follow."""
    kind = op[0]
    if kind == "read":
        return check_read(shadow, op[1], out)
    if kind == "create":
        return None if out == shadow.next_id else f"create: id {out}, expected {shadow.next_id}"
    if kind == "meta":
        return check_meta_page(shadow, op[1], op[2], out)
    if kind == "similar":
        return check_similar(shadow, op[1], out)
    return None


def make_table(seed: int) -> tuple[pa.Table, Shadow]:
    """The seeded store contents: ids 1..N_ROWS, uniform [0,1) float32
    vectors (the reference's records), shape [DIM], a small meta map."""
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, N_ROWS + 1, dtype=np.int64)
    vecs = rng.random((N_ROWS, DIM), dtype=np.float32)
    metas = [_meta(rng) for _ in range(N_ROWS)]
    offsets = pa.array(np.arange(0, (N_ROWS + 1) * DIM, DIM, dtype=np.int32))
    table = pa.table(
        {
            "id": ids,
            "data": pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1))),
            "shape": pa.array([[DIM]] * N_ROWS, type=pa.list_(pa.int64())),
            "meta": pa.array(
                [list(m.items()) for m in metas], type=pa.map_(pa.string(), pa.string())
            ),
        }
    )
    return table, Shadow(ids, vecs, metas)


def write_table(table: pa.Table, store_dir: str) -> None:
    """One flat parquet file: RecordStore adopts it on open."""
    pq.write_table(table, f"{store_dir}/seed.parquet")


def _op(kind: str, shadow: Shadow, rng) -> tuple:
    if kind == "read":
        return ("read", shadow.hot_id(rng))
    if kind == "create":
        return ("create", rng.random(DIM, dtype=np.float32), _meta(rng))
    if kind == "update":
        return ("update", shadow.hot_id(rng), rng.random(DIM, dtype=np.float32))
    if kind == "delete":
        return ("delete", shadow.cold_id(rng))
    if kind == "meta":
        return ("meta", f"l{int(rng.integers(LABELS))}", int(rng.integers(1, 4)))
    return ("similar", shadow.hot_id(rng))


def make_script(seed: int, passes: int) -> tuple[list[tuple], list[list[tuple]]]:
    """(warm-up ops, timed passes), generated against a shadow of the
    seeded table so every op is valid when it runs in order."""
    _, shadow = make_table(seed)
    rng = np.random.default_rng([seed, 2])

    def block(kinds) -> list[tuple]:
        ops = []
        for kind in kinds:
            op = _op(kind, shadow, rng)
            shadow.apply(op)
            ops.append(op)
        return ops

    warm = block(WARMUP_KINDS)
    return warm, [block(PASS_KINDS) for _ in range(passes)]


def user_bytes(vec_len: int, meta: dict) -> int:
    """Payload bytes of one record: id, float32 data, one shape dim, meta."""
    return 8 + 4 * vec_len + 8 + sum(len(k) + len(v) for k, v in meta.items())
