"""The workloads. Each one makes its inputs (benchmark-side, not
timed), sets up the program (timed into setup_s), runs passes over its
op list and checks every output.

A workload talks to the program only through ``sum_spark``'s public
functions, and every such call goes through ``Bench.call`` so a traced
run can put a span and a Spark job group around it.
"""

from __future__ import annotations

import os
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import records as rec
from measure import add_into, capacity_ticks, steal_ticks

# Three of the 20 LLM-data entries and one relational entry: for each
# layer a pass must exercise, the entry that exercises it at the least
# cost per pass (sf0.1, 4 cores). All 20 and the olap entries would
# take minutes per pass, and a run must fit several passes.
LLM_ENTRIES = (
    "embed_quantize",  # construct-heavy: Spark jobs started inside fn()
    "assign_ids",  # runs Python workers: the functions layer
    "text_pii",  # text operators, execute-bound
    "q06_join_multiway_agg",  # joins and a shuffle aggregate (AQE)
)
# One-time index builds take 10-30 s each, more than a whole run may
# add to set-up, so a traced run builds them once after its passes,
# and times the construct of two more construct-heavy entries.
LLM_TRACE_BUILDS = ("bm25_search", "dedup_incremental", "pack_sequences")
LLM_TRACE_CONSTRUCTS = ("dedup_clusters", "text_profile")

STREAM_BATCHES = 2
STREAM_PROBES = 1000  # of the 2,000 sf0.1 embeddings
STREAM_DOCS = 2500  # of the 5,000 sf0.1 documents
STREAM_K = 10
PQ_M = 4
PQ_CODES = 16
DOC_SCHEMA = "doc_id long, source string, text string"


class Bench:
    """State of one benchmark run, shared by the workload and the run
    loop: the session, counters, latencies and per-layer totals."""

    def __init__(self, spark, tables: str, tracer, stats):
        self.spark = spark
        self.tables = tables
        self.tracer = tracer
        self.stats = stats  # measure.StatusStore, or None untraced
        self.traced = False  # calls get spans and job groups
        self.attempted = 0
        self.failed = 0
        self.excluded_s = 0.0  # benchmark-side time: oracle and shadow checks
        self.op_ms: list[float] = []
        # the current pass's timed ops: position -> (wall, stolen ticks,
        # capacity ticks), for measure.undisturbed_pass_s
        self.pass_ops: dict[int, tuple[float, int, float]] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.spark_tot: dict[str, float] = {}
        self.execute_wall = 0.0
        self.trace_overhead = 0.0  # bookkeeping time of traced calls
        self._ops = 0

    def check(self, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            print(f"CHECK FAILED: {err}", flush=True)

    def mark(self) -> tuple[float, float, int]:
        return time.perf_counter(), self.trace_overhead, steal_ticks()

    def since(self, mark: tuple[float, float, int]) -> float:
        """Seconds since ``mark``, less the tracing bookkeeping in them."""
        return time.perf_counter() - mark[0] - (self.trace_overhead - mark[1])

    def op_done(self, pos: int, mark: tuple[float, float, int]) -> float:
        """Record the op at position ``pos`` of a pass, started at
        ``mark``: its latency, and the host steal during it. Returns
        its wall time."""
        wall = self.since(mark)
        stolen = steal_ticks() - mark[2]
        self.op_ms.append(wall * 1e3)
        self.pass_ops[pos] = (wall, stolen, capacity_ticks(time.perf_counter() - mark[0]))
        return wall

    def note(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def call(self, layer: str, fn, *args, op: str | None = None, execute: bool = False):
        """One call into a program layer. Traced, it runs under its own
        span and job group and its stages are added to the Spark
        totals. ``execute`` marks calls whose wall counts as execution
        for slot utilisation."""
        if not self.traced:
            t0 = time.perf_counter()
            out = fn(*args)
            if execute:
                self.execute_wall += time.perf_counter() - t0
            return out
        self._ops += 1
        group = f"op{self._ops}.{layer}"
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(group, group)
        with self.tracer.span(layer, op=op):
            t1 = time.perf_counter()
            try:
                out = fn(*args)
            finally:
                t2 = time.perf_counter()
                sc.setJobGroup(None, None)
        if execute:
            self.execute_wall += t2 - t1
        self.trace_overhead += (t1 - t0) + (time.perf_counter() - t2)
        self.add_group(group, layer)
        return out

    def add_group(self, group: str, layer: str) -> None:
        """Add one job group's stage totals; the reading counts as
        tracing overhead."""
        t0 = time.perf_counter()
        got = self.stats.group(group)
        add_into(self.spark_tot, got)
        if layer == "queries.construct":
            self.layer["queries.construct_jobs"] = (
                self.layer.get("queries.construct_jobs", 0) + got["jobs"]
            )
        self.trace_overhead += time.perf_counter() - t0


def _table_rows(path: str) -> int:
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


class LlmPipeline:
    """LLM-data registry entries, each constructed (``fn()``) and
    executed (``count()``) once per pass, always in the same order (a
    seeded order moved each entry's time by its position). The inputs
    are the fixed-seed tables, so ``--seed`` changes nothing here. Each
    entry is checked once per run against its DuckDB oracle, in set-up,
    which then runs one warm-up pass; every pass checks its row count."""

    MIN_PASSES = 3

    def inputs(self, seed: int, work: str, tables: str) -> None:
        self.rows: dict[str, int] = {}

    def setup(self, b: Bench) -> None:
        import __spark_entry__
        from oracle_check import compare, duck_connection
        from sum_spark.queries import REGISTRY

        oracles = __spark_entry__.oracle_sql()
        t = time.perf_counter()
        con = duck_connection(b.tables)
        b.excluded_s += time.perf_counter() - t
        for name in LLM_ENTRIES:
            try:
                pdf = REGISTRY[name].fn(b.spark, b.tables).toPandas()
            except Exception:  # a failing entry counts; the run goes on
                b.check(f"{name} raised:\n{traceback.format_exc()}")
                continue
            t = time.perf_counter()
            self.rows[name] = len(pdf)
            if name not in oracles:
                b.check(f"{name}: no oracle")
            else:
                want = con.execute(oracles[name]).df()
                b.check("; ".join(compare(_Collected(pdf), want, name, strict=True)) or None)
            b.excluded_s += time.perf_counter() - t
        con.close()
        # One untimed pass, so the timed passes start warm (a cold pass
        # took 10-40% longer).
        self.run_pass(b)

    def run_pass(self, b: Bench) -> None:
        from sum_spark.queries import REGISTRY

        construct = execute = 0.0
        for pos, name in enumerate(LLM_ENTRIES):
            start = b.mark()
            try:
                df = b.call("queries.construct", REGISTRY[name].fn, b.spark, b.tables, op=name)
                built = b.since(start)
                n = b.call("spark.execute", df.count, op=name, execute=True)
            except Exception:  # a failing entry counts; the run goes on
                b.check(f"{name} raised:\n{traceback.format_exc()}")
                continue
            total = b.op_done(pos, start)
            construct += built
            execute += total - built
            if b.traced:
                b.note(f"queries.construct_s.{name}", built)
            want = self.rows.get(name)
            b.check(None if n == want else f"{name}: {n} rows, oracle has {want}")
        if b.traced:
            b.note("queries.construct_s", construct)
            b.note("queries.execute_s", execute)

    def trace_extras(self, b: Bench) -> None:
        from sum_spark.queries import REGISTRY

        def run(name: str) -> int:
            return REGISTRY[name].fn(b.spark, b.tables).count()

        for name in LLM_TRACE_BUILDS:
            start = b.mark()
            n = b.call("operators.first_build", run, name, op=name)
            b.layer[f"operators.first_build_s.{name}"] = b.since(start)
            b.check(None if n > 0 else f"{name}: empty result")
        for name in LLM_TRACE_CONSTRUCTS:
            n = b.call("spark.execute", run, name, op=name)  # first call warms up
            b.check(None if n > 0 else f"{name}: empty result")
            start = b.mark()
            b.call("queries.construct", REGISTRY[name].fn, b.spark, b.tables, op=name)
            b.note(f"queries.construct_s.{name}", b.since(start))

    def finish(self, b: Bench) -> None:
        pass


class _Collected:
    """A collected Spark result handed to oracle_check.compare, so the
    collect is timed as program work and the comparison is not."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Records:
    """RecordStore traffic: Zipf-skewed point reads, creates, updates,
    deletes, find_by_meta pages and a stored findSimilar, all checked
    against a shadow model. Three writes per pass fold the store exactly
    once (auto-compaction)."""

    MIN_PASSES = 2
    MAX_PASSES = 64  # far more than a run measures

    def inputs(self, seed: int, work: str, tables: str) -> None:
        self.seed, self.work = seed, work
        self.dir = os.path.join(work, "store")
        os.makedirs(self.dir)
        table, self.shadow = rec.make_table(seed)
        rec.write_table(table, self.dir)
        self.warm, self.passes = rec.make_script(seed, self.MAX_PASSES)
        self.next_pass = 0
        self.written_user = 0
        self.written_disk = 0
        self.files_max = 0
        self.netted_reads = 0
        self.reads = 0

    def setup(self, b: Bench) -> None:
        from sum_spark.registry import QueryRegistry
        from sum_spark.store import RecordStore

        self.registry = QueryRegistry()
        b.call("registry.create_source", self.registry.create_source, rec.SIMILAR_CODE)
        self.store = b.call(
            "store.open", RecordStore, b.spark, self.dir, rec.NUM_BUCKETS, rec.AUTO_COMPACT_AFTER
        )
        compact = self.store.compact

        def timed_compact():
            t0 = time.perf_counter()
            compact()
            if b.traced:
                b.note("store.compact_s", time.perf_counter() - t0)

        self.store.compact = timed_compact  # auto-compaction calls self.compact
        for op in self.warm:
            self._guarded(b, op)
        self.files = self._files()

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, names in os.walk(self.dir):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.path.getsize(p)
        return out

    def _disk_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(root, n))
            for root, _dirs, names in os.walk(self.dir)
            for n in names
        )

    def _run(self, b: Bench, op: tuple, pos: int | None) -> None:
        """One op. A pass's ops are recorded at their position ``pos``;
        warm-up ops have none. The check after it, and a traced run's
        file listing, count as benchmark-side time (``b.excluded_s``)."""
        kind = op[0]
        st = self.store
        netted = os.path.isfile(os.path.join(self.dir, "_tombstones"))
        start = b.mark()
        if kind == "read":
            out = b.call("store.read", st.read, op[1], execute=True)
        elif kind == "create":
            out = b.call("store.create", st.create, op[1].tolist(), op[2], execute=True)
        elif kind == "update":
            out = b.call("store.update", st.update, op[1], op[2].tolist(), execute=True)
        elif kind == "delete":
            out = b.call("store.delete", st.delete, op[1], execute=True)
        elif kind == "meta":
            out = b.call(
                "store.find_by_meta", st.find_by_meta, "label", op[1], op[2], rec.PER_PAGE,
                execute=True,
            )
        else:
            df = b.call("registry.run", self.registry.run, rec.SIMILAR_NAME, st.df, op[1])
            if b.traced:
                b.note("registry.run_ms", b.since(start) * 1e3)
            out = b.call("spark.execute", df.collect, execute=True)
        dt = b.since(start) if pos is None else b.op_done(pos, start)
        t = time.perf_counter()
        try:
            b.check(rec.check_op(self.shadow, op, out))
            self.shadow.apply(op)
            if b.traced:
                self._account(b, op, dt, netted)
        finally:
            b.excluded_s += time.perf_counter() - t

    def _account(self, b: Bench, op: tuple, dt: float, netted: bool) -> None:
        kind = op[0]
        sh = self.shadow
        key = {"meta": "store.find_by_meta_ms", "similar": "registry.similar_ms"}.get(kind, f"store.{kind}_ms")
        b.note(key, dt * 1e3)
        if kind == "read":
            self.reads += 1
            self.netted_reads += netted
        if kind in rec.WRITES:
            files = self._files()
            self.written_disk += sum(s for p, s in files.items() if p not in self.files)
            if kind != "delete":
                self.written_user += rec.user_bytes(rec.DIM, op[2] if kind == "create" else sh.expect_read(op[1])[1])
            self.files = files
            self.files_max = max(self.files_max, len(files))

    def run_pass(self, b: Bench) -> None:
        if self.next_pass >= len(self.passes):
            raise RuntimeError("records: op script exhausted")
        self.next_pass += 1
        for pos, op in enumerate(self.passes[self.next_pass - 1]):
            self._guarded(b, op, pos)

    def _guarded(self, b: Bench, op: tuple, pos: int | None = None) -> None:
        try:
            self._run(b, op, pos)
        except Exception:  # a failing op counts; the run goes on
            b.check(f"{op[0]} raised:\n{traceback.format_exc()}")

    def trace_extras(self, b: Bench) -> None:
        live = int(self.shadow.live.sum())
        live_bytes = sum(
            rec.user_bytes(rec.DIM, m)
            for m, ok in zip(self.shadow.metas, self.shadow.live)
            if ok
        )
        b.layer["store.space_amp"] = self._disk_bytes() / live_bytes
        b.layer["store.write_amp"] = self.written_disk / max(1, self.written_user)
        b.layer["store.files_max"] = self.files_max
        b.layer["store.netted_read_share"] = self.netted_reads / max(1, self.reads)
        b.layer["store.compactions"] = len(b.samples.get("store.compact_s", [])) / max(1, self.next_pass)
        b.check(None if live > 0 else "records: store emptied")
        StreamSinks(self.seed, self.work, b.tables).run(b)

    def finish(self, b: Bench) -> None:
        # The store's own count must agree with the shadow at the end.
        n = self.store.count()
        want = int(self.shadow.live.sum())
        b.check(None if n == want else f"records: store holds {n} rows, shadow {want}")


class StreamSinks:
    """The two streaming sinks over replayed sf0.1 inputs: embeddings as
    probe micro-batches into streaming_ann_rerank against a stored PQ
    index, then documents into streaming_corpus_state, each in
    STREAM_BATCHES seeded micro-batches. Run once, after the traced
    passes of the records workload."""

    def __init__(self, seed: int, work: str, tables: str):
        self.root = os.path.join(work, "stream")
        rng = np.random.default_rng([seed, 3])
        emb = pq.read_table(os.path.join(tables, "embeddings.parquet"), columns=["vec_id", "embedding"])
        emb = emb.set_column(1, "embedding", emb["embedding"].cast(pa.list_(pa.float64())))
        docs = pq.read_table(os.path.join(tables, "documents.parquet"), columns=["doc_id", "source", "text"])
        self.n_probes = self._drops(emb.take(rng.permutation(emb.num_rows)[:STREAM_PROBES]), "probes")
        self.n_docs = self._drops(docs.take(rng.permutation(docs.num_rows)[:STREAM_DOCS]), "docs")

    def _drops(self, table: pa.Table, name: str) -> int:
        out = os.path.join(self.root, name)
        os.makedirs(out)
        step = -(-table.num_rows // STREAM_BATCHES)
        for i in range(STREAM_BATCHES):
            pq.write_table(table.slice(i * step, step), os.path.join(out, f"b{i:03d}.parquet"))
        return table.num_rows

    def _query(self, b: Bench, layer: str, start) -> list[float]:
        """Run one sink to the end of its input; its triggers' wall times."""
        with b.tracer.span(layer):
            q = start()
            q.awaitTermination()
        b.check(None if q.exception() is None else f"{layer}: {q.exception()}")
        b.add_group(str(q.runId), layer)  # a query's jobs run under its run id
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.input_rows += sum(p["numInputRows"] for p in progress)
        walls = [float(p["durationMs"]["triggerExecution"]) for p in progress]
        for w in walls:
            b.note(f"{layer}.trigger_ms", w)
        return walls

    def run(self, b: Bench) -> None:
        from pyspark.sql import functions as F

        from sum_spark.operators.similarity import write_pq_index
        from sum_spark.sources.tables import load_table
        from sum_spark.streaming.ann import EMB_SCHEMA, streaming_ann_rerank
        from sum_spark.streaming.state import streaming_corpus_state

        spark, root = b.spark, self.root
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100")
        emb = b.call("sources.load_table", load_table, spark, b.tables, "embeddings")
        index = os.path.join(root, "pq_index")
        b.call(
            "operators.write_pq_index",
            lambda: write_pq_index(emb, index, m=PQ_M, n_codes=PQ_CODES, id_col="vec_id", vec_col="embedding"),
        )
        corpus = emb.select(F.col("vec_id"), F.col("embedding"))
        ann_out = os.path.join(root, "ann")
        state_out = os.path.join(root, "state")

        def ann():
            s = spark.readStream.schema(EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(os.path.join(root, "probes"))
            return streaming_ann_rerank(
                s, index, corpus, ann_out, ann_out + "_ck", k=STREAM_K, c=100, m=PQ_M, n_probes=8
            )

        def state():
            s = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(os.path.join(root, "docs"))
            return streaming_corpus_state(s, state_out, state_out + "_ck")

        self.input_rows = 0
        self._query(b, "streaming.ann_rerank", ann)
        walls = self._query(b, "streaming.corpus_state", state)
        b.layer["streaming.corpus_state.last_over_first"] = walls[-1] / walls[0]
        b.layer["streaming.reread_ratio"] = self.input_rows / (self.n_probes + self.n_docs)
        got = _table_rows(ann_out)
        b.check(None if got == self.n_probes * STREAM_K else f"ann_rerank: {got} rows for {self.n_probes} probes")
        got = _table_rows(os.path.join(state_out, "meta"))
        b.check(None if got == self.n_docs else f"corpus_state: {got} meta rows for {self.n_docs} docs")


WORKLOADS = {
    "llm_pipeline": LlmPipeline,
    "records": Records,
}
