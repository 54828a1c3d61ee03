"""Benchmark for sum_spark: one closed-loop client process, one workload
per run, every output checked.

    python3 perfbench/run.py --workload records --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
untraced (``--trace 0``), the per-layer metrics traced (``--trace 1``).
The line before it records the host settings the run used; a copy of
both, with the spans of a traced run, goes to perfbench/.work/results/.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(WORK, "results")

HOST_SAMPLES = 5  # reference-loop samples at start, after set-up, after the passes

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.input_mb": "MB",
    "queries.construct_s": "s",
    "queries.execute_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_s.dedup_clusters": "s",
    "queries.construct_s.text_profile": "s",
    "queries.construct_s.embed_quantize": "s",
    "operators.first_build_s.bm25_search": "s",
    "operators.first_build_s.dedup_incremental": "s",
    "operators.first_build_s.pack_sequences": "s",
    "functions.python_worker_cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_util": "ratio",
    "store.read_ms": "ms",
    "store.create_ms": "ms",
    "store.update_ms": "ms",
    "store.delete_ms": "ms",
    "store.find_by_meta_ms": "ms",
    "store.compact_s": "s",
    "store.compactions": "count",
    "store.netted_read_share": "ratio",
    "store.files_max": "count",
    "store.write_amp": "ratio",
    "store.space_amp": "ratio",
    "registry.run_ms": "ms",
    "registry.similar_ms": "ms",
    "streaming.ann_rerank.trigger_ms": "ms",
    "streaming.corpus_state.trigger_ms": "ms",
    "streaming.corpus_state.last_over_first": "ratio",
    "streaming.reread_ratio": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def _mem_total_kb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_settings(work: str) -> dict:
    """Pin the engine's host settings from outside session.py: the heap
    is an eighth of MemTotal (at least 1 GB, at most 4 GB), Spark gets
    every core this process may use but one, and all scratch stays in
    the work directory. The core left over runs the client, the Python
    workers and the JVM's compiler and GC threads; with Spark on every
    core as well, pass walls spread more from run to run (README)."""
    mem_kb = _mem_total_kb()
    heap_mb = max(1024, min(4096, mem_kb // 8 // 1024))
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, nproc - 1)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # worker processes import sum_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "nproc": nproc,
        "MemTotal_kB": mem_kb,
    }


def source_id() -> dict:
    """The commit when the checkout is a git repository, and always a
    hash of the engine's sources, so parent and change runs can be told
    apart without git."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for base, _dirs, names in os.walk(os.path.join(ROOT, "sum_spark")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and the
    Python worker processes it started have exited."""
    from pyspark import SparkContext

    from measure import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """Running and not yet a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def run_passes(b, wl, seconds: float, host) -> tuple[list[float], list[dict]]:
    """Passes until ``seconds`` of measuring have elapsed, and at least
    the workload's ``MIN_PASSES``: each pass's wall, less the
    benchmark-side time in it (its checks), and its ops as
    ``Bench.pass_ops`` records them. The floor keeps the number of
    passes, and so how warm the measured ones are, the same on a slowed
    host. A reference-loop sample follows each pass."""
    walls, ops = [], []
    t0 = time.perf_counter()
    while len(walls) < wl.MIN_PASSES or time.perf_counter() - t0 < seconds:
        t, excluded = time.perf_counter(), b.excluded_s
        b.pass_ops = {}
        wl.run_pass(b)
        walls.append(time.perf_counter() - t - (b.excluded_s - excluded))
        ops.append(b.pass_ops)
        host.sample(1)
    return walls, ops


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("sum_spark", "__spark_entry__.py", os.path.join("tests", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the repository root", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(RESULTS, exist_ok=True)
    try:
        settings = host_settings(run_dir)
        os.environ.update({k: v for k, v in settings.items() if isinstance(v, str)})
        record, result = measure_run(args, settings, run_dir, workloads.WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(settings=settings, **source_id())
    with open(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w", encoding="utf-8") as fh:
        json.dump({**record, **result}, fh, indent=1)
    print(json.dumps({"run": {k: v for k, v in record.items() if k not in ("op_ms", "pass_ops")}}))
    print(json.dumps(result))
    return 0


def measure_run(args, settings: dict, run_dir: str, wl) -> tuple[dict, dict]:
    """Set up, measure and check one workload; (run record, result)."""
    import datagen
    import measure
    import workloads

    # Benchmark-side work, not part of set-up: reference-loop samples
    # before the JVM starts, and input generation.
    host = measure.HostSpeed()
    t_gen = time.perf_counter()
    host.sample(HOST_SAMPLES)
    tables = datagen.write_tables(WORK)
    wl.inputs(args.seed, run_dir, tables)
    excluded = time.perf_counter() - t_gen

    from sum_spark.session import get_spark

    cores = int(settings["SPARK_GRAFT_CPUS"])
    tracer = measure.Tracer(bool(args.trace))
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=cores)
    session_s = time.perf_counter() - t
    try:
        stats = measure.StatusStore(spark) if args.trace else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        b = workloads.Bench(spark, tables, tracer, stats)
        with tracer.span("setup"):
            wl.setup(b)
        setup_wall = time.perf_counter() - T_START - excluded - b.excluded_s
        host.sample(HOST_SAMPLES)
        # This process's peak so far holds benchmark-side memory: input
        # generation, DuckDB and the oracle comparison. Reset it, so
        # peak_rss_mb holds the JVM's whole run and this process's passes.
        gc.collect()
        measure.reset_peak_rss()
        b.op_ms.clear()
        b.execute_wall = 0.0
        # A traced run times its passes traced; tracing overhead is the
        # bookkeeping those calls add (job groups, status-store reads).
        b.traced = bool(args.trace)
        cpu0 = measure.python_worker_cpu_s(jvm_pid)
        with tracer.span("passes"):
            walls, pass_ops = run_passes(b, wl, args.seconds, host)
        host.sample(HOST_SAMPLES)
        pass_wall = measure.undisturbed_pass_s(pass_ops)
        if args.trace:
            worker_cpu = measure.python_worker_cpu_s(jvm_pid) - cpu0
            # totals of the passes only, before the one-off extras
            spark_tot = dict(b.spark_tot)
            construct_jobs = b.layer.get("queries.construct_jobs", 0)
            execute_wall, overhead = b.execute_wall, b.trace_overhead
            wl.trace_extras(b)
        wl.finish(b)
        rss = measure.peak_rss_mb(jvm_pid) + measure.peak_rss_mb(os.getpid())
    finally:
        stop_spark(spark)

    scale = host.scale()
    if args.trace:
        n = len(walls)
        layer = dict.fromkeys(PER_LAYER, 0.0)
        for key, vals in b.samples.items():
            # per-pass totals and per-call latencies: report the median
            layer[key] = measure.median(vals)
        layer.update(b.layer)
        layer["queries.construct_jobs"] = construct_jobs / n
        for k, v in spark_tot.items():  # measure.sum_stages totals
            layer["sources.input_mb" if k == "input_mb" else f"spark.{k}"] = v / n
        layer["spark.slot_util"] = spark_tot.get("executor_run_s", 0) / max(1e-9, execute_wall * cores)
        layer["session.start_s"] = session_s
        layer["functions.python_worker_cpu_s"] = worker_cpu / n
        layer["trace.pass_s"] = pass_wall * scale
        layer["trace.overhead_s"] = overhead / n
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t1.spans.json"))
    else:
        values = {"setup_s": setup_wall * scale, "pass_s": pass_wall * scale, "peak_rss_mb": rss}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    try:
        op_p90 = measure.percentile(b.op_ms, 0.9)
    except measure.TooFewSamples as e:
        op_p90 = f"not reported: {e}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup_wall_s": setup_wall,
        "pass_wall_s": pass_wall,
        "reference_loop_s": host.loops,
        "scale": scale,
        "pass_walls_s": walls,
        # per pass and op position: [wall s, stolen ticks, capacity ticks]
        "pass_ops": [[ops[k] for k in sorted(ops)] for ops in pass_ops],
        "op_ms": b.op_ms,
        "op_ms_p50": measure.median(b.op_ms),
        "op_ms_p90": op_p90,
    }
    result = {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed, "metrics": metrics}
    return record, result


if __name__ == "__main__":
    sys.exit(main())
