"""Measurement helpers: percentiles, the span tracer, Spark status-store
aggregation and /proc readers. Pure functions first (unit-tested
without Spark), then the readers that talk to a live JVM."""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import time
from contextlib import contextmanager

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MIN_TAIL = 10  # samples that must lie beyond a reported tail percentile


class TooFewSamples(ValueError):
    """A tail percentile was asked of too few samples to support it."""


def percentile(samples: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) of ``samples``, nearest-rank.

    A tail quantile (q > 0.5) is refused unless at least ``MIN_TAIL``
    samples lie beyond it: with fewer, one slow sample moves it."""
    if not samples:
        raise TooFewSamples("no samples")
    rank = math.ceil(round(q * len(samples), 9))  # 1-based nearest rank
    if q > 0.5 and len(samples) - rank < MIN_TAIL:
        raise TooFewSamples(
            f"p{round(q * 100)} needs {MIN_TAIL} samples beyond it, "
            f"have {len(samples)} samples in all"
        )
    return sorted(samples)[max(0, rank - 1)]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def undisturbed_pass_s(passes: list[dict[int, tuple[float, int, float]]]) -> float:
    """One pass's wall time from the op calls the host left alone.

    ``passes`` holds, per pass, each op position's (wall, stolen ticks,
    CPU capacity in ticks). Every pass runs the same ops in the same
    order, so each position has one sample per pass. Per position, the
    median wall over its undisturbed samples (see ``disturbed``); when
    every sample was disturbed, the least disturbed one. The pass time
    is the sum over positions."""
    total = 0.0
    for pos in sorted({p for ops in passes for p in ops}):
        samples = [ops[pos] for ops in passes if pos in ops]
        clean = [wall for wall, stolen, cap in samples if not disturbed(stolen, cap)]
        total += median(clean) if clean else min(samples, key=lambda s: s[1] / s[2])[0]
    return total


# A fixed pure-Python loop, timed through each run. It uses no part of
# the program, so its time says how fast the host runs at the moment.
# On a shared host that speed moved by up to 2x within half an hour:
# the loop by 1.5-1.6x, the workloads' passes by 1.9-2.1x. Times
# are reported in reference seconds: wall x REF_LOOP_S / the run's
# median loop time. REF_LOOP_S is the loop's time on the 4-core host
# this benchmark was written on, at its fastest, so there reference
# seconds read close to wall seconds.
LOOP_N = 2_000_000
REF_LOOP_S = 0.11


def reference_loop_s() -> float:
    """Wall seconds of one run of the fixed loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(LOOP_N):
        acc += i * i
    return time.perf_counter() - t


class HostSpeed:
    """Reference-loop samples taken through one run."""

    def __init__(self, loop=reference_loop_s):
        self.loop = loop
        self.loops: list[float] = []

    def sample(self, n: int) -> None:
        self.loops += [self.loop() for _ in range(n)]

    def scale(self) -> float:
        """Reference seconds per wall second in this run."""
        return REF_LOOP_S / median(self.loops)


STEAL_MAX = 0.01  # share of the CPU capacity stolen that marks a call disturbed


def disturbed(stolen: int, capacity: float) -> bool:
    """Whether the hypervisor took more than ``STEAL_MAX`` of the CPU
    time the machine's CPUs had during a call; one tick is sampling
    noise and never counts."""
    return stolen > 1 and stolen > STEAL_MAX * capacity


STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def sum_stages(jobs: int, stages: list[dict]) -> dict[str, float]:
    """Totals over one job group's stage attempts (status-store rows).

    Times arrive in ms (run, GC) and ns (CPU); bytes in bytes. Spill
    counts memory and disk spill together."""
    tot = {f: 0 for f in STAGE_FIELDS}
    for s in stages:
        for f in STAGE_FIELDS:
            tot[f] += s[f]
    mb = 1024.0 * 1024.0
    return {
        "jobs": jobs,
        # a stage whose output was reused runs no task: not counted
        "stages": sum(1 for s in stages if s["numCompleteTasks"] > 0),
        "tasks": tot["numCompleteTasks"],
        "executor_run_s": tot["executorRunTime"] / 1e3,
        "executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "gc_s": tot["jvmGcTime"] / 1e3,
        "input_mb": tot["inputBytes"] / mb,
        "shuffle_read_mb": tot["shuffleReadBytes"] / mb,
        "shuffle_write_mb": tot["shuffleWriteBytes"] / mb,
        "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / mb,
    }


def add_into(acc: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        acc[k] = acc.get(k, 0) + v


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory and written
    out once at the end. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


# -- readers for a live process tree -----------------------------------------


def _status(pid: int) -> dict[str, str]:
    out = {}
    with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
        for line in fh:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, in MB."""
    return int(_status(pid)["VmHWM"].split()[0]) / 1024.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def _read_stat_cpus() -> tuple[int, int]:
    steal, cpus = 0, 0
    with open("/proc/stat", encoding="ascii") as fh:
        for line in fh:
            if not line.startswith("cpu"):
                break
            if line.startswith("cpu "):
                steal = int(line.split()[8])  # user nice system idle iowait irq softirq steal
            else:
                cpus += 1
    return steal, cpus


CLK_TCK = os.sysconf("SC_CLK_TCK")
N_CPUS = _read_stat_cpus()[1]


def steal_ticks() -> int:
    """Ticks, summed over this machine's CPUs, in which the hypervisor
    ran something else while a CPU here wanted to run (steal time)."""
    return _read_stat_cpus()[0]


def capacity_ticks(wall: float) -> float:
    """The CPU ticks this machine's CPUs had in ``wall`` seconds."""
    return wall * CLK_TCK * N_CPUS


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children", encoding="ascii") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except FileNotFoundError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``, children first."""
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _cpu_ticks(pid: int, with_reaped: bool) -> int:
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
    n = int(fields[11]) + int(fields[12])
    if with_reaped:
        n += int(fields[13]) + int(fields[14])
    return n


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the pyspark worker processes under the
    JVM: each Python child of the JVM (the worker daemon) with the CPU
    of its reaped workers, plus its live forked workers."""
    ticks = 0
    for kid in _children(jvm_pid):
        try:
            with open(f"/proc/{kid}/cmdline", "rb") as fh:
                if b"pyspark" not in fh.read():
                    continue
            ticks += _cpu_ticks(kid, with_reaped=True)
            for worker in _children(kid):
                ticks += _cpu_ticks(worker, with_reaped=True)
        except (FileNotFoundError, ProcessLookupError):
            continue  # a worker that exited between listing and reading
    return ticks / os.sysconf("SC_CLK_TCK")


class StatusStore:
    """Per-job-group stage totals from Spark's own status store (works
    with the UI off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group(self, group: str) -> dict[str, float]:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            seq = self._store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        rows = []
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                a = attempts.apply(i)
                rows.append({f: getattr(a, f)() for f in STAGE_FIELDS})
        return sum_stages(len(job_ids), rows)
