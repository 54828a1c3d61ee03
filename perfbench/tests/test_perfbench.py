"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import records as rec  # noqa: E402
import run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_match_benchmark_json():
    spec = _benchmark_json()
    for group, emitted in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[group]}
        assert declared == emitted, group
        for name in declared:
            assert measure.NAME_RE.fullmatch(name), name
            assert len(name) <= 64
    names = [w["name"] for w in spec["workloads"]]
    assert all(measure.NAME_RE.fullmatch(n) for n in names)


def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(measure.TooFewSamples):
        measure.percentile(list(range(99)), 0.9)
    assert measure.percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    # a median needs no tail
    assert measure.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    with pytest.raises(measure.TooFewSamples):
        measure.percentile([], 0.5)


def test_pass_time_leaves_out_calls_the_host_preempted():
    cap = 400.0  # ticks of CPU capacity in each call
    passes = [
        {0: (1.0, 0, cap), 1: (2.0, 1, cap)},  # one stolen tick is noise
        {0: (1.2, 0, cap), 1: (5.0, 40, cap)},  # 10% stolen: disturbed
        {0: (1.1, 0, cap), 1: (2.2, 0, cap)},
    ]
    assert measure.undisturbed_pass_s(passes) == pytest.approx(1.1 + 2.1)
    # every sample of a position disturbed: the least disturbed one
    hit = [{0: (3.0, 20, cap)}, {0: (4.0, 60, cap)}]
    assert measure.undisturbed_pass_s(hit) == 3.0
    assert measure.disturbed(5, cap) and not measure.disturbed(4, cap)


def test_host_speed_scales_by_the_median_loop():
    loops = iter([0.3, 0.2, 0.9, 0.22, 0.21])
    host = measure.HostSpeed(loop=lambda: next(loops))
    host.sample(5)
    assert host.scale() == pytest.approx(measure.REF_LOOP_S / 0.22)
    assert 0.01 < measure.reference_loop_s() < 10


def test_same_seed_gives_identical_records_table_and_script():
    t1, _ = rec.make_table(7)
    t2, _ = rec.make_table(7)
    assert t1.equals(t2)
    w1, p1 = rec.make_script(7, 2)
    w2, p2 = rec.make_script(7, 2)
    assert repr(w1) == repr(w2) and repr(p1) == repr(p2)
    t3, _ = rec.make_table(8)
    assert not t1.equals(t3)
    assert repr(rec.make_script(8, 2)[1]) != repr(p1)


def _fold_points(warm_kinds, pass_kinds, passes: int) -> list[list[int]]:
    """Per pass, the op indexes whose write folds the store: each write
    adds one file, and the one that makes the extra files exceed
    rec.AUTO_COMPACT_AFTER triggers the fold."""
    extra = sum(k in rec.WRITES for k in warm_kinds) % (rec.AUTO_COMPACT_AFTER + 1)
    out = []
    for _ in range(passes):
        folds = []
        for i, kind in enumerate(pass_kinds):
            if kind in rec.WRITES:
                extra += 1
                if extra > rec.AUTO_COMPACT_AFTER:
                    folds.append(i)
                    extra = 0
        out.append(folds)
    return out


def test_every_pass_has_the_fixed_sequence_and_one_compaction_cycle():
    warm, passes = rec.make_script(3, 3)
    assert tuple(op[0] for op in warm) == rec.WARMUP_KINDS
    for ops in passes:
        assert tuple(op[0] for op in ops) == rec.PASS_KINDS
    # the warm-up and every timed pass fold once, at the pass's create
    create = rec.PASS_KINDS.index("create")
    assert _fold_points((), rec.WARMUP_KINDS, 1) == [[create]]
    assert _fold_points(rec.WARMUP_KINDS, rec.PASS_KINDS, 5) == [[create]] * 5


def test_check_op_flags_a_wrong_create_id():
    _, shadow = rec.make_table(5)
    op = ("create", np.ones(rec.DIM, np.float32), {"label": "l1"})
    assert rec.check_op(shadow, op, shadow.next_id) is None
    assert rec.check_op(shadow, op, shadow.next_id + 1)


def _row(rid, vec, meta):
    return {"id": rid, "data": [float(x) for x in vec], "meta": dict(meta)}


def test_shadow_check_flags_a_corrupted_read():
    _, shadow = rec.make_table(5)
    vec, meta = shadow.expect_read(11)
    assert rec.check_read(shadow, 11, _row(11, vec, meta)) is None
    bad = vec.copy()
    bad[3] = np.nextafter(bad[3], np.float32(2.0))
    assert rec.check_read(shadow, 11, _row(11, bad, meta))
    assert rec.check_read(shadow, 11, _row(11, vec, {**meta, "label": "x"}))


def test_shadow_checks_meta_pages_and_top_k():
    _, shadow = rec.make_table(5)
    label = shadow.metas[0]["label"]
    ids = shadow.expect_meta_page(label, 1)
    rows = [_row(i, *shadow.expect_read(i)) for i in ids]
    assert rec.check_meta_page(shadow, label, 1, rows) is None
    assert rec.check_meta_page(shadow, label, 1, rows[1:])

    ids_all, sims = shadow.cosines(1)
    top = np.argsort(-sims, kind="stable")[: rec.TOP_K]
    good = [(int(ids_all[i]), float(sims[i])) for i in top]
    assert rec.check_similar(shadow, 1, good) is None
    missed = good[:-1] + [(int(ids_all[np.argsort(-sims)[-1]]), float(sims.min()))]
    assert rec.check_similar(shadow, 1, missed)


def test_shadow_follows_writes():
    _, shadow = rec.make_table(5)
    rid = shadow.create(np.ones(rec.DIM, np.float32), {"label": "l1"})
    assert rid == rec.N_ROWS + 1
    shadow.update(rid, np.zeros(rec.DIM, np.float32))
    assert not shadow.expect_read(rid)[0].any()
    shadow.delete(rid)
    assert not shadow.live[shadow.row[rid]]


def test_status_store_aggregator_sums_stubbed_stages():
    def stage(tasks, run_ms, cpu_ns, gc_ms, inp, sr, sw, mem, disk):
        return dict(zip(measure.STAGE_FIELDS, (tasks, run_ms, cpu_ns, gc_ms, inp, sr, sw, mem, disk)))

    mb = 1024 * 1024
    got = measure.sum_stages(
        2,
        [
            stage(4, 1500, 2_000_000_000, 100, 3 * mb, mb, 0, 0, 0),
            stage(0, 0, 0, 0, 0, 0, 0, 0, 0),  # reused output: no task ran
            stage(1, 500, 500_000_000, 0, 0, 0, 2 * mb, mb, mb),
        ],
    )
    assert got == {
        "jobs": 2,
        "stages": 2,
        "tasks": 5,
        "executor_run_s": 2.0,
        "executor_cpu_s": 2.5,
        "gc_s": 0.1,
        "input_mb": 3.0,
        "shuffle_read_mb": 1.0,
        "shuffle_write_mb": 2.0,
        "spill_mb": 2.0,
    }


def test_tracer_links_parents_and_ops():
    tr = measure.Tracer(True)
    with tr.span("outer", op="a"):
        with tr.span("inner", op="a"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = measure.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
