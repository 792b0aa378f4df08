"""The benchmark's own tests: statistics, span arithmetic, event-log reading,
generator determinism, host-stamp refusal, and a one-second run of every
workload, at the benchmark's input sizes, through its output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import compare
import gen
from measure import Span, Tracer, percentile, read_event_log, self_time, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentile rule -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == 5.0
    assert percentile(list(range(1, 101)), 90) == 90


# --- self time -------------------------------------------------------------------


def _span(i, lo, hi, parent=None):
    return Span(i, f"s{i}", lo, hi, parent, None, f"g{i}")


def test_self_time_subtracts_child_cover_once():
    parent = _span(0, 0.0, 10.0)
    children = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    # covered: [1, 4] and [6, 7] -> 4 s
    assert self_time(parent, children) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_span():
    parent = _span(0, 5.0, 10.0)
    children = [_span(1, 0.0, 6.0, 0), _span(2, 9.0, 12.0, 0), _span(3, 20.0, 21.0, 0)]
    assert self_time(parent, children) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(5.0)


def test_tracer_nests_spans_and_inherits_the_operation_id():
    t = Tracer()
    with t.span("op", op=7) as op:
        with t.span("child") as child:
            pass
    assert child.parent == op.id and child.op == 7
    assert t.top(child) is op
    selfs = t.self_times()
    assert selfs[op.id] == pytest.approx((op.end - op.start) - (child.end - child.start))


# --- event log -------------------------------------------------------------------


def test_event_log_metrics_are_charged_to_the_job_group(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Accumulables": [
             {"Name": "scan time", "Update": "250"},
             {"Name": "time to start Python workers", "Update": "500"},
             {"Name": "time to run Python workers", "Update": "1500"}]},
         "Task Metrics": {"Executor CPU Time": 3_000_000_000, "Executor Run Time": 4000,
                          "JVM GC Time": 500, "Memory Bytes Spilled": 10,
                          "Disk Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(tmp_path))
    g = groups["perfbench-3"]
    assert (g.jobs, g.tasks) == (1, 1)
    assert g.executor_cpu_s == pytest.approx(3.0)
    assert g.executor_run_s == pytest.approx(4.0)
    assert g.gc_s == pytest.approx(0.5)
    assert (g.shuffle_write_bytes, g.spill_bytes) == (100, 15)
    assert g.scan_s == pytest.approx(0.25)
    assert g.python_s == pytest.approx(2.0)
    assert groups[""].executor_cpu_s == pytest.approx(1.0)


# --- generators ------------------------------------------------------------------


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generators_are_byte_identical_per_seed(tmp_path):
    spec = gen.FeedSpec(seconds=3 * 3600, burst_s=60)
    cspec = gen.CorpusSpec(docs=80)
    digests = []
    for run, seed in (("a", 1), ("b", 1), ("c", 2)):
        d = tmp_path / run
        gen.write_feed(gen.tick_rows(spec, seed), str(d))
        gen.write_corpus(cspec, seed, str(d))
        digests.append(tuple(_digest(d / f) for f in
                             ("events.parquet", "documents.parquet", "embeddings.parquet")))
    assert digests[0] == digests[1]
    assert all(x != y for x, y in zip(digests[0], digests[2]))


def test_feed_has_the_declared_shape():
    import numpy as np

    spec = gen.FeedSpec(seconds=2 * 3600, burst_s=600)
    t = gen.tick_rows(spec, 3).to_pydict()
    n = len(t["event_id"])
    active = 2 * 600
    base = active * gen.PAIRS + active * (spec.hot_rate - 1)
    assert n == base + int(spec.dup_share * active * gen.PAIRS)
    ts = np.array([x.timestamp() for x in t["ts"]])
    off = ts - spec.start_us / 1e6
    assert (off % 3600 < spec.burst_s).all()
    assert (np.diff(ts) < 0).mean() > 0.5 * spec.out_of_order_share  # late arrivals
    bad = sum(v <= 0 or '"k"' not in p or '"k": -' in p
              for v, p in zip(t["value"], t["props"]))
    assert 0.5 * spec.invalid_share * n < bad < 2 * spec.invalid_share * n
    pairs = np.array(t["user_id"]) % gen.PAIRS
    assert (pairs == spec.hot_pair).sum() > 2 * (pairs == 1).sum()


def test_corpus_has_exact_and_near_duplicates():
    docs, emb = gen.corpus_tables(gen.CorpusSpec(docs=400), 5)
    texts = docs.column("text").to_pylist()
    assert len(set(texts)) < len(texts)
    lengths = [len(x.split()) for x in texts]
    assert max(lengths) > 3 * min(lengths)
    import numpy as np

    v = np.array(emb.column("embedding").to_pylist())
    sims = v @ v.T - 2 * np.eye(len(v))
    assert (sims.max(axis=1) > 0.95).sum() >= 10


def test_split_by_time_keeps_every_tick_once():
    spec = gen.FeedSpec(seconds=1800)
    table = gen.tick_rows(spec, 4)
    parts = gen.split_by_time(table, spec.start_us, [0, 600, 1200, 1800])
    assert sum(p.num_rows for p in parts) == table.num_rows
    ids = sorted(i for p in parts for i in p.column("event_id").to_pylist())
    assert ids == list(range(table.num_rows))


# --- host stamp ------------------------------------------------------------------


def _record(nproc, value):
    return {"workload": "w", "metrics": {"op_p50_s": value},
            "stamp": {"host": {"nproc": nproc, "mem_total_kb": 1, "machine": "x"}}}


def test_tracing_overhead_is_traced_minus_untraced_median():
    plain = [_record(4, 1.0), _record(4, 2.0)]
    traced = [{**_record(4, 0.0), "trace": 1, "per_layer": {"trace.op_p50_s": 1.75}}]
    assert compare.tracing_overhead(plain + traced) == {"w": pytest.approx(0.25)}
    # traced records never enter the end-to-end comparison
    assert compare.compare(plain, plain + traced)["w"]["op_p50_s"] == (1.5, 1.5, 1.0)


def test_compare_refuses_records_from_other_hosts():
    with pytest.raises(compare.HostMismatch):
        compare.compare([_record(4, 1.0)], [_record(32, 0.5)])
    out = compare.compare([_record(4, 1.0), _record(4, 3.0)], [_record(4, 1.0)])
    assert out["w"]["op_p50_s"] == (2.0, 1.0, 0.5)


# --- smoke -----------------------------------------------------------------------

WORKLOADS = ["etl_backfill", "etl_incremental", "analyst_queries", "corpus_dedup"]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_short_run_passes_its_output_checks(workload, trace):
    if trace and workload != "etl_backfill":
        pytest.skip("one traced smoke covers the trace path")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0, proc.stderr[-3000:]
    assert line["attempted"] >= 1
    for m in line["metrics"].values():
        assert set(m) == {"value", "unit"}


def test_fails_without_the_program(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
