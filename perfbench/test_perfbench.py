"""Tests of the benchmark's own machinery; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


class FakeWorkload:
    """Ops return their own index; ``bad`` ops produce a wrong output
    and ``boom`` ops raise."""

    targets = ()
    name, run_dir = "fake", "/nowhere"

    def __init__(self, bad=(), boom=(), final=None, check_boom=()):
        self.tracer = None
        self.calls = 0
        self.bad, self.boom, self.final = set(bad), set(boom), final
        self.check_boom = set(check_boom)

    def op(self):
        self.calls += 1
        if self.calls in self.boom:
            raise RuntimeError("op crashed")
        return self.calls

    rerun = op

    def check(self, out, rerun):
        if out in self.check_boom:
            raise ValueError("unreadable output")
        return "wrong output" if out in self.bad else None

    def layer_extra(self, op_out, rerun_out):
        return {"outs": (op_out, rerun_out)}

    def setup(self, rep_dir):
        self.rep_dir = rep_dir

    def cleanup(self):
        pass

    def jvm_gc(self):
        pass

    def final_check(self):
        return self.final


@pytest.fixture(autouse=True)
def _fast(monkeypatch):
    monkeypatch.setattr(run, "MIN_ITERS", 3)


def test_clean_ops_count_as_attempted_not_failed():
    m = run.measure(FakeWorkload(), seconds=0)
    assert (m.attempted, m.failed) == (6, 0)
    assert len(m.op_walls) == len(m.rerun_walls) == 3


@pytest.mark.parametrize("min_iters", [1, 2, 3])
def test_traced_ops_sit_between_untraced_ones(monkeypatch, min_iters):
    monkeypatch.setattr(run, "MIN_ITERS", min_iters)
    m = run.measure(FakeWorkload(), seconds=0, tracer=spans.Tracer())
    # untraced op, traced op and rerun, untraced op
    assert (len(m.op_walls), len(m.traced_walls), len(m.traced_iters)) == (2, 1, 1)
    assert m.rerun_walls == [] and m.attempted == 4
    op, rerun, _ = m.traced_iters[0]
    assert (op.name, rerun.name) == ("op", "rerun")


def test_wrong_output_counts_as_failed():
    # call 1 is the warm-up op; calls 4 and 7 are a timed op and a timed rerun
    m = run.measure(FakeWorkload(bad={4, 7}), seconds=0)
    assert (m.attempted, m.failed) == (6, 2)
    assert m.errors == ["wrong output", "wrong output"]


def test_warm_up_failures_are_reported_but_not_counted():
    m = run.measure(FakeWorkload(bad={1}), seconds=0)
    assert m.failed == 0 and m.errors == ["wrong output"]


def test_side_workload_counts_only_its_traced_iteration():
    m = run.Measured(attempted=6)
    side = FakeWorkload(bad={1})
    op, rerun, extra = run.measure_side(side, m, spans.Tracer())
    assert side.rep_dir == os.path.join("/nowhere", "fake")
    assert (m.attempted, m.failed) == (8, 0) and m.errors == ["wrong output"]
    assert (op.name, rerun.name, extra["outs"]) == ("op", "rerun", (3, 4))
    assert run.measure_side(FakeWorkload(bad={4}), m, spans.Tracer()) is None
    assert (m.attempted, m.failed) == (10, 1)


def test_exception_counts_as_failed():
    m = run.measure(FakeWorkload(boom={5}), seconds=0)
    assert m.failed == 1 and m.errors[0].startswith("RuntimeError")


def test_check_that_raises_counts_as_failed():
    m = run.measure(FakeWorkload(check_boom={3}), seconds=0)
    assert m.failed == 1 and m.errors[0].startswith("ValueError")
    assert len(m.op_walls) == len(m.rerun_walls) == 3


def test_failed_final_check_fails_every_op():
    m = run.measure(FakeWorkload(final="differs from the oracle"), seconds=0)
    assert m.failed == m.attempted == 6


def test_dedup_check_rejects_a_wrong_output(tmp_path):
    w = workloads.DedupBatch(None, 1, str(tmp_path))
    w.rows = 4
    good = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "cluster_id": [0, 0, 2, 3], "cluster_size": [2, 2, 1, 1],
         "keep": [True, False, True, True]}
    )
    paths = []
    for i, df in enumerate([good, good.assign(keep=[False, True, True, True]), good.iloc[:3]]):
        paths.append(str(tmp_path / f"o{i}.parquet"))
        df.to_parquet(paths[-1])
    assert w.check(paths[0], False) is None
    assert w.check(paths[0], True) is None
    assert "digest" in w.check(paths[1], False)
    assert "rows" in w.check(paths[2], False)


def test_dedup_oracle_check_rejects_a_wrong_digest(tmp_path):
    from dvmax_spark.ext.dedup import dedup_clusters_sql

    w = workloads.DedupBatch(None, 1, str(tmp_path))
    docs = gen.corpus(np.random.default_rng(1), 200)
    w.sf_dir = str(tmp_path / "sf")
    gen.write_parquet(docs, os.path.join(w.sf_dir, "documents.parquet"))
    w.spec = type("Spec", (), {"sql": dedup_clusters_sql()})
    w.digest = "0" * 64
    assert "oracle" in w.final_check()


def _ingest_sinks(w, novel, dups):
    for sub, df in (("novel", pd.DataFrame({"doc_id": novel})),
                    ("dups", pd.DataFrame({"doc_id": [d for d, _ in dups],
                                           "dup_of": [o for _, o in dups]}))):
        path = os.path.join(w.dir, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.join(path, "ingest_batch=0"))
        df.astype("int64").to_parquet(os.path.join(path, "ingest_batch=0", "part-0.parquet"))


def test_ingest_check_rejects_a_wrong_output(tmp_path):
    w = workloads.DedupIngest(None, 1, str(tmp_path))
    w.dir, w.index_ids, w.batch_ids, w.rows = str(tmp_path), {0, 1}, {10, 11, 12}, 3
    _ingest_sinks(w, [10, 11], [(12, 0)])
    assert w.check(None, False) is None and w.dups == 1
    assert w.check(None, True) is None
    _ingest_sinks(w, [10, 11, 12], [(12, 0)])
    assert "both" in w.check(None, False)
    _ingest_sinks(w, [10], [(12, 0)])
    assert "partition" in w.check(None, False)
    _ingest_sinks(w, [10, 11], [(12, 5)])
    assert "admitted" in w.check(None, False)
    _ingest_sinks(w, [10, 12], [(11, 0)])
    assert "differs" in w.check(None, False)


def test_feature_check_rejects_wrong_row_counts(tmp_path):
    w = workloads.FeaturePipeline(None, 1, str(tmp_path))
    w.eligible = ["T0000", "T0001"]
    assert "rows_written" in w.check({"rows_written": 1}, False)
    assert "rows_written" in w.check({"rows_written": 2}, True)


def test_generators_are_seeded():
    a = gen.ticker_tables(np.random.default_rng(5), 10, 2)
    b = gen.ticker_tables(np.random.default_rng(5), 10, 2)
    c = gen.ticker_tables(np.random.default_rng(6), 10, 2)
    for k in a:
        pd.testing.assert_frame_equal(a[k], b[k])
    assert not a["prices"].equals(c["prices"])
    d1 = gen.corpus(np.random.default_rng(5), 300)
    d2 = gen.corpus(np.random.default_rng(5), 300)
    pd.testing.assert_frame_equal(d1, d2)


def test_gate_drops_exactly_the_short_tickers():
    t = gen.ticker_tables(np.random.default_rng(3), 12, 3)
    counts = t["prices"][t["prices"]["date"] <= gen.AS_OF].groupby("ticker").size()
    assert (counts >= 260).sum() == 9


def test_corpus_plants_near_duplicate_families():
    docs = gen.corpus(np.random.default_rng(2), 1000)
    assert docs["text"].str.split().str.len().between(20, 60).all()
    # members of a family share most of their tokens
    first = docs["text"].str.split().str[20:].str.join(" ")
    assert first.duplicated(keep=False).mean() > 0.2


def test_self_time_subtracts_covered_child_time():
    root = spans.Span(0, "root", 0, None, 0.0, 10.0)
    kids = [
        spans.Span(1, "a", 0, 0, 1.0, 4.0),
        spans.Span(2, "b", 0, 0, 3.0, 5.0),  # overlaps a
        spans.Span(3, "c", 0, 0, 9.0, 12.0),  # runs past the parent
    ]
    assert spans.self_time(root, kids) == pytest.approx(10 - 4 - 1)


def test_wrap_records_spans_and_unpatches():
    t = spans.Tracer()
    t.wrap("json:dumps", "json.dumps")
    t.wrap("json:no_such_function", "gone")
    with t.span("op"):
        json.dumps([1])
    t.unpatch()
    json.dumps([2])
    assert [s.name for s in t.spans] == ["op", "json.dumps"]
    assert t.spans[1].parent == 0
    assert t.missing == ["json:no_such_function"]
    assert spans.layer_figures(t.spans, spans.EventLog(), t.spans[0])["json.dumps"]["calls"] == 1


def test_spans_on_another_thread_nest_under_the_main_threads_span():
    import threading

    t = spans.Tracer(set_group=lambda g: None)
    with t.span("op") as op:
        th = threading.Thread(target=lambda: t.span("callback").__enter__())
        th.start()
        th.join()
    cb = t.spans[1]
    assert (cb.name, cb.parent, cb.group) == ("callback", op.sid, None)


def test_job_groups_follow_the_span_stack():
    seen = []
    t = spans.Tracer(set_group=seen.append)
    with t.span("op") as op:
        with t.span("inner") as inner:
            pass
    assert seen == [op.group, inner.group, op.group, ""]


def test_event_log_figures(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 500, "JVM GC Time": 20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 524288},
            "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "other"}},
    ]
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    d.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = spans.read_event_log(str(tmp_path))
    f = spans.spark_figures(log, {"g1"}, 0.5, 3.0)
    assert (f["spark.jobs"], f["spark.stages"], f["spark.tasks"]) == (1, 1, 1)
    assert f["spark.driver_gap_s"] == pytest.approx(1.5)
    assert f["spark.executor_run_s"] == pytest.approx(0.5)
    assert f["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert f["spark.shuffle_read_mb"] == pytest.approx(0.5)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
