"""End-to-end benchmark of dvmax_spark's two user-facing jobs.

Run from the repository root:

    python3 perfbench/run.py --workload feature_pipeline --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one warm Spark process; an op
starts only after the previous one returned, and every op is followed
by a rerun of itself on the state it left behind):

* ``feature_pipeline`` - ``plans.ticker_pipeline.run_ticker_pipeline``
  for one as-of date into an empty store; the rerun repeats the date
  into the now-populated store.
* ``dedup_batch`` - the registry query ``x_dedup_clusters`` over a
  generated ``documents.parquet``, written to a Parquet sink so every
  op's output can be checked; it keeps no state, so its rerun is a
  plain repeat. Its traced run also drains one micro-batch through
  ``streaming.dedup_ingest.stream_dedup_ingest`` against a persisted
  ``MinHashIndex`` (the side workload ``dedup_ingest``), so that the
  streaming and index layers are measured too.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start
to session ready, plus the median of ``SETUP_REPS`` input builds),
``wall_s`` and ``rerun_s`` (median op and rerun walls), ``rows_per_s``
(input rows per op / ``wall_s``). ``--trace 1`` alternates untraced and
traced iterations with Spark's event log on, and prints per-layer
figures taken from spans around the program's public functions and
from the event log; per-op spans and figures are written to
``.perfbench/traces/``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

All state of a run (inputs, stores, Spark local dirs, the artifact
cache, the event log) lives in a fresh directory under ``.perfbench/``
that the run deletes when it exits.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
MIN_ITERS = 1  # iterations, even past --seconds

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rerun_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "rerun.spark.jobs": "count",
    "plans.ticker_pipeline.self_s": "s",
    "features.build_s": "s",
    "features.jobs": "count",
    "validation.split_s": "s",
    "store.append_s": "s",
    "store.append_jobs": "count",
    "store.upsert_s": "s",
    "store.read_s": "s",
    "rerun.store.append_s": "s",
    "rerun.store.read_s": "s",
    "store.written_mb": "MB",
    "store.files": "count",
    "store.new_rows_ratio": "ratio",
    "queries_ext.build_s": "s",
    "queries_ext.action_s": "s",
    "ext.dedup.lsh_s": "s",
    "ext.dedup.lsh_jobs": "count",
    "ext.dedup.cc_s": "s",
    "ext.dedup.cc_jobs": "count",
    "ext.dedup.cc_rounds": "count",
    "ext.dedup.pairs": "count",
    "ext.dedup.kept_ratio": "ratio",
    "ext.dedup.index_match_s": "s",
    "ext.dedup.index_append_s": "s",
    "ext.dedup.index_mb": "MB",
    "ext.dedup.index_files": "count",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.batches": "count",
    "streaming.displaced_ratio": "ratio",
    "streaming.jobs": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def layer_metrics(tracer, log, op_span, rerun_span) -> dict:
    """One traced iteration's per-layer figures (without trace.overhead_s
    and the workload's own extras)."""

    def groups(root):
        return {s.group for s in spans.subtree(tracer.spans, root) if s.group}

    op = spans.layer_figures(tracer.spans, log, op_span)
    re = spans.layer_figures(tracer.spans, log, rerun_span)

    def get(layers, name, key):
        return layers.get(name, {}).get(key, 0)

    m = spans.spark_figures(log, groups(op_span), op_span.start, op_span.end)
    m["rerun.spark.jobs"] = spans.spark_figures(
        log, groups(rerun_span), rerun_span.start, rerun_span.end
    )["spark.jobs"]
    m.update(
        {
            "plans.ticker_pipeline.self_s": get(op, "plans.ticker_pipeline", "self_s"),
            "features.build_s": get(op, "features.build", "s"),
            "features.jobs": get(op, "features.build", "jobs"),
            "validation.split_s": get(op, "validation.split", "s"),
            "store.append_s": get(op, "store.append", "s"),
            "store.append_jobs": get(op, "store.append", "jobs"),
            "store.upsert_s": get(op, "store.upsert", "s"),
            "store.read_s": get(op, "store.read", "s"),
            "rerun.store.append_s": get(re, "store.append", "s"),
            "rerun.store.read_s": get(re, "store.read", "s"),
            "queries_ext.build_s": get(op, "queries_ext.build", "s"),
            "queries_ext.action_s": get(op, "queries_ext.action", "s"),
            "ext.dedup.lsh_s": get(op, "ext.dedup.lsh", "s"),
            "ext.dedup.lsh_jobs": get(op, "ext.dedup.lsh", "jobs"),
            "ext.dedup.cc_s": get(op, "ext.dedup.cc", "s"),
            "ext.dedup.cc_jobs": get(op, "ext.dedup.cc", "jobs"),
            # one lineage cut for the edge table, then one per round
            "ext.dedup.cc_rounds": max(
                0, get(op, "ext.dedup.cc_cut", "calls") - get(op, "ext.dedup.cc", "calls")
            ),
        }
    )
    return m


def side_metrics(log, tracer, op_span, rerun_span, extra) -> dict:
    """Per-layer figures of a side workload's traced op. Its Spark jobs
    run on the streaming query's own thread, under the query's run id
    as job group."""
    layers = spans.layer_figures(tracer.spans, log, op_span)
    m = {k: v for k, v in extra.items() if k in PER_LAYER}
    m["ext.dedup.index_match_s"] = layers.get("ext.dedup.index_match", {}).get("s", 0)
    m["ext.dedup.index_append_s"] = layers.get("ext.dedup.index_append", {}).get("s", 0)
    m["streaming.jobs"] = sum(j.group == extra["streaming.run_id"] for j in log.jobs.values())
    return m


@dataclass
class Measured:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    warm: list = field(default_factory=list)
    op_walls: list = field(default_factory=list)
    rerun_walls: list = field(default_factory=list)
    traced_walls: list = field(default_factory=list)
    # (op span, rerun span, workload extras) per traced iteration
    traced_iters: list = field(default_factory=list)


def iteration(w, m: Measured, timed: bool, tracer=None, reruns=(False, True)):
    """An op and its rerun. Returns (walls, root spans, extras); the
    extras are taken only when ``tracer`` is given and both calls passed
    their checks. An op that raises or fails its check counts as failed
    when ``timed``."""
    gc.collect()
    w.jvm_gc()
    walls, roots, outs = [], [], []
    if tracer is not None:
        w.tracer = tracer
        for target, name in w.targets:
            tracer.wrap(target, name)
    try:
        for rerun in reruns:
            fn = w.rerun if rerun else w.op
            m.attempted += timed
            t = time.perf_counter()
            wall = None
            try:
                if tracer is not None:
                    with tracer.span("rerun" if rerun else "op") as s:
                        out = fn()
                    roots.append(s)
                else:
                    out = fn()
                wall = time.perf_counter() - t
                why = w.check(out, rerun)
            except Exception as e:  # noqa: BLE001 - counted, not fatal
                why = f"{type(e).__name__}: {e}"
            walls.append(wall if wall is not None else time.perf_counter() - t)
            if why is not None:
                m.errors.append(why)
                m.failed += timed
            else:
                outs.append(out)
    finally:
        if tracer is not None:
            tracer.unpatch()
            w.tracer = None
    extra = w.layer_extra(*outs) if tracer is not None and len(outs) == 2 else {}
    w.cleanup()
    return walls, roots, extra


def measure(w, seconds: float, tracer=None) -> Measured:
    """Warm up, then run op + rerun iterations for ``seconds`` (at least
    ``MIN_ITERS``). With a tracer, every second iteration is traced and
    the run ends on an untraced one, so that each traced op sits between
    two untraced ones: op walls still fall from one op to the next, and
    the bracket keeps that drift out of trace.overhead_s. The untraced
    iterations of a traced run time the op only. A failed final check
    fails every op."""
    m = Measured()
    # One untimed op first: an op's first run costs 2-3x the steady wall
    # (JIT, whole-stage codegen). An untimed rerun as well would take the
    # ~1.25x of a first rerun off the timed one, but costs 12-20 s that
    # the run budget does not have (README "Left out").
    m.warm = iteration(w, m, False, reruns=(False,))[0]

    t0 = time.perf_counter()
    i = 0
    while (
        i < MIN_ITERS
        or time.perf_counter() - t0 < seconds
        or (tracer is not None and (i < 2 or i % 2 == 0))
    ):
        traced = tracer is not None and i % 2 == 1
        if traced:
            tracer.op = i
            walls, roots, extra = iteration(w, m, True, tracer)
            m.traced_walls.append(walls[0])
            if len(roots) == 2:
                m.traced_iters.append((roots[0], roots[1], extra))
        else:
            walls = iteration(w, m, True, reruns=(False,) if tracer else (False, True))[0]
            m.op_walls.append(walls[0])
            m.rerun_walls.extend(walls[1:])
        i += 1
    final_check(w, m)
    return m


def measure_side(w, m: Measured, tracer):
    """A side workload of a traced run: an untimed op and rerun to warm
    up, then one traced iteration whose ops count in ``m``. Returns
    (op span, rerun span, extras), or None if it failed."""
    w.setup(os.path.join(w.run_dir, w.name))
    iteration(w, m, False)
    tracer.op += 1
    _, roots, extra = iteration(w, m, True, tracer)
    final_check(w, m)
    return (roots[0], roots[1], extra) if extra else None


def final_check(w, m: Measured) -> None:
    why = w.final_check()
    if why is not None:
        m.errors.append(why)
        m.failed = m.attempted


class Runner:
    def __init__(self, args, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.run_dir = run_dir

    def start_spark(self):
        d = self.run_dir
        for sub in ("cache", "local", "tmp", "events", "warehouse"):
            os.makedirs(os.path.join(d, sub), exist_ok=True)
        os.environ["DVMAX_SPARK_CACHE"] = os.path.join(d, "cache")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(d, "local")
        os.environ["TMPDIR"] = os.path.join(d, "tmp")
        tempfile.tempdir = None
        # without this, every JVM (spark-submit's launcher and the Spark driver)
        # writes a perf-counter file under /tmp/hsperfdata_<user>
        no_perf_file = "-XX:-UsePerfData"
        os.environ["SPARK_LAUNCHER_OPTS"] = no_perf_file
        conf = {
            "spark.local.dir": os.path.join(d, "local"),
            "spark.sql.warehouse.dir": os.path.join(d, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(d, 'tmp')} {no_perf_file}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(d, "events"),
                    "spark.eventLog.compress": "false",
                }
            )
        sys.path.insert(0, self.root)
        from dvmax_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=conf)
        # the store probes missing paths on purpose; keep stderr readable
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - T_PROC

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        spark, self.spark = getattr(self, "spark", None), None
        if spark is None:
            return
        gw = SparkContext._gateway
        spark.stop()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def run(self) -> dict:
        args = self.args
        session_s = self.start_spark()
        sc = self.spark.sparkContext
        tracer = None
        if args.trace:
            tracer = spans.Tracer(
                set_group=lambda g: sc.setLocalProperty("spark.jobGroup.id", g or None)
            )
        w = WORKLOADS[args.workload](self.spark, args.seed, self.run_dir)

        reps = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            w.setup(os.path.join(self.run_dir, f"setup{i}"))
            reps.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(reps)
        log(f"setup: session {session_s:.2f} s, input builds {[round(r, 2) for r in reps]} s")

        m = measure(w, args.seconds, tracer)
        side_w = w.side() if tracer and hasattr(w, "side") else None
        side = measure_side(side_w, m, tracer) if side_w else None
        log(f"warm-up wall: {[round(x, 2) for x in m.warm]}")
        log(f"op walls: {[round(x, 3) for x in m.op_walls]}, rerun walls: {[round(x, 3) for x in m.rerun_walls]}")
        if side:
            log(f"{side_w.name} traced op and rerun walls: {[round(x.dur, 3) for x in side[:2]]}")
        for e in dict.fromkeys(m.errors):
            log(f"FAILED: {e}")

        if args.trace:
            metrics = self.trace_metrics(tracer, m.traced_iters, side, m.op_walls, m.traced_walls)
        else:
            wall = statistics.median(m.op_walls)
            values = {
                "setup_s": setup_s,
                "wall_s": wall,
                "rerun_s": statistics.median(m.rerun_walls),
                "rows_per_s": w.rows / wall,
            }
            n = {"wall_s": len(m.op_walls), "rerun_s": len(m.rerun_walls), "rows_per_s": len(m.op_walls)}
            for k, v in values.items():
                log(f"{k} = {v:.4f} {END_TO_END[k]}" + (f" (median, n={n[k]})" if k in n else ""))
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        log(f"ops attempted {m.attempted}, failed {m.failed}")
        return {
            "correct": m.failed == 0,
            "attempted": m.attempted,
            "failed": m.failed,
            "metrics": metrics,
        }

    def trace_metrics(self, tracer, traced_iters, side, op_walls, traced_walls) -> dict:
        self.stop_spark()
        log_ = spans.read_event_log(os.path.join(self.run_dir, "events"))
        rows = []
        for op_span, rerun_span, extra in traced_iters:
            m = layer_metrics(tracer, log_, op_span, rerun_span)
            m.update(extra)
            rows.append(m)
        side_row = side_metrics(log_, tracer, *side) if side else {}
        overhead = statistics.median(traced_walls) - statistics.median(op_walls)
        values, summary = {}, {}
        for name in PER_LAYER:
            if name == "trace.overhead_s":
                xs = [overhead]
            elif name in side_row:
                xs = [side_row[name]]
            else:
                xs = [r.get(name, 0) for r in rows] or [0]
            values[name] = statistics.median(xs)
            summary[name] = {
                "median": values[name],
                "min": min(xs),
                "max": max(xs),
                "n": len(xs),
                # a count is exact when every traced op of the run read the same
                "exact": len(xs) > 1 and min(xs) == max(xs),
            }
            spread = (
                "exact" if summary[name]["exact"]
                else f"range {min(xs):.4g}..{max(xs):.4g}" if len(xs) > 1 else "one op"
            )
            log(f"{name} = {values[name]:.6g} {PER_LAYER[name]} (n={len(xs)}, {spread})")
        for target in tracer.missing:
            log(f"trace target missing, zero-call span: {target}")
        out_dir = os.path.join(self.root, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    "workload": self.args.workload,
                    "seed": self.args.seed,
                    "untraced_op_walls": op_walls,
                    "traced_op_walls": traced_walls,
                    "missing_targets": tracer.missing,
                    "per_op": rows,
                    "side": side_row,
                    "summary": summary,
                    "spans": tracer.dump(),
                },
                fh,
                indent=1,
            )
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dvmax_spark", "__init__.py")):
        log("no dvmax_spark package in the current directory; run from the repository root")
        return 2
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    runner = Runner(args, root, run_dir)
    try:
        result = runner.run()
    finally:
        try:
            runner.stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
