"""Driver-faithful correctness simulation.

Round-1 lesson (VERDICT.md §What's wrong #1): the external driver
builds its OWN vanilla SparkSession — none of the confs set in
dvmax_spark.session.get_spark are present. check_parity.py uses
get_spark and therefore can't catch session-dependence bugs. This
script reproduces the driver's environment:

  * vanilla SparkSession (only master + shuffle partitions, NO
    nanosAsLong / ANSI / timezone confs),
  * queries taken via the __spark_entry__ contract (queries() /
    oracle_sql()), first 50 registrations only (the driver's cap),
  * order-insensitive value compare against DuckDB at sf0.01.

Usage: python tools/driver_sim.py [--all] [--markdown] [name ...]

``--markdown`` (with --all) also rewrites PARITY.md — the in-repo
parity evidence table covering queries past the external driver's
50-query cap.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from dvmax_spark.registry import EVIDENCE_WINDOW as DRIVER_QUERY_CAP
from tests.conftest import SF_DIR_CORRECT, TABLES, canonicalize


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .appName("driver_sim")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR_CORRECT}/{t}.parquet'"
        )

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    run_all = "--all" in sys.argv
    only = set(args)

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    names = list(qs)
    if not run_all and not only:
        names = names[:DRIVER_QUERY_CAP]

    # smoke: entry()
    t0 = time.perf_counter()
    n = entrymod.entry(spark).count()
    print(f"entry(): {n} rows ({time.perf_counter() - t0:.1f}s)")

    failures, rows_only, results = [], [], []
    for name in names:
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            got_df = qs[name](spark, SF_DIR_CORRECT)
            got = canonicalize(got_df.toPandas())
            if name not in sqls:
                rows_only.append(name)
                results.append((name, "rows-only", len(got)))
                print(f"rows {name}: {len(got)} rows ({time.perf_counter() - t0:.1f}s)")
                continue
            exp = canonicalize(con.execute(sqls[name]).fetchdf())
            if list(got.columns) != list(exp.columns):
                raise AssertionError(f"columns {list(got.columns)} vs {list(exp.columns)}")
            if len(got) != len(exp):
                raise AssertionError(f"rows {len(got)} vs {len(exp)}")
            pd.testing.assert_frame_equal(
                got, exp, check_dtype=False, check_exact=False, rtol=0, atol=0
            )
            results.append((name, "pass", len(got)))
            print(f"OK   {name} ({time.perf_counter() - t0:.1f}s, {len(got)} rows)")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            results.append((name, "FAIL", None))
            msg = str(e).strip().split("\n")
            print(f"FAIL {name}: {' | '.join(msg[:12])}")
            if "--trace" in sys.argv:
                traceback.print_exc()

    if "--markdown" in sys.argv:
        # PARITY.md presents itself as the FULL sweep — refuse to
        # overwrite it from a partial (filtered / first-50) run.
        if run_all and not only:
            _write_markdown(results)
        else:
            print("skipping PARITY.md write: --markdown requires --all with no name filter")
    print(f"\n{len(failures)} failures: {failures}")
    print(f"{len(rows_only)} rows-only: {rows_only}")
    spark.stop()
    sys.exit(1 if failures else 0)


def _write_markdown(results: list[tuple[str, str, int | None]]) -> None:
    """PARITY.md: value-exact parity vs DuckDB for EVERY registered
    query on a driver-faithful vanilla session — in-repo evidence for
    queries past the external driver's 50-query cap."""
    import datetime as _dt
    import subprocess

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    lines = [
        "# PARITY — driver-faithful oracle sweep (all registered queries)",
        "",
        f"Generated by `python tools/driver_sim.py --all --markdown` at commit "
        f"`{sha}` on {_dt.date.today().isoformat()}; vanilla SparkSession "
        "(no engine confs), sf0.01, order-insensitive value-exact compare vs "
        "DuckDB. `rows-only` = approximate/engine-specific by design (no SQL "
        "oracle exists).",
        "",
        f"Queries past the external driver's 50-query evidence cap start at "
        f"position 51. To be explicit about the evidence chain (ADVICE r7): "
        f"past-cap value-exact claims rest on tests/test_oracle_parity.py — "
        f"which re-runs this identical DuckDB contract inside the pytest "
        f"suite — and on this generated table, NOT on any driver-produced "
        f"CORRECTNESS artifact (those cover only the first-50 window).",
        "",
        "| # | query | result | rows |",
        "|---|---|---|---|",
    ]
    for i, (name, status, nrows) in enumerate(results, start=1):
        mark = {"pass": "✅ value-exact", "rows-only": "◽ rows-only", "FAIL": "❌ FAIL"}[status]
        lines.append(f"| {i} | {name} | {mark} | {'' if nrows is None else nrows} |")
    n_pass = sum(1 for _, s, _ in results if s == "pass")
    n_ro = sum(1 for _, s, _ in results if s == "rows-only")
    n_fail = len(results) - n_pass - n_ro
    lines += ["", f"**{n_pass} value-exact · {n_ro} rows-only · {n_fail} fail**", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PARITY.md")
    # preserve the hand-maintained appendix (second-decade status etc.)
    # across regenerations — everything from the marker onward survives
    marker = "<!-- MANUAL APPENDIX — everything below survives regeneration -->"
    appendix = ""
    try:
        with open(path) as f:
            old = f.read()
        idx = old.find(marker)
        if idx != -1:
            appendix = old[idx:]
    except OSError:
        pass
    with open(path, "w") as f:
        f.write("\n".join(lines))
        if appendix:
            f.write(appendix)
    print(f"wrote PARITY.md ({n_pass} pass / {n_ro} rows-only / {n_fail} fail)")


if __name__ == "__main__":
    main()
