"""Dump `.explain("formatted")` for bench queries into plans/<round>/.

Usage: python tools/dump_plans.py <round> <suffix> [name ...]

Writes plans/<round>/<query>_<suffix>.txt for every bench-flagged
query (or just the named ones), e.g. `python tools/dump_plans.py r11
after`. `suffix` is `before` / `after` per an optimization round's
deliverable: plan-diff claims in OPTIMIZATION_<round>.md are checked
against these files.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from dvmax_spark.registry import all_queries
    from dvmax_spark.session import get_spark

    rnd, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(f"dump_plans_{rnd}")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(out_dir, exist_ok=True)

    qs = all_queries()
    specs = {n: s for n, s in qs.items() if s.bench}
    if names:
        specs = {n: qs[n] for n in names}
    for name, spec in specs.items():
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
