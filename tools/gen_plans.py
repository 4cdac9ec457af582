"""Generate PLANS.md: the formatted physical plan of every bench
headline query, annotated with the scale-relevant properties the plan
must keep (pushed filters, pruned schemas, broadcast joins, partial
aggregation, codegen spans, zero Python).

tests/test_plans.py ASSERTS these properties; this artifact makes them
reviewable without running Spark. Regenerate after plan-affecting
changes: python tools/gen_plans.py

    python tools/gen_plans.py --out <round> <suffix> [name ...]

instead writes ``.explain("formatted")`` of every bench-flagged query
(or just the named ones) to plans/<round>/<query>_<suffix>.txt, e.g.
``--out r11 after``; ``suffix`` is ``before`` / ``after`` per an
optimization round, and plan-diff claims in OPTIMIZATION_<round>.md
are checked against these files. Both modes read
``$SPARK_GRAFT_SF_DIR`` (default sf0.1).
"""

from __future__ import annotations

import argparse
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sys.path.insert(0, ROOT)


def _plan_str(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _props(simple: str, codegen: str) -> list[str]:
    """Scale-relevant facts extracted from the plan strings."""
    out = []
    n_pushed = len(re.findall(r"PushedFilters: \[(?!\])", simple))
    if n_pushed:
        out.append(f"{n_pushed} scan(s) with pushed filters")
    n_bc = simple.count("BroadcastHashJoin")
    if n_bc:
        out.append(f"{n_bc} broadcast join(s) (no shuffled dim)")
    n_smj = simple.count("SortMergeJoin")
    if n_smj:
        out.append(f"{n_smj} sort-merge join(s)")
    out.append(f"{simple.count('Exchange hashpartitioning')} hash exchange(s)")
    n_partial = len(re.findall(r"HashAggregate.*partial_", simple))
    if n_partial:
        out.append(f"partial (map-side) aggregation x{n_partial}")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen)
    if m and int(m.group(1)):
        out.append(f"{m.group(1)} whole-stage codegen subtree(s)")
    if "Python" in simple:
        out.append("!! Python in plan")
    if "WindowGroupLimit" in simple:
        out.append("window group-limit pushdown (top-k never sorts all rows)")
    return out


def _write_round_plans(spark, sf_dir: str, rnd: str, suffix: str, names: list[str]):
    """plans/<rnd>/<query>_<suffix>.txt for the bench queries or ``names``."""
    from dvmax_spark.registry import all_queries

    qs = all_queries()
    specs = {n: qs[n] for n in names or [n for n, s in qs.items() if s.bench]}
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name, spec in specs.items():
        plan = _plan_str(spec.fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def _write_plans_md(spark, sf_dir: str) -> None:
    from dvmax_spark.registry import all_queries

    sha = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    # bench set + the non-bench operators whose plan shape carries the
    # 100 TB story (training-data pipeline, clustering, ANN, funnels)
    EXTRA = (
        "x_decontaminate",
        "x_pack_sequences",
        "x_train_split",
        "x_dedup_clusters",
        "x_cosine_topk_lsh",
        "x_curation_funnel",
        "j_salted_join",
        "w_event_funnel",
        "a_cohort_retention",
        "x_semantic_dedup",
        "a_continuous_rollup",
        "s13_format_matrix",
        "u_unpivot_melt",
        "a_grouping_sets",
        "sql_api_q18",
        # r4 additions: the hard decorrelation shapes + new operators
        "sql_api_q8",
        "sql_api_q12",
        "sql_api_q17",
        "sql_api_q21",
        "j_range_join",
        "x_block_dedup",
        "sql_grouping_sets",
        "sql_intersect_except",
    )
    qs = all_queries()
    specs = {n: s for n, s in qs.items() if s.bench}
    specs.update({n: qs[n] for n in EXTRA if n in qs})
    lines = [
        "# PLANS — physical plans of the bench headline queries",
        "",
        f"Generated by `python tools/gen_plans.py` at commit `{sha}` "
        f"against `{sf_dir}`. The bullet list under each query is the "
        "machine-extracted scale contract; tests/test_plans.py asserts "
        "these properties, this file makes them reviewable.",
        "",
    ]
    for name, spec in specs.items():
        df = spec.fn(spark, sf_dir)
        simple = _plan_str(df, "simple")
        codegen = _plan_str(df, "codegen")
        lines.append(f"## {name}")
        lines.append("")
        for p in _props(simple, codegen):
            lines.append(f"- {p}")
        lines.append("")
        lines.append("```")
        lines.append(simple.strip()[:4000])
        lines.append("```")
        lines.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(specs)} queries)")


def main() -> None:
    from dvmax_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--out",
        nargs="+",
        metavar=("ROUND SUFFIX", "NAME"),
        help="write plans/ROUND/<query>_SUFFIX.txt instead of PLANS.md",
    )
    args = ap.parse_args()
    if args.out is not None and len(args.out) < 2:
        ap.error("--out needs ROUND SUFFIX [NAME ...]")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("gen_plans")
    if args.out:
        _write_round_plans(spark, sf_dir, args.out[0], args.out[1], args.out[2:])
    else:
        _write_plans_md(spark, sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
