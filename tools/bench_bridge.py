"""Protocol bridge (round 8): settle whether the r7 baseline-subset
drift (~1.5x the r1 standing baseline) was plan regression or
shared-session harness pressure.

In ONE Spark session, at one git head, measure the r1 17-query subset
under three conditions:

  A  isolated      — n interleaved passes over the subset only, fresh
                     JVM; approximates r1's condition (r1's bench
                     roster WAS the 17 subset queries).
  B  full-roster   — n interleaved passes over every benched query
                     (the r7 protocol); subset mins extracted from the
                     shared-pressure samples.
  A2 isolated-again — repeat of A after B, same JVM. If A2 tracks A,
                     session AGE is innocent and the inflation in B is
                     concurrent-roster pressure (heap/codegen churn
                     from ~40 distinct plans); if A2 tracks B, the JVM
                     itself degraded and phase order matters.

Prints one JSON document and appends nothing; copy the table into
SCALING.md. Run: python tools/bench_bridge.py  (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_BENCH_PASSES as for bench.py).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUBSET = (
    "a1_pricing_summary", "a3_sma_trailing", "a8_max_drawdown",
    "fx_price_features", "j1_inner_join_agg", "j2_asof_backward",
    "j5_upsert_keep_last", "j7_dim_enrichment", "s1_scan_project",
    "sql_api_q3", "t_tumbling_window", "v1_range_validation",
    "w1_lag_returns", "w5_topk_per_group", "x_cosine_topk",
    "x_exact_dedup", "x_text_stats",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    from dvmax_spark.registry import all_queries
    from dvmax_spark.session import get_spark

    spark = get_spark("dvmax_bench_bridge")
    specs = {n: s for n, s in all_queries().items() if s.bench}

    def run(name: str) -> float:
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("s1_scan_project")  # warmup: JVM + codegen + parquet footers

    # pre-build the persisted artifacts exactly as bench.py does, so
    # phase B's artifact-backed queries measure the read path
    import dvmax_spark.queries_ext as qext

    for _, ensure in qext.ARTIFACTS:
        ensure(spark, sf_dir)

    def phase(names: list[str]) -> dict[str, float]:
        samples: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(n_passes):
            for n in names:
                samples[n].append(run(n))
            gc.collect()
        return {n: round(min(s), 3) for n, s in samples.items()}

    subset = [n for n in SUBSET if n in specs]
    roster = list(specs)

    a = phase(subset)
    b_all = phase(roster)
    b = {n: b_all[n] for n in subset}
    a2 = phase(subset)

    def wall(t: dict[str, float]) -> float:
        return round(sum(t.values()), 3)

    out = {
        "sf_dir": sf_dir,
        "n_passes": n_passes,
        "subset_wall_isolated": wall(a),
        "subset_wall_full_roster": wall(b),
        "subset_wall_isolated_again": wall(a2),
        "full_roster_total": wall(b_all),
        "per_query": {
            n: {"isolated": a[n], "full_roster": b[n], "isolated_again": a2[n]}
            for n in subset
        },
        "full_roster": b_all,
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
