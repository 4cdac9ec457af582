"""Graph-scale evidence at ~1M edges for the dup-graph family:
connected_components_twophase (round count — the O(log n) claim),
pagerank_centrality, and dup_graph_census, over a synthetic pair
graph whose shapes stress each algorithm:

  * one 200,000-node CHAIN (~200k edges) — diameter 199,999: min-label
    propagation would need ~diameter/2 ≈ 100,000 rounds; two-phase
    must converge in O(log n).
  * 50 template STARS x 5,000 leaves (250k edges) — mega-hub skew; the
    census's a<b<c orientation must not enumerate hub wedges.
  * 20,000 five-cliques (200k edges) — triangle mass for the census.
  * ~360k pseudo-random edges over 500k ids — background blob.

With ``--crossover`` it instead times ``connected_components`` on the
same mixture scaled to 10^3..10^6 edges, once on the driver path and
once forced onto the two-phase core (``CC_DRIVER_MAX_EDGES = 0``): the
table that sets ``ext.dedup.CC_DRIVER_MAX_EDGES``. Jobs are counted by
job group; the wall covers the call plus a noop write of the labels.

Usage: python tools/graph_scale.py              (prints a markdown table)
       python tools/graph_scale.py --crossover  (local[2], 2 GB driver:
                                                the benchmark's pins)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _graph(spark, scale: float = 1.0):
    """The four-shape mixture above with every shape's edge count
    multiplied by ``scale``, as distinct (id_a < id_b) pairs."""
    from pyspark.sql import functions as F

    def n(k: int) -> int:
        return max(1, round(k * scale))

    chain = spark.range(0, n(199_999)).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stars = spark.range(0, n(250_000)).select(
        (F.lit(1_000_000) + F.expr("id div 5000")).alias("id_a"),
        (F.lit(2_000_000) + F.col("id")).alias("id_b"),
    )
    pa = F.array([F.lit(x) for x in (0, 0, 0, 0, 1, 1, 1, 2, 2, 3)])
    pb = F.array([F.lit(x) for x in (1, 2, 3, 4, 2, 3, 4, 3, 4, 4)])
    idx = (F.col("id") % 10 + 1).cast("int")
    base5 = F.lit(3_000_000) + F.expr("id div 10") * 5
    cliq = spark.range(0, n(200_000)).select(
        (base5 + F.element_at(pa, idx)).alias("id_a"),
        (base5 + F.element_at(pb, idx)).alias("id_b"),
    )
    rnd = spark.range(0, n(360_000)).select(
        (
            F.lit(4_000_000)
            + F.pmod(F.hash(F.concat(F.lit("r"), F.col("id").cast("string"))), F.lit(n(500_000)))
        ).alias("id_a"),
        (
            F.lit(4_000_000)
            + F.pmod(F.hash(F.concat(F.lit("s"), F.col("id").cast("string"))), F.lit(n(500_000)))
        ).alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    raw = chain.unionAll(stars).unionAll(cliq).unionAll(rnd)
    return raw.select(
        F.least("id_a", "id_b").alias("mn"), F.greatest("id_a", "id_b").alias("mx")
    ).distinct().select(F.col("mn").alias("id_a"), F.col("mx").alias("id_b"))


def crossover() -> None:
    """Driver path vs two-phase core of ``connected_components`` at
    10^3..10^6 edges (median of 3 alternating runs, 1 run at 10^6)."""
    import statistics

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from pyspark.sql import functions as F

    from dvmax_spark.ext import dedup
    from dvmax_spark.session import get_spark

    spark = get_spark("graph_scale_crossover")
    sc = spark.sparkContext
    limit = dedup.CC_DRIVER_MAX_EDGES
    print("| edges | nodes | driver jobs | driver wall | two-phase jobs | two-phase wall |")
    print("|---:|---:|---:|---:|---:|---:|")
    for target in (1_000, 10_000, 100_000, 1_000_000):
        pairs = _graph(spark, target / 1_000_000).cache()
        n_edges = pairs.count()
        n_nodes = pairs.select(F.explode(F.array("id_a", "id_b"))).distinct().count()
        runs: dict[str, list[tuple[int, float]]] = {"driver": [], "two-phase": []}
        for rep in range(3 if target < 1_000_000 else 1):
            for path, cap in (("driver", 10 * n_edges), ("two-phase", 0)):
                dedup.CC_DRIVER_MAX_EDGES = cap
                group = f"crossover-{target}-{path}-{rep}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                dedup.connected_components(pairs).write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
                runs[path].append((len(sc.statusTracker().getJobIdsForGroup(group)), wall))
        dedup.CC_DRIVER_MAX_EDGES = limit
        cells = []
        for path in ("driver", "two-phase"):
            cells.append(str(statistics.median(j for j, _ in runs[path])))
            cells.append(f"{statistics.median(w for _, w in runs[path]):.2f} s")
        print(f"| {n_edges:,} | {n_nodes:,} | " + " | ".join(cells) + " |", flush=True)
        pairs.unpersist()
    spark.stop()


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from pyspark.sql import functions as F

    from dvmax_spark.ext.dedup import (
        connected_components_twophase,
        dup_graph_census,
        incremental_components,
        pagerank_centrality,
    )
    from dvmax_spark.session import get_spark

    spark = get_spark("graph_scale", shuffle_partitions=64)
    pairs = _graph(spark).repartition(64).cache()
    n_edges = pairs.count()
    n_nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    print(f"graph: {n_edges:,} edges, {n_nodes:,} nodes", file=sys.stderr)

    rows = []

    t0 = time.perf_counter()
    labels, rounds = connected_components_twophase(pairs, max_rounds=40)
    n_comp = labels.agg(F.count_distinct("label")).collect()[0][0]
    chain_comp = (
        labels.where(F.col("id") < 200_000)
        .agg(F.count_distinct("label"))
        .collect()[0][0]
    )
    cc_wall = time.perf_counter() - t0
    assert chain_comp == 1, f"chain not fully merged: {chain_comp} labels"
    rows.append(
        (
            "connected_components_twophase",
            cc_wall,
            f"{rounds} rounds (chain diameter 199,999 ⇒ propagation would "
            f"need ~100k); {n_comp:,} components",
        )
    )

    t0 = time.perf_counter()
    pr = pagerank_centrality(pairs, top_k=20).collect()
    pr_wall = time.perf_counter() - t0
    hubs = sum(1 for r in pr if 1_000_000 <= r["doc_id"] < 1_005_000)
    rows.append(
        (
            "pagerank_centrality (5 iters)",
            pr_wall,
            f"top-20 contains {hubs} of the 50 star hubs",
        )
    )

    t0 = time.perf_counter()
    c = dup_graph_census(pairs).collect()[0]
    ce_wall = time.perf_counter() - t0
    rows.append(
        (
            "dup_graph_census",
            ce_wall,
            f"{c['n_edges']:,} edges, {c['n_triangles']:,} triangles, "
            f"gcc_ppm={c['gcc_ppm']}",
        )
    )

    # Maintenance path on BOUNDED components (what the sf0.1 bench
    # corpus can't show — its constant-vocab near-dup graph is one
    # giant component, so the touched set there is ~the whole graph):
    # a 1,000-edge batch, each edge merging two of the 20,000
    # five-cliques, touches 2,000 components (~10k of 1.1M nodes).
    # incremental_components must cost the touched part + batch, not
    # the graph — compare its wall to cc_wall (the full rebuild).
    t0 = time.perf_counter()
    batch = spark.range(0, 1_000).select(
        (F.lit(3_000_000) + F.col("id") * 10).alias("id_a"),
        (F.lit(3_000_000) + F.col("id") * 10 + 5).alias("id_b"),
    )
    inc_labels = incremental_components(labels, batch)
    n_comp_inc = inc_labels.agg(F.count_distinct("label")).collect()[0][0]
    inc_wall = time.perf_counter() - t0
    assert n_comp_inc == n_comp - 1_000, (
        f"each batch edge merges two previously-distinct cliques, so the "
        f"component count must drop by exactly 1,000: {n_comp:,} -> {n_comp_inc:,}"
    )
    rows.append(
        (
            "incremental_components (1k-edge batch)",
            inc_wall,
            f"touched 2,000 of {n_comp:,} components "
            f"(~10k of {n_nodes:,} nodes); full rebuild = {cc_wall:.1f} s",
        )
    )

    print("| operator | wall | evidence |")
    print("|---|---|---|")
    for name, wall, ev in rows:
        print(f"| {name} | {wall:.1f} s | {ev} |")
    spark.stop()


if __name__ == "__main__":
    crossover() if "--crossover" in sys.argv[1:] else main()
