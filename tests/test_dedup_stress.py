"""Dedup-at-scale stress evidence (the 100 TB story, in miniature):
an adversarial 10k-doc corpus — a 1,000-doc identical mega-family, a
near-dup chain, and ~9k unique docs — through the full pipeline
(minhash LSH candidates + exact dedup + cluster assignment).

What the assertions pin:
  * the bucket cap ENGAGES on the mega-family (its band buckets exceed
    max_bucket and are dropped), so candidate-pair volume stays
    O(n·max_bucket), not O(n²) — the one failure mode that kills
    banded LSH at scale;
  * exact_dedup (the cheap first pass) is what catches the identical
    family — the documented division of labor with the capped LSH;
  * connected components label realistic (star/short-chain) graphs
    exactly, and the two-phase core TERMINATES on adversarial chains
    even when max_rounds is too small to converge — by raising;
  * end-to-end wall-clock stays bounded (generous: this container has
    5-10x timing noise; the real scale signal is the pair-count bound).

Measured numbers are recorded in SCALING.md §dedup-stress.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # long-tail tier (tests/conftest.py)

import time

from pyspark.sql import functions as F

from tests.test_connected_components import (
    RANDOM_GRAPHS,
    _random_edges,
    _union_find_labels,
)

N_IDENTICAL = 1_000
N_CHAIN = 12
N_UNIQUE = 8_988
CAP = 500


def _corpus(spark):
    rows = []
    fixed = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(N_IDENTICAL):
        rows.append((i, fixed))
    # chain: doc i and i+1 share 20 of 21 words -> high Jaccard between
    # NEIGHBORS only (a path graph, the worst diameter per edge count)
    chain_words = [f"c{j}" for j in range(N_CHAIN + 21)]
    for i in range(N_CHAIN):
        rows.append((10_000 + i, " ".join(chain_words[i : i + 21])))
    # unique docs: disjoint vocabularies, zero shared shingles
    for i in range(N_UNIQUE):
        rows.append((20_000 + i, " ".join(f"u{i}_{j}" for j in range(20))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_pipeline_survives_adversarial_corpus(spark):
    from dvmax_spark.ext.dedup import dedup_clusters, exact_dedup, minhash_lsh_pairs

    docs = _corpus(spark).cache()
    assert docs.count() == N_IDENTICAL + N_CHAIN + N_UNIQUE

    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, max_bucket=CAP, threshold=0.5).cache()
    n_pairs = pairs.count()
    lsh_secs = time.perf_counter() - t0

    # cap engaged: the identical family's buckets (1,000 > CAP) are
    # dropped, so NO pair touches it and the pair space stays tiny
    # (vs ~500k pairs from the mega-family alone without the cap)
    assert pairs.where((F.col("id_a") < 10_000) | (F.col("id_b") < 10_000)).count() == 0
    assert n_pairs < 5 * (N_CHAIN * 2)  # chain neighbors ± band luck
    # ...but the chain's real near-dups ARE found (small buckets survive)
    chain_adj = pairs.where(
        (F.col("id_a") >= 10_000) & (F.col("id_a") < 20_000)
        & (F.col("id_b") == F.col("id_a") + 1)
    ).count()
    assert chain_adj >= N_CHAIN - 2  # every adjacent pair, band-luck margin

    # the identical family is the EXACT pass's job: one survivor
    survivors = exact_dedup(docs)
    assert survivors.where(F.col("doc_id") < 10_000).count() == 1
    # exact pass contributes the family's star edges to the cluster graph
    fam_edges = (
        docs.where(F.col("doc_id") < 10_000)
        .select(F.col("doc_id").alias("id_b"))
        .where(F.col("id_b") > 0)
        .withColumn("id_a", F.lit(0))
        .select("id_a", "id_b")
    )

    t0 = time.perf_counter()
    clusters = dedup_clusters(
        docs, pairs.select("id_a", "id_b").unionByName(fam_edges)
    ).cache()
    rows = {r["doc_id"]: r for r in clusters.collect()}
    cluster_secs = time.perf_counter() - t0

    # mega-family: one cluster of 1,000, exactly one keeper
    fam = [r for i, r in rows.items() if i < 10_000]
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == N_IDENTICAL for r in fam)
    assert sum(r["keep"] for r in fam) == 1
    # chain: one cluster of N_CHAIN
    chain = [r for i, r in rows.items() if 10_000 <= i < 20_000]
    assert all(r["cluster_id"] == 10_000 and r["cluster_size"] == N_CHAIN for r in chain)
    assert sum(r["keep"] for r in chain) == 1
    # unique docs: all singletons, all kept
    uniq = [r for i, r in rows.items() if i >= 20_000]
    assert all(r["cluster_size"] == 1 and r["keep"] for r in uniq)

    # wall-clock sanity (generous: container noise; the scale evidence
    # above is the pair-count bound, not this number)
    assert lsh_secs < 420, lsh_secs
    assert cluster_secs < 420, cluster_secs
    print(f"\nstress: lsh={lsh_secs:.1f}s pairs={n_pairs} clusters={cluster_secs:.1f}s")
    docs.unpersist(), pairs.unpersist(), clusters.unpersist()


def test_dedup_clusters_twophase_terminates_on_adversarial_chain(spark):
    """A 50-edge path with max_rounds=2 cannot converge — the bound must
    still TERMINATE the two-phase loop (the core of
    dedup_clusters_twophase), and loudly: unconverged labels would split
    the chain into dozens of clusters."""
    from dvmax_spark.ext.dedup import connected_components_twophase

    n = 50
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(RuntimeError, match="after 2 rounds"):
        connected_components_twophase(pairs, max_rounds=2)


def test_canonical_by_degree_picks_the_hub(spark):
    """A star family (hub pairs with every spoke; spokes don't pair
    with each other) must canonicalize to the hub even when a spoke
    is longer; ties break on min id."""
    from dvmax_spark.ext.dedup import canonical_by_degree

    docs = spark.createDataFrame(
        [(i, "t", 10 * (i + 1)) for i in range(5)] + [(9, "u", 1)],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "id_a long, id_b long"
    )
    out = canonical_by_degree(docs, pairs).collect()
    assert len(out) == 1  # the singleton doc 9 is excluded
    r = out[0]
    assert r["canonical_id"] == 0 and r["canonical_degree"] == 4
    assert r["cluster_size"] == 5
    # tie case: two-doc cluster, equal degree -> min id wins
    pairs2 = spark.createDataFrame([(3, 4)], "id_a long, id_b long")
    r2 = canonical_by_degree(docs, pairs2).collect()[0]
    assert r2["canonical_id"] == 3 and r2["canonical_degree"] == 1


def test_twophase_matches_union_find_on_random_graphs(spark):
    """Alternating large-star/small-star CC must produce exactly the
    min-id labeling of a sequential union-find on seeded random graphs
    of several densities (sparse forest -> near-clique)."""
    from dvmax_spark.ext.dedup import connected_components_twophase

    for seed, n, m in RANDOM_GRAPHS:
        edges = _random_edges(seed, n, m)
        truth = _union_find_labels(n, edges)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        labels, rounds = connected_components_twophase(pairs)
        got = {r["id"]: r["label"] for r in labels.collect()}
        touched = {a for a, _ in edges} | {b for _, b in edges}
        assert got == {i: truth[i] for i in touched}, f"seed={seed}"
        assert rounds <= 12


def test_twophase_chain_converges_logarithmically(spark):
    """A 256-node path has diameter 255 — min-label propagation needs
    ~255 rounds; the alternating algorithm must label it to node 0 in
    O(log n) rounds."""
    from dvmax_spark.ext.dedup import connected_components_twophase

    n = 256
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels, rounds = connected_components_twophase(pairs, max_rounds=16)
    assert rounds <= 14  # ~2*log2(256) with confirmation round
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["label"] == 0 for r in rows)


def test_twophase_cluster_output_matches_driver_path(spark):
    """dedup_clusters_twophase and dedup_clusters (on its driver-side
    union-find path at this size) agree row-for-row (cluster_id,
    cluster_size, keep) on the hand-built chain + star + singleton
    graph and on a random graph with a rank column."""
    import random

    from dvmax_spark.ext.dedup import (
        CC_DRIVER_MAX_EDGES,
        dedup_clusters,
        dedup_clusters_twophase,
    )

    assert CC_DRIVER_MAX_EDGES >= 30

    docs = spark.createDataFrame(
        [(i, 10 * ((i * 7) % 9)) for i in range(1, 30)], "doc_id long, w long"
    )
    rng = random.Random(11)
    hand = [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7)]
    rnd = [(rng.randrange(1, 30), rng.randrange(1, 30)) for _ in range(25)]
    for edges in (hand, [(a, b) for a, b in rnd if a != b]):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        a = sorted(
            map(tuple, dedup_clusters(docs, pairs, rank_col="w").collect())
        )
        b = sorted(
            map(
                tuple,
                dedup_clusters_twophase(docs, pairs, rank_col="w").collect(),
            )
        )
        assert a == b
