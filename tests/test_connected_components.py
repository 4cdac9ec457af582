"""``ext.dedup.connected_components`` has two paths — union-find on the
driver up to ``CC_DRIVER_MAX_EDGES`` edges, the distributed two-phase
core above it. Both must give exactly the min-id labels of a sequential
union-find, on every graph shape; ``CC_DRIVER_MAX_EDGES = 0`` forces
the two-phase path on the same small inputs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

# (seed, nodes, edges drawn): sparse forest -> near-clique
RANDOM_GRAPHS = [(1, 40, 15), (2, 60, 60), (3, 30, 200), (4, 80, 40)]


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return [(a, b) for a, b in edges if a != b]


def _union_find_labels(n_nodes, edges):
    """Sequential ground truth: min-id component label per node."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def _graphs():
    for seed, n, m in RANDOM_GRAPHS:
        yield f"random{seed}", n, _random_edges(seed, n, m)
    yield "chain256", 256, [(i, i + 1) for i in range(255)]
    yield "empty", 10, []
    # self-loops, a duplicated edge and the same edge reversed
    yield "loops_dups_reversed", 12, [(3, 3), (1, 2), (2, 1), (1, 2), (5, 4), (7, 7), (4, 6)]


@pytest.mark.parametrize("path", ["driver", "twophase"])
@pytest.mark.parametrize("name,n,edges", list(_graphs()), ids=[g[0] for g in _graphs()])
def test_both_paths_match_union_find(spark, monkeypatch, path, name, n, edges):
    from dvmax_spark.ext import dedup

    if path == "twophase":
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    else:
        assert dedup.CC_DRIVER_MAX_EDGES >= len(edges)
    calls = []
    twophase = dedup.connected_components_twophase
    monkeypatch.setattr(
        dedup,
        "connected_components_twophase",
        lambda *a, **k: calls.append(1) or twophase(*a, **k),
    )
    truth = _union_find_labels(n, edges)
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = dedup.connected_components(pairs)
    got = {r["id"]: r["label"] for r in labels.collect()}
    touched = {x for e in edges if e[0] != e[1] for x in e}
    assert got == {i: truth[i] for i in touched}
    assert dict(labels.dtypes) == {"id": "bigint", "label": "bigint"}
    assert len(calls) == (path == "twophase" and bool(touched))
    # the verdict: every doc once, cluster_id = its component's min id
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    out = dedup.dedup_clusters(docs, pairs).collect()
    assert {r["doc_id"]: r["cluster_id"] for r in out} == truth


@pytest.mark.parametrize("path", ["driver", "twophase"])
@pytest.mark.parametrize("name,n,edges", list(_graphs()), ids=[g[0] for g in _graphs()])
def test_incremental_merge_matches_union_find(spark, monkeypatch, path, name, n, edges):
    """``incremental_components`` labels its touched subgraph through
    ``connected_components``, so the merge of a graph's second half of
    edges into the labels of its first half must give the whole graph's
    min-id labels on either path."""
    from dvmax_spark.ext import dedup

    if path == "twophase":
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    calls = []
    twophase = dedup.connected_components_twophase
    monkeypatch.setattr(
        dedup,
        "connected_components_twophase",
        lambda *a, **k: calls.append(1) or twophase(*a, **k),
    )
    old, new = edges[::2], edges[1::2]
    labels0 = dedup.connected_components(spark.createDataFrame(old, "id_a long, id_b long"))
    calls.clear()
    rows = dedup.incremental_components(
        labels0, spark.createDataFrame(new, "id_a long, id_b long")
    ).collect()
    got = {r["id"]: r["label"] for r in rows}
    truth = _union_find_labels(n, edges)
    touched = {x for e in edges if e[0] != e[1] for x in e}
    assert len(rows) == len(got)
    assert got == {i: truth[i] for i in touched}
    assert len(calls) == (path == "twophase" and any(a != b for a, b in new))


@pytest.mark.parametrize("path", ["driver", "twophase"])
def test_incremental_merge_keeps_singleton_under_self_loop(spark, monkeypatch, path):
    """A self-loop in the edge batch on a stored singleton adds no
    connectivity: the singleton keeps its label, beside the merge of
    the batch's other edges."""
    from dvmax_spark.ext import dedup

    if path == "twophase":
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    labels = spark.createDataFrame([(1, 1), (2, 1), (7, 7)], "id long, label long")
    new = spark.createDataFrame([(7, 7), (2, 3)], "id_a long, id_b long")
    rows = dedup.incremental_components(labels, new).collect()
    assert sorted((r["id"], r["label"]) for r in rows) == [(1, 1), (2, 1), (3, 1), (7, 7)]
