"""Streaming near-dup ingest (streaming/dedup_ingest.py): greedy
online dedup against the persisted MinHash index, slice-invariant,
replay-idempotent, with the documented greedy-vs-components chain
semantics."""

from __future__ import annotations

import pytest

import os

DOC_SCHEMA = "doc_id long, text string"


def _mk_corpus(spark):
    """3 clone families + 1 chain + uniques. Family members are exact
    clones (minhash est=1.0); the chain is a~b, b~c with a!~c."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for fam in range(3):
        fam_text = base + f" fam{fam} " + " ".join(f"w{fam}{i}" for i in range(10))
        for m in range(3):
            rows.append((100 * fam + m, fam_text))
    # chain: b shares half its text with a, half with c
    a = " ".join(f"a{i}" for i in range(20))
    c = " ".join(f"c{i}" for i in range(20))
    b = " ".join(f"a{i}" for i in range(10)) + " " + " ".join(f"c{i}" for i in range(10))
    rows += [(900, a), (901, b), (902, c)]
    rows += [(950 + i, " ".join(f"u{i}_{j}" for j in range(15))) for i in range(5)]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def _stage_slices(docs_pdf, in_dir, n_slices):
    os.makedirs(in_dir, exist_ok=True)
    # ordered split (round-robin would break id-ordered arrival)
    docs_sorted = docs_pdf.sort_values("doc_id").reset_index(drop=True)
    step = (len(docs_sorted) + n_slices - 1) // n_slices
    now = None
    for i in range(n_slices):
        part = docs_sorted.iloc[i * step : (i + 1) * step]
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        part.to_parquet(dst)
        if now is None:
            now = os.stat(dst).st_mtime
        os.utime(dst, (now + i, now + i))


def _run_ingest(spark, tmp, n_slices, docs_pdf, tag):
    from dvmax_spark.ext.dedup import MinHashIndex
    from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

    root = os.path.join(str(tmp), f"run_{tag}")
    in_dir = os.path.join(root, "in")
    _stage_slices(docs_pdf, in_dir, n_slices)
    idx = MinHashIndex(
        spark, os.path.join(root, "idx"), num_hashes=32, bands=16, shingle_n=2
    )
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_dedup_ingest(
            stream,
            idx,
            out_dir=os.path.join(root, "novel"),
            dup_dir=os.path.join(root, "dups"),
            threshold=0.2,
            checkpoint_dir=os.path.join(root, "ckpt"),
            query_name=f"dedup_ingest_{tag}",
        )
        q.awaitTermination(180)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    novel = {
        r.doc_id for r in spark.read.parquet(os.path.join(root, "novel")).collect()
    }
    dup_rows = spark.read.parquet(os.path.join(root, "dups")).collect()
    return root, idx, novel, dup_rows


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_greedy_online_dedup_slice_invariant(spark, tmp_path):
    docs_pdf = _mk_corpus(spark).toPandas()
    results = {}
    for n_slices in (2, 5):
        _, _, novel, dups = _run_ingest(spark, tmp_path, n_slices, docs_pdf, n_slices)
        results[n_slices] = (novel, {(r.doc_id, r.dup_of) for r in dups})
    # id-ordered arrival: slicing must not change the outcome
    assert results[2][0] == results[5][0]
    assert results[2][1] == results[5][1]
    novel, dups = results[2]
    # clone families: exactly the min id of each family survives
    for fam in range(3):
        assert 100 * fam in novel
        assert {100 * fam + 1, 100 * fam + 2} & novel == set()
    # every displaced family member names the surviving min id
    dup_of = dict(dups)
    for fam in range(3):
        assert dup_of[100 * fam + 1] == 100 * fam
        assert dup_of[100 * fam + 2] == 100 * fam
    # chain a~b, b~c: GREEDY semantics — a admitted, b displaced by a,
    # c admitted again (its witness b was never admitted)
    assert 900 in novel and 902 in novel and 901 not in novel
    # uniques all survive
    assert {950 + i for i in range(5)} <= novel


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_replay_is_idempotent(spark, tmp_path):
    """Re-running the same input dir with a FRESH checkpoint (a full
    replay) must add no new rows to the novel sink or the index."""
    from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

    docs_pdf = _mk_corpus(spark).toPandas()
    root, idx, novel, dups0 = _run_ingest(spark, tmp_path, 3, docs_pdf, "replay")
    n_novel = len(novel)
    n_dups = len(dups0)
    n_index = spark.read.parquet(idx.path).count()
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "in"))
    )
    q = stream_dedup_ingest(
        stream,
        idx,
        out_dir=os.path.join(root, "novel"),
        dup_dir=os.path.join(root, "dups"),
        threshold=0.2,
        checkpoint_dir=os.path.join(root, "ckpt2"),
        query_name="dedup_ingest_replay2",
    )
    q.awaitTermination(180)
    assert len(set(
        r.doc_id for r in spark.read.parquet(os.path.join(root, "novel")).collect()
    )) == n_novel
    assert spark.read.parquet(os.path.join(root, "novel")).count() == n_novel
    # the dup sink must also be byte-stable across replays (ledger guard)
    assert spark.read.parquet(os.path.join(root, "dups")).count() == n_dups
    assert spark.read.parquet(idx.path).count() == n_index


def test_chain_in_single_batch_matches_sequential_greedy(spark, tmp_path):
    """The review-flagged case: a chain a~b, b~c arriving in ONE
    micro-batch must behave exactly like sequential arrival — a
    admitted, b displaced by a, c admitted (its only witness b never
    survived). Pair-based min-id displacement would wrongly drop c
    with dup_of pointing at the never-admitted b."""
    docs_pdf = _mk_corpus(spark).toPandas()
    _, _, novel, dups = _run_ingest(spark, tmp_path, 1, docs_pdf, "onebatch")
    assert 900 in novel and 902 in novel and 901 not in novel
    dup_of = {r.doc_id: r.dup_of for r in dups}
    assert dup_of[901] == 900
    # no displaced doc may name another DISPLACED doc as its original
    displaced_ids = set(dup_of)
    assert not (set(dup_of.values()) & displaced_ids)


def _sequential_greedy(ids, edges, verdict=None):
    """Reference: process ``ids`` in order; a doc already in
    ``verdict`` is displaced, any other is displaced by its smallest
    lower-id neighbour that survived."""
    lower = {}
    for a, b in edges:
        lower.setdefault(max(a, b), set()).add(min(a, b))
    verdict = dict(verdict or {})
    for d in sorted(ids):
        if d not in verdict:
            witnesses = [a for a in lower.get(d, ()) if a not in verdict]
            if witnesses:
                verdict[d] = min(witnesses)
    return verdict


def _greedy(spark, edges, verdict=None):
    from dvmax_spark.streaming.dedup_ingest import _greedy_verdict

    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    return _greedy_verdict(edf, dict(verdict or {}))


def test_greedy_verdict_on_synthetic_graphs(spark):
    """Deterministic unit check of the driver-side greedy pass (no LSH
    banding luck involved): chains, stars, and a 4-chain."""

    def run(ids, edges):
        return set(ids) - set(_greedy(spark, edges))

    # chain 1-2-3: greedy admits {1, 3}
    assert run([1, 2, 3], [(1, 2), (2, 3)]) == {1, 3}
    # chain 1-2-3-4: {1, 3} (4 displaced by surviving 3)
    assert run([1, 2, 3, 4], [(1, 2), (2, 3), (3, 4)]) == {1, 3}
    # star 1-{2,3,4}: only the hub's min survives
    assert run([1, 2, 3, 4], [(1, 2), (1, 3), (1, 4)]) == {1}
    # two components + isolated node
    assert run([1, 2, 5, 6, 9], [(1, 2), (5, 6)]) == {1, 5, 9}
    # triangle: {1} (2 and 3 both see survivor 1)
    assert run([1, 2, 3], [(1, 2), (1, 3), (2, 3)]) == {1}


def test_greedy_verdict_exact_on_a_60_chain(spark):
    """A 60-node chain in one batch: sequential greedy admits every odd
    node (30 survivors), each even node displaced by its predecessor.
    A depth-bounded fixpoint stops short of this chain's depth."""
    edges = [(i, i + 1) for i in range(1, 60)]
    got = _greedy(spark, edges)
    assert got == {i: i - 1 for i in range(2, 61, 2)}
    assert len(set(range(1, 61)) - set(got)) == 30


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_greedy_verdict_matches_sequential_reference(spark, seed):
    """Seeded random graphs, with and without cross-displaced docs
    seeding the verdict, against the plain sequential reference."""
    import random

    rng = random.Random(seed)
    n = 120
    edges = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(3 * n)})
    cross = {d: -1 for d in rng.sample(range(n), 10)}
    # the sink hands over pairs among non-cross docs only
    contender_edges = [(a, b) for a, b in edges if a not in cross and b not in cross]
    for seed_verdict, es in (({}, edges), (cross, contender_edges)):
        want = _sequential_greedy(range(n), es, seed_verdict)
        assert _greedy(spark, es, seed_verdict) == want


def _mk_drift_corpus(n=90, seed=7):
    """Seeded docs where many are 1-2 word edits of an earlier doc (of
    the previous doc, often), so near-dup chains cross the index/batch
    and batch/batch boundaries."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    texts = []
    for i in range(n):
        if i and rng.random() < 0.6:
            src = texts[i - 1] if rng.random() < 0.5 else rng.choice(texts)
            words = src.split()
            for _ in range(rng.choice((1, 2))):
                words[rng.randrange(len(words))] = f"w{rng.randrange(400)}"
        else:
            words = [f"w{rng.randrange(400)}" for _ in range(12)]
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": range(n), "text": texts})


def _count_signature_passes(monkeypatch):
    import dvmax_spark.ext.dedup as dd

    calls = []
    real = dd.minhash_signature

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dd, "minhash_signature", spy)
    return calls


def _drain(spark, start, root):
    """Run ``start(stream, checkpoint_dir)`` over ``root/in`` with 8
    shuffle partitions, wait for it and return the query."""
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "in"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = start(stream, os.path.join(root, "ckpt"))
        q.awaitTermination(180)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert q.exception() is None
    return q


KW = dict(num_hashes=32, bands=16, shingle_n=2)


def test_ingest_two_batches_against_built_index(spark, tmp_path, monkeypatch):
    """An index written by ``build()`` takes any number of micro-batches
    (one partition layout for keyed and unkeyed writes). Each batch
    computes its signatures once, and the sinks equal sequential greedy
    over the full-corpus LSH pairs with the built docs pre-admitted."""
    from dvmax_spark.ext.dedup import MinHashIndex, minhash_lsh_pairs
    from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

    pdf = _mk_drift_corpus()
    n_index, root = 40, str(tmp_path)
    _stage_slices(pdf[pdf.doc_id >= n_index], os.path.join(root, "in"), 2)
    idx = MinHashIndex(spark, os.path.join(root, "idx"), **KW)
    idx.build(spark.createDataFrame(pdf[pdf.doc_id < n_index], DOC_SCHEMA))
    calls = _count_signature_passes(monkeypatch)
    _drain(
        spark,
        lambda stream, ckpt: stream_dedup_ingest(
            stream,
            idx,
            out_dir=os.path.join(root, "novel"),
            dup_dir=os.path.join(root, "dups"),
            threshold=0.3,
            checkpoint_dir=ckpt,
        ),
        root,
    )
    assert len(calls) == 2  # one signature pass per micro-batch
    monkeypatch.undo()

    pairs = minhash_lsh_pairs(
        spark.createDataFrame(pdf, DOC_SCHEMA), threshold=0.3, **KW
    ).collect()
    want = _sequential_greedy(
        range(n_index, len(pdf)), [(r.id_a, r.id_b) for r in pairs]
    )
    got = {
        (r.doc_id, r.dup_of)
        for r in spark.read.parquet(os.path.join(root, "dups")).collect()
    }
    novel = {r.doc_id for r in spark.read.parquet(os.path.join(root, "novel")).collect()}
    assert got == set(want.items())
    assert novel == set(range(n_index, len(pdf))) - set(want)
    assert min(want.values()) < n_index <= max(want.values())  # cross and within
    assert sorted(d for d in os.listdir(idx.path) if d.startswith("ingest_batch=")) == [
        "ingest_batch=0", "ingest_batch=1", "ingest_batch=__base__"
    ]
    assert spark.read.parquet(idx.path).count() == KW["bands"] * (n_index + len(novel))


def test_stream_into_components_one_signature_pass_per_batch(
    spark, tmp_path, monkeypatch
):
    """The exact-clustering sink shares one signature pass per batch
    between the index match, the within-batch pairs and the append;
    its labels equal the components of the full-corpus pairs."""
    from dvmax_spark.ext.dedup import (
        MinHashIndex,
        connected_components,
        minhash_lsh_pairs,
    )
    from dvmax_spark.streaming.dedup_ingest import stream_into_components

    pdf, root = _mk_drift_corpus(60, seed=11), str(tmp_path)
    _stage_slices(pdf, os.path.join(root, "in"), 2)
    idx = MinHashIndex(spark, os.path.join(root, "idx"), **KW)
    labels = os.path.join(root, "labels")
    calls = _count_signature_passes(monkeypatch)
    _drain(
        spark,
        lambda stream, ckpt: stream_into_components(
            stream, idx, labels, threshold=0.3, checkpoint_dir=ckpt
        ),
        root,
    )
    assert len(calls) == 2
    monkeypatch.undo()

    pairs = minhash_lsh_pairs(
        spark.createDataFrame(pdf, DOC_SCHEMA), threshold=0.3, max_bucket=None, **KW
    )
    want = {(r.id, r.label) for r in connected_components(pairs).collect()}
    assert {(r.id, r.label) for r in spark.read.parquet(labels).collect()} == want
    assert len(want) > len({label for _, label in want})  # some merged


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_mid_batch_crash_replay_is_idempotent(spark, tmp_path):
    """Crash-window replay: simulate a failure AFTER the last batch's
    novel/dup/index writes but BEFORE its ledger commit (delete the
    ledger's last ingest_batch partition), then replay. Batch-keyed
    dynamic partition overwrite must REWRITE that batch's partitions
    with identical content — an append-based sink would double every
    row of the batch."""
    import shutil

    from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

    docs_pdf = _mk_corpus(spark).toPandas()
    root, idx, novel, dups0 = _run_ingest(spark, tmp_path, 3, docs_pdf, "crash")
    ledger = idx.path + "_seen"
    batches = sorted(d for d in os.listdir(ledger) if d.startswith("ingest_batch="))
    assert len(batches) == 3
    n_novel = spark.read.parquet(os.path.join(root, "novel")).count()
    n_dups = spark.read.parquet(os.path.join(root, "dups")).count()
    n_index = spark.read.parquet(idx.path).count()
    dup_attr = {
        (r.doc_id, r.dup_of)
        for r in spark.read.parquet(os.path.join(root, "dups")).collect()
    }
    # crash simulation: last batch's data writes landed, ledger did not
    shutil.rmtree(os.path.join(ledger, batches[-1]))

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "in"))
    )
    q = stream_dedup_ingest(
        stream,
        idx,
        out_dir=os.path.join(root, "novel"),
        dup_dir=os.path.join(root, "dups"),
        threshold=0.2,
        checkpoint_dir=os.path.join(root, "ckpt_crash2"),
        query_name="dedup_ingest_crashreplay",
    )
    q.awaitTermination(180)
    assert spark.read.parquet(os.path.join(root, "novel")).count() == n_novel
    assert spark.read.parquet(os.path.join(root, "dups")).count() == n_dups
    assert spark.read.parquet(idx.path).count() == n_index
    assert {
        r.doc_id for r in spark.read.parquet(os.path.join(root, "novel")).collect()
    } == novel
    # byte-stability, not just membership: the replayed batch's index
    # partition is excluded from cross-matching (match_new exclude_batch),
    # so dup_of attribution cannot drift toward a smaller-id batch peer
    assert {
        (r.doc_id, r.dup_of)
        for r in spark.read.parquet(os.path.join(root, "dups")).collect()
    } == dup_attr


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_compact_batches_folds_history_and_preserves_matches(spark, tmp_path):
    """Batch-keyed ingest accumulates one ingest_batch partition per
    micro-batch; compact_batches folds all but the most recent into
    __base__ (replay-safe: only the in-flight batch can replay) while
    preserving every row and every match result."""
    docs_pdf = _mk_corpus(spark).toPandas()
    root, idx, novel, _ = _run_ingest(spark, tmp_path, 3, docs_pdf, "cmpb")
    before_rows = spark.read.parquet(idx.path).count()
    probe = spark.createDataFrame(
        [(9999, docs_pdf.iloc[0]["text"])], DOC_SCHEMA
    )
    before_matches = {
        (r.new_id, r.old_id) for r in idx.match_new(probe, threshold=0.2).collect()
    }
    idx.compact_batches(keep_last=1)
    parts = sorted(
        d for d in os.listdir(idx.path) if d.startswith("ingest_batch=")
    )
    assert "ingest_batch=__base__" in parts and len(parts) == 2, parts
    assert spark.read.parquet(idx.path).count() == before_rows
    after_matches = {
        (r.new_id, r.old_id) for r in idx.match_new(probe, threshold=0.2).collect()
    }
    assert after_matches == before_matches and before_matches


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_stream_into_components_slice_invariant_and_redrain_stable(spark, tmp_path):
    """Streaming EXACT clustering: the maintained label table must
    equal the from-scratch two-phase CC of the full-corpus pair set at
    every slicing (1 batch vs 4 batches), and a fresh-checkpoint full
    re-drain must leave the labels unchanged (edge re-merges are
    no-ops — the marker-free idempotence claim)."""
    from dvmax_spark.ext.dedup import (
        MinHashIndex,
        connected_components_twophase,
        minhash_lsh_pairs,
    )
    from dvmax_spark.streaming.dedup_ingest import stream_into_components

    docs = _mk_corpus(spark)
    pdf = docs.toPandas()
    full_pairs = minhash_lsh_pairs(
        docs.where("size(split(text, ' ')) >= 2"),
        num_hashes=32, bands=16, shingle_n=2, threshold=0.1, max_bucket=None,
    )
    want_labels, _ = connected_components_twophase(full_pairs)
    want = {(r["id"], r["label"]) for r in want_labels.collect()}

    def _drain(tag, n_slices, reuse_root=None, ck="ck1"):
        root = reuse_root or os.path.join(str(tmp_path), f"cc_{tag}")
        in_dir = os.path.join(root, "in")
        if not os.path.isdir(in_dir):
            _stage_slices(pdf, in_dir, n_slices)
        idx = MinHashIndex(
            spark, os.path.join(root, "idx"), num_hashes=32, bands=16, shingle_n=2
        )
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_into_components(
            stream, idx, os.path.join(root, "labels"), threshold=0.1,
            checkpoint_dir=os.path.join(root, ck), query_name=f"cc_{tag}_{ck}",
        )
        q.awaitTermination(180)
        assert q.exception() is None
        return root, {
            (r["id"], r["label"])
            for r in spark.read.parquet(os.path.join(root, "labels")).collect()
        }

    _, got1 = _drain("one", 1)
    root4, got4 = _drain("four", 4)
    assert got1 == want and got4 == want
    # fresh-checkpoint full re-drain over the same store: labels stable
    _, got_redrain = _drain("four", 4, reuse_root=root4, ck="ck2")
    assert got_redrain == want
