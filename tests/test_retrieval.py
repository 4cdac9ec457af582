"""Semantic + plan-shape tests for the retrieval/IR additions
(vocabulary, BM25, duplicated spans), the leakage-safe group split,
and SCD Type-2 history. Exact-value parity vs DuckDB is covered by
the parametrized sweep in test_oracle_parity.py; these pin the
operator SEMANTICS and the 100 TB plan shapes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dvmax_spark.ext.retrieval import bm25_rank, dup_span_stats, vocabulary
from tests.conftest import SF_DIR_CORRECT
from tests.test_plans import _plan


def _docs(spark):
    from dvmax_spark.catalog import load_table

    return load_table(spark, "documents", SF_DIR_CORRECT)


# ------------------------------------------------------------- vocabulary


def test_vocabulary_counts_partition_the_token_stream(spark):
    """Top-|vocab| vocabulary counts must sum to the corpus token count
    (the synthetic vocab is ~31 tokens, well under k=100)."""
    docs = _docs(spark)
    vocab = vocabulary(docs, k=100).toPandas()
    total_tokens = docs.select(
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
        ).alias("n")
    ).collect()[0]["n"]
    assert vocab["n_occ"].sum() == total_tokens
    # ordering contract: non-increasing counts, token tie-break
    assert list(vocab["n_occ"]) == sorted(vocab["n_occ"], reverse=True)


def test_vocabulary_drops_empty_tokens(spark):
    """Doubled/leading/trailing spaces split to '' — the vocab of a
    tokenizer-training corpus must never contain the empty string
    (round-3 verdict nit), and both engines must agree on the drop."""
    import duckdb

    rows = [("d1", "a  b"), ("d2", " a b "), ("d3", "a   a")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    vocab = vocabulary(df, k=10).toPandas()
    assert "" not in set(vocab["token"])
    assert dict(zip(vocab["token"], vocab["n_occ"])) == {"a": 4, "b": 2}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    from dvmax_spark.ext.retrieval import vocabulary_sql

    exp = con.execute(vocabulary_sql(k=10)).fetchall()
    assert exp == list(map(tuple, vocab[["token", "n_occ"]].itertuples(index=False)))


def test_bm25_rejects_empty_terms(spark):
    """Both surfaces must fail the same way on zero query terms
    (mirrors bm25_rank_sql's ValueError — ADVICE r3)."""
    import pytest as _pytest

    from dvmax_spark.ext.retrieval import bm25_rank_sql

    with _pytest.raises(ValueError):
        bm25_rank(_docs(spark), ())
    with _pytest.raises(ValueError):
        bm25_rank_sql(())


def test_vocabulary_is_partial_agg(spark):
    """The vocab groupBy must map-side combine — the shuffle carries
    ≤|vocab| rows per partition, not the token stream."""
    assert "partial_" in _plan(vocabulary(_docs(spark), k=100))


# ------------------------------------------------------------------- BM25


def test_bm25_scores_positive_and_bounded_topk(spark):
    terms = ("table", "spark", "join", "customer")
    top = bm25_rank(_docs(spark), terms, k=20).toPandas()
    assert len(top) == 20
    assert (top["bm25"] > 0).all()
    assert list(top["bm25"]) == sorted(top["bm25"], reverse=True)


def test_bm25_monotone_in_term_coverage(spark):
    """A doc matching ZERO query terms must never outscore one that
    matches: absent docs (score undefined) stay absent from the
    ranking, and every ranked doc contains ≥1 query term."""
    terms = ("table", "spark")
    docs = _docs(spark)
    ranked = bm25_rank(docs, terms, k=500).toPandas()
    has_term = (
        docs.select(
            "doc_id",
            F.arrays_overlap(
                F.split(F.col("text"), " "), F.array(*[F.lit(t) for t in terms])
            ).alias("hit"),
        )
        .toPandas()
        .set_index("doc_id")["hit"]
    )
    assert all(has_term[d] for d in ranked["doc_id"])


def test_bm25_small_sides_broadcast(spark):
    """df/avgdl joins must broadcast (tiny aggregates), never shuffle
    the tf table on the term key."""
    plan = _plan(bm25_rank(_docs(spark), ("table", "spark"), k=20))
    assert "BroadcastExchange" in plan


# ------------------------------------------------------------- dup spans


def test_dup_span_stats_flags_planted_duplicates(spark):
    """Two synthetic docs sharing an 8-token span must both report
    duplicated spans; a unique-vocab doc must report zero."""
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "z y a b c d e f g h x"),
        (3, "q w e r t u i o p s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_span_stats(df, n=8).toPandas().set_index("doc_id")
    # doc1: spans abc..h, bcd..i, cde..j -> first shared with doc2
    assert out.loc[1, "n_dup"] == 1 and out.loc[2, "n_dup"] == 1
    assert out.loc[3, "n_dup"] == 0 and out.loc[3, "dup_frac"] == 0.0
    assert out.loc[1, "n_spans"] == 3 and out.loc[2, "n_spans"] == 4


def test_dup_span_short_docs_report_zero_spans(spark):
    df = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    out = dup_span_stats(df, n=8).toPandas()
    assert out.loc[0, "n_spans"] == 0 and out.loc[0, "dup_frac"] == 0.0


# ------------------------------------------------------------ group split


def test_group_split_keeps_clusters_together(spark):
    """Leakage-safety invariant: every near-dup cluster draws exactly
    ONE split — no component straddles train/eval."""
    out = _q_sf001(spark, "x_group_split").toPandas()
    per_cluster = out.groupby("cluster_id")["split"].nunique()
    assert (per_cluster == 1).all()
    assert set(out["split"]) <= {"train", "val", "test"}
    # split must actually partition the corpus
    assert len(out) == out["doc_id"].nunique()


def _q_sf001(spark, name):
    from dvmax_spark.registry import all_queries

    return all_queries()[name].fn(spark, SF_DIR_CORRECT)


# ------------------------------------------------------------------- SCD2


def test_scd2_intervals_are_disjoint_and_exhaustive(spark):
    hist = _q_sf001(spark, "j_scd2_history").toPandas()
    for _, g in hist.groupby("custkey"):
        # exactly one open (current) version per key, closing the chain
        assert g["is_current"].sum() == 1
        cur = g[g["is_current"]]
        assert cur["valid_from"].iloc[0] == g["valid_from"].max()
        # intervals chain: every close date is the next version's open
        # date (multiset compare — same-date versions make a strict
        # positional compare ill-defined without the change sequence)
        closed = sorted(g["valid_to"].dropna())
        assert closed == sorted(g["valid_from"])[1:]


# -------------------------------------------------------------- chunking


def test_doc_chunks_overlap_and_tail_semantics(spark):
    """64/32 chunking of an n-token doc yields ceil(n/32) chunks with
    starts 0,32,64,... and the tail partial kept."""
    from dvmax_spark.ext.retrieval import doc_chunks

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100)))], "doc_id long, text string"
    )
    out = doc_chunks(df, window=64, stride=32).toPandas()
    assert list(out["chunk_idx"]) == [0, 1, 2, 3]
    assert list(out["chunk_tokens"]) == [64, 64, 36, 4]
    # identical token content -> identical fingerprints across docs
    df2 = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out2 = doc_chunks(df2, window=64, stride=32).toPandas()
    assert out2["chunk_md5"].nunique() == 1


def test_doc_chunks_is_shuffle_free(spark):
    """The chunker must be a pure map over the corpus (explode + slice,
    no exchange) — its 100 TB contract."""
    from dvmax_spark.ext.retrieval import doc_chunks

    plan = _plan(doc_chunks(_docs(spark)).where(F.col("doc_id") < 10))
    body = plan.split("AdaptiveSparkPlan")[-1]
    # the only exchange allowed is the final presentation orderBy
    assert body.count("Exchange") <= 1, plan


def test_dup_span_hot_gram_cap_is_conservative(spark):
    """max_doc_freq may only LOWER per-doc dup counts (boilerplate
    grams dropped), never raise them — the conservative-prune contract
    shared with exact Jaccard."""
    uncapped = (
        dup_span_stats(_docs(spark), n=8).toPandas().set_index("doc_id")["n_dup"]
    )
    capped = (
        dup_span_stats(_docs(spark), n=8, max_doc_freq=2)
        .toPandas()
        .set_index("doc_id")["n_dup"]
    )
    assert (capped <= uncapped).all()
    assert capped.sum() < uncapped.sum() or uncapped.sum() == 0


def test_doc_chunks_coverage_property(spark):
    """Property (hypothesis): for any doc length n >= 1, chunk starts
    are 0,32,64,... < n; token counts are min(64, n-start); every token
    position is covered by at least one chunk and at most two."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dvmax_spark.ext.retrieval import doc_chunks

    @settings(max_examples=12, deadline=None)
    @given(st.integers(min_value=1, max_value=300))
    def check(n):
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(n)))], "doc_id long, text string"
        )
        out = doc_chunks(df, window=64, stride=32).toPandas()
        starts = [32 * i for i in out["chunk_idx"]]
        assert starts == list(range(0, n, 32))
        assert list(out["chunk_tokens"]) == [min(64, n - s) for s in starts]
        cover = [0] * n
        for s, t in zip(starts, out["chunk_tokens"]):
            for p in range(s, s + t):
                cover[p] += 1
        assert all(1 <= c <= 2 for c in cover)

    check()


def test_span_dedup_clean_removes_exact_covered_positions(spark):
    """Hand-built corpus: the shared 8-gram 'a..h' covers exactly its
    8 positions in each doc; surviving tokens rebuild in order; a
    unique doc is untouched (hash equals md5 of its own text)."""
    import hashlib

    from dvmax_spark.ext.retrieval import span_dedup_clean

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "z y a b c d e f g h x"),
        (3, "q w e r t u i o p s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_dedup_clean(df, n=8).toPandas().set_index("doc_id")
    # doc1: grams at 0..2 — 'a..h' (dup), 'b..i', 'c..j' (unique);
    # covered = positions 0..7, kept = 'i j'
    assert out.loc[1, "n_removed"] == 8
    assert out.loc[1, "clean_hash"] == hashlib.md5(b"i j").hexdigest()
    # doc2: dup gram starts at pos 2, covers 2..9 -> kept 'z y x'
    assert out.loc[2, "n_removed"] == 8
    assert out.loc[2, "clean_hash"] == hashlib.md5(b"z y x").hexdigest()
    # doc3 untouched: identity hash
    assert out.loc[3, "n_removed"] == 0
    assert out.loc[3, "clean_hash"] == hashlib.md5(b"q w e r t u i o p s").hexdigest()


def test_span_dedup_clean_full_coverage_and_conservative_cap(spark):
    """Identical docs clean to empty text; max_doc_freq pruning can
    only KEEP more text (never delete extra) — the documented
    conservativeness direction of the 100 TB knob."""
    from dvmax_spark.ext.retrieval import span_dedup_clean

    rows = [(i, "a b c d e f g h i j") for i in range(4)] + [
        (9, "u n i q u e words only here now")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_dedup_clean(df, n=8).toPandas().set_index("doc_id")
    for i in range(4):
        assert out.loc[i, "clean_len"] == 0 and out.loc[i, "n_removed"] == 10
    capped = span_dedup_clean(df, n=8, max_doc_freq=2).toPandas().set_index("doc_id")
    # the shared grams appear in 4 docs > cap -> treated as boilerplate, kept
    assert (capped["n_removed"] <= out["n_removed"]).all()
    assert capped.loc[0, "n_removed"] == 0


def test_source_overlap_invariants(spark):
    from dvmax_spark.ext.retrieval import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "a b c d", "s2"),      # identical grams -> jaccard 1
            (3, "x y z w", "s3"),      # disjoint from s1/s2
            (4, "a b c q", "s3"),      # partial overlap with s1
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r["src_a"], r["src_b"]): r for r in source_overlap(docs, n=3).collect()}
    assert rows[("s1", "s2")]["jaccard_ppm"] == 1_000_000
    # s1 grams {abc,bcd}; s3 grams {xyz,yzw,abq... } -> shares {"a b c"}
    r13 = rows[("s1", "s3")]
    assert r13["n_inter"] == 1 and r13["n_union"] == 5
    assert r13["jaccard_ppm"] == 1_000_000 // 5
    # no self-pairs, src_a < src_b only
    assert all(a < b for a, b in rows)


def test_source_overlap_distinct_before_join(spark):
    """The self-join operands must be source-level DISTINCT so a hot
    gram costs |sources|^2, not |docs|^2: both join children must
    aggregate before the join."""
    from dvmax_spark.ext.retrieval import source_overlap

    plan = source_overlap(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the (grp, gram) distinct shows up as a HashAggregate under each side
    assert plan.count("HashAggregate") >= 4


def test_vocab_growth_sublinear_and_monotone(spark):
    """Heaps law: vocab grows monotonically but SLOWER than tokens —
    the last decile must add fewer new words per new token than the
    first (sublinearity the BPE in-memory word dict relies on)."""
    from dvmax_spark.ext.retrieval import vocab_growth

    rows = vocab_growth(_docs(spark), deciles=10).collect()
    assert len(rows) == 10
    assert rows[-1]["n_docs_cum"] == sum(1 for _ in _docs(spark).collect())
    for a, b in zip(rows, rows[1:]):
        assert b["n_tokens_cum"] > a["n_tokens_cum"]
        assert b["n_vocab_cum"] >= a["n_vocab_cum"]
    first_rate = rows[0]["n_vocab_cum"] / rows[0]["n_tokens_cum"]
    last_rate = (rows[-1]["n_vocab_cum"] - rows[-2]["n_vocab_cum"]) / (
        rows[-1]["n_tokens_cum"] - rows[-2]["n_tokens_cum"]
    )
    assert last_rate < first_rate


def test_cdc_chunking_is_shift_robust(spark):
    """Inserting ONE word near the head must leave every chunk after
    the first content-anchored boundary identical — the property
    fixed-width blocks (block_dedup_stats) fundamentally lack."""
    from dvmax_spark.ext.retrieval import cdc_dedup_stats

    base = [f"w{i}" for i in range(60)]
    shifted = base[:1] + ["INSERTED"] + base[1:]
    docs = spark.createDataFrame(
        [(1, " ".join(base), "a"), (2, " ".join(shifted), "b")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in cdc_dedup_stats(docs, avg_chunk=16).collect()}
    # both docs must report duplicated chunk mass (the shared tail)...
    assert out["a"]["n_dup_chunks"] >= 1 and out["b"]["n_dup_chunks"] >= 1
    # ...but not everything (the head chunk differs by the insertion)
    assert out["b"]["n_dup_chunks"] < out["b"]["n_chunks"]
    # and the duplicated token mass is the bulk of the documents
    assert out["a"]["dup_tokens"] >= 40


def test_winnow_guarantee_and_compression(spark):
    """The winnowing contract: two docs sharing a (w+k-1)-token run
    must share >= 1 selected fingerprint; selection compresses the
    index (selected << grams); a unique doc shares nothing."""
    from dvmax_spark.ext.retrieval import winnow_fingerprints

    shared_run = " ".join(f"s{i}" for i in range(7))  # w+k-1 = 7 tokens
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 " + shared_run + " a4 a5 a6", "x"),
            (2, "b1 b2 b3 b4 " + shared_run + " b5 b6", "y"),
            (3, " ".join(f"u{i}" for i in range(18)), "z"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in winnow_fingerprints(docs, k=4, w=4).collect()}
    assert out["x"]["n_fp_shared"] >= 1 and out["y"]["n_fp_shared"] >= 1
    assert out["z"]["n_fp_shared"] == 0
    for r in out.values():  # sampling actually compresses
        assert r["n_selected"] < r["n_grams"]


def test_stream_into_bm25_equals_batch_and_survives_crash(spark, tmp_path):
    """The streamed BM25 index must score EXACTLY like the one-shot
    corpus scan (tf/dl are per-doc, n_docs/len_sum/df are count
    monoids), survive a crashed stats promote mid-swap, and replay a
    micro-batch idempotently (postings partition overwrite + stats
    marker)."""
    import os
    import shutil

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.retrieval import bm25_from_index
    from dvmax_spark.streaming.ingest import stream_into_bm25

    terms = ("table", "spark", "join", "customer")
    docs = load_table(spark, "documents", SF_DIR_CORRECT).select("doc_id", "text")
    pdf = docs.toPandas()
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    path = str(tmp_path / "index")

    def _feed(sl, name):
        spark.createDataFrame(sl).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(str(tmp_path / name), f),
                    os.path.join(in_dir, name + ".parquet"),
                )

    def _drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        q = stream_into_bm25(
            stream, path, checkpoint_dir=str(tmp_path / "ck"), query_name="bm25_t"
        )
        q.awaitTermination(120)

    _feed(pdf.iloc[:200], "b1")
    _drain()
    stats_dir = os.path.join(path, "stats")
    os.rename(stats_dir, stats_dir + ".old")  # crash window mid-promote
    _feed(pdf.iloc[200:], "b2")
    _drain()

    from dvmax_spark.ext.retrieval import bm25_rank

    got = {r["doc_id"]: r["bm25"] for r in
           bm25_from_index(spark, path, terms, k=20).collect()}
    want = {r["doc_id"]: r["bm25"] for r in bm25_rank(docs, terms, k=20).collect()}
    assert got == want

    # fresh-checkpoint guard: clearing the checkpoint restarts
    # micro-batch ids at 0 — BELOW the committed marker (1). The old
    # '>= marker' test silently skipped such batches (dropping
    # genuinely-new data on a real counter restart); the sink now
    # raises loudly and leaves the store untouched (r4 ADVICE).
    n_before = spark.read.parquet(stats_dir).collect()[0]
    shutil.rmtree(str(tmp_path / "ck"))
    from pyspark.errors import StreamingQueryException

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
    q = stream_into_bm25(
        stream, path, checkpoint_dir=str(tmp_path / "ck"), query_name="bm25_t"
    )
    try:
        q.awaitTermination(120)
    except StreamingQueryException:
        pass
    assert q.exception() is not None
    assert "older than the committed marker" in str(q.exception())
    n_after = spark.read.parquet(stats_dir).collect()[0]
    assert (n_before["n_docs"], n_before["len_sum"]) == (
        n_after["n_docs"], n_after["len_sum"],
    )
    got2 = {r["doc_id"]: r["bm25"] for r in
            bm25_from_index(spark, path, terms, k=20).collect()}
    assert got2 == want


def test_stream_into_bm25_redelivered_docs_counted_once(spark, tmp_path):
    """A doc id re-delivered in a LATER micro-batch (at-least-once
    sources do this) must not double-count n_docs/len_sum or write
    duplicate postings: the seen-id ledger anti-joins it away, and
    within-batch duplicate ids collapse to one row. Scores from the
    streamed index must equal the batch scan over the DISTINCT docs
    (r4 ADVICE)."""
    import os

    from dvmax_spark.ext.retrieval import bm25_from_index, bm25_rank
    from dvmax_spark.streaming.ingest import stream_into_bm25

    rows = [
        (1, "spark join table spark"),
        (2, "customer table scan"),
        (2, "customer table scan"),  # duplicate WITHIN batch 0
        (3, "join join filter"),
    ]
    later = [
        (2, "customer table scan"),  # re-delivered ACROSS batches
        (4, "spark filter push"),
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    path = str(tmp_path / "index")

    def _feed(sl, name):
        spark.createDataFrame(sl, "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import shutil as _sh

        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                _sh.copy(
                    os.path.join(str(tmp_path / name), f),
                    os.path.join(in_dir, name + ".parquet"),
                )

    def _drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(in_dir)
        q = stream_into_bm25(
            stream, path, checkpoint_dir=str(tmp_path / "ck"), query_name="bm25_led"
        )
        q.awaitTermination(120)
        assert q.exception() is None

    _feed(rows, "b1")
    _drain()
    _feed(later, "b2")
    _drain()

    stats = spark.read.parquet(os.path.join(path, "stats")).collect()[0]
    assert stats["n_docs"] == 4  # docs 1-4, each exactly once
    docs = spark.createDataFrame(
        [(1, "spark join table spark"), (2, "customer table scan"),
         (3, "join join filter"), (4, "spark filter push")],
        "doc_id long, text string",
    )
    terms = ("spark", "table", "join")
    got = {r["doc_id"]: r["bm25"] for r in
           bm25_from_index(spark, path, terms, k=10).collect()}
    want = {r["doc_id"]: r["bm25"] for r in bm25_rank(docs, terms, k=10).collect()}
    assert got == want
    # postings: doc 2 appears under exactly one ingest batch
    posts = spark.read.parquet(os.path.join(path, "postings"))
    from pyspark.sql import functions as F

    per_doc = {
        r["doc_id"]: r["nb"]
        for r in posts.groupBy("doc_id")
        .agg(F.countDistinct("ingest_batch").alias("nb"))
        .collect()
    }
    assert per_doc == {1: 1, 2: 1, 3: 1, 4: 1}


def test_marker_skips_guard_semantics(tmp_path):
    """Replay of the newest committed batch skips; an OLDER batch id
    (fresh-checkpoint counter restart) raises; newer ids and absent
    markers apply (r4 ADVICE medium)."""
    import json

    import pytest

    from dvmax_spark.streaming.ingest import _marker_skips

    table = str(tmp_path)
    assert _marker_skips(table, 0, "t") is False  # no marker yet
    with open(tmp_path / "_meta.json", "w") as fh:
        json.dump({"batch_id": 3}, fh)
    assert _marker_skips(table, 3, "t") is True  # legal replay
    assert _marker_skips(table, 4, "t") is False  # genuinely new
    with pytest.raises(ValueError, match="older than the committed marker"):
        _marker_skips(table, 2, "t")


def test_stream_into_cms_requires_checkpoint(spark):
    import pytest

    from dvmax_spark.streaming.ingest import stream_into_cms

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="checkpoint_dir is required"):
        stream_into_cms(stream, "/tmp/nope", "value", checkpoint_dir=None)


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def test_exact_substr_planted_run_removed_with_exact_boundaries(spark):
    """The ExactSubstr contract (Lee et al. 2022): a planted TRUE
    duplicated run of >= min_len tokens is removed EXACTLY — no
    over-trim into the unique neighbors, no under-trim at the run's
    edges — while a run one token short of min_len survives untouched,
    and one of exactly min_len is cut."""
    from dvmax_spark.ext.retrieval import exact_substr_dedup

    run25 = [f"s{i}" for i in range(25)]
    run19 = [f"t{i}" for i in range(19)]
    run20 = [f"u{i}" for i in range(20)]
    mk = lambda pre, mid, post: " ".join(pre + mid + post)
    docs = spark.createDataFrame(
        [
            (1, mk([f"a{i}" for i in range(10)], run25, [f"b{i}" for i in range(10)])),
            (2, mk([f"c{i}" for i in range(10)], run25, [f"d{i}" for i in range(10)])),
            (3, mk([f"e{i}" for i in range(10)], run19, [f"f{i}" for i in range(10)])),
            (4, mk([f"g{i}" for i in range(10)], run19, [f"h{i}" for i in range(10)])),
            (5, mk([f"p{i}" for i in range(10)], run20, [f"q{i}" for i in range(10)])),
            (6, mk([f"r{i}" for i in range(10)], run20, [f"w{i}" for i in range(10)])),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_dedup(docs, n=8, min_len=20).collect()
    }
    # 25-token true duplicate: removed exactly, both copies
    for d, pre, post in ((1, "a", "b"), (2, "c", "d")):
        assert (out[d]["n_removed"], out[d]["n_runs"], out[d]["max_run_len"]) == (
            25, 1, 25,
        )
        want = " ".join([f"{pre}{i}" for i in range(10)] + [f"{post}{i}" for i in range(10)])
        assert out[d]["clean_hash"] == _md5(want)
    # 19-token duplicate: below min_len, kept in full
    for d, pre, mid, post in ((3, "e", run19, "f"), (4, "g", run19, "h")):
        assert out[d]["n_removed"] == 0
        orig = " ".join([f"{pre}{i}" for i in range(10)] + mid + [f"{post}{i}" for i in range(10)])
        assert out[d]["clean_hash"] == _md5(orig)
    # exactly min_len: removed
    assert out[5]["n_removed"] == 20 and out[5]["max_run_len"] == 20
    assert out[6]["n_removed"] == 20


def test_exact_substr_within_doc_repeat_and_stitched_superset(spark):
    """Two documented semantics beyond the covered-position form:
    (1) duplication counts TOTAL corpus occurrences, so a verbatim
    within-doc repeat of >= min_len tokens is cut (both copies) even
    with no other doc sharing it; (2) the gram-granularity
    approximation is one-sided — a run STITCHED from grams matching
    different other docs can reach min_len and be cut in the stitching
    doc while each source doc's shorter covered run survives."""
    from dvmax_spark.ext.retrieval import exact_substr_dedup

    rep = [f"z{i}" for i in range(20)]
    r1 = [f"x{i}" for i in range(15)]
    r2 = [f"y{i}" for i in range(15)]
    docs = spark.createDataFrame(
        [
            # doc 1: the same 20-token run twice, unique separator
            (1, " ".join(rep + [f"m{i}" for i in range(10)] + rep)),
            # doc 2 stitches r1+r2 adjacently; docs 3/4 hold one each
            (2, " ".join([f"a{i}" for i in range(10)] + r1 + r2 + [f"b{i}" for i in range(10)])),
            (3, " ".join([f"c{i}" for i in range(10)] + r1 + [f"d{i}" for i in range(10)])),
            (4, " ".join([f"e{i}" for i in range(10)] + r2 + [f"f{i}" for i in range(10)])),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_dedup(docs, n=8, min_len=20).collect()
    }
    # (1) within-doc: both 20-token copies removed, separator kept
    assert out[1]["n_removed"] == 40 and out[1]["n_runs"] == 2
    assert out[1]["clean_hash"] == _md5(" ".join(f"m{i}" for i in range(10)))
    # (2) stitched 30-token covered run cut in doc 2 ...
    assert out[2]["n_removed"] == 30 and out[2]["max_run_len"] == 30
    assert out[2]["clean_hash"] == _md5(
        " ".join([f"a{i}" for i in range(10)] + [f"b{i}" for i in range(10)])
    )
    # ... while each source doc's 15-token covered run is below the
    # gate and survives in full
    for d in (3, 4):
        assert out[d]["n_removed"] == 0
    # docs shorter than n: no grams, kept whole (schema sanity)
    tiny = spark.createDataFrame([(9, "one two three")], "doc_id long, text string")
    t = exact_substr_dedup(tiny, n=8, min_len=20).collect()[0]
    assert (t["n_tokens"], t["n_removed"], t["clean_hash"]) == (3, 0, _md5("one two three"))


def test_exact_substr_clean_vs_reference_corpus(spark):
    """The cross-corpus ExactSubstr contract: a >= min_len span copied
    FROM the reference is excised with exact boundaries; spans shared
    only AMONG new docs are untouched (cross-corpus-only semantics —
    the batching-independence guarantee); a sub-threshold copy
    survives."""
    from dvmax_spark.ext.retrieval import exact_substr_clean_vs

    X = [f"x{i}" for i in range(25)]
    Y = [f"y{i}" for i in range(25)]
    ref = spark.createDataFrame(
        [(100, " ".join([f"r{i}" for i in range(5)] + X + [f"q{i}" for i in range(5)]))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # copies the reference run X -> cut exactly
            (1, " ".join([f"a{i}" for i in range(10)] + X + [f"b{i}" for i in range(10)])),
            # B and C share Y with each OTHER, not with ref -> kept
            (2, " ".join([f"c{i}" for i in range(10)] + Y + [f"d{i}" for i in range(10)])),
            (3, " ".join([f"e{i}" for i in range(10)] + Y + [f"f{i}" for i in range(10)])),
            # 19-token sub-run of X -> below the 20 gate, kept
            (4, " ".join([f"g{i}" for i in range(10)] + X[:19] + [f"h{i}" for i in range(10)])),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_clean_vs(new, ref, n=8, min_len=20).collect()
    }
    assert (out[1]["n_removed"], out[1]["n_runs"], out[1]["max_run_len"]) == (25, 1, 25)
    assert out[1]["clean_hash"] == _md5(
        " ".join([f"a{i}" for i in range(10)] + [f"b{i}" for i in range(10)])
    )
    for d, pre, mid, post in ((2, "c", Y, "d"), (3, "e", Y, "f")):
        assert out[d]["n_removed"] == 0
        assert out[d]["clean_hash"] == _md5(
            " ".join([f"{pre}{i}" for i in range(10)] + mid + [f"{post}{i}" for i in range(10)])
        )
    assert out[4]["n_removed"] == 0  # 19 < min_len: exact gate
    # the reference side is never in the output
    assert 100 not in out


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_stream_substr_decontam_redrain_idempotent(spark, tmp_path):
    """Span-level streaming decontamination is stateless per doc
    (frozen GramIndex, no cross-batch state), so even a FRESH
    CHECKPOINT full re-drain must leave the output byte-stable —
    the strongest idempotence in the streaming curation family."""
    import os

    from dvmax_spark.ext.retrieval import GramIndex, exact_substr_clean_vs
    from dvmax_spark.streaming.decontam_ingest import stream_substr_decontam

    run = [f"s{i}" for i in range(25)]
    ref = spark.createDataFrame(
        [(100, " ".join([f"r{i}" for i in range(5)] + run))],
        "doc_id long, text string",
    )
    new_rows = [
        (1, " ".join([f"a{i}" for i in range(10)] + run + [f"b{i}" for i in range(10)])),
        (2, " ".join(f"c{i}" for i in range(30))),
        (3, " ".join([f"d{i}" for i in range(3)] + run + [f"e{i}" for i in range(3)])),
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for k, row in enumerate(new_rows):
        spark.createDataFrame([row], "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"b{k}"))
        import shutil as _sh

        for f in os.listdir(str(tmp_path / f"b{k}")):
            if f.endswith(".parquet"):
                _sh.copy(
                    os.path.join(str(tmp_path / f"b{k}"), f),
                    os.path.join(in_dir, f"{k:03d}.parquet"),
                )
    idx = GramIndex(spark, str(tmp_path / "grams"), n=8)
    idx.build(ref)
    out = str(tmp_path / "clean")

    def _drain(ck):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)  # same slicing both drains:
            # batch k rewrites its own partition with identical content
            .parquet(in_dir)
        )
        q = stream_substr_decontam(
            stream, idx, out, min_len=20,
            checkpoint_dir=str(tmp_path / ck), query_name=f"ssd_{ck}",
        )
        q.awaitTermination(120)
        assert q.exception() is None

    _drain("ck1")
    first = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("ingest_batch").collect()
    )
    _drain("ck2")  # fresh checkpoint: everything replays as new batches
    second = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("ingest_batch").collect()
    )
    assert first == second
    # and equals the batch operator
    want = sorted(
        tuple(r)
        for r in exact_substr_clean_vs(
            spark.createDataFrame(new_rows, "doc_id long, text string"), ref,
            n=8, min_len=20,
        ).collect()
    )
    assert first == want


def test_tfidf_cosine_prefix_filter_is_lossless(spark):
    """The symmetric half-threshold prefix filter must return EXACTLY
    the brute-force pair set (ids and cosines) on seeded random corpora
    whose similarity mass is spread across common AND rare tokens —
    the shape that breaks a (wrong) full-threshold symmetric filter."""
    import itertools
    import random

    from dvmax_spark.ext.retrieval import tfidf_cosine_pairs

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(60):
        base = rng.sample(vocab, rng.randint(3, 8))
        docs.append((i, " ".join(base + rng.choices(vocab[:5], k=rng.randint(0, 6)))))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    for threshold in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in tfidf_cosine_pairs(sdf, threshold=threshold).collect()
        }
        # brute force in python over the same quantized weights
        import math
        from collections import Counter

        tfs = {i: Counter(t.split(" ")) for i, t in docs}
        n = len(docs)
        dfc = Counter(tok for c in tfs.values() for tok in c)
        idf = {
            t: int(round(math.log10((n * 1_000_000) // d) * 1000)) - 6000
            for t, d in dfc.items()
        }
        w = {
            i: {t: c * idf[t] for t, c in cnt.items() if idf[t] > 0}
            for i, cnt in tfs.items()
        }
        exp = {}
        for a, b in itertools.combinations(range(60), 2):
            dot = sum(wa * w[b].get(t, 0) for t, wa in w[a].items())
            na, nb = (
                math.sqrt(sum(x * x for x in w[a].values())),
                math.sqrt(sum(x * x for x in w[b].values())),
            )
            if na and nb and dot / (na * nb) >= threshold:
                exp[(a, b)] = round(dot / (na * nb), 4)
        assert got == exp, f"threshold={threshold}"


def test_zipf_slope_degenerate_vocab_yields_null(spark):
    """One-token vocab: zero x-variance regression must yield a null
    slope, not an engine-dependent Infinity."""
    from dvmax_spark.ext.retrieval import zipf_slope

    docs = spark.createDataFrame([(1, "w w w"), (2, "w")], "doc_id long, text string")
    row = zipf_slope(docs, top=10).collect()[0]
    assert row["n_points"] == 1 and row["slope"] is None
