"""[EXT X18-X21] Training-data pipeline queries: benchmark
decontamination, deterministic splits, sequence packing, stratified
sampling — each oracled exactly against DuckDB (deterministic portable
hashes, explicit orderings; generators in ext/traindata.py keep the
two engines' constants identical by construction).

These run past the external driver's 50-query correctness cap, so
their primary parity evidence is tests/test_oracle_parity.py (same
compare) plus tools/driver_sim.py --all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.fsops import scratch_path
from dvmax_spark.ext.traindata import (
    contaminated_ids,
    contamination_overlap,
    contamination_overlap_sql,
    group_split,
    group_split_sql,
    decontaminate_sql,
    hash_bucket,
    mixture_rebalance,
    mixture_rebalance_sql,
    pack_sequences,
    pack_sequences_sql,
    stratified_sample,
    stratified_sample_sql,
    train_split,
    train_split_sql,
    traindata_funnel,
    traindata_funnel_sql,
)
from dvmax_spark.registry import query
from dvmax_spark.operators.distrank import with_exact_ntile, with_hash_slice


@query(
    "x_traindata_funnel",
    ids=("X18", "X19", "X20", "X21", "P3", "P4"),
    sql=traindata_funnel_sql(),
    bench=True,
)
def x_traindata_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The full curation funnel in one dataflow (in-cap evidence for
    the whole X18-X21 family): null/short-doc cleaning (P3/P4 as the
    funnel's admission predicates), 5-gram benchmark decontamination
    vs the src0 slice (X18), deterministic 90/5/5 split (X19), 128-token
    sequence packing per (split, bucket) stream (X20), and a 20%
    deterministic sample audit (X21) — one row per split."""
    docs = load_table(spark, "documents", sf)
    return traindata_funnel(docs)


@query(
    "x_contam_overlap",
    ids=("X18",),
    sql=contamination_overlap_sql(n=5, eval_source="src0", threshold_ppm=500_000),
)
def x_contam_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Graded contamination (PaLM §7-style): per training doc, the
    EXACT ppm fraction of its distinct 5-grams shared with the eval
    slice, flagged only above 50%. Same broadcast-semi-join shape as
    x_decontaminate — the corpus never shuffles on the gram key."""
    docs = load_table(spark, "documents", sf)
    ev = docs.where(F.col("source") == "src0")
    tr = docs.where(F.col("source") != "src0")
    return contamination_overlap(tr, ev, n=5, threshold_ppm=500_000)


@query("x_decontaminate", ids=("X18",), sql=decontaminate_sql(n=5, eval_source="src0"))
def x_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C-style): flag training
    docs sharing any 5-gram with the eval slice (source='src0'), report
    per-source totals. Eval grams are DISTINCTed then broadcast — the
    corpus side never shuffles."""
    docs = load_table(spark, "documents", sf)
    ev = docs.where(F.col("source") == "src0")
    tr = docs.where(F.col("source") != "src0")
    bad = contaminated_ids(tr, ev, n=5).withColumn("_c", F.lit(1))
    return (
        tr.join(bad, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_c").isNotNull(), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
        )
        .orderBy("source")
    )


@query("x_train_split", ids=("X19",), sql=train_split_sql())
def x_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split from a portable id
    hash (reproducible across engines/runs — never rand())."""
    docs = load_table(spark, "documents", sf)
    return (
        train_split(docs)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query("x_pack_sequences", ids=("X20",), sql=pack_sequences_sql(ctx_len=128, n_buckets=8))
def x_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing: docs concatenated per hash bucket in
    doc_id order, chunked into 128-token context windows (a doc belongs
    to the window its first token lands in). One shuffle on the bucket
    key; per-bucket streaming window — no global sort."""
    docs = load_table(spark, "documents", sf)
    return pack_sequences(docs, ctx_len=128, n_buckets=8)


@query("x_stratified_sample", ids=("X21",), sql=stratified_sample_sql(pct=20))
def x_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 20% per-language sample with an audit of the
    resulting mixture (per-stratum totals vs kept)."""
    docs = load_table(spark, "documents", sf)
    return stratified_sample(docs, strata_col="lang", pct=20)


@query("x_mixture_rebalance", ids=("X21",), sql=mixture_rebalance_sql())
def x_mixture_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Uniform mixture rebalancing: every source downsampled to the
    smallest source's size, quota going to the lowest portable-hash
    docs — deterministic across engines (exact rank path; the
    map-side approximate path is the 100 TB default, tested for
    closeness in tests/test_traindata.py)."""
    docs = load_table(spark, "documents", sf)
    return mixture_rebalance(docs)


@query("x_hash_bucket_balance", ids=("X19",), sql=f"""
    SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16) AS bucket,
           count(*) AS n
    FROM documents GROUP BY bucket ORDER BY bucket
    """)
def x_hash_bucket_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Bucket-balance audit for the portable hash (skew in the splitter
    would skew every downstream packing/sampling stage)."""
    docs = load_table(spark, "documents", sf)
    return (
        docs.select(hash_bucket("doc_id", 16).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@query("x_group_split", ids=("X19", "X17"), bench=True, sql=group_split_sql())
def x_group_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup CLUSTERS (MinHash
    LSH → connected components) drawn as units, so no document can sit
    in train while its near-duplicate sits in eval. Split assignment is
    a portable hash of the component label — map-side arithmetic on top
    of the existing clustering pipeline. Pairs read from the persisted
    NearDupGraph artifact (queries_ext._ndg_pairs)."""
    docs = load_table(spark, "documents", sf)
    from dvmax_spark.queries_ext import _ndg_pairs

    return group_split(docs, _ndg_pairs(spark, sf)).orderBy("doc_id")


def _ppl_sample_sql(pct: int = 30) -> str:
    from dvmax_spark.ext.textstats import unigram_logprob_sql
    from dvmax_spark.ext.traindata import _duck_bucket

    b = _duck_bucket("doc_id::VARCHAR", 100)
    return f"""
    WITH lp AS ({unigram_logprob_sql()}),
    q AS (
      SELECT doc_id, avg_logprob,
             ntile(5) OVER (ORDER BY avg_logprob, doc_id) AS quintile
      FROM lp
    )
    SELECT quintile, count(*) AS n_total,
           CAST(sum(CASE WHEN {b} < {pct} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           min(avg_logprob) AS lp_min, max(avg_logprob) AS lp_max
    FROM q GROUP BY quintile ORDER BY quintile
    """


@query("x_ppl_stratified_sample", ids=("X8", "X21"), sql=_ppl_sample_sql())
def x_ppl_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-stratified sampling (DataComp/CCNet practice): bucket
    docs into quality quintiles by their corpus-unigram mean logprob,
    then draw a deterministic per-doc hash sample inside every
    quintile — a mixture that spans the quality spectrum instead of
    clipping its tails. Ranking happens on the PRE-ROUNDED score with
    doc-id tie-break (cross-engine float policy). The quintile is the
    EXACT global ntile computed DISTRIBUTED (operators/distrank.py:
    range shuffle + per-partition rank + ntile arithmetic — no
    single-partition window), so the benched plan is the 100 TB plan
    and the oracle stays bit-identical; the cheaper approximate path
    at scale is percentile_approx cutoffs (a_approx_percentile shows
    that sketch)."""
    from dvmax_spark.ext.textstats import unigram_logprob
    from dvmax_spark.operators.distrank import with_exact_ntile

    docs = load_table(spark, "documents", sf)
    lp = unigram_logprob(docs)
    q = with_exact_ntile(
        lp.select("doc_id", "avg_logprob"),
        [F.col("avg_logprob").asc(), F.col("doc_id").asc()],
        5,
        out_col="quintile",
    )
    kept = (hash_bucket("doc_id", 100) < 30).cast("int")
    return (
        q.select("quintile", "avg_logprob", kept.alias("kept"))
        .groupBy("quintile")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.min("avg_logprob").alias("lp_min"),
            F.max("avg_logprob").alias("lp_max"),
        )
        .orderBy("quintile")
    )


from dvmax_spark.ext.textstats import bpe_pair_counts, bpe_pair_counts_sql


@query("x_bpe_pair_counts", ids=("X7",), sql=bpe_pair_counts_sql())
def x_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer training's inner loop (one BPE merge iteration):
    corpus -> word-frequency dict (the only corpus-proportional pass)
    -> adjacent-char-pair counts weighted by word frequency -> top-k
    merge candidates. See ext.textstats.bpe_pair_counts for the
    map-reduce scale argument."""
    docs = load_table(spark, "documents", sf)
    return bpe_pair_counts(docs, top_k=50)


from dvmax_spark.ext.traindata import (
    source_quota,
    source_quota_sql,
    token_budget_plan,
    token_budget_plan_sql,
    token_budget_select,
    token_budget_select_sql,
)


@query("x_source_quota", ids=("X8", "X21"), sql=source_quota_sql(quota=10))
def x_source_quota(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain quota capping (Gopher/RefinedWeb-style mixture
    health): top-10 docs per source by the X8 quality heuristic,
    reported as per-source survival counts + kept quality band."""
    return source_quota(load_table(spark, "documents", sf), quota=10)


@query(
    "x_token_budget_plan",
    ids=("X21",),
    sql=token_budget_plan_sql(budget=50_000, boost_source="src0"),
)
def x_token_budget_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture planning: per-source token allocations,
    exact-bigint sampling rates (ppm) and shortfalls for a 50k-token
    budget with src0 double-weighted."""
    return token_budget_plan(
        load_table(spark, "documents", sf), budget=50_000, boost_source="src0"
    )


@query(
    "x_token_budget_select",
    ids=("X21", "X8"),
    sql=token_budget_select_sql(budget=2_000),
)
def x_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Execute a per-source token budget: within each source keep docs
    best-first by the X8 quality heuristic while the running token
    mass stays within 2k tokens — the greedy selection that realizes
    a mixture plan's allocation. Exact bigint gate; per-source running
    mass on the distributed exact per-group cumsum (no per-source
    window pool)."""
    return token_budget_select(load_table(spark, "documents", sf), budget=2_000)


from dvmax_spark.ext.textstats import feature_hash, feature_hash_sql


@query("x_feature_hash", ids=("X7", "X5"), sql=feature_hash_sql(dims=64))
def x_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick TF features (sparse (doc, dim, tf) rows over a
    64-dim portable-hash space): the vocabulary-free text-to-features
    bridge for downstream clustering/classification — no vocab pass,
    no OOV, feature-compatible across corpora by construction."""
    docs = load_table(spark, "documents", sf)
    return feature_hash(docs, dims=64).orderBy("doc_id", "dim")


from dvmax_spark.ext.textstats import bigram_logprob, bigram_logprob_sql


@query("x_bigram_logprob", ids=("X8",), sql=bigram_logprob_sql())
def x_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Order-1 LM quality score (add-one-smoothed bigram conditionals
    under corpus statistics): flags unlikely word TRANSITIONS that the
    order-0 unigram filter cannot see. See ext.textstats.bigram_logprob
    for the scale shape."""
    docs = load_table(spark, "documents", sf)
    return bigram_logprob(docs).orderBy("doc_id")


@query(
    "t_stream_decontam",
    ids=("X18", "T3", "S11"),
    sql=decontaminate_sql(n=5, eval_source="src0"),
)
def t_stream_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING benchmark decontamination, run for real: the eval
    slice's 5-grams persist once as a distinct-gram table; the
    training corpus then arrives as 3 micro-batches, each
    broadcast-semi-joined against it, clean/quarantined split into
    batch-keyed sinks (streaming/decontam_ingest.py — replay-
    idempotent by partition overwrite). The oracle is the BATCH
    decontamination aggregate: a hash match proves the streamed gate
    flags exactly the docs the one-shot sweep flags, independent of
    micro-batch slicing."""
    import os as _os
    import shutil as _sh
    import uuid as _uuid

    from dvmax_spark.streaming.decontam_ingest import (
        build_eval_grams,
        stream_decontam_ingest,
    )

    docs = load_table(spark, "documents", sf)
    ev = docs.where(F.col("source") == "src0")
    tr = docs.where(F.col("source") != "src0")
    run_id = _uuid.uuid4().hex[:10]
    base = scratch_path(f"decontam_{run_id}")
    in_dir = _os.path.join(base, "in")
    _os.makedirs(in_dir, exist_ok=True)
    build_eval_grams(ev, _os.path.join(base, "ev_grams"), n=5)
    staged = with_hash_slice(tr, ["doc_id"], 3, "_b")
    now = None
    for i in (1, 2, 3):
        p = _os.path.join(base, f"s{i}")
        staged.where(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        part = next(
            f for f in _os.listdir(p) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = _os.path.join(in_dir, f"{i:03d}.parquet")
        _os.replace(_os.path.join(p, part), dst)
        if now is None:
            now = _os.stat(dst).st_mtime
        _os.utime(dst, (now + i, now + i))
        _sh.rmtree(p, ignore_errors=True)
    stream = (
        spark.readStream.schema(tr.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_decontam_ingest(
            stream,
            _os.path.join(base, "ev_grams"),
            out_dir=_os.path.join(base, "clean"),
            quarantine_dir=_os.path.join(base, "quarantine"),
            n=5,
            checkpoint_dir=_os.path.join(base, "ckpt"),
            query_name=f"decontam_{run_id}",
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    clean = spark.read.parquet(_os.path.join(base, "clean")).select(
        "doc_id", "source"
    )
    quar = spark.read.parquet(_os.path.join(base, "quarantine")).select(
        "doc_id", "source"
    )
    return (
        clean.withColumn("_c", F.lit(0))
        .unionByName(quar.withColumn("_c", F.lit(1)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("n_contaminated"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- BPE trainer
from dvmax_spark.ext.bpe import bpe_encode, merges_to_df, train_bpe


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fixture_sf_guard_cte(fx: dict, name: str) -> str:
    """``_sfguard`` CTE for fixture-backed oracles (r8 ADVICE): the
    golden fixtures are computed over the sf0.01 corpus, so an oracle
    built from them is only valid when the bound ``documents`` view IS
    that corpus. The guard pins the corpus stats recorded at fixture
    generation time and raises a NAMED DuckDB error at any other scale
    factor — a loud 'regenerate the fixture or run at sf0.01' instead
    of a spurious value mismatch. Consumers must keep a
    ``WHERE _sfguard._ok = 1`` reference or DuckDB prunes the unused
    guard column (and the check with it)."""
    n, chars, sf = fx["corpus_n_docs"], fx["corpus_n_chars"], fx["sf"]
    msg = (
        f"{name} oracle fixture is pinned to sf{sf} ({n} docs / {chars} chars); "
        f"the bound documents table differs - run at sf{sf} or regenerate the "
        "fixture (tools/gen_bpe_golden.py / tools/gen_spfhp_oracle.py)"
    )
    return f"""_sfguard AS (
      SELECT CASE WHEN (SELECT COUNT(*) FROM documents) = {n}
                  AND (SELECT COALESCE(SUM(LENGTH(text)), 0) FROM documents) = {chars}
             THEN 1 ELSE error({_sql_str(msg)}) END AS _ok
    )"""


def _bpe_golden_sql() -> str:
    """Literal-VALUES oracle from the checked-in golden fixture
    (tools/gen_bpe_golden.py): the expected 12-merge table computed by
    an independent pure-Python sequential trainer over the sf0.01
    corpus. Promotes x_bpe_train from rows-only to value-exact — the
    driver's hash compare now pins the distributed trainer against a
    second implementation (fixture pinned to the driver's correctness
    scale, sf0.01 per the driver contract)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "bpe_merges_sf0.01.json"
    )
    with open(path) as fh:
        fx = json.load(fh)
    rows = ",\n      ".join(
        f"({m['rank']}, {_sql_str(m['left'])}, {_sql_str(m['right'])},"
        f" {_sql_str(m['merged'])}, {m['cnt']})"
        for m in fx["merges"]
    )
    return f"""
    WITH {_fixture_sf_guard_cte(fx, "x_bpe_train")}
    SELECT CAST(rank AS INT) AS rank, "left", "right", merged,
           CAST(cnt AS BIGINT) AS cnt
    FROM (VALUES {rows}) AS t(rank, "left", "right", merged, cnt), _sfguard
    WHERE _sfguard._ok = 1
    ORDER BY rank
    """


@query("x_bpe_train", ids=("X7",), bench=True, sql=_bpe_golden_sql())
def x_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Full distributed BPE tokenizer training (Sennrich et al. 2016):
    12 merge iterations over the Heaps-law word dict — the iterative
    completion of x_bpe_pair_counts' single inner-loop step.
    Value-exact (r8): the oracle is the golden merge table from an
    INDEPENDENT sequential reference trainer (tools/gen_bpe_golden.py
    fixture, sf0.01), replayed by DuckDB as literals; the same
    sequential semantics are also pinned in-suite (tests/test_bpe.py)
    plus determinism across partitionings. The corpus is touched once
    (word-count pass); every round is a dict-sized pair count + fused
    Catalyst merge folds (ext/bpe.py:_batch_prefix), checkpointed so
    lineage stays O(1) at any merge count."""
    docs = load_table(spark, "documents", sf)
    return merges_to_df(spark, train_bpe(docs, num_merges=12)).orderBy("rank")


def _bpe_fertility_sql() -> str:
    """Oracle for x_bpe_fertility (r9, rows-only -> value-exact): the
    per-doc token counts come from an INDEPENDENT pure-Python encode of
    the golden merge table (tools/gen_bpe_fertility_oracle.py fixture);
    DuckDB recomputes the per-source fertility aggregates from the real
    documents table joined to those counts. Guarded by _sfguard — the
    fixture is pinned to the sf0.01 corpus."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "bpe_fertility_sf0.01.json"
    )
    with open(path) as fh:
        fx = json.load(fh)
    rows = ",\n      ".join(f"({d}, {t})" for d, t in fx["n_tokens"])
    return f"""
    WITH {_fixture_sf_guard_cte(fx, "x_bpe_fertility")},
    nt(doc_id, n_tokens) AS (VALUES {rows})
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt.n_tokens) AS BIGINT) AS sum_tokens,
           ROUND(CAST(SUM(d.n_chars) AS DOUBLE)
                 / CAST(SUM(nt.n_tokens) AS DOUBLE), 4) AS chars_per_token
    FROM documents d JOIN nt USING (doc_id), _sfguard
    WHERE _sfguard._ok = 1
    GROUP BY d.source ORDER BY d.source
    """


@query("x_bpe_fertility", ids=("X7", "X8"), sql=_bpe_fertility_sql())
def x_bpe_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility audit: train 8 BPE merges, encode the corpus
    (distinct-word segmentation + one equi-join back — ext/bpe.py's
    Heaps-law encode path), and report per-source token totals and
    chars-per-token compression. The metric a data-mixture owner
    watches when a tokenizer change reprices every domain's token
    budget. Value-exact (r9): the oracle replays the per-source
    aggregates from an INDEPENDENT pure-Python encode of the golden
    merge fixture (tools/gen_bpe_fertility_oracle.py) — the distributed
    trainer+encoder must land on exactly those token counts."""
    docs = load_table(spark, "documents", sf)
    merges = train_bpe(docs, num_merges=8)
    enc = bpe_encode(docs, merges)
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(enc.select("doc_id", "n_tokens"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.sum("n_chars") / F.sum("n_tokens"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("source")
    )


from dvmax_spark.ext.dsir import dsir_select, dsir_select_sql


@query(
    "x_dsir_select",
    ids=("X21", "X8"),
    bench=True,
    sql=dsir_select_sql(target_pred="lang = 'en'", pct=25, n=2, buckets=256),
)
def x_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling (Xie et al., NeurIPS 2023): score
    every document by the log-likelihood ratio of its hashed-bigram
    profile under a target (lang='en') vs raw bag-of-n-grams model,
    keep the top 25%, and report the per-source selection — the
    data-selection dashboard that shows which sources the target
    distribution actually pulls from. Every per-bucket log-ratio is
    rounded once and scaled to bigint, so all distributed sums are
    exact integers (value-exact vs the DuckDB twin)."""
    docs = load_table(spark, "documents", sf)
    return dsir_select(docs, target=F.col("lang") == "en", pct=25, n=2, buckets=256)


from dvmax_spark.ext.dsir import dsir_select_kll


@query("x_dsir_select_kll", ids=("X21", "X8"), sql=None)
def x_dsir_select_kll(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-thresholded DSIR selection — the pure 100 TB form of
    x_dsir_select: the top-25% weight cutoff comes from a mergeable
    KLL quantile sketch (one map-side-combined aggregate to ~1 KB),
    selection is a broadcast scalar compare. No rank, no sort, no
    global structure. Rows-only (KLL compaction is randomized);
    tests/test_dsir.py pins per-group n_selected against the exact
    x_dsir_select within the sketch's rank-error envelope."""
    docs = load_table(spark, "documents", sf)
    return dsir_select_kll(docs, target=F.col("lang") == "en", pct=25, n=2, buckets=256)


def _funnel_attrition_sql(min_chars: int = 100, min_tok: int = 10,
                          sample_pct: int = 20, eval_source: str = "src0") -> str:
    from dvmax_spark.ext.traindata import _duck_bucket, _duck_grams

    b = _duck_bucket("doc_id::VARCHAR", 100)
    return f"""
    WITH base AS (
      SELECT doc_id, source, text, n_chars, len(str_split(text, ' ')) AS n_tok
      FROM documents
    ), toks AS (
      SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, source, unnest({_duck_grams(5)}) AS g FROM toks
    ), ev AS (
      SELECT DISTINCT g FROM grams WHERE source = '{eval_source}'
    ), contam AS (
      SELECT DISTINCT grams.doc_id FROM grams JOIN ev USING (g)
      WHERE source <> '{eval_source}'
    ), flags AS (
      SELECT bb.doc_id, bb.source, bb.n_tok,
             CASE WHEN bb.text IS NOT NULL AND bb.n_chars >= {min_chars} THEN 1 ELSE 0 END AS f_clean,
             CASE WHEN bb.n_tok >= {min_tok} THEN 1 ELSE 0 END AS f_len,
             CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS f_decon,
             CASE WHEN {b} < {sample_pct} THEN 1 ELSE 0 END AS f_samp
      FROM base bb LEFT JOIN contam c USING (doc_id)
      WHERE bb.source <> '{eval_source}'
    )
    SELECT source, count(*) AS n_raw,
           CAST(sum(f_clean) AS BIGINT) AS n_clean,
           CAST(sum(f_clean * f_len) AS BIGINT) AS n_len,
           CAST(sum(f_clean * f_len * f_decon) AS BIGINT) AS n_decontam,
           CAST(sum(f_clean * f_len * f_decon * f_samp) AS BIGINT) AS n_final,
           CAST(sum(CASE WHEN f_clean * f_len * f_decon * f_samp = 1
                    THEN n_tok ELSE 0 END) AS BIGINT) AS tok_final
    FROM flags GROUP BY source ORDER BY source
    """


@query("x_funnel_attrition", ids=("X18", "X21", "A12"), sql=_funnel_attrition_sql())
def x_funnel_attrition(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source curation attrition matrix: how many of each source's
    documents survive each successive gate — cleanliness (length in
    chars), minimum token count, benchmark decontamination, and the
    deterministic sample — plus the final token mass. The per-SOURCE
    view x_traindata_funnel's per-split rollup can't give, and the
    first report a mixture owner asks for ("which source is the
    contamination coming from?"). Gates are evaluated independently
    in ONE pass over the corpus (map-side flags + one broadcast
    semi-join for contamination), reported cumulatively; all counts
    exact integers."""
    from dvmax_spark.ext.traindata import contaminated_ids

    docs = load_table(spark, "documents", sf)
    ev = docs.where(F.col("source") == "src0")
    tr = docs.where(F.col("source") != "src0")
    contam = contaminated_ids(tr, ev, n=5).withColumn("_c", F.lit(1))
    flags = (
        tr.select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
            (F.col("text").isNotNull() & (F.col("n_chars") >= 100)).cast("int").alias("f_clean"),
        )
        .withColumn("f_len", (F.col("n_tok") >= 10).cast("int"))
        .join(contam, "doc_id", "left")
        .withColumn("f_decon", F.col("_c").isNull().cast("int"))
        .withColumn("f_samp", (hash_bucket("doc_id", 100) < 20).cast("int"))
    )
    fin = F.col("f_clean") * F.col("f_len") * F.col("f_decon") * F.col("f_samp")
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum("f_clean").cast("bigint").alias("n_clean"),
            F.sum(F.col("f_clean") * F.col("f_len")).cast("bigint").alias("n_len"),
            F.sum(F.col("f_clean") * F.col("f_len") * F.col("f_decon"))
            .cast("bigint")
            .alias("n_decontam"),
            F.sum(fin).cast("bigint").alias("n_final"),
            F.sum(F.when(fin == 1, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("tok_final"),
        )
        .orderBy("source")
    )


from dvmax_spark.ext.traindata import mixture_schedule, mixture_schedule_sql


@query("x_mixture_schedule", ids=("X21", "X19"), sql=mixture_schedule_sql(n_bands=5))
def x_mixture_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order interleave via stride scheduling:
    every source spread evenly over the run (no source-contiguous
    clumps that would skew late-training gradients), within-source
    order a reproducible hash shuffle. Output is the per-(source,
    band) uniformity rollup; all-integer, value-exact."""
    return mixture_schedule(load_table(spark, "documents", sf), n_bands=5)


from dvmax_spark.ext.traindata import weighted_sample, weighted_sample_sql


@query("x_weighted_sample", ids=("X21",), sql=weighted_sample_sql(k=200))
def x_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling without replacement via deterministic priority
    sampling (hash-key div weight, k smallest win): longer/higher-
    quality docs are proportionally likelier — the quality-weighted
    subsample primitive, reproducible across engines and reruns because
    the priorities are exact integers of a portable hash
    (ext/traindata.py:weighted_sample). Plan: map-side priorities +
    global top-k (TakeOrderedAndProject), zero corpus shuffles."""
    return weighted_sample(load_table(spark, "documents", sf), k=200)


from dvmax_spark.ext.traindata import bloom_decontam_stats, bloom_decontam_stats_sql


@query("x_bloom_decontam", ids=("X18",), sql=bloom_decontam_stats_sql())
def x_bloom_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination through a Bloom-filter prefilter with measured
    false-positive accounting per source: eval 5-grams set 3 bit
    positions in a 65536-bit filter (constant-size broadcast NO MATTER
    how big the benchmark suite grows — the 100 TB story the exact
    gram broadcast can't tell), train docs flagged iff some gram finds
    all its bits set, compared against the exact semi-join. Recall is
    1 by construction; the row reports the false positives a
    downstream exact re-check would pay for
    (ext/traindata.py:bloom_decontam_stats)."""
    return bloom_decontam_stats(load_table(spark, "documents", sf))


from dvmax_spark.ext.traindata import pack_spfhp


def _spfhp_oracle_sql() -> str:
    """Oracle for x_pack_spfhp: DuckDB re-derives each doc's token
    count and within-length rank IN SQL and replays the assignment
    arithmetic against the checked-in slot table
    (tools/gen_spfhp_oracle.py fixture, sf0.01) — the distributed
    window, broadcast-join arithmetic, and per-pack aggregation are
    value-checked; the strategy table itself is pinned by the
    generator + the property tests (the solver rule is group-level,
    so it has no SQL twin)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "fixtures", "spfhp_slots_sf0.01.json"
    )
    with open(path) as fh:
        fx = json.load(fh)
    ctx = int(fx["ctx_len"])
    rows = ",\n      ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in fx["slots"])
    return f"""
    WITH {_fixture_sf_guard_cte(fx, "x_pack_spfhp")},
    t AS (
      SELECT doc_id,
             least(coalesce(len(string_split(text, ' ')), 1), {ctx}) AS n_tok
      FROM documents
    ),
    r AS (
      SELECT n_tok,
             row_number() OVER (PARTITION BY n_tok ORDER BY doc_id) - 1 AS rk
      FROM t
    ),
    s(n_tok, rank_base, cnt, pack_base) AS (VALUES {rows}),
    a AS (
      SELECT r.n_tok, s.pack_base + r.rk - s.rank_base AS pack_id
      FROM r JOIN s ON r.n_tok = s.n_tok
       AND r.rk >= s.rank_base AND r.rk < s.rank_base + s.cnt
    )
    SELECT CAST(pack_id AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           CAST({ctx} - sum(n_tok) AS BIGINT) AS padding
    FROM a, _sfguard WHERE _sfguard._ok = 1
    GROUP BY pack_id ORDER BY pack_id
    """


@query("x_pack_spfhp", ids=("X20",), sql=_spfhp_oracle_sql())
def x_pack_spfhp(spark: SparkSession, sf: str) -> DataFrame:
    """No-split SPFHP sequence packing (Graphcore packed-BERT
    histogram packing): docs land whole in minimal-padding packs. The
    strategy is solved EXACTLY on the <= ctx_len-row length histogram
    (bounded driver data no matter the corpus size); application is
    one length-class window + a broadcast slot-table join.
    Value-exact (r8): the DuckDB oracle replays n_tok derivation,
    within-class ranking, and slot-table assignment against the
    checked-in strategy fixture (_spfhp_oracle_sql); strategy
    invariants stay property-tested: exact slot coverage, capacity,
    beats-next-fit, and rerun determinism
    (tests/test_traindata.py:test_spfhp_strategy_invariants...)."""
    return pack_spfhp(load_table(spark, "documents", sf), ctx_len=128)
