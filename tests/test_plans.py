"""Physical-plan shape assertions — the 100 TB scale contract.

Correctness tests prove the math; these prove the *plan* is the one we
would want on a 1000-executor cluster: filters reach the parquet scan,
scans are column-pruned, small dims broadcast instead of shuffling the
fact side, aggregates are partial (map-side combine), and hot paths run
inside whole-stage codegen rather than row-at-a-time Python.

A regression here (e.g. a cast that blocks pushdown, a join that falls
back to sort-merge) is invisible at sf0.01 but catastrophic at scale —
so it is asserted, not eyeballed.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR_SMOKE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def _q(spark, name: str):
    from dvmax_spark.registry import all_queries

    return all_queries()[name].fn(spark, SF_DIR_SMOKE)


# ---------------------------------------------------------------- pushdown


def test_filter_pushed_to_parquet_scan(spark):
    """P2/P4 predicates must reach the parquet reader (row-group skip)."""
    plan = _plan(_q(spark, "p2_filter_predicates"))
    assert "PushedFilters: [" in plan
    # at least one real predicate pushed, not the empty list
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("IsNotNull" in ln or "GreaterThan" in ln or "LessThan" in ln for ln in pushed), pushed


def test_scan_is_column_pruned(spark):
    """A 2-column projection must not read all 16 lineitem columns."""
    plan = _plan(_q(spark, "s1_scan_project"))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    # lineitem has 16 columns; the query projects a handful
    n_cols = schema_line.count(":")
    assert n_cols <= 8, schema_line


def test_partition_filter_prunes_store(spark, tmp_path):
    """The incremental store's per-ticker layout must partition-prune."""
    from dvmax_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"), keys=["ticker", "as_of"])
    df = spark.range(100).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'AAA' ELSE 'BBB' END AS ticker",
        "date_add(date'2024-01-01', CAST(id AS INT)) AS as_of",
        "CAST(id AS DOUBLE) AS v",
    )
    store.upsert(df)
    got = store.read().where("ticker = 'AAA'")
    plan = _plan(got)
    assert "PartitionFilters: [" in plan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "ticker" in pf, pf


# ---------------------------------------------------------------- joins


def test_dim_joins_broadcast_not_shuffle(spark):
    """J7 star join: both dims broadcast; no sort-merge join anywhere."""
    plan = _simple_plan(_q(spark, "j7_dim_enrichment"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_broadcasts_under_aqe(spark):
    """J6 anti join at this size must not shuffle the fact table twice:
    either AQE converts it to broadcast at runtime or it is already
    planned broadcast. Assert the *final* executed plan."""
    df = _q(spark, "j6_anti_join")
    df.collect()  # let AQE finalize
    plan = _simple_plan(df)
    assert "Anti" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" not in plan, plan


def test_asof_join_is_single_pass(spark):
    """J2 as-of join compiles to union+window (one shuffle), not a
    range cross-join: no CartesianProduct / BroadcastNestedLoopJoin."""
    plan = _simple_plan(_q(spark, "j2_asof_backward"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------- aggregates


def test_aggregate_is_partial(spark):
    """A1 pricing summary must map-side combine (partial_ functions)
    so the shuffle carries group states, not raw rows."""
    plan = _plan(_q(spark, "a1_pricing_summary"))
    assert "partial_" in plan, plan


def test_hot_path_is_codegen(spark):
    """The flagship agg runs inside whole-stage codegen (JVM), not as
    interpreted row-at-a-time evaluation or a Python UDF."""
    df = _q(spark, "a1_pricing_summary")
    df.collect()  # AQE: codegen spans appear only in the final plan
    plan = _simple_plan(df)
    # simple mode marks codegen stages with a "*(n)" prefix
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_core_queries_avoid_python_row_udfs(spark):
    """No oracle-backed core query may use a row-at-a-time Python UDF
    (BatchEvalPython). Arrow/pandas UDFs are allowed only in ext paths."""
    from dvmax_spark.registry import all_queries

    offenders = []
    for name, spec in all_queries().items():
        if spec.sql is None or name.startswith("x_"):
            continue
        try:
            plan = _simple_plan(spec.fn(spark, SF_DIR_SMOKE))
        except Exception:  # streaming specs need a sink; skip shape check
            continue
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-wise Python UDF in hot path: {offenders}"


# ---------------------------------------------------------------- shuffle economy


def test_upsert_single_shuffle(spark):
    """J5 keep-last upsert: one window shuffle over the union — the
    dedup must not add a second exchange on the same keys."""
    plan = _simple_plan(_q(spark, "j5_upsert_keep_last"))
    # hashpartitioning exchanges only; final orderBy adds one range exchange
    n_hash = plan.count("hashpartitioning")
    assert n_hash <= 2, f"{n_hash} hash exchanges:\n{plan}"


def test_repetition_stats_is_shuffle_free(spark):
    """X15 repetition filters: per-row sorted-array fold, NOT an
    explode+groupBy — zero hash exchanges (only the final orderBy range
    exchange) and zero Python, so the filter is pure map-side at 100 TB."""
    plan = _simple_plan(_q(spark, "x_repetition_stats"))
    assert plan.count("hashpartitioning") == 0, plan
    assert "Python" not in plan, plan


def test_pii_redact_is_map_side_only(spark):
    """X16 PII scrub: per-row regex expressions — no exchange at all
    beyond the final sort, no Python."""
    plan = _simple_plan(_q(spark, "x_pii_redact"))
    assert plan.count("hashpartitioning") == 0, plan
    assert "Python" not in plan, plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """X18 decontamination: the eval-set gram table must broadcast —
    the training corpus (the 100 TB side) streams through a broadcast
    semi-join instead of shuffling on the gram key."""
    plan = _simple_plan(_q(spark, "x_decontaminate"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_pack_sequences_single_bucket_shuffle(spark):
    """X20 packing: exactly one hash exchange (the bucket key feeding
    the per-bucket window + the reuse-aligned groupBy); no global
    sort-by-everything."""
    plan = _simple_plan(_q(spark, "x_pack_sequences"))
    n_hash = plan.count("hashpartitioning")
    assert n_hash <= 2, f"{n_hash} hash exchanges:\n{plan}"
    assert "Python" not in plan, plan


def test_q5_dims_broadcast_and_date_filter_pushed(spark):
    """TPC-H-Q5 shape: the three dim tables must come in as broadcast
    joins (never shuffling the fact side on a dim key), and the order-
    date range predicate must reach the orders parquet scan."""
    plan = _plan(_q(spark, "sql_api_q5"))
    simple = _simple_plan(_q(spark, "sql_api_q5"))
    assert simple.count("BroadcastHashJoin") >= 2, simple
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln or "GreaterThanOrEqual" in ln for ln in pushed), pushed


def test_traindata_funnel_plan_shape(spark):
    """X18-X21 composed: the funnel must keep every stage's scale
    shape at once — eval grams broadcast (semi-join, corpus never
    shuffles on the gram), contaminated ids broadcast back (anti-join),
    split/sample stay per-row arithmetic, and packing contributes the
    only real hash exchanges; no Python anywhere."""
    plan = _simple_plan(_q(spark, "x_traindata_funnel"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "Python" not in plan, plan
    # corpus-side shuffles: the (split,bucket) packing window, the
    # distinct-window agg, and groupBy(split). The two remaining
    # exchanges partition the TINY broadcast inputs (eval-gram distinct,
    # contaminated-id distinct) — size-bounded by the eval slice, not
    # the corpus. Anything beyond these five is a regression.
    n_hash = plan.count("hashpartitioning")
    assert n_hash <= 5, f"{n_hash} hash exchanges:\n{plan}"


def test_split_and_sample_are_map_side(spark):
    """X19/X21: hash split + stratified sample are per-row arithmetic
    feeding a partial aggregate on a tiny key space — no Python, and
    only the one agg exchange."""
    for name in ("x_train_split", "x_stratified_sample", "x_hash_bucket_balance"):
        plan = _simple_plan(_q(spark, name))
        assert "Python" not in plan, name
        assert plan.count("hashpartitioning") <= 1, name


def test_bucketed_join_no_exchange(spark):
    """Co-located bucketed join: two tables bucketed 8-ways on the join
    key must join with ZERO shuffle exchange — the contract that turns
    the nightly fact-fact join into a partition-local merge at 100 TB."""
    from pyspark.sql import functions as F

    from dvmax_spark.store import write_bucketed

    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb")
    )
    write_bucketed(a, "bkt_a", "k", num_buckets=8, sort_cols="k")
    write_bucketed(b, "bkt_b", "k", num_buckets=8, sort_cols="k")
    # disable broadcast so the planner must pick the shuffle-join path —
    # at real fact-fact scale neither side broadcasts; bucketing is what
    # removes the exchange there
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k").select(
            "k", "va", "vb"
        )
        plan = _simple_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_rollup_delta_aggregate_is_partial_single_shuffle(spark):
    """Continuous-rollup maintenance: the delta aggregate must be
    map-side combined (partial -> final HashAggregate pair) around ONE
    exchange, and the partial merge adds exactly one more shuffle on
    the tiny (grp, day) key — never a resort of the raw batch."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.plans.rollup import aggregate_delta, merge_partials

    ev = load_table(spark, "events", SF_DIR_SMOKE)
    delta = aggregate_delta(ev, "event_type", "ts", "value")
    p = _simple_plan(delta)
    assert p.count("Exchange") == 1, p
    assert "partial_sum" in p and "SortAggregate" not in p
    merged = merge_partials(delta, delta)
    mp = _simple_plan(merged)
    assert mp.count("Exchange") <= 3, mp  # 2 inputs + 1 merge key
    assert "SortAggregate" not in mp


def test_semantic_dedup_pair_stage_is_bucket_join(spark):
    """SemDeDup pair generation must join on (tbl, bucket) — never a
    cartesian/broadcast-nested-loop over the corpus."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.similarity import embedding_near_dup_pairs

    emb = load_table(spark, "embeddings", SF_DIR_SMOKE)
    p = _plan(embedding_near_dup_pairs(emb, threshold=0.45, n_planes=4))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_orc_scan_is_column_pruned(spark, tmp_path):
    """S13: the ORC leg must keep columnar pruning — a 2-column read
    over a 3-column file."""
    from pyspark.sql import functions as F

    from dvmax_spark.catalog import load_table

    ev = load_table(spark, "events", SF_DIR_SMOKE).select("event_id", "user_id", "value")
    path = str(tmp_path / "orc")
    ev.write.mode("overwrite").orc(path)
    two = spark.read.orc(path).select("event_id", "user_id")
    p = _plan(two)
    import re

    m = re.search(r"ReadSchema: ([^\n]+)", p)
    assert m and "value" not in m.group(1), p


def test_runtime_bloom_filter_prunes_fact_probe_side(spark):
    """Fact-fact joins with a selective build side must accept Spark's
    runtime bloom-filter injection: the probe scan gains a
    might_contain(bloom) condition built from the filtered side, so at
    100 TB the big fact's rows die at the scan instead of riding the
    shuffle. (Thresholds lowered to make toy-scale sides eligible;
    broadcast disabled to force the shuffle-join shape the filter
    targets.)"""
    from pyspark.sql import functions as F

    from dvmax_spark.catalog import load_table

    knobs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        o = load_table(spark, "orders", SF_DIR_SMOKE).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, "lineitem", SF_DIR_SMOKE)
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_answers_from_footers(spark):
    """MIN/MAX/COUNT with no filter must be answerable from parquet
    footer statistics under DSv2 (PushedAggregation in the scan) — at
    100 TB that's a metadata read instead of a table scan. V1 reader
    and timestamp columns don't support it, so the knobs are scoped
    here; values must equal the normal scan's."""
    from pyspark.sql import functions as F

    knobs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    saved = {k: spark.conf.get(k, None) for k in knobs}
    path = f"{SF_DIR_SMOKE}/lineitem.parquet"
    aggs = [
        F.min("l_orderkey").alias("mn"),
        F.max("l_orderkey").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ]
    baseline = spark.read.parquet(path).agg(*aggs).collect()[0]
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(path).agg(*aggs)
        assert "PushedAggregation: [MIN(l_orderkey), MAX(l_orderkey), COUNT(*)]" in _plan(df)
        assert df.collect()[0] == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q17_decorrelates_to_aggregate_join(spark):
    """TPC-H-Q17 shape: the correlated scalar AVG subquery must
    decorrelate into a per-part aggregate joined back (never a per-row
    re-scan), with the brand/type filters pushed to the part scan."""
    plan = _plan(_q(spark, "sql_api_q17"))
    simple = _simple_plan(_q(spark, "sql_api_q17"))
    assert "partial_avg" in simple, simple
    assert "Python" not in simple, simple
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln for ln in pushed), pushed


def test_q21_exists_shapes_become_semi_anti_joins(spark):
    """TPC-H-Q21 shape: correlated EXISTS / NOT EXISTS must lower to
    left-semi / left-anti joins on the order key — the decorrelation
    that keeps the fact-fact comparison a single co-partitioned
    shuffle instead of a per-row subquery."""
    simple = _simple_plan(_q(spark, "sql_api_q21"))
    assert "LeftSemi" in simple, simple
    assert "LeftAnti" in simple, simple
    assert "Python" not in simple, simple


def test_q8_dims_broadcast(spark):
    """TPC-H-Q8 shape: the 8-way join must broadcast every dim (nation
    twice, region, part, supplier, customer) — lineitem, the only
    100 TB-scale table, must never be shuffled on a dim key."""
    simple = _simple_plan(_q(spark, "sql_api_q8"))
    assert simple.count("BroadcastHashJoin") >= 5, simple
    assert "Python" not in simple, simple


def test_q12_shipdate_window_pushed_to_scan(spark):
    """TPC-H-Q12 shape: the one-year shipdate window must reach the
    lineitem parquet scan (PushedFilters), while the two-sided
    shipdate > orderdate predicate rides the join as its residual
    condition — not a post-join Filter over the full join output."""
    plan = _plan(_q(spark, "sql_api_q12"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed), pushed
    simple = _simple_plan(_q(spark, "sql_api_q12"))
    assert "Python" not in simple, simple


def test_range_join_avoids_nested_loop(spark):
    """The binned range join must be an EQUI hash/sort join on
    (user_id, bin) with the BETWEEN as residual — never the
    BroadcastNestedLoopJoin/CartesianProduct Spark gives a raw range
    predicate (O(L·R), dead at scale)."""
    simple = _simple_plan(_q(spark, "j_range_join"))
    assert "NestedLoop" not in simple, simple
    assert "CartesianProduct" not in simple, simple
    assert "Join" in simple, simple
    assert "Python" not in simple, simple


def test_join_mv_prior_state_reads_are_partition_pruned(spark, tmp_path):
    """The delta rule's 'prior state' scans must carry the _batch
    partition filter — at scale they must touch only committed batch
    directories, never list-and-filter the whole log row-wise."""
    from dvmax_spark.plans.join_mv import IncrementalJoinMV

    mv = IncrementalJoinMV(spark, str(tmp_path / "mvp"), key="k")
    a = spark.createDataFrame([(1, "a1")], "k long, a_val string")
    b = spark.createDataFrame([(1, "b1")], "k long, b_val string")
    mv.refresh(1, a, b)
    mv.refresh(2, a, b)
    prior = mv._read_prior(mv.a_path, 2)
    plan = _simple_plan(prior)
    assert "PartitionFilters" in plan, plan
    assert "_batch" in plan, plan
    # and no row-level Filter on _batch survives (pruning is metadata)
    simple = plan.split("PartitionFilters")[0]
    assert "Filter (_batch" not in simple, plan


def test_fuzzy_edit1_join_avoids_cross_product(spark):
    """The deletion-neighborhood fuzzy join must be an equi hash join
    on the variant key — never the nested-loop cross product a raw
    levenshtein predicate would plan."""
    simple = _simple_plan(_q(spark, "j_fuzzy_edit1_join"))
    assert "NestedLoop" not in simple, simple
    assert "CartesianProduct" not in simple, simple
    assert "Join" in simple, simple


def test_gopher_gate_is_map_side_only(spark):
    """The Gopher quality gate must stay a pure map-side expression
    scan (zero hash exchanges — only the final orderBy range exchange)
    with zero Python: the cheap first gate at 100 TB."""
    plan = _simple_plan(_q(spark, "x_gopher_rules"))
    assert plan.count("hashpartitioning") == 0, plan
    assert "Python" not in plan, plan


def test_span_dedup_clean_plan_shape(spark):
    """ExactSubstr-style removal: no Python anywhere, and the coverage
    expansion must hang off the gram-occurrence subtree (bounded hash
    exchanges: gram agg, covered distinct, anti-join, rebuild — not a
    corpus-squared shape)."""
    plan = _simple_plan(_q(spark, "x_span_dedup_clean"))
    assert "Python" not in plan, plan
    # gram distinct + cross-doc count + covered distinct + kept anti-join
    # + per-doc rebuild + base left join: generous ceiling, but an
    # accidental extra corpus-wide shuffle (e.g. losing the semi-join)
    # would blow past it
    assert plan.count("hashpartitioning") <= 10, plan
    assert "LeftAnti" in plan and "LeftSemi" in plan, plan


def test_cms_heavy_hitters_plan_shape(spark):
    """CMS report: distributed top-k (TakeOrderedAndProject — never an
    unpartitioned window), the depth×width sketch broadcast to the
    probe join, zero Python."""
    plan = _simple_plan(_q(spark, "a_cms_heavy_hitters"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan


def test_er_golden_record_no_cartesian(spark):
    """Entity resolution must never build the n² name matrix: the plan
    has no CartesianProduct/NestedLoop pair stage (deletion-neighborhood
    blocking is an equi-join) and no Python."""
    plan = _simple_plan(_q(spark, "x_er_golden_record"))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_dsir_select_plan_shape(spark):
    """DSIR's scale contract, checked in its two stages (the exact
    global rank localCheckpoints, truncating the returned lineage):
    (1) the scoring stage — model (bucket counts -> log ratios) comes
    BACK to the corpus as broadcasts, docs-side dim join broadcast;
    (2) the returned rank+rollup stage — the one Window is PARTITIONED
    by spark_partition_id (operators/distrank.py), never a
    SinglePartition sort; no Python anywhere."""
    import pyspark.sql.functions as F

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dsir import dsir_logweights

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    w = dsir_logweights(docs, F.col("lang") == "en")
    score_plan = _simple_plan(docs.select("doc_id", "source").join(w, "doc_id"))
    # docs-side dim join + gram->log-ratio model join are broadcast
    # hash joins; the totals fan-back is a 1-row broadcast cross join.
    assert score_plan.count("BroadcastHashJoin") >= 2, score_plan
    assert "Python" not in score_plan, score_plan

    plan = _simple_plan(_q(spark, "x_dsir_select"))
    assert "Python" not in plan, plan
    # exactly one Window — the per-range-partition row_number, keyed
    # by _gr_pid (parallel). The one SinglePartition exchange is the
    # single-ROW corpus-count aggregate — O(1) by construction.
    assert plan.count("Window") == 1, plan
    assert "_gr_pid" in plan, plan
    assert plan.count("SinglePartition") <= 3, plan


def test_soft_dedup_mass_plan_shape(spark):
    """Soft-dedup accounting on top of the clustering pipeline must
    not add corpus-scale structure of its own: the per-source rollup
    is one partial-agg exchange over the joined verdicts; no Python
    outside nothing (the whole pipeline is Catalyst)."""
    plan = _simple_plan(_q(spark, "x_soft_dedup_mass"))
    assert "Python" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pagerank_iteration_stays_jvm_side(spark):
    """Lineage truncation + JVM-side iteration: the rank loop cuts
    lineage every SECOND iteration (r10 A/B — each cut is a driver
    planning pass + materialization job, and two chained steps are
    still a bounded plan), so with iters=3 the RETURNED frame is a
    top-k over AT MOST one un-checkpointed step above the iteration-2
    checkpoint: no Python, a checkpointed scan present, and no more
    than one step's join pair (rank⋈edges + nodes⋈contrib) — a
    rebuilt full 3-iteration tree (6 joins) must NOT reappear."""
    import pyspark.sql.functions as F

    from dvmax_spark.ext.dedup import pagerank_centrality

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    df = pagerank_centrality(pairs, iters=3)
    plan = _simple_plan(df)
    assert "Python" not in plan, plan
    # checkpoint truncation: final plan scans the iteration-2
    # checkpoint; only iteration 3's single step may sit above it
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 2, plan
    # an EVEN iteration count ends on a cut: pure top-k over the
    # checkpointed ranks, zero joins
    plan4 = _simple_plan(pagerank_centrality(pairs, iters=4))
    assert plan4.count("SortMergeJoin") + plan4.count("BroadcastHashJoin") == 0, plan4

    # one live (un-checkpointed) step: rank⋈edges + dst aggregation
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    ranks = pagerank_centrality(pairs, iters=1)
    step = (
        ranks.select(F.col("doc_id").alias("src"), F.col("pagerank_fp").alias("rank"))
        .join(edges, "src")
        .groupBy("dst")
        .agg(F.sum("rank").alias("mass"))
    )
    splan = _simple_plan(step)
    assert "Python" not in splan, splan
    assert "HashAggregate" in splan, splan


def test_jaccard_prefix_join_plan_all_jvm(spark):
    """The exact set-similarity join must be all-Catalyst: no Python,
    hash aggregation for frequencies/intersections, and the per-doc
    rarity ranking as a single window — the whole prune-then-verify
    pipeline stays JVM-side."""
    plan = _simple_plan(_q(spark, "x_jaccard_prefix_join"))
    assert "Python" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "Window" in plan, plan


def test_oph_signature_one_min_aggregate(spark):
    """OPH's corpus-sized aggregation must carry ONE min per (doc,
    bucket) — not the classic k=64 per-doc aggregate expressions — and
    stay fully JVM-side; densification is the only window, over the
    signature-sized grid."""
    import pyspark.sql.functions as F

    from dvmax_spark.ext.dedup import minhash_signature_oph

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f")], "doc_id long, text string"
    )
    plan = _simple_plan(minhash_signature_oph(docs, num_buckets=16, shingle_n=3))
    assert "Python" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "partial_min" in plan or "min(" in plan, plan
    # the classic path evaluates 64 affine permutations in the agg —
    # OPH must not: no more than a handful of min expressions
    assert plan.count("min(") <= 4, plan


# ------------------------------------------------- fifth-wave operators


def test_ewma_single_exchange(spark):
    """w_ewma: all 16 lag terms + the latest-row selection share ONE
    hash exchange on the partition key — no per-lag shuffles."""
    plan = _simple_plan(_q(spark, "w_ewma"))
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == 1, plan


def test_weighted_sample_is_top_k_no_shuffle(spark):
    """x_weighted_sample: map-side priorities + partial global top-k
    (TakeOrderedAndProject); zero hash exchanges of the corpus."""
    plan = _simple_plan(_q(spark, "x_weighted_sample"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bloom_decontam_membership_is_broadcast(spark):
    """x_bloom_decontam: every bit-set membership test and the exact
    eval-gram test are BROADCAST joins — the corpus side never
    shuffles on a gram or position key. (The only hash exchanges are
    the per-doc/per-source aggregations.)"""
    plan = _simple_plan(_q(spark, "x_bloom_decontam"))
    assert plan.count("BroadcastExchange") >= 4, plan  # 3 bits + eval grams
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_prefix_filter_in_plan(spark):
    """x_tfidf_cosine_pairs: the shared tf/w/norms/prefix subtrees are
    materialized once (r10 — the old plan re-derived each chain per
    consumer: 72 parquet scans, 222 exchanges, with the Window-filtered
    prefix and the broadcast N/idf aggregates visible inline), so the
    final plan consumes checkpointed scans and NEVER re-reads the
    corpus: the candidate self-join runs on the prefix relation alone
    and no parquet scan appears downstream of it."""
    plan = _simple_plan(_q(spark, "x_tfidf_cosine_pairs"))
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_event_transitions_single_window_pass(spark):
    """x_event_transitions: one window pass over events; the ppm
    probabilities come from a window over the tiny aggregated matrix,
    never a second shuffle of event rows."""
    plan = _simple_plan(_q(spark, "x_event_transitions"))
    # exchanges: events->user window, matrix aggregate, from_type
    # window (tiny), final sort
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_feature_table_one_scan_and_shuffle_per_source_table(spark, tmp_path):
    """build_feature_table costs one aggregate per source table, not one
    groupBy + join per feature: on parquet inputs its dynamic plan holds
    at most 7 parquet scans (prices, ratios, income twice, balance,
    dividends, splits) and at most 7 shuffle exchanges. The per-feature
    composition it replaced planned 22 of each."""
    import datetime
    import re

    from dvmax_spark.features.assemble import build_feature_table
    from tests.test_features import multi_ticker_inputs

    inputs = {}
    for name, df in multi_ticker_inputs(spark, sector=False).items():
        if df is not None:
            df.write.parquet(str(tmp_path / name))
            df = spark.read.parquet(str(tmp_path / name))
        inputs[name] = df
    plan = _simple_plan(build_feature_table(inputs, datetime.date(2024, 1, 2))[0])
    scans = plan.count("Scan parquet")
    shuffles = len(re.findall(r"(?<![A-Za-z])Exchange ", plan))
    assert scans <= 7, f"{scans} parquet scans:\n{plan}"
    assert shuffles <= 7, f"{shuffles} shuffle exchanges:\n{plan}"
