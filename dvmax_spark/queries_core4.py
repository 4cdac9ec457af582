"""Fourth batch: window-function breadth (rank family, range frames)
and the SQL API surface (same Catalyst plans as the DataFrame API —
SURVEY §3 'DataFrame API call -> Catalyst' lifecycle)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.fsops import scratch_path
from dvmax_spark.operators.distrank import with_exact_ntile, with_hash_slice
from dvmax_spark.registry import query


@query(
    "w_rank_family",
    ids=("W5", "O3"),
    sql="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS prank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def w_rank_family(spark: SparkSession, sf: str) -> DataFrame:
    """rank/dense_rank/ntile/percent_rank (SURVEY §2.5 'not present in
    reference — built-in in Spark; [EXT]')."""
    o = load_table(spark, "orders", sf)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
    ).orderBy("o_custkey", "rnk", "o_orderkey")


@query(
    "w_range_frame",
    ids=("W3", "W4"),
    sql="""
    SELECT event_id,
           count(*) OVER w AS n_trailing_1h,
           round(sum(value) OVER w, 2) AS sum_trailing_1h
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def w_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-based window frame (value range, not row count): trailing
    1-hour sums per user, ordered on exact epoch-microseconds so both
    engines use the identical integer range."""
    from dvmax_spark.functions.scalar import epoch_micros

    ev = load_table(spark, "events", sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
    ).orderBy("event_id")


_Q3_SQL = """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""


@query("sql_api_q3", ids=("J1", "J7", "P2", "A2", "O3", "O4"), bench=True, sql=_Q3_SQL)
def sql_api_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping-priority query submitted through the
    SQL API (spark.sql over registered views) — identical Catalyst
    plan to the DataFrame form, proving the dual surface."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer", "orders", "lineitem"))
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
"""


@query("sql_api_q5", ids=("J1", "J7", "P2", "A2", "O3"), bench=True, sql=_Q5_SQL)
def sql_api_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q5-shaped local-supplier-volume query: a 6-way join where
    Catalyst must order the join tree and broadcast the three dim
    tables (region/nation/supplier) while the two facts
    (orders x lineitem) meet in a shuffled join with both date filters
    pushed to the scans — the canonical star-plus-fact-fact plan the
    engine must get right at 100 TB. Submitted through the SQL API;
    the oracle is the IDENTICAL text on DuckDB."""
    from dvmax_spark.catalog import register_views

    register_views(
        spark, sf,
        names=("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return spark.sql(_Q5_SQL)


@query(
    "a_salted_hot_key",
    ids=("A1", "A2"),
    sql="""
    SELECT event_type, count(*) AS n,
           round(sum(value), 2) AS total_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a_salted_hot_key(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-proof aggregation demo: events grouped by event_type — a
    handful of hot keys by construction — via the two-phase salted
    aggregate (operators/skew.py). One hot key's reducer becomes 16
    parallel partials; the final combine sees 16 rows per key. The
    result is identical to a plain GROUP BY (salting is
    result-invariant for algebraic aggregates), which is exactly what
    the oracle asserts."""
    from dvmax_spark.operators.skew import salted_aggregate

    ev = load_table(spark, "events", sf)
    out = salted_aggregate(
        ev,
        ["event_type"],
        partial_aggs={
            "n_p": F.count(F.lit(1)),
            "s_p": F.sum("value"),
            "mn_p": F.min("value"),
            "mx_p": F.max("value"),
        },
        final_aggs={
            "n": F.sum("n_p"),
            "s": F.sum("s_p"),
            "min_value": F.min("mn_p"),
            "max_value": F.max("mx_p"),
        },
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("s"), 2).alias("total_value"),
        "min_value",
        "max_value",
    ).orderBy("event_type")


@query(
    "j_salted_join",
    ids=("J1", "A2"),
    sql="""
    SELECT p.p_brand AS brand, count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand ORDER BY brand
    """,
)
def j_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-proof join demo: lineitem x part through the replicate-and-
    salt join (operators/skew.py salted_broadcast_left, 8 salts) — a
    hot part key spreads over 8 tasks instead of one reducer. Salting
    is result-invariant, which is exactly what the plain-join oracle
    asserts. (AQE's runtime skew-split covers shuffle joins; this is
    the explicit-plan variant for when the dim is replicable but not
    broadcastable whole.)"""
    from dvmax_spark.operators.skew import salted_broadcast_left

    li = load_table(spark, "lineitem", sf)
    p = load_table(spark, "part", sf).select("p_partkey", "p_brand")
    joined = salted_broadcast_left(
        li.select("l_partkey", "l_extendedprice", "l_discount").withColumnRenamed(
            "l_partkey", "p_partkey"
        ),
        p,
        on=["p_partkey"],
        num_salts=8,
    )
    return (
        joined.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
        .orderBy("brand")
    )


@query(
    "w_event_funnel",
    ids=("A2", "J1", "P2"),
    sql="""
    WITH e0 AS (
      SELECT user_id, ts, event_type FROM events
      WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    ), v AS (
      SELECT user_id, min(ts) AS t FROM e0 WHERE event_type = 'view'
      GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM e0 e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM e0 e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def w_event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered event-sequence funnel: users who viewed, then clicked
    strictly after their first view, then purchased strictly after that
    first qualifying click. Each stage is a partial-aggregated min per
    user joined to the next event slice — the per-stage state is one
    row per user (bounded), never the event stream itself, so the plan
    holds at any event volume. Sliced to the first two days so each
    stage visibly discriminates (92 -> 41 -> 21 users at sf0.01; the
    unsliced corpus converts everyone, which would be weak evidence of
    the ordering semantics)."""
    ev = load_table(spark, "events", sf).where(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp_ntz")
    )

    def stage(etype: str, prev):  # prev: (user_id, t)
        e = ev.where(F.col("event_type") == etype).select("user_id", "ts")
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias("t"))
        return (
            e.join(prev.withColumnRenamed("t", "_pt"), "user_id")
            .where(F.col("ts") > F.col("_pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    v = stage("view", None)
    c = stage("click", v)
    p = stage("purchase", c)
    counts = [
        df.agg(F.count(F.lit(1)).alias(alias))
        for df, alias in ((v, "n_view"), (c, "n_click_after_view"), (p, "n_purchase_after_click"))
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@query(
    "a_cohort_retention",
    ids=("A2", "A9", "F2", "F3"),
    sql="""
    WITH first_day AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_k
      FROM events e JOIN first_day f ON e.user_id = f.user_id
    )
    SELECT cohort_day, day_k, count(*) AS n_active
    FROM activity WHERE day_k BETWEEN 0 AND 7
    GROUP BY cohort_day, day_k ORDER BY cohort_day, day_k
    """,
)
def a_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    activity counted per day-offset 0..7. Two partial-aggregated
    passes over events (first-seen min, then distinct day offsets) —
    per-user state only, so the shape holds at any event volume."""
    ev = load_table(spark, "events", sf).select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_day = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = (
        ev.join(first_day, "user_id")
        .select("user_id", "cohort_day", F.datediff("d", "cohort_day").alias("day_k"))
        .distinct()
    )
    return (
        activity.where(F.col("day_k").between(0, 7))
        .groupBy("cohort_day", "day_k")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_k")
    )


@query(
    "a_value_histogram",
    ids=("A1", "F4", "F5"),
    sql="""
    SELECT CAST(floor(value / 5.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events WHERE value IS NOT NULL
    GROUP BY bin ORDER BY bin
    """,
)
def a_value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram over the event stream (bin width 5):
    the single-pass partial-aggregate shape of any distribution profile
    at corpus scale."""
    ev = load_table(spark, "events", sf).where(F.col("value").isNotNull())
    return (
        ev.select(F.floor(F.col("value") / 5.0).cast("bigint").alias("bin"), "value")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


@query(
    "w_twap",
    ids=("W1", "F2", "A2"),
    sql="""
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             epoch_us(lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                     ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id, day,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twap
    FROM spans WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id, day ORDER BY user_id, day
    """,
)
def w_twap(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average price per user-day: each observation is
    weighted by its holding duration (microseconds to the next event,
    the day's last span excluded). The classic TWAP shape: one window
    pass for lead(), one partial aggregate — and the duration math runs
    through the NTZ-safe epoch_micros helper (integer µs, no timezone
    dependence)."""
    from dvmax_spark.functions.scalar import epoch_micros

    ev = load_table(spark, "events", sf)
    day = F.col("ts").cast("date").alias("day")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy("ts", "event_id")
    spans = ev.select(
        "user_id",
        day,
        "value",
        (
            F.lead(epoch_micros("ts"), 1).over(w) - epoch_micros("ts")
        ).alias("dur_us"),
    )
    return (
        spans.where(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("user_id", "day")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twap")
        )
        .orderBy("user_id", "day")
    )


@query(
    "a_vwap",
    ids=("A2", "F11", "F4"),
    sql="""
    SELECT user_id,
           round(sum(value * CAST(props->>'$.k' AS BIGINT))
                 / sum(CAST(props->>'$.k' AS BIGINT)), 4) AS vwap,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS total_volume
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def a_vwap(spark: SparkSession, sf: str) -> DataFrame:
    """Volume-weighted average price per user, volume extracted from
    the JSON props payload — the VWAP composition (JSON decode ->
    weighted partial aggregate), integer weights so parity has no
    float-order hazards beyond the final rounded division."""
    ev = load_table(spark, "events", sf)
    vol = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("user_id", "value", vol.alias("vol"))
        .where(F.col("vol") > 0)
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("vol")) / F.sum("vol"), 4
            ).alias("vwap"),
            F.sum("vol").alias("total_volume"),
        )
        .orderBy("user_id")
    )


@query(
    "a_cube",
    ids=("A12", "A2"),
    sql="""
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(CAST(user_id % 4 AS VARCHAR), 'ALL') AS user_band,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(user_id % 4 AS VARCHAR))
    ORDER BY etype, user_band
    """,
)
def a_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (event_type, user band): all 2^2 grouping sets in one
    partial-aggregated pass — the multi-dimensional companion to
    a_rollup's hierarchy."""
    ev = load_table(spark, "events", sf).select(
        "event_type", (F.col("user_id") % 4).cast("string").alias("band"), "value"
    )
    return (
        ev.cube("event_type", "band")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("band"), F.lit("ALL")).alias("user_band"),
            "n",
            "total_value",
        )
        .orderBy("etype", "user_band")
    )


@query(
    "a_percentiles",
    ids=("A5", "A2"),
    sql="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS p25,
           round(quantile_cont(value, 0.50), 4) AS p50,
           round(quantile_cont(value, 0.75), 4) AS p75,
           round(quantile_cont(value, 0.95), 4) AS p95
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def a_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact linear-interpolated percentile profile per event type
    (p25/p50/p75/p95) — Spark `percentile` and DuckDB `quantile_cont`
    share the interpolation rule, so the profile is value-exact (the
    median leg of this parity is also proven by a5_yield_vs_median)."""
    ev = load_table(spark, "events", sf).where(F.col("value").isNotNull())
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        )
        .orderBy("event_type")
    )


@query(
    "a_corr_stats",
    ids=("A4", "A2", "F2"),
    sql="""
    SELECT user_id,
           round(corr(value, epoch_us(ts) / 86400000000.0), 4) AS corr_value_time,
           round(covar_samp(value, epoch_us(ts) / 86400000000.0), 4) AS covar_value_time
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def a_corr_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Bivariate statistics per user: correlation and sample covariance
    of value against time (days since epoch, through the NTZ-safe
    epoch helper) — drift/trend detection as one partial aggregate."""
    from dvmax_spark.functions.scalar import epoch_micros

    ev = load_table(spark, "events", sf).where(F.col("value").isNotNull())
    t_days = epoch_micros("ts") / F.lit(86400000000.0)
    return (
        ev.select("user_id", "value", t_days.alias("t"))
        .groupBy("user_id")
        .agg(
            F.round(F.corr("value", "t"), 4).alias("corr_value_time"),
            F.round(F.covar_samp("value", "t"), 4).alias("covar_value_time"),
        )
        .orderBy("user_id")
    )


@query(
    "a_continuous_rollup",
    ids=("A1", "A2", "S3"),
    sql="""
    SELECT event_type AS grp, CAST(ts AS DATE) AS day,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value, max(value) AS max_value,
           round(sum(value) / count(*), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY grp, day
    """,
)
def a_continuous_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style continuous aggregate (plans/rollup.py): the
    events table arrives as THREE time-ordered batches; each refresh
    aggregates only the delta and merges it into the persisted rollup
    (one atomic fsops.promote per refresh). The oracle computes the same
    rollup from the full raw table in one shot — a hash match proves
    delta-merge maintenance converges to the full recompute, i.e. the
    incremental path can replace the year-rescan at 100 TB."""
    from pyspark.sql import Window as _W

    from dvmax_spark.plans.rollup import ContinuousRollup

    ev = load_table(spark, "events", sf)
    path = scratch_path(f"rollup_{sf.strip('/').replace('/', '_')}")
    roll = ContinuousRollup(spark, path, "event_type", "ts", "value")
    roll.drop()
    # time-contiguous exact slices, NOT hash slices: the rollup
    # delta-merges FLOAT sums, whose 4dp-rounded averages are
    # order-sensitive at the ulp level (hash slicing flipped 2/150
    # rows by 1 ulp across the rounding boundary) — and time order
    # is the natural arrival order for a continuous rollup anyway
    sliced = with_exact_ntile(ev, [F.col("ts").asc(), F.col("event_id").asc()], 3, "_b")
    for b in (1, 2, 3):
        roll.refresh(sliced.where(F.col("_b") == b).drop("_b"))
    out = roll.read().select(
        "grp",
        "day",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 4).alias("avg_value"),
    ).orderBy("grp", "day")
    return out


@query(
    "u_unpivot_melt",
    ids=("U3",),
    sql="""
    WITH b AS (SELECT DISTINCT user_id % 10 AS bucket FROM events),
         t AS (SELECT unnest(['click','error','purchase','signup','view']) AS event_type),
         c AS (SELECT user_id % 10 AS bucket, event_type, count(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT b.bucket, t.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM b CROSS JOIN t
    LEFT JOIN c ON c.bucket = b.bucket AND c.event_type = t.event_type
    ORDER BY b.bucket, t.event_type
    """,
)
def u_unpivot_melt(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot/melt (wide -> long, the inverse of U3's pivot): the
    pivoted event-type count matrix is melted back to (bucket,
    event_type, n) with `DataFrame.unpivot`, zero cells preserved. The
    oracle reconstructs the dense long form with a bucket x type frame.
    Proves the reshape pair round-trips losslessly."""
    from dvmax_spark.queries_core import u3_pivot

    wide = u3_pivot(spark, sf)
    return (
        wide.unpivot(
            ["bucket"],
            ["click", "error", "purchase", "signup", "view"],
            "event_type",
            "n",
        )
        .orderBy("bucket", "event_type")
    )


@query(
    "a_grouping_sets",
    ids=("A12", "A2"),
    sql="""
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(CAST(user_id % 4 AS VARCHAR), 'ALL') AS user_band,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(user_id % 4 AS VARCHAR)), ())
    ORDER BY etype, user_band
    """,
)
def a_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form of a_rollup/a_cube:
    exactly the requested combinations, one partial-aggregated pass)
    through the DataFrame `groupingSets` API (Spark 4). Nulls for
    non-grouped dims coalesce to 'ALL' so both engines order alike."""
    ev = load_table(spark, "events", sf).select(
        "event_type", (F.col("user_id") % 4).cast("string").alias("band"), "value"
    )
    return (
        ev.groupingSets(
            [[F.col("event_type")], [F.col("band")], []], "event_type", "band"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("band"), F.lit("ALL")).alias("user_band"),
            "n",
            "total_value",
        )
        .orderBy("etype", "user_band")
    )


_Q18_SQL = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@query("sql_api_q18", ids=("J1", "A1", "O3", "O4"), sql=_Q18_SQL)
def sql_api_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume-customer query: IN-subquery with
    HAVING (Catalyst rewrites it to a semi-join on the aggregated
    lineitem), two fact joins, group + top-100. The subquery aggregate
    is the scale pivot: it pre-shrinks lineitem to qualifying orderkeys
    BEFORE the 3-way join — at 100 TB the semi-join probe side is tiny.
    Identical SQL text runs on both engines."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer", "orders", "lineitem"))
    return spark.sql(_Q18_SQL)


_GAPFILL_SQL = """
    WITH RECURSIVE cal(day) AS (
      SELECT CAST(min(ts) AS DATE) FROM events
      UNION ALL
      SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM cal
      WHERE day < (SELECT CAST(max(ts) AS DATE) FROM events)
    ),
    d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n,
             round(sum(value), 2) AS sum_value
      FROM events WHERE user_id = 7 AND event_type = 'purchase'
      GROUP BY 1
    )
    SELECT cal.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
           coalesce(d.sum_value, 0.0) AS sum_value
    FROM cal LEFT JOIN d ON d.day = cal.day
    ORDER BY cal.day
"""


@query("f_recursive_gapfill", ids=("F2", "A1"), sql=_GAPFILL_SQL)
def f_recursive_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate the full
    calendar spine between the table's min/max dates, then gap-fill a
    sparse per-day series (one user's purchases) with explicit zeros —
    the time-series densification every downstream window/SMA needs.
    The IDENTICAL SQL text runs on both engines. The recursion depth is
    |days| (driver-side loop of tiny one-row steps); the joins/aggs
    stay distributed — the right shape for a spine of thousands of days
    against 100 TB of facts."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("events",))
    return spark.sql(_GAPFILL_SQL)


_SCD2_SQL = """
    WITH runs AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    versions AS (
      -- chg=1 already covers the first row per key: lag() is NULL there
      -- and IS DISTINCT FROM a non-null status. No min-orderkey clause:
      -- that re-admitted non-change rows whenever the min key was not
      -- the date-first row (spurious same-status versions).
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      FROM runs WHERE chg = 1
    ),
    hist AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             CAST(o_orderdate AS DATE) AS valid_from,
             CAST(lead(o_orderdate) OVER v AS DATE) AS valid_to
      FROM versions
      WINDOW v AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT custkey, status, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM hist
    ORDER BY custkey, valid_from, status
"""


@query("j_scd2_history", ids=("J5", "W1", "A9"), sql=_SCD2_SQL)
def j_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: collapse a change-event stream
    (per-customer order-status updates) into versioned validity
    intervals [valid_from, valid_to) with an is_current flag — the
    warehouse-dimension history the reference's keep-last upsert
    (ref store.py upsert) truncates away. Two windows over ONE
    partitioning (custkey): change detection via lag, interval close
    via lead — a single shuffle; at 100 TB the same plan partitions by
    the dimension key and streams each key group once."""
    o = load_table(spark, "orders", sf)
    wkey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = o.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        (~F.lag("o_orderstatus").over(wkey).eqNullSafe(F.col("o_orderstatus")))
        .cast("int").alias("chg"),
    )
    # chg=1 covers the first row per key too (lag NULL is never
    # null-safe-equal to a non-null status) — see the oracle CTE note
    versions = runs.where(F.col("chg") == 1)
    v = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = versions.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.lead("o_orderdate").over(v).cast("date").alias("valid_to"),
    )
    return hist.select(
        "custkey", "status", "valid_from", "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("custkey", "valid_from", "status")


_Q10_SQL = """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           round(c.c_acctbal, 2) AS acctbal,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey  = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("sql_api_q10", ids=("J1", "J7", "P2", "A2", "O3", "O4"), sql=_Q10_SQL)
def sql_api_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item reporting: who returned the most
    revenue last quarter. Fact-fact join (orders x lineitem, both date
    and returnflag filters pushed to the scans) into broadcast
    customer/nation dims, then a top-20 on the aggregated revenue —
    the churn-investigation shape. Identical SQL text on both engines."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer", "orders", "lineitem", "nation"))
    return spark.sql(_Q10_SQL)


_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey  = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey  = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
"""


@query("sql_api_q7", ids=("J1", "J7", "P2", "A2", "F3"), sql=_Q7_SQL)
def sql_api_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q7-shaped volume-shipping query: bilateral trade between
    two nations by year. The nation table joins TWICE under different
    aliases (supplier side and customer side) with a disjunctive
    cross-pair predicate — the self-dim-alias pattern Catalyst must
    broadcast twice while the fact chain shuffles once. Identical SQL
    text on both engines."""
    from dvmax_spark.catalog import register_views

    register_views(
        spark, sf, names=("supplier", "lineitem", "orders", "customer", "nation")
    )
    return spark.sql(_Q7_SQL)


_WMEDIAN_SQL = """
    WITH o AS (
      SELECT l_returnflag,
             l_extendedprice AS v, l_quantity AS w,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag, min(v) FILTER (WHERE cw >= tw / 2) AS wmedian
    FROM o GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("a_weighted_median_udaf", ids=("A5",), sql=_WMEDIAN_SQL)
def a_weighted_median_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped-agg pandas_udf (UDAF surface, SURVEY §2.10): exact
    quantity-weighted median price per return flag — an aggregate Spark
    has no built-in for. Arrow ships each group's two columns to one
    vectorized numpy reduction; since quantities are whole numbers the
    cumulative weights are exact in both engines, so even this UDAF is
    value-exact against a SQL window oracle (no float drift: the result
    is an input VALUE, not arithmetic on one). At 100 TB the plan is a
    normal partial-less hash aggregate: one shuffle on the group key,
    each group reduced in a single Arrow batch — use only when the
    aggregate genuinely has no Catalyst form, per the UDF policy."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: PEP-563 string annotations (module-wide
    # `from __future__ import annotations`) defeat hint inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmedian(v, w):
        d = pd.DataFrame({"v": v, "w": w}).sort_values("v", kind="mergesort")
        cw = d["w"].cumsum()
        return float(d["v"][cw >= d["w"].sum() / 2.0].iloc[0])

    li = load_table(spark, "lineitem", sf)
    return (
        li.groupBy("l_returnflag")
        .agg(wmedian("l_extendedprice", "l_quantity").alias("wmedian"))
        .orderBy("l_returnflag")
    )


_Q6_SQL = """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
"""


@query("sql_api_q6", ids=("P2", "P4", "A2", "F4"), sql=_Q6_SQL)
def sql_api_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q6-shaped forecasting-revenue-change query: a pure
    scan-filter-aggregate with THREE pushable predicates and no join —
    the canonical test that every predicate reaches the parquet reader
    and the aggregate runs as a map-side partial. Identical SQL text on
    both engines."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem",))
    return spark.sql(_Q6_SQL)


_Q14_SQL = """
    SELECT round(
             100.00 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-03-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1996-04-01'
"""


@query("sql_api_q14", ids=("J1", "P2", "A2", "F4"), sql=_Q14_SQL)
def sql_api_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q14-shaped promotion-effect query: conditional-aggregate
    ratio over a month of fact rows joined to a broadcast part dim —
    the CASE-inside-sum pattern plus a tight date slice whose predicate
    must prune the fact scan. Identical SQL text on both engines."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem", "part"))
    return spark.sql(_Q14_SQL)


_PIT_SQL = """
    WITH runs AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    versions AS (
      SELECT o_custkey AS custkey,
             max_by(o_orderstatus, o_orderkey) AS status,
             CAST(o_orderdate AS DATE) AS vfrom
      FROM runs WHERE chg = 1
      GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    ),
    facts AS (
      SELECT o.o_custkey AS custkey, o.o_orderstatus AS status_at_order,
             CAST(l.l_shipdate AS DATE) AS ship
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.status_at_order, v.status AS status_at_ship,
           count(*) AS n_lines
    FROM facts f ASOF JOIN versions v
      ON f.custkey = v.custkey AND f.ship >= v.vfrom
    GROUP BY f.status_at_order, v.status
    ORDER BY f.status_at_order, status_at_ship
"""


@query("j_pit_scd2_lookup", ids=("J2", "J3", "A1"), sql=_PIT_SQL)
def j_pit_scd2_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time dimension lookup: each lineitem resolves the
    customer's order-status VERSION valid at ship time against the SCD2
    history — the classic late-arriving-fact / time-travel-dimension
    join. NOT a range join (which Catalyst would nest-loop): the
    single-shuffle as-of machinery (operators/asof.py) attaches the
    latest version with valid_from <= ship per customer. Same-date
    version churn is collapsed to the last change of the day
    (max_by orderkey) so the as-of key is strictly increasing per key
    and both engines break ties identically. Oracle uses DuckDB's
    native ASOF JOIN — two independent implementations of the same
    semantics."""
    from dvmax_spark.operators.asof import asof_join

    o = load_table(spark, "orders", sf)
    wkey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    runs = o.select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
        (~F.lag("o_orderstatus").over(wkey).eqNullSafe(F.col("o_orderstatus")))
        .cast("int").alias("chg"),
    )
    versions = (
        runs.where(F.col("chg") == 1)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("asof_date"),
        )
        .agg(F.max_by("o_orderstatus", "o_orderkey").alias("status"))
    )
    li = load_table(spark, "lineitem", sf)
    facts = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status_at_order"),
        F.col("l_shipdate").cast("date").alias("asof_date"),
    )
    pit = asof_join(
        facts, versions, on="asof_date", by="custkey", strategy="backward"
    )
    # inner-ASOF semantics (match the oracle): facts shipping before the
    # customer's first version have no point-in-time status and drop out
    # (the synthetic data ships some lines before their order's date)
    pit = pit.where(F.col("status").isNotNull())
    return (
        pit.groupBy("status_at_order", F.col("status").alias("status_at_ship"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy("status_at_order", "status_at_ship")
    )


_PROFILE_COLS_NUM = ("l_quantity", "l_extendedprice", "l_discount")
_PROFILE_COLS_STR = ("l_returnflag", "l_linestatus")

_PROFILE_SQL = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           round(min({c}), 4) AS min_num, round(max({c}), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem"""
    for c in _PROFILE_COLS_NUM
) + " UNION ALL " + " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_null,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           min({c}) AS min_str, max({c}) AS max_str
    FROM lineitem"""
    for c in _PROFILE_COLS_STR
) + " ORDER BY col_name"


@query("a_table_profile", ids=("A1", "A2", "A10", "V1"), sql=_PROFILE_SQL)
def a_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Data profiling: per-column row/null/distinct counts + min/max —
    the first thing run against an unknown table and the input to
    validation-rule authoring. ONE pass over the data: all per-column
    aggregates compute in a single scan-level Aggregate (Catalyst fuses
    the expression list), then reshape to one row per column. Exact
    distinct here for the oracle; at 100 TB swap in
    approx_count_distinct (the sketch layer) per column."""
    li = load_table(spark, "lineitem", sf)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS_NUM + _PROFILE_COLS_STR:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    for c in _PROFILE_COLS_NUM:
        aggs += [
            F.round(F.min(c), 4).alias(f"{c}__mn"),
            F.round(F.max(c), 4).alias(f"{c}__mx"),
        ]
    for c in _PROFILE_COLS_STR:
        aggs += [F.min(c).alias(f"{c}__mns"), F.max(c).alias(f"{c}__mxs")]
    wide = li.agg(*aggs)
    rows = []
    for c in _PROFILE_COLS_NUM:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"), F.col("n_rows"),
                F.col(f"{c}__nn").alias("n_null"), F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_num"), F.col(f"{c}__mx").alias("max_num"),
                F.lit(None).cast("string").alias("min_str"),
                F.lit(None).cast("string").alias("max_str"),
            )
        )
    for c in _PROFILE_COLS_STR:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"), F.col("n_rows"),
                F.col(f"{c}__nn").alias("n_null"), F.col(f"{c}__nd").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
                F.col(f"{c}__mns").alias("min_str"), F.col(f"{c}__mxs").alias("max_str"),
            )
        )
    return (
        wide.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


_OHLC_SQL = """
    WITH base AS (
      SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
             ts, event_id, value
      FROM events
    )
    SELECT event_type, week,
           round(min_by(value, ts || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max_by(value, ts || '|' || lpad(CAST(event_id AS VARCHAR), 12, '0')), 4) AS close,
           count(*) AS n_ticks
    FROM base
    GROUP BY event_type, week
    ORDER BY event_type, week
"""


@query("a_ohlc_resample", ids=("A6", "A9", "F2"), sql=_OHLC_SQL)
def a_ohlc_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series bar resampling: tick stream → weekly OHLC bars
    (open = first by time, high/low = extrema, close = last by time) —
    the canonical downsampling step before any bar-based indicator.
    ONE partial-aggregated shuffle on (series, week); first/last use
    min_by/max_by on a collision-free (ts, event_id) composite so ties
    inside a timestamp resolve identically in both engines."""
    ev = load_table(spark, "events", sf)
    tie = F.concat_ws(
        "|",
        F.col("ts").cast("string"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    base = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("week"),
        tie.alias("tie"),
        "value",
    )
    return (
        base.groupBy("event_type", "week")
        .agg(
            F.round(F.min_by("value", "tie"), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", "tie"), 4).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "week")
    )


_Q4_SQL = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) <  DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("sql_api_q4", ids=("J6", "A1", "P2"), sql=_Q4_SQL)
def sql_api_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q4-shaped priority-check query: correlated EXISTS over the
    fact table (planned as a left-semi join) under a tight date slice —
    the standard late-delivery audit. Identical SQL text on both
    engines; Spark rewrites the subquery to a semi join, which at scale
    shuffles only the quarter's orders (ref predicate-window scans,
    ticker_batch_runner.py:433-443)."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


_Q13_SQL = """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '3-MEDIUM'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@query("sql_api_q13", ids=("J1", "A1", "O3"), sql=_Q13_SQL)
def sql_api_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q13-shaped customer-order-distribution query: LEFT OUTER
    join with an ON-clause filter (customers with zero qualifying
    orders must survive with count 0), two aggregation levels, sorted
    histogram. The outer-join-then-histogram pattern is the classic
    engagement-distribution query over any fact table."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer", "orders"))
    return spark.sql(_Q13_SQL)


_Q19_SQL = """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
"""


@query("sql_api_q19", ids=("J1", "P4", "A2"), sql=_Q19_SQL)
def sql_api_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive-predicate query: an OR of three
    multi-column bracket conditions spanning BOTH join sides. The
    optimizer test here is CNF extraction — Spark derives the common
    per-side implied filters (brand IN (...), quantity bounds) and
    pushes them below the join so the scan doesn't read the full fact
    table for a three-bracket slice."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem", "part"))
    return spark.sql(_Q19_SQL)


_Q22_SQL = """
    SELECT c.c_mktsegment, count(*) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT round(avg(c_acctbal), 4)
                         FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""


@query("sql_api_q22", ids=("J6", "A1", "A2"), sql=_Q22_SQL)
def sql_api_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q22-shaped dormant-high-balance query: scalar subquery
    threshold (rounded before the comparison so ulp drift in the
    distributed avg can't flip borderline rows) + correlated NOT
    EXISTS anti join against recent orders. The churn-risk shape:
    valuable customers with no recent activity."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer", "orders"))
    return spark.sql(_Q22_SQL)


_Q15_SQL = """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT suppkey, total_rev
    FROM (SELECT suppkey, total_rev,
                 row_number() OVER (ORDER BY total_rev DESC, suppkey) AS rk
          FROM rev)
    WHERE rk <= 5
    ORDER BY rk
"""


@query("sql_api_q15", ids=("W5", "A2", "O3", "O4"), sql=_Q15_SQL)
def sql_api_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q15-shaped top-supplier query: quarterly revenue rollup,
    then top-k by revenue. Ranks on the PRE-ROUNDED aggregate with a
    unique-key tie-break (the float-rank rule: distributed-sum ulp
    drift must not be able to flip ranks between engines)."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem",))
    return spark.sql(_Q15_SQL)


_Q17_SQL = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND p.p_type = 'MEDIUM'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey)
"""


@query("sql_api_q17", ids=("J1", "A2", "F4"), sql=_Q17_SQL)
def sql_api_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q17-shaped small-quantity-order revenue: correlated scalar
    AVG subquery per part (the canonical decorrelation shape — Catalyst
    rewrites it to an aggregate-then-join; DuckDB does the same), then a
    one-row global sum. Adapted to this testdata: ``p_type`` stands in
    for the absent ``p_container``. The threshold compares integer-valued
    quantities against 0.2*avg, so distributed-avg ulp drift cannot flip
    row membership."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem", "part"))
    return spark.sql(_Q17_SQL)


_Q21_SQL = """
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN CAST(l.l_shipdate AS DATE)
                       > CAST(o.o_orderdate AS DATE) + INTERVAL 100 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name AS supp_name, count(*) AS numwait
    FROM supplier s
    JOIN li l1 ON l1.l_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l1.late = 1
      AND n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late = 1)
    GROUP BY s.s_name
    ORDER BY numwait DESC, supp_name
    LIMIT 25
"""


@query("sql_api_q21", ids=("J6", "J1", "A1", "O3", "O4"), sql=_Q21_SQL)
def sql_api_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q21-shaped waiting-orders query: correlated EXISTS (a
    multi-supplier order) plus correlated NOT EXISTS (no OTHER supplier
    was late) against the same fact CTE — the hardest decorrelation
    shape on this testdata (Catalyst: left-semi + left-anti joins on
    l_orderkey). Adapted: 'late' is shipdate > orderdate + 100 days
    because the testdata ships no l_receiptdate/l_commitdate; the
    nation filter uses this testdata's synthetic NATION_* names."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem", "orders", "supplier", "nation"))
    return spark.sql(_Q21_SQL)


_Q8_SQL = """
    SELECT o_year,
           round(round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END), 2)
                 / round(sum(volume), 2), 6) AS mkt_share
    FROM (
      SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA'
        AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        AND p.p_type = 'ECONOMY'
    ) v
    GROUP BY o_year
    ORDER BY o_year
"""


@query("sql_api_q8", ids=("J1", "J7", "P2", "A2", "F4"), sql=_Q8_SQL)
def sql_api_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q8-shaped national-market-share query: an 8-way join
    (nation joined twice — customer side for the region filter,
    supplier side for the share numerator) feeding a two-sided
    conditional aggregation per order year. Both sums are rounded
    BEFORE the division so distributed-sum ulp drift cannot move the
    6-digit share. Catalyst broadcasts all six dims; lineitem x orders
    is the only shuffled join."""
    from dvmax_spark.catalog import register_views

    register_views(
        spark, sf,
        names=("lineitem", "part", "supplier", "orders", "customer", "nation", "region"),
    )
    return spark.sql(_Q8_SQL)


_Q12_SQL = """
    SELECT l.l_returnflag AS retflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
    GROUP BY l.l_returnflag
    ORDER BY retflag
"""


@query("sql_api_q12", ids=("J1", "P2", "A1", "F2"), sql=_Q12_SQL)
def sql_api_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q12-shaped priority histogram: fact-fact join with a
    shipdate window AND a two-sided date predicate on the join output
    (shipdate > orderdate — only evaluable post-join), then conditional
    counts per group. Adapted: groups by l_returnflag because the
    testdata ships no l_shipmode; the BIGINT cast keeps DuckDB's
    HUGEINT sum(int) in the common hash domain (the r2 s2 lesson)."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("orders", "lineitem"))
    return spark.sql(_Q12_SQL)


_GSETS_SQL = """
    SELECT coalesce(c.c_mktsegment, '<all>') AS segment,
           coalesce(o.o_orderpriority, '<all>') AS priority,
           count(*) AS n,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((c.c_mktsegment, o.o_orderpriority),
                            (c.c_mktsegment), (o.o_orderpriority), ())
    ORDER BY segment, priority
"""


@query("sql_grouping_sets", ids=("A1", "A2", "U3"), sql=_GSETS_SQL)
def sql_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-granularity rollup in ONE pass: GROUPING SETS over
    (segment x priority, segment, priority, grand total) — the OLAP
    report shape that would otherwise take four scans + a union.
    Catalyst expands the sets into a single Expand node feeding one
    hash aggregate, so the fact table is read once regardless of how
    many granularities are asked for. Grouping-null keys are
    COALESCE'd to a sentinel so both engines order identically (Spark
    sorts NULLS FIRST by default, DuckDB NULLS LAST — the cross-engine
    trap this query pins)."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("orders", "customer"))
    return spark.sql(_GSETS_SQL)


_SETOPS_SQL = """
    WITH y96 AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
    ),
    y97 AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        AND CAST(o_orderdate AS DATE) <  DATE '1998-01-01'
    )
    SELECT 'both_years' AS grp, custkey
    FROM (SELECT custkey FROM y96 INTERSECT SELECT custkey FROM y97) t1
    UNION ALL
    SELECT 'only_1996' AS grp, custkey
    FROM (SELECT custkey FROM y96 EXCEPT SELECT custkey FROM y97) t2
    ORDER BY grp, custkey
"""


@query("sql_intersect_except", ids=("U4", "J6", "P2"), sql=_SETOPS_SQL)
def sql_intersect_except(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI set operators: retained customers (INTERSECT of two order
    years) and churned customers (EXCEPT) in one result. Both engines
    give set (distinct) semantics; Catalyst lowers INTERSECT to a
    left-semi and EXCEPT to a left-anti join on the distinct key sets,
    so the cost model matches the hand-written anti-join (J6) rather
    than a full sort-based set difference."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("orders",))
    return spark.sql(_SETOPS_SQL)


_UNPIVOT_SQL = """
    SELECT c_mktsegment, metric, round(val, 2) AS val
    FROM (SELECT c_mktsegment,
                 round(avg(c_acctbal), 2) AS avg_bal,
                 round(max(c_acctbal), 2) AS max_bal,
                 round(min(c_acctbal), 2) AS min_bal
          FROM customer GROUP BY c_mktsegment) t
    UNPIVOT (val FOR metric IN (avg_bal, max_bal, min_bal))
    ORDER BY c_mktsegment, metric
"""


@query("sql_unpivot", ids=("U3", "A2"), sql=_UNPIVOT_SQL)
def sql_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI UNPIVOT (wide→long melt, the inverse of U3's pivot) with
    IDENTICAL SQL text on both engines — Catalyst lowers it to an
    Expand (one output row per unpivoted column), so cost is
    O(rows × columns) map-side with zero shuffle beyond the feeding
    aggregate. The round happens before the melt so both engines
    compare the same 2-decimal values."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("customer",))
    return spark.sql(_UNPIVOT_SQL)


_PIVOT_SQL = """
    SELECT c_mktsegment,
           round(f, 2) AS f, round(o, 2) AS o, round(p, 2) AS p
    FROM (
      SELECT c_mktsegment, o_orderstatus, o_totalprice
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
    ) t
    PIVOT (sum(o_totalprice) FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
    ORDER BY c_mktsegment
"""


@query("sql_pivot", ids=("U3", "A2", "J7"), sql=_PIVOT_SQL)
def sql_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI PIVOT (long→wide) with identical SQL text on both engines:
    revenue by market segment × order status. The IN list is explicit
    (both engines require it for a deterministic schema — a dynamic
    pivot would need a two-pass distinct first), which is also what
    keeps the plan a single hash aggregate rather than a
    per-distinct-value scan."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("orders", "customer"))
    return spark.sql(_PIVOT_SQL)


_RANGE_JOIN_SQL = """
    WITH iv AS (
      SELECT user_id, event_id AS purchase_id,
             ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT iv.purchase_id, count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM iv
    JOIN events e
      ON e.user_id = iv.user_id
     AND e.ts >= iv.start_ts
     AND e.ts <= iv.end_ts
    GROUP BY iv.purchase_id
    ORDER BY iv.purchase_id
"""


@query("j_range_join", ids=("J4", "P2", "A1"), sql=_RANGE_JOIN_SQL)
def j_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval × point RANGE JOIN (operators/range_join.py): per-user
    activity in the hour following each purchase event. Spark lowers a
    raw BETWEEN predicate to a nested-loop join (O(L·R) — dead at
    scale); bin_range_join discretizes time into hour bins and joins
    EQUI on (user_id, bin) plus a residual BETWEEN — each qualifying
    pair meets in exactly one bin (the point's), so no dedup is
    needed. The oracle runs the naive BETWEEN join, proving the binned
    plan is value-exact, while the plan test pins that no nested-loop
    join appears."""
    from dvmax_spark.operators.range_join import bin_range_join

    ev = load_table(spark, "events", sf)
    iv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 1 HOUR").alias("end_ts"),
    )
    joined = bin_range_join(
        iv,
        ev.select("user_id", "ts", "value"),
        "start_ts",
        "end_ts",
        "ts",
        bin_width_s=3_600,
        keys=("user_id",),
    )
    return (
        joined.groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("purchase_id")
    )


@query(
    "j_incremental_join_mv",
    ids=("J1", "S3", "A12"),
    bench=True,  # heaviest new r4 op: keep it driver-visible (r3 lesson)
    sql="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def j_incremental_join_mv(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-exact incremental join materialization (plans/join_mv.py):
    orders AND customer each arrive as three batches; every refresh
    joins only the deltas against partition-pruned prior state
    (dA><B_old + A_old><dB + dA><dB) and appends its own batch
    partition of the M delta log. The oracle joins the FULL tables in
    one shot — a hash match proves the incremental path converges to
    the complete re-join, i.e. each (a-batch, b-batch) pair is joined
    exactly once across the refresh history. Aggregates are integer
    cents so distributed-sum order can't move a rounding boundary."""
    from dvmax_spark.plans.join_mv import IncrementalJoinMV

    orders = load_table(spark, "orders", sf).select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    path = scratch_path(f"joinmv_{sf.strip('/').replace('/', '_')}")
    mv = IncrementalJoinMV(spark, path, key="custkey")
    mv.drop()
    o_sliced = with_hash_slice(orders, ["o_orderkey"], 3, "_b")
    c_sliced = with_hash_slice(cust, ["custkey"], 3, "_b")
    for b in (1, 2, 3):
        # stage each incoming batch once (r10, guide §5): refresh uses
        # a delta three times (its own write + two delta joins), and
        # without the cut every use re-scans the base table to re-slice
        mv.refresh(
            b,
            o_sliced.where(F.col("_b") == b).drop("_b").localCheckpoint(eager=False),
            c_sliced.where(F.col("_b") == b).drop("_b").localCheckpoint(eager=False),
        )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        mv.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "j_join_mv_updates",
    ids=("J1", "J5", "S3"),
    sql="""
    WITH o AS (
      SELECT * FROM orders WHERE o_orderkey % 97 <> 0
    ), c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 61 = 0 THEN 'CORRECTED'
                  ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT seg, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM o JOIN c ON o_custkey = c_custkey
    GROUP BY seg ORDER BY seg
    """,
)
def j_join_mv_updates(spark: SparkSession, sf: str) -> DataFrame:
    """DELETE/UPDATE propagation through the incremental join MV
    (plans/join_mv.py retraction mode): batch 1 loads the full join;
    batch 2 retracts a slice of orders (mult −1) and corrects a slice
    of customer segments (old row −1, new row +1 — an UPDATE as a
    retraction pair). Aggregates run DIRECTLY over the M retraction
    log as sum(mult)/sum(mult·cents) — no netting pass, no history
    rewrite. The oracle joins the post-correction tables one-shot; a
    hash match proves the counting-IVM algebra lands on exactly the
    corrected state."""
    from dvmax_spark.plans.join_mv import IncrementalJoinMV

    orders = load_table(spark, "orders", sf).select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("seg")
    )
    path = scratch_path(f"joinmvu_{sf.strip('/').replace('/', '_')}")
    mv = IncrementalJoinMV(spark, path, key="custkey", mult_col="mult")
    mv.drop()
    one = F.lit(1).cast("long")
    mv.refresh(1, orders.withColumn("mult", one), cust.withColumn("mult", one))
    # batch 2: retractions only — no new inserts on the orders side
    retract_o = orders.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "mult", -one
    )
    upd = cust.where(F.col("custkey") % 61 == 0)
    correct_c = upd.withColumn("mult", -one).unionByName(
        upd.withColumn("seg", F.lit("CORRECTED")).withColumn("mult", one)
    )
    mv.refresh(2, retract_o, correct_c)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        mv.read()
        .groupBy("seg")
        .agg(
            F.sum("mult").alias("n_orders"),
            F.sum(F.col("mult") * cents).alias("total_cents"),
        )
        .where(F.col("n_orders") != 0)
        .orderBy("seg")
    )


_Q1_SQL = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@query("sql_api_q1", ids=("A1", "A2", "P2", "O2"), sql=_Q1_SQL)
def sql_api_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 verbatim (pricing summary report): the canonical
    scan-filter-aggregate over the full fact table — eight aggregates
    in ONE pass, all map-side partial, with the shipdate predicate
    pushed to the scan. a1_pricing_summary covers this shape in-cap;
    this is the literal SQL text on both engines, completing the
    identical-text TPC-H family (17 of 22; Q2/Q9/Q11/Q16/Q20 blocked:
    no partsupp table in the driver testdata)."""
    from dvmax_spark.catalog import register_views

    register_views(spark, sf, names=("lineitem",))
    return spark.sql(_Q1_SQL)


@query(
    "t_stream_join_mv",
    ids=("T3", "J1", "S3"),
    sql="""
    SELECT c_mktsegment AS seg,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 7 = 0
    GROUP BY seg ORDER BY seg
    """,
)
def t_stream_join_mv(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING incremental view maintenance, run for real: orders
    (a slice) and customer rows arrive interleaved as ONE tagged
    stream over 3 micro-batches; foreachBatch folds each micro-batch's
    deltas into the persisted join MV (plans/join_mv.py — micro-batch
    id = MV batch id, exactly-once by partition overwrite). The oracle
    joins the full tables one shot: a hash match proves the streaming
    path converges to the batch join no matter how the rows were
    sliced across micro-batches."""
    from dvmax_spark.plans.join_mv import run_join_mv_stream

    orders = (
        load_table(spark, "orders", sf)
        .where(F.col("o_orderkey") % 7 == 0)
        .select(
            F.lit("A").alias("side"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("a_orderkey"),
            F.col("o_totalprice").alias("a_price"),
            F.lit(None).cast("string").alias("b_seg"),
        )
    )
    cust = load_table(spark, "customer", sf).select(
        F.lit("B").alias("side"),
        F.col("c_custkey").alias("custkey"),
        F.lit(None).cast("long").alias("a_orderkey"),
        F.lit(None).cast("double").alias("a_price"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    mv = run_join_mv_stream(
        spark, orders.unionByName(cust), key="custkey", n_files=3
    )
    cents = F.round(F.col("a_price") * 100).cast("bigint")
    return (
        mv.read()
        .groupBy(F.col("b_seg").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("seg")
    )


@query(
    "t_stream_rollup",
    ids=("T1", "A1", "S3"),
    sql="""
    SELECT event_type AS grp, CAST(ts AS DATE) AS day,
           count(*) AS n,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    ORDER BY grp, day
    """,
)
def t_stream_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING continuous aggregate, run for real: the events table
    arrives as 3 time-ordered micro-batches; foreachBatch merges each
    batch's partials into the persisted rollup exactly-once (the
    ``_meta`` batch marker commits in the same fsops.promote as the
    data — plans/rollup.py:stream_into_rollup). The oracle
    aggregates the full raw table one shot: a hash match proves the
    streamed partial-merge path converges to the batch recompute."""
    import uuid as _uuid

    from dvmax_spark.plans.rollup import ContinuousRollup, stream_into_rollup

    ev = load_table(spark, "events", sf).select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    run_id = _uuid.uuid4().hex[:10]
    base = scratch_path(f"rollup_stream_{run_id}")
    in_dir = os.path.join(base, "in")
    os.makedirs(in_dir, exist_ok=True)
    staged = with_hash_slice(ev, ["event_id"], 3, "_b")
    now = None
    for i in (1, 2, 3):
        p = os.path.join(in_dir, f"slice_{i}")
        staged.where(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        part = next(
            f for f in os.listdir(p) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(p, part), dst)
        if now is None:
            now = os.stat(dst).st_mtime
        os.utime(dst, (now + i, now + i))
        import shutil as _sh

        _sh.rmtree(p, ignore_errors=True)
    roll = ContinuousRollup(spark, os.path.join(base, "roll"), "event_type", "ts", "value")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_into_rollup(
            stream, roll, checkpoint_dir=os.path.join(base, "ckpt"),
            query_name=f"rollup_{run_id}",
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        roll.read()
        .select(
            "grp", "day", "n",
            F.round("sum_value", 2).alias("sum_value"),
            "min_value", "max_value",
        )
        .orderBy("grp", "day")
    )


@query(
    "j_fuzzy_edit1_join",
    ids=("J6", "X2"),
    sql="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def j_fuzzy_edit1_join(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy entity-resolution join: customer-name pairs within edit
    distance 1 via SymSpell deletion-neighborhood blocking
    (ext/entity.py) — an EQUI-join on {self}∪{1-deletions} keys with
    PROVABLE recall, then exact levenshtein only on candidates. The
    oracle brute-forces the n² distance matrix; the Spark plan never
    builds it (explode → hash join → verify, the MinHash-banding
    shape applied to strings)."""
    from dvmax_spark.ext.entity import edit1_pairs

    cust = load_table(spark, "customer", sf).select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return edit1_pairs(cust).orderBy("id_a", "id_b")


@query(
    "x_er_golden_record",
    ids=("X17", "J6", "A2"),
    sql="""
    WITH RECURSIVE pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
       AND a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(src, node) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node AS c_custkey, min(src) AS cluster_id FROM reach GROUP BY node
    ),
    sized AS (
      SELECT c.cluster_id, cu.c_custkey, cu.c_name, cu.c_acctbal,
             count(*) OVER (PARTITION BY c.cluster_id) AS sz
      FROM customer cu JOIN comp c USING (c_custkey)
    ),
    multi AS (SELECT * FROM sized WHERE sz >= 2),
    agg AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
             round(sum(c_acctbal), 2) AS total_acctbal
      FROM multi GROUP BY cluster_id
    ),
    g AS (
      SELECT cluster_id, c_custkey AS golden_id, c_name AS golden_name
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cluster_id
          ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM multi
      ) WHERE rn = 1
    )
    SELECT a.cluster_id, a.n_members, g.golden_id, g.golden_name, a.total_acctbal
    FROM agg a JOIN g USING (cluster_id) ORDER BY a.cluster_id
    """,
)
def x_er_golden_record(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution END-TO-END: fuzzy edit-1 name pairs (SymSpell
    deletion blocking — never the n² matrix) → connected components
    (ext/dedup.py:dedup_clusters, reused verbatim on a different
    entity) → GOLDEN-RECORD merge per multi-member cluster
    (survivorship: highest-balance member donates the name, balances
    sum). The oracle brute-forces pairs + recursive reachability —
    value-exact, proving blocking+components lose nothing. The
    deletion-blocked candidate set joins the (tiny) attribute table
    twice — at 100 TB both are broadcast lookups against the
    candidate stream."""
    from dvmax_spark.ext.dedup import dedup_clusters
    from dvmax_spark.ext.entity import edit1_pairs

    cust = load_table(spark, "customer", sf).select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment"
    )
    # name-similarity candidates, then structured-attribute agreement
    # (nation + segment) — the classic two-stage ER match rule; without
    # it the sequential synthetic names chain into one giant component
    cand = edit1_pairs(
        cust.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    ).select("id_a", "id_b")
    attrs = cust.select("c_custkey", "c_nationkey", "c_mktsegment")
    pairs = (
        cand.join(
            attrs.select(
                F.col("c_custkey").alias("id_a"),
                F.col("c_nationkey").alias("_na"),
                F.col("c_mktsegment").alias("_sa"),
            ),
            "id_a",
        )
        .join(
            attrs.select(
                F.col("c_custkey").alias("id_b"),
                F.col("c_nationkey").alias("_nb"),
                F.col("c_mktsegment").alias("_sb"),
            ),
            "id_b",
        )
        .where((F.col("_na") == F.col("_nb")) & (F.col("_sa") == F.col("_sb")))
        .select("id_a", "id_b")
    )
    cl = dedup_clusters(cust, pairs, id_col="c_custkey")
    multi = cl.where(F.col("cluster_size") >= 2).select("c_custkey", "cluster_id")
    j = multi.join(cust, "c_custkey")
    agg = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    g = (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("c_custkey").alias("golden_id"),
            F.col("c_name").alias("golden_name"),
        )
    )
    return (
        agg.join(g, "cluster_id")
        .select("cluster_id", "n_members", "golden_id", "golden_name", "total_acctbal")
        .orderBy("cluster_id")
    )


def _ewma_oracle_sql() -> str:
    from dvmax_spark.features.price import ewma_fixed_horizon_sql_terms

    num, den = ewma_fixed_horizon_sql_terms(
        "cents", "o_custkey", "o_orderdate, o_orderkey"
    )
    return f"""
    WITH base AS (
      SELECT o_custkey, o_orderdate, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), e AS (
      SELECT o_custkey,
             ({num}) // ({den}) AS ewma_cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
             count(*) OVER (PARTITION BY o_custkey) AS n_orders
      FROM base
    )
    SELECT o_custkey, CAST(n_orders AS BIGINT) AS n_orders, ewma_cents
    FROM e WHERE rn = 1 ORDER BY o_custkey
    """


@query("w_ewma", ids=("W3", "W1", "F4"), sql=_ewma_oracle_sql())
def w_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Latest 16-lag EWMA (alpha=1/4) of each customer's order value:
    the distributable fixed-horizon form of the classic exponentially
    weighted average, in EXACT integer weight arithmetic (weights
    3^j*4^(15-j), bigint dot product, `div`) so the distributed result
    is bit-equal to the sequential oracle — no float recurrence, no
    cross-engine rounding surface (features/price.py:
    ewma_fixed_horizon). Plan: ONE shuffle on the partition key; the
    16 lag terms and the latest-row selection share the same window
    partitioning."""
    from dvmax_spark.features.price import ewma_fixed_horizon

    orders = load_table(spark, "orders", sf)
    base = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    e = ewma_fixed_horizon(
        base, F.col("cents"), "o_custkey", ("o_orderdate", "o_orderkey")
    )
    w_last = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    w_all = Window.partitionBy("o_custkey")
    return (
        e.withColumn("rn", F.row_number().over(w_last))
        .withColumn("n_orders", F.count(F.lit(1)).over(w_all))
        .where(F.col("rn") == 1)
        .select("o_custkey", "n_orders", "ewma_cents")
        .orderBy("o_custkey")
    )


@query(
    "x_event_transitions",
    ids=("W1", "A1", "F4"),
    sql="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST((n * 1000000) // sum(n) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_ppm
    FROM c ORDER BY from_type, to_type
    """,
)
def x_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and exact-ppm transition probabilities for every
    (from_type -> to_type) edge — the user-journey / funnel-discovery
    primitive (which state feeds which). One window pass for lead(),
    one |types|^2-bounded aggregate, probabilities by integer `div`
    over a window sum of the TINY aggregated matrix — no second
    shuffle of event data, no floats."""
    ev = load_table(spark, "events", sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    c = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("from_type")
    return (
        c.select(
            "from_type",
            "to_type",
            "n",
            F.expr("n * 1000000").alias("_num"),
            F.sum("n").over(tot).alias("_tot"),
        )
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("_num div _tot").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


from dvmax_spark.operators.zorder import zorder_layout_report, zorder_layout_sql


@query("o_zorder_layout", ids=("O2", "S3"), sql=zorder_layout_sql())
def o_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) data-layout report: orders clustered on the
    space-filling curve over (custkey mod 256, order-day mod 256), one
    row per simulated file with both dimensions' min/max envelopes and
    whether a rectangular query box would scan it — exactly the
    footer-stats pruning decision a parquet reader makes. File
    assignment is pure integer arithmetic on the Morton key (no rank,
    no window); the bit-interleave is identical SQL arithmetic in both
    engines, so the whole report is value-exact. At 100 TB this is the
    layout that lets BOTH filter columns prune files, where a
    single-column sort serves only one (tests quantify the win)."""
    o = load_table(spark, "orders", sf)
    qa = F.col("o_custkey") % 256
    qb = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) % 256
    return zorder_layout_report(o, qa, qb, bits=8, n_files=16)
