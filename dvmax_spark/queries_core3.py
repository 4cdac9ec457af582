"""Third batch: remaining operator-ID coverage — has-flags/slug/
finiteness/clipping scalar ops (P8/P9/F7/F8), consistency + NaN-gate
validation (V5/V7), and the parquet sink round-trip family (S2/S3/A11,
rows-only: sinks aren't SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.fsops import scratch_path
from dvmax_spark.functions.scalar import clip_cap, has_flag, is_finite, slug
from dvmax_spark.registry import query


@query(
    "a_median_distributed",
    ids=("A5",),
    sql="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           median(l_quantity) AS med_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a_median_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT per-group median with NO per-group pool — the A5 scale
    path for whale groups (the built-in percentile/median aggregates
    buffer each group's values inside one task): distributed group
    rank, keep the middle rank(s) by the 2·rank parity filter, average
    them (operators/distrank.py:group_median_exact). l_returnflag has
    3 groups of ~n/3 rows each — exactly the shape where a grouped
    buffer aggregate concentrates the corpus into 3 tasks. Values are
    integral doubles, so the even-n midpoint is bit-exact vs DuckDB's
    interpolated median()."""
    from dvmax_spark.operators.distrank import group_median_exact

    li = load_table(spark, "lineitem", sf).select(
        "l_returnflag", "l_quantity", "l_orderkey", "l_linenumber"
    )
    return group_median_exact(
        li,
        ["l_returnflag"],
        "l_quantity",
        [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        out_col="med_qty",
    ).select("l_returnflag", "n_rows", "med_qty")


@query(
    "a_quartiles_distributed",
    ids=("A5",),
    sql="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def a_quartiles_distributed(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group quartiles from ONE distributed rank pass
    (operators/distrank.py:group_quantiles_exact): R-7 interpolation
    with bigint bracket positions (rational 1/4, 1/2, 3/4), so the
    quartile spread per return flag is bit-exact vs DuckDB's
    quantile_cont at any group size — without buffering a whole group
    in one task the way the built-in percentile aggregate does."""
    from dvmax_spark.operators.distrank import group_quantiles_exact

    li = load_table(spark, "lineitem", sf).select(
        "l_returnflag", "l_quantity", "l_orderkey", "l_linenumber"
    )
    return group_quantiles_exact(
        li,
        ["l_returnflag"],
        "l_quantity",
        [F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        [(1, 4), (1, 2), (3, 4)],
        ["p25", "p50", "p75"],
    ).select("l_returnflag", "n_rows", "p25", "p50", "p75")


@query(
    "p8_f7_flags_and_finiteness",
    ids=("P8", "F7", "F8", "P9", "F6"),
    sql="""
    SELECT c_custkey,
           CASE WHEN c_acctbal IS NULL OR isnan(c_acctbal) THEN 0 ELSE 1 END AS has_acctbal,
           CASE WHEN c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)
                 AND abs(c_acctbal) != 'infinity'::DOUBLE THEN 1 ELSE 0 END AS is_finite_bal,
           CASE WHEN c_acctbal > 5000 THEN 5000.0 ELSE c_acctbal END AS capped_bal,
           trim(BOTH '_' FROM regexp_replace(lower(c_mktsegment), '[^a-z0-9]+', '_', 'g')) AS segment_slug,
           coalesce(nullif(c_name, ''), 'unknown') AS name_resolved
    FROM customer ORDER BY c_custkey
    """,
)
def p8_f7_flags_and_finiteness(spark: SparkSession, sf: str) -> DataFrame:
    """Missing-value flags (P8, ref add_has_flags), finiteness check
    (F7), conditional cap (F8), slug normalization (P9), coalesce (F6)
    — the scalar helpers from functions/scalar.py under oracle."""
    c = load_table(spark, "customer", sf)
    return c.select(
        "c_custkey",
        has_flag("c_acctbal").alias("has_acctbal"),
        F.when(is_finite("c_acctbal"), 1).otherwise(0).alias("is_finite_bal"),
        clip_cap("c_acctbal", 5000.0).alias("capped_bal"),
        slug("c_mktsegment").alias("segment_slug"),
        F.coalesce(F.nullif("c_name", F.lit("")), F.lit("unknown")).alias("name_resolved"),
    ).orderBy("c_custkey")


@query(
    "v5_consistency_check",
    ids=("V5", "V7"),
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CASE WHEN least(l_quantity, 40.0) > l_quantity THEN 'flagged' ELSE 'ok' END
             AS validation_status,
           CASE WHEN l_extendedprice IS NULL OR l_discount IS NULL
                 OR isnan(l_extendedprice) OR isnan(l_discount)
                THEN 0 ELSE 1 END AS passes_nan_gate
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_quantity
    """,
)
def v5_consistency_check(spark: SparkSession, sf: str) -> DataFrame:
    """Internal-consistency invariant (V5: capped <= raw, ref
    _check_internal_consistency) + the NaN row gate (V7, ref macro
    NaN rejection) as expressions."""
    li = load_table(spark, "lineitem", sf)
    capped = F.least(F.col("l_quantity"), F.lit(40.0))
    status = F.when(capped > F.col("l_quantity"), "flagged").otherwise("ok")
    nan_gate = F.when(
        F.col("l_extendedprice").isNull()
        | F.col("l_discount").isNull()
        | F.isnan("l_extendedprice")
        | F.isnan("l_discount"),
        0,
    ).otherwise(1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        status.alias("validation_status"),
        nan_gate.alias("passes_nan_gate"),
    ).orderBy("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "a11_mergeschema_union",
    ids=("A11", "S2", "U2"),
    sql="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(NULL AS DOUBLE) AS l_extendedprice
    FROM lineitem WHERE l_linenumber = 1 AND l_orderkey < 2000
    UNION ALL
    SELECT l_orderkey, l_linenumber, CAST(NULL AS DOUBLE) AS l_quantity,
           l_extendedprice
    FROM lineitem WHERE l_linenumber = 2 AND l_orderkey < 2000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def a11_mergeschema_union(spark: SparkSession, sf: str) -> DataFrame:
    """Superset-schema union via parquet mergeSchema (A11, ref
    two-pass column-superset scan ticker_batch_runner.py:527-548):
    write two deterministic slices with different column sets, read
    them back with mergeSchema, and hash the aligned result against a
    plain SQL union — a real on-disk schema-evolution round trip, not
    just unionByName."""
    li = load_table(spark, "lineitem", sf)
    out = scratch_path(f"mergeschema_union_{sf.strip('/').replace('/', '_')}")
    a = li.where((F.col("l_linenumber") == 1) & (F.col("l_orderkey") < 2000)).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    b = li.where((F.col("l_linenumber") == 2) & (F.col("l_orderkey") < 2000)).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    a.write.mode("overwrite").option("compression", "zstd").parquet(out)
    b.write.mode("append").option("compression", "zstd").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "s2_parquet_sink_roundtrip",
    ids=("S2", "S3", "A11"),
    sql="""
    WITH a AS (SELECT l_quantity FROM lineitem WHERE l_orderkey % 7 = 0),
         b AS (SELECT l_extendedprice FROM lineitem WHERE l_orderkey % 7 = 1)
    SELECT (SELECT count(*) FROM a) + (SELECT count(*) FROM b) AS n_rows,
           (SELECT count(*) FROM a) AS n_qty,
           (SELECT count(*) FROM b) AS n_extra,
           CAST((SELECT sum(CAST(round(l_quantity * 100) AS BIGINT)) FROM a) AS BIGINT) AS sum_qty_c,
           CAST((SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM b) AS BIGINT) AS sum_price_c
    """,
)
def s2_parquet_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet sink (zstd) + atomic job-commit overwrite + mergeSchema
    read-back (S2/S3/A11): write two deterministic schema-evolving
    slices, read the union back, and checksum the values that went
    through the sink. The oracle computes the same checksums straight
    from the source table, so a hash match proves the sink round-trip
    is lossless (counts AND values, cents-exact integer sums — no
    float-summation-order drift)."""
    li = load_table(spark, "lineitem", sf)
    out = scratch_path(f"sink_roundtrip_{sf.strip('/').replace('/', '_')}")
    a = li.where(F.col("l_orderkey") % 7 == 0).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    b = (
        li.where(F.col("l_orderkey") % 7 == 1)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("extra", F.lit("v2"))
    )
    a.write.mode("overwrite").option("compression", "zstd").parquet(out)
    b.write.mode("append").option("compression", "zstd").parquet(out)
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.count("extra").alias("n_extra"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sum_qty_c"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_c"),
    )


@query(
    "s13_format_matrix",
    ids=("S13",),
    sql="""
    WITH c AS (
      SELECT count(*) AS n_rows,
             count(DISTINCT user_id) AS n_users,
             CAST(sum(CAST(event_id AS BIGINT)) AS BIGINT) AS id_sum,
             min(value) AS min_value, max(value) AS max_value
      FROM events
    )
    SELECT 'jsonl' AS fmt, n_rows, n_users, id_sum, min_value, max_value FROM c
    UNION ALL
    SELECT 'orc'   AS fmt, n_rows, n_users, id_sum, min_value, max_value FROM c
    ORDER BY fmt
    """,
)
def s13_format_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """S13: cross-format sink/scan matrix — the same events slice is
    written to ORC (zstd) and JSON-lines, read back through each
    format's scan, and checksummed per format. The oracle computes the
    checksums once from the parquet source and expects them VERBATIM
    for every format row, so a hash match proves both round trips are
    lossless (bigint sums exact; doubles via order-independent min/max
    — JSON doubles round-trip through shortest-repr text). Formats are
    engine built-ins: columnar ORC keeps predicate pushdown/column
    pruning; JSONL is the interchange path."""
    ev = load_table(spark, "events", sf).select("event_id", "user_id", "value")
    base = scratch_path(f"format_matrix_{sf.strip('/').replace('/', '_')}")
    orc_path, json_path = base + "_orc", base + "_jsonl"
    ev.write.mode("overwrite").option("compression", "zstd").orc(orc_path)
    ev.write.mode("overwrite").json(json_path)
    json_schema = "event_id bigint, user_id bigint, value double"

    def checks(df: DataFrame, fmt: str) -> DataFrame:
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.col("event_id").cast("bigint")).alias("id_sum"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    return (
        checks(spark.read.json(json_path, schema=json_schema), "jsonl")
        .unionByName(checks(spark.read.orc(orc_path), "orc"))
        .orderBy("fmt")
    )


@query(
    "s5_python_datasource",
    ids=("S5",),
    sql="""
    WITH gs AS (SELECT unnest(generate_series(0, 799)) AS item_id),
    src AS (
      SELECT item_id,
             ['AAA','BBB','CCC','DDD','EEE'][CAST(item_id % 5 AS INT) + 1] AS symbol,
             CAST((item_id * 37 + 11) % 100000 AS DOUBLE) / 100 AS px
      FROM gs
    )
    SELECT symbol, count(*) AS n,
           CAST(sum(CAST(round(px * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           min(px) AS min_px, max(px) AS max_px
    FROM src GROUP BY symbol ORDER BY symbol
    """,
)
def s5_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Python Data Source API connector (Spark 4, sources/pyds.py): the
    paged REST-style source as a REAL `spark.read.format(...)` — one
    input partition per page read by executors in parallel (ingest
    scales with the cluster, not the driver), with connector-level
    filter pushdown pruning page partitions at planning time. The page
    payload is deterministic integer arithmetic, so the oracle
    regenerates the entire feed in SQL and the aggregate checksums are
    cents-exact."""
    from dvmax_spark.sources.pyds import register

    register(spark)
    df = (
        spark.read.format("dvmax_paged_rest")
        .option("pages", 8)
        .option("page_size", 100)
        .load()
    )
    return (
        df.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("px") * 100).cast("bigint")).alias("total_cents"),
            F.min("px").alias("min_px"),
            F.max("px").alias("max_px"),
        )
        .orderBy("symbol")
    )


@query(
    "s5_pyds_stream",
    ids=("S5", "T1"),
    sql="""
    WITH gs AS (SELECT unnest(generate_series(0, 799)) AS item_id),
    src AS (
      SELECT item_id,
             ['AAA','BBB','CCC','DDD','EEE'][CAST(item_id % 5 AS INT) + 1] AS symbol,
             CAST((item_id * 37 + 11) % 100000 AS DOUBLE) / 100 AS px
      FROM gs
    )
    SELECT symbol, count(*) AS n,
           CAST(sum(CAST(round(px * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           min(px) AS min_px, max(px) AS max_px
    FROM src GROUP BY symbol ORDER BY symbol
    """,
)
def s5_pyds_stream(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING Python Data Source (Spark 4 DataSourceStreamReader,
    sources/pyds.py ParallelPagedRestStreamReader): the paged REST feed
    as a Structured Streaming source with partition-per-page
    micro-batches — executors fetch a batch's pages concurrently, and
    page-cursor offsets make checkpoint recovery exactly-once. The
    drained sink must reproduce the batch connector's feed EXACTLY, so
    the same cents-exact SQL oracle checks it (streaming-vs-batch
    equivalence, hash-checked)."""
    import time
    import uuid

    from dvmax_spark.sources.pyds import register

    register(spark)
    qn = f"pyds_q_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("dvmax_paged_rest")
        .option("pages", 8)
        .option("page_size", 100)
        .load()
    )
    import shutil

    ckpt = scratch_path(f"pyds_ckpt_{uuid.uuid4().hex[:8]}")
    q = (
        stream.writeStream.format("memory")
        .queryName(qn)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 120
        while spark.table(qn).count() < 800 and time.time() < deadline:
            if q.exception() is not None:  # fail fast with the real cause
                raise q.exception()
            time.sleep(0.5)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        spark.table(qn)
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("px") * 100).cast("bigint")).alias("total_cents"),
            F.min("px").alias("min_px"),
            F.max("px").alias("max_px"),
        )
        .orderBy("symbol")
    )


@query(
    "v_robust_outliers",
    ids=("V1", "A5", "V3"),
    sql="""
    WITH m AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_type, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, median(dev) AS mad FROM d GROUP BY event_type
    )
    SELECT d.event_type, count(*) AS n,
           round(min(md.mad), 4) AS mad,
           CAST(sum(CASE WHEN d.dev > 3 * 1.4826 * md.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def v_robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier gate (median/MAD, the validation-family member
    that mean/stddev z-scores lack): per event type, deviations beyond
    3·1.4826·MAD flag as outliers — a single wild value cannot drag
    the threshold the way it drags a stddev. Two grouped exact medians
    + one slim join; both engines interpolate the even-n median as
    (a+b)/2 so the float path is bit-identical end to end."""
    ev = load_table(spark, "events", sf).select("event_type", "value")
    m = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    d = ev.join(m, "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    md = d.groupBy("event_type").agg(F.median("dev").alias("mad"))
    out = (F.col("dev") > F.lit(3) * F.lit(1.4826) * F.col("mad")).cast("int")
    return (
        d.join(md, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.sum(out).alias("n_outliers"),
        )
        .orderBy("event_type")
    )
