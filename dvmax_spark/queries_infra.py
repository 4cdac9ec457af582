"""Infrastructure-operator queries (SURVEY §2.1 S4-S12, §2.2 P12) —
rows-only: network sources are exercised through fixture transports
(per §2.12: "test their parsing with fixture files instead"), sinks
and caches through temp paths. Each returns a summary frame proving
the round-trip."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dvmax_spark.catalog import load_table
from dvmax_spark.fsops import scratch_path
from dvmax_spark.registry import query


@query(
    "s5_rest_ingest_fixture",
    ids=("S5", "S6", "S7", "S8", "S9"),
    sql="""
    SELECT 2::BIGINT AS n_price_rows, 203.75::DOUBLE AS close_sum,
           2::BIGINT AS n_wide_rows, 1::BIGINT AS n_cpi,
           3::BIGINT AS n_html_tickers
    """,
)
def s5_rest_ingest_fixture(spark: SparkSession, sf: str) -> DataFrame:
    """REST/JSON ingest adapters against a fixture transport (the
    reference's FMP/yfinance/WorldBank clients, base.py:16-114, with
    the network swapped for canned payloads): fetch -> typed frame ->
    long->wide indicator pivot; plus real HTML-table universe parsing
    (S8, ref populate_tickers.py:13-37) over a saved page. The
    fixtures are fully deterministic, so the expected aggregate is a
    golden row the oracle pins (AAPL/MSFT/BRK.B survive validation;
    the case-dup and ^GSPC are dropped)."""
    from dvmax_spark.sources.files import wide_pivot_indicators
    from dvmax_spark.sources.html_tables import universe_from_html
    from dvmax_spark.sources.http import HttpClient, RetryPolicy
    from dvmax_spark.sources.rest import fetch_json_source

    payload = {
        "historical": [
            {"date": "2024-01-01", "close": 101.5},
            {"date": "2024-01-02", "close": 102.25},
        ]
    }

    def transport(url, timeout):
        return 200, payload, None

    client = HttpClient(transport, RetryPolicy(max_retries=1))
    schema = T.StructType(
        [T.StructField("date", T.StringType()), T.StructField("close", T.DoubleType())]
    )
    prices = fetch_json_source(spark, client, "fixture://prices", schema, "historical")

    long_df = spark.createDataFrame(
        [("US", 2020, "GDP", 100.0), ("US", 2020, "CPI", 2.0), ("US", 2021, "GDP", 110.0)],
        "country string, year int, indicator string, value double",
    )
    wide = wide_pivot_indicators(long_df, ["country", "year"], indicators=["GDP", "CPI"])

    page = """
    <html><body>
    <table><tr><th>Rank</th><th>Name</th></tr>
           <tr><td>1</td><td>Not a universe table</td></tr></table>
    <table>
      <tr><th>Symbol</th><th>Security</th><th>Sector</th></tr>
      <tr><td><a href="/wiki/Apple">AAPL</a></td><td>Apple</td><td>IT</td></tr>
      <tr><td>MSFT</td><td>Microsoft</td><td>IT</td></tr>
      <tr><td>BRK.B</td><td>Berkshire</td><td>Financials</td></tr>
      <tr><td>msft</td><td>dup, case</td><td>IT</td></tr>
      <tr><td>^GSPC</td><td>index, invalid</td><td>-</td></tr>
    </table>
    </body></html>
    """
    tickers = universe_from_html(spark, page)

    return (
        prices.agg(
            F.count(F.lit(1)).alias("n_price_rows"),
            F.round(F.sum("close"), 2).alias("close_sum"),
        )
        .crossJoin(
            wide.agg(
                F.count(F.lit(1)).alias("n_wide_rows"), F.count("CPI").alias("n_cpi")
            )
        )
        .crossJoin(tickers.agg(F.count(F.lit(1)).alias("n_html_tickers")))
    )


@query(
    "s4_pipeline_infra",
    ids=("S4", "S10", "S11", "S12", "P12", "A12"),
    sql="""
    WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 11 = 3)
    SELECT 2::BIGINT AS n_universe,
           (SELECT count(*) FROM src) AS n_cached,
           (SELECT count(*) FROM src) AS n_cached_again,
           (SELECT count(*) FROM src WHERE l_discount > 0.08) AS n_quarantined,
           (SELECT count(*) FROM src) AS status_processed,
           11::BIGINT AS n_prefix_cols
    """,
)
def s4_pipeline_infra(spark: SparkSession, sf: str) -> DataFrame:
    """Pipeline infrastructure round-trip: ticker-universe text scan
    (S4), cached source reuse (S12), quarantine audit sink (S11),
    status JSON sidecar (S10), and prefix-pattern column projection
    (P12, ref startswith selection ticker_batch_runner.py:245).
    Deterministic lineitem slice (keyed filter, not limit) so the
    quarantine/cache counts have an exact DuckDB oracle; the universe
    and prefix counts are fixture constants the oracle pins."""
    from dvmax_spark.sources.files import read_ticker_universe

    tmp = scratch_path(f"infra_{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    # S4: universe text file
    with open(os.path.join(tmp, "tickers.txt"), "w") as f:
        f.write("aapl\nmsft\n msft \nBAD TICKER!\n")
    universe = read_ticker_universe(spark, os.path.join(tmp, "tickers.txt"))

    # S12: cache + reuse (two actions, one computation)
    li = load_table(spark, "lineitem", sf).where(F.col("l_orderkey") % 11 == 3).cache()
    n1, n2 = li.count(), li.count()

    # S11: quarantine sink
    quarantined = li.where(F.col("l_discount") > 0.08)
    qpath = os.path.join(tmp, "_audit")
    quarantined.write.mode("overwrite").parquet(qpath)
    n_quarantined = spark.read.parquet(qpath).count()

    # S10: status JSON sidecar
    status = {"processed": n1, "quarantined": n_quarantined}
    with open(os.path.join(tmp, "last_run.json"), "w") as f:
        json.dump(status, f)
    status_back = json.load(open(os.path.join(tmp, "last_run.json")))

    # P12: prefix projection over the lineitem columns
    l_cols = [c for c in li.columns if c.startswith("l_")]
    li.unpersist()

    return spark.createDataFrame(
        [
            (
                universe.count(),
                n1,
                n2,
                n_quarantined,
                status_back["processed"],
                len(l_cols),
            )
        ],
        "n_universe long, n_cached long, n_cached_again long, "
        "n_quarantined long, status_processed long, n_prefix_cols long",
    )


@query(
    "s_corrupt_json_recovery",
    ids=("S11", "V6"),
    sql="""
    SELECT 3::BIGINT AS n_valid, 2::BIGINT AS n_corrupt,
           1::BIGINT AS n_partial, 20.75::DOUBLE AS v_sum_valid,
           '1,4,5' AS valid_ids
    """,
)
def s_corrupt_json_recovery(spark: SparkSession, sf: str) -> DataFrame:
    """Malformed-input recovery at the scan edge: JSONL read in
    PERMISSIVE mode with an explicit ``_corrupt_record`` column — valid
    rows flow through, a type-mismatch line keeps its parseable fields
    (partial recovery) but is FLAGGED, a garbage line yields an
    all-null flagged row; flagged rows route to the quarantine sink
    (S11 contract: no data silently dropped, no job abort). The fixture
    is deterministic, so the oracle is the golden summary (repo
    convention for fixture-backed infra queries). At 100 TB this is the
    difference between one bad upstream file killing the nightly run
    and a quarantine table you triage in the morning."""
    fixture_dir = scratch_path(f"corrupt_{abs(hash(sf)) % 10**8}")
    os.makedirs(fixture_dir, exist_ok=True)
    with open(os.path.join(fixture_dir, "data.jsonl"), "w") as f:
        f.write('{"id": 1, "v": 10.5, "name": "ok"}\n')
        f.write('{"id": 2, "v": "not-a-number", "name": "bad-type"}\n')
        f.write("THIS IS NOT JSON\n")
        f.write('{"id": 4, "v": 7.25, "name": "fine"}\n')
        f.write('{"id": 5, "v": 3.0, "name": "also fine"}\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = spark.read.schema(schema).json(fixture_dir)
    flagged = F.col("_corrupt_record").isNotNull()
    quarantine_dir = os.path.join(fixture_dir, "_quarantine")
    raw.where(flagged).write.mode("overwrite").option("compression", "zstd").parquet(
        quarantine_dir
    )
    quarantined = spark.read.parquet(quarantine_dir)
    valid = raw.where(~flagged)
    return (
        valid.agg(
            F.count(F.lit(1)).alias("n_valid"),
            F.round(F.sum("v"), 2).alias("v_sum_valid"),
            F.concat_ws(",", F.sort_array(F.collect_list("id"))).alias("valid_ids"),
        )
        .crossJoin(
            quarantined.agg(
                F.count(F.lit(1)).alias("n_corrupt"),
                F.sum(F.col("id").isNotNull().cast("bigint")).alias("n_partial"),
            )
        )
        .select("n_valid", "n_corrupt", "n_partial", "v_sum_valid", "valid_ids")
    )
