"""The main feature pipeline (reference `ticker_batch_runner.py` §3.1)
as a Spark job: where the reference loops (ticker, as_of) tasks
sequentially with a 1s sleep, this runs ONE distributed plan per as_of
date over every ticker at once, and the incremental store replaces
ledger files.

Pipeline stages (mirroring §3.1's lifecycle):
  plan grid -> min-history gate (V8) -> skip stored keys (J6)
  -> feature build (vectorized) -> validation routing (V6)
  -> incremental append (J6) -> static upsert (J5)
  -> merged table + OHE projection -> status JSON (S10)

As in the reference, which skips a stored (ticker, as_of) task before
it fetches anything, a date builds features only for the eligible
tickers the dynamic store lacks at that date, so a rerun's cost follows
the new keys, not the ticker universe; the append's anti-join still
guards every write.
"""

from __future__ import annotations

import datetime
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvmax_spark.features.assemble import build_feature_table
from dvmax_spark.features.static import encode_static
from dvmax_spark.store import FeatureStore
from dvmax_spark.validation.rules import split_by_status

START_DATE = datetime.date(2021, 12, 31)


def get_dates_between(
    start: datetime.date = START_DATE, end: datetime.date | None = None
) -> list[datetime.date]:
    """Annual as_of grid from Dec-31 anchors (ref get_dates_between,
    ticker_batch_runner.py:150-156). Dec-31 anchors never hit the
    Feb-29 replace() hazard (SURVEY §7 calendar note)."""
    end = end or datetime.date.today()
    dates, cur = [], start
    while cur <= end:
        dates.append(cur)
        cur = cur.replace(year=cur.year + 1)
    return dates


def dynamic_store(spark: SparkSession, root: str) -> FeatureStore:
    """The per-(ticker, as_of) feature table under pipeline root
    ``root``, partitioned by ``as_of``: a run appends one date, so it
    writes one file, and the rerun's anti-join lists one dir per date
    instead of one per ticker."""
    return FeatureStore(
        spark, os.path.join(root, "dynamic"), keys=["ticker", "as_of"],
        partition_col="as_of",
    )


def static_store(spark: SparkSession, root: str) -> FeatureStore:
    """The per-ticker profile table under pipeline root ``root``,
    partitioned by the raw ``country`` label that ``encode_static``
    keeps: a handful of values, so an upsert writes one file per
    country instead of one per ticker. As a partition value the label
    reads back with an inferred type: ``encode_static`` keeps "" as
    null (Spark would write it as the null partition anyway), and a set
    of labels that all look numeric ("840") reads back as ``int``."""
    return FeatureStore(
        spark, os.path.join(root, "static"), keys=["ticker"], partition_col="country"
    )


def has_enough_price_data(
    prices: DataFrame, as_of, required_days: int = 260, by: str = "ticker"
) -> DataFrame:
    """V8 min-history gate (ref ticker_batch_runner.py:502-506): keys
    with >= required_days price rows at/before as_of."""
    return (
        prices.where(F.col("date") <= F.lit(as_of).cast("date"))
        .groupBy(by)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= required_days)
        .select(by)
    )


def _mark_stored(
    eligible: DataFrame, store: FeatureStore, as_of
) -> tuple[DataFrame, int, int]:
    """The gate-``eligible`` tickers, cached, with ``_stored`` true for
    those ``store`` already holds at ``as_of`` and null for the rest,
    plus (eligible, stored) counted in one action over them: the
    reference's skip-existing check (ticker_batch_runner.py:433-443),
    made before the build. The lookup reads only ``ticker`` from the
    store, and the ``as_of`` partition filter prunes it to that date's
    directory. The store is read afresh for each date: an append may
    have promoted a new version of it since the last read."""
    stored = (
        store.read()
        .where(F.col("as_of") == F.lit(as_of).cast("date"))
        .select("ticker", F.lit(True).alias("_stored"))
    )
    marked = eligible.join(stored, "ticker", "left").cache()
    n_eligible, n_stored = marked.agg(F.count(F.lit(1)), F.count("_stored")).first()
    return marked, n_eligible, n_stored


def run_ticker_pipeline(
    spark: SparkSession,
    inputs: dict[str, DataFrame],
    store_root: str,
    dates: list[datetime.date] | None = None,
    required_days: int = 260,
    incremental: bool = True,
) -> dict:
    """Run the full pipeline; returns run stats (the reference's
    RunStats counters, ticker_batch_runner.py:84-97).

    With ``incremental=True`` and an existing dynamic store, each date
    builds features only for the gate-eligible tickers the store lacks
    at that ``as_of``; ``skipped`` counts the eligible keys found
    already stored, and a date with nothing left to build runs no
    feature build, validation, append or quarantine. ``flagged`` and
    ``dropped`` count only the rows this run built. ``append_new_keys``
    still anti-joins every write against the store, so a key a
    concurrent writer stored in between is not written twice.
    ``incremental=False`` rebuilds and upserts every eligible key.

    The static table depends only on ``inputs["profile"]``, so it is
    upserted once per run, after the dates, when any date passed the
    gate."""
    t0 = time.time()
    dates = dates or get_dates_between()
    dyn_store = dynamic_store(spark, store_root)
    stat_store = static_store(spark, store_root)
    # a store absent at the start holds no key this run could skip
    lookup = incremental and dyn_store.exists()

    stats = {
        "dates": len(dates), "rows_written": 0, "skipped": 0, "flagged": 0, "dropped": 0,
    }
    static, gate_passed = None, False
    for as_of in dates:
        eligible = has_enough_price_data(inputs["prices"], as_of, required_days)
        if lookup:
            marked, n_eligible, n_stored = _mark_stored(eligible, dyn_store, as_of)
            to_build = marked.where(F.col("_stored").isNull()).select("ticker")
            stats["skipped"] += n_stored
            passed, todo = n_eligible > 0, n_eligible > n_stored
        else:
            marked = to_build = eligible.cache()
            passed = todo = not marked.isEmpty()
        gate_passed = gate_passed or passed
        if not todo:
            marked.unpersist()
            continue
        gated = dict(inputs)
        gated["prices"] = inputs["prices"].join(F.broadcast(to_build), "ticker")
        dynamic, static = build_feature_table(gated, as_of)
        # the feature DAG is wide (one join per feature family): cache it
        # so the counts/split/write actions below execute it ONCE
        dynamic = dynamic.cache()
        counts = {
            r["validation_status"]: r["n"]
            for r in dynamic.groupBy("validation_status").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        accepted, quarantined = split_by_status(dynamic)
        stats["flagged"] += counts.get("flagged", 0)
        stats["dropped"] += counts.get("dropped", 0)
        if incremental:
            stats["rows_written"] += dyn_store.append_new_keys(accepted)
        else:
            dyn_store.upsert(accepted)
            stats["rows_written"] += accepted.count()
        if counts.get("dropped"):
            dyn_store.quarantine(quarantined)
        dynamic.unpersist()
        marked.unpersist()
    if gate_passed:
        stat_store.upsert(static if static is not None else encode_static(inputs["profile"]))

    # status sidecar (ref _write_status_files, ticker_batch_runner.py:556-566)
    stats["wall_s"] = round(time.time() - t0, 2)
    os.makedirs(os.path.join(store_root, "status"), exist_ok=True)
    with open(os.path.join(store_root, "status", "last_run.json"), "w") as f:
        json.dump(stats, f)
    return stats


def write_static_ohe_projection(
    spark: SparkSession, store_root: str
) -> DataFrame:
    """The OHE projection (ref write_static_ohe_projection,
    ticker_batch_runner.py:627-640): ticker + one-hot columns as float,
    nulls filled 0."""
    static = static_store(spark, store_root).read()
    ohe_cols = [
        c for c in static.columns if c.startswith("sector_") or c.startswith("country_")
    ]
    proj = static.select(
        "ticker", *[F.coalesce(F.col(c).cast("float"), F.lit(0.0)).alias(c) for c in ohe_cols]
    )
    out = os.path.join(store_root, "static_ohe")
    proj.write.mode("overwrite").option("compression", "zstd").parquet(out)
    return proj
