"""Hypertable-style continuous aggregate: an incrementally-maintained
time rollup (the TimescaleDB "continuous aggregate" / materialized
rollup pattern, re-expressed Spark-first).

The rollup table holds MERGEABLE partial aggregates per (group, day):
count / sum / min / max. Maintaining it on new data aggregates only the
DELTA and merges it with the stored partials — the same algebra Spark's
partial aggregation uses map-side, lifted across batch boundaries. At
100 TB this is the difference between touching yesterday's raw events
(delta-sized work) and rescanning a year of history per refresh.
Derived measures (avg = sum/n) are computed at read time, so they stay
exact under merging. Every refresh commits through ``fsops.promote``
(one atomic pointer flip), so readers never see a half-written rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MERGE_AGGS = (
    ("n", F.sum, "n"),
    ("sum_value", F.sum, "sum_value"),
    ("min_value", F.min, "min_value"),
    ("max_value", F.max, "max_value"),
)


def aggregate_delta(batch: DataFrame, group_col: str, ts_col: str, val_col: str) -> DataFrame:
    """New raw rows -> partial-aggregate rows, same schema as the
    rollup table. One map-side-combined shuffle over the DELTA only."""
    return batch.groupBy(
        F.col(group_col).alias("grp"), F.to_date(F.col(ts_col)).alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(val_col)).alias("sum_value"),
        F.min(F.col(val_col)).alias("min_value"),
        F.max(F.col(val_col)).alias("max_value"),
    )


def merge_partials(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two partial-aggregate tables keyed on (grp, day): count
    and sum merge by +, min/max by min/max — the commutative-monoid
    merge, shuffled on the rollup key (tiny: |groups| x |days| rows)."""
    return (
        existing.unionByName(delta)
        .groupBy("grp", "day")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


class ContinuousRollup:
    """Persisted incrementally-maintained rollup over a parquet path."""

    def __init__(self, spark: SparkSession, path: str, group_col: str, ts_col: str, val_col: str):
        self.spark = spark
        self.path = path
        self.group_col, self.ts_col, self.val_col = group_col, ts_col, val_col

    def exists(self) -> bool:
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def refresh(self, batch: DataFrame, meta: dict | None = None) -> None:
        """Fold a new raw batch into the stored rollup: aggregate the
        delta, merge with stored partials, atomic-replace the table.

        ``meta`` (e.g. a streaming batch id) is committed as
        ``_meta.json`` by the same promote as the data — a marker kept
        outside the table dir would leave a crash window between swap
        and marker write in which a replayed batch double-counts (the
        partial-aggregate merge is not idempotent). Underscore-prefixed
        files are invisible to Spark's parquet reader (like _SUCCESS).
        """
        from dvmax_spark.fsops import promote

        delta = aggregate_delta(batch, self.group_col, self.ts_col, self.val_col)
        merged = merge_partials(self.read_partials(), delta) if self.exists() else delta
        promote(self.path, merged.write.parquet, meta)

    def read_meta(self) -> dict | None:
        """The ``meta`` dict committed with the live table state, or
        None (never refreshed with meta / table absent)."""
        from dvmax_spark.fsops import read_artifact_meta, recover_swap

        recover_swap(self.path)
        return read_artifact_meta(self.path)

    def read_partials(self) -> DataFrame:
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)
        return self.spark.read.parquet(self.path)

    def read(self) -> DataFrame:
        """User-facing view: derived measures computed from partials at
        read time (exact under any merge history)."""
        p = self.read_partials()
        return p.select(
            "grp",
            "day",
            "n",
            "sum_value",
            "min_value",
            "max_value",
            (F.col("sum_value") / F.col("n")).alias("avg_value"),
        )

    def drop(self) -> None:
        from dvmax_spark.fsops import remove_table

        remove_table(self.path)


def stream_into_rollup(
    stream: DataFrame,
    roll: "ContinuousRollup",
    checkpoint_dir: str | None = None,
    query_name: str = "rollup_stream",
    available_now: bool = True,
):
    """Streaming continuous aggregate: keep a :class:`ContinuousRollup`
    current from a stream via foreachBatch. The partial-aggregate
    merge is NOT idempotent, so exactly-once comes from the ``_meta``
    marker that commits in the same promote as the data: a
    replayed micro-batch (crash between refresh and checkpoint
    advance) sees its own id already applied and skips. Batch ids from
    a FRESH checkpoint restart at 0 and are skipped by the same
    monotone check — the contract is "new checkpoint → new rollup
    path", made explicit here rather than silently double-merged."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        applied = (roll.read_meta() or {}).get("batch_id")
        if applied is not None and batch_id <= applied:
            return  # already merged (replay) — merging again would double-count
        roll.refresh(batch_df, meta={"batch_id": batch_id})

    writer = stream.writeStream.foreachBatch(_sink).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
