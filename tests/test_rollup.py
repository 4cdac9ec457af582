"""Continuous-rollup maintenance (plans/rollup.py): delta-merge must
converge to the full recompute regardless of how the stream of raw
batches is sliced, and refreshes must be atomic (no staging residue)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.plans.rollup import ContinuousRollup, aggregate_delta


def _norm(rows):
    return {
        (r.grp, r.day, r.n, round(r.sum_value, 6), r.min_value, r.max_value)
        for r in rows
    }


def test_delta_merge_converges_to_full_recompute(spark, tmp_path):
    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    full = _norm(aggregate_delta(ev, "event_type", "ts", "value").collect())

    for n_batches, sub in ((1, "one"), (4, "four")):
        roll = ContinuousRollup(spark, str(tmp_path / sub), "event_type", "ts", "value")
        sliced = ev.withColumn("_b", F.ntile(n_batches).over(Window.orderBy("ts", "event_id")))
        for b in range(1, n_batches + 1):
            roll.refresh(sliced.where(F.col("_b") == b).drop("_b"))
        assert _norm(roll.read_partials().collect()) == full


def test_refresh_leaves_no_staging_residue(spark, tmp_path):
    ev = load_table(spark, "events", "/root/testdata/sf0.001").limit(100)
    path = str(tmp_path / "roll")
    roll = ContinuousRollup(spark, path, "event_type", "ts", "value")
    roll.refresh(ev)
    roll.refresh(ev)  # second refresh exercises the replace path
    # no staging/uuid residue: exactly the pointer and the version dir
    # it serves (the displaced version was disposed by refresh)
    from dvmax_spark.fsops import current_version_dir

    cur = os.path.basename(current_version_dir(path))
    siblings = [p for p in os.listdir(tmp_path) if p.startswith("roll")]
    assert sorted(siblings) == sorted(["roll", cur]), siblings
    # doubling the same batch doubles counts/sums, keeps min/max
    doubled = roll.read().collect()
    single = aggregate_delta(ev, "event_type", "ts", "value").collect()
    s = {(r.grp, r.day): r for r in single}
    for r in doubled:
        base = s[(r.grp, r.day)]
        assert r.n == 2 * base.n
        assert abs(r.sum_value - 2 * base.sum_value) < 1e-9
        assert r.min_value == base.min_value and r.max_value == base.max_value


def test_streaming_rollup_matches_full_recompute(spark, tmp_path):
    from dvmax_spark.plans.rollup import stream_into_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type", "value"
    )
    in_dir = tmp_path / "in"
    sliced = ev.withColumn("_b", F.ntile(3).over(Window.orderBy("ts", "event_id")))
    for b in (1, 2, 3):
        sliced.where(F.col("_b") == b).drop("_b").coalesce(1).write.mode(
            "append"
        ).parquet(str(in_dir))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp_ntz, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    roll = ContinuousRollup(spark, str(tmp_path / "roll"), "event_type", "ts", "value")
    q = stream_into_rollup(stream, roll, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    full = _norm(aggregate_delta(ev, "event_type", "ts", "value").collect())
    assert _norm(roll.read_partials().collect()) == full


def test_streaming_rollup_replayed_batch_is_skipped(spark, tmp_path):
    """Exactly-once: the applied batch id commits ATOMICALLY with the
    rollup state (_meta.json swaps inside the table dir), so a
    replayed batch — even after a crash right at the swap — is skipped
    instead of double-counted by the non-idempotent partial merge."""
    from dvmax_spark.plans.rollup import stream_into_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type", "value"
    )
    in_dir = tmp_path / "in2"
    ev.coalesce(1).write.mode("overwrite").parquet(str(in_dir))
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"

    roll = ContinuousRollup(spark, str(tmp_path / "roll2"), "event_type", "ts", "value")
    for tag in ("a", "b"):  # second run replays batch 0 (fresh checkpoint)
        stream = spark.readStream.schema(schema).parquet(str(in_dir))
        q = stream_into_rollup(
            stream, roll, checkpoint_dir=str(tmp_path / f"ckpt2_{tag}"),
            query_name=f"rollup_replay_{tag}",
        )
        q.awaitTermination()
    assert roll.read_meta() == {"batch_id": 0}
    full = _norm(aggregate_delta(ev, "event_type", "ts", "value").collect())
    assert _norm(roll.read_partials().collect()) == full  # counted ONCE


def test_stream_into_rollup_exactly_once_and_replay_noop(spark, tmp_path):
    """Streamed partial-merge must equal the batch recompute, and a
    second drain on a FRESH checkpoint (ids restart at 0) must be a
    no-op via the _meta monotone skip — the merge is not idempotent,
    so this is the exactly-once contract."""
    import os

    from dvmax_spark.plans.rollup import ContinuousRollup, stream_into_rollup

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "event_type",
        "value",
    )
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    staged = ev.withColumn("_b", F.ntile(3).over(Window.orderBy("ts", "event_id")))
    now = None
    for i in (1, 2, 3):
        p = str(tmp_path / f"s{i}")
        staged.where(F.col("_b") == i).drop("_b").coalesce(1).write.parquet(p)
        part = next(f for f in os.listdir(p) if f.endswith(".parquet"))
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(p, part), dst)
        if now is None:
            now = os.stat(dst).st_mtime
        os.utime(dst, (now + i, now + i))

    roll = ContinuousRollup(spark, str(tmp_path / "roll"), "event_type", "ts", "value")

    def _drain(ck):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        q = stream_into_rollup(stream, roll, checkpoint_dir=str(tmp_path / ck))
        q.awaitTermination(120)

    _drain("ck1")
    got = {
        (r.grp, r.day): (r.n, round(r.sum_value, 2)) for r in roll.read().collect()
    }
    want = {
        (r.grp, r.day): (r.n, round(r.sum_value, 2))
        for r in ev.groupBy(
            F.col("event_type").alias("grp"), F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want
    _drain("ck_fresh")  # fresh checkpoint: everything re-delivered as 0..2
    got2 = {
        (r.grp, r.day): (r.n, round(r.sum_value, 2)) for r in roll.read().collect()
    }
    assert got2 == want


def test_drop_removes_promoted_rollup(spark, tmp_path):
    """``drop`` must delete a promoted table (a symlink to its version
    dir), or a rollup re-created at the same path merges into the old
    partials and double-counts."""
    ev = load_table(spark, "events", "/root/testdata/sf0.001").limit(100)
    path = str(tmp_path / "roll")
    roll = ContinuousRollup(spark, path, "event_type", "ts", "value")
    roll.refresh(ev)
    roll.drop()
    assert not roll.exists() and os.listdir(tmp_path) == []
    roll.refresh(ev)
    assert _norm(roll.read_partials().collect()) == _norm(
        aggregate_delta(ev, "event_type", "ts", "value").collect()
    )
