"""[EXT] Custom stateful streaming operator: per-key sessionization
with arbitrary user state via ``applyInPandasWithState`` (SURVEY.md
§2.11 — the reference has no streaming engine; this is the Spark-native
escape hatch for stateful semantics `session_window` can't express,
e.g. carrying running aggregates/custom payloads per session).

Design for scale: state is one tiny fixed-width row per live key
(4 numeric fields), keyed by ``user_id`` — the state store shards by
the same hash partitioning as the shuffle, so 100 TB of events stream
through with state proportional to |active users|, not |events|.
Arrow batches move each key's rows into Python in one hop (no
row-at-a-time UDF). Session closure is *data-driven*: a per-key flush
sentinel (or any event past the gap) closes the open session, so
results are deterministic regardless of micro-batch boundaries —
the batch-equivalence contract the oracle checks.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from dvmax_spark.operators.distrank import with_exact_ntile
from dvmax_spark.fsops import scratch_path

FLUSH = "__flush__"

# NTZ (wall-clock) timestamps end-to-end: events.parquet is
# TIMESTAMP(NANOS, isAdjustedToUTC=false) → catalog loads it NTZ, and
# keeping NTZ through the state op makes results independent of the
# driver session's timezone (catalog.py:34 contract).
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampNTZType()),
        T.StructField("session_end", T.TimestampNTZType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# per-key state: (session_start_us, last_ts_us, n_events, total_value)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("tot", T.DoubleType()),
    ]
)

EVENTS_IN_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _ts_to_us(col: pd.Series) -> "pd.Series":
    return col.values.astype("datetime64[us]").astype("int64")


class _BatchState:
    """GroupState shim for batch frames (applyInPandasWithState is
    streaming-only): a batch pass is one micro-batch with no prior
    state, so the same core function serves both paths."""

    exists = False
    get = None

    def update(self, value):  # open session at end-of-batch: dropped,
        pass  # exactly like end-of-stream without a flush

    def remove(self):
        pass


def sessionize_stateful(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessions with custom per-key state.

    A session closes when the next same-user event arrives >= gap after
    the previous one, or when a ``FLUSH`` sentinel event arrives for
    that user (sentinels never join sessions). Emits one row per closed
    session: (user_id, session_start, session_end=last event ts,
    n_events, total_value). Same gap semantics as ``session_window``
    (break when ts >= last + gap), so a gaps-and-islands SQL oracle
    reproduces it exactly.

    Works on a streaming frame (state carries across micro-batches via
    the state store) and on a batch frame (single invocation per key).
    """
    gap_us = int(gap_seconds) * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        # VECTORIZED per (key, micro-batch): break detection is one
        # numpy comparison over the sorted batch, sessions aggregate
        # via a groupby — no per-event Python. At 100 TB the Python
        # work per task is O(sessions), not O(events).
        import numpy as np

        (user_id,) = key
        chunks = [p for p in pdf_iter if not p.empty]
        carried = state.get if state.exists else None
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values(["ts", "event_id"])
        ts = _ts_to_us(pdf["ts"])
        vals = pdf["value"].fillna(0.0).to_numpy()
        fl = (pdf["event_type"] == FLUSH).to_numpy()
        m = len(ts)

        brk = np.empty(m, dtype=bool)
        brk[1:] = (ts[1:] >= ts[:-1] + gap_us) | fl[:-1]
        brk[0] = carried is None or ts[0] >= carried[1] + gap_us
        sid = np.cumsum(brk)  # 0 == continuation of the carried session

        real = ~fl
        g = (
            pd.DataFrame({"sid": sid[real], "t": ts[real], "v": vals[real]})
            .groupby("sid", sort=True)
            .agg(start=("t", "first"), end=("t", "last"), n=("t", "size"), tot=("v", "sum"))
        )
        closed: list[tuple] = []
        if carried is not None:
            c_start, c_last, c_n, c_tot = carried
            if 0 in g.index:
                g.loc[0, ["start", "n", "tot"]] = (
                    c_start,
                    g.loc[0, "n"] + c_n,
                    g.loc[0, "tot"] + c_tot,
                )
            else:  # flush (or gap) closed the carried session with no new rows
                closed.append((user_id, c_start, c_last, c_n, c_tot))
        open_sid = int(sid[-1]) if real[-1] else None

        new_state = None
        for s, row in g.iterrows():
            rec = (user_id, int(row["start"]), int(row["end"]), int(row["n"]), float(row["tot"]))
            if s == open_sid:
                new_state = rec[1:]
            else:
                closed.append(rec)

        if new_state is None:
            if state.exists:
                state.remove()
        else:
            state.update(tuple(new_state))
        if closed:
            out = pd.DataFrame(
                closed,
                columns=["user_id", "start_us", "last_us", "n_events", "total_value"],
            )
            yield pd.DataFrame(
                {
                    "user_id": out["user_id"],
                    "session_start": pd.to_datetime(out["start_us"], unit="us"),
                    "session_end": pd.to_datetime(out["last_us"], unit="us"),
                    "n_events": out["n_events"],
                    "total_value": out["total_value"],
                }
            )

    if not events.isStreaming:
        def batch_fn(key, pdf):
            frames = list(fn(key, iter([pdf]), _BatchState()))
            if frames:
                return pd.concat(frames, ignore_index=True)
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "session_start": pd.Series(dtype="datetime64[us]"),
                    "session_end": pd.Series(dtype="datetime64[us]"),
                    "n_events": pd.Series(dtype="int64"),
                    "total_value": pd.Series(dtype="float64"),
                }
            )

        return events.groupBy("user_id").applyInPandas(batch_fn, SESSION_SCHEMA)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def with_flush_sentinels(events: DataFrame, margin_seconds: int = 86_400) -> DataFrame:
    """Append one ``FLUSH`` event per user at global-max ts + margin, so
    every open session closes deterministically at end-of-stream (the
    batch-mode / availableNow analog of an event-time timeout)."""
    bounds = events.groupBy("user_id").agg(F.max("ts").alias("mx"))
    gmax = events.agg(F.max("ts").alias("g"))
    flush = (
        bounds.crossJoin(F.broadcast(gmax))
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("g") + F.expr(f"INTERVAL {int(margin_seconds)} SECOND")).alias("ts"),
            "user_id",
            F.lit(FLUSH).alias("event_type"),
            F.lit(0.0).alias("value"),
        )
    )
    return events.select("event_id", "ts", "user_id", "event_type", "value").unionByName(flush)


def run_sessionize_stream(
    spark: SparkSession,
    events: DataFrame,
    gap_seconds: int = 1800,
    n_files: int = 4,
    base_dir: str | None = None,
) -> DataFrame:
    """Run sessionization as a REAL streaming query: stage the events
    into ``n_files`` time-ordered parquet files (+1 flush file), read
    them back with ``readStream`` one file per micro-batch (state
    carries across batches through the state store), availableNow
    trigger into a memory sink. Returns the materialized sessions.

    Files get strictly increasing mtimes so the file source's
    oldest-first ordering is deterministic.
    """
    run_id = uuid.uuid4().hex[:12]
    auto_dir = base_dir is None
    base = base_dir or scratch_path(f"stateful_{run_id}")
    in_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    ev = events.select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    # split the real events into n_files contiguous time ranges
    staged = with_exact_ntile(
        ev, [F.col("ts").asc(), F.col("event_id").asc()], n_files, "_slice"
    )
    pieces = []
    for i in range(1, n_files + 1):
        pieces.append(staged.where(F.col("_slice") == i).drop("_slice"))
    flush_only = with_flush_sentinels(ev).where(F.col("event_type") == FLUSH)
    pieces.append(flush_only)

    now = None
    for i, piece in enumerate(pieces):
        path = os.path.join(in_dir, f"slice_{i:03d}")
        piece.coalesce(1).write.mode("overwrite").parquet(path)
        # lift the parquet part file up into in_dir with a deterministic
        # name + mtime so the file source processes slices in order
        part = next(
            f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(path, part), dst)
        if now is None:
            now = os.stat(dst).st_mtime
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(path, ignore_errors=True)

    stream = (
        spark.readStream.schema(EVENTS_IN_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    sessions = sessionize_stateful(stream, gap_seconds=gap_seconds)
    qname = f"sessions_{run_id}"
    # The state store materializes one instance per shuffle partition
    # per micro-batch; a vanilla session's 200 partitions x n_files
    # batches is pure overhead at test scale (state is sized by live
    # keys, not partitions). Pin a modest count for THIS query's
    # checkpoint, restore the session conf afterwards. At cluster
    # scale you'd size this to executor count like any shuffle.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sessions.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_parts is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if auto_dir:
        # the memory sink holds the materialized rows after the query
        # terminates — the staging/checkpoint dirs are dead weight
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(qname)
