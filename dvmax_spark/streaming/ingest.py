"""Streaming ingest into the incremental FeatureStore.

The streaming counterpart of the batch pipelines: a Structured
Streaming source drains through ``foreachBatch`` into
:class:`~dvmax_spark.store.FeatureStore` with keep-last merge
semantics — the same upsert contract the batch path uses (reference
concat+unique keep='last', ticker_batch_runner.py:310), now fed by a
stream.

Delivery semantics: file/Kafka sources replay a failed micro-batch, so
the sink must be idempotent — and a keyed upsert IS idempotent
(re-merging the same rows is a no-op), which upgrades Structured
Streaming's at-least-once ``foreachBatch`` to effectively-once on
keys. Within a batch, rows are pre-deduped with ``dedup_keep_last`` so
a key appearing twice in one micro-batch resolves deterministically
before the store merge.

Scale notes (100 TB): per-batch work is one within-batch dedup
(hash-agg on the keys) plus the store merge, which rewrites only the
partitions the batch touches under dynamic partition overwrite for the
append path; for insert-only streams prefer ``mode='append'`` which
anti-joins against existing keys instead of merging. Checkpointing
lives with the stream (the ``checkpointLocation``), so a restarted
query resumes at the right offset and replays at most one batch —
absorbed by idempotence.

The sketch, CMS, DSIR-model and BM25-stats sinks merge monoid partials,
which a replay WOULD double-count: they share one marker-committed
merge (:func:`_marker_merge_query`) that commits the applied batch id
with the data.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dvmax_spark.fsops import promote, read_artifact_meta, recover_swap
from dvmax_spark.operators.upsert import dedup_keep_last
from dvmax_spark.store import FeatureStore


def _start(
    stream_df: DataFrame, sink, query_name: str, checkpoint_dir, available_now: bool
):
    """Start ``stream_df`` into the foreachBatch ``sink``; returns the
    StreamingQuery (the caller awaits termination)."""
    writer = stream_df.writeStream.queryName(query_name).foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _marker_skips(path: str, batch_id: int, sink: str) -> bool:
    """Replay guard of the marker-committed merge sinks. Heals a
    crashed promote of table ``path``, reads the committed batch id
    from its ``_meta.json`` and returns True iff ``batch_id`` is
    EXACTLY the committed one — the legal foreachBatch
    replay-of-the-newest-batch case. ``batch_id`` BELOW the marker
    raises instead of silently skipping: micro-batch counters restart
    at 0 with a FRESH checkpoint, and a ``>=`` test would then drop
    genuinely-new early batches with no error (mirrors
    stream_into_ivf's monotone guard). No marker yet -> apply."""
    recover_swap(path)
    try:
        marker = int(read_artifact_meta(path)["batch_id"])
    except (TypeError, KeyError, ValueError):
        return False
    if batch_id == marker:
        return True
    if batch_id < marker:
        raise ValueError(
            f"{sink}: micro-batch {batch_id} is older than the committed "
            f"marker {marker} — micro-batch counters restarted (a fresh "
            "checkpoint against an already-written store). Applying it "
            "would silently skip or double-merge batches. Use ONE "
            "checkpoint per store lifetime, or rebuild the store."
        )
    return False


def _marker_merge_query(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    aggs: list[Column],
    delta,
    *,
    sink: str,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
):
    """Start a marker-committed merge sink (sketches, CMS, DSIR model,
    BM25 stats): a table of monoid partials keyed on ``keys``. Per
    micro-batch: :func:`_marker_skips` on ``path``; ``delta(batch_df,
    batch_id)`` gives the batch's partials (None: nothing to merge);
    read-or-new, ``unionByName`` + ``groupBy(keys).agg(aggs)``; then
    one ``fsops.promote`` commits the merged table with the
    ``{"batch_id": n}`` marker inside it.

    Exactly-once: a monoid merge is not idempotent under foreachBatch's
    replay of the last batch, and marker and data commit in the same
    atomic pointer flip, so there is no applied-but-unmarked crash
    window (underscore files are invisible to Spark's parquet reader,
    like _SUCCESS). Contract: ONE checkpoint per table lifetime, hence
    ``checkpoint_dir`` is required."""
    if not checkpoint_dir:
        raise ValueError(
            f"{sink}: checkpoint_dir is required — the sink's "
            "exactly-once marker contract assumes a durable checkpoint "
            "(and pyspark fails opaquely on a null checkpointLocation)."
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if _marker_skips(path, batch_id, sink) or batch_df.isEmpty():
            return
        new = delta(batch_df, batch_id)
        if new is None:
            return
        if os.path.isdir(path):
            cur = batch_df.sparkSession.read.parquet(path)
            new = cur.unionByName(new).groupBy(*keys).agg(*aggs)
        write = new.write.option("compression", "zstd").parquet
        promote(path, write, {"batch_id": batch_id})

    return _start(stream_df, _sink, query_name, checkpoint_dir, available_now)


def stream_upsert_into_store(
    stream_df: DataFrame,
    store: FeatureStore,
    order_by: list[str] | str = (),
    checkpoint_dir: str | None = None,
    query_name: str = "store_ingest",
    mode: str = "upsert",
    available_now: bool = True,
):
    """Attach ``stream_df`` to ``store`` and start the query.

    mode='upsert'  -> keep-last merge per key (updates win, batch
                      order resolved by ``order_by``);
    mode='append'  -> insert-only (existing keys skipped) — cheaper:
                      no rewrite of untouched data.
    ``available_now=True`` drains everything currently available and
    stops (batch-like catch-up runs); pass False for a continuous
    query the caller manages.
    Returns the StreamingQuery (caller awaits termination).
    """
    if mode not in ("upsert", "append"):
        raise ValueError(f"unknown mode: {mode!r}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = dedup_keep_last(batch_df, store.keys, order_by)
        if mode == "upsert":
            # event-time wins across batches (rank_dominates=False):
            # micro-batch arrival order is NOT data order for file/Kafka
            # replays, so a late batch must not clobber a newer row —
            # this is also what makes replayed batches true no-ops.
            store.upsert(batch, order_by=order_by, rank_dominates=not order_by)
        else:
            store.append_new_keys(batch)

    return _start(stream_df, _sink, query_name, checkpoint_dir, available_now)


def stream_into_sketches(
    stream_df: DataFrame,
    path: str,
    group_col: str,
    ts_col: str,
    id_col: str,
    checkpoint_dir: str,
    query_name: str = "sketch_ingest",
    available_now: bool = True,
):
    """Maintain the persisted HLL sketch table (ext/sketches.py) from a
    stream: each micro-batch's per-(group, day) sketches monoid-merge
    (``hll_union_agg``) into the store — a streaming DISTINCT-COUNT
    materialized view whose readers (rollup_distinct_from_sketches)
    never rescan raw events. Exactly-once through the batch-id marker
    committed with the data (:func:`_marker_merge_query`); a crashed
    promote heals before the marker check, so no crash point can lose
    accumulated sketches.

    Contract: ONE checkpoint per store lifetime. Replaying the newest
    committed batch is a no-op; an OLDER batch id (fresh checkpoint
    against an existing store) raises instead of silently skipping or
    double-merging (see _marker_skips)."""
    from dvmax_spark.ext.sketches import daily_distinct_sketches

    return _marker_merge_query(
        stream_df,
        path,
        [group_col, "day"],
        [F.hll_union_agg("sketch").alias("sketch"), F.sum("n_rows").alias("n_rows")],
        lambda batch_df, _: daily_distinct_sketches(batch_df, group_col, ts_col, id_col),
        sink="stream_into_sketches",
        checkpoint_dir=checkpoint_dir,
        query_name=query_name,
        available_now=available_now,
    )


def stream_into_ivf(
    stream_df: DataFrame,
    index,
    checkpoint_dir: str,
    query_name: str = "ivf_ingest",
    available_now: bool = True,
):
    """Maintain a persisted :class:`~dvmax_spark.ext.similarity.IVFIndex`
    from an embedding stream: each micro-batch is assigned under the
    EXISTING quantizer and admitted via the index's batch-keyed append
    — a dynamic partition overwrite of ``ingest_batch=s<id>/bucket=<b>``,
    so foreachBatch's replay-of-the-last-batch rewrites its own
    partitions byte-stably. No marker file is needed: the write itself
    is idempotent (the streaming-dedup-ingest contract, not the
    sketch sink's merge-marker one, because appends don't read-modify-
    write prior state).

    The index must have been built with a batch key (one consistent
    partition-directory depth; ``IVFIndex.build(emb, batch_key="base")``).

    Guard (the join-MV counter trap): micro-batch ids restart at 0
    with a FRESH checkpoint, and a dynamic overwrite under a reused
    key would silently replace an earlier run's partitions with
    different vectors. Batch ids must therefore be monotone vs the
    stream keys already in the index — replaying the NEWEST committed
    batch is legal (that is exactly the crash-replay case), anything
    older raises instead of corrupting the lists.
    """

    def _max_stream_key(path: str) -> int | None:
        try:
            keys = [
                int(d.split("=s", 1)[1])
                for d in os.listdir(path)
                if d.startswith("ingest_batch=s")
            ]
            return max(keys) if keys else None
        except (OSError, ValueError):
            return None

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prev = _max_stream_key(index.path + "/lists")
        if prev is not None and batch_id < prev:
            raise ValueError(
                f"stream_into_ivf: micro-batch {batch_id} is older than the "
                f"newest committed stream batch s{prev} — a fresh checkpoint "
                "against an already-written index would overwrite committed "
                "list partitions. Use one checkpoint per index lifetime, or "
                "rebuild the index."
            )
        index.append(batch_df, batch_key=f"s{batch_id}")

    return _start(stream_df, _sink, query_name, checkpoint_dir, available_now)


def stream_into_cms(
    stream_df: DataFrame,
    path: str,
    key_col: str,
    *,
    checkpoint_dir: str,
    width: int = 64,
    depth: int = 4,
    query_name: str = "cms_ingest",
    available_now: bool = True,
):
    """Maintain a persisted Count-Min sketch table from a stream: each
    micro-batch's (row, col) cell counts SUM into the store — a
    streaming FREQUENCY materialized view next to the HLL distinct
    one (stream_into_sketches). Because CMS cells are plain sums, the
    streamed table is BYTE-IDENTICAL to a batch sketch of the same
    rows (merge-invariance) — t_stream_cms proves it against the
    batch path's exact SQL oracle.

    Exactly-once and the one-checkpoint contract are those of every
    marker-committed merge sink (:func:`_marker_merge_query`):
    ``checkpoint_dir`` is required, replaying the newest committed
    batch is a no-op and an older batch id raises (_marker_skips).
    """
    from dvmax_spark.ext.sketches import cms_table

    return _marker_merge_query(
        stream_df,
        path,
        ["row", "col"],
        [F.sum("counter").cast("long").alias("counter")],
        lambda batch_df, _: cms_table(batch_df, key_col, width, depth),
        sink="stream_into_cms",
        checkpoint_dir=checkpoint_dir,
        query_name=query_name,
        available_now=available_now,
    )


def stream_into_dsir_model(
    stream_df: DataFrame,
    path: str,
    target,
    checkpoint_dir: str,
    n: int = 2,
    buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "dsir_model_ingest",
    available_now: bool = True,
):
    """Maintain the DSIR importance model (ext/dsir.py's per-bucket
    ``(b, c_r, c_t)`` sufficient statistics) from a document stream:
    each micro-batch's bucket counts integer-sum-merge into the
    persisted model, so importance weights for NEW data are always
    scoreable against everything ingested so far without rescanning
    the corpus — the model is a monoid, which is the whole reason the
    bucket-count formulation scales. ``target`` is the boolean Column
    marking target-domain rows (evaluated per batch).

    Exactly-once through the batch-id marker committed with the model
    (:func:`_marker_merge_query`). Contract: ONE checkpoint per model
    lifetime — replay of the newest committed batch is a no-op, an
    older batch id raises (_marker_skips) instead of silently dropping
    data."""
    from dvmax_spark.ext.dsir import dsir_bucket_counts

    return _marker_merge_query(
        stream_df,
        path,
        ["b"],
        [F.sum("c_r").alias("c_r"), F.sum("c_t").alias("c_t")],
        lambda batch_df, _: dsir_bucket_counts(
            batch_df, target, n=n, buckets=buckets, id_col=id_col, text_col=text_col
        ),
        sink="stream_into_dsir_model",
        checkpoint_dir=checkpoint_dir,
        query_name=query_name,
        available_now=available_now,
    )


def stream_into_bm25(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_name: str = "bm25_ingest",
    available_now: bool = True,
):
    """Maintain a persisted BM25 inverted index from a document
    stream: per micro-batch the batch docs' postings
    ``(token, doc_id, dl, tf)`` land in a batch-keyed partition of
    ``path/postings`` (replay-idempotent dynamic partition overwrite —
    the dedup_ingest contract), and the corpus scalars
    ``(n_docs, len_sum)`` integer-merge into a marker-committed
    ``path/stats`` table (exactly-once, :func:`_marker_merge_query`).
    Any later query then BM25-scores against everything
    ingested so far via ext.retrieval.bm25_from_index — no document is
    ever rescanned, because tf/dl are per-doc (computable from the
    batch alone) and (n_docs, len_sum, df) are count monoids.

    Crash windows: postings commit BEFORE the stats marker, and the
    postings write is idempotent, so a replay after any crash point
    rewrites the identical partition and then applies (or skips) the
    stats merge — the pair can never double-count or diverge.

    Re-delivered documents: a doc id seen in an EARLIER batch already
    has postings and is counted in (n_docs, len_sum) — ingesting it
    again would double-count df/avgdl and skew every subsequent score.
    Incoming batches therefore anti-join a ``path/seen`` id ledger (the
    dedup_ingest pattern) and within-batch duplicate ids collapse to
    one row first. The ledger is batch-keyed (dynamic partition
    overwrite, replay-idempotent) and the anti-join EXCLUDES the
    current batch's own partition, so a replay after a mid-batch crash
    (ledger written, stats marker not) recomputes the identical fresh
    set instead of seeing its own ids and dropping the batch.

    Contract: ONE checkpoint per index lifetime — replay of the newest
    committed batch is a no-op, an older batch id raises
    (_marker_skips).
    """
    postings_dir = os.path.join(path, "postings")
    ledger_dir = os.path.join(path, "seen")

    def _delta(batch_df: DataFrame, batch_id: int) -> DataFrame | None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col])
        if os.path.isdir(ledger_dir):
            seen = (
                spark.read.parquet(ledger_dir)
                .where(F.col("ingest_batch") != F.lit(str(batch_id)))
                .select(id_col)
            )
            fresh = batch.join(seen, id_col, "left_anti")
        else:
            fresh = batch
        # recomputed on replay from the same batch data — deterministic,
        # so every per-batch partition rewrite below is byte-stable
        fresh = fresh.localCheckpoint()
        if fresh.isEmpty():  # all re-deliveries: nothing to merge
            return None
        toks = fresh.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), " ")).alias("dl"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        post = (
            toks.groupBy("token", id_col, "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("ingest_batch", F.lit(str(batch_id)))
        )
        (
            post.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .option("compression", "zstd")
            .parquet(postings_dir)
        )
        (
            fresh.select(id_col)
            .withColumn("ingest_batch", F.lit(str(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .option("compression", "zstd")
            .parquet(ledger_dir)
        )
        return fresh.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col(text_col), " "))).alias("len_sum"),
        )

    return _marker_merge_query(
        stream_df,
        os.path.join(path, "stats"),
        [],
        [F.sum("n_docs").alias("n_docs"), F.sum("len_sum").alias("len_sum")],
        _delta,
        sink="stream_into_bm25",
        checkpoint_dir=checkpoint_dir,
        query_name=query_name,
        available_now=available_now,
    )
