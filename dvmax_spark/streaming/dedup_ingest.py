"""Streaming near-duplicate ingest: a document stream drains through
``foreachBatch`` against a persisted :class:`MinHashIndex` — GREEDY
online dedup, the standard ingest contract: docs are (logically)
processed in id order, and a doc is displaced iff it is near-dup of an
ALREADY-ADMITTED doc (index member or smaller surviving batch peer).

This is deliberately NOT connected-components dedup (that is the batch
operator ``dedup_clusters``): greedy online semantics admit both
endpoints of a chain a~b, b~c when the middle was displaced — b's
near-dups are judged against SURVIVORS only. The within-batch verdict
is the exact sequential-greedy result (lexicographic MIS over the
candidate-pair graph) at any chain depth, from one driver-side pass
over the batch's sorted pairs (:func:`_greedy_verdict`). Because the
semantics equal sequential processing in id order, the outcome is
INDEPENDENT of how the stream is sliced into micro-batches (pinned by
test).

Delivery semantics: every processed id (admitted or displaced) is
recorded in a ``<index>_seen`` ledger; replayed micro-batches anti-join
it and become full no-ops — novel sink, dup sink, AND index stay
byte-stable across replays (pinned by test). Every per-batch write
(novel, dups, index, ledger) is a batch-keyed DYNAMIC partition
overwrite on an ``ingest_batch=<id>`` partition, so a batch replayed
after a mid-batch crash (some sinks written, ledger not yet) REWRITES
its own partitions with identical content instead of appending a
second copy — idempotence holds regardless of where the crash landed,
not just between batches. (Replay determinism: recomputation is pure,
and when the crashed attempt already admitted docs to the index, the
replay passes ``exclude_self`` to ``match_new`` so stored rows with
the batch's OWN doc ids are invisible to cross-matching — without
that, a corpus-displaced doc could pick up a smaller-id batch peer as
its ``dup_of`` and the rewritten dups partition would be
membership-equal but not byte-identical to a crash-free run. The
exclusion is id-based rather than batch-key-based because micro-batch
counters restart with a fresh checkpoint: a prior run's live
``ingest_batch=0`` partition must stay matchable.)

Scale notes (100 TB): per-batch work is ONE signature pass
(:meth:`MinHashIndex.stage_batch`, shared by the index match, the
within-batch pairs and the index append) + one band-key join against
the index + the ledger anti-join; the driver holds one partition of
pairs plus a verdict dict of at most the batch's docs. The ledger is
an id-only parquet table; at mega-scale swap the per-batch distinct
scan for a bloom filter rebuilt per epoch. Docs shorter than the
shingle width can't minhash-match: they are admitted directly and
excluded from matching AND from the band table (an all-null signature
would pollute one shared empty band key per band).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvmax_spark.ext.dedup import MinHashIndex, lsh_pairs_from_signatures


def _signatures(staged: DataFrame, id_col: str) -> DataFrame:
    """A :meth:`MinHashIndex.stage_batch` table's ``(id_col, signature)``
    rows: every doc has exactly one band-0 row."""
    return staged.where(F.col("band") == 0).select(id_col, "signature")


def _greedy_verdict(pairs: DataFrame, verdict: dict) -> dict:
    """Sequential greedy over candidate ``pairs`` (id_a < id_b), adding
    to ``verdict`` (displaced doc -> ``dup_of``, seeded with the
    cross-displaced docs). Pairs stream in ``(id_b, id_a)`` order, so
    every doc below ``id_b`` is final when ``id_b`` comes up, and its
    first peer that survived displaces it: exact at any chain depth,
    with one partition of pairs on the driver at a time."""
    ordered = pairs.select("id_a", "id_b").orderBy("id_b", "id_a")
    for a, b in ordered.toLocalIterator():
        if b not in verdict and a not in verdict:
            verdict[b] = a
    return verdict


def _verdict_table(spark, verdict: dict, schema: str) -> DataFrame:
    """``verdict`` as a ``(doc id, dup_of)`` table, built from pandas so
    that a non-empty one is a local relation that joins broadcast."""
    pdf = pd.DataFrame({"id": list(verdict), "dup_of": list(verdict.values())})
    return spark.createDataFrame(pdf, schema)


def stream_dedup_ingest(
    stream_docs: DataFrame,
    index: MinHashIndex,
    out_dir: str,
    dup_dir: str,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
    query_name: str = "dedup_ingest",
    available_now: bool = True,
):
    """Attach a document stream to ``index`` and start the query.

    Per micro-batch: exact-id dedup within the batch → ledger replay
    guard → one signature pass (``stage_batch``) → cross-displacement
    vs the index (admitted corpus always wins) → within-batch
    sequential greedy on the driver → one ``(doc_id, dup_of)`` verdict
    table; novel docs append to ``out_dir`` AND (if matchable) the
    index; displaced docs append to ``dup_dir`` with the smallest
    admitted doc they duplicate. Returns the StreamingQuery (caller
    awaits termination).
    """
    idc = index.id_col
    ledger = index.path + "_seen"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # heal a crashed promote BEFORE the isdir guard below — without
        # this, an index whose pointer was lost mid-promote looks
        # absent: cross-matching is skipped and a fresh one-batch index
        # is written beside the stranded history
        from dvmax_spark.fsops import recover_swap

        recover_swap(index.path)
        batch = batch_df.dropDuplicates([idc])
        if os.path.isdir(ledger):
            seen = index.spark.read.parquet(ledger).select(idc).distinct()
            fresh = batch.join(seen, idc, "left_anti")
        else:
            fresh = batch
        fresh = fresh.localCheckpoint()
        if fresh.isEmpty():
            return
        matchable = fresh.where(
            F.size(F.split(F.col(index.text_col), " ")) >= index.shingle_n
        )
        staged = index.stage_batch(matchable)
        # cross-displacement: the admitted corpus always outranks the batch
        if os.path.isdir(index.path):
            cross = index.match_new(
                matchable, threshold=threshold, exclude_self=True, staged_banded=staged
            )
            verdict = dict(cross.groupBy("new_id").agg(F.min("old_id")).collect())
        else:
            verdict = {}
        # within-batch: sequential greedy over the contenders' pairs
        # (cross-displaced docs are not admitted, so they cannot
        # displace their batch peers)
        idt = fresh.schema[idc].dataType.simpleString()
        schema = f"{idc} {idt}, dup_of {idt}"
        contenders = _signatures(staged, idc).join(
            _verdict_table(index.spark, verdict, schema), idc, "left_anti"
        )
        pairs = lsh_pairs_from_signatures(
            contenders, index.num_hashes, index.bands, threshold, id_col=idc
        )
        verdict = _verdict_table(index.spark, _greedy_verdict(pairs, verdict), schema)
        dups = fresh.join(verdict, idc, "inner")
        novel = fresh.join(verdict, idc, "left_anti")

        def _batch_write(df: DataFrame, path: str) -> None:
            (
                df.withColumn("ingest_batch", F.lit(str(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .option("compression", "zstd")
                .parquet(path)
            )

        _batch_write(dups, dup_dir)
        _batch_write(novel, out_dir)
        index.append(  # shorts stay out of the band table
            matchable.join(verdict, idc, "left_anti"),
            batch_key=batch_id,
            staged_banded=staged.join(verdict, idc, "left_anti"),
        )
        _batch_write(fresh.select(idc), ledger)

    writer = stream_docs.writeStream.foreachBatch(_sink).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_into_components(
    stream_docs: DataFrame,
    index: MinHashIndex,
    labels_path: str,
    threshold: float = 0.1,
    checkpoint_dir: str | None = None,
    query_name: str = "components_ingest",
    available_now: bool = True,
):
    """Streaming EXACT near-dup clustering: maintain the min-id
    connected-component LABEL table of the full LSH pair graph as
    documents arrive — the exact-semantics sibling of
    :func:`stream_dedup_ingest`'s greedy-online dedup. Per micro-batch:

      1. the batch's signatures are computed once
         (:meth:`MinHashIndex.stage_batch`) and feed steps 2, 3 and 5,
      2. cross edges vs the admitted corpus via the banded index
         (``match_new`` — corpus signatures never recompute),
      3. within-batch edges via ``lsh_pairs_from_signatures``,
      4. the persisted labels merge both through
         :func:`~dvmax_spark.ext.dedup.incremental_components` — only
         components the batch touches recompute (star compression,
         labelled by ``connected_components``),
      5. the batch's signatures append to the index (batch-keyed).

    The maintained labels equal clustering the ENTIRE corpus-so-far
    from scratch at ANY batch slicing: every pair (a, b) of the
    full-corpus LSH output appears exactly when the later of a, b
    arrives (cross) or both share a batch (within), and CC is
    insensitive to edge arrival order. That slice-invariance is what
    gives the streamed clustering the same exact recursive-CTE oracle
    as the batch x_dedup_clusters (t_stream_components runs it).

    Exactly-once WITHOUT markers: every step is naturally idempotent —
    the index append is a batch-keyed dynamic partition overwrite, and
    RE-MERGING already-merged edges into a CC labeling is a no-op — so
    crash replays and even fresh-checkpoint re-drains converge to the
    same labels. ``max_bucket`` is deliberately None on both pair
    paths: bucket caps are census-dependent, and exactness here trades
    the cap for the oracle (cap-aware streaming stays with
    stream_dedup_ingest).
    """
    from dvmax_spark.ext.dedup import incremental_components
    from dvmax_spark.fsops import promote, recover_swap

    idc = index.id_col

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        recover_swap(index.path)
        recover_swap(labels_path)
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([idc])
        matchable = batch.where(
            F.size(F.split(F.col(index.text_col), " ")) >= index.shingle_n
        ).localCheckpoint()
        if matchable.isEmpty():
            return
        staged = index.stage_batch(matchable)
        if os.path.isdir(index.path):
            cross = index.match_new(
                matchable, threshold, max_bucket=None, exclude_self=True,
                staged_banded=staged,
            ).select(F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b"))
        else:
            cross = None
        within = lsh_pairs_from_signatures(
            _signatures(staged, idc), index.num_hashes, index.bands, threshold,
            max_bucket=None, id_col=idc,
        ).select("id_a", "id_b")
        edges = within if cross is None else within.unionAll(cross)
        edges = edges.localCheckpoint()
        if os.path.isdir(labels_path):
            labels0 = spark.read.parquet(labels_path)
        else:
            idt = matchable.schema[idc].dataType.simpleString()
            labels0 = spark.createDataFrame([], f"id {idt}, label {idt}")
        if not edges.isEmpty():
            labels1 = incremental_components(labels0, edges)
            promote(labels_path, labels1.write.option("compression", "zstd").parquet)
        index.append(matchable, batch_key=f"s{batch_id}", staged_banded=staged)

    writer = stream_docs.writeStream.foreachBatch(_sink).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
