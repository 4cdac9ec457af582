"""Incrementally-maintained JOIN materialization (delta-exact IVM).

The join counterpart of plans/rollup.py's continuous aggregate: a
persisted materialization of ``M = A JOIN B ON key`` kept current as
both inputs grow, using the classic delta rule

    dM_n = dA_n JOIN B_{<n}  UNION  A_{<n} JOIN dB_n  UNION  dA_n JOIN dB_n

so each refresh does delta-sized join work instead of re-joining two
full tables. At 100 TB this is the difference between a nightly
fact-fact re-join (two full shuffles of history) and three joins whose
LEFT sides are one day of data.

Storage/crash contract (same story as streaming/dedup_ingest.py, which
the round-3 review hardened): A, B and M are parquet tables partitioned
by ``_batch``, every refresh writes ONLY its own ``_batch=<n>``
partitions via dynamic partition overwrite, and the "previous state"
each delta joins against is *partition-pruned to batches < n* — so a
replayed refresh (crash at ANY point: after A's write, after B's,
mid-M) recomputes the exact same dM_n from the exact same prior state
and overwrites its own partitions idempotently. No multi-table atomic
swap is needed because no refresh ever rewrites another batch's
partitions.

Retraction mode (``mult_col``): deltas carry a signed multiplicity
(+1 insert, −1 delete; an update is the pair), joins multiply
multiplicities (bag algebra), and M stays an append-only log — the
standard counting algorithm for incremental view maintenance with
deletes (Gupta/Mumick IVM survey; what Differential Dataflow and
Materialize generalize). Linear aggregates read the log directly as
``sum(mult)`` / ``sum(mult * x)``; point-in-time row views net out
via :meth:`read_net`.

Scale notes: the two stored-side joins shuffle the delta and the
stored table on the join key (AQE skew handling applies); at whale
scale, write A and B through ``store.write_bucketed`` on the join key
instead — the delta joins then leave the stored side's layout
untouched (bucket-pruned, no stored-side shuffle). M is a delta LOG
(union of its batch partitions), so reading it is a plain
partition-parallel scan and no refresh ever rewrites M history.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from dvmax_spark.operators.distrank import with_exact_ntile
from dvmax_spark.fsops import scratch_path

BATCH_COL = "_batch"


class IncrementalJoinMV:
    """Persisted incrementally-maintained inner-join materialization.

    ``key`` is the equi-join column (present in both inputs); non-key
    columns of A and B must be disjoint (rename before refresh —
    explicit beats silent suffixing).
    """

    def __init__(
        self, spark: SparkSession, path: str, key: str, mult_col: str | None = None
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.mult_col = mult_col
        self.a_path = os.path.join(path, "A")
        self.b_path = os.path.join(path, "B")
        self.m_path = os.path.join(path, "M")

    # ---------------------------------------------------------- reads

    def _read_prior(self, table_path: str, batch_id: int) -> DataFrame | None:
        """Stored state strictly BEFORE ``batch_id`` (partition-pruned;
        a replayed batch's own crashed partitions are excluded by
        construction, which is what makes replay exact)."""
        if not os.path.isdir(table_path):
            return None
        # a batch whose delta was EMPTY writes only _SUCCESS (dynamic
        # overwrite with zero partitions) — a dir with no _batch=
        # subdirs has no schema to infer and no rows to contribute
        if not any(d.startswith(f"{BATCH_COL}=") for d in os.listdir(table_path)):
            return None
        df = self.spark.read.parquet(table_path)
        return df.where(F.col(BATCH_COL) < batch_id).drop(BATCH_COL)

    def _max_batch(self) -> int | None:
        """Highest committed batch id, from M's partition directory
        names (driver-side listing of one directory level — no scan).
        Heals a crashed promote first — without the recovery a table
        pointer lost mid-promote would make M look empty and the next
        refresh would silently restart the MV beside the stranded
        history."""
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.m_path)
        if not os.path.isdir(self.m_path):
            return None
        ids = [
            int(d.split("=", 1)[1])
            for d in os.listdir(self.m_path)
            if d.startswith(f"{BATCH_COL}=")
        ]
        return max(ids) if ids else None

    def read(self) -> DataFrame:
        """The materialized join — a plain scan over M's delta log."""
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.m_path)
        return self.spark.read.parquet(self.m_path).drop(BATCH_COL)

    def read_a(self) -> DataFrame:
        return self.spark.read.parquet(self.a_path).drop(BATCH_COL)

    def read_b(self) -> DataFrame:
        return self.spark.read.parquet(self.b_path).drop(BATCH_COL)

    # -------------------------------------------------------- refresh

    def _write_batch(self, df: DataFrame, table_path: str, batch_id: int) -> None:
        (
            df.withColumn(BATCH_COL, F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BATCH_COL)
            .parquet(table_path)
        )

    def refresh(self, batch_id: int, delta_a: DataFrame, delta_b: DataFrame) -> None:
        """Fold one (dA, dB) batch in. The two delta writes run
        concurrently, then M; every write touches only
        ``_batch=<batch_id>`` partitions, so rerunning after a crash
        at any point is byte-stable."""
        # Monotone-batch contract: ids must not regress. A driver that
        # restarts numbering (e.g. a streaming job on a FRESH checkpoint
        # re-delivering batch 0 onto an existing MV) would otherwise
        # see committed state as "future" (not < batch_id), exclude it
        # from the prior-state joins and double-add rows — the same
        # counter-replay trap the round-4 review caught in dedup_ingest.
        # Replaying the MOST RECENT batch (crash recovery) is legal.
        for side, d in (("delta_a", delta_a), ("delta_b", delta_b)):
            if BATCH_COL in d.columns:
                raise ValueError(
                    f"{side} carries reserved column {BATCH_COL!r} - rename "
                    "it; refresh() would silently clobber it as the "
                    "partition key"
                )
        committed = self._max_batch()
        if committed is not None and batch_id < committed:
            raise ValueError(
                f"batch_id {batch_id} regresses behind committed batch "
                f"{committed}; resume numbering from {committed} (replay) "
                f"or {committed + 1} (new data)"
            )
        a_old = self._read_prior(self.a_path, batch_id)
        b_old = self._read_prior(self.b_path, batch_id)
        # A's and B's delta writes are independent jobs on disjoint
        # directories, so they run CONCURRENTLY (guide §2.6: submit
        # independent actions from driver threads and let the second
        # job back-fill the first's task tail). Crash-replay is
        # unchanged: whichever subset of {A, B, M} a crashed refresh
        # managed to write, the replay overwrites its own _batch=<n>
        # partitions idempotently and prior state is pruned to < n,
        # so no ordering between the two delta writes was ever load-
        # bearing.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(self._write_batch, delta_a, self.a_path, batch_id)
            fb = pool.submit(self._write_batch, delta_b, self.b_path, batch_id)
            fa.result()
            fb.result()
        parts = [self._join(delta_a, delta_b)]
        if b_old is not None:
            parts.append(self._join(delta_a, b_old))
        if a_old is not None:
            parts.append(self._join(a_old, delta_b))
        dm = parts[0]
        for p in parts[1:]:
            dm = dm.unionByName(p)
        self._write_batch(dm, self.m_path, batch_id)

    def _join(self, left: DataFrame, right: DataFrame) -> DataFrame:
        """Inner join of two delta fragments. In retraction mode the
        multiplicities MULTIPLY (bag-algebra join: a −1 retraction
        meeting a +1 stored row yields a −1 M row, which is exactly
        how deletes/updates propagate through the join without ever
        rewriting M history)."""
        if self.mult_col is None:
            return left.join(right, self.key, "inner")
        m = self.mult_col
        lm = left.withColumnRenamed(m, "_lm")
        rm = right.withColumnRenamed(m, "_rm")
        return (
            lm.join(rm, self.key, "inner")
            .withColumn(m, F.col("_lm") * F.col("_rm"))
            .drop("_lm", "_rm")
        )

    def read_net(self) -> DataFrame:
        """Retraction-mode view: net multiplicity per distinct row,
        dropping rows that cancelled to zero. Linear aggregates
        (count, sum) do NOT need this — they can run directly over the
        M log as sum(mult) / sum(mult * x), which is the 100 TB path:
        no full-log groupBy, just a partial-agg scan."""
        if self.mult_col is None:
            raise ValueError("read_net requires mult_col")
        others = [c for c in self.read().columns if c != self.mult_col]
        return (
            self.read()
            .groupBy(*others)
            .agg(F.sum(self.mult_col).alias(self.mult_col))
            .where(F.col(self.mult_col) != 0)
        )


    # ------------------------------------------------------- compact

    def compact(self, keep_last: int = 1) -> None:
        """Fold M's historical batch partitions into one ``_batch=0``
        base partition, keeping the newest ``keep_last`` batches as-is
        (they may still be replayed by a recovering driver — folding
        an in-flight batch would let its replay double-write next to
        the base). In retraction mode the fold also NETS multiplicities
        and drops exact cancellations, so a long correction history
        shrinks instead of accumulating +1/−1 pairs.

        Crash contract: the folded table commits through
        ``fsops.promote`` (one atomic pointer flip), so a crash at any
        point leaves either the old M or the folded one serving. A/B
        logs are left untouched — they are the delta inputs' system of
        record and prior-state pruning still works against the
        renumbered base (0 < any live batch id).
        """
        from dvmax_spark.fsops import promote

        if keep_last < 1:
            raise ValueError(
                "keep_last must be >= 1: the newest batch may still be "
                "replayed by a recovering driver and must not be folded"
            )
        committed = self._max_batch()
        if committed is None:
            return
        cutoff = committed - keep_last + 1  # fold batches < cutoff
        if cutoff <= 1:
            return
        df = self.spark.read.parquet(self.m_path)
        hist = df.where(F.col(BATCH_COL) < cutoff).drop(BATCH_COL)
        live = df.where(F.col(BATCH_COL) >= cutoff)
        if self.mult_col is not None:
            others = [c for c in hist.columns if c != self.mult_col]
            hist = (
                hist.groupBy(*others)
                .agg(F.sum(self.mult_col).alias(self.mult_col))
                .where(F.col(self.mult_col) != 0)
            )
        folded = hist.withColumn(BATCH_COL, F.lit(0)).unionByName(live)
        promote(self.m_path, folded.write.partitionBy(BATCH_COL).parquet)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def stream_into_join_mv(
    tagged_stream: DataFrame,
    mv: IncrementalJoinMV,
    side_col: str = "side",
    query_name: str = "join_mv_stream",
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Streaming IVM: keep an :class:`IncrementalJoinMV` current from
    ONE tagged stream (rows carry ``side_col`` = 'A' or 'B' plus that
    side's columns; the other side's columns null) — the union-tag
    trick that lets a single foreachBatch see both deltas of the same
    micro-batch atomically, instead of coordinating two queries.

    Exactly-once: the MV batch id IS the streaming batch id, so a
    micro-batch replayed after a crash overwrites its own `_batch`
    partitions (dynamic overwrite) and prunes them from prior state —
    byte-stable replay, inherited from refresh(). The monotone-batch
    guard makes the one unsafe case LOUD instead of silent: restarting
    on a FRESH checkpoint re-delivers the whole source under restarted
    ids, which for an additive (dedup-free) MV can only double-count —
    refresh() raises, and the operator's contract is "new checkpoint →
    new MV path" (drop + rebuild), not id-based content dedup (the MV
    has no unique row key to dedup on; dedup_ingest's id-based replay
    exclusion does not transfer).
    """
    a_cols = [c for c in tagged_stream.columns if c.startswith("a_")]
    b_cols = [c for c in tagged_stream.columns if c.startswith("b_")]
    key = mv.key

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # sides keep their a_/b_ prefixes: the MV contract wants
        # disjoint non-key columns, and the prefixes ARE the namespace
        da = batch_df.where(F.col(side_col) == "A").select(key, *a_cols)
        db = batch_df.where(F.col(side_col) == "B").select(key, *b_cols)
        mv.refresh(int(batch_id), da, db)

    writer = tagged_stream.writeStream.foreachBatch(_sink).queryName(query_name)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_join_mv_stream(
    spark: SparkSession,
    tagged: DataFrame,
    key: str,
    n_files: int = 3,
    base_dir: str | None = None,
    mult_col: str | None = None,
) -> IncrementalJoinMV:
    """Run the streaming IVM end to end as a REAL multi-micro-batch
    query (the t_stateful_session staging recipe): slice the tagged
    batch frame into ``n_files`` parquet files with strictly increasing
    mtimes, read them back one file per trigger, drain through
    :func:`stream_into_join_mv` with availableNow, return the MV.
    Slices are a deterministic ntile over the full column order, so
    re-runs stage byte-identical streams."""
    import uuid

    from pyspark.sql import Window

    run_id = uuid.uuid4().hex[:12]
    base = base_dir or scratch_path(f"joinmv_stream_{run_id}")
    in_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    staged = with_exact_ntile(
        tagged, [F.col(c).asc() for c in tagged.columns], n_files, "_slice"
    )
    now = None
    for i in range(1, n_files + 1):
        path = os.path.join(in_dir, f"slice_{i:03d}")
        staged.where(F.col("_slice") == i).drop("_slice").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        part = next(
            f
            for f in os.listdir(path)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"{i:03d}.parquet")
        os.replace(os.path.join(path, part), dst)
        if now is None:
            now = os.stat(dst).st_mtime
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(path, ignore_errors=True)

    stream = (
        spark.readStream.schema(tagged.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    mv = IncrementalJoinMV(spark, os.path.join(base, "mv"), key, mult_col=mult_col)
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_into_join_mv(
            stream, mv, checkpoint_dir=ckpt, query_name=f"join_mv_{run_id}"
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return mv
