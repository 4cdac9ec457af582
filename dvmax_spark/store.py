"""Incremental Parquet feature store (SURVEY.md §1.4, §7 step 5).

Re-expresses the reference's storage layer on Spark conventions:

  reference                                  | engine
  -------------------------------------------|---------------------------
  per-ticker files `{TICKER}.parquet`         | ONE table partitioned by
  (ticker_batch_runner.py:136-139, 166-167)   | a low-cardinality column:
                                              | the pipeline's dynamic
                                              | store by `as_of`, its
                                              | static store by `country`
                                              | (ticker_pipeline.py
                                              | dynamic_store/static_store)
  concat + unique(keep="last") upsert (:310)  | upsert_keep_last, then
                                              | one whole-table promote
  skip already-materialized dates (:433-443)  | before the build: the
                                              | pipeline drops stored
                                              | tickers per as_of
                                              | (ticker_pipeline.py
                                              | _mark_stored); at the
                                              | write: left-anti join
                                              | on keys
  superset-schema merge scan (:527-548)       | mergeSchema read +
                                              | align_and_union
  atomic temp-file replace (:352-361)         | fsops.promote: staging dir
                                              | + atomic pointer flip
  `_audit/` flagged-row text files (:396-401) | quarantine parquet table
  zstd + round(2)->Float32 compaction (:190)  | zstd + round_downcast at
                                              | the write edge only

A write makes one file per partition it touches, so the partition
column sets the file count: by `ticker` (the default, `keys[0]`), the
daily job wrote one one-row file per ticker; by `as_of` it writes one
file per run date. A raw high-cardinality key is the wrong partition
column at scale (bucket it, e.g. hash(ticker) % N, if per-key pruning
is needed). Partition values are read back with an inferred type: a
string key whose values all look numeric ("0005") reads back as `int`;
a data column keeps its type.

A store written under another partition column migrates on its first
write: the in-place writers (`append_new_keys`,
`overwrite_partition_values`, `delete_keys`) first rewrite the whole
table under the new column in one promote, then write in place as
usual; written straight into the old layout, Spark would refuse to read
the two partition column names side by side.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvmax_spark.fsops import (
    current_version_dir,
    list_versions,
    promote,
    recover_swap,
    swap_dir,
)
from dvmax_spark.operators.union_ops import align_and_union
from dvmax_spark.operators.upsert import upsert_keep_last


class FeatureStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: list[str],
        partition_col: str | None = None,
        compact_round: int | None = None,
        keep_snapshots: int = 0,
    ) -> None:
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.partition_col = partition_col or self.keys[0]
        self.compact_round = compact_round
        self.keep_snapshots = keep_snapshots

    # ------------------------------------------------------------ paths
    @property
    def main_path(self) -> str:
        return os.path.join(self.root, "main")

    @property
    def quarantine_path(self) -> str:
        return os.path.join(self.root, "_audit")

    # ------------------------------------------------------- snapshots
    def snapshots(self) -> list[int]:
        """Retained snapshot versions, oldest first: the version dirs
        ``main.v<n>`` below the one the table serves. Every promote
        keeps the newest ``keep_snapshots`` of them; the current
        version is always the highest, so an id is never reused."""
        cur = current_version_dir(self.main_path)
        vers = list_versions(self.main_path)
        served = next((n for n, d in vers.items() if d == cur), 0)
        return sorted(n for n in vers if n < served)

    def _snapshot_dir(self, version: int) -> str:
        have = self.snapshots()
        if version not in have:
            raise ValueError(f"snapshot v{version} not retained (have {have})")
        return f"{self.main_path}.v{version}"

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of retained snapshot ``version`` (the table
        state that version held when a later one displaced it)."""
        path = self._snapshot_dir(version)
        return self.spark.read.option("mergeSchema", "true").parquet(path)

    def restore(self, version: int) -> None:
        """Roll the main table back to snapshot ``version``: its dir is
        promoted by rename to the next version number, and the
        displaced current state stays as a snapshot, so restore is
        itself undoable."""
        swap_dir(self.main_path, self._snapshot_dir(version), self.keep_snapshots)

    # ------------------------------------------------------------ io
    def exists(self) -> bool:
        """Whether the table holds data: after healing a crashed
        promote, the path resolves and holds a parquet file. Runs no
        Spark job. A partitioned write of an empty frame leaves no
        parquet file (nothing to infer a schema from), so such a table
        reads as absent and the next write replaces it."""
        recover_swap(self.main_path)
        for _, dirs, files in os.walk(self.main_path):
            if any(f.endswith(".parquet") and not f.startswith(("_", ".")) for f in files):
                return True
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        return False

    def read(self) -> DataFrame:
        """Superset-schema scan (mergeSchema handles column evolution —
        the reference's two-pass column-superset merge, free on Spark).
        Heals a crashed swap first, so a reader after a writer crash
        sees the complete pre-promote table instead of path-not-found."""
        recover_swap(self.main_path)
        return self.spark.read.option("mergeSchema", "true").parquet(self.main_path)

    def _compact(self, df: DataFrame) -> DataFrame:
        """Storage-edge compaction (round->float only here, never in
        compute — SURVEY §7 Float32 hazard)."""
        if self.compact_round is None:
            return df
        out = df
        for name, dtype in df.dtypes:
            if dtype == "double" and name not in self.keys:
                out = out.withColumn(
                    name, F.round(F.col(name), self.compact_round).cast("float")
                )
        return out

    def _write(self, df: DataFrame, mode: str, path: str | None = None) -> None:
        """Write ``df`` partitioned by the partition column. The
        per-write option pins dynamic partition overwrite regardless of
        the session's default, so an ``overwrite`` of the live table
        replaces ONLY the partitions present in ``df`` (job-commit
        atomic per partition) and a vanilla session can't silently turn
        it into a whole-table static overwrite."""
        (
            self._compact(df)
            .repartition(self.partition_col)
            .write.mode(mode)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .option("compression", "zstd")
            .parquet(path or self.main_path)
        )

    def _promote(self, df: DataFrame) -> None:
        """Replace the whole table with ``df`` (fsops.promote: a unique
        staging dir, then one atomic pointer flip); the displaced
        version stays as a snapshot under ``keep_snapshots``."""
        promote(
            self.main_path,
            lambda staging: self._write(df, "overwrite", staging),
            keep=self.keep_snapshots,
        )

    def _migrate(self) -> None:
        """Rewrite the live table under ``partition_col`` (one whole-
        table promote) when it is partitioned by another column: its
        top-level ``name=value`` dirs name that column. The in-place
        writers call this first; written in place, they would put
        ``<partition_col>=`` dirs beside the old ones, and every later
        read would fail (CONFLICTING_PARTITION_COLUMN_NAMES). Costs one
        extra write, once per store."""
        own = self.partition_col + "="
        with os.scandir(self.main_path) as entries:
            foreign = any(
                "=" in e.name and not e.name.startswith(own) and e.is_dir()
                for e in entries
            )
        if foreign:
            self._promote(self.read())

    # ------------------------------------------------------------ ops
    def append_new_keys(self, updates: DataFrame) -> int:
        """Incremental append: only rows whose key tuple is absent
        (ref skip-existing anti-join, ticker_batch_runner.py:433-443).
        Returns rows appended."""
        if not self.exists():
            self._promote(updates)
            return updates.count()
        self._migrate()
        existing_keys = self.read().select(*self.keys)
        fresh = updates.join(existing_keys, self.keys, "left_anti")
        n = fresh.count()
        if n:
            self._write(fresh, "append")
        return n

    def upsert(
        self,
        updates: DataFrame,
        order_by: list[str] | str = (),
        rank_dominates: bool = True,
    ) -> None:
        """Keep-last merge: updates win per key (ref concat+unique
        keep='last'); ``rank_dominates=False`` makes ``order_by`` win
        outright instead (event-time semantics for out-of-order feeds).
        The merged table replaces the old one in one promote."""
        if self.exists():
            # the merge lazily reads main_path, so overwriting main in
            # place is unsafe even behind cache(): eviction or task
            # retry would recompute against already-deleted files. The
            # promote writes it complete into a staging dir first (the
            # reference's temp-file replace at table granularity; the
            # merge carries every partition, so a full rewrite costs
            # nothing extra over dynamic overwrite here).
            updates = upsert_keep_last(
                self.read(), updates, keys=self.keys, order_by=order_by,
                rank_dominates=rank_dominates,
            )
        self._promote(updates)

    def overwrite_partition_values(self, updates: DataFrame) -> None:
        """Partition-level replace (ref macro delete-year-then-append,
        macro_batch_runner.py:141-145): dynamic overwrite writes only the
        partitions carried by `updates`."""
        if self.exists():
            self._migrate()
            self._write(updates, "overwrite")
        else:
            self._promote(updates)

    def delete_keys(self, keys_df: DataFrame, purge_snapshots: bool = False) -> int:
        """Row-level delete (right-to-be-forgotten): remove every row
        whose key tuple appears in ``keys_df``, rewriting ONLY the
        partitions that contain matches (anti-join + dynamic partition
        overwrite) — untouched partitions keep their files byte-for-
        byte. Returns rows deleted.

        ``purge_snapshots=True`` also removes every non-current version
        dir: retained snapshots still CONTAIN the deleted rows (they
        are old table states), so a compliance deletion must erase them —
        the privacy/durability trade is the caller's call, which is why
        it is explicit."""
        keys_df = keys_df.select(*self.keys).distinct()
        if not self.exists():
            return 0
        self._migrate()
        current = self.read()
        hit_parts = (
            current.join(keys_df, self.keys, "left_semi")
            .select(self.partition_col)
            .distinct()
        )
        n = current.join(keys_df, self.keys, "left_semi").count()
        if n:
            touched = current.join(
                F.broadcast(hit_parts), self.partition_col, "left_semi"
            )
            # MATERIALIZE before rewriting: survivors lazily reads
            # main_path, and dynamic overwrite refuses (and must refuse)
            # to overwrite a path it is also reading from
            survivors = touched.join(keys_df, self.keys, "left_anti").localCheckpoint()
            # Partitions with NO survivors won't be touched by the
            # dynamic overwrite below — locate their directories FIRST
            # (the scan must run before the overwrite replaces files)
            # via input_file_name() on the rows being deleted, never by
            # formatting partition values into paths, so Hive-escaped
            # and NULL partition names resolve correctly.
            alive = F.broadcast(
                survivors.select(F.col(self.partition_col).alias("_alive_p")).distinct()
            )
            doomed_files = (
                # input_file_name() is only defined in the scan stage —
                # capture it BEFORE any join shuffles it away
                current.withColumn("_f", F.input_file_name())
                .join(keys_df, self.keys, "left_semi")
                .join(  # restrict to partitions where nothing survives;
                    # null-safe so a NULL partition matches its survivors
                    alive,
                    F.col(self.partition_col).eqNullSafe(F.col("_alive_p")),
                    "left_anti",
                )
                .select("_f")
                .distinct()
                .collect()
            )
            # Partitions that keep survivors: DYNAMIC partition
            # overwrite rewrites exactly the partitions present in
            # `survivors` under Spark's job-commit protocol — no window
            # in which surviving rows exist only in session memory (the
            # old rmtree-then-append protocol lost them on a crash
            # between the two steps), and Spark owns the partition
            # directory naming.
            if survivors.head(1):
                self._write(survivors, "overwrite")
            # Deleting the survivor-free dirs LAST is crash-safe: those
            # rows are all scheduled for deletion, so a partial rmtree
            # just leaves the delete resumable. input_file_name()
            # returns a percent-encoded file URI — unquote it, or
            # escaped partition dirs (':', '%', …) silently survive.
            from urllib.parse import unquote, urlparse

            doomed_dirs = {
                os.path.dirname(unquote(urlparse(row["_f"]).path))
                for row in doomed_files
            }
            for d in doomed_dirs:
                shutil.rmtree(d, ignore_errors=True)
        if purge_snapshots:
            cur = current_version_dir(self.main_path)
            for d in list_versions(self.main_path).values():
                if d != cur:
                    shutil.rmtree(d, ignore_errors=True)
        return n

    def compact(self, files_per_partition: int = 1, sort_within: list[str] | None = None) -> None:
        """Rewrite the store to ``files_per_partition`` files per
        partition, optionally sorted by ``sort_within`` inside each
        file — the small-file/row-group-pruning maintenance pass.

        Incremental appends accumulate one file per write per
        partition; at cluster scale thousands of small files per
        partition turn every scan into a metadata storm and defeat
        row-group min/max skipping. Compaction repartitions each
        partition to a bounded file count and (with ``sort_within``)
        clusters rows so predicate pushdown on the sort key can skip
        whole row groups. Commits through the same promote as upsert,
        so readers never observe a half-compacted table."""
        df = self.read()
        # (partition, salt) repartition: files_per_partition groups PER
        # partition value and |partitions| x files_per_partition writer
        # tasks. A bare repartition(files_per_partition, partition_col)
        # would hash whole partitions into files_per_partition tasks —
        # one file per partition regardless of the knob, and zero
        # parallelism at the default of 1 (same pitfall documented in
        # MinHashIndex.compact).
        salt = F.pmod(
            F.abs(F.hash(*[F.col(k) for k in self.keys])), F.lit(files_per_partition)
        )
        # explicit numPartitions: an unsized repartition is fair game
        # for AQE partition coalescing, which at small scale folds the
        # whole shuffle back into one task — and one file per partition
        n_parts = max(1, df.select(self.partition_col).distinct().count())
        df = df.repartition(
            n_parts * files_per_partition, F.col(self.partition_col), salt
        )
        if sort_within:
            df = df.sortWithinPartitions(self.partition_col, *sort_within)
        promote(
            self.main_path,
            lambda staging: (
                df.write.mode("overwrite")
                .partitionBy(self.partition_col)
                .option("compression", "zstd")
                .parquet(staging)
            ),
            keep=self.keep_snapshots,
        )

    def quarantine(self, rows: DataFrame) -> None:
        """Audit sink for dropped rows (ref `_write_flagged_audit`)."""
        rows.write.mode("append").option("compression", "zstd").parquet(
            self.quarantine_path
        )

    def merged_view(self, dfs: list[DataFrame] | None = None) -> DataFrame:
        """The reference's global merge (ticker_batch_runner.py:509-553):
        type-lattice union of heterogeneous frames, sorted layout."""
        frames = dfs if dfs else [self.read()]
        return align_and_union(frames).orderBy(*self.keys)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int = 8,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED managed table (hash-bucketed by
    ``bucket_cols``, optionally sorted within buckets).

    Bucketing is the co-location contract that removes the shuffle from
    every subsequent join/aggregate on the bucket key: two tables
    bucketed the same way join with ZERO Exchange in the plan
    (asserted in tests/test_plans.py::test_bucketed_join_no_exchange).
    At 100 TB this converts the nightly fact-fact join from the
    cluster's largest shuffle into a partition-local zip — you pay one
    clustered write, then every downstream join is exchange-free.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    files: int = 8,
    bits: int = 16,
) -> None:
    """Multi-column clustered write via a Z-order (Morton) curve — the
    OPTIMIZE ZORDER capability OSS Spark lacks: rows close in the
    interleaved-bit space of ``cols`` land in the same files, so parquet
    footer min/max stats stay narrow on EVERY participating column and
    a range predicate on any of them skips most files. (A plain sort
    clusters only its leading column.)

    Each column is rank-normalized to ``bits`` bits by EXACT
    equal-frequency bucketing (operators/distrank.with_exact_ntile —
    range shuffle + per-partition rank, scale- and distribution-free,
    NO unpartitioned window: the quantization parallelizes to any
    executor count), bits are interleaved into one Morton key, and the
    frame is range-partitioned + sorted on that key into ``files``
    files.
    """
    import pyspark.sql.functions as _F

    from dvmax_spark.operators.distrank import with_exact_ntile

    # The Morton key lives in one 64-bit long; Spark's shiftleft wraps
    # shift amounts mod 64, which would silently fold high-order bits of
    # later columns onto low-order bits of earlier ones — clamp the
    # per-column width so len(cols) * bits always fits in 63 bits.
    if not cols:
        raise ValueError("zorder_write needs at least one clustering column")
    bits = min(bits, 63 // len(cols))
    # one synthetic tie-break makes every per-column order total (ties
    # may land in either neighboring bucket — immaterial for layout)
    ranked = df.withColumn("_z_tb", _F.monotonically_increasing_id())
    rank_cols = []
    for c in cols:
        rc = f"_rk_{c}"
        ranked = with_exact_ntile(
            ranked,
            [_F.col(c).asc(), _F.col("_z_tb").asc()],
            1 << bits,
            out_col=rc,
        ).withColumn(rc, (_F.col(rc) - 1).cast("long"))
        rank_cols.append(rc)
    ranked = ranked.drop("_z_tb")
    morton = _F.lit(0).cast("long")
    for bit in range(bits):
        for j, rc in enumerate(rank_cols):
            shift = bit * len(rank_cols) + j
            morton = morton.bitwiseOR(
                _F.shiftleft(
                    _F.shiftright(_F.col(rc), bit).bitwiseAND(_F.lit(1)), shift
                )
            )
    (
        ranked.withColumn("_z", morton)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *rank_cols)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(path)
    )


def table_diff(current: DataFrame, previous: DataFrame, keys: list[str]) -> DataFrame:
    """CDC-style diff between two table states (e.g. the live table and
    a snapshot): one row per changed key with change_type in
    {inserted, deleted, updated}. Full-outer join on the keys, value
    comparison on the common non-key columns via a null-safe struct
    equality — one shuffle on the keys, no collect. The feed a
    downstream incremental consumer replays instead of re-reading the
    whole table."""
    val_cols = [
        c for c in current.columns if c in previous.columns and c not in keys
    ]
    cur = current.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("_cur")
    ).withColumn("_has_cur", F.lit(True))
    prev = previous.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("_prev")
    ).withColumn("_has_prev", F.lit(True))
    j = cur.join(prev, keys, "full_outer")
    change = (
        F.when(F.col("_has_prev").isNull(), F.lit("inserted"))
        .when(F.col("_has_cur").isNull(), F.lit("deleted"))
        .when(~F.col("_cur").eqNullSafe(F.col("_prev")), F.lit("updated"))
    )
    return (
        j.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )
