"""FeatureStore snapshot/time-travel semantics and the parquet
row-group clustering evidence behind compact(sort_within=...).

Snapshots are the table's own displaced version directories
(``main.v<n>``) that fsops.promote keeps (zero data copy — the promote
already paid the rewrite), so time travel and rollback are O(1)
metadata operations at any table size."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from dvmax_spark.store import FeatureStore


def _mk(spark, rows):
    return spark.createDataFrame(rows, "ticker string, as_of int, px double")


@pytest.fixture()
def store(spark, tmp_path):
    return FeatureStore(
        spark, str(tmp_path / "st"), keys=["ticker", "as_of"],
        partition_col="ticker", keep_snapshots=2,
    )


def test_upsert_retains_time_travel_snapshots(spark, store):
    store.upsert(_mk(spark, [("A", 1, 10.0)]))          # initial: no swap
    store.upsert(_mk(spark, [("A", 1, 11.0)]))          # snapshot v1 = state 1
    store.upsert(_mk(spark, [("A", 2, 12.0)]))          # snapshot v2 = state 2
    assert store.snapshots() == [1, 2]
    v1 = store.read_version(1).collect()
    assert [(r.as_of, r.px) for r in v1] == [(1, 10.0)]
    v2 = store.read_version(2).collect()
    assert [(r.as_of, r.px) for r in v2] == [(1, 11.0)]
    now = {(r.as_of): r.px for r in store.read().collect()}
    assert now == {1: 11.0, 2: 12.0}


def test_snapshot_retention_prunes_oldest(spark, store):
    for i in range(5):
        store.upsert(_mk(spark, [("A", 1, float(i))]))
    # 4 swaps happened; only the newest keep_snapshots=2 survive
    assert store.snapshots() == [3, 4]
    with pytest.raises(ValueError):
        store.read_version(1)


def test_restore_rolls_back_and_is_undoable(spark, store):
    store.upsert(_mk(spark, [("A", 1, 10.0)]))
    store.upsert(_mk(spark, [("A", 1, 99.0)]))          # bad write; v1 = good
    store.restore(1)
    assert [r.px for r in store.read().collect()] == [10.0]
    # the displaced (bad) state became a snapshot itself -> undoable
    newest = store.snapshots()[-1]
    assert [r.px for r in store.read_version(newest).collect()] == [99.0]


def test_compact_sort_within_clusters_row_groups(spark, tmp_path):
    """sort_within must produce parquet files whose row-group min/max
    ranges on the sort key are disjoint — the stats layout that lets a
    range predicate skip whole row groups at scan time."""
    st = FeatureStore(
        spark, str(tmp_path / "c"), keys=["ticker", "as_of"],
        partition_col="ticker",
    )
    rows = [("A", i * 37 % 1000, float(i)) for i in range(1000)]  # unsorted
    st.upsert(_mk(spark, rows))
    st.compact(files_per_partition=1, sort_within=["as_of"])
    part = os.path.join(st.main_path, "ticker=A")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert files
    for f in files:
        md = pq.ParquetFile(os.path.join(part, f)).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "as_of"
        )
        ranges = [
            (md.row_group(g).column(idx).statistics.min,
             md.row_group(g).column(idx).statistics.max)
            for g in range(md.num_row_groups)
        ]
        for (lo, hi), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi <= lo2, f"overlapping row groups: {ranges}"
        # the clustering property itself (holds even when the file is a
        # single row group): the sort key is non-decreasing in the file
        vals = pq.read_table(os.path.join(part, f), columns=["as_of"])[
            "as_of"
        ].to_pylist()
        assert vals == sorted(vals)


def test_snapshot_version_ids_never_reused(spark, store):
    """After restore drains the snapshot set, the next snapshot must
    take a FRESH version id — read_version(n) of a pruned id errors
    rather than silently returning a different historical state."""
    store.upsert(_mk(spark, [("A", 1, 10.0)]))
    store.upsert(_mk(spark, [("A", 1, 20.0)]))        # v1 = px 10
    store.restore(1)                                   # promotes v1; bad state -> v2
    assert store.snapshots() == [2]
    store.upsert(_mk(spark, [("A", 1, 30.0)]))        # must become v3, not v1
    assert store.snapshots() == [2, 3]
    assert [r.px for r in store.read_version(3).collect()] == [10.0]
    with pytest.raises(ValueError):
        store.read_version(1)


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    """Z-order clustering: after zorder_write on (x, y), parquet
    footer min/max ranges must be NARROW on BOTH columns in most files
    (a plain sort clusters only its leading column — its trailing
    column spans the full domain in every file)."""
    import random

    from dvmax_spark.store import zorder_write

    rng = random.Random(7)
    rows = [(rng.randrange(10_000), rng.randrange(10_000)) for _ in range(20_000)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = str(tmp_path / "zorder")
    zorder_write(df, out, ["x", "y"], files=16)

    def spans(path, col):
        import pyarrow.parquet as pq

        res = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
            res.append(hi - lo)
        return res

    x_spans, y_spans = spans(out, "x"), spans(out, "y")
    assert len(x_spans) >= 8
    # median file covers well under half the 10k domain on BOTH axes —
    # the property that lets a range filter on EITHER column skip files
    med = lambda v: sorted(v)[len(v) // 2]  # noqa: E731
    assert med(x_spans) < 5_000, x_spans
    assert med(y_spans) < 5_000, y_spans
    # sanity: data round-trips
    assert spark.read.parquet(out).count() == 20_000


def test_delete_keys_rewrites_only_touched_partitions(spark, tmp_path):
    """Right-to-be-forgotten delete: matched rows disappear, untouched
    partitions keep their files byte-for-byte, fully-deleted partitions
    vanish, and purge_snapshots erases the history that still contains
    the deleted rows."""
    st = FeatureStore(
        spark, str(tmp_path / "gdpr"), keys=["ticker", "as_of"],
        partition_col="ticker", keep_snapshots=3,
    )
    st.upsert(_mk(spark, [("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0), ("C", 1, 4.0)]))
    st.upsert(_mk(spark, [("A", 1, 1.5)]))  # creates a snapshot holding A rows
    b_dir = os.path.join(st.main_path, "ticker=B")
    before = {f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)}

    keys = spark.createDataFrame(
        [("A", 1), ("C", 1)], "ticker string, as_of int"
    )
    n = st.delete_keys(keys, purge_snapshots=True)
    assert n == 2
    left = {(r.ticker, r.as_of) for r in st.read().collect()}
    assert left == {("A", 2), ("B", 1)}
    # C's partition (fully deleted) is gone; B's files untouched
    assert not os.path.isdir(os.path.join(st.main_path, "ticker=C"))
    after = {f: os.path.getmtime(os.path.join(b_dir, f)) for f in os.listdir(b_dir)}
    assert after == before
    # snapshots (which still contained the deleted rows) were purged
    assert st.snapshots() == []


def test_table_diff_against_snapshot(spark, store):
    from dvmax_spark.store import table_diff

    store.upsert(_mk(spark, [("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0)]))
    store.upsert(_mk(spark, [("A", 1, 9.0), ("C", 1, 4.0)]))  # snapshot v1
    diff = {
        (r.ticker, r.as_of): r.change_type
        for r in table_diff(
            store.read(), store.read_version(1), ["ticker", "as_of"]
        ).collect()
    }
    assert diff == {("A", 1): "updated", ("C", 1): "inserted"}
    # reverse direction flips insert/delete
    rev = {
        (r.ticker, r.as_of): r.change_type
        for r in table_diff(
            store.read_version(1), store.read(), ["ticker", "as_of"]
        ).collect()
    }
    assert rev == {("A", 1): "updated", ("C", 1): "deleted"}


def test_delete_keys_handles_escaped_and_weird_partition_values(spark, tmp_path):
    """Partition values that Spark Hive-escapes in directory names
    (':', space, '%') must still delete correctly: the doomed-dir scan
    resolves real file parents via input_file_name() instead of
    formatting values into paths, so escaped names can't be missed
    (missing them = a GDPR delete that silently leaves rows on disk)."""
    st = FeatureStore(
        spark, str(tmp_path / "esc"), keys=["ticker", "as_of"],
        partition_col="ticker",
    )
    weird = ["A:B", "C D", "E%F", "plain"]
    st.upsert(_mk(spark, [(t, 1, 1.0) for t in weird] + [("A:B", 2, 2.0)]))
    keys = spark.createDataFrame(
        [("A:B", 1), ("C D", 1), ("E%F", 1)], "ticker string, as_of int"
    )
    n = st.delete_keys(keys)
    assert n == 3
    left = {(r.ticker, r.as_of) for r in st.read().collect()}
    # A:B keeps its surviving row; fully-deleted partitions are gone
    assert left == {("A:B", 2), ("plain", 1)}


def test_compact_files_per_partition_knob_takes_effect(spark, tmp_path):
    """compact(files_per_partition=k) must yield ~k data files per
    partition value: the (partition, salt) repartition — a bare
    repartition(k, partition_col) hashes whole partitions into k tasks
    and silently produces ONE file per partition regardless of k."""
    st = FeatureStore(
        spark, str(tmp_path / "cmp"), keys=["ticker", "as_of"],
        partition_col="ticker",
    )
    rows = [("A", i, float(i)) for i in range(400)] + [
        ("B", i, float(i)) for i in range(400)
    ]
    st.upsert(_mk(spark, rows))
    st.compact(files_per_partition=4)
    for t in ("A", "B"):
        d = os.path.join(st.main_path, f"ticker={t}")
        n_files = len([f for f in os.listdir(d) if f.endswith(".parquet")])
        # hash placement makes the exact count probabilistic (salt
        # groups can collide into one task) — the contract is "more
        # than one file (parallel write) and at most the knob"
        assert 2 <= n_files <= 4, (t, n_files)
    assert st.read().count() == 800


def test_zorder_write_clamps_bits_to_64bit_key(spark, tmp_path):
    """5 columns x default 16 bits = 80 interleaved bits would wrap
    Spark's shiftleft mod 64 and silently corrupt the Morton key; the
    clamp keeps the write correct (round-trips all rows)."""
    from pyspark.sql import functions as F

    from dvmax_spark.store import zorder_write

    df = spark.range(0, 2_000).select(
        *[(F.col("id") * (i + 1) % 997).alias(f"c{i}") for i in range(5)]
    )
    out = str(tmp_path / "z5")
    zorder_write(df, out, cols=[f"c{i}" for i in range(5)], files=4)
    assert spark.read.parquet(out).count() == 2_000
