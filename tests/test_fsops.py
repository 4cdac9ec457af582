"""Crash-window recovery for every table promote (fsops.swap_dir /
recover_swap / promote / ensure_artifact).

The table path is a symlink to a versioned sibling directory and a
promote is one atomic pointer flip, so there is no instant at which the
path fails to resolve. These tests build the on-disk states a killed
process can leave — an un-promoted orphan version, a lost pointer, a
legacy real-dir table stranded in ``.old`` — and assert the next
operation heals instead of silently rebuilding from scratch and then
deleting the stranded history.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dvmax_spark.fsops import (
    ensure_artifact,
    list_versions,
    promote,
    read_artifact_meta,
    recover_swap,
    swap_dir,
)

# the ids keep the names these tests had while a second (manifest)
# pointer protocol existed; the symlink is the only pointer now
symlink_pointer = pytest.mark.parametrize("pmode", ["symlink"])


def _read(path: str, name: str) -> str:
    with open(os.path.join(path, name)) as fh:
        return fh.read()


def _is_pointer(path: str) -> bool:
    return os.path.islink(path) and os.path.isdir(path)


# ------------------------------------------------------------ primitives


def test_recover_swap_rolls_back_crashed_promote(tmp_path):
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as fh:
        fh.write("v1")
    # crash window: main renamed away, staging never promoted
    os.rename(path, path + ".old")
    staging = path + ".staging"
    os.makedirs(staging)
    assert recover_swap(path) is True
    with open(os.path.join(path, "data")) as fh:
        assert fh.read() == "v1"
    assert not os.path.isdir(path + ".old")
    # healthy table: recovery is a no-op even with a stale .old around
    os.makedirs(path + ".old")
    assert recover_swap(path) is False
    assert os.path.isdir(path)


@symlink_pointer
def test_swap_dir_promotes_and_returns_retired(tmp_path, pmode):
    path, staging = str(tmp_path / "t"), str(tmp_path / "t.staging")
    os.makedirs(staging)
    # first promote: no prior table — path becomes a pointer to .v1
    assert swap_dir(path, staging) is None
    assert _is_pointer(path)
    # second promote returns the displaced VERSION dir, still on disk
    os.makedirs(staging)
    with open(os.path.join(staging, "m"), "w") as fh:
        fh.write("v2")
    retired = swap_dir(path, staging)
    assert retired == path + ".v1" and os.path.isdir(retired)
    assert _is_pointer(path)
    assert _read(path, "m") == "v2"


@symlink_pointer
def test_swap_dir_migrates_legacy_layout_and_heals_mid_migration(tmp_path, pmode):
    """A pre-existing real-directory table is adopted as .v1 on its
    first swap; a crash INSIDE the migration (dir renamed away, pointer
    not yet created) heals by re-pointing at the newest version."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as fh:
        fh.write("legacy")
    staging = path + ".staging"
    os.makedirs(staging)
    with open(os.path.join(staging, "data"), "w") as fh:
        fh.write("new")
    retired = swap_dir(path, staging)
    assert _is_pointer(path)
    assert retired == path + ".v1"
    with open(os.path.join(retired, "data")) as fh:
        assert fh.read() == "legacy"
    assert _read(path, "data") == "new"
    # mid-migration crash state: versions exist, pointer lost
    os.remove(path)
    assert recover_swap(path) is True
    assert _read(path, "data") == "new"  # newest version wins


@symlink_pointer
def test_swap_dir_prunes_unpromoted_orphans(tmp_path, pmode):
    """A crash between the staging rename and the pointer flip leaves
    an un-promoted orphan version; the next successful swap prunes it
    (its operation replays) and never promotes it by accident."""
    path, staging = str(tmp_path / "t"), str(tmp_path / "t.staging")
    os.makedirs(staging)
    swap_dir(path, staging)  # v1 current
    orphan = path + ".v7"  # crashed promote: renamed, never flipped
    os.makedirs(orphan)
    os.makedirs(staging)
    with open(os.path.join(staging, "m"), "w") as fh:
        fh.write("v8")
    retired = swap_dir(path, staging)
    assert retired == path + ".v1"
    assert not os.path.isdir(orphan)  # pruned, not promoted
    assert _read(path, "m") == "v8"


def test_promote_keep_retains_newest_served_versions(tmp_path):
    """``promote(keep=k)`` leaves the newest k versions the table once
    served beside the new one and removes the rest, an un-promoted
    orphan and an undisposed older version included."""
    path = str(tmp_path / "t")
    for tag in "abc":
        promote(path, _dropper(tag), keep=2)
    assert sorted(list_versions(path)) == [1, 2, 3]
    os.makedirs(path + ".v7")  # orphan: renamed, never flipped
    promote(path, _dropper("d"), keep=2)
    assert sorted(list_versions(path)) == [2, 3, 8]
    assert [_read(f"{path}.v{n}", "m") for n in (2, 3, 8)] == ["b", "c", "d"]
    promote(path, _dropper("e"))  # keep=0: only the new version stays
    assert sorted(list_versions(path)) == [9] and _read(path, "m") == "e"


@symlink_pointer
def test_concurrent_reader_never_sees_missing_or_half_table(tmp_path, pmode):
    """The r4 VERDICT ask: under a swap storm the table path must
    ALWAYS resolve to a complete version — no path-not-found window,
    no half-written state. swap_dir's own stray pruning gives every
    displaced version a one-swap grace (it is deleted by the NEXT
    promote, not its own), which is the retention concurrent readers
    rely on; the reader hammers open+read the whole time and must
    never error or see a torn value."""
    import threading

    path = str(tmp_path / "t")
    payloads = {k: (f"v{k}:" + "x" * 4096) for k in range(40)}

    def _stage(k):
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        with open(os.path.join(staging, "data"), "w") as fh:
            fh.write(payloads[k])
        return staging

    swap_dir(path, _stage(0))
    stop = threading.Event()
    errors: list[BaseException] = []

    def _reader():
        while not stop.is_set():
            try:
                got = _read(path, "data")
                assert got in payloads.values(), f"torn read: {got[:40]!r}"
            except BaseException as e:  # noqa: BLE001 - recorded for assert
                errors.append(e)
                return

    threads = [threading.Thread(target=_reader) for _ in range(4)]
    for t in threads:
        t.start()
    for k in range(1, 40):
        swap_dir(path, _stage(k))  # prune gives v(k-1) one-swap grace
    stop.set()
    for t in threads:
        t.join()
    assert not errors, errors[:3]
    assert _read(path, "data") == payloads[39]


@symlink_pointer
def test_swap_dir_heals_before_promoting(tmp_path, pmode):
    """A promote that follows a crashed promote must retire the
    RECOVERED state (not clobber it as a stale .old)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as fh:
        fh.write("v1")
    os.rename(path, path + ".old")  # crashed window
    staging = path + ".staging"
    os.makedirs(staging)
    retired = swap_dir(path, staging)
    assert retired is not None
    with open(os.path.join(retired, "data")) as fh:
        assert fh.read() == "v1"


def test_scratch_root_removed_at_exit(tmp_path):
    """Every scratch path a process is handed lives under one root,
    which the process removes when its interpreter exits."""
    import subprocess
    import sys

    code = (
        "import os\n"
        "from dvmax_spark.fsops import scratch_path\n"
        "p = scratch_path('q_1')\n"
        "assert scratch_path('q_1') == p\n"
        "os.makedirs(os.path.join(p, 'in'))\n"
        "open(os.path.join(p, 'in', 'f'), 'w').close()\n"
        "print(os.path.dirname(p))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert os.listdir(tmp_path) == []


# ---------------------------------------------------------- FeatureStore


def test_store_read_heals_crashed_swap(spark, tmp_path):
    from dvmax_spark.store import FeatureStore

    st = FeatureStore(
        spark, str(tmp_path / "st"), keys=["k"], partition_col=None,
        keep_snapshots=0,
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    st.upsert(df)
    os.rename(st.main_path, st.main_path + ".old")  # crash window
    assert st.exists()
    assert {(r.k, r.v) for r in st.read().collect()} == {(1, "a"), (2, "b")}
    # and the next upsert proceeds on the healed table
    st.upsert(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert st.read().count() == 3


def test_store_adopts_stranded_version_into_snapshot_log(spark, tmp_path):
    """r4 ADVICE: a crash after the swap but before the snapshot-log
    rename used to permanently drop that version from the retention
    log (the next promote deleted the stranded dir). The sweep must
    ADOPT the stranded version as a snapshot instead."""
    from dvmax_spark.store import FeatureStore

    st = FeatureStore(
        spark, str(tmp_path / "st"), keys=["k"], partition_col=None,
        keep_snapshots=3,
    )
    st.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    # simulate the crash window: promote v2 via raw swap_dir (as
    # _swap_in does) and "die" before the snapshot-log rename — the
    # displaced v1 is left stranded beside main
    staging = st.main_path + ".staging"
    spark.createDataFrame([(1, "b")], "k int, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    stranded = swap_dir(st.main_path, staging)
    assert stranded is not None and os.path.isdir(stranded)
    # next store write sweeps the stranded version into the log
    st.upsert(spark.createDataFrame([(1, "c")], "k int, v string"))
    snaps = st.snapshots()
    assert len(snaps) == 2  # stranded v1 adopted + v2 retired normally
    assert {r.v for r in st.read_version(snaps[0]).collect()} == {"a"}
    assert {r.v for r in st.read_version(snaps[1]).collect()} == {"b"}
    assert {r.v for r in st.read().collect()} == {"c"}


def test_store_orphan_version_is_not_a_snapshot(spark, tmp_path):
    """A crash after the staging rename but before the pointer flip
    leaves an orphan ``main.v<n>`` NEWER than the current version: it
    is never listed as a snapshot nor readable as one, and the next
    upsert removes it instead of promoting it."""
    from dvmax_spark.store import FeatureStore

    st = FeatureStore(
        spark, str(tmp_path / "st"), keys=["k"], partition_col=None,
        keep_snapshots=2,
    )
    st.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    st.upsert(spark.createDataFrame([(1, "b")], "k int, v string"))
    assert st.snapshots() == [1]
    orphan = st.main_path + ".v9"
    spark.createDataFrame([(1, "zzz")], "k int, v string").write.parquet(orphan)
    assert st.snapshots() == [1]
    with pytest.raises(ValueError):
        st.read_version(9)
    st.upsert(spark.createDataFrame([(1, "c")], "k int, v string"))
    assert not os.path.exists(orphan)
    assert st.snapshots() == [1, 2]
    assert {r.v for r in st.read().collect()} == {"c"}


def test_store_first_write_is_a_pointer(spark, tmp_path):
    """A store's first write goes through promote: the table path is a
    pointer to its first version dir, not a real directory."""
    from dvmax_spark.store import FeatureStore

    st = FeatureStore(spark, str(tmp_path / "st"), keys=["k"])
    st.append_new_keys(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert _is_pointer(st.main_path)
    assert os.readlink(st.main_path) == "main.v1"
    assert sorted(os.listdir(tmp_path / "st")) == ["main", "main.v1"]


# ------------------------------------------------------ ContinuousRollup


def test_rollup_refresh_heals_crashed_swap(spark, tmp_path):
    from dvmax_spark.plans.rollup import ContinuousRollup

    path = str(tmp_path / "ru")
    ru = ContinuousRollup(spark, path, "g", "ts", "v")
    b1 = spark.createDataFrame(
        [("a", "2024-01-01", 1.0), ("a", "2024-01-01", 2.0)],
        "g string, ts string, v double",
    )
    ru.refresh(b1, meta={"batch_id": 0})
    os.rename(path, path + ".old")  # crash window
    assert ru.read_meta() == {"batch_id": 0}  # read_meta heals
    os.rename(path, path + ".old")  # crash again before a refresh
    b2 = spark.createDataFrame(
        [("a", "2024-01-01", 4.0)], "g string, ts string, v double"
    )
    ru.refresh(b2, meta={"batch_id": 1})
    row = ru.read().where(F.col("grp") == "a").collect()[0]
    # history survived the crash: 1+2 from b1 folded with 4 from b2
    assert row.sum_value == pytest.approx(7.0) and row.n == 3


# -------------------------------------------------- stream_into_sketches


def test_sketch_sink_survives_crashed_swap(spark, tmp_path):
    """The round-3 ADVICE medium: a crash between the sketch table's
    two renames used to strand ALL accumulated sketches in '.old' and
    the next batch permanently deleted them. The sink must heal and
    keep the full history."""
    from dvmax_spark.streaming.ingest import stream_into_sketches

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    path = str(tmp_path / "sk")
    schema = "g string, ts timestamp, uid bigint"

    def _feed(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        src = str(tmp_path / name)
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(in_dir, name + ".parquet"))

    def _drain(ckpt):
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = stream_into_sketches(
            stream, path, group_col="g", ts_col="ts", id_col="uid",
            checkpoint_dir=str(tmp_path / ckpt), query_name="sk_" + ckpt,
        )
        q.awaitTermination(120)

    import datetime as dt

    day1 = dt.datetime(2024, 1, 1, 12)
    _feed([("a", day1, i) for i in range(50)], "b1")
    _drain("ck1")
    n1 = spark.read.parquet(path).agg(F.sum("n_rows")).collect()[0][0]
    assert n1 == 50
    os.rename(path, path + ".old")  # crash window mid-promote
    _feed([("a", day1, 1000 + i) for i in range(30)], "b2")
    _drain("ck1")  # same checkpoint: only the new file is a new batch
    total = spark.read.parquet(path).agg(F.sum("n_rows")).collect()[0][0]
    assert total == 80  # history healed, not rebuilt from the last batch


# ------------------------------------------------------- MinHashIndex


def _mk_idx(spark, tmp_path):
    from dvmax_spark.ext.dedup import MinHashIndex

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3),)
         for i in range(30)],
        "doc_id bigint, text string",
    )
    idx = MinHashIndex(
        spark, str(tmp_path / "idx"), num_hashes=16, bands=8, shingle_n=2
    )
    return docs, idx


def test_minhash_index_heals_crashed_compact(spark, tmp_path):
    docs, idx = _mk_idx(spark, tmp_path)
    idx.build(docs)
    probe = spark.createDataFrame(
        [(999, "the quick brown fox jumps over the lazy dog 0")],
        "doc_id bigint, text string",
    )
    before = {(r.new_id, r.old_id) for r in idx.match_new(probe, threshold=0.2).collect()}
    assert before
    os.rename(idx.path, idx.path + ".old")  # crash window mid-compact
    after = {(r.new_id, r.old_id) for r in idx.match_new(probe, threshold=0.2).collect()}
    assert after == before


def test_compact_batches_non_numeric_keys_protect_latest(spark, tmp_path):
    """ADVICE r3: with any non-numeric batch key, EVERY partition used
    to fold into __base__ (keep_last protected nothing). Lexicographic
    ordering must keep the latest raw-string key live."""
    docs, idx = _mk_idx(spark, tmp_path)
    d = docs.limit(10)
    idx.build(d, batch_key="2024-01-01")
    idx.append(docs.where("doc_id >= 10 and doc_id < 20"), batch_key="2024-01-02")
    idx.append(docs.where("doc_id >= 20"), batch_key="2024-01-03")
    before = spark.read.parquet(idx.path).count()
    idx.compact_batches(keep_last=1)
    parts = sorted(
        p for p in os.listdir(idx.path) if p.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=2024-01-03", "ingest_batch=__base__"]
    assert spark.read.parquet(idx.path).count() == before
    # a second fold re-folds __base__ and still protects the latest key
    idx.compact_batches(keep_last=1)
    parts = sorted(
        p for p in os.listdir(idx.path) if p.startswith("ingest_batch=")
    )
    assert parts == ["ingest_batch=2024-01-03", "ingest_batch=__base__"]
    assert spark.read.parquet(idx.path).count() == before


def test_compact_batches_refuses_mixed_keys(spark, tmp_path):
    """Numeric and non-numeric batch keys have no well-defined recency
    order ('10' < '9' lexicographically) — folding on a guess could
    fold the stream's in-flight replayable batch, so mixed keys must
    raise instead (r4 review finding)."""
    docs, idx = _mk_idx(spark, tmp_path)
    idx.build(docs.limit(10), batch_key=9)
    idx.append(docs.where("doc_id >= 10 and doc_id < 20"), batch_key=10)
    idx.append(docs.where("doc_id >= 20"), batch_key="backfill_a")
    with pytest.raises(ValueError, match="mixed"):
        idx.compact_batches(keep_last=1)


@symlink_pointer
def test_legacy_old_heal_clears_stale_pointer(tmp_path, pmode):
    """A stale pointer (a dangling symlink) at the table path must not
    make the legacy .old rollback fail silently (r6 adversarial-review
    finding)."""
    path = str(tmp_path / "t")
    os.makedirs(path + ".old")
    with open(os.path.join(path + ".old", "data"), "w") as fh:
        fh.write("legacy")
    os.symlink(os.path.basename(path) + ".vgone", path)
    assert recover_swap(path) is True
    with open(os.path.join(path, "data")) as fh:
        assert fh.read() == "legacy"


# ------------------------------------------------ fingerprinted artifacts
# ensure_artifact's fault matrix, Spark-free: each fake ``write`` drops
# one file naming its build, so a test can tell which build is serving.


def _dropper(tag: str, calls: list | None = None, then=None):
    def write(staging: str) -> None:
        if calls is not None:
            calls.append(tag)
        os.makedirs(staging)
        with open(os.path.join(staging, "m"), "w") as fh:
            fh.write(tag)
        if then is not None:
            then()

    return write


def _stagings(path: str) -> list[str]:
    parent, base = os.path.split(path)
    return [n for n in os.listdir(parent) if n.startswith(base + ".staging.")]


def test_ensure_artifact_rebuilds_after_crash_before_swap(tmp_path):
    """A builder killed between its staging write and the swap leaves
    an orphan staging dir and the old meta: the old table keeps
    serving, and the next call rebuilds instead of trusting it and
    removes the orphan."""
    import multiprocessing as mp

    path = str(tmp_path / "cache" / "a")
    calls: list = []
    assert ensure_artifact(path, {"v": 1}, _dropper("1", calls)) is True
    assert ensure_artifact(path, {"v": 1}, _dropper("x", calls)) is False
    assert calls == ["1"] and read_artifact_meta(path) == {"v": 1}

    def crasher() -> None:
        ensure_artifact(path, {"v": 2}, _dropper("2", then=lambda: os._exit(3)))

    p = mp.get_context("fork").Process(target=crasher)
    p.start()
    p.join(timeout=60)
    assert p.exitcode == 3
    (orphan,) = _stagings(path)
    assert not os.path.exists(os.path.join(os.path.dirname(path), orphan, "_meta.json"))
    assert _read(path, "m") == "1" and read_artifact_meta(path) == {"v": 1}

    assert ensure_artifact(path, {"v": 2}, _dropper("3", calls)) is True
    assert calls == ["1", "3"]
    assert _read(path, "m") == "3" and read_artifact_meta(path) == {"v": 2}
    assert _stagings(path) == []  # the dead builder's orphan is pruned


def test_ensure_artifact_heals_crash_mid_swap_without_rebuild(tmp_path):
    """A promote that died mid-swap (table stranded in '.old') heals
    warm: same table, no rebuild."""
    path = str(tmp_path / "a")
    calls: list = []
    assert ensure_artifact(path, {"v": 1}, _dropper("1", calls)) is True
    os.rename(path, path + ".old")
    assert not os.path.isdir(path)
    assert ensure_artifact(path, {"v": 1}, _dropper("2", calls)) is False
    assert calls == ["1"] and _read(path, "m") == "1"


@pytest.mark.parametrize("bad", ["truncated", "not_an_object", "missing"])
def test_ensure_artifact_rebuilds_on_corrupt_meta(tmp_path, bad):
    path = str(tmp_path / "a")
    assert ensure_artifact(path, {"v": 1}, _dropper("1")) is True
    meta = os.path.join(path, "_meta.json")
    if bad == "missing":
        os.remove(meta)
    else:
        with open(meta, "w") as fh:
            fh.write('{"v": ' if bad == "truncated" else "[]")
    assert read_artifact_meta(path) is None
    assert ensure_artifact(path, {"v": 1}, _dropper("2")) is True
    assert _read(path, "m") == "2" and read_artifact_meta(path) == {"v": 1}


def test_ensure_artifact_failed_write_keeps_previous_table(tmp_path):
    path = str(tmp_path / "a")
    assert ensure_artifact(path, {"v": 1}, _dropper("1")) is True

    def boom() -> None:
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        ensure_artifact(path, {"v": 2}, _dropper("2", then=boom))
    assert _read(path, "m") == "1" and read_artifact_meta(path) == {"v": 1}
    assert _stagings(path) == []


def test_ensure_artifact_real_process_race(tmp_path):
    """TWO real processes race ensure_artifact on an empty path through
    a barrier: exactly one builds, both then read that one table, and
    no staging dir is left behind."""
    import multiprocessing as mp
    import time

    path = str(tmp_path / "cache" / "a")

    def contender(tag: str, barrier, q) -> None:
        barrier.wait()
        # the sleep holds the flock across the other contender's check
        built = ensure_artifact(
            path, {"v": 1}, _dropper(tag, then=lambda: time.sleep(0.2))
        )
        q.put((tag, built, _read(path, "m")))

    ctx = mp.get_context("fork")
    barrier, q = ctx.Barrier(2), ctx.Queue()
    ps = [ctx.Process(target=contender, args=(t, barrier, q)) for t in ("A", "B")]
    for p in ps:
        p.start()
    results = [q.get(timeout=60) for _ in ps]
    for p in ps:
        p.join(timeout=60)
        assert p.exitcode == 0
    assert sorted(built for _, built, _ in results) == [False, True], results
    winner = next(tag for tag, built, _ in results if built)
    assert [served for _, _, served in results] == [winner, winner]
    assert _read(path, "m") == winner and read_artifact_meta(path) == {"v": 1}
    assert _stagings(path) == []


def test_promote_commits_meta_with_data_and_disposes_displaced(tmp_path):
    """``promote`` is the one commit path: the meta lands in the same
    version as the data, the displaced version and the staging dir are
    removed, and ``remove_table`` deletes pointer and versions."""
    from dvmax_spark.fsops import promote, remove_table

    path = str(tmp_path / "t")
    promote(path, _dropper("1"))
    assert _read(path, "m") == "1" and read_artifact_meta(path) is None
    promote(path, _dropper("2"), {"batch_id": 0})
    assert _read(path, "m") == "2" and read_artifact_meta(path) == {"batch_id": 0}
    assert sorted(os.listdir(tmp_path)) == ["t", os.readlink(path)]
    remove_table(path)
    assert os.listdir(tmp_path) == []
