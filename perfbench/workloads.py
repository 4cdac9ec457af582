"""The benchmark's workloads.

Each workload generates its inputs from a seed during ``setup``, then
runs ops through the public entry points users call. An op is followed
by a rerun of the same op on the state the op left behind. ``op`` and
``rerun`` are the timed calls; ``check`` is untimed and returns the
reason an output is wrong, or ``None``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil

import numpy as np
import pandas as pd

import gen


def frame_digest(df: pd.DataFrame, sort_by: list[str], decimals: int = 9) -> str:
    """Order-independent content digest; floats are rounded so that a
    last-bit difference in a summed double does not read as a change."""
    df = df.sort_values(sort_by).reset_index(drop=True)
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(decimals)
        elif df[c].dtype.kind not in "biu":
            df[c] = df[c].astype(str)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return hashlib.sha256(h.tobytes() + ",".join(df.columns).encode()).hexdigest()


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, file count) of the data files under ``path``."""
    size, files = 0, 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(base, n))
            files += 1
    return size / (1024.0 * 1024.0), files


class Workload:
    name = ""
    rows = 0  # input rows one op processes
    # trace targets: (module:attr path, span name)
    targets: tuple[tuple[str, str], ...] = ()

    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = None  # set by the harness for traced iterations
        self.n = 0
        self.digest = None  # output digest of the first op, which later ops must repeat

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def rng(self) -> np.random.Generator:
        return np.random.default_rng(abs(self.seed))  # numpy rejects negative seeds

    def jvm_gc(self) -> None:
        """Start each op on a collected driver heap, so a collection the
        previous op left due does not land in this op's wall."""
        self.spark.sparkContext._jvm.System.gc()

    def final_check(self) -> str | None:
        """An untimed check of the run's output once timing is over."""
        return None


class FeaturePipeline(Workload):
    """The reference system's daily job: features -> validation ->
    incremental upsert into the Parquet store, for one as-of date."""

    name = "feature_pipeline"
    # Measured in one warm process (README "Sizes"): the op's wall is the
    # same from 8 to 50 tickers and the rerun's grows 22 % from 30 to 50;
    # 100 tickers adds ~4 s to the op and the rerun each, which the run
    # budget cannot spare.
    N_TICKERS = 50
    N_SHORT = 2  # tickers the 260-day history gate drops
    targets = (
        ("dvmax_spark.plans.ticker_pipeline:run_ticker_pipeline", "plans.ticker_pipeline"),
        ("dvmax_spark.plans.ticker_pipeline:build_feature_table", "features.build"),
        ("dvmax_spark.plans.ticker_pipeline:split_by_status", "validation.split"),
        ("dvmax_spark.store:FeatureStore.append_new_keys", "store.append"),
        ("dvmax_spark.store:FeatureStore.upsert", "store.upsert"),
        ("dvmax_spark.store:FeatureStore.read", "store.read"),
        ("dvmax_spark.store:FeatureStore.exists", "store.read"),
    )

    def setup(self, rep_dir: str) -> None:
        tables = gen.ticker_tables(self.rng(), self.N_TICKERS, self.N_SHORT)
        for name, df in tables.items():
            gen.write_parquet(df, os.path.join(rep_dir, "in", f"{name}.parquet"))
        self.inputs = {
            name: self.spark.read.parquet(os.path.join(rep_dir, "in", f"{name}.parquet"))
            for name in tables
        }
        self.inputs["sector_index"] = None
        prices = tables["prices"]
        counts = prices[prices["date"] <= gen.AS_OF].groupby("ticker").size()
        self.eligible = sorted(counts[counts >= 260].index)
        self.rows = int((prices["date"] <= gen.AS_OF).sum())

    def _root(self) -> str:
        return os.path.join(self.run_dir, "store", f"op{self.n}")

    def op(self):
        from dvmax_spark.plans import ticker_pipeline

        return ticker_pipeline.run_ticker_pipeline(
            self.spark, self.inputs, self._root(), dates=[gen.AS_OF]
        )

    rerun = op

    def check(self, stats, rerun: bool) -> str | None:
        want = 0 if rerun else len(self.eligible)
        if stats.get("rows_written") != want:
            return f"rows_written {stats.get('rows_written')} != {want}"
        import pyarrow.dataset as ds

        store = ds.dataset(
            os.path.join(self._root(), "dynamic", "main"), format="parquet", partitioning="hive"
        ).to_table().to_pandas()
        store["ticker"] = store["ticker"].astype(str)
        if sorted(store["ticker"]) != self.eligible:
            return "store tickers differ from the gate-eligible tickers"
        if set(store["as_of"].astype(str)) != {str(gen.AS_OF)}:
            return "store as_of differs from the run date"
        digest = frame_digest(store, ["ticker", "as_of"])
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            return "store digest differs from the first op's"
        if not rerun:
            # what the op wrote, before the rerun rewrites the static store
            stats = [dir_stats(os.path.join(self._root(), t)) for t in ("dynamic", "static")]
            self.written = (sum(mb for mb, _ in stats), sum(n for _, n in stats))
        return None

    def layer_extra(self, op_stats, rerun_stats) -> dict:
        return {
            "store.written_mb": self.written[0],
            "store.files": self.written[1],
            "store.new_rows_ratio": rerun_stats["rows_written"] / len(self.eligible),
        }

    def cleanup(self) -> None:
        shutil.rmtree(self._root(), ignore_errors=True)
        self.n += 1


class DedupBatch(Workload):
    """Near-duplicate dedup of a corpus from scratch through the registry
    query ``x_dedup_clusters``: signatures -> LSH pairs -> connected
    components -> keep the longest document per cluster."""

    name = "dedup_batch"
    # Measured as above: 1200 and 5000 docs run in the same wall, 20000
    # double it.
    N_DOCS = 5000
    QUERY = "x_dedup_clusters"
    pairs = None
    targets = (
        ("dvmax_spark.queries_ext:minhash_lsh_pairs", "ext.dedup.lsh"),
        ("dvmax_spark.queries_ext:dedup_clusters", "ext.dedup.cc"),
        ("dvmax_spark.operators.lineage:cut_lineage", "ext.dedup.cc_cut"),
    )

    def setup(self, rep_dir: str) -> None:
        from dvmax_spark.registry import all_queries

        docs = gen.corpus(self.rng(), self.N_DOCS)
        self.sf_dir = os.path.join(rep_dir, "sf")
        gen.write_parquet(docs, os.path.join(self.sf_dir, "documents.parquet"))
        self.spec = all_queries()[self.QUERY]
        self.rows = len(docs)

    def _out(self) -> str:
        return os.path.join(self.run_dir, "out", f"op{self.n}")

    def op(self):
        with self.span("queries_ext.build"):
            df = self.spec.fn(self.spark, self.sf_dir)
        with self.span("queries_ext.action"):
            df.write.mode("overwrite").parquet(self._out())
        return self._out()

    rerun = op

    def check(self, path, rerun: bool) -> str | None:
        out = pd.read_parquet(path)
        if len(out) != self.rows or out["doc_id"].nunique() != self.rows:
            return f"{len(out)} output rows for {self.rows} documents"
        digest = frame_digest(out, ["doc_id"])
        if self.digest is None:
            self.digest, self.last = digest, out
        elif digest != self.digest:
            return "output digest differs from the first op's"
        return None

    def final_check(self) -> str | None:
        """Compare the output with the registry's DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = con.execute(self.spec.sql).fetchdf()
        finally:
            con.close()
        want["keep"] = want["keep"].astype(bool)
        if frame_digest(want, ["doc_id"]) != self.digest:
            return "output differs from the DuckDB oracle"
        return None

    def layer_extra(self, op_out, rerun_out) -> dict:
        # the registry's pair query shares x_dedup_clusters' LSH recipe;
        # the corpus is fixed for the run, so count its pairs once
        if self.pairs is None:
            from dvmax_spark.registry import all_queries

            self.pairs = all_queries()["x_minhash_lsh"].fn(self.spark, self.sf_dir).count()
        return {
            "ext.dedup.pairs": self.pairs,
            "ext.dedup.kept_ratio": float(self.last["keep"].sum()) / self.rows,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self._out(), ignore_errors=True)
        self.n += 1

    def side(self) -> Workload:
        """The streaming ingest its traced run measures as well."""
        return DedupIngest(self.spark, self.seed, self.run_dir)


class DedupIngest(Workload):
    """Streaming near-duplicate ingest: one micro-batch of new documents
    drains through ``streaming.dedup_ingest.stream_dedup_ingest`` against
    a fresh copy of a persisted ``MinHashIndex`` of the documents before
    them. The rerun replays the same file under a new checkpoint, and
    the index's ``_seen`` ledger turns it into a no-op.

    Not a timed workload of its own: ``dedup_batch``'s traced run
    measures its layers (see README.md)."""

    name = "dedup_ingest"
    # one small micro-batch: a drain of it already runs 73 Spark jobs
    N_INDEX = 2000
    N_BATCH = 250
    SCHEMA = "doc_id long, text string"
    calls = 0  # drains started; each gets its own checkpoint
    targets = (
        ("dvmax_spark.ext.dedup:MinHashIndex.match_new", "ext.dedup.index_match"),
        ("dvmax_spark.ext.dedup:MinHashIndex.append", "ext.dedup.index_append"),
    )

    def rng(self) -> np.random.Generator:
        return np.random.default_rng([abs(self.seed), 1])  # apart from dedup_batch's corpus

    def setup(self, rep_dir: str) -> None:
        from dvmax_spark.ext.dedup import MinHashIndex

        docs = gen.corpus(self.rng(), self.N_INDEX + self.N_BATCH)[["doc_id", "text"]]
        hist = docs[docs["doc_id"] < self.N_INDEX]
        batch = docs[docs["doc_id"] >= self.N_INDEX]
        self.index_ids = set(hist["doc_id"])
        self.batch_ids = set(batch["doc_id"])
        self.rows = len(batch)
        self.dir = rep_dir
        self.in_dir = os.path.join(rep_dir, "in")
        gen.write_parquet(batch, os.path.join(self.in_dir, "000.parquet"))
        gen.write_parquet(hist, os.path.join(rep_dir, "hist.parquet"))
        self.base = os.path.join(rep_dir, "index_base")
        MinHashIndex(self.spark, self.base).build(
            self.spark.read.schema(self.SCHEMA).parquet(os.path.join(rep_dir, "hist.parquet"))
        )
        self.index = MinHashIndex(self.spark, os.path.join(rep_dir, "index"))
        self.cleanup()

    def _sinks(self) -> tuple[str, str]:
        return os.path.join(self.dir, "novel"), os.path.join(self.dir, "dups")

    def _drain(self):
        from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

        self.calls += 1
        stream = (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.in_dir)
        )
        novel, dups = self._sinks()
        q = stream_dedup_ingest(
            stream,
            self.index,
            out_dir=novel,
            dup_dir=dups,
            checkpoint_dir=os.path.join(self.dir, f"ckpt{self.calls}"),
            query_name=f"perfbench_ingest_{self.calls}",
        )
        q.awaitTermination()  # raises if the query failed
        return q

    op = rerun = _drain

    def check(self, q, rerun: bool) -> str | None:
        novel_dir, dup_dir = self._sinks()
        novel = set(pd.read_parquet(novel_dir)["doc_id"])
        dups = pd.read_parquet(dup_dir)[["doc_id", "dup_of"]]
        dup_ids = set(dups["doc_id"])
        if novel & dup_ids:
            return "a document is both novel and a duplicate"
        if novel | dup_ids != self.batch_ids or len(dups) != len(dup_ids):
            return "novel and duplicate sinks do not partition the batch"
        if not set(dups["dup_of"]) <= self.index_ids | novel:
            return "a duplicate names a document that was not admitted"
        digest = frame_digest(dups, ["doc_id"]) + str(sorted(novel))
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            return "ingest output differs from the first op's"
        self.dups = len(dups)
        return None

    def layer_extra(self, op_q, rerun_q) -> dict:
        progress = [p for p in op_q.recentProgress if p["numInputRows"]]
        add = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
        trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
        mb, files = dir_stats(self.index.path)
        return {
            "streaming.run_id": str(op_q.runId),
            "streaming.add_batch_s": add,
            "streaming.trigger_overhead_s": trigger - add,
            "streaming.batches": len(progress),
            "streaming.displaced_ratio": self.dups / self.rows,
            "ext.dedup.index_mb": mb,
            "ext.dedup.index_files": files,
        }

    def cleanup(self) -> None:
        """Restore the index copy and drop the sinks and checkpoints."""
        for name in os.listdir(self.dir):
            if name in ("index", "index_seen", "novel", "dups") or name.startswith("ckpt"):
                shutil.rmtree(os.path.join(self.dir, name), ignore_errors=True)
        shutil.copytree(self.base, self.index.path)


WORKLOADS = {w.name: w for w in (FeaturePipeline, DedupBatch)}
