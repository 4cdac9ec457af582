"""Dedup scale evidence, two decades above the oracle SF: a ~100k-doc
synthetic corpus (10x tests/test_dedup_stress.py, same adversarial
shapes) through the three dedup surfaces — batch LSH pairs, cluster
assignment, and the streaming greedy-ingest path — recording
wall-times, pair volumes, and band-bucket extremes for SCALING.md.

Corpus (100,000 docs):
  * 2,000-doc identical mega-family  -> bucket cap must engage
  * 200 near-dup families x 10 docs  -> the real LSH payload
  * one 50-doc near-dup chain        -> worst diameter per edge
  * 95,950 unique docs               -> background mass

Usage: python tools/dedup_scale.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_IDENT = 2_000
N_FAMILIES = 200
FAM_SIZE = 10
N_CHAIN = 50
N_UNIQUE = 95_950
CAP = 500


def _corpus(spark):
    rows = []
    fixed = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(N_IDENT):
        rows.append((i, fixed))
    # near-dup families: 10 docs sharing 28 of 30 words (2 private)
    for f in range(N_FAMILIES):
        base = [f"f{f}_{j}" for j in range(28)]
        for m in range(FAM_SIZE):
            rows.append(
                (100_000 + f * FAM_SIZE + m, " ".join(base + [f"m{m}a", f"m{m}b"]))
            )
    chain_words = [f"c{j}" for j in range(N_CHAIN + 21)]
    for i in range(N_CHAIN):
        rows.append((200_000 + i, " ".join(chain_words[i : i + 21])))
    for i in range(N_UNIQUE):
        rows.append((300_000 + i, " ".join(f"u{i}_{j}" for j in range(20))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "16")
    from pyspark.sql import functions as F

    from dvmax_spark.ext.dedup import (
        CC_DRIVER_MAX_EDGES,
        band_structs_expr,
        dedup_clusters,
        dedup_clusters_twophase,
        minhash_lsh_pairs,
        minhash_signature,
    )
    from dvmax_spark.session import get_spark

    spark = get_spark("dedup_scale", shuffle_partitions=32)
    docs = _corpus(spark).repartition(32).cache()
    n = docs.count()
    print(f"corpus: {n:,} docs", file=sys.stderr)

    # --- band-bucket extremes BEFORE the cap (the skew the cap bounds)
    t0 = time.perf_counter()
    sig = minhash_signature(docs, num_hashes=64)
    banded = sig.select("doc_id", band_structs_expr(64, 16)).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    buckets = (
        banded.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("sz"))
    )
    stats = buckets.agg(
        F.max("sz").alias("max_sz"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.when(F.col("sz") > CAP, 1).otherwise(0)).alias("n_over_cap"),
    ).collect()[0]
    t_buckets = time.perf_counter() - t0
    print(
        f"buckets: max={stats.max_sz:,} over_cap={stats.n_over_cap} "
        f"of {stats.n_buckets:,} ({t_buckets:.1f} s)"
    )

    # --- batch LSH pairs (capped)
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, max_bucket=CAP, threshold=0.5).cache()
    n_pairs = pairs.count()
    t_pairs = time.perf_counter() - t0
    print(f"minhash_lsh_pairs: {n_pairs:,} pairs in {t_pairs:.1f} s")

    # --- clusters over the capped pair set: connected_components'
    # driver path (dedup_clusters at this size) vs the always-
    # distributed two-phase core (the 50-doc chain is the diameter
    # shape two-phase exists for); both must give the same verdict
    verdicts = []
    for name, cluster in (
        (f"dedup_clusters (driver path up to {CC_DRIVER_MAX_EDGES:,} edges)", dedup_clusters),
        ("dedup_clusters_twophase", dedup_clusters_twophase),
    ):
        t0 = time.perf_counter()
        clusters = cluster(docs, pairs).cache()
        n_clustered = clusters.where(F.col("cluster_id") != F.col("doc_id")).count()
        print(f"{name}: {n_clustered:,} non-root members in {time.perf_counter() - t0:.1f} s")
        verdicts.append(clusters)
    assert verdicts[0].exceptAll(verdicts[1]).isEmpty(), "the two CC paths disagree"

    # --- ExactSubstr-style span removal over the same corpus (the
    # newest heavy operator): uncapped, then with the hot-gram cap
    from dvmax_spark.ext.retrieval import span_dedup_clean

    for label, cap in (("uncapped", None), (f"max_doc_freq={CAP}", CAP)):
        t0 = time.perf_counter()
        cleaned = span_dedup_clean(docs, n=8, max_doc_freq=cap)
        agg = cleaned.agg(
            F.sum("n_removed").alias("rm"),
            F.sum("n_tokens").alias("tot"),
            F.sum(F.when(F.col("clean_len") == 0, 1).otherwise(0)).alias("wiped"),
        ).collect()[0]
        t_clean = time.perf_counter() - t0
        print(
            f"span_dedup_clean[{label}]: removed {agg.rm:,}/{agg.tot:,} tokens, "
            f"{agg.wiped:,} docs fully wiped in {t_clean:.1f} s"
        )

    # --- streaming greedy ingest (4 micro-batches of 25k)
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from dvmax_spark.ext.dedup import MinHashIndex
    from dvmax_spark.streaming.dedup_ingest import stream_dedup_ingest

    root = tempfile.mkdtemp(prefix="dedup_scale_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    # 4 slices with increasing mtimes -> deterministic batch order
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    sl = len(pdf) // 4 + 1
    for b in range(4):
        part = pdf.iloc[b * sl : (b + 1) * sl]
        sdf = spark.createDataFrame(part)
        f = os.path.join(root, f"slice{b}")
        sdf.coalesce(4).write.mode("overwrite").parquet(f)
        k = 0
        for name in sorted(os.listdir(f)):
            if name.endswith(".parquet"):
                dst = os.path.join(in_dir, f"b{b}_{k}.parquet")
                shutil.copy(os.path.join(f, name), dst)
                os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
                k += 1
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    idx = MinHashIndex(
        spark, os.path.join(root, "idx"), num_hashes=64, bands=16, shingle_n=2
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )
    t0 = time.perf_counter()
    q = stream_dedup_ingest(
        stream,
        idx,
        out_dir=os.path.join(root, "novel"),
        dup_dir=os.path.join(root, "dups"),
        threshold=0.5,
        checkpoint_dir=os.path.join(root, "ckpt"),
    )
    q.awaitTermination(1800)
    t_ingest = time.perf_counter() - t0
    n_novel = spark.read.parquet(os.path.join(root, "novel")).count()
    n_dups = spark.read.parquet(os.path.join(root, "dups")).count()
    print(
        f"stream_dedup_ingest: 4 batches, {n_novel:,} novel + {n_dups:,} dups "
        f"in {t_ingest:.1f} s"
    )
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
