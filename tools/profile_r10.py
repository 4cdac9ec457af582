"""Phase-level profiling for the round-10 optimization work: times
sub-plans of the heavy graph-family queries with the noop sink so the
expensive phase is identified empirically (guide §1) instead of
guessed. Dev tool — not part of the bench contract.

Usage: python tools/profile_r10.py [section ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def t(label, df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    print(f"{time.perf_counter() - t0:7.3f}s  {label}", flush=True)


def main() -> None:
    from dvmax_spark.catalog import load_table
    from dvmax_spark.session import get_spark
    import dvmax_spark.queries_ext as qext

    spark = get_spark("profile_r10")
    sections = set(sys.argv[1:]) or {"minhash", "cc", "incr", "maintained"}

    docs = load_table(spark, "documents", SF)

    if "minhash" in sections:
        from dvmax_spark.ext.dedup import (
            lsh_pairs_from_signatures,
            minhash_lsh_pairs,
            minhash_signature,
        )

        d2 = docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
        spark.sparkContext.setJobDescription("sig only")
        sig = minhash_signature(d2, "text", 32, 2)
        t("minhash_signature (32 hashes, bigram)", sig)
        t("lsh pairs full (no sort)", minhash_lsh_pairs(d2, num_hashes=32, bands=16, shingle_n=2, threshold=0.1))
        t("x_minhash_lsh (with orderBy)", qext.x_minhash_lsh(spark, SF))

    if "cc" in sections:
        from dvmax_spark.ext.dedup import (
            connected_components_twophase,
            dedup_clusters,
            dedup_clusters_twophase,
        )

        pairs = qext._ndg_pairs(spark, SF)
        t("ndg pairs read (warm)", pairs)
        t0 = time.perf_counter()
        labels, rounds = connected_components_twophase(pairs)
        t(f"cc_twophase labels ({rounds} rounds)", labels)
        t("dedup_clusters_twophase full", dedup_clusters_twophase(docs, qext._ndg_pairs(spark, SF), rank_col="n_chars"))
        t("dedup_clusters (connected_components) full", dedup_clusters(docs, qext._ndg_pairs(spark, SF), rank_col="n_chars"))

    if "incr" in sections:
        from dvmax_spark.ext.dedup import (
            connected_components_twophase,
            dedup_clusters_incremental,
        )

        pairs = qext._ndg_pairs(spark, SF)
        old_ids = docs.where(F.col("source") == "src0").select("doc_id")
        both_old = pairs.join(
            old_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
        ).join(old_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        t("both_old pairs", both_old)
        new_edges = pairs.join(
            both_old.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        )
        t("new_edges (anti-join)", new_edges)
        t0 = time.perf_counter()
        labels0, r0 = connected_components_twophase(both_old)
        t(f"labels0 cc ({r0} rounds)", labels0)
        t0 = time.perf_counter()
        out = dedup_clusters_incremental(docs, labels0, new_edges, rank_col="n_chars")
        t("incremental merge + cluster_output", out)
        t("x_incremental_components full", qext.x_incremental_components(spark, SF))

    if "maintained" in sections:
        from dvmax_spark.ext.dedup import dedup_clusters_incremental, incremental_components

        pairs = qext._ndg_pairs(spark, SF)
        labels0 = qext._ndg_labels_prior(spark, SF)
        t("labels artifact read (warm)", labels0)
        new_ids = docs.where(F.col("source") == qext._LABELS_NEW_SOURCE).select("doc_id")
        new_edges = pairs.join(
            F.broadcast(new_ids.withColumnRenamed("doc_id", "id_a")), "id_a", "left_semi"
        ).unionAll(
            pairs.join(
                F.broadcast(new_ids.withColumnRenamed("doc_id", "id_b")), "id_b", "left_semi"
            )
        ).distinct()
        t("new_edges (direct)", new_edges)
        t0 = time.perf_counter()
        merged, r = incremental_components(labels0, new_edges)
        t(f"incremental_components labels ({r} rounds)", merged)
        t("x_incremental_components_maintained full", qext.x_incremental_components_maintained(spark, SF))

    spark.stop()


if __name__ == "__main__":
    main()
