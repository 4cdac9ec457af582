"""[EXT] ML + remaining approximate/engine-specific queries —
rows-only driver checks (nondeterministic across engines or not
SQL-expressible), property-tested in tests/test_ext.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.fsops import scratch_path
from dvmax_spark.registry import query
from dvmax_spark.operators.distrank import with_hash_slice


# Walk-forward fold oracle: row_number over unique vec_id reproduces
# the rank rule approxQuantile(p, 0.0) follows (element at rank
# ceil(p*n)); (k/m)*n is IEEE-double in both engines, bit-identical.
_ML_WALK_FORWARD_SQL = """
WITH n AS (SELECT count(*) AS n FROM embeddings),
ranked AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rnk FROM embeddings
),
folds AS (
  SELECT k.k AS split,
         CAST(ceil((CAST(k.k AS DOUBLE) / 3) * n.n) AS BIGINT) AS n_train,
         CASE WHEN k.k < 2
              THEN CAST(ceil((CAST(k.k + 1 AS DOUBLE) / 3) * n.n) AS BIGINT)
              ELSE n.n END AS r_next
  FROM generate_series(1, 2) k(k), n
)
SELECT f.split AS split,
       CAST(r.vec_id AS BIGINT) AS train_end,
       f.n_train AS n_train,
       f.r_next - f.n_train AS n_test
FROM folds f JOIN ranked r ON r.rnk = f.n_train
ORDER BY split
"""


@query("x_ml_walk_forward", ids=("X13",), sql=_ML_WALK_FORWARD_SQL)
def x_ml_walk_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic half of the MLlib walk-forward pipeline: the fold
    table (train-end boundary + exact train/test counts per split) —
    engine-independent, so it carries the X13 oracle. The GBT metrics
    (not SQL-expressible) live in x_ml_walk_forward_metrics; agreement
    between this table and the folds the trainer actually materializes
    is pinned in tests/test_ml_quality.py."""
    from dvmax_spark.ml.pipeline import walk_forward_fold_table

    emb = load_table(spark, "embeddings", sf)
    return walk_forward_fold_table(emb, order_col="vec_id", n_splits=2).orderBy(
        "split"
    )


@query("x_ml_walk_forward_metrics", ids=("X13",), sql=None)
def x_ml_walk_forward_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """MLlib walk-forward classification over the embeddings table
    (BASELINE north-star modeling path). Deterministic seeds, but
    training isn't SQL-expressible -> rows-only check; fold counts are
    oracled via x_ml_walk_forward."""
    from dvmax_spark.ml.pipeline import train_eval_classifier

    emb = load_table(spark, "embeddings", sf)
    return train_eval_classifier(emb, n_splits=2).orderBy("split")


@query("a_approx_count_distinct", ids=("A10",), sql=None)
def a_approx_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ approximate distinct (SURVEY §2.4 [EXT]) — approximate by
    construction so excluded from the hash oracle (§2.12); the exact
    variant is oracle-checked in x_exact_dedup. Accuracy asserted in
    tests (within 5% of exact)."""
    li = load_table(spark, "lineitem", sf)
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )


@query(
    "x_embedding_near_dup",
    ids=("X6",),
    sql=__import__("dvmax_spark.ext.similarity", fromlist=["embedding_near_dup_sql"]).embedding_near_dup_sql(
        threshold=0.45, n_planes=4
    ),
)
def x_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets (the
    embedding leg of the dedup suite). Deterministic seeded planes ->
    exact DuckDB oracle (left-associated float sums, bit-for-bit)."""
    from dvmax_spark.ext.similarity import embedding_near_dup_pairs

    emb = load_table(spark, "embeddings", sf)
    # synthetic embeddings are near-orthogonal: 0.45 is the "near-dup"
    # band for this data (real corpora would use ~0.95)
    return embedding_near_dup_pairs(emb, threshold=0.45, n_planes=4).orderBy(
        "id_a", "id_b"
    )


@query("x_cosine_topk_ivf", ids=("X6",), sql=None)
def x_cosine_topk_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer (deterministic seed) ->
    exact cosine within the probed cluster only. The classic
    inverted-file index shape: at 100 TB the centroid table broadcasts
    and the candidate join shuffles once on cluster id."""
    from dvmax_spark.ext.similarity import cosine_topk_ivf

    emb = load_table(spark, "embeddings", sf)
    return cosine_topk_ivf(emb, query_ids=range(10), k=3, n_clusters=8).orderBy(
        "q_id", "rnk"
    )


@query("x_ivf_index_probe", ids=("X6",), sql=None)
def x_ivf_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted IVF index, build-once/probe-many (the production ANN
    serving shape): centroids + bucket-partitioned inverted lists on
    disk; the probe reads ONLY its nprobe buckets via a literal
    partition filter — parquet partition pruning is the inverted-list
    seek. Rows-only (seeded KMeans quantizer); recall + pruning are
    property-tested (tests/test_ext.py)."""
    from dvmax_spark.ext.similarity import IVFIndex

    emb = load_table(spark, "embeddings", sf)
    path = scratch_path(f"ivfidx_{abs(hash(sf)) % 10**8}")
    idx = IVFIndex(spark, path, n_clusters=8)
    idx.build(emb)
    return idx.probe(emb.where(F.col("vec_id") < 10), k=3, nprobe=2).orderBy(
        "q_id", "rnk"
    )


@query("t_stream_ivf", ids=("X6", "T3"), sql=None)
def t_stream_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ANN-index maintenance, run for real: half the
    embeddings build the persisted IVF index; the other half arrives
    as 2 micro-batches through stream_into_ivf (batch-keyed dynamic
    partition overwrites — replay-idempotent, monotone-guarded). The
    probe then runs over the streamed index. Rows-only (seeded KMeans
    quantizer); batch-equivalence vs an all-at-once append is pinned
    by tests/test_streaming.py."""
    import os as _os
    import shutil as _sh
    import uuid as _uuid

    from dvmax_spark.ext.similarity import IVFIndex
    from dvmax_spark.streaming.ingest import stream_into_ivf

    emb = load_table(spark, "embeddings", sf)
    n = emb.count()
    half = n // 2
    run_id = _uuid.uuid4().hex[:10]
    base = scratch_path(f"ivf_stream_{run_id}")
    in_dir = _os.path.join(base, "in")
    _os.makedirs(in_dir, exist_ok=True)
    later = emb.where(F.col("vec_id") >= half)
    now = None
    for i, (lo_ok, hi_ok) in enumerate(((True, False), (False, True))):
        mid = half + (n - half) // 2
        cond = (F.col("vec_id") < mid) if lo_ok else (F.col("vec_id") >= mid)
        p = _os.path.join(in_dir, f"slice_{i}")
        later.where(cond).coalesce(1).write.mode("overwrite").parquet(p)
        part = next(
            f for f in _os.listdir(p) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = _os.path.join(in_dir, f"{i:03d}.parquet")
        _os.replace(_os.path.join(p, part), dst)
        if now is None:
            now = _os.stat(dst).st_mtime
        _os.utime(dst, (now + i, now + i))
        _sh.rmtree(p, ignore_errors=True)
    idx = IVFIndex(spark, _os.path.join(base, "idx"), n_clusters=8)
    idx.build(emb.where(F.col("vec_id") < half), batch_key="base")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_into_ivf(
            stream, idx, checkpoint_dir=_os.path.join(base, "ckpt"),
            query_name=f"ivf_{run_id}",
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return idx.probe(emb.where(F.col("vec_id") < 10), k=3, nprobe=2).orderBy(
        "q_id", "rnk"
    )


@query(
    "t_stream_cms",
    ids=("A10", "T1", "S3"),
    sql=__import__("dvmax_spark.ext.sketches", fromlist=["cms_heavy_hitters_sql"]).cms_heavy_hitters_sql(
        key_col="user_id", table="events", k=10, width=64, depth=4
    ),
)
def t_stream_cms(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING frequency sketch, run for real: events arrive as 3
    time-ordered micro-batches; foreachBatch sums each batch's CMS
    cells into the persisted store exactly-once (in-swap _meta
    marker). The heavy-hitter report then probes the STREAMED sketch
    — and hash-matches the BATCH path's exact oracle, because CMS
    cells are sums and therefore merge-invariant across any batch
    slicing. A streaming query with a value-exact SQL oracle."""
    import os as _os
    import shutil as _sh
    import uuid as _uuid

    from pyspark.sql import Window as _W

    from dvmax_spark.ext.sketches import cms_heavy_hitters
    from dvmax_spark.streaming.ingest import stream_into_cms

    ev = load_table(spark, "events", sf).select(
        "event_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "user_id",
    )
    run_id = _uuid.uuid4().hex[:10]
    base = scratch_path(f"cms_stream_{run_id}")
    in_dir = _os.path.join(base, "in")
    _os.makedirs(in_dir, exist_ok=True)
    staged = with_hash_slice(ev, ["event_id"], 3, "_b")
    now = None
    for i in (1, 2, 3):
        p = _os.path.join(in_dir, f"slice_{i}")
        staged.where(F.col("_b") == i).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        part = next(
            f for f in _os.listdir(p) if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = _os.path.join(in_dir, f"{i:03d}.parquet")
        _os.replace(_os.path.join(p, part), dst)
        if now is None:
            now = _os.stat(dst).st_mtime
        _os.utime(dst, (now + i, now + i))
        _sh.rmtree(p, ignore_errors=True)
    cms_path = _os.path.join(base, "cms")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_into_cms(
            stream, cms_path, "user_id", width=64, depth=4,
            checkpoint_dir=_os.path.join(base, "ckpt"),
            query_name=f"cms_{run_id}",
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    streamed_cms = spark.read.parquet(cms_path)
    full = load_table(spark, "events", sf)
    return cms_heavy_hitters(full, "user_id", k=10, width=64, depth=4, cms=streamed_cms)


@query(
    "x_bpe_token_count",
    ids=("X7",),
    sql="""
    SELECT doc_id,
           len(list_filter(str_split(regexp_replace(text, '([^a-zA-Z0-9_ ])', ' \\1 ', 'g'), ' '),
                           t -> t != '')) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def x_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token counting (punctuation-splitting regex — the cheap
    stand-in for subword counts)."""
    from dvmax_spark.ext.textstats import bpe_ish_tokens

    docs = load_table(spark, "documents", sf)
    return docs.select(
        "doc_id", F.size(bpe_ish_tokens("text")).alias("n_bpe_tokens")
    ).orderBy("doc_id")


@query(
    "x_score_portfolio",
    ids=("X14",),
    sql="""
    WITH feat AS (
      SELECT s.s_suppkey, n.n_name AS nation,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             count(DISTINCT l.l_orderkey) AS n_orders,
             avg(l.l_quantity) AS avg_qty,
             stddev_samp(l.l_quantity) AS sd_qty
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY s.s_suppkey, n.n_name
      HAVING count(DISTINCT l.l_orderkey) >= 5
    ), scored AS (
      SELECT s_suppkey, nation,
             round(0.5 * (revenue / n_orders / 40000.0)
                 + 0.3 * least(avg_qty / 25.0, 2.0)
                 + 0.2 * (1.0 / (1.0 + sd_qty / 10.0)), 6) AS score
      FROM feat
    ), per_nation AS (
      SELECT s_suppkey, nation, score,
             row_number() OVER (PARTITION BY nation
                                ORDER BY score DESC, s_suppkey) AS rk
      FROM scored
    ), picked AS (
      SELECT s_suppkey, nation, score
      FROM per_nation WHERE rk <= 2
      ORDER BY score DESC, s_suppkey LIMIT 10
    ), w AS (
      SELECT s_suppkey, nation, score,
             least(round(score / sum(score) OVER (), 6), 0.2) AS w_cap
      FROM picked
    )
    SELECT s_suppkey, nation, score,
           round(w_cap / sum(w_cap) OVER (), 4) AS weight
    FROM w ORDER BY weight DESC, s_suppkey
    """,
)
def x_score_portfolio(spark: SparkSession, sf: str) -> DataFrame:
    """Scoring + constrained portfolio construction (reference roadmap
    Phases 4-5, README.md:87-113: weighted score formula, per-group
    concentration cap, score-weighted allocation). Deterministic by
    design: scores are rounded before ranking so ulp drift can't flip
    ranks, ties break on supplier key, caps use least/greatest only."""
    l = load_table(spark, "lineitem", sf)
    s = load_table(spark, "supplier", sf)
    n = load_table(spark, "nation", sf)
    from pyspark.sql import Window

    feat = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.avg("l_quantity").alias("avg_qty"),
            F.stddev_samp("l_quantity").alias("sd_qty"),
        )
        .where(F.col("n_orders") >= 5)
    )
    score = F.round(
        0.5 * (F.col("revenue") / F.col("n_orders") / 40000.0)
        + 0.3 * F.least(F.col("avg_qty") / 25.0, F.lit(2.0))
        + 0.2 * (1.0 / (1.0 + F.col("sd_qty") / 10.0)),
        6,
    ).alias("score")
    scored = feat.select("s_suppkey", "nation", score)
    rk = F.row_number().over(
        Window.partitionBy("nation").orderBy(F.desc("score"), "s_suppkey")
    )
    picked = (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= 2)
        .drop("rk")
        .orderBy(F.desc("score"), "s_suppkey")
        .limit(10)
    )
    all_w = Window.partitionBy()
    w_cap = F.least(
        F.round(F.col("score") / F.sum("score").over(all_w), 6), F.lit(0.2)
    ).alias("w_cap")
    return (
        picked.select("s_suppkey", "nation", "score", w_cap)
        .select(
            "s_suppkey",
            "nation",
            "score",
            F.round(F.col("w_cap") / F.sum("w_cap").over(all_w), 4).alias("weight"),
        )
        .orderBy(F.desc("weight"), "s_suppkey")
    )


@query(
    "x_semantic_dedup",
    ids=("X6", "X17"),
    sql=__import__("dvmax_spark.ext.similarity", fromlist=["semantic_dedup_sql"]).semantic_dedup_sql(
        threshold=0.45, n_planes=4
    ),
)
def x_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup: LSH near-dup pairs over the
    embedding column -> connected components -> keep the min-id
    representative per semantic group. Fully oracled end to end (seeded
    hyperplanes replayed in SQL + recursive-CTE reachability), so the
    whole pipeline — bucketing, scoring, clustering, representative
    selection — is value-exact, not rows-only."""
    from dvmax_spark.ext.similarity import semantic_dedup

    emb = load_table(spark, "embeddings", sf)
    return semantic_dedup(emb, threshold=0.45, n_planes=4).orderBy("vec_id")


@query("x_semdedup_kmeans", ids=("X6", "X17"), sql=None)
def x_semdedup_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023): MLlib KMeans clusters the
    embedding space, pairwise cosine runs only within clusters, and
    each within-cluster epsilon-ball keeps its min-id representative —
    the clustering-bucketed analog of MinHash banding on the embedding
    side (the paper's LAION recipe at k=50k). Rows-only: MLlib KMeans
    has no cross-engine oracle; tests/test_ext.py pins pair recall vs
    the brute-force epsilon-ball graph and verdict agreement vs the
    oracled LSH form (x_semantic_dedup)."""
    from dvmax_spark.ext.similarity import semdedup_kmeans

    emb = load_table(spark, "embeddings", sf)
    return semdedup_kmeans(emb, n_clusters=8, threshold=0.45)


@query("x_d4_prune", ids=("X6", "X17", "X21"), sql=None)
def x_d4_prune(spark: SparkSession, sf: str) -> DataFrame:
    """D4 selection (Tirumala et al. 2023): SemDeDup then SSL-prototype
    diversification — near-dup epsilon-balls keep one representative,
    then each cluster drops its 20% most prototypical survivors
    (highest cosine to centroid), keeping the diverse tail the paper
    shows improves pretraining. Rows-only (seeded MLlib KMeans);
    property tests pin stage composition, the prune-fraction ceiling,
    and determinism."""
    from dvmax_spark.ext.similarity import d4_prune

    emb = load_table(spark, "embeddings", sf)
    return d4_prune(emb, n_clusters=8, dedup_threshold=0.45, prune_frac=0.2)


@query("a_hll_sketch_rollup", ids=("A10",), sql=None)
def a_hll_sketch_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HLL distinct-count sketches (ext/sketches.py) with the
    full persistence round trip: per-(event_type, day) sketches written
    to parquet as binary, read back, UNIONED per event_type, estimated.
    This is the no-rescan incremental-rollup pattern — at 100 TB the
    all-time distinct-users query touches |groups|x|days| sketch rows
    instead of the raw events. No SQL oracle (DataSketches HLL is
    engine-specific); the exact count rides along in the output and
    tests/test_ext.py asserts the estimate lands within 5%."""
    from dvmax_spark.ext.sketches import (
        daily_distinct_sketches,
        rollup_distinct_from_sketches,
    )

    ev = load_table(spark, "events", sf)
    daily = daily_distinct_sketches(ev, "event_type", "ts", "user_id")
    path = scratch_path(f"hll_{abs(hash(sf)) % 10**8}")
    daily.write.mode("overwrite").parquet(path)
    rolled = rollup_distinct_from_sketches(spark.read.parquet(path), "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        rolled.join(exact, "event_type")
        .select("event_type", "est_distinct", "exact_distinct", "n_rows")
        .orderBy("event_type")
    )


_APPROX_PCT_SQL = """
SELECT event_type,
       CAST(COUNT(value) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
       ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
       TRUE AS p50_rank_ok,
       TRUE AS p90_rank_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("a_approx_percentile", ids=("A5",), sql=_APPROX_PCT_SQL)
def a_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile, Greenwald-Khanna
    style) with a DRIVER-CHECKED error bound. At 100 TB the sketch is
    the only option — exact percentile needs a per-group sort, the
    sketch merges map-side like any partial aggregate.

    Value-exact-with-bounds (r9, was rows-only): sketch internals are
    engine-specific, so instead of hashing the estimate we hash the
    GUARANTEE — the query computes the approx element's exact rank
    interval [cnt_lt+1, cnt_le] in a second distributed pass and emits
    per-group flags asserting it intersects the target rank ± eps*n
    (eps = 1/accuracy = 1e-4, +1 element of interpolation slack); the
    oracle recomputes the exact percentiles and expects every flag
    TRUE. If a sketch estimate ever leaves its documented envelope the
    flag flips and the driver's hash compare goes red — stronger than
    rows-only without faking cross-engine sketch equality."""
    eps = 1.0 / 10000
    ev = load_table(spark, "events", sf).select("event_type", "value")
    approx = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("_a90"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
        F.count("value").alias("n"),
    )
    # rank audit: one more corpus pass, broadcast of the tiny per-group
    # estimate table — counts how many values sit below/at the estimate
    ranks = (
        ev.join(F.broadcast(approx.select("event_type", "_a50", "_a90")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < F.col("_a50"), 1).otherwise(0)).alias("_lt50"),
            F.sum(F.when(F.col("value") <= F.col("_a50"), 1).otherwise(0)).alias("_le50"),
            F.sum(F.when(F.col("value") < F.col("_a90"), 1).otherwise(0)).alias("_lt90"),
            F.sum(F.when(F.col("value") <= F.col("_a90"), 1).otherwise(0)).alias("_le90"),
        )
    )

    def ok(lt, le, p):
        target = F.lit(p) * F.col("n")
        slack = F.lit(eps) * F.col("n") + F.lit(1.0)
        return (F.col(le) >= target - slack) & (F.col(lt) <= target + slack)

    return (
        approx.join(ranks, "event_type")
        .select(
            "event_type",
            "n",
            "p50_exact",
            "p90_exact",
            ok("_lt50", "_le50", 0.5).alias("p50_rank_ok"),
            ok("_lt90", "_le90", 0.9).alias("p90_rank_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "a_cms_heavy_hitters",
    ids=("A10", "A1"),
    sql=__import__("dvmax_spark.ext.sketches", fromlist=["cms_heavy_hitters_sql"]).cms_heavy_hitters_sql(
        key_col="user_id", table="events", k=10, width=64, depth=4
    ),
)
def a_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch heavy hitters: top-10 exact users with their
    CMS estimates and overestimate. CMS counters are SUMS, so the
    sketch is merge-invariant and — uniquely in the sketch family —
    carries an exact md5-portable DuckDB oracle (HLL/KLL/theta are
    error-band tested instead). Never underestimates by construction
    (overest >= 0, also property-tested)."""
    from dvmax_spark.ext.sketches import cms_heavy_hitters

    ev = load_table(spark, "events", sf)
    return cms_heavy_hitters(ev, "user_id", k=10, width=64, depth=4)


@query("a_kll_quantile_rollup", ids=("A5", "A10"), sql=None)
def a_kll_quantile_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable KLL quantile sketches (ext/sketches.py) with the full
    persistence round trip: per-(event_type, day) sketches written to
    parquet as binary, read back, MERGED per event_type, quantiles read
    out next to the exact percentiles. The no-rescan percentile-rollup
    pattern — exact p50/p90 over a year needs a per-group sort of the
    raw events; the sketch path touches |groups|x|days| rows. No SQL
    oracle (DataSketches KLL is engine-specific); exact values ride
    along and tests assert the rank-error envelope."""
    from dvmax_spark.ext.sketches import (
        daily_quantile_sketches,
        rollup_quantiles_from_sketches,
    )

    ev = load_table(spark, "events", sf)
    daily = daily_quantile_sketches(ev, "event_type", "ts", "value")
    path = scratch_path(f"kll_{abs(hash(sf)) % 10**8}")
    daily.write.mode("overwrite").parquet(path)
    rolled = rollup_quantiles_from_sketches(
        spark.read.parquet(path), "event_type", quantiles=(0.5, 0.9)
    )
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_exact"),
    )
    return (
        rolled.join(exact, "event_type")
        .select("event_type", "n_rows", "p50_est", "p90_est", "p50_exact", "p90_exact")
        .orderBy("event_type")
    )


@query("a_theta_audience_overlap", ids=("A10",), sql=None)
def a_theta_audience_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Theta-sketch audience overlap: |A|, |B|, |A∪B|, |A∩B|, |A\\B|
    between event-type audiences — set algebra HLL cannot do (union
    only) and exact distinct cannot do mergeably at all. One pass over
    events builds a one-row-per-group sketch table; the pair join is
    broadcast. No SQL oracle (DataSketches theta is engine-specific);
    tests assert the estimates against exact set sizes computed from
    the raw data."""
    from dvmax_spark.ext.sketches import audience_overlap

    ev = load_table(spark, "events", sf)
    return audience_overlap(ev, "event_type", "user_id")


@query("x_embedding_pca", ids=("X5", "X13"), sql=None)
def x_embedding_pca(spark: SparkSession, sf: str) -> DataFrame:
    """MLlib PCA over the embedding column: top-8 principal components
    of the corpus embedding distribution with per-component and
    cumulative explained variance — the dimensionality check before
    IVF/whitening (random testdata embeddings have near-uniform
    spectrum; real embedding tables concentrate). Distributed
    covariance + local eigendecomposition on the driver (d x d, d=32 —
    driver work is dimension-bound, not row-bound, the right split at
    100 TB). No SQL oracle (eigensolver internals are engine-specific);
    tests assert the spectral invariants: non-increasing, positive,
    cumulative <= 1."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, "embeddings", sf).select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = PCA(k=8, inputCol="features", outputCol="pca").fit(emb)
    ev = model.explainedVariance.toArray().tolist()
    rows = [
        (i + 1, round(v, 6), round(sum(ev[: i + 1]), 6)) for i, v in enumerate(ev)
    ]
    return spark.createDataFrame(
        rows, "component int, explained_variance double, cumulative double"
    )


# ---------------------------------------------------- contrastive + quality
from dvmax_spark.ext.similarity import hard_negatives, hard_negatives_sql


@query(
    "x_hard_negatives",
    ids=("X5",),
    sql=hard_negatives_sql(query_ids=range(10), k=5),
)
def x_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for retriever/contrastive training: per
    query vector, top-5 most-similar OTHER-label candidates (the
    near-miss examples that define the decision boundary). Exact
    cosine, rounded before ranking, id tie-break — value-exact vs the
    DuckDB twin."""
    emb = load_table(spark, "embeddings", sf)
    return hard_negatives(emb, query_ids=range(10), k=5).orderBy("q_id", "rnk")


from dvmax_spark.ml.quality import quality_classifier_report


@query("x_quality_classifier", ids=("X8", "X13"))
def x_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """FastText-style quality classifier (CCNet/LLaMA recipe):
    LogisticRegression over HashingTF features, distilled from the
    deterministic Gopher gate on a 70% hash split, scored over the
    whole corpus; per-source gate-vs-model keep counts + held-out
    agreement. Rows-only by design (LBFGS float aggregation);
    held-out agreement floors are property-tested in
    tests/test_ml_quality.py.

    Scoring is MODEL-FREE in the plan (coefficient literals, not
    model.transform — see ml/quality.py: the retained trainingSummary
    references the session, which stops serializing once any
    Observation ran); the tiny per-source report is additionally
    eager-localCheckpoint-ed so the returned frame is materialized
    rows."""
    return quality_classifier_report(
        load_table(spark, "documents", sf)
    ).localCheckpoint(eager=True)


from dvmax_spark.ext.similarity import training_triplets, training_triplets_sql


@query(
    "x_training_triplets",
    ids=("X5",),
    sql=training_triplets_sql(query_ids=range(10), k_pos=2, k_neg=2),
)
def x_training_triplets(spark: SparkSession, sf: str) -> DataFrame:
    """Triplet mining for metric-learning: per anchor, 2 nearest
    same-label positives × 2 hardest other-label negatives with the
    cosine margin the triplet loss would see. Value-exact vs the
    DuckDB twin (rounded cosines; margin is a subtraction of two
    already-rounded doubles — bit-identical)."""
    emb = load_table(spark, "embeddings", sf)
    return training_triplets(emb, query_ids=range(10), k_pos=2, k_neg=2).orderBy(
        "q_id", "pos_rnk", "neg_rnk"
    )


from dvmax_spark.ext.similarity import quantization_recall, quantization_recall_sql


@query(
    "x_quant_recall",
    ids=("X5", "X6"),
    sql=quantization_recall_sql(query_ids=range(10), k=5),
)
def x_quant_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 vector-quantization audit: per anchor, how much of the
    full-precision cosine top-5 survives max-abs int8 quantization,
    and the worst cosine drift across the true top-5 — the
    measurement behind shrinking an ANN index 4x. Quantized side is
    exact integer arithmetic; value-exact vs the DuckDB twin."""
    emb = load_table(spark, "embeddings", sf)
    return quantization_recall(emb, query_ids=range(10), k=5)
