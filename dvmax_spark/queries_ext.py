"""[EXT] Extension-operator queries (SURVEY.md §2.13): dedup,
similarity search, text analysis, multimodal plumbing, streaming.

Deterministic ops carry DuckDB oracles; LSH/approximate/Python-stub ops
register with ``sql=None`` (driver records a rows-only check) and get
property-based tests instead (tests/test_ext.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dvmax_spark.catalog import load_table
from dvmax_spark.ext.dedup import (
    NearDupGraph,
    dedup_clusters,
    dedup_clusters_sql,
    dedup_clusters_twophase,
    exact_dedup,
    incremental_dedup_sql,
    minhash_lsh_pairs,
    minhash_lsh_sql,
    simhash_sql,
    ngram_jaccard_pairs,
    shingles,
    simhash_near_pairs,
)


_NDG_VALIDATED: set = set()


def _ndg_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The graph family's shared pair table, served from the persisted
    :class:`NearDupGraph` artifact: the standard corpus recipe
    (docs >= 2 tokens; 32 hashes x 16 bands, bigram shingles,
    threshold 0.1) builds ONCE per (testdata dir, params) into a
    deterministic per-user cache path and every consumer reads it —
    the production materialize-once/read-many shape. The artifact
    fingerprints the corpus, so regenerated testdata rebuilds instead
    of serving stale pairs; results are value-exact vs the same
    oracles as the regenerate-per-query form (minhash_lsh_pairs is
    deterministic either way).

    Cache root: ``$DVMAX_SPARK_CACHE`` if set, else
    ``~/.cache/dvmax_spark`` — a user-owned directory, never the
    world-writable system tempdir (another user could pre-create or
    poison a predictable /tmp path). Check, build and promote are
    :func:`~dvmax_spark.fsops.ensure_artifact` (via
    :func:`_ndg_ensure`), whose flock serializes concurrent builders."""
    _ndg_ensure(spark, sf)
    return _ndg_handle(spark, sf).pairs()


def _ndg_ensure(spark: SparkSession, sf: str) -> bool:
    """Ensure the pair artifact behind :func:`_ndg_pairs`; returns
    whether this call built it.

    Within one process, the verdict is memoized per (path, session):
    the fingerprint check is a full corpus pass (~0.7 s at sf0.1), and
    re-proving artifact freshness on every one of the six graph
    consumers' calls is not the production read path — readers trust
    a validated artifact. A new process (per-query evaluation
    sessions, a fresh bench) always re-validates once; a memoized call
    builds nothing and returns False."""
    ndg = _ndg_handle(spark, sf)
    # Keyed on applicationId, not id(spark): CPython can reuse id()
    # after a session is GC'd, which would false-positive a fresh
    # session as already-validated and skip the fingerprint check.
    memo_key = (ndg.path, spark.sparkContext.applicationId)
    if memo_key in _NDG_VALIDATED:
        return False
    built = ndg.ensure(_ndg_docs(spark, sf))
    _NDG_VALIDATED.add(memo_key)
    return built


def _ndg_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The pair graph's corpus: documents with at least two tokens."""
    return load_table(spark, "documents", sf).where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )


def _ndg_handle(spark: SparkSession, sf: str) -> NearDupGraph:
    """The graph family's artifact handle for ``sf``: deterministic
    per-user cache path + the standard corpus recipe's parameters
    (see :func:`_ndg_pairs` for why the cache root is user-owned)."""
    import hashlib
    import os

    digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:12]
    root = os.environ.get("DVMAX_SPARK_CACHE") or os.path.join(
        os.path.expanduser("~"), ".cache", "dvmax_spark"
    )
    path = os.path.join(root, f"ndg_{digest}")
    return NearDupGraph(
        spark, path, num_hashes=32, bands=16, shingle_n=2, threshold=0.1
    )


# The maintained-labels fixture's "batch": the one source that "just
# landed". The PRIOR corpus is every other source (19/20 of the docs),
# so the persisted labels cover almost the whole graph and the merge
# is batch-proportional — the production shape. (x_incremental_
# components keeps the inverse src0-as-old framing: there the batch is
# ~95% of the graph, which is the stress form, not the steady state.)
_LABELS_NEW_SOURCE = "src19"
_LABELS_SPEC = 1  # bump to invalidate persisted label artifacts


def _labels_prior_ensure(spark: SparkSession, sf: str) -> bool:
    """Ensure the MAINTAINED label artifact — component labels
    ``(id, label)`` of the PRIOR corpus's subgraph (pairs whose BOTH
    endpoints predate ``_LABELS_NEW_SOURCE``), persisted beside the
    pair table — and return whether it built. Production incremental
    clustering reads this table — written as earlier batches landed —
    and merges the new batch; it never re-derives the old labels (the
    r9-benched x_incremental_components deliberately does, as the
    oracle-verified end-to-end stress form). Validity derives from
    the parent pair artifact's meta (:meth:`NearDupGraph.derived_meta`),
    so a regenerated corpus or changed LSH params invalidates the
    labels transitively without a second corpus pass."""
    from dvmax_spark.ext.dedup import connected_components_twophase
    from dvmax_spark.fsops import ensure_artifact

    _ndg_ensure(spark, sf)
    ndg = _ndg_handle(spark, sf)

    def write(staging: str) -> None:
        old_ids = (
            load_table(spark, "documents", sf)
            .where(F.col("source") != _LABELS_NEW_SOURCE)
            .select("doc_id")
        )
        both_old = ndg.pairs().join(
            old_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
        ).join(old_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        labels, _ = connected_components_twophase(both_old)
        labels.select("id", "label").write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(staging)

    expected = ndg.derived_meta(_LABELS_SPEC, f"source<>{_LABELS_NEW_SOURCE}")
    return ensure_artifact(ndg.path + "_labels_prior", expected, write)


def _ndg_labels_prior(spark: SparkSession, sf: str) -> DataFrame:
    """The maintained label table, read after :func:`_labels_prior_ensure`."""
    _labels_prior_ensure(spark, sf)
    return spark.read.parquet(_ndg_handle(spark, sf).path + "_labels_prior")


_MHIDX_SPEC = 1  # bump to invalidate persisted src0 index artifacts
_MHIDX_PARAMS = {"num_hashes": 32, "bands": 16, "shingle_n": 2}


def _mhidx_src0_ensure(spark: SparkSession, sf: str) -> bool:
    """Ensure the PERSISTED historical-side MinHash index artifact
    (r11, VERDICT r10 #6) and return whether it built: the src0
    corpus's banded signature table, built once per (testdata dir,
    params) into the pair graph's cache family and read by every
    x_incremental_dedup run — the production shape, where the index
    was written as historical batches landed and a daily batch only
    pays its own signature pass plus the band join. Validity derives
    from the parent pair artifact's meta plus the member tag and index
    params (:meth:`NearDupGraph.derived_meta`), so a regenerated corpus
    (or changed params) invalidates the index transitively without a
    second corpus pass. Not memoized: the check is two JSON reads
    under a flock."""
    from dvmax_spark.ext.dedup import MinHashIndex
    from dvmax_spark.fsops import ensure_artifact

    _ndg_ensure(spark, sf)
    ndg = _ndg_handle(spark, sf)

    def write(staging: str) -> None:
        old = _ndg_docs(spark, sf).where(F.col("source") == "src0")
        MinHashIndex(spark, staging, **_MHIDX_PARAMS).build(old)

    expected = ndg.derived_meta(_MHIDX_SPEC, "source=src0", _MHIDX_PARAMS)
    return ensure_artifact(ndg.path + "_mhidx_src0", expected, write)


def _mhidx_src0(spark: SparkSession, sf: str):
    """The src0 MinHash index, served after :func:`_mhidx_src0_ensure`."""
    from dvmax_spark.ext.dedup import MinHashIndex

    _mhidx_src0_ensure(spark, sf)
    path = _ndg_handle(spark, sf).path + "_mhidx_src0"
    return MinHashIndex(spark, path, **_MHIDX_PARAMS)


#: The persisted artifacts, in build order (each depends only on the
#: ones before it): (bench field prefix, ensure(spark, sf) -> built).
#: bench.py pre-builds them outside its timed regions and reports
#: ``<prefix>_build_wall`` / ``<prefix>_built``.
ARTIFACTS = (
    ("ndg", _ndg_ensure),
    ("labels", _labels_prior_ensure),
    ("mhidx", _mhidx_src0_ensure),
)


from dvmax_spark.ext.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from dvmax_spark.operators.distrank import with_hash_slice
from dvmax_spark.ext.textstats import (
    fingerprint,
    gopher_rules,
    gopher_rules_sql,
    lang_id_sql,
    lang_scores,
    quality_score,
    token_stats,
)
from dvmax_spark.registry import query
from dvmax_spark.streaming.ops import (
    session_counts_batch,
    sliding_counts,
    tumbling_counts,
)

# ------------------------------------------------------------- dedup


@query(
    "x_exact_dedup",
    ids=("X1",),
    bench=True,
    sql="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS n_distinct
    FROM documents GROUP BY source ORDER BY source
    """,
)
def x_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup via normalized content hash: per source, total vs
    distinct document counts (the 100 TB workhorse: hash + groupBy)."""
    docs = load_table(spark, "documents", sf)
    from dvmax_spark.ext.dedup import normalize_text

    h = F.md5(F.encode(normalize_text(F.col("text")), "utf-8"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(h).alias("n_distinct"),
        )
        .orderBy("source")
    )


@query(
    "x_ngram_jaccard",
    ids=("X2",),
    sql="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(
               list_transform(str_split(text, ' '),
                              (x, i) -> CASE WHEN i < len(str_split(text, ' '))
                                             THEN x || ' ' || str_split(text, ' ')[i + 1] END),
               g -> g IS NOT NULL)) AS grams
      FROM documents
    ), t AS (
      SELECT doc_id, unnest(grams) AS g FROM d
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id
    ), c AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM t a JOIN t b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(common::DOUBLE / (sa.n + sb.n - common), 4) AS jaccard
    FROM c JOIN sz sa ON c.id_a = sa.doc_id JOIN sz sb ON c.id_b = sb.doc_id
    WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.06
    ORDER BY id_a, id_b
    """,
)
def x_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact bigram-Jaccard near-dup pairs via inverted-index self-join
    (no pruning here so the oracle is exact; the engine's scale variant
    prunes hot shingles via max_doc_freq)."""
    docs = load_table(spark, "documents", sf)
    with_grams = docs.select("doc_id", shingles("text", 2).alias("grams"))
    toks = with_grams.select("doc_id", F.explode("grams").alias("g"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # inverted index: one shuffle of the token table by shingle, then
    # pair generation in-place — instead of shuffling toks twice for a
    # self-join. At 100 TB the same plan adds a max_doc_freq prune on
    # size(ids) before the explode (hot shingles are noise, not signal).
    postings = toks.groupBy("g").agg(F.collect_list("doc_id").alias("ids"))
    common = (
        postings.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    j = F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .where(j >= 0.06)
        .select("id_a", "id_b", F.round(j, 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@query("x_minhash_lsh", ids=("X3",), bench=True, sql=minhash_lsh_sql())
def x_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (shingle→minhash→band→bucket
    join). Approximate vs true Jaccard, but fully DETERMINISTIC given
    the portable md5-derived hashes — so the whole pipeline has an
    exact DuckDB oracle (generated from the same permutation constants,
    ext/dedup.py:minhash_lsh_sql). Docs shorter than the shingle width
    are excluded on both sides (empty shingle set ⇒ no signature).
    Accuracy vs exact Jaccard is additionally property-tested."""
    docs = load_table(spark, "documents", sf).where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    return minhash_lsh_pairs(
        docs, num_hashes=32, bands=16, shingle_n=2, threshold=0.1
    ).orderBy("id_a", "id_b")


@query("x_dedup_clusters", ids=("X17",), bench=True, sql=dedup_clusters_sql())
def x_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster assignment + canonical-doc selection: MinHash
    LSH pairs → connected components (iterative min-label propagation)
    → keep the longest doc per cluster. The step that turns pairwise
    near-dup evidence into a per-document dedup verdict — what a
    100 TB training-data pipeline actually executes. Deterministic end
    to end (portable hashes; min-id component labels), so the whole
    pipeline has an exact DuckDB oracle via a recursive reachability
    CTE (ext/dedup.py:dedup_clusters_sql). This is the family's ONE
    deliberately regenerate-from-scratch form (end-to-end coverage of
    the signature+band pipeline in a single plan); the other five
    graph consumers read the persisted NearDupGraph artifact."""
    docs = load_table(spark, "documents", sf)
    pairs = minhash_lsh_pairs(
        docs.where(F.size(F.split(F.col("text"), " ")) >= 2),
        num_hashes=32,
        bands=16,
        shingle_n=2,
        threshold=0.1,
    )
    return dedup_clusters(docs, pairs, rank_col="n_chars").orderBy("doc_id")


@query("x_dedup_clusters_twophase", ids=("X17",), bench=True, sql=dedup_clusters_sql())
def x_dedup_clusters_twophase(spark: SparkSession, sf: str) -> DataFrame:
    """x_dedup_clusters with components computed by the ALTERNATING
    large-star/small-star algorithm (Kiveris et al., MAPREDUCE'14)
    instead of min-label propagation: O(log n) rounds on ANY graph
    shape (propagation needs diameter rounds — O(n) on paraphrase/CDC
    chains). Both converge to min-id component labels, so this shares
    x_dedup_clusters' exact recursive-CTE DuckDB oracle — two
    independent distributed algorithms checked against one sequential
    ground truth. Pairs come from the persisted NearDupGraph artifact
    (_ndg_pairs — built once, read by every graph consumer)."""
    docs = load_table(spark, "documents", sf)
    return dedup_clusters_twophase(docs, _ndg_pairs(spark, sf), rank_col="n_chars").orderBy("doc_id")


@query("x_incremental_components", ids=("X17",), bench=True, sql=dedup_clusters_sql())
def x_incremental_components(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT incremental connected components: src0's near-dup labels
    are treated as the maintained artifact; the other sources' pairs
    arrive as the new edge batch and merge via star compression
    (ext/dedup.py:incremental_components) — only TOUCHED components
    recompute, untouched labels pass through without a shuffle. The
    result must equal clustering the union pair set from scratch, so
    this shares x_dedup_clusters' exact recursive-CTE oracle: the
    maintenance path is value-checked against the full recompute."""
    from dvmax_spark.ext.dedup import (
        connected_components_twophase,
        dedup_clusters_incremental,
    )

    docs = load_table(spark, "documents", sf)
    pairs = _ndg_pairs(spark, sf)
    old_ids = docs.where(F.col("source") == "src0").select("doc_id")
    # both_old feeds TWO consumers (the labels0 CC below and the
    # new_edges anti-join); labels0 feeds three inside
    # dedup_clusters_incremental (touched semi-join, members semi-join,
    # untouched anti-join). Materialize each once (r10, guide §2.4/§5:
    # shared subtrees re-evaluated per consumer are free shuffles to
    # remove) — results are bit-identical, the plan just stops
    # re-deriving the same tables.
    both_old = (
        pairs.join(old_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(old_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .localCheckpoint(eager=False)
    )
    new_edges = pairs.join(
        both_old.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )
    labels0, _ = connected_components_twophase(both_old)
    labels0 = labels0.localCheckpoint(eager=False)
    return dedup_clusters_incremental(
        docs, labels0, new_edges, rank_col="n_chars"
    ).orderBy("doc_id")


@query(
    "x_incremental_components_maintained",
    ids=("X17",),
    bench=True,
    sql=dedup_clusters_sql(),
)
def x_incremental_components_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION maintenance path of incremental connected
    components: the previous labels come from the persisted
    label artifact (_ndg_labels_prior — written as the prior 19 sources
    landed, read here) and ONE new edge batch — the pairs the newest
    source (src19) introduced — merges via star compression over only
    the touched components. x_incremental_components (above) is the
    oracle-verified end-to-end stress form that re-derives labels0
    from scratch every run AND treats 95% of the graph as the batch;
    its r9 benched wall (9.6 s) therefore measured setup the
    production shape never pays. This query is the shape the operator
    exists for: artifact-read labels + batch-proportional merge, still
    value-exact against the SAME full-recompute recursive-CTE oracle
    (maintained labels must equal clustering the union pair set from
    scratch).

    The batch is defined DIRECTLY — pairs with at least one src19
    endpoint, two broadcast semi-joins against the small new-id set —
    exactly the complement of the prior subgraph (docs partition into
    prior vs src19), not via an anti-join against a recomputed
    both-old pair set: production receives the batch as data, so the
    benched wall should be labels-read + batch define + merge, nothing
    else."""
    from dvmax_spark.ext.dedup import dedup_clusters_incremental

    docs = load_table(spark, "documents", sf)
    pairs = _ndg_pairs(spark, sf)
    labels0 = _ndg_labels_prior(spark, sf)
    new_ids = docs.where(F.col("source") == _LABELS_NEW_SOURCE).select("doc_id")
    new_edges = pairs.join(
        F.broadcast(new_ids.withColumnRenamed("doc_id", "id_a")), "id_a", "left_semi"
    ).unionAll(
        pairs.join(
            F.broadcast(new_ids.withColumnRenamed("doc_id", "id_b")),
            "id_b",
            "left_semi",
        )
    ).distinct()
    return dedup_clusters_incremental(
        docs, labels0, new_edges, rank_col="n_chars"
    ).orderBy("doc_id")


@query(
    "t_stream_components",
    ids=("X17", "T3", "S11"),
    sql=dedup_clusters_sql(),
)
def t_stream_components(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING exact near-dup clustering, run for real: the corpus
    arrives as 3 micro-batches; each batch's cross edges (vs the
    growing banded index) and within-batch edges merge into the
    persisted label table via star-compression incremental components
    (streaming/dedup_ingest.py:stream_into_components — no markers
    needed: index appends are batch-keyed overwrites and re-merging
    edges into a CC labeling is a no-op). Because every full-corpus
    LSH pair appears when its later endpoint arrives and CC is
    edge-order-insensitive, the maintained labels equal clustering the
    whole corpus from scratch at ANY slicing — so the oracle is the
    batch x_dedup_clusters recursive CTE, value-exact."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf
    import uuid as _uuid

    from dvmax_spark.ext.dedup import MinHashIndex, _cluster_output
    from dvmax_spark.streaming.dedup_ingest import stream_into_components

    docs = load_table(spark, "documents", sf)
    run_id = _uuid.uuid4().hex[:10]
    base = _os.path.join(_tf.gettempdir(), f"dvmax_cc_{_os.getpid()}_{run_id}")
    in_dir = _os.path.join(base, "in")
    _os.makedirs(in_dir, exist_ok=True)
    staged = with_hash_slice(docs, ["doc_id"], 3, "_b")
    now = None
    for i in (1, 2, 3):
        p = _os.path.join(base, f"s{i}")
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
    idx = MinHashIndex(
        spark, _os.path.join(base, "idx"), num_hashes=32, bands=16, shingle_n=2
    )
    labels_path = _os.path.join(base, "labels")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = stream_into_components(
            stream,
            idx,
            labels_path,
            threshold=0.1,
            checkpoint_dir=_os.path.join(base, "ckpt"),
            query_name=f"cc_{run_id}",
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    labels = spark.read.parquet(labels_path)
    comp = labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    return _cluster_output(docs, comp, "doc_id", "n_chars").orderBy("doc_id")


def _threshold_curve_sql() -> str:
    from dvmax_spark.ext.dedup import _minhash_lsh_ctes

    ctes = _minhash_lsh_ctes(32, 16, 2, 0.1, "documents")
    return f"""
    WITH {ctes},
    m AS (
      SELECT id_a, id_b, CAST(round(est_jaccard * 32) AS BIGINT) AS m
      FROM lsh_pairs
    ),
    th AS (SELECT unnest(range(1, 10)) AS k),
    q AS (SELECT th.k, id_a, id_b, m FROM m, th WHERE 10 * m >= 32 * th.k),
    np AS (SELECT k, count(*) AS n_pairs FROM q GROUP BY k),
    nd AS (
      SELECT k, count(DISTINCT id) AS n_docs FROM (
        SELECT k, id_a AS id FROM q UNION ALL SELECT k, id_b FROM q
      ) GROUP BY k
    )
    SELECT CAST(th.k * 100000 AS BIGINT) AS t_ppm,
           CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM th LEFT JOIN np USING (k) LEFT JOIN nd USING (k)
    ORDER BY t_ppm
    """


@query("x_dedup_threshold_curve", ids=("X3", "X17"), sql=_threshold_curve_sql())
def x_dedup_threshold_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-threshold sensitivity curve — the diagnostic a pipeline
    owner reads before PICKING the near-dup threshold: for t in
    0.1..0.9, how many candidate pairs and how many distinct documents
    the verdict would touch. Reads the persisted NearDupGraph artifact
    (built at the 0.1 floor, so the whole curve is in its support);
    comparisons are exact integers (est_jaccard is matches/32 exactly,
    so est >= k/10 becomes 10*matches >= 32*k). One tiny
    broadcast-join of 9 threshold rows against the pair table."""
    pairs = _ndg_pairs(spark, sf).withColumn(
        "m", F.round(F.col("est_jaccard") * 32).cast("long")
    )
    th = spark.range(1, 10).select(F.col("id").alias("k"))
    q = pairs.crossJoin(F.broadcast(th)).where(10 * F.col("m") >= 32 * F.col("k"))
    np_ = q.groupBy("k").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        q.select("k", F.col("id_a").alias("id"))
        .unionAll(q.select("k", F.col("id_b").alias("id")))
        .groupBy("k")
        .agg(F.count_distinct("id").alias("n_docs"))
    )
    return (
        th.join(np_, "k", "left")
        .join(nd, "k", "left")
        .select(
            (F.col("k") * 100000).cast("bigint").alias("t_ppm"),
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        )
        .orderBy("t_ppm")
    )


def _minhash_calibration_sql() -> str:
    from dvmax_spark.ext.dedup import _minhash_lsh_ctes

    ctes = _minhash_lsh_ctes(32, 16, 2, 0.1, "documents")
    return f"""
    WITH {ctes},
    tk AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sz AS (SELECT doc_id, len(gs) AS n FROM grams),
    pairs AS (
      SELECT id_a, id_b, CAST((1000000 * CAST(round(est_jaccard * 32) AS BIGINT))
             // 32 AS BIGINT) AS est_ppm
      FROM lsh_pairs
    ),
    inter AS (
      SELECT p.id_a, p.id_b, p.est_ppm, count(*) AS i
      FROM pairs p
      JOIN tk a ON a.doc_id = p.id_a
      JOIN tk b ON b.doc_id = p.id_b AND b.g = a.g
      GROUP BY p.id_a, p.id_b, p.est_ppm
    )
    SELECT x.id_a, x.id_b, x.est_ppm,
           CAST((1000000 * x.i) // (sa.n + sb.n - x.i) AS BIGINT) AS exact_ppm,
           CAST(x.est_ppm - (1000000 * x.i) // (sa.n + sb.n - x.i) AS BIGINT)
             AS err_ppm
    FROM inter x
    JOIN sz sa ON sa.doc_id = x.id_a
    JOIN sz sb ON sb.doc_id = x.id_b
    ORDER BY x.id_a, x.id_b
    """


@query("x_minhash_calibration", ids=("X3", "X2"), sql=_minhash_calibration_sql())
def x_minhash_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash calibration audit: for every candidate pair in the
    persisted pair artifact, the 32-hash ESTIMATED Jaccard next to the
    EXACT bigram-set Jaccard and the signed error — the measurement
    that tells you whether 32 hashes are enough before trusting the
    near-dup verdicts at a threshold (the estimator is unbiased; its
    spread at your operating point is what this reports). Exact
    intersection runs on the CANDIDATE PAIRS ONLY (never all-pairs):
    pair-scoped gram join, sizes attached from per-doc distinct-gram
    counts. All integer ppm; value-exact."""
    from dvmax_spark.ext.dedup import shingles

    docs = load_table(spark, "documents", sf)
    pairs = _ndg_pairs(spark, sf).select(
        "id_a",
        "id_b",
        F.expr(
            "(1000000 * CAST(round(est_jaccard * 32) AS BIGINT)) div 32"
        ).alias("est_ppm"),
    )
    tk = docs.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 2)).alias("g")
    )
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(tk.select(F.col("doc_id").alias("id_a"), "g"), "id_a")
        .join(tk.select(F.col("doc_id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b", "est_ppm")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_ppm",
            F.expr("(1000000 * i) div (na + nb - i)").cast("bigint").alias("exact_ppm"),
            F.expr("est_ppm - (1000000 * i) div (na + nb - i)")
            .cast("bigint")
            .alias("err_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


@query("x_simhash_pairs", ids=("X4",), sql=simhash_sql(max_hamming=10))
def x_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 10 (banded
    lookup). Fully deterministic (portable md5-derived hashes), so the
    whole fingerprint → band → hamming pipeline has an exact DuckDB
    oracle (ext/dedup.py:simhash_sql)."""
    docs = load_table(spark, "documents", sf)
    return simhash_near_pairs(docs, max_hamming=10).orderBy("id_a", "id_b")


# ------------------------------------------------------------- similarity


@query(
    "x_cosine_topk",
    ids=("X5",),
    bench=True,
    sql="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round(list_cosine_similarity(q.e, c.e), 4) AS cos
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rnk
      FROM pairs
    )
    SELECT q_id, rnk, c_id, cos AS cosine
    FROM ranked WHERE rnk <= 3
    ORDER BY q_id, rnk
    """,
)
def x_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for query vectors 0..9 —
    the exact ANN baseline. JVM-side zip_with/aggregate dot products."""
    emb = load_table(spark, "embeddings", sf)
    return cosine_topk_bruteforce(emb, query_ids=range(10), k=3).orderBy("q_id", "rnk")


@query(
    "x_cosine_topk_lsh",
    ids=("X6",),
    sql=__import__("dvmax_spark.ext.similarity", fromlist=["cosine_topk_lsh_sql"]).cosine_topk_lsh_sql(
        query_ids=range(10), k=3, n_planes=4
    ),
)
def x_cosine_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-3 via random-hyperplane LSH buckets — the scale path
    (exact cosine only within shared buckets). Approximate ALGORITHM,
    but fully deterministic given the seeded plane constants — so the
    entire pipeline has an exact DuckDB oracle (generated from the same
    constants, every float sum left-associated to match the Spark fold
    bit-for-bit). Recall vs brute force additionally property-tested."""
    emb = load_table(spark, "embeddings", sf)
    return cosine_topk_lsh(emb, query_ids=range(10), k=3, n_planes=4).orderBy("q_id", "rnk")


# ------------------------------------------------------------- text analysis


@query(
    "x_text_stats",
    ids=("X7",),
    bench=True,
    sql="""
    WITH s AS (
      SELECT lang,
             len(str_split(text, ' ')) AS n_tokens,
             len(list_distinct(str_split(text, ' '))) AS n_distinct,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(n_tokens), 4) AS avg_tokens,
           round(avg(n_distinct::DOUBLE / n_tokens), 4) AS avg_distinct_ratio,
           round(avg(n_chars), 4) AS avg_chars
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def x_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting + diversity stats per language bucket."""
    docs = load_table(spark, "documents", sf)
    stats = token_stats(docs)
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("distinct_ratio"), 4).alias("avg_distinct_ratio"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@query(
    "x_quality_score",
    ids=("X8",),
    sql="""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks)::DOUBLE AS n,
             len(list_distinct(toks))::DOUBLE AS nd,
             len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is')))::DOUBLE AS ns
      FROM t
    )
    SELECT doc_id,
           round(0.4 * least(n / 100.0, 1.0)
               + 0.3 * (CASE WHEN n > 0 THEN nd / n ELSE 0 END)
               + 0.3 * least((CASE WHEN n > 0 THEN ns / n ELSE 0 END) * 4.0, 1.0), 4) AS quality
    FROM s ORDER BY doc_id
    """,
)
def x_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality score (length saturation + diversity +
    stopword plausibility) — the standard cheap pre-training filter."""
    docs = load_table(spark, "documents", sf)
    return (
        quality_score(docs)
        .select("doc_id", F.round("quality", 4).alias("quality"))
        .orderBy("doc_id")
    )


@query("x_gopher_rules", ids=("X8", "V6"), sql=gopher_rules_sql())
def x_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/MassiveWeb quality GATE (Rae et al. 2021 §A1.1): word
    count, mean word length, symbol ratio, alpha-word fraction,
    distinct-stopword presence — each rule a map-side Catalyst
    expression, with a first-failing-rule routing reason. All ratios
    EXACT bigint (×100 / ppm), so parity is bit-exact by
    construction. Zero shuffles — the cheap first gate 100 TB runs
    before any dedup shuffle."""
    return gopher_rules(load_table(spark, "documents", sf))


@query(
    "x_unigram_logprob",
    ids=("X8",),
    sql=__import__(
        "dvmax_spark.ext.textstats", fromlist=["unigram_logprob_sql"]
    ).unigram_logprob_sql(),
)
def x_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-unigram LM quality score (CCNet-style order-0 filter):
    mean log10 token probability under the corpus distribution —
    data-dependent, unlike the per-doc heuristics (two corpus passes:
    frequency table, then score join)."""
    from dvmax_spark.ext.textstats import unigram_logprob

    docs = load_table(spark, "documents", sf)
    return unigram_logprob(docs)


@query(
    "x_ccnet_buckets",
    ids=("X8",),
    bench=True,
    sql=__import__(
        "dvmax_spark.ext.textstats", fromlist=["ccnet_buckets_sql"]
    ).ccnet_buckets_sql(),
)
def x_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail partition (Wenzek et al., LREC 2020):
    per language, docs ordered best-first by corpus-unigram LM score,
    split at 1/3 and 2/3 of the cumulative CHARACTER mass — the
    paper's by-volume bucketing, exact in bigint. The per-language
    running mass runs on the distributed exact per-group cumsum
    (operators/distrank.py:with_group_cumsum), so a 95%-one-language
    corpus never pools in a single window task."""
    from dvmax_spark.ext.textstats import ccnet_buckets

    return ccnet_buckets(load_table(spark, "documents", sf))


@query(
    "x_ppl_quartiles",
    ids=("X8",),
    sql="""
    WITH scored AS ({inner}),
    j AS (
      SELECT s.doc_id, d.lang, s.avg_logprob
      FROM scored s JOIN documents d USING (doc_id)
    ), q AS (
      SELECT lang, avg_logprob,
             ntile(4) OVER (PARTITION BY lang
                            ORDER BY avg_logprob DESC, doc_id) AS quartile
      FROM j
    )
    SELECT lang, quartile, count(*) AS n_docs,
           min(avg_logprob) AS min_lp, max(avg_logprob) AS max_lp
    FROM q GROUP BY 1, 2 ORDER BY 1, 2
    """.format(
        inner=__import__(
            "dvmax_spark.ext.textstats", fromlist=["unigram_logprob_sql"]
        ).unigram_logprob_sql()
    ),
)
def x_ppl_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language perplexity quartiles over the corpus-unigram LM
    score (best-first, doc_id tie-break): the doc-count-balanced
    sibling of x_ccnet_buckets' by-mass split, used to pick per-band
    sampling rates. Quartile assignment runs on the distributed exact
    grouped ntile (operators/distrank.py:with_group_ntile) — ntile's
    published arithmetic in bigint, no per-language window pool."""
    from dvmax_spark.ext.textstats import unigram_logprob
    from dvmax_spark.operators.distrank import with_group_ntile

    docs = load_table(spark, "documents", sf)
    scored = unigram_logprob(docs).select("doc_id", "avg_logprob")
    j = docs.select("doc_id", "lang").join(scored, "doc_id")
    q = with_group_ntile(
        j,
        ["lang"],
        [F.col("avg_logprob").desc(), F.col("doc_id").asc()],
        4,
        out_col="quartile",
    )
    return (
        q.groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_logprob").alias("min_lp"),
            F.max("avg_logprob").alias("max_lp"),
        )
        .orderBy("lang", "quartile")
    )


@query("x_compression_ratio", ids=("X8",), bench=True, sql=None)
def x_compression_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """zlib compression-ratio quality gate (RefinedWeb/Dolma-class):
    repetitive text compresses too well, gibberish too little — keep
    the middle band. Arrow-batched mapInPandas (zlib has no SQL twin
    in either engine, so this is rows-only; bit-equality vs a
    driver-side zlib pass is pinned in tests/test_ext.py)."""
    from dvmax_spark.ext.textstats import compression_ratio

    return compression_ratio(load_table(spark, "documents", sf)).orderBy("doc_id")


@query("x_lang_id", ids=("X9",), sql=lang_id_sql())
def x_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-heuristic language ID: per-language hit counts +
    argmax prediction (oracle SQL generated from the same vocabulary)."""
    docs = load_table(spark, "documents", sf)
    return (
        lang_scores(docs)
        .select(
            "doc_id",
            "lang",
            "score_en",
            "score_de",
            "score_es",
            "score_fr",
            "score_zh",
            "predicted_lang",
        )
        .orderBy("doc_id")
    )


@query(
    "x_fingerprint",
    ids=("X10",),
    sql="""
    SELECT doc_id,
           CAST(list_aggregate(
             list_transform(str_split(text, ' '),
                            (x, i) -> (('0x' || substr(md5(x), 1, 15))::BIGINT % 1000003) * i),
             'sum') % 1000000007 AS BIGINT) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def x_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Order-sensitive document fingerprint over portable (md5-derived)
    token hashes — identical across engines by construction."""
    docs = load_table(spark, "documents", sf)
    return fingerprint(docs).select("doc_id", "fingerprint").orderBy("doc_id")


@query(
    "x_repetition_stats",
    ids=("X15",),
    bench=True,
    sql="""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM documents
    ), base AS (
      SELECT doc_id,
             CASE WHEN len(t) > 0
                  THEN 1.0 - len(list_distinct(t))::DOUBLE / len(t)
                  ELSE 0.0 END AS dup_token_frac,
             CASE WHEN len(t) >= 2
                  THEN list_filter(
                         list_transform(t, (x, i) -> CASE WHEN i < len(t)
                                                          THEN x || ' ' || t[i + 1] END),
                         g -> g IS NOT NULL)
                  ELSE [] END AS grams
      FROM toks
    ), g AS (
      SELECT doc_id, unnest(grams) AS gram FROM base
    ), freq AS (
      SELECT doc_id, gram, count(*) AS freq FROM g GROUP BY doc_id, gram
    ), top AS (
      SELECT doc_id, max(freq) AS top_freq, sum(freq) AS n_grams FROM freq GROUP BY doc_id
    )
    SELECT b.doc_id, b.dup_token_frac,
           coalesce(t.top_freq::DOUBLE / t.n_grams, 0.0) AS top_bigram_frac,
           CASE WHEN b.dup_token_frac <= 0.7
                 AND coalesce(t.top_freq::DOUBLE / t.n_grams, 0.0) <= 0.2
                THEN 1 ELSE 0 END AS passes_repetition_gate
    FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
    ORDER BY b.doc_id
    """,
)
def x_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """[X15] Gopher-style repetition filters (duplicate-token fraction,
    top-bigram coverage, keep gate) — the standard public pre-training
    boilerplate/spam filters, as one shuffle + per-row expressions.
    Raw IEEE divisions (no rounding) keep cross-engine hash parity."""
    from dvmax_spark.ext.textstats import repetition_stats

    docs = load_table(spark, "documents", sf)
    return repetition_stats(docs).orderBy("doc_id")


from dvmax_spark.ext.textstats import gopher_repetition, gopher_repetition_sql


@query("x_gopher_repetition", ids=("X15", "X8"), sql=gopher_repetition_sql())
def x_gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """[X15] The COMPLETE Gopher repetition battery (Rae et al. 2021
    §A1.1): per doc, token-position coverage of the top n-gram for
    n=2..4 and of ALL within-doc duplicated n-grams for n=5..10, as
    exact integer ppm, plus the published 9-threshold keep gate —
    the position-coverage upgrade of x_repetition_stats' count
    fractions. One combined explode for all nine n in a single corpus
    pass; everything after is bounded by document length."""
    docs = load_table(spark, "documents", sf)
    return gopher_repetition(docs)


@query(
    "x_pii_redact",
    ids=("X16",),
    bench=True,
    sql="""
    WITH base AS (
      SELECT doc_id,
             text || ' Contact: user' || doc_id || '@mail.example.com or +1-555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now.' AS text
      FROM documents
    ), e AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g')
               AS after_email
      FROM base
    )
    SELECT doc_id, n_emails,
           len(regexp_extract_all(after_email, '\\+?[0-9][0-9() -]{6,}[0-9]')) AS n_phones,
           regexp_replace(after_email, '\\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g')
             AS redacted
    FROM e ORDER BY doc_id
    """,
)
def x_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """[X16] PII scrubbing: deterministic contact info is appended to
    each doc (so expected output is non-empty), then emails/phones are
    counted and replaced with typed tags. Patterns restricted to the
    Java∩RE2 regex subset; redacted strings hash-compared whole."""
    from dvmax_spark.ext.textstats import pii_redact

    docs = load_table(spark, "documents", sf)
    base = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" now."),
        ).alias("text"),
    )
    return (
        pii_redact(base)
        .select("doc_id", "n_emails", "n_phones", "redacted")
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- multimodal


@query(
    "x_image_features",
    ids=("X11",),
    sql="""
    SELECT d.doc_id,
           CAST(8 + d.doc_id % 16 AS INT) AS width,
           CAST(8 + (d.doc_id // 16) % 16 AS INT) AS height,
           CAST(SUM((d.doc_id + gx.x + 2*gy.y) % 256) AS BIGINT) AS luma_sum
    FROM documents d
    CROSS JOIN generate_series(0, 22) AS gx(x)
    CROSS JOIN generate_series(0, 22) AS gy(y)
    WHERE gx.x < 8 + d.doc_id % 16 AND gy.y < 8 + (d.doc_id // 16) % 16
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def x_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal image path, decode REAL end to end: each doc gets an
    actual PNG payload (pure-stdlib encoder, dims + pixel gradient a
    function of doc_id), mapInPandas parses the header and decodes the
    scanlines (zlib + filter reversal — ext/multimodal.py), and the
    oracle recomputes the integer pixel sum in SQL. luma_sum =
    mean_luma·w·h rounded back to the exact integer, so parity is
    integer-exact with no float hazards."""
    from dvmax_spark.ext.multimodal import attach_fake_payload, extract_image_features

    docs = load_table(spark, "documents", sf)
    feats = extract_image_features(attach_fake_payload(docs))
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * F.col("width") * F.col("height"))
        .cast("long")
        .alias("luma_sum"),
    ).orderBy("doc_id")


@query(
    "x_frame_sample",
    ids=("X12",),
    sql="""
    SELECT doc_id, unnest(generate_series(0, 100 + doc_id % 50 - 1, 10)) AS frame_idx
    FROM documents ORDER BY doc_id, frame_idx
    """,
)
def x_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plumbing: per-asset frame-index explosion
    (every 10th frame of a stubbed frame count)."""
    from dvmax_spark.ext.multimodal import frame_sample_plan

    docs = load_table(spark, "documents", sf)
    return frame_sample_plan(docs, every_n=10).orderBy("doc_id", "frame_idx")


@query(
    "x_audio_features",
    ids=("X12",),
    sql="""
    SELECT d.doc_id, 8000 AS sample_rate,
           CAST(400 + (d.doc_id % 5) * 200 AS INT) AS n_samples,
           (400 + (d.doc_id % 5) * 200) / 8000.0 AS duration_s,
           CAST(SUM(CAST(((i.i * (37 + d.doc_id % 13)) % 4096) - 2048 AS BIGINT)
                    * (((i.i * (37 + d.doc_id % 13)) % 4096) - 2048)) AS BIGINT)
             AS energy_sum,
           CAST(MAX(ABS(((i.i * (37 + d.doc_id % 13)) % 4096) - 2048)) AS INT) AS peak
    FROM documents d
    CROSS JOIN generate_series(0, 1199) AS i(i)
    WHERE i.i < 400 + (d.doc_id % 5) * 200
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def x_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal audio path, decode REAL end to end: each doc gets an
    actual PCM-16 WAV payload (pure-stdlib encoder, sawtooth derived
    from doc_id), mapInPandas walks the RIFF chunks and extracts sample
    rate / duration / integer energy / peak; the oracle recomputes the
    same sawtooth in SQL. energy_sum keeps parity integer-exact (rms is
    exposed by the operator but excluded from the hash — sqrt differs
    across libms)."""
    from dvmax_spark.ext.multimodal import attach_fake_audio, extract_audio_features

    docs = load_table(spark, "documents", sf)
    feats = extract_audio_features(attach_fake_audio(docs))
    return feats.select(
        "doc_id", "sample_rate", "n_samples", "duration_s", "energy_sum", "peak"
    ).orderBy("doc_id")


@query(
    "x_image_resize",
    ids=("X11",),
    sql="""
    SELECT d.doc_id, 8 AS width, 8 AS height,
           CAST(SUM((d.doc_id
                     + ((gx.x * (8 + d.doc_id % 16)) // 8)
                     + 2 * ((gy.y * (8 + (d.doc_id // 16) % 16)) // 8)) % 256)
                AS BIGINT) AS luma_sum
    FROM documents d
    CROSS JOIN generate_series(0, 7) AS gx(x)
    CROSS JOIN generate_series(0, 7) AS gy(y)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def x_image_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Image RESIZE, real end to end: synth PNG -> decode -> nearest-
    neighbor resample to 8x8 -> re-encode -> decode AGAIN and hash the
    resized pixel sum; the oracle recomputes the nearest-neighbor index
    map ((x*w)//8, (y*h)//8 into the doc_id gradient) in SQL. Proves
    two full encode/decode cycles plus the resample, integer-exact."""
    from dvmax_spark.ext.multimodal import (
        attach_fake_payload,
        extract_image_features,
        resize_images,
    )

    docs = load_table(spark, "documents", sf)
    resized = resize_images(attach_fake_payload(docs), out_w=8, out_h=8)
    feats = extract_image_features(resized)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * F.col("width") * F.col("height"))
        .cast("long")
        .alias("luma_sum"),
    ).orderBy("doc_id")


# ------------------------------------------------------------- streaming


@query(
    "t_tumbling_window",
    ids=("T1",),
    bench=True,
    sql="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def t_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time window agg — the same transform runs on a
    readStream frame with a watermark (tests/test_streaming.py verifies
    batch-stream equivalence)."""
    ev = load_table(spark, "events", sf)
    return tumbling_counts(ev, width="1 hour").orderBy("window_start", "event_type")


@query(
    "t_sliding_window",
    ids=("T1",),
    sql="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS w0, event_type FROM events
    ), e AS (
      SELECT w0 AS window_start, event_type FROM starts
      UNION ALL
      SELECT w0 - INTERVAL 30 MINUTE AS window_start, event_type FROM starts
    )
    SELECT window_start, event_type, count(*) AS n
    FROM e GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def t_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding event-time windows (1h width, 30m slide) — each event
    lands in exactly two windows; the oracle enumerates both 30-minute
    bucket starts per event. Same transform runs streaming with a
    watermark (tests/test_streaming.py)."""
    ev = load_table(spark, "events", sf)
    return sliding_counts(ev, width="1 hour", slide="30 minutes").orderBy(
        "window_start", "event_type"
    )


@query(
    "t_session_window",
    ids=("T2",),
    sql="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          + INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def t_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30 min gap) via native session_window — oracle
    reconstructs the identical semantics with lag+cumsum SQL."""
    ev = load_table(spark, "events", sf)
    return session_counts_batch(ev, gap="30 minutes").orderBy("user_id", "session_start")


@query(
    "t_interval_join",
    ids=("J4", "T1"),
    sql="""
    SELECT v.event_id AS view_id, v.user_id,
           p.ts AS buy_ts, p.value AS buy_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, buy_ts, buy_value
    """,
)
def t_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Time-interval equi-join (streaming/ops.py interval_join — the
    stream-stream join shape, run on the batch frame for the oracle):
    every purchase within 1h after a same-user view. On streams both
    sides carry watermarks so the join state is bounded
    (batch-equivalence proven in tests/test_streaming.py)."""
    from dvmax_spark.streaming.ops import interval_join

    ev = load_table(spark, "events", sf)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("value").alias("buy_value")
    )
    return (
        interval_join(
            views, buys, keys=["user_id"], left_ts="view_ts", right_ts="buy_ts",
            lower="0 seconds", upper="1 hour",
        )
        .select("view_id", "user_id", "buy_ts", "buy_value")
        .orderBy("view_id", "buy_ts", "buy_value")
    )


@query(
    "f_variant_json",
    ids=("F11",),
    sql="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def f_variant_json(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json into a
    VARIANT column, typed extraction with variant_get — the
    shredding-friendly engine-native alternative to per-access string
    re-parsing (get_json_object). Same answers as the string path by
    construction; the oracle is DuckDB JSON extraction."""
    ev = load_table(spark, "events", sf)
    v = ev.withColumn("pv", F.parse_json("props"))
    k = F.expr("variant_get(pv, '$.k', 'long')")
    return (
        v.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def _curation_funnel_sql() -> str:
    """Oracle for the full curation funnel, generated from the same
    LANG_STOPWORDS/constants as the Spark operators (single source of
    truth for both engines)."""
    from dvmax_spark.ext.textstats import LANG_STOPWORDS

    langs = list(LANG_STOPWORDS)
    en = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    score_exprs = ", ".join(
        "len(list_filter(t, x -> x IN ({w}))) AS score_{l}".format(
            w=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), l=lang
        )
        for lang in langs
    )
    pred_cases = " ".join(
        "WHEN {c} THEN '{l}'".format(
            c=" AND ".join(f"score_{lang} >= score_{o}" for o in langs if o != lang),
            l=lang,
        )
        for lang in langs
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, text, str_split(text, ' ') AS t FROM documents
    ), q AS (
      SELECT doc_id, text, t,
             0.4 * least(len(t)::DOUBLE / 100.0, 1.0)
           + 0.3 * (CASE WHEN len(t) > 0
                         THEN len(list_distinct(t))::DOUBLE / len(t) ELSE 0.0 END)
           + 0.3 * least((CASE WHEN len(t) > 0
                               THEN len(list_filter(t, x -> x IN ({en})))::DOUBLE / len(t)
                               ELSE 0.0 END) * 4.0, 1.0) AS quality,
             {score_exprs}
      FROM toks
    ), lang AS (
      SELECT q.*, d.lang,
             CASE {pred_cases} ELSE '{langs[-1]}' END AS predicted_lang
      FROM q JOIN documents d USING (doc_id)
    ), grams AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 2
               THEN list_filter(list_transform(t, (x, i) ->
                      CASE WHEN i < len(t) THEN x || ' ' || t[i + 1] END),
                    g -> g IS NOT NULL) ELSE [] END) AS gram
      FROM toks
    ), freq AS (
      SELECT doc_id, gram, count(*) AS freq FROM grams GROUP BY doc_id, gram
    ), top AS (
      SELECT doc_id, max(freq) AS top_freq, sum(freq) AS n_grams FROM freq GROUP BY doc_id
    ), flags AS (
      SELECT l.doc_id,
             CASE WHEN l.quality >= 0.5 THEN 1 ELSE 0 END AS f_q,
             CASE WHEN l.lang = 'en' THEN 1 ELSE 0 END AS f_l,
             CASE WHEN (CASE WHEN len(l.t) > 0
                             THEN 1.0 - len(list_distinct(l.t))::DOUBLE / len(l.t)
                             ELSE 0.0 END) <= 0.7
                   AND coalesce(t2.top_freq::DOUBLE / t2.n_grams, 0.0) <= 0.2
                  THEN 1 ELSE 0 END AS f_r,
             trim(regexp_replace(lower(l.text), '\\s+', ' ', 'g')) AS norm
      FROM lang l LEFT JOIN top t2 ON l.doc_id = t2.doc_id
    )
    SELECT count(*) AS n_input,
           CAST(sum(f_q) AS BIGINT) AS n_quality,
           CAST(sum(f_q * f_l) AS BIGINT) AS n_lang,
           CAST(sum(f_q * f_l * f_r) AS BIGINT) AS n_repetition,
           count(DISTINCT CASE WHEN f_q * f_l * f_r = 1 THEN norm END) AS n_dedup
    FROM flags
    """


@query("x_curation_funnel", ids=("X1", "X8", "X9", "X15"), sql=_curation_funnel_sql())
def x_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship corpus-curation composition: quality gate (>= 0.5)
    -> language gate (declared lang = 'en'; the heuristic lang-ID
    operator is oracled separately in x_lang_id) -> repetition gate (Gopher
    thresholds) -> exact dedup (distinct normalized text), reported as
    per-stage survivor counts in ONE distributed pass (flags are
    per-row expressions; the only aggregation is the final funnel
    count). Every stage reuses the already-oracled operator — and the
    funnel itself hash-matches the composed DuckDB oracle, proving the
    stages compose without drift."""
    from dvmax_spark.ext.dedup import normalize_text
    from dvmax_spark.ext.textstats import lang_scores, quality_score, repetition_stats

    docs = load_table(spark, "documents", sf)
    rep = repetition_stats(docs).select("doc_id", "passes_repetition_gate")
    flagged = (
        lang_scores(quality_score(docs))
        .join(rep, "doc_id")
        .select(
            (F.col("quality") >= 0.5).cast("int").alias("f_q"),
            (F.col("lang") == "en").cast("int").alias("f_l"),
            F.col("passes_repetition_gate").alias("f_r"),
            normalize_text(F.col("text")).alias("norm"),
        )
    )
    keep3 = (F.col("f_q") * F.col("f_l") * F.col("f_r") == 1)
    return flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum("f_q").alias("n_quality"),
        F.sum(F.col("f_q") * F.col("f_l")).alias("n_lang"),
        F.sum(F.col("f_q") * F.col("f_l") * F.col("f_r")).alias("n_repetition"),
        F.countDistinct(F.when(keep3, F.col("norm"))).alias("n_dedup"),
    )


@query(
    "t_stateful_session",
    ids=("T2", "T3"),
    sql="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                                + INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def t_stateful_session(spark: SparkSession, sf: str) -> DataFrame:
    """T3: CUSTOM stateful streaming operator (applyInPandasWithState).

    This runs a REAL multi-micro-batch streaming query, not a batch
    stand-in: the events slice is staged into time-ordered files, read
    back one file per trigger, and per-user session state (start, last
    ts, count, running value sum — a payload `session_window` cannot
    carry) persists across micro-batches through the state store. A
    per-key flush sentinel closes open sessions at end-of-stream, so
    the emitted sessions are deterministic and hash-match the
    gaps-and-islands oracle. State is one fixed-width row per live
    user — at 100 TB the state store scales with |active keys|, not
    |events| (streaming/stateful.py design note)."""
    from dvmax_spark.streaming.stateful import run_sessionize_stream

    ev = load_table(spark, "events", sf)
    out = run_sessionize_stream(spark, ev, gap_seconds=4 * 3600, n_files=3)
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    ).orderBy("user_id", "session_start")


@query(
    "x_incremental_dedup",
    ids=("X3", "X17"),
    bench=True,
    sql=incremental_dedup_sql(num_hashes=32, bands=16, threshold=0.1),
)
def x_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """INCREMENTAL near-dup detection — the production daily-batch
    shape: the historical corpus (source='src0') lives as a PERSISTED
    banded-LSH index artifact (:func:`_mhidx_src0` — written once as
    the historical data landed, meta-validated on every call,
    pre-built and separately timed by bench.py exactly like the
    NearDupGraph/label artifacts); the incoming batch (every other
    source) computes only its own signatures and joins the index on
    the band key. No corpus-wide recompute, ever — the benched wall is
    pure match_new, the steady-state read path (r11, VERDICT r10 #6;
    through r10 the query rebuilt the src0 index inside its own wall).
    Value-exact against the full-corpus LSH oracle restricted to cross
    pairs (same portable hashes, so the incremental path provably
    finds exactly the pairs the batch path would)."""
    idx = _mhidx_src0(spark, sf)
    new = (
        load_table(spark, "documents", sf)
        .where(F.size(F.split(F.col("text"), " ")) >= 2)
        .where(F.col("source") != "src0")
    )
    return idx.match_new(new, threshold=0.1).orderBy("new_id", "old_id")


@query(
    "x_pseudonymize",
    ids=("X16", "F9"),
    sql="""
    SELECT user_id,
           substr(sha256('pepper:v1:' || CAST(user_id AS VARCHAR)), 1, 16) AS pseudonym,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def x_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic pseudonymization (privacy-preserving release): a
    peppered SHA-256 of the identifier replaces it, STABLE across
    tables and runs so joins/groupBys still line up after the raw id is
    dropped — the standard pre-release tokenization step for training
    data carrying user keys. Map-side expression, value-exact across
    engines (both compute SHA-256 of identical bytes). The real id
    rides along here only to prove join-consistency; a release pipeline
    drops it in the final projection. Pepper rotation = version bump in
    the prefix."""
    ev = load_table(spark, "events", sf)
    pseud = F.substring(
        F.sha2(
            F.concat(F.lit("pepper:v1:"), F.col("user_id").cast("string")), 256
        ),
        1,
        16,
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id", pseud.alias("pseudonym"), "n_events", "total_value"
        )
        .orderBy("user_id")
    )


@query(
    "v_k_anonymity",
    ids=("V9", "A1"),
    sql="""
    WITH qi AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS group_n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT CAST(sum(CASE WHEN group_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           CAST(sum(CASE WHEN group_n < 5 THEN group_n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           count(*) AS n_groups,
           min(group_n) AS min_group
    FROM qi
    """,
)
def v_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity audit before release: group sizes over the
    quasi-identifier combination (event_type, day); groups under k=5
    are re-identification risks — their rows are the suppression /
    generalization work-list. One partial-agg shuffle on the QI keys
    then a tiny scalar summary; at 100 TB this is the same plan as any
    rollup."""
    ev = load_table(spark, "events", sf)
    qi = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("group_n")
    )
    small = F.col("group_n") < 5
    return qi.agg(
        F.sum(small.cast("bigint")).alias("n_small_groups"),
        F.sum(F.when(small, F.col("group_n")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("group_n").alias("min_group"),
    )


@query(
    "x_image_phash_dedup",
    ids=("X11", "X1"),
    sql="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 16 AS BIGINT) AS w,
             CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
      FROM documents
    ), px AS (
      SELECT d.doc_id, d.w, d.h, gy.y * 8 + gx.x AS idx,
             (d.doc_id + ((gx.x * d.w) // 8) + 2 * ((gy.y * d.h) // 8)) % 256 AS p
      FROM dims d
      CROSS JOIN generate_series(0, 7) AS gx(x)
      CROSS JOIN generate_series(0, 7) AS gy(y)
    ), s AS (
      SELECT doc_id, SUM(p) AS total FROM px GROUP BY doc_id
    ), bits AS (
      SELECT px.doc_id, px.w, px.h, px.idx,
             CASE WHEN px.p * 64 >= s.total THEN 1 ELSE 0 END AS bit
      FROM px JOIN s USING (doc_id)
    ), hashes AS (
      SELECT doc_id, w, h,
             CAST(SUM(CASE WHEN idx < 32
                           THEN bit * (CAST(1 AS BIGINT) << idx)
                           ELSE 0 END) AS BIGINT) AS ahash_lo,
             CAST(SUM(CASE WHEN idx >= 32
                           THEN bit * (CAST(1 AS BIGINT) << (idx - 32))
                           ELSE 0 END) AS BIGINT) AS ahash_hi
      FROM bits GROUP BY doc_id, w, h
    )
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           ahash_hi, ahash_lo,
           count(*) OVER (PARTITION BY w, h, ahash_hi, ahash_lo)
             AS n_same_hash
    FROM hashes ORDER BY doc_id
    """,
)
def x_image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual image dedup, decode REAL end to end: each doc's
    synthetic PNG is actually encoded, decoded (zlib + filter
    reversal) and aHashed in an Arrow batch (ext/multimodal.py:
    ahash64 — 8×8 nearest-neighbor sample, integer mean threshold),
    then duplicate groups are ONE hash-shuffle on (dims, hash). The
    brightness-invariance of aHash makes re-leveled copies collide
    where byte hashing (X1) sees distinct files — the image-side
    member of the dedup family. Oracle recomputes the identical
    integer bit math in SQL; parity is integer-exact."""
    from pyspark.sql import Window

    from dvmax_spark.ext.multimodal import attach_fake_payload, perceptual_hashes

    docs = load_table(spark, "documents", sf)
    hashes = perceptual_hashes(attach_fake_payload(docs.select("doc_id")))
    w = Window.partitionBy("width", "height", "ahash_hi", "ahash_lo")
    return (
        hashes.select(
            "doc_id",
            "width",
            "height",
            "ahash_hi",
            "ahash_lo",
            F.count(F.lit(1)).over(w).alias("n_same_hash"),
        )
        .orderBy("doc_id")
    )


@query(
    "x_audio_fp_dedup",
    ids=("X12", "X1"),
    sql="""
    WITH par AS (
      SELECT doc_id,
             CAST(400 + (doc_id % 5) * 200 AS BIGINT) AS n,
             CAST(37 + (doc_id % 13) AS BIGINT) AS step
      FROM documents
    ), samp AS (
      SELECT p.doc_id, p.n, (g.i * 8) // p.n AS k,
             abs(((g.i * p.step) % 4096) - 2048) AS a
      FROM par p
      CROSS JOIN generate_series(0, 1399) AS g(i)
      WHERE g.i < p.n
    ), seg AS (
      SELECT doc_id, n, k, SUM(a) AS e FROM samp GROUP BY doc_id, n, k
    ), tot AS (
      SELECT doc_id, SUM(e) AS total FROM seg GROUP BY doc_id
    ), fp AS (
      SELECT seg.doc_id, seg.n,
             CAST(SUM(CASE WHEN seg.e * 8 >= tot.total
                           THEN CAST(1 AS BIGINT) << seg.k
                           ELSE 0 END) AS BIGINT) AS fingerprint
      FROM seg JOIN tot USING (doc_id)
      GROUP BY seg.doc_id, seg.n
    )
    SELECT doc_id, n AS n_samples, fingerprint,
           count(*) OVER (PARTITION BY n, fingerprint) AS n_same_fp
    FROM fp ORDER BY doc_id
    """,
)
def x_audio_fp_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-dup fingerprinting, parse REAL end to end: each
    doc's synthetic WAV is RIFF-parsed to raw PCM in an Arrow batch
    and reduced to an 8-bit integer energy-envelope hash
    (ext/multimodal.py:audio_fingerprint — level-scaled copies
    collide, the audio analog of aHash); dup groups are one
    hash-shuffle on (n_samples, fingerprint). Oracle recomputes the
    identical integer sawtooth math in SQL; parity is integer-exact."""
    from pyspark.sql import Window

    from dvmax_spark.ext.multimodal import attach_fake_audio, audio_fingerprints

    docs = load_table(spark, "documents", sf)
    fps = audio_fingerprints(
        attach_fake_audio(docs.select("doc_id")), payload_col="audio"
    )
    w = Window.partitionBy("n_samples", "fingerprint")
    return (
        fps.select(
            "doc_id",
            "n_samples",
            "fingerprint",
            F.count(F.lit(1)).over(w).alias("n_same_fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "x_image_phash_near",
    ids=("X11", "X3"),
    sql="""
    WITH dims AS (
      SELECT doc_id,
             CAST(8 + doc_id % 16 AS BIGINT) AS w,
             CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
      FROM documents
    ), px AS (
      SELECT d.doc_id, d.w, d.h, gy.y * 8 + gx.x AS idx,
             (d.doc_id + ((gx.x * d.w) // 8) + 2 * ((gy.y * d.h) // 8)) % 256 AS p
      FROM dims d
      CROSS JOIN generate_series(0, 7) AS gx(x)
      CROSS JOIN generate_series(0, 7) AS gy(y)
    ), s AS (
      SELECT doc_id, SUM(p) AS total FROM px GROUP BY doc_id
    ), bits AS (
      SELECT px.doc_id, px.w, px.h, px.idx,
             CASE WHEN px.p * 64 >= s.total THEN 1 ELSE 0 END AS bit
      FROM px JOIN s USING (doc_id)
    ), hashes AS (
      SELECT doc_id, w, h,
             CAST(SUM(CASE WHEN idx < 32
                           THEN bit * (CAST(1 AS BIGINT) << idx)
                           ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN idx >= 32
                           THEN bit * (CAST(1 AS BIGINT) << (idx - 32))
                           ELSE 0 END) AS BIGINT) AS hi
      FROM bits GROUP BY doc_id, w, h
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b
      ON a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
    ORDER BY id_a, id_b
    """,
)
def x_image_phash_near(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-duplicate image pairs via banded hamming LSH over the
    aHash — the image-side analog of minhash banding: the 64-bit hash
    splits into 4×16-bit bands, candidates meet on (dims, band index,
    band value) — never n² — and the exact hamming distance verifies.
    The ≤3 threshold is chosen for PROVABLE recall: 3 flipped bits
    cannot touch all 4 bands (pigeonhole), so every qualifying pair
    shares at least one clean band and the banded path returns exactly
    the brute-force oracle's pairs. Same cap_buckets guard as text
    LSH would apply on degenerate corpora."""
    from dvmax_spark.ext.multimodal import attach_fake_payload, perceptual_hashes

    docs = load_table(spark, "documents", sf)
    hashes = perceptual_hashes(attach_fake_payload(docs.select("doc_id")))
    mask = F.lit(0xFFFF).cast("long")
    banded = hashes.select(
        "doc_id",
        "width",
        "height",
        "ahash_hi",
        "ahash_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("bi"), F.col("ahash_lo").bitwiseAND(mask).alias("bv")),
                F.struct(F.lit(1).alias("bi"), F.shiftright("ahash_lo", 16).bitwiseAND(mask).alias("bv")),
                F.struct(F.lit(2).alias("bi"), F.col("ahash_hi").bitwiseAND(mask).alias("bv")),
                F.struct(F.lit(3).alias("bi"), F.shiftright("ahash_hi", 16).bitwiseAND(mask).alias("bv")),
            )
        ).alias("band"),
    ).select("doc_id", "width", "height", "ahash_hi", "ahash_lo", "band.bi", "band.bv")
    a = banded.select(
        F.col("doc_id").alias("id_a"),
        "width", "height", "bi", "bv",
        F.col("ahash_hi").alias("hi_a"),
        F.col("ahash_lo").alias("lo_a"),
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"),
        "width", "height", "bi", "bv",
        F.col("ahash_hi").alias("hi_b"),
        F.col("ahash_lo").alias("lo_b"),
    )
    ham = (
        F.bit_count(F.expr("hi_a ^ hi_b")) + F.bit_count(F.expr("lo_a ^ lo_b"))
    ).cast("long")
    return (
        a.join(b, ["width", "height", "bi", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= 3)
        .distinct()
        .orderBy("id_a", "id_b")
    )


@query(
    "x_multimodal_funnel",
    ids=("X8", "X11", "X12", "X1"),
    sql="""
    WITH t AS (
      SELECT doc_id, source, str_split(text, ' ') AS toks FROM documents
    ), q AS (
      SELECT doc_id, source,
             round(0.4 * least(len(toks)::DOUBLE / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len(toks) > 0
                               THEN len(list_distinct(toks))::DOUBLE / len(toks)
                               ELSE 0 END)
                 + 0.3 * least((CASE WHEN len(toks) > 0
                                     THEN len(list_filter(toks,
                                          x -> x IN ('the','a','of','and','in','to','is')))::DOUBLE
                                          / len(toks)
                                     ELSE 0 END) * 4.0, 1.0), 4) AS quality
      FROM t
    ), dims AS (
      SELECT doc_id, CAST(8 + doc_id % 16 AS BIGINT) AS w,
             CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
      FROM documents
    ), px AS (
      SELECT d.doc_id, d.w, d.h, gy.y * 8 + gx.x AS idx,
             (d.doc_id + ((gx.x * d.w) // 8) + 2 * ((gy.y * d.h) // 8)) % 256 AS p
      FROM dims d
      CROSS JOIN generate_series(0, 7) AS gx(x)
      CROSS JOIN generate_series(0, 7) AS gy(y)
    ), ps AS (
      SELECT doc_id, SUM(p) AS total FROM px GROUP BY doc_id
    ), ih AS (
      SELECT px.doc_id, px.w, px.h,
             CAST(SUM(CASE WHEN idx < 32
                           THEN (CASE WHEN px.p * 64 >= ps.total THEN 1 ELSE 0 END)
                                * (CAST(1 AS BIGINT) << idx) ELSE 0 END) AS BIGINT) AS lo,
             CAST(SUM(CASE WHEN idx >= 32
                           THEN (CASE WHEN px.p * 64 >= ps.total THEN 1 ELSE 0 END)
                                * (CAST(1 AS BIGINT) << (idx - 32)) ELSE 0 END) AS BIGINT) AS hi
      FROM px JOIN ps USING (doc_id) GROUP BY px.doc_id, px.w, px.h
    ), img AS (
      SELECT doc_id,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY w, h, hi, lo)
                  THEN 1 ELSE 0 END AS img_dup
      FROM ih
    ), par AS (
      SELECT doc_id, CAST(400 + (doc_id % 5) * 200 AS BIGINT) AS n,
             CAST(37 + (doc_id % 13) AS BIGINT) AS step
      FROM documents
    ), samp AS (
      SELECT p.doc_id, p.n, (g.i * 8) // p.n AS k,
             abs(((g.i * p.step) % 4096) - 2048) AS a
      FROM par p CROSS JOIN generate_series(0, 1399) AS g(i)
      WHERE g.i < p.n
    ), seg AS (
      SELECT doc_id, n, k, SUM(a) AS e FROM samp GROUP BY doc_id, n, k
    ), tot AS (
      SELECT doc_id, SUM(e) AS total FROM seg GROUP BY doc_id
    ), af AS (
      SELECT seg.doc_id, seg.n,
             CAST(SUM(CASE WHEN seg.e * 8 >= tot.total
                           THEN CAST(1 AS BIGINT) << seg.k ELSE 0 END) AS BIGINT) AS fp
      FROM seg JOIN tot USING (doc_id) GROUP BY seg.doc_id, seg.n
    ), aud AS (
      SELECT doc_id,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY n, fp)
                  THEN 1 ELSE 0 END AS aud_dup
      FROM af
    )
    SELECT q.source,
           count(*) AS n_docs,
           CAST(sum(img.img_dup) AS BIGINT) AS n_img_dups,
           CAST(sum(aud.aud_dup) AS BIGINT) AS n_audio_dups,
           CAST(sum(CASE WHEN q.quality >= 0.5 AND img.img_dup = 0
                              AND aud.aud_dup = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM q JOIN img USING (doc_id) JOIN aud USING (doc_id)
    GROUP BY q.source ORDER BY q.source
    """,
)
def x_multimodal_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """The multimodal curation funnel in ONE dataflow: text quality
    (X8 heuristic), perceptual image dedup (aHash group, canonical =
    min doc id) and audio fingerprint dedup compose into a per-doc
    keep verdict, reported per source. The three modality signals are
    independent scans that join on doc_id — at 100 TB each runs at its
    own parallelism and the verdict join is three slim (id, flag)
    tables, not a re-shuffle of payload bytes."""
    from pyspark.sql import Window

    from dvmax_spark.ext.multimodal import (
        attach_fake_audio,
        attach_fake_payload,
        audio_fingerprints,
        perceptual_hashes,
    )
    from dvmax_spark.ext.textstats import quality_score

    docs = load_table(spark, "documents", sf)
    q = quality_score(docs).select(
        "doc_id", "source", F.round("quality", 4).alias("quality")
    )
    iw = Window.partitionBy("width", "height", "ahash_hi", "ahash_lo")
    img = perceptual_hashes(attach_fake_payload(docs.select("doc_id"))).select(
        "doc_id",
        (F.col("doc_id") > F.min("doc_id").over(iw)).cast("int").alias("img_dup"),
    )
    aw = Window.partitionBy("n_samples", "fingerprint")
    aud = audio_fingerprints(
        attach_fake_audio(docs.select("doc_id")), payload_col="audio"
    ).select(
        "doc_id",
        (F.col("doc_id") > F.min("doc_id").over(aw)).cast("int").alias("aud_dup"),
    )
    kept = (
        (F.col("quality") >= 0.5)
        & (F.col("img_dup") == 0)
        & (F.col("aud_dup") == 0)
    ).cast("int")
    return (
        q.join(img, "doc_id")
        .join(aud, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("img_dup").alias("n_img_dups"),
            F.sum("aud_dup").alias("n_audio_dups"),
            F.sum(kept).alias("n_kept"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------- soft dedup mass
def _soft_dedup_mass_sql() -> str:
    """Oracle: the full dedup_clusters recursive-CTE pipeline as a
    FROM-subquery, aggregated to per-source duplicate-mass shrinkage.
    All arithmetic exact bigint (`//` matches Spark `div`)."""
    return f"""
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered,
           CAST(sum(d.n_chars) AS BIGINT) AS raw_chars,
           CAST(sum((1000000 * d.n_chars) // c.cluster_size) AS BIGINT)
             AS eff_chars_x1e6
    FROM documents d
    JOIN ({dedup_clusters_sql()}) c USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """


@query("x_soft_dedup_mass", ids=("X17", "X21"), bench=True, sql=_soft_dedup_mass_sql())
def x_soft_dedup_mass(spark: SparkSession, sf: str) -> DataFrame:
    """Soft deduplication (keep everything, DOWN-WEIGHT duplicates by
    1/cluster_size) accounted per source: raw char mass vs effective
    (weight-scaled) mass — the duplicate-shrinkage dashboard that
    tells a mixture owner how much of each source is repeated template
    mass before hard-dropping anything. Weights stay exact integers
    (ppm-scaled bigint `div`, the proven all-integer parity pattern),
    so the whole pipeline — LSH pairs -> connected components ->
    inverse-cluster-size weights -> per-source rollup — is value-exact
    vs the recursive-CTE oracle. Pairs read from the persisted
    NearDupGraph artifact (_ndg_pairs)."""
    docs = load_table(spark, "documents", sf)
    clusters = dedup_clusters(docs, _ndg_pairs(spark, sf), rank_col="n_chars")
    joined = docs.select("doc_id", "source", "n_chars").join(
        clusters.select("doc_id", "cluster_size"), "doc_id"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("cluster_size") > 1).cast("int"))
            .cast("bigint")
            .alias("n_clustered"),
            F.sum("n_chars").alias("raw_chars"),
            F.sum(F.expr("(1000000 * n_chars) div cluster_size")).alias(
                "eff_chars_x1e6"
            ),
        )
        .orderBy("source")
    )


from dvmax_spark.ext.dedup import canonical_by_degree, canonical_by_degree_sql


@query("x_canonical_by_degree", ids=("X17", "X3"), sql=canonical_by_degree_sql())
def x_canonical_by_degree(spark: SparkSession, sf: str) -> DataFrame:
    """Centrality-based canonical selection: per near-dup cluster, keep
    the doc with the most pair edges (the template hub) instead of the
    longest variant — the alternative canonicalization policy, with the
    per-cluster argmax as a map-side max_by aggregate rather than a
    corpus window. Value-exact vs the recursive-CTE oracle. Pairs read
    from the persisted NearDupGraph artifact (_ndg_pairs)."""
    docs = load_table(spark, "documents", sf)
    return canonical_by_degree(docs, _ndg_pairs(spark, sf))


# --------------------------------------------------------- bot regularity
_BOT_REGULARITY_SQL = """
    WITH s AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ), g AS (
      SELECT user_id,
             (us // 1000000) - lag(us // 1000000) OVER (
               PARTITION BY user_id ORDER BY us, event_id) AS gap
      FROM s
    ), a AS (
      SELECT user_id, CAST(count(gap) AS BIGINT) AS n_gaps,
             CAST(sum(gap) AS BIGINT) AS sum_gap,
             CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           (1000 * sum_gap) // n_gaps AS mean_gap_x1e3,
           n_gaps * sum_gap2 - sum_gap * sum_gap AS var_num,
           CASE WHEN n_gaps * sum_gap2 - sum_gap * sum_gap
                     < 900 * n_gaps * n_gaps THEN 1 ELSE 0 END AS is_regular
    FROM a ORDER BY user_id
    """


@query("x_bot_regularity", ids=("X8", "W1"), sql=_BOT_REGULARITY_SQL)
def x_bot_regularity(spark: SparkSession, sf: str) -> DataFrame:
    """Machine-behavior detection by inter-event timing regularity:
    per user, the variance of second-granular gaps between consecutive
    events — near-constant cadence (std below 30 s here) is the
    scripted-traffic signature human activity doesn't produce, the
    behavioral cousin of the repetition filters that drop
    machine-generated TEXT. Exact integer end-to-end: gaps are integer
    seconds, variance is the n·Σg² − (Σg)² numerator (no division
    until the final exact `div`), so the query is value-exact. One
    window + one aggregation, both partitioned by user — no global
    structure."""
    from dvmax_spark.functions.scalar import epoch_micros

    ev = load_table(spark, "events", sf).select(
        "user_id", "event_id", epoch_micros("ts").alias("us")
    )
    sec = F.expr("us div 1000000")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = ev.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    a = g.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
        F.sum(F.col("gap") * F.col("gap")).alias("sum_gap2"),
    )
    var_num = F.col("n_gaps") * F.col("sum_gap2") - F.col("sum_gap") * F.col("sum_gap")
    return a.select(
        "user_id",
        "n_gaps",
        F.expr("(1000 * sum_gap) div n_gaps").alias("mean_gap_x1e3"),
        var_num.alias("var_num"),
        (var_num < 900 * F.col("n_gaps") * F.col("n_gaps"))
        .cast("int")
        .alias("is_regular"),
    ).orderBy("user_id")


# ------------------------------------------------------ dup-graph pagerank
from dvmax_spark.ext.dedup import pagerank_centrality, pagerank_centrality_sql


@query("x_dup_pagerank", ids=("X17", "X3"), bench=True, sql=pagerank_centrality_sql())
def x_dup_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph — ranks
    template hubs by the centrality of their neighbours, not just
    degree (the :func:`canonical_by_degree` upgrade). All-BIGINT
    fixed-point iteration, so the 5-step distributed computation is
    value-exact against the unrolled-CTE oracle. Pairs read from the
    persisted NearDupGraph artifact (_ndg_pairs) — the docstring claim
    in pagerank_centrality ('materialize the pair table once, every
    consumer reads it') as the benched reality."""
    return pagerank_centrality(_ndg_pairs(spark, sf))


from dvmax_spark.ext.dedup import dup_graph_census, dup_graph_census_sql


@query("x_dup_graph_census", ids=("X17", "X3"), sql=dup_graph_census_sql())
def x_dup_graph_census(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup graph census: nodes / edges / wedges / triangles and
    the global clustering coefficient as exact ppm — one row that
    says whether dup mass is template fan-out (stars, cc→0) or
    mirrored corpora (cliques, cc→1). Ordered a<b<c two-join triangle
    count; value-exact. Pairs read from the persisted NearDupGraph
    artifact (_ndg_pairs)."""
    return dup_graph_census(_ndg_pairs(spark, sf))


from dvmax_spark.ext.textstats import token_entropy, token_entropy_sql


@query("x_token_entropy", ids=("X8", "X15"), sql=token_entropy_sql())
def x_token_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Information-theoretic repetition filter: the 20 lowest
    token-entropy documents (≥20 tokens) — catches ANY low-diversity
    pattern the duplicate-fraction / top-bigram heuristics see only
    partially. Exact-BIGINT ppm entropy (single-rounded per-type
    terms, integer sums), value-exact."""
    return token_entropy(load_table(spark, "documents", sf))


# --------------------------------------------- exact set-similarity join
from dvmax_spark.ext.dedup import jaccard_prefix_join, jaccard_prefix_join_sql


@query("x_jaccard_prefix_join", ids=("X2", "X17"), sql=jaccard_prefix_join_sql())
def x_jaccard_prefix_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT Jaccard≥t set-similarity self-join via prefix filtering
    (AllPairs/PPJoin) over trigram shingle sets — candidates come only
    from each doc's globally rarest shingles, with length and PPJoin
    positional filters, then an exact intersection count. The oracle
    is the BRUTE-FORCE all-pairs scan, so a hash match proves the
    pruning is lossless (algorithmic equivalence, not same-code-twice).
    All-integer ppm arithmetic; value-exact."""
    return jaccard_prefix_join(load_table(spark, "documents", sf))


from dvmax_spark.ext.dedup import edit_distance_join, edit_distance_join_sql


@query("x_edit_distance_join", ids=("X2", "X17"), sql=edit_distance_join_sql(k=5, q=3))
def x_edit_distance_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT edit-distance similarity self-join (Ed-Join, Xiao/Wang/
    Lin VLDB'08): all pairs with levenshtein <= 5, via positional
    char-trigram multisets expanded to (gram, occurrence) set
    elements, rarity-ordered k*q+1 prefix filter, length filter, and
    built-in levenshtein verification — the edit-METRIC sibling of
    x_jaccard_prefix_join. Oracle is the brute-force all-pairs scan,
    so a hash match proves the prefix pruning lossless."""
    return edit_distance_join(
        load_table(spark, "documents", sf), k=5, q=3
    ).orderBy("id_a", "id_b")


from dvmax_spark.ext.dedup import edit_dedup_clusters_sql


@query(
    "x_edit_dedup_clusters",
    ids=("X17", "X2"),
    sql=edit_dedup_clusters_sql(k=5, q=3),
)
def x_edit_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Typo-level dedup verdicts: edit-distance pairs (Ed-Join, k=5)
    fed into the SAME connected-components + canonical-selection
    operator the MinHash pipeline uses (ext/dedup.py:dedup_clusters) —
    pair generators and the clustering step compose freely. Oracle is
    brute-force levenshtein pairs + recursive reachability, so the
    match proves both the pruned join AND the distributed components
    lossless in one shot."""
    from dvmax_spark.ext.dedup import dedup_clusters, edit_join_min_len

    # universe bound derived from (k, q), never a literal: it must stay
    # in lock-step with edit_distance_join's internal exclusion and the
    # edit_dedup_clusters_sql oracle (ADVICE r7)
    docs = load_table(spark, "documents", sf).where(
        F.length("text") >= edit_join_min_len(k=5, q=3)
    )
    pairs = edit_distance_join(docs, k=5, q=3).select("id_a", "id_b")
    return dedup_clusters(docs, pairs, rank_col="n_chars").orderBy("doc_id")


# ---------------------------------------------- one-permutation minhash
from dvmax_spark.ext.dedup import minhash_oph_pairs, minhash_oph_sql


@query("x_minhash_oph", ids=("X3", "X17"), bench=True, sql=minhash_oph_sql(threshold=0.25))
def x_minhash_oph(spark: SparkSession, sf: str) -> DataFrame:
    """One-permutation MinHash LSH (Li NIPS'12; Shrivastava & Li
    ICML'14 rotation densification): ONE portable hash per shingle
    binned mod k with per-bin minima, empty bins borrowing cyclically
    right — O(tokens) signature work vs the classic O(tokens × k),
    feeding the SAME banded-LSH pair pipeline. Bucket rule,
    densification, band keys, and position-match scoring are exact
    integer constructions, so the pairs are value-exact vs DuckDB."""
    docs = load_table(spark, "documents", sf)
    return (
        minhash_oph_pairs(
            docs.where(F.size(F.split(F.col("text"), " ")) >= 3),
            num_buckets=64,
            bands=16,
            shingle_n=3,
            threshold=0.25,
        )
        .orderBy("id_a", "id_b")
    )


from dvmax_spark.ext.dedup import containment_pairs, containment_pairs_sql


@query("x_containment_pairs", ids=("X2", "X15"), sql=containment_pairs_sql())
def x_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment join (|A∩B|/|A| >= 0.7 on 3-gram sets):
    finds documents (nearly) CONTAINED in others — the quote-inclusion
    / partial-duplication verdict Jaccard structurally misses (tiny
    union dominates). Exact integer ppm, one inverted-index shuffle,
    both directions from a single symmetric intersection count
    (ext/dedup.py:containment_pairs)."""
    return containment_pairs(load_table(spark, "documents", sf))
