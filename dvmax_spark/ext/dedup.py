"""[EXT] Deduplication operators for training-data pipelines.

Five strategies, each picked for a different scale/accuracy point:

  * exact_dedup        — content hash + keep-one; one shuffle on the
                         hash; the 100 TB workhorse.
  * minhash_lsh_pairs  — shingle → MinHash signature → banded LSH →
                         bucket join; candidate generation never
                         compares all pairs (O(n·bands) shuffle keys).
  * simhash            — 64-bit near-dup fingerprint; hamming-ball
                         lookup via band rotation.
  * ngram_jaccard_pairs— exact Jaccard via inverted index (postings)
                         with hot-shingle pruning (document-frequency
                         cap) — exact but superlinear; for validation
                         and small/medium corpora.
  * embedding near-dup — see similarity.py (cosine over embeddings).

All signature math uses portable md5-derived token hashes (not engine
hash functions) so results are reproducible anywhere.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_MERSENNE = (1 << 61) - 1
_HASH_MOD = 1_000_000_007


def cap_buckets(df: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` members.

    A degenerate band key (empty docs, zero vectors, an all-stopword
    corpus) can put a huge fraction of rows in ONE bucket, making the
    within-bucket self-join quadratic in corpus size — the one way a
    banded-LSH plan dies at 100 TB. Mega-buckets carry no near-dup
    signal that ``exact_dedup`` doesn't already catch (their members
    are near-identical en masse), so dropping them bounds the worst
    case at O(n·max_bucket) pairs. The window count shuffles on the
    same keys as the downstream join, so Catalyst reuses the exchange.
    """
    if max_bucket is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .where(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def _perm_constants(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(k)]


def _portable_hash(tok: Column) -> Column:
    """60-bit engine-independent hash (md5 prefix)."""
    return F.conv(F.substring(F.md5(F.encode(tok, "utf-8")), 1, 15), 16, 10).cast("long")


def normalize_text(c: Column) -> Column:
    """Canonicalization before exact hashing: lowercase, collapse
    whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized content hash."""
    h = F.sha2(F.encode(normalize_text(F.col(text_col)), "utf-8"), 256)
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


def shingle_seq(text: Column | str, n: int) -> Column:
    """Ordered, NON-distinct word n-gram sequence (one gram per token
    position). Docs with fewer than ``n`` tokens yield an EMPTY array
    (no truncated gram) — the SQL-oracle shingling convention.

    Single shared implementation: set-semantics dedup (``shingles``)
    and position-semantics span statistics (ext/retrieval.py) both
    build on this, so the construction the oracles depend on can't
    drift between the two."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    # Build grams by zipping n whole-array slices (one O(len) copy each)
    # instead of transform(sequence, i -> slice(toks, i, n)): a per-
    # element slice allocates an array per gram under interpreted
    # higher-order eval and is ~8x slower at corpus scale.
    cnt = F.size(toks) - n + 1
    grams = F.slice(toks, 1, cnt)
    for k in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + k, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> (distinct) — avoids
    jaccard=1.0 pairs between unrelated one-word docs."""
    return F.array_distinct(shingle_seq(text, n))


def shingle_stream(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    cols: tuple[str, ...] = ("doc_id",),
    gpos_col: str | None = "gpos",
    g_col: str = "g",
) -> DataFrame:
    """Exploded word n-gram stream ``(*cols[, gpos], g)`` — the
    whole-stage-codegen form of ``posexplode(shingle_seq(...))``.

    Exploding the START INDEX and building each gram with plain
    ``slice`` + ``concat_ws`` keeps the corpus-proportional stage out
    of the interpreted higher-order evaluator that ``shingle_seq``'s
    zip-of-slices array construction pays when consumed via explode —
    measured 3.3x at sf0.1 (0.32 s vs 1.07 s for the n=8 stream),
    hash-identical output (r8). Short docs (< n tokens) contribute no
    rows, matching shingle_seq's empty-array convention; use
    ``shingle_seq`` itself when the ARRAY form is needed (signatures,
    set ops — array_distinct dedups without a shuffle there).
    """
    clash = {"_tk", "_p1"} & (set(df.columns) | set(cols) | {g_col, gpos_col})
    assert not clash, (
        f"shingle_stream uses internal columns {sorted(clash)}; rename the "
        "caller's columns (they would be silently clobbered)"
    )
    sel = [F.col(c) for c in cols]
    pos1 = F.explode(F.expr(f"sequence(1, size(_tk) - {n - 1})")).alias("_p1")
    out = [F.expr(f"concat_ws(' ', slice(_tk, _p1, {n}))").alias(g_col)]
    if gpos_col is not None:
        out.insert(0, (F.col("_p1") - 1).alias(gpos_col))
    return (
        df.withColumn("_tk", F.split(F.col(text_col), " "))
        .where(F.size("_tk") >= n)
        .select(*sel, "_tk", pos1)
        .select(*sel, *out)
    )


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, signature: array<bigint>)`` — k independent min-hashes
    over the shingle set. No UDFs, and no higher-order lambdas in the
    hot path: shingle hashes are EXPLODED and the k permutation minima
    run as codegen'd hash-aggregate expressions. Spark's partial
    aggregation collapses the (doc, shingle) stream to one row per doc
    per partition before the shuffle, so shuffle volume is
    O(docs × k × 8B) regardless of document length — the shape that
    survives 100 TB. (The earlier array_min(transform(...)) form was
    ~10× slower: interpreted lambda eval per shingle per permutation.)

    A doc whose shingle set is empty keeps a row with an all-null
    signature (left join back to the doc list), matching
    ``array_min([]) = null``; a NULL ``id_col`` that has shingles gets
    its real signature (the re-join is eqNullSafe).

    r8: the shingle stream and the md5 hash both run as plain codegen
    projections (shingle_stream + hash-as-column) instead of a
    ``transform`` lambda over the shingle array — and the per-doc
    ``array_distinct`` is dropped entirely: min-hash minima are
    idempotent to duplicate shingles, so the multiset stream gives
    bit-identical signatures without the array construction.
    """
    exploded = shingle_stream(
        df, text_col, shingle_n, cols=(id_col,), gpos_col=None
    ).select(F.col(id_col), (_portable_hash(F.col("g")) % _HASH_MOD).alias("_h"))
    aggs = [
        F.min((F.col("_h") * ((a % _HASH_MOD)) + (b % _HASH_MOD)) % _HASH_MOD).alias(f"_s{i}")
        for i, (a, b) in enumerate(_perm_constants(num_hashes))
    ]
    # null-safe re-join: a NULL doc_id that HAS shingles groups as its
    # own key above; a plain equi-join would hand it an all-null
    # signature (null keys never equi-match), silently diverging from
    # the earlier explode_outer+groupBy path that aggregated the
    # null-id group normally (r8 ADVICE).
    sigs = exploded.groupBy(id_col).agg(*aggs).withColumnRenamed(id_col, "_sig_id")
    return (
        df.select(F.col(id_col))
        .join(sigs, F.col(id_col).eqNullSafe(F.col("_sig_id")), "left")
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias("signature"),
        )
    )



def band_structs_expr(num_hashes: int, bands: int) -> "F.Column":
    """The ONE banding construction (band ordinal + comma-joined
    signature slice as band_key) shared by the batch LSH path, the
    persisted MinHashIndex, and mirrored by the SQL CTE generator —
    three consumers whose band keys must stay byte-compatible for
    joins and oracle parity to hold."""
    rows = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",", *[F.col("signature")[b * rows + r] for r in range(rows)]
                    ).alias("band_key"),
                )
                for b in range(bands)
            ]
        )
    ).alias("bk")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    rejoin_signatures: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    A pair lands in a bucket iff one of the ``bands`` signature slices
    matches exactly. Estimated Jaccard = fraction of equal signature
    positions; pairs below ``threshold`` are dropped. Shuffles on
    (band, band_hash) — never materializes the n² pair space, and
    ``max_bucket`` caps the within-bucket quadratic blowup on
    degenerate band keys (see :func:`cap_buckets`).

    ``rejoin_signatures`` picks the candidate-stage physical shape
    (identical results either way — asserted by a parity test):
      * False (default): band rows carry the signature inline; one
        self-join produces scored pairs directly. Fewest stages —
        fastest until the band shuffle (~bands x 8B x num_hashes per
        doc) dominates.
      * True: band rows carry ONLY ids; signatures re-attach by join
        after candidate dedup, and the signature table is checkpointed
        so the aggregation runs once. Cuts the band-shuffle payload
        ~``bands``x at the cost of two extra id-joins — the right
        trade once docs x num_hashes x bands outgrows cluster shuffle
        capacity (mega-corpus dedup).
    """
    sig = minhash_signature(df, text_col, num_hashes, shingle_n, id_col=id_col)
    return lsh_pairs_from_signatures(
        sig,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        rejoin_signatures=rejoin_signatures,
        id_col=id_col,
    )


def lsh_pairs_from_signatures(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    rejoin_signatures: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banding + candidate generation + position-match scoring over an
    ``(id_col, signature array<bigint>)`` table — the signature-agnostic
    back half of :func:`minhash_lsh_pairs`, shared with the
    one-permutation (:func:`minhash_signature_oph`) variant so both
    signature schemes feed the identical physical pair pipeline."""
    # The signature aggregation (shingle explode + num_hashes mins) is
    # the expensive subtree and it feeds 3+ consumers either way (cap
    # census + both self-join sides, or banding + two re-joins), so it
    # is materialized once in BOTH shapes (r10, guide §3.3/§5 — the
    # default path previously re-derived it per consumer: 8 parquet
    # scans in x_minhash_lsh's plan).
    sig = sig.localCheckpoint(eager=False)
    band_structs = band_structs_expr(num_hashes, bands)

    if rejoin_signatures:
        banded = sig.select(F.col(id_col), band_structs).select(
            id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
        )
        banded = cap_buckets(banded, ["band", "band_key"], max_bucket)
        cand = (
            banded.select(F.col("band"), F.col("band_key"), F.col(id_col).alias("id_a"))
            .join(
                banded.select(
                    F.col("band"), F.col("band_key"), F.col(id_col).alias("id_b")
                ),
                ["band", "band_key"],
            )
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.join(
            sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")),
            "id_a",
        ).join(
            sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")),
            "id_b",
        )
    else:
        banded = sig.select(F.col(id_col), F.col("signature"), band_structs).select(
            id_col,
            "signature",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
        banded = cap_buckets(banded, ["band", "band_key"], max_bucket)
        pairs = (
            banded.select(
                F.col("band"),
                F.col("band_key"),
                F.col(id_col).alias("id_a"),
                F.col("signature").alias("sig_a"),
            )
            .join(
                banded.select(
                    F.col("band"),
                    F.col("band_key"),
                    F.col(id_col).alias("id_b"),
                    F.col("signature").alias("sig_b"),
                ),
                ["band", "band_key"],
            )
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda eq: eq
        )
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _minhash_lsh_ctes(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
    max_bucket: int | None = 1000,
) -> str:
    """Shared CTE chain (shingle → signature → band → candidate pairs →
    thresholded ``lsh_pairs``) used by both :func:`minhash_lsh_sql` and
    :func:`dedup_clusters_sql`. Generated from the same
    ``_perm_constants`` the Spark side uses, so the two engines share
    constants by construction. ``max_bucket`` mirrors the Spark
    pipeline's cap_buckets mega-bucket drop (default 1000, same as
    :func:`minhash_lsh_pairs`) — it never binds at sf≤0.1 but does on
    the second-decade corpus (r9 sf1 parity finding)."""
    assert shingle_n == 2, "oracle generator covers the bigram case"
    rows = num_hashes // bands
    perms = _perm_constants(num_hashes)
    hash_expr = "(('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007)"
    sig_exprs = ",\n             ".join(
        f"list_min(list_transform(hs, h -> (h * {a % _HASH_MOD} + {b % _HASH_MOD})"
        f" % {_HASH_MOD})) AS s{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band, {key} AS band_key FROM sig".format(
            b=b,
            key=" || ',' || ".join(f"s{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    eq_terms = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""toks AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {table}
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_filter(
               list_transform(t, (x, i) -> CASE WHEN i < len(t)
                                                THEN x || ' ' || t[i + 1] END),
               g -> g IS NOT NULL)) AS gs
      FROM toks WHERE len(t) >= 2
    ), hashed AS (
      SELECT doc_id, list_transform(gs, g -> {hash_expr}) AS hs
      FROM grams WHERE len(gs) > 0
    ), sig AS MATERIALIZED (
      SELECT doc_id,
             {sig_exprs}
      FROM hashed
    ), banded0 AS (
{band_selects}
    ), banded AS (
      SELECT doc_id, band, band_key FROM banded0
      QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket if max_bucket is not None else "1e18"}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), lsh_pairs AS MATERIALIZED (
      SELECT p.id_a, p.id_b,
             ({eq_terms})::DOUBLE / {float(num_hashes)} AS est_jaccard
      FROM cand p
      JOIN sig sa ON p.id_a = sa.doc_id
      JOIN sig sb ON p.id_b = sb.doc_id
      WHERE ({eq_terms})::DOUBLE / {float(num_hashes)} >= {threshold}
    )"""


def minhash_lsh_sql(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
    max_bucket: int | None = 1000,
) -> str:
    """DuckDB oracle for the FULL MinHash+LSH pipeline — possible only
    because every hash is portable (md5-derived, not engine-native).
    Docs shorter than ``shingle_n`` tokens are excluded on both sides
    (their shingle set is empty ⇒ no signature). ``max_bucket`` must
    match the Spark pipeline's cap_buckets cap (default 1000, same as
    :func:`minhash_lsh_pairs`)."""
    ctes = _minhash_lsh_ctes(
        num_hashes, bands, shingle_n, threshold, table, max_bucket=max_bucket
    )
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, est_jaccard
    FROM lsh_pairs
    ORDER BY id_a, id_b
    """


def dedup_clusters_sql(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
    rank_col: str = "n_chars",
    max_bucket: int | None = 1000,
) -> str:
    """DuckDB oracle for the FULL near-dup clustering pipeline: MinHash
    LSH pairs → connected components (recursive reachability; min id
    per component) → canonical-doc selection. Exactly mirrors
    :func:`dedup_clusters` over :func:`minhash_lsh_pairs` output;
    ``max_bucket`` must match the Spark side's cap_buckets cap."""
    ctes = _minhash_lsh_ctes(
        num_hashes, bands, shingle_n, threshold, table, max_bucket=max_bucket
    )
    return f"""
    WITH RECURSIVE {ctes},
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM lsh_pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM lsh_pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM {table}
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, c.cluster_id,
           count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
           (row_number() OVER (
              PARTITION BY c.cluster_id
              ORDER BY d.{rank_col} DESC, d.doc_id ASC) = 1) AS keep
    FROM {table} d JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    rank_col: str | None = None,
    max_iter: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Near-dup CLUSTER assignment + canonical selection — the step
    that turns pairwise near-dup evidence (from any of the pair
    generators above) into an actual dedup verdict: one kept document
    per connected component of the similarity graph.

    Components via iterative min-label propagation: every vertex
    repeatedly takes the min label among itself and its neighbors; a
    vertex's label converges to the min id of its component in
    O(component diameter) propagation steps. Near-dup graphs are
    star-like (diameter 2-4 — dup families share a common template),
    so a handful of steps suffices; ``max_iter`` rounds of TWO steps
    each bound adversarial chains. Each step is one shuffle join
    (edges × labels, keyed on vertex id) + one min-aggregate, and only
    the pair graph's VERTICES iterate (singleton docs — the bulk of a
    real corpus — skip the loop entirely and rejoin at the end);
    labels are lineage-cut once per round so the plan
    doesn't grow with iterations (``checkpoint_mode='reliable'`` puts
    the per-round cut on shared storage so an executor loss mid-loop
    resumes instead of failing — operators/lineage.py). At 100 TB,
    the same two primitives compose into the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") for O(log n) worst-case
    rounds — the data layout and shuffle keys stay identical.

    Canonical rule: per cluster keep the doc with the highest
    ``rank_col`` (tie-break min id); with ``rank_col=None`` keep the
    min-id doc.

    Returns one row per input doc: (id, cluster_id, cluster_size,
    keep) — singletons are their own cluster with keep=true.
    """
    from dvmax_spark.operators.lineage import cut_lineage

    # NOTE (r10): pre-partitioning edges by s and persisting the
    # columnar cache (so each step's join skips the edge-side
    # exchange) was implemented and A/B-measured: the per-step
    # cache-read + sort cost exceeded the saved re-shuffle at bench
    # scale (x_dedup_clusters 6.4 -> 8.3 s, 3 alternating runs), so
    # the lineage-cut shape below stands. On a network-bound cluster
    # the trade can flip; revisit with cluster measurements.
    edges = cut_lineage(
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionAll(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct(),
        mode=checkpoint_mode,
    )
    # Iterate ONLY over the pair graph's vertices: near-dup graphs are
    # sparse (most docs are singletons with no edges), and a singleton's
    # label never changes — carrying all docs through every round's
    # join+aggregate shuffled the full corpus per round for nothing.
    # Singletons rejoin as their own cluster in the final left join.
    labels = edges.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )

    def _step(cur: DataFrame) -> DataFrame:
        # message-union form: neighbor labels and own label meet in ONE
        # aggregation — min(own, min(neighbors)) — so a step is one
        # shuffle join (edges × labels on the sending vertex) plus one
        # hash-aggregate on the receiving vertex, with NO second join
        # to merge the own label back (the old formulation's third
        # O(V) exchange per step).
        msgs = edges.join(cur.withColumnRenamed("id", "s"), "s").select(
            F.col("d").alias("id"), "label"
        )
        return msgs.unionAll(cur).groupBy("id").agg(F.min("label").alias("label"))

    # Structural fixpoint (r11, mirroring the two-phase core's r10
    # star-forest test): a labeling is a fixpoint of _step iff NO edge
    # still crosses two labels — labels only decrease, every label is
    # a component member's id, and the component-min vertex keeps its
    # own id, so edge-constant labels ARE the component minima. The
    # check runs on the round's OWN output, so the old label-sum
    # protocol's confirmation round (an equal sum can only be observed
    # one round AFTER the last change) never runs: one fewer
    # checkpoint + convergence action + two no-op propagation steps
    # per query. The check itself is the step's own join shape minus
    # the aggregate (edges x labels, then labels on the receiving id),
    # and its action doubles as the round's checkpoint materializer.
    def _violations(cur: DataFrame) -> int:
        msgs = edges.join(cur.withColumnRenamed("id", "s"), "s").select(
            F.col("d").alias("id"), F.col("label").alias("nbr_label")
        )
        return (
            msgs.join(cur, "id")
            .where(F.col("nbr_label") < F.col("label"))
            .limit(1)
            .count()
        )

    for _ in range(max_iter):
        # TWO propagation steps per convergence-check action: the
        # fixpoint test only needs the LAST step's outcome, so pairing
        # steps halves the job-submission + checkpoint overhead that
        # dominates each round's wall at the typical 2-4 round
        # convergence of star-like dup families.
        stepped = cut_lineage(_step(_step(labels)), mode=checkpoint_mode)
        labels = stepped
        if _violations(stepped) == 0:
            break

    comp = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    return _cluster_output(df, comp, id_col, rank_col)


def _cluster_output(
    df: DataFrame, comp: DataFrame, id_col: str, rank_col: str | None
) -> DataFrame:
    """Shared (doc, cluster_id, cluster_size, keep) assembly: rejoin
    singletons as their own cluster, canonical = max ``rank_col``
    (tie-break min id) per cluster."""
    rank = F.col(rank_col) if rank_col else F.lit(0)
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(rank.desc(), F.col(id_col).asc())
    return (
        df.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .select(
            id_col,
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            (F.row_number().over(wr) == 1).alias("keep"),
        )
    )


def connected_components_twophase(
    pairs: DataFrame,
    max_rounds: int = 30,
) -> tuple[DataFrame, int]:
    """Connected components by the ALTERNATING large-star/small-star
    algorithm (Kiveris et al., MAPREDUCE'14 "Connected Components in
    Map-Reduce and Beyond") — the O(log n)-round upgrade of
    :func:`dedup_clusters`' min-label propagation, whose round count
    is the component DIAMETER. Star-like dup families converge in 2-4
    rounds either way; adversarial CHAIN corpora (CDC/shift families,
    paraphrase chains) have diameter O(n), where label propagation
    stalls and this converges in O(log n) rounds regardless.

    Each phase is edge-parallel with NO per-node neighbor lists
    (no collect_list — a mega-hub costs an aggregate, not a row):
      * large-star: m(u) = min(u, min Γ(u)); rewrite every edge
        (u, v > u) to (m(u), v).
      * small-star: hang each edge on its larger endpoint; with
        m(u) = min of u's smaller neighbors, rewrite them to (m, v)
        and add (m, u).
    Both phases preserve connectivity and never give the component
    minimum a parent, so the fixpoint is a star forest rooted at each
    component's min id — the SAME labeling min-label propagation
    yields, which is why the two implementations share one oracle.

    Returns ``(labels, rounds)``: labels is (id, label) for every
    endpoint of ``pairs``; rounds is the number of LS+SS rounds run
    (always even — rounds run in PAIRS per convergence action; the
    fixpoint is detected structurally on the pair's output, see the
    loop comment).
    """
    E = (
        pairs.select(
            F.least("id_a", "id_b").alias("mn"),
            F.greatest("id_a", "id_b").alias("mx"),
        )
        .where(F.col("mn") != F.col("mx"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # nodes is consumed exactly once (the final left_anti); deriving it
    # from the checkpointed E there costs one cheap re-aggregation and
    # saves a separate checkpoint call + materialization (r10).
    nodes = E.select(F.col("mn").alias("id")).unionAll(
        E.select(F.col("mx").alias("id"))
    )

    def _round(cur: DataFrame) -> DataFrame:
        # Both star phases run as ONE window over the phase's
        # neighbor-gather partitioning instead of groupBy(min) + join
        # (r10, guide §2.4): the join shape cost two exchanges of the
        # edge stream per phase (the filtered join side cannot reuse
        # the aggregate's exchange) plus the join itself; the window
        # computes m(u) on the same colocated rows the join would have
        # gathered anyway, so skew exposure is unchanged (a mega-hub's
        # edges landed in one join partition before, one window
        # partition now) and the edge SETS produced are identical.
        #
        # large-star: for each node u, attach every LARGER neighbor to
        # m(u) = min(u, min neighbor)
        sym = cur.select(F.col("mn").alias("u"), F.col("mx").alias("v")).unionAll(
            cur.select(F.col("mx").alias("u"), F.col("mn").alias("v"))
        )
        wu = Window.partitionBy("u")
        ls = (
            sym.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("mn"), F.col("v").alias("mx"))
            .where(F.col("mn") != F.col("mx"))
        )
        # NO intermediate distinct (r10): every downstream consumer —
        # the small-star window min, the next round's windows, the
        # pair-end distinct and the fixpoint test — is duplicate-
        # idempotent, and the ROW COUNT of a star phase equals its
        # input's row count (one output row per qualifying input row),
        # so duplicates never grow the stream; deduping mid-stream only
        # spent a full shuffle per phase. The edge SET each phase
        # produces — the thing the algorithm is defined on — is
        # unchanged.
        #
        # small-star: hang edges on the larger endpoint; connect all of
        # its smaller neighbors (and itself) to their minimum. The
        # "and itself" edge (m, u) falls out of the same window by
        # folding a self-loop (u, u) per edge into the stream before
        # the min — min(v) is unchanged (v <= u throughout), and no
        # second consumer or row_number is needed.
        d = ls.select(F.col("mx").alias("u"), F.col("mn").alias("v"))
        d2 = d.unionAll(d.select("u", F.col("u").alias("v")))
        return (
            d2.withColumn("m", F.min("v").over(wu))
            .select(F.col("m").alias("mn"), F.col("v").alias("mx"))
            .where(F.col("mn") != F.col("mx"))
        )

    rounds = 0
    for _ in range((max_rounds + 1) // 2):
        # TWO LS+SS rounds per convergence action (r10, mirroring
        # dedup_clusters' two-steps-per-check): each round costs a
        # driver-side physical-planning pass (the checkpoint call) plus
        # a job submission, and at bench scale that fixed overhead —
        # not the shuffled bytes — dominates the loop, while at cluster
        # scale it is the per-round barrier latency. The intermediate
        # round is left unmaterialized and un-deduped: row counts are
        # input-bound (see _round), Spark's ReuseExchange collapses the
        # doubly-consumed mid-round subtree inside the pair's one job,
        # and the pair-end distinct restores the compressed edge set.
        # A fixpoint reached on the pair's FIRST round is detected one
        # round late, but both phases are the identity on a star
        # forest, so the extra pass changes nothing — labels are
        # bit-identical to the per-round-checked form.
        rounds += 2
        ss = _round(_round(E)).distinct().localCheckpoint(eager=False)
        # Fixpoint test (r10): the alternating algorithm's fixpoints
        # are EXACTLY the (mn-rooted) star forests — no node is both a
        # hub (mn) and a leaf (mx), and no leaf has two hubs. On a star
        # forest, large-star is the identity (a hub's neighbors are all
        # larger, a leaf's only neighbor is smaller) and small-star
        # returns the same stars, so detecting the star-forest property
        # of ``ss`` directly needs no extra confirmation pass and
        # replaces the old set-equality test's two full-width exceptAll
        # jobs with one narrow id-aggregate.
        viol = (
            ss.select(F.col("mx").alias("id"), F.lit(1).alias("leaf"))
            .unionAll(ss.select(F.col("mn").alias("id"), F.lit(0).alias("leaf")))
            .groupBy("id")
            .agg(F.sum("leaf").alias("n_leaf"), F.count(F.lit(1)).alias("n_all"))
            .where(
                (F.col("n_leaf") > 1)
                | ((F.col("n_leaf") >= 1) & (F.col("n_all") > F.col("n_leaf")))
            )
            .limit(1)
            .count()
        )
        E = ss
        if viol == 0:
            break
    leaves = E.select(F.col("mx").alias("id"), F.col("mn").alias("label"))
    roots = nodes.join(leaves, "id", "left_anti").select(
        "id", F.col("id").alias("label")
    ).distinct()
    return leaves.unionAll(roots), rounds


def dedup_clusters_twophase(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    rank_col: str | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """:func:`dedup_clusters` with the components computed by
    :func:`connected_components_twophase` — identical output contract
    (and identical oracle SQL), O(log n) rounds on any graph shape."""
    labels, _ = connected_components_twophase(pairs, max_rounds=max_rounds)
    comp = labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    return _cluster_output(df, comp, id_col, rank_col)


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_rounds: int = 30,
) -> tuple[DataFrame, int]:
    """EXACT connected-component label maintenance: given the previous
    min-id labels ``(id, label)`` and a batch of ``new_edges``
    (id_a, id_b), return the exact labels of the UNION graph while
    recomputing only the components the new edges touch — the
    incremental form of :func:`connected_components_twophase`, and the
    graph-side member of the incremental family (exact ids:
    dedup_ingest ledger; near-dup pairs: MinHashIndex.match_new;
    sub-document: GramIndex.clean_new).

    Correctness rests on star compression: a component's connectivity
    is fully captured by its label star (label — member edges), so
    CC(old graph ∪ new edges) = CC(touched stars ∪ new edges) on the
    touched part, with untouched labels passing through UNCHANGED —
    they never enter a join or shuffle. Labels stay min-id because
    every member of a touched component rides into the merge as a
    node. At 100 TB this is the production shape: the label table is
    the persisted artifact (NearDupGraph's companion), a daily batch
    contributes |batch| edges, and the merge's cost is proportional to
    the TOUCHED components + new edges, not the corpus graph.

    Returns ``(labels, rounds)`` — labels covers every old id plus
    every new-edge endpoint; rounds is the two-phase round count of
    the touched-subgraph merge.
    """
    ends = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionAll(new_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched = (
        labels.join(ends, "id", "left_semi").select("label").distinct()
        .localCheckpoint(eager=False)
    )
    members = labels.join(touched, "label", "left_semi")
    stars = members.select(
        F.col("label").alias("id_a"), F.col("id").alias("id_b")
    ).where(F.col("id_a") != F.col("id_b"))
    merged, rounds = connected_components_twophase(
        stars.unionAll(new_edges.select("id_a", "id_b")), max_rounds=max_rounds
    )
    # a touched SINGLETON component (label == id, no star edge) is an
    # endpoint of some new edge, so it is already a node of the merge;
    # endpoints with no prior label likewise. Untouched labels bypass.
    untouched = labels.join(touched, "label", "left_anti")
    return untouched.select("id", "label").unionAll(merged.select("id", "label")), rounds


def dedup_clusters_incremental(
    df: DataFrame,
    labels: DataFrame,
    new_edges: DataFrame,
    id_col: str = "doc_id",
    rank_col: str | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """Cluster assignment + canonical selection from MAINTAINED labels:
    :func:`incremental_components` over (previous labels, new edge
    batch), then the shared (doc, cluster_id, cluster_size, keep)
    assembly — output contract (and oracle SQL) identical to
    :func:`dedup_clusters` over the union pair set."""
    lab, _ = incremental_components(labels, new_edges, max_rounds=max_rounds)
    comp = lab.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))
    return _cluster_output(df, comp, id_col, rank_col)


def simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", id_col: str = "doc_id"
) -> DataFrame:
    """``(id_col, simhash)`` — 60-bit SimHash over word tokens: bit b of
    the fingerprint is the sign of sum over tokens of (+1 / -1) for bit
    b of the token hash.

    Tokens are EXPLODED and the 60 signed bit-sums run as codegen'd
    hash-aggregate expressions; partial aggregation collapses the
    (doc, token) stream to one row per doc per partition before the
    shuffle, so shuffle volume is O(docs × 60 × 8B) at any document
    length. (The earlier form — 60 interpreted F.aggregate folds, each
    inlining the md5 token-hash transform — recomputed every token
    hash per bit.)
    """
    toks = F.split(F.col(text_col), " ")
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("_t")).select(
        F.col(id_col), _portable_hash(F.col("_t")).alias("_h")
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(60)  # portable hash is 60 bits
    ]
    fp = F.lit(0).cast("long")
    for b in range(60):
        fp = fp + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return ex.groupBy(id_col).agg(*aggs).select(F.col(id_col), fp.alias(out))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed on 4
    16-bit bands (any pair within hamming<=3 of 60 bits shares at
    least one of 4 bands by pigeonhole); ``max_bucket`` bounds the
    within-bucket self-join on degenerate fingerprints."""
    with_fp = simhash(df, text_col, id_col=id_col)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("band_key"),
        )
        for b in range(4)
    ]
    banded = with_fp.select(id_col, "simhash", F.explode(F.array(*bands)).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    banded = cap_buckets(banded, ["band", "band_key"], max_bucket)
    left = banded.select("band", "band_key", F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"))
    right = banded.select("band", "band_key", F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"))
    pairs = (
        left.join(right, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_sql(
    max_hamming: int = 10, table: str = "documents", max_bucket: int | None = 1000
) -> str:
    """DuckDB oracle for the FULL SimHash pipeline (fingerprint → 4×15-bit
    band bucketing → hamming filter) — possible because the token hash is
    portable (md5-derived, ext/dedup.py:_portable_hash), so both engines
    compute bit-identical fingerprints. Mirrors :func:`simhash` /
    :func:`simhash_near_pairs` term for term — INCLUDING the
    ``max_bucket`` mega-bucket drop (cap_buckets), which never binds at
    sf≤0.1 but does on the 50k-doc second-decade corpus (caught by the
    r9 sf1 parity sweep: 3.8M vs 6.7M pairs when the oracle omitted
    the cap)."""
    hash_expr = "('0x' || substr(md5(x), 1, 15))::BIGINT"
    bit_terms = " + ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END"
        for b in range(60)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {b * 15}) & 32767 AS band_key FROM fp"
        for b in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {table}
    ), hashed AS (
      SELECT doc_id, list_transform(t, x -> {hash_expr}) AS hs FROM toks
    ), fp AS (
      SELECT doc_id, ({bit_terms}) AS simhash FROM hashed
    ), banded0 AS (
{band_selects}
    ), banded AS (
      SELECT doc_id, simhash, band, band_key FROM banded0
      QUALIFY COUNT(*) OVER (PARTITION BY band, band_key) <= {max_bucket if max_bucket is not None else "1e18"}
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS fp_a, b.simhash AS fp_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::INTEGER AS hamming
    FROM pairs
    WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: float | None = 0.5,
) -> DataFrame:
    """Exact unigram-Jaccard pairs via inverted-index self-join.

    ``max_doc_freq`` drops tokens present in more than that fraction of
    documents before the join — the standard trick that keeps the
    inverted index from exploding on stop-words at scale. Pairs sharing
    ONLY pruned tokens are missed, and per-doc sizes are computed from
    the UNPRUNED token sets, so every reported score is a conservative
    lower bound of true Jaccard (pruning can only shrink the
    intersection count, never the union size). Set
    ``max_doc_freq=None`` for the fully-exact (oracle) variant.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok")
    )
    # sizes from the UNPRUNED table: keeps jaccard a true lower bound
    # (pruned-set jaccard would inflate scores — union shrinks too)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    if max_doc_freq is not None:
        # one driver-side count to turn the fraction into an absolute
        # doc-frequency threshold; a metadata-only pass on parquet
        # (row-group counts), not a table scan
        n_docs = df.count()
        hot = (
            toks.groupBy("tok")
            .agg(F.countDistinct(id_col).alias("df"))
            .where(F.col("df") > max_doc_freq * n_docs)
            .select("tok")
        )
        toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    # one shuffle of the token table by token (postings lists), pair
    # generation in-place — not a self-join that shuffles toks twice.
    # Postings length is bounded by max_doc_freq, so the k^2 expansion
    # per token stays small even on stop-word-heavy corpora.
    postings = toks.groupBy("tok").agg(F.collect_list(id_col).alias("ids"))
    common = (
        postings.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    j = F.col("common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", j)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------ incremental dedup


class MinHashIndex:
    """Persisted banded-LSH index for INCREMENTAL dedup — the
    production shape: a daily batch dedups against the historical
    corpus by joining the persisted band table, instead of recomputing
    signatures corpus-wide.

    The store is one zstd parquet table (band, band_key, doc_id,
    signature) partitioned by band: work per batch is O(batch) for
    signatures + one shuffle join on (band, band_key) against the
    index; the corpus is touched only through the band table, which
    the scan prunes by band. ``max_bucket`` caps degenerate band keys
    by COMBINED (index + batch) membership — the same bound the batch
    path's union-wide cap gives, which a per-side cap would not. Matching new-vs-old
    is value-exact against the full-corpus LSH oracle restricted to
    cross pairs (tests + x_incremental_dedup).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 32,
        bands: int = 16,
        shingle_n: int = 2,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        assert num_hashes % bands == 0
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.id_col = id_col
        self.text_col = text_col

    def _banded(self, docs: DataFrame) -> DataFrame:
        sig = minhash_signature(
            docs, self.text_col, self.num_hashes, self.shingle_n, id_col=self.id_col
        )
        bk = band_structs_expr(self.num_hashes, self.bands)
        return sig.select(F.col(self.id_col), F.col("signature"), bk).select(
            self.id_col,
            "signature",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )

    def build(self, docs: DataFrame, batch_key: int | str | None = None) -> None:
        banded = self._banded(docs)
        if batch_key is None:
            (
                banded.write.mode("overwrite")
                .partitionBy("band")
                .option("compression", "zstd")
                .parquet(self.path)
            )
        else:
            self._write_batch(banded, batch_key)

    def append(self, docs: DataFrame, batch_key: int | str | None = None) -> None:
        """Admit a new batch into the index (after matching it).

        ``batch_key`` (streaming ingest) switches the layout to
        ``ingest_batch=<key>/band=<b>`` and makes the write an
        IDEMPOTENT dynamic partition overwrite: replaying the same
        batch rewrites its own partitions instead of appending a
        second copy — the property the streaming sink's crash-replay
        contract needs. A given index must be written consistently
        (always with batch keys, or never): parquet partition
        discovery requires one directory depth."""
        if batch_key is None:
            (
                self._banded(docs)
                .write.mode("append")
                .partitionBy("band")
                .option("compression", "zstd")
                .parquet(self.path)
            )
        else:
            self._write_batch(self._banded(docs), batch_key)

    def _write_batch(self, banded: DataFrame, batch_key: int | str) -> None:
        (
            banded.withColumn("ingest_batch", F.lit(str(batch_key)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch", "band")
            .option("compression", "zstd")
            .parquet(self.path)
        )


    def compact(self, files_per_band: int = 1) -> None:
        """Small-file maintenance for the band table: incremental
        ``append`` leaves one file per batch per band partition;
        compaction rewrites to a bounded file count behind the same
        staging + atomic-rename protocol the FeatureStore uses, so
        concurrent matchers never observe a half-compacted index."""
        import shutil

        # (band, salt) partitioning: files_per_band groups PER band and
        # bands x files_per_band parallel writer tasks. A bare
        # repartition(files_per_band, "band") would hash whole bands
        # into files_per_band tasks - one file per band regardless of
        # the knob, and zero parallelism at files_per_band=1.
        from dvmax_spark.fsops import recover_swap, swap_dir

        recover_swap(self.path)  # heal a crashed promote before reading
        salt = _portable_hash(F.col(self.id_col).cast("string")) % files_per_band
        df = self.spark.read.parquet(self.path).repartition(
            self.bands * files_per_band, F.col("band"), salt
        )
        # batch-keyed (streaming) indexes keep their two-level layout;
        # do NOT compact such an index between a crash and its stream's
        # restart — a replayed batch would re-add rows already folded
        # into the compacted partitions
        part_cols = (
            ["ingest_batch", "band"] if "ingest_batch" in df.columns else ["band"]
        )
        staging = self.path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .partitionBy(*part_cols)
            .option("compression", "zstd")
            .parquet(staging)
        )
        retired = swap_dir(self.path, staging)
        if retired:
            shutil.rmtree(retired)

    def compact_batches(self, keep_last: int = 1, files_per_band: int = 1) -> None:
        """Fold historical ``ingest_batch=`` partitions into one
        ``__base__`` partition (same staging + atomic-swap protocol as
        ``compact``). Batch-keyed writes make streaming ingest
        replay-idempotent, but a long-lived stream accumulates one
        partition directory per micro-batch — unbounded partition
        growth at 100 TB. Folding is replay-safe as long as batches
        that could still be replayed stay live: Structured Streaming
        replays at most the in-flight batch, so the default
        ``keep_last=1`` keeps the most recent batch un-folded (its
        dynamic overwrite still hits its own partition on replay);
        ``keep_last=0`` requires the stream to be fully stopped and
        committed."""
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)  # heal a crashed promote before reading
        df = self.spark.read.parquet(self.path)
        if "ingest_batch" not in df.columns:
            self.compact(files_per_band)
            return
        # partition-value inference types all-numeric batch keys as int
        df = df.withColumn("ingest_batch", F.col("ingest_batch").cast("string"))
        keys = [r[0] for r in df.select("ingest_batch").distinct().collect()]
        # "most recent" must be well-defined for keep_last to protect
        # the replayable batches: numeric keys (streaming batch ids)
        # order numerically; all-string keys order lexicographically
        # (documented: manual string keys must sort in ingest order,
        # e.g. zero-padded dates). MIXED keys have no meaningful order
        # ('10' < '9' lexicographically would fold the in-flight
        # numeric batch) — refuse loudly rather than misfold (an index
        # written with any non-numeric key previously folded EVERY
        # partition, including the in-flight batch, into __base__).
        cands = [k for k in keys if k != "__base__"]  # prior folds re-fold
        n_numeric = sum(k.lstrip("-").isdigit() for k in cands)
        if n_numeric == len(cands):
            ordered = [str(k) for k in sorted(int(k) for k in cands)]
        elif n_numeric == 0:
            ordered = sorted(cands)
        else:
            raise ValueError(
                "compact_batches: mixed numeric and non-numeric ingest_batch "
                f"keys have no well-defined recency order: {sorted(cands)[:8]}"
            )
        live = set(ordered[-keep_last:]) if keep_last > 0 else set()
        salt = _portable_hash(F.col(self.id_col).cast("string")) % files_per_band
        folded = df.withColumn(
            "ingest_batch",
            F.when(
                F.col("ingest_batch").isin(*live) if live else F.lit(False),
                F.col("ingest_batch"),
            ).otherwise(F.lit("__base__")),
        ).repartition(
            (len(live) + 1) * self.bands * files_per_band,
            F.col("ingest_batch"),
            F.col("band"),
            salt,
        )
        import shutil

        from dvmax_spark.fsops import swap_dir

        staging = self.path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            folded.write.mode("overwrite")
            .partitionBy("ingest_batch", "band")
            .option("compression", "zstd")
            .parquet(staging)
        )
        retired = swap_dir(self.path, staging)
        if retired:
            shutil.rmtree(retired)

    def stage_batch(self, new_docs: DataFrame) -> DataFrame:
        """The incoming batch's banded signature table, lineage-cut for
        reuse — the exact DataFrame :meth:`match_new` derives
        internally. Staging it explicitly lets a caller MATERIALIZE the
        batch's signature pass (a noop write) concurrently with an
        independent job — in x_incremental_dedup, the historical
        index's build write — since the two share no inputs (guide
        §2.6: independent actions from driver threads back-fill each
        other's task tails). Pass the result to ``match_new(...,
        staged_banded=...)``; contents are identical either way (a
        parity test pins it)."""
        return self._banded(new_docs).localCheckpoint(eager=False)

    def match_new(
        self,
        new_docs: DataFrame,
        threshold: float = 0.5,
        max_bucket: int | None = 1000,
        exclude_self: bool = False,
        staged_banded: DataFrame | None = None,
    ) -> DataFrame:
        """Near-dup pairs (new_id, old_id, est_jaccard) between the
        incoming batch and the INDEXED corpus. One shuffle join on the
        band key; neither corpus signatures nor corpus text are
        recomputed.

        ``exclude_self`` drops stored rows whose id is IN the incoming
        batch — the streaming-replay hook: a batch whose crashed
        attempt already appended its survivors must not match AGAINST
        those survivors on replay, or dup_of attribution could drift
        from the crash-free run (the batch-peer relation is recomputed
        exactly by the intra phase instead). Id-based, not
        partition-key-based, deliberately: micro-batch counters restart
        with a fresh checkpoint, so excluding ``ingest_batch=<id>``
        could hide a PRIOR run's same-numbered live partition; doc ids
        are unique corpus-wide (the ledger admits each id once), so the
        id filter removes exactly the crashed attempt's rows at any
        batch numbering. Applied BEFORE the bucket-cap census so replay
        sees the same bucket sizes as a crash-free run."""
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)  # heal a crashed compact before reading
        # The batch's signature subtree (shingle explode + minhash
        # aggregation) feeds both the bucket-cap census and the band
        # join; materialize it once (r10, guide §3.3/§5 — previously
        # re-derived per consumer: 28 parquet scans in
        # x_incremental_dedup's plan). A caller that staged the batch
        # via :meth:`stage_batch` (to overlap its materialization with
        # the index build) hands the same checkpointed table back in.
        new_banded = (
            staged_banded
            if staged_banded is not None
            else self._banded(new_docs).localCheckpoint(eager=False)
        )
        stored = self.spark.read.parquet(self.path)
        if exclude_self:
            stored = stored.join(
                F.broadcast(new_docs.select(self.id_col).distinct()),
                self.id_col,
                "left_anti",
            )
        if max_bucket is not None:
            # The cap must bound the JOIN fan-out, so bucket size is the
            # COMBINED membership (index + batch) — capping each side
            # independently would let a degenerate key split across them
            # escape the O(n·max_bucket) bound exactly where membership
            # accumulates in the index over batches. Over-cap keys are a
            # handful of boilerplate/degenerate buckets by construction,
            # so the anti-join side broadcasts.
            over = (
                new_banded.select("band", "band_key")
                .unionByName(stored.select("band", "band_key"))
                .groupBy("band", "band_key")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > max_bucket)
                .select("band", "band_key")
            )
            new_banded = new_banded.join(
                F.broadcast(over), ["band", "band_key"], "left_anti"
            )
            stored = stored.join(F.broadcast(over), ["band", "band_key"], "left_anti")
        pairs = (
            new_banded.select(
                "band",
                "band_key",
                F.col(self.id_col).alias("new_id"),
                F.col("signature").alias("sig_new"),
            )
            .join(
                stored.select(
                    "band",
                    "band_key",
                    F.col(self.id_col).alias("old_id"),
                    F.col("signature").alias("sig_old"),
                ),
                ["band", "band_key"],
            )
            .where(F.col("new_id") != F.col("old_id"))
            .select("new_id", "old_id", "sig_new", "sig_old")
            .dropDuplicates(["new_id", "old_id"])
        )
        matches = F.size(
            F.filter(
                F.zip_with("sig_new", "sig_old", lambda a, b: a == b), lambda eq: eq
            )
        )
        est = matches.cast("double") / F.lit(float(self.num_hashes))
        return (
            pairs.withColumn("est_jaccard", est)
            .where(F.col("est_jaccard") >= threshold)
            .select("new_id", "old_id", "est_jaccard")
        )


def incremental_dedup_sql(
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.1,
    old_pred: str = "source = 'src0'",
) -> str:
    """DuckDB oracle for MinHashIndex.match_new: the full-corpus LSH
    pair set restricted to cross pairs (one side old, one side new),
    re-oriented as (new_id, old_id)."""
    ctes = _minhash_lsh_ctes(num_hashes, bands, 2, threshold, "documents")
    return f"""
    WITH {ctes},
    tagged AS (
      SELECT p.id_a, p.id_b, p.est_jaccard,
             (SELECT {old_pred.replace('source', 'd.source')} FROM documents d
              WHERE d.doc_id = p.id_a) AS a_old,
             (SELECT {old_pred.replace('source', 'd.source')} FROM documents d
              WHERE d.doc_id = p.id_b) AS b_old
      FROM lsh_pairs p
    )
    SELECT CASE WHEN a_old THEN id_b ELSE id_a END AS new_id,
           CASE WHEN a_old THEN id_a ELSE id_b END AS old_id,
           est_jaccard
    FROM tagged WHERE a_old <> b_old
    ORDER BY new_id, old_id
    """



class NearDupGraph:
    """Persisted near-dup PAIR-GRAPH artifact: MinHash signatures +
    banded-LSH candidate pairs materialize ONCE, and every graph
    consumer — connected components, PageRank, census, canonical
    selection, soft-dedup weights — reads the pair table instead of
    regenerating signatures per query. At 100 TB the signature+band
    join is the expensive step (hashing every shingle of every doc);
    the pair table it produces is tiny by comparison, so the
    production shape is build-once/read-many (the claim
    pagerank_centrality's docstring makes; this class makes it the
    benched reality).

    Layout: ``path/`` is one zstd parquet table
    ``(id_a, id_b, est_jaccard)`` with a ``_meta.json`` INSIDE the
    table dir (invisible to Spark's reader, like _SUCCESS) recording
    the LSH parameters plus a corpus fingerprint
    ``(n_docs, id/text hash-sum)``. ``ensure(docs)`` is one
    :func:`~dvmax_spark.fsops.ensure_artifact` call: it rebuilds iff
    the meta is absent, corrupt or disagrees — a stale artifact against
    regenerated testdata (or changed params) can never serve wrong
    pairs — under the shared flock + staging + swap protocol, so
    readers heal a crashed build and no crash point loses the previous
    table. Artifacts computed FROM the pair table (component labels,
    the src0 MinHash index) derive their validity from this meta via
    :meth:`derived_meta`.

    The pair pipeline is minhash_lsh_pairs verbatim (portable hashes,
    deterministic), so artifact-backed consumers are value-exact
    against the same recursive-CTE oracles as the regenerate-per-query
    forms — pinned by the x_* graph queries' unchanged oracle SQL.
    """

    _SPEC = 1  # bump to invalidate all persisted artifacts on format change

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_hashes: int = 32,
        bands: int = 16,
        shingle_n: int = 2,
        threshold: float = 0.1,
        max_bucket: int | None = 1000,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.path = path
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.id_col = id_col
        self.text_col = text_col

    # ------------------------------------------------------------ meta
    def _params(self) -> dict:
        return {
            "spec": self._SPEC,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "shingle_n": self.shingle_n,
            "threshold": self.threshold,
            "max_bucket": self.max_bucket,
            "id_col": self.id_col,
            "text_col": self.text_col,
        }

    def _fingerprint(self, docs: DataFrame) -> dict:
        """Cheap corpus identity: one map-only pass hashing (id, text)
        per row into a bounded modular sum + row count. Detects
        regenerated/filtered/extended corpora; collisions would need
        an adversarial corpus, which is not the threat model (the
        artifact is a cache, not a security boundary)."""
        row = docs.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                _portable_hash(
                    F.concat_ws(
                        "\x1f",
                        F.col(self.id_col).cast("string"),
                        F.col(self.text_col),
                    )
                )
                % F.lit(1_000_000_007)
            ).alias("hsum"),
        ).collect()[0]
        return {"n_docs": row["n"], "hsum": int(row["hsum"] or 0)}

    def derived_meta(
        self, spec: int, member_tag: str, params: dict | None = None
    ) -> dict:
        """Expected meta of an artifact computed FROM this pair table
        (component labels, the src0 MinHash index). Validity is
        derived, not re-fingerprinted: such an artifact is a pure
        function of (pair artifact, member subset, its own params), so
        its meta embeds this graph's ``_meta.json`` verbatim — a
        regenerated corpus or changed LSH params invalidates it
        transitively without a second corpus pass. Take this snapshot
        BEFORE computing the artifact: a parent rebuilt mid-compute
        then mismatches on the next check instead of stale rows hiding
        under a fresh-looking meta."""
        from dvmax_spark.fsops import read_artifact_meta

        meta = {"spec": spec, "member_tag": member_tag}
        if params is not None:
            meta["params"] = params
        meta["ndg_meta"] = read_artifact_meta(self.path)
        return meta

    # ------------------------------------------------------------- io
    def pairs(self) -> DataFrame:
        """Read the persisted pair table (heals a crashed promote)."""
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)
        return self.spark.read.parquet(self.path)

    def ensure(self, docs: DataFrame) -> bool:
        """Make the persisted pair table match ``docs`` and these
        parameters, rebuilding iff it does not; returns whether it
        built (cold) rather than only re-validated (warm). The corpus
        fingerprint is computed once per call."""
        from dvmax_spark.fsops import ensure_artifact

        def write(staging: str) -> None:
            minhash_lsh_pairs(
                docs,
                id_col=self.id_col,
                text_col=self.text_col,
                num_hashes=self.num_hashes,
                bands=self.bands,
                shingle_n=self.shingle_n,
                threshold=self.threshold,
                max_bucket=self.max_bucket,
            ).write.mode("overwrite").option("compression", "zstd").parquet(staging)

        expected = {"params": self._params(), "corpus": self._fingerprint(docs)}
        return ensure_artifact(self.path, expected, write)


def canonical_by_degree(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Centrality-based canonical selection: within every near-dup
    cluster (size > 1), keep the document with the most pair edges —
    the hub of the dup family. A template with many light variations
    forms a star; the rank-by-length policy (:func:`dedup_clusters`
    ``rank_col``) keeps the LONGEST variant, while this policy keeps
    the version everything else actually derives from (the public
    near-dup canonicalization alternative, cf. star-graph dedup in
    web-crawl pipelines). Ties break on id.

    Output: one row per multi-doc cluster —
    ``(cluster_id, cluster_size, canonical_id, canonical_degree)``.

    Scale shape: degree is one count-aggregate over the (already
    bucket-capped) pair list; components reuse
    :func:`dedup_clusters`'s propagation; the per-cluster argmax is a
    ``max_by`` aggregate (single shuffle on cluster_id, partial
    aggregation map-side) — no window over the corpus."""
    clusters = dedup_clusters(df, pairs, id_col=id_col, max_iter=max_iter)
    edges = pairs.select(F.col("id_a").alias(id_col)).unionAll(
        pairs.select(F.col("id_b").alias(id_col))
    )
    deg = edges.groupBy(id_col).agg(F.count(F.lit(1)).alias("degree"))
    x = (
        clusters.select(id_col, "cluster_id")
        .join(deg, id_col, "left")
        .withColumn("degree", F.coalesce("degree", F.lit(0)))
    )
    # argmax(degree, then smallest id): max_by on a struct key —
    # lexicographic (degree, -id) ordering needs no assumption about
    # the id range (an arithmetic composite like degree*2^32 - id
    # would silently break past 2^32 ids at real corpus scale)
    key = F.struct(F.col("degree"), (-F.col(id_col)).alias("nid"))
    return (
        x.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by(F.col(id_col), key).alias("canonical_id"),
            F.max("degree").alias("canonical_degree"),
        )
        .where(F.col("cluster_size") > 1)
        .orderBy("cluster_id")
    )


def canonical_by_degree_sql(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`canonical_by_degree` over
    :func:`minhash_lsh_pairs` evidence."""
    ctes = _minhash_lsh_ctes(num_hashes, bands, shingle_n, threshold, table)
    return f"""
    WITH RECURSIVE {ctes},
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM lsh_pairs
      UNION
      SELECT id_b AS s, id_a AS d FROM lsh_pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM {table}
      UNION
      SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY node
    ),
    deg AS (
      SELECT s AS doc_id, count(*) AS degree
      FROM (SELECT id_a AS s FROM lsh_pairs UNION ALL SELECT id_b FROM lsh_pairs)
      GROUP BY s
    ),
    x AS (
      SELECT c.doc_id, c.cluster_id, COALESCE(deg.degree, 0) AS degree
      FROM comp c LEFT JOIN deg USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY cluster_id ORDER BY degree DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
             max(degree) OVER (PARTITION BY cluster_id) AS max_degree
      FROM x
    )
    SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           doc_id AS canonical_id, CAST(max_degree AS BIGINT) AS canonical_degree
    FROM ranked WHERE rn = 1 AND cluster_size > 1
    ORDER BY cluster_id
    """


def pagerank_centrality(
    pairs: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    top_k: int = 20,
    checkpoint_mode: str = "local",
) -> DataFrame:
    """Fixed-point PageRank over the undirected near-dup pair graph —
    the principled upgrade of :func:`canonical_by_degree`'s degree
    policy (a template hub linked to many *other* hubs outranks an
    equal-degree leaf fringe; cf. Page et al. 1999). Reference parity:
    the reference has no graph operators at all — this extends the
    near-dup family (dvmax has only flat pair lists).

    Value-exactness is the point: all arithmetic is BIGINT fixed-point
    (rank scaled by ``scale``), every division an integer ``div``, and
    the per-node mass a SUM of integers — associative and
    order-independent, so Spark's partial aggregation and DuckDB's
    serial fold agree bit-for-bit. The recurrence both engines run:

        rank0(v)   = scale div N
        rank_{i+1}(v) = (15*(scale div N)) div 100
                      + (85 * sum_{u~v} (rank_i(u) div deg(u))) div 100

    Nodes are edge endpoints only (an undirected graph restricted to
    endpoints has no dangling nodes, so no teleport-mass correction
    term is needed).

    Scale shape: each iteration is one join of the rank vector with the
    edge list (both partitioned by src after the first shuffle) plus
    one aggregation by dst — the canonical distributed PageRank step.
    A lineage cut per iteration truncates the plan, exactly as
    :func:`dedup_clusters` does (``checkpoint_mode='reliable'`` for
    executor-loss-tolerant cuts on shared storage); at cluster scale
    the edge list would be persisted once and reused across all
    iterations.
    """
    from dvmax_spark.operators.lineage import cut_lineage

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionAll(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    edges = cut_lineage(edges, mode=checkpoint_mode)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_row = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    # 1-row broadcast: N reaches every node without a driver collect.
    # nodes is STATIC across iterations — cut its lineage once so the
    # per-iteration materialization doesn't re-aggregate the edge list
    # every round (one degree groupBy total instead of one per round)
    nodes = cut_lineage(
        deg.crossJoin(F.broadcast(n_row)), mode=checkpoint_mode
    )
    ranks = nodes.select(
        "src", "outdeg", "n_nodes", F.expr(f"{scale} div n_nodes").alias("rank")
    )
    for _i in range(iters):
        # NOTE (measured, min-of-3 at sf0.1): a message-union variant
        # (zero-mass node rows riding the aggregate, as dedup_clusters
        # does) hard-codes a shuffle of the node table per iteration
        # and ran ~10% SLOWER here — the left join below lets AQE
        # broadcast the (small) node-metadata side at test scale and
        # degrades to the same shuffle join at cluster scale, so the
        # declarative form wins both ways.
        contrib = (
            ranks.select("src", F.expr("rank div outdeg").alias("share"))
            .join(edges, "src")
            .groupBy("dst")
            .agg(F.sum("share").alias("mass"))
        )
        ranks = (
            nodes.join(contrib, nodes["src"] == contrib["dst"], "left")
            .select(
                nodes["src"],
                nodes["outdeg"],
                nodes["n_nodes"],
                F.expr(
                    f"(15 * ({scale} div n_nodes)) div 100"
                    " + (85 * coalesce(mass, 0L)) div 100"
                ).alias("rank"),
            )
        )
        # Cut every SECOND iteration (r10, A/B-measured min-of-2 warm
        # at sf0.1: cut-every-1 3.28 s, no cuts 2.75 s, cut-every-2
        # 2.75 s): each cut costs a driver physical-planning pass plus
        # a materialization job, and two chained rank steps are still a
        # bounded plan — depth stays O(1) in ``iters`` either way,
        # while half the per-iteration fixed cost disappears. Values
        # are identical (the cut is a pure materialization boundary).
        if (_i + 1) % 2 == 0:
            ranks = cut_lineage(ranks, mode=checkpoint_mode)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("src"))
        .limit(top_k)
        .select(
            F.col("src").alias("doc_id"),
            F.col("outdeg").cast("long").alias("degree"),
            F.col("rank").cast("long").alias("pagerank_fp"),
        )
    )


def pagerank_centrality_sql(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
    iters: int = 5,
    scale: int = 10**12,
    top_k: int = 20,
) -> str:
    """DuckDB twin of :func:`pagerank_centrality` over
    :func:`minhash_lsh_pairs` evidence — the ``iters`` PageRank steps
    unrolled as chained CTEs running the identical BIGINT fixed-point
    recurrence (``//`` is floor division; all values are positive, so
    it matches Spark's truncating ``div``)."""
    ctes = _minhash_lsh_ctes(num_hashes, bands, shingle_n, threshold, table)
    step_ctes = []
    prev = "r0"
    # every step CTE reads its predecessor TWICE (rank vector + mass
    # subquery); DuckDB inlines plain CTEs, so without MATERIALIZED the
    # whole LSH-pair chain re-evaluates 2^iters times — measured 381 s
    # vs ~1 s at sf0.01 (r8), identical rows
    for i in range(1, iters + 1):
        step_ctes.append(
            f"""r{i} AS MATERIALIZED (
      SELECT n.src, n.outdeg, n.n_nodes,
             (15 * ({scale} // n.n_nodes)) // 100
             + (85 * COALESCE(s.mass, 0)) // 100 AS rank
      FROM {prev} n LEFT JOIN (
        SELECT e.dst, sum(r.rank // r.outdeg) AS mass
        FROM {prev} r JOIN edges e ON e.src = r.src GROUP BY e.dst
      ) s ON s.dst = n.src
    )"""
        )
        prev = f"r{i}"
    steps = ",\n    ".join(step_ctes)
    return f"""
    WITH {ctes},
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM lsh_pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM lsh_pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    meta AS (SELECT count(*) AS n_nodes FROM deg),
    r0 AS MATERIALIZED (
      SELECT d.src, d.outdeg, m.n_nodes, {scale} // m.n_nodes AS rank
      FROM deg d CROSS JOIN meta m
    ),
    {steps}
    SELECT src AS doc_id, CAST(outdeg AS BIGINT) AS degree,
           CAST(rank AS BIGINT) AS pagerank_fp
    FROM {prev}
    ORDER BY rank DESC, src LIMIT {top_k}
    """


def dup_graph_census(pairs: DataFrame) -> DataFrame:
    """Global census of the near-dup pair graph — nodes, edges, wedges
    (open 2-paths), triangles, and the global clustering coefficient
    3·T/wedges as exact ppm: ONE row that tells you whether dup mass
    is chains/stars (cc→0: template fan-out) or dense cliques (cc→1:
    mirrored corpora) — which decides canonical-selection policy.

    Triangle counting is the classic a<b<c ordered two-join: each
    triangle is counted exactly once from its lowest-id corner. The
    ordering is precisely the degree-bounding orientation trick for
    hub-capped pair lists (minhash_lsh_pairs' bucket caps already
    bound the per-node degree, so the wedge join cannot blow up on a
    mega-hub). All counts are BIGINT and the coefficient is an exact
    integer div — value-exact cross-engine.
    """
    e = pairs.select("id_a", "id_b").distinct()
    sym = e.unionAll(e.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("deg"))
    wedges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    # wedges rooted at b with a < b < c, closed by (a, c) ∈ E
    w2 = (
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .join(e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c")), "b")
        .join(
            e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
    )
    tri = w2.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges > 0"
                " THEN (3000000 * n_triangles) div n_wedges ELSE 0 END"
            )
            .cast("long")
            .alias("gcc_ppm"),
        )
    )


def dup_graph_census_sql(
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.1,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dup_graph_census` over
    :func:`minhash_lsh_pairs` evidence."""
    ctes = _minhash_lsh_ctes(num_hashes, bands, shingle_n, threshold, table)
    return f"""
    WITH {ctes},
    e AS (SELECT DISTINCT id_a, id_b FROM lsh_pairs),
    sym AS (SELECT id_a, id_b FROM e UNION ALL SELECT id_b, id_a FROM e),
    deg AS (SELECT id_a, count(*) AS deg FROM sym GROUP BY id_a),
    w AS (SELECT count(*) AS n_nodes,
                 CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
          FROM deg),
    ne AS (SELECT count(*) AS n_edges FROM e),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.id_a = e1.id_b
      WHERE EXISTS (SELECT 1 FROM e e3
                    WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(CASE WHEN n_wedges > 0
                THEN (3000000 * n_triangles) // n_wedges ELSE 0 END AS BIGINT)
             AS gcc_ppm
    FROM w CROSS JOIN ne CROSS JOIN tri
    """


def jaccard_prefix_join(
    df: DataFrame,
    threshold_ppm: int = 300_000,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    positional_filter: bool = True,
) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join via prefix
    filtering (the AllPairs/PPJoin family — Bayardo et al. WWW'07,
    Vernica et al. SIGMOD'10): every document pair whose n-gram
    shingle-set Jaccard is ≥ t, WITHOUT the all-pairs product and
    WITHOUT the hot-token recall loss of
    :func:`ngram_jaccard_pairs`'s ``max_doc_freq`` cap. Reference
    parity: the reference has no set-similarity join at all; this is
    the exact complement of the approximate MinHash path (X2/X3).

    Losslessness argument (the invariant the oracle checks): order
    every doc's shingles by ascending global document frequency
    (ties by shingle). If J(a,b) ≥ t then the intersection size I
    satisfies I ≥ ⌈t·|a|⌉ and I ≥ ⌈t·|b|⌉, so a shared shingle MUST
    appear within the first |x| − ⌈t·|x|⌉ + 1 shingles of BOTH docs —
    join only those prefixes. Candidates additionally pass the length
    filter min·10⁶ ≥ t_ppm·max and PPJoin's positional filter
    1 + min(|a|−rk_a, |b|−rk_b) ≥ minoverlap(a,b); the final exact
    intersection count then keeps precisely J ≥ t. All comparisons
    are integer ppm arithmetic — no float anywhere — so the pruned
    distributed result is bit-equal to DuckDB's brute-force all-pairs
    scan (the strongest correctness statement available: algorithmic
    equivalence, not same-code-twice).

    Scale shape: one shingle-frequency aggregation, one per-doc
    row_number window (docs are small), a self-join restricted to the
    globally RAREST ~(1−t)·|d| shingles of each doc (candidate space
    is Σ_prefix-shingles df², collapsing as t grows), and one
    intersection-count join over candidates only. Degenerate corpora
    where the TRUE output is quadratic (all docs near-identical) cost
    what the output costs — that is inherent to exactness, and the
    approximate MinHash path is the escape hatch at that point.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("tok"),
    )
    cand = jaccard_prefix_candidates(
        df, threshold_ppm, shingle_n, id_col, text_col, positional_filter
    )
    inter = (
        cand.join(toks.select(F.col("id").alias("id_a"), "tok"), "id_a")
        .join(toks.select(F.col("id").alias("id_b"), "tok"), ["id_b", "tok"])
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    return (
        inter.withColumn("union_sz", F.col("na") + F.col("nb") - F.col("inter_sz"))
        .where(
            F.col("inter_sz") * F.lit(1_000_000)
            >= F.lit(threshold_ppm) * F.col("union_sz")
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            F.col("union_sz").cast("long").alias("union_sz"),
            F.expr("(inter_sz * 1000000) div union_sz").cast("long").alias("jaccard_ppm"),
        )
        .orderBy("id_a", "id_b")
    )


def jaccard_prefix_candidates(
    df: DataFrame,
    threshold_ppm: int = 300_000,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    positional_filter: bool = True,
) -> DataFrame:
    """Candidate generation for :func:`jaccard_prefix_join` —
    rarity-ordered prefix join + length filter + (optionally) PPJoin's
    ACCUMULATED positional filter — as ``(id_a, id_b, na, nb)``
    distinct pairs. Exposed so the filter's candidate reduction is
    measurable (the verify stage is lossless either way, so only the
    candidate count changes).

    r7 upgrade (the full candidate-time accumulation of Xiao et al.
    WWW'08 §3, replacing r6's earliest-row bound): aggregate the
    shared-prefix-token rows per pair — ``cp`` = how many, ``pa/pb`` =
    positions of the LAST one — and prune when
    ``cp + min(na-pa, nb-pb) < minoverlap``. Lossless: tokens sort in
    the same global (df, tok) order in both docs, so every shared
    token at positions ≤ (pa, pb) is itself a shared-PREFIX token and
    is counted in cp, and at most ``min(na-pa, nb-pb)`` shared tokens
    can follow. Strictly tighter than any single row's bound
    ``1 + min(na-rk_a, nb-rk_b)``: the earliest row's bound equals
    ``cp + min(na-pa, nb-pb)`` only when the cp shared tokens are
    CONSECUTIVE in both prefixes, and exceeds it otherwise. Costs no
    extra shuffle — the aggregation replaces the ``.distinct()`` the
    per-row form needed anyway.

    PPJoin+'s suffix filter is deliberately NOT implemented: it needs
    the token sequences of both docs at candidate time (a binary
    search over each pair's suffixes), which in a distributed columnar
    plan means shipping every doc's full token array into the
    candidate shuffle — and the standard empirical survey (Mann,
    Augsten, Bouros, VLDB'16) finds its extra pruning rarely pays for
    its cost even single-node. The accumulated positional filter
    captures the candidate-time signal at zero marginal shuffle."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("tok"),
    )
    sz = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("id").orderBy("df", "tok")),
    )
    # prefix length |d| - ceil(t*|d|) + 1, all-integer ceil division
    pre = ranked.join(sz, "id").where(
        F.col("rk")
        <= F.col("n")
        - F.expr(f"({threshold_ppm} * n + 999999) div 1000000")
        + 1
    )
    a = pre.select(
        F.col("id").alias("id_a"), "tok", F.col("n").alias("na"), F.col("rk").alias("rka")
    )
    b = pre.select(
        F.col("id").alias("id_b"), "tok", F.col("n").alias("nb"), F.col("rk").alias("rkb")
    )
    minov = F.expr(
        f"({threshold_ppm} * (na + nb) + {1_000_000 + threshold_ppm} - 1)"
        f" div {1_000_000 + threshold_ppm}"
    )
    cand = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        # length filter: min size must reach t * max size
        .where(
            F.least("na", "nb") * F.lit(1_000_000)
            >= F.lit(threshold_ppm) * F.greatest("na", "nb")
        )
    )
    if positional_filter:
        # accumulated positional filter: one aggregation over the
        # shared-prefix-token rows (replacing .distinct(), so zero
        # extra shuffle) — overlap ≤ cp + min(|a|-pa, |b|-pb), prune
        # below minoverlap. ``positional_filter=False`` exists only
        # to MEASURE the reduction; verified results are identical.
        return (
            cand.groupBy("id_a", "id_b", "na", "nb")
            .agg(
                F.count(F.lit(1)).alias("cp"),
                F.max("rka").alias("pa"),
                F.max("rkb").alias("pb"),
            )
            .where(
                F.col("cp")
                + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                >= minov
            )
            .select("id_a", "id_b", "na", "nb")
        )
    return cand.select("id_a", "id_b", "na", "nb").distinct()


def jaccard_prefix_join_sql(
    threshold_ppm: int = 300_000, shingle_n: int = 3, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`jaccard_prefix_join` — deliberately
    the BRUTE-FORCE all-pairs scan (inverted-index intersection with
    no prefix/length/positional pruning): a hash match proves the
    distributed pruned algorithm is lossless, not merely that the
    same code ran twice."""
    gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(shingle_n))
    return f"""
    WITH toksl AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {table}
    ), toks AS (
      SELECT DISTINCT doc_id, {gram} AS tok
      FROM toksl, UNNEST(range(1, len(t) - {shingle_n} + 2)) AS u(i)
      WHERE len(t) >= {shingle_n}
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS BIGINT) AS inter_sz,
           CAST(sa.n + sb.n - i AS BIGINT) AS union_sz,
           CAST((i * 1000000) // (sa.n + sb.n - i) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE i * 1000000 >= {threshold_ppm} * (sa.n + sb.n - i)
    ORDER BY id_a, id_b
    """


def edit_join_min_len(k: int = 5, q: int = 3) -> int:
    """Applicability bound of the q-gram Ed-Join: docs shorter than
    ``q + k·q`` chars can sit within ed ≤ k of each other while sharing
    ZERO q-grams, so no gram-based index can see the pair. Callers that
    pre-filter a universe before :func:`edit_distance_join` must use
    THIS bound (not a literal) so the filter stays in lock-step with
    the join's internal exclusion and the SQL oracles."""
    return q + k * q


def edit_distance_join(
    df: DataFrame,
    k: int = 5,
    q: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    location_filter: bool = False,
) -> DataFrame:
    """EXACT edit-distance similarity self-join (Ed-Join, Xiao/Wang/
    Lin VLDB'08): all pairs with ``levenshtein ≤ k``, found without an
    all-pairs scan — the edit-METRIC sibling of
    :func:`jaccard_prefix_join`'s set-overlap join.

    Filter chain (each step provably lossless):
      1. positional char q-gram MULTISET per doc, expanded to set
         elements ``(gram, occurrence#)`` — so multiset overlap
         Σ_g min(cnt_a, cnt_b) is plain set intersection and the
         standard prefix-filter theorem applies verbatim;
      2. ed ≤ k destroys at most k·q grams, so the multiset overlap is
         ≥ max(|Ga|,|Gb|) − k·q ⇒ the rarity-ordered PREFIX of length
         ``k·q + 1`` of each doc must intersect the other's (global
         element order: df asc, gram, occurrence) — candidates come
         from one equi-join on prefix elements, never the n² space;
      3. length filter ``| |a| − |b| | ≤ k`` (each edit changes length
         by at most 1) at candidate time;
      4. verify with the built-in ``levenshtein`` (JVM-side; identical
         integer semantics in DuckDB, so the whole operator oracles).

    Docs shorter than ``q + k·q`` chars are excluded on BOTH sides
    (and in the oracle): below that, two docs can sit within ed ≤ k
    while sharing zero q-grams, so no gram-based index can see the
    pair — the documented applicability bound of every q-gram method.

    Scale: the gram/prefix stages are the same shuffle shapes as the
    Jaccard prefix join (explode → df join → per-doc rank window, a
    bounded doc-length pool); verification cost is candidate-
    proportional, and candidates are prefix-RARE gram buckets. The
    corpus-proportional gram stage is kept inside whole-stage codegen
    (explode the index, substring as plain projection — 2.9x the
    lambda form, measured r8). ``location_filter=True`` adds the
    Xiao §4.1 positional mismatch lower bound between candidate
    generation and verification — lossless (fuzz-pinned) and ~67%
    selective, but worth its cost only when verification dominates
    (long records); see the in-line measurement note.
    """
    min_len = edit_join_min_len(k, q)
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    ).where(F.length("txt") >= min_len)
    # gram stream as explode(index) + plain substring projection, NOT
    # transform(sequence, i -> substring(...)): the lambda form drops
    # the corpus-proportional stage out of whole-stage codegen into
    # the interpreted evaluator — measured 4.3 s vs 1.5 s at sf0.1
    # (r8), the single biggest term in the join's decade ratio
    grams = (
        base.select(
            "id",
            F.length("txt").alias("len"),
            "txt",
            F.explode(F.expr(f"sequence(1, length(txt) - {q - 1})")).alias("pos1"),
        )
        .select(
            "id",
            "len",
            (F.col("pos1") - 1).alias("pos"),
            F.expr(f"substring(txt, pos1, {q})").alias("g"),
        )
    )
    # occurrence ordinal inside the doc's multiset (per-doc pool,
    # bounded by doc length) — (g, occ) is the set element; pos (the
    # gram's start offset) rides along for the location filter below
    occ = grams.withColumn(
        "occ", F.row_number().over(Window.partitionBy("id", "g").orderBy("pos"))
    ).select("id", "len", "g", "occ", "pos")
    dfreq = occ.groupBy("g", "occ").agg(F.count(F.lit(1)).alias("df"))
    ranked = occ.join(dfreq, ["g", "occ"]).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "g", "occ")
        ),
    )
    pre = ranked.where(F.col("rk") <= k * q + 1)
    a = pre.select(
        F.col("id").alias("id_a"), "g", "occ", F.col("len").alias("la")
    )
    b = pre.select(
        F.col("id").alias("id_b"), "g", "occ", F.col("len").alias("lb")
    )
    cand = (
        a.join(b, ["g", "occ"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.abs(F.col("la") - F.col("lb")) <= k)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if location_filter:
        # Location-based mismatch filter (after Xiao/Wang/Lin VLDB'08
        # §4.1, adapted to the (gram, occurrence) multiset scheme). A
        # first-occurrence element (g,1) of one prefix that sits at or
        # below BOTH prefixes' horizon in the global order and is
        # absent from the other prefix is provably absent from the
        # other RECORD (suffix elements all rank strictly above the
        # prefix horizon) — so gram g occurs ZERO times there, and
        # EVERY occurrence of g in this record must be destroyed by an
        # edit. Only entirely-absent grams pin positions: a mismatched
        # (g, occ>1) alone does not (an edit destroying an earlier
        # occurrence renumbers later ones, so the destroyed position is
        # the adversary's choice — the unsound per-element form was
        # caught by the brute-force fuzz test). One edit at char c
        # destroys exactly the grams starting in [c−q+1,c], so the
        # greedy interval cover over the sorted mandatory positions
        # (advance cover to p+q−1 per edit) LOWER-BOUNDS ed(a,b);
        # pairs with bound > k drop before the O(k·len) levenshtein.
        #
        # OFF by default after measurement (r8, sf0.1, 300-char docs):
        # it prunes 66.8% of the 105k candidates but the banded verify
        # those candidates feed costs ~0 s, while the filter's
        # prefix-array joins + interpreted higher-order functions cost
        # ~12 s — verification is NOT the bottleneck at these doc
        # lengths (candidate GENERATION is; see the explode-index
        # comment above). Enable when records are long enough that
        # O(k·len) verification or the text-carrying verify join
        # dominates the pair stream.
        keyed = pre.withColumn(
            "pkey",
            F.concat(
                F.lpad(F.col("df").cast("string"), 12, "0"),
                F.col("g"),
                F.lpad(F.col("occ").cast("string"), 6, "0"),
            ),
        )
        pref = keyed.groupBy("id").agg(
            F.array_sort(
                F.collect_list(F.struct("pkey", "g", "occ", "pos"))
            ).alias("pref"),
        )
        min_edits = (
            "aggregate("
            "  array_sort(transform("
            "    filter({p}, e -> exists({p}, e1 -> e1.g = e.g AND e1.occ = 1"
            "                               AND e1.pkey <= hzn)"
            "              AND !exists({o}, f -> f.g = e.g AND f.occ = 1)),"
            "    e -> e.pos)),"
            "  named_struct('cnt', 0, 'cover', -1),"
            "  (acc, p) -> IF(p > acc.cover,"
            "    named_struct('cnt', acc.cnt + 1, 'cover', p + {q} - 1), acc),"
            "  acc -> acc.cnt)"
        )
        located = (
            cand.join(
                pref.select(F.col("id").alias("id_a"), F.col("pref").alias("pa")),
                "id_a",
            )
            .join(
                pref.select(F.col("id").alias("id_b"), F.col("pref").alias("pb")),
                "id_b",
            )
            .withColumn(
                "hzn",
                F.least(
                    F.expr("element_at(pa, -1).pkey"),
                    F.expr("element_at(pb, -1).pkey"),
                ),
            )
            .where(
                F.greatest(
                    F.expr(min_edits.format(p="pa", o="pb", q=q)),
                    F.expr(min_edits.format(p="pb", o="pa", q=q)),
                )
                <= F.lit(k)
            )
            .select("id_a", "id_b")
        )
    else:
        located = cand
    # banded verification: levenshtein's threshold form computes only
    # the 2k+1 diagonal band — O(k·len) per pair instead of O(len²),
    # the difference between seconds and minutes at 10× corpus (it
    # returns -1 past the threshold, never a wrong distance)
    verified = (
        located.join(
            base.select(F.col("id").alias("id_a"), F.col("txt").alias("txt_a")), "id_a"
        )
        .join(base.select(F.col("id").alias("id_b"), F.col("txt").alias("txt_b")), "id_b")
        .withColumn("ed", F.levenshtein("txt_a", "txt_b", k).cast("long"))
        .where(F.col("ed") >= 0)
    )
    return verified.select("id_a", "id_b", "ed")


def edit_distance_join_sql(k: int = 5, q: int = 3, table: str = "documents") -> str:
    """DuckDB oracle for :func:`edit_distance_join` — deliberately the
    BRUTE-FORCE all-pairs scan (length filter only, then levenshtein):
    a hash match proves the prefix-filtered distributed form is
    lossless, not that the same pruning ran twice."""
    min_len = edit_join_min_len(k, q)
    return f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS L FROM {table}
      WHERE length(text) >= {min_len}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS ed
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= {k}
    WHERE levenshtein(a.text, b.text) <= {k}
    ORDER BY id_a, id_b
    """


def edit_dedup_clusters_sql(k: int = 5, q: int = 3, table: str = "documents") -> str:
    """DuckDB oracle for edit-distance dedup clustering: brute-force
    levenshtein ≤ k pairs → recursive reachability components →
    canonical-doc selection, mirroring :func:`dedup_clusters` over
    :func:`edit_distance_join` output (same universe filter: docs
    shorter than q + k·q are outside any q-gram method's reach).

    The brute-force pair CTE is MATERIALIZED: DuckDB inlines plain
    CTEs, so `edges`' double reference (and the recursive `reach`)
    would re-run the O(n²·L²) levenshtein scan — 35 s → 12.5 s at
    sf0.01, bit-identical output (measured r8)."""
    min_len = edit_join_min_len(k, q)
    return f"""
    WITH RECURSIVE d AS MATERIALIZED (
      SELECT doc_id, text, n_chars, length(text) AS L FROM {table}
      WHERE length(text) >= {min_len}
    ),
    ed_pairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.L - b.L) <= {k}
      WHERE levenshtein(a.text, b.text) <= {k}
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS dd FROM ed_pairs
      UNION
      SELECT id_b AS s, id_a AS dd FROM ed_pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT r.src, e.dd FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(src) AS cluster_id FROM reach GROUP BY node
    )
    SELECT d.doc_id, c.cluster_id,
           count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
           (row_number() OVER (
              PARTITION BY c.cluster_id
              ORDER BY d.n_chars DESC, d.doc_id ASC) = 1) AS keep
    FROM d JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """


def minhash_signature_oph(
    df: DataFrame,
    text_col: str = "text",
    num_buckets: int = 64,
    shingle_n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-permutation MinHash signature (Li et al. NIPS'12) with
    cyclic rotation densification (Shrivastava & Li ICML'14): ONE hash
    per shingle, binned by ``h mod k``; the signature is the per-bin
    minimum, and empty bins borrow the nearest filled bin to the
    cyclic right. Same ``(id, signature array<bigint>)`` shape as
    :func:`minhash_signature`, so banding/pair generation is shared
    (:func:`lsh_pairs_from_signatures`).

    Why it matters at 100 TB: the classic k-permutation signature
    evaluates k affine hashes per shingle occurrence — O(tokens × k)
    aggregate work. OPH evaluates ONE hash and ONE min per shingle —
    O(tokens) — then pays O(docs × k²) map-side comparisons for
    densification (each of the k bins scans the per-id sorted bin map
    of up to k keys — the explicit trade, r10, for dropping the grid
    explode and the two window shuffles it fed; the k² term is
    signature-sized, not corpus-sized, and negligible at k=64 but
    grows quadratically if callers raise ``num_buckets``). Same
    downstream LSH machinery, ~k× less map-side compute on the
    corpus-sized stream.

    Input docs must have at least ``shingle_n`` tokens (shorter docs
    have no shingles; callers filter, mirroring the SQL twin's
    ``len(t) >= n`` gram gate).

    Determinism: bucket assignment and the cyclic-right borrow rule
    are both exact integer rules on the portable md5 hash, so DuckDB
    reproduces the signature bit-for-bit (:func:`minhash_oph_sql`).
    """
    # r8: codegen shingle stream + hash projection (see
    # minhash_signature) — per-bin minima are duplicate-idempotent, so
    # skipping the distinct array construction is bit-identical
    exploded = shingle_stream(
        df, text_col, shingle_n, cols=(id_col,), gpos_col=None
    ).select(F.col(id_col), (_portable_hash(F.col("g")) % _HASH_MOD).alias("_h"))
    sparse = (
        exploded.withColumn("_b", F.pmod(F.col("_h"), F.lit(num_buckets)))
        .groupBy(id_col, "_b")
        .agg(F.min("_h").alias("_m"))
    )
    # Dense (id, bin) grid WITHOUT the former per-doc bin-explode of
    # ``df`` + (id, bin) equi-join (r10, guide §2.4): fold the sparse
    # bins into one map per id, then explode the static bin sequence
    # and look the bin up map-side. Every doc reaching here has >= 1
    # shingle (callers filter len >= shingle_n), so the id sets match
    # the old grid exactly; the lookup yields null for empty bins just
    # as the left join did. Removes one corpus scan, the join, and an
    # exchange — the remaining shuffles are the two aggregations, and
    # the windows below ride the second one's (id) partitioning.
    binmap = sparse.groupBy(id_col).agg(
        F.map_from_entries(F.array_sort(F.collect_list(F.struct("_b", "_m")))).alias(
            "_bm"
        )
    )
    # Densify MAP-SIDE over the per-id bin map (r10, second pass):
    # bin b's value is the map entry at the first PRESENT bin >= b,
    # wrapping to the smallest present bin — exactly the cyclic-right
    # rule the former explode + first_value-ignore-nulls windows
    # computed over the dense (id, bin) grid. The map's key array is
    # sorted (map_from_entries of the array_sort'ed entries), so the
    # per-bin lookup is a filter over <= num_buckets keys. This drops
    # the grid explode, both window sorts, and the final
    # collect_list re-aggregation: the signature now assembles in the
    # same stage as the bin-map aggregate, and the only shuffles left
    # in the OPH front half are the two aggregations. (_ks is staged
    # behind a withColumn barrier so the 2-per-bin references read a
    # plain attribute, not re-evaluated map_keys — the multi-ref
    # lesson from the merge folds.)
    keyed = binmap.withColumn("_ks", F.map_keys("_bm"))
    return keyed.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_buckets - 1)),
            lambda b: F.element_at(
                F.col("_bm"),
                F.coalesce(
                    F.get(F.filter(F.col("_ks"), lambda k: k >= b), F.lit(0)),
                    F.get(F.col("_ks"), F.lit(0)),
                ),
            ),
        ).alias("signature"),
    )


def minhash_oph_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs from one-permutation MinHash — the
    O(tokens) signature front half plus the SAME banded-LSH back half
    as :func:`minhash_lsh_pairs`."""
    sig = minhash_signature_oph(df, text_col, num_buckets, shingle_n, id_col=id_col)
    return lsh_pairs_from_signatures(
        sig,
        num_hashes=num_buckets,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        id_col=id_col,
    )


def minhash_oph_sql(
    num_buckets: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`minhash_oph_pairs` — identical portable
    hash, bucket rule, cyclic-right densification (window
    ``first_value IGNORE NULLS`` with a wrap-around fallback), band
    keys, and position-match scoring."""
    rows = num_buckets // bands
    gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(shingle_n))
    band_keys = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band,"
        f" string_agg(s::VARCHAR, ',' ORDER BY b) AS band_key"
        f" FROM dens WHERE b BETWEEN {b * rows} AND {b * rows + rows - 1}"
        f" GROUP BY doc_id"
        for b in range(bands)
    )
    return f"""
    WITH toksl AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {table}
    ), grams AS (
      SELECT DISTINCT doc_id, {gram} AS g
      FROM toksl, UNNEST(range(1, len(t) - {shingle_n} + 2)) AS u(i)
      WHERE len(t) >= {shingle_n}
    ), hashed AS (
      SELECT doc_id, (('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007) AS h
      FROM grams
    ), sparse AS (
      SELECT doc_id, h % {num_buckets} AS b, min(h) AS m FROM hashed GROUP BY 1, 2
    ), grid AS (
      SELECT d.doc_id, i AS b
      FROM (SELECT DISTINCT doc_id FROM grams) d, UNNEST(range(0, {num_buckets})) AS u(i)
    ), filled AS (
      SELECT g.doc_id, g.b, s.m FROM grid g
      LEFT JOIN sparse s ON s.doc_id = g.doc_id AND s.b = g.b
    ), dens AS (
      SELECT doc_id, b,
             coalesce(
               first_value(m IGNORE NULLS) OVER (
                 PARTITION BY doc_id ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
               first_value(m IGNORE NULLS) OVER (
                 PARTITION BY doc_id ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             ) AS s
      FROM filled
    ), banded AS (
{band_keys}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.id_a, c.id_b,
             sum(CASE WHEN da.s = db.s THEN 1 ELSE 0 END) AS m
      FROM cand c
      JOIN dens da ON da.doc_id = c.id_a
      JOIN dens db ON db.doc_id = c.id_b AND db.b = da.b
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, m / {num_buckets}.0 AS est_jaccard
    FROM est
    WHERE m / {num_buckets}.0 >= {threshold}
    ORDER BY id_a, id_b
    """


def containment_pairs(
    df: DataFrame,
    threshold_ppm: int = 700_000,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC containment-similarity join: ordered pairs where
    |grams(a) ∩ grams(b)| / |grams(a)| >= threshold — i.e. document a
    is (nearly) CONTAINED in document b. The subset-duplication
    detector Jaccard structurally misses: a paragraph quoted inside a
    10x longer page has tiny Jaccard but containment ~1, and dropping
    the contained side is the right dedup verdict (Lee et al. 2022's
    partial-dup motivation).

    Exact integer ppm (`div`), denominators from the UNPRUNED per-doc
    gram sets; with ``max_doc_freq`` set, reported containment is a
    conservative lower bound (pruning only shrinks intersections) —
    the identical contract and escape hatch as ngram_jaccard_pairs.
    Scale shape: one inverted-index shuffle of gram occurrences,
    pair aggregation, sizes joined back; both directions emitted from
    ONE symmetric intersection count.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("g"),
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    joinable = toks
    if max_doc_freq is not None:
        hot = (
            toks.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > int(max_doc_freq))
            .select("g")
        )
        joinable = toks.join(F.broadcast(hot), "g", "left_anti")
    a = joinable.select(F.col("id").alias("id_a"), "g")
    b = joinable.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_sz"))
    )
    # one symmetric count serves both ordered directions
    both = inter.unionAll(
        inter.select(
            F.col("id_b").alias("id_a"),
            F.col("id_a").alias("id_b"),
            "inter_sz",
        )
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    return (
        both.join(na, "id_a")
        .select(
            "id_a",
            "id_b",
            F.col("inter_sz").cast("long").alias("inter_sz"),
            F.col("n_a").cast("long").alias("n_a"),
            F.expr("(inter_sz * 1000000) div n_a").alias("containment_ppm"),
        )
        .where(F.col("containment_ppm") >= int(threshold_ppm))
        .orderBy("id_a", "id_b")
    )


def containment_pairs_sql(
    threshold_ppm: int = 700_000, shingle_n: int = 3, table: str = "documents"
) -> str:
    """Brute-force DuckDB twin of :func:`containment_pairs` (no cap)."""
    gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(shingle_n))
    return f"""
    WITH toksl AS (
      SELECT doc_id, str_split(text, ' ') AS t FROM {table}
    ), toks AS (
      SELECT DISTINCT doc_id, {gram} AS g
      FROM toksl, UNNEST(range(1, len(t) - {shingle_n} + 2)) AS u(i)
      WHERE len(t) >= {shingle_n}
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS BIGINT) AS inter_sz,
           CAST(sz.n AS BIGINT) AS n_a,
           (i * 1000000) // sz.n AS containment_ppm
    FROM inter JOIN sz ON sz.doc_id = id_a
    WHERE (i * 1000000) // sz.n >= {int(threshold_ppm)}
    ORDER BY id_a, id_b
    """
