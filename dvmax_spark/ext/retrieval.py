"""[EXT] Corpus retrieval / indexing operators: vocabulary building,
BM25 ranking, and cross-document duplicated-span statistics — the IR
layer a pre-training corpus pipeline needs next to dedup (vocabulary
for tokenizer training, BM25 for quality-by-query mining, span stats
for RefinedWeb-style repeated-passage removal).

All deterministic, all oracle-able: tokenization is the same
space-split convention as ext/textstats.py, gram construction mirrors
ext/dedup.py:shingles (SQL twins generated next to the Spark code).

Scale shapes (100 TB contract):
  * vocabulary  — explode → partial hash-agg (map-side combine
    collapses each partition to |vocab| rows) → single top-k sort on
    an aggregate that is at most |vocab| rows, not |tokens|.
  * BM25        — the per-(doc, term) tf aggregation filters to the
    query's terms BEFORE the shuffle (predicate on the exploded token
    stream), so shuffle volume is O(matching tokens), not O(corpus);
    document frequencies and avgdl are tiny aggregates broadcast back.
  * dup spans   — inverted-index shape shared with exact Jaccard
    (ext/dedup.py): one shuffle of gram occurrences, gram-level doc
    counts joined back. At 100 TB add a document-frequency cap on hot
    grams exactly as exact_jaccard does — boilerplate grams are noise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "shingle_seq",
    "vocabulary",
    "vocabulary_sql",
    "bm25_rank",
    "bm25_rank_sql",
    "bm25_from_index",
    "dup_span_stats",
    "dup_span_stats_sql",
    "block_dedup_stats",
    "block_dedup_stats_sql",
    "doc_chunks",
    "doc_chunks_sql",
]


# Shared zip-of-slices n-gram construction lives in ext.dedup (span
# statistics here count positions; dedup takes array_distinct on top) —
# one implementation, so the byte-compatibility the SQL oracles depend
# on can't drift between the modules.
from dvmax_spark.ext.dedup import (  # noqa: E402,F401
    _portable_hash,
    shingle_seq,
    shingle_stream,
    shingles,
)


# ---------------------------------------------------------------- vocabulary

def vocabulary(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Corpus vocabulary: top-``k`` tokens by occurrence count
    (tokenizer-training prerequisite). Deterministic tie-break on the
    token string. Empty tokens (doubled/leading/trailing spaces split
    to ``''``) are dropped — a tokenizer-training vocab must never
    contain the empty string. Plan: explode → partial hash-agg → one
    final sort of ≤|vocab| aggregated rows."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(k)
    )


def vocabulary_sql(table: str = "documents", text_col: str = "text", k: int = 100) -> str:
    return f"""
    SELECT tok AS token, count(*) AS n_occ
    FROM (SELECT unnest(str_split({text_col}, ' ')) AS tok FROM {table})
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n_occ DESC, token ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------- BM25

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_rank(
    df: DataFrame,
    terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """BM25 ranking of documents against a fixed bag-of-words query
    (Robertson/Sparck-Jones; the Lucene idf variant
    ln(1 + (N - df + 0.5)/(df + 0.5)) so idf stays positive).

    Plan shape: the exploded token stream is filtered to the query's
    terms BEFORE any aggregation (shuffle is O(matching tokens));
    document frequencies (|terms| rows) and the avgdl scalar are tiny
    aggregates joined back via broadcast. Ranking sorts on the
    pre-ROUNDED score (cross-engine float policy) with id tie-break.
    """
    if not terms:
        raise ValueError("bm25_rank needs at least one query term")
    toks = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    hits = toks.where(F.col("token").isin(*terms))
    tf = hits.groupBy(id_col, "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"), F.avg(
        F.size(F.split(F.col(text_col), " "))).alias("avgdl"))
    dfreq = (
        hits.select(id_col, "token").distinct()
        .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def bm25_from_index(
    spark,
    path: str,
    terms: tuple[str, ...],
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """BM25 top-``k`` scored from a persisted inverted index
    (streaming/ingest.py:stream_into_bm25) instead of the raw corpus:
    postings supply (token, doc_id, dl, tf); the stats table supplies
    n_docs / len_sum, from which avgdl is the same double division
    Spark's ``avg`` performs (integral avg accumulates exactly for any
    realistic corpus length sum < 2^53). Identical scoring expressions
    to :func:`bm25_rank`, so index-scored ranks are value-exact against
    the one-shot corpus scan — proven by the t_stream_bm25 query, whose
    oracle IS the batch SQL.

    Scale shape: the token filter prunes the postings scan (parquet
    row-group stats on the token column; a production deployment would
    additionally bucketBy(token) so each query term touches one
    bucket); df is an aggregate of the filtered postings only; the
    corpus never participates."""
    import os

    from pyspark.sql import SparkSession  # noqa: F401

    if not terms:
        raise ValueError("bm25_from_index needs at least one query term")
    post = spark.read.parquet(os.path.join(path, "postings")).where(
        F.col("token").isin(*terms)
    )
    stats = spark.read.parquet(os.path.join(path, "stats"))
    corpus = stats.select(
        F.col("n_docs").cast("double").alias("n_docs"),
        (F.col("len_sum").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    dfreq = (
        post.select("token", id_col).distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    norm = F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        post.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def bm25_rank_sql(
    terms: tuple[str, ...],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> str:
    if not terms:
        # `token IN ()` is a SQL syntax error — fail loudly at
        # generation time instead of handing DuckDB malformed SQL
        raise ValueError("bm25_rank_sql needs at least one query term")
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
    WITH toks AS (
      SELECT {id_col}, len(str_split({text_col}, ' ')) AS dl,
             unnest(str_split({text_col}, ' ')) AS token
      FROM {table}
    ),
    hits AS (SELECT * FROM toks WHERE token IN ({term_list})),
    tf AS (
      SELECT {id_col}, dl, token, count(*) AS tf
      FROM hits GROUP BY {id_col}, dl, token
    ),
    corpus AS (
      SELECT count(*)::DOUBLE AS n_docs,
             avg(len(str_split({text_col}, ' ')))::DOUBLE AS avgdl
      FROM {table}
    ),
    dfreq AS (
      SELECT token, count(DISTINCT {id_col})::DOUBLE AS df
      FROM hits GROUP BY token
    )
    SELECT {id_col},
           round(sum(
             ln(1.0 + (c.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * ({BM25_K1} + 1)
             / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / c.avgdl))
           ), 4) AS bm25
    FROM tf JOIN dfreq d USING (token) CROSS JOIN corpus c
    GROUP BY {id_col}
    ORDER BY bm25 DESC, {id_col} ASC
    LIMIT {k}
    """


# ------------------------------------------------------- duplicated spans

def dup_span_stats(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Per-document cross-corpus duplicated-span fraction: the share of
    a doc's word ``n``-gram POSITIONS whose gram also occurs in at
    least one OTHER document (RefinedWeb/C4-style repeated-passage
    signal — docs that are mostly spans seen elsewhere are boilerplate
    or near-dup fragments).

    Inverted-index shape (one shuffle of gram occurrences, gram-level
    distinct-doc counts joined back); docs shorter than ``n`` tokens
    report 0 spans / fraction 0.0.

    ``max_doc_freq`` is the 100 TB knob (same contract as exact
    Jaccard's hot-shingle prune): grams appearing in MORE than this
    many docs are boilerplate, not near-dup signal — dropping them
    bounds the semi-join's per-gram fan-in. Conservative by
    construction: pruning can only LOWER n_dup/dup_frac, never raise
    it. The oracled query runs uncapped so the oracle stays exact.

    The (gram, doc) aggregate is localCheckpoint'ed (lazy) so its two
    consumers share one materialization — 1.8× at sf0.1, and at
    cluster scale it trades a full second gram-construction pass for
    executor-local storage of the much smaller aggregate. Caveat shared
    with every localCheckpoint in the engine: localCheckpoint output
    is lost with an executor, so a lost node re-runs the query rather
    than recovering lineage — the standard trade for truncating a
    twice-consumed heavy subtree.
    """
    # codegen gram stream (r8): explode the start index + slice/concat
    # projection instead of exploding the zip-of-slices ARRAY — see
    # dedup.shingle_stream
    occ = shingle_stream(df, text_col, n, cols=(id_col,), gpos_col=None)
    # Aggregate to per-(gram, doc) position counts FIRST: both
    # downstream consumers (gram-level doc counts; the per-doc dup sum)
    # then hang off the IDENTICAL Exchange(hash(g, id)) subtree, so
    # ReuseExchange materializes the gram construction once. The
    # previous shape (occ.distinct() one side, occ semi-join the other)
    # keyed its two exchanges differently and re-built every gram a
    # second time — ~40% of the query's wall at sf0.1.
    cnt = occ.groupBy("g", id_col).agg(F.count(F.lit(1)).alias("k"))
    # materialize the (gram, doc) aggregate once: column pruning would
    # otherwise specialize the two consumers' partial-agg subtrees
    # (gdocs drops k) and defeat ReuseExchange, rebuilding every gram
    cnt = cnt.localCheckpoint(eager=False)
    gdocs = (
        cnt.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    if max_doc_freq is not None:
        gdocs = gdocs.where(F.col("n_docs") <= max_doc_freq)
    dup = (
        cnt.join(gdocs, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.sum("k").alias("n_dup"))
    )
    # n_spans arithmetically (max(len - n + 1, 0), matching the SQL
    # oracle) — F.size("gs") would recompute the whole zip-of-slices
    # gram construction a second time on this side of the join just to
    # count the array
    base = df.select(
        F.col(id_col),
        F.greatest(
            F.size(F.split(F.col(text_col), " ")) - n + 1, F.lit(0)
        ).alias("n_spans"),
    )
    return (
        base.join(dup, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup"),
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                    / F.col("n_spans"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_frac"),
        )
        .orderBy(id_col)
    )


def dup_span_stats_sql(
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk FROM {table}
    ),
    occ AS (
      SELECT {id_col}, array_to_string(tk[i:i+{n - 1}], ' ') AS g
      FROM t, unnest(range(1, len(tk) - {n} + 2)) u(i)
    ),
    gdocs AS (
      SELECT g FROM occ GROUP BY g HAVING count(DISTINCT {id_col}) >= 2
    ),
    dup AS (
      SELECT {id_col}, count(*) AS n_dup
      FROM occ SEMI JOIN gdocs USING (g)
      GROUP BY {id_col}
    ),
    base AS (
      SELECT {id_col}, greatest(len(tk) - {n} + 1, 0) AS n_spans FROM t
    )
    SELECT b.{id_col}, b.n_spans,
           coalesce(d.n_dup, 0) AS n_dup,
           round(CASE WHEN b.n_spans > 0
                 THEN coalesce(d.n_dup, 0)::DOUBLE / b.n_spans
                 ELSE 0.0 END, 4) AS dup_frac
    FROM base b LEFT JOIN dup d USING ({id_col})
    ORDER BY b.{id_col}
    """


# ------------------------------------------------------ block-level dedup

def block_dedup_stats(
    df: DataFrame,
    w: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_above: float = 0.5,
) -> DataFrame:
    """Sub-document exact dedup over NON-OVERLAPPING ``w``-word blocks
    (the cheap tier of RefinedWeb-style repeated-passage removal): a
    block is duplicated iff its exact text occurs in >= 1 OTHER
    document; per doc reports block counts, the duplicated fraction,
    and a keep verdict (``dup_frac <= drop_above``).

    vs ``dup_span_stats`` (overlapping n-grams): blocks give
    positions/w index entries per doc instead of ~positions — an order
    of magnitude less shuffle at the same w, the right first pass at
    100 TB before the finer gram-level stats run on what remains. Same
    inverted-index shape: explode blocks → block-level distinct-doc
    counts (partial-agg'd map-side) → semi-join back; no Python.

    Trailing words beyond the last full block are ignored by BOTH
    engines (documented convention, keeps the SQL twin exact).
    """
    # tokenize ONCE behind a projection barrier (a transform lambda
    # referencing split() inline would re-evaluate the split per
    # reference — the interpreted-HOF pitfall the verify notes pin);
    # CASE guards short docs: sequence(0, -1) would DESCEND in Spark
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("tk"))
    base = toks.select(
        id_col,
        F.expr(
            f"""CASE WHEN size(tk) < {w} THEN array()
                ELSE transform(
                  sequence(0, int(floor(size(tk) / {w})) - 1),
                  b -> array_join(slice(tk, b * {w} + 1, {w}), ' '))
                END"""
        ).alias("blocks"),
    )
    occ = base.select(id_col, F.explode("blocks").alias("blk"))
    hot = (
        occ.distinct()
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("blk")
    )
    dup = (
        occ.join(hot, "blk", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_blocks"))
    )
    return (
        base.select(id_col, F.size("blocks").alias("n_blocks"))
        .join(dup, id_col, "left")
        .select(
            id_col,
            "n_blocks",
            F.coalesce("n_dup_blocks", F.lit(0)).alias("n_dup_blocks"),
            F.round(
                F.when(
                    F.col("n_blocks") > 0,
                    F.coalesce("n_dup_blocks", F.lit(0))
                    / F.col("n_blocks").cast("double"),
                ).otherwise(0.0),
                4,
            ).alias("dup_frac"),
        )
        .withColumn("keep", F.col("dup_frac") <= F.lit(drop_above))
        .orderBy(id_col)
    )


def block_dedup_stats_sql(
    w: int = 16,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_above: float = 0.5,
) -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk FROM {table}
    ),
    occ AS (
      SELECT {id_col},
             array_to_string(tk[b * {w} + 1 : b * {w} + {w}], ' ') AS blk
      FROM t, unnest(range(0, CAST(floor(len(tk) / {w}) AS BIGINT))) u(b)
    ),
    hot AS (
      SELECT blk FROM occ GROUP BY blk HAVING count(DISTINCT {id_col}) >= 2
    ),
    dup AS (
      SELECT {id_col}, count(*) AS n_dup_blocks
      FROM occ SEMI JOIN hot USING (blk)
      GROUP BY {id_col}
    ),
    base AS (
      SELECT {id_col}, CAST(floor(len(tk) / {w}) AS BIGINT) AS n_blocks FROM t
    )
    SELECT b.{id_col},
           CAST(b.n_blocks AS INT) AS n_blocks,
           CAST(coalesce(d.n_dup_blocks, 0) AS BIGINT) AS n_dup_blocks,
           round(CASE WHEN b.n_blocks > 0
                 THEN coalesce(d.n_dup_blocks, 0)::DOUBLE / b.n_blocks
                 ELSE 0.0 END, 4) AS dup_frac,
           (round(CASE WHEN b.n_blocks > 0
                  THEN coalesce(d.n_dup_blocks, 0)::DOUBLE / b.n_blocks
                  ELSE 0.0 END, 4) <= {drop_above}) AS keep
    FROM base b LEFT JOIN dup d USING ({id_col})
    ORDER BY {id_col}
    """


# ------------------------------------------------------------- chunking

def doc_chunks(
    df: DataFrame,
    window: int = 64,
    stride: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping chunking: fixed ``window``-token chunks
    every ``stride`` tokens (tail partial chunk kept — standard
    retrieval-chunker semantics). Emits (doc, chunk ordinal, token
    count, portable md5 fingerprint) — the fingerprint is what a
    downstream chunk-dedup or chunk-index keys on.

    Map-side only: chunk starts come from a per-row sequence explode;
    each chunk is one slice of the already-split token array. No
    shuffle anywhere — at 100 TB this is a pure map over the corpus,
    parallelized by input partition."""
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    staged = df.select(
        F.col(id_col), toks.alias("_tk"), F.size(toks).alias("_n"),
        F.explode(starts).alias("_start"),
    ).where((F.col("_start") < F.col("_n")) & (F.col("_n") > 0))
    chunk = F.array_join(F.slice(F.col("_tk"), F.col("_start") + 1, window), " ")
    return staged.select(
        id_col,
        (F.col("_start") / stride).cast("bigint").alias("chunk_idx"),
        F.least(F.lit(window), F.col("_n") - F.col("_start")).alias("chunk_tokens"),
        F.md5(chunk).alias("chunk_md5"),
    ).orderBy(id_col, "chunk_idx")


def doc_chunks_sql(
    window: int = 64,
    stride: int = 32,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk, len(str_split({text_col}, ' ')) AS n
      FROM {table}
    ),
    st AS (
      SELECT {id_col}, tk, n, unnest(range(0, n, {stride})) AS s
      FROM t WHERE n > 0
    )
    SELECT {id_col},
           CAST(s // {stride} AS BIGINT) AS chunk_idx,
           least({window}, n - s) AS chunk_tokens,
           md5(array_to_string(tk[s + 1:s + {window}], ' ')) AS chunk_md5
    FROM st
    ORDER BY {id_col}, chunk_idx
    """


# ----------------------------------------------- duplicated-span REMOVAL

def span_dedup_clean(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Cross-corpus duplicated-span REMOVAL (the acting sibling of
    ``dup_span_stats``' reporting): every token position covered by a
    word ``n``-gram that also occurs in at least one OTHER document is
    deleted, and the cleaned text is reconstructed from the surviving
    tokens in original order — ExactSubstr-style dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better")
    at token-n-gram granularity, the form a Spark cluster can run as a
    join instead of a suffix array.

    Per doc returns exact token counts and an md5 of the cleaned text
    (a doc whose every position is covered cleans to the empty
    string). Removal can create NEW adjacencies in the cleaned text —
    as in the paper, those are not re-examined (single-pass contract,
    pinned by test).

    Scale shape: gram occurrences shuffle ONCE with their start
    positions (the same inverted-index as dup_span_stats); cross-doc
    gram ids semi-join back; coverage expands by a factor of n ONLY on
    duplicated starts (not the corpus); the per-doc rebuild is one
    ordered aggregate bounded by document length. ``max_doc_freq`` is
    the 100 TB boilerplate knob with the OPPOSITE conservativeness of
    the stats op: here pruning hot grams means those spans are KEPT
    (boilerplate handled by the cheaper block/gram filters), never
    that extra text is deleted. No Python anywhere.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    occ = shingle_stream(df, text_col, n, cols=(id_col,))
    # materialize the gram-occurrence stream once (lazy localCheckpoint,
    # same contract as dup_span_stats): its two consumers — the
    # cross-doc gram counts and the covered-position expansion — would
    # otherwise each rebuild every gram from the raw text (column
    # pruning specializes the subtrees, defeating ReuseExchange)
    occ = occ.localCheckpoint(eager=False)
    # per-(gram, doc) first so the cross-doc count is a cheap second
    # aggregate of an already-shuffled subtree
    per = occ.select("g", id_col).distinct()
    gdocs = (
        per.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    if max_doc_freq is not None:
        gdocs = gdocs.where(F.col("n_docs") <= max_doc_freq)
    covered = (
        occ.join(gdocs.select("g"), "g", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + n - 1)).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("n_tokens")
    )
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.length(F.coalesce(F.col("clean_text"), F.lit("")))
            .cast("bigint")
            .alias("clean_len"),
            F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_hash"),
        )
        .orderBy(id_col)
    )


def span_dedup_clean_sql(
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk FROM {table}
    ),
    occ AS (
      SELECT {id_col}, i, array_to_string(tk[i:i+{n - 1}], ' ') AS g
      FROM t, unnest(range(1, len(tk) - {n} + 2)) u(i)
    ),
    gdocs AS (
      SELECT g FROM occ GROUP BY g HAVING count(DISTINCT {id_col}) >= 2
    ),
    cov AS (
      SELECT DISTINCT {id_col}, pos FROM (
        SELECT {id_col}, unnest(range(i, i + {n})) AS pos
        FROM occ SEMI JOIN gdocs USING (g)
      )
    ),
    toks AS (
      SELECT {id_col}, pos, tk[pos] AS tok
      FROM t, unnest(range(1, len(tk) + 1)) u(pos)
    ),
    kept AS (
      SELECT {id_col}, pos, tok FROM toks ANTI JOIN cov USING ({id_col}, pos)
    ),
    rebuilt AS (
      SELECT {id_col}, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY {id_col}
    )
    SELECT t.{id_col},
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
           CAST(length(coalesce(r.clean_text, '')) AS BIGINT) AS clean_len,
           md5(coalesce(r.clean_text, '')) AS clean_hash
    FROM t LEFT JOIN rebuilt r USING ({id_col})
    ORDER BY t.{id_col}
    """


def exact_substr_dedup(
    df: DataFrame,
    n: int = 8,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occ: int | None = None,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): remove MAXIMAL duplicated token
    runs of length >= ``min_len``, with exact boundaries — the one
    canonical LLM-dedup method the span family lacked. Differs from
    ``span_dedup_clean`` in both halves of the contract:

    * a gram is duplicated if it occurs >= 2 times in the CORPUS
      (total occurrences — a verbatim within-doc repeat counts, as in
      the paper's suffix-array formulation), not >= 2 distinct docs;
    * covered positions are NOT all removed: adjacent duplicated-gram
      positions merge into maximal runs (islands trick: pos minus
      per-doc row_number is constant within a run), and only runs of
      >= ``min_len`` tokens are cut. A 19-token duplicated snippet
      survives a min_len=20 gate untouched — exact boundary semantics,
      no over- or under-trim (property-tested with planted runs).

    Gram granularity vs the paper's suffix array: any TRUE duplicated
    substring of >= min_len tokens has all its n-grams duplicated, so
    it always forms a covered run >= min_len and is ALWAYS removed
    (recall 1 for n <= min_len). The approximation is one-sided: a run
    stitched from grams that each match DIFFERENT other locations can
    also reach min_len and be cut (superset removal, pinned by test) —
    the standard trade for running as joins + windows instead of a
    distributed suffix array.

    Plan shape (100 TB): the same single gram-occurrence shuffle as
    span_dedup_clean; gram total-counts semi-join back; coverage
    expands by n ONLY on duplicated starts; the run merge is a window
    partitioned BY DOC over covered positions (bounded by doc length,
    never corpus-wide); the rebuild is one ordered per-doc aggregate.
    ``max_occ`` is the boilerplate knob with keep-side
    conservativeness: pruning ultra-hot grams means those spans are
    KEPT, never that extra text is deleted.
    """
    occ = shingle_stream(df, text_col, n, cols=(id_col,))
    # one materialization for the two consumers (count + expansion) —
    # the dup_span_stats/span_dedup_clean ReuseExchange contract
    occ = occ.localCheckpoint(eager=False)
    gdup = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
    )
    if max_occ is not None:
        gdup = gdup.where(F.col("n_occ") <= max_occ)
    covered = (
        occ.join(gdup.select("g"), "g", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + n - 1)).alias("pos"),
        )
        .distinct()
    )
    return _remove_covered_runs(df, covered, min_len, id_col, text_col)


def _remove_covered_runs(
    df: DataFrame,
    covered: DataFrame,
    min_len: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Shared tail of the ExactSubstr family: merge ``covered``
    (id, pos) positions into maximal per-doc runs, drop runs >=
    ``min_len``, rebuild the cleaned text, and report (n_tokens,
    n_removed, n_runs, max_run_len, clean_hash) per doc.

    Run detection is ONE id-partitioned window pass (r10, guide §2.4):
    a run-start flag (gap from the previous position) and a running
    last-start give each covered position its run's start; the
    (id, run_start) aggregate then reuses the window's hash(id)
    partitioning (Spark's subset rule — partitioning expressions ⊆
    grouping expressions needs no new exchange).

    The rebuild is MAP-SIDE (r11, guide §2.4/§2.3): the >=min_len
    intervals fold into one per-doc row carrying the run stats AND the
    interval array, and the cleaned text is rebuilt by a higher-order
    filter over the doc's own token array — token i survives iff no
    interval contains it. The previous shape re-scanned the corpus
    into a posexploded (id, pos, tok) stream, anti-joined it against a
    broadcast of every removed POSITION (O(removed tokens) broadcast
    rows — unboundedly large at 100 TB), and re-assembled per doc via
    a collect_list aggregate behind a full-width hash(id) exchange.
    Now the corpus is scanned ONCE and no token ever crosses an
    exchange. The per-token interval scan is bounded by
    n_runs/doc <= n_tokens/min_len (the min_len gate is what makes
    this safe — span_dedup_clean has no such gate and keeps its
    anti-join, see its r10 rejection note). Rows and every reported
    stat are bit-identical: kept tokens re-join on single spaces
    exactly as the old ordered collect_list did (split/rejoin on ' '
    is lossless, including empty tokens from repeated spaces), and a
    doc with no qualifying run keeps its original text verbatim.
    """
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    cum = covered.withColumn(
        "new_run",
        F.lag("pos").over(w_ord).isNull() | (F.col("pos") - F.lag("pos").over(w_ord) > 1),
    ).withColumn(
        "run_start",
        F.last(F.when(F.col("new_run"), F.col("pos")), ignorenulls=True).over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # intervals is tiny (one row per >=min_len run); materialize it
    # once or each consumer re-derives the whole covered-position
    # chain (gram counts, coverage explode, window pass) from scratch
    intervals = (
        cum.groupBy(id_col, "run_start")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .where(F.col("run_len") >= min_len)
        .localCheckpoint(eager=False)
    )
    # ONE per-doc fold: scalar stats + the interval array the map-side
    # rebuild consumes (runs are disjoint maximal intervals; order in
    # the array is irrelevant to the membership test below)
    run_stats = intervals.groupBy(id_col).agg(
        F.sum("run_len").alias("n_removed"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run_len"),
        F.collect_list(F.struct("run_start", "run_len")).alias("_runs"),
    )
    toks_arr = F.split(F.col(text_col), " ")
    # token index i (0-based) matches the posexplode/gpos position
    # space the intervals were computed in
    kept_arr = F.filter(
        toks_arr,
        lambda t, i: ~F.exists(
            F.col("_runs"),
            lambda r: (i >= r["run_start"])
            & (i < r["run_start"] + r["run_len"]),
        ),
    )
    clean_text = F.when(F.col("_runs").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept_arr, " ")
    )
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(run_stats, id_col, "left")
        .select(
            id_col,
            F.size(toks_arr).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("n_runs"), F.lit(0)).cast("bigint").alias("n_runs"),
            F.coalesce(F.col("max_run_len"), F.lit(0))
            .cast("bigint")
            .alias("max_run_len"),
            F.md5(F.coalesce(clean_text, F.lit(""))).alias("clean_hash"),
        )
        .orderBy(id_col)
    )


def exact_substr_clean_vs(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    n: int = 8,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr AGAINST A REFERENCE CORPUS: remove from each new
    document every maximal run of >= ``min_len`` tokens all of whose
    ``n``-grams occur anywhere in ``ref_docs`` — exact boundaries via
    the same islands merge as :func:`exact_substr_dedup`. Two readings,
    one operator:

    * **incremental ingest dedup** — ``ref_docs`` is the admitted
      corpus; new batches are span-cleaned against it without ever
      re-scanning corpus text (only its gram set), completing the
      incremental family (exact ids: dedup_ingest ledger; near-dup:
      MinHashIndex.match_new; sub-document: this).
    * **surgical span decontamination** — ``ref_docs`` is a benchmark
      suite; instead of DROPPING a contaminated document (the
      x_decontaminate policy), only the contaminated span >= min_len
      is excised and the rest of the document survives.

    Semantics are pure cross-corpus: duplication WITHIN the new batch
    is not consulted (run :func:`exact_substr_dedup` on the batch for
    that), so results are independent of how new docs are batched —
    each doc's verdict depends only on (doc, ref gram set). Recall is
    1 for any true >= min_len substring copied from the reference
    (every one of its grams is in the gram set); stitched-run
    removal is the same one-sided superset as the self-join form.

    Scale shape: the reference reduces to its DISTINCT gram set ONCE
    (at 100 TB: persist it — e.g. ``write_bucketed`` on the gram — so
    per-batch cleaning is a bucketed semi-join with no reference-side
    shuffle); the new batch pays one gram shuffle of ITS OWN size, an
    n-bounded expansion on matched starts, and the per-doc islands
    window. Nothing scales with reference text size at query time
    except the gram-set join."""
    ref_grams = shingle_stream(
        ref_docs, text_col, n, cols=(), gpos_col=None
    ).distinct()
    return exact_substr_clean_vs_grams(
        new_docs, ref_grams, n=n, min_len=min_len, id_col=id_col, text_col=text_col
    )


def exact_substr_clean_vs_grams(
    new_docs: DataFrame,
    ref_grams: DataFrame,
    n: int = 8,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`exact_substr_clean_vs` with the reference already reduced
    to its distinct gram table ``(g string)`` — the form the persisted
    :class:`GramIndex` and the streaming ingest use, where the
    reference grams are materialized once and every batch joins them
    without touching reference text."""
    occ = shingle_stream(new_docs, text_col, n, cols=(id_col,))
    covered = (
        occ.join(ref_grams.select("g"), "g", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("gpos"), F.col("gpos") + n - 1)).alias("pos"),
        )
        .distinct()
    )
    return _remove_covered_runs(new_docs, covered, min_len, id_col, text_col)


class GramIndex:
    """Persisted distinct-gram table for cross-corpus ExactSubstr — the
    artifact that makes span-level dedup/decontamination INCREMENTAL:
    build once from the admitted corpus (or benchmark suite), then
    clean every incoming batch against the gram set without re-scanning
    reference text. Batch-keyed appends (``ingest_batch=<key>`` dynamic
    partition overwrite) are replay-idempotent, the streaming-ingest
    contract shared with MinHashIndex; an unkeyed ``build`` is a plain
    overwrite for the frozen-reference (benchmark) case. At 100 TB the
    gram table is the big side — bucket it on ``g``
    (:func:`~dvmax_spark.store.write_bucketed`) and the per-batch
    semi-join needs no reference-side shuffle."""

    def __init__(
        self, spark: SparkSession, path: str, n: int = 8, text_col: str = "text"
    ) -> None:
        self.spark = spark
        self.path = path
        self.n = n
        self.text_col = text_col

    def _grams(self, docs: DataFrame) -> DataFrame:
        return shingle_stream(
            docs, self.text_col, self.n, cols=(), gpos_col=None
        ).distinct()

    def build(self, docs: DataFrame, batch_key: int | str | None = None) -> None:
        g = self._grams(docs)
        if batch_key is None:
            g.write.mode("overwrite").option("compression", "zstd").parquet(self.path)
        else:
            self._write_batch(g, batch_key)

    def append(self, docs: DataFrame, batch_key: int | str) -> None:
        """Admit a batch's grams (idempotent under replay: the batch
        rewrites its own partition). Per-batch grams may repeat across
        batches — ``grams()`` reads distinct, and semi-join consumers
        are duplicate-insensitive anyway."""
        self._write_batch(self._grams(docs), batch_key)

    def _write_batch(self, g: DataFrame, batch_key: int | str) -> None:
        (
            g.withColumn("ingest_batch", F.lit(str(batch_key)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .option("compression", "zstd")
            .parquet(self.path)
        )

    def grams(self) -> DataFrame:
        from dvmax_spark.fsops import recover_swap

        recover_swap(self.path)
        return self.spark.read.parquet(self.path).select("g").distinct()

    def clean_new(
        self,
        new_docs: DataFrame,
        min_len: int = 20,
        id_col: str = "doc_id",
        text_col: str | None = None,
    ) -> DataFrame:
        return exact_substr_clean_vs_grams(
            new_docs,
            self.grams(),
            n=self.n,
            min_len=min_len,
            id_col=id_col,
            text_col=text_col or self.text_col,
        )


def exact_substr_clean_vs_sql(
    n: int = 8,
    min_len: int = 20,
    old_pred: str = "source = 'src0'",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`exact_substr_clean_vs` with the
    reference corpus selected by ``old_pred`` and the new side its
    complement — same window-over-positions islands formulation."""
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk FROM {table}
      WHERE NOT ({old_pred})
    ),
    ref AS (
      SELECT DISTINCT array_to_string(tk[i:i+{n - 1}], ' ') AS g
      FROM (SELECT str_split({text_col}, ' ') AS tk FROM {table}
            WHERE {old_pred}),
           unnest(range(1, len(tk) - {n} + 2)) u(i)
    ),
    occ AS (
      SELECT {id_col}, i, array_to_string(tk[i:i+{n - 1}], ' ') AS g
      FROM t, unnest(range(1, len(tk) - {n} + 2)) u(i)
    ),
    cov AS (
      SELECT DISTINCT {id_col}, pos FROM (
        SELECT {id_col}, unnest(range(i, i + {n})) AS pos
        FROM occ SEMI JOIN ref USING (g)
      )
    ),
    runs AS (
      SELECT {id_col}, pos,
             pos - row_number() OVER (PARTITION BY {id_col} ORDER BY pos) AS rid
      FROM cov
    ),
    marked AS (
      SELECT {id_col}, pos, rid,
             count(*) OVER (PARTITION BY {id_col}, rid) AS run_len
      FROM runs
    ),
    removed AS (
      SELECT {id_col}, pos, rid, run_len FROM marked WHERE run_len >= {min_len}
    ),
    run_stats AS (
      SELECT {id_col}, count(*) AS n_removed,
             count(DISTINCT rid) AS n_runs,
             max(run_len) AS max_run_len
      FROM removed GROUP BY {id_col}
    ),
    toks AS (
      SELECT {id_col}, pos - 1 AS pos0, tk[pos] AS tok
      FROM t, unnest(range(1, len(tk) + 1)) u(pos)
    ),
    kept AS (
      SELECT t2.{id_col}, t2.pos0, t2.tok
      FROM toks t2 ANTI JOIN (SELECT {id_col}, pos - 1 AS pos0 FROM removed) r
      USING ({id_col}, pos0)
    ),
    rebuilt AS (
      SELECT {id_col}, string_agg(tok, ' ' ORDER BY pos0) AS clean_text
      FROM kept GROUP BY {id_col}
    )
    SELECT t.{id_col},
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(s.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(s.max_run_len, 0) AS BIGINT) AS max_run_len,
           md5(coalesce(r.clean_text, '')) AS clean_hash
    FROM t LEFT JOIN run_stats s USING ({id_col})
           LEFT JOIN rebuilt r USING ({id_col})
    ORDER BY t.{id_col}
    """


def exact_substr_dedup_sql(
    n: int = 8,
    min_len: int = 20,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH t AS (
      SELECT {id_col}, str_split({text_col}, ' ') AS tk FROM {table}
    ),
    occ AS (
      SELECT {id_col}, i, array_to_string(tk[i:i+{n - 1}], ' ') AS g
      FROM t, unnest(range(1, len(tk) - {n} + 2)) u(i)
    ),
    gdup AS (
      SELECT g FROM occ GROUP BY g HAVING count(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT {id_col}, pos FROM (
        SELECT {id_col}, unnest(range(i, i + {n})) AS pos
        FROM occ SEMI JOIN gdup USING (g)
      )
    ),
    runs AS (
      SELECT {id_col}, pos,
             pos - row_number() OVER (PARTITION BY {id_col} ORDER BY pos) AS rid
      FROM cov
    ),
    marked AS (
      SELECT {id_col}, pos, rid,
             count(*) OVER (PARTITION BY {id_col}, rid) AS run_len
      FROM runs
    ),
    removed AS (
      SELECT {id_col}, pos, rid, run_len FROM marked WHERE run_len >= {min_len}
    ),
    run_stats AS (
      SELECT {id_col}, count(*) AS n_removed,
             count(DISTINCT rid) AS n_runs,
             max(run_len) AS max_run_len
      FROM removed GROUP BY {id_col}
    ),
    toks AS (
      SELECT {id_col}, pos - 1 AS pos0, tk[pos] AS tok
      FROM t, unnest(range(1, len(tk) + 1)) u(pos)
    ),
    kept AS (
      SELECT t2.{id_col}, t2.pos0, t2.tok
      FROM toks t2 ANTI JOIN (SELECT {id_col}, pos - 1 AS pos0 FROM removed) r
      USING ({id_col}, pos0)
    ),
    rebuilt AS (
      SELECT {id_col}, string_agg(tok, ' ' ORDER BY pos0) AS clean_text
      FROM kept GROUP BY {id_col}
    )
    SELECT t.{id_col},
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(s.n_runs, 0) AS BIGINT) AS n_runs,
           CAST(coalesce(s.max_run_len, 0) AS BIGINT) AS max_run_len,
           md5(coalesce(r.clean_text, '')) AS clean_hash
    FROM t LEFT JOIN run_stats s USING ({id_col})
           LEFT JOIN rebuilt r USING ({id_col})
    ORDER BY t.{id_col}
    """


# ------------------------------------------------------------- collocations
def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information (Church & Hanks 1990): PMI(a,b) =
    log10(p(a,b) / (p(a)p(b))) with p from exact corpus counts —
    the phrase-mining step before tokenizer/vocab decisions (which
    bigrams deserve to become single tokens).

    Plan shape: one corpus-proportional pass each for unigram and
    bigram counts (explode -> partial hash-agg; bigrams pair
    whole-array slices, never per-element lambdas). PMI math then runs
    on the vocab-sized aggregates: two equi-joins to attach c_a/c_b
    (AQE broadcasts the unigram side when small) and the two corpus
    totals ride in as broadcast 1-row aggregates. Bigrams never cross
    document boundaries. ``min_count`` keeps the noise floor out
    BEFORE the joins, so the joined stream is the interesting tail
    only.

    Float policy (cross-engine): all counts stay exact integers; the
    single ratio is computed in double with an identical association
    order in the DuckDB twin (+,*,/ are bit-identical), log10 rounded
    to 4 dp once, and ranking happens on the ROUNDED score with
    (w1, w2) tie-break.
    """
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = df.select(ws.alias("ws"))
    uni = (
        base.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    arr = F.col("ws")
    n = F.size(arr) - 1
    pairs = F.zip_with(
        F.slice(arr, 1, n),
        F.slice(arr, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        base.where(F.size(arr) >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tok"))
    n_big = big.agg(F.sum("c_ab").alias("n_big"))
    scored = (
        big.where(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
    )
    num = (
        F.col("c_ab").cast("double")
        * F.col("n_tok").cast("double")
        * F.col("n_tok").cast("double")
    )
    den = (
        F.col("n_big").cast("double")
        * F.col("c_a").cast("double")
        * F.col("c_b").cast("double")
    )
    return (
        scored.select(
            "w1",
            "w2",
            "c_ab",
            F.round(F.log10(num / den), 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def pmi_collocations_sql(
    table: str = "documents",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`pmi_collocations` — identical double
    association order so +,*,/ stay bit-identical before the single
    rounded log10."""
    return f"""
    WITH base AS (
      SELECT list_filter(str_split({text_col}, ' '), w -> w <> '') AS ws
      FROM {table}
    ),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(ws) AS w FROM base) GROUP BY w
    ),
    big AS (
      SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c_ab
      FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                      i -> {{'w1': ws[i], 'w2': ws[i+1]}})) AS p
        FROM base WHERE len(ws) >= 2
      ) GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni
    ),
    btot AS (
      SELECT CAST(sum(c_ab) AS BIGINT) AS n_big FROM big
    )
    SELECT b.w1, b.w2, b.c_ab,
           round(log10(
             (CAST(b.c_ab AS DOUBLE) * CAST(t.n_tok AS DOUBLE)
              * CAST(t.n_tok AS DOUBLE))
             / (CAST(bt.n_big AS DOUBLE) * CAST(ua.c AS DOUBLE)
                * CAST(ub.c AS DOUBLE))), 4) AS pmi
    FROM big b
    JOIN uni ua ON ua.w = b.w1
    JOIN uni ub ON ub.w = b.w2
    CROSS JOIN tot t CROSS JOIN btot bt
    WHERE b.c_ab >= {min_count}
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {k}
    """


# ------------------------------------------------------------ source overlap
def source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Pairwise inter-source n-gram Jaccard — the template-sharing /
    cross-source duplication matrix a mixture owner reads before
    assigning per-source weights (two "different" crawls that share
    40% of their 3-gram sets are one source wearing two hats, and
    their combined weight double-counts that mass).

    Output: ``(src_a, src_b, n_inter, n_union, jaccard_ppm)`` for every
    unordered pair with at least one shared gram (src_a < src_b).
    Jaccard is exact-integer ppm (``1e6*inter div union``), so the
    result is value-exact cross-engine.

    Scale shape: one explode -> DISTINCT (group, gram) pass (partial
    aggregation collapses within-partition repeats before the
    shuffle), then a self-join on the gram. A gram shared by S sources
    expands to S^2 rows — bounded by the SQUARE OF THE SOURCE COUNT
    per gram, not by corpus size, because the join operands are
    already source-level distinct. Mixtures have tens of sources, so
    the blowup is structurally capped (cf. the per-doc joins in
    ext/dedup.py, which need explicit bucket caps)."""
    sg = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(shingles(F.col(text_col), n)).alias("g"),
        )
        .distinct()
    )
    sizes = sg.groupBy("grp").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sg.select(F.col("grp").alias("src_a"), "g")
        .join(sg.select(F.col("grp").alias("src_b"), "g"), "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("grp", "src_a").withColumnRenamed("sz", "sz_a")), "src_a")
        .join(F.broadcast(sizes.withColumnRenamed("grp", "src_b").withColumnRenamed("sz", "sz_b")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).alias("n_union"),
            F.expr("(1000000 * n_inter) div (sz_a + sz_b - n_inter)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("src_a", "src_b")
    )


def source_overlap_sql(
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> str:
    """DuckDB twin of :func:`source_overlap`."""
    from dvmax_spark.ext.traindata import _duck_grams

    return f"""
    WITH toks AS (
      SELECT {group_col} AS grp, str_split({text_col}, ' ') AS t FROM {table}
    ), sg AS (
      SELECT DISTINCT grp, g
      FROM (SELECT grp, unnest({_duck_grams(n)}) AS g FROM toks)
    ), sizes AS (
      SELECT grp, count(*) AS sz FROM sg GROUP BY grp
    ), inter AS (
      SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS n_inter
      FROM sg a JOIN sg b USING (g)
      WHERE a.grp < b.grp
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_inter,
           sa.sz + sb.sz - n_inter AS n_union,
           (1000000 * n_inter) // (sa.sz + sb.sz - n_inter) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.grp = src_a
    JOIN sizes sb ON sb.grp = src_b
    ORDER BY src_a, src_b
    """


# ------------------------------------------------------------- vocab growth
def vocab_growth(
    df: DataFrame,
    deciles: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct-word
    count vs cumulative token count at ``deciles`` corpus prefixes (in
    ``id_col`` order). The curve that sizes a tokenizer vocab and
    predicts how much NEW vocabulary another 10x of corpus will bring
    (V ~ k*N^b, b<1 — sublinear, which is also why this repo's BPE
    trainer can hold the word dictionary in memory at 100 TB).

    Exact-integer throughout: a word's first appearance is
    min(doc_id), prefixes are exact rank cutoffs, and every output is
    a count — value-exact cross-engine by construction.

    Scale shape: explode -> two hash-aggs (per-doc token counts, O(docs)
    rows; per-word first-doc, O(vocab) rows). The decile assignment
    needs each doc's global rank — computed DISTRIBUTED via the
    range-partition recipe (operators/distrank.py: range shuffle +
    per-partition row_number + broadcast offsets), bit-identical to the
    single-window rank for the unique ``id_col`` order, so the oracle
    is unchanged and no single-partition window exists. Final rollup is
    ``deciles`` rows through one tiny (bounded-input) window.
    """
    from dvmax_spark.operators.distrank import with_global_rank

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).where(F.col("tok") != "")
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    n_docs = per_doc.agg(F.count(F.lit(1)).alias("n_all"))
    ranked = with_global_rank(per_doc, [F.col(id_col).asc()], out_col="rn").crossJoin(
        F.broadcast(n_docs)
    )
    # first checkpoint that includes this doc: ceil(rn*D/n) as exact ints
    dec = F.expr(f"(rn * {deciles} + n_all - 1) div n_all")
    ranked = ranked.withColumn("dec", dec)
    doc_stats = ranked.groupBy("dec").agg(
        F.count(F.lit(1)).alias("d_docs"), F.sum("n_tok").alias("d_toks")
    )
    first = toks.groupBy("tok").agg(F.min(id_col).alias("first_doc"))
    vocab_stats = (
        first.join(
            ranked.select(F.col(id_col).alias("first_doc"), "dec"), "first_doc"
        )
        .groupBy("dec")
        .agg(F.count(F.lit(1)).alias("d_vocab"))
    )
    w = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    return (
        doc_stats.join(vocab_stats, "dec", "left")
        .select(
            F.col("dec").alias("decile"),
            F.sum("d_docs").over(w).alias("n_docs_cum"),
            F.sum("d_toks").over(w).alias("n_tokens_cum"),
            F.sum(F.coalesce("d_vocab", F.lit(0))).over(w).alias("n_vocab_cum"),
        )
        .orderBy("decile")
    )


def vocab_growth_sql(table: str = "documents", deciles: int = 10) -> str:
    """DuckDB twin of :func:`vocab_growth`."""
    return f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS tok FROM {table})
      WHERE tok <> ''
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY doc_id) AS rn,
             count(*) OVER () AS n_all
      FROM per_doc
    ), withdec AS (
      SELECT *, (rn * {deciles} + n_all - 1) // n_all AS dec FROM ranked
    ), doc_stats AS (
      SELECT dec, count(*) AS d_docs, CAST(sum(n_tok) AS BIGINT) AS d_toks
      FROM withdec GROUP BY dec
    ), first AS (
      SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
    ), vocab_stats AS (
      SELECT w.dec, count(*) AS d_vocab
      FROM first f JOIN withdec w ON w.doc_id = f.first_doc
      GROUP BY w.dec
    )
    SELECT d.dec AS decile,
           CAST(sum(d.d_docs) OVER cum AS BIGINT) AS n_docs_cum,
           CAST(sum(d.d_toks) OVER cum AS BIGINT) AS n_tokens_cum,
           CAST(sum(COALESCE(v.d_vocab, 0)) OVER cum AS BIGINT) AS n_vocab_cum
    FROM doc_stats d LEFT JOIN vocab_stats v USING (dec)
    WINDOW cum AS (ORDER BY d.dec ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """


# ------------------------------------------------- content-defined chunking
def cdc_dedup_stats(
    df: DataFrame,
    avg_chunk: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Content-defined chunking dedup (Rabin/gear-style, the storage
    -dedup classic applied at token granularity): a chunk boundary
    falls AFTER any token whose portable hash ≡ 0 (mod ``avg_chunk``),
    so boundaries are content-anchored — inserting one word into a
    document shifts ONE chunk, not every downstream block (the
    shift-robustness fixed-width ``block_dedup_stats`` lacks; expected
    chunk length is ``avg_chunk`` tokens). Chunks are then exact-
    deduped corpus-wide and the duplicated mass reported per source:
    ``(group, n_chunks, n_dup_chunks, dup_tokens)``.

    Scale shape: one posexplode pass; per-doc running boundary count
    (window partitioned by doc — never global); chunk reassembly is a
    (doc, chunk)-keyed aggregation; corpus-wide chunk-hash counts are
    one more hash-agg joined back. All counts exact integers —
    value-exact cross-engine."""
    toks = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # chunk index = number of boundaries strictly BEFORE this token
    bnd = (_portable_hash(F.col("tok")) % avg_chunk == 0).cast("int")
    staged = toks.withColumn(
        "chunk", F.coalesce(F.sum(bnd).over(w), F.lit(0))
    )
    chunks = staged.groupBy(id_col, "grp", "chunk").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s.tok,
                ),
                " ",
            )
        ).alias("h"),
    )
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        chunks.join(freq, "h")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") > 1).cast("int")).cast("bigint").alias("n_dup_chunks"),
            F.sum(F.when(F.col("n_occ") > 1, F.col("n_tok")).otherwise(0))
            .cast("bigint")
            .alias("dup_tokens"),
        )
        .orderBy(group_col)
    )


def cdc_dedup_stats_sql(
    avg_chunk: int = 16,
    table: str = "documents",
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`cdc_dedup_stats`."""
    h = "(('0x' || substr(md5(tok), 1, 15))::BIGINT)"
    return f"""
    WITH toks AS (
      SELECT doc_id, {group_col} AS grp, t.pos, t.tok
      FROM (
        SELECT doc_id, {group_col},
               unnest(list_transform(str_split(text, ' '),
                      (x, i) -> struct_pack(pos := i, tok := x))) AS t
        FROM {table}
      )
      WHERE t.tok <> ''
    ), staged AS (
      SELECT doc_id, grp, pos, tok,
             COALESCE(sum(CASE WHEN {h} % {avg_chunk} = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      FROM toks
    ), chunks AS (
      SELECT doc_id, grp, chunk, count(*) AS n_tok,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS h
      FROM staged GROUP BY doc_id, grp, chunk
    ), freq AS (
      SELECT h, count(*) AS n_occ FROM chunks GROUP BY h
    )
    SELECT grp AS {group_col}, count(*) AS n_chunks,
           CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(sum(CASE WHEN n_occ > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
    FROM chunks JOIN freq USING (h)
    GROUP BY grp ORDER BY grp
    """


# ----------------------------------------------------------- winnowing
def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Winnowing fingerprint sampling (Schleimer et al. 2003, the
    MOSS algorithm): every window of ``w`` consecutive k-gram
    positions selects its minimum-hash gram, so only ~2/(w+1) of gram
    positions enter the index while any shared run of w+k-1 tokens
    still shares at least one selected fingerprint — the window fully
    inside the shared region selects the SAME gram in both documents
    (hashes depend only on content, not position). That guarantee is
    what makes a SAMPLED sub-document dup index sound, and the
    sampling is the scale win over the exhaustive inverted index
    dup_span_stats builds: the index shrinks w-fold before any
    shuffle happens.

    Selection is two per-doc window passes (the classic rule, NOT a
    ±(w−1) local-minimum — that stricter rule loses the guarantee
    when doc-specific flanking hashes undercut the shared window's
    min): win_min per window, then p is selected iff SOME window
    containing p has win_min == h[p]; since every containing window's
    min is ≤ h[p], that is max(win_min over containing windows) ==
    h[p]. Trailing short windows are included identically on both
    engines (they only ever ADD selections).

    Output per ``group_col``: total gram positions, selected
    fingerprints (index size), and how many of a doc's distinct
    fingerprint values also occur in ANOTHER document (the dup
    signal). All counts exact integers — value-exact cross-engine."""
    grams = (
        df.withColumn("grp", F.col(group_col))
        .transform(
            lambda d: shingle_stream(
                d, text_col, k, cols=(id_col, "grp"), gpos_col="pos"
            )
        )
        .select(id_col, "grp", "pos", _portable_hash(F.col("g")).alias("h"))
    )
    fwd = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    bwd = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    staged = grams.withColumn("win_min", F.min("h").over(fwd)).withColumn(
        "sel_min", F.max("win_min").over(bwd)
    )
    sel = staged.where(F.col("h") == F.col("sel_min"))
    fp = sel.select(id_col, "grp", "h").distinct()
    docs_per_fp = fp.groupBy("h").agg(
        F.countDistinct(id_col).alias("n_docs_fp")
    )
    per_doc = (
        staged.groupBy(id_col, "grp")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("h") == F.col("sel_min")).cast("int")).alias("n_sel"),
        )
    )
    shared = (
        fp.join(docs_per_fp, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum((F.col("n_docs_fp") > 1).cast("int")).alias("n_fp_shared"),
        )
    )
    return (
        per_doc.join(shared, id_col, "left")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_sel").cast("bigint").alias("n_selected"),
            F.sum(F.coalesce("n_fp", F.lit(0))).cast("bigint").alias("n_fp"),
            F.sum(F.coalesce("n_fp_shared", F.lit(0)))
            .cast("bigint")
            .alias("n_fp_shared"),
        )
        .orderBy(group_col)
    )


def winnow_fingerprints_sql(
    k: int = 4,
    w: int = 4,
    table: str = "documents",
    group_col: str = "source",
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    h = "(('0x' || substr(md5(g), 1, 15))::BIGINT)"
    return f"""
    WITH t AS (
      SELECT doc_id, {group_col} AS grp, str_split(text, ' ') AS tk FROM {table}
    ), grams AS (
      SELECT doc_id, grp, i AS pos, {h} AS h
      FROM (
        SELECT doc_id, grp, i, array_to_string(tk[i:i+{k - 1}], ' ') AS g
        FROM t, unnest(range(1, len(tk) - {k} + 2)) u(i)
      )
    ), winmin AS (
      SELECT *, min(h) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                AS win_min
      FROM grams
    ), staged AS (
      SELECT *, max(win_min) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)
                AS sel_min
      FROM winmin
    ), fp AS (
      SELECT DISTINCT doc_id, grp, h FROM staged WHERE h = sel_min
    ), docs_per_fp AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs_fp FROM fp GROUP BY h
    ), per_doc AS (
      SELECT doc_id, grp, count(*) AS n_grams,
             CAST(sum(CASE WHEN h = sel_min THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
      FROM staged GROUP BY doc_id, grp
    ), shared AS (
      SELECT fp.doc_id, count(*) AS n_fp,
             CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fp_shared
      FROM fp JOIN docs_per_fp USING (h) GROUP BY fp.doc_id
    )
    SELECT p.grp AS {group_col},
           CAST(sum(p.n_grams) AS BIGINT) AS n_grams,
           CAST(sum(p.n_sel) AS BIGINT) AS n_selected,
           CAST(sum(COALESCE(s.n_fp, 0)) AS BIGINT) AS n_fp,
           CAST(sum(COALESCE(s.n_fp_shared, 0)) AS BIGINT) AS n_fp_shared
    FROM per_doc p LEFT JOIN shared s USING (doc_id)
    GROUP BY p.grp ORDER BY p.grp
    """


# ------------------------------------------------- tf-idf cosine pairs

def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.30,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    max_df_ppm: int | None = None,
) -> DataFrame:
    """Sparse lexical near-dup pairs: every document pair whose
    tf-idf-weighted unigram COSINE similarity is >= ``threshold`` —
    the weighted complement of the set-based joins (exact Jaccard
    ext/dedup.py:jaccard_prefix_join, approximate MinHash): tf-idf
    downweights boilerplate so template-heavy corpora don't collapse
    into one giant near-dup family the way raw token overlap does.

    Determinism/parity contract: tf and document frequency are exact
    counts; idf is quantized ONCE through the proven exact-int-ratio
    pattern ``round(log10((N*1e6) div df) * 1000) - 6000`` (millis,
    0 for corpus-wide tokens — which are therefore dropped from every
    vector, by construction removing the single hottest join key);
    per-token weights ``tf * idf_milli`` and the dot products / norms
    are BIGINT sums, and the final cosine is dot/(sqrt(n2a)*sqrt(n2b))
    using only IEEE-identical ops (int64->double, *, /, sqrt), so the
    distributed result hash-matches DuckDB's brute-force all-pairs
    oracle bit for bit.

    Scale shape — the SYMMETRIC WEIGHTED PREFIX FILTER (Bayardo et
    al. WWW'07 AllPairs, Vernica et al. SIGMOD'10): candidates are
    generated only from each document's PREFIX tokens — in the global
    (df asc, tok) order, the maximal tail T of a doc with
    sum_{t in T} u(t,d)*maxu(t) < threshold/2 can be dropped from the
    index: if a pair's shared tokens all hide inside the two tails,
    cos(a,b) <= sum_{T_a} u(t,a)*maxu(t) + sum_{T_b} u(t,b)*maxu(t)
    < threshold (the HALF-threshold per tail is what makes the
    SYMMETRIC argument sound — a full-threshold tail on each side
    would only bound the split-mass pair by 2*threshold, losing
    pairs). Any qualifying pair therefore shares a token in BOTH
    prefixes, so the self-join runs
    on prefixes alone (fan-out sum_t prefix_df(t)^2 — at high
    thresholds most of every doc's mass is tail) and the exact
    integer dot is computed only for surviving candidate pairs. The
    float cum-mass is used for PRUNING only, with a 1e-9 conservative
    margin (>= 1e3x the worst accumulated ulp error at 1e6-token
    docs), so the pruned result is still bit-equal to brute force —
    the sf0.01 oracle hash-checks exactly that losslessness.
    ``max_df_ppm`` is sklearn TfidfVectorizer's ``max_df`` as exact
    ppm of N (computed identically in the oracle, so parity holds
    WITH the cap): tokens present in more than that FRACTION of docs
    are dropped from every vector. This changes the semantics — the
    similarity is then "cosine over non-boilerplate vocabulary" — and
    it is the knob that matters on degenerate template corpora, where
    the raw tf-idf answer is inherently quadratic (the mass-carrying
    tokens sit in most docs, so no lossless filter can prune: the
    TRUE pair set is ~all-pairs; measured here: 0.6k pairs at sf0.01
    -> 61k at sf0.1 uncapped). ``max_doc_freq`` is the same cap as an
    absolute count. N, idf and maxu are tiny per-token aggregates
    broadcast back.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    # Shared-subtree materialization (r10, guide §3.3/§5): tf feeds 3
    # consumers (nd, dfreq, w), w feeds 5 (norms, maxu, contrib, both
    # dot sides), norms feeds 4, pre feeds both prefix sides. Without
    # the checkpoints every consumer re-derives its whole chain from
    # the scan (72 parquet scans / 222 exchanges in one plan at the
    # r10 baseline). All downstream aggregates are bigint sums or
    # deterministic-order window sums, so results are bit-identical.
    tf = (
        toks.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    nd = tf.select(F.countDistinct("id").alias("n"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.where(F.col("df") <= int(max_doc_freq))
    dfn = dfreq.crossJoin(F.broadcast(nd))
    if max_df_ppm is not None:
        dfn = dfn.where(
            F.col("df") <= F.expr(f"(n * {int(max_df_ppm)}) div 1000000")
        )
    idf = (
        dfn
        .withColumn(
            "idf_m",
            (F.round(F.log10(F.expr("(n * 1000000) div df")) * 1000, 0)).cast("long")
            - F.lit(6000),
        )
        .where(F.col("idf_m") > 0)
        .select("tok", "idf_m", "df")
    )
    w = (
        tf.join(idf, "tok")
        .select("id", "tok", "df", (F.col("tf") * F.col("idf_m")).alias("w"))
        .localCheckpoint(eager=False)
    )
    norms = (
        w.groupBy("id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        .localCheckpoint(eager=False)
    )
    # normalized weights + per-token corpus max (pruning only: floats)
    maxu_t = (
        w.join(norms, "id")
        .select("tok", (F.col("w") / F.sqrt(F.col("n2").cast("double"))).alias("u"))
        .groupBy("tok")
        .agg(F.max("u").alias("maxu"))
    )
    contrib = (
        w.join(norms, "id")
        .join(maxu_t, "tok")
        .select(
            "id",
            "tok",
            "df",
            "w",
            (
                (F.col("w") / F.sqrt(F.col("n2").cast("double"))) * F.col("maxu")
            ).alias("c"),
        )
    )
    # suffix mass from the common end of the global (df asc, tok)
    # order; a token stays in the prefix (index) iff the tail FROM it
    # onward still carries >= threshold/2 - margin potential mass
    w_ord = Window.partitionBy("id").orderBy(
        F.col("df").desc(), F.col("tok").desc()
    )
    pre = (
        contrib.withColumn(
            "tail_mass",
            F.sum("c").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .where(F.col("tail_mass") >= F.lit(float(threshold) / 2.0 - 1e-9))
        .select("id", "tok")
        .localCheckpoint(eager=False)
    )
    a_p = pre.select(F.col("id").alias("id_a"), "tok")
    b_p = pre.select(F.col("id").alias("id_b"), "tok")
    cand = (
        a_p.join(b_p, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact integer dot over the FULL vectors of candidate pairs only
    wa = w.select(F.col("id").alias("id_a"), "tok", F.col("w").alias("wa"))
    wb = w.select(F.col("id").alias("id_b"), "tok", F.col("w").alias("wb"))
    dots = (
        cand.join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("n2").alias("n2b"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(cos >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round(cos, 4).alias("cos"))
        .orderBy("id_a", "id_b")
    )


def tfidf_cosine_pairs_sql(
    threshold: float = 0.30,
    table: str = "documents",
    max_df_ppm: int | None = None,
) -> str:
    """DuckDB oracle for :func:`tfidf_cosine_pairs` — brute-force
    all-pairs over the same quantized weights, so a hash match proves
    the Spark plan's prefix filtering is lossless. ``max_df_ppm``
    mirrors the Spark-side sklearn-max_df cap EXACTLY (same exact-int
    fraction of N), so the capped semantics are oracled too."""
    cap = (
        f"AND count(*) <= ((SELECT n FROM nd) * {int(max_df_ppm)}) // 1000000"
        if max_df_ppm is not None
        else ""
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, u.tok AS tok
      FROM {table}, UNNEST(str_split(text, ' ')) AS u(tok)
      WHERE u.tok <> ''
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n FROM tf
    ), idf AS (
      SELECT tok,
             CAST(round(log10(((SELECT n FROM nd) * 1000000) // count(*)) * 1000)
                  AS BIGINT) - 6000 AS idf_m
      FROM tf GROUP BY tok HAVING 1=1 {cap}
    ), w AS (
      SELECT doc_id, tf.tok, tf.tf * idf.idf_m AS w
      FROM tf JOIN idf USING (tok) WHERE idf.idf_m > 0
    ), norms AS (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
                 * sqrt(CAST(nb.n2 AS DOUBLE))), 4) AS cos
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
          * sqrt(CAST(nb.n2 AS DOUBLE))) >= {float(threshold)!r}
    ORDER BY id_a, id_b
    """


# --------------------------------------------------------- rank fusion

def rrf_fusion(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    pool: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher SIGIR'09) of
    two retrieval signals: BM25 relevance for a fixed query and the
    heuristic quality score — the standard way to combine rankers
    without score calibration (industry default in hybrid search).
    Contributions are EXACT integer ppm ``1e6 div (rrf_k + rank)``
    (never the float 1/(k+r) — distributed float sums are the classic
    cross-engine divergence), ranks are row_numbers over PRE-ROUNDED
    scores with id tie-breaks, so fused scores and the final top-k are
    value-exact.

    Scale shape: each ranker reduces to its own top-``pool`` FIRST
    (partial top-k, no global sort of the corpus); the fusion then
    windows/joins two <= pool-row frames — driver-scale data, one
    tiny full-outer join."""
    from dvmax_spark.ext.textstats import quality_score

    bm = bm25_rank(df, terms, k=pool)
    w_bm = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    a = bm.withColumn("r", F.row_number().over(w_bm)).select(
        id_col, F.expr(f"1000000 div ({int(rrf_k)} + r)").alias("c_bm25")
    )
    q = (
        quality_score(df)
        .select(id_col, F.round("quality", 6).alias("q"))
        .orderBy(F.desc("q"), F.asc(id_col))
        .limit(pool)
    )
    w_q = Window.orderBy(F.desc("q"), F.asc(id_col))
    b = q.withColumn("r", F.row_number().over(w_q)).select(
        id_col, F.expr(f"1000000 div ({int(rrf_k)} + r)").alias("c_quality")
    )
    return (
        a.join(b, id_col, "full_outer")
        .select(
            id_col,
            (
                F.coalesce("c_bm25", F.lit(0)) + F.coalesce("c_quality", F.lit(0))
            ).alias("rrf_ppm"),
        )
        .orderBy(F.desc("rrf_ppm"), F.asc(id_col))
        .limit(k)
    )


def rrf_fusion_sql(
    terms: tuple[str, ...],
    k: int = 20,
    pool: int = 50,
    rrf_k: int = 60,
    table: str = "documents",
) -> str:
    bm = bm25_rank_sql(terms, table=table, k=pool)
    return f"""
    WITH bm AS ({bm}),
    bmr AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
      FROM bm
    ), t AS (
      SELECT doc_id, str_split(text, ' ') AS toks FROM {table}
    ), s AS (
      SELECT doc_id,
             len(toks)::DOUBLE AS n,
             len(list_distinct(toks))::DOUBLE AS nd,
             len(list_filter(toks,
                 x -> x IN ('the','a','of','and','in','to','is')))::DOUBLE AS ns
      FROM t
    ), q AS (
      SELECT doc_id,
             round(0.4 * least(n / 100.0, 1.0)
                 + 0.3 * (CASE WHEN n > 0 THEN nd / n ELSE 0 END)
                 + 0.3 * least((CASE WHEN n > 0 THEN ns / n ELSE 0 END) * 4.0,
                               1.0), 6) AS q
      FROM s
    ), qt AS (
      SELECT doc_id, q FROM q ORDER BY q DESC, doc_id ASC LIMIT {pool}
    ), qr AS (
      SELECT doc_id, row_number() OVER (ORDER BY q DESC, doc_id ASC) AS r
      FROM qt
    )
    SELECT coalesce(b.doc_id, u.doc_id) AS doc_id,
           CAST(coalesce(1000000 // ({int(rrf_k)} + b.r), 0)
                + coalesce(1000000 // ({int(rrf_k)} + u.r), 0) AS BIGINT)
             AS rrf_ppm
    FROM bmr b FULL OUTER JOIN qr u ON b.doc_id = u.doc_id
    ORDER BY rrf_ppm DESC, doc_id ASC
    LIMIT {k}
    """


# --------------------------------------------------------- zipf slope

def zipf_slope(
    df: DataFrame, text_col: str = "text", top: int = 1000
) -> DataFrame:
    """Zipf rank-frequency slope over the top-``top`` vocabulary: the
    least-squares slope of log10(count) against log10(rank) — natural
    corpora sit near -1; a slope far off flags template/boilerplate
    domination or synthetic token soup (tokenizer-health diagnostic
    next to the Heaps curve x_vocab_growth).

    Exactness: counts and ranks are exact integers; each log10 is
    quantized ONCE to millis (the proven single-round pattern), and
    all four regression moments are BIGINT sums over <= ``top`` rows,
    so the only float op is the final num/den divide of two identical
    bigints. Moment magnitudes stay far under 2^63 for any ``top`` <=
    1e5 and counts <= 1e12 (x,y <= ~1.2e4 millis).

    Scale shape: token counts are a map-side partial agg; the top-k
    is a TakeOrderedAndProject; the regression is one aggregate over
    <= ``top`` rows."""
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(top)
    )
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    pts = counts.withColumn("r", F.row_number().over(w)).select(
        F.round(F.log10(F.col("r").cast("double")) * 1000, 0)
        .cast("long")
        .alias("x"),
        F.round(F.log10(F.col("n").cast("double")) * 1000, 0)
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx")
    # degenerate regression (0 or 1 distinct rank): no slope, not
    # an IEEE Infinity that engines would render differently
    return m.select(
        "n_points",
        F.when(
            den != 0, F.round(num.cast("double") / den.cast("double"), 6)
        ).alias("slope"),
    )


def zipf_slope_sql(top: int = 1000, table: str = "documents") -> str:
    return f"""
    WITH counts AS (
      SELECT tok, count(*) AS n
      FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM {table})
      WHERE tok <> '' GROUP BY tok
      ORDER BY n DESC, tok ASC LIMIT {top}
    ), pts AS (
      SELECT CAST(round(log10(row_number() OVER (ORDER BY n DESC, tok ASC)
                              ::DOUBLE) * 1000) AS BIGINT) AS x,
             CAST(round(log10(n::DOUBLE) * 1000) AS BIGINT) AS y
      FROM counts
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_points,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n_points,
           CASE WHEN n_points * sxx - sx * sx <> 0
                THEN round(CAST(n_points * sxy - sx * sy AS DOUBLE)
                           / CAST(n_points * sxx - sx * sx AS DOUBLE), 6)
           END AS slope
    FROM m
    """


# ------------------------------------------------- association rules

def assoc_rules(
    df: DataFrame,
    min_support: int = 50,
    min_conf_ppm: int = 400_000,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise association rules a -> b over per-document token sets
    (the market-basket classic, Agrawal/Srikant VLDB'94): support,
    confidence and lift for every ordered token pair co-occurring in
    >= ``min_support`` documents with confidence >= ``min_conf_ppm``,
    top-``k`` by lift — which co-occurrences are RULES, not just
    frequent (PMI's thresholded, ratio-based sibling).

    Apriori prune before any pairing: support(a,b) <= min(df(a),
    df(b)), so tokens below ``min_support`` are dropped BEFORE the
    within-doc self-join — the candidate space is (frequent tokens
    per doc)^2, not (doc length)^2. Confidence and lift are EXACT
    integer ppm: conf = (n_ab * 1e6) div n_a, lift = (n_ab * N * 1e6)
    div (n_a * n_b). The lift numerator n_ab*N*1e6 needs headroom —
    fine under ~2e63 up to n_ab,N ~ 1e8 docs; at larger corpus
    cardinalities rearrange to ((n_ab*1e6) div n_a * ... ) or widen
    to decimal, trading the last ppm of exactness for range.

    Scale shape: one distinct-token aggregation, a frequent-token
    semi-join (tiny broadcast), one within-doc self-join bounded by
    frequent tokens per doc, one pair aggregation. Ranking on exact
    integers with (a, b) tie-break.
    """
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    frequent = dfreq.where(F.col("n") >= int(min_support))
    ft = toks.join(F.broadcast(frequent.select("tok")), "tok", "left_semi")
    nd = toks.select(F.countDistinct("id").alias("n_docs"))
    a = ft.select("id", F.col("tok").alias("a"))
    b = ft.select("id", F.col("tok").alias("b"))
    pairs = (
        a.join(b, "id")
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= int(min_support))
    )
    na = frequent.select(F.col("tok").alias("a"), F.col("n").alias("n_a"))
    nb = frequent.select(F.col("tok").alias("b"), F.col("n").alias("n_b"))
    out = (
        pairs.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .crossJoin(F.broadcast(nd))
        .select(
            "a",
            "b",
            "n_ab",
            F.expr("(n_ab * 1000000) div n_a").alias("conf_ppm"),
            F.expr("(n_ab * n_docs * 1000000) div (n_a * n_b)").alias("lift_ppm"),
        )
        .where(F.col("conf_ppm") >= int(min_conf_ppm))
    )
    return out.orderBy(
        F.desc("lift_ppm"), F.asc("a"), F.asc("b")
    ).limit(k)


def assoc_rules_sql(
    min_support: int = 50,
    min_conf_ppm: int = 400_000,
    k: int = 50,
    table: str = "documents",
) -> str:
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, u.tok AS tok
      FROM {table}, UNNEST(str_split(text, ' ')) AS u(tok)
      WHERE u.tok <> ''
    ), dfreq AS (
      SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ), freq AS (
      SELECT tok, n FROM dfreq WHERE n >= {int(min_support)}
    ), ft AS (
      SELECT t.doc_id, t.tok FROM toks t SEMI JOIN freq USING (tok)
    ), nd AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM toks
    ), pairs AS (
      SELECT x.tok AS a, y.tok AS b, count(*) AS n_ab
      FROM ft x JOIN ft y ON x.doc_id = y.doc_id AND x.tok <> y.tok
      GROUP BY 1, 2 HAVING count(*) >= {int(min_support)}
    )
    SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
           (n_ab * 1000000) // fa.n AS conf_ppm,
           (n_ab * (SELECT n_docs FROM nd) * 1000000) // (fa.n * fb.n)
             AS lift_ppm
    FROM pairs
    JOIN freq fa ON fa.tok = a
    JOIN freq fb ON fb.tok = b
    WHERE (n_ab * 1000000) // fa.n >= {int(min_conf_ppm)}
    ORDER BY lift_ppm DESC, a ASC, b ASC
    LIMIT {k}
    """
