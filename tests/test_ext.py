"""Property tests for approximate/ML operators (the driver's rows-only
queries): MinHash estimates track exact Jaccard, LSH/IVF ANN recall
against brute force, HLL error bounds, multimodal determinism,
classifier accuracy above chance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    from dvmax_spark.catalog import load_table

    return load_table(spark, "documents", SF).cache()


@pytest.fixture(scope="module")
def emb(spark):
    from dvmax_spark.catalog import load_table

    return load_table(spark, "embeddings", SF).cache()


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    """For candidate pairs the banded-LSH surfaced, the signature-based
    Jaccard estimate must be within 0.25 of the exact value (64 hashes
    => stderr ~ 1/8)."""
    from dvmax_spark.ext.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    est = minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, shingle_n=2, threshold=0.0
    ).withColumnRenamed("est_jaccard", "est")
    exact = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None)
    # exact pairs use unigram tokens; recompute exact on bigrams to match
    from dvmax_spark.ext.dedup import shingles

    grams = docs.select("doc_id", F.explode(shingles("text", 2)).alias("g"))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("doc_id").alias("id_a"), "g")
    b = grams.select(F.col("doc_id").alias("id_b"), "g")
    common = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    exact_bi = common.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", (F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))).alias("exact")
    )
    joined = est.join(exact_bi, ["id_a", "id_b"]).select(
        F.max(F.abs(F.col("est") - F.col("exact"))).alias("max_err"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert joined["n"] > 0
    assert joined["max_err"] <= 0.25


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    from dvmax_spark.ext.similarity import cosine_topk_bruteforce, cosine_topk_lsh

    exact = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk_bruteforce(emb, range(20), k=5).collect()
    }
    # 2 planes -> 4 buckets -> wide candidate sets -> high recall
    approx = {
        (r["q_id"], r["c_id"])
        for r in cosine_topk_lsh(emb, range(20), k=5, n_planes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def _recall(exact_df, approx_df) -> float:
    exact: dict[int, set] = {}
    for r in exact_df.collect():
        exact.setdefault(r["q_id"], set()).add(r["c_id"])
    got: dict[int, set] = {}
    for r in approx_df.collect():
        got.setdefault(r["q_id"], set()).add(r["c_id"])
    return sum(len(exact[q] & got.get(q, set())) for q in exact) / sum(
        len(v) for v in exact.values()
    )


def test_ivf_ann_multi_probe_recall(spark, emb):
    """The testdata embeddings are i.i.d. random (no cluster structure
    — same-label cosine ≈ diff-label ≈ 0), so ANY partitioning ANN is
    information-theoretically capped near its probe fraction here. The
    provable properties on such data: recall clearly beats the naive
    probe-fraction baseline, and the nprobe knob buys recall."""
    from dvmax_spark.ext.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    exact = cosine_topk_bruteforce(emb, range(30), k=5)
    r1 = _recall(exact, cosine_topk_ivf(emb, range(30), k=5, n_clusters=8, nprobe=1))
    r3 = _recall(exact, cosine_topk_ivf(emb, range(30), k=5, n_clusters=8, nprobe=3))
    assert r1 >= 1.5 / 8  # beats probing 1/8 of the corpus at random
    assert r3 >= 0.55  # measured 0.633; floor with container margin
    assert r3 > r1  # the recall knob works


def test_ann_high_recall_on_clustered_data(spark):
    """On data WITH neighbor structure (10 tight clusters) the ANN
    paths must actually find the neighbors: IVF ≥ 0.9, LSH ≥ 0.8."""
    import numpy as np

    from dvmax_spark.ext.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for i in range(400):
        c = centers[i % 10]
        v = c + 0.08 * rng.normal(size=64)
        vecs.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    exact = cosine_topk_bruteforce(emb, range(20), k=5)
    ivf = cosine_topk_ivf(emb, range(20), k=5, n_clusters=10, nprobe=2)
    assert _recall(exact, ivf) >= 0.9
    lsh = cosine_topk_lsh(emb, range(20), k=5, n_planes=4, n_tables=8)
    assert _recall(exact, lsh) >= 0.8


def test_bucket_cap_bounds_degenerate_corpus(spark):
    """1k identical docs put every row in ONE bucket per band — the
    adversarial case where banded LSH degenerates to an n² self-join.
    The cap drops the mega-buckets (bounding the pair space) and loses
    nothing: exact_dedup already collapses identical docs."""
    from dvmax_spark.ext.dedup import exact_dedup, minhash_lsh_pairs, simhash_near_pairs

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same document text repeated for everyone here").alias("text"),
    )
    assert minhash_lsh_pairs(docs, threshold=0.0, max_bucket=100).count() == 0
    assert simhash_near_pairs(docs, max_bucket=100).count() == 0
    assert exact_dedup(docs).count() == 1
    # and with the cap above corpus size the pairs come back
    assert minhash_lsh_pairs(docs.limit(20), threshold=0.0, max_bucket=1000).count() == 190


def test_shingles_short_docs_yield_empty(spark):
    """Docs shorter than n tokens emit NO truncated gram (oracle
    convention; prevents jaccard=1.0 between unrelated one-word docs)."""
    from dvmax_spark.ext.dedup import shingles

    docs = spark.createDataFrame(
        [(1, "one"), (2, "one two"), (3, "one two three")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["g"] for r in docs.select("doc_id", shingles("text", 3).alias("g")).collect()}
    assert got[1] == [] and got[2] == []
    assert got[3] == ["one two three"]


def test_pruned_jaccard_is_conservative_lower_bound(spark):
    """With doc-frequency pruning on, reported jaccard must never
    exceed true jaccard (sizes come from UNPRUNED token sets)."""
    from dvmax_spark.ext.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "the a b"), (2, "the a c"), (3, "the x y"), (4, "the x z")],
        "doc_id long, text string",
    )
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=None).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=0.5).collect()
    }
    assert exact[(1, 2)] == pytest.approx(0.5)  # {the,a} / {the,a,b,c}
    for pair, j in pruned.items():
        assert j <= exact[pair] + 1e-12, (pair, j, exact[pair])
    assert pruned[(1, 2)] == pytest.approx(1 / 5)  # {a} / unpruned union


def test_repetition_gate_flags_spam(spark):
    """A doc dominated by one repeated bigram fails the Gopher gate;
    diverse text passes; degenerate short docs don't crash."""
    from dvmax_spark.ext.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now buy now"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "single"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["passes_repetition_gate"] == 0
    assert rows[1]["top_bigram_frac"] > 0.4  # 'buy now' dominates
    assert rows[2]["passes_repetition_gate"] == 1
    assert rows[3]["top_bigram_frac"] == 0.0 and rows[3]["dup_token_frac"] == 0.0
    assert 4 in rows  # empty text survives


def test_pii_redact_variants(spark):
    from dvmax_spark.ext.textstats import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+tag@sub.example.co.uk or call +44 20 7946 0958 today"),
            (2, "no pii here at all"),
            (3, "two mails: x@y.org and z@w.io; phone (555) 010-4477"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert "<EMAIL>" in rows[1]["redacted"] and "<PHONE>" in rows[1]["redacted"]
    assert "@" not in rows[1]["redacted"].replace("<EMAIL>", "")
    assert rows[2]["n_emails"] == 0 and rows[2]["n_phones"] == 0
    assert rows[2]["redacted"] == "no pii here at all"
    assert rows[3]["n_emails"] == 2 and rows[3]["n_phones"] == 1


def test_approx_count_distinct_error(spark):
    from dvmax_spark.catalog import load_table

    li = load_table(spark, "lineitem", SF)
    row = li.agg(
        F.approx_count_distinct("l_orderkey").alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
    ).collect()[0]
    assert abs(row["a"] - row["e"]) / row["e"] < 0.05


def test_simhash_deterministic_and_near_dup_free(spark, docs):
    from dvmax_spark.ext.dedup import simhash

    a = {r["doc_id"]: r["simhash"] for r in simhash(docs).select("doc_id", "simhash").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash(docs).select("doc_id", "simhash").collect()}
    assert a == b  # portable hashes -> reproducible fingerprints


def test_multimodal_real_png_decode_exact(spark, docs):
    """Payloads are real PNGs; the pure-Python decode must return the
    exact dims and true pixel mean of what the encoder wrote."""
    from dvmax_spark.ext.multimodal import attach_fake_payload, extract_image_features

    out = extract_image_features(attach_fake_payload(docs.limit(50)))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 50
    for doc_id, r in rows.items():
        w, h = 8 + doc_id % 16, 8 + (doc_id // 16) % 16
        true_mean = sum((doc_id + x + 2 * y) % 256 for x in range(w) for y in range(h)) / (w * h)
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_luma"] == pytest.approx(true_mean)
        assert r["n_bytes"] > 50  # a real file, not a fake tag


def test_image_header_parsers():
    """Pure-python header parse: PNG/JPEG(SOF0+SOF2)/GIF + garbage."""
    import struct

    from dvmax_spark.ext.multimodal import make_png, parse_image_header

    assert parse_image_header(make_png(12, 7, lambda x, y: 0)) == (12, 7, "png")
    sof0 = (
        b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640)
        + b"\x03" + bytes(2)
    )
    assert parse_image_header(sof0) == (640, 480, "jpeg")
    sof2 = sof0.replace(b"\xff\xc0", b"\xff\xc2")
    assert parse_image_header(sof2) == (640, 480, "jpeg")
    assert parse_image_header(b"GIF89a" + struct.pack("<HH", 320, 200)) == (320, 200, "gif")
    assert parse_image_header(b"random garbage bytes") == (0, 0, "unknown")
    assert parse_image_header(b"") == (0, 0, "unknown")
    assert parse_image_header(make_png(5, 5, lambda x, y: 0)[:20]) == (0, 0, "unknown")


def test_ml_walk_forward_runs_on_testdata(spark, emb):
    """The testdata embeddings are i.i.d. w.r.t. label, so the honest
    assertion here is structural: two splits, deterministic shape, and
    accuracy in the sane band around binary chance (a broken or
    anti-correlated model would leave it)."""
    from dvmax_spark.ml.pipeline import train_eval_classifier

    res = train_eval_classifier(emb, n_splits=2).collect()
    assert len(res) == 2
    for r in res:
        assert 0.3 <= r["accuracy"] <= 0.7


def test_ml_gbt_metric_floor_on_learnable_data(spark):
    """Metric floor on data WITH signal: label = sign of a linear
    score of two coordinates (+ small noise). Seeded GBT must clear
    0.85 accuracy on every walk-forward split — the learner itself is
    under test, not the testdata."""
    import numpy as np

    from dvmax_spark.ml.pipeline import train_eval_classifier

    rng = np.random.default_rng(11)
    rows = []
    for i in range(600):
        v = rng.normal(size=8)
        score = 2.0 * v[0] - 1.5 * v[3] + 0.1 * rng.normal()
        rows.append((i, [float(x) for x in v], 9 if score > 0 else 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    res = train_eval_classifier(emb, n_splits=2).collect()
    assert len(res) == 2
    for r in res:
        assert r["accuracy"] >= 0.85, res


def test_walk_forward_splits_no_lookahead(spark):
    """Property: for every split k, max(order) in train < min(order) in
    test, train is a prefix that only grows, and test slices tile the
    remainder without overlap."""
    from dvmax_spark.ml.pipeline import walk_forward_splits

    df = spark.range(0, 300).select(F.col("id").alias("t"), (F.col("id") % 7).alias("x"))
    splits = walk_forward_splits(df, "t", n_splits=3)
    prev_train_max = None
    seen_test: set[int] = set()
    for train, test in splits:
        tr = sorted(r["t"] for r in train.select("t").collect())
        te = sorted(r["t"] for r in test.select("t").collect())
        assert tr and te
        assert tr[-1] < te[0]  # no lookahead
        assert tr == list(range(0, tr[-1] + 1))  # train is a prefix
        if prev_train_max is not None:
            assert tr[-1] > prev_train_max  # train grows monotonically
        assert not (seen_test & set(te))  # test slices disjoint
        seen_test |= set(te)
        prev_train_max = tr[-1]


@pytest.mark.parametrize("n,n_splits", [(300, 3), (301, 3), (500, 2), (97, 4)])
def test_fold_table_matches_materialized_splits(spark, n, n_splits):
    """walk_forward_fold_table (the oracled X13 query) must agree
    bit-for-bit with the splits train_eval_classifier actually
    materializes via approxQuantile(p, 0.0): same train-end boundary,
    same train/test counts — including n not divisible by n_splits+1."""
    from dvmax_spark.ml.pipeline import walk_forward_fold_table, walk_forward_splits

    df = spark.range(0, n).select(F.col("id").alias("t"))
    table = {
        r["split"]: r
        for r in walk_forward_fold_table(df, "t", n_splits=n_splits).collect()
    }
    assert len(table) == n_splits
    for k, (train, test) in enumerate(
        walk_forward_splits(df, "t", n_splits=n_splits), start=1
    ):
        row = table[k]
        assert row["n_train"] == train.count()
        assert row["n_test"] == test.count()
        assert row["train_end"] == train.agg(F.max("t")).collect()[0][0]


def test_fold_table_on_testdata_embeddings(spark, emb):
    """The registered x_ml_walk_forward shape on real testdata: folds
    tile the corpus (sum n_test + first n_train ... prefix property)."""
    from dvmax_spark.ml.pipeline import walk_forward_fold_table

    rows = walk_forward_fold_table(emb, "vec_id", n_splits=2).orderBy("split").collect()
    n = emb.count()
    assert len(rows) == 2
    assert rows[0]["n_train"] < rows[1]["n_train"] <= n
    assert rows[1]["n_train"] == rows[0]["n_train"] + rows[0]["n_test"]
    assert rows[1]["n_train"] + rows[1]["n_test"] == n


def test_dedup_clusters_graph_semantics(spark):
    """Connected components on a hand-built graph: a 4-chain (worst
    diameter shape for min propagation), a star, and singletons all
    resolve to min-id components; canonical = highest rank, tie-break
    min id; singletons keep themselves."""
    from dvmax_spark.ext.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, 10 * i) for i in range(1, 10)], "doc_id long, w long"
    )
    # chain 1-2-3-4, star 5-(6,7), singletons 8, 9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
        for r in dedup_clusters(docs, pairs, rank_col="w").collect()
    }
    assert out[1] == (1, 4, False) and out[4] == (1, 4, True)  # max w=40 kept
    assert out[2] == (1, 4, False) and out[3] == (1, 4, False)
    assert out[5] == (5, 3, False) and out[7] == (5, 3, True)
    assert out[8] == (8, 1, True) and out[9] == (9, 1, True)


def test_dedup_clusters_keep_exactly_one_per_cluster(spark, docs):
    """On the real corpus: every cluster keeps exactly one doc, every
    doc is assigned, and kept docs count == cluster count."""
    from dvmax_spark.ext.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs.where(F.size(F.split(F.col("text"), " ")) >= 2),
        num_hashes=32, bands=16, shingle_n=2, threshold=0.1,
    )
    cl = dedup_clusters(docs, pairs, rank_col="n_chars").cache()
    n_docs = docs.count()
    assert cl.count() == n_docs
    per = cl.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep")
    )
    assert per.where(F.col("n_keep") != 1).count() == 0
    assert cl.where("keep").count() == per.count()
    cl.unpersist()


def test_wav_roundtrip_exact():
    """make_wav -> parse_wav_features recovers the exact synthetic
    waveform facts; garbage and truncation never raise."""
    from dvmax_spark.ext.multimodal import make_wav, parse_wav_features

    rate, n, dur, energy, rms, peak = parse_wav_features(make_wav(7))
    assert (rate, n) == (8000, 800)
    assert dur == 800 / 8000
    step = 37 + 7 % 13
    samples = [((i * step) % 4096) - 2048 for i in range(800)]
    assert energy == sum(s * s for s in samples)
    assert peak == max(abs(s) for s in samples)
    assert abs(rms - (energy / 800) ** 0.5) < 1e-12
    assert parse_wav_features(b"garbage") == (0, 0, 0.0, 0, 0.0, 0)
    assert parse_wav_features(make_wav(3)[:20])[1] == 0  # truncated: no data chunk


def test_resize_gray_png_nearest_neighbor_exact():
    """8x8 <- 16x16 nearest-neighbor resize picks pixels (2x, 2y) of
    the source gradient — verified pixel-for-pixel after re-decode."""
    from dvmax_spark.ext.multimodal import (
        _png_gray_pixels,
        make_png,
        resize_gray_png,
    )

    src = make_png(16, 16, lambda x, y: (3 * x + 5 * y) % 256)
    out = resize_gray_png(src, 8, 8)
    pix = _png_gray_pixels(out)
    assert pix is not None and len(pix) == 64
    for y in range(8):
        for x in range(8):
            assert pix[y * 8 + x] == (3 * (2 * x) + 5 * (2 * y)) % 256
    assert resize_gray_png(b"not a png", 4, 4) is None


def test_unigram_logprob_orders_fluent_above_gibberish(spark):
    """A doc of corpus-common words must outscore a doc of hapaxes —
    the signal the heuristic quality score cannot see."""
    from dvmax_spark.ext.textstats import unigram_logprob

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "the cat sat on the mat"))   # fluent: common words
    rows.append((101, "zxqv bnmp qwrt lkjh gfds"))  # gibberish hapaxes
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(df).collect()}
    assert got[100] > got[101]


def test_semantic_dedup_invariants(spark, emb):
    from pyspark.sql import functions as F

    from dvmax_spark.ext.similarity import embedding_near_dup_pairs, semantic_dedup

    res = semantic_dedup(emb, threshold=0.45, n_planes=4).cache()
    # exactly one representative per cluster, and it is the min id
    per = res.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.min("vec_id").alias("min_id"),
        F.count(F.lit(1)).alias("n"),
    )
    bad = per.where((F.col("n_keep") != 1) | (F.col("min_id") != F.col("cluster_id"))).count()
    assert bad == 0
    # cluster_size is consistent with the actual member count
    assert res.join(per, "cluster_id").where(F.col("cluster_size") != F.col("n")).count() == 0
    # every near-dup pair ended up in the same cluster
    pairs = embedding_near_dup_pairs(emb, threshold=0.45, n_planes=4)
    lab = res.select("vec_id", "cluster_id")
    split = (
        pairs.join(lab.withColumnRenamed("vec_id", "id_a"), "id_a")
        .withColumnRenamed("cluster_id", "ca")
        .join(lab.withColumnRenamed("vec_id", "id_b"), "id_b")
        .where(F.col("ca") != F.col("cluster_id"))
        .count()
    )
    assert split == 0
    res.unpersist()


def test_semdedup_kmeans_recall_and_agreement_floors(spark, emb):
    """SemDeDup's clustering-bucketed pair stage at nprobe=2 (r7
    multi-probe: each vector joins its two nearest centroids' pools)
    must find >= 75% of the brute-force epsilon-ball pairs at
    threshold 0.45 (r6 single-probe measured 0.57-0.71; the misses are
    pairs split across KMeans boundaries — multi-probe is the paper's
    recall/cost knob), its keep verdicts must agree with the oracled
    LSH form on >= 95% of vectors (measured 0.98+), and the component
    invariants hold (one min-id keeper per cluster). Deterministic:
    seeded KMeans on fixed data."""
    from pyspark.sql import functions as F

    from dvmax_spark.ext.similarity import (
        as_double,
        cosine,
        norm,
        semantic_dedup,
        semdedup_kmeans,
    )

    thr = 0.45
    res = semdedup_kmeans(emb, n_clusters=8, threshold=thr).cache()
    # component invariants: exactly one keeper per cluster, min id wins
    per = res.groupBy("cluster_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.min("vec_id").alias("min_id"),
    )
    assert per.where(
        (F.col("n_keep") != 1) | (F.col("min_id") != F.col("cluster_id"))
    ).count() == 0

    # pair recall vs the brute-force epsilon-ball graph
    vecs = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "vn", F.transform("v", lambda x: x / norm(F.col("v")))
    )
    a = vecs.select(F.col("vec_id").alias("id_a"), F.col("vn").alias("va"))
    b = vecs.select(F.col("vec_id").alias("id_b"), F.col("vn").alias("vb"))
    bf = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .where(F.col("cos") >= thr)
        .select("id_a", "id_b")
        .collect()
    }
    # a brute-force pair is "found" iff both ends share a cluster
    lab = {r.vec_id: r.cluster_id for r in res.collect()}
    found = sum(1 for x, y in bf if lab[x] == lab[y])
    assert bf, "corpus lost its planted near-dups"
    assert found / len(bf) >= 0.75, (found, len(bf))

    # keep-verdict agreement with the LSH-bucketed oracled form
    lsh = {
        r.vec_id: r.keep
        for r in semantic_dedup(emb, threshold=thr, n_planes=4).collect()
    }
    km = {r.vec_id: r.keep for r in res.collect()}
    agree = sum(1 for k in km if km[k] == lsh.get(k)) / len(km)
    assert agree >= 0.95, agree
    res.unpersist()


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_d4_prune_stage_composition_and_ceiling(spark, emb):
    """D4 invariants: (a) docs flagged 'dup' are exactly semdedup's
    keep=False set (same quantizer, same epsilon-balls); (b) realized
    prototype-prune count per cluster is floor(frac * survivors) —
    never more; (c) prototypes are the HIGHEST-centroid-cosine
    survivors of their cluster; (d) two runs are identical (seeded)."""
    from pyspark.sql import functions as F

    from dvmax_spark.ext.similarity import d4_prune, semdedup_kmeans

    res = d4_prune(emb, n_clusters=8, dedup_threshold=0.45, prune_frac=0.2).cache()
    sem = semdedup_kmeans(emb, n_clusters=8, threshold=0.45)
    dup_ids = {r.vec_id for r in res.where(F.col("reason") == "dup").collect()}
    sem_dropped = {r.vec_id for r in sem.where(~F.col("keep")).collect()}
    assert dup_ids == sem_dropped

    rows = res.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        if r.reason != "dup":
            by_cluster.setdefault(r.kbucket, []).append(r)
    for kb, members in by_cluster.items():
        n_proto = sum(1 for r in members if r.reason == "prototype")
        assert n_proto == int(0.2 * len(members)), (kb, n_proto, len(members))
        if n_proto:
            worst_kept = max(
                (r.centroid_cos, -r.vec_id) for r in members if r.reason == "kept"
            )
            best_proto = min(
                (r.centroid_cos, -r.vec_id) for r in members if r.reason == "prototype"
            )
            # prototypes sit strictly above every kept survivor in the
            # (cos desc, id asc) order
            assert best_proto >= worst_kept, (kb, best_proto, worst_kept)

    again = d4_prune(emb, n_clusters=8, dedup_threshold=0.45, prune_frac=0.2)
    assert res.exceptAll(again).count() == 0 and again.exceptAll(res).count() == 0
    res.unpersist()


def test_hll_sketch_rollup_error_bound(spark):
    from dvmax_spark.registry import all_queries

    rows = all_queries()["a_hll_sketch_rollup"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows, "no groups"
    for r in rows:
        assert r.exact_distinct > 0
        rel = abs(r.est_distinct - r.exact_distinct) / r.exact_distinct
        assert rel <= 0.05, (r.event_type, r.est_distinct, r.exact_distinct)


def test_approx_percentile_rank_error(spark):
    """r9: the query itself now audits the sketch — it emits per-group
    flags asserting the approx element's exact rank interval intersects
    the target rank ± eps*n (see the query docstring); this test pins
    that every flag is TRUE at sf0.01 and that the exact percentiles
    ride along non-null."""
    from dvmax_spark.registry import all_queries

    rows = all_queries()["a_approx_percentile"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.p50_rank_ok is True and r.p90_rank_ok is True, r
        assert r.p50_exact is not None and r.p90_exact is not None
        assert r.n > 0


def test_semantic_dedup_collapses_planted_duplicates(spark):
    """Planted-duplicate property: N groups of identical vectors must
    collapse to exactly one kept representative each (identical vectors
    share every LSH bucket, cosine 1.0), and distinct random vectors
    must survive."""
    import random as _r

    from pyspark.sql import functions as F

    from dvmax_spark.ext.similarity import semantic_dedup

    rng = _r.Random(7)
    rows = []
    vid = 0
    for g in range(10):  # 10 dup groups x 4 copies
        base = [rng.gauss(0, 1) for _ in range(16)]
        for _ in range(4):
            rows.append((vid, [float(x) for x in base])); vid += 1
    for _ in range(40):  # 40 singletons
        rows.append((vid, [float(rng.gauss(0, 1)) for _ in range(16)])); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = semantic_dedup(emb, threshold=0.999, dim=16, n_planes=6).cache()
    kept = res.where("keep").count()
    assert kept == 10 + 40, kept
    # every 4-copy group is one cluster of size >= 4
    g4 = res.where(F.col("vec_id") < 40).groupBy("cluster_id").count().collect()
    assert len(g4) == 10 and all(r["count"] == 4 for r in g4), g4
    res.unpersist()


def test_kll_quantile_rollup_error_bound(spark):
    """Merged-from-daily KLL estimates checked in RANK space — the
    space KLL actually bounds (k=200: ~1.65% rank error at 99%
    confidence; compaction is randomized, so a value-space band flakes
    whenever the distribution is locally sparse around the quantile:
    a legal 2% rank slip can be a >3% value gap). Assert the empirical
    CDF of each estimate sits within 4% of its target rank."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.registry import all_queries

    rows = all_queries()["a_kll_quantile_rollup"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    vals: dict[str, list[float]] = {}
    for rec in (
        load_table(spark, "events", "/root/testdata/sf0.01")
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
        .collect()
    ):
        vals.setdefault(rec["event_type"], []).append(rec["value"])
    for r in rows:
        xs = sorted(vals[r.event_type])
        n = len(xs)
        for est, q in ((r.p50_est, 0.5), (r.p90_est, 0.9)):
            import bisect

            rank = bisect.bisect_right(xs, est) / n
            assert abs(rank - q) <= 0.04, (r.event_type, q, est, rank)


def test_theta_overlap_matches_exact_set_algebra(spark):
    """Theta union/intersection/difference estimates vs exact set sizes
    computed from the raw ids — 5% envelope plus small absolute slack
    for tiny intersections."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.registry import all_queries

    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    sets = {
        r.event_type: set()
        for r in ev.select("event_type").distinct().collect()
    }
    for r in ev.select("event_type", "user_id").distinct().collect():
        sets[r.event_type].add(r.user_id)
    rows = all_queries()["a_theta_audience_overlap"].fn(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        a, b = sets[r.grp_a], sets[r.grp_b]
        for est, exact in (
            (r.est_a, len(a)),
            (r.est_b, len(b)),
            (r.est_union, len(a | b)),
            (r.est_intersect, len(a & b)),
            (r.est_a_minus_b, len(a - b)),
        ):
            assert abs(est - exact) <= exact * 0.05 + 2, (r, exact)


def test_incremental_index_equals_batch_pairs(spark, tmp_path):
    """The incremental path must recover EXACTLY the batch-path pair
    set: cross pairs from match_new + within-batch pairs + within-old
    pairs == full-corpus minhash_lsh_pairs. Also exercises append():
    after admitting the batch, a second batch matches against both."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import MinHashIndex, minhash_lsh_pairs
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.01").where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    kw = dict(num_hashes=32, bands=16, shingle_n=2)
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)

    idx = MinHashIndex(spark, str(tmp_path / "idx"), **kw)
    idx.build(old)
    cross = {
        (min(r.new_id, r.old_id), max(r.new_id, r.old_id))
        for r in idx.match_new(new, threshold=0.1).collect()
    }
    within_old = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(old, threshold=0.1, **kw).collect()
    }
    within_new = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(new, threshold=0.1, **kw).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.1, **kw).collect()
    }
    assert cross | within_old | within_new == full
    assert cross, "no cross pairs - test corpus split lost its signal"

    # admit the batch; an identical second batch must now match itself
    idx.append(new)
    echo = idx.match_new(new.limit(20), threshold=0.99).collect()
    assert all(r.est_jaccard >= 0.99 for r in echo)
    assert {r.new_id for r in echo} <= {r["doc_id"] for r in new.limit(20).collect()}


def test_match_new_staged_equals_unstaged(spark, tmp_path):
    """stage_batch + match_new(staged_banded=...) — the form the
    streaming sinks use to share one signature pass per micro-batch —
    must return exactly the pairs of the plain call, even when the
    staged table was materialized before the index existed."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import MinHashIndex
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.01").where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    idx = MinHashIndex(spark, str(tmp_path / "idx_staged"), num_hashes=32, bands=16, shingle_n=2)
    staged = idx.stage_batch(new)
    # materialize the staged batch BEFORE the index exists
    staged.write.format("noop").mode("overwrite").save()
    idx.build(old)
    plain = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in idx.match_new(new, threshold=0.1).collect()
    }
    staged_out = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in idx.match_new(new, threshold=0.1, staged_banded=staged).collect()
    }
    assert staged_out == plain
    assert staged_out, "empty cross-pair set - corpus split lost its signal"


def test_minhash_index_compact_preserves_matches(spark, tmp_path):
    """After several appends, compact() must bound files per band
    partition and leave match results identical."""
    import os

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import MinHashIndex
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_hashes=32, bands=16, shingle_n=2)
    idx.build(docs.where(F.col("doc_id") % 4 == 0))
    for m in (1, 2):
        idx.append(docs.where(F.col("doc_id") % 4 == m))
    probe = docs.where(F.col("doc_id") % 4 == 3)
    before = {(r.new_id, r.old_id) for r in idx.match_new(probe, 0.1).collect()}
    idx.compact(files_per_band=1)
    band0 = os.path.join(idx.path, "ingest_batch=__base__", "band=0")
    files = [f for f in os.listdir(band0) if f.endswith(".parquet")]
    assert len(files) == 1, files
    after = {(r.new_id, r.old_id) for r in idx.match_new(probe, 0.1).collect()}
    assert before == after and before


def test_mhidx_src0_artifact_cold_warm_and_invalidation(spark, tmp_path, monkeypatch):
    """The persisted src0 MinHash index artifact (r11): first call
    builds cold, a second process-fresh validation serves warm, the
    served matches equal a freshly built in-query index, and a meta
    mismatch (changed parent fingerprint) rebuilds instead of serving
    stale rows."""
    import json
    import os

    import dvmax_spark.queries_ext as qext
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import MinHashIndex
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    monkeypatch.setenv("DVMAX_SPARK_CACHE", str(tmp_path / "cache"))
    # the cache path changed, so the in-process memo keyed on the old
    # paths must not short-circuit; start clean
    monkeypatch.setattr(qext, "_NDG_VALIDATED", set())

    assert qext._mhidx_src0_ensure(spark, sf) is True  # cold build
    idx = qext._mhidx_src0(spark, sf)

    docs = load_table(spark, "documents", sf).where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    new = docs.where(F.col("source") != "src0")
    served = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in idx.match_new(new, threshold=0.1).collect()
    }
    fresh = MinHashIndex(
        spark, str(tmp_path / "fresh_idx"), num_hashes=32, bands=16, shingle_n=2
    )
    fresh.build(docs.where(F.col("source") == "src0"))
    expected = {
        (r.new_id, r.old_id, r.est_jaccard)
        for r in fresh.match_new(new, threshold=0.1).collect()
    }
    assert served == expected
    assert served, "no cross pairs - corpus split lost its signal"

    # warm re-validation (no memo: every call re-checks the meta)
    assert qext._mhidx_src0_ensure(spark, sf) is False

    # stale meta (parent fingerprint changed) must rebuild
    meta_path = os.path.join(idx.path, "_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["ndg_meta"]["corpus"]["n_docs"] += 1
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    assert qext._mhidx_src0_ensure(spark, sf) is True


def test_embedding_pca_spectral_invariants(spark):
    from dvmax_spark.registry import all_queries

    rows = all_queries()["x_embedding_pca"].fn(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 8
    evs = [r.explained_variance for r in rows]
    assert all(v > 0 for v in evs)
    assert evs == sorted(evs, reverse=True)
    assert rows[-1].cumulative <= 1.0 + 1e-9
    # i.i.d.-random 32-dim embeddings: top-8 captures roughly its
    # uniform share (8/32 = 0.25), well away from degenerate extremes
    assert 0.2 <= rows[-1].cumulative <= 0.6


def test_match_new_caps_buckets_by_combined_membership(spark, tmp_path):
    """The LSH bucket cap must bound the JOIN fan-out, i.e. count
    index + batch members TOGETHER: 30 indexed + 30 incoming clones of
    one text each pass a per-side cap of 50 yet produce a 900-pair
    blowup per band — the combined cap (60 > 50) drops the bucket."""
    from dvmax_spark.ext.dedup import MinHashIndex

    text = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame([(i, text) for i in range(30)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(100 + i, text) for i in range(30)], "doc_id long, text string"
    )
    idx = MinHashIndex(spark, str(tmp_path / "capidx"), num_hashes=32, bands=16)
    idx.build(old)
    # combined membership 60 > 50: every bucket dropped, no pairs
    assert idx.match_new(new, threshold=0.5, max_bucket=50).count() == 0
    # cap off: the clone cross-pairs all surface
    assert idx.match_new(new, threshold=0.5, max_bucket=None).count() == 900


def test_kll_rollup_repeated_folds_stay_in_error_band(spark, tmp_path):
    """KLL merges are RANDOMIZED by design (compaction coin flips):
    repeated folds of the same persisted daily sketches give different
    estimates, so the contract is the rank-error envelope, not exact
    reproducibility. Three independent rollups of identical sketches
    must stay within a tight relative band of each other."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.sketches import (
        daily_quantile_sketches,
        rollup_quantiles_from_sketches,
    )

    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    path = str(tmp_path / "kll_daily")
    daily_quantile_sketches(ev, "event_type", "ts", "value").write.parquet(path)
    runs = []
    for _ in range(3):
        res = rollup_quantiles_from_sketches(spark.read.parquet(path), "event_type")
        runs.append({
            r.event_type: (r.p50_est, r.p90_est) for r in res.collect()
        })
    for grp in runs[0]:
        for qi in (0, 1):
            vals = [run[grp][qi] for run in runs]
            spread = max(vals) - min(vals)
            assert spread <= abs(min(vals)) * 0.06 + 0.5, (grp, qi, vals)


def test_ahash_brightness_invariant_but_bytes_differ():
    """The perceptual-dedup claim, directly: a constant brightness
    shift produces DIFFERENT PNG bytes but the SAME aHash (threshold
    moves with the mean); a structurally different image produces a
    different aHash."""
    from dvmax_spark.ext.multimodal import ahash64, make_png

    base = make_png(16, 12, lambda x, y: (3 * x + 5 * y) % 200)
    brighter = make_png(16, 12, lambda x, y: (3 * x + 5 * y) % 200 + 40)
    other = make_png(16, 12, lambda x, y: (7 * x * y) % 251)
    assert base != brighter  # byte-level dedup sees distinct files
    assert ahash64(base) == ahash64(brighter)
    assert ahash64(base) != ahash64(other)


def test_audio_fingerprint_level_invariant_but_bytes_differ():
    """Level-scaling (volume change) produces different WAV bytes but
    the same envelope fingerprint; structurally different audio gets a
    different fingerprint."""
    import struct as _struct

    from dvmax_spark.ext.multimodal import audio_fingerprint

    def _wav(samples):
        n = len(samples)
        body = _struct.pack(f"<{n}h", *samples)
        fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        riff_sz = 4 + (8 + len(fmt)) + (8 + len(body))
        return (b"RIFF" + _struct.pack("<I", riff_sz) + b"WAVE"
                b"fmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(body)) + body)

    base = [((i * 41) % 2000) - 1000 for i in range(800)]
    quiet = [s // 2 for s in base]
    other = [((i * i) % 2000) - 1000 for i in range(800)]
    assert _wav(base) != _wav(quiet)
    # halving every sample halves every segment energy AND the total:
    # e_k*8 >= total is scale-invariant up to integer-floor noise;
    # base values here are even-friendly enough to hold exactly
    assert audio_fingerprint(_wav(base)) == audio_fingerprint(_wav(quiet))
    assert audio_fingerprint(_wav(base)) != audio_fingerprint(_wav(other))


def test_gopher_rules_routing_and_edge_cases(spark):
    """Synthetic docs hit each rule: the gate must route every doc to
    its FIRST failing rule, keep must equal reason=='ok', and the
    integer ratios must be exact (mean word len x100, symbol ppm)."""
    from dvmax_spark.ext.textstats import gopher_rules

    rows = [
        # 0: passes everything (25 words, the+a stopwords, alpha)
        (0, "the quick brown fox jumps over a lazy dog near " + " ".join(["word"] * 15)),
        # 1: too few words (first rule wins even though stopwords also fail)
        (1, "tiny doc"),
        # 2: symbol heavy: 25 words incl '#' runs and '...'
        (2, "the a " + " ".join(["token"] * 18) + " ## ## ## ... ..."),
        # 3: too few stopwords (25 alpha words, no stoplist hits)
        (3, " ".join(["zqx" + str(i) for i in range(25)])),
        # 4: non-alpha heavy: 20 words, only 2 alphabetic
        (4, "the aaaa " + " ".join(["12345"] * 18)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[0]["reason"] == "ok" and out[0]["keep"]
    assert out[1]["reason"] == "too_few_words" and not out[1]["keep"]
    assert out[2]["reason"] == "symbol_heavy"
    # 25 words, 6 '#' chars + 2 '...' = 8 symbols -> 320000 ppm
    assert out[2]["symbol_ppm"] == 8 * 1_000_000 // 25
    assert out[3]["reason"] == "too_few_stopwords"
    assert out[4]["reason"] == "non_alpha_heavy"
    assert out[4]["alpha_ppm"] == 2 * 1_000_000 // 20
    for r in out.values():
        assert r["keep"] == (r["reason"] == "ok")


def test_ivf_index_probe_matches_per_query_ivf(spark, emb, tmp_path):
    """The persisted index must return EXACTLY what the per-query IVF
    computes under the same quantizer (seeded KMeans on the same data
    -> same centroids), and its lists scan must carry a literal
    partition filter — partition pruning IS the inverted-list seek."""
    from dvmax_spark.ext.similarity import IVFIndex, cosine_topk_ivf

    idx = IVFIndex(spark, str(tmp_path / "ivf"), n_clusters=8)
    idx.build(emb)
    q = emb.where(F.col("vec_id") < 10)
    got = idx.probe(q, k=3, nprobe=2)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln and "IN" in ln for ln in scans), scans
    want = cosine_topk_ivf(emb, range(10), k=3, n_clusters=8, nprobe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_index_append_finds_new_vectors(spark, tmp_path):
    """Append admits vectors under the EXISTING quantizer: a vector
    appended as a near-copy of a query must surface at rank 1 with
    cosine ~1 even though it was not in the build set."""
    import numpy as np

    from dvmax_spark.ext.similarity import IVFIndex

    rng = np.random.default_rng(11)
    base = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(100)]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    idx = IVFIndex(spark, str(tmp_path / "ivf2"), n_clusters=4)
    idx.build(emb)
    # near-copy of vec 5 (scaled: same direction, cosine 1.0)
    copy = [(1005, [2.0 * x for x in base[5][1]])]
    idx.append(spark.createDataFrame(copy, "vec_id long, embedding array<double>"))
    out = idx.probe(emb.where(F.col("vec_id") == 5), k=1, nprobe=1).collect()
    assert len(out) == 1
    assert out[0]["c_id"] == 1005 and out[0]["cosine"] >= 0.9999


def test_incremental_components_equals_full_recompute(spark):
    """Star-compression label maintenance must equal two-phase CC on
    the union graph across the adversarial shapes: a new edge MERGING
    two old components (min label must come from the union), a
    new-only chain, an old node bridging to brand-new ids, and
    untouched components passing through with their labels intact."""
    from dvmax_spark.ext.dedup import (
        connected_components_twophase,
        incremental_components,
    )

    def edges(pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    # old graph: comp {1,2,3}, comp {10,11}, comp {20,21,22}, singleton 30
    old = edges([(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    labels0, _ = connected_components_twophase(old)
    labels0 = labels0.unionAll(
        spark.createDataFrame([(30, 30)], "id long, label long")
    )
    # new batch: merge {1..3}x{10,11}; chain of new ids; bridge 30->new
    new = edges([(3, 10), (100, 101), (101, 102), (30, 200)])
    got = incremental_components(labels0, new)
    got_map = {r["id"]: r["label"] for r in got.collect()}
    want, _ = connected_components_twophase(old.unionAll(new))
    want_map = {r["id"]: r["label"] for r in want.collect()}
    want_map.setdefault(30, 30)
    assert got_map == want_map
    # untouched component {20,21,22} passed through unchanged
    assert got_map[20] == 20 and got_map[21] == 20 and got_map[22] == 20
    # merged component takes the global min id
    assert got_map[11] == 1 and got_map[30] == 30 and got_map[200] == 30
    # second increment on top of the maintained labels (associativity)
    new2 = edges([(102, 20)])  # merge new-chain into {20,21,22}
    got2 = incremental_components(got, new2)
    got2_map = {r["id"]: r["label"] for r in got2.collect()}
    want2, _ = connected_components_twophase(old.unionAll(new).unionAll(new2))
    want2_map = {r["id"]: r["label"] for r in want2.collect()}
    want2_map.setdefault(30, 30)
    assert got2_map == want2_map
    assert got2_map[102] == 20 and got2_map[20] == 20


def test_neardup_graph_artifact_build_reuse_invalidate_heal(spark, tmp_path):
    """The persisted pair-graph artifact contract: (1) pairs served
    from the artifact equal a fresh minhash_lsh_pairs run exactly;
    (2) a second ensure() over the same corpus REUSES the files
    (no rebuild); (3) a changed corpus or changed params triggers a
    rebuild instead of serving stale pairs; (4) a crashed promote
    (table stranded in '.old') heals on read; (5) a ``_meta.json``
    that is valid JSON but not an object rebuilds."""
    import os

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import NearDupGraph, minhash_lsh_pairs

    docs = load_table(spark, "documents", SF).where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    path = str(tmp_path / "ndg")
    g = NearDupGraph(spark, path, num_hashes=32, bands=16, shingle_n=2, threshold=0.1)

    want = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=16, shingle_n=2, threshold=0.1
        ).collect()
    }
    assert g.ensure(docs) is True
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"] for r in g.pairs().collect()
    }
    assert got == want

    # reuse: same corpus+params -> parquet files untouched
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    mtimes = [os.stat(os.path.join(path, f)).st_mtime_ns for f in files]
    g2 = NearDupGraph(spark, path, num_hashes=32, bands=16, shingle_n=2, threshold=0.1)
    assert g2.ensure(docs) is False
    assert [
        os.stat(os.path.join(path, f)).st_mtime_ns for f in files
    ] == mtimes

    # corpus change -> rebuild with correct content
    half = docs.where(F.col("doc_id") % 2 == 0)
    want_half = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            half, num_hashes=32, bands=16, shingle_n=2, threshold=0.1
        ).collect()
    }
    assert g.ensure(half) is True
    got_half = {
        (r["id_a"], r["id_b"]): r["est_jaccard"] for r in g.pairs().collect()
    }
    assert got_half == want_half and got_half != got

    # params change -> meta mismatch -> rebuild (threshold tightens)
    g3 = NearDupGraph(spark, path, num_hashes=32, bands=16, shingle_n=2, threshold=0.5)
    assert g3.ensure(half) is True
    assert g3.pairs().where(F.col("est_jaccard") < 0.5).count() == 0

    # crash heal: promote died between the two renames
    os.rename(path, path + ".old")
    healed = {
        (r["id_a"], r["id_b"]) for r in g3.pairs().collect()
    }
    assert healed == {
        (a, b) for (a, b), j in want_half.items() if j >= 0.5
    }

    # valid JSON that is not an object -> stale -> rebuild, same pairs
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        fh.write("[]")
    assert g3.ensure(half) is True
    assert {(r["id_a"], r["id_b"]) for r in g3.pairs().collect()} == healed


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_component_label_store_build_reuse_invalidate(spark, tmp_path):
    """The persisted label artifact (the maintained state of
    incremental components, built by fsops.ensure_artifact with
    NearDupGraph.derived_meta as its validity recipe): (1) labels
    served from the store equal a fresh two-phase CC over the member
    subgraph; (2) a second ensure is warm (no recompute — write fn not
    called, files untouched); (3) the PARENT pair artifact rebuilding
    (corpus change) invalidates the labels transitively via the
    embedded meta, with no second corpus fingerprint pass; (4) merging
    the remaining edges onto the artifact-read labels equals
    clustering the union from scratch — the
    x_incremental_components_maintained contract."""
    import os

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import (
        NearDupGraph,
        connected_components_twophase,
        incremental_components,
    )
    from dvmax_spark.fsops import ensure_artifact

    docs = load_table(spark, "documents", SF).where(
        F.size(F.split(F.col("text"), " ")) >= 2
    )
    gpath = str(tmp_path / "ndg")
    lpath = gpath + "_labels"
    g = NearDupGraph(spark, gpath, num_hashes=32, bands=16, shingle_n=2, threshold=0.1)
    g.ensure(docs)
    pairs = g.pairs()

    member = docs.where(F.col("doc_id") % 3 != 0).select("doc_id")
    both = pairs.join(
        member.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
    ).join(member.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")

    calls = []

    def writer(edges, tag):
        def write(staging):
            calls.append(tag)
            labels, _ = connected_components_twophase(edges)
            labels.select("id", "label").write.parquet(staging)

        return write

    def ensure_labels(edges, tag):
        return ensure_artifact(
            lpath, g.derived_meta(1, "mod3!=0"), writer(edges, tag)
        )

    assert ensure_labels(both, 1) is True
    got = {(r["id"], r["label"]) for r in spark.read.parquet(lpath).collect()}
    want = {
        (r["id"], r["label"])
        for r in connected_components_twophase(both)[0].collect()
    }
    assert got == want and calls == [1]

    # warm: same parent meta -> no recompute, parquet files untouched
    files = sorted(f for f in os.listdir(lpath) if f.endswith(".parquet"))
    mtimes = [os.stat(os.path.join(lpath, f)).st_mtime_ns for f in files]
    assert ensure_labels(both, 1) is False
    assert calls == [1]
    assert [os.stat(os.path.join(lpath, f)).st_mtime_ns for f in files] == mtimes

    # maintained merge == from-scratch union clustering
    new_edges = pairs.join(
        both.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )
    merged = incremental_components(spark.read.parquet(lpath), new_edges)
    want_all = {
        (r["id"], r["label"])
        for r in connected_components_twophase(pairs)[0].collect()
    }
    got_all = {(r["id"], r["label"]) for r in merged.collect()}
    # merged covers old-label ids + new-edge endpoints; from-scratch
    # covers all pair endpoints — identical node set here because every
    # node is an endpoint of some pair
    assert got_all == want_all

    # parent corpus change -> transitive invalidation (a different tag
    # would likewise mismatch) -> recompute runs
    half = docs.where(F.col("doc_id") % 2 == 0)
    g.ensure(half)
    member_h = half.where(F.col("doc_id") % 3 != 0).select("doc_id")
    both_h = g.pairs().join(
        member_h.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi"
    ).join(member_h.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")

    assert ensure_labels(both_h, 2) is True
    got_h = {(r["id"], r["label"]) for r in spark.read.parquet(lpath).collect()}
    want_h = {
        (r["id"], r["label"])
        for r in connected_components_twophase(both_h)[0].collect()
    }
    assert got_h == want_h and calls == [1, 2]


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_ivf_index_batch_append_is_replay_idempotent(spark, tmp_path):
    """Batch-keyed appends are dynamic partition overwrites: replaying
    the same batch (crash-recovery) must NOT duplicate list entries —
    and a probe over an empty query set returns an empty frame with
    the contract schema instead of an isin([]) analysis error."""
    import numpy as np

    from dvmax_spark.ext.similarity import IVFIndex

    rng = np.random.default_rng(3)
    mk = lambda ids: spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    emb = mk(range(60))
    idx = IVFIndex(spark, str(tmp_path / "ivf3"), n_clusters=4)
    idx.build(emb, batch_key=0)
    batch = mk(range(100, 120))
    idx.append(batch, batch_key=1)
    n_once = spark.read.parquet(str(tmp_path / "ivf3" / "lists")).count()
    idx.append(batch, batch_key=1)  # replay
    n_twice = spark.read.parquet(str(tmp_path / "ivf3" / "lists")).count()
    assert n_once == n_twice == 80
    empty = idx.probe(emb.where(F.col("vec_id") < 0), k=3, nprobe=2)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["q_id", "rnk", "c_id", "cosine"]
    # empty-path id types must match the non-empty path's (r4 ADVICE:
    # a hardcoded bigint DDL diverged under non-bigint id_col)
    emb_i = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id int, embedding array<double>",
    )
    idx_i = IVFIndex(spark, str(tmp_path / "ivf3i"), n_clusters=4)
    idx_i.build(emb_i, batch_key=0)
    full_i = idx_i.probe(emb_i.where(F.col("vec_id") < 5), k=2, nprobe=2)
    empty_i = idx_i.probe(emb_i.where(F.col("vec_id") < 0), k=2, nprobe=2)
    assert [f.dataType for f in empty_i.schema.fields] == [
        f.dataType for f in full_i.schema.fields
    ]


def test_cms_never_underestimates_and_merges_exactly(spark):
    """Count-Min guarantees: (1) est >= true count for EVERY key (not
    just the reported top-k); (2) sketches of disjoint halves merged
    by cell-sum equal the whole-stream sketch — the merge-invariance
    that makes CMS exactly deterministic at any partitioning."""
    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.sketches import cms_table, _cms_hash

    ev = load_table(spark, "events", SF)
    cms = cms_table(ev, "user_id", width=64, depth=4)
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    probes = None
    for j in range(4):
        p = per.select(
            "user_id", "n", F.lit(j).alias("row"),
            _cms_hash(F.col("user_id"), j, 64).alias("col"),
        )
        probes = p if probes is None else probes.unionAll(p)
    est = (
        probes.join(cms, ["row", "col"])
        .groupBy("user_id", "n")
        .agg(F.min("counter").alias("est"))
    )
    bad = est.where(F.col("est") < F.col("n")).count()
    assert bad == 0
    # merge invariance
    h1 = cms_table(ev.where(F.col("event_id") % 2 == 0), "user_id", 64, 4)
    h2 = cms_table(ev.where(F.col("event_id") % 2 == 1), "user_id", 64, 4)
    merged = (
        h1.unionAll(h2).groupBy("row", "col").agg(F.sum("counter").alias("counter"))
    )
    full = {(r["row"], r["col"]): r["counter"] for r in cms.collect()}
    got = {(r["row"], r["col"]): r["counter"] for r in merged.collect()}
    assert got == full


def test_bot_regularity_flags_constant_cadence(spark):
    """A scripted user firing every 60 s exactly must flag regular;
    a human-jittered user must not; variance algebra is exact."""
    import datetime as dt

    from dvmax_spark.queries_ext import x_bot_regularity  # noqa: F401
    from dvmax_spark.registry import all_queries

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(20):  # bot: exact 60s cadence
        rows.append((i, base + dt.timedelta(seconds=60 * i), 1))
    for i in range(20):  # human: growing jitter, gaps 60..1200s
        rows.append((100 + i, base + dt.timedelta(seconds=30 * i * (i + 1)), 2))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long"
    )

    from dvmax_spark.functions.scalar import epoch_micros
    from pyspark.sql import Window as W

    sec = F.expr("us div 1000000")
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    g = ev.select("user_id", "event_id", epoch_micros("ts").alias("us")).select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    a = g.groupBy("user_id").agg(
        F.count("gap").alias("n"), F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
    ).collect()
    stats = {r["user_id"]: (r["n"] * r["s2"] - r["s"] * r["s"], r["n"]) for r in a}
    assert stats[1][0] == 0                      # perfectly regular -> zero variance
    assert stats[2][0] >= 900 * stats[2][1] ** 2  # jittered -> std >= 30s


def test_pagerank_matches_pure_python_recurrence(spark):
    """pagerank_centrality against an independent pure-Python
    implementation of the same BIGINT fixed-point recurrence on a
    handcrafted graph: a 5-star (hub 0) bridged to a triangle (5,6,7)
    via edge 0-5. The hub must outrank every leaf, and every scaled
    rank must match the serial reference bit-for-bit."""
    from dvmax_spark.ext.dedup import pagerank_centrality

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (5, 6), (5, 7), (6, 7)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: (r.degree, r.pagerank_fp)
        for r in pagerank_centrality(pairs, iters=5).collect()
    }

    edges = {}
    for a, b in [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (5, 6), (5, 7), (6, 7)]:
        edges.setdefault(a, []).append(b)
        edges.setdefault(b, []).append(a)
    scale, n = 10**12, len(edges)
    rank = {v: scale // n for v in edges}
    for _ in range(5):
        mass = {v: 0 for v in edges}
        for u, nbrs in edges.items():
            share = rank[u] // len(nbrs)
            for v in nbrs:
                mass[v] += share
        rank = {
            v: (15 * (scale // n)) // 100 + (85 * mass[v]) // 100 for v in edges
        }
    want = {v: (len(edges[v]), rank[v]) for v in edges}
    assert got == want
    assert got[0][1] == max(r for _, r in got.values())  # hub on top
    # conservation: fixed-point floor-div only loses mass, never creates
    assert sum(r for _, r in got.values()) <= scale


def test_dup_graph_census_known_graph(spark):
    """Census on a handcrafted graph (triangle 0-1-2 plus pendant
    2-3): 4 nodes, 4 edges, 5 wedges, 1 triangle, gcc = 3/5."""
    from dvmax_spark.ext.dedup import dup_graph_census

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    row = dup_graph_census(pairs).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (4, 4, 5, 1)
    assert row.gcc_ppm == 3_000_000 // 5


def test_token_entropy_exact_and_ordered(spark):
    """Entropy on handcrafted docs matches the serial ppm recurrence
    bit-for-bit, and the all-same-token doc ranks below the diverse
    one (entropy 0 vs ln(25))."""
    import math

    from dvmax_spark.ext.textstats import token_entropy

    rep = " ".join(["spam"] * 25)
    div = " ".join(f"w{i}" for i in range(25))
    half = " ".join(["a"] * 13 + ["b"] * 12)
    df = spark.createDataFrame(
        [(1, rep), (2, div), (3, half)], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_tokens, r.entropy_x1e6)
           for r in token_entropy(df, min_tokens=20, k=10).collect()}

    def ppm(counts):
        n = sum(counts)
        s = sum(round(math.log(c) * c * 1e6) for c in counts)
        return round(math.log(n) * 1e6) - s // n

    assert got == {
        1: (25, ppm([25])),
        2: (25, ppm([1] * 25)),
        3: (25, ppm([13, 12])),
    }
    # all-same-token => zero entropy up to the 1-ppm floor-div residue
    assert got[1][1] <= 1
    assert got[1][1] < got[3][1] < got[2][1]


def test_jaccard_prefix_join_lossless_vs_bruteforce(spark):
    """Prefix filtering must be LOSSLESS even in the stress case where
    the shared shingles are the globally most frequent (they sort LAST
    in rarity order, so only the prefix bound — not luck — keeps the
    pair): compare against a pure-Python brute force over every pair."""
    from itertools import combinations

    from dvmax_spark.ext.dedup import jaccard_prefix_join

    common = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, common + " one two"),            # near-dup of 2 via common grams
        (2, common + " three four"),
        (3, common),                         # subset doc
        (4, "iota kappa lambda mu nu xi omicron pi rho sigma"),  # disjoint
        (5, "alpha beta gamma tau upsilon phi chi psi omega iota"),
        (6, "one two three four five six seven eight nine ten"),
    ]
    t_ppm, n = 300_000, 3
    got = {
        (r.id_a, r.id_b): (r.inter_sz, r.union_sz, r.jaccard_ppm)
        for r in jaccard_prefix_join(
            spark.createDataFrame(rows, "doc_id long, text string"),
            threshold_ppm=t_ppm,
            shingle_n=n,
        ).collect()
    }

    def sh(text):
        t = text.split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    sets = {i: sh(tx) for i, tx in rows}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a] | sets[b])
        if u and i * 1_000_000 >= t_ppm * u:
            want[(a, b)] = (i, u, i * 1_000_000 // u)
    assert got == want
    assert want, "fixture must actually produce pairs"


def test_edit_distance_join_lossless_vs_bruteforce(spark):
    """The Ed-Join prefix filter must be LOSSLESS: compare against a
    pure-Python Levenshtein over every eligible pair. Stress shapes:
    a pair at EXACTLY ed=k, repeated-gram docs (multiset occurrence
    elements carry the overlap), docs sharing only the corpus's most
    common grams (they sort last in rarity order), and a doc below the
    q+k*q applicability bound that must be excluded from BOTH sides."""
    from itertools import combinations

    from dvmax_spark.ext.dedup import edit_distance_join

    k, q = 3, 2
    base = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, base),
        (2, base[:-3] + "abc"),          # ed = 3 == k exactly
        (3, base.replace("quick", "quack")),  # ed = 1
        (4, "ab ab ab ab ab ab ab ab ab ab ab ab"),  # repeated grams
        (5, "ab ab ab ab ab ab ab ab ab ab ab ac"),  # ed small vs 4
        (6, "completely different content here that matches nothing"),
        (7, "tiny"),                      # below q + k*q = 8 chars
    ]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    got = {
        (r.id_a, r.id_b): r.ed
        for r in edit_distance_join(
            spark.createDataFrame(rows, "doc_id long, text string"), k=k, q=q
        ).collect()
    }
    eligible = {i: t for i, t in rows if len(t) >= q + k * q}
    want = {
        (a, b): lev(eligible[a], eligible[b])
        for a, b in combinations(sorted(eligible), 2)
        if lev(eligible[a], eligible[b]) <= k
    }
    assert got == want
    assert (1, 2) in want and want[(1, 2)] == k, "exact-boundary pair must survive"
    assert (4, 5) in want, "repeated-gram pair must survive"
    assert not any(7 in p for p in got), "below-bound doc must be excluded"


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_edit_distance_join_fuzz_vs_bruteforce(spark):
    """Differential fuzz for the Ed-Join filter chain: random strings
    over a tiny alphabet (maximizing q-gram collisions AND true
    near-pairs), random lengths around the applicability bound, three
    (k, q) regimes — results must equal a pure-Python Levenshtein
    brute force over every eligible pair, exactly."""
    import random
    from itertools import combinations

    from dvmax_spark.ext.dedup import edit_distance_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(137)
    for seed_round, (k, q) in enumerate([(1, 2), (2, 3), (3, 2)]):
        min_len = q + k * q
        rows = []
        for i in range(60):
            L = rng.randint(max(1, min_len - 3), min_len + 25)
            s = "".join(rng.choice("abc ") for _ in range(L))
            rows.append((i, s))
            # planted near-dups: mutate few chars so true pairs exist
            if rng.random() < 0.4:
                t = list(s)
                for _ in range(rng.randint(1, k)):
                    t[rng.randrange(len(t))] = rng.choice("abc ")
                rows.append((1000 + i, "".join(t)))
        eligible = {i: t for i, t in rows if len(t) >= min_len}
        want = {}
        for a, b in combinations(sorted(eligible), 2):
            d = lev(eligible[a], eligible[b])
            if d <= k:
                want[(a, b)] = d
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # both the default path and the optional location-based filter
        # must be lossless (the filter's first, per-element form WAS
        # lossy under occurrence renumbering — caught right here)
        for loc in (False, True):
            got = {
                (r.id_a, r.id_b): r.ed
                for r in edit_distance_join(
                    df, k=k, q=q, location_filter=loc
                ).collect()
            }
            assert got == want, (k, q, loc, len(got), len(want))
        assert want, f"fixture must produce pairs for k={k}, q={q}"


def test_compression_ratio_bit_equal_to_local_zlib(spark):
    """The distributed compression-ratio gate must be bit-identical to
    a driver-side zlib pass over the same strings (same library, same
    pinned level) — including the repetitive-text low band, the
    incompressible high band, the keep gate, and the empty-text null
    row."""
    import zlib

    from dvmax_spark.ext.textstats import compression_ratio

    rows = [
        (1, "spam " * 200),                      # hyper-repetitive -> low ppm
        (
            2,
            "It was a bright cold day in April and the clocks were striking"
            " thirteen as Winston slipped quickly through the glass doors"
            " though not quickly enough to stop the swirl of gritty dust",
        ),
        (3, "9f8a7b6c5d4e3f2a1b0c9d8e7f6a5b4c3d2e1f0a" * 4),  # high ppm
        (4, ""),                                  # empty -> null ratio
    ]
    got = {
        r.doc_id: (r.n_bytes, r.z_bytes, r.ratio_ppm, r.keep)
        for r in compression_ratio(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    for i, txt in rows:
        raw = txt.encode("utf-8")
        if raw:
            z = len(zlib.compress(raw, 6))
            ppm = z * 1_000_000 // len(raw)
            assert got[i] == (len(raw), z, ppm, 300_000 < ppm < 900_000), i
        else:
            assert got[i] == (0, None, None, False)
    assert got[1][3] is False and got[2][3] is True, "bands must separate"


def test_jaccard_prefix_join_prunes_candidates(spark):
    """The candidate space the prefix join verifies must be strictly
    smaller than all-pairs on a corpus with distinctive tails — the
    point of the algorithm (pruning), checked end-to-end by counting
    docs that share any PREFIX shingle vs all length-eligible pairs."""
    import pyspark.sql.functions as F

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import shingles

    docs = load_table(spark, "documents", SF)
    t_ppm, n = 300_000, 3
    toks = docs.select(
        F.col("doc_id").alias("id"), F.explode(shingles(F.col("text"), n)).alias("tok")
    )
    from pyspark.sql import Window

    sz = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "rk", F.row_number().over(Window.partitionBy("id").orderBy("df", "tok"))
    )
    pre = ranked.join(sz, "id").where(
        F.col("rk") <= F.col("n") - F.expr(f"({t_ppm} * n + 999999) div 1000000") + 1
    )
    cands = (
        pre.select(F.col("id").alias("id_a"), "tok")
        .join(pre.select(F.col("id").alias("id_b"), "tok"), "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    n_docs = sz.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    assert cands < all_pairs // 2, (cands, all_pairs)


@pytest.mark.slow  # long-tail tier (tests/conftest.py)
def test_ppjoin_positional_filter_strictly_reduces_candidates(spark):
    """PPJoin's positional filter (Xiao et al.) must prune candidates
    the rarity prefix + length filters ALONE cannot — without changing
    the verified result (lossless). Construction: docs A and B share
    exactly one token engineered to sit at rank 6 of 12 (inside the
    t=0.5 prefix of 7, but with too little suffix left to ever reach
    minoverlap 8), plus a true near-dup pair C~D that must survive
    in both modes, plus single-token helper docs that give the filler
    tokens df=2 so token rank is controlled by name."""
    from dvmax_spark.ext.dedup import (
        jaccard_prefix_candidates,
        jaccard_prefix_join,
    )

    rows = []
    # A: a01..a05 < s_ab < t01..t06 lexicographically, all df=2
    rows.append((1, " ".join([f"a0{i}" for i in range(1, 6)] + ["s_ab"] + [f"t0{i}" for i in range(1, 7)])))
    rows.append((2, " ".join([f"b0{i}" for i in range(1, 6)] + ["s_ab"] + [f"u0{i}" for i in range(1, 7)])))
    # helpers: one doc per filler token so every filler has df=2
    hid = 100
    for tok in (
        [f"a0{i}" for i in range(1, 6)] + [f"t0{i}" for i in range(1, 7)]
        + [f"b0{i}" for i in range(1, 6)] + [f"u0{i}" for i in range(1, 7)]
    ):
        rows.append((hid, tok))
        hid += 1
    # true near-dups: share 11 of 12 tokens
    common = [f"c{i:02d}" for i in range(11)]
    rows.append((3, " ".join(common + ["only3"])))
    rows.append((4, " ".join(common + ["only4"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    n_with = jaccard_prefix_candidates(
        docs, threshold_ppm=500_000, shingle_n=1, positional_filter=True
    ).count()
    n_without = jaccard_prefix_candidates(
        docs, threshold_ppm=500_000, shingle_n=1, positional_filter=False
    ).count()
    assert n_with < n_without, (n_with, n_without)
    # (A, B) is exactly a positionally-pruned candidate
    pruned = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(
            docs, 500_000, 1, positional_filter=False
        ).collect()
    } - {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(
            docs, 500_000, 1, positional_filter=True
        ).collect()
    }
    assert (1, 2) in pruned

    got_with = {
        (r["id_a"], r["id_b"], r["jaccard_ppm"])
        for r in jaccard_prefix_join(
            docs, threshold_ppm=500_000, shingle_n=1, positional_filter=True
        ).collect()
    }
    got_without = {
        (r["id_a"], r["id_b"], r["jaccard_ppm"])
        for r in jaccard_prefix_join(
            docs, threshold_ppm=500_000, shingle_n=1, positional_filter=False
        ).collect()
    }
    assert got_with == got_without  # lossless
    assert (3, 4, 846_153) in got_with  # 11/13 = 0.846153...


def test_ppjoin_accumulated_filter_beats_earliest_row_bound(spark):
    """The r7 accumulated positional filter must prune a pair the
    earliest-row bound provably cannot. Construction (t=0.5): X and Y
    are 12 tokens each (prefix 7, minoverlap 8) sharing exactly m01
    (rank 1) and m07 (rank 7) — earliest-row bound 1+min(11,11)=12
    passes, accumulated bound cp + min(na-pa, nb-pb) = 2+5 = 7 < 8
    prunes. True J = 2/22, so pruning is correct; the C~D near-dup
    pair must survive, and the verified join is identical with the
    filter off (lossless)."""
    from dvmax_spark.ext.dedup import jaccard_prefix_candidates, jaccard_prefix_join

    rows = []
    x_fill = [f"m{i:02d}" for i in range(2, 7)] + [f"x{i:02d}" for i in range(8, 13)]
    y_fill = [f"n{i:02d}" for i in range(2, 7)] + [f"y{i:02d}" for i in range(8, 13)]
    rows.append((11, " ".join(["m01"] + x_fill[:5] + ["m07"] + x_fill[5:])))
    rows.append((12, " ".join(["m01"] + y_fill[:5] + ["m07"] + y_fill[5:])))
    hid = 200
    for tok in x_fill + y_fill:  # every filler df=2 -> rank by name
        rows.append((hid, tok))
        hid += 1
    common = [f"c{i:02d}" for i in range(11)]
    rows.append((13, " ".join(common + ["only13"])))
    rows.append((14, " ".join(common + ["only14"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    with_f = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(
            docs, 500_000, 1, positional_filter=True
        ).collect()
    }
    without_f = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(
            docs, 500_000, 1, positional_filter=False
        ).collect()
    }
    assert (11, 12) in without_f
    assert (11, 12) not in with_f  # the earliest-row bound (12 >= 8) kept it
    assert (13, 14) in with_f
    got_with = {
        tuple(r)
        for r in jaccard_prefix_join(
            docs, 500_000, 1, positional_filter=True
        ).collect()
    }
    got_without = {
        tuple(r)
        for r in jaccard_prefix_join(
            docs, 500_000, 1, positional_filter=False
        ).collect()
    }
    assert got_with == got_without  # lossless


def test_oph_signature_matches_python_recurrence(spark):
    """OPH signature vs a pure-Python replay of the same rules (md5
    portable hash, bucket = h mod k, per-bucket min, cyclic-right
    densification) on a tiny doc that leaves most buckets empty —
    the densification path is exercised, not just the filled bins."""
    import hashlib

    from dvmax_spark.ext.dedup import minhash_signature_oph

    text = "a b c d e f"
    k = 16
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = minhash_signature_oph(df, num_buckets=k, shingle_n=3).collect()[0]

    toks = text.split(" ")
    grams = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    MOD = 1_000_000_007
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MOD for g in grams]
    bins = {}
    for h in hs:
        b = h % k
        bins[b] = min(bins.get(b, h), h)
    sig = []
    for i in range(k):
        if i in bins:
            sig.append(bins[i])
        else:
            nxt = [j for j in range(i + 1, k) if j in bins]
            wrap = [j for j in range(k) if j in bins]
            sig.append(bins[nxt[0]] if nxt else bins[wrap[0]])
    assert got.signature == sig
    assert len(grams) < k, "fixture must leave empty buckets"


def test_oph_recall_vs_exact_jaccard(spark):
    """Cross-operator audit: every TRUE near-dup pair (exact trigram
    Jaccard >= 0.3 from the lossless prefix join) must be recovered by
    the one-permutation LSH at the matched banding — approximation in
    the signature, not in the recall, on this corpus."""
    import pyspark.sql.functions as F

    from dvmax_spark.catalog import load_table
    from dvmax_spark.ext.dedup import jaccard_prefix_join, minhash_oph_pairs

    docs = load_table(spark, "documents", SF)
    truth = {
        (r.id_a, r.id_b)
        for r in jaccard_prefix_join(docs, threshold_ppm=300_000).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in minhash_oph_pairs(
            docs.where(F.size(F.split(F.col("text"), " ")) >= 3),
            num_buckets=64,
            bands=16,
            shingle_n=3,
            threshold=0.25,
        ).collect()
    }
    assert truth, "fixture corpus must contain true pairs"
    assert truth <= got, f"missed true pairs: {sorted(truth - got)[:5]}"


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    from the short side is 1.0 while Jaccard is far below any usable
    threshold — the operator's reason to exist. The reverse direction
    (long contained in short) must NOT fire."""
    from dvmax_spark.ext.dedup import containment_pairs, ngram_jaccard_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.replace("w", "v"))],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["containment_ppm"]
        for r in containment_pairs(docs, threshold_ppm=700_000).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 1_000_000
    assert (2, 1) not in out
    jac = ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=None).collect()
    assert not jac  # jaccard blind to the same pair at any sane threshold


def test_gopher_repetition_battery_hand_computed(spark):
    """Position-coverage semantics pinned by hand: overlapping
    occurrences of the top gram count each position once; duplicated
    5-grams union their coverage; the 9-threshold gate fires on the
    published constants. Per the paper, the top-n-gram fraction is
    measured REGARDLESS of its count — a singleton top gram still
    covers n/n_tokens, so very short all-unique docs fail the top-4
    gate (4/20 > 0.16), exactly as Rae et al.'s battery would."""
    from dvmax_spark.ext.textstats import gopher_repetition

    # doc 1: "a b a b a b" + 14 unique fillers -> top bigram "a b"
    # occurs 3x at starts 0,2,4 covering positions 0..5 (6 of 20) = 30%
    d1 = "a b a b a b " + " ".join(f"u{i}" for i in range(14))
    # doc 2: one duplicated 5-gram (v0..v4 twice, disjoint) in 20 toks
    # -> dup5 coverage 10/20 = 50%; top-2 gram "v0 v1" twice covering
    # 4/20 = 20% (exactly AT the threshold -> passes that one)
    d2 = " ".join([f"v{i}" for i in range(5)] + [f"w{i}" for i in range(5)]
                  + [f"v{i}" for i in range(5)] + [f"x{i}" for i in range(5)])
    # doc 3: 20 all-unique tokens -> singleton top grams cover n/20;
    # top4 = 4/20 = 0.20 > 0.16 -> FAILS (the paper's short-doc edge)
    d3 = " ".join(f"z{i}" for i in range(20))
    # doc 4: 50 all-unique tokens -> top-n coverage n/50, every gate
    # clears (2/50, 3/50, 4/50; dup families 0) -> passes
    d4 = " ".join(f"y{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}
    assert out[1]["rep_top2_ppm"] == 300_000  # 6/20
    assert out[1]["passes_repetition_battery"] is False  # 0.30 > 0.20
    assert out[2]["rep_dup5_ppm"] == 500_000  # 10/20
    assert out[2]["rep_top2_ppm"] == 200_000  # 4/20, == threshold: ok
    assert out[2]["passes_repetition_battery"] is False  # dup5 0.5 > 0.15
    assert out[3]["rep_top2_ppm"] == 100_000  # singleton "z0 z1": 2/20
    assert out[3]["rep_dup10_ppm"] == 0
    assert out[3]["passes_repetition_battery"] is False  # top4 0.20 > 0.16
    assert out[4]["rep_top2_ppm"] == 40_000 and out[4]["rep_top4_ppm"] == 80_000
    assert out[4]["rep_dup5_ppm"] == 0
    assert out[4]["passes_repetition_battery"] is True


def test_minhash_signature_null_id_gets_real_signature(spark):
    """r8 ADVICE: the re-join to the doc list is eqNullSafe, so a NULL
    doc_id that HAS shingles keeps its real signature (the pre-r8
    explode_outer path's behavior), while a too-short doc still gets
    the all-null signature."""
    from dvmax_spark.ext.dedup import minhash_signature

    df = spark.createDataFrame(
        [(None, "a b c d e"), (1, "a b c d e"), (2, "x")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r["signature"] for r in minhash_signature(df, num_hashes=8).collect()}
    assert rows[None] == rows[1]  # same text => same signature, null id included
    assert all(v is not None for v in rows[1])
    assert all(v is None for v in rows[2])  # shingle-less doc: all-null


def test_shingle_stream_rejects_internal_column_clash(spark):
    """r8 ADVICE: a caller column named _tk or _p1 would be silently
    clobbered; assert loudly instead."""
    import pytest

    from dvmax_spark.ext.dedup import shingle_stream

    df = spark.createDataFrame([(1, "a b c", 9)], "doc_id long, text string, _tk int")
    with pytest.raises(AssertionError, match="_tk"):
        shingle_stream(df, "text", 3, cols=("doc_id",))


def test_simhash_oracle_models_bucket_cap(spark):
    """r9 sf1 parity finding: the Spark pipeline drops whole band
    buckets over max_bucket (cap_buckets) but the oracle didn't model
    it — invisible at sf<=0.1 where the cap never binds. Force the cap
    to bind at toy scale and require both engines to agree exactly."""
    import duckdb

    from dvmax_spark.ext.dedup import simhash_near_pairs, simhash_sql

    rows = [(i, "alpha beta gamma delta") for i in range(8)]  # mega-bucket
    rows += [(100, "zeta eta theta iota"), (101, "zeta eta theta iota")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in simhash_near_pairs(df, max_hamming=10, max_bucket=5).collect()
    )
    con = duckdb.connect()
    con.register("docs_tbl", df.toPandas())
    exp = sorted(
        tuple(r)
        for r in con.execute(
            simhash_sql(max_hamming=10, table="docs_tbl", max_bucket=5)
        ).fetchall()
    )
    assert got == exp
    assert (100, 101, 0) in got  # small bucket survives
    assert not [p for p in got if p[0] < 100]  # mega-bucket members dropped
