"""checkpoint_mode='local'|'reliable' must be a pure infrastructure
knob: identical results from every iterative operator in both modes
(operators/lineage.py). 'reliable' writes per-round cuts to a shared
checkpoint dir so an executor loss mid-loop resumes instead of
failing — the 100 TB knob; 'local' pins executor memory — the
single-node default."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dvmax_spark.operators.lineage import cut_lineage


@pytest.fixture()
def reliable_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    yield
    # leave the dir configured; each test sets its own tmp path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cut_lineage_rejects_unknown_mode_and_missing_dir(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="unknown checkpoint_mode"):
        cut_lineage(df, mode="bogus")


def test_global_rank_and_ntile_identical_in_both_modes(spark, reliable_dir):
    from dvmax_spark.operators.distrank import with_exact_ntile, with_global_rank

    df = spark.range(0, 1000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id")
    )
    order = [F.col("k"), F.col("id")]
    base = _rows(with_global_rank(df, order, checkpoint_mode="local"))
    rel = _rows(with_global_rank(df, order, checkpoint_mode="reliable"))
    assert base == rel
    bn = _rows(with_exact_ntile(df, order, 7, checkpoint_mode="local"))
    rn = _rows(with_exact_ntile(df, order, 7, checkpoint_mode="reliable"))
    assert bn == rn


def test_pagerank_identical_in_both_modes(spark, reliable_dir):
    from dvmax_spark.ext.dedup import pagerank_centrality

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (5, 7), (5, 8), (9, 10)],
        "id_a long, id_b long",
    )
    pl = _rows(pagerank_centrality(pairs, checkpoint_mode="local"))
    pr = _rows(pagerank_centrality(pairs, checkpoint_mode="reliable"))
    assert pl == pr


def test_bpe_train_identical_in_both_modes(spark, reliable_dir):
    from dvmax_spark.ext.bpe import train_bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new"), (3, "low new")],
        "doc_id long, text string",
    )
    ml = train_bpe(docs, num_merges=6, checkpoint_mode="local")
    mr = train_bpe(docs, num_merges=6, checkpoint_mode="reliable")
    assert ml == mr and len(ml) > 0


def test_reliable_mode_requires_checkpoint_dir(spark, tmp_path):
    # a fresh context may already carry a dir from another test; only
    # assert the guard when none is configured
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            cut_lineage(spark.range(3), mode="reliable")
    else:
        out = cut_lineage(spark.range(3), mode="reliable", eager=True)
        assert out.count() == 3
