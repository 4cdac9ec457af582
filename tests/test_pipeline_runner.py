"""End-to-end pipeline runner test: the §3.1 lifecycle against the
incremental store (idempotent re-runs, gate behavior, OHE projection,
status sidecar)."""

from __future__ import annotations

import datetime
import json
import os

import pandas as pd
import pytest


def ticker_inputs(spark, profile, short=()):
    """Pipeline inputs for the tickers of ``profile`` rows
    (ticker, sector, country): each gets a 2020-2022 price history and
    2019-2022 fundamentals, except that tickers in ``short`` get only
    the last 50 days of prices, too few for the 260-day gate."""
    days = pd.bdate_range("2020-01-01", "2022-12-31")
    years = [2019, 2020, 2021, 2022]
    tickers = [t for t, _, _ in profile]
    mk = spark.createDataFrame
    return {
        "prices": mk(
            [
                (t, d.date(), 100.0 + i * 0.01)
                for t in tickers
                for i, d in enumerate(days)
                if t not in short or i >= len(days) - 50
            ],
            "ticker string, date date, close double",
        ),
        "dividends": mk(
            [(t, datetime.date(y, 6, 1), 1.0 + 0.1 * i) for t in tickers for i, y in enumerate(years)],
            "ticker string, date date, dividend double",
        ),
        "splits": mk([], "ticker string, date date, split_ratio double"),
        "ratios": mk(
            [(t, datetime.date(y, 12, 30), 15.0, 20.0, 0.4, 0.03, 2.0) for t in tickers for y in years],
            "ticker string, date date, priceEarningsRatio double, "
            "priceToFreeCashFlowsRatio double, payoutRatio double, "
            "dividendYield double, freeCashFlowPerShare double",
        ),
        "income": mk(
            [(t, datetime.date(y, 12, 30), 2.0, 100.0, 10.0, 20.0, 500.0) for t in tickers for y in years],
            "ticker string, date date, eps double, operatingIncome double, "
            "interestExpense double, depreciationAndAmortization double, incomeBeforeTax double",
        ),
        "balance": mk(
            [(t, datetime.date(y, 12, 30), 1000.0, 300.0) for t in tickers for y in years],
            "ticker string, date date, totalDebt double, cashAndShortTermInvestments double",
        ),
        "profile": mk(profile, "ticker string, sector string, country string"),
        "sector_index": None,
    }


@pytest.fixture(scope="module")
def inputs(spark):
    # B has too little history -> gated out
    return ticker_inputs(
        spark, [("A", "Energy", "USA"), ("B", "Utilities", "UK")], short={"B"}
    )


def test_pipeline_end_to_end(spark, inputs, tmp_path):
    from dvmax_spark.plans.ticker_pipeline import (
        run_ticker_pipeline,
        write_static_ohe_projection,
    )
    from dvmax_spark.store import FeatureStore

    root = str(tmp_path / "fs")
    dates = [datetime.date(2021, 12, 31), datetime.date(2022, 12, 30)]
    stats = run_ticker_pipeline(spark, inputs, root, dates=dates)

    dyn = FeatureStore(spark, os.path.join(root, "dynamic"), keys=["ticker", "as_of"]).read()
    rows = dyn.collect()
    # only A passes the 260-day gate; one row per as_of
    assert {r["ticker"] for r in rows} == {"A"}
    assert {str(r["as_of"]) for r in rows} == {"2021-12-31", "2022-12-30"}
    assert stats["rows_written"] == 2

    # the static table is upserted once per run, not once per date
    from dvmax_spark.fsops import current_version_dir
    from dvmax_spark.plans.ticker_pipeline import static_store

    static_main = static_store(spark, root).main_path
    assert os.path.basename(current_version_dir(static_main)) == "main.v1"

    # idempotent re-run: every stored key is skipped before the build
    stats2 = run_ticker_pipeline(spark, inputs, root, dates=dates)
    assert stats2["rows_written"] == 0
    assert stats2["skipped"] == 2
    assert FeatureStore(
        spark, os.path.join(root, "dynamic"), keys=["ticker", "as_of"]
    ).read().count() == 2

    # static + OHE projection
    proj = write_static_ohe_projection(spark, root)
    prow = {r["ticker"]: r.asDict() for r in proj.collect()}
    assert prow["A"]["sector_energy"] == 1.0
    assert all(isinstance(v, float) for k, v in prow["A"].items() if k != "ticker")

    # status sidecar exists and counts match
    status = json.load(open(os.path.join(root, "status", "last_run.json")))
    assert status["dates"] == 2

    # inspection report (reference report.py analog): grouped print of
    # one ticker row off the store; latest as_of picked by default
    import contextlib
    import io

    from dvmax_spark.cli import print_feature_report

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        print_feature_report(spark, root, "A", None)
    out = buf.getvalue()
    assert "Feature Report for A" in out
    assert "2022-12-30" in out  # latest row wins without --as-of
    assert "-> Dividends" in out and "dividend_yield" in out
    assert "-> Validation" in out
    with pytest.raises(SystemExit):
        print_feature_report(spark, root, "NOPE", None)


def _store_frame(store) -> pd.DataFrame:
    df = store.read().toPandas()
    df = df[sorted(df.columns)].astype({"as_of": str})
    return df.sort_values(["ticker", "as_of"]).reset_index(drop=True)


def _spy_builds(monkeypatch) -> list:
    """Record the tickers of every ``build_feature_table`` call."""
    from dvmax_spark.plans import ticker_pipeline

    calls, build = [], ticker_pipeline.build_feature_table

    def spy(inputs, as_of, *a, **k):
        tickers = {r["ticker"] for r in inputs["prices"].select("ticker").distinct().collect()}
        calls.append((str(as_of), sorted(tickers)))
        return build(inputs, as_of, *a, **k)

    monkeypatch.setattr(ticker_pipeline, "build_feature_table", spy)
    return calls


def test_rerun_builds_only_the_missing_keys(spark, monkeypatch, tmp_path):
    """A rerun builds features only for the (ticker, as_of) keys the
    dynamic store lacks: with one stored key deleted, it builds that
    ticker on that date alone, writes its one row, skips the rest, and
    leaves the store equal to a from-scratch run's."""
    from dvmax_spark.plans.ticker_pipeline import dynamic_store, run_ticker_pipeline

    profile = [("A", "Energy", "USA"), ("B", "Utilities", "UK"), ("C", "Energy", "USA")]
    inputs = ticker_inputs(spark, profile)
    dates = [datetime.date(2021, 12, 31), datetime.date(2022, 12, 30)]
    root = str(tmp_path / "fs")
    assert run_ticker_pipeline(spark, inputs, root, dates=dates)["rows_written"] == 6
    store = dynamic_store(spark, root)
    from_scratch = _store_frame(store)
    gone = spark.createDataFrame(
        [("B", datetime.date(2022, 12, 30))], "ticker string, as_of date"
    )
    assert store.delete_keys(gone) == 1

    calls = _spy_builds(monkeypatch)
    stats = run_ticker_pipeline(spark, inputs, root, dates=dates)
    assert stats["rows_written"] == 1
    assert stats["skipped"] == 5
    assert calls == [("2022-12-30", ["B"])]
    pd.testing.assert_frame_equal(_store_frame(store), from_scratch)


def test_rerun_into_a_migrating_store(spark, tmp_path):
    """A dynamic store still partitioned by ``ticker`` (the layout before
    ``as_of``) migrates on the rerun's first append, which promotes a
    new version of it. The next date's lookup must read that version,
    not the files of the one it replaced."""
    from dvmax_spark.plans.ticker_pipeline import dynamic_store, run_ticker_pipeline
    from dvmax_spark.store import FeatureStore

    inputs = ticker_inputs(spark, [("A", "Energy", "USA"), ("B", "Utilities", "UK")])
    dates = [datetime.date(2021, 12, 31), datetime.date(2022, 12, 30)]
    fresh = str(tmp_path / "fresh")
    run_ticker_pipeline(spark, inputs, fresh, dates=dates)
    root = str(tmp_path / "fs")
    old = FeatureStore(spark, os.path.join(root, "dynamic"), keys=["ticker", "as_of"])
    old.upsert(dynamic_store(spark, fresh).read().where("ticker = 'A'"))

    stats = run_ticker_pipeline(spark, inputs, root, dates=dates)
    assert (stats["rows_written"], stats["skipped"]) == (2, 2)
    pd.testing.assert_frame_equal(
        _store_frame(dynamic_store(spark, root)), _store_frame(dynamic_store(spark, fresh))
    )


def test_upsert_rerun_rebuilds_every_key(spark, monkeypatch, tmp_path):
    """``incremental=False`` is the upsert path: its rerun builds and
    writes every gate-eligible key again and skips none."""
    from dvmax_spark.plans.ticker_pipeline import run_ticker_pipeline

    inputs = ticker_inputs(spark, [("A", "Energy", "USA"), ("B", "Utilities", "UK")])
    root = str(tmp_path / "fs")
    dates = [datetime.date(2022, 12, 30)]
    run_ticker_pipeline(spark, inputs, root, dates=dates, incremental=False)
    calls = _spy_builds(monkeypatch)
    stats = run_ticker_pipeline(spark, inputs, root, dates=dates, incremental=False)
    assert stats["rows_written"] == 2
    assert stats["skipped"] == 0
    assert calls == [("2022-12-30", ["A", "B"])]


def test_numeric_looking_tickers_read_back_as_strings(spark, tmp_path):
    """Tickers such as "0005" and "7203" are data columns in both
    stores, so they read back as the strings written. As partition
    values their type would be inferred (5, 7203), and the rerun's
    anti-join would compare a string with an int."""
    from dvmax_spark.plans.ticker_pipeline import (
        dynamic_store,
        run_ticker_pipeline,
        static_store,
    )

    inputs = ticker_inputs(spark, [("0005", "Financials", "UK"), ("7203", "Energy", "Japan")])
    root = str(tmp_path / "fs")
    dates = [datetime.date(2022, 12, 30)]
    assert run_ticker_pipeline(spark, inputs, root, dates=dates)["rows_written"] == 2
    assert run_ticker_pipeline(spark, inputs, root, dates=dates)["rows_written"] == 0
    for store in (dynamic_store(spark, root), static_store(spark, root)):
        df = store.read()
        assert dict(df.dtypes)["ticker"] == "string"
        assert sorted(r["ticker"] for r in df.collect()) == ["0005", "7203"]


def test_empty_country_is_stored_as_null(spark, tmp_path):
    """The static store is partitioned by the raw country label, and
    Spark writes "" as the null partition: ``encode_static`` keeps an
    empty label as null, so the store reads back what the pipeline
    computed, and the label's one-hot columns (``country_other``) are
    those of the label as given."""
    from dvmax_spark.features.static import encode_static
    from dvmax_spark.plans.ticker_pipeline import (
        run_ticker_pipeline,
        static_store,
        write_static_ohe_projection,
    )

    profile = [("A", "Energy", ""), ("B", "Energy", "UK"), ("C", "Energy", None)]
    inputs = ticker_inputs(spark, profile)
    want = {"A": None, "B": "UK", "C": None}
    computed = encode_static(inputs["profile"]).collect()
    assert {r["ticker"]: r["country"] for r in computed} == want
    root = str(tmp_path / "fs")
    dates = [datetime.date(2022, 12, 30)]
    for _ in range(2):  # first run and rerun
        run_ticker_pipeline(spark, inputs, root, dates=dates)
    stored = static_store(spark, root).read()
    assert {r["ticker"]: r["country"] for r in stored.collect()} == want
    assert dict(stored.dtypes)["country"] == "string"
    proj = {r["ticker"]: r for r in write_static_ohe_projection(spark, root).collect()}
    assert proj["A"]["country_other"] == 1.0
    assert proj["B"]["country_uk"] == 1.0
    assert proj["C"]["country_other"] == 0.0


def test_macro_pipeline(spark, tmp_path):
    from dvmax_spark.plans.macro_pipeline import run_macro_pipeline

    rows = []
    for c in ("united_states", "germany"):
        for i, y in enumerate(range(2015, 2023)):
            rows.append(
                (c, datetime.date(y, 1, 1), 1000.0 * (1.03**i), 50.0, 2.0, 4.0, 12.0, 68.0)
            )
    raw = spark.createDataFrame(
        rows,
        "country string, date date, `GDP (USD)` double, "
        "`GDP per Capita (const USD)` double, `Inflation (%)` double, "
        "`Unemployment (%)` double, `Exports (% GDP)` double, "
        "`Private Consumption (%GDP)` double",
    )
    out = run_macro_pipeline(spark, raw, str(tmp_path / "m"))
    assert out.where("country = 'germany'").count() > 0
    assert set(out.columns) >= {
        "as_of_year", "backfilled_year", "country", "gdp_yoy_backfilled",
        "inflation_latest", "unemployment_latest",
    }
