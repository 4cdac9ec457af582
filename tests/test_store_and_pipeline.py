"""Store round-trips (upsert idempotence, anti-join append, schema
merge — the reference's storage tests, SURVEY §5 'storage/merge
round-trip tests') and the end-to-end feature assembly pipeline."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def store(spark, tmp_path):
    from dvmax_spark.store import FeatureStore

    return FeatureStore(spark, str(tmp_path / "store"), keys=["ticker", "as_of"])


def _rows(spark, rows):
    return spark.createDataFrame(
        [(t, datetime.date.fromisoformat(d), float(v)) for t, d, v in rows],
        "ticker string, as_of date, x double",
    )


class TestStore:
    def test_append_skips_existing_keys(self, spark, store):
        n1 = store.append_new_keys(_rows(spark, [("A", "2024-01-01", 1.0)]))
        n2 = store.append_new_keys(
            _rows(spark, [("A", "2024-01-01", 99.0), ("A", "2024-02-01", 2.0)])
        )
        assert (n1, n2) == (1, 1)
        got = {(r["ticker"], str(r["as_of"])): r["x"] for r in store.read().collect()}
        # duplicate key kept ORIGINAL value (append skips existing)
        assert got[("A", "2024-01-01")] == 1.0
        assert got[("A", "2024-02-01")] == 2.0

    def test_empty_first_write_reads_as_absent(self, spark, store):
        """A first write of an empty frame leaves no parquet file, which
        Spark cannot read a schema from: the store must still read as
        absent, so the next append replaces it and appends every row."""
        assert store.append_new_keys(_rows(spark, [])) == 0
        assert not store.exists()
        rows = [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0)]
        assert store.append_new_keys(_rows(spark, rows)) == 2
        assert store.exists()
        assert store.read().count() == 2

    def test_upsert_keep_last(self, spark, store):
        store.upsert(_rows(spark, [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 5.0)]))
        store.upsert(_rows(spark, [("A", "2024-01-01", 9.0)]))
        got = {(r["ticker"], str(r["as_of"])): r["x"] for r in store.read().collect()}
        assert got[("A", "2024-01-01")] == 9.0  # update wins
        assert got[("B", "2024-01-01")] == 5.0  # untouched key survives
        assert store.read().count() == 2  # idempotent, no dups

    def test_schema_evolution_merge(self, spark, store):
        store.upsert(_rows(spark, [("A", "2024-01-01", 1.0)]))
        widened = spark.createDataFrame(
            [("B", datetime.date(2024, 1, 1), 2.0, "extra")],
            "ticker string, as_of date, x double, note string",
        )
        store.upsert(widened)
        read = store.read()
        assert "note" in read.columns
        rows = {r["ticker"]: r for r in read.collect()}
        assert rows["A"]["note"] is None and rows["B"]["note"] == "extra"

    def test_file_compaction_bounds_files_and_keeps_data(self, spark, store):
        """Small-file maintenance: 6 incremental appends -> many files;
        compact() rewrites to <=1 file per partition, preserves every
        row exactly, and keeps the partitioned layout readable."""
        import glob
        import os

        for i in range(6):
            store.append_new_keys(
                _rows(spark, [("A", f"2024-0{i + 1}-01", float(i)), ("B", f"2024-0{i + 1}-01", 10.0 + i)])
            )
        before = store.read().orderBy("ticker", "as_of").collect()
        n_files_before = len(
            glob.glob(os.path.join(store.main_path, "**", "*.parquet"), recursive=True)
        )
        assert n_files_before > 2  # appends really did fragment

        store.compact(files_per_partition=1, sort_within=["as_of"])
        after = store.read().orderBy("ticker", "as_of").collect()
        assert after == before  # lossless
        n_files_after = len(
            glob.glob(os.path.join(store.main_path, "**", "*.parquet"), recursive=True)
        )
        assert n_files_after <= 2  # one per ticker partition
        # partition pruning still works on the compacted layout
        assert store.read().where(F.col("ticker") == "A").count() == 6

    def test_compaction_at_edge(self, spark, tmp_path):
        from dvmax_spark.store import FeatureStore

        s = FeatureStore(
            spark, str(tmp_path / "c"), keys=["ticker", "as_of"], compact_round=2
        )
        s.upsert(_rows(spark, [("A", "2024-01-01", 1.23456)]))
        row = s.read().collect()[0]
        assert row["x"] == pytest.approx(1.23, abs=1e-6)
        assert dict(s.read().dtypes)["x"] == "float"


def _old_layout_store(spark, tmp_path):
    """A store written with the default layout (one dir per ticker),
    reopened partitioned by ``as_of``."""
    from dvmax_spark.store import FeatureStore

    path = str(tmp_path / "mig")
    FeatureStore(spark, path, keys=["ticker", "as_of"], partition_col="ticker").upsert(
        _rows(spark, [("A", "2024-01-01", 1.0), ("B", "2024-01-01", 2.0),
                      ("A", "2024-02-01", 3.0)])
    )
    return FeatureStore(spark, path, keys=["ticker", "as_of"], partition_col="as_of")


def _assert_migrated(store, want):
    """The read returns ``want``, the served version holds only
    ``as_of=`` dirs, and the pointer moved to the next version."""
    import os

    from dvmax_spark.fsops import current_version_dir

    got = {(r["ticker"], str(r["as_of"])): r["x"] for r in store.read().collect()}
    assert got == want
    cur = current_version_dir(store.main_path)
    dirs = [d for d in os.listdir(cur) if os.path.isdir(os.path.join(cur, d))]
    assert dirs and all(d.startswith("as_of=") for d in dirs), dirs
    assert cur == f"{store.main_path}.v2"


class TestLayoutMigration:
    """A write under a new partition column rewrites the whole table in
    one promote; an in-place write would leave ``ticker=`` and
    ``as_of=`` dirs side by side, which Spark refuses to read."""

    def test_append_new_keys_migrates(self, spark, tmp_path):
        store = _old_layout_store(spark, tmp_path)
        n = store.append_new_keys(
            _rows(spark, [("A", "2024-01-01", 9.0), ("B", "2024-03-01", 4.0)])
        )
        assert n == 1
        _assert_migrated(store, {
            ("A", "2024-01-01"): 1.0, ("B", "2024-01-01"): 2.0,
            ("A", "2024-02-01"): 3.0, ("B", "2024-03-01"): 4.0,
        })

    def test_overwrite_partition_values_migrates(self, spark, tmp_path):
        store = _old_layout_store(spark, tmp_path)
        store.overwrite_partition_values(_rows(spark, [("C", "2024-01-01", 7.0)]))
        _assert_migrated(store, {("C", "2024-01-01"): 7.0, ("A", "2024-02-01"): 3.0})

    def test_delete_keys_migrates(self, spark, tmp_path):
        store = _old_layout_store(spark, tmp_path)
        keys = _rows(spark, [("A", "2024-02-01", 0.0)]).select("ticker", "as_of")
        assert store.delete_keys(keys) == 1
        _assert_migrated(store, {("A", "2024-01-01"): 1.0, ("B", "2024-01-01"): 2.0})


class TestPipeline:
    def test_build_feature_table_end_to_end(self, spark):
        """Full per-ticker assembly over synthetic inputs for 2 tickers
        (the §3.1 lifecycle minus network): checks the 28-col dynamic
        contract + validation columns + static one-hot."""
        import pandas as pd

        from dvmax_spark.features.assemble import build_feature_table

        as_of = datetime.date(2024, 1, 2)
        days = pd.bdate_range("2022-01-03", "2024-01-02")
        prices = spark.createDataFrame(
            [
                (t, d.date(), 100.0 + i * 0.05 + (5.0 if t == "B" else 0.0))
                for t in ("A", "B")
                for i, d in enumerate(days)
            ],
            "ticker string, date date, close double",
        )
        years = [2020, 2021, 2022, 2023]
        ratios = spark.createDataFrame(
            [
                (t, datetime.date(y, 12, 30), 15.0 + i, 20.0 + i, 0.4, 0.03 + 0.002 * i, 2.0 + 0.2 * i)
                for t in ("A", "B")
                for i, y in enumerate(years)
            ],
            "ticker string, date date, priceEarningsRatio double, "
            "priceToFreeCashFlowsRatio double, payoutRatio double, "
            "dividendYield double, freeCashFlowPerShare double",
        )
        income = spark.createDataFrame(
            [
                (t, datetime.date(y, 12, 30), 2.0 + 0.5 * i, 100.0, 10.0, 20.0, 500.0)
                for t in ("A", "B")
                for i, y in enumerate(years)
            ],
            "ticker string, date date, eps double, operatingIncome double, "
            "interestExpense double, depreciationAndAmortization double, incomeBeforeTax double",
        )
        balance = spark.createDataFrame(
            [
                (t, datetime.date(y, 12, 30), 1000.0, 300.0)
                for t in ("A", "B")
                for y in years
            ],
            "ticker string, date date, totalDebt double, cashAndShortTermInvestments double",
        )
        dividends = spark.createDataFrame(
            [
                (t, datetime.date(y, 6, 1), 1.0 + 0.1 * i)
                for t in ("A", "B")
                for i, y in enumerate([2018, 2019, 2020, 2021, 2022, 2023])
            ],
            "ticker string, date date, dividend double",
        )
        splits = spark.createDataFrame([], "ticker string, date date, split_ratio double")
        profile = spark.createDataFrame(
            [("A", "Energy", "USA"), ("B", "Healthcare", "Japan")],
            "ticker string, sector string, country string",
        )
        bench = spark.createDataFrame(
            [("XLE", d.date(), 50.0 + i * 0.01) for i, d in enumerate(days)]
            + [("XLV", d.date(), 80.0 + i * 0.02) for i, d in enumerate(days)],
            "sector_etf string, date date, close double",
        )
        sector_map = spark.createDataFrame(
            [("A", "XLE"), ("B", "XLV")], "ticker string, sector_etf string"
        )

        dynamic, static = build_feature_table(
            {
                "prices": prices,
                "dividends": dividends,
                "splits": splits,
                "ratios": ratios,
                "income": income,
                "balance": balance,
                "profile": profile,
                "sector_index": bench,
                "sector_map": sector_map,
            },
            as_of,
        )
        rows = {r["ticker"]: r.asDict() for r in dynamic.collect()}
        assert set(rows) == {"A", "B"}
        a = rows["A"]
        expected_cols = {
            "ticker", "as_of", "6m_return", "12m_return", "volatility",
            "max_drawdown_1y", "sector_relative_6m", "sma_50_200_delta",
            "net_debt_to_ebitda", "ebit_interest_cover", "ebit_interest_cover_capped",
            "eps_cagr_3y", "fcf_cagr_3y", "dividend_yield", "dividend_cagr_3y",
            "dividend_cagr_5y", "yield_vs_5y_median", "pe_ratio", "pfcf_ratio",
            "payout_ratio", "has_eps_cagr_3y", "has_fcf_cagr_3y",
            "has_dividend_yield", "has_dividend_cagr_3y", "has_dividend_cagr_5y",
            "has_ebit_interest_cover", "validation_status", "violations",
        }
        assert expected_cols <= set(a)
        # spot-check deterministic values
        assert a["pe_ratio"] == pytest.approx(18.0)  # latest valid year
        assert a["eps_cagr_3y"] == pytest.approx((3.5 / 2.0) ** (1 / 3) - 1, rel=1e-6)
        # end 1.5 @2023-06-01; 5y start = grace-window hit 1.0 @2018-06-01
        assert a["dividend_cagr_5y"] == pytest.approx((1.5 / 1.0) ** (1 / 5) - 1, rel=1e-4)
        assert a["dividend_cagr_3y"] == pytest.approx((1.5 / 1.2) ** (1 / 3) - 1, rel=1e-4)
        assert a["has_eps_cagr_3y"] == 1
        # net debt (700) / ebitda (500+10+20=530)
        assert a["net_debt_to_ebitda"] == pytest.approx(700.0 / 530.0, rel=1e-9)
        assert a["validation_status"] in ("ok", "flagged")
        srows = {r["ticker"]: r.asDict() for r in static.collect()}
        assert srows["A"]["sector_energy"] == 1 and srows["B"]["country_japan"] == 1


class TestMacro:
    def test_macro_features(self, spark):
        from dvmax_spark.features.macro import engineer_macro_features

        rows = []
        for i, y in enumerate(range(2015, 2023)):
            rows.append(
                ("united_states", datetime.date(y, 1, 1),
                 1000.0 * (1.03 ** i), 50.0 * (1.02 ** i), 2.0 + 0.1 * i,
                 4.0, 12.0, 68.0)
            )
        raw = spark.createDataFrame(
            rows,
            "country string, date date, `GDP (USD)` double, "
            "`GDP per Capita (const USD)` double, `Inflation (%)` double, "
            "`Unemployment (%)` double, `Exports (% GDP)` double, "
            "`Private Consumption (%GDP)` double",
        )
        out = engineer_macro_features(raw)
        rows = {r["as_of_year"]: r.asDict() for r in out.collect()}
        assert 2016 in rows
        assert rows[2016]["gdp_yoy_backfilled"] == pytest.approx(0.03, rel=1e-9)
        assert rows[2016]["inflation_latest"] == pytest.approx(0.021, rel=1e-9)
        assert rows[2016]["unemployment_latest"] == pytest.approx(0.04, rel=1e-9)
        # first year has no YoY -> dropped by the null gate
        assert 2015 not in rows
