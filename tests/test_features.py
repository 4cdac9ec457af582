"""Golden-value feature tests: expected values ported from the
reference's unit tests (tests/dataprep/features/engineering/
test_features.py, test_growth_features.py — the executable spec per
SURVEY §5), evaluated against the distributed implementations.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _prices(spark, rows, ticker="T"):
    return spark.createDataFrame(
        [(ticker, datetime.date.fromisoformat(d), float(c)) for d, c in rows],
        "ticker string, date date, close double",
    )


def _one(df, col):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0][col]


def test_6m_return(spark):
    # ref test_compute_6m_return: 100 -> 120 over 6m => 0.2
    from dvmax_spark.features.price import return_over_period

    df = _prices(spark, [("2024-01-01", 100), ("2024-07-01", 120)])
    out = return_over_period(df, datetime.date(2024, 7, 1), months=6, out="r")
    assert _one(out, "r") == pytest.approx(0.2, rel=1e-2)


def test_6m_return_precise(spark):
    # ref test_compute_6m_return_precise_date
    from dvmax_spark.features.price import return_over_period

    df = _prices(spark, [("2024-11-17", 228.0), ("2025-05-17", 211.26)])
    out = return_over_period(df, datetime.date(2025, 5, 17), months=6, out="r")
    assert _one(out, "r") == pytest.approx((211.26 - 228.0) / 228.0, rel=1e-4)


def test_12m_return(spark):
    from dvmax_spark.features.price import return_over_period

    df = _prices(spark, [("2023-07-01", 100), ("2024-07-01", 130)])
    out = return_over_period(df, datetime.date(2024, 7, 1), months=12, out="r")
    assert _one(out, "r") == pytest.approx(0.3, rel=1e-2)


def test_max_drawdown_basic(spark):
    # ref: closes 100,150,90 => (150-90)/150
    from dvmax_spark.features.price import max_drawdown_feature

    df = _prices(spark, [("2023-01-01", 100), ("2023-06-01", 150), ("2023-12-31", 90)])
    out = max_drawdown_feature(df, lookback_years=1, out="dd")
    assert _one(out, "dd") == pytest.approx((150 - 90) / 150, rel=1e-4)


def test_max_drawdown_larger_range(spark):
    # ref test_compute_max_drawdown_larger_range: drawdown 120 -> 80
    from dvmax_spark.features.price import max_drawdown_feature

    rows = [
        ("2019-01-01", 50), ("2020-01-01", 100), ("2020-06-01", 110),
        ("2021-01-01", 95), ("2021-06-01", 120), ("2022-01-01", 80),
        ("2023-01-01", 90), ("2023-06-01", 130), ("2023-12-31", 125),
    ]
    out = max_drawdown_feature(_prices(spark, rows), lookback_years=4, out="dd")
    assert _one(out, "dd") == pytest.approx((120 - 80) / 120, rel=1e-4)


def test_volatility_nonnegative(spark):
    from dvmax_spark.features.price import volatility

    df = _prices(spark, [("2024-01-01", 100), ("2024-01-02", 101), ("2024-01-03", 102)])
    assert _one(volatility(df, out="v"), "v") >= 0


def test_sector_relative_return(spark):
    # ref test_compute_sector_relative_return_simple_case:
    # (120/100) - (210/200) computed as return difference
    from dvmax_spark.features.price import sector_relative_return

    stock = _prices(spark, [("2023-07-05", 100), ("2024-01-01", 120)])
    bench = spark.createDataFrame(
        [("XLK", datetime.date(2023, 7, 5), 200.0), ("XLK", datetime.date(2024, 1, 1), 210.0)],
        "sector_etf string, date date, close double",
    )
    mapping = spark.createDataFrame([("T", "XLK")], "ticker string, sector_etf string")
    out = sector_relative_return(
        stock, bench, lookback_days=180, as_of=datetime.date(2024, 1, 1), mapping=mapping, out="rel"
    )
    assert _one(out, "rel") == pytest.approx((120 / 100 - 1) - (210 / 200 - 1), abs=1e-9)


def test_payout_ratio_last_positive(spark):
    from dvmax_spark.features.price import payout_ratio

    df = spark.createDataFrame(
        [("T", datetime.date(2021, 1, 1), 0.3), ("T", datetime.date(2022, 1, 1), 0.4)],
        "ticker string, date date, payoutRatio double",
    )
    assert _one(payout_ratio(df, out="p"), "p") == pytest.approx(0.4)


def test_sma_delta_insufficient_rows_is_null(spark):
    from dvmax_spark.features.price import sma_delta_50_200

    df = _prices(spark, [("2024-01-01", 100), ("2024-01-02", 101)])
    assert _one(sma_delta_50_200(df, out="s"), "s") is None


def test_sma_delta_all_zero_is_zero(spark):
    # ref test_features.py:162-168: all-zero SMA -> 0.0
    from dvmax_spark.features.price import sma_delta_50_200

    base = datetime.date(2023, 1, 1)
    rows = [(str(base + datetime.timedelta(days=i)), 0.0) for i in range(220)]
    df = _prices(spark, rows)
    assert _one(sma_delta_50_200(df, out="s"), "s") == 0.0


def test_cagr_basic(spark):
    # ref test_compute_cagr_basic: eps 2->4 over 3y => (4/2)^(1/3)-1
    from dvmax_spark.features.growth import cagr_generic

    df = spark.createDataFrame(
        [
            ("T", datetime.date(2021, 1, 1), 2.0),
            ("T", datetime.date(2022, 1, 1), 2.5),
            ("T", datetime.date(2023, 1, 1), 3.0),
            ("T", datetime.date(2024, 1, 1), 4.0),
        ],
        "ticker string, date date, eps double",
    )
    out = cagr_generic(df, "eps", 3, out="c")
    assert _one(out, "c") == pytest.approx((4.0 / 2.0) ** (1 / 3) - 1, rel=1e-4)


def test_cagr_insufficient_data_null(spark):
    from dvmax_spark.features.growth import cagr_generic

    df = spark.createDataFrame(
        [("T", datetime.date(2024, 1, 1), 2.0)], "ticker string, date date, eps double"
    )
    assert _one(cagr_generic(df, "eps", 3, out="c"), "c") is None


def test_cagr_grace_window_miss_null(spark):
    # ref: looking back 5y to 2019 but earliest point 2022 => NaN
    from dvmax_spark.features.growth import cagr_generic

    df = spark.createDataFrame(
        [
            ("T", datetime.date(2022, 1, 1), 2.0),
            ("T", datetime.date(2023, 1, 1), 2.5),
            ("T", datetime.date(2024, 1, 1), 3.0),
        ],
        "ticker string, date date, eps double",
    )
    assert _one(cagr_generic(df, "eps", 5, out="c"), "c") is None


def test_dividend_cagr_with_grace_months(spark):
    # ref test_compute_dividend_cagr_basic: 1.0 -> 2.0 over 5y (grace 3mo)
    from dvmax_spark.features.growth import dividend_cagr

    df = spark.createDataFrame(
        [
            ("T", datetime.date(2019, 1, 1), 1.0),
            ("T", datetime.date(2020, 1, 1), 1.1),
            ("T", datetime.date(2024, 1, 1), 2.0),
        ],
        "ticker string, date date, dividend double",
    )
    empty_splits = spark.createDataFrame(
        [], "ticker string, date date, split_ratio double"
    )
    out = dividend_cagr(df, empty_splits, years=5)
    assert _one(out, "dividend_cagr_5y") == pytest.approx((2.0) ** (1 / 5) - 1, rel=1e-4)


def test_split_adjustment(spark):
    # 2:1 split on 2023-01-01 halves values from that date backward? No —
    # backward cumulative semantics: values AT/AFTER the split date are
    # divided by the cumulative ratio (utils.py:49-69)
    from dvmax_spark.features.tsutils import adjust_series_for_splits

    df = spark.createDataFrame(
        [
            ("T", datetime.date(2022, 6, 1), 2.0),
            ("T", datetime.date(2023, 6, 1), 2.2),
        ],
        "ticker string, date date, dividend double",
    )
    splits = spark.createDataFrame(
        [("T", datetime.date(2023, 1, 1), 2.0)], "ticker string, date date, split_ratio double"
    )
    out = adjust_series_for_splits(df, splits, "dividend").orderBy("date").collect()
    assert out[0]["dividend"] == pytest.approx(2.0)  # before split: factor 1
    assert out[1]["dividend"] == pytest.approx(1.1)  # after split: /2


def test_ebit_interest_cover_cap_and_flags(spark):
    from dvmax_spark.features.fundamental import ebit_interest_cover

    df = spark.createDataFrame(
        [
            ("T", datetime.date(2024, 1, 1), 100.0, 10.0),   # raw 10, below cap
            ("U", datetime.date(2024, 1, 1), 5000.0, 1.0),   # raw 5000 -> inf, capped
            ("V", datetime.date(2024, 1, 1), 100.0, 0.0),    # interest 0 -> null raw
        ],
        "ticker string, date date, operatingIncome double, interestExpense double",
    )
    rows = {r["ticker"]: r for r in ebit_interest_cover(df).collect()}
    assert rows["T"]["ebit_interest_cover"] == pytest.approx(10.0)
    assert rows["T"]["ebit_interest_cover_capped"] is False
    assert rows["U"]["ebit_interest_cover"] == float("inf")
    assert rows["U"]["ebit_interest_cover_capped"] is True
    assert rows["V"]["ebit_interest_cover_raw"] is None
    assert rows["V"]["ebit_interest_cover_capped"] is True


def test_yield_vs_median(spark):
    from dvmax_spark.features.dividend import yield_vs_median

    rows = [
        ("T", datetime.date(2020 + i, 1, 1), y)
        for i, y in enumerate([0.02, 0.03, 0.04, 0.03, 0.05])
    ]
    df = spark.createDataFrame(rows, "ticker string, date date, dividendYield double")
    out = yield_vs_median(df, lookback_years=5, out="y")
    # median of [0.02,0.03,0.04,0.03,0.05] = 0.03; current 0.05
    assert _one(out, "y") == pytest.approx((0.05 - 0.03) / 0.03, rel=1e-6)


def test_latest_pe_pfcf_fallback_zero(spark):
    from dvmax_spark.features.valuation import latest_pe_pfcf

    df = spark.createDataFrame(
        [("T", datetime.date(2024, 1, 1), -1.0, -2.0)],
        "ticker string, date date, priceEarningsRatio double, priceToFreeCashFlowsRatio double",
    )
    row = latest_pe_pfcf(df).collect()[0]
    assert row["pe_ratio"] == 0.0 and row["pfcf_ratio"] == 0.0


def test_static_one_hot(spark):
    from dvmax_spark.features.static import encode_static

    df = spark.createDataFrame(
        [
            ("T", "Technology", "USA"),
            ("U", "Quantum Farming", "Atlantis"),
            ("V", "Energy", "Japan"),
        ],
        "ticker string, sector string, country string",
    )
    out = {r["ticker"]: r.asDict() for r in encode_static(df).collect()}
    # reference quirk mirrored: Technology -> 'Information Technology'
    # rewrite lands OUTSIDE the vocab => sector_other
    assert out["T"]["sector_technology"] == 0
    assert out["T"]["sector_other"] == 1
    assert out["T"]["country_usa"] == 1
    assert out["V"]["sector_energy"] == 1
    assert out["V"]["sector_other"] == 0
    assert out["V"]["country_japan"] == 1
    assert out["U"]["sector_other"] == 1
    assert out["U"]["country_other"] == 1


def test_ewma_fixed_horizon_matches_sequential_reference(spark):
    """ewma_fixed_horizon == a sequential Python reference (truncated
    exponential weights, partial-window renormalization, floor div)
    on a series longer than the horizon, incl. the short head."""
    from dvmax_spark.features.price import ewma_fixed_horizon

    vals = [(i * 7919) % 1000 + 1 for i in range(40)]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "k long, t long, cents long"
    )
    out = {
        r["t"]: r["ewma_cents"]
        for r in ewma_fixed_horizon(df, F.col("cents"), "k", ("t",)).collect()
    }
    W = [1 * 3**j * 4 ** (15 - j) for j in range(16)]
    for t in range(len(vals)):
        avail = min(t + 1, 16)
        num = sum(W[j] * vals[t - j] for j in range(avail))
        den = sum(W[:avail])
        assert out[t] == num // den, f"t={t}"


def test_ewma_fixed_horizon_no_overflow_at_max_money(spark):
    """Max representable order value (tens of millions of cents) times
    the full weight sum must not overflow BIGINT — regression for the
    int32 weight-literal bug found in review."""
    from dvmax_spark.features.price import ewma_fixed_horizon

    df = spark.createDataFrame(
        [(1, i, 50_000_000) for i in range(20)], "k long, t long, cents long"
    )
    rows = ewma_fixed_horizon(df, F.col("cents"), "k", ("t",)).collect()
    assert all(r["ewma_cents"] == 50_000_000 for r in rows)


def test_tfidf_cosine_ignores_corpus_wide_boilerplate(spark):
    """Docs overlapping ONLY in a token present in every document get
    no pair (idf 0 drops it from every vector); docs sharing their
    rare content tokens pair with cos ~ 1."""
    from dvmax_spark.ext.retrieval import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "the alpha beta"),
            (2, "the alpha beta"),
            (3, "the gamma delta"),
            (4, "the epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, threshold=0.5).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == 1.0


def test_ewma_fixed_horizon_null_values_contribute_no_weight(spark):
    """A null value drops its weight from BOTH num and den (the EWMA of
    the remaining reachable values, renormalized); a row whose whole
    window is null yields null rather than dividing by zero. Pins the
    engine-parity semantics of the SQL twin's coalesce on every term
    including lag 0."""
    from dvmax_spark.features.price import ewma_fixed_horizon

    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, 100), (1, 2, None), (1, 3, 300)],
        "k long, t long, cents long",
    )
    out = {
        r["t"]: r["ewma_cents"]
        for r in ewma_fixed_horizon(df, F.col("cents"), "k", ("t",)).collect()
    }
    W = [1 * 3**j * 4 ** (15 - j) for j in range(16)]
    assert out[0] is None  # only the null row in reach
    assert out[1] == 100  # single value
    assert out[2] == 100  # lag-1 value only (own row null)
    assert out[3] == (W[0] * 300 + W[2] * 100) // (W[0] + W[2])


# ------------------------------------------------- feature table parity


def e2e_feature_inputs(spark) -> dict:
    """The two-ticker inputs of test_build_feature_table_end_to_end
    (as_of 2024-01-02), with the sector benchmark and mapping."""
    import pandas as pd

    days = pd.bdate_range("2022-01-03", "2024-01-02")
    years = [2020, 2021, 2022, 2023]
    return {
        "prices": spark.createDataFrame(
            [
                (t, d.date(), 100.0 + i * 0.05 + (5.0 if t == "B" else 0.0))
                for t in ("A", "B")
                for i, d in enumerate(days)
            ],
            "ticker string, date date, close double",
        ),
        "ratios": spark.createDataFrame(
            [
                (t, datetime.date(y, 12, 30), 15.0 + i, 20.0 + i, 0.4, 0.03 + 0.002 * i, 2.0 + 0.2 * i)
                for t in ("A", "B")
                for i, y in enumerate(years)
            ],
            "ticker string, date date, priceEarningsRatio double, "
            "priceToFreeCashFlowsRatio double, payoutRatio double, "
            "dividendYield double, freeCashFlowPerShare double",
        ),
        "income": spark.createDataFrame(
            [
                (t, datetime.date(y, 12, 30), 2.0 + 0.5 * i, 100.0, 10.0, 20.0, 500.0)
                for t in ("A", "B")
                for i, y in enumerate(years)
            ],
            "ticker string, date date, eps double, operatingIncome double, "
            "interestExpense double, depreciationAndAmortization double, incomeBeforeTax double",
        ),
        "balance": spark.createDataFrame(
            [(t, datetime.date(y, 12, 30), 1000.0, 300.0) for t in ("A", "B") for y in years],
            "ticker string, date date, totalDebt double, cashAndShortTermInvestments double",
        ),
        "dividends": spark.createDataFrame(
            [
                (t, datetime.date(y, 6, 1), 1.0 + 0.1 * i)
                for t in ("A", "B")
                for i, y in enumerate([2018, 2019, 2020, 2021, 2022, 2023])
            ],
            "ticker string, date date, dividend double",
        ),
        "splits": spark.createDataFrame([], "ticker string, date date, split_ratio double"),
        "profile": spark.createDataFrame(
            [("A", "Energy", "USA"), ("B", "Healthcare", "Japan")],
            "ticker string, sector string, country string",
        ),
        "sector_index": spark.createDataFrame(
            [("XLE", d.date(), 50.0 + i * 0.01) for i, d in enumerate(days)]
            + [("XLV", d.date(), 80.0 + i * 0.02) for i, d in enumerate(days)],
            "sector_etf string, date date, close double",
        ),
        "sector_map": spark.createDataFrame(
            [("A", "XLE"), ("B", "XLV")], "ticker string, sector_etf string"
        ),
    }


def multi_ticker_inputs(spark, sector: bool) -> dict:
    """Four tickers at as_of 2024-01-02 that reach the edge cases:
      * A — full history, a 2:1 split inside its dividend series;
      * S — 120 price rows (SMA null, no 12m past), one row in each
        statement table, and a 3:1 split;
      * N — payout never positive, P/E negative in the latest years, a
        zero dividend at the start of its 5y window;
      * P — prices only (every other table misses it), no sector mapping.
    """
    import math

    import pandas as pd

    days = pd.bdate_range("2020-06-01", "2024-01-05")  # rows past as_of are cut
    series = {
        "A": (days, lambda i: 100.0 + 12.0 * math.sin(i / 23.0) + 0.03 * i),
        "S": (days[-123:], lambda i: 40.0 + 3.0 * math.cos(i / 7.0)),
        "N": (days, lambda i: 60.0 + 9.0 * math.sin(i / 51.0) - 0.01 * i),
        "P": (days, lambda i: 25.0 + 0.5 * math.sin(i / 3.0) + 0.002 * i),
    }
    prices = [
        (t, d.date(), round(f(i), 4)) for t, (ds, f) in series.items() for i, d in enumerate(ds)
    ]
    years = range(2017, 2024)
    ratios = [
        ("A", datetime.date(y, 12, 30), 12.0 + i, 18.0 + 0.5 * i, 0.3 + 0.02 * i,
         0.02 + 0.003 * (i % 3), 1.5 * 1.1**i)
        for i, y in enumerate(years)
    ] + [
        ("N", datetime.date(y, 12, 30), 20.0 - 5.0 * i, 25.0 - i, -0.1 if i % 2 else None,
         0.05 - 0.004 * i, 3.0 - 0.2 * i)
        for i, y in enumerate(years)
    ] + [("S", datetime.date(2023, 12, 30), 30.0, 40.0, 0.5, 0.04, 2.0)]
    income = [
        (t, datetime.date(y, 12, 30), base + 0.3 * i, 120.0 + i, 8.0 + (i % 3), 15.0, 400.0 - 10 * i)
        for t, base in (("A", 1.0), ("N", 2.5))
        for i, y in enumerate(years)
    ] + [("S", datetime.date(2023, 12, 30), 1.2, 50.0, 0.0, 5.0, 45.0)]
    # balance misses A's first two years: eps_cagr must still see them
    balance = [
        (t, datetime.date(y, 12, 30), 900.0 + 10 * i, 250.0)
        for t in ("A", "N")
        for i, y in enumerate(years)
        if not (t == "A" and y < 2019)
    ] + [("S", datetime.date(2023, 12, 30), 100.0, 100.0)]
    dividends = [
        ("A", datetime.date(y, m, 15), round(0.5 + 0.02 * i, 4))
        for i, (y, m) in enumerate((y, m) for y in range(2016, 2024) for m in (3, 6, 9, 12))
    ] + [
        ("N", datetime.date(y, 6, 1), 0.0 if y == 2018 else 1.0 + 0.05 * (y - 2016))
        for y in range(2016, 2024)
    ] + [("S", datetime.date(2023, 11, 1), 0.4)]
    out = {
        "prices": spark.createDataFrame(prices, "ticker string, date date, close double"),
        "ratios": spark.createDataFrame(
            ratios,
            "ticker string, date date, priceEarningsRatio double, "
            "priceToFreeCashFlowsRatio double, payoutRatio double, "
            "dividendYield double, freeCashFlowPerShare double",
        ),
        "income": spark.createDataFrame(
            income,
            "ticker string, date date, eps double, operatingIncome double, "
            "interestExpense double, depreciationAndAmortization double, incomeBeforeTax double",
        ),
        "balance": spark.createDataFrame(
            balance,
            "ticker string, date date, totalDebt double, cashAndShortTermInvestments double",
        ),
        "dividends": spark.createDataFrame(dividends, "ticker string, date date, dividend double"),
        "splits": spark.createDataFrame(
            [("A", datetime.date(2021, 6, 1), 2.0), ("S", datetime.date(2023, 6, 1), 3.0)],
            "ticker string, date date, split_ratio double",
        ),
        "profile": spark.createDataFrame(
            [("A", "Energy", "USA"), ("S", "Utilities", "UK"), ("N", "Healthcare", "Japan"),
             ("P", "Technology", "USA")],
            "ticker string, sector string, country string",
        ),
        "sector_index": None,
    }
    if sector:
        out["sector_index"] = spark.createDataFrame(
            [(e, d.date(), round(b + 0.02 * i + math.sin(i / 11.0), 4))
             for e, b in (("XLE", 50.0), ("XLV", 80.0))
             for i, d in enumerate(days)],
            "sector_etf string, date date, close double",
        )
        out["sector_map"] = spark.createDataFrame(
            [("A", "XLE"), ("S", "XLV"), ("N", "XLE")], "ticker string, sector_etf string"
        )
    return out


def _reference_feature_table(inputs: dict, as_of, by: str = "ticker"):
    """The per-feature composition: one frame per feature from the public
    feature functions, left-joined one after another onto the price
    tickers, then the has_* and validation columns."""
    from functools import reduce

    from dvmax_spark.features.assemble import NULLABLE_KEYS, _cut, _latest_fundamentals
    from dvmax_spark.features.dividend import yield_vs_median
    from dvmax_spark.features.growth import dividend_cagr, eps_cagr, fcf_cagr
    from dvmax_spark.features.price import (
        max_drawdown_feature,
        payout_ratio,
        return_over_period,
        sector_relative_return,
        sma_delta_50_200,
        volatility,
    )
    from dvmax_spark.features.valuation import latest_pe_pfcf
    from dvmax_spark.features.validation_profile import validate_dynamic_rows

    t = {k: _cut(v, as_of) for k, v in inputs.items() if v is not None and k != "sector_map"}
    prices, ratios, income, dividends, splits = (
        t["prices"], t["ratios"], t["income"], t["dividends"], t["splits"]
    )
    parts = [
        return_over_period(prices, as_of, months=6, by=by, out="6m_return"),
        return_over_period(prices, as_of, months=12, by=by, out="12m_return"),
        volatility(prices, by=by, out="volatility"),
        max_drawdown_feature(prices, lookback_years=1, by=by, out="max_drawdown_1y"),
        sma_delta_50_200(prices, by=by, out="sma_50_200_delta"),
        _latest_fundamentals(income, t["balance"], by),
        eps_cagr(income, 3, by=by),
        fcf_cagr(ratios, 3, by=by),
        ratios.groupBy(by).agg(F.max_by("dividendYield", "date").alias("dividend_yield")),
        dividend_cagr(dividends, splits, 3, by=by),
        dividend_cagr(dividends, splits, 5, by=by),
        yield_vs_median(ratios, 5, by=by, out="yield_vs_5y_median"),
        latest_pe_pfcf(ratios, by=by),
        payout_ratio(ratios, by=by, out="payout_ratio"),
    ]
    if "sector_index" in t:
        parts.append(
            sector_relative_return(
                prices, t["sector_index"], lookback_days=365, as_of=as_of, by=by,
                mapping=inputs.get("sector_map"), out="sector_relative_6m",
            )
        )
    dynamic = reduce(lambda acc, p: acc.join(p, by, "left"), parts, prices.select(by).distinct())
    if "sector_index" not in t:
        dynamic = dynamic.withColumn("sector_relative_6m", F.lit(None).cast("double"))
    dynamic = dynamic.withColumn("as_of", F.lit(as_of).cast("date"))
    for key in NULLABLE_KEYS:
        c = F.col(key).cast("double")
        dynamic = dynamic.withColumn(
            f"has_{key}", F.when(c.isNull() | F.isnan(c), F.lit(0)).otherwise(F.lit(1))
        )
    return validate_dynamic_rows(dynamic, by=by)


# summed in a plan-dependent order, so equal only to the last bits
_AVERAGED = {"volatility", "sma_50_200_delta"}


def _same(a, b, col) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if a != a or b != b:
            return a != a and b != b
        if col in _AVERAGED:
            return a == pytest.approx(b, rel=1e-12)
    return a == b


@pytest.mark.parametrize("case", ["e2e", "multi", "multi_sector"])
def test_feature_table_matches_per_feature_composition(spark, case):
    """build_feature_table (one aggregate per source table) equals the
    per-feature frames joined one by one: same schema, same rows, every
    value equal (averaged columns to rel 1e-12)."""
    from dvmax_spark.features.assemble import build_feature_table

    as_of = datetime.date(2024, 1, 2)
    inputs = (
        e2e_feature_inputs(spark)
        if case == "e2e"
        else multi_ticker_inputs(spark, sector=case == "multi_sector")
    )
    got_df, _ = build_feature_table(inputs, as_of)
    want_df = _reference_feature_table(inputs, as_of)
    assert got_df.dtypes == want_df.dtypes
    got = {r["ticker"]: r.asDict() for r in got_df.collect()}
    want = {r["ticker"]: r.asDict() for r in want_df.collect()}
    assert set(got) == set(want) == set(inputs["profile"].toPandas()["ticker"])
    bad = [
        (t, c, got[t][c], want[t][c])
        for t in want
        for c in want[t]
        if not _same(got[t][c], want[t][c], c)
    ]
    assert not bad, bad
    if case != "e2e":
        # the inputs reach the edge cases they were built for
        assert want["S"]["sma_50_200_delta"] is None
        assert want["N"]["payout_ratio"] == 0.0
        assert want["P"]["eps_cagr_3y"] is None and want["P"]["has_dividend_yield"] == 0
        assert want["A"]["dividend_cagr_3y"] is not None
