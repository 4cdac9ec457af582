"""Feature-row assembly: the reference's per-ticker build loop
(`ticker_row_builder.py:26-97`) as ONE distributed plan over all
tickers (SURVEY §7 step 4: "the per-ticker feature row as one
groupBy plan, not a Python loop").

Each source table is scanned and aggregated once. Every feature's math
lives in its own module as a ``*_agg`` expression set
(:mod:`dvmax_spark.features.aggspec`); here the sets that read the same
table are evaluated together:

  * prices     — one ``Window.partitionBy(ticker)`` pass + one
                 ``groupBy(ticker)``: 6m/12m returns, volatility, 1y max
                 drawdown, SMA 50/200 delta, the stock side of
                 ``sector_relative_6m``; its keys are the ticker base;
  * ratios     — one per-key end-date window + one ``groupBy``:
                 dividend yield, FCF CAGR, yield vs 5y median, P/E and
                 P/FCF, payout ratio;
  * income     — one ``groupBy``: EPS CAGR (over ALL income rows);
  * income⋈balance — one ``groupBy``: the latest fundamentals;
  * dividends  — split-adjusted once, one ``groupBy``: the 3y and 5y
                 dividend CAGRs.

The five per-table frames are left-joined on the ticker (all are
partitioned by it, so the joins add no shuffle), and the has_* flags
and the validation rules are projected in single selects.

Input: the eight per-ticker source tables (each carrying a `ticker`
column). Output: (dynamic_df, static_df) — one row per ticker with the
reference's 28-column dynamic schema and the one-hot static schema —
plus validation status/violations via the declarative rule compiler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvmax_spark.features.aggspec import aggregate_features, feature_frame, final_columns
from dvmax_spark.features.dividend import dividend_yield_agg, yield_vs_median_agg
from dvmax_spark.features.fundamental import ebit_interest_cover, net_debt_to_ebitda
from dvmax_spark.features.growth import dividend_cagr_agg, eps_cagr_agg, fcf_cagr_agg
from dvmax_spark.features.price import (
    join_benchmark,
    max_drawdown_agg,
    payout_ratio_agg,
    return_agg,
    sector_relative_agg,
    sma_delta_agg,
    volatility_agg,
)
from dvmax_spark.features.static import encode_static
from dvmax_spark.features.tsutils import adjust_series_for_splits
from dvmax_spark.features.valuation import pe_pfcf_agg
from dvmax_spark.features.validation_profile import validate_dynamic_rows

NULLABLE_KEYS = [
    "eps_cagr_3y",
    "fcf_cagr_3y",
    "dividend_yield",
    "dividend_cagr_3y",
    "dividend_cagr_5y",
    "ebit_interest_cover",
]

# the dynamic store schema's feature columns, in order
FEATURE_COLUMNS = [
    "6m_return",
    "12m_return",
    "volatility",
    "max_drawdown_1y",
    "sma_50_200_delta",
    "net_debt_to_ebitda",
    "ebit_interest_cover",
    "ebit_interest_cover_capped",
    "ebitda",
    "interest_expense",
    "eps_cagr_3y",
    "fcf_cagr_3y",
    "dividend_yield",
    "dividend_cagr_3y",
    "dividend_cagr_5y",
    "yield_vs_5y_median",
    "pe_ratio",
    "pfcf_ratio",
    "payout_ratio",
    "sector_relative_6m",
]


def _cut(df: DataFrame, as_of) -> DataFrame:
    """Point-in-time cut (ticker_row_builder.py:27-31)."""
    if "date" in df.columns:
        return df.where(F.col("date") <= F.lit(as_of).cast("date"))
    return df


def _latest_fundamentals(income: DataFrame, balance: DataFrame, by: str) -> DataFrame:
    """income ⋈ balance on (ticker, date); the latest row per ticker
    carries the ratios (ticker_row_builder.py:42, safe_get)."""
    fundamentals = income.join(balance, [by, "date"], "inner")
    fundamentals = net_debt_to_ebitda(fundamentals)
    fundamentals = ebit_interest_cover(fundamentals)
    return fundamentals.groupBy(by).agg(
        F.max_by("net_debt_to_ebitda", "date").alias("net_debt_to_ebitda"),
        F.max_by("ebit_interest_cover", "date").alias("ebit_interest_cover"),
        F.max_by("ebit_interest_cover_capped", "date").alias("ebit_interest_cover_capped"),
        F.max_by("ebitda", "date").alias("ebitda"),
        F.max_by(
            F.col("interestExpense") if "interestExpense" in fundamentals.columns else F.lit(None),
            "date",
        ).alias("interest_expense"),
    )


def build_feature_table(
    inputs: dict[str, DataFrame], as_of, by: str = "ticker"
) -> tuple[DataFrame, DataFrame]:
    """Build (dynamic, static) feature frames for every ticker at once.

    ``inputs`` keys (mirroring fetch_all_per_ticker):
      prices, dividends, splits, ratios, income, balance, profile,
      sector_index (benchmark closes keyed by sector_etf) + optional
      sector_map (ticker -> sector_etf).
    """
    prices = _cut(inputs["prices"], as_of)
    dividends = _cut(inputs["dividends"], as_of)
    splits = _cut(inputs["splits"], as_of)
    ratios = _cut(inputs["ratios"], as_of)
    income = _cut(inputs["income"], as_of)
    balance = _cut(inputs["balance"], as_of)
    sector_index = _cut(inputs["sector_index"], as_of) if inputs.get("sector_index") is not None else None

    price_feats = [
        return_agg(as_of, months=6, out="6m_return"),
        return_agg(as_of, months=12, out="12m_return"),
        volatility_agg(by=by, out="volatility"),
        max_drawdown_agg(lookback_years=1, by=by, out="max_drawdown_1y"),
        sma_delta_agg(by=by, out="sma_50_200_delta"),
    ]
    if sector_index is not None:
        price_feats.append(sector_relative_agg(365, as_of, out="sector_relative_6m"))
    price_agg = aggregate_features(prices, by, *price_feats)
    if sector_index is not None:
        price_agg = join_benchmark(
            price_agg, sector_index, 365, as_of, by=by,
            mapping=inputs.get("sector_map"), out="sector_relative_6m",
        )
    parts = [
        price_agg.select(by, *final_columns(*price_feats)),
        _latest_fundamentals(income, balance, by),
        feature_frame(income, by, eps_cagr_agg(3)),
        feature_frame(
            ratios,
            by,
            fcf_cagr_agg(ratios.columns, 3),
            dividend_yield_agg(),
            yield_vs_median_agg(5, by=by, out="yield_vs_5y_median"),
            pe_pfcf_agg(),
            payout_ratio_agg(),
        ),
        feature_frame(
            adjust_series_for_splits(dividends, splits, "dividend", by=by),
            by,
            dividend_cagr_agg(3),
            dividend_cagr_agg(5),
        ),
    ]
    joined = parts[0]
    for p in parts[1:]:
        joined = joined.join(p, by, "left")

    # has_* flags (ticker_row_builder.py:20-23, 79-84): 1 iff present
    # and not NaN — computed BEFORE NaN normalization (SURVEY §7)
    def has(key: str):
        c = F.col(key).cast("double")
        return F.when(c.isNull() | F.isnan(c), F.lit(0)).otherwise(F.lit(1)).alias(f"has_{key}")

    dynamic = joined.select(
        by,
        *(
            F.col(c) if c in joined.columns else F.lit(None).cast("double").alias(c)
            for c in FEATURE_COLUMNS
        ),
        F.lit(as_of).cast("date").alias("as_of"),
        *(has(k) for k in NULLABLE_KEYS),
    )
    dynamic = validate_dynamic_rows(dynamic, by=by)

    static = encode_static(inputs["profile"], sector_col="sector", country_col="country")
    return dynamic, static
