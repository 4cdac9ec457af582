"""Dividend features (reference `engineering/dividend_features.py`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dvmax_spark.features.aggspec import FeatureAgg, feature_frame, last_where


def dividend_yield_agg(out: str = "dividend_yield", date_col: str = "date") -> FeatureAgg:
    """The latest dividendYield (ref ticker_row_builder.py, safe_get on
    the last ratios row)."""
    last = "_dividendYield_last"
    return FeatureAgg(
        aggs={last: F.max_by("dividendYield", date_col)}, finals={out: F.col(last)}
    )


def yield_vs_median_agg(
    lookback_years: int = 5,
    grace_days: int = 90,
    by: str = "ticker",
    out: str = "yield_vs_median",
    date_col: str = "date",
    value_col: str = "dividendYield",
) -> FeatureAgg:
    """(current - median)/median of positive yields within
    [end - lookback_years - grace, end] per key (ref
    compute_yield_vs_median, dividend_features.py:5-31):

      * current = last positive yield in the window;
      * median over the same filtered window (exact);
      * 0.0 when median == 0; null when <2 rows (of any kind) or the
        window holds no positive yield.

    Year shift uses add_months(-12*y) (ref uses date.replace(year-y),
    which is identical except on Feb 29 where replace() raises —
    SURVEY §7 calendar note).
    """
    end, v = F.col("_end"), F.col(value_col)
    lower = F.date_sub(F.add_months(end, -12 * lookback_years), grace_days)
    d = F.col(date_col)
    in_window = (d >= lower) & (d <= end) & v.isNotNull() & (v > 0)
    cur, med = f"_{out}_cur", f"_{out}_med"
    val = (
        F.when(F.col("_n") < 2, F.lit(None))
        .when(F.col(cur).isNull(), F.lit(None))
        .when(F.col(med) == 0, F.lit(0.0))
        .otherwise((F.col(cur) - F.col(med)) / F.col(med))
    )
    return FeatureAgg(
        pre=({"_end": F.max(date_col).over(Window.partitionBy(by))},),
        aggs={
            cur: last_where(in_window, value_col, date_col),
            med: F.median(F.when(in_window, v)),
            "_n": F.count(F.lit(1)),
        },
        finals={out: val},
    )


def yield_vs_median(
    ratios: DataFrame,
    lookback_years: int = 5,
    grace_days: int = 90,
    by: str = "ticker",
    out: str = "yield_vs_median",
    date_col: str = "date",
    value_col: str = "dividendYield",
) -> DataFrame:
    return feature_frame(
        ratios,
        by,
        yield_vs_median_agg(lookback_years, grace_days, by, out, date_col, value_col),
    )
