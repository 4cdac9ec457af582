"""Growth features: grace-window lookups and the CAGR family
(reference `engineering/growth_features.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvmax_spark.features.aggspec import FeatureAgg, feature_frame
from dvmax_spark.features.tsutils import adjust_series_for_splits


def value_near_date(
    df: DataFrame,
    column: str,
    target,
    grace_days: int | None = None,
    grace_months: int | None = None,
    by: str = "ticker",
    date_col: str = "date",
) -> DataFrame:
    """LAST value within [target-grace, target+grace] per key (ref
    find_value_near_date, growth_features.py:10-27 — last-in-window,
    not nearest: SURVEY §7 grace-window endpoint semantics)."""
    t = F.lit(target).cast("date")
    if grace_days is not None:
        lower, upper = F.date_sub(t, grace_days), F.date_add(t, grace_days)
    elif grace_months is not None:
        lower, upper = F.add_months(t, -grace_months), F.add_months(t, grace_months)
    else:
        raise ValueError("specify grace_days or grace_months")
    windowed = df.where(F.col(date_col).between(lower, upper))
    return windowed.groupBy(by).agg(F.max_by(column, date_col).alias(column))


def cagr_agg(
    column: str,
    years: int,
    grace_days: int | None = 90,
    grace_months: int | None = None,
    out: str | None = None,
    date_col: str = "date",
) -> FeatureAgg:
    """(end/start)^(1/years) - 1 per key (ref compute_cagr_generic,
    growth_features.py:30-56):

      * end = value at the per-key max date;
      * start = LAST value within the grace window around
        (end_date - 365*years days);
      * null (ref NaN) when <2 rows, grace window empty, or either
        endpoint <= 0.

    One groupBy computes both endpoints — the grace-window membership
    depends on the per-key end date, so the rows are collected and the
    window is applied to the collected array (no second shuffle, no
    join). The aggregates depend only on ``column``, so CAGRs of one
    column over several horizons share them."""
    out = out or f"{column}_cagr_{years}y"
    end_date, end_val, rows = f"_max_{date_col}", f"_{column}_last", f"_{column}_rows"
    # start target = end_date - 365*years (ref uses timedelta days, not
    # calendar years)
    target = F.date_sub(F.col(end_date), 365 * years)
    if grace_days is not None and grace_months is None:
        lower, upper = F.date_sub(target, grace_days), F.date_add(target, grace_days)
    else:
        lower, upper = (
            F.add_months(target, -int(grace_months)),
            F.add_months(target, int(grace_months)),
        )
    # last (max-date) row within [lower, upper] from the collected rows:
    # per-key data here is small (annual statements, dividend events);
    # array reduction avoids a second aggregation pass. For very long
    # per-key series use value_near_date + join instead.
    in_win = F.filter(F.col(rows), lambda r: (r["d"] >= lower) & (r["d"] <= upper))
    start_val = F.array_max(F.transform(in_win, lambda r: F.struct(r["d"].alias("d"), r["v"].alias("v"))))["v"]
    cagr = F.when(
        (F.col("_n") >= 2)
        & start_val.isNotNull()
        & (start_val > 0)
        & F.col(end_val).isNotNull()
        & (F.col(end_val) > 0),
        F.pow(F.col(end_val) / start_val, 1.0 / years) - 1,
    )
    return FeatureAgg(
        aggs={
            "_n": F.count(F.lit(1)),
            end_date: F.max(date_col),
            end_val: F.max_by(column, date_col),
            rows: F.collect_list(
                F.struct(F.col(date_col).alias("d"), F.col(column).alias("v"))
            ),
        },
        finals={out: cagr},
    )


def cagr_generic(
    df: DataFrame,
    column: str,
    years: int,
    grace_days: int | None = 90,
    grace_months: int | None = None,
    by: str = "ticker",
    out: str | None = None,
    date_col: str = "date",
) -> DataFrame:
    return feature_frame(df, by, cagr_agg(column, years, grace_days, grace_months, out, date_col))


def eps_cagr_agg(years: int) -> FeatureAgg:
    """ref compute_eps_cagr (growth_features.py:78-79)."""
    return cagr_agg("eps", years, out=f"eps_cagr_{years}y")


def eps_cagr(income: DataFrame, years: int, by: str = "ticker") -> DataFrame:
    return feature_frame(income, by, eps_cagr_agg(years))


def fcf_cagr_agg(columns, years: int) -> FeatureAgg:
    """ref compute_fcf_cagr (growth_features.py:82-91): prefers
    freeCashFlowPerShare, falls back to fcf; null if neither of them is
    in ``columns``."""
    out = f"fcf_cagr_{years}y"
    for col in ("freeCashFlowPerShare", "fcf"):
        if col in columns:
            return cagr_agg(col, years, out=out)
    return FeatureAgg(aggs={"_n": F.count(F.lit(1))}, finals={out: F.lit(None).cast("double")})


def fcf_cagr(df: DataFrame, years: int, by: str = "ticker") -> DataFrame:
    return feature_frame(df, by, fcf_cagr_agg(df.columns, years))


def dividend_cagr_agg(years: int, grace_months: int = 3) -> FeatureAgg:
    """ref compute_dividend_cagr (growth_features.py:60-75): CAGR of the
    split-adjusted dividend series with a grace window in months."""
    return cagr_agg(
        "dividend",
        years,
        grace_days=None,
        grace_months=grace_months,
        out=f"dividend_cagr_{years}y",
    )


def dividend_cagr(
    dividends: DataFrame,
    splits: DataFrame,
    years: int,
    grace_months: int = 3,
    by: str = "ticker",
) -> DataFrame:
    """Split-adjust the dividend series (backward cum-product), then
    :func:`dividend_cagr_agg`."""
    adjusted = adjust_series_for_splits(dividends, splits, "dividend", by=by)
    return feature_frame(adjusted, by, dividend_cagr_agg(years, grace_months))
