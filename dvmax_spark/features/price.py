"""Price-series features (reference `engineering/price_features.py`).

Each feature is a ``*_agg`` :class:`FeatureAgg` (its math, once) and a
public function that evaluates it alone, one row per key; the feature
assembly evaluates the same expressions together, one aggregate per
source table. Reference guard behaviors are kept exactly: 0.0 (not
null) where the reference returns 0.0 on missing data, null where it
returns NaN.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dvmax_spark.features.aggspec import (
    FeatureAgg,
    aggregate_features,
    feature_frame,
    final_columns,
    last_where,
)


def return_agg(
    as_of,
    months: int,
    out: str = "return",
    date_col: str = "date",
    value_col: str = "close",
) -> FeatureAgg:
    """(price_now - price_past)/price_past with nearest-<= lookups at
    the per-key last date and as_of - months (ref
    compute_return_over_period, price_features.py:9-27; month arithmetic
    = relativedelta ≡ add_months). Missing either endpoint => 0.0 (ref
    returns 0.0 on ValueError). Rows must already be cut at as_of."""
    past = F.col(date_col) <= F.add_months(F.lit(as_of).cast("date"), -months)
    now_c, past_c = f"_{value_col}_last", f"_{out}_past"
    ret = F.when(
        F.col(now_c).isNotNull() & F.col(past_c).isNotNull() & (F.col(past_c) != 0),
        (F.col(now_c) - F.col(past_c)) / F.col(past_c),
    ).otherwise(F.lit(0.0))
    return FeatureAgg(
        aggs={
            now_c: F.max_by(value_col, date_col),
            past_c: last_where(past, value_col, date_col),
        },
        finals={out: ret},
    )


def return_over_period(
    prices: DataFrame,
    as_of,
    months: int,
    by: str = "ticker",
    out: str = "return",
    date_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    """:func:`return_agg` over the rows at or before as_of."""
    eligible = prices.where(F.col(date_col) <= F.lit(as_of).cast("date"))
    return feature_frame(eligible, by, return_agg(as_of, months, out, date_col, value_col))


def volatility_agg(
    by: str = "ticker",
    out: str = "volatility",
    date_col: str = "date",
    value_col: str = "close",
    periods_per_year: int = 252,
) -> FeatureAgg:
    """Annualized stddev of daily simple returns (ref compute_volatility,
    price_features.py:38-45). <2 returns => 0.0 (ref: std of empty ->
    None -> 0.0)."""
    w = Window.partitionBy(by).orderBy(date_col)
    std = f"_{out}_std"
    return FeatureAgg(
        pre=({"_ret": F.col(value_col) / F.lag(value_col, 1).over(w) - 1},),
        aggs={std: F.stddev_samp("_ret")},
        finals={
            out: F.coalesce(
                F.col(std) * F.sqrt(F.lit(float(periods_per_year))), F.lit(0.0)
            )
        },
    )


def volatility(
    prices: DataFrame,
    by: str = "ticker",
    out: str = "volatility",
    date_col: str = "date",
    value_col: str = "close",
    periods_per_year: int = 252,
) -> DataFrame:
    return feature_frame(
        prices, by, volatility_agg(by, out, date_col, value_col, periods_per_year)
    )


def max_drawdown_agg(
    lookback_years: int,
    grace_days: int = 15,
    by: str = "ticker",
    out: str = "max_drawdown",
    date_col: str = "date",
    value_col: str = "close",
) -> FeatureAgg:
    """Max (peak-price)/peak over [end - 365*y - grace, end] per key
    (ref compute_max_drawdown, price_features.py:48-74 — the Python
    peak loop as window exprs). The running peak sees only rows inside
    the window. <2 rows in window => 0.0."""
    d = F.col(date_col)
    in_window = (d >= F.date_sub(F.col("_end"), 365 * lookback_years + grace_days)) & (
        d <= F.col("_end")
    )
    running = (
        Window.partitionBy(by)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peak, dd, n = f"_{out}_peak", f"_{out}_dd", f"_{out}_n"
    drop = F.when(
        in_window & (F.col(peak) != 0), (F.col(peak) - F.col(value_col)) / F.col(peak)
    )
    return FeatureAgg(
        pre=(
            {"_end": F.max(date_col).over(Window.partitionBy(by))},
            {peak: F.max(F.when(in_window, F.col(value_col))).over(running)},
        ),
        aggs={dd: F.max(drop), n: F.count(F.when(in_window, F.lit(1)))},
        finals={
            out: F.when(F.col(n) >= 2, F.coalesce(F.col(dd), F.lit(0.0))).otherwise(
                F.lit(0.0)
            )
        },
    )


def max_drawdown_feature(
    prices: DataFrame,
    lookback_years: int,
    grace_days: int = 15,
    by: str = "ticker",
    out: str = "max_drawdown",
    date_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    return feature_frame(
        prices,
        by,
        max_drawdown_agg(lookback_years, grace_days, by, out, date_col, value_col),
    )


def _in_lookback(as_of, lookback_days: int, date_col: str) -> Column:
    d, end = F.col(date_col), F.lit(as_of).cast("date")
    return (d >= F.date_sub(end, lookback_days)) & (d <= end)


def _period_ends(prefix: str, in_win: Column, date_col: str, value_col: str) -> dict[str, Column]:
    """First/last close and row count over the rows where ``in_win``."""
    v, d = F.when(in_win, F.col(value_col)), F.when(in_win, F.col(date_col))
    return {
        f"{prefix}_start": F.min_by(v, d),
        f"{prefix}_end": F.max_by(v, d),
        f"{prefix}_n": F.count(d),
    }


def sector_relative_agg(
    lookback_days: int,
    as_of,
    out: str = "sector_relative",
    date_col: str = "date",
    value_col: str = "close",
) -> FeatureAgg:
    """Stock return minus benchmark return over [as_of - lookback, as_of]
    (ref compute_sector_relative_return, price_features.py:78-106):
    first/last close each side, 0.0 on <2 rows or non-positive endpoints.
    The stock side is aggregated here; :func:`join_benchmark` adds the
    benchmark side before ``finals`` are read. Null for a key with no
    stock row in the window."""
    s, b = f"_{out}_s", f"_{out}_b"
    ok = (
        (F.col(f"{s}_n") >= 2)
        & (F.col(f"{b}_n") >= 2)
        & (F.col(f"{s}_start") > 0)
        & (F.col(f"{s}_end") > 0)
        & (F.col(f"{b}_start") > 0)
        & (F.col(f"{b}_end") > 0)
    )
    rel = (F.col(f"{s}_end") / F.col(f"{s}_start") - 1) - (
        F.col(f"{b}_end") / F.col(f"{b}_start") - 1
    )
    return FeatureAgg(
        aggs=_period_ends(s, _in_lookback(as_of, lookback_days, date_col), date_col, value_col),
        finals={out: F.when(F.col(f"{s}_n") > 0, F.when(ok, rel).otherwise(F.lit(0.0)))},
    )


def join_benchmark(
    stock_agg: DataFrame,
    benchmark: DataFrame,
    lookback_days: int,
    as_of,
    by: str = "ticker",
    bench_key: str = "sector_etf",
    mapping: DataFrame | None = None,
    out: str = "sector_relative",
    date_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    """Attach the benchmark side of :func:`sector_relative_agg` to a
    frame holding its stock-side aggregates. ``mapping`` (by, bench_key)
    joins each stock to its benchmark series (ref SECTOR_TO_ETF); omit
    it if ``benchmark`` already carries ``by``."""
    in_win = _in_lookback(as_of, lookback_days, date_col)
    ends = _period_ends(f"_{out}_b", in_win, date_col, value_col)
    b = benchmark.groupBy(bench_key).agg(*(c.alias(n) for n, c in ends.items()))
    if mapping is not None:
        stock_agg = stock_agg.join(F.broadcast(mapping), by, "left")
    if bench_key in stock_agg.columns:
        return stock_agg.join(F.broadcast(b), bench_key, "left")
    # every key against the one series; left, so an empty benchmark
    # reads as "<2 rows" (0.0) instead of dropping the keys
    return stock_agg.join(F.broadcast(b), F.lit(True), "left")


def sector_relative_return(
    stock: DataFrame,
    benchmark: DataFrame,
    lookback_days: int,
    as_of,
    by: str = "ticker",
    bench_key: str = "sector_etf",
    mapping: DataFrame | None = None,
    out: str = "sector_relative",
    date_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    """:func:`sector_relative_agg` for the keys with a stock row in the
    window."""
    feat = sector_relative_agg(lookback_days, as_of, out, date_col, value_col)
    s = aggregate_features(
        stock.where(_in_lookback(as_of, lookback_days, date_col)), by, feat
    )
    joined = join_benchmark(
        s, benchmark, lookback_days, as_of, by, bench_key, mapping, out, date_col, value_col
    )
    return joined.select(by, *final_columns(feat))


def payout_ratio_agg(out: str = "payout_ratio", date_col: str = "date") -> FeatureAgg:
    """Last positive payoutRatio, else 0.0 (ref compute_payout_ratio,
    price_features.py:109-114)."""
    p = F.col("payoutRatio")
    last = "_payoutRatio_last_positive"
    return FeatureAgg(
        aggs={last: last_where(p.isNotNull() & (p > 0), "payoutRatio", date_col)},
        finals={out: F.coalesce(F.col(last), F.lit(0.0))},
    )


def payout_ratio(
    ratios: DataFrame, by: str = "ticker", out: str = "payout_ratio", date_col: str = "date"
) -> DataFrame:
    return feature_frame(ratios, by, payout_ratio_agg(out, date_col))


def sma_delta_agg(
    by: str = "ticker",
    out: str = "sma_50_200_delta",
    date_col: str = "date",
    value_col: str = "close",
) -> FeatureAgg:
    """(SMA50 - SMA200)/SMA200 over the LAST 50/200 rows per key (ref
    compute_sma_delta_50_250, price_features.py:117-124). <200 rows =>
    null (ref raises; the row builder treats it as missing). SMA200==0
    => 0.0."""
    w = Window.partitionBy(by).orderBy(F.col(date_col).desc())
    rn = F.col("_rn_desc")
    sma50, sma200 = f"_{out}_sma50", f"_{out}_sma200"
    delta = (
        F.when(F.col("_n") < 200, F.lit(None))
        .when(F.col(sma200) == 0, F.lit(0.0))
        .otherwise((F.col(sma50) - F.col(sma200)) / F.col(sma200))
    )
    return FeatureAgg(
        pre=({"_rn_desc": F.row_number().over(w)},),
        aggs={
            sma50: F.avg(F.when(rn <= 50, F.col(value_col))),
            sma200: F.avg(F.when(rn <= 200, F.col(value_col))),
            "_n": F.count(F.lit(1)),
        },
        finals={out: delta},
    )


def sma_delta_50_200(
    prices: DataFrame,
    by: str = "ticker",
    out: str = "sma_50_200_delta",
    date_col: str = "date",
    value_col: str = "close",
) -> DataFrame:
    return feature_frame(prices, by, sma_delta_agg(by, out, date_col, value_col))


def ewma_fixed_horizon(
    df: DataFrame,
    value_cents,
    key_col: str,
    order_cols: tuple[str, ...],
    horizon: int = 16,
    alpha_num: int = 1,
    alpha_den: int = 4,
    out: str = "ewma_cents",
) -> DataFrame:
    """Per-row exponentially weighted moving average with the weight
    series truncated at ``horizon`` lags — the distributable form of
    EWMA (the infinite-history recurrence is inherently sequential;
    truncating at h lags bounds the frame so it becomes a plain
    window function, and with alpha=1/4 the lag-16 weight is already
    (3/4)^16 ≈ 1%, i.e. the truncation error is below cents).

    EXACT integer arithmetic end to end: weight of lag j is the
    integer a_num*(den-num)^j*den^(h-1-j) (the rational
    alpha*(1-alpha)^j scaled by den^h), the numerator is a bigint
    dot-product of lagged cent values, and rows with fewer than
    ``horizon`` predecessors renormalize by the partial weight sum —
    so the result ``(num div den)`` is bit-equal across engines (the
    same `div` convention as ext/traindata.py). Null values contribute
    no weight (same as a missing lag); an all-null window yields null.
    Requires NON-NEGATIVE values: Spark `div` truncates toward zero
    while DuckDB `//` floors, so negative numerators would diverge.
    Scale shape: ONE window node (all 2h lag terms share the frame),
    zero extra shuffles beyond the partitionBy.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    weights = [
        alpha_num * (alpha_den - alpha_num) ** j * alpha_den ** (horizon - 1 - j)
        for j in range(horizon)
    ]
    num = None
    den = None
    for j, wt in enumerate(weights):
        x = F.lag(value_cents, j).over(w) if j else value_cents
        # weight literals must be BIGINT: the full weight sum is
        # den^horizon - (den-num)^horizon (4^16 here), past int32
        wl = F.lit(wt).cast("long")
        # EVERY term coalesces (including j=0): a null current value
        # contributes no weight, same as a missing lag — matching the
        # SQL twin exactly (an uncoalesced j=0 would null the whole
        # row's EWMA on one engine only)
        term = F.coalesce(x * wl, F.lit(0).cast("long"))
        avail = F.when(x.isNotNull(), wl).otherwise(F.lit(0).cast("long"))
        num = term if num is None else num + term
        den = avail if den is None else den + avail
    return (
        df.withColumn("_ewma_num", num)
        .withColumn("_ewma_den", den)
        # all-null window (every value in reach is null) => no weight:
        # emit null, don't divide by zero (ANSI would raise)
        .withColumn(
            out,
            F.when(F.col("_ewma_den") > 0, F.expr("_ewma_num div _ewma_den")),
        )
        .drop("_ewma_num", "_ewma_den")
    )


def ewma_fixed_horizon_sql_terms(
    value_cents_sql: str,
    partition_sql: str,
    order_sql: str,
    horizon: int = 16,
    alpha_num: int = 1,
    alpha_den: int = 4,
) -> tuple[str, str]:
    """DuckDB twin of :func:`ewma_fixed_horizon`: returns (num_sql,
    den_sql) window expressions built from the SAME integer weight
    constants, for embedding in an oracle query. ``num // den`` in
    DuckDB matches Spark's `div` on non-negative ints. If the value
    column can be null, guard the division with
    ``CASE WHEN ({den}) > 0 THEN ... END`` exactly as the Spark side
    does — an all-null window has zero weight."""
    weights = [
        alpha_num * (alpha_den - alpha_num) ** j * alpha_den ** (horizon - 1 - j)
        for j in range(horizon)
    ]
    over = f"OVER (PARTITION BY {partition_sql} ORDER BY {order_sql})"
    num_terms, den_terms = [], []
    for j, wt in enumerate(weights):
        x = value_cents_sql if j == 0 else f"lag({value_cents_sql}, {j}) {over}"
        # weight literals CAST to BIGINT: DuckDB types bare int literals
        # INT32 and the weight sum (den^horizon) overflows int32
        num_terms.append(f"coalesce({x} * CAST({wt} AS BIGINT), 0)")
        den_terms.append(
            f"CASE WHEN {x} IS NOT NULL THEN CAST({wt} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(num_terms), " + ".join(den_terms)
