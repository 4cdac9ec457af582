"""Reference-parity feature library (SURVEY.md §2, §7 steps 3-4).

Every transform here reproduces a reference feature's semantics —
same windows, same grace rules, same missing-value behavior — but
vectorized over ALL series at once: where the reference loops tickers
in Python and computes scalars on tiny frames, each feature is a set of
window/aggregate expressions on the key column (``*_agg``, see
``aggspec``), evaluated alone by its public function or together with
its source table's siblings by ``assemble``, so the same code handles
8 tickers or 8 million.

Conventions:
  * every function takes `by` (series key, default "ticker") and
    operates on (by, date, value...) shaped frames;
  * output is one row per key with the feature column(s);
  * NaN-sentinel semantics from the reference become SQL null here
    (SURVEY §7: normalize NaN→null at boundaries); 0.0-on-missing
    stays 0.0 where the reference returns 0.0.
"""

from dvmax_spark.features.price import (
    return_over_period,
    volatility,
    max_drawdown_feature,
    sector_relative_return,
    payout_ratio,
    sma_delta_50_200,
)
from dvmax_spark.features.growth import value_near_date, cagr_generic
from dvmax_spark.features.dividend import yield_vs_median
from dvmax_spark.features.fundamental import net_debt_to_ebitda, ebit_interest_cover
from dvmax_spark.features.valuation import latest_pe_pfcf
from dvmax_spark.features.tsutils import adjust_series_for_splits

__all__ = [
    "return_over_period",
    "volatility",
    "max_drawdown_feature",
    "sector_relative_return",
    "payout_ratio",
    "sma_delta_50_200",
    "value_near_date",
    "cagr_generic",
    "yield_vs_median",
    "net_debt_to_ebitda",
    "ebit_interest_cover",
    "latest_pe_pfcf",
    "adjust_series_for_splits",
]
