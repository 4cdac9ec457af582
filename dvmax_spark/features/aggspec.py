"""Features as expressions, so that sibling features over one source
table share one scan, one shuffle and one aggregate.

A :class:`FeatureAgg` is a feature's math split into three parts:

  * ``pre``    — per-row columns (window expressions allowed), in
                 stages: stage ``i+1`` may read stage ``i``'s columns;
  * ``aggs``   — named aggregate expressions over ``groupBy(by)``;
  * ``finals`` — named output expressions over those aggregates.

A name stands for one formula wherever it appears (``_n`` is always
``count(1)``, ``_<col>_last`` always ``max_by(col, date)``), so two
features that need the same column name it the same and it is computed
once. A single feature and a whole source table's worth of features
run through the same :func:`feature_frame`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FeatureAgg:
    aggs: dict[str, Column]
    finals: dict[str, Column]
    pre: tuple[dict[str, Column], ...] = ()


def last_where(cond: Column, value_col: str, date_col: str = "date") -> Column:
    """The value on the latest date where ``cond`` holds (null if none):
    rows failing ``cond`` carry a null ordering, which max_by skips."""
    return F.max_by(F.when(cond, F.col(value_col)), F.when(cond, F.col(date_col)))


def _merged(dicts) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for d in dicts:
        out.update(d)
    return out


def aggregate_features(df: DataFrame, by: str, *features: FeatureAgg) -> DataFrame:
    """(by, every feature's aggregate columns) — one row per key, from
    one pass of each pre stage and one ``groupBy``."""
    for i in range(max((len(f.pre) for f in features), default=0)):
        df = df.withColumns(_merged(f.pre[i] for f in features if i < len(f.pre)))
    aggs = _merged(f.aggs for f in features)
    return df.groupBy(by).agg(*(c.alias(n) for n, c in aggs.items()))


def final_columns(*features: FeatureAgg) -> list[Column]:
    return [c.alias(n) for f in features for n, c in f.finals.items()]


def feature_frame(df: DataFrame, by: str, *features: FeatureAgg) -> DataFrame:
    """(by, every feature's output columns), one row per key."""
    return aggregate_features(df, by, *features).select(by, *final_columns(*features))
