"""Valuation extracts (reference `engineering/valuation_features.py`)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dvmax_spark.features.aggspec import FeatureAgg, feature_frame, last_where


def pe_pfcf_agg(date_col: str = "date") -> FeatureAgg:
    """Latest row where BOTH priceEarningsRatio and
    priceToFreeCashFlowsRatio are > 0; (0.0, 0.0) when none (ref
    extract_latest_pe_pfcf, valuation_features.py:3-30)."""
    valid = (F.col("priceEarningsRatio") > 0) & (F.col("priceToFreeCashFlowsRatio") > 0)
    pe, pfcf = "_pe_last_valid", "_pfcf_last_valid"
    return FeatureAgg(
        aggs={
            pe: last_where(valid, "priceEarningsRatio", date_col),
            pfcf: last_where(valid, "priceToFreeCashFlowsRatio", date_col),
        },
        finals={
            "pe_ratio": F.coalesce(F.col(pe), F.lit(0.0)),
            "pfcf_ratio": F.coalesce(F.col(pfcf), F.lit(0.0)),
        },
    )


def latest_pe_pfcf(ratios: DataFrame, by: str = "ticker", date_col: str = "date") -> DataFrame:
    return feature_frame(ratios, by, pe_pfcf_agg(date_col))
