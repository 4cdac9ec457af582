"""Static (per-ticker) categorical encoding (reference
`engineering/static_features.py` + `constants.py` vocabularies).

The vocabularies mirror the reference's public GICS-style sector list
and country list (constants.py:1-23, 79-82) including the alias
normalization table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dvmax_spark.functions.scalar import map_lookup, one_hot_exprs

SECTOR_TO_ETF = {
    "Technology": "XLK",
    "Financial Services": "XLF",
    "Consumer Cyclical": "XLY",
    "Consumer Defensive": "XLP",
    "Energy": "XLE",
    "Healthcare": "XLV",
    "Utilities": "XLU",
    "Industrials": "XLI",
    "Basic Materials": "XLB",
    "Materials": "XLB",
    "Real Estate": "XLRE",
    "Communication Services": "XLC",
}

SECTOR_NORMALIZATION = {
    "Consumer Staples": "Consumer Defensive",
    "Financials": "Financial Services",
    "Communication": "Communication Services",
    "Telecommunication Services": "Communication Services",
    "Consumer Services": "Consumer Cyclical",
    "Basic Materials": "Materials",
}

ALL_SECTORS = sorted(SECTOR_TO_ETF)

ALL_COUNTRIES = [
    "USA", "Canada", "UK", "Germany", "France", "Switzerland", "Japan",
    "China", "India", "Netherlands", "Ireland", "Israel", "Spain", "Italy",
]


def alias_sector(col: Column | str) -> Column:
    """The Technology/IT alias rewrite applied inside one-hot encoding
    (static_features.py:15-16). NOTE the reference quirk, mirrored
    exactly: 'Information Technology' is NOT in ALL_SECTORS, so
    Technology/IT inputs land in sector_other."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.lower(F.trim(c)).isin("technology", "it"), F.lit("Information Technology")
    ).otherwise(F.trim(c))


def normalize_sector(col: Column | str) -> Column:
    """SECTOR_NORMALIZATION alias table (constants.py:16-23). In the
    reference this path is shadowed dead code at runtime
    (sector.py:7-22 redefines extract_sector_name), so the encode/ETF
    paths below do NOT use it; exposed for completeness."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(map_lookup(F.trim(c), SECTOR_NORMALIZATION), F.trim(c))


def encode_static(
    df: DataFrame,
    sector_col: str = "sector",
    country_col: str = "country",
) -> DataFrame:
    """One-hot sector and country with _other buckets (ref
    _encode_one_hot, static_features.py:12-31): output keeps the raw
    labels plus int one-hot columns `sector_<slug>`/`country_<slug>`.

    An empty country label is kept as null (its one-hot columns are
    computed from the label as given, so "" still counts as
    `country_other`): the pipeline's static store is partitioned by
    this label, and Spark writes "" as the null partition, so a stored
    "" would read back as null anyway."""
    normalized = df.withColumn("_sector_norm", alias_sector(sector_col))
    return normalized.select(
        *[
            F.nullif(F.col(c), F.lit("")).alias(c) if c == country_col else F.col(c)
            for c in df.columns
        ],
        *one_hot_exprs("_sector_norm", ALL_SECTORS, prefix="sector"),
        *one_hot_exprs(country_col, ALL_COUNTRIES, prefix="country"),
    )


def sector_etf(col: Column | str, default: str = "SPY") -> Column:
    """Sector -> benchmark ETF mapping with SPY fallback
    (ticker_params/sector.py:25-38; uses the RAW sector label)."""
    c = F.col(col) if isinstance(col, str) else col
    return map_lookup(c, SECTOR_TO_ETF, default=default)
