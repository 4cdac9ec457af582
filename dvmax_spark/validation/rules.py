"""Declarative row-validation compiler (SURVEY.md §2.9 V1-V8).

The reference validates each feature row with Python functions
returning (status, violations, possibly-modified row)
(`validate_dynamic_row.py:145-156`). Here a rule TABLE compiles into a
single ``select`` of Catalyst ``when`` expressions — one distributed
pass, no Python per row, scales to any row count:

  * RangeRule            — V1/V2: per-column bounds with inclusive /
                           exclusive lower edge and allow-missing.
  * NullifyUnstableRatio — V3: null out a ratio whose denominator is
                           within a tiny floor (pre-pass mutation).
  * JumpRule             — V4: |cur/prev| jump vs previous row per key
                           (lag window).
  * ConsistencyRule      — V5: arbitrary boolean invariant between
                           columns.

Output: the input columns plus ``validation_status`` ('ok' | 'flagged'
| 'dropped') and ``violations`` (';'-joined rule messages), mirroring
the reference's status routing (V6, `ticker_batch_runner.py:453-484`).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RangeRule:
    """V1: value must lie in [lo, hi] (lower edge exclusive when
    ``lower_inclusive=False``). Null/NaN values violate unless
    ``allow_missing`` (V2 whitelist)."""

    col: str
    lo: float | None = None
    hi: float | None = None
    lower_inclusive: bool = True
    upper_inclusive: bool = True
    allow_missing: bool = True
    severity: str = "flagged"

    @property
    def name(self) -> str:
        return f"range:{self.col}"

    def violation(self, df: DataFrame) -> Column:
        c = F.col(self.col).cast("double")
        missing = c.isNull() | F.isnan(c)
        bad = F.lit(False)
        if self.lo is not None:
            bad = bad | (c < self.lo if self.lower_inclusive else c <= self.lo)
        if self.hi is not None:
            bad = bad | (c > self.hi if self.upper_inclusive else c >= self.hi)
        if self.allow_missing:
            return ~missing & bad
        return missing | bad


@dataclass(frozen=True)
class JumpRule:
    """V4: flag when |cur/prev| (or |prev/cur|) exceeds ``limit``,
    comparing to the previous row per ``keys`` ordered by ``order_col``.
    ``prev_floor`` skips the check when |prev| is below the floor
    (mirrors `_REL_JUMP_CFG`, `validate_dynamic_row.py:53-61`)."""

    col: str
    limit: float
    keys: tuple[str, ...]
    order_col: str
    prev_floor: float = 0.0
    severity: str = "flagged"

    @property
    def name(self) -> str:
        return f"jump:{self.col}"

    def violation(self, df: DataFrame) -> Column:
        w = Window.partitionBy(*self.keys).orderBy(self.order_col)
        cur = F.col(self.col).cast("double")
        prev = F.lag(cur, 1).over(w)
        ratio = F.greatest(F.abs(cur / prev), F.abs(prev / cur))
        applicable = (
            prev.isNotNull()
            & ~F.isnan(prev)
            & (F.abs(prev) > self.prev_floor)
            & cur.isNotNull()
            & ~F.isnan(cur)
            & (F.abs(cur) > 0)
        )
        return applicable & (ratio > self.limit)


@dataclass(frozen=True)
class ConsistencyRule:
    """V5: arbitrary invariant; ``check`` returns True when the row is OK."""

    name_: str
    check: Callable[[DataFrame], Column]
    severity: str = "flagged"

    @property
    def name(self) -> str:
        return f"consistency:{self.name_}"

    def violation(self, df: DataFrame) -> Column:
        ok = self.check(df)
        return ok.isNull() | ~ok


@dataclass(frozen=True)
class NullifyUnstableRatio:
    """V3: pre-pass — null the ratio when |denominator| <= floor
    (`_maybe_nullify_unstable_ratios`, `validate_dynamic_row.py:72-97`).
    Emits a note in ``violations`` but does not change status."""

    ratio_col: str
    denom_col: str
    floor: float

    @property
    def name(self) -> str:
        return f"nullified:{self.ratio_col}"

    def unstable(self, df: DataFrame) -> Column:
        d = F.col(self.denom_col).cast("double")
        return d.isNotNull() & ~F.isnan(d) & (F.abs(d) <= self.floor)


Rule = RangeRule | JumpRule | ConsistencyRule


def apply_rules(
    df: DataFrame,
    rules: Sequence[Rule],
    nullify: Sequence[NullifyUnstableRatio] = (),
    status_col: str = "validation_status",
    violations_col: str = "violations",
) -> DataFrame:
    """Compile the rule table into one pass over ``df``: one projection
    nullifies, one adds the status and violations."""
    notes: list[Column] = []
    nulled: dict[str, Column] = {}
    for n in nullify:
        cond = n.unstable(df)
        nulled[n.ratio_col] = F.when(cond, F.lit(None)).otherwise(
            nulled.get(n.ratio_col, F.col(n.ratio_col))
        )
        notes.append(F.when(cond, F.lit(n.name)))
    if nulled:
        df = df.withColumns(nulled)

    flag_msgs: list[Column] = []
    drop_msgs: list[Column] = []
    for r in rules:
        msg = F.when(r.violation(df), F.lit(r.name))
        (drop_msgs if r.severity == "dropped" else flag_msgs).append(msg)

    all_msgs = F.array(*(drop_msgs + flag_msgs + notes)) if (drop_msgs or flag_msgs or notes) else F.array()
    violations = F.array_join(F.array_compact(all_msgs), ";")

    any_drop = (
        F.size(F.array_compact(F.array(*drop_msgs))) > 0 if drop_msgs else F.lit(False)
    )
    any_flag = (
        F.size(F.array_compact(F.array(*flag_msgs))) > 0 if flag_msgs else F.lit(False)
    )
    status = (
        F.when(any_drop, F.lit("dropped"))
        .when(any_flag, F.lit("flagged"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumns({status_col: status, violations_col: violations})


def split_by_status(
    df: DataFrame,
    accept: tuple[str, ...] = ("ok", "flagged"),
    status_col: str = "validation_status",
) -> tuple[DataFrame, DataFrame]:
    """V6 routing: (accepted, quarantined). Flagged rows are kept in the
    main output AND auditable via the violations column; dropped rows go
    to the quarantine frame (the reference's `_audit` sink, S11)."""
    accepted = df.where(F.col(status_col).isin(list(accept)))
    quarantined = df.where(~F.col(status_col).isin(list(accept)))
    return accepted, quarantined
