"""Differential correctness: every registered query with an oracle must
match DuckDB exactly at sf0.01 — the same contract the driver's t2
check enforces (SURVEY.md §2.12).
"""

from __future__ import annotations

import pytest

from tests.conftest import assert_query_matches_oracle


# Queries rotated OUT of the evidence window after the default tier had
# been checking them: a rotation moves evidence-window coverage, not
# local coverage, so they keep their default-tier parity check.
_ROTATED_OUT = {
    "x_bpe_pair_counts",
    "t_session_window",
    "x_audio_fp_dedup",
    "a_quartiles_distributed",
    "t_stream_cms",
    "s_corrupt_json_recovery",
}


def _oracle_query_params():
    """All oracled queries; those PAST the driver's 50-query evidence
    window run in the slow tier (tests/conftest.py) — the default run
    covers the evidence window's queries (plus ``_ROTATED_OUT``), the
    full sweep stays one env var away and tools/check_parity.py covers
    everything independently."""
    from dvmax_spark.registry import EVIDENCE_WINDOW, all_queries

    qs = all_queries()
    cap = set(list(qs)[:EVIDENCE_WINDOW]) | _ROTATED_OUT
    return [
        (n if n in cap else pytest.param(n, marks=pytest.mark.slow))
        for n, s in qs.items()
        if s.sql is not None
    ]


@pytest.mark.parametrize("name", _oracle_query_params())
def test_query_matches_oracle(spark, oracle, name):
    assert_query_matches_oracle(spark, oracle, name)


@pytest.mark.slow
def test_rows_only_queries_run(spark):
    """Queries without an oracle must still execute and return a stable
    schema at the smoke SF."""
    from dvmax_spark.registry import all_queries

    for name, spec in all_queries().items():
        if spec.sql is None:
            # one pressure-relief retry, mirroring test_scale_smoke:
            # after ~450 tests of accumulated JVM state, MLlib-backed
            # queries have flaked on py4j here while passing in any
            # fresh or 200-test session; a deterministic bug still
            # fails the clean retry
            for attempt in (1, 2):
                try:
                    df = spec.fn(spark, "/root/testdata/sf0.01")
                    assert df.columns, name
                    assert df.count() >= 0, name
                    break
                except AssertionError:
                    raise
                except Exception:  # noqa: BLE001
                    if attempt == 2:
                        raise
                    try:
                        spark.catalog.clearCache()
                        spark.sparkContext._jvm.System.gc()
                    except Exception:  # noqa: BLE001
                        pass


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs = e.queries()
    sqls = e.oracle_sql()
    assert set(sqls) <= set(qs)
    assert len(qs) >= 20
