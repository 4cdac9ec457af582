"""Shared fixtures: ONE SparkSession per test run (JVM startup dwarfs
sf0.001/sf0.01 query time — BASELINE.md engine consequences) and a
DuckDB oracle connection with the driver's table views registered.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_CORRECT = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Two-tier suite (r11, VERDICT r10 #2): the external driver's
    verify window could not fit the full 609-test / 35-50 min run
    (VERIFY_r10 ``tests_ok: false`` — the tail truncated mid-progress
    with zero failures). The long-tail tier — stress/fuzz corpora,
    the sf0.1 scale smoke, subprocess CLI runs, and the oracle-parity
    sweep BEYOND the driver's 50-query window — is marked ``slow`` and
    skipped by default so ``python -m pytest tests/ -x -q`` finishes
    inside the window with a visible pass/fail summary. The full tier
    stays one env var away and is still run per round:

        DVMAX_SLOW_TESTS=1 python -m pytest tests/ -x -q

    Every invariant the slow tier guards also remains covered by
    tools/check_parity.py (all oracles), tools/driver_sim.py (the
    driver's exact contract) and bench.py (every benched query at
    sf0.1), which run separately.
    """
    if os.environ.get("DVMAX_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(reason=_SLOW_REASON)
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


_SLOW_REASON = "slow tier: set DVMAX_SLOW_TESTS=1 to run"


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """One visible line when the slow tier was skipped, so a default
    green run is not read as the full suite."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and _SLOW_REASON in rep.longrepr[2]
    )
    if n:
        terminalreporter.write_line(
            f"NOTE: {n} slow-tier tests skipped; this is not the full suite "
            "(DVMAX_SLOW_TESTS=1 runs them)",
            yellow=True,
            bold=True,
        )

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from dvmax_spark.session import get_spark

    # warehouse in a temp dir so managed-table side effects (bucketed-
    # join tests) never leave residue under the repo cwd, even on a
    # hard kill that skips the tests' DROP TABLE cleanup
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = get_spark(
        "dvmax_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(wh),
            # ~500 tests share this one JVM; the default 16g driver
            # has flaked on MLlib paths near the end of the suite
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "28g"
            ),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    # views over the correctness SF (driver uses sf0.01)
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR_CORRECT}/{t}.parquet'"
        )
    yield con
    con.close()


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, dtype-normalized frame for
    engine-agnostic comparison (mirrors the driver's order-insensitive
    value hash)."""
    import datetime

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        dt = pdf[c].dtype
        if str(dt).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif dt == object:
            sample = pdf[c].dropna()
            if len(sample) and isinstance(
                sample.iloc[0], (datetime.date, datetime.datetime)
            ):
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif str(dt).startswith("float") or str(dt) == "float32":
            pdf[c] = pdf[c].astype("float64")
        elif str(dt).startswith(("int", "uint")) or str(dt) in ("Int64", "Int32"):
            pdf[c] = pdf[c].astype("int64")
        elif str(dt) == "bool":
            pdf[c] = pdf[c].astype("int64")
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def assert_query_matches_oracle(spark, oracle, name: str, sf_dir: str = SF_DIR_CORRECT):
    from dvmax_spark.registry import all_queries

    spec = all_queries()[name]
    assert spec.sql is not None, f"{name} has no oracle"
    got = canonicalize(spec.fn(spark, sf_dir).toPandas())
    exp = canonicalize(oracle.execute(spec.sql).fetchdf())
    assert list(got.columns) == list(exp.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=False, rtol=0, atol=0)
