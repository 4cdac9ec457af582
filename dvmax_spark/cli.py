"""CLI entry points mirroring the reference's console scripts
(pyproject.toml:14-17: ticker-batch-runner, macro-batch-runner) plus
bench/parity utilities.

Usage:
  python -m dvmax_spark.cli ticker --input-dir DIR --store-root DIR
  python -m dvmax_spark.cli macro  --input DIR_OR_PARQUET --store-root DIR
  python -m dvmax_spark.cli universe --sources f1.parquet f2.parquet \
      --prices prices.parquet --out tickers.txt

Input tables are parquet files named after the fetch_all_per_ticker
keys (prices, dividends, splits, ratios, income, balance, profile,
sector_index) — the offline stand-in for the network fetchers.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from dvmax_spark.session import get_spark

INPUT_TABLES = (
    "prices",
    "dividends",
    "splits",
    "ratios",
    "income",
    "balance",
    "profile",
    "sector_index",
)


def _load_inputs(spark, input_dir: str) -> dict:
    inputs = {}
    for name in INPUT_TABLES:
        path = os.path.join(input_dir, f"{name}.parquet")
        inputs[name] = spark.read.parquet(path) if os.path.exists(path) else None
    missing = [n for n in ("prices", "ratios", "income", "balance", "profile") if inputs[n] is None]
    if missing:
        raise SystemExit(f"missing required input tables: {missing}")
    return inputs


# Feature-group prefixes of the reference's inspection report
# (reference src/dataprep/constants.py:27-41 GROUP_PREFIXES /
# SOURCE_HINTS; report printer src/dataprep/visualization/report.py:
# 20-49). Columns are grouped by name prefix; anything unmatched lands
# in "Other Features".
GROUP_PREFIXES = {
    "Price-Based Features": ["6m_", "12m_", "volatility", "max_drawdown_1y", "sma_"],
    "Fundamentals": ["net_debt", "ebit_"],
    "Growth": ["eps_cagr", "fcf_cagr"],
    "Dividends": ["dividend_", "yield_"],
    "Valuation": ["pe_ratio", "pfcf_ratio", "payout_ratio"],
    "Sector Encoding": ["sector_"],
    "Presence Flags": ["has_"],
    "Validation": ["validation_"],
}


def print_feature_report(spark, store_root: str, ticker: str, as_of: str | None) -> None:
    """Grouped single-ticker feature report off the written store — the
    Spark analog of the reference's print_feature_report_from_df
    (src/dataprep/visualization/report.py:7-49): one driver-side row
    (filter is pushed to the parquet scan; nothing else is collected),
    printed group by group."""
    from pyspark.sql import functions as F

    from dvmax_spark.plans.ticker_pipeline import dynamic_store

    dyn = dynamic_store(spark, store_root)
    df = dyn.read().where(F.col("ticker") == ticker)
    if as_of:
        df = df.where(F.col("as_of") == as_of)
    else:
        df = df.orderBy(F.col("as_of").desc())
    rows = df.limit(1).collect()
    if not rows:
        raise SystemExit(f"no feature row for ticker={ticker!r} as_of={as_of or 'latest'}")
    row = rows[0].asDict()

    print(f"\n=== Feature Report for {row.get('ticker', 'N/A')} ===")
    print(f"- As of: {row.get('as_of', 'N/A')}")
    print(f"- Columns: {len(row)}")
    used = {"ticker", "as_of"}
    for title, prefixes in GROUP_PREFIXES.items():
        keys = sorted(k for k in row if any(k.startswith(p) for p in prefixes) and k not in used)
        if not keys:
            continue
        used.update(keys)
        print(f"\n-> {title}")
        for k in keys:
            v = row[k]
            print(f"{k:25}: {'N/A' if v is None else v}")
    other = sorted(set(row) - used)
    if other:
        print("\n-> Other Features")
        for k in other:
            v = row[k]
            print(f"{k:25}: {'N/A' if v is None else v}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dvmax_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("ticker", help="run the ticker feature pipeline")
    t.add_argument("--input-dir", required=True)
    t.add_argument("--store-root", required=True)
    t.add_argument("--dates", nargs="*", help="as_of dates YYYY-MM-DD (default: annual grid)")
    t.add_argument("--required-days", type=int, default=260)

    m = sub.add_parser("macro", help="run the macro pipeline")
    m.add_argument("--input", required=True, help="raw indicator parquet")
    m.add_argument("--store-root", required=True)

    u = sub.add_parser("universe", help="bootstrap the ticker universe")
    u.add_argument("--sources", nargs="+", required=True, help="parquet files with a ticker column")
    u.add_argument("--prices", required=True, help="prices parquet for validation")
    u.add_argument("--out", required=True)
    u.add_argument("--min-closes", type=int, default=5)

    r = sub.add_parser("report", help="pretty-print one ticker's feature row")
    r.add_argument("--store-root", required=True, help="root written by the ticker pipeline")
    r.add_argument("--ticker", required=True)
    r.add_argument("--as-of", help="YYYY-MM-DD (default: latest row for the ticker)")

    c = sub.add_parser(
        "corpus", help="curate a documents corpus into packed training shards"
    )
    c.add_argument("--input", required=True, help="documents parquet (doc_id, text, source, n_chars)")
    c.add_argument("--out", required=True, help="output dir for shards + manifest")
    c.add_argument("--eval-source", default="src0", help="source value held out as the eval slice")
    c.add_argument("--ctx-len", type=int, default=128)
    c.add_argument("--min-chars", type=int, default=1)

    args = p.parse_args(argv)
    spark = get_spark(f"dvmax_cli_{args.cmd}")

    if args.cmd == "ticker":
        import datetime

        from dvmax_spark.plans.ticker_pipeline import (
            run_ticker_pipeline,
            write_static_ohe_projection,
        )

        dates = (
            [datetime.date.fromisoformat(d) for d in args.dates] if args.dates else None
        )
        stats = run_ticker_pipeline(
            spark,
            _load_inputs(spark, args.input_dir),
            args.store_root,
            dates=dates,
            required_days=args.required_days,
        )
        write_static_ohe_projection(spark, args.store_root)
        print(json.dumps(stats))
    elif args.cmd == "macro":
        from dvmax_spark.plans.macro_pipeline import run_macro_pipeline

        out = run_macro_pipeline(spark, spark.read.parquet(args.input), args.store_root)
        print(json.dumps({"rows": out.count()}))
    elif args.cmd == "report":
        print_feature_report(spark, args.store_root, args.ticker, args.as_of)
    elif args.cmd == "universe":
        from dvmax_spark.plans.universe_pipeline import run_universe_pipeline

        tickers = run_universe_pipeline(
            spark,
            [spark.read.parquet(s) for s in args.sources],
            spark.read.parquet(args.prices),
            args.out,
            min_closes=args.min_closes,
        )
        print(json.dumps({"n_tickers": len(tickers)}))
    elif args.cmd == "corpus":
        from pyspark.sql import functions as F

        from dvmax_spark.ext.traindata import (
            decontaminate,
            train_split,
            write_training_shards,
        )

        docs = spark.read.parquet(args.input)
        clean = docs.where(
            F.col("text").isNotNull() & (F.col("n_chars") >= args.min_chars)
        )
        ev = clean.where(F.col("source") == args.eval_source)
        tr = clean.where(F.col("source") != args.eval_source)
        # checkpoint: the decontamination semi-join feeds BOTH the shard
        # write and the split-count audit - without this it runs twice
        surv = train_split(decontaminate(tr, ev)).localCheckpoint()
        train = surv.where(F.col("split") == "train")
        manifest = write_training_shards(train, args.out, ctx_len=args.ctx_len)
        counts = {
            r["split"]: r["n"]
            for r in surv.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(json.dumps({"splits": counts, **manifest}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
