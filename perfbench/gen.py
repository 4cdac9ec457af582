"""Seeded, vectorised input generators for the benchmark.

Every generator takes a ``numpy.random.Generator`` and returns pandas
frames; the same seed gives byte-identical frames. The program under
test only ever sees the Parquet files written from them.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- tickers

AS_OF = datetime.date(2023, 12, 29)
HISTORY_START = "2019-01-01"
SECTORS = ("Energy", "Utilities", "Technology", "Healthcare", "Financial Services")
COUNTRIES = ("US", "UK", "DE", "JP")


def ticker_tables(rng: np.random.Generator, n_tickers: int, n_short: int) -> dict[str, pd.DataFrame]:
    """Per-ticker prices, dividends, ratios, income, balance and profile.

    ``n_short`` of the tickers get fewer than 260 price rows before
    ``AS_OF``, so the pipeline's min-history gate drops them: the number
    of rows a run must write is ``n_tickers - n_short``.
    """
    days = pd.bdate_range(HISTORY_START, AS_OF).date
    tickers = np.array([f"T{i:04d}" for i in range(n_tickers)])
    # short-history tickers start 100 business days before AS_OF
    start = np.zeros(n_tickers, dtype=np.int64)
    short = rng.choice(n_tickers, size=n_short, replace=False)
    start[short] = len(days) - 100
    lens = len(days) - start
    tick_idx = np.repeat(np.arange(n_tickers), lens)
    day_idx = np.concatenate([np.arange(s, len(days)) for s in start])
    # log-normal random walk per ticker
    steps = rng.normal(0.0003, 0.015, size=len(tick_idx))
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]])
    walk = np.cumsum(steps)
    walk -= np.repeat(walk[offsets] - steps[offsets], lens)
    base = rng.uniform(20, 200, size=n_tickers)
    prices = pd.DataFrame(
        {
            "ticker": tickers[tick_idx],
            "date": days[day_idx],
            "close": np.round(base[tick_idx] * np.exp(walk), 4),
        }
    )

    years = np.arange(2019, AS_OF.year + 1)
    ny = len(years)
    yt = np.repeat(np.arange(n_tickers), ny)
    yy = np.tile(years, n_tickers)
    year_end = np.array([datetime.date(int(y), 12, 30) for y in yy])
    growth = np.cumprod(rng.uniform(0.9, 1.2, size=(n_tickers, ny)), axis=1).ravel()

    # quarterly dividends, trending with the ticker's growth path
    quarters = np.array([3, 6, 9, 12])
    dt = np.repeat(yt, 4)
    div_dates = np.array(
        [datetime.date(int(y), int(m), 15) for y in yy for m in quarters]
    )
    dividends = pd.DataFrame(
        {
            "ticker": tickers[dt],
            "date": div_dates,
            "dividend": np.round(np.repeat(growth, 4) * rng.uniform(0.2, 1.0, size=len(dt)), 4),
        }
    )
    keep = div_dates <= AS_OF
    dividends = dividends[keep].reset_index(drop=True)

    ratios = pd.DataFrame(
        {
            "ticker": tickers[yt],
            "date": year_end,
            "priceEarningsRatio": np.round(rng.uniform(5, 40, size=len(yt)), 4),
            "priceToFreeCashFlowsRatio": np.round(rng.uniform(5, 50, size=len(yt)), 4),
            "payoutRatio": np.round(rng.uniform(0.1, 0.9, size=len(yt)), 4),
            "dividendYield": np.round(rng.uniform(0.0, 0.08, size=len(yt)), 4),
            "freeCashFlowPerShare": np.round(growth * rng.uniform(0.5, 5, size=len(yt)), 4),
        }
    )
    income = pd.DataFrame(
        {
            "ticker": tickers[yt],
            "date": year_end,
            "eps": np.round(growth * rng.uniform(0.5, 5, size=len(yt)), 4),
            "operatingIncome": np.round(growth * rng.uniform(50, 500, size=len(yt)), 2),
            "interestExpense": np.round(rng.uniform(1, 50, size=len(yt)), 2),
            "depreciationAndAmortization": np.round(rng.uniform(5, 80, size=len(yt)), 2),
            "incomeBeforeTax": np.round(growth * rng.uniform(40, 400, size=len(yt)), 2),
        }
    )
    balance = pd.DataFrame(
        {
            "ticker": tickers[yt],
            "date": year_end,
            "totalDebt": np.round(rng.uniform(100, 5000, size=len(yt)), 2),
            "cashAndShortTermInvestments": np.round(rng.uniform(10, 2000, size=len(yt)), 2),
        }
    )
    profile = pd.DataFrame(
        {
            "ticker": tickers,
            "sector": np.array(SECTORS)[rng.integers(0, len(SECTORS), size=n_tickers)],
            "country": np.array(COUNTRIES)[rng.integers(0, len(COUNTRIES), size=n_tickers)],
        }
    )
    # a 2:1 split for one ticker in twenty
    split_tickers = tickers[:: 20]
    splits = pd.DataFrame(
        {
            "ticker": split_tickers,
            "date": [datetime.date(2021, 6, 1)] * len(split_tickers),
            "split_ratio": 2.0,
        }
    )
    return {
        "prices": prices,
        "dividends": dividends,
        "splits": splits,
        "ratios": ratios,
        "income": income,
        "balance": balance,
        "profile": profile,
    }


# ----------------------------------------------------------------- corpus


def _texts(vocab: np.ndarray, tokens: np.ndarray, lens: np.ndarray) -> list[str]:
    words = vocab[tokens]
    return [" ".join(row[:n]) for row, n in zip(words, lens)]


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    vocab_size: int = 5000,
    min_len: int = 20,
    max_len: int = 60,
    dup_share: float = 0.3,
) -> pd.DataFrame:
    """``documents``-shaped frame: doc_id, text, lang, source, n_chars.

    About ``dup_share`` of the docs sit in near-duplicate families of
    2-5 members: copies of the family's first member with up to 4 of
    their first ``min_len`` tokens replaced.
    """
    vocab = np.array([f"w{i}" for i in range(vocab_size)])
    tokens = rng.integers(0, vocab_size, size=(n_docs, max_len))
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    n_dup = int(n_docs * dup_share)
    fam_sizes = rng.integers(2, 6, size=n_dup)
    fam_sizes = fam_sizes[np.cumsum(fam_sizes) <= n_dup]
    members = rng.permutation(n_docs)[: fam_sizes.sum()]
    fam_of = np.repeat(np.arange(len(fam_sizes)), fam_sizes)
    heads = members[np.concatenate([[0], np.cumsum(fam_sizes)[:-1]])]
    tokens[members] = tokens[heads][fam_of]
    lens[members] = lens[heads][fam_of]
    # substitutions keep members near-, not exact, duplicates
    n_sub = 4
    pos = rng.integers(0, min_len, size=(len(members), n_sub))
    on = rng.random((len(members), n_sub)) < 0.75
    sub = rng.integers(0, vocab_size, size=(len(members), n_sub))
    rows = np.repeat(members, n_sub).reshape(-1, n_sub)
    tokens[rows[on], pos[on]] = sub[on]
    text = _texts(vocab, tokens, lens)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": text,
            "lang": "en",
            "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
            "n_chars": np.fromiter((len(t) for t in text), dtype=np.int64, count=n_docs),
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False)
