"""Seeded input generators. The same seed gives the same inputs; the
seed changes values, names and keys but not sizes, so runs with
different seeds do the same amount of work.

* :class:`Holdings` — ETF holdings for the scheduled tickers: the
  bootstrap cache as a canonical Parquet table per ticker, then one API
  JSON day per ticker per refresh round.
* :func:`write_curation_tables` — ``lineitem``, ``documents`` and
  ``embeddings`` Parquet tables in the schema of the repository testdata (TESTDATA.md),
  for the curation probes.
"""

from __future__ import annotations

import datetime
import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------------ holdings

HOLDINGS_PER_DAY = 60
# bootstrap history per scheduled ticker, in the order the tickers are
# given: different lengths, 520 days and 31,200 rows in all
HISTORY_DAYS = (30, 40, 50, 60, 70, 80, 90, 100)
LAST_BOOTSTRAP_DAY = datetime.date(2024, 6, 28)

_SYLLABLES = ("zor", "van", "ta", "mel", "qui", "bra", "nox", "lum", "dar", "vex", "tor", "sil")


class Holdings:
    """Holdings books for ``tickers`` (names). Each ticker holds
    ``HOLDINGS_PER_DAY`` securities every day; shares and prices drift
    day to day, deterministically per (seed, ticker, day)."""

    def __init__(self, seed: int, tickers: list[str]) -> None:
        if len(tickers) != len(HISTORY_DAYS):
            raise ValueError(f"expected {len(HISTORY_DAYS)} tickers, got {len(tickers)}")
        self.seed = seed
        self.history = dict(zip(tickers, HISTORY_DAYS))
        rng = random.Random(f"holdings:{seed}")
        alnum = "0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"
        self.book: dict[str, list[dict]] = {}
        for t in tickers:
            cusips = set()
            book = []
            while len(book) < HOLDINGS_PER_DAY:
                cusip = "".join(rng.choice(alnum) for _ in range(9))
                if cusip in cusips:
                    continue
                cusips.add(cusip)
                book.append({
                    "cusip": cusip,
                    "company": "".join(rng.choice(_SYLLABLES) for _ in range(3)).upper(),
                    "symbol": "Q" + "".join(rng.choice("ABCDEFGHIJKLMNOPRSTUVWXY") for _ in range(3)),
                    "shares": rng.randint(10_000, 5_000_000),
                    "price": round(rng.uniform(2.0, 900.0), 2),
                })
            self.book[t] = book

    def day(self, ticker: str, day: datetime.date) -> list[dict]:
        """The ticker's holdings on ``day``: shares, price, market value
        and weight (percent of the fund, two decimals)."""
        rng = random.Random(f"day:{self.seed}:{ticker}:{day.toordinal()}")
        rows = []
        for h in self.book[ticker]:
            shares = int(h["shares"] * rng.uniform(0.9, 1.1))
            price = round(h["price"] * rng.uniform(0.8, 1.2), 2)
            rows.append({**h, "shares": shares, "price": price, "mv": round(shares * price, 2)})
        total = sum(r["mv"] for r in rows)
        rows.sort(key=lambda r: -r["mv"])
        for r in rows:
            r["weight"] = round(100.0 * r["mv"] / total, 2)
        return rows

    def history_table(self, ticker: str) -> pa.Table:
        """The bootstrap cache: the ticker's history up to
        ``LAST_BOOTSTRAP_DAY`` in the canonical holdings schema, with the
        values the program's normalizer gives the API records."""
        days = [LAST_BOOTSTRAP_DAY - datetime.timedelta(days=k) for k in range(self.history[ticker])]
        rows = [(d, r) for d in sorted(days) for r in self.day(ticker, d)]
        return pa.table({
            "date": pa.array([d for d, _ in rows], pa.date32()),
            "ticker": [r["symbol"] for _, r in rows],
            "cusip": [r["cusip"] for _, r in rows],
            "company": [r["company"] for _, r in rows],
            "market_value": pa.array([int(r["mv"]) for _, r in rows], pa.int64()),
            "shares": pa.array([r["shares"] for _, r in rows], pa.int64()),
            "share_price": [r["price"] for _, r in rows],
            "weight": [r["weight"] for _, r in rows],
        })

    def api_json(self, ticker: str, day: datetime.date) -> str:
        """One day in the holdings API's JSON record layout."""
        return json.dumps([
            {
                "company": f"{r['company']} INC",
                "cusip": r["cusip"],
                "date": day.isoformat(),
                "market_value": r["mv"],
                "share_price": r["price"],
                "shares": float(r["shares"]),
                "ticker": r["symbol"],
                "weight": r["weight"],
                "weight_rank": i + 1,
            }
            for i, r in enumerate(self.day(ticker, day))
        ])


# ------------------------------------------------------------------ curation

# lineitem and embeddings at the repository testdata's sf0.1 sizes
# (TESTDATA.md). Documents stay far below sf0.1's 5,000: the MinHash
# oracle compares all pairs, and at 250, 500 and 1,000 documents it
# takes 3.7, 14 and 62 s on a 4-core host, where a whole run has about
# 70 s.
LINEITEM_ROWS = 600_000
ORDERS = 150_000
PARTS = 20_000
SUPPLIERS = 1_000
DOCUMENTS = 100
EMBEDDINGS = 2_000
EMBEDDING_DIM = 64

_WORDS = (
    "a the data spark table query join group agg filter sort hash scan key row column "
    "value window stream batch merge order part line customer vector small big fast slow"
).split()
_LANGS = ("en", "en", "en", "es", "zh", "de", "fr")


def _lineitem(rng: np.random.Generator) -> pa.Table:
    lines = rng.integers(1, 8, ORDERS)
    orderkey = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    # trim or pad to an exact row count so every seed scans the same rows
    orderkey = np.resize(orderkey, LINEITEM_ROWS)
    orderkey.sort()
    # 1, 2, ... within each order: the row's index minus its order's first
    first = np.flatnonzero(np.r_[True, orderkey[1:] != orderkey[:-1]])
    runs = np.diff(np.r_[first, LINEITEM_ROWS])
    linenumber = (np.arange(LINEITEM_ROWS) - np.repeat(first, runs) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, LINEITEM_ROWS).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, LINEITEM_ROWS), 2)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, LINEITEM_ROWS).astype("timedelta64[D]")
    perm = rng.permutation(LINEITEM_ROWS)  # the testdata lineitem is not key-ordered
    return pa.table({
        "l_orderkey": orderkey[perm],
        "l_partkey": rng.integers(0, PARTS, LINEITEM_ROWS, dtype=np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, LINEITEM_ROWS, dtype=np.int64),
        "l_linenumber": linenumber[perm],
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, LINEITEM_ROWS) / 100.0,
        "l_tax": rng.integers(0, 9, LINEITEM_ROWS) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), LINEITEM_ROWS),
        "l_linestatus": rng.choice(np.array(["O", "F"]), LINEITEM_ROWS),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    n_dups = DOCUMENTS // 20  # planted near-duplicates, as in the repository testdata
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(DOCUMENTS - n_dups)]
    # Copy long documents only, each at most once, and change one word:
    # every planted pair then stands alone, with a 3-shingle Jaccard near
    # 0.9, far from the 0.5 threshold of the MinHash probe, where LSH
    # recall is not exact (the repository testdata plants pairs the same way).
    long_docs = [t for t in texts if len(t.split()) >= 50]
    for k in rng.choice(len(long_docs), n_dups, replace=False):
        words = long_docs[k].split()
        i = int(rng.integers(0, len(words)))
        words[i] = str(rng.choice([w for w in _WORDS if w != words[i]]))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(_LANGS), DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((EMBEDDINGS, EMBEDDING_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, EMBEDDINGS * EMBEDDING_DIM + 1, EMBEDDING_DIM, dtype=np.int32)),
            flat,
        ),
        "label": rng.integers(0, 10, EMBEDDINGS).astype(np.int32),
    })


def write_curation_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the three tables as ``{out_dir}/{name}.parquet``; returns
    the row count of each."""
    rng = np.random.default_rng(seed)
    rows = {}
    for name, make in (("lineitem", _lineitem), ("documents", _documents), ("embeddings", _embeddings)):
        table = make(rng)
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
