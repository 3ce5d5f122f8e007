"""Seeded input generators. The library only ever sees these files.

Everything is drawn from ``numpy.random.default_rng([seed, stream, ...])``
and written with pyarrow, so the same seed gives byte-identical inputs
and generation costs no Spark job. Sizes and shapes follow the TPC-H
sf0.1 tables the repo's tests use (row counts, lines per order, date
range, document lengths and vocabulary); README.md lists the figures.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- warehouse: a TPC-H-shaped star (lineitem -> orders -> customer -> nation)

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2),
    ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0), ("MOZAMBIQUE", 0),
    ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3), ("SAUDI ARABIA", 4),
    ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
DAY0 = np.datetime64("1995-01-01")
ORDER_DAYS = 2404          # sf0.1 order dates: 1995-01-01 .. 2001-08-01


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed % 2**63, *stream])   # any int seed


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path


def _padded(rng, words: np.ndarray) -> pa.Array:
    """Surround each value with 0-2 spaces either side, so the pipeline's
    trim is real work."""
    pads = pa.array(["", " ", "  "])
    left = pads.take(rng.integers(0, 3, len(words)))
    return pc.binary_join_element_wise(left, pa.array(words, pa.string()),
                                       pads.take(rng.integers(0, 3, len(words))), "")


def warehouse_tables(seed: int, out_dir: str, n_orders: int) -> dict:
    """Write nation/customer/orders/lineitem parquet files; return
    ``{table: (path, rows)}``. String-typed quantity and ship date (with
    stray spaces) are what the pipeline's trims and casts clean."""
    rng = _rng(seed, 1)
    n_cust = max(25, n_orders // 10)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int64()),
        "n_name": [n for n, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int64()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int64()),
        "c_mktsegment": _padded(rng, np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
    })
    odate = DAY0 + rng.integers(0, ORDER_DAYS, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)],
    })
    # sf0.1 has 1-17 lines per order, mode 3-4, mean 4.0: max(1, Poisson(4))
    lines = np.maximum(1, rng.poisson(4.0, n_orders))
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_orders + 1), lines)
    qty = rng.integers(1, 51, n_li)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_linenumber": pa.array(
            np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1, pa.int32()),
        "l_quantity": _padded(rng, qty.astype(str)),
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_shipdate": _padded(rng, ship.astype(str)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
    })
    return {name: (write_table(t, f"{out_dir}/{name}.parquet"), t.num_rows)
            for name, t in (("nation", nation), ("customer", customer),
                            ("orders", orders), ("lineitem", lineitem))}


def warehouse_params(seed: int) -> dict:
    """The run's parameters, qgen-style (one draw per query stream): a
    one-year ship-date window inside the data, a market segment and ten
    nations, so every seed does a similar amount of work. The top-N depth
    is fixed at 5, so every seed writes about the same output."""
    rng = _rng(seed, 2)
    lo = DAY0 + np.timedelta64(int(rng.integers(30, ORDER_DAYS - 365)), "D")
    hi = lo + np.timedelta64(365, "D")
    nations = sorted(np.array([n for n, _ in NATIONS])[
        rng.choice(25, 10, replace=False)].tolist())
    return {"lo": str(lo), "hi": str(hi),
            "segment": SEGMENTS[int(rng.integers(0, 5))],
            "nations": nations, "top_n": 5}


# --- corpus: a standing corpus and day-batches with a known injection ledger

# The sf0.1 documents table: 5000 docs of 10-100 whitespace tokens
# (uniform, mean 54), drawn uniformly from these 30 words.
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
MIN_TOKENS, MAX_TOKENS = 10, 100

# the library's quality_score for lang="en", restated as the check's oracle
EN_STOPWORDS = {"the", "and", "of", "to", "a", "in", "is", "that", "it", "for"}


def quality_ok(text: str, min_passes: int = 4) -> bool:
    """Does ``text`` pass at least ``min_passes`` of quality_score's five
    tests (chars, tokens, stopword ratio, punctuation ratio, mean word
    length)? A score of 4/5 is the 0.8 the ingest keeps."""
    toks = text.split()
    n_chars, n_tok = len(text), len(toks)
    tests = (100 <= n_chars <= 20000,
             20 <= n_tok <= 5000,
             sum(t.lower() in EN_STOPWORDS for t in toks) / n_tok >= 0.01,
             len(re.findall(r"[.!?,;:]", text)) / n_chars <= 0.1,
             2.0 <= len(re.sub(r"\s+", "", text)) / n_tok <= 12.0)
    return sum(tests) >= min_passes


class Corpus:
    """Seeded documents: ``standing()`` is the day-0 corpus, ``batch(i)``
    the i-th day-batch of fresh docs plus exact and near copies of
    standing docs. ``ledger[doc_id]`` records each batch doc's kind, a
    copy's source, and whether it passes the quality filter.

    A near copy is its source with one word added at the start or the
    end: one new trigram, Jaccard (n-2)/(n-1) >= 0.98 for the >= 60-token
    sources used, so the index's 8 bands of 4 MinHashes miss one with
    probability below 1e-9 and every near copy must become a candidate.
    """

    def __init__(self, seed: int, n_standing: int, batch_size: int):
        self.seed, self.batch_size = seed, batch_size
        rng = _rng(seed, 3)
        self.standing_ids = np.arange(1, n_standing + 1)
        self.standing_text = [self._doc(rng) for _ in range(n_standing)]
        lens = np.array([len(t.split()) for t in self.standing_text])
        good = np.array([quality_ok(t) for t in self.standing_text])
        self.exact_src = np.flatnonzero(good)
        self.near_src = np.flatnonzero(lens >= 60)
        self.ledger: dict[int, tuple] = {}

    @staticmethod
    def _doc(rng) -> str:
        n = int(rng.integers(MIN_TOKENS, MAX_TOKENS + 1))
        return " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)])

    def standing(self) -> pa.Table:
        return pa.table({"doc_id": pa.array(self.standing_ids, pa.int64()),
                         "text": self.standing_text})

    def batch(self, i: int) -> pa.Table:
        rng = _rng(self.seed, 4, i)
        n_inj = max(1, self.batch_size // 10)
        base = 1_000_000 * (i + 1)
        ids, texts = [], []

        def add(doc_id, text, *kind):
            ids.append(doc_id)
            texts.append(text)
            self.ledger[doc_id] = (*kind, quality_ok(text))

        for k in range(self.batch_size - 2 * n_inj):
            add(base + k, self._doc(rng), "fresh", None)
        for k, s in enumerate(rng.choice(self.exact_src, n_inj, replace=False)):
            add(base + 200_000 + k, self.standing_text[s], "exact", int(self.standing_ids[s]))
        for k, s in enumerate(rng.choice(self.near_src, n_inj, replace=False)):
            word = WORDS[int(rng.integers(0, len(WORDS)))]
            text = (f"{word} {self.standing_text[s]}" if rng.integers(0, 2)
                    else f"{self.standing_text[s]} {word}")
            add(base + 300_000 + k, text, "near", int(self.standing_ids[s]))
        order = rng.permutation(len(ids))
        return pa.table({"doc_id": pa.array(np.array(ids)[order], pa.int64()),
                         "text": [texts[j] for j in order]})
