"""Seeded input generators for the engine benchmark.

Every input the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical files. Each generator also returns the
answer it knows by construction (ticker and token tallies for the headline
jobs), so correctness does not depend on the engine under test.

- ``headlines``: an ``analyst_ratings``-shaped CSV (``id,headline,date,
  stock``) with a header row, Zipf-skewed tickers, ~10% of headlines
  containing commas, and a stop-word file with the reference file's quirks
  (CRLF endings, no trailing newline, one padded mixed-case entry).
- ``tables``: TPC-H-ish star schema plus ``events`` and ``documents``, with
  the column names, types and value domains of the engine's parquet test
  data. ``documents`` is a base corpus replicated 5 times with the id
  offsets of a scaled corpus (id + copy * (max_id + 1)), seeded per-copy
  text edits so copies are not all exact duplicates, and one registered
  domain owning ~30% of the URL-bearing documents.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"

STOPWORDS = (
    "a", "about", "after", "all", "an", "and", "are", "as", "at", "be",
    "but", "by", "for", "from", "has", "have", "in", "into", "is", "it",
    "its", "more", "new", "not", "of", "on", "or", "over", "says", "than",
    "that", "the", "this", "to", "up", "was", "will", "with",
)

# Corpus vocabulary: the engine's documents are bags of these words.
CORPUS_WORDS = (
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window", "the", "a", "index", "cache",
    "shard", "node", "replica", "commit", "log", "page", "block", "frame",
)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _words(rng: np.random.Generator, n: int, min_syl: int, max_syl: int) -> list[str]:
    """``n`` distinct alphabetic pseudo-words. Letters only: the engine's
    tokenizer splits on non-letters, so a digit would cut a word in two."""
    out: dict[str, None] = {}
    while len(out) < n:
        syl = int(rng.integers(min_syl, max_syl + 1))
        w = "".join(
            CONSONANTS[int(rng.integers(len(CONSONANTS)))]
            + VOWELS[int(rng.integers(len(VOWELS)))]
            for _ in range(syl)
        )
        out.setdefault(w, None)
    return list(out)


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# headlines


def make_headlines(out_dir: str, seed: int, rows: int) -> dict:
    """Write ``headlines.csv`` and ``stopwords.txt``; return the exact
    ticker and token tallies (header row included, as the reference
    counts it: ticker ``stock`` and headline token ``headline``)."""
    rng = _rng(seed, 1)
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    tickers: dict[str, None] = {}
    while len(tickers) < 6000:
        k = int(rng.integers(1, 6))
        tickers.setdefault(
            "".join(letters[int(i)] for i in rng.integers(0, 26, k)), None
        )
    tick = np.array(list(tickers))
    vocab = np.array(_words(rng, 4000, 1, 4) + list(STOPWORDS))
    # stop words are frequent: put them at the head of the Zipf ranking
    order = np.concatenate(
        [np.arange(4000, len(vocab)), rng.permutation(4000)]
    )
    vocab = vocab[order]

    stock_idx = rng.choice(len(tick), size=rows, p=_zipf_p(len(tick), 1.05))
    n_words = rng.integers(4, 15, size=rows)
    word_idx = rng.choice(
        len(vocab), size=int(n_words.sum()), p=_zipf_p(len(vocab), 1.0)
    )
    has_comma = rng.random(rows) < 0.10
    padded = rng.random(rows) < 0.01
    secs = rng.integers(0, 5 * 365 * 86400, size=rows)
    dates = (
        np.datetime64("2016-01-01T00:00:00") + secs.astype("timedelta64[s]")
    ).astype(str)

    stock_tally: Counter = Counter({"stock": 1})
    word_tally: Counter = Counter({"headline": 1})
    lines = [",headline,date,stock"]
    pos = 0
    for i in range(rows):
        ws = vocab[word_idx[pos:pos + n_words[i]]].tolist()
        pos += n_words[i]
        word_tally.update(ws)
        shown = [ws[0].capitalize()] + ws[1:]
        if has_comma[i]:
            cut = 1 + int(rng.integers(len(ws) - 1)) if len(ws) > 1 else 1
            head = " ".join(shown[:cut]) + ", " + " ".join(shown[cut:])
        else:
            head = " ".join(shown)
        t = str(tick[stock_idx[i]])
        stock_tally[t] += 1
        cell = f" {t} " if padded[i] else t
        lines.append(f"{i},{head},{dates[i].replace('T', ' ')},{cell}")
    with open(os.path.join(out_dir, "headlines.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    stop = list(STOPWORDS)
    stop[3] = "  " + stop[3].upper() + " "
    with open(os.path.join(out_dir, "stopwords.txt"), "w", newline="") as f:
        f.write("\r\n".join(stop))
    for w in STOPWORDS:
        word_tally.pop(w, None)
    return {
        "stock_lines": _ranked(stock_tally, "%d: %s, %d", None),
        "word_lines": _ranked(word_tally, "%d: %s\t%d", 100),
    }


def _ranked(tally: Counter, fmt: str, limit: int | None) -> list[str]:
    """Count desc, key asc — the engine's documented tie order."""
    items = sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[:limit]
    return [fmt % (i + 1, k, c) for i, (k, c) in enumerate(items)]


# --------------------------------------------------------------------------
# TPC-H-ish tables


def _ts(days: np.ndarray, base: str) -> pa.Array:
    d = np.datetime64(base, "us") + (days.astype("int64") * 86400_000_000).astype(
        "timedelta64[us]"
    )
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    kinds = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(kinds[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(20.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def make_tables(out_dir: str, seed: int, sf: float, base_docs: int) -> None:
    rng = _rng(seed, 2)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }), f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    adj = np.array(["small", "large", "red", "blue", "hot", "cold", "old", "new"])
    noun = np.array(["ring", "bolt", "gear", "plate", "widget", "anvil", "nut", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, 2498, n_li), "1995-01-02"),
    }), f"{out_dir}/lineitem.parquet")
    _write(_events(rng, n_ev, 1500), f"{out_dir}/events.parquet")
    _write(_documents(rng, base_docs, 5), f"{out_dir}/documents.parquet")


# --------------------------------------------------------------------------
# documents


MEGA_DOMAIN = "megafeed.com"


def _documents(rng: np.random.Generator, base_docs: int, copies: int) -> pa.Table:
    """``base_docs`` documents, ``copies`` times, ids offset per copy."""
    vocab = np.array(CORPUS_WORDS)
    p = _zipf_p(len(vocab), 0.6)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    other_domains = _words(rng, 200, 2, 3)

    base_tokens, urls = [], []
    for i in range(base_docs):
        n = int(rng.integers(8, 90))
        base_tokens.append(vocab[rng.choice(len(vocab), n, p=p)].tolist())
        if rng.random() < 0.4:  # URL-bearing document
            if rng.random() < 0.3:
                urls.append(f"https://www.{MEGA_DOMAIN}/story/{i}")
            else:
                d = other_domains[int(rng.integers(len(other_domains)))]
                urls.append(f"https://news.{d}.com/p/{i}")
        else:
            urls.append(None)
    lang = langs[rng.integers(0, len(langs), base_docs)]
    # every source appears, evenly, as in the engine's test data: x28
    # scores against the 'src0' docs and rejects a corpus without any
    source = np.char.add("src", (rng.permutation(base_docs) % 20).astype(str))

    ids, texts, langs_out, sources = [], [], [], []
    for k in range(copies):
        for i in range(base_docs):
            toks = list(base_tokens[i])
            # copy 0 is the base; later copies are edited with p=0.75, so
            # the exact-duplicate share stays well below plain replication
            if k > 0 and rng.random() < 0.75:
                j = int(rng.integers(len(toks)))
                toks[j] = str(vocab[int(rng.integers(len(vocab)))])
                toks.insert(int(rng.integers(len(toks) + 1)),
                            str(vocab[int(rng.integers(len(vocab)))]))
            text = " ".join(toks)
            if urls[i]:
                text += " see " + urls[i]
            ids.append(i + k * base_docs)
            texts.append(text)
            langs_out.append(lang[i])
            sources.append(source[i])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs_out,
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

