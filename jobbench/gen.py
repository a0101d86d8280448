"""Seeded input generator for the job benchmark.

Two kinds of input, each written as one parquet file per table into a
directory the program reads with ``sources.readers.load_table``:

- a star schema (``region nation customer supplier part orders lineitem``
  plus small ``events documents embeddings`` tables, because
  ``load_star`` registers every table) with foreign keys intact, a skewed
  customer → nation distribution and a share of cancelled orders
  (``o_orderstatus = 'F'``);
- a document corpus (``documents``) with seeded exact-duplicate and
  near-duplicate families, a language mix and a low-quality share.

The same seed gives byte-identical tables. Every share is a module
constant so the README can state it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- star schema ------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
#: share of customers in nation 0; the other 24 share the rest by a
#: 1/(k+1) law, so one country dominates like the reference's UK
TOP_NATION_SHARE = 0.35
#: share of orders with status 'F', the class the program treats as cancelled
CANCELLED_SHARE = 0.2
LINES_PER_ORDER = 4  # mean; some orders get none
ORDERS_PER_CUSTOMER = 10
LINES_PER_PART = 30
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EPOCH_US = 820_454_400_000_000  # 1996-01-01 UTC
DAY_US = 86_400_000_000
ORDER_DAYS = 730


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(1, n + 1)]


def star_schema(out_dir: str, seed: int, n_orders: int) -> dict:
    """Write the star schema; return its row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, n_orders // ORDERS_PER_CUSTOMER)
    n_supp = max(5, n_orders // 1000)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(N_NATIONS)],
        "n_regionkey": pa.array([k % len(REGIONS) for k in range(N_NATIONS)], pa.int32()),
    }))
    tail = 1.0 / np.arange(2, N_NATIONS + 1)
    nation_p = np.concatenate([[TOP_NATION_SHARE], tail / tail.sum() * (1 - TOP_NATION_SHARE)])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.choice(N_NATIONS, n_cust, p=nation_p), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }))

    # exactly LINES_PER_ORDER lines per order on average, spread unevenly
    # (Poisson-like), so every seed gives inputs of the same size
    n_lines = LINES_PER_ORDER * n_orders
    lines = np.bincount(rng.integers(0, n_orders, n_lines), minlength=n_orders)
    n_part = max(20, n_lines // LINES_PER_PART)
    retail = np.round(rng.uniform(900, 2100, n_part), 2)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": _names("Part", n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(("STANDARD TIN", "SMALL BRASS", "LARGE STEEL", "PROMO COPPER"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }))

    order_days = rng.integers(0, ORDER_DAYS, n_orders)
    order_us = EPOCH_US + order_days * DAY_US + rng.integers(0, 24, n_orders) * 3_600_000_000
    status = np.where(
        rng.random(n_orders) < CANCELLED_SHARE, "F", rng.choice(("O", "P"), n_orders)
    )
    # heavy customers: a customer's order share grows with its key's rank
    cust_w = 1.0 / (np.arange(n_cust) + 20.0)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.choice(n_cust, n_orders, p=cust_w / cust_w.sum()) + 1, pa.int64()),
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": _ts(order_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }))

    l_order = np.repeat(np.arange(1, n_orders + 1), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = np.arange(n_lines) - starts + 1
    part_w = 1.0 / (np.arange(n_part) + 5.0)
    l_part = rng.choice(n_part, n_lines, p=part_w / part_w.sum())
    qty = rng.integers(1, 51, n_lines).astype("float64")
    ship_us = np.repeat(order_us, lines) + rng.integers(1, 122, n_lines) * DAY_US
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part + 1, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_lines),
        "l_linestatus": rng.choice(("F", "O"), n_lines),
        "l_shipdate": _ts(ship_us),
    }))

    # load_star registers these three too; the sales job never scans them
    n_ev = 200
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(EPOCH_US + rng.integers(0, DAY_US, n_ev)),
        "user_id": pa.array(rng.integers(1, 50, n_ev), pa.int64()),
        "event_type": rng.choice(("signup", "purchase", "error"), n_ev),
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    documents(out_dir, seed, 50)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_ev), pa.int64()),
        "embedding": pa.array(
            [list(v) for v in rng.standard_normal((n_ev, 8)).astype("float32")],
            pa.list_(pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 4, n_ev), pa.int32()),
    }))
    return {"orders": n_orders, "lineitem": n_lines, "customer": n_cust, "part": n_part}


# -- document corpus ----------------------------------------------------------

#: language mix of freshly written documents (copies inherit their base's)
LANG_SHARES = {"en": 0.70, "fr": 0.08, "de": 0.08, "es": 0.07, "zh": 0.07}
FUNCTION_WORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "est"),
    "de": ("der", "die", "und", "das", "ein", "ist", "nicht", "mit"),
    "es": ("el", "una", "y", "los", "que", "de", "en", "es"),
}
FUNCTION_SHARE = 0.2  # share of tokens drawn from the function words
#: document kinds; every copy or variant points at an EARLIER document,
#: so a family's smallest doc_id is its original. Each share is an exact
#: count (rounded), placed at seeded positions, so every seed gives the
#: same mix.
EXACT_COPY_SHARE = 0.08  # byte-identical copy of an earlier document
NEAR_VARIANT_SHARE = 0.10  # 1-2 tokens replaced: shingle Jaccard >= 0.8
FAR_VARIANT_SHARE = 0.04  # 7-10 tokens replaced: shingle Jaccard < 0.8
LOW_QUALITY_SHARE = 0.08  # of fresh documents: a few tokens repeated
DOC_TOKENS = (40, 160)
N_SOURCES = 6
VOCAB = {"en": 4000, "fr": 1500, "de": 1500, "es": 1500, "zh": 1500}


def _vocab(rng: np.random.Generator, lang: str) -> np.ndarray:
    n = VOCAB[lang]
    if lang == "zh":
        cps = rng.integers(0x4E00, 0x9FFF, (n, 2))
        return np.array(sorted({chr(a) + chr(b) for a, b in cps}))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, rng.integers(4, 10))) for _ in range(n)}
    return np.array(sorted(words - set(FUNCTION_WORDS[lang])))


def _shuffled(rng, n: int, shares: dict) -> list:
    """``n`` labels with each label's exact (rounded) share, seeded order;
    the first label takes the rounding remainder."""
    counts = {k: round(v * n) for k, v in shares.items()}
    first = next(iter(shares))
    counts[first] += n - sum(counts.values())
    labels = [k for k, c in counts.items() for _ in range(c)]
    return [labels[i] for i in rng.permutation(n)]


def _fresh(rng, lang: str, vocab: np.ndarray, cdf: np.ndarray, low_quality: bool) -> list[str]:
    n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
    if low_quality:
        return list(rng.choice(vocab[:50], 4)) * (n // 4)
    words = vocab[np.searchsorted(cdf, rng.random(n))]
    if lang == "zh":
        return list(words)
    fw = FUNCTION_WORDS[lang]
    picks = rng.integers(len(fw), size=n)
    mask = rng.random(n) < FUNCTION_SHARE
    return [fw[p] if m else w for w, m, p in zip(words, mask, picks)]


def _variant(rng, toks: list[str], vocab: np.ndarray, n_edits: int) -> list[str]:
    out = list(toks)
    # edit positions at least 3 apart so each edit touches its own shingles
    slots = rng.choice(np.arange(0, len(out), 3), min(n_edits, len(out) // 3), replace=False)
    for i in slots:
        out[i] = vocab[int(rng.integers(len(vocab)))]
    return out


def corpus(n_docs: int, seed: int) -> list[dict]:
    """The document rows, in doc_id order."""
    rng = np.random.default_rng([seed, 2])
    vocabs = {lang: _vocab(rng, lang) for lang in LANG_SHARES}
    cdfs = {}
    for lang, v in vocabs.items():
        w = 1.0 / (np.arange(len(v)) + 10.0)  # Zipf-like word frequencies
        cdfs[lang] = np.cumsum(w) / w.sum()
    kinds = _shuffled(rng, n_docs - 1, {
        "fresh": 1 - EXACT_COPY_SHARE - NEAR_VARIANT_SHARE - FAR_VARIANT_SHARE,
        "copy": EXACT_COPY_SHARE, "near": NEAR_VARIANT_SHARE, "far": FAR_VARIANT_SHARE,
    })
    kinds.insert(0, "fresh")
    n_fresh = kinds.count("fresh")
    fresh_langs = iter(_shuffled(rng, n_fresh, LANG_SHARES))
    fresh_low = iter(_shuffled(rng, n_fresh, {False: 1 - LOW_QUALITY_SHARE, True: LOW_QUALITY_SHARE}))
    rows: list[dict] = []
    toks_of: list[list[str]] = []
    for doc_id, kind in enumerate(kinds):
        if kind == "fresh":
            lang = next(fresh_langs)
            toks = _fresh(rng, lang, vocabs[lang], cdfs[lang], next(fresh_low))
        else:
            base = int(rng.integers(doc_id))
            lang, toks = rows[base]["lang"], toks_of[base]
            if kind != "copy":
                edits = rng.integers(1, 3) if kind == "near" else rng.integers(7, 11)
                toks = _variant(rng, toks, vocabs[lang], int(edits))
        text = " ".join(toks)
        toks_of.append(toks)
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": lang,
            "source": f"src{int(rng.integers(N_SOURCES))}",
            "n_chars": len(text),
        })
    return rows


def documents(out_dir: str, seed: int, n_docs: int) -> int:
    """Write ``documents.parquet``; return its row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = corpus(n_docs, seed)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
        "source": [r["source"] for r in rows],
        "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
    }))
    return len(rows)
