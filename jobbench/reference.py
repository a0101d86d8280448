"""Output checks, each computed apart from the program: DuckDB SQL over the
generated star schema, and a hashlib/NumPy recomputation of the corpus
curation rules (language and quality filters, exact dedup, MinHash-LSH
near-dup) from their documented definitions.

Every check raises ``CheckFailed`` naming what disagreed; ``selftest.py``
corrupts one output per check and expects that check to raise.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import sqlite3

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# -- sales ETL -----------------------------------------------------------------

SALES_TABLES = ("customer_summary", "product_summary", "daily_sales", "country_summary", "transactions")
#: revenue column each output table carries
REVENUE_COL = {
    "customer_summary": "total_revenue",
    "product_summary": "total_revenue",
    "daily_sales": "revenue",
    "country_summary": "total_revenue",
    "transactions": "total_amount",
}

_SALES_SQL = """
WITH nc AS (SELECT * FROM orders WHERE NOT starts_with(o_orderstatus, 'F')),
nc_cust AS (
    SELECT nc.*, n_name FROM nc
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
)
SELECT 'transactions', count(*), sum(l_extendedprice * (1 - l_discount))
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
 WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
   AND (starts_with(o_orderstatus, 'F') OR (l_quantity > 0 AND l_extendedprice > 0))
UNION ALL
SELECT 'customer_summary', count(DISTINCT o_custkey), sum(o_totalprice) FROM nc_cust
UNION ALL
SELECT 'country_summary', count(DISTINCT n_name), sum(o_totalprice) FROM nc_cust
UNION ALL
SELECT 'daily_sales', count(DISTINCT CAST(o_orderdate AS DATE)), sum(o_totalprice) FROM nc
UNION ALL
SELECT 'product_summary', count(DISTINCT l_partkey), sum(l_extendedprice * (1 - l_discount))
  FROM lineitem JOIN nc ON l_orderkey = o_orderkey JOIN part ON l_partkey = p_partkey
"""


def sales_expected(star_dir: str) -> dict[str, tuple[int, float]]:
    """{table: (row count, revenue total)} by DuckDB over the input."""
    con = duckdb.connect()
    try:
        for t in ("orders", "lineitem", "customer", "nation", "part"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')"
            )
        return {name: (int(n), float(rev)) for name, n, rev in con.execute(_SALES_SQL).fetchall()}
    finally:
        con.close()


def read_sales_sinks(out_dir: str) -> dict[str, dict[str, pd.DataFrame]]:
    """{format: {table: frame}} read back from the CSV, Parquet and SQLite
    sinks, with temporal columns (taken from the Parquet schema) parsed
    to UTC datetimes, so the formats compare."""
    out: dict[str, dict[str, pd.DataFrame]] = {"csv": {}, "parquet": {}, "sqlite": {}}
    with sqlite3.connect(os.path.join(out_dir, "sales_data.db")) as conn:
        for name in SALES_TABLES:
            pq_tab = pq.read_table(os.path.join(out_dir, f"{name}.parquet"))
            temporal = [
                f.name for f in pq_tab.schema
                if str(f.type).startswith(("timestamp", "date"))
            ]
            frames = {
                "parquet": pq_tab.to_pandas(),
                "csv": pd.concat(
                    [pd.read_csv(p) for p in sorted(glob.glob(os.path.join(out_dir, f"{name}.csv", "*.csv")))],
                    ignore_index=True,
                ),
                "sqlite": pd.read_sql(f'SELECT * FROM "{name}"', conn),
            }
            for fmt, df in frames.items():
                for col in temporal:
                    df[col] = pd.to_datetime(df[col], utc=True, format="mixed")
                out[fmt][name] = df
    return out


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for col in df.columns:
        if pd.api.types.is_bool_dtype(df[col]) or pd.api.types.is_integer_dtype(df[col]):
            df[col] = df[col].astype("float64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def check_sinks_agree(sinks: dict[str, dict[str, pd.DataFrame]]) -> None:
    """The CSV, Parquet and SQLite copies of every table hold the same rows."""
    for name in SALES_TABLES:
        base = _canonical(sinks["parquet"][name])
        for fmt in ("csv", "sqlite"):
            other = sinks[fmt][name]
            _require(list(other.columns) == list(base.columns), f"{fmt}/{name}: columns differ")
            other = _canonical(other)
            _require(len(other) == len(base), f"{fmt}/{name}: {len(other)} rows vs parquet {len(base)}")
            for col in base.columns:
                a, b = base[col], other[col]
                if pd.api.types.is_float_dtype(a):
                    same = np.allclose(a.to_numpy(), b.to_numpy(dtype="float64"), rtol=1e-12, atol=0, equal_nan=True)
                else:
                    same = bool(((a.isna() & b.isna()) | (a == b)).all())
                _require(same, f"{fmt}/{name}.{col} differs from parquet")


def check_sales_rows(tables: dict[str, pd.DataFrame], expected: dict) -> None:
    """Every output table has the row count DuckDB computes."""
    for name in SALES_TABLES:
        n = len(tables[name])
        _require(n == expected[name][0], f"{name}: {n} rows, expected {expected[name][0]}")


def check_sales_revenue(tables: dict[str, pd.DataFrame], expected: dict) -> None:
    """Every summary conserves the revenue total DuckDB computes, and the
    country revenue shares add up to 100."""
    for name in SALES_TABLES:
        got = float(tables[name][REVENUE_COL[name]].sum())
        want = expected[name][1]
        _require(abs(got - want) <= 1e-9 * abs(want), f"{name}: revenue {got!r}, expected {want!r}")
    share = float(tables["country_summary"]["revenue_share"].sum())
    _require(abs(share - 100.0) <= 1e-9, f"country_summary: shares sum to {share!r}")


def check_sales(out_dir: str, expected: dict) -> None:
    """Run every sales check on a job's output directory."""
    sinks = read_sales_sinks(out_dir)
    check_sinks_agree(sinks)
    check_sales_rows(sinks["parquet"], expected)
    check_sales_revenue(sinks["parquet"], expected)


# -- corpus curation ------------------------------------------------------------

# The curation rules as the program documents them (plans/llmdata.py):
# whitespace tokens; language = CJK presence, else the argmax of stopword
# hits over en, fr, de, es with that priority on ties; quality score over
# the English stopwords; word 3-gram shingles; 16 min-hashes
# (a_j * h32 + b_j) mod (2^31 - 1) with h32 the first 8 hex digits of a
# shingle's md5; 4 bands of 4; buckets over 256 documents split by a
# (band:doc_id) md5; a candidate pair is confirmed at Jaccard >= 0.8.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "fr": ("le", "la", "de", "et", "les"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "una", "y", "los", "que"),
}
LANG_PRIORITY = ("en", "fr", "de", "es")
MIN_QUALITY = 0.5
N_SIGS, N_BANDS, BUCKET_CAP, P = 16, 4, 256, 2147483647
JACCARD = 0.8


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


_UH = [
    (_h32(f"mh_a{j}") % (2**30 - 1) + 1, _h32(f"mh_b{j}") % P) for j in range(N_SIGS)
]
_CJK = re.compile("[一-鿿]")


def language(text: str) -> str:
    if _CJK.search(text):
        return "zh"
    toks = text.lower().split(" ")
    score = {lang: sum(t in STOPWORDS[lang] for t in toks) for lang in LANG_PRIORITY}
    return next(l for l in LANG_PRIORITY if all(score[l] >= score[o] for o in LANG_PRIORITY))


def quality(text: str) -> float:
    toks = text.split(" ")
    n = len(toks)
    stop = sum(t in STOPWORDS["en"] for t in toks)
    return 0.4 * (len(set(toks)) / n) + 0.3 * (1 - stop / n) + 0.3 * min(n / 100.0, 1.0)


def shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set, b: set) -> float:
    shared = len(a & b)
    return shared / (len(a) + len(b) - shared)


class Corpus:
    """The reference computation over one generated ``documents`` table."""

    def __init__(self, corpus_dir: str):
        df = pq.read_table(os.path.join(corpus_dir, "documents.parquet")).to_pandas()
        self.rows = df.set_index("doc_id", drop=False).sort_index()
        self.text = dict(zip(self.rows.doc_id, self.rows.text))
        first: dict[str, int] = {}
        for doc_id, text in self.text.items():
            first.setdefault(text, doc_id)
        self.canon_of = {d: first[t] for d, t in self.text.items()}
        self.canonical = set(first.values())
        self.shingles = {d: shingles(self.text[d]) for d in self.canonical}
        self.near_dropped = self._near_dup_dropped()
        self.dedup_survivors = self.canonical - self.near_dropped
        self.kept_by_filters = {
            d for d, t in self.text.items() if language(t) == "en" and quality(t) >= MIN_QUALITY
        }
        self.curated_survivors = self.dedup_survivors & self.kept_by_filters

    def _near_dup_dropped(self) -> set[int]:
        """Canonical documents that are the larger id of a confirmed LSH
        pair (exact copies were already collapsed to their canonical)."""
        docs = sorted(d for d in self.canonical if self.shingles[d])
        hashes = [np.array([_h32(s) for s in self.shingles[d]], dtype=np.int64) for d in docs]
        flat = np.concatenate(hashes)
        starts = np.cumsum([0] + [len(h) for h in hashes[:-1]])
        sigs = np.stack(
            [np.minimum.reduceat((a * flat + b) % P, starts) for a, b in _UH], axis=1
        )
        rows = N_SIGS // N_BANDS
        buckets: dict[tuple[int, str], list[int]] = {}
        for d, sig in zip(docs, sigs):
            for band in range(N_BANDS):
                key = "-".join(str(int(v)) for v in sig[band * rows:(band + 1) * rows])
                buckets.setdefault((band, key), []).append(d)
        cands = set()
        for (band, _key), members in buckets.items():
            nsub = -(-len(members) // BUCKET_CAP)
            subs: dict[int, list[int]] = {}
            for d in members:
                subs.setdefault(_h32(f"{band}:{d}") % nsub, []).append(d)
            for group in subs.values():
                group.sort()
                cands.update((a, b) for i, a in enumerate(group) for b in group[i + 1:])
        return {b for a, b in cands if jaccard(self.shingles[a], self.shingles[b]) >= JACCARD}


def read_curated(out_dir: str) -> pd.DataFrame:
    """The curated corpus TrainingDataPipeline.run wrote (partitioned by
    source), one row per surviving document."""
    path = os.path.join(out_dir, "curated_documents")
    df = pq.read_table(path).to_pandas()
    return df[["doc_id", "text", "lang", "source", "n_chars"]].sort_values("doc_id").reset_index(drop=True)


def check_survivor_set(survivors: pd.DataFrame, expected: set[int], what: str) -> None:
    got = set(survivors.doc_id.astype(int))
    _require(
        got == expected,
        f"{what}: {len(got - expected)} unexpected and {len(expected - got)} missing survivors",
    )


def check_survivor_rows(survivors: pd.DataFrame, ref: Corpus) -> None:
    """Each survivor is its input row, unchanged."""
    want = ref.rows.loc[survivors.doc_id.astype(int), ["text", "lang", "source", "n_chars"]]
    for col in want.columns:
        _require(
            list(survivors[col]) == list(want[col]), f"survivor column {col} differs from the input"
        )


def check_distinct_texts(survivors: pd.DataFrame) -> None:
    digests = [hashlib.sha256(t.encode()).digest() for t in survivors.text]
    _require(len(set(digests)) == len(digests), "two survivors share a text")


def check_exact_families(survivors: pd.DataFrame, ref: Corpus) -> None:
    """An exact-duplicate family keeps at most its smallest doc_id, and
    keeps it whenever that document passes the filters and is not a near
    duplicate."""
    kept = set(survivors.doc_id.astype(int))
    for d in kept:
        _require(ref.canon_of[d] == d, f"doc {d} survives although doc {ref.canon_of[d]} has its text")
    for canon in ref.canonical & ref.kept_by_filters - ref.near_dropped:
        _require(canon in kept, f"family of doc {canon} kept none of its members")


def check_near_dup_removals(survivors: pd.DataFrame, ref: Corpus) -> None:
    """Every canonical document that passed the filters but did not
    survive has an earlier document with shingle Jaccard >= 0.8."""
    kept = set(survivors.doc_id.astype(int))
    removed = sorted((ref.canonical & ref.kept_by_filters) - kept)
    index: dict[str, list[int]] = {}
    for d in sorted(ref.canonical):
        for s in ref.shingles[d]:
            index.setdefault(s, []).append(d)
    for d in removed:
        mine = ref.shingles[d]
        earlier = {e for s in mine for e in index[s] if e < d}
        _require(
            any(jaccard(mine, ref.shingles[e]) >= JACCARD for e in earlier),
            f"doc {d} was removed but no earlier document is within Jaccard {JACCARD}",
        )


def check_curation(out_dir: str, ref: Corpus) -> None:
    survivors = read_curated(out_dir)
    check_survivor_set(survivors, ref.curated_survivors, "curated corpus")
    check_survivor_rows(survivors, ref)
    check_distinct_texts(survivors)
    check_exact_families(survivors, ref)
    check_near_dup_removals(survivors, ref)


def check_batch_docs(batch_docs: list[int], ref: Corpus) -> None:
    _require(sum(batch_docs) == len(ref.rows), f"batches hold {sum(batch_docs)} docs, corpus {len(ref.rows)}")


def check_ingest(survivors: pd.DataFrame, batch_docs: list[int], ref: Corpus) -> None:
    """The ingest fold's survivors equal the batch dedup survivors (exact
    dedup plus MinHash near-dup over the whole corpus)."""
    check_survivor_set(survivors, ref.dedup_survivors, "ingested corpus")
    check_distinct_texts(survivors)
    check_batch_docs(batch_docs, ref)
