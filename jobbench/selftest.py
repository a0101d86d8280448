"""Shows that no output check is vacuous: each job runs once on small
generated inputs, every check passes on the real output, and every check
fails on a copy of that output with one corruption aimed at it.

    python3 jobbench/run.py --self-test
"""

from __future__ import annotations

import os
import sys

import pandas as pd

import gen
import reference as ref

SEED = 5


def _drop_row(df, i=0):
    return df.drop(df.index[i]).reset_index(drop=True)


def _set(df, i, col, value):
    df = df.copy()
    df.loc[df.index[i], col] = value
    return df


def _sales_cases(out_dir: str, expected: dict):
    sinks = ref.read_sales_sinks(out_dir)
    tables = sinks["parquet"]

    def with_table(frames, name, df):
        return {**frames, name: df}

    csv_short = {**sinks, "csv": with_table(sinks["csv"], "customer_summary", _drop_row(sinks["csv"]["customer_summary"]))}
    rows_short = with_table(tables, "transactions", _drop_row(tables["transactions"]))
    rev = tables["product_summary"]
    rev_off = with_table(tables, "product_summary", _set(rev, 0, "total_revenue", rev["total_revenue"].iloc[0] + 0.5))
    return [
        ("sales: sinks agree", ref.check_sinks_agree, (sinks,), (csv_short,)),
        ("sales: row counts", ref.check_sales_rows, (tables, expected), (rows_short, expected)),
        ("sales: revenue conserved", ref.check_sales_revenue, (tables, expected), (rev_off, expected)),
    ]


def _curation_cases(out_dir: str, corpus: ref.Corpus):
    surv = ref.read_curated(out_dir)
    copy_of_survivor = next(
        d for d, c in sorted(corpus.canon_of.items()) if d != c and c in set(surv.doc_id)
    )
    extra = corpus.rows.loc[[copy_of_survivor], list(surv.columns)]
    with_copy = pd.concat([surv, extra], ignore_index=True)
    return [
        ("curation: survivor set", ref.check_survivor_set,
         (surv, corpus.curated_survivors, "curated"), (_drop_row(surv), corpus.curated_survivors, "curated")),
        ("curation: survivor rows", ref.check_survivor_rows,
         (surv, corpus), (_set(surv, 0, "text", surv.text.iloc[0] + " x"), corpus)),
        ("curation: distinct texts", ref.check_distinct_texts,
         (surv,), (_set(surv, 1, "text", surv.text.iloc[0]),)),
        ("curation: exact families", ref.check_exact_families, (surv, corpus), (with_copy, corpus)),
        ("curation: near-dup removals", ref.check_near_dup_removals, (surv, corpus), (_drop_row(surv), corpus)),
    ]


def _ingest_cases(fold: dict, corpus: ref.Corpus):
    surv = fold["survivors"]
    counts = [s["batch_docs"] for s in fold["stats"]]
    return [
        ("ingest: survivors equal batch dedup", ref.check_survivor_set,
         (surv, corpus.dedup_survivors, "ingested"), (_drop_row(surv), corpus.dedup_survivors, "ingested")),
        ("ingest: distinct texts", ref.check_distinct_texts, (surv,), (_set(surv, 1, "text", surv.text.iloc[0]),)),
        ("ingest: batch_docs sum", ref.check_batch_docs, (counts, corpus), (counts[:-1], corpus)),
    ]


def _verdict(check, args) -> bool:
    try:
        check(*args)
    except ref.CheckFailed:
        return False
    return True


def main(work: str) -> int:
    import workloads as w
    from sales_etl_pipeline_spark.session import get_spark

    star, corpus_dir = os.path.join(work, "st_star"), os.path.join(work, "st_corpus")
    gen.star_schema(star, SEED, 1_000)
    gen.documents(corpus_dir, SEED, 600)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sales_out = w.fresh_dir(os.path.join(work, "st_sales"))
        w.sales_job(spark, star, sales_out)
        cur_out = w.fresh_dir(os.path.join(work, "st_curation"))
        w.release_caches(spark)
        w.curation_job(spark, corpus_dir, cur_out)
        w.release_caches(spark)
        fold = w.ingest_job(spark, corpus_dir, w.fresh_dir(os.path.join(work, "st_ingest")))
    finally:
        w.stop_spark(spark)
    corpus = ref.Corpus(corpus_dir)
    cases = (
        _sales_cases(sales_out, ref.sales_expected(star))
        + _curation_cases(cur_out, corpus)
        + _ingest_cases(fold, corpus)
    )
    ok = True
    for name, check, good, bad in cases:
        passes, catches = _verdict(check, good), not _verdict(check, bad)
        ok &= passes and catches
        print(f"{name:40s} real output: {'pass' if passes else 'FAIL'}  corrupted: {'caught' if catches else 'MISSED'}")
    print("self-test", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
