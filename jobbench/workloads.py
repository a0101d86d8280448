"""The jobs the benchmark times, and the per-layer measurements of the
traced run. Every call goes through the program's public entry points;
layer times are taken from outside, around calls into each layer, with a
``noop`` write forcing Spark's lazy plans to run to completion."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import time

from pyspark.sql import Observation, functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from sales_etl_pipeline_spark.operators import pipeline as pipeline_mod
from sales_etl_pipeline_spark.operators.pipeline import AnalyticsPipeline, TrainingDataPipeline
from sales_etl_pipeline_spark.plans import llmdata, parity, validation
from sales_etl_pipeline_spark.sources import readers, writers

import probe

SALES_FORMATS = ["csv", "parquet", "sqlite"]
INGEST_BATCHES = 2
PARITY_PLANS = (
    "clean_transactions",
    "customer_summary",
    "product_summary",
    "daily_sales_moving_avg",
    "country_summary",
)
LLMDATA_PLANS = ("lang_id", "text_quality", "exact_dedup", "minhash_near_dup")


def release_caches(spark) -> None:
    """Drop every relation the program pinned, so no job is served from
    the previous one's caches."""
    spark.catalog.clearCache()
    llmdata.release_plan_caches()
    llmdata.release_incremental_caches()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and its Python workers, and wait
    until each has exited."""
    others = [p for p in probe.process_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + 15
    for pid in others:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def sales_job(spark, src: str, out: str) -> dict:
    return AnalyticsPipeline(spark, src, out).run(SALES_FORMATS, validate_first=True)


def curation_job(spark, src: str, out: str) -> dict:
    return TrainingDataPipeline(spark, src, out).run()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def _files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def ingest_job(spark, src: str, out: str, n_batches: int = INGEST_BATCHES) -> dict:
    """Fold the corpus through ``ingest_batch`` in ``n_batches`` id-ordered
    batches; return the per-batch stats, times and state bytes written,
    and the survivors."""
    docs = readers.load_table(spark, src, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    pipe = TrainingDataPipeline(spark, src, out)
    state = os.path.join(out, "ingest_state")
    stats, times, written = [], [], 0
    for b in range(n_batches):
        lo_id, hi_id = b * hi // n_batches, (b + 1) * hi // n_batches
        batch = docs.filter((F.col("doc_id") >= lo_id) & (F.col("doc_id") < hi_id))
        before = _files(state)
        t = time.perf_counter()
        stats.append(pipe.ingest_batch(batch))
        times.append(time.perf_counter() - t)
        written += sum(size for p, size in _files(state).items() if before.get(p) != size)
    survivors = pipe.ingested_survivors().toPandas()
    return {
        "stats": stats,
        "batch_s": times,
        "state_bytes_written": written,
        "state_bytes": probe.dir_bytes(state),
        "survivors": survivors,
    }


# -- per-layer measurements --------------------------------------------------------


def readers_layer(spark, src: str, tables) -> dict:
    """Scan each input table to completion; total time and rows."""
    total, rows = 0.0, 0
    for name in tables:
        seen = Observation(f"scan_{name}")
        t = time.perf_counter()
        _noop(readers.load_table(spark, src, name).observe(seen, F.count(F.lit(1)).alias("n")))
        total += time.perf_counter() - t
        rows += seen.get["n"]
    return {"readers.scan_s": total, "readers.rows": rows}


def parity_layer(spark, star: str) -> dict:
    out = {}
    for name in PARITY_PLANS:
        release_caches(spark)
        out[f"parity.{name}_s"] = _timed(lambda: _noop(getattr(parity, name)(spark, star)))
    release_caches(spark)
    out["validation.dq_report_s"] = _timed(lambda: validation.dq_report(spark, star).collect())
    return out


def llmdata_layer(spark, corpus: str) -> dict:
    out = {}
    for name in LLMDATA_PLANS:
        release_caches(spark)
        out[f"llmdata.{name}_s"] = _timed(lambda: _noop(getattr(llmdata, name)(spark, corpus)))
    release_caches(spark)
    cand = llmdata.minhash_band_stats(spark, corpus).agg(F.sum("capped_pairs")).first()[0] or 0
    release_caches(spark)
    # confirmed pairs at the grain LSH works on: both sides canonical
    canon = llmdata.exact_dedup(spark, corpus).select("doc_id")
    pairs = (
        llmdata.minhash_near_dup(spark, corpus)
        .join(canon.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(canon.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .count()
    )
    release_caches(spark)
    out["llmdata.lsh_candidate_pairs"] = cand
    out["llmdata.near_dup_pairs"] = pairs
    out["llmdata.lsh_useful_ratio"] = pairs / cand if cand else 0.0
    return out


def writers_layer(spark, tables: dict[str, str], dest: str) -> dict:
    """Write each of the job's output tables (read back from the job's
    Parquet output, so the writer's own cost is what is timed) through
    the CSV, Parquet and SQLite writers."""
    fresh_dir(dest)
    out = {"writers.csv_s": 0.0, "writers.parquet_s": 0.0, "writers.sqlite_s": 0.0}
    db = os.path.join(dest, "tables.db")
    for name, path in tables.items():
        df = spark.read.parquet(path)
        out["writers.csv_s"] += _timed(writers.write_csv, df, os.path.join(dest, f"{name}.csv"))
        out["writers.parquet_s"] += _timed(writers.write_parquet, df, os.path.join(dest, f"{name}.parquet"))
        out["writers.sqlite_s"] += _timed(writers.write_sqlite, df, db, name)
    out["writers.bytes_csv"] = sum(probe.dir_bytes(os.path.join(dest, f"{n}.csv")) for n in tables)
    out["writers.bytes_parquet"] = sum(probe.dir_bytes(os.path.join(dest, f"{n}.parquet")) for n in tables)
    out["writers.bytes_sqlite"] = os.path.getsize(db)
    return out


def sqlite_rows_to_driver(tracer: probe.Tracer, spans: list[dict]) -> int:
    """Rows that ``write_sqlite`` materialised whole on the driver
    (``toPandas``, ``collect`` or ``toArrow`` called by it) in ``spans``."""
    return tracer.rows_under("driver.", "writers.write_sqlite", spans)


def ingest_layer(result: dict, input_bytes: int) -> dict:
    times = result["batch_s"]
    return {
        "pipeline.ingest_batch_s": statistics.median(times),
        "pipeline.ingest_batch_growth": times[-1] / times[0],
        "pipeline.state_bytes_written": result["state_bytes_written"] / input_bytes,
    }


def install_spans(tracer: probe.Tracer) -> None:
    """Record a span around every public call the two jobs and the ingest
    fold make into the program's layers, and around every call that
    materialises a whole DataFrame on the driver, with its row count."""
    for cls, methods in (
        (AnalyticsPipeline, ("run", "extract", "validate", "transform", "load")),
        (TrainingDataPipeline, ("run", "curated", "ingest_batch", "ingested_survivors")),
    ):
        for m in methods:
            tracer.wrap(cls, m, f"pipeline.{cls.__name__}.{m}")
    tracer.wrap(pipeline_mod, "load_star", "readers.load_star")
    tracer.wrap(pipeline_mod, "save_tables", "writers.save_tables")
    for mod in (readers, parity, validation, llmdata):
        tracer.wrap(mod, "load_table", "readers.load_table")
    for name in PARITY_PLANS:
        tracer.wrap(parity, name, f"parity.{name}")
    tracer.wrap(validation, "dq_report", "validation.dq_report")
    for name in ("write_csv", "write_parquet", "write_sqlite"):
        tracer.wrap(writers, name, f"writers.{name}")
    for name in LLMDATA_PLANS + (
        "incremental_exact_dedup", "incremental_minhash_near_dup", "minhash_index",
    ):
        tracer.wrap(llmdata, name, f"llmdata.{name}")
    for name, size in (("toPandas", len), ("collect", len), ("toArrow", lambda t: t.num_rows)):
        tracer.wrap(ClassicDataFrame, name, f"driver.{name}", size=size)
