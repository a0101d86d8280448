"""Job benchmark: runs one named workload through the program's public
entry points, checks its outputs against computations made outside the
program, and prints one JSON line of metrics.

    python3 jobbench/run.py --workload sales_etl --seed 1 --seconds 15 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a traced run, which
also writes its spans to ``.jobbench/traces/``. ``--self-test`` runs each
job once on small inputs and shows every output check failing on a
corrupted copy of the output. See jobbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".jobbench", "work")
TRACES = os.path.join(ROOT, ".jobbench", "traces")

#: generated input sizes: the measured job's input (the warm-up pass runs
#: the same job on a separate input of this size), and the small probe
#: input of a layer the workload itself does not reach
STAR_ORDERS, STAR_PROBE_ORDERS = 50_000, 1_000
CORPUS_DOCS, CORPUS_PROBE_DOCS = 10_000, 300
WORKLOADS = ("sales_etl", "corpus_curation")
#: a run measures one whole job per this many seconds of --seconds (at
#: least one) and reports the median; a job takes 8-28 s on 4 cores
JOB_WINDOW_S = 15
#: JVM heap of the Spark driver. On the program's 8g default the heap
#: grows differently each run (3.1-4.2 GB peak resident over four
#: sales_etl runs) and job_s spread over twice the range it does on 2g,
#: which holds either job (1.8-2.1 GB peak resident)
DRIVER_MEM = "2g"
SALES_INPUT_TABLES = ("orders", "lineitem", "customer", "nation", "part")


def _process_start_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def _isolate_scratch() -> None:
    """Keep every file Spark, the JVM and Python's tempfile write inside
    the checkout; run one task thread per core on a fixed heap."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"


class Bench:
    """One run of one workload: its generated inputs, the Spark session,
    and the count of operations attempted, failed and checked."""

    def __init__(self, workload: str, seed: int):
        import gen
        import workloads

        self.workload, self.seed = workload, seed
        self.w = workloads
        self.star = self.corpus = None
        # seed of the separate warm-up and probe inputs
        self.warm_seed = seed * 7919 + 13
        self.warm = os.path.join(WORK, "in", "warm")
        if workload == "sales_etl":
            self.star = os.path.join(WORK, "in", "star")
            gen.star_schema(self.star, seed, STAR_ORDERS)
            gen.star_schema(self.warm, self.warm_seed, STAR_ORDERS)
        else:
            self.corpus = os.path.join(WORK, "in", "corpus")
            gen.documents(self.corpus, seed, CORPUS_DOCS)
            gen.documents(self.warm, self.warm_seed, CORPUS_DOCS)
        self.attempted = self.failed = 0
        self.correct = True

    # -- jobs ---------------------------------------------------------------

    def job(self, src: str, out: str):
        if self.workload == "sales_etl":
            return self.w.sales_job(self.spark, src, out)
        return self.w.curation_job(self.spark, src, out)

    @property
    def src(self) -> str:
        return self.star if self.workload == "sales_etl" else self.corpus

    def start(self) -> dict:
        from sales_etl_pipeline_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        self.job(self.warm, self.w.fresh_dir(os.path.join(WORK, "warmup_out")))
        self.w.release_caches(self.spark)
        return {"session.start_s": start_s, "session.first_job_s": time.perf_counter() - t}

    def timed_job(self, n: int, sample_memory: bool = False) -> dict:
        """One job on a fresh output directory with the program's caches
        released; returns its wall time, CPU, output and, when sampled,
        peak memory."""
        import probe

        out = self.w.fresh_dir(os.path.join(WORK, f"out_{n}"))
        self.w.release_caches(self.spark)
        group = f"jobbench-{n}"
        self.spark.sparkContext.setJobGroup(group, f"{self.workload} job {n}")
        self.attempted += 1
        t0 = time.time()
        with probe.ResourceMeter(sample_memory) as meter:
            t = time.perf_counter()
            try:
                self.job(self.src, out)
            except Exception as exc:  # a failed job is counted, not fatal
                print(f"job {n} failed: {exc!r}", file=sys.stderr)
                self.failed += 1
                return {}
            job_s = time.perf_counter() - t
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return {
            "job_s": job_s,
            "cpu_s": meter.cpu_s,
            "peak_rss_mb": meter.peak_rss / 2**20,
            "output_mb": probe.dir_bytes(out) / 2**20,
            "out": out,
            "group": group,
            "t0": t0,
            "t1": time.time(),
        }

    # -- checks -------------------------------------------------------------

    def _guarded(self, fn, *args) -> None:
        import reference

        try:
            fn(*args)
        except reference.CheckFailed as exc:
            print(f"check failed: {exc}", file=sys.stderr)
            self.correct = False

    def check_job(self, out: str) -> None:
        import reference

        if self.workload == "sales_etl":
            if not hasattr(self, "expected"):
                self.expected = reference.sales_expected(self.star)
            self._guarded(reference.check_sales, out, self.expected)
        else:
            self._guarded(reference.check_curation, out, self.corpus_ref(self.corpus))

    def corpus_ref(self, path: str):
        import reference

        if not hasattr(self, "_refs"):
            self._refs = {}
        if path not in self._refs:
            self._refs[path] = reference.Corpus(path)
        return self._refs[path]

    # -- modes --------------------------------------------------------------

    def measure(self, seconds: int) -> dict:
        rounds = max(1, seconds // JOB_WINDOW_S)
        runs = [r for r in (self.timed_job(i) for i in range(rounds)) if r]
        for r in runs:
            print(f"job {r['group']}: {r['job_s']:.3f} s wall, {r['cpu_s']:.2f} s cpu", file=sys.stderr)
        for r in runs:
            self.check_job(r["out"])
        keys = ("job_s", "cpu_s", "output_mb")
        return {k: statistics.median(r[k] for r in runs) for k in keys} if runs else {}

    def traced(self, session: dict) -> dict:
        """Per-layer metrics: the job traced between two untraced runs of
        it, then each layer timed on its own."""
        import gen
        import probe

        before = self.timed_job(0)
        tracer = probe.Tracer()
        self.w.install_spans(tracer)
        try:
            traced = self.timed_job(1, sample_memory=True)
            job_spans = list(tracer.spans)
            tracer.unwrap_all()
            after = self.timed_job(2)
            self.w.install_spans(tracer)
            if not (before and traced and after):
                return {}
            stats = probe.spark_job_stats(self.spark, traced["group"], traced["t0"], traced["t1"])
            self.check_job(traced["out"])
            m = dict(session)
            m.update({f"pipeline.{k}": v for k, v in stats.items()})
            m["trace.job_s"] = traced["job_s"]
            m["memory.peak_rss_mb"] = traced["peak_rss_mb"]
            # against the mean of the runs either side, so the JVM warming
            # up from one job to the next does not read as tracing cost
            m["trace.overhead_s"] = traced["job_s"] - (before["job_s"] + after["job_s"]) / 2
            m["writers.sqlite_rows_to_driver"] = self.w.sqlite_rows_to_driver(tracer, job_spans)
            # a layer the job does not reach is measured on the small probe
            # input of its kind, so every layer reports on every workload
            probe_in = os.path.join(WORK, "in", "probe")
            star = self.star or probe_in
            corpus = self.corpus or probe_in
            if self.star is None:
                gen.star_schema(star, self.warm_seed, STAR_PROBE_ORDERS)
            else:
                gen.documents(corpus, self.warm_seed, CORPUS_PROBE_DOCS)
            self.w.release_caches(self.spark)
            if self.workload == "sales_etl":
                m.update(self.w.readers_layer(self.spark, self.star, SALES_INPUT_TABLES))
                outputs = {
                    name: os.path.join(traced["out"], f"{name}.parquet")
                    for name in ("customer_summary", "product_summary", "daily_sales", "country_summary", "transactions")
                }
            else:
                m.update(self.w.readers_layer(self.spark, self.corpus, ("documents",)))
                outputs = {"curated_documents": os.path.join(traced["out"], "curated_documents")}
            m.update(self.w.parity_layer(self.spark, star))
            m.update(self.w.llmdata_layer(self.spark, corpus))
            m.update(self.w.writers_layer(self.spark, outputs, os.path.join(WORK, "writers_out")))
            self.attempted += 1
            try:
                fold = self.w.ingest_job(self.spark, corpus, self.w.fresh_dir(os.path.join(WORK, "ingest_out")))
            except Exception as exc:
                print(f"ingest fold failed: {exc!r}", file=sys.stderr)
                self.failed += 1
            else:
                import reference

                self._guarded(
                    reference.check_ingest,
                    fold["survivors"],
                    [s["batch_docs"] for s in fold["stats"]],
                    self.corpus_ref(corpus),
                )
                in_bytes = os.path.getsize(os.path.join(corpus, "documents.parquet"))
                m.update(self.w.ingest_layer(fold, in_bytes))
        finally:
            tracer.unwrap_all()
            tracer.dump(os.path.join(TRACES, f"{self.workload}-seed{self.seed}.json"))
        return m


def _units(key: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[key]}


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=int, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--self-test", action="store_true")
    args = parser.parse_args(argv)
    if not args.self_test and not args.workload:
        parser.error("--workload is required")

    import shutil

    shutil.rmtree(WORK, ignore_errors=True)
    _isolate_scratch()
    sys.path.insert(0, ROOT)
    if args.self_test:
        import selftest

        try:
            return selftest.main(WORK)
        finally:
            shutil.rmtree(WORK, ignore_errors=True)

    bench = None
    try:
        bench = Bench(args.workload, args.seed)
        session = bench.start()
        setup_s = _process_start_s()
        if args.trace:
            metrics = bench.traced(session)
            units = _units("per_layer")
        else:
            metrics = bench.measure(args.seconds)
            metrics["setup_s"] = setup_s
            units = _units("end_to_end")
    finally:
        if hasattr(bench, "spark"):
            bench.w.stop_spark(bench.spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if bench.failed == bench.attempted:
        print("no job completed", file=sys.stderr)
        return 1
    missing = set(units) - set(metrics)
    if missing:
        print(f"metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
