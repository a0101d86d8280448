"""SparkSession construction with scale-appropriate defaults.

The reference executes single-process pandas (``/root/reference/data/etl.py``,
whole file); here the equivalent knob-set is the Spark conf. Defaults chosen
for both local[N] testing and a large cluster:

- AQE on (coalesce partitions + skew-join): country/customer keys are skewed
  in the reference workload (UK >> rest, reference README.md:139).
- UTC session timezone: deterministic date-part extraction vs the oracle.
- Arrow enabled: any unavoidable pandas interchange is vectorized.
- ``nanosAsLong``: the driver test data's ``events.ts`` is ns-precision
  INT64, which Spark's vectorized parquet reader rejects; we read it as a
  long and convert explicitly (see sources/readers.py:load_events).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def default_master() -> str:
    """``local[<usable cores>]``; ``SPARK_GRAFT_CPUS`` overrides the core
    count and ``SPARK_GRAFT_MASTER`` the whole master URL."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "sales-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or default_master())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep stdout small: stage-progress bars flooded the r11 driver's
        # 2000-char tail window and pushed bench.py's compact line out of
        # the recorded artifact (BENCH_r10.json parsed:null)
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    return builder.getOrCreate()


def _ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    Module-level functions used inside ``mapInPandas``/UDFs are
    cloudpickled BY REFERENCE (module + qualname), so the worker process
    must be able to ``import sales_etl_pipeline_spark`` — which fails
    when the driving process was launched from a cwd outside the repo
    (observed: the verification driver's ``mm_image_features`` run).
    A zip of the package on the Spark file server makes workers
    self-sufficient regardless of launcher cwd/PYTHONPATH."""
    try:
        sc = spark.sparkContext
        if getattr(sc, "_sales_etl_pipeline_spark_shipped", False):
            return
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="sales-etl-pipeline-spark-pyfiles-")
        zip_base = os.path.join(staging, "sales_etl_pipeline_spark")
        archive = shutil.make_archive(
            zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(archive)
        sc._sales_etl_pipeline_spark_shipped = True
    except Exception:
        # Connect-mode sessions have no sparkContext; classic sessions
        # launched from the repo root don't need the zip. Best-effort.
        pass


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity/perf confs to an externally-created
    session (the verification driver builds its own SparkSession)."""
    _ensure_package_on_workers(spark)
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not settable at runtime on this build — loaders have
            # per-call fallbacks (see sources/readers.py).
            pass
    return spark
