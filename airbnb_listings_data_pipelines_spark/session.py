"""SparkSession factory.

Local testing runs on ``local[N]``; the configs below are chosen so the same
logical plans scale to a multi-executor cluster:

- AQE on (runtime coalesce / skew-join / broadcast demotion),
- modest ``spark.sql.shuffle.partitions`` for local runs (AQE coalesces
  anyway; on a real cluster this would be sized to ~2-3x total cores),
- UTC session timezone so date/timestamp semantics are engine-independent
  (the DuckDB oracle runs naive/UTC),
- Arrow enabled for the pandas-UDF extension operators,
- ``nanosAsLong`` because the driver's events.parquet carries
  TIMESTAMP(NANOS) which vanilla Spark 4 refuses to read
  (sources/tpch.py converts the long back to a timestamp).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airbnb-listings-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # the cores this process may run on (SPARK_GRAFT_CPUS overrides)
    cores = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(cores)
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or (int(cpus) if cpus.isdigit() else cores)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to Python workers once per SparkContext — the
    package's one ``addPyFile`` call.

    mapInPandas/pandas_udf closures that reference package-module helpers
    (heavyhitters._mg_update, the multimodal codecs) are cloudpickled BY
    REFERENCE, so the executor-side Python must be able to import
    ``airbnb_listings_data_pipelines_spark``. A driver started from the
    repository root gets that by accident (workers inherit the cwd); a
    driver started anywhere else fails with a worker-side
    ModuleNotFoundError. ``addPyFile`` of a package zip is the standard,
    cwd-independent fix (same mechanism spark-submit --py-files uses);
    one ~100 KB zip per context, guarded to run once.

    The temp zip is removed at interpreter exit (``addPyFile`` copies it
    into the SparkContext's own staging dir immediately, so the original
    is safe to delete, but not before this process ends — a second
    SparkContext in the same process would re-enter here anyway). If the
    package is not importable as a plain directory of .py files (zip/egg
    install), os.walk finds nothing — raise instead of shipping an empty
    archive that would silently reintroduce the worker-side
    ModuleNotFoundError.
    """
    sc = spark.sparkContext
    if getattr(sc, "_alp_pyfile_added", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, zpath = tempfile.mkstemp(suffix=".zip", prefix="alp_pkg_")
    os.close(fd)
    n_added = 0
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
                    n_added += 1
    if n_added == 0:
        with contextlib.suppress(OSError):
            os.remove(zpath)
        raise RuntimeError(
            f"cannot ship package to Python workers: no .py files under {pkg_dir!r} "
            "(zip/egg install?) — pass the package via spark-submit --py-files instead"
        )

    def _cleanup(path: str = zpath) -> None:
        with contextlib.suppress(OSError):
            os.remove(path)

    atexit.register(_cleanup)
    sc.addPyFile(zpath)
    sc._alp_pyfile_added = True
