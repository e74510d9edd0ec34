"""SparkSession construction and runtime configuration.

The engine never assumes it owns the session: the verification driver passes
its own ``SparkSession`` into ``queries()[k](spark, sf_dir)``.  Everything the
engine needs at runtime is therefore applied via :func:`configure_session`
(runtime-settable SQL confs only); :func:`get_spark` is the convenience
builder used by tests and ``bench.py``.

Determinism-critical confs (SURVEY.md §2.11):
- ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are naive; reading
  parquet ms/ns timestamps under UTC makes Spark's instant semantics agree
  with the oracle's naive semantics for date_trunc/year/window.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the ``events.ts`` column is
  parquet TIMESTAMP(NANOS) which PySpark 4.x otherwise refuses
  (PARQUET_TYPE_ILLEGAL); under this conf it arrives as bigint nanoseconds
  and the catalog derives proper timestamp/epoch-ms columns once.

Scale posture (100 TB north star): AQE on (runtime join re-planning, skew
join splitting, partition coalescing); shuffle partitions sized by env so the
same code runs local[4] in tests and 1000-executor clusters unchanged.

Python workers start through :mod:`scala_reactivex_spark.worker_daemon`
(``spark.python.daemon.module``, set by :func:`get_spark` only): pyspark's
own daemon with the spark-core jar taken off the workers' ``sys.path``, so
the ``importlib.invalidate_caches()`` at the start of every Python task no
longer re-reads the jar's directory.  It is set only when a worker can
import the engine: a local worker starts in the driver's working directory
with the driver's ``PYTHONPATH``, so a driver that found the engine some
other way keeps pyspark's own daemon instead of a daemon that cannot start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session that runs engine plans.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally owned session.

    Idempotent and cheap; called from the catalog layer so every query path
    is safe even when the driver built the session without these confs.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime on this build — leave as-is; the
            # catalog read will raise a clear error if it truly mattered.
            pass
    return spark


def _workers_import_engine() -> bool:
    """Whether a local Python worker finds this package: its parent
    directory is the working directory, on ``PYTHONPATH``, or a
    site-packages directory."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return any(
        os.path.realpath(e) == os.path.realpath(root) for e in entries if e
    )


def get_spark(
    app_name: str = "scala-reactivex-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session for tests / bench.

    Honors ``SPARK_GRAFT_CPUS`` (core count for ``local[n]``) and
    ``SPARK_GRAFT_SHUFFLE`` (shuffle partition count) so the bench harness
    and CI control parallelism without code changes.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if _workers_import_engine():
        builder = builder.config(
            "spark.python.daemon.module", "scala_reactivex_spark.worker_daemon"
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_session(builder.getOrCreate())
