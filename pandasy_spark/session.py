"""SparkSession factory with the engine's canonical configuration.

Scale-minded defaults:
- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast decisions) — on a 1000-executor cluster this is the
  main defense against skewed keys and mis-sized shuffles.
- Arrow on for all pandas interchange (applyInPandas/mapInPandas/
  toPandas are Arrow-batched, not pickled rows).
- ANSI off: the engine implements the reference's NULL-fill cast model
  explicitly (see functions.casts); strict raising is opt-in per cast.
- Session timezone pinned to UTC so timestamp semantics are identical
  across Spark, DuckDB oracle runs, and parquet round-trips.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "scoped_shuffle_partitions", "DEFAULT_SF_DIR"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the directory that holds the ``pandasy_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ship_package_root(spark: SparkSession) -> SparkSession:
    """Put the package root on the Python workers' ``PYTHONPATH``.

    UDF bodies import ``pandasy_spark`` inside the worker, which would
    otherwise find it only through the process's working directory.
    PySpark sends ``SparkContext.environment`` with every Python
    function it plans, and Spark puts that ``PYTHONPATH`` between its
    own worker path and the launching process's ``PYTHONPATH``."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return spark


def get_spark(
    app_name: str = "pandasy-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches cut applyInPandas/mapInPandas overhead ~3x
        # (measured on the grouped-apply bench query at sf0.1)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps (pyarrow timestamp[us]) read as
        # session-tz TIMESTAMP, not TIMESTAMP_NTZ — matches the DuckDB
        # oracle's naive reading under the pinned UTC session timezone
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT64 micros on write (not legacy INT96): parquet min/max
        # stats exist for INT64, so range-sorted layouts prune files
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return _ship_package_root(builder.getOrCreate())


class scoped_shuffle_partitions:
    """Set ``spark.sql.shuffle.partitions`` for the duration of a
    bounded block, restoring the previous value after.

    For jobs over frames that are TINY BY CONSTRUCTION (a value-
    iteration grid of at most |variants|x|states| rows, a per-round
    centroid table), the session's data-sized shuffle parallelism is
    pure scheduler overhead at ANY scale — the bounded domain, not the
    corpus, fixes the right partition count.  Only jobs PLANNED inside
    the scope are affected (the conf is read at action planning);
    callers must materialize (eager checkpoint / action) inside the
    scope for it to apply, and must not leave lazy frames to be first
    executed inside someone else's scope.

    NOT thread-safe: ``spark.sql.shuffle.partitions`` is session-
    global, so a scope held on one driver thread leaks into any job
    another thread plans concurrently (e.g. inside
    ``concurrency.materialize_concurrently``).  Callers must hold the
    scope only on a single-threaded driver path — every current call
    site (markov grid rounds, streaming query start) does."""

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n, self._prev = spark, n, None

    def __enter__(self):
        if self._n is not None:
            self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc):
        if self._prev is not None:
            self._spark.conf.set(
                "spark.sql.shuffle.partitions", self._prev
            )


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable semantics configs to a
    session we did not create (e.g. the driver's), and ship the
    package root to its Python workers."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    return _ship_package_root(spark)
