"""SparkSession factory with scale-aware defaults.

Defaults follow the public Spark tuning guidance: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to the local core count rather than the 200 default,
UTC session timezone so results hash-compare against DuckDB oracles,
and Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "pycypher-nmetl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # §6 file layout: zstd parquet for everything we write (graph
        # projections, pipeline outputs) — smaller than snappy at similar
        # read speed; env-overridable for A/B. Shuffle codec stays the
        # lz4 default (bench-comparable locally; zstd is the candidate to
        # measure on a real network, see OPTIMIZATION_r12.md).
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark otherwise records the Python call site of every F.* /
        # Column call (several py4j round trips each, plus a stack walk);
        # the site would be a compiler line, which tells a Cypher user
        # nothing
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # reader rejects; read as long and convert at the catalog layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """The one way to build a frame from Python values: ``rows`` (tuples
    in ``schema`` order) become a JVM ``LocalRelation``, so an action on
    the frame starts no job and no Python worker. ``createDataFrame`` of
    a list instead builds a Python-RDD scan (``Scan ExistingRDD``) whose
    every collect runs a job of Python-worker tasks (measured at Spark
    4.1.2, local[4]: about 300 ms per collect against under 25 ms)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return spark.createDataFrame(
        pa.Table.from_pylist(
            [dict(zip(schema.names, row)) for row in rows],
            schema=to_arrow_schema(schema),
        )
    )


# sessions (by JVM app id) whose Python worker fleet was already warmed
_WARMED: set[str] = set()


def warm_python_workers(
    spark: SparkSession, parts: int | None = None, blocking: bool = False
) -> None:
    """Spawn the local Python worker fleet off the query path.

    The first Python-boundary action of a process pays every worker's
    interpreter start + pandas/pyarrow import (measured on this engine:
    ~3.6 s idle and up to ~28 s under suite load for the first llm_*
    gate — guide §4).  One no-op Arrow batch through ``mapInPandas`` on
    ``parts`` single-row partitions forces that cost NOW;
    ``spark.python.worker.reuse`` (default on) keeps the warmed fleet
    alive for every later stage.  By default the warm job runs on a
    background daemon thread (guide §2.6 — independent jobs overlap), so
    it hides behind catalog setup and the leading JVM-only queries
    instead of serializing into engine construction (measured: a
    blocking warm added its full ~2-5 s to init while saving less than
    that on the first action).  Idempotent per session; disable with
    ``SPARK_GRAFT_NO_PYWARM=1``.
    """
    try:
        key = spark.sparkContext.applicationId
    except Exception:  # Spark Connect: remote executors, nothing local to warm
        return
    if key in _WARMED or os.environ.get("SPARK_GRAFT_NO_PYWARM"):
        return
    _WARMED.add(key)

    def _noop(batches):
        yield from batches

    n = parts or spark.sparkContext.defaultParallelism

    def _run() -> None:
        # job description/group are thread-local, so labeling here never
        # leaks onto caller-submitted jobs
        try:
            spark.sparkContext.setJobDescription("warm_python_workers")
            (
                spark.range(n, numPartitions=n)
                .mapInPandas(_noop, "id long")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        except Exception:  # session stopped mid-warm etc. — warm is best-effort
            pass

    if blocking:
        _run()
    else:
        import threading

        threading.Thread(target=_run, name="pywarm", daemon=True).start()
