"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same configs are what we'd set on a
real cluster (AQE on, skew-join handling, sane broadcast threshold). Nothing
here is local-mode-specific except the master default.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

_DEFAULT_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime re-planning, skew-join splitting,
    # shuffle-partition coalescing — essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas boundary (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI stays at Spark 4's default (on) — the driver's plain session runs
    # ANSI-on, so every query must be ANSI-safe; forcing it off here would
    # let overflow bugs pass locally and crash under the driver.
    # Timestamps: testdata uses naive timestamps; keep session TZ at UTC so
    # Spark and the DuckDB oracle agree.
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Parquet nanosecond timestamps (e.g. events.ts) otherwise fail with
    # PARQUET_TYPE_ILLEGAL; read as long and convert at the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No pre-1582 dates in our data: skip per-value rebase checks on scan.
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # INT96 timestamps carry no parquet footer min/max: TIMESTAMP_MICROS
    # keeps data skipping on timestamp columns (TableStore also sets it).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

_TEMP_VIEW_LOCK = threading.Lock()


def sql_over_views(
    spark: SparkSession, views: dict[str, DataFrame], sql: str
) -> DataFrame:
    """Register ``views`` as temp views and run ``sql`` over them.

    Temp views are global to a session: a name one node binds could be
    rebound by a concurrently running node before the first node's
    statement reads it. Binding and ``spark.sql`` (which analyzes eagerly,
    resolving each view into the plan) happen under one lock; building
    the frames and executing the result stay outside it."""
    with _TEMP_VIEW_LOCK:
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        return spark.sql(sql)


def get_spark(
    app_name: str = "basis-devkit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you'd leave it to AQE's coalescing with a high initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_relation(spark: SparkSession, rows, schema):
    """Tiny literal DataFrame as a JVM-side LocalRelation.

    ``spark.createDataFrame(list)`` routes through ``parallelize`` — a
    default-parallelism python-RDD scan that costs a full multi-task
    job dispatch (~2-5 s on local[32]) EVERY time an action evaluates
    it; going through a pandas frame with Arrow enabled produces a true
    LocalRelation (~0.03 s, no job). Use this for every bounded literal
    relation on a hot path (seed rows, quantile lists, weight tables).
    ``schema`` is a DDL string or StructType; ``rows`` a list of tuples
    (possibly empty).
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, _parse_datatype_string

    st: StructType = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if not rows:
        # Both empty pandas frames AND createDataFrame([], st) fall
        # back to a parallelize RDD scan (32-task job per action), and
        # a range(0).select(lit-casts) loses nullability + field
        # metadata. The JVM createDataFrame(List[Row], schema) overload
        # builds a true LocalTableScan with the StructType verbatim.
        jdt = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
            st.json()
        )
        jdf = spark._jsparkSession.createDataFrame(
            spark._jvm.java.util.ArrayList(), jdt
        )
        from pyspark.sql import DataFrame as _DF

        return _DF(jdf, spark)
    pdf = pd.DataFrame(rows, columns=list(st.names))
    return spark.createDataFrame(pdf, st)
