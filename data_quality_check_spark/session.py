"""SparkSession factory with scale-oriented defaults.

The sandbox runs `local[N]` in one JVM; the same configs are what we would pass to
`spark-submit` on a 1000-executor cluster. Iceberg extensions are enabled only when
the runtime jar is actually on the classpath (it is not in this sandbox), so all
table IO goes through `sources.tables.TableIO`, which is Iceberg-first with a
layout-compatible Parquet fallback.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Catalyst/AQE settings we always want, cluster or local.
_BASE_CONF: dict[str, str] = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound the size of Arrow batches handed to pandas UDFs: captions are small,
    # but `bytes` image payloads are not — keep batches memory-safe.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Deterministic timestamps across engines (DuckDB oracle runs in UTC too).
    "spark.sql.session.timeZone": "UTC",
    # UDF-heavy scans want ≥2-4 tasks per core: with the default 128 MB splits a
    # medium table yields ~1 task wave and any imbalance doubles the stage wall.
    "spark.sql.files.maxPartitionBytes": "33554432",
    # Quieter driver logs in tests.
    "spark.ui.showConsoleProgress": "false",
    # Image tables allocate one byte[] per value at GB/s rates; G1's region
    # machinery degrades badly past ~16 allocating threads (measured: 3-8x jitter
    # on a 32-thread scan), while the throughput collector stays flat. UseAVX=2
    # works around JIT avx-512 arraycopy stub SIGSEGVs on virtualized Xeons.
    "spark.driver.extraJavaOptions": "-XX:UseAVX=2 -XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:UseAVX=2 -XX:+UseParallelGC",
}


def iceberg_available() -> bool:
    """True when the Iceberg Spark runtime jar is importable by the JVM."""
    jars = os.environ.get("SPARK_GRAFT_ICEBERG_JAR", "")
    return bool(jars) and os.path.exists(jars)


def get_spark(
    app_name: str = "data_quality_check_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Parameters mirror what a `spark-submit` wrapper would set:
      * `master`: default `local[$SPARK_GRAFT_CPUS]` in the sandbox.
      * `shuffle_partitions`: default = 2× parallelism locally; on a real cluster
        leave unset and let AQE coalesce from a high initial value.
      * `warehouse`: catalog warehouse dir (Iceberg hadoop catalog when available).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)

    conf = dict(_BASE_CONF)
    if shuffle_partitions is None:
        # local[N]: N-ish partitions avoids tiny-task overhead; AQE coalesces down.
        n = cpus if master.startswith("local") else 2000
        conf["spark.sql.shuffle.partitions"] = str(n)
    else:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)

    if warehouse:
        conf["spark.sql.warehouse.dir"] = warehouse

    if iceberg_available():
        # Production path: hadoop-type Iceberg catalog named `local`.
        conf.update(
            {
                "spark.sql.extensions": (
                    "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
                ),
                "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
                "spark.sql.catalog.local.type": "hadoop",
                "spark.sql.catalog.local.warehouse": warehouse or "/tmp/iceberg-warehouse",
                "spark.jars": os.environ["SPARK_GRAFT_ICEBERG_JAR"],
            }
        )

    if extra_conf:
        conf.update(extra_conf)

    for k, v in conf.items():
        builder = builder.config(k, v)
    # getActiveSession is thread-local; getOrCreate ALSO reuses the
    # process-global default session created by another thread, so check both
    # or the reconciliation/warning below silently skips exactly the case it
    # exists for. PySpark exposes no public default-session accessor (classic
    # mode) — `_instantiatedSession` IS that slot (what getOrCreate consults);
    # guarded getattr so Connect/other runtimes without it degrade to the
    # thread-local check rather than breaking.
    reused = (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
    )
    spark = builder.getOrCreate()
    if reused:
        # getOrCreate on a live session IGNORES every builder config; say so
        # for any setting that actually differs instead of silently dropping
        # the caller's request (runtime-settable keys still apply, the rest
        # need a fresh session)
        stale = []
        for k, v in conf.items():
            try:
                if spark.conf.get(k, None) != v:
                    spark.conf.set(k, v)  # runtime-settable → honor it
            except Exception:
                stale.append(k)
        if stale:
            import warnings

            warnings.warn(
                "get_spark reused an existing SparkSession; static settings "
                f"{sorted(stale)} differ from the request and were NOT applied "
                "(stop the session to change them)",
                stacklevel=2,
            )
    return spark
