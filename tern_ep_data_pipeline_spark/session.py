"""SparkSession construction tuned for the pipeline workload.

Single place where engine-level performance knobs live, so local tests and the
cluster deployment share one config story. Defaults are chosen for the
100 TB design point (AQE on, skew-join handling, Arrow for the few
pandas-interop edges) while remaining correct on ``local[*]``.

Runtime-settable confs live in :data:`ENGINE_CONF`, which
:func:`apply_engine_conf` can also apply to a live session. Static confs
(fixed once the JVM-side session exists) are set on
``SparkSession.builder`` in :func:`get_spark` only. The one that matters
is the generated-code cache size (:data:`CODEGEN_CACHE_ENTRIES`): a
session supplied by a host keeps Spark's 100-entry cache unless the host
sets it, and then recompiles generated classes on every pass of a
pipeline whose working set is larger.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL-conf defaults applied to every session we build. All of these are
#: runtime-settable (non-static) confs.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime re-planning, skew-join splitting, and
    # partition coalescing are the main levers at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the pandas-interop edges (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Per-call DataFrame debug-origin capture costs 2-3 extra py4j round
    # trips on EVERY Column/DataFrame API call (measured r15: doc_profile_b's
    # build alone makes 5399 py4j calls with it on, 2359 with it off).
    # Driver plan-build time is real wall time on every query (README
    # round-8 lesson); production turns the debug tracer off.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The driver testdata stores some timestamps as parquet TIMESTAMP(NANOS);
    # read them as long nanos and convert explicitly (sources.tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive local time everywhere (reference semantics) — session TZ fixed so
    # any tz-dependent function is deterministic across environments.
    "spark.sql.session.timeZone": "UTC",
}

#: Entries of Spark's generated-code cache (static
#: ``spark.sql.codegen.cache.maxEntries``, default 100). The cache is an
#: LRU keyed on the generated source, so a pipeline whose working set is
#: larger than the cache evicts each class before its next pass comes back
#: to it, and nothing is ever reused. Working sets measured on local[4]
#: with an unbounded cache (``perfbench`` workloads): a cold
#: ``etl_conditioning`` pass compiles 107 distinct classes, a
#: ``stream_dedup_append`` batch plus compaction 141, and a cold
#: ``curation_batch`` pass 446. With the default cache every warm ETL
#: pass recompiled 33 classes and every stream pass 162-167; at this
#: size warm ETL passes compile 0 and stream passes after the first 0-32
#: (new adaptive-plan variants only). The size keeps 4x headroom over the
#: largest working set.
CODEGEN_CACHE_ENTRIES = 2000

#: The directory that holds this package. :func:`get_spark` puts it first
#: on the Python workers' path (``spark.executorEnv.PYTHONPATH``): a
#: driver script that imports the package through ``sys.path`` from
#: another working directory otherwise fails at its first Arrow or
#: pandas UDF with ``ModuleNotFoundError`` in the worker.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "tern-ep-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    builder = builder.config(
        "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
    )
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(
            p for p in (PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    Used when a host harness hands us its own SparkSession: every conf in
    ``ENGINE_CONF`` is runtime-settable, so this is safe on a live session.
    Static confs are set on ``SparkSession.builder`` in :func:`get_spark`
    and cannot be applied here: a host session keeps Spark's 100-entry
    generated-code cache unless the host sets
    ``spark.sql.codegen.cache.maxEntries`` itself (see
    :data:`CODEGEN_CACHE_ENTRIES`).
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A host session may mark some confs unmodifiable; the engine
            # degrades gracefully (loaders handle missing confs themselves).
            pass
    return spark
