"""SparkSession factory tuned for scale.

The reference builds ad-hoc sessions per request with tiny fixed shuffle
partition counts (reference: backend/app/utils/spark_utils.py:43-116 — 2 for
dry-runs, 4 for MinIO jobs) and stops/recreates sessions to avoid config bleed.
We instead keep one long-lived session with AQE enabled so partition counts are
decided at runtime from real data sizes: on a 1000-executor cluster the same
code path holds because AQE coalesces/splits post-shuffle partitions and
handles skew joins without hand-tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 2000
# The directory that holds this package: Python workers get it on their
# PYTHONPATH, so UDFs that import the package run whatever the caller's cwd.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "autonomus-datapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Config choices, each with the 100 TB rationale:

    - AQE on (+ coalescePartitions + skewJoin): shuffle partition sizing and
      skew mitigation are decided from runtime statistics, so the same job
      works at sf0.001 and at 100 TB without retuning.
    - Arrow enabled: any pandas-UDF / toPandas path moves columnar batches,
      not pickled rows.
    - ``parquet.filterPushdown`` / vectorized reader are Spark defaults but we
      assert them explicitly — the medallion layers are all Parquet precisely
      so scans prune columns and push predicates (the reference's CSV layers
      defeated this; SURVEY.md §4).
    - partitionOverwriteMode=dynamic: layer rewrites only touch the partitions
      present in the incoming batch (reference: bronze_ingestion.py:55).
    - codegen cache of CODEGEN_CACHE_ENTRIES generated classes: the session
      is long-lived so that repeated plans reuse their compiled code, but
      Spark's default cache holds 100 classes and one pass over perfbench's
      8 ``registry_mix`` queries compiles about 280, so LRU eviction dropped
      each class before the next pass reached it. Measured on 4 cores, 4–6
      passes per session, two or three sessions per size: after the cold
      pass, a pass compiled 271–278 classes at 100 entries, 0–20 at 500 and
      2–26 at 2000, and its median wall was 5.6–7.4 s at 100, 4.8–6.0 s at
      500 and 4.5–5.1 s at 2000. Peak RSS ranged 3.8–5.6 GB at every size:
      the spread of JVM heap growth hides the cached classes' metaspace.
      2000 holds several such working sets, so one session can interleave
      the registry with the medallion layers without evicting either.
    - ``spark.sql.codegen.useIdInClassName`` off: by default a generated
      class is named after its whole-stage-codegen stage id, and adaptive
      execution numbers a query's stages in the order its concurrent stages
      finish, so an unchanged plan could miss the cache under a new name
      (2–26 recompiles per steady ``registry_mix`` pass at 2000 entries).
      The cache key is the generated source, so dropping the id lets every
      repeat of a plan reuse its class.
    - ``spark.executorEnv.PYTHONPATH`` = PACKAGE_PARENT: a Python worker
      starts in Spark's own working directory, so a UDF closure that
      imports this package failed with ``ModuleNotFoundError`` whenever the
      driver reached the package only through a ``sys.path`` insert from
      another cwd. Spark appends the worker's inherited PYTHONPATH.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # zstd: ~30% smaller than snappy at similar scan speed — at 100 TB
        # the storage/IO saving dominates the marginal encode cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
