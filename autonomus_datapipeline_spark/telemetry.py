"""Engine-side counters read from the Spark JVM.

Each counter is cumulative for the JVM (in local mode the driver and the
executors share it), so a caller takes the difference of two reads around
the work it wants to attribute. Spark jobs are counted per job group
instead (:func:`spark_jobs`).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations of generated classes so far. Spark compiles only
    on a codegen cache miss, so the difference of two reads is the number of
    classes the work between them could not reuse."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def spark_jobs(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn()`` under a job group of its own and return its result with
    the number of Spark jobs it ran, read from the status tracker once the
    listener bus has delivered their events. The caller's job group is
    restored afterwards."""
    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")
    group = f"spark_jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    # The status store learns of jobs from the listener bus, asynchronously.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
