"""Engine-side counters read from the Spark JVM.

Each counter is cumulative for the JVM (in local mode the driver and the
executors share it), so a caller takes the difference of two reads around
the work it wants to attribute.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations of generated classes so far. Spark compiles only
    on a codegen cache miss, so the difference of two reads is the number of
    classes the work between them could not reuse."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
