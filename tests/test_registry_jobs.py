"""Spark jobs per registry query, and the schema memo of ``load_table``.

Job counts come from the status tracker (``telemetry.spark_jobs``). They
repeat exactly from run to run, so a pin catches a change that adds a job
(a footer inference, a computed aggregate broadcast into a cross join, a
separate count) without timing anything.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from autonomus_datapipeline_spark.telemetry import spark_jobs
from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY, load_table

# perfbench's registry_mix queries and their jobs per run over the test
# tables, once every table's schema is known.
REGISTRY_MIX_JOBS = {
    "pagerank_copurchase": 13,
    "hits_copurchase_2iter": 26,
    "ppjoin_prefix_filter_pairs": 15,
    "ngram_jaccard_top_pairs": 6,
    "minhash_lsh_pr_report": 14,
    "market_basket_lift": 10,
    "q3_shipping_priority": 4,
    "q18_large_volume_customers": 6,
}


def _run(spark, sf_dir, name):
    spark.catalog.clearCache()
    QUERY_REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite").save()


def test_registry_mix_job_counts_repeat_and_hold(spark, sf_dir):
    for name in REGISTRY_MIX_JOBS:
        _run(spark, sf_dir, name)
    runs = [
        {name: spark_jobs(spark, lambda: _run(spark, sf_dir, name))[1]
         for name in REGISTRY_MIX_JOBS}
        for _ in range(2)
    ]
    assert runs == [REGISTRY_MIX_JOBS, REGISTRY_MIX_JOBS]


def _schema_jobs(spark, sf_dir, name):
    return spark_jobs(spark, lambda: load_table(spark, sf_dir, name).schema)


def test_load_table_infers_a_schema_once_per_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    first, first_jobs = _schema_jobs(spark, str(tmp_path), "t")
    second, second_jobs = _schema_jobs(spark, str(tmp_path), "t")
    assert first_jobs >= 1 and second_jobs == 0
    assert second == first

    # a rewritten file (a new column) is inferred again
    spark.range(5).withColumn("x", F.col("id") * 2).write.mode(
        "overwrite").parquet(path)
    third, third_jobs = _schema_jobs(spark, str(tmp_path), "t")
    assert third_jobs >= 1 and third.fieldNames() == ["id", "x"]
    assert [r.x for r in load_table(spark, str(tmp_path), "t").orderBy("id").collect()] == [
        0, 2, 4, 6, 8]


def test_load_table_schema_follows_the_type_confs(spark, tmp_path):
    """The same footer infers another type under another conf, so the
    memo key holds the confs: a binary column reads as a string only
    while ``binaryAsString`` is on."""
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}),
                   tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    assert dict(load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["b"] == "string"
    finally:
        spark.conf.unset(key)
    assert dict(load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"


def test_events_nanos_read_as_timestamp_on_every_read(spark, tmp_path):
    """``events`` stores ``ts`` as TIMESTAMP(NANOS), which Spark reads only
    under ``nanosAsLong``; a memoized read must still convert it."""
    ts = pa.array([1_000_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ts}), tmp_path / "events.parquet")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        for _ in range(2):
            df = load_table(spark, str(tmp_path), "events")
            assert dict(df.dtypes)["ts"] == "timestamp_ntz"
            assert str(df.first().ts) == "2001-09-09 01:46:40.123456"
    finally:
        spark.conf.unset(key)
