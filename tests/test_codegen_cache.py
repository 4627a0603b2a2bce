"""The session's codegen cache holds the engine's working set.

Spark compiles a generated class only on a cache miss, so the number of
compiles (``telemetry.codegen_compiles``) around a repeated run says how
much of the previous run's generated code was reused.
"""

from __future__ import annotations

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine import Pipeline
from autonomus_datapipeline_spark.telemetry import codegen_compiles
from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY

# The queries of perfbench's registry_mix workload: graph loops,
# set-similarity joins, the co-purchase pair builder and a relational control.
REGISTRY_MIX = [
    "pagerank_copurchase",
    "hits_copurchase_2iter",
    "ppjoin_prefix_filter_pairs",
    "ngram_jaccard_top_pairs",
    "minhash_lsh_pr_report",
    "market_basket_lift",
    "q3_shipping_priority",
    "q18_large_volume_customers",
]

_F = "from pyspark.sql import functions as F\n"


def _compiles(spark, fn) -> int:
    before = codegen_compiles(spark)
    fn()
    return codegen_compiles(spark) - before


def test_registry_mix_second_pass_reuses_generated_code(spark, sf_dir):
    """One pass compiles a few hundred classes; with a cache that held only
    100 of them, LRU eviction discarded each before the next pass reached it
    and the second pass recompiled about as many as the first. With class
    names that carried the codegen stage id, which adaptive execution
    assigns in the order a query's concurrent stages finish, a second pass
    still compiled 24–32 classes at this scale. Without the id it compiles
    0–3 (five sessions), all in ``hits_copurchase_2iter``."""
    def one_pass():
        for name in REGISTRY_MIX:
            spark.catalog.clearCache()
            QUERY_REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite").save()

    first = _compiles(spark, one_pass)
    second = _compiles(spark, one_pass)
    assert second <= 8, (first, second)


def test_medallion_rerun_compiles_only_the_bronze_timestamp(spark, tmp_path):
    """Rerunning an identical Silver and Gold compiles nothing. A Bronze write
    compiles 2 classes each time: ``current_timestamp()`` becomes a new
    timestamp literal per batch, and a timestamp (or integer) literal is
    written into the generated code, whereas a string literal such as
    ``_ingestion_date`` or ``_pipeline_id`` is passed in by reference. The
    same literal is stamped by ``streaming.ingest``."""
    df = spark.createDataFrame(
        [(i, i % 7, "ANR"[i % 3]) for i in range(50)], "id int, qty int, flag string")
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "codegen_cache")
    pipe.silver_chain.add_step(
        "filter", _F + "def transform(df, spark):\n    return df.filter(F.col('qty') > 1)\n")
    pipe.gold_chain.add_step(
        "agg", _F + "def transform(df, spark):\n"
        "    return df.groupBy('flag').agg(F.sum('qty').alias('qty'))\n")
    pipe.ingest_bronze(df, ingestion_date="2001-01-01")
    pipe.run_silver()
    pipe.run_gold()

    assert _compiles(spark, lambda: (pipe.run_silver(), pipe.run_gold())) == 0
    assert _compiles(spark, lambda: pipe.ingest_bronze(df, ingestion_date="2001-01-01")) == 2
