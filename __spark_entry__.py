"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Both dicts list the registry in registration order;
``tools/check_oracles.py`` runs the same comparison locally.

All real logic lives in the ``autonomus_datapipeline_spark`` package; this
module only adapts it to the driver contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from autonomus_datapipeline_spark import workloads


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full medallion engine end-to-end on sf0.001
    (SURVEY.md §7.3 minimum slice).

    Ingests orders → Bronze (lineage columns, partitioned parquet), runs a
    sandboxed Silver chain (C1 filter + C3 bucketing), then a Gold chain
    (C8 broadcast join + aggregation) with data-quality rules evaluated
    against the written Gold output (the reference's declared-but-unbuilt
    ``data_quality_results`` surface), and returns the Gold DataFrame.
    """
    import tempfile

    from autonomus_datapipeline_spark.catalog import Catalog
    from autonomus_datapipeline_spark.engine import Pipeline
    from autonomus_datapipeline_spark.engine.quality import DQRule

    sf_dir = "/root/testdata/sf0.001"
    warehouse = tempfile.mkdtemp(prefix="adp_flagship_")
    pipe = Pipeline(spark, Catalog(warehouse), "flagship")
    pipe.silver_chain.add_step(
        "filter_bucket",
        "from pyspark.sql import functions as F\n"
        "def transform(df, spark):\n"
        "    bucket = (F.when(F.col('o_totalprice') < 50000, 'small')\n"
        "               .when(F.col('o_totalprice') < 150000, 'medium')\n"
        "               .when(F.col('o_totalprice') < 300000, 'large')\n"
        "               .otherwise('jumbo'))\n"
        "    return (df.filter(F.col('o_orderstatus') != 'P')\n"
        "              .withColumn('price_bucket', bucket))\n",
    )
    pipe.gold_chain.add_step(
        "segment_agg",
        "from pyspark.sql import functions as F\n"
        "def transform(df, spark):\n"
        f"    cust = spark.read.parquet('{sf_dir}/customer.parquet')\n"
        "    return (df.join(F.broadcast(cust),\n"
        "                    df.o_custkey == cust.c_custkey)\n"
        "              .groupBy('c_mktsegment', 'price_bucket')\n"
        "              .agg(F.count('*').alias('n_orders'),\n"
        "                   F.sum('o_totalprice').alias('total_price')))\n",
    )
    pipe.set_quality_rules(
        "gold",
        [
            DQRule("segment_not_null", "not_null", "c_mktsegment"),
            DQRule(
                "bucket_values", "accepted_values", "price_bucket",
                {"values": ["small", "medium", "large", "jumbo"]},
            ),
            DQRule("orders_positive", "in_range", "n_orders", {"min": 1}),
            DQRule("segment_bucket_rows", "in_range", "total_price", {"min": 0.0}),
        ],
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    results = pipe.run_all(orders)
    if not results["gold"].quality_passed:
        failed = [r.rule.name for r in results["gold"].quality if not r.passed]
        raise RuntimeError(f"gold data-quality rules failed: {failed}")
    return spark.read.parquet(results["gold"].path)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return workloads.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checkable query."""
    return workloads.oracle_sql()
