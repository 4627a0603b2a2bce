"""The onboarding path: detect → dry runs → Bronze → Silver with DQ → Gold.

Pins its Spark job count, checks that the DQ verdicts folded into a layer
write equal ``evaluate_rules`` over the written data, and that the dry runs'
driver-local sample keeps every type.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import types as T

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine import Pipeline, TransformChain
from autonomus_datapipeline_spark.engine.quality import (
    SAMPLE_FAILURES,
    DQRule,
    evaluate_rules,
)
from autonomus_datapipeline_spark.inference import detect, schema_inference
from autonomus_datapipeline_spark.sources import FileSource

_F = "from pyspark.sql import functions as F\n"
FILTER = _F + "def transform(df, spark):\n    return df.filter(F.col('qty') > 1)\n"
DERIVE = _F + "def transform(df, spark):\n    return df.withColumn('bucket', F.col('id') % 3)\n"
AGG = (
    _F + "def transform(df, spark):\n"
    "    return df.groupBy('bucket').agg(F.count(F.lit(1)).alias('n'),"
    " F.sum('qty').alias('qty'))\n"
)


def _write_csv(path, header: str, rows: list[str]) -> None:
    path.write_text("\n".join([header, *rows]) + "\n")


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the number
    of Spark jobs it started, read from the status tracker once the listener
    bus has delivered every event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _lines(n: int) -> list[str]:
    return [f"{i},{i % 7 + 2},{'ANR'[i % 3]}" for i in range(n)]


def test_onboarding_job_count(spark, tmp_path):
    """One onboarding of a one-file CSV source runs exactly 10 Spark jobs:

    - detect 2: the first file's header, then its ≤1000-row string sample
      (the compatibility check reuses the sample read's columns);
    - Silver dry run 1: the one collect of the local sample; both row-local
      steps then run locally, with no job;
    - Gold dry run 3: the local sample of the Silver chain's output, then the
      aggregate over it (AQE: one shuffle-map job, one result job);
    - Bronze 1: the write (the per-file probe with a known schema reads
      nothing);
    - Silver 1: the write, whose Observation carries the row count and the 3
      rules' violation sums (all pass, so no sample read);
    - Gold 2: the aggregate write (shuffle-map job, write job).

    The count is exact, so any job added back to the path fails this test.
    """
    src = tmp_path / "src"
    src.mkdir()
    _write_csv(src / "part-0.csv", "id,qty,flag", _lines(60))
    source = FileSource(str(src), "csv")
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "jobs")
    pipe.silver_chain.add_step("filter", FILTER)
    pipe.silver_chain.add_step("derive", DERIVE)
    pipe.gold_chain.add_step("agg", AGG)
    pipe.set_quality_rules("silver", [
        DQRule("id_present", "not_null", "id"),
        DQRule("qty_range", "in_range", "qty", {"min": 1, "max": 50}),
        DQRule("flag_values", "accepted_values", "flag", {"values": ["A", "N", "R"]}),
    ])

    def onboard():
        detected = detect.detect_file_schema(spark, source)
        schema = schema_inference.to_struct_type(detected.fields)
        sample = source.read(spark, schema=schema)
        dry = pipe.silver_chain.dry_run_all(sample, spark)
        silver_sample, _ = pipe.silver_chain.execute(sample, spark)
        dry.update(pipe.gold_chain.dry_run_all(silver_sample, spark))
        assert all(r.ok for r in dry.values()), dry
        pipe.ingest_files(source, schema=schema)
        silver = pipe.run_silver()
        assert silver.quality_passed and len(silver.quality) == 3
        return pipe.run_gold()

    gold, jobs = _jobs_in_group(spark, "test-onboarding-jobs", onboard)
    assert gold.row_count == 3
    assert jobs == 10


def test_ingest_files_probe_reads_headers_only(spark, tmp_path):
    """Without a schema, the per-file probe reads each CSV's header only
    (one job per file, not a type-inference scan); the real read infers
    once (header + scan) and the write is one more job."""
    src = tmp_path / "src"
    src.mkdir()
    _write_csv(src / "a.csv", "id,qty,flag", _lines(20))
    _write_csv(src / "b.csv", "id,qty,flag", _lines(10))
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "probe")
    (result, reports), jobs = _jobs_in_group(
        spark, "test-ingest-probe",
        lambda: pipe.ingest_files(FileSource(str(src), "csv", {"inferSchema": "true"})),
    )
    assert result.row_count == 30 and [r["status"] for r in reports] == ["ok", "ok"]
    assert dict(spark.read.parquet(result.path).dtypes)["qty"] == "int"
    assert jobs == 2 + 2 + 1


# -- DQ folded into the layer write == evaluate_rules over the written data --


def _dq_pipeline(spark, tmp_path):
    rows = [
        (i, f"u{i}@x.com" if i % 4 else "bad", i % 5 if i % 9 else None,
         "A" if i % 2 else "N", i // 2, dt.datetime(2001, 1, 1) + dt.timedelta(hours=i))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id int, email string, qty int, flag string,"
                                     " pair int, seen timestamp")
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "dq_fold")
    pipe.silver_chain.add_step("trim", _F + "def transform(df, spark):\n"
                               "    return df.filter(F.col('id') < 36)\n")
    pipe.gold_chain.add_step("agg", _F + "def transform(df, spark):\n"
                             "    return df.groupBy('flag').count()\n")
    return pipe, df


def _assert_same_verdicts(folded, evaluated):
    assert [r.rule.name for r in folded] == [r.rule.name for r in evaluated]
    for a, b in zip(folded, evaluated):
        assert (a.passed, a.failure_count, a.total_count) == (
            b.passed, b.failure_count, b.total_count), a.rule.name
        want = min(b.failure_count, SAMPLE_FAILURES)
        assert len(a.failure_samples) == len(b.failure_samples) == want, a.rule.name


def test_layer_dq_verdicts_equal_evaluate_rules(spark, tmp_path):
    pipe, df = _dq_pipeline(spark, tmp_path)
    rules = [
        DQRule("pair_unique", "unique", "pair"),  # unique rules report last
        DQRule("id_unique", "unique", "id"),
        DQRule("qty_present", "not_null", "qty"),
        DQRule("qty_range", "in_range", "qty", {"min": 1, "max": 4}),
        DQRule("email_format", "matches_regex", "email", {"pattern": r"^[^@]+@[^@]+$"}),
        DQRule("flag_values", "accepted_values", "flag", {"values": ["A", "N"]}),
        DQRule("seen_fresh", "freshness", "seen", {"max_age_seconds": 86400}),
        DQRule("id_range", "in_range", "id", {"min": 0}),
    ]
    pipe.set_quality_rules("silver", rules)
    pipe.ingest_bronze(df)
    silver = pipe.run_silver()
    gold = pipe.run_gold()

    written = spark.read.parquet(silver.path)
    evaluated = evaluate_rules(written, rules)
    _assert_same_verdicts(silver.quality, evaluated)
    assert [r.rule.name for r in silver.quality][-2:] == ["pair_unique", "id_unique"]
    by_name = {r.rule.name: r for r in silver.quality}
    assert not by_name["pair_unique"].passed and by_name["id_unique"].passed
    assert by_name["seen_fresh"].failure_count == 36  # far past: every row fails
    assert by_name["qty_present"].failure_samples[0]["qty"] is None
    assert by_name["flag_values"].passed and by_name["id_range"].passed
    # counted over the rows Silver wrote, not the rows it read
    assert all(r.total_count == silver.row_count == 36 for r in silver.quality)
    meta = pipe.catalog.read_meta("silver", "dq_fold", silver.version)
    assert [(q["rule_name"], q["failure_count"]) for q in meta["quality"]] == [
        (r.rule.name, r.failure_count) for r in evaluated
    ]
    # a layer without rules records no verdicts
    assert gold.quality == [] and gold.quality_passed
    assert "quality" not in pipe.catalog.read_meta("gold", "dq_fold", gold.version)


def test_layer_dq_on_empty_write(spark, tmp_path):
    pipe, df = _dq_pipeline(spark, tmp_path)
    rules = [DQRule("qty_present", "not_null", "qty"), DQRule("id_unique", "unique", "id")]
    pipe.set_quality_rules("silver", rules)
    pipe.ingest_bronze(df.limit(0))
    silver = pipe.run_silver()
    _assert_same_verdicts(silver.quality, evaluate_rules(spark.read.parquet(silver.path), rules))
    assert silver.quality_passed and silver.row_count == 0


def test_unique_rule_on_clean_data_runs_one_groupby(spark):
    """A ``unique`` rule whose sample comes back short already knows every
    duplicate key, so it runs its groupBy once: 2 jobs for the row-level
    aggregate (AQE: shuffle-map, result) and 2 for the duplicate sample.
    Counting the duplicates again would add another shuffle of the data."""
    df = spark.range(1000).withColumnRenamed("id", "k")
    rules = [DQRule("k_unique", "unique", "k")]
    results, jobs = _jobs_in_group(spark, "dq-unique-clean",
                                   lambda: evaluate_rules(df, rules))
    assert jobs == 4
    assert [(r.passed, r.failure_count, r.total_count) for r in results] == [(True, 0, 1000)]


def test_unique_rule_counts_with_and_without_duplicates(spark):
    """The duplicate-key count is the sample's length when the sample is
    short, and a full count otherwise (a full sample, or none requested)."""
    def verdict(n_dupe_keys: int, sample_failures: int = SAMPLE_FAILURES):
        # keys 0..n_dupe_keys-1 appear twice, the next 20 keys once
        keys = [*range(n_dupe_keys), *range(n_dupe_keys + 20)]
        df = spark.createDataFrame([(k,) for k in keys], "k int")
        (r,) = evaluate_rules(df, [DQRule("k_unique", "unique", "k")], sample_failures)
        return r.passed, r.failure_count, r.total_count, sorted(
            (s["k"], s["n"]) for s in r.failure_samples)

    assert verdict(0) == (True, 0, 20, [])
    assert verdict(3) == (False, 3, 26, [(k, 2) for k in range(3)])
    assert verdict(SAMPLE_FAILURES) == (
        False, SAMPLE_FAILURES, 20 + 2 * SAMPLE_FAILURES,
        [(k, 2) for k in range(SAMPLE_FAILURES)])
    passed, n, total, samples = verdict(12)
    assert (passed, n, total, len(samples)) == (False, 12, 44, SAMPLE_FAILURES)
    assert verdict(7, sample_failures=0) == (False, 7, 34, [])


# -- dry runs over the driver-local sample ------------------------------------

_TYPED = T.StructType([
    T.StructField("id", T.IntegerType(), False),
    T.StructField("amount", T.DecimalType(12, 2)),
    T.StructField("ts", T.TimestampType()),
    T.StructField("day", T.DateType()),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
    T.StructField("addr", T.StructType([T.StructField("city", T.StringType()),
                                        T.StructField("zip", T.IntegerType())])),
])


def _typed_df(spark, n: int = 15):
    rows = [
        (i, Decimal(f"{i}.25"), dt.datetime(2024, 3, 1, 12, i), dt.date(2024, 3, i + 1),
         [f"t{i}", None], {"k": i}, (f"c{i}", 1000 + i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, _TYPED)


def _schema_dicts(schema: T.StructType) -> list[dict]:
    return [{"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in schema.fields]


def test_dry_run_local_sample_round_trips_types(spark):
    df = _typed_df(spark)
    chain = TransformChain("types")
    chain.add_step("same", _F + "def transform(df, spark):\n    return df\n")
    res = chain.dry_run_all(df, spark, n_rows=10)["same"]
    assert res.ok, res.error
    assert res.output_schema == _schema_dicts(_TYPED)
    assert res.rows == [r.asDict(recursive=True) for r in df.limit(10).collect()]
    assert res.rows[3]["amount"] == Decimal("3.25")
    assert res.rows[3]["addr"] == {"city": "c3", "zip": 1003}


def test_dry_run_zero_row_sample(spark):
    chain = TransformChain("empty")
    chain.add_step("derive", DERIVE)
    res = chain.dry_run_all(_typed_df(spark).limit(0), spark)["derive"]
    assert res.ok and res.rows == []
    assert [f["name"] for f in res.output_schema][-1] == "bucket"


def test_dry_run_threads_steps_and_stops_at_failure(spark):
    chain = TransformChain("thread")
    chain.add_step("derive", DERIVE)
    chain.add_step("use", _F + "def transform(df, spark):\n"
                   "    return df.filter(F.col('bucket') == 1)\n")
    chain.add_step("bad", _F + "def transform(df, spark):\n"
                   "    return df.select('no_such_column')\n")
    chain.add_step("never", DERIVE)
    res = chain.dry_run_all(_typed_df(spark), spark, n_rows=10)
    assert list(res) == ["derive", "use", "bad"]
    assert res["use"].ok and [r["id"] for r in res["use"].rows] == [1, 4, 7]
    assert not res["bad"].ok and "no_such_column" in res["bad"].error

