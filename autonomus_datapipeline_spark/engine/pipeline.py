"""Medallion pipeline runner: Bronze → Silver → Gold → export.

The reference's end-to-end lifecycle (SURVEY.md §3) re-expressed as one
programmatic runner (replacing FastAPI endpoints + generated Airflow DAGs,
reference: dag_generator.py:809-1157 master-chain semantics):

- **Bronze**: file/REST/JDBC source → lineage columns (_ingestion_date,
  _ingestion_timestamp, _pipeline_id, _schema_version — reference
  bronze_ingestion.py:190-196) → Parquet APPEND partitioned by
  _ingestion_date (reference wrote CSV: bronze_ingestion.py:198-206).
- **Silver / Gold**: read previous layer with its persisted schema → fold
  the validated transform chain → Parquet overwrite (reference
  silver_service.py:23-144, gold_service.py:56-161). Gold always reads the
  latest *Silver* output, never Bronze (reference spark_utils.py:177-238).
- **Row-count metrics** come from ``df.observe`` — a zero-cost observation
  on the write job — instead of the reference's extra ``df.count()`` jobs
  before/after every layer (silver_service.py:80,129; SURVEY.md §4 item 2).
- **Data-quality verdicts** of the row-level rules come from the same
  observation: each rule's violation count is one more observed sum, so the
  rules cost no job of their own. Only a failing rule's samples and the
  ``unique`` rules read the written parquet back (engine/quality.py).
"""

from __future__ import annotations

import datetime as _dt
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine.chain import StepMetric, TransformChain
from autonomus_datapipeline_spark.engine.quality import SAMPLE_FAILURES, RuleChecks

# Table-name guard (reference gold_service.py:29-39)
_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_.]*$")


def sanitize_table_name(name: str) -> str:
    if not _NAME_RE.match(name) or len(name) > 63:
        raise ValueError(f"invalid table name: {name!r}")
    return name


@dataclass
class LayerResult:
    layer: str
    version: int
    path: str
    row_count: int
    elapsed_s: float
    step_metrics: list[StepMetric] = field(default_factory=list)
    quality: list = field(default_factory=list)  # DQResult per attached rule

    @property
    def quality_passed(self) -> bool:
        return all(r.passed for r in self.quality)


class Pipeline:
    """One named pipeline over a catalog: ingest, transform, export."""

    def __init__(
        self, spark: SparkSession, catalog: Catalog, name: str, audit=None
    ):
        self.spark = spark
        self.catalog = catalog
        self.name = sanitize_table_name(name)
        self.silver_chain = TransformChain(f"{name}.silver", audit=audit)
        self.gold_chain = TransformChain(f"{name}.gold", audit=audit)
        self._quality_rules: dict[str, list] = {}

    def set_quality_rules(self, layer: str, rules: list) -> None:
        """Attach data-quality rules (engine.quality.DQRule) to a layer.

        Row-level rules are counted over exactly the rows the layer writes,
        as sums on the write's own ``Observation`` (no job of their own);
        ``unique`` rules and a failing rule's samples read the written
        parquet back (engine/quality.py). The per-rule verdicts are
        recorded in the layer's catalog metadata: the reference declared
        exactly this surface as its ``data_quality_results`` table
        (db/init.sql:256-270) but never built the evaluation engine."""
        self._quality_rules[layer] = list(rules)

    # -- bronze ---------------------------------------------------------------

    def ingest_bronze(
        self,
        df: DataFrame,
        schema_version: int = 1,
        ingestion_date: str | None = None,
        batch_id: str | None = None,
    ) -> LayerResult:
        """Append a batch to Bronze with lineage columns.

        Partitioned by _ingestion_date so incremental readers prune to the
        new partition (the reference partitioned the same way but never
        filtered on it — reference bronze_ingestion.py:204, SURVEY.md §4).

        ``batch_id`` makes the append idempotent: a batch id already recorded
        in the version's metadata is skipped (row_count=0 result) — the batch
        twin of the streaming checkpoint's exactly-once re-run behavior, so
        orchestrator retries never double-ingest.
        """
        t0 = time.time()
        if batch_id is not None:
            # Check against the UNION of batch ids across ALL bronze versions:
            # schema drift opens a new version directory, and a retried batch
            # recorded under an earlier version must still be skipped (else
            # read_bronze_history() double-counts it).
            for v in self.catalog.versions("bronze", self.name):
                try:
                    seen = self.catalog.read_meta("bronze", self.name, v).get(
                        "ingested_batch_ids", []
                    )
                except FileNotFoundError:
                    continue
                if batch_id in seen:
                    return LayerResult(
                        "bronze", v, self.catalog.data_path("bronze", self.name, v),
                        0, round(time.time() - t0, 3),
                    )
        ing_date = ingestion_date or _dt.date.today().isoformat()
        obs = Observation(f"bronze_{self.name}")
        lineage = (
            df.withColumn("_ingestion_date", F.lit(ing_date))
            .withColumn("_ingestion_timestamp", F.current_timestamp())
            .withColumn("_pipeline_id", F.lit(self.name))
            .withColumn("_schema_version", F.lit(schema_version))
            .observe(obs, F.count(F.lit(1)).alias("rows"))
        )
        # Schema evolution (SURVEY §7.4): appending a drifted schema into an
        # existing version would silently corrupt the persisted contract —
        # instead a drifted batch opens a NEW bronze version directory (the
        # reference's "re-detection bumps the version" semantics,
        # routers/schemas.py:126-173). read_bronze_history() unions versions.
        version = self.catalog.latest_version("bronze", self.name) or 1
        existing = self.catalog.versions("bronze", self.name)
        if existing:
            prev = self.catalog.schema_of("bronze", self.name, version)
            incoming_names = [(f.name, f.dataType.simpleString())
                              for f in lineage.schema.fields]
            prev_names = [(f.name, f.dataType.simpleString()) for f in prev.fields]
            if sorted(incoming_names) != sorted(prev_names):
                version += 1
        path = self.catalog.data_path("bronze", self.name, version)
        (
            lineage.write.mode("append")
            .partitionBy("_ingestion_date")
            .parquet(path)
        )
        rows = int(obs.get["rows"])
        prior_ids: list[str] = []
        if version in self.catalog.versions("bronze", self.name):
            try:
                prior_ids = self.catalog.read_meta("bronze", self.name, version).get(
                    "ingested_batch_ids", []
                )
            except FileNotFoundError:
                prior_ids = []
        if batch_id is not None:
            prior_ids = [*prior_ids, batch_id]
        self.catalog.write_meta(
            "bronze", self.name, version, lineage.schema,
            {"last_ingestion_date": ing_date, "last_batch_rows": rows,
             "ingested_batch_ids": prior_ids},
        )
        return LayerResult("bronze", version, path, rows, round(time.time() - t0, 3))

    def read_bronze_history(self) -> DataFrame:
        """Union ALL bronze schema versions by name (missing columns null) —
        the cross-version reader for consumers that want full history after
        schema evolution (A9 unionByName semantics applied across versions)."""
        versions = self.catalog.versions("bronze", self.name)
        if not versions:
            raise FileNotFoundError(f"no bronze table for pipeline {self.name!r}")
        dfs = [self.catalog.read(self.spark, "bronze", self.name, v) for v in versions]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # Above this many files the per-file schema probe (one driver round-trip
    # each) is skipped by default — at 10^5 files sequential probes dominate
    # wall-clock while contributing only accounting detail.
    PROBE_FILE_LIMIT = 256

    def ingest_files(
        self,
        source,
        schema=None,
        schema_version: int = 1,
        ingestion_date: str | None = None,
        per_file_accounting: bool | None = None,
    ) -> tuple[LayerResult, list[dict]]:
        """Bronze-ingest a FileSource with per-file success/skip accounting
        (reference bronze_ingestion.py:120-176: each file read individually,
        failures skipped and reported, survivors unioned).

        The per-file probe only touches metadata/first-bytes (schema read;
        CSV headers only, with type inference off), then all readable files
        go through ONE parallel multi-path scan —
        not a driver-side union loop.

        ``per_file_accounting``: True forces the probe, False skips it; None
        (default) auto-disables above :attr:`PROBE_FILE_LIMIT` files. With the
        probe skipped, unreadable files surface at scan time (Spark's
        ``ignoreCorruptFiles`` can be passed via source options) and the
        report carries one summary row instead of one per file.
        """
        from pyspark.sql.utils import AnalysisException

        files = source.file_list()
        if per_file_accounting is None:
            per_file_accounting = len(files) <= self.PROBE_FILE_LIMIT

        reports: list[dict] = []
        if not per_file_accounting:
            reports.append({
                "status": "batch", "n_files": len(files),
                "note": "per-file probe skipped above PROBE_FILE_LIMIT",
            })
            df = source.read(self.spark, schema=schema)
            result = self.ingest_bronze(df, schema_version, ingestion_date)
            return result, reports

        readable: list[str] = []
        for f in files:
            try:
                # Opening the file is the check: a header-only read, never a
                # type-inference scan (the real read below infers once).
                probe = type(source)(path=f, fmt=source.fmt, options=source.raw_options())
                _ = probe.read(self.spark, schema=schema).schema
                readable.append(f)
                reports.append({"file": f, "status": "ok"})
            except (AnalysisException, Exception) as exc:  # noqa: BLE001
                reports.append({"file": f, "status": "skipped", "error": str(exc)[:200]})
        if not readable:
            raise FileNotFoundError(f"no readable {source.fmt} files under {source.path}")
        good = type(source)(
            path=source.path, fmt=source.fmt,
            options=dict(source.options), files=readable,
        )
        df = good.read(self.spark, schema=schema)
        result = self.ingest_bronze(df, schema_version, ingestion_date)
        return result, reports

    # -- silver / gold ----------------------------------------------------------

    def _run_layer(
        self, layer: str, source_layer: str, chain: TransformChain
    ) -> LayerResult:
        t0 = time.time()
        src = self.catalog.read(self.spark, source_layer, self.name)
        out, metrics = chain.execute(src, self.spark)
        rules = self._quality_rules.get(layer, [])
        checks = RuleChecks(rules)
        # The row-level rules' violation sums ride on the write's own
        # Observation, so they count exactly the rows written, in the write's
        # single pass. The written parquet is read back (with the known
        # schema) only for a failing rule's samples and for unique rules.
        obs = Observation(f"{layer}_{self.name}_{time.time_ns()}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"), *checks.violation_sums())
        version = self.catalog.next_version(layer, self.name)
        path = self.catalog.data_path(layer, self.name, version)
        out.write.mode("overwrite").parquet(path)
        observed = obs.get
        rows = int(observed["rows"])
        dq_results = []
        extra_meta = {}
        if rules:
            dq_results = checks.results(
                lambda: self.spark.read.schema(out.schema).parquet(path),
                rows, observed, SAMPLE_FAILURES,
            )
            extra_meta["quality"] = [
                {
                    "rule_name": r.rule.name,
                    "rule_kind": r.rule.kind,
                    "column": r.rule.column,
                    "rule_config": r.rule.config,
                    "passed": r.passed,
                    "failure_count": r.failure_count,
                    "total_count": r.total_count,
                }
                for r in dq_results
            ]
        self.catalog.write_meta(
            layer, self.name, version, out.schema,
            {"source_layer": source_layer, "row_count": rows,
             "steps": [m.name for m in metrics], **extra_meta},
        )
        return LayerResult(layer, version, path, rows,
                           round(time.time() - t0, 3), metrics, dq_results)

    def run_silver(self) -> LayerResult:
        return self._run_layer("silver", "bronze", self.silver_chain)

    def run_gold(self) -> LayerResult:
        """Gold reads the latest Silver output (reference spark_utils.py:177-238)."""
        return self._run_layer("gold", "silver", self.gold_chain)

    def run_all(self, bronze_df: DataFrame) -> dict[str, LayerResult]:
        """Master-chain semantics: bronze → silver → gold, fail-fast
        (reference dag_generator.py:1050-1067)."""
        results = {"bronze": self.ingest_bronze(bronze_df)}
        results["silver"] = self.run_silver()
        results["gold"] = self.run_gold()
        return results
