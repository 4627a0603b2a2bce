"""Versioned transform chains: the Silver/Gold execution engine.

Port of the reference's transform-chain semantics (reference:
backend/app/services/silver_service.py:96-127 and gold_service.py:113-144;
version state machine in routers/silver.py:467-566,807-843):

- steps are ordered, versioned, individually activatable
- re-confirming a step bumps its version; old versions are kept for rollback
- execution folds active steps in order with per-step timing and fail-fast
- every step must pass static validation + a dry-run before it can be active
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from autonomus_datapipeline_spark.engine.sandbox import (
    DryRunResult,
    compile_transform,
    dry_run,
)


def _local_sample(df: DataFrame, n_rows: int) -> DataFrame:
    """The first ``n_rows`` of ``df`` as a ``LocalRelation``. The rows cross
    to the driver JVM only: no Python round-trip, so every type (decimal,
    timestamp, array, map, struct) keeps its exact value. Built on the JVM
    side because ``spark.createDataFrame`` of Python rows yields an RDD-backed
    relation, which still runs a job per use."""
    jdf = df.limit(n_rows)._jdf
    spark = df.sparkSession
    local = spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    return DataFrame(local, spark)


@dataclass
class TransformStep:
    name: str
    code: str
    version: int = 1
    active: bool = True
    order: int = 0
    history: list[str] = field(default_factory=list)  # prior code versions


@dataclass
class StepMetric:
    name: str
    version: int
    elapsed_s: float
    ok: bool
    error: str | None = None


class TransformChain:
    """Ordered, versioned chain of sandboxed transforms.

    Pass ``audit`` (an ``engine.audit.CodeAudit``) to persist every confirmed
    and rolled-back code version with timestamped filenames — the reference's
    generated-code audit trail (code_saver.py).
    """

    def __init__(self, name: str, audit=None):
        self.name = name
        self.steps: dict[str, TransformStep] = {}
        self.audit = audit

    def _audit(self, kind: str, step_name: str, code: str) -> None:
        if self.audit is not None:
            pipeline, _, layer = self.name.partition(".")
            self.audit.save(pipeline, layer or "chain", step_name, kind, code)

    # -- authoring -----------------------------------------------------------

    def add_step(self, name: str, code: str, order: int | None = None) -> TransformStep:
        compile_transform(code)  # validate + sandbox-compile up front
        if name in self.steps:
            # version bump, keep history (reference routers/silver.py:486-541)
            step = self.steps[name]
            step.history.append(step.code)
            step.code = code
            step.version += 1
            step.active = True
        else:
            step = TransformStep(
                name=name, code=code,
                order=order if order is not None else len(self.steps),
            )
            self.steps[name] = step
        self._audit("confirmed", name, code)
        return step

    def rollback(self, name: str) -> TransformStep:
        step = self.steps[name]
        if not step.history:
            raise ValueError(f"step {name!r} has no prior version")
        step.code = step.history.pop()
        step.version += 1
        self._audit("rollback", name, step.code)
        return step

    def deactivate(self, name: str) -> None:
        self.steps[name].active = False

    def reorder(self, names_in_order: list[str]) -> None:
        for i, n in enumerate(names_in_order):
            self.steps[n].order = i

    def active_steps(self) -> list[TransformStep]:
        return sorted(
            (s for s in self.steps.values() if s.active), key=lambda s: s.order
        )

    # -- dry run -------------------------------------------------------------

    def dry_run_all(
        self, sample_df: DataFrame, spark: SparkSession, n_rows: int = 10
    ) -> dict[str, DryRunResult]:
        """Dry-run the whole chain on a real sample, threading outputs.

        The sample is collected ONCE and held as a driver-local relation, so
        the source is scanned once per chain, not once per step, and
        row-local steps (filters, projections) over it run locally, with no
        Spark job at all."""
        results: dict[str, DryRunResult] = {}
        df = _local_sample(sample_df, n_rows)
        for step in self.active_steps():
            res = dry_run(step.code, df, spark, n_rows)
            results[step.name] = res
            if not res.ok:
                break
            df = compile_transform(step.code)(df, spark)
        return results

    # -- execution -----------------------------------------------------------

    def execute(
        self, df: DataFrame, spark: SparkSession
    ) -> tuple[DataFrame, list[StepMetric]]:
        """Fold active steps in order; fail-fast with per-step timing
        (reference silver_service.py:96-127).

        Note: timings here measure plan-construction per step; Spark defers
        compute to the terminal action, which is the correct behavior — the
        engine does NOT force a count() between steps like the reference did
        (silver_service.py:80,129 caused extra jobs per layer).
        """
        metrics: list[StepMetric] = []
        for step in self.active_steps():
            t0 = time.time()
            try:
                df = compile_transform(step.code)(df, spark)
                metrics.append(
                    StepMetric(step.name, step.version, round(time.time() - t0, 4), True)
                )
            except Exception as exc:  # noqa: BLE001
                metrics.append(
                    StepMetric(
                        step.name, step.version, round(time.time() - t0, 4), False,
                        f"{type(exc).__name__}: {exc}",
                    )
                )
                raise
        return df, metrics
