"""Data-quality rule engine.

The reference declared this capability without code: a
``data_quality_results`` table (rule_name / rule_config / passed /
failure_samples — reference: db/init.sql:256-270; SURVEY.md §1.4). This is
the Spark-first implementation:

- rule kinds: not_null, unique, in_range, matches_regex, accepted_values,
  freshness (max age of a timestamp column)
- every row-level rule compiles to one conditional-count expression, and
  all of them are computed in ONE pass — at 100 TB you cannot afford a job
  per rule. ``evaluate_rules`` runs that pass as an aggregation over a
  DataFrame; a pipeline layer (engine/pipeline.py) adds the same
  expressions to the ``Observation`` on its write, so the verdicts cost no
  pass of their own. Uniqueness is the one exception (it needs its own
  groupBy over the data).
- per-rule failure counts + up to N sample failing rows, read only for
  rules that fail
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class DQRule:
    name: str
    kind: str
    column: str
    config: dict[str, Any] = field(default_factory=dict)


@dataclass
class DQResult:
    rule: DQRule
    passed: bool
    failure_count: int
    total_count: int
    failure_samples: list[dict] = field(default_factory=list)


def _violation_predicate(rule: DQRule, now: _dt.datetime) -> Column:
    c = F.col(rule.column)
    if rule.kind == "not_null":
        return c.isNull()
    if rule.kind == "in_range":
        lo, hi = rule.config.get("min"), rule.config.get("max")
        pred = F.lit(False)
        if lo is not None:
            pred = pred | (c < lo)
        if hi is not None:
            pred = pred | (c > hi)
        return pred | c.isNull()
    if rule.kind == "matches_regex":
        return ~c.rlike(rule.config["pattern"]) | c.isNull()
    if rule.kind == "accepted_values":
        return ~c.isin(*rule.config["values"]) | c.isNull()
    if rule.kind == "freshness":
        max_age_s = rule.config["max_age_seconds"]
        ref = F.lit(now.replace(tzinfo=None))
        return (F.unix_timestamp(ref) - F.unix_timestamp(c) > max_age_s) | c.isNull()
    raise ValueError(f"unknown rule kind {rule.kind!r}")


SAMPLE_FAILURES = 5  # failing rows sampled per failing rule


class RuleChecks:
    """The compiled form of a rule list, shared by :func:`evaluate_rules` and
    the pipeline's layer write.

    Row-level rules become one violation sum each (:meth:`violation_sums`),
    to be computed in a single pass: an aggregation over the data, or the
    ``Observation`` a layer write already carries. :meth:`results` turns
    those sums into verdicts. It touches data only to sample a failing
    rule's rows and to run each ``unique`` rule's groupBy. ``now`` is fixed
    once, so a freshness rule's sums and samples use the same reference
    time."""

    def __init__(self, rules: list[DQRule], now: _dt.datetime | None = None):
        now = now or _dt.datetime.now(tz=_dt.timezone.utc)
        self.row_rules = [r for r in rules if r.kind != "unique"]
        self.uniq_rules = [r for r in rules if r.kind == "unique"]
        self.preds = [_violation_predicate(r, now) for r in self.row_rules]

    def violation_sums(self) -> list[Column]:
        return [
            F.sum(F.when(pred, 1).otherwise(0)).alias(f"__viol_{i}")
            for i, pred in enumerate(self.preds)
        ]

    def results(
        self,
        data: Callable[[], DataFrame],
        total: int,
        sums: Mapping[str, Any],
        sample_failures: int,
    ) -> list[DQResult]:
        """Verdicts in rule order: row-level rules, then ``unique`` rules.
        ``sums`` maps each :meth:`violation_sums` alias to its value; ``data``
        yields the evaluated rows and is called only when a failing rule
        needs samples or a ``unique`` rule is present."""
        results: list[DQResult] = []
        for i, (r, pred) in enumerate(zip(self.row_rules, self.preds)):
            n_fail = int(sums[f"__viol_{i}"] or 0)  # a sum over no rows is null
            samples = []
            if n_fail and sample_failures:
                samples = [
                    row.asDict(recursive=True)
                    for row in data().filter(pred).limit(sample_failures).collect()
                ]
            results.append(DQResult(r, n_fail == 0, n_fail, total, samples))

        for r in self.uniq_rules:
            dupes = (
                data().groupBy(r.column)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
            )
            sample_rows = dupes.limit(sample_failures).collect()
            # A short sample already holds every duplicate key; only a full
            # one needs the second shuffle to count the rest.
            n_dupe_keys = (
                dupes.count()
                if len(sample_rows) == sample_failures
                else len(sample_rows)
            )
            results.append(
                DQResult(
                    r,
                    n_dupe_keys == 0,
                    n_dupe_keys,
                    total,
                    [row.asDict() for row in sample_rows],
                )
            )
        return results


def evaluate_rules(
    df: DataFrame,
    rules: list[DQRule],
    sample_failures: int = SAMPLE_FAILURES,
    now: _dt.datetime | None = None,
) -> list[DQResult]:
    """Evaluate all rules; single aggregation job for row-level rules plus
    one groupBy per uniqueness rule and one bounded sample collect per
    failing rule."""
    checks = RuleChecks(rules, now)
    sums = df.agg(F.count(F.lit(1)).alias("__total"), *checks.violation_sums()).first()
    return checks.results(lambda: df, int(sums["__total"]), sums, sample_failures)
