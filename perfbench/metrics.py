"""Turn one run's op records, spans and counters into named metrics.

End-to-end metrics (``--trace 0``) are what a user of the platform sees.
Per-layer metrics (``--trace 1``) attribute an op's time and work to the
engine's layers; each names, in PER_LAYER, the end-to-end metric it should
move.
"""

from __future__ import annotations

from collections import defaultdict

import sparkstats
import spans

# The end-to-end metrics printed on the JSON line of an untraced run: those
# every workload has and whose median over ten seeded runs is steady. The
# rest (the tail, freshness, storage, peak RSS) are printed on the report
# lines; peak RSS is also a per-layer metric, because the JVM's heap growth
# made its quartile spread over ten runs reach 0.31.
E2E = {
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
}

# name → (span names whose self time it sums, the end-to-end metric it moves)
LAYER_SPANS = {
    "inference.detect_s": (("inference.detect",), "onboard_batch/op_p50_s"),
    "sources.read_s": (("sources.read",), "onboard_batch/op_p50_s, rows_per_s"),
    "engine.sandbox.compile_s": (("engine.sandbox.compile",), "onboard_batch/op_p50_s"),
    "engine.sandbox.dry_run_s": (("engine.sandbox.dry_run",), "onboard_batch/op_p50_s"),
    "engine.chain_s": (("engine.chain",), "op_p50_s of both writing workloads"),
    "engine.pipeline.bronze_s": (("engine.pipeline.bronze",), "onboard_batch/op_p50_s, rows_per_s"),
    "engine.pipeline.silver_s": (("engine.pipeline.silver",), "incremental_feed/freshness_p50_s, onboard_batch/op_p50_s"),
    "engine.pipeline.gold_s": (("engine.pipeline.gold",), "incremental_feed/freshness_p50_s"),
    "engine.quality.dq_s": (("engine.quality.dq",), "onboard_batch/op_p50_s"),
    "streaming.ingest_s": (("streaming.ingest",), "incremental_feed/freshness_p50_s"),
    "catalog.meta_s": (("catalog",), "op_p50_s of both writing workloads (by ms only)"),
    "workloads.graph_s": (("workloads.graph",), "registry_mix/op_p50_s"),
    "workloads.similarity_s": (("workloads.similarity",), "registry_mix/op_p50_s"),
    "workloads.copurchase_s": (("workloads.copurchase",), "registry_mix/op_p50_s"),
    "workloads.relational_s": (("workloads.relational",), "registry_mix/op_p50_s"),
    "bench.op_self_s": (("op",), "none: op time outside every wrapped call"),
}

PER_LAYER = {
    **{name: "s" for name in LAYER_SPANS},
    "catalog.calls_per_op": "count",
    "catalog.bytes_written_per_op": "bytes",
    "catalog.files_written_per_op": "count",
    "storage.bytes_per_input_byte": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.driver_gap_s": "s",
    "process.cpu_s_per_op": "s",
    "process.cpu_s_per_1k_rows": "s",
    "process.peak_rss_mb": "MB",
    "generator.lag_s": "s",
    "feed.backlog_max": "count",
    "feed.freshness_p50_s": "s",
    "trace.overhead_ratio": "ratio",
}

WHY_ZERO = {
    "onboard_batch": "no streaming and no registry query in this workload",
    "incremental_feed": "no schema detection, dry run, DQ rule or registry query in this workload",
    "registry_mix": "read-only: no pipeline layer, catalog, sandbox or streaming in this workload",
}


def op_count(rec, key: str) -> int:
    """Jobs, stages or tasks of one op, summed over its job groups."""
    return sum(counts[key] for counts in rec.status.values())


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Report:
    def __init__(self, workload, ctx, load, setup_s, peak_rss_mb, events):
        self.workload = workload
        self.ctx = ctx
        self.load = load
        self.setup_s = setup_s
        self.peak_rss_mb = peak_rss_mb
        self.events = events  # job group → GroupMetrics
        self.ok_ops = [r for r in ctx.ops if r.ok]

    # -- end to end ---------------------------------------------------------

    def end_to_end(self) -> tuple[dict, dict]:
        """(the metrics every workload has, the workload-specific ones)"""
        lat = [r.latency for r in self.ok_ops]
        rows = sum(r.rows for r in self.ok_ops)
        out = {
            "op_p50_s": spans.median(lat),
            "rows_per_s": rows / sum(lat) if lat else 0.0,
            "setup_s": self.setup_s,
        }
        extra = {"op_tail": spans.tail_percentile(lat), "ops": len(lat),
                 "peak_rss_mb": self.peak_rss_mb}
        if self.load.input_bytes():
            extra["storage_bytes_per_input_byte"] = (
                self.load.stored_bytes / self.load.input_bytes()
            )
        fresh = getattr(self.load, "freshness", None)
        if fresh is not None:
            t0, t1 = self.load.window
            extra["busy_share"] = sum(lat) / (t1 - t0) if t1 > t0 else 0.0
            extra["freshness_p50_s"] = spans.median(fresh)
            extra["freshness_tail"] = spans.tail_percentile(fresh)
            extra["freshness_n"] = len(fresh)
        attempted = len(self.ctx.ops)
        extra["ok_ratio"] = len(self.ok_ops) / attempted if attempted else 0.0
        return out, extra

    # -- per layer ----------------------------------------------------------

    def per_layer(self) -> dict:
        ops = self.ctx.ops
        traced = {r.op for r in ops if r.traced and r.ok}
        n_traced = max(1, len(traced))
        self_t = spans.self_time_by_name(self.ctx.tracer.spans, traced)
        calls = spans.calls_by_name(self.ctx.tracer.spans, traced)
        out = {
            name: sum(self_t.get(s, 0.0) for s in names) / n_traced
            for name, (names, _moves) in LAYER_SPANS.items()
        }
        out["catalog.calls_per_op"] = calls.get("catalog", 0) / n_traced
        out["catalog.bytes_written_per_op"] = _mean(r.info.get("written_bytes", 0) for r in ops)
        out["catalog.files_written_per_op"] = _mean(r.info.get("written_files", 0) for r in ops)
        _e2e, extra = self.end_to_end()
        out["storage.bytes_per_input_byte"] = extra.get("storage_bytes_per_input_byte", 0.0)
        # Medians: onboarding variants differ by a job or two, and the
        # median repeats exactly across runs where a mean would follow the
        # window's variant mix.
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_op"] = spans.median([op_count(r, key) for r in ops])
        per_op = [self._event_totals(r) for r in ops]
        out["spark.executor_cpu_s_per_op"] = _mean(e["cpu"] for e in per_op)
        out["spark.gc_s_per_op"] = _mean(e["gc"] for e in per_op)
        out["spark.shuffle_bytes_per_op"] = _mean(e["shuffle"] for e in per_op)
        out["spark.spill_bytes_per_op"] = _mean(e["spill"] for e in per_op)
        out["spark.driver_gap_s"] = _mean(e["gap"] for e in per_op)
        cpu = [r.info.get("cpu_s", 0.0) for r in ops]
        out["process.cpu_s_per_op"] = _mean(cpu)
        rows = sum(r.rows for r in ops)
        out["process.cpu_s_per_1k_rows"] = 1000.0 * sum(cpu) / rows if rows else 0.0
        out["process.peak_rss_mb"] = self.peak_rss_mb
        lags = getattr(self.load, "lags", [])
        out["generator.lag_s"] = max(lags) if lags else 0.0
        out["feed.backlog_max"] = getattr(self.load, "backlog_max", 0)
        out["feed.freshness_p50_s"] = extra.get("freshness_p50_s", 0.0)
        t_lat = [r.latency for r in ops if r.ok and r.traced]
        u_lat = [r.latency for r in ops if r.ok and not r.traced]
        out["trace.overhead_ratio"] = (
            spans.median(t_lat) / spans.median(u_lat) if t_lat and u_lat else 1.0
        )
        return out

    def _event_totals(self, rec) -> dict:
        groups = [self.events[g] for g in rec.groups if g in self.events]
        intervals = [iv for g in groups for iv in g.stage_intervals]
        return {
            "cpu": sum(g.executor_cpu_s for g in groups),
            "gc": sum(g.gc_s for g in groups),
            "shuffle": sum(g.shuffle_write_bytes for g in groups),
            "spill": sum(g.spill_bytes for g in groups),
            "gap": sparkstats.driver_gap_s((rec.wall_start, rec.wall_end), intervals),
        }

    # -- output -------------------------------------------------------------

    def result(self, trace: bool) -> dict:
        if trace:
            values = self.per_layer()
            units = PER_LAYER
        else:
            values, _extra = self.end_to_end()
            units = E2E
        failed = sum(1 for r in self.ctx.ops if not r.ok)
        return {
            "correct": not self.ctx.failures and failed == 0,
            "attempted": len(self.ctx.ops),
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }

    def lines(self, trace: bool) -> list[str]:
        w = self.workload
        e2e, extra = self.end_to_end()
        out = [f"{w}/{k} {v:.6g} {E2E[k]}" for k, v in e2e.items()]
        tail = extra["op_tail"]
        out.append(
            f"{w}/op_tail_s {tail[1]:.6g} s (p{tail[0]}, n={tail[2]})" if tail
            else f"{w}/op_tail_s none (n={extra['ops']}: fewer than 21 ops)"
        )
        out.append(f"{w}/peak_rss_mb {extra['peak_rss_mb']:.6g} MB")
        if "storage_bytes_per_input_byte" in extra:
            out.append(f"{w}/storage_bytes_per_input_byte "
                       f"{extra['storage_bytes_per_input_byte']:.6g} ratio")
        if "freshness_p50_s" in extra:
            out.append(f"{w}/freshness_p50_s {extra['freshness_p50_s']:.6g} s")
            ft = extra["freshness_tail"]
            out.append(
                f"{w}/freshness_tail_s {ft[1]:.6g} s (p{ft[0]}, n={ft[2]})" if ft
                else f"{w}/freshness_tail_s none (n={extra['freshness_n']}: fewer than 21 batches)"
            )
        if "busy_share" in extra:
            out.append(f"{w}/busy_share {extra['busy_share']:.6g} ratio"
                       " (open loop: must stay under 0.5, or freshness measures the queue)")
        out.append(f"{w}/ok_ratio {extra['ok_ratio']:.6g} ratio")
        if trace:
            out.append("# the lines above come from a traced run (half its ops carry spans)")
            layer = self.per_layer()
            for k, unit in PER_LAYER.items():
                note = ""
                if k in LAYER_SPANS:
                    note = f"  [moves {LAYER_SPANS[k][1]}]"
                    if layer[k] == 0.0:
                        note += f" zero: {WHY_ZERO[w]}"
                out.append(f"{w}/{k} {layer[k]:.6g} {unit}{note}")
            kinds = self.jobs_by_kind()
            varying = {k: sorted(set(v)) for k, v in kinds.items() if len(set(v)) > 1}
            out.append(f"# jobs per op by kind: {kinds}")
            out.append(f"# kinds whose job count varied: {varying or 'none'}")
        return out

    def jobs_by_kind(self) -> dict[str, list[int]]:
        """Job counts per op kind across the run (per query for
        registry_mix). Equal plans on equal-sized inputs should repeat
        them exactly; a kind with more than one distinct count is an
        exception worth recording."""
        kinds: dict[str, list[int]] = defaultdict(list)
        for rec in self.ctx.ops:
            if self.workload == "registry_mix":
                for g in rec.groups[1:]:
                    kinds[g.split("/", 1)[1]].append(rec.status.get(g, {}).get("jobs", 0))
            else:
                kinds[rec.info.get("variant", "cycle")].append(op_count(rec, "jobs"))
        return dict(kinds)

    def details(self) -> dict:
        return {
            "ops": [
                {
                    "op": r.op, "traced": r.traced, "latency_s": r.latency,
                    "rows": r.rows, "ok": r.ok, "error": r.error,
                    "groups": r.groups, "status": r.status,
                    "info": {k: v for k, v in r.info.items() if k != "freshness"},
                    "freshness_s": r.info.get("freshness"),
                }
                for r in self.ctx.ops
            ],
            "jobs_by_kind": self.jobs_by_kind() if self.ctx.trace else {},
        }

