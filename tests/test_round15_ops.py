"""Round-15 focused tests: bench.py stall gate + prefix-sum bounds extensions."""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def _fake_pass(runs):
    import statistics

    ok = [t for t in runs if t >= 0]
    return {
        "runs": list(runs),
        "median": round(statistics.median(ok), 3) if ok else -1.0,
        "min": min(ok) if ok else -1.0,
        "max": max(ok) if ok else -1.0,
    }


class TestBenchSpreadGate:
    def _run(self, monkeypatch, passes):
        bench = _load_bench()
        calls = []

        def fake_runs(spark, name, sf_dir, n_runs):
            calls.append(name)
            return _fake_pass(passes[len(calls) - 1])

        monkeypatch.setattr(bench, "_time_runs", fake_runs)
        out = bench._time_query(None, "q", "/nowhere", 3)
        return out, len(calls)

    def test_burst_stall_triggers_rerun_and_keeps_better_median(
        self, monkeypatch
    ):
        # The r14 signature: median inflated ~2x over the run's own min.
        out, n_calls = self._run(
            monkeypatch, [[7.1, 13.9, 32.6], [7.0, 7.2, 7.4]]
        )
        assert n_calls == 2
        assert out["median"] == 7.2
        assert out["min"] == 7.0  # min spans both passes
        sr = out["spread_rerun"]
        assert sr["first_median"] == 13.9
        assert sr["rerun_median"] == 7.2
        assert sr["kept"] == 7.2
        assert sr["rerun_stalled"] is False

    def test_rerun_also_stalled_keeps_smaller_median(self, monkeypatch):
        out, n_calls = self._run(
            monkeypatch, [[7.1, 13.9, 32.6], [8.0, 20.0, 41.0]]
        )
        assert n_calls == 2
        assert out["median"] == 13.9  # first pass wins: the rerun stalled too
        assert out["min"] == 7.1

    def test_rerun_stalled_with_lower_median_keeps_first_pass(self, monkeypatch):
        # Both passes show the stall signature: neither median is trusted,
        # so the lower one is not picked; the first pass stands.
        out, n_calls = self._run(
            monkeypatch, [[7.1, 13.9, 32.6], [5.0, 11.0, 30.0]]
        )
        assert n_calls == 2
        assert out["median"] == 13.9
        assert out["runs"] == [7.1, 13.9, 32.6]
        assert out["min"] == 5.0  # min still spans both passes
        sr = out["spread_rerun"]
        assert sr["rerun_stalled"] is True
        assert sr["rerun_median"] == 11.0 and sr["kept"] == 13.9

    def test_errored_rerun_keeps_first_pass(self, monkeypatch):
        out, _ = self._run(monkeypatch, [[7.1, 13.9, 32.6], [-1.0]])
        assert out["median"] == 13.9
        assert out["spread_rerun"]["rerun_stalled"] is False

    def test_benign_first_run_codegen_spike_does_not_rerun(self, monkeypatch):
        # max/min 2.9x but the median sits on the warm runs: median-of-3
        # already absorbed it; a rerun would only burn suite time.
        out, n_calls = self._run(monkeypatch, [[2.5, 0.9, 0.85]])
        assert n_calls == 1
        assert "spread_rerun" not in out

    def test_flat_runs_do_not_rerun(self, monkeypatch):
        out, n_calls = self._run(monkeypatch, [[1.0, 1.05, 1.1]])
        assert n_calls == 1
        assert "spread_rerun" not in out

    def test_tiny_absolute_spread_does_not_rerun(self, monkeypatch):
        # median/min and max/min both over threshold, but the absolute
        # inflation is 90 ms — tail-query jitter, not weather.
        out, n_calls = self._run(monkeypatch, [[0.05, 0.14, 0.15]])
        assert n_calls == 1
        assert "spread_rerun" not in out

    def test_errored_pass_is_not_rerun_by_spread_gate(self, monkeypatch):
        out, n_calls = self._run(monkeypatch, [[5.0, -1.0]])
        assert n_calls == 1
        assert out["median"] == 5.0


class TestBoundsWithPartitionBy:
    """r15: bounds= composes with partition_by — same literal envelope in
    every partition, values identical to the partitioned window."""

    def _frame(self, spark):
        import random

        random.seed(15)
        rows = [
            (i, ["a", "b", "c"][i % 3], random.randint(0, 999), i * 1.5)
            for i in range(900)
        ]
        # tie run inside one partition + out-of-envelope keys in another
        rows += [(2000 + i, "a", 500, 2.25) for i in range(40)]
        rows += [(3000 + i, "b", 10_000 + i, 1.0) for i in range(20)]
        return spark.createDataFrame(rows, "id long, p string, k long, x double")

    def _ref(self, df):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        w = Window.partitionBy("p").orderBy("k", "id")
        wf = w.rowsBetween(Window.unboundedPreceding, 0)
        return {
            r["id"]: (r["cum"], r["rn"], r["n"])
            for r in df.select(
                "id",
                F.sum("x").over(wf).alias("cum"),
                F.row_number().over(w).cast("bigint").alias("rn"),
                F.count(F.lit(1))
                .over(Window.partitionBy("p"))
                .cast("bigint")
                .alias("n"),
            ).collect()
        }

    def test_partitioned_bounds_matches_window(self, spark):
        from autonomus_datapipeline_spark.operators import prefix_sum as ps

        df = self._frame(spark)
        ref = self._ref(df)
        # Envelope (0, 999) is DELIBERATELY violated by the 10_000+ keys:
        # they clamp into the top bucket; values must still match exactly.
        got = ps.with_global_running(
            df,
            [("k", True), ("id", True)],
            sums={"cum": "x"},
            row_number="rn",
            total_count="n",
            partition_by=["p"],
            bounds=(0.0, 999.0),
            n_buckets=8,
        )
        for r in got.collect():
            assert (r["cum"], r["rn"], r["n"]) == ref[r["id"]], r["id"]

    def test_partitioned_bounds_plan_has_no_input_aggregate(self, spark):
        """The bounds= fast path must not scan the input for min/max: the
        pre-window side of the plan carries no per-partition aggregate."""
        from autonomus_datapipeline_spark.operators import prefix_sum as ps

        df = self._frame(spark)
        bounded = ps.with_global_running(
            df,
            [("k", True), ("id", True)],
            row_number="rn",
            partition_by=["p"],
            bounds=(0.0, 999.0),
        )
        scanned = ps.with_global_running(
            df,
            [("k", True), ("id", True)],
            row_number="rn",
            partition_by=["p"],
        )
        plan_b = bounded._jdf.queryExecution().optimizedPlan().toString()
        plan_s = scanned._jdf.queryExecution().optimizedPlan().toString()
        assert "_ps_mn" not in plan_b and "_ps_mx" not in plan_b
        assert "_ps_mn" in plan_s  # the scan variant really does aggregate


class TestClampAudit:
    def test_audit_counts_out_of_envelope_rows(self, spark, monkeypatch):
        from autonomus_datapipeline_spark.operators import prefix_sum as ps

        monkeypatch.setenv(ps.CLAMP_AUDIT_ENV, "1")
        monkeypatch.setattr(ps, "LAST_CLAMP_AUDIT", None)
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(10)] + [(99, 1e9)],
            "id long, k double",
        )
        ps.with_global_running(
            df, [("k", True), ("id", True)], row_number="rn", bounds=(0.0, 9.0)
        ).collect()
        audit = ps.LAST_CLAMP_AUDIT
        assert audit is not None
        assert audit["n_clamped"] == 1 and audit["n_rows"] == 11
        assert audit["bounds"] == (0.0, 9.0)

    def test_audit_counts_uncastable_keys_as_clamped(self, spark, monkeypatch):
        # A string key that try_cast("double") turns into NULL lands in the
        # -2 sentinel bucket, where the prefix-sum goes serial: clamped.
        from pyspark.sql import functions as F

        from autonomus_datapipeline_spark.operators import prefix_sum as ps

        monkeypatch.setenv(ps.CLAMP_AUDIT_ENV, "1")
        monkeypatch.setattr(ps, "LAST_CLAMP_AUDIT", None)
        df = spark.createDataFrame(
            [(i, str(i)) for i in range(10)] + [(10, "n/a"), (11, None)],
            "id long, k string",
        )
        ps.with_global_running(
            df,
            [("k", True), ("id", True)],
            row_number="rn",
            bucket_by=F.col("k"),
            bounds=(0.0, 9.0),
        ).collect()
        audit = ps.LAST_CLAMP_AUDIT
        assert audit["n_clamped"] == 1 and audit["n_uncastable"] == 1
        assert audit["n_rows"] == 12

    def test_audit_off_by_default(self, spark, monkeypatch):
        from autonomus_datapipeline_spark.operators import prefix_sum as ps

        monkeypatch.delenv(ps.CLAMP_AUDIT_ENV, raising=False)
        monkeypatch.setattr(ps, "LAST_CLAMP_AUDIT", None)
        df = spark.createDataFrame([(1, 1e9)], "id long, k double")
        ps.with_global_running(
            df, [("k", True), ("id", True)], row_number="rn", bounds=(0.0, 9.0)
        ).collect()
        assert ps.LAST_CLAMP_AUDIT is None
