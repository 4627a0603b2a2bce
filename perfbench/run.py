#!/usr/bin/env python3
"""Benchmark of the medallion pipeline engine: one workload per run.

    python3 perfbench/run.py --workload onboard_batch --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run makes its inputs from ``--seed``,
starts one Spark session (local[nproc]), sets up and warms the workload
untimed, times ops for ``--seconds``, checks every output, and prints one
``workload/metric value unit`` line per metric followed, as the last line of
stdout, by one JSON object {"correct", "attempted", "failed", "metrics"}.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` installs span wrappers around the engine's public calls, turns
on the Spark event log and reports the per-layer metrics instead; traced and
untraced ops alternate so the tracing overhead is measured in the same run.

Every file the run writes stays under perfbench/.work (deleted at exit) and
perfbench/.results (one JSON artifact per run, never overwritten).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("onboard_batch", "incremental_feed", "registry_mix")
TRACED_EVERY = 2  # in a traced run, ops 0, 2, 4, ... carry spans


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, before pyspark is imported."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "eventlog", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        # Every JVM the run starts, spark-submit's launcher included, keeps
        # its temp files in the work dir and writes no perf-data file.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}"
        f" -Dderby.system.home={work} -XX:-UsePerfData",
        # Python workers import the package from the checkout, whatever
        # their cwd.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tools"))  # the oracle gate's canonicaliser
    return dirs


def weather(bench, cpus: int) -> dict:
    """Box weather beside the metrics, never used to correct them: the
    repo's single-core and multi-core canaries, and load averages."""
    t0 = time.perf_counter()
    rec = {
        "loadavg": list(os.getloadavg()),
        "cpu_canary_s": bench._cpu_canary(),
        "mp_canary_s": bench._mp_canary(cpus),
    }
    rec["took_s"] = time.perf_counter() - t0
    return rec


def install_spans(tracer) -> None:
    """Wrap the engine's public calls so each records a span."""
    from autonomus_datapipeline_spark import catalog
    from autonomus_datapipeline_spark.engine import chain, pipeline, quality, sandbox
    from autonomus_datapipeline_spark.inference import detect
    from autonomus_datapipeline_spark.sources import files

    tracer.wrap(files.FileSource, "read", "sources.read")
    tracer.wrap(detect, "detect_file_schema", "inference.detect")
    # chain imported these two by name, so both bindings are wrapped
    for owner in (sandbox, chain):
        tracer.wrap(owner, "compile_transform", "engine.sandbox.compile")
        tracer.wrap(owner, "dry_run", "engine.sandbox.dry_run")
    for method in ("add_step", "dry_run_all", "execute"):
        tracer.wrap(chain.TransformChain, method, "engine.chain")
    tracer.wrap(pipeline.Pipeline, "ingest_files", "engine.pipeline.bronze")
    tracer.wrap(pipeline.Pipeline, "ingest_bronze", "engine.pipeline.bronze")
    tracer.wrap(pipeline.Pipeline, "run_silver", "engine.pipeline.silver")
    tracer.wrap(pipeline.Pipeline, "run_gold", "engine.pipeline.gold")
    tracer.wrap(quality, "evaluate_rules", "engine.quality.dq")
    for method in ("versions", "latest_version", "next_version", "write_meta",
                   "read_meta", "schema_of", "read", "latest"):
        tracer.wrap(catalog.Catalog, method, "catalog")


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: it exits when its
    stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    results_dir = os.path.join(HERE, ".results")
    dirs = prepare_env(work)
    try:
        return run(args, work, dirs, results_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def run(args, work: str, dirs: dict[str, str], results_dir: str) -> int:
    import bench  # the repo's bench harness: its canaries, and the engine

    from autonomus_datapipeline_spark.session import get_spark

    import metrics
    import scenarios
    import sparkstats
    from spans import Tracer

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    weather_before = weather(bench, cpus)

    conf = {
        "spark.sql.warehouse.dir": dirs["spark-warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
        })
    tracer = Tracer()
    if args.trace:
        install_spans(tracer)

    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"before_session_s": t_session - T_START - weather_before["took_s"],
              "session_s": time.perf_counter() - t_session}
    try:
        ctx = scenarios.Context(spark, tracer, work, args.seed, bool(args.trace))
        load = scenarios.WORKLOADS[args.workload](ctx)
        t_load = time.perf_counter()
        load.setup(args.seconds)
        phases["inputs_and_warmup_s"] = time.perf_counter() - t_load
        setup_s = time.perf_counter() - T_START - weather_before["took_s"]

        t_window = time.perf_counter()
        load.run(args.seconds, TRACED_EVERY if args.trace else 0)
        phases["window_s"] = time.perf_counter() - t_window
        t_verify = time.perf_counter()
        ctx.set_group("verify")
        load.verify()
        phases["verify_s"] = time.perf_counter() - t_verify
        peak_rss_mb = sparkstats.tree_peak_rss_mb(sparkstats.process_tree())
    finally:
        spark.stop()
        tracer.unwrap_all()
        stop_jvm()
    weather_after = weather(bench, cpus)
    events = sparkstats.parse_events(sparkstats.read_event_log(dirs["eventlog"])) \
        if args.trace else {}

    report = metrics.Report(
        workload=args.workload, ctx=ctx, load=load, setup_s=setup_s,
        peak_rss_mb=peak_rss_mb, events=events,
    )
    result = report.result(bool(args.trace))
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "weather_before": weather_before, "weather_after": weather_after,
        "phases": phases, "total_s": time.perf_counter() - T_START,
        "failures": ctx.failures, "result": result, **report.details(),
    }
    if args.trace:
        artifact["spans"] = [sp.__dict__ for sp in tracer.spans]
    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(
        results_dir, f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    )
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)

    for line in report.lines(bool(args.trace)):
        print(line)
    print(f"# weather before {json.dumps(weather_before)}")
    print(f"# weather after {json.dumps(weather_after)}")
    for f in ctx.failures:
        print(f"# FAILED CHECK {f}")
    print(f"# artifact {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
