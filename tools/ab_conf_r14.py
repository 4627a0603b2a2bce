#!/usr/bin/env python
"""Session-conf A/B for r14 (guide §1: measure before/after, §2.2 AQE
partition sizing).

Conf changes need a fresh SparkSession, so variants cannot interleave
within one session the way in-process module-switch A/Bs do. Instead
the variants alternate in BLOCKS (A B A B ...), each block a fresh
session (stop + rebuild) with its own warm-up, and each query timed
n_runs times per block with the block MINIMUM kept (host stalls on this
box only ever inflate — min is the stall-robust statistic; medians are
reported too). A CPU canary brackets every block so cross-block weather
is visible.

Usage:
  python tools/ab_conf_r14.py "k=v[,k=v]" [n_blocks] [query ...]

Variant A = baseline session (session.py defaults), variant B = baseline
plus the given conf overrides. Writes AB_r14_conf_<slug>.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from autonomus_datapipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT_QUERIES = [
    "pagerank_copurchase",
    "label_propagation_communities",
    "lpa_modularity_score",
    "kcore_peeling_summary",
    "adamic_adar_link_prediction",
    "bfs_hops_from_hub",
    "hits_copurchase_2iter",
    "simhash_hamming_dedup_first",
    "dedup_apply_minhash",
    "theil_sen_daily_trend",
]


def cpu_canary() -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def run_block(conf: dict, names: list[str], n_runs: int) -> dict:
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # getOrCreate would reuse a stopped-context-free existing session;
    # after stop() a fresh one is built with the new conf.
    spark = get_spark("ab-conf", extra_conf=conf or None)
    spark.sparkContext.setLogLevel("ERROR")
    from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY

    QUERY_REGISTRY["distinct_counts"].fn(spark, SF_DIR).count()
    spark.range(64).repartition(8).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    out = {}
    for q in names:
        runs = []
        for _ in range(n_runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERY_REGISTRY[q].fn(spark, SF_DIR).count()
            runs.append(round(time.perf_counter() - t0, 3))
        out[q] = runs
    spark.stop()
    return out


def main() -> None:
    overrides = dict(kv.split("=", 1) for kv in sys.argv[1].split(","))
    n_blocks = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    names = sys.argv[3:] or DEFAULT_QUERIES
    n_runs = int(os.environ.get("AB_RUNS", "2"))

    variants = {"base": {}, "conf": overrides}
    walls: dict[str, dict[str, list[float]]] = {
        v: {q: [] for q in names} for v in variants
    }
    canaries = []
    for b in range(n_blocks):
        for v, conf in variants.items():
            c = cpu_canary()
            canaries.append(round(c, 4))
            res = run_block(conf, names, n_runs)
            for q, runs in res.items():
                walls[v][q].extend(runs)
                print(f"block {b} {v:5s} {q:34s} {runs} (canary {c:.3f})",
                      flush=True)
    agg = {
        v: {
            q: {"min": min(r), "median": round(statistics.median(r), 3)}
            for q, r in d.items()
        }
        for v, d in walls.items()
    }
    delta_min = {
        q: round(agg["conf"][q]["min"] - agg["base"][q]["min"], 3)
        for q in names
    }
    slug = "_".join(
        k.rsplit(".", 1)[-1] + "-" + v for k, v in overrides.items()
    )[:60].replace("/", "-")
    out = {
        "overrides": overrides,
        "sf_dir": SF_DIR,
        "n_blocks": n_blocks,
        "n_runs_per_block": n_runs,
        "canaries": canaries,
        "agg": agg,
        "delta_min_conf_minus_base": delta_min,
        "all": walls,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"AB_r14_conf_{slug}.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"agg": agg, "delta_min": delta_min}, indent=1))


if __name__ == "__main__":
    main()
