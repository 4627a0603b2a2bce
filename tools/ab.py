#!/usr/bin/env python
"""Session-conf A/B: the engine's session ("base") against the same session
plus conf overrides ("conf"), timed per registry query at sf0.1.

The method follows from the conf. When every key is runtime-modifiable
(``spark.conf.isModifiable``), the variants run as interleaved pairs in one
session, so both see the same JIT state and box weather. Otherwise (static
or startup confs) the variants alternate in blocks, each block a fresh
session with its own warm-up. Either way every variant gets ``n`` timed runs
per query, after one untimed run per query per session, and the variant that
goes first alternates. bench.py's single-core canary runs before each
variant's pass, so box weather is on record. Host stalls only ever inflate
a run, so the per-query minimum is the stall-robust statistic; medians are
reported too.

Usage: python tools/ab.py "k=v[,k=v]" [n] [query ...]
Writes AB_<slug>_<UTC time>.json in the working directory.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _cpu_canary, _warm  # noqa: E402

from autonomus_datapipeline_spark.session import get_spark  # noqa: E402
from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

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


def _run(spark, name: str) -> float:
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    QUERY_REGISTRY[name].fn(spark, SF_DIR).count()
    return round(time.perf_counter() - t0, 3)


def _prime(spark, names: list[str]) -> None:
    """bench's warm-up, then one untimed run per query."""
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, SF_DIR)
    for q in names:
        _run(spark, q)


def main() -> None:
    overrides = dict(kv.split("=", 1) for kv in sys.argv[1].split(","))
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    names = sys.argv[3:] or DEFAULT_QUERIES

    spark = get_spark("ab")
    interleaved = all(spark.conf.isModifiable(k) for k in overrides)
    if interleaved:
        _prime(spark, names)
    # "base" restores each key's session value (unset when it had none)
    variants = {"base": {k: spark.conf.get(k, None) for k in overrides},
                "conf": overrides}
    walls: dict[str, dict[str, list[float]]] = {
        v: {q: [] for q in names} for v in variants
    }
    canaries = []
    for i in range(n):
        for v in (("base", "conf") if i % 2 == 0 else ("conf", "base")):
            c = _cpu_canary()
            canaries.append(c)
            if interleaved:
                for k, val in variants[v].items():
                    if val is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, val)
            else:
                spark.stop()
                spark = get_spark("ab", extra_conf=overrides if v == "conf" else None)
                _prime(spark, names)
            for q in names:
                w = _run(spark, q)
                walls[v][q].append(w)
                print(f"{i} {v:4s} {q:34s} {w:6.2f}s (canary {c:.3f})",
                      flush=True)
    spark.stop()

    agg = {
        v: {q: {"min": min(r), "median": round(statistics.median(r), 3)}
            for q, r in d.items()}
        for v, d in walls.items()
    }
    delta_min = {q: round(agg["conf"][q]["min"] - agg["base"][q]["min"], 3)
                 for q in names}
    slug = "_".join(
        k.rsplit(".", 1)[-1] + "-" + v for k, v in overrides.items()
    )[:60].replace("/", "-")
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    out = {
        "overrides": overrides,
        "method": "interleaved" if interleaved else "blocks",
        "sf_dir": SF_DIR,
        "n": n,
        "canaries": canaries,
        "agg": agg,
        "delta_min_conf_minus_base": delta_min,
        "all": walls,
    }
    with open(f"AB_{slug}_{stamp}.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"method": out["method"], "agg": agg,
                      "delta_min": delta_min}, indent=1))


if __name__ == "__main__":
    main()
