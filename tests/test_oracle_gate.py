"""The oracle gate's verdict function (tools/check_oracles.py) on crafted
result pairs, and a foreign-cwd run of the Python-UDF queries."""

from __future__ import annotations

import datetime as dt
import math
import os
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(REPO, "tools"))

from check_oracles import rowset, verdict  # noqa: E402


def test_one_ulp_passes_gate_and_fails_bit_exact():
    spark_side = pd.DataFrame({"k": [1, 2], "v": [0.1, 1.5]})
    duck_side = pd.DataFrame({"v": [1.5, math.nextafter(0.1, 1.0)], "k": [2, 1]})
    r = verdict(spark_side, duck_side)
    assert r["status"] == "ok" and r["rows"] == 2
    assert r["drift_cells"] == 1
    assert r["drift_example"] == "0.1 vs 0.10000000000000002"
    same = verdict(spark_side, spark_side.copy())
    assert same["status"] == "ok" and same["drift_cells"] == 0


def test_int_float_dtype_drift_fails_gate():
    r = verdict(pd.DataFrame({"n": [279]}), pd.DataFrame({"n": [279.0]}))
    assert r["status"] == "FAIL"
    assert "dtype drift" in r["detail"] and "drift_cells" not in r


def test_tenth_digit_difference_fails_gate():
    r = verdict(pd.DataFrame({"v": [1.0]}), pd.DataFrame({"v": [1.000001]}))
    assert r["status"] == "FAIL" and "value mismatch" in r["detail"]
    r = verdict(pd.DataFrame({"v": [1.0]}), pd.DataFrame({"v": [1.0, 2.0]}))
    assert r["status"] == "FAIL" and "rowcount" in r["detail"]


def test_rowset_pinned_on_mixed_types():
    """perfbench's registry_mix oracle check hashes this canonical form."""
    rows = [
        (3.0, "x"),
        (float("nan"), dt.date(2020, 1, 2)),
        (279, None),
        (1e20, 0.1),
    ]
    assert rowset(["b", "a"], rows) == [
        ("0.1", "1e+20"),
        ("2020-01-02 00:00:00", "NaN"),
        ("None", "279"),
        ("x", "3.0"),
    ]


def test_udf_queries_run_from_a_foreign_cwd(tmp_path, sf_dir):
    """The Python workers of a session built from another working directory
    must still import the package (the driver reaches it only through a
    sys.path insert)."""
    names = [
        "bpe_encode_tokens",
        "mmr_diversified_topk",
        "multimodal_decode_features",
        "unigram_viterbi_tokens",
    ]
    script = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from autonomus_datapipeline_spark.session import get_spark\n"
        "from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY\n"
        "spark = get_spark('udf-cwd', shuffle_partitions=4)\n"
        f"for name in {names!r}:\n"
        f"    n = len(QUERY_REGISTRY[name].fn(spark, {sf_dir!r}).collect())\n"
        "    print(name, n, flush=True)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    counts = dict(line.split() for line in r.stdout.splitlines())
    assert sorted(counts) == sorted(names)
    assert all(int(n) > 0 for n in counts.values())
