#!/usr/bin/env python
"""Local replica of the driver's correctness gate, with a bit-exact float
verdict from the same result pair.

Runs every registered query on Spark and its oracle SQL on DuckDB against the
same parquet tables, once each, and gives two verdicts per query:

- the gate (it alone sets the exit code): column names, no complex-typed
  output column, no int/float dtype drift, row count, and order-insensitive
  values (rows sorted after sorting columns by name, floats at 10 digits);
- bit-exact: after aligning the rows by those 10-digit keys, every float
  cell equal to the last bit. A query that drifts here passes the gate but
  would fail any stricter hash.

The report's summary also lists as ``vacuous`` the queries whose check
passed with 0 rows on both engines: they compared nothing at that scale.
That list changes neither a verdict nor the exit code.

Tables may be single parquet files (/root/testdata) or directories of part
files (the sf1 build of tools/sf1_bench.py). Each run writes
ORACLES_<sf>_<UTC time>_<pid>.json ({"summary", "queries"}) in the working
directory, so runs never overwrite each other; runs over disjoint query
lists merge by a union of their "queries" dicts.

Usage: python tools/check_oracles.py [--vanilla] [sf_dir] [query ...]
  --vanilla  a stock SparkSession with none of the engine's confs, as the
             driver builds it
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from autonomus_datapipeline_spark.session import get_spark  # noqa: E402
from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY, TABLES  # noqa: E402


def norm(v):
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        # Spark DATE surfaces as datetime.date through toPandas while DuckDB
        # DATE surfaces as a midnight Timestamp through .df(); the driver
        # treats those as equal (string_date_functions is driver-green), so
        # canonicalize both to the timestamp form.
        return f"{v.isoformat()} 00:00:00"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        s = f"{v:.10g}"
        # Keep float-ness visible: an integral float must NOT collapse to the
        # int form.  DuckDB widens SUM(BIGINT) to HUGEINT, which pandas
        # materializes as float64 (279.0) while Spark returns int64 (279) —
        # the driver hashes those as different values (round-4 red row), so
        # the local gate must too.
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    return str(v)


_INT_KINDS = frozenset("iu")


def dtype_drift(scols, spdf, ddf):
    """Columns whose pandas dtype *kind* disagrees between Spark and DuckDB
    in the int-vs-float dimension — the exact drift the driver's
    pandas-based canonicalizer hashes as a mismatch."""
    bad = []
    for c in scols:
        sk, dk = spdf[c].dtype.kind, ddf[c].dtype.kind
        s_int, d_int = sk in _INT_KINDS, dk in _INT_KINDS
        s_flt, d_flt = sk == "f", dk == "f"
        if (s_int and d_flt) or (s_flt and d_int):
            bad.append((c, str(spdf[c].dtype), str(ddf[c].dtype)))
    return bad


def aligned(cols, rows):
    """[(norm key tuple, raw value tuple)] sorted, columns sorted by name:
    the gate compares the keys, the bit-exact verdict the raw values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order), tuple(r[i] for i in order))
        for r in rows
    )


def rowset(cols, rows):
    return [key for key, _ in aligned(cols, rows)]


def bit_exact(srows, drows):
    """(n_drifting_cells, worst_rel, example) over the float cells of two
    aligned row lists. Non-float cells are skipped."""
    worst, n_cells, example = 0.0, 0, ""
    for (_, sv), (_, dv) in zip(srows, drows):
        for a, b in zip(sv, dv):
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a == b and math.copysign(1, a) == math.copysign(1, b):
                    continue
                n_cells += 1
                rel = abs(a - b) / max(abs(a), abs(b), 1e-300)
                if rel > worst:
                    worst, example = rel, f"{a!r} vs {b!r}"
    return n_cells, worst, example


def verdict(spdf, ddf) -> dict:
    """Both verdicts on one Spark/DuckDB result pair, given as the pandas
    frames the driver's canonicalizer sees. ``status`` is the gate's;
    ``drift_cells`` (only when the gate passes) is the bit-exact one."""
    scols, dcols = list(spdf.columns), list(ddf.columns)
    if sorted(scols) != sorted(dcols):
        return {"status": "FAIL",
                "detail": f"columns spark={sorted(scols)} duck={sorted(dcols)}"}
    drift = dtype_drift(scols, spdf, ddf)
    if drift:
        return {"status": "FAIL",
                "detail": f"int/float dtype drift (spark vs duck): {drift}"}
    s = aligned(scols, spdf.itertuples(index=False, name=None))
    d = aligned(dcols, ddf.itertuples(index=False, name=None))
    if len(s) != len(d):
        return {"status": "FAIL", "detail": f"rowcount spark={len(s)} duck={len(d)}"}
    if any(a != b for (a, _), (b, _) in zip(s, d)):
        bad = [(a, b) for (a, _), (b, _) in zip(s, d) if a != b][:3]
        return {"status": "FAIL", "detail": f"value mismatch, first diffs: {bad}"}
    n_cells, worst, example = bit_exact(s, d)
    out = {"status": "ok", "rows": len(s), "drift_cells": n_cells}
    if n_cells:
        out.update(drift_max_rel=worst, drift_example=example)
    return out


def check(spark, con, spec, sf_dir: str) -> dict:
    """Run one query on both engines and judge the result pair."""
    try:
        sdf = spec.fn(spark, sf_dir)
        # Canonicalize through pandas exactly like the driver does —
        # collect() would hand back Python ints where toPandas() yields
        # the dtype the driver actually hashes.
        spdf = sdf.toPandas()
    except Exception as exc:  # noqa: BLE001
        return {"status": "FAIL", "detail": f"spark error: {exc}"}
    # Driver-compat guard: the driver canonicalizes through pandas, which
    # cannot hash/sort list- or dict-typed cells (round-1 failure mode of
    # array_agg_order_years) — flag any such output column as a failure
    # even though our own str()-based comparison would survive it.
    # Checked on the SCHEMA, not the first row: a column that is NULL in
    # row 0 but list-typed later would slip a row-based probe.
    bad_cols = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct", "binary")
    ]
    if bad_cols:
        return {"status": "FAIL",
                "detail": f"complex-typed output column(s) {bad_cols} "
                          f"(driver's pandas canonicalizer would crash)"}
    if spec.oracle is None:
        return {"status": "ok*", "rows": len(spdf)}
    try:
        # .df(), not fetchall(): fetchall() returns Python ints for
        # HUGEINT while the driver's pandas path sees float64.
        ddf = con.execute(spec.oracle).df()
    except Exception as exc:  # noqa: BLE001
        return {"status": "FAIL", "detail": f"duckdb error: {exc}"}
    return verdict(spdf, ddf)


def _line(name: str, r: dict) -> str:
    if r["status"] == "FAIL":
        return f"FAIL  {name}: {r['detail']}"
    if r["status"] == "ok*":
        return f"ok*   {name}: rows-only ({r['rows']} rows, {r['sec']}s, no oracle)"
    exact = ("bit-exact" if not r["drift_cells"] else
             f"FLOAT DRIFT {r['drift_cells']} cells max rel "
             f"{r['drift_max_rel']:.3e} ({r['drift_example']})")
    return f"ok    {name}: {r['rows']} rows match, {exact} ({r['sec']}s)"


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if not os.path.exists(f"{sf_dir}/lineitem.parquet"):
        print(f"{sf_dir}/lineitem.parquet missing", file=sys.stderr)
        return 2
    if vanilla:
        # replicate the driver: a stock session with none of our confs
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("oracle-check-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    report: dict[str, dict] = {}
    # Per-process spill dir: concurrent runs sharing the default cwd-relative
    # ".tmp" delete each other's temp files.
    tmp = tempfile.mkdtemp(prefix="duckdb_oracles_")
    try:
        with duckdb.connect() as con:
            con.execute(f"SET temp_directory='{tmp}'")
            for t in TABLES:
                # A directory of part files needs the explicit glob.
                path = f"{sf_dir}/{t}.parquet"
                src = f"{path}/*.parquet" if os.path.isdir(path) else path
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
            for name, spec in QUERY_REGISTRY.items():
                if not only or name in only:
                    t0 = time.time()
                    report[name] = check(spark, con, spec, sf_dir)
                    report[name]["sec"] = round(time.time() - t0, 1)
                    print(_line(name, report[name]), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    failures = [n for n, r in report.items() if r["status"] == "FAIL"]
    drifted = [n for n, r in report.items() if r.get("drift_cells")]
    # Both engines returned no rows: the check passed but compared nothing.
    vacuous = [n for n, r in report.items() if r["status"] == "ok" and r["rows"] == 0]
    summary = {"sf_dir": sf_dir, "vanilla": vanilla, "n_queries": len(report),
               "n_fail": len(failures), "failures": failures,
               "n_float_drift": len(drifted), "float_drift": drifted,
               "n_vacuous": len(vacuous), "vacuous": vacuous}
    stamp = _dt.datetime.now(_dt.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    out = f"ORACLES_{os.path.basename(sf_dir.rstrip('/'))}_{stamp}_{os.getpid()}.json"
    with open(out, "w") as fh:
        json.dump({"summary": summary, "queries": report}, fh, indent=1)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else "")
          + f"; {len(drifted)} with float drift"
          + (f": {drifted}" if drifted else "")
          + f"; {len(vacuous)} vacuous (0 rows on both)"
          + (f": {vacuous}" if vacuous else "") + f" -> {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
