"""Query registry: every implemented operator gets a named (Spark fn, oracle SQL) pair.

The driver runs each Spark query and its DuckDB oracle side-by-side at sf0.01
and compares row-count + schema + order-insensitive value hash. Determinism
rules used throughout the workloads (so a Spark plan and a DuckDB plan produce
bit-identical values regardless of partitioning / parallelism / summation
order):

- **Sums and averages of doubles** go through an exact decimal accumulator:
  per-row math stays in IEEE double (deterministic per row), the row value is
  snapped to DECIMAL(38,6), summed exactly (order-free), and the total is cast
  back to double. Helpers: :func:`dsum` / :func:`davg` (Spark side) and
  :func:`sql_dsum` / :func:`sql_davg` (oracle side).
- **Top-k / rankings** always carry a total tiebreak order.
- **Hashes** use md5 hex (identical in Spark and DuckDB), never engine-native
  hash functions.

This module is engine code, not test code: `bench.py` and `__spark_entry__.py`
both feed from the same registry.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB-runnable SQL over the same tables; None → rows-only check
    doc: str


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def _interp_doc(fn: Callable) -> str:
    """Interpolate ``{_MODULE_CONSTANT}`` placeholders in a query docstring
    from the defining module's globals. Docstrings are plain strings (an
    f-string would not survive as ``__doc__``), so references to tuning
    constants like ``{_LPA_TOP}`` stay literal without this pass — and the
    stored QuerySpec.doc surfaces in generated docs. Only underscore-prefixed
    identifiers that actually exist in the module are substituted; anything
    else (including literal braces in prose) is left untouched."""
    import re
    import sys

    doc = fn.__doc__ or ""
    mod = sys.modules.get(fn.__module__)
    g = vars(mod) if mod is not None else {}
    return re.sub(
        r"\{(_[A-Za-z0-9_]+)\}",
        lambda m: str(g[m.group(1)]) if m.group(1) in g else m.group(0),
        doc,
    )


def query(name: str, oracle: str | None = None):
    """Register a workload query. ``oracle`` is the DuckDB-equivalent SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        doc = _interp_doc(fn)
        fn.__doc__ = doc
        QUERY_REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


# Tables whose queries are dominated by per-row compute (shingle/md5/regex
# over text, vector math over embeddings). The bench parquet files are a
# SINGLE row group, which parquet cannot split — so without intervention
# every one of those compute-heavy projections runs as one task on one
# core. :func:`load_table` fans these tables out to the session width when
# (and only when) the scan has fewer partitions than the session width: a
# cheap shuffle of megabytes that buys full-width parallelism for the
# expensive projections above it. At 100 TB the same corpus arrives as
# thousands of splittable files, the partition count already exceeds the
# width, and the fan-out is a no-op by construction — this is a guard
# against under-split INPUTS, not a blanket repartition. Catalyst still
# pushes filters and prunes columns THROUGH the repartition into the scan
# (PushDownPredicates handles RepartitionByExpression/Repartition), which
# tests assert.
_FAN_OUT_TABLES = frozenset({"documents", "embeddings"})


# Session confs that steer how Parquet types map to Spark types when a
# schema is inferred (``events`` sets the first). They are part of a
# memoized schema's key: the same footer infers another schema under them.
_PARQUET_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# path -> (key, inferred StructType); one entry per path, so a rewritten
# table replaces its entry instead of adding one.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_stamps(path: str) -> tuple | None:
    """(name, size, st_mtime_ns) of every file under ``path``, or None when
    ``os.stat`` cannot see it (an object-store URI such as ``s3a://``)."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        stamps = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                name = os.path.join(root, f)
                st = os.stat(name)
                stamps.append((name, st.st_size, st.st_mtime_ns))
        return tuple(sorted(stamps))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file.

    Inference reads the Parquet footers in a Spark job of its own. A repeated
    read of unchanged files in one process reads with the schema the first
    inferred, as :meth:`Catalog.read` does; the memo key is stated in
    :func:`load_table`. A path ``os.stat`` cannot see always infers."""
    stamps = _file_stamps(path)
    if stamps is None:
        return spark.read.parquet(path)
    key = (stamps, tuple(spark.conf.get(k) for k in _PARQUET_TYPE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool | None = None
) -> DataFrame:
    """Parquet scan — columnar, so Catalyst prunes columns and pushes filters.

    The schema is inferred once per file and process (:func:`_read_parquet`).
    The memo key is the path, the (size, ``st_mtime_ns``) of every file
    under it, and the session confs that steer the Parquet→Spark type
    mapping (:data:`_PARQUET_TYPE_CONFS`, among them
    ``spark.sql.legacy.parquet.nanosAsLong``), so a rewritten file or
    another type mapping infers again.

    The driver's ``events`` table stores ``ts`` as Parquet TIMESTAMP(NANOS),
    which Spark has no native type for: we read nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to a microsecond
    TimestampType — a narrow, codegen'd projection with zero scan overhead.

    Compute-heavy tables (see :data:`_FAN_OUT_TABLES`) are repartitioned to
    the session width when the input is under-split. ``fan_out=False`` opts
    a call site out: for a LIGHT scan (one narrow projection feeding
    shuffles that re-partition anyway) the fan-out shuffles the raw column
    data for no compute win — measured +1.5 s on quantile_normalize_deciles
    and +0.5 s on dbscan_grid_clusters at sf0.1 (AB_r11.json). The heavy
    scans (shingle/md5/regex per row) keep the default."""
    if name == "events":
        # Without this flag Spark cannot read a TIMESTAMP(NANOS) parquet
        # column at all (hard AnalysisException), so setting it session-wide
        # turns an error into a long — it cannot change the semantics of any
        # query that worked without it. The session time zone is NOT touched:
        # the nanos→NTZ conversion below is built from an NTZ epoch literal
        # via timestampadd, which is session-TZ-independent by construction.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        # idempotent: derived copies of the table may already carry a
        # converted timestamp column
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if fan_out is None:
        fan_out = name in _FAN_OUT_TABLES
    if fan_out:
        width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if df.rdd.getNumPartitions() < width:
            df = df.repartition(width)
    return df


# Public TPC-H dbgen data envelope: o_orderdate spans [1992-01-01,
# 1998-08-02]. Calendar-keyed prefix-sum callers pass these as `bounds=`
# to skip the min/max scan job; expressed as epoch-day numbers (the
# bucket proxy date keys use in operators/prefix_sum) resp. plain years.
# Loose on purpose (through 1998-12-31): bounds only steer load balance,
# never values — out-of-range keys clamp into the edge buckets.
ORDERDATE_EPOCH_DAY_BOUNDS = (8035.0, 10591.0)
ORDER_YEAR_BOUNDS = (1992.0, 1998.0)
# Generator value envelopes (driver generator, seed-fixed spec): order
# totals are drawn in [1000, 500000], lineitem extended prices in
# [900, 105000], quantities in [1, 50], and the events stream covers one
# fixed 31-day window (so any intra-stream time delta fits in 31 days of
# seconds). Same contract as the calendar bounds above: deliberately
# loose, used only as prefix-sum `bounds=` to skip the min/max scan —
# out-of-range keys clamp into edge buckets (load balance, never values).
ORDER_TOTALPRICE_BOUNDS = (0.0, 500000.0)
LINEITEM_EXTPRICE_BOUNDS = (0.0, 105000.0)
LINEITEM_QUANTITY_BOUNDS = (0.0, 51.0)
EVENTS_SPAN_SECONDS_BOUNDS = (0.0, 31.0 * 86400.0)
# Structural envelopes (properties of the key's CONSTRUCTION, not of any
# data draw — valid on every deployment, r15):
# - an md5 hex digest is lowercase [0-9a-f], so its string_order_proxy
#   (first 7 bytes big-endian) lies in [int(b"0000000"), int(b"fffffff")];
# - unit-normalized embedding components lie in [-1, 1] by definition of
#   the L2 norm. Both rounded outward where float precision matters.
MD5_HEX7_PROXY_BOUNDS = (
    float(int.from_bytes(b"0000000", "big")),
    float(int.from_bytes(b"fffffff", "big")),
)
UNIT_EMBED_COMPONENT_BOUNDS = (-1.0, 1.0)


def materialize_input(df):
    """Materialize an EXPENSIVE prefix-sum input whose leading key has no
    generator-spec envelope (so `bounds=` cannot skip the min/max scan).

    The prefix-sum operator reads its input from several subplans (min/max
    scan, the bucketed window, the per-bucket rollup) and column pruning
    specializes each branch, so exchange reuse cannot dedup them — an
    uncached corpus scan or fact rollup re-executes up to 3×. A lazy
    localCheckpoint computes the input once (first job blocks, the rest
    read the materialized blocks) without pinning an InMemoryRelation for
    the session (the r6/r7b cache()-blocks-AQE lesson — blocks are freed by
    GC with the result DataFrame). Use ONLY on inputs that are aggregates /
    slim projections: the checkpoint stores |rows|×|cols| on the executors.
    """
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# Deterministic aggregation helpers (Spark side)
# ---------------------------------------------------------------------------

_DEC = "decimal(38,6)"
# Exact descale factor for the DECIMAL(38,6) sums below: multiplying the
# sum by 10^6 inside decimal and casting to DECIMAL(38,0) recovers the
# exact INTEGER unit count on both engines (probed: DECIMAL(38,6) ×
# DECIMAL(7,0) → DECIMAL(38,6), exact). The final double is then
# units→double (scale-0 cast, single-rounded identically on both engines)
# followed by an explicit /1e6 — the SAME two roundings on both sides.
# The old direct DECIMAL(38,6)→DOUBLE cast diverged by one ulp once the
# unit count passed 2^53 (DuckDB descales in two steps, double-rounding;
# Spark rounds once): first seen on q1's sum_charge in the r13 sf1 sweep
# (bit-exact at sf0.1 where units ≈ 2.8e15 < 2^53, one ulp off at sf1's
# 2.8e16). Below 2^53 units the new form is provably bit-identical to
# the old on both engines, so every historical proof stands.
# (Built lazily per call: creating a literal Column at import time would
# require an active SparkContext.)


def _dec_descale() -> Column:
    return F.lit(1000000).cast("decimal(7,0)")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent exact sum of a double expression, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.sum(c.cast(_DEC)) * _dec_descale())
        .cast("decimal(38,0)")
        .cast("double")
        / F.lit(1e6)
    ).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """avg = exact-decimal sum / count, evaluated in double (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.sum(c.cast(_DEC)) * _dec_descale())
        .cast("decimal(38,0)")
        .cast("double")
        / F.lit(1e6)
        / F.count(c)
    ).alias(alias)


# ---------------------------------------------------------------------------
# Deterministic aggregation helpers (oracle SQL side)
# ---------------------------------------------------------------------------


def fsum(col: Column, alias: str, grain: float = 1e6) -> Column:
    """Floor-quantized order-independent sum of a genuinely-fractional
    double expression, returned as double.

    :func:`dsum`'s DECIMAL(38,6) snap ROUNDS each row value, and the two
    engines implement that rounding differently (Spark: HALF_UP on the
    double's shortest decimal string via BigDecimal.valueOf; DuckDB:
    multiply-by-10^scale then round) — on IEEE-noisy inputs (a price
    stored as 68423.459999999992) they occasionally disagree by one
    quantum, which downstream cancellation amplifies (the r8
    ewma_daily_revenue red row; the bit-exact verdict of
    tools/check_oracles.py finds the residue). FLOOR(x·grain) has no tie
    case and depends only on the IEEE product both engines compute
    identically, so the per-row quantized
    units — and therefore the exact integer sum and its one double cast —
    are bit-identical by construction. Use for sums of true double
    PRODUCTS (x·y, r², value·weight); plain decimal-exact inputs keep
    :func:`dsum`."""
    c = F.floor(col * F.lit(grain)).cast("decimal(38,0)")
    return (F.sum(c).cast("double") / F.lit(grain)).alias(alias)


def sql_fsum(expr: str, alias: str, grain: str = "1e6") -> str:
    """Oracle-side mirror of :func:`fsum` — identical quantization."""
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {grain}) AS DECIMAL(38,0))) AS DOUBLE)"
        f" / {grain} AS {alias}"
    )


def descale(dec_sum: Column, scale: int = 6) -> Column:
    """DECIMAL(*,scale) aggregate → double via the exact descale (see the
    _dec_descale note): sum × 10^scale → DECIMAL(38,0) → double →
    /10^scale, the same two roundings on both engines at any magnitude.
    The multiplier's scale MUST match the decimal's actual scale or the
    DECIMAL(38,0) cast rounds a fractional value (engine-divergent)."""
    mult = F.lit(10 ** scale).cast(f"decimal({scale + 1},0)")
    return (
        (dec_sum * mult).cast("decimal(38,0)").cast("double")
        / F.lit(float(10 ** scale))
    )


def descale6(dec_sum: Column) -> Column:
    """:func:`descale` at the registry's standard scale 6 — for inline
    decimal sums (incl. window sums) that can't go through dsum/davg."""
    return descale(dec_sum, 6)


def sql_dsum(expr: str, alias: str) -> str:
    """Oracle-side mirror of :func:`dsum` — identical descale + roundings.
    Parenthesized so callers may strip the alias and embed it in a larger
    expression (q8 builds its ratio that way)."""
    return (
        f"(CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6)))"
        f" * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE)"
        f" / 1e6) AS {alias}"
    )


def sql_davg(expr: str, alias: str) -> str:
    """Oracle-side mirror of :func:`davg` — identical descale + roundings."""
    return (
        f"(CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6)))"
        f" * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE)"
        f" / 1e6 / COUNT({expr})) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Driver contract surface
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return {name: spec.fn for name, spec in QUERY_REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL of every query that has one, in registration order."""
    return {
        name: spec.oracle
        for name, spec in QUERY_REGISTRY.items()
        if spec.oracle is not None
    }
