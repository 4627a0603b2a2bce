"""The three benchmark workloads.

Each drives the engine only through its public functions and gets only
inputs generated from the run's seed. All ops run on one client thread.

- ``onboard_batch`` (closed loop): each op onboards a new CSV source into a
  fresh pipeline: schema detection, dry runs of the Silver and Gold chains,
  Bronze ingest, Silver with data-quality rules, Gold. Loads inference, the
  sandbox, CSV parsing and table creation; never touches streaming or the
  registry operators.
- ``incremental_feed`` (open loop): a JSON batch is due every PERIOD_S into
  one long-lived pipeline; each cycle streams the new files into Bronze
  (availableNow), then reruns Silver and Gold. Loads streaming ingest,
  repeated plans, and the growth of Silver and catalog versions with history.
- ``registry_mix`` (closed loop): each op is one pass over a fixed list of
  registry queries, cache-cold per query, in a fixed order. Read-only and
  operator-bound: no writes and no catalog.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import duckdb

import datagen
import sparkstats
from spans import Tracer


@dataclass
class OpRecord:
    op: int
    traced: bool
    start: float  # perf_counter
    end: float
    wall_start: float  # epoch seconds, to match event-log times
    wall_end: float
    rows: int
    groups: list[str]
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)
    status: dict[str, dict[str, int]] = field(default_factory=dict)  # group → counts

    @property
    def latency(self) -> float:
        return self.end - self.start


class Context:
    """What every workload shares: the session, the tracer, the run's work
    directory and seed, and the timed op records."""

    def __init__(self, spark, tracer: Tracer, work_dir: str, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.trace = trace
        self.ops: list[OpRecord] = []
        self.failures: list[str] = []
        self.warehouse: str | None = None  # catalog root of writing workloads
        self.current_op: int | None = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def run_op(self, op: int, traced: bool, body) -> OpRecord:
        """Time ``body()`` as op ``op``. ``body`` returns (rows, extra job
        groups, info). An exception fails the op and is recorded."""
        group = f"op-{op}"
        before = dir_usage(self.warehouse) if self.trace and self.warehouse else None
        cpu_before = sparkstats.tree_cpu_s(sparkstats.process_tree()) if self.trace else 0.0
        self.current_op = op
        self.set_group(group)
        self.tracer.op = op
        self.tracer.enabled = traced
        rec = OpRecord(op, traced, 0.0, 0.0, 0.0, 0.0, 0, [group])
        rec.wall_start = time.time()
        rec.start = time.perf_counter()
        try:
            with self.tracer.span("op"):
                rows, groups, info = body()
            rec.rows = rows
            rec.groups += groups
            rec.info = info
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.ok = False
            rec.error = f"{type(exc).__name__}: {exc}"[:300]
        rec.end = time.perf_counter()
        rec.wall_end = time.time()
        self.tracer.enabled = False
        self.tracer.op = None
        self.set_group("bench")
        self.current_op = None
        if self.trace:
            rec.info["cpu_s"] = sparkstats.tree_cpu_s(sparkstats.process_tree()) - cpu_before
            # Untimed, right after the op: the status store keeps only the
            # latest jobs and stages, so later ops must not evict these first.
            try:
                rec.status = {g: sparkstats.status_counts(self.sc, g) for g in rec.groups}
            except LookupError as exc:
                self.failures.append(f"op {op}: {exc}")
        if before is not None:
            after = dir_usage(self.warehouse)
            rec.info["written_bytes"] = after[0] - before[0]
            rec.info["written_files"] = after[1] - before[1]
        self.ops.append(rec)
        return rec


def rows_match(got: list[tuple], want: list[tuple], rel_tol: float) -> bool:
    """Order-insensitive equality of result rows: integers and strings
    exact, floating-point values within ``rel_tol`` (their sums depend on
    summation order and on each engine's float arithmetic)."""
    if len(got) != len(want):
        return False

    def key(row):  # the exact-typed columns: the group keys of every check
        return tuple(str(v) for v in row if not isinstance(v, float))

    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, int) and isinstance(b, int):
                if a != b:
                    return False
            elif isinstance(a, (int, float)) and isinstance(b, (int, float)):
                if not math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=1e-9):
                    return False
            elif str(a) != str(b):
                return False
    return True


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# onboard_batch
# ---------------------------------------------------------------------------

_F = "from pyspark.sql import functions as F\n"


@dataclass(frozen=True)
class Variant:
    """One onboarding's Silver/Gold code, its data-quality rules, and the
    DuckDB query that computes the same Gold from the raw CSV ``src``."""

    name: str
    silver: tuple[tuple[str, str], ...]
    gold: str
    rules: tuple[tuple[str, str, str, dict], ...]
    oracle: str


_RULE_NOT_NULL = ("orderkey_not_null", "not_null", "l_orderkey", {})
_RULE_QTY = ("quantity_range", "in_range", "l_quantity", {"min": 1, "max": 50})
_RULE_FLAG = (
    "returnflag_values", "accepted_values", "l_returnflag",
    {"values": ["A", "N", "R"]},
)

VARIANTS = (
    Variant(
        "flag_status",
        (
            ("positive_qty", _F + "def transform(df, spark):\n"
             "    return df.filter(F.col('l_quantity') > 0)\n"),
            ("disc_price", _F + "def transform(df, spark):\n"
             "    return df.withColumn('disc_price',"
             " F.col('l_extendedprice') * (1 - F.col('l_discount')))\n"),
        ),
        _F + "def transform(df, spark):\n"
        "    return df.groupBy('l_returnflag', 'l_linestatus').agg(\n"
        "        F.count(F.lit(1)).alias('n'),\n"
        "        F.sum('l_quantity').alias('sum_qty'),\n"
        "        F.sum('disc_price').alias('sum_disc_price'))\n",
        (_RULE_NOT_NULL, _RULE_QTY, _RULE_FLAG),
        "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),"
        " sum(l_extendedprice * (1 - l_discount)) FROM src"
        " WHERE l_quantity > 0 GROUP BY 1, 2",
    ),
    Variant(
        "ship_year",
        (
            ("ship_year", _F + "def transform(df, spark):\n"
             "    return df.withColumn('ship_year', F.year('l_shipdate'))\n"),
            ("charge", _F + "def transform(df, spark):\n"
             "    return df.withColumn('charge', F.col('l_extendedprice')"
             " * (1 - F.col('l_discount')) * (1 + F.col('l_tax')))\n"),
        ),
        _F + "def transform(df, spark):\n"
        "    return df.groupBy('ship_year').agg(\n"
        "        F.count(F.lit(1)).alias('n'),\n"
        "        F.sum('charge').alias('sum_charge'),\n"
        "        F.max('l_extendedprice').alias('max_price'))\n",
        (_RULE_NOT_NULL, _RULE_FLAG),
        "SELECT year(l_shipdate), count(*),"
        " sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),"
        " max(l_extendedprice) FROM src GROUP BY 1",
    ),
    Variant(
        "supplier_band",
        (
            ("mid_quantity", _F + "def transform(df, spark):\n"
             "    return df.filter(F.col('l_quantity').between(10, 40))\n"),
            ("supp_bucket", _F + "def transform(df, spark):\n"
             "    return df.withColumn('supp_bucket', F.col('l_suppkey') % 50)\n"),
        ),
        _F + "def transform(df, spark):\n"
        "    return df.groupBy('supp_bucket').agg(\n"
        "        F.count(F.lit(1)).alias('n'),\n"
        "        F.sum('l_extendedprice').alias('sum_price'),\n"
        "        F.min('l_quantity').alias('min_qty'))\n",
        (_RULE_NOT_NULL, _RULE_QTY, _RULE_FLAG),
        "SELECT l_suppkey % 50, count(*), sum(l_extendedprice), min(l_quantity)"
        " FROM src WHERE l_quantity BETWEEN 10 AND 40 GROUP BY 1",
    ),
    Variant(
        "ship_month",
        (
            ("not_returned", _F + "def transform(df, spark):\n"
             "    return df.filter(F.col('l_returnflag') != 'N')\n"),
            ("ship_month", _F + "def transform(df, spark):\n"
             "    return df.withColumn('ship_month', F.month('l_shipdate'))\n"),
        ),
        _F + "def transform(df, spark):\n"
        "    return df.groupBy('ship_month', 'l_linestatus').agg(\n"
        "        F.count(F.lit(1)).alias('n'),\n"
        "        F.avg('l_discount').alias('avg_disc'))\n",
        (_RULE_QTY, _RULE_FLAG),
        "SELECT month(l_shipdate), l_linestatus, count(*), avg(l_discount)"
        " FROM src WHERE l_returnflag <> 'N' GROUP BY 1, 2",
    ),
)


_DUCK_TYPES = {
    "string": "VARCHAR", "integer": "INTEGER", "long": "BIGINT",
    "float": "REAL", "double": "DOUBLE", "boolean": "BOOLEAN",
    "timestamp": "TIMESTAMP", "date": "DATE",
}


# Schema detection types decimal CSV columns as 32-bit "float" (the
# reference's type voting), so Gold sums of per-row float products agree
# between engines to float precision, not double.
FLOAT32_TOL = 1e-6


class OnboardBatch:
    ROWS = 150_000
    # The op's latency falls over its first 20 or so onboardings while the
    # JIT settles the per-op paths (planning, codegen, the sandbox), whatever
    # the slice size. Small warm-up slices settle them at less cost; 12 take
    # the window past the steepest part within the run's time budget.
    WARMUP_OPS = 12
    WARMUP_ROWS = 30_000

    def __init__(self, ctx: Context):
        from autonomus_datapipeline_spark.catalog import Catalog

        self.ctx = ctx
        self.catalog = Catalog(ctx.path("warehouse", ""))
        ctx.warehouse = self.catalog.root
        self.landed_bytes = 0
        self.stored_bytes = 0
        # Variants in seeded order, each used once per block of len(VARIANTS)
        # ops, so every run onboards the same mix.
        rng = datagen.rng_for(ctx.seed, 3)
        self.order = [int(i) for i in rng.permutation(len(VARIANTS))]

    def variant(self, sid: int) -> Variant:
        return VARIANTS[self.order[sid % len(VARIANTS)]]

    def land(self, sid: int, rows: int) -> str:
        src_dir = self.ctx.path("landing", f"src{sid}", "")
        table = datagen.onboard_slice(self.ctx.seed, sid, rows)
        self.landed_bytes += datagen.write_csv(table, os.path.join(src_dir, "part-0.csv"))
        return src_dir

    def onboard(self, sid: int, src_dir: str, rows: int):
        from autonomus_datapipeline_spark.engine.pipeline import Pipeline
        from autonomus_datapipeline_spark.engine.quality import DQRule
        from autonomus_datapipeline_spark.inference import detect, schema_inference
        from autonomus_datapipeline_spark.sources.files import FileSource

        spark = self.ctx.spark
        v = self.variant(sid)
        source = FileSource(path=src_dir, fmt="csv")
        detected = detect.detect_file_schema(spark, source)
        schema = schema_inference.to_struct_type(detected.fields)

        pipe = Pipeline(spark, self.catalog, f"src{sid}")
        for name, code in v.silver:
            pipe.silver_chain.add_step(name, code)
        pipe.gold_chain.add_step("gold", v.gold)
        pipe.set_quality_rules("silver", [DQRule(*r) for r in v.rules])

        sample = source.read(spark, schema=schema)
        dry = pipe.silver_chain.dry_run_all(sample, spark)
        silver_sample, _ = pipe.silver_chain.execute(sample, spark)
        dry.update(pipe.gold_chain.dry_run_all(silver_sample, spark))
        bad = [k for k, r in dry.items() if not r.ok]
        if bad:
            raise RuntimeError(f"dry run failed: {bad}")

        bronze, _reports = pipe.ingest_files(source, schema=schema)
        silver = pipe.run_silver()
        if not silver.quality_passed:
            raise RuntimeError("silver data-quality rules failed")
        gold = pipe.run_gold()
        info = {"variant": v.name, "src": src_dir, "gold": gold.path, "rows": rows,
                "bronze_rows": bronze.row_count,
                "types": {f.name: f.detected_type for f in detected.fields}}
        return rows, [], info

    def setup(self, seconds: float) -> None:
        self.ctx.set_group("setup")
        for sid in range(self.WARMUP_OPS):
            src = self.land(sid, self.WARMUP_ROWS)
            info = self.onboard(sid, src, self.WARMUP_ROWS)[2]
            if not self.check_and_clear(sid, info):
                self.ctx.failures.append(f"onboard warm-up source {sid}: gold != duckdb")

    def run(self, seconds: float, traced_every: int) -> None:
        t_end = time.perf_counter() + seconds
        op = 0
        while time.perf_counter() < t_end:
            sid = self.WARMUP_OPS + op  # source ids count warm-up sources
            src = self.land(sid, self.ROWS)
            traced = traced_every > 0 and op % traced_every == 0
            rec = self.ctx.run_op(op, traced, lambda: self.onboard(sid, src, self.ROWS))
            if rec.ok and not self.check_and_clear(sid, rec.info):
                rec.ok = False
                rec.error = "gold mismatch"
                self.ctx.failures.append(f"onboard op {op}: gold != duckdb")
            op += 1

    def check_and_clear(self, sid: int, info: dict) -> bool:
        """Untimed, right after the op: Bronze holds every row and Gold
        equals DuckDB over the same CSV slice. Then the source's files and
        tables are deleted, so the disk holds one source at a time."""
        import shutil

        v = next(x for x in VARIANTS if x.name == info["variant"])
        csv = os.path.join(info["src"], "part-0.csv")
        # DuckDB reads the slice with the types onboarding confirmed, so
        # both engines compute Gold from the same values.
        cols = ", ".join(f"'{n}': '{_DUCK_TYPES[t]}'" for n, t in info["types"].items())
        with duckdb.connect() as con:
            con.execute(
                "CREATE VIEW src AS SELECT * FROM"
                f" read_csv('{csv}', header=true, columns={{{cols}}})"
            )
            want = con.execute(v.oracle).fetchall()
        got = [tuple(r) for r in self.ctx.spark.read.parquet(info["gold"]).collect()]
        ok = info["bronze_rows"] == info["rows"] and rows_match(got, want, FLOAT32_TOL)
        tables = [os.path.join(self.catalog.root, layer, f"src{sid}")
                  for layer in ("bronze", "silver", "gold")]
        self.stored_bytes += sum(dir_usage(t)[0] for t in tables)
        for path in (*tables, info["src"]):
            shutil.rmtree(path)
        return ok

    def verify(self) -> None:
        pass  # each onboarding is checked right after its op

    def input_bytes(self) -> int:
        return self.landed_bytes


# ---------------------------------------------------------------------------
# incremental_feed
# ---------------------------------------------------------------------------

_FEED_SILVER = (
    ("positive_qty", _F + "def transform(df, spark):\n"
     "    return df.filter(F.col('l_quantity') > 0)\n"),
    ("derive", _F + "def transform(df, spark):\n"
     "    return (df.withColumn('disc_price',"
     " F.col('l_extendedprice') * (1 - F.col('l_discount')))\n"
     "              .withColumn('ship_year', F.year('l_shipdate')))\n"),
)
_FEED_GOLD = (
    _F + "def transform(df, spark):\n"
    "    return df.groupBy('l_returnflag', 'l_linestatus', 'ship_year').agg(\n"
    "        F.count(F.lit(1)).alias('n'),\n"
    "        F.sum('l_quantity').alias('sum_qty'),\n"
    "        F.sum('disc_price').alias('sum_disc_price'))\n"
)
_FEED_ORACLE = (
    "SELECT l_returnflag, l_linestatus, year(l_shipdate), count(*),"
    " sum(l_quantity), sum(l_extendedprice * (1 - l_discount))"
    " FROM src WHERE l_quantity > 0 GROUP BY 1, 2, 3"
)


def feed_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.DateType()),
    ])


def _progress_rows(progress) -> int:
    if isinstance(progress, dict):
        return int(progress.get("numInputRows", 0))
    return int(progress.numInputRows)


class IncrementalFeed:
    ROWS = 20_000
    PERIOD_S = 2.0
    WARMUP_CYCLES = 4
    NAME = "feed"

    def __init__(self, ctx: Context):
        from autonomus_datapipeline_spark.catalog import Catalog
        from autonomus_datapipeline_spark.engine.pipeline import Pipeline

        self.ctx = ctx
        self.catalog = Catalog(ctx.path("warehouse", ""))
        ctx.warehouse = self.catalog.root
        self.bronze_registered = False
        self.landing = ctx.path("landing", "")
        self.checkpoint = ctx.path("checkpoint", "bronze")
        self.pipe = Pipeline(ctx.spark, self.catalog, self.NAME)
        for name, code in _FEED_SILVER:
            self.pipe.silver_chain.add_step(name, code)
        self.pipe.gold_chain.add_step("gold", _FEED_GOLD)
        self.batches: dict[int, bytes] = {}
        self.landed_rows = 0
        self.landed_bytes = 0
        self.next_batch = 0
        self.freshness: list[float] = []
        self.lags: list[float] = []
        self.backlog_max = 0
        self.window = (0.0, 0.0)  # perf_counter span of the timed window

    def land(self, b: int) -> None:
        data = self.batches.pop(b, None) or datagen.feed_batch(self.ctx.seed, b, self.ROWS)
        datagen.land_bytes(data, os.path.join(self.landing, f"batch-{b:05d}.json"))
        self.landed_rows += self.ROWS
        self.landed_bytes += len(data)

    def cycle(self):
        from autonomus_datapipeline_spark.streaming import ingest

        spark = self.ctx.spark
        bronze_path = self.catalog.data_path("bronze", self.NAME, 1)
        with self.ctx.tracer.span("streaming.ingest"):
            query = ingest.stream_dir_to_bronze(
                spark, self.landing, feed_schema(), bronze_path,
                self.checkpoint, self.NAME, fmt="json",
            )
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        if not self.bronze_registered:
            # The stream sink writes Bronze's data; the catalog entry that
            # lets Silver read it with its persisted schema is written once.
            lineage = ingest.with_stream_lineage(
                spark.createDataFrame([], feed_schema()), self.NAME, 1
            )
            self.catalog.write_meta("bronze", self.NAME, 1, lineage.schema)
            self.bronze_registered = True
        self.pipe.run_silver()
        self.pipe.run_gold()
        rows = sum(_progress_rows(p) for p in query.recentProgress)
        return rows, [str(query.runId)], {}

    def setup(self, seconds: float) -> None:
        """Warm-up cycles back to back, then generate every batch the timed
        window will land, so landing on schedule is only a file write."""
        for _ in range(self.WARMUP_CYCLES):
            self.land(self.next_batch)
            self.next_batch += 1
            self.ctx.set_group("setup")
            self.cycle()
        for b in range(self.next_batch, self.next_batch + self.window_batches(seconds)):
            self.batches[b] = datagen.feed_batch(self.ctx.seed, b, self.ROWS)

    def window_batches(self, seconds: float) -> int:
        return max(1, int(seconds // self.PERIOD_S))

    def run(self, seconds: float, traced_every: int) -> None:
        """Open loop: batch k is due at t0 + k·PERIOD_S. Before each cycle
        every batch already due is landed; freshness runs from a batch's due
        time to the Gold commit of the cycle that ingested it."""
        n = self.window_batches(seconds)
        t0 = time.perf_counter()
        self.window = (t0, t0)
        due = [t0 + k * self.PERIOD_S for k in range(n)]
        k = op = 0
        while k < n:
            wait = due[k] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            now = time.perf_counter()
            pending = []
            while k < n and due[k] <= now:
                self.land(self.next_batch)
                self.lags.append(time.perf_counter() - due[k])
                pending.append(due[k])
                self.next_batch += 1
                k += 1
            self.backlog_max = max(self.backlog_max, len(pending))
            traced = traced_every > 0 and op % traced_every == 0
            rec = self.ctx.run_op(op, traced, self.cycle)
            if rec.ok:
                self.freshness.extend(rec.end - d for d in pending)
                rec.info["freshness"] = [rec.end - d for d in pending]
            op += 1
        self.window = (t0, time.perf_counter())

    def verify(self) -> None:
        """Exactly-once: Bronze holds every landed row once. Final Gold
        equals DuckDB over all landed batches."""
        from pyspark.sql import functions as F

        bronze = self.catalog.read(self.ctx.spark, "bronze", self.NAME)
        stats = bronze.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_orderkey", "l_linenumber").alias("keys"),
        ).collect()[0]
        if stats["n"] != self.landed_rows or stats["keys"] != self.landed_rows:
            self.ctx.failures.append(
                f"feed bronze rows={stats['n']} distinct={stats['keys']}"
                f" landed={self.landed_rows}"
            )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW src AS SELECT * FROM read_json("
            f"'{self.landing}/*.json', format='newline_delimited', columns={{"
            "l_orderkey: 'BIGINT', l_partkey: 'BIGINT', l_suppkey: 'BIGINT',"
            " l_linenumber: 'INTEGER', l_quantity: 'DOUBLE',"
            " l_extendedprice: 'DOUBLE', l_discount: 'DOUBLE', l_tax: 'DOUBLE',"
            " l_returnflag: 'VARCHAR', l_linestatus: 'VARCHAR',"
            " l_shipdate: 'DATE'})"
        )
        want = con.execute(_FEED_ORACLE).fetchall()
        con.close()
        got = [tuple(r) for r in self.catalog.read(self.ctx.spark, "gold", self.NAME).collect()]
        if not rows_match(got, want, 1e-9):
            self.ctx.failures.append("feed gold != duckdb over landed batches")
        if self.ctx.failures and self.ctx.ops:
            # A lost or duplicated row cannot be pinned to one cycle; the
            # final cycle's Gold is the one checked.
            self.ctx.ops[-1].ok = False
            self.ctx.ops[-1].error = "final state mismatch"

    def input_bytes(self) -> int:
        return self.landed_bytes

    @property
    def stored_bytes(self) -> int:
        return dir_usage(self.catalog.root)[0]


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------

# name → layer group. Graph loops (ROADMAP item 4), the set-similarity joins
# (item 5), the co-purchase pair builder (item 2) and a relational control.
# Every pass runs them in this order. A pass compiles over 200 generated
# classes, more than Spark's codegen cache holds (100), so which classes a
# query finds cached depends on the queries run just before it: the reversed
# order made pagerank_copurchase about 0.5 s slower. A fixed order keeps
# that out of the spread between runs.
REGISTRY_QUERIES = {
    "pagerank_copurchase": "graph",
    "hits_copurchase_2iter": "graph",
    "ppjoin_prefix_filter_pairs": "similarity",
    "ngram_jaccard_top_pairs": "similarity",
    "minhash_lsh_pr_report": "similarity",
    "market_basket_lift": "copurchase",
    "q3_shipping_priority": "relational",
    "q18_large_volume_customers": "relational",
}


class RegistryMix:
    def __init__(self, ctx: Context):
        from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY, TABLES

        self.ctx = ctx
        self.registry = QUERY_REGISTRY
        self.tables = TABLES
        self.data = ctx.path("tables", "")
        self.pass_rows = 0

    def setup(self, seconds: float) -> None:
        """Land the tables, then untimed warm-up: one pass that collects
        every result and checks it against the query's DuckDB oracle, and one
        plain pass."""
        import re

        # The repo's oracle gate (tools/check_oracles.py): columns sorted by
        # name, values canonicalised, rows sorted.
        from check_oracles import rowset

        datagen.write_registry_tables(self.ctx.seed, self.data)
        con = duckdb.connect()
        counts = {}
        for t in self.tables:
            path = os.path.join(self.data, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
                counts[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        self.ctx.set_group("setup")
        for name in REGISTRY_QUERIES:
            spec = self.registry[name]
            read = set(re.findall(r"\b(" + "|".join(counts) + r")\b", spec.oracle))
            self.pass_rows += sum(counts[t] for t in read)
            self.ctx.spark.catalog.clearCache()
            pdf = spec.fn(self.ctx.spark, self.data).toPandas()
            got = rowset(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
            odf = con.execute(spec.oracle).df()
            want = rowset(list(odf.columns), list(odf.itertuples(index=False, name=None)))
            if got != want:
                self.ctx.failures.append(
                    f"registry {name}: rows {len(got)} vs oracle {len(want)}, values differ"
                )
        con.close()
        # A second, plain pass: the first timed pass would otherwise still
        # be settling the JIT (it ran about 15% slower than the next ones).
        self.one_pass("setup")

    def one_pass(self, tag: str | None = None):
        """Run every query once; each gets its own job group so job counts
        can be compared per query across passes."""
        spark = self.ctx.spark
        tag = tag or f"op-{self.ctx.current_op}"
        groups = []
        for name in REGISTRY_QUERIES:
            group = f"{tag}/{name}"
            groups.append(group)
            self.ctx.set_group(group)
            spark.catalog.clearCache()
            with self.ctx.tracer.span(f"workloads.{REGISTRY_QUERIES[name]}"):
                self.registry[name].fn(spark, self.data).write.format("noop").mode(
                    "overwrite"
                ).save()
        return self.pass_rows, groups, {}

    def run(self, seconds: float, traced_every: int) -> None:
        """Whole passes until ``seconds`` have elapsed, so every run times
        the same multiset of queries."""
        t_end = time.perf_counter() + seconds
        op = 0
        while op == 0 or time.perf_counter() < t_end:
            traced = traced_every > 0 and op % traced_every == 0
            self.ctx.run_op(op, traced, self.one_pass)
            op += 1

    def verify(self) -> None:
        pass  # checked once per run in setup, outside the timed window

    def input_bytes(self) -> int:
        return 0

    stored_bytes = 0


WORKLOADS = {
    "onboard_batch": OnboardBatch,
    "incremental_feed": IncrementalFeed,
    "registry_mix": RegistryMix,
}

