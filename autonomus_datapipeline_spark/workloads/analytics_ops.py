"""Product-analytics and behavioral workloads over the events/orders tables.

Round-5 batch: cohort retention, gaps-and-islands streaks, exponential
time-decay scoring, rolling-distinct WAU/MAU, time-window event dedup,
rolling z-score anomaly flags, a chi-square association audit, and a
month-over-month mix-shift report. These are the user-behavior /
monitoring queries a reference user would run downstream of the
ingestion pipeline (reference dag_generator.py builds the hourly/grouped
aggregates these extend; cf. SURVEY.md §2.C C5–C10).

Determinism rules follow workloads/registry.py: integer outputs wherever
possible; double outputs only from expressions whose per-row evaluation
is IEEE-identical on both engines (single divisions, exact powers of
two, correctly-rounded sqrt); any SUM of doubles goes through the exact
decimal accumulator (dsum / sql_dsum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_running,
    with_global_shift,
)
from autonomus_datapipeline_spark.workloads import graph_common
from autonomus_datapipeline_spark.workloads.registry import (
    descale6,
    ORDERDATE_EPOCH_DAY_BOUNDS,
    dsum,
    fsum,
    load_table,
    materialize_input,
    query,
    sql_dsum,
    sql_fsum,
)

# ---------------------------------------------------------------------------
# Cohort retention
# ---------------------------------------------------------------------------


@query(
    "retention_cohort_matrix",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    cohort AS (
        SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, uw.wk) / 7 AS INT)
               AS week_offset,
           CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active,
           CAST(MIN(cs.cohort_size) AS BIGINT) AS cohort_size
    FROM uw
    JOIN cohort c ON c.user_id = uw.user_id
    JOIN (SELECT cohort_week, COUNT(*) AS cohort_size
          FROM cohort GROUP BY 1) cs
      ON cs.cohort_week = c.cohort_week
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are assigned to the week of their
    first event; each (cohort_week, week_offset) cell counts how many of
    them were active that many weeks later.

    Scale: the distinct (user, week) set is |users|·|weeks|-bounded — tiny
    next to the fact table, produced by one map-side-combinable distinct.
    The cohort table is |users|-sized; the cohort-size dimension is
    |weeks|-sized and broadcast. All-integer output — zero float drift
    surface.
    """
    e = load_table(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("wk"),
        )
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        uw.join(cohort, "user_id")
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.datediff("wk", "cohort_week") / 7).cast("int").alias(
                "week_offset"
            ),
        )
        .agg(
            F.count_distinct("user_id").alias("n_active"),
            F.min("cohort_size").cast("bigint").alias("cohort_size"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands activity streaks
# ---------------------------------------------------------------------------


@query(
    "activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
        SELECT user_id, d,
               date_diff('day', DATE '2024-01-01', d)
                 - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                 AS island
        FROM days
    ),
    runs AS (
        SELECT user_id, island, COUNT(*) AS len FROM isl GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    ORDER BY user_id
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape: (day_number − row_number) is constant within
    a consecutive run, so one window plus two aggregations finds every
    island without a self-join.

    Scale: the distinct (user, day) set is the only windowed input —
    users × days, orders of magnitude under the fact table. One shuffle
    on user_id serves the window and both groupBys (same key).
    All-integer output.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        (
            F.datediff("d", F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return (
        runs.groupBy("user_id")
        .agg(
            F.max("len").cast("bigint").alias("longest_streak"),
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Exponential time-decay engagement score
# ---------------------------------------------------------------------------

_DECAY_ANCHOR = "2024-01-31"


@query(
    "exp_decay_user_engagement",
    oracle=f"""
    SELECT user_id,
           {sql_dsum(
               "value * power(0.5, date_diff('day', CAST(ts AS DATE),"
               f" DATE '{_DECAY_ANCHOR}'))",
               "decay_score",
           )},
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def exp_decay_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement score with exponential time decay: each event
    contributes value · 0.5^(days before the anchor date), i.e. a 1-day
    half-life. Recency weighting without any state — a single pass.

    Determinism: 0.5^n with integer n is an exact binary double (one bit
    set), so the per-row product is IEEE-identical on both engines; the
    sum goes through the exact decimal accumulator (dsum), making
    accumulation order irrelevant. Scale: one map-side-combinable
    aggregate keyed on user_id.
    """
    e = load_table(spark, sf_dir, "events")
    days_back = F.datediff(
        F.lit(_DECAY_ANCHOR).cast("date"), F.col("ts").cast("date")
    )
    contrib = F.col("value") * F.pow(F.lit(0.5), days_back)
    return (
        e.groupBy("user_id")
        .agg(
            dsum(contrib, "decay_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Rolling-distinct WAU / MAU
# ---------------------------------------------------------------------------


@query(
    "wau_mau_rolling_ratio",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    spine AS (SELECT DISTINCT wk FROM uw)
    SELECT s.wk AS week_start,
           CAST(COUNT(DISTINCT CASE WHEN uw.wk = s.wk THEN uw.user_id END)
                AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS mau
    FROM spine s
    JOIN uw ON uw.wk <= s.wk
           AND uw.wk >= s.wk - INTERVAL 21 DAY
    GROUP BY 1
    ORDER BY 1
    """,
)
def wau_mau_rolling_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU and rolling 4-week MAU per week — the rolling *distinct* count
    that a plain window frame cannot express (COUNT(DISTINCT) over a
    RANGE frame is unsupported in both engines). Implemented as a week
    spine range-joined to the distinct (user, week) set: the spine is
    |weeks|-sized and broadcast, so the fan-out is ≤ 4 rows per
    user-week — linear, no quadratic blow-up.

    All-integer output; the WAU/MAU ratio is left to the consumer (a
    division of the two exact counts).
    """
    e = load_table(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            F.date_trunc("week", "ts").cast("date").alias("wk"),
        )
        .distinct()
    )
    spine = uw.select("wk").distinct().withColumnRenamed("wk", "week_start")
    joined = uw.join(
        F.broadcast(spine),
        (F.col("wk") <= F.col("week_start"))
        & (F.col("wk") >= F.date_sub("week_start", 21)),
    )
    return (
        joined.groupBy("week_start")
        .agg(
            F.count_distinct(
                F.when(F.col("wk") == F.col("week_start"), F.col("user_id"))
            ).alias("wau"),
            F.count_distinct("user_id").alias("mau"),
        )
        .orderBy("week_start")
    )


# ---------------------------------------------------------------------------
# Time-window event dedup (streaming dedup-within-watermark, batch twin)
# ---------------------------------------------------------------------------

_NEAR_DUP_WINDOW_US = 300_000_000  # 5 minutes


@query(
    "near_time_duplicate_events",
    oracle=f"""
    WITH lagged AS (
        SELECT event_type,
               date_diff('microsecond',
                         LAG(ts) OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN gap_us <= {_NEAR_DUP_WINDOW_US} THEN 1 END)
                AS BIGINT) AS n_near_dups,
           CAST(COUNT(*) - COUNT(CASE WHEN gap_us <= {_NEAR_DUP_WINDOW_US}
                                      THEN 1 END) AS BIGINT) AS n_kept
    FROM lagged
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def near_time_duplicate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window dedup audit: an event is a near-duplicate if the same
    (user, event_type) fired within the preceding 5 minutes — the batch
    twin of Structured Streaming's dropDuplicatesWithinWatermark
    (streaming/ingest.py implements the streaming side). Reports per-type
    raw, duplicate, and kept counts.

    The gap is measured in exact microseconds via timestampdiff on the
    NTZ values (session-TZ-independent; same pattern as
    rolling_1h_user_value). One shuffle on (user, event_type) for the
    lag window; the summary aggregate is 5 rows. All-integer output.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, _prev_ts, ts)"
    )
    lagged = e.select(
        "event_type",
        prev_ts.alias("_prev_ts"),
        "ts",
    ).select(
        "event_type",
        gap_us.alias("gap_us"),
    )
    is_dup = F.col("gap_us") <= _NEAR_DUP_WINDOW_US
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count(F.when(is_dup, 1)).cast("bigint").alias("n_near_dups"),
            (F.count(F.lit(1)) - F.count(F.when(is_dup, 1)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection
# ---------------------------------------------------------------------------

_Z_LOOKBACK = 20
_Z_MIN_N = 5
_Z_THRESHOLD = 3.0


@query(
    "rolling_zscore_anomaly",
    oracle=f"""
    WITH rolled AS (
        SELECT event_id, user_id, value,
               CAST(SUM(CAST(value AS DECIMAL(38,6)))
                    OVER w AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(38,6))
                        * CAST(value AS DECIMAL(38,6)))
                    OVER w AS DOUBLE) AS s2,
               CAST(COUNT(*) OVER w AS BIGINT) AS n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           (value - s1 / n)
             / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS zscore
    FROM rolled
    WHERE n >= {_Z_MIN_N}
      AND (s2 - s1 * s1 / n) / (n - 1) > 0
      AND ABS((value - s1 / n)
              / sqrt((s2 - s1 * s1 / n) / (n - 1))) > {_Z_THRESHOLD}
    ORDER BY event_id
    """,
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection as a batch window: each event's
    value is z-scored against the previous ≤20 events of the same user
    (the current row excluded, so an outlier cannot mask itself), and
    |z| > 3 rows are flagged.

    Determinism: the rolling Σv and Σv² are exact decimal accumulators
    (order-free); mean/variance/z are then a fixed sequence of IEEE
    double ops (±, ×, ÷, correctly-rounded sqrt) identical on both
    engines — bit-equal without any rounding step. One shuffle on
    user_id; output is the anomaly set only.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_LOOKBACK, -1)
    )
    vdec = F.col("value").cast("decimal(38,6)")
    rolled = e.select(
        "event_id",
        "user_id",
        "value",
        F.sum(vdec).over(w).cast("double").alias("s1"),
        F.sum(vdec * vdec).over(w).cast("double").alias("s2"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (F.col("value") - F.col("s1") / F.col("n")) / F.sqrt(var)
    return (
        rolled.where(
            (F.col("n") >= _Z_MIN_N)
            & (var > 0)
            & (F.abs(z) > _Z_THRESHOLD)
        )
        .select("event_id", "user_id", "value", z.alias("zscore"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Chi-square association audit
# ---------------------------------------------------------------------------


@query(
    "chi_square_event_hour",
    oracle=f"""
    WITH raw AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM events GROUP BY 1, 2
    ),
    cells AS (
        -- densify: an hour a type never fires in still contributes
        -- (0-E)^2/E (no-op on a dense grid, correct on a sparse one)
        SELECT t.event_type, h.hr, COALESCE(r.o, 0) AS o
        FROM (SELECT DISTINCT event_type FROM raw) t
        CROSS JOIN (SELECT DISTINCT hr FROM raw) h
        LEFT JOIN raw r ON r.event_type = t.event_type AND r.hr = h.hr
    ),
    rows_ AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
    cols_ AS (SELECT hr, SUM(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM cells)
    SELECT c.event_type,
           {sql_dsum(
               "(c.o - r.rt * cl.ct / t.n) * (c.o - r.rt * cl.ct / t.n)"
               " / (r.rt * cl.ct / t.n)",
               "chi2",
           )},
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells c
    JOIN rows_ r ON r.event_type = c.event_type
    JOIN cols_ cl ON cl.hr = c.hr
    CROSS JOIN tot t
    GROUP BY c.event_type
    ORDER BY c.event_type
    """,
)
def chi_square_event_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association audit between event_type and hour-of-day:
    per type, Σ (observed − expected)²/expected over its 24 hour cells —
    the drift detector for 'did this event type's temporal profile
    change'. A uniform-traffic corpus scores near zero.

    The contingency table is |types|×24 — trivially small after one
    map-side-combinable aggregate over the fact table; margins are
    broadcast. Per-cell math is IEEE-deterministic from integer counts
    (each engine computes the identical expression tree); the Σ over
    cells is a decimal accumulator, so cell order cannot drift the
    total.
    """
    e = load_table(spark, sf_dir, "events")
    raw = (
        e.groupBy("event_type", F.hour("ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    # densify: an hour a type never fires in still contributes (0−E)²/E
    # (no-op on a dense grid, correct on a sparse one)
    cells = (
        raw.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(raw.select("hr").distinct()))
        .join(raw, ["event_type", "hr"], "left")
        .select("event_type", "hr", F.coalesce("o", F.lit(0.0)).alias("o"))
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("hr").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    expected = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("o") - expected) * (F.col("o") - expected) / expected
    return (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "hr")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            dsum(contrib, "chi2"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Month-over-month mix shift
# ---------------------------------------------------------------------------


@query(
    "monthly_priority_share_shift",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2
    ),
    shares AS (
        SELECT month, priority, n_orders,
               CAST(n_orders AS DOUBLE)
                 / CAST(SUM(n_orders) OVER (PARTITION BY month) AS DOUBLE)
                 AS share
        FROM m
    )
    SELECT month, priority, n_orders, share,
           share - LAG(share) OVER (PARTITION BY priority ORDER BY month)
               AS share_shift
    FROM shares
    ORDER BY month, priority
    """,
)
def monthly_priority_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month mix-shift report: each order priority's share of
    the month's orders, and the delta vs the previous month — the
    composition-drift view a pipeline owner watches after an upstream
    change.

    Shares are a single division of two exact counts (IEEE-identical on
    both engines); the shift is one subtraction of those bit-equal
    doubles — no rounding needed. The monthly aggregate is
    map-side-combinable; both windows run on the tiny month×priority
    grid.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    w_month = Window.partitionBy("month")
    shares = m.select(
        "month",
        "priority",
        "n_orders",
        (
            F.col("n_orders").cast("double")
            / F.sum("n_orders").over(w_month).cast("double")
        ).alias("share"),
    )
    w_lag = Window.partitionBy("priority").orderBy("month")
    return (
        shares.select(
            "month",
            "priority",
            "n_orders",
            "share",
            (F.col("share") - F.lag("share").over(w_lag)).alias("share_shift"),
        )
        .orderBy("month", "priority")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) of orders
# ---------------------------------------------------------------------------


@query(
    "pareto_frontier_orders",
    oracle="""
    WITH grid AS (
        SELECT o_orderdate AS d, MAX(o_totalprice) AS mp
        FROM orders GROUP BY 1
    ),
    sky AS (
        SELECT d, mp,
               MAX(mp) OVER (ORDER BY d DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS later_max
        FROM grid
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o
    JOIN sky s ON s.d = o.o_orderdate AND s.mp = o.o_totalprice
    WHERE s.later_max IS NULL OR s.mp > s.later_max
    ORDER BY o.o_orderdate DESC, o.o_orderkey
    """,
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query: orders not dominated on (order date, total price) —
    an order is on the Pareto frontier iff no other order is both at least
    as recent and at least as expensive (with one strict). The naive
    formulation is an O(n²) NOT EXISTS self-join; this plan is O(n):
    reduce to the per-date max-price GRID (bounded by the date domain, a
    few thousand rows at ANY corpus size), take the running max over
    strictly-later dates in one window pass, keep grid points that beat
    it, and semi-join the winners back to the fact table.

    The running max runs as a distributed prefix-max (strictly-preceding
    frame of operators/prefix_sum.py) over the date grid — grid-sized
    today AND partition-parallel if the grid ever grows. Equality joins
    on values read from the same parquet are exact; no arithmetic at all
    — zero drift surface.
    """
    o = load_table(spark, sf_dir, "orders")
    grid = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("mp")
    )
    sky = with_global_running(
        grid, [("d", False)], maxes_excl={"later_max": "mp"},
        # dbgen calendar envelope is fixed — skips the min/max scan job
        # (which would re-run the orders scan + daily-max aggregate).
        # d is the RAW TIMESTAMP o_orderdate, so the auto bucket key is
        # unix_micros — the envelope must be in epoch-µs scale. Derived
        # from the shared epoch-DAY constant (r15 ADVICE: the previous
        # µs literals could drift from it independently): day bound × 86400e6,
        # upper bound widened one day so the whole last day fits.
        bounds=(
            ORDERDATE_EPOCH_DAY_BOUNDS[0] * 86400e6,
            (ORDERDATE_EPOCH_DAY_BOUNDS[1] + 1) * 86400e6,
        ),
    ).where(
        F.col("later_max").isNull() | (F.col("mp") > F.col("later_max"))
    ).select("d", "mp", "later_max")
    return (
        o.join(
            F.broadcast(sky),
            (o.o_orderdate == sky.d) & (o.o_totalprice == sky.mp),
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.desc("o_orderdate"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph
# ---------------------------------------------------------------------------


def _checkpoint_observed(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once with an eager localCheckpoint and return it
    with the values of the aggregate ``metrics``, which an Observation
    computes on that same job: a row count or an L1 total then costs no
    job of its own and reaches later plans as a literal, not as a
    broadcast of a computed aggregate."""
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(), obs.get


_PR_ITERS = 3
_PR_TOP = 30
_PR_DAMP = 0.85

_PR_EDGES_CTE = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM op a
        JOIN op b ON b.l_orderkey = a.l_orderkey
                 AND b.l_partkey <> a.l_partkey
        GROUP BY 1, 2
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e0 GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank iteration. Contributions pr/deg are snapped to
    integer picounits via FLOOR(x·10¹²) — floor has no tie case, unlike a
    decimal cast whose half-quantum rounding differs between engines
    (HALF_UP vs HALF_EVEN; observed as a 1-ulp-of-decimal drift at
    sf0.01) — then summed as exact integers, order-free."""
    return f"""
    {out} AS (
        SELECT e0.dst AS node,
               0.15 / t.n + 0.85 * (CAST(CAST(SUM(CAST(
                   FLOOR(p.pr / d.deg * 1e12) AS BIGINT))
                   AS BIGINT) AS DOUBLE) / 1e12) AS pr
        FROM e0
        JOIN deg d ON d.src = e0.src
        JOIN {prev} p ON p.node = e0.src
        CROSS JOIN nn t
        GROUP BY e0.dst, t.n
    )"""


@query(
    "pagerank_copurchase",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    pr0 AS (SELECT src AS node, 1.0 / t.n AS pr FROM deg CROSS JOIN nn t),
    {_pr_iter_sql("pr0", "pr1")},
    {_pr_iter_sql("pr1", "pr2")},
    {_pr_iter_sql("pr2", "pr3")}
    SELECT p.node AS part, p.pr AS pagerank, d.deg AS degree
    FROM pr3 p JOIN deg d ON d.src = p.node
    ORDER BY pagerank DESC, part
    LIMIT {_PR_TOP}
    """,
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {_PR_ITERS} synchronous iterations) over the
    undirected co-purchase graph: parts are nodes, an edge links parts
    bought in the same order. The iterative join-aggregate loop is the
    canonical distributed PageRank: per iteration, one shuffle join of the
    edge list with the rank vector on src and one aggregate on dst — no
    driver-side state, no collect. The edge list (with degrees attached)
    is checkpointed once and reused by every iteration, so the expensive
    within-order pair fan-out runs exactly once.

    Determinism: per-edge contributions pr/deg are IEEE doubles computed
    identically on both engines, snapped to DECIMAL(38,12) and summed
    exactly (order-free); the damped update is then a fixed double
    expression. Ranks are bit-identical per iteration by induction.

    Scale: edges are Σ C(lines_per_order, 2)·2 ≈ 40× orders — linear in
    the fact table; the rank vector is |parts|-sized. Both re-shuffle on
    the same key each round (AQE reuses the layout). Cf. the alternating
    large-star contraction in operators/graph.py for the connected-
    components twin of this loop shape.
    """
    # ONE materialization of the pair fan-out, degrees attached
    # (graph_common.copurchase_edges: half-pair distinct + explode
    # symmetrize + window degrees). The degree table is checkpointed from
    # these blocks once and its own job counts the nodes n, so rank init
    # and every damped update read n as a literal instead of re-executing
    # the fan-out join+agg or broadcasting a computed count (cache()ing
    # deg instead pins an InMemoryRelation that defeats AQE on every
    # consumer join: measured slower cold, 5.6/6.4 vs 4.1 s at sf0.1).
    edges = graph_common.copurchase_edges(
        # build="collect": this consumer is consistently ~10% faster on the
        # 2-exchange collect_set build across four interleaved A/Bs (r14+r15,
        # see copurchase_edges docstring); the loop-heavy consumers keep
        # "join".
        spark, sf_dir, with_degrees=True, load=load_table, build="collect"
    )
    deg, seen = _checkpoint_observed(
        edges.select("src", "deg").distinct(), F.count(F.lit(1)).alias("n")
    )
    # An empty graph has n = 0 and no node to rank: NULLIF keeps the
    # constant-folded 1/n from raising under ANSI division.
    n = F.nullif(F.lit(float(seen["n"])), F.lit(0.0))
    pr = deg.select(F.col("src").alias("node"), (F.lit(1.0) / n).alias("pr"))
    for _ in range(_PR_ITERS):
        # Integer picounit snap: floor never ties, so the quantization is
        # engine-identical (a DECIMAL(38,12) cast is not — HALF_UP vs
        # HALF_EVEN at half-quantum values). The sum is then exact int64:
        # bounded by n_edges · 10¹² · max(pr)/deg ≪ 2⁶³ because Σ pr = 1.
        contrib = F.floor(F.col("pr") / F.col("deg") * F.lit(1e12)).cast("long")
        pr = (
            edges.join(pr, edges.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(contrib).cast("long").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(0.15) / n
                    + F.lit(_PR_DAMP) * (F.col("s").cast("double") / F.lit(1e12))
                ).alias("pr"),
            )
        )
    return (
        pr.join(deg, pr.node == deg.src)
        .select(F.col("node").alias("part"), F.col("pr").alias("pagerank"), "deg")
        .withColumnRenamed("deg", "degree")
        .orderBy(F.desc("pagerank"), "part")
        .limit(_PR_TOP)
    )


@query(
    "copurchase_degree_histogram",
    oracle=f"""
    WITH {_PR_EDGES_CTE}
    SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM deg GROUP BY 1 ORDER BY 1
    """,
)
def copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the structural audit
    run before any graph algorithm (skew in this histogram predicts hot
    keys in the PageRank/CC shuffles; cf. operators/skew.py for the
    mitigation). All-integer, two map-side-combinable aggregates."""
    # the shared builder's distinct sees only the src < dst half-pairs
    e0 = graph_common.copurchase_edges(spark, sf_dir, load=load_table)
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    return (
        deg.groupBy(F.col("deg").alias("degree"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# HITS hubs/authorities on the bipartite customer-part graph
# ---------------------------------------------------------------------------

_HITS_TOP = 20

_HITS_EDGES_CTE = """
    be AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    nc AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n FROM be)
"""


def _hits_iter_sql(h_prev: str, a_out: str, h_out: str) -> str:
    """One HITS iteration, L1-normalized with floor-picounit quantization
    (the pagerank_copurchase rule: floor has no tie case)."""
    return f"""
    {a_out}_raw AS (
        SELECT be.p, CAST(SUM(h.hq) AS BIGINT) AS raw
        FROM be JOIN {h_prev} h ON h.c = be.c GROUP BY 1
    ),
    {a_out} AS (
        SELECT p, CAST(FLOOR(CAST(raw AS DOUBLE)
                             / (SELECT SUM(raw) FROM {a_out}_raw) * 1e12)
                       AS BIGINT) AS aq
        FROM {a_out}_raw
    ),
    {h_out}_raw AS (
        SELECT be.c, CAST(SUM(a.aq) AS BIGINT) AS raw
        FROM be JOIN {a_out} a ON a.p = be.p GROUP BY 1
    ),
    {h_out} AS (
        SELECT c, CAST(FLOOR(CAST(raw AS DOUBLE)
                             / (SELECT SUM(raw) FROM {h_out}_raw) * 1e12)
                       AS BIGINT) AS hq
        FROM {h_out}_raw
    )
"""


@query(
    "hits_copurchase_2iter",
    oracle=f"""
    WITH {_HITS_EDGES_CTE},
    h0 AS (
        SELECT c, CAST(FLOOR(1e12 / nc.n) AS BIGINT) AS hq
        FROM (SELECT DISTINCT c FROM be) u CROSS JOIN nc
    ),
    {_hits_iter_sql("h0", "a1", "h1")},
    {_hits_iter_sql("h1", "a2", "h2")}
    SELECT p AS part, aq AS authority_q,
           CAST(aq AS DOUBLE) / 1e12 AS authority, rk
    FROM (
        SELECT p, aq,
               CAST(ROW_NUMBER() OVER (ORDER BY aq DESC, p) AS INT) AS rk
        FROM a2
    ) r WHERE rk <= {_HITS_TOP}
    ORDER BY rk
    """,
)
def hits_copurchase_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs and authorities), two unrolled iterations on the
    bipartite customer↔part purchase graph: customers are hubs, parts are
    authorities, and each half-step is one join-aggregate of the edge
    list against the opposite score vector — the eigenvector-style
    ranking complement to pagerank_copurchase (which runs on the
    projected part-part graph instead). L1 normalization per half-step
    keeps the scores rational; every normalized score is floor-quantized
    to integer picounits (floor has no tie case — the PageRank lesson),
    so both engines iterate on bit-identical integers. Top {_HITS_TOP}
    authorities with part-key tiebreak.

    Scale: the edge list (distinct customer-part pairs, linear in the
    fact table) is checkpointed once; each half-step shuffles it against
    a |customers|- or |parts|-sized vector — the exact loop shape MLlib
    uses for power iteration. Each half-step's raw vector is checkpointed
    once, and the Observation on that job carries its L1 total, so the
    normalization is a projection with a literal: no total aggregate, no
    broadcast cross join, no cache. The customer count comes the same way
    from the distinct-customer checkpoint.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    be = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    cust, seen = _checkpoint_observed(
        be.select("c").distinct(), F.count(F.lit(1)).alias("n")
    )
    # NULLIF: with no customers there is nothing to score, and the
    # constant-folded 1e12/0 would raise under ANSI division.
    n = F.nullif(F.lit(seen["n"]), F.lit(0))
    q = cust.select("c", F.floor(F.lit(1e12) / n).cast("bigint").alias("q"))
    # Two iterations are the half-steps a1, h1, a2; the output reads a2.
    for src, dst in (("c", "p"), ("p", "c"), ("c", "p")):
        raw, seen = _checkpoint_observed(
            be.join(q, src).groupBy(dst).agg(F.sum("q").cast("bigint").alias("raw")),
            F.sum("raw").alias("tot"),
        )
        q = raw.select(
            dst,
            F.floor(F.col("raw").cast("double") / F.lit(seen["tot"]) * F.lit(1e12))
            .cast("bigint")
            .alias("q"),
        )
    return (
        ranked_head(q, [("q", False), ("p", True)], _HITS_TOP, "rk")
        .select(
            F.col("p").alias("part"),
            F.col("q").alias("authority_q"),
            (F.col("q").cast("double") / F.lit(1e12)).alias("authority"),
            "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value matrix
# ---------------------------------------------------------------------------


@query(
    "cohort_ltv_matrix",
    oracle="""
    WITH first_m AS (
        SELECT o_custkey,
               date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS cohort_m
        FROM orders GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort_m,
               CAST((EXTRACT(year FROM o.o_orderdate)
                     - EXTRACT(year FROM f.cohort_m)) * 12
                    + (EXTRACT(month FROM o.o_orderdate)
                       - EXTRACT(month FROM f.cohort_m)) AS INT) AS m_offset,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS revenue,
               CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS active_customers
        FROM orders o JOIN first_m f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_m AS DATE) AS cohort_month, m_offset,
           active_customers,
           CAST(revenue AS DOUBLE) AS revenue
    FROM rev
    WHERE m_offset <= 11
    ORDER BY 1, 2
    """,
)
def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue and active-customer counts per month offset (first
    year) — the revenue twin of retention_cohort_matrix (which counts
    users; summing the rows of this matrix along offsets gives cumulative
    LTV per cohort). Month offsets are exact integer year/month
    arithmetic (no day-division approximations); revenue stays in exact
    decimal until the final cast.

    Scale: the first-order rollup shuffles on custkey once and re-joins
    the fact table on the same key (AQE co-locates); the matrix is
    |cohorts|×12 — calendar-bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    first_m = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date"))).alias(
            "cohort_m"
        )
    )
    joined = o.join(first_m, "o_custkey")
    m_offset = (
        (F.year("o_orderdate") - F.year("cohort_m")) * 12
        + (F.month("o_orderdate") - F.month("cohort_m"))
    ).cast("int")
    return (
        joined.groupBy(
            F.col("cohort_m").cast("date").alias("cohort_month"),
            m_offset.alias("m_offset"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("active_customers"),
            descale6(F.sum(F.col("o_totalprice").cast("decimal(38,6)")))
            .alias("revenue"),
        )
        .where(F.col("m_offset") <= 11)
        .orderBy("cohort_month", "m_offset")
    )


# ---------------------------------------------------------------------------
# Time-weighted average value (TWAP)
# ---------------------------------------------------------------------------


@query(
    "twap_event_value",
    oracle="""
    WITH seq AS (
        SELECT event_type, value, ts,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    weighted AS (
        SELECT event_type,
               CAST(date_diff('microsecond', ts, next_ts) AS BIGINT) AS w_us,
               value
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(w_us) AS BIGINT) AS total_us,
           CAST(SUM(CAST(FLOOR((value * w_us) * 1e3) AS DECIMAL(38,0))) AS DOUBLE)
             / 1e3 / CAST(SUM(w_us) AS BIGINT) AS twap
    FROM weighted
    GROUP BY 1 ORDER BY 1
    """,
)
def twap_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each reading is held
    until the user's next event (step interpolation), so the weight is
    the exact microsecond interval to the next reading — the TWAP/sensor
    convention that de-biases bursty sampling (a plain AVG over-weights
    rapid-fire events; compare event_type_hourly_stats). value·Δt rides
    the decimal accumulator; the weight sum is exact integer microseconds
    divided once.

    Scale: one LEAD window per user (single shuffle on user_id), then a
    |types|-row map-side-combinable rollup.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "value",
        "ts",
        F.lead("ts").over(w).alias("next_ts"),
    ).where(F.col("next_ts").isNotNull())
    weighted = seq.select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, ts, next_ts)")
        .cast("bigint")
        .alias("w_us"),
        "value",
    )
    return (
        weighted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("w_us").cast("bigint").alias("total_us"),
            # fsum rule (registry.fsum): value·Δt is a true double
            # product — floor-quantized milli-units sum exactly and
            # identically on both engines; grain 1e3 keeps the largest
            # conceivable unit (value · full-dataset-span microseconds)
            # far inside 64-bit floor range.
            (
                F.sum(
                    F.floor((F.col("value") * F.col("w_us")) * F.lit(1e3)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e3)
                / F.sum("w_us").cast("bigint")
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# BFS hop distances from the highest-degree hub
# ---------------------------------------------------------------------------

_BFS_HOPS = 3


@query(
    "bfs_hops_from_hub",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    hub AS (
        SELECT src AS node FROM deg
        ORDER BY deg DESC, src LIMIT 1
    ),
    d0 AS (SELECT node, 0 AS d FROM hub),
    d1 AS (
        SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d0
            UNION ALL
            SELECT e.dst AS node, 1 AS d
            FROM e0 e JOIN d0 ON d0.node = e.src
        ) u GROUP BY 1
    ),
    d2 AS (
        SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d1
            UNION ALL
            SELECT e.dst AS node, d1.d + 1 AS d
            FROM e0 e JOIN d1 ON d1.node = e.src
        ) u GROUP BY 1
    ),
    d3 AS (
        SELECT node, MIN(d) AS d FROM (
            SELECT node, d FROM d2
            UNION ALL
            SELECT e.dst AS node, d2.d + 1 AS d
            FROM e0 e JOIN d2 ON d2.node = e.src
        ) u GROUP BY 1
    )
    SELECT CAST(d AS INT) AS hops, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM d3 WHERE d <= {_BFS_HOPS}
    GROUP BY 1 ORDER BY 1
    """,
)
def bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability: how many parts sit 0, 1, 2, 3 hops from
    the highest-degree hub of the co-purchase graph (degree ties broken
    on the key) — the small-world/diameter probe run before committing to
    an iterative-algorithm round budget (cf. the O(log n) CC bound). Each
    unrolled round is relax-one-hop: union the frontier expansion with
    the current distances and take MIN per node — the synchronous
    Bellman-Ford step, unconditionally deterministic.

    Scale: each round is one join of the edge list against the current
    distance vector plus a MIN aggregate — the same join-agg iteration
    envelope as PageRank/HITS; the distance vector is |nodes|-sized. The
    production loop checkpoints per round and stops when the frontier
    empties.
    """
    # Edge list via the shared half-pair + explode builder (graph_common):
    # the distinct sees HALF the ordered pairs and the symmetric closure is
    # a narrow per-row explode — the AB_r11-measured fastest construction,
    # identical to the oracle's e0 (r14; previously an inline full-pair
    # distinct over 2x the rows).
    e0 = graph_common.copurchase_edges(spark, sf_dir, load=load_table)
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    hub = (
        deg.orderBy(F.desc("deg"), "src")
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).alias("d"))
    )
    dist = hub
    for _ in range(_BFS_HOPS):
        # Per-round materialization (r14): `dist` feeds BOTH the frontier
        # expansion join and the union, so without it the round-k subtree
        # executes 2^(rounds-k) times — 7 joins and 8 hub aggregates for 3
        # rounds instead of 3 and 1 (the docstring's "production loop
        # checkpoints per round", now actually done). The vector is
        # |nodes|-sized, so each checkpoint is small at any scale.
        dist = dist.localCheckpoint(eager=True)
        expanded = e0.join(
            dist.select(F.col("node").alias("src"), "d"), "src"
        ).select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        dist = (
            dist.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return (
        dist.where(F.col("d") <= _BFS_HOPS)
        .groupBy(F.col("d").cast("int").alias("hops"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("hops")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

_BT_SPLIT = "1997-01-01"


@query(
    "seasonal_naive_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders GROUP BY 1, 2
    ),
    train AS (
        SELECT dow,
               CAST(SUM(r) AS DOUBLE) / COUNT(*) AS pred
        FROM daily WHERE day < DATE '{_BT_SPLIT}'
        GROUP BY 1
    ),
    test AS (
        SELECT d.dow, CAST(d.r AS DOUBLE) AS actual, t.pred
        FROM daily d JOIN train t ON t.dow = d.dow
        WHERE d.day >= DATE '{_BT_SPLIT}'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           (CAST(CAST(SUM(CAST(ABS(actual - pred) AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
             / COUNT(*) AS mae,
           (CAST(CAST(SUM(CAST(ABS(actual - pred) / actual AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) / COUNT(*) AS mape
    FROM test
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: the seasonal-naive model (predict each test day
    with its day-of-week mean from the training period, split at
    {_BT_SPLIT}) scored by MAE and MAPE on the held-out days — the
    baseline every forecasting pipeline must beat, and the evaluation
    harness shape for any model that scores a daily series. Per-row
    errors are fixed IEEE expressions over exact-decimal day revenues;
    both error means ride the decimal accumulator.

    Scale: the daily rollup is calendar-bounded; train is a 7-row
    broadcast; the backtest is one projection + scalar aggregate. The
    dow convention bridge (Spark Sunday=1) is the oracle's usual shift.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r"))
    split = F.lit(_BT_SPLIT).cast("date")
    train = (
        daily.where(F.col("day") < split)
        .groupBy("dow")
        .agg((F.sum("r").cast("double") / F.count(F.lit(1))).alias("pred"))
    )
    test = (
        daily.where(F.col("day") >= split)
        .join(F.broadcast(train), "dow")
        .select(F.col("r").cast("double").alias("actual"), "pred")
    )
    err = F.abs(F.col("actual") - F.col("pred"))
    return test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (descale6(F.sum(err.cast("decimal(38,6)"))) / F.count(F.lit(1))).alias(
            "mae"
        ),
        (
            descale6(F.sum((err / F.col("actual")).cast("decimal(38,6)")))
            / F.count(F.lit(1))
        ).alias("mape"),
    )


# ---------------------------------------------------------------------------
# Local-maxima peak detection on the daily revenue series
# ---------------------------------------------------------------------------

_PEAK_HALF_WIN = 3


@query(
    "daily_revenue_peaks",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders GROUP BY 1
    ),
    windowed AS (
        SELECT day, r,
               MAX(r) OVER (ORDER BY day ROWS BETWEEN {_PEAK_HALF_WIN}
                            PRECEDING AND 1 PRECEDING) AS max_before,
               MAX(r) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING
                            AND {_PEAK_HALF_WIN} FOLLOWING) AS max_after,
               COUNT(*) OVER (ORDER BY day ROWS BETWEEN {_PEAK_HALF_WIN}
                              PRECEDING AND {_PEAK_HALF_WIN} FOLLOWING)
                   AS w_cnt
        FROM daily
    )
    SELECT day AS peak_day,
           CAST(r AS DOUBLE) AS revenue,
           CAST(max_before AS DOUBLE) AS max_before,
           CAST(max_after AS DOUBLE) AS max_after
    FROM windowed
    WHERE w_cnt = {2 * _PEAK_HALF_WIN + 1}
      AND r > max_before AND r > max_after
    ORDER BY day
    """,
)
def daily_revenue_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection: days whose revenue STRICTLY exceeds every day in a
    ±{_PEAK_HALF_WIN}-day window (full windows only, so series edges
    can't fake a peak) — the local-maxima pass that feeds event/promo
    investigation and labels anomalies the rolling z-score
    (rolling_zscore_anomaly) scores. Comparisons run on exact decimal
    daily sums — no float tie ambiguity at equal-revenue days (strict >
    drops plateaus on both engines identically).

    Scale: one daily rollup, then ±{_PEAK_HALF_WIN} neighbor values via
    distributed rank-shift joins over the calendar-bounded grid — no
    unpartitioned window node anywhere in the plan.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    # The three ROWS frames become ±1..±HALF_WIN rank-shift columns from
    # the distributed prefix-sum operator: max over a bounded frame is
    # greatest() of the shifted neighbors (greatest() skips NULLs exactly
    # like a window max over a truncated edge frame), and the full-window
    # row count is 1 + the number of non-NULL neighbors.
    hw = _PEAK_HALF_WIN
    shifts = {f"_lag{i}": ("r", i) for i in range(1, hw + 1)}
    shifts.update({f"_lead{i}": ("r", -i) for i in range(1, hw + 1)})
    shifted = with_global_shift(
        daily, [("day", True)], shifts, materialize="cache",
        # dbgen calendar envelope is fixed — skips the min/max scan job
        bounds=ORDERDATE_EPOCH_DAY_BOUNDS,
    )
    lags = [F.col(f"_lag{i}") for i in range(1, hw + 1)]
    leads = [F.col(f"_lead{i}") for i in range(1, hw + 1)]
    n_present = sum(
        (F.when(c.isNotNull(), 1).otherwise(0) for c in lags + leads),
        F.lit(1),
    )
    windowed = shifted.select(
        "day",
        "r",
        F.greatest(*lags).alias("max_before"),
        F.greatest(*leads).alias("max_after"),
        n_present.alias("w_cnt"),
    )
    return (
        windowed.where(
            (F.col("w_cnt") == 2 * _PEAK_HALF_WIN + 1)
            & (F.col("r") > F.col("max_before"))
            & (F.col("r") > F.col("max_after"))
        )
        .select(
            F.col("day").alias("peak_day"),
            F.col("r").cast("double").alias("revenue"),
            F.col("max_before").cast("double").alias("max_before"),
            F.col("max_after").cast("double").alias("max_after"),
        )
        .orderBy("peak_day")
    )


# ---------------------------------------------------------------------------
# Churn label generation (user-month activity with next-month churn flag)
# ---------------------------------------------------------------------------


@query(
    "churn_label_table",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    bounds AS (SELECT MAX(wk) AS last_wk FROM uw),
    features AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days
        FROM events GROUP BY 1, 2
    )
    SELECT f.user_id, f.wk AS week,
           f.n_events, f.n_active_days,
           nxt.user_id IS NULL AS churned_next_week
    FROM features f
    CROSS JOIN bounds b
    LEFT JOIN uw nxt
      ON nxt.user_id = f.user_id
     AND nxt.wk = CAST(f.wk + INTERVAL 7 DAY AS DATE)
    WHERE f.wk < b.last_wk
    ORDER BY f.user_id, f.wk
    """,
)
def churn_label_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-model label generation: one row per (user, week) with
    activity features and the supervised label 'was the user absent next
    week' — the standard leakage-safe label join (the label comes ONLY
    from week w+1, features only from week w; the final observed week is
    excluded because its label is right-censored). Feed this to any
    classifier; rfm_segmentation supplies the monetary-features twin.

    Scale: the distinct (user, week) activity set is |users|·|weeks|-
    bounded; features are one map-side-combinable rollup; the label is a
    LEFT self-join on the shifted week key — all shuffles on user_id.
    """
    e = load_table(spark, sf_dir, "events")
    uw = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    bounds = uw.agg(F.max("wk").alias("last_wk"))
    features = e.groupBy(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct(F.col("ts").cast("date"))
        .cast("bigint")
        .alias("n_active_days"),
    )
    nxt = uw.select(
        "user_id", F.col("wk").alias("nxt_wk"), F.lit(1).alias("present")
    )
    return (
        features.crossJoin(F.broadcast(bounds))
        .where(F.col("wk") < F.col("last_wk"))
        .join(
            nxt,
            (features.user_id == nxt.user_id)
            & (nxt.nxt_wk == F.date_add(features.wk, 7)),
            "left",
        )
        .select(
            features.user_id,
            F.col("wk").alias("week"),
            "n_events",
            "n_active_days",
            F.col("present").isNull().alias("churned_next_week"),
        )
        .orderBy("user_id", "week")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "degree_assortativity",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    dd AS (SELECT src, deg FROM deg),
    ex AS (
        SELECT CAST(da.deg AS DOUBLE) AS x, CAST(db.deg AS DOUBLE) AS y
        FROM e0
        JOIN dd da ON da.src = e0.src
        JOIN dd db ON db.src = e0.dst
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS t,
               (CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx,
               (CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sy,
               (CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxy,
               (CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx,
               (CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS syy
        FROM ex
    )
    SELECT CAST(t AS BIGINT) AS n_directed_edges,
           (t * sxy - sx * sy)
             / sqrt((t * sxx - sx * sx) * (t * syy - sy * sy))
               AS assortativity
    FROM s
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all directed edges — positive
    means hubs link to hubs (social-network-like), negative means
    hub-and-spoke (catalog-like); it predicts how hot the hot keys get in
    every downstream graph shuffle (copurchase_degree_histogram shows the
    marginal; this is the joint). One-pass sufficient statistics in exact
    decimal, one sqrt, one division — the OLS pattern on the edge list.

    Scale: degrees are one aggregate; re-attaching them to both endpoints
    is two shuffled joins on node keys (never broadcast — degree tables
    are node-count-sized); the statistics aggregate is map-side
    combinable.
    """
    e0 = graph_common.copurchase_edges(spark, sf_dir, load=load_table)
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("src"), F.col("deg").alias("x"))
    db = deg.select(F.col("src").alias("dst"), F.col("deg").alias("y"))
    ex = (
        e0.join(da, "src")
        .join(db, "dst")
        .select(F.col("x").cast("double").alias("x"), F.col("y").cast("double").alias("y"))
    )
    dec = "decimal(38,6)"
    s = ex.agg(
        F.count(F.lit(1)).cast("double").alias("t"),
        descale6(F.sum(F.col("x").cast(dec))).alias("sx"),
        descale6(F.sum(F.col("y").cast(dec))).alias("sy"),
        descale6(F.sum((F.col("x") * F.col("y")).cast(dec))).alias("sxy"),
        descale6(F.sum((F.col("x") * F.col("x")).cast(dec))).alias("sxx"),
        descale6(F.sum((F.col("y") * F.col("y")).cast(dec))).alias("syy"),
    )
    t, sx, sy = F.col("t"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        t.cast("bigint").alias("n_directed_edges"),
        (
            (t * sxy - sx * sy)
            / F.sqrt((t * sxx - sx * sx) * (t * syy - sy * sy))
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Top session-opening paths (first-3-event sequences)
# ---------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOP = 15


@query(
    "session_top_paths",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes' THEN 1 ELSE 0 END
                   AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                  ORDER BY ts, event_id) AS rn
        FROM sessions
    ),
    paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= {_PATH_LEN}
        GROUP BY 1, 2
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions, rk
    FROM (
        SELECT path, COUNT(*) AS c,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS INT)
                   AS rk
        FROM paths GROUP BY path
    ) t JOIN paths p USING (path)
    WHERE rk <= {_PATH_TOP}
    GROUP BY path, rk
    ORDER BY rk
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-opening path analysis: the {_PATH_TOP} most common
    first-{_PATH_LEN}-event sequences per 30-minute session — 'how do
    sessions start', the product-analytics view that funnels
    (funnel_conversion) verify hypotheses against. Sessions reuse the
    gaps-and-islands formulation (session_windows_30m); the path string
    is an ORDERED aggregation (rank-ordered string_agg / concat — a
    nondeterministically-ordered collect would break the hash).

    Scale: one user_id shuffle drives the session window, the in-session
    ranking, and the path rollup; the path dictionary is |types|^{_PATH_LEN}-
    bounded.
    """
    e = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.expr(
                "timestampdiff(MICROSECOND, lag(ts) OVER"
                " (PARTITION BY user_id ORDER BY ts, event_id), ts)"
            )
            >= 1800 * 1_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session").over(w_cum).alias("session_id"),
    )
    w_rn = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ranked = sessions.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(w_rn).alias("rn"),
    ).where(F.col("rn") <= _PATH_LEN)
    paths = ranked.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.getField("event_type"),
            ),
        ).alias("path")
    )
    pcounts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("c"))
    return (
        ranked_head(pcounts, [("c", False), ("path", True)], _PATH_TOP, "rk")
        .select("path", F.col("c").cast("bigint").alias("n_sessions"), "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Trending report (heavy-hitter rank shifts between time halves)
# ---------------------------------------------------------------------------

_TREND_TOP = 20
_TREND_SPLIT = "2024-01-16"


@query(
    "trending_users_report",
    oracle=f"""
    WITH counts AS (
        SELECT user_id,
               CAST(COUNT(CASE WHEN ts < TIMESTAMP '{_TREND_SPLIT} 00:00:00'
                          THEN 1 END) AS BIGINT) AS n_first,
               CAST(COUNT(CASE WHEN ts >= TIMESTAMP '{_TREND_SPLIT} 00:00:00'
                          THEN 1 END) AS BIGINT) AS n_second
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT user_id, n_first, n_second,
               CAST(ROW_NUMBER() OVER (ORDER BY n_second DESC, user_id)
                    AS INT) AS rk_second,
               CAST(ROW_NUMBER() OVER (ORDER BY n_first DESC, user_id)
                    AS INT) AS rk_first
        FROM counts
    )
    SELECT user_id, n_first, n_second, rk_first, rk_second,
           CAST(rk_first - rk_second AS INT) AS rank_gain
    FROM ranked
    WHERE rk_second <= {_TREND_TOP}
    ORDER BY rk_second
    """,
)
def trending_users_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending heavy hitters: the top {_TREND_TOP} users of the second
    half-month with their first-half counts and rank shift — 'who is
    rising' (positive rank_gain = climbed), the report behind trending
    feeds and the before/after twin of countmin_heavy_hitters' static
    top-k. Both period counts ride ONE conditional aggregate (a single
    scan, not two), and both rankings reuse one |users|-sized rollup.

    Scale: one map-side-combinable conditional rollup on user_id; one
    distributed prefix-sum rank over |users| rows plus one TakeOrdered
    top-k (no unpartitioned ranking windows); bounded output.
    """
    e = load_table(spark, sf_dir, "events")
    split = F.lit(f"{_TREND_SPLIT} 00:00:00").cast("timestamp_ntz")
    counts = e.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < split, 1)).cast("bigint").alias("n_first"),
        F.count(F.when(F.col("ts") >= split, 1)).cast("bigint").alias("n_second"),
    )
    # per-user counts have no spec envelope, so the rank's min/max scan
    # cannot be skipped — materialize the |users|-sized rollup once; the
    # prefix-sum branches AND ranked_head's head/probe sides all re-read it.
    counts = materialize_input(counts)
    # rk_first is the FULL |users| rank (the report shows where a trending
    # user came from), so it rides the distributed prefix-sum row number;
    # rk_second only matters for the top rows, so it is a TakeOrdered
    # head + a rank over the surviving ≤ _TREND_TOP rows.
    with_first = with_global_running(
        counts,
        [("n_first", False), ("user_id", True)],
        row_number="rk_first0",
    ).select(
        "user_id",
        "n_first",
        "n_second",
        F.col("rk_first0").cast("int").alias("rk_first"),
    )
    ranked = ranked_head(
        with_first,
        [("n_second", False), ("user_id", True)],
        _TREND_TOP,
        "rk_second",
    )
    return (
        ranked
        .select(
            "user_id",
            "n_first",
            "n_second",
            "rk_first",
            "rk_second",
            (F.col("rk_first") - F.col("rk_second")).cast("int").alias("rank_gain"),
        )
        .orderBy("rk_second")
    )


# ---------------------------------------------------------------------------
# Repeat-purchase interval distribution
# ---------------------------------------------------------------------------


@query(
    "reorder_interval_quantiles",
    oracle="""
    WITH gaps AS (
        SELECT CAST(date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        FROM orders
    ),
    hist AS (
        SELECT gap_days AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps WHERE gap_days IS NOT NULL GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_intervals,
           CAST(MIN(v) AS BIGINT) AS min_days,
           CAST(MIN(CASE WHEN 4 * cum >= n THEN v END) AS BIGINT) AS p25_days,
           CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT)
               AS median_days,
           CAST(MIN(CASE WHEN 4 * cum >= 3 * n THEN v END) AS BIGINT)
               AS p75_days,
           CAST(MAX(v) AS BIGINT) AS max_days
    FROM cum
    """,
)
def reorder_interval_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the exact quartiles of the day gaps
    between a customer's consecutive orders — the inter-arrival
    distribution that sets replenishment-reminder timing and the
    expected-next-order feature for churn models (churn_label_table's
    natural covariate). One LAG per customer, then the value-histogram
    quantile method (integer cross-multiplied quartile cuts over the
    bounded gap-day domain).

    Scale: one custkey window shuffle; the histogram bounds every later
    stage by the distinct-gap domain, not the order count.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("bigint")
        .alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    hist = gaps.groupBy(F.col("gap_days").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = with_global_running(
        hist, [("v", True)], sums={"cum": "c"}, totals={"n": "c"},
        # A same-customer order gap cannot exceed the dbgen calendar span
        # — skips the min/max scan (a full per-customer lag pass)
        bounds=(
            0.0,
            ORDERDATE_EPOCH_DAY_BOUNDS[1] - ORDERDATE_EPOCH_DAY_BOUNDS[0],
        ),
    ).select("v", "cum", "n")
    return cum.agg(
        F.max("n").cast("bigint").alias("n_intervals"),
        F.min("v").cast("bigint").alias("min_days"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("bigint")
        .alias("p25_days"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("bigint")
        .alias("median_days"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v")))
        .cast("bigint")
        .alias("p75_days"),
        F.max("v").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# New vs returning revenue split by month
# ---------------------------------------------------------------------------


@query(
    "new_vs_returning_revenue",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS first_m
        FROM orders GROUP BY 1
    )
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           CAST(COUNT(CASE WHEN CAST(date_trunc('month', o.o_orderdate)
                                     AS DATE) = f.first_m THEN 1 END)
                AS BIGINT) AS n_new_orders,
           CAST(COUNT(CASE WHEN CAST(date_trunc('month', o.o_orderdate)
                                     AS DATE) <> f.first_m THEN 1 END)
                AS BIGINT) AS n_returning_orders,
           (CAST(CAST(SUM(CASE WHEN CAST(date_trunc('month', o.o_orderdate)
                                   AS DATE) = f.first_m
                    THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS new_revenue,
           (CAST(CAST(SUM(CASE WHEN CAST(date_trunc('month', o.o_orderdate)
                                   AS DATE) <> f.first_m
                    THEN CAST(o.o_totalprice AS DECIMAL(38,6)) END) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS returning_revenue
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per month: orders in a customer's
    FIRST month are acquisition revenue, everything later is retention
    revenue — the top-line growth decomposition every subscription/
    commerce dashboard opens with (cohort_ltv_matrix is its cohort-
    resolved refinement). Revenue stays decimal-exact until the final
    cast; NULL sums for months with no new (or no returning) orders stay
    NULL on both engines.

    Scale: the first-month rollup shuffles once on custkey and re-joins
    the fact table on the same key; the report is calendar-bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("first_m")
    )
    m = F.date_trunc("month", "o_orderdate").cast("date")
    dec = "decimal(38,6)"
    is_new = m == F.col("first_m")
    return (
        o.join(firsts, "o_custkey")
        .groupBy(m.alias("month"))
        .agg(
            F.count(F.when(is_new, 1)).cast("bigint").alias("n_new_orders"),
            F.count(F.when(~is_new, 1)).cast("bigint").alias("n_returning_orders"),
            descale6(F.sum(F.when(is_new, F.col("o_totalprice").cast(dec))))
            .alias("new_revenue"),
            descale6(F.sum(F.when(~is_new, F.col("o_totalprice").cast(dec))))
            .alias("returning_revenue"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the co-purchase graph
# ---------------------------------------------------------------------------

_AA_MID_DEG_CAP = 70  # middles above this degree are skipped (see docstring)
_AA_TOP = 20
_AA_LNQ = 1e9  # 1/ln(deg) contribution grain


@query(
    "adamic_adar_link_prediction",
    oracle=f"""
    WITH {{edges_cte}},
    mid AS (
        SELECT e0.src AS m, e0.dst AS x, d.deg
        FROM e0 JOIN deg d ON d.src = e0.src
        WHERE d.deg BETWEEN 2 AND {_AA_MID_DEG_CAP}
    ),
    paths AS (
        SELECT a.x AS u, b.x AS v,
               CAST(FLOOR({_AA_LNQ} / ln(CAST(a.deg AS DOUBLE)))
                    AS BIGINT) AS cu
        FROM mid a JOIN mid b ON b.m = a.m AND a.x < b.x
    ),
    sc AS (
        SELECT u, v, CAST(SUM(cu) AS BIGINT) AS su,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM paths GROUP BY 1, 2
    ),
    ne AS (
        SELECT sc.u, sc.v, sc.su, sc.n_common
        FROM sc LEFT JOIN e0 ON e0.src = sc.u AND e0.dst = sc.v
        WHERE e0.src IS NULL
    )
    SELECT u, v, n_common,
           CAST(su AS DOUBLE) / {_AA_LNQ} AS aa_score, rk
    FROM (
        SELECT u, v, n_common, su,
               CAST(ROW_NUMBER() OVER (ORDER BY su DESC, u, v) AS INT) AS rk
        FROM ne
    ) z
    WHERE rk <= {_AA_TOP}
    ORDER BY rk
    """.format(edges_cte=_PR_EDGES_CTE),
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the top {_AA_TOP}
    part pairs that are NOT currently co-purchased but share many
    common co-purchase neighbors, scored by Adamic-Adar
    Σ_m 1/ln(deg(m)) (Adamic & Adar 2003) — rare shared neighbors count
    more than hub middles. This is the "customers who bought X also
    bought Y" candidate generator and the standard graph-completion
    baseline, a capability family (link prediction) next to the engine's
    community/centrality/core queries.

    Middles with degree > {_AA_MID_DEG_CAP} are skipped: a hub middle
    contributes the least per pair (1/ln(deg) → 0) while generating the
    MOST pairs (deg² fan-out) — the df-cap discipline the n-gram pair
    joins use (ngram_jaccard_capped), applied to 2-paths. The co-purchase
    projection is DENSE (mean degree ~120 at every sf; Σdeg² ≈ 300M at
    sf0.1), so the cap is what keeps the 2-path volume bounded (~680k at
    sf0.1, measured) — and it is semantically the right filter, not just
    a cost one: same-order neighbors are edges by construction, so
    informative non-edge 2-paths run through moderate-degree cross-order
    middles.

    Determinism: contributions are floor-quantized integers
    ({_AA_LNQ}/ln(deg), identical-input IEEE ln); sums exact; ranking
    carries the (score, u, v) total tiebreak; window-free top-k
    (ranked_head).

    Scale: one self-join of the degree-capped edge list on the middle
    node (bounded fan-out), one hash aggregate on (u, v), one broadcast-
    able anti-join against the edge list, constant-size top-k.
    """
    edges = graph_common.copurchase_edges(
        spark, sf_dir, with_degrees=True, load=load_table
    )
    mid = edges.where(
        (F.col("deg") >= 2) & (F.col("deg") <= _AA_MID_DEG_CAP)
    )
    a = mid.select(
        F.col("src").alias("m"), F.col("dst").alias("u"), "deg"
    )
    b = mid.select(F.col("src").alias("m2"), F.col("dst").alias("v"))
    cu = F.floor(
        F.lit(_AA_LNQ) / F.log(F.col("deg").cast("double"))
    ).cast("bigint")
    paths = a.join(
        b, (F.col("m") == F.col("m2")) & (F.col("u") < F.col("v"))
    ).select("u", "v", cu.alias("cu"))
    sc = paths.groupBy("u", "v").agg(
        F.sum("cu").cast("bigint").alias("su"),
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
    )
    ne = sc.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        ranked_head(ne, [("su", False), ("u", True), ("v", True)], _AA_TOP, "rk")
        .select(
            "u",
            "v",
            "n_common",
            (F.col("su").cast("double") / _AA_LNQ).alias("aa_score"),
            "rk",
        )
        .orderBy("rk")
    )
