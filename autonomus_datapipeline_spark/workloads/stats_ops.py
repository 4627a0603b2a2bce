"""Statistical-testing, sketching, and graph-algorithm workloads: KS and
Mann-Whitney two-sample tests, autocorrelation, EWMA smoothing, a count-min
sketch, readability scoring, label propagation, k-core peeling, bigram
language-model scoring, and inverted-index construction.

Third round-5 batch. Registered after the 50-query driver block, so these
enter the driver's correctness file in a later round; every one is
oracle-checked by the local gate (tools/check_oracles.py and
tests/test_queries_oracle.py) from day one.

Determinism notes follow the repo discipline (registry docstring): integer
cross-multiplication wherever a ratio feeds a comparison or a max, decimal
accumulators for any double sum, doubled ranks for tie-averaged rank sums
(so the average of two integers stays an integer), and literal dyadic
weights for the EWMA (0.75^j is exact in binary for j ≤ 15, embedded as
repr-roundtripped literals in both engines).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators import dedup
from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_ntile,
    with_global_running,
    with_global_shift,
)
from autonomus_datapipeline_spark.workloads import graph_common
from autonomus_datapipeline_spark.workloads.analytics_ops import _PR_EDGES_CTE
from autonomus_datapipeline_spark.workloads.pipeline_ops import _TOKS, _sql_shingles
from autonomus_datapipeline_spark.workloads.registry import (
    LINEITEM_EXTPRICE_BOUNDS,
    LINEITEM_QUANTITY_BOUNDS,
    ORDER_TOTALPRICE_BOUNDS,
    ORDERDATE_EPOCH_DAY_BOUNDS,
    descale6,
    davg,
    fsum,
    load_table,
    query,
    sql_davg,
    sql_dsum,
    sql_fsum,
)

# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (exact integer cross-multiplication)
# ---------------------------------------------------------------------------

_KS_SEG_A = "BUILDING"
_KS_SEG_B = "MACHINERY"


@query(
    "ks_two_sample_order_value",
    oracle=f"""
    WITH s AS (
        SELECT o.o_totalprice AS v,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS g1,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_B}' THEN 1 ELSE 0 END AS g2
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
    ),
    hist AS (
        SELECT v, CAST(SUM(g1) AS BIGINT) AS c1, CAST(SUM(g2) AS BIGINT) AS c2
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2,
               SUM(c1) OVER () AS n1,
               SUM(c2) OVER () AS n2
        FROM hist
    ),
    d AS (
        SELECT n1, n2,
               ABS(CAST(cum1 AS DECIMAL(38,0)) * n2
                   - CAST(cum2 AS DECIMAL(38,0)) * n1) AS dn
        FROM cum
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(MAX(dn) AS BIGINT) AS d_num,
           CAST(MAX(dn) AS DOUBLE)
             / (CAST(MAX(n1) AS DOUBLE) * MAX(n2)) AS ks_stat
    FROM d
    """,
)
def ks_two_sample_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample statistic comparing the order-value
    distributions of two customer segments ({_KS_SEG_A} vs {_KS_SEG_B}) —
    the drift test behind "did this cohort's spending distribution shift".
    D = max |F1(x) − F2(x)| is evaluated as the INTEGER cross-
    multiplication max |cum1·n2 − cum2·n1| / (n1·n2): the maximizing value
    is found on exact integers (a double CDF difference would make the
    argmax order-dependent near ties), and only the final ratio is a
    double.

    Scale: one join + per-value histogram aggregate (map-side combinable),
    then the distributed prefix-sum (operators/prefix_sum.py) over the
    distinct-value domain — o_totalprice is near-unique, so the cumulative
    step is ≈|orders|-sized and must never run as a single-partition
    window. The cross-multiplication is DECIMAL(38,0) so counts up to
    10¹⁸ cannot overflow.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == _KS_SEG_A, 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == _KS_SEG_B, 1).otherwise(0).alias("g2"),
        )
    )
    hist = s.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        F.sum("g2").cast("bigint").alias("c2"),
    )
    cum = with_global_running(
        hist,
        [("v", True)],
        sums={"cum1": "c1", "cum2": "c2"},
        totals={"n1": "c1", "n2": "c2"},
        # generator price envelope — skips the min/max scan, which would
        # re-run the orders⋈customer join + histogram aggregate
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select("cum1", "cum2", "n1", "n2")
    dn = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    d = cum.select("n1", "n2", dn.alias("dn"))
    return d.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.max("dn").cast("bigint").alias("d_num"),
        (
            F.max("dn").cast("double")
            / (F.max("n1").cast("double") * F.max("n2"))
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum with doubled tie-averaged ranks — all-integer)
# ---------------------------------------------------------------------------


@query(
    "mann_whitney_order_value",
    oracle=f"""
    WITH s AS (
        SELECT o.o_totalprice AS v,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS g1,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_B}' THEN 1 ELSE 0 END AS g2
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
    ),
    hist AS (
        SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
               CAST(SUM(g1) + SUM(g2) AS BIGINT) AS c
        FROM s GROUP BY 1
    ),
    ranked AS (
        SELECT c1, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c AS cb,
               SUM(c1) OVER () AS n1,
               SUM(c - c1) OVER () AS n2
        FROM hist
    )
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n2) AS BIGINT) AS n2,
           CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * (2 * cb + c + 1))
                - CAST(MAX(n1) AS DECIMAL(38,0)) * (MAX(n1) + 1)
                AS BIGINT) AS u1_x2,
           CAST(CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * (2 * cb + c + 1))
                     - CAST(MAX(n1) AS DECIMAL(38,0)) * (MAX(n1) + 1)
                     AS BIGINT) AS DOUBLE)
             / (CAST(MAX(n1) AS DOUBLE) * MAX(n2) * 2) AS auc
    FROM ranked
    """,
)
def mann_whitney_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test on the same two-segment split as the
    KS query, fully integer-exact under ties: the tie-averaged rank of a
    value occupying positions cb+1..cb+c is (2·cb + c + 1)/2, so DOUBLED
    rank sums stay integers — R1·2 = Σ c1·(2·cb + c + 1) — and the query
    reports u1_x2 = 2·U1 = R1·2 − n1(n1+1), which is EXACT: U1 itself is
    half-integral whenever ties straddle the groups, and halving it hits
    the engines' HALF_UP-vs-HALF_EVEN divergence (observed at sf0.1 —
    u1 off by one between engines), so the 2 is folded into the effect-
    size denominator instead. auc = 2U1/(2·n1·n2) is the common-language
    effect size (P(X1 > X2) + ½P(tie)) — the probability a random
    {_KS_SEG_A} order outspends a random {_KS_SEG_B} one.

    Scale: identical shape to the KS query — histogram aggregate, a
    distributed prefix-sum over the near-unique value grid (never a
    single-partition window), DECIMAL(38,0) products.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("c_mktsegment") == _KS_SEG_A, 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == _KS_SEG_B, 1).otherwise(0).alias("g2"),
        )
    )
    hist = s.groupBy("v").agg(
        F.sum("g1").cast("bigint").alias("c1"),
        (F.sum("g1") + F.sum("g2")).cast("bigint").alias("c"),
    )
    ranked = with_global_running(
        hist,
        [("v", True)],
        sums={"ce": "c"},
        totals={"n1": "c1", "n2": F.col("c") - F.col("c1")},
        # generator price envelope — skips the min/max scan, which would
        # re-run the orders⋈customer join + histogram aggregate
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select(
        "c1",
        "c",
        (F.col("ce") - F.col("c")).alias("cb"),
        "n1",
        "n2",
    )
    r1_x2 = F.sum(
        F.col("c1").cast("decimal(38,0)") * (2 * F.col("cb") + F.col("c") + 1)
    )
    u1_x2 = (
        r1_x2 - F.max("n1").cast("decimal(38,0)") * (F.max("n1") + 1)
    ).cast("bigint")
    return ranked.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        u1_x2.alias("u1_x2"),
        (
            u1_x2.cast("double")
            / (F.max("n1").cast("double") * F.max("n2") * 2)
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the hourly event-count series
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 6


@query(
    "acf_hourly_events",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS mn,
               date_trunc('hour', MAX(ts)) AS mx
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS h
        FROM bounds
    ),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    ser AS (
        SELECT g.h, COALESCE(hh.x, 0) AS x
        FROM grid g LEFT JOIN hourly hh ON hh.h = g.h
    ),
    gstats AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ssq
        FROM ser
    ),
    lags AS (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag,
               CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(a.x) AS DECIMAL(38,0)) AS sa,
               CAST(SUM(b.x) AS DECIMAL(38,0)) AS sb,
               CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.x) AS DECIMAL(38,0))
                   AS sp
        FROM lags l
        JOIN ser a ON TRUE
        JOIN ser b ON b.h = a.h - to_hours(CAST(l.lag AS INT))
        GROUP BY 1
    )
    SELECT CAST(p.lag AS INT) AS lag,
           p.np AS n_pairs,
           CAST(g.n * g.n * p.sp - g.n * g.s * (p.sa + p.sb)
                + (g.n - p.lag) * g.s * g.s AS DOUBLE)
             / CAST(g.n * g.n * g.ssq - g.n * g.s * g.s AS DOUBLE) AS acf
    FROM pairs p CROSS JOIN gstats g
    ORDER BY lag
    """,
)
def acf_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..{_ACF_MAX_LAG}) of the hourly
    event-count series on a dense hour grid (gap hours count 0) — the
    seasonality fingerprint read before picking forecasting features.
    The standard biased estimator r_k = c_k/c_0 with the global mean is
    cleared of doubles entirely by multiplying through by n²:
    n²·c_k = n²·Σx_t·x_{{t−k}} − n·S·(A_k + B_k) + (n−k)·S², with every
    term an exact DECIMAL(38,0) over integer counts; the single double
    division happens once per lag.

    Scale: the series lives on the calendar-bounded hour grid (sequence +
    explode — rows ∝ hours, never a data shuffle), so the lag self-join
    and the windowless global aggregate are grid-sized at any corpus
    size; the event scan itself is one map-side-combinable count.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h")
    )
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    ser = grid.join(hourly, "h", "left").select(
        "h", F.coalesce("x", F.lit(0)).alias("x")
    )
    glob = ser.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("ssq"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = ser.select(F.col("h").alias("ha"), F.col("x").alias("xa"))
    b = ser.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("h_prev", F.expr("timestampadd(HOUR, -lag, ha)"))
        .join(b, F.col("hb") == F.col("h_prev"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("np"),
            F.sum("xa").cast("decimal(38,0)").alias("sa"),
            F.sum("xb").cast("decimal(38,0)").alias("sb"),
            F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb"))
            .cast("decimal(38,0)")
            .alias("sp"),
        )
    )
    num = (
        F.col("n") * F.col("n") * F.col("sp")
        - F.col("n") * F.col("s") * (F.col("sa") + F.col("sb"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = F.col("n") * F.col("n") * F.col("ssq") - F.col("n") * F.col("s") * F.col("s")
    return (
        pairs.crossJoin(F.broadcast(glob))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("np").alias("n_pairs"),
            (num.cast("double") / den.cast("double")).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# EWMA smoothing of daily revenue (exact dyadic weights, bounded lookback)
# ---------------------------------------------------------------------------

_EWMA_LOOKBACK = 8  # weights (3/4)^j, j = 0..7, scaled by 4^7 to integers

# (3/4)^j scaled by 4^(LOOKBACK-1): wint_j = 3^j * 4^(7-j).  Small pure
# integers (max 4^7 = 16384), so every weight, product, and partial sum is
# EXACT in decimal arithmetic in BOTH engines — no double->decimal cast
# anywhere, which is the one operation whose rounding is not cross-engine
# portable (Spark rounds the exact binary expansion HALF_UP; DuckDB rounds
# an approximate value*10^scale — they disagree whenever a product sits
# within double-error of a half-grain boundary, ~0.2% of terms at 1e7
# magnitude: the r8 driver-red row).  The weight scale is kept SMALL on
# purpose: revenue stays at its native 2-decimal scale and the weighted
# sum stays < 2^53 in hundredths, so the decimal->double casts of BOTH
# division operands are exact and the final double is bit-identical
# across engines (guaranteed while sum(r*w) < 2^53/100 ≈ 9e13).
_EWMA_WINT = [
    3**j * 4 ** (_EWMA_LOOKBACK - 1 - j) for j in range(_EWMA_LOOKBACK)
]

_EWMA_W_SQL = ", ".join(f"({j}, {w})" for j, w in enumerate(_EWMA_WINT))


@query(
    "ewma_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS r
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT j, CAST(wi AS DECIMAL(5,0)) AS w
        FROM (VALUES {_EWMA_W_SQL}) t(j, wi)
    ),
    contrib AS (
        SELECT CAST(s.d + to_days(CAST(w.j AS INT)) AS DATE) AS day,
               w.w, CAST(s.r AS DECIMAL(20,2)) AS r
        FROM daily s CROSS JOIN w
    ),
    tgt AS (SELECT d AS day FROM daily)
    SELECT c.day,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(CAST(SUM(c.r * c.w) AS DECIMAL(38,2)) AS DOUBLE)
             / CAST(SUM(CAST(c.w AS BIGINT)) AS DOUBLE) AS ewma
    FROM contrib c JOIN tgt t ON t.day = c.day
    GROUP BY 1
    ORDER BY 1
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue (α = 1/4,
    truncated at a {_EWMA_LOOKBACK}-day lookback, renormalized over the
    weights actually present — the "adjusted" EWMA). Determinism without
    iteration: the common 4^7 denominator cancels in the ratio, so the
    weights are embedded as INTEGER literals 3^j·4^(7−j) and every
    product/partial sum stays in exact decimal arithmetic; the only
    floating-point op in the whole query is the final division of two
    exactly-computed operands, both of which convert to double EXACTLY
    (num < 2^53 in hundredths, den < 2^53), so the result is the single
    correctly-rounded quotient in both engines — bit-identical.
    There is deliberately NO double→decimal cast anywhere: that cast's
    rounding is not cross-engine portable (Spark rounds the exact binary
    expansion, DuckDB an approximate value·10^scale — the r8 driver-red
    row), and no decimal wider than 2^53 of its own scale units is ever
    cast to double (two-step int128→double→÷10^scale double-rounds).

    Scale: daily revenue is one map-side-combinable aggregate to a
    calendar-bounded grid; the lookback expansion is a {_EWMA_LOOKBACK}×
    fan-out of that grid joined back to itself — never a fact-table
    shuffle. The closed weighted-sum form replaces the sequential
    recurrence ewma_t = αx + (1−α)ewma_{{t−1}}, which cannot parallelize.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("r")
    )
    weights = spark.createDataFrame(
        list(enumerate(_EWMA_WINT)), "j int, w long"
    )
    # decimal(20,2) * decimal(5,0) -> decimal(26,2): exact (no precision
    # loss) in both engines.
    contrib = daily.crossJoin(F.broadcast(weights)).select(
        F.expr("date_add(d, j)").alias("day"),
        F.col("w").cast("decimal(5,0)").alias("w"),
        F.col("r").cast("decimal(20,2)").alias("r"),
    )
    tgt = daily.select(F.col("d").alias("day"))
    return (
        contrib.join(tgt, "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            (
                F.sum(F.col("r") * F.col("w"))
                .cast("decimal(38,2)")
                .cast("double")
                / F.sum(F.col("w").cast("bigint")).cast("double")
            ).alias("ewma"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 251  # prime — (ascii·256 + ascii) % 251 spreads hex pairs evenly
_CM_TOP = 20


def _cm_bucket_sql(d: str, key: str) -> str:
    h = f"md5(CAST({d} AS VARCHAR) || ':' || CAST({key} AS VARCHAR))"
    return (
        f"(ascii(substr({h}, 1, 1)) * 256 + ascii(substr({h}, 2, 1)))"
        f" % {_CM_WIDTH}"
    )


@query(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH ucnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    depths AS (SELECT unnest(range(0, {_CM_DEPTH})) AS d),
    cells AS (
        SELECT dp.d, {_cm_bucket_sql("dp.d", "u.user_id")} AS bucket, u.n
        FROM ucnt u CROSS JOIN depths dp
    ),
    sketch AS (
        SELECT d, bucket, CAST(SUM(n) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    est AS (
        SELECT c.user_id, CAST(MIN(s.cnt) AS BIGINT) AS cm_estimate
        FROM (SELECT u.user_id, dp.d,
                     {_cm_bucket_sql("dp.d", "u.user_id")} AS bucket
              FROM ucnt u CROSS JOIN depths dp) c
        JOIN sketch s ON s.d = c.d AND s.bucket = c.bucket
        GROUP BY 1
    )
    SELECT u.user_id, u.n AS true_count, e.cm_estimate,
           e.cm_estimate - u.n AS overestimate, rk
    FROM (
        SELECT user_id, n,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS INT) AS rk
        FROM ucnt
    ) u
    JOIN est e ON e.user_id = u.user_id
    WHERE rk <= {_CM_TOP}
    ORDER BY rk
    """,
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth {_CM_DEPTH} × width {_CM_WIDTH}) over
    per-user event counts, audited against the exact counts for the top
    {_CM_TOP} heavy hitters: the estimate is min over rows of the bucket
    sums, so overestimate ≥ 0 always (the CM guarantee) and the audit
    column shows the collision inflation directly. Hashes are md5-derived
    with the depth salted into the input — portable across engines, no
    engine-native hash.

    Scale: the sketch is depth×width = {_CM_DEPTH * _CM_WIDTH} cells
    REGARDLESS of cardinality — the whole point of the sketch — so the
    estimate join broadcasts it; building it is one map-side-combinable
    aggregate per depth over the per-user rollup. This is the bounded-
    memory path when exact per-key counts would blow the shuffle (the
    exact twin is dedup_exact / salted_grouped_count).
    """
    e = load_table(spark, sf_dir, "events")
    ucnt = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    depths = spark.range(_CM_DEPTH).select(F.col("id").cast("int").alias("d"))

    def bucket(d, key):
        h = F.md5(F.concat(d.cast("string"), F.lit(":"), key.cast("string")))
        return (
            F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
        ) % _CM_WIDTH

    cells = ucnt.crossJoin(F.broadcast(depths)).select(
        "d", bucket(F.col("d"), F.col("user_id")).alias("bucket"), "n"
    )
    sketch = cells.groupBy("d", "bucket").agg(
        F.sum("n").cast("bigint").alias("cnt")
    )
    probes = ucnt.crossJoin(F.broadcast(depths)).select(
        "user_id", "d", bucket(F.col("d"), F.col("user_id")).alias("bucket")
    )
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("bigint").alias("cm_estimate"))
    )
    top = ranked_head(
        ucnt.select("user_id", "n"),
        [("n", False), ("user_id", True)],
        _CM_TOP,
        "rk",
    )
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            F.col("n").alias("true_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("n")).alias("overestimate"),
            "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease buckets
# ---------------------------------------------------------------------------


def _group_count_sql(expr: str, pat: str) -> str:
    return (
        f"length(regexp_replace({expr}, '{pat}', '#', 'g'))"
        f" - length(regexp_replace({expr}, '{pat}', '', 'g'))"
    )


@query(
    "flesch_reading_buckets",
    oracle=f"""
    WITH m AS (
        SELECT CAST(len({_TOKS}) AS BIGINT) AS w,
               CAST(greatest({_group_count_sql("text", "[.!?]+")}, 1)
                    AS BIGINT) AS s,
               CAST(greatest({_group_count_sql("lower(text)", "[aeiouy]+")}, 1)
                    AS BIGINT) AS y
        FROM documents
    ),
    scored AS (
        SELECT w, s, y,
               206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                       - 84.6 * (CAST(y AS DOUBLE) / w) AS score
        FROM m WHERE w > 0
    )
    SELECT CASE WHEN score >= 90 THEN 'very_easy'
                WHEN score >= 70 THEN 'easy'
                WHEN score >= 50 THEN 'medium'
                WHEN score >= 30 THEN 'difficult'
                ELSE 'very_difficult' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_dsum("score", "sum_score")},
           CAST(SUM(w) AS BIGINT) AS total_words
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
)
def flesch_reading_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring with the vowel-group syllable
    approximation (a syllable ≈ one maximal [aeiouy]+ run), banded into
    the standard difficulty buckets — the classic pre-LLM quality/
    difficulty signal alongside text_quality_scores. Group counting is
    the portable two-regexp_replace length difference (replace each run
    with one char vs delete all runs); word/sentence/syllable counts are
    exact integers, the score one fixed IEEE expression per row, and the
    per-band mean goes through the decimal accumulator.

    Scale: pure per-row columnar expressions (three regexps per doc) into
    a 5-row rollup — embarrassingly parallel, no shuffle beyond the final
    map-side-combined aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")

    def groups(col, pat):
        return F.length(F.regexp_replace(col, pat, "#")) - F.length(
            F.regexp_replace(col, pat, "")
        )

    m = docs.select(
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("w"),
        F.greatest(groups(F.col("text"), "[.!?]+"), F.lit(1))
        .cast("bigint")
        .alias("s"),
        F.greatest(groups(F.lower("text"), "[aeiouy]+"), F.lit(1))
        .cast("bigint")
        .alias("y"),
    ).where(F.col("w") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
        - F.lit(84.6) * (F.col("y").cast("double") / F.col("w"))
    )
    band = (
        F.when(score >= 90, "very_easy")
        .when(score >= 70, "easy")
        .when(score >= 50, "medium")
        .when(score >= 30, "difficult")
        .otherwise("very_difficult")
    )
    return (
        m.select(band.alias("band"), score.alias("score"), "w")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            descale6(F.sum(F.col("score").cast("decimal(38,6)")))
            .alias("sum_score"),
            F.sum("w").cast("bigint").alias("total_words"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Label propagation communities (2 unrolled semi-synchronous rounds)
# ---------------------------------------------------------------------------

_LPA_TOP = 30


def _lpa_round_sql(edges: str, prev: str, out: str) -> str:
    """One LPA round: each node adopts its neighbors' most frequent label,
    ties to the smallest label."""
    return f"""
    {out} AS (
        SELECT u, label FROM (
            SELECT e.u, l.label,
                   ROW_NUMBER() OVER (PARTITION BY e.u
                                      ORDER BY COUNT(*) DESC, l.label) AS rn
            FROM {edges} e JOIN {prev} l ON l.u = e.v
            GROUP BY e.u, l.label
        ) t WHERE rn = 1
    )
    """


def _lpa_labels(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """``rounds`` semi-synchronous LPA rounds from identity labels over a
    symmetric edge list (u, v): each node adopts the neighbor label with
    the highest count, ties to the SMALLEST label. The argmax is a max
    over a (count, -label) struct — a pure HASH aggregate with map-side
    partial combine and no per-group sort. It returns the same labels as
    the oracle's row_number-over-(count DESC, label) window, which it
    replaced after the r11 interleaved A/B (AB_r11.json) put it at or
    under the window form.
    """
    labels = edges.select(F.col("u"), F.col("u").alias("label")).distinct()
    for _ in range(rounds):
        nb = edges.join(
            labels.select(F.col("u").alias("v"), "label"), "v"
        ).groupBy("u", "label").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            nb.groupBy("u")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("u", (-F.col("m.nl")).alias("label"))
        )
    return labels


@query(
    "label_propagation_communities",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    edges AS (SELECT src AS u, dst AS v FROM e0),
    l0 AS (SELECT DISTINCT src AS u, src AS label FROM e0),
    {_lpa_round_sql("edges", "l0", "l1")},
    {_lpa_round_sql("edges", "l1", "l2")}
    SELECT label AS community, CAST(c AS BIGINT) AS n_members, rk
    FROM (
        SELECT label, COUNT(*) AS c,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, label)
                    AS INT) AS rk
        FROM l2 GROUP BY label
    ) t
    WHERE rk <= {_LPA_TOP}
    ORDER BY rk
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled semi-synchronous label-propagation rounds over the
    co-purchase graph (same edge set as pagerank_copurchase): labels start
    as node ids; each round every node adopts its neighbors' most frequent
    label with ties to the SMALLEST label (the deterministic LPA variant —
    random tie-breaking is the textbook algorithm's nondeterminism, which
    a cross-engine-checked pipeline cannot have). Round 1 from identity
    labels therefore reduces to "adopt the smallest neighbor id seen most
    often", and round 2 begins genuine propagation. Top {_LPA_TOP}
    communities by size.

    Scale: each round is one shuffle join of the edge list with the
    |nodes|-sized label vector plus one count aggregate — the same
    join-agg iteration shape as PageRank; the production loop re-
    checkpoints per round (operators/graph.py shows that pattern for
    connected components).
    """
    edges = graph_common.copurchase_edges(spark, sf_dir, load=load_table).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    labels = _lpa_labels(edges, rounds=2)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        ranked_head(
            sizes, [("n_members", False), ("label", True)], _LPA_TOP, "rk"
        )
        .select(F.col("label").alias("community"), "n_members", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# k-core peeling (3 unrolled rounds, k = 3)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_round_sql(prev_edges: str, out_edges: str) -> str:
    return f"""
    {out_edges}_keep AS (
        SELECT u FROM {prev_edges} GROUP BY u
        HAVING COUNT(*) >= {_KCORE_K}
    ),
    {out_edges} AS (
        SELECT e.u, e.v FROM {prev_edges} e
        JOIN {out_edges}_keep a ON a.u = e.u
        JOIN {out_edges}_keep b ON b.u = e.v
    )
    """


@query(
    "kcore_peeling_summary",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    ke0 AS (SELECT src AS u, dst AS v FROM e0),
    {_kcore_round_sql("ke0", "ke1")},
    {_kcore_round_sql("ke1", "ke2")},
    {_kcore_round_sql("ke2", "ke3")},
    degs AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ke3 GROUP BY u)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COALESCE(SUM(d), 0) / 2 AS BIGINT) AS n_edges,
           CAST(COALESCE(MAX(d), 0) AS BIGINT) AS max_degree,
           CAST(COALESCE(MIN(d), 0) AS BIGINT) AS min_degree
    FROM degs
    """,
)
def kcore_peeling_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_ROUNDS} unrolled rounds of k-core peeling (k = {_KCORE_K})
    on the co-purchase graph: repeatedly drop nodes of degree < k and the
    edges touching them, reporting the surviving subgraph's node/edge
    counts and degree range — the dense-core extraction that seeds
    community mining and prunes near-dup candidate graphs before
    clustering. min_degree can still be below k after a finite unroll
    (peeling cascades); convergence is min_degree ≥ {_KCORE_K}.

    Scale: each round is a degree aggregate (map-side combinable) plus
    two SEMI joins of the edge list against the surviving-node set —
    shuffle-linear in edges, the same per-round cost envelope as the
    connected-components loop (operators/graph.py), which also documents
    the checkpoint cadence the production loop uses.
    """
    edges = graph_common.copurchase_edges(
        # build="collect": consistently 20-25% faster for THIS consumer
        # across four interleaved A/Bs (r14+r15; see copurchase_edges
        # docstring) — the loop-heavy consumers keep "join".
        spark, sf_dir, load=load_table, build="collect"
    ).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("u")
        )
        # No per-round cache here: the three references to the previous
        # round (edge chain + both semi-join keep sides) compile to
        # identical exchanges that ReuseExchange dedups within the one
        # final job — measured, a per-round cache() only added
        # materialization overhead (4.4 → 5.3 s at sf0.1).
        edges = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
    degs = edges.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    return degs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("bigint").alias("n_edges"),
        F.coalesce(F.max("d"), F.lit(0)).cast("bigint").alias("max_degree"),
        F.coalesce(F.min("d"), F.lit(0)).cast("bigint").alias("min_degree"),
    )


# ---------------------------------------------------------------------------
# Add-one-smoothed bigram LM predictability per source
# ---------------------------------------------------------------------------


@query(
    "bigram_lm_source_scores",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS tk FROM documents),
    bg AS (
        SELECT doc_id, source, tk[i] AS w1, tk[i + 1] AS w2
        FROM (
            SELECT doc_id, source, tk,
                   unnest(range(1, len(tk))) AS i
            FROM toks WHERE len(tk) >= 2
        ) u
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
    vocab AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM bg),
    scored AS (
        SELECT b.doc_id, b.source,
               CAST(FLOOR(CAST(c2.c12 + 1 AS DOUBLE) / (c1.c1 + vo.v) * 1e12)
                    AS BIGINT) AS pq
        FROM bg b
        JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        CROSS JOIN vocab vo
    ),
    perdoc AS (
        SELECT doc_id, source,
               CAST(SUM(pq) // COUNT(*) AS BIGINT) AS mean_pq
        FROM scored GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(mean_pq) AS BIGINT) AS DOUBLE) / 1e12
               AS mean_doc_prob_sum
    FROM perdoc GROUP BY 1 ORDER BY 1
    """,
)
def bigram_lm_source_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus predictability per source: an add-one-smoothed bigram
    language model P(w2|w1) = (c(w1w2)+1)/(c(w1)+V) is trained on the
    corpus's own bigrams (c(w1) counts w1's occurrences as a bigram LEFT —
    self-consistent, no off-by-one with final tokens), and each document
    is scored by its mean bigram probability. Low-probability sources are
    the out-of-distribution / noisy slices — the cheap KenLM-style
    quality prior built from nothing but the corpus. Probabilities are
    floor-quantized to integer picounits (FLOOR(p·10¹²) — no tie case,
    unlike a decimal cast whose half-quantum rounding differs between
    engines: HALF_UP vs HALF_EVEN, observed on this very query at
    sf0.01), then both aggregation levels are exact integer sums with one
    integer floor-division for the per-doc mean.

    Scale: bigram extraction is a per-row array transform (no shuffle);
    the model tables are vocabulary-sized aggregates re-joined on w1/w2 —
    shuffle-linear; V is a 1-row broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(
            "doc_id", "source", F.split(F.lower("text"), r"\s+").alias("tk")
        )
        .where(F.size("tk") >= 2)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    vocab = bg.agg(F.count_distinct("w1").cast("bigint").alias("v"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            F.floor(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("v"))
                * F.lit(1e12)
            )
            .cast("bigint")
            .alias("pq"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(
        F.expr("sum(pq) div count(*)").cast("bigint").alias("mean_pq")
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.sum("mean_pq").cast("bigint").cast("double") / F.lit(1e12)).alias(
                "mean_doc_prob_sum"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Inverted-index postings for rare terms
# ---------------------------------------------------------------------------

_INV_SHINGLE = 3
_INV_DF_MIN = 2
_INV_DF_MAX = 5
_INV_TOP = 100


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH {_sql_shingles(_INV_SHINGLE)},
    agg AS (
        SELECT shingle,
               CAST(COUNT(*) AS BIGINT) AS df,
               array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
        FROM sh GROUP BY shingle
        HAVING COUNT(*) BETWEEN {_INV_DF_MIN} AND {_INV_DF_MAX}
    )
    SELECT shingle, df, postings_csv, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY df DESC, shingle)
                    AS INT) AS rk
        FROM agg
    ) r WHERE rk <= {_INV_TOP}
    ORDER BY rk
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction for rare phrases ({_INV_SHINGLE}-word
    shingles with document frequency in [{_INV_DF_MIN}, {_INV_DF_MAX}]):
    per phrase, the document frequency and the SORTED posting list of doc
    ids — the search-engine building block under bm25_doc_ranking and the
    lookup structure behind contamination_ngram_overlap, emitted in the
    portable CSV scalar form (array_agg_order_years' convention: sorted
    before serialization, because collect order is nondeterministic).

    Scale: two-phase on the Spark side — document frequencies first, the
    df-band filter SEMI-prunes the shingle stream, and only surviving
    (rare) phrases reach collect_list, so a boilerplate phrase's
    corpus-sized posting list is never materialized. The oracle's
    single-pass HAVING is semantically identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _INV_SHINGLE)
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .where(F.col("df").between(_INV_DF_MIN, _INV_DF_MAX))
    )
    agg = (
        sh.join(dfreq, "shingle")
        .groupBy("shingle", "df")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "postings_csv"
            )
        )
    )
    return (
        ranked_head(agg, [("df", False), ("shingle", True)], _INV_TOP, "rk")
        .select("shingle", "df", "postings_csv", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B conversion)
# ---------------------------------------------------------------------------


@query(
    "ab_conversion_ztest",
    oracle=f"""
    WITH conv AS (
        SELECT c.c_custkey,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS g1,
               MAX(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS converted
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT CAST(SUM(g1) AS BIGINT) AS n1,
               CAST(SUM(g1 * converted) AS BIGINT) AS x1,
               CAST(SUM(1 - g1) AS BIGINT) AS n2,
               CAST(SUM((1 - g1) * converted) AS BIGINT) AS x2
        FROM conv
    )
    SELECT n1, x1, n2, x2,
           CAST(x1 AS DOUBLE) / n1 AS p1,
           CAST(x2 AS DOUBLE) / n2 AS p2,
           (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
             / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (CAST(1 AS DOUBLE) / n1 + CAST(1 AS DOUBLE) / n2))
               AS z_stat
    FROM agg
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the A/B-test decision statistic: does the
    {_KS_SEG_A} segment convert (places ≥1 urgent order) at a different
    rate than {_KS_SEG_B}? z = (p1−p2)/√(p̂(1−p̂)(1/n1+1/n2)) with the
    pooled proportion p̂. Every input is an exact integer count; the
    statistic is one fixed IEEE expression (sqrt is correctly rounded
    under IEEE-754 — the one math function the log-free discipline
    allows, cf. temperature_mix_weights).

    Scale: one join + per-customer MAX rollup (shuffles on custkey), then
    a scalar aggregate. The LEFT join keeps zero-order customers as
    non-conversions — the same no-silent-drop rule as
    q13_customer_order_distribution.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    conv = (
        c.where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            "c_custkey",
            F.when(F.col("c_mktsegment") == _KS_SEG_A, 1).otherwise(0).alias("g1"),
        )
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("converted")
        )
    )
    agg = conv.agg(
        F.sum("g1").cast("bigint").alias("n1"),
        F.sum(F.col("g1") * F.col("converted")).cast("bigint").alias("x1"),
        F.sum(1 - F.col("g1")).cast("bigint").alias("n2"),
        F.sum((1 - F.col("g1")) * F.col("converted")).cast("bigint").alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pooled = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    z = (p1 - p2) / F.sqrt(
        pooled
        * (1 - pooled)
        * (
            F.lit(1).cast("double") / F.col("n1")
            + F.lit(1).cast("double") / F.col("n2")
        )
    )
    return agg.select(
        "n1",
        "x1",
        "n2",
        "x2",
        p1.alias("p1"),
        p2.alias("p2"),
        z.alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Ordinary least squares via normal equations (closed form, no iteration)
# ---------------------------------------------------------------------------


@query(
    "ols_price_quantity_fit",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx,
               (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
                   AS sy,
               (CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxy,
               (CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx,
               (CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS syy
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r_squared
    FROM s
    """,
)
def ols_price_quantity_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares in closed form — the one-pass distributed
    regression: slope/intercept/R² of extendedprice on quantity from the
    normal equations over five sufficient statistics (Σx, Σy, Σxy, Σx²,
    Σy²), each accumulated through the exact decimal path (order-free)
    and converted once to double before the fixed IEEE formula. This is
    how regression actually runs at 100 TB: one map-side-combinable
    aggregate, zero iterations, no driver-side math (MLlib's
    LinearRegression does gradient descent for the general case; for one
    feature the sufficient-statistics form is exact and one scan).

    Scale: a single scalar aggregate over the scan — nothing else.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def dsnap(c):
        return descale6(F.sum(c.cast("decimal(38,6)")))

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsnap(x).alias("sx"),
        dsnap(y).alias("sy"),
        dsnap(x * y).alias("sxy"),
        dsnap(x * x).alias("sxx"),
        dsnap(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_rows"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r_squared"),
    )


@query(
    "ols_revenue_trend_by_priority",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(o_totalprice * 1e6) AS DECIMAL(38,0)))
                    AS DOUBLE) / 1e6 AS y
        FROM orders GROUP BY 1, 2
    ),
    s AS (
        SELECT priority,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(FLOOR(y * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sy,
               CAST(SUM(CAST(FLOOR((x * y) * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sxy,
               CAST(SUM(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,0)))
                    AS DOUBLE) AS sxx
        FROM daily GROUP BY 1
    )
    SELECT priority,
           CAST(n AS BIGINT) AS n_days,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_per_day,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS intercept
    FROM s ORDER BY priority
    """,
)
def ols_revenue_trend_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS: the daily-revenue time trend (slope per day +
    intercept) fitted independently per order priority — 'is URGENT
    revenue growing faster' as a closed-form regression, the grouped
    sibling of ols_price_quantity_fit (same sufficient-statistics
    pattern, one row of statistics per group; day index x is exact
    integer days since the epoch anchor, so x·y and x² are deterministic
    per row).

    Scale: daily rollup (calendar-bounded), then one map-side-combinable
    statistics aggregate per priority — |groups| result rows, no window,
    no iteration.
    """
    o = load_table(spark, sf_dir, "orders")
    # fsum rule (registry.fsum): the daily revenue y and the x·y moment
    # are genuine doubles — floor-quantized units sum exactly and
    # identically on both engines; x and x² are exact integers summed in
    # DECIMAL(38,0) with no quantization at all.
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x"),
    ).agg(fsum(F.col("o_totalprice"), "y"))
    s = daily.groupBy("priority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        fsum(F.col("y"), "sy"),
        fsum(F.col("x") * F.col("y"), "sxy"),
        F.sum(
            (F.col("x").cast("decimal(38,0)") * F.col("x")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "priority",
        n.cast("bigint").alias("n_days"),
        slope.alias("slope_per_day"),
        ((sy - slope * sx) / n).alias("intercept"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B comparison
# ---------------------------------------------------------------------------

_CUPED_SPLIT = "1996-01-01"


@query(
    "cuped_adjusted_ab",
    oracle=f"""
    WITH per_cust AS (
        SELECT c.c_custkey,
               CASE WHEN c.c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS g1,
               CAST(COALESCE(SUM(CASE WHEN o.o_orderdate < DATE '{_CUPED_SPLIT}'
                             THEN CAST(FLOOR(o.o_totalprice * 1e6)
                                       AS DECIMAL(38,0)) END), 0)
                    AS DOUBLE) / 1e6 AS x,
               CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '{_CUPED_SPLIT}'
                             THEN CAST(FLOOR(o.o_totalprice * 1e6)
                                       AS DECIMAL(38,0)) END), 0)
                    AS DOUBLE) / 1e6 AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
        GROUP BY 1, 2
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(FLOOR(x * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sx,
               CAST(SUM(CAST(FLOOR(y * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sy,
               CAST(SUM(CAST(FLOOR((x * y) * 1e2) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e2 AS sxy,
               CAST(SUM(CAST(FLOOR((x * x) * 1e2) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e2 AS sxx,
               CAST(SUM(g1) AS DOUBLE) AS n1,
               CAST(SUM(CAST(FLOOR((g1 * x) * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sx1,
               CAST(SUM(CAST(FLOOR((g1 * y) * 1e6) AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e6 AS sy1
        FROM per_cust
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(n1 AS BIGINT) AS n_treat,
           (sy1 / n1 - (sy - sy1) / (n - n1)) AS raw_diff,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
           ((sy1 / n1 - (n * sxy - sx * sy) / (n * sxx - sx * sx)
             * (sx1 / n1 - sx / n))
            - ((sy - sy1) / (n - n1)
               - (n * sxy - sx * sy) / (n * sxx - sx * sx)
               * ((sx - sx1) / (n - n1) - sx / n))) AS adjusted_diff
    FROM s
    """,
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B comparisons: the treatment-control
    gap in post-period revenue ({_KS_SEG_A} vs {_KS_SEG_B}, split at
    {_CUPED_SPLIT}) adjusted by the pre-period covariate via
    θ = cov(x,y)/var(x) — the standard experimentation trick that removes
    pre-existing between-customer variance from the effect estimate
    (ŷ = y − θ(x − x̄)). All sufficient statistics are decimal-exact
    sums converted once to double (the OLS pattern —
    ols_price_quantity_fit); zero-order customers stay in as x = y = 0.

    Scale: one LEFT join + per-customer conditional rollup (custkey
    shuffle), then a single scalar statistics aggregate.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(_CUPED_SPLIT).cast("date")
    dec0 = "decimal(38,0)"
    per_cust = (
        c.where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            "c_custkey",
            F.when(F.col("c_mktsegment") == _KS_SEG_A, 1).otherwise(0).alias("g1"),
        )
        .agg(
            # fsum rule (registry.fsum): totalprice carries IEEE noise
            # beyond 2dp, so the per-customer sums are floor-quantized
            # exact micro-units — bit-identical on both engines.
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") < split,
                            F.floor(F.col("o_totalprice") * F.lit(1e6)).cast(
                                dec0
                            ),
                        )
                    ),
                    F.lit(0),
                ).cast("double")
                / F.lit(1e6)
            ).alias("x"),
            (
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("o_orderdate") >= split,
                            F.floor(F.col("o_totalprice") * F.lit(1e6)).cast(
                                dec0
                            ),
                        )
                    ),
                    F.lit(0),
                ).cast("double")
                / F.lit(1e6)
            ).alias("y"),
        )
    )
    s = per_cust.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fsum(F.col("x"), "sx"),
        fsum(F.col("y"), "sy"),
        # grain 1e2 for the second moments: x·y reaches ~1e14 per row, so
        # micro-unit floors would overflow 64-bit; centi-units keep the
        # largest unit near 1e16 with ~1e-16 relative quantization.
        fsum(F.col("x") * F.col("y"), "sxy", grain=1e2),
        fsum(F.col("x") * F.col("x"), "sxx", grain=1e2),
        F.sum("g1").cast("double").alias("n1"),
        fsum(F.col("g1") * F.col("x"), "sx1"),
        fsum(F.col("g1") * F.col("y"), "sy1"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    n1, sx1, sy1 = F.col("n1"), F.col("sx1"), F.col("sy1")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    raw_diff = sy1 / n1 - (sy - sy1) / (n - n1)
    adj_treat = sy1 / n1 - theta * (sx1 / n1 - sx / n)
    adj_ctrl = (sy - sy1) / (n - n1) - theta * ((sx - sx1) / (n - n1) - sx / n)
    return s.select(
        n.cast("bigint").alias("n_customers"),
        n1.cast("bigint").alias("n_treat"),
        raw_diff.alias("raw_diff"),
        theta.alias("theta"),
        (adj_treat - adj_ctrl).alias("adjusted_diff"),
    )


# ---------------------------------------------------------------------------
# Trimmed mean via the exact value-histogram (robust location estimate)
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # percent trimmed from EACH tail


@query(
    "trimmed_mean_order_value",
    oracle=f"""
    WITH hist AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c AS cb,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ce,
               SUM(c) OVER () AS n
        FROM hist
    ),
    kept AS (
        -- keep the portion of each value's run inside rank interval
        -- (n*p, n*(100-p)]: integer cross-multiplied bounds, partial
        -- overlap handled by clipping the run's rank range.
        SELECT v,
               LEAST(ce * 100, n * {100 - _TRIM_PCT})
                 - GREATEST(cb * 100, n * {_TRIM_PCT}) AS w100
        FROM cum
        WHERE ce * 100 > n * {_TRIM_PCT}
          AND cb * 100 < n * {100 - _TRIM_PCT}
    )
    SELECT CAST(SUM(w100) / 100.0 AS DOUBLE) AS n_kept,
           (CAST(CAST(SUM(CAST(v * w100 AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
             / CAST(SUM(w100) AS BIGINT) AS trimmed_mean
    FROM kept
    """,
)
def trimmed_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_TRIM_PCT}%-trimmed mean of order values — the robust location
    estimate that survives heavy tails (robust_outlier_mad is the spread
    twin) — computed EXACTLY on the value histogram: each distinct
    value's run of ranks is clipped against the integer-cross-multiplied
    keep-interval (n·p, n·(100−p)], so fractional trim boundaries weight
    partial runs in hundredths without any sort of raw rows or floating
    rank arithmetic. The weighted sum rides the decimal accumulator.

    Scale: one map-side-combinable histogram aggregate, a distributed
    prefix-sum over the near-unique value grid (operators/prefix_sum.py —
    never a single-partition window), one scalar rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    hist = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = with_global_running(
        hist, [("v", True)], sums={"ce": "c"}, totals={"n": "c"},
        # generator price envelope — skips the min/max scan (a second
        # full orders pass)
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select("v", (F.col("ce") - F.col("c")).alias("cb"), "ce", "n")
    lo, hi = _TRIM_PCT, 100 - _TRIM_PCT
    kept = cum.where(
        (F.col("ce") * 100 > F.col("n") * lo)
        & (F.col("cb") * 100 < F.col("n") * hi)
    ).select(
        "v",
        (
            F.least(F.col("ce") * 100, F.col("n") * hi)
            - F.greatest(F.col("cb") * 100, F.col("n") * lo)
        ).alias("w100"),
    )
    return kept.agg(
        (F.sum("w100") / F.lit(100.0)).cast("double").alias("n_kept"),
        (
            descale6(F.sum((F.col("v") * F.col("w100")).cast("decimal(38,6)")))
            / F.sum("w100").cast("bigint")
        ).alias("trimmed_mean"),
    )


# ---------------------------------------------------------------------------
# Modularity of the LPA communities (clustering-quality evaluation)
# ---------------------------------------------------------------------------


@query(
    "lpa_modularity_score",
    oracle=f"""
    WITH {_PR_EDGES_CTE},
    edges AS (SELECT src AS u, dst AS v FROM e0),
    l0 AS (SELECT DISTINCT src AS u, src AS label FROM e0),
    {{lpa1}},
    {{lpa2}},
    t AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS td FROM edges),
    intra AS (
        SELECT la.label, CAST(COUNT(*) AS DECIMAL(38,0)) AS d_intra
        FROM edges e
        JOIN l2 la ON la.u = e.u
        JOIN l2 lb ON lb.u = e.v AND lb.label = la.label
        GROUP BY 1
    ),
    degs AS (
        SELECT l.label, CAST(SUM(d.deg) AS DECIMAL(38,0)) AS d_sum
        FROM deg d JOIN l2 l ON l.u = d.src
        GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(CAST(COALESCE(i.d_intra, 0) * t.td - d.d_sum * d.d_sum
                         AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(MAX(t.td * t.td) AS DOUBLE) AS modularity
    FROM degs d
    LEFT JOIN intra i ON i.label = d.label
    CROSS JOIN t
    """.format(
        lpa1=_lpa_round_sql("edges", "l0", "l1"),
        lpa2=_lpa_round_sql("edges", "l1", "l2"),
    ),
)
def lpa_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 2-round LPA partition — the
    clustering-quality number that says whether the communities
    (label_propagation_communities) are better than random:
    Q = Σ_c [ intra_c/T − (deg_c/T)² ] over directed counts, evaluated as
    the exact integer cross-multiplication Σ(intra_c·T − deg_c²)/T², so
    the score is engine-identical to the last bit before ONE double
    division. Q > 0 means real structure; Q near 0 flags a partition not
    worth deduplicating against.

    Scale: two LPA rounds (join-agg iterations), then two bounded
    aggregates over the edge list — the evaluation costs one extra edge
    join beyond the clustering itself.
    """
    edges = graph_common.copurchase_edges(spark, sf_dir, load=load_table).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    labels = _lpa_labels(edges, rounds=2)
    # Three downstream subtrees read the final labels (la, lb for the
    # intra-community edge count, plus the degree rollup) — without a
    # materialization each would re-execute both LPA join+window rounds
    # (the pagerank degree-table lesson, NOTES_BUILD r7b). |nodes|-sized.
    labels = labels.localCheckpoint(eager=False)
    t = edges.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("td"))
    la = labels.select(F.col("u"), F.col("label").alias("la"))
    lb = labels.select(F.col("u").alias("v"), F.col("label").alias("lb"))
    intra = (
        edges.join(la, "u")
        .join(lb, "v")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("d_intra"))
    )
    degs = (
        deg.join(labels.select(F.col("u").alias("node"), "label"), "node")
        .groupBy("label")
        .agg(F.sum("deg").cast("decimal(38,0)").alias("d_sum"))
    )
    joined = degs.join(intra, "label", "left").crossJoin(F.broadcast(t))
    num = F.sum(
        (
            F.coalesce(F.col("d_intra"), F.lit(0)) * F.col("td")
            - F.col("d_sum") * F.col("d_sum")
        ).cast("decimal(38,0)")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        (
            num.cast("double")
            / F.max(F.col("td") * F.col("td")).cast("double")
        ).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# Covariate balance check (standardized mean difference)
# ---------------------------------------------------------------------------


@query(
    "covariate_balance_smd",
    oracle=f"""
    WITH g AS (
        SELECT CASE WHEN c_mktsegment = '{_KS_SEG_A}' THEN 1 ELSE 0 END AS g1,
               CAST(c_acctbal AS DOUBLE) AS x
        FROM customer
        WHERE c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
    ),
    s AS (
        SELECT CAST(SUM(g1) AS DOUBLE) AS n1,
               CAST(SUM(1 - g1) AS DOUBLE) AS n2,
               (CAST(CAST(SUM(g1 * CAST(x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx1,
               (CAST(CAST(SUM((1 - g1) * CAST(x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx2,
               (CAST(CAST(SUM(g1 * CAST(x * x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx1,
               (CAST(CAST(SUM((1 - g1) * CAST(x * x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
                   AS sxx2
        FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_treat,
           CAST(n2 AS BIGINT) AS n_control,
           sx1 / n1 - sx2 / n2 AS mean_diff,
           (sx1 / n1 - sx2 / n2)
             / sqrt(((sxx1 / n1 - (sx1 / n1) * (sx1 / n1))
                     + (sxx2 / n2 - (sx2 / n2) * (sx2 / n2))) / 2) AS smd
    FROM s
    """,
)
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance diagnostic: the standardized mean difference of
    account balance between the two experiment segments — |SMD| < 0.1 is
    the conventional 'groups are comparable' bar checked BEFORE reading
    an A/B result (ab_conversion_ztest tests the outcome; this tests the
    assignment; cuped_adjusted_ab corrects what imbalance remains).
    Pooled-variance denominator from decimal-exact Σx and Σx² per group,
    one IEEE-correctly-rounded sqrt.

    Scale: a single conditional scalar aggregate over the scan.
    """
    c = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,6)"
    g = c.where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B)).select(
        F.when(F.col("c_mktsegment") == _KS_SEG_A, 1).otherwise(0).alias("g1"),
        F.col("c_acctbal").cast("double").alias("x"),
    )
    s = g.agg(
        F.sum("g1").cast("double").alias("n1"),
        F.sum(1 - F.col("g1")).cast("double").alias("n2"),
        descale6(F.sum((F.col("g1") * F.col("x")).cast(dec))).alias("sx1"),
        descale6(F.sum(((1 - F.col("g1")) * F.col("x")).cast(dec)))
        .alias("sx2"),
        descale6(F.sum((F.col("g1") * F.col("x") * F.col("x")).cast(dec)))
        .alias("sxx1"),
        descale6(F.sum(((1 - F.col("g1")) * F.col("x") * F.col("x")).cast(dec)))
        .alias("sxx2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2 = F.col("sx1") / n1, F.col("sx2") / n2
    v1 = F.col("sxx1") / n1 - m1 * m1
    v2 = F.col("sxx2") / n2 - m2 * m2
    return s.select(
        n1.cast("bigint").alias("n_treat"),
        n2.cast("bigint").alias("n_control"),
        (m1 - m2).alias("mean_diff"),
        ((m1 - m2) / F.sqrt((v1 + v2) / 2)).alias("smd"),
    )


# ---------------------------------------------------------------------------
# Discrete hazard table (actuarial life table on user lifetimes)
# ---------------------------------------------------------------------------


@query(
    "hazard_table_monthly",
    oracle="""
    WITH uw AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS first_m,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS last_m
        FROM orders GROUP BY 1
    ),
    lt AS (
        SELECT CAST((EXTRACT(year FROM last_m) - EXTRACT(year FROM first_m))
                    * 12 + (EXTRACT(month FROM last_m)
                            - EXTRACT(month FROM first_m)) AS BIGINT)
                   AS lifetime_m
        FROM uw
    ),
    hist AS (
        SELECT lifetime_m, CAST(COUNT(*) AS BIGINT) AS n_ended
        FROM lt GROUP BY 1
    ),
    cum AS (
        SELECT lifetime_m AS k, n_ended,
               SUM(n_ended) OVER (ORDER BY lifetime_m DESC
                                  ROWS UNBOUNDED PRECEDING) AS n_at_risk
        FROM hist
    )
    SELECT CAST(k AS INT) AS month_offset,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_ended,
           CAST(n_ended AS DOUBLE) / n_at_risk AS hazard
    FROM cum ORDER BY 1
    """,
)
def hazard_table_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete hazard (actuarial life) table on customer order-activity
    lifetimes: for each month offset k since a customer's first order
    month, how many customers were still at risk (lifetime >= k), how
    many ended exactly at k, and the discrete hazard rate — the
    survival-analysis primitive whose running product gives Kaplan-Meier
    (the product stays client-side: a sequential float product is the one
    shape the cross-engine determinism discipline forbids; every column
    here is exact integers plus one division per row). churn_label_table
    is the per-user classifier view of the same phenomenon.

    Scale: one per-customer min/max rollup, a lifetime histogram, and one
    reverse-cumulative window over the bounded month-offset grid (at-risk
    counts are a suffix sum of the histogram — no per-user windows).
    """
    o = load_table(spark, sf_dir, "orders")
    uw = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("first_m"),
        F.date_trunc("month", F.max("o_orderdate")).cast("date").alias("last_m"),
    )
    lt = uw.select(
        (
            (F.year("last_m") - F.year("first_m")) * 12
            + (F.month("last_m") - F.month("first_m"))
        )
        .cast("bigint")
        .alias("lifetime_m")
    )
    hist = lt.groupBy("lifetime_m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ended")
    )
    cum = with_global_running(
        hist, [("lifetime_m", False)], sums={"n_at_risk": "n_ended"},
        # dbgen calendar spans 1992-01..1998-08 → lifetimes ≤ 79 months;
        # skips the min/max scan (a full per-customer first/last pass)
        bounds=(0.0, 80.0),
    ).select(F.col("lifetime_m").alias("k"), "n_ended", "n_at_risk")
    return cum.select(
        F.col("k").cast("int").alias("month_offset"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        "n_ended",
        (F.col("n_ended").cast("double") / F.col("n_at_risk")).alias("hazard"),
    ).orderBy("month_offset")


# ---------------------------------------------------------------------------
# One-way ANOVA F (order value across all market segments)
# ---------------------------------------------------------------------------


@query(
    "anova_f_order_value",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per AS (
        SELECT seg,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM g GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(CAST(n AS DECIMAL(38,6))) AS DOUBLE) AS nt,
               CAST(SUM(CAST(sx AS DECIMAL(38,6))) AS DOUBLE) AS sxt,
               CAST(SUM(CAST(sxx AS DECIMAL(38,6))) AS DOUBLE) AS sxxt,
               CAST(COUNT(*) AS DOUBLE) AS k
        FROM per
    ),
    parts AS (
        SELECT t.k, t.nt,
               CAST(SUM(CAST(p.sx * p.sx / p.n AS DECIMAL(38,6))) AS DOUBLE)
                 - t.sxt * t.sxt / t.nt AS ssb,
               t.sxxt
                 - CAST(SUM(CAST(p.sx * p.sx / p.n AS DECIMAL(38,6)))
                        AS DOUBLE) AS ssw
        FROM per p CROSS JOIN tot t
        GROUP BY t.k, t.nt, t.sxt, t.sxxt
    )
    SELECT CAST(k AS INT) AS n_groups,
           CAST(nt AS BIGINT) AS n_rows,
           ssb, ssw,
           (ssb / (k - 1)) / (ssw / (nt - k)) AS f_stat
    FROM parts
    """,
)
def anova_f_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across ALL market segments: does order value differ
    by segment anywhere — the k-group generalization of the two-sample
    tests (KS/Mann-Whitney/z/SMD in this module). Between/within sums of
    squares come from per-group sufficient statistics (n, Σx, Σx²) — the
    same one-pass pattern as ols_price_quantity_fit — with every
    inter-group sum decimal-snapped so the k-row reduction is order-free;
    F is one fixed IEEE expression.

    Scale: one join + per-segment aggregate (map-side combinable), then a
    k-row reduction. No second scan, no window.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,6)"
    g = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("x")
    )
    per = g.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("n").cast(dec)).cast("double").alias("nt"),
        F.sum(F.col("sx").cast(dec)).cast("double").alias("sxt"),
        F.sum(F.col("sxx").cast(dec)).cast("double").alias("sxxt"),
        F.sum((F.col("sx") * F.col("sx") / F.col("n")).cast(dec))
        .cast("double")
        .alias("sq"),
    )
    k, nt = F.col("k"), F.col("nt")
    ssb = F.col("sq") - F.col("sxt") * F.col("sxt") / nt
    ssw = F.col("sxxt") - F.col("sq")
    return agg.select(
        k.cast("int").alias("n_groups"),
        nt.cast("bigint").alias("n_rows"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        ((ssb / (k - 1)) / (ssw / (nt - k))).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Cramér's V (association strength of segment × priority)
# ---------------------------------------------------------------------------


@query(
    "cramers_v_segment_priority",
    oracle="""
    WITH raw AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               CAST(COUNT(*) AS DOUBLE) AS obs
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ),
    cells AS (
        -- densify: zero cells contribute (0-E)^2/E and MUST be present
        SELECT s.seg, p.pri, COALESCE(r.obs, 0) AS obs
        FROM (SELECT DISTINCT seg FROM raw) s
        CROSS JOIN (SELECT DISTINCT pri FROM raw) p
        LEFT JOIN raw r ON r.seg = s.seg AND r.pri = p.pri
    ),
    rm AS (SELECT seg, (CAST(CAST(SUM(CAST(obs AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS rt
           FROM cells GROUP BY 1),
    cm AS (SELECT pri, (CAST(CAST(SUM(CAST(obs AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS ct
           FROM cells GROUP BY 1),
    tot AS (SELECT (CAST(CAST(SUM(CAST(obs AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS n,
                   CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
                   CAST(COUNT(DISTINCT pri) AS BIGINT) AS c
            FROM cells),
    chi AS (
        SELECT t.n, t.r, t.c,
               CAST(SUM(CAST((cl.obs - rm.rt * cm.ct / t.n)
                             * (cl.obs - rm.rt * cm.ct / t.n)
                             / (rm.rt * cm.ct / t.n) AS DECIMAL(38,12)))
                    AS DOUBLE) AS chi2
        FROM cells cl
        JOIN rm ON rm.seg = cl.seg
        JOIN cm ON cm.pri = cl.pri
        CROSS JOIN tot t
        GROUP BY t.n, t.r, t.c
    )
    SELECT CAST(r AS INT) AS n_rows_dim,
           CAST(c AS INT) AS n_cols_dim,
           chi2,
           sqrt(chi2 / (n * (LEAST(r, c) - 1))) AS cramers_v
    FROM chi
    """,
)
def cramers_v_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V for the (market segment × order priority) contingency
    table: the [0, 1]-normalized association strength that makes
    chi-square comparable across table shapes (chi_square_event_hour
    reports the raw statistic; V answers 'how strong', not just 'is
    there'). Per-cell chi² contributions are fixed IEEE expressions over
    exact counts, decimal-snapped before the cell-sum so the reduction is
    order-free; sqrt is IEEE-correctly-rounded.

    Scale: one join + contingency aggregate (bounded r×c cells), margins
    broadcast, scalar output.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    raw = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("obs"))
    )
    # densify: zero cells contribute (0-E)^2/E and MUST be present
    cells = (
        raw.select("seg")
        .distinct()
        .crossJoin(F.broadcast(raw.select("pri").distinct()))
        .join(raw, ["seg", "pri"], "left")
        .select("seg", "pri", F.coalesce("obs", F.lit(0.0)).alias("obs"))
    )
    dec = "decimal(38,6)"
    rm = cells.groupBy("seg").agg(
        descale6(F.sum(F.col("obs").cast(dec))).alias("rt")
    )
    cm = cells.groupBy("pri").agg(
        descale6(F.sum(F.col("obs").cast(dec))).alias("ct")
    )
    tot = cells.agg(
        descale6(F.sum(F.col("obs").cast(dec))).alias("n"),
        F.count_distinct("seg").cast("bigint").alias("r"),
        F.count_distinct("pri").cast("bigint").alias("c"),
    )
    expected = F.col("rt") * F.col("ct") / F.col("n")
    contrib = (F.col("obs") - expected) * (F.col("obs") - expected) / expected
    chi = (
        cells.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cm), "pri")
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "r", "c")
        .agg(
            F.sum(contrib.cast("decimal(38,12)")).cast("double").alias("chi2")
        )
    )
    return chi.select(
        F.col("r").cast("int").alias("n_rows_dim"),
        F.col("c").cast("int").alias("n_cols_dim"),
        "chi2",
        F.sqrt(
            F.col("chi2")
            / (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1))
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (doubled tie-averaged ranks — all-integer)
# ---------------------------------------------------------------------------


@query(
    "spearman_rho_qty_price",
    oracle="""
    WITH rows_ AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    rx AS (
        SELECT v AS x, 2 * cb + c + 1 AS r2 FROM (
            SELECT x AS v, CAST(COUNT(*) AS BIGINT) AS c,
                   SUM(COUNT(*)) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
                     - COUNT(*) AS cb
            FROM rows_ GROUP BY x
        ) t
    ),
    ry AS (
        SELECT v AS y, 2 * cb + c + 1 AS r2 FROM (
            SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c,
                   SUM(COUNT(*)) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING)
                     - COUNT(*) AS cb
            FROM rows_ GROUP BY y
        ) t
    ),
    paired AS (
        SELECT CAST(rx.r2 AS DECIMAL(38,0)) AS u,
               CAST(ry.r2 AS DECIMAL(38,0)) AS v
        FROM rows_ r JOIN rx ON rx.x = r.x JOIN ry ON ry.y = r.y
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(u) AS DOUBLE) AS su,
               CAST(SUM(v) AS DOUBLE) AS sv,
               CAST(SUM(u * v) AS DOUBLE) AS suv,
               CAST(SUM(u * u) AS DOUBLE) AS suu,
               CAST(SUM(v * v) AS DOUBLE) AS svv
        FROM paired
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           (n * suv - su * sv)
             / sqrt((n * suu - su * su) * (n * svv - sv * sv))
               AS spearman_rho
    FROM s
    """,
)
def spearman_rho_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price —
    the nonparametric complement to stats_correlation's Pearson (robust
    to outliers and any monotone transform). Tie-averaged ranks use the
    DOUBLED-rank trick (2·cb + c + 1 — the Mann-Whitney lesson: the
    average of a tied rank run stays an integer when doubled, and the
    factor 2 cancels in the correlation), assigned via histogram joins —
    no per-row sort, no row_number over raw data. Sufficient statistics
    are exact integer sums converted once to double.

    Scale: two value-histogram aggregates (map-side combinable), two
    shuffled joins re-attaching ranks on the value keys, one scalar
    statistics aggregate. The rank maps are distinct-value-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_ = li.select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"))

    def rank_map(df, col, bounds):
        hist = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        # Distributed prefix-sum: l_extendedprice is near-unique, so this
        # rank map is ≈|lineitem|-sized — a single-partition window here
        # would serialize the whole rank assignment. No materialize: the
        # recomputed branches are map-side-combinable scan+aggs, and the
        # r6 cache here measured ~0.4 s SLOWER cold (the InMemoryRelation
        # pin blocks AQE replanning downstream — see NOTES_BUILD r7b).
        # bounds = the generator value envelope — skips the min/max scan
        # (a THIRD lineitem pass per rank map without it).
        return with_global_running(
            hist, [("v", True)], sums={"ce": "c"}, bounds=bounds
        ).select(
            F.col("v").alias(col),
            (2 * (F.col("ce") - F.col("c")) + F.col("c") + 1)
            .cast("decimal(38,0)")
            .alias(f"r2_{col}"),
        )

    paired = (
        rows_.join(rank_map(rows_, "x", LINEITEM_QUANTITY_BOUNDS), "x")
        .join(rank_map(rows_, "y", LINEITEM_EXTPRICE_BOUNDS), "y")
        .select(F.col("r2_x").alias("u"), F.col("r2_y").alias("v"))
    )
    s = paired.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("u").cast("double").alias("su"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("u") * F.col("v")).cast("double").alias("suv"),
        F.sum(F.col("u") * F.col("u")).cast("double").alias("suu"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("svv"),
    )
    n, su, sv = F.col("n"), F.col("su"), F.col("sv")
    suv, suu, svv = F.col("suv"), F.col("suu"), F.col("svv")
    return s.select(
        n.cast("bigint").alias("n_rows"),
        (
            (n * suv - su * sv)
            / F.sqrt((n * suu - su * su) * (n * svv - sv * sv))
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Kendall's tau-b on the (quantity × price-decile) ordinal grid
# ---------------------------------------------------------------------------


@query(
    "kendall_tau_b_qty_price",
    oracle="""
    WITH rows_ AS (
        SELECT l_quantity AS x,
               CAST(NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                                    l_linenumber) AS INT) AS yb
        FROM lineitem
    ),
    cells AS (
        SELECT x, yb, CAST(COUNT(*) AS BIGINT) AS n FROM rows_ GROUP BY 1, 2
    ),
    conc AS (
        SELECT CAST(SUM(CAST(a.n AS DECIMAL(38,0)) * b.n) AS DECIMAL(38,0))
                   AS c
        FROM cells a JOIN cells b ON b.x > a.x AND b.yb > a.yb
    ),
    disc AS (
        SELECT CAST(SUM(CAST(a.n AS DECIMAL(38,0)) * b.n) AS DECIMAL(38,0))
                   AS d
        FROM cells a JOIN cells b ON b.x > a.x AND b.yb < a.yb
    ),
    marg AS (
        SELECT CAST(SUM(n) AS DECIMAL(38,0)) AS nt,
               CAST(SUM(CAST(rx AS DECIMAL(38,0)) * (rx - 1)) / 2
                    AS DECIMAL(38,0)) AS n1,
               CAST(SUM(CAST(ry AS DECIMAL(38,0)) * (ry - 1)) / 2
                    AS DECIMAL(38,0)) AS n2
        FROM (
            SELECT SUM(n) AS n, 0 AS rx, 0 AS ry FROM cells
            UNION ALL
            SELECT 0, SUM(n), 0 FROM cells GROUP BY x
            UNION ALL
            SELECT 0, 0, SUM(n) FROM cells GROUP BY yb
        ) u
    )
    SELECT CAST(m.nt AS BIGINT) AS n_rows,
           CAST(COALESCE(c.c, 0) AS DOUBLE) AS concordant,
           CAST(COALESCE(d.d, 0) AS DOUBLE) AS discordant,
           CAST(COALESCE(c.c, 0) - COALESCE(d.d, 0) AS DOUBLE)
             / sqrt(CAST(m.nt * (m.nt - 1) / 2 - m.n1 AS DOUBLE)
                    * CAST(m.nt * (m.nt - 1) / 2 - m.n2 AS DOUBLE))
               AS tau_b
    FROM conc c CROSS JOIN disc d CROSS JOIN marg m
    """,
)
def kendall_tau_b_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and price DECILE — computed on the
    bounded ordinal contingency grid instead of the O(n²) pair space:
    concordant/discordant pair counts are cell-product sums over the
    (|x-values| × 10)-cell grid (a few hundred cells regardless of row
    count — the only way Kendall scales to 100 TB), and the tie
    corrections n₁/n₂ come from the marginals. Every count is exact
    DECIMAL(38,0); one sqrt + one division at the end. Spearman
    (spearman_rho_qty_price) weights by rank distance; τ-b counts pure
    order agreement.

    Scale: the price decile is a distributed NTILE (bucketed prefix-sum,
    operators/prefix_sum.py — NOT an unpartitioned window, which would
    funnel all of lineitem through one task); the grid aggregate is
    map-side combinable; the cell self-joins are bounded-square (grid²,
    not rows²).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # with_global_ntile = distributed NTILE (bucketed prefix-sum row
    # numbers + the exact NTILE arithmetic) — this was the suite's worst
    # single-partition window (an unpartitioned sort of ALL of lineitem).
    rows_ = with_global_ntile(
        li.select("l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber"),
        [("l_extendedprice", True), ("l_orderkey", True), ("l_linenumber", True)],
        10,
        "yb",
        # generator price envelope — skips the min/max scan (a second
        # full lineitem pass)
        bounds=LINEITEM_EXTPRICE_BOUNDS,
    ).select(F.col("l_quantity").alias("x"), "yb")
    cells = rows_.groupBy("x", "yb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = cells.select(
        F.col("x").alias("ax"), F.col("yb").alias("ay"), F.col("n").alias("an")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("yb").alias("by"), F.col("n").alias("bn")
    )
    # The cell grid is (|x-values| × 10)-bounded — broadcast the inner side
    # so the inequality-only pair join plans as BroadcastNestedLoopJoin,
    # never CartesianProduct (post-r6 size estimates stopped auto-choosing
    # the broadcast).
    conc = (
        a.join(F.broadcast(b), (F.col("bx") > F.col("ax")) & (F.col("by") > F.col("ay")))
        .agg(
            F.sum(F.col("an").cast("decimal(38,0)") * F.col("bn"))
            .cast("decimal(38,0)")
            .alias("c")
        )
    )
    disc = (
        a.join(F.broadcast(b), (F.col("bx") > F.col("ax")) & (F.col("by") < F.col("ay")))
        .agg(
            F.sum(F.col("an").cast("decimal(38,0)") * F.col("bn"))
            .cast("decimal(38,0)")
            .alias("d")
        )
    )
    nt = cells.agg(F.sum("n").cast("decimal(38,0)").alias("nt"))
    n1 = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("rx"))
        .agg(
            (
                F.sum(F.col("rx").cast("decimal(38,0)") * (F.col("rx") - 1)) / 2
            )
            .cast("decimal(38,0)")
            .alias("n1")
        )
    )
    n2 = (
        cells.groupBy("yb")
        .agg(F.sum("n").alias("ry"))
        .agg(
            (
                F.sum(F.col("ry").cast("decimal(38,0)") * (F.col("ry") - 1)) / 2
            )
            .cast("decimal(38,0)")
            .alias("n2")
        )
    )
    joined = (
        conc.crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    n0 = F.col("nt") * (F.col("nt") - 1) / 2
    c0 = F.coalesce(F.col("c"), F.lit(0))
    d0 = F.coalesce(F.col("d"), F.lit(0))
    return joined.select(
        F.col("nt").cast("bigint").alias("n_rows"),
        c0.cast("double").alias("concordant"),
        d0.cast("double").alias("discordant"),
        (
            (c0 - d0).cast("double")
            / F.sqrt(
                (n0 - F.col("n1")).cast("double")
                * (n0 - F.col("n2")).cast("double")
            )
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Partial correlation (quantity ~ price, controlling for discount)
# ---------------------------------------------------------------------------


@query(
    "partial_correlation_qty_price",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx,
               (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
                   AS sy,
               (CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sz,
               (CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxy,
               (CAST(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxz,
               (CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS syz,
               (CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx,
               (CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS syy,
               (CAST(CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS szz
        FROM lineitem
    ),
    r AS (
        SELECT CAST(n AS BIGINT) AS n_rows,
               (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
               (n * sxz - sx * sz)
                 / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
               (n * syz - sy * sz)
                 / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
        FROM s
    )
    SELECT n_rows, rxy, rxz, ryz,
           CASE WHEN (1 - rxz * rxz) * (1 - ryz * ryz) > 0
                THEN (rxy - rxz * ryz)
                     / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) END
               AS partial_rxy_given_z
    FROM r
    """,
)
def partial_correlation_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price CONTROLLING for discount:
    r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the confounder
    check that separates a direct association from one routed through a
    third variable (stats_correlation reports the raw pairwise r's; this
    answers 'does the association survive the control'). All three
    Pearsons come from ONE scan of nine decimal-exact sufficient
    statistics; the partial is a fixed IEEE expression over them.

    Scale: a single scalar aggregate — the one-pass multi-moment pattern
    (ols_price_quantity_fit with one more variable).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,6)"
    x, y, z = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    def ds(c, a):
        return descale6(F.sum(c.cast(dec))).alias(a)

    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        ds(x, "sx"), ds(y, "sy"), ds(z, "sz"),
        ds(x * y, "sxy"), ds(x * z, "sxz"), ds(y * z, "syz"),
        ds(x * x, "sxx"), ds(y * y, "syy"), ds(z * z, "szz"),
    )
    n = F.col("n")

    def corr(sab, sa, sb, saa, sbb):
        return (n * sab - sa * sb) / F.sqrt(
            (n * saa - sa * sa) * (n * sbb - sb * sb)
        )

    rxy = corr(F.col("sxy"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"))
    rxz = corr(F.col("sxz"), F.col("sx"), F.col("sz"), F.col("sxx"), F.col("szz"))
    ryz = corr(F.col("syz"), F.col("sy"), F.col("sz"), F.col("syy"), F.col("szz"))
    r = s.select(
        n.cast("bigint").alias("n_rows"),
        rxy.alias("rxy"),
        rxz.alias("rxz"),
        ryz.alias("ryz"),
    )
    return r.select(
        "n_rows",
        "rxy",
        "rxz",
        "ryz",
        F.when(
            (1 - F.col("rxz") * F.col("rxz"))
            * (1 - F.col("ryz") * F.col("ryz"))
            > 0,
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(
                (1 - F.col("rxz") * F.col("rxz"))
                * (1 - F.col("ryz") * F.col("ryz"))
            ),
        ).alias("partial_rxy_given_z"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson statistic on daily-revenue trend residuals
# ---------------------------------------------------------------------------


@query(
    "durbin_watson_trend_residuals",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               (CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx,
               (CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sy,
               (CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxy,
               (CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx
        FROM daily
    ),
    resid AS (
        SELECT d.x,
               d.y - ((s.sy - (s.n * s.sxy - s.sx * s.sy)
                              / (s.n * s.sxx - s.sx * s.sx) * s.sx) / s.n
                      + (s.n * s.sxy - s.sx * s.sy)
                        / (s.n * s.sxx - s.sx * s.sx) * d.x) AS e
        FROM daily d CROSS JOIN s
    ),
    lagged AS (
        SELECT e, LAG(e) OVER (ORDER BY x) AS ep FROM resid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           (CAST(CAST(SUM(CAST((e - ep) * (e - ep) AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
             / (CAST(CAST(SUM(CAST(e * e AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS dw_stat
    FROM lagged
    """,
)
def durbin_watson_trend_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic on the daily-revenue
    linear-trend residuals: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² — near 2 means the
    trend fit left white noise, near 0 strong positive autocorrelation
    (a seasonal or regime component the model missed; the ACF query
    shows WHERE, this one-number test says WHETHER). The fit reuses the
    OLS sufficient-statistics closed form; residuals are per-row IEEE
    expressions; both quadratic sums ride the decimal accumulator
    (the lag numerator excludes the first day — standard DW).

    Scale: daily rollup, one broadcast of the 1-row statistics, one
    ordered window over the calendar-bounded grid.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,6)"
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(descale6(F.sum(F.col("o_totalprice").cast(dec))).alias("y"))
    s = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        descale6(F.sum(F.col("x").cast(dec))).alias("sx"),
        descale6(F.sum(F.col("y").cast(dec))).alias("sy"),
        descale6(F.sum((F.col("x") * F.col("y")).cast(dec))).alias("sxy"),
        descale6(F.sum((F.col("x").cast("decimal(38,0)") * F.col("x")).cast(dec)))
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    resid = daily.crossJoin(F.broadcast(s)).select(
        "x", (F.col("y") - (intercept + slope * F.col("x"))).alias("e")
    )
    lagged = with_global_shift(
        resid, [("x", True)], {"ep": ("e", 1)}, materialize="cache",
        # x = days since 1992-01-01 over the fixed dbgen calendar — skips
        # the min/max scan (a full orders scan + daily rollup pass)
        bounds=(
            0.0,
            ORDERDATE_EPOCH_DAY_BOUNDS[1] - ORDERDATE_EPOCH_DAY_BOUNDS[0],
        ),
    ).select(
        "e", "ep"
    )
    # BOTH quadratic sums go through the exact descale: the oracle's
    # numerator (line above: sql-descale form) and denominator both
    # two-round, and the r13 q1 find proved the direct DECIMAL→DOUBLE cast
    # diverges by one ulp past 2^53 units. Provably identical below 2^53
    # (test_descale_matches_single_rounding_below_2_53), so no tested SF
    # changes value. (r14, from ADVICE: the numerator had been left on the
    # direct cast when the denominator was converted.)
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (
            descale6(
                F.sum(
                    (
                        (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
                    ).cast(dec)
                )
            )
            / descale6(F.sum((F.col("e") * F.col("e")).cast(dec)))
        ).alias("dw_stat"),
    )


# ---------------------------------------------------------------------------
# McNemar paired test (conversion shift between periods)
# ---------------------------------------------------------------------------

_MCN_SPLIT = "1995-01-01"


@query(
    "mcnemar_conversion_shift",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(CASE WHEN o_orderdate < DATE '{_MCN_SPLIT}'
                        AND o_orderpriority = '1-URGENT'
                   THEN 1 ELSE 0 END) AS before_conv,
               MAX(CASE WHEN o_orderdate >= DATE '{_MCN_SPLIT}'
                        AND o_orderpriority = '1-URGENT'
                   THEN 1 ELSE 0 END) AS after_conv
        FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN before_conv = 1 AND after_conv = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS b_only_before,
           CAST(SUM(CASE WHEN before_conv = 0 AND after_conv = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS c_only_after,
           CAST(SUM(CASE WHEN before_conv = 1 AND after_conv = 0
                    THEN 1 ELSE 0 END)
                - SUM(CASE WHEN before_conv = 0 AND after_conv = 1
                      THEN 1 ELSE 0 END) AS DOUBLE)
             * CAST(SUM(CASE WHEN before_conv = 1 AND after_conv = 0
                        THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN before_conv = 0 AND after_conv = 1
                          THEN 1 ELSE 0 END) AS DOUBLE)
             / (SUM(CASE WHEN before_conv = 1 AND after_conv = 0
                    THEN 1 ELSE 0 END)
                + SUM(CASE WHEN before_conv = 0 AND after_conv = 1
                      THEN 1 ELSE 0 END)) AS mcnemar_chi2
    FROM per_cust
    """,
)
def mcnemar_conversion_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: did individual customers CHANGE their
    urgent-ordering behavior across the {_MCN_SPLIT} split? Only the
    discordant customers matter — b converted before-only, c after-only
    — and χ² = (b−c)²/(b+c); the concordant majority cancels out, which
    is exactly what the unpaired two-proportion z-test
    (ab_conversion_ztest) cannot do. All-integer inputs, one fixed IEEE
    expression.

    Scale: one conditional per-customer rollup (custkey shuffle) and a
    scalar aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(_MCN_SPLIT).cast("date")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    per_cust = o.groupBy("o_custkey").agg(
        F.max(
            F.when((F.col("o_orderdate") < split) & urgent, 1).otherwise(0)
        ).alias("before_conv"),
        F.max(
            F.when((F.col("o_orderdate") >= split) & urgent, 1).otherwise(0)
        ).alias("after_conv"),
    )
    b = F.sum(
        F.when((F.col("before_conv") == 1) & (F.col("after_conv") == 0), 1)
        .otherwise(0)
    )
    c = F.sum(
        F.when((F.col("before_conv") == 0) & (F.col("after_conv") == 1), 1)
        .otherwise(0)
    )
    return per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        b.cast("bigint").alias("b_only_before"),
        c.cast("bigint").alias("c_only_after"),
        ((b - c).cast("double") * (b - c).cast("double") / (b + c)).alias(
            "mcnemar_chi2"
        ),
    )


# ---------------------------------------------------------------------------
# Poisson rate-shift test per event type
# ---------------------------------------------------------------------------

_PRS_SPLIT = "2024-01-16"


@query(
    "poisson_rate_shift",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '{_PRS_SPLIT} 00:00:00'
                      THEN 1 END) AS BIGINT) AS k1,
           CAST(COUNT(CASE WHEN ts >= TIMESTAMP '{_PRS_SPLIT} 00:00:00'
                      THEN 1 END) AS BIGINT) AS k2,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '{_PRS_SPLIT} 00:00:00'
                      THEN 1 END)
                - COUNT(CASE WHEN ts >= TIMESTAMP '{_PRS_SPLIT} 00:00:00'
                        THEN 1 END) AS DOUBLE)
             / sqrt(CAST(COUNT(*) AS DOUBLE)) AS z_stat
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def poisson_rate_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-shift test per event type: under equal rates across
    two equal-length periods, k₁ − k₂ has variance k₁ + k₂, so
    z = (k₁−k₂)/√(k₁+k₂) flags types whose arrival rate changed — the
    count-data companion to the KS (values) and McNemar (paired flags)
    shift tests. All-integer counts, sqrt IEEE-exact.

    Scale: one conditional map-side-combinable aggregate over the scan.
    """
    e = load_table(spark, sf_dir, "events")
    split = F.lit(f"{_PRS_SPLIT} 00:00:00").cast("timestamp_ntz")
    k1 = F.count(F.when(F.col("ts") < split, 1))
    k2 = F.count(F.when(F.col("ts") >= split, 1))
    return (
        e.groupBy("event_type")
        .agg(
            k1.cast("bigint").alias("k1"),
            k2.cast("bigint").alias("k2"),
            (
                (k1 - k2).cast("double")
                / F.sqrt(F.count(F.lit(1)).cast("double"))
            ).alias("z_stat"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Chow test for a structural break in the revenue trend
# ---------------------------------------------------------------------------

_CHOW_SPLIT = "1995-06-01"


def _ols_ssr_sql(pred: str) -> str:
    """Per-segment sufficient statistics + SSR via the closed form
    SSR = Syy_c − slope·Sxy_c with centered moments from raw sums."""
    return f"""
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               (CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sx,
               (CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sy,
               (CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxy,
               (CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(38,0)) * x AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sxx,
               (CAST(CAST(SUM(CAST(y * y AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS syy
        FROM daily WHERE {pred}
    """


@query(
    "chow_test_revenue_break",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS y,
               CAST(o_orderdate AS DATE) < DATE '{_CHOW_SPLIT}' AS pre
        FROM orders GROUP BY 1, 3
    ),
    sp AS ({_ols_ssr_sql("TRUE")}),
    s1 AS ({_ols_ssr_sql("pre")}),
    s2 AS ({_ols_ssr_sql("NOT pre")}),
    ssr AS (
        SELECT
          (sp.syy - sp.sy * sp.sy / sp.n)
            - (sp.n * sp.sxy - sp.sx * sp.sy) / (sp.n * sp.sxx - sp.sx * sp.sx)
              * (sp.sxy - sp.sx * sp.sy / sp.n) AS ssr_p,
          (s1.syy - s1.sy * s1.sy / s1.n)
            - (s1.n * s1.sxy - s1.sx * s1.sy) / (s1.n * s1.sxx - s1.sx * s1.sx)
              * (s1.sxy - s1.sx * s1.sy / s1.n) AS ssr_1,
          (s2.syy - s2.sy * s2.sy / s2.n)
            - (s2.n * s2.sxy - s2.sx * s2.sy) / (s2.n * s2.sxx - s2.sx * s2.sx)
              * (s2.sxy - s2.sx * s2.sy / s2.n) AS ssr_2,
          sp.n AS nt
        FROM sp CROSS JOIN s1 CROSS JOIN s2
    )
    SELECT CAST(nt AS BIGINT) AS n_days,
           ssr_p, ssr_1 + ssr_2 AS ssr_split,
           CASE WHEN ssr_1 + ssr_2 > 0
                THEN ((ssr_p - ssr_1 - ssr_2) / 2)
                     / ((ssr_1 + ssr_2) / (nt - 4)) END AS chow_f
    FROM ssr
    """,
)
def chow_test_revenue_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue trend at
    {_CHOW_SPLIT}: F = ((SSRpooled − SSR₁ − SSR₂)/k)/((SSR₁+SSR₂)/(n−2k))
    with k = 2 line parameters — the FORMAL test for the break the CUSUM
    query locates (cusum_changepoint_daily_orders finds the argmax day;
    Chow says whether fitting two lines beats one). All three SSRs come
    from the same closed-form sufficient statistics as
    ols_price_quantity_fit, computed over pooled / pre / post slices of
    one daily rollup.

    Scale: one calendar-bounded daily aggregate scanned three times for
    the statistics (Spark collapses them under one job), all scalars.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,6)"
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x"),
        (F.col("o_orderdate").cast("date") < F.lit(_CHOW_SPLIT).cast("date")).alias(
            "pre"
        ),
    ).agg(descale6(F.sum(F.col("o_totalprice").cast(dec))).alias("y"))

    def stats(df):
        return df.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            descale6(F.sum(F.col("x").cast(dec))).alias("sx"),
            descale6(F.sum(F.col("y").cast(dec))).alias("sy"),
            descale6(F.sum((F.col("x") * F.col("y")).cast(dec))).alias("sxy"),
            descale6(F.sum((F.col("x").cast("decimal(38,0)") * F.col("x")).cast(dec)))
            .alias("sxx"),
            descale6(F.sum((F.col("y") * F.col("y")).cast(dec))).alias("syy"),
        )

    def ssr(prefix):
        n, sx, sy = (F.col(f"{prefix}n"), F.col(f"{prefix}sx"), F.col(f"{prefix}sy"))
        sxy, sxx, syy = (
            F.col(f"{prefix}sxy"),
            F.col(f"{prefix}sxx"),
            F.col(f"{prefix}syy"),
        )
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return (syy - sy * sy / n) - slope * (sxy - sx * sy / n)

    sp = stats(daily).select([F.col(c).alias(f"p_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")])
    s1 = stats(daily.where("pre")).select([F.col(c).alias(f"a_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")])
    s2 = stats(daily.where(~F.col("pre"))).select([F.col(c).alias(f"b_{c}") for c in ("n", "sx", "sy", "sxy", "sxx", "syy")])
    joined = sp.crossJoin(F.broadcast(s1)).crossJoin(F.broadcast(s2))
    ssr_p, ssr_1, ssr_2 = ssr("p_"), ssr("a_"), ssr("b_")
    return joined.select(
        F.col("p_n").cast("bigint").alias("n_days"),
        ssr_p.alias("ssr_p"),
        (ssr_1 + ssr_2).alias("ssr_split"),
        F.when(
            ssr_1 + ssr_2 > 0,
            ((ssr_p - ssr_1 - ssr_2) / 2)
            / ((ssr_1 + ssr_2) / (F.col("p_n") - 4)),
        ).alias("chow_f"),
    )


# ---------------------------------------------------------------------------
# Delete-one-group jackknife variance of the mean (deterministic resampling)
# ---------------------------------------------------------------------------

_JK_GROUPS = 10


@query(
    "jackknife_mean_variance",
    oracle=f"""
    WITH bucketed AS (
        SELECT (ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 256
                + ascii(substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)))
               % {_JK_GROUPS} AS g,
               o_totalprice AS v
        FROM orders
    ),
    per_g AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v AS DECIMAL(38,6))) AS s
        FROM bucketed GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nt,
               CAST(SUM(s) AS DECIMAL(38,6)) AS st,
               CAST(COUNT(*) AS BIGINT) AS gn
        FROM per_g
    ),
    loo AS (
        SELECT CAST(t.st - p.s AS DOUBLE) / (t.nt - p.n) AS theta_i,
               t.gn, t.nt, CAST(t.st AS DOUBLE) / t.nt AS theta_all
        FROM per_g p CROSS JOIN tot t
    ),
    tb AS (
        SELECT (CAST(CAST(SUM(CAST(theta_i AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
                 / MAX(gn) AS theta_bar
        FROM loo
    )
    SELECT CAST(MAX(l.gn) AS BIGINT) AS n_groups,
           CAST(MAX(l.nt) AS BIGINT) AS n_rows,
           MAX(l.theta_all) AS mean_estimate,
           sqrt((MAX(l.gn) - 1.0) / MAX(l.gn)
                * (CAST(CAST(SUM(CAST((l.theta_i - t.theta_bar)
                                * (l.theta_i - t.theta_bar)
                                AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6))
               AS jackknife_se
    FROM loo l CROSS JOIN tb t
    GROUP BY t.theta_bar
    """,
)
def jackknife_mean_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of the mean order value —
    the DETERMINISTIC resampling method (md5 buckets replace random
    resamples, so the estimate is reproducible and cross-engine
    checkable, unlike a bootstrap): θᵢ are the leave-one-bucket-out
    means, SE = √((g−1)/g · Σ(θᵢ − θ̄)²). Leave-one-out means come from
    EXACT per-bucket decimal sums (no recomputation per replicate — the
    whole jackknife is one rollup plus algebra); the deviation sum rides
    the decimal accumulator.

    Scale: one hash-bucket rollup (map-side combinable to g rows) — the
    jackknife over a 100 TB table costs exactly one aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    h = F.md5(F.col("o_orderkey").cast("string"))
    g = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % _JK_GROUPS
    per_g = o.groupBy(g.alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("s"),
    )
    tot = per_g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s").cast("decimal(38,6)").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("gn"),
    )
    loo = per_g.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")).cast("double") / (F.col("nt") - F.col("n"))).alias(
            "theta_i"
        ),
        "gn",
        "nt",
        (F.col("st").cast("double") / F.col("nt")).alias("theta_all"),
    )
    tb = loo.agg(
        (
            descale6(F.sum(F.col("theta_i").cast("decimal(38,6)")))
            / F.max("gn")
        ).alias("theta_bar")
    )
    gn = F.max("gn")
    dev2 = descale6(F.sum(
        (
            (F.col("theta_i") - F.col("theta_bar"))
            * (F.col("theta_i") - F.col("theta_bar"))
        ).cast("decimal(38,6)")
    ))
    return (
        loo.crossJoin(F.broadcast(tb))
        .groupBy("theta_bar")
        .agg(
            gn.cast("bigint").alias("n_groups"),
            F.max("nt").cast("bigint").alias("n_rows"),
            F.max("theta_all").alias("mean_estimate"),
            F.sqrt((gn - F.lit(1.0)) / gn * dev2).alias("jackknife_se"),
        )
        .drop("theta_bar")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend estimator (median of pairwise slopes)
# ---------------------------------------------------------------------------


@query(
    "theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS m
        FROM daily a JOIN daily b ON b.x > a.x
    ),
    hist AS (SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS c FROM slopes GROUP BY 1),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pairs,
           MIN(CASE WHEN 2 * cum >= n THEN v END) AS theil_sen_slope
    FROM cum
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of the
    daily-revenue series — the breakdown-resistant alternative to the
    OLS slope (ols_revenue_trend_by_priority): up to 29% of days can be
    corrupted (outages, flash sales) without moving the estimate. Each
    pairwise slope is one IEEE division of decimal-exact day revenues;
    the median is a prefix-sum over the raw slopes with unit weights:
    the running count crosses n/2 at the same slope VALUE as the oracle's
    value-histogram count (identical doubles sort identically on both
    engines, and the 2·cum ≥ n threshold is an integer comparison).

    Folding the slope histogram into the prefix-sum won interleaved
    A/Bs at sf1 and sf0.1 (AB_r15_theilsen_sf1.json: median 3.14 vs
    4.50 s; AB_r15_theilsen_sf01.json: 6.26 vs 8.88 s): the histogram
    barely dedups (2.9M → 2.4M slope values at sf0.1), so its groupBy
    exchange and cache cost more than the 17% of window rows they save.

    Scale: the pair join is CALENDAR²-bounded (days², never rows²) — the
    only reason Theil-Sen is computable at 100 TB is running it on the
    pre-aggregated grid, which also bounds the median's prefix-sum.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        )
        .cast("bigint")
        .alias("x")
    ).agg(
        descale6(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))).alias("y")
    )
    a = daily.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = daily.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    slopes = a.join(b, F.col("bx") > F.col("ax")).select(
        ((F.col("by") - F.col("ay")) / (F.col("bx") - F.col("ax"))).alias("m")
    )
    cum = with_global_running(
        slopes.select(F.col("m").alias("v")),
        [("v", True)],
        sums={"cum": F.lit(1)},
        totals={"n": F.lit(1)},
        materialize="localCheckpoint",
    ).select("v", "cum", "n")
    return cum.agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v"))).alias(
            "theil_sen_slope"
        ),
    )


# ---------------------------------------------------------------------------
# Winsorized mean (clamp the tails at the exact percentile boundary values)
# ---------------------------------------------------------------------------


@query(
    "winsorized_mean_order_value",
    oracle=f"""
    WITH hist AS (
        SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ce,
               SUM(c) OVER () AS n
        FROM hist
    ),
    bounds AS (
        SELECT MIN(CASE WHEN ce * 100 >= n * {_TRIM_PCT} THEN v END) AS lo,
               MIN(CASE WHEN ce * 100 >= n * {100 - _TRIM_PCT} THEN v END)
                   AS hi
        FROM cum
    )
    SELECT CAST(MAX(c.n) AS BIGINT) AS n_rows,
           MAX(b.lo) AS lo_bound,
           MAX(b.hi) AS hi_bound,
           (CAST(CAST(SUM(CAST(GREATEST(LEAST(c.v, b.hi), b.lo) * c.c
                         AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
             / CAST(MAX(c.n) AS BIGINT) AS winsorized_mean
    FROM cum c CROSS JOIN bounds b
    """,
)
def winsorized_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_TRIM_PCT}%-winsorized mean of order values: tail values are
    CLAMPED to the exact p{_TRIM_PCT}/p{100 - _TRIM_PCT} boundary values
    instead of dropped (trimmed_mean_order_value's sibling — winsorizing
    keeps n constant, which matters when the mean feeds a ratio). The
    boundaries come from the value histogram via integer
    cross-multiplied thresholds; the clamped weighted sum rides the
    decimal accumulator.

    Scale: the same one-histogram shape as the trimmed mean — no raw-row
    sort, everything bounded by the distinct-value grid.
    """
    o = load_table(spark, sf_dir, "orders")
    hist = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cum = with_global_running(
        hist, [("v", True)], sums={"ce": "c"}, totals={"n": "c"},
        # generator price envelope — skips the min/max scan (a second
        # full orders pass)
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select("v", "c", "ce", "n")
    bounds = cum.agg(
        F.min(
            F.when(F.col("ce") * 100 >= F.col("n") * _TRIM_PCT, F.col("v"))
        ).alias("lo"),
        F.min(
            F.when(
                F.col("ce") * 100 >= F.col("n") * (100 - _TRIM_PCT), F.col("v")
            )
        ).alias("hi"),
    )
    clamped = F.greatest(F.least(F.col("v"), F.col("hi")), F.col("lo"))
    return (
        cum.crossJoin(F.broadcast(bounds))
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            F.max("lo").alias("lo_bound"),
            F.max("hi").alias("hi_bound"),
            (
                descale6(F.sum((clamped * F.col("c")).cast("decimal(38,6)")))
                / F.max("n").cast("bigint")
            ).alias("winsorized_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-equality test (median-based Levene)
# ---------------------------------------------------------------------------


@query(
    "brown_forsythe_variance_test",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment AS seg,
               CAST(o.o_totalprice AS DECIMAL(12,2)) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    hist AS (
        SELECT seg, x AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM g GROUP BY 1, 2
    ),
    cum AS (
        SELECT seg, v, c,
               SUM(c) OVER (PARTITION BY seg ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS ce,
               SUM(c) OVER (PARTITION BY seg) AS n
        FROM hist
    ),
    med AS (
        SELECT seg, MIN(CASE WHEN 2 * ce >= n THEN v END) AS m
        FROM cum GROUP BY 1
    ),
    dev AS (
        SELECT g.seg, ABS(g.x - med.m) AS d
        FROM g JOIN med ON med.seg = g.seg
    ),
    per AS (
        SELECT seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(d AS DECIMAL(20,2))) AS DECIMAL(38,2)) AS sd,
               CAST(SUM(CAST(d * d AS DECIMAL(30,4))) AS DECIMAL(38,4)) AS sdd
        FROM dev GROUP BY 1
    ),
    perd AS (
        SELECT seg, n, sd, sdd,
               CAST(sd AS DOUBLE) AS sd_d
        FROM per
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(SUM(n) AS DOUBLE) AS nt,
               CAST(CAST(SUM(sd) AS DECIMAL(38,2)) AS DOUBLE) AS sdt,
               CAST(CAST(FLOOR(CAST(SUM(sdd) AS DECIMAL(38,4))) AS BIGINT)
                    AS DOUBLE)
                 + CAST(CAST(SUM(sdd) - FLOOR(SUM(sdd)) AS DECIMAL(5,4))
                        AS DOUBLE) AS sddt,
               list_reduce(LIST(sd_d * sd_d / n ORDER BY seg),
                           (a, b) -> a + b) AS sq
        FROM perd
    )
    SELECT CAST(k AS INT) AS n_groups,
           CAST(nt AS BIGINT) AS n_rows,
           ((sq - sdt * sdt / nt) / (k - 1))
             / ((sddt - sq) / (nt - k)) AS bf_stat
    FROM agg
    """,
)
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equal variances across market segments —
    the robust (median-centered) Levene statistic that validates the
    homoscedasticity assumption BEFORE reading anova_f_order_value's F:
    a one-way ANOVA on the absolute deviations from each group's EXACT
    median (per-group value-histogram median, the 2·cum ≥ n threshold),
    using the same sufficient-statistics SSB/SSW closed form.

    Cross-engine bit-exactness (the ewma_daily_revenue lesson applied):
    deviations are computed in EXACT decimal (money is decimal(12,2); the
    double→decimal(12,2) cast of a 2-decimal value is unambiguous — the
    value sits within double-error of a grid point, never near a half-
    grain boundary), so d and d² carry no float entropy into the per-row
    casts (the old d²→decimal(38,6) cast of a full-entropy double rounded
    differently in Spark vs DuckDB ~once per 20k rows) and every sum up
    to the 5-group totals is exact decimal arithmetic. The totals then
    convert to double portably: a decimal→double cast agrees across
    engines only while the integer scale-units fit in 2^53 (DuckDB
    converts int128→double, then divides by 10^scale — two roundings),
    so Σd (scale 2, ≤2^53 units through sf1) casts directly while Σd²
    (scale 4, ~3e18 units at sf0.01) is split into FLOOR (exact bigint →
    exact double) + fraction (≤9999 scale-units → one correctly-rounded
    division in both engines) and re-added in IEEE. The one float-valued
    rollup, sq = Σ_g sd_g²/n_g, is a LEFT FOLD IN SEGMENT ORDER over the
    5 per-group doubles (array_sort+aggregate here, LIST(… ORDER BY
    seg)+list_reduce in DuckDB) — the double→decimal snap the old rollup
    used is itself non-portable at this magnitude (DuckDB computes
    value·10^scale in DOUBLE arithmetic before truncating, mangling the
    low bits of any double above 2^53/10^scale).

    Scale: per-group value histograms (map-side combinable), a
    |groups|-row median table broadcast into the deviation projection,
    one statistics rollup. Two scans of the joined fact, zero windows
    over raw rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    g = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("x"),
    )
    hist = g.groupBy("seg", F.col("x").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cc")
    )
    # Per-segment prefix-sum: a Window.partitionBy("seg") over the
    # near-unique value histogram caps parallelism at |segments| (5) with
    # ≈|orders|/5 rows per task; the partitioned prefix-sum keeps the sort
    # bucket-parallel WITHIN each segment.
    cum = with_global_running(
        hist,
        [("v", True)],
        sums={"ce": "cc"},
        totals={"n": "cc"},
        partition_by=["seg"],
        # r15: v is o_totalprice — the generator-spec envelope replaces the
        # per-segment min/max groupBy + broadcast join-back (bounds= now
        # composes with partition_by; load balance only, never values).
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select("seg", "v", "ce", "n")
    med = cum.groupBy("seg").agg(
        F.min(F.when(2 * F.col("ce") >= F.col("n"), F.col("v"))).alias("m")
    )
    dev = g.join(F.broadcast(med), "seg").select(
        "seg", F.abs(F.col("x") - F.col("m")).alias("d")
    )
    per = dev.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("d").cast("decimal(20,2)")).cast("decimal(38,2)").alias("sd"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(30,4)"))
        .cast("decimal(38,4)")
        .alias("sdd"),
    )
    sddt_dec = F.sum("sdd").cast("decimal(38,4)")
    agg = per.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("nt"),
        F.sum("sd").cast("decimal(38,2)").cast("double").alias("sdt"),
        (
            F.floor(sddt_dec).cast("bigint").cast("double")
            + (sddt_dec - F.floor(sddt_dec)).cast("decimal(5,4)").cast("double")
        ).alias("sddt"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seg"),
                        (
                            F.col("sd").cast("double")
                            * F.col("sd").cast("double")
                            / F.col("n")
                        ).alias("q"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["q"],
        ).alias("sq"),
    )
    k, nt = F.col("k"), F.col("nt")
    ssb = F.col("sq") - F.col("sdt") * F.col("sdt") / nt
    ssw = F.col("sddt") - F.col("sq")
    return agg.select(
        k.cast("int").alias("n_groups"),
        nt.cast("bigint").alias("n_rows"),
        ((ssb / (k - 1)) / (ssw / (nt - k))).alias("bf_stat"),
    )


# ---------------------------------------------------------------------------
# Isotonic regression calibration (pool-adjacent-violators via minimax)
# ---------------------------------------------------------------------------

_ISO_BAND = 20000.0  # order-price calibration band width

_ISO_ORACLE = f"""
WITH b AS (
    SELECT CAST(FLOOR(o_totalprice / {_ISO_BAND}) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS g
    FROM orders GROUP BY 1
),
spans AS (
    SELECT j.bucket AS jb, k.bucket AS kb,
           CAST(SUM(m.g) AS BIGINT) AS sg,
           CAST(SUM(m.n) AS BIGINT) AS sn
    FROM b j
    JOIN b k ON k.bucket >= j.bucket
    JOIN b m ON m.bucket BETWEEN j.bucket AND k.bucket
    GROUP BY 1, 2
),
mins AS (
    SELECT jb, MIN(CAST(sg AS DOUBLE) / CAST(sn AS DOUBLE)) AS mn
    FROM spans GROUP BY jb
),
iso AS (
    SELECT i.bucket, MAX(m.mn) AS rate_isotonic
    FROM b i JOIN mins m ON m.jb <= i.bucket
    GROUP BY i.bucket
)
SELECT b.bucket, b.n AS n_orders, b.g AS n_finished,
       CAST(b.g AS DOUBLE) / CAST(b.n AS DOUBLE) AS rate_observed,
       iso.rate_isotonic
FROM b JOIN iso ON iso.bucket = b.bucket
ORDER BY b.bucket
"""


@query("isotonic_calibration_fit", oracle=_ISO_ORACLE)
def isotonic_calibration_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression calibration: fit the best monotone
    NON-DECREASING rate curve (least squares, count-weighted) to the
    per-price-band fulfilled-order rate — the calibration step behind
    reliability diagrams and isotonic probability calibration (Zadrozny &
    Elkan, KDD 2002). Computed by the closed-form minimax characterization
    of pool-adjacent-violators: iso(i) = max_(j<=i) min_(k>=j)
    pooledRate(j..k) — mathematically identical to running PAVA, but
    expressible as joins + aggregates with no sequential pooling loop.

    Determinism: every pooled rate is ONE correctly-rounded IEEE division
    of two exact integer sums (counts < 2^53), and min/max over
    bit-identical doubles is engine-independent — no decimal snapping
    needed anywhere.

    Scale: the raw->bucket aggregation is the only data-sized stage (one
    map-side-combinable shuffle); the minimax runs on the B-bucket table
    where B is DOMAIN-bounded (price range / band width, ~25), so the
    O(B^3) span expansion is constant work on dimension-sized data and
    every join below the bucket aggregate is a broadcast. At 100 TB the
    plan shape is unchanged: bucket counts shrink the data before any
    pairwise work.
    """
    o = load_table(spark, sf_dir, "orders")
    b = (
        o.groupBy(
            F.floor(F.col("o_totalprice") / F.lit(_ISO_BAND))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    j = b.select(F.col("bucket").alias("jb"))
    k = b.select(F.col("bucket").alias("kb"))
    m = b.select(
        F.col("bucket").alias("mb"), F.col("n").alias("mn_"), F.col("g").alias("mg")
    )
    spans = (
        j.join(F.broadcast(k), F.col("kb") >= F.col("jb"))
        .join(
            F.broadcast(m),
            (F.col("mb") >= F.col("jb")) & (F.col("mb") <= F.col("kb")),
        )
        .groupBy("jb", "kb")
        .agg(
            F.sum("mg").cast("bigint").alias("sg"),
            F.sum("mn_").cast("bigint").alias("sn"),
        )
    )
    mins = spans.groupBy("jb").agg(
        F.min(F.col("sg").cast("double") / F.col("sn").cast("double")).alias(
            "mn"
        )
    )
    iso = (
        b.select("bucket")
        .join(F.broadcast(mins), F.col("jb") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.max("mn").alias("rate_isotonic"))
    )
    return (
        b.join(iso, "bucket")
        .select(
            "bucket",
            F.col("n").alias("n_orders"),
            F.col("g").alias("n_finished"),
            (F.col("g").cast("double") / F.col("n").cast("double")).alias(
                "rate_observed"
            ),
            "rate_isotonic",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction calibration (distribution-free intervals)
# ---------------------------------------------------------------------------

# alpha = 1/10 (90% target coverage); the conformal rank k = ceil(9(n+1)/10)
# is computed in pure integers so no engine ever sees a float boundary.

_CONF_ORACLE = f"""
WITH splits AS (
    SELECT o_orderpriority AS grp, o_orderkey, o_totalprice,
           o_orderkey % 3 AS part
    FROM orders
),
model AS (
    SELECT grp, {sql_davg('o_totalprice', 'pred')}
    FROM splits WHERE part = 0 GROUP BY grp
),
cal AS (
    SELECT s.grp, s.o_orderkey, ABS(s.o_totalprice - m.pred) AS score
    FROM splits s JOIN model m ON m.grp = s.grp
    WHERE s.part = 1
),
cal_n AS (
    SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_cal,
           CAST(LEAST((9 * (COUNT(*) + 1) + 9) // 10, COUNT(*)) AS BIGINT) AS k
    FROM cal GROUP BY grp
),
qhat AS (
    SELECT r.grp, n.n_cal, n.k, r.score AS qhat
    FROM (
        SELECT grp, score,
               ROW_NUMBER() OVER (
                   PARTITION BY grp ORDER BY score, o_orderkey) AS rk
        FROM cal
    ) r
    JOIN cal_n n ON n.grp = r.grp AND r.rk = n.k
),
test AS (
    SELECT s.grp, s.o_totalprice, m.pred
    FROM splits s JOIN model m ON m.grp = s.grp
    WHERE s.part = 2
)
SELECT t.grp AS o_orderpriority, q.n_cal, q.k, q.qhat,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN ABS(t.o_totalprice - t.pred) <= q.qhat
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(SUM(CASE WHEN ABS(t.o_totalprice - t.pred) <= q.qhat
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS coverage
FROM test t JOIN qhat q ON q.grp = t.grp
GROUP BY 1, 2, 3, 4
ORDER BY 1
"""


@query("conformal_interval_calibration", oracle=_CONF_ORACLE)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Vovk's inductive conformal; Lei et al.,
    JASA 2018): a deterministic 3-way key split (train/calibration/test by
    o_orderkey mod 3), a train-split group-mean point predictor, absolute
    residuals as nonconformity scores, and the finite-sample-valid
    conformal quantile q̂ = the k-th smallest calibration score with
    k = ceil((n_cal+1)(1-alpha)) — then the TEST-split empirical coverage
    of the interval pred ± q̂, per order-priority group. This is the
    distribution-free uncertainty-calibration step modern ML pipelines
    bolt onto any point model; coverage ≈ 90% certifies the guarantee.

    Determinism: the predictor is the exact-decimal mean (dsum/COUNT —
    one correctly-rounded division); residual/abs/compare are identical
    IEEE ops on identical operands; k is computed in pure integers
    (ceil(9(n+1)/10) = (9(n+1)+9) div 10 — no float near the rank
    boundary); q̂ is an order STATISTIC (a data value, never an
    interpolated quantile), selected by a (score, orderkey) total order.

    Scale: two shuffles — one group-mean over the train split (map-side
    combinable, 5 rows out) and one per-group rank window over the
    calibration split; the model and q̂ tables are group-sized broadcasts
    into the test scan. No driver-side state; split predicates push to
    the parquet scan.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 3).alias("part"),
    )
    model = (
        o.where(F.col("part") == 0)
        .groupBy("grp")
        .agg(davg("o_totalprice", "pred"))
    )
    cal = (
        o.where(F.col("part") == 1)
        .join(F.broadcast(model), "grp")
        .select(
            "grp",
            "o_orderkey",
            F.abs(F.col("o_totalprice") - F.col("pred")).alias("score"),
        )
    )
    # k clamped to n_cal (the standard q̂ = max-score fallback): without
    # the clamp any group with n_cal < 18 has k > n_cal, the rk = k join
    # matches nothing, and the group silently vanishes from the report.
    cal_n = cal.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr(
            "CAST(LEAST((9 * (COUNT(1) + 1) + 9) DIV 10, COUNT(1)) AS BIGINT)"
        ).alias("k"),
    )
    w = Window.partitionBy("grp").orderBy("score", "o_orderkey")
    qhat = (
        cal.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(cal_n), "grp")
        .where(F.col("rk") == F.col("k"))
        .select("grp", "n_cal", "k", F.col("score").alias("qhat"))
    )
    test = o.where(F.col("part") == 2).join(F.broadcast(model), "grp")
    covered = F.sum(
        F.when(
            F.abs(F.col("o_totalprice") - F.col("pred")) <= F.col("qhat"),
            1,
        ).otherwise(0)
    ).cast("bigint")
    return (
        test.join(F.broadcast(qhat), "grp")
        .groupBy(
            F.col("grp").alias("o_orderpriority"), "n_cal", "k", "qhat"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            covered.alias("n_covered"),
            (
                covered.cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("coverage"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (the scalable bootstrap)
# ---------------------------------------------------------------------------

_PB_REPS = 32
# Poisson(1) inverse-CDF thresholds in 65536ths: k = #{thresholds < k4}.
# Exact integer comparisons — zero float risk in the resample weights.
_PB_TH = (24109, 48218, 60273, 64291, 65296, 65497, 65530)


def _pb_hexval_sql(h: str, i: int) -> str:
    a = f"ascii(substr({h}, {i}, 1))"
    return f"({a} - 48 - CASE WHEN {a} >= 97 THEN 39 ELSE 0 END)"


_PB_K4_SQL = (
    "((("
    + _pb_hexval_sql("h", 1)
    + " * 16 + "
    + _pb_hexval_sql("h", 2)
    + ") * 16 + "
    + _pb_hexval_sql("h", 3)
    + ") * 16 + "
    + _pb_hexval_sql("h", 4)
    + ")"
)

_PB_K_SQL = (
    "(CASE "
    + " ".join(
        f"WHEN k4 < {t} THEN {i}" for i, t in enumerate(_PB_TH)
    )
    + " ELSE 7 END)"
)

_PB_ORACLE = f"""
WITH reps AS (SELECT unnest(range(0, {_PB_REPS})) AS rep),
w AS (
    SELECT o.o_orderpriority AS grp, o.o_totalprice AS y, r.rep,
           {_PB_K_SQL.replace("k4", _PB_K4_SQL.replace("h", "md5(CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR))"))} AS k
    FROM orders o CROSS JOIN reps r
),
rm AS (
    SELECT grp, rep,
           {sql_fsum("k * y", "num", "1e2")},
           CAST(SUM(k) AS BIGINT) AS den
    FROM w GROUP BY 1, 2
),
rk AS (
    SELECT grp, num / den AS m,
           ROW_NUMBER() OVER (
               PARTITION BY grp ORDER BY num / den ASC, rep ASC
           ) AS r
    FROM rm
),
full_ AS (
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_davg("o_totalprice", "mean_value")}
    FROM orders GROUP BY 1
)
SELECT f.grp AS o_orderpriority, f.n_orders, f.mean_value,
       MIN(CASE WHEN rk.r = 2 THEN rk.m END) AS boot_lo,
       MIN(CASE WHEN rk.r = {_PB_REPS - 1} THEN rk.m END) AS boot_hi
FROM full_ f JOIN rk ON rk.grp = f.grp
GROUP BY 1, 2, 3
ORDER BY 1
"""


@query("poisson_bootstrap_ci", oracle=_PB_ORACLE)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for per-priority mean order value — THE
    bootstrap that scales: instead of resampling n rows with replacement
    (which needs global coordination), each row independently receives a
    Poisson(1) weight per replicate, so the whole resample is one
    map-side expression and the {_PB_REPS} replicate means are one
    aggregate (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012). The interval is the 2nd/31st order statistic
    of the replicate means (~93.75% coverage).

    Determinism: the Poisson weight is an integer inverse-CDF lookup on a
    16-bit value built from md5 hex NIBBLES — pure integer comparisons
    against frozen thresholds, zero float in the resampling; replicate
    means are floor-quantized weighted sums over exact integers with one
    division chain mirrored verbatim in the oracle; the order statistics
    carry a replicate-id tiebreak.

    Scale: the fan-out is a constant {_PB_REPS}× of the fact table
    feeding ONE map-side-combinable groupBy — no shuffle grows with
    replicate count beyond that constant, no driver-side state. At 100 TB
    the replicate dimension rides the same scan.
    """
    o = load_table(spark, sf_dir, "orders")
    reps = spark.range(_PB_REPS).select(F.col("id").cast("int").alias("rep"))
    h = F.md5(
        F.concat_ws(":", F.col("o_orderkey").cast("string"), F.col("rep").cast("string"))
    )

    def hexval(i: int):
        a = F.ascii(F.substring(h, i, 1))
        return a - 48 - F.when(a >= 97, 39).otherwise(0)

    k4 = ((hexval(1) * 16 + hexval(2)) * 16 + hexval(3)) * 16 + hexval(4)
    k = F.lit(7)
    for i in range(len(_PB_TH) - 1, -1, -1):
        k = F.when(k4 < _PB_TH[i], i).otherwise(k)
    w = o.crossJoin(F.broadcast(reps)).select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("y"),
        "rep",
        k.alias("k"),
    )
    rm = w.groupBy("grp", "rep").agg(
        fsum(F.col("k") * F.col("y"), "num", 1e2),
        F.sum("k").cast("bigint").alias("den"),
    )
    win = Window.partitionBy("grp").orderBy(
        (F.col("num") / F.col("den")).asc(), F.col("rep").asc()
    )
    rk = rm.select(
        "grp",
        (F.col("num") / F.col("den")).alias("m"),
        F.row_number().over(win).alias("r"),
    )
    full = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        davg("o_totalprice", "mean_value"),
    )
    return (
        full.join(rk, "grp")
        .groupBy("grp", "n_orders", "mean_value")
        .agg(
            F.min(F.when(F.col("r") == 2, F.col("m"))).alias("boot_lo"),
            F.min(
                F.when(F.col("r") == _PB_REPS - 1, F.col("m"))
            ).alias("boot_hi"),
        )
        .select(
            F.col("grp").alias("o_orderpriority"),
            "n_orders",
            "mean_value",
            "boot_lo",
            "boot_hi",
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR over a family of per-cell mean tests
# ---------------------------------------------------------------------------

# Zelen & Severo (A&S 26.2.17) normal-CDF polynomial — the standard
# 7.5e-8-accurate approximation, written as ONE fixed IEEE expression so
# both engines evaluate the identical tree. The libm exp inside is
# absorbed by the 1e-9 floor on the resulting p-value.
_BH_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_BH_ALPHA_INV = 20  # alpha = 0.05

_BH_P_SQL = (
    "CAST(FLOOR(2.0 * (exp(-az * az / 2.0) / sqrt(2.0 * pi())) * ("
    "  0.319381530 * tt - 0.356563782 * tt * tt"
    "  + 1.781477937 * tt * tt * tt - 1.821255978 * tt * tt * tt * tt"
    "  + 1.330274429 * tt * tt * tt * tt * tt) * 1e9) AS BIGINT)"
)

_BH_ORACLE = f"""
WITH cellu AS (
    -- integer unit sums so the GLOBAL moments are the exact sums of the
    -- cell moments: one fact scan feeds both, no second pass
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1e2) AS BIGINT))
                AS DECIMAL(38,0)) AS su,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * o.o_totalprice * 1e-3)
                         AS BIGINT)) AS DECIMAL(38,0)) AS ssu
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
),
cell AS (
    SELECT seg, prio, n,
           CAST(su AS DOUBLE) / 1e2 AS s,
           CAST(ssu AS DOUBLE) / 1e-3 AS ss,
           su, ssu
    FROM cellu
),
gstat AS (
    SELECT CAST(SUM(n) AS BIGINT) AS ng,
           CAST(CAST(SUM(su) AS DECIMAL(38,0)) AS DOUBLE) / 1e2 AS sg,
           CAST(CAST(SUM(ssu) AS DECIMAL(38,0)) AS DOUBLE) / 1e-3 AS ssg
    FROM cellu
),
zt AS (
    SELECT seg, prio, n,
           (s / n - (sg - s) / (ng - n))
             / sqrt(((ss - s * s / n) / (n - 1)) / n
                    + (((ssg - ss) - (sg - s) * (sg - s) / (ng - n))
                       / (ng - n - 1)) / (ng - n)) AS z
    FROM cell CROSS JOIN gstat
),
pt AS (
    SELECT seg, prio, n, z, {_BH_P_SQL} AS p_units
    FROM (
        SELECT seg, prio, n, z, az, 1.0 / (1.0 + 0.2316419 * az) AS tt
        FROM (SELECT seg, prio, n, z, ABS(z) AS az FROM zt) a
    ) b
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pt),
rk AS (
    SELECT l.seg, l.prio, l.n, l.z, l.p_units,
           CAST(1 + COUNT(CASE WHEN (r.p_units, r.seg, r.prio)
                                    < (l.p_units, l.seg, l.prio)
                               THEN 1 END) AS BIGINT) AS rnk
    FROM pt l CROSS JOIN pt r
    GROUP BY 1, 2, 3, 4, 5
),
flg AS (
    SELECT rk.*, CASE WHEN p_units * {_BH_ALPHA_INV} * m.m
                           <= rnk * 1000000000 THEN rnk END AS pass_rank
    FROM rk CROSS JOIN m
),
istar AS (SELECT COALESCE(MAX(pass_rank), 0) AS i_star FROM flg)
SELECT f.seg AS c_mktsegment, f.prio AS o_orderpriority, f.n, f.z,
       CAST(f.p_units AS DOUBLE) / 1e9 AS p_value,
       f.rnk AS rk,
       CAST(CASE WHEN f.rnk <= i.i_star THEN 1 ELSE 0 END AS INT) AS rejected
FROM flg f CROSS JOIN istar i
ORDER BY 1, 2
"""


@query("bh_fdr_segment_tests", oracle=_BH_ORACLE)
def bh_fdr_segment_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a FAMILY of hypothesis
    tests — one Welch z-test per (market segment × order priority) cell
    of "does this cell's mean order value differ from the rest?" — the
    multiple-testing control every metrics platform needs once it runs
    dozens of simultaneous comparisons (Benjamini & Hochberg 1995,
    step-up procedure at α = 0.05).

    Determinism: cell moments are exact floor-quantized integer sums; the
    Welch z and the Zelen–Severo normal-CDF polynomial are single fixed
    IEEE expressions over those identical inputs, floored to integer
    1e-9 p-value units; the BH step-up comparison p(i) ≤ i·α/m is then
    PURE INTEGER arithmetic (p_units·20·m ≤ rank·1e9), and ranks carry a
    cell-name tiebreak.

    Scale: one fact-scan groupBy to a 25-cell table; ranking is a
    triangular self-join on that dimension-sized table (window-free);
    everything after the first aggregate is constant work. At 100 TB the
    family size m stays domain-bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    y = F.col("o_totalprice")
    cellu = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # DECIMAL(38,0) accumulators: the global re-aggregation sums
            # every cell's moments, and Σ of the ssu unit (≤3.6e8/row)
            # approaches 2^63 around 2.5e10 rows — silent bigint wrap at
            # 100 TB row counts (the r11 neyman class).
            F.sum(F.floor(y * F.lit(1e2)).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("su"),
            F.sum(F.floor(y * y * F.lit(1e-3)).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("ssu"),
        )
        # one fact scan feeds BOTH the cell and the global moments (the
        # integer unit sums re-aggregate exactly); 25 rows
        .localCheckpoint(eager=False)
    )
    cell = cellu.select(
        "seg",
        "prio",
        "n",
        (F.col("su").cast("double") / F.lit(1e2)).alias("s"),
        (F.col("ssu").cast("double") / F.lit(1e-3)).alias("ss"),
    )
    glob = cellu.agg(
        F.sum("n").cast("bigint").alias("ng"),
        (
            F.sum("su").cast("decimal(38,0)").cast("double") / F.lit(1e2)
        ).alias("sg"),
        (
            F.sum("ssu").cast("decimal(38,0)").cast("double") / F.lit(1e-3)
        ).alias("ssg"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    ng, sg, ssg = F.col("ng"), F.col("sg"), F.col("ssg")
    z = (s / n - (sg - s) / (ng - n)) / F.sqrt(
        ((ss - s * s / n) / (n - 1)) / n
        + (((ssg - ss) - (sg - s) * (sg - s) / (ng - n)) / (ng - n - 1))
        / (ng - n)
    )
    zt = cell.crossJoin(F.broadcast(glob)).select(
        "seg", "prio", "n", z.alias("z")
    )
    az = F.abs(F.col("z"))
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    b1, b2, b3, b4, b5 = (F.lit(v) for v in _BH_B)
    poly = (
        b1 * tt
        + b2 * tt * tt
        + b3 * tt * tt * tt
        + b4 * tt * tt * tt * tt
        + b5 * tt * tt * tt * tt * tt
    )
    phi = F.exp(-az * az / F.lit(2.0)) / F.sqrt(F.lit(2.0) * F.lit(math.pi))
    pt = zt.select(
        "seg",
        "prio",
        "n",
        "z",
        F.floor(F.lit(2.0) * phi * poly * F.lit(1e9))
        .cast("bigint")
        .alias("p_units"),
    ).localCheckpoint(eager=False)
    m = pt.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    r = pt.select(
        F.col("p_units").alias("rp"),
        F.col("seg").alias("rs"),
        F.col("prio").alias("rr"),
    )
    lt = (
        (F.col("rp") < F.col("p_units"))
        | ((F.col("rp") == F.col("p_units")) & (F.col("rs") < F.col("seg")))
        | (
            (F.col("rp") == F.col("p_units"))
            & (F.col("rs") == F.col("seg"))
            & (F.col("rr") < F.col("prio"))
        )
    )
    rk = (
        pt.crossJoin(F.broadcast(r))
        .groupBy("seg", "prio", "n", "z", "p_units")
        .agg(
            (1 + F.count(F.when(lt, 1))).cast("bigint").alias("rnk")
        )
    )
    flg = rk.crossJoin(F.broadcast(m)).select(
        "seg",
        "prio",
        "n",
        "z",
        "p_units",
        "rnk",
        F.when(
            F.col("p_units") * _BH_ALPHA_INV * F.col("m")
            <= F.col("rnk") * F.lit(1000000000),
            F.col("rnk"),
        ).alias("pass_rank"),
    )
    istar = flg.agg(
        F.coalesce(F.max("pass_rank"), F.lit(0)).alias("i_star")
    )
    return (
        flg.crossJoin(F.broadcast(istar))
        .select(
            F.col("seg").alias("c_mktsegment"),
            F.col("prio").alias("o_orderpriority"),
            "n",
            "z",
            (F.col("p_units").cast("double") / F.lit(1e9)).alias("p_value"),
            F.col("rnk").alias("rk"),
            F.when(F.col("rnk") <= F.col("i_star"), 1)
            .otherwise(0)
            .cast("int")
            .alias("rejected"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Sequential A/B monitoring with an O'Brien–Fleming-style boundary
# ---------------------------------------------------------------------------

# Conservative OBF-shaped two-sided boundary: z_bound(t) = C / sqrt(f_t)
# with f_t the information fraction. C = 2.24 approximates α ≈ 0.05
# overall spend (Lan–DeMets alpha-spending family).
_SEQ_C = 2.24

_SEQ_ORACLE = f"""
WITH wk AS (
    SELECT date_diff('day', DATE '1992-01-01',
                     CAST(o.o_orderdate AS DATE)) // 7 AS week_idx,
           CASE WHEN c.c_mktsegment = '{_KS_SEG_A}' THEN 'a' ELSE 'b' END
               AS arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1e2) AS BIGINT))
                AS DECIMAL(38,0)) AS su,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * o.o_totalprice * 1e-3)
                         AS BIGINT)) AS DECIMAL(38,0)) AS ssu
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('{_KS_SEG_A}', '{_KS_SEG_B}')
    GROUP BY 1, 2
),
cum AS (
    SELECT week_idx, arm,
           CAST(SUM(n) OVER w AS BIGINT) AS cn,
           CAST(SUM(su) OVER w AS DECIMAL(38,0)) AS csu,
           CAST(SUM(ssu) OVER w AS DECIMAL(38,0)) AS cssu
    FROM wk
    WINDOW w AS (PARTITION BY arm ORDER BY week_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n_final FROM wk
),
z AS (
    SELECT a.week_idx, a.cn AS n_a, b.cn AS n_b,
           (CAST(a.csu AS DOUBLE) / 100.0 / a.cn
            - CAST(b.csu AS DOUBLE) / 100.0 / b.cn)
           / sqrt(((CAST(a.cssu AS DOUBLE) * 1000.0
                    - (CAST(a.csu AS DOUBLE) / 100.0)
                      * (CAST(a.csu AS DOUBLE) / 100.0) / a.cn)
                   / (a.cn - 1)) / a.cn
                  + ((CAST(b.cssu AS DOUBLE) * 1000.0
                      - (CAST(b.csu AS DOUBLE) / 100.0)
                        * (CAST(b.csu AS DOUBLE) / 100.0) / b.cn)
                     / (b.cn - 1)) / b.cn) AS z_stat,
           {_SEQ_C} / sqrt(CAST(a.cn + b.cn AS DOUBLE) / t.n_final)
               AS z_bound
    FROM cum a JOIN cum b ON b.week_idx = a.week_idx AND b.arm = 'b'
    CROSS JOIN tot t
    WHERE a.arm = 'a' AND a.cn > 1 AND b.cn > 1
),
crossed AS (
    SELECT z.*, CASE WHEN ABS(z_stat) >= z_bound THEN 1 ELSE 0 END AS cr
    FROM z
),
first_w AS (
    SELECT COALESCE(MIN(CASE WHEN cr = 1 THEN week_idx END), -1) AS fw
    FROM crossed
)
SELECT c.week_idx, c.n_a, c.n_b, c.z_stat, c.z_bound,
       CAST(c.cr AS INT) AS crossed,
       CAST(CASE WHEN c.week_idx = f.fw THEN 1 ELSE 0 END AS INT)
           AS is_first_cross
FROM crossed c CROSS JOIN first_w f
ORDER BY c.week_idx
"""


@query("seq_ab_spending_monitor", oracle=_SEQ_ORACLE)
def seq_ab_spending_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential A/B-test monitoring: the weekly cumulative Welch z
    between two customer segments' order values, checked against an
    O'Brien–Fleming-shaped spending boundary C/√(information fraction) —
    the group-sequential machinery (Lan & DeMets 1983) that lets an
    experimenter peek every week without inflating false positives, and
    the sequential complement to the engine's fixed-horizon
    ab_conversion_ztest.

    Determinism: weekly moments are exact integer floor-units; the
    CUMULATIVE sums are window sums over those integers (exact, order-
    free), and every double is a fixed IEEE expression over single-
    rounded bigint→double casts; the boundary uses only sqrt.

    Scale: one fact scan to a (week × arm) table (map-side combinable);
    cumulative windows run on that calendar-bounded table partitioned by
    arm — never an unpartitioned data-sized window. At 100 TB only the
    first aggregate grows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    y = F.col("o_totalprice")
    wk = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin(_KS_SEG_A, _KS_SEG_B))
        .groupBy(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') div 7"
            ).alias("week_idx"),
            F.when(F.col("c_mktsegment") == _KS_SEG_A, "a")
            .otherwise("b")
            .alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # DECIMAL(38,0): the running window below re-sums every
            # week's moments — same wrap exposure as bh_fdr's global
            # re-aggregation (the r11 neyman class).
            F.sum(F.floor(y * 1e2).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("su"),
            F.sum(F.floor(y * y * 1e-3).cast("bigint"))
            .cast("decimal(38,0)")
            .alias("ssu"),
        )
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = wk.select(
        "week_idx",
        "arm",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("su").over(w).cast("decimal(38,0)").alias("csu"),
        F.sum("ssu").over(w).cast("decimal(38,0)").alias("cssu"),
    )
    tot = wk.agg(F.sum("n").cast("bigint").alias("n_final"))
    a = cum.where(F.col("arm") == "a").select(
        "week_idx",
        F.col("cn").alias("na"),
        F.col("csu").alias("sua"),
        F.col("cssu").alias("ssua"),
    )
    b = cum.where(F.col("arm") == "b").select(
        F.col("week_idx").alias("wb"),
        F.col("cn").alias("nb"),
        F.col("csu").alias("sub"),
        F.col("cssu").alias("ssub"),
    )

    def var(ss, su, n):
        s_val = su.cast("double") / F.lit(100.0)
        return (ss.cast("double") * F.lit(1000.0) - s_val * s_val / n) / (
            n - 1
        )

    na, nb = F.col("na"), F.col("nb")
    z = (
        F.col("sua").cast("double") / F.lit(100.0) / na
        - F.col("sub").cast("double") / F.lit(100.0) / nb
    ) / F.sqrt(
        var(F.col("ssua"), F.col("sua"), na) / na
        + var(F.col("ssub"), F.col("sub"), nb) / nb
    )
    zt = (
        a.join(b, F.col("wb") == F.col("week_idx"))
        .crossJoin(F.broadcast(tot))
        .where((na > 1) & (nb > 1))
        .select(
            "week_idx",
            na.alias("n_a"),
            nb.alias("n_b"),
            z.alias("z_stat"),
            (
                F.lit(_SEQ_C)
                / F.sqrt((na + nb).cast("double") / F.col("n_final"))
            ).alias("z_bound"),
        )
    )
    crossed = zt.withColumn(
        "cr",
        F.when(F.abs(F.col("z_stat")) >= F.col("z_bound"), 1).otherwise(0),
    ).localCheckpoint(eager=False)
    first_w = crossed.agg(
        F.coalesce(
            F.min(F.when(F.col("cr") == 1, F.col("week_idx"))), F.lit(-1)
        ).alias("fw")
    )
    return (
        crossed.crossJoin(F.broadcast(first_w))
        .select(
            "week_idx",
            "n_a",
            "n_b",
            "z_stat",
            "z_bound",
            F.col("cr").cast("int").alias("crossed"),
            F.when(F.col("week_idx") == F.col("fw"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_first_cross"),
        )
        .orderBy("week_idx")
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival: time to a customer's second order, with censoring
# ---------------------------------------------------------------------------

# Customers with no second order are right-censored at the corpus's own
# last order date (administrative censoring at the observation horizon).
_KM_BIN_DAYS = 30

_KM_ORACLE = f"""
WITH od AS (
    SELECT DISTINCT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d
    FROM orders
),
horizon AS (SELECT MAX(d) AS hz FROM od),
first_o AS (
    SELECT ck, MIN(d) AS t0 FROM od GROUP BY 1
),
second_o AS (
    SELECT f.ck, MIN(o.d) AS t1
    FROM first_o f JOIN od o ON o.ck = f.ck AND o.d > f.t0
    GROUP BY 1
),
dur AS (
    SELECT f.ck,
           CASE WHEN s.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev,
           CASE WHEN s.t1 IS NOT NULL
                THEN date_diff('day', f.t0, s.t1)
                ELSE date_diff('day', f.t0, h.hz)
           END AS days
    FROM first_o f LEFT JOIN second_o s ON s.ck = f.ck
    CROSS JOIN horizon h
),
bins AS (
    SELECT days // {_KM_BIN_DAYS} AS bin,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(SUM(1 - ev) AS BIGINT) AS c
    FROM dur GROUP BY 1
),
risk AS (
    SELECT l.bin, l.d, l.c,
           CAST(SUM(r.d + r.c) AS BIGINT) AS n_at_risk
    FROM bins l JOIN bins r ON r.bin >= l.bin
    GROUP BY 1, 2, 3
),
lq AS (
    SELECT bin, d, c, n_at_risk,
           CASE WHEN n_at_risk > d
                THEN CAST(FLOOR(ln(CAST(n_at_risk - d AS DOUBLE)
                                   / n_at_risk) * 1e9) AS BIGINT)
           END AS lqv
    FROM risk
),
surv AS (
    SELECT l.bin, l.d, l.c, l.n_at_risk,
           SUM(r.lqv) AS ls_units,
           MAX(CASE WHEN r.lqv IS NULL THEN 1 ELSE 0 END) AS hit_zero
    FROM lq l JOIN lq r ON r.bin <= l.bin
    GROUP BY 1, 2, 3, 4
)
SELECT CAST(bin * {_KM_BIN_DAYS} AS BIGINT) AS bin_start_days,
       n_at_risk, d AS n_events, c AS n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE CAST(FLOOR(exp(CAST(ls_units AS DOUBLE) / 1e9) * 1e6)
                      AS BIGINT) / 1e6
       END AS survival
FROM surv
ORDER BY 1
"""


@query("kaplan_meier_second_order", oracle=_KM_ORACLE)
def kaplan_meier_second_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve for time-to-second-order
    per customer, right-censored at the corpus's last order date for
    one-order customers — the estimator behind every retention/churn curve that
    must not throw away customers who simply haven't converted YET
    (Kaplan & Meier 1958). Complements the engine's discrete
    hazard_table_monthly with the censoring-correct survival curve.

    Determinism: risk-set and event counts are exact integers from
    suffix sums over the duration-bin table; each KM factor
    ln((n−d)/n) has an exact-integer-ratio input and is floor-quantized
    to 1e-9 units; the cumulative log-survival is an exact integer sum,
    and the reported survival is exp() of it floor-quantized to 1e-6.

    Scale: two shuffles on custkey (distinct dates, first/second-order
    rollup) — both map-side combinable — then ALL survival math runs on
    the ~80-row duration-bin table via triangular broadcast joins
    (window-free suffix/prefix sums). At 100 TB only the custkey rollup
    grows; the curve stays calendar-bounded.
    """
    o = load_table(spark, sf_dir, "orders")
    od = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).distinct()
    horizon = od.agg(F.max("d").alias("hz"))
    first_o = od.groupBy("ck").agg(F.min("d").alias("t0"))
    second_o = (
        first_o.join(od.withColumnRenamed("ck", "ck2"), F.col("ck2") == F.col("ck"))
        .where(F.col("d") > F.col("t0"))
        .groupBy("ck")
        .agg(F.min("d").alias("t1"))
    )
    dur = (
        first_o.join(second_o.withColumnRenamed("ck", "ck3"),
                     F.col("ck3") == F.col("ck"), "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("ev"),
            F.when(
                F.col("t1").isNotNull(), F.datediff(F.col("t1"), F.col("t0"))
            )
            .otherwise(F.datediff(F.col("hz"), F.col("t0")))
            .alias("days"),
        )
    )
    bins = (
        dur.groupBy(F.expr(f"days div {_KM_BIN_DAYS}").alias("bin"))
        .agg(
            F.sum("ev").cast("bigint").alias("d"),
            F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    r = bins.select(
        F.col("bin").alias("rb"),
        F.col("d").alias("rd"),
        F.col("c").alias("rc"),
    )
    risk = (
        bins.join(F.broadcast(r), F.col("rb") >= F.col("bin"))
        .groupBy("bin", "d", "c")
        .agg(F.sum(F.col("rd") + F.col("rc")).cast("bigint").alias("n_at_risk"))
    )
    lq = risk.select(
        "bin",
        "d",
        "c",
        "n_at_risk",
        F.when(
            F.col("n_at_risk") > F.col("d"),
            F.floor(
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk")
                )
                * F.lit(1e9)
            ).cast("bigint"),
        ).alias("lqv"),
    ).localCheckpoint(eager=False)
    rl = lq.select(F.col("bin").alias("rb"), F.col("lqv").alias("rlqv"))
    surv = (
        lq.join(F.broadcast(rl), F.col("rb") <= F.col("bin"))
        .groupBy("bin", "d", "c", "n_at_risk")
        .agg(
            F.sum("rlqv").alias("ls_units"),
            F.max(
                F.when(F.col("rlqv").isNull(), 1).otherwise(0)
            ).alias("hit_zero"),
        )
    )
    return surv.select(
        (F.col("bin") * _KM_BIN_DAYS).cast("bigint").alias("bin_start_days"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(
            F.floor(
                F.exp(F.col("ls_units").cast("double") / F.lit(1e9))
                * F.lit(1e6)
            ).cast("bigint")
            / F.lit(1e6)
        )
        .alias("survival"),
    ).orderBy("bin_start_days")


# ---------------------------------------------------------------------------
# Brown's double exponential smoothing + linear-trend forecast
# ---------------------------------------------------------------------------

# α = 1/2 truncated at a 6-day lookback over a zero-filled calendar grid:
# weights 2^(5−j) are exact integers with CONSTANT kernel sum D = 63, so
# both smoothing passes stay in exact decimal arithmetic end to end (the
# ewma_daily_revenue discipline, composed twice). Daily revenue is floored
# to whole dollars so numerators stay < 2^53 through sf100.
_BR_L = 6
_BR_W = [2 ** (_BR_L - 1 - j) for j in range(_BR_L)]  # 32 16 8 4 2 1
_BR_D = sum(_BR_W)  # 63
_BR_H = 7  # forecast horizon (days)
# Brown: ŷ(t+h) = (2 + αh/(1−α))·S1 − (1 + αh/(1−α))·S2 ; α=1/2, h=7 → 9, 8
_BR_A, _BR_B = 2 + _BR_H, 1 + _BR_H
# Emit the last N days of the corpus rather than a calendar literal: a
# hard-coded '2001-01-01' silently returns ZERO rows on any dataset whose
# orders end earlier (ADVICE r10) — the cutoff must follow the data. N-1
# days back from max(o_orderdate), derived identically in both engines.
_BR_EMIT_LAST_DAYS = 210

_BR_W_SQL = ", ".join(f"({j}, {w})" for j, w in enumerate(_BR_W))

_BROWN_ORACLE = f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(20,2))))
                AS DECIMAL(18,0)) AS r
    FROM orders GROUP BY 1
),
bounds AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM daily),
grid AS (
    SELECT CAST(unnest(generate_series(mn, mx, INTERVAL '1 day')) AS DATE)
        AS d
    FROM bounds
),
filled AS (
    SELECT g.d, COALESCE(dy.r, CAST(0 AS DECIMAL(18,0))) AS r
    FROM grid g LEFT JOIN daily dy ON dy.d = g.d
),
w AS (SELECT j, CAST(wi AS DECIMAL(3,0)) AS w FROM (VALUES {_BR_W_SQL}) t(j, wi)),
s1 AS (
    SELECT CAST(f.d + to_days(CAST(w.j AS INT)) AS DATE) AS d,
           CAST(SUM(f.r * w.w) AS DECIMAL(24,0)) AS s1num,
           CAST(COUNT(*) AS BIGINT) AS nterms
    FROM filled f CROSS JOIN w
    GROUP BY 1
),
s1full AS (SELECT d, s1num FROM s1 WHERE nterms = {_BR_L}),
s2 AS (
    SELECT CAST(f.d + to_days(CAST(w.j AS INT)) AS DATE) AS d,
           CAST(SUM(f.s1num * w.w) AS DECIMAL(30,0)) AS s2num,
           CAST(COUNT(*) AS BIGINT) AS nterms
    FROM s1full f CROSS JOIN w
    GROUP BY 1
),
s2full AS (SELECT d, s2num FROM s2 WHERE nterms = {_BR_L})
SELECT s1.d AS day,
       CAST(s1.s1num AS DOUBLE) / {_BR_D} AS s1_level,
       CAST(s2.s2num AS DOUBLE) / {_BR_D * _BR_D} AS s2_level,
       CAST({_BR_A} * s1.s1num * {_BR_D} - {_BR_B} * s2.s2num AS DOUBLE)
           / {_BR_D * _BR_D} AS forecast_{_BR_H}d
FROM s1full s1 JOIN s2full s2 ON s2.d = s1.d
WHERE s1.d >= (SELECT mx - to_days({_BR_EMIT_LAST_DAYS - 1}) FROM bounds)
ORDER BY 1
"""


@query("brown_double_smoothing_forecast", oracle=_BROWN_ORACLE)
def brown_double_smoothing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing over zero-filled daily
    revenue with a {_BR_H}-day linear-trend forecast — the trend-aware
    upgrade of ewma_daily_revenue (Brown 1959): S2 smooths S1, and
    ŷ(t+h) = {_BR_A}·S1 − {_BR_B}·S2 extrapolates the implied trend.

    Determinism by composition of the EWMA integer-kernel trick: dyadic
    weights 2^(5−j) with CONSTANT kernel sum {_BR_D} (only full-kernel
    days are emitted) keep BOTH smoothing passes in exact decimal
    arithmetic with no intermediate ratio; each reported value is one
    division of an exactly-computed decimal numerator that stays < 2^53
    through sf100 (daily revenue floored to whole dollars). The emitted
    window is the corpus's LAST {_BR_EMIT_LAST_DAYS} days, derived from
    max(o_orderdate) in both engines — never a calendar literal, so the
    query cannot silently go empty on a corpus that ends early.

    Scale: daily rollup is the one data-sized aggregate; the calendar
    grid is envelope-bounded; each smoothing pass is a constant {_BR_L}×
    fan-out of the grid joined to itself — the closed kernel form of a
    sequential recurrence that cannot parallelize (same argument as
    ewma_daily_revenue, applied twice).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.floor(F.sum(F.col("o_totalprice").cast("decimal(20,2)")))
        .cast("decimal(18,0)")
        .alias("r")
    )
    bounds = daily.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("d")
    )
    filled = grid.join(daily, "d", "left").select(
        "d",
        F.coalesce(F.col("r"), F.lit(0).cast("decimal(18,0)")).alias("r"),
    )
    weights = spark.createDataFrame(
        list(enumerate(_BR_W)), "j int, w long"
    ).select("j", F.col("w").cast("decimal(3,0)").alias("w"))

    def smooth(src: DataFrame, val: str, out: str, out_dec: str) -> DataFrame:
        return (
            src.crossJoin(F.broadcast(weights))
            .groupBy(F.expr("date_add(d, j)").alias("d"))
            .agg(
                F.sum(F.col(val) * F.col("w")).cast(out_dec).alias(out),
                F.count(F.lit(1)).alias("nterms"),
            )
            .where(F.col("nterms") == _BR_L)
            .drop("nterms")
        )

    s1 = smooth(filled, "r", "s1num", "decimal(24,0)")
    s2 = smooth(s1, "s1num", "s2num", "decimal(30,0)").withColumnRenamed(
        "d", "d2"
    )
    dd = _BR_D * _BR_D
    emit_from = bounds.select(
        F.date_sub("mx", _BR_EMIT_LAST_DAYS - 1).alias("emit_from")
    )
    return (
        s1.join(s2, F.col("d2") == F.col("d"))
        .crossJoin(F.broadcast(emit_from))
        .where(F.col("d") >= F.col("emit_from"))
        .drop("emit_from")
        .select(
            F.col("d").alias("day"),
            (F.col("s1num").cast("double") / _BR_D).alias("s1_level"),
            (F.col("s2num").cast("double") / dd).alias("s2_level"),
            (
                (
                    F.lit(_BR_A) * F.col("s1num") * _BR_D
                    - F.lit(_BR_B) * F.col("s2num")
                ).cast("double")
                / dd
            ).alias(f"forecast_{_BR_H}d"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Neyman optimal allocation for stratified sampling
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000  # total sample budget to allocate across strata


_NEY_ORACLE = f"""
WITH s AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_h,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS DECIMAL(38,0)) AS s1,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)
                    * CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS DECIMAL(38,0)) AS s2
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
),
w AS (
    -- N_h * S_h = sqrt(n * sum(x^2) - sum(x)^2); computed in doubles from
    -- the exact integer sums (identical-input IEEE, then floor-quantized)
    -- to avoid DECIMAL(38) multiplication overflow semantics.
    SELECT segment, n_h,
           CAST(FLOOR(sqrt(n_h * CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / 100.0) AS BIGINT) AS wu,
           CAST(s1 AS DOUBLE) / n_h / 100.0 AS mean_value
    FROM s
),
t AS (SELECT CAST(SUM(wu) AS BIGINT) AS tw FROM w)
SELECT segment, n_h, mean_value,
       CAST(wu AS DOUBLE) / 1e4 AS nh_sh,
       CAST(CAST({_NEY_BUDGET} AS BIGINT) * wu // tw AS BIGINT) AS alloc_n
FROM w, t
ORDER BY segment
"""


@query("neyman_allocation_plan", oracle=_NEY_ORACLE)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation (Neyman 1934): split a {_NEY_BUDGET}-row
    sampling budget across customer segments proportionally to N_h·S_h —
    the design that minimizes the stratified estimator's variance for a
    fixed budget. This is the PLANNING step in front of the engine's
    samplers (pps_systematic_sample draws within strata;
    weighted_reservoir_sample draws without replacement): high-variance
    strata get more than proportional share, near-constant strata almost
    none.

    Determinism: per-stratum moments are exact integer cents
    (n·Σx² − (Σx)² in DECIMAL(38,0)); S_h enters through one
    identical-input sqrt floor-quantized to integer weight units; the
    allocation itself is pure integer arithmetic (budget·w_h // Σw_h —
    floor allocation, undershoot < #strata by construction).

    Scale: one fact-dimension broadcast join and one segment rollup
    (map-side combinable), then constant-size weight algebra — the
    allocation table is |strata| rows no matter the corpus.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    s = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), cents.alias("x"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_h"),
            F.sum(F.col("x").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s1"),
            # Cast BEFORE the aggregate so the accumulator is decimal:
            # sum(x*x) in LongType wraps past 2^63 at sf1 (per-segment
            # sum of squared cents ~6.75e19) while DuckDB sums in HUGEINT.
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
    )
    # N_h*S_h = sqrt(n*sum(x^2) - sum(x)^2) — doubles from exact sums
    wu = F.floor(
        F.sqrt(
            F.col("n_h") * F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
        )
        / F.lit(100.0)
    ).cast("bigint")
    w = s.select(
        "segment",
        "n_h",
        wu.alias("wu"),
        (F.col("s1").cast("double") / F.col("n_h") / F.lit(100.0)).alias(
            "mean_value"
        ),
    )
    t = w.agg(F.sum("wu").cast("bigint").alias("tw"))
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "segment",
            "n_h",
            "mean_value",
            (F.col("wu").cast("double") / 1e4).alias("nh_sh"),
            F.expr(f"CAST({_NEY_BUDGET} AS BIGINT) * wu div tw")
            .cast("bigint")
            .alias("alloc_n"),
        )
        .orderBy("segment")
    )
