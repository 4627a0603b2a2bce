"""Diagnostics and forecasting-prep workloads: CUSUM changepoint location,
trend/seasonal decomposition, Benford first-digit audit, Gini revenue
concentration, triple-itemset mining, last-touch attribution, and a Bloom
filter false-positive audit.

Fourth round-5 batch (after stats_ops.py). Registered behind the driver's
50-query unproven block; every query is oracle-checked by the local gate
from day one.

Determinism notes follow the repo discipline (registry docstring): the
CUSUM argmax and the Gini numerator are exact integer/decimal expressions
with the single double division at the end; Benford's logarithmic expected
shares are repr-roundtripped LITERALS (log10 is not cross-engine portable
in the last ulp); attribution latencies use the exact microsecond diff
integer-divided to seconds; Bloom bits are md5-derived (no engine-native
hash).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_running,
    with_global_shift,
)
from autonomus_datapipeline_spark.workloads.graph_common import copurchase_half_pairs
from autonomus_datapipeline_spark.workloads.registry import (
    descale6,
    ORDERDATE_EPOCH_DAY_BOUNDS,
    load_table,
    materialize_input,
    query,
    sql_davg,
)

# ---------------------------------------------------------------------------
# CUSUM changepoint on the daily order-count series
# ---------------------------------------------------------------------------


@query(
    "cusum_changepoint_daily_orders",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT day, x,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               SUM(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ct,
               SUM(x) OVER () AS s,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    scored AS (
        SELECT day, t, ct, s, n,
               ABS(CAST(n AS DECIMAL(38,0)) * ct
                   - CAST(t AS DECIMAL(38,0)) * s) AS dn
        FROM cum WHERE t < n
    )
    SELECT day AS change_day,
           CAST(t AS BIGINT) AS t,
           CAST(n AS BIGINT) AS n_days,
           CAST(dn AS BIGINT) AS cusum_num,
           CAST(ct AS DOUBLE) / t AS mean_before,
           CAST(s - ct AS DOUBLE) / (n - t) AS mean_after
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY dn DESC, day) AS rn
        FROM scored
    ) r WHERE rn = 1
    """,
)
def cusum_changepoint_daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location on the daily order-count series: the day
    t maximizing |n·C_t − t·S| — the n-scaled cumulative deviation from
    the global mean, which is the classic at-most-one-changepoint split
    statistic. The argmax runs on EXACT DECIMAL(38,0) integers (a double
    CUSUM makes the argmax order-dependent near ties; earliest day breaks
    exact ties), and only the before/after means are final-step doubles.

    Scale: one map-side-combinable daily aggregate to a calendar-bounded
    grid, a distributed prefix-sum over that grid (bucket-partitioned —
    no unpartitioned window anywhere), and a TakeOrdered argmax. The
    fact table is scanned once.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    cum = with_global_running(
        daily,
        [("day", True)],
        sums={"ct": "x"},
        row_number="t",
        totals={"s": "x"},
        total_count="n",
        # dbgen calendar envelope is fixed — skips the min/max scan job
        bounds=ORDERDATE_EPOCH_DAY_BOUNDS,
    ).select("day", "t", "ct", "s", "n")
    dn = F.abs(
        F.col("n").cast("decimal(38,0)") * F.col("ct")
        - F.col("t").cast("decimal(38,0)") * F.col("s")
    )
    scored = cum.where(F.col("t") < F.col("n")).select(
        "day", "t", "ct", "s", "n", dn.alias("dn")
    )
    # argmax via TakeOrderedAndProject (per-partition heaps) — no window.
    return (
        scored.orderBy(F.desc("dn"), "day")
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("t").cast("bigint").alias("t"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("dn").cast("bigint").alias("cusum_num"),
            (F.col("ct").cast("double") / F.col("t")).alias("mean_before"),
            (
                (F.col("s") - F.col("ct")).cast("double")
                / (F.col("n") - F.col("t"))
            ).alias("mean_after"),
        )
    )


# ---------------------------------------------------------------------------
# Trend / seasonal decomposition of daily revenue
# ---------------------------------------------------------------------------


@query(
    "trend_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders GROUP BY 1
    ),
    trended AS (
        SELECT day, r,
               SUM(r) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS w_sum,
               COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS w_cnt
        FROM daily
    ),
    detr AS (
        SELECT CAST(dayofweek(day) + 1 AS INT) AS dow,
               CAST(r AS DOUBLE) - CAST(w_sum AS DOUBLE) / 7 AS resid
        FROM trended WHERE w_cnt = 7
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           {sql_davg("resid", "seasonal_mean")}
    FROM detr GROUP BY 1 ORDER BY 1
    """,
)
def trend_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition, step one and two: trend = 7-day
    CENTERED moving average of daily revenue (full-window days only, so
    the trend is unbiased at the edges by construction), residual = value
    − trend, and the seasonal profile = mean residual per day-of-week —
    the pre-forecasting decomposition whose multiplicative twin is
    weekday_seasonality_index. The window sum stays in exact decimal;
    trend becomes a double with ONE division by 7; residual means go
    through the decimal accumulator. dow is Spark's Sunday=1 convention
    (DuckDB's Sunday=0 shifted in the oracle).

    Scale: daily rollup (map-side combinable), then the sliding sum as
    prefix-sum differences over the calendar-bounded grid (distributed
    bucketed cumsum + two rank-shift joins — no unpartitioned window).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    # Centered 7-row ROWS frame as prefix-sum differences: w_sum(i) =
    # S(i+3) − S(i−4) with S the global running sum — the two neighbor
    # values arrive via rank-shift joins, so no unpartitioned window runs
    # over the grid. Full windows (w_cnt == 7) are exactly rows with both
    # neighbors in range: rn ≥ 4 and rn ≤ n − 3 (S(0) = 0 for rn = 4).
    cum = with_global_running(
        daily,
        [("day", True)],
        sums={"cs": "r"},
        row_number="rn",
        total_count="n_rows",
        # dbgen calendar envelope is fixed — skips the min/max scan job
        bounds=ORDERDATE_EPOCH_DAY_BOUNDS,
    )
    trended = with_global_shift(
        cum, [("day", True)], {"cs_lead3": ("cs", -3), "cs_lag4": ("cs", 4)},
        materialize="cache",
        # Same envelope for the shift's internal row-numbering pass: its
        # min/max scan would otherwise re-execute the WHOLE prefix-sum
        # subtree above (cum is multi-branch and uncached at this point).
        bounds=ORDERDATE_EPOCH_DAY_BOUNDS,
    ).select(
        "day",
        "r",
        (
            F.col("cs_lead3") - F.coalesce(F.col("cs_lag4"), F.lit(0))
        ).alias("w_sum"),
        "rn",
        "n_rows",
    )
    detr = trended.where(
        (F.col("rn") >= 4) & (F.col("rn") <= F.col("n_rows") - 3)
    ).select(
        F.dayofweek("day").cast("int").alias("dow"),
        (
            F.col("r").cast("double") - F.col("w_sum").cast("double") / 7
        ).alias("resid"),
    )
    return (
        detr.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (
                descale6(F.sum(F.col("resid").cast("decimal(38,6)")))
                / F.count("resid")
            ).alias("seasonal_mean"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_SQL = ", ".join(
    f"({d}, {math.log10(1 + 1 / d)!r})" for d in range(1, 10)
)


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH exp_ AS (
        SELECT d, CAST(p AS DOUBLE) AS expected_share
        FROM (VALUES {_BENFORD_SQL}) t(d, p)
    ),
    digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice >= 1
        GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
    SELECT e.d AS digit,
           COALESCE(g.n, 0) AS n_orders,
           CAST(COALESCE(g.n, 0) AS DOUBLE) / t.total AS observed_share,
           e.expected_share,
           CAST(COALESCE(g.n, 0) AS DOUBLE) / t.total - e.expected_share
               AS deviation
    FROM exp_ e
    LEFT JOIN digits g ON g.d = e.d
    CROSS JOIN tot t
    ORDER BY e.d
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order values: the observed first-significant-
    digit distribution against the log10(1+1/d) expectation — the
    fraud/synthetic-data smell test for financial columns. The first digit
    comes from the BIGINT integer part rendered as a string (double
    formatting is NOT engine-portable; integer formatting is), and the
    expected shares are repr-roundtripped literals because log10's last
    ulp is not guaranteed identical across engines.

    Scale: one map-side-combinable 9-group aggregate over the scan;
    everything downstream is 9 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    exp_rows = [(d, math.log10(1 + 1 / d)) for d in range(1, 10)]
    exp_df = spark.createDataFrame(exp_rows, "d int, expected_share double")
    digits = (
        o.where(F.col("o_totalprice") >= 1)
        .groupBy(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("bigint").alias("total"))
    return (
        exp_df.join(digits, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            (F.coalesce("n", F.lit(0)).cast("double") / F.col("total")).alias(
                "observed_share"
            ),
            "expected_share",
            (
                F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
                - F.col("expected_share")
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue
# ---------------------------------------------------------------------------


@query(
    "gini_revenue_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS x
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey)
                    AS DECIMAL(38,0)) AS i,
               COUNT(*) OVER () AS n
        FROM rev
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(SUM(x) AS DOUBLE) AS total_revenue,
           CAST(2 * SUM(i * x) - (MAX(n) + 1) * SUM(x) AS DOUBLE)
             / CAST(CAST(MAX(n) AS DECIMAL(38,0)) * SUM(x) AS DOUBLE) AS gini
    FROM ranked
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the single-number
    concentration metric next to cumulative_share_pareto80's threshold
    report — via the sorted-rank identity G = (2·Σi·xᵢ − (n+1)·Σxᵢ) /
    (n·Σxᵢ) with x ascending and custkey breaking rank ties. Both sums
    stay in exact decimal (rank × revenue is a DECIMAL(38,0)×DECIMAL(38,6)
    product); the final division is one double op.

    Scale: per-customer rollup (one shuffle), a distributed prefix-sum
    rank over |customers| (operators/prefix_sum.py — an unpartitioned
    ranking window would drag every customer through one task), and a
    scalar aggregate. No driver-side math.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("x")
    )
    # revenue sums have no spec envelope, so the rank's min/max scan cannot
    # be skipped — materialize the |customers|-sized rollup once instead of
    # re-running the orders rollup per prefix-sum branch.
    rev = materialize_input(rev)
    ranked = with_global_running(
        rev,
        [("x", True), ("o_custkey", True)],
        row_number="i0",
        total_count="n",
    ).select("x", F.col("i0").cast("decimal(38,0)").alias("i"), "n")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.sum("x").cast("double").alias("total_revenue"),
        (
            (2 * F.sum(F.col("i") * F.col("x")) - (F.max("n") + 1) * F.sum("x"))
            .cast("double")
            / (F.max("n").cast("decimal(38,0)") * F.sum("x")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Triple-itemset mining (co-purchase triples)
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 2
_TRI_TOP = 20


@query(
    "market_basket_triples",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tri AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               c.l_partkey AS part_c,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM op a
        JOIN op b ON b.l_orderkey = a.l_orderkey
                 AND b.l_partkey > a.l_partkey
        JOIN op c ON c.l_orderkey = a.l_orderkey
                 AND c.l_partkey > b.l_partkey
        GROUP BY 1, 2, 3
        HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
    )
    SELECT part_a, part_b, part_c, support, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY support DESC,
                                       part_a, part_b, part_c) AS INT) AS rk
        FROM tri
    ) r WHERE rk <= {_TRI_TOP}
    ORDER BY rk
    """,
)
def market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-3 frequent-itemset mining: part triples co-purchased in ≥
    {_TRI_MIN_SUPPORT} orders, top {_TRI_TOP} by support — one lattice
    level above market_basket_lift's pairs (the Apriori step: a frequent
    triple's three sub-pairs are frequent, which is why the pair query's
    output prunes this one's search space in a production chain).

    Scale: the double within-order self-join is Σ C(lines_per_order, 3)-
    bounded — lines-per-order is bounded by the order schema (TPC-H ≤ 7,
    C(7,3) = 35), so the fan-out is LINEAR in the fact table, not cubic
    in parts. The ordered key constraints (b > a, c > b) emit each triple
    exactly once.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    c = li.distinct().select(
        F.col("l_orderkey").alias("ok3"), F.col("l_partkey").alias("part_c")
    )
    tri = (
        copurchase_half_pairs(li)
        .join(c, (F.col("ok") == F.col("ok3")) & (F.col("part_c") > F.col("dst")))
        .groupBy(
            F.col("src").alias("part_a"), F.col("dst").alias("part_b"), "part_c"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= _TRI_MIN_SUPPORT)
    )
    return (
        ranked_head(
            tri,
            [
                ("support", False),
                ("part_a", True),
                ("part_b", True),
                ("part_c", True),
            ],
            _TRI_TOP,
            "rk",
        )
        .select("part_a", "part_b", "part_c", "support", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------

_ATTR_WINDOW_S = 7 * 86400


@query(
    "purchase_attribution_last_touch",
    oracle=f"""
    WITH touched AS (
        SELECT event_type, ts,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS touch_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS touch_ts
        FROM events
    ),
    attributed AS (
        SELECT touch_type,
               CAST(date_diff('microsecond', touch_ts, ts) // 1000000
                    AS BIGINT) AS latency_s
        FROM touched
        WHERE event_type = 'purchase' AND touch_type IS NOT NULL
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(latency_s) AS BIGINT) AS total_latency_s,
           CAST(CAST(SUM(latency_s) AS BIGINT) AS DOUBLE) / COUNT(*)
               AS mean_latency_s
    FROM attributed
    WHERE latency_s <= {_ATTR_WINDOW_S}
    GROUP BY 1 ORDER BY 1
    """,
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most recent
    preceding NON-purchase event within a {_ATTR_WINDOW_S // 86400}-day
    window — the default e-commerce attribution model, built from one
    forward-scan window (last non-null over the ordered per-user frame,
    the gap-fill trick) instead of a per-purchase point lookup. Latency is
    the exact microsecond diff integer-divided to whole seconds (a
    SECOND-unit diff is engine-variant — mining_ops lesson); the mean is
    the exact integer sum divided once in double.

    Scale: one window shuffle on user_id; the attribution rollup is
    |event-types|-sized and map-side combinable.
    """
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    non_purchase_type = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    non_purchase_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    touched = e.select(
        "event_type",
        "ts",
        F.last(non_purchase_type, ignorenulls=True).over(w).alias("touch_type"),
        F.last(non_purchase_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    attributed = (
        touched.where(
            (F.col("event_type") == "purchase")
            & F.col("touch_type").isNotNull()
        )
        .select(
            "touch_type",
            F.expr("timestampdiff(MICROSECOND, touch_ts, ts) div 1000000")
            .cast("bigint")
            .alias("latency_s"),
        )
        .where(F.col("latency_s") <= _ATTR_WINDOW_S)
    )
    return (
        attributed.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("latency_s").cast("bigint").alias("total_latency_s"),
            (
                F.sum("latency_s").cast("bigint").cast("double")
                / F.count(F.lit(1))
            ).alias("mean_latency_s"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# Bloom filter false-positive audit
# ---------------------------------------------------------------------------

_BLOOM_M = 4093  # prime bit-domain
_BLOOM_K = 3


def _bloom_bit_sql(key: str, i: int) -> str:
    h = f"md5('{i}:' || {key})"
    return (
        f"(ascii(substr({h}, 1, 1)) * 65536 + ascii(substr({h}, 2, 1)) * 256"
        f" + ascii(substr({h}, 3, 1))) % {_BLOOM_M}"
    )


@query(
    "bloom_filter_fpr_audit",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h,
               doc_id % 2 = 0 AS in_corpus
        FROM documents
    ),
    corpus AS (SELECT DISTINCT h FROM keyed WHERE in_corpus),
    bits AS (
        SELECT DISTINCT bit FROM (
            SELECT {_bloom_bit_sql("h", 0)} AS bit FROM corpus
            UNION ALL SELECT {_bloom_bit_sql("h", 1)} FROM corpus
            UNION ALL SELECT {_bloom_bit_sql("h", 2)} FROM corpus
        ) u
    ),
    probes AS (
        SELECT doc_id, h,
               {_bloom_bit_sql("h", 0)} AS b0,
               {_bloom_bit_sql("h", 1)} AS b1,
               {_bloom_bit_sql("h", 2)} AS b2
        FROM keyed WHERE NOT in_corpus
    ),
    tested AS (
        -- A probe is Bloom-positive when every DISTINCT bit position among
        -- its k hashes is set (two hashes of one key can collide on a
        -- position — the set bit then satisfies both).
        SELECT p.doc_id,
               (SELECT COUNT(*) FROM bits
                WHERE bit IN (p.b0, p.b1, p.b2))
                   = len(list_distinct([p.b0, p.b1, p.b2])) AS bloom_pos,
               p.h IN (SELECT h FROM corpus) AS true_pos
        FROM probes p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(COUNT(CASE WHEN true_pos THEN 1 END) AS BIGINT) AS n_true,
           CAST(COUNT(CASE WHEN bloom_pos THEN 1 END) AS BIGINT) AS n_bloom,
           CAST(COUNT(CASE WHEN bloom_pos AND NOT true_pos THEN 1 END)
                AS BIGINT) AS n_false_pos,
           CAST(COUNT(CASE WHEN true_pos AND NOT bloom_pos THEN 1 END)
                AS BIGINT) AS n_false_neg
    FROM tested
    """,
)
def bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership audit: a k={_BLOOM_K}, m={_BLOOM_M}-bit
    filter is built over the even-doc content hashes (whitespace-
    normalized — the incremental-dedup key), then the odd docs probe it;
    the report compares Bloom positives against exact membership.
    n_false_neg MUST be 0 (the Bloom guarantee — asserted in the unit
    test); n_false_pos / (n_probes − n_true) is the realized FPR to check
    against the (1−e^{{−kn/m}})^k design point. Bits are md5-derived, so
    the filter is cross-engine reproducible.

    Scale: this is the shuffle-avoidance pattern for 100-TB anti-joins —
    the bit set is ≤ m rows (here {_BLOOM_M}) REGARDLESS of corpus size
    and broadcasts everywhere, pre-filtering the expensive exact
    anti-join down to Bloom-positive rows only. The exact check here
    audits what that prefilter would pass through.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    keyed = docs.select(
        "doc_id", h.alias("h"), (F.col("doc_id") % 2 == 0).alias("in_corpus")
    )
    corpus = keyed.where("in_corpus").select("h").distinct()

    def bit(col, i):
        hh = F.md5(F.concat(F.lit(f"{i}:"), col))
        return (
            F.ascii(F.substring(hh, 1, 1)) * 65536
            + F.ascii(F.substring(hh, 2, 1)) * 256
            + F.ascii(F.substring(hh, 3, 1))
        ) % _BLOOM_M

    bits = None
    for i in range(_BLOOM_K):
        part = corpus.select(bit(F.col("h"), i).alias("bit"))
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()

    probes = keyed.where(~F.col("in_corpus")).select(
        "doc_id",
        "h",
        *[bit(F.col("h"), i).alias(f"b{i}") for i in range(_BLOOM_K)],
    )
    # Membership of each of the k bits via k broadcast semi-join-shaped
    # left joins against the ≤m-row bit set.
    tested = probes
    for i in range(_BLOOM_K):
        tested = tested.join(
            F.broadcast(bits.select(F.col("bit").alias(f"b{i}"), F.lit(1).alias(f"hit{i}"))),
            f"b{i}",
            "left",
        )
    bloom_pos = (
        sum(F.when(F.col(f"hit{i}").isNotNull(), 1).otherwise(0) for i in range(_BLOOM_K))
        == _BLOOM_K
    )
    truth = tested.join(
        corpus.select(F.col("h"), F.lit(1).alias("member")), "h", "left"
    ).select(
        bloom_pos.alias("bloom_pos"),
        F.col("member").isNotNull().alias("true_pos"),
    )
    return truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.count(F.when(F.col("true_pos"), 1)).cast("bigint").alias("n_true"),
        F.count(F.when(F.col("bloom_pos"), 1)).cast("bigint").alias("n_bloom"),
        F.count(F.when(F.col("bloom_pos") & ~F.col("true_pos"), 1))
        .cast("bigint")
        .alias("n_false_pos"),
        F.count(F.when(F.col("true_pos") & ~F.col("bloom_pos"), 1))
        .cast("bigint")
        .alias("n_false_neg"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "purchase_attribution_linear",
    oracle=f"""
    WITH purchases AS (
        SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, event_type, ts FROM events
        WHERE event_type <> 'purchase'
    ),
    paired AS (
        SELECT p.event_id AS purchase_id, t.event_type AS touch_type
        FROM purchases p
        JOIN touches t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND date_diff('microsecond', t.ts, p.ts)
             <= CAST({_ATTR_WINDOW_S} AS BIGINT) * 1000000
    ),
    sized AS (
        SELECT purchase_id, touch_type,
               COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches
        FROM paired
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_touch_events,
           (CAST(CAST(SUM(CAST(1.0 / n_touches AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
               AS credit
    FROM sized GROUP BY 1 ORDER BY 1
    """,
)
def purchase_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit equally across ALL its touches in the
    {_ATTR_WINDOW_S // 86400}-day window (last-touch's fairer sibling —
    purchase_attribution_last_touch gives the whole unit to the newest).
    Per-touch credit 1/n is one IEEE division snapped to decimal, so
    total credit sums order-free and Σcredit = n_purchases-with-touches
    up to the snap quantum.

    Scale: the purchase-touch pairing is a per-user range join — bounded
    by events-per-user within the window, the same envelope as the
    stream-stream interval join (streaming/aggregations.py); at 100 TB
    add a coarse time-bucket equi-key to the join to cap the per-task
    fan-in (the range_join_value_bands pattern).
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    touches = e.where(F.col("event_type") != "purchase").select(
        "user_id", F.col("event_type").alias("touch_type"), F.col("ts").alias("tts")
    )
    paired = purchases.join(touches, "user_id").where(
        (F.col("tts") <= F.col("pts"))
        & (
            F.expr("timestampdiff(MICROSECOND, tts, pts)")
            <= F.lit(_ATTR_WINDOW_S * 1_000_000)
        )
    )
    w = Window.partitionBy("purchase_id")
    sized = paired.select(
        "touch_type",
        (F.lit(1.0) / F.count(F.lit(1)).over(w)).cast("decimal(38,6)").alias(
            "credit"
        ),
    )
    return (
        sized.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touch_events"),
            F.sum("credit").cast("double").alias("credit"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (exact power-set enumeration)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")  # bit order = index
_SHAP_N = len(_SHAP_CHANNELS)
_SHAP_PICO = "1000000000000.0"


def _shap_terms() -> list[tuple[str, int, int, int]]:
    """(channel, subset_mask_without_i, weight_numerator) for every
    channel i and subset S ⊆ N\\{i}; weight = |S|!(n-1-|S|)!/n! with the
    common denominator n! = 24 factored out."""
    import math

    out = []
    for i, ch in enumerate(_SHAP_CHANNELS):
        for mask in range(1 << _SHAP_N):
            if mask & (1 << i):
                continue
            s = bin(mask).count("1")
            wn = math.factorial(s) * math.factorial(_SHAP_N - 1 - s)
            out.append((ch, mask, mask | (1 << i), wn))
    return out


def _shap_oracle() -> str:
    bit_expr = " + ".join(
        f"MAX(CASE WHEN event_type = '{ch}' THEN {1 << i} ELSE 0 END)"
        for i, ch in enumerate(_SHAP_CHANNELS)
    )
    term_rows = ",".join(
        f"('{ch}',{m0},{m1},{wn})" for ch, m0, m1, wn in _shap_terms()
    )
    return f"""
    WITH ux AS (
        SELECT user_id,
               CAST({bit_expr} AS BIGINT) AS mask,
               CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    vs AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS users,
               CAST(SUM(conv) AS BIGINT) AS convs
        FROM ux GROUP BY 1
    ),
    terms(channel, m0, m1, wn) AS (VALUES {term_rows}),
    scored AS (
        SELECT t.channel,
               CAST(FLOOR(((CAST(t.wn AS DOUBLE)
                            * (COALESCE(CAST(v1.convs AS DOUBLE)
                                        / CAST(v1.users AS DOUBLE), 0.0)
                               - COALESCE(CAST(v0.convs AS DOUBLE)
                                          / CAST(v0.users AS DOUBLE), 0.0)))
                           / 24.0) * {_SHAP_PICO}) AS BIGINT) AS t_pico
        FROM terms t
        LEFT JOIN vs v0 ON v0.mask = t.m0
        LEFT JOIN vs v1 ON v1.mask = t.m1
    )
    SELECT channel,
           CAST(SUM(t_pico) AS BIGINT) AS shapley_pico,
           CAST(SUM(t_pico) AS DOUBLE) / {_SHAP_PICO} AS shapley_value
    FROM scored GROUP BY 1 ORDER BY 1
    """


@query("shapley_channel_attribution", oracle=_shap_oracle())
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953; applied to
    marketing attribution per Zhao et al., 2018): each non-purchase
    event type is a CHANNEL, each user's exposure set is the subset of
    channels they touched, the coalition worth v(S) is the observed
    conversion (purchase) rate of users with exposure set exactly S
    (0 for unobserved coalitions), and each channel's credit is its
    exact Shapley value over the {_SHAP_N}-channel power set — the
    axiomatic completion of the attribution trio (last-touch credits the
    final channel, linear splits evenly, Shapley splits by marginal
    contribution over ALL coalition orders). With {_SHAP_N} channels the
    2^{_SHAP_N}-set enumeration is exact — no sampling, no Monte Carlo.

    Determinism: the per-(channel, subset) term weight |S|!(n-1-|S|)!/n!
    rides as an integer numerator over the common 24; each term is a
    pinned-order float expression on exact-integer-valued doubles,
    FLOOR-quantized to integer picounits (the pagerank pattern — floors,
    not decimal casts), and the per-channel total is an order-free
    integer SUM.

    Scale: ONE data-sized aggregate (per-user exposure bitmask + convert
    flag, map-side combinable), one 16-row coalition table, and a
    64-row static term join — everything after the first groupBy is
    constant work regardless of corpus size. More channels grow the
    enumeration 2^n; past ~20 channels production Shapley switches to
    permutation sampling over the same per-user masks.
    """
    ev = load_table(spark, sf_dir, "events")
    bits = None
    for i, ch in enumerate(_SHAP_CHANNELS):
        term = F.max(
            F.when(F.col("event_type") == ch, F.lit(1 << i)).otherwise(0)
        )
        bits = term if bits is None else bits + term
    ux = ev.groupBy("user_id").agg(
        bits.cast("bigint").alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("conv"),
    )
    vs = ux.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("users"),
        F.sum("conv").cast("bigint").alias("convs"),
    )
    terms = spark.createDataFrame(
        _shap_terms(), "channel string, m0 long, m1 long, wn long"
    )
    v0 = vs.select(
        F.col("mask").alias("m0"),
        (F.col("convs").cast("double") / F.col("users").cast("double")).alias(
            "v0"
        ),
    )
    v1 = vs.select(
        F.col("mask").alias("m1"),
        (F.col("convs").cast("double") / F.col("users").cast("double")).alias(
            "v1"
        ),
    )
    pico = float(_SHAP_PICO)
    t_pico = F.floor(
        (
            (
                F.col("wn").cast("double")
                * (
                    F.coalesce(F.col("v1"), F.lit(0.0))
                    - F.coalesce(F.col("v0"), F.lit(0.0))
                )
            )
            / F.lit(24.0)
        )
        * F.lit(pico)
    ).cast("bigint")
    return (
        terms.join(F.broadcast(v0), "m0", "left")
        .join(F.broadcast(v1), "m1", "left")
        .select("channel", t_pico.alias("t_pico"))
        .groupBy("channel")
        .agg(
            F.sum("t_pico").cast("bigint").alias("shapley_pico"),
            (F.sum("t_pico").cast("double") / F.lit(pico)).alias(
                "shapley_value"
            ),
        )
        .orderBy("channel")
    )
