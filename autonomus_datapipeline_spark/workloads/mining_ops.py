"""Pattern-mining and iterative-ML workloads: association rules, funnel
timing, sweep-line interval counting, similarity-graph construction,
Pareto-concentration, corpus novelty decay, seasonality, and an unrolled
Lloyd (k-means) iteration pair.

Second round-5 batch. Registered after the 50-query driver block, so
these enter the driver's correctness file in the NEXT round; every one is
oracle-checked by the local gate (tools/check_oracles.py and
tests/test_queries_oracle.py) from day one.

Determinism notes follow the repo discipline (registry docstring):
integer cross-multiplication for rank cuts, decimal accumulators for any
double sum, floor-quantization for iterative self-feeding values
(k-means centroid means — same lesson as pagerank_copurchase), and total
tiebreak orders on every ranking.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators import dedup
from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_ntile,
    with_global_running,
)
from autonomus_datapipeline_spark.workloads.pipeline_ops import (
    _TOKS,
    _e4_sql,
    _sql_shingles,
)
from autonomus_datapipeline_spark.operators.text import _e4_half_up
from autonomus_datapipeline_spark.workloads.graph_common import copurchase_half_pairs
from autonomus_datapipeline_spark.workloads.registry import (
    EVENTS_SPAN_SECONDS_BOUNDS,
    ORDER_TOTALPRICE_BOUNDS,
    ORDERDATE_EPOCH_DAY_BOUNDS,
    descale6,
    dsum,
    load_table,
    materialize_input,
    query,
    sql_dsum,
)

# ---------------------------------------------------------------------------
# Association rules over co-purchase pairs
# ---------------------------------------------------------------------------

_MBL_MIN_SUPPORT = 3
_MBL_TOP = 30


@query(
    "market_basket_lift",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM op),
    sup AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM op
            GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                AND b.l_partkey > a.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_MBL_MIN_SUPPORT}
    )
    SELECT part_a, part_b, n_ab, sa.n AS n_a, sb.n AS n_b,
           CAST(n_ab AS DOUBLE) * t.n_orders
             / (CAST(sa.n AS DOUBLE) * sb.n) AS lift,
           CAST(n_ab AS DOUBLE) / sa.n AS confidence_ab
    FROM pairs
    JOIN sup sa ON sa.l_partkey = part_a
    JOIN sup sb ON sb.l_partkey = part_b
    CROSS JOIN tot t
    ORDER BY lift DESC, part_a, part_b
    LIMIT {_MBL_TOP}
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining on the co-purchase graph: for every part
    pair with support ≥ {_MBL_MIN_SUPPORT} orders, lift = P(ab)/(P(a)·P(b))
    and confidence(a→b) — the rule-quality metrics layered on
    copurchase_pairs' raw support counts (audit_ops.py).

    Scale: the within-order self-join is Σ C(lines,2)-bounded (linear in
    the fact table); part supports are a catalog-sized dimension joined
    after the HAVING prunes the pair set. Lift and confidence are fixed
    IEEE expressions over exact counts — engine-identical without
    rounding.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    op = li.distinct()
    tot = op.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    sup = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    pairs = (
        copurchase_half_pairs(li)
        .groupBy(F.col("src").alias("part_a"), F.col("dst").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= _MBL_MIN_SUPPORT)
    )
    sa = sup.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    sb = sup.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    lift = (
        F.col("n_ab").cast("double") * F.col("n_orders")
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            lift.alias("lift"),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence_ab"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(_MBL_TOP)
    )


# ---------------------------------------------------------------------------
# Funnel time-to-conversion distribution
# ---------------------------------------------------------------------------


@query(
    "funnel_time_to_conversion",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ),
    conv AS (
        SELECT s.user_id,
               CAST(date_diff('microsecond', s.signup_ts, MIN(e.ts))
                    // 1000000 AS BIGINT) AS delta_s
        FROM s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= s.signup_ts
        GROUP BY s.user_id, s.signup_ts
    ),
    hist AS (SELECT delta_s AS v, COUNT(*) AS c FROM conv GROUP BY 1),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(v) AS BIGINT) AS min_secs,
           CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT)
               AS median_secs,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN v END) AS BIGINT)
               AS p90_secs,
           CAST(MAX(v) AS BIGINT) AS max_secs
    FROM cum
    """,
)
def funnel_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion-latency distribution: per user, the time
    from first signup to the first purchase at-or-after it, summarized as
    exact min/median/p90/max via the value-histogram method (no global
    sort, no approx sketch — grouped_token_quantiles' trick on a
    whole-second latency domain).

    Scale: both event extractions are filtered scans aggregated on
    user_id (one shuffle, map-side combinable); the histogram window runs
    on the bounded latency-value domain. Truncating to whole seconds is
    engine-identical (both floor a positive microsecond difference).
    """
    e = load_table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        s.join(p, "user_id")
        .where(F.col("pts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("pts").alias("first_purchase"))
        .select(
            # Exact microsecond difference floor-divided to whole seconds:
            # a SECOND-unit diff is engine-variant (DuckDB counts boundary
            # crossings, Spark truncates the difference).
            F.expr(
                "timestampdiff(MICROSECOND, signup_ts, first_purchase)"
                " div 1000000"
            )
            .cast("bigint")
            .alias("delta_s")
        )
    )
    hist = conv.groupBy(F.col("delta_s").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = with_global_running(
        hist, [("v", True)], sums={"cum": "c"}, totals={"n": "c"},
        # a signup→purchase delta cannot exceed the events stream's fixed
        # 31-day window — skips the min/max scan (a full two-pass events
        # funnel re-execution)
        bounds=EVENTS_SPAN_SECONDS_BOUNDS,
    ).select("v", "cum", "n")
    return cum.agg(
        F.max("n").cast("bigint").alias("n_converted"),
        F.min("v").cast("bigint").alias("min_secs"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("bigint")
        .alias("median_secs"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("v")))
        .cast("bigint")
        .alias("p90_secs"),
        F.max("v").cast("bigint").alias("max_secs"),
    )


# ---------------------------------------------------------------------------
# Sweep-line interval concurrency
# ---------------------------------------------------------------------------

_IOC_DAYS = 7
_IOC_TOP = 30


@query(
    "interval_overlap_count",
    oracle=f"""
    WITH deltas AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS delta
        FROM orders GROUP BY 1
        UNION ALL
        SELECT CAST(o_orderdate + INTERVAL {_IOC_DAYS} DAY AS DATE) AS d,
               -COUNT(*) AS delta
        FROM orders GROUP BY 1
    ),
    merged AS (SELECT d, SUM(delta) AS delta FROM deltas GROUP BY 1),
    open_ AS (
        SELECT d,
               CAST(SUM(delta) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS n_open
        FROM merged
    )
    SELECT d AS day, n_open FROM open_
    ORDER BY n_open DESC, day
    LIMIT {_IOC_TOP}
    """,
)
def interval_overlap_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via the sweep line: treat each order as a
    {_IOC_DAYS}-day open interval, emit +n/−n boundary deltas per date,
    and one cumulative window over the DATE GRID yields how many orders
    are open on every day — O(n) against the naive interval self-join's
    O(n²), and the window input is calendar-bounded at any corpus size
    (the same grid-reduction trick as pareto_frontier_orders). Top
    {_IOC_TOP} busiest days, date tiebreak. All-integer.
    """
    o = load_table(spark, sf_dir, "orders")
    starts = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("delta")
    )
    ends = o.groupBy(
        F.date_add(F.col("o_orderdate").cast("date"), _IOC_DAYS).alias("d")
    ).agg((-F.count(F.lit(1))).alias("delta"))
    merged = (
        starts.unionByName(ends)
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    return (
        with_global_running(
            merged,
            [("d", True)],
            sums={"n_open": "delta"},
            # dbgen calendar envelope (+ the fixed open-window length) —
            # skips the min/max scan, which would re-run both daily aggs
            bounds=(
                ORDERDATE_EPOCH_DAY_BOUNDS[0],
                ORDERDATE_EPOCH_DAY_BOUNDS[1] + _IOC_DAYS,
            ),
        )
        .select(
            F.col("d").alias("day"), F.col("n_open").cast("bigint").alias("n_open")
        )
        .orderBy(F.desc("n_open"), "day")
        .limit(_IOC_TOP)
    )


# ---------------------------------------------------------------------------
# Jaccard k-NN graph construction
# ---------------------------------------------------------------------------

_JKG_SHINGLE = 3
_JKG_MAX_DF = 25
_JKG_K = 3


@query(
    "jaccard_knn_graph",
    oracle=f"""
    WITH {_sql_shingles(_JKG_SHINGLE)},
    rare AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) <= {_JKG_MAX_DF}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ),
    sym AS (
        SELECT doc_a AS doc_id, doc_b AS neighbor_id, jaccard FROM jac
        UNION ALL
        SELECT doc_b, doc_a, jaccard FROM jac
    )
    SELECT doc_id, neighbor_id, jaccard, rk FROM (
        SELECT doc_id, neighbor_id, jaccard,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY jaccard DESC, neighbor_id)
                    AS INT) AS rk
        FROM sym
    ) r WHERE rk <= {_JKG_K}
    """,
)
def jaccard_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-graph construction: each document's top-{_JKG_K}
    neighbors by capped n-gram Jaccard — the k-NN graph that clustering
    (connected components, label propagation) and graph-based dedup run
    on. Built from the df-capped inverted-index pair join (same bound as
    ngram_jaccard_capped), symmetrized, then one per-doc ranking window
    with a total tiebreak.

    Scale: pair generation is Σ min(df,cap)²; symmetrization doubles the
    edge list (still pair-bounded ≪ n²); the window shuffles on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _JKG_SHINGLE)
    # Eager materialization: the symmetrizing union below reads the pair
    # table twice, and each read would otherwise re-execute the whole
    # Σ df² inverted-index join + size re-attach chain (eager, not
    # cache() — a lazily-cached table is computed concurrently by both
    # union legs before the cache fills; the simhash lesson).
    pairs = dedup.ngram_jaccard_pairs(sh, max_df=_JKG_MAX_DF).select(
        "doc_a", "doc_b", "jaccard"
    ).localCheckpoint(eager=True)
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), "neighbor_id")
    return (
        sym.select(
            "doc_id",
            "neighbor_id",
            "jaccard",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= _JKG_K)
    )


# ---------------------------------------------------------------------------
# Revenue concentration (Pareto 80/20)
# ---------------------------------------------------------------------------


@query(
    "cumulative_share_pareto80",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT o_custkey, r,
               SUM(r) OVER (ORDER BY r DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(r) OVER () AS tot,
               ROW_NUMBER() OVER (ORDER BY r DESC, o_custkey) AS rn
        FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(CASE WHEN 5 * cum >= 4 * tot THEN rn END) AS BIGINT)
               AS n_top80,
           CAST(CAST(MIN(CASE WHEN 5 * cum >= 4 * tot THEN rn END) * 20000
                     + COUNT(*) AS BIGINT)
                // (COUNT(*) * 2) AS BIGINT) AS top80_share_e4
    FROM ranked
    """,
)
def cumulative_share_pareto80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: how many customers (and what fraction of the
    customer base, as an integer ten-thousandth) produce 80 % of total
    revenue — the Pareto-80/20 report. The 80 % cut is the integer-exact
    cross-multiplication 5·cum ≥ 4·total evaluated on EXACT DECIMAL
    revenue sums, so the threshold row is engine-identical (a double
    cumulative sum would make the boundary row order-dependent).

    Scale: per-customer revenue is one map-side-combinable aggregate; the
    ranked cumulative sum is a distributed prefix-sum over |customers|
    (operators/prefix_sum.py — an unpartitioned window would pull every
    customer through one task; Spark never range-partitions a window
    with an empty partition spec).
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    # revenue sums have no spec envelope, so the rank's min/max scan cannot
    # be skipped — materialize the |customers|-sized rollup once instead of
    # re-running the orders rollup per prefix-sum branch.
    rev = materialize_input(rev)
    ranked = with_global_running(
        rev,
        [("r", False), ("o_custkey", True)],
        sums={"cum": "r"},
        row_number="rn",
        totals={"tot": "r"},
    ).select("cum", "tot", "rn")
    n_top80 = F.min(
        F.when(5 * F.col("cum") >= 4 * F.col("tot"), F.col("rn"))
    ).cast("bigint")
    n_customers = F.count(F.lit(1)).cast("bigint")
    return ranked.agg(
        n_customers.alias("n_customers"),
        n_top80.alias("n_top80"),
        _e4_half_up(n_top80, n_customers).cast("bigint").alias("top80_share_e4"),
    )


# ---------------------------------------------------------------------------
# Corpus novelty decay
# ---------------------------------------------------------------------------

_NOV_SHINGLE = 3


@query(
    "ngram_novelty_decay",
    oracle=f"""
    WITH {_sql_shingles(_NOV_SHINGLE)},
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
    ),
    per_doc AS (
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_sh,
               CAST(COUNT(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                    AS BIGINT) AS n_novel
        FROM sh JOIN first_seen f ON f.shingle = sh.shingle
        GROUP BY 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_sh) AS BIGINT) AS total_shingles,
           CAST(SUM(p.n_novel) AS BIGINT) AS novel_shingles,
           CAST({_e4_sql("SUM(p.n_novel)", "SUM(p.n_sh)")} AS BIGINT)
               AS novelty_e4
    FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty audit: per source, the fraction of document
    {_NOV_SHINGLE}-grams first introduced by that document (in doc_id
    ingestion order) — the diminishing-returns curve behind 'is more of
    this source still adding new content?'. A source whose novelty ratio
    collapses is re-crawling what the corpus already has (the macro twin
    of the per-pair dedup operators).

    Scale: first-seen is one min-aggregate on the shingle (vocabulary-
    keyed); the per-doc rollup re-joins it on the shingle — both
    shuffle-linear. Novelty is the integer half-up ten-thousandth.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _NOV_SHINGLE)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sh"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_sh").cast("bigint").alias("total_shingles"),
            F.sum("n_novel").cast("bigint").alias("novel_shingles"),
            _e4_half_up(F.sum("n_novel"), F.sum("n_sh"))
            .cast("bigint")
            .alias("novelty_e4"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Weekday seasonality index
# ---------------------------------------------------------------------------


@query(
    "weekday_seasonality_index",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT event_type, SUM(n) AS t FROM c GROUP BY 1)
    SELECT c.event_type, c.dow, c.n,
           7.0 * c.n / t.t AS seasonality
    FROM c JOIN tot t ON t.event_type = c.event_type
    ORDER BY c.event_type, c.dow
    """,
)
def weekday_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: 7·share, so 1.0 = perfectly
    uniform traffic and 2.0 = a day carrying twice its share — the
    pre-forecasting seasonal profile. dow is Sunday=1..Saturday=7 —
    Spark's dayofweek convention; DuckDB's dayofweek is Sunday=0, so the
    oracle shifts by one.

    One map-side-combinable aggregate to a |types|×7 grid; the index is a
    single multiply-divide of exact counts.
    """
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = c.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        c.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "dow",
            "n",
            (F.lit(7.0) * F.col("n") / F.col("t")).alias("seasonality"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# Two unrolled Lloyd (k-means) iterations
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64
_KM_DEC = "decimal(30,12)"

_KM_DIST_SQL = (
    "SUM(CAST((CAST(a.embedding[p] AS DOUBLE) - {c})"
    " * (CAST(a.embedding[p] AS DOUBLE) - {c}) AS DECIMAL(30,12)))"
)


def _km_dist_exact(x: Column, c: Column) -> Column:
    """Exact (order-free) squared L2 distance between two arrays: per-dim
    squared difference in IEEE double, snapped to decimal, folded with
    per-add re-cast (the dot_exact pattern, operators/similarity.py)."""
    diffs = F.zip_with(
        x,
        c,
        lambda a, b: (
            (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double"))
        ).cast(_KM_DEC),
    )
    return F.aggregate(
        diffs, F.lit(0).cast(_KM_DEC), lambda acc, v: (acc + v).cast(_KM_DEC)
    )


def _km_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist): nearest centroid per vector, ties broken on
    the lower cluster id. Centroid side is k rows — broadcast."""
    scored = emb.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cluster",
        _km_dist_exact(F.col("embedding"), F.col("centroid"))
        .cast("double")
        .alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    return (
        scored.select(
            "vec_id", "cluster", "dist", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _km_update(emb: DataFrame, assign: DataFrame) -> DataFrame:
    """(cluster, centroid): per-dim mean of the assigned vectors, computed
    as exact-decimal sum / count in double, re-assembled into an array
    ordered by dimension."""
    dims = assign.join(emb, "vec_id").select(
        "cluster", F.posexplode("embedding").alias("pos", "x")
    )
    means = dims.groupBy("cluster", "pos").agg(
        (
            descale6(F.sum(F.col("x").cast("double").cast("decimal(38,6)")))
            / F.count(F.lit(1))
        ).alias("v")
    )
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s.getField("v"),
        ).alias("centroid")
    )


@query(
    "kmeans_2iter_clusters",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cluster, embedding FROM embeddings
        WHERE vec_id < {_KM_K}
    ),
    d1 AS (
        SELECT a.vec_id, s.cluster,
               CAST({_KM_DIST_SQL.format(c="CAST(s.embedding[p] AS DOUBLE)")}
                    AS DOUBLE) AS dist
        FROM embeddings a, seeds s, range(1, {_KM_DIM + 1}) t(p)
        GROUP BY 1, 2
    ),
    a1 AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d1
        ) r WHERE rn = 1
    ),
    cent1 AS (
        SELECT a1.cluster, t.p,
               (CAST(CAST(SUM(CAST(CAST(e.embedding[t.p] AS DOUBLE)
                             AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) / COUNT(*) AS v
        FROM a1 JOIN embeddings e USING (vec_id),
             range(1, {_KM_DIM + 1}) t(p)
        GROUP BY 1, 2
    ),
    d2 AS (
        SELECT a.vec_id, c.cluster,
               CAST(SUM(CAST((CAST(a.embedding[c.p] AS DOUBLE) - c.v)
                             * (CAST(a.embedding[c.p] AS DOUBLE) - c.v)
                             AS DECIMAL(30,12))) AS DOUBLE) AS dist
        FROM embeddings a, cent1 c
        GROUP BY 1, 2
    ),
    a2 AS (
        SELECT vec_id, cluster, dist FROM (
            SELECT vec_id, cluster, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM d2
        ) r WHERE rn = 1
    )
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           {sql_dsum("dist", "inertia")}
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_2iter_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled Lloyd iterations of k-means (k={_KM_K}, seeds = the
    first k vectors by id): assign → centroid update → re-assign → report
    per-cluster size and inertia. The unrolled form keeps the whole thing
    one declarative plan — the production loop shape is identical but
    re-checkpoints per iteration (pagerank_copurchase shows that loop).

    Determinism: distances fold per-dim squared differences through the
    exact decimal accumulator (order-free; the dot_exact pattern), and
    centroid means are exact-decimal sums over each cluster divided once
    in double — both engines reproduce bit-identical centroids, so the
    second assignment cannot flip. Ties (equidistant centroids) break on
    the lower cluster id.

    Scale: each assignment is one corpus scan against a broadcast k-row
    centroid table (k ≪ corpus always); the update shuffles (cluster,
    dim) partial sums — map-side combinable, k·dim output rows. This is
    exactly how Spark MLlib's KMeans structures an iteration.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("centroid")
    )
    a1 = _km_assign(emb, seeds)
    cent1 = _km_update(emb, a1.select("vec_id", "cluster"))
    a2 = _km_assign(emb, cent1)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            dsum(F.col("dist"), "inertia"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Distinctive terms per source (chi-square keyness)
# ---------------------------------------------------------------------------

_KEY_TOP = 3


@query(
    "source_distinctive_terms_chi2",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    cells AS (
        SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS o
        FROM tok GROUP BY 1, 2
    ),
    rm AS (SELECT source, SUM(o) AS rt FROM cells GROUP BY 1),
    cm AS (SELECT tok, SUM(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM cells),
    scored AS (
        SELECT c.source, c.tok, CAST(c.o AS BIGINT) AS n,
               (c.o - r.rt * cl.ct / t.n) * (c.o - r.rt * cl.ct / t.n)
                 / (r.rt * cl.ct / t.n) AS chi2,
               c.o > r.rt * cl.ct / t.n AS over_represented
        FROM cells c
        JOIN rm r ON r.source = c.source
        JOIN cm cl ON cl.tok = c.tok
        CROSS JOIN tot t
    )
    SELECT source, tok, n, chi2, over_represented, rk FROM (
        SELECT source, tok, n, chi2, over_represented,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY chi2 DESC, tok) AS INT) AS rk
        FROM scored
    ) r WHERE rk <= {_KEY_TOP}
    ORDER BY source, rk
    """,
)
def source_distinctive_terms_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness analysis: the {_KEY_TOP} most distinctive tokens per source
    by chi-square contribution against the corpus-wide token margins —
    'what does this source talk about that the rest of the corpus
    doesn't'. over_represented distinguishes a distinctive surplus from a
    distinctive absence. The text twin of chi_square_event_hour
    (analytics_ops.py), per-cell instead of summed.

    Scale: the (source, token) contingency table is one map-side-
    combinable aggregate, vocabulary×sources-bounded; margins broadcast;
    per-cell chi² is a fixed IEEE expression over exact counts (no sum →
    no accumulator needed). Ranking window per source with tok tiebreak.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    cells = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    rm = cells.groupBy("source").agg(F.sum("o").alias("rt"))
    cm = cells.groupBy("tok").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    expected = F.col("rt") * F.col("ct") / F.col("n")
    chi2 = (F.col("o") - expected) * (F.col("o") - expected) / expected
    scored = (
        cells.join(F.broadcast(rm), "source")
        .join(F.broadcast(cm), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "tok",
            F.col("o").cast("bigint").alias("n"),
            chi2.alias("chi2"),
            (F.col("o") > expected).alias("over_represented"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("chi2"), "tok")
    return (
        scored.select(
            "source",
            "tok",
            "n",
            "chi2",
            "over_represented",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= _KEY_TOP)
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_ANCHOR = "2001-08-02"
# Epoch-day number of the anchor, derived from the SAME string constant so
# the recency envelope below can never drift from the anchor (r15 ADVICE:
# the magic 11536.0 duplicated the anchor date).
_RFM_ANCHOR_EPOCH_DAY = float(
    (_dt.date.fromisoformat(_RFM_ANCHOR) - _dt.date(1970, 1, 1)).days
)


@query(
    "rfm_segmentation",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                              DATE '{_RFM_ANCHOR}') AS BIGINT) AS recency,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS monetary
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT o_custkey, monetary,
               CAST(NTILE(5) OVER (ORDER BY recency, o_custkey) AS INT) AS r,
               CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)
                    AS INT) AS f,
               CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey)
                    AS INT) AS m
        FROM rfm
    )
    SELECT CAST(r * 100 + f * 10 + m AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM cube: every customer scored into
    recency/frequency/monetary quintiles (1 = best), concatenated into a
    3-digit segment, rolled up to segment sizes and revenue. NTILE is
    deterministic here because every ordering carries the custkey total
    tiebreak; monetary sums stay in exact decimal until the final cast.

    Scale: one aggregate over orders (map-side combinable on custkey);
    each quintile is a distributed NTILE (bucketed prefix-sum row numbers
    + exact NTILE arithmetic, operators/prefix_sum.py) over the
    |customers| rollup — the previous unpartitioned-NTILE windows would
    each pull every customer through a single task; the segment rollup is
    125 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    # Deliberately NOT cache()d: the three quintile passes and the scored
    # base all read this rollup, but a cache() here measured 2.6× SLOWER
    # cold (5.6 vs 2.1 s at sf0.1) — pinning the subtree as an
    # InMemoryRelation blocks AQE's runtime replanning of every downstream
    # join, which costs more than the three extra map-side-combinable
    # re-aggregations it saves.
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"),
            F.max("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("recency"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("monetary"),
    )
    # Three INDEPENDENT slim NTILEs joined back on custkey — chaining the
    # three with_global_ntile calls would feed each one the previous one's
    # whole plan as input (the prefix-sum machinery reads its input from
    # several subplans, so plan size and recompute compound per link:
    # measured 8.8 s; this shape runs sub-second and each quintile sort
    # shuffles only (custkey, metric)).
    def tile(metric: str, asc: bool, out: str, bounds=None):
        return with_global_ntile(
            rfm.select("o_custkey", metric),
            [(metric, asc), ("o_custkey", True)],
            5,
            out,
            bounds=bounds,
        ).select("o_custkey", out)

    # recency is calendar-bounded (anchor − orderdate envelope), so its
    # quintile skips the min/max scan — one fewer full orders rollup pass;
    # frequency/monetary have no generator-spec envelope and keep theirs.
    recency_bounds = (
        _RFM_ANCHOR_EPOCH_DAY - ORDERDATE_EPOCH_DAY_BOUNDS[1],
        _RFM_ANCHOR_EPOCH_DAY - ORDERDATE_EPOCH_DAY_BOUNDS[0],
    )
    scored = (
        rfm.select("o_custkey", "monetary")
        .join(tile("recency", True, "r", recency_bounds), "o_custkey")
        .join(tile("frequency", False, "f"), "o_custkey")
        .join(tile("monetary", False, "m"), "o_custkey")
        .select("monetary", "r", "f", "m")
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("int")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("monetary").cast("double").alias("total_monetary"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Decile calibration table
# ---------------------------------------------------------------------------


@query(
    "order_value_decile_calibration",
    oracle="""
    WITH scored AS (
        SELECT o_totalprice,
               CAST(NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey)
                    AS INT) AS decile
        FROM orders
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6)
             / COUNT(*) AS avg_price
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def order_value_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration table: orders cut into ten equal-count value
    bands (NTILE with a total tiebreak), with per-band count, min/max and
    exact-decimal mean — the monotonic lookup used to calibrate scores
    against realized value and to spot heavy-tail concentration.

    Scale: the decile cut is a distributed NTILE over RAW orders
    (bucketed prefix-sum — Spark's unpartitioned NTILE window would sort
    the whole fact table in one task), then a 10-row rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    scored = with_global_ntile(
        o.select("o_totalprice", "o_orderkey"),
        [("o_totalprice", False), ("o_orderkey", True)],
        10,
        "decile",
        # generator price envelope — skips the min/max scan (a second
        # full orders pass)
        bounds=ORDER_TOTALPRICE_BOUNDS,
    ).select("o_totalprice", "decile")
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            (
                descale6(F.sum(F.col("o_totalprice").cast("decimal(38,6)")))
                / F.count(F.lit(1))
            ).alias("avg_price"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Sequential pattern support (event bigrams by distinct-user support)
# ---------------------------------------------------------------------------

_SEQ_TOP = 10


@query(
    "event_bigram_support",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type
        FROM events
    ),
    bigrams AS (
        SELECT prev_type, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_support
        FROM lagged WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, event_type, n_occurrences, user_support, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY user_support DESC,
                                       n_occurrences DESC,
                                       prev_type, event_type) AS INT) AS rk
        FROM bigrams
    ) r WHERE rk <= {_SEQ_TOP}
    ORDER BY rk
    """,
)
def event_bigram_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, length-2: consecutive event-type bigrams
    per user, ranked by DISTINCT-USER support (the GSP/PrefixSpan support
    notion — a pattern ten users hit once each beats one user looping it
    ten times; event_transition_matrix counts raw transitions instead).

    Scale: one lag window per user (single shuffle on user_id), then a
    |types|²-bounded aggregate carrying both occurrence and distinct-user
    counts. All-integer output with a four-level total tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
    ).where(F.col("prev_type").isNotNull())
    bigrams = lagged.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("user_id").cast("bigint").alias("user_support"),
    )
    return (
        ranked_head(
            bigrams,
            [
                ("user_support", False),
                ("n_occurrences", False),
                ("prev_type", True),
                ("event_type", True),
            ],
            _SEQ_TOP,
            "rk",
        )
        .select("prev_type", "event_type", "n_occurrences", "user_support", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Sequential pattern support, length 3
# ---------------------------------------------------------------------------


@query(
    "event_trigram_support",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id,
               LAG(event_type, 2) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS t1,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS t2,
               event_type AS t3
        FROM events
    ),
    trigrams AS (
        SELECT t1, t2, t3,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS user_support
        FROM lagged WHERE t1 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT t1, t2, t3, n_occurrences, user_support, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY user_support DESC,
                                       n_occurrences DESC,
                                       t1, t2, t3) AS INT) AS rk
        FROM trigrams
    ) r WHERE rk <= {_SEQ_TOP}
    ORDER BY rk
    """,
)
def event_trigram_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, length-3: consecutive event-type
    trigrams per user ranked by distinct-user support — the next Apriori
    level above event_bigram_support (a frequent trigram's two sub-
    bigrams are frequent, so the bigram output prunes this search in a
    production chain, exactly as market_basket_triples builds on the pair
    query).

    Scale: the same single per-user window shuffle as the bigram query
    (LAG at two offsets rides one sort), then a |types|³-bounded
    aggregate. All-integer with a five-level total tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type").over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).where(F.col("t1").isNotNull())
    trigrams = lagged.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.count_distinct("user_id").cast("bigint").alias("user_support"),
    )
    return (
        ranked_head(
            trigrams,
            [
                ("user_support", False),
                ("n_occurrences", False),
                ("t1", True),
                ("t2", True),
                ("t3", True),
            ],
            _SEQ_TOP,
            "rk",
        )
        .select("t1", "t2", "t3", "n_occurrences", "user_support", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (train/eval split)
# ---------------------------------------------------------------------------

_MKV_HIGH_HEX = "('8','9','a','b','c','d','e','f')"


@query(
    "markov_transition_accuracy",
    oracle=f"""
    WITH lagged AS (
        SELECT user_id,
               substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN {_MKV_HIGH_HEX} AS is_train,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type
        FROM events
    ),
    trans AS (
        SELECT * FROM lagged WHERE prev_type IS NOT NULL
    ),
    model AS (
        SELECT prev_type, event_type AS predicted FROM (
            SELECT prev_type, event_type,
                   ROW_NUMBER() OVER (PARTITION BY prev_type
                                      ORDER BY COUNT(*) DESC, event_type)
                       AS rn
            FROM trans WHERE is_train
            GROUP BY 1, 2
        ) r WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(COUNT(CASE WHEN t.event_type = m.predicted THEN 1 END)
                AS BIGINT) AS n_correct,
           CAST(COUNT(CASE WHEN t.event_type = m.predicted THEN 1 END)
                AS DOUBLE) / COUNT(*) AS accuracy
    FROM trans t JOIN model m ON m.prev_type = t.prev_type
    WHERE NOT t.is_train
    """,
)
def markov_transition_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model evaluation: a first-order Markov predictor (argmax
    next event type per previous type, ties to the lexicographically
    smallest) is trained on a deterministic md5 half of the users and
    scored for top-1 accuracy on the held-out half — the train/eval-split
    harness for sequence models (knn_label_classifier is the embedding
    twin; event_transition_matrix reports the probabilities this model
    argmaxes). The split reuses content_hash_split's first-hex-digit
    convention, so membership is engine-identical.

    Scale: one lag window per user; the model is |types|²-bounded and
    broadcast into the evaluation join; accuracy is exact counts divided
    once.
    """
    e = load_table(spark, sf_dir, "events")
    is_train = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
        "8", "9", "a", "b", "c", "d", "e", "f"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = e.select(
        is_train.alias("is_train"),
        F.lag("event_type").over(w).alias("prev_type"),
        "event_type",
    ).where(F.col("prev_type").isNotNull())
    w_rk = Window.partitionBy("prev_type").orderBy(F.desc("c"), "event_type")
    model = (
        trans.where("is_train")
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "prev_type",
            F.col("event_type").alias("predicted"),
            F.row_number().over(w_rk).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    test = trans.where(~F.col("is_train")).join(F.broadcast(model), "prev_type")
    correct = F.count(F.when(F.col("event_type") == F.col("predicted"), 1))
    return test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        correct.cast("bigint").alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# k-means model selection: elbow (inertia vs k) and a silhouette proxy
# ---------------------------------------------------------------------------

_ELBOW_KS = (2, 4, 8)


@query(
    "kmeans_elbow_inertia",
    oracle=f"""
    WITH dists AS (
        SELECT k.k, a.vec_id, s.vec_id AS cluster,
               CAST({_KM_DIST_SQL.format(c="CAST(s.embedding[p] AS DOUBLE)")}
                    AS DOUBLE) AS dist
        FROM (SELECT unnest([{", ".join(str(k) for k in _ELBOW_KS)}]) AS k) k,
             embeddings a, embeddings s, range(1, {_KM_DIM + 1}) t(p)
        WHERE s.vec_id < k.k
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT k, vec_id, dist FROM (
            SELECT k, vec_id, dist,
                   ROW_NUMBER() OVER (PARTITION BY k, vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM dists
        ) r WHERE rn = 1
    )
    SELECT CAST(k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           {sql_dsum("dist", "inertia")}
    FROM best GROUP BY k ORDER BY k
    """,
)
def kmeans_elbow_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elbow-method model selection: total inertia of the first-k-vector
    seed assignment for k ∈ {_ELBOW_KS} — the curve whose knee picks k
    before running full Lloyd iterations (kmeans_2iter_clusters runs the
    iterations for the chosen k; same exact-decimal distance fold, same
    lower-cluster-id tie break). One corpus scan per k against a
    broadcast k-row seed table.

    Scale: each assignment is scan × broadcast-seeds (k ≪ corpus); the
    inertia rollup is map-side combinable to |ks| rows. The scans share
    the cached input across k values under one action.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = None
    for k in _ELBOW_KS:
        seeds = emb.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cluster"),
            F.col("embedding").alias("centroid"),
        )
        a = _km_assign(emb, seeds).select(
            F.lit(k).cast("int").alias("k"), "dist"
        )
        out = a if out is None else out.unionByName(a)
    return (
        out.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            dsum(F.col("dist"), "inertia"),
        )
        .orderBy("k")
    )


@query(
    "kmeans_silhouette_proxy",
    oracle=f"""
    WITH dists AS (
        SELECT a.vec_id, s.vec_id AS cluster,
               CAST({_KM_DIST_SQL.format(c="CAST(s.embedding[p] AS DOUBLE)")}
                    AS DOUBLE) AS dist
        FROM embeddings a, embeddings s, range(1, {_KM_DIM + 1}) t(p)
        WHERE s.vec_id < {_KM_K}
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT vec_id, cluster, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM dists
    ),
    paired AS (
        SELECT b.vec_id, b.cluster,
               b.dist AS d1, s.dist AS d2,
               CASE WHEN s.dist > b.dist
                    THEN (s.dist - b.dist) / s.dist ELSE 0 END AS sil
        FROM (SELECT * FROM ranked WHERE rn = 1) b
        JOIN (SELECT * FROM ranked WHERE rn = 2) s USING (vec_id)
    )
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           {sql_dsum("sil", "sum_silhouette")}
    FROM paired GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_silhouette_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette proxy: per vector, (d2 − d1)/d2 where d1
    and d2 are the squared distances to the best and second-best seed
    centroid (the simplified silhouette that replaces all-pairs
    intra-cluster distances — O(n·k) instead of O(n²) — which is the ONLY
    silhouette computable at 100 TB). Values near 0 mean the point sits
    on a cluster boundary; per-cluster sums rank cluster quality. The
    ratio is a fixed IEEE expression over exact-decimal-folded distances;
    sums ride the decimal accumulator.

    Scale: one scan × broadcast seeds, one per-vector ranking window over
    k rows each, one |k|-row rollup.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("centroid")
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cluster",
        _km_dist_exact(F.col("embedding"), F.col("centroid"))
        .cast("double")
        .alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster")
    ranked = scored.select(
        "vec_id", "cluster", "dist", F.row_number().over(w).alias("rn")
    )
    best = ranked.where(F.col("rn") == 1).select(
        "vec_id", "cluster", F.col("dist").alias("d1")
    )
    second = ranked.where(F.col("rn") == 2).select(
        "vec_id", F.col("dist").alias("d2")
    )
    sil = F.when(
        F.col("d2") > F.col("d1"),
        (F.col("d2") - F.col("d1")) / F.col("d2"),
    ).otherwise(F.lit(0.0))
    return (
        best.join(second, "vec_id")
        .select("cluster", sil.alias("sil"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            dsum(F.col("sil"), "sum_silhouette"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Probabilistic record linkage (Fellegi–Sunter decision model)
# ---------------------------------------------------------------------------

_FS_PRICE_BAND = 10.0   # retail-price comparison granularity
_FS_MATCH_LR = 1000.0   # upper decision threshold (lambda_match)
_FS_POSSIBLE_LR = 10.0  # lower decision threshold (lambda_possible)

_FS_ORACLE = f"""
WITH recs AS (
    SELECT p_partkey,
           string_split(p_name, ' ')[1] AS blk_word,
           p_brand AS blk_brand,
           COALESCE(string_split(p_name, ' ')[2], '') AS f_name2,
           p_type AS f_type,
           p_size AS f_size,
           CAST(FLOOR(p_retailprice / {_FS_PRICE_BAND}) AS BIGINT) AS f_price
    FROM part
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM recs),
u_name AS (
    SELECT CAST(SUM(CAST(nv AS DECIMAL(19,0)) * CAST(nv - 1 AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS num FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM recs GROUP BY f_name2
    )
),
u_type AS (
    SELECT CAST(SUM(CAST(nv AS DECIMAL(19,0)) * CAST(nv - 1 AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS num FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM recs GROUP BY f_type
    )
),
u_size AS (
    SELECT CAST(SUM(CAST(nv AS DECIMAL(19,0)) * CAST(nv - 1 AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS num FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM recs GROUP BY f_size
    )
),
u_price AS (
    SELECT CAST(SUM(CAST(nv AS DECIMAL(19,0)) * CAST(nv - 1 AS DECIMAL(19,0)))
                AS DECIMAL(38,0)) AS num FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM recs GROUP BY f_price
    )
),
pat AS (
    SELECT (a.f_name2 = b.f_name2) AS agree_name2,
           (a.f_type = b.f_type) AS agree_type,
           (a.f_size = b.f_size) AS agree_size,
           (a.f_price = b.f_price) AS agree_price,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM recs a
    JOIN recs b
      ON a.blk_brand = b.blk_brand AND a.blk_word = b.blk_word
     AND a.p_partkey < b.p_partkey
    GROUP BY 1, 2, 3, 4
),
scored AS (
    SELECT agree_name2, agree_type, agree_size, agree_price, n_pairs,
           ((m1 * m2) * m3) * m4 AS m_prob,
           ((t1 * t2) * t3) * t4 AS u_prob
    FROM (
        SELECT p.*,
            CASE WHEN agree_name2 THEN CAST(0.9 AS DOUBLE)
                 ELSE CAST(0.1 AS DOUBLE) END AS m1,
            CASE WHEN agree_type THEN CAST(0.9 AS DOUBLE)
                 ELSE CAST(0.1 AS DOUBLE) END AS m2,
            CASE WHEN agree_size THEN CAST(0.9 AS DOUBLE)
                 ELSE CAST(0.1 AS DOUBLE) END AS m3,
            CASE WHEN agree_price THEN CAST(0.9 AS DOUBLE)
                 ELSE CAST(0.1 AS DOUBLE) END AS m4,
            CASE WHEN agree_name2
                 THEN CAST(un.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 ELSE CAST(1 AS DOUBLE)
                      - CAST(un.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 END AS t1,
            CASE WHEN agree_type
                 THEN CAST(ut.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 ELSE CAST(1 AS DOUBLE)
                      - CAST(ut.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 END AS t2,
            CASE WHEN agree_size
                 THEN CAST(us.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 ELSE CAST(1 AS DOUBLE)
                      - CAST(us.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 END AS t3,
            CASE WHEN agree_price
                 THEN CAST(up.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 ELSE CAST(1 AS DOUBLE)
                      - CAST(up.num AS DOUBLE) / CAST(CAST(t.n AS DECIMAL(19,0)) * CAST(t.n - 1 AS DECIMAL(19,0)) AS DOUBLE)
                 END AS t4
        FROM pat p
        CROSS JOIN tot t
        CROSS JOIN u_name un CROSS JOIN u_type ut
        CROSS JOIN u_size us CROSS JOIN u_price up
    ) x
)
SELECT agree_name2, agree_type, agree_size, agree_price, n_pairs,
       m_prob, u_prob,
       m_prob / u_prob AS likelihood_ratio,
       CASE WHEN m_prob / u_prob >= CAST({_FS_MATCH_LR} AS DOUBLE)
                 THEN 'match'
            WHEN m_prob / u_prob >= CAST({_FS_POSSIBLE_LR} AS DOUBLE)
                 THEN 'possible'
            ELSE 'non_match' END AS decision
FROM scored
ORDER BY agree_name2 DESC, agree_type DESC, agree_size DESC,
         agree_price DESC
"""


@query("fellegi_sunter_part_linkage", oracle=_FS_ORACLE)
def fellegi_sunter_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi & Sunter (JASA 1969) decision
    model with Winkler-style fixed m-probabilities: block candidate pairs
    on (brand, first name word), compare four fields (second name word,
    type, size, price band), and classify each AGREEMENT PATTERN by its
    likelihood ratio P(pattern | match) / P(pattern | non-match) against
    the two decision thresholds ({_FS_MATCH_LR:g} / {_FS_POSSIBLE_LR:g}).
    The u-probabilities are estimated from the data exactly as the
    unordered random-pair agreement rate per field, u_f = sum_v
    n_v(n_v-1) / (N(N-1)); the m-probabilities are the fixed 0.9 used in
    production linkage when no labeled truth exists (EM-free variant —
    the reference has no linkage surface at all, this is a training-data
    extension like the dedup family it complements: dedup asks "same
    bytes/shingles", linkage asks "same real-world entity").

    Determinism / cross-engine exactness: every probability is either a
    single correctly-rounded IEEE division of two exactly-representable
    integers (u_f: counts < 2^53) or a literal (0.9/0.1), and the pattern
    products are parenthesized ((t1*t2)*t3)*t4 in BOTH engines, so each
    float cell is bit-identical — no decimal snapping needed (the
    ewma_daily_revenue lesson applied at design time).

    Scale: pair generation is a blocked self-equi-join — the FS standard;
    the blocking key bounds block size (salting or a second blocking pass
    handles a hot block at 100 TB), never all-pairs. The four u-tables
    are map-side-combinable field-frequency aggregates, each one scalar
    row broadcast into the 16-row pattern table; classification work is
    pattern-sized (2^4), not pair-sized.
    """
    p = load_table(spark, sf_dir, "part")
    name_words = F.split("p_name", " ")
    recs = p.select(
        "p_partkey",
        name_words.getItem(0).alias("blk_word"),
        F.col("p_brand").alias("blk_brand"),
        F.coalesce(name_words.getItem(1), F.lit("")).alias("f_name2"),
        F.col("p_type").alias("f_type"),
        F.col("p_size").alias("f_size"),
        F.floor(F.col("p_retailprice") / F.lit(_FS_PRICE_BAND))
        .cast("bigint")
        .alias("f_price"),
    ).localCheckpoint(eager=True)

    tot = recs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def u_num(field: str, alias: str) -> DataFrame:
        # DECIMAL product + sum: nv(nv-1) wraps bigint past nv ≈ 3e9 rows
        # in one blocking value and the total past Σ ≈ 9.2e18 (the r11
        # neyman class); num is consumed as a double ratio downstream.
        return (
            recs.groupBy(field)
            .agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
            .agg(
                F.sum(
                    F.col("nv").cast("decimal(19,0)")
                    * (F.col("nv") - 1).cast("decimal(19,0)")
                )
                .cast("decimal(38,0)")
                .alias(alias)
            )
        )

    a, b = recs.alias("a"), recs.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.blk_brand") == F.col("b.blk_brand"))
            & (F.col("a.blk_word") == F.col("b.blk_word"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            (F.col("a.f_name2") == F.col("b.f_name2")).alias("agree_name2"),
            (F.col("a.f_type") == F.col("b.f_type")).alias("agree_type"),
            (F.col("a.f_size") == F.col("b.f_size")).alias("agree_size"),
            (F.col("a.f_price") == F.col("b.f_price")).alias("agree_price"),
        )
        .groupBy("agree_name2", "agree_type", "agree_size", "agree_price")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )

    den = (
        F.col("n").cast("decimal(19,0)")
        * (F.col("n") - F.lit(1)).cast("decimal(19,0)")
    ).cast("double")

    def u_term(agree: str, num: str) -> Column:
        u = F.col(num).cast("double") / den
        return F.when(F.col(agree), u).otherwise(F.lit(1.0).cast("double") - u)

    def m_term(agree: str) -> Column:
        return F.when(F.col(agree), F.lit(0.9)).otherwise(F.lit(0.1))

    scored = (
        pat.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(u_num("f_name2", "num_name")))
        .crossJoin(F.broadcast(u_num("f_type", "num_type")))
        .crossJoin(F.broadcast(u_num("f_size", "num_size")))
        .crossJoin(F.broadcast(u_num("f_price", "num_price")))
        .withColumn(
            "m_prob",
            (
                (m_term("agree_name2") * m_term("agree_type"))
                * m_term("agree_size")
            )
            * m_term("agree_price"),
        )
        .withColumn(
            "u_prob",
            (
                (
                    u_term("agree_name2", "num_name")
                    * u_term("agree_type", "num_type")
                )
                * u_term("agree_size", "num_size")
            )
            * u_term("agree_price", "num_price"),
        )
    )
    lr = F.col("m_prob") / F.col("u_prob")
    return scored.select(
        "agree_name2",
        "agree_type",
        "agree_size",
        "agree_price",
        "n_pairs",
        "m_prob",
        "u_prob",
        lr.alias("likelihood_ratio"),
        F.when(lr >= F.lit(_FS_MATCH_LR), F.lit("match"))
        .when(lr >= F.lit(_FS_POSSIBLE_LR), F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("decision"),
    ).orderBy(
        F.desc("agree_name2"),
        F.desc("agree_type"),
        F.desc("agree_size"),
        F.desc("agree_price"),
    )
