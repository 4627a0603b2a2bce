"""Data-governance and corpus-diagnostics audits: k-anonymity equivalence
classes, functional-dependency discovery, event-transition matrices, and
n-gram diversity (distinct-n) reports.

These are the audits a data platform runs BEFORE releasing a dataset —
re-identification risk, undeclared key dependencies, behavioral structure,
and synthetic-data repetitiveness. The reference engine has no counterpart
(its transform surface stops at generic projections/aggregations —
SURVEY.md §2.B); each audit here is pure built-in columnar aggregation, so
the cost at 100 TB is one or two shuffles on the audited keys.

Determinism: every reported number is an exact integer count or a single
IEEE double division of two exact integers — no libm, no interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators.prefix_sum import with_global_running
from autonomus_datapipeline_spark.workloads.graph_common import copurchase_half_pairs
from autonomus_datapipeline_spark.workloads.registry import (
    load_table,
    materialize_input,
    query,
)

_TOKS = "regexp_split_to_array(lower(text), '\\s+')"

# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON = 5
_BAL_BUCKET = 1000.0


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH q AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {_BAL_BUCKET}) AS BIGINT) AS bal_bucket
        FROM customer
    ),
    cls AS (
        SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS class_size
        FROM q GROUP BY 1, 2, 3
    )
    SELECT class_size,
           COUNT(*) AS n_classes,
           CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
           class_size < {_K_ANON} AS at_risk
    FROM cls GROUP BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk audit: rows sharing the same quasi-identifier
    tuple (nation, market segment, coarse balance bucket) form an
    equivalence class; any class smaller than k={5} means those customers
    are re-identifiable from "anonymized" data. The report is the class-size
    histogram with an at-risk flag — the number a release gate checks.

    Two exact integer aggregations: class sizes shuffle on the
    quasi-identifier tuple (bounded domain → map-side combine collapses
    hard), then the size histogram shuffles on class_size (tiny domain).
    The balance bucket is floor(x/1000) — one IEEE divide + floor, same
    bits on both engines."""
    c = load_table(spark, sf_dir, "customer")
    cls = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / _BAL_BUCKET).cast("bigint").alias(
                "bal_bucket"
            ),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return cls.groupBy("class_size").agg(
        F.count(F.lit(1)).alias("n_classes"),
        (F.col("class_size") * F.count(F.lit(1))).cast("bigint").alias("n_rows"),
        (F.col("class_size") < _K_ANON).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency discovery
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("p_brand", "p_type"),
    ("p_partkey", "p_brand"),
    ("p_type", "p_size"),
)


def _fd_sql_arm(det: str, dep: str) -> str:
    return f"""
    SELECT '{det}' AS determinant, '{dep}' AS dependent,
           COUNT(DISTINCT {det}) AS n_det_values,
           COUNT(DISTINCT ({det}, {dep})) AS n_det_dep_pairs,
           COUNT(DISTINCT {det}) = COUNT(DISTINCT ({det}, {dep})) AS fd_holds
    FROM part
    """


@query(
    "functional_dependency_audit",
    oracle=" UNION ALL ".join(_fd_sql_arm(d, p) for d, p in _FD_CANDIDATES),
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-inference audit: does column A functionally determine column
    B? (A → B holds iff every A value maps to exactly one B value, i.e.
    |distinct A| == |distinct (A,B)|.) Run over candidate pairs before
    declaring keys, denormalizing, or trusting a dimension hierarchy —
    undeclared FDs are free compression; violated ones are silent data
    bugs.

    One distinct-aggregate pair per candidate over the same scan; each is
    a shuffle on the candidate's values (column-domain-sized, not
    row-count-sized after partial aggregation). Candidate columns here are
    all non-null (TPC-H-shaped part table), so Spark's and DuckDB's
    distinct-tuple null conventions cannot diverge."""
    p = load_table(spark, sf_dir, "part")
    arms = []
    for det, dep in _FD_CANDIDATES:
        n_det = F.countDistinct(F.col(det))
        n_pair = F.countDistinct(F.struct(F.col(det), F.col(dep)))
        arms.append(
            p.agg(
                n_det.alias("n_det_values"),
                n_pair.alias("n_det_dep_pairs"),
            ).select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_det_values",
                "n_det_dep_pairs",
                (F.col("n_det_values") == F.col("n_det_dep_pairs")).alias(
                    "fd_holds"
                ),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------


@query(
    "event_transition_matrix",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    t AS (
        SELECT event_type, next_type, COUNT(*) AS n_transitions
        FROM s WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, next_type, n_transitions,
           CAST(SUM(n_transitions) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_from,
           CAST(n_transitions AS DOUBLE)
               / SUM(n_transitions) OVER (PARTITION BY event_type) AS prob
    FROM t
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for each
    ordered (event, next event) pair within a user's timeline, the
    transition count and conditional probability — the structure behind
    funnel design, anomaly detection (improbable transitions), and
    session simulation.

    LEAD over (user_id, ts) with an event_id tiebreak pins concurrent
    events deterministically; the per-user window shuffles on user_id
    (already the natural partitioning of event data), the pair counts
    collapse to |event types|² rows, and the row-normalization window runs
    over that tiny matrix. prob is one double division of two exact
    BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    t = s.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wrow = Window.partitionBy("event_type")
    n_from = F.sum("n_transitions").over(wrow)
    return t.select(
        "event_type",
        "next_type",
        "n_transitions",
        n_from.cast("bigint").alias("n_from"),
        (F.col("n_transitions").cast("double") / n_from).alias("prob"),
    )


# ---------------------------------------------------------------------------
# n-gram diversity (distinct-n) report per corpus slice
# ---------------------------------------------------------------------------


@query(
    "ngram_diversity_report",
    oracle=f"""
    WITH tg AS (
        SELECT source, doc_id,
               tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS tri
        FROM (
            SELECT source, doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
            FROM (SELECT source, doc_id, {_TOKS} AS tk FROM documents) x
        ) u
    ),
    per_doc AS (
        SELECT source, doc_id,
               COUNT(*) AS n_tri, COUNT(DISTINCT tri) AS n_uniq
        FROM tg GROUP BY 1, 2
    )
    SELECT p.source,
           CAST(SUM(p.n_tri) AS BIGINT) AS n_trigrams,
           CAST(SUM(p.n_uniq) AS BIGINT) AS n_doc_unique,
           c.n_corpus_unique,
           CAST(SUM(p.n_uniq) AS DOUBLE) / SUM(p.n_tri) AS doc_ttr,
           CAST(c.n_corpus_unique AS DOUBLE) / SUM(p.n_tri) AS corpus_ttr
    FROM per_doc p
    JOIN (
        SELECT source, COUNT(DISTINCT tri) AS n_corpus_unique
        FROM tg GROUP BY 1
    ) c ON c.source = p.source
    GROUP BY 1, 4
    """,
)
def ngram_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per corpus slice: the pooled within-document
    type/token ratio (templated or degenerate text repeats its own
    trigrams) and the corpus-level ratio (a slice whose documents are
    individually diverse but collectively identical — the synthetic-data
    signature — scores low here while doc_ttr stays high). The GAP between
    the two ratios is the cross-document repetition signal that per-doc
    quality filters cannot see.

    Two aggregations over one exploded trigram set: per-doc distincts
    shuffle on doc_id (then collapse to one row per doc), corpus distincts
    shuffle on (source, trigram). Ratios are double divisions of exact
    BIGINT sums — pooled (Σuniq/Σtotal), never a mean-of-ratios, so no
    float accumulation order exists to drift."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.lower("text"), r"\s+")
    tri = F.zip_with(
        F.slice(tk, 1, F.greatest(F.size(tk) - 2, F.lit(0))),
        F.zip_with(
            F.slice(tk, 2, F.greatest(F.size(tk) - 2, F.lit(0))),
            F.slice(tk, 3, F.greatest(F.size(tk) - 2, F.lit(0))),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    tg = docs.select("source", "doc_id", F.explode(tri).alias("tri"))
    per_doc = tg.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_tri"),
        F.countDistinct("tri").alias("n_uniq"),
    )
    corpus = tg.groupBy("source").agg(
        F.countDistinct("tri").alias("n_corpus_unique")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_tri").cast("bigint").alias("n_trigrams"),
            F.sum("n_uniq").cast("bigint").alias("n_doc_unique"),
        )
        .join(F.broadcast(corpus), "source")
        .select(
            "source",
            "n_trigrams",
            "n_doc_unique",
            "n_corpus_unique",
            (F.col("n_doc_unique").cast("double") / F.col("n_trigrams")).alias(
                "doc_ttr"
            ),
            (
                F.col("n_corpus_unique").cast("double") / F.col("n_trigrams")
            ).alias("corpus_ttr"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (orphan foreign keys)
# ---------------------------------------------------------------------------

_RI_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


def _ri_sql_arm(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{child}.{fk}' AS relationship,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} c
            WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{fk})) AS n_orphans,
           CAST((SELECT COUNT(*) FROM {child} c
                 WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{fk})) AS DOUBLE)
               / (SELECT COUNT(*) FROM {child}) AS orphan_rate
    """


@query(
    "referential_integrity_audit",
    oracle=" UNION ALL ".join(_ri_sql_arm(*r) for r in _RI_RELATIONS),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key health audit: for each declared child→parent
    relationship, how many child rows reference a missing parent (the
    silent-data-loss number every inner join in the pipeline would drop).
    Each arm is one LEFT ANTI join counted — the anti join shuffles on the
    key (parent sides that are dimension-sized broadcast automatically);
    nothing corpus-sized ever aggregates past the per-partition count.
    orphan_rate is one double division of two exact BIGINTs."""
    arms = []
    for child, fk, parent, pk in _RI_RELATIONS:
        cdf = load_table(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        pdf = load_table(spark, sf_dir, parent).select(F.col(pk).alias("pk"))
        # fully lazy: child total and orphan count are both 1-row aggregates
        # joined with a broadcast — no driver-side .count() in the query path
        totals = cdf.agg(F.count(F.lit(1)).alias("n_child_rows"))
        orphans = cdf.join(pdf, cdf.fk == pdf.pk, "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        arms.append(
            orphans.crossJoin(F.broadcast(totals)).select(
                F.lit(f"{child}.{fk}").alias("relationship"),
                "n_child_rows",
                "n_orphans",
                (
                    F.col("n_orphans").cast("double") / F.col("n_child_rows")
                ).alias("orphan_rate"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ---------------------------------------------------------------------------
# Robust outlier score (median / MAD, exact discrete selection)
# ---------------------------------------------------------------------------

_MAD_K = 3


@query(
    "robust_outlier_mad",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type, MIN(CASE WHEN 2 * rk >= n + 1 THEN value END) AS med
        FROM r GROUP BY 1
    ),
    d AS (
        SELECT r.event_type, r.value, m.med, ABS(r.value - m.med) AS adev,
               ROW_NUMBER() OVER (
                   PARTITION BY r.event_type ORDER BY ABS(r.value - m.med)
               ) AS ark,
               COUNT(*) OVER (PARTITION BY r.event_type) AS n
        FROM r JOIN med m ON m.event_type = r.event_type
    ),
    mad AS (
        SELECT event_type, MIN(CASE WHEN 2 * ark >= n + 1 THEN adev END) AS mad
        FROM d GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(d.med) AS median_value,
           MIN(x.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > {_MAD_K} * x.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad x ON x.event_type = d.event_type
    GROUP BY 1
    """,
)
def robust_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly gate: per event type, the exact discrete median and
    MAD (median absolute deviation), and how many events sit more than
    {3}×MAD from the median — the outlier count that, unlike z-scores,
    the outliers themselves cannot inflate (50% breakdown point vs 0%).

    Selection is rank-based (lower median = the STORED value at rank
    ceil(n/2)) on both engines — an actual element, so no interpolation
    float to drift.

    r15 (guide §2.3 — aggregate before you shuffle): both rank passes run
    over a COUNT-WEIGHTED (event_type, value) histogram instead of raw
    rows — `min value where 2·cum_count ≥ n+1` selects the identical
    element as `min value carrying a raw rank with 2·rk ≥ n+1` (the
    value's inclusive cumulative count IS its max raw rank), the raw
    events scan happens exactly once (the histogram is a lazy
    localCheckpoint; the old shape re-scanned events from every
    prefix-sum branch of both passes — its static plan was 246 K chars),
    and every downstream shuffle moves |distinct values| rows instead of
    |events|. The outlier/row accounting re-weights by the histogram
    count, so all four output columns are exactly the raw-row numbers
    (oracle-pinned). The pre-r15 raw-rank form lost the interleaved A/B
    (AB_r15_madhist.json: median 2.73 vs 4.55 s) and was retired
    (OPTIMIZATION_r15.md, "Retired after r15")."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    hist = materialize_input(
        ev.groupBy("event_type", "value").agg(
            F.count(F.lit(1)).cast("bigint").alias("cc")
        )
    )
    r = with_global_running(
        hist,
        [("value", True)],
        sums={"ce": "cc"},
        totals={"n": "cc"},
        partition_by=["event_type"],
    )
    med = r.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("ce") >= F.col("n") + 1, F.col("value"))).alias(
            "med"
        )
    )
    # dh is re-read by the MAD prefix-sum's branches (per-type min/max,
    # window, rollup) AND the final accounting agg — without the checkpoint
    # each branch re-runs med's whole prefix-sum pipeline (~4×). |hist|-
    # sized, so the checkpoint is cheap at any scale.
    dh = materialize_input(
        hist.join(F.broadcast(med), "event_type").withColumn(
            "adev", F.abs(F.col("value") - F.col("med"))
        )
    )
    # adev ties across two source values (med−x / med+x) are broken by
    # `value` — a total order over histogram rows; the selected MAD element
    # is tie-invariant anyway (min-when picks by adev value).
    d2 = with_global_running(
        dh,
        [("adev", True), ("value", True)],
        sums={"ace": "cc"},
        totals={"n": "cc"},
        partition_by=["event_type"],
    )
    mad = d2.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("ace") >= F.col("n") + 1, F.col("adev"))).alias(
            "mad"
        )
    )
    return (
        dh.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cc").cast("bigint").alias("n_events"),
            F.min("med").alias("median_value"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > _MAD_K * F.col("mad"), F.col("cc")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift between two slices (total variation distance, exact)
# ---------------------------------------------------------------------------


@query(
    "distribution_drift_tvd",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_a) AS BIGINT) AS na, CAST(SUM(n_b) AS BIGINT) AS nb
        FROM b
    )
    SELECT b.event_type, b.n_a, b.n_b,
           CAST(ABS(b.n_a * t.nb - b.n_b * t.na) AS DOUBLE)
               / (2.0 * t.na * t.nb) AS tvd_contribution
    FROM b CROSS JOIN tot t
    """,
)
def distribution_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the per-bucket contribution to the total
    variation distance between two slices of the corpus (here the
    even/odd event-id halves — in production, yesterday's snapshot vs
    today's). Σ of the contributions IS the TVD; a drifting bucket shows
    up directly, which a single scalar (or a log-based PSI) hides.

    Exact by cross-multiplication: |n_a·N_b − n_b·N_a| is pure BIGINT —
    no per-bucket float ratios whose summation order could drift — and
    each contribution does ONE double division at the end. One grouped
    conditional aggregation + a 1-row broadcast of the totals."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id")
    b = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    tot = b.agg(
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_a",
        "n_b",
        (
            F.abs(F.col("n_a") * F.col("nb") - F.col("n_b") * F.col("na")).cast(
                "double"
            )
            / (2.0 * F.col("na") * F.col("nb"))
        ).alias("tvd_contribution"),
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (bounded within-order pair mining)
# ---------------------------------------------------------------------------

_COP_TOP = 30


@query(
    "copurchase_pairs",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM op a
    JOIN op b ON b.l_orderkey = a.l_orderkey
            AND b.l_partkey > a.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {_COP_TOP}
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: the part pairs most often bought in the same
    order — the support counts behind co-purchase recommendations and
    frequent-itemset mining. The within-order self-join looks quadratic
    but is bounded by lines-per-order (≤7 in TPC-H-shaped data): total
    pair fan-out is Σ C(lines,2) ≈ 20× the order count — LINEAR in the
    fact table, co-partitioned on orderkey so the self-join reuses one
    shuffle. The pair aggregate shuffles on (part, part) — catalog²-bounded,
    not fact-bounded — and the top-k is TakeOrdered with a (count, pair)
    total order."""
    half = copurchase_half_pairs(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )
    return (
        half.groupBy(F.col("src").alias("part_a"), F.col("dst").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(_COP_TOP)
    )


# ---------------------------------------------------------------------------
# l-diversity audit (companion to k_anonymity_audit)
# ---------------------------------------------------------------------------

_L_DIV = 2


@query(
    "l_diversity_audit",
    oracle=f"""
    WITH q AS (
        SELECT c_nationkey,
               CAST(FLOOR(c_acctbal / {_BAL_BUCKET}) AS BIGINT) AS bal_bucket,
               c_mktsegment
        FROM customer
    ),
    cls AS (
        SELECT c_nationkey, bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS class_size,
               CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
        FROM q GROUP BY 1, 2
    )
    SELECT n_sensitive,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           n_sensitive < {_L_DIV} AS at_risk
    FROM cls GROUP BY 1 ORDER BY 1
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k_anonymity_audit's stronger companion: a
    quasi-identifier class (nation, coarse balance bucket) is at risk
    when every row in it shares the SAME sensitive value (market
    segment), because class membership then reveals the attribute even
    with k-anonymity satisfied. Reports the histogram of distinct-
    sensitive-value counts per class with the l<{_L_DIV} risk flag.

    Scale: two exact integer aggregations on bounded domains (the QI
    tuple, then the diversity count) — map-side combine collapses both;
    the sensitive-distinct count rides the same shuffle as the class
    size. Same floor-bucket portability note as k_anonymity_audit.
    """
    c = load_table(spark, sf_dir, "customer")
    cls = (
        c.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / _BAL_BUCKET)
            .cast("bigint")
            .alias("bal_bucket"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.count_distinct("c_mktsegment").cast("bigint").alias("n_sensitive"),
        )
    )
    return (
        cls.groupBy("n_sensitive")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_rows"),
        )
        .select(
            "n_sensitive",
            "n_classes",
            "n_rows",
            (F.col("n_sensitive") < _L_DIV).alias("at_risk"),
        )
        .orderBy("n_sensitive")
    )


# ---------------------------------------------------------------------------
# t-closeness audit (the third of the privacy trio)
# ---------------------------------------------------------------------------

_T_CLOSE = 0.2
_TC_SV_BUCKET = 1000.0


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH q AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(FLOOR(c_acctbal / {_TC_SV_BUCKET}) AS BIGINT) AS sv
        FROM customer
    ),
    svals AS (SELECT DISTINCT sv FROM q),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM svals),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
    cls AS (
        SELECT nat, seg, CAST(COUNT(*) AS BIGINT) AS n_g
        FROM q GROUP BY 1, 2
    ),
    cnt AS (
        SELECT nat, seg, sv, CAST(COUNT(*) AS BIGINT) AS n_gj
        FROM q GROUP BY 1, 2, 3
    ),
    gl AS (SELECT sv, CAST(COUNT(*) AS BIGINT) AS n_j FROM q GROUP BY 1),
    grid AS (
        SELECT c.nat, c.seg, c.n_g, s.sv,
               COALESCE(x.n_gj, 0) AS n_gj, g.n_j
        FROM cls c
        CROSS JOIN svals s
        JOIN gl g ON g.sv = s.sv
        LEFT JOIN cnt x ON x.nat = c.nat AND x.seg = c.seg AND x.sv = s.sv
    ),
    cum AS (
        SELECT nat, seg, n_g,
               SUM(CAST(n_gj AS DECIMAL(18,0)) * CAST(t.n AS DECIMAL(18,0))
                   - CAST(n_j AS DECIMAL(18,0)) * CAST(n_g AS DECIMAL(18,0)))
                   OVER (PARTITION BY nat, seg ORDER BY sv
                         ROWS UNBOUNDED PRECEDING) AS cd,
               t.n
        FROM grid, tot t
    ),
    emd AS (
        SELECT nat, seg, n_g, n, CAST(SUM(ABS(cd)) AS BIGINT) AS sabs
        FROM cum GROUP BY 1, 2, 3, 4
    )
    SELECT nat AS c_nationkey, seg AS c_mktsegment,
           n_g AS n_rows,
           CAST(sabs AS DOUBLE)
             / (CAST(n_g AS DOUBLE) * n * (b.b - 1)) AS emd,
           CAST(sabs AS DOUBLE)
             / (CAST(n_g AS DOUBLE) * n * (b.b - 1)) > {_T_CLOSE} AS at_risk
    FROM emd CROSS JOIN nb b
    ORDER BY 1, 2
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third of the privacy trio: k_anonymity_audit bounds class SIZE,
    l_diversity_audit bounds sensitive-value VARIETY, and this bounds the
    DISTANCE between each class's sensitive-value distribution and the
    global one — the attack both siblings miss is a class whose
    distribution is merely skewed (90% of one balance band where the
    population has 10%), which leaks the attribute probabilistically.
    Per quasi-identifier class (nation, segment): the ordered-distance
    earth-mover's distance between the class's and the table's
    distributions over ordered balance bands, EMD = Σᵢ|Σ_{{j≤i}}(p_g(j) −
    p(j))| / (B−1), flagged against t = {_T_CLOSE}.

    Exactness: every cumulative term is the INTEGER n_gj·N − N_j·n_g
    (common denominator n_g·N deferred), so the whole EMD is one exact
    integer sum divided once at the end — both operands convert to double
    exactly (< 2^53 through sf100), making the output the single
    correctly-rounded quotient in both engines with no decimal snaps
    anywhere.

    Scale: one (class, band) count over the table (map-side combinable,
    bounded domain), then all work is on the classes×bands grid —
    dimension-sized, not row-sized. The cumulative window partitions by
    class over ≤|bands| rows.
    """
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / _TC_SV_BUCKET).cast("bigint").alias("sv"),
    )
    svals = q.select("sv").distinct()
    nb = svals.agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    tot = q.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cls = q.groupBy("nat", "seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    cnt = q.groupBy("nat", "seg", "sv").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gj")
    )
    gl = q.groupBy("sv").agg(F.count(F.lit(1)).cast("bigint").alias("n_j"))
    grid = (
        cls.crossJoin(F.broadcast(svals))
        .join(F.broadcast(gl), "sv")
        .join(cnt, ["nat", "seg", "sv"], "left")
        .select(
            "nat",
            "seg",
            "n_g",
            "sv",
            F.coalesce("n_gj", F.lit(0).cast("bigint")).alias("n_gj"),
            "n_j",
        )
        .crossJoin(F.broadcast(tot))
    )
    w = (
        Window.partitionBy("nat", "seg")
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # DECIMAL(18,0) products: count·count reaches n² and wraps bigint past
    # n ≈ 3e9 table rows (the r11 neyman class); 18-digit operands keep
    # the difference within DECIMAL(37,0) on BOTH engines' width rules.
    d18 = "decimal(18,0)"
    cum = grid.withColumn(
        "cd",
        F.sum(
            F.col("n_gj").cast(d18) * F.col("n").cast(d18)
            - F.col("n_j").cast(d18) * F.col("n_g").cast(d18)
        ).over(w),
    )
    emd = cum.groupBy("nat", "seg", "n_g", "n").agg(
        F.sum(F.abs("cd")).cast("bigint").alias("sabs")
    )
    emd_val = F.col("sabs").cast("double") / (
        F.col("n_g").cast("double") * F.col("n") * (F.col("b") - 1)
    )
    return (
        emd.crossJoin(F.broadcast(nb))
        .select(
            F.col("nat").alias("c_nationkey"),
            F.col("seg").alias("c_mktsegment"),
            F.col("n_g").alias("n_rows"),
            emd_val.alias("emd"),
            (emd_val > _T_CLOSE).alias("at_risk"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Distributed table profile (per-column stats in one report)
# ---------------------------------------------------------------------------

# (column, portable display cast) — doubles render differently across
# engines, so numeric display values go through DECIMAL first.
_PROFILE_COLS = [
    ("o_orderstatus", "string"),
    ("o_orderpriority", "string"),
    ("o_custkey", "string"),
    ("o_totalprice", "decimal(38,2)"),
    ("o_orderdate", "date"),
]


@query(
    "table_profile_orders",
    oracle="""
    SELECT 'o_orderstatus' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderstatus) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderstatus) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(CAST(MIN(o_custkey) AS VARCHAR) AS VARCHAR),
           CAST(CAST(MAX(o_custkey) AS VARCHAR) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
           CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)
    FROM orders
    ORDER BY 1
    """,
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed table profile: per-column row/null/distinct counts and
    min/max in ONE report — the SQL-surface twin of the schema-inference
    field statistics (inference/schema_inference.py:153, mirroring the
    reference's per-field stats), run as a declarative plan instead of a
    driver loop. Display values are rendered portably: numerics through
    DECIMAL (double→string formatting is engine-specific), dates as ISO
    strings, keys via integer formatting.

    Scale: each column's stats are one map-side-combinable aggregate over
    the same scan; Spark collapses the union of aggregates into a
    multi-scan plan that AQE schedules together, and distinct counts ride
    their own hash shuffle. For very wide tables the same report is
    generated column-batched (this fixed five-column set is the shape
    demo). No driver-side per-column loop — the UNION is the plan.
    """
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for col, disp in _PROFILE_COLS:
        parts.append(
            o.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias("n_null"),
                F.count_distinct(col).cast("bigint").alias("n_distinct"),
                F.min(col).cast(disp).cast("string").alias("min_value"),
                F.max(col).cast(disp).cast("string").alias("max_value"),
            ).select(F.lit(col).alias("column_name"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Temporal consistency audit (cross-field date-order invariants)
# ---------------------------------------------------------------------------


@query(
    "temporal_consistency_audit",
    oracle="""
    WITH joined AS (
        SELECT o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS od,
               CAST(l.l_shipdate AS DATE) AS sd
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(CASE WHEN sd < od THEN 1 END) AS BIGINT)
               AS n_violations,
           CAST(MIN(CASE WHEN sd < od THEN o_orderkey END) AS BIGINT)
               AS sample_orderkey,
           CAST(MAX(date_diff('day', od, sd)) AS BIGINT) AS max_lead_days,
           CAST(MIN(date_diff('day', od, sd)) AS BIGINT) AS min_lead_days
    FROM joined
    """,
)
def temporal_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field temporal invariant audit: a line item must not ship
    before its order is placed — the date-order consistency rule every
    warehouse enforces alongside referential integrity
    (referential_integrity_audit checks the keys; this checks the
    physics). Reports the violation count, the smallest offending order
    key for triage, and the observed lead-time envelope. All-integer.

    Scale: one shuffled join on the order key and a scalar conditional
    aggregate — a single pass, no window.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    viol = F.when(F.col("sd") < F.col("od"), 1)
    lead = F.datediff("sd", "od")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count(viol).cast("bigint").alias("n_violations"),
        F.min(F.when(F.col("sd") < F.col("od"), F.col("o_orderkey")))
        .cast("bigint")
        .alias("sample_orderkey"),
        F.max(lead).cast("bigint").alias("max_lead_days"),
        F.min(lead).cast("bigint").alias("min_lead_days"),
    )


# ---------------------------------------------------------------------------
# Shuffle-key skew Gini (quantified partition-skew audit)
# ---------------------------------------------------------------------------


@query(
    "key_skew_gini",
    oracle="""
    WITH kc AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, user_id)
                    AS DECIMAL(38,0)) AS i,
               COUNT(*) OVER () AS n,
               SUM(x) OVER () AS s
        FROM kc
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_keys,
           CAST(MAX(s) AS BIGINT) AS n_rows,
           CAST(MAX(x) AS BIGINT) AS max_key_rows,
           CAST(CAST(MAX(x) AS DECIMAL(38,0)) * MAX(n) AS DOUBLE)
             / CAST(MAX(s) AS DECIMAL(38,0)) AS hot_key_factor,
           CAST(2 * SUM(i * CAST(x AS DECIMAL(38,0)))
                - (MAX(n) + 1) * CAST(MAX(s) AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST(MAX(n) AS DECIMAL(38,0)) * MAX(s) AS DOUBLE)
               AS skew_gini
    FROM ranked
    """,
)
def key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew quantified: the Gini coefficient of per-user row
    counts plus the hot-key factor (max key's rows ÷ fair share) — the
    two numbers that decide, BEFORE running a user-keyed join or window,
    whether operators/skew.py salting is needed (Gini ≈ 0 → uniform keys,
    hot_key_factor ≫ AQE's skew threshold → salt). Same sorted-rank
    identity as gini_revenue_concentration, applied to the key histogram
    (all-integer inputs, one double division per output).

    Scale: the key histogram is one map-side-combinable aggregate; the
    rank is a distributed prefix-sum over |keys| rows (an unpartitioned
    ranking window would serialize exactly the skewed-key table this
    query exists to diagnose); scalar output.
    """
    e = load_table(spark, sf_dir, "events")
    kc = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    # key counts have no spec envelope (skew is the point), so the min/max
    # scan cannot be skipped — materialize the |keys|-sized rollup once
    # instead of re-running the events rollup per prefix-sum branch.
    kc = materialize_input(kc)
    ranked = with_global_running(
        kc,
        [("x", True), ("user_id", True)],
        row_number="i0",
        totals={"s": "x"},
        total_count="n",
    ).select("x", F.col("i0").cast("decimal(38,0)").alias("i"), "n", "s")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_keys"),
        F.max("s").cast("bigint").alias("n_rows"),
        F.max("x").cast("bigint").alias("max_key_rows"),
        (
            (F.max("x").cast("decimal(38,0)") * F.max("n")).cast("double")
            / F.max("s").cast("decimal(38,0)").cast("double")
        ).alias("hot_key_factor"),
        (
            (
                2 * F.sum(F.col("i") * F.col("x").cast("decimal(38,0)"))
                - (F.max("n") + 1) * F.max("s").cast("decimal(38,0)")
            ).cast("double")
            / (F.max("n").cast("decimal(38,0)") * F.max("s")).cast("double")
        ).alias("skew_gini"),
    )
