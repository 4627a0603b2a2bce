"""Shared co-purchase pair builder for the graph and basket workload family.

Parts co-purchased within an order form a projected part-part graph. Each
registered query builds it fresh (a query must be self-contained), but the
within-order pair fan-out is written once, here:

- ``copurchase_half_pairs`` emits the (order, src, dst) half-pairs with
  src < dst. copurchase_pairs, market_basket_lift and
  market_basket_triples aggregate them into support counts directly;
- ``copurchase_edges`` turns them into the symmetric distinct edge list
  that pagerank_copurchase, label_propagation_communities,
  lpa_modularity_score, kcore_peeling_summary, the degree histogram and
  assortativity, BFS and Adamic-Adar iterate over.

Construction shape, chosen by measurement at sf0.1:

- a per-(order, part) pre-distinct feeds the self-join: it dedupes the
  ~1e-4 reordered-part rows AND hash-clusters the join input, measured
  ~1 s faster end-to-end than joining the raw fact (AB_r11.json 2×2);
- the within-order pair fan-out joins on ``src < dst`` so only HALF the
  ordered pairs flow through the distinct (the expensive shuffle — pair
  volume is Σ C(lines_per_order, 2), ~12× the order count);
- the symmetric closure is a per-row ``explode`` of both directions AFTER
  the distinct — narrow, one pass, no second shuffle and no re-run of the
  distinct aggregate;
- degrees (when requested) come from ONE count-window over the symmetric
  list instead of a groupBy + join-back — same values (deg(src) = number
  of distinct neighbors), one shuffle fewer;
- the result is localCheckpoint()ed: every consumer is iterative and would
  otherwise re-execute the fan-out once per round/consumer (the r7
  pagerank lesson).

At 100 TB the same shape holds: everything is hash-shuffle relational
algebra, the fan-out is linear in Σ k², and the checkpoint becomes a
persisted table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collections.abc import Callable

from autonomus_datapipeline_spark.workloads.registry import load_table


def copurchase_half_pairs(op: DataFrame) -> DataFrame:
    """Within-order part half-pairs (ok, src, dst) with src < dst from an
    already-loaded (l_orderkey, l_partkey) frame: Σ C(k, 2) rows over the
    k distinct parts of each order.

    Takes a DataFrame rather than (spark, sf_dir) so each caller loads
    through its own module's ``load_table`` (see ``copurchase_edges``).

    The per-(order, part) pre-distinct is measured, not incidental: r10
    dropped it and the interleaved 2×2 A/B (AB_r11.json) traced the
    co-purchase family's r10 regression to the drop (full LPA 5.05 s
    without it vs 4.08 s with it)."""
    op = op.distinct()
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src"))
    b = op.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("dst"))
    return a.join(b, (a.ok == b.ok2) & (F.col("src") < F.col("dst"))).select(
        "ok", "src", "dst"
    )


def copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    with_degrees: bool = False,
    load: Callable[[SparkSession, str, str], DataFrame] | None = None,
    build: str = "join",
) -> DataFrame:
    """Symmetric distinct part-part co-purchase edge list (src, dst[, deg]),
    eagerly materialized. ``deg`` is the degree of ``src`` (= distinct
    neighbor count; the graph is symmetric).

    ``load`` lets a caller thread its OWN module's ``load_table`` binding
    through (tests monkeypatch that binding to inject synthetic graphs —
    resolving it here would silently bypass the patch).

    ``build`` picks the construction form per call site. "join" (the
    default) distincts ``copurchase_half_pairs``' self-join output; the
    distinct sees only half the ordered pairs. "collect" folds each
    order's parts into one sorted array and expands the half-pairs from
    it: 2 exchanges instead of the join form's 3, same edge set. Two
    interleaved A/Bs (AB_r14_edges.json, 3+4 pairs) measured "collect" NET
    SLOWER over the six consumers (sum of per-query minima 27.9 s join vs
    31.7 s collect): its C(k,2) fan-out runs in the handful of
    AQE-coalesced post-groupBy partitions (2-4 tasks; the input shuffle
    is only a few MB), while the join form spreads pair generation across
    the SortMergeJoin's wider partitioning. But kcore_peeling_summary and
    pagerank_copurchase were consistently 20-25% / 10% faster on
    "collect" across four independent A/Bs (AB_r14_edges.json,
    AB_r15_edges.json, AB_r15_edges_kcore_pr.json) while lpa/label_prop/
    bfs preferred "join"; the per-query pattern held under different box
    weather, so those two consumers pin "collect"."""
    li = (load or load_table)(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey")
    if build == "collect":
        # r14 (guide §2.4, remove shuffles outright): fold each order's
        # distinct parts into ONE sorted array (collect_set dedups, so no
        # pre-distinct pass), then emit the x < y half-pairs with a narrow
        # array transform. One hash exchange on l_orderkey replaces the
        # old shape's distinct exchange on (l_orderkey, l_partkey) PLUS
        # both join re-keys on l_orderkey PLUS the SortMergeJoin itself:
        # 3 Exchanges -> 2 for the whole builder (plan in
        # plans/r14/pagerank_copurchase_*.txt), and the fact table's
        # bytes cross the wire once instead of three times. Skew-safe at
        # any scale: an order has at most a handful of parts (TPC-H <= 7),
        # so arrays are tiny and the fan-out stays Sigma C(k,2).
        # r15 re-measured the verdict-item-2 "starvation fix" (an explicit
        # width repartition between the groupBy agg and the explode, so the
        # C(k,2) fan-out cannot run in the 2-4 AQE-coalesced post-groupBy
        # tasks) and REVERTED it. Findings, in order (artifacts committed):
        # 1. repartition(n, l_orderkey) is ELIDED by EnsureRequirements —
        #    the agg output is already hashpartitioning(l_orderkey, n), so
        #    the plan silently reverts to the coalescible exchange
        #    (discovered via the builder plan dump; an A/B of this variant
        #    measures plain collect).
        # 2. The effective form — round-robin repartition(n),
        #    REPARTITION_BY_NUM, never elided/coalesced — made collect
        #    SLOWER or tied at every consumer (AB_r15_edges_fix2.json:
        #    summed min 31.3 vs join 27.3; AB_r15_edges_kcore_pr_fix2.json:
        #    kcore 2.84 vs 2.65, pagerank 3.50 vs 3.53): the extra
        #    exchange + sort-before-repartition over the grouped rows
        #    costs more than the coalesced fan-out at this scale, where
        #    C(k,2) ≤ 21 per order keeps per-task fan-out work tiny.
        # At 100 TB the repartition is ALSO unnecessary: the fan-out's
        # input shuffle is GBs there and AQE never coalesces below core
        # count (r14 note). So the lean 2-exchange collect build stays
        # repartition-free at every scale.
        half = (
            op.groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
            .where(F.size("ps") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps) - i - 1), "
                        "y -> struct(x as src, y as dst))))"
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .distinct()
        )
    else:
        half = copurchase_half_pairs(op).select("src", "dst").distinct()
    edges = half.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("e")
    ).select(F.col("e.s").alias("src"), F.col("e.d").alias("dst"))
    if with_degrees:
        edges = edges.withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src")).cast("bigint")
        )
    return edges.localCheckpoint()
