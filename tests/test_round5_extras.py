"""Semantics unit tests for the round-5 cross-module additions: HITS
authority ordering on a bipartite star, grid-bucketed epsilon neighbors
across cell borders (incl. the exact-ε boundary), l-diversity risk
classes, KWIC edge contexts, and trigram tiebreak ordering."""

from __future__ import annotations

import datetime as dt

import pytest

from autonomus_datapipeline_spark.workloads import (
    analytics_ops,
    audit_ops,
    mining_ops,
    search_ops,
    text_ops2,
)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _patch(monkeypatch, module, tables: dict):
    monkeypatch.setattr(module, "load_table", lambda spark, sf, name, **kw: tables[name])


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_authority_ordering_bipartite_star(spark, monkeypatch):
    """c1 buys {p1, p2}, c2 buys {p1} → p1 outranks p2, scores are
    L1-bounded, and both iterations preserve the order."""
    orders = spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10)], "l_orderkey long, l_partkey long"
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders, "lineitem": li})
    rows = _rows(analytics_ops.hits_copurchase_2iter(spark, "x"))
    assert [r[0] for r in rows] == [10, 20]
    assert rows[0][1] > rows[1][1]  # authority_q strictly ordered
    assert rows[0][3] == 1 and rows[1][3] == 2
    assert 0.0 < sum(r[2] for r in rows) <= 1.0 + 1e-9
    # the exact picounit scores of the cached, cross-joined-totals form
    assert rows == [(10, 625000000000, 0.625, 1), (20, 375000000000, 0.375, 2)]


# ---------------------------------------------------------------------------
# Grid epsilon neighbors
# ---------------------------------------------------------------------------


def test_grid_neighbors_cross_cell_and_exact_boundary(spark, monkeypatch):
    """Points 0.05 apart sit in DIFFERENT grid cells yet are neighbors at
    exactly ε (≤ comparison); a far point has zero neighbors."""
    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [0.05, 0.0]),  # adjacent cell, distance exactly ε
            (3, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    _patch(monkeypatch, search_ops, {"embeddings": emb})
    rows = sorted(_rows(search_ops.grid_epsilon_neighbors(spark, "x")))
    assert rows == [(1, 1, False), (2, 1, False), (3, 0, False)]


# ---------------------------------------------------------------------------
# l-diversity
# ---------------------------------------------------------------------------


def test_l_diversity_flags_homogeneous_class(spark, monkeypatch):
    """A QI class whose members all share one segment is at risk; a
    two-segment class is not."""
    cust = spark.createDataFrame(
        [
            (1, 100.0, "BUILDING"),
            (1, 150.0, "BUILDING"),   # class (1, 0): one segment → risk
            (2, 100.0, "BUILDING"),
            (2, 150.0, "MACHINERY"),  # class (2, 0): two segments → ok
        ],
        "c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    _patch(monkeypatch, audit_ops, {"customer": cust})
    rows = _rows(audit_ops.l_diversity_audit(spark, "x"))
    assert rows == [(1, 1, 2, True), (2, 1, 2, False)]


# ---------------------------------------------------------------------------
# Concordance
# ---------------------------------------------------------------------------


def test_kwic_edge_contexts(spark, monkeypatch):
    """Keyword at the document start has an empty left context; at the end
    an empty right context; interior contexts clamp to 3 tokens."""
    docs = spark.createDataFrame(
        [(1, "window a b window", "s")],
        "doc_id long, text string, source string",
    )
    _patch(monkeypatch, text_ops2, {"documents": docs})
    rows = _rows(text_ops2.concordance_keyword_context(spark, "x"))
    assert rows == [
        (1, 1, "", "a b window", 1),
        (1, 4, "window a b", "", 2),
    ]


# ---------------------------------------------------------------------------
# Trigram support
# ---------------------------------------------------------------------------


def test_trigram_tiebreak_ordering(spark, monkeypatch):
    """A,B,C,B,C yields three trigrams with identical support — the
    five-level tiebreak orders them lexicographically."""
    t0 = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [
            (i, 1, t, t0 + dt.timedelta(seconds=i))
            for i, t in enumerate(["A", "B", "C", "B", "C"])
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    _patch(monkeypatch, mining_ops, {"events": events})
    rows = _rows(mining_ops.event_trigram_support(spark, "x"))
    assert rows == [
        ("A", "B", "C", 1, 1, 1),
        ("B", "C", "B", 1, 1, 2),
        ("C", "B", "C", 1, 1, 3),
    ]


# ---------------------------------------------------------------------------
# Snapshot diff
# ---------------------------------------------------------------------------


def test_snapshot_diff_classification(spark, monkeypatch):
    """Keys 1..10: old drops %3==0, new drops %7==0 and perturbs %5==0 →
    added {3,6,9}, removed {7}, changed {5,10}, unchanged {1,2,4,8}."""
    from autonomus_datapipeline_spark.workloads import incremental_ops

    orders = spark.createDataFrame(
        [(k, "O", "1-URGENT") for k in range(1, 11)],
        "o_orderkey long, o_orderstatus string, o_orderpriority string",
    )
    _patch(monkeypatch, incremental_ops, {"orders": orders})
    rows = _rows(incremental_ops.snapshot_diff_report(spark, "x"))
    assert rows == [
        ("added", 3, 3),
        ("changed", 2, 5),
        ("removed", 1, 7),
        ("unchanged", 4, 1),
    ]


# ---------------------------------------------------------------------------
# Year-over-year growth
# ---------------------------------------------------------------------------


def test_yoy_growth_ratio(spark, monkeypatch):
    from autonomus_datapipeline_spark.workloads import incremental_ops
    import datetime as _dt

    orders = spark.createDataFrame(
        [(_dt.date(2023, 5, 1), 100.0), (_dt.date(2024, 5, 1), 150.0)],
        "o_orderdate date, o_totalprice double",
    )
    _patch(monkeypatch, incremental_ops, {"orders": orders})
    rows = _rows(incremental_ops.orders_yoy_growth(spark, "x"))
    assert rows[0][0] == 2023 and rows[0][4] is None
    assert rows[1][0] == 2024 and rows[1][4] == 0.5


# ---------------------------------------------------------------------------
# Table profile
# ---------------------------------------------------------------------------


def test_table_profile_nulls_and_decimal_render(spark, monkeypatch):
    from autonomus_datapipeline_spark.workloads import audit_ops as _audit
    import datetime as _dt

    orders = spark.createDataFrame(
        [
            ("O", "1-URGENT", 1, 10.5, _dt.date(2024, 1, 1)),
            ("F", None, 2, 20.0, _dt.date(2024, 2, 1)),
        ],
        "o_orderstatus string, o_orderpriority string, o_custkey long,"
        " o_totalprice double, o_orderdate date",
    )
    _patch(monkeypatch, _audit, {"orders": orders})
    rows = {r[0]: tuple(r) for r in _rows(_audit.table_profile_orders(spark, "x"))}
    assert rows["o_orderpriority"][2] == 1          # one null
    assert rows["o_orderpriority"][3] == 1          # one distinct non-null
    assert rows["o_totalprice"][4] == "10.50"       # decimal render
    assert rows["o_orderdate"][4] == "2024-01-01"   # ISO date render
    assert rows["o_custkey"][1] == 2 and rows["o_custkey"][2] == 0


# ---------------------------------------------------------------------------
# DBSCAN
# ---------------------------------------------------------------------------


def test_dbscan_core_border_noise(spark, monkeypatch):
    """A tight 5-blob (each point sees the 4 others → core), a point within
    ε of only two cores (border, joins the blob cluster = min core id),
    and a far point (noise, NULL cluster)."""
    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),
            (2, [0.01, 0.0]),
            (3, [0.0, 0.01]),
            (4, [0.01, 0.01]),
            (5, [0.005, 0.005]),
            (6, [0.055, 0.0]),   # within ε of ids 2 and 4 only
            (7, [1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    _patch(monkeypatch, search_ops, {"embeddings": emb})
    rows = {r[0]: (r[1], r[2]) for r in _rows(search_ops.dbscan_grid_clusters(spark, "x"))}
    for vid in (1, 2, 3, 4, 5):
        assert rows[vid] == ("core", 1)
    assert rows[6] == ("border", 1)
    assert rows[7] == ("noise", None)


# ---------------------------------------------------------------------------
# LM quality buckets
# ---------------------------------------------------------------------------


def test_lm_buckets_tercile_assignment(spark, monkeypatch):
    """Two identical high-probability docs and one rarer doc: NTILE(3)
    puts the tied docs in head/middle (doc_id tiebreak) and the rare one
    in tail, with exact picounit bounds."""
    from autonomus_datapipeline_spark.workloads import curation_ops

    docs = spark.createDataFrame(
        [(1, "a b", "s"), (2, "a b", "s"), (3, "c d", "s")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(
        curation_ops, "load_table", lambda spark, sf, name, **kw: docs
    )
    rows = _rows(curation_ops.lm_score_quality_buckets(spark, "x"))
    # P(a,b) = 3/4 → 750000000000; P(c,d) = 2/3 → 666666666666
    assert rows == [
        ("head", 1, 750000000000, 750000000000),
        ("middle", 1, 750000000000, 750000000000),
        ("tail", 1, 666666666666, 666666666666),
    ]


# ---------------------------------------------------------------------------
# Temperature mixing
# ---------------------------------------------------------------------------


def test_temperature_mix_sqrt_shares(spark, monkeypatch):
    """Sources with 100 vs 400 tokens get sqrt weights 10 vs 20 → shares
    1/3 and 2/3 (α=0.5 up-weights the smaller source vs its 1/5 raw
    share)."""
    from autonomus_datapipeline_spark.workloads import curation_ops
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, " ".join(["w"] * 100), "small"), (2, " ".join(["w"] * 400), "big")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(
        curation_ops, "load_table", lambda spark, sf, name, **kw: docs
    )
    rows = _rows(curation_ops.temperature_mix_weights(spark, "x"))
    assert [(r[0], r[1], r[2]) for r in rows] == [
        ("big", 1, 400), ("small", 1, 100)
    ]
    shares = {r[0]: r[4] for r in rows}
    assert shares["small"] == _pytest.approx(1 / 3)
    assert shares["big"] == _pytest.approx(2 / 3)


# ---------------------------------------------------------------------------
# Cohort LTV
# ---------------------------------------------------------------------------


def test_cohort_ltv_month_offsets(spark, monkeypatch):
    import datetime as _dt

    orders = spark.createDataFrame(
        [
            (1, _dt.date(2024, 1, 10), 100.0),
            (1, _dt.date(2024, 3, 5), 50.0),   # offset 2
            (2, _dt.date(2024, 3, 1), 70.0),   # its own cohort, offset 0
        ],
        "o_custkey long, o_orderdate date, o_totalprice double",
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders})
    rows = _rows(analytics_ops.cohort_ltv_matrix(spark, "x"))
    assert rows == [
        (_dt.date(2024, 1, 1), 0, 1, 100.0),
        (_dt.date(2024, 1, 1), 2, 1, 50.0),
        (_dt.date(2024, 3, 1), 0, 1, 70.0),
    ]


# ---------------------------------------------------------------------------
# TWAP
# ---------------------------------------------------------------------------


def test_twap_step_interpolation(spark, monkeypatch):
    """v=12 held 10s then v=3 held 20s → TWAP = (12·10 + 3·20)/30 = 6;
    the final reading has no interval and is dropped."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 1, "m", 12.0, t0),
            (2, 1, "m", 3.0, t0 + _dt.timedelta(seconds=10)),
            (3, 1, "m", 99.0, t0 + _dt.timedelta(seconds=30)),
        ],
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    )
    _patch(monkeypatch, analytics_ops, {"events": events})
    (row,) = _rows(analytics_ops.twap_event_value(spark, "x"))
    etype, n, total_us, twap = row
    assert (etype, n, total_us) == ("m", 2, 30_000_000)
    assert twap == 6.0


# ---------------------------------------------------------------------------
# Two-proportion z-test
# ---------------------------------------------------------------------------


def test_ab_ztest_exact_value(spark, monkeypatch):
    """n1=n2=2, x1=1, x2=0 → z = 0.5/√(0.25·0.75·1) ≈ 1.1547; a customer
    with zero orders still counts as a non-conversion (LEFT join)."""
    import math as _math
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING"), (3, "MACHINERY"), (4, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, "1-URGENT"), (3, "5-LOW")],  # cust 2 and 4 have no orders
        "o_custkey long, o_orderpriority string",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: {"customer": cust, "orders": orders}[n])
    (row,) = _rows(_so.ab_conversion_ztest(spark, "x"))
    n1, x1, n2, x2, p1, p2, z = row
    assert (n1, x1, n2, x2) == (2, 1, 2, 0)
    assert z == pytest.approx(0.5 / _math.sqrt(0.25 * 0.75 * 1.0))


# ---------------------------------------------------------------------------
# SLA latency quantiles
# ---------------------------------------------------------------------------


def test_sla_quantiles_exact_histogram(spark, monkeypatch):
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import relational_ext

    orders = spark.createDataFrame(
        [(k, "1-URGENT", _dt.date(2024, 1, 1)) for k in (1, 2, 3)],
        "o_orderkey long, o_orderpriority string, o_orderdate date",
    )
    li = spark.createDataFrame(
        [(1, _dt.date(2024, 1, 2)), (2, _dt.date(2024, 1, 3)), (3, _dt.date(2024, 1, 4))],
        "l_orderkey long, l_shipdate date",
    )
    monkeypatch.setattr(
        relational_ext, "load_table",
        lambda s, d, n, **kw: {"orders": orders, "lineitem": li}[n],
    )
    (row,) = _rows(relational_ext.sla_latency_quantiles(spark, "x"))
    assert row == ("1-URGENT", 3, 1, 2, 3, 3)


# ---------------------------------------------------------------------------
# BFS hops
# ---------------------------------------------------------------------------


def test_bfs_path_graph_distances(spark, monkeypatch):
    """Path 1-2-3-4-5 (via 2-part orders): the hub is node 2 (degree tie
    broken on the key) → distance histogram {0:1, 1:2, 2:1, 3:1}."""
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3), (3, 3), (3, 4), (4, 4), (4, 5)],
        "l_orderkey long, l_partkey long",
    )
    _patch(monkeypatch, analytics_ops, {"lineitem": li})
    rows = _rows(analytics_ops.bfs_hops_from_hub(spark, "x"))
    assert rows == [(0, 1), (1, 2), (2, 1), (3, 1)]


# ---------------------------------------------------------------------------
# Seasonal-naive backtest
# ---------------------------------------------------------------------------


def test_backtest_constant_shift_error(spark, monkeypatch):
    """Train revenue 100/day, test 110/day → MAE exactly 10, MAPE 10/110."""
    import datetime as _dt

    rows_in = [
        (_dt.date(1996, 12, 22) + _dt.timedelta(days=d), 100.0) for d in range(7)
    ] + [
        (_dt.date(1997, 1, 5) + _dt.timedelta(days=d), 110.0) for d in range(7)
    ]
    orders = spark.createDataFrame(
        rows_in, "o_orderdate date, o_totalprice double"
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders})
    (row,) = _rows(analytics_ops.seasonal_naive_backtest(spark, "x"))
    n, mae, mape = row
    assert n == 7
    assert mae == pytest.approx(10.0, abs=1e-9)
    assert mape == pytest.approx(10 / 110, abs=1e-5)


# ---------------------------------------------------------------------------
# Markov accuracy
# ---------------------------------------------------------------------------


def test_markov_eval_split_and_accuracy(spark, monkeypatch):
    """Users 1,2 hash to the train half (md5 'c…'), user 6 to eval ('1…');
    the model learns A→B, the eval user hits A→B (right) and A→C (wrong)
    while B→A has no model row → accuracy 1/2 over 2 scored
    transitions."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1)
    rows_in = []
    eid = 0
    for uid, seq in [(1, "AB"), (2, "AB"), (6, "ABAC")]:
        for i, et in enumerate(seq):
            rows_in.append((eid, uid, et, t0 + _dt.timedelta(seconds=i)))
            eid += 1
    events = spark.createDataFrame(
        rows_in, "event_id long, user_id long, event_type string, ts timestamp"
    )
    _patch(monkeypatch, mining_ops, {"events": events})
    (row,) = _rows(mining_ops.markov_transition_accuracy(spark, "x"))
    assert row == (2, 1, 0.5)


# ---------------------------------------------------------------------------
# k-means model selection
# ---------------------------------------------------------------------------


def test_elbow_inertia_monotone_in_k(spark, monkeypatch):
    """More seed centroids can only lower (or keep) total inertia — the
    elbow curve must be non-increasing in k."""
    import random as _random

    rng = _random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    _patch(monkeypatch, mining_ops, {"embeddings": emb})
    rows = _rows(mining_ops.kmeans_elbow_inertia(spark, "x"))
    assert [r[0] for r in rows] == [2, 4, 8]
    assert all(r[1] == 40 for r in rows)
    inertias = [r[2] for r in rows]
    assert inertias[0] >= inertias[1] >= inertias[2]


def test_silhouette_zero_for_equidistant_boundary(spark, monkeypatch):
    """A vector equidistant from its best and second-best centroid gets
    silhouette 0; a vector that IS a seed gets d1 = 0 → silhouette 1."""
    # 8 seed vectors (ids 0..7) plus one point equidistant between seeds
    # 0 and 1 in the first coordinate.
    rows_in = []
    for i in range(8):
        v = [0.0] * 64
        v[0] = float(i)
        rows_in.append((i, v))
    mid = [0.0] * 64
    mid[0] = 0.5  # exactly between seeds 0 and 1
    rows_in.append((100, mid))
    emb = spark.createDataFrame(rows_in, "vec_id long, embedding array<double>")
    _patch(monkeypatch, mining_ops, {"embeddings": emb})
    out = _rows(mining_ops.kmeans_silhouette_proxy(spark, "x"))
    by_cluster = {r[0]: r for r in out}
    # cluster 0 holds seed 0 (sil 1) and the midpoint (sil 0) → sum 1.0
    assert by_cluster[0][1] == 2
    assert by_cluster[0][2] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# OOV rate
# ---------------------------------------------------------------------------


def test_oov_rate_split_and_rate(spark, monkeypatch):
    """doc 1 (md5 'c…' → train) supplies the vocab {a, b}; doc 6 ('1…' →
    eval) has tokens a b x y → 2 OOV of 4 → oov_e4 = 5000."""
    from autonomus_datapipeline_spark.workloads import curation_ops

    docs = spark.createDataFrame(
        [(1, "a b", "s"), (6, "a b x y", "s")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(curation_ops, "load_table", lambda s, d, n, **kw: docs)
    rows = _rows(curation_ops.oov_rate_report(spark, "x"))
    assert rows == [("s", 4, 2, 5000)]


# ---------------------------------------------------------------------------
# Closed-form OLS
# ---------------------------------------------------------------------------


def test_ols_exact_line_recovery(spark, monkeypatch):
    """Points on y = 3x + 10 exactly → slope 3, intercept 10, R² = 1."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    li = spark.createDataFrame(
        [(float(x), 3.0 * x + 10.0) for x in range(1, 6)],
        "l_quantity double, l_extendedprice double",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li)
    (row,) = _rows(_so.ols_price_quantity_fit(spark, "x"))
    n, slope, intercept, r2 = row
    assert n == 5
    assert slope == pytest.approx(3.0, abs=1e-9)
    assert intercept == pytest.approx(10.0, abs=1e-6)
    assert r2 == pytest.approx(1.0, abs=1e-12)


def test_ols_grouped_trend(spark, monkeypatch):
    """One priority with daily revenue rising 5/day fits slope 5; a flat
    priority fits slope 0."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    base = _dt.date(1992, 1, 1)
    rows_in = []
    for d in range(4):
        rows_in.append(("1-URGENT", base + _dt.timedelta(days=d), 100.0 + 5.0 * d))
        rows_in.append(("5-LOW", base + _dt.timedelta(days=d), 40.0))
    orders = spark.createDataFrame(
        rows_in, "o_orderpriority string, o_orderdate date, o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    rows = {r[0]: r for r in _rows(_so.ols_revenue_trend_by_priority(spark, "x"))}
    assert rows["1-URGENT"][2] == pytest.approx(5.0, abs=1e-9)
    assert rows["5-LOW"][2] == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------------------------
# Linear attribution
# ---------------------------------------------------------------------------


def test_linear_attribution_splits_credit(spark, monkeypatch):
    """A purchase preceded by a view and a click gives each touch type
    credit 1/2; an out-of-window touch earns nothing."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import diagnostics_ops

    t0 = _dt.datetime(2024, 1, 10, 12, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 1, "view", t0),
            (2, 1, "click", t0 + _dt.timedelta(seconds=5)),
            (3, 1, "purchase", t0 + _dt.timedelta(seconds=10)),
            (4, 2, "view", t0 - _dt.timedelta(days=8)),  # outside window
            (5, 2, "purchase", t0),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    _patch(monkeypatch, diagnostics_ops, {"events": events})
    rows = _rows(diagnostics_ops.purchase_attribution_linear(spark, "x"))
    assert rows == [("click", 1, 0.5), ("view", 1, 0.5)]


# ---------------------------------------------------------------------------
# CUPED
# ---------------------------------------------------------------------------


def test_cuped_removes_preperiod_covariate(spark, monkeypatch):
    """When post-revenue is exactly pre-revenue (y = x, θ = 1) the
    adjusted diff collapses the raw between-group gap to ~0."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING"), (3, "MACHINERY"), (4, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    pre, post = _dt.date(1995, 6, 1), _dt.date(1996, 6, 1)
    # y = x per customer; group A just has bigger customers
    orders = spark.createDataFrame(
        [
            (1, pre, 100.0), (1, post, 100.0),
            (2, pre, 300.0), (2, post, 300.0),
            (3, pre, 50.0), (3, post, 50.0),
            (4, pre, 150.0), (4, post, 150.0),
        ],
        "o_custkey long, o_orderdate date, o_totalprice double",
    )
    monkeypatch.setattr(
        _so, "load_table", lambda s, d, n, **kw: {"customer": cust, "orders": orders}[n]
    )
    (row,) = _rows(_so.cuped_adjusted_ab(spark, "x"))
    n, n1, raw, theta, adj = row
    assert (n, n1) == (4, 2)
    assert raw == pytest.approx(100.0)
    assert theta == pytest.approx(1.0)
    assert adj == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------------------------
# Quantile normalization
# ---------------------------------------------------------------------------


def test_quantile_normalize_pooled_mean_shared(spark, monkeypatch):
    """Two sources with shifted length distributions share the same pooled
    decile means, and each source's decile means are monotone."""
    from autonomus_datapipeline_spark.workloads import curation_ops

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i)), "a") for i in range(20)]
        + [(100 + i, " ".join(["w"] * (50 + i)), "b") for i in range(20)],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(curation_ops, "load_table", lambda s, d, n, **kw: docs)
    rows = _rows(curation_ops.quantile_normalize_deciles(spark, "x"))
    by_src = {}
    pooled = {}
    for src, dec, n_docs, s_mean, p_mean in rows:
        by_src.setdefault(src, []).append((dec, s_mean))
        pooled.setdefault(dec, set()).add(p_mean)
    # pooled mean is a property of the decile, identical across sources
    assert all(len(v) == 1 for v in pooled.values())
    for src, pairs in by_src.items():
        means = [m for _, m in sorted(pairs)]
        assert means == sorted(means)


# ---------------------------------------------------------------------------
# Trimmed mean
# ---------------------------------------------------------------------------


def test_trimmed_mean_drops_tails_exactly(spark, monkeypatch):
    """Values 1..20 with 5% trimmed per side: ranks (1, 19] survive →
    rank 1 keeps 0, rank 2..19 keep full, rank 20 keeps 0... precisely:
    keep-interval (1, 19] in rank space clips value 1 entirely, keeps
    2..19 fully, clips 20 → mean of 2..19 = 10.5."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    orders = spark.createDataFrame(
        [(float(v),) for v in range(1, 21)], "o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.trimmed_mean_order_value(spark, "x"))
    n_kept, tmean = row
    assert n_kept == pytest.approx(18.0)
    assert tmean == pytest.approx(10.5)


# ---------------------------------------------------------------------------
# HHI
# ---------------------------------------------------------------------------


def test_hhi_even_vs_monopoly(spark, monkeypatch):
    """Two suppliers with equal revenue → HHI = 0.5; a single-supplier
    nation → HHI = 1."""
    from autonomus_datapipeline_spark.workloads import relational_joins

    li = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 70.0)],
        "l_suppkey long, l_extendedprice double",
    )
    sup = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(10, "EVENLAND"), (20, "MONOPOLIA")], "n_nationkey long, n_name string"
    )
    monkeypatch.setattr(
        relational_joins,
        "load_table",
        lambda s, d, n, **kw: {"lineitem": li, "supplier": sup, "nation": nat}[n],
    )
    rows = {r[0]: r for r in _rows(relational_joins.hhi_supplier_concentration(spark, "x"))}
    assert rows["EVENLAND"][1] == 2 and rows["EVENLAND"][2] == pytest.approx(0.5)
    assert rows["MONOPOLIA"][1] == 1 and rows["MONOPOLIA"][2] == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Peak detection
# ---------------------------------------------------------------------------


def test_peaks_strict_and_full_window_only(spark, monkeypatch):
    """A strict local maximum in the series interior is a peak; an equal
    plateau is not; edge days (incomplete windows) never qualify."""
    import datetime as _dt

    base = _dt.date(2024, 1, 1)
    vals = [100, 100, 100, 100, 200, 100, 100, 150, 150, 100, 100, 100, 100]
    orders = spark.createDataFrame(
        [(base + _dt.timedelta(days=d), float(v)) for d, v in enumerate(vals)],
        "o_orderdate date, o_totalprice double",
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders})
    rows = _rows(analytics_ops.daily_revenue_peaks(spark, "x"))
    # only day index 4 (value 200) is a strict peak; the 150/150 plateau
    # fails the strict > on one side
    assert [r[0] for r in rows] == [base + _dt.timedelta(days=4)]


# ---------------------------------------------------------------------------
# Burrows' Delta
# ---------------------------------------------------------------------------


def test_burrows_delta_identical_sources_closest(spark, monkeypatch):
    """Two sources with identical token distributions have delta 0 and
    rank first; a divergent source ranks behind them."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta", "s1"),
            (2, "alpha beta alpha beta", "s2"),
            (3, "gamma gamma gamma beta", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    _patch(monkeypatch, text_ops2, {"documents": docs})
    rows = _rows(text_ops2.burrows_delta_stylometry(spark, "x"))
    assert rows[0][:3] == ("s1", "s2", pytest.approx(0.0))
    assert all(r[2] >= rows[0][2] for r in rows)


# ---------------------------------------------------------------------------
# LPA modularity
# ---------------------------------------------------------------------------


def test_modularity_two_cliques_positive(spark, monkeypatch):
    """Two disjoint co-purchase triangles form two perfect communities:
    Q = Σ(intra·T − deg²)/T² with T=12, intra=6, deg=6 per community →
    (2·(6·12 − 36))/144 = 0.5."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    li = spark.createDataFrame(
        [(1, p) for p in (1, 2, 3)] + [(2, p) for p in (10, 11, 12)],
        "l_orderkey long, l_partkey long",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li)
    (row,) = _rows(_so.lpa_modularity_score(spark, "x"))
    n_comm, q = row
    assert n_comm == 2
    assert q == pytest.approx(0.5)


# ---------------------------------------------------------------------------
# Winnowing match pairs
# ---------------------------------------------------------------------------


def test_winnowing_detects_shared_passage(spark, monkeypatch):
    """Two docs sharing a long passage share winnowed fingerprints (the
    no-false-negative guarantee for matches ≥ k+w−1 chars); an unrelated
    doc pairs with neither."""
    from autonomus_datapipeline_spark.workloads import pipeline_ops

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one", "s"),
            (2, "head two " + shared, "s"),
            (3, "zz qq xx totally unrelated content vv ww yy kk", "s"),
        ],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(pipeline_ops, "load_table", lambda s, d, n, **kw: docs)
    rows = _rows(pipeline_ops.winnowing_match_pairs(spark, "x"))
    assert [(r[0], r[1]) for r in rows] == [(1, 2)]
    assert rows[0][2] >= 3 and 0 < rows[0][3] <= 1


# ---------------------------------------------------------------------------
# Churn labels
# ---------------------------------------------------------------------------


def test_churn_label_right_censoring_and_flag(spark, monkeypatch):
    """User active weeks 1,2 → week-1 row not churned; user active only
    week 1 → churned; the final observed week emits no rows (censored)."""
    import datetime as _dt

    w1 = _dt.datetime(2024, 1, 1, 12)   # Monday
    w2 = w1 + _dt.timedelta(days=7)
    events = spark.createDataFrame(
        [(1, 1, w1), (2, 1, w2), (3, 2, w1)],
        "event_id long, user_id long, ts timestamp",
    )
    _patch(monkeypatch, analytics_ops, {"events": events})
    rows = _rows(analytics_ops.churn_label_table(spark, "x"))
    assert rows == [
        (1, _dt.date(2024, 1, 1), 1, 1, False),
        (2, _dt.date(2024, 1, 1), 1, 1, True),
    ]


# ---------------------------------------------------------------------------
# Covariate balance
# ---------------------------------------------------------------------------


def test_smd_balanced_groups_zero(spark, monkeypatch):
    """Identical group distributions → mean_diff 0 and SMD 0."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [
            (1, "BUILDING", 100.0), (2, "BUILDING", 200.0),
            (3, "MACHINERY", 100.0), (4, "MACHINERY", 200.0),
        ],
        "c_custkey long, c_mktsegment string, c_acctbal double",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: cust)
    (row,) = _rows(_so.covariate_balance_smd(spark, "x"))
    assert row[0] == 2 and row[1] == 2
    assert row[2] == 0.0 and row[3] == 0.0


# ---------------------------------------------------------------------------
# Hazard table
# ---------------------------------------------------------------------------


def test_hazard_at_risk_suffix_sums(spark, monkeypatch):
    """Lifetimes [0, 0, 2] → at k=0: 3 at risk, 2 ended (hazard 2/3);
    k=2: 1 at risk, 1 ended (hazard 1)."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    orders = spark.createDataFrame(
        [
            (1, _dt.date(2024, 1, 5)),
            (2, _dt.date(2024, 2, 5)),
            (3, _dt.date(2024, 1, 5)), (3, _dt.date(2024, 3, 20)),
        ],
        "o_custkey long, o_orderdate date",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    rows = _rows(_so.hazard_table_monthly(spark, "x"))
    assert rows == [
        (0, 3, 2, pytest.approx(2 / 3)),
        (2, 1, 1, pytest.approx(1.0)),
    ]


# ---------------------------------------------------------------------------
# ANOVA
# ---------------------------------------------------------------------------


def test_anova_f_known_groups(spark, monkeypatch):
    """Groups [1,3] and [5,7]: SSB = 16, SSW = 4, F = 16/(4/2) = 8."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [(1, "A"), (2, "B")], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (2, 5.0), (2, 7.0)],
        "o_custkey long, o_totalprice double",
    )
    monkeypatch.setattr(
        _so, "load_table", lambda s, d, n, **kw: {"customer": cust, "orders": orders}[n]
    )
    (row,) = _rows(_so.anova_f_order_value(spark, "x"))
    n_groups, n_rows, ssb, ssw, f_stat = row
    assert (n_groups, n_rows) == (2, 4)
    assert ssb == pytest.approx(16.0)
    assert ssw == pytest.approx(4.0)
    assert f_stat == pytest.approx(8.0)


# ---------------------------------------------------------------------------
# Cramér's V
# ---------------------------------------------------------------------------


def test_cramers_v_perfect_association(spark, monkeypatch):
    """Segment fully determines priority → V = 1; chi² = n·(min(r,c)−1)."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [(1, "A"), (2, "B")], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(1, "1-URGENT")] * 3 + [(2, "5-LOW")] * 3,
        "o_custkey long, o_orderpriority string",
    )
    monkeypatch.setattr(
        _so, "load_table", lambda s, d, n, **kw: {"customer": cust, "orders": orders}[n]
    )
    (row,) = _rows(_so.cramers_v_segment_priority(spark, "x"))
    r, c, chi2, v = row
    assert (r, c) == (2, 2)
    assert chi2 == pytest.approx(6.0)
    assert v == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------


def test_assortativity_star_negative(spark, monkeypatch):
    """A star (hub bought with many leaves via 2-item orders) is maximally
    DISassortative: every edge pairs max degree with degree 1 → r < 0."""
    li = spark.createDataFrame(
        [(o, 1) for o in range(1, 6)] + [(o, o + 10) for o in range(1, 6)],
        "l_orderkey long, l_partkey long",
    )
    _patch(monkeypatch, analytics_ops, {"lineitem": li})
    (row,) = _rows(analytics_ops.degree_assortativity(spark, "x"))
    n_edges, r = row
    assert n_edges == 10  # 5 undirected edges, both directions
    assert r == pytest.approx(-1.0)


# ---------------------------------------------------------------------------
# Content-defined chunking
# ---------------------------------------------------------------------------


def test_cdc_boundaries_shift_locally(spark, monkeypatch):
    """The CDC property: prepending a char to a doc changes the chunk
    count by a bounded amount (boundaries are content-anchored), and the
    boundary count is deterministic for identical content."""
    from autonomus_datapipeline_spark.workloads import curation_ops

    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(1, base, "s"), (2, base, "s"), (3, "X" + base, "s")],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(curation_ops, "load_table", lambda s, d, n, **kw: docs)
    rows = {r[0]: r for r in _rows(curation_ops.content_defined_chunks(spark, "x"))}
    # identical docs → identical chunking
    assert rows[1][1:] == rows[2][1:]
    # a 1-char prefix shifts at most one boundary in/out of existence
    assert abs(rows[3][2] - rows[1][2]) <= 1
    for r in rows.values():
        assert r[3] == pytest.approx(r[1] / r[2])


# ---------------------------------------------------------------------------
# Session paths
# ---------------------------------------------------------------------------


def test_session_paths_split_on_gap_and_ordered(spark, monkeypatch):
    """Events A,B then a 40-minute gap then C,A: two sessions with paths
    'A>B' and 'C>A' — the gap splits, the path preserves event order."""
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1, 9, 0, 0)
    events = spark.createDataFrame(
        [
            (1, 1, "A", t0),
            (2, 1, "B", t0 + _dt.timedelta(minutes=5)),
            (3, 1, "C", t0 + _dt.timedelta(minutes=45)),
            (4, 1, "A", t0 + _dt.timedelta(minutes=46)),
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    _patch(monkeypatch, analytics_ops, {"events": events})
    rows = _rows(analytics_ops.session_top_paths(spark, "x"))
    assert rows == [("A>B", 1, 1), ("C>A", 1, 2)]


# ---------------------------------------------------------------------------
# Stratified k-fold
# ---------------------------------------------------------------------------


def test_kfold_assignment_content_stable(spark, monkeypatch):
    """Folds are a pure function of doc_id: the same doc lands in the same
    fold regardless of corpus contents, and every fold id is in [0, 5)."""
    from autonomus_datapipeline_spark.workloads import curation_ops

    docs1 = spark.createDataFrame(
        [(i, "w w w", "s") for i in range(30)],
        "doc_id long, text string, source string",
    )
    docs2 = spark.createDataFrame(
        [(i, "w w w", "s") for i in range(60)],  # grown corpus
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(curation_ops, "load_table", lambda s, d, n, **kw: docs1)
    r1 = _rows(curation_ops.stratified_kfold_assignment(spark, "x"))
    monkeypatch.setattr(curation_ops, "load_table", lambda s, d, n, **kw: docs2)
    r2 = _rows(curation_ops.stratified_kfold_assignment(spark, "x"))
    assert all(0 <= r[1] < 5 for r in r1 + r2)
    assert sum(r[2] for r in r1) == 30 and sum(r[2] for r in r2) == 60
    # growth only ADDS docs per fold — no existing doc moved
    f1 = {r[1]: r[2] for r in r1}
    f2 = {r[1]: r[2] for r in r2}
    assert all(f2.get(k, 0) >= v for k, v in f1.items())


# ---------------------------------------------------------------------------
# Embedding drift
# ---------------------------------------------------------------------------


def test_centroid_drift_exact_shift(spark, monkeypatch):
    """Even-id vectors at x, odd-id at x+1 in dim 1 only → drift_l2 = 1."""
    emb = spark.createDataFrame(
        [(i, [1.0 if i % 2 else 2.0] + [0.0] * 63) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    _patch(monkeypatch, search_ops, {"embeddings": emb})
    (row,) = _rows(search_ops.embedding_centroid_drift(spark, "x"))
    n_dims, drift_sq, drift_l2 = row
    assert n_dims == 64
    assert drift_sq == pytest.approx(1.0)
    assert drift_l2 == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# Temporal consistency
# ---------------------------------------------------------------------------


def test_temporal_audit_flags_backdated_ship(spark, monkeypatch):
    import datetime as _dt

    orders = spark.createDataFrame(
        [(1, _dt.date(2024, 1, 10)), (2, _dt.date(2024, 1, 10))],
        "o_orderkey long, o_orderdate date",
    )
    li = spark.createDataFrame(
        [(1, _dt.date(2024, 1, 12)), (2, _dt.date(2024, 1, 8))],
        "l_orderkey long, l_shipdate date",
    )
    _patch(monkeypatch, audit_ops, {"orders": orders, "lineitem": li})
    (row,) = _rows(audit_ops.temporal_consistency_audit(spark, "x"))
    assert row == (2, 1, 2, 2, -2)


# ---------------------------------------------------------------------------
# Registry contract guards
# ---------------------------------------------------------------------------


def test_contract_lists_registry_in_registration_order():
    """``queries()`` and ``oracle_sql()`` list every registered name in
    registration order — the order the query modules are imported in, so
    the contract starts with the TPC-H block."""
    from autonomus_datapipeline_spark.workloads import QUERY_REGISTRY
    from autonomus_datapipeline_spark.workloads.registry import (
        oracle_sql,
        queries,
    )

    q = list(queries())
    assert q == list(QUERY_REGISTRY)
    assert q[0] == "q1_pricing_summary"
    assert list(oracle_sql()) == [
        n for n, spec in QUERY_REGISTRY.items() if spec.oracle is not None
    ]
    # contract surfaces are complete and aligned
    assert set(q) == set(QUERY_REGISTRY)
    assert set(oracle_sql()) == set(QUERY_REGISTRY)


# ---------------------------------------------------------------------------
# Trending report
# ---------------------------------------------------------------------------


def test_trending_rank_gain(spark, monkeypatch):
    """User 2 dominates the second half after being behind in the first →
    positive rank_gain; user 1 slips to rank 2 with negative gain."""
    import datetime as _dt

    first, second = _dt.datetime(2024, 1, 10), _dt.datetime(2024, 1, 20)
    rows_in = (
        [(i, 1, first) for i in range(3)]            # u1: 3 early
        + [(10 + i, 2, first) for i in range(1)]     # u2: 1 early
        + [(20 + i, 1, second) for i in range(1)]    # u1: 1 late
        + [(30 + i, 2, second) for i in range(4)]    # u2: 4 late
    )
    events = spark.createDataFrame(
        rows_in, "event_id long, user_id long, ts timestamp"
    )
    _patch(monkeypatch, analytics_ops, {"events": events})
    rows = _rows(analytics_ops.trending_users_report(spark, "x"))
    assert rows[0] == (2, 1, 4, 2, 1, 1)   # climbed 2 → 1
    assert rows[1] == (1, 3, 1, 1, 2, -1)  # slipped 1 → 2


# ---------------------------------------------------------------------------
# Key skew Gini
# ---------------------------------------------------------------------------


def test_key_skew_uniform_vs_hot(spark, monkeypatch):
    """Uniform keys → Gini 0 and hot_key_factor 1; one hot key drives both
    up."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import audit_ops as _audit

    t = _dt.datetime(2024, 1, 1)
    uniform = spark.createDataFrame(
        [(i, i % 4, t) for i in range(8)],
        "event_id long, user_id long, ts timestamp",
    )
    _patch(monkeypatch, _audit, {"events": uniform})
    (row,) = _rows(_audit.key_skew_gini(spark, "x"))
    assert row[0] == 4 and row[1] == 8
    assert row[3] == pytest.approx(1.0) and row[4] == pytest.approx(0.0)

    hot = spark.createDataFrame(
        [(i, 1 if i < 6 else 2, t) for i in range(8)],
        "event_id long, user_id long, ts timestamp",
    )
    _patch(monkeypatch, _audit, {"events": hot})
    (row,) = _rows(_audit.key_skew_gini(spark, "x"))
    assert row[2] == 6 and row[3] == pytest.approx(6 * 2 / 8)
    assert row[4] > 0


# ---------------------------------------------------------------------------
# Laspeyres index
# ---------------------------------------------------------------------------


def test_laspeyres_uniform_price_rise(spark, monkeypatch):
    """Every common part's unit price rises 10% → index = 1.1 exactly
    (base-year quantities cancel); a part traded only in one year is
    excluded from the basket."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import relational_joins

    d95, d96 = _dt.date(1995, 6, 1), _dt.date(1996, 6, 1)
    orders = spark.createDataFrame(
        [(1, d95), (2, d96)], "o_orderkey long, o_orderdate date"
    )
    li = spark.createDataFrame(
        [
            (1, 100, 2.0, 20.0),   # part 100 @ 10/unit in 1995
            (2, 100, 3.0, 33.0),   # part 100 @ 11/unit in 1996 (+10%)
            (1, 200, 1.0, 50.0),   # part 200 @ 50/unit in 1995
            (2, 200, 2.0, 110.0),  # part 200 @ 55/unit in 1996 (+10%)
            (2, 300, 1.0, 9.0),    # 1996-only part — excluded
        ],
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double",
    )
    monkeypatch.setattr(
        relational_joins,
        "load_table",
        lambda s, d, n, **kw: {"orders": orders, "lineitem": li}[n],
    )
    (row,) = _rows(relational_joins.laspeyres_price_index(spark, "x"))
    assert row[0] == 2
    assert row[1] == pytest.approx(1.1)


# ---------------------------------------------------------------------------
# Reorder intervals
# ---------------------------------------------------------------------------


def test_reorder_gaps_exact_quartiles(spark, monkeypatch):
    """Gaps [10, 20, 30] → p25 = 10, median = 20, p75 = 30 under the
    ceil-threshold convention; singleton customers contribute nothing."""
    import datetime as _dt

    base = _dt.date(2024, 1, 1)
    orders = spark.createDataFrame(
        [
            (1, 1, base),
            (2, 1, base + _dt.timedelta(days=10)),
            (3, 1, base + _dt.timedelta(days=30)),
            (4, 1, base + _dt.timedelta(days=60)),
            (5, 2, base),  # single order → no interval
        ],
        "o_orderkey long, o_custkey long, o_orderdate date",
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders})
    (row,) = _rows(analytics_ops.reorder_interval_quantiles(spark, "x"))
    assert row == (3, 10, 10, 20, 30, 30)


# ---------------------------------------------------------------------------
# New vs returning
# ---------------------------------------------------------------------------


def test_new_vs_returning_split(spark, monkeypatch):
    import datetime as _dt

    orders = spark.createDataFrame(
        [
            (1, 1, _dt.date(2024, 1, 5), 100.0),
            (2, 1, _dt.date(2024, 1, 20), 50.0),   # same month → still new
            (3, 1, _dt.date(2024, 2, 5), 70.0),    # returning
            (4, 2, _dt.date(2024, 2, 10), 40.0),   # new in Feb
        ],
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    _patch(monkeypatch, analytics_ops, {"orders": orders})
    rows = _rows(analytics_ops.new_vs_returning_revenue(spark, "x"))
    assert rows == [
        (_dt.date(2024, 1, 1), 2, 0, 150.0, None),
        (_dt.date(2024, 2, 1), 1, 1, 40.0, 70.0),
    ]


# ---------------------------------------------------------------------------
# ABC classification
# ---------------------------------------------------------------------------


def test_abc_boundary_classification(spark, monkeypatch):
    """Revenues [80, 15, 5]: the top part's cumulative share is exactly
    80% → class A (≤ comparison); next reaches exactly 95% → B; rest C."""
    from autonomus_datapipeline_spark.workloads import relational_joins

    li = spark.createDataFrame(
        [(1, 80.0), (2, 15.0), (3, 5.0)],
        "l_partkey long, l_extendedprice double",
    )
    monkeypatch.setattr(relational_joins, "load_table", lambda s, d, n, **kw: li)
    rows = _rows(relational_joins.abc_part_classification(spark, "x"))
    assert rows == [("A", 1, 80.0), ("B", 1, 15.0), ("C", 1, 5.0)]


# ---------------------------------------------------------------------------
# Rank correlations
# ---------------------------------------------------------------------------


def test_spearman_perfect_monotone(spark, monkeypatch):
    """y strictly monotone in x (nonlinear) → ρ = 1 exactly; reversing
    gives −1."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    li_up = spark.createDataFrame(
        [(float(x), float(x**3)) for x in range(1, 8)],
        "l_quantity double, l_extendedprice double",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li_up)
    (row,) = _rows(_so.spearman_rho_qty_price(spark, "x"))
    assert row[0] == 7 and row[1] == pytest.approx(1.0)

    li_down = spark.createDataFrame(
        [(float(x), float(-(x**3))) for x in range(1, 8)],
        "l_quantity double, l_extendedprice double",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li_down)
    (row,) = _rows(_so.spearman_rho_qty_price(spark, "x"))
    assert row[1] == pytest.approx(-1.0)


def test_kendall_tau_grid_counts(spark, monkeypatch):
    """A strictly increasing staircase bucketed into deciles: 0 discordant
    pairs, C = n0 − within-decile ties = 180, and τ-b = 180/√(190·180)
    = √(18/19) — the tie correction is exactly the bucketing loss."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    li = spark.createDataFrame(
        [
            (float(i), float(i * 10), i, 1)
            for i in range(1, 21)
        ],
        "l_quantity double, l_extendedprice double, l_orderkey long,"
        " l_linenumber int",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li)
    (row,) = _rows(_so.kendall_tau_b_qty_price(spark, "x"))
    n, conc, disc, tau = row
    assert n == 20 and disc == 0.0
    assert conc == 180.0
    assert tau == pytest.approx((18 / 19) ** 0.5)


# ---------------------------------------------------------------------------
# Partial correlation
# ---------------------------------------------------------------------------


def test_partial_correlation_removes_confounder(spark, monkeypatch):
    """x and y both equal z plus independent structure: when the x-y
    association is ENTIRELY through z (x = z, y = z on a spread of z),
    the partial correlation collapses to ~0 while raw rxy ≈ 1... here we
    use y = z and x = z so rxy = rxz = ryz = 1 — degenerate; instead use
    x = z + small alternation, y = z: controlling for z should shrink
    |partial| far below |rxy|."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    rows_in = []
    for i in range(1, 21):
        z = float(i)
        x = z + (0.5 if i % 2 == 0 else -0.5)
        y = z
        rows_in.append((x, y, z))
    li = spark.createDataFrame(
        rows_in, "l_quantity double, l_extendedprice double, l_discount double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li)
    (row,) = _rows(_so.partial_correlation_qty_price(spark, "x"))
    n, rxy, rxz, ryz, partial = row
    assert n == 20
    assert rxy > 0.99
    # y IS z → ryz = 1 exactly → the degenerate-control guard yields NULL
    assert partial is None
    rows_in2 = [(float(i) + (0.5 if i % 2 else -0.5), float(i) + (0.3 if i % 3 else -0.3), float(i)) for i in range(1, 21)]
    li2 = spark.createDataFrame(
        rows_in2, "l_quantity double, l_extendedprice double, l_discount double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: li2)
    (row2,) = _rows(_so.partial_correlation_qty_price(spark, "x"))
    assert abs(row2[4]) < abs(row2[1])  # control shrinks the association


# ---------------------------------------------------------------------------
# Durbin-Watson
# ---------------------------------------------------------------------------


def test_durbin_watson_alternating_residuals_near_four(spark, monkeypatch):
    """A perfectly alternating series around a flat trend has maximal
    NEGATIVE autocorrelation → DW ≈ 4; (e−e_prev)² = (2a)² each step."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    base = _dt.date(1992, 1, 1)
    orders = spark.createDataFrame(
        [
            (base + _dt.timedelta(days=d), 100.0 + (10.0 if d % 2 else -10.0))
            for d in range(20)
        ],
        "o_orderdate date, o_totalprice double",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.durbin_watson_trend_residuals(spark, "x"))
    n_days, dw = row
    assert n_days == 20
    assert dw == pytest.approx(4.0, rel=0.15)


# ---------------------------------------------------------------------------
# McNemar
# ---------------------------------------------------------------------------


def test_mcnemar_discordant_only(spark, monkeypatch):
    """2 before-only, 1 after-only, concordant customers ignored →
    χ² = (2−1)²/3."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    pre, post = _dt.date(1994, 6, 1), _dt.date(1995, 6, 1)
    orders = spark.createDataFrame(
        [
            (1, pre, "1-URGENT"), (1, post, "5-LOW"),    # before-only
            (2, pre, "1-URGENT"), (2, post, "5-LOW"),    # before-only
            (3, pre, "5-LOW"), (3, post, "1-URGENT"),    # after-only
            (4, pre, "1-URGENT"), (4, post, "1-URGENT"), # concordant
        ],
        "o_custkey long, o_orderdate date, o_orderpriority string",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.mcnemar_conversion_shift(spark, "x"))
    n, b, c, chi2 = row
    assert (n, b, c) == (4, 2, 1)
    assert chi2 == pytest.approx(1 / 3)


# ---------------------------------------------------------------------------
# Poisson rate shift
# ---------------------------------------------------------------------------


def test_poisson_rate_z(spark, monkeypatch):
    """k1=9, k2=4 → z = 5/√13."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    t1, t2 = _dt.datetime(2024, 1, 10), _dt.datetime(2024, 1, 20)
    events = spark.createDataFrame(
        [(i, "A", t1) for i in range(9)] + [(100 + i, "A", t2) for i in range(4)],
        "event_id long, event_type string, ts timestamp",
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: events)
    (row,) = _rows(_so.poisson_rate_shift(spark, "x"))
    assert row[1] == 9 and row[2] == 4
    assert row[3] == pytest.approx(5 / 13**0.5)


# ---------------------------------------------------------------------------
# Chow test
# ---------------------------------------------------------------------------


def test_chow_detects_slope_break(spark, monkeypatch):
    """Pre-split slope +5/day, post-split slope −5/day: two lines fit far
    better than one → large positive F and near-zero split SSR."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    rows_in = []
    base_pre = _dt.date(1995, 5, 1)
    for d in range(10):
        rows_in.append((base_pre + _dt.timedelta(days=d), 100.0 + 5.0 * d))
    base_post = _dt.date(1995, 6, 10)
    for d in range(10):
        rows_in.append((base_post + _dt.timedelta(days=d), 200.0 - 5.0 * d))
    orders = spark.createDataFrame(
        rows_in, "o_orderdate date, o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.chow_test_revenue_break(spark, "x"))
    n_days, ssr_p, ssr_split, f = row
    assert n_days == 20
    # both halves fit their lines EXACTLY → degenerate-denominator guard
    assert ssr_split == pytest.approx(0.0, abs=1e-3)
    assert ssr_p > 1000
    assert f is None or f > 100


# ---------------------------------------------------------------------------
# Jackknife
# ---------------------------------------------------------------------------


def test_jackknife_se_matches_direct_computation(spark, monkeypatch):
    """The query's SE must equal the hand-computed delete-one-group
    jackknife on the same md5 buckets."""
    import hashlib
    import math as _math
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    vals = {k: float(10 + 7 * (k % 5)) for k in range(1, 41)}
    orders = spark.createDataFrame(
        [(k, v) for k, v in vals.items()], "o_orderkey long, o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.jackknife_mean_variance(spark, "x"))
    n_groups, n_rows, mean_est, se = row

    def bucket(k):
        h = hashlib.md5(str(k).encode()).hexdigest()
        return (ord(h[0]) * 256 + ord(h[1])) % 10

    groups = {}
    for k, v in vals.items():
        groups.setdefault(bucket(k), []).append(v)
    g = len(groups)
    tot_n, tot_s = len(vals), sum(vals.values())
    thetas = [
        (tot_s - sum(vs)) / (tot_n - len(vs)) for vs in groups.values()
    ]
    tb = sum(thetas) / g
    se_direct = _math.sqrt((g - 1) / g * sum((t - tb) ** 2 for t in thetas))
    assert (n_groups, n_rows) == (g, 40)
    assert mean_est == pytest.approx(tot_s / tot_n)
    assert se == pytest.approx(se_direct, rel=1e-4)


# ---------------------------------------------------------------------------
# Theil-Sen
# ---------------------------------------------------------------------------


def test_theil_sen_resists_outlier(spark, monkeypatch):
    """A clean slope-2 line with one wild outlier day still estimates
    slope 2 (the outlier corrupts < 29% of pairs); OLS would not."""
    import datetime as _dt
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    base = _dt.date(1992, 1, 1)
    rows_in = [
        (base + _dt.timedelta(days=d), 100.0 + 2.0 * d) for d in range(9)
    ]
    rows_in.append((base + _dt.timedelta(days=9), 10000.0))  # outlier
    orders = spark.createDataFrame(
        rows_in, "o_orderdate date, o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.theil_sen_daily_trend(spark, "x"))
    n_pairs, slope = row
    assert n_pairs == 45
    assert slope == pytest.approx(2.0)


# ---------------------------------------------------------------------------
# Winsorized mean
# ---------------------------------------------------------------------------


def test_winsorized_clamps_tails(spark, monkeypatch):
    """Values 1..20 with 5% winsorization: the p5 boundary is 1 and p95 is
    19 (ceil thresholds), so only the 20 clamps (→19): mean = (Σ1..19 +
    19)/20 = 209/20."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    orders = spark.createDataFrame(
        [(float(v),) for v in range(1, 21)], "o_totalprice double"
    )
    monkeypatch.setattr(_so, "load_table", lambda s, d, n, **kw: orders)
    (row,) = _rows(_so.winsorized_mean_order_value(spark, "x"))
    n, lo, hi, wmean = row
    assert n == 20 and lo == 1.0 and hi == 19.0
    assert wmean == pytest.approx(209 / 20)


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_finds_adjacent_dup(spark, monkeypatch):
    """Two identical docs sort adjacently and are confirmed exact dups;
    an unrelated doc generates no candidate pair."""
    from autonomus_datapipeline_spark.workloads import pipeline_ops

    docs = spark.createDataFrame(
        [
            (5, "alpha beta gamma delta epsilon", "s"),
            (2, "alpha beta gamma delta epsilon", "s"),
            (9, "zz completely different text here", "s"),
        ],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(pipeline_ops, "load_table", lambda s, d, n, **kw: docs)
    (row,) = _rows(pipeline_ops.sorted_neighborhood_pairs(spark, "x"))
    n_pairs, n_exact, sample_a, max_gap = row
    assert n_pairs == 1 and n_exact == 1
    assert sample_a == 2 and max_gap == 1


# ---------------------------------------------------------------------------
# Prefix blocking histogram
# ---------------------------------------------------------------------------


def test_prefix_blocking_pair_counts(spark, monkeypatch):
    """A 3-doc block generates C(3,2)=3 pairs; two singleton blocks
    generate none."""
    from autonomus_datapipeline_spark.workloads import pipeline_ops

    docs = spark.createDataFrame(
        [
            (1, "same prefix here one", "s"),
            (2, "same prefix here two", "s"),
            (3, "same prefix here three", "s"),
            (4, "other text entirely", "s"),
            (5, "third unrelated doc", "s"),
        ],
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(pipeline_ops, "load_table", lambda s, d, n, **kw: docs)
    rows = _rows(pipeline_ops.prefix_blocking_histogram(spark, "x"))
    assert rows == [(1, 2, 0), (3, 1, 3)]


# ---------------------------------------------------------------------------
# Brown-Forsythe
# ---------------------------------------------------------------------------


def test_brown_forsythe_unequal_spread(spark, monkeypatch):
    """Group A tight around its median, group B wide: |deviations| are
    (0,1,1) vs (0,10,10) → hand-computed BF F = 81/4 on the deviation
    ANOVA."""
    from autonomus_datapipeline_spark.workloads import stats_ops as _so

    cust = spark.createDataFrame(
        [(1, "A"), (2, "B")], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(1, 99.0), (1, 100.0), (1, 101.0), (2, 90.0), (2, 100.0), (2, 110.0)],
        "o_custkey long, o_totalprice double",
    )
    monkeypatch.setattr(
        _so, "load_table", lambda s, d, n, **kw: {"customer": cust, "orders": orders}[n]
    )
    (row,) = _rows(_so.brown_forsythe_variance_test(spark, "x"))
    n_groups, n_rows, bf = row
    assert (n_groups, n_rows) == (2, 6)
    # deviations A: (1,0,1) sum 2, ssA = 2 - 4/3 = 2/3
    # deviations B: (10,0,10) sum 20, ssB = 200 - 400/3 = 200/3
    # SSB = (4/3 + 400/3) - 484/6 = 121/3... direct: F = (SSB/1)/(SSW/4)
    import statistics as _st
    devA, devB = [1.0, 0.0, 1.0], [10.0, 0.0, 10.0]
    all_d = devA + devB
    gm = sum(all_d) / 6
    ssb = 3 * (sum(devA) / 3 - gm) ** 2 + 3 * (sum(devB) / 3 - gm) ** 2
    ssw = sum((d - sum(devA) / 3) ** 2 for d in devA) + sum(
        (d - sum(devB) / 3) ** 2 for d in devB
    )
    assert bf == pytest.approx((ssb / 1) / (ssw / 4))
