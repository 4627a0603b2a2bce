"""Round-10 additions: the corpus-curation flagship pipeline (spec-driven
chain == oracle-checked funnel query), the array-side MinHash signatures,
the fsum floor-quantized determinism helper, the symmetric bucket-star /
assume_symmetric connected-components fast path, and the shared co-purchase
edge builder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.operators import dedup, graph
from autonomus_datapipeline_spark.plans.spec import run_spec
from autonomus_datapipeline_spark.workloads import curation_pipeline as cp
from autonomus_datapipeline_spark.workloads import graph_common, pipeline_ops
from autonomus_datapipeline_spark.workloads.registry import load_table


# ---------------------------------------------------------------------------
# Corpus-curation flagship: the spec-driven medallion run must produce the
# exact funnel the oracle-checked registry query computes.
# ---------------------------------------------------------------------------


def test_curation_spec_run_matches_registry_funnel(spark, sf_dir, tmp_path):
    spec = cp.curation_spec(f"{sf_dir}/documents.parquet")
    catalog = Catalog(str(tmp_path / "wh"))
    results = run_spec(spark, catalog, spec)
    # every layer ran and wrote rows
    assert results["bronze"].row_count > 0
    assert results["silver"].row_count == results["bronze"].row_count
    assert results["gold"].row_count == 6  # one funnel row per stage
    # one silver step per curation stage, all confirmed
    assert [m.name for m in results["silver"].step_metrics] == [
        fn.__name__ for fn in cp.CURATION_STAGES
    ]
    gold = {
        r["stage"]: (r["n_docs"], r["n_tokens"], r["n_groups"])
        for r in catalog.read(spark, "gold", "corpus_curation").collect()
    }
    expected = {
        r["stage"]: (r["n_docs"], r["n_tokens"], r["n_groups"])
        for r in cp.curation_pipeline_funnel(spark, sf_dir).collect()
    }
    assert gold == expected


def test_curation_funnel_is_monotone_and_sane(spark, sf_dir):
    rows = cp.curation_pipeline_funnel(spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [
        "clean_pii", "quality_filter", "exact_dedup", "near_dedup",
        "decontaminate", "pack",
    ]
    docs = [r["n_docs"] for r in rows]
    # the funnel only ever shrinks (pack keeps the decontaminated set)
    assert docs[0] >= docs[1] >= docs[2] >= docs[3] >= docs[4] == docs[5]
    assert docs[4] > 0  # something survives at sf0.001
    toks = [r["n_tokens"] for r in rows]
    assert toks[0] >= toks[4] > 0
    # pack row reports bins; every other row reports (lang, source) groups
    assert rows[5]["n_groups"] > 0


def test_curation_annotations_consistent(spark, sf_dir):
    ann = cp.curate(load_table(spark, sf_dir, "documents"))
    bad = ann.filter(
        F.col("keep")
        & (
            ~F.col("ok_quality")
            | F.col("is_exact_dup")
            | F.col("is_near_dup")
            | F.col("is_eval")
            | F.col("is_contaminated")
        )
    ).count()
    assert bad == 0
    # kept docs all carry a bin and a mix weight; dropped docs carry neither
    assert ann.filter(F.col("keep") & F.col("bin_id").isNull()).count() == 0
    assert ann.filter(~F.col("keep") & F.col("bin_id").isNotNull()).count() == 0
    assert (
        ann.filter(F.col("keep") & F.col("mix_weight_ppm").isNull()).count() == 0
    )
    # PII never survives the clean stage
    assert (
        ann.filter(
            F.col("clean_text").rlike(
                r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
            )
        ).count()
        == 0
    )
    # offset-packing invariant: every kept doc's START offset falls inside
    # its assigned bin (bin_id = floor(start_offset / budget))
    kept = ann.filter("keep").select("lang", "bin_id", "n_tokens", "doc_id")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    misbinned = (
        kept.withColumn(
            "expect", F.floor(start / float(cp.PACK_BUDGET)).cast("int")
        )
        .filter(F.col("expect") != F.col("bin_id"))
        .count()
    )
    assert misbinned == 0


def test_curation_sandbox_admits_engine_operators(spark):
    """The sandbox whitelist extension: a transform step may import the
    engine's own operator library (but still not the OS)."""
    from autonomus_datapipeline_spark.engine.sandbox import compile_transform

    df = spark.createDataFrame([(1, "a b a"), (2, "a b a")], "id long, text string")
    code = (
        "from autonomus_datapipeline_spark.operators import dedup\n"
        "def transform(df, spark):\n"
        "    return dedup.exact_dedup(df, ['text'], 'id')\n"
    )
    out = compile_transform(code)(df, spark)
    assert out.count() == 1
    with pytest.raises(Exception, match="not allowed|forbidden"):
        compile_transform(
            "import os\ndef transform(df, spark):\n    return df\n"
        )(df, spark)


# ---------------------------------------------------------------------------
# Array-side MinHash signatures: value-identical to the explode+groupBy path
# ---------------------------------------------------------------------------


def test_minhash_signatures_from_text_matches_explode_path(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = dedup.minhash_signatures_from_text(
        docs, "doc_id", "text", pipeline_ops._MH_SHINGLE, pipeline_ops._MH_K
    )
    b = dedup.minhash_signatures(
        dedup.shingle_table(docs, "doc_id", "text", pipeline_ops._MH_SHINGLE),
        pipeline_ops._MH_K,
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


# ---------------------------------------------------------------------------
# Symmetric bucket stars + assume_symmetric CC: same components as the
# default path
# ---------------------------------------------------------------------------


def test_symmetric_stars_cc_matches_plain_path(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures_from_text(
        docs, "doc_id", "text", pipeline_ops._MH_SHINGLE, pipeline_ops._MH_K
    )
    plain = dedup.lsh_bucket_stars(
        sigs, pipeline_ops._MH_BANDS, pipeline_ops._MH_ROWS
    )
    sym = dedup.lsh_bucket_stars(
        sigs, pipeline_ops._MH_BANDS, pipeline_ops._MH_ROWS, symmetric=True
    )
    # symmetric variant is exactly both directions of the plain star list
    assert sym.count() == 2 * plain.count()
    assert (
        sym.filter(F.col("doc_a") < F.col("doc_b"))
        .exceptAll(plain.select(F.least("doc_a", "doc_b").alias("doc_a"),
                                F.greatest("doc_a", "doc_b").alias("doc_b")))
        .count()
        == 0
    )
    cc_plain = graph.connected_components(plain, "doc_a", "doc_b")
    cc_sym = graph.connected_components(
        sym, "doc_a", "doc_b", assume_symmetric=True
    )
    assert cc_plain.exceptAll(cc_sym).count() == 0
    assert cc_sym.exceptAll(cc_plain).count() == 0


# ---------------------------------------------------------------------------
# Shared co-purchase edge builder
# ---------------------------------------------------------------------------


def test_copurchase_edges_symmetric_distinct_with_degrees(spark, sf_dir):
    e = graph_common.copurchase_edges(spark, sf_dir, with_degrees=True)
    n = e.count()
    assert n > 0 and n % 2 == 0  # symmetric: both directions present
    assert e.distinct().count() == n
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert e.select("src", "dst").exceptAll(rev).count() == 0
    # deg = neighbor count of src
    deg_check = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("c"), F.first("deg").alias("d"),
             F.count_distinct("deg").alias("nd"))
        .filter((F.col("c") != F.col("d")) | (F.col("nd") != 1))
        .count()
    )
    assert deg_check == 0


def _pair_lineitem(spark):
    # order 1: 7 parts plus a repeated (order, part) row; order 2: one part;
    # order 3: a pair that order 1 also has, so edges must dedupe across orders
    rows = [(1, p) for p in range(1, 8)] + [(1, 3), (2, 8), (3, 1), (3, 2)]
    return spark.createDataFrame(rows, "l_orderkey long, l_partkey long")


def test_copurchase_half_pairs_count_is_sum_of_k_choose_2(spark):
    li = _pair_lineitem(spark)
    half = graph_common.copurchase_half_pairs(li)
    per_order = {r["ok"]: r["n"] for r in half.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per_order == {1: 21, 3: 1}  # C(7, 2) over DISTINCT parts; no order 2
    assert half.where(F.col("src") >= F.col("dst")).count() == 0
    assert half.distinct().count() == 22


def test_copurchase_edges_join_and_collect_builds_equal(spark):
    li = _pair_lineitem(spark)

    def load(_spark, _sf_dir, table):
        assert table == "lineitem"
        return li

    def edge_set(build):
        e = graph_common.copurchase_edges(
            spark, "unused", with_degrees=True, load=load, build=build
        )
        return sorted(tuple(r) for r in e.select("src", "dst", "deg").collect())

    joined = edge_set("join")
    assert joined == edge_set("collect")
    assert len(joined) == 2 * 21  # pair (1, 2) of order 3 is already in order 1
    assert {(s, d) for s, d, _ in joined if s == 8 or d == 8} == set()
    assert all(deg == 6 for s, _, deg in joined if s <= 7)


# ---------------------------------------------------------------------------
# fsum: floor-quantized sums are engine-deterministic and close to exact
# ---------------------------------------------------------------------------


def test_fsum_quantization_semantics(spark):
    from autonomus_datapipeline_spark.workloads.registry import fsum

    df = spark.createDataFrame(
        [(68423.459999999992,), (0.1,), (-2.3456789,)], "x double"
    )
    (got,) = df.agg(fsum(F.col("x"), "s")).collect()[0]
    import math

    expected = (
        math.floor(68423.459999999992 * 1e6)
        + math.floor(0.1 * 1e6)
        + math.floor(-2.3456789 * 1e6)
    ) / 1e6
    assert got == pytest.approx(expected, abs=0)
