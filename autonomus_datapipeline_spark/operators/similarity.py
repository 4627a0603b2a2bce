"""Similarity search over embedding columns (array<float>).

Two tiers, per the 100 TB design brief:

- **Exact brute-force cosine** (`cosine_topk`, `blocked_neardup_pairs`):
  the correctness baseline. Dot products run JVM-side with an exact decimal
  accumulator so results are bit-deterministic and oracle-checkable.
- **LSH-bucketed ANN** (`lsh_topk_portable`): random-hyperplane signatures
  over md5-derived literal planes, signs from exact decimal dots, then
  candidates come from an equi-join on the bucket — at 1000 executors this
  probes ~(bits+1)/2^bits of the corpus per query instead of all of it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# decimal(30,12): addition widens to (31,12) — still exact — and is re-cast
# back each step; a (38,12) accumulator would force Spark to drop to scale 11
# and lose exactness.
_DEC = "decimal(30,12)"


def dot_exact(a: Column, b: Column) -> Column:
    """Exact (order-independent) dot product of two float arrays.

    Per-element product in IEEE double (deterministic), snapped to decimal,
    folded with exact decimal addition — identical in any engine and under
    any parallelism. JVM-side higher-order functions; no Python.
    """
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC))
    return F.aggregate(prods, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC))


def norm_sq_exact(a: Column) -> Column:
    return dot_exact(a, a)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: every query row scored against the corpus.

    The query side is broadcast (queries ≪ corpus by construction), so the
    corpus is scanned exactly once with no shuffle; the only shuffle is the
    per-query top-k window. Deterministic tiebreak on neighbor id.

    Norms in the all-pairs phase are the cheap double folds (computed once
    per vector, map-side); the exact-decimal arithmetic that defines the
    output runs only on the ~k survivors per query inside
    :func:`exact_topk_rerank`.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        dot_fast(F.col(vec_col), F.col(vec_col)).alias("q_nsqf"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        dot_fast(F.col(vec_col), F.col(vec_col)).alias("c_nsqf"),
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    return exact_topk_rerank(
        pairs,
        k,
        q_src=queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        c_src=corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
    )


def dot_fast(a: Column, b: Column) -> Column:
    """Plain double fold — ~20× cheaper than the decimal fold (no BigDecimal
    objects), accurate to ~1e-13 relative. Used to prefilter; never for
    output values."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# Double-fold cosine differs from the exact-decimal cosine by far less than
# this margin; pairs below (threshold - margin) cannot reach the threshold
# under exact arithmetic, so prefiltering with it never changes the result.
_PREFILTER_MARGIN = 1e-6

# Same idea for squared distances: |double fold − decimal fold| is bounded by
# dim × (snap error 5e-13 + fp error) ≈ 1e-10 at unit-scale vectors; 1e-8
# gives >100× headroom while admitting ~zero extra survivors.
_D2_MARGIN = 1e-8


def dist_sq_fast(a: Column, b: Column) -> Column:
    """Plain double-fold squared Euclidean distance — the cheap prefilter
    twin of :func:`dist_sq_exact`; never used for output-defining order."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def exact_topk_rerank(
    pairs: DataFrame,
    k: int,
    q_src: DataFrame | None = None,
    c_src: DataFrame | None = None,
) -> DataFrame:
    """Two-phase exact top-k over candidate pairs.

    ``pairs`` carries (query_id, neighbor_id, q_vec, c_vec, q_nsqf,
    c_nsqf) with the FAST (double-fold) norms² computed once per vector,
    map-side — no exact-decimal arithmetic anywhere in the pair-propor-
    tional phase. Phase 1 scores every pair with the cheap double-fold
    cosine and keeps only pairs that could reach the exact top-k: the
    kth-best fast value per query (a second window over the same
    partitioning — no extra shuffle, no driver round-trip) minus a margin
    that provably covers |fast − exact| (fast dot AND fast norms: combined
    relative error ~1e-12 ≪ the 1e-6 margin) plus the 1e-6 output
    rounding. Phase 2 computes the output-defining exact-decimal dot and
    norms only on the ~k survivors per query, so the result is identical
    to scoring every pair exactly.

    The window shuffle carries ONLY (ids, fast cosine) — the vectors are
    consumed map-side and never ride the exchange (the two 64-dim payloads
    otherwise dominate the pair-shuffle width; at 100 TB the pair count
    dwarfs the corpus). Phase 2 re-attaches vectors to the ≤ ~k survivors
    from ``q_src`` (query_id, q_vec) and ``c_src`` (neighbor_id, c_vec) —
    the BASE vector tables, one cheap scan each — never by re-executing
    the candidate-generation subtree (the r6 shape, which re-ran the
    bucket/cell computation a second time: measured 2.3 s → ~1.5 s at
    sf0.1 on ann_lsh_topk). Falls back to re-joining ``pairs`` when the
    sources are not supplied; (query_id, neighbor_id) is unique in
    ``pairs`` (one bucket/cell match per pair), so no join can fan out.
    """
    fdenom = F.sqrt("q_nsqf") * F.sqrt("c_nsqf")
    slim = pairs.withColumn(
        "cos_fast", dot_fast(F.col("q_vec"), F.col("c_vec")) / fdenom
    ).select("query_id", "neighbor_id", "cos_fast")
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_fast"), F.asc("neighbor_id")
    )
    wq = Window.partitionBy("query_id")
    ranked = slim.withColumn("rk_fast", F.row_number().over(wf)).withColumn(
        "kth_fast",
        F.min(F.when(F.col("rk_fast") <= k, F.col("cos_fast"))).over(wq),
    )
    survivors = ranked.filter(
        (F.col("rk_fast") <= k)
        | (F.col("cos_fast") >= F.col("kth_fast") - 2 * _PREFILTER_MARGIN)
    ).select("query_id", "neighbor_id")
    if q_src is not None and c_src is not None:
        enriched = (
            c_src.select("neighbor_id", "c_vec")
            .join(F.broadcast(survivors), "neighbor_id")
            .join(F.broadcast(q_src.select("query_id", "q_vec")), "query_id")
        )
    else:
        enriched = pairs.select("query_id", "neighbor_id", "q_vec", "c_vec").join(
            F.broadcast(survivors), ["query_id", "neighbor_id"]
        )
    denom = F.sqrt(norm_sq_exact(F.col("q_vec")).cast("double")) * F.sqrt(
        norm_sq_exact(F.col("c_vec")).cast("double")
    )
    scored = enriched.withColumn(
        "cosine",
        F.round(dot_exact(F.col("q_vec"), F.col("c_vec")).cast("double") / denom, 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


def blocked_neardup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking-key groups.

    The block equi-join means only same-block pairs are materialized — the
    blocking key (a cluster id, LSH bucket, shard…) bounds the quadratic term
    to Σ block_size². One shuffle per side on the block key.

    Two-phase scoring: every candidate pair gets the cheap double-fold
    cosine; only pairs within _PREFILTER_MARGIN of the threshold compute the
    exact decimal cosine that defines the output. At near-dup thresholds the
    survivor set is orders of magnitude smaller than the candidate set, so
    the expensive exact arithmetic is ~free.
    """
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).alias("vec"),
        norm_sq_exact(F.col(vec_col)).cast("double").alias("nsq"),
    )
    # Phase 1 — vectorized prefilter: one Arrow batch per block, one numpy
    # matmul for ALL pair cosines in it (the JVM higher-order fold is
    # interpreted per element; the matmul is ~100× cheaper per pair). Only
    # (id_a, id_b) survivors above (threshold − margin) leave Python. The
    # assumption a block fits one worker is the operator's contract — the
    # blocking key bounds Σ block² — and matches the oracle's block join.
    blk_type = dict(v.dtypes)["blk"]
    id_type = dict(v.dtypes)["id"]
    lo = threshold - _PREFILTER_MARGIN

    def find_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"blk": pdf["blk"][:0], "id_a": pdf["id"][:0],
                                 "id_b": pdf["id"][:0]})
        m = np.stack(pdf["vec"].to_numpy()).astype("float64")
        nsq = pdf["nsq"].to_numpy(dtype="float64")
        cos = (m @ m.T) / np.sqrt(np.outer(nsq, nsq))
        iu, ju = np.triu_indices(n, 1)
        c = cos[iu, ju]
        # A zero-norm vector yields a non-finite cosine. DuckDB division by
        # zero is NULL, so the oracle's `cosine >= threshold` DROPS such
        # pairs — drop them here explicitly (and the exact phase uses
        # try_divide for the same NULL semantics instead of an ANSI
        # DIVIDE_BY_ZERO error). np's `c >= lo` is already False for NaN,
        # but the explicit mask documents the choice rather than relying on
        # IEEE comparison accidents.
        keep = (c >= lo) & np.isfinite(c)
        ids = pdf["id"].to_numpy()
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        # Duplicate id values within a block would surface as id_a == id_b
        # self-pairs after the min/max canonicalization; the oracle's
        # `a.id < b.id` join excludes them, so exclude them here.
        ne = ia != ib
        ia, ib = ia[ne], ib[ne]
        return pd.DataFrame({
            "blk": pdf["blk"].iloc[:1].repeat(len(ia)).reset_index(drop=True),
            "id_a": np.minimum(ia, ib),
            "id_b": np.maximum(ia, ib),
        })

    cand = v.groupBy("blk").applyInPandas(
        find_pairs, schema=f"blk {blk_type}, id_a {id_type}, id_b {id_type}"
    )
    # Phase 2 — exact decimal scoring defines the output values.
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("va"),
                  F.col("nsq").alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"),
                  F.col("nsq").alias("nb"))
    # try_divide: a zero norm gives NULL (DuckDB's division-by-zero result)
    # and the threshold filter drops it — never an ANSI DIVIDE_BY_ZERO.
    cos_exact = F.round(
        F.try_divide(
            dot_exact(F.col("va"), F.col("vb")).cast("double"),
            F.sqrt("na") * F.sqrt("nb"),
        ),
        6,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("blk").alias("block"),
            cos_exact.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-pass Gram matrix Σ x xᵀ of an embedding table — the sufficient
    statistic for PCA / ZCA whitening at corpus scale.

    Per Arrow batch, ONE numpy ``m.T @ m`` produces a d×d partial; only d²
    doubles leave Python per batch (not per row), and the final reduce is a
    d²-row groupBy sum — shuffle-tiny regardless of corpus size. The
    eigen-decomposition of the d×d result is a driver-side O(d³) afterthought;
    the projection pass is a second scan with a broadcast d×k matrix.

    Float64 accumulation (not exact-decimal): the registered oracle query
    ``embedding_gram_block`` pins value-exact semantics on a dim block; this
    operator is the full-d production variant, unit-tested against numpy on
    the whole table within float tolerance.

    Returns (i, j, dot) for the upper triangle, 1-indexed, i ≤ j.
    """

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            g = m.T @ m
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "partial_dot": g[iu, ju]}
            )

    return (
        df.select(vec_col)
        .mapInPandas(partial, schema="i int, j int, partial_dot double")
        .groupBy("i", "j")
        .agg(F.sum("partial_dot").alias("dot"))
    )


def pca_project(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed PCA projection: reduce ``vec_col`` to its top-``k``
    principal components.

    The classic two-scan shape for 100 TB embedding tables:

    1. ONE scan accumulates the sufficient statistics (n, Σx, Σx xᵀ) as
       numpy partials per Arrow batch — d + d² doubles leave Python per
       batch; the reduce is a d²-row aggregation.
    2. The d×d covariance eigen-decomposition is a driver-side O(d³)
       afterthought (d is the embedding dim, not the corpus size).
    3. A second scan projects every vector through the broadcast d×k
       basis: y = Wᵀ(x − μ), one numpy matmul per batch.

    Deterministic given the data: eigh of a symmetric matrix with sign
    fixed by the largest-|component| convention. Returns (id, components
    array<double>).
    """

    def moments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            g = m.T @ m
            s = m.sum(axis=0)
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu + 1, np.arange(1, d + 1)]),
                    "j": np.concatenate([ju + 1, np.zeros(d, dtype="int64")]),
                    "val": np.concatenate([g[iu, ju], s]),
                    "n": np.concatenate(
                        [np.zeros(len(iu), dtype="int64"),
                         np.full(d, len(m), dtype="int64")]
                    ),
                }
            )

    stats = (
        df.select(vec_col)
        .mapInPandas(moments, schema="i int, j int, val double, n long")
        .groupBy("i", "j")
        .agg(F.sum("val").alias("val"), F.sum("n").alias("n"))
        .collect()  # d² + d rows of metadata — bounded by dim, not corpus
    )
    d = max(r.i for r in stats)
    n = next(int(r.n) for r in stats if r.j == 0)
    mu = np.zeros(d)
    gram = np.zeros((d, d))
    for r in stats:
        if r.j == 0:
            mu[r.i - 1] = r.val / n
        else:
            gram[r.i - 1, r.j - 1] = gram[r.j - 1, r.i - 1] = r.val
    cov = (gram - n * np.outer(mu, mu)) / max(n - 1, 1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    w = vecs[:, order]  # d × k
    # sign convention: largest-|component| of each eigvec is positive
    flips = np.sign(w[np.abs(w).argmax(axis=0), np.arange(w.shape[1])])
    w = w * flips
    w_b = w.copy()
    mu_b = mu.copy()

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            y = (m - mu_b) @ w_b
            yield pd.DataFrame(
                {"id": pdf[id_col].values, "components": list(y)}
            )

    id_type = dict(df.dtypes)[id_col]
    return (
        df.select(id_col, vec_col)
        .mapInPandas(project, schema=f"id {id_type}, components array<double>")
        .withColumnRenamed("id", id_col)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_clusters: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus, probe only the
    ``n_probe`` nearest cells per query, exact cosine re-rank inside them.

    The 100 TB shape: centroids are a tiny broadcast table; the corpus is
    clustered ONCE (and in production persisted partitioned-by-cell so a
    probe is a partition-pruned scan); per-query work is
    n_probe/n_clusters of the corpus. Recall grows with n_probe.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    # IVF cells only need rough Voronoi structure, not converged centroids:
    # random init + few iterations (k-means|| initialization alone costs more
    # jobs than the whole training at this budget; recall is insensitive).
    corpus_vec = corpus_vec.cache()
    model = KMeans(
        k=n_clusters, seed=seed, maxIter=5, initMode="random", featuresCol="features"
    ).fit(corpus_vec)
    assigned = model.transform(corpus_vec).select(
        "neighbor_id",
        "c_vec",
        dot_fast(F.col("c_vec"), F.col("c_vec")).alias("c_nsqf"),
        F.col("prediction").alias("cell"),
    )
    # Centroid table is tiny → literal cross join + rank to pick the
    # n_probe nearest cells per query.
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cent_df = corpus.sparkSession.createDataFrame(centroids, ["cell", "centroid"])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("q_vec"),
                F.col("centroid"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("c_dist"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("c_dist", dist)
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= n_probe)
        .select(
            "query_id",
            "q_vec",
            dot_fast(F.col("q_vec"), F.col("q_vec")).alias("q_nsqf"),
            "cell",
        )
    )
    pairs = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return exact_topk_rerank(
        pairs,
        k,
        q_src=queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        c_src=corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
    )


def md5_hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random-hyperplane matrix derived from md5 — portable by
    construction: any engine (or an oracle SQL string) can embed the exact
    same literals, so LSH buckets become engine-reproducible.

    Each weight is ``((md5int % 1024) - 512 + 0.5) / 1024`` — an odd multiple
    of 2^-11 in [-0.5, 0.5), exactly representable in binary floating point,
    so its shortest-roundtrip decimal repr parses back to the identical
    double everywhere.
    """
    import hashlib

    return [
        [
            (
                (int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16) % 1024)
                - 512
                + 0.5
            )
            / 1024.0
            for d in range(dim)
        ]
        for j in range(n_bits)
    ]


def portable_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """RP-LSH bucket id as a JVM column expression over literal hyperplanes.

    Bit j is the sign of the EXACT-decimal dot product with plane j, so the
    bucket assignment is bit-identical across engines and partitionings —
    the property that makes :func:`lsh_topk_portable` oracle-checkable. All
    n_bits dots are evaluated in one codegen'd projection.

    Two-phase per bit: the cheap double-fold dot decides the sign whenever
    it is more than _PREFILTER_MARGIN away from zero (|fast − exact| is
    orders of magnitude below that), and only near-zero dots — a measure-
    zero sliver of real data — fall through to the exact decimal fold, so
    the expensive arithmetic almost never runs while the assignment stays
    bit-identical to the all-exact oracle.
    """
    total = F.lit(0)
    for j, row in enumerate(planes):
        plane = F.array(*[F.lit(w) for w in row])
        fast = dot_fast(vec_col, plane)
        bit = (
            F.when(fast > _PREFILTER_MARGIN, F.lit(1 << j))
            .when(fast < -_PREFILTER_MARGIN, F.lit(0))
            .otherwise(
                F.when(dot_exact(vec_col, plane) >= 0, F.lit(1 << j)).otherwise(
                    F.lit(0)
                )
            )
        )
        total = total + bit
    return total.cast("int")


def lsh_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    planes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH top-k: bucket both sides, join on the bucket
    with Hamming-1 multi-probe (every bucket one bit flip from the query's
    signature), then exact re-rank. Hyperplanes are md5-derived literals
    and bucket signs use exact decimal dots, so the whole ANN path is
    replayable in ANSI SQL and gets a hard oracle check.
    """
    n_bits = len(planes)
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        dot_fast(F.col(vec_col), F.col(vec_col)).alias("q_nsqf"),
        portable_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    qb = qb.select(
        "query_id",
        "q_vec",
        "q_nsqf",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
            )
        ).alias("bucket"),
    )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        dot_fast(F.col(vec_col), F.col(vec_col)).alias("c_nsqf"),
        portable_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    # qb is queries × (n_bits+1) probe rows — broadcast-small by the
    # queries ≪ corpus contract; without the hint Catalyst may shuffle the
    # whole corpus on the bucket key for a sort-merge join.
    pairs = cb.join(F.broadcast(qb), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return exact_topk_rerank(
        pairs,
        k,
        q_src=queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        c_src=corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
    )


def dist_sq_exact(a: Column, b: Column) -> Column:
    """Exact (order-independent) squared Euclidean distance.

    Per-element (x−y)² stays in IEEE double — deterministic for given
    inputs in any engine — then snaps to decimal and sums exactly, so cell
    assignments that compare these distances are engine-reproducible.
    """
    sq = F.zip_with(
        a,
        b,
        lambda x, y: ((x.cast("double") - y.cast("double"))
                      * (x.cast("double") - y.cast("double"))).cast(_DEC),
    )
    return F.aggregate(sq, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC))


def nearest_cells_exact(
    df: DataFrame, cent: DataFrame, n: int, vec_col: str, id_col: str
) -> DataFrame:
    """The ``n`` exactly-nearest centroids per vector, computed two-phase.

    ``cent`` is a broadcast-sized (cell_id, cvec) table. Phase 1 ranks every
    (vector, cell) pair by the cheap double-fold distance and keeps, per
    vector, the top-n plus anything within _D2_MARGIN of the nth fast value
    (a second window over the same partitioning — no extra shuffle); that
    margin provably covers |fast − exact|, so the survivors contain every
    cell the exact order could pick. Phase 2 runs the exact-decimal
    distance — the output-defining order — only on those ~n survivors per
    vector instead of all |cent| cells.
    """
    d2f = dist_sq_fast(F.col("vec"), F.col("cvec"))
    wf = Window.partitionBy("id").orderBy(F.asc("d2f"), F.asc("cell_id"))
    wp = Window.partitionBy("id")
    ranked = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .crossJoin(F.broadcast(cent))
        .withColumn("d2f", d2f)
        .withColumn("rnf", F.row_number().over(wf))
        .withColumn(
            "nth_f", F.max(F.when(F.col("rnf") <= n, F.col("d2f"))).over(wp)
        )
    )
    survivors = ranked.filter(
        (F.col("rnf") <= n) | (F.col("d2f") <= F.col("nth_f") + _D2_MARGIN)
    )
    rn = F.row_number().over(
        Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cell_id"))
    )
    return (
        survivors.withColumn("d2", dist_sq_exact(F.col("vec"), F.col("cvec")))
        .withColumn("rn", rn)
        .filter(F.col("rn") <= n)
        .select("id", "vec", "cell_id")
    )


def _ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    cent: DataFrame,
    n_probe: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared IVF probe + re-rank: assign the corpus to its nearest cell,
    probe the ``n_probe`` nearest cells per query, exact-cosine re-rank
    (two-phase) inside the probed cells."""
    assigned = nearest_cells_exact(corpus, cent, 1, vec_col, id_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        dot_fast(F.col("vec"), F.col("vec")).alias("c_nsqf"),
        "cell_id",
    )
    probes = nearest_cells_exact(queries, cent, n_probe, vec_col, id_col).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("q_vec"),
        dot_fast(F.col("vec"), F.col("vec")).alias("q_nsqf"),
        "cell_id",
    )
    pairs = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return exact_topk_rerank(
        pairs,
        k,
        q_src=queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        c_src=corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
    )


def ivf_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic IVF twin of :func:`ivf_topk`: seed centroids are the
    ``n_cells`` corpus vectors with the smallest md5(id) — a deterministic
    pseudo-random sample any engine can reproduce — and assignments use
    exact-decimal distances (two-phase: double prefilter, decimal decides).
    Same probe + exact-re-rank semantics as the KMeans path, but fully
    oracle-checkable.

    Scale: seed pick compiles to TakeOrderedAndProject (no global sort);
    the 16-row seed table is broadcast against one corpus scan; per-query
    candidate work is ~n_probe/n_cells of the corpus.
    """
    seeds = (
        corpus.select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cvec"),
            F.md5(F.col(id_col).cast("string")).alias("ck"),
        )
        .orderBy("ck", "cell_id")
        .limit(n_cells)
        .drop("ck")
    )
    return _ivf_search(queries, corpus, k, seeds, n_probe, vec_col, id_col)


def ivf_topk_frozen(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    centroids: list[list[float]],
    n_probe: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN against a *frozen* codebook: assign every vector to its
    nearest centroid literal (exact-decimal distances), probe the
    ``n_probe`` nearest cells per query, exact cosine re-rank inside them.

    This is the production shape of :func:`ivf_topk`: the coarse quantizer
    is trained offline on a sample (tools/fit_ivf_centroids.py runs the
    same KMeans configuration), frozen, and shipped as literals — so the
    query itself is deterministic and SQL-oracle-checkable, and at 100 TB
    the codebook is a 16-row broadcast against one corpus scan with no
    training jobs in the query path.
    """
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell_id int, cvec array<double>",
    )
    return _ivf_search(queries, corpus, k, cent, n_probe, vec_col, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-encode a vector column: (id, m, code) rows, one per subspace —
    ``code`` is the index of the exactly-nearest centroid of subspace
    ``m``'s codebook to the vector's m-th subvector (Jégou et al., TPAMI
    2011). M codes of ⌈log2 K⌉ bits replace D floats (32× smaller at
    D=64/M=8/K=16) — the representation a 100 TB corpus keeps hot.

    Two-phase assignment like :func:`nearest_cells_exact`, partitioned by
    (id, m): the cheap double-fold distance ranks all K centroids and the
    exact-decimal distance — the output-defining order — runs only on the
    top-1-plus-margin survivors, so codes are engine-reproducible (the
    DuckDB oracle replays the same argmin over the same literals).

    Scale: the codebook is an M·K-row broadcast; the subspace explode is
    M rows per vector with dsub-element slices (same total payload as the
    corpus scan); one (id, m)-partitioned window over corpus·M·K scored
    rows — shuffle-linear in the corpus, no pairwise stage.
    """
    m_count = len(codebooks)
    dsub = len(codebooks[0][0])
    spark = df.sparkSession
    cb = spark.createDataFrame(
        [
            (m, c, [float(x) for x in vec])
            for m, book in enumerate(codebooks)
            for c, vec in enumerate(book)
        ],
        "m int, code int, cvec array<double>",
    )
    subs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col), m * dsub + 1, dsub).alias(
                            "svec"
                        ),
                    )
                    for m in range(m_count)
                ]
            )
        ).alias("s"),
    ).select("id", "s.m", "s.svec")
    d2f = dist_sq_fast(F.col("svec"), F.col("cvec"))
    wf = Window.partitionBy("id", "m").orderBy(F.asc("d2f"), F.asc("code"))
    wp = Window.partitionBy("id", "m")
    ranked = (
        subs.join(F.broadcast(cb), "m")
        .withColumn("d2f", d2f)
        .withColumn("rnf", F.row_number().over(wf))
        .withColumn(
            "best_f", F.min(F.when(F.col("rnf") == 1, F.col("d2f"))).over(wp)
        )
    )
    survivors = ranked.filter(
        (F.col("rnf") == 1) | (F.col("d2f") <= F.col("best_f") + _D2_MARGIN)
    )
    rn = F.row_number().over(
        Window.partitionBy("id", "m").orderBy(F.asc("d2"), F.asc("code"))
    )
    return (
        survivors.withColumn("d2", dist_sq_exact(F.col("svec"), F.col("cvec")))
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("id", "m", "code")
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the
    corpus is seen ONLY through its M-code representation; each query
    builds an M×K lookup table of exact-decimal partial dots
    LUT[m][c] = ⟨q_m, centroid_{m,c}⟩ and a neighbor's approximate score
    is Σ_m LUT[m][code_m] — one broadcast-join + sum per corpus code row,
    never a touch of the original vectors. This is the compressed-domain
    search a 100 TB deployment runs when the float corpus no longer fits
    anywhere (the IVF/LSH families here still re-rank against raw
    vectors).

    Scores accumulate in exact decimal (decimal partial dots, exact
    decimal Σ over the M parts) and the OUTPUT value is rounded to 6
    digits with ranking over the rounded value + id tiebreak — the same
    convention as the cosine family: the per-element double→decimal snap
    is 1-unit-portable across engines, so only the rounded score (which
    absorbs 1e-12-level snap divergence) is engine-reproducible enough
    to hash.

    Scale: LUT is queries×M×K rows (tiny — broadcast); the scoring join
    fans the corpus code table out by |queries| and the (query, neighbor)
    aggregation is one shuffle, linear in corpus×queries; top-k is a
    bounded per-query window.
    """
    codes = pq_encode(corpus, codebooks, vec_col, id_col)
    m_count = len(codebooks)
    dsub = len(codebooks[0][0])
    spark = corpus.sparkSession
    cb = spark.createDataFrame(
        [
            (m, c, [float(x) for x in vec])
            for m, book in enumerate(codebooks)
            for c, vec in enumerate(book)
        ],
        "m int, code int, cvec array<double>",
    )
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice(F.col(vec_col), m * dsub + 1, dsub).alias(
                            "svec"
                        ),
                    )
                    for m in range(m_count)
                ]
            )
        ).alias("s"),
    ).select("query_id", "s.m", "s.svec")
    lut = qsubs.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        dot_exact(F.col("svec"), F.col("cvec")).alias("part"),
    )
    scored = (
        codes.withColumnRenamed("id", "neighbor_id")
        .join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.round(F.sum("part").cast("double"), 6).alias("adc_score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "adc_score", "rk")
    )
