"""Training-data pipeline operator queries: dedup / similarity / text /
multimodal (BASELINE.json north-star operators; SURVEY.md §7.2 step 8).

Every query here is the thin binding of a reusable operator from
``autonomus_datapipeline_spark.operators`` to the driver's test tables, plus
a DuckDB oracle that re-states the operator's spec in portable SQL. The
oracle mirrors are generated programmatically from the same constants
(shingle sizes, hash counts, stopword lists) so the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators import dedup, multimodal, similarity, text
from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_running,
)
from autonomus_datapipeline_spark.workloads._ivf_centroids import IVF_CENTROIDS
from autonomus_datapipeline_spark.workloads._pq_codebooks import (
    PQ_CODEBOOKS,
    PQ_DSUB,
)
from autonomus_datapipeline_spark.workloads.registry import load_table, query

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect, mirrored from operator specs)
# ---------------------------------------------------------------------------

_TOKS = r"regexp_split_to_array(lower(text), '\s+')"
_HIGH_HEX = "('8','9','a','b','c','d','e','f')"


def _sql_shingles(n: int) -> str:
    """CTE text producing DISTINCT (doc_id, shingle) for n-word shingles."""
    return f"""
    toks AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(tk[i:i+{n - 1}], ' ') AS shingle
        FROM (
            SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - {n - 1}, 1) + 1)) AS i
            FROM toks
        ) u
    )
    """


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(CASE WHEN text IS NULL THEN 'n' ELSE 'v' || md5(text) END)
               AS content_hash,
           MIN(doc_id) AS kept_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: null-safe md5 content hash → keep lowest doc_id.

    Scale: one hash-shuffle; the md5 is computed map-side and the groupBy
    partially aggregates before the exchange. The oracle mirrors the
    prefix-free null-safe key encoding ('n' | 'v'||md5(col)).
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates
# ---------------------------------------------------------------------------

_MH_K = 12          # minhash functions
_MH_BANDS = 4       # LSH bands (rows_per_band = 3)
_MH_ROWS = _MH_K // _MH_BANDS
_MH_SHINGLE = 2     # word bigrams


def _minhash_bands_cte() -> str:
    """CTE chain ``sh → mh → bands`` (doc_id, band_idx, band_hash) —
    mirrors operators/dedup.py:minhash_signatures (four 32-bit hash values
    per salted md5, disjoint 8-hex-char slices) + band_table. Shared by the
    batch pair oracle below and the streaming-gate mirror in graph_ops."""
    mins = ",\n               ".join(
        f"MIN(substr(md5('{s // 4}:' || shingle), {(s % 4) * 8 + 1}, 8)) AS mh{s}"
        for s in range(_MH_K)
    )
    band_selects = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM mh".format(
            b=b,
            concat=" || ".join(f"mh{b * _MH_ROWS + r}" for r in range(_MH_ROWS)),
        )
        for b in range(_MH_BANDS)
    )
    return f"""{_sql_shingles(_MH_SHINGLE)},
    mh AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_bands_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx
                AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@query("minhash_lsh_pairs", oracle=_minhash_oracle())
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=12 salted-md5 permutations over word bigrams) + LSH
    banding (4 bands × 3 rows) → candidate near-dup pairs.

    Scale: shingle explode → ONE aggregation for all 12 minhashes → band
    equi-join. Non-colliding pairs are never materialized; cost is bounded
    by bucket occupancy, not n².
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _MH_SHINGLE)
    sigs = dedup.minhash_signatures(sh, _MH_K)
    return dedup.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity (exact, inverted-index join)
# ---------------------------------------------------------------------------

_JAC_SHINGLE = 3
_JAC_TOPK = 20


@query(
    "ngram_jaccard_top_pairs",
    oracle=f"""
    WITH {_sql_shingles(_JAC_SHINGLE)},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT {_JAC_TOPK}
    """,
)
def ngram_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard for pairs sharing ≥1 shingle; top-20 most
    similar with deterministic tiebreak.

    Scale: inverted-index self-join (cost Σ df(shingle)², not n²); at 100 TB
    hot shingles get document-frequency-capped upstream.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _JAC_SHINGLE)
    pairs = dedup.ngram_jaccard_pairs(sh)
    return pairs.orderBy(
        F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(_JAC_TOPK)


_JAC_MAX_DF = 25


@query(
    "ngram_jaccard_capped",
    oracle=f"""
    WITH {_sql_shingles(_JAC_SHINGLE)},
    rare AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {_JAC_MAX_DF}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT {_JAC_TOPK}
    """,
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-shaped n-gram Jaccard: document-frequency cap engaged
    (max_df={25}), so stopword shingles with df=d never contribute d² rows to
    the inverted-index join. This — not the uncapped variant — is the plan
    you run at 100 TB; Jaccard is computed over the retained shingle sets on
    BOTH sides (operator and oracle apply the identical cap).

    Scale: one extra count-agg + semi-join before the pair join; the cap
    bounds the join to Σ min(df, max_df)².
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _JAC_SHINGLE)
    pairs = dedup.ngram_jaccard_pairs(sh, max_df=_JAC_MAX_DF)
    return pairs.orderBy(
        F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(_JAC_TOPK)


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_cte(n_bits: int = _SIMHASH_BITS, source: str = "documents") -> str:
    """CTE chain producing fp(doc_id, simhash) — the single SQL mirror of
    operators/dedup.simhash at any width (hash group g is ``md5(tok)`` for
    g=0 and ``md5('g:'||tok)`` beyond; bit j is the high bit of hex char
    j%32 of group j//32). ``source`` lets callers fingerprint a CTE (e.g.
    exact-dedup representatives) instead of the raw table. Keep this the
    ONLY oracle-side formulation: every simhash consumer (fingerprints,
    Hamming pairs, dedup-first) must mirror the identical bit derivation.
    """
    groups = (n_bits + 31) // 32
    hash_cols = ", ".join(
        ("md5(tok) AS h0" if g == 0 else f"md5('{g}:' || tok) AS h{g}")
        for g in range(groups)
    )
    sums = ",\n               ".join(
        f"SUM(CASE WHEN substr(h{j // 32}, {(j % 32) + 1}, 1) IN {_HIGH_HEX} "
        f"THEN 1 ELSE -1 END) AS b{j}"
        for j in range(n_bits)
    )
    bits = " || ".join(
        f"(CASE WHEN b{j} > 0 THEN '1' ELSE '0' END)" for j in range(n_bits)
    )
    return f"""
    toks AS (
        SELECT doc_id, {hash_cols}
        FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM {source}) u
    ),
    sums AS (
        SELECT doc_id,
               {sums}
        FROM toks GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, {bits} AS simhash FROM sums)
    """


def _simhash_oracle(source: str = "documents") -> str:
    return f"""
    WITH {_simhash_cte(_SIMHASH_BITS, source).strip()}
    SELECT doc_id, simhash FROM fp
    """


@query("simhash_fingerprints", oracle=_simhash_oracle())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (frequency-weighted salted-md5 bits).

    Scale: token explode → ONE aggregation computing all 32 bit-sums —
    single shuffle keyed on doc_id, no per-bit row blowup. Near-dup grouping
    then buckets on the fingerprint (or bit-rotations of it for Hamming ≤ k).
    """
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, "doc_id", "text", _SIMHASH_BITS)


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k (baseline) + blocked pairs
# ---------------------------------------------------------------------------

_ANN_K = 5
_NEARDUP_TAU = 0.3
_DIM = 64
_DOT = (
    "SUM(CAST(CAST(a.embedding[p] AS DOUBLE) * CAST(b.embedding[p] AS DOUBLE)"
    " AS DECIMAL(38,12)))"
)
_NORM_CTE = f"""
    norms AS (
        SELECT vec_id,
               CAST(SUM(CAST(CAST(embedding[p] AS DOUBLE) * CAST(embedding[p] AS DOUBLE)
                             AS DECIMAL(38,12))) AS DOUBLE) AS nsq
        FROM embeddings, range(1, {_DIM + 1}) t(p)
        GROUP BY vec_id
    )
"""


@query(
    "embedding_cosine_topk",
    oracle=f"""
    WITH {_NORM_CTE},
    dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({_DOT} AS DOUBLE) AS dot
        FROM embeddings a, embeddings b, range(1, {_DIM + 1}) t(p)
        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT query_id, neighbor_id,
               ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) AS cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) DESC,
                            neighbor_id) AS INT) AS rk
        FROM dots
        JOIN norms nq ON nq.vec_id = query_id
        JOIN norms nc ON nc.vec_id = neighbor_id
    ) s WHERE rk <= {_ANN_K}
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10 — the exact
    ANN baseline. Dot products use the exact decimal accumulator so ranks
    are engine-identical.

    Scale: query side broadcast; corpus scanned once; only shuffle is the
    per-query top-k window (tiny).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, _ANN_K
    )


@query(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH {_NORM_CTE},
    dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
               CAST({_DOT} AS DOUBLE) AS dot
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
             range(1, {_DIM + 1}) t(p)
        GROUP BY 1, 2, 3
    )
    SELECT id_a, id_b, block, cosine FROM (
        SELECT id_a, id_b, block,
               ROUND(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
    ) s WHERE cosine >= {_NEARDUP_TAU}
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label: only
    same-block pairs are compared (Σ block² cost, not n²)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.blocked_neardup_pairs(emb, "label", _NEARDUP_TAU)


def _sql_cents_cte() -> str:
    """Frozen KMeans codebook as SQL literals — one (cell_id, dim, weight)
    row per centroid component, mirroring the planes CTE pattern. The repr()
    of each double is shortest-roundtrip, so DuckDB parses back the
    bit-identical value Spark broadcasts."""
    rows = ",".join(
        f"({c},{p + 1},{w!r})"
        for c, row in enumerate(IVF_CENTROIDS)
        for p, w in enumerate(row)
    )
    return f"cents(cell_id, p, w) AS (VALUES {rows})"


def _sql_ivf_frozen_cand_cte() -> str:
    """CTEs: frozen-centroid exact-decimal cell assignment → n_probe nearest
    cells per query → ivf_frozen_cand."""
    return f"""
    fcell_dist AS (
        SELECT e.vec_id, c.cell_id,
               SUM(CAST((CAST(e.embedding[c.p] AS DOUBLE) - CAST(c.w AS DOUBLE))
                        * (CAST(e.embedding[c.p] AS DOUBLE) - CAST(c.w AS DOUBLE))
                        AS DECIMAL(38,12))) AS d2
        FROM embeddings e, cents c
        GROUP BY 1, 2
    ),
    fassigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM fcell_dist
        ) WHERE rn = 1
    ),
    fprobes AS (
        SELECT vec_id AS query_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM fcell_dist WHERE vec_id < 10
        ) WHERE rn <= {_IVF_PROBE}
    ),
    ivf_frozen_cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM fprobes p JOIN fassigned a ON a.cell_id = p.cell_id
        WHERE a.vec_id <> p.query_id
    )"""


# -- deterministic, oracle-replayable ANN twins ------------------------------
#
# The hyperplanes are md5-derived double literals generated by the same
# Python code that builds the oracle SQL, and every dot/distance goes through
# the exact-decimal accumulator — so LSH buckets, IVF cell assignments,
# candidate sets, and re-ranked top-k are bit-identical between Spark and
# DuckDB. This is what turns the ANN family from "rows-only" into hard
# value-checked queries.

_ANN_BITS = 6
_ANN_SEED = 42
_ANN_PLANES = similarity.md5_hyperplanes(_DIM, _ANN_BITS, _ANN_SEED)
_IVF_CELLS = 16
_IVF_PROBE = 5


def _sql_planes_cte() -> str:
    rows = ",".join(
        f"({j},{d + 1},{w!r})"
        for j, row in enumerate(_ANN_PLANES)
        for d, w in enumerate(row)
    )
    return f"planes(j, p, w) AS (VALUES {rows})"


def _sql_lsh_cand_cte() -> str:
    """CTEs: buckets (all vectors) → multi-probe query buckets → lsh_cand."""
    probe_vals = ",".join(f"({f})" for f in [0, *[1 << i for i in range(_ANN_BITS)]])
    return f"""
    plane_dots AS (
        SELECT e.vec_id, pl.j,
               SUM(CAST(CAST(e.embedding[pl.p] AS DOUBLE) * pl.w
                        AS DECIMAL(38,12))) AS dot
        FROM embeddings e, planes pl
        GROUP BY 1, 2
    ),
    buckets AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN dot >= 0 THEN (1 << j) ELSE 0 END) AS INT)
                   AS bucket
        FROM plane_dots GROUP BY 1
    ),
    qprobe AS (
        SELECT b.vec_id AS query_id, xor(b.bucket, fl.f) AS bucket
        FROM buckets b, (VALUES {probe_vals}) fl(f)
        WHERE b.vec_id < 10
    ),
    lsh_cand AS (
        SELECT q.query_id, c.vec_id AS neighbor_id
        FROM qprobe q JOIN buckets c ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
    )"""


def _sql_ivf_cand_cte() -> str:
    """CTEs: md5-sampled seed centroids → exact-decimal cell assignment →
    n_probe nearest cells per query → ivf_cand."""
    return f"""
    seeds AS (
        SELECT vec_id AS cell_id, embedding AS cvec
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_CELLS}
    ),
    cell_dist AS (
        SELECT e.vec_id, s.cell_id,
               SUM(CAST((CAST(e.embedding[t.p] AS DOUBLE) - CAST(s.cvec[t.p] AS DOUBLE))
                        * (CAST(e.embedding[t.p] AS DOUBLE) - CAST(s.cvec[t.p] AS DOUBLE))
                        AS DECIMAL(38,12))) AS d2
        FROM embeddings e, seeds s, range(1, {_DIM + 1}) t(p)
        GROUP BY 1, 2
    ),
    assigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM cell_dist
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM cell_dist WHERE vec_id < 10
        ) WHERE rn <= {_IVF_PROBE}
    ),
    ivf_cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assigned a ON a.cell_id = p.cell_id
        WHERE a.vec_id <> p.query_id
    )"""


_SQL_EXACT_CAND_CTE = """
    exact_cand AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
        FROM embeddings a, embeddings b
        WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
    )"""


def _sql_rerank_cte(cand_rel: str, out_rel: str, k: int | None = None) -> str:
    """Exact-decimal cosine re-rank of a (query_id, neighbor_id) candidate
    relation into top-k rows (query_id, neighbor_id, cosine, rk)."""
    k = _ANN_K if k is None else k
    return f"""
    {out_rel}_dots AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST({_DOT} AS DOUBLE) AS dot
        FROM {cand_rel} cd
        JOIN embeddings a ON a.vec_id = cd.query_id
        JOIN embeddings b ON b.vec_id = cd.neighbor_id,
             range(1, {_DIM + 1}) t(p)
        GROUP BY 1, 2
    ),
    {out_rel} AS (
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT query_id, neighbor_id,
                   ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) AS cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ROUND(dot / (sqrt(nq.nsq) * sqrt(nc.nsq)), 6) DESC,
                                neighbor_id) AS INT) AS rk
            FROM {out_rel}_dots
            JOIN norms nq ON nq.vec_id = query_id
            JOIN norms nc ON nc.vec_id = neighbor_id
        ) s WHERE rk <= {k}
    )"""


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_sql_planes_cte()},
    {_NORM_CTE},
    {_sql_lsh_cand_cte()},
    {_sql_rerank_cte("lsh_cand", "lsh_topk")}
    SELECT query_id, neighbor_id, cosine, rk FROM lsh_topk
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH buckets with Hamming-1
    multi-probe and exact cosine re-rank inside the candidate set.

    Fully oracle-checked: the hyperplanes are md5-derived literals shared
    with the oracle SQL and bucket signs come from exact-decimal dots, so
    the candidate sets (and therefore the approximate answer itself) are
    engine-reproducible.

    Scale: candidates per query ≈ corpus × (n_bits+1)/2^n_bits ≈ 11%; the
    bucket join is a plain int equi-join, AQE-coalesced.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk_portable(
        emb.filter(F.col("vec_id") < 10), emb, _ANN_K, _ANN_PLANES
    )


@query(
    "ann_ivf_portable_topk",
    oracle=f"""
    WITH {_NORM_CTE},
    {_sql_ivf_cand_cte()},
    {_sql_rerank_cte("ivf_cand", "ivf_topk")}
    SELECT query_id, neighbor_id, cosine, rk FROM ivf_topk
    """,
)
def ann_ivf_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic md5-sampled seed centroids (no trained
    model): assign every vector to its nearest of 16 seed vectors via
    exact-decimal distances, probe the 5 nearest cells per query, exact
    cosine re-rank inside them. Same probe/re-rank semantics as the KMeans
    path (`ann_ivf_topk`) but fully SQL-replayable — this is the hard
    correctness check for the IVF machinery.

    Scale: seed selection is a global top-16 (TakeOrdered, no full sort);
    assignment is a broadcast of 16 centroids against one corpus scan;
    per-query work is n_probe/n_cells of the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_portable(
        emb.filter(F.col("vec_id") < 10), emb, _ANN_K,
        n_cells=_IVF_CELLS, n_probe=_IVF_PROBE,
    )


@query(
    "ann_ivf_frozen_topk",
    oracle=f"""
    WITH {_sql_cents_cte()},
    {_NORM_CTE},
    {_sql_ivf_frozen_cand_cte()},
    {_sql_rerank_cte("ivf_frozen_cand", "ivf_frozen_topk")}
    SELECT query_id, neighbor_id, cosine, rk FROM ivf_frozen_topk
    """,
)
def ann_ivf_frozen_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN against a *frozen* KMeans codebook: the coarse
    quantizer was trained offline ONCE (tools/fit_ivf_centroids.py — the
    exact KMeans configuration `operators/similarity.ivf_topk` runs online:
    k=16, seed=42, maxIter=5, random init) and shipped as literals in
    `workloads/_ivf_centroids.py`; the query assigns every vector to its
    nearest frozen centroid with exact-decimal distances, probes the 5
    nearest cells per query, and exact-cosine re-ranks inside them.

    This is the production IVF shape — train on a sample, freeze, assign the
    corpus — and it retires the old `ann_ivf_topk`, which refit KMeans
    inside the query path (a training job per query: both a scale-killer
    and unverifiable). Frozen literals make the trained path fully
    SQL-replayable, so the oracle embeds the same codebook and replays
    assignment, probing, and re-rank exactly.

    Scale: the codebook is a 16-row broadcast against one corpus scan; no
    training jobs, no cached intermediate, per-query candidate work is
    ~n_probe/n_cells of the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk_frozen(
        emb.filter(F.col("vec_id") < 10), emb, _ANN_K,
        centroids=IVF_CENTROIDS, n_probe=_IVF_PROBE,
    )


# SemDeDup prune threshold: within-cell cosine at or above this marks the
# higher-id member as a semantic duplicate of the lower-id one.
_SEMDEDUP_TAU = 0.3


@query(
    "semdedup_cell_prune",
    oracle=f"""
    WITH {_sql_cents_cte()},
    {_NORM_CTE},
    {_sql_ivf_frozen_cand_cte()},
    sd_pairs AS (
        SELECT aa.cell_id, aa.vec_id AS id_a, ab.vec_id AS id_b
        FROM fassigned aa JOIN fassigned ab
          ON ab.cell_id = aa.cell_id AND aa.vec_id < ab.vec_id
    ),
    sd_dots AS (
        SELECT sp.cell_id, sp.id_a, sp.id_b, CAST({_DOT} AS DOUBLE) AS dot
        FROM sd_pairs sp
        JOIN embeddings a ON a.vec_id = sp.id_a
        JOIN embeddings b ON b.vec_id = sp.id_b,
             range(1, {_DIM + 1}) t(p)
        GROUP BY 1, 2, 3
    ),
    sd_pruned AS (
        SELECT DISTINCT d.cell_id, d.id_b
        FROM sd_dots d
        JOIN norms na ON na.vec_id = d.id_a
        JOIN norms nb ON nb.vec_id = d.id_b
        WHERE ROUND(d.dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6)
              >= {_SEMDEDUP_TAU}
    ),
    sd_members AS (SELECT cell_id, COUNT(*) AS nm FROM fassigned GROUP BY 1),
    sd_prn AS (SELECT cell_id, COUNT(*) AS np FROM sd_pruned GROUP BY 1)
    SELECT m.cell_id,
           CAST(m.nm AS BIGINT) AS n_members,
           CAST(COALESCE(p.np, 0) AS BIGINT) AS n_pruned,
           CAST(m.nm - COALESCE(p.np, 0) AS BIGINT) AS n_kept
    FROM sd_members m LEFT JOIN sd_prn p USING (cell_id)
    ORDER BY m.cell_id
    """,
)
def semdedup_cell_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest frozen-codebook
    centroid, then prune, WITHIN each cell only, every vector whose cosine
    to a lower-id cell-mate reaches the threshold — keeping one
    representative per semantic near-dup group without ever comparing
    across cells. Reports per-cell members / pruned / kept.

    This is the cluster-bucketed scale path for embedding-cosine dedup:
    `embedding_neardup_pairs` bounds the quadratic term with a GIVEN
    blocking key (label), while here the blocking key is LEARNED (the same
    offline-trained codebook the frozen-IVF ANN ships), so it applies to
    corpora with no natural block column. At 100 TB the codebook is trained
    once on a sample with k ∝ corpus/target-cell-size (SemDeDup uses 50k
    clusters for LAION), assignment is one corpus scan against a broadcast
    codebook, and the within-cell stage is `blocked_neardup_pairs`' Arrow
    matmul prefilter + exact-decimal scoring on survivors — Σ cell² work,
    never n². The 16-key shuffle here is a toy-codebook artifact; the
    production k keeps cells both worker-sized and numerous.

    Determinism: cell assignment compares exact-decimal distances
    (ties → lower cell id) and the prune compares the exact-decimal cosine
    rounded to 6 — both engines replay bit-identically.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(IVF_CENTROIDS)],
        "cell_id int, cvec array<double>",
    )
    clustered = (
        similarity.nearest_cells_exact(emb, cent, 1, "embedding", "vec_id")
        .select(
            F.col("id").alias("vec_id"),
            "cell_id",
            F.col("vec").alias("embedding"),
        )
        # two consumers below (pair generation + member counts) with
        # different downstream exchanges — ReuseExchange cannot dedupe them
        .localCheckpoint(eager=True)
    )
    pairs = similarity.blocked_neardup_pairs(clustered, "cell_id", _SEMDEDUP_TAU)
    pruned = pairs.select(
        F.col("block").alias("cell_id"), F.col("id_b").alias("vec_id")
    ).distinct()
    members = clustered.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    npruned = pruned.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pruned")
    )
    zero = F.lit(0).cast("bigint")
    return (
        members.join(npruned, "cell_id", "left")
        .select(
            "cell_id",
            "n_members",
            F.coalesce("n_pruned", zero).alias("n_pruned"),
            (F.col("n_members") - F.coalesce("n_pruned", zero))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cell_id")
    )


@query(
    "ann_recall_report",
    oracle=f"""
    WITH {_sql_planes_cte()},
    {_NORM_CTE},
    {_sql_lsh_cand_cte()},
    {_sql_ivf_cand_cte()},
    {_SQL_EXACT_CAND_CTE},
    {_sql_rerank_cte("lsh_cand", "lsh_topk")},
    {_sql_rerank_cte("ivf_cand", "ivf_topk")},
    {_sql_rerank_cte("exact_cand", "exact_topk")}
    SELECT method, query_id, k, n_hits,
           CAST(n_hits AS DOUBLE) / k AS recall
    FROM (
        SELECT 'rp_lsh' AS method, e.query_id, {_ANN_K} AS k,
               CAST(COUNT(ap.neighbor_id) AS INT) AS n_hits
        FROM exact_topk e
        LEFT JOIN lsh_topk ap
          ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
        GROUP BY 2
        UNION ALL
        SELECT 'ivf_seed' AS method, e.query_id, {_ANN_K} AS k,
               CAST(COUNT(ap.neighbor_id) AS INT) AS n_hits
        FROM exact_topk e
        LEFT JOIN ivf_topk ap
          ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
        GROUP BY 2
    ) r
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of both deterministic ANN paths against the exact
    brute-force baseline, computed INSIDE Spark as a join + agg — and,
    because both ANN sides are engine-reproducible, fully value-checked by
    the oracle replaying all three pipelines in SQL. This bounds the
    'approximate by design' queries with a hard invariant instead of a
    rows-only check.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # NOT localCheckpoint-ed like ann_mrr_report's exact1: measured r14
    # (profile_query, warm session) — executor time is unchanged with the
    # checkpoint (12.5 vs 13.0 s), i.e. runtime exchange reuse already
    # dedupes this subtree across the two union branches (both joins
    # broadcast the tiny HITS side, so no broadcast-build job re-executes
    # the exact pipeline here, unlike mrr's exact1 shape).
    exact = similarity.cosine_topk(q, emb, _ANN_K).select("query_id", "neighbor_id")
    reports = []
    for method, approx in (
        ("rp_lsh", similarity.lsh_topk_portable(q, emb, _ANN_K, _ANN_PLANES)),
        ("ivf_seed", similarity.ivf_topk_portable(
            q, emb, _ANN_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE)),
    ):
        hits = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
        rep = (
            exact.join(hits, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("hit").cast("int").alias("n_hits"))
            .select(
                F.lit(method).alias("method"),
                "query_id",
                F.lit(_ANN_K).alias("k"),
                "n_hits",
                (F.col("n_hits") / _ANN_K).alias("recall"),
            )
        )
        reports.append(rep)
    return reports[0].unionByName(reports[1])


@query(
    "ann_mrr_report",
    oracle=f"""
    WITH {_sql_planes_cte()},
    {_NORM_CTE},
    {_sql_lsh_cand_cte()},
    {_sql_ivf_cand_cte()},
    {_SQL_EXACT_CAND_CTE},
    {_sql_rerank_cte("lsh_cand", "lsh_topk")},
    {_sql_rerank_cte("ivf_cand", "ivf_topk")},
    {_sql_rerank_cte("exact_cand", "exact_top1", k=1)}
    SELECT method, query_id,
           ROUND(COALESCE(MAX(1.0 / rr_rk), 0.0), 6) AS rr
    FROM (
        SELECT 'rp_lsh' AS method, e.query_id, ap.rk AS rr_rk
        FROM exact_top1 e
        LEFT JOIN lsh_topk ap
          ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
        UNION ALL
        SELECT 'ivf_seed' AS method, e.query_id, ap.rk AS rr_rk
        FROM exact_top1 e
        LEFT JOIN ivf_topk ap
          ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
    ) r
    GROUP BY 1, 2
    """,
)
def ann_mrr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@{_ANN_K} of both deterministic ANN paths: per query, the
    reciprocal rank at which the EXACT nearest neighbor appears in the
    approximate top-{_ANN_K} (0 when missed) — the rank-sensitive
    complement to ann_recall_report's set-overlap recall, and the metric
    retrieval evaluations actually report. Fully value-checked: both ANN
    sides and the exact top-1 are engine-reproducible.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # |queries| rows; both method branches join against it and their
    # broadcast-build jobs would otherwise re-run the whole exact
    # brute-force pipeline once per branch (cross-job re-execution —
    # the HITS/PageRank lesson, NOTES_BUILD r7)
    exact1 = (
        similarity.cosine_topk(q, emb, 1)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    reports = []
    for method, approx in (
        ("rp_lsh", similarity.lsh_topk_portable(q, emb, _ANN_K, _ANN_PLANES)),
        ("ivf_seed", similarity.ivf_topk_portable(
            q, emb, _ANN_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE)),
    ):
        hits = approx.select("query_id", "neighbor_id", "rk")
        rep = (
            exact1.join(hits, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.round(
                    F.coalesce(F.max(1.0 / F.col("rk")), F.lit(0.0)), 6
                ).alias("rr")
            )
            .select(F.lit(method).alias("method"), "query_id", "rr")
        )
        reports.append(rep)
    return reports[0].unionByName(reports[1])


# -- contrastive-training pair mining ----------------------------------------

_HNM_POS = 5   # top-k treated as positives
_HNM_NEG = 10  # hard negatives: the next _HNM_NEG ranks


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH {_NORM_CTE},
    {_SQL_EXACT_CAND_CTE},
    {_sql_rerank_cte("exact_cand", "hnm_topk", k=_HNM_POS + _HNM_NEG)}
    SELECT query_id, neighbor_id, cosine, rk
    FROM hnm_topk WHERE rk > {_HNM_POS}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    {_HNM_NEG} corpus vectors ranked JUST BELOW the top-{_HNM_POS}
    positives by exact cosine — similar enough to be informative negatives,
    dissimilar enough (by rank) to not be false negatives. This is the
    standard dense-retriever / embedding-model training recipe.

    Scale: identical plan to the exact top-k (broadcast anchors, one corpus
    scan, two-phase fast/exact scoring); the rank window costs nothing
    beyond mining top-(pos+neg) instead of top-pos. At 100 TB the anchor
    side is the batch being trained on, corpus-side ANN (LSH/IVF twins)
    replaces the exact scan for candidate generation.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    topk = similarity.cosine_topk(q, emb, _HNM_POS + _HNM_NEG)
    return topk.filter(F.col("rk") > _HNM_POS)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _stop_list_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang])
    return (
        f"CAST(len(list_filter(tk, x -> list_contains([{words}], x))) AS INT)"
    )


def _e4_sql(num: str, den: str) -> str:
    """Round-half-up of 10⁴·num/den in pure integer SQL (the oracle twin of
    operators/text._e4_half_up — ROUND(double, 4) is not engine-portable
    for arbitrary rationals)."""
    return f"((({num}) * 20000 + ({den})) // (({den}) * 2))"


_ALPHA_SQL = "length(regexp_replace(text, '\\s+', '', 'g'))"


def _quality_e4_cols() -> tuple[str, str, str]:
    """(a_e4, s_e4, q_e4) integer ten-thousandth expressions over the
    t(doc_id, text, tk) CTE — the single SQL spec for the quality score."""
    a_e4 = _e4_sql(_ALPHA_SQL, "len(tk)")
    s_e4 = _e4_sql(_stop_list_sql("en"), "len(tk)")
    p = (
        f"(least(len(tk), 150) * 3200 + {s_e4} * 24"
        f" + least({a_e4}, 80000) * 3)"
    )
    q_e4 = f"(({p} * 20000 + 960000) // 1920000)"
    return a_e4, s_e4, q_e4


_A_E4, _S_E4, _Q_E4 = _quality_e4_cols()


@query(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents)
    SELECT doc_id,
           CAST(len(tk) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           CAST({_A_E4} AS DOUBLE) / 10000.0 AS avg_token_len,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT)
               AS n_punct,
           CAST({_S_E4} AS DOUBLE) / 10000.0 AS stop_ratio,
           CAST({_Q_E4} AS DOUBLE) / 10000.0 AS quality_score
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, char count, average token
    length, punctuation count, stopword ratio, composite score ∈ [0,1].
    Ratios are exact integer ten-thousandths (half-up by integer
    cross-multiplication) divided once by 10⁴ — the ROUND(double, 4) form
    drifted between engines at sf0.1 density (see operators/text._e4_half_up).

    Scale: pure codegen'd projection — runs at scan speed, no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = text.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["n_punct"].alias("n_punct"),
        feats["stop_ratio"].alias("stop_ratio"),
        feats["quality_score"].alias("quality_score"),
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n           ".join(
        f"{_stop_list_sql(lang)} AS s_{lang}" for lang in text.LANG_PRIORITY
    )
    greatest = ", ".join(f"s_{lang}" for lang in text.LANG_PRIORITY)
    case = " ".join(
        f"WHEN s_{lang} = g THEN '{lang}'" for lang in text.LANG_PRIORITY[:-1]
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
    s AS (
        SELECT doc_id, lang,
           {score_cols}
        FROM t
    ),
    g AS (SELECT *, GREATEST({greatest}) AS g FROM s)
    SELECT doc_id, lang,
           CASE {case} ELSE '{text.LANG_PRIORITY[-1]}' END AS predicted_lang,
           (CASE {case} ELSE '{text.LANG_PRIORITY[-1]}' END) = lang AS is_correct
    FROM g
    """


@query("lang_id_stopword_voting", oracle=_lang_id_oracle())
def lang_id_stopword_voting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: per-language stopword-hit voting with a fixed
    tie order, compared against the labeled ``lang`` column.

    Scale: codegen'd projection (array filter per language), no shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    pred = text.predicted_lang(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


@query(
    "token_count_regex",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text.BPE_ISH_TOKEN_RE}')) AS INT)
               AS n_bpe_tokens,
           CAST(len({_TOKS}) AS INT) AS n_ws_tokens
    FROM documents
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenization
    (words | numbers | single symbols)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        F.size(text.tokens(F.col("text"))).alias("n_ws_tokens"),
    )


@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_fingerprint,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS token_fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace-normalized md5 + sorted-distinct-
    token md5 (catches reorderings). Both are the join keys for cross-corpus
    exact/near dedup at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.normalized_fingerprint(F.col("text")).alias("norm_fingerprint"),
        text.sorted_token_fingerprint(F.col("text")).alias("token_fingerprint"),
    )


_WK, _WW = 5, 8


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               length(text) - {_WK - 1} AS n_grams,
               i - 1 AS pos,
               md5(substr(text, CAST(i AS INT), {_WK})) AS h
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, length(text) - {_WK - 1} + 1)) AS i
            FROM documents WHERE length(text) >= {_WK}
        ) g
    ),
    mins AS (
        SELECT doc_id, n_grams, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WW - 1} FOLLOWING)
                   AS fingerprint
        FROM grams
    )
    SELECT DISTINCT doc_id, fingerprint
    FROM mins WHERE pos <= n_grams - {_WW}
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (k=5 char-grams, window w=8):
    every window of 8 consecutive k-gram hashes contributes its minimum;
    the distinct set per doc is robust to local edits — the
    plagiarism-detection / fuzzy-dedup fingerprint.

    Scale: explode + one windowed min + distinct — one shuffle on doc_id
    plus the dedup shuffle; selection keeps ~2/w of grams.
    """
    docs = load_table(spark, sf_dir, "documents")
    return text.winnowing_fingerprints(docs, "doc_id", "text", _WK, _WW)


# ---------------------------------------------------------------------------
# Multimodal binary-column plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           md5(md5(text) || '/' || CAST(i AS VARCHAR)) AS frame_md5
    FROM (
        SELECT doc_id, text,
               unnest(range(0, 1 + strlen(text) % 4)) AS i
        FROM documents
    ) t
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary 'video' payloads: 1 payload → N frame rows
    expanded inside the Arrow batch (mapInPandas), codec stubbed behind a
    deterministic fake (frame count = 1 + bytes mod 4, frame id =
    md5(payload_md5 || '/idx'))."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", multimodal.to_payload(F.col("text")).alias("payload")
    )
    return multimodal.sample_frames(docs)


@query(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(1 + ascii(substr(md5(text), 1, 1)) AS INT) AS width,
           CAST(1 + ascii(substr(md5(text), 2, 1)) AS INT) AS height,
           CASE ascii(substr(md5(text), 3, 1)) % 3
                WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
    FROM documents
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: text → opaque binary payload → Arrow-
    batched mapInPandas 'decode' producing typed metadata (real codec call
    stubbed; deterministic md5-derived fake keeps the path oracle-checkable).

    Scale: the pandas stage is a streaming per-batch map with no shuffle;
    the payload column is dropped immediately after decode.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", multimodal.to_payload(F.col("text")).alias("payload")
    )
    return multimodal.decode_features(docs)


# ---------------------------------------------------------------------------
# Quality-threshold pruning (exact global percentile without a global sort)
# ---------------------------------------------------------------------------

_QF_NUM = 1  # drop the bottom _QF_NUM/_QF_DEN of the corpus by quality
_QF_DEN = 5


def _quality_score_sql() -> str:
    """The composite quality_score expression over the t(doc_id, text, tk)
    CTE — same spec as text_quality_scores (integer ten-thousandths)."""
    return f"(CAST({_Q_E4} AS DOUBLE) / 10000.0)"


@query(
    "quality_threshold_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents),
    scored AS (SELECT doc_id, {_quality_score_sql()} AS quality_score FROM t),
    hist AS (SELECT quality_score AS v, COUNT(*) AS c FROM scored GROUP BY 1),
    cum AS (SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist),
    thr AS (SELECT MIN(v) AS t FROM cum
            WHERE cum * {_QF_DEN} >= (SELECT COUNT(*) FROM scored) * {_QF_NUM})
    SELECT doc_id, quality_score,
           quality_score >= (SELECT t FROM thr) AS kept
    FROM scored
    """,
)
def quality_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold corpus pruning: drop documents strictly below the
    exact 20th-percentile quality value (ties at the threshold are kept).

    The exact global percentile is computed WITHOUT a global row sort: the
    quality score is quantized (round 4), so a value histogram is at most
    ~10^4 rows regardless of corpus size — groupBy(score) with map-side
    combine, a histogram-sized cumulative window, and one broadcast
    threshold back against the corpus. Integer cross-multiplication
    (cum*5 >= N*1) avoids the 0.2*N float trap (0.2 is not binary-exact;
    ceil(0.2*500) = 101 on some libms). This is the scale-correct shape for
    ANY exact quantile over a quantized metric; approx_percentile exists
    for the unquantized case (approx_aggregates query).
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = text.quality_features(F.col("text"))
    scored = docs.select(
        "doc_id", feats["quality_score"].alias("quality_score")
    )
    hist = scored.groupBy(F.col("quality_score").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = with_global_running(
        hist,
        [("v", True)],
        sums={"cum": "c"},
        # The grand count rides the prefix-sum's own per-bucket rollup
        # (totals=) instead of a separate scored.agg(count) branch — that
        # branch was a THIRD corpus scan + feature pass (the final
        # projection and the histogram are the other two).
        totals={"n": "c"},
        # quality_score ∈ [0, 1] by operator spec — skips the min/max
        # scan, which would re-run the corpus scan + feature extraction
        bounds=(0.0, 1.0),
    ).select("v", "cum", "n")
    thr = (
        cum
        .filter(F.col("cum") * _QF_DEN >= F.col("n") * _QF_NUM)
        .agg(F.min("v").alias("t"))
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "quality_score",
        (F.col("quality_score") >= F.col("t")).alias("kept"),
    )


@query(
    "ann_ivf_incremental_assign",
    oracle=f"""
    WITH {_sql_cents_cte()},
    batch AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
    ),
    bdist AS (
        SELECT b.vec_id, c.cell_id,
               SUM(CAST((CAST(b.embedding[c.p] AS DOUBLE) - CAST(c.w AS DOUBLE))
                        * (CAST(b.embedding[c.p] AS DOUBLE) - CAST(c.w AS DOUBLE))
                        AS DECIMAL(38,12))) AS d2
        FROM batch b, cents c
        GROUP BY 1, 2
    ),
    bassigned AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell_id) AS rn
            FROM bdist
        ) WHERE rn = 1
    )
    SELECT cell_id,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(vec_id) AS BIGINT) AS member_id_sum
    FROM bassigned GROUP BY 1
    """,
)
def ann_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: assign ONLY an incoming batch
    (here the vec_id % 5 == 0 slice stands in for a new snapshot) to the
    frozen codebook and report per-cell intake — the nightly/streaming
    operation that keeps a trained ANN index current without touching the
    already-indexed corpus (the full-corpus twin is `ann_ivf_frozen_topk`).

    Scale: the batch scan is pruned by the predicate, the 16-row codebook
    broadcasts, and the output is cell-count-sized. member_id_sum (exact
    BIGINT) lets the oracle check the exact assignment membership.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 5 == 0
    )
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(IVF_CENTROIDS)],
        "cell_id int, cvec array<double>",
    )
    assigned = similarity.nearest_cells_exact(emb, cent, 1, "embedding", "vec_id")
    return assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("id").cast("bigint").alias("member_id_sum"),
    )


def _minhash_error_oracle() -> str:
    mh = _minhash_oracle().strip()
    with_part, select_part = mh.split("SELECT a.doc_id AS doc_a", 1)
    n_eq = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)" for s in range(_MH_K)
    )
    return f"""
    {with_part.rstrip()},
    pairs AS (
        SELECT a.doc_id AS doc_a{select_part}
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM shd GROUP BY 1),
    est AS (
        SELECT p.doc_a, p.doc_b, {n_eq} AS n_eq
        FROM pairs p
        JOIN mh a ON a.doc_id = p.doc_a
        JOIN mh b ON b.doc_id = p.doc_b
    ),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
        FROM pairs p
        JOIN shd sa ON sa.doc_id = p.doc_a
        JOIN shd sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(est_e4 AS DOUBLE) / 10000.0 AS jaccard_est,
           CAST(ex_e4 AS DOUBLE) / 10000.0 AS jaccard_exact,
           CAST(ABS(est_e4 - ex_e4) AS DOUBLE) / 10000.0 AS abs_err
    FROM (
        SELECT e.doc_a, e.doc_b,
               (e.n_eq * 20000 + {_MH_K}) // {2 * _MH_K} AS est_e4,
               (COALESCE(i.ni, 0) * 20000
                + (za.ns + zb.ns - COALESCE(i.ni, 0)))
                   // ((za.ns + zb.ns - COALESCE(i.ni, 0)) * 2) AS ex_e4
        FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN sizes za ON za.doc_id = e.doc_a
        JOIN sizes zb ON zb.doc_id = e.doc_b
    ) q
    """


@query("minhash_jaccard_error", oracle=_minhash_error_oracle())
def minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality report for the MinHash index: per candidate pair, the
    signature-estimated Jaccard (fraction of equal minhash components)
    against the EXACT shingle-set Jaccard, plus the absolute error — the
    report that tunes k (signature width) and the LSH band shape before
    committing a 100 TB dedup run to them.

    Scale: the exact side only ever runs on LSH-bounded candidates (the
    inverted-index intersection join is pairs × shingles-per-doc, never
    corpus²); the signature re-attach joins are shuffled on doc id —
    corpus-sized sides are never broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _MH_SHINGLE)
    sigs = dedup.minhash_signatures(sh, _MH_K).localCheckpoint(eager=True)
    pairs = dedup.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS).select(
        "doc_a", "doc_b"
    )
    n_eq = sum(
        F.when(F.col(f"a.mh{s}") == F.col(f"b.mh{s}"), 1).otherwise(0)
        for s in range(_MH_K)
    )
    est = (
        pairs.join(sigs.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(sigs.alias("b"), F.col("b.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", n_eq.alias("n_eq"))
    )
    shd = sh.select("doc_id", "shingle").distinct().localCheckpoint(eager=True)
    sizes = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    sa = shd.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = shd.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("ns_a"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("ns_b"))
    ni = F.coalesce(F.col("ni"), F.lit(0))
    # integer ten-thousandths via cross-multiplication (no ROUND(double, 4)
    # — the quality-score drift class; see operators/text._e4_half_up)
    union_sz = F.col("ns_a") + F.col("ns_b") - ni
    est_e4 = F.floor((F.col("n_eq") * 20000 + _MH_K) / (2 * _MH_K)).cast("long")
    ex_e4 = F.floor((ni * 20000 + union_sz) / (union_sz * 2)).cast("long")
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (est_e4.cast("double") / 10000.0).alias("jaccard_est"),
            (ex_e4.cast("double") / 10000.0).alias("jaccard_exact"),
            (F.abs(est_e4 - ex_e4).cast("double") / 10000.0).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing cross-document match pairs (plagiarism detection)
# ---------------------------------------------------------------------------

_WMP_MIN_SHARED = 3
_WMP_MAX_DF = 20
_WMP_TOP = 50


@query(
    "winnowing_match_pairs",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               length(text) - {_WK - 1} AS n_grams,
               i - 1 AS pos,
               md5(substr(text, CAST(i AS INT), {_WK})) AS h
        FROM (
            SELECT doc_id, text,
                   unnest(range(1, length(text) - {_WK - 1} + 1)) AS i
            FROM documents WHERE length(text) >= {_WK}
        ) g
    ),
    mins AS (
        SELECT doc_id, n_grams, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {_WW - 1} FOLLOWING)
                   AS fingerprint
        FROM grams
    ),
    fp AS (
        SELECT DISTINCT doc_id, fingerprint
        FROM mins WHERE pos <= n_grams - {_WW}
    ),
    common AS (
        SELECT fingerprint FROM fp GROUP BY 1
        HAVING COUNT(*) <= {_WMP_MAX_DF}
    ),
    fpc AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN common USING (fingerprint)),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM fpc GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fpc a JOIN fpc b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_WMP_MIN_SHARED}
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared)
               AS fp_jaccard, rk
    FROM (
        SELECT p.*, CAST(ROW_NUMBER() OVER (
                   ORDER BY n_shared DESC, doc_a, doc_b) AS INT) AS rk
        FROM pairs p
    ) p
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE rk <= {_WMP_TOP}
    ORDER BY rk
    """,
)
def winnowing_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document plagiarism candidates: pairs sharing ≥
    {_WMP_MIN_SHARED} winnowed fingerprints, scored by fingerprint
    Jaccard — the MOSS-style matcher built on winnowing_fingerprints'
    guarantee (any shared substring ≥ k+w−1 chars MUST share a
    fingerprint, so unlike MinHash there are no long-match false
    negatives). The df cap ({_WMP_MAX_DF}) drops boilerplate fingerprints
    before the pair join — the same quadratic bound as
    ngram_jaccard_capped.

    Scale: fingerprint selection keeps ~2/w of grams; the pair join is
    Σ min(df,cap)²-bounded on the fingerprint key; sizes re-attach via a
    shuffled join (doc-count-sized — never broadcast, the r4 lesson).
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = text.winnowing_fingerprints(docs, "doc_id", "text", _WK, _WW)
    # df cap as a count-over-fingerprint window: ONE shuffle of the
    # fingerprint table, no groupBy+semi-join self-read. The capped table
    # feeds three branches (sizes, both pair-join sides), so materialize
    # the CAPPED table once — checkpointing the pre-cap table instead left
    # each branch re-running the df rollup + semi-join (r8; the pre-cap
    # checkpoint itself was the r4 fix for the explode+md5+window chain
    # re-executing per branch, 10.4 s → 3.9 s at sf0.1).
    w_df = Window.partitionBy("fingerprint")
    fpc = (
        fp.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .where(F.col("_df") <= _WMP_MAX_DF)
        .drop("_df")
        .localCheckpoint()
    )
    sizes = fpc.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = fpc.select(F.col("doc_id").alias("doc_a"), "fingerprint")
    b = fpc.select(F.col("doc_id").alias("doc_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= _WMP_MIN_SHARED)
    )
    ranked = ranked_head(
        pairs,
        [("n_shared", False), ("doc_a", True), ("doc_b", True)],
        _WMP_TOP,
        "rk",
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        ranked.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("fp_jaccard"),
            "rk",
        )
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking (Hernández-Stolfo windowed pairs)
# ---------------------------------------------------------------------------

_SN_WINDOW = 3
_SN_KEYLEN = 24


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      1, {_SN_KEYLEN}) AS sk,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, sk, h,
               ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS rn
        FROM keyed
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.h = b.h AS exact_dup,
               CAST(b.rn - a.rn AS INT) AS rank_gap
        FROM ordered a JOIN ordered b
          ON b.rn > a.rn AND b.rn <= a.rn + {_SN_WINDOW}
        WHERE a.sk = b.sk OR a.h = b.h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
           CAST(COUNT(CASE WHEN exact_dup THEN 1 END) AS BIGINT)
               AS n_exact_dups,
           CAST(MIN(CASE WHEN exact_dup THEN doc_a END) AS BIGINT)
               AS sample_doc_a,
           CAST(MAX(rank_gap) AS INT) AS max_rank_gap
    FROM pairs
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández-Stolfo): documents
    sorted by a normalized {_SN_KEYLEN}-char prefix key, candidate pairs
    drawn only from a {_SN_WINDOW}-row sliding window over the sort order
    — the THIRD blocking strategy in the dedup family (MinHash-LSH
    buckets by content sketch, SimHash by fingerprint bands; sorted
    neighborhood catches near-dups that share a prefix but diverge later,
    at O(n·w) candidates). Pairs are kept when the sort key matches or
    the content hash proves an exact dup; the report counts candidates
    and confirmed exact dups.

    Scale: the global rank is a distributed prefix-sum (bucketed on a
    7-byte order-preserving prefix proxy of the sort key — never an
    unpartitioned ranking window) plus a rank-band self-join bounded by
    w. No corpus-sized broadcast anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    keyed = docs.select(
        "doc_id",
        F.substring(norm, 1, _SN_KEYLEN).alias("sk"),
        F.md5(norm).alias("h"),
    )
    # materialize="cache": the input is a corpus scan + normalize-regex +
    # md5 — recomputing it per prefix-sum branch would re-read the corpus
    # ~4×; the cached projection is 3 slim columns per doc.
    ordered = with_global_running(
        keyed,
        [("sk", True), ("doc_id", True)],
        row_number="rn",
        materialize="cache",
    ).select("doc_id", "sk", "h", "rn")
    # Rank-block equi-join: a row's window partners live in at most two
    # rn-div-w blocks, so the left side explodes into (its block, next
    # block) and the band condition rides a plain hash equi-join — no
    # inequality-only join (which Spark can only plan as a cartesian /
    # nested-loop) ever touches the corpus-sized sides. A pair matches in
    # exactly one block (b carries a single block key), so no dedup needed.
    a = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sk").alias("ska"),
        F.col("h").alias("ha"),
        F.col("rn").alias("rna"),
        F.explode(
            F.array(
                F.expr(f"rn div {_SN_WINDOW}"),
                F.expr(f"rn div {_SN_WINDOW}") + 1,
            )
        ).alias("blk"),
    )
    b = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sk").alias("skb"),
        F.col("h").alias("hb"),
        F.col("rn").alias("rnb"),
        F.expr(f"rn div {_SN_WINDOW}").alias("blk"),
    )
    pairs = (
        a.join(b, "blk")
        .where(
            (F.col("rnb") > F.col("rna"))
            & (F.col("rnb") <= F.col("rna") + _SN_WINDOW)
        )
        .where((F.col("ska") == F.col("skb")) | (F.col("ha") == F.col("hb")))
        .select(
            "doc_a",
            "doc_b",
            (F.col("ha") == F.col("hb")).alias("exact_dup"),
            (F.col("rnb") - F.col("rna")).cast("int").alias("rank_gap"),
        )
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs"),
        F.count(F.when(F.col("exact_dup"), 1)).cast("bigint").alias("n_exact_dups"),
        F.min(F.when(F.col("exact_dup"), F.col("doc_a")))
        .cast("bigint")
        .alias("sample_doc_a"),
        F.max("rank_gap").cast("int").alias("max_rank_gap"),
    )


# ---------------------------------------------------------------------------
# Prefix-blocking diagnostic (block-size histogram for entity resolution)
# ---------------------------------------------------------------------------

_PB_KEYLEN = 12


@query(
    "prefix_blocking_histogram",
    oracle=f"""
    WITH blocks AS (
        SELECT substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      1, {_PB_KEYLEN}) AS bk,
               CAST(COUNT(*) AS BIGINT) AS sz
        FROM documents GROUP BY 1
    )
    SELECT sz AS block_size,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(sz * (sz - 1) / 2 * COUNT(*) AS BIGINT) AS n_pairs_generated
    FROM blocks GROUP BY 1 ORDER BY 1
    """,
)
def prefix_blocking_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key quality diagnostic: the block-size histogram of a
    {_PB_KEYLEN}-char normalized-prefix key, with the pair count each
    size class would generate (Σ C(sz,2) per class) — the number that
    decides whether a blocking key is usable BEFORE running the pair
    join (a single huge block is the quadratic bomb; cf. the df caps on
    the n-gram joins and key_skew_gini for join keys). All-integer.

    Scale: one map-side-combinable aggregate to the block histogram, one
    bounded rollup. This audit costs one scan and can veto a blocking
    strategy that would cost n².
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    blocks = docs.groupBy(
        F.substring(norm, 1, _PB_KEYLEN).alias("bk")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    return (
        blocks.groupBy(F.col("sz").alias("block_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
        .select(
            "block_size",
            "n_blocks",
            (
                F.col("block_size")
                * (F.col("block_size") - 1)
                / 2
                * F.col("n_blocks")
            )
            .cast("bigint")
            .alias("n_pairs_generated"),
        )
        .orderBy("block_size")
    )


# ---------------------------------------------------------------------------
# Product quantization: compressed-domain ANN (ADC)
# ---------------------------------------------------------------------------


def _sql_pq_cents_cte() -> str:
    """Frozen PQ codebooks as SQL literals — one (m, code, p, w) row per
    centroid component, with p the LOCAL subspace dim (1..PQ_DSUB): the
    global embedding index of component p of subspace m is m·PQ_DSUB + p.
    repr() round-trips each double bit-identically into DuckDB."""
    rows = ",".join(
        f"({m},{c},{p + 1},{w!r})"
        for m, book in enumerate(PQ_CODEBOOKS)
        for c, row in enumerate(book)
        for p, w in enumerate(row)
    )
    return f"pqcents(m, code, p, w) AS (VALUES {rows})"


def _sql_pq_adc_ctes() -> str:
    """CTE chain shared by the PQ queries: exact-decimal per-subspace
    encode (psub_dist → pcodes), per-query M×K lookup table (plut), and
    the code-domain ADC scores (padc)."""
    return f"""
    psub_dist AS (
        SELECT e.vec_id, c.m, c.code,
               SUM(CAST((CAST(e.embedding[c.m * {PQ_DSUB} + c.p] AS DOUBLE)
                         - CAST(c.w AS DOUBLE))
                        * (CAST(e.embedding[c.m * {PQ_DSUB} + c.p] AS DOUBLE)
                           - CAST(c.w AS DOUBLE))
                        AS DECIMAL(38,12))) AS d2
        FROM embeddings e, pqcents c
        GROUP BY 1, 2, 3
    ),
    pcodes AS (
        SELECT vec_id, m, code FROM (
            SELECT vec_id, m, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, code) AS rn
            FROM psub_dist
        ) WHERE rn = 1
    ),
    plut AS (
        SELECT q.vec_id AS query_id, c.m, c.code,
               SUM(CAST(CAST(q.embedding[c.m * {PQ_DSUB} + c.p] AS DOUBLE)
                        * CAST(c.w AS DOUBLE)
                        AS DECIMAL(38,12))) AS part
        FROM embeddings q, pqcents c
        WHERE q.vec_id < 10
        GROUP BY 1, 2, 3
    ),
    padc AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               ROUND(CAST(SUM(l.part) AS DOUBLE), 6) AS adc_score
        FROM pcodes k JOIN plut l ON l.m = k.m AND l.code = k.code
        WHERE k.vec_id <> l.query_id
        GROUP BY 1, 2
    )"""


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_sql_pq_cents_cte()},
    {_sql_pq_adc_ctes()}
    SELECT query_id, neighbor_id, adc_score, rk FROM (
        SELECT query_id, neighbor_id, adc_score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY adc_score DESC,
                                                neighbor_id) AS INT) AS rk
        FROM padc
    ) s WHERE rk <= {_ANN_K}
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al., TPAMI 2011): the corpus is PQ-encoded against frozen
    per-subspace codebooks (tools/fit_pq_codebooks.py — M=8 subspaces,
    K=16 centroids, trained offline exactly like the frozen-IVF coarse
    quantizer) and each query ranks neighbors purely code-domain, via an
    M×K lookup table of exact-decimal partial dots — the original vectors
    are never touched after encoding.

    This is the family's compression story: IVF/LSH prune CANDIDATES but
    re-rank against raw floats; PQ replaces the floats themselves (M
    4-bit codes vs D=64 doubles — 32×), which is what keeps a 100 TB
    embedding corpus's searchable form in memory. Codes, LUTs and ADC
    sums are exact-decimal with 6-digit output rounding, so the DuckDB
    oracle replays encoding AND ranking bit-for-bit.

    Scale: encoding is one corpus scan against an M·K-row broadcast with
    an (id, m)-partitioned argmin window; scoring joins the corpus code
    table to a broadcast queries×M×K LUT and aggregates one shuffle of
    corpus×|queries| rows; top-k is a bounded per-query window.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb.filter(F.col("vec_id") < 10), emb, _ANN_K, PQ_CODEBOOKS
    )


@query(
    "ann_pq_recall_report",
    oracle=f"""
    WITH {_sql_pq_cents_cte()},
    {_sql_pq_adc_ctes()},
    pq_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY adc_score DESC,
                                               neighbor_id) AS rk
            FROM padc
        ) s WHERE rk <= {_ANN_K}
    ),
    {_NORM_CTE},
    {_SQL_EXACT_CAND_CTE},
    {_sql_rerank_cte("exact_cand", "exact_topk")}
    SELECT method, query_id, k, n_hits,
           CAST(n_hits AS DOUBLE) / k AS recall
    FROM (
        SELECT 'pq_adc' AS method, e.query_id, {_ANN_K} AS k,
               CAST(COUNT(ap.neighbor_id) AS INT) AS n_hits
        FROM exact_topk e
        LEFT JOIN pq_topk ap
          ON ap.query_id = e.query_id AND ap.neighbor_id = e.neighbor_id
        GROUP BY 2
    ) r
    """,
)
def ann_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_ANN_K} of the code-domain PQ/ADC ranking against the exact
    brute-force baseline — the evaluation every PQ deployment runs before
    swapping raw vectors for codes, since PQ (unlike LSH/IVF, which
    re-rank exactly on pruned candidates) changes the SCORES themselves.
    Both pipelines are engine-reproducible, so the oracle replays encode,
    ADC ranking, exact ranking, and the recall join in SQL — a hard value
    check on an 'approximate by design' operator, same contract as
    ann_recall_report.

    Scale: inherits the PQ scan/broadcast shapes (ann_pq_adc_topk) and
    the exact baseline's two-phase re-rank; the recall join touches only
    two k-row-per-query lists.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(q, emb, _ANN_K).select(
        "query_id", "neighbor_id"
    )
    pq = similarity.pq_adc_topk(q, emb, _ANN_K, PQ_CODEBOOKS).select(
        "query_id", "neighbor_id"
    )
    hits = pq.withColumn("hit", F.lit(1))
    return (
        exact.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("int").alias("n_hits"))
        .select(
            F.lit("pq_adc").alias("method"),
            "query_id",
            F.lit(_ANN_K).alias("k"),
            "n_hits",
            (F.col("n_hits") / _ANN_K).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH detector evaluation: precision/recall vs exact Jaccard truth
# ---------------------------------------------------------------------------

_MHPR_TAU = 0.5  # ground-truth near-dup threshold (b=4,r=3 s-curve ~0.63)
_MHPR_PANEL = 100  # evaluated pair population: pairs whose MIN doc_id is
                   # in the FIXED query panel doc_id < _MHPR_PANEL — a
                   # corpus-size-INDEPENDENT panel (the ann-report pattern),
                   # so the truth join grows linearly with corpus df, never
                   # quadratically (a fractional 1-in-k sample still paid
                   # sum(df^2)/k: measured 10x factor 4.26; the panel's is
                   # linear). Exact Jaccard semantics on the panel's pairs.


@query(
    "minhash_lsh_pr_report",
    oracle=f"""
    WITH {_minhash_bands_cte()},
    det AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx
                    AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
        WHERE a.doc_id < {_MHPR_PANEL}
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle
                           AND a.doc_id < b.doc_id
        WHERE a.doc_id < {_MHPR_PANEL}
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c)
              >= CAST({_MHPR_TAU} AS DOUBLE)
    ),
    h AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM det
        JOIN truth ON truth.doc_a = det.doc_a AND truth.doc_b = det.doc_b
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM det),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth)
    SELECT CAST({_MHPR_TAU} AS DOUBLE) AS tau,
           nt.n AS n_true, nd.n AS n_detected, h.n AS n_hits,
           CAST(h.n AS DOUBLE) / NULLIF(nd.n, 0) AS pair_precision,
           CAST(h.n AS DOUBLE) / NULLIF(nt.n, 0) AS pair_recall
    FROM h CROSS JOIN nd CROSS JOIN nt
    """,
)
def minhash_lsh_pr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup detector against the
    EXACT bigram-Jaccard ground truth at tau = {_MHPR_TAU} — the dedup
    family's analog of ann_recall_report: LSH banding is approximate by
    design (the (b, r) s-curve trades recall below ~0.63 for candidate
    volume), and this measures the trade on the live corpus instead of
    trusting the curve. Both sides are engine-reproducible (salted-md5
    minhashes; exact integer Jaccard), so the oracle value-checks the
    whole evaluation including both counts and both rates.

    Determinism: the truth test is ONE correctly-rounded division of
    exact integers compared to the exact double 0.5; precision/recall
    are single divisions guarded by NULLIF on empty sides.

    Scale: the evaluated pair population is every pair whose MIN doc_id
    falls in the FIXED {_MHPR_PANEL}-doc query panel — exact truth on a
    corpus-size-independent panel is how a 100 TB evaluation runs
    (measured: the UNSAMPLED truth join over the dup-saturated sf0.1
    corpus costs 26 s — the Σ df² pathology ngram_jaccard_capped
    documents — and even a FRACTIONAL 1-in-k sample stays quadratic,
    10× probe factor 4.26; the fixed panel's truth join is panel-shingles
    × corpus-df, linear). Jaccard semantics on the panel's pairs are
    exact — no df cap distorting the truth. The detector side is the
    band equi-join (bucket-bounded) filtered to the same population; the
    hit join is pair-table-sized; the output is one row.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingle_table(docs, "doc_id", "text", _MH_SHINGLE)
    sh = sh.localCheckpoint(eager=True)
    sigs = dedup.minhash_signatures(sh, _MH_K)
    det = (
        dedup.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)
        .where(F.col("doc_a") < _MHPR_PANEL)
        .select("doc_a", "doc_b")
    )
    # truth: exact Jaccard with the fixed PANEL on the a-side of the
    # inverted index — panel shingles x corpus df, linear in the corpus
    sh_a = sh.select(
        F.col("doc_id").alias("a_id"), F.col("shingle").alias("a_sh")
    ).where(F.col("a_id") < _MHPR_PANEL)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh_a.join(
            sh,
            (F.col("a_sh") == F.col("shingle"))
            & (F.col("a_id") < F.col("doc_id")),
        )
        .groupBy(
            F.col("a_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .where(jac >= F.lit(_MHPR_TAU))
        .select("doc_a", "doc_b")
    )
    # Both sides are distinct pairs, so one aggregate over their full outer
    # join counts each side and the hits at once.
    both = det.withColumn("in_det", F.lit(True)).join(
        truth.withColumn("in_truth", F.lit(True)), ["doc_a", "doc_b"], "full"
    )
    counts = both.agg(
        F.count("in_truth").cast("bigint").alias("n_true"),
        F.count("in_det").cast("bigint").alias("n_detected"),
        F.count_if(F.col("in_det") & F.col("in_truth")).cast("bigint").alias("n_hits"),
    )
    prec = F.col("n_hits").cast("double") / F.nullif(
        F.col("n_detected"), F.lit(0)
    )
    rec = F.col("n_hits").cast("double") / F.nullif(F.col("n_true"), F.lit(0))
    return counts.select(
        F.lit(_MHPR_TAU).alias("tau"),
        "n_true",
        "n_detected",
        "n_hits",
        prec.alias("pair_precision"),
        rec.alias("pair_recall"),
    )


# ---------------------------------------------------------------------------
# PPJoin-style prefix-filtered exact similarity join (lossless-by-oracle)
# ---------------------------------------------------------------------------

_PP_SHINGLE = 3
_PP_MAX_DF = 25   # stopword-gram cap, mirrored exactly in the oracle (same cap as the ngram_jaccard family)
_PP_TAU_NUM, _PP_TAU_DEN = 3, 5  # Jaccard threshold τ = 3/5 = 0.6


@query(
    "ppjoin_prefix_filter_pairs",
    oracle=f"""
    WITH {_sql_shingles(_PP_SHINGLE)},
    dfreq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
              FROM sh GROUP BY 1),
    kept AS (
        SELECT s.doc_id, s.shingle FROM sh s
        JOIN dfreq d ON d.shingle = s.shingle
        WHERE d.df <= {_PP_MAX_DF}
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM kept GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM kept a JOIN kept b
          ON b.shingle = a.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {_PP_TAU_DEN} * n_common
          >= {_PP_TAU_NUM} * (sa.n + sb.n - n_common)
    ORDER BY doc_a, doc_b
    """,
)
def ppjoin_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (n-gram Jaccard ≥ {_PP_TAU_NUM}/{_PP_TAU_DEN})
    via PREFIX FILTERING (Chaudhuri et al. 2006 / PPJoin, Xiao et al.
    2008): order every document's shingles by ascending global document
    frequency and index only the first |x| − ⌈τ|x|⌉ + 1 — the prefix
    principle guarantees any pair with Jaccard ≥ τ shares a prefix token,
    so the candidate join touches the RAREST tokens only. The oracle runs
    the SAME threshold join WITHOUT the prefix filter (full inverted
    index), so a hash match is a machine-checked proof the filter lost no
    pair — the property PPJoin's correctness rests on.

    Determinism: the threshold is the pure integer cross-multiplication
    {_PP_TAU_DEN}·|∩| ≥ {_PP_TAU_NUM}·|∪| (no float compare); df ordering
    ties break on the shingle string; jaccard is one division of exact
    integers. Stopword grams (df > {_PP_MAX_DF}) are dropped on BOTH
    sides — the standard cap that bounds any inverted index at scale.

    Scale: the candidate join costs Σ over PREFIX tokens of df² instead
    of Σ over ALL tokens — at τ = 0.6 the prefix is ~40% of each doc and
    skews to the rarest grams, collapsing the join's hot-token quadratic
    term; verification touches only candidates. This is the exact-join
    complement to the engine's probabilistic candidate generators
    (MinHash-LSH, SimHash blocking): same banding idea, zero false
    negatives by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The shingle explode is the query's only corpus-sized projection and
    # has TWO consumers (the df aggregate and the join side) — materialize
    # it once (measured: the double explode dominated the wall).
    sh = dedup.shingle_table(docs, "doc_id", "text", _PP_SHINGLE).localCheckpoint(
        eager=True
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # kept feeds FIVE subtrees (sizes, prefix build, candidate join, both
    # verification sides) — materialize once.
    kept = (
        sh.join(dfreq.where(F.col("df") <= _PP_MAX_DF), "shingle")
        .select("doc_id", "shingle", "df")
        .localCheckpoint(eager=True)
    )
    sizes = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # prefix length p = n − ⌈τn⌉ + 1, integer form ⌈3n/5⌉ = (3n + 4) div 5
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pref = (
        kept.withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({_PP_TAU_NUM} * n + {_PP_TAU_DEN - 1}) div {_PP_TAU_DEN}")
            + 1
        )
        .select("doc_id", "shingle")
    )
    cand = (
        pref.alias("pa")
        .join(
            pref.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(
            kept.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            kept.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.lit(_PP_TAU_DEN) * F.col("n_common")
            >= F.lit(_PP_TAU_NUM)
            * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "na",
            "nb",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
