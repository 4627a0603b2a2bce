"""Second batch of training-data text operators: cleaning/masking,
repetition scoring, deterministic content-hash splits, and a non-equi range
join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from autonomus_datapipeline_spark.operators.prefix_sum import (
    ranked_head,
    with_global_running,
)
from autonomus_datapipeline_spark.workloads.pipeline_ops import _sql_shingles
from autonomus_datapipeline_spark.workloads.registry import (
    descale6,
    load_table,
    query,
)

# ---------------------------------------------------------------------------
# Text cleaning / masking (regexp pipeline — codegen'd, scan-speed)
# ---------------------------------------------------------------------------

_URL_RE = r"https?://[^\s]+"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@query(
    "text_cleaning",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(text),
               '{_URL_RE}', '<URL>', 'g'),
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '[0-9]+', '<NUM>', 'g'),
               '\\s+', ' ', 'g')) AS cleaned,
           CAST(length(text) - length(regexp_replace(text, '{_URL_RE}', '', 'g'))
                AS INT) AS url_chars,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                AS INT) AS n_digits
    FROM documents
    """,
)
def text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data text normalization: lowercase, URL/email/number masking,
    whitespace collapse — plus masked-content counters. Pure regexp
    projection; at 100 TB this is the scan-fused first stage of every text
    pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), _URL_RE, "<URL>"),
                    _EMAIL_RE,
                    "<EMAIL>",
                ),
                r"[0-9]+",
                "<NUM>",
            ),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        (F.length("text") - F.length(F.regexp_replace("text", _URL_RE, ""))).alias(
            "url_chars"
        ),
        (F.length("text") - F.length(F.regexp_replace("text", r"[0-9]", ""))).alias(
            "n_digits"
        ),
    )


# ---------------------------------------------------------------------------
# Repetition scoring (dup n-gram ratio — boilerplate/spam signal)
# ---------------------------------------------------------------------------


@query(
    "repetition_scores",
    oracle=f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
                  FROM documents),
    all_sh AS (
        SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
        FROM (
            SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - 2, 1) + 1)) AS i
            FROM toks
        ) u
    )
    SELECT doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(DISTINCT shingle) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*) AS repetition_ratio
    FROM all_sh GROUP BY doc_id
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-trigram ratio per document (1 − distinct/total word
    trigrams) — the standard boilerplate/spam repetition signal. One explode
    + one aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("tk")
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("tk") - 2, F.lit(1)))
    sh = tk.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.get("tk", i - 1), F.get("tk", i), F.get("tk", i + 1)
                ),
            )
        ).alias("shingle"),
    )
    return sh.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.countDistinct("shingle").alias("n_distinct"),
        (1.0 - F.countDistinct("shingle") / F.count("*")).alias("repetition_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics: token rarity + TF-IDF keywords
# ---------------------------------------------------------------------------

_TOK_CTE = f"""
    toks AS (
        SELECT doc_id, unnest({{toks_expr}}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY tok
    )
""".format(toks_expr=r"regexp_split_to_array(lower(text), '\s+')")


@query(
    "token_rarity_scores",
    oracle=f"""
    WITH {_TOK_CTE}
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           (CAST(CAST(SUM(CAST(cnt AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) / COUNT(*)
               AS mean_token_freq,
           MIN(cnt) AS rarest_token_freq,
           CAST(SUM(CASE WHEN cnt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
    FROM toks JOIN vocab USING (tok)
    GROUP BY doc_id
    """,
)
def token_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rarity scoring: each document scored by the corpus
    frequency of its tokens (mean/min/rare-count) — the log-free twin of
    unigram-LM perplexity scoring, used to flag gibberish (rare-heavy) and
    boilerplate (common-heavy) docs.

    Scale: one vocabulary aggregation (map-side combined), broadcast back —
    the vocabulary is Zipf-small relative to the corpus.
    """
    e = load_table(spark, sf_dir, "documents")
    toks = e.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("df")
    )
    return (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (descale6(F.sum(F.col("cnt").cast("decimal(38,6)"))) / F.count("*"))
            .alias("mean_token_freq"),
            F.min("cnt").alias("rarest_token_freq"),
            F.sum(F.when(F.col("cnt") < 3, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rare"),
        )
    )


@query(
    "tfidf_top_keywords",
    oracle=f"""
    WITH {_TOK_CTE},
    n_docs AS (SELECT COUNT(*) AS d FROM documents),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               CAST(tf.tf AS DOUBLE) * (SELECT d FROM n_docs) / vocab.df AS score
        FROM tf JOIN vocab USING (tok)
    )
    SELECT doc_id, tok, score, rk FROM (
        SELECT doc_id, tok, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, tok) AS INT) AS rk
        FROM scored
    ) r WHERE rk <= 3
    """,
)
def tfidf_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (log-free rational form tf × D/df, which is
    rank-equivalent to classic tf·idf and engine-exact): top-3 scoring
    tokens per document with deterministic tiebreak.

    Scale: term-frequency agg + broadcast vocabulary + per-doc top-k window
    — the standard distributed TF-IDF shape with no driver-side vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    scored = tf.join(F.broadcast(vocab), "tok").select(
        "doc_id",
        "tok",
        (F.col("tf").cast("double") * n_docs / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Deterministic content-hash train/val/test split
# ---------------------------------------------------------------------------


@query(
    "content_hash_split",
    oracle="""
    SELECT lang, split, COUNT(*) AS n_docs FROM (
        SELECT lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT lang,
                   (ascii(substr(md5(text), 1, 1)) * 256
                    + ascii(substr(md5(text), 2, 1))) % 100 AS bucket
            FROM documents
        ) b
    ) s
    GROUP BY lang, split
    """,
)
def content_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment from the content hash
    (md5-derived bucket mod 100 → 80/10/10): membership is a pure function
    of the text, so it is stable across runs, engines, and re-shards — the
    only sane way to split 100 TB corpora. No shuffle except the audit
    count."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Non-equi range join (value bands)
# ---------------------------------------------------------------------------

_BANDS = [(0.0, 100.0, "low"), (100.0, 250.0, "mid"), (250.0, 400.0, "high"),
          (400.0, 1e9, "extreme")]


@query(
    "range_join_value_bands",
    oracle=f"""
    WITH bands(lo, hi, band) AS (
        VALUES {", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _BANDS)}
    )
    SELECT band, COUNT(*) AS n_events,
           (CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(38,0)) AS DOUBLE) / 1e6) AS sum_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a small bands dimension. Scale rule:
    non-equi joins have no hash path — the small side MUST broadcast
    (BroadcastNestedLoopJoin); a shuffle nested-loop over two big sides is
    never acceptable. Band dimensions are always tiny, so this is free."""
    e = load_table(spark, sf_dir, "events")
    bands = e.sparkSession.createDataFrame(_BANDS, ["lo", "hi", "band"])
    return (
        e.join(
            F.broadcast(bands),
            (e.value >= bands.lo) & (e.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            descale6(F.sum(F.col("value").cast("decimal(38,6)"))).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary / Zipf statistics (tokenizer-training prep)
# ---------------------------------------------------------------------------

_VOCAB_TOP = 100


@query(
    "vocab_zipf_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
        FROM toks WHERE token <> '' GROUP BY token
    ),
    ranked AS (
        SELECT token, n, doc_freq,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS rank,
               SUM(n) OVER () AS total,
               SUM(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING)
                   AS cum
        FROM counts
    )
    SELECT token, n, doc_freq, rank,
           ROUND(CAST(cum AS DOUBLE) / total, 6) AS cum_share
    FROM ranked WHERE rank <= {_VOCAB_TOP}
    """,
)
def vocab_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with Zipf statistics: per-token total count,
    document frequency, frequency rank, and cumulative corpus coverage —
    the table a tokenizer-training (BPE/unigram) run starts from, and the
    coverage curve that picks a vocab size.

    Scale: one shuffle to the token counts (map-side combined); the
    rank/cumsum runs as a distributed prefix-sum over the aggregated
    vocabulary (a 10^7-token vocab would serialize in an unpartitioned
    window; note the Zipf head concentrates low counts into one bucket —
    load imbalance only, values are exact). cum_share is integer math
    until one final division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).where("token <> ''")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    # NOT materialize_input()-ed: measured in three interleaved A/Bs (r14,
    # AB_r14_bounds_inputs*.json) — checkpointing the |vocab|-sized rollup
    # (token strings + counts) costs MORE than the corpus-explode re-scan
    # it saves here (net −0.2 s over 3 runs); the two-level countDistinct
    # aggregate re-executions are map-side-combinable and cheap.
    ranked = with_global_running(
        counts,
        [("n", False), ("token", True)],
        sums={"cum": "n"},
        row_number="rank0",
        totals={"total": "n"},
    ).select(
        "token",
        "n",
        "doc_freq",
        F.col("rank0").cast("int").alias("rank"),
        "total",
        "cum",
    )
    return ranked.where(F.col("rank") <= _VOCAB_TOP).select(
        "token",
        "n",
        "doc_freq",
        "rank",
        F.round(F.col("cum").cast("double") / F.col("total"), 6).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Keyword-in-context concordance
# ---------------------------------------------------------------------------

_KWIC_TERM = "window"
_KWIC_CTX = 3
_KWIC_TOP = 100


@query(
    "concordance_keyword_context",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
        FROM documents
    ),
    hits AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               -- an inverted slice (keyword at a document edge) is NULL in
               -- DuckDB but an empty array in Spark — coalesce to ''
               COALESCE(array_to_string(
                   tk[greatest(i - {_KWIC_CTX}, 1):i - 1], ' '), '')
                   AS left_ctx,
               COALESCE(array_to_string(
                   tk[i + 1:least(i + {_KWIC_CTX}, len(tk))], ' '), '')
                   AS right_ctx
        FROM (
            SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
            FROM toks
        ) u
        WHERE tk[i] = '{_KWIC_TERM}'
    )
    SELECT doc_id, pos, left_ctx, right_ctx, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS INT) AS rk
        FROM hits
    ) r WHERE rk <= {_KWIC_TOP}
    ORDER BY rk
    """,
)
def concordance_keyword_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance for '{_KWIC_TERM}': every occurrence
    with {_KWIC_CTX} tokens of left and right context — the corpus-
    linguistics KWIC view used to qualify how a term is actually used
    before building filters or labels around it. Context windows are
    array slices clamped at the document edges (empty string at the
    boundary on both engines); first {_KWIC_TOP} hits in (doc_id,
    position) order.

    Scale: a per-row array scan with bounded-width slices — no shuffle
    until the final bounded top-k; at 100 TB the term filter pushes into
    the scan via a bloom/contains prefilter on the raw text column
    (contains(text, term) never false-negatives the tokenized match).
    """
    docs = load_table(spark, sf_dir, "documents")
    # contains() prefilter: cheap scan-level prune, cannot drop a real hit.
    toks = docs.where(F.lower("text").contains(_KWIC_TERM)).select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("tk")
    )
    hits = (
        toks.select("doc_id", "tk", F.posexplode("tk").alias("p0", "tok"))
        .where(F.col("tok") == _KWIC_TERM)
        # Spark arrays are 0-indexed via posexplode; the 1-indexed position
        # i = p0 + 1 keeps slice arithmetic identical to the oracle.
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("bigint").alias("pos"),
            F.expr(
                f"array_join(slice(tk, greatest(p0 + 1 - {_KWIC_CTX}, 1),"
                f" p0 + 1 - greatest(p0 + 1 - {_KWIC_CTX}, 1)), ' ')"
            ).alias("left_ctx"),
            F.expr(
                f"array_join(slice(tk, p0 + 2,"
                f" greatest(least(p0 + 1 + {_KWIC_CTX}, size(tk))"
                f" - (p0 + 1), 0)), ' ')"
            ).alias("right_ctx"),
        )
    )
    return (
        ranked_head(hits, [("doc_id", True), ("pos", True)], _KWIC_TOP, "rk")
        .select("doc_id", "pos", "left_ctx", "right_ctx", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometry (source-pair style distance)
# ---------------------------------------------------------------------------

_BD_TOP_WORDS = 20
_BD_TOP_PAIRS = 20


@query(
    "burrows_delta_stylometry",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
        FROM documents
    ),
    mfw AS (
        SELECT t FROM (
            SELECT t, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rn
            FROM tok GROUP BY t
        ) r WHERE rn <= {_BD_TOP_WORDS}
    ),
    src_tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
    freq AS (
        SELECT st.source, m.t,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / st.n AS f
        FROM src_tot st
        CROSS JOIN mfw m
        LEFT JOIN (
            SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok JOIN mfw USING (t) GROUP BY 1, 2
        ) c ON c.source = st.source AND c.t = m.t
    ),
    stats AS (
        SELECT t,
               CAST(COUNT(*) AS DOUBLE) AS ns,
               CAST(SUM(CAST(f AS DECIMAL(38,12))) AS DOUBLE) AS sf,
               CAST(SUM(CAST(f * f AS DECIMAL(38,12))) AS DOUBLE) AS sff
        FROM freq GROUP BY 1
    ),
    z AS (
        SELECT fr.source, fr.t,
               (fr.f - s.sf / s.ns)
                 / sqrt(s.sff / s.ns - (s.sf / s.ns) * (s.sf / s.ns)) AS z
        FROM freq fr JOIN stats s ON s.t = fr.t
        WHERE s.sff / s.ns - (s.sf / s.ns) * (s.sf / s.ns) > 0
    ),
    deltas AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(SUM(CAST(ABS(a.z - b.z) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*) AS delta
        FROM z a JOIN z b ON b.t = a.t AND b.source > a.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, delta, rk FROM (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY delta, source_a, source_b)
                    AS INT) AS rk
        FROM deltas
    ) r WHERE rk <= {_BD_TOP_PAIRS}
    ORDER BY rk
    """,
)
def burrows_delta_stylometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta — the standard stylometric authorship distance:
    relative frequencies of the {_BD_TOP_WORDS} most frequent corpus
    words, z-scored per word across sources, and each source pair scored
    by the mean absolute z difference. The {_BD_TOP_PAIRS} CLOSEST pairs
    are the style-duplicate candidates (same template/author behind two
    'different' sources — the stylometric sibling of the content-level
    dedup family). Frequencies and z-scores are fixed IEEE expressions
    over decimal-exact sums; sqrt is IEEE-correctly-rounded; the delta
    mean rides the decimal accumulator.

    Scale: the MFW list is a top-k over the vocabulary; the frequency
    matrix is |sources|×{_BD_TOP_WORDS} — bounded — so the pair join is
    bounded-square regardless of corpus size; everything upstream is
    map-side-combinable token counting.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    )
    # Top-k via TakeOrderedAndProject — the rank itself is never needed.
    mfw = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(_BD_TOP_WORDS)
        .select("t")
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    cnt = (
        tok.join(F.broadcast(mfw), "t")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    freq = (
        src_tot.crossJoin(F.broadcast(mfw))
        .join(cnt, ["source", "t"], "left")
        .select(
            "source",
            "t",
            (F.coalesce("c", F.lit(0)).cast("double") / F.col("n")).alias("f"),
        )
    )
    dec12 = "decimal(38,12)"
    stats = freq.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("ns"),
        F.sum(F.col("f").cast(dec12)).cast("double").alias("sf"),
        F.sum((F.col("f") * F.col("f")).cast(dec12)).cast("double").alias("sff"),
    )
    mu = F.col("sf") / F.col("ns")
    var = F.col("sff") / F.col("ns") - mu * mu
    z = (
        freq.join(F.broadcast(stats), "t")
        .where(var > 0)
        .select("source", "t", ((F.col("f") - mu) / F.sqrt(var)).alias("z"))
    )
    a = z.select(F.col("source").alias("source_a"), "t", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("source_b"), "t", F.col("z").alias("zb"))
    deltas = (
        a.join(b, (a.t == b.t) & (F.col("source_b") > F.col("source_a")))
        .groupBy("source_a", "source_b")
        .agg(
            (
                F.sum(F.abs(F.col("za") - F.col("zb")).cast(dec12)).cast("double")
                / F.count(F.lit(1))
            ).alias("delta")
        )
    )
    return (
        ranked_head(
            deltas,
            [("delta", True), ("source_a", True), ("source_b", True)],
            _BD_TOP_PAIRS,
            "rk",
        )
        .select("source_a", "source_b", "delta", "rk")
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# Character-level Shannon entropy as a corpus quality signal
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH pos AS (
    -- empty docs are excluded on BOTH engines: Spark's sequence(1, 0)
    -- would generate a DESCENDING [1, 0] while range(1, 1) is empty —
    -- a latent cross-engine divergence this predicate pins shut
    SELECT doc_id, unnest(range(1, len(text) + 1)) AS i
    FROM documents WHERE len(text) > 0
),
chars AS (
    SELECT p.doc_id, substr(d.text, CAST(p.i AS INT), 1) AS ch
    FROM pos p JOIN documents d ON d.doc_id = p.doc_id
),
cc AS (
    SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
    FROM chars GROUP BY 1, 2
),
docent AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           -- H·(N·1e9) as an exact integer: N·lnq(N) − Σ c·lnq(c), in
           -- DECIMAL(38,0) (a bigint c·lnq(c) product wraps past a
           -- ~2e8-char doc — the r11 neyman class)
           CAST(SUM(c) AS DECIMAL(19,0))
             * CAST(CAST(FLOOR(ln(CAST(SUM(c) AS DOUBLE)) * 1e9) AS BIGINT)
                    AS DECIMAL(19,0))
             - SUM(CAST(c AS DECIMAL(19,0))
                   * CAST(CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT)
                          AS DECIMAL(19,0)))
               AS hnum
    FROM cc GROUP BY 1
)
-- HUGEINT // mirrors Spark's decimal `div`: exact integer division on
-- both engines (DuckDB's // on DECIMAL operands float-divides — probed)
SELECT CAST(CAST(hnum * 10 AS HUGEINT)
            // (CAST(n AS HUGEINT) * 1000000000) AS BIGINT)
           AS entropy_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_chars,
       CAST(MIN(n_distinct) AS BIGINT) AS min_distinct_chars,
       CAST(MAX(n_distinct) AS BIGINT) AS max_distinct_chars,
       CAST(MIN(CAST(hnum AS DOUBLE) / (n * 1e9)) AS DOUBLE) AS min_entropy,
       CAST(MAX(CAST(hnum AS DOUBLE) / (n * 1e9)) AS DOUBLE) AS max_entropy
FROM docent
GROUP BY 1
ORDER BY 1
"""


@query("char_entropy_buckets", oracle=_ENTROPY_ORACLE)
def char_entropy_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, reported as
    0.1-nat-wide quality bands — the information-theoretic junk detector
    (binary blobs and key-mash score HIGH, template/repetitive boilerplate
    scores LOW) that complements the engine's repetition_scores and
    text_quality_scores in a filtering chain (cf. Gopher/CCNet-style
    quality rules).

    Determinism: H = ln N − (1/N)·Σ c·ln c is computed as the exact
    integer H·N·1e9 = N·lnq(N) − Σ c·lnq(c) with every ln floor-quantized
    at 1e-9 on exact-integer inputs; band assignment is INTEGER floor
    division of that numerator (no float boundary anywhere), and the
    min/max entropies are single divisions.

    Scale: the explode is corpus-linear (one row per character) feeding a
    map-side-combinable (doc, char) count; everything downstream is
    document-sized then band-sized. The per-char explode is the same
    shape as the shingle pipelines — at 100 TB it rides the documents
    fan-out and never shuffles more than the distinct (doc, char) pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    cc = (
        d.where(F.length("text") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
            "text",
        )
        .select(
            "doc_id", F.expr("substring(text, i, 1)").alias("ch")
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    lnq = lambda col: F.floor(F.log(col.cast("double")) * F.lit(1e9)).cast(  # noqa: E731
        "bigint"
    )
    docent = cc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        (
            # DECIMAL(19,0) products: c·lnq(c) wraps bigint past a
            # ~2e8-char doc (the r11 neyman class)
            F.sum("c").cast("decimal(19,0)")
            * lnq(F.sum("c")).cast("decimal(19,0)")
            - F.sum(
                F.col("c").cast("decimal(19,0)")
                * lnq(F.col("c")).cast("decimal(19,0)")
            )
        ).alias("hnum"),
    )
    ent = F.col("hnum").cast("double") / (F.col("n") * F.lit(1e9))
    return (
        docent.groupBy(
            # decimal `div` = exact integer division (bigint out), the
            # cross-engine twin of the oracle's HUGEINT //; the CAST on n
            # keeps n·1e9 wrap-proof too
            F.expr(
                "(hnum * 10) div (CAST(n AS DECIMAL(19,0)) * 1000000000)"
            ).alias("entropy_band")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_chars"),
            F.min("n_distinct").cast("bigint").alias("min_distinct_chars"),
            F.max("n_distinct").cast("bigint").alias("max_distinct_chars"),
            F.min(ent).alias("min_entropy"),
            F.max(ent).alias("max_entropy"),
        )
        .orderBy("entropy_band")
    )
