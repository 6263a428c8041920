"""Extension-operator queries (SURVEY.md §2.C): dedup, similarity
search, text analysis, as-of join, streaming windows, multimodal
plumbing, connector roundtrip — each oracle-checked where SQL can
express the semantics.

Portability notes (verified empirically):
- md5-derived 60-bit hashes are bit-identical Spark vs DuckDB, so the
  MinHash/SimHash/fingerprint oracles replicate signatures exactly;
- sequential double accumulation over arrays (Spark ``aggregate`` vs
  DuckDB ``list_sum(list_transform(...))``) is bit-identical, so cosine
  oracles compare after round(6);
- struct-array sorts tie-break identically (field order), so argmax
  logic matches.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import asof as asof_ops
from .operators import dedup as dedup_ops
from .operators import multimodal as mm_ops
from .operators import similarity as sim_ops
from .operators import text as text_ops
from .queries import _t, query
from .session import scratch_root
from .streaming import windows as stream_ops


def _scratch_db(prefix: str) -> str:
    """Unique duckdb scratch-database path under the repo's .tmp dir
    (shared by every warehouse-stub query; unique names keep parallel
    runs from colliding, and each query removes its file when done)."""
    return os.path.join(scratch_root(), f"{prefix}-{uuid.uuid4().hex}.duckdb")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "xcx_dedup_exact",
    """
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, any_value(n_chars) AS n_chars
    FROM documents
    GROUP BY text
    ORDER BY keep_id
    """,
    ("dedup",),
)
def xcx_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text, deterministic min-id representative."""
    t = _t(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.first("n_chars").alias("n_chars"),
        )
        .select("keep_id", "n_copies", "n_chars")
        .orderBy("keep_id")
    )


# shingles carried as 60-bit md5 hashes (identical expression to the
# engine's portable_hash), so every downstream join/distinct matches
# the engine's hashed-shingle traffic value-for-value
_SHINGLE_SQL = """
    words AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') w FROM documents),
    sh AS (
        SELECT DISTINCT doc_id AS doc,
               ('0x' || substr(md5('0:' || s), 1, 15))::BIGINT AS shingle
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(greatest(len(w) - 2, 1)),
                          i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS s
            FROM words)
    )
"""

_JACCARD_CTES = """
    sizes AS (SELECT doc, count(*) n FROM sh GROUP BY doc),
    inter AS (
        SELECT p.doc_a, p.doc_b, count(*) c
        FROM cand p
        JOIN sh x ON x.doc = p.doc_a
        JOIN sh y ON y.doc = p.doc_b AND y.shingle = x.shingle
        GROUP BY p.doc_a, p.doc_b
    )
"""

_JACCARD_SQL = (
    _JACCARD_CTES
    + """
    SELECT i.doc_a, i.doc_b, round(i.c / (sa.n + sb.n - i.c), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc = i.doc_a
    JOIN sizes sb ON sb.doc = i.doc_b
"""
)


def _minhash_seeds_values() -> str:
    from .operators.dedup import minhash_params

    return ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(minhash_params(16))
    )


def _minhash_bands_sql() -> str:
    """CTEs producing LSH band keys ``bands(doc, band, band_sig)`` from
    ``sh`` (see ``_SHINGLE_SQL``)."""
    return f"""
    hashes AS (
        SELECT doc, shingle & 4294967295 AS h32
        FROM sh
    ),
    sig AS (
        SELECT doc, seed, min((a * h32 + b) % 4294967311) AS minhash
        FROM hashes CROSS JOIN (VALUES {_minhash_seeds_values()}) seeds(seed, a, b)
        GROUP BY doc, seed
    ),
    bands AS (
        SELECT doc, seed // 2 AS band,
               string_agg(minhash::VARCHAR, ',' ORDER BY seed) AS band_sig
        FROM sig GROUP BY doc, seed // 2
    )
"""


def _minhash_cand_sql() -> str:
    """CTEs producing LSH candidate pairs ``cand(doc_a, doc_b)`` from
    ``sh`` (see ``_SHINGLE_SQL``) — shared by the pair query and the
    connected-components clustering oracle."""
    return f"""{_minhash_bands_sql()},
    cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc < b.doc
    )
"""


@query(
    "xfy_dedup_minhash_lsh",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_SQL}
    WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    ("dedup",),
)
def xfy_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 3-gram shingles -> 16 md5 minhashes -> 8 bands -> bucket join ->
    exact-Jaccard verify."""
    t = _t(spark, sf_dir)
    return dedup_ops.minhash_near_dup(
        t["documents"], shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    ).orderBy("doc_a", "doc_b")


@query(
    "x46_dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLE_SQL},
    cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    ),
    {_JACCARD_SQL}
    WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ORDER BY doc_a, doc_b
    """,
    ("dedup",),
)
def x46_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard near-dup (the baseline MinHash is verified against)."""
    t = _t(spark, sf_dir)
    return dedup_ops.ngram_jaccard_pairs(t["documents"], shingle_n=3, threshold=0.8).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "jaccard_prefix_join",
    f"""
    WITH {_SHINGLE_SQL},
    cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    ),
    {_JACCARD_CTES}
    SELECT i.doc_a, i.doc_b, round(i.c / (sa.n + sb.n - i.c), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc = i.doc_a
    JOIN sizes sb ON sb.doc = i.doc_b
    WHERE i.c * 5 >= (sa.n + sb.n - i.c) * 4
    ORDER BY doc_a, doc_b
    """,
    ("dedup",),
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 similarity join by prefix filtering: candidates from each doc's rarest
    shingles plus a length filter, verified by exact intersection counts with an integer
    cross-multiplied threshold. Equals the all-pairs answer at O(rare-token collisions) cost."""
    t = _t(spark, sf_dir)
    return dedup_ops.jaccard_prefix_pairs(
        t["documents"], shingle_n=3, threshold=(4, 5)
    ).orderBy("doc_a", "doc_b")


@query(
    "xa6_dedup_simhash",
    """
    WITH words AS (
        SELECT DISTINCT doc_id AS doc, w
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
        WHERE w <> ''
    ),
    hashes AS (
        SELECT doc, ('0x' || substr(md5('0:' || w), 1, 15))::BIGINT AS h FROM words
    ),
    bits AS (SELECT unnest(range(60)) AS bit),
    votes AS (
        SELECT doc, bit, sum(((h >> bit) & 1) * 2 - 1) AS v
        FROM hashes CROSS JOIN bits
        GROUP BY doc, bit
    )
    SELECT doc AS doc_id,
           sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY doc ORDER BY doc_id
    """,
    ("dedup",),
)
def xa6_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 60-bit fingerprint per document (majority vote of word-hash bits)."""
    t = _t(spark, sf_dir)
    return dedup_ops.simhash(t["documents"], bits=60).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_SQL = """
    normed AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE /
                    sqrt(list_sum(list_transform(range(64),
                         i -> embedding[i+1]::DOUBLE * embedding[i+1]::DOUBLE)))) AS nv
        FROM embeddings
    )
"""


def _pair_sim_sql(a: str = "a", b: str = "b") -> str:
    return f"round(list_sum(list_transform(range(64), i -> {a}.nv[i+1] * {b}.nv[i+1])), 6)"


@query(
    "x47_ann_topk_bruteforce",
    f"""
    WITH {_COSINE_SQL},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_pair_sim_sql('q', 'c')} AS sim
        FROM normed q JOIN normed c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    ("similarity",),
)
def x47_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: broadcast queries x full corpus scan + window
    top-k."""
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    return sim_ops.topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=10)


@query(
    "xg1_ann_topk_ivf",
    f"""
    WITH {_COSINE_SQL},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_pair_sim_sql('q', 'c')} AS sim
        FROM normed q
        JOIN normed c ON c.label = q.label AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 20
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    ("similarity",),
)
def xg1_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style pruned top-k: candidates restricted to the query's coarse cell (label)."""
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    return sim_ops.ivf_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


@query(
    "x98_ann_embedding_near_dup",
    f"""
    WITH {_COSINE_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_pair_sim_sql()} AS sim
    FROM normed a JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_pair_sim_sql()} >= 0.45
    ORDER BY id_a, id_b
    """,
    ("similarity", "dedup"),
)
def x98_ann_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, candidates bucketed by coarse cell (IVF-style) — the join
    key collapses the cross product."""
    t = _t(spark, sf_dir)
    return sim_ops.embedding_near_dup_pairs_bucketed(t["embeddings"], threshold=0.45)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _lang_scores_sql() -> str:
    parts = []
    for lang, profile in sorted(text_ops.LANG_PROFILES.items()):
        arr = "[" + ",".join(f"'{w}'" for w in profile) + "]"
        parts.append(
            f"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
            f" x -> x <> '' AND list_contains({arr}, x))) AS score_{lang}"
        )
    return ", ".join(parts)


@query(
    "doc_stats",
    f"""
    WITH tok AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_words,
               len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS n_distinct,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> list_contains(['the','a','of','and','in','to','is'], lower(x)))) AS n_stop,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
               length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
        FROM documents
    ),
    ratios AS (
        SELECT doc_id, n_words,
               round(n_distinct / greatest(n_words, 1)::DOUBLE, 6) AS distinct_ratio,
               round(n_stop / greatest(n_words, 1)::DOUBLE, 6) AS stopword_ratio,
               round(n_punct / greatest(n_chars, 1)::DOUBLE, 6) AS punct_ratio,
               round(n_digit / greatest(n_chars, 1)::DOUBLE, 6) AS digit_ratio,
               round(n_nonspace / greatest(n_words, 1)::DOUBLE, 6) AS mean_word_len
        FROM feat
    ),
    qual AS (
        SELECT *,
               round(CASE WHEN n_words < 5 THEN 0.0 ELSE
                   least(n_words / 100.0, 1.0) * 0.3
                   + distinct_ratio * 0.3
                   + least(stopword_ratio * 5.0, 1.0) * 0.2
                   + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2
               END, 8) AS quality_score
        FROM ratios
    ),
    scores AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM documents),
    ranked AS (
        SELECT doc_id, lang,
               list_sort([{", ".join(f"{{'neg_s': -score_{lang}, 'l': '{lang}'}}" for lang in sorted(text_ops.LANG_PROFILES))}])[1] AS best
        FROM scores
    ),
    lang AS (
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN best.neg_s < 0 THEN best.l ELSE 'unknown' END AS detected_lang
        FROM ranked
    )
    SELECT t.doc_id, t.n_tokens, t.n_bpe_ish, t.n_chars, t.n_alpha, t.n_digit, t.n_punct,
           q.n_words, q.distinct_ratio, q.stopword_ratio, q.punct_ratio, q.digit_ratio,
           q.mean_word_len, q.quality_score,
           l.labeled_lang, l.detected_lang
    FROM tok t
    JOIN qual q ON q.doc_id = t.doc_id
    JOIN lang l ON l.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    ("text",),
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text stats: token counts, character classes, word-level quality features,
    composite score and heuristic language ID, as column expressions plus one fused explode +
    aggregation. No Python UDFs."""
    t = _t(spark, sf_dir)
    docs = t["documents"]
    text = F.col("text")
    cc = text_ops.char_classes(text)
    chars = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text_ops.token_count(text).alias("n_tokens"),
        text_ops.bpe_ish_token_count(text).alias("n_bpe_ish"),
        cc["n_chars"].alias("n_chars"),
        cc["n_alpha"].alias("n_alpha"),
        cc["n_digit"].alias("n_digit"),
        cc["n_punct"].alias("n_punct"),
        cc["n_space"].alias("__n_space"),
    )
    # left join: empty/whitespace-only docs have no word rows
    j = chars.join(text_ops.word_profile(docs), "doc_id", "left")
    n_words = F.coalesce(F.col("n_words"), F.lit(0))
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    nc = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    langs = sorted(text_ops.LANG_PROFILES)
    ratios = j.select(
        "doc_id",
        "n_tokens",
        "n_bpe_ish",
        "n_chars",
        "n_alpha",
        "n_digit",
        "n_punct",
        n_words.cast("int").alias("n_words"),
        F.round(F.coalesce(F.col("n_distinct"), F.lit(0)) / nw, 6).alias("distinct_ratio"),
        F.round(F.coalesce(F.col("n_stop"), F.lit(0)) / nw, 6).alias("stopword_ratio"),
        F.round(F.col("n_punct") / nc, 6).alias("punct_ratio"),
        F.round(F.col("n_digit") / nc, 6).alias("digit_ratio"),
        F.round((F.col("n_chars") - F.col("__n_space")) / nw, 6).alias("mean_word_len"),
        "labeled_lang",
        *[F.coalesce(F.col(f"score_{l}"), F.lit(0)).alias(f"score_{l}") for l in langs],
    )
    score = F.when(F.col("n_words") < 5, 0.0).otherwise(
        F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.3
        + F.col("distinct_ratio") * 0.3
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
        + (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.2
    )
    best = F.array_sort(
        F.array(
            *[
                F.struct((-F.col(f"score_{l}")).alias("neg_s"), F.lit(l).alias("l"))
                for l in langs
            ]
        )
    )[0]
    return (
        ratios.select(
            "doc_id",
            "n_tokens",
            "n_bpe_ish",
            "n_chars",
            "n_alpha",
            "n_digit",
            "n_punct",
            "n_words",
            "distinct_ratio",
            "stopword_ratio",
            "punct_ratio",
            "digit_ratio",
            "mean_word_len",
            F.round(score, 8).alias("quality_score"),
            "labeled_lang",
            F.when(best["neg_s"] < 0, best["l"]).otherwise(F.lit("unknown")).alias(
                "detected_lang"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "x97_doc_fingerprint",
    """
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t FROM documents
    )
    SELECT doc_id,
           md5(t) AS content_hash,
           list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1, 4),
                i -> ('0x' || substr(md5('0:' || substr(t, i::INTEGER, 8)), 1, 15))::BIGINT)) AS winnow_fp
    FROM norm
    ORDER BY doc_id
    """,
    ("text",),
)
def x97_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: normalized content hash + min-hash of character 8-grams."""
    t = _t(spark, sf_dir)
    return (
        text_ops.fingerprint(t["documents"])
        .select("doc_id", "content_hash", "winnow_fp")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------


@query(
    "xdh_asof_join_events",
    """
    WITH clicks AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
    purchases AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) rn
            FROM events WHERE event_type = 'purchase') WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           round(p.value, 2) AS purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
    ("join", "asof"),
)
def xdh_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's most recent purchase at-or-before it
    (union-window implementation, one shuffle)."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    joined = asof_ops.asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts", right_cols=["event_id", "value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_id_asof").alias("purchase_id"),
        F.col("ts_asof").alias("purchase_ts"),
        F.round("value_asof", 2).alias("purchase_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


@query(
    "xf3_flow_windows",
    """
    -- Spark's F.window FLOORS raw micros (pre-epoch 23:59:59.4 ->
    -- window 18:00 of the PREVIOUS bucket); DuckDB's BIGINT //
    -- truncates, so floor via double division (exact: |epoch_us| <<
    -- 2^53 and bucket boundaries are >1 quotient-ulp away from any
    -- integer micros) — engine-pair pinned
    SELECT 'tumbling' AS kind,
           make_timestamp(CAST(floor(epoch_us(ts) / 21600000000.0) AS BIGINT) * 21600000000) AS window_start,
           event_type,
           count(*) AS n
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding',
           make_timestamp(CAST(floor((epoch_us(ts) - k.off * 21600000000) / 43200000000.0) AS BIGINT) * 43200000000
                          + k.off * 21600000000),
           event_type, count(*)
    FROM events CROSS JOIN (VALUES (0::BIGINT), (1::BIGINT)) k(off)
    GROUP BY 2, 3
    ORDER BY kind, window_start, event_type
    """,
    ("streaming",),
)
def xf3_flow_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling 6h windows AND sliding 12h/6h windows (each event lands in 2
    overlapping windows) + watermark, both driven to completion over the bounded events source and
    tag-unioned."""
    ev = stream_ops._events_stream(spark, sf_dir)
    tumb_t, slide_t = stream_ops.run_streams_to_tables(
        [
            (stream_ops.tumbling_counts(ev), "flow_tumbling_out"),
            (stream_ops.sliding_counts(ev), "flow_sliding_out"),
        ]
    )
    tumb = tumb_t.select(F.lit("tumbling").alias("kind"), "window_start", "event_type", "n")
    slide = slide_t.select(F.lit("sliding").alias("kind"), "window_start", "event_type", "n")
    return tumb.unionByName(slide).orderBy("kind", "window_start", "event_type")


@query(
    "xf4_flow_sessions",
    """
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    ("streaming",),
)
def xf4_flow_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user: session_window agg == gaps-and-islands
    sessionization."""
    t = _t(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "xdu_flow_dedup",
    """
    SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type
    """,
    ("streaming", "dedup"),
)
def xdu_flow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark) — key set matches batch distinct."""
    stream = stream_ops.streaming_dedup(stream_ops._events_stream(spark, sf_dir))
    out = stream_ops.run_stream_to_table(
        stream.select("user_id", "event_type"), "stream_dedup_out", output_mode="append"
    )
    return out.dropDuplicates().orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@query(
    "mm_decode_meta",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id, n AS n_bytes,
           (16 + n % 64)::INTEGER AS width,
           (16 + (n // 64) % 64)::INTEGER AS height,
           (1 + n % 8)::INTEGER AS n_frames,
           n / 10.0 AS duration_ms,
           'synthetic' AS codec
    FROM b ORDER BY doc_id
    """,
    ("multimodal",),
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction: binary asset column -> Arrow-batched decode (stub kernel;
    real Spark plumbing)."""
    t = _t(spark, sf_dir)
    assets = mm_ops.attach_binary_assets(t["documents"])
    return mm_ops.decode_metadata(assets).orderBy("doc_id")


@query(
    "xa7_mm_frame_sample",
    """
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    fr AS (SELECT doc_id, n, unnest(range(0, 1 + n % 8, 2)) AS frame_idx FROM b)
    SELECT doc_id, frame_idx::INTEGER AS frame_idx,
           least(32, (n - frame_idx + 7) // 8)::BIGINT AS frame_len
    FROM fr
    ORDER BY doc_id, frame_idx
    """,
    ("multimodal",),
)
def xa7_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: 1->N mapInPandas over binary assets (stub frames)."""
    t = _t(spark, sf_dir)
    assets = mm_ops.attach_binary_assets(t["documents"])
    frames = mm_ops.frame_sample(assets, every_n=2)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame_bytes").cast("long").alias("frame_len")
    ).orderBy("doc_id", "frame_idx")


# ---------------------------------------------------------------------------
# Connector roundtrip
# ---------------------------------------------------------------------------


@query(
    "xd4_connector_roundtrip",
    """
    SELECT doc_id, lang, source FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id
    """,
    ("connector",),
)
def xd4_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_snowflake through the duckdb warehouse stub: distributed batch fetch + bin-packed
    partitions."""
    from .sources.snowflake import read_snowflake

    db = _scratch_db("roundtrip")
    import duckdb

    con = duckdb.connect(db)
    con.execute(
        "CREATE VIEW docs AS SELECT doc_id, lang, source FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    con.close()
    df = read_snowflake(
        "SELECT doc_id, lang, source FROM docs WHERE doc_id % 3 = 0",
        spark=spark,
        connection_kwargs={"database": db},
        backend="duckdb",
        npartitions=4,
    )
    # planning embedded the result batches into the partitions; the
    # warehouse file is no longer needed
    os.remove(db)
    return df.orderBy("doc_id")


@query(
    "connector_write_roundtrip",
    """
    SELECT o_custkey % 50 AS grp, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    ORDER BY grp
    """,
    ("connector", "sink"),
)
def connector_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_snowflake -> read_snowflake roundtrip through the duckdb warehouse stub: DDL bootstrap
    from df.schema, per-partition bulk write (PUT+COPY shape), then distributed read-back — the
    reference's flagship write path (core.py:70-124; test_core.py:54-65)."""
    from .sources.snowflake import read_snowflake, to_snowflake

    db = _scratch_db("write-roundtrip")
    t = _t(spark, sf_dir)
    summary = (
        t["orders"]
        .groupBy((F.col("o_custkey") % 50).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .repartition(4)  # exercise the parallel per-partition write path
    )
    to_snowflake(summary, "cwrt", connection_kwargs={"database": db}, backend="duckdb")
    back = read_snowflake(
        # unquoted identifiers: the warehouse stores them upper-cased,
        # matching write_pandas(quote_identifiers=False) semantics
        "SELECT GRP, N, TOTAL FROM CWRT",
        spark=spark,
        connection_kwargs={"database": db},
        backend="duckdb",
    )
    os.remove(db)
    return back.select(
        F.col("GRP").alias("grp"), F.col("N").alias("n"), F.col("TOTAL").alias("total")
    ).orderBy("grp")


@query(
    "x93_partition_control",
    """
    SELECT 'coalesce' AS mode, 2::BIGINT AS n_partitions,
           (SELECT count(*) FROM documents) AS n_rows
    UNION ALL
    SELECT 'repartition', 3::BIGINT, (SELECT count(*) FROM documents)
    ORDER BY mode
    """,
    ("repartition",),
)
def x93_partition_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit repartitioning control (SURVEY §2.B last row; reference npartitions kwarg
    core.py:206-207, test_core.py:128): repartition(3) yields exactly 3 partitions, coalesce(2)
    merges to exactly 2 — verified in-result via spark_partition_id()."""
    t = _t(spark, sf_dir)

    def part_stats(df: DataFrame, mode: str) -> DataFrame:
        return (
            df.select(F.spark_partition_id().alias("pid"))
            .agg(
                F.countDistinct("pid").alias("n_partitions"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(F.lit(mode).alias("mode"), "n_partitions", "n_rows")
        )

    rep = t["documents"].repartition(3)
    return part_stats(rep.coalesce(2), "coalesce").unionByName(
        part_stats(rep, "repartition")
    ).orderBy("mode")


# ---------------------------------------------------------------------------
# Skew mitigation
# ---------------------------------------------------------------------------


@query(
    "xae_agg_skew_salted",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total, round(max(value), 6) AS mx
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    ("skew", "aggregation"),
)
def xae_agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation over a hot-key distribution == plain aggregation (skew never
    stalls a reducer)."""
    from .operators.skew import salted_agg

    t = _t(spark, sf_dir)
    # events has only 5 event_type values — every key is hot; the salt
    # spreads each over 16 reducers, stage 2 folds 16 partials per key
    out = salted_agg(
        t["events"],
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), F.sum("n")),
            "total": (F.sum("value"), F.sum("total")),
            "mx": (F.max("value"), F.max("mx")),
        },
        num_salts=16,
        salt_by="event_id",
    )
    return out.select(
        "event_type",
        "n",
        F.round("total", 2).alias("total"),
        F.round("mx", 6).alias("mx"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Custom stateful streaming
# ---------------------------------------------------------------------------


@query(
    "xg2_flow_stateful_counters",
    """
    -- integer-cents total (x66 idiom): floor(value*100) per row is
    -- exact IEEE on both engines (values non-negative), the BIGINT sum
    -- is order-independent, and /100.0 is the identical correctly-
    -- rounded double everywhere — the old round(sum(value), 2) paired
    -- a python banker's round over pandas partial sums against the SQL
    -- half-up round of a differently-ordered sum (fixture-luck green)
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    ("streaming", "udf"),
)
def xg2_flow_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState custom stateful operator: per-user running counters (integer-cents
    state, engine-exact); final state == batch aggregation."""
    from pyspark.sql.window import Window as W

    from .streaming.stateful import running_user_counters
    from .streaming.windows import _events_stream, run_stream_to_table

    out = run_stream_to_table(
        running_user_counters(_events_stream(spark, sf_dir)),
        "stream_state_out",
        output_mode="update",
    )
    # the memory sink holds one row per (user, update); the final state
    # per user is the row with the highest event count
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


def _watermarked_purchases(ev: DataFrame) -> DataFrame:
    """The purchase side of the stream-stream joins: ``(purchase_id,
    p_user_id, p_ts, value)`` from the events stream, watermarked 2h
    on ``p_ts``."""
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "2 hours")
    )


@query(
    "flow_stream_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           round(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    ORDER BY click_id, purchase_id
    """,
    ("streaming", "join"),
)
def flow_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases within 1h after each click."""
    ev = stream_ops._events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = _watermarked_purchases(ev)
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id", F.round("value", 2).alias("purchase_value"))
    out = stream_ops.run_stream_to_table(joined, "stream_join_out", output_mode="append")
    return out.orderBy("click_id", "purchase_id")


@query(
    "xd3_pipeline_text_prep",
    f"""
    WITH feat AS (
        SELECT doc_id, text, lang,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_words,
               len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS n_distinct
        FROM documents
    ),
    quality AS (
        SELECT doc_id, text, lang, n_words
        FROM feat
        WHERE n_words >= 20 AND n_distinct / greatest(n_words, 1)::DOUBLE >= 0.2
    ),
    hashed AS (
        SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        FROM quality
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
            FROM hashed) WHERE rn = 1
    )
    SELECT lang, count(*) AS n_docs, sum(n_words)::BIGINT AS n_tokens
    FROM kept
    GROUP BY lang
    ORDER BY lang
    """,
    ("text", "dedup", "pipeline"),
)
def xd3_pipeline_text_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data prep pipeline: quality filter -> exact dedup (content hash, min-id
    keeper) -> per-language token budget."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    feat = t["documents"].select(
        "doc_id",
        "text",
        "lang",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
    )
    quality = feat.filter(
        (F.col("n_words") >= 20)
        & (F.col("n_distinct") / F.greatest(F.col("n_words"), F.lit(1)).cast("double") >= 0.2)
    )
    hashed = quality.withColumn(
        "content_hash", F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    )
    w = W.partitionBy("content_hash").orderBy("doc_id")
    kept = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_words").cast("long").alias("n_tokens"))
        .orderBy("lang")
    )


@query(
    "x00_tfidf",
    """
    WITH terms AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tc AS (SELECT doc_id, term, count(*) AS n_t FROM terms GROUP BY doc_id, term),
    dl AS (SELECT doc_id, sum(n_t) AS n_doc FROM tc GROUP BY doc_id),
    dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tc.doc_id, tc.term,
               round((tc.n_t / dl.n_doc) * (ln((n.n_docs + 1) / (dfq.df + 1)) + 1), 6) AS tfidf_r
        FROM tc
        JOIN dl ON dl.doc_id = tc.doc_id
        JOIN dfq ON dfq.term = tc.term
        CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf_r,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_r DESC, term) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tfidf_r, rnk FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    ("text",),
)
def x00_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF (smoothed idf) over whitespace unigrams, top-3 terms per document; rank over
    the 6dp-rounded score so engine float tails can't flip ties."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    scored = text_ops.tfidf(t["documents"])
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_r").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf_r", "rnk")
        .orderBy("doc_id", "rnk")
    )


@query(
    "x18_simhash_near_dup",
    """
    WITH words AS (
        SELECT DISTINCT doc_id AS doc, w
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents)
        WHERE w <> ''
    ),
    hashes AS (
        SELECT doc, ('0x' || substr(md5('0:' || w), 1, 15))::BIGINT AS h FROM words
    ),
    bits AS (SELECT unnest(range(60)) AS bit),
    votes AS (
        SELECT doc, bit, sum(((h >> bit) & 1) * 2 - 1) AS v
        FROM hashes CROSS JOIN bits
        GROUP BY doc, bit
    ),
    sims AS (
        SELECT doc AS doc_id,
               sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
        FROM votes GROUP BY doc
    ),
    bands AS (
        SELECT doc_id, simhash, b.band, (simhash >> (b.band * 15)) & 32767 AS val
        FROM sims CROSS JOIN (SELECT unnest(range(4)) AS band) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa, b.doc_id AS doc_b, b.simhash AS sb
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INTEGER AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """,
    ("dedup",),
)
def x18_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidate generation (pigeonhole — hamming <= 3 pairs must
    agree exactly on one of 4 fifteen-bit bands, so candidates come from an equi-join, never
    all-pairs) + bit_count(xor) verify on candidates only."""
    t = _t(spark, sf_dir)
    return dedup_ops.simhash_near_dup(t["documents"], max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("int")
    ).orderBy("doc_a", "doc_b")


@query(
    "x19_dataset_split",
    """
    WITH b AS (
        SELECT doc_id,
               ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 1000000 AS bkt
        FROM documents
    ),
    assigned AS (
        SELECT doc_id,
               CASE WHEN bkt < 100000 THEN 'test'
                    WHEN bkt < 900000 THEN 'train'
                    ELSE 'val' END AS split
        FROM b
    )
    SELECT split, count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM assigned GROUP BY split ORDER BY split
    """,
    ("sampling",),
)
def x19_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content hash of the key — no RNG,
    reproducible across engines/retries/partitionings, and rows never migrate between splits as the
    corpus grows."""
    from .operators.sampling import split_assign

    t = _t(spark, sf_dir)
    assigned = split_assign(
        t["documents"], "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@query(
    "x20_gap_fill",
    """
    WITH actual AS (
        -- trunc-to-second then FLOOR-divide, matching Spark's
        -- floor(unix_timestamp/21600) exactly: a bare epoch_us //
        -- 21600000000 TRUNCATES and diverges on pre-epoch mid-bucket
        -- timestamps (engine-pair pinned)
        SELECT user_id,
               make_timestamp(CAST(floor((epoch_us(ts) // 1000000) / 21600.0) AS BIGINT) * 21600000000) AS bucket,
               count(*) AS n,
               round(sum(value), 2) AS total
        FROM events
        GROUP BY 1, 2
    ),
    spine AS (
        SELECT user_id,
               unnest(generate_series(min(bucket), max(bucket), INTERVAL 6 HOUR)) AS bucket
        FROM actual GROUP BY user_id
    )
    SELECT s.user_id, s.bucket,
           coalesce(a.n, 0) AS n,
           last_value(a.total IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_ff
    FROM spine s LEFT JOIN actual a ON a.user_id = s.user_id AND a.bucket = s.bucket
    ORDER BY s.user_id, s.bucket
    """,
    ("timeseries",),
)
def x20_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: per-user 6h buckets densified over each user's own [min, max] range
    (sequence+explode spine, no global driver-side date range), zero-filled counts, forward-filled
    totals via last(ignorenulls) window."""
    from .operators.timeseries import gap_fill

    t = _t(spark, sf_dir)
    return gap_fill(
        t["events"],
        "user_id",
        "ts",
        {
            "n": F.count(F.lit(1)),
            "total": F.round(F.sum("value"), 2),
        },
        bucket_seconds=21600,
        fill_zero=("n",),
        fill_forward=("total",),
    ).withColumnRenamed("total", "total_ff").orderBy("user_id", "bucket")


@query(
    "x21_ivf_trained_recall",
    None,  # iterative k-means training: float means are not bit-portable
    ("similarity",),
)
def x21_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF ANN: spherical k-means on a hash-chosen 20% sample, argmax-cosine cell
    assignment, in-cell top-10, recall vs brute force in-query. Rows-only by design (iterative
    float training)."""
    from .operators.sampling import deterministic_sample
    from .session import track_cache

    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    # ONE persisted normalized projection shared by all four consumers —
    # k-means training sample, index side, probe side, AND the
    # brute-force ground truth (which previously re-normalized the whole
    # corpus through topk_bruteforce). iters=1: centroid movement after
    # the first Lloyd step doesn't change what this query demonstrates
    # (recall of a trained coarse quantizer), and each extra iteration
    # is two full jobs.
    base = track_cache(
        sim_ops.with_normalized(
            emb.select("vec_id", "embedding"), "embedding", "nv", ["vec_id"]
        )
    )
    train = deterministic_sample(base, "vec_id", 0.2, salt="ivf-train")
    cents = sim_ops.kmeans_fit(train, k=8, iters=1, vec_col="nv", normalized=True)
    assigned = sim_ops.assign_cells(base, cents)
    # query side probes its 3 closest cells (the IVF recall knob);
    # the index side stays single-cell
    qbase = base.filter(F.col("vec_id") < 5)
    q = sim_ops.assign_cells(qbase, cents, nprobe=3).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv"), "cell"
    )
    scored = (
        assigned.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(sim_ops.dot(F.col("qv"), F.col("nv")), 6).alias("sim"),
        )
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    ivf = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
    # ground truth off the SAME persisted base: broadcast the 5 query
    # vectors against the cached normalized corpus — one scan, no
    # second normalization pass
    qn = qbase.select(F.col("vec_id").alias("query_id"), F.col("nv").alias("qv"))
    tscored = (
        base.join(F.broadcast(qn), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(sim_ops.dot(F.col("qv"), F.col("nv")), 6).alias("sim"),
        )
    )
    truth = (
        tscored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id")
    )
    hits = truth.join(ivf.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
    return (
        truth.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_found")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "n_true",
            F.coalesce(F.col("n_found"), F.lit(0)).alias("n_found"),
            F.round(F.coalesce(F.col("n_found"), F.lit(0)) / F.col("n_true"), 2).alias(
                "recall_at_10"
            ),
        )
        .orderBy("query_id")
    )


@query(
    "x22_mm_feature_extract",
    """
    SELECT doc_id,
           length(text) AS n_chars,
           list_transform(range(16), j ->
               (len(list_filter(
                   list_transform(range(length(text)), i -> ord(text[i+1]) % 16),
                   x -> x = j)) * 1000000 // greatest(length(text), 1)) / 1000000.0) AS features
    FROM documents
    ORDER BY doc_id
    """,
    ("multimodal",),
)
def x22_mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary asset -> array<double> embedding via an Arrow-batched
    mapInPandas kernel (stub: normalized codepoint histogram, deliberately SQL-replicable so the
    whole Python-UDF path is value-checked); output feeds the ANN operators."""
    t = _t(spark, sf_dir)
    assets = mm_ops.attach_binary_assets(t["documents"])
    return mm_ops.extract_features(assets, dim=16).orderBy("doc_id")


@query(
    "x23_asof_forward_tolerance",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
        SELECT user_id, ts, event_id, value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) rn
            FROM events WHERE event_type = 'purchase') WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN p.event_id END AS next_purchase_id,
           CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN p.ts END AS next_purchase_ts,
           CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR THEN round(p.value, 2) END AS next_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    ORDER BY c.event_id
    """,
    ("join", "asof"),
)
def x23_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (full merge_asof surface): each click annotated with the
    user's NEXT purchase, nulled when it is more than 1h later — same union-window one-shuffle
    implementation, frame reversed."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    joined = asof_ops.asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        direction="forward",
        tolerance_seconds=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_id_asof").alias("next_purchase_id"),
        F.col("ts_asof").alias("next_purchase_ts"),
        F.round("value_asof", 2).alias("next_purchase_value"),
    ).orderBy("event_id")


@query(
    "x24_stream_warehouse_sink",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    ("streaming", "connector", "sink"),
)
def x24_stream_warehouse_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC/ingest shape end-to-end: readStream over events -> foreachBatch ->
    to_snowflake per-micro-batch bulk load into the warehouse stub -> read_snowflake back ->
    aggregate; totals match the batch aggregation exactly."""
    from .sources.snowflake import read_snowflake, to_snowflake

    db = _scratch_db("stream-sink")

    events = stream_ops._events_stream(spark, sf_dir).select("event_type", "value")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # coalesce before the bulk load — SCALE.md's warehouse-ingest
        # pressure valve; a micro-batch doesn't need 32 COPY files
        to_snowflake(
            batch_df.coalesce(4),
            "stream_sink_q",
            connection_kwargs={"database": db},
            backend="duckdb",
        )

    q = events.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    back = read_snowflake(
        "SELECT EVENT_TYPE, VALUE FROM STREAM_SINK_Q",
        spark=spark,
        connection_kwargs={"database": db},
        backend="duckdb",
    )
    os.remove(db)
    return (
        back.groupBy(F.col("EVENT_TYPE").alias("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("VALUE"), 2).alias("total"))
        .orderBy("event_type")
    )


@query(
    "x25_sequence_pack",
    """
    WITH toks AS (
        SELECT lang, doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_offset,
               ((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 512)::BIGINT AS first_chunk,
               ((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 512)::BIGINT AS last_chunk
        FROM toks
    ),
    spans AS (
        SELECT lang, doc_id, unnest(range(first_chunk, last_chunk + 1)) AS chunk_id
        FROM packed WHERE n_tokens > 0
    )
    SELECT lang, chunk_id, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM spans
    GROUP BY lang, chunk_id
    ORDER BY lang, chunk_id
    """,
    ("text", "packing"),
)
def x25_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (concat-and-chunk): per-language token streams chunked into 512-token
    training sequences via prefix-sum windows (docs may straddle chunks); output = per-chunk
    packing QA stats. Shard-partitioned windows — no global ordering at any scale."""
    from .operators.packing import chunk_summary, sequence_pack

    t = _t(spark, sf_dir)
    docs = t["documents"].select("lang", "doc_id", text_ops.token_count(F.col("text")).alias("n_tokens"))
    packed = sequence_pack(
        docs, "n_tokens", shard_col="lang", order_col="doc_id", chunk_tokens=512
    )
    return chunk_summary(packed, shard_col="lang", order_col="doc_id").orderBy(
        "lang", "chunk_id"
    )


@query(
    "x26_column_profile",
    """
    WITH base AS (
        -- means are QUANTIZED (exact integer 1e-4-unit sums / count):
        -- a raw avg() is summation-order dependent across engines and
        -- round(...,4) of it flips near halfway boundaries
        SELECT count(*) AS n_rows,
               count(l_quantity) AS nn_q, count(DISTINCT l_quantity) AS nd_q,
               round(min(l_quantity)::DOUBLE, 4) AS mn_q, round(max(l_quantity)::DOUBLE, 4) AS mx_q,
               round(CAST(sum(CAST(round(l_quantity::DOUBLE * 10000) AS BIGINT)) AS BIGINT)
                     / (10000.0 * count(l_quantity)), 4) AS av_q,
               count(l_extendedprice) AS nn_p, count(DISTINCT l_extendedprice) AS nd_p,
               round(min(l_extendedprice)::DOUBLE, 4) AS mn_p, round(max(l_extendedprice)::DOUBLE, 4) AS mx_p,
               round(CAST(sum(CAST(round(l_extendedprice::DOUBLE * 10000) AS BIGINT)) AS BIGINT)
                     / (10000.0 * count(l_extendedprice)), 4) AS av_p
        FROM lineitem
    )
    SELECT u.column_name, u.metric, u.value
    FROM base, LATERAL (VALUES
        ('l_quantity', 'n_rows', n_rows::DOUBLE),
        ('l_quantity', 'n_nonnull', nn_q::DOUBLE),
        ('l_quantity', 'n_null', (n_rows - nn_q)::DOUBLE),
        ('l_quantity', 'n_distinct', nd_q::DOUBLE),
        ('l_quantity', 'min', mn_q),
        ('l_quantity', 'max', mx_q),
        ('l_quantity', 'mean', av_q),
        ('l_extendedprice', 'n_rows', n_rows::DOUBLE),
        ('l_extendedprice', 'n_nonnull', nn_p::DOUBLE),
        ('l_extendedprice', 'n_null', (n_rows - nn_p)::DOUBLE),
        ('l_extendedprice', 'n_distinct', nd_p::DOUBLE),
        ('l_extendedprice', 'min', mn_p),
        ('l_extendedprice', 'max', mx_p),
        ('l_extendedprice', 'mean', av_p)
    ) u(column_name, metric, value)
    ORDER BY column_name, metric
    """,
    ("profile",),
)
def x26_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column n_rows/nonnull/null/distinct/min/max/mean in one aggregation job, unpivoted to
    long form. Exact distincts cost an Expand."""
    from .operators.profile import profile

    t = _t(spark, sf_dir)
    return profile(t["lineitem"], ["l_quantity", "l_extendedprice"]).orderBy(
        "column_name", "metric"
    )


@query(
    "x27_orc_roundtrip",
    """
    SELECT n_nationkey, n_name, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
    ("source", "sink"),
)
def x27_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip (the third columnar format after parquet and the warehouse):
    write the supplier-nation join to ORC, read back, aggregate — hash-matched against the direct
    aggregation."""
    from .queries import _scratch_dir

    t = _t(spark, sf_dir)
    path = _scratch_dir("x27_orc", sf_dir)
    joined = t["supplier"].join(
        F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey")
    ).select("n_nationkey", "n_name", "s_suppkey", "s_acctbal")
    joined.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
        .orderBy("n_nationkey")
    )


@query(
    "xe9_decontaminate_evals",
    """
    WITH sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i+1:i+4], ' ') AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM documents),
             LATERAL unnest(range(greatest(len(w) - 3, 1))) AS t(i)
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT * FROM sh WHERE doc_id % 50 != 0),
    per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
    hits AS (
        SELECT tr.doc_id, count(*) AS n_overlap
        FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id
    )
    SELECT p.doc_id                                   AS doc,
           p.n_shingles,
           coalesce(h.n_overlap, 0)                   AS n_overlap,
           coalesce(h.n_overlap, 0) * 1000000 // p.n_shingles / 1e6 AS overlap_frac
    FROM per_doc p LEFT JOIN hits h ON h.doc_id = p.doc_id
    WHERE coalesce(h.n_overlap, 0) > 0
    ORDER BY doc
    """,
    ("text", "decontam"),
)
def xe9_decontaminate_evals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs whose word 4-grams overlap the eval set (doc_id %
    50 = 0) via a broadcast semi-join against the eval n-grams. Only contaminated docs are
    returned."""
    from .operators.decontam import ngram_overlap

    t = _t(spark, sf_dir)
    docs = t["documents"]
    train = docs.filter(F.col("doc_id") % 50 != 0)
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    return (
        ngram_overlap(train, evalset, n=4)
        .filter(F.col("n_overlap") > 0)
        .orderBy("doc")
    )


@query(
    "x29_pii_redact",
    """
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 2 THEN text
                    ELSE text || ' contact user' || doc_id ||
                         '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                         ' ip 10.0.' || doc_id % 256 || '.1'
               END AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
               len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b'))                               AS n_phone,
               len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))   AS n_ipv4,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{3}-\\d{4}\\b', '[PHONE]', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS redacted
        FROM seeded
    )
    SELECT doc_id, n_email, n_phone, n_ipv4,
           length(redacted) AS redacted_len,
           md5(redacted)    AS redacted_md5
    FROM red
    ORDER BY doc_id
    """,
    ("text", "pii"),
)
def x29_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact: portable regexes count and replace emails, phones and IPv4s in one
    projection over synthetic PII seeded from doc_id. The md5 of the redacted text value-checks
    every replacement."""
    from .operators.pii import redact

    t = _t(spark, sf_dir)
    seeded = t["documents"].select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 2, F.col("text"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@example.com or 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" ip 10.0."),
                F.col("doc_id") % 256,
                F.lit(".1"),
            )
        )
        .alias("text"),
    )
    return (
        redact(seeded, "text")
        .select(
            "doc_id",
            "n_email",
            "n_phone",
            "n_ipv4",
            F.length("redacted").alias("redacted_len"),
            F.md5("redacted").alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "x30_repetition_filter",
    """
    WITH words AS (
        SELECT doc_id, lower(u.w) AS w
        FROM documents, LATERAL unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(w)
        WHERE u.w != ''
    ),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w),
    stats AS (
        -- BIGINT casts: DuckDB sums BIGINT into HUGEINT, which pandas
        -- renders as float64 — a driver-hash divergence vs Spark's long
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
               max(c) AS max_count,
               CAST(sum(length(w) * c) AS BIGINT) AS sum_len
        FROM wc GROUP BY doc_id
    )
    SELECT doc_id                                                    AS doc,
           n_words,
           n_distinct,
           (n_words - n_distinct) * 1000000 // n_words / 1e6         AS dup_word_frac,
           max_count * 1000000 // n_words / 1e6                      AS top_word_frac,
           sum_len * 1000000 // n_words / 1e6                        AS mean_word_len,
           ((n_words - n_distinct) * 1000000 // n_words / 1e6 > 0.68
            OR max_count * 1000000 // n_words / 1e6 > 0.2)           AS low_quality
    FROM stats
    ORDER BY doc
    """,
    ("text", "quality"),
)
def x30_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per-doc duplicate-word fraction, top-word fraction,
    mean word length (integer-quantized ratios) + low_quality flag — one explode keyed by doc, two
    cascaded map-side-combinable aggregations."""
    from .operators.text import repetition_stats

    t = _t(spark, sf_dir)
    s = repetition_stats(t["documents"])
    return s.select(
        "doc",
        "n_words",
        "n_distinct",
        "dup_word_frac",
        "top_word_frac",
        "mean_word_len",
        ((F.col("dup_word_frac") > 0.68) | (F.col("top_word_frac") > 0.2)).alias(
            "low_quality"
        ),
    ).orderBy("doc")


@query(
    "xd5_dedup_cluster_cc",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u)
    SELECT cluster_id,
           count(*) AS cluster_size,
           array_to_string(list_sort(list(u)), ',') AS members
    FROM labels
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
    ("dedup", "graph"),
)
def xd5_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash+LSH pairs, then hash-min connected components (one join + min-agg
    per round), one row per cluster with its min-id representative. The oracle replays the
    clustering as a recursive transitive closure."""
    from .operators.graph import connected_components

    t = _t(spark, sf_dir)
    pairs = dedup_ops.minhash_near_dup(
        t["documents"], shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    return (
        cc.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("vertex")), lambda x: x.cast("string")),
                ",",
            ).alias("members"),
        )
        .orderBy("cluster_id")
    )


@query(
    "x32_multires_rollup",
    """
    WITH b AS (
        SELECT event_type, value,
               date_trunc('hour', ts) AS h1,
               date_trunc('day', ts) + (extract(hour FROM ts)::BIGINT // 6) * 6 * INTERVAL 1 HOUR AS h6,
               date_trunc('day', ts) AS d1
        FROM events
    )
    SELECT CASE WHEN h1 IS NOT NULL THEN '1h'
                WHEN h6 IS NOT NULL THEN '6h'
                ELSE '1d' END AS resolution,
           coalesce(h1, h6, d1) AS bucket_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM b
    GROUP BY GROUPING SETS ((h1, event_type), (h6, event_type), (d1, event_type))
    ORDER BY resolution, bucket_start, event_type
    """,
    ("timeseries", "aggregation"),
)
def x32_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: 1h/6h/1d downsampled aggregates of the event
    stream in ONE Expand-based grouping-sets pass (no triple scan), tagged by resolution."""
    t = _t(spark, sf_dir)
    b = t["events"].select(
        "event_type",
        "value",
        F.date_trunc("hour", F.col("ts")).alias("h1"),
        F.expr(
            "date_trunc('day', ts) + make_interval(0, 0, 0, 0, CAST(floor(hour(ts) / 6) * 6 AS INT), 0, 0)"
        ).alias("h6"),
        F.date_trunc("day", F.col("ts")).alias("d1"),
    )
    return (
        b.groupingSets(
            [["h1", "event_type"], ["h6", "event_type"], ["d1", "event_type"]],
            "h1",
            "h6",
            "d1",
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.when(F.col("h1").isNotNull(), F.lit("1h"))
            .when(F.col("h6").isNotNull(), F.lit("6h"))
            .otherwise(F.lit("1d"))
            .alias("resolution"),
            F.coalesce("h1", "h6", "d1").alias("bucket_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("resolution", "bucket_start", "event_type")
    )


@query(
    "x33_funnel",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.t_view
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.t_click
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT count(v.user_id)                                        AS n_view,
           count(c.user_id)                                        AS n_click,
           count(p.user_id)                                        AS n_purchase,
           count(c.user_id) * 1000000 // count(v.user_id) / 1e6    AS view_to_click,
           count(p.user_id) * 1000000 // count(v.user_id) / 1e6    AS view_to_purchase
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
    ("events", "analytics"),
)
def x33_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: first view -> first click at-or-after it ->
    first purchase at-or-after that, per-stage user counts + integer-quantized conversion rates;
    stage aggregations shuffle once on user_id each."""
    t = _t(spark, sf_dir)
    ev = t["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    funnel = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return funnel.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
        (F.expr("count(t_click) * 1000000 div count(t_view)") / 1e6).alias("view_to_click"),
        (F.expr("count(t_purchase) * 1000000 div count(t_view)") / 1e6).alias("view_to_purchase"),
    )


@query(
    "x34_vocab_topk",
    """
    WITH words AS (
        SELECT doc_id, lower(u.w) AS w
        FROM documents, LATERAL unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(w)
        WHERE u.w != ''
    )
    SELECT w AS word,
           count(*) AS corpus_freq,
           count(DISTINCT doc_id) AS doc_freq
    FROM words
    GROUP BY w
    ORDER BY corpus_freq DESC, word
    LIMIT 20
    """,
    ("text", "aggregation"),
)
def x34_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: global top-20 words by corpus frequency with document frequency —
    explode + one combined agg + TakeOrderedAndProject top-k (per-partition heap, no full sort),
    deterministic word tie-break."""
    t = _t(spark, sf_dir)
    words = (
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select("doc_id", F.lower("w").alias("word"))
    )
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("corpus_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("corpus_freq").desc(), "word")
        .limit(20)
    )


@query(
    "x35_scd2_history",
    """
    WITH p AS (
        SELECT user_id, ts, value, event_id,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND user_id % 20 = 0
    ),
    d AS (SELECT user_id, ts, value FROM p WHERE rn = 1)
    SELECT user_id,
           round(value, 2) AS value,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM d
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ORDER BY user_id, valid_from
    """,
    ("cdc", "window"),
)
def x35_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension history build from a CDC-style change stream: per-key change rows ->
    validity intervals via lead() (valid_from, valid_to, is_current), deduplicated
    deterministically at equal timestamps; one shuffle keyed by the dimension key."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    p = (
        t["events"]
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    w = W.partitionBy("user_id").orderBy("ts")
    return (
        p.select(
            "user_id",
            F.round("value", 2).alias("value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "valid_from")
    )


@query(
    "x36_quality_resample",
    """
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               least(1.0, n_chars / 2000.0) AS q,
               (('0x' || substr(md5('7:' || doc_id), 1, 15))::BIGINT % 1000000) / 1e6 AS u
        FROM documents
    )
    SELECT lang,
           count(*) AS n_total,
           CAST(count(CASE WHEN u < q THEN 1 END) AS BIGINT) AS n_kept,
           count(CASE WHEN u < q THEN 1 END) * 1000000 // count(*) / 1e6 AS kept_frac,
           CAST(sum(CASE WHEN u < q THEN n_chars END) AS BIGINT) AS kept_chars
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
    ("sampling", "quality"),
)
def x36_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus resampling: keep probability proportional to a quality score,
    decided by a content-keyed md5 instead of an RNG, so the sample is the same on every engine,
    retry and partitioning."""
    t = _t(spark, sf_dir)
    q = F.least(F.lit(1.0), F.col("n_chars") / 2000.0)
    u = (dedup_ops.portable_hash(F.col("doc_id").cast("string"), 7) % 1000000) / 1e6
    scored = t["documents"].select(
        "lang", "n_chars", q.alias("q"), u.alias("u")
    )
    kept = F.when(F.col("u") < F.col("q"), F.lit(1))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(kept).alias("n_kept"),
            (F.expr("count(CASE WHEN u < q THEN 1 END) * 1000000 div count(1)") / 1e6).alias(
                "kept_frac"
            ),
            F.sum(F.when(F.col("u") < F.col("q"), F.col("n_chars"))).alias("kept_chars"),
        )
        .orderBy("lang")
    )


@query(
    "x37_anomaly_zscore",
    """
    -- the ENTIRE statistic pipeline is exact-integer-sourced (x66
    -- idiom taken to its conclusion): per-row integer cents make the
    -- windowed sums S1/S2 exact and order-independent, every derived
    -- double (mean, sample variance in one fixed expression order,
    -- sqrt, z) is then the IDENTICAL correctly-rounded value on both
    -- engines — the previous avg/stddev windows summed floats in
    -- engine-specific orders, so floor(z*1e4) could flip on an ulp.
    -- z is quantized by MAGNITUDE with the sign reapplied (flooring
    -- the signed z would let negative outliers pass at |z|>2.9999).
    WITH c AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    w AS (
        SELECT user_id, event_id, cents,
               sum(cents)         OVER win AS s1,
               sum(cents * cents) OVER win AS s2,
               count(*)           OVER win AS n_win
        FROM c
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
        SELECT user_id, event_id, cents, s1, n_win,
               (s2 - s1 * s1 / (1.0 * n_win)) / (n_win - 1) AS var_c,
               cents - s1 / (1.0 * n_win) AS dev_c
        FROM w WHERE n_win >= 5
    ),
    q AS (
        SELECT user_id, event_id, cents, s1, n_win, dev_c,
               CAST(floor(abs(dev_c) / sqrt(var_c) * 10000) AS BIGINT) AS zq_mag
        FROM z WHERE var_c > 0
    )
    SELECT user_id, event_id,
           cents / 100.0 AS value,
           ((s1 * 100) // n_win) / 1e4 AS trailing_mean,
           (CASE WHEN dev_c >= 0 THEN zq_mag ELSE -zq_mag END) / 1e4 AS zscore
    FROM q
    WHERE zq_mag > 30000
    ORDER BY user_id, event_id
    """,
    ("events", "window", "quality"),
)
def x37_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection on the event stream: per-user trailing-window mean/stddev
    (ROWS frame, bounded state) -> z-score -> |z| > 3 outlier flag; one shuffle keyed by user,
    deterministic (ts, event_id) ordering."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    win = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    c = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            "ts",
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
    )
    w = c.select(
        "user_id",
        "event_id",
        "cents",
        F.sum("cents").over(win).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("s2"),
        F.count(F.lit(1)).over(win).alias("n_win"),
    ).filter(F.col("n_win") >= 5)
    # fixed expression order, every operand an exact integer or a
    # single division of exact integers -> identical doubles everywhere
    z = w.select(
        "user_id",
        "event_id",
        "cents",
        "s1",
        "n_win",
        ((F.col("s2") - F.col("s1") * F.col("s1") / (1.0 * F.col("n_win")))
         / (F.col("n_win") - 1)).alias("var_c"),
        (F.col("cents") - F.col("s1") / (1.0 * F.col("n_win"))).alias("dev_c"),
    ).filter(F.col("var_c") > 0)
    q = z.select(
        "user_id",
        "event_id",
        "cents",
        "s1",
        "n_win",
        "dev_c",
        F.floor(F.abs(F.col("dev_c")) / F.sqrt("var_c") * 10000)
        .cast("long")
        .alias("zq_mag"),
    ).filter(F.col("zq_mag") > 30000)
    return q.select(
        "user_id",
        "event_id",
        (F.col("cents") / 100.0).alias("value"),
        (F.expr("(s1 * 100) div n_win") / 1e4).alias("trailing_mean"),
        (
            F.when(F.col("dev_c") >= 0, F.col("zq_mag")).otherwise(-F.col("zq_mag"))
            / 1e4
        ).alias("zscore"),
    ).orderBy("user_id", "event_id")


@query(
    "x38_incremental_agg",
    """
    WITH base AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n,
               sum(l_extendedprice) AS sum_price
        FROM lineitem WHERE l_orderkey % 10 != 0
        GROUP BY l_returnflag, l_linestatus
    ),
    delta AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n,
               sum(l_extendedprice) AS sum_price
        FROM lineitem WHERE l_orderkey % 10 = 0
        GROUP BY l_returnflag, l_linestatus
    ),
    merged AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(sum_qty) AS BIGINT) AS sum_qty,
               CAST(sum(n) AS BIGINT) AS n,
               sum(sum_price) AS sum_price
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sum_qty, n,
           round(sum_price, 2) AS sum_price,
           round(sum_price / n, 4) AS avg_price
    FROM merged
    ORDER BY l_returnflag, l_linestatus
    """,
    ("aggregation", "cdc"),
)
def x38_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a base aggregate merged with a delta batch by combining
    partial states (sums/counts re-summed, avg derived at read). Equals the full recompute
    exactly."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_extendedprice").alias("sum_price"),
        )

    base = partial(li.filter(F.col("l_orderkey") % 10 != 0))
    delta = partial(li.filter(F.col("l_orderkey") % 10 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("sum_qty").cast("long").alias("sum_qty"),
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_price").alias("sum_price"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "n",
        F.round("sum_price", 2).alias("sum_price"),
        F.round(F.col("sum_price") / F.col("n"), 4).alias("avg_price"),
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "x39_snapshot_diff",
    """
    WITH old AS (
        SELECT o_orderkey AS k, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey % 7 != 0
    ),
    new AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 3 != 0
    ),
    diff AS (
        SELECT coalesce(o.k, n.k) AS k,
               CASE WHEN o.k IS NULL THEN 'insert'
                    WHEN n.k IS NULL THEN 'delete'
                    WHEN o.o_totalprice != n.o_totalprice
                         OR o.o_orderstatus != n.o_orderstatus THEN 'update'
                    ELSE 'unchanged' END AS change
        FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT change, count(*) AS n, min(k) AS min_key, max(k) AS max_key
    FROM diff
    GROUP BY change
    ORDER BY change
    """,
    ("cdc", "join"),
)
def x39_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / change-data-feed between two table versions: full outer join on the key
    classifying insert/delete/update/unchanged (row-hash comparison) — the table-format CDF pattern
    computed relationally; one shuffle keyed by the table key."""
    t = _t(spark, sf_dir)
    o = t["orders"]
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k"), "o_totalprice", "o_orderstatus"
    )
    new = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    j = old.alias("o").join(new.alias("n"), F.col("o.k") == F.col("n.k"), "full_outer")
    change = (
        F.when(F.col("o.k").isNull(), F.lit("insert"))
        .when(F.col("n.k").isNull(), F.lit("delete"))
        .when(
            (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"), change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).alias("n"), F.min("k").alias("min_key"), F.max("k").alias("max_key"))
        .orderBy("change")
    )


@query(
    "x40_stream_outer_join",
    """
    WITH horizon AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'click' AND user_id % 5 = 0),
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 2 HOUR AS w
    )
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           round(p.value, 2) AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click' AND user_id % 5 = 0) c
    CROSS JOIN horizon h
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 30 MINUTE
    WHERE c.ts + INTERVAL 31 MINUTE <= h.w
    ORDER BY click_id, purchase_id NULLS FIRST
    """,
    ("streaming", "join"),
)
def x40_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream left outer interval join: clicks without a purchase within 30 min
    emit with a null right side. Both sides keep only clicks inside the emitted watermark horizon,
    so the bounded run equals the batch outer join."""
    # the final watermark of the bounded run, computed batch-side: the
    # stream only emits unmatched clicks whose 30-min join window fully
    # expired before it (1-min margin keeps eviction boundary semantics
    # out of the compare)
    t = _t(spark, sf_dir)
    ev_b = t["events"]
    horizon = (
        ev_b.agg(
            (
                F.least(
                    F.max(
                        F.when(
                            (F.col("event_type") == "click") & (F.col("user_id") % 5 == 0),
                            F.col("ts"),
                        )
                    ),
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                )
                - F.expr("INTERVAL 2 HOURS")
            ).alias("w")
        ).collect()[0]["w"]
    )
    ev = stream_ops._events_stream(spark, sf_dir)
    # NOTE: the stream itself must NOT be pre-filtered to the horizon —
    # the click-side watermark derives from the stream's own max event
    # time, so a ts filter lowers the watermark by the same amount and
    # the eviction horizon chases the filter (measured: exactly the
    # tail rows stay withheld). The horizon is applied to the
    # MATERIALIZED output instead.
    clicks = (
        ev.filter((F.col("event_type") == "click") & (F.col("user_id") % 5 == 0))
        .select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = _watermarked_purchases(ev)
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        "click_id", "purchase_id", "user_id", "click_ts", F.round("value", 2).alias("purchase_value")
    )
    out = stream_ops.run_stream_to_table(joined, "stream_outer_join_out", output_mode="append")
    return (
        out.filter(F.col("click_ts") + F.expr("INTERVAL 31 MINUTES") <= F.lit(horizon))
        .select("click_id", "purchase_id", "user_id", "purchase_value")
        .orderBy("click_id", F.col("purchase_id").asc_nulls_first())
    )


@query(
    "x41_pq_adc_recall",
    None,  # iterative per-subspace k-means: float means are not bit-portable
    ("similarity",),
)
def x41_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: hash-sampled codebooks, m=4 one-byte codes, lookup-table ADC
    shortlist, exact re-rank, recall vs exact euclidean ground truth. Rows-only by design (float
    training); ivfpq_recall_det is the value-oracled form."""
    from pyspark.sql.window import Window as W

    from .operators.sampling import deterministic_sample
    from .session import track_cache

    t = _t(spark, sf_dir)
    emb = track_cache(t["embeddings"].select("vec_id", "embedding"))
    train = deterministic_sample(emb, "vec_id", 0.2, salt="pq-train")
    # iters=1 per subspace: codebook movement after the first Lloyd
    # step doesn't change what the query demonstrates (PQ prune +
    # re-rank recall), and every extra iteration is m more jobs
    books = sim_ops.pq_fit(train, m=4, k=16, iters=1)
    codes = sim_ops.pq_encode(emb, books).select("vec_id", "codes")

    qbase = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # ADC prunes the corpus to a 10x shortlist; only the shortlist pays
    # full-precision distance math (re-rank) — the scan stays
    # lookup-only, which is the whole point of PQ at 10^9 vectors
    shortlist = sim_ops.pq_adc_topk(
        qbase, codes.filter(F.col("vec_id") >= 5), books, k=100
    ).select("q_id", "vec_id")
    rr_w = W.partitionBy("q_id").orderBy(F.col("d2"), F.col("vec_id"))
    approx = (
        shortlist.join(emb, "vec_id")
        .join(F.broadcast(qbase), "q_id")
        .select(
            "q_id", "vec_id", sim_ops._l2sq(F.col("q_vec"), F.col("embedding")).alias("d2")
        )
        .withColumn("rnk", F.row_number().over(rr_w))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id")
    )

    # exact euclidean ground truth off the same cached corpus
    scored = (
        emb.filter(F.col("vec_id") >= 5)
        .join(F.broadcast(qbase))
        .select(
            "q_id",
            "vec_id",
            sim_ops._l2sq(F.col("q_vec"), F.col("embedding")).alias("d2"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("d2"), F.col("vec_id"))
    truth = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id")
    )
    hits = truth.join(approx, ["q_id", "vec_id"])
    return (
        truth.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .join(hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_found")), "q_id", "left")
        .select(
            "q_id",
            "n_true",
            F.coalesce(F.col("n_found"), F.lit(0)).alias("n_found"),
            F.round(F.coalesce(F.col("n_found"), F.lit(0)) / F.col("n_true"), 2).alias(
                "recall_at_10"
            ),
        )
        .orderBy("q_id")
    )


@query(
    "x42_segment_bitmask",
    """
    WITH m AS (
        SELECT user_id,
               bit_or(CASE event_type
                      WHEN 'click' THEN 1 WHEN 'view' THEN 2 WHEN 'purchase' THEN 4
                      WHEN 'error' THEN 8 WHEN 'signup' THEN 16 ELSE 32 END) AS mask
        FROM events
        GROUP BY user_id
    )
    SELECT mask,
           count(*) AS n_users,
           (mask & 4 != 0) AS has_purchase,
           CAST(min(user_id) AS BIGINT) AS min_user
    FROM m
    GROUP BY mask
    ORDER BY mask
    """,
    ("events", "aggregation", "bitwise"),
)
def x42_segment_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap segmentation: per-user behavior bitmask via bit_or aggregation (one bit per event
    type), then segment distribution with bitwise predicates — the roaring-bitmap-style audience
    pattern in two map-side-combinable aggregations."""
    t = _t(spark, sf_dir)
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "error", 8)
        .when(F.col("event_type") == "signup", 16)
        .otherwise(32)
    )
    m = (
        t["events"]
        .select("user_id", bit.alias("b"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(b)").alias("mask"))
    )
    return (
        m.groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n_users"), F.min("user_id").alias("min_user"))
        .select(
            "mask",
            "n_users",
            (F.col("mask").bitwiseAND(4) != 0).alias("has_purchase"),
            "min_user",
        )
        .orderBy("mask")
    )


@query(
    "xdt_data_mixture",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
               (('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT % 1000000) / 1e6 AS u
        FROM documents
    ),
    totals AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens FROM toks GROUP BY lang),
    corpus AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS all_tokens FROM totals),
    rates AS (
        SELECT t.lang, t.lang_tokens,
               least(1.0, (CASE t.lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2
                           WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.15 ELSE 0.1 END)
                          * c.all_tokens * 0.5 / t.lang_tokens) AS rate
        FROM totals t CROSS JOIN corpus c
    )
    SELECT k.lang,
           r.lang_tokens,
           round(r.rate, 6) AS rate,
           count(*) AS n_kept,
           CAST(sum(k.n_tokens) AS BIGINT) AS kept_tokens
    FROM toks k
    JOIN rates r ON r.lang = k.lang
    WHERE k.u < r.rate
    GROUP BY k.lang, r.lang_tokens, r.rate
    ORDER BY k.lang
    """,
    ("sampling", "text", "pipeline"),
)
def xdt_data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM data mixing: per-language sampling rates that hit target language proportions within a
    50% token budget, applied by hash-decided downsampling. The rate table is a broadcast
    aggregate; the keep decision is a projection."""
    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")).alias(
            "n_tokens"
        ),
        (
            (dedup_ops.portable_hash(F.col("doc_id").cast("string"), F.lit("mix")) % 1000000)
            / 1e6
        ).alias("u"),
    )
    totals = toks.groupBy("lang").agg(F.sum("n_tokens").cast("long").alias("lang_tokens"))
    corpus = totals.agg(F.sum("lang_tokens").cast("long").alias("all_tokens"))
    weight = (
        F.when(F.col("lang") == "en", 0.4)
        .when(F.col("lang") == "zh", 0.2)
        .when(F.col("lang") == "de", 0.15)
        .when(F.col("lang") == "fr", 0.15)
        .otherwise(0.1)
    )
    rates = totals.join(F.broadcast(corpus)).select(
        "lang",
        "lang_tokens",
        F.least(
            F.lit(1.0), weight * F.col("all_tokens") * 0.5 / F.col("lang_tokens")
        ).alias("rate"),
    )
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(F.col("u") < F.col("rate"))
        .groupBy("lang", "lang_tokens", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("kept_tokens"),
        )
        .select(
            "lang",
            "lang_tokens",
            F.round("rate", 6).alias("rate"),
            "n_kept",
            "kept_tokens",
        )
        .orderBy("lang")
    )


@query(
    "x44_hll_mergeable_sketches",
    None,  # datasketches HLL binary images are engine-specific
    ("aggregation", "sketch", "timeseries"),
)
def x44_hll_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL: per-(day, event_type) sketches merged into weekly distinct-user estimates
    without rescanning events, checked in-query against the exact count and an error bound.
    Rows-only by design (engine-specific sketch binaries)."""
    t = _t(spark, sf_dir)
    ev = t["events"].select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        "user_id",
    )
    # pass 1 (the only scan): daily sketch table — this is what a real
    # pipeline would PERSIST and maintain incrementally
    daily = ev.groupBy("week", "day", "event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    # weekly rollup: union of daily sketch STATES, no second scan
    weekly = daily.groupBy("week", "event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_distinct"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("exact_daily").alias("sum_daily_exact"),
    )
    exact = ev.groupBy("week", "event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        weekly.join(exact, ["week", "event_type"])
        .select(
            "week",
            "event_type",
            "n_days",
            "exact_distinct",
            F.col("est_distinct").cast("long").alias("est_distinct"),
            # sketches must beat naive daily-sum double counting AND
            # land within HLL's error envelope
            (
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            ).alias("within_5pct"),
            (F.col("sum_daily_exact") >= F.col("exact_distinct")).alias(
                "naive_sum_overcounts"
            ),
        )
        .orderBy("week", "event_type")
    )


@query(
    "x45_heavy_hitters",
    None,  # freqItems candidate sets are sketch-dependent (over-approximate)
    ("text", "sketch", "aggregation"),
)
def x45_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters at 1% support via df.stat.freqItems (Misra-Gries family), checked in-query:
    every true >=1% word must be in the candidate set. Rows-only by design (the superset is
    sketch-dependent)."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    words = track_cache(
        t["documents"]
        .select(F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    support = 0.01
    cand_row = words.stat.freqItems(["w"], support).collect()[0]
    candidates = set(cand_row["w_freqItems"])
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    total = words.count()
    thresh = int(total * support)
    return (
        exact.filter(F.col("n") >= thresh)
        .select(
            F.col("w").alias("word"),
            "n",
            (F.expr(f"n * 1000000 div {total}") / 1e6).alias("freq"),
            F.col("w").isin(*candidates).alias("in_candidates"),
        )
        .orderBy(F.col("n").desc(), "word")
    )


@query(
    "dedup_apply",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id) AS cluster_id,
           (coalesce(l.cluster_id, d.doc_id) = d.doc_id) AS kept
    FROM documents d LEFT JOIN labels l ON l.u = d.doc_id
    ORDER BY d.doc_id
    """,
    ("dedup", "graph", "pipeline"),
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup application: MinHash+LSH pairs, connected-component clusters, and a keep/drop decision
    for every document (min-id representative kept, singletons keep themselves). The oracle replays
    clustering as a recursive transitive closure."""
    from .operators.graph import connected_components

    t = _t(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_ops.minhash_near_dup(
        docs, shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed("vertex", "doc_id")
    cluster = F.coalesce(F.col("component"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("doc_id")).alias("kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "x50_gopher_rules",
    """
    WITH feat AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_words,
               len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS n_distinct,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> list_contains(['the','a','of','and','in','to','is'], lower(x)))) AS n_stop,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
               length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
        FROM documents
    ),
    flags AS (
        SELECT doc_id, lang, n_words,
               (n_words >= 5 AND n_words <= 5000) AS ok_word_count,
               (n_nonspace >= n_words * 2 AND n_nonspace <= n_words * 12) AS ok_mean_word_len,
               (n_stop >= 2) AS ok_stopwords,
               (n_punct * 10 <= n_chars * 3) AS ok_symbol_ratio,
               (n_digit * 5 <= n_chars) AS ok_digit_ratio,
               (n_distinct * 10 >= n_words * 3) AS ok_repetition
        FROM feat
    )
    SELECT doc_id, lang, n_words,
           ok_word_count, ok_mean_word_len, ok_stopwords,
           ok_symbol_ratio, ok_digit_ratio, ok_repetition,
           -- coalesce: DuckDB's array_to_string of an all-NULL-filtered
           -- (empty) list is NULL, Spark's array_join is ''
           coalesce(array_to_string(list_filter([
               CASE WHEN NOT ok_word_count THEN 'word_count' END,
               CASE WHEN NOT ok_mean_word_len THEN 'mean_word_len' END,
               CASE WHEN NOT ok_stopwords THEN 'stopwords' END,
               CASE WHEN NOT ok_symbol_ratio THEN 'symbol_ratio' END,
               CASE WHEN NOT ok_digit_ratio THEN 'digit_ratio' END,
               CASE WHEN NOT ok_repetition THEN 'repetition' END
           ], x -> x IS NOT NULL), ','), '') AS reasons,
           (ok_word_count AND ok_mean_word_len AND ok_stopwords
            AND ok_symbol_ratio AND ok_digit_ratio AND ok_repetition) AS passes
    FROM flags
    ORDER BY doc_id
    """,
    ("text", "quality", "pipeline"),
)
def x50_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality filter: per-document pass/fail per rule + failed-rule
    audit trail, every threshold an integer cross-multiplication (no float ratio can flip
    membership on an engine rounding ulp); pure codegen projections, scan-speed."""
    t = _t(spark, sf_dir)
    out = text_ops.gopher_rules(t["documents"])
    return out.select(
        "doc_id",
        "lang",
        "n_words",
        *[F.col(f"ok_{n}") for n in text_ops.GOPHER_RULES],
        "reasons",
        "passes",
    ).orderBy("doc_id")


@query(
    "x51_semantic_dedup_apply",
    f"""
    WITH RECURSIVE {_COSINE_SQL},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM normed a JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_pair_sim_sql()} >= 0.45
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u)
    SELECT e.vec_id,
           coalesce(l.cluster_id, e.vec_id) AS cluster_id,
           (coalesce(l.cluster_id, e.vec_id) = e.vec_id) AS kept
    FROM embeddings e LEFT JOIN labels l ON l.u = e.vec_id
    ORDER BY e.vec_id
    """,
    ("similarity", "dedup", "graph", "pipeline"),
)
def x51_semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup): cell-bucketed embedding-cosine near-dup pairs, connected
    components, per-vector keep/drop with the min-id representative kept. The oracle replays
    clustering as a recursive transitive closure."""
    from .operators.graph import connected_components

    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    pairs = sim_ops.embedding_near_dup_pairs_bucketed(emb, threshold=0.45)
    cc = connected_components(pairs, "id_a", "id_b").withColumnRenamed("vertex", "vec_id")
    cluster = F.coalesce(F.col("component"), F.col("vec_id"))
    return (
        emb.select("vec_id")
        .join(cc, "vec_id", "left")
        .select(
            "vec_id",
            cluster.alias("cluster_id"),
            (cluster == F.col("vec_id")).alias("kept"),
        )
        .orderBy("vec_id")
    )


@query(
    "x52_skyline_frontier",
    """
    WITH g AS (
        SELECT p_size AS sz, min(p_retailprice) AS pr
        FROM part GROUP BY p_size
    ),
    r AS (
        SELECT sz, pr,
               min(pr) OVER (ORDER BY sz DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevbest
        FROM g
    ),
    sky AS (SELECT sz, pr FROM r WHERE prevbest IS NULL OR pr < prevbest)
    SELECT s.sz AS p_size, s.pr AS best_price,
           count(*) AS n_parts, min(p.p_partkey) AS min_partkey
    FROM sky s JOIN part p ON p.p_size = s.sz AND p.p_retailprice = s.pr
    GROUP BY s.sz, s.pr
    ORDER BY p_size
    """,
    ("window", "aggregation", "analytics"),
)
def x52_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (max p_size, min p_retailprice) by grid reduction: a per-size min, one window over
    the distinct-size table and a broadcast join back, instead of an all-pairs NOT EXISTS."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    part = t["part"]
    g = part.groupBy(F.col("p_size").alias("sz")).agg(F.min("p_retailprice").alias("pr"))
    # window over the distinct-size table only (bounded by the dimension
    # domain, 50 rows here) — the single-partition sort is deliberate
    # and size-independent of the corpus
    w = W.orderBy(F.col("sz").desc()).rowsBetween(W.unboundedPreceding, -1)
    sky = (
        g.withColumn("prevbest", F.min("pr").over(w))
        .filter(F.col("prevbest").isNull() | (F.col("pr") < F.col("prevbest")))
        .select("sz", "pr")
    )
    return (
        part.join(
            F.broadcast(sky),
            (part["p_size"] == sky["sz"]) & (part["p_retailprice"] == sky["pr"]),
        )
        .groupBy("sz", "pr")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.min("p_partkey").alias("min_partkey"))
        .select(
            F.col("sz").alias("p_size"),
            F.col("pr").alias("best_price"),
            "n_parts",
            "min_partkey",
        )
        .orderBy("p_size")
    )


@query(
    "x53_corpus_freq_score",
    """
    WITH words AS (
        SELECT doc_id, unnest(list_filter(
            regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) AS w
        FROM documents
    ),
    vocab AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    n AS (SELECT sum(c) AS total FROM vocab),
    scored AS (
        SELECT words.doc_id, count(*) AS n_words,
               CAST(sum(v.c) AS BIGINT) AS sum_freq
        FROM words JOIN vocab v USING (w)
        GROUP BY words.doc_id
    )
    SELECT doc_id, n_words,
           -- integer quantization: sum_freq/(n_words*total) is an exact
           -- rational; *1e6 with integer floor-div is bit-identical on
           -- both engines (no float before the final /1e6 display cast)
           CAST(sum_freq * 1000000 // (n_words * (SELECT total FROM n)) AS BIGINT) / 1e6
               AS mean_corpus_freq
    FROM scored
    ORDER BY doc_id
    """,
    ("text", "quality", "pipeline"),
)
def x53_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: each document's mean corpus frequency of its words, from one
    vocab aggregation and one word-keyed join. Exact: the score is an integer-quantized
    rational."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    words = track_cache(
        t["documents"]
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    vocab = track_cache(words.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    # corpus total rides in-plan as a broadcast one-row aggregate (the
    # r7 scalar-fold pattern — the r13 verdict's last watch item): no
    # driver round-trip, one fewer job per run
    total = vocab.agg(F.sum("c").cast("long").alias("__total"))
    return (
        words.join(vocab, "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_words"), F.sum("c").alias("sum_freq"))
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "n_words",
            # sum_freq * 1e6 nears the int64 range at petabyte scale; use DECIMAL(38,0) products
            # there.
            (F.expr("sum_freq * 1000000 div (n_words * __total)") / 1e6).alias(
                "mean_corpus_freq"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "x54_chunk_overlap",
    """
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, greatest(len(w) - 16, 1), 48)) AS start,
               w
        FROM words
    )
    SELECT doc_id,
           CAST(start // 48 AS BIGINT) AS chunk_idx,
           least(64, len(w) - start) AS n_tokens,
           md5(array_to_string(w[start + 1 : start + 64], ' ')) AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    ("text", "pipeline"),
)
def x54_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 64-token chunks with 16-token overlap (stride 48) emitted as (doc, chunk_idx, md5) by
    a map-side explode of start offsets. No shuffle beyond the presentation sort."""
    t = _t(spark, sf_dir)
    C, O, stride = 64, 16, 48
    words = t["documents"].select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias("w"),
    )
    n = F.size("w")
    # same start set as DuckDB range(0, greatest(n-O, 1), stride):
    # sequence's stop is inclusive, so stop at greatest(n-O-1, 0)
    starts = F.sequence(F.lit(0), F.greatest(n - O - 1, F.lit(0)), F.lit(stride))
    return (
        words.select("doc_id", "w", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / stride).cast("long").alias("chunk_idx"),
            F.least(F.lit(C), F.size("w") - F.col("start")).alias("n_tokens"),
            F.md5(F.array_join(F.slice("w", F.col("start") + 1, C), " ")).alias(
                "chunk_hash"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "x55_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM firsts f JOIN active a USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, week_offset
    """,
    ("events", "aggregation", "analytics"),
)
def x55_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: first-activity week per user, distinct active weeks, (cohort, week
    offset) user counts. Exact: day diffs between week-truncated timestamps are multiples of 7."""
    t = _t(spark, sf_dir)
    ev = t["events"]
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    return (
        firsts.join(active, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "x56_fuzzy_match_blocked",
    """
    WITH named AS (
        SELECT p_partkey, split_part(p_name, ' ', 1) AS block,
               split_part(p_name, ' ', 2) AS noun
        FROM part
    ),
    d AS (
        SELECT block, noun, min(p_partkey) AS rep_id, count(*) AS n
        FROM named GROUP BY block, noun
    )
    SELECT a.block AS block, a.noun AS noun_a, b.noun AS noun_b,
           levenshtein(a.noun, b.noun) AS dist,
           a.n AS n_a, b.n AS n_b
    FROM d a JOIN d b ON a.block = b.block AND a.noun < b.noun
    WHERE levenshtein(a.noun, b.noun) <= 2
    ORDER BY 1, 2, 3
    """,
    ("join", "dedup", "text"),
)
def x56_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: block on the first name token, then levenshtein <= 2 only within
    blocks of the distinct-name table. Integer-exact on both engines."""
    t = _t(spark, sf_dir)
    named = t["part"].select(
        "p_partkey",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("block"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    d = named.groupBy("block", "noun").agg(
        F.min("p_partkey").alias("rep_id"), F.count(F.lit(1)).alias("n")
    )
    a = d.alias("a")
    b = d.alias("b")
    dist = F.levenshtein(F.col("a.noun"), F.col("b.noun"))
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.noun") < F.col("b.noun")))
        .filter(dist <= 2)
        .select(
            F.col("a.block").alias("block"),
            F.col("a.noun").alias("noun_a"),
            F.col("b.noun").alias("noun_b"),
            dist.alias("dist"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .orderBy("block", "noun_a", "noun_b")
    )


@query(
    "x57_shingle_containment",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    sizes AS (SELECT doc, count(*) n FROM sh GROUP BY doc),
    inter AS (
        SELECT p.doc_a, p.doc_b, count(*) c
        FROM cand p
        JOIN sh x ON x.doc = p.doc_a
        JOIN sh y ON y.doc = p.doc_b AND y.shingle = x.shingle
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.c * 1000000 // sa.n AS BIGINT) / 1e6 AS contain_a_in_b,
           CAST(i.c * 1000000 // sb.n AS BIGINT) / 1e6 AS contain_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc = i.doc_a
    JOIN sizes sb ON sb.doc = i.doc_b
    WHERE i.c * 10 >= sa.n * 9 OR i.c * 10 >= sb.n * 9
    ORDER BY doc_a, doc_b
    """,
    ("dedup", "text"),
)
def x57_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment |A∩B|/|A| >= 90% over LSH-band candidates, catching a document embedded
    in a larger one. Integer cross-multiplied threshold and integer-quantized scores."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    docs = t["documents"]
    sh = track_cache(dedup_ops.hashed_shingles(docs, "text", "doc_id", 3))
    # Bands cached: the candidate self-join reads both sides.
    sig = dedup_ops.minhash_signatures(sh, num_hashes=16)
    bands = track_cache(dedup_ops.lsh_bands(sig, rows_per_band=2))
    cand = dedup_ops.lsh_candidate_pairs(bands)
    # intersection + sizes in one array-verify pass (dedup.pair_
    # intersections): two doc-keyed joins, no per-candidate explosion
    inter = dedup_ops.pair_intersections(sh, cand).withColumnRenamed("n_common", "c")
    return (
        inter.filter(
            (F.col("c") * 10 >= F.col("n_a") * 9) | (F.col("c") * 10 >= F.col("n_b") * 9)
        )
        .select(
            "doc_a",
            "doc_b",
            (F.expr("c * 1000000 div n_a") / 1e6).alias("contain_a_in_b"),
            (F.expr("c * 1000000 div n_b") / 1e6).alias("contain_b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "x58_split_leakage",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    assigned AS (
        SELECT doc_id,
               CASE WHEN bkt < 100000 THEN 'test'
                    WHEN bkt < 900000 THEN 'train'
                    ELSE 'val' END AS split
        FROM (
            SELECT doc_id,
                   ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 1000000 AS bkt
            FROM documents
        )
    )
    SELECT p.doc_a, p.doc_b, a1.split AS split_a, a2.split AS split_b
    FROM pairs p
    JOIN assigned a1 ON a1.doc_id = p.doc_a
    JOIN assigned a2 ON a2.doc_id = p.doc_b
    WHERE a1.split <> a2.split
    ORDER BY p.doc_a, p.doc_b
    """,
    ("dedup", "sampling", "pipeline"),
)
def x58_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split leakage: near-dup pairs (MinHash+LSH, Jaccard >= 0.8) whose two docs land in different
    hash-decided splits, via two small joins against the split assignment."""
    from .operators.sampling import split_assign

    t = _t(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_ops.minhash_near_dup(
        docs, shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    ).select("doc_a", "doc_b")
    assigned = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split"
    )
    a1 = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    a2 = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(a1, "doc_a")
        .join(a2, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "x59_event_pattern_negation",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c
    JOIN events p ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE NOT EXISTS (
        SELECT 1 FROM events e
        WHERE e.event_type = 'error' AND e.user_id = c.user_id
          AND e.ts > c.ts AND e.ts < p.ts
    )
    ORDER BY click_id, purchase_id
    """,
    ("events", "join", "analytics"),
)
def x59_event_pattern_negation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pattern with negation: a click followed by a purchase within 1h for the same user with
    no error in between. Interval join for the positive legs, left-anti range join for the negative
    one."""
    t = _t(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    matched = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    clean = matched.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") > F.col("c_ts"))
        & (F.col("e_ts") < F.col("p_ts")),
        "left_anti",
    )
    return clean.select("click_id", "purchase_id", "user_id").orderBy(
        "click_id", "purchase_id"
    )


@query(
    "x60_dup_span_detect",
    r"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(text, '\s+') w FROM documents),
    spans AS (
        SELECT doc_id, ('0x' || substr(md5('0:' || s), 1, 15))::BIGINT AS span_h
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(len(w) - 7),
                          i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4],
                                         w[i+5], w[i+6], w[i+7], w[i+8]))) AS s
            FROM words WHERE len(w) >= 8)
    ),
    dup AS (SELECT span_h FROM spans GROUP BY span_h HAVING count(DISTINCT doc_id) >= 2),
    per AS (
        SELECT s.doc_id, count(*) AS n_spans, count(d.span_h) AS n_dup
        FROM spans s LEFT JOIN dup d ON d.span_h = s.span_h
        GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(p.n_dup, 0) * 1000000 // greatest(coalesce(p.n_spans, 0), 1) AS BIGINT) / 1e6 AS dup_frac,
           (coalesce(p.n_dup, 0) * 10 >= coalesce(p.n_spans, 0) * 3
            AND coalesce(p.n_spans, 0) > 0) AS flagged
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    ("dedup", "text"),
)
def x60_dup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection (Lee et al. 2022): 8-word windows hashed map-side; a span is
    duplicated when >= 2 docs hold it. Per-doc duplicated fraction and an integer cross-multiplied
    flag, in O(tokens)."""
    t = _t(spark, sf_dir)
    return dedup_ops.dup_span_stats(
        t["documents"], span_words=8, dup_num=3, dup_den=10
    ).orderBy("doc_id")


@query(
    "x61_dedup_incremental",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_bands_sql()},
    mem AS (
        SELECT doc_id AS doc,
               ('0x' || substr(md5('inc:' || doc_id), 1, 15))::BIGINT % 1000000 < 800000 AS in_corpus
        FROM documents
    ),
    cand AS (
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
        FROM bands a
        JOIN mem ma ON ma.doc = a.doc AND NOT ma.in_corpus
        JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
        JOIN mem mb ON mb.doc = b.doc AND mb.in_corpus
    ),
    {_JACCARD_CTES},
    ver AS (
        SELECT i.doc_a, i.doc_b, round(i.c / (sa.n + sb.n - i.c), 6) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    )
    SELECT doc_a AS doc_id, min(doc_b) AS dup_of,
           count(*) AS n_matches, max(j) AS best_jaccard
    FROM ver GROUP BY doc_a ORDER BY doc_id
    """,
    ("dedup", "pipeline"),
)
def x61_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a hash-chosen 20% incoming batch probes the 80% corpus band index,
    exact-Jaccard verified, with the min corpus id as the dup target. Corpus pairs are never
    re-checked."""
    t = _t(spark, sf_dir)
    docs = t["documents"]
    incoming = (
        F.pmod(dedup_ops.portable_hash(F.col("doc_id"), F.lit("inc")), F.lit(1_000_000))
        >= 800_000
    )
    return dedup_ops.incremental_near_dup(docs, incoming, threshold=0.8).orderBy("doc_id")


@query(
    "x62_stratified_sample_exact",
    """
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('fix:' || doc_id), 1, 15))::BIGINT % 1000000,
                            doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= 20 ORDER BY lang, rk
    """,
    ("sampling", "pipeline"),
)
def x62_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size stratified sample: min(n, 20) docs per language chosen by hash-ordered
    row_number. Deterministic across engines, retries and partitionings; one window per stratum."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    h = F.pmod(dedup_ops.portable_hash(F.col("doc_id"), F.lit("fix")), F.lit(1_000_000))
    rk = F.row_number().over(W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc()))
    return (
        t["documents"]
        .select("doc_id", "lang", rk.alias("rk"))
        .filter(F.col("rk") <= 20)
        .orderBy("lang", "rk")
    )


@query(
    "x63_bm25_topk",
    r"""
    WITH dl AS (SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS dl FROM documents),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
        WHERE word IN ('spark', 'window', 'join')
        GROUP BY doc_id, word
    ),
    dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY word),
    per_term AS (
        SELECT t.doc_id, t.word,
               ln(1 + (st.n_docs - d.dft + 0.5) / (d.dft + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl * st.n_docs / st.sum_dl))) AS s
        FROM tf t
        JOIN dfq d ON d.word = t.word
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN st
    ),
    pivoted AS (
        SELECT doc_id,
               coalesce(max(CASE WHEN word = 'join' THEN s END), 0) AS s_join,
               coalesce(max(CASE WHEN word = 'spark' THEN s END), 0) AS s_spark,
               coalesce(max(CASE WHEN word = 'window' THEN s END), 0) AS s_window
        FROM per_term GROUP BY doc_id
    ),
    scored AS (
        SELECT doc_id, round(s_join + s_spark + s_window, 6) AS score
        FROM pivoted
    )
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rk
    FROM scored
    QUALIFY rk <= 10
    ORDER BY rk
    """,
    ("text", "search"),
)
def x63_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top 10 for three query terms. Exact: avgdl comes from integer sums,
    per-term scores add in a fixed column order, and ranking uses the 6dp-rounded score."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    docs = t["documents"]
    terms = ["spark", "window", "join"]
    dl = docs.select("doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word").isin(terms))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dft"))
    per_term = (
        tf.join(F.broadcast(dfq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            "word",
            (
                F.log(F.lit(1) + (F.col("n_docs") - F.col("dft") + 0.5) / (F.col("dft") + 0.5))
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * (F.col("dl") * F.col("n_docs") / F.col("sum_dl")))
                )
            ).alias("s"),
        )
    )
    pivoted = per_term.groupBy("doc_id").agg(
        *[
            F.coalesce(F.max(F.when(F.col("word") == w, F.col("s"))), F.lit(0.0)).alias(
                f"s_{w}"
            )
            for w in ("join", "spark", "window")
        ]
    )
    scored = pivoted.select(
        "doc_id",
        F.round(F.col("s_join") + F.col("s_spark") + F.col("s_window"), 6).alias("score"),
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition heaps, no
    # global sort), then rank the 10 surviving rows: the unpartitioned
    # row_number window only ever sees k rows, not the corpus
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(10)
    rk = F.row_number().over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return top.select("doc_id", "score", rk.alias("rk")).orderBy("rk")


@query(
    "x64_domain_cap",
    """
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS src_total
        FROM documents
    )
    SELECT source, doc_id, n_chars, rk, src_total
    FROM ranked WHERE rk <= 5 ORDER BY source, rk
    """,
    ("sampling", "pipeline"),
)
def x64_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: the 5 longest docs per source (doc_id tie-break) with the domain's pre-cap
    total. One row_number and one count window over the same source partition."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    p = W.partitionBy("source")
    return (
        t["documents"]
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number()
            .over(p.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
            .alias("rk"),
            F.count(F.lit(1)).over(p).alias("src_total"),
        )
        .filter(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


@query(
    "x65_training_order_shard",
    r"""
    WITH assigned AS (
        SELECT doc_id,
               len(regexp_split_to_array(text, '\s+')) AS n_tok,
               ('0x' || substr(md5('shard:' || doc_id), 1, 15))::BIGINT % 8 AS shard,
               ('0x' || substr(md5('order:' || doc_id), 1, 15))::BIGINT % 1000000 AS ord_h
        FROM documents
    ),
    positioned AS (
        SELECT doc_id, n_tok, shard,
               row_number() OVER (PARTITION BY shard ORDER BY ord_h, doc_id) AS pos
        FROM assigned
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min_by(doc_id, pos) AS first_doc,
           max_by(doc_id, pos) AS last_doc,
           CAST(sum(doc_id * pos) AS BIGINT) AS order_checksum
    FROM positioned
    GROUP BY shard
    ORDER BY shard
    """,
    ("sampling", "pipeline"),
)
def x65_training_order_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order sharding: 8 hash shards, each ordered by a second hash. The
    per-shard checksum sum(doc_id * position) lets the oracle verify the order itself, not just
    membership."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ph = dedup_ops.portable_hash
    assigned = t["documents"].select(
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("n_tok"),
        F.pmod(ph(F.col("doc_id"), F.lit("shard")), F.lit(8)).alias("shard"),
        F.pmod(ph(F.col("doc_id"), F.lit("order")), F.lit(1_000_000)).alias("ord_h"),
    )
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy(F.col("ord_h").asc(), F.col("doc_id").asc())
    )
    return (
        assigned.withColumn("pos", pos)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min_by("doc_id", "pos").alias("first_doc"),
            F.max_by("doc_id", "pos").alias("last_doc"),
            F.sum(F.col("doc_id") * F.col("pos")).alias("order_checksum"),
        )
        .orderBy("shard")
    )


@query(
    "x66_unigram_logprob",
    r"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
        FROM documents
    ),
    vocab AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    -- per-WORD negative log-prob, integer-quantized ONCE at the vocab
    -- level: per-doc sums are then exact integer arithmetic (a float
    -- sum over words would differ by engine summation order)
    nll AS (
        SELECT v.word,
               CAST(floor(ln(t.total / v.cnt) * 1000000) AS BIGINT) AS q
        FROM vocab v CROSS JOIN tot t
    )
    SELECT w.doc_id,
           count(*) AS n_tokens,
           CAST(sum(n.q) AS BIGINT) AS nll_sum_q,
           CAST(sum(n.q) // count(*) AS BIGINT) / 1e6 AS mean_nll,
           sum(n.q) > count(*) * 5000000 AS flagged
    FROM words w JOIN nll n ON n.word = w.word
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
    ("text", "pipeline"),
)
def x66_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-prob quality score: per-word NLL quantized to integer micro-nats once per vocab
    entry, per-doc mean as exact integer sums, flagged when mean NLL > 5 nats by integer
    cross-multiplication."""
    t = _t(spark, sf_dir)
    words = t["documents"].select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    nll = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.floor(F.log(F.col("total") / F.col("cnt")) * 1_000_000)
            .cast("long")
            .alias("q"),
        )
    )
    return (
        words.join(F.broadcast(nll), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("q").alias("nll_sum_q"),
            F.expr("CAST(sum(q) div count(1) AS BIGINT)").alias("__m"),
            (F.sum("q") > F.count(F.lit(1)) * 5_000_000).alias("flagged"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_sum_q",
            (F.col("__m") / 1e6).alias("mean_nll"),
            "flagged",
        )
        .orderBy("doc_id")
    )


@query(
    "x67_mad_outliers",
    """
    WITH pv AS (
        SELECT user_id, value FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    med AS (SELECT user_id, round(median(value), 4) AS med FROM pv GROUP BY user_id),
    dev AS (
        SELECT p.user_id, m.med, abs(p.value - m.med) AS dev
        FROM pv p JOIN med m USING (user_id)
    ),
    mad AS (SELECT user_id, round(median(dev), 4) AS mad FROM dev GROUP BY user_id)
    SELECT d.user_id, count(*) AS n, min(d.med) AS med, min(a.mad) AS mad,
           CAST(sum(CASE WHEN d.dev > 5.1891 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad a USING (user_id)
    GROUP BY d.user_id ORDER BY d.user_id
    """,
    ("events", "analytics", "quality"),
)
def x67_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MAD outliers: median and MAD from the bounded-state exact quantile operator;
    outlier when |x - median| > 5.1891 * MAD (3.5 sigma). Quantiles are 4dp-rounded at the stage
    seam, so later arithmetic is identical on both engines."""
    from .operators.quantiles import exact_group_quantiles
    from .session import track_cache

    t = _t(spark, sf_dir)
    # NULL values dropped on BOTH sides: the quantile operator emits no
    # row for an all-NULL group, so an unfiltered oracle would keep a
    # user the Spark side drops
    pv = track_cache(
        t["events"]
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select("user_id", "value")
    )
    med = exact_group_quantiles(pv, ["user_id"], "value", [0.5]).select(
        "user_id", F.round(F.col("quantiles")[0], 4).alias("med")
    )
    dev = track_cache(
        pv.join(med, "user_id").select(
            "user_id", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
        )
    )
    mad = exact_group_quantiles(dev, ["user_id"], "dev", [0.5]).select(
        "user_id", F.round(F.col("quantiles")[0], 4).alias("mad")
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("dev") > F.lit(5.1891) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("user_id")
    )


@query(
    "x68_drift_psi",
    """
    WITH pv AS (
        SELECT CAST(least(floor(value / 20), 19) AS BIGINT) AS bin,
               day(ts) <= 15 AS base
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    bins AS (SELECT unnest(range(20)) AS bin),
    agg AS (
        SELECT bin,
               CAST(sum(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN NOT base THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM pv GROUP BY bin
    ),
    counts AS (
        SELECT b.bin, coalesce(a.n_a, 0) AS n_a, coalesce(a.n_b, 0) AS n_b
        FROM bins b LEFT JOIN agg a ON a.bin = b.bin
    ),
    tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM counts),
    terms AS (
        SELECT c.bin, c.n_a, c.n_b,
               CAST(floor(
                   (((c.n_a + 1.0) / (t.ta + 20)) - ((c.n_b + 1.0) / (t.tb + 20)))
                   * ln(((c.n_a + 1.0) * (t.tb + 20)) / ((c.n_b + 1.0) * (t.ta + 20)))
                   * 1000000000
               ) AS BIGINT) AS term_q
        FROM counts c CROSS JOIN tot t
    )
    SELECT bin, n_a, n_b,
           term_q / 1e9 AS psi_term,
           CAST(sum(term_q) OVER () AS BIGINT) / 1e9 AS psi_total
    FROM terms
    ORDER BY bin
    """,
    ("events", "quality", "analytics"),
)
def x68_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of purchase values, days 1-15 vs 16-31, over 20 fixed bins with a
    dense spine. Smoothed proportions are integer rationals and each bin's term is quantized at
    1e-9 before the sum."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    pv = (
        t["events"]
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            F.least(F.floor(F.col("value") / 20), F.lit(19)).cast("long").alias("bin"),
            (F.dayofmonth("ts") <= 15).alias("base"),
        )
    )
    bins = spark.range(20).select(F.col("id").alias("bin"))
    # aggregate BEFORE the spine join: the corpus reduces map-side to
    # <=20 rows per task, so the 20-key shuffle carries partial counts,
    # never raw events (a spine-first left join would funnel each bin's
    # full row stream through one reducer)
    agg = pv.groupBy("bin").agg(
        F.sum(F.when(F.col("base"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("base"), 1).otherwise(0)).alias("n_b"),
    )
    counts = bins.join(agg, "bin", "left").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = counts.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.floor(
            (
                (F.col("n_a") + 1.0) / (F.col("ta") + 20)
                - (F.col("n_b") + 1.0) / (F.col("tb") + 20)
            )
            * F.log(
                ((F.col("n_a") + 1.0) * (F.col("tb") + 20))
                / ((F.col("n_b") + 1.0) * (F.col("ta") + 20))
            )
            * 1_000_000_000
        )
        .cast("long")
        .alias("term_q"),
    )
    return (
        terms.select(
            "bin",
            "n_a",
            "n_b",
            (F.col("term_q") / 1e9).alias("psi_term"),
            (F.sum("term_q").over(W.partitionBy()) / 1e9).alias("psi_total"),
        )
        .orderBy("bin")
    )


def _pagerank_iter_sql(iters: int) -> str:
    """Chained integer-PageRank CTEs pr0..pr{iters} over ``und``/``deg``
    (the loop unrolled — DuckDB replays exactly the per-round integer
    arithmetic of ``graph.pagerank_integer``)."""
    ctes = [
        """nv AS (SELECT count(*) AS n FROM deg),
    pbase AS (SELECT CAST((15 * (1000000000000 // n)) // 100 AS BIGINT) AS b FROM nv),
    pr0 AS (SELECT u, CAST(1000000000000 // n AS BIGINT) AS pr FROM deg CROSS JOIN nv)"""
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""pr{k} AS (
        SELECT e.v AS u, CAST(b.b + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
        FROM und e JOIN pr{k - 1} p ON p.u = e.u JOIN deg d ON d.u = e.u
        CROSS JOIN pbase b
        GROUP BY e.v, b.b
    )"""
        )
    return ",\n    ".join(ctes)


@query(
    "xfo_graph_pagerank",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    und AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
    {_pagerank_iter_sql(5)}
    SELECT u AS doc_id, pr AS pr_q,
           row_number() OVER (ORDER BY pr DESC, u) AS rk
    FROM pr5
    QUALIFY rk <= 20
    ORDER BY rk
    """,
    ("dedup", "graph", "analytics"),
)
def xfo_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank over the near-dup graph: 5 rounds of edge join + sum, all state
    in integer mass units so the result does not depend on aggregation order. The oracle unrolls
    the rounds as CTEs."""
    from pyspark.sql.window import Window as W

    from .operators.graph import pagerank_integer

    t = _t(spark, sf_dir)
    pairs = dedup_ops.minhash_near_dup(
        t["documents"], shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    pr = pagerank_integer(pairs, "doc_a", "doc_b", iters=5)
    top = pr.orderBy(F.col("pr_q").desc(), F.col("vertex").asc()).limit(20)
    rk = F.row_number().over(W.orderBy(F.col("pr_q").desc(), F.col("vertex").asc()))
    return top.select(
        F.col("vertex").alias("doc_id"), "pr_q", rk.alias("rk")
    ).orderBy("rk")


@query(
    "x94_triangle_census",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    e AS (SELECT doc_a AS u, doc_b AS v FROM pairs),
    und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
    s AS (
        SELECT count(*) AS n_nodes,
               CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
               CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e ab JOIN e bc ON bc.u = ab.v JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    )
    SELECT s.n_nodes, s.n_edges, s.n_wedges, tri.n_triangles,
           CASE WHEN s.n_wedges = 0 THEN 0.0
                ELSE CAST(3 * tri.n_triangles * 1000000 // s.n_wedges AS BIGINT) / 1e6
           END AS global_cc
    FROM s, tri
    """,
    ("dedup", "graph", "analytics"),
)
def x94_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph by degree-ordered orientation (compact-forward): node,
    edge, wedge and triangle counts and an integer-quantized global clustering coefficient."""
    from .operators.graph import triangle_stats

    t = _t(spark, sf_dir)
    pairs = dedup_ops.minhash_near_dup(
        t["documents"], shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    return triangle_stats(pairs, "doc_a", "doc_b")


@query(
    "x70_pit_dimension_join",
    """
    WITH p AS (
        SELECT user_id, ts, value, event_id,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type = 'purchase' AND user_id % 20 = 0
    ),
    d AS (SELECT user_id, ts, value FROM p WHERE rn = 1),
    dim AS (
        SELECT user_id, round(value, 2) AS dim_value,
               ts AS valid_from, lead(ts) OVER w AS valid_to
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    clicks AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'click' AND user_id % 20 = 0
    )
    SELECT c.event_id AS click_id, c.user_id, m.dim_value, m.valid_from
    FROM clicks c
    JOIN dim m ON m.user_id = c.user_id
     AND c.ts >= m.valid_from
     AND (m.valid_to IS NULL OR c.ts < m.valid_to)
    ORDER BY click_id
    """,
    ("cdc", "join", "events"),
)
def x70_pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each fact joined to the SCD-2 interval valid at its event time, an
    equi-join on the key with the interval predicate inside co-partitioned rows. Each fact matches
    exactly one interval."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    p = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 20 == 0))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    w = W.partitionBy("user_id").orderBy("ts")
    dim = p.select(
        "user_id",
        F.round("value", 2).alias("dim_value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    clicks = ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") % 20 == 0)
    ).select(F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts"))
    return (
        clicks.join(
            dim,
            (clicks["user_id"] == dim["user_id"])
            & (F.col("c_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("c_ts") < F.col("valid_to"))),
        )
        .select("click_id", clicks["user_id"].alias("user_id"), "dim_value", "valid_from")
        .orderBy("click_id")
    )


@query(
    "x71_percentile_length_gate",
    """
    WITH thr AS (
        SELECT lang, round(quantile_cont(n_chars, 0.10), 4) AS p10
        FROM documents GROUP BY lang
    )
    SELECT d.lang,
           count(*) AS n_total,
           CAST(sum(CASE WHEN d.n_chars > t.p10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           sum(CASE WHEN d.n_chars > t.p10 THEN 1 ELSE 0 END) * 1000000 // count(*) / 1e6 AS kept_frac,
           min(t.p10) AS p10
    FROM documents d JOIN thr t ON t.lang = d.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    ("text", "quality", "pipeline"),
)
def x71_percentile_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop each language's shortest 10% of docs: per-language p10 from the bounded-state exact
    quantile operator, 4dp-rounded at the stage seam and broadcast into the scan, so membership is
    engine-exact."""
    from .operators.quantiles import exact_group_quantiles

    t = _t(spark, sf_dir)
    docs = t["documents"]
    thr = exact_group_quantiles(docs, ["lang"], "n_chars", [0.10]).select(
        "lang", F.round(F.col("quantiles")[0], 4).alias("p10")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("n_chars") > F.col("p10"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            (
                F.expr(
                    "sum(CASE WHEN n_chars > p10 THEN 1 ELSE 0 END) * 1000000 div count(1)"
                )
                / 1e6
            ).alias("kept_frac"),
            F.min("p10").alias("p10"),
        )
        .orderBy("lang")
    )


@query(
    "x72_growth_accounting",
    """
    WITH f AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS first_day
        FROM events GROUP BY user_id
    ),
    d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    daily AS (
        SELECT d.day,
               count(*) AS dau,
               CAST(sum(CASE WHEN f.first_day = d.day THEN 1 ELSE 0 END) AS BIGINT) AS new_users
        FROM d JOIN f USING (user_id)
        GROUP BY d.day
    )
    SELECT day, dau, new_users,
           dau - new_users AS returning_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily ORDER BY day
    """,
    ("events", "analytics"),
)
def x72_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new vs returning, plus cumulative acquired users. Two
    user-keyed aggregations, one join, and a running sum over one row per day."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    f = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("first_day"))
    d = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    daily = (
        d.join(f, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
        )
    )
    return daily.select(
        "day",
        "dau",
        "new_users",
        (F.col("dau") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users")
        # Unpartitioned window, safe at any scale: it runs over one row per day (bounded by the
        # calendar, not the corpus).
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum_users"),
    ).orderBy("day")


@query(
    "x73_ab_test_proportions",
    """
    WITH arms AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END) AS converted
        FROM events
        GROUP BY user_id
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM arms
    )
    , zq AS (
        SELECT *,
               CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
                    ELSE CAST(floor(abs(
                        ((conv_a * 1.0 / n_a) - (conv_b * 1.0 / n_b))
                        / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                               * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                               * (1.0 / n_a + 1.0 / n_b))
                    ) * 1000000) AS BIGINT) END AS z_mag_q,
               CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
                    ELSE CAST(sign((conv_a * 1.0 / n_a) - (conv_b * 1.0 / n_b)) AS BIGINT)
               END AS z_sign
        FROM agg
    )
    SELECT n_a, conv_a, n_b, conv_b,
           conv_a * 1000000 // n_a / 1e6 AS rate_a,
           conv_b * 1000000 // n_b / 1e6 AS rate_b,
           z_sign * z_mag_q / 1e6 AS z,
           z_mag_q > 1960000 AS significant
    FROM zq
    """,
    ("events", "analytics", "sampling"),
)
def x73_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout: hash-decided arms, exact per-arm conversion counts, pooled two-proportion z
    from those integers quantized at 1e-6, and significance as an integer compare against
    1.96e6."""
    t = _t(spark, sf_dir)
    arm = F.when(
        F.pmod(dedup_ops.portable_hash(F.col("user_id"), F.lit("ab")), F.lit(2)) == 0, "A"
    ).otherwise("B")
    arms = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") > 250), 1
                ).otherwise(0)
            ).alias("converted")
        )
        .select(arm.alias("arm"), "converted")
    )
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    p_pool = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z_raw = (
        (F.col("conv_a") * 1.0 / F.col("n_a")) - (F.col("conv_b") * 1.0 / F.col("n_b"))
    ) / F.sqrt(p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    # degenerate pools (all or none converted) have an undefined z;
    # define 0 rather than divide by zero (ANSI mode raises). The
    # MAGNITUDE is quantized (floor(abs(z)*1e6)) with the sign carried
    # separately — flooring the signed value would move negative z
    # away from zero, making the significance cut asymmetric between
    # arms.
    degenerate = (F.col("conv_a") + F.col("conv_b") == 0) | (
        F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")
    )
    z_mag_q = (
        F.when(degenerate, F.lit(0)).otherwise(F.floor(F.abs(z_raw) * 1_000_000)).cast("long")
    )
    z_sign = F.when(degenerate, F.lit(0)).otherwise(F.signum(z_raw)).cast("long")
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        (F.expr("conv_a * 1000000 div n_a") / 1e6).alias("rate_a"),
        (F.expr("conv_b * 1000000 div n_b") / 1e6).alias("rate_b"),
        (z_sign * z_mag_q / 1e6).alias("z"),
        (z_mag_q > 1_960_000).alias("significant"),
    )


@query(
    "x74_mm_phash_near_dup",
    """
    WITH sized AS (
        SELECT doc_id, text, length(text) AS n,
               (length(text) + 59) // 60 AS stride
        FROM documents
        WHERE length(text) > 0
    ),
    samples AS (
        SELECT doc_id, js.j,
               ascii(substr(text, ((js.j * stride) % n) + 1, 1)) AS c
        FROM sized CROSS JOIN (SELECT unnest(range(60)) AS j) js
    ),
    stats AS (SELECT doc_id, sum(c) AS s FROM samples GROUP BY doc_id),
    fps AS (
        SELECT sa.doc_id,
               CAST(sum(CASE WHEN sa.c * 60 > st.s THEN (1::BIGINT << sa.j) ELSE 0 END) AS BIGINT) AS ahash
        FROM samples sa JOIN stats st USING (doc_id)
        GROUP BY sa.doc_id
    ),
    bands AS (
        SELECT doc_id, ahash, bs.b AS band, (ahash >> (bs.b * 15)) & 32767 AS val
        FROM fps CROSS JOIN (SELECT unnest(range(4)) AS b) bs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.ahash AS sa, b2.doc_id AS doc_b, b2.ahash AS sb
        FROM bands a
        JOIN bands b2 ON a.band = b2.band AND a.val = b2.val AND a.doc_id < b2.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INTEGER AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """,
    ("multimodal", "dedup"),
)
def x74_mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup by perceptual hash: a 60-bit aHash per asset in an Arrow-batched
    mapInPandas kernel, then the banded-hamming equi-join of the SimHash path. The oracle replays
    the kernel in SQL."""
    t = _t(spark, sf_dir)
    assets = mm_ops.attach_binary_assets(t["documents"].filter(F.length("text") > 0))
    return (
        mm_ops.ahash_near_dup(assets, "asset", "doc_id", max_hamming=3)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "x75_recursive_hierarchy",
    """
    WITH RECURSIVE nodes AS (SELECT DISTINCT user_id AS u FROM events),
    tree(u, root, depth) AS (
        SELECT u, u, 0 FROM nodes WHERE u < 2
        UNION ALL
        SELECT n.u, t.root, t.depth + 1
        FROM nodes n JOIN tree t ON t.u = n.u // 2
        WHERE n.u >= 2
    )
    SELECT depth, count(*) AS n_nodes, min(u) AS min_id, max(u) AS max_id,
           CAST(sum(u) AS BIGINT) AS sum_ids
    FROM tree GROUP BY depth ORDER BY depth
    """,
    ("sql", "graph"),
)
def x75_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy walk (parent = id div 2) by graph.tree_descend, a checkpointed frontier
    loop bounded by floor(log2(max_id)), with a per-depth rollup and id checksum. The oracle is the
    equivalent WITH RECURSIVE."""
    import math

    from .operators.graph import tree_descend
    from .session import track_cache

    t = _t(spark, sf_dir)
    nodes = track_cache(t["events"].select(F.col("user_id").alias("u")).distinct())
    # parent = u div 2 halves the id every level, so depth(u) <=
    # floor(log2(max_id)) — ONE tiny agg job buys an exact loop bound
    # and deletes every per-round convergence probe
    max_id = nodes.agg(F.max("u")).first()[0]
    rounds = int(math.floor(math.log2(max_id))) if max_id is not None and max_id >= 2 else 0
    tree = tree_descend(
        nodes.filter(F.col("u") >= 2).select("u", F.expr("u div 2").alias("p")),
        nodes.filter(F.col("u") < 2).select("u", F.col("u").alias("root")),
        child="u",
        parent="p",
        node="u",
        max_depth=rounds,
    )
    return (
        tree.groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("u").alias("min_id"),
            F.max("u").alias("max_id"),
            F.sum("u").cast("long").alias("sum_ids"),
        )
        .orderBy("depth")
    )


def _morton_sql(u: str, d: str, shift_op: bool) -> str:
    """16-bit × 16-bit Morton interleave as a sum of bit extracts —
    pure integer ops, identical value on both engines. ``shift_op``
    picks the dialect: DuckDB's ``<<``/``>>`` operators vs Spark SQL's
    ``shiftleft``/``shiftright`` functions."""
    terms = []
    for j in range(16):
        if shift_op:
            terms.append(f"((({u} >> {j}) & 1) << {2 * j + 1})")
            terms.append(f"((({d} >> {j}) & 1) << {2 * j})")
        else:
            terms.append(f"shiftleft(shiftright({u}, {j}) & 1, {2 * j + 1})")
            terms.append(f"shiftleft(shiftright({d}, {j}) & 1, {2 * j})")
    return " + ".join(terms)


@query(
    "x76_zorder_layout",
    f"""
    WITH pts AS (
        SELECT user_id & 65535 AS u, day(ts) AS d
        FROM events
    ),
    coded AS (
        SELECT u, d, ({_morton_sql('u', 'd', True)}) AS morton
        FROM pts
    )
    SELECT morton // 64 AS bucket,
           count(*) AS n,
           min(u) AS min_u, max(u) AS max_u,
           min(d) AS min_d, max(d) AS max_d
    FROM coded
    GROUP BY morton // 64
    ORDER BY bucket
    """,
    ("layout", "events"),
)
def x76_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: interleave the bits of (user_id, day) into one sort key and
    report per-bucket min/max spans, the file-skipping statistics. Pure integer bit arithmetic."""
    t = _t(spark, sf_dir)
    pts = t["events"].select(
        F.col("user_id").bitwiseAND(F.lit(65535)).alias("u"),
        F.dayofmonth("ts").alias("d"),
    )
    coded = pts.select("u", "d", F.expr(_morton_sql("u", "d", False)).alias("morton"))
    return (
        coded.groupBy(F.expr("morton div 64").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("u").alias("min_u"),
            F.max("u").alias("max_u"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
        .orderBy("bucket")
    )


@query(
    "x77_last_touch_attribution",
    """
    WITH touches0 AS (
        SELECT user_id, ts, event_type AS channel, event_id,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type IN ('click', 'view')
    ),
    touches AS (SELECT user_id, ts, channel FROM touches0 WHERE rn = 1),
    attributed AS (
        SELECT p.event_id, p.value,
               coalesce(
                   (SELECT t.channel FROM touches t
                    WHERE t.user_id = p.user_id
                      AND t.ts <= p.ts
                      AND t.ts >= p.ts - INTERVAL 24 HOUR
                    ORDER BY t.ts DESC LIMIT 1),
                   'direct') AS channel
        FROM events p WHERE p.event_type = 'purchase'
    )
    SELECT channel, count(*) AS n_conversions, round(sum(value), 2) AS revenue
    FROM attributed GROUP BY channel ORDER BY channel
    """,
    ("events", "analytics", "asof"),
)
def x77_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's latest click/view within 24h
    ('direct' if none), rolled up per channel, via the as-of union-window operator (one shuffle on
    user_id)."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_type").alias("channel"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    j = asof_ops.asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["channel"],
        direction="backward",
        tolerance_seconds=86400,
    )
    return (
        j.select(F.coalesce("channel_asof", F.lit("direct")).alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("channel")
    )


@query(
    "x78_weighted_sample_topk",
    """
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ('0x' || substr(md5('es:' || doc_id), 1, 15))::BIGINT % 1000000 AS b
        FROM documents
        WHERE n_chars > 0
    ),
    scored AS (
        SELECT doc_id, lang, n_chars,
               CAST(floor(ln((b + 1) / 1000000.0) / n_chars * 1000000000) AS BIGINT) AS key_q
        FROM keyed
    )
    SELECT lang, doc_id, n_chars, key_q,
           row_number() OVER (PARTITION BY lang ORDER BY key_q DESC, doc_id) AS rk
    FROM scored
    QUALIFY rk <= 10
    ORDER BY lang, rk
    """,
    ("sampling", "pipeline"),
)
def x78_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis): key ln(u)/w with u
    hash-decided, top 10 per language by key. Keys are quantized at 1e-9 from identical integer
    inputs."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    b = F.pmod(dedup_ops.portable_hash(F.col("doc_id"), F.lit("es")), F.lit(1_000_000))
    scored = (
        t["documents"]
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.floor(F.log((b + 1) / 1000000.0) / F.col("n_chars") * 1_000_000_000)
            .cast("long")
            .alias("key_q"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.col("key_q").desc(), F.col("doc_id").asc())
    )
    return (
        scored.select("lang", "doc_id", "n_chars", "key_q", rk.alias("rk"))
        .filter(F.col("rk") <= 10)
        .orderBy("lang", "rk")
    )


@query(
    "x79_flow_static_enrich",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_purchases,
           round(sum(p.value), 2) AS revenue
    FROM events p JOIN customer c ON c.c_custkey = p.user_id
    WHERE p.event_type = 'purchase'
    GROUP BY c.c_mktsegment ORDER BY segment
    """,
    ("streaming", "join"),
)
def x79_flow_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream joined to the static customer dimension per
    micro-batch (no join state), then a complete-mode segment rollup equal to the batch result."""
    from .session import load_table

    ev = stream_ops._events_stream(spark, sf_dir)
    clone = stream_ops._stream_session(spark)
    dim = load_table(clone, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )
    out = stream_ops.run_stream_to_table(
        enriched, "stream_static_enrich", output_mode="complete"
    )
    return out.orderBy("segment")


@query(
    "x80_pmi_cooccurrence",
    r"""
    WITH words AS (
        SELECT DISTINCT doc_id, w AS word
        FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        WHERE w <> ''
    ),
    vocab AS (
        SELECT word, count(*) AS c_w,
               row_number() OVER (ORDER BY count(*) DESC, word) AS vrk
        FROM words GROUP BY word
        QUALIFY vrk <= 20
    ),
    inc AS (SELECT w.doc_id, w.word, v.c_w FROM words w JOIN vocab v USING (word)),
    nd AS (SELECT count(*) AS n FROM documents),
    pairs AS (
        SELECT a.word AS word_a, b.word AS word_b,
               min(a.c_w) AS c_a, min(b.c_w) AS c_b, count(*) AS c_ab
        FROM inc a JOIN inc b ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY a.word, b.word
    )
    SELECT word_a, word_b, c_a, c_b, c_ab,
           CAST(floor(ln((c_ab * n * 1.0) / (c_a * c_b)) * 1000000) AS BIGINT) / 1e6 AS pmi,
           row_number() OVER (
               ORDER BY CAST(floor(ln((c_ab * n * 1.0) / (c_a * c_b)) * 1000000) AS BIGINT) DESC,
                        word_a, word_b
           ) AS rk
    FROM pairs CROSS JOIN nd
    QUALIFY rk <= 15
    ORDER BY rk
    """,
    ("text", "analytics"),
)
def x80_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence PMI over the top-20 vocabulary (broadcast, capping pairs per doc at
    C(20,2)): exact doc and pair counts, PMI quantized at 1e-6 from identical integer ratios, top
    15 pairs."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    docs = t["documents"]
    words = (
        docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .dropDuplicates(["doc_id", "word"])
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .withColumn(
            "vrk",
            F.row_number().over(W.orderBy(F.col("c_w").desc(), F.col("word").asc())),
        )
        .filter(F.col("vrk") <= 20)
        .select("word", "c_w")
    )
    inc = words.join(F.broadcast(vocab), "word")
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    a = inc.select("doc_id", F.col("word").alias("word_a"), F.col("c_w").alias("ca"))
    b = inc.select("doc_id", F.col("word").alias("word_b"), F.col("c_w").alias("cb"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("word_a") < F.col("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.min("ca").alias("c_a"), F.min("cb").alias("c_b"), F.count(F.lit(1)).alias("c_ab"))
    )
    pmi_q = F.floor(
        F.log((F.col("c_ab") * F.col("n") * 1.0) / (F.col("c_a") * F.col("c_b"))) * 1_000_000
    ).cast("long")
    scored = pairs.crossJoin(F.broadcast(nd)).select(
        "word_a", "word_b", "c_a", "c_b", "c_ab", pmi_q.alias("__q")
    )
    top = scored.orderBy(F.col("__q").desc(), "word_a", "word_b").limit(15)
    rk = F.row_number().over(W.orderBy(F.col("__q").desc(), "word_a", "word_b"))
    return top.select(
        "word_a", "word_b", "c_a", "c_b", "c_ab", (F.col("__q") / 1e6).alias("pmi"), rk.alias("rk")
    ).orderBy("rk")


@query(
    "x81_conversion_latency",
    """
    WITH clicks AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    conv AS (
        SELECT c.user_id, c.ts AS c_ts,
               (SELECT min(p.ts) FROM events p
                WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                  AND p.ts > c.ts) AS p_ts
        FROM clicks c
    ),
    lat AS (
        -- exact microsecond diff / 1e6 on BOTH engines: date_diff('second')
        -- counts boundary crossings in DuckDB but floor-truncates in Spark
        SELECT user_id % 5 AS cohort,
               date_diff('microsecond', c_ts, p_ts) / 1e6 AS sec
        FROM conv WHERE p_ts IS NOT NULL
    )
    SELECT cohort,
           count(*) AS n_conversions,
           round(median(sec), 4) AS p50_sec,
           round(quantile_cont(sec, 0.90), 4) AS p90_sec
    FROM lat GROUP BY cohort ORDER BY cohort
    """,
    ("events", "analytics", "quality"),
)
def x81_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-next-purchase latency p50/p90 per cohort: as-of union-window lookup (one shuffle on
    user_id) and the bounded-state exact quantile operator, 4dp-rounded at the stage seam."""
    from .operators.quantiles import exact_group_quantiles

    t = _t(spark, sf_dir)
    ev = t["events"]
    # forward as-of via the union-window operator (one shuffle on
    # user_id — never a per-user clicks x purchases product); the
    # strictly-after semantics come from probing at ts + 1 microsecond,
    # since forward as-of includes ties
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("probe_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    ).dropDuplicates(["user_id", "ts"])
    nxt = asof_ops.asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="probe_ts",
        right_ts="ts",
        direction="forward",
    ).filter(F.col("ts_asof").isNotNull())
    from .session import track_cache

    # cached: the as-of subtree feeds BOTH the quantile pass and the
    # count aggregation below
    lat = track_cache(
        nxt.select(
            F.pmod(F.col("user_id"), F.lit(5)).alias("cohort"),
            (F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("ts_asof")) / 1e6).alias("sec"),
        )
    )
    q = exact_group_quantiles(lat, ["cohort"], "sec", [0.5, 0.90])
    n = lat.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_conversions"))
    return (
        n.join(q, "cohort")
        .select(
            "cohort",
            "n_conversions",
            F.round(F.col("quantiles")[0], 4).alias("p50_sec"),
            F.round(F.col("quantiles")[1], 4).alias("p90_sec"),
        )
        .orderBy("cohort")
    )


@query(
    "x82_session_bounce",
    """
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    ),
    per_session AS (
        SELECT user_id, session_id, count(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) / 1e6 AS bounce_rate,
           CAST(max(n_events) AS BIGINT) AS longest_session
    FROM per_session
    """,
    ("events", "analytics"),
)
def x82_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session bounce rate: gaps-and-islands sessionization (30-min gap, event_id tie-break), then
    the single-event-session fraction as an integer-quantized ratio. All windows partitioned by
    user."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = t["events"].select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("__prev")
    )
    new_s = F.when(
        F.col("__prev").isNull()
        | (F.timestamp_diff("MICROSECOND", F.col("__prev"), F.col("ts")) > 1_800_000_000),
        1,
    ).otherwise(0)
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum(new_s)
        .over(
            W.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("session_id"),
    )
    per = sessions.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long").alias("n_bounces"),
        (
            F.expr("sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 div count(1)") / 1e6
        ).alias("bounce_rate"),
        F.max("n_events").alias("longest_session"),
    )


@query(
    "x83_referential_audit",
    """
    SELECT 'lineitem_without_order' AS check_name,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'order_without_customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer_without_nation',
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier_without_nation',
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    ORDER BY check_name
    """,
    ("quality", "join"),
)
def x83_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts per foreign key of the star schema via left-anti
    joins, tagged and unioned into one report."""
    t = _t(spark, sf_dir)

    def orphans(name, left, lk, right, rk):
        return (
            left.join(right.select(F.col(rk).alias(lk)), lk, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(name).alias("check_name"), "n_orphans")
        )

    checks = [
        orphans("lineitem_without_order", t["lineitem"].select("l_orderkey"), "l_orderkey", t["orders"], "o_orderkey"),
        orphans("order_without_customer", t["orders"].select("o_custkey"), "o_custkey", t["customer"], "c_custkey"),
        orphans("customer_without_nation", t["customer"].select("c_nationkey"), "c_nationkey", t["nation"], "n_nationkey"),
        orphans("supplier_without_nation", t["supplier"].select("s_nationkey"), "s_nationkey", t["nation"], "n_nationkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


def _user_click_purchase_counts(t: dict) -> DataFrame:
    """``(user_id, x, y)``: per-user click count ``x`` and purchase
    count ``y`` as BIGINTs."""
    return (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )


@query(
    "x84_metric_correlation",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM per_user
    )
    SELECT n, sx, sy,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN 0
                ELSE CAST(floor(
                    (n * sxy - sx * sy) * 1.0
                    / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
                    * 1000000
                ) AS BIGINT) END / 1e6 AS pearson_r
    FROM s
    """,
    ("events", "analytics"),
)
def x84_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson r between per-user click and purchase counts from exact integer moment sums, one
    double expression, quantized at 1e-6; zero variance gives 0. corr() is not used: its float
    partial states are order-dependent."""
    per_user = _user_click_purchase_counts(_t(spark, sf_dir))
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r_q = F.when((vx == 0) | (vy == 0), F.lit(0)).otherwise(
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1.0
            / F.sqrt(vx * 1.0 * vy)
            * 1_000_000
        )
    ).cast("long")
    return s.select("n", "sx", "sy", (r_q / 1e6).alias("pearson_r"))


@query(
    "x85_journey_paths",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ordered WHERE rn <= 5
        GROUP BY user_id
    )
    SELECT path, count(*) AS n_users,
           row_number() OVER (ORDER BY count(*) DESC, path) AS rk
    FROM paths
    GROUP BY path
    QUALIFY rk <= 10
    ORDER BY rk
    """,
    ("events", "analytics"),
)
def x85_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 most common user journeys (first five events in time order as a path string), from
    one user-partitioned window and a top-k."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ordered = t["events"].select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 5)
    paths = ordered.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("rn", "event_type")))["event_type"],
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    top = counts.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(10)
    rk = F.row_number().over(W.orderBy(F.col("n_users").desc(), F.col("path").asc()))
    return top.select("path", "n_users", rk.alias("rk")).orderBy("rk")


@query(
    "x86_embed_dim_stats",
    """
    WITH vals AS (
        -- CAST to DOUBLE first: DuckDB would otherwise multiply in
        -- single precision (FLOAT * INT -> FLOAT) where Spark promotes
        -- to double, flooring to different integers on some values
        SELECT u.dim - 1 AS dim,
               CAST(floor(CAST(u.v AS DOUBLE) * 1000000) AS BIGINT) AS vq
        FROM (
            SELECT unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        ) u
    )
    SELECT dim,
           count(*) AS n,
           CAST(sum(vq) AS BIGINT) AS sum_q,
           CAST(sum(vq) // count(*) AS BIGINT) / 1e6 AS mean,
           min(vq) / 1e6 AS min_v,
           max(vq) / 1e6 AS max_v
    FROM vals GROUP BY dim ORDER BY dim
    """,
    ("similarity", "quality"),
)
def x86_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding mean/min/max: each component quantized to 1e-6 integers at the
    source, so per-dim sums are exact and order-independent. One posexplode and one aggregation
    over 64 keys."""
    t = _t(spark, sf_dir)
    vals = t["embeddings"].select(
        F.posexplode("embedding").alias("dim", "v")
    ).select("dim", F.floor(F.col("v").cast("double") * 1_000_000).cast("long").alias("vq"))
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vq").alias("sum_q"),
            F.expr("CAST(sum(vq) div count(1) AS BIGINT)").alias("__m"),
            F.min("vq").alias("__mn"),
            F.max("vq").alias("__mx"),
        )
        .select(
            "dim",
            "n",
            "sum_q",
            (F.col("__m") / 1e6).alias("mean"),
            (F.col("__mn") / 1e6).alias("min_v"),
            (F.col("__mx") / 1e6).alias("max_v"),
        )
        .orderBy("dim")
    )


@query(
    "x87_behavior_entropy",
    """
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    totals AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY user_id),
    terms AS (
        SELECT c.user_id,
               CAST(floor((c.c * 1.0 / t.n) * ln(t.n * 1.0 / c.c) * 1000000000) AS BIGINT) AS term_q
        FROM counts c JOIN totals t USING (user_id)
    )
    SELECT user_id,
           CAST(sum(term_q) AS BIGINT) / 1e9 AS entropy_nats,
           CAST((SELECT n FROM totals t WHERE t.user_id = terms.user_id) AS BIGINT) AS n_events
    FROM terms
    GROUP BY user_id
    ORDER BY user_id
    """,
    ("events", "analytics", "quality"),
)
def x87_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution: each p ln(1/p) term from exact
    counts, quantized at 1e-9 before the sum, so per-user totals are exact integer additions."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    counts = t["events"].groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    # r12: per-user totals as a window sum instead of a totals
    # self-join — the join's broadcast decision flipped with AQE's
    # runtime size estimate (6 vs 7 jobs across passes in ONE session,
    # the lone r11 plan_stable delta); the window form is deterministic,
    # drops the join exchanges, and the same-keyed groupBy after it is
    # exchange-free (CLAUDE.md r7 totals-self-join rule)
    terms = counts.select(
        "user_id",
        F.sum("c").over(W.partitionBy("user_id")).cast("long").alias("n"),
        "c",
    ).select(
        "user_id",
        "n",
        F.floor(
            (F.col("c") * 1.0 / F.col("n"))
            * F.log(F.col("n") * 1.0 / F.col("c"))
            * 1_000_000_000
        )
        .cast("long")
        .alias("term_q"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            (F.sum("term_q") / 1e9).alias("entropy_nats"),
            F.min("n").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "x88_dedup_report",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u),
    csize AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT sz AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removed,
           CAST(sum(sz - 1) * 1000000 // min(nd.n_docs) AS BIGINT) / 1e6 AS removal_rate
    FROM csize CROSS JOIN nd
    GROUP BY sz
    ORDER BY cluster_size
    """,
    ("dedup", "quality", "graph"),
)
def x88_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup report: near-dup cluster size distribution, docs removed per size and the
    integer-quantized corpus removal rate, from the LSH and connected-components pipeline."""
    from .operators.graph import connected_components

    t = _t(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_ops.minhash_near_dup(
        docs, shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    csize = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        csize.crossJoin(F.broadcast(nd))
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("sz") - 1).alias("docs_removed"),
            (F.expr("sum(sz - 1) * 1000000 div min(n_docs)") / 1e6).alias("removal_rate"),
        )
        .orderBy("cluster_size")
    )


@query(
    "x89_dedup_threshold_sweep",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    ver AS (
        SELECT round(i.c / (sa.n + sb.n - i.c), 6) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
    )
    SELECT count(*) AS n_candidates,
           CAST(sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_070,
           CAST(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_080,
           CAST(sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_at_090,
           CAST(sum(CASE WHEN j >= 0.999999 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
    FROM ver
    """,
    ("dedup", "quality"),
)
def x89_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sweep: exact Jaccard once per LSH candidate pair, then pair counts at
    0.7/0.8/0.9/1.0 as conditional aggregates in one pass."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    sh = track_cache(dedup_ops.hashed_shingles(t["documents"], "text", "doc_id", 3))
    sig = dedup_ops.minhash_signatures(sh, 16)
    bands = track_cache(dedup_ops.lsh_bands(sig, 2))
    cand = dedup_ops.lsh_candidate_pairs(bands)
    jac = dedup_ops.jaccard(sh, cand)
    return jac.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= 0.7, 1).otherwise(0)).cast("long").alias("n_at_070"),
        F.sum(F.when(F.col("jaccard") >= 0.8, 1).otherwise(0)).cast("long").alias("n_at_080"),
        F.sum(F.when(F.col("jaccard") >= 0.9, 1).otherwise(0)).cast("long").alias("n_at_090"),
        F.sum(F.when(F.col("jaccard") >= 0.999999, 1).otherwise(0)).cast("long").alias("n_exact"),
    )


def _ivfpq_det_oracle_sql() -> str:
    """DuckDB mirror of the deterministic integer IVF-PQ spec (see
    operators/similarity.ivfpq_det_recall): dim-level CTEs, every CTE
    MATERIALIZED (the kcore lesson -- multiply-consumed CTEs otherwise
    inline into exponential subtree copies). All divisions are BIGINT
    // BIGINT (truncating, like Spark div -- engine-pair pinned);
    md5-hex ordering is plain lexicographic on both engines."""
    d2q = (
        "list_sum(list_transform(range(1, 65),"
        " i -> (eq.v[i]-ec.v[i])*(eq.v[i]-ec.v[i])))"
    )
    return f"""
    WITH ev AS MATERIALIZED (
        SELECT vec_id AS id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    dims AS MATERIALIZED (
        SELECT id, label, u.d, u.x FROM (
            SELECT id, label, unnest(v) AS x,
                   generate_subscripts(v, 1) AS d
            FROM ev
        ) u
    ),
    cent AS MATERIALIZED (
        SELECT label AS cell, d,
               CAST(CAST(sum(x) AS BIGINT) // CAST(count(*) AS BIGINT)
                    AS BIGINT) AS c
        FROM dims WHERE id >= 5 GROUP BY label, d
    ),
    ark AS MATERIALIZED (
        SELECT id, cell,
               row_number() OVER (PARTITION BY id ORDER BY d2, cell) AS rk
        FROM (
            SELECT dm.id, ct.cell,
                   CAST(sum((dm.x - ct.c) * (dm.x - ct.c)) AS BIGINT) AS d2
            FROM dims dm JOIN cent ct ON ct.d = dm.d
            GROUP BY dm.id, ct.cell
        )
    ),
    assigned AS MATERIALIZED (
        SELECT id, cell FROM ark WHERE rk = 1 AND id >= 5
    ),
    probes AS MATERIALIZED (
        SELECT id AS q_id, cell FROM ark WHERE rk <= 2 AND id < 5
    ),
    resid AS MATERIALIZED (
        SELECT dm.id, a.cell,
               CAST((dm.d - 1) // 16 AS INT) AS s,
               CAST((dm.d - 1) % 16 + 1 AS INT) AS dd,
               dm.x - ct.c AS r
        FROM dims dm
        JOIN assigned a ON a.id = dm.id
        JOIN cent ct ON ct.cell = a.cell AND ct.d = dm.d
    ),
    seeds AS MATERIALIZED (
        SELECT id,
               row_number() OVER (
                   ORDER BY md5('pq:' || CAST(id AS VARCHAR)), id) AS j
        FROM ev WHERE id >= 5
        QUALIFY j <= 16
    ),
    init AS MATERIALIZED (
        SELECT r.s, sd.j, r.dd, r.r AS c0
        FROM seeds sd JOIN resid r ON r.id = sd.id
    ),
    j0 AS MATERIALIZED (
        SELECT id, s, j FROM (
            SELECT id, s, j,
                   row_number() OVER (PARTITION BY id, s ORDER BY d2, j) AS rk
            FROM (
                SELECT r.id, r.s, i.j,
                       CAST(sum((r.r - i.c0) * (r.r - i.c0)) AS BIGINT) AS d2
                FROM resid r JOIN init i ON i.s = r.s AND i.dd = r.dd
                GROUP BY r.id, r.s, i.j
            )
        ) WHERE rk = 1
    ),
    upd AS MATERIALIZED (
        SELECT r.s, j0.j, r.dd,
               CAST(CAST(sum(r.r) AS BIGINT) // CAST(count(*) AS BIGINT)
                    AS BIGINT) AS cu
        FROM resid r JOIN j0 ON j0.id = r.id AND j0.s = r.s
        GROUP BY r.s, j0.j, r.dd
    ),
    cw AS MATERIALIZED (
        SELECT i.s, i.j, i.dd, CAST(COALESCE(u.cu, i.c0) AS BIGINT) AS cw
        FROM init i
        LEFT JOIN upd u ON u.s = i.s AND u.j = i.j AND u.dd = i.dd
    ),
    enc AS MATERIALIZED (
        SELECT id, s, j AS code FROM (
            SELECT id, s, j,
                   row_number() OVER (PARTITION BY id, s ORDER BY d2, j) AS rk
            FROM (
                SELECT r.id, r.s, c.j,
                       CAST(sum((r.r - c.cw) * (r.r - c.cw)) AS BIGINT) AS d2
                FROM resid r JOIN cw c ON c.s = r.s AND c.dd = r.dd
                GROUP BY r.id, r.s, c.j
            )
        ) WHERE rk = 1
    ),
    lut AS MATERIALIZED (
        SELECT q.q_id, q.cell, q.s, c.j,
               CAST(sum((q.qr - c.cw) * (q.qr - c.cw)) AS BIGINT) AS lv
        FROM (
            SELECT p.q_id, p.cell,
                   CAST((dm.d - 1) // 16 AS INT) AS s,
                   CAST((dm.d - 1) % 16 + 1 AS INT) AS dd,
                   dm.x - ct.c AS qr
            FROM probes p
            JOIN dims dm ON dm.id = p.q_id
            JOIN cent ct ON ct.cell = p.cell AND ct.d = dm.d
        ) q JOIN cw c ON c.s = q.s AND c.dd = q.dd
        GROUP BY q.q_id, q.cell, q.s, c.j
    ),
    adc AS MATERIALIZED (
        SELECT l.q_id, e.id, CAST(sum(l.lv) AS BIGINT) AS adc
        FROM enc e
        JOIN assigned a ON a.id = e.id
        JOIN lut l ON l.cell = a.cell AND l.s = e.s AND l.j = e.code
        GROUP BY l.q_id, e.id
    ),
    short AS MATERIALIZED (
        SELECT q_id, id FROM (
            SELECT q_id, id,
                   row_number() OVER (PARTITION BY q_id ORDER BY adc, id) AS rk
            FROM adc
        ) WHERE rk <= 20
    ),
    exact_short AS MATERIALIZED (
        SELECT q_id, w FROM (
            SELECT sh.q_id, ec.id AS w,
                   row_number() OVER (PARTITION BY sh.q_id
                       ORDER BY {d2q}, ec.id) AS rk
            FROM short sh
            JOIN ev eq ON eq.id = sh.q_id
            JOIN ev ec ON ec.id = sh.id
        ) WHERE rk <= 10
    ),
    truth AS MATERIALIZED (
        SELECT u, w FROM (
            SELECT eq.id AS u, ec.id AS w,
                   row_number() OVER (PARTITION BY eq.id
                       ORDER BY {d2q}, ec.id) AS rk
            FROM ev eq JOIN ev ec ON eq.id < 5 AND ec.id >= 5
        ) WHERE rk <= 10
    ),
    hits AS (
        SELECT t.u AS q_id, CAST(count(*) AS BIGINT) AS h
        FROM truth t
        JOIN exact_short x ON x.q_id = t.u AND x.w = t.w
        GROUP BY t.u
    ),
    sizes AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n
        FROM assigned GROUP BY cell
    ),
    scanned AS (
        SELECT p.q_id, CAST(sum(z.n) AS BIGINT) AS ns
        FROM probes p JOIN sizes z ON z.cell = p.cell GROUP BY p.q_id
    ),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM ev WHERE id >= 5)
    SELECT q.id AS q_id,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS hits_at_10,
           CAST(COALESCE(s.ns, 0) AS BIGINT) AS n_scanned,
           nc.n_corpus
    FROM (SELECT id FROM ev WHERE id < 5) q
    LEFT JOIN hits h ON h.q_id = q.id
    LEFT JOIN scanned s ON s.q_id = q.id
    LEFT JOIN nc ON true
    ORDER BY q.id
    """


@query(
    "ivfpq_recall_det",
    _ivfpq_det_oracle_sql(),
    ("similarity",),
)
def ivfpq_recall_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer IVF-PQ recall census: integer training, nprobe=2 coarse cells,
    4-codebook ADC shortlist of 20, exact re-rank to top 10, hits vs exact top 10. All integers
    with unique tie-breaks, so it hash-matches the oracle."""
    t = _t(spark, sf_dir)
    return sim_ops.ivfpq_det_recall(t["embeddings"])



@query(
    "x91_quality_ensemble",
    r"""
    WITH feat AS (
        SELECT doc_id, lang, n_chars,
               len(list_distinct(regexp_split_to_array(text, '\s+'))) * 1000000
                   // greatest(len(regexp_split_to_array(text, '\s+')), 1) AS ttr_q,
               length(replace(text, ' ', '')) * 1000000
                   // greatest(len(regexp_split_to_array(text, '\s+')), 1) AS mwl_q
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r_len,
               row_number() OVER (PARTITION BY lang ORDER BY ttr_q DESC, doc_id) AS r_ttr,
               row_number() OVER (PARTITION BY lang ORDER BY mwl_q DESC, doc_id) AS r_mwl
        FROM feat
    )
    SELECT lang, doc_id, r_len, r_ttr, r_mwl,
           r_len + r_ttr + r_mwl AS borda,
           row_number() OVER (PARTITION BY lang ORDER BY r_len + r_ttr + r_mwl, doc_id) AS rk
    FROM ranked
    QUALIFY rk <= 5
    ORDER BY lang, rk
    """,
    ("text", "quality", "pipeline"),
)
def x91_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borda quality ensemble: length, type-token ratio and mean word length each ranked per
    language (doc_id tie-break), summed as integer ranks; top 5 per language."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    words = F.split(F.col("text"), r"\s+")
    feat = t["documents"].select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            "size(array_distinct(split(text, '\\\\s+'))) * 1000000"
            " div greatest(size(split(text, '\\\\s+')), 1)"
        ).alias("ttr_q"),
        F.expr(
            "length(replace(text, ' ', '')) * 1000000"
            " div greatest(size(split(text, '\\\\s+')), 1)"
        ).alias("mwl_q"),
    )
    p = W.partitionBy("lang")
    ranked = feat.select(
        "doc_id",
        "lang",
        F.row_number().over(p.orderBy(F.col("n_chars").desc(), "doc_id")).alias("r_len"),
        F.row_number().over(p.orderBy(F.col("ttr_q").desc(), "doc_id")).alias("r_ttr"),
        F.row_number().over(p.orderBy(F.col("mwl_q").desc(), "doc_id")).alias("r_mwl"),
    )
    borda = (F.col("r_len") + F.col("r_ttr") + F.col("r_mwl")).alias("borda")
    rk = F.row_number().over(
        p.orderBy(F.col("r_len") + F.col("r_ttr") + F.col("r_mwl"), F.col("doc_id"))
    )
    return (
        ranked.select("lang", "doc_id", "r_len", "r_ttr", "r_mwl", borda, rk.alias("rk"))
        .filter(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


@query(
    "x92_k_anonymity",
    """
    WITH groups AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS grp_sz
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN grp_sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           CAST(sum(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
           CAST(sum(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) * 1000000
                // sum(grp_sz) AS BIGINT) / 1e6 AS risk_fraction,
           min(grp_sz) AS min_group
    FROM groups
    """,
    ("quality", "governance"),
)
def x92_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over (nation, segment): groups smaller than k=5, their at-risk row counts
    and an integer-quantized risk fraction. Two map-side-combinable aggregations."""
    t = _t(spark, sf_dir)
    groups = (
        t["customer"]
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("grp_sz"))
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("grp_sz") < 5, 1).otherwise(0)).cast("long").alias("n_violating"),
        F.sum(F.when(F.col("grp_sz") < 5, F.col("grp_sz")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        (
            F.expr(
                "sum(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) * 1000000 div sum(grp_sz)"
            )
            / 1e6
        ).alias("risk_fraction"),
        F.min("grp_sz").alias("min_group"),
    )


@query(
    "x95_l_diversity",
    """
    WITH groups AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS grp_sz,
               count(DISTINCT (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000)
                   AS l_div
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           CAST(sum(CASE WHEN l_div < 3 THEN grp_sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
           CAST(sum(CASE WHEN l_div < 3 THEN grp_sz ELSE 0 END) * 1000000
                // sum(grp_sz) AS BIGINT) / 1e6 AS risk_fraction,
           min(l_div) AS min_l
    FROM groups
    """,
    ("quality", "governance"),
)
def x95_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: distinct $1000 balance bands per (nation, segment) group, flagging l < 3
    with at-risk rows and an integer-quantized risk fraction. Bands use exact integer cents with a
    positive offset."""
    t = _t(spark, sf_dir)
    bucket = F.expr("(CAST(round(c_acctbal * 100) AS BIGINT) + 100000) div 100000")
    groups = (
        t["customer"]
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("grp_sz"),
            F.countDistinct(bucket).alias("l_div"),
        )
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("l_div") < 3, 1).otherwise(0)).cast("long").alias("n_violating"),
        F.sum(F.when(F.col("l_div") < 3, F.col("grp_sz")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        (
            F.expr(
                "sum(CASE WHEN l_div < 3 THEN grp_sz ELSE 0 END) * 1000000 div sum(grp_sz)"
            )
            / 1e6
        ).alias("risk_fraction"),
        F.min("l_div").alias("min_l"),
    )


@query(
    "x96_inverted_index",
    """
    WITH words AS (
        SELECT doc_id, lower(u.w) AS w
        FROM documents, LATERAL unnest(regexp_split_to_array(trim(text), '\\s+')) AS u(w)
        WHERE u.w != ''
    ),
    tf AS (SELECT w, doc_id, count(*) AS tf FROM words GROUP BY w, doc_id)
    SELECT w AS term,
           count(*) AS doc_freq,
           CAST(sum(tf) AS BIGINT) AS corpus_freq,
           array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings_head
    FROM tf
    GROUP BY w
    ORDER BY doc_freq DESC, term
    LIMIT 25
    """,
    ("text", "analytics"),
)
def x96_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index for the top 25 terms by doc frequency: doc and corpus frequency and the 10
    smallest doc ids, picked by a rank window before any list is built, so per-task state stays
    bounded."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    words = (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .select("doc_id", F.lower("w").alias("term"))
    )
    tf = words.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    wterm = W.partitionBy("term")
    ranked = tf.select(
        "term",
        "doc_id",
        F.count(F.lit(1)).over(wterm).alias("doc_freq"),
        F.sum("tf").over(wterm).cast("long").alias("corpus_freq"),
        F.row_number().over(wterm.orderBy("doc_id")).alias("rn"),
    ).filter(F.col("rn") <= 10)
    return (
        ranked.groupBy("term")
        .agg(
            F.first("doc_freq").alias("doc_freq"),
            F.first("corpus_freq").alias("corpus_freq"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings_head"
            ),
        )
        .orderBy(F.col("doc_freq").desc(), "term")
        .limit(25)
    )


@query(
    "file_bucketed_join",
    """
    SELECT o_orderstatus,
           count(*) AS n_items,
           CAST((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                 + 50) // 100 AS BIGINT) / 1e2 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > DATE '1995-01-01'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    ("relational", "layout", "performance"),
)
def file_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both facts written once with bucketBy(8, orderkey), then a
    sort-merge join that reads bucket i against bucket i with no exchange. Exact integer-cents
    revenue."""
    import hashlib
    import shutil
    import time as _time

    from .queries import _scratch_dir

    t = _t(spark, sf_dir)
    # Table names AND data paths are namespaced by the application id:
    # the catalog names are session-global, so two concurrent sessions
    # sharing one metastore/scratch tree would otherwise race on both
    # the DROP TABLE and the overwrite of the external path. Scratch
    # dirs left by DEAD applications are garbage-collected by age;
    # liveness is keyed on mtime which every session REFRESHES
    # (os.utime) on its own dirs before the cutoff check, so a
    # long-lived (>6h) session that re-runs the query never has its
    # dirs aged out from under a still-valid catalog entry.
    suffix = hashlib.sha1(
        spark.sparkContext.applicationId.encode("utf-8")
    ).hexdigest()[:8]
    base = os.path.dirname(_scratch_dir("x99_gc_probe"))
    cutoff = _time.time() - 6 * 3600
    for entry in os.listdir(base):
        if not entry.startswith("x99_"):
            continue
        p = os.path.join(base, entry)
        try:
            if entry.endswith(suffix):
                os.utime(p)  # heartbeat: this session's dirs stay fresh
            elif os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    li_tbl, od_tbl = f"x99_li_bucketed_{suffix}", f"x99_od_bucketed_{suffix}"
    for tbl in (li_tbl, od_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        t["lineitem"]
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _scratch_dir(f"x99_li_{suffix}"))
        .saveAsTable(li_tbl)
    )
    (
        t["orders"]
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _scratch_dir(f"x99_od_{suffix}"))
        .saveAsTable(od_tbl)
    )
    li, od = spark.table(li_tbl), spark.table(od_tbl)
    return (
        li.filter(F.col("l_shipdate") > F.lit("1995-01-01").cast("date"))
        # Pin the sort-merge join so a small scale factor cannot turn it into a broadcast join.
        .hint("merge")
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # exact 1e-4-unit integer sum + half-up integer division:
            # disc_price is a 4-true-decimal product (the r11 q01 rule)
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * 100) as bigint)"
                    " * (100 - cast(round(l_discount * 100) as bigint))"
                )
            )
            .cast("long")
            .alias("__s4"),
        )
        .select(
            "o_orderstatus",
            "n_items",
            (F.expr("cast((__s4 + 50) div 100 as bigint)") / 1e2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "xa0_bpe_merge_candidates",
    r"""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
    ),
    vocab AS (
        SELECT w, count(*) AS cnt FROM words WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
        SELECT substr(w, i.i::INTEGER, 2) AS pair, cnt
        FROM vocab, LATERAL unnest(range(1, length(w))) AS i(i)
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    ("text", "pipeline"),
)
def xa0_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE round 1: exact corpus-weighted adjacent-symbol-pair counts over the vocabulary (distinct
    words x frequency, not the token stream), top 20 by unique (count, pair) order."""
    t = _t(spark, sf_dir)
    vocab = (
        t["documents"]
        .select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


@query(
    "xaf_dedup_quality_representative",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u),
    assign AS (
        SELECT d.doc_id,
               coalesce(l.cluster_id, d.doc_id) AS cluster_id,
               length(trim(d.text)) AS quality
        FROM documents d LEFT JOIN labels l ON l.u = d.doc_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY cluster_id ORDER BY quality DESC, doc_id
        ) AS rn
        FROM assign
    )
    SELECT doc_id, cluster_id, quality, (rn = 1) AS kept
    FROM ranked ORDER BY doc_id
    """,
    ("dedup", "graph", "pipeline", "quality"),
)
def xaf_dedup_quality_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: near-dup clusters keep their longest trimmed member (doc_id tie-break)
    instead of the min id, via one row_number window. The oracle replays clustering as a transitive
    closure."""
    from pyspark.sql.window import Window as W

    from .operators.graph import connected_components

    t = _t(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_ops.minhash_near_dup(
        docs, shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed("vertex", "doc_id")
    assign = (
        docs.select("doc_id", F.length(F.trim("text")).alias("quality"))
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
            "quality",
        )
    )
    rn = F.row_number().over(
        W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), "doc_id")
    )
    return assign.select("doc_id", "cluster_id", "quality", (rn == 1).alias("kept")).orderBy(
        "doc_id"
    )


@query(
    "xa2_compaction_plan",
    """
    WITH files AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               count(*) * 512 AS size_bytes
        FROM events GROUP BY day, event_type
    ),
    planned AS (
        SELECT day, event_type, size_bytes,
               coalesce(sum(size_bytes) OVER (
                   ORDER BY day, event_type
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 262144 AS bin
        FROM files
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           min(day) AS first_day,
           max(day) AS last_day
    FROM planned GROUP BY bin ORDER BY bin
    """,
    ("layout", "maintenance", "events"),
)
def xa2_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction plan: per-(day, event_type) file stats packed into ~256 KiB bins in layout order,
    bin = exclusive prefix sum div target. Runs over file stats, never the data; integer sizes."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    files = (
        t["events"]
        .groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg((F.count(F.lit(1)) * 512).alias("size_bytes"))
    )
    before = F.coalesce(
        F.sum("size_bytes").over(
            # Unpartitioned window, bounded by the file inventory (thousands of rows for a 100 TB
            # table).
            W.orderBy("day", "event_type").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        files.withColumn("bin", F.floor(before / 262144).cast("long"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").cast("long").alias("total_bytes"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .orderBy("bin")
    )


@query(
    "xa3_binaryfile_ingest",
    """
    SELECT doc_id,
           length(text) + 1 AS payload_bytes,
           md5(text || chr(10)) AS payload_md5
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
    ("sources", "multimodal"),
)
def xa3_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingest: documents written one file per doc_id partition, read back with
    format('binaryFile'), doc_id recovered from the path, and each payload checked by length and
    md5 against the source."""
    import os

    from .queries import _scratch_dir

    t = _t(spark, sf_dir)
    path = _scratch_dir("xa3_binfiles", sf_dir)
    # one directory per doc (partitionBy) holding exactly one text file
    # whose content is the document text + trailing newline (text sink
    # contract) — a stand-in for an image/audio asset directory tree
    # bounded demo corpus: the point is the source path, not a
    # 5000-directory tree churned twice per bench pass
    docs = t["documents"].filter(F.col("doc_id") < 200).select("doc_id", "text")
    # The tree is DETERMINISTIC per corpus, and the 200-directory write
    # was ~3 s of the query's 3.75 s — memoize it behind a CONTENT
    # fingerprint (order-independent checksum of (doc_id, text) via one
    # tiny agg job), never a bare existence check: fixtures regenerate
    # between rounds while .tmp persists (the r4/r8 lesson), and a
    # stale tree would silently fail the oracle on fresh text
    checksum = docs.agg(
        F.sum(F.xxhash64(F.concat_ws("\x1f", "doc_id", "text")) % F.lit(1_000_000_007))
    ).first()[0]
    fingerprint = f"{sf_dir}|{checksum}"
    marker = path + ".fingerprint"
    fresh = False
    try:
        with open(marker) as fh:
            fresh = fh.read() == fingerprint and os.path.isdir(path)
    except OSError:
        pass
    if not fresh:
        docs.repartition("doc_id").write.mode("overwrite").partitionBy("doc_id").text(path)
        with open(marker, "w") as fh:
            fh.write(fingerprint)
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return (
        binf.select(
            F.regexp_extract(F.col("path"), r"doc_id=(\d+)/", 1).cast("long").alias("doc_id"),
            F.col("length").alias("payload_bytes"),
            F.md5(F.col("content")).alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "xa4_fused_metric_quantiles",
    r"""
    WITH m AS (
        SELECT lang, 'n_chars' AS metric, CAST(length(text) AS DOUBLE) AS v
        FROM documents
        UNION ALL
        SELECT lang, 'n_tokens' AS metric,
               CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS v
        FROM documents WHERE trim(text) != ''
    )
    SELECT lang, metric,
           round(quantile_cont(v, 0.5), 4) AS p50,
           round(quantile_cont(v, 0.9), 4) AS p90
    FROM m GROUP BY lang, metric
    ORDER BY lang, metric
    """,
    ("text", "quality", "analytics"),
)
def xa4_fused_metric_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language p50/p90 of n_chars and n_tokens in one exact-quantile pass, by folding the
    metric name into the group key. 4dp-rounded at the stage seam."""
    from .operators.quantiles import exact_group_quantiles

    t = _t(spark, sf_dir)
    docs = t["documents"]
    m = (
        docs.select(
            "lang", F.lit("n_chars").alias("metric"), F.length("text").cast("double").alias("v")
        )
    ).unionByName(
        docs.filter(F.trim("text") != "").select(
            "lang",
            F.lit("n_tokens").alias("metric"),
            F.size(F.split(F.trim("text"), r"\s+")).cast("double").alias("v"),
        )
    )
    q = exact_group_quantiles(m, ["lang", "metric"], "v", [0.5, 0.9])
    return q.select(
        "lang",
        "metric",
        F.round(F.col("quantiles")[0], 4).alias("p50"),
        F.round(F.col("quantiles")[1], 4).alias("p90"),
    ).orderBy("lang", "metric")


@query(
    "xa5_salted_skew_join",
    """
    SELECT n.n_name,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    ("relational", "skew", "performance"),
)
def xa5_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted broadcast join (operators.skew.salted_broadcast_join) for the customer->nation join,
    so a hot key never stalls one reducer. The oracle is the plain join; results are identical."""
    from .operators.skew import salted_broadcast_join

    t = _t(spark, sf_dir)
    cust_nation = t["customer"].join(
        F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(F.col("c_custkey").alias("o_custkey"), "n_name")
    joined = salted_broadcast_join(
        t["orders"], cust_nation, on="o_custkey", how="inner", num_salts=8
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("n_name")
    )


@query(
    "pipeline_llm_corpus",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.u, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    labels AS (SELECT u, least(u, min(r)) AS cluster_id FROM reach GROUP BY u),
    shw AS (
        SELECT DISTINCT doc_id, array_to_string(w[i+1:i+4], ' ') AS shingle
        FROM words, LATERAL unnest(range(greatest(len(w) - 3, 1))) AS t(i)
    ),
    ev AS (SELECT DISTINCT shingle FROM shw WHERE doc_id % 50 = 0),
    tr_sh AS (SELECT * FROM shw WHERE doc_id % 50 != 0),
    per_doc AS (SELECT doc_id, count(*) AS n_sh FROM tr_sh GROUP BY doc_id),
    hits AS (
        SELECT tr_sh.doc_id, count(*) AS n_ov
        FROM tr_sh JOIN ev USING (shingle) GROUP BY tr_sh.doc_id
    ),
    corpus AS (
        SELECT d.doc_id, d.lang,
               len(regexp_split_to_array(trim(d.text), '\\s+')) AS n_tokens
        FROM documents d
        JOIN per_doc p ON p.doc_id = d.doc_id
        LEFT JOIN hits h ON h.doc_id = d.doc_id
        LEFT JOIN labels l ON l.u = d.doc_id
        WHERE d.doc_id % 50 != 0
          AND coalesce(l.cluster_id, d.doc_id) = d.doc_id
          AND length(trim(d.text)) >= 50
          AND coalesce(h.n_ov, 0) * 100 <= p.n_sh
    ),
    assigned AS (
        SELECT lang, n_tokens,
               CASE WHEN bkt < 100000 THEN 'test'
                    WHEN bkt < 900000 THEN 'train'
                    ELSE 'val' END AS split
        FROM (SELECT *,
                     ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 1000000 AS bkt
              FROM corpus)
    )
    SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY split, lang
    ORDER BY split, lang
    """,
    ("pipeline", "dedup", "decontam", "sampling", "quality"),
)
def pipeline_llm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM corpus prep: MinHash dedup (min-id keeper), quality floor, eval
    decontamination, hash-decided 80/10/10 split, then doc and exact token counts per (split,
    lang)."""
    from .operators.decontam import ngram_overlap
    from .operators.graph import connected_components
    from .operators.sampling import split_assign

    t = _t(spark, sf_dir)
    docs = t["documents"]
    # (1) near-dup clusters over the WHOLE corpus: representatives are
    # chosen globally, so a training doc whose cluster min-id is an
    # eval doc stays dropped — it duplicates benchmark material
    pairs = dedup_ops.minhash_near_dup(
        docs, shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    )
    cc = connected_components(pairs, "doc_a", "doc_b").withColumnRenamed("vertex", "doc_id")
    # (3) contamination stats: train-side docs vs eval 4-grams
    train = docs.filter(F.col("doc_id") % 50 != 0)
    evalset = docs.filter(F.col("doc_id") % 50 == 0)
    overlap = ngram_overlap(train, evalset, n=4).withColumnRenamed("doc", "doc_id")
    corpus = (
        train.join(overlap, "doc_id")
        .join(cc, "doc_id", "left")
        .filter(
            (F.coalesce(F.col("component"), F.col("doc_id")) == F.col("doc_id"))
            & (F.length(F.trim("text")) >= 50)
            & (F.col("n_overlap") * 100 <= F.col("n_shingles"))
        )
        .select(
            "doc_id", "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
        )
    )
    assigned = split_assign(
        corpus, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return (
        assigned.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


@query(
    "xa9_pipeline_product_analytics",
    """
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered
    ),
    tagged AS (
        SELECT *,
               first_value(event_type) OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS entry_type
        FROM sessions
    ),
    per_session AS (
        SELECT user_id, session_id, entry_type,
               count(*) AS n_events,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
               sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS revenue
        FROM tagged GROUP BY user_id, session_id, entry_type
    )
    SELECT entry_type,
           count(*) AS n_sessions,
           sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) / 1e6 AS bounce_rate,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           sum(converted) * 1000000 // count(*) / 1e6 AS conv_rate,
           round(sum(revenue), 2) AS revenue
    FROM per_session GROUP BY entry_type ORDER BY entry_type
    """,
    ("events", "analytics", "pipeline"),
)
def xa9_pipeline_product_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics pipeline: sessionization (30-min gap, microsecond diffs), per-session
    entry type, bounce, conversion and revenue, rolled up per entry type with integer-quantized
    rates."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = t["events"].select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.lag("ts").over(w).alias("__prev"),
    )
    new_s = F.when(
        F.col("__prev").isNull()
        | (F.timestamp_diff("MICROSECOND", F.col("__prev"), F.col("ts")) > 1_800_000_000),
        1,
    ).otherwise(0)
    sessions = marked.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias(
            "session_id"
        ),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    tagged = sessions.withColumn("entry_type", F.first("event_type").over(ws))
    per = tagged.groupBy("user_id", "session_id", "entry_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("revenue"),
    )
    return (
        per.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            (F.expr("sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000 div count(1)") / 1e6).alias("bounce_rate"),
            F.sum("converted").cast("long").alias("n_converted"),
            (F.expr("sum(converted) * 1000000 div count(1)") / 1e6).alias("conv_rate"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
        .orderBy("entry_type")
    )


@query(
    "xaa_variant_semistructured",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    ("functions", "json"),
)
def xaa_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT path: try_parse_json, typed variant_get extraction, and try_variant_get on an absent
    path counted as NULL (zero by construction)."""
    t = _t(spark, sf_dir)
    v = F.try_parse_json("props")
    ev = t["events"].select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "string").alias("missing"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum(F.when(F.col("missing").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        )
        .orderBy("event_type")
    )


@query(
    "xab_equidepth_bucketize",
    """
    WITH pv AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    qs AS (
        SELECT event_type,
               round(quantile_cont(value, 0.25), 4) AS q1,
               round(quantile_cont(value, 0.50), 4) AS q2,
               round(quantile_cont(value, 0.75), 4) AS q3
        FROM pv GROUP BY event_type
    ),
    binned AS (
        SELECT p.event_type,
               CASE WHEN p.value <= q.q1 THEN 0
                    WHEN p.value <= q.q2 THEN 1
                    WHEN p.value <= q.q3 THEN 2
                    ELSE 3 END AS bin,
               p.value
        FROM pv p JOIN qs q USING (event_type)
    )
    SELECT event_type, bin, count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM binned GROUP BY event_type, bin
    ORDER BY event_type, bin
    """,
    ("events", "quality", "analytics"),
)
def xab_equidepth_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing: per-event-type quartile bounds from the exact quantile operator,
    4dp-rounded at the stage seam, then per-(type, bin) counts and spans via a broadcast boundary
    join."""
    from .operators.quantiles import exact_group_quantiles
    from .session import track_cache

    t = _t(spark, sf_dir)
    pv = track_cache(
        t["events"].filter(F.col("value").isNotNull()).select("event_type", "value")
    )
    q = exact_group_quantiles(pv, ["event_type"], "value", [0.25, 0.5, 0.75]).select(
        "event_type",
        F.round(F.col("quantiles")[0], 4).alias("q1"),
        F.round(F.col("quantiles")[1], 4).alias("q2"),
        F.round(F.col("quantiles")[2], 4).alias("q3"),
    )
    binned = pv.join(F.broadcast(q), "event_type").select(
        "event_type",
        "value",
        F.when(F.col("value") <= F.col("q1"), 0)
        .when(F.col("value") <= F.col("q2"), 1)
        .when(F.col("value") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("event_type", "bin")
    )


@query(
    "xac_window_distribution_funcs",
    """
    WITH ranked AS (
        SELECT c_nationkey,
               c_acctbal,
               ntile(4) OVER w AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_nationkey, quartile,
           count(*) AS n,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           min(pr) AS min_pr,
           max(pr) AS max_pr,
           max(cd) AS max_cd
    FROM ranked GROUP BY c_nationkey, quartile
    ORDER BY c_nationkey, quartile
    """,
    ("relational", "window"),
)
def xac_window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4), percent_rank and cume_dist of balance per nation over the unique (balance,
    custkey) order, rolled up per quartile with min/max only, so no order-dependent float sum."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    ranked = t["customer"].select(
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        ranked.groupBy("c_nationkey", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.min("pr").alias("min_pr"),
            F.max("pr").alias("max_pr"),
            F.max("cd").alias("max_cd"),
        )
        .orderBy("c_nationkey", "quartile")
    )


@query(
    "xb0_chunk_documents",
    """
    SELECT doc_id,
           (s - 1) // 150 AS chunk_id,
           s AS start_pos,
           length(substr(text, s::INTEGER, 200)) AS chunk_len,
           md5(substr(text, s::INTEGER, 200)) AS chunk_md5
    FROM documents, unnest(generate_series(1, n_chars, 150)) AS t(s)
    WHERE n_chars > 0
    ORDER BY doc_id, chunk_id
    """,
    ("text", "pipeline"),
)
def xb0_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: 200-char windows at stride 150 with (doc_id, ordinal, start) provenance
    and an md5 content address. chunk_id derives from the start offset, so both engines agree
    without ORDINALITY."""
    t = _t(spark, sf_dir)
    # sequence(1, n, 150) is guarded by n_chars > 0: Spark's sequence
    # DESCENDS when stop < start (CLAUDE.md xa0 lesson), and n_chars
    # >= 1 keeps 1 <= stop with a positive step
    starts = (
        t["documents"]
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_chars"), F.lit(150).cast("long"))
            ).alias("s"),
        )
    )
    chunk = F.expr("substr(text, CAST(s AS INT), 200)")
    return starts.select(
        "doc_id",
        F.expr("(s - 1) div 150").alias("chunk_id"),
        F.col("s").alias("start_pos"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "xb4_scd2_dimension",
    """
    WITH obs AS (
        SELECT o_custkey AS custkey,
               CAST(o_orderdate AS DATE) AS d,
               o_orderstatus AS status,
               o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    ),
    changes AS (
        SELECT custkey, d, status, o_orderkey
        FROM obs
        WHERE prev_status IS NULL OR prev_status <> status
    ),
    versions AS (
        SELECT custkey, status, d AS eff_from,
               row_number() OVER w2 AS version,
               lead(d) OVER w2 AS eff_to
        FROM changes
        WINDOW w2 AS (PARTITION BY custkey ORDER BY d, o_orderkey)
    )
    SELECT custkey, version, status, eff_from,
           coalesce(eff_to, DATE '9999-12-31') AS eff_to,
           eff_to IS NULL AS is_current
    FROM versions
    ORDER BY custkey, version
    """,
    ("relational", "window", "warehouse"),
)
def xb4_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history: each customer's order-status observations collapsed into versioned
    validity intervals via lag/row_number/lead over the unique (date, orderkey) order. Two windows
    on one partitioning."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    d = F.col("o_orderdate").cast("date")
    w = W.partitionBy("o_custkey").orderBy(d, "o_orderkey")
    obs = t["orders"].select(
        F.col("o_custkey").alias("custkey"),
        d.alias("d"),
        F.col("o_orderstatus").alias("status"),
        "o_orderkey",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    )
    changes = obs.filter(
        F.col("prev_status").isNull() | (F.col("prev_status") != F.col("status"))
    )
    w2 = W.partitionBy("custkey").orderBy("d", "o_orderkey")
    versions = changes.select(
        "custkey",
        "status",
        F.col("d").alias("eff_from"),
        F.row_number().over(w2).alias("version"),
        F.lead("d").over(w2).alias("eff_to"),
    )
    # open rows get the conventional far-future end date rather than a
    # NULL: a NULL timestamp canonicalizes as 'NULL' (Spark) vs 'NaT'
    # (DuckDB) through the driver's Arrow hash path
    return versions.select(
        "custkey",
        "version",
        "status",
        "eff_from",
        F.coalesce(F.col("eff_to"), F.lit("9999-12-31").cast("date")).alias("eff_to"),
        F.col("eff_to").isNull().alias("is_current"),
    ).orderBy("custkey", "version")


@query(
    "profile_columns",
    """
    WITH agg AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_orderkey,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nd_l_orderkey,
               CAST(min(l_orderkey) AS VARCHAR) AS mn_l_orderkey,
               CAST(max(l_orderkey) AS VARCHAR) AS mx_l_orderkey,
               CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_linenumber,
               CAST(count(DISTINCT l_linenumber) AS BIGINT) AS nd_l_linenumber,
               CAST(min(l_linenumber) AS VARCHAR) AS mn_l_linenumber,
               CAST(max(l_linenumber) AS VARCHAR) AS mx_l_linenumber,
               CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_quantity,
               CAST(count(DISTINCT l_quantity) AS BIGINT) AS nd_l_quantity,
               CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mn_l_quantity,
               CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR) AS mx_l_quantity,
               CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_extendedprice,
               CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS nd_l_extendedprice,
               CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn_l_extendedprice,
               CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx_l_extendedprice,
               CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_returnflag,
               CAST(count(DISTINCT l_returnflag) AS BIGINT) AS nd_l_returnflag,
               min(l_returnflag) AS mn_l_returnflag,
               max(l_returnflag) AS mx_l_returnflag,
               CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_l_linestatus,
               CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd_l_linestatus,
               min(l_linestatus) AS mn_l_linestatus,
               max(l_linestatus) AS mx_l_linestatus
        FROM lineitem
    )
    SELECT u.col AS column_name, a.n_rows,
           CASE u.col
               WHEN 'l_orderkey' THEN a.nn_l_orderkey
               WHEN 'l_linenumber' THEN a.nn_l_linenumber
               WHEN 'l_quantity' THEN a.nn_l_quantity
               WHEN 'l_extendedprice' THEN a.nn_l_extendedprice
               WHEN 'l_returnflag' THEN a.nn_l_returnflag
               ELSE a.nn_l_linestatus END AS n_nulls,
           CASE u.col
               WHEN 'l_orderkey' THEN a.nd_l_orderkey
               WHEN 'l_linenumber' THEN a.nd_l_linenumber
               WHEN 'l_quantity' THEN a.nd_l_quantity
               WHEN 'l_extendedprice' THEN a.nd_l_extendedprice
               WHEN 'l_returnflag' THEN a.nd_l_returnflag
               ELSE a.nd_l_linestatus END AS n_distinct,
           CASE u.col
               WHEN 'l_orderkey' THEN a.mn_l_orderkey
               WHEN 'l_linenumber' THEN a.mn_l_linenumber
               WHEN 'l_quantity' THEN a.mn_l_quantity
               WHEN 'l_extendedprice' THEN a.mn_l_extendedprice
               WHEN 'l_returnflag' THEN a.mn_l_returnflag
               ELSE a.mn_l_linestatus END AS min_value,
           CASE u.col
               WHEN 'l_orderkey' THEN a.mx_l_orderkey
               WHEN 'l_linenumber' THEN a.mx_l_linenumber
               WHEN 'l_quantity' THEN a.mx_l_quantity
               WHEN 'l_extendedprice' THEN a.mx_l_extendedprice
               WHEN 'l_returnflag' THEN a.mx_l_returnflag
               ELSE a.mx_l_linestatus END AS max_value
    FROM agg a, unnest(['l_orderkey','l_linenumber','l_quantity',
                        'l_extendedprice','l_returnflag','l_linestatus']) AS u(col)
    ORDER BY column_name
    """,
    ("relational", "quality", "analytics"),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of six columns: null count, exact distinct count, min and max, in two passes
    (conditional aggregates, then an unpivoted two-level distinct count). Numeric extremes
    render through DECIMAL(18,2) -> VARCHAR on both engines."""
    t = _t(spark, sf_dir)
    li = t["lineitem"]
    num_cols = {"l_quantity", "l_extendedprice"}
    cols = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
    ]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"nn_{c}")
        )
        if c in num_cols:
            aggs.append(F.min(c).cast("decimal(18,2)").cast("string").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("decimal(18,2)").cast("string").alias(f"mx_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"mx_{c}"))
    row = li.agg(*aggs)
    # exact distincts: (column, value-string) pairs dedup map-side in the
    # partial HashAggregate, then a 6-row count — the string cast is
    # injective per column (no NaN / -0.0 in the domain), so the count
    # matches count(DISTINCT native) exactly
    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("e")
    ).select("e.column_name", "e.v")
    nd = (
        pairs.filter(F.col("v").isNotNull())
        .distinct()
        .groupBy("column_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"nn_{c}").alias("n_nulls"),
                F.col(f"mn_{c}").alias("min_value"),
                F.col(f"mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    stats = row.select("n_rows", F.explode(entries).alias("e")).select(
        F.col("e.column_name").alias("column_name"),
        "n_rows",
        F.col("e.n_nulls").alias("n_nulls"),
        F.col("e.min_value").alias("min_value"),
        F.col("e.max_value").alias("max_value"),
    )
    return (
        nd.join(F.broadcast(stats), "column_name")
        .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
        .orderBy("column_name")
    )


@query(
    "xb2_sparse_topk_retrieval",
    r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
    ),
    sh AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
        FROM toks, unnest(range(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 3
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM sh GROUP BY doc_id, term),
    nd AS (SELECT count(*) AS n FROM documents),
    df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    keep AS (
        SELECT d.term, (SELECT n FROM nd) // d.df AS idf_i
        FROM df d
        WHERE d.df * 2 <= (SELECT n FROM nd)
    ),
    postings AS (
        SELECT t.doc_id, t.term, t.tf * k.idf_i AS w
        FROM tf t JOIN keep k USING (term)
    ),
    qp AS (SELECT doc_id AS q_doc, term, w AS wq FROM postings WHERE doc_id % 97 = 0),
    cp AS (SELECT doc_id AS c_doc, term, w AS wc FROM postings WHERE doc_id % 97 <> 0),
    dots AS (
        SELECT q.q_doc, c.c_doc,
               CAST(sum(q.wq * c.wc) AS BIGINT) AS dot,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM qp q JOIN cp c USING (term)
        GROUP BY q.q_doc, c.c_doc
    )
    SELECT q_doc, rk, c_doc, dot, n_shared
    FROM (
        SELECT q_doc, c_doc, dot, n_shared,
               row_number() OVER (PARTITION BY q_doc ORDER BY dot DESC, c_doc) AS rk
        FROM dots
    )
    WHERE rk <= 5
    ORDER BY q_doc, rk
    """,
    ("text", "similarity", "pipeline"),
)
def xb2_sparse_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse top-5 retrieval over word 3-shingle postings: integer tf * (N div df) weights, stop
    terms with df > N/2 dropped, exact integer inner products, ranked by (score, id)."""
    from pyspark.sql.window import Window as W

    from .session import track_cache

    t = _t(spark, sf_dir)
    docs = t["documents"]
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("ws")).filter(
        F.size("ws") >= 3
    )
    # sequence ascends because size >= 3 puts stop >= 1 (CLAUDE.md)
    i = F.col("i").cast("int")
    sh = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("ws") - 2)).alias("i"),
        "ws",
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("ws", i),
            F.element_at("ws", i + 1),
            F.element_at("ws", i + 2),
        ).alias("term"),
    )
    tf = sh.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    nd = docs.agg(F.count(F.lit(1)).alias("n"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = (
        df.crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 2 <= F.col("n"))
        .select("term", F.expr("n div df").alias("idf_i"))
    )
    postings = track_cache(
        tf.join(keep, "term").select(
            "doc_id", "term", (F.col("tf") * F.col("idf_i")).alias("w")
        )
    )
    qp = postings.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("q_doc"), "term", F.col("w").alias("wq")
    )
    cp = postings.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("c_doc"), "term", F.col("w").alias("wc")
    )
    dots = (
        qp.join(cp, "term")
        .groupBy("q_doc", "c_doc")
        .agg(
            F.sum(F.col("wq") * F.col("wc")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_doc").orderBy(F.col("dot").desc(), F.col("c_doc").asc())
    )
    return (
        dots.select("q_doc", rk.alias("rk"), "c_doc", "dot", "n_shared")
        .filter(F.col("rk") <= 5)
        .orderBy("q_doc", "rk")
    )


@query(
    "xb3_bigram_lm_nll",
    r"""
    WITH toks AS (
        SELECT doc_id, i AS pos, ws[i] AS w
        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents),
             unnest(range(1, len(ws) + 1)) AS t(i)
        WHERE ws[i] <> ''
    ),
    big AS (
        SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    bg AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    vv AS (SELECT count(DISTINCT w) AS v FROM toks),
    scored AS (
        SELECT b.doc_id,
               CAST(floor(ln((c1.c1 + vv.v) * 1.0 / (c12.c12 + 1)) * 1000000) AS BIGINT) AS nll_q
        FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(nll_q) AS BIGINT) AS nll_total_q,
           CAST(sum(nll_q) AS BIGINT) // CAST(count(*) AS BIGINT) AS nll_avg_micro
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    ("text", "quality", "pipeline"),
)
def xb3_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM score per document: add-1 smoothed per-token NLL ln((c1+V)/(c12+1)) quantized to
    integer micro-nats at its source, so per-doc totals and the integer-div mean are exact."""
    from pyspark.sql.window import Window as W

    from .session import track_cache

    t = _t(spark, sf_dir)
    docs = t["documents"]
    toks = track_cache(
        docs.select("doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "w"))
        .filter(F.col("w") != "")
    )
    wnd = W.partitionBy("doc_id").orderBy("pos")
    bg = track_cache(
        toks.select(
            "doc_id", F.col("w").alias("w1"), F.lead("w").over(wnd).alias("w2")
        ).filter(F.col("w2").isNotNull())
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vv = toks.agg(F.countDistinct("w").alias("v"))
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vv))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("c1") + F.col("v")) * 1.0 / (F.col("c12") + 1)) * 1_000_000
            )
            .cast("long")
            .alias("nll_q"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("nll_q").alias("nll_total_q"),
    )
    return out.select(
        "doc_id",
        "n_bigrams",
        "nll_total_q",
        F.expr("nll_total_q div n_bigrams").alias("nll_avg_micro"),
    ).orderBy("doc_id")


@query(
    "xb5_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events GROUP BY user_id
    ),
    base AS (
        SELECT e.user_id, f.cohort,
               date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS offset_d
        FROM events e JOIN firsts f USING (user_id)
    ),
    mat AS (
        SELECT cohort, offset_d, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM base GROUP BY cohort, offset_d
    ),
    sizes AS (SELECT cohort, n_users AS cohort_n FROM mat WHERE offset_d = 0)
    SELECT m.cohort, m.offset_d, m.n_users, s.cohort_n,
           (m.n_users * 1000000 // s.cohort_n) / 1e6 AS retention
    FROM mat m JOIN sizes s USING (cohort)
    ORDER BY m.cohort, m.offset_d
    """,
    ("events", "analytics"),
)
def xb5_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix: cohort = day of first event, offset = DATE-to-DATE day diff,
    distinct users per (cohort, offset), retention as an integer-quantized ratio to the offset-0
    size."""
    t = _t(spark, sf_dir)
    ev = t["events"].select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort"))
    base = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort",
        F.datediff(F.col("ts").cast("date"), F.col("cohort")).alias("offset_d"),
    )
    mat = base.groupBy("cohort", "offset_d").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    sizes = mat.filter(F.col("offset_d") == 0).select(
        "cohort", F.col("n_users").alias("cohort_n")
    )
    return (
        mat.join(sizes, "cohort")
        .select(
            "cohort",
            "offset_d",
            "n_users",
            "cohort_n",
            (F.expr("(n_users * 1000000) div cohort_n") / 1e6).alias("retention"),
        )
        .orderBy("cohort", "offset_d")
    )


@query(
    "xb6_label_centroids",
    """
    WITH q AS (
        SELECT label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mq,
               CAST(count(*) AS BIGINT) AS n
        FROM q GROUP BY label, pos
    ),
    norms AS (
        SELECT label, CAST(sum(mq * mq) AS BIGINT) AS norm_sq, min(n) AS n
        FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum(a.mq * b.mq) AS BIGINT) AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b, d.dot,
           na.norm_sq AS norm_a_sq, nb.norm_sq AS norm_b_sq,
           na.n AS n_a, nb.n AS n_b
    FROM dots d
    JOIN norms na ON na.label = d.label_a
    JOIN norms nb ON nb.label = d.label_b
    ORDER BY d.label_a, d.label_b
    """,
    ("similarity", "analytics", "quality"),
)
def xb6_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding label audit: per-label centroids, pairwise inner products and norms. Elements are
    quantized to integer micro-units at the source, so every sum, mean, dot and norm is exact
    integer arithmetic."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    q = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1_000_000).cast("long").alias("xq"),
    )
    cent = track_cache(
        q.groupBy("label", "pos").agg(
            F.expr("sum(xq) div count(1)").alias("mq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("mq") * F.col("mq")).cast("long").alias("norm_sq"),
        F.min("n").alias("n"),
    )
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("mq").alias("ma"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("mq").alias("mb"))
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).cast("long").alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"),
        F.col("norm_sq").alias("norm_a_sq"),
        F.col("n").alias("n_a"),
    )
    nb = norms.select(
        F.col("label").alias("label_b"),
        F.col("norm_sq").alias("norm_b_sq"),
        F.col("n").alias("n_b"),
    )
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select("label_a", "label_b", "dot", "norm_a_sq", "norm_b_sq", "n_a", "n_b")
        .orderBy("label_a", "label_b")
    )


@query(
    "xb7_winsorized_stats",
    """
    WITH pv AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT event_type,
               round(quantile_cont(value, 0.05), 4) AS lo,
               round(quantile_cont(value, 0.95), 4) AS hi
        FROM pv GROUP BY event_type
    ),
    clamped AS (
        SELECT p.event_type,
               CASE WHEN p.value < b.lo THEN 1 ELSE 0 END AS at_lo,
               CASE WHEN p.value > b.hi THEN 1 ELSE 0 END AS at_hi,
               CAST(floor(least(greatest(p.value, b.lo), b.hi) * 100) AS BIGINT) AS wc
        FROM pv p JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(at_lo) AS BIGINT) AS n_clamped_lo,
           CAST(sum(at_hi) AS BIGINT) AS n_clamped_hi,
           CAST(sum(wc) AS BIGINT) AS winsorized_cents,
           CAST(sum(wc) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cents
    FROM clamped GROUP BY event_type ORDER BY event_type
    """,
    ("events", "quality", "analytics"),
)
def xb7_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: p05/p95 from the exact quantile operator (4dp at the stage
    seam), values clamped and floored to integer cents at the source, so sum and integer-div mean
    are exact."""
    from .operators.quantiles import exact_group_quantiles
    from .session import track_cache

    t = _t(spark, sf_dir)
    pv = track_cache(
        t["events"].filter(F.col("value").isNotNull()).select("event_type", "value")
    )
    bounds = exact_group_quantiles(pv, ["event_type"], "value", [0.05, 0.95]).select(
        "event_type",
        F.round(F.col("quantiles")[0], 4).alias("lo"),
        F.round(F.col("quantiles")[1], 4).alias("hi"),
    )
    clamped = pv.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("lo"), 1).otherwise(0).alias("at_lo"),
        F.when(F.col("value") > F.col("hi"), 1).otherwise(0).alias("at_hi"),
        F.floor(F.least(F.greatest("value", F.col("lo")), F.col("hi")) * 100)
        .cast("long")
        .alias("wc"),
    )
    out = clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("at_lo").cast("long").alias("n_clamped_lo"),
        F.sum("at_hi").cast("long").alias("n_clamped_hi"),
        F.sum("wc").cast("long").alias("winsorized_cents"),
    )
    return out.select(
        "event_type",
        "n",
        "n_clamped_lo",
        "n_clamped_hi",
        "winsorized_cents",
        F.expr("winsorized_cents div n").alias("mean_cents"),
    ).orderBy("event_type")


@query(
    "xb8_skew_diagnosis",
    """
    WITH keyed AS (
        SELECT event_type AS join_key, CAST(count(*) AS BIGINT) AS n_rows
        FROM events GROUP BY event_type
    ),
    win AS (
        SELECT join_key, n_rows,
               CAST(sum(n_rows) OVER () AS BIGINT) AS total,
               CAST(count(*) OVER () AS BIGINT) AS n_keys
        FROM keyed
    )
    SELECT join_key, n_rows,
           (n_rows * 1000000 // total) / 1e6 AS row_share,
           (n_rows * n_keys * 1000000 // total) / 1e6 AS skew_factor,
           CAST((n_rows + 99999) // 100000 AS BIGINT) AS suggested_salts
    FROM win
    ORDER BY n_rows DESC, join_key
    """,
    ("events", "performance", "analytics"),
)
def xb8_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per-key row counts, row share and skew factor (n*k/total) as
    integer-quantized ratios, and a suggested salt fan-out ceil(n/100k), all in integer
    arithmetic."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    keyed = t["events"].groupBy(F.col("event_type").alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    # Unpartitioned window over the per-key count table (one row per key), not the events; a totals
    # self-join would re-evaluate the aggregate subtree.
    w = W.partitionBy()
    return (
        keyed.select(
            "join_key",
            "n_rows",
            F.sum("n_rows").over(w).alias("total"),
            F.count(F.lit(1)).over(w).alias("n_keys"),
        )
        .select(
            "join_key",
            "n_rows",
            (F.expr("(n_rows * 1000000) div total") / 1e6).alias("row_share"),
            (F.expr("(n_rows * n_keys * 1000000) div total") / 1e6).alias("skew_factor"),
            F.expr("(n_rows + 99999) div 100000").alias("suggested_salts"),
        )
        .orderBy(F.col("n_rows").desc(), "join_key")
    )


@query(
    "xdf_market_share_q8",
    """
    WITH rev AS (
        SELECT year(o.o_orderdate) AS yr,
               ns.n_name AS supp_nation,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN region r ON nc.n_regionkey = r.r_regionkey
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    ),
    nat AS (
        SELECT yr, supp_nation, CAST(sum(cents) AS BIGINT) AS rev_cents
        FROM rev GROUP BY yr, supp_nation
    ),
    win AS (
        SELECT yr, supp_nation, rev_cents,
               CAST(sum(rev_cents) OVER (PARTITION BY yr) AS BIGINT) AS yr_cents
        FROM nat
    )
    SELECT yr, supp_nation, rev_cents,
           (rev_cents * 1000000 // yr_cents) / 1e6 AS share
    FROM win
    ORDER BY yr, supp_nation
    """,
    ("relational", "join", "analytics"),
)
def xdf_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: an 8-table join, revenue floored to integer cents at the
    source, and per-year supplier-nation shares as integer-quantized ratios from a PARTITION BY yr
    window."""
    t = _t(spark, sf_dir)
    rev = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["nation"].select(
                F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
            ),
            F.col("c_nationkey") == F.col("nc_key"),
        )
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("nc_region") == F.col("r_regionkey"),
        )
        .join(
            t["part"].filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["nation"].select(
                F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("ns_key"),
        )
        .select(
            F.year("o_orderdate").alias("yr"),
            "supp_nation",
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    from pyspark.sql.window import Window as W

    nat = rev.groupBy("yr", "supp_nation").agg(F.sum("cents").cast("long").alias("rev_cents"))
    return (
        nat.withColumn("yr_cents", F.sum("rev_cents").over(W.partitionBy("yr")))
        .select(
            "yr",
            "supp_nation",
            "rev_cents",
            (F.expr("(rev_cents * 1000000) div yr_cents") / 1e6).alias("share"),
        )
        .orderBy("yr", "supp_nation")
    )


@query(
    "xca_constraint_audit",
    """
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS BIGINT) AS v_qty,
               CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1 THEN 0 ELSE 1 END) AS BIGINT) AS v_disc,
               CAST(sum(CASE WHEN l_tax >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_tax,
               CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_price,
               CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS v_rflag,
               CAST(sum(CASE WHEN l_linestatus IN ('O','F') THEN 0 ELSE 1 END) AS BIGINT) AS v_status,
               CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_ship,
               CAST(sum(CASE WHEN l_orderkey > 0 AND l_partkey > 0 AND l_suppkey > 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_keys
        FROM lineitem
    )
    SELECT r.rule, a.n AS n_rows, r.n_violations,
           ((a.n - r.n_violations) * 1000000 // a.n) / 1e6 AS pass_ratio
    FROM agg a CROSS JOIN LATERAL (VALUES
        ('key_positive', a.v_keys),
        ('discount_in_range', a.v_disc),
        ('linestatus_domain', a.v_status),
        ('price_positive', a.v_price),
        ('quantity_in_range', a.v_qty),
        ('returnflag_domain', a.v_rflag),
        ('shipdate_not_null', a.v_ship),
        ('tax_nonnegative', a.v_tax)
    ) AS r(rule, n_violations)
    ORDER BY r.rule
    """,
    ("lineitem", "quality"),
)
def xca_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit: eight range/domain/positivity/not-null/key rules as
    conditional sums in one aggregation, unpivoted to a rule/violations/pass-ratio report with
    integer-quantized ratios."""
    from .operators.analytics import constraint_audit

    t = _t(spark, sf_dir)
    return constraint_audit(
        t["lineitem"],
        {
            "key_positive": (F.col("l_orderkey") > 0)
            & (F.col("l_partkey") > 0)
            & (F.col("l_suppkey") > 0),
            "discount_in_range": (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
            "linestatus_domain": F.col("l_linestatus").isin("O", "F"),
            "price_positive": F.col("l_extendedprice") > 0,
            "quantity_in_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
            "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
            "shipdate_not_null": F.col("l_shipdate").isNotNull(),
            "tax_nonnegative": F.col("l_tax") >= 0,
        },
    )


@query(
    "xcb_event_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n_transitions,
           (n_transitions * 1000000 //
            CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)) / 1e6 AS prob
    FROM pairs
    ORDER BY from_type, to_type
    """,
    ("events", "analytics", "sessionization"),
)
def xcb_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event transition matrix: per-user streams in unique (ts, event_id) order, lag() pairs,
    counts per (from, to), and row-stochastic probabilities from a PARTITION BY from_type
    window."""
    from .operators.analytics import transition_matrix

    t = _t(spark, sf_dir)
    return (
        transition_matrix(t["events"], "user_id", ["ts", "event_id"], "event_type")
        .select(
            F.col("from_state").alias("from_type"),
            F.col("to_state").alias("to_type"),
            "n_transitions",
            "prob",
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "xcc_open_orders_curve",
    """
    WITH span AS (
        SELECT CAST(o.o_orderdate AS DATE) AS od,
               CAST(max(l.l_shipdate) AS DATE) AS cd
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    delta AS (
        SELECT od AS day, 1 AS d FROM span
        UNION ALL
        SELECT greatest(od, cd + 1), -1 FROM span
    ),
    daily AS (
        SELECT day, CAST(sum(d) AS BIGINT) AS net_change FROM delta GROUP BY day
    )
    SELECT day, net_change,
           CAST(sum(net_change) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
    FROM daily ORDER BY day
    """,
    ("orders", "lineitem", "timeseries", "analytics"),
)
def xcc_open_orders_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order occupancy curve: each order's [orderdate, last shipdate] as +1/-1 day deltas,
    daily net change and a running sum over the day axis (operators.analytics.interval_occupancy).
    DATE-cast on both engines."""
    from .operators.analytics import interval_occupancy

    t = _t(spark, sf_dir)
    last_ship = t["lineitem"].groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("max_ship")
    )
    span = (
        t["orders"]
        .join(last_ship, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderdate").cast("date").alias("od"),
            F.col("max_ship").cast("date").alias("cd"),
        )
    )
    return (
        interval_occupancy(span, "od", "cd")
        .select("day", "net_change", F.col("occupancy").alias("open_orders"))
        .orderBy("day")
    )


@query(
    "xcd_last_touch_attribution",
    """
    WITH ordered AS (
        SELECT event_type, value, ts,
               last_value(CASE WHEN event_type IN ('click','view','signup')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS touch_type,
               last_value(CASE WHEN event_type IN ('click','view','signup')
                               THEN ts END IGNORE NULLS)
                   OVER w AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    purchases AS (
        SELECT CASE WHEN touch_type IS NOT NULL
                     AND date_diff('microseconds', touch_ts, ts) <= 604800000000
                    THEN touch_type ELSE 'none' END AS channel,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM ordered WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM purchases GROUP BY channel ORDER BY channel
    """,
    ("events", "analytics", "sessionization"),
)
def xcd_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: the latest preceding click/view/signup via last_value IGNORE NULLS,
    credited within a 7-day lookback compared in microseconds; revenue floored to integer cents at
    the source."""
    from .operators.analytics import last_touch_attribution

    t = _t(spark, sf_dir)
    attributed = last_touch_attribution(
        t["events"],
        entity_col="user_id",
        order_cols=["ts", "event_id"],
        ts_col="ts",
        state_col="event_type",
        touch_states=["click", "view", "signup"],
        conversion_state="purchase",
        lookback_micros=604800000000,
    )
    return (
        attributed.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("channel")
    )


@query(
    "xce_segment_trend_ols",
    """
    WITH base AS (
        SELECT event_type,
               CAST(date_diff('day',
                    min(CAST(ts AS DATE)) OVER (PARTITION BY event_type),
                    CAST(ts AS DATE)) AS BIGINT) AS x,
               CAST(floor(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM base GROUP BY event_type
    ),
    fit AS (
        SELECT event_type, n,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS den,
               sy, sx
        FROM sums
    ),
    slope AS (
        SELECT event_type, n, sy, sx, den,
               CASE WHEN den = 0 THEN NULL
                    ELSE CASE WHEN num < 0 THEN -1 WHEN num > 0 THEN 1 ELSE 0 END END
                   AS slope_sign,
               CASE WHEN den = 0 THEN NULL ELSE abs(num) * 1000 // den END
                   AS slope_mag_milli
        FROM fit
    )
    SELECT event_type, n, slope_sign, slope_mag_milli,
           CASE WHEN slope_sign IS NULL THEN NULL
                WHEN sy * 1000 - slope_sign * slope_mag_milli * sx < 0 THEN -1
                WHEN sy * 1000 - slope_sign * slope_mag_milli * sx > 0 THEN 1
                ELSE 0 END AS intercept_sign,
           CASE WHEN slope_sign IS NULL THEN NULL
                ELSE abs(sy * 1000 - slope_sign * slope_mag_milli * sx) // n END
               AS intercept_mag_milli
    FROM slope ORDER BY event_type
    """,
    ("events", "analytics", "ml"),
)
def xce_segment_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value on days since the segment start: exact BIGINT sums with y
    in integer cents, slope and intercept reported as magnitude + sign, zero denominators
    guarded."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    base = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("d"),
            F.floor(F.col("value") * 100).cast("long").alias("y"),
        )
        .select(
            "event_type",
            F.datediff(
                F.col("d"), F.min("d").over(W.partitionBy("event_type"))
            ).cast("long").alias("x"),
            "y",
        )
    )
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    fit = sums.select(
        "event_type",
        "n",
        "sy",
        "sx",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    slope = fit.select(
        "event_type",
        "n",
        "sy",
        "sx",
        F.when(F.col("den") == 0, F.lit(None).cast("long"))
        .otherwise(F.signum("num").cast("long"))
        .alias("slope_sign"),
        F.when(F.col("den") == 0, F.lit(None).cast("long"))
        # Magnitude budget: |num| * 1000 < 2^63 holds through sf0.1 x 100 with a month-scale span.
        .otherwise(F.expr("(abs(num) * 1000) div den"))
        .alias("slope_mag_milli"),
    )
    in_num = F.col("sy") * 1000 - F.col("slope_sign") * F.col("slope_mag_milli") * F.col("sx")
    return slope.select(
        "event_type",
        "n",
        "slope_sign",
        "slope_mag_milli",
        F.when(F.col("slope_sign").isNull(), F.lit(None).cast("long"))
        .otherwise(F.signum(in_num).cast("long"))
        .alias("intercept_sign"),
        F.when(F.col("slope_sign").isNull(), F.lit(None).cast("long"))
        .otherwise(F.expr(
            "abs(sy * 1000 - slope_sign * slope_mag_milli * sx) div n"
        ))
        .alias("intercept_mag_milli"),
    ).orderBy("event_type")


@query(
    "xcf_delete_cascade_audit",
    """
    WITH del_cust AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    del_orders AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del_cust)
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM customer
    ),
    o AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM del_cust)
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM orders
    ),
    l AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_orders)
                             THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM lineitem
    )
    SELECT 'customer' AS table_name, n AS rows_total, d AS rows_deleted,
           n - d AS rows_retained FROM c
    UNION ALL
    SELECT 'lineitem', n, d, n - d FROM l
    UNION ALL
    SELECT 'orders', n, d, n - d FROM o
    ORDER BY table_name
    """,
    ("customer", "orders", "lineitem", "pipeline"),
)
def xcf_delete_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure cascade dry run: customers with c_custkey % 97 = 0 cascade to orders and lineitem
    via mark joins; each table reports total/deleted/retained in one scan."""
    t = _t(spark, sf_dir)
    del_cust = (
        t["customer"]
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("dk"), F.lit(1).alias("cm"))
    )
    cust = t["customer"].agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("c_custkey") % 97 == 0, 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    orders_marked = t["orders"].join(
        F.broadcast(del_cust), F.col("o_custkey") == F.col("dk"), "left"
    )
    ords = orders_marked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.coalesce(F.col("cm"), F.lit(0))).cast("long").alias("d"),
    )
    del_orders = (
        orders_marked.filter(F.col("cm").isNotNull())
        .select(F.col("o_orderkey").alias("dok"), F.lit(1).alias("om"))
    )
    li = (
        t["lineitem"]
        .join(F.broadcast(del_orders), F.col("l_orderkey") == F.col("dok"), "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.coalesce(F.col("om"), F.lit(0))).cast("long").alias("d"),
        )
    )

    def row(name, agg):
        return agg.select(
            F.lit(name).alias("table_name"),
            F.col("n").alias("rows_total"),
            F.col("d").alias("rows_deleted"),
            (F.col("n") - F.col("d")).alias("rows_retained"),
        )

    return (
        row("customer", cust)
        .unionAll(row("lineitem", li))
        .unionAll(row("orders", ords))
        .orderBy("table_name")
    )


@query(
    "xdg_waiting_orders_blame",
    """
    WITH li AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM li l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE l1.late = 1
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late = 1)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
    ("lineitem", "orders", "supplier", "relational", "join"),
)
def xdg_waiting_orders_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers alone in shipping late on finished multi-supplier orders, as an
    (orderkey, suppkey) pre-aggregation and an orderkey window. The oracle runs the textbook
    EXISTS/NOT EXISTS form."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    li = (
        t["lineitem"]
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90), 1)
            .otherwise(0)
            .alias("late"),
        )
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").cast("long").alias("n_late_rows"),
        F.max("late").alias("supp_late"),
    )
    w = W.partitionBy("l_orderkey")
    blame = (
        per_os.select(
            "l_suppkey",
            "n_late_rows",
            "supp_late",
            F.count(F.lit(1)).over(w).alias("n_supp"),
            F.sum("supp_late").over(w).alias("n_late_supp"),
        )
        .filter(
            (F.col("supp_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.sum("n_late_rows").cast("long").alias("numwait"))
    )
    return (
        blame.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
    )


@query(
    "xch_copurchase_affinity",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tot AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items
    ),
    cnt AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    )
    SELECT p.part_a, p.part_b, p.n_ab,
           (p.n_ab * t.n_orders * 1000000 // (ca.n * cb.n)) / 1e6 AS lift
    FROM pairs p
    CROSS JOIN tot t
    JOIN cnt ca ON ca.l_partkey = p.part_a
    JOIN cnt cb ON cb.l_partkey = p.part_b
    ORDER BY p.part_a, p.part_b
    """,
    ("lineitem", "analytics", "ml"),
)
def xch_copurchase_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase affinity: within-order part pairs (part_a < part_b) with support >= 2 and lift
    as the integer-quantized ratio n_ab*n_orders/(n_a*n_b), via
    operators.analytics.basket_affinity."""
    from .operators.analytics import basket_affinity

    t = _t(spark, sf_dir)
    return (
        basket_affinity(t["lineitem"], "l_orderkey", "l_partkey", min_support=2)
        .select(
            F.col("item_a").alias("part_a"),
            F.col("item_b").alias("part_b"),
            "n_ab",
            "lift",
        )
        .orderBy("part_a", "part_b")
    )


@query(
    "xci_stickiness_dau_wau",
    """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
        SELECT day, CAST(count(*) AS BIGINT) AS dau FROM active GROUP BY day
    ),
    span AS (
        SELECT a.user_id, a.day + CAST(i.i AS INTEGER) AS day
        FROM active a, unnest(range(0, 7)) AS i(i)
    ),
    wau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        FROM span GROUP BY day
    )
    SELECT d.day, d.dau, w.wau,
           (d.dau * 1000000 // w.wau) / 1e6 AS stickiness
    FROM dau d JOIN wau w USING (day)
    ORDER BY d.day
    """,
    ("events", "analytics", "timeseries"),
)
def xci_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: each (user, active day) fanned out to the 7 days it counts as weekly
    active, distinct counts per day, and the integer-quantized ratio. No day-by-day range join."""
    t = _t(spark, sf_dir)
    active = t["events"].select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = active.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    span = active.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"),
    )
    wau = span.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.expr("(dau * 1000000) div wau") / 1e6).alias("stickiness"),
        )
        .orderBy("day")
    )


# Referential-integrity relationships audited by xcj: (label, child
# table, fk column, parent table, pk column). Labels sort the output.
_RI_RELS = [
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def _ri_block_sql(rel: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{rel}' AS relationship,
           CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_child_rows,
           CAST(count(cnt) AS BIGINT) AS n_distinct_fk,
           CAST(count(CASE WHEN p IS NULL THEN cnt END) AS BIGINT) AS n_orphan_fk,
           CAST(coalesce(sum(CASE WHEN p IS NULL THEN cnt END), 0) AS BIGINT) AS n_orphan_rows,
           CAST(count(p) AS BIGINT) AS n_parents,
           CAST(count(CASE WHEN cnt IS NULL THEN p END) AS BIGINT) AS n_unref_parents,
           CASE WHEN count(cnt) = 0 THEN 0.0
                ELSE ((count(cnt) - count(CASE WHEN p IS NULL THEN cnt END)) * 1000000
                      // count(cnt)) / 1e6 END AS fk_coverage
    FROM (SELECT {fk} AS k, count(*) AS cnt FROM {child} GROUP BY 1) f
    FULL JOIN (SELECT {pk} AS k, 1 AS p FROM {parent}) pr USING (k)
    """


@query(
    "xcj_referential_orphans",
    "\nUNION ALL\n".join(_ri_block_sql(*r) for r in _RI_RELS)
    + "\nORDER BY relationship",
    ("lineitem", "orders", "customer", "quality", "join"),
)
def xcj_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional orphan audit over six foreign keys: orphan child keys and unreferenced
    parents, from one groupBy(fk) plus one full outer join per relation. Ratios integer-quantized,
    zero denominators guarded."""
    t = _t(spark, sf_dir)

    def one(rel: str, child: str, fk: str, parent: str, pk: str) -> DataFrame:
        fkc = t[child].groupBy(F.col(fk).alias("k")).agg(F.count(F.lit(1)).alias("cnt"))
        pks = t[parent].select(F.col(pk).alias("k"), F.lit(1).alias("p"))
        orphan_cnt = F.when(F.col("p").isNull(), F.col("cnt"))
        agg = (
            fkc.join(pks, "k", "full_outer")
            .agg(
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_child_rows"),
                F.count("cnt").cast("long").alias("n_distinct_fk"),
                F.count(orphan_cnt).cast("long").alias("n_orphan_fk"),
                F.coalesce(F.sum(orphan_cnt), F.lit(0)).cast("long").alias("n_orphan_rows"),
                F.count("p").cast("long").alias("n_parents"),
                F.count(F.when(F.col("cnt").isNull(), F.col("p")))
                .cast("long")
                .alias("n_unref_parents"),
            )
        )
        return agg.select(
            F.lit(rel).alias("relationship"),
            "n_child_rows",
            "n_distinct_fk",
            "n_orphan_fk",
            "n_orphan_rows",
            "n_parents",
            "n_unref_parents",
            F.when(F.col("n_distinct_fk") == 0, F.lit(0.0))
            .otherwise(
                F.expr(
                    "((n_distinct_fk - n_orphan_fk) * 1000000) div n_distinct_fk"
                )
                / 1e6
            )
            .alias("fk_coverage"),
        )

    out = one(*_RI_RELS[0])
    for rel in _RI_RELS[1:]:
        out = out.union(one(*rel))
    return out.orderBy("relationship")


@query(
    "xck_feature_hashing",
    """
    WITH feats AS (
        SELECT f.feature
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        CROSS JOIN LATERAL (VALUES
            ('prio=' || o.o_orderpriority),
            ('seg=' || c.c_mktsegment),
            ('status=' || o.o_orderstatus),
            ('month=' || CAST(month(o.o_orderdate) AS VARCHAR))
        ) AS f(feature)
    ),
    hashed AS (
        SELECT feature,
               ('0x' || substr(md5('fh:' || feature), 1, 15))::BIGINT % 64 AS slot,
               count(*) AS n_rows
        FROM feats GROUP BY 1
    )
    SELECT slot,
           CAST(count(*) AS BIGINT) AS n_features,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           array_to_string(list_sort(list(feature)), '|') AS features
    FROM hashed GROUP BY slot ORDER BY slot
    """,
    ("orders", "customer", "feature", "text"),
)
def xck_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing: four categorical order features hashed into 64 slots with the portable
    60-bit md5 hash, reported with per-slot collision counts. The hash is bit-identical on both
    engines."""
    t = _t(spark, sf_dir)
    feats = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.explode(
                F.array(
                    F.concat(F.lit("prio="), F.col("o_orderpriority")),
                    F.concat(F.lit("seg="), F.col("c_mktsegment")),
                    F.concat(F.lit("status="), F.col("o_orderstatus")),
                    F.concat(
                        F.lit("month="),
                        F.month("o_orderdate").cast("string"),
                    ),
                )
            ).alias("feature")
        )
    )
    hashed = feats.groupBy("feature").agg(F.count(F.lit(1)).alias("n_rows"))
    hashed = hashed.select(
        "feature",
        "n_rows",
        F.pmod(dedup_ops.portable_hash(F.col("feature"), F.lit("fh")), F.lit(64)).alias(
            "slot"
        ),
    )
    return (
        hashed.groupBy("slot")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_features"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.array_join(F.array_sort(F.collect_list("feature")), "|").alias("features"),
        )
        .orderBy("slot")
    )


# Integer inverse-CDF thresholds for Poisson(1) on u in [0, 1e6):
# weight k iff u >= T[k-1] and u < T[k] (u >= T[-1] -> 8). Computed once
# from exp(-1) offline; integer literals keep both engines bit-agreed.
_POISSON1_CDF = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]


def _poisson_case_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POISSON1_CDF)
    )
    return f"CASE {whens} ELSE {len(_POISSON1_CDF)} END"


@query(
    "xds_bootstrap_ci",
    f"""
    WITH cents AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               ('0x' || substr(md5('bs1:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000 AS h1,
               ('0x' || substr(md5('bs2:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000 AS h2
        FROM orders
    ),
    fan AS (
        SELECT c.cents, CAST(i.rep AS BIGINT) AS rep,
               (c.h1 + CAST(i.rep AS BIGINT) * c.h2) % 1000000 AS u
        FROM cents c, unnest(range(0, 64)) AS i(rep)
    ),
    w AS (
        SELECT rep, cents, {_poisson_case_sql("u")} AS wt FROM fan
    ),
    reps AS (
        SELECT rep,
               CAST(sum(wt) AS BIGINT) AS n_w,
               CAST(sum(wt * cents) AS BIGINT) AS sum_cents
        FROM w GROUP BY rep
    ),
    means AS (
        SELECT (sum_cents * 10000 // n_w) / 1e6 AS mean_price,
               row_number() OVER (ORDER BY sum_cents * 10000 // n_w, rep) AS rn
        FROM reps WHERE n_w > 0
    ),
    whole AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               (CAST(sum(cents) AS BIGINT) * 10000
                // CAST(count(*) AS BIGINT)) / 1e6 AS mean_price
        FROM cents
    )
    SELECT f.n_orders, f.mean_price,
           CAST(64 AS BIGINT) AS n_replicates,
           max(CASE WHEN m.rn = 2 THEN m.mean_price END) AS ci_lo,
           max(CASE WHEN m.rn = 63 THEN m.mean_price END) AS ci_hi
    FROM means m CROSS JOIN whole f
    GROUP BY f.n_orders, f.mean_price
    """,
    ("orders", "statistics", "sampling"),
)
def xds_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI of mean order price in one pass: 64 hash-decided Poisson(1) weights per
    row, integer cents, replicate means integer-quantized, bounds = 2nd and 63rd order statistics
    (replicate-id tie-break)."""
    t = _t(spark, sf_dir)
    from pyspark.sql import Window as W

    key = F.col("o_orderkey").cast("string")
    cents = t["orders"].select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.pmod(dedup_ops.portable_hash(key, F.lit("bs1")), F.lit(1_000_000)).alias("h1"),
        F.pmod(dedup_ops.portable_hash(key, F.lit("bs2")), F.lit(1_000_000)).alias("h2"),
    )
    fan = (
        cents.select(
            "cents", "h1", "h2", F.explode(F.expr("sequence(0, 63)")).alias("rep")
        )
        .withColumn("rep", F.col("rep").cast("long"))
        .withColumn("u", F.pmod(F.col("h1") + F.col("rep") * F.col("h2"), F.lit(1_000_000)))
    )
    wt = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < _POISSON1_CDF[k], F.lit(k)).otherwise(wt)
    w = fan.select("rep", "cents", wt.alias("wt"))
    reps = w.groupBy("rep").agg(
        F.sum("wt").cast("long").alias("n_w"),
        F.sum(F.col("wt") * F.col("cents")).cast("long").alias("sum_cents"),
    )
    means = (
        reps.filter(F.col("n_w") > 0)
        .select(
            (F.expr("(sum_cents * 10000) div n_w") / 1e6).alias("rep_mean"),
            F.row_number()
            # Unpartitioned window over the 64 replicate means.
            .over(W.orderBy(F.expr("(sum_cents * 10000) div n_w"), F.col("rep")))
            .alias("rn"),
        )
    )
    whole = cents.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (
            F.expr("(CAST(sum(cents) AS BIGINT) * 10000) div count(*)") / 1e6
        ).alias("mean_price"),
    )
    return (
        means.crossJoin(F.broadcast(whole))
        .groupBy("n_orders", "mean_price")
        .agg(
            F.lit(64).cast("long").alias("n_replicates"),
            F.max(F.when(F.col("rn") == 2, F.col("rep_mean"))).alias("ci_lo"),
            F.max(F.when(F.col("rn") == 63, F.col("rep_mean"))).alias("ci_hi"),
        )
    )


@query(
    "xcn_weighted_median",
    """
    WITH d AS (
        SELECT lang, n_chars, doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS tokens
        FROM documents
    ),
    w AS (
        SELECT lang, n_chars,
               sum(tokens) OVER (PARTITION BY lang
                                 ORDER BY n_chars, doc_id) AS cumw,
               sum(tokens) OVER (PARTITION BY lang) AS total_w
        FROM d
    )
    SELECT lang,
           CAST(max(total_w) AS BIGINT) AS total_tokens,
           CAST(min(CASE WHEN 2 * cumw >= total_w THEN n_chars END) AS BIGINT)
               AS wmedian_nchars
    FROM w GROUP BY lang ORDER BY lang
    """,
    ("documents", "statistics", "quantile", "text"),
)
def xcn_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median doc length per language: running token sum over the unique (n_chars,
    doc_id) order; the smallest value with 2*cumw >= total, an exact integer test."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    d = t["documents"].select(
        "lang",
        "n_chars",
        "doc_id",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("tokens"),
    )
    w = d.select(
        "lang",
        "n_chars",
        F.sum("tokens")
        .over(W.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .alias("cumw"),
        F.sum("tokens").over(W.partitionBy("lang")).alias("total_w"),
    )
    return (
        w.groupBy("lang")
        .agg(
            F.max("total_w").cast("long").alias("total_tokens"),
            F.min(F.when(2 * F.col("cumw") >= F.col("total_w"), F.col("n_chars")))
            .cast("long")
            .alias("wmedian_nchars"),
        )
        .orderBy("lang")
    )


@query(
    "xco_rank_fusion",
    """
    WITH tf AS (
        SELECT doc_id,
               len(text) - len(replace(text, 'data', '')) AS hits
        FROM documents
    ),
    top_a AS (
        SELECT doc_id, hits FROM tf WHERE hits > 0
        ORDER BY hits DESC, doc_id LIMIT 100
    ),
    rank_a AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY hits DESC, doc_id) AS ra
        FROM top_a
    ),
    score AS (
        SELECT vec_id,
               embedding[1] / sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS s
        FROM embeddings
    ),
    top_b AS (
        SELECT vec_id, s FROM score ORDER BY s DESC, vec_id LIMIT 100
    ),
    rank_b AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY s DESC, vec_id) AS rb
        FROM top_b
    ),
    fused AS (
        SELECT coalesce(a.doc_id, b.vec_id) AS doc_id,
               CAST(coalesce(a.ra, 0) AS BIGINT) AS rank_text,
               CAST(coalesce(b.rb, 0) AS BIGINT) AS rank_vec,
               CAST(coalesce(1000000 // (60 + a.ra), 0)
                    + coalesce(1000000 // (60 + b.rb), 0) AS BIGINT) AS rrf
        FROM rank_a a FULL JOIN rank_b b ON a.doc_id = b.vec_id
    )
    SELECT doc_id, rank_text, rank_vec, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    ("documents", "embeddings", "similarity", "search"),
)
def xco_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion of a term-count ranking and a cosine ranking, each cut to top 100 by
    a distributed top-k, fused with integer RRF 1e6 div (60 + rank); top 20 by (rrf, id)."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    tf = t["documents"].select(
        "doc_id",
        (
            F.length("text") - F.length(F.regexp_replace("text", "data", ""))
        ).alias("hits"),
    )
    top_a = tf.filter(F.col("hits") > 0).orderBy(F.desc("hits"), F.asc("doc_id")).limit(100)
    rank_a = top_a.select(
        "doc_id",
        # Unpartitioned rank windows run over the 100 rows the top-k kept: k-bounded, not
        # data-sized.
        F.row_number().over(W.orderBy(F.desc("hits"), F.asc("doc_id"))).alias("ra"),
    )
    score = t["embeddings"].select(
        "vec_id",
        (
            F.element_at("embedding", 1).cast("double")
            / F.sqrt(
                F.aggregate(
                    "embedding",
                    F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"),
                )
            )
        ).alias("s"),
    )
    top_b = score.orderBy(F.desc("s"), F.asc("vec_id")).limit(100)
    rank_b = top_b.select(
        "vec_id",
        F.row_number().over(W.orderBy(F.desc("s"), F.asc("vec_id"))).alias("rb"),
    )
    fused = rank_a.join(rank_b, rank_a["doc_id"] == rank_b["vec_id"], "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
        F.coalesce(F.col("ra"), F.lit(0)).cast("long").alias("rank_text"),
        F.coalesce(F.col("rb"), F.lit(0)).cast("long").alias("rank_vec"),
        (
            F.coalesce(F.expr("1000000 div (60 + ra)"), F.lit(0))
            + F.coalesce(F.expr("1000000 div (60 + rb)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@query(
    "xcp_vocab_growth",
    """
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS n_tokens
        FROM documents
    ),
    words AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text),
                   '\\s+'), x -> x <> '')) AS w
        FROM documents
    ),
    first_seen AS (
        SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM words GROUP BY w
    ),
    newv AS (
        SELECT first_doc // 50 AS bucket, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY 1
    ),
    tok_b AS (
        SELECT doc_id // 50 AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1
    )
    SELECT t.bucket, t.n_docs,
           CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY t.bucket) AS BIGINT)
               AS cum_vocab
    FROM tok_b t LEFT JOIN newv n ON n.bucket = t.bucket
    ORDER BY t.bucket
    """,
    ("documents", "text", "analytics"),
)
def xcp_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve: each word's first doc via min(doc_id), new words and token mass per
    50-doc bucket, cumulative curves over the bucket axis. All integers."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id",
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "").alias(
            "__ws"
        ),
    )
    toks = docs.select("doc_id", F.size("__ws").alias("n_tokens"))
    words = docs.select("doc_id", F.explode("__ws").alias("w"))
    first_seen = words.groupBy("w").agg(F.min("doc_id").cast("long").alias("first_doc"))
    newv = first_seen.groupBy(
        F.expr("first_doc div 50").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    tok_b = toks.groupBy(F.expr("doc_id div 50").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    j = tok_b.join(newv, "bucket", "left")
    # Unpartitioned: one row per 50-doc bucket (corpus/50 rows), never data-sized.
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return j.select(
        "bucket",
        "n_docs",
        F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w_cum).cast("long").alias("cum_vocab"),
    ).orderBy("bucket")


@query(
    "xcr_token_gini",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS BIGINT) AS v
        FROM documents
    ),
    runs AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(v * count(*) AS BIGINT) AS mass
        FROM toks GROUP BY v
    ),
    cum AS (
        SELECT v, c, mass,
               CAST(coalesce(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS r0
        FROM runs
    ),
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(mass) AS BIGINT) AS total
        FROM runs
    ),
    terms AS (
        SELECT m.v, m.c, m.mass, m.r0, t.n, t.total,
               (9 * t.n) // 10 AS thr,
               m.v * (m.c * m.r0 + (m.c * (m.c + 1)) // 2) AS rank_mass,
               CASE WHEN m.r0 >= (9 * t.n) // 10 THEN m.mass
                    WHEN m.r0 + m.c > (9 * t.n) // 10
                         THEN m.v * (m.r0 + m.c - (9 * t.n) // 10)
                    ELSE 0 END AS top_mass
        FROM cum m CROSS JOIN tot t
    )
    SELECT CAST(max(n) AS BIGINT) AS n_docs,
           CAST(max(total) AS BIGINT) AS total_tokens,
           CASE WHEN max(n) * max(total) = 0 THEN 0.0
                ELSE ((2 * sum(rank_mass) - (max(n) + 1) * max(total)) * 1000000
                      // (max(n) * max(total))) / 1e6 END AS gini,
           CASE WHEN max(total) = 0 THEN 0.0
                ELSE (sum(top_mass) * 1000000 // max(total)) / 1e6
           END AS top_decile_share
    FROM terms
    """,
    ("documents", "statistics", "text"),
)
def xcr_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini and top-decile share of per-document token counts: docs collapse to (length,
    count) runs and sum(i*x_i) is computed per run in closed form. All integers, zero totals
    guarded."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        )
        .cast("long")
        .alias("v")
    )
    runs = toks.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        (F.col("v") * F.count(F.lit(1))).cast("long").alias("mass"),
    )
    # Unpartitioned: one row per distinct length value, not per document.
    w_prev = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    cum = runs.select(
        "v",
        "c",
        "mass",
        F.coalesce(F.sum("c").over(w_prev), F.lit(0)).cast("long").alias("r0"),
    )
    tot = runs.agg(
        F.sum("c").cast("long").alias("n"), F.sum("mass").cast("long").alias("total")
    )
    terms = cum.crossJoin(F.broadcast(tot)).select(
        "n",
        "total",
        (
            F.col("v")
            * (F.col("c") * F.col("r0") + F.expr("(c * (c + 1)) div 2"))
        ).alias("rank_mass"),
        F.when(F.col("r0") >= F.expr("(9 * n) div 10"), F.col("mass"))
        .when(
            F.col("r0") + F.col("c") > F.expr("(9 * n) div 10"),
            F.col("v") * (F.col("r0") + F.col("c") - F.expr("(9 * n) div 10")),
        )
        .otherwise(F.lit(0))
        .alias("top_mass"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max("total").cast("long").alias("total_tokens"),
        F.when(F.expr("max(n) * max(total)") == 0, F.lit(0.0))
        .otherwise(
            F.expr(
                "((2 * sum(rank_mass) - (max(n) + 1) * max(total)) * 1000000)"
                " div (max(n) * max(total))"
            )
            / 1e6
        )
        .alias("gini"),
        F.when(F.expr("max(total)") == 0, F.lit(0.0))
        .otherwise(F.expr("(sum(top_mass) * 1000000) div max(total)") / 1e6)
        .alias("top_decile_share"),
    )


# log10(1 + 1/d) to 6dp, d = 1..9 — identical literals on both engines.
_BENFORD = {
    1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@query(
    "xcs_benford_audit",
    f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
    exp_t AS (
        SELECT digit, CAST(exp_share AS DOUBLE) AS exp_share FROM (VALUES
            {", ".join(f"({d}, {p})" for d, p in _BENFORD.items())}
        ) AS e(digit, exp_share)
    )
    SELECT e.digit,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n,
           (coalesce(o.n, 0) * 1000000 // t.total) / 1e6 AS obs_share,
           e.exp_share,
           abs((coalesce(o.n, 0) * 1000000 // t.total) / 1e6 - e.exp_share)
               AS deviation
    FROM exp_t e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
    ORDER BY e.digit
    """,
    ("orders", "quality", "statistics"),
)
def xcs_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit: the first digit by integer floor + string head, observed shares
    integer-quantized, and the deviation from 6dp Benford constants. A 9-row spine reports missing
    digits as 0."""
    t = _t(spark, sf_dir)
    digits = t["orders"].filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    exp_t = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], "digit LONG, exp_share DOUBLE"
    )
    out = (
        exp_t.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            (
                F.expr("(coalesce(n, 0) * 1000000) div total") / 1e6
            ).alias("obs_share"),
            "exp_share",
            F.abs(
                F.expr("(coalesce(n, 0) * 1000000) div total") / 1e6
                - F.col("exp_share")
            ).alias("deviation"),
        )
    )
    return out.orderBy("digit")


@query(
    "xct_survival_km",
    """
    WITH RECURSIVE per_user AS (
        SELECT user_id, min(ts) AS t0,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY user_id
    ),
    durs AS (
        SELECT CASE WHEN tp IS NOT NULL
                     AND date_diff('microsecond', t0, tp) // 86400000000 <= 3
                    THEN date_diff('microsecond', t0, tp) // 86400000000
                    ELSE 3 END AS t,
               CASE WHEN tp IS NOT NULL
                     AND date_diff('microsecond', t0, tp) // 86400000000 <= 3
                    THEN 1 ELSE 0 END AS ev
        FROM per_user
    ),
    steps AS (
        SELECT t, CAST(sum(ev) AS BIGINT) AS d,
               CAST(sum(1 - ev) AS BIGINT) AS c
        FROM durs GROUP BY t
    ),
    idx AS (
        SELECT CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i, t, d, c,
               CAST((SELECT count(*) FROM durs)
                    - coalesce(sum(d + c) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM steps
    ),
    km AS (
        SELECT CAST(0 AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS s
        UNION ALL
        SELECT x.i, (km.s * (x.n_risk - x.d)) // x.n_risk
        FROM km JOIN idx x ON x.i = km.i + 1
    )
    SELECT x.t AS t_day, x.n_risk, x.d AS d_events, x.c AS c_censored,
           k.s / 1e6 AS survival
    FROM idx x JOIN km k ON k.i = x.i
    ORDER BY t_day
    """,
    ("events", "statistics", "timeseries"),
)
def xct_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time to first purchase, censored at 3 days: durations in exact microseconds and
    the product-limit estimator as a stepwise integer fold at 1e-6 scale. Deaths before censorings
    on ties."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    per_user = t["events"].groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tp"),
    )
    dd = F.expr("timestampdiff(MICROSECOND, t0, tp) div 86400000000")
    observed = F.col("tp").isNotNull() & (dd <= 3)
    durs = per_user.select(
        F.when(observed, dd).otherwise(F.lit(3)).cast("long").alias("t"),
        F.when(observed, 1).otherwise(0).cast("long").alias("ev"),
    )
    steps = durs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    # Unpartitioned: the windows run over the distinct-time step table, bounded by the follow-up
    # horizon.
    w_prev = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    idx = steps.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    # stepwise integer product-limit fold over the horizon-bounded steps
    one_row = idx.agg(
        F.array_sort(F.collect_list(F.struct("t", "n_risk", "d", "c"))).alias("st")
    )
    surv = F.aggregate(
        "st",
        F.expr("array(CAST(1000000 AS BIGINT))"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                (
                    (
                        F.element_at(acc, -1) * (x["n_risk"] - x["d"])
                        - F.pmod(
                            F.element_at(acc, -1) * (x["n_risk"] - x["d"]),
                            x["n_risk"],
                        )
                    )
                    / x["n_risk"]
                ).cast("long")
            ),
        ),
    )
    rows = one_row.select("st", surv.alias("sv")).select(
        F.posexplode("st").alias("pos", "step"), F.col("sv")
    )
    return rows.select(
        F.col("step.t").alias("t_day"),
        F.col("step.n_risk").alias("n_risk"),
        F.col("step.d").alias("d_events"),
        F.col("step.c").alias("c_censored"),
        (F.expr("sv[pos + 1]") / 1e6).alias("survival"),
    ).orderBy("t_day")


@query(
    "xcu_ewma_halflife",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lagged AS (
        SELECT day, rev_cents,
               row_number() OVER (ORDER BY day) AS rn,
               {" + ".join(f"coalesce(lag(rev_cents, {k}) OVER (ORDER BY day), 0) * {1 << (7 - k)}" for k in range(8))}
                   AS num
        FROM daily
    )
    SELECT day, rev_cents,
           CAST(num AS BIGINT) AS ewma_num,
           num / 256.0 AS ewma_cents
    FROM lagged WHERE rn >= 8 ORDER BY day
    """,
    ("events", "timeseries", "statistics"),
)
def xcu_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of daily revenue with half-life weights truncated at 8 taps: the weighted sum is an
    integer and value/256 is a dyadic rational, exact on both engines. The first 7 days emit
    nothing."""
    from pyspark.sql import Window as W

    t = _t(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    # Unpartitioned: one row per day after the per-day pre-aggregation; the 8 lag taps share this
    # one window.
    w = W.orderBy("day")
    num = None
    for k in range(8):
        term = F.coalesce(F.lag("rev_cents", k).over(w), F.lit(0)) * (1 << (7 - k))
        num = term if num is None else num + term
    lagged = daily.select(
        "day",
        "rev_cents",
        F.row_number().over(w).alias("rn"),
        num.alias("num"),
    )
    return (
        lagged.filter(F.col("rn") >= 8)
        .select(
            "day",
            "rev_cents",
            F.col("num").cast("long").alias("ewma_num"),
            (F.col("num") / 256.0).alias("ewma_cents"),
        )
        .orderBy("day")
    )


@query(
    "xcv_readability",
    """
    WITH m AS (
        SELECT lang,
               CAST(greatest(len(list_filter(regexp_split_to_array(trim(text),
                   '\\s+'), x -> x <> '')), 1) AS BIGINT) AS w,
               CAST(greatest(len(list_filter(regexp_split_to_array(text,
                   '[.!?]+'), x -> trim(x) <> '')), 1) AS BIGINT) AS s,
               CAST(greatest(len(regexp_extract_all(text, '[aeiouAEIOU]+')), 1)
                   AS BIGINT) AS y
        FROM documents
    ),
    per_doc AS (
        SELECT lang,
               w, s,
               206835 * s * w - 1015 * w * w - 84600 * y * s AS num,
               1000 * s * w AS den
        FROM m
    ),
    scored AS (
        SELECT lang, w, s,
               CASE WHEN num >= 0 THEN (num * 1000) // den
                    ELSE -((-num * 1000) // den) END AS flesch_milli
        FROM per_doc
    ),
    agg AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS total_words,
               CAST(sum(s) AS BIGINT) AS total_sentences,
               CAST(sum(flesch_milli) AS BIGINT) AS fsum
        FROM scored GROUP BY lang
    )
    SELECT lang, n_docs, total_words, total_sentences,
           (CASE WHEN fsum >= 0 THEN fsum // n_docs
                 ELSE -((-fsum) // n_docs) END) / 1000.0 AS mean_flesch
    FROM agg ORDER BY lang
    """,
    ("documents", "text", "quality"),
)
def xcv_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per language as one integer cross-multiplication (no float ratio);
    syllables from vowel groups, sentences from [.!?]+. Magnitude + sign division because the score
    can be negative."""
    t = _t(spark, sf_dir)
    m = t["documents"].select(
        "lang",
        F.greatest(
            F.size(F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")),
            F.lit(1),
        )
        .cast("long")
        .alias("w"),
        F.greatest(
            F.size(
                F.filter(
                    F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x) != ""
                )
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("s"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(text, '[aeiouAEIOU]+', 0)")), F.lit(1)
        )
        .cast("long")
        .alias("y"),
    )
    per_doc = m.select(
        "lang",
        "w",
        "s",
        (
            206835 * F.col("s") * F.col("w")
            - 1015 * F.col("w") * F.col("w")
            - 84600 * F.col("y") * F.col("s")
        ).alias("num"),
        (1000 * F.col("s") * F.col("w")).alias("den"),
    )
    scored = per_doc.select(
        "lang",
        "w",
        "s",
        F.when(F.col("num") >= 0, F.expr("(num * 1000) div den"))
        .otherwise(-F.expr("((-num) * 1000) div den"))
        .alias("flesch_milli"),
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("total_words"),
        F.sum("s").cast("long").alias("total_sentences"),
        F.sum("flesch_milli").cast("long").alias("fsum"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_words",
        "total_sentences",
        (
            F.when(F.col("fsum") >= 0, F.expr("fsum div n_docs")).otherwise(
                -F.expr("(-fsum) div n_docs")
            )
            / 1000.0
        ).alias("mean_flesch"),
    ).orderBy("lang")


def _copurchase_support2_edges(t: dict) -> DataFrame:
    """Support-2 co-purchase part edges (u < v) by in-array i<j pair
    enumeration (``operators.analytics.array_pairs``) over per-order
    sorted distinct part arrays, shared by the kcore / LPA /
    link-prediction graph queries: baskets are schema-bounded
    (<= 7 lines/order), so pair instances explode map-side and the
    order-keyed self-join — measured 4.9 s of kcore's 8 s at sf0.1 —
    never exists. sort_array + i<j keeps u < v; support counting is
    unchanged (one pair instance per order containing both parts)."""
    from .operators.analytics import array_pairs

    return (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("__its"))
        .select(F.explode(array_pairs(F.col("__its"))).alias("__p"))
        .select(F.col("__p")[0].alias("u"), F.col("__p")[1].alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__n_ab"))
        .filter(F.col("__n_ab") >= 2)
        .select("u", "v")
    )


# graph_kcore_onion's degree bound and round budget, read by the Spark
# body and by its unrolled oracle.
_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle_sql() -> str:
    """Unrolled bounded-peel oracle for ``graph_kcore_onion``: alive sets
    alive0..alive{_KCORE_ROUNDS}, each round keeping vertices whose
    degree among the previous round's alive vertices is >= _KCORE_K. The
    alive sets are NESTED (peeling only removes), so a vertex's layer
    falls out of how many rounds it survived: n_surv = _KCORE_ROUNDS
    means core (layer 0), else layer = n_surv + 1. Unrolling to a FIXED
    depth makes the SQL a total function identical to the Spark
    operator's bounded semantics on any fixture, converged or not — no
    recursive CTE (peeling needs an aggregate over the recursive term,
    which recursive SQL forbids).

    Every alive CTE is ``AS MATERIALIZED``: each round references the
    previous alive set TWICE (one join per endpoint), and DuckDB
    inlines plain CTEs, so without materialization the unrolled plan
    doubles per round — 2^_KCORE_ROUNDS subtree copies. Materialization
    makes the oracle linear in rounds, mirroring the Spark loop's
    per-round checkpoint.
    """
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )""",
        "und AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)",
        "alive0 AS MATERIALIZED (SELECT DISTINCT u AS p FROM und)",
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""alive{r} AS MATERIALIZED (
        SELECT e.u AS p FROM und e
        JOIN alive{r - 1} au ON e.u = au.p
        JOIN alive{r - 1} av ON e.v = av.p
        GROUP BY e.u HAVING count(*) >= {_KCORE_K}
    )"""
        )
    surv = " UNION ALL ".join(f"SELECT p FROM alive{r}" for r in range(1, _KCORE_ROUNDS + 1))
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH {cte_sql},
    surv AS ({surv}),
    agg AS (
        SELECT a0.p, count(s.p) AS n_surv
        FROM alive0 a0 LEFT JOIN surv s ON s.p = a0.p
        GROUP BY a0.p
    )
    SELECT CAST(p AS BIGINT) AS part_key,
           CAST(CASE WHEN n_surv = {_KCORE_ROUNDS} THEN 0 ELSE n_surv + 1 END AS INTEGER) AS layer
    FROM agg ORDER BY part_key
    """


@query(
    "graph_kcore_onion",
    _kcore_oracle_sql(),
    ("lineitem", "graph", "analytics"),
)
def graph_kcore_onion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core onion layers of the support-2 co-purchase graph: up to 8 peels of parts with degree <
    2; layer = peel round, 0 = core. The oracle unrolls exactly 8 rounds; the engine stops at the
    fixpoint."""
    from .operators.graph import kcore_onion

    t = _t(spark, sf_dir)
    edges = _copurchase_support2_edges(t)
    return (
        kcore_onion(edges, "u", "v", k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
        .select(F.col("vertex").cast("long").alias("part_key"), "layer")
        .orderBy("part_key")
    )


@query(
    "governance_t_closeness",
    """
    WITH bands AS (
        SELECT c_nationkey, c_mktsegment,
               (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS band
        FROM customer
    ),
    gl AS (SELECT band, count(*) AS cnt_all FROM bands GROUP BY band),
    tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS n_total,
                   CAST(count(*) AS BIGINT) AS m FROM gl),
    gq AS (
        SELECT c_nationkey, c_mktsegment, band, count(*) AS cnt_g
        FROM bands GROUP BY c_nationkey, c_mktsegment, band
    ),
    qi AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM gq),
    spine AS (
        SELECT q.c_nationkey, q.c_mktsegment, g.band, g.cnt_all,
               COALESCE(x.cnt_g, 0) AS cnt_g
        FROM qi q CROSS JOIN gl g
        LEFT JOIN gq x ON x.c_nationkey = q.c_nationkey
                      AND x.c_mktsegment = q.c_mktsegment AND x.band = g.band
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, band, cnt_g,
               CAST(sum(cnt_g) OVER (PARTITION BY c_nationkey, c_mktsegment)
                    AS BIGINT) AS grp_sz,
               cnt_g * (SELECT n_total FROM tot) -
                   cnt_all * CAST(sum(cnt_g) OVER (PARTITION BY c_nationkey, c_mktsegment)
                                  AS BIGINT) AS diff
        FROM spine
    ),
    run AS (
        SELECT c_nationkey, c_mktsegment, grp_sz,
               abs(CAST(sum(diff) OVER (PARTITION BY c_nationkey, c_mktsegment
                                        ORDER BY band
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT)) AS acum
        FROM cum
    ),
    emd AS (
        SELECT c_nationkey, c_mktsegment, grp_sz,
               CAST(sum(acum) AS BIGINT) AS t_num,
               grp_sz * (SELECT n_total FROM tot) * ((SELECT m FROM tot) - 1) AS t_den
        FROM run GROUP BY c_nationkey, c_mktsegment, grp_sz
    )
    SELECT c_nationkey, c_mktsegment, grp_sz,
           CASE WHEN t_den = 0 THEN 0.0
                ELSE CAST(t_num * 1000000 // t_den AS BIGINT) / 1e6 END AS emd,
           (t_num * 5 > t_den) AS violates
    FROM emd
    ORDER BY c_nationkey, c_mktsegment
    """,
    ("quality", "governance"),
)
def governance_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: ordered EMD between each (nation, segment) group's balance-band
    distribution and the global one, in exact integers over a common denominator, one quantized
    division, t=0.2 flag."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    bands = t["customer"].select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000").alias("band"),
    )
    # the aggregated legs are multi-consumer and the compiled plan
    # re-scans customer per consumer (8 pruned 1-3 column scans) —
    # DELIBERATELY uncached: the interleaved A/B measured track_cache
    # on gl+gq at 1.27 s / 13 jobs vs 0.62 s / 10 uncached (seventh
    # cache counter-datapoint; all consumers in ONE action, and a
    # pruned parquet re-scan costs about what the cache write costs —
    # CLAUDE.md). On a 100 TB customer table, cache the two aggregates.
    gl = bands.groupBy("band").agg(F.count(F.lit(1)).alias("cnt_all"))
    tot = gl.agg(
        F.sum("cnt_all").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    gq = bands.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("cnt_g")
    )
    qi = gq.select("c_nationkey", "c_mktsegment").distinct()
    spine = (
        qi.crossJoin(F.broadcast(gl))
        .join(gq, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            "cnt_all",
            F.coalesce("cnt_g", F.lit(0)).alias("cnt_g"),
        )
        .crossJoin(F.broadcast(tot))
    )
    wg = W.partitionBy("c_nationkey", "c_mktsegment")
    wcum = wg.orderBy("band").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = spine.select(
        "c_nationkey",
        "c_mktsegment",
        "band",
        "n_total",
        "m",
        F.sum("cnt_g").over(wg).cast("long").alias("grp_sz"),
        (
            F.col("cnt_g") * F.col("n_total")
            - F.col("cnt_all") * F.sum("cnt_g").over(wg).cast("long")
        ).alias("diff"),
    )
    run = cum.select(
        "c_nationkey",
        "c_mktsegment",
        "grp_sz",
        "n_total",
        "m",
        F.abs(F.sum("diff").over(wcum).cast("long")).alias("acum"),
    )
    emd = run.groupBy("c_nationkey", "c_mktsegment", "grp_sz", "n_total", "m").agg(
        F.sum("acum").cast("long").alias("t_num")
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "grp_sz",
        "t_num",
        (F.col("grp_sz") * F.col("n_total") * (F.col("m") - 1)).alias("t_den"),
    )
    return emd.select(
        "c_nationkey",
        "c_mktsegment",
        "grp_sz",
        F.when(F.col("t_den") == 0, F.lit(0.0))
        # The denominators fit BIGINT up to ~1e9-row corpora; beyond that, pre-quantize the
        # per-band probabilities.
        .otherwise(F.expr("cast(t_num * 1000000 div t_den as bigint)") / 1e6)
        .alias("emd"),
        (F.col("t_num") * 5 > F.col("t_den")).alias("violates"),
    ).orderBy("c_nationkey", "c_mktsegment")


@query(
    "xe8_attribution_linear",
    """
    WITH pur AS (
        SELECT event_id AS pid, user_id, ts AS pts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    tou AS (
        SELECT event_id AS tid, user_id, ts AS tts, event_type AS channel
        FROM events WHERE event_type <> 'purchase'
    ),
    j AS (
        SELECT p.pid, p.cents, t.tid, t.channel,
               row_number() OVER (PARTITION BY p.pid
                                  ORDER BY t.tts DESC, t.tid) AS rk,
               count(*) OVER (PARTITION BY p.pid) AS n
        FROM pur p JOIN tou t
          ON t.user_id = p.user_id
         AND t.tts < p.pts
         AND epoch_us(p.pts) - epoch_us(t.tts) <= 604800000000
    )
    SELECT channel,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(cents // n + CASE WHEN rk <= cents % n THEN 1 ELSE 0 END)
                AS BIGINT) AS credited_cents
    FROM j GROUP BY channel ORDER BY channel
    """,
    ("events", "analytics"),
)
def xe8_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear attribution: each purchase's cents split over its touches in a 7-day microsecond
    lookback, cents div n each with the remainder to the latest touches, so credit sums exactly to
    the purchase."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"]
    # calendar-week bucket from the naive date: tz/DST-immune (works on
    # NTZ and LTZ event timestamps alike) and monotone, so a touch can
    # only serve purchases in its own bucket or the next — date(pts) <=
    # date(tts) + 7 whenever pts <= tts + 7 days. Spark-internal only;
    # the exact micros predicate below decides membership.
    def _week(col):
        return F.floor(
            F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date")) / 7
        ).cast("long")

    pur = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        _week(F.col("ts")).alias("wk"),
    )
    tou = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
        F.explode(F.array(_week(F.col("ts")), _week(F.col("ts")) + 1)).alias("wk"),
    )
    j = (
        pur.join(tou, ["user_id", "wk"])
        .filter(
            (F.col("tts") < F.col("pts"))
            # 7-day lookback in exact microseconds (x81/x82 idiom)
            & (F.timestamp_diff("MICROSECOND", F.col("tts"), F.col("pts")) <= 604_800_000_000)
        )
        .select(
            "pid",
            "cents",
            "tid",
            "channel",
            F.row_number()
            .over(W.partitionBy("pid").orderBy(F.col("tts").desc(), F.col("tid")))
            .alias("rk"),
            F.count(F.lit(1)).over(W.partitionBy("pid")).alias("n"),
        )
    )
    return (
        j.groupBy("channel")
        .agg(
            F.countDistinct("pid").cast("long").alias("n_purchases"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(
                F.expr("cents div n") + F.when(F.col("rk") <= F.col("cents") % F.col("n"), 1).otherwise(0)
            )
            .cast("long")
            .alias("credited_cents"),
        )
        .orderBy("channel")
    )


@query(
    "xdr_changepoint_cusum",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    dev AS (
        SELECT event_type, d, c,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s_total,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) * c
                   - CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS dv
        FROM daily
    ),
    cs AS (
        SELECT event_type, d, n_days, s_total,
               CAST(sum(dv) OVER (PARTITION BY event_type ORDER BY d
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cusum
        FROM dev
    ),
    pick AS (
        SELECT event_type, d, n_days, s_total, cusum,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(cusum) DESC, d) AS rk
        FROM cs
    )
    SELECT event_type, n_days, d AS change_day,
           abs(cusum) AS cusum_peak,
           CASE WHEN cusum > 0 THEN 1 WHEN cusum < 0 THEN -1 ELSE 0 END AS direction,
           CASE WHEN n_days * s_total = 0 THEN 0.0
                ELSE CAST(abs(cusum) * 1000000 // (n_days * s_total) AS BIGINT) / 1e6
           END AS shift_score
    FROM pick WHERE rk = 1
    ORDER BY event_type
    """,
    ("events", "analytics", "quality"),
)
def xdr_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: exact integer deviations n*c - S, a running sum, the day
    of max |CUSUM| (earliest tie), one quantized division for the score and a separate sign
    column."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = W.partitionBy("event_type")
    wcum = wt.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    dev = daily.select(
        "event_type",
        "d",
        F.count(F.lit(1)).over(wt).cast("long").alias("n_days"),
        F.sum("c").over(wt).cast("long").alias("s_total"),
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("c")
            - F.sum("c").over(wt).cast("long")
        ).alias("dv"),
    )
    cs = dev.select(
        "event_type",
        "d",
        "n_days",
        "s_total",
        F.sum("dv").over(wcum).cast("long").alias("cusum"),
    )
    pick = cs.select(
        "event_type",
        "d",
        "n_days",
        "s_total",
        "cusum",
        F.row_number()
        .over(wt.orderBy(F.abs(F.col("cusum")).desc(), F.col("d")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return pick.select(
        "event_type",
        "n_days",
        F.col("d").alias("change_day"),
        F.abs(F.col("cusum")).alias("cusum_peak"),
        F.when(F.col("cusum") > 0, 1).when(F.col("cusum") < 0, -1).otherwise(0).alias("direction"),
        F.when(F.col("n_days") * F.col("s_total") == 0, F.lit(0.0))
        .otherwise(
            F.expr("cast(abs(cusum) * 1000000 div (n_days * s_total) as bigint)") / 1e6
        )
        .alias("shift_score"),
    ).orderBy("event_type")


@query(
    "dedup_span_regions",
    r"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(text, '\s+') w FROM documents),
    spans AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5('0:' || concat_ws(' ', w[i+1], w[i+2], w[i+3],
                    w[i+4], w[i+5], w[i+6], w[i+7], w[i+8])), 1, 15))::BIGINT AS span_h
        FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
              FROM words WHERE len(w) >= 8)
    ),
    dup AS (SELECT span_h FROM spans GROUP BY span_h HAVING count(DISTINCT doc_id) >= 2),
    dpos AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup d ON d.span_h = s.span_h),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM dpos
    ),
    grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM marked
    ),
    regions AS (
        SELECT doc_id, min(pos) AS s0,
               max(pos) - min(pos) + 8 AS rw
        FROM grp GROUP BY doc_id, g
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_regions,
               CAST(sum(rw) AS BIGINT) AS dup_words,
               CAST(max(rw) AS BIGINT) AS longest_region_words
        FROM regions GROUP BY doc_id
    ),
    longest AS (
        SELECT doc_id, s0 + 1 AS longest_region_start
        FROM (SELECT doc_id, s0,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY rw DESC, s0) AS rk
              FROM regions)
        WHERE rk = 1
    ),
    nw AS (SELECT doc_id, len(w) AS n_words FROM words)
    SELECT n.doc_id,
           CAST(coalesce(p.n_regions, 0) AS BIGINT) AS n_regions,
           CAST(coalesce(p.dup_words, 0) AS BIGINT) AS dup_words,
           CAST(coalesce(p.longest_region_words, 0) AS BIGINT) AS longest_region_words,
           CAST(coalesce(l.longest_region_start, 0) AS BIGINT) AS longest_region_start,
           CAST(coalesce(p.dup_words, 0) * 1000000 // greatest(n.n_words, 1) AS BIGINT) / 1e6
               AS dup_word_frac,
           (coalesce(p.dup_words, 0) * 10 >= n.n_words * 3) AS flagged
    FROM nw n
    LEFT JOIN per p ON p.doc_id = n.doc_id
    LEFT JOIN longest l ON l.doc_id = n.doc_id
    ORDER BY n.doc_id
    """,
    ("dedup", "text"),
)
def dedup_span_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring regions (Lee et al. ExactSubstr): covered 8-gram positions
    merged by gaps-and-islands; per doc region count, exact word coverage, longest region and a 30%
    flag."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    docs = t["documents"]
    runs = dedup_ops.dup_span_runs(docs, span_words=8, min_docs=2)
    wdoc = W.partitionBy("doc")
    per = (
        runs.select(
            "doc",
            "region_start",
            "region_words",
            F.count(F.lit(1)).over(wdoc).cast("long").alias("n_regions"),
            F.sum("region_words").over(wdoc).cast("long").alias("dup_words"),
            F.row_number()
            .over(wdoc.orderBy(F.col("region_words").desc(), F.col("region_start")))
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            F.col("doc").alias("doc_id"),
            "n_regions",
            "dup_words",
            # rank-1 row IS the longest region (earliest on ties)
            F.col("region_words").alias("longest_region_words"),
            F.col("region_start").alias("longest_region_start"),
        )
    )
    nw = docs.select("doc_id", F.size(F.split("text", r"\s+")).alias("n_words"))
    return (
        nw.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_regions", F.lit(0)).cast("long").alias("n_regions"),
            F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
            F.coalesce("longest_region_words", F.lit(0))
            .cast("long")
            .alias("longest_region_words"),
            F.coalesce("longest_region_start", F.lit(0))
            .cast("long")
            .alias("longest_region_start"),
            (
                F.expr(
                    "cast(coalesce(dup_words, 0) * 1000000 div greatest(n_words, 1) as bigint)"
                )
                / 1e6
            ).alias("dup_word_frac"),
            (F.coalesce("dup_words", F.lit(0)) * 10 >= F.col("n_words") * 3).alias(
                "flagged"
            ),
        )
        .orderBy("doc_id")
    )


def _bpe_chain_sql(
    rounds: int, min_len: int = 2, source: str = "documents", prelude: str = ""
) -> str:
    """Unrolled BPE oracle CTE chain: one MATERIALIZED block per round
    (the kcore recipe — DuckDB inlines plain CTEs, so an unrolled
    iteration whose round N references round N-1 more than once would
    compile 2^rounds subtree copies). Replicates text._bpe_iterate
    bit-exactly: position-overlapping pair counts, (n DESC, left,
    right) argmax, window-only greedy non-overlapping merge
    (odd-indexed candidates per island), row_number re-densification.
    Callers append their own final SELECT (xd7 reads the m{r} merge
    rows; bpe_segment_corpus reads the converged s{rounds} state).

    Convergence-stable (r11, ADVICE fix): the per-round broadcast of
    the argmax pair is a LEFT JOIN b{r} ON true, NOT a cross join — if
    the corpus runs out of adjacent pairs before `rounds` (b{r}
    empty), each p row gets NULL a/b, `coalesce(sym=a AND nxt=b,
    false)` marks nothing, and s{r} passes s{r-1} through unchanged
    while m{r} stays empty — exactly text._bpe_iterate's early `break`
    (it keeps the converged state and stops emitting merges). A cross
    join would instead empty the whole s{r}..s{rounds} chain and
    report zero tokens for every doc. Pinned engine-pair on a
    converges-in-one-round corpus in
    tests/test_engine_pair_idioms.py."""
    parts = [
        rf"""
    WITH {prelude}vocab AS MATERIALIZED (
        SELECT w, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM {source}
        ) WHERE length(w) >= {min_len} GROUP BY w
    ),
    s0 AS MATERIALIZED (
        SELECT w, cnt, i AS pos, substr(w, i::INTEGER + 1, 1) AS sym
        FROM vocab, LATERAL unnest(range(0, length(w))) AS t(i)
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    p{r} AS MATERIALIZED (
        SELECT w, cnt, pos, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM s{r - 1}
    ),
    b{r} AS MATERIALIZED (
        SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS n
        FROM p{r} WHERE nxt IS NOT NULL
        GROUP BY sym, nxt ORDER BY n DESC, sym, nxt LIMIT 1
    ),
    k{r} AS MATERIALIZED (
        SELECT w, cnt, pos, sym,
               (is_cand AND rn_cand % 2 = 1) AS keep
        FROM (
            SELECT w, cnt, pos, sym, is_cand,
                   sum(CASE WHEN is_cand THEN 1 ELSE 0 END)
                       OVER (PARTITION BY w, nc ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS rn_cand
            FROM (
                SELECT p.w, p.cnt, p.pos, p.sym,
                       coalesce(p.sym = b.a AND p.nxt = b.b, false) AS is_cand,
                       sum(CASE WHEN coalesce(p.sym = b.a AND p.nxt = b.b, false)
                                THEN 0 ELSE 1 END)
                           OVER (PARTITION BY p.w ORDER BY p.pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS nc
                FROM p{r} p LEFT JOIN b{r} b ON true
            )
        )
    ),
    s{r} AS MATERIALIZED (
        SELECT w, cnt,
               row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
               CASE WHEN keep THEN (SELECT a || b FROM b{r}) ELSE sym END AS sym
        FROM (
            SELECT w, cnt, pos, sym, keep,
                   lag(keep) OVER (PARTITION BY w ORDER BY pos) AS drp
            FROM k{r}
        )
        WHERE NOT coalesce(drp, false)
    ),
    m{r} AS MATERIALIZED (
        SELECT {r} AS round, a AS left_sym, b AS right_sym, a || b AS merged,
               n AS n_occurrences,
               (SELECT CAST(count(*) AS BIGINT) FROM s{r}) AS symbols_after
        FROM b{r}
    )"""
        )
    return ",".join(parts)


def _bpe_rounds_sql(rounds: int) -> str:
    union = "\n    UNION ALL\n    ".join(f"SELECT * FROM m{r}" for r in range(1, rounds + 1))
    return _bpe_chain_sql(rounds, min_len=2) + f"\n    {union}\n    ORDER BY round"


def _bpe_encode_chain_sql(rounds: int) -> str:
    """Frozen-table BPE ENCODE oracle chain (shared by xdj and xdl —
    the _bpe_chain_sql consumer-appends-final pattern): the learn chain
    runs over the TRAIN hash-split only (prelude CTEs +
    source='train'), then an encode chain (e0..e{rounds}) applies each
    learned pair b{r} — in rank order — to the HELDOUT split's word
    state with the same island-merge blocks, ending in a `wt`
    word->token-count CTE. Rank-order application equals the classic
    min-rank loop for a formation-ordered table (see text.bpe_encode);
    every pair join is LEFT JOIN ON true so rounds past convergence
    pass the state through unchanged (the r11 convergence rule)."""
    prelude = r"""train AS MATERIALIZED (
        SELECT * FROM documents
        WHERE ('0x' || substr(md5('bpe_enc:' || doc_id), 1, 15))::BIGINT % 5 < 4
    ),
    held AS MATERIALIZED (
        SELECT * FROM documents
        WHERE ('0x' || substr(md5('bpe_enc:' || doc_id), 1, 15))::BIGINT % 5 = 4
    ),
    """
    parts = [
        _bpe_chain_sql(rounds, min_len=1, source="train", prelude=prelude),
        r"""
    e0 AS MATERIALIZED (
        SELECT w, cnt, i AS pos, substr(w, i::INTEGER + 1, 1) AS sym
        FROM (
            SELECT w, count(*) AS cnt FROM (
                SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM held
            ) WHERE length(w) >= 1 GROUP BY w
        ), LATERAL unnest(range(0, length(w))) AS t(i)
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    ep{r} AS MATERIALIZED (
        SELECT w, cnt, pos, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM e{r - 1}
    ),
    ek{r} AS MATERIALIZED (
        SELECT w, cnt, pos, sym,
               (is_cand AND rn_cand % 2 = 1) AS keep
        FROM (
            SELECT w, cnt, pos, sym, is_cand,
                   sum(CASE WHEN is_cand THEN 1 ELSE 0 END)
                       OVER (PARTITION BY w, nc ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS rn_cand
            FROM (
                SELECT p.w, p.cnt, p.pos, p.sym,
                       coalesce(p.sym = b.a AND p.nxt = b.b, false) AS is_cand,
                       sum(CASE WHEN coalesce(p.sym = b.a AND p.nxt = b.b, false)
                                THEN 0 ELSE 1 END)
                           OVER (PARTITION BY p.w ORDER BY p.pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS nc
                FROM ep{r} p LEFT JOIN b{r} b ON true
            )
        )
    ),
    e{r} AS MATERIALIZED (
        SELECT w, cnt,
               row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
               CASE WHEN keep THEN (SELECT a || b FROM b{r}) ELSE sym END AS sym
        FROM (
            SELECT w, cnt, pos, sym, keep,
                   lag(keep) OVER (PARTITION BY w ORDER BY pos) AS drp
            FROM ek{r}
        )
        WHERE NOT coalesce(drp, false)
    )"""
        )
    parts.append(
        f"""
    wt AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(CASE WHEN length(sym) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_merged
        FROM e{rounds} GROUP BY w
    )"""
    )
    return ",".join(parts)


# per-doc rollup of the encode chain, shared by both finals
_BPE_ENCODE_PER_DOC = r"""
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(n_merged) AS BIGINT) AS n_merged_tokens
        FROM (
            SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
            FROM held
        ) ws
        JOIN wt USING (w)
        WHERE length(w) >= 1
        GROUP BY doc_id
"""


def _bpe_encode_sql(rounds: int) -> str:
    return (
        _bpe_encode_chain_sql(rounds)
        + r"""
    SELECT d.doc_id,
           CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(coalesce(p.n_merged_tokens, 0) AS BIGINT) AS n_merged_tokens,
           CAST(coalesce(p.n_bpe_tokens, 0) * 1000000
                // greatest(coalesce(p.n_words, 0), 1) AS BIGINT) / 1e6
               AS tokens_per_word
    FROM held d
    LEFT JOIN ("""
        + _BPE_ENCODE_PER_DOC
        + r"""
    ) p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """
    )


def _bpe_fertility_sql(rounds: int) -> str:
    return (
        _bpe_encode_chain_sql(rounds)
        + r"""
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(p.n_words, 0)) AS BIGINT) AS n_words,
           CAST(sum(coalesce(p.n_bpe_tokens, 0)) AS BIGINT) AS n_tokens,
           CAST(sum(coalesce(p.n_merged_tokens, 0)) AS BIGINT) AS n_merged,
           CAST(sum(coalesce(p.n_bpe_tokens, 0)) * 1000000
                // greatest(sum(coalesce(p.n_words, 0)), 1) AS BIGINT) / 1e6
               AS fertility,
           CAST(sum(coalesce(p.n_merged_tokens, 0)) * 1000000
                // greatest(sum(coalesce(p.n_bpe_tokens, 0)), 1) AS BIGINT) / 1e6
               AS merged_frac
    FROM held d
    LEFT JOIN ("""
        + _BPE_ENCODE_PER_DOC
        + r"""
    ) p ON p.doc_id = d.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """
    )


@query(
    "xd7_bpe_learn_rounds",
    _bpe_rounds_sql(5),
    ("text", "pipeline"),
)
def xd7_bpe_learn_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE induction, 5 bounded merge rounds: exact weighted pair counts over the vocabulary,
    argmax with (count DESC, left, right) tie-break, greedy left-to-right non-overlapping
    application."""
    t = _t(spark, sf_dir)
    return text_ops.bpe_learn(t["documents"], rounds=5).orderBy("round")


# Geometric-mechanism (discrete Laplace) inverse-CDF thresholds at
# epsilon = 1 (alpha = e^-1): P(z) = (1-a)/(1+a) * a^|z|, enumerated
# 0, +1, -1, +2, -2, ... — cumulative mass floored to integer
# per-million thresholds ONCE here (the xcl Poisson idiom), so query
# time involves no transcendentals on either engine and the noise is
# literal-exact. Tail mass past |z|=9 is 67 per 1e6 and clamps to +10.
_GEOM_DP_CDF = [
    (0, 462117), (1, 632120), (-1, 802123), (2, 864664), (-2, 927205),
    (3, 950212), (-3, 973220), (4, 981684), (-4, 990148), (5, 993262),
    (-5, 996375), (6, 997521), (-6, 998666), (7, 999088), (-7, 999509),
    (8, 999664), (-8, 999819), (9, 999876), (-9, 999933),
]


def _geom_dp_case_sql(u: str) -> str:
    whens = " ".join(f"WHEN {u} < {t} THEN {z}" for z, t in _GEOM_DP_CDF)
    return f"CASE {whens} ELSE 10 END"


@query(
    "xd8_dp_geometric_release",
    f"""
    WITH grp AS (
        SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n_true
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    noise AS (
        SELECT c_nationkey, c_mktsegment, n_true,
               {_geom_dp_case_sql(
                   "('0x' || substr(md5('dp:' || c_nationkey || ':' || c_mktsegment), 1, 15))::BIGINT % 1000000"
               )} AS z
        FROM grp
    )
    SELECT c_nationkey, c_mktsegment, n_true, z,
           CASE WHEN n_true < 5 THEN -1
                ELSE greatest(n_true + z, 0) END AS n_released,
           (n_true < 5) AS suppressed
    FROM noise
    ORDER BY c_nationkey, c_mktsegment
    """,
    ("quality", "governance"),
)
def xd8_dp_geometric_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially private (eps=1) per-(nation, segment) counts: geometric noise from literal
    thresholds seeded by the md5 of the group key, counts < 5 suppressed to -1. Deterministic, so
    the oracle agrees."""
    t = _t(spark, sf_dir)
    grp = t["customer"].groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    u = F.pmod(
        dedup_ops.portable_hash(
            F.concat_ws(":", F.col("c_nationkey"), F.col("c_mktsegment")),
            F.lit("dp"),
        ),
        F.lit(1_000_000),
    )
    z = F.lit(10)
    for zv, thr in reversed(_GEOM_DP_CDF):
        z = F.when(u < thr, F.lit(zv)).otherwise(z)
    noised = grp.select("c_nationkey", "c_mktsegment", "n_true", z.alias("z"))
    return noised.select(
        "c_nationkey",
        "c_mktsegment",
        "n_true",
        "z",
        F.when(F.col("n_true") < 5, F.lit(-1))
        .otherwise(F.greatest(F.col("n_true") + F.col("z"), F.lit(0)))
        .cast("long")
        .alias("n_released"),
        (F.col("n_true") < 5).alias("suppressed"),
    ).orderBy("c_nationkey", "c_mktsegment")


@query(
    "bpe_segment_corpus",
    _bpe_chain_sql(5, min_len=1)
    + r"""
    SELECT d.doc_id,
           CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars,
           CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(coalesce(p.n_bpe_tokens, 0) * 1000000
                // greatest(coalesce(p.n_chars, 0), 1) AS BIGINT) / 1e6
               AS tokens_per_char
    FROM documents d
    LEFT JOIN (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(length(w)) AS BIGINT) AS n_chars,
               CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens
        FROM (
            SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w
            FROM documents
        ) ws
        JOIN (SELECT w, CAST(count(*) AS BIGINT) AS n_tok FROM s5 GROUP BY w) wt
          USING (w)
        WHERE length(w) >= 1
        GROUP BY doc_id
    ) p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    ("text", "pipeline"),
)
def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE segmentation of the corpus with the 5 learned merges: per-doc words, characters,
    learned-token count and the integer-quantized tokens-per-char ratio."""
    t = _t(spark, sf_dir)
    return text_ops.bpe_segment(
        t["documents"], rounds=5, min_word_len=1
    ).orderBy("doc_id")


@query(
    "xda_target_encoding",
    """
    WITH rows_ AS (
        SELECT c.c_mktsegment AS segment,
               ('0x' || substr(md5('fold:' || o.o_orderkey), 1, 15))::BIGINT % 5 AS fold,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    per_fold AS (
        SELECT segment, fold,
               CAST(count(*) AS BIGINT) AS n_fold,
               CAST(sum(cents) AS BIGINT) AS sum_fold
        FROM rows_ GROUP BY segment, fold
    ),
    tot AS (
        SELECT segment, fold, n_fold, sum_fold,
               CAST(sum(n_fold) OVER (PARTITION BY segment) AS BIGINT) AS n_all,
               CAST(sum(sum_fold) OVER (PARTITION BY segment) AS BIGINT) AS sum_all
        FROM per_fold
    )
    SELECT segment, fold, n_fold,
           n_all - n_fold AS n_oof,
           CASE WHEN n_all - n_fold = 0 THEN 0.0
                ELSE CAST((sum_all - sum_fold) * 100 // (n_all - n_fold) AS BIGINT) / 1e2
           END AS oof_mean_cents,
           CAST(sum_all * 100 // n_all AS BIGINT) / 1e2 AS full_mean_cents
    FROM tot
    ORDER BY segment, fold
    """,
    ("quality", "pipeline"),
)
def xda_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding over 5 hash folds: per-segment mean order value excluding the
    fold's own rows, in exact integer cents with one quantized division; empty complements
    guarded."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    # no explicit broadcast hint: customer is a DIMENSION here but not
    # bounded by construction (unlike band/centroid tables) — AQE picks
    # broadcast at bench SF and sort-merge when the dim outgrows the
    # threshold, the same legitimate flip the 100x probes adjudicated
    rows_ = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.pmod(
                dedup_ops.portable_hash(F.col("o_orderkey").cast("string"), F.lit("fold")),
                F.lit(5),
            ).alias("fold"),
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        )
    )
    per_fold = rows_.groupBy("segment", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_fold"),
        F.sum("cents").cast("long").alias("sum_fold"),
    )
    ws = W.partitionBy("segment")
    tot = per_fold.select(
        "segment",
        "fold",
        "n_fold",
        "sum_fold",
        F.sum("n_fold").over(ws).cast("long").alias("n_all"),
        F.sum("sum_fold").over(ws).cast("long").alias("sum_all"),
    )
    return tot.select(
        "segment",
        "fold",
        "n_fold",
        (F.col("n_all") - F.col("n_fold")).alias("n_oof"),
        F.when(F.col("n_all") - F.col("n_fold") == 0, F.lit(0.0))
        .otherwise(
            # BIGINT headroom: sum(cents) * 100 stays under 2^63 up to ~1e9 orders; beyond that,
            # quantize the per-fold means first.
            F.expr("cast((sum_all - sum_fold) * 100 div (n_all - n_fold) as bigint)") / 1e2
        )
        .alias("oof_mean_cents"),
        (F.expr("cast(sum_all * 100 div n_all as bigint)") / 1e2).alias("full_mean_cents"),
    ).orderBy("segment", "fold")


@query(
    "xfb_conformal_interval",
    """
    WITH rows_ AS (
        SELECT c.c_mktsegment AS segment,
               ('0x' || substr(md5('cp:' || o.o_orderkey), 1, 15))::BIGINT % 10 AS h,
               o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    mu AS (
        SELECT segment,
               CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu_cents
        FROM rows_ WHERE h < 6 GROUP BY segment
    ),
    cal AS (
        SELECT r.segment, abs(r.cents - m.mu_cents) AS resid, r.o_orderkey
        FROM rows_ r JOIN mu m ON m.segment = r.segment
        WHERE r.h IN (6, 7)
    ),
    caln AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY segment),
    q AS (
        SELECT c.segment, c.n_cal, r.resid AS q_cents
        FROM caln c
        JOIN (
            SELECT segment, resid,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY resid, o_orderkey) AS rk
            FROM cal
        ) r ON r.segment = c.segment
           AND r.rk = least((9 * (c.n_cal + 1) + 9) // 10, c.n_cal)
    ),
    test AS (
        SELECT r.segment,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN abs(r.cents - m.mu_cents) <= q.q_cents
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        FROM rows_ r
        JOIN mu m ON m.segment = r.segment
        JOIN q ON q.segment = r.segment
        WHERE r.h >= 8
        GROUP BY r.segment
    )
    SELECT m.segment, m.n_train, q.n_cal, t.n_test,
           m.mu_cents, q.q_cents, t.n_covered,
           CAST(t.n_covered * 1000000 // greatest(t.n_test, 1) AS BIGINT) / 1e6
               AS coverage,
           (t.n_covered * 10 >= t.n_test * 8) AS coverage_ok
    FROM mu m JOIN q ON q.segment = m.segment JOIN test t ON t.segment = m.segment
    ORDER BY m.segment
    """,
    ("quality", "pipeline"),
)
def xfb_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal intervals on a 60/20/20 hash split: train-mean predictor in integer cents,
    radius = exact ceil(0.9(n_cal+1))-th calibration residual, and test coverage with an 80%-floor
    flag."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    rows_ = (
        t["orders"]
        .join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.pmod(
                dedup_ops.portable_hash(F.col("o_orderkey").cast("string"), F.lit("cp")),
                F.lit(10),
            ).alias("h"),
            "o_orderkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
        )
    )
    mu = (
        rows_.filter(F.col("h") < 6)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.expr("cast(sum(cents) as bigint) div cast(count(1) as bigint)").alias(
                "mu_cents"
            ),
        )
    )
    # mu, caln, q and test hold one row per market segment and every join
    # against them is a broadcast hint: left to AQE, which joins it turned
    # into broadcasts at runtime depended on stage timing, so the job count
    # varied with the core count (16 at 8 cores, 18 at 32).
    cal = (
        rows_.filter(F.col("h").isin(6, 7))
        .join(F.broadcast(mu.select("segment", "mu_cents")), "segment")
        .select(
            "segment",
            F.abs(F.col("cents") - F.col("mu_cents")).alias("resid"),
            "o_orderkey",
        )
    )
    caln = cal.groupBy("segment").agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    # the rank frame renames its key: both frames derive from `cal`, so
    # a bare segment == segment condition carries one expression id and
    # leans on Spark's dataset-id self-join disambiguation (it resolves
    # correctly today but warns "trivially true equals predicate" — an
    # engine-version change in that resolution would silently cross-join)
    ranked = cal.select(
        F.col("segment").alias("__rseg"),
        "resid",
        F.row_number()
        # Exact order statistic over the calibration split (20% of rows) per segment; at larger
        # scale use operators/quantiles' histogram path.
        .over(W.partitionBy("segment").orderBy("resid", "o_orderkey"))
        .alias("rk"),
    )
    q = F.broadcast(caln).join(
        ranked,
        (F.col("rk") == F.least(F.expr("(9 * (n_cal + 1) + 9) div 10"), F.col("n_cal")))
        & (F.col("__rseg") == F.col("segment")),
    ).select("segment", "n_cal", F.col("resid").alias("q_cents"))
    test = (
        rows_.filter(F.col("h") >= 8)
        .join(F.broadcast(mu.select("segment", "mu_cents")), "segment")
        .join(F.broadcast(q.select("segment", "q_cents")), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("mu_cents")) <= F.col("q_cents"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        mu.join(F.broadcast(q), "segment")
        .join(F.broadcast(test), "segment")
        .select(
            "segment",
            "n_train",
            "n_cal",
            "n_test",
            "mu_cents",
            "q_cents",
            "n_covered",
            (
                F.expr("cast(n_covered * 1000000 div greatest(n_test, 1) as bigint)")
                / 1e6
            ).alias("coverage"),
            (F.col("n_covered") * 10 >= F.col("n_test") * 8).alias("coverage_ok"),
        )
        .orderBy("segment")
    )


# nDCG@10 positional discount weights: floor(1e9 / log2(rank + 1)),
# computed ONCE here (the xd8 literal-table idiom — both engines
# consume the identical integer literals, no query-time logarithms;
# formula-pinned in tests/test_statistics_ops.py).
_NDCG_W = [
    1000000000, 630929753, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464876, 301029995, 289064826,
]


def _ndcg_w_case_sql(rk: str) -> str:
    whens = " ".join(f"WHEN {rk} = {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W))
    return f"CASE {whens} ELSE 0 END"


def _supplier_revenue_reach(t: dict) -> DataFrame:
    """``(n_name, s_suppkey, rev, n_orders)``: per (nation, supplier)
    exact discounted revenue in cent-percent units and the number of
    distinct orders reached."""
    return (
        t["lineitem"]
        .join(t["supplier"].select("s_suppkey", "s_nationkey"),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"].select("n_nationkey", "n_name"),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * 100) as bigint)"
                    " * (100 - cast(round(l_discount * 100) as bigint))"
                )
            )
            .cast("long")
            .alias("rev"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )


@query(
    "xdc_ndcg_ranking_eval",
    f"""
    WITH per AS (
        SELECT n.n_name, s.s_suppkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS rev,
               CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name, s.s_suppkey
    ),
    graded AS (
        SELECT n_name, s_suppkey, rev,
               4 - ntile(4) OVER (PARTITION BY n_name
                                  ORDER BY n_orders DESC, s_suppkey) AS rel
        FROM per
    ),
    ranked AS (
        SELECT n_name,
               (CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END) AS gain,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY rev DESC, s_suppkey) AS sys_rk,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY rel DESC, s_suppkey) AS ideal_rk
        FROM graded
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(gain AS BIGINT) * {_ndcg_w_case_sql("sys_rk")}) AS BIGINT) AS dcg_q,
           CAST(sum(CAST(gain AS BIGINT) * {_ndcg_w_case_sql("ideal_rk")}) AS BIGINT) AS idcg_q,
           CASE WHEN CAST(sum(CAST(gain AS BIGINT) * {_ndcg_w_case_sql("ideal_rk")}) AS BIGINT) = 0
                THEN 0.0
                ELSE CAST(CAST(sum(CAST(gain AS BIGINT) * {_ndcg_w_case_sql("sys_rk")}) AS BIGINT) * 1000000
                          // CAST(sum(CAST(gain AS BIGINT) * {_ndcg_w_case_sql("ideal_rk")}) AS BIGINT)
                          AS BIGINT) / 1e6
           END AS ndcg_at_10
    FROM ranked GROUP BY n_name ORDER BY n_name
    """,
    ("quality", "analytics"),
)
def xdc_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 per nation: suppliers ranked by exact revenue cents, judged against order-reach
    quartile relevance. DCG terms use literal integer discounts; nDCG is one quantized division."""
    from pyspark.sql.window import Window as W

    per = _supplier_revenue_reach(_t(spark, sf_dir))
    wn = W.partitionBy("n_name")
    graded = per.select(
        "n_name",
        "s_suppkey",
        "rev",
        (
            F.lit(4)
            - F.ntile(4).over(wn.orderBy(F.col("n_orders").desc(), "s_suppkey"))
        ).alias("rel"),
    )
    ranked = graded.select(
        "n_name",
        F.when(F.col("rel") == 3, 7)
        .when(F.col("rel") == 2, 3)
        .when(F.col("rel") == 1, 1)
        .otherwise(0)
        .alias("gain"),
        F.row_number().over(wn.orderBy(F.col("rev").desc(), "s_suppkey")).alias("sys_rk"),
        F.row_number().over(wn.orderBy(F.col("rel").desc(), "s_suppkey")).alias("ideal_rk"),
    )

    def w_of(rk):
        # LONG literals: gain * 1e9-scale weights overflow a 32-bit
        # product under ANSI before the sum widens
        expr = F.lit(0).cast("long")
        for i, w in reversed(list(enumerate(_NDCG_W))):
            expr = F.when(F.col(rk) == i + 1, F.lit(w).cast("long")).otherwise(expr)
        return expr

    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(F.col("gain").cast("long") * w_of("sys_rk")).cast("long").alias("dcg_q"),
        F.sum(F.col("gain").cast("long") * w_of("ideal_rk")).cast("long").alias("idcg_q"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        "dcg_q",
        "idcg_q",
        F.when(F.col("idcg_q") == 0, F.lit(0.0))
        .otherwise(F.expr("cast(dcg_q * 1000000 div idcg_q as bigint)") / 1e6)
        .alias("ndcg_at_10"),
    ).orderBy("n_name")


@query(
    "xdd_cuped_ab_readout",
    """
    WITH base AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5('cuped:' || user_id), 1, 15))::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                             AND day(ts) <= 15 THEN CAST(floor(value) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                             AND day(ts) > 15 THEN CAST(floor(value) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM base
    ),
    th AS (
        SELECT nn, sx, sy,
               nn * sxy - sx * sy AS c_num,
               nn * sxx - sx * sx AS d_den,
               nn * syy - sy * sy AS y_den
        FROM pooled
    ),
    arms AS (
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(x) AS BIGINT) AS sx_a,
               CAST(sum(y) AS BIGINT) AS sy_a
        FROM base GROUP BY arm
    )
    SELECT a.arm, a.n_users, a.sx_a, a.sy_a,
           a.sy_a / a.n_users AS mean_y,
           CASE WHEN t.d_den = 0 THEN a.sy_a / a.n_users
                ELSE a.sy_a / a.n_users
                     - (t.c_num / t.d_den) * (a.sx_a / a.n_users - t.sx / t.nn)
           END AS adjusted_mean_y,
           CASE WHEN t.d_den = 0 THEN 0.0
                ELSE (t.c_num / t.d_den) END AS theta,
           CASE WHEN t.d_den = 0 OR t.y_den = 0 THEN 0.0
                ELSE (t.c_num / t.d_den) * (t.c_num / t.y_den) END AS var_reduction
    FROM arms a CROSS JOIN th t
    ORDER BY a.arm
    """,
    ("events", "analytics", "quality"),
)
def xdd_cuped_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED A/B readout: theta = cov(x, y)/var(x) from pooled exact BIGINT sums of floor-dollar
    spends, per-arm adjusted means as one fixed double expression, zero denominators guarded."""
    t = _t(spark, sf_dir)
    ev = t["events"]
    is_purch = (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    base = ev.groupBy("user_id").agg(
        F.sum(
            F.when(is_purch & (F.dayofmonth("ts") <= 15), F.expr("cast(floor(value) as bigint)"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(is_purch & (F.dayofmonth("ts") > 15), F.expr("cast(floor(value) as bigint)"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
    ).select(
        F.when(
            F.pmod(dedup_ops.portable_hash(F.col("user_id").cast("string"), F.lit("cuped")), F.lit(2)) == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        "x",
        "y",
    )
    pooled = base.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    th = pooled.select(
        "nn",
        "sx",
        "sy",
        # BIGINT headroom: nn * sxy at dollar scale fits to ~1e5 users x 1e4-dollar user totals;
        # beyond that pre-scale the covariate.
        (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("c_num"),
        (F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("d_den"),
        (F.col("nn") * F.col("syy") - F.col("sy") * F.col("sy")).alias("y_den"),
    )
    arms = base.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sx_a"),
        F.sum("y").cast("long").alias("sy_a"),
    )
    j = arms.crossJoin(F.broadcast(th))
    mean_y = F.col("sy_a") / F.col("n_users")
    theta = F.col("c_num") / F.col("d_den")
    return j.select(
        "arm",
        "n_users",
        "sx_a",
        "sy_a",
        mean_y.alias("mean_y"),
        F.when(F.col("d_den") == 0, mean_y)
        .otherwise(
            mean_y - theta * (F.col("sx_a") / F.col("n_users") - F.col("sx") / F.col("nn"))
        )
        .alias("adjusted_mean_y"),
        F.when(F.col("d_den") == 0, F.lit(0.0)).otherwise(theta).alias("theta"),
        F.when((F.col("d_den") == 0) | (F.col("y_den") == 0), F.lit(0.0))
        .otherwise(theta * (F.col("c_num") / F.col("y_den")))
        .alias("var_reduction"),
    ).orderBy("arm")


@query(
    "dedup_region_apply",
    r"""
    WITH words AS (SELECT doc_id, regexp_split_to_array(text, '\s+') w FROM documents),
    spans AS (
        SELECT doc_id, i AS pos,
               ('0x' || substr(md5('0:' || concat_ws(' ', w[i+1], w[i+2], w[i+3],
                    w[i+4], w[i+5], w[i+6], w[i+7], w[i+8])), 1, 15))::BIGINT AS span_h
        FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
              FROM words WHERE len(w) >= 8)
    ),
    dup AS (SELECT span_h FROM spans GROUP BY span_h HAVING count(DISTINCT doc_id) >= 2),
    dpos AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup d ON d.span_h = s.span_h),
    marked AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
                    THEN 1 ELSE 0 END AS brk
        FROM dpos
    ),
    grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM marked
    ),
    regions AS (
        SELECT doc_id, min(pos) + 1 AS r_start, max(pos) + 8 AS r_end
        FROM grp GROUP BY doc_id, g
    ),
    covered AS (
        SELECT DISTINCT doc_id, unnest(range(r_start, r_end + 1)) AS wp
        FROM regions
    ),
    stream AS (
        SELECT doc_id, i + 1 AS wp, w[i+1] AS word
        FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM words)
        WHERE length(w[i+1]) >= 1
    ),
    kept AS (
        SELECT s.doc_id, s.wp, s.word
        FROM stream s LEFT JOIN covered c ON c.doc_id = s.doc_id AND c.wp = s.wp
        WHERE c.wp IS NULL
    ),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(word, ' ' ORDER BY wp), '')) AS cleaned_md5
        FROM kept GROUP BY doc_id
    ),
    nw AS (SELECT doc_id, len(w) AS n_words FROM words)
    SELECT n.doc_id,
           CAST(n.n_words AS BIGINT) AS n_words,
           CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(n.n_words - coalesce(p.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(p.cleaned_md5, md5('')) AS cleaned_md5
    FROM nw n LEFT JOIN per p ON p.doc_id = n.doc_id
    ORDER BY n.doc_id
    """,
    ("dedup", "text", "pipeline"),
)
def dedup_region_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut every word inside a maximal duplicated region from every holder and verify the cleaned
    text by md5 of the kept words in position order. Empty survivors hash md5('') on both
    engines."""
    t = _t(spark, sf_dir)
    docs = t["documents"]
    runs = dedup_ops.dup_span_runs(docs, span_words=8, min_docs=2)
    covered = runs.select(
        "doc",
        F.explode(F.expr("sequence(region_start, region_end)")).alias("wp"),
    ).distinct()
    w = F.split(F.col("text"), r"\s+")
    stream = (
        docs.select(F.col("doc_id").alias("doc"), F.posexplode(w).alias("i", "word"))
        .filter(F.length("word") >= 1)
        .select("doc", (F.col("i") + 1).alias("wp"), "word")
    )
    kept = stream.join(covered, ["doc", "wp"], "left_anti")
    per = kept.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr("transform(sort_array(collect_list(struct(wp, word))), x -> x.word)"),
            )
        ).alias("cleaned_md5"),
    )
    nw = docs.select(F.col("doc_id").alias("doc"), F.size(w).alias("n_words"))
    return (
        nw.join(per, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


def _bpe_frozen_split(t: dict) -> tuple[DataFrame, list[tuple[str, str]]]:
    """The held-out 20% of ``documents`` (hash split on ``doc_id``) and
    the 5 merge pairs BPE learns on the other 80%, in rank order."""
    docs = t["documents"]
    bucket = F.pmod(
        dedup_ops.portable_hash(F.col("doc_id").cast("string"), F.lit("bpe_enc")),
        F.lit(5),
    )
    train = docs.filter(bucket < 4)
    held = docs.filter(bucket == 4)
    merges, _state = text_ops._bpe_iterate(
        train, "text", rounds=5, min_word_len=1,
        need_sizes=False, need_state=False,
    )
    return held, [(m[1], m[2]) for m in merges]


@query(
    "bpe_encode_frozen",
    _bpe_encode_sql(5),
    ("text", "pipeline"),
)
def bpe_encode_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-table BPE encoding: 5 merges learned on an 80% hash split, applied in rank order to
    the held-out 20%. Per held-out doc: words, BPE tokens, merged tokens and quantized
    tokens-per-word."""
    held, pairs = _bpe_frozen_split(_t(spark, sf_dir))
    return text_ops.bpe_encode(held, pairs).orderBy("doc_id")


@query(
    "dsir_importance_selection",
    r"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word
        FROM documents
    ),
    tgt_docs AS (SELECT doc_id, 1 AS t FROM documents WHERE lang = 'en'),
    vocab AS (
        SELECT w.word,
               CAST(count(*) AS BIGINT) AS cs,
               CAST(count(t.t) AS BIGINT) AS ct
        FROM words w LEFT JOIN tgt_docs t ON t.doc_id = w.doc_id
        GROUP BY w.word
    ),
    tot AS (
        SELECT CAST(sum(cs) AS BIGINT) AS ns,
               CAST(sum(ct) AS BIGINT) AS nt,
               CAST(count(*) AS BIGINT) AS v
        FROM vocab
    ),
    q AS (
        SELECT word,
               CAST(floor(ln(((ct + 1) * (ns + v)) / CAST((cs + 1) * (nt + v) AS DOUBLE))
                          * 1000000) AS BIGINT) AS q
        FROM vocab CROSS JOIN tot
    ),
    per AS (
        SELECT w.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(q.q) AS BIGINT) AS imp_q
        FROM words w JOIN q ON q.word = w.word
        GROUP BY w.doc_id
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    ranked AS (
        SELECT d.doc_id, d.lang,
               CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(p.imp_q, 0) AS BIGINT) AS imp_q,
               row_number() OVER (ORDER BY coalesce(p.imp_q, 0) DESC, d.doc_id)
                   AS sel_rank
        FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    )
    SELECT r.doc_id, r.lang, r.n_words, r.imp_q,
           CAST(r.sel_rank AS BIGINT) AS sel_rank,
           r.sel_rank * 5 <= n.n_docs AS selected
    FROM ranked r CROSS JOIN nd n
    ORDER BY r.doc_id
    """,
    ("text", "pipeline", "quality"),
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection toward the English subcorpus: per-word ln(p_target/p_source) with
    add-one smoothing, quantized to signed micro-nats once per word, exact per-doc sums, top 20% by
    (importance, doc_id)."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    docs = t["documents"]
    words = docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("word"))
    tgt = (
        docs.filter(F.col("lang") == "en")
        .select("doc_id")
        .withColumn("__t", F.lit(1))
    )
    vocab = (
        words.join(F.broadcast(tgt), "doc_id", "left")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cs"),
            F.count("__t").cast("long").alias("ct"),
        )
    )
    tot = vocab.agg(
        F.sum("cs").cast("long").alias("ns"),
        F.sum("ct").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    q = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        F.floor(
            F.log(
                # BIGINT headroom: (ct+1)*(ns+v) is ~1e18 at ~1e9 tokens; at larger corpora split
                # the ln into ln(ct+1) - ln(cs+1) + ln(ns+v) - ln(nt+v).
                ((F.col("ct") + 1) * (F.col("ns") + F.col("v")))
                / ((F.col("cs") + 1) * (F.col("nt") + F.col("v")))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("q"),
    )
    per = (
        words.join(F.broadcast(q), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("q").cast("long").alias("imp_q"),
        )
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ranked = (
        docs.select("doc_id", "lang")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("imp_q", F.lit(0)).cast("long").alias("imp_q"),
        )
        .withColumn(
            "sel_rank",
            F.row_number()
            # Global rank over the doc-level aggregate (one row per document); where that matters,
            # use the quantile-histogram threshold of xab.
            .over(W.orderBy(F.col("imp_q").desc(), "doc_id"))
            .cast("long"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "lang",
            "n_words",
            "imp_q",
            "sel_rank",
            (F.col("sel_rank") * 5 <= F.col("n_docs")).alias("selected"),
        )
        .orderBy("doc_id")
    )


@query(
    "xdl_bpe_fertility_by_lang",
    _bpe_fertility_sql(5),
    ("text", "pipeline", "quality"),
)
def xdl_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: held-out docs encoded with 5 frozen train-split merges,
    then docs, words, tokens, merged tokens, fertility and merged fraction as integer-quantized
    ratios."""
    held, pairs = _bpe_frozen_split(_t(spark, sf_dir))
    enc = text_ops.bpe_encode(held, pairs)
    return (
        enc.join(held.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_tokens"),
            F.sum("n_merged_tokens").cast("long").alias("n_merged"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_merged",
            (
                F.expr(
                    "cast(n_tokens * 1000000 div greatest(n_words, 1) as bigint)"
                )
                / 1e6
            ).alias("fertility"),
            (
                F.expr(
                    "cast(n_merged * 1000000 div greatest(n_tokens, 1) as bigint)"
                )
                / 1e6
            ).alias("merged_frac"),
        )
        .orderBy("lang")
    )


# RBO@10 literal tables (p = 0.9): W[d] = floor((1-p) * p^(d-1) / d * 1e12)
# computed once in exact integer arithmetic (9^(d-1) * 1e12 // (d * 10^d));
# SW[m] = sum(W[m..10]) is the suffix sum — an item whose worse rank is m
# contributes W[d] to every depth d >= m, so per-item weight = SW[m] and
# the whole RBO sum needs NO depth explode. MAXQ = sum(d * W[d]) is the
# truncated-RBO maximum (overlap_d = d at every depth), the normalizer.
# Formula-pinned in tests/test_statistics_ops.py.
_RBO_W = [
    100000000000, 45000000000, 27000000000, 18225000000, 13122000000,
    9841500000, 7592014285, 5978711250, 4782969000, 3874204890,
]
_RBO_SW = [
    235416399425, 135416399425, 90416399425, 63416399425, 45191399425,
    32069399425, 22227899425, 14635885140, 8657173890, 3874204890,
]
_RBO_MAXQ = 651321559895


def _rbo_sw_case_sql(m: str) -> str:
    whens = " ".join(f"WHEN {m} = {i + 1} THEN {w}" for i, w in enumerate(_RBO_SW))
    return f"CASE {whens} ELSE 0 END"


@query(
    "rbo_rank_agreement",
    f"""
    WITH per AS (
        SELECT n.n_name, s.s_suppkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS rev,
               CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name, s.s_suppkey
    ),
    ranked AS (
        SELECT n_name,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY rev DESC, s_suppkey) AS ra,
               row_number() OVER (PARTITION BY n_name
                                  ORDER BY n_orders DESC, s_suppkey) AS rb
        FROM per
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum({_rbo_sw_case_sql("greatest(ra, rb)")}) AS BIGINT) AS rbo_q,
           CAST(sum({_rbo_sw_case_sql("greatest(ra, rb)")}) * 1000000
                // {_RBO_MAXQ} AS BIGINT) / 1e6 AS rbo_norm
    FROM ranked GROUP BY n_name ORDER BY n_name
    """,
    ("quality", "analytics"),
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap @10 (p=0.9) per nation between supplier rankings by revenue and by order
    reach, in one aggregation over literal integer suffix-sum weights and one quantized
    normalisation."""
    from pyspark.sql.window import Window as W

    per = _supplier_revenue_reach(_t(spark, sf_dir))
    wn = W.partitionBy("n_name")
    ranked = per.select(
        "n_name",
        F.row_number().over(wn.orderBy(F.col("rev").desc(), "s_suppkey")).alias("ra"),
        F.row_number()
        .over(wn.orderBy(F.col("n_orders").desc(), "s_suppkey"))
        .alias("rb"),
    )
    sw = F.lit(0).cast("long")
    for i, w in reversed(list(enumerate(_RBO_SW))):
        sw = F.when(F.greatest("ra", "rb") == i + 1, F.lit(w).cast("long")).otherwise(sw)
    agg = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(sw).cast("long").alias("rbo_q"),
    )
    return agg.select(
        "n_name",
        "n_suppliers",
        "rbo_q",
        (F.expr(f"cast(rbo_q * 1000000 div {_RBO_MAXQ}L as bigint)") / 1e6).alias(
            "rbo_norm"
        ),
    ).orderBy("n_name")


@query(
    "spearman_rank_corr",
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    rx AS (
        SELECT
            2 * rank() OVER (ORDER BY x) + CAST(count(*) OVER (PARTITION BY x) AS BIGINT)
                - 1 - (CAST(count(*) OVER () AS BIGINT) + 1) AS cx,
            2 * rank() OVER (ORDER BY y) + CAST(count(*) OVER (PARTITION BY y) AS BIGINT)
                - 1 - (CAST(count(*) OVER () AS BIGINT) + 1) AS cy
        FROM per_user
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cx * cy) AS BIGINT) AS s_xy,
               CAST(sum(cx * cx) AS BIGINT) AS s_xx,
               CAST(sum(cy * cy) AS BIGINT) AS s_yy
        FROM rx
    )
    SELECT n, s_xy, s_xx, s_yy,
           CASE WHEN s_xx = 0 OR s_yy = 0 THEN 0
                ELSE CAST(floor(s_xy * 1.0 / (sqrt(s_xx * 1.0) * sqrt(s_yy * 1.0))
                                * 1000000) AS BIGINT) END / 1e6 AS spearman_rho
    FROM s
    """,
    ("events", "analytics"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho between per-user click and purchase counts: doubled average ranks as exact
    integers, exact centered BIGINT moments, rho as one double expression floor-quantized at 1e-6,
    zero variance guarded."""
    from pyspark.sql.window import Window as W

    per_user = _user_click_purchase_counts(_t(spark, sf_dir))
    # The unpartitioned rank windows run over the per-user aggregate (one row per user).
    n_all = F.count(F.lit(1)).over(W.partitionBy()).cast("long")

    def c2(col: str):
        return (
            F.lit(2) * F.rank().over(W.orderBy(col))
            + F.count(F.lit(1)).over(W.partitionBy(col)).cast("long")
            - F.lit(1)
            - (n_all + F.lit(1))
        )

    rx = per_user.select(c2("x").alias("cx"), c2("y").alias("cy"))
    s = rx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cx") * F.col("cy")).cast("long").alias("s_xy"),
        F.sum(F.col("cx") * F.col("cx")).cast("long").alias("s_xx"),
        F.sum(F.col("cy") * F.col("cy")).cast("long").alias("s_yy"),
    )
    return s.select(
        "n",
        "s_xy",
        "s_xx",
        "s_yy",
        (
            F.expr(
                "CASE WHEN s_xx = 0 OR s_yy = 0 THEN 0"
                # Two sqrts instead of sqrt(s_xx * s_yy), whose product overflows; headroom to ~2e5
                # users, then 4n^3 nears 2^63 and the moments must pre-scale.
                " ELSE CAST(floor(s_xy * 1.0 / (sqrt(s_xx * 1.0) * sqrt(s_yy * 1.0))"
                " * 1000000) AS BIGINT) END"
            )
            / 1e6
        ).alias("spearman_rho"),
    )


def _power_iter_sql(rounds: int) -> str:
    """Power-iteration oracle chain: e0 = the exploded (vec, pos, comp)
    embedding stream; v0 = the all-ones start vector in 1e6 integer
    units; per round, dot products and the matrix-vector product are
    sums of per-term FLOORED products — each term floor(comp * int) is
    an EXACT double (float32 mantissa 24 bits x |int| < 2^28 fits a
    53-bit mantissa; |comp| < 1 is a fixture contract), so the floors
    are boundary-free and the sums exact BIGINTs — and the iterate
    renormalizes by its max magnitude with pure integer division
    (magnitude + sign, G-shrink guard against (m*1e6) overflow at
    extreme row counts)."""
    parts = [
        r"""
    WITH e0 AS MATERIALIZED (
        -- CAST to DOUBLE first (the x86 rule): DuckDB would otherwise
        -- multiply FLOAT * BIGINT in single precision where Spark
        -- promotes to double
        SELECT vec_id, CAST(u.dim - 1 AS BIGINT) AS pos,
               CAST(u.comp AS DOUBLE) AS comp
        FROM (
            SELECT vec_id, unnest(embedding) AS comp,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings
        ) u
    ),
    v0 AS MATERIALIZED (
        SELECT DISTINCT pos, CAST(1000000 AS BIGINT) AS vq FROM e0
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    d{r} AS MATERIALIZED (
        SELECT e.vec_id,
               CAST(sum(CAST(floor(e.comp * v.vq) AS BIGINT)) AS BIGINT) AS dq
        FROM e0 e JOIN v{r - 1} v USING (pos)
        GROUP BY e.vec_id
    ),
    w{r} AS MATERIALIZED (
        SELECT e.pos,
               CAST(sum(CAST(floor(e.comp * d.dq) AS BIGINT)) AS BIGINT) AS wq
        FROM e0 e JOIN d{r} d USING (vec_id)
        GROUP BY e.pos
    ),
    v{r} AS MATERIALIZED (
        SELECT w.pos,
               CAST((CASE WHEN w.wq < 0 THEN -1 ELSE 1 END)
                    * (((abs(w.wq) // s.g) * 1000000) // greatest(s.mx // s.g, 1))
                    AS BIGINT) AS vq
        FROM w{r} w CROSS JOIN (
            SELECT greatest(max(abs(wq)), 1) AS mx,
                   greatest(greatest(max(abs(wq)), 1) // 1000000000000, 1) AS g
            FROM w{r}
        ) s
    )"""
        )
    parts.append(
        f"""
    SELECT v.pos, v.vq, w.wq, v.vq / 1e6 AS loading
    FROM v{rounds} v JOIN w{rounds} w USING (pos)
    ORDER BY v.pos
    """
    )
    return ",".join(parts[:-1]) + parts[-1]


@query(
    "pca_power_iteration",
    _power_iter_sql(5),
    ("similarity", "analytics"),
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings by 5 rounds of power iteration over exact integer
    products and sums, renormalized by magnitude + sign integer division. The oracle runs the same
    integer chain."""
    import numpy as np

    t = _t(spark, sf_dir)
    emb = t["embeddings"].select("embedding")
    dim = 64  # fixture contract: embeddings are 64-dim (pinned below)
    vq = [1_000_000] * dim
    wq = [0] * dim
    # Each round is a single in-array pass (r14 rewrite of the former
    # posexplode + repartition.persist + per-round join, 3.1 s / 16
    # jobs -> ~2 s / 10): dq = sum_j floor(comp_j * v_j) folds per row
    # over zip_with(embedding, literal iterate) — no vec_id shuffle,
    # no join — and w re-ranks through one posexplode + groupBy(pos)
    # of the 64x-narrow integer rows. The HOF lambdas are interpreted
    # but touch |V| * 64 elements once per round; integer sums are
    # order-independent, so every value is bit-identical to the old
    # plan and the python replica.
    for _ in range(5):
        varr = F.lit(np.asarray(vq, dtype=np.int64))
        rowd = emb.select(
            "embedding",
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    varr,
                    lambda x, v: F.floor(x.cast("double") * v).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dq"),
        )
        w = (
            rowd.select(
                F.posexplode(
                    F.transform(
                        F.col("embedding"),
                        lambda x: F.floor(x.cast("double") * F.col("dq")).cast(
                            "long"
                        ),
                    )
                ).alias("pos", "u")
            )
            .groupBy("pos")
            .agg(F.sum("u").cast("long").alias("wq"))
        )
        # One 64-int collect per round, re-emitted as a literal array: in-plan iterate joins
        # re-plan broadcast subtrees and ran 2-4x slower.
        wq_rows = sorted((r.pos, r.wq) for r in w.collect())
        wq = [int(q) for _, q in wq_rows]
        M = max(max(abs(q) for q in wq), 1)
        G = max(M // 10**12, 1)
        den = max(M // G, 1)
        vq = [
            (1 if q >= 0 else -1) * (((abs(q) // G) * 1_000_000) // den)
            for q in wq
        ]
    rows = [(p, int(vq[p]), int(wq[p]), vq[p] / 1e6) for p in range(dim)]
    return spark.createDataFrame(
        rows, "pos long, vq long, wq long, loading double"
    ).orderBy("pos")


@query(
    "xfp_cms_sketch_probe",
    r"""
    WITH words AS (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
    ),
    hashed AS (SELECT md5('cms:' || w) AS h FROM words),
    cells AS (
        SELECT r.r AS r,
               ('0x' || substr(h, r.r * 6 + 1, 6))::BIGINT % 256 AS b
        FROM hashed, (SELECT unnest([0, 1, 2, 3]) AS r) r
    ),
    cms AS (
        SELECT r, b, CAST(count(*) AS BIGINT) AS c
        FROM cells GROUP BY r, b
    ),
    probes AS (
        SELECT w, CAST(count(*) AS BIGINT) AS exact_n
        FROM words GROUP BY w
        ORDER BY exact_n DESC, w LIMIT 10
    ),
    est AS (
        SELECT p.w, p.exact_n, CAST(min(s.c) AS BIGINT) AS cms_est
        FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS r) r
        JOIN cms s
          ON s.r = r.r
         AND s.b = ('0x' || substr(md5('cms:' || p.w), r.r * 6 + 1, 6))::BIGINT % 256
        GROUP BY p.w, p.exact_n
    )
    SELECT w, exact_n, cms_est,
           cms_est - exact_n AS overcount,
           cms_est >= exact_n AS never_underestimates
    FROM est
    ORDER BY exact_n DESC, w
    """,
    ("sketch", "text", "aggregation"),
)
def xfp_cms_sketch_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4 x 256 md5-addressed counters) over the word stream, probed with the top
    10 exact words; estimate = min over rows, with cms_est >= exact_n as a column. All integers."""
    t = _t(spark, sf_dir)
    words = t["documents"].select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    )
    rows_ = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    # ONE md5 per word, four independent 6-hex-digit slices as the row
    # hashes — 4x less hashing than per-row salted digests; the sketch
    # build is the corpus-linear cost at scale, so the constant matters
    bucket = F.expr("cast(conv(substring(__h, r * 6 + 1, 6), 16, 10) as bigint) % 256")
    cells = (
        words.select(F.md5(F.concat(F.lit("cms:"), F.col("w"))).alias("__h"))
        .select("__h", rows_)
        .select("r", bucket.alias("b"))
    )
    cms = cells.groupBy("r", "b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    probes = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "w")
        .limit(10)
    )
    probe_cells = (
        probes.select(
            "w", "exact_n", F.md5(F.concat(F.lit("cms:"), F.col("w"))).alias("__h")
        )
        .select("w", "exact_n", "__h", rows_)
        .select("w", "exact_n", "r", bucket.alias("b"))
    )
    est = (
        probe_cells.join(F.broadcast(cms), ["r", "b"])
        .groupBy("w", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return est.select(
        "w",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        (F.col("cms_est") >= F.col("exact_n")).alias("never_underestimates"),
    ).orderBy(F.col("exact_n").desc(), "w")


@query(
    "roc_auc_eval",
    """
    WITH scored AS (
        SELECT c.c_mktsegment AS segment,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS score_cents,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
        SELECT segment, pos,
               2 * rank() OVER (PARTITION BY segment ORDER BY score_cents)
                 + CAST(count(*) OVER (PARTITION BY segment, score_cents) AS BIGINT)
                 - 1 AS r2
        FROM scored
    ),
    agg AS (
        SELECT segment,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(1 - pos) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) AS BIGINT) AS r2_pos
        FROM ranked GROUP BY segment
    ),
    agg2 AS (
        SELECT segment, n_pos, n_neg,
               r2_pos - n_pos * (n_pos + 1) AS u2
        FROM agg
    )
    SELECT segment, n_pos, n_neg, u2,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(((u2 // greatest(u2 // 1000000000000, 1)) * 1000000)
                          // greatest((2 * n_pos * n_neg)
                                      // greatest(u2 // 1000000000000, 1), 1)
                          AS BIGINT) / 1e6
           END AS auc
    FROM agg2 ORDER BY segment
    """,
    ("orders", "customer", "analytics"),
)
def roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC per market segment of order value for URGENT orders via tie-corrected Mann-Whitney:
    u2 = 2*R_pos - n_pos*(n_pos+1) from exact doubled ranks, AUC as one guarded quantized
    division."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    scored = (
        t["orders"]
        .select(
            "o_custkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("score_cents"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .cast("long")
            .alias("pos"),
        )
        .join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "score_cents", "pos")
    )
    r2 = (
        F.lit(2).cast("long")
        * F.rank().over(W.partitionBy("segment").orderBy("score_cents"))
        + F.count(F.lit(1)).over(W.partitionBy("segment", "score_cents")).cast("long")
        - F.lit(1)
    )
    ranked = scored.select("segment", "pos", r2.alias("r2"))
    agg = ranked.groupBy("segment").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1).cast("long") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("r2")).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("r2_pos"),
    )
    agg2 = agg.select(
        "segment",
        "n_pos",
        "n_neg",
        (F.col("r2_pos") - F.col("n_pos") * (F.col("n_pos") + F.lit(1).cast("long")))
        .cast("long")
        .alias("u2"),
    )
    return agg2.select(
        "segment",
        "n_pos",
        "n_neg",
        "u2",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(0 AS DOUBLE)"
            # G-shrink guard: u2 * 1e6 would overflow at ~4e6 rows per segment, so g = max(u2 div
            # 1e12, 1) divides both sides first (exact when g = 1, within one quantum otherwise).
            " ELSE CAST(((u2 div greatest(u2 div 1000000000000, 1)) * 1000000)"
            " div greatest((2 * n_pos * n_neg)"
            " div greatest(u2 div 1000000000000, 1), 1) AS BIGINT) / 1e6 END"
        ).alias("auc"),
    ).orderBy("segment")


# graph_lpa_communities' round count, read by the Spark body and by its
# unrolled oracle.
_LPA_ROUNDS = 4


def _lpa_oracle_sql() -> str:
    """Unrolled bounded-LPA oracle for ``graph_lpa_communities``:
    label states l0..l{_LPA_ROUNDS}, each round the plurality-label
    argmax (count DESC, label ASC) over the previous state joined one hop
    out.
    Every per-round CTE is ``AS MATERIALIZED`` (the kcore rule: DuckDB
    inlines plain CTEs, so an unrolled chain would otherwise compile
    exponential subtree copies). Synchronous semantics + deterministic
    tie-break make the fixed-depth chain a total function identical to
    the Spark loop on any fixture."""
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )""",
        "und AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS p, u AS lbl FROM und)",
    ]
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
        SELECT e.u, l.lbl, count(*) AS c
        FROM und e JOIN l{r - 1} l ON l.p = e.v
        GROUP BY e.u, l.lbl
    )"""
        )
        ctes.append(
            f"""l{r} AS MATERIALIZED (
        SELECT u AS p, lbl FROM (
            SELECT u, lbl,
                   row_number() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
            FROM c{r}
        ) WHERE rn = 1
    )"""
        )
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH {cte_sql}
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l{_LPA_ROUNDS} GROUP BY lbl ORDER BY community
    """


@query(
    "graph_lpa_communities",
    _lpa_oracle_sql(),
    ("lineitem", "graph", "analytics"),
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the support-2 co-purchase graph: exactly 4 synchronous
    rounds of plurality-label adoption (smallest label wins ties); per-community member counts. All
    integers."""
    from .operators.graph import label_propagation

    t = _t(spark, sf_dir)
    edges = _copurchase_support2_edges(t)
    return (
        label_propagation(edges, "u", "v", rounds=_LPA_ROUNDS)
        .groupBy(F.col("community").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy("community")
    )


@query(
    "xdx_link_prediction_cn",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    und AS MATERIALIZED (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS MATERIALIZED (
        SELECT u AS p, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    ),
    wedges AS (
        SELECT e1.v AS u, e2.v AS v
        FROM und e1
        JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
        JOIN deg dc ON dc.p = e1.u AND dc.d <= 64
    ),
    cn AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors
        FROM wedges GROUP BY u, v
    ),
    cand AS (
        SELECT c.u, c.v, c.common_neighbors
        FROM cn c
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.u = c.u AND e.v = c.v
        )
    )
    SELECT c.u, c.v, c.common_neighbors,
           du.d AS deg_u, dv.d AS deg_v,
           CAST(c.common_neighbors * 1000000
                // (du.d + dv.d - c.common_neighbors) AS BIGINT) / 1e6
               AS jaccard
    FROM cand c
    JOIN deg du ON du.p = c.u
    JOIN deg dv ON dv.p = c.v
    ORDER BY c.common_neighbors DESC, c.u, c.v
    LIMIT 20
    """,
    ("lineitem", "graph", "analytics"),
)
def xdx_link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction: top 20 non-adjacent part pairs by common-neighbor count
    with integer-quantized Jaccard, from an in-array wedge explode. Centers with degree > 64 are
    excluded on both sides."""
    t = _t(spark, sf_dir)
    edges = _copurchase_support2_edges(t)
    from pyspark.sql.window import Window as W

    from .operators.analytics import array_pairs
    from .operators.graph import _both_directions

    und = _both_directions(edges, "u", "v").distinct()
    # Attach each NEIGHBOR's degree before collecting adjacency: on the
    # symmetric distinct edge list, count() over partition __v IS
    # deg(v), so the wedge explode below carries both endpoint degrees
    # and the former deg_u/deg_v joins (an aggregate joined back onto
    # its own lineage — the x87 class; they sat on an AQE broadcast
    # threshold and flipped the job count 10<->11 WITHIN one session,
    # the only r12 jobs_spread entry) disappear from the plan entirely.
    und_d = und.select(
        "__u",
        F.struct(
            F.col("__v"), F.count(F.lit(1)).over(W.partitionBy("__v")).cast("long").alias("dv")
        ).alias("nbr"),
    )
    adj = und_d.groupBy("__u").agg(F.sort_array(F.collect_list("nbr")).alias("nb"))
    centers = adj.filter(F.size("nb") <= 64)
    wedges = centers.select(F.explode(array_pairs(F.col("nb"))).alias("p")).select(
        F.col("p")[0]["__v"].alias("u"),
        F.col("p")[0]["dv"].alias("deg_u"),
        F.col("p")[1]["__v"].alias("v"),
        F.col("p")[1]["dv"].alias("deg_v"),
    )
    cn = wedges.groupBy("u", "deg_u", "v", "deg_v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    )
    cand = cn.join(edges, ["u", "v"], "left_anti")
    return (
        cand
        .select(
            "u",
            "v",
            "common_neighbors",
            "deg_u",
            "deg_v",
            (
                F.expr(
                    "CAST(common_neighbors * 1000000"
                    " div (deg_u + deg_v - common_neighbors) AS BIGINT)"
                )
                / 1e6
            ).alias("jaccard"),
        )
        .orderBy(F.col("common_neighbors").desc(), "u", "v")
        .limit(20)
    )


@query(
    "xdy_seasonal_dow_profile",
    """
    WITH daily0 AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    b AS (SELECT min(day_i) AS dmin, max(day_i) AS dmax FROM daily0),
    spine AS (
        SELECT s.dmin, s.dmax, s.d AS day_i,
               COALESCE(d0.cents, 0) AS cents
        FROM (SELECT b.dmin, b.dmax,
                     unnest(generate_series(b.dmin, b.dmax)) AS d
              FROM b) s
        LEFT JOIN daily0 d0 ON d0.day_i = s.d
    ),
    ma AS (
        SELECT day_i, dmin, dmax, cents,
               CAST(sum(cents) OVER (ORDER BY day_i
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS ma7
        FROM spine
    ),
    interior AS (
        SELECT day_i % 7 AS dow, cents, 7 * cents - ma7 AS detr7
        FROM ma WHERE day_i BETWEEN dmin + 3 AND dmax - 3
    ),
    per_dow AS (
        SELECT dow,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS BIGINT) AS revenue_cents,
               CAST(sum(detr7) AS BIGINT) AS detr7_sum
        FROM interior GROUP BY dow
    )
    SELECT dow, n_days, revenue_cents,
           CASE WHEN sum(revenue_cents) OVER () = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(revenue_cents * 1000000
                          // CAST(sum(revenue_cents) OVER () AS BIGINT) AS BIGINT) / 1e6
           END AS revenue_share,
           CAST(detr7_sum * 1000000 // (7 * n_days) AS BIGINT) / 1e6
               AS mean_detrended_cents
    FROM per_dow
    ORDER BY dow
    """,
    ("events", "analytics", "timeseries"),
)
def xdy_seasonal_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week profile: daily revenue on a dense epoch-day spine, detrended by 7*daily -
    centered 7-day sum over interior days, then per-dow mean detrended cents and revenue share as
    quantized divisions."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    daily0 = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select(
            F.expr(
                "datediff(cast(ts as date), DATE '1970-01-01')"
            ).cast("long").alias("day_i"),
            F.expr("cast(round(value * 100) as bigint)").alias("__vc"),
        )
        .groupBy("day_i")
        .agg(F.sum("__vc").cast("long").alias("cents"))
    )
    b = daily0.agg(
        F.min("day_i").alias("dmin"), F.max("day_i").alias("dmax")
    )
    spine = (
        b.select(
            "dmin",
            "dmax",
            F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("day_i"),
        )
        .join(daily0, "day_i", "left")
        .select(
            "day_i", "dmin", "dmax", F.coalesce("cents", F.lit(0)).alias("cents")
        )
    )
    ma = spine.select(
        "day_i",
        "dmin",
        "dmax",
        "cents",
        F.sum("cents")
        # Unpartitioned: the dense day spine is bounded by the calendar, not the corpus.
        .over(W.orderBy("day_i").rowsBetween(-3, 3))
        .cast("long")
        .alias("ma7"),
    )
    interior = ma.filter(
        (F.col("day_i") >= F.col("dmin") + 3) & (F.col("day_i") <= F.col("dmax") - 3)
    ).select(
        (F.col("day_i") % 7).alias("dow"),
        "cents",
        (F.lit(7).cast("long") * F.col("cents") - F.col("ma7")).alias("detr7"),
    )
    per_dow = interior.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.sum("detr7").cast("long").alias("detr7_sum"),
    )
    return (
        per_dow.withColumn(
            "__tot", F.sum("revenue_cents").over(W.partitionBy()).cast("long")
        )
        .select(
            "dow",
            "n_days",
            "revenue_cents",
            F.expr(
                "CASE WHEN __tot = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE CAST(revenue_cents * 1000000 div __tot AS BIGINT) / 1e6 END"
            ).alias("revenue_share"),
            (
                F.expr("CAST(detr7_sum * 1000000 div (7 * n_days) AS BIGINT)") / 1e6
            ).alias("mean_detrended_cents"),
        )
        .orderBy("dow")
    )


@query(
    "xdz_lang_confusion_eval",
    f"""
    WITH scores AS (SELECT doc_id, lang, {{LANG_SCORES}} FROM documents),
    ranked AS (
        SELECT doc_id, lang,
               list_sort([{{LANG_STRUCTS}}])[1] AS best
        FROM scores
    ),
    pred AS (
        SELECT lang AS labeled,
               CASE WHEN best.neg_s < 0 THEN best.l ELSE 'unknown' END AS detected
        FROM ranked
    ),
    cm AS (
        SELECT labeled, detected, CAST(count(*) AS BIGINT) AS c
        FROM pred GROUP BY labeled, detected
    ),
    lab AS (SELECT labeled AS cls, CAST(sum(c) AS BIGINT) AS lab_n FROM cm GROUP BY labeled),
    det AS (SELECT detected AS cls, CAST(sum(c) AS BIGINT) AS det_n FROM cm GROUP BY detected),
    tp AS (SELECT labeled AS cls, CAST(sum(c) AS BIGINT) AS tp FROM cm
           WHERE labeled = detected GROUP BY labeled),
    spine AS (
        SELECT COALESCE(l.cls, d.cls) AS cls,
               COALESCE(l.lab_n, 0) AS lab_n,
               COALESCE(d.det_n, 0) AS det_n,
               COALESCE(t.tp, 0) AS tp
        FROM lab l
        FULL OUTER JOIN det d ON d.cls = l.cls
        LEFT JOIN tp t ON t.cls = COALESCE(l.cls, d.cls)
    ),
    tot AS (
        SELECT cls, lab_n, det_n, tp,
               CAST(sum(lab_n) OVER () AS BIGINT) AS n_total,
               CAST(sum(tp) OVER () AS BIGINT) AS agree,
               CAST(sum(lab_n * det_n) OVER () AS BIGINT) AS pe
        FROM spine
    )
    SELECT cls, lab_n, det_n, tp,
           CASE WHEN det_n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(tp * 1000000 // det_n AS BIGINT) / 1e6 END AS precision_q,
           CASE WHEN lab_n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(tp * 1000000 // lab_n AS BIGINT) / 1e6 END AS recall_q,
           CASE WHEN det_n + lab_n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(2 * tp * 1000000 // (det_n + lab_n) AS BIGINT) / 1e6
           END AS f1_q,
           CAST(agree * 1000000 // n_total AS BIGINT) / 1e6 AS accuracy_q,
           CASE WHEN n_total * n_total = pe THEN CAST(0 AS DOUBLE)
                ELSE CAST((n_total * agree - pe) * 1000000
                          // (n_total * n_total - pe) AS BIGINT) / 1e6
           END AS kappa_q
    FROM tot
    ORDER BY cls
    """.replace("{LANG_SCORES}", _lang_scores_sql()).replace(
        "{LANG_STRUCTS}",
        ", ".join(
            f"{{'neg_s': -score_{lang}, 'l': '{lang}'}}"
            for lang in sorted(text_ops.LANG_PROFILES)
        ),
    ),
    ("documents", "text", "analytics"),
)
def xdz_lang_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of heuristic language ID vs labels: per-class precision, recall and F1
    (2tp/(det+lab)), accuracy and Cohen's kappa, each one integer-quantized division with zero
    denominators guarded."""
    from pyspark.sql.window import Window as W

    from .operators.text import lang_id

    t = _t(spark, sf_dir)
    pred = lang_id(t["documents"].select("doc_id", "lang", "text")).select(
        F.col("lang").alias("labeled"), F.col("detected_lang").alias("detected")
    )
    cm = pred.groupBy("labeled", "detected").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lab = cm.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("c").cast("long").alias("lab_n")
    )
    det = cm.groupBy(F.col("detected").alias("cls")).agg(
        F.sum("c").cast("long").alias("det_n")
    )
    tp = (
        cm.filter(F.col("labeled") == F.col("detected"))
        .groupBy(F.col("labeled").alias("cls"))
        .agg(F.sum("c").cast("long").alias("tp"))
    )
    spine = (
        lab.join(det, "cls", "full_outer")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("lab_n", F.lit(0)).cast("long").alias("lab_n"),
            F.coalesce("det_n", F.lit(0)).cast("long").alias("det_n"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    # Unpartitioned window over the class-level aggregate (one row per class).
    w = W.partitionBy()
    tot = spine.select(
        "cls",
        "lab_n",
        "det_n",
        "tp",
        F.sum("lab_n").over(w).cast("long").alias("n_total"),
        F.sum("tp").over(w).cast("long").alias("agree"),
        F.sum(F.col("lab_n") * F.col("det_n")).over(w).cast("long").alias("pe"),
    )
    return tot.select(
        "cls",
        "lab_n",
        "det_n",
        "tp",
        F.expr(
            "CASE WHEN det_n = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(tp * 1000000 div det_n AS BIGINT) / 1e6 END"
        ).alias("precision_q"),
        F.expr(
            "CASE WHEN lab_n = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(tp * 1000000 div lab_n AS BIGINT) / 1e6 END"
        ).alias("recall_q"),
        F.expr(
            "CASE WHEN det_n + lab_n = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(2 * tp * 1000000 div (det_n + lab_n) AS BIGINT) / 1e6 END"
        ).alias("f1_q"),
        F.expr("CAST(agree * 1000000 div n_total AS BIGINT) / 1e6").alias(
            "accuracy_q"
        ),
        F.expr(
            "CASE WHEN n_total * n_total = pe THEN CAST(0 AS DOUBLE)"
            # Headroom: n_total^2 * 1e6 < 2^63 to ~3e6 docs; beyond that pre-divide pe.
            " ELSE CAST((n_total * agree - pe) * 1000000"
            " div (n_total * n_total - pe) AS BIGINT) / 1e6 END"
        ).alias("kappa_q"),
    ).orderBy("cls")


@query(
    "content_defined_chunks",
    """
    WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
    bnd AS (
        SELECT doc_id, p FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 1))) AS p
            FROM documents
        )
        WHERE ('0x' || substr(md5('0:' || substr(text, p, 8)), 1, 15))::BIGINT
              % 64 = 0
    ),
    allb AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, p FROM bnd
            UNION ALL SELECT doc_id, len AS p FROM d
        )
    ),
    chunks AS (
        SELECT doc_id,
               COALESCE(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1 AS s,
               p AS e
        FROM allb
    ),
    ct AS (
        SELECT md5(substr(d.text, c.s, c.e - c.s + 1)) AS h,
               CAST(c.e - c.s + 1 AS BIGINT) AS clen
        FROM chunks c JOIN d ON d.doc_id = c.doc_id
    ),
    per AS (
        SELECT h, CAST(count(*) AS BIGINT) AS cnt, CAST(min(clen) AS BIGINT) AS clen
        FROM ct GROUP BY h
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS total_chunks,
           CAST(count(*) AS BIGINT) AS distinct_chunks,
           CAST(sum(cnt * clen) AS BIGINT) AS total_bytes,
           CAST(sum(clen) AS BIGINT) AS distinct_bytes,
           CAST(sum(clen) * 1000000 // sum(cnt * clen) AS BIGINT) / 1e6
               AS byte_dedup_ratio,
           CAST(sum(cnt * clen) * 1000000 // sum(cnt) AS BIGINT) / 1e6
               AS mean_chunk_len
    FROM per
    """,
    ("documents", "text", "dedup"),
)
def content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: cut where the 8-gram md5 hash selects a boundary (P=1/64), chunk =
    md5 of the substring, then total vs distinct chunks and bytes and the dedup ratio,
    integer-quantized."""
    from pyspark.sql.window import Window as W

    from .operators.dedup import portable_hash

    t = _t(spark, sf_dir)
    d = t["documents"].select("doc_id", "text", F.length("text").alias("len"))
    pos = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("len") - 7, F.lit(1)))
        ).alias("p"),
    )
    bnd = pos.filter(
        portable_hash(F.expr("substring(text, p, 8)")) % 64 == 0
    ).select("doc_id", "p")
    allb = bnd.unionByName(d.select("doc_id", F.col("len").alias("p"))).distinct()
    chunks = allb.select(
        "doc_id",
        (
            F.coalesce(
                F.lag("p").over(W.partitionBy("doc_id").orderBy("p")), F.lit(0)
            )
            + 1
        ).alias("s"),
        F.col("p").alias("e"),
    )
    ct = chunks.join(d.select("doc_id", "text"), "doc_id").select(
        F.md5(F.expr("substring(text, s, e - s + 1)")).alias("h"),
        (F.col("e") - F.col("s") + 1).cast("long").alias("clen"),
    )
    per = ct.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min("clen").cast("long").alias("clen"),
    )
    return per.agg(
        F.sum("cnt").cast("long").alias("total_chunks"),
        F.count(F.lit(1)).cast("long").alias("distinct_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).cast("long").alias("total_bytes"),
        F.sum("clen").cast("long").alias("distinct_bytes"),
    ).select(
        "total_chunks",
        "distinct_chunks",
        "total_bytes",
        "distinct_bytes",
        (
            F.expr("CAST(distinct_bytes * 1000000 div total_bytes AS BIGINT)") / 1e6
        ).alias("byte_dedup_ratio"),
        (
            F.expr("CAST(total_bytes * 1000000 div total_chunks AS BIGINT)") / 1e6
        ).alias("mean_chunk_len"),
    )


@query(
    "cluster_silhouette",
    """
    WITH q AS (
        SELECT vec_id, label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT label AS clabel, pos,
               CAST(sum(xq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mq
        FROM q GROUP BY label, pos
    ),
    d2 AS (
        SELECT q.vec_id, q.label AS vlabel, c.clabel,
               CAST(sum((q.xq - c.mq) * (q.xq - c.mq)) AS BIGINT) AS dist_sq
        FROM q JOIN cent c ON c.pos = q.pos
        GROUP BY q.vec_id, q.label, c.clabel
    ),
    ab AS (
        SELECT vec_id, vlabel,
               CAST(max(CASE WHEN clabel = vlabel THEN dist_sq END) AS BIGINT) AS a,
               CAST(min(CASE WHEN clabel <> vlabel THEN dist_sq END) AS BIGINT) AS b
        FROM d2 GROUP BY vec_id, vlabel
    ),
    s AS (
        SELECT vec_id, vlabel,
               CASE WHEN b IS NULL OR greatest(a, b) = 0 THEN 0
                    ELSE (CASE WHEN b - a < 0 THEN -1 ELSE 1 END)
                         * (abs(b - a) * 1000000 // greatest(a, b)) END AS s_q
        FROM ab
    )
    SELECT vlabel AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN s_q > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_well_separated,
           CAST((CASE WHEN sum(s_q) < 0 THEN -1 ELSE 1 END)
                * (abs(CAST(sum(s_q) AS BIGINT)) // CAST(count(*) AS BIGINT))
                AS BIGINT) / 1e6 AS mean_silhouette
    FROM s GROUP BY vlabel
    ORDER BY label
    """,
    ("embeddings", "similarity", "analytics"),
)
def cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per label: squared distances to own and nearest other centroid in
    integer milli-units, s = (b - a)/max(a, b) quantized by magnitude + sign, per-label mean."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    q = (
        t["embeddings"]
        .select("vec_id", "label", F.posexplode("embedding").alias("pos0", "x"))
        .select(
            "vec_id",
            "label",
            (F.col("pos0") + 1).alias("pos"),
            # Milli-units (not micro) so |b - a| * 1e6 fits BIGINT: squares <= 4e6, 64-dim sums <=
            # 2.6e8, times 1e6 <= 2.6e14.
            F.floor(F.col("x").cast("double") * 1_000).cast("long").alias("xq"),
        )
    )
    cent = (
        q.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            F.expr("CAST(sum(xq) div count(1) AS BIGINT)").alias("mq")
        )
    )
    d2 = (
        q.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", F.col("label").alias("vlabel"), "clabel")
        .agg(
            F.sum((F.col("xq") - F.col("mq")) * (F.col("xq") - F.col("mq")))
            .cast("long")
            .alias("dist_sq")
        )
    )
    ab = d2.groupBy("vec_id", "vlabel").agg(
        F.max(F.when(F.col("clabel") == F.col("vlabel"), F.col("dist_sq")))
        .cast("long")
        .alias("a"),
        F.min(F.when(F.col("clabel") != F.col("vlabel"), F.col("dist_sq")))
        .cast("long")
        .alias("b"),
    )
    s = ab.select(
        "vlabel",
        F.expr(
            "CASE WHEN b IS NULL OR greatest(a, b) = 0 THEN 0L"
            " ELSE (CASE WHEN b - a < 0 THEN -1L ELSE 1L END)"
            " * (abs(b - a) * 1000000 div greatest(a, b)) END"
        ).alias("s_q"),
    )
    return (
        s.groupBy(F.col("vlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("s_q") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_well_separated"),
            F.expr(
                "CAST((CASE WHEN sum(s_q) < 0 THEN -1L ELSE 1L END)"
                " * (abs(CAST(sum(s_q) AS BIGINT)) div count(1)) AS BIGINT)"
            ).alias("__ms_q"),
        )
        .select(
            "label",
            "n_vecs",
            "n_well_separated",
            (F.col("__ms_q") / 1e6).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


_MARKOV_CHANNELS = ("click", "error", "signup", "view")
_MARKOV_SCALE = 1_000_000_000  # p vector in integer nano-probabilities
_MARKOV_ROUNDS = 8  # absorption rounds, Spark fold and oracle alike


def _markov_oracle_sql() -> str:
    """Unrolled bounded-absorption oracle for
    ``attribution_markov``: journeys -> transition counts,
    a variant fan (base + one per removed channel), then
    p0..p{_MARKOV_ROUNDS} one-row-per-variant MATERIALIZED CTEs
    computing the within-k-steps conversion probability from every
    state in integer nano-probabilities (one truncating division per
    state per round:
    p'(s) = sum_t cnt_st * p(t) div tot_s, with the REMOVED channel's
    rows dropped but tot_s kept at the base total — redirected mass
    converts never, the standard removal-effect semantics)."""
    chans = _MARKOV_CHANNELS
    sc = _MARKOV_SCALE
    cnt_cols = ", ".join(
        f"CAST(COALESCE(sum(CASE WHEN t.to_s = '{c}' THEN t.cnt END), 0) AS BIGINT)"
        f" AS cnt_{c}"
        for c in chans
    )
    base_states = ["START"] + list(chans)
    p_cols0 = ", ".join(f"CAST(0 AS BIGINT) AS p_{s}" for s in base_states)
    num = " + ".join(f"t.cnt_{c} * p.p_{c}" for c in chans)
    upd = ", ".join(
        f"CAST(COALESCE(max(CASE WHEN from_s = '{s}' THEN p_new END), 0) AS BIGINT)"
        f" AS p_{s}"
        for s in base_states
    )
    rounds_sql = []
    for r in range(1, _MARKOV_ROUNDS + 1):
        rounds_sql.append(
            f"""p{r} AS MATERIALIZED (
        SELECT variant, {upd}
        FROM (
            SELECT t.variant, t.from_s,
                   ({num} + t.cnt_conv * {sc}) // t.tot AS p_new
            FROM tw t JOIN p{r - 1} p ON p.variant = t.variant
        ) GROUP BY variant
    )"""
        )
    chain = ",\n    ".join(rounds_sql)
    variants = ", ".join(f"('{c}')" for c in ("__BASE__",) + chans)
    return f"""
    WITH ev AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_rows,
               CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prior_conv
        FROM events
    ),
    kept AS (SELECT * FROM ev WHERE prior_conv = 0),
    steps AS (
        SELECT user_id, rn,
               CASE WHEN rn = 1 THEN 'START'
                    ELSE lag(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               END AS from_s,
               event_type AS to_s
        FROM kept
    ),
    terminal AS (
        SELECT k.event_type AS from_s, 'NULL' AS to_s
        FROM kept k
        JOIN (SELECT user_id, max(rn) AS mx,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_conv
              FROM kept GROUP BY user_id) u
          ON u.user_id = k.user_id AND u.mx = k.rn
        WHERE u.n_conv = 0
    ),
    trans AS (
        SELECT from_s, to_s, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT from_s, to_s FROM steps UNION ALL SELECT from_s, to_s FROM terminal)
        GROUP BY from_s, to_s
    ),
    tot AS (SELECT from_s, CAST(sum(cnt) AS BIGINT) AS tot FROM trans GROUP BY from_s),
    variants(removed) AS (VALUES {variants}),
    tw AS MATERIALIZED (
        SELECT v.removed AS variant, t.from_s, {cnt_cols},
               CAST(COALESCE(sum(CASE WHEN t.to_s = 'purchase' THEN t.cnt END), 0)
                    AS BIGINT) AS cnt_conv,
               min(o.tot) AS tot
        FROM variants v
        JOIN trans t ON t.from_s <> v.removed AND t.to_s <> v.removed
        JOIN tot o ON o.from_s = t.from_s
        GROUP BY v.removed, t.from_s
    ),
    p0 AS MATERIALIZED (SELECT removed AS variant, {p_cols0} FROM variants),
    {chain},
    base AS (SELECT p_START AS p_base FROM p{_MARKOV_ROUNDS} WHERE variant = '__BASE__'),
    rem AS (
        SELECT variant AS channel, p_START AS p_removed
        FROM p{_MARKOV_ROUNDS} WHERE variant <> '__BASE__'
    ),
    eff AS (
        SELECT r.channel, b.p_base, r.p_removed,
               b.p_base - r.p_removed AS effect
        FROM rem r CROSS JOIN base b
    )
    SELECT channel,
           CAST(p_base AS BIGINT) / 1e9 AS p_conv_base,
           CAST(p_removed AS BIGINT) / 1e9 AS p_conv_removed,
           CAST(effect AS BIGINT) AS effect_q,
           CASE WHEN sum(effect) OVER () = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(effect * 1000000
                          // CAST(sum(effect) OVER () AS BIGINT) AS BIGINT) / 1e6
           END AS attribution_share
    FROM eff
    ORDER BY channel
    """


@query(
    "attribution_markov",
    _markov_oracle_sql(),
    ("events", "analytics", "attribution"),
)
def attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: conversion probability of the first-order journey chain
    with each channel removed, 8 synchronous integer rounds in nano-probabilities; share = effect /
    sum of effects."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    chans = _MARKOV_CHANNELS
    # Headroom: cnt * 1e9 < 2^63 to ~9e9 transitions per edge; beyond that, lower the probability
    # scale.
    sc = _MARKOV_SCALE
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t["events"].select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1))
            .over(wu.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("prior_conv"),
    )
    kept = ev.filter(F.col("prior_conv") == 0)
    steps = kept.select(
        F.when(F.col("rn") == 1, F.lit("START"))
        .otherwise(F.lag("event_type").over(W.partitionBy("user_id").orderBy("rn")))
        .alias("from_s"),
        F.col("event_type").alias("to_s"),
    )
    last = (
        kept.groupBy("user_id")
        .agg(
            F.max("rn").alias("mx"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_conv"),
        )
        .filter(F.col("n_conv") == 0)
    )
    terminal = (
        kept.join(last, ["user_id"])
        .filter(F.col("rn") == F.col("mx"))
        .select(F.col("event_type").alias("from_s"), F.lit("NULL").alias("to_s"))
    )
    trans = (
        steps.unionByName(terminal)
        .groupBy("from_s", "to_s")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = trans.groupBy("from_s").agg(F.sum("cnt").cast("long").alias("tot"))
    variants = spark.createDataFrame(
        [(v,) for v in ("__BASE__",) + chans], "removed string"
    )
    tw = (
        variants.crossJoin(trans)
        .filter(
            (F.col("from_s") != F.col("removed")) & (F.col("to_s") != F.col("removed"))
        )
        .join(tot, "from_s")
        .groupBy(F.col("removed").alias("variant"), "from_s")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("to_s") == c, F.col("cnt"))), F.lit(0)
                )
                .cast("long")
                .alias(f"cnt_{c}")
                for c in chans
            ],
            F.coalesce(
                F.sum(F.when(F.col("to_s") == "purchase", F.col("cnt"))), F.lit(0)
            )
            .cast("long")
            .alias("cnt_conv"),
            F.min("tot").cast("long").alias("tot"),
        )
    )
    base_states = ["START"] + list(chans)
    # The transition matrix is data-derived ONCE and channel-bounded
    # ((1+|chans|) variants x <=|chans|+1 states ~ 45 rows), so the 8
    # absorption rounds are the kmeans/ivfpq COLLECT pattern, not the
    # in-plan pivoted iteration: r14 measured the 8 nested
    # broadcast-join rounds at 34 jobs / 7.45 s (AQE re-plans every
    # level's broadcast subtree into extra stage jobs — the r7 kmeans
    # counter-lesson) vs ~4 jobs for collect-once + driver fold. The
    # fold is exact: every operand is a non-negative BIGINT (counts,
    # nano-probabilities, positive totals), so python // (floor) is
    # identical to the engines' truncating div — pinned by the
    # from-scratch replica test (test_markov_removal_matches_python_
    # replica) and the DuckDB-oracle hash gate.
    tw_rows = tw.collect()
    by_variant: dict[str, list] = {}
    for r in tw_rows:
        by_variant.setdefault(r["variant"], []).append(r)
    p_vec = {
        v: {s: 0 for s in base_states} for v in ("__BASE__",) + tuple(chans)
    }
    for _ in range(_MARKOV_ROUNDS):
        for v, cur in p_vec.items():
            new = {s: 0 for s in base_states}
            for r in by_variant.get(v, ()):
                if r["from_s"] in new:
                    num_i = (
                        sum(r[f"cnt_{c}"] * cur[c] for c in chans)
                        + r["cnt_conv"] * sc
                    )
                    new[r["from_s"]] = num_i // r["tot"]
            p_vec[v] = new
    p_base = p_vec["__BASE__"]["START"]
    eff = spark.createDataFrame(
        [(c, p_base, p_vec[c]["START"]) for c in chans],
        "channel string, p_base long, p_removed long",
    ).select(
        "channel",
        "p_base",
        "p_removed",
        (F.col("p_base") - F.col("p_removed")).cast("long").alias("effect"),
    )
    return eff.select(
        "channel",
        (F.col("p_base") / 1e9).alias("p_conv_base"),
        (F.col("p_removed") / 1e9).alias("p_conv_removed"),
        F.col("effect").alias("effect_q"),
        F.expr(
            "CASE WHEN sum(effect) OVER () = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(effect * 1000000 div CAST(sum(effect) OVER () AS BIGINT)"
            " AS BIGINT) / 1e6 END"
        ).alias("attribution_share"),
    ).orderBy("channel")


@query(
    "xe3_average_precision",
    """
    WITH scored AS (
        SELECT c.c_mktsegment AS segment, o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS score_cents,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
        SELECT segment, pos,
               CAST(row_number() OVER (PARTITION BY segment
                    ORDER BY score_cents DESC, o_orderkey) AS BIGINT) AS rk,
               CAST(sum(pos) OVER (PARTITION BY segment
                    ORDER BY score_cents DESC, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_pos
        FROM scored
    ),
    terms AS (
        SELECT segment, cum_pos * 1000000000 // rk AS term_q
        FROM ranked WHERE pos = 1
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_pos,
           CAST(sum(term_q) AS BIGINT) AS ap_num_q,
           CAST(CAST(sum(term_q) AS BIGINT) // count(*) AS BIGINT) / 1e9
               AS average_precision
    FROM terms GROUP BY segment ORDER BY segment
    """,
    ("orders", "customer", "analytics"),
)
def xe3_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision per segment of order value for URGENT orders under the unique (score DESC,
    orderkey) order; each precision term quantized to integer nano-units, then exact sums and one
    division."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    scored = (
        t["orders"]
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("score_cents"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .cast("long")
            .alias("pos"),
        )
        .join(
            t["customer"].select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            "o_orderkey",
            "score_cents",
            "pos",
        )
    )
    wo = W.partitionBy("segment").orderBy(
        F.col("score_cents").desc(), F.col("o_orderkey")
    )
    ranked = scored.select(
        "segment",
        "pos",
        F.row_number().over(wo).cast("long").alias("rk"),
        F.sum("pos")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum_pos"),
    )
    terms = ranked.filter(F.col("pos") == 1).select(
        # Headroom: term_q <= 1e9, so the sum stays below 2^63 to ~9e9 positives per segment.
        "segment", F.expr("cum_pos * 1000000000L div rk").alias("term_q")
    )
    return (
        terms.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pos"),
            F.sum("term_q").cast("long").alias("ap_num_q"),
        )
        .select(
            "segment",
            "n_pos",
            "ap_num_q",
            (F.expr("CAST(ap_num_q div n_pos AS BIGINT)") / 1e9).alias(
                "average_precision"
            ),
        )
        .orderBy("segment")
    )


def _daily_event_cents(t: dict) -> DataFrame:
    """``(event_type, day_i, cents)``: per event type and day (days
    since 1970-01-01) the exact sum of event values in cents."""
    return (
        t["events"]
        .select(
            "event_type",
            F.expr("datediff(cast(ts as date), DATE '1970-01-01')")
            .cast("long")
            .alias("day_i"),
            F.expr("cast(round(value * 100) as bigint)").alias("__vc"),
        )
        .groupBy("event_type", "day_i")
        .agg(F.sum("__vc").cast("long").alias("cents"))
    )


@query(
    "xe4_mann_kendall_trend",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN b.cents > a.cents THEN 1
                    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.day_i > a.day_i
    ),
    s AS (
        SELECT event_type, CAST(COALESCE(sum(sg), 0) AS BIGINT) AS s_stat
        FROM pairs GROUP BY event_type
    ),
    ties AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS corr
        FROM (
            SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, cents
        ) g_outer
        GROUP BY event_type
    ),
    v AS (
        SELECT t.event_type, t.n_days, s.s_stat,
               t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.corr AS var18
        FROM ties t JOIN s ON s.event_type = t.event_type
    )
    SELECT event_type, n_days, s_stat, var18,
           CASE WHEN var18 = 0 OR s_stat = 0 THEN CAST(0 AS DOUBLE)
                ELSE (CASE WHEN s_stat < 0 THEN -1 ELSE 1 END)
                     * CAST(floor((abs(s_stat) - 1) * sqrt(CAST(18 AS DOUBLE))
                                  / sqrt(CAST(var18 AS DOUBLE)) * 1000000)
                            AS BIGINT) / 1e6
           END AS z_q,
           CASE WHEN var18 > 0
                     AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000
                         > var18 * 38416
                     AND s_stat > 0 THEN 'up'
                WHEN var18 > 0
                     AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000
                         > var18 * 38416
                     AND s_stat < 0 THEN 'down'
                ELSE 'none' END AS trend
    FROM v ORDER BY event_type
    """,
    ("events", "analytics", "timeseries"),
)
def xe4_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type on daily revenue: exact S from a day-pair self-join,
    tie-corrected integer 18*Var, quantized z, and p<0.05 as the integer cross-multiplication of
    |z| > 1.96."""
    daily = _daily_event_cents(_t(spark, sf_dir))
    b = daily.select(
        F.col("event_type").alias("__et"),
        F.col("day_i").alias("__dj"),
        F.col("cents").alias("__cj"),
    )
    # Self-join on the bounded day axis: days^2/2 pairs per type whatever the corpus size; ~9e18
    # headroom at 10-year daily series.
    pairs = daily.join(
        b,
        (F.col("__et") == F.col("event_type")) & (F.col("__dj") > F.col("day_i")),
    ).select(
        "event_type",
        F.when(F.col("__cj") > F.col("cents"), 1)
        .when(F.col("__cj") < F.col("cents"), -1)
        .otherwise(0)
        .cast("long")
        .alias("sg"),
    )
    s = pairs.groupBy("event_type").agg(
        F.coalesce(F.sum("sg"), F.lit(0)).cast("long").alias("s_stat")
    )
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n_groups"),
            F.sum("t").cast("long").alias("n_days"),
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("corr"),
        )
        .select("event_type", "n_days", "corr")
    )
    v = ties.join(s, "event_type").select(
        "event_type",
        "n_days",
        "s_stat",
        (
            F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
            - F.col("corr")
        )
        .cast("long")
        .alias("var18"),
    )
    return v.select(
        "event_type",
        "n_days",
        "s_stat",
        "var18",
        F.expr(
            "CASE WHEN var18 = 0 OR s_stat = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE (CASE WHEN s_stat < 0 THEN -1L ELSE 1L END)"
            " * CAST(floor((abs(s_stat) - 1) * sqrt(CAST(18 AS DOUBLE))"
            " / sqrt(CAST(var18 AS DOUBLE)) * 1000000) AS BIGINT) / 1e6 END"
        ).alias("z_q"),
        F.expr(
            "CASE WHEN var18 > 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000"
            " > var18 * 38416 AND s_stat > 0 THEN 'up'"
            " WHEN var18 > 0 AND (abs(s_stat) - 1) * (abs(s_stat) - 1) * 180000"
            " > var18 * 38416 AND s_stat < 0 THEN 'down'"
            " ELSE 'none' END"
        ).alias("trend"),
    ).orderBy("event_type")


_DBSCAN_EPS2 = 1_500_000  # squared eps in milli-unit space (cos ~ 0.25)
_DBSCAN_MIN_NBRS = 2  # core = >= 2 OTHER points in range (minPts=3 w/ self)
# Loud ceiling on one blocking cell (r12, the VERDICT watch item made a
# CONTRACT): the per-cell kernel is O(cell^2 * dim) flops by design —
# exact DBSCAN within a cell — so a skewed giant cell must FAIL with a
# named mitigation rather than silently go quadratic at 100 TB. 1e5
# rows/cell ~ 6.4e14 BLAS flops, the edge of single-task sanity; the
# fixture cells are ~3 orders of magnitude under it (contract-tested).
_DBSCAN_MAX_CELL = 100_000


def _dbscan_cell_kernel(pdf):
    """Arrow-batched per-cell DBSCAN kernel for ``dbscan_embeddings``:
    one BLAS matmul per 2048-row block against the whole cell — exact
    despite float64 (every quantized component is an integer with
    |xq| <= ~1e3, so products <= ~1.6e7 and 64-dim sums <= ~1e9, far
    inside 2^53; the <= eps^2 compare is an integer compare).

    Because the blocker is a hard partition (pairs exist only WITHIN a
    label cell, by declared semantics), degrees, core flags, core-core
    components AND border labels all decompose per cell — so the whole
    classification runs here: integer min-label propagation with
    pointer jumping over the in-cell core-core edges (vectorized numpy,
    O(E log n)), min-core-neighbor border rule, noise = -1. The r14
    rewrite deleted the distributed CC loop this kernel used to feed
    (~60 scheduling-bound jobs for graphs that never cross cells).
    Emits only integer ids/flags (the r8 rule: python never touches
    driver-facing floats). Cells beyond ``_DBSCAN_MAX_CELL`` raise —
    the blocker (label today, finer IVF/grid cells at scale) must keep
    cells bounded; a loud error names the fix, silent O(cell^2) does
    not."""
    import numpy as np
    import pandas as pd

    if len(pdf) > _DBSCAN_MAX_CELL:
        raise ValueError(
            f"dbscan blocking cell holds {len(pdf)} rows > _DBSCAN_MAX_CELL="
            f"{_DBSCAN_MAX_CELL}; the per-cell kernel is O(cell^2) by design "
            "— use a finer blocking key (trained IVF cells / grid refine) "
            "so cells stay bounded instead of letting one cell go quadratic"
        )
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    n = len(ids)
    X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vq"]])
    n2 = (X * X).sum(axis=1)
    out_a: list = []
    out_b: list = []
    step = 2048
    for s in range(0, n, step):
        blk = X[s : s + step]
        sqd = n2[s : s + step, None] + n2[None, :] - 2.0 * (blk @ X.T)
        ii, jj = np.nonzero(sqd <= float(_DBSCAN_EPS2))
        gi = ii + s
        keep = gi < jj  # sorted by vec_id, so index order IS id order
        out_a.append(gi[keep])
        out_b.append(jj[keep])
    ia = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
    ib = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
    # degree = number of OTHER in-range points; core threshold
    deg = np.bincount(ia, minlength=n) + np.bincount(ib, minlength=n)
    core = deg >= _DBSCAN_MIN_NBRS
    # components of the core-core subgraph: min-index propagation +
    # pointer jumping. Labels are always indices within the node's own
    # component (induction over relax/jump), monotone non-increasing,
    # and the component-min index m keeps labels[m] == m — so at the
    # fixpoint (no change over a full round ⇒ every edge's endpoints
    # agree) every member holds exactly the component-min index. Index
    # order IS vec_id order (sorted above), so ids[labels] is the
    # oracle's least(u, min(reach)) cluster id.
    cm = core[ia] & core[ib]
    ea, eb = ia[cm], ib[cm]
    labels = np.arange(n)
    while True:
        before = labels.copy()
        np.minimum.at(labels, ea, labels[eb])
        np.minimum.at(labels, eb, labels[ea])
        labels = labels[labels]
        if np.array_equal(labels, before):
            break
    cluster = np.where(core, ids[labels], np.int64(-1))
    # border: non-core point with >=1 core neighbor takes the MIN core
    # neighbor's cluster id (the oracle's min(cl.cl) rule)
    sentinel = np.iinfo(np.int64).max
    bmin = np.full(n, sentinel, dtype=np.int64)
    m1 = core[ia] & ~core[ib]
    np.minimum.at(bmin, ib[m1], cluster[ia[m1]])
    m2 = core[ib] & ~core[ia]
    np.minimum.at(bmin, ia[m2], cluster[ib[m2]])
    cluster = np.where(
        core, cluster, np.where(bmin < sentinel, bmin, np.int64(-1))
    )
    return pd.DataFrame(
        {
            "vec_id": ids,
            "is_core": core.astype("int32"),
            "cluster": cluster.astype("int64"),
        }
    )


@query(
    "dbscan_embeddings",
    f"""
    WITH RECURSIVE q AS (
        SELECT vec_id, label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM q a
        JOIN q b ON a.label = b.label AND a.pos = b.pos AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
        HAVING sum((a.xq - b.xq) * (a.xq - b.xq)) <= {_DBSCAN_EPS2}
    ),
    und AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS nn FROM und GROUP BY u),
    core AS (SELECT u FROM deg WHERE nn >= {_DBSCAN_MIN_NBRS}),
    ce AS (
        SELECT e.u, e.v FROM und e
        JOIN core c1 ON c1.u = e.u
        JOIN core c2 ON c2.u = e.v
    ),
    reach(u, r) AS (
        SELECT u, v FROM ce
        UNION
        SELECT reach.u, e.v FROM reach JOIN ce e ON reach.r = e.u
    ),
    lab AS (SELECT u, least(u, min(r)) AS cl FROM reach GROUP BY u),
    corelab AS (
        SELECT c.u, COALESCE(l.cl, c.u) AS cl
        FROM core c LEFT JOIN lab l ON l.u = c.u
    ),
    border AS (
        SELECT e.u, min(cl.cl) AS cl
        FROM und e
        JOIN corelab cl ON cl.u = e.v
        WHERE e.u NOT IN (SELECT u FROM core)
        GROUP BY e.u
    ),
    roles AS (
        SELECT p.vec_id,
               CASE WHEN c.cl IS NOT NULL THEN 'core'
                    WHEN b.cl IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(c.cl, b.cl, -1) AS cluster
        FROM (SELECT vec_id FROM embeddings) p
        LEFT JOIN corelab c ON c.u = p.vec_id
        LEFT JOIN border b ON b.u = p.vec_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
           CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_border,
           CAST(count(*) AS BIGINT) AS n_points
    FROM roles GROUP BY cluster ORDER BY cluster
    """,
    ("embeddings", "similarity", "graph", "analytics"),
)
def dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over embeddings blocked by label cell: exact integer milli-unit distances, eps^2 =
    1.5e6, minPts = 3, core-core components, borders join their min core neighbor; per-cluster
    core/border/point counts."""
    t = _t(spark, sf_dir)
    # Quantize in-array (the knn_graph_descent idiom): the embedding is
    # already position-ordered, so one F.transform computes vq with zero
    # shuffle — the former posexplode + groupBy/collect_list rebuild of
    # the same array cost two exchanges over 64x-exploded rows.
    vecs = t["embeddings"].select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1_000).cast("long"),
        ).alias("vq"),
    )
    # The whole classification runs in ONE Arrow kernel pass per label
    # cell (_dbscan_cell_kernel): the blocker is a hard partition, so
    # degrees, cores, core-core components and border labels never
    # cross cells — the distributed CC loop the r13 version fed was
    # ~60 scheduling-bound jobs spent on per-cell-local graphs. Every
    # point comes back exactly once with integer (is_core, cluster);
    # role strings and the per-cluster rollup stay JVM-side.
    roles = (
        vecs.groupBy("label")
        .applyInPandas(_dbscan_cell_kernel, "vec_id long, is_core int, cluster long")
        .select(
            "vec_id",
            F.when(F.col("is_core") == 1, F.lit("core"))
            .when(F.col("cluster") >= 0, F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.col("cluster").cast("long").alias("cluster"),
        )
    )
    return (
        roles.groupBy("cluster")
        .agg(
            F.sum(F.when(F.col("role") == "core", 1).otherwise(0))
            .cast("long")
            .alias("n_core"),
            F.sum(F.when(F.col("role") == "border", 1).otherwise(0))
            .cast("long")
            .alias("n_border"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
        .orderBy("cluster")
    )


@query(
    "xe6_seasonal_naive_mase",
    """
    WITH daily0 AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(day_i) AS dmin, max(day_i) AS dmax
          FROM daily0 GROUP BY event_type),
    spine AS (
        SELECT s.event_type, s.d AS day_i, COALESCE(d0.cents, 0) AS cents
        FROM (SELECT event_type, unnest(generate_series(dmin, dmax)) AS d FROM b) s
        LEFT JOIN daily0 d0 ON d0.event_type = s.event_type AND d0.day_i = s.d
    ),
    lagged AS (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY day_i) AS r,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day_i) AS c1,
               lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day_i) AS c7
        FROM spine
    ),
    agg AS (
        SELECT event_type,
               CAST(sum(CASE WHEN r > n - 14 AND c7 IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_test,
               CAST(COALESCE(sum(CASE WHEN r > n - 14
                    THEN abs(cents - c7) END), 0) AS BIGINT) AS sum_test_abs,
               CAST(sum(CASE WHEN r >= 2 AND r <= n - 14 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_den,
               CAST(COALESCE(sum(CASE WHEN r >= 2 AND r <= n - 14
                    THEN abs(cents - c1) END), 0) AS BIGINT) AS sum_den_abs,
               CAST(COALESCE(sum(CASE WHEN r > n - 14 THEN
                    CASE WHEN abs(cents - c7) = 0 THEN 0
                         ELSE 2 * abs(cents - c7) * 1000000
                              // (abs(c7) + abs(cents)) END END), 0) AS BIGINT)
                   AS smape_sum_q
        FROM lagged
        GROUP BY event_type
    )
    SELECT event_type, n_test, sum_test_abs, n_den, sum_den_abs,
           CASE WHEN n_test = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(sum_test_abs // n_test AS BIGINT) / 100.0 END
               AS mae_seasonal_dollars,
           CASE WHEN sum_den_abs = 0 OR n_test = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(sum_test_abs * n_den * 1000000
                          // (sum_den_abs * n_test) AS BIGINT) / 1e6
           END AS mase,
           CASE WHEN n_test = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(smape_sum_q // n_test AS BIGINT) / 1e6 END AS smape
    FROM agg ORDER BY event_type
    """,
    ("events", "analytics", "timeseries"),
)
def xe6_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation per event type: MASE of f_t = x_(t-7) over the last 14
    days as one integer cross-multiplied division, and sMAPE quantized per day then averaged in
    integers."""
    from pyspark.sql.window import Window as W

    daily0 = _daily_event_cents(_t(spark, sf_dir))
    b = daily0.groupBy("event_type").agg(
        F.min("day_i").alias("dmin"), F.max("day_i").alias("dmax")
    )
    spine = (
        b.select(
            "event_type",
            F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("day_i"),
        )
        .join(daily0, ["event_type", "day_i"], "left")
        .select("event_type", "day_i", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    wt = W.partitionBy("event_type").orderBy("day_i")
    lagged = spine.select(
        "event_type",
        "cents",
        F.row_number().over(wt).cast("long").alias("r"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).cast("long").alias("n"),
        F.lag("cents", 1).over(wt).alias("c1"),
        F.lag("cents", 7).over(wt).alias("c7"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(
                (F.col("r") > F.col("n") - 14) & F.col("c7").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_test"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("r") > F.col("n") - 14, F.abs(F.col("cents") - F.col("c7"))
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_test_abs"),
        F.sum(
            F.when((F.col("r") >= 2) & (F.col("r") <= F.col("n") - 14), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_den"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("r") >= 2) & (F.col("r") <= F.col("n") - 14),
                    F.abs(F.col("cents") - F.col("c1")),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_den_abs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("r") > F.col("n") - 14,
                    F.expr(
                        "CASE WHEN abs(cents - c7) = 0 THEN 0L"
                        " ELSE 2 * abs(cents - c7) * 1000000"
                        " div (abs(c7) + abs(cents)) END"
                    ),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("smape_sum_q"),
    )
    return agg.select(
        "event_type",
        "n_test",
        "sum_test_abs",
        "n_den",
        "sum_den_abs",
        F.expr(
            "CASE WHEN n_test = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(sum_test_abs div n_test AS BIGINT) / 100.0 END"
        ).alias("mae_seasonal_dollars"),
        F.expr(
            "CASE WHEN sum_den_abs = 0 OR n_test = 0 THEN CAST(0 AS DOUBLE)"
            # Headroom: sum_test * n_den * 1e6 < 2^63 to ~1e5-day series at 1e8-cent days.
            " ELSE CAST(sum_test_abs * n_den * 1000000"
            " div (sum_den_abs * n_test) AS BIGINT) / 1e6 END"
        ).alias("mase"),
        F.expr(
            "CASE WHEN n_test = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(smape_sum_q div n_test AS BIGINT) / 1e6 END"
        ).alias("smape"),
    ).orderBy("event_type")


def _ece_bin_sql() -> str:
    """bin = 1 + count of train-decile boundaries strictly below the
    score (ties fall to the lower bin)."""
    return "1 + " + " + ".join(
        f"(CASE WHEN b.b{k} < s.score_cents THEN 1 ELSE 0 END)" for k in range(1, 10)
    )


@query(
    "calibration_ece",
    f"""
    WITH scored AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS score_cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos,
               ('0x' || substr(md5('split:' || o_orderkey), 1, 15))::BIGINT
                   % 1000000 AS bkt
        FROM orders
    ),
    train AS (SELECT * FROM scored WHERE bkt < 800000),
    test AS (SELECT * FROM scored WHERE bkt >= 800000),
    ranked AS (
        SELECT score_cents,
               CAST(row_number() OVER (ORDER BY score_cents, o_orderkey)
                    AS BIGINT) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM train
    ),
    bounds AS (
        SELECT {", ".join(f"max(CASE WHEN rn * 10 <= n * {k} THEN score_cents END) AS b{k}" for k in range(1, 10))}
        FROM ranked
    ),
    tr_binned AS (
        SELECT {_ece_bin_sql()} AS bin, s.pos
        FROM train s CROSS JOIN bounds b
    ),
    te_binned AS (
        SELECT {_ece_bin_sql()} AS bin, s.pos
        FROM test s CROSS JOIN bounds b
    ),
    tr AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_train,
               CAST(sum(pos) AS BIGINT) AS pos_train
        FROM tr_binned GROUP BY bin
    ),
    te AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(pos) AS BIGINT) AS pos_test
        FROM te_binned GROUP BY bin
    ),
    joined AS (
        SELECT te.bin, te.n_test, te.pos_test,
               COALESCE(tr.n_train, 0) AS n_train,
               COALESCE(tr.pos_train, 0) AS pos_train,
               CASE WHEN COALESCE(tr.n_train, 0) = 0 THEN 0
                    ELSE pos_train * 1000000 // tr.n_train END AS conf_q,
               pos_test * 1000000 // te.n_test AS acc_q
        FROM te LEFT JOIN tr ON tr.bin = te.bin
    )
    SELECT bin, n_train, n_test,
           CAST(conf_q AS BIGINT) / 1e6 AS confidence,
           CAST(acc_q AS BIGINT) / 1e6 AS accuracy,
           CAST(CAST(sum(n_test * abs(acc_q - conf_q)) OVER () AS BIGINT)
                // CAST(sum(n_test) OVER () AS BIGINT) AS BIGINT) / 1e6 AS ece
    FROM joined
    ORDER BY bin
    """,
    ("orders", "analytics"),
)
def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error on an 80/20 hash split: decile bins from exact train order
    statistics, per-bin train confidence and test accuracy as integer-quantized ratios, ECE as one
    weighted integer division."""
    from pyspark.sql.window import Window as W

    from .operators.dedup import portable_hash

    t = _t(spark, sf_dir)
    scored = t["orders"].select(
        "o_orderkey",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("score_cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("pos"),
        (portable_hash(F.col("o_orderkey").cast("string"), seed=F.lit("split"))
         % 1_000_000).alias("bkt"),
    )
    train = scored.filter(F.col("bkt") < 800_000)
    test = scored.filter(F.col("bkt") >= 800_000)
    ranked = train.select(
        "score_cents",
        F.row_number()
        # Unpartitioned rank window over the whole train split (row-level, data-sized); the work
        # after it rides the 10-row bin aggregate.
        .over(W.orderBy("score_cents", "o_orderkey"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("n"),
    )
    bounds = ranked.agg(
        *[
            F.max(
                F.when(F.col("rn") * 10 <= F.col("n") * k, F.col("score_cents"))
            ).alias(f"b{k}")
            for k in range(1, 10)
        ]
    )
    bin_expr = sum(
        [
            F.when(F.col(f"b{k}") < F.col("score_cents"), 1).otherwise(0)
            for k in range(1, 10)
        ],
        F.lit(1),
    ).alias("bin")
    tr = (
        train.crossJoin(F.broadcast(bounds))
        .select(bin_expr, "pos")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum("pos").cast("long").alias("pos_train"),
        )
    )
    te = (
        test.crossJoin(F.broadcast(bounds))
        .select(bin_expr, "pos")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum("pos").cast("long").alias("pos_test"),
        )
    )
    joined = (
        te.join(tr, "bin", "left")
        .select(
            "bin",
            "n_test",
            "pos_test",
            F.coalesce("n_train", F.lit(0)).cast("long").alias("n_train"),
            F.coalesce("pos_train", F.lit(0)).cast("long").alias("pos_train"),
        )
        .select(
            "bin",
            "n_train",
            "n_test",
            F.expr(
                "CASE WHEN n_train = 0 THEN 0L"
                " ELSE pos_train * 1000000 div n_train END"
            ).alias("conf_q"),
            F.expr("pos_test * 1000000 div n_test").alias("acc_q"),
        )
    )
    # Unpartitioned window over the 10-row bin frame.
    w = W.partitionBy()
    return joined.select(
        "bin",
        "n_train",
        "n_test",
        (F.col("conf_q") / 1e6).alias("confidence"),
        (F.col("acc_q") / 1e6).alias("accuracy"),
        (
            F.expr(
                "CAST(CAST(sum(n_test * abs(acc_q - conf_q)) OVER () AS BIGINT)"
                " div CAST(sum(n_test) OVER () AS BIGINT) AS BIGINT)"
            )
            / 1e6
        ).alias("ece"),
    ).orderBy("bin")


@query(
    "xfr_ks_drift",
    """
    WITH ev AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    < (SELECT min(date_diff('day', DATE '1970-01-01',
                                            CAST(ts AS DATE))) FROM events) + 15
                    THEN 1 ELSE 2 END AS half
        FROM events
    ),
    n AS (
        SELECT event_type,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM ev GROUP BY event_type
    ),
    pv AS (
        SELECT event_type, cents,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM ev GROUP BY event_type, cents
    ),
    cum AS (
        SELECT event_type,
               CAST(sum(c1) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS f1,
               CAST(sum(c2) OVER (PARTITION BY event_type ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS f2
        FROM pv
    ),
    d AS (
        SELECT c.event_type, n.n1, n.n2,
               CAST(max(abs(c.f1 * n.n2 - c.f2 * n.n1)) AS BIGINT) AS d_num
        FROM cum c JOIN n ON n.event_type = c.event_type
        GROUP BY c.event_type, n.n1, n.n2
    )
    SELECT event_type, n1, n2, d_num,
           CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(d_num * 1000000 // (n1 * n2) AS BIGINT) / 1e6
           END AS ks_stat,
           CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(floor(1358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 1000)
                          AS BIGINT) / 1e6
           END AS crit_05,
           CASE WHEN n1 = 0 OR n2 = 0 THEN false
                ELSE CAST(d_num * 1000000 // (n1 * n2) AS BIGINT)
                     > CAST(floor(1358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 1000)
                            AS BIGINT)
           END AS drifted
    FROM d ORDER BY event_type
    """,
    ("events", "analytics", "quality"),
)
def xfr_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift per event type, days 1-15 vs the rest: D exact over the common
    denominator n1*n2, one quantized division, and the alpha=0.05 verdict compared on quantized
    BIGINTs."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev0 = t["events"].select(
        "event_type",
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        F.expr("datediff(cast(ts as date), DATE '1970-01-01')")
        .cast("long")
        .alias("day_i"),
    )
    dmin = ev0.agg(F.min("day_i").alias("__dmin"))
    ev = ev0.crossJoin(F.broadcast(dmin)).select(
        "event_type",
        "cents",
        F.when(F.col("day_i") < F.col("__dmin") + 15, 1)
        .otherwise(2)
        .alias("half"),
    )
    # eager-checkpoint the (type, cents) aggregate: both the half
    # totals n1/n2 (derived FROM it, not from a second events pass)
    # and the ECDF window consume it — one corpus scan for the half
    # split instead of three (dmin's pruned day-only scan is the
    # only other events read)
    pv = (
        ev.groupBy("event_type", "cents")
        .agg(
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
        .localCheckpoint(eager=True)
    )
    n = pv.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    wc = W.partitionBy("event_type").orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = pv.select(
        "event_type",
        F.sum("c1").over(wc).cast("long").alias("f1"),
        F.sum("c2").over(wc).cast("long").alias("f2"),
    )
    d = (
        cum.join(n, "event_type")
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.max(F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")))
            .cast("long")
            .alias("d_num")
        )
    )
    ks_q = "CAST(d_num * 1000000 div (n1 * n2) AS BIGINT)"
    crit_q = (
        "CAST(floor(1358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)) * 1000) AS BIGINT)"
    )
    return d.select(
        "event_type",
        "n1",
        "n2",
        "d_num",
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS DOUBLE)"
            f" ELSE {ks_q} / 1e6 END"
        ).alias("ks_stat"),
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS DOUBLE)"
            f" ELSE {crit_q} / 1e6 END"
        ).alias("crit_05"),
        F.expr(
            f"CASE WHEN n1 = 0 OR n2 = 0 THEN false"
            f" ELSE {ks_q} > {crit_q} END"
        ).alias("drifted"),
    ).orderBy("event_type")


@query(
    "chi2_cramers_v",
    """
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (SELECT seg, pri, CAST(count(*) AS BIGINT) AS o FROM joined
              GROUP BY seg, pri),
    rm AS (SELECT seg, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY seg),
    cm AS (SELECT pri, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY pri),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST((SELECT count(*) FROM rm) AS BIGINT) AS k1,
                   CAST((SELECT count(*) FROM cm) AS BIGINT) AS k2
            FROM cells),
    spine AS (
        SELECT rm.seg, cm.pri, rm.r, cm.c, COALESCE(x.o, 0) AS o
        FROM rm CROSS JOIN cm
        LEFT JOIN cells x ON x.seg = rm.seg AND x.pri = cm.pri
    ),
    terms AS (
        SELECT CAST(floor(
                   (CAST(o * (SELECT n FROM tot) - r * c AS DOUBLE)
                    * CAST(o * (SELECT n FROM tot) - r * c AS DOUBLE))
                   / ((CAST((SELECT n FROM tot) AS DOUBLE) * r) * c)
                   * 1000000) AS BIGINT) AS term_q
        FROM spine
    )
    SELECT t.n AS n_total, t.k1 AS k_segments, t.k2 AS k_priorities,
           CAST(s.chi2_q AS BIGINT) AS chi2_q,
           CAST(s.chi2_q AS BIGINT) / 1e6 AS chi2,
           CAST(floor(sqrt((CAST(s.chi2_q AS BIGINT) / 1e6)
                           / (CAST(t.n AS DOUBLE)
                              * least(t.k1 - 1, t.k2 - 1))) * 1000000)
                AS BIGINT) / 1e6 AS cramers_v
    FROM (SELECT CAST(sum(term_q) AS BIGINT) AS chi2_q FROM terms) s
    CROSS JOIN tot t
    """,
    ("orders", "customer", "analytics"),
)
def chi2_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence and Cramer's V for market segment x order priority over the full 5x5
    margin spine; each cell term floor-quantized from exact integers, then summed as integers."""
    t = _t(spark, sf_dir)
    joined = (
        t["orders"]
        .select("o_custkey", F.col("o_orderpriority").alias("pri"))
        .join(
            t["customer"].select("c_custkey", F.col("c_mktsegment").alias("seg")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select("seg", "pri")
    )
    # the 25-row contingency table derives from the corpus-sized
    # orders-customer join but feeds FIVE consumers (rm, cm, tot's
    # three legs, the spine) — eager-checkpoint so the join runs once
    cells = joined.groupBy("seg", "pri").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=True)
    rm = cells.groupBy("seg").agg(F.sum("o").cast("long").alias("r"))
    cm = cells.groupBy("pri").agg(F.sum("o").cast("long").alias("c"))
    tot = cells.agg(F.sum("o").cast("long").alias("n")).crossJoin(
        rm.agg(F.count(F.lit(1)).cast("long").alias("k1"))
    ).crossJoin(cm.agg(F.count(F.lit(1)).cast("long").alias("k2")))
    spine = (
        rm.crossJoin(cm)
        .join(cells, ["seg", "pri"], "left")
        .select("seg", "pri", "r", "c", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(tot))
    )
    terms = spine.select(
        "n",
        "k1",
        "k2",
        F.expr(
            "CAST(floor((CAST(o * n - r * c AS DOUBLE)"
            " * CAST(o * n - r * c AS DOUBLE))"
            " / ((CAST(n AS DOUBLE) * r) * c) * 1000000) AS BIGINT)"
        ).alias("term_q"),
    )
    return (
        terms.groupBy("n", "k1", "k2")
        .agg(F.sum("term_q").cast("long").alias("chi2_q"))
        .select(
            F.col("n").alias("n_total"),
            F.col("k1").alias("k_segments"),
            F.col("k2").alias("k_priorities"),
            "chi2_q",
            (F.col("chi2_q") / 1e6).alias("chi2"),
            F.expr(
                "CAST(floor(sqrt((chi2_q / 1e6)"
                " / (CAST(n AS DOUBLE) * least(k1 - 1, k2 - 1))) * 1000000)"
                " AS BIGINT)"
            ).alias("__v_q"),
        )
        .select(
            "n_total",
            "k_segments",
            "k_priorities",
            "chi2_q",
            "chi2",
            (F.col("__v_q") / 1e6).alias("cramers_v"),
        )
    )


# hits_bipartite's round count (one authority and one hub half-step
# each), read by the Spark body and by its unrolled oracle.
_HITS_ROUNDS = 4


def _hits_oracle_sql() -> str:
    """Unrolled HITS oracle: alternating authority/hub halves, each
    renormalized by its max via pure integer division with the xdp
    G-shrink overflow guard; every CTE MATERIALIZED (the kcore rule)."""
    parts = [
        """edges AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )""",
        "h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS hq"
        " FROM edges)",
    ]
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(
            f"""ar{r} AS MATERIALIZED (
        SELECT e.p, CAST(sum(h.hq) AS BIGINT) AS raw
        FROM edges e JOIN h{r - 1} h ON h.c = e.c GROUP BY e.p
    )"""
        )
        parts.append(
            f"""a{r} AS MATERIALIZED (
        SELECT p, ((raw // s.g) * 1000000) // greatest(s.mx // s.g, 1) AS aq
        FROM ar{r} CROSS JOIN (
            SELECT greatest(max(raw), 1) AS mx,
                   greatest(greatest(max(raw), 1) // 1000000000000, 1) AS g
            FROM ar{r}) s
    )"""
        )
        parts.append(
            f"""hr{r} AS MATERIALIZED (
        SELECT e.c, CAST(sum(a.aq) AS BIGINT) AS raw
        FROM edges e JOIN a{r} a ON a.p = e.p GROUP BY e.c
    )"""
        )
        parts.append(
            f"""h{r} AS MATERIALIZED (
        SELECT c, ((raw // s.g) * 1000000) // greatest(s.mx // s.g, 1) AS hq
        FROM hr{r} CROSS JOIN (
            SELECT greatest(max(raw), 1) AS mx,
                   greatest(greatest(max(raw), 1) // 1000000000000, 1) AS g
            FROM hr{r}) s
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    tops AS (
        SELECT 'authority' AS side, p AS node_key, aq AS score_q
        FROM a{_HITS_ROUNDS} ORDER BY aq DESC, p LIMIT 10
    ),
    toph AS (
        SELECT 'hub' AS side, c AS node_key, hq AS score_q
        FROM h{_HITS_ROUNDS} ORDER BY hq DESC, c LIMIT 10
    )
    SELECT side, CAST(node_key AS BIGINT) AS node_key,
           CAST(score_q AS BIGINT) / 1e6 AS score
    FROM (SELECT * FROM tops UNION ALL SELECT * FROM toph)
    ORDER BY side, score DESC, node_key
    """


def _hits_raw(edges: DataFrame, prev: DataFrame, join_key: str, out_key: str) -> DataFrame:
    """One HITS half-step's raw scores: ``prev``'s normalized scores
    ``q`` flow over ``edges`` (join + map-side-combinable sum)."""
    return (
        edges.join(prev.select(F.col("q").alias("pq"), join_key), join_key)
        .groupBy(out_key)
        .agg(F.sum("pq").cast("long").alias("raw"))
    )


def _hits_renorm(raw: DataFrame, out_key: str, max_raw: int | None) -> DataFrame:
    """Renormalize ``raw`` by its max ``max_raw`` (None over no rows) to
    integer scores ``q`` out of 1e6: a projection with that literal."""
    return (
        raw.select(
            out_key,
            "raw",
            F.greatest(F.lit(max_raw).cast("long"), F.lit(1)).alias("mx"),
        )
        .select(
            out_key,
            "raw",
            "mx",
            # G-shrink overflow guard: both operands are divided by g first, so raw * 1e6
            # cannot overflow at any degree.
            F.greatest(F.expr("mx div 1000000000000"), F.lit(1)).cast("long").alias("g"),
        )
        .select(
            out_key,
            F.expr("((raw div g) * 1000000) div greatest(mx div g, 1)").cast("long").alias("q"),
        )
    )


def _hits_half(edges: DataFrame, prev: DataFrame, join_key: str, out_key: str) -> DataFrame:
    """One HITS half-step: ONE job checkpoints the raw aggregate and
    observes its max (a partial max per task, merged on the driver); the
    renorm is a lazy projection of that checkpoint, read by the next
    half-step and the top-10. An unpartitioned
    ``max("raw").over(W.partitionBy())`` cost an ``Exchange
    SinglePartition`` job per half-step and put every node in one task."""
    from .session import checkpoint_observed

    raw, seen = checkpoint_observed(
        _hits_raw(edges, prev, join_key, out_key), F.max("raw").alias("mx")
    )
    return _hits_renorm(raw, out_key, seen["mx"])


@query(
    "hits_bipartite",
    _hits_oracle_sql(),
    ("orders", "lineitem", "graph", "analytics"),
)
def hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs (customers) and authorities (parts): 4 alternating rounds of join + sum, each
    renormalized by its max with integer division; top 10 per side by unique (score, key) order.
    All integers."""
    from .session import track_cache

    t = _t(spark, sf_dir)
    # ONE exchange builds the cached edge list: hash-partitioning by c
    # colocates every (c, p) duplicate, so the dedup aggregate rides the
    # repartition('c') exchange instead of adding its own (c, p)
    # exchange followed by a second c-keyed one (r15: distinct() +
    # repartition('c') was two full shuffles of the edge list)
    edges = track_cache(
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_partkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .repartition("c")
        .dropDuplicates(["c", "p"])
    )

    h = edges.select("c").distinct().select(
        "c", F.lit(1_000_000).cast("long").alias("q")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        a = _hits_half(edges, h, "c", "p")
        h = _hits_half(edges, a, "p", "c")
    tops = (
        a.orderBy(F.col("q").desc(), "p")
        .limit(10)
        .select(
            F.lit("authority").alias("side"),
            F.col("p").cast("long").alias("node_key"),
            (F.col("q") / 1e6).alias("score"),
        )
    )
    toph = (
        h.orderBy(F.col("q").desc(), "c")
        .limit(10)
        .select(
            F.lit("hub").alias("side"),
            F.col("c").cast("long").alias("node_key"),
            (F.col("q") / 1e6).alias("score"),
        )
    )
    return tops.unionByName(toph).orderBy(
        "side", F.col("score").desc(), "node_key"
    )


@query(
    "acf_ljung_box",
    """
    WITH daily0 AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT)
                   AS dol
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, min(day_i) AS dmin, max(day_i) AS dmax
          FROM daily0 GROUP BY event_type),
    spine AS (
        SELECT s.event_type, s.d AS day_i, COALESCE(d0.dol, 0) AS x
        FROM (SELECT event_type, unnest(generate_series(dmin, dmax)) AS d
              FROM b) s
        LEFT JOIN daily0 d0 ON d0.event_type = s.event_type AND d0.day_i = s.d
    ),
    cent AS (
        SELECT event_type, day_i,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(count(*) OVER (PARTITION BY event_type) * x
                    - sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS y
        FROM spine
    ),
    lagged AS (
        SELECT event_type, n, y,
               lag(y, 1) OVER (PARTITION BY event_type ORDER BY day_i) AS y1,
               lag(y, 2) OVER (PARTITION BY event_type ORDER BY day_i) AS y2,
               lag(y, 3) OVER (PARTITION BY event_type ORDER BY day_i) AS y3,
               lag(y, 4) OVER (PARTITION BY event_type ORDER BY day_i) AS y4,
               lag(y, 5) OVER (PARTITION BY event_type ORDER BY day_i) AS y5,
               lag(y, 6) OVER (PARTITION BY event_type ORDER BY day_i) AS y6,
               lag(y, 7) OVER (PARTITION BY event_type ORDER BY day_i) AS y7
        FROM cent
    ),
    agg AS (
        SELECT event_type, n,
               CAST(sum(y * y) AS BIGINT) AS den,
               CAST(COALESCE(sum(y * y1), 0) AS BIGINT) AS num1,
               CAST(COALESCE(sum(y * y2), 0) AS BIGINT) AS num2,
               CAST(COALESCE(sum(y * y3), 0) AS BIGINT) AS num3,
               CAST(COALESCE(sum(y * y4), 0) AS BIGINT) AS num4,
               CAST(COALESCE(sum(y * y5), 0) AS BIGINT) AS num5,
               CAST(COALESCE(sum(y * y6), 0) AS BIGINT) AS num6,
               CAST(COALESCE(sum(y * y7), 0) AS BIGINT) AS num7
        FROM lagged GROUP BY event_type, n
    ),
    quant AS (
        SELECT event_type, n, den,
               greatest(den // 1000000000000, 1) AS g,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num1 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a1,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num2 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a2,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num3 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a3,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num4 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a4,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num5 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a5,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num6 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a6,
               CASE WHEN den = 0 THEN 0 ELSE
                    ((num7 // greatest(den // 1000000000000, 1)) * 1000000)
                    // greatest(den // greatest(den // 1000000000000, 1), 1)
               END AS a7
        FROM agg
    ),
    qstat AS (
        SELECT event_type, n, a1, a2, a3, a4, a5, a6, a7,
               CAST(n * (n + 2) * (
                   CASE WHEN n <= 1 THEN 0 ELSE (a1 * a1) // (n - 1) END
                 + CASE WHEN n <= 2 THEN 0 ELSE (a2 * a2) // (n - 2) END
                 + CASE WHEN n <= 3 THEN 0 ELSE (a3 * a3) // (n - 3) END
                 + CASE WHEN n <= 4 THEN 0 ELSE (a4 * a4) // (n - 4) END
                 + CASE WHEN n <= 5 THEN 0 ELSE (a5 * a5) // (n - 5) END
                 + CASE WHEN n <= 6 THEN 0 ELSE (a6 * a6) // (n - 6) END
                 + CASE WHEN n <= 7 THEN 0 ELSE (a7 * a7) // (n - 7) END
               ) AS BIGINT) AS q_q
        FROM quant
    )
    SELECT event_type, CAST(l.lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           CAST(CASE l.lag WHEN 1 THEN a1 WHEN 2 THEN a2 WHEN 3 THEN a3
                WHEN 4 THEN a4 WHEN 5 THEN a5 WHEN 6 THEN a6
                ELSE a7 END AS BIGINT) / 1e6 AS acf,
           q_q / 1e12 AS lb_q,
           q_q > 14067140449340 AS autocorrelated
    FROM qstat CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
    ORDER BY event_type, lag
    """,
    ("events", "analytics", "timeseries"),
)
def acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF at lags 1..7 and the Ljung-Box Q per event type on the dense daily series: centered
    exact BIGINT sums, G-shrink-guarded quantized divisions, and the chi2(7, 0.95) verdict as an
    integer compare."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    daily0 = (
        t["events"]
        .select(
            "event_type",
            F.expr("datediff(cast(ts as date), DATE '1970-01-01')")
            .cast("long")
            .alias("day_i"),
            F.expr("cast(round(value * 100) as bigint)").alias("__vc"),
        )
        .groupBy("event_type", "day_i")
        .agg(F.expr("cast(sum(__vc) div 100 as bigint)").alias("dol"))
    )
    b = daily0.groupBy("event_type").agg(
        F.min("day_i").alias("dmin"), F.max("day_i").alias("dmax")
    )
    spine = (
        b.select(
            "event_type",
            F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("day_i"),
        )
        .join(daily0, ["event_type", "day_i"], "left")
        .select("event_type", "day_i", F.coalesce("dol", F.lit(0)).alias("x"))
    )
    wp = W.partitionBy("event_type")
    wt = W.partitionBy("event_type").orderBy("day_i")
    cent = spine.select(
        "event_type",
        "day_i",
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        (F.count(F.lit(1)).over(wp) * F.col("x") - F.sum("x").over(wp))
        .cast("long")
        .alias("y"),
    )
    lagged = cent.select(
        "event_type",
        "n",
        "y",
        *[F.lag("y", k).over(wt).alias(f"y{k}") for k in range(1, 8)],
    )
    agg = lagged.groupBy("event_type", "n").agg(
        F.sum(F.col("y") * F.col("y")).cast("long").alias("den"),
        *[
            F.coalesce(F.sum(F.col("y") * F.col(f"y{k}")), F.lit(0))
            .cast("long")
            .alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    # G-shrink guard: den is ~3.7e13 at sf0.1, so num * 1e6 would overflow BIGINT; both operands
    # are pre-divided by g. den < 2^63 to ~1000x bench SF; beyond, coarsen dollars.
    gexpr = "greatest(den div 1000000000000, 1)"
    quant = agg.select(
        "event_type",
        "n",
        "den",
        *[
            F.expr(
                f"CASE WHEN den = 0 THEN 0L ELSE"
                f" ((num{k} div {gexpr}) * 1000000)"
                f" div greatest(den div {gexpr}, 1) END"
            ).alias(f"a{k}")
            for k in range(1, 8)
        ],
    )
    qterms = " + ".join(
        f"CASE WHEN n <= {k} THEN 0L ELSE (a{k} * a{k}) div (n - {k}) END"
        for k in range(1, 8)
    )
    qstat = quant.select(
        "event_type",
        "n",
        *[f"a{k}" for k in range(1, 8)],
        F.expr(f"CAST(n * (n + 2) * ({qterms}) AS BIGINT)").alias("q_q"),
    )
    pairs = ", ".join(f"{k}L, a{k}" for k in range(1, 8))
    return (
        qstat.selectExpr(
            "event_type",
            "n",
            "q_q",
            f"stack(7, {pairs}) AS (lag, acf_q)",
        )
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            (F.col("acf_q") / 1e6).alias("acf"),
            (F.col("q_q") / 1e12).alias("lb_q"),
            (F.col("q_q") > F.lit(14067140449340)).alias("autocorrelated"),
        )
        .orderBy("event_type", "lag")
    )


@query(
    "xfq_rfm_segments",
    """
    WITH cust AS (
        SELECT o_custkey AS ck,
               CAST(date_diff('day', max(o_orderdate),
                    (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS rec,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS mon
        FROM orders GROUP BY o_custkey
    ),
    long_f AS (
        SELECT 'r' AS dim, rec AS v FROM cust
        UNION ALL SELECT 'f', freq FROM cust
        UNION ALL SELECT 'm', mon FROM cust
    ),
    hist AS (
        SELECT dim, v, CAST(count(*) AS BIGINT) AS c
        FROM long_f GROUP BY dim, v
    ),
    cum AS (
        SELECT dim, v,
               CAST(sum(c) OVER (PARTITION BY dim ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cm,
               CAST(sum(c) OVER (PARTITION BY dim) AS BIGINT) AS n
        FROM hist
    ),
    bounds AS (
        SELECT
            min(CASE WHEN dim = 'r' AND 5 * cm >= n * 1 THEN v END) AS r1,
            min(CASE WHEN dim = 'r' AND 5 * cm >= n * 2 THEN v END) AS r2,
            min(CASE WHEN dim = 'r' AND 5 * cm >= n * 3 THEN v END) AS r3,
            min(CASE WHEN dim = 'r' AND 5 * cm >= n * 4 THEN v END) AS r4,
            min(CASE WHEN dim = 'f' AND 5 * cm >= n * 1 THEN v END) AS f1,
            min(CASE WHEN dim = 'f' AND 5 * cm >= n * 2 THEN v END) AS f2,
            min(CASE WHEN dim = 'f' AND 5 * cm >= n * 3 THEN v END) AS f3,
            min(CASE WHEN dim = 'f' AND 5 * cm >= n * 4 THEN v END) AS f4,
            min(CASE WHEN dim = 'm' AND 5 * cm >= n * 1 THEN v END) AS m1,
            min(CASE WHEN dim = 'm' AND 5 * cm >= n * 2 THEN v END) AS m2,
            min(CASE WHEN dim = 'm' AND 5 * cm >= n * 3 THEN v END) AS m3,
            min(CASE WHEN dim = 'm' AND 5 * cm >= n * 4 THEN v END) AS m4
        FROM cum
    ),
    scored AS (
        SELECT ck, rec, freq, mon,
               6 - (1 + CASE WHEN rec > r1 THEN 1 ELSE 0 END
                      + CASE WHEN rec > r2 THEN 1 ELSE 0 END
                      + CASE WHEN rec > r3 THEN 1 ELSE 0 END
                      + CASE WHEN rec > r4 THEN 1 ELSE 0 END) AS rs,
               1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f2 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f3 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f4 THEN 1 ELSE 0 END AS fs,
               1 + CASE WHEN mon > m1 THEN 1 ELSE 0 END
                 + CASE WHEN mon > m2 THEN 1 ELSE 0 END
                 + CASE WHEN mon > m3 THEN 1 ELSE 0 END
                 + CASE WHEN mon > m4 THEN 1 ELSE 0 END AS ms
        FROM cust CROSS JOIN bounds
    ),
    labeled AS (
        SELECT *,
               CASE WHEN rs >= 4 AND fs >= 4 THEN 'champions'
                    WHEN fs >= 4 THEN 'loyal'
                    WHEN rs <= 2 AND fs >= 3 THEN 'at_risk'
                    WHEN rs <= 2 THEN 'hibernating'
                    WHEN rs >= 4 THEN 'recent'
                    ELSE 'regular' END AS segment_class
        FROM scored
    )
    SELECT segment_class,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rs) * 1000000 // count(*) AS BIGINT) / 1e6 AS avg_r_score,
           CAST(sum(freq) * 1000000 // count(*) AS BIGINT) / 1e6 AS avg_freq,
           CAST(sum(mon) // (100 * count(*)) AS BIGINT) AS avg_monetary_dollars,
           CAST(sum(rec) // count(*) AS BIGINT) AS avg_recency_days
    FROM labeled GROUP BY segment_class ORDER BY segment_class
    """,
    ("orders", "analytics", "customer"),
)
def xfq_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: 1..5 quintile scores for recency, frequency and monetary value from exact
    order statistics on a value histogram, then named lifecycle classes and integer-exact
    averages."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    orders = t["orders"]
    gmax = orders.agg(F.max("o_orderdate").alias("__gmax"))
    cust = (
        orders.select(
            "o_custkey",
            "o_orderdate",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias("__cents"),
        )
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("__cents").cast("long").alias("mon"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "ck",
            F.expr("cast(datediff(__gmax, __last) as bigint)").alias("rec"),
            "freq",
            "mon",
        )
        # consumed by the histogram chain AND the boundary-assignment
        # pass in one action — eager-checkpoint so the orders scan +
        # customer agg run once (the r6 self-union lesson: a 3-way
        # union of the same frame evaluates its subtree 3x)
        .localCheckpoint(eager=True)
    )
    long_f = cust.select(
        F.explode(
            F.expr(
                "array(named_struct('dim', 'r', 'v', rec),"
                " named_struct('dim', 'f', 'v', freq),"
                " named_struct('dim', 'm', 'v', mon))"
            )
        ).alias("s")
    ).select(F.col("s.dim").alias("dim"), F.col("s.v").alias("v"))
    hist = long_f.groupBy("dim", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W.partitionBy("dim").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = hist.select(
        "dim",
        "v",
        F.sum("c").over(wc).cast("long").alias("cm"),
        F.sum("c").over(W.partitionBy("dim")).cast("long").alias("n"),
    )
    bounds = cum.agg(
        *[
            F.min(
                F.when(
                    (F.col("dim") == d) & (5 * F.col("cm") >= F.col("n") * k),
                    F.col("v"),
                )
            ).alias(f"{d}{k}")
            for d in ("r", "f", "m")
            for k in range(1, 5)
        ]
    )
    bin_expr = lambda col, d: " + ".join(
        f"CASE WHEN {col} > {d}{k} THEN 1 ELSE 0 END" for k in range(1, 5)
    )
    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "ck",
        "rec",
        "freq",
        "mon",
        F.expr(f"6 - (1 + {bin_expr('rec', 'r')})").alias("rs"),
        F.expr(f"1 + {bin_expr('freq', 'f')}").alias("fs"),
        F.expr(f"1 + {bin_expr('mon', 'm')}").alias("ms"),
    )
    labeled = scored.withColumn(
        "segment_class",
        F.expr(
            "CASE WHEN rs >= 4 AND fs >= 4 THEN 'champions'"
            " WHEN fs >= 4 THEN 'loyal'"
            " WHEN rs <= 2 AND fs >= 3 THEN 'at_risk'"
            " WHEN rs <= 2 THEN 'hibernating'"
            " WHEN rs >= 4 THEN 'recent'"
            " ELSE 'regular' END"
        ),
    )
    return (
        labeled.groupBy("segment_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("rs").cast("long").alias("__srs"),
            F.sum("freq").cast("long").alias("__sf"),
            F.sum("mon").cast("long").alias("__sm"),
            F.sum("rec").cast("long").alias("__sr"),
        )
        .select(
            "segment_class",
            F.col("__n").alias("n_customers"),
            F.expr("cast(__srs * 1000000 div __n as bigint) / 1e6").alias(
                "avg_r_score"
            ),
            F.expr("cast(__sf * 1000000 div __n as bigint) / 1e6").alias("avg_freq"),
            F.expr("cast(__sm div (100 * __n) as bigint)").alias(
                "avg_monetary_dollars"
            ),
            F.expr("cast(__sr div __n as bigint)").alias("avg_recency_days"),
        )
        .orderBy("segment_class")
    )


@query(
    "attribution_shapley",
    """
    WITH uf AS (
        SELECT user_id,
               CAST(COALESCE(sum(DISTINCT CASE event_type
                    WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                    ELSE 0 END), 0) AS BIGINT) AS m,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ),
    exact AS (
        SELECT m, CAST(count(*) AS BIGINT) AS u,
               CAST(sum(conv) AS BIGINT) AS c
        FROM uf GROUP BY m
    ),
    spine AS (SELECT unnest(generate_series(0, 15)) AS t),
    rates AS (
        SELECT s.t,
               COALESCE(e.u, 0) AS u,
               CASE WHEN COALESCE(e.u, 0) = 0 THEN 0
                    ELSE e.c * 1000000 // e.u END AS r_q
        FROM spine s LEFT JOIN exact e ON e.m = s.t
    ),
    w AS (
        SELECT s.t AS s, CAST(sum(r.r_q) AS BIGINT) AS w_q
        FROM spine s JOIN rates r ON (r.t & s.t) = r.t
        GROUP BY s.t
    ),
    ch AS (
        SELECT col0 AS channel, CAST(col1 AS BIGINT) AS b
        FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                     ('view', 8)) v(col0, col1)
    ),
    phi AS (
        SELECT ch.channel, ch.b,
               CAST(sum(
                   (CASE bit_count(ws.s) WHEN 0 THEN 1 WHEN 1 THEN 1
                         WHEN 2 THEN 2 ELSE 6 END)
                 * (CASE 3 - bit_count(ws.s) WHEN 0 THEN 1 WHEN 1 THEN 1
                         WHEN 2 THEN 2 ELSE 6 END)
                 * (wsb.w_q - ws.w_q)
               ) AS BIGINT) AS phi_num
        FROM ch
        JOIN w ws ON (ws.s & ch.b) = 0
        JOIN w wsb ON wsb.s = (ws.s | ch.b)
        GROUP BY ch.channel, ch.b
    ),
    tot AS (SELECT CAST(sum(phi_num // 24) AS BIGINT) AS total FROM phi)
    SELECT p.channel,
           CAST((SELECT CAST(sum(u) AS BIGINT) FROM rates r
                 WHERE (r.t & p.b) <> 0) AS BIGINT) AS exposed_users,
           CAST(p.phi_num // 24 AS BIGINT) / 1e6 AS shapley_rate_credit,
           CASE WHEN t.total = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST((p.phi_num // 24) * 1000000 // t.total AS BIGINT)
                     / 1e6 END AS credit_share
    FROM phi p CROSS JOIN tot t
    ORDER BY p.channel
    """,
    ("events", "analytics", "attribution"),
)
def attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley channel attribution over the 16 exposure coalitions: exact-set conversion rates,
    w(S) by a bitwise-contain join, phi_i from factorial literals and one exact division by 4! =
    24."""
    t = _t(spark, sf_dir)
    uf = (
        t["events"]
        .select(
            "user_id",
            F.expr(
                "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2"
                " WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"
            ).alias("__bit"),
            F.expr(
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"
            ).alias("__cv"),
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum_distinct(F.col("__bit")), F.lit(0))
            .cast("long")
            .alias("m"),
            F.max("__cv").alias("conv"),
        )
    )
    # the exact-set table is <= 16 rows but derives from the full
    # events scan + user agg; BOTH the w-lattice and the exposed_users
    # branch consume it in one action — eager-checkpoint so the corpus
    # is scanned exactly once (22 -> fewer jobs, 1 scan at any scale)
    exact = uf.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("u"),
        F.sum("conv").cast("long").alias("c"),
    ).localCheckpoint(eager=True)
    spine = spark.range(16).select(F.col("id").cast("long").alias("t"))
    rates = (
        spine.join(exact, spine["t"] == exact["m"], "left")
        .select(
            "t",
            F.coalesce("u", F.lit(0)).cast("long").alias("u"),
            F.expr(
                "CASE WHEN coalesce(u, 0) = 0 THEN 0L"
                " ELSE c * 1000000 div u END"
            ).alias("r_q"),
        )
    )
    w = (
        spine.select(F.col("t").alias("s"))
        .join(rates, F.expr("(t & s) = t"))
        .groupBy("s")
        .agg(F.sum("r_q").cast("long").alias("w_q"))
    )
    ch = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, b long",
    )
    fact_expr = (
        "(CASE bit_count(s) WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2"
        " ELSE 6 END) * (CASE 3 - bit_count(s) WHEN 0 THEN 1 WHEN 1 THEN 1"
        " WHEN 2 THEN 2 ELSE 6 END)"
    )
    ws = w.select(F.col("s"), F.col("w_q").alias("w_s"))
    wsb = w.select(F.col("s").alias("sb"), F.col("w_q").alias("w_sb"))
    phi = (
        ch.join(ws, F.expr("(s & b) = 0"))
        .join(wsb, F.expr("sb = (s | b)"))
        .groupBy("channel", "b")
        .agg(
            F.sum(F.expr(f"{fact_expr} * (w_sb - w_s)"))
            .cast("long")
            .alias("phi_num")
        )
    )
    tot = phi.agg(
        F.sum(F.expr("phi_num div 24")).cast("long").alias("total")
    )
    exposed = (
        rates.crossJoin(F.broadcast(ch.select(F.col("channel").alias("__c"), F.col("b").alias("__b"))))
        .filter(F.expr("(t & __b) <> 0"))
        .groupBy("__c")
        .agg(F.sum("u").cast("long").alias("exposed_users"))
        .select(F.col("__c").alias("channel"), "exposed_users")
    )
    return (
        phi.crossJoin(F.broadcast(tot))
        .join(exposed, "channel")
        .select(
            "channel",
            "exposed_users",
            F.expr("CAST(phi_num div 24 AS BIGINT) / 1e6").alias(
                "shapley_rate_credit"
            ),
            F.expr(
                "CASE WHEN total = 0 THEN CAST(0 AS DOUBLE)"
                " ELSE CAST((phi_num div 24) * 1000000 div total AS BIGINT)"
                " / 1e6 END"
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


@query(
    "vocab_good_turing",
    """
    WITH ws AS (
        SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    toks AS (
        SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) AS i
              FROM ws WHERE len(w) >= 3)
    ),
    wc AS (
        SELECT g, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY g
    ),
    fof AS (
        SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM wc GROUP BY c
    ),
    scal AS (
        SELECT CAST(sum(n_r) AS BIGINT) AS v_total,
               CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
               CAST(COALESCE(sum(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT)
                   AS n1,
               CAST(COALESCE(sum(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT)
                   AS n2
        FROM fof
    )
    SELECT f.r, f.n_r, s.v_total, s.n_tokens,
           CAST(s.n1 * 1000000 // s.n_tokens AS BIGINT) / 1e6 AS p0_unseen,
           CAST(s.v_total + (s.n1 * (s.n1 - 1)) // (2 * (s.n2 + 1))
                AS BIGINT) AS chao1_richness
    FROM fof f CROSS JOIN scal s
    WHERE f.r <= 10
    ORDER BY f.r
    """,
    ("documents", "text", "analytics"),
)
def vocab_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen mass and bias-corrected Chao1 richness over lowercased word trigrams: the
    N_r head (r <= 10) with corpus scalars, all in integer units."""
    t = _t(spark, sf_dir)
    ws = t["documents"].select(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        ).alias("w")
    )
    toks = (
        ws.filter(F.size("w") >= 3)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"),
            "w",
        )
        .select(
            F.concat_ws(
                " ",
                F.element_at("w", F.col("i")),
                F.element_at("w", F.col("i") + 1),
                F.element_at("w", F.col("i") + 2),
            ).alias("g")
        )
    )
    wc = toks.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # the tiny frequency-of-frequencies table derives from the
    # corpus-sized gram shuffle but feeds both the scalar fold and
    # the r<=10 head — eager-checkpoint so the scan+shuffle run once
    fof = wc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    ).localCheckpoint(eager=True)
    scal = fof.agg(
        F.sum("n_r").cast("long").alias("v_total"),
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("r") == 2, F.col("n_r"))), F.lit(0))
        .cast("long")
        .alias("n2"),
    )
    return (
        fof.filter(F.col("r") <= 10)
        .crossJoin(F.broadcast(scal))
        .select(
            "r",
            "n_r",
            "v_total",
            "n_tokens",
            F.expr(
                "CAST(n1 * 1000000 div n_tokens AS BIGINT) / 1e6"
            ).alias("p0_unseen"),
            F.expr(
                "CAST(v_total + (n1 * (n1 - 1)) div (2 * (n2 + 1))"
                " AS BIGINT)"
            ).alias("chao1_richness"),
        )
        .orderBy("r")
    )


@query(
    "eb_shrunk_rates",
    """
    WITH u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    p AS (SELECT user_id, n, c, c * 1000000 // n AS p_q FROM u),
    sc0 AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               CAST(sum(p_q) AS BIGINT) AS sm,
               CAST(sum(p_q * p_q) AS BIGINT) AS sv
        FROM p
    ),
    sc1 AS (
        SELECT g, sm // g AS m_q,
               sv // g - (sm // g) * (sm // g) AS v_q
        FROM sc0
    ),
    sc AS (
        SELECT g, m_q, v_q,
               CASE WHEN v_q <= 0 THEN 0
                    ELSE greatest(
                        (m_q * (1000000 - m_q)) * 1000000
                        // greatest(v_q, 1) - 1000000, 0)
               END AS k_q
        FROM sc1
    ),
    scored AS (
        SELECT p.user_id, p.n, p.c, p.p_q, s.m_q, s.k_q,
               (s.m_q * s.k_q) // 1000000 AS a6,
               greatest((p.n * 1000000 + s.k_q) // 1000000000000, 1) AS gg
        FROM p CROSS JOIN sc s
    ),
    shr AS (
        SELECT user_id, n, c, p_q, m_q, k_q,
               (((c * 1000000 + a6) // gg) * 1000000)
               // greatest((n * 1000000 + k_q) // gg, 1) AS shrunk_q
        FROM scored
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           n AS n_events, c AS n_purchases,
           CAST(p_q AS BIGINT) / 1e6 AS raw_rate,
           CAST(shrunk_q AS BIGINT) / 1e6 AS shrunk_rate,
           CAST(m_q AS BIGINT) / 1e6 AS prior_mean,
           CAST(k_q AS BIGINT) / 1e6 AS prior_strength
    FROM shr
    ORDER BY shrunk_q DESC, user_id LIMIT 15
    """,
    ("events", "analytics", "quality"),
)
def eb_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user purchase rates with a method-of-moments
    prior in integer ops; top 15 users by shrunk rate (user_id tie-break)."""
    t = _t(spark, sf_dir)
    u = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("c"),
        )
    )
    # consumed by the prior fold AND the posterior scoring in one
    # action — eager-checkpoint the user aggregate so the events scan
    # + user shuffle run once (xeg pattern; #users << #events)
    p = u.select(
        "user_id", "n", "c", F.expr("c * 1000000 div n").alias("p_q")
    ).localCheckpoint(eager=True)
    sc = (
        p.agg(
            F.count(F.lit(1)).cast("long").alias("g"),
            F.sum("p_q").cast("long").alias("sm"),
            F.sum(F.col("p_q") * F.col("p_q")).cast("long").alias("sv"),
        )
        .select(
            "g",
            F.expr("sm div g").alias("m_q"),
            # Two divisions instead of (G*Sv - Sm^2)/G^2, which overflows BIGINT at ~10x bench
            # scale.
            F.expr("sv div g - (sm div g) * (sm div g)").alias("v_q"),
        )
        .select(
            "g",
            "m_q",
            "v_q",
            F.expr(
                "CASE WHEN v_q <= 0 THEN 0L"
                " ELSE greatest((m_q * (1000000 - m_q)) * 1000000"
                " div greatest(v_q, 1) - 1000000, 0L) END"
            ).alias("k_q"),
        )
    )
    shr = (
        p.crossJoin(F.broadcast(sc))
        .select(
            "user_id",
            "n",
            "c",
            "p_q",
            "m_q",
            "k_q",
            F.expr("(m_q * k_q) div 1000000").alias("a6"),
            F.expr(
                "greatest((n * 1000000 + k_q) div 1000000000000, 1)"
            ).alias("gg"),
        )
        .select(
            "user_id",
            "n",
            "c",
            "p_q",
            "m_q",
            "k_q",
            F.expr(
                "(((c * 1000000 + a6) div gg) * 1000000)"
                " div greatest((n * 1000000 + k_q) div gg, 1)"
            ).alias("shrunk_q"),
        )
    )
    return (
        shr.orderBy(F.col("shrunk_q").desc(), "user_id")
        .limit(15)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n").alias("n_events"),
            F.col("c").alias("n_purchases"),
            (F.col("p_q") / 1e6).alias("raw_rate"),
            (F.col("shrunk_q") / 1e6).alias("shrunk_rate"),
            (F.col("m_q") / 1e6).alias("prior_mean"),
            (F.col("k_q") / 1e6).alias("prior_strength"),
        )
    )


@query(
    "xej_neyman_allocation",
    """
    WITH strata AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(length(text)) AS BIGINT) AS sx,
               CAST(sum(length(text) * length(text)) AS BIGINT) AS sxx
        FROM documents GROUP BY lang
    ),
    sd AS (
        SELECT lang, n_h,
               CAST(floor(sqrt(greatest(
                   sxx // n_h - (sx // n_h) * (sx // n_h), 0)) * 1000)
                   AS BIGINT) AS sd_milli
        FROM strata
    ),
    wts AS (
        SELECT lang, n_h, sd_milli, n_h * sd_milli AS w,
               CAST(sum(n_h * sd_milli) OVER () AS BIGINT) AS tw
        FROM sd
    ),
    base AS (
        SELECT lang, n_h, sd_milli, w, tw,
               greatest(tw // 1000000000000, 1) AS g
        FROM wts
    ),
    seats AS (
        SELECT lang, n_h, sd_milli, w,
               (10000 * (w // g)) // greatest(tw // g, 1) AS base_n,
               (10000 * (w // g)) % greatest(tw // g, 1) AS rem
        FROM base
    ),
    ranked AS (
        SELECT lang, n_h, sd_milli, w, base_n,
               row_number() OVER (ORDER BY rem DESC, lang) AS rk,
               CAST(10000 - sum(base_n) OVER () AS BIGINT) AS leftover
        FROM seats
    )
    SELECT lang, n_h AS n_docs,
           CAST(sd_milli AS BIGINT) / 1e3 AS sd_chars,
           CAST(w AS BIGINT) AS neyman_weight,
           CAST(base_n + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_labels
    FROM ranked ORDER BY lang
    """,
    ("documents", "analytics", "sampling"),
)
def xej_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 10k-label budget across languages: n_h proportional to N_h *
    floor(sqrt(var_h)), integer seats plus largest-remainder leftovers, so the allocation sums to
    exactly 10000."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    strata = (
        t["documents"]
        .select("lang", F.length("text").cast("long").alias("x"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )
    sd = strata.select(
        "lang",
        "n_h",
        F.expr(
            # Declared integer-op variance (divide first): the exact cross-multiplied form
            # overflows at corpus scale.
            "CAST(floor(sqrt(greatest("
            "sxx div n_h - (sx div n_h) * (sx div n_h), 0L)) * 1000)"
            " AS BIGINT)"
        ).alias("sd_milli"),
    )
    wts = sd.select(
        "lang",
        "n_h",
        "sd_milli",
        (F.col("n_h") * F.col("sd_milli")).alias("w"),
        F.sum(F.col("n_h") * F.col("sd_milli"))
        # Unpartitioned windows over the strata frame (one row per language).
        .over(W.partitionBy())
        .cast("long")
        .alias("tw"),
    )
    seats = wts.select(
        "lang",
        "n_h",
        "sd_milli",
        "w",
        F.expr(
            "(10000 * (w div greatest(tw div 1000000000000, 1)))"
            " div greatest(tw div greatest(tw div 1000000000000, 1), 1)"
        ).alias("base_n"),
        F.expr(
            "(10000 * (w div greatest(tw div 1000000000000, 1)))"
            " % greatest(tw div greatest(tw div 1000000000000, 1), 1)"
        ).alias("rem"),
    )
    ranked = seats.select(
        "lang",
        "n_h",
        "sd_milli",
        "w",
        "base_n",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("rem").desc(), "lang"))
        .alias("rk"),
        (F.lit(10000) - F.sum("base_n").over(W.partitionBy()))
        .cast("long")
        .alias("leftover"),
    )
    return ranked.select(
        "lang",
        F.col("n_h").alias("n_docs"),
        (F.col("sd_milli") / 1e3).alias("sd_chars"),
        F.col("w").cast("long").alias("neyman_weight"),
        F.expr(
            "CAST(base_n + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("alloc_labels"),
    ).orderBy("lang")


@query(
    "xek_anova_doc_length",
    """
    WITH g AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_j,
               CAST(sum(length(text)) AS BIGINT) AS s_j,
               CAST(sum(length(text) * length(text)) AS BIGINT) AS sxx_j
        FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_j) AS BIGINT) AS n,
               CAST(sum(s_j) AS BIGINT) AS s,
               CAST(sum(sxx_j) AS BIGINT) AS sxx,
               CAST(sum((s_j * s_j) // n_j) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS k
        FROM g
    ),
    ss AS (
        SELECT n, k,
               t - (s * s) // n AS ssb,
               sxx - t AS ssw
        FROM tot
    ),
    f AS (
        SELECT n, k, ssb, ssw,
               greatest(greatest(ssb, ssw) // 1000000000000, 1) AS gg
        FROM ss
    )
    SELECT g.lang, g.n_j AS n_docs,
           CAST(g.s_j // g.n_j AS BIGINT) AS mean_chars,
           f.ssb AS ss_between, f.ssw AS ss_within,
           CAST(CASE WHEN f.ssw = 0 OR f.k <= 1 THEN 0
                ELSE (((f.ssb // f.gg) * 1000000)
                      // greatest(f.ssw // f.gg, 1))
                     * (f.n - f.k) // (f.k - 1) END AS BIGINT) / 1e6
               AS f_stat,
           CAST(CASE WHEN f.ssb + f.ssw = 0 THEN 0
                ELSE ((f.ssb // f.gg) * 1000000)
                     // greatest((f.ssb + f.ssw) // f.gg, 1) END AS BIGINT)
               / 1e6 AS eta_squared
    FROM g CROSS JOIN f
    ORDER BY g.lang
    """,
    ("documents", "analytics", "text"),
)
def xek_anova_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of doc length by language: exact BIGINT sums of squares, F and eta^2 each one
    G-shrink-guarded integer division. No verdict: the critical value depends on data-driven
    degrees of freedom."""
    t = _t(spark, sf_dir)
    g = (
        t["documents"]
        .select("lang", F.length("text").cast("long").alias("x"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_j"),
            F.sum("x").cast("long").alias("s_j"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_j"),
        )
        # feeds the SS fold and the per-language output rows in one
        # action — eager-checkpoint so the documents scan runs once
        .localCheckpoint(eager=True)
    )
    tot = g.agg(
        F.sum("n_j").cast("long").alias("n"),
        F.sum("s_j").cast("long").alias("s"),
        F.sum("sxx_j").cast("long").alias("sxx"),
        F.sum(F.expr("(s_j * s_j) div n_j")).cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    f = tot.select(
        "n",
        "k",
        F.expr("t - (s * s) div n").alias("ssb"),
        F.expr("sxx - t").alias("ssw"),
    ).select(
        "n",
        "k",
        "ssb",
        "ssw",
        # G-shrink guard: SSB * 1e6 alone would overflow at ~10x bench scale.
        F.expr("greatest(greatest(ssb, ssw) div 1000000000000, 1)").alias(
            "gg"
        ),
    )
    return (
        g.crossJoin(F.broadcast(f))
        .select(
            "lang",
            F.col("n_j").alias("n_docs"),
            F.expr("CAST(s_j div n_j AS BIGINT)").alias("mean_chars"),
            F.col("ssb").alias("ss_between"),
            F.col("ssw").alias("ss_within"),
            F.expr(
                "CAST(CASE WHEN ssw = 0 OR k <= 1 THEN 0"
                " ELSE (((ssb div gg) * 1000000)"
                " div greatest(ssw div gg, 1)) * (n - k) div (k - 1) END"
                " AS BIGINT) / 1e6"
            ).alias("f_stat"),
            F.expr(
                "CAST(CASE WHEN ssb + ssw = 0 THEN 0"
                " ELSE ((ssb div gg) * 1000000)"
                " div greatest((ssb + ssw) div gg, 1) END AS BIGINT) / 1e6"
            ).alias("eta_squared"),
        )
        .orderBy("lang")
    )


@query(
    "xeo_theil_sen_slope",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               (b.c - a.c) * 1000000 // (b.d - a.d) AS slope_q,
               a.d AS d1, b.d AS d2
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.d > a.d
    ),
    med AS (
        SELECT event_type, slope_q,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope_q, d1, d2) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
        FROM pairs
    ),
    sl AS (
        SELECT event_type, slope_q AS ts_slope_q, m AS n_pairs
        FROM med WHERE rn = (m + 1) // 2
    ),
    resid AS (
        SELECT d.event_type,
               d.c * 1000000 - s.ts_slope_q * d.d AS r_q,
               d.d,
               s.ts_slope_q, s.n_pairs
        FROM daily d JOIN sl s ON s.event_type = d.event_type
    ),
    rmed AS (
        SELECT event_type, ts_slope_q, n_pairs, r_q,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY r_q, d) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM resid
    )
    SELECT event_type, n AS n_days, n_pairs,
           CAST(ts_slope_q AS BIGINT) / 1e6 AS slope_cents_per_day,
           CAST(r_q AS BIGINT) / 1e6 AS intercept_cents
    FROM rmed WHERE rn = (n + 1) // 2
    ORDER BY event_type
    """,
    ("events", "analytics", "timeseries"),
)
def xeo_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen slope and intercept per event type: lower median of pairwise slopes from a
    day-pair self-join, then lower median of residuals, under unique orders. Signed integer
    quotients truncate toward zero."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            "event_type",
            F.expr("datediff(cast(ts as date), DATE '1970-01-01')")
            .cast("long")
            .alias("d"),
            F.expr("cast(round(value * 100) as bigint)").alias("__vc"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("__vc").cast("long").alias("c"))
        # consumed by the pair join (twice, as both sides) and the
        # residual pass — checkpoint so the events scan runs once
        .localCheckpoint(eager=True)
    )
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("c").alias("c1")
    )
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("c").alias("c2"),
    )
    pairs = a.join(
        b, (F.col("et2") == F.col("event_type")) & (F.col("d2") > F.col("d1"))
    ).select(
        "event_type",
        F.expr("(c2 - c1) * 1000000 div (d2 - d1)").alias("slope_q"),
        "d1",
        "d2",
    )
    wm = W.partitionBy("event_type").orderBy("slope_q", "d1", "d2")
    med = pairs.select(
        "event_type",
        "slope_q",
        F.row_number().over(wm).alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .cast("long")
        .alias("m"),
    )
    sl = med.filter(F.expr("rn = (m + 1) div 2")).select(
        "event_type",
        F.col("slope_q").alias("ts_slope_q"),
        F.col("m").alias("n_pairs"),
    )
    resid = daily.join(sl, "event_type").select(
        "event_type",
        "ts_slope_q",
        "n_pairs",
        F.expr("c * 1000000 - ts_slope_q * d").alias("r_q"),
        "d",
    )
    wr = W.partitionBy("event_type").orderBy("r_q", "d")
    rmed = resid.select(
        "event_type",
        "ts_slope_q",
        "n_pairs",
        "r_q",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    return (
        rmed.filter(F.expr("rn = (n + 1) div 2"))
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "n_pairs",
            (F.col("ts_slope_q") / 1e6).alias("slope_cents_per_day"),
            (F.col("r_q") / 1e6).alias("intercept_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "xep_file_orc_roundtrip",
    """
    SELECT l_returnflag AS grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    ("source", "sink", "lineitem"),
)
def xep_file_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip: a lineitem projection with integer cents written to ORC, read back with an
    explicit schema and aggregated; the oracle aggregates parquet directly, so equality proves the
    roundtrip lossless."""
    from .queries import _scratch_dir

    t = _t(spark, sf_dir)
    path = _scratch_dir("file_rt_orc", sf_dir)
    t["lineitem"].select(
        "l_orderkey",
        "l_returnflag",
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("cents"),
    ).write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "l_orderkey long, l_returnflag string, cents long"
    ).orc(path)
    return (
        back.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("grp")
    )


@query(
    "xeq_degree_assortativity",
    """
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
    ),
    directed AS (
        SELECT u AS s, v AS d FROM pairs
        UNION ALL
        SELECT v, u FROM pairs
    ),
    degs AS (
        SELECT s, d,
               CAST(count(*) OVER (PARTITION BY s) AS BIGINT) AS deg
        FROM directed
    ),
    per_edge AS (
        SELECT least(s, d) AS lo, greatest(s, d) AS hi,
               CAST(max(CASE WHEN s = least(s, d) THEN deg END) AS BIGINT)
                   AS dlo,
               CAST(max(CASE WHEN s = greatest(s, d) THEN deg END) AS BIGINT)
                   AS dhi
        FROM degs GROUP BY least(s, d), greatest(s, d)
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(2 * count(*) AS BIGINT) AS n,
               CAST(sum(dlo + dhi) AS BIGINT) AS sx,
               CAST(sum(2 * dlo * dhi) AS BIGINT) AS sxy,
               CAST(sum(dlo * dlo + dhi * dhi) AS BIGINT) AS sxx,
               CAST(max(greatest(dlo, dhi)) AS BIGINT) AS maxdeg
        FROM per_edge
    )
    SELECT m AS n_edges,
           CAST(sx // n AS BIGINT) AS mean_degree,
           maxdeg AS max_degree,
           CAST(CASE WHEN sxx // n - (sx // n) * (sx // n) <= 0 THEN 0
                ELSE (sxy // n - (sx // n) * (sx // n)) * 1000000
                     // (sxx // n - (sx // n) * (sx // n)) END AS BIGINT)
               / 1e6 AS assortativity
    FROM sums
    """,
    ("lineitem", "graph", "analytics"),
)
def xeq_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Newman's r over the directed pair list with
    exact integer degrees and integer-op moments (no sqrt by symmetry), one quantized division."""
    from pyspark.sql.window import Window as W

    from .operators.analytics import array_pairs
    from .operators.graph import _both_directions

    t = _t(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    # in-array pair enumeration (``array_pairs``): per-order sorted
    # part arrays are bounded (<= 17 at fixture), so the co-purchase
    # edges explode map-side — no order-keyed self-join.
    pairs = (
        li.distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("__its"))
        .select(F.explode(array_pairs(F.col("__its"))).alias("__p"))
        .select(F.col("__p")[0].alias("u"), F.col("__p")[1].alias("v"))
        .distinct()
    )
    directed = _both_directions(pairs, "u", "v").select(
        F.col("__u").alias("s"), F.col("__v").alias("d")
    )
    degs = directed.select(
        "s",
        "d",
        F.count(F.lit(1)).over(W.partitionBy("s")).cast("long").alias("deg"),
    )
    per_edge = (
        degs.select(
            F.least("s", "d").alias("lo"),
            F.greatest("s", "d").alias("hi"),
            "s",
            "deg",
        )
        .groupBy("lo", "hi")
        .agg(
            F.max(F.when(F.col("s") == F.col("lo"), F.col("deg")))
            .cast("long")
            .alias("dlo"),
            F.max(F.when(F.col("s") == F.col("hi"), F.col("deg")))
            .cast("long")
            .alias("dhi"),
        )
    )
    sums = per_edge.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        (2 * F.count(F.lit(1))).cast("long").alias("n"),
        F.sum(F.col("dlo") + F.col("dhi")).cast("long").alias("sx"),
        F.sum(2 * F.col("dlo") * F.col("dhi")).cast("long").alias("sxy"),
        F.sum(F.col("dlo") * F.col("dlo") + F.col("dhi") * F.col("dhi"))
        .cast("long")
        .alias("sxx"),
        F.max(F.greatest("dlo", "dhi")).cast("long").alias("maxdeg"),
    )
    return sums.select(
        F.col("m").alias("n_edges"),
        F.expr("CAST(sx div n AS BIGINT)").alias("mean_degree"),
        F.col("maxdeg").alias("max_degree"),
        F.expr(
            # Declared integer-op moments (divide before multiplying): overflow-free at any scale.
            "CAST(CASE WHEN sxx div n - (sx div n) * (sx div n) <= 0 THEN 0"
            " ELSE (sxy div n - (sx div n) * (sx div n)) * 1000000"
            " div (sxx div n - (sx div n) * (sx div n)) END AS BIGINT) / 1e6"
        ).alias("assortativity"),
    )


@query(
    "xer_lang_jsd_matrix",
    """
    WITH wcl AS (
        SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT lang,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                         AS w
              FROM documents)
        WHERE w <> '' GROUP BY lang, w
    ),
    nl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM wcl GROUP BY lang),
    legs AS (
        SELECT a.lang AS la, nb.lang AS lb, a.w,
               a.c AS cp, COALESCE(b.c, 0) AS cq,
               na.n AS np, nb.n AS nq
        FROM wcl a
        JOIN nl na ON na.lang = a.lang
        CROSS JOIN nl nb
        LEFT JOIN wcl b ON b.lang = nb.lang AND b.w = a.w
        WHERE nb.lang <> a.lang
    ),
    terms AS (
        SELECT la, lb,
               CAST(cp * CAST(floor(ln(
                   (2.0 * cp * nq) / (cp * nq + cq * np)) * 1000000)
                   AS BIGINT) AS BIGINT) AS t_q,
               np
        FROM legs
    ),
    kl AS (
        SELECT la, lb, np,
               CAST(sum(t_q) AS BIGINT) AS s_q
        FROM terms GROUP BY la, lb, np
    )
    SELECT k1.la AS lang_a, k1.lb AS lang_b,
           k1.np AS n_tokens_a, k2.np AS n_tokens_b,
           CAST(k1.s_q // (2 * k1.np) + k2.s_q // (2 * k2.np) AS BIGINT)
               / 1e6 AS jsd_nats
    FROM kl k1 JOIN kl k2 ON k2.la = k1.lb AND k2.lb = k1.la
    WHERE k1.la < k1.lb
    ORDER BY lang_a, lang_b
    """,
    ("documents", "text", "analytics"),
)
def xer_lang_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between language unigram distributions: each ln argument
    one division of exact BIGINT products, terms floor-quantized to micro-nats per word, then exact
    weighted sums."""
    t = _t(spark, sf_dir)
    wcl = (
        t["documents"]
        .select(
            "lang",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # both KL legs and the totals consume this vocabulary-bounded
        # aggregate — checkpoint so the corpus shuffle runs once
        .localCheckpoint(eager=True)
    )
    nl = wcl.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    a = wcl.select(
        F.col("lang").alias("la"), "w", F.col("c").alias("cp")
    ).join(
        nl.select(F.col("lang").alias("la"), F.col("n").alias("np")), "la"
    )
    bspine = nl.select(F.col("lang").alias("lb"), F.col("n").alias("nq"))
    bcounts = wcl.select(
        F.col("lang").alias("lb2"), F.col("w").alias("w2"), F.col("c").alias("cq0")
    )
    legs = (
        a.crossJoin(F.broadcast(bspine))
        .filter(F.col("lb") != F.col("la"))
        .join(
            bcounts,
            (F.col("lb2") == F.col("lb")) & (F.col("w2") == F.col("w")),
            "left",
        )
        .select(
            "la",
            "lb",
            "cp",
            F.coalesce("cq0", F.lit(0)).cast("long").alias("cq"),
            "np",
            "nq",
        )
    )
    terms = legs.select(
        "la",
        "lb",
        "np",
        F.expr(
            "CAST(cp * CAST(floor(ln((2.0 * cp * nq) / (cp * nq + cq * np))"
            " * 1000000) AS BIGINT) AS BIGINT)"
        ).alias("t_q"),
    )
    kl = terms.groupBy("la", "lb", "np").agg(
        F.sum("t_q").cast("long").alias("s_q")
    )
    k2 = kl.select(
        F.col("la").alias("la2"),
        F.col("lb").alias("lb2"),
        F.col("np").alias("np2"),
        F.col("s_q").alias("s_q2"),
    )
    return (
        kl.join(
            k2, (F.col("la2") == F.col("lb")) & (F.col("lb2") == F.col("la"))
        )
        .filter(F.col("la") < F.col("lb"))
        .select(
            F.col("la").alias("lang_a"),
            F.col("lb").alias("lang_b"),
            F.col("np").alias("n_tokens_a"),
            F.col("np2").alias("n_tokens_b"),
            F.expr(
                "CAST(s_q div (2 * np) + s_q2 div (2 * np2) AS BIGINT) / 1e6"
            ).alias("jsd_nats"),
        )
        .orderBy("lang_a", "lang_b")
    )


@query(
    "xes_burstiness",
    """
    WITH ev AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS ds
        FROM ev WHERE prev_ts IS NOT NULL
    ),
    per_user AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ds) AS BIGINT) AS sx,
               CAST(sum(ds * ds) AS BIGINT) AS sxx
        FROM gaps GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, n,
               (sx // n) * 1000 AS mu_milli,
               CAST(floor(sqrt(greatest(
                   sxx // n - (sx // n) * (sx // n), 0)) * 1000)
                   AS BIGINT) AS sd_milli
        FROM per_user WHERE n >= 5
    ),
    bq AS (
        SELECT user_id, n, mu_milli, sd_milli,
               CASE WHEN sd_milli + mu_milli = 0 THEN 0
                    ELSE (sd_milli - mu_milli) * 1000000
                         // (sd_milli + mu_milli) END AS b_q
        FROM scored
    )
    SELECT CASE WHEN b_q <= -200000 THEN 'periodic'
                WHEN b_q > 200000 THEN 'bursty'
                ELSE 'regular' END AS band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(b_q) // count(*) AS BIGINT) / 1e6 AS mean_burstiness,
           CAST(sum(n) // count(*) AS BIGINT) AS mean_gaps,
           CAST(sum(mu_milli // 1000) // count(*) AS BIGINT)
               AS mean_gap_seconds
    FROM bq
    GROUP BY CASE WHEN b_q <= -200000 THEN 'periodic'
                  WHEN b_q > 200000 THEN 'bursty'
                  ELSE 'regular' END
    ORDER BY band
    """,
    ("events", "analytics", "timeseries"),
)
def xes_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness B = (sigma - mu)/(sigma + mu) of inter-event gaps in whole seconds (min
    5 gaps), quantized, then banded at +-0.2 with integer-division means per band."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        "ts",
        "event_id",
        F.lag("ts")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_ts"),
    )
    gaps = ev.filter(F.col("prev_ts").isNotNull()).select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND, prev_ts, ts) div 1000000"
        ).alias("ds"),
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ds").cast("long").alias("sx"),
        F.sum(F.col("ds") * F.col("ds")).cast("long").alias("sxx"),
    )
    scored = per_user.filter(F.col("n") >= 5).select(
        "user_id",
        "n",
        F.expr("(sx div n) * 1000").alias("mu_milli"),
        F.expr(
            "CAST(floor(sqrt(greatest("
            "sxx div n - (sx div n) * (sx div n), 0L)) * 1000) AS BIGINT)"
        ).alias("sd_milli"),
    )
    bq = scored.select(
        "user_id",
        "n",
        "mu_milli",
        "sd_milli",
        F.expr(
            "CASE WHEN sd_milli + mu_milli = 0 THEN 0L"
            " ELSE (sd_milli - mu_milli) * 1000000"
            " div (sd_milli + mu_milli) END"
        ).alias("b_q"),
    )
    return (
        bq.select(
            F.expr(
                "CASE WHEN b_q <= -200000 THEN 'periodic'"
                " WHEN b_q > 200000 THEN 'bursty'"
                " ELSE 'regular' END"
            ).alias("band"),
            "b_q",
            "n",
            "mu_milli",
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.expr("CAST(sum(b_q) div count(1) AS BIGINT) / 1e6").alias(
                "mean_burstiness"
            ),
            F.expr("CAST(sum(n) div count(1) AS BIGINT)").alias("mean_gaps"),
            F.expr(
                "CAST(sum(mu_milli div 1000) div count(1) AS BIGINT)"
            ).alias("mean_gap_seconds"),
        )
        .orderBy("band")
    )


# SPRT literal table (Wald 1945, H0 p=0.15 vs H1 p=0.25, alpha=beta=
# 0.05): per-observation LLR steps and decision bounds in integer
# micro-nats, computed once in python and pinned by formula test —
# A = floor(ln(p1/p0)*1e6), B = floor(ln((1-p1)/(1-p0))*1e6) (floor
# of a NEGATIVE value — -125163.14 floors to -125164),
# UP = floor(ln((1-beta)/alpha)*1e6), LO = -UP (symmetric alpha=beta).
_SPRT_STEP_SUCC = 510825
_SPRT_STEP_FAIL = -125164
_SPRT_BOUND_Q = 2944438


@query(
    "sprt_ab",
    """
    WITH arms AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT
                         % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value > 250
                        THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    ),
    walk AS (
        SELECT arm, user_id, conv,
               CAST(sum(conv * 510825 + (1 - conv) * -125164)
                    OVER (PARTITION BY arm ORDER BY user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS s,
               row_number() OVER (PARTITION BY arm ORDER BY user_id) AS rn
        FROM arms
    ),
    agg AS (
        SELECT arm,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv,
               CAST(sum(conv * 510825 + (1 - conv) * -125164) AS BIGINT)
                   AS final_llr_q,
               min(CASE WHEN s >= 2944438 THEN rn END) AS rn_up,
               min(CASE WHEN s <= -2944438 THEN rn END) AS rn_lo
        FROM walk GROUP BY arm
    )
    SELECT arm, n_users, n_conv,
           CAST(CASE
                WHEN rn_up IS NOT NULL
                     AND (rn_lo IS NULL OR rn_up < rn_lo) THEN rn_up
                WHEN rn_lo IS NOT NULL THEN rn_lo
                ELSE n_users END AS BIGINT) AS n_at_decision,
           CASE WHEN rn_up IS NOT NULL
                     AND (rn_lo IS NULL OR rn_up < rn_lo)
                THEN 'accept_lift'
                WHEN rn_lo IS NOT NULL THEN 'reject_lift'
                ELSE 'undecided' END AS decision,
           CAST(final_llr_q AS BIGINT) / 1e6 AS final_llr
    FROM agg ORDER BY arm
    """,
    ("events", "analytics", "quality"),
)
def sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT (p0=0.15 vs p1=0.25, alpha=beta=0.05) over the A/B arms in user_id order: integer
    micro-nat LLR steps and bounds, first crossing per arm or 'undecided'."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    arms = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN event_type = 'purchase' AND value > 250"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("conv")
        )
        .select(
            "user_id",
            "conv",
            F.when(
                F.pmod(
                    dedup_ops.portable_hash(F.col("user_id"), F.lit("ab")),
                    F.lit(2),
                )
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("arm"),
        )
    )
    step = (
        F.col("conv") * F.lit(_SPRT_STEP_SUCC)
        + (1 - F.col("conv")) * F.lit(_SPRT_STEP_FAIL)
    )
    # The sequential walk is order-dependent: this cumsum puts each arm in one partition. At corpus
    # scale use a two-pass parallel prefix scan (per-bucket partial sums, broadcast offsets); the
    # integers are identical.
    ww = W.partitionBy("arm").orderBy("user_id")
    walk = arms.select(
        "arm",
        "conv",
        F.sum(step)
        .over(ww.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("s"),
        F.row_number().over(ww).alias("rn"),
    )
    agg = walk.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
        F.sum(step).cast("long").alias("final_llr_q"),
        F.min(
            F.when(F.col("s") >= _SPRT_BOUND_Q, F.col("rn"))
        ).alias("rn_up"),
        F.min(
            F.when(F.col("s") <= -_SPRT_BOUND_Q, F.col("rn"))
        ).alias("rn_lo"),
    )
    return agg.select(
        "arm",
        "n_users",
        "n_conv",
        F.expr(
            "CAST(CASE WHEN rn_up IS NOT NULL"
            " AND (rn_lo IS NULL OR rn_up < rn_lo) THEN rn_up"
            " WHEN rn_lo IS NOT NULL THEN rn_lo"
            " ELSE n_users END AS BIGINT)"
        ).alias("n_at_decision"),
        F.expr(
            "CASE WHEN rn_up IS NOT NULL"
            " AND (rn_lo IS NULL OR rn_up < rn_lo) THEN 'accept_lift'"
            " WHEN rn_lo IS NOT NULL THEN 'reject_lift'"
            " ELSE 'undecided' END"
        ).alias("decision"),
        (F.col("final_llr_q") / 1e6).alias("final_llr"),
    ).orderBy("arm")


@query(
    "xeu_hill_tail_index",
    """
    WITH purch AS (
        SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase' AND CAST(round(value * 100) AS BIGINT) > 0
    ),
    top101 AS (
        SELECT cents, event_id FROM purch
        ORDER BY cents DESC, event_id LIMIT 101
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, event_id) AS rn
        FROM top101
    ),
    ks AS (SELECT unnest([50, 100]) AS k),
    thr AS (
        SELECT ks.k, r.cents AS x_k1
        FROM ks JOIN ranked r ON r.rn = ks.k + 1
    ),
    terms AS (
        SELECT t.k, t.x_k1,
               CAST(sum(CAST(floor(ln(CAST(r.cents AS DOUBLE) / t.x_k1)
                        * 1000000) AS BIGINT)) AS BIGINT) AS sum_ln_q
        FROM thr t JOIN ranked r ON r.rn <= t.k
        GROUP BY t.k, t.x_k1
    )
    SELECT CAST(k AS BIGINT) AS k, x_k1 AS threshold_cents,
           sum_ln_q,
           CASE WHEN sum_ln_q = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(k * 1000000000000 // sum_ln_q AS BIGINT) / 1e6
           END AS hill_alpha
    FROM terms ORDER BY k
    """,
    ("events", "analytics", "quality"),
)
def xeu_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail index of purchase values at k = 50 and 100 from the top 101 order statistics: each
    ln term one BIGINT ratio floored to micro-nats, alpha one integer quantized division."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    purch = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
    )
    top101 = purch.orderBy(F.col("cents").desc(), "event_id").limit(101)
    ranked = top101.select(
        "cents",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("cents").desc(), "event_id"))
        .alias("rn"),
    ).localCheckpoint(eager=True)
    ks = spark.createDataFrame([(50,), (100,)], "k long")
    thr = ks.join(ranked, F.col("rn") == F.col("k") + 1).select(
        "k", F.col("cents").alias("x_k1")
    )
    terms = (
        thr.join(
            ranked.select(F.col("cents").alias("ci"), "rn"),
            F.col("rn") <= F.col("k"),
        )
        .groupBy("k", "x_k1")
        .agg(
            F.sum(
                F.expr(
                    "CAST(floor(ln(CAST(ci AS DOUBLE) / x_k1) * 1000000)"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("sum_ln_q")
        )
    )
    return terms.select(
        F.col("k").cast("long").alias("k"),
        F.col("x_k1").alias("threshold_cents"),
        "sum_ln_q",
        F.expr(
            "CASE WHEN sum_ln_q = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE CAST(k * 1000000000000 div sum_ln_q AS BIGINT) / 1e6 END"
        ).alias("hill_alpha"),
    ).orderBy("k")


@query(
    "xev_zipf_exponent",
    """
    WITH wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk,
               c
        FROM wc
    ),
    lns AS (
        SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000) AS BIGINT) AS x,
               CAST(floor(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT) AS y
        FROM ranked
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM lns
    ),
    ab AS (
        SELECT n,
               sxy // n - (sx // n) * (sy // n) AS a_q,
               sxx // n - (sx // n) * (sx // n) AS b_q,
               syy // n - (sy // n) * (sy // n) AS c_q
        FROM mom
    )
    SELECT n AS vocab_size,
           CAST(CASE WHEN b_q <= 0 THEN 0
                ELSE -(((a_q // greatest(b_q // 1000000000000, 1)) * 1000000)
                       // greatest(b_q // greatest(b_q // 1000000000000, 1),
                                   1)) END AS BIGINT) / 1e6
               AS zipf_exponent,
           CAST(CASE WHEN b_q <= 0 OR c_q <= 0 THEN 0
                ELSE CAST(floor(
                    (CAST(a_q AS DOUBLE) * a_q)
                    / (CAST(b_q AS DOUBLE) * c_q) * 1000000) AS BIGINT)
                END AS BIGINT) / 1e6 AS r_squared
    FROM ab
    """,
    ("documents", "text", "analytics"),
)
def xev_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent: OLS slope of ln(count) on ln(rank) over the vocabulary with both logs floored
    to milli-nats, integer-op moments, one guarded quantized division, and r^2; degenerate
    variances guarded."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    wc = (
        t["documents"]
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = wc.select(
        F.row_number()
        # Unpartitioned rank over the vocabulary (vocabulary-bounded).
        .over(W.partitionBy().orderBy(F.col("c").desc(), "w"))
        .cast("long")
        .alias("rk"),
        "c",
    )
    lns = ranked.select(
        F.expr(
            # Milli-nats, not micro: x, y <= ~43700, so sum(x*x) < 2^63 holds to ~4.8e9 distinct
            # words (micro-nats overflowed at ~1e5).
            "CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT)"
        ).alias("y"),
    )
    mom = lns.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    ab = mom.select(
        "n",
        F.expr("sxy div n - (sx div n) * (sy div n)").alias("a_q"),
        F.expr("sxx div n - (sx div n) * (sx div n)").alias("b_q"),
        F.expr("syy div n - (sy div n) * (sy div n)").alias("c_q"),
    )
    return ab.select(
        F.col("n").alias("vocab_size"),
        F.expr(
            "CAST(CASE WHEN b_q <= 0 THEN 0L"
            # G-shrink guard: the covariance * 1e6 product overflows unguarded at giant-corpus ln
            # magnitudes.
            " ELSE -(((a_q div greatest(b_q div 1000000000000, 1)) * 1000000)"
            " div greatest(b_q div greatest(b_q div 1000000000000, 1), 1))"
            " END AS BIGINT) / 1e6"
        ).alias("zipf_exponent"),
        F.expr(
            "CAST(CASE WHEN b_q <= 0 OR c_q <= 0 THEN 0L"
            " ELSE CAST(floor((CAST(a_q AS DOUBLE) * a_q)"
            " / (CAST(b_q AS DOUBLE) * c_q) * 1000000) AS BIGINT)"
            " END AS BIGINT) / 1e6"
        ).alias("r_squared"),
    )


@query(
    "xex_ltv_cohort_triangle",
    """
    WITH o AS (
        SELECT o_custkey AS ck,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                   AS mo,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    firsts AS (SELECT ck, min(mo) AS cohort FROM o GROUP BY ck),
    base AS (
        SELECT f.cohort, o.mo - f.cohort AS age,
               o.cents, o.ck
        FROM o JOIN firsts f ON f.ck = o.ck
    ),
    lim AS (SELECT min(cohort) AS c0 FROM firsts),
    cell AS (
        SELECT b.cohort, b.age,
               CAST(sum(b.cents) AS BIGINT) AS rev_cents
        FROM base b CROSS JOIN lim
        WHERE b.cohort < lim.c0 + 12 AND b.age BETWEEN 0 AND 11
        GROUP BY b.cohort, b.age
    ),
    sizes AS (
        SELECT f.cohort, CAST(count(*) AS BIGINT) AS n_cust
        FROM firsts f CROSS JOIN lim
        WHERE f.cohort < lim.c0 + 12
        GROUP BY f.cohort
    ),
    cum AS (
        SELECT c.cohort, c.age, s.n_cust, c.rev_cents,
               CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                    ORDER BY c.age
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM cell c JOIN sizes s ON s.cohort = c.cohort
    )
    SELECT cohort AS cohort_month_idx, age AS age_months, n_cust,
           CAST(rev_cents // 100 AS BIGINT) AS revenue_dollars,
           CAST(cum_cents // (100 * n_cust) AS BIGINT)
               AS cum_ltv_dollars_per_cust
    FROM cum ORDER BY cohort, age
    """,
    ("orders", "analytics", "customer"),
)
def xex_ltv_cohort_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: first 12 monthly cohorts x ages 0..11, exact cent sums per cell and
    cumulative floor-dollar LTV per customer from one cohort-partitioned running sum."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    o = t["orders"].select(
        F.col("o_custkey").alias("ck"),
        F.expr(
            "CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)"
        ).alias("mo"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
    )
    firsts = o.groupBy("ck").agg(F.min("mo").alias("cohort")).localCheckpoint(
        eager=True
    )
    lim = firsts.agg(F.min("cohort").alias("c0"))
    base = o.join(firsts, "ck").select(
        "cohort", (F.col("mo") - F.col("cohort")).alias("age"), "cents"
    )
    cell = (
        base.crossJoin(F.broadcast(lim))
        .filter(
            (F.col("cohort") < F.col("c0") + 12)
            & F.col("age").between(0, 11)
        )
        .groupBy("cohort", "age")
        .agg(F.sum("cents").cast("long").alias("rev_cents"))
    )
    sizes = (
        firsts.crossJoin(F.broadcast(lim))
        .filter(F.col("cohort") < F.col("c0") + 12)
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cust"))
    )
    wc = W.partitionBy("cohort").orderBy("age").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = cell.join(sizes, "cohort").select(
        "cohort",
        "age",
        "n_cust",
        "rev_cents",
        F.sum("rev_cents").over(wc).cast("long").alias("cum_cents"),
    )
    return cum.select(
        F.col("cohort").alias("cohort_month_idx"),
        F.col("age").alias("age_months"),
        "n_cust",
        F.expr("CAST(rev_cents div 100 AS BIGINT)").alias("revenue_dollars"),
        F.expr("CAST(cum_cents div (100 * n_cust) AS BIGINT)").alias(
            "cum_ltv_dollars_per_cust"
        ),
    ).orderBy("cohort_month_idx", "age_months")


# ---------------------------------------------------------------------------
# Trained quality classifier (r12 depth flagship)
# ---------------------------------------------------------------------------


def _qc_sigmoid_edges() -> list[int]:
    """257 sigmoid samples at the milli-logit edges -16000 + 125*k
    (k = 0..256), each floored to micro-probability.

    The literal-table idiom (sprt_ab / inverse-CDF family) extended to
    a TRANSCENDENTAL CURVE: python computes the table once, both
    engines index the identical literal list and linearly interpolate
    between adjacent edges in pure integer arithmetic, so sigmoid(s)
    is an exact total function of the integer logit on Spark, DuckDB
    and the python replica alike — no engine ever calls exp(). Pinned
    by a formula test (test_statistics_ops)."""
    import math

    return [
        math.floor(1_000_000 / (1 + math.exp(-(-16000 + 125 * k) / 1000)))
        for k in range(257)
    ]


_QC_FEATS = ("w_stop", "w_punct", "w_digit", "w_distinct", "w_len")
_QC_ROUNDS = 10
_QC_ETA_NUM = 4


def _qc_chain_sql() -> str:
    """Unrolled integer-GD logistic-regression oracle for
    ``quality_classifier``: feature extraction -> integer
    standardization -> _QC_ROUNDS gradient/update rounds, every
    per-round CTE ``AS MATERIALIZED`` (the kcore rule — DuckDB inlines
    plain CTEs, so an unrolled chain would otherwise compile
    exponential subtree copies), each one-row state CTE consumed via
    ``LEFT JOIN ... ON true`` (the r11 BPE-chain rule)."""
    edges = "[" + ",".join(str(v) for v in _qc_sigmoid_edges()) + "]"
    split = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
    stop = (
        "list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        " x -> list_contains(['the','a','of','and','in','to','is'], lower(x)))"
    )
    ctes = [
        f"""chars AS MATERIALIZED (
        SELECT doc_id,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
               length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
        FROM documents
    )""",
        f"""wp AS MATERIALIZED (
        SELECT doc_id,
               len({split}) AS n_words,
               len(list_distinct({split})) AS n_distinct,
               len({stop}) AS n_stop
        FROM documents
    )""",
        """feats AS MATERIALIZED (
        SELECT w.n_stop * 1000 // greatest(w.n_words, 1) AS f1,
               c.n_punct * 1000 // greatest(c.n_chars, 1) AS f2,
               c.n_digit * 1000 // greatest(c.n_chars, 1) AS f3,
               w.n_distinct * 1000 // greatest(w.n_words, 1) AS f4,
               least(w.n_words, 1000) AS f5,
               CASE WHEN w.n_words >= 5 AND w.n_words <= 5000
                     AND c.n_nonspace >= w.n_words * 2
                     AND c.n_nonspace <= w.n_words * 12
                     AND w.n_stop >= 2
                     AND c.n_punct * 10 <= c.n_chars * 3
                     AND c.n_digit * 5 <= c.n_chars
                     AND w.n_distinct * 10 >= w.n_words * 3
                THEN 1 ELSE 0 END AS y
        FROM chars c JOIN wp w USING (doc_id)
    )""",
        "stats AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_, "
        + ", ".join(
            f"CAST(sum(f{j}) AS BIGINT) AS s{j}, CAST(sum(f{j} * f{j}) AS BIGINT) AS q{j}"
            for j in range(1, 6)
        )
        + " FROM feats)",
        "norm AS MATERIALIZED (SELECT n_, "
        + ", ".join(
            f"s{j} // n_ AS m{j}, "
            f"greatest(CAST(floor(sqrt(CAST(greatest(q{j} // n_ - (s{j} // n_) * (s{j} // n_), 0) AS DOUBLE))) AS BIGINT), 1) AS d{j}"
            for j in range(1, 6)
        )
        + " FROM stats)",
        "zf AS MATERIALIZED (SELECT y, "
        + ", ".join(
            f"least(greatest((f{j} - m{j}) * 1000 // d{j}, -4000), 4000) AS z{j}"
            for j in range(1, 6)
        )
        + " FROM feats LEFT JOIN norm ON true)",
        f"edges AS (SELECT {edges} AS e)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(6))
        + ")",
    ]
    zsum = " + ".join(f"w.w{j} * z{j}" for j in range(1, 6))
    for r in range(1, _QC_ROUNDS + 2):
        ctes.append(
            f"""g{r} AS MATERIALIZED (
        SELECT CAST(sum(em * 1000) AS BIGINT) AS g0,
               {", ".join(f"CAST(sum(em * z{j}) AS BIGINT) AS g{j}" for j in range(1, 6))},
               CAST(sum(ok) AS BIGINT) AS correct
        FROM (
            SELECT z1, z2, z3, z4, z5,
                   (e[kk + 1] + (e[kk + 2] - e[kk + 1]) * (sm + 16000 - 125 * kk) // 125)
                       // 1000 - 1000 * y AS em,
                   CASE WHEN (s >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok, y
            FROM (
                SELECT *, (sm + 16000) // 125 AS kk
                FROM (
                    SELECT *, least(greatest(s // 1000, -16000), 15999) AS sm
                    FROM (
                        SELECT zf.*, e, w.w0 * 1000 + {zsum} AS s
                        FROM zf LEFT JOIN w{r - 1} w ON true
                        LEFT JOIN edges ON true
                    )
                )
            )
        ) t(z1, z2, z3, z4, z5, em, ok, y)
    )"""
        )
        if r <= _QC_ROUNDS:
            ctes.append(
                f"w{r} AS MATERIALIZED (SELECT "
                + ", ".join(
                    f"w.w{j} - ({_QC_ETA_NUM} * (g.g{j} // s.n_)) // 1000 AS w{j}"
                    for j in range(6)
                )
                + f" FROM w{r - 1} w LEFT JOIN g{r} g ON true LEFT JOIN norm s ON true)"
            )
    selects = []
    names = ("w_bias",) + _QC_FEATS
    for r in range(_QC_ROUNDS + 1):
        cols = ", ".join(f"w.w{j} AS {names[j]}" for j in range(6))
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS round, {cols},"
            f" CAST(g.correct * 1000000 // s.n_ AS BIGINT) / 1e6 AS acc"
            f" FROM w{r} w LEFT JOIN g{r + 1} g ON true LEFT JOIN norm s ON true"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY round"
    )


@query(
    "quality_classifier",
    _qc_chain_sql(),
    ("documents", "text", "quality", "analytics"),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality classifier distilled from the Gopher rule verdict: 5 integer
    features, integer z-scores and full-batch gradient descent in exact integer arithmetic with a
    table sigmoid."""
    t = _t(spark, sf_dir)
    docs = t["documents"]
    text = F.col("text")
    cc = text_ops.char_classes(text)
    chars = docs.select(
        "doc_id",
        cc["n_chars"].alias("n_chars"),
        cc["n_punct"].alias("n_punct"),
        cc["n_digit"].alias("n_digit"),
        (cc["n_chars"] - cc["n_space"]).alias("n_nonspace"),
    )
    wp = text_ops.word_profile(docs).select(
        "doc_id", "n_words", "n_distinct", "n_stop"
    )
    # left join: empty/whitespace-only docs have no word rows
    j = chars.join(wp, "doc_id", "left").select(
        "n_chars",
        "n_punct",
        "n_digit",
        "n_nonspace",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        F.coalesce("n_stop", F.lit(0)).cast("long").alias("n_stop"),
    )
    feats = j.select(
        F.expr("n_stop * 1000 div greatest(n_words, 1)").alias("f1"),
        F.expr("n_punct * 1000 div greatest(n_chars, 1)").alias("f2"),
        F.expr("n_digit * 1000 div greatest(n_chars, 1)").alias("f3"),
        F.expr("n_distinct * 1000 div greatest(n_words, 1)").alias("f4"),
        F.expr("least(n_words, 1000)").alias("f5"),
        F.expr(
            "CAST(CASE WHEN n_words >= 5 AND n_words <= 5000"
            " AND n_nonspace >= n_words * 2 AND n_nonspace <= n_words * 12"
            " AND n_stop >= 2"
            " AND n_punct * 10 <= n_chars * 3"
            " AND n_digit * 5 <= n_chars"
            " AND n_distinct * 10 >= n_words * 3"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("y"),
    # Eager: regex parsing is expensive compute, and every gradient round re-scans these 7 ints per
    # doc.
    ).localCheckpoint(eager=True)

    def tdiv(a: int, b: int) -> int:
        return abs(a) // abs(b) * (1 if (a < 0) == (b < 0) else -1)

    st = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_"),
        *[F.sum(f"f{j_}").cast("long").alias(f"s{j_}") for j_ in range(1, 6)],
        *[
            F.sum(F.col(f"f{j_}") * F.col(f"f{j_}")).cast("long").alias(f"q{j_}")
            for j_ in range(1, 6)
        ],
    ).collect()[0]
    import math as _math

    n = int(st["n_"])
    means = [tdiv(int(st[f"s{j_}"]), n) for j_ in range(1, 6)]
    sds = [
        max(
            _math.floor(
                _math.sqrt(
                    max(tdiv(int(st[f"q{j_}"]), n) - tdiv(int(st[f"s{j_}"]), n) ** 2, 0)
                )
            ),
            1,
        )
        for j_ in range(1, 6)
    ]
    zf = feats.select(
        "y",
        *[
            F.expr(
                f"least(greatest((f{j_} - {means[j_ - 1]}) * 1000"
                f" div {sds[j_ - 1]}, -4000), 4000)"
            ).alias(f"z{j_}")
            for j_ in range(1, 6)
        ],
    )
    edges = _qc_sigmoid_edges()
    w = [0] * 6
    rows: list[tuple] = []
    for r in range(_QC_ROUNDS + 1):
        zsum = " + ".join(f"{w[j_]}L * z{j_}" for j_ in range(1, 6))
        scored = zf.select(
            "y",
            *[f"z{j_}" for j_ in range(1, 6)],
            F.expr(f"{w[0]}L * 1000 + {zsum}").alias("s"),
            F.lit(edges).alias("__e"),
        ).select(
            "y",
            *[f"z{j_}" for j_ in range(1, 6)],
            "s",
            F.expr("least(greatest(s div 1000, -16000), 15999)").alias("sm"),
            "__e",
        )
        em = (
            "(element_at(__e, CAST((sm + 16000) div 125 + 1 AS INT))"
            " + (element_at(__e, CAST((sm + 16000) div 125 + 2 AS INT))"
            "    - element_at(__e, CAST((sm + 16000) div 125 + 1 AS INT)))"
            "   * (sm + 16000 - 125 * ((sm + 16000) div 125)) div 125)"
            " div 1000 - 1000 * y"
        )
        g = (
            scored.select(
                F.expr(em).alias("em"),
                F.expr("CASE WHEN (s >= 0) = (y = 1) THEN 1 ELSE 0 END").alias("ok"),
                *[f"z{j_}" for j_ in range(1, 6)],
            )
            .agg(
                F.sum(F.expr("em * 1000")).cast("long").alias("g0"),
                *[
                    F.sum(F.expr(f"em * z{j_}")).cast("long").alias(f"g{j_}")
                    for j_ in range(1, 6)
                ],
                F.sum("ok").cast("long").alias("correct"),
            )
            .collect()[0]
        )
        rows.append(
            (r, *w, (int(g["correct"]) * 1_000_000 // max(n, 1)) / 1e6)
        )
        if r < _QC_ROUNDS:
            for j_ in range(6):
                w[j_] -= tdiv(_QC_ETA_NUM * tdiv(int(g[f"g{j_}"]), n), 1000)
    names = ("w_bias",) + _QC_FEATS
    schema = (
        "round long, "
        + ", ".join(f"{c} long" for c in names)
        + ", acc double"
    )
    return spark.createDataFrame(rows, schema)


@query(
    "cluster_prune_policy",
    """
    WITH q AS (
        SELECT vec_id AS id, label AS cell, i - 1 AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS xq
        FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    cent AS (
        SELECT cell, pos, CAST(sum(xq) AS BIGINT) AS sx,
               CAST(count(*) AS BIGINT) AS n_
        FROM q GROUP BY cell, pos
    ),
    c2 AS (SELECT cell, pos, sx // n_ AS cq FROM cent),
    d AS (
        SELECT q.id, q.cell,
               CAST(sum((q.xq - c2.cq) * (q.xq - c2.cq)) AS BIGINT) AS sqd
        FROM q JOIN c2 ON c2.cell = q.cell AND c2.pos = q.pos
        GROUP BY q.id, q.cell
    ),
    cl AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(sqd) // count(*) AS BIGINT) AS mean_sqd
        FROM d GROUP BY cell
    ),
    cl2 AS (
        SELECT cell, n, mean_sqd,
               CASE WHEN mean_sqd < 500000 THEN 'collapse'
                    WHEN n > 50 THEN 'cap' ELSE 'keep' END AS verdict
        FROM cl
    ),
    ranked AS (
        SELECT id, cell,
               row_number() OVER (PARTITION BY cell
                   ORDER BY ('0x' || substr(md5('cp:' || CAST(id AS VARCHAR)),
                             1, 15))::BIGINT, id) AS hrk,
               row_number() OVER (PARTITION BY cell ORDER BY id) AS irk
        FROM d
    ),
    kept AS (
        SELECT r.cell, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(bit_xor(r.id) AS BIGINT) AS kept_xor
        FROM ranked r JOIN cl2 c ON c.cell = r.cell
        WHERE (c.verdict = 'collapse' AND r.irk = 1)
           OR (c.verdict = 'cap' AND r.hrk <= 50)
           OR c.verdict = 'keep'
        GROUP BY r.cell
    )
    SELECT CAST(c.cell AS BIGINT) AS cluster, c.n, c.mean_sqd, c.verdict,
           k.n_kept, k.kept_xor
    FROM cl2 c JOIN kept k ON k.cell = c.cell
    ORDER BY cluster
    """,
    ("embeddings", "similarity", "dedup"),
)
def cluster_prune_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster prune policy: per-cell integer centroid and mean squared distance; collapse tight
    clusters to their min id, hash-downsample clusters over 50, keep the rest; kept_xor checksums
    the survivors."""
    t = _t(spark, sf_dir)
    return sim_ops.cluster_prune(t["embeddings"], cap=50, dense_sqd=500_000)


@query(
    "hard_negative_mining",
    f"""
    WITH {_COSINE_SQL},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS role,
               {_pair_sim_sql('q', 'c')} AS sim
        FROM normed q JOIN normed c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id, role
                      ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, role, rank, neighbor_id, sim
    FROM ranked
    WHERE (role = 'pos' AND rank <= 3) OR (role = 'neg' AND rank <= 3)
    ORDER BY query_id, role, rank
    """,
    ("embeddings", "similarity"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for anchors vec_id < 20: top same-cell positives and most similar
    other-cell negatives from one scan against the broadcast anchors; cosines rounded to 6dp."""
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    return sim_ops.mine_contrastive_pairs(
        emb, emb.filter(F.col("vec_id") < 20), k_pos=3, k_neg=3
    )


_BLOOM_PRESENT_PROBES = ("join", "hash", "row", "batch", "scan", "customer")
_BLOOM_ABSENT_PROBES = ("blorptok", "qwxjkl", "snarfle", "vrumpt", "xqzzy", "zyzzyva")


@query(
    "bloom_membership_index",
    f"""
    WITH words AS (
        SELECT DISTINCT unnest(list_filter(
            regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS w
        FROM documents
    ),
    cells AS (
        SELECT (('0x' || substr(md5('bl:' || w), r.r * 6 + 1, 6))::BIGINT
                % 15872) AS pos
        FROM words, (SELECT unnest([0, 1, 2, 3]) AS r) r
    ),
    bloom AS (
        SELECT pos // 62 AS word_idx,
               CAST(bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS BIGINT) AS bits
        FROM cells GROUP BY pos // 62
    ),
    probes AS (
        SELECT unnest([{", ".join(repr(p) for p in _BLOOM_PRESENT_PROBES + _BLOOM_ABSENT_PROBES)}]) AS probe_key
    ),
    pcells AS (
        SELECT probe_key,
               (('0x' || substr(md5('bl:' || probe_key), r.r * 6 + 1, 6))::BIGINT
                % 15872) AS pos
        FROM probes, (SELECT unnest([0, 1, 2, 3]) AS r) r
    ),
    hits AS (
        SELECT p.probe_key,
               CASE WHEN (COALESCE(b.bits, 0) & (1::BIGINT << CAST(p.pos % 62 AS INT)))
                         != 0 THEN 1 ELSE 0 END AS hit
        FROM pcells p LEFT JOIN bloom b ON b.word_idx = p.pos // 62
    ),
    verdicts AS (
        SELECT probe_key, CAST(sum(hit) AS BIGINT) AS n_bits_set,
               sum(hit) = 4 AS bloom_says
        FROM hits GROUP BY probe_key
    )
    SELECT v.probe_key, v.n_bits_set, v.bloom_says,
           (w.w IS NOT NULL) AS actually_present,
           (v.bloom_says AND w.w IS NULL) AS is_false_positive
    FROM verdicts v LEFT JOIN words w ON w.w = v.probe_key
    ORDER BY v.probe_key
    """,
    ("documents", "dedup", "text"),
)
def bloom_membership_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership index: 256 BIGINT words of 62 bits from one bit_or aggregation, K=4 md5
    slices per key, 12 probes reporting bits set, the maybe-present verdict and exact
    membership."""
    from .operators import decontam as decontam_ops

    t = _t(spark, sf_dir)
    words = (
        t["documents"]
        .select(
            F.explode(
                F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "")
            ).alias("w")
        )
        .distinct()
    )
    bloom = decontam_ops.bloom_build(words, key_col="w", n_words=256, seed="bl")
    probes = spark.createDataFrame(
        [(p,) for p in _BLOOM_PRESENT_PROBES + _BLOOM_ABSENT_PROBES], "probe_key string"
    )
    probed = decontam_ops.bloom_probe(
        bloom, probes, key_col="probe_key", n_words=256, seed="bl"
    )
    return (
        probed.join(
            words.select(F.col("w").alias("probe_key"), F.lit(1).alias("__m")),
            "probe_key",
            "left",
        )
        .select(
            "probe_key",
            "n_bits_set",
            "bloom_says",
            F.col("__m").isNotNull().alias("actually_present"),
            (F.col("bloom_says") & F.col("__m").isNull()).alias("is_false_positive"),
        )
        .orderBy("probe_key")
    )


@query(
    "temperature_mixture",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS n_tokens
        FROM documents
    ),
    totals AS (
        SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM toks GROUP BY lang
    ),
    weights AS (
        SELECT lang, lang_tokens, n_docs,
               CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE))) AS BIGINT) AS w_q
        FROM totals
    ),
    seats AS (
        SELECT w.lang, w.lang_tokens, w.n_docs, w.w_q,
               (200 * w.w_q) // s.w_all AS base,
               (200 * w.w_q) % s.w_all AS rem
        FROM weights w LEFT JOIN (SELECT CAST(sum(w_q) AS BIGINT) AS w_all
                                  FROM weights) s ON true
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, lang) AS rrk,
               CAST(200 - sum(base) OVER () AS BIGINT) AS leftover
        FROM seats
    ),
    quota AS (
        SELECT lang, lang_tokens, n_docs, w_q,
               base + CASE WHEN rrk <= leftover THEN 1 ELSE 0 END AS quota
        FROM ranked
    ),
    srk AS (
        SELECT t.doc_id, t.lang,
               row_number() OVER (PARTITION BY t.lang
                   ORDER BY ('0x' || substr(md5('tmx:' || CAST(t.doc_id AS VARCHAR)),
                             1, 15))::BIGINT, t.doc_id) AS hrk
        FROM toks t
    ),
    sel AS (
        SELECT s.lang, CAST(count(*) AS BIGINT) AS n_selected,
               CAST(bit_xor(s.doc_id) AS BIGINT) AS selected_xor
        FROM srk s JOIN quota q ON q.lang = s.lang
        WHERE s.hrk <= q.quota
        GROUP BY s.lang
    )
    SELECT q.lang, q.lang_tokens, q.n_docs, q.w_q, CAST(q.quota AS BIGINT) AS quota,
           COALESCE(l.n_selected, 0) AS n_selected,
           COALESCE(l.selected_xor, 0) AS selected_xor
    FROM quota q LEFT JOIN sel l ON l.lang = q.lang
    ORDER BY q.lang
    """,
    ("documents", "text", "analytics"),
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture sampling (alpha = 1/2): weights floor(sqrt(tokens)) per language, a
    200-doc budget split by largest remainder, then hash sampling to quota; selected_xor checksums
    the chosen docs."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "lang",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        )
        .cast("long")
        .alias("n_tokens"),
    )
    totals = toks.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("lang_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    weights = totals.select(
        "lang",
        "lang_tokens",
        "n_docs",
        F.expr("CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE))) AS BIGINT)").alias(
            "w_q"
        ),
    )
    wsum = weights.agg(F.sum("w_q").cast("long").alias("w_all"))
    seats = weights.join(F.broadcast(wsum), how="left").select(
        "lang",
        "lang_tokens",
        "n_docs",
        "w_q",
        F.expr("(200 * w_q) div w_all").alias("base"),
        F.expr("(200 * w_q) % w_all").alias("rem"),
    )
    ranked = seats.select(
        "*",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("rem").desc(), "lang"))
        .alias("rrk"),
        (F.lit(200) - F.sum("base").over(W.partitionBy())).cast("long").alias(
            "leftover"
        ),
    )
    quota = ranked.select(
        "lang",
        "lang_tokens",
        "n_docs",
        "w_q",
        (
            F.col("base")
            + F.when(F.col("rrk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )
    srk = toks.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            W.partitionBy("lang").orderBy(
                dedup_ops.portable_hash(F.col("doc_id").cast("string"), F.lit("tmx")),
                "doc_id",
            )
        )
        .alias("hrk"),
    )
    sel = (
        srk.join(F.broadcast(quota.select("lang", "quota")), "lang")
        .filter(F.col("hrk") <= F.col("quota"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.expr("bit_xor(doc_id)").cast("long").alias("selected_xor"),
        )
    )
    return (
        quota.join(sel, "lang", "left")
        .select(
            "lang",
            "lang_tokens",
            "n_docs",
            "w_q",
            "quota",
            F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce("selected_xor", F.lit(0)).cast("long").alias("selected_xor"),
        )
        .orderBy("lang")
    )


def _bh_pvalue_table() -> list[int]:
    """641 two-sided normal p-value samples at z^2 = 0.0, 0.1, ... 64.0
    in nano-units: floor(erfc(sqrt(z2/2)) * 1e9). The literal-table
    idiom on its third transcendental (sprt ln steps, quality_classifier
    sigmoid, now the normal tail): both engines interpolate the same
    list in integer arithmetic, nobody calls erfc. Monotone decreasing;
    formula-pinned."""
    import math

    return [
        math.floor(math.erfc(math.sqrt(k / 10 / 2)) * 1_000_000_000)
        for k in range(641)
    ]


@query(
    "bh_fdr_control",
    f"""
    WITH cell AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS x_i
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    ),
    tot AS (
        SELECT *, CAST(sum(n_i) OVER () AS BIGINT) AS n_all,
               CAST(sum(x_i) OVER () AS BIGINT) AS x_all,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM cell
    ),
    z AS (
        SELECT nation, n_i, x_i, m,
               CAST(CASE WHEN x_all = 0 OR x_all = n_all THEN 0
                    ELSE CAST(floor(
                        (CAST(x_i * n_all - n_i * x_all AS DOUBLE)
                         * (x_i * n_all - n_i * x_all))
                        / (CAST(n_i AS DOUBLE) * x_all * (n_all - x_all))
                        * 1000000) AS BIGINT) END AS BIGINT) AS z2_q
        FROM tot
    ),
    tab AS (SELECT {_bh_pvalue_table()} AS t),
    p AS (
        SELECT nation, n_i, x_i, m,
               z2_q,
               t[b + 1] - ((t[b + 1] - t[b + 2]) * (z2c - b * 100000)) // 100000
                   AS p_q
        FROM (
            SELECT *, least(z2_q, 63999999) AS z2c,
                   CAST(least(z2_q, 63999999) // 100000 AS INT) AS b
            FROM z LEFT JOIN tab ON true
        )
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY p_q, nation) AS bh_rank
        FROM p
    ),
    kstar AS (
        SELECT *,
               COALESCE(max(CASE WHEN p_q * m * 10 <= bh_rank * 1000000000
                            THEN bh_rank END) OVER (), 0) AS bh_kstar
        FROM ranked
    )
    SELECT nation, n_i, x_i, z2_q, CAST(p_q AS BIGINT) / 1e9 AS p_value,
           CAST(bh_rank AS BIGINT) AS bh_rank,
           (p_q <= 50000000) AS naive_rejected,
           (bh_rank <= bh_kstar) AS bh_rejected
    FROM kstar
    ORDER BY nation
    """,
    ("orders", "customer", "nation", "analytics"),
)
def bh_fdr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg at q=0.10 over per-nation binomial z-tests of the URGENT rate: z^2
    floor-quantized, p from a literal erfc table, step-up by integer cross-multiplication;
    degenerate rates guarded."""
    from pyspark.sql.window import Window as W

    from .operators import analytics as an_ops

    t = _t(spark, sf_dir)
    cell = (
        t["orders"]
        .select("o_custkey", "o_orderpriority")
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["nation"].select("n_nationkey", "n_name"),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("x_i"),
        )
    )
    tot = cell.select(
        "*",
        # Unpartitioned windows over the 25-row per-nation hypothesis frame.
        F.sum("n_i").over(W.partitionBy()).cast("long").alias("n_all"),
        F.sum("x_i").over(W.partitionBy()).cast("long").alias("x_all"),
        F.count(F.lit(1)).over(W.partitionBy()).cast("long").alias("m"),
    )
    z = tot.select(
        "nation",
        "n_i",
        "x_i",
        "m",
        F.expr(
            "CAST(CASE WHEN x_all = 0 OR x_all = n_all THEN 0"
            " ELSE CAST(floor("
            " (CAST(x_i * n_all - n_i * x_all AS DOUBLE)"
            "  * (x_i * n_all - n_i * x_all))"
            " / (CAST(n_i AS DOUBLE) * x_all * (n_all - x_all))"
            " * 1000000) AS BIGINT) END AS BIGINT)"
        ).alias("z2_q"),
    )
    tab = _bh_pvalue_table()
    p = z.select(
        "nation",
        "n_i",
        "x_i",
        "m",
        "z2_q",
        F.expr("least(z2_q, 63999999)").alias("z2c"),
        F.lit(tab).alias("__t"),
    ).select(
        "nation",
        "n_i",
        "x_i",
        "m",
        "z2_q",
        F.expr(
            "element_at(__t, CAST(z2c div 100000 AS INT) + 1)"
            " - ((element_at(__t, CAST(z2c div 100000 AS INT) + 1)"
            "     - element_at(__t, CAST(z2c div 100000 AS INT) + 2))"
            "    * (z2c - (z2c div 100000) * 100000)) div 100000"
        ).alias("p_q"),
    )
    out = an_ops.bh_select(p, p_col="p_q", key_cols=("nation",), q_num=1, q_den=10)
    return out.select(
        "nation",
        "n_i",
        "x_i",
        "z2_q",
        (F.col("p_q").cast("long") / 1e9).alias("p_value"),
        F.col("bh_rank").cast("long").alias("bh_rank"),
        (F.col("p_q") <= 50_000_000).alias("naive_rejected"),
        "bh_rejected",
    ).orderBy("nation")


@query(
    "did_readout",
    f"""
    WITH ev AS (
        SELECT user_id, event_type, value,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
        FROM events
    ),
    days AS (SELECT (min(day_i) + max(day_i)) // 2 AS mid FROM ev),
    u AS (
        SELECT e.user_id,
               CASE WHEN ('0x' || substr(md5('did:' || e.user_id), 1, 15))::BIGINT
                         % 2 = 0
                    THEN 'treat' ELSE 'control' END AS arm,
               CASE WHEN e.day_i > d.mid THEN 'post' ELSE 'pre' END AS period,
               CAST(sum(CASE WHEN e.event_type = 'purchase'
                        THEN CAST(round(e.value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS cents
        FROM ev e LEFT JOIN days d ON true
        GROUP BY 1, 2, 3
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN arm = 'treat' AND period = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
               CAST(sum(CASE WHEN arm = 'treat' AND period = 'post' THEN cents ELSE 0 END) AS BIGINT) AS s_tp,
               CAST(sum(CASE WHEN arm = 'treat' AND period = 'post' THEN cents * cents ELSE 0 END) AS BIGINT) AS q_tp,
               CAST(sum(CASE WHEN arm = 'treat' AND period = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
               CAST(sum(CASE WHEN arm = 'treat' AND period = 'pre' THEN cents ELSE 0 END) AS BIGINT) AS s_tq,
               CAST(sum(CASE WHEN arm = 'treat' AND period = 'pre' THEN cents * cents ELSE 0 END) AS BIGINT) AS q_tq,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'post' THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'post' THEN cents ELSE 0 END) AS BIGINT) AS s_cp,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'post' THEN cents * cents ELSE 0 END) AS BIGINT) AS q_cp,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'pre' THEN 1 ELSE 0 END) AS BIGINT) AS n_cq,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'pre' THEN cents ELSE 0 END) AS BIGINT) AS s_cq,
               CAST(sum(CASE WHEN arm = 'control' AND period = 'pre' THEN cents * cents ELSE 0 END) AS BIGINT) AS q_cq
        FROM u
    ),
    est AS (
        SELECT *,
               CAST(CASE WHEN n_tp = 0 OR n_tq = 0 OR n_cp = 0 OR n_cq = 0 THEN 0
                    ELSE CAST(floor(
                   (CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tq AS DOUBLE) / n_tq
                    - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cq AS DOUBLE) / n_cq)
                   * 1000) AS BIGINT) END AS BIGINT) AS did_mc,
               CAST(CASE WHEN n_tp = 0 OR n_tq = 0 OR n_cp = 0 OR n_cq = 0 THEN 0
                    WHEN ((CAST(q_tp AS DOUBLE) / n_tp - (CAST(s_tp AS DOUBLE) / n_tp) * (CAST(s_tp AS DOUBLE) / n_tp)) / n_tp
                      + (CAST(q_tq AS DOUBLE) / n_tq - (CAST(s_tq AS DOUBLE) / n_tq) * (CAST(s_tq AS DOUBLE) / n_tq)) / n_tq
                      + (CAST(q_cp AS DOUBLE) / n_cp - (CAST(s_cp AS DOUBLE) / n_cp) * (CAST(s_cp AS DOUBLE) / n_cp)) / n_cp
                      + (CAST(q_cq AS DOUBLE) / n_cq - (CAST(s_cq AS DOUBLE) / n_cq) * (CAST(s_cq AS DOUBLE) / n_cq)) / n_cq) <= 0 THEN 0
                    ELSE CAST(floor(
                   ((CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tq AS DOUBLE) / n_tq
                     - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cq AS DOUBLE) / n_cq)
                    * (CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tq AS DOUBLE) / n_tq
                       - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cq AS DOUBLE) / n_cq))
                   / ((CAST(q_tp AS DOUBLE) / n_tp - (CAST(s_tp AS DOUBLE) / n_tp) * (CAST(s_tp AS DOUBLE) / n_tp)) / n_tp
                      + (CAST(q_tq AS DOUBLE) / n_tq - (CAST(s_tq AS DOUBLE) / n_tq) * (CAST(s_tq AS DOUBLE) / n_tq)) / n_tq
                      + (CAST(q_cp AS DOUBLE) / n_cp - (CAST(s_cp AS DOUBLE) / n_cp) * (CAST(s_cp AS DOUBLE) / n_cp)) / n_cp
                      + (CAST(q_cq AS DOUBLE) / n_cq - (CAST(s_cq AS DOUBLE) / n_cq) * (CAST(s_cq AS DOUBLE) / n_cq)) / n_cq)
                   * 1000000) AS BIGINT) END AS BIGINT) AS z2_q
        FROM cells
    ),
    tab AS (SELECT {_bh_pvalue_table()} AS t),
    p AS (
        SELECT est.*,
               t[b + 1] - ((t[b + 1] - t[b + 2]) * (z2c - b * 100000)) // 100000
                   AS p_q
        FROM (
            SELECT *, least(z2_q, 63999999) AS z2c,
                   CAST(least(z2_q, 63999999) // 100000 AS INT) AS b
            FROM est LEFT JOIN tab ON true
        ) est
    )
    SELECT n_tp, n_tq, n_cp, n_cq,
           CAST(did_mc AS BIGINT) / 100000.0 AS did_dollars,
           CAST(z2_q AS BIGINT) AS z2_q,
           CASE WHEN did_mc < 0 THEN -1 ELSE 1 END * CAST(p_q AS BIGINT) / 1e9
               AS signed_p,
           (p_q <= 50000000) AS significant
    FROM p
    """,
    ("events", "analytics"),
)
def did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout: 2x2 (arm x period) cell moments of exact purchase cents,
    the interaction estimate, z^2 and a table p-value, all from identical integers; degenerate
    panels guarded to 0."""
    t = _t(spark, sf_dir)
    ev = t["events"].select(
        "user_id",
        "event_type",
        "value",
        F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01')")
        .cast("long")
        .alias("day_i"),
    )
    days = ev.agg(
        F.expr("CAST((min(day_i) + max(day_i)) div 2 AS BIGINT)").alias("mid")
    )
    arm = F.when(
        F.pmod(dedup_ops.portable_hash(F.col("user_id"), F.lit("did")), F.lit(2))
        == 0,
        "treat",
    ).otherwise("control")
    u = (
        ev.join(F.broadcast(days), how="left")
        .select(
            "user_id",
            arm.alias("arm"),
            F.when(F.col("day_i") > F.col("mid"), "post").otherwise("pre").alias(
                "period"
            ),
            F.expr(
                "CASE WHEN event_type = 'purchase'"
                " THEN CAST(round(value * 100) AS BIGINT) ELSE 0L END"
            ).alias("__c"),
        )
        .groupBy("user_id", "arm", "period")
        .agg(F.sum("__c").cast("long").alias("cents"))
    )
    cell_aggs = []
    for a, tag in (("treat", "t"), ("control", "c")):
        for per, tag2 in (("post", "p"), ("pre", "q")):
            cond = (F.col("arm") == a) & (F.col("period") == per)
            cell_aggs += [
                F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{tag}{tag2}"),
                F.sum(F.when(cond, F.col("cents")).otherwise(0))
                .cast("long")
                .alias(f"s_{tag}{tag2}"),
                # Headroom: cents^2 sums hold BIGINT to ~9e8 user-periods at $1k spends; pre-scale
                # to dollars beyond.
                F.sum(F.when(cond, F.col("cents") * F.col("cents")).otherwise(0))
                .cast("long")
                .alias(f"q_{tag}{tag2}"),
            ]
    cells = u.agg(*cell_aggs)
    did_expr = (
        "(CAST(s_tp AS DOUBLE) / n_tp - CAST(s_tq AS DOUBLE) / n_tq"
        " - CAST(s_cp AS DOUBLE) / n_cp + CAST(s_cq AS DOUBLE) / n_cq)"
    )
    var_expr = (
        "((CAST(q_tp AS DOUBLE) / n_tp - (CAST(s_tp AS DOUBLE) / n_tp) * (CAST(s_tp AS DOUBLE) / n_tp)) / n_tp"
        " + (CAST(q_tq AS DOUBLE) / n_tq - (CAST(s_tq AS DOUBLE) / n_tq) * (CAST(s_tq AS DOUBLE) / n_tq)) / n_tq"
        " + (CAST(q_cp AS DOUBLE) / n_cp - (CAST(s_cp AS DOUBLE) / n_cp) * (CAST(s_cp AS DOUBLE) / n_cp)) / n_cp"
        " + (CAST(q_cq AS DOUBLE) / n_cq - (CAST(s_cq AS DOUBLE) / n_cq) * (CAST(s_cq AS DOUBLE) / n_cq)) / n_cq)"
    )
    zero_cell = "(n_tp = 0 OR n_tq = 0 OR n_cp = 0 OR n_cq = 0)"
    est = cells.select(
        "*",
        F.expr(
            f"CAST(CASE WHEN {zero_cell} THEN 0"
            f" ELSE CAST(floor({did_expr} * 1000) AS BIGINT) END AS BIGINT)"
        ).alias("did_mc"),
        F.expr(
            f"CAST(CASE WHEN {zero_cell} THEN 0"
            f" WHEN {var_expr} <= 0 THEN 0"
            f" ELSE CAST(floor(({did_expr} * {did_expr}) / {var_expr} * 1000000)"
            " AS BIGINT) END AS BIGINT)"
        ).alias("z2_q"),
    )
    tab = _bh_pvalue_table()
    p = est.select(
        "*",
        F.expr("least(z2_q, 63999999)").alias("z2c"),
        F.lit(tab).alias("__t"),
    ).select(
        "*",
        F.expr(
            "element_at(__t, CAST(z2c div 100000 AS INT) + 1)"
            " - ((element_at(__t, CAST(z2c div 100000 AS INT) + 1)"
            "     - element_at(__t, CAST(z2c div 100000 AS INT) + 2))"
            "    * (z2c - (z2c div 100000) * 100000)) div 100000"
        ).alias("p_q"),
    )
    return p.select(
        "n_tp",
        "n_tq",
        "n_cp",
        "n_cq",
        (F.col("did_mc").cast("long") / 100000.0).alias("did_dollars"),
        F.col("z2_q").cast("long").alias("z2_q"),
        (
            F.when(F.col("did_mc") < 0, -1).otherwise(1)
            * F.col("p_q").cast("long")
            / 1e9
        ).alias("signed_p"),
        (F.col("p_q") <= 50_000_000).alias("significant"),
    )


@query(
    "jackknife_se",
    """
    WITH d AS (
        SELECT len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS nw,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> list_contains(['the','a','of','and','in','to','is'],
                                      lower(x)))) AS ns
        FROM documents
    ),
    tot AS (
        SELECT CAST(sum(nw) AS BIGINT) AS n_all,
               CAST(sum(ns) AS BIGINT) AS s_all,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM d
    ),
    tq AS (
        SELECT CAST(floor(CAST(t.s_all - d.ns AS DOUBLE)
                          / greatest(t.n_all - d.nw, 1) * 1000000000)
                    AS BIGINT) AS tq
        FROM d LEFT JOIN tot t ON true
    ),
    m AS (
        SELECT CAST(sum(tq) AS BIGINT) // CAST(count(*) AS BIGINT) AS mq
        FROM tq
    ),
    ssd AS (
        SELECT CAST(sum((tq - mq) * (tq - mq)) AS BIGINT) AS ssd
        FROM tq LEFT JOIN m ON true
    )
    SELECT t.n_docs,
           CAST(t.s_all * 1000000 // t.n_all AS BIGINT) / 1e6 AS theta,
           sqrt(CAST((t.n_docs - 1) * s.ssd AS DOUBLE) / t.n_docs)
               / 1000000000 AS jk_se,
           CAST(s.ssd AS BIGINT) AS ssd_q
    FROM tot t LEFT JOIN ssd s ON true
    """,
    ("documents", "text", "analytics"),
)
def jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one jackknife SE of the corpus stopword rate: each leave-one-out replicate from the
    totals in one scan, quantized at 1e-9, centered by the integer mean, SE from the exact sum of
    squares."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    stop_arr = F.array(*[F.lit(s) for s in text_ops.STOPWORDS])
    d = t["documents"].select(
        F.size(words).cast("long").alias("nw"),
        F.size(
            F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w)))
        )
        .cast("long")
        .alias("ns"),
    )
    tot = d.agg(
        F.sum("nw").cast("long").alias("n_all"),
        F.sum("ns").cast("long").alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tq = d.join(F.broadcast(tot), how="left").select(
        F.expr(
            "CAST(floor(CAST(s_all - ns AS DOUBLE)"
            " / greatest(n_all - nw, 1) * 1000000000) AS BIGINT)"
        ).alias("tq")
    )
    m = tq.agg(
        F.expr(
            "CAST(sum(tq) AS BIGINT) div CAST(count(1) AS BIGINT)"
        ).alias("mq")
    )
    # Two-pass centered form: the one-pass sum(tq^2) would overflow BIGINT at fixture scale, while
    # centered deviations shrink as the corpus grows.
    ssd = (
        tq.join(F.broadcast(m), how="left")
        .agg(
            F.sum((F.col("tq") - F.col("mq")) * (F.col("tq") - F.col("mq")))
            .cast("long")
            .alias("ssd")
        )
    )
    return tot.join(F.broadcast(ssd), how="left").select(
        "n_docs",
        F.expr("CAST(s_all * 1000000 div n_all AS BIGINT) / 1e6").alias("theta"),
        F.expr(
            "sqrt(CAST((n_docs - 1) * ssd AS DOUBLE) / n_docs) / 1000000000"
        ).alias("jk_se"),
        F.col("ssd").cast("long").alias("ssd_q"),
    )


@query(
    "capture_recapture",
    f"""
    WITH {_SHINGLE_SQL},
    {_minhash_cand_sql()},
    {_JACCARD_CTES},
    pop AS (
        -- mirrors minhash_near_dup's own verify form EXACTLY
        -- (round(ratio, 6) >= 0.8, the engine-pair-safe count-ratio
        -- round — NOT the cross-mult form other queries use: a
        -- different-but-equivalent formulation here would be the xb6
        -- fixture-luck class)
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc = i.doc_a
        JOIN sizes sb ON sb.doc = i.doc_b
        WHERE round(i.c / (sa.n + sb.n - i.c), 6) >= 0.8
    ),
    caught AS (
        SELECT doc_a, doc_b,
               ('0x' || substr(md5('cra:' || doc_a || ':' || doc_b), 1, 15))::BIGINT
                   % 2 = 0 AS in_a,
               ('0x' || substr(md5('crb:' || doc_a || ':' || doc_b), 1, 15))::BIGINT
                   % 2 = 0 AS in_b
        FROM pop
    ),
    counts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both
        FROM caught
    )
    SELECT n_a, n_b, n_both, n_true,
           ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS n_hat_chapman,
           CAST(CASE WHEN ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 = 0 THEN 0
                ELSE n_a * 1000000
                     // (((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1) END
                AS BIGINT) / 1e6 AS coverage_a,
           CAST(floor(sqrt(
               CAST((n_a + 1) * (n_b + 1) AS DOUBLE)
               * (n_a - n_both) * (n_b - n_both)
               / (CAST(n_both + 1 AS DOUBLE) * (n_both + 1) * (n_both + 2))
           )) AS BIGINT) AS se_chapman,
           abs(((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 - n_true)
               <= 2 * CAST(floor(sqrt(
                   CAST((n_a + 1) * (n_b + 1) AS DOUBLE)
                   * (n_a - n_both) * (n_b - n_both)
                   / (CAST(n_both + 1 AS DOUBLE) * (n_both + 1) * (n_both + 2))
               )) AS BIGINT) + 1 AS estimate_within_2se
    FROM counts
    """,
    ("documents", "dedup", "analytics"),
)
def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of verified near-dup pairs from two independent 50% hash
    samples of LSH candidates, in exact integers, with its SE and a within-2-SE check against the
    exact count."""
    t = _t(spark, sf_dir)
    pop = dedup_ops.minhash_near_dup(
        t["documents"], shingle_n=3, num_hashes=16, rows_per_band=2, threshold=0.8
    ).select("doc_a", "doc_b")
    key = F.concat(
        F.col("doc_a").cast("string"), F.lit(":"), F.col("doc_b").cast("string")
    )
    caught = pop.select(
        (F.pmod(dedup_ops.portable_hash(key, F.lit("cra")), F.lit(2)) == 0).alias(
            "in_a"
        ),
        (F.pmod(dedup_ops.portable_hash(key, F.lit("crb")), F.lit(2)) == 0).alias(
            "in_b"
        ),
    )
    counts = caught.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_b"), 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
    )
    chapman = "((n_a + 1) * (n_b + 1)) div (n_both + 1) - 1"
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        "n_true",
        F.expr(chapman).cast("long").alias("n_hat_chapman"),
        F.expr(
            f"CAST(CASE WHEN {chapman} = 0 THEN 0"
            f" ELSE n_a * 1000000 div ({chapman}) END AS BIGINT) / 1e6"
        ).alias("coverage_a"),
        F.expr("CAST(floor(sqrt(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) * (n_a - n_both) * (n_b - n_both) / (CAST(n_both + 1 AS DOUBLE) * (n_both + 1) * (n_both + 2)))) AS BIGINT)").alias("se_chapman"),
        F.expr(f"abs({chapman} - n_true) <= 2 * CAST(floor(sqrt(CAST((n_a + 1) * (n_b + 1) AS DOUBLE) * (n_a - n_both) * (n_b - n_both) / (CAST(n_both + 1 AS DOUBLE) * (n_both + 1) * (n_both + 2)))) AS BIGINT) + 1").alias(
            "estimate_within_2se"
        ),
    )


@query(
    "pack_sequences_atomic",
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                   x -> x <> '')) AS nt
        FROM documents
    ),
    hist AS (
        SELECT CAST(nt AS BIGINT) AS L, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY nt
    ),
    branch AS (
        SELECT CAST(COALESCE(sum(CASE WHEN L <= 0 THEN n END), 0) AS BIGINT)
                   AS n_empty,
               CAST(COALESCE(sum(CASE WHEN L > 512 THEN n END), 0) AS BIGINT)
                   AS n_oversize
        FROM hist
    ),
    ord AS (
        SELECT L, n, row_number() OVER (ORDER BY L DESC) AS i
        FROM hist WHERE L BETWEEN 1 AND 512
    ),
    fold AS (
        SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS L,
               CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS fill,
               CAST(0 AS BIGINT) AS first_bin, CAST(0 AS BIGINT) AS new_start,
               CAST(1 AS BIGINT) AS per_bin, CAST(0 AS BIGINT) AS bins,
               CAST(0 AS BIGINT) AS rem
        UNION ALL
        SELECT o.i, o.L, o.n,
               least(o.n, f.rem // o.L),
               CASE WHEN least(o.n, f.rem // o.L) > 0 THEN f.bins ELSE 0 END,
               CASE WHEN o.n - least(o.n, f.rem // o.L) > 0
                    THEN f.bins + 1 ELSE 0 END,
               512 // o.L,
               f.bins + CASE WHEN o.n - least(o.n, f.rem // o.L) > 0
                    THEN (o.n - least(o.n, f.rem // o.L) + (512 // o.L) - 1)
                         // (512 // o.L) ELSE 0 END,
               CASE WHEN o.n - least(o.n, f.rem // o.L) > 0
                    THEN 512 - ((o.n - least(o.n, f.rem // o.L) - 1)
                                % (512 // o.L) + 1) * o.L
                    ELSE f.rem - least(o.n, f.rem // o.L) * o.L END
        FROM fold f JOIN ord o ON o.i = f.i + 1
    ),
    plan AS (
        SELECT L, fill, first_bin, new_start, per_bin FROM fold WHERE i >= 1
    ),
    ranked AS (
        SELECT doc_id, CAST(nt AS BIGINT) AS L,
               row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS r
        FROM toks WHERE nt BETWEEN 1 AND 512
    ),
    assign AS (
        SELECT t.doc_id, t.L,
               CASE WHEN t.r <= p.fill THEN p.first_bin
                    ELSE p.new_start + (t.r - p.fill - 1) // p.per_bin
               END AS bin_id
        FROM ranked t JOIN plan p ON p.L = t.L
    ),
    bins AS (
        SELECT bin_id, CAST(count(*) AS BIGINT) AS depth,
               CAST(sum(L) AS BIGINT) AS tokens,
               CAST(bit_xor(doc_id) AS BIGINT) AS dx
        FROM assign GROUP BY bin_id
    ),
    by_depth AS (
        SELECT depth, CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(tokens) AS BIGINT) AS tokens_at_depth,
               CAST(bit_xor(dx) AS BIGINT) AS docs_xor
        FROM bins GROUP BY depth
    )
    SELECT d.depth, d.n_bins, d.tokens_at_depth, d.docs_xor,
           CAST(sum(d.n_bins) OVER () AS BIGINT) AS n_bins_total,
           CAST(sum(d.depth * d.n_bins) OVER () AS BIGINT) AS n_docs_packed,
           CAST(CASE WHEN sum(d.n_bins) OVER () = 0 THEN 0
                ELSE sum(d.tokens_at_depth) OVER () * 1000000
                     // (sum(d.n_bins) OVER () * 512) END AS BIGINT) / 1e6
               AS efficiency,
           b.n_empty, b.n_oversize
    FROM by_depth d LEFT JOIN branch b ON true
    ORDER BY d.depth
    """,
    ("documents", "text", "analytics"),
)
def pack_sequences_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-atomic Next-Fit-Decreasing packing into 512-token bins over the (length, count)
    histogram; per-doc bin ids in closed form. Per-depth bin census, packing efficiency and a
    docs_xor checksum."""
    from pyspark.sql.window import Window as W

    from .operators import packing as pack_ops

    t = _t(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != "")
        )
        .cast("long")
        .alias("n_tokens"),
    )
    assign, n_empty, n_oversize, _n_bins = pack_ops.pack_documents_atomic(
        toks, token_col="n_tokens", id_col="doc_id", cap=512
    )
    bins = assign.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("depth"),
        F.sum("length").cast("long").alias("tokens"),
        F.expr("bit_xor(doc_id)").cast("long").alias("dx"),
    )
    by_depth = bins.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("tokens").cast("long").alias("tokens_at_depth"),
        F.expr("bit_xor(dx)").cast("long").alias("docs_xor"),
    )
    return by_depth.select(
        "depth",
        "n_bins",
        "tokens_at_depth",
        "docs_xor",
        # Unpartitioned windows over the per-depth census (one row per bin depth).
        F.sum("n_bins").over(W.partitionBy()).cast("long").alias("n_bins_total"),
        F.sum(F.col("depth") * F.col("n_bins"))
        .over(W.partitionBy())
        .cast("long")
        .alias("n_docs_packed"),
        (
            F.expr(
                "CAST(CASE WHEN sum(n_bins) OVER () = 0 THEN 0"
                " ELSE sum(tokens_at_depth) OVER () * 1000000"
                " div (sum(n_bins) OVER () * 512) END AS BIGINT)"
            )
            / 1e6
        ).alias("efficiency"),
        F.lit(n_empty).cast("long").alias("n_empty"),
        F.lit(n_oversize).cast("long").alias("n_oversize"),
    ).orderBy("depth")


_KNN_D2_SQL = (
    "list_sum(list_transform(range(1, 65),"
    " i -> (ea.v[i]-eb.v[i])*(ea.v[i]-eb.v[i])))"
)


def _knn_round_sql(prev: str, rnd: int, k: int) -> str:
    """One NN-descent round as oracle CTEs (the _bpe_chain_sql idiom:
    ONE generator emits the bounded unrolled chain; each per-round CTE
    is referenced more than once downstream, so AS MATERIALIZED — the
    xcw rule — keeps DuckDB from compiling 2^rounds subtree copies)."""
    return f"""
    und{rnd} AS MATERIALIZED (
        SELECT c, x, min(d2) AS d2 FROM (
            SELECT u AS c, w AS x, d2 FROM {prev}
            UNION ALL SELECT w AS c, u AS x, d2 FROM {prev}
        ) GROUP BY c, x
    ),
    nbhd{rnd} AS MATERIALIZED (
        SELECT c, x FROM (
            SELECT c, x, row_number() OVER (PARTITION BY c ORDER BY d2, x) AS rk
            FROM und{rnd}
        ) WHERE rk <= {2 * k}
    ),
    cand{rnd} AS MATERIALIZED (
        SELECT DISTINCT l.x AS u, r.x AS w
        FROM nbhd{rnd} l JOIN nbhd{rnd} r ON l.c = r.c AND l.x < r.x
    ),
    sc{rnd} AS MATERIALIZED (
        SELECT c.u, c.w, {_KNN_D2_SQL} AS d2
        FROM cand{rnd} c JOIN ev ea ON ea.id = c.u JOIN ev eb ON eb.id = c.w
    ),
    nbr{rnd} AS MATERIALIZED (
        SELECT u, w, d2 FROM (
            SELECT u, w, d2,
                   row_number() OVER (PARTITION BY u ORDER BY d2, w) AS rk
            FROM (
                SELECT u, w, min(d2) AS d2 FROM (
                    SELECT u, w, d2 FROM {prev}
                    UNION ALL SELECT u, w, d2 FROM sc{rnd}
                    UNION ALL SELECT w AS u, u AS w, d2 FROM sc{rnd}
                ) GROUP BY u, w
            )
        ) WHERE rk <= {k}
    )"""


@query(
    "graph_knn_descent",
    f"""
    WITH ev AS MATERIALIZED (
        SELECT vec_id AS id, label AS cell,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
    ),
    sp AS MATERIALIZED (
        SELECT ea.id AS u, eb.id AS w, {_KNN_D2_SQL} AS d2
        FROM ev ea JOIN ev eb ON ea.cell = eb.cell AND ea.id <> eb.id
    ),
    ring AS MATERIALIZED (
        SELECT id, ('0x' || substr(md5('knn:' || CAST(id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM ev
    ),
    rp AS MATERIALIZED (
        SELECT u, w FROM (
            SELECT lag(id) OVER (PARTITION BY h % 64 ORDER BY h, id) AS u,
                   id AS w
            FROM ring
        ) WHERE u IS NOT NULL
    ),
    bsc AS MATERIALIZED (
        SELECT r.u, r.w, {_KNN_D2_SQL} AS d2
        FROM rp r JOIN ev ea ON ea.id = r.u JOIN ev eb ON eb.id = r.w
    ),
    sp0 AS MATERIALIZED (
        SELECT u, w, min(d2) AS d2 FROM (
            SELECT u, w, d2 FROM sp
            UNION ALL SELECT u, w, d2 FROM bsc
            UNION ALL SELECT w AS u, u AS w, d2 FROM bsc
        ) GROUP BY u, w
    ),
    seed AS MATERIALIZED (
        SELECT u, w, d2 FROM (
            SELECT u, w, d2,
                   row_number() OVER (PARTITION BY u ORDER BY d2, w) AS rk
            FROM sp0
        ) WHERE rk <= 6
    ),
    {_knn_round_sql("seed", 1, 6)},
    {_knn_round_sql("nbr1", 2, 6)},
    ex AS MATERIALIZED (
        SELECT u, w FROM (
            SELECT u, w, row_number() OVER (PARTITION BY u ORDER BY d2, w) AS rk
            FROM (
                SELECT ea.id AS u, eb.id AS w, {_KNN_D2_SQL} AS d2
                FROM ev ea JOIN ev eb ON ea.id < 32 AND eb.id <> ea.id
            )
        ) WHERE rk <= 6
    ),
    sh AS (
        SELECT s.u, CAST(count(*) AS BIGINT) AS h
        FROM seed s JOIN ex ON ex.u = s.u AND ex.w = s.w GROUP BY s.u
    ),
    fh AS (
        SELECT f.u, CAST(count(*) AS BIGINT) AS h
        FROM nbr2 f JOIN ex ON ex.u = f.u AND ex.w = f.w GROUP BY f.u
    ),
    probes AS (SELECT DISTINCT u FROM ex)
    SELECT p.u AS probe_id,
           COALESCE(sh.h, 0) AS seed_hits,
           COALESCE(fh.h, 0) AS final_hits,
           CAST(COALESCE(sh.h, 0) * 1000000 // 6 AS BIGINT) / 1e6 AS recall_seed,
           CAST(COALESCE(fh.h, 0) * 1000000 // 6 AS BIGINT) / 1e6 AS recall_final,
           CAST(sum(COALESCE(sh.h, 0)) OVER () * 1000000
                // (count(*) OVER () * 6) AS BIGINT) / 1e6 AS mean_recall_seed,
           CAST(sum(COALESCE(fh.h, 0)) OVER () * 1000000
                // (count(*) OVER () * 6) AS BIGINT) / 1e6 AS mean_recall_final
    FROM probes p
    LEFT JOIN sh ON sh.u = p.u
    LEFT JOIN fh ON fh.u = p.u
    ORDER BY probe_id
    """,
    ("embeddings", "similarity", "graph"),
)
def graph_knn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-descent k-NN graph (k=6): cell-blocked seeds, 2 rounds of in-array wedge candidates
    re-ranked by exact integer distances, and recall@6 of seed and final lists for 32 probe
    anchors."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    seed, final = sim_ops.knn_graph_descent(
        emb, k=6, rounds=2, cell_col="label", id_col="vec_id", emb_col="embedding"
    )
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 1000).cast("long"),
        ).alias("v"),
    )
    ppairs = (
        F.broadcast(
            vecs.filter(F.col("id") < 32).select(
                F.col("id").alias("u"), F.col("v").alias("va")
            )
        )
        .join(
            vecs.select(F.col("id").alias("w"), F.col("v").alias("vb")),
            F.col("u") != F.col("w"),
        )
        .select("u", "w", "va", "vb")
    )
    wex = W.partitionBy("u").orderBy(F.col("d2").asc(), F.col("w").asc())
    ex = (
        sim_ops._pairs_exact_d2(ppairs)
        .withColumn("__rk", F.row_number().over(wex))
        .filter(F.col("__rk") <= 6)
        .select("u", "w")
    )
    sh = (
        seed.join(ex, ["u", "w"])
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("sh"))
    )
    fh = (
        final.join(ex, ["u", "w"])
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("fh"))
    )
    probes = ex.select("u").distinct()
    out = (
        probes.join(sh, "u", "left")
        .join(fh, "u", "left")
        .select(
            F.col("u").alias("probe_id"),
            F.coalesce(F.col("sh"), F.lit(0)).cast("long").alias("seed_hits"),
            F.coalesce(F.col("fh"), F.lit(0)).cast("long").alias("final_hits"),
        )
    )
    return out.select(
        "probe_id",
        "seed_hits",
        "final_hits",
        (F.expr("CAST(seed_hits * 1000000 div 6 AS BIGINT)") / 1e6).alias(
            "recall_seed"
        ),
        (F.expr("CAST(final_hits * 1000000 div 6 AS BIGINT)") / 1e6).alias(
            "recall_final"
        ),
        (
            F.expr(
                "CAST(sum(seed_hits) OVER () * 1000000"
                " div (count(1) OVER () * 6) AS BIGINT)"
            )
            / 1e6
        ).alias("mean_recall_seed"),
        (
            F.expr(
                "CAST(sum(final_hits) OVER () * 1000000"
                " div (count(1) OVER () * 6) AS BIGINT)"
            )
            / 1e6
        ).alias("mean_recall_final"),
    ).orderBy("probe_id")


def _pass_at_k_expr(k: int) -> str:
    """The unbiased pass@k estimator (Chen et al. 2021 appendix):
    pass@k = 1 - C(n-c, k)/C(n, k), with the combinatorial ratio
    computed as the k-term product of exact-BIGINT quotients in ONE
    fixed expression order — each factor is a correctly-rounded IEEE
    division of identical integers, so the k-double product is
    engine-identical (the x63 fixed-order float idiom; the direct
    C(n,k) BIGINT product overflows at n ~ 80 for k = 10, the product-
    of-quotients form never does). Identical text on both sides."""
    prod = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(k)
    )
    return (
        f"CASE WHEN c = 0 THEN 0 WHEN n - c < {k} THEN 1000000"
        f" ELSE 1000000 - CAST(floor(({prod}) * 1000000) AS BIGINT) END"
    )


@query(
    "pass_at_k",
    f"""
    WITH per_task AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, n, c,
               {_pass_at_k_expr(1)} AS p1_ppm,
               {_pass_at_k_expr(5)} AS p5_ppm,
               {_pass_at_k_expr(10)} AS p10_ppm
        FROM per_task
    )
    SELECT user_id, n, c,
           CAST(p1_ppm AS BIGINT) / 1e6 AS pass_at_1,
           CAST(p5_ppm AS BIGINT) / 1e6 AS pass_at_5,
           CAST(p10_ppm AS BIGINT) / 1e6 AS pass_at_10,
           CAST(sum(p1_ppm) OVER () // count(*) OVER () AS BIGINT) / 1e6
               AS mean_pass_at_1,
           CAST(sum(p5_ppm) OVER () // count(*) OVER () AS BIGINT) / 1e6
               AS mean_pass_at_5,
           CAST(sum(p10_ppm) OVER () // count(*) OVER () AS BIGINT) / 1e6
               AS mean_pass_at_10
    FROM scored
    ORDER BY user_id
    """,
    ("events", "analytics"),
)
def pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k (k = 1, 5, 10) per user (tasks = users, success = purchase):
    1 - C(n-c,k)/C(n,k) as a fixed-order product of BIGINT quotients in ppm, plus corpus means."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    per_task = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    scored = per_task.select(
        "user_id",
        "n",
        "c",
        F.expr(_pass_at_k_expr(1)).alias("p1_ppm"),
        F.expr(_pass_at_k_expr(5)).alias("p5_ppm"),
        F.expr(_pass_at_k_expr(10)).alias("p10_ppm"),
    )
    return scored.select(
        "user_id",
        "n",
        "c",
        (F.col("p1_ppm").cast("long") / 1e6).alias("pass_at_1"),
        (F.col("p5_ppm").cast("long") / 1e6).alias("pass_at_5"),
        (F.col("p10_ppm").cast("long") / 1e6).alias("pass_at_10"),
        (
            # Unpartitioned OVER () windows over the task frame (one row per user).
            F.expr("CAST(sum(p1_ppm) OVER () div count(1) OVER () AS BIGINT)")
            / 1e6
        ).alias("mean_pass_at_1"),
        (
            F.expr("CAST(sum(p5_ppm) OVER () div count(1) OVER () AS BIGINT)")
            / 1e6
        ).alias("mean_pass_at_5"),
        (
            F.expr("CAST(sum(p10_ppm) OVER () div count(1) OVER () AS BIGINT)")
            / 1e6
        ).alias("mean_pass_at_10"),
    ).orderBy("user_id")


@query(
    "hdr_quantile_sketch",
    """
    WITH cents AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    ),
    b AS (
        SELECT CASE WHEN c < 32 THEN c
               ELSE ((length(bin(c)) - 1) - 5) * 32
                    + ((c >> ((length(bin(c)) - 1) - 5)) & 31) + 32 END AS bucket
        FROM cents
    ),
    sk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bucket),
    cum AS (
        SELECT bucket, cnt,
               CAST(sum(cnt) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM sk
    ),
    qs AS (SELECT CAST(q0 AS BIGINT) AS q FROM (VALUES (50), (90), (99)) t(q0)),
    pick AS (
        SELECT q, CAST(min(bucket) AS BIGINT) AS bucket, CAST(min(n) AS BIGINT) AS n
        FROM cum JOIN qs ON cum * 100 >= n * q
        GROUP BY q
    ),
    dec AS (
        SELECT q, bucket, n,
               CASE WHEN bucket < 32 THEN bucket
                    ELSE (32 + (bucket - 32) % 32) << ((bucket - 32) // 32)
               END AS lo,
               CASE WHEN bucket < 32 THEN bucket
                    ELSE ((32 + (bucket - 32) % 32) << ((bucket - 32) // 32))
                         + (CAST(1 AS BIGINT) << ((bucket - 32) // 32)) - 1
               END AS hi
        FROM pick
    ),
    exh AS (
        SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM cents GROUP BY c
    ),
    excum AS (
        SELECT c, CAST(sum(cnt) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM exh
    ),
    expick AS (
        SELECT q, CAST(min(c) AS BIGINT) AS exact_cents
        FROM excum JOIN qs ON cum * 100 >= n * q
        GROUP BY q
    )
    SELECT d.q, d.n AS n_rows, d.bucket, d.lo AS est_lo_cents,
           d.hi AS est_hi_cents, e.exact_cents,
           (d.lo <= e.exact_cents AND e.exact_cents <= d.hi) AS contained,
           CAST((d.hi - d.lo) * 1000000 // greatest(d.lo, 1) AS BIGINT) / 1e6
               AS bucket_rel_width
    FROM dec d JOIN expick e ON e.q = d.q
    ORDER BY d.q
    """,
    ("lineitem", "analytics"),
)
def hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HDR quantile sketch with integer msb buckets (5 mantissa bits), quantiles by
    integer rank walk, and an audit that the exact quantile falls inside the reported bucket."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    cents = t["lineitem"].select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c")
    )
    bucket = F.expr(
        "CASE WHEN c < 32 THEN c"
        " ELSE ((length(bin(c)) - 1) - 5) * 32"
        "      + ((c >> ((length(bin(c)) - 1) - 5)) & 31) + 32 END"
    )
    sk = (
        cents.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wcum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = sk.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
        F.sum("cnt").over(W.partitionBy()).cast("long").alias("n"),
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q long")
    # carry the cumulative count BELOW the picked bucket so the exact
    # audit can run two-phase selection (sort only inside the picked
    # bucket) instead of a corpus-sized single-partition value cumsum
    pick = (
        cum.join(F.broadcast(qs), F.col("cum") * 100 >= F.col("n") * F.col("q"))
        .groupBy("q")
        .agg(
            F.min("bucket").cast("long").alias("bucket"),
            F.min("n").cast("long").alias("n"),
            F.min(F.struct("bucket", "cum", "cnt")).alias("__pb"),
        )
        .select(
            "q",
            "bucket",
            "n",
            (F.col("__pb.cum") - F.col("__pb.cnt")).cast("long").alias("below"),
        )
    )
    dec = pick.select(
        "q",
        "bucket",
        "n",
        "below",
        F.expr(
            "CASE WHEN bucket < 32 THEN bucket"
            " ELSE (32 + (bucket - 32) % 32) << ((bucket - 32) div 32) END"
        ).alias("lo"),
        F.expr(
            "CASE WHEN bucket < 32 THEN bucket"
            " ELSE ((32 + (bucket - 32) % 32) << ((bucket - 32) div 32))"
            "      + (CAST(1 AS BIGINT) << ((bucket - 32) div 32)) - 1 END"
        ).alias("hi"),
    )
    # Two-phase exact selection (the operators/quantiles shape): the
    # exact quantile at rank rule cum*100 >= n*q provably lies in the
    # picked bucket (monotone bucketing, same rank rule), so only the
    # picked buckets' rows are aggregated and the rank walk runs over
    # a bucket-width-bounded per-q frame — never a corpus-sized
    # single-partition value cumsum.
    inb = cents.join(
        F.broadcast(dec.select("q", "n", "below", "lo", "hi")),
        (F.col("c") >= F.col("lo")) & (F.col("c") <= F.col("hi")),
    )
    exh = inb.groupBy("q", "n", "below", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wex = (
        W.partitionBy("q")
        .orderBy("c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    excum = exh.select(
        "q",
        "n",
        "below",
        "c",
        F.sum("cnt").over(wex).cast("long").alias("cum_in"),
    )
    expick = (
        excum.filter(
            (F.col("below") + F.col("cum_in")) * 100 >= F.col("n") * F.col("q")
        )
        .groupBy("q")
        .agg(F.min("c").cast("long").alias("exact_cents"))
    )
    return (
        dec.join(expick, "q")
        .select(
            "q",
            F.col("n").alias("n_rows"),
            "bucket",
            F.col("lo").alias("est_lo_cents"),
            F.col("hi").alias("est_hi_cents"),
            "exact_cents",
            (
                (F.col("lo") <= F.col("exact_cents"))
                & (F.col("exact_cents") <= F.col("hi"))
            ).alias("contained"),
            (
                F.expr("CAST((hi - lo) * 1000000 div greatest(lo, 1) AS BIGINT)")
                / 1e6
            ).alias("bucket_rel_width"),
        )
        .orderBy("q")
    )


@query(
    "bloom_join_prune",
    """
    WITH dim AS (
        SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    cells AS (
        SELECT (('0x' || substr(md5('jp:' || k), r.r * 6 + 1, 6))::BIGINT
                % 1984) AS pos
        FROM dim, (SELECT unnest([0, 1, 2, 3]) AS r) r
    ),
    bloom AS (
        SELECT pos // 62 AS word_idx,
               CAST(bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS BIGINT) AS bits
        FROM cells GROUP BY pos // 62
    ),
    probes AS (
        SELECT CAST(o_custkey AS VARCHAR) AS k, o_custkey,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders GROUP BY o_custkey
    ),
    pcells AS (
        SELECT k, (('0x' || substr(md5('jp:' || k), r.r * 6 + 1, 6))::BIGINT
                % 1984) AS pos
        FROM probes, (SELECT unnest([0, 1, 2, 3]) AS r) r
    ),
    hits AS (
        SELECT p.k,
               CASE WHEN (COALESCE(b.bits, 0)
                          & (1::BIGINT << CAST(p.pos % 62 AS INT))) != 0
                    THEN 1 ELSE 0 END AS hit
        FROM pcells p LEFT JOIN bloom b ON b.word_idx = p.pos // 62
    ),
    verdicts AS (
        SELECT k, sum(hit) = 4 AS bloom_says FROM hits GROUP BY k
    ),
    classified AS (
        SELECT p.o_custkey, p.n_rows, v.bloom_says,
               (d.k IS NOT NULL) AS actually_member
        FROM probes p
        JOIN verdicts v ON v.k = p.k
        LEFT JOIN dim d ON d.k = p.k
    ),
    grouped AS (
        SELECT bloom_says, actually_member,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n_rows) AS BIGINT) AS n_order_rows,
               CAST(sum(CASE WHEN bloom_says AND NOT actually_member
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN NOT actually_member THEN 1 ELSE 0 END)
                    AS BIGINT) AS neg,
               CAST(sum(CASE WHEN NOT bloom_says AND actually_member
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN bloom_says THEN n_rows ELSE 0 END)
                    AS BIGINT) AS pass_rows
        FROM classified
        GROUP BY bloom_says, actually_member
    )
    SELECT bloom_says, actually_member, n_keys, n_order_rows,
           CAST(sum(fp) OVER () * 1000000
                // greatest(sum(neg) OVER (), 1) AS BIGINT) / 1e6
               AS fp_rate_nonmembers,
           CAST(sum(fn) OVER () AS BIGINT) AS n_false_negatives,
           CAST(sum(pass_rows) OVER () * 1000000
                // greatest(sum(n_order_rows) OVER (), 1) AS BIGINT) / 1e6
               AS rows_passed_frac
    FROM grouped
    ORDER BY bloom_says, actually_member
    """,
    ("customer", "orders", "dedup"),
)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned join audit: a small 32-word index of BUILDING customers probes order keys; the
    2x2 (bloom says x member) census, false-positive rate, row-pass fraction and zero false
    negatives."""
    from pyspark.sql.window import Window as W

    from .operators import decontam as decontam_ops

    t = _t(spark, sf_dir)
    dim = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("string").alias("k"))
        .distinct()
    )
    bloom = decontam_ops.bloom_build(dim, key_col="k", n_words=32, seed="jp")
    probes = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "o_custkey",
            F.col("o_custkey").cast("string").alias("k"),
            "n_rows",
        )
    )
    verdicts = decontam_ops.bloom_probe(
        bloom, probes, key_col="k", n_words=32, seed="jp"
    ).select(F.col("probe_key").alias("k"), "bloom_says")
    classified = (
        probes.join(verdicts, "k")
        .join(
            F.broadcast(dim.withColumn("__m", F.lit(1))), "k", "left"
        )
        .select(
            "o_custkey",
            "n_rows",
            "bloom_says",
            F.col("__m").isNotNull().alias("actually_member"),
        )
    )
    grouped = classified.groupBy("bloom_says", "actually_member").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_rows").cast("long").alias("n_order_rows"),
        F.sum(
            F.when(F.col("bloom_says") & ~F.col("actually_member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("__fp"),
        F.sum(F.when(~F.col("actually_member"), 1).otherwise(0))
        .cast("long")
        .alias("__neg"),
        F.sum(
            F.when(~F.col("bloom_says") & F.col("actually_member"), 1).otherwise(0)
        )
        .cast("long")
        .alias("__fn"),
        F.sum(F.when(F.col("bloom_says"), F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("__pass_rows"),
    )
    w = W.partitionBy()
    return (
        grouped.select(
            "bloom_says",
            "actually_member",
            "n_keys",
            "n_order_rows",
            (
                F.expr(
                    "CAST(sum(__fp) OVER () * 1000000"
                    " div greatest(sum(__neg) OVER (), 1) AS BIGINT)"
                )
                / 1e6
            ).alias("fp_rate_nonmembers"),
            F.sum("__fn").over(w).cast("long").alias("n_false_negatives"),
            (
                F.expr(
                    "CAST(sum(__pass_rows) OVER () * 1000000"
                    " div greatest(sum(n_order_rows) OVER (), 1) AS BIGINT)"
                )
                / 1e6
            ).alias("rows_passed_frac"),
        )
        .orderBy("bloom_says", "actually_member")
    )


@query(
    "frequent_itemsets_apriori",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    tri AS (
        SELECT a.it AS i1, b.it AS i2, c.it AS i3,
               CAST(count(*) AS BIGINT) AS support
        FROM items a
        JOIN items b ON a.bk = b.bk AND a.it < b.it
        JOIN items c ON b.bk = c.bk AND b.it < c.it
        GROUP BY 1, 2, 3
        HAVING count(*) >= 2
    ),
    ctx AS (
        SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets,
               CAST((SELECT count(*) FROM (
                   SELECT a.it, b.it
                   FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
                   GROUP BY a.it, b.it HAVING count(*) >= 2
               )) AS BIGINT) AS n_frequent_pairs
        FROM items
    )
    SELECT t.i1, t.i2, t.i3, t.support, c.n_baskets, c.n_frequent_pairs
    FROM tri t LEFT JOIN ctx c ON true
    ORDER BY t.i1, t.i2, t.i3
    """,
    ("lineitem", "analytics"),
)
def frequent_itemsets_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent triples by Apriori (L1 and L2 pruning, L2-join-L2 candidates) checked against an
    oracle that counts triples naively; they agree by the Apriori theorem. Exact counts, unique
    order."""
    from .operators.analytics import array_pairs

    t = _t(spark, sf_dir)
    items = (
        t["lineitem"]
        .select(F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it"))
        .distinct()
    )
    l1 = (
        items.groupBy("it")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("it")
    )
    items1 = items.join(l1, "it", "left_semi")
    # Per-basket sorted item arrays (r8 wedge idiom): basket size is
    # BOUNDED (max distinct parts per order = 17 at fixture; lineitems
    # per order is a schema constant, not corpus-scaled), so pair AND
    # triple instances enumerate in-array map-side — the former two
    # corpus-sized merge self-joins (basket-pair build + pair-pair
    # triple build, each a full sort+shuffle of ~1.2M rows, plus the
    # 22<->24 AQE wobble that forced hint("merge")) are deleted
    # outright. Eager checkpoint: the arrays feed the l2 action AND
    # the final triple action (separate jobs; recompute would redo the
    # distinct + semi + collect shuffles — the r12 rule).
    baskets = (
        items1.groupBy("bk")
        .agg(F.sort_array(F.collect_list("it")).alias("its"))
        .localCheckpoint(eager=True)
    )
    its = F.col("its")
    pair_counts = (
        baskets.select(F.explode(array_pairs(its)).alias("p"))
        .select(F.col("p")[0].alias("i1"), F.col("p")[1].alias("i2"))
        .groupBy("i1", "i2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # l2 is consumed at THREE different join keys (c3 prefix join, the
    # apriori subset check, the tri semi) plus the context count —
    # ReuseExchange does NOT dedupe differently-keyed consumers (the r9
    # datapoint); the eager checkpoint keeps every consumer on one
    # in-memory RDD and the job count deterministic (plan_stable).
    l2 = (
        pair_counts.filter(F.col("n") >= 2)
        .select("i1", "i2")
        .localCheckpoint(eager=True)
    )
    # candidate triples: L2 join L2 on the shared prefix, then the
    # apriori subset check (i2, i3) in L2
    c3 = (
        l2.select("i1", "i2")
        .join(
            l2.select(F.col("i1").alias("i1b"), F.col("i2").alias("i3")),
            F.col("i1") == F.col("i1b"),
        )
        .filter(F.col("i2") < F.col("i3"))
        .select("i1", "i2", "i3")
        .join(
            l2.select(F.col("i1").alias("i2"), F.col("i2").alias("i3")),
            ["i2", "i3"],
            "left_semi",
        )
    )
    # triple instances in-array (i<j<k over the sorted basket array,
    # ~1.6M rows map-side at sf0.1), then the c3 semi applies the full
    # Apriori subset condition — identical support counts to the former
    # pair-instance self-join (c3 already requires all three pairs
    # frequent, and a basket holding the (i1,i2),(i1,i3) pair
    # instances holds all three items).
    triple_arr = F.flatten(
        F.flatten(
            F.transform(
                its,
                lambda a, i: F.transform(
                    F.slice(its, i + F.lit(2), F.size(its)),
                    lambda b, j: F.transform(
                        F.slice(its, i + j + F.lit(3), F.size(its)),
                        lambda c: F.array(a, b, c),
                    ),
                ),
            )
        )
    )
    tri_inst = (
        baskets.select(F.explode(triple_arr).alias("p"))
        .select(
            F.col("p")[0].alias("i1"),
            F.col("p")[1].alias("i2"),
            F.col("p")[2].alias("i3"),
        )
        .join(c3, ["i1", "i2", "i3"], "left_semi")
    )
    tri = (
        tri_inst.groupBy("i1", "i2", "i3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 2)
    )
    ctx = items.agg(
        F.countDistinct("bk").cast("long").alias("n_baskets")
    ).crossJoin(
        F.broadcast(
            l2.agg(F.count(F.lit(1)).cast("long").alias("n_frequent_pairs"))
        )
    )
    return (
        tri.join(F.broadcast(ctx), F.lit(True), how="left")
        .select("i1", "i2", "i3", "support", "n_baskets", "n_frequent_pairs")
        .orderBy("i1", "i2", "i3")
    )


def _hll_oracle_sql() -> str:
    from .operators.cardinality import (
        HLL_ALPHA_NUM,
        HLL_LC_THRESHOLD,
        HLL_M,
        hll_lc_table,
    )

    return f"""
    WITH keys AS (
        SELECT event_type AS shard, CAST(event_id AS VARCHAR) AS k FROM events
        UNION ALL
        SELECT '__all__' AS shard, CAST(event_id AS VARCHAR) AS k FROM events
        UNION ALL
        SELECT '__users__' AS shard, CAST(user_id AS VARCHAR) AS k FROM events
    ),
    cells AS (
        SELECT shard,
               ('0x' || substr(md5('hll:' || k), 1, 2))::BIGINT AS bucket,
               ('0x' || substr(md5('hll:' || k), 3, 12))::BIGINT AS v
        FROM keys
    ),
    regs AS (
        SELECT shard, bucket,
               max(CASE WHEN v = 0 THEN 49
                   ELSE 49 - length(bin(v)) END) AS reg
        FROM cells GROUP BY shard, bucket
    ),
    agg AS (
        SELECT shard,
               CAST(sum(1::BIGINT << (49 - reg)) AS BIGINT) AS sum_pow,
               CAST(count(*) AS BIGINT) AS cnt
        FROM regs GROUP BY shard
    ),
    est1 AS (
        SELECT shard,
               {HLL_M} - cnt AS v_empty,
               ({HLL_ALPHA_NUM} // s) * 16 + (({HLL_ALPHA_NUM} % s) * 16) // s
                   AS raw
        FROM (SELECT shard, cnt,
                     sum_pow + ({HLL_M} - cnt) * (1::BIGINT << 49) AS s
              FROM agg)
    ),
    tab AS (SELECT {hll_lc_table()} AS t),
    est AS (
        SELECT shard, v_empty,
               CASE WHEN v_empty > 0 AND raw <= {HLL_LC_THRESHOLD}
                    THEN 'linear' ELSE 'hll' END AS branch,
               CASE WHEN v_empty > 0 AND raw <= {HLL_LC_THRESHOLD}
                    THEN t[greatest(v_empty, 1)] ELSE raw END AS est
        FROM est1 LEFT JOIN tab ON true
    ),
    exact AS (
        SELECT shard, CAST(count(DISTINCT k) AS BIGINT) AS exact_n
        FROM keys GROUP BY shard
    )
    SELECT e.shard,
           x.exact_n,
           CAST(e.est AS BIGINT) AS est,
           CAST(e.v_empty AS BIGINT) AS v_empty,
           e.branch,
           (abs(e.est - x.exact_n) * 1000 <= 195 * x.exact_n) AS within_3se
    FROM est e JOIN exact x ON x.shard = e.shard
    ORDER BY e.shard
    """


@query(
    "hll_cardinality",
    _hll_oracle_sql(),
    ("events", "sketch", "analytics"),
)
def hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable integer HyperLogLog per event type, merged into a corpus sketch by bucket-wise max,
    with both estimator branches live and a 3-SE sanity check. No doubles, so it hash-matches
    across engines."""
    from .operators.cardinality import HLL_M, hll_build, hll_estimate, hll_merge

    t = _t(spark, sf_dir)
    ev = t["events"]
    shard_sk = hll_build(
        ev.select("event_type", "event_id"),
        key_col="event_id",
        shard_col="event_type",
    )
    merged_sk = hll_merge(shard_sk).withColumn("shard", F.lit("__all__"))
    users_sk = hll_build(ev.select("user_id"), key_col="user_id").withColumn(
        "shard", F.lit("__users__")
    )
    all_sk = (
        shard_sk.withColumnRenamed("event_type", "shard")
        .unionByName(merged_sk.select("shard", "bucket", "reg"))
        .unionByName(users_sk.select("shard", "bucket", "reg"))
    )
    ests = hll_estimate(all_sk, by=["shard"])
    exact = (
        ev.select(F.col("event_type").alias("shard"), F.col("event_id").cast("string").alias("k"))
        .unionByName(
            ev.select(F.lit("__all__").alias("shard"), F.col("event_id").cast("string").alias("k"))
        )
        .unionByName(
            ev.select(F.lit("__users__").alias("shard"), F.col("user_id").cast("string").alias("k"))
        )
        .groupBy("shard")
        .agg(F.countDistinct("k").cast("long").alias("exact_n"))
    )
    return (
        ests.join(exact, "shard")
        .select(
            "shard",
            "exact_n",
            F.col("est").cast("long").alias("est"),
            F.col("v_empty").cast("long").alias("v_empty"),
            "branch",
            (F.abs(F.col("est") - F.col("exact_n")) * 1000 <= F.col("exact_n") * 195).alias(
                "within_3se"
            ),
        )
        .orderBy("shard")
    )


@query(
    "xg3_kruskal_wallis",
    """
    WITH lv AS (
        SELECT lang, CAST(length(text) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, length(text)
    ),
    hv AS (
        SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM lv GROUP BY v
    ),
    hr AS (
        SELECT v, cv,
               2 * CAST(sum(cv) OVER (ORDER BY v) AS BIGINT) - cv + 1 AS r2
        FROM hv
    ),
    g AS (
        SELECT lv.lang,
               CAST(sum(lv.c) AS BIGINT) AS n_j,
               CAST(sum(lv.c * hr.r2) AS BIGINT) AS r2_j
        FROM lv JOIN hr ON hr.v = lv.v
        GROUP BY lv.lang
    ),
    tot AS (
        SELECT CAST(sum(n_j) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum((r2_j * r2_j) // (4 * n_j)) AS BIGINT) AS a
        FROM g
    ),
    ties AS (
        SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS tsum FROM hv
    ),
    h AS (
        SELECT n, k, a, tsum,
               n * n * n - n AS d,
               greatest(a // 700000000000, 1) AS gg,
               ((12 * (a // greatest(a // 700000000000, 1)) * 1000000)
                // ((n * (n + 1)) // greatest(a // 700000000000, 1)
                    + CASE WHEN (n * (n + 1))
                           % greatest(a // 700000000000, 1) > 0
                      THEN 1 ELSE 0 END))
                   // 1 - 3 * (n + 1) * 1000000 AS h_q
        FROM tot CROSS JOIN ties
    ),
    hh AS (
        SELECT n, k, tsum, d, h_q,
               greatest(d // 1000000, 1) AS dd
        FROM h
    ),
    hc AS (
        SELECT n, k, h_q,
               CASE WHEN tsum = 0 THEN h_q
                    ELSE h_q * (d // dd) // greatest((d - tsum) // dd, 1)
               END AS h_tie_q
        FROM hh
    )
    SELECT g.lang,
           g.n_j AS n_docs,
           g.r2_j AS doubled_rank_sum,
           CAST(g.r2_j * 1000 // (2 * g.n_j) AS BIGINT) AS mean_rank_milli,
           CAST(hc.h_q AS BIGINT) / 1e6 AS h_stat,
           CAST(hc.h_tie_q AS BIGINT) / 1e6 AS h_tie_corrected,
           CAST(CASE WHEN hc.n > hc.k
                THEN greatest(hc.h_tie_q - (hc.k - 1) * 1000000, 0)
                     // (hc.n - hc.k)
                ELSE 0 END AS BIGINT) / 1e6 AS epsilon_sq
    FROM g CROSS JOIN hc
    ORDER BY g.lang
    """,
    ("documents", "analytics", "text"),
)
def xg3_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H and epsilon^2 of doc length by language from a value histogram with exact
    doubled ranks, guarded integer divisions and tie correction. No verdict: critical values depend
    on the group count."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    # ONE linear plan: the r14 before-bench caught the hv/g
    # double-consume shape racing its broadcast builds (per-pass jobs
    # wobbled 9<->13; eager checkpoints "fixed" determinism at 15 jobs
    # and ~2x wall). Instead every scalar rides the histogram rows:
    # per-v totals and the global rank cumsum as windows ON lv (RANGE
    # frame over ORDER BY v sums all ties -> identical cum(v)), the tie
    # term as a once-per-v guarded sum over the same unpartitioned
    # window, and the former tot/ties/h broadcast fan as `over ()`
    # windows on the 5-row per-language aggregate (the r7 xb9->xce
    # window-over-grouped-output idiom). No subtree is consumed twice,
    # so job counts cannot race. Integer expressions are byte-identical
    # to the oracle's.
    lv = (
        t["documents"]
        .select("lang", F.length("text").cast("long").alias("v"))
        .groupBy("lang", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wv = W.partitionBy("v")
    w_cum = W.orderBy("v")  # default RANGE frame: all rows with v' <= v
    w_all = W.partitionBy()
    lvx = lv.select(
        "lang",
        "v",
        "c",
        F.sum("c").over(wv).cast("long").alias("cv"),
        F.row_number().over(wv.orderBy("lang")).alias("rn_v"),
        F.sum("c").over(w_cum).cast("long").alias("cum"),
    ).select(
        "lang",
        "c",
        (2 * F.col("cum") - F.col("cv") + 1).cast("long").alias("r2"),
        F.sum(
            F.when(F.col("rn_v") == 1, F.expr("cv * cv * cv - cv"))
        )
        .over(w_all)
        .cast("long")
        .alias("tsum"),
    )
    g = lvx.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_j"),
        F.sum(F.col("c") * F.col("r2")).cast("long").alias("r2_j"),
        F.min("tsum").cast("long").alias("tsum"),
    )
    gx = (
        g.select(
            "lang",
            "n_j",
            "r2_j",
            "tsum",
            F.sum("n_j").over(w_all).cast("long").alias("n"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
            F.sum(F.expr("(r2_j * r2_j) div (4 * n_j)"))
            .over(w_all)
            .cast("long")
            .alias("a"),
        )
        # N^3 - N overflows BIGINT loudly (ANSI) past ~2e6 rows; at that scale bin lengths into
        # coarser classes first.
        .withColumn("d", F.expr("n * n * n - n"))
        .withColumn(
            "h_q",
            F.expr(
                "((12 * (a div greatest(a div 700000000000, 1)) * 1000000)"
                " div ((n * (n + 1)) div greatest(a div 700000000000, 1)"
                "      + CASE WHEN (n * (n + 1))"
                "             % greatest(a div 700000000000, 1) > 0"
                "        THEN 1 ELSE 0 END))"
                " - 3 * (n + 1) * 1000000"
            ),
        )
        .withColumn("dd", F.expr("greatest(d div 1000000, 1)"))
        .withColumn(
            "h_tie_q",
            F.expr(
                "CASE WHEN tsum = 0 THEN h_q"
                " ELSE h_q * (d div dd) div greatest((d - tsum) div dd, 1) END"
            ),
        )
    )
    return gx.select(
        "lang",
        F.col("n_j").alias("n_docs"),
        F.col("r2_j").alias("doubled_rank_sum"),
        F.expr("r2_j * 1000 div (2 * n_j)").cast("long").alias("mean_rank_milli"),
        (F.col("h_q").cast("long") / 1e6).alias("h_stat"),
        (F.col("h_tie_q").cast("long") / 1e6).alias("h_tie_corrected"),
        (
            F.expr(
                "CAST(CASE WHEN n > k"
                " THEN greatest(h_tie_q - (k - 1) * 1000000, 0) div (n - k)"
                " ELSE 0 END AS BIGINT)"
            )
            / 1e6
        ).alias("epsilon_sq"),
    ).orderBy("lang")


_IPF_ROW_TARGETS = (("de", 150000), ("en", 400000), ("es", 100000),
                    ("fr", 150000), ("zh", 200000))
_IPF_COL_TARGETS = ((0, 300000), (1, 400000), (2, 300000))
_IPF_ROUNDS = 5


def _ipf_round_sql(r: int) -> str:
    """One IPF round as oracle CTEs (the kcore/bpe unrolled-chain
    idiom): the u-step reads v{r-1}, the v-step reads u{r} — each CTE
    is bounded (5 + 3 rows) and MATERIALIZED."""
    return f"""u{r} AS MATERIALIZED (
        SELECT t.lang,
               CASE WHEN COALESCE(s.s, 0) = 0 THEN 0
                    ELSE (n.n * t.t * 1000000) // s.s END AS u
        FROM rt t
        LEFT JOIN (
            SELECT c.lang, CAST(sum(c.c * v.v) AS BIGINT) AS s
            FROM cells c JOIN v{r - 1} v ON v.b = c.b GROUP BY c.lang
        ) s ON s.lang = t.lang
        CROSS JOIN n
    ),
    v{r} AS MATERIALIZED (
        SELECT t.b,
               CASE WHEN COALESCE(s.s, 0) = 0 THEN 0
                    ELSE (n.n * t.t * 1000000) // s.s END AS v
        FROM ct t
        LEFT JOIN (
            SELECT c.b, CAST(sum(c.c * u.u) AS BIGINT) AS s
            FROM cells c JOIN u{r} u ON u.lang = c.lang GROUP BY c.b
        ) s ON s.b = t.b
        CROSS JOIN n
    )"""


def _ipf_oracle_sql() -> str:
    rows = ", ".join(f"('{l}', {t})" for l, t in _IPF_ROW_TARGETS)
    cols = ", ".join(f"({b}, {t})" for b, t in _IPF_COL_TARGETS)
    rounds = ",\n    ".join(_ipf_round_sql(r) for r in range(1, _IPF_ROUNDS + 1))
    R = _IPF_ROUNDS
    return f"""
    WITH cells AS MATERIALIZED (
        SELECT lang, least(length(text) // 200, 2) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, least(length(text) // 200, 2)
    ),
    n AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    rt AS (SELECT * FROM (VALUES {rows}) AS t(lang, t)),
    ct AS (SELECT * FROM (VALUES {cols}) AS t(b, t)),
    v0 AS (SELECT b, CAST(1000000 AS BIGINT) AS v FROM ct),
    {rounds},
    w AS MATERIALIZED (
        SELECT c.lang, c.b, c.c,
               (u.u * v.v) // 1000000 AS w_micro,
               c.c * ((u.u * v.v) // 1000000) AS kept_micro
        FROM cells c
        JOIN u{R} u ON u.lang = c.lang
        JOIN v{R} v ON v.b = c.b
    ),
    m AS (
        SELECT w.lang, w.b, w.c, w.w_micro, w.kept_micro,
               n.n * rt.t AS row_target_micro,
               CAST(sum(w.kept_micro) OVER (PARTITION BY w.lang) AS BIGINT)
                   AS row_achieved_micro,
               n.n * ct.t AS col_target_micro,
               CAST(sum(w.kept_micro) OVER (PARTITION BY w.b) AS BIGINT)
                   AS col_achieved_micro
        FROM w
        JOIN rt ON rt.lang = w.lang
        JOIN ct ON ct.b = w.b
        CROSS JOIN n
    )
    SELECT lang, b AS bucket, c AS n_docs, w_micro, kept_micro,
           row_target_micro, row_achieved_micro,
           col_target_micro, col_achieved_micro,
           CAST(max(greatest(abs(row_achieved_micro - row_target_micro),
                             abs(col_achieved_micro - col_target_micro)))
                OVER () AS BIGINT) AS max_gap_micro
    FROM m ORDER BY lang, b
    """


@query(
    "xg4_raking_ipf",
    _ipf_oracle_sql(),
    ("documents", "analytics", "sampling"),
)
def xg4_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking (IPF) of language x length-bucket cells to both marginal targets: 5 integer rounds
    folded on the driver, then cell weights, kept mass, achieved vs target marginals and max gap
    in-plan."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    cells = (
        t["documents"]
        .select("lang", F.expr("least(length(text) div 200, 2)").alias("b"))
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # Collected once: the state is bounded (5 u + 3 v values), so the rounds fold on the driver.
    cell_rows = [(r.lang, r.b, r.c) for r in cells.collect()]
    n = sum(c for _, _, c in cell_rows)
    row_t = dict(_IPF_ROW_TARGETS)
    col_t = dict(_IPF_COL_TARGETS)
    # integer IPF driver-side: all quantities non-negative, so python
    # // coincides with the engines' truncating division (the r8 pin
    # only bites on negatives)
    v = {b: 1_000_000 for b in col_t}
    u = {l: 0 for l in row_t}
    for _ in range(_IPF_ROUNDS):
        denom_l = {l: 0 for l in row_t}
        for l, b, c in cell_rows:
            denom_l[l] += c * v[b]
        u = {
            l: 0 if denom_l[l] == 0 else (n * row_t[l] * 1_000_000) // denom_l[l]
            for l in row_t
        }
        denom_b = {b: 0 for b in col_t}
        for l, b, c in cell_rows:
            denom_b[b] += c * u[l]
        v = {
            b: 0 if denom_b[b] == 0 else (n * col_t[b] * 1_000_000) // denom_b[b]
            for b in col_t
        }
    u_df = cells.sparkSession.createDataFrame(
        sorted(u.items()), "lang string, u long"
    )
    v_df = cells.sparkSession.createDataFrame(
        sorted(v.items()), "b long, v long"
    )
    rt_df = cells.sparkSession.createDataFrame(
        list(_IPF_ROW_TARGETS), "lang string, t long"
    )
    ct_df = cells.sparkSession.createDataFrame(
        list(_IPF_COL_TARGETS), "b long, t long"
    )
    w = (
        cells.join(F.broadcast(u_df), "lang")
        .join(F.broadcast(v_df), "b")
        .select(
            "lang",
            "b",
            "c",
            F.expr("(u * v) div 1000000").cast("long").alias("w_micro"),
            F.expr("c * ((u * v) div 1000000)").cast("long").alias("kept_micro"),
        )
    )
    m = (
        w.join(F.broadcast(rt_df), "lang")
        .join(F.broadcast(ct_df.withColumnRenamed("t", "tc")), "b")
        .select(
            "lang",
            "b",
            "c",
            "w_micro",
            "kept_micro",
            (F.lit(n) * F.col("t")).cast("long").alias("row_target_micro"),
            F.sum("kept_micro")
            .over(W.partitionBy("lang"))
            .cast("long")
            .alias("row_achieved_micro"),
            (F.lit(n) * F.col("tc")).cast("long").alias("col_target_micro"),
            F.sum("kept_micro")
            .over(W.partitionBy("b"))
            .cast("long")
            .alias("col_achieved_micro"),
        )
    )
    return m.select(
        "lang",
        F.col("b").alias("bucket"),
        F.col("c").alias("n_docs"),
        "w_micro",
        "kept_micro",
        "row_target_micro",
        "row_achieved_micro",
        "col_target_micro",
        "col_achieved_micro",
        F.max(
            F.greatest(
                F.abs(F.col("row_achieved_micro") - F.col("row_target_micro")),
                F.abs(F.col("col_achieved_micro") - F.col("col_target_micro")),
            )
        )
        # Unpartitioned window over the lang x bucket cell frame.
        .over(W.partitionBy())
        .cast("long")
        .alias("max_gap_micro"),
    ).orderBy("lang", "bucket")


_GMC_ROUNDS = 8


def _gmc_oracle_sql() -> str:
    """Greedy max-coverage oracle: 8 unrolled rounds (the kcore/bpe
    bounded-chain idiom). Every per-round CTE is MATERIALIZED — p{r}
    is consumed by BOTH cov{r} and the final union (the r8 rule:
    multiply-consumed CTEs otherwise inline into subtree copies)."""
    parts = []
    for r in range(1, _GMC_ROUNDS + 1):
        parts.append(f"""g{r} AS MATERIALIZED (
        SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS c
        FROM dw
        WHERE NOT EXISTS (SELECT 1 FROM cov{r - 1} cv WHERE cv.b = dw.b)
        GROUP BY dw.doc_id
    ),
    p{r} AS MATERIALIZED (
        SELECT doc_id, c FROM g{r} ORDER BY c DESC, doc_id LIMIT 1
    ),
    cov{r} AS MATERIALIZED (
        SELECT b FROM cov{r - 1}
        UNION
        SELECT dw.b FROM dw JOIN p{r} p ON dw.doc_id = p.doc_id
    )""")
    rounds = ",\n    ".join(parts)
    picks = "\n        UNION ALL ".join(
        f"SELECT {r} AS rnd, doc_id, c AS gain FROM p{r}"
        for r in range(1, _GMC_ROUNDS + 1)
    )
    return f"""
    WITH docs AS MATERIALIZED (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ),
    dw AS MATERIALIZED (
        SELECT DISTINCT doc_id, b FROM (
            SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS b
            FROM docs, unnest(range(1, len(ws))) AS t(i)
            WHERE len(ws) >= 2
        )
    ),
    cov0 AS (SELECT CAST(NULL AS VARCHAR) AS b WHERE false),
    {rounds},
    picks AS ({picks}),
    tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS total FROM dw)
    SELECT p.rnd AS round,
           p.doc_id AS picked_doc,
           p.gain,
           CAST(sum(p.gain) OVER (ORDER BY p.rnd) AS BIGINT) AS covered,
           t.total AS universe,
           CAST(CAST(sum(p.gain) OVER (ORDER BY p.rnd) AS BIGINT) * 1000
                // t.total AS BIGINT) AS coverage_milli
    FROM picks p CROSS JOIN tot t
    ORDER BY p.rnd
    """


@query(
    "xg5_greedy_max_coverage",
    _gmc_oracle_sql(),
    ("documents", "text", "sampling"),
)
def xg5_greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max coverage: 8 rounds picking the document that adds the most uncovered bigrams,
    ties by doc_id. The oracle unrolls the same greedy as 8 CTE rounds."""
    t = _t(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
        ).alias("ws"),
    ).filter(F.size("ws") >= 2)
    dw = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
                )
            ).alias("b"),
        )
        .distinct()
        # Checkpointed once: every greedy round filters and aggregates this (doc, bigram) set.
        .localCheckpoint(eager=True)
    )
    covered: set = set()
    picks = []
    for r in range(1, _GMC_ROUNDS + 1):
        gains = dw
        if covered:
            gains = gains.filter(~F.col("b").isin(sorted(covered)))
        # ONE job per round: the argmax row carries its own (uncovered)
        # bigram list — collect_list is bounded (<= 98 bigrams/doc, the
        # probed fixture bound) and TakeOrderedAndProject ships only the
        # top-1 row, so this fuses the former second per-pick collect
        # (dw.filter(doc_id).collect()) into the argmax job. The union
        # with `covered` is identical: the doc's already-covered bigrams
        # are in `covered` by definition.
        top = (
            gains.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("c"),
                F.collect_list("b").alias("bs"),
            )
            .orderBy(F.col("c").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not top:
            break
        doc, gain = top[0].doc_id, top[0].c
        picks.append((r, doc, gain))
        covered |= set(top[0].bs)
    picks_df = spark.createDataFrame(picks, "round long, picked_doc long, gain long")
    tot = dw.agg(F.countDistinct("b").cast("long").alias("universe"))
    from pyspark.sql.window import Window as W

    w_cum = W.orderBy("round").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        picks_df.crossJoin(F.broadcast(tot))
        .select(
            "round",
            "picked_doc",
            "gain",
            F.sum("gain").over(w_cum).cast("long").alias("covered"),
            "universe",
        )
        .select(
            "round",
            "picked_doc",
            "gain",
            "covered",
            "universe",
            F.expr("covered * 1000 div universe").cast("long").alias("coverage_milli"),
        )
        .orderBy("round")
    )


@query(
    "xg6_randomization_inference",
    """
    WITH arms AS MATERIALIZED (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5('ab:' || user_id), 1, 15))::BIGINT % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' AND value > 250 THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    obs AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(converted) AS BIGINT) AS c_tot,
               CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT)
                   AS s_obs
        FROM arms
    ),
    spine AS (SELECT unnest(range(1, 200)) AS b),
    perm AS MATERIALIZED (
        SELECT s.b, a.converted,
               row_number() OVER (PARTITION BY s.b
                   ORDER BY md5('perm:' || s.b || ':' || a.user_id), a.user_id)
                   AS rk
        FROM arms a CROSS JOIN spine s
    ),
    stats AS MATERIALIZED (
        SELECT p.b,
               CAST(sum(CASE WHEN p.rk <= o.n_a THEN p.converted ELSE 0 END)
                    AS BIGINT) AS s_b
        FROM perm p CROSS JOIN obs o GROUP BY p.b
    ),
    ex AS (
        SELECT o.n, o.n_a, o.c_tot, o.s_obs,
               CAST(sum(CASE WHEN abs(s.s_b * o.n - o.n_a * o.c_tot)
                              >= abs(o.s_obs * o.n - o.n_a * o.c_tot)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM stats s CROSS JOIN obs o
        GROUP BY o.n, o.n_a, o.c_tot, o.s_obs
    )
    SELECT n AS n_users, n_a, c_tot AS conv_total, s_obs,
           CAST(n_a * c_tot * 1000 // n AS BIGINT) AS expected_milli,
           CAST(199 AS BIGINT) AS n_perms,
           n_extreme,
           ((1 + n_extreme) * 1000000 // 200) / 1e6 AS p_value
    FROM ex
    """,
    ("events", "analytics"),
)
def xg6_randomization_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of A/B conversions: 199 hash-ranked pseudo-permutations with fixed margins,
    two-sided extremeness by integer cross-multiplication, p = (1 + n_extreme)/200."""
    from pyspark.sql.window import Window as W

    t = _t(spark, sf_dir)
    arms = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.max(
                F.expr(
                    "CASE WHEN event_type = 'purchase' AND value > 250"
                    " THEN 1 ELSE 0 END"
                )
            ).alias("converted")
        )
        .select(
            "user_id",
            "converted",
            F.expr(
                "CASE WHEN cast(conv(substring(md5(concat('ab:', user_id)), 1, 15),"
                " 16, 10) as bigint) % 2 = 0 THEN 'A' ELSE 'B' END"
            ).alias("arm"),
        )
    )
    obs = arms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CASE WHEN arm = 'A' THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_a"),
        F.sum("converted").cast("long").alias("c_tot"),
        F.sum(F.expr("CASE WHEN arm = 'A' THEN converted ELSE 0 END"))
        .cast("long")
        .alias("s_obs"),
    )
    spine = spark.range(1, 200).select(F.col("id").alias("b"))
    perm = arms.crossJoin(F.broadcast(spine)).select(
        "b",
        "converted",
        F.md5(
            F.concat(
                F.lit("perm:"), F.col("b").cast("string"), F.lit(":"),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
        "user_id",
    )
    w_b = W.partitionBy("b").orderBy("h", "user_id")
    stats = (
        # Fixed-margin permutations rank B x N rows (one window per replicate): fine to millions of
        # users x hundreds of replicates; at billions, switch to per-(b, user) hash-bit assignment.
        perm.withColumn("rk", F.row_number().over(w_b))
        .crossJoin(F.broadcast(obs))
        .groupBy("b")
        .agg(
            F.sum(F.expr("CASE WHEN rk <= n_a THEN converted ELSE 0 END"))
            .cast("long")
            .alias("s_b"),
            F.first("n").alias("n"),
            F.first("n_a").alias("n_a"),
            F.first("c_tot").alias("c_tot"),
            F.first("s_obs").alias("s_obs"),
        )
    )
    ex = stats.groupBy("n", "n_a", "c_tot", "s_obs").agg(
        F.sum(
            F.expr(
                "CASE WHEN abs(s_b * n - n_a * c_tot)"
                " >= abs(s_obs * n - n_a * c_tot) THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_extreme")
    )
    return ex.select(
        F.col("n").alias("n_users"),
        "n_a",
        F.col("c_tot").alias("conv_total"),
        "s_obs",
        F.expr("n_a * c_tot * 1000 div n").cast("long").alias("expected_milli"),
        F.lit(199).cast("long").alias("n_perms"),
        "n_extreme",
        (F.expr("(1 + n_extreme) * 1000000 div 200").cast("long") / 1e6).alias(
            "p_value"
        ),
    )
