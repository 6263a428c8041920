"""Text analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All pure ``pyspark.sql.functions`` column expressions (whole-stage
codegen, no Python in the hot path) so they run at scan speed over a
100 TB corpus and are exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash
from ..session import track_cache

# Tiny per-language discriminator profiles (stopword heuristic). On real
# corpora these would be character-n-gram frequency profiles; the
# mechanism (per-language hit scoring + argmax) is the same.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "value", "order"),
    "de": ("der", "die", "und", "nicht", "agg", "merge"),
    "es": ("el", "la", "de", "que", "fast", "customer"),
    "fr": ("le", "la", "et", "les", "hash", "sort"),
    "zh": ("的", "是", "了", "在", "stream", "batch"),
}

# A small stopword list for quality scoring.
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string -> 0)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: letter runs, digit runs, and individual
    punctuation marks each count as one token (a cheap BPE proxy:
    ~tokens an LLM tokenizer would produce, within a constant factor).

    Counted as matches of ``[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]`` — the
    IDENTICAL regex the DuckDB oracle runs, verified triple-exact
    (Spark/DuckDB/python re) on glued punctuation, camelCase,
    underscores, and symbol runs in tests/test_engine_pair_idioms.py.
    The previous lookaround-split formulation silently DISAGREED with
    the oracle on any text with punctuation glued to words ('hello,
    world': split 2 vs oracle 3) — green only because the fixtures
    happen to contain neither; the xb6 fixture-luck class. ASCII
    semantics (the documents fixture contract pins ASCII text)."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    )


def char_classes(text: Column) -> dict[str, Column]:
    stripped_alpha = F.regexp_replace(text, r"[A-Za-z]", "")
    stripped_digit = F.regexp_replace(text, r"[0-9]", "")
    stripped_punct = F.regexp_replace(text, r"[^\w\s]", "")
    stripped_space = F.regexp_replace(text, r"\s", "")
    n = F.length(text)
    return {
        "n_chars": n,
        "n_alpha": n - F.length(stripped_alpha),
        "n_digit": n - F.length(stripped_digit),
        "n_punct": n - F.length(stripped_punct),
        "n_space": n - F.length(stripped_space),
    }


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality features + a deterministic composite score.

    Features mirror common pretraining-corpus filters: length, mean word
    length, punctuation/digit ratios, stopword ratio, distinct-word
    ratio (repetition detector)."""
    text = F.col("text")
    words = F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")
    cc = char_classes(text)
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    nc = F.greatest(cc["n_chars"], F.lit(1)).cast("double")
    feat = df.select(
        "*",
        n_words.alias("n_words"),
        F.round(n_distinct / nw, 6).alias("distinct_ratio"),
        F.round(n_stop / nw, 6).alias("stopword_ratio"),
        F.round(cc["n_punct"] / nc, 6).alias("punct_ratio"),
        F.round(cc["n_digit"] / nc, 6).alias("digit_ratio"),
        F.round((cc["n_chars"] - cc["n_space"]) / nw, 6).alias("mean_word_len"),
    )
    score = (
        F.when(F.col("n_words") < 5, 0.0)
        .otherwise(
            F.least(F.col("n_words") / 100.0, F.lit(1.0)) * 0.3
            + F.col("distinct_ratio") * 0.3
            + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.2
            + (1.0 - F.least(F.col("punct_ratio") * 10.0, F.lit(1.0))) * 0.2
        )
    )
    # round(8) is beyond the score's true decimal precision (products
    # of 6dp ratios with 1dp weights) -> no decimal-halfway cases where
    # Spark's BigDecimal rounding and DuckDB's scaled-round diverge
    return feat.withColumn("quality_score", F.round(score, 8))


# ordered rule registry: name -> (doc threshold description). Order is
# the reasons-string order, so it is part of the output contract.
GOPHER_RULES: tuple[str, ...] = (
    "word_count",
    "mean_word_len",
    "stopwords",
    "symbol_ratio",
    "digit_ratio",
    "repetition",
)


def gopher_rules(df: DataFrame) -> DataFrame:
    """Rule-based corpus filter in the style of the Gopher / C4 quality
    heuristics: per-document pass/fail per rule, a composite ``passes``
    flag, and a ``reasons`` string naming every failed rule (the
    audit-trail shape a filtering pipeline materializes next to the
    kept corpus).

    Rules (fixture-scaled thresholds, same shapes as the published
    heuristics): word count in [5, 5000]; mean word length in [2, 12];
    >= 2 stopwords; punctuation <= 30% of chars; digits <= 20% of
    chars; distinct-word ratio >= 30%.

    Determinism: every threshold is an INTEGER cross-multiplication
    (``n_punct * 10 <= n_chars * 3``, never ``punct_ratio <= 0.3``) —
    rule membership is exact integer arithmetic on both engines, so no
    document can flip sides on a float rounding ulp (the failure class
    CLAUDE.md's ratio-quantization rule exists for). Pure codegen
    column expressions; scan-speed, no shuffle."""
    text = F.col("text")
    words = F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")
    cc = char_classes(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # internal feature columns are __gr_-prefixed (the operator takes an
    # arbitrary frame — documents already carries its own n_chars);
    # n_words is part of the output contract and stays unprefixed
    base = df.select(
        "*",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("__gr_distinct"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w)))).alias(
            "__gr_stop"
        ),
        cc["n_chars"].alias("__gr_chars"),
        cc["n_punct"].alias("__gr_punct"),
        cc["n_digit"].alias("__gr_digit"),
        (cc["n_chars"] - cc["n_space"]).alias("__gr_nonspace"),
    )
    conds = {
        "word_count": (F.col("n_words") >= 5) & (F.col("n_words") <= 5000),
        "mean_word_len": (F.col("__gr_nonspace") >= F.col("n_words") * 2)
        & (F.col("__gr_nonspace") <= F.col("n_words") * 12),
        "stopwords": F.col("__gr_stop") >= 2,
        "symbol_ratio": F.col("__gr_punct") * 10 <= F.col("__gr_chars") * 3,
        "digit_ratio": F.col("__gr_digit") * 5 <= F.col("__gr_chars"),
        "repetition": F.col("__gr_distinct") * 10 >= F.col("n_words") * 3,
    }
    assert tuple(conds) == GOPHER_RULES
    out = base
    for name in GOPHER_RULES:
        out = out.withColumn(f"ok_{name}", conds[name])
    failed = F.array(
        *[F.when(~F.col(f"ok_{n}"), F.lit(n)) for n in GOPHER_RULES]
    )
    passes = F.lit(True)
    for n in GOPHER_RULES:
        passes = passes & F.col(f"ok_{n}")
    return (
        out.withColumn(
            "reasons", F.array_join(F.filter(failed, lambda x: x.isNotNull()), ",")
        )
        .withColumn("passes", passes)
        .drop(*[c for c in base.columns if c.startswith("__gr_")])
    )


def lang_id(df: DataFrame) -> DataFrame:
    """Heuristic language ID: per-language stopword-hit score, argmax
    with lexicographic tie-break. Deterministic and oracle-replicable;
    swap the profiles for character-n-gram frequencies on real data."""
    words = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != "")
    out = df
    for lang, profile in sorted(LANG_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in profile])
        out = out.withColumn(
            f"score_{lang}", F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
        )
    scores = F.array(
        *[
            F.struct((-F.col(f"score_{lang}")).alias("neg_s"), F.lit(lang).alias("l"))
            for lang in sorted(LANG_PROFILES)
        ]
    )
    # argmax score, ties broken to the alphabetically-first language
    best = F.array_sort(scores)[0]
    winner = F.when(best["neg_s"] < 0, best["l"]).otherwise(F.lit("unknown"))
    return out.withColumn("detected_lang", winner)


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: exact content hash over normalized text +
    a 60-bit rolling-window fingerprint (min hash of strided character
    8-grams — winnowing-style, robust to small edits; the stride cuts
    hash count 4x with the same dedup power on >=32-char docs)."""
    # materialize the normalized text first — inlining it into the gram
    # lambda would re-run the regexp_replace once per gram (no CSE
    # inside HOF lambdas)
    with_norm = df.withColumn(
        "__norm", F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    )
    norm = F.col("__norm")
    # one fused transform (hash straight off the substring) — a second
    # transform over a materialized gram array would double the
    # interpreted-lambda traversals
    min_gram_hash = F.array_min(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - 7, F.lit(1)), F.lit(4)),
            lambda i: portable_hash(norm.substr(i, F.lit(8))),
        )
    )
    return (
        with_norm.select(
            "*",
            F.md5(norm).alias("content_hash"),
            min_gram_hash.alias("winnow_fp"),
        )
        .drop("__norm")
    )


def tfidf(docs: DataFrame) -> DataFrame:
    """Sparse TF-IDF over whitespace unigrams: one row per (doc, term).

    tf = term count / doc token count; idf = ln((N+1)/(df+1)) + 1
    (smoothed, sklearn-style); ``tfidf_r`` is the 6dp-rounded product —
    round BEFORE any ranking so engine float tails can't flip ties.

    Scale shape: groupBy (doc, term) shuffles ~corpus token count
    (inherent to TF), the document-frequency groupBy shuffles the
    distinct (doc, term) pairs with map-side partials absorbing hot
    stopword terms, and the corpus size joins in as a broadcast scalar —
    no driver-side count, no whole-table window."""
    from pyspark.sql.window import Window as W

    terms = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    # persist the (doc, term) counts: they feed the per-doc length
    # window, the document-frequency aggregate, AND the final join —
    # uncached, the raw-text explode would run three times
    tc = track_cache(terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n_t")))
    tc = tc.withColumn("n_doc", F.sum("n_t").over(W.partitionBy("doc_id")))
    dfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tc.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            "n_t",
            "df",
            F.round(
                (F.col("n_t") / F.col("n_doc"))
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf_r"),
        )
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition metrics per document — the quality
    filters that catch boilerplate and degenerate (looping) text:
    duplicate-word fraction, top-word fraction, mean word length.

    One explode keyed by doc, two cascaded aggregations with map-side
    combine — the same shuffle key every per-doc text operator uses.
    All ratios integer-quantized to 6 decimals (floor) so the values
    are engine-portable (CLAUDE.md rounding rules)."""
    words = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    wc = words.groupBy("doc", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("doc")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("max_count"),
            F.sum(F.length("w") * F.col("c")).alias("__sum_len"),
        )
        .select(
            "doc",
            "n_words",
            "n_distinct",
            (F.expr("(n_words - n_distinct) * 1000000 div n_words") / 1e6).alias(
                "dup_word_frac"
            ),
            (F.expr("max_count * 1000000 div n_words") / 1e6).alias("top_word_frac"),
            (F.expr("__sum_len * 1000000 div n_words") / 1e6).alias("mean_word_len"),
        )
    )


def word_profile(docs: DataFrame) -> DataFrame:
    """Fused word-level profile: n_words, n_distinct, n_stop and one
    stopword-hit score per language, via ONE explode + two cascaded
    map-side-combinable aggregations.

    This is the scale path for the `quality_features` + `lang_id`
    column API: their array HOF lambdas (`F.filter` +
    `F.array_contains`) are interpreted per element and per language,
    while here membership tests compile to InSet inside whole-stage
    codegen and each word is touched once. No countDistinct either —
    the (doc, word) pre-aggregation makes distinct a plain count, so
    no Expand row replication (see x04's lesson). Measured ~3× faster
    than the lambda path on sf0.1 documents."""
    words = docs.select(
        F.col("doc_id"),
        F.explode(
            F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "")
        ).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    lw = F.lower(F.col("w"))
    aggs = [
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(lw.isin(*STOPWORDS), F.col("c")).otherwise(0)).alias("n_stop"),
    ]
    for lang, profile in sorted(LANG_PROFILES.items()):
        aggs.append(
            F.sum(F.when(lw.isin(*profile), F.col("c")).otherwise(0)).alias(
                f"score_{lang}"
            )
        )
    return wc.groupBy("doc_id").agg(*aggs)


def bpe_learn(
    docs: DataFrame,
    *,
    rounds: int = 5,
    min_word_len: int = 2,
) -> DataFrame:
    """Bounded BPE tokenizer induction (Sennrich et al. 2016), the
    multi-round extension of the single-round ``xa0`` candidate count:
    learn ``rounds`` merges over the corpus-weighted VOCABULARY and
    return one row per executed merge — ``(round, left_sym, right_sym,
    merged, n_occurrences, symbols_after)``.

    Counting and application semantics follow Sennrich's released
    ``learn_bpe``: pair counts are per adjacent POSITION (overlaps
    included — "aaa" counts (a,a) twice), and application is greedy
    LEFT-TO-RIGHT NON-OVERLAPPING (``aaaa`` + merge (a,a) -> ``aa aa``,
    not three overlapping merges). The count-TIE break is a
    deterministic in-repo convention — lexicographically SMALLEST
    (left, right) — not the Sennrich reference's (their
    ``max(stats, key=...)`` picks the lexicographically greatest pair
    on ties); it is mirrored exactly by the oracle chain and the
    in-repo python replica, which is what the tests pin. Fewer than ``rounds`` rows come back
    when the vocabulary runs out of adjacent pairs first (the bounded-
    cap posture of ``kcore_onion``: a total function both engines
    compute identically on any input).

    The greedy merge is WINDOW-ONLY — no HOF fold, no per-round join:
    candidate positions form islands (consecutive candidates exist only
    when left == right, i.e. runs of one symbol), and greedy keeps the
    odd-indexed candidates of each island; a row is dropped iff its
    predecessor was a kept merge start; positions re-densify with one
    row_number. Everything runs on the exploded (word, pos, symbol)
    vocabulary — O(distinct words x word length), corpus-size-free
    after the one word-count scan, which is what makes tokenizer
    induction feasible at 100 TB (the corpus is touched once; the
    iteration state is vocabulary-bounded).

    Per round the argmax pair is COLLECTED (one row) and re-emitted as
    literals, and the state is localCheckpoint-truncated — the measured
    iterative-loop pattern (an in-plan broadcast of the argmax re-plans
    a broadcast subtree per round and benched 2-4x slower on the same
    shape; see the kmeans counter-lesson in CLAUDE.md)."""
    spark = docs.sparkSession
    schema = (
        "round int, left_sym string, right_sym string, merged string, "
        "n_occurrences long, symbols_after long"
    )
    merges, _state = _bpe_iterate(
        docs, "text", rounds=rounds, min_word_len=min_word_len
    )
    return spark.createDataFrame(merges, schema)


def bpe_segment(
    docs: DataFrame,
    *,
    rounds: int = 5,
    min_word_len: int = 1,
) -> DataFrame:
    """Segment the corpus with the merges ``bpe_learn`` would learn on
    it (the consumer side of tokenizer induction): per document,
    whitespace word count, character mass, and the BPE token count
    under the learned subword vocabulary, plus the integer-quantized
    tokens-per-char ratio — the budget metric an LLM-corpus pipeline
    actually allocates by (``doc_stats``' n_bpe_ish approximates this
    with a fixed regex; this is the real learned segmentation).

    Learning defaults to ``min_word_len=1`` here: length-1 words carry
    no adjacent pairs, so the LEARNED MERGES are identical to the
    length>=2 vocabulary's (pair counts see only words with >= 2
    symbols) while the final state covers every word — each word's
    token count is then just its symbol-row count in the converged
    state, joined back to the exploded corpus stream. One extra
    corpus-stream aggregation beyond the vocabulary-bounded learn loop;
    empty-text documents report zeros."""
    _merges, state = _bpe_iterate(
        docs, "text", rounds=rounds, min_word_len=min_word_len,
        need_sizes=False,
    )
    wt = state.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    words = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.length("w") >= min_word_len)
    per = (
        words.join(wt, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            (
                F.expr(
                    "cast(coalesce(n_bpe_tokens, 0) * 1000000 div greatest(coalesce(n_chars, 0), 1) as bigint)"
                )
                / 1e6
            ).alias("tokens_per_char"),
        )
    )


def bpe_encode(
    docs: DataFrame,
    merges: "list[tuple[str, str]]",
) -> DataFrame:
    """Encode text under a FROZEN, priority-ranked BPE merge table —
    the production tokenizer path: ``bpe_learn`` induces the table
    once, then every inference/data pipeline applies it to text the
    learner never saw. Per document: whitespace word count, BPE token
    count under the frozen table, how many of those tokens are MERGED
    subwords (length >= 2 — proof the table actually fired on unseen
    text), and the integer-quantized tokens-per-word ratio.

    The classic apply algorithm (Sennrich's ``apply_bpe``/HF BPE) loops
    "merge all occurrences of the LOWEST-RANK pair present, repeat".
    Applying the table ONCE PER RANK IN RANK ORDER is exactly
    equivalent **for a formation-ordered table** (any BPE-learned
    table): a merge can only create new adjacencies THROUGH its merged
    symbol, and every table pair containing that symbol was necessarily
    learned later — so a pass can never resurrect an earlier rank.
    That equivalence is what makes the frozen path collect-free: k
    bounded :func:`_merge_pass` window passes with LITERAL pairs, all
    partitioned by ``w`` — ONE exchange for the whole chain, no
    driver action, no checkpoint (contrast ``bpe_learn``, whose
    per-round argmax forces a collect). The property is pinned against
    a min-rank-loop python replica in tests/test_pipeline_ops.py.

    Scale shape: encoding runs on the DISTINCT-word vocabulary
    (bounded by vocab x word length, corpus-size-free), then one
    vocab-sized (broadcastable) token-count join back to the corpus
    stream and one per-doc rollup — the bpe_segment shape. An EMPTY
    merge table is legal and means character-level tokenization (zero
    merges), keeping the operator a total function like the oracle
    chain — a corpus whose training split carries no adjacent pairs
    degrades to char tokens on both engines."""
    state = _bpe_char_state(docs, "text", 1)
    for a, b in merges:
        state = _merge_pass(state, a, b)
    wt = state.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum(F.when(F.length("sym") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_merged"),
    )
    words = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), r"\s+")).alias("w")
    ).filter(F.length("w") >= 1)
    per = (
        words.join(wt, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_bpe_tokens"),
            F.sum("n_merged").cast("long").alias("n_merged_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.coalesce("n_merged_tokens", F.lit(0)).alias("n_merged_tokens"),
            (
                F.expr(
                    "cast(coalesce(n_bpe_tokens, 0) * 1000000 div greatest(coalesce(n_words, 0), 1) as bigint)"
                )
                / 1e6
            ).alias("tokens_per_word"),
        )
    )


def _bpe_char_state(docs: DataFrame, text_col: str, min_word_len: int) -> DataFrame:
    """The BPE starting state: the corpus-weighted vocabulary of words
    of at least ``min_word_len`` characters, exploded to one
    ``(w, cnt, pos, sym)`` row per character."""
    vocab = (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("w"))
        .filter(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return vocab.select(
        "w",
        "cnt",
        F.posexplode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("pos", "sym"),
    )


def _bpe_iterate(
    docs: DataFrame,
    text_col: str,
    *,
    rounds: int,
    min_word_len: int,
    need_sizes: bool = True,
    need_state: bool = True,
) -> "tuple[list[tuple], DataFrame]":
    """The shared BPE loop: returns (merges, final state) — merges as
    (round, left, right, merged, n_occurrences, symbols_after) tuples,
    state as the converged (w, cnt, pos, sym) frame (checkpointed).

    ``need_sizes=False`` skips size bookkeeping entirely
    (symbols_after comes back ``None``) and ``need_state=False``
    additionally skips the LAST round's merge pass + checkpoint — the
    frozen-table encode/fertility consumers read only the merge PAIRS,
    so the r14 bench was paying 5 count jobs + 1 checkpoint action per
    query for fields nobody consumed (guide §1.2: don't compute what
    you throw away). With ``need_sizes=True`` the sizes are FUSED into
    the next round's argmax collect (round r's aggregation scans state
    r-1 anyway, so one single-row agg returns both the best pair and
    the row count = round r-1's symbols_after); only the final round
    pays a dedicated ``state.count()``."""
    from pyspark.sql.window import Window as W

    if min_word_len < 1:
        raise ValueError(f"min_word_len must be >= 1, got {min_word_len}")
    state = _bpe_char_state(docs, text_col, min_word_len).localCheckpoint(eager=True)
    wo = W.partitionBy("w").orderBy("pos")
    merges: list[tuple] = []
    max_rounds = max(0, int(rounds))
    for r in range(1, max_rounds + 1):
        pr = state.withColumn("nxt", F.lead("sym").over(wo))
        if need_sizes:
            # Fused argmax + state-size collect: round r's aggregation
            # already scans state r-1, so the SAME single-row collect
            # returns both the best pair (min over (-n, sym, nxt)
            # structs == ORDER BY n DESC, sym, nxt LIMIT 1 — struct
            # comparison is positional) and the state row count, which
            # is round r-1's ``symbols_after``. That deletes the
            # per-round ``state.count()`` driver action (one count per
            # merge at the old shape); only the LAST round still needs
            # its own count after the loop. The null-nxt rows (word-
            # final symbols) are kept so sum(__c) counts EVERY state
            # row; min() skips their null struct.
            g = pr.groupBy("sym", "nxt").agg(
                F.sum("cnt").cast("long").alias("__n"),
                F.count(F.lit(1)).alias("__c"),
            )
            row = g.agg(
                F.sum("__c").cast("long").alias("__size"),
                F.min(
                    F.when(
                        F.col("nxt").isNotNull(),
                        F.struct(
                            (-F.col("__n")).alias("negn"),
                            F.col("sym").alias("a"),
                            F.col("nxt").alias("b"),
                            F.col("__n").alias("n"),
                        ),
                    )
                ).alias("__best"),
            ).collect()[0]
            if merges and merges[-1][5] is None:
                merges[-1] = merges[-1][:5] + (int(row["__size"]),)
            bst = row["__best"]
            if bst is None:
                break
            a, b, n = bst["a"], bst["b"], bst["n"]
        else:
            best = (
                pr.filter(F.col("nxt").isNotNull())
                .groupBy("sym", "nxt")
                .agg(F.sum("cnt").cast("long").alias("n"))
                .orderBy(F.col("n").desc(), "sym", "nxt")
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b, n = best[0].sym, best[0].nxt, best[0].n
        if need_state or need_sizes or r < max_rounds:
            state = _merge_pass(state, a, b).localCheckpoint(eager=True)
        merges.append((r, a, b, a + b, int(n), None))
    if need_sizes and merges and merges[-1][5] is None:
        merges[-1] = merges[-1][:5] + (int(state.count()),)
    return merges, state


def _merge_pass(state: DataFrame, a: str, b: str) -> DataFrame:
    """One greedy left-to-right non-overlapping merge of the LITERAL
    pair (a, b) over an exploded ``(w, cnt, pos, sym)`` state — the
    xd7 island kernel: candidate positions form islands (consecutive
    candidates only arise for a == b symbol runs), greedy keeps the
    odd-indexed candidate of each island, a row is dropped iff its
    predecessor was a kept merge start, and positions re-densify with
    one row_number. Pure window composition over the ``w`` partition
    key — no action, no checkpoint; chaining k passes (frozen-table
    encoding) stays a single exchange."""
    from pyspark.sql.window import Window as W

    wo = W.partitionBy("w").orderBy("pos")
    wcum = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    pr = state.withColumn("nxt", F.lead("sym").over(wo))
    is_cand = F.coalesce(
        (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b)), F.lit(False)
    )
    stepped = pr.select(
        "w",
        "cnt",
        "pos",
        "sym",
        is_cand.alias("is_cand"),
        # island breaker: running count of non-candidates
        F.sum(F.when(~is_cand, 1).otherwise(0)).over(wcum).alias("nc"),
    )
    ranked = stepped.select(
        "w",
        "cnt",
        "pos",
        "sym",
        # candidate index within its island (consecutive-candidate
        # runs only arise when a == b)
        (
            F.col("is_cand")
            & (
                F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
                .over(
                    W.partitionBy("w", "nc")
                    .orderBy("pos")
                    .rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                % 2
                == 1
            )
        ).alias("keep"),
    )
    flagged = ranked.select(
        "w", "cnt", "pos", "sym", "keep", F.lag("keep").over(wo).alias("drp")
    )
    return flagged.filter(~F.coalesce(F.col("drp"), F.lit(False))).select(
        "w",
        "cnt",
        (F.row_number().over(wo) - 1).alias("pos"),
        F.when(F.col("keep"), F.lit(a + b)).otherwise(F.col("sym")).alias("sym"),
    )
