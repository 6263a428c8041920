"""Benchmark decontamination: n-gram overlap against an eval set.

Training corpora must be screened for test-set contamination before
training — the standard detector is word-n-gram overlap between each
training document and the union of benchmark documents (GPT-3 used
13-grams, PaLM 8-grams; the n is a knob). This operator computes, per
training document, how many of its distinct n-grams appear anywhere in
the eval set.

Scale shape: the eval side collapses to DISTINCT n-grams (benchmarks
are tiny — thousands of docs — so the distinct-shingle set broadcasts);
the training side is the existing ``dedup.shingles`` long format (one
shuffle keyed by doc, shared with every other per-doc text operator).
The overlap join is a broadcast hash join: the 100 TB corpus never
shuffles for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles


def ngram_overlap(
    train: DataFrame,
    evalset: DataFrame,
    *,
    n: int = 8,
) -> DataFrame:
    """Per-training-doc contamination stats vs the eval set's n-grams.

    Returns (doc, n_shingles, n_overlap, overlap_frac) — one row per
    training document that has at least one shingle. ``overlap_frac``
    is integer-quantized to 6 decimals (floor), engine-portable.

    Both counts come from ONE doc-keyed aggregation over the
    broadcast-marked shingle stream (a left join against the eval set
    with a hit marker; ``count(marker)`` counts non-nulls) — the
    two-aggregation + doc-join formulation paid a second full shuffle
    of the corpus shingles for the same numbers.

    Contract note: ``dedup.shingles`` emits one PARTIAL shingle for a
    document shorter than ``n`` words, so a 2-word training doc whose
    prefix appears in the eval set reports ``overlap_frac = 1.0`` from
    that single partial match. That is the shared shingling definition
    (the oracle replicates it identically); callers screening corpora
    with ultra-short documents should length-filter first if they want
    strictly-n-gram evidence.
    """
    tr = shingles(train, "text", "doc_id", n)
    ev = shingles(evalset, "text", "doc_id", n).select("shingle").distinct()
    return (
        tr.join(F.broadcast(ev.withColumn("__hit", F.lit(1))), "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
        .select(
            "doc",
            "n_shingles",
            "n_overlap",
            (F.expr("n_overlap * 1000000 div n_shingles") / 1e6).alias(
                "overlap_frac"
            ),
        )
    )


# Bloom membership index constants: words of 62 usable bits (bits 0..61
# — the sign bit and bit 62 stay clear so every stored word is a plain
# positive BIGINT on both engines), K=4 hash functions as independent
# 6-hex-char slices of ONE md5 per key (the xfp_cms_sketch_probe idiom —
# hashing is the corpus-linear cost, one digest beats four).
BLOOM_BITS_PER_WORD = 62
BLOOM_K = 4

# Metadata row marker: bloom_build emits one (word_idx = -1, bits =
# fingerprint(n_words, seed)) row so bloom_probe can verify the probe
# parameters match the build parameters — a mismatched n_words or seed
# shifts every position and silently reads as all-clear bits (false
# negatives) otherwise. The fingerprint is a 60-bit positive constant
# (sign + bits 60..62 clear), so the metadata row obeys the same
# plain-positive-BIGINT contract as data words, and it survives the
# merge law: bit_or of two IDENTICAL fingerprints is the fingerprint,
# while merging indexes built with different parameters ORs two
# different fingerprints into a value matching neither — the probe
# then fails loudly instead of returning silent false negatives.
BLOOM_META_WORD_IDX = -1


def _bloom_fingerprint(n_words: int, seed: str) -> int:
    """Deterministic 60-bit parameter fingerprint for the metadata row."""
    import hashlib

    digest = hashlib.md5(
        f"bloommeta:{n_words}:{seed}:{BLOOM_K}:{BLOOM_BITS_PER_WORD}".encode()
    ).hexdigest()
    return int(digest[:15], 16)


def bloom_build(
    keys: DataFrame,
    *,
    key_col: str = "key",
    n_words: int = 256,
    seed: str = "bl",
) -> DataFrame:
    """Build a MERGEABLE Bloom membership index over distinct keys:
    ``(word_idx, bits)`` rows where ``bits`` is the bit_or of
    ``shiftleft(1, bit)`` for every (key, hash) landing in that word.

    Two indexes over different shards merge by ``groupBy(word_idx).
    agg(bit_or(bits))`` — the property that makes a Bloom the
    decontamination membership structure at 100 TB: the eval-set
    n-gram index above broadcasts fine at benchmark sizes, but a
    corpus-side seen-before index (incremental dedup, URL dedup,
    cross-shard membership) needs constant size per shard and
    lossless merge, which counts (cms) and bit arrays (this) give.
    One map-side-combinable aggregation, <= n_words + 1 output rows
    (the extra row is the ``word_idx = -1`` parameter-fingerprint
    metadata row that ``bloom_probe`` validates against — see
    ``BLOOM_META_WORD_IDX``; it rides the merge law unchanged for
    same-parameter shards)."""
    m_bits = n_words * BLOOM_BITS_PER_WORD
    rows_ = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("r")
    pos = F.expr(
        f"cast(conv(substring(__h, r * 6 + 1, 6), 16, 10) as bigint) % {m_bits}"
    )
    cells = (
        keys.select(F.col(key_col).alias("__k"))
        .distinct()
        .select(F.md5(F.concat(F.lit(f"{seed}:"), F.col("__k"))).alias("__h"))
        .select("__h", rows_)
        .select(pos.alias("__pos"))
        .select(
            F.expr(f"__pos div {BLOOM_BITS_PER_WORD}").alias("word_idx"),
            F.expr(f"__pos % {BLOOM_BITS_PER_WORD}").alias("bit"),
        )
    )
    data_words = cells.groupBy("word_idx").agg(
        F.expr("bit_or(shiftleft(1L, cast(bit as int)))").cast("long").alias("bits")
    )
    meta_row = (
        keys.sparkSession.range(1)
        .select(
            F.lit(BLOOM_META_WORD_IDX).cast("long").alias("word_idx"),
            F.lit(_bloom_fingerprint(n_words, seed)).cast("long").alias("bits"),
        )
    )
    return data_words.unionByName(meta_row)


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    *,
    key_col: str = "key",
    n_words: int = 256,
    seed: str = "bl",
) -> DataFrame:
    """Probe keys against a ``bloom_build`` index: per probe key,
    ``n_bits_set`` (0..K) and ``bloom_says`` (all K bits set — the
    maybe-present verdict; any clear bit proves absence). A missing
    word_idx row counts as all-zero bits (left join + coalesce).

    The index's ``word_idx = -1`` metadata row is validated against
    this call's ``(n_words, seed)`` fingerprint in-plan (consumed
    expression, so Catalyst cannot prune it): a mismatch — different
    build parameters, a hand-built frame, or a merge of
    differently-parameterized shards — raises loudly instead of
    shifting every position and returning silent false negatives."""
    m_bits = n_words * BLOOM_BITS_PER_WORD
    expected_fp = _bloom_fingerprint(n_words, seed)
    meta = bloom.filter(F.col("word_idx") == BLOOM_META_WORD_IDX).agg(
        F.count(F.lit(1)).cast("long").alias("__meta_n"),
        F.max("bits").cast("long").alias("__meta_bits"),
    )
    param_guard = (
        F.when(
            (F.col("__meta_n") == 1)
            & (F.col("__meta_bits") == F.lit(expected_fp)),
            F.lit(0),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "bloom_probe: index metadata row missing or mismatched — "
                    f"this index was not built by bloom_build(n_words={n_words}, "
                    f"seed={seed!r}) (or shards with different parameters were "
                    "merged); rebuild the index or probe with the build's own "
                    "n_words/seed, otherwise every position shifts and the "
                    "probe returns silent false negatives"
                )
            )
        )
        .cast("long")
    )
    rows_ = F.explode(F.array(*[F.lit(i) for i in range(BLOOM_K)])).alias("r")
    pos = F.expr(
        f"cast(conv(substring(__h, r * 6 + 1, 6), 16, 10) as bigint) % {m_bits}"
    )
    cells = (
        probes.select(F.col(key_col).alias("probe_key"))
        .distinct()
        .select(
            "probe_key",
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("probe_key"))).alias("__h"),
        )
        .select("probe_key", "__h", rows_)
        .select("probe_key", pos.alias("__pos"))
        .select(
            "probe_key",
            F.expr(f"__pos div {BLOOM_BITS_PER_WORD}").alias("word_idx"),
            F.expr(f"__pos % {BLOOM_BITS_PER_WORD}").alias("bit"),
        )
    )
    hit = F.expr("(coalesce(bits, 0L) & shiftleft(1L, cast(bit as int))) != 0")
    return (
        cells.join(F.broadcast(bloom), "word_idx", "left")
        .select("probe_key", hit.cast("int").alias("__hit"))
        .groupBy("probe_key")
        .agg(F.sum("__hit").cast("long").alias("__nb"))
        .join(F.broadcast(meta), how="cross")
        .select(
            "probe_key",
            (F.col("__nb") + param_guard).cast("long").alias("n_bits_set"),
            ((F.col("__nb") + param_guard) == BLOOM_K).alias("bloom_says"),
        )
    )
