"""Deduplication operators for large-scale text corpora.

Five families (BASELINE.json north star; no reference code — the
reference reaches data-prep capability only through its delegated SQL
string, /root/reference/dask_snowflake/core.py:143):

- exact:        hash-groupBy on the full text (``dropDuplicates``)
- MinHash+LSH:  shingle -> k minhashes -> band -> bucket-join -> verify
- n-gram Jaccard: exact all-pairs via shared-shingle equi-join
- SimHash:      per-doc 60-bit similarity fingerprint + banded hamming pairs
- embedding near-dup: see operators/similarity.py

Scale design (100 TB): everything is expressed as explode -> groupBy ->
equi-join pipelines, so Spark shuffles on shingle/band keys and never
materializes a cross product. The LSH band join touches only docs that
collide in >=1 band (O(near-dup pairs)), unlike the exact Jaccard join
whose shared-shingle blow-up is why MinHash is the scale path. All
hashing is md5-based and engine-portable, so the DuckDB oracle can
replicate signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import track_cache


def portable_hash(col: Column, seed: int | Column = 0) -> Column:
    """Deterministic 60-bit hash identical across Spark and DuckDB:
    first 15 hex chars of md5(seed || ':' || value) as int64."""
    seed_col = F.lit(seed) if isinstance(seed, int) else seed
    return (
        F.conv(
            F.substring(F.md5(F.concat(seed_col.cast("string"), F.lit(":"), col)), 1, 15),
            16,
            10,
        )
        .cast("long")
    )


def exact_dedup(df: DataFrame, cols: list[str] | None = None, key: str | None = None) -> DataFrame:
    """Exact dedup. With ``key`` given, keeps the row with the smallest
    key per duplicate group (deterministic — plain ``dropDuplicates``
    keeps an arbitrary row, which can't be oracle-checked). ``key``
    must be UNIQUE within each group (a row id): rows tying at the
    minimum are all kept — min-filtering cannot pick one of several
    identical keys, and any single-keeper choice among them would be
    nondeterministic, which is the problem this variant exists to
    avoid."""
    if key is None:
        return df.dropDuplicates(cols)
    group_cols = cols or [c for c in df.columns if c != key]
    w_min = F.min(key).over(W.partitionBy(*group_cols))
    return df.withColumn("__min_key", w_min).filter(F.col(key) == F.col("__min_key")).drop("__min_key")


def shingle_array(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Word n-gram shingles per document as an array column (map-side
    only, no shuffle). May contain duplicate shingles; min-hashing is
    insensitive to them.

    The word split is materialized as a column FIRST: expressions
    captured inside higher-order-function lambdas are re-evaluated per
    array element (no common-subexpression elimination inside lambdas),
    so inlining the split would re-split the text ~3x per shingle."""
    words = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), r"\s+").alias("words")
    )
    w = F.col("words")
    idx = F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0)))
    # try_element_at: out-of-range -> NULL (short docs), which concat_ws
    # skips — matching the DuckDB oracle's NULL-skipping concat_ws
    arr = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.try_element_at(w, i + j + 1) for j in range(n)])
    )
    return words.select("doc", arr.alias("shingles"))


def _word_windows(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, list[Column]]:
    """Every word position's ``n``-word window: ``(doc, pos, s)`` rows
    plus the ``n`` window-word Columns over ``s`` (a window running past
    the doc's end has NULL tail words).

    Built by zipping the word array against its own n-1 shifted slices
    (``arrays_zip`` of ``slice``s — all codegen'd, no interpreted HOF
    lambdas) and posexploding the zipped structs: window assembly is
    entirely MAP-SIDE. The kernel of ``shingles``, ``hashed_shingles``
    and ``span_stream``; each caller picks its windows and projection."""
    w = F.split(F.col(text_col), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc"),
        w.alias("w0"),
        *[
            F.slice(w, j + 1, F.greatest(F.size(w) - j, F.lit(0))).alias(f"w{j}")
            for j in range(1, n)
        ],
    )
    zipped = base.select(
        "doc",
        F.posexplode(F.arrays_zip(*[F.col(f"w{j}") for j in range(n)])).alias("pos", "s"),
    )
    return zipped, [F.col("s").getField(f"w{j}") for j in range(n)]


def shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, long format.

    Built on the map-side ``_word_windows`` kernel, so the only shuffle
    in the operator is the final per-doc distinct — one fewer exchange
    than the previous lead()-window formulation, which mattered more
    than its local ~20%: a window shuffle's sort is the part that grows
    with corpus scale. Short docs (< n words) yield one partial shingle
    (concat_ws skips the NULL tail), matching the array variant and the
    SQL oracle."""
    zipped, cols = _word_windows(df, text_col, id_col, n)
    # keep full n-grams (last slice element non-null) plus the single
    # partial shingle of a short doc (pos 0) — identical index set to
    # the sequence(0, greatest(size-n, 0)) array formulation
    return (
        zipped.filter(cols[-1].isNotNull() | (F.col("pos") == 0))
        .select("doc", F.concat_ws(" ", *cols).alias("shingle"))
        .dropDuplicates(["doc", "shingle"])
    )


def hashed_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document as 60-bit hashes
    (``portable_hash``, seed 0) of the ``shingles`` strings: the text ->
    hash projection is map-side, so the per-doc distinct and every
    downstream join/shuffle carries 8-byte longs instead of raw shingle
    strings — ~5x fewer shuffle bytes at corpus scale. Jaccard over
    hashes equals Jaccard over shingles up to md5 collisions, and the
    oracle hashes with the IDENTICAL md5 expression, so the value
    compare stays exact even in a collision. The low 32 bits are the
    MinHash base hash (``minhash_signatures``), so no second md5 pass
    is needed.
    """
    zipped, cols = _word_windows(df, text_col, id_col, n)
    return (
        zipped.filter(cols[-1].isNotNull() | (F.col("pos") == 0))
        .select("doc", portable_hash(F.concat_ws(" ", *cols)).alias("shingle"))
        .dropDuplicates(["doc", "shingle"])
    )


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine-hash coefficients (a odd, b) per seed,
    derived from md5 so Spark and the SQL oracle share them as plain
    literals."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        # 31-bit coefficients: a*h32 + b < 2^63 (no int64 overflow under
        # ANSI arithmetic in either engine)
        out.append(((int(d[:8], 16) & 0x7FFFFFFF) | 1, int(d[8:16], 16) & 0x7FFFFFFF))
    return out


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Wide-format MinHash signatures: (doc, sig array<long>) from
    ``hashed_shingles`` rows (doc, shingle long).

    Classic one-base-hash formulation: the shingle hash's low 32 bits
    are the base hash, then k affine transforms
    h_i = (a_i * h32 + b_i) mod p — k plain codegen expressions, no
    nested higher-order functions (those are interpreted row-at-a-time
    and were ~15x slower). The groupBy runs map-side partial min
    aggregation, so the shuffle carries ~one row per (doc, partition)."""
    params = minhash_params(num_hashes)
    rows = sh.withColumn("h32", F.col("shingle").bitwiseAND(F.lit(0xFFFFFFFF)))
    mins = [
        F.min((F.col("h32") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    agg = rows.groupBy("doc").agg(*mins)
    return agg.select("doc", F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"))


def lsh_bands(sig: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Explode signatures into band keys: (doc, band, band_sig).

    band_sig concatenates the band's minhashes in seed order — docs
    agreeing on a whole band become join candidates. Map-side explode of
    k/rows_per_band rows per doc. ``rows_per_band`` must divide the
    signature length: a remainder would silently drop the trailing
    minhashes from every band (recall quietly differing from the
    (k, b, r) S-curve the caller tuned), so the band-count expression
    itself raises on a remainder (the guard lives INSIDE the consumed
    expression — a dropped guard column would be pruned by Catalyst and
    never evaluate)."""
    n_bands = F.when(
        F.size(F.col("sig")) % rows_per_band == 0,
        F.size(F.col("sig")) / rows_per_band,
    ).otherwise(
        F.raise_error(
            F.lit(
                f"lsh_bands: rows_per_band={rows_per_band} must divide the "
                "signature length; a remainder would silently drop trailing "
                "minhashes from the banding"
            )
        )
    )
    bands = F.transform(
        F.sequence(F.lit(0), (n_bands - 1).cast("int")),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda m: m.cast("string"),
                ),
            ).alias("band_sig"),
        ),
    )
    return sig.select("doc", F.explode(bands).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
    )


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Self-join on (band, band_sig): docs sharing any band. Shuffle key
    is the band signature, so only colliding docs meet."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )


def _jaccard_ratio() -> Column:
    """Jaccard of a pair from its ``n_common``, ``n_a`` and ``n_b``
    columns, rounded to 6 places."""
    return F.round(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
    ).alias("jaccard")


def _jaccard_from_intersections(sh: DataFrame, inter: DataFrame) -> DataFrame:
    """Attach set sizes to (doc_a, doc_b, n_common) intersection counts
    and compute Jaccard."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        inter.join(
            sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_shingles", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_shingles", "n_b"),
            "doc_b",
        )
        .select("doc_a", "doc_b", _jaccard_ratio())
    )


def _pair_overlap(pairs: DataFrame, sets_: DataFrame) -> DataFrame:
    """``(doc_a, doc_b, n_common, n_a, n_b)`` for ``(doc_a, doc_b)``
    pairs against per-doc ``(doc, s, n)`` shingle arrays and set sizes:
    join each pair with the two docs' arrays (two doc-keyed joins, no
    per-candidate explosion) and count the intersection with
    ``array_intersect``. Per-pair state is the two docs' shingle arrays
    — the bound a single document already imposes. The verify step of
    ``pair_intersections`` and ``jaccard_prefix_pairs``."""
    return (
        pairs.join(
            sets_.select(
                F.col("doc").alias("doc_a"), F.col("s").alias("s_a"), F.col("n").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sets_.select(
                F.col("doc").alias("doc_b"), F.col("s").alias("s_b"), F.col("n").alias("n_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("s_a", "s_b")).alias("n_common"),
            "n_a",
            "n_b",
        )
    )


def pair_intersections(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact intersection counts for candidate pairs over per-doc
    shingle sets: ``(doc_a, doc_b, n_common, n_a, n_b)``.

    CONTRACT: ``sh`` must be DISTINCT per (doc, shingle) — every
    in-tree producer (``shingles``/``hashed_shingles``) guarantees it.
    A duplicate-bearing stream would inflate ``n_a``/``n_b`` (the
    ``count(1)`` set size) while ``array_intersect`` still dedups
    ``n_common``, silently deflating downstream Jaccards.

    Verify-by-array (``_pair_overlap``): collect each doc's (distinct)
    shingles once and intersect the two arrays per pair. The earlier
    shape (explode the pair's doc_a shingles, equi-join on (doc_b,
    shingle), re-aggregate, join sizes twice) shuffled |A| rows per
    candidate; the array verify benched 15 -> 13 jobs / 3.5 -> 2.6 s
    warm inside the LSH path at sf0.1, identical rows. Contract
    preserved from the join formulation: pairs with an EMPTY
    intersection are dropped, not emitted at 0 (x89 counts the
    returned candidates).
    """
    # persist: the collected-arrays aggregate is consumed at TWO
    # different join keys (doc_a, doc_b) — ReuseExchange can't dedupe
    # differently-keyed consumers (r9), so uncached it runs the
    # collect_list shuffle twice per verify; measured 1.8 -> 1.3 s
    # warm (+1 job) inside the LSH path at sf0.1, across all verify
    # consumers.
    sets_ = track_cache(
        sh.groupBy("doc").agg(
            F.collect_list("shingle").alias("s"), F.count(F.lit(1)).alias("n")
        )
    )
    # a caller's extra pair columns (e.g. an n_a it computed itself)
    # would ambiguous-reference against the size joins
    return _pair_overlap(pairs.select("doc_a", "doc_b"), sets_).filter(
        F.col("n_common") > 0
    )


def jaccard(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard over shingle sets for the given candidate pairs
    (array-verify semantics and cost — see ``pair_intersections``)."""
    return pair_intersections(sh, pairs).select("doc_a", "doc_b", _jaccard_ratio())


def minhash_near_dup(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.85,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    The scale path: cost ~ O(docs * shingles * k) map-side + shuffles on
    (doc,seed), band_sig, and shingle for the verify step restricted to
    candidates — all shingle traffic as 60-bit hashes, never raw
    strings. Returns (doc_a, doc_b, jaccard >= threshold)."""
    # cached: the shingle set feeds the signature path AND the verify
    # path — without it Spark re-parses every document per subtree
    sh = track_cache(hashed_shingles(docs, "text", "doc_id", shingle_n))
    sig = minhash_signatures(sh, num_hashes)
    # the band self-join reads both sides; caching the (tiny, one row
    # per doc x bands) band keys stops the k-min signature aggregation
    # from running twice
    bands = track_cache(lsh_bands(sig, rows_per_band))
    cand = lsh_candidate_pairs(bands)
    return jaccard(sh, cand).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    threshold: float = 0.85,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via shared-shingle
    equi-join (no LSH). Quadratic in docs sharing a shingle — the
    correctness baseline MinHash is verified against; prefer
    ``minhash_near_dup`` beyond ~10^6 docs."""
    sh = track_cache(hashed_shingles(docs, "text", "doc_id", shingle_n))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    # intersection counts straight off the shared-shingle join — no
    # separate pair-dedup pass + re-join (one shuffle instead of three)
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_intersections(sh, inter).filter(F.col("jaccard") >= threshold)


def jaccard_prefix_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    threshold: tuple[int, int] = (4, 5),
) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold via prefix filtering (the
    PPJoin family's candidate generation) — same answer set as the
    all-pairs ``ngram_jaccard_pairs`` but scale-correct: candidates
    come from joining only each document's RAREST tokens.

    Prefix-filtering principle: under any global total order on
    tokens, if ``|A∩B| >= α`` then the ``(|A|-α+1)``-prefix of A and
    the ``(|B|-α+1)``-prefix of B share a token (if the prefixes were
    disjoint, WLOG every common token sitting in A's prefix would have
    to sit past B's prefix max — but it is smaller than A's prefix max
    <= B's, contradiction; so A∩B fits inside A's (α-1)-suffix).
    Jaccard >= t implies α = ceil(t·|X|) per set, so each document
    only exposes its first ``n - ceil(t·n) + 1`` tokens, ordered by
    ascending document frequency (rarest first, ties by token hash):
    frequent boilerplate shingles never generate candidates, which is
    exactly the blow-up that makes the naive shared-shingle join
    quadratic. A pair must also satisfy the length filter
    ``t·max(|A|,|B|) <= min(|A|,|B|)`` or its Jaccard can't reach t.
    Survivors are verified with the exact intersection count and the
    threshold applied as an integer cross-multiplication (no float
    membership flips).

    ``threshold`` is an exact rational (numerator, denominator) — the
    default (4, 5) is 0.8. Cost: one df-count aggregation + one window
    over docs + an equi-join on rare prefix tokens; O(candidates),
    never O(n²) and never proportional to boilerplate collisions.

    Verification (``_pair_overlap``) joins each candidate pair with the
    two docs' SHINGLE ARRAYS (already collected for prefix selection)
    and computes the intersection per pair with ``array_intersect`` —
    two doc-keyed joins, zero explosion. The earlier shape (explode doc_a's shingles
    per candidate, equi-join on (doc_b, shingle), re-aggregate, then
    two more joins for sizes) shuffled |A| rows per candidate and
    benched 16 jobs / 3.5 s warm at sf0.1 vs 13 / 2.1 s for this one
    (interleaved A/B, identical 256 rows). Per-pair state is the two
    docs' arrays — the same O(doc shingles) bound collect_list already
    imposes. The cached point is ``per_doc`` (three consumers: the
    prefix self-join and both array sides); the uncached twin was
    measured too — 8 jobs but 3.0 s warm (the groupBy subtree
    re-evaluates per consumer) — wall is the goal, jobs the proxy.
    """
    tn, td = threshold
    if not (0 < tn <= td):
        raise ValueError(f"threshold must be a rational in (0, 1], got {tn}/{td}")
    sh = hashed_shingles(docs, "text", "doc_id", shingle_n)
    # document frequency as a window over the shingle key (reuses the
    # one exchange; no df-table join), then per-doc prefix selection as
    # an in-memory array sort+slice (state O(doc shingles) — a bound
    # the doc itself already satisfies) instead of a global window sort
    # of the whole (doc, shingle) table
    with_df = sh.select(
        "doc", "shingle", F.count(F.lit(1)).over(W.partitionBy("shingle")).alias("df")
    )
    per_doc = track_cache(
        with_df.groupBy("doc").agg(
            F.sort_array(F.collect_list(F.struct("df", "shingle"))).alias("toks")
        )
    )
    # prefix length n - ceil(t*n) + 1, computed in exact integer math
    n = F.size("toks")
    alpha = F.floor((n * tn + (td - 1)) / td).cast("int")
    prefix = per_doc.select(
        "doc",
        n.alias("n"),
        F.explode(F.slice("toks", F.lit(1), n - alpha + 1)).alias("t"),
    ).select("doc", "n", F.col("t.shingle").alias("shingle"))
    a = prefix.select(F.col("doc").alias("doc_a"), "shingle", F.col("n").alias("n_a"))
    b = prefix.select(F.col("doc").alias("doc_b"), "shingle", F.col("n").alias("n_b"))
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: t * max <= min, exact cross-multiplication
            & (F.greatest("n_a", "n_b") * tn <= F.least("n_a", "n_b") * td)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verify on candidates only: per-pair array intersection,
    # threshold as integer cross-mult (no float membership flips)
    sets_ = per_doc.select(
        "doc",
        F.expr("transform(toks, x -> x.shingle)").alias("s"),
        F.size("toks").alias("n"),
    )
    return (
        _pair_overlap(cand, sets_)
        .filter(
            F.col("n_common") * td >= (F.col("n_a") + F.col("n_b") - F.col("n_common")) * tn
        )
        .select("doc_a", "doc_b", _jaccard_ratio())
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 60,
) -> DataFrame:
    """Per-document SimHash fingerprint over word unigrams.

    bit_j(simhash) = majority vote of bit_j(h(word)) across the doc's
    distinct words (2*ones_j > n_words). Packed vote: the per-bit one-
    counts are ``bits`` sum aggregates in ONE hash aggregation — no
    words x bits row explosion, a single shuffle whose map-side partials
    carry just ``bits`` counters per doc, and the fingerprint assembles
    from the counts in a single projection. Equivalent to (and hash-
    checked against) the per-bit majority formulation."""
    words = (
        docs.select(
            F.col(id_col).alias("doc"),
            # \s+ split, like every other text operator here AND the
            # x18 oracle's regexp_split_to_array(text, '\s+') — the
            # old single-space split treated 'a\tb' as ONE token where
            # the oracle saw two (green only on single-spaced fixtures)
            F.explode(F.split(F.col(text_col), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
        .dropDuplicates(["doc", "w"])
        .withColumn("h", portable_hash(F.col("w")))
    )
    ones = [
        F.sum(F.expr(f"shiftright(h, {j}) & 1")).alias(f"o{j}") for j in range(bits)
    ]
    per_doc = words.groupBy("doc").agg(F.count(F.lit(1)).alias("n"), *ones)
    fingerprint = " + ".join(
        f"IF(2 * o{j} > n, shiftleft(cast(1 as bigint), {j}), cast(0 as bigint))"
        for j in range(bits)
    )
    return per_doc.select(F.col("doc").alias("doc_id"), F.expr(fingerprint).alias("simhash"))


def simhash_near_dup(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= ``max_hamming``.

    Banded candidate generation (pigeonhole): the 60-bit
    fingerprint splits into ``max_hamming + 1`` equal bands, and any
    pair within the hamming budget must agree EXACTLY on at least one
    band — so candidates come from an equi-join on (band_index,
    band_value), O(colliding pairs), never an all-pairs cross product.
    Survives corpus scale the same way the MinHash LSH path does; the
    final bit_count(xor) verify touches only candidates.
    """
    # persist the fingerprints (one small row per doc): the band
    # self-join references them on BOTH sides and Spark recomputes
    # shared subtrees — without this the word-explode + 60-counter
    # aggregation runs twice
    fp = track_cache(simhash(docs, "text", "doc_id", bits=60))
    return banded_hamming_pairs(
        fp, "simhash", "doc_id", bits=60, max_hamming=max_hamming
    )


def banded_hamming_pairs(
    fp: DataFrame,
    fp_col: str,
    id_col: str,
    *,
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits of each other over any packed
    fingerprint column (SimHash, perceptual aHash, SRP sketches).

    Banded candidate generation (pigeonhole): the ``bits``-bit
    fingerprint splits into ``max_hamming + 1`` equal bands, and any
    pair within the hamming budget must agree EXACTLY on at least one
    band — so candidates come from an equi-join on (band_index,
    band_value), O(colliding pairs), never an all-pairs cross product;
    the final bit_count(xor) verify touches only candidates. Returns
    (doc_a, doc_b, hamming)."""
    n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError(f"bits={bits} must divide into {n_bands} equal bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    band_vals = F.array(
        *[
            F.expr(f"shiftright(`{fp_col}`, {b * band_bits}) & {mask}")
            for b in range(n_bands)
        ]
    )
    bands = fp.select(
        F.col(id_col), F.col(fp_col), F.posexplode(band_vals).alias("band", "val")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"a.{fp_col}").alias("sa"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col(f"b.{fp_col}").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def span_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    span_words: int = 8,
) -> DataFrame:
    """``(doc, pos, span_h)`` for every FULL ``span_words``-word window
    of every document: 0-based word position plus the 60-bit portable
    hash of the window text. Assembly is entirely MAP-SIDE (the
    ``_word_windows`` kernel of ``shingles``); docs
    shorter than ``span_words`` words yield no rows. The shared span
    source for ``dup_span_stats`` (occurrence stats) and
    ``dup_span_runs`` (maximal duplicated regions)."""
    zipped, cols = _word_windows(df, text_col, id_col, span_words)
    # full windows only — no partial tail (a short doc has no spans)
    return zipped.filter(cols[-1].isNotNull()).select(
        "doc", "pos", portable_hash(F.concat_ws(" ", *cols)).alias("span_h")
    )


def dup_span_runs(
    df: DataFrame,
    *,
    span_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal corpus-duplicated REGIONS per document — the
    variable-length substring dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", the ExactSubstr
    cut-list), re-expressed Spark-first: instead of a suffix array, a
    word position is COVERED when the ``span_words``-gram starting at
    it occurs in >= ``min_docs`` distinct documents, and the union of
    the covered windows collapses to maximal intervals by
    gaps-and-islands (a new region starts where the gap between
    consecutive covered starts exceeds ``span_words`` — overlapping and
    touching windows merge, so regions never double-count a word).

    Returns one row per region: ``(doc, region_start, region_end,
    region_words)`` with 1-based INCLUSIVE word indexes — the spans a
    training-data pipeline would cut. ``dup_span_stats`` answers "how
    much of this doc is duplicated 8-grams" at occurrence granularity;
    this yields the actual variable-length regions (a 100-word copied
    paragraph is ONE region here, 93 counted occurrences there).

    Scale shape: the span stream is map-side; the duplicated-span set
    is one groupBy(span_h) + semi-join back (both shuffle 60-bit longs,
    never text); the islands pass is one doc-partitioned window over
    COVERED positions only (<= the doc's own length) and the region
    rollup reuses that partitioning exchange-free. O(total tokens),
    never all-pairs, no iteration — region merging is a single window,
    not a fixpoint loop."""
    spans = track_cache(span_stream(df, "text", "doc_id", span_words=span_words))
    dup = (
        spans.groupBy("span_h")
        .agg(F.countDistinct("doc").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("span_h")
    )
    dpos = spans.join(dup, "span_h").select("doc", "pos")
    wd = W.partitionBy("doc").orderBy("pos")
    marked = dpos.select(
        "doc",
        "pos",
        # first covered start of a doc: lag is NULL -> comparison NULL
        # -> otherwise(0) on both engines (island 0)
        F.when(F.col("pos") - F.lag("pos").over(wd) > span_words, 1)
        .otherwise(0)
        .alias("brk"),
    )
    grouped = marked.select(
        "doc",
        "pos",
        F.sum("brk")
        .over(wd.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("g"),
    )
    return (
        grouped.groupBy("doc", "g")
        .agg(F.min("pos").alias("__s0"), F.max("pos").alias("__e0"))
        .select(
            "doc",
            (F.col("__s0") + 1).cast("long").alias("region_start"),
            (F.col("__e0") + span_words).cast("long").alias("region_end"),
            (F.col("__e0") - F.col("__s0") + span_words).cast("long").alias("region_words"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    *,
    span_words: int = 8,
    dup_num: int = 3,
    dup_den: int = 10,
) -> DataFrame:
    """Exact duplicated-SPAN detection (the substring-level dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every ``span_words``-word window of every document is
    hashed; a span is corpus-duplicated when it occurs in >= 2 distinct
    documents; each document gets occurrence-level stats plus a
    ``flagged`` bit when more than ``dup_num/dup_den`` of its spans are
    duplicated (integer cross-multiplication — no float in the filter).

    Doc-level MinHash misses this case: a unique article quoting a
    widely-copied paragraph has low doc Jaccard but high span overlap.

    Scale shape: span assembly is map-side (``span_stream``, on the
    ``_word_windows`` kernel of ``hashed_shingles``); spans travel as 60-bit
    longs; the duplicated-span set comes from one groupBy(span_hash)
    with a distinct-doc count, and rejoining it to the span stream is an
    equi-join on the hash. Cost ~ O(total tokens), never all-pairs.
    Docs shorter than ``span_words`` words contribute zero spans and
    report n_spans = 0, flagged = false.
    """
    spans = track_cache(
        span_stream(df, "text", "doc_id", span_words=span_words).select("doc", "span_h")
    )
    dup = (
        spans.groupBy("span_h")
        .agg(F.countDistinct("doc").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("span_h", F.lit(True).alias("__dup"))
    )
    per_doc = (
        spans.join(dup, "span_h", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("__dup").alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col("doc_id").alias("doc"))
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (
                F.expr(
                    "coalesce(n_dup_spans, 0) * 1000000 div greatest(coalesce(n_spans, 0), 1)"
                )
                / 1e6
            ).alias("dup_frac"),
            (
                (F.coalesce("n_dup_spans", F.lit(0)) * dup_den
                 >= F.coalesce("n_spans", F.lit(0)) * dup_num)
                & (F.coalesce("n_spans", F.lit(0)) > 0)
            ).alias("flagged"),
        )
    )


def incremental_near_dup(
    docs: DataFrame,
    incoming_filter: Column,
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: near-dup matches of an INCOMING batch against
    the EXISTING corpus only (the nightly-ingest pattern — an index of
    band signatures is kept for the corpus and each new batch joins
    against it; never re-pairing corpus-vs-corpus).

    ``incoming_filter`` is a boolean Column over ``docs`` marking the
    incoming rows; the rest is the corpus. Candidates come from an
    equi-join of incoming band keys against corpus band keys (cost ~
    O(batch x collisions), independent of corpus size beyond the index
    probe), then exact-Jaccard verification on candidates only.
    Returns (doc_id, dup_of, n_matches, best_jaccard): one row per
    incoming doc that duplicates corpus content, with the smallest
    matching corpus id as the canonical target.
    """
    sh = track_cache(hashed_shingles(docs, "text", "doc_id", 3))
    sig = minhash_signatures(sh, 16)
    bands = track_cache(lsh_bands(sig, 2))
    mem = docs.select(F.col("doc_id").alias("doc"), incoming_filter.alias("__inc"))
    b_inc = bands.join(mem.filter(F.col("__inc")), "doc").select("doc", "band", "band_sig")
    b_cor = bands.join(mem.filter(~F.col("__inc")), "doc").select("doc", "band", "band_sig")
    cand = (
        b_inc.alias("a")
        .join(
            b_cor.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates()
    )
    verified = jaccard(sh, cand).filter(F.col("jaccard") >= threshold)
    return (
        verified.groupBy("doc_a")
        .agg(
            F.min("doc_b").alias("dup_of"),
            F.count(F.lit(1)).alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .select(
            F.col("doc_a").alias("doc_id"), "dup_of", "n_matches", "best_jaccard"
        )
    )
