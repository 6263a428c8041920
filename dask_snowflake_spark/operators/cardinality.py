"""Portable integer HyperLogLog — the CARDINALITY axis of the
mergeable-sketch family (membership = Bloom in ``decontam``,
frequency = count-min ``xfp``, quantile = HDR ``hdr_quantile_sketch``).

Flajolet et al. 2007 (HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm); small-range linear-counting
correction per the original paper / Heule et al. 2013 practice.

Reference parity note: the reference connector (core.py) delegates
COUNT(DISTINCT)/APPROX_COUNT_DISTINCT to the warehouse; this module is
the engine-side equivalent that stays mergeable across shards — the
property a 100 TB corpus needs (per-shard constant-size registers,
lossless bucket-wise MAX merge, no re-scan to combine).

Engine-exact by construction (every value BIGINT end-to-end):

- ONE portable md5 per key (the cms/bloom digest idiom): bucket = hex
  chars [1,2] (8 bits, m = 256), rank field = hex chars [3,14]
  (48 bits); rank = 49 - bit_length(v) via ``length(bin(v))`` — the
  pure-integer msb idiom both engines print identically (r13 rule:
  never floor(log2())).
- Registers are ``max(rank)`` per bucket: associative, commutative,
  idempotent — two shards merge by ``groupBy(bucket).agg(max)``; the
  law is pinned by unit test (merge of shard sketches == direct build,
  self-merge == identity).
- Estimator is PURE INTEGER: S = sum over all m buckets of
  2^(49 - M_j) (empty bucket M_j = 0 contributes 2^49; S <= 2^57),
  and est = floor(alpha_256 * 2^65 / S) computed as
  ``q*16 + (rem*16) div S`` with q = ALPHA div S, rem = ALPHA % S,
  ALPHA = round(alpha_256 * 2^61) (literal, formula-pinned). Every
  intermediate < 2^62; the two-step division is EXACT floor of
  alpha * 2^65 / S — no doubles anywhere, so both engines emit the
  identical BIGINT and the estimate hash-matches (unlike x04's
  approx_count_distinct, which is engine-private).
- Small-range correction: when est_raw <= 5/2 * m and empty buckets
  exist, linear counting m * ln(m / V) via a 256-entry literal integer
  table (the transcendental-free literal-table idiom — sprt ln steps,
  sigmoid, erfc, now ln for linear counting). The large-range
  correction of the 32-bit original is unnecessary: with a 48-bit rank
  field it would engage only beyond ~2^48/30 ~ 9.4e12 distinct keys.
- Parameter-fingerprint guard (the bloom ``word_idx = -1`` idiom,
  adapted to a MAX merge law): bucket -1 carries fp, bucket -2 carries
  -fp. Same-parameter shards merge to (fp, -fp) unchanged; shards with
  DIFFERENT fingerprints merge to (max(fp_a, fp_b), -min(fp_a, fp_b)),
  whose sum is nonzero — ``hll_estimate`` validates fp == expected AND
  fp + neg_fp == 0 in a CONSUMED expression (raise_error in the
  otherwise branch, never a prunable side column), so a mismatched
  merge fails loudly instead of silently mixing registers.

Duplicate keys need no pre-distinct: identical keys produce identical
(bucket, rank) cells, and max() is idempotent — the sketch of a
multiset equals the sketch of its support, so builds skip the distinct
shuffle entirely (map-side-combinable max all the way down).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, functions as F

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 buckets
HLL_RANK_BITS = 48
HLL_MAX_RANK = HLL_RANK_BITS + 1  # 49: all-zero rank field
HLL_META_BUCKET = -1  # fingerprint row
HLL_META_NEG_BUCKET = -2  # negated fingerprint row (MAX-merge mismatch trap)

# alpha_256 = 0.7213 / (1 + 1.079 / m) (Flajolet et al. 2007, m >= 128),
# scaled to 2^61 so est = floor(alpha * m^2 * 2^49 / S) is two exact
# integer divisions (m^2 * 2^49 = 2^65 = 16 * 2^61). Formula-pinned.
HLL_ALPHA_NUM = round(0.7213 / (1 + 1.079 / HLL_M) * (1 << 61))

# Linear-counting threshold: 5/2 * m (paper's small-range cutoff).
HLL_LC_THRESHOLD = 5 * HLL_M // 2

# An EMPTY bucket has M_j = 0, contributing 2^(49-0) = 2^49 to S:
_POW_ZERO_REG = 1 << HLL_MAX_RANK  # 2^49


def hll_lc_table() -> list[int]:
    """256-entry linear-counting table: entry V (1-indexed) is
    round(m * ln(m / V)) for V empty buckets — V = 256 maps to 0.
    Python round() is fine HERE (and only here): the table is a
    build-time literal; both engines consume the identical integers,
    so banker's-vs-half-up cannot cause cross-engine drift."""
    return [round(HLL_M * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]


def hll_fingerprint(seed: str) -> int:
    """60-bit parameter fingerprint (the bloom idiom): any change to
    p / rank width / seed produces a different register layout, so the
    fingerprint binds all three."""
    digest = hashlib.md5(
        f"hllfp:{HLL_P}:{HLL_RANK_BITS}:{seed}".encode()
    ).hexdigest()
    return int(digest[:15], 16)


def hll_build(
    keys: DataFrame,
    *,
    key_col: str = "key",
    seed: str = "hll",
    shard_col: str | None = None,
) -> DataFrame:
    """Build HLL register sketches: ``(shard?, bucket, reg)`` with
    <= m + 2 rows per shard (data registers plus the two fingerprint
    rows). NULL keys are skipped (a NULL contributes no evidence of any
    element — the count-distinct convention both engines share)."""
    cols = ([shard_col] if shard_col else []) + [key_col]
    base = keys.select(*cols).where(F.col(key_col).isNotNull())
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    shard_sel = [F.col(shard_col).alias("__shard")] if shard_col else []
    cells = (
        base.select(*shard_sel, h.alias("__h"))
        .select(
            *(["__shard"] if shard_col else []),
            F.expr("cast(conv(substring(__h, 1, 2), 16, 10) as bigint)").alias(
                "bucket"
            ),
            F.expr("cast(conv(substring(__h, 3, 12), 16, 10) as bigint)").alias(
                "__v"
            ),
        )
        .select(
            *(["__shard"] if shard_col else []),
            "bucket",
            F.expr(
                "CASE WHEN __v = 0 THEN CAST(49 AS BIGINT)"
                " ELSE CAST(49 - length(bin(__v)) AS BIGINT) END"
            ).alias("reg"),
        )
    )
    group = (["__shard"] if shard_col else []) + ["bucket"]
    regs = cells.groupBy(*group).agg(F.max("reg").cast("long").alias("reg"))
    fp = hll_fingerprint(seed)
    if shard_col:
        shards = base.select(F.col(shard_col).alias("__shard")).distinct()
        meta = shards.crossJoin(
            keys.sparkSession.createDataFrame(
                [(HLL_META_BUCKET, fp), (HLL_META_NEG_BUCKET, -fp)],
                "bucket long, reg long",
            )
        )
        out = regs.unionByName(meta)
        return out.select(
            F.col("__shard").alias(shard_col), "bucket", "reg"
        )
    meta = keys.sparkSession.createDataFrame(
        [(HLL_META_BUCKET, fp), (HLL_META_NEG_BUCKET, -fp)],
        "bucket long, reg long",
    )
    return regs.unionByName(meta)


def hll_merge(sketch: DataFrame) -> DataFrame:
    """Merge sketches by bucket-wise MAX — the family's one
    associative-idempotent merge law; all shards collapse into one
    sketch. Fingerprint rows ride the law: identical parameters merge
    to themselves, mismatched parameters corrupt the (-1, -2) pair into
    a nonzero sum that ``hll_estimate`` traps loudly."""
    return sketch.groupBy("bucket").agg(F.max("reg").cast("long").alias("reg"))


def hll_estimate(
    sketch: DataFrame,
    *,
    seed: str = "hll",
    by: list[str] | None = None,
) -> DataFrame:
    """Estimate cardinality per ``by`` group (or one row): columns
    ``(by..., est, v_empty, branch)``. The fingerprint guard sits in
    the CONSUMED est expression — Catalyst cannot prune it — and
    raises on missing/mismatched parameter rows (including the
    max(fp_a, fp_b) / -min(fp_a, fp_b) residue of a mismatched
    merge)."""
    expected_fp = hll_fingerprint(seed)
    group = by or []
    agg = sketch.groupBy(*group).agg(
        F.expr(
            "CAST(sum(CASE WHEN bucket >= 0 THEN"
            " shiftleft(CAST(1 AS BIGINT), CAST(49 - reg AS INT))"
            " ELSE CAST(0 AS BIGINT) END) AS BIGINT)"
        ).alias("__sum_pow"),
        F.expr(
            "CAST(sum(CASE WHEN bucket >= 0 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("__cnt"),
        F.expr(f"max(CASE WHEN bucket = {HLL_META_BUCKET} THEN reg END)").alias(
            "__fp"
        ),
        F.expr(
            f"max(CASE WHEN bucket = {HLL_META_NEG_BUCKET} THEN reg END)"
        ).alias("__nfp"),
    )
    s_expr = (
        f"__sum_pow + ({HLL_M} - __cnt) * CAST({_POW_ZERO_REG} AS BIGINT)"
    )
    raw = (
        f"(CAST({HLL_ALPHA_NUM} AS BIGINT) div __s) * 16"
        f" + ((CAST({HLL_ALPHA_NUM} AS BIGINT) % __s) * 16) div __s"
    )
    lc = hll_lc_table()
    guard = F.when(
        (F.col("__fp") == F.lit(expected_fp))
        & ((F.col("__fp") + F.col("__nfp")) == F.lit(0)),
        F.lit(0),
    ).otherwise(
        F.raise_error(
            F.lit(
                "hll_estimate: fingerprint rows missing or mismatched — this "
                f"sketch was not built by hll_build(seed={seed!r}, p={HLL_P}, "
                f"rank_bits={HLL_RANK_BITS}), or shards with different "
                "parameters were max-merged (the -1/-2 rows no longer cancel); "
                "rebuild all shards with one parameter set before merging, "
                "otherwise registers from different layouts mix silently"
            )
        )
    ).cast("long")
    est_branch = (
        agg.withColumn("__s", F.expr(s_expr))
        .withColumn("__raw", F.expr(raw))
        .withColumn("v_empty", F.expr(f"{HLL_M} - __cnt"))
        .withColumn(
            "branch",
            F.expr(
                f"CASE WHEN v_empty > 0 AND __raw <= {HLL_LC_THRESHOLD}"
                " THEN 'linear' ELSE 'hll' END"
            ),
        )
        .withColumn("__lc", F.lit(lc))
        .withColumn(
            "est",
            (
                F.when(
                    F.col("branch") == "linear",
                    F.expr("element_at(__lc, CAST(greatest(v_empty, 1) AS INT))"),
                ).otherwise(F.col("__raw"))
                + guard
            ).cast("long"),
        )
    )
    return est_branch.select(*group, "est", "v_empty", "branch")
