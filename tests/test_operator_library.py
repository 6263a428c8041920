"""Coverage for library operators that no registry query drives
directly: SRP-LSH near-dup, salted broadcast join, exact_dedup, and
the shingle-array baseline variant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_snowflake_spark.operators.dedup import (
    exact_dedup,
    hashed_shingles,
    portable_hash,
    shingle_array,
    shingles,
    span_stream,
)
from dask_snowflake_spark.operators.similarity import (
    embedding_near_dup_pairs,
    srp_lsh_near_dup,
)
from dask_snowflake_spark.operators.skew import salted_broadcast_join
from dask_snowflake_spark.queries import _t


def test_srp_lsh_matches_exact_near_dup(spark, sf_oracle):
    """Every pair the bucketed SRP path returns must be a true
    >=threshold pair, and at cosine ~1 it should find what the exact
    all-pairs scan finds (identical sign bits w.h.p.)."""
    emb = _t(spark, sf_oracle)["embeddings"]
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.999).collect()
    }
    srp = {(r.id_a, r.id_b) for r in srp_lsh_near_dup(emb, threshold=0.999).collect()}
    assert srp <= exact
    if exact:
        assert len(srp) / len(exact) >= 0.9, (len(srp), len(exact))


def test_salted_broadcast_join_matches_plain_join(spark, sf_oracle):
    t = _t(spark, sf_oracle)
    big = t["orders"].select("o_custkey", "o_totalprice")
    small = t["customer"].select("c_custkey", "c_name").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    for how in ("inner", "left"):
        plain = big.join(small, "o_custkey", how)
        salted = salted_broadcast_join(big, small, on="o_custkey", how=how, num_salts=8)
        assert plain.count() == salted.count(), how
    with pytest.raises(ValueError, match="inner.*left"):
        salted_broadcast_join(big, small, on="o_custkey", how="right")


def test_exact_dedup_keeps_min_key(spark, sf_oracle):
    docs = _t(spark, sf_oracle)["documents"].select("doc_id", "text")
    kept = exact_dedup(docs, cols=["text"], key="doc_id")
    expect = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    assert kept.count() == expect.count()
    assert {r.doc_id for r in kept.collect()} == {r.doc_id for r in expect.collect()}


def test_shingle_array_agrees_with_fast_shingles(spark, sf_oracle):
    """The HOF-array baseline and the word-window fast path must produce
    the same (doc, shingle) set; the hashed shingles must be the hashes
    of those shingles, and on docs of at least n words the span stream's
    full-window hashes must be the same set."""
    n = 3
    docs = _t(spark, sf_oracle)["documents"].filter(F.col("doc_id") < 60)
    sh = shingles(docs, "text", "doc_id", n=n)
    fast = {(r.doc, r.shingle) for r in sh.collect()}
    arr = shingle_array(docs, "text", "doc_id", n=n)
    slow = {
        (r.doc, s)
        for r in arr.select("doc", F.explode(F.array_distinct("shingles")).alias("s")).collect()
        for s in [r.s]
    }
    assert fast == slow

    hashed = {(r.doc, r.shingle) for r in hashed_shingles(docs, "text", "doc_id", n=n).collect()}
    rehashed = sh.select("doc", portable_hash(F.col("shingle")).alias("h")).collect()
    assert hashed == {(r.doc, r.h) for r in rehashed}

    long_docs = {
        r.doc_id
        for r in docs.filter(F.size(F.split("text", r"\s+")) >= n).select("doc_id").collect()
    }
    assert long_docs
    spans = span_stream(docs, "text", "doc_id", span_words=n).collect()
    assert {r.doc for r in spans} == long_docs
    assert {(r.doc, r.span_h) for r in spans} == {p for p in hashed if p[0] in long_docs}


# --- operators/analytics.py ------------------------------------------------


def test_constraint_audit_counts_and_ratio(spark):
    from dask_snowflake_spark.operators.analytics import constraint_audit

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (-3, "b"), (4, "c")], "x int, s string"
    )
    rows = constraint_audit(
        df, {"x_positive": F.col("x") > 0, "s_not_null": F.col("s").isNotNull()}
    ).collect()
    assert [r.rule for r in rows] == ["s_not_null", "x_positive"]
    by = {r.rule: r for r in rows}
    assert by["x_positive"].n_rows == 4
    assert by["x_positive"].n_violations == 1
    assert by["x_positive"].pass_ratio == 0.75
    assert by["s_not_null"].n_violations == 1


def test_constraint_audit_rejects_empty_rules(spark):
    from dask_snowflake_spark.operators.analytics import constraint_audit

    with pytest.raises(ValueError):
        constraint_audit(spark.range(3), {})


def test_transition_matrix_counts_and_probs(spark):
    from dask_snowflake_spark.operators.analytics import transition_matrix

    # user 1: a -> b -> a ; user 2: a -> b -> b
    # from a: ->b x2 (prob 1.0); from b: ->a x1, ->b x1 (prob 0.5 each)
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (2, 1, "a"), (2, 2, "b"), (2, 3, "b")],
        "uid int, seq int, state string",
    )
    rows = transition_matrix(df, "uid", ["seq"], "state").collect()
    by = {(r.from_state, r.to_state): r for r in rows}
    assert by[("a", "b")].n_transitions == 2
    assert by[("a", "b")].prob == 1.0
    assert by[("b", "a")].n_transitions == 1
    assert by[("b", "a")].prob == 0.5
    assert by[("b", "b")].prob == 0.5


def test_interval_occupancy_sweep(spark):
    from dask_snowflake_spark.operators.analytics import interval_occupancy
    import datetime as dt

    d = dt.date
    df = spark.createDataFrame(
        [
            (d(2024, 1, 1), d(2024, 1, 3)),  # live 1..3
            (d(2024, 1, 2), d(2024, 1, 2)),  # live 2 only
        ],
        "s date, e date",
    )
    rows = interval_occupancy(df, "s", "e").collect()
    curve = {r.day.isoformat(): r.occupancy for r in rows}
    assert curve["2024-01-01"] == 1
    assert curve["2024-01-02"] == 2
    assert curve["2024-01-03"] == 1
    assert curve["2024-01-04"] == 0
    # exclusive-end variant: the single-day interval contributes nothing
    rows2 = interval_occupancy(df, "s", "e", end_inclusive=False).collect()
    curve2 = {r.day.isoformat(): r.occupancy for r in rows2}
    assert curve2["2024-01-02"] == 1
    # inverted interval (end < start): close clamps up to start, the
    # +1/-1 pair nets to zero on the start day — never negative over
    # the gap (end+1 < start used to put the -1 before the +1)
    inv = spark.createDataFrame(
        [(d(2024, 1, 10), d(2024, 1, 2)), (d(2024, 1, 12), d(2024, 1, 12))],
        "s date, e date",
    )
    rows3 = interval_occupancy(inv, "s", "e").collect()
    assert all(r.occupancy >= 0 for r in rows3)
    curve3 = {r.day.isoformat(): r.occupancy for r in rows3}
    assert curve3["2024-01-10"] == 0
    assert curve3["2024-01-12"] == 1


def test_last_touch_attribution_rows(spark):
    from dask_snowflake_spark.operators.analytics import last_touch_attribution
    import datetime as dt

    ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [
            (1, 1, ts(1), "view"),
            (1, 2, ts(2), "buy"),       # credited to view
            (1, 3, ts(3), "buy"),       # still view (no newer touch)
            (2, 1, ts(1), "buy"),       # no preceding touch -> none
            (3, 1, ts(1), "click"),
            (3, 2, ts(50), "buy"),      # outside 10s lookback -> none
        ],
        "uid int, eid int, ts timestamp, state string",
    )
    rows = last_touch_attribution(
        df, "uid", ["ts", "eid"], "ts", "state",
        touch_states=["view", "click"], conversion_state="buy",
        lookback_micros=10_000_000,
    ).collect()
    by = {(r.uid, r.eid): r.channel for r in rows}
    assert by[(1, 2)] == "view"
    assert by[(1, 3)] == "view"
    assert by[(2, 1)] == "none"
    assert by[(3, 2)] == "none"
    assert len(rows) == 4  # only conversions survive


def test_basket_affinity_lift(spark):
    from dask_snowflake_spark.operators.analytics import basket_affinity

    # baskets: {a,b}, {a,b}, {a,c}, {b} -> pair (a,b) support 2 of 4
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "b"), (3, "a"), (3, "c"), (4, "b")],
        "bk int, it string",
    )
    rows = basket_affinity(df, "bk", "it", min_support=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b, r.n_ab, r.n_a, r.n_b) == ("a", "b", 2, 3, 3)
    # lift = 2*4/(3*3) = 0.888888.. -> floor at 6dp
    assert r.lift == 0.888888


def test_constraint_audit_rule_names_are_not_sql(spark):
    """Rule names ride as literal columns, never interpolated SQL text:
    quotes/backslashes in a name must neither break the plan nor inject
    into it (the old stack() f-string did both)."""
    from dask_snowflake_spark.operators.analytics import constraint_audit

    df = spark.createDataFrame([(1,), (0,)], "k int")
    rows = constraint_audit(
        df, {"supplier's key, \\ backslash": F.col("k") > 0}
    ).collect()
    assert rows[0].rule == "supplier's key, \\ backslash"
    assert rows[0].n_violations == 1


def test_constraint_audit_empty_input_is_vacuous_pass(spark):
    """0 rows: n_violations must be 0 (not NULL) and pass_ratio 1.0 —
    NULLs would make a `n_violations == 0` gate silently falsy, and the
    quantized ratio would divide by zero under ANSI."""
    from dask_snowflake_spark.operators.analytics import constraint_audit

    df = spark.createDataFrame([], "k int")
    rows = constraint_audit(df, {"r1": F.col("k") > 0}).collect()
    assert [(r.n_rows, r.n_violations, r.pass_ratio) for r in rows] == [(0, 0, 1.0)]


def test_interval_occupancy_casts_timestamps_to_days(spark):
    """TIMESTAMP inputs collapse to a pure DATE axis — intra-day opens
    must not sit beside midnight-coerced closes on a mixed axis."""
    from dask_snowflake_spark.operators.analytics import interval_occupancy
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 10, 0), dt.datetime(2024, 1, 2, 9, 0))],
        "s timestamp, e timestamp",
    )
    rows = interval_occupancy(df, "s", "e").collect()
    curve = {r.day.isoformat(): r.occupancy for r in rows}
    assert curve == {"2024-01-01": 1, "2024-01-03": 0}
    assert all(type(r.day) is dt.date for r in rows)


def test_last_touch_touch_state_and_time_move_atomically(spark):
    """A latest touch with a NULL timestamp must NOT borrow an earlier
    touch's time (two independent last(ignorenulls) did): atomically it
    simply fails the lookback and credits 'none'."""
    import datetime as dt

    from dask_snowflake_spark.operators.analytics import last_touch_attribution

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [
            (1, 1, t0, "ad"),                                  # touch, in window
            (1, 2, None, "email"),                             # touch, NULL ts
            (1, 3, t0 + dt.timedelta(seconds=30), "buy"),      # conversion
        ],
        "uid int, seq int, ts timestamp, state string",
    )
    rows = last_touch_attribution(
        df,
        "uid",
        ["seq"],
        "ts",
        "state",
        ["ad", "email"],
        "buy",
        lookback_micros=60_000_000,
    ).collect()
    # latest touch is 'email' (NULL ts): must be 'none', never 'email'
    # credited with the 'ad' row's timestamp
    assert [r.channel for r in rows] == ["none"]


def test_quality_features_and_lang_id_agree_with_doc_stats(spark, sf_oracle):
    """The standalone quality_features / lang_id operators and the
    fused word_profile path inside the driver-green doc_stats query
    compute the SAME features two independent ways — this pin is what
    keeps the standalone operators from silently drifting from the
    oracle-checked formulation (they had no caller before it)."""
    from dask_snowflake_spark.operators.text import lang_id, quality_features
    from dask_snowflake_spark.queries import registry

    docs = _t(spark, sf_oracle)["documents"].filter(F.col("doc_id") < 150)
    qf = {
        r.doc_id: (
            r.n_words, r.distinct_ratio, r.stopword_ratio, r.punct_ratio,
            r.digit_ratio, r.mean_word_len, round(r.quality_score, 6),
        )
        for r in quality_features(docs).collect()
    }
    li = {r.doc_id: r.detected_lang for r in lang_id(docs).collect()}
    ds = (
        registry()["doc_stats"].spark_fn(spark, sf_oracle)
        .filter(F.col("doc_id") < 150)
        .collect()
    )
    assert len(ds) == len(qf) > 0
    for r in ds:
        assert qf[r.doc_id] == (
            r.n_words, r.distinct_ratio, r.stopword_ratio, r.punct_ratio,
            r.digit_ratio, r.mean_word_len, round(r.quality_score, 6),
        ), r.doc_id
        assert li[r.doc_id] == r.detected_lang, r.doc_id


def test_attribution_week_bucket_join_equals_plain_join(spark):
    """The r10 skew hardening of attribution_linear replaces the plain
    user-keyed join with a (user, calendar-week bucket) join whose
    touches explode to [own bucket, next]. The containment argument —
    date(p) <= date(t) + 7 whenever p <= t + 7 days, so exactly two
    buckets cover every admissible touch — is pinned here by running
    BOTH shapes over randomized timestamps that straddle week-bucket
    boundaries (midnight edges, exact 7-day gaps, sub-second
    straddles): identical channel rollups row-for-row."""
    import datetime as dt
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    rng = random.Random(10)
    base = dt.datetime(2024, 12, 28)  # a Saturday near a bucket edge
    rows, eid = [], 0
    for u in range(1, 13):
        for _ in range(rng.randrange(2, 7)):
            eid += 1
            ts = base + dt.timedelta(
                days=rng.randrange(0, 28),
                seconds=rng.choice([0, 1, 86399, rng.randrange(86400)]),
                microseconds=rng.choice([0, 1, 999999]),
            )
            rows.append((eid, u, "purchase", ts, round(rng.uniform(1, 99), 2)))
        for _ in range(rng.randrange(3, 12)):
            eid += 1
            ts = base + dt.timedelta(
                days=rng.randrange(-8, 28),
                seconds=rng.choice([0, 86399, rng.randrange(86400)]),
                microseconds=rng.choice([0, 999999]),
            )
            rows.append((eid, u, rng.choice(["click", "view"]), ts, None))
    # exact 7-day-gap pairs (the <= boundary) and a next-bucket touch
    eid += 1
    rows.append((eid, 99, "click", dt.datetime(2025, 1, 6, 0, 0, 0), None))
    eid += 1
    rows.append((eid, 99, "purchase", dt.datetime(2025, 1, 13, 0, 0, 0), 10.0))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )

    def rollup(bucketed):
        pur = ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        ).select(
            F.col("event_id").alias("pid"),
            "user_id",
            F.col("ts").alias("pts"),
            F.expr("cast(round(value * 100) as bigint)").alias("cents"),
        )
        tou = ev.filter(F.col("event_type") != "purchase").select(
            F.col("event_id").alias("tid"),
            "user_id",
            F.col("ts").alias("tts"),
            F.col("event_type").alias("channel"),
        )
        if bucketed:
            wk = lambda c: F.floor(
                F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date")) / 7
            ).cast("long")
            pur = pur.withColumn("wk", wk(F.col("pts")))
            tou = tou.select(
                "tid", "user_id", "tts", "channel",
                F.explode(F.array(wk(F.col("tts")), wk(F.col("tts")) + 1)).alias("wk"),
            )
            j = pur.join(tou, ["user_id", "wk"])
        else:
            j = pur.join(tou, "user_id")
        j = j.filter(
            (F.col("tts") < F.col("pts"))
            & (F.timestamp_diff("MICROSECOND", F.col("tts"), F.col("pts")) <= 604_800_000_000)
        ).select(
            "pid", "cents", "tid", "channel",
            F.row_number()
            .over(W.partitionBy("pid").orderBy(F.col("tts").desc(), F.col("tid")))
            .alias("rk"),
            F.count(F.lit(1)).over(W.partitionBy("pid")).alias("n"),
        )
        return sorted(
            map(
                tuple,
                j.groupBy("channel")
                .agg(
                    F.countDistinct("pid").alias("n_purchases"),
                    F.count(F.lit(1)).alias("n_touches"),
                    F.sum(
                        F.expr("cents div n")
                        + F.when(F.col("rk") <= F.col("cents") % F.col("n"), 1).otherwise(0)
                    ).alias("credited_cents"),
                )
                .collect(),
            )
        )

    plain, bucketed = rollup(False), rollup(True)
    assert plain == bucketed and plain, (plain, bucketed)
    # the constructed exact-7-day pair must be INSIDE the lookback
    # (<= boundary) and must have crossed a bucket edge
    assert any(r[0] == "click" for r in plain)
