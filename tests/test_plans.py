"""Physical-plan quality gates: the properties that make these queries
survive a 100x scale-up. A query that silently loses its pushdown or
broadcasts the wrong side would still pass the value oracle — these
tests pin the plan shape itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_snowflake_spark.queries import registry, _t


def plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    """q06's shipdate/discount/quantity predicates must reach the
    parquet scan as PushedFilters."""
    df = registry()["x11_revenue_forecast"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "PushedFilters:" in p
    pushed = [line for line in p.splitlines() if "PushedFilters" in line]
    assert any("l_shipdate" in line for line in pushed), pushed
    assert any("l_discount" in line or "l_quantity" in line for line in pushed), pushed


def test_column_pruning(spark, sf_oracle):
    """A 2-column projection over lineitem must not read all 11 columns."""
    t = _t(spark, sf_oracle)
    df = t["lineitem"].select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    p = plan(df)
    schema_lines = [line for line in p.splitlines() if "ReadSchema" in line]
    assert schema_lines, p
    line = schema_lines[0]
    assert "l_orderkey" in line and "l_quantity" in line
    assert "l_extendedprice" not in line and "l_shipdate" not in line, line


def test_star_join_broadcasts_dims(spark, sf_oracle):
    """q04: region/nation (constant-size dims) must broadcast, never
    shuffle; the lineitem-orders join may be sort-merge/shuffled-hash."""
    df = registry()["xfx_star_join_revenue"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "BroadcastHashJoin" in p, p


def test_aggregation_is_partial(spark, sf_oracle):
    """q01 must run map-side partial aggregation (two HashAggregate
    nodes) so the shuffle carries group subtotals, not raw rows."""
    df = registry()["xfw_pricing_summary"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert p.count("HashAggregate") >= 2, p


def test_semi_join_stays_semi(spark, sf_oracle):
    """q05's EXISTS / NOT EXISTS must compile to LeftSemi + LeftAnti
    joins (no row multiplication on either branch)."""
    df = registry()["xf9_semi_anti_join"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p


def test_topk_uses_take_ordered(spark, sf_oracle):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition heaps), not a global sort."""
    df = registry()["xew_topk"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_whole_stage_codegen_active(spark, sf_oracle):
    """The scan->filter->project pipeline of q02 must sit inside a
    WholeStageCodegen span (codegen explain mode; AQE's formatted plan
    hides spans until execution)."""
    df = registry()["xel_filter_predicates"].spark_fn(spark, sf_oracle)
    df.collect()  # AQE finalizes the physical plan only on execution
    p = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegenExec spans in the final plan
    assert "*(1)" in p, p[:800]


def test_codegen_cache_holds_working_set(spark):
    """More distinct generated classes than Spark's default codegen
    cache holds (100) stay compiled across passes: rebuilding the same
    150 plans compiles nothing. Preparing the physical RDD compiles the
    whole-stage class without starting a job."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()

    def compile_round() -> int:
        before = compiled.getCount()
        for i in range(150):
            df = spark.range(4).select(F.col("id") * F.lit(i + 7))
            df._jdf.queryExecution().executedPlan().execute()
        return compiled.getCount() - before

    compile_round()
    assert compile_round() == 0


def test_register_tables_fills_the_query_table_memo(spark, sf_smoke, sf_oracle):
    """A caller's full ``register_tables`` call is the memo registry
    queries read, so the first query after it registers nothing again
    (each parquet registration starts a schema-inference job)."""
    from dask_snowflake_spark.session import register_tables

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    _t(spark, sf_smoke)
    tables = register_tables(spark, sf_oracle)
    jobs_before = sched.nextJobId()
    t = _t(spark, sf_oracle)
    assert sched.nextJobId() - jobs_before == 0
    assert t is tables


def test_partition_pruned_scan(spark, sf_oracle, tmp_path):
    """Scanning a partitioned parquet sink with a partition predicate
    must prune partitions at planning time."""
    t = _t(spark, sf_oracle)
    path = str(tmp_path / "by_flag")
    t["lineitem"].select("l_orderkey", "l_returnflag").write.partitionBy("l_returnflag").parquet(
        path
    )
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    p = plan(back)
    assert "PartitionFilters: [" in p and "l_returnflag" in p.split("PartitionFilters:")[1][:200], p


def test_broadcast_in_similarity_topk(spark, sf_oracle):
    """The query side of top-k similarity must broadcast (corpus never
    shuffles)."""
    df = registry()["x47_ann_topk_bruteforce"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_approx_sketches_within_bounds(spark, sf_oracle):
    """approx_count_distinct must land within 5% of the exact count;
    percentile_approx within 2% of the exact median (the rows-only
    q35 still has to be RIGHT, just not bit-exact)."""
    rows = registry()["x04_approx_sketches"].spark_fn(spark, sf_oracle).collect()
    assert rows, "no groups"
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.05, r
    t = _t(spark, sf_oracle)
    exact = {
        x.l_returnflag: x.med
        for x in t["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("med"))
        .collect()
    }
    for r in rows:
        assert abs(r.approx_median_price - exact[r.l_returnflag]) / exact[r.l_returnflag] < 0.02, r


def test_repartition_ops(spark, sf_oracle):
    """Repartitioning surface: repartition(n, col) hash-partitions,
    repartitionByRange range-partitions, coalesce merges without
    shuffle, sortWithinPartitions orders locally."""
    t = _t(spark, sf_oracle)
    o = t["orders"]
    assert o.repartition(8, "o_custkey").rdd.getNumPartitions() == 8
    assert o.repartitionByRange(6, "o_orderdate").rdd.getNumPartitions() == 6
    assert o.repartition(8).coalesce(2).rdd.getNumPartitions() == 2
    def is_sorted(it):
        dates = [r.o_orderdate for r in it]
        return [all(a <= b for a, b in zip(dates, dates[1:]))]

    parts = (
        o.repartition(4, "o_custkey")
        .sortWithinPartitions("o_orderdate")
        .rdd.mapPartitions(is_sorted)
        .collect()
    )
    assert all(parts)


def test_bucketed_join_avoids_shuffle(spark, sf_oracle, tmp_path):
    """Tables bucketed on the join key must sort-merge join with NO
    Exchange on either side — the co-location pattern that removes the
    dominant shuffle for repeated fact-fact joins at scale."""
    # managed tables land in ./spark-warehouse (gitignored); the
    # warehouse dir is a static conf and can't move per-test
    import shutil

    t = _t(spark, sf_oracle)
    for name in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"spark-warehouse/{name}", ignore_errors=True)
    t["orders"].select("o_orderkey", "o_totalprice").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("orders_b")
    t["lineitem"].select("l_orderkey", "l_quantity").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("lineitem_b")
    # force sort-merge so the assertion targets shuffle Exchanges, not
    # AQE's broadcast choice on these tiny tables
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        pl = plan(joined)
        assert "SortMergeJoin" in pl, pl
        assert "Exchange" not in pl, pl
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_simhash_near_dup_is_equi_join(spark, sf_oracle):
    """x18's banded candidate generation must be an equi-join on
    (band, value) — never a cartesian/nested-loop product over docs."""
    df = registry()["x18_simhash_near_dup"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p), p


def test_tfidf_corpus_size_is_broadcast_scalar(spark, sf_oracle):
    """tfidf joins the corpus size in as a broadcast single row (no
    driver-side count, no whole-table window); the per-term document
    frequency join must be an equi-join."""
    df = registry()["x00_tfidf"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "BroadcastExchange" in p, p
    assert "CartesianProduct" not in p, p


def test_rollup_cube_uses_expand(spark, sf_oracle):
    """Grouping sets must compile to Expand (one pass over the input),
    not a union of separate aggregations per grouping set."""
    df = registry()["xfg_rollup_cube"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "Expand" in p, p


def test_array_map_hof_stays_jvm_side(spark, sf_oracle):
    """The array/map HOF query must contain no Python evaluation node —
    lambdas run as JVM higher-order functions."""
    df = registry()["xfn_array_map_hof"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_multires_rollup_single_expand_pass(spark, sf_oracle):
    """The 1h/6h/1d multi-resolution rollup must be ONE Expand-based
    pass over events, not three scans union'd together."""
    df = registry()["x32_multires_rollup"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "Expand" in p, p
    # formatted explain prints each node twice (tree + detail): one
    # scan node == exactly two occurrences; a triple-scan union would
    # show six
    assert p.count("Scan parquet ") <= 2, p


def test_vocab_topk_uses_heap(spark, sf_oracle):
    """Global vocabulary top-k must compile to TakeOrderedAndProject
    (per-partition heaps), never a full sort."""
    df = registry()["x34_vocab_topk"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p


def test_quality_resample_no_join_no_python(spark, sf_oracle):
    """Hash-decided weighted resampling is a pure projection + one
    aggregation: no join, no Python eval, single scan."""
    df = registry()["x36_quality_resample"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_gopher_rules_is_scan_speed(spark, sf_oracle):
    """The rule-based quality filter is ONE shuffle-free projection:
    every flag + the reasons string computes in the scan stage; the only
    exchange permitted is the final presentation orderBy."""
    df = registry()["x50_gopher_rules"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # exactly the one range-partitioning exchange for the final sort
    # (formatted explain prints each node twice: tree + detail section)
    assert p.count("+- Exchange") == 1 and "rangepartitioning" in p.lower(), p


def test_skyline_matches_definitional_not_exists(spark, sf_oracle):
    """The grid-reduction skyline must equal the DEFINITIONAL skyline
    (no dominating point exists) — guards against a shared-logic error
    between the query and its grid-reduction oracle."""
    import duckdb

    got = [
        (r.p_size, r.best_price, r.n_parts, r.min_partkey)
        for r in registry()["x52_skyline_frontier"].spark_fn(spark, sf_oracle).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_oracle}/part.parquet')"
    )
    exp = con.execute(
        """
        WITH sky AS (
            SELECT p_size, p_retailprice, p_partkey FROM part a
            WHERE NOT EXISTS (
                SELECT 1 FROM part b
                WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
                  AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice)
            )
        )
        SELECT p_size, p_retailprice, count(*), min(p_partkey)
        FROM sky GROUP BY 1, 2 ORDER BY p_size
        """
    ).fetchall()
    con.close()
    assert got == [tuple(r) for r in exp]


def test_span_dedup_no_cartesian(spark, sf_oracle):
    """x60's duplicated-span set must rejoin the span stream by an
    equi-join on the span hash — never any nested-loop/cartesian plan."""
    df = registry()["x60_dup_span_detect"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "Generate posexplode" in p or "posexplode" in p, p


def test_bm25_topk_before_rank_window(spark, sf_oracle):
    """x63 must reduce the corpus with TakeOrderedAndProject BEFORE the
    unpartitioned rank window, so the single-partition window only ever
    sees k rows."""
    p = plan(registry()["x63_bm25_topk"].spark_fn(spark, sf_oracle))
    assert "TakeOrderedAndProject" in p, p
    # the window must consume the take's output (appear above it in the
    # formatted tree: lower node id)
    lines = p.splitlines()
    w = next(i for i, ln in enumerate(lines) if "Window" in ln)
    t = next(i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln)
    assert w < t, (w, t)


def test_incremental_dedup_band_probe_is_equi_join(spark, sf_oracle):
    """x61's incoming-vs-corpus candidate probe must be a hash-keyed
    equi-join on the band signature (SortMergeJoin or ShuffledHashJoin
    or BroadcastHashJoin) — never a nested loop over the corpus."""
    p = plan(registry()["x61_dedup_incremental"].spark_fn(spark, sf_oracle))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_unigram_logprob_vocab_is_broadcast(spark, sf_oracle):
    """x66's per-word NLL table joins the word stream broadcast — the
    corpus-sized side never shuffles on word."""
    p = plan(registry()["x66_unigram_logprob"].spark_fn(spark, sf_oracle))
    assert "BroadcastHashJoin" in p, p


def test_pmi_vocab_is_broadcast(spark, sf_oracle):
    """x80's top-20 vocabulary must broadcast into the incidence stream
    — the corpus-sized word list never shuffles on the join key."""
    p = plan(registry()["x80_pmi_cooccurrence"].spark_fn(spark, sf_oracle))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_zorder_is_scan_speed(spark, sf_oracle):
    """x76's Morton interleave is a pure projection + one partial-agg
    shuffle: no join, no window, no python."""
    p = plan(registry()["x76_zorder_layout"].spark_fn(spark, sf_oracle))
    assert "Join" not in p and "Window" not in p, p
    assert "partial_count" in p or "partial" in p.lower(), p
    assert "Python" not in p, p


def test_correlation_two_aggs_no_join(spark, sf_oracle):
    """x84 is exactly two cascaded aggregations over one scan — the
    five moments come map-side-combined, never via corr()'s float
    partials or any join."""
    p = plan(registry()["x84_metric_correlation"].spark_fn(spark, sf_oracle))
    assert "Join" not in p, p
    assert "corr" not in p.lower(), p


def test_bucketed_join_avoids_exchange(spark, sf_oracle):
    """file_bucketed_join: both sides written bucketBy(8, orderkey), so the sort-merge
    join must read bucket i against bucket i — bucketed scans in the
    plan and NO hashpartitioning exchange on the join keys (the one
    shuffle a repeated fact-fact join would otherwise pay per query)."""
    df = registry()["file_bucketed_join"].spark_fn(spark, sf_oracle)
    p = plan(df)
    assert "SortMergeJoin" in p, p
    assert "SelectedBucketsCount" in p, p
    assert "hashpartitioning(l_orderkey" not in p, p
    assert "hashpartitioning(o_orderkey" not in p, p


def test_bpe_pairs_counted_over_vocab_not_stream(spark, sf_oracle):
    """xa0's pair explode runs over the aggregated vocabulary (distinct
    word + count), never the raw token stream: the plan aggregates
    words BEFORE the pair explode (generator sits above the first
    partial/final agg), and the top-20 is TakeOrdered, not a full
    sort."""
    p = plan(registry()["xa0_bpe_merge_candidates"].spark_fn(spark, sf_oracle))
    assert "TakeOrderedAndProject" in p, p
    gen_pos = p.find("Generate")
    assert gen_pos != -1, p
    # formatted explain prints root-first: an agg TEXTUALLY AFTER the
    # generator is executed BEFORE it — the vocab aggregation must sit
    # below the pair explode in the tree
    assert "HashAggregate" in p[gen_pos:], "vocab agg must feed the pair explode"


def test_pipeline_corpus_broadcasts_eval_side(spark, sf_oracle):
    """xa8: the decontamination stage must broadcast the eval n-gram
    set into the training-corpus shingle stream (the corpus never
    shuffles for the contamination join) and no stage may degrade to a
    cartesian product."""
    p = plan(registry()["pipeline_llm_corpus"].spark_fn(spark, sf_oracle))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_chunker_is_shuffle_free_before_presentation_sort(spark, sf_oracle):
    """xb0: chunk assembly (sequence explode + substr + md5) must be a
    pure map-side pipeline — the ONLY exchange in the plan is the
    presentation ORDER BY's rangepartitioning; no hashpartitioning
    (aggregation/join) anywhere."""
    p = plan(registry()["xb0_chunk_documents"].spark_fn(spark, sf_oracle))
    assert "hashpartitioning" not in p, p
    assert "Generate" in p, p


def test_profiler_avoids_expand_and_sort_agg(spark, sf_oracle):
    """xb1: exactly two metric-family passes — a plain stats aggregate
    and an unpivot + two-level distinct count. The naive single-pass
    multi-countDistinct shape (Expand 7x replication + SortAggregate
    from string min/max buffers) measured 14.4 s vs ~3 s at sf0.1 and
    would 7x the shuffle at 100 TB — pin its absence."""
    import re

    p = plan(registry()["profile_columns"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    assert "Expand" not in p, p
    # the distinct path (explode + two HashAggregate levels) must never
    # degrade to sort-based aggregation
    assert "Generate" in p, p


def test_sparse_retrieval_has_no_cartesian(spark, sf_oracle):
    """xb2: query-corpus pairing must happen through the postings
    equi-join on the term (the inverted-index prune) — never a
    cartesian/nested-loop pairing of query docs against the corpus."""
    p = plan(registry()["xb2_sparse_topk_retrieval"].spark_fn(spark, sf_oracle))
    assert "CartesianProduct" not in p, p
    # the one-row corpus-size aggregate rides as a broadcast
    assert "BroadcastNestedLoopJoin" not in p or "BroadcastExchange" in p, p


def test_winsorized_clamp_is_broadcast(spark, sf_oracle):
    """xb7: the p05/p95 bounds (one row per event_type) must broadcast
    into the clamp join — the events stream never shuffles to meet its
    own quantiles."""
    p = plan(registry()["xb7_winsorized_stats"].spark_fn(spark, sf_oracle))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p


def test_skew_diagnosis_is_one_scan(spark, sf_oracle):
    """xb8: corpus totals come from an unpartitioned window over the
    tiny per-key aggregate — events must be scanned ONCE (a stats
    self-join would re-evaluate the aggregate subtree)."""
    import re

    p = plan(registry()["xb8_skew_diagnosis"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Window" in p, p


def test_market_share_scans_each_table_once(spark, sf_oracle):
    """xb9: the 8-table snowflake join must scan each table exactly once
    (the yearly total is a window, not a self-join that would double the
    whole join subtree) and every dimension join must broadcast; no
    cartesian anywhere."""
    import re

    p = plan(registry()["xdf_market_share_q8"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 8, p
    assert p.count("BroadcastHashJoin") >= 5, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_constraint_audit_is_one_pass(spark, sf_oracle):
    """xca: eight rules must come from ONE scan + one aggregation
    (conditional sums), unpivoted by stack — a per-rule job or a second
    scan would read the table eight times at 100 TB."""
    import re

    p = plan(registry()["xca_constraint_audit"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Generate" in p, p
    assert "Join" not in p, p


def test_event_transitions_single_scan_no_join(spark, sf_oracle):
    """xcb: the row-stochastic normalization must be a from_type window
    over the k*k matrix, not a totals self-join — one scan of events,
    no join operator anywhere."""
    import re

    p = plan(registry()["xcb_event_transitions"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "Join" not in p, p
    assert p.count("Window") >= 2, p


def test_open_orders_sweep_line_no_range_join(spark, sf_oracle):
    """xcc: the occupancy curve must be the sweep line (explode deltas +
    daily agg + running sum), never a day-by-interval range join — no
    cartesian/nested-loop, exactly the two necessary scans."""
    import re

    p = plan(registry()["xcc_open_orders_curve"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Generate" in p and "Window" in p, p


def test_attribution_single_window_no_join(spark, sf_oracle):
    """xcd: touch type and touch ts must come from ONE window node
    (same frame) over one scan of events; credit assignment is pure
    projection — no join anywhere."""
    import re

    p = plan(registry()["xcd_last_touch_attribution"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1, p
    assert "Join" not in p, p


def test_segment_trend_groupby_reuses_window_partitioning(spark, sf_oracle):
    """xce: the per-segment min-date window hash-partitions by
    event_type and the OLS-sums groupBy must reuse that partitioning —
    exactly two exchanges in the whole plan (window hash + presentation
    sort), one scan, no join."""
    import re

    p = plan(registry()["xce_segment_trend_ols"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert "Join" not in p, p


def test_delete_cascade_scans_lineitem_once(spark, sf_oracle):
    """xcf: the erasure cascade must touch the biggest table exactly
    once — the deletion flag rides broadcast mark joins, never a second
    counting scan of lineitem; no cartesian anywhere."""
    import re

    p = plan(registry()["xcf_delete_cascade_audit"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"Location: [^\n]*lineitem", p)) == 1, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_blame_query_has_no_fact_self_join(spark, sf_oracle):
    """xcg: the double-correlated EXISTS/NOT-EXISTS must compile to a
    pre-aggregation + orderkey window — lineitem scanned once, orders
    once, supplier broadcast; the textbook formulation's two
    correlated self-joins must not appear."""
    import re

    p = plan(registry()["xdg_waiting_orders_blame"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"Location: [^\n]*lineitem", p)) == 1, p
    assert "Window" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_stickiness_fanout_not_range_join(spark, sf_oracle):
    """xci: WAU must come from the bounded 7-day (user, day) fan-out
    (sequence explode + distinct count) — never a day-by-interval
    range join; at most the two necessary evaluations of the active
    set, no cartesian."""
    import re

    p = plan(registry()["xci_stickiness_dau_wau"].spark_fn(spark, sf_oracle))
    assert "Generate" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert len(re.findall(r"Location: [^\n]*events", p)) <= 2, p


def test_ri_audit_joins_carry_keys_not_facts(spark, sf_oracle):
    """xcj: every relationship must collapse the fact side to
    (key, count) BEFORE its full-outer join — each lineitem scan reads
    exactly its one FK column (column pruning proves the pre-agg sits
    on the scan), and no join is a cartesian/BNLJ."""
    import re

    p = plan(registry()["xcj_referential_orphans"].spark_fn(spark, sf_oracle))
    assert "FullOuter" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    li_schemas = [
        line
        for line in p.splitlines()
        if "ReadSchema" in line
        and re.search(r"l_(orderkey|partkey|suppkey)", line)
    ]
    assert len(li_schemas) == 3, p
    for line in li_schemas:
        assert len(re.findall(r"l_\w+", line)) == 1, line


def test_feature_hashing_broadcasts_dim(spark, sf_oracle):
    """xck: the customer dimension join must be broadcast, the feature
    fan-out a single Generate, and both rollups hash aggregates (no
    string-agg SortAggregate fallback)."""
    p = plan(registry()["xck_feature_hashing"].spark_fn(spark, sf_oracle))
    assert "BroadcastHashJoin" in p, p
    assert p.count(") Generate") == 1, p
    assert "SortAggregate" not in p, p
    assert "CartesianProduct" not in p, p


def test_bootstrap_folds_replicates_into_one_pass(spark, sf_oracle):
    """xcl: the 64 replicates must ride ONE fan-out Generate over one
    pass of the fact rows — never 64 resample jobs; the only joins are
    broadcasts of one-row/64-row aggregates (no shuffled join of fact
    data), and the replicate rollup is a hash aggregate."""
    p = plan(registry()["xds_bootstrap_ci"].spark_fn(spark, sf_oracle))
    assert p.count(") Generate") == 1, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "HashAggregate" in p, p


def test_weighted_median_window_groupby_share_one_exchange(spark, sf_oracle):
    """xcn: both window frames and the same-keyed groupBy must ride ONE
    lang hash partition — exactly two exchanges total (window hash +
    presentation sort), one scan, no join."""
    import re

    p = plan(registry()["xcn_weighted_median"].spark_fn(spark, sf_oracle))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2, p
    assert "Join" not in p, p
    assert len(re.findall(r"Location: [^\n]*documents", p)) == 1, p


def test_rank_fusion_topk_is_distributed_and_exchange_free(spark, sf_oracle):
    """xco: both ranking lists must be cut by TakeOrderedAndProject
    (distributed per-partition heaps, never a global sort of the
    corpus), ranks windowed over the k-bounded lists, and the whole
    plan shuffle-free — zero exchanges."""
    import re

    p = plan(registry()["xco_rank_fusion"].spark_fn(spark, sf_oracle))
    assert p.count("TakeOrderedAndProject") >= 3, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p
    assert "CartesianProduct" not in p, p


def test_triangle_census_wedges_are_map_side(spark, sf_oracle):
    """x94 (r8 rewrite): wedge enumeration must be the in-array pair
    explode off the collected out-neighbor lists — exactly ONE Generate
    — with NO self-join of the oriented edge set (the closure semi-join
    and the stats crossJoin of one-row aggregates are the only joins;
    no CartesianProduct of data-sized inputs, no sort aggregate)."""
    p = plan(registry()["x94_triangle_census"].spark_fn(spark, sf_oracle))
    assert "CartesianProduct" not in p, p
    # the ONLY shuffled join is the closure semi-join against the
    # canonical edge set; the oriented-edge self-join of the old
    # formulation (a second shuffled join keyed on the wedge source) is
    # gone — every other join is a broadcast (LSH verify joins + the
    # one-row stats crossJoin's BroadcastNestedLoopJoin)
    import re

    assert len(re.findall(r"\(\d+\) SortMergeJoin", p)) == 1, p
    assert "ShuffledHashJoin" not in p, p
    assert p.count("Join type: LeftSemi") == 1, p
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1, p


def test_kcore_output_is_one_exchange_no_joins(spark, sf_oracle):
    """xcw: after the peel loop, layers must come from ONE union +
    survival-count aggregation over the checkpointed alive sets — a
    map-side partial HashAggregate, exactly one Exchange, and zero
    joins (the first draft's per-round lazy anti-joins all re-evaluated
    here). The per-round degree joins live inside the already-
    materialized checkpoints, not in this plan."""
    import re

    p = plan(registry()["graph_kcore_onion"].spark_fn(spark, sf_oracle))
    assert "Union" in p, p
    assert "Join" not in p and "CartesianProduct" not in p, p
    # one exchange for the survival count; the orderBy adds range
    # partitioning on top — nothing else may shuffle
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2, p
    assert "SortAggregate" not in p, p


def test_hits_half_step_has_no_single_partition_renorm(spark, sf_oracle):
    """hits_bipartite: a half-step is the raw join + sum, checkpointed
    while its max is observed, then a projection renormalizing by that
    max as a literal. An unpartitioned ``max("raw").over(...)`` window
    put every node of the half-step through one task (``Exchange
    SinglePartition``) in all 8 half-steps; neither that exchange nor
    any Window may come back."""
    from dask_snowflake_spark.ext_queries import _hits_raw, _hits_renorm

    t = _t(spark, sf_oracle)
    edges = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .dropDuplicates(["c", "p"])
    )
    hubs = edges.select("c").distinct().select("c", F.lit(1_000_000).cast("long").alias("q"))
    p = plan(_hits_renorm(_hits_raw(edges, hubs, "c", "p"), "p", 123_456_789))
    assert "SinglePartition" not in p, p
    assert "Window" not in p, p
