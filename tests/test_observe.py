"""The Observation API: pipeline QA counters that ride the main action.

At 100 TB you cannot afford a second pass just to count nulls or sum a
checksum — ``df.observe`` attaches aggregate metrics to the plan and
collects them during the SAME job that produces the output. This is
the engine surface a production pipeline uses for row-count
reconciliation and data-quality telemetry.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from dask_snowflake_spark.queries import _t
from dask_snowflake_spark.session import checkpoint_observed


def test_observation_metrics_match_independent_aggregates(spark, sf_oracle):
    li = _t(spark, sf_oracle)["lineitem"]
    obs = Observation("qa")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.sum("l_orderkey").alias("key_checksum"),
    )
    out = observed.groupBy("l_returnflag").count()
    result = {r.l_returnflag: r["count"] for r in out.collect()}
    # metrics were collected during the SAME action as the output
    got = obs.get
    exp = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("nq"),
        F.sum("l_orderkey").alias("ck"),
    ).collect()[0]
    assert got["n_rows"] == exp.n == sum(result.values())
    assert got["null_qty"] == (exp.nq or 0)
    assert got["key_checksum"] == exp.ck


def _keyed_max(spark):
    """A fresh shuffle plan on every call (a re-run of the SAME Dataset
    would reuse its materialized shuffle and start fewer jobs)."""
    return (
        spark.range(0, 10_000, 1, 4)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.max("id").alias("mx"))
    )


def _metrics():
    return (
        F.count(F.lit(1)).alias("n"),
        F.max("mx").alias("top"),
        F.count_if(F.col("k") < 10).alias("small"),
    )


def test_checkpoint_observed_metrics_match_independent_aggregates(spark):
    out, seen = checkpoint_observed(_keyed_max(spark), *_metrics())
    exp = _keyed_max(spark).agg(*_metrics()).collect()[0]
    assert seen == {"n": exp.n, "top": exp.top, "small": exp.small}
    assert seen == {"n": 97, "top": 9_999, "small": 10}
    # the checkpoint holds the rows the metrics were taken over
    assert out.count() == seen["n"]


def test_checkpoint_observed_empty_input(spark):
    out, seen = checkpoint_observed(_keyed_max(spark).filter("k < 0"), *_metrics())
    assert seen == {"n": 0, "top": None, "small": 0}
    assert out.collect() == []


def _jobs_in_group(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is filled by an asynchronous listener
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_observed_starts_no_extra_job(spark):
    bare = _jobs_in_group(
        spark, "observe-bare", lambda: _keyed_max(spark).localCheckpoint(eager=True)
    )
    observed = _jobs_in_group(
        spark, "observe-helper", lambda: checkpoint_observed(_keyed_max(spark), *_metrics())
    )
    assert bare >= 1
    assert observed == bare


def test_checkpoint_observed_leaves_no_state_behind(spark):
    # the first Observation of a session registers the session's one
    # query-execution listener; later calls must add nothing
    checkpoint_observed(_keyed_max(spark), *_metrics())
    bus = spark.sparkContext._jsc.sc().listenerBus()
    manager = spark._jsparkSession.listenerManager()
    bus.waitUntilEmpty()
    n_bus, n_session = bus.listeners().size(), len(manager.listListeners())
    for _ in range(5):
        checkpoint_observed(_keyed_max(spark), *_metrics())
    bus.waitUntilEmpty()
    assert len(manager.listListeners()) == n_session
    # the context's bus is shared with every other session and stream,
    # whose own listeners can be removed meanwhile (a full test run saw
    # it shrink by 4): it may shrink, but must not grow
    assert bus.listeners().size() <= n_bus
    observations = spark._jsparkSession.observationManager()
    field = observations.getClass().getDeclaredField("observations")
    field.setAccessible(True)
    assert field.get(observations).isEmpty()
