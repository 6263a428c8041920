"""The traced run's two probes.

- :class:`StatusStore` reads Spark's own job, stage and task records from
  the live status store (the UI's REST API on localhost) and reduces the
  records of one job group per operation into engine metrics.
- :class:`LayerProbe` wraps the connector's layer entry points from
  outside -- the warehouse stub's ``execute_batches`` and
  ``finalize_write``, and the planner's ``plan_partitions`` as the
  connector calls it -- and sums time and counts per pass.

Neither runs in an untraced pass, so end-to-end numbers never carry
their cost.
"""

from __future__ import annotations

import datetime as dt
import json
import statistics
import time
import urllib.request
from typing import Any


def parse_time(value: str) -> float:
    """Status-store timestamp (``2026-01-01T00:00:00.123GMT``) -> epoch s."""
    return dt.datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


class StatusStore:
    """Job, stage and task records of the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run reads the status store and needs spark.ui.enabled")
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self._base + path, timeout=60) as resp:
            return json.load(resp)

    def reduce(self, windows: dict[str, tuple[float, float]]) -> dict[str, dict[str, float]]:
        """Engine metrics per job group, for the groups in ``windows``
        (group -> epoch-second wall window of the operation)."""
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in windows]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = {
            s["stageId"]: s
            for s in self._get("/stages?details=true&status=complete")
            if s["stageId"] in stage_ids
        }
        out: dict[str, dict[str, float]] = {}
        for group, (lo, hi) in windows.items():
            mine = [j for j in jobs if j["jobGroup"] == group]
            spans = [
                (parse_time(j["submissionTime"]), parse_time(j["completionTime"]))
                for j in mine
                if "completionTime" in j
            ]
            span = union_length(spans, lo, hi)
            own = {s for j in mine for s in j["stageIds"]} & stages.keys()
            m = {
                "jobs": len(mine),
                "job_span_s": span,
                "driver_gap_s": (hi - lo) - span,
                "tasks": 0,
                "sched_delay_s": 0.0,
                "exec_run_s": 0.0,
                "exec_cpu_s": 0.0,
                "gc_s": 0.0,
                "deser_s": 0.0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
                "max_stage_tasks": 0,
                "task_skew": 0.0,
            }
            for sid in own:
                st = stages[sid]
                tasks = list(st.get("tasks", {}).values())
                submitted = parse_time(st["submissionTime"])
                m["tasks"] += st["numCompleteTasks"]
                m["sched_delay_s"] += sum(parse_time(t["launchTime"]) - submitted for t in tasks)
                m["exec_run_s"] += st["executorRunTime"] / 1e3
                m["exec_cpu_s"] += st["executorCpuTime"] / 1e9
                m["gc_s"] += st["jvmGcTime"] / 1e3
                m["deser_s"] += st["executorDeserializeTime"] / 1e3
                m["shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                m["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                m["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 2**20
                # skew of the widest stage: the fan-out of a partitioned read
                if len(tasks) > m["max_stage_tasks"]:
                    runs = [t["taskMetrics"]["executorRunTime"] for t in tasks if "taskMetrics" in t]
                    med = statistics.median(runs) if runs else 0
                    m["max_stage_tasks"] = len(tasks)
                    m["task_skew"] = max(runs) / med if med else 0.0
            out[group] = m
        return out


class LayerProbe:
    """Times the connector's layer calls while installed (a context
    manager) and sums them in :attr:`totals`."""

    def __init__(self):
        self.totals: dict[str, float] = {}
        self.max_over_mean_rows = 0.0

    def _add(self, key: str, value: float) -> None:
        self.totals[key] = self.totals.get(key, 0.0) + value

    def __enter__(self):
        from dask_snowflake_spark.sources import backends, snowflake

        be = backends.DuckDBBackend
        self._saved = [
            (be, "execute_batches", be.execute_batches),
            (be, "finalize_write", be.finalize_write),
            (snowflake, "plan_partitions", snowflake.plan_partitions),
        ]
        execute_batches, finalize_write, plan_partitions = (s[2] for s in self._saved)

        def timed_execute(backend, conn, query, params):
            t0 = time.perf_counter()
            schema, batches = execute_batches(backend, conn, query, params)
            self._add("warehouse.execute_s", time.perf_counter() - t0)
            self._add("warehouse.batches", len(batches))
            self._add("warehouse.payload_mb", sum(len(b.payload) for b in batches) / 2**20)
            return schema, batches

        def timed_finalize(backend, table, connection_kwargs):
            t0 = time.perf_counter()
            finalize_write(backend, table, connection_kwargs)
            self._add("warehouse.copy_s", time.perf_counter() - t0)

        def counted_plan(rowcounts, **kwargs):
            groups = plan_partitions(rowcounts, **kwargs)
            self._add("partitioning.groups", len(groups))
            sizes = [sum(rowcounts[i] for i in g) for g in groups]
            if sizes:
                ratio = max(sizes) / statistics.mean(sizes)
                self.max_over_mean_rows = max(self.max_over_mean_rows, ratio)
            return groups

        be.execute_batches, be.finalize_write = timed_execute, timed_finalize
        snowflake.plan_partitions = counted_plan
        return self

    def __exit__(self, *exc):
        for owner, attr, original in self._saved:
            setattr(owner, attr, original)
        return False
