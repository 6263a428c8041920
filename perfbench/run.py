#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload warehouse_io --seed 1 --seconds 5 --trace 0

A single closed-loop client drives one ``get_session()`` session on
``local[<cores>]``. The run sets up (session, catalog, untimed warm-up
passes, the first of which checks every operation's output), samples
the host calibration plan, runs timed passes over the workload's
operations in a seed-shuffled order until ``--seconds`` have passed and
the workload's minimum of passes is done, samples the calibration plan
again and prints one JSON line last.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes and reports the per-layer metrics, including
the tracing overhead (traced minus untraced pass time).

Inputs are generated on the first run in a checkout, under
``perfbench/.work/data``, outside every clock. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CALIB_ROWS = 100_000_000


class Workload(NamedTuple):
    scale: str  # input directory under the data dir
    warmup_passes: int  # untimed; the first one checks every output
    timed_passes: int  # at least this many (traced runs: pairs), never one


# A fixed number of warm-up and timed passes puts every run at the same
# point of the JVM's JIT warm-up curve; llm_pipeline's operations keep
# getting faster for several passes, so it warms up twice.
WORKLOADS = {
    "warehouse_io": Workload("sf0.1", warmup_passes=1, timed_passes=3),
    "llm_pipeline": Workload("sf0.01", warmup_passes=2, timed_passes=2),
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "py_peak_rss_mb": "MB"}
SPARK_KEYS = (
    "job_span_s", "driver_gap_s", "tasks", "sched_delay_s", "exec_run_s", "exec_cpu_s",
    "gc_s", "deser_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)  # fmt: skip
ONE_PARTITION_READ = "read_lineitem_1p"
MANY_PARTITION_READS = ("read_lineitem_np", "read_lineitem_2mib")


def metric_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("skew", "_rows")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric; a traced run prints all of them, with 0
    for a layer its workload does not use."""
    from workloads import LLM_QUERIES

    names = ["session.start_s", "session.catalog_s", "session.warmup_s"]
    names += ["queries.build_s", "queries.exec_s", "queries.jobs"]
    names += [f"op.{q}.{m}" for q in LLM_QUERIES for m in ("wall_s", "jobs", "driver_gap_s")]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += ["read.plan_s", "read.fetch_s", "read.fetch_1p_s", "read.fetch_manyp_s"]
    names += ["read.partitions", "read.task_skew", "read.rows_per_s"]
    names += ["write.total_s", "write.stage_s", "write.partitions", "write.rows_per_s"]
    names += ["warehouse.execute_s", "warehouse.copy_s", "warehouse.batches"]
    names += ["warehouse.payload_mb", "warehouse.connects"]
    names += ["partitioning.groups", "partitioning.max_over_mean_rows"]
    names += ["mem.peak_rss_mb", "host.calib_start_s", "host.calib_end_s", "trace.overhead_s"]
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run directory, and size the session to this host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def calib_s(spark) -> float:
    """Best of two runs of a fixed, shuffle-free CPU plan: a host-speed
    diagnostic, printed beside the metrics and never used to scale them."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        (
            spark.range(0, CALIB_ROWS, 1, 16)
            .select((F.xxhash64("id") % 1000003).alias("h"))
            .agg(F.sum("h"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        best = min(best, time.perf_counter() - t0)
    return best


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """One invocation: set-up, timed passes and the metrics they give."""

    def __init__(self, args, data_dir: str, run_dir: str):
        self.args, self.data_dir, self.run_dir = args, data_dir, run_dir
        self.rng = random.Random(args.seed)
        self.layers: dict[str, float] = {}
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.untraced: list[dict] = []
        self.traced: list[dict] = []

    def _attempt(self, name: str, fn):
        """Count one operation; a raise is a failed operation, not a crash."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.problems.append(f"{name}: {type(exc).__name__}: {exc}")
            return None

    def setup(self) -> None:
        from workloads import Context, llm_ops, warehouse_ops

        workload = WORKLOADS[self.args.workload]
        sf_dir = os.path.join(self.data_dir, workload.scale)
        t0 = time.perf_counter()
        from dask_snowflake_spark import get_session, register_tables

        self.spark = get_session("perfbench")
        t1 = time.perf_counter()
        register_tables(self.spark, sf_dir)
        t2 = time.perf_counter()
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.catalog_s"] = t2 - t1

        self.ctx = Context(self.spark, sf_dir)
        if self.args.workload == "warehouse_io":
            # a private copy, so every run starts from the same warehouse
            self.ctx.warehouse_db = os.path.join(self.run_dir, "warehouse.duckdb")
            shutil.copyfile(os.path.join(self.data_dir, "warehouse.duckdb"), self.ctx.warehouse_db)
            self.ops = warehouse_ops(os.path.join(sf_dir, "orders.parquet"))
        else:
            from tests.oracle import duckdb_con

            self.ctx.oracle_con = duckdb_con(sf_dir)
            self.ops = llm_ops()

        # first touch of the tables and the checked pass
        warm = 0.0
        for op in self.rng.sample(self.ops, len(self.ops)):
            got = self._attempt(op.name, lambda: op.warm(self.ctx, op.draw(self.rng)))
            if got is not None:
                warm += got[0]
                if got[1]:
                    self.failed += 1
                    self.problems += got[1]
        for index in range(1, workload.warmup_passes):
            warm += self.one_pass(-index, traced=False)["wall"]
        self.layers["session.warmup_s"] = warm
        self.setup_s = t2 - t0 + warm

    def one_pass(self, index: int, traced: bool) -> dict:
        """Run every operation once, in a fresh seeded order."""
        from tracing import LayerProbe, StatusStore

        sc = self.spark.sparkContext
        order = self.rng.sample(self.ops, len(self.ops))
        params = [op.draw(self.rng) for op in order]
        probe = LayerProbe()
        conn_log = os.path.join(self.run_dir, f"conn-{index}.log")
        self.ctx.conn_log = conn_log if traced else None
        samples, windows = [], {}
        t_pass = time.perf_counter()
        with probe if traced else contextlib.nullcontext():
            for op, param in zip(order, params):
                group = f"{index}:{op.name}"
                if traced:
                    sc.setJobGroup(group, group)
                start, t0 = time.time(), time.perf_counter()
                got = self._attempt(op.name, lambda: op.run(self.ctx, param))
                wall = time.perf_counter() - t0
                windows[group] = (start, time.time())
                phases, rows = got or ({}, 0)
                samples.append({"op": op, "group": group, "wall": wall, "phases": phases, "rows": rows})
        p = {"wall": time.perf_counter() - t_pass, "samples": samples}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            p["engine"] = StatusStore(self.spark).reduce(windows)
            p["probe"] = probe
            p["connects"] = _count_lines(conn_log)
        return p

    def measure(self) -> None:
        from stats import PeakRss

        self.layers["host.calib_start_s"] = calib_s(self.spark)
        min_passes = WORKLOADS[self.args.workload].timed_passes
        t0, index = time.perf_counter(), 0
        with PeakRss() as rss:
            while len(self.untraced) < min_passes or time.perf_counter() - t0 < self.args.seconds:
                if self.args.trace:
                    self.traced.append(self.one_pass(index, traced=True))
                    index += 1
                self.untraced.append(self.one_pass(index, traced=False))
                index += 1
        self.py_peak_rss = rss.python_peak
        self.layers["mem.peak_rss_mb"] = rss.peak / 2**20
        self.layers["host.calib_end_s"] = calib_s(self.spark)

    def op_walls(self) -> list[float]:
        return [s["wall"] for p in self.untraced for s in p["samples"]]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        values = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(p["wall"] for p in self.untraced),
            "op_p50_s": statistics.median(self.op_walls()),
            "py_peak_rss_mb": self.py_peak_rss / 2**20,
        }
        return {k: (values[k], END_TO_END[k]) for k in END_TO_END}

    def per_layer(self) -> dict[str, tuple[float, str]]:
        per_pass = [_pass_layers(p) for p in self.traced]
        values = {k: statistics.median(p.get(k, 0) for p in per_pass) for k in per_layer_names()}
        values.update(self.layers)
        for op in self.ops:
            walls = [s["wall"] for p in self.untraced for s in p["samples"] if s["op"] is op]
            if op.kind == "query":
                values[f"op.{op.name}.wall_s"] = statistics.median(walls)
        for kind in ("read", "write"):
            moved = [(s["rows"], s["wall"]) for p in self.untraced for s in p["samples"] if s["op"].kind == kind]
            wall = sum(w for _, w in moved)
            values[f"{kind}.rows_per_s"] = sum(r for r, _ in moved) / wall if wall else 0
        values["trace.overhead_s"] = statistics.median(p["wall"] for p in self.traced) - statistics.median(
            p["wall"] for p in self.untraced
        )
        return {k: (values[k], metric_unit(k)) for k in per_layer_names()}


def _count_lines(path: str) -> int:
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for line in f if line.strip())


def _pass_layers(p: dict) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    m: dict[str, float] = dict(p["probe"].totals)
    m["partitioning.max_over_mean_rows"] = p["probe"].max_over_mean_rows
    m["warehouse.connects"] = p["connects"]

    def add(key: str, value: float) -> None:
        m[key] = m.get(key, 0) + value

    for s in p["samples"]:
        op, eng, ph = s["op"], p["engine"][s["group"]], s["phases"]
        for key in SPARK_KEYS:
            add(f"spark.{key}", eng[key])
        if op.kind == "query":
            add("queries.build_s", ph.get("build_s", 0.0))
            add("queries.exec_s", ph.get("exec_s", 0.0))
            add("queries.jobs", eng["jobs"])
            m[f"op.{op.name}.jobs"] = eng["jobs"]
            m[f"op.{op.name}.driver_gap_s"] = eng["driver_gap_s"]
        elif op.kind == "read":
            add("read.plan_s", ph.get("plan_s", 0.0))
            add("read.fetch_s", ph.get("fetch_s", 0.0))
            if op.name == ONE_PARTITION_READ:
                add("read.fetch_1p_s", ph.get("fetch_s", 0.0))
            elif op.name in MANY_PARTITION_READS:
                add("read.fetch_manyp_s", ph.get("fetch_s", 0.0))
                m["read.task_skew"] = max(m.get("read.task_skew", 0.0), eng["task_skew"])
            add("read.partitions", eng["max_stage_tasks"])
        else:
            add("write.total_s", ph.get("total_s", 0.0))
            add("write.stage_s", eng["job_span_s"])
            add("write.partitions", eng["max_stage_tasks"])
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isfile(os.path.join(ROOT, "dask_snowflake_spark", "__init__.py")):
        print("perfbench: no dask_snowflake_spark package in this checkout", file=sys.stderr)
        return 2
    import fixtures
    from stats import result_line, tail_percentile

    data_dir = fixtures.ensure(WORK)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir)

    run = Run(args, data_dir, run_dir)
    try:
        run.setup()
        run.measure()
    finally:
        if hasattr(run, "spark"):
            stop_session(run.spark)
    metrics = run.per_layer() if args.trace else run.end_to_end()
    for problem in run.problems:
        print(f"FAILED {problem}", file=sys.stderr)
    walls = run.op_walls()
    tail = tail_percentile(walls)
    print(
        f"perfbench {args.workload} seed={args.seed}: {len(run.ops)} ops, "
        f"{len(run.untraced)} untraced + {len(run.traced)} traced passes; "
        + (f"op p{tail[0]:.0f} = {tail[1]:.3f} s" if tail else "no tail percentile")
        + f" over {len(walls)} ops; host.calib_s start={run.layers['host.calib_start_s']:.3f}"
        f" end={run.layers['host.calib_end_s']:.3f}"
    )
    correct = not run.problems
    print(result_line(correct, run.attempted, run.failed, metrics))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
