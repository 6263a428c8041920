"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixtures  # noqa: E402
import run  # noqa: E402
from stats import NAME_RE, result_line, tail_percentile  # noqa: E402
from tracing import parse_time, union_length  # noqa: E402
from workloads import Collected, Context, WriteOp, arrow_digest  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail percentile: at least ten samples beyond -------------------------


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    pct, value = tail_percentile([float(i) for i in range(11)])
    assert value == 0.0 and pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [11, 20, 40, 100, 137])
def test_tail_has_exactly_ten_beyond(n):
    samples = [float(i) for i in range(n)]
    random.Random(n).shuffle(samples)
    pct, value = tail_percentile(samples)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_at_100_samples_is_p90():
    pct, value = tail_percentile([float(i) for i in range(1, 101)])
    assert (pct, value) == (90.0, 90.0)


# -- metric-name grammar ------------------------------------------------------


def test_every_printed_metric_name_matches_the_grammar():
    for name in list(run.END_TO_END) + run.per_layer_names():
        assert NAME_RE.fullmatch(name), name
        assert len(name) <= 64


@pytest.mark.parametrize("bad", ["", ".x", "a b", "op/x", "é", "x" * 65, "a,b"])
def test_result_line_rejects_bad_names(bad):
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {bad: (1.0, "s")})


def test_result_line_shape():
    line = json.loads(result_line(True, 3, 1, {"pass_s": (1.25, "s")}))
    assert line == {
        "correct": True,
        "attempted": 3,
        "failed": 1,
        "metrics": {"pass_s": {"value": 1.25, "unit": "s"}},
    }


def test_benchmark_json_lists_what_the_runs_print():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    for m in spec["per_layer"]:
        assert m["unit"] == run.metric_unit(m["name"]), m
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


# -- output checks catch corrupted results -----------------------------------


def _oracle_con():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS k, i * 2 AS v FROM range(5) r(i)")
    return con


def test_registry_check_passes_on_the_true_result():
    from tests.oracle import compare

    rows = [(k, k * 2) for k in range(5)]
    random.Random(0).shuffle(rows)
    assert compare("q", Collected(["k", "v"], rows), "SELECT k, v FROM t", _oracle_con()) == []


@pytest.mark.parametrize(
    "rows",
    [
        [(k, k * 2) for k in range(4)],  # a row lost
        [(k, k * 2 + (k == 3)) for k in range(5)],  # one value off
        [(k, k * 2) for k in range(5)] + [(0, 0)],  # a row duplicated
    ],
)
def test_registry_check_fails_on_a_corrupted_result(rows):
    from tests.oracle import compare

    assert compare("q", Collected(["k", "v"], rows), "SELECT k, v FROM t", _oracle_con())


def test_read_digest_is_order_insensitive_and_catches_corruption():
    table = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"], "c": [0.5, 1.5, 2.5]})
    shuffled = table.take([2, 0, 1]).select(["c", "a", "b"])
    assert arrow_digest(shuffled) == arrow_digest(table)
    corrupted = pa.table({"a": [1, 2, 3], "b": ["x", "y", "Z"], "c": [0.5, 1.5, 2.5]})
    assert arrow_digest(corrupted) != arrow_digest(table)


def test_read_digest_widens_types_like_both_engines():
    narrow = pa.table({"a": pa.array([1, 2], pa.int32()), "t": pa.array([0, 1], pa.timestamp("us"))})
    wide = pa.table({"a": pa.array([1, 2], pa.int64()), "t": pa.array([0, 1], pa.timestamp("us", "UTC"))})
    assert arrow_digest(narrow) == arrow_digest(wide)


def test_write_check_catches_a_corrupted_table(tmp_path):
    src = pa.table({"id": list(range(100)), "x": [i / 4 for i in range(100)], "s": ["a"] * 100})
    pq.write_table(src, tmp_path / "things.parquet")
    db = str(tmp_path / "w.duckdb")
    con = duckdb.connect(db)
    con.execute(f"CREATE TABLE \"OUT\" AS SELECT * FROM read_parquet('{tmp_path / 'things.parquet'}')")
    con.close()
    op, ctx = WriteOp("write_things", "things", "out"), Context(None, str(tmp_path), warehouse_db=db)
    assert op.check(ctx) == []
    con = duckdb.connect(db)
    con.execute('UPDATE "OUT" SET x = x + 1 WHERE id = 7')
    con.close()
    assert op.check(ctx)


# -- tracing arithmetic and inputs --------------------------------------------


def test_union_length_merges_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert union_length(spans, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
    assert union_length([], 0.0, 1.0) == 0.0


def test_parse_time_reads_status_store_stamps():
    assert parse_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


def test_inputs_are_deterministic():
    a, b = fixtures.generate_tables(0.001), fixtures.generate_tables(0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
