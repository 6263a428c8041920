#!/usr/bin/env python
"""Fingerprint the query registry of a checkout, or compare two
fingerprints — the check that a refactor of the registry's declarations
(docstrings, comments, module layout) changed no query.

Per query it records the oracle string and two hashes of ``spark_fn``'s
code, recursing into nested code objects:

- ``raw``: co_code plus every constant except the docstring slot
  co_consts[0];
- ``resolved``: the instruction stream with each constant operand
  replaced by the constant itself. A function without a docstring shares
  its co_consts[0] ``None`` with uses of ``None`` in its body; adding a
  docstring gives that ``None`` its own slot and shifts later constant
  indexes, which changes ``raw`` but not ``resolved``.

With ``--plans`` it instead runs the queries of a checkout on a
fixture and records, per query, the optimized logical plan and a sha256
of the sorted collected rows — the check that a refactor of the
plan-building code changed no query. The plan text is normalised for
the ids Spark assigns per session or in runtime order: expression ids
(``#123``), lambda variable suffixes (``x_45``), ``plan_id``s, RDD ids,
the per-session suffix of ``file_bucketed_join``'s tables, and the
numbers of adaptive query stages and codegen stages inside cached
plans.

Usage:
  python tools/registry_fingerprint.py CHECKOUT OUT.json
  python tools/registry_fingerprint.py --plans CHECKOUT SF_DIR OUT.json [name ...]
  python tools/registry_fingerprint.py --compare BEFORE.json AFTER.json
"""

from __future__ import annotations

import difflib
import dis
import hashlib
import json
import re
import sys
import types


def _raw(code: types.CodeType, top: bool) -> str:
    consts = code.co_consts[1:] if top else code.co_consts
    parts = [code.co_code.hex(), repr(code.co_names), repr(code.co_varnames),
             repr(code.co_freevars), repr(code.co_cellvars)]
    parts += [_raw(c, False) if isinstance(c, types.CodeType) else repr(c) for c in consts]
    return "(" + "|".join(parts) + ")"


def _resolved(code: types.CodeType) -> str:
    parts = [repr(code.co_names), repr(code.co_varnames), repr(code.co_freevars),
             repr(code.co_cellvars)]
    for ins in dis.get_instructions(code):
        arg = repr(ins.arg)
        if ins.opcode in dis.hasconst:
            c = code.co_consts[ins.arg]
            arg = _resolved(c) if isinstance(c, types.CodeType) else repr(c)
        parts.append(f"{ins.offset}:{ins.opname}:{arg}")
    return "(" + "|".join(parts) + ")"


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def dump(checkout: str, out: str) -> None:
    sys.path.insert(0, checkout)
    from dask_snowflake_spark.queries import registry

    fps = {
        name: {
            "oracle": qd.oracle,
            "raw": _sha(_raw(qd.spark_fn.__code__, True)),
            "resolved": _sha(_resolved(qd.spark_fn.__code__)),
            "defaults": repr(qd.spark_fn.__defaults__),
        }
        for name, qd in sorted(registry().items())
    }
    with open(out, "w") as f:
        json.dump(fps, f, indent=0, sort_keys=True)
    print(f"{len(fps)} queries -> {out}")


_PLAN_IDS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(_bucketed)_[0-9a-f]{8}\b"), r"\1_"),
    (re.compile(r"(QueryStage) \d+"), r"\1"),
    (re.compile(r"\*\(\d+\)"), "*()"),
]


def _normalise_plan(plan: str) -> str:
    for pat, repl in _PLAN_IDS:
        plan = pat.sub(repl, plan)
    return plan


def dump_plans(checkout: str, sf_dir: str, out: str, names: list[str]) -> None:
    sys.path.insert(0, checkout)
    from dask_snowflake_spark.queries import registry
    from dask_snowflake_spark.session import get_session, register_tables

    reg = registry()
    unknown = [n for n in names if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_session("dask_snowflake_spark-plan-dump")
    register_tables(spark, sf_dir)
    dumps = {}
    for name in names or sorted(reg):
        df = reg[name].spark_fn(spark, sf_dir)
        rows = sorted(repr(tuple(r)) for r in df.collect())
        dumps[name] = {
            "plan": _normalise_plan(df._jdf.queryExecution().optimizedPlan().toString()),
            "rows": _sha("\n".join(rows)),
        }
        print(f"{name}: {len(rows)} rows", flush=True)
    with open(out, "w") as f:
        json.dump(dumps, f, indent=0, sort_keys=True)
    print(f"{len(dumps)} plans -> {out}")


def compare(before: str, after: str) -> int:
    a, b = (json.load(open(p)) for p in (before, after))
    print(f"names: {len(a)} -> {len(b)}, identical: {sorted(a) == sorted(b)}")
    common = sorted(set(a) & set(b))
    failed = sorted(a) != sorted(b)
    if common and "plan" in a[common[0]]:
        for dumps in (a, b):  # dumps written under older rules compare too
            for d in dumps.values():
                d["plan"] = _normalise_plan(d["plan"])
        for key in ("plan", "rows"):
            diff = [n for n in common if a[n][key] != b[n][key]]
            print(f"{key}: {len(common) - len(diff)}/{len(common)} identical; differing: {diff}")
            failed |= bool(diff)
        for n in common:
            if a[n]["plan"] != b[n]["plan"]:
                sys.stdout.writelines(difflib.unified_diff(
                    a[n]["plan"].splitlines(True), b[n]["plan"].splitlines(True),
                    f"{n} (before)", f"{n} (after)"))
        return int(failed)
    for key in ("oracle", "raw", "resolved", "defaults"):
        diff = [n for n in common if a[n][key] != b[n][key]]
        print(f"{key}: {len(common) - len(diff)}/{len(common)} identical; differing: {diff}")
        failed |= key != "raw" and bool(diff)
    return int(failed)


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    if len(sys.argv) >= 5 and sys.argv[1] == "--plans":
        sys.exit(dump_plans(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:]))
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    dump(sys.argv[1], sys.argv[2])
