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

Usage:
  python tools/registry_fingerprint.py CHECKOUT OUT.json
  python tools/registry_fingerprint.py --compare BEFORE.json AFTER.json
"""

from __future__ import annotations

import dis
import hashlib
import json
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


def compare(before: str, after: str) -> int:
    a, b = (json.load(open(p)) for p in (before, after))
    print(f"names: {len(a)} -> {len(b)}, identical: {sorted(a) == sorted(b)}")
    common = sorted(set(a) & set(b))
    failed = sorted(a) != sorted(b)
    for key in ("oracle", "raw", "resolved", "defaults"):
        diff = [n for n in common if a[n][key] != b[n][key]]
        print(f"{key}: {len(common) - len(diff)}/{len(common)} identical; differing: {diff}")
        failed |= key != "raw" and bool(diff)
    return int(failed)


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    dump(sys.argv[1], sys.argv[2])
