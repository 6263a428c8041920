#!/usr/bin/env python
"""Separate plan regressions from host noise in a bench run.

Job counts per query are DETERMINISTIC for a fixed plan (both bench
passes record identical ``job_runs`` maps every round), while wall
times swing with host load — the round-8 audit measured a uniform
1.17x host shift with zero job deltas. So the regression signal is:

- job count changed  -> the PLAN changed; wall delta is attributable
  (intended rewrite or accidental regression — adjudicate).
- job count same     -> wall delta is host noise / data distribution;
  compare against the run's median ratio before worrying.

Usage:
  python tools/bench_diff.py                      # current vs baseline
  python tools/bench_diff.py --update-baseline    # accept current jobs
  python tools/bench_diff.py OLD.json NEW.json    # any two bench files

"current" is BENCH_QUERIES.json (written by bench.py); the baseline is
the checked-in BENCH_JOBS_BASELINE.json (jobs map only). Exit status 1
iff any job-count delta exists, so round scripts can gate on it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CURRENT = os.path.join(REPO, "BENCH_QUERIES.json")
BASELINE = os.path.join(REPO, "BENCH_JOBS_BASELINE.json")


def _jobs(path: str) -> dict[str, int]:
    with open(path) as f:
        d = json.load(f)
    d = d["jobs"] if "jobs" in d else d
    return {k: v for k, v in d.items() if not k.startswith("__")}


def _sf(path: str):
    with open(path) as f:
        d = json.load(f)
    return d.get("sf", d.get("__sf__"))


def _queries(path: str) -> dict[str, float]:
    with open(path) as f:
        d = json.load(f)
    return d.get("queries", {})


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--update-baseline" in sys.argv:
        if args:
            # the update path always snapshots BENCH_QUERIES.json; a
            # positional file here means the caller expected THAT file
            # to become the baseline — refuse rather than silently
            # committing a stale snapshot as the round's gate
            raise SystemExit(
                "--update-baseline takes no file arguments (it snapshots "
                f"{CURRENT}); re-run bench.py first, then update"
            )
        jobs = dict(_jobs(CURRENT))
        sf = _sf(CURRENT)
        if sf is not None:
            # tag the baseline with the SF it was captured at: CC and
            # recursive-CTE round counts are data-driven, so job maps
            # are only comparable between runs at the SAME scale factor
            jobs["__sf__"] = sf
        with open(BASELINE, "w") as f:
            json.dump(dict(sorted(jobs.items())), f, indent=0, sort_keys=True)
            f.write("\n")
        print(f"baseline updated: {len(jobs) - (sf is not None)} queries (sf={sf}) -> {BASELINE}")
        return 0

    old_path, new_path = (
        (args[0], args[1]) if len(args) == 2 else (BASELINE, CURRENT)
    )
    old, new = _jobs(old_path), _jobs(new_path)
    sf_old, sf_new = _sf(old_path), _sf(new_path)
    if sf_old is not None and sf_new is not None and sf_old != sf_new:
        print(
            f"note: comparing sf={sf_old} baseline vs sf={sf_new} run — "
            "CC/recursive round counts are data-driven; job deltas in "
            "those families are expected across SFs"
        )
    qnew, qold = _queries(new_path), _queries(old_path)

    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    if not common:
        # zero overlap is a failed comparison (wrong file format, wrong
        # artifact), not stability — never green-light it
        print(
            f"ERROR: no common queries between {old_path} and {new_path} "
            f"({len(old)} vs {len(new)} entries) — wrong file(s)?"
        )
        return 1
    # the SAME comparison the bench headline uses (bench.job_deltas):
    # common-query changes plus baseline queries missing from the run
    import importlib.util

    _spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(bench)
    deltas = sorted(
        (k, a, b) for k, (a, b) in bench.job_deltas(old, new).items()
    )

    if qold and qnew:
        ratios = [qnew[k] / qold[k] for k in common if k in qold and k in qnew and qold[k] > 0]
        if ratios:
            print(
                f"host factor (median wall ratio over {len(ratios)} common "
                f"queries): {statistics.median(ratios):.2f}x"
            )
    if added:
        print(f"new queries ({len(added)}): {', '.join(added)}")
    # removed queries surface as [old, None] deltas via bench.job_deltas

    if not deltas:
        print(f"PLAN-STABLE: {len(common)} common queries, zero job-count deltas")
        return 0
    print(f"JOB-COUNT DELTAS ({len(deltas)}) — plan changes, adjudicate each:")
    for k, a, b in deltas:
        wall = ""
        if k in qold and k in qnew:
            wall = f"  wall {qold[k]:.2f}s -> {qnew[k]:.2f}s"
        tgt = "REMOVED from run" if b is None else b
        print(f"  {k}: jobs {a} -> {tgt}{wall}")
    return 1


if __name__ == "__main__":
    sys.exit(main())
