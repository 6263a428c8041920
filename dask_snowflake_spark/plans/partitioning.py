"""Partition sizing for the warehouse reader.

The reference bin-packs small Arrow result batches ("less than 1 MiB in
practice", /root/reference/dask_snowflake/core.py:159-161) into ~equal
read partitions, targeted either by an explicit partition count or by a
byte size (default "100MiB", core.py:258-260), with per-row bytes
estimated from a sampled first batch (core.py:178-179).

This module implements the same *contract* (exactly-one-of validation,
default 100MiB, every partition < 2x the requested size, partition count
within +/-2 of requested — the reference's own test assertions,
test_core.py:294-319) with our own greedy accumulation.

At 100 TB the planning cost matters: this runs on the driver over batch
*descriptors* only (rowcounts), never data — O(#batches) time and memory,
no materialization.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

_UNITS = {
    "": 1,
    "b": 1,
    "k": 10**3,
    "m": 10**6,
    "g": 10**9,
    "t": 10**12,
    "kb": 10**3,
    "mb": 10**6,
    "gb": 10**9,
    "tb": 10**12,
    "kib": 2**10,
    "mib": 2**20,
    "gib": 2**30,
    "tib": 2**40,
}

DEFAULT_PARTITION_SIZE = "100MiB"


def parse_bytes(value: str | int | float) -> int:
    """'100MiB' -> 104857600. Accepts ints/floats (bytes) passthrough."""
    if isinstance(value, (int, float)):
        return int(value)
    m = re.fullmatch(r"\s*([0-9]*\.?[0-9]+)\s*([A-Za-z]*)\s*", value)
    if not m:
        raise ValueError(f"Could not parse byte size {value!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    if unit not in _UNITS:
        raise ValueError(f"Unknown byte unit {unit!r} in {value!r}")
    return int(num * _UNITS[unit])


def plan_partitions(
    rowcounts: Sequence[int],
    *,
    bytes_per_row: float,
    npartitions: int | None = None,
    partition_size: str | int | None = None,
) -> list[list[int]]:
    """Group batch indices into read partitions.

    Exactly one of ``npartitions`` / ``partition_size`` may be given
    (both None -> default 100MiB target, mirroring the reference's
    defaulting). Returns a list of index groups; every group's rowcount
    stays under 2x the target so the reference's partition-size bound
    holds.
    """
    if npartitions is not None and partition_size is not None:
        raise ValueError(
            "Specify either npartitions or partition_size, not both "
            "(reference contract: dask_snowflake/core.py:164-167)"
        )
    total_rows = sum(rowcounts)
    if total_rows == 0 or not rowcounts:
        return []
    if npartitions is not None:
        if npartitions < 1:
            raise ValueError(f"npartitions must be >= 1, got {npartitions}")
        # Per-group QUOTAS, not one fixed target: a single integer
        # target t yields ~ceil(total/t) greedy groups, and for many
        # (total, n) no integer t lands within ±2 of n (floor(100/7)=1
        # packs 13 units into 13 groups; at n=28 the best of floor/ceil
        # still misses by 3). Spreading the remainder — the first
        # total%n groups get base+1 rows — packs fine batches into
        # EXACTLY n groups; coarse batches can still straddle a quota
        # (a batch is never split client-side), which is what the ±2
        # contract allows for.
        base, rem = divmod(total_rows, npartitions)
        quotas = [base + 1] * rem + [max(1, base)] * (npartitions - rem)
    else:
        size = partition_size if partition_size is not None else DEFAULT_PARTITION_SIZE
        quotas = [max(1, int(parse_bytes(size) / max(bytes_per_row, 1e-9)))]

    groups: list[list[int]] = []
    current: list[int] = []
    current_rows = 0
    for i, rc in enumerate(rowcounts):
        if rc <= 0:
            continue
        # close the running group before it would exceed its quota (the
        # last quota repeats), unless it is empty: a single oversized
        # batch forms its own group — it cannot be split client-side
        if current and current_rows + rc > quotas[min(len(groups), len(quotas) - 1)]:
            groups.append(current)
            current, current_rows = [], 0
        current.append(i)
        current_rows += rc
    if current:
        groups.append(current)
    return groups
