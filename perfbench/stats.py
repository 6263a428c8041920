"""Small measurement helpers: the tail-percentile rule, the metric-name
grammar, the result line and the process-tree memory sampler."""

from __future__ import annotations

import json
import os
import re
import threading

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that has at least ``beyond`` samples above
    it, as ``(percentile, value)``; None when there are too few samples
    for any percentile to have that many beyond it."""
    n = len(samples)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based: exactly `beyond` samples sit above it
    return 100.0 * rank / n, sorted(samples)[rank - 1]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: validated names and units, values as measured."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.fullmatch(name) or not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out})


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                ppid = int(f.read().rpartition(")")[2].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _name_and_hwm(pid: int) -> tuple[str, int] | None:
    """Command name and peak resident bytes (``VmHWM``) of ``pid``."""
    name = ""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    return name, int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass  # exited
    return None


class PeakRss:
    """Peak resident memory of this process's tree over a ``with`` block.

    Each process's own high-water mark (``VmHWM``) is reset on entry
    (``/proc/<pid>/clear_refs``) and polled every ``interval`` seconds;
    processes started inside the block count from their start. The
    results are sums of the per-process peaks: :attr:`peak` over the
    driver Python, the JVM and every Python worker, :attr:`python_peak`
    without the JVM. The kernel keeps each peak exactly, so a short
    spike between polls is not missed."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._peaks: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak(self) -> int:
        return sum(hwm for _, hwm in self._peaks.values())

    @property
    def python_peak(self) -> int:
        return sum(hwm for name, hwm in self._peaks.values() if name != "java")

    def _poll(self) -> None:
        for pid in process_tree(os.getpid()):
            got = _name_and_hwm(pid)
            if got is not None:
                self._peaks[pid] = (got[0], max(self._peaks.get(pid, ("", 0))[1], got[1]))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._poll()

    def __enter__(self):
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # 5: reset the peak resident set size
            except OSError:
                pass  # exited
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()
        return False
