"""Measurement helpers that need no Spark: percentiles, span self time,
process-tree CPU and resident memory read from ``/proc``, and the span
recorder behind the traced mode.

Everything here is a pure function of its inputs (``proc`` roots are
parameters), so ``test_harness.py`` checks each against hand-computed
values.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

#: Samples a reported tail must have beyond it.
TAIL_BEYOND = 10


def tail(sorted_vals: list[float]) -> tuple[float, float]:
    """``(percentile, value)`` of the highest nearest-rank percentile of
    ascending ``sorted_vals`` that leaves ``TAIL_BEYOND`` samples beyond
    it: the value with exactly that many samples above it. Refuses sets
    so small that this would fall below the median."""
    n = len(sorted_vals)
    if n < 2 * TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail with {TAIL_BEYOND} beyond it needs {2 * TAIL_BEYOND}")
    return 100.0 * (n - TAIL_BEYOND) / n, sorted_vals[n - TAIL_BEYOND - 1]


def median(vals: list[float]) -> float:
    return statistics.median(vals)


def covered(interval: tuple[float, float], others: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``others``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in others if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    children's intervals cover (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered((s["start"], s["end"]), kids.get(s["id"], []))
        for s in spans
    }


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory; a
    disabled tracer records nothing and costs one branch per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        by_id = {s["id"]: s for s in self.spans}
        for sid, t in self_times(self.spans).items():
            name = by_id[sid]["name"]
            out[name] = out.get(name, 0.0) + t
        return out


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(text: str) -> list[str]:
    """Fields of a ``/proc/<pid>/stat`` line after the ``(comm)`` field,
    which may itself hold spaces or parentheses; index 0 is ``state``."""
    return text[text.rindex(")") + 2 :].split()


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the process ended between listing and reading
        return None


def process_table(proc: str = "/proc") -> dict[int, tuple[int, float]]:
    """``pid -> (ppid, user+sys CPU seconds of the process and of its
    reaped children)`` for every process ``proc`` lists."""
    table = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        text = _read(os.path.join(proc, entry, "stat"))
        if text is None:
            continue
        f = _stat_fields(text)
        # after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        table[int(entry)] = (int(f[1]), ticks / CLK_TCK)
    return table


def descendants(root: int, table: dict[int, tuple[int, float]]) -> set[int]:
    """``root`` and every process below it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, []))
    return out & set(table)


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds (user+sys) used so far by ``root``'s process tree.

    A child that ended was reaped by a parent inside the tree, which
    then carries its time in cutime/cstime, so the difference of two
    readings counts work by processes that came and went between them.
    """
    table = process_table(proc)
    return sum(table[pid][1] for pid in descendants(root, table))


def tree_peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum of the peak resident sets (VmHWM) of ``root``'s live process
    tree, in MiB."""
    table = process_table(proc)
    kib = 0
    for pid in descendants(root, table):
        text = _read(os.path.join(proc, str(pid), "status"))
        for line in (text or "").splitlines():
            if line.startswith("VmHWM:"):
                kib += int(line.split()[1])
    return kib / 1024.0


def process_age_s(pid: int | None = None, proc: str = "/proc") -> float:
    """Seconds since ``pid`` (default: this process) started."""
    pid = pid or os.getpid()
    start_ticks = int(_stat_fields(_read(os.path.join(proc, str(pid), "stat")))[19])
    uptime = float(_read(os.path.join(proc, "uptime")).split()[0])
    return uptime - start_ticks / CLK_TCK
