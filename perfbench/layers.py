"""Arithmetic behind the per-layer numbers: no Spark, no I/O.

Everything here is a pure function of strings and numbers so that the
benchmark's own arithmetic can be unit-tested without a session:

- ``parse_sql_metric``: the value of one formatted SQL metric as Spark's
  SQL status store renders it (``"2.3 MiB"``, ``"1.2 s"``, ``"400,000"``
  or the multi-task ``"total (min, med, max (stageId: taskId))\\n..."``).
- ``interval_union``: the length covered by a set of ``(start, end)``
  intervals, optionally clipped to a window.  ``driver.self_s`` is a
  query's wall time minus the union of its job intervals.
- ``Span`` / ``self_times``: a span's self time is its duration minus the
  part of its interval that its child spans cover.
- ``parse_phases``: the phases of a ``QueryPlanningTracker`` as its
  Scala map renders them.
- ``count_exchanges``: Exchange nodes in the final adaptive plan of a
  formatted physical-plan description.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# Spark's Utils.bytesToString / msDurationToString units
_SIZE = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "PiB": 1024.0**5,
    "EiB": 1024.0**6,
}
_SECONDS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric, in bytes, seconds or a count.

    A metric summed over several tasks reads
    ``"total (min, med, max (stageId: taskId))\\n1.3 s (286 ms, 323 ms,
    334 ms (stage 12.0: task 23))"``; its total (the first figure of the
    last line) is returned.  Raises ``ValueError`` on anything else, such
    as the ``(min, med, max)``-only rendering of an average metric.
    """
    lines = text.strip().splitlines()
    head = lines[-1].split(" (", 1)[0].split() if lines else []
    if not head or head[0].startswith("("):
        raise ValueError(f"not a summable SQL metric: {text!r}")
    value = float(head[0].replace(",", ""))
    if len(head) == 1:
        return value
    if len(head) == 2 and head[1] in _SIZE:
        return value * _SIZE[head[1]]
    if len(head) == 2 and head[1] in _SECONDS:
        return value * _SECONDS[head[1]]
    raise ValueError(f"unknown SQL metric unit: {text!r}")


def interval_union(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each clipped
    to ``[lo, hi]`` when those are given.  Overlaps count once."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    clipped.sort()
    total = 0.0
    cur_start = cur_end = None
    for start, end in clipped:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    """One traced interval.  ``parent`` is the index of the span that
    caused it in the trace's span list (``None`` for a root)."""

    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the part of its
    interval covered by its direct children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - interval_union(children.get(i, ()), s.start, s.end)
        for i, s in enumerate(spans)
    ]


_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


def parse_phases(text: str) -> dict[str, tuple[float, float]]:
    """``{phase: (start, end)}`` in epoch seconds from a tracker's
    ``phases().mkString(" | ")``, e.g. ``"planning ->
    PhaseSummary(1792220916611, 1792220916716) | ..."`` (milliseconds)."""
    return {m[1]: (int(m[2]) / 1e3, int(m[3]) / 1e3) for m in _PHASE.finditer(text)}


_PLAN_NODE = re.compile(r"^[\s:|+\-*]*(\w+)")
_EXCHANGES = ("Exchange", "BroadcastExchange")


def count_exchanges(plan: str) -> int:
    """Exchange and BroadcastExchange nodes in the node tree of a
    formatted physical plan.  For an adaptive plan only the
    ``== Final Plan ==`` subtree is counted; reused exchanges are not."""
    tree = []
    for line in plan.splitlines():
        if line.startswith("("):  # the per-node detail section begins
            break
        tree.append(line)
    text = "\n".join(tree)
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1]
        text = text.split("== Initial Plan ==", 1)[0]
    count = 0
    for line in text.splitlines():
        m = _PLAN_NODE.match(line)
        if m and m.group(1) in _EXCHANGES:
            count += 1
    return count
