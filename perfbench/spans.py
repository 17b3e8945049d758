"""Span records, self time, Spark event-log parsing and per-layer metrics.

A span is one timed interval: an operation call into the engine, or one
of its two phases, ``build`` (the public call itself) and ``exec`` (the
action the benchmark runs on what the call returned). Spans are kept in
memory and written once when the benchmark ends. Nothing here imports
Spark, so every function is unit-tested on hand-made inputs.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# Local property the benchmark sets around each phase; the event log
# copies it into every job and stage that phase submits.
SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanLog:
    """In-memory span store, written out by ``dump``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, start: float, parent: int | None, run: int) -> Span:
        span = Span(len(self.spans), name, start, parent=parent, run=run)
        self.spans.append(span)
        return span

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


def parse_event_log(lines) -> dict:
    """Per-span totals from an uncompressed Spark event log.

    Jobs and stages are attributed through the ``SPAN_PROPERTY`` local
    property (present in job-start and stage-submitted properties);
    tasks through their stage. Returns span key -> dict of ``jobs``,
    ``run_ms`` (executor run time), ``shuffle_write_bytes`` and
    ``shuffle_write_records``.
    """
    out: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    stage_span: dict[tuple[int, int], str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            if key is not None:
                out[key]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            key = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            info = ev["Stage Info"]
            if key is not None:
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if key is None:
                continue
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc = out[key]
            acc["run_ms"] += m.get("Executor Run Time", 0)
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    return {k: dict(v) for k, v in out.items()}


def layer_metrics(log: SpanLog, events: dict, nproc: int, measures: dict) -> dict:
    """Per-layer metrics from the op spans of ``log``.

    An op span (``attrs["op"]`` true) has a ``build`` child and, when
    the benchmark ran an action on the result, an ``exec`` child.
    ``measures`` maps op name -> the measure names to report:
    ``build_s``/``exec_s`` (median phase seconds per call),
    ``build_jobs`` (median jobs run while building), ``shuffle_write_mb``
    (median per call), ``core_util`` (executor run time over wall time
    × nproc, pooled over calls) and ``yield`` (output rows over shuffle
    records written, pooled). Returns ``{"<op>.<measure>": value}``.
    """
    per_op: dict[str, list] = defaultdict(list)
    for span in log.spans:
        if not span.attrs.get("op"):
            continue
        phases = {c.name: c for c in log.children(span.id)}
        per_op[span.name].append((span, phases))

    def both(phases, key):
        return sum(events.get(str(p.id), {}).get(key, 0) for p in phases.values())

    out = {}
    for op, wanted in measures.items():
        calls = per_op.get(op, [])
        if not calls:
            out.update({f"{op}.{m}": 0.0 for m in wanted})
            continue
        wall = sum(s.duration for s, _ in calls)
        values = {
            "build_s": statistics.median(p["build"].duration for _, p in calls),
            "exec_s": statistics.median(
                p["exec"].duration if "exec" in p else 0.0 for _, p in calls
            ),
            "build_jobs": statistics.median(
                p["build"].attrs.get("jobs", 0) for _, p in calls
            ),
            "shuffle_write_mb": statistics.median(
                both(p, "shuffle_write_bytes") / 1e6 for _, p in calls
            ),
            "core_util": sum(both(p, "run_ms") for _, p in calls)
            / 1000.0
            / (wall * nproc),
        }
        records = sum(both(p, "shuffle_write_records") for _, p in calls)
        rows = sum(s.attrs.get("rows", 0) for s, _ in calls)
        values["yield"] = rows / records if records else 0.0
        out.update({f"{op}.{m}": values[m] for m in wanted})
    return out


def coverage(log: SpanLog) -> float:
    """Share of the pass spans' wall time covered by their op spans."""
    roots = [s for s in log.spans if s.parent is None]
    total = sum(s.duration for s in roots)
    uncovered = sum(self_time(s, log.children(s.id)) for s in roots)
    return 1.0 - uncovered / total if total else 0.0
