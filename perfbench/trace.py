"""Bench-side spans and a stdlib parser for Spark's JSON event log.

Spans are recorded around the benchmark's own calls into the program's
public functions; the program itself is not instrumented. Every Spark job a
span starts carries the span id in the thread-local property
``bench.span``, which the program's own ``setJobGroup`` calls leave alone,
so the event log ties each job, stage and task back to its span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "bench.span"


@dataclass
class Span:
    span_id: str
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    parent: str | None = None
    request: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    """Keeps spans in memory; ``dump`` writes them once at the end.

    A disabled tracer records nothing and sets no local property, so the
    untraced run pays only for the ``with`` statement."""

    spark: object | None = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = f"s{len(self.spans) + len(self._stack) + 1}"
        stack = self._stack
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(sid, name, time.time(), parent=parent.span_id if parent else None,
                  request=request)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, sid)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            sc.setLocalProperty(SPAN_PROPERTY, prev)
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.__dict__) + "\n")

    def self_ms(self) -> dict[str, float]:
        """Span id -> duration minus the time its child spans cover."""
        children: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.parent:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered = _union_ms(
                [(c.start * 1000, c.end * 1000) for c in children.get(sp.span_id, [])],
                sp.start * 1000,
                sp.end * 1000,
            )
            out[sp.span_id] = sp.ms - covered
        return out


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- event log --------------------------------------------------------------


@dataclass
class SpanLedger:
    """Spark work attributed to one span by the event log."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    task_intervals: list[tuple[float, float]] = field(default_factory=list)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, SpanLedger]:
    """Span id -> ledger, from the (finished) JSON event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_span: dict[int, str] = {}
    ledgers: dict[str, SpanLedger] = {}
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                if not sid:
                    continue
                ledgers.setdefault(sid, SpanLedger()).jobs += 1
                for st in ev.get("Stage IDs", []):
                    stage_span[st] = sid
            elif kind == "SparkListenerStageCompleted":
                sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                if sid:
                    ledgers[sid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if not sid:
                    continue
                led = ledgers[sid]
                info = ev["Task Info"]
                led.tasks += 1
                led.failed_tasks += bool(info.get("Failed"))
                led.task_intervals.append((info["Launch Time"], info["Finish Time"]))
                m = ev.get("Task Metrics") or {}
                led.run_ms += m.get("Executor Run Time", 0)
                led.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                led.gc_ms += m.get("JVM GC Time", 0)
                led.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                led.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                led.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return ledgers


def ledger_for(span_ids, ledgers: dict[str, SpanLedger]) -> SpanLedger:
    """The summed ledger of the given spans."""
    out = SpanLedger()
    for sid in span_ids:
        led = ledgers.get(sid)
        if led is None:
            continue
        for k in ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms",
                  "gc_ms", "shuffle_write_bytes", "spill_bytes", "records_read"):
            setattr(out, k, getattr(out, k) + getattr(led, k))
        out.task_intervals.extend(led.task_intervals)
    return out


def rollup(spans: list[Span], ledgers: dict[str, SpanLedger]) -> dict[str, SpanLedger]:
    """Span id -> the summed ledger of the span and all its descendants."""
    parent = {sp.span_id: sp.parent for sp in spans}
    members: dict[str, list[str]] = {sp.span_id: [] for sp in spans}
    for sid in ledgers:
        cur = sid
        while cur in members:
            members[cur].append(sid)
            cur = parent[cur]
    return {sid: ledger_for(ids, ledgers) for sid, ids in members.items()}


def no_task_ms(span: Span, ledger: SpanLedger) -> float:
    """Wall time of ``span`` during which none of its tasks was running."""
    lo, hi = span.start * 1000, span.end * 1000
    return (hi - lo) - _union_ms(ledger.task_intervals, lo, hi)


def spark_metrics(ledgers: dict[str, SpanLedger], all_spans: list[Span],
                  spans: list[Span], per: int) -> dict[str, float]:
    """spark.* over ``spans`` (each with its descendants), divided by ``per``
    requests or passes."""
    rolled = rollup(all_spans, ledgers)
    led = ledger_for([sp.span_id for sp in spans], rolled)
    per = max(per, 1)
    return {
        "spark.jobs": led.jobs / per,
        "spark.stages": led.stages / per,
        "spark.tasks": led.tasks / per,
        "spark.failed_tasks": led.failed_tasks / per,
        "spark.executor_run_ms": led.run_ms / per,
        "spark.executor_cpu_ms": led.cpu_ms / per,
        "spark.gc_ms": led.gc_ms / per,
        "spark.shuffle_write_bytes": led.shuffle_write_bytes / per,
        "spark.spill_bytes": led.spill_bytes / per,
        "spark.no_task_ms": sum(no_task_ms(sp, rolled[sp.span_id]) for sp in spans) / per,
    }
