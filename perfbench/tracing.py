"""Spans around calls into the program's layers, and their Spark cost.

A span has a name, a metric key, a start, an end, a parent and a
request id (the day or drop it serves). The benchmark opens spans
itself around its own steps; in a traced run ``layers.instrument`` wraps
public functions of the package's modules, from outside, so every call
into a layer opens a span. Nothing in the package is edited: the
wrapper replaces the function in every loaded module that bound it.

Spans are kept in memory and written once at the end. Spark's own
cost per span comes from the event log the traced session writes:
each job carries the job tags of the spans open when it was submitted,
and a job with no span tag (jobs run on a stream's thread) goes to the
innermost span whose interval holds its submission time.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager

_TAG = "pbspan"


class Tracer:
    """Span recorder. With ``detailed`` off only the benchmark's own
    steps are recorded, and no job tags or py4j counts are taken."""

    def __init__(self, detailed: bool = False, sc=None):
        self.detailed = detailed
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.RLock()
        self._muted = threading.local()  # the tracer's own job-tag calls
        self.py4j_calls = 0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, key: str, request: str | None = None, **attrs):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {
                "id": len(self.spans),
                "key": key,
                "parent": parent["id"] if parent else None,
                "depth": parent["depth"] + 1 if parent else 0,
                "request": request if request is not None else (parent or {}).get("request"),
                "thread": threading.current_thread().name,
                "py4j": 0,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(sp)
            self._stack.append(sp)
        self._tag(self.sc.addJobTag if self.sc else None, sp)
        try:
            yield sp
        finally:
            self._tag(self.sc.removeJobTag if self.sc else None, sp)
            with self._lock:
                sp["end"] = time.time()
                self._stack = [s for s in self._stack if s is not sp]

    def _tag(self, call, sp: dict) -> None:
        if self.detailed and call is not None:
            self._muted.on = True
            try:
                call(f"{_TAG}{sp['id']}")
            finally:
                self._muted.on = False

    def count_py4j(self) -> None:
        if getattr(self._muted, "on", False):
            return
        with self._lock:
            self.py4j_calls += 1
            if self._stack:
                self._stack[-1]["py4j"] += 1


# -- wrapping the program's functions ------------------------------------------


def _rebind(old, new, package: str) -> None:
    """Replace ``old`` by ``new`` in every loaded module of ``package``."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is old:
                setattr(mod, attr, new)


def _wrapped(tracer: Tracer, fn, key, on_call):
    """``fn`` inside a span; ``key`` is a string or a function of the
    call's arguments, ``on_call(span, args, kwargs, call)`` may run the
    call itself to record what it did."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        k = key(*args, **kwargs) if callable(key) else key
        with tracer.span(k) as sp:
            if on_call is None:
                return fn(*args, **kwargs)
            return on_call(sp, args, kwargs, lambda: fn(*args, **kwargs))

    return wrapper


def wrap_function(tracer: Tracer, module, name: str, key, package: str, on_call=None) -> None:
    fn = getattr(module, name)
    _rebind(fn, _wrapped(tracer, fn, key, on_call), package)


def wrap_method(tracer: Tracer, cls, name: str, key, on_call=None) -> None:
    setattr(cls, name, _wrapped(tracer, getattr(cls, name), key, on_call))


def count_py4j(tracer: Tracer, sc) -> None:
    """Count every command the driver sends to the JVM."""
    client = sc._gateway._gateway_client
    send = client.send_command

    def counted(*args, **kwargs):
        tracer.count_py4j()
        return send(*args, **kwargs)

    client.send_command = counted


# -- the Spark event log ---------------------------------------------------------


def parse_event_log(path: str) -> list[dict]:
    """Jobs of one event log, each with its interval, job tags and the
    summed metrics of the tasks of its stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = {t for t in (props.get("spark.job.tags") or "").split(",") if t}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "spans": sorted(int(t[len(_TAG):]) for t in tags if t.startswith(_TAG)),
                    "stages": set(),
                    "tasks": 0,
                    "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "input_bytes": 0, "input_records": 0, "output_bytes": 0,
                    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                inp = m.get("Input Metrics", {})
                job["input_bytes"] += inp.get("Bytes Read", 0)
                job["input_records"] += inp.get("Records Read", 0)
                job["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    out = []
    for j in jobs.values():
        if j["end"] is None:
            continue
        j["stages"] = len(j["stages"])
        out.append(j)
    return sorted(out, key=lambda j: j["start"])


# -- arithmetic over spans ---------------------------------------------------------


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
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
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job['span']``: the deepest tagged span, else the deepest
    span whose interval holds the job's submission time."""
    by_id = {s["id"]: s for s in spans}
    for j in jobs:
        tagged = [by_id[i] for i in j["spans"] if i in by_id]
        if not tagged:
            tagged = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        j["span"] = max(tagged, key=lambda s: (s["depth"], s["start"]))["id"] if tagged else None


def descendants(spans: list[dict], root_ids: set[int]) -> set[int]:
    """``root_ids`` and every span below them."""
    out = set(root_ids)
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["parent"] in out:
            out.add(s["id"])
    return out


def outermost_time(spans: list[dict], key_pred, within: set[int]) -> tuple[float, int]:
    """Summed wall time and count of spans matching ``key_pred`` that
    have no matching ancestor (nested calls of one layer count once)."""
    by_id = {s["id"]: s for s in spans}
    total, n = 0.0, 0
    for s in spans:
        if s["id"] not in within or not key_pred(s["key"]):
            continue
        p = s["parent"]
        nested = False
        while p is not None:
            if key_pred(by_id[p]["key"]):
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            total += s["end"] - s["start"]
            n += 1
    return total, n
