"""Spans around the program's public functions, and Spark task metrics
per job group from the event log.

The program-side process (``host.py``) wraps the layers' functions
with :meth:`Tracer.wrap`; spans stay in memory and are written once,
when the process exits. ``run.py`` turns them into per-layer figures.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

#: A span: (id, name, start_s, end_s, parent_id, request_id, job_group)
SPAN_FIELDS = ("id", "name", "start", "end", "parent", "rid", "group")


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.enabled = False
        self.sc = None  # the SparkContext job groups are set on
        self._ids = itertools.count(1)
        self._local = threading.local()

    def set_request(self, rid: str | None) -> None:
        self._local.rid = rid

    def wrap(self, owner, attr: str, name, *, job_group: bool = False) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``name`` is a
        span name or a function of the call's (args, kwargs).
        ``job_group`` tags the Spark jobs the call runs with the span's
        id, unless an enclosing span already did."""
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
        static = isinstance(raw, (staticmethod, classmethod))
        orig = getattr(owner, attr)
        name_of = name if callable(name) else (lambda a, kw, _n=name: _n)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            local = tracer._local
            stack = local.__dict__.setdefault("stack", [])
            sid = next(tracer._ids)
            span_name = name_of(args, kwargs)
            group = None
            if job_group and tracer.sc is not None and not getattr(local, "group", None):
                group = f"{span_name}:{sid}"
                local.group = group
                tracer.sc.setJobGroup(group, span_name)
            parent = stack[-1] if stack else 0
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                if group is not None:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                    local.group = None
                tracer.spans.append(
                    (sid, span_name, t0, t1, parent, getattr(local, "rid", None), group)
                )

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([dict(zip(SPAN_FIELDS, s)) for s in self.spans], fh)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each layer's own time: a span's duration minus the
    part of it its child spans cover (children of one span run in its
    thread, one after another). The layer is the first dotted part of
    the span name."""
    child = {}
    for s in spans:
        if s["parent"]:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[layer] = out.get(layer, 0.0) + max(own, 0.0)
    return out


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Spark task metrics per job group from an uncompressed event log:
    jobs, tasks, executor run and CPU ms, shuffle bytes written, and
    the job intervals (ms since the epoch) for the driver-gap figure."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not gid:
                continue
            g = groups.setdefault(gid, _empty_group())
            g["jobs"] += 1
            job_group[ev["Job ID"]] = gid
            g["intervals"][ev["Job ID"]] = [ev["Submission Time"], None]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            g = groups[job_group[ev["Job ID"]]]
            g["intervals"][ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
            g = groups[stage_group[ev["Stage ID"]]]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    for g in groups.values():
        g["jobs_ms"] = _union_ms([iv for iv in g.pop("intervals").values() if iv[1]])
    return groups


def _event_lines(log_dir: str):
    """The lines of the one application's log, whether Spark wrote a
    single file or a rolling ``eventlog_v2_*`` directory of
    ``events_<n>_*`` parts."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    path = os.path.join(log_dir, entries[0])
    if os.path.isdir(path):
        parts = sorted(
            (p for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        paths = [os.path.join(path, p) for p in parts]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            yield from fh


def _empty_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "executor_run_ms": 0.0,
        "executor_cpu_ms": 0.0,
        "shuffle_write_bytes": 0,
        "intervals": {},
    }


def _union_ms(intervals: list[list[float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
