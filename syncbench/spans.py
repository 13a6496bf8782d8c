"""Spans around the benchmark's calls into the engine, and Spark's event log.

A span is recorded only in a traced run.  Each span carries its phase
(the layer it measures), the round it belongs to, and a trace id (one
per pass or wave).  Spark jobs started from the main thread are tagged
with the span's id as their job group; jobs started on other threads
(streaming micro-batches, the compaction thread pool) carry no such
group and are given to the innermost span whose time window holds
their submission time.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PHASES = (
    "snapshot.copy", "verify", "lookup", "cdc.drain", "live.read",
    "compact", "screen", "ivf.append", "ivf.search",
)
COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_GROUP_PREFIX = "syncbench-"


class Tracer:
    """In-memory span recorder.  Disabled, every span is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, phase: str | None = None,
             round_: int | None = None, trace: str | None = None,
             parent: dict | None = None, **attrs):
        """Record one span.  ``parent`` is for callbacks that run on
        another thread; otherwise the enclosing span is the parent."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        on_main = parent is None
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            rec = {
                "id": len(self.spans) + 1,
                "name": name,
                "phase": phase or (parent or {}).get("phase"),
                "round": round_ if round_ is not None
                else (parent or {}).get("round"),
                "trace": trace or (parent or {}).get("trace"),
                "parent": parent["id"] if parent else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        if on_main:
            stack.append(rec)
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if on_main:
                stack.pop()
                if stack:
                    top = stack[-1]
                    self.sc.setJobGroup(
                        f"{_GROUP_PREFIX}{top['id']}", top["name"]
                    )
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    ivs = sorted(
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs of the (single) application log in ``log_dir``, each with
    its submission time, job group and summed task counters."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_runs: dict[int, int] = defaultdict(int)
    stage_ctr: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "submitted": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": 0, "tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    # a stage listed by several jobs runs under the first
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                stage_runs[ev["Stage Info"]["Stage ID"]] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                c = stage_ctr[ev["Stage ID"]]
                c["tasks"] += 1
                c["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                c["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                sw = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                c["input_bytes"] += im.get("Bytes Read", 0)
                c["input_rows"] += im.get("Records Read", 0)
    for sid, jid in stage_job.items():
        if jid not in jobs:
            continue
        j = jobs[jid]
        j["stages"] += stage_runs.get(sid, 0)
        for k, v in stage_ctr.get(sid, {}).items():
            j[k] = j.get(k, 0) + v
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, int]:
    """Job id -> span id: by job group when the job carries one of ours,
    else the innermost span whose window holds the submission time."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in ordered]
    out = {}
    for jid, j in jobs.items():
        g = j.get("group") or ""
        if g.startswith(_GROUP_PREFIX):
            sid = int(g[len(_GROUP_PREFIX):])
            if sid in by_id:
                out[jid] = sid
                continue
        t = j["submitted"]
        best = None
        # innermost = latest-starting span that still holds t
        for i in range(bisect.bisect_right(starts, t) - 1, -1, -1):
            s = ordered[i]
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                best = s
                break
        if best is not None:
            out[jid] = best["id"]
    return out


def phase_counters(spans: list[dict], jobs: dict) -> dict:
    """(round, phase) -> summed counters, plus per-span input rows/bytes."""
    by_id = {s["id"]: s for s in spans}
    owner = attribute_jobs(spans, jobs)
    per = defaultdict(lambda: defaultdict(float))
    for jid, sid in owner.items():
        s = by_id[sid]
        j = jobs[jid]
        acc = per[(s["round"], s["phase"])]
        acc["jobs"] += 1
        for k in ("stages", "tasks", "executor_cpu_ms", "gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "input_rows"):
            acc[k] += j.get(k, 0)
    return per


def write_trace(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
