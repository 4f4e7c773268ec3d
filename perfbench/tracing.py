"""Spans around the benchmark's calls into the package, and Spark's event log.

A span records name, start, end, parent and trace id (the root span's
id). While a span is open its id is the Spark job group, so every job
the span launches can be charged to it from the event log. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

# per-job-group sums taken from SparkListenerTaskEnd / JobStart events
EVENT_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
    "wait_ms", "spill_bytes", "input_bytes", "records_read", "shuffle_write_bytes",
    "shuffle_read_bytes", "output_bytes", "csv_input_bytes", "csv_records_read",
    "csv_run_ms",
)


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no job group."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Open a span; yields its attribute dict for counts the caller adds."""
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid, "name": name, "parent": parent,
            "trace": self.spans[parent]["trace"] if parent is not None else sid,
            "start": time.perf_counter(), "end": None, "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb-{sid}", name)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def attach_events(self, groups: dict[str, dict]) -> None:
        """Add each span's event-log sums, its descendants' jobs included."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        for s in reversed(self.spans):  # children come after their parent
            own = groups.get(f"pb-{s['id']}", {})
            tot = {k: own.get(k, 0) for k in EVENT_FIELDS}
            for c in children[s["id"]]:
                for k in EVENT_FIELDS:
                    tot[k] += self.spans[c]["events"][k]
            s["events"] = tot

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span, summed over spans.

        A span's layer is its name without the last dotted part
        (``sources.acid.merge`` belongs to ``sources.acid``).
        """
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s["name"].rsplit(".", 1)[0] if "." in s["name"] else s["name"]
            out[layer] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(), **extra}, f)


def _event_lines(log_dir: str, app_id: str):
    """Lines of the application's event log, plain or rolling layout."""
    for entry in sorted(os.listdir(log_dir)):
        if app_id not in entry:
            continue
        p = os.path.join(log_dir, entry)
        files = ([os.path.join(p, f) for f in sorted(os.listdir(p)) if f.startswith("events_")]
                 if os.path.isdir(p) else [p])
        for fp in files:
            with open(fp) as f:
                yield from f


def parse_event_log(log_dir: str, app_id: str) -> tuple[dict[str, dict], dict]:
    """Sum task metrics per job group; also return the totals of all tasks.

    ``wait_ms`` is the time a task waited between its stage's
    submission and its own launch; the ``csv_*`` fields count only the
    tasks of stages that scan CSV files.
    """
    stage_group: dict[int, str | None] = {}
    stage_submit: dict[int, int] = {}
    csv_stages: set[int] = set()
    groups: dict[str, dict] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0))
    total = dict.fromkeys(EVENT_FIELDS, 0)
    tasks = []
    for line in _event_lines(log_dir, app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            for acc in (groups[g] if g else None, total):
                if acc is not None:
                    acc["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time") or 0
            if any("Scan csv" in (r.get("Scope") or "") for r in info.get("RDD Info", [])):
                csv_stages.add(info["Stage ID"])
            g = stage_group.get(info["Stage ID"])
            for acc in (groups[g] if g else None, total):
                if acc is not None:
                    acc["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    for ev in tasks:
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sid = ev["Stage ID"]
        inp = m.get("Input Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        row = {
            "tasks": 1,
            "failed_tasks": int(bool(info.get("Failed"))),
            "run_ms": run_ms,
            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
            "gc_ms": m.get("JVM GC Time", 0),
            "wait_ms": max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"])),
            "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "input_bytes": inp.get("Bytes Read", 0),
            "records_read": inp.get("Records Read", 0),
            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        }
        csv = sid in csv_stages
        row["csv_input_bytes"] = row["input_bytes"] if csv else 0
        row["csv_records_read"] = row["records_read"] if csv else 0
        row["csv_run_ms"] = run_ms if csv else 0
        g = stage_group.get(sid)
        for acc in (groups[g] if g else None, total):
            if acc is not None:
                for k, v in row.items():
                    acc[k] += v
    return dict(groups), total


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default

