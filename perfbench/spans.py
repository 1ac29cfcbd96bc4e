"""In-memory span recorder and Spark event-log attribution for the traced run.

A span is opened by the benchmark around each call it makes into a module's
public function (the call plus the action that materializes its result).
Spans carry a name, start, end, parent id and the run id they share; counts
(rows, candidates, ...) ride on the span that produced them. While a span is
open, the Spark job group is set to the span id, so the event log written by
the traced session maps every Spark job and task back to one span. Spans stay
in memory until ``write`` at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Span recorder. With ``enabled=False`` every span is a no-op, so the
    untraced and traced runs execute the same benchmark code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach the session whose job group follows the open span."""
        self._sc = spark.sparkContext

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{self.run_id}:{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str):
        """Open a span; yields its counts dict for the caller to fill."""
        if not self.enabled:
            yield {}
            return
        sp = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "counts": {},
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp["counts"]
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        """Total duration of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the part of it covered by child spans
        (children of one parent never overlap: the benchmark is one thread)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in self.spans}

    def write(self, path: str, engine: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                row = dict(s, self_s=selft[s["id"]])
                if engine and s["id"] in engine:
                    row["engine"] = engine[s["id"]]
                fh.write(json.dumps(row) + "\n")


def event_log_file(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    return None


def engine_counts(path: str, run_id: str) -> dict[int, dict]:
    """Parse a (finished, uncompressed) Spark event log into per-span engine
    counts: jobs, shuffle bytes written, executor CPU time and task skew
    (max ÷ median task duration over the span's tasks)."""
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    prefix = f"{run_id}:"
    wanted = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')
    with open(path) as fh:
        for line in fh:
            if not line.startswith(wanted):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(prefix):
                    continue
                sid = int(group[len(prefix):])
                job_span[ev["Job ID"]] = sid
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev.get("Stage ID"))
                if sid is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(sid, []).append({
                    "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                })
    out: dict[int, dict] = {}
    for sid in set(job_span.values()) | set(tasks):
        ts = tasks.get(sid, [])
        durs = [t["ms"] for t in ts]
        p50 = statistics.median(durs) if durs else 0
        out[sid] = {
            "spark_jobs": sum(1 for s in job_span.values() if s == sid),
            "tasks": len(ts),
            "shuffle_write_mb": sum(t["shuffle_w"] for t in ts) / 2**20,
            "executor_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
            "task_skew": (max(durs) / p50) if p50 else 0.0,
        }
    return out


def layer_engine(tracer: Tracer, engine: dict[int, dict], name: str) -> dict:
    """Engine counts of every span with this name and all of its descendants."""
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])
    ids: list[int] = []
    todo = [s["id"] for s in tracer.by_name(name)]
    while todo:
        i = todo.pop()
        ids.append(i)
        todo.extend(children.get(i, []))
    rows = [engine[i] for i in ids if i in engine]
    skews = [r["task_skew"] for r in rows if r["tasks"]]
    return {
        "spark_jobs": sum(r["spark_jobs"] for r in rows),
        "shuffle_write_mb": sum(r["shuffle_write_mb"] for r in rows),
        "executor_cpu_s": sum(r["executor_cpu_s"] for r in rows),
        "task_skew": max(skews) if skews else 0.0,
    }
