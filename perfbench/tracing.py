"""Spans around calls into the program's modules, and the Spark event-log
parser that attributes shuffle, spill and task time to them.

A span is one call into a layer: name, layer, start, end, parent and the
run's trace id.  While a span is open its layer is the Spark job group,
so the jobs it triggers are tagged with it.  Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

#: Layers whose Spark jobs are counted; each gets the RUNTIME metrics.
SPARK_LAYERS = ("blocking", "passjoin", "verify", "scoring", "clustering",
                "pipeline", "index")
RUNTIME = ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_busy_s",
           "task_skew", "spark_jobs")


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str):
        s = {
            "name": name,
            "layer": layer,
            "trace_id": self.trace_id,
            "span_id": len(self.spans),
            "parent": self._stack[-1]["span_id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(layer, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["layer"], self._stack[-1]["name"])
            else:
                self.sc.setJobGroup("perfbench", "untraced")

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        out = {}
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["span_id"]]
            out[s["span_id"]] = (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in kids
            )
        return out

    def innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f,
                      indent=1)


_WANTED = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerTaskEnd"')


def _event_log(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}")
    return files[0]


def attribute_event_log(log_dir: str, tracer: Tracer) -> dict[str, float]:
    """Per-layer Spark counts from the finished event log.  A job belongs
    to the innermost span open when it was submitted (broadcast jobs run
    under their own job group, so the group alone would miss them); the
    counts are also stored on each span as ``spark``."""
    job_span: dict[int, dict] = {}
    stage_span: dict[int, dict] = {}
    per_span: dict[int, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(_event_log(log_dir)) as f:
        for line in f:
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                s = tracer.innermost(ev["Submission Time"] / 1000.0)
                if s is None:
                    continue
                job_span[ev["Job ID"]] = s
                for sid in ev.get("Stage IDs", []):
                    stage_span.setdefault(sid, s)
                c = per_span.setdefault(s["span_id"], _zero())
                c["spark_jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                s = stage_span.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if s is None or not m:
                    continue
                info = ev["Task Info"]
                busy = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                c = per_span.setdefault(s["span_id"], _zero())
                c["task_busy_s"] += busy
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                c["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)) / 2**20
                c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)) / 2**20
                stage_tasks.setdefault(ev["Stage ID"], []).append(busy)
    skew: dict[int, float] = {}
    for sid, times in stage_tasks.items():
        if len(times) >= 2 and statistics.median(times) > 0:
            span_id = stage_span[sid]["span_id"]
            ratio = max(times) / statistics.median(times)
            skew[span_id] = max(skew.get(span_id, 0.0), ratio)
    out = {f"{layer}.{m}": 0.0 for layer in SPARK_LAYERS for m in RUNTIME}
    for s in tracer.spans:
        c = per_span.get(s["span_id"], _zero())
        c["task_skew"] = skew.get(s["span_id"], 0.0)
        s["spark"] = {k: round(v, 6) for k, v in c.items()}
        if s["layer"] not in SPARK_LAYERS:
            continue
        for m in RUNTIME:
            key = f"{s['layer']}.{m}"
            if m == "task_skew":
                out[key] = max(out[key], c[m])
            else:
                out[key] += c[m]
    return out


def _zero() -> dict[str, float]:
    return {m: 0.0 for m in RUNTIME}
