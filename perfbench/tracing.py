"""Spans around calls into the program's layers, and per-layer Spark task
metrics read back from the application's event log.

Spans are recorded from outside the package: a span is opened around a
public call, tags the Spark jobs the call runs with
``SparkContext.setJobGroup`` (group id = span name), and is kept in
memory until the run ends.  Jobs that Spark submits from its own threads
(a streaming query's micro-batches) carry no group of ours and are
attributed to the innermost span open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next_id, "name": name, "start": time.time(),
               "end": None, "parent": parent["id"] if parent else None,
               "run_id": self.run_id}
        self._next_id += 1
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def _events(log_dir: str):
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    with open(files[-1]) as fh:
        for line in fh:
            yield json.loads(line)


def layer_task_metrics(log_dir: str, spans: list[dict],
                       layers: list[str]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in ``layers`` from the event
    log the (stopped) application wrote: shuffle bytes written, bytes
    spilled (memory + disk), summed executor run time, JVM GC time,
    failed tasks, and task skew (per stage, the longest task over the
    median task; the layer reports its most skewed stage, 1.0 if no stage
    had two tasks)."""
    names = {s["name"] for s in spans}

    def layer_at(ms: float) -> str | None:
        best = None
        for s in spans:
            if s["start"] * 1000 <= ms <= s["end"] * 1000 and (
                    best is None or s["start"] >= best["start"]):
                best = s
        return best["name"] if best else None

    stage_layer: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            name = group if group in names else layer_at(
                ev.get("Submission Time", 0))
            if name is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, name.split(".")[0])
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, float] = {}
    for layer in layers:
        shuffle = spill = run_ms = gc_ms = failed = 0
        skew = 1.0
        for sid, evs in tasks.items():
            if stage_layer.get(sid) != layer:
                continue
            durs = []
            for ev in evs:
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                failed += bool(info.get("Failed"))
                shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                run_ms += m.get("Executor Run Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                durs.append(info.get("Finish Time", 0)
                            - info.get("Launch Time", 0))
            if len(durs) >= 2:
                med = statistics.median(durs)
                skew = max(skew, max(durs) / med if med > 0 else 1.0)
        out[f"{layer}.shuffle_write_bytes"] = float(shuffle)
        out[f"{layer}.spill_bytes"] = float(spill)
        out[f"{layer}.task_s"] = run_ms / 1000.0
        out[f"{layer}.gc_s"] = gc_ms / 1000.0
        out[f"{layer}.failed_tasks"] = float(failed)
        out[f"{layer}.task_skew"] = float(skew)
    return out
