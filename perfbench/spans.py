"""Per-layer spans, taken from outside the program.

A span is opened around each call into a layer's public function.  The
span tags every Spark job it submits with a job group named after the
layer, forces the layer's output at its boundary (``persist`` + ``count``)
so the work lands inside the span, and records the wall interval.  After
the Spark session stops, Spark's own event log (plain JSON lines: the
traced run starts Spark with compression and rolling off) is folded into
per-layer job, task, shuffle and spill totals, and the part of each span
during which no job of its group ran is the driver-side gap.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

from pyspark.sql import DataFrame

#: every layer the benchmark times, in pipeline-then-editor order
LAYERS = [
    "extract",
    "linking.signatures",
    "linking.candidates",
    "linking.verify",
    "fixpoint.cc",
    "canonicalize.rewrite",
    "materialize.write",
    "ntriples",
    "views",
    "validation",
    "reasoning",
    "fixpoint.closure",
    "setops",
    "mutations",
]
FIELDS = ["wall_s", "gap_s", "jobs", "tasks", "task_s", "shuffle_mb", "spill_mb"]
MB = float(1 << 20)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark confs for a plain-JSON event log in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Span recorder.  Spans are kept in memory; ``fold`` reads the
    event log once the session has stopped."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # {layer, group, t0, t1}
        self.counts: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, layer: str):
        """Tag the jobs run inside with a group unique to this span.
        Spans do not nest: the layers are called one after another."""
        group = f"{layer}#{id(self):x}.{len(self.spans)}"  # unique per session
        rec = {"layer": layer, "group": group, "t0": time.time()}
        self.spans.append(rec)
        self.sc.setJobGroup(group, layer)
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, layer: str, count_key: str | None = None):
        """``fn`` run inside a span; a DataFrame result is persisted and
        counted there (the boundary), its row count added to
        ``count_key``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    n = out.count()
                    if count_key:
                        self.counts[count_key] += n
            return out

        return traced

    def wall(self) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans)


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``(module, attr) -> wrapper`` pairs."""
    saved = [(mod, attr, getattr(mod, attr)) for (mod, attr), _ in targets]
    try:
        for (mod, attr), new in targets:
            setattr(mod, attr, new)
        yield
    finally:
        for mod, attr, old in saved:
            setattr(mod, attr, old)


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read_event_log(log_dir: str):
    """Events of the most recent application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no event log in {log_dir}")
    with open(max(files, key=os.path.getmtime)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def fold(events, spans) -> dict[str, dict[str, float]]:
    """Per-layer totals over all spans of the layer."""
    job_group, job_t0, job_t1, stage_group = {}, {}, {}, {}
    task = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_t0[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, job_group[jid])
        elif kind == "SparkListenerJobEnd":
            job_t1[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            t = task[g]
            t["tasks"] += 1
            t["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
            t["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    jobs_of = defaultdict(list)
    for jid, g in job_group.items():
        jobs_of[g].append(jid)
    out = {layer: dict.fromkeys(FIELDS, 0.0) for layer in LAYERS}
    for s in spans:
        row = out[s["layer"]]
        wall = s["t1"] - s["t0"]
        busy = [
            (max(job_t0[j], s["t0"]), min(job_t1.get(j, s["t1"]), s["t1"]))
            for j in jobs_of.get(s["group"], [])
        ]
        busy = [(a, b) for a, b in busy if b > a]
        row["wall_s"] += wall
        row["gap_s"] += max(0.0, wall - _union_len(busy))
        row["jobs"] += len(jobs_of.get(s["group"], []))
        for k, v in task.get(s["group"], {}).items():
            row[k] += v
    return out
