"""Spans around the benchmark's calls into the engine, and the counters
joined onto them.

Spans are recorded in memory as ``(id, name, start, end, parent)`` with
wall-clock times taken from one monotonic clock, and written out once at
the end.  Untraced runs record the same spans (a few list appends per
call), so both modes make identical calls; a traced run additionally
enables the Spark UI and, after the measured work, pulls per-stage
counters from its REST API and attributes each Spark stage to the
innermost span open when the stage was submitted.  Pipeline stages are
added as child spans from the pipeline's own ``lineage.jsonl``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

COUNTERS = (
    "jobs", "tasks", "task_failures", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "executor_cpu_s", "input_records",
)


class Recorder:
    def __init__(self) -> None:
        self._wall0 = time.time()
        self._pc0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def now(self) -> float:
        """Wall-clock seconds, advanced by the monotonic clock."""
        return self._wall0 + (time.perf_counter() - self._pc0)

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "id": len(self.spans),
            "name": name,
            "start": self.now(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = self.now()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, **attrs}
        )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        """Span duration minus the part of it that child spans cover."""
        iv = sorted(
            (max(c["start"], sp["start"]), min(c["end"], sp["end"]))
            for c in self.children(sp)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
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
        return (sp["end"] - sp["start"]) - covered

    def innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def ancestors(self, sp: dict):
        while sp is not None:
            yield sp
            sp = self.spans[sp["parent"]] if sp["parent"] is not None else None

    def summary(self) -> dict:
        """Per span name: count, total and median self time (seconds)."""
        by: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                by.setdefault(s["name"], []).append(self.self_time(s))
        return {k: {"n": len(v), "self_total": sum(v), "self_median": statistics.median(v)}
                for k, v in sorted(by.items())}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                if row["end"] is not None:
                    row["self_s"] = self.self_time(s)
                f.write(json.dumps(row, default=str) + "\n")


def add_lineage(rec: Recorder, base_dir: str, parent: dict) -> list[dict]:
    """Add the pipeline's per-stage ``lineage.jsonl`` rows that started
    inside ``parent`` as its child spans ``stage:<stage>``."""
    path = os.path.join(base_dir, "lineage.jsonl")
    if not os.path.exists(path):
        return []
    rows = []
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if parent["start"] <= r["started_at"] <= parent["end"]:
                    rows.append(r)
    for r in rows:
        rec.add(
            f"stage:{r['stage']}", r["started_at"], r["finished_at"], parent["id"],
            rows_out=r.get("rows_out"), n_files=r.get("n_files"),
        )
    return rows


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def attach_spark_counters(rec: Recorder, spark) -> None:
    """Fetch every job and stage from the Spark REST API and add their
    counters to the innermost span open at submission time (``sp["spark"]``).
    Needs ``spark.ui.enabled=true``."""
    sc = spark.sparkContext
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + 10
    while True:  # the status store trails the listener bus slightly
        jobs = _get(f"{api}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.1)
    stages = _get(f"{api}/stages")

    def bucket(t):
        sp = rec.innermost(t) if t is not None else None
        if sp is None:
            return None
        return sp.setdefault("spark", {k: 0.0 for k in COUNTERS})

    for j in jobs:
        c = bucket(_rest_time(j.get("submissionTime")))
        if c is not None:
            c["jobs"] += 1
    for st in stages:
        c = bucket(_rest_time(st.get("submissionTime")))
        if c is None:
            continue
        c["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
        c["task_failures"] += st.get("numFailedTasks", 0)
        c["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
        c["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
        c["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
        c["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        c["input_records"] += st.get("inputRecords", 0)


def subtree_counters(rec: Recorder, sp: dict) -> dict:
    """Spark counters of a span and every span below it."""
    total = {k: 0.0 for k in COUNTERS}
    for s in rec.spans:
        if "spark" in s and any(a["id"] == sp["id"] for a in rec.ancestors(s)):
            for k in COUNTERS:
                total[k] += s["spark"][k]
    return total


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM."""

    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    total = hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += hwm_kb(proc.pid)
    return total / 1024.0
