"""Spans recorded around the benchmark's calls into the package, and the
Spark event-log parser that splits each span into jobs, tasks, executor
time, shuffle bytes and driver gaps.

Spans are kept in memory and written out when the run ends. In a traced
run each span also sets its own Spark job group, so jobs submitted from
the span's thread carry the span's index. Jobs that package threads
submit (``io.tables.run_write_jobs``) do not inherit the group; they are
attributed to the innermost span whose interval holds their submission
time. That is exact here because the benchmark's single client never
runs two spans side by side.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

GROUP_PREFIX = "cvbench-span-"


class Spans:
    """Nested named spans: name, parent index, wall start/end (epoch s,
    to line up with event-log timestamps) and a monotonic duration."""

    def __init__(self, sc=None):
        self.sc = sc  # set only in traced runs: spans then tag job groups
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.records)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.records.append(rec)
        self._stack.append(idx)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{idx}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def durations(self, name: str) -> list[float]:
        """Durations (s) of every span called ``name``, in start order."""
        return [r["dur"] for r in self.records if r["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


# ------------------------------------------------------------ event log

STAGE_KINDS = ("scan", "python", "exchange", "aggregate", "broadcast", "write", "other")


def stage_kind(rdd_scopes: list[str], name: str) -> str:
    """Tag a stage with the operator layer that dominates it, from the
    physical-operator scope names Spark records on the stage's RDDs."""
    s = " ".join(rdd_scopes).lower() + " " + name.lower()
    if "insertinto" in s or "writefiles" in s or "save at" in s:
        return "write"
    if any(w in s for w in ("python", "pandas", "arrow")):
        return "python"
    if "broadcastexchange" in s:
        return "broadcast"
    if "aggregate" in s:
        return "aggregate"
    if "exchange" in s:
        return "exchange"
    if "scan" in s:
        return "scan"
    return "other"


def parse_event_log(path: str) -> tuple[dict, dict]:
    """(jobs, stages) from one uncompressed event-log file.

    jobs: id -> {submit, end, group, stages}
    stages: id -> {tasks, run_ms, shuffle_bytes, kind}"""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(
                    ev["Stage ID"],
                    {"tasks": 0, "run_ms": 0.0, "shuffle_bytes": 0, "kind": "other"},
                )
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(
                    info["Stage ID"],
                    {"tasks": 0, "run_ms": 0.0, "shuffle_bytes": 0, "kind": "other"},
                )
                scopes = []
                for rdd in info.get("RDD Info", []):
                    scopes.append(rdd.get("Name", ""))
                    with contextlib.suppress(ValueError, TypeError):
                        scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                st["kind"] = stage_kind(scopes, info.get("Stage Name", ""))
    return jobs, stages


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def attribute(spans: list[dict], jobs: dict, stages: dict) -> dict[int, dict]:
    """Per top-level span index (one request or one setup step): the jobs
    it owns and their totals.

    A job belongs to the span named by its job group; a job without one
    belongs to the innermost span whose interval holds its submission
    time. Either way it is then rolled up to that span's top-level
    ancestor. Each stage counts once, for the first job that lists it."""
    owned: dict[int, list[int]] = {}
    for jid, job in sorted(jobs.items()):
        g = job["group"]
        if g and g.startswith(GROUP_PREFIX):
            idx = int(g[len(GROUP_PREFIX):])
        else:
            idx = None
            for i, s in enumerate(spans):
                if s["start"] <= job["submit"] <= s.get("end", s["start"]):
                    if idx is None or s["start"] >= spans[idx]["start"]:
                        idx = i
        if idx is not None:
            while spans[idx]["parent"] is not None:
                idx = spans[idx]["parent"]
            owned.setdefault(idx, []).append(jid)

    seen: set[int] = set()
    out: dict[int, dict] = {}
    for idx, jids in owned.items():
        tasks = run_ms = shuffle = 0
        kinds: dict[str, float] = {}
        intervals = []
        for jid in jids:
            job = jobs[jid]
            intervals.append((job["submit"], job["end"] or job["submit"]))
            for sid in job["stages"]:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                st = stages[sid]
                tasks += st["tasks"]
                run_ms += st["run_ms"]
                shuffle += st["shuffle_bytes"]
                kinds[st["kind"]] = kinds.get(st["kind"], 0.0) + st["run_ms"]
        s = spans[idx]
        busy = _union_within(intervals, s["start"], s.get("end", s["start"]))
        out[idx] = {
            "jobs": len(jids),
            "tasks": tasks,
            "executor_run_ms": run_ms,
            "shuffle_bytes": shuffle,
            "driver_gap_ms": max(0.0, s["dur"] * 1000.0 - busy * 1000.0),
            "stage_ms": kinds,
        }
    return out


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
