"""Spans, Spark counters and memory sampling for the benchmark.

Spans are recorded from the benchmark's own code around each call into the
engine (name, parent, start, end). Spark counters come from the event log
that a traced run writes: every job is attributed to the innermost span
whose wall-clock window contains the job's submission time. The benchmark
is a single closed-loop client, so at most one engine call is open at a
time, and jobs that the engine submits from its own helper threads (async
writes, worker warm-up) still land inside the call that started them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "spark_s",
)


class Tracer:
    """In-memory span recorder. Spans are kept as dicts and written out
    with the artifact when the run ends."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        sp.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def find(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]


class RssSampler:
    """Peak resident set size, in MB, of a set of processes, sampled from
    /proc every ``interval`` seconds while running."""

    def __init__(self, pids, interval: float = 0.05):
        self.pids = list(pids)
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid) -> int:
        with open(f"/proc/{pid}/status", "r", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def sample(self):
        total = sum(self._rss_kb(p) for p in self.pids) / 1024.0
        self.peak_mb = max(self.peak_mb, total)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self):
        self.sample()
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    them the hypervisor stole measures host contention over an interval."""
    with open("/proc/stat", "r", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def read_event_log(evt_dir: str) -> dict:
    """Parse the (uncompressed, single-file) Spark event log in ``evt_dir``
    into {job_id: {"t": submit epoch s, "stages": [...]}} and per-stage
    task-metric sums."""
    files = sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(evt_dir)
        for f in names
        if not f.startswith(".")
    )
    jobs, stage_tasks = {}, {}
    for path in files:
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "t": e["Submission Time"] / 1000.0,
                        "end": e["Submission Time"] / 1000.0,
                        "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                    }
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stage_tasks.setdefault(sid, _zero_stage())["submitted"] = True
                elif ev == "SparkListenerTaskEnd":
                    st = stage_tasks.setdefault(e["Stage ID"], _zero_stage())
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    st["tasks"] += 1
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["output_bytes"] += om.get("Bytes Written", 0)
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    return {"jobs": jobs, "stages": stage_tasks}


def _zero_stage() -> dict:
    return {
        "submitted": False,
        "tasks": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "output_bytes": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
    }


def attribute(spans: list, log: dict) -> None:
    """Add Spark counters to every span, in place. A job belongs to the
    innermost (latest-starting) span open at its submission; a span's
    counters include those of its children. A stage counts once, for the
    first job that lists it; stages a job lists but skips (their shuffle
    output is reused) count as neither stages nor tasks. ``spark_s`` is the
    wall during which at least one of the span's jobs was running."""
    by_id = {sp["id"]: sp for sp in spans}
    intervals = {sp["id"]: [] for sp in spans}
    for sp in spans:
        sp["spark"] = {k: 0 for k in COUNTER_KEYS}
    seen = set()
    for jid in sorted(log["jobs"]):
        job = log["jobs"][jid]
        stages = [s for s in job["stages"] if s not in seen]
        seen.update(stages)
        owner = None
        for sp in spans:
            if sp["start"] <= job["t"] <= (sp["end"] or job["t"]):
                if owner is None or sp["start"] >= owner["start"]:
                    owner = sp
        while owner is not None:
            c = owner["spark"]
            c["jobs"] += 1
            intervals[owner["id"]].append((job["t"], job["end"]))
            for sid in stages:
                st = log["stages"].get(sid)
                if st is None or not st["submitted"]:
                    continue
                c["stages"] += 1
                for k in COUNTER_KEYS[2:-1]:
                    c[k] += st[k]
            owner = by_id.get(owner["parent"])
    for sp in spans:
        busy, last = 0.0, float("-inf")
        for a, b in sorted(intervals[sp["id"]]):
            a = max(a, last)
            if b > a:
                busy += b - a
                last = b
        sp["spark"]["spark_s"] = busy
