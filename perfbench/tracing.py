"""Tracing for the benchmark's traced runs.

- ``Tracer`` keeps spans (run -> pass -> op -> phase) in memory and
  writes them out once, at the end of the run.  Each op phase runs in
  its own Spark job group, so the event log attributes every job to it.
- ``Py4jCounter`` counts py4j CALL commands (``c\\n...``) sent from the
  Python client while it is armed.  Other commands (object detach,
  reflection) depend on garbage collection and are not counted.
- ``event_log_stats`` reads a finished Spark event log and sums job
  wall time and task metrics per job group.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans in memory, as dicts: id, parent id, name, job group, start
    (epoch seconds), dur_s and any attributes the caller adds."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "job_group": job_group,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group:
            self.sc.setJobGroup(job_group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            self._stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Py4jCounter:
    """Counts CALL commands on the SparkContext's py4j client."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
        self.armed = False
        self.calls = 0
        inner = client.send_command

        def send_command(command, *args, **kwargs):
            if self.armed and command.startswith("c\n"):
                self.calls += 1
            return inner(command, *args, **kwargs)

        client.send_command = send_command

    @contextmanager
    def measure(self):
        """Arms the counter; the yielded dict gets ``calls`` at exit."""
        box: dict = {}
        before, self.armed = self.calls, True
        try:
            yield box
        finally:
            self.armed = False
            box["calls"] = self.calls - before


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def event_log_stats(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs launched, job wall time (union of job
    intervals), task run and GC time, task count, rows read, and bytes
    shuffled and spilled."""
    # one log per run: a single file, or (rolling logs) a directory of
    # events_<n>_<app> parts
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if not n.startswith(("appstatus", "."))]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]) if os.path.basename(p).startswith("events_") else 0)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    intervals: dict[str, list] = defaultdict(list)
    acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"]
            acc[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                intervals[job_group[jid]].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "none")
            m = ev.get("Task Metrics") or {}
            a = acc[group]
            a["tasks"] += 1
            a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    for group, iv in intervals.items():
        acc[group]["job_s"] = _union_s(iv)
    return {g: dict(v) for g, v in acc.items()}
