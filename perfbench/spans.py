"""Spans recorded around calls into the engine, and the offline parser
that joins them with a Spark event log.

A span is ``{"id", "name", "parent", "trace", "start", "end"}`` with
epoch-second times. Spark jobs are attributed to spans through job
groups named ``<workload>/<pass|request>/<query|endpoint>/<build|exec>``
(set per thread; PySpark's pinned-thread mode gives each Python thread
its own JVM thread, so groups do not leak between serving workers).

Run standalone to re-derive the job attribution of a traced run::

    python3 perfbench/spans.py <event-log-file> <spans.json>
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_METRICS = {
    "time to run Python workers": "total",
    "time to start Python workers": "boot",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
}


class Tracer:
    """In-memory span recorder; thread-safe, written out once at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, trace: str = "", **attrs):
        rec = {"id": next(self._ids), "name": name, "parent": parent, "trace": trace}
        rec.update(attrs)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh)


@contextmanager
def job_group(sc, group: str):
    """Run the body's Spark jobs under job group ``group`` (this thread)."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution, from Catalyst's ``QueryPlanningTracker``. Analysis ran when
    ``df`` was built; optimization and physical planning run here, as a
    re-plan of what the sink planned under its own command (no job runs)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.valuesIterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next().durationMs())
    return total


# --- event log ---------------------------------------------------------


def parse_event_log(path: str) -> dict[int, dict]:
    """Jobs of an uncompressed Spark event log, keyed by job id::

        {"group", "start", "end", "ok", "stages", "tasks", "executor_run_s",
         "executor_cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
         "spill_bytes", "python": {total_s, boot_s, bytes_sent, bytes_received}}

    Times are epoch seconds. A stage shared by several jobs runs its tasks
    in the first of them, so its tasks count there.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "ok": None,
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": 0,
                    "executor_run_s": 0.0,
                    "executor_cpu_s": 0.0,
                    "gc_s": 0.0,
                    "input_bytes": 0,
                    "shuffle_write_bytes": 0,
                    "spill_bytes": 0,
                    "python": {"total_s": 0.0, "boot_s": 0.0, "bytes_sent": 0, "bytes_received": 0},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
                    job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                if job is None:
                    continue
                m = ev.get("Task Metrics") or {}
                job["tasks"] += 1
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    upd = float(acc.get("Update") or 0)
                    if key in ("total", "boot"):
                        # SQL timing metrics report milliseconds
                        job["python"][key + "_s"] += upd / 1e3
                    else:
                        job["python"][key] += int(upd)
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attach_jobs(spans: list[dict], jobs: dict[int, dict]) -> list[dict]:
    """Add each job as a child span of the span whose ``group`` it ran
    under, and give every grouped span its ``job_ids``, ``jobs``,
    ``job_s`` (time its jobs cover) and ``self_s`` (duration minus that
    cover)."""
    by_group: dict[str, list[dict]] = defaultdict(list)
    for jid, job in jobs.items():
        if job["end"] is not None and job["group"]:
            by_group[job["group"]].append(dict(job, id=jid))
    out = list(spans)
    for s in spans:
        g = s.get("group")
        if not g:
            continue
        mine = [j for j in by_group.get(g, []) if j["end"] >= s["start"] and j["start"] <= s["end"]]
        s["job_ids"] = [j["id"] for j in mine]
        s["jobs"] = len(mine)
        s["job_s"] = covered([(j["start"], j["end"]) for j in mine], s["start"], s["end"])
        s["self_s"] = (s["end"] - s["start"]) - s["job_s"]
        for j in mine:
            out.append({"id": f"job{j['id']}", "name": "spark.job", "parent": s["id"],
                        "trace": s.get("trace", ""), "start": j["start"], "end": j["end"],
                        "job": {k: v for k, v in j.items() if k not in ("start", "end", "id")}})
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    jobs = parse_event_log(argv[1])
    with open(argv[2]) as fh:
        spans = json.load(fh)
    json.dump(attach_jobs(spans, jobs), sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
