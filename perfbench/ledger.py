"""Per-layer metrics of a traced run, from its spans and event log.

Catalog workloads report each metric as the median over the timed warm
passes of the per-pass total; ``serving_mix`` reports per-endpoint
medians over the requests of its timed serial passes, executor totals
over its phases and per-stage set-up medians. Metrics
of layers a workload does not reach are 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import attach_jobs, parse_event_log

ENDPOINTS = ("search", "recommend", "movie", "health")
EXEC_KEYS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes",
             "shuffle_write_bytes", "spill_bytes")
PY_KEYS = ("total_s", "boot_s", "bytes_sent", "bytes_received")

UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_job_s": "s",
    "plans.build_driver_s": "s", "sources.load_table_ms": "ms", "sources.load_table_jobs": "count",
    "spark.catalyst.plan_s": "s", "spark.exec.s": "s", "spark.exec.jobs": "count",
    "spark.exec.tasks": "count", "spark.exec.executor_run_s": "s", "spark.exec.executor_cpu_s": "s",
    "spark.exec.gc_s": "s", "spark.exec.input_bytes": "B", "spark.exec.shuffle_write_bytes": "B",
    "spark.exec.spill_bytes": "B", "spark.exec.slot_busy_ratio": "ratio",
    "spark.python.total_s": "s", "spark.python.boot_s": "s", "spark.python.bytes_sent": "B",
    "spark.python.bytes_received": "B",
    **{f"serving.{e}.{k}": u for e in ENDPOINTS
       for k, u in (("ms", "ms"), ("jobs", "count"), ("job_ms", "ms"), ("driver_ms", "ms"))},
    "serving.queue_p95_ms": "ms", "serving.generator_lag_ms": "ms",
    "pipelines.build_movie_index_s": "s", "operators.movierec.build_index_tables_s": "s",
    "operators.movierec.write_index_s": "s", "operators.movierec.load_index_s": "s",
    "trace.pass_s": "s",
    "latency.light_p50_ms": "ms", "latency.peak_p50_ms": "ms", "latency.peak_goodput_rps": "1/s",
    "memory.peak_rss_mb": "MiB",
}


def _pct(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))] if s else 0.0


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _exec_totals(spans: list[dict], jobs: dict[int, dict]) -> dict[str, float]:
    """Executor and Python-worker totals of the jobs run under ``spans``."""
    out = defaultdict(float)
    for s in spans:
        for j in s.get("job_ids", []):
            job = jobs[j]
            for k in EXEC_KEYS:
                out[k] += job[k]
            for k in PY_KEYS:
                out["py_" + k] += job["python"][k]
    return out


def per_layer(b, eventlog: str) -> tuple[dict[str, tuple[float, str]], dict]:
    """``({metric: (value, unit)}, breakdown)`` for the traced run ``b``."""
    jobs = parse_event_log(eventlog)
    spans = list(b.tracer.spans)
    attach_jobs(spans, jobs)
    m = {k: 0.0 for k in UNITS}
    m.update(b.diag)
    if b.workload == "serving_mix":
        breakdown = _serving(b, spans, jobs, m)
    else:
        breakdown = _catalog(b, spans, jobs, m)
    return {k: (float(v), UNITS[k]) for k, v in m.items()}, breakdown


def _catalog(b, spans, jobs, m) -> dict:
    passes = [s for s in spans if s["name"] == "pass" and str(s.get("pass_tag", "")).startswith("p")]
    rows = defaultdict(list)
    per_pass = defaultdict(list)
    pass_rows = []
    for p in passes:
        queries = [s for s in spans if s.get("parent") == p["id"]]
        builds = [s for s in spans if s.get("parent") in {q["id"] for q in queries} and s["name"] == "build"]
        execs = [s for s in spans if s.get("parent") in {q["id"] for q in queries} and s["name"] == "exec"]
        bs = sum(s["end"] - s["start"] for s in builds)
        bj = sum(s["job_s"] for s in builds)
        per_pass["plans.build_s"].append(bs)
        per_pass["plans.build_jobs"].append(sum(s["jobs"] for s in builds))
        per_pass["plans.build_job_s"].append(bj)
        per_pass["plans.build_driver_s"].append(bs - bj)
        pass_rows.append({"pass": p["pass_tag"], "wall_s": p["wall_s"], "build_s": bs,
                          "exec_s": sum(s["end"] - s["start"] for s in execs)})
        per_pass["spark.catalyst.plan_s"].append(sum((q.get("catalyst_ms") or 0.0) for q in queries) / 1e3)
        ex = _exec_totals(execs, jobs)
        es = sum(s["job_s"] for s in execs)
        per_pass["spark.exec.s"].append(es)
        per_pass["spark.exec.jobs"].append(sum(s["jobs"] for s in execs))
        for k in EXEC_KEYS:
            per_pass[f"spark.exec.{k}"].append(ex[k])
        per_pass["spark.exec.slot_busy_ratio"].append(ex["executor_run_s"] / (es * b.cores) if es else 0.0)
        allpy = _exec_totals(builds + execs, jobs)
        for k in PY_KEYS:
            per_pass[f"spark.python.{k}"].append(allpy["py_" + k])
        for q in queries:
            parts = {s["name"]: s for s in spans if s.get("parent") == q["id"]}
            bsp, esp = parts.get("build"), parts.get("exec")
            if bsp is None or esp is None:
                continue
            rows[q["name"]].append({
                "wall_s": q["end"] - q["start"],
                "build_s": bsp["end"] - bsp["start"], "build_jobs": bsp["jobs"],
                "build_job_s": bsp["job_s"], "exec_s": esp["end"] - esp["start"],
                "exec_jobs": esp["jobs"], "exec_job_s": esp["job_s"],
                "catalyst_ms": q.get("catalyst_ms") or 0.0,
            })
    for k, v in per_pass.items():
        m[k] = _med(v)
    probes = [s for s in spans if s.get("group", "").endswith("/load_table")]
    m["sources.load_table_ms"] = getattr(b, "probe_ms", 0.0)
    m["sources.load_table_jobs"] = sum(s["jobs"] for s in probes)
    m["trace.pass_s"] = b.e2e["pass_s"][0]
    return {
        "queries": {q: {k: _med([r[k] for r in rs]) for k in rs[0]} for q, rs in sorted(rows.items())},
        # per timed pass: its wall time (the pass's own clock) against
        # the build and exec spans of its queries
        "passes": pass_rows,
    }


def _serving(b, spans, jobs, m) -> dict:
    light, peak = b.phases["light"], b.phases["peak"]
    by_id = {s["id"]: s for s in spans}
    per_ep = defaultdict(list)
    for r in light["recs"] + peak["recs"]:
        sp = by_id.get(r["span"])
        if sp is None:
            continue
        per_ep[r["endpoint"]].append({
            "phase": "light" if r in light["recs"] else "peak",
            "ms": (sp["end"] - sp["start"]) * 1e3, "jobs": sp["jobs"], "job_ms": sp["job_s"] * 1e3,
            "driver_ms": sp["self_s"] * 1e3, "queue_ms": r["queue"] * 1e3,
            "latency_ms": r["latency"] * 1e3,
        })
    # requests of the timed serial passes (no queue: service time is latency)
    timed = {s["id"] for s in spans if s["name"] == "pass" and s["trace"][1:].isdigit()}
    for sp in spans:
        if sp.get("parent") in timed:
            ms = (sp["end"] - sp["start"]) * 1e3
            per_ep[sp["group"].split("/")[2]].append({
                "phase": "pass", "ms": ms, "jobs": sp["jobs"], "job_ms": sp["job_s"] * 1e3,
                "driver_ms": sp["self_s"] * 1e3, "queue_ms": 0.0, "latency_ms": ms,
            })
    for ep in ENDPOINTS:
        rs = [r for r in per_ep.get(ep, []) if r["phase"] == "pass"]
        m[f"serving.{ep}.ms"] = _med([r["ms"] for r in rs])
        m[f"serving.{ep}.jobs"] = statistics.mean([r["jobs"] for r in rs]) if rs else 0.0
        m[f"serving.{ep}.job_ms"] = _med([r["job_ms"] for r in rs])
        m[f"serving.{ep}.driver_ms"] = _med([r["driver_ms"] for r in rs])
    m["serving.queue_p95_ms"] = _pct([r["queue"] * 1e3 for r in light["recs"]], 95)
    m["serving.generator_lag_ms"] = _pct([r["lag"] * 1e3 for r in light["recs"]], 95)
    for k, v in b.stage.items():
        m[k] = v
    served = [by_id[r["span"]] for r in light["recs"] + peak["recs"] if r["span"] in by_id]
    ex = _exec_totals(served, jobs)
    m["spark.exec.s"] = sum(s["job_s"] for s in served)
    m["spark.exec.jobs"] = sum(s["jobs"] for s in served)
    for k in EXEC_KEYS:
        m[f"spark.exec.{k}"] = ex[k]
    dur = light["duration"] + peak["duration"]
    m["spark.exec.slot_busy_ratio"] = ex["executor_run_s"] / (dur * b.cores)
    for k in PY_KEYS:
        m[f"spark.python.{k}"] = ex["py_" + k]
    m["trace.pass_s"] = b.e2e["pass_s"][0]
    return {
        "endpoints": {
            ep: {ph: {k: _med([r[k] for r in rs if r["phase"] == ph])
                      for k in ("ms", "jobs", "job_ms", "driver_ms", "queue_ms", "latency_ms")}
                 | {"n": sum(1 for r in rs if r["phase"] == ph)}
                 for ph in ("pass", "light", "peak")}
            for ep, rs in sorted(per_ep.items())
        },
        "setup_stages_s": b.stage,
        # per request: queue wait + endpoint span = latency from due time
        "requests": [
            {"phase": ph, "endpoint": r["endpoint"], "queue_ms": r["queue"] * 1e3,
             "service_ms": (by_id[r["span"]]["end"] - by_id[r["span"]]["start"]) * 1e3,
             "latency_ms": r["latency"] * 1e3, "ok": r["ok"]}
            for ph, phase in (("light", light), ("peak", peak))
            for r in sorted(phase["recs"], key=lambda r: r["i"]) if r["span"] in by_id
        ],
    }
