"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <catalog_iter|catalog_scan|serving_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Every workload runs on
``local[<cores>]`` in this one process; the seed only generates inputs
(catalog query order per pass, the serving corpus and request schedule).
The last line of stdout is one JSON object::

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics: it also writes a Spark event log, spans and a
per-query / per-endpoint breakdown under ``perfbench/out/``.
``BENCHMARK.json`` declares ``catalog_scan`` and ``serving_mix``;
``catalog_iter`` is for runs by hand. ``METRICS.md`` says what each
workload and metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_iter", "catalog_scan", "serving_mix")
# A run sets up SETUPS times (setup_s is their median), then times one
# cold pass, then runs untimed warm-up passes, then times warm passes,
# at least MIN_PASSES (pass_s is their median): catalog passes for
# --seconds, serving_mix passes for half of it, because its set-ups and
# raw-frame check take longer.
SETUPS = 3
MIN_PASSES = 4
# serving_mix phases of traced runs, each a quarter of --seconds long:
# `light` sends open loop at LIGHT_RPS; `peak` runs one closed-loop
# client per core
LIGHT_RPS = 2.0
GOODPUT_LIMIT_MS = 1000.0
# one serving "pass": two distinct requests per endpoint, served serially
PASS_KINDS = ["search", "recommend", "movie", "health"] * 2
N_CHECK_REQUESTS = 50  # distinct requests replayed on the raw-frame path
# Conf of the serving tier, as scripts/bench_serving.py sets it.
SERVING_CONF = {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"}


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def mix_p50(samples: list[tuple[str, float]]) -> float:
    """Mix-weighted median latency of ``(kind, seconds)`` samples: the
    median of each kind (query or endpoint), weighted by that kind's
    share of the samples. The kinds' latencies differ severalfold, so a
    plain median of the mix sits on the boundary between two kinds and
    jumps with which side a sample lands on; 0 when nothing succeeded
    (the result line reports the failures)."""
    by: dict[str, list[float]] = {}
    for kind, s in samples:
        by.setdefault(kind, []).append(s)
    return sum(len(v) * statistics.median(v) for v in by.values()) / len(samples) if samples else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    """State of one benchmark run: session, tracer, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        from spans import Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores = cores()
        self.work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
        self.out = os.path.join(HERE, "out")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.jvm = None
        self._lock = threading.Lock()
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # keep Spark's and Python's scratch files inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)

    # -- bookkeeping ---------------------------------------------------

    def note(self, what: str, seconds: float) -> None:
        """Progress line on stderr."""
        print(f"perfbench: {self.workload} {what} {seconds:.3f} s", file=sys.stderr, flush=True)

    def count(self, ok: bool, why: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(why)

    # -- session -------------------------------------------------------

    def session(self, extra: dict[str, str] | None = None):
        """Stop the current session (if any) and start a fresh one; the
        JVM is launched by the first call and reused after."""
        from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        conf.update(extra or {})
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is not None:
            self.spark.stop()
        if self.jvm is not None:
            from pyspark import SparkContext

            try:
                SparkContext._gateway.shutdown()
            except Exception:  # noqa: BLE001 — the gateway may already be gone
                pass
            if self.jvm.stdin:
                self.jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def rss_mb(self) -> float:
        return vm_hwm_mb("self") + (vm_hwm_mb(self.jvm.pid) if self.jvm is not None else 0.0)

    # -- timing helpers ------------------------------------------------

    def call(self, group: str, fn, *args, parent=None, trace=""):
        """``fn(*args)`` under job group ``group``, as one span."""
        from spans import job_group

        sc = self.spark.sparkContext
        with self.tracer.span(group.rsplit("/", 1)[-1], parent=parent, trace=trace, group=group) as sp:
            with job_group(sc, group):
                result = fn(*args)
        return result, sp["end"] - sp["start"], sp

    # -- results -------------------------------------------------------

    def result(self) -> dict:
        metrics = self.layer if self.trace else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


# --- catalog workloads -------------------------------------------------


def catalog_setup(b: Bench, data: str, tables: list[str]) -> float:
    """Session start, one ``load_table`` per table read, one warm-up job."""
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources import readers

    t0 = time.perf_counter()
    spark = b.session()
    for t in tables:
        readers.load_table(spark, data, t)
    spark.range(1000).selectExpr("sum(id)").collect()
    s = time.perf_counter() - t0
    b.note("setup", s)
    return s


def run_query(b: Bench, fn, name: str, data: str, tag: str, sink: str, parent: int):
    """Build ``name`` and run it into ``sink`` (``noop`` or ``collect``).
    Returns ``(latency_s, pandas_or_None, dataframe, span)``; raises
    what the query raises."""
    group = f"{b.workload}/{tag}/{name}"
    with b.tracer.span(name, parent=parent, trace=tag, group=group) as q:
        df, _, _ = b.call(f"{group}/build", fn, b.spark, data, parent=q["id"], trace=tag)
        if sink == "noop":
            b.call(f"{group}/exec", lambda: df.write.format("noop").mode("overwrite").save(),
                   parent=q["id"], trace=tag)
            pdf = None
        else:
            pdf, _, _ = b.call(f"{group}/exec", df.toPandas, parent=q["id"], trace=tag)
    return q["end"] - q["start"], pdf, df, q


def catalog_pass(b: Bench, queries: dict, names: list[str], data: str, tag: str):
    """One serial pass (noop sink). Returns ``(wall_s, [(query, latency_s)],
    [(query span, dataframe)])``; the wall time is read from its own clock."""
    lat: list[tuple[str, float]] = []
    built = []
    with b.tracer.span("pass", trace=tag, pass_tag=tag) as p:
        t0 = time.perf_counter()
        for name in names:
            try:
                s, _, df, q = run_query(b, queries[name], name, data, tag, "noop", p["id"])
                lat.append((name, s))
                built.append((q, df))
                b.count(True)
            except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
                b.count(False, f"{tag}/{name}: {type(e).__name__}: {e}")
        p["wall_s"] = time.perf_counter() - t0
    b.note(f"pass {tag}", p["wall_s"])
    return p["wall_s"], lat, built


def catalog_check(b: Bench, queries: dict, names: list[str], data: str, tag: str,
                  expected: dict[str, str]) -> tuple[float, list[float], int]:
    """Run ``names`` on ``cores`` threads at once, each collected to the
    driver and checked against its oracle digest. Returns
    ``(wall_s, [(query, service latency_s)], correct count)``."""
    import oracle

    lat: list[tuple[str, float]] = []
    ok = [0]

    def one(i: int, name: str) -> None:
        try:
            s, pdf, _, _ = run_query(b, queries[name], name, data, f"{tag}-{i}", "collect", p["id"])
        except Exception as e:  # noqa: BLE001 — counted failure
            b.count(False, f"{tag}/{name}: {type(e).__name__}: {e}")
            return
        why = oracle.check(name, pdf, expected)
        b.count(why is None, why or "")
        with b._lock:
            lat.append((name, s))
            ok[0] += why is None

    with b.tracer.span("pass", trace=tag, pass_tag=tag) as p:
        with ThreadPoolExecutor(b.cores) as pool:
            for f in [pool.submit(one, i, n) for i, n in enumerate(names)]:
                f.result()
    b.note(f"pass {tag}", p["end"] - p["start"])
    return p["end"] - p["start"], lat, ok[0]


def run_catalog(b: Bench, names: list[str], tables: list[str]) -> None:
    import gen
    import oracle

    import __spark_entry__ as entry
    from spans import catalyst_ms
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.sources import readers

    queries = entry.queries()
    expected = oracle.load_digests()
    data = os.path.join(b.work, "catalog")
    gen.write_catalog(data)
    rng = random.Random(b.seed)

    def order(names):
        names = list(names)
        rng.shuffle(names)
        return names

    setups = [catalog_setup(b, data, tables) for _ in range(SETUPS)]
    cold_s = catalog_pass(b, queries, order(names), data, "cold")[0]
    # a pass keeps shrinking over the first passes of the JVM (JIT), so
    # the concurrent check pass and a serial pass warm up, untimed
    peak_wall, peak, n_ok = catalog_check(b, queries, order(names), data, "check", expected)
    catalog_pass(b, queries, order(names), data, "warmup0")
    passes: list[float] = []
    light: list[tuple[str, float]] = []
    built = []
    t_end = time.perf_counter() + b.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        wall, lat, q = catalog_pass(b, queries, order(names), data, f"p{len(passes) + 1}")
        passes.append(wall)
        light.extend(lat)
        built.extend(q)

    b.e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (cold_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
    }
    b.diag = {"latency.light_p50_ms": mix_p50(light) * 1e3, "latency.peak_p50_ms": mix_p50(peak) * 1e3,
              "latency.peak_goodput_rps": n_ok / peak_wall, "memory.peak_rss_mb": b.rss_mb()}
    if b.trace:
        # Catalyst phases of each timed query's returned DataFrame, read
        # after the timed passes: analysis ran eagerly in the build, the
        # optimizer and planner run here again (the noop write planned
        # its own command)
        for q, df in built:
            q["catalyst_ms"] = catalyst_ms(df)
        # untimed probe: one load_table per table the workload reads
        probe = []
        with b.tracer.span("sources.probe", trace="probe") as pr:
            for t in tables:
                _, s, sp = b.call(f"{b.workload}/probe/{t}/load_table", readers.load_table,
                                  b.spark, data, t, parent=pr["id"], trace="probe")
                probe.append(s)
        b.probe_ms = statistics.mean(probe) * 1e3


# --- serving_mix -------------------------------------------------------


def serving_setup(b: Bench, stage: dict[str, list[float]], k: int):
    """Session start, corpus generation, index build, write, load and
    cache. Returns ``(seconds, corpus, raw frame, cached index)``."""
    import gen

    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import pipelines
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark.operators import movierec

    def timed(key, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        stage.setdefault(key, []).append(time.perf_counter() - t)
        return out

    t0 = time.perf_counter()
    spark = b.session(SERVING_CONF)
    u_item = os.path.join(b.work, f"u{k}.item")
    index_dir = os.path.join(b.work, f"index{k}")
    corpus = gen.write_u_item(u_item, b.seed)
    frame = timed("pipelines.build_movie_index_s", pipelines.build_movie_index, spark, u_item)
    built = timed("operators.movierec.build_index_tables_s", movierec.build_movie_index_tables, frame)
    timed("operators.movierec.write_index_s", movierec.write_movie_index, built, index_dir)
    loaded = timed("operators.movierec.load_index_s", movierec.load_movie_index, spark, index_dir, True)
    idx = movierec.MovieIndex(
        docs=loaded.docs.cache(), postings=loaded.postings.cache(),
        vocab=loaded.vocab.cache(), terms=loaded.terms,
    )
    idx.docs.count()
    idx.postings.count()
    idx.vocab.count()
    s = time.perf_counter() - t0
    b.note("setup", s)
    return s, corpus, frame, idx


def endpoint_call(target, req):
    from recommandation_de_films_jay_z_entertainment_int_gration_de_big_data_et_ia_spark import serving

    fn = {
        "search": serving.search_endpoint,
        "recommend": serving.recommend_endpoint,
        "movie": serving.movie_endpoint,
    }.get(req.endpoint)
    if fn is None:
        return serving.health_endpoint(target)
    return fn(target, req.payload())


def serve(b: Bench, target, req, tag: str, i: int, parent=None):
    """One request; returns ``(status, body, service_s, span)``."""
    group = f"{b.workload}/{tag}-{i}/{req.endpoint}/exec"
    (status, body), s, sp = b.call(group, endpoint_call, target, req, parent=parent, trace=f"{tag}-{i}")
    return status, body, s, sp


def _record(b: Bench, idx, req, tag: str, i: int, due_at: float, sent_at: float,
            recs: list[dict], responses: dict) -> None:
    """Serve one request and record its latency from ``due_at``."""
    start = time.perf_counter()
    try:
        status, body, _, sp = serve(b, idx, req, tag, i)
        ok = status == 200
        why = f"{tag}-{i} {req.endpoint}: status {status}"
    except Exception as e:  # noqa: BLE001 — counted failure
        status, body, ok, sp = None, None, False, None
        why = f"{tag}-{i} {req.endpoint}: {type(e).__name__}: {e}"
    end = time.perf_counter()
    b.count(ok, why)
    with b._lock:
        recs.append({"i": i, "endpoint": req.endpoint, "ok": ok, "latency": end - due_at,
                     "queue": start - due_at, "lag": sent_at - due_at,
                     "span": sp["id"] if sp else None})
        if ok:
            responses.setdefault((req.endpoint, req.arg), (req, body))


def open_loop(b: Bench, idx, schedule, tag: str, responses: dict) -> dict:
    """Send ``schedule`` on time to a pool of ``cores`` workers; time each
    request from its due time."""
    recs: list[dict] = []
    with b.tracer.span("phase", trace=tag):
        t0 = time.perf_counter()
        with ThreadPoolExecutor(b.cores) as pool:
            futs = []
            for i, req in enumerate(schedule):
                due_at = t0 + req.due
                delay = due_at - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                futs.append(pool.submit(_record, b, idx, req, tag, i, due_at, time.perf_counter(),
                                        recs, responses))
            for f in futs:
                f.result()
        duration = time.perf_counter() - t0
    b.note(f"phase {tag} ({len(schedule)} requests)", duration)
    return {"recs": recs, "duration": duration}


def closed_loop(b: Bench, idx, requests, tag: str, responses: dict, seconds: float) -> dict:
    """``cores`` clients, each sending its next request of ``requests``
    as soon as its previous one is answered, for ``seconds``."""
    recs: list[dict] = []
    it = iter(enumerate(requests))
    lock = threading.Lock()

    def client() -> None:
        while time.perf_counter() < t_end:
            with lock:
                nxt = next(it, None)
            if nxt is None:
                return
            now = time.perf_counter()
            _record(b, idx, nxt[1], tag, nxt[0], now, now, recs, responses)

    with b.tracer.span("phase", trace=tag):
        t0 = time.perf_counter()
        t_end = t0 + seconds
        with ThreadPoolExecutor(b.cores) as pool:
            for f in [pool.submit(client) for _ in range(b.cores)]:
                f.result()
        duration = time.perf_counter() - t0
    b.note(f"phase {tag} ({len(recs)} requests)", duration)
    return {"recs": recs, "duration": duration}


def run_serving(b: Bench) -> None:
    import gen

    stage: dict[str, list[float]] = {}
    responses: dict = {}

    def serial_pass(tag):
        with b.tracer.span("pass", trace=tag) as p:
            t0 = time.perf_counter()
            for i, req in enumerate(pass_reqs):
                try:
                    status, body, _, _ = serve(b, idx, req, tag, i, parent=p["id"])
                    b.count(status == 200, f"{tag}-{i} {req.endpoint}: status {status}")
                    if status == 200:
                        responses.setdefault((req.endpoint, req.arg), (req, body))
                except Exception as e:  # noqa: BLE001 — counted failure
                    b.count(False, f"{tag}-{i} {req.endpoint}: {type(e).__name__}: {e}")
            p["wall_s"] = time.perf_counter() - t0
        b.note(f"pass {tag}", p["wall_s"])
        return p["wall_s"]

    setups = []
    for k in range(SETUPS):
        s, corpus, frame, idx = serving_setup(b, stage, k)
        setups.append(s)
    pass_reqs = gen.distinct_requests(b.seed, corpus, len(PASS_KINDS), 0, PASS_KINDS)
    cold_s = serial_pass("cold")
    # serial passes after the first are flat; the timed ones that follow
    # also warm the request path up for the traced phases
    serial_pass("warmup0")
    frame = frame.cache()  # the raw-frame path of the correctness sample
    warm: list[float] = []
    t_end = time.perf_counter() + b.seconds / 2
    while len(warm) < MIN_PASSES or time.perf_counter() < t_end:
        warm.append(serial_pass(f"p{len(warm) + 1}"))
    phases = {}
    if b.trace:
        # concurrent phases, traced diagnostics (see METRICS.md)
        phase_s = b.seconds / 4
        phases["light"] = open_loop(b, idx, gen.poisson_schedule(b.seed, corpus, LIGHT_RPS, phase_s, 0),
                                    "light", responses)
        # more requests than the clients can send in phase_s
        phases["peak"] = closed_loop(b, idx, gen.request_sequence(b.seed, corpus, int(20 * b.cores * phase_s), 1),
                                     "peak", responses, phase_s)

    # correctness sample: distinct requests answered on the index path
    # (the passes' requests, then more on `cores` threads at once),
    # replayed untimed on the raw-frame path; the answers must be equal
    sample = [v for v in responses.values()][:N_CHECK_REQUESTS]
    extra = [req for req in gen.distinct_requests(b.seed, corpus, 4 * N_CHECK_REQUESTS, stream=1)
             if (req.endpoint, req.arg) not in responses][:N_CHECK_REQUESTS - len(sample)]

    def answer(i, req):
        try:
            status, body, _, _ = serve(b, idx, req, "sample", i)
        except Exception as e:  # noqa: BLE001 — counted failure
            b.count(False, f"sample {req.endpoint} {req.arg}: {type(e).__name__}: {e}")
            return
        b.count(status == 200, f"sample {req.endpoint} {req.arg}: status {status}")
        if status == 200:
            with b._lock:
                sample.append((req, body))

    t0 = time.perf_counter()
    with ThreadPoolExecutor(b.cores) as pool:
        for f in [pool.submit(answer, i, req) for i, req in enumerate(extra)]:
            f.result()
    b.note(f"index-path sample ({len(extra)} requests)", time.perf_counter() - t0)

    def check(item):
        req, body = item
        try:
            status, raw = endpoint_call(frame, req)
        except Exception as e:  # noqa: BLE001 — counted failure
            b.count(False, f"check {req.endpoint} {req.arg}: {type(e).__name__}: {e}")
            return
        same = status == 200 and raw == body
        b.count(same, f"check {req.endpoint} {req.arg}: raw-frame answer differs (status {status})")

    t0 = time.perf_counter()
    with ThreadPoolExecutor(b.cores) as pool:
        for f in [pool.submit(check, item) for item in sample]:
            f.result()
    b.note(f"raw-frame check ({len(sample)} requests)", time.perf_counter() - t0)

    if b.trace:
        light, peak = phases["light"], phases["peak"]
        lat_l = [(r["endpoint"], r["latency"]) for r in light["recs"]]
        lat_p = [(r["endpoint"], r["latency"]) for r in peak["recs"]]
        good = sum(1 for r in peak["recs"] if r["ok"] and r["latency"] * 1e3 <= GOODPUT_LIMIT_MS)
        b.diag = {"latency.light_p50_ms": mix_p50(lat_l) * 1e3, "latency.peak_p50_ms": mix_p50(lat_p) * 1e3,
                  "latency.peak_goodput_rps": good / peak["duration"], "memory.peak_rss_mb": b.rss_mb()}
    b.e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (cold_s, "s"),
        "pass_s": (statistics.median(warm), "s"),
    }
    b.stage = {k: statistics.median(v) for k, v in stage.items()}
    b.phases = phases


# --- per-layer ledger ----------------------------------------------------


def ledger(b: Bench) -> None:
    """Join spans with the event log into the per-layer metrics and write
    the traced run's artifacts."""
    import ledger as L

    logs = sorted(os.listdir(b.eventlog))
    app = b.spark_app
    path = os.path.join(b.eventlog, next(f for f in logs if f.startswith(app)))
    b.layer, breakdown = L.per_layer(b, path)
    os.makedirs(b.out, exist_ok=True)
    stem = os.path.join(b.out, f"{b.workload}-seed{b.seed}")
    b.tracer.dump(stem + ".spans.json")
    with open(stem + ".ledger.json", "w") as fh:
        json.dump({"metrics": {k: v for k, (v, _) in b.layer.items()}, "breakdown": breakdown,
                   "end_to_end_traced": {k: v for k, (v, _) in b.e2e.items()}}, fh, indent=1)
    shutil.copyfile(path, stem + ".eventlog")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401 — the program under test
        import queries as Q
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "serving_mix":
            run_serving(b)
        else:
            it = args.workload == "catalog_iter"
            run_catalog(b, list(Q.ITER_PASS if it else Q.SCAN_PASS), list(Q.ITER_TABLES if it else Q.SCAN_TABLES))
        b.spark_app = b.spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — report, stop Spark, fail the run
        traceback.print_exc()
        b.close()
        return 1
    b.close()
    if b.trace:
        ledger(b)
    for why in b.errors:
        print("perfbench: failed:", why, file=sys.stderr)
    shutil.rmtree(b.work, ignore_errors=True)
    print(json.dumps(b.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
