"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The two ``traced_*`` tests run a short traced benchmark in a
subprocess (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from spans import attach_jobs, covered  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_catalog_generator_is_deterministic(tmp_path):
    gen.write_catalog(str(tmp_path / "a"), seed=7)
    gen.write_catalog(str(tmp_path / "b"), seed=7)
    gen.write_catalog(str(tmp_path / "c"), seed=8)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert _sha(str(tmp_path / "a" / n)) == _sha(str(tmp_path / "b" / n))
    assert _sha(str(tmp_path / "a" / "lineitem.parquet")) != _sha(str(tmp_path / "c" / "lineitem.parquet"))


def test_serving_inputs_are_deterministic(tmp_path):
    c1 = gen.write_u_item(str(tmp_path / "a.item"), 3)
    c2 = gen.write_u_item(str(tmp_path / "b.item"), 3)
    gen.write_u_item(str(tmp_path / "c.item"), 4)
    assert _sha(str(tmp_path / "a.item")) == _sha(str(tmp_path / "b.item"))
    assert _sha(str(tmp_path / "a.item")) != _sha(str(tmp_path / "c.item"))
    with open(tmp_path / "a.item") as fh:
        rows = [line.rstrip("\n").split("|") for line in fh]
    assert len(rows) == gen.N_MOVIES and all(len(r) == 24 for r in rows)
    s1 = gen.poisson_schedule(3, c1, 6.0, 30.0, 1)
    assert s1 == gen.poisson_schedule(3, c2, 6.0, 30.0, 1)
    assert s1 != gen.poisson_schedule(4, c1, 6.0, 30.0, 1)
    share = sum(r.endpoint == "search" for r in s1) / len(s1)
    assert 0.3 < share < 0.7
    assert all(0 <= a.due < b.due < 30.0 for a, b in zip(s1, s1[1:]))
    d = gen.distinct_requests(3, c1, 50, 1)
    assert len({(r.endpoint, r.arg) for r in d}) == 50


def test_seeds_offer_the_same_request_shapes():
    def shapes(seed):
        c = gen.make_corpus(seed)
        pools = {c.titles[i]: name for name, ix in (("plain", c.plain), ("no_genre", c.no_genre),
                                                   ("ambiguous", c.ambiguous)) for i in ix}
        out = []
        for r in gen.request_sequence(seed, c, 200, 1):
            if r.endpoint == "search":
                out.append(("search", len(r.arg[0].split()), r.arg[1]))
            elif r.endpoint == "recommend":
                out.append(("recommend", pools[r.arg[0]]))
            else:
                out.append((r.endpoint,))
        return sorted(out)

    a = shapes(1)
    assert a == shapes(2)
    assert {x[1] for x in a if x[0] == "recommend"} == {"plain", "no_genre", "ambiguous"}


def test_digest_rejects_a_perturbed_row():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    expected = {"q": oracle.digest(df)}
    assert oracle.check("q", df.iloc[::-1].reset_index(drop=True), expected) is None
    bad = df.copy()
    bad.loc[1, "v"] = 1.2500000001
    assert oracle.check("q", bad, expected) is not None
    assert oracle.check("q", df.iloc[:2], expected) is not None
    assert oracle.check("other", df, expected) is not None


def test_stored_digests_cover_every_catalog_query():
    import queries

    names = set(queries.CATALOG_ITER) | set(queries.CATALOG_SCAN)
    assert len(names) == 27
    assert set(oracle.load_digests()) == names
    assert set(queries.ITER_PASS) <= set(queries.CATALOG_ITER)
    assert set(queries.SCAN_PASS) <= set(queries.CATALOG_SCAN)


class _StubContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


class _StubSpark:
    sparkContext = _StubContext()


def test_a_query_that_raises_counts_as_a_failure(monkeypatch):
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS", "SPARK_GRAFT_CPUS"):
        monkeypatch.setenv(k, os.environ.get(k, ""))  # restored after the test
    b = run.Bench("catalog_iter", 0, 0.0, trace=False)
    b.spark = _StubSpark()

    def boom(spark, path):
        raise RuntimeError("planned failure")

    def fine(spark, path):
        class DF:
            write = None

        return DF()

    _, lat, _ = run.catalog_pass(b, {"q_boom": boom}, ["q_boom"], "/nonexistent", "p1")
    assert (b.attempted, b.failed, lat) == (1, 1, [])
    res = b.result()
    assert res["correct"] is False and res["failed"] == 1
    # a sink that raises (here: no writer) is a failure too
    run.catalog_pass(b, {"q_fine": fine}, ["q_fine"], "/nonexistent", "p2")
    assert (b.attempted, b.failed) == (2, 2)
    shutil.rmtree(b.work)


def test_job_cover_and_self_time():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    spans = [{"id": 1, "name": "build", "group": "w/p1/q/build", "start": 10.0, "end": 14.0}]
    jobs = {
        0: {"group": "w/p1/q/build", "start": 10.5, "end": 11.5, "python": {}},
        1: {"group": "w/p1/q/build", "start": 11.0, "end": 12.0, "python": {}},
        2: {"group": "w/p1/q/exec", "start": 12.0, "end": 13.0, "python": {}},
    }
    out = attach_jobs(spans, jobs)
    assert spans[0]["jobs"] == 2
    assert spans[0]["job_s"] == pytest.approx(1.5)
    assert spans[0]["self_s"] == pytest.approx(2.5)
    assert sum(1 for s in out if s["name"] == "spark.job") == 2


def _traced(workload: str, tmp_path) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    with open(os.path.join(HERE, "out", f"{workload}-seed5.ledger.json")) as fh:
        return json.load(fh)


def test_traced_catalog_layers_add_up(tmp_path):
    led = _traced("catalog_iter", tmp_path)
    passes = led["breakdown"]["passes"]
    assert len(passes) >= run.MIN_PASSES
    for p in passes:
        # build + exec of the pass's queries, from their spans, is the
        # pass's wall time read from its own clock, up to loop overhead
        parts = p["build_s"] + p["exec_s"]
        assert parts <= p["wall_s"] + 0.01, p
        assert parts == pytest.approx(p["wall_s"], abs=0.05 + 0.02 * p["wall_s"]), p
    m = led["metrics"]
    assert m["plans.build_jobs"] > 0 and m["spark.exec.jobs"] > 0
    assert 0 <= m["plans.build_driver_s"] <= m["plans.build_s"]
    assert 0 < m["plans.build_job_s"] <= m["plans.build_s"]
    assert m["spark.catalyst.plan_s"] > 0
    assert m["sources.load_table_jobs"] > 0
    # the iterative callables spend most of a pass building
    assert m["plans.build_s"] > 0.5 * m["trace.pass_s"]


def test_traced_serving_queue_plus_service_is_latency(tmp_path):
    led = _traced("serving_mix", tmp_path)
    eps = led["breakdown"]["endpoints"]
    assert {"search", "recommend"} <= set(eps)
    with open(os.path.join(HERE, "out", "serving_mix-seed5.spans.json")) as fh:
        spans = json.load(fh)
    assert any(s["name"] == "phase" for s in spans)
    m = led["metrics"]
    assert m["serving.search.ms"] > 0 and m["pipelines.build_movie_index_s"] > 0
    recs = led["breakdown"]["requests"]
    assert recs
    for r in recs:
        assert r["queue_ms"] + r["service_ms"] == pytest.approx(r["latency_ms"], abs=5.0)
