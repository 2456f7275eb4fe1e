"""Tests of the benchmark itself: generator determinism, the verdict
checker, the tail rule, the metric contract and the no-checkout exit.
None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, run
from perfbench.adhoc import Adhoc
from perfbench.corpus import Corpus
from perfbench.fleet import ALL_DAGS, Fleet, check_run, due_pipelines
from perfbench.trace import Span, Tracer, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RELATIONAL = [f"q{i:02d}" for i in range(1, 52)]


def _fires(plan: gen.FleetPlan, ticks: int):
    ts = plan.start
    for k in range(ticks):
        for name in sorted(due_pipelines(ts, k == 0)):
            yield name, ts
        ts += gen.TICK


def _schedule(seed: int, ticks: int = 2 * 288):
    plan = gen.fleet_plan(seed)
    return plan.start, plan.variables, [
        (name, ts, plan.verdict(name, ts), plan.rows(src, ts))
        for name, ts in _fires(plan, ticks)
        for src in ("adguard_querylog", "ha_entities", "syncthing_folders", "disk")
    ]


def test_same_seed_same_schedule_faults_and_query_mix():
    assert _schedule(7) == _schedule(7)
    assert _schedule(7) != _schedule(8)
    vecs, _ = gen.embedding_matrix()
    deck = gen.query_deck(7, RELATIONAL, vecs, 0)
    assert deck == gen.query_deck(7, RELATIONAL, vecs, 0)
    assert [q.name for q in deck] != [q.name for q in gen.query_deck(8, RELATIONAL, vecs, 0)]
    assert gen.shuffled_documents(7).equals(gen.shuffled_documents(7))
    assert gen.star_tables(0.001)["lineitem"].equals(gen.star_tables(0.001)["lineitem"])


def test_fault_share_and_deck_composition():
    plan = gen.fleet_plan(3)
    fires = list(_fires(plan, 7 * 288))
    faulted = sum(plan.verdict(n, ts).fault is not None for n, ts in fires)
    assert 0.07 < faulted / len(fires) < 0.13
    vecs = gen.embedding_matrix()[0]
    decks = [gen.query_deck(3, RELATIONAL, vecs, d) for d in range(3)]
    served = [sorted(q.name for q in deck if q.kind == "relational") for deck in decks]
    assert served[0] == served[1] == served[2] == sorted(gen.served_queries(3, RELATIONAL))
    assert len(served[0]) == -(-len(RELATIONAL) // gen.STRATUM)
    for deck in decks:
        assert sorted(q.kind for q in deck if q.kind != "relational") == sorted(gen.VECTOR_KINDS)
    # one query per cost stratum, and every query is served by some seed
    ranks = {q: i // gen.STRATUM for i, q in enumerate(gen.RELATIONAL_BY_COST)}
    assert sorted(ranks[q] for q in served[0]) == list(range(len(served[0])))
    assert set().union(*(gen.served_queries(s, RELATIONAL) for s in range(200))) == set(RELATIONAL)


def test_documents_row_order_is_the_only_seeded_part():
    a, b = gen.shuffled_documents(1), gen.shuffled_documents(2)
    assert a.column("doc_id").to_pylist() != b.column("doc_id").to_pylist()
    assert a.sort_by("doc_id").equals(b.sort_by("doc_id"))


def _run_for(verdict: gen.Verdict, pipeline: str, plan: gen.FleetPlan):
    from airflow_spark.pipeline.core import PipelineRun, TaskResult

    tasks = {"clients": TaskResult("clients", "success")}
    for t in ("check_requests", "paused_folders", "speed_test",
              "update_dns_records", "check_disk_usage"):
        tasks[t] = TaskResult(t, "failed" if t in verdict.failed_tasks else "success")
    if pipeline == "Speedtest":
        tasks["speed_test"].elements = [
            {"element": d, "status": "failed" if d in verdict.failed_elements else "success"}
            for d in plan.speed_devices
        ]
    return PipelineRun("r", verdict.status, tasks, dt.datetime(2026, 1, 1), 0.1)


def test_verdict_checker_rejects_a_flipped_verdict():
    plan = gen.fleet_plan(11)
    seen = set()
    for name, ts in _fires(plan, 14 * 288):
        v = plan.verdict(name, ts)
        if (name, v.status) in seen:
            continue
        seen.add((name, v.status))
        run_ok = _run_for(v, name, plan)
        assert check_run(plan, name, ts, run_ok) is None
        flipped = gen.Verdict(
            "success" if v.status == "failed" else "failed",
            frozenset() if v.failed_tasks else frozenset({"check_requests"}),
        )
        assert check_run(plan, name, ts, _run_for(flipped, name, plan)) is not None
    assert {n for n, st in seen if st == "failed"} == set(gen.FAULTS)
    assert {n for n, _ in seen} == set(ALL_DAGS)


def test_verdict_checker_rejects_the_wrong_failing_device():
    plan = gen.fleet_plan(5)
    name, ts = next(
        (n, t) for n, t in _fires(plan, 60 * 288)
        if n == "Speedtest" and plan.verdict(n, t).fault
    )
    v = plan.verdict(name, ts)
    other = next(d for d in plan.speed_devices if d not in v.failed_elements)
    wrong = gen.Verdict(v.status, v.failed_tasks, frozenset({other}))
    assert check_run(plan, name, ts, _run_for(wrong, name, plan)) is not None


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_keeps_ten_samples_beyond(n, want):
    values = [float(i) for i in range(1, n + 1)]
    got = tail(values)
    if want is None:
        assert got is None
        return
    p, v = got
    assert p == want
    assert sum(x > v for x in values) >= 10


def test_self_time_subtracts_child_coverage_once():
    tr = Tracer(True)
    tr.spans = [
        Span(0, "parent", 0.0, 10.0, None, 0),
        Span(1, "child", 1.0, 4.0, 0, 0),
        Span(2, "child", 3.0, 5.0, 0, 0),  # overlaps the first child
        Span(3, "child", 9.0, 12.0, 0, 0),  # runs past the parent
    ]
    st = tr.self_times()
    assert st["parent"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["child"] == pytest.approx(3.0 + 2.0 + 3.0)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_declared_metric_is_reported_with_its_unit(tmp_path):
    spec = _spec()
    e2e = {m["name"]: 1.5 for m in spec["end_to_end"]}
    got = run.result_metrics(spec, e2e, trace=False)
    assert list(got) == [m["name"] for m in spec["end_to_end"]]
    assert all(got[m["name"]]["unit"] == m["unit"] for m in spec["end_to_end"])
    layers = {"session.start_s": 1.0, "catalog.load_s": 1.0, "trace.overhead_frac": 0.0}
    for cls in (Fleet, Corpus, Adhoc):
        layers.update(cls(1, str(tmp_path), Tracer(True)).per_layer())
    got = run.result_metrics(spec, layers, trace=True)
    assert list(got) == [m["name"] for m in spec["per_layer"]]
    assert all(got[m["name"]]["unit"] == m["unit"] for m in spec["per_layer"])
    with pytest.raises(KeyError):
        run.result_metrics(spec, {"not.declared_s": 1.0}, trace=True)


def test_benchmark_json_matches_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_exits_nonzero_without_a_source_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    spec = _spec()
    proc = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": ""}, executable=None,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_numpy_adc_reference_matches_a_loop():
    from perfbench.adhoc import numpy_adc_topk

    rng = np.random.default_rng(0)
    books = rng.standard_normal((4, 8, 2))
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    q = rng.standard_normal(8)
    ids, dist = numpy_adc_topk(books, vecs, q, 5)
    want = []
    for i, v in enumerate(vecs.astype(np.float64)):
        d = 0.0
        for j in range(4):
            sub = v[2 * j: 2 * j + 2]
            code = min(range(8), key=lambda c: (((sub - books[j, c]) ** 2).sum(), c))
            d += ((q[2 * j: 2 * j + 2] - books[j, code]) ** 2).sum()
        want.append((d, i))
    assert ids == [i for _, i in sorted(want)[:5]]
    assert dist[ids[0]] == pytest.approx(sorted(want)[0][0])


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
