"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run perfbench/run.py at tiny scale
(PERFBENCH_SCALE=tiny) in a subprocess, about a minute each; the rest
need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    env = dict(os.environ, PERFBENCH_SCALE="tiny")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail = json.loads(next(ln for ln in lines
                             if ln.startswith("detail "))[7:])
    return json.loads(lines[-1]), detail


def test_benchmark_json_matches_metric_units():
    b = _bench()
    assert sorted(w["name"] for w in b["workloads"]) == sorted(
        workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.LAYER


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_its_unit(workload, trace):
    res, detail = _run(workload, trace)
    b = _bench()
    want = {m["name"]: m["unit"]
            for m in b["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert detail["host"]["nproc"] >= 1 and detail["host"]["seed"] == 3
    if trace:
        # no span's self time is negative
        assert detail["ledger"]["trace"]["self_time_min_s"] >= 0


def _oracle_and_rec():
    from pdx_spark.oracle import BM25Oracle
    docs = {0: "w1 w2 w2", 1: "w2 w3", 2: "w1 w1 w3", 3: "w4"}
    oracle = BM25Oracle(docs)
    queries = [(0, "w1 w2", 3), (1, "w3", 2)]
    results = {q: oracle.topk(t, k) for q, t, k in queries}
    rec = {"ok": True, "opts": {}, "queries": queries, "results": results}
    return oracle, rec


def _bare_run():
    return workloads.Run(None, spans.Tracer(False), "", seed=1, seconds=1)


def test_correct_answers_pass():
    oracle, rec = _oracle_and_rec()
    run = _bare_run()
    run.attempted = 1
    run.check_oracle(oracle, [rec])
    assert run.failed == 0 and rec["ok"]


def test_injected_wrong_score_is_a_failure():
    oracle, rec = _oracle_and_rec()
    doc, score = rec["results"][0][0]
    rec["results"][0][0] = (doc, score * (1 + 1e-6))
    run = _bare_run()
    run.attempted = 1
    run.check_oracle(oracle, [rec])
    assert run.failed == 1 and not rec["ok"]


def test_injected_wrong_score_fails_the_exact_check():
    oracle, rec = _oracle_and_rec()
    rows = [(q, d, s) for q, r in rec["results"].items() for d, s in r]

    class Exact:  # stands in for a Searcher: exact=True answers `rows`
        def search_batch(self, queries, exact=False, **opts):
            assert exact
            return type("R", (), {"collect": lambda _: rows})()

    doc, score = rec["results"][1][0]
    rec["results"][1][0] = (doc, score + 0.5)
    run = _bare_run()
    run.attempted = 1
    run.check_exact(Exact(), [rec])
    assert run.failed == 1


def test_self_time_never_negative():
    sp = [spans.Span(1, "op", None, 0.0, 10.0),
          spans.Span(2, "a", 1, 1.0, 4.0),
          spans.Span(3, "b", 1, 3.0, 12.0),   # overlaps a, ends past op
          spans.Span(4, "c", 3, 5.0, 6.0)]
    jobs = [spans.Job(0, "pb1", "", "", 2.0, 9.5, None, span=1),
            spans.Job(1, None, "", "", -5.0, 1.5, None, span=2)]
    tree = spans.Tree(sp, jobs)
    for s in sp:
        assert tree.self_time(s) >= 0
    assert tree.self_time(sp[0]) == pytest.approx(1.0)  # [0, 1) only
    assert tree.self_time(sp[1]) == pytest.approx(2.5)
    # jobs cover [0, 1.5) and [2, 9.5); c sits inside the latter
    assert metrics.coverage(tree, sp[0]) == pytest.approx(0.9)


def test_tail_percentile_has_ten_samples_beyond():
    v, pct, n = metrics.tail([float(i) for i in range(40)])
    assert (v, n) == (29.0, 40) and pct == pytest.approx(75.0)


def test_serving_window_runs_whole_cycles():
    class Stub:  # stands in for a Searcher: 10 ms per batch
        last_plan = {"mode": "exhaustive"}

        def search_batch(self, queries, **opts):
            time.sleep(0.01)
            return type("R", (), {"collect": lambda _: []})()

    run = _bare_run()
    run.seconds = 0.035  # runs out inside the second cycle
    recs = workloads._serve(run, Stub(), lambda n: [(0, "w1", 1)] * n,
                            [(2, {}), (3, workloads.ALL)])
    assert len(recs) % 2 == 0 and len(recs) >= 2 * workloads.MIN_CYCLES
    assert [(r["n"], r["opts"]) for r in recs[:2]] == [(2, {}),
                                                       (3, workloads.ALL)]
    assert all(r["kind"] == "serve" for r in recs)


def test_peak_rss_is_sampled():
    with host.PeakRss(every=0.01) as rss:
        time.sleep(0.05)
    assert 0 < rss.gb < 1024
