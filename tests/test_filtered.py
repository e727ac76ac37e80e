"""Filtered search (F1-F4 analogs; reference tests/test_filtered_search.cpp):
predicate over doc metadata -> masked scoring, rank-identical to an
oracle restricted to the passing subset."""

import pytest
from pyspark.sql import functions as F

from pdx_spark.operators.searcher import Searcher
from tests.test_engine import assert_rank_identical, collect_topk


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    return Searcher.load(spark, tiny_index)


@pytest.fixture(scope="module")
def doc_meta(searcher):
    rows = searcher.docs().select("doc_id", "role", "tool", "ts").collect()
    return {r["doc_id"]: (r["role"], r["tool"], r["ts"]) for r in rows}


QUERIES = [(0, "w0000", 10), (1, "w0003 w0150", 10), (2, "w0010 w0020", 15)]


def _allowed(doc_meta, fn):
    return {d for d, meta in doc_meta.items() if fn(*meta)}


@pytest.mark.parametrize("pred,pyfn", [
    ("role = 'assistant'", lambda role, tool, ts: role == "assistant"),
    ("tool = 'bash'", lambda role, tool, ts: tool == "bash"),
    ("role IN ('user','tool')", lambda role, tool, ts: role in ("user", "tool")),
    ("ts >= timestamp'2026-01-01 00:10:00'",
     lambda role, tool, ts: ts.isoformat() >= "2026-01-01T00:10:00"),
])
def test_filtered_matches_restricted_oracle(searcher, tiny_oracle, doc_meta,
                                            pred, pyfn):
    allowed = _allowed(doc_meta, pyfn)
    res = searcher.search_batch(QUERIES, predicate=pred,
                                two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        want = tiny_oracle.topk(qtext, k, allowed=allowed)
        assert_rank_identical(collect_topk(res, qid), want, f"{pred} q{qid}")
    res.unpersist()


def test_allpass_filter_equals_unfiltered(searcher):
    """test_filtered_search.cpp:48-69 analog."""
    a = searcher.search_batch(QUERIES, predicate="doc_id >= 0").collect()
    b = searcher.search_batch(QUERIES).collect()
    key = lambda r: (r["query_id"], r["doc_id"], round(r["score"], 9))
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_empty_filter_returns_empty(searcher):
    """test_filtered_search.cpp:71-81 analog."""
    res = searcher.search_batch(QUERIES, predicate="role = 'nosuchrole'")
    assert res.count() == 0


def test_filtered_pruned_equals_filtered_exact(searcher):
    pred = "role = 'user'"
    a = searcher.search_batch(QUERIES, predicate=pred).collect()
    b = searcher.search_batch(QUERIES, predicate=pred, exact=True).collect()
    key = lambda r: (r["query_id"], r["doc_id"], round(r["score"], 9))
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_small_mask_rides_map_scan(searcher, tiny_oracle, doc_meta):
    """A small predicate mask ships in the scorer closure (scan-fused
    selection vector, reference searcher.hpp:284-372) so the filtered
    batch keeps the shuffle-free map scan — and the answers stay
    rank-identical to the cogroup channel's (forced by a routing cap
    too small for the mask to ride the closure)."""
    pred = "role = 'assistant'"
    allowed = _allowed(doc_meta, lambda role, tool, ts: role == "assistant")
    res = searcher.search_batch(QUERIES, predicate=pred).persist()
    assert searcher.last_plan.get("mask_in_closure") is True, \
        searcher.last_plan
    assert searcher.last_plan["mode"] in ("exhaustive", "routed", "unrouted")
    for qid, qtext, k in QUERIES:
        want = tiny_oracle.topk(qtext, k, allowed=allowed)
        assert_rank_identical(collect_topk(res, qid), want, f"closure q{qid}")
    res.unpersist()
    # cogroup twin: a cap of 2 keeps the mask out of the closure
    from pdx_spark.operators import searcher as S
    s2 = Searcher.load(searcher.spark, searcher.path)
    old_cap = S._ROUTING_CAP
    S._ROUTING_CAP = 2
    try:
        a = s2.search_batch(QUERIES, predicate=pred).collect()
    finally:
        S._ROUTING_CAP = old_cap
    assert s2.last_plan.get("mask_in_closure") in (None, False)
    b = searcher.search_batch(QUERIES, predicate=pred).collect()
    key = lambda r: (r["query_id"], r["doc_id"], round(r["score"], 9))
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_huge_mask_estimate_skips_closure(searcher):
    """An unselective deny-mode predicate whose estimated mask exceeds
    the cap must keep the cogroup channel (no bounded peek adopted)."""
    import numpy as np

    from pdx_spark.operators import searcher as S
    old_cap = S._ROUTING_CAP
    S._ROUTING_CAP = 2  # force "mask too big" at fixture scale
    try:
        res = searcher.search_batch(QUERIES, predicate="role = 'assistant'")
        n = res.count()
        assert searcher.last_plan.get("mask_in_closure") in (None, False)
        assert n > 0
    finally:
        S._ROUTING_CAP = old_cap
