"""Per-batch serving state: concurrent batches on one Searcher score with
their own options, and cached per-batch frames are released even when a
batch fails."""

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from pdx_spark.operators import searcher as S
from pdx_spark.operators.searcher import Searcher

# three-term queries over hot and mid vocabulary: AND, OR and 2-of-3
# answers all differ on them
QUERIES = [(i, f"w{(7 * i) % 40:04d} w{(13 * i + 3) % 60:04d} "
               f"w{(5 * i + 1) % 25:04d}", 10) for i in range(30)]
OPTIONS = [{"require_all_terms": True}, {}, {"min_should_match": 2}]
# closure-mask predicates: a rare one ships its passing ids ("allow"),
# an all-pass one its (empty) failing set ("deny")
PREDICATES = [{"predicate": "role = 'system'"}, {"predicate": "doc_id >= 0"}]
PRUNED = {"force_two_phase": True, "two_phase_min_shards": 2}


def _rows(df):
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in df.collect())


def test_concurrent_batches_keep_their_options(spark, tiny_index):
    """8 threads run plan() and execute() with mixed require_all_terms /
    min_should_match and closure-mask predicates on ONE Searcher; every
    batch equals the serial answer for its own options, and its own
    plan record has the serial record's mode and mask channel."""
    s = Searcher.load(spark, tiny_index)
    want = [_rows(s.search_batch(QUERIES, **PRUNED, **o)) for o in OPTIONS]
    assert len({tuple(w) for w in want}) == len(OPTIONS)  # options matter
    kinds = OPTIONS + PREDICATES
    records = []
    for o in kinds:
        if o in PREDICATES:
            want.append(_rows(s.search_batch(QUERIES, **PRUNED, **o)))
        else:
            s.search_batch(QUERIES, **PRUNED, **o)
        records.append(dict(s.last_plan))
    assert [r["filter_mode"] for r in records[len(OPTIONS):]] == \
        ["allow", "deny"], records
    assert all(r["mask_in_closure"] for r in records[len(OPTIONS):])

    def run(i):
        o = i % len(kinds)
        plan = s.plan(QUERIES, **PRUNED, **kinds[o])
        rows = _rows(s._results_df(s.execute(plan)))
        return o, rows, plan.record

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(run, i) for i in range(24)]
        got = [f.result(timeout=600) for f in futures]
    bad = [i for i, (o, rows, _) in enumerate(got) if rows != want[o]]
    assert not bad, f"{len(bad)} of {len(got)} batches differ: {bad}"
    for o, _, rec in got:
        for key in ("mode", "mask_in_closure"):
            assert rec[key] == records[o][key], (kinds[o], rec, records[o])


def test_term_caches_stay_within_the_plan_slice_cap(spark, tiny_index,
                                                    monkeypatch):
    """A long-lived Searcher's idf and plan caches are dropped whole
    when a batch would push them past _PLAN_SLICE_CAP (idf counted in
    terms, the plan in shard rows): over batches with more distinct
    terms than the cap, both stay within it and both drop, and every
    batch equals the answer of a Searcher at the default cap. Then 8
    threads run the same batches on one fresh Searcher: every batch
    still equals its answer, and each cache's count still equals the
    weight of what it holds (a lost or doubled update would break it)."""
    batches = [[(q, f"w{300 + 3 * b + q:04d}", 10) for q in range(3)]
               for b in range(12)]
    ref = Searcher.load(spark, tiny_index)
    want = [_rows(ref.search_batch(qs, **PRUNED)) for qs in batches]
    cap = 20
    monkeypatch.setattr(S, "_PLAN_SLICE_CAP", cap)

    def check_caches(s):
        idf, plan = s._idf_cache, s._plan_cache
        assert len(idf) == idf.size <= cap
        assert sum(max(1, len(v[0])) for v in plan.values()) \
            == plan.size <= cap
        return idf.size, plan.size

    s = Searcher.load(spark, tiny_index)
    sizes, modes = [], set()
    for qs, rows in zip(batches, want):
        assert _rows(s.search_batch(qs, **PRUNED)) == rows, qs
        modes.add(s.last_plan["mode"])
        sizes.append(check_caches(s))
    assert modes - {"exhaustive"}, modes  # the plan cache was used
    for c in (0, 1):  # each cache was dropped at least once
        assert any(b[c] < a[c] for a, b in zip(sizes, sizes[1:])), sizes

    s = Searcher.load(spark, tiny_index)

    def run(j):  # 8 threads at a time on one batch: they miss together
        b = j // 8
        return b, _rows(s._results_df(s.execute(s.plan(batches[b],
                                                       **PRUNED))))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads more often
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(run, range(8 * len(batches)), timeout=600))
    finally:
        sys.setswitchinterval(switch)
    bad = [j for j, (b, rows) in enumerate(got) if rows != want[b]]
    assert not bad, f"{len(bad)} of {len(got)} batches differ: {bad}"
    check_caches(s)


def test_concurrent_driver_scored_batches(spark, topic, many_shards_index,
                                          monkeypatch, spark_jobs):
    """8 threads run batches on two fresh Searchers, every scan scored
    in the driver: routed and exhaustive (exact=True) batches over the
    topic fixture, and a hot batch that runs the unrouted pass over the
    many-shard index. No Spark job runs, every batch equals its serial
    answer, and each index dir's pyarrow dataset (the per-Searcher file
    list) is built once."""
    import pyarrow.dataset as ds

    from tests.test_plans import topic_queries

    two_phase, exact = {"force_two_phase": True}, {"exact": True}
    batches = [(0, topic_queries(n, off), two_phase)
               for off in range(3) for n in (1, 16, 48)]
    batches += [(0, topic_queries(n, 1), exact) for n in (1, 48)]
    batches += [(1, [(0, "w0000 w0001", 10)], {})]
    serial = [topic[0], Searcher.load(spark, many_shards_index)]
    want, modes = [], []
    for i, qs, kw in batches:
        want.append(_rows(serial[i].search_batch(qs, **kw)))
        modes.append(serial[i].last_plan["mode"])
    assert set(modes) == {"routed", "exhaustive", "unrouted"}, modes
    built, dataset = [], ds.dataset

    def counted(path, *a, **k):
        built.append(path)
        return dataset(path, *a, **k)
    monkeypatch.setattr(ds, "dataset", counted)
    fresh = [Searcher.load(spark, topic[0].path),
             Searcher.load(spark, many_shards_index)]
    n0 = spark_jobs()

    def run(j):
        b = j % len(batches)
        i, qs, kw = batches[b]
        return b, _rows(fresh[i].search_batch(qs, **kw))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads more often
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(run, range(3 * len(batches)), timeout=600))
    finally:
        sys.setswitchinterval(switch)
    assert spark_jobs() == n0
    bad = [i for i, (b, rows) in enumerate(got) if rows != want[b]]
    assert not bad, f"{len(bad)} of {len(got)} batches differ: {bad}"
    assert built and len(built) == len(set(built)), built


def test_failed_batch_releases_cached_frames(spark, tiny_index, monkeypatch,
                                             spark_jobs):
    """A cogroup batch that fails mid-scan leaves no cached frame
    behind: the persistent RDDs are those of the warm-up batch (the
    selectivity-sample cache stays, by design, until close())."""
    monkeypatch.setattr(S, "_ROUTING_CAP", 2)  # mask + routing via cogroup
    s = Searcher.load(spark, tiny_index)
    kw = dict(predicate="role = 'assistant'", **PRUNED)
    s.search_batch(QUERIES[:5], **kw).collect()
    n0 = spark_jobs()
    s.search_batch(QUERIES[:5], **kw).collect()
    assert s.last_plan["mode"] == "cogroup", s.last_plan
    # warm: planning runs on the driver and adds no Spark job. Measured
    # 12 jobs at local[4] and local[8] (selectivity count, seed and main
    # cogroup scans with their window merges); the distributed planner
    # this replaced ran 24
    assert spark_jobs() - n0 <= 12
    jsc = spark.sparkContext._jsc
    warm = set(jsc.getPersistentRDDs().keys())

    def boom(*a, **k):
        raise RuntimeError("scan failed")
    monkeypatch.setattr(Searcher, "_scan", boom)
    with pytest.raises(RuntimeError, match="scan failed"):
        s.search_batch(QUERIES[:5], **kw)
    assert set(jsc.getPersistentRDDs().keys()) <= warm


def test_close_releases_persisted_frames(spark, tiny_index):
    """After a predicate batch, close() (here through the context
    manager) leaves no persistent RDD from that Searcher."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with Searcher.load(spark, tiny_index) as s:
        s.search_batch(QUERIES[:5], predicate="role = 'assistant'",
                       **PRUNED).collect()
        sample = s._sel_sample[0]
        assert sample.is_cached
    assert s._sel_sample is None and not sample.is_cached
    # an earlier Searcher over the same index may have cached the same
    # docs plan; Spark shares one entry, so the set can only shrink
    assert set(jsc.getPersistentRDDs().keys()) <= before
    s.close()  # idempotent
