"""Per-batch serving state: concurrent batches on one Searcher score with
their own options, and cached per-batch frames are released even when a
batch fails."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from pdx_spark.operators import searcher as S
from pdx_spark.operators.searcher import Searcher

# three-term queries over hot and mid vocabulary: AND, OR and 2-of-3
# answers all differ on them
QUERIES = [(i, f"w{(7 * i) % 40:04d} w{(13 * i + 3) % 60:04d} "
               f"w{(5 * i + 1) % 25:04d}", 10) for i in range(30)]
OPTIONS = [{"require_all_terms": True}, {}, {"min_should_match": 2}]
PRUNED = {"force_two_phase": True, "two_phase_min_shards": 2}


def _rows(df):
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in df.collect())


def test_concurrent_batches_keep_their_options(spark, tiny_index):
    """8 threads run search_batch with mixed require_all_terms /
    min_should_match on ONE Searcher; every batch equals the serial
    answer for its own options."""
    s = Searcher.load(spark, tiny_index)
    want = [_rows(s.search_batch(QUERIES, **PRUNED, **o)) for o in OPTIONS]
    assert len({tuple(w) for w in want}) == len(OPTIONS)  # options matter

    def run(i):
        o = i % len(OPTIONS)
        return o, _rows(s.search_batch(QUERIES, **PRUNED, **OPTIONS[o]))

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(run, i) for i in range(24)]
        got = [f.result(timeout=600) for f in futures]
    bad = [i for i, (o, rows) in enumerate(got) if rows != want[o]]
    assert not bad, f"{len(bad)} of {len(got)} batches differ: {bad}"


def test_failed_batch_releases_cached_frames(spark, tiny_index, monkeypatch):
    """A cogroup batch that fails mid-scan leaves no cached frame
    behind: the persistent RDDs are those of the warm-up batch (the
    selectivity-sample cache stays, by design, until close())."""
    monkeypatch.setattr(S, "_ROUTING_CAP", 2)  # mask + routing via cogroup
    s = Searcher.load(spark, tiny_index)
    kw = dict(predicate="role = 'assistant'", **PRUNED)
    tracker = spark.sparkContext.statusTracker()
    s.search_batch(QUERIES[:5], **kw).collect()
    n0 = len(tracker.getJobIdsForGroup(None))
    s.search_batch(QUERIES[:5], **kw).collect()
    assert s.last_plan["mode"] == "cogroup", s.last_plan
    # warm: planning runs on the driver and adds no Spark job. Measured
    # 12 jobs at local[4] and local[8] (selectivity count, seed and main
    # cogroup scans with their window merges); the distributed planner
    # this replaced ran 24
    assert len(tracker.getJobIdsForGroup(None)) - n0 <= 12
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
