"""End-to-end rank-identity: oracle == exact DataFrame scorer == blocked
exhaustive scan == pruned (θ-seeded, shard-skipping) scan.

This is the analog — with a *stricter* gate — of the reference's
recall-vs-bruteforce tests (tests/test_search.cpp:20-79): because
block-max pruning is exact, we demand identical ids and scores (1e-9
rel), not recall within tolerance (SURVEY §5.1).
"""

import math

import pytest
from pyspark.sql import functions as F

from pdx_spark.config import BM25Params
from pdx_spark.operators import corpus as C
from pdx_spark.operators.exact import exact_topk
from pdx_spark.operators.searcher import Searcher
from pdx_spark.sources.fixtures import make_queries_pdf

QUERIES = [
    (0, "w0000", 10),                  # hottest term
    (1, "w0003 w0150", 10),            # hot + mid
    (2, "w4990 w4991 w4992", 10),      # rare tail
    (3, "needle000001", 5),            # unique needle
    (4, "w0001 zzoutofvocabzz", 10),   # partial OOV
    (5, "zzoutofvocabzz", 10),         # full OOV -> empty
    (6, "w0010 w0020 w0030 w0040 w0050", 25),
    (7, "w0000 w0000 W0000", 10),      # duplicate query terms collapse
    (8, "w0100", 1),                   # k=1
    (9, "w0002", 10_000),              # k >> corpus
]


def assert_rank_identical(got: list, want: list, tag=""):
    assert len(got) == len(want), f"{tag}: {len(got)} vs {len(want)}"
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        assert gd == wd, f"{tag} rank {i}: doc {gd} != {wd}"
        assert math.isclose(gs, ws, rel_tol=1e-9), f"{tag} rank {i}: {gs} != {ws}"


def collect_topk(df, qid):
    rows = (df.filter(F.col("query_id") == qid)
            .orderBy(F.desc("score"), F.asc("doc_id")).collect())
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    return Searcher.load(spark, tiny_index)


def test_manifest_counts(spark, searcher, tiny_oracle):
    assert searcher.n_docs == tiny_oracle.n_docs
    assert math.isclose(searcher.avgdl, tiny_oracle.avgdl, rel_tol=1e-12)
    # structural invariant: sum of posting lengths == sum per-doc distinct terms
    total = searcher.segments().agg(F.sum("n")).collect()[0][0]
    assert total == sum(len(c) for c in tiny_oracle.tf.values())


def test_exact_dataframe_scorer_vs_oracle(spark, tiny_df, tiny_oracle):
    p = BM25Params()
    ids = C.assign_doc_ids(tiny_df)
    posts = C.postings(ids)
    docs = C.build_docs(ids)
    n, avgdl = C.corpus_stats(docs)
    ts = C.term_stats(posts, n, avgdl, p)
    res = exact_topk(posts, ts, n, avgdl, p, QUERIES)
    res = res.persist()
    for qid, qtext, k in QUERIES:
        want = tiny_oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"exact q{qid}")
    res.unpersist()


def test_blocked_exhaustive_vs_oracle(searcher, tiny_oracle):
    res = searcher.search_batch(QUERIES, exact=True).persist()
    for qid, qtext, k in QUERIES:
        want = tiny_oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"blocked q{qid}")
    res.unpersist()


def test_pruned_vs_oracle(searcher, tiny_oracle):
    # two_phase_min_shards=2 forces the θ-seeded path on the tiny fixture
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        want = tiny_oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"pruned q{qid}")
    res.unpersist()


def test_pruned_vs_oracle_fixture_queryset(searcher, tiny_oracle):
    """The 200-query reference set (FIXTURES §2), pruned engine."""
    qpdf = make_queries_pdf(60)
    queries = [(int(r.query_id), r.query_text, int(r.k))
               for r in qpdf.itertuples()]
    res = searcher.search_batch(queries, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in queries:
        want = tiny_oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"fix q{qid}")
    res.unpersist()


def test_results_sorted_unique(searcher):
    """Metamorphic invariants (test_search.cpp:122-153 analogs)."""
    res = searcher.search_batch([(0, "w0000 w0001", 20)]).collect()
    ids = [r["doc_id"] for r in res]
    assert len(ids) == len(set(ids))
    pairs = sorted(((r["score"], r["doc_id"]) for r in res),
                   key=lambda x: (-x[0], x[1]))
    assert len(pairs) <= 20


def test_single_query_api(searcher, tiny_oracle):
    got = searcher.search("w0005 w0123", k=7)
    want = tiny_oracle.topk("w0005 w0123", 7)
    assert_rank_identical(got, want, "single")


def test_text_roundtrip_invariant(spark, tiny_df, searcher):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (BASELINE.json input_hint): docs table hash == source text hash."""
    src = tiny_df.select(
        "conv_id", "turn_idx",
        F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
    docs = searcher.docs().select("conv_id", "turn_idx", "text_hash")
    joined = src.join(docs, ["conv_id", "turn_idx"])
    assert joined.count() == tiny_df.count()
    assert joined.filter(F.col("h") != F.col("text_hash")).count() == 0
    # doc_id is the dense rank of (conv_id, turn_idx)
    d = searcher.docs().orderBy("doc_id").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in d]
    assert keys == sorted(keys)
    assert [r["doc_id"] for r in d] == list(range(len(d)))


def test_default_adaptive_path_many_shards(spark, tiny_oracle,
                                           many_shards_index):
    """Default search_batch (no two_phase_min_shards override) on an
    index with > 64 shards: the adaptive planner takes the two-phase
    route and — on this uniform corpus where θ prunes no shards — the
    unrouted single-pass fallback. Results must stay rank-identical for
    hot, mid, needle, and OOV queries alike."""
    s = Searcher.load(spark, many_shards_index)
    assert s.cfg.docs_per_shard == 4  # ~113 shards
    assert -(-s.n_docs // s.cfg.docs_per_shard) > 64

    queries = [(0, "w0000", 10),            # hot: ub beats theta everywhere
               (1, "w0003 w0150", 10),      # mid conjunction
               (2, "w4999", 5),             # rare tail
               (3, "zzoutofvocabzz", 5)]    # OOV
    res = s.search_batch(queries).persist()
    for qid, qtext, k in queries:
        got = collect_topk(res, qid)
        want = tiny_oracle.topk(qtext, k)
        assert_rank_identical(got, want, f"adaptive q{qid}")
    res.unpersist()

    # repeated hot batches: θ prunes nothing on this uniform corpus, so
    # every one runs the unrouted single pass, and answers stay
    # rank-identical
    hot = [(0, "w0000 w0001", 10)]
    for i in range(3):
        res = s.search_batch(hot)
        assert s.last_plan["mode"] == "unrouted", s.last_plan
        assert_rank_identical(collect_topk(res, 0),
                              tiny_oracle.topk("w0000 w0001", 10),
                              f"hot batch {i}")
    res = s.search_batch(queries).persist()
    assert s.last_plan["mode"] == "unrouted", s.last_plan
    for qid, qtext, k in queries:
        assert_rank_identical(collect_topk(res, qid),
                              tiny_oracle.topk(qtext, k), f"repeat q{qid}")
    res.unpersist()


def test_require_all_terms_vs_oracle(spark, tiny_df, searcher, tiny_oracle):
    """Conjunctive (AND) semantics: every path — blocked exhaustive,
    θ-seeded pruned (incl. the conjunctive shard-intersection routing),
    and the standalone exact DataFrame operator — matches the oracle's
    intersect-then-rank; a partial-OOV query returns EMPTY (not its
    OR fallback)."""
    and_queries = [
        (0, "w0003 w0150", 10),           # conjunction nonempty
        (1, "w0000 w0001", 10),           # two hot terms
        (2, "w4990 w4991 w4992", 10),     # rare tail, likely empty
        (3, "w0001 zzoutofvocabzz", 10),  # partial OOV -> MUST be empty
        (4, "needle000001", 5),           # single term: AND == OR
    ]
    want = {q: tiny_oracle.topk(t, k, require_all_terms=True)
            for q, t, k in and_queries}
    assert want[0], "fixture regression: AND conjunction became empty"
    assert want[3] == []

    for tag, kw in (("blocked", dict(exact=True)),
                    ("pruned", dict(two_phase_min_shards=2,
                                    force_two_phase=True))):
        res = searcher.search_batch(and_queries, require_all_terms=True,
                                    **kw).persist()
        for qid, qtext, k in and_queries:
            assert_rank_identical(collect_topk(res, qid), want[qid],
                                  f"AND {tag} q{qid}")
        res.unpersist()
        # AND results are a subset of OR results' doc set at equal k
        # only when k covers the OR set; check the semantic relation on
        # the full corpus instead: every AND hit contains every term
        for qid, qtext, k in and_queries:
            for d, _ in want[qid]:
                assert all(t in tiny_oracle.tf[d]
                           for t in set(qtext.split()) & set(tiny_oracle.df))

    # standalone exact DataFrame operator (zero-UDF JVM plan)
    p = BM25Params()
    ids = C.assign_doc_ids(tiny_df)
    posts = C.postings(ids)
    n, avgdl = C.corpus_stats(C.build_docs(ids))
    ts = C.term_stats(posts, n, avgdl, p)
    got = exact_topk(posts, ts, n, avgdl, p, and_queries,
                     require_all_terms=True)
    for qid, qtext, k in and_queries:
        rows = sorted(((r["doc_id"], r["score"])
                       for r in got.filter(F.col("query_id") == qid)
                       .collect()), key=lambda x: (-x[1], x[0]))
        assert_rank_identical(rows, want[qid], f"AND exact-df q{qid}")


def test_min_should_match_vs_oracle(searcher, tiny_oracle):
    """m-of-n matching: m=1 == OR, m=n == AND, and an intermediate m
    matches the oracle on both the blocked and the θ-seeded path."""
    msm_queries = [
        (0, "w0003 w0150 w0001", 10),
        (1, "w0010 w0020 w0030 w0040 w0050", 25),
        (2, "w0001 zzoutofvocabzz w0002", 10),  # OOV eats one slot
    ]
    for m in (1, 2, 3):
        want = {q: tiny_oracle.topk(t, k, min_should_match=m)
                for q, t, k in msm_queries}
        for tag, kw in (("blocked", dict(exact=True)),
                        ("pruned", dict(two_phase_min_shards=2,
                                        force_two_phase=True))):
            res = searcher.search_batch(msm_queries, min_should_match=m,
                                        **kw).persist()
            for qid, qtext, k in msm_queries:
                assert_rank_identical(collect_topk(res, qid), want[qid],
                                      f"msm{m} {tag} q{qid}")
            res.unpersist()
    # m=3 on q2 (only two corpus-present terms) must be empty
    assert tiny_oracle.topk("w0001 zzoutofvocabzz w0002", 10,
                            min_should_match=3) == []
    # m beyond every query's term count -> empty plan, empty frame
    res = searcher.search_batch(msm_queries, min_should_match=9)
    assert res.count() == 0


def test_prefix_expansion_vs_oracle(searcher, tiny_oracle):
    """expand_prefix = sorted vocabulary range read; searching the
    expansion scores the prefix as a BM25 OR, matching the oracle over
    the same term set."""
    got = searcher.expand_prefix("w012", cap=64)
    want_terms = sorted(t for t in tiny_oracle.df if t.startswith("w012"))
    assert got == want_terms and len(got) >= 5
    want = tiny_oracle.topk(" ".join(got), 10)
    assert_rank_identical(searcher.search(" ".join(got), k=10), want,
                          "prefix")
    # cap and input validation
    with pytest.raises(ValueError, match="expands"):
        searcher.expand_prefix("w", cap=8)
    with pytest.raises(ValueError, match="token prefix"):
        searcher.expand_prefix("w0*")
    # absent prefix -> empty expansion
    assert searcher.expand_prefix("zzznope") == []


def test_assign_doc_ids_driver_path_matches_scale_path(spark, tiny_df,
                                                       monkeypatch):
    """The bounded driver-side id fast path must produce EXACTLY the
    range-partition scale path's ids (dense rank of (conv_id,
    turn_idx)) — including on keys that stress string-order parity."""
    import pandas as pd

    from pdx_spark.schemas import TRANSCRIPTS

    extra = pd.DataFrame({
        "conv_id": ["zz", "Zz", "z1", "z", "z0"],
        "turn_idx": [0, 0, 0, 5, 0],
        "role": ["user"] * 5,
        "text": ["a"] * 5,
        "tool": [None] * 5,
        "ts": pd.to_datetime(["2031-01-01"] * 5, utc=True)})
    df = tiny_df.unionByName(
        spark.createDataFrame(extra, schema=TRANSCRIPTS))
    monkeypatch.setattr(C, "_ASSIGN_IDS_LOCAL_CAP", 1_000_000)
    fast = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in C.assign_doc_ids(df).collect()}
    monkeypatch.setattr(C, "_ASSIGN_IDS_LOCAL_CAP", 0)
    slow = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in C.assign_doc_ids(df).collect()}
    assert fast == slow and len(fast) == df.count()


def test_assign_doc_ids_conv_rank_path(spark, tiny_df, monkeypatch):
    """The conversation-level rank fast path (dense turn_idx proven per
    conv) must produce exactly the per-key fast path's ids, must be the
    path actually taken on a dense corpus, and must FALL BACK when any
    conversation's turn_idx is not dense-from-zero."""
    monkeypatch.setattr(C, "_ASSIGN_IDS_LOCAL_CAP", 1_000_000)
    want = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in C._assign_ids_driver(tiny_df, 1_000_000).collect()}

    # dense corpus: the conv path handles it (per-key path must not run)
    def boom(*a, **k):
        raise AssertionError("per-key path ran on a dense corpus")
    monkeypatch.setattr(C, "_assign_ids_driver", boom)
    got = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
           for r in C.assign_doc_ids(tiny_df).collect()}
    assert got == want and len(got) == tiny_df.count()
    monkeypatch.undo()

    # non-dense conv (turn_idx gap) -> conv path declines, per-key path
    # still ranks correctly
    import pandas as pd

    from pdx_spark.schemas import TRANSCRIPTS
    extra = pd.DataFrame({
        "conv_id": ["gapconv", "gapconv"],
        "turn_idx": [0, 7],  # gap: not {0..n-1}
        "role": ["user"] * 2,
        "text": ["a"] * 2,
        "tool": [None] * 2,
        "ts": pd.to_datetime(["2031-01-01"] * 2, utc=True)})
    df = tiny_df.unionByName(spark.createDataFrame(extra, schema=TRANSCRIPTS))
    assert C._assign_ids_conv_driver(df, 1_000_000) is None
    fast = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in C.assign_doc_ids(df).collect()}
    monkeypatch.setattr(C, "_ASSIGN_IDS_LOCAL_CAP", 0)
    slow = {(r["conv_id"], r["turn_idx"]): r["doc_id"]
            for r in C.assign_doc_ids(df).collect()}
    assert fast == slow and len(fast) == df.count()
