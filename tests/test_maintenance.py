"""Maintenance behavior (reference tests/test_maintenance.cpp:33-136):
append-then-find, delete-then-absent, compaction preserves results,
resume-from-checkpoint equals fresh build."""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from pdx_spark.config import IndexConfig
from pdx_spark.operators.indexer import Indexer, read_manifest
from pdx_spark.operators.maintenance import Maintainer
from pdx_spark.operators.searcher import Searcher
from pdx_spark.oracle import BM25Oracle
from pdx_spark.schemas import TRANSCRIPTS
from pdx_spark.sources.fixtures import make_transcripts_pdf
from tests.test_engine import assert_rank_identical, collect_topk

CFG = IndexConfig(block_size=16, docs_per_shard=64)
QUERIES = [(0, "w0000", 10), (1, "w0003 w0150", 10), (2, "w0500 w0700", 10)]


@pytest.fixture(scope="module")
def corpus_pdfs():
    pdf = make_transcripts_pdf(60)
    convs = sorted(pdf["conv_id"].unique())
    head = pdf[pdf["conv_id"].isin(convs[:54])]   # build on 90%
    tail = pdf[pdf["conv_id"].isin(convs[54:])]   # append 10%
    return pdf, head, tail


def _oracle_for(pdf):
    s = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return BM25Oracle({i: t for i, t in enumerate(s["text"])})


def test_append_then_find(spark, tmp_path, corpus_pdfs):
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_append")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    searcher = Searcher.load(spark, path)

    # oracle over head-then-tail doc_id order (append preserves old ids)
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(h["text"]) + list(t["text"])
    oracle = BM25Oracle(dict(enumerate(texts)))
    assert searcher.n_docs == oracle.n_docs
    assert math.isclose(searcher.avgdl, oracle.avgdl, rel_tol=1e-12)

    # a needle that exists only in the appended batch must be found
    needle = next((tok for txt in t["text"] for tok in txt.split()
                   if tok.startswith("needle")), None)
    queries = list(QUERIES)
    if needle:
        queries.append((9, needle, 5))
    res = searcher.search_batch(queries, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in queries:
        want = oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"append q{qid}")
    res.unpersist()


def test_delete_then_absent_and_compact(spark, tmp_path, corpus_pdfs):
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_del")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    s0 = Searcher.load(spark, path)
    hit0 = s0.search("w0000", k=5)
    dead_ids = [d for d, _ in hit0[:2]]
    dead = spark.createDataFrame([(int(d),) for d in dead_ids], "doc_id long")
    Maintainer(spark, path).delete(dead)

    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    live_texts = {i: t for i, t in enumerate(h["text"]) if i not in set(dead_ids)}
    oracle = BM25Oracle(live_texts)

    searcher = Searcher.load(spark, path)
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        got = collect_topk(res, qid)
        assert not set(dead_ids) & {d for d, _ in got}
        # delete-time df decrement (negative term_stats delta) makes
        # post-delete scores rank-identical to a fresh build over the
        # live corpus IMMEDIATELY — no compact needed
        # (reference analog tests/test_maintenance.cpp:33-136)
        want = oracle.topk(qtext, k)
        assert_rank_identical(got, want, f"post-delete q{qid}")
    res.unpersist()

    Maintainer(spark, path).compact()
    searcher = Searcher.load(spark, path)
    assert read_manifest(path)["tombstones"] == 0
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        want = oracle.topk(qtext, k)
        assert_rank_identical(collect_topk(res, qid), want, f"compacted q{qid}")
    res.unpersist()


def test_expand_prefix_drops_fully_deleted_terms(spark, tmp_path,
                                                 corpus_pdfs):
    """A term whose only holding doc is deleted leaves prefix expansion
    at once: df is summed over term_stats base and delete deltas and
    terms at <= 0 are dropped, on a local path and a file:// URI alike."""
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_prefix_del")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    hits = Searcher.load(spark, path).search("needle000000", k=5)
    assert len(hits) == 1
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(int(hits[0][0]),)], "doc_id long"))

    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    live = _oracle_for(h.drop(index=int(hits[0][0])))
    want = sorted(t for t in live.df if t.startswith("needle"))
    assert want and "needle000000" not in want
    for p in (path, "file://" + path):
        s = Searcher.load(spark, p)
        assert s.expand_prefix("needle000000") == [], p
        assert s.expand_prefix("needle") == want, p

def test_resume_equals_fresh(spark, tmp_path, corpus_pdfs):
    """Kill a build after chunk 0 of 3; resume; verify identical segment
    content vs an uninterrupted build (P1/P2 + north-rule checkpoint)."""
    full, head, tail = corpus_pdfs
    df = spark.createDataFrame(head, schema=TRANSCRIPTS)

    fresh = str(tmp_path / "fresh")
    Indexer(spark, cfg=CFG).build(df, fresh, n_chunks=3)

    broken = str(tmp_path / "broken")
    Indexer(spark, cfg=CFG).build(df, broken, n_chunks=3)
    # simulate crash: drop chunks 1,2 results + mark incomplete
    import json, os
    m = read_manifest(broken)
    m["stage"] = "segments"
    # also simulate dying before the (stage-B-overlapped) term_stats
    # write landed: resume must rewrite the artifact
    shutil.rmtree(os.path.join(broken, "term_stats"))
    for c in ["1", "2"]:
        m["chunks"].pop(c, None)
        shutil.rmtree(os.path.join(broken, "segments", "base", f"chunk-{c}"))
    # postings_tmp was cleaned at directory stage; restore it by rebuilding
    from pdx_spark.operators import corpus as C
    ids = C.assign_doc_ids(df)
    C.doc_postings(ids).write.mode("overwrite").parquet(
        os.path.join(broken, "postings_tmp"))
    with open(os.path.join(broken, "manifest.json"), "w") as f:
        json.dump(m, f)
    Indexer(spark, cfg=CFG).build(df, broken, resume=True)

    a = spark.read.option("recursiveFileLookup", "true").parquet(
        fresh + "/segments/base").orderBy("term", "shard", "block_id")
    b = spark.read.option("recursiveFileLookup", "true").parquet(
        broken + "/segments/base").orderBy("term", "shard", "block_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    sa, sb = Searcher.load(spark, fresh), Searcher.load(spark, broken)
    ra = sa.search("w0001 w0002", k=10)
    rb = sb.search("w0001 w0002", k=10)
    assert ra == rb


def _file_state(root):
    import os
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_append_is_incremental_and_idempotent(spark, tmp_path, corpus_pdfs):
    """Append must be O(delta): the base term_stats/directory/segments
    files are never rewritten (byte/mtime-identical across >=2 appends,
    the round-1 scale-killer), and a replayed batch_id is a no-op."""
    import os
    full, head, tail = corpus_pdfs
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    half = len(t) // 2
    path = str(tmp_path / "idx_incr")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    base_state = {
        d: _file_state(os.path.join(path, d))
        for d in ("term_stats", "directory", "segments/base", "docs")}

    m1 = Maintainer(spark, path).append(
        spark.createDataFrame(t.iloc[:half], schema=TRANSCRIPTS), batch_id=0)
    m2 = Maintainer(spark, path).append(
        spark.createDataFrame(t.iloc[half:], schema=TRANSCRIPTS), batch_id=1)
    for d, before in base_state.items():
        assert _file_state(os.path.join(path, d)) == before, \
            f"append rewrote base artifact {d}"
    assert len(m2["deltas"]) == 2 and len(m2["ts_deltas"]) == 2
    assert len(m2["dir_deltas"]) == 2 and len(m2["docs_dirs"]) == 3

    # replayed micro-batch (same batch_id) must be a no-op
    n_before = read_manifest(path)["n_docs"]
    m3 = Maintainer(spark, path).append(
        spark.createDataFrame(t.iloc[half:], schema=TRANSCRIPTS), batch_id=1)
    assert m3["n_docs"] == n_before
    assert len(read_manifest(path)["deltas"]) == 2

    # merged-at-read correctness: results equal the full-corpus oracle
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(h["text"]) + list(t["text"])
    oracle = BM25Oracle(dict(enumerate(texts)))
    searcher = Searcher.load(spark, path)
    assert searcher.n_docs == oracle.n_docs
    assert math.isclose(searcher.avgdl, oracle.avgdl, rel_tol=1e-12)
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), oracle.topk(qtext, k),
                              f"incr q{qid}")
    res.unpersist()


def test_targeted_compact(spark, tmp_path, corpus_pdfs):
    """compact_targeted rewrites ONLY shards holding delta blocks or
    tombstoned postings; untouched base files stay byte-identical and
    results stay rank-identical to the live-corpus oracle (the
    CompactCluster/SplitCluster analog, index.hpp:1314-1611)."""
    import os
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_tc")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    s0 = Searcher.load(spark, path)
    dead_ids = [d for d, _ in s0.search("w0000", k=4)[:2]]
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(int(d),) for d in dead_ids], "doc_id long"))

    base_before = _file_state(os.path.join(path, "segments", "base"))
    m = Maintainer(spark, path).compact_targeted()
    assert _file_state(os.path.join(path, "segments", "base")) == base_before
    assert m["deltas"] == [] and m["tombstones"] == 0
    assert m["dead_docs"] == len(dead_ids)
    assert any("patch" in d for d in m["segment_dirs"])
    assert m["seg_excludes"].get("segments/base")

    # oracle over the live merged corpus (original doc_id order preserved)
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = dict(enumerate(list(h["text"]) + list(t["text"])))
    for d in dead_ids:
        texts.pop(d)
    oracle = BM25Oracle(texts)
    searcher = Searcher.load(spark, path)
    assert searcher.n_docs == oracle.n_docs
    assert math.isclose(searcher.avgdl, oracle.avgdl, rel_tol=1e-12)
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        got = collect_topk(res, qid)
        assert not set(dead_ids) & {d for d, _ in got}
        assert_rank_identical(got, oracle.topk(qtext, k), f"tc q{qid}")
    res.unpersist()

    # a full compact afterwards folds everything back to a clean base —
    # GEN-NAMED (crash-safe pointer flip), resolved through the manifest
    m = Maintainer(spark, path).compact()
    assert len(m["segment_dirs"]) == 1 and m["seg_excludes"] == {}
    assert m["segment_dirs"][0].startswith("segments/base")
    assert m["dead_docs"] == 0 and len(m["docs_dirs"]) == 1
    assert m["docs_dirs"][0].startswith("docs")
    # old artifacts physically gone (deleted post-commit)
    assert not os.path.exists(os.path.join(path, "segments", "base"))
    assert not os.path.exists(os.path.join(path, "docs"))
    searcher = Searcher.load(spark, path)
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), oracle.topk(qtext, k),
                              f"full-compact q{qid}")
    res.unpersist()


def test_minor_stats_compaction_policy(spark, tmp_path, corpus_pdfs):
    """maintain() (the CheckClusterHealth analog): many micro-appends
    accumulate delta artifacts; the policy folds them — stat deltas into
    one dir each (no base rewrite), delta segments into a patch — and
    search stays rank-identical to the full-corpus oracle."""
    import os
    full, head, tail = corpus_pdfs
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    path = str(tmp_path / "idx_policy")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    third = len(t) // 3
    cuts = [t.iloc[:third], t.iloc[third:2 * third], t.iloc[2 * third:]]
    for i, chunk in enumerate(cuts):
        Maintainer(spark, path).append(
            spark.createDataFrame(chunk, schema=TRANSCRIPTS), batch_id=i)
    m0 = read_manifest(path)
    assert len(m0["ts_deltas"]) == 3 and len(m0["deltas"]) == 3

    ts_base_before = _file_state(os.path.join(path, "term_stats"))
    m = Maintainer(spark, path).maintain(max_deltas=2)
    assert len(m["ts_deltas"]) == 1 and len(m["dir_deltas"]) == 1
    assert len(m["docs_dirs"]) == 2           # base + one folded delta
    assert m["deltas"] == []                  # folded into a patch
    assert any("patch" in d for d in m["segment_dirs"])
    assert _file_state(os.path.join(path, "term_stats")) == ts_base_before

    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = BM25Oracle(dict(enumerate(list(h["text"]) + list(t["text"]))))
    searcher = Searcher.load(spark, path)
    assert searcher.n_docs == oracle.n_docs
    assert math.isclose(searcher.avgdl, oracle.avgdl, rel_tol=1e-12)
    res = searcher.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), oracle.topk(qtext, k),
                              f"policy q{qid}")
    res.unpersist()


def test_delete_ignores_ids_outside_the_index(spark, tmp_path, corpus_pdfs):
    """delete() by doc_id tombstones only ids the index holds. An id at
    next_doc_id is not a doc yet: tombstoning it would mask, forever,
    the doc the next append gives that id."""
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_del_unknown")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    nxt = read_manifest(path)["next_doc_id"]
    m = Maintainer(spark, path).delete(
        spark.createDataFrame([(0,), (nxt,)], "doc_id long"))
    assert m["tombstones"] == 1

    one = tail.iloc[:1].copy()
    one["conv_id"], one["text"] = "zz-appended", "zzqnovel w0000"
    Maintainer(spark, path).append(
        spark.createDataFrame(one, schema=TRANSCRIPTS))
    res = Searcher.load(spark, path).search_batch([(0, "zzqnovel", 5)])
    assert [d for d, _ in collect_topk(res, 0)] == [nxt]


def test_failed_append_releases_cached_frames(spark, tmp_path, corpus_pdfs,
                                              monkeypatch):
    """An append that fails after its input batch and postings are
    cached leaves no cached frame behind, and commits nothing."""
    from pdx_spark.operators import indexer

    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_append_fail")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    before_m = read_manifest(path)
    batch = spark.createDataFrame(tail, schema=TRANSCRIPTS)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())

    def boom(*a, **k):
        raise RuntimeError("stats failed")
    monkeypatch.setattr(indexer, "stat_artifacts_local", boom)
    with pytest.raises(RuntimeError, match="stats failed"):
        Maintainer(spark, path).append(batch)
    assert set(jsc.getPersistentRDDs().keys()) <= before
    assert read_manifest(path) == before_m


def _segment_rows(root):
    """Counter of full SEGMENTS rows (payload bytes included) under root."""
    import collections
    import os

    import pyarrow.parquet as pq

    from pdx_spark import schemas
    cols = [f.name for f in schemas.SEGMENTS.fields]
    out = collections.Counter()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                for r in pq.read_table(os.path.join(dirpath, f),
                                       columns=cols).to_pylist():
                    out[tuple(r[c] for c in cols)] += 1
    return out


def _live_postings(path):
    """{(term, shard): [(doc_id, tf, dl)]} of the live index, decoded
    row by row with the reference decode_block from every segment dir
    the manifest references, minus excluded shards and tombstones."""
    import os

    import pyarrow.parquet as pq

    from pdx_spark.functions.blocks import decode_block
    m = read_manifest(path)
    tomb = set()
    if m.get("tombstones", 0):
        tomb = set(pq.read_table(os.path.join(path, m["tomb_dir"]))
                   .column("doc_id").to_pylist())
    runs = {}
    for d in m["segment_dirs"] + m.get("deltas", []):
        ex = set(m.get("seg_excludes", {}).get(d, []))
        for dirpath, _, files in os.walk(os.path.join(path, d)):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                for row in pq.read_table(os.path.join(dirpath, f)).to_pylist():
                    if row["shard"] in ex:
                        continue
                    for i, t, dl in zip(*decode_block(row)):
                        if int(i) not in tomb:
                            runs.setdefault((row["term"], row["shard"]),
                                            []).append((int(i), int(t), int(dl)))
    return runs


def _reference_rows(runs, avgdl, shards=None):
    """What the per-run reference encoder (encode_blocks) makes of
    live postings — the exact rows compaction must write."""
    import collections

    import numpy as np

    from pdx_spark.config import BM25Params
    from pdx_spark.functions.blocks import encode_blocks
    from pdx_spark.schemas import SEGMENTS
    cols = [f.name for f in SEGMENTS.fields]
    out = collections.Counter()
    for (term, shard), ps in runs.items():
        if shards is None or shard in shards:
            a = np.array(sorted(ps), dtype=np.int64)
            for b in encode_blocks(a[:, 0], a[:, 1], a[:, 2], shard, term,
                                   CFG.block_size, avgdl, BM25Params()):
                out[tuple(b[c] for c in cols)] += 1
    return out


def test_compaction_rows_equal_reference_encoding(spark, tmp_path,
                                                  corpus_pdfs):
    """compact_targeted()'s patch and compact()'s new base hold exactly
    the reference encoding of the live postings — the same multiset of
    SEGMENTS rows, payload bytes included, that the per-row decode and
    the pandas encoder wrote. compact()'s term_stats df come from the
    new base's metadata and must count the live postings."""
    import os

    import pyarrow.parquet as pq
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_ref")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(i,) for i in range(3, 400, 41)], "doc_id long"))

    live = _live_postings(path)
    m = Maintainer(spark, path).compact_targeted()
    patched = set(m["seg_excludes"]["segments/base"])
    assert _segment_rows(os.path.join(path, m["segment_dirs"][-1])) == \
        _reference_rows(live, m["avgdl"], patched)

    h = head.sort_values(["conv_id", "turn_idx"])
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(c, int(t)) for c, t in h.iloc[7:300:13][["conv_id", "turn_idx"]]
         .values], "conv_id string, turn_idx int"))
    live = _live_postings(path)
    m = Maintainer(spark, path).compact()
    assert _segment_rows(os.path.join(path, m["segment_dirs"][0])) == \
        _reference_rows(live, m["avgdl"])
    ts = pq.read_table(os.path.join(path, m["ts_base"])).to_pydict()
    df = {}
    for (term, _), ps in live.items():
        df[term] = df.get(term, 0) + len(ps)
    assert dict(zip(ts["term"], ts["df"])) == df
