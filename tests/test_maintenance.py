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


def test_driver_reads_every_docs_column_across_sites(spark, tmp_path,
                                                     corpus_pdfs,
                                                     monkeypatch):
    """A Spark build in a session that writes parquet timestamps as
    INT96 (Spark's default; get_spark sets TIMESTAMP_MICROS, so the conf
    is set back for that one build) leaves docs whose ts pyarrow reads
    as naive ns; a driver append and a Spark append (bound at 0) then
    write timestamp[us, tz=UTC]. The driver reader (Snapshot.meta_rows)
    casts each dir to the DOCS types, so every docs column reads across
    all three dirs, with the rows, ts values included, of a Spark
    read."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    import pdx_spark.operators.snapshot as SN
    from pdx_spark import schemas
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_ts")
    conf = "spark.sql.parquet.outputTimestampType"
    assert spark.conf.get(conf) == "TIMESTAMP_MICROS"
    spark.conf.set(conf, "INT96")
    try:
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", 0)
            Indexer(spark, cfg=CFG).build(
                spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    finally:
        spark.conf.set(conf, "TIMESTAMP_MICROS")
    half = len(tail) // 2
    for rows, bound in ((tail.iloc[:half], SN._ROUTED_TASK_BYTES),
                        (tail.iloc[half:], 0)):
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m = Maintainer(spark, path).append(
                spark.createDataFrame(rows, schema=TRANSCRIPTS))
    assert [e["ran"] for e in m["lineage"][-2:]] == ["driver", "spark"]
    s = Searcher.load(spark, path)
    dirs = s.snap.docs_dirs()

    def ts_type(d):
        f = ds.dataset(f"{path}/{d}").files[0]
        md = pq.ParquetFile(f).metadata.schema
        return (md.column(md.names.index("ts")).physical_type,
                str(ds.dataset(f"{path}/{d}").schema.field("ts").type))
    assert [ts_type(d) for d in dirs] == [
        ("INT96", "timestamp[ns]"), *[("INT64", "timestamp[us, tz=UTC]")] * 2]
    cols = schemas.DOCS.fieldNames()
    tab = s.snap.meta_rows(dirs, schemas.DOCS, cols)
    assert sorted(set(tab["dir"].to_pylist())) == [0, 1, 2]
    assert tab.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    tab = tab.set_column(cols.index("ts"), "ts",
                         tab["ts"].cast(pa.int64()))
    got = sorted(zip(*(tab[c].to_pylist() for c in cols)))
    want = sorted(tuple(r) for r in s.docs().select(
        *(F.unix_micros(c).alias(c) if c == "ts" else c for c in cols))
        .collect())
    assert len(got) == len(full) and got == want


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


def test_append_is_incremental_and_idempotent(spark, tmp_path, corpus_pdfs,
                                              monkeypatch):
    """Append must be O(delta): the base term_stats/directory/segments
    files are never rewritten (byte/mtime-identical across >=2 appends,
    the round-1 scale-killer), and a replayed batch_id is a no-op. Runs
    on both halves, on copies of one index: in the driver (the default
    bound) and on Spark (_ROUTED_TASK_BYTES at 0)."""
    import os

    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    half = len(t) // 2
    built = str(tmp_path / "idx_incr")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(h["text"]) + list(t["text"])
    oracle = BM25Oracle(dict(enumerate(texts)))
    for site, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        path = str(tmp_path / f"idx_incr_{site}")
        shutil.copytree(built, path)
        base_state = {
            d: _file_state(os.path.join(path, d))
            for d in ("term_stats", "directory", "segments/base", "docs")}

        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m1 = Maintainer(spark, path).append(spark.createDataFrame(
                t.iloc[:half], schema=TRANSCRIPTS), batch_id=0)
            m2 = Maintainer(spark, path).append(spark.createDataFrame(
                t.iloc[half:], schema=TRANSCRIPTS), batch_id=1)
            assert [e["ran"] for e in m2["lineage"][-2:]] == [site] * 2
            for d, before in base_state.items():
                assert _file_state(os.path.join(path, d)) == before, \
                    f"append rewrote base artifact {d} ({site})"
            assert len(m2["deltas"]) == 2 and len(m2["ts_deltas"]) == 2
            assert len(m2["dir_deltas"]) == 2 and len(m2["docs_dirs"]) == 3

            # replayed micro-batch (same batch_id) must be a no-op
            n_before = read_manifest(path)["n_docs"]
            m3 = Maintainer(spark, path).append(spark.createDataFrame(
                t.iloc[half:], schema=TRANSCRIPTS), batch_id=1)
            assert m3["n_docs"] == n_before
            assert len(read_manifest(path)["deltas"]) == 2

        # merged-at-read correctness: results equal the full-corpus oracle
        searcher = Searcher.load(spark, path)
        assert searcher.n_docs == oracle.n_docs
        assert math.isclose(searcher.avgdl, oracle.avgdl, rel_tol=1e-12)
        res = searcher.search_batch(QUERIES, two_phase_min_shards=2,
                                    force_two_phase=True).persist()
        for qid, qtext, k in QUERIES:
            assert_rank_identical(collect_topk(res, qid),
                                  oracle.topk(qtext, k),
                                  f"incr {site} q{qid}")
        res.unpersist()


def _append_artifacts(spark, path, m):
    """What the last append committed: its docs-delta rows (a typed
    Spark read), its delta segment's SEGMENTS rows (payload bytes
    included), its term_stats and directory delta rows, the directory
    delta's dir_quant params, and the manifest's global stats."""
    import os

    import pyarrow.parquet as pq

    from pdx_spark import schemas

    def rows(d):
        return sorted(tuple(r.values()) for r in
                      pq.read_table(os.path.join(path, d)).to_pylist())
    docs = spark.read.schema(schemas.DOCS).parquet(
        os.path.join(path, m["docs_dirs"][-1])).collect()
    return {"docs": sorted(tuple(r) for r in docs),
            "segments": _segment_rows(os.path.join(path, m["deltas"][-1])),
            "term_stats": rows(m["ts_deltas"][-1]),
            "directory": rows(m["dir_deltas"][-1]),
            "dir_quant": m["dir_quant"][m["dir_deltas"][-1]],
            "stats": {k: m[k] for k in ("n_docs", "sum_dl", "avgdl",
                                         "next_doc_id")}}


def test_driver_append_matches_spark_append(spark, tmp_path, corpus_pdfs,
                                            monkeypatch, spark_jobs):
    """append() on copies of one index, in the driver (the default
    bound) and on Spark (_ROUTED_TASK_BYTES at 0), for a batch whose
    turn_idx runs are dense and one with gaps (the Spark half ranks
    per conversation for the first, per turn for the second): equal doc
    ids, docs-delta rows, delta-segment rows, term_stats and directory
    deltas, dir_quant params and manifest stats, and results equal to
    the oracle. The driver append runs at most one Spark job (the input
    collect) and records its site with the input estimate."""
    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_halves")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    next_id = read_manifest(built)["next_doc_id"]
    gaps = tail.copy()
    gaps["turn_idx"] = gaps["turn_idx"] * 3 + 1
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for name, batch in (("dense", tail), ("gaps", gaps)):
        b = batch.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        want_ids = {(c, int(t)): next_id + i for i, (c, t) in
                    enumerate(b[["conv_id", "turn_idx"]].values)}
        oracle = BM25Oracle(dict(enumerate(list(h["text"])
                                           + list(b["text"]))))
        got = {}
        for site, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
            path = str(tmp_path / f"idx_halves_{name}_{site}")
            shutil.copytree(built, path)
            df = spark.createDataFrame(batch, schema=TRANSCRIPTS)
            with monkeypatch.context() as mp:
                mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
                n0 = spark_jobs()
                m = Maintainer(spark, path).append(df)
                jobs = spark_jobs() - n0
            entry = m["lineage"][-1]
            assert entry["ran"] == site and entry["limit"] == bound, entry
            assert entry["cap"] == "_ROUTED_TASK_BYTES" \
                and entry["input_bytes"] > 0, entry
            if site == "driver":
                assert jobs <= 1, jobs
            art = got[site] = _append_artifacts(spark, path, m)
            assert {(r[1], r[2]): r[0] for r in art["docs"]} == want_ids
            res = Searcher.load(spark, path).search_batch(
                QUERIES, two_phase_min_shards=2,
                force_two_phase=True).persist()
            for qid, qtext, k in QUERIES:
                assert_rank_identical(collect_topk(res, qid),
                                      oracle.topk(qtext, k),
                                      f"{name} {site} q{qid}")
            res.unpersist()
        for key in got["driver"]:
            assert got["driver"][key] == got["spark"][key], (name, key)


def test_driver_append_crash_and_replay(spark, tmp_path, corpus_pdfs,
                                        monkeypatch, spark_jobs):
    """A driver append that dies in the manifest commit leaves the
    manifest unchanged and the index exact; a retry on a fresh
    Maintainer succeeds, and replaying its batch_id is a no-op that
    runs no Spark job."""
    from pdx_spark.operators import maintenance

    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_append_crash")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    before_m = read_manifest(path)
    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    def check(texts, stage):
        oracle = BM25Oracle(dict(enumerate(texts)))
        s = Searcher.load(spark, path)
        assert s.n_docs == oracle.n_docs, stage
        res = s.search_batch(QUERIES, two_phase_min_shards=2,
                             force_two_phase=True).persist()
        for qid, qtext, k in QUERIES:
            assert_rank_identical(collect_topk(res, qid),
                                  oracle.topk(qtext, k), f"{stage} q{qid}")
        res.unpersist()

    def boom(*a, **k):
        raise RuntimeError("commit failed")
    with monkeypatch.context() as mp:
        mp.setattr(maintenance, "_write_manifest", boom)
        with pytest.raises(RuntimeError, match="commit failed"):
            Maintainer(spark, path).append(spark.createDataFrame(
                tail, schema=TRANSCRIPTS), batch_id=0)
    assert read_manifest(path) == before_m
    check(list(h["text"]), "crashed")

    m = Maintainer(spark, path).append(spark.createDataFrame(
        tail, schema=TRANSCRIPTS), batch_id=0)
    assert m["lineage"][-1]["ran"] == "driver"
    assert read_manifest(path) == m
    check(list(h["text"]) + list(t["text"]), "retried")

    replay = spark.createDataFrame(tail, schema=TRANSCRIPTS)
    n0 = spark_jobs()
    Maintainer(spark, path).append(replay, batch_id=0)
    assert spark_jobs() == n0
    assert read_manifest(path) == m


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


def test_delete_ignores_ids_outside_the_index(spark, tmp_path, corpus_pdfs,
                                              monkeypatch):
    """delete() by doc_id tombstones only ids the index holds. An id at
    next_doc_id is not a doc yet: tombstoning it would mask, forever,
    the doc the next append gives that id. Runs on both sites, on copies
    of one index: in the driver (the default bound) and on Spark
    (_ROUTED_TASK_BYTES at 0)."""
    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_del_unknown")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    for site, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        path = str(tmp_path / f"idx_del_unknown_{site}")
        shutil.copytree(built, path)
        nxt = read_manifest(path)["next_doc_id"]
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m = Maintainer(spark, path).delete(
                spark.createDataFrame([(0,), (nxt,)], "doc_id long"))
        assert m["tombstones"] == 1
        assert m["lineage"][-1]["ran"] == site

        one = tail.iloc[:1].copy()
        one["conv_id"], one["text"] = "zz-appended", "zzqnovel w0000"
        Maintainer(spark, path).append(
            spark.createDataFrame(one, schema=TRANSCRIPTS))
        res = Searcher.load(spark, path).search_batch([(0, "zzqnovel", 5)])
        assert [d for d, _ in collect_topk(res, 0)] == [nxt]


def test_failed_append_releases_cached_frames(spark, tmp_path, corpus_pdfs,
                                              monkeypatch):
    """An append that fails after its input batch and postings are
    cached leaves no cached frame behind, and commits nothing. Runs on
    both halves, on copies of one index: in the driver (the default
    bound) and on Spark (_ROUTED_TASK_BYTES at 0)."""
    import pdx_spark.operators.snapshot as SN
    from pdx_spark.operators import indexer

    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_append_fail")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    jsc = spark.sparkContext._jsc

    def boom(*a, **k):
        raise RuntimeError("stats failed")
    for site, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        path = str(tmp_path / f"idx_append_fail_{site}")
        shutil.copytree(built, path)
        before_m = read_manifest(path)
        batch = spark.createDataFrame(tail, schema=TRANSCRIPTS)
        before = set(jsc.getPersistentRDDs().keys())
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            mp.setattr(indexer, "stat_artifacts_local", boom)
            with pytest.raises(RuntimeError, match="stats failed"):
                Maintainer(spark, path).append(batch)
        assert set(jsc.getPersistentRDDs().keys()) <= before, site
        assert read_manifest(path) == before_m, site


def test_failed_delete_releases_cached_frames(spark, tmp_path, corpus_pdfs,
                                              monkeypatch):
    """A delete that fails after its dead rows are resolved (here: in the
    term_stats delta write) leaves no cached frame behind, and commits
    nothing. Runs on both sites, on copies of one index: in the driver
    (the default bound; its pyarrow write fails) and on Spark
    (_ROUTED_TASK_BYTES at 0; its Spark write fails)."""
    import pdx_spark.operators.snapshot as SN

    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_delete_fail")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    jsc = spark.sparkContext._jsc

    def boom(*a, **k):
        raise RuntimeError("write failed")
    for site, bound, writer in (
            ("driver", SN._ROUTED_TASK_BYTES, "write_table_local"),
            ("spark", 0, "_atomic_write")):
        path = str(tmp_path / f"idx_delete_fail_{site}")
        shutil.copytree(built, path)
        before_m = read_manifest(path)
        keys = spark.createDataFrame([(3,), (70,), (200,)], "doc_id long")
        before = set(jsc.getPersistentRDDs().keys())
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            mp.setattr(SN, writer, boom)
            with pytest.raises(RuntimeError, match="write failed"):
                Maintainer(spark, path).delete(keys)
        assert set(jsc.getPersistentRDDs().keys()) <= before, site
        assert read_manifest(path) == before_m, site


def _delete_artifacts(path, m):
    """What the last delete committed: its term_stats-delta rows, the
    merged tombstone ids and the manifest's stats."""
    import os

    import pyarrow.parquet as pq
    ts = pq.read_table(os.path.join(path, m["ts_deltas"][-1]))
    tomb = pq.read_table(os.path.join(path, m["tomb_dir"]))
    return {"term_stats": sorted(tuple(r.values()) for r in ts.to_pylist()),
            "tombstones": sorted(tomb.column("doc_id").to_pylist()),
            "stats": {k: m[k] for k in ("n_docs", "sum_dl", "avgdl",
                                         "tombstones")}}


def test_driver_delete_matches_spark_delete(spark, tmp_path, corpus_pdfs,
                                            monkeypatch, spark_jobs):
    """delete() on copies of one index (base, a delta segment, dead docs
    and tombstones), in the driver (the default bound) and on Spark
    (_ROUTED_TASK_BYTES at 0), with keys given as (conv_id, turn_idx)
    and as doc_id — duplicated, already tombstoned, compacted-away dead,
    at or past next_doc_id, matching nothing: equal term_stats-delta
    rows, tombstone ids and manifest stats, and results equal to the
    oracle. The driver delete runs at most one Spark job (the keys
    peek); a keys frame of more than n_docs rows runs on Spark."""
    import pandas as pd

    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_del_sites")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    Maintainer(spark, built).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    docs = pd.concat([d.sort_values(["conv_id", "turn_idx"])
                      for d in (head, tail)]).reset_index(drop=True)
    n_head, nxt = len(head), len(docs)
    dead, tomb = [1, n_head // 2], [5, n_head - 2]
    Maintainer(spark, built).delete(spark.createDataFrame(
        [(i,) for i in dead], "doc_id long"))
    Maintainer(spark, built).compact_targeted()
    Maintainer(spark, built).delete(spark.createDataFrame(
        [(i,) for i in tomb], "doc_id long"))
    assert read_manifest(built)["next_doc_id"] == nxt

    doomed = [0, 3, 64, 65, n_head - 1, n_head + 1, nxt - 1]
    ids = doomed + doomed[:3] + dead + tomb
    pairs = [(str(c), int(t)) for c, t in
             docs[["conv_id", "turn_idx"]].values]
    key_sets = {
        "doc_id": ([(i,) for i in ids + [nxt, nxt + 3]], "doc_id long"),
        "pairs": ([pairs[i] for i in ids]
                  + [(pairs[0][0], 999), ("zz-none", 0)],
                  "conv_id string, turn_idx int")}
    gone = set(dead + tomb + doomed)
    oracle = BM25Oracle({i: t for i, t in enumerate(docs["text"])
                         if i not in gone})
    for name, (rows, ddl) in key_sets.items():
        got = {}
        for site, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
            path = str(tmp_path / f"idx_del_sites_{name}_{site}")
            shutil.copytree(built, path)
            keys = spark.createDataFrame(rows, ddl)
            with monkeypatch.context() as mp:
                mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
                n0 = spark_jobs()
                m = Maintainer(spark, path).delete(keys)
                jobs = spark_jobs() - n0
            entry = m["lineage"][-1]
            assert entry["ran"] == site and entry["limit"] == bound, entry
            assert entry["cap"] == "_ROUTED_TASK_BYTES" \
                and entry["index_bytes"] > 0, entry
            if site == "driver":
                assert jobs <= 1, jobs
            got[site] = _delete_artifacts(path, m)
            assert got[site]["tombstones"] == sorted(tomb + doomed)
            assert got[site]["stats"]["n_docs"] == oracle.n_docs
            s = Searcher.load(spark, path)
            assert math.isclose(s.avgdl, oracle.avgdl, rel_tol=1e-12)
            res = s.search_batch(QUERIES, two_phase_min_shards=2,
                                 force_two_phase=True).persist()
            for qid, qtext, k in QUERIES:
                assert_rank_identical(collect_topk(res, qid),
                                      oracle.topk(qtext, k),
                                      f"{name} {site} q{qid}")
            res.unpersist()
        assert got["driver"] == got["spark"], name

    # more keys than live docs: the peek stops and Spark runs the delete
    path = str(tmp_path / "idx_del_sites_oversized")
    shutil.copytree(built, path)
    n_docs = read_manifest(path)["n_docs"]
    m = Maintainer(spark, path).delete(spark.createDataFrame(
        [(0,)] * (n_docs + 1), "doc_id long"))
    entry = m["lineage"][-1]
    assert entry["ran"] == "spark" \
        and 0 < entry["index_bytes"] <= entry["limit"], entry
    assert _delete_artifacts(path, m)["tombstones"] == sorted(tomb + [0])
    assert m["n_docs"] == n_docs - 1


def test_empty_append_commits_nothing(spark, tmp_path, corpus_pdfs,
                                      spark_jobs):
    """An empty input built from pandas or from a list (an RDD scan whose
    size estimate is unknown) is found empty by one bounded peek: the
    append runs at most one Spark job, writes no artifact and leaves the
    manifest — gen, dir lists, lineage, last_batch_id — unchanged, with
    or without a batch_id."""
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_empty_append")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    before, files = read_manifest(path), _file_state(path)
    for empty in (spark.createDataFrame(tail.iloc[:0], schema=TRANSCRIPTS),
                  spark.createDataFrame([], TRANSCRIPTS)):
        for batch_id in (None, 7):
            n0 = spark_jobs()
            m = Maintainer(spark, path).append(empty, batch_id=batch_id)
            assert spark_jobs() - n0 <= 1
            assert m == before and read_manifest(path) == before
            assert _file_state(path) == files


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
                                                  corpus_pdfs, monkeypatch):
    """compact_targeted()'s patch and compact()'s new base hold exactly
    the reference encoding of the live postings — the same multiset of
    SEGMENTS rows, payload bytes included, that the per-row decode and
    the pandas encoder wrote. compact_targeted() runs on both halves on
    copies of one index: in the driver (the default bound) and on Spark
    (_ROUTED_TASK_BYTES at 0); both patches and their manifests agree,
    and the dead_docs count is the number of rows written. compact()
    runs on both halves on copies of one index too: its term_stats df
    come from the new base's metadata and must count the live postings,
    and the docs, term_stats and directory rows and dir_quant of the two
    halves are equal."""
    import os

    import pyarrow.parquet as pq

    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_ref")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    Maintainer(spark, built).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    n_dead = Maintainer(spark, built).delete(spark.createDataFrame(
        [(i,) for i in range(3, 400, 41)], "doc_id long"))["tombstones"]

    live = _live_postings(built)
    ms = {}
    for half, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        path = str(tmp_path / f"idx_ref_{half}")
        shutil.copytree(built, path)
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m = ms[half] = Maintainer(spark, path).compact_targeted()
        assert m["lineage"][-1]["ran"] == half, m["lineage"][-1]
        patched = set(m["seg_excludes"]["segments/base"])
        assert _segment_rows(os.path.join(path, m["segment_dirs"][-1])) == \
            _reference_rows(live, m["avgdl"], patched), half
        assert pq.read_table(os.path.join(path, m["dead_dir"])).num_rows \
            == m["dead_docs"] == n_dead, half
    for key in ("seg_excludes", "dead_docs", "tombstones"):
        assert ms["driver"][key] == ms["spark"][key], key

    h = head.sort_values(["conv_id", "turn_idx"])
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(c, int(t)) for c, t in h.iloc[7:300:13][["conv_id", "turn_idx"]]
         .values], "conv_id string, turn_idx int"))
    live = _live_postings(path)
    df = {}
    for (term, _), ps in live.items():
        df[term] = df.get(term, 0) + len(ps)

    def rows(root, d):
        return sorted(map(tuple, spark.read.parquet(
            os.path.join(root, d)).collect()))
    out = {}
    for half, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        cpath = str(tmp_path / f"idx_compact_{half}")
        shutil.copytree(path, cpath)
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m = Maintainer(spark, cpath).compact()
        assert m["lineage"][-1]["ran"] == half, m["lineage"][-1]
        assert _segment_rows(os.path.join(cpath, m["segment_dirs"][0])) == \
            _reference_rows(live, m["avgdl"]), half
        ts = pq.read_table(os.path.join(cpath, m["ts_base"])).to_pydict()
        assert dict(zip(ts["term"], ts["df"])) == df, half
        out[half] = [m["dir_quant"], *(rows(cpath, d) for d in (
            m["docs_dirs"][0], m["ts_base"], m["dir_base"]))]
    for i, what in enumerate(("dir_quant", "docs", "term_stats",
                              "directory")):
        assert out["driver"][i] == out["spark"][i], what


def test_driver_compaction_runs_no_spark_job(spark, tmp_path, corpus_pdfs,
                                             spark_jobs):
    """A targeted compaction whose affected slice fits one routed-scan
    task runs in the driver: after an append and a delete,
    compact_targeted() launches no Spark job, its lineage entry names
    the site with the byte estimate next to the cap, and a search on
    the patched index matches the oracle over the live corpus. So does
    a full compact() of an index that fits one task, after it."""
    import pdx_spark.operators.snapshot as SN
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_driver_tc")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    hits = Searcher.load(spark, path).search("w0000", k=2)
    dead_ids = [d for d, _ in hits] + [len(head) + 3]
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(i,) for i in dead_ids], "doc_id long"))

    n0 = spark_jobs()
    m = Maintainer(spark, path).compact_targeted()
    assert spark_jobs() == n0
    entry = m["lineage"][-1]
    assert entry["ran"] == "driver" and entry["cap"] == "_ROUTED_TASK_BYTES"
    assert 0 < entry["routed_bytes"] <= entry["limit"] \
        == SN._ROUTED_TASK_BYTES, entry
    assert m["deltas"] == [] and m["tombstones"] == 0
    assert m["dead_docs"] == len(dead_ids)

    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    t = tail.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = dict(enumerate(list(h["text"]) + list(t["text"])))
    for d in dead_ids:
        texts.pop(d)
    oracle = BM25Oracle(texts)
    res = Searcher.load(spark, path).search_batch(
        QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        got = collect_topk(res, qid)
        assert not set(dead_ids) & {d for d, _ in got}
        assert_rank_identical(got, oracle.topk(qtext, k), f"driver q{qid}")
    res.unpersist()

    n0 = spark_jobs()
    m = Maintainer(spark, path).compact()
    assert spark_jobs() == n0
    entry = m["lineage"][-1]
    assert entry["stage"] == "compact" and entry["ran"] == "driver", entry
    assert 0 < entry["index_bytes"] <= entry["limit"] \
        == SN._ROUTED_TASK_BYTES, entry
    assert m["dead_docs"] == m["tombstones"] == 0
    res = Searcher.load(spark, path).search_batch(
        QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), oracle.topk(qtext, k),
                              f"driver compact q{qid}")
    res.unpersist()


def test_fully_tombstoned_shards_compact_to_valid_patch(spark, tmp_path,
                                                        corpus_pdfs,
                                                        monkeypatch):
    """Affected shards whose postings are all tombstoned compact, on
    both halves, to a patch that holds no row and passes
    verify_single_rowgroup; no deleted doc comes back, and results
    match the oracle over the live docs."""
    import os

    import pdx_spark.operators.snapshot as SN
    from pdx_spark.fs import LocalFS, verify_single_rowgroup
    full, head, tail = corpus_pdfs
    built = str(tmp_path / "idx_allgone")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), built)
    dead_ids = list(range(64, 192))  # every doc of shards 1 and 2
    Maintainer(spark, built).delete(spark.createDataFrame(
        [(i,) for i in dead_ids], "doc_id long"))

    h = head.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = BM25Oracle({i: t for i, t in enumerate(h["text"])
                         if i not in set(dead_ids)})
    for half, bound in (("driver", SN._ROUTED_TASK_BYTES), ("spark", 0)):
        path = str(tmp_path / f"idx_allgone_{half}")
        shutil.copytree(built, path)
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            m = Maintainer(spark, path).compact_targeted()
        assert m["lineage"][-1]["ran"] == half
        assert m["seg_excludes"]["segments/base"] == [1, 2]
        patch = m["segment_dirs"][-1]
        assert verify_single_rowgroup(LocalFS(), patch, root=path)
        assert not _segment_rows(os.path.join(path, patch)), half
        res = Searcher.load(spark, path).search_batch(
            QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
        for qid, qtext, k in QUERIES:
            got = collect_topk(res, qid)
            assert not set(dead_ids) & {d for d, _ in got}
            assert_rank_identical(got, oracle.topk(qtext, k),
                                  f"{half} q{qid}")
        res.unpersist()


def test_tombstoned_index_reads_run_no_inference_job(spark, tiny_index,
                                                     tiny_pdf, tmp_path,
                                                     monkeypatch, spark_jobs):
    """Every merged view reads its dirs with their schemas.* schema: on
    an index with tombstones and dead docs, building the tombstone,
    docs and dead-docs frames runs no Spark job (an untyped parquet read
    runs a schema-inference job per call). The tombstone mask is read in
    the driver, so a warm exhaustive batch runs no job in the driver
    (the default bound) and one, the scan, on Spark (_ROUTED_TASK_BYTES
    at 0), with rows that match the oracle over the live docs."""
    import pdx_spark.operators.snapshot as SN
    path = str(tmp_path / "tiny_tomb")
    shutil.copytree(tiny_index, path)
    dead = [d for d, _ in Searcher.load(spark, path).search("w0000", k=3)]
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(d,) for d in dead], "doc_id long"))
    Maintainer(spark, path).compact_targeted()
    more = [d for d, _ in Searcher.load(spark, path).search("w0003 w0150",
                                                            k=2)]
    m = Maintainer(spark, path).delete(spark.createDataFrame(
        [(d,) for d in more], "doc_id long"))
    assert m["tombstones"] == len(more) and m["dead_docs"] == len(dead)

    s = Searcher.load(spark, path)
    for read in (s.tombstones, s.docs, s.snap.dead_docs):
        n0 = spark_jobs()
        assert read() is not None
        assert spark_jobs() == n0, read

    texts = tiny_pdf.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    oracle = BM25Oracle({i: t for i, t in enumerate(texts)
                         if i not in set(dead + more)})
    for site, bound, n_jobs in (("driver", SN._ROUTED_TASK_BYTES, 0),
                                ("spark", 0, 1)):
        with monkeypatch.context() as mp:
            mp.setattr(SN, "_ROUTED_TASK_BYTES", bound)
            s.search_batch(QUERIES, exact=True)
            n0 = spark_jobs()
            res = s.search_batch(QUERIES, exact=True)
            assert spark_jobs() - n0 == n_jobs, site
            assert s.last_plan["scan"]["ran"] == site, s.last_plan
            assert s.last_plan["mask_in_closure"] is True, s.last_plan
        for qid, qtext, k in QUERIES:
            assert_rank_identical(collect_topk(res, qid),
                                  oracle.topk(qtext, k),
                                  f"tombstoned {site} q{qid}")


def test_one_maintainer_across_every_commit_kind(spark, tmp_path,
                                                 corpus_pdfs):
    """One Maintainer commits append, delete, maintain(max_deltas=0)
    (compact_stats, then compact_targeted) and compact() into its
    manifest in place. After each commit a fresh Searcher matches the
    oracle, and the Maintainer's segments() frame reads exactly the
    manifest's current segment dirs, with the rows a fresh reader
    sees."""
    import os
    from urllib.parse import urlparse
    full, head, tail = corpus_pdfs
    path = str(tmp_path / "idx_reuse")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    h = head.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    t = tail.sort_values(["conv_id", "turn_idx"])["text"].tolist()
    texts = dict(enumerate(h + t))
    mt = Maintainer(spark, path)

    def check(stage):
        fresh = Searcher.load(spark, path)
        res = fresh.search_batch(QUERIES, two_phase_min_shards=2,
                                 force_two_phase=True).persist()
        oracle = BM25Oracle(texts)
        for qid, qtext, k in QUERIES:
            assert_rank_identical(collect_topk(res, qid),
                                  oracle.topk(qtext, k), f"{stage} q{qid}")
        res.unpersist()
        seg = mt.snap.segments()
        cur = mt.manifest["segment_dirs"] + mt.manifest["deltas"]
        owners = [[d for d in cur if urlparse(f).path.startswith(
            os.path.join(path, d) + "/")] for f in seg.inputFiles()]
        assert all(len(o) == 1 for o in owners), (stage, owners)
        assert {o[0] for o in owners} == set(cur), stage
        assert seg.count() == fresh.segments().count(), stage

    mt.append(spark.createDataFrame(tail, schema=TRANSCRIPTS))
    check("append")
    dead = [d for d, _ in Searcher.load(spark, path).search("w0000", k=2)]
    mt.delete(spark.createDataFrame([(d,) for d in dead], "doc_id long"))
    for d in dead:
        texts.pop(d)
    check("delete")
    m = mt.maintain(max_deltas=0)
    assert [e["stage"] for e in m["lineage"][-2:]] \
        == ["compact_stats", "compact_targeted"]
    assert m["deltas"] == [] and m["tombstones"] == 0
    check("maintain")
    mt.compact()
    check("compact")


def test_excluded_shards_filter_in_constant_py4j_calls(spark, topic,
                                                       py4j_commands):
    """A union that drops seg_excludes shards sends the shard set in one
    buffer: building it costs the same number of py4j gateway round
    trips for 10 and for 4,000 excluded shards, and with the extra
    3,990 ids held by no shard it returns the same rows, those of every
    shard but the 10."""
    import os

    import pyarrow.parquet as pq

    from pdx_spark import schemas
    from pdx_spark.operators.snapshot import Snapshot
    path = topic[0].path
    m = read_manifest(path)
    assert m["segment_dirs"] == ["segments/base"]
    n_shards = -(-m["next_doc_id"] // 64)
    ten = [1, 2, 3, 9, 10, 20, 33, 34, 50, n_shards - 1]
    many = ten + list(range(n_shards + 7, n_shards + 7 + 3990))
    sent = py4j_commands

    def build(excl):
        snap = Snapshot(spark, topic[0].fs, path,
                        {**m, "seg_excludes": {"segments/base": excl}}, 64)
        snap.frame("segments/base", schemas.SEGMENTS)  # the cached reader
        n0 = sent[0]
        df = snap.union(["segments/base"], schemas.SEGMENTS)
        calls = sent[0] - n0
        return calls, {r["shard"]: r["count"] for r in
                       df.groupBy("shard").count().collect()}

    calls_ten, rows_ten = build(ten)
    calls_many, rows_many = build(many)
    assert calls_ten == calls_many, (calls_ten, calls_many)
    assert rows_ten == rows_many
    shards = pq.read_table(os.path.join(path, "segments", "base"),
                           columns=["shard"]).column("shard").to_pylist()
    want = {}
    for sh in shards:
        if sh not in ten:
            want[sh] = want.get(sh, 0) + 1
    assert rows_ten == want
