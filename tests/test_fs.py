"""Filesystem seam + crash-safety + format-gate tests (round-3 fixes).

Covers:
  - build/load/append/delete/compact/search round-trip through a
    `file:` URI, i.e. the HadoopFS (py4j) implementation of the seam —
    the code path an hdfs:/s3a: deployment takes (reference has no
    analog: utils.hpp reads local files only; our unit is a cluster).
  - crash injection: full compact / delete killed between artifact
    write and manifest commit must leave a loadable, CORRECT index
    (commit-then-delete discipline; gen-named artifacts).
  - format_version gate: a v1 manifest must be refused loudly, not
    silently produce empty results.
  - map-scan granularity: a segment file with >1 row group flips the
    engine to the cogroup scan and results stay rank-identical.
  - driver planning on a URI: the same index loaded as a path and as a
    file:// URI plans every pruned batch on the driver.
"""

import json
import math
import os

import pytest

from pdx_spark.config import IndexConfig
from pdx_spark.operators.indexer import Indexer, read_manifest
from pdx_spark.operators.maintenance import Maintainer
from pdx_spark.operators.searcher import Searcher
from pdx_spark.oracle import BM25Oracle
from pdx_spark.schemas import TRANSCRIPTS
from tests.test_engine import assert_rank_identical, collect_topk

CFG = IndexConfig(block_size=16, docs_per_shard=64)

QUERIES = [(0, "w0000", 10), (1, "w0003 w0150", 10), (2, "w4990", 5)]


def _oracle(pdf, drop_ids=()):
    p = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = {i: t for i, t in enumerate(p["text"])}
    for d in drop_ids:
        texts.pop(d, None)
    return BM25Oracle(texts)


def test_file_uri_roundtrip(spark, tiny_pdf, tmp_path):
    """Build + load + append + delete + compact + query entirely through
    a file: URI — the HadoopFS seam (manifest via FSDataOutputStream,
    renames via FileSystem.rename, row-group verification via
    parquet-hadoop)."""
    from pdx_spark.fs import HadoopFS, index_fs

    n = len(tiny_pdf)
    head, tail = tiny_pdf.iloc[: n - 40], tiny_pdf.iloc[n - 40:]
    uri = "file:" + str(tmp_path / "uri_idx")
    fs = index_fs(spark, uri)
    assert isinstance(fs, HadoopFS)

    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), uri)
    m = read_manifest(uri, fs=fs)
    assert m["stage"] == "complete"
    assert m["seg_single_rg"] is True  # verified via parquet-hadoop

    # zero os.path artifacts leaked outside the URI (the local dir view
    # of the same tree must exist — file: maps onto the local disk)
    assert os.path.exists(str(tmp_path / "uri_idx" / "manifest.json"))

    s = Searcher.load(spark, uri)
    assert s._map_scan_ok
    ora = _oracle(head)
    res = s.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), ora.topk(qtext, k),
                              f"uri q{qid}")
    res.unpersist()

    # append through the same seam; stats stay exact
    Maintainer(spark, uri).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    s2 = Searcher.load(spark, uri)
    ora2 = _oracle(tiny_pdf)
    assert s2.n_docs == ora2.n_docs
    assert math.isclose(s2.avgdl, ora2.avgdl, rel_tol=1e-12)
    res = s2.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), ora2.topk(qtext, k),
                              f"uri-append q{qid}")
    res.unpersist()

    # delete + full compact through the same seam: compact() derives its
    # term_stats/directory with the Spark half of stat_artifacts here
    dead = [d for d, _ in s2.search("w0000", k=4)]
    Maintainer(spark, uri).delete(spark.createDataFrame(
        [(int(d),) for d in dead], "doc_id long"))
    m = Maintainer(spark, uri).compact()
    assert m["tombstones"] == 0 and m["dir_base"] in m["dir_quant"]
    s3 = Searcher.load(spark, uri)
    ora3 = _oracle(tiny_pdf, drop_ids=dead)
    assert s3.n_docs == ora3.n_docs
    assert math.isclose(s3.avgdl, ora3.avgdl, rel_tol=1e-12)
    res = s3.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        got = collect_topk(res, qid)
        assert not set(dead) & {d for d, _ in got}
        assert_rank_identical(got, ora3.topk(qtext, k), f"uri-compact q{qid}")
    res.unpersist()



def _rows(df):
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 9))
                  for r in df.collect())


def test_uri_index_plans_on_the_driver(spark, tiny_pdf, tiny_oracle, tmp_path,
                                       monkeypatch):
    """One index loaded as a plain path and as a file:// URI. Both plan
    every pruned batch on the driver: a warm two-phase batch on the URI
    Searcher runs at most the seed and main scan jobs and returns the
    local Searcher's rows. A predicate batch whose mask exceeds
    _ROUTING_CAP routes through the cogroup channel from the driver's
    (query, shard) pairs and matches the oracle."""
    from pdx_spark.operators import searcher as S

    path = str(tmp_path / "idx_plan")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS), path)
    local = Searcher.load(spark, path)
    uri = Searcher.load(spark, "file://" + path)
    assert not uri.fs.is_local
    kw = dict(force_two_phase=True, two_phase_min_shards=2)
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return len(tracker.getJobIdsForGroup(None))

    uri.search_batch(QUERIES, **kw).collect()  # warms idf + plan caches
    n0 = jobs()
    got = uri.search_batch(QUERIES, **kw)
    assert jobs() - n0 <= 2, "planning a URI batch launched Spark jobs"
    assert uri.last_plan["mode"] in ("routed", "unrouted"), uri.last_plan
    want = local.search_batch(QUERIES, **kw)
    assert local.last_plan["mode"] == uri.last_plan["mode"]
    assert _rows(got) == _rows(want)

    pdf = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    allowed = {int(i) for i in pdf.index[pdf["role"] == "assistant"]}
    monkeypatch.setattr(S, "_ROUTING_CAP", 2)
    res = uri.search_batch(QUERIES, predicate="role = 'assistant'", **kw)
    assert uri.last_plan["mode"] == "cogroup", uri.last_plan
    res = res.persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid),
                              tiny_oracle.topk(qtext, k, allowed=allowed),
                              f"uri cogroup q{qid}")
    res.unpersist()
    uri.close()
    local.close()

def test_compact_crash_before_commit_is_harmless(spark, tiny_pdf, tmp_path,
                                                 monkeypatch):
    """Kill compact() between the new-base write and the manifest commit:
    the committed index must still load and answer exactly (old dirs are
    deleted only after the commit — no destructive window)."""
    import pdx_spark.operators.maintenance as M

    n = len(tiny_pdf)
    head, tail = tiny_pdf.iloc[: n - 40], tiny_pdf.iloc[n - 40:]
    path = str(tmp_path / "idx_crash")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))

    ora = _oracle(tiny_pdf)
    maint = Maintainer(spark, path)
    real_write = M._write_manifest

    def boom(*a, **kw):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(M, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        maint.compact()
    monkeypatch.setattr(M, "_write_manifest", real_write)

    # committed state untouched: loads, and answers are exact
    s = Searcher.load(spark, path)
    assert s.n_docs == ora.n_docs
    res = s.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), ora.topk(qtext, k),
                              f"crash q{qid}")
    res.unpersist()

    # retrying the compact on a fresh Maintainer succeeds and stays exact
    Maintainer(spark, path).compact()
    s2 = Searcher.load(spark, path)
    res = s2.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), ora.topk(qtext, k),
                              f"retry q{qid}")
    res.unpersist()


def test_delete_crash_then_retry_keeps_stats_exact(spark, tiny_pdf, tmp_path,
                                                   monkeypatch):
    """The ADVICE scenario: a delete AFTER a committed delete crashes
    between the tombstone-merge write and the manifest commit. The
    staged tombstones are generation-named and unreferenced, so the
    retry recomputes against the COMMITTED state — N/sum_dl/df
    decrements land exactly once and ranks match a fresh build."""
    import pdx_spark.operators.maintenance as M

    path = str(tmp_path / "idx_delcrash")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS), path)
    s0 = Searcher.load(spark, path)
    hits = [d for d, _ in s0.search("w0000", k=6)]
    first, second = hits[:2], hits[2:4]

    # delete #1 commits normally
    Maintainer(spark, path).delete(spark.createDataFrame(
        [(int(d),) for d in first], "doc_id long"))
    assert read_manifest(path)["tombstones"] == len(first)

    # delete #2 crashes before the manifest commit
    maint = Maintainer(spark, path)
    real_write = M._write_manifest
    calls = {"n": 0}

    def boom_on_manifest(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected crash")

    monkeypatch.setattr(M, "_write_manifest", boom_on_manifest)
    with pytest.raises(RuntimeError, match="injected"):
        maint.delete(spark.createDataFrame(
            [(int(d),) for d in second], "doc_id long"))
    monkeypatch.setattr(M, "_write_manifest", real_write)
    # committed manifest still shows only delete #1
    assert read_manifest(path)["tombstones"] == len(first)

    # retry delete #2 on a fresh Maintainer: must NOT no-op
    m = Maintainer(spark, path).delete(spark.createDataFrame(
        [(int(d),) for d in second], "doc_id long"))
    assert m["tombstones"] == len(first) + len(second)

    # exactness: rank-identical to a fresh build over the live corpus
    ora = _oracle(tiny_pdf, drop_ids=first + second)
    s = Searcher.load(spark, path)
    assert s.n_docs == ora.n_docs
    assert math.isclose(s.avgdl, ora.avgdl, rel_tol=1e-12)
    res = s.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        got = collect_topk(res, qid)
        assert not (set(first + second) & {d for d, _ in got})
        assert_rank_identical(got, ora.topk(qtext, k), f"delretry q{qid}")
    res.unpersist()


def test_format_version_gate(spark, tiny_index, tmp_path):
    """A v1 index must be refused with a clear error (silently reading
    null u8 columns would collapse every pruning bound to 0)."""
    import shutil
    path = str(tmp_path / "idx_v1")
    shutil.copytree(tiny_index, path)
    mp = os.path.join(path, "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    m["format_version"] = 1
    with open(mp, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="format_version=1"):
        Searcher.load(spark, path)
    with pytest.raises(ValueError, match="format_version=1"):
        Maintainer(spark, path)


def test_multi_rowgroup_file_falls_back_to_cogroup(spark, tiny_pdf, tiny_oracle,
                                                   tmp_path):
    """Physically violate the one-row-group-per-file invariant on one
    segment file: load must detect it (footer walk), disable the
    map-scan, and the per-shard grouped scan must stay rank-identical —
    with a closure predicate mask too."""
    import pyarrow.parquet as pq
    import shutil

    path = str(tmp_path / "idx_rg")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS), path)

    # fragment the largest segment file into many row groups
    seg_dir = os.path.join(path, "segments", "base")
    files = []
    for root, _, fnames in os.walk(seg_dir):
        files += [os.path.join(root, f) for f in fnames
                  if f.endswith(".parquet")]
    victim = max(files, key=os.path.getsize)
    tab = pq.read_table(victim)
    assert len(tab) > 2
    pq.write_table(tab, victim, row_group_size=max(len(tab) // 4, 1))
    assert pq.ParquetFile(victim).metadata.num_row_groups > 1
    # drop Hadoop's sidecar checksum — the rewrite invalidated it
    crc = os.path.join(os.path.dirname(victim),
                       "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    # writer flag is stale now; simulate an honest writer that failed
    # verification (or a legacy manifest without the flag)
    mp = os.path.join(path, "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    m.pop("seg_single_rg", None)
    with open(mp, "w") as f:
        json.dump(m, f)

    s = Searcher.load(spark, path)
    assert s._map_scan_ok is False  # invariant correctly detected broken
    for qid, qtext, k in QUERIES:
        res = s.search_batch([(qid, qtext, k)])
        assert_rank_identical(collect_topk(res, qid),
                              tiny_oracle.topk(qtext, k), f"cog q{qid}")
    # pruned path too (exercises seed scan + unioned main through cogroup)
    res = s.search_batch(QUERIES, two_phase_min_shards=2, force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid),
                              tiny_oracle.topk(qtext, k), f"cog2 q{qid}")
    res.unpersist()
    # a small predicate mask rides the closure of the grouped scan
    pdf = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    allowed = {int(i) for i in pdf.index[pdf["role"] == "assistant"]}
    res = s.search_batch(QUERIES, predicate="role = 'assistant'").persist()
    assert s.last_plan.get("mask_in_closure") is True, s.last_plan
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid),
                              tiny_oracle.topk(qtext, k, allowed=allowed),
                              f"cog pred q{qid}")
    res.unpersist()


def test_ann_index_file_uri_roundtrip(spark, tmp_path):
    """AnnIndex build/load/query through a file: URI — the similarity
    index uses the same filesystem seam as the BM25 index."""
    import numpy as np

    from pdx_spark.operators.similarity import AnnIndex, brute_force_topk

    rng = np.random.default_rng(42)
    E = rng.standard_normal((200, 12)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, E[i].tolist()) for i in range(200)],
        "vec_id long, embedding array<float>")
    uri = "file:" + str(tmp_path / "ann_uri")
    built = AnnIndex.build(emb, uri, n_planes=4)
    loaded = AnnIndex.load(spark, uri)
    assert loaded.meta == built.meta
    q = E[7].tolist()
    got = [r["vec_id"] for r in loaded.topk(q, k=10, nprobe=16).collect()]
    bf = [r["vec_id"] for r in
          brute_force_topk(emb, q, k=10, metric="cosine").collect()]
    assert got == bf  # full probe == exact, through the URI


def test_hadoopfs_overwrite_rename_never_drops_manifest(spark, tmp_path):
    """Round-3 ADVICE (medium): overwriting a manifest through HadoopFS
    must use an atomic OVERWRITE rename — at no point may the target be
    absent. Exercised on a file: URI (same py4j FileContext path as
    hdfs:/s3a:); also asserts FileContext is actually used, not the
    delete+rename fallback."""
    from pdx_spark.fs import HadoopFS, IndexFS

    root = "file://" + str(tmp_path)
    fs = HadoopFS(spark, root)
    p = IndexFS.join(root, "sub", "manifest.json")
    fs.write_text_atomic(p, "v1")
    assert fs.read_text(p) == "v1"
    fs.write_text_atomic(p, "v2")  # overwrite of an existing file
    assert fs.read_text(p) == "v2"
    assert fs._fc not in (None, False), \
        "FileContext binding unavailable — fell back to delete+rename"


def test_hadoopfs_dir_rename_parks_existing_dst(spark, tmp_path):
    """HadoopFS.rename onto an existing directory must REPLACE it (not
    move src inside it, Hadoop's default), and the old artifact is
    parked at .stale until the new one is in place."""
    import os

    from pdx_spark.fs import HadoopFS, IndexFS

    root = "file://" + str(tmp_path)
    fs = HadoopFS(spark, root)
    src, dst = IndexFS.join(root, "src"), IndexFS.join(root, "dst")
    for d, content in ((src, "new"), (dst, "old")):
        fs.write_text_atomic(IndexFS.join(d, "f.txt"), content)
    fs.rename(src, dst)
    assert fs.read_text(IndexFS.join(dst, "f.txt")) == "new"
    assert not fs.exists(src)
    assert not fs.exists(dst + ".stale")  # stale copy cleaned up
    assert sorted(os.listdir(tmp_path)) == ["dst"]
