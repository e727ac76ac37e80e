"""A build that fits one task runs as the index's first append, in the
driver (Indexer._build_one over Maintainer._ingest): its artifacts
equal a Spark build's, it survives an empty input and a crash before
its commit, and it runs one Spark job."""

import math
import os
import shutil

import pyarrow.parquet as pq
import pytest

from pdx_spark import schemas
from pdx_spark.config import IndexConfig
from pdx_spark.operators import indexer as I
from pdx_spark.operators.indexer import Indexer, read_manifest
from pdx_spark.operators.searcher import Searcher
from pdx_spark.oracle import BM25Oracle
from pdx_spark.schemas import TRANSCRIPTS
from pdx_spark.sources.fixtures import make_transcripts_pdf
from tests.test_engine import assert_rank_identical, collect_topk
from tests.test_maintenance import _live_postings

CFG = IndexConfig(block_size=16, docs_per_shard=64)
QUERIES = [(0, "w0000", 10), (1, "w0003 w0150", 10), (2, "w0500 w0700", 10)]
SITES = (("driver", None), ("spark", 0))


def _corpora():
    """(name, pdf): turn_idx dense from 0 in every conversation (ids
    ranked per conversation), gapped turn_idx (ranked per turn), and
    null and punctuation-only texts among the turns."""
    dense = make_transcripts_pdf(40, seed=7)
    gaps = dense.copy()
    gaps["turn_idx"] = gaps["turn_idx"] * 3 + 1
    odd = dense.copy()
    odd.loc[odd.index[::7], "text"] = None
    odd.loc[odd.index[3::11], "text"] = "?! ... --- ;;"
    return [("dense", dense), ("gaps", gaps), ("null_punct", odd)]


def _rows(path, d):
    return sorted(tuple(r.values()) for r in
                  pq.read_table(os.path.join(path, d)).to_pylist())


def _artifacts(spark, path):
    """Everything a build commits, site-independent: docs rows (a typed
    Spark read), decoded postings, term_stats and directory rows,
    dir_quant and the manifest's global stats."""
    m = read_manifest(path)
    docs = spark.read.schema(schemas.DOCS).parquet(
        os.path.join(path, "docs")).collect()
    return {"docs": sorted(tuple(r) for r in docs),
            "postings": {k: sorted(v) for k, v in
                         _live_postings(path).items()},
            "term_stats": _rows(path, "term_stats"),
            "directory": _rows(path, "directory"),
            "dir_quant": m["dir_quant"],
            "stats": {k: m[k] for k in ("n_docs", "sum_dl", "avgdl",
                                         "next_doc_id", "stage",
                                         "segment_dirs", "docs_dirs")}}


def _oracle(pdf):
    s = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return BM25Oracle({i: t for i, t in enumerate(s["text"])})


def _check_oracle(spark, path, oracle, tag):
    s = Searcher.load(spark, path)
    assert s.n_docs == oracle.n_docs, tag
    assert math.isclose(s.avgdl, oracle.avgdl, rel_tol=1e-12), tag
    res = s.search_batch(QUERIES, two_phase_min_shards=2,
                         force_two_phase=True).persist()
    for qid, qtext, k in QUERIES:
        assert_rank_identical(collect_topk(res, qid), oracle.topk(qtext, k),
                              f"{tag} q{qid}")
    res.unpersist()


def _bound(monkeypatch, bound):
    import pdx_spark.operators.snapshot as SN
    if bound is not None:
        monkeypatch.setattr(SN, "_ROUTED_TASK_BYTES", bound)


@pytest.mark.parametrize("name,pdf", _corpora(), ids=lambda x: x
                         if isinstance(x, str) else "")
def test_driver_build_matches_spark_build(spark, tmp_path, monkeypatch,
                                          name, pdf):
    """One input built on both sites (the Spark one with the bound at 0):
    equal doc ids, docs rows, decoded postings, term_stats, directory
    rows, dir_quant and global stats; both rank-identical to the
    oracle."""
    oracle = _oracle(pdf)
    want_ids = {(c, int(t)): i for i, (c, t) in enumerate(
        pdf.sort_values(["conv_id", "turn_idx"])[["conv_id", "turn_idx"]]
        .values)}
    got = {}
    for site, bound in SITES:
        path = str(tmp_path / f"{name}_{site}")
        with monkeypatch.context() as mp:
            _bound(mp, bound)
            m = Indexer(spark, cfg=CFG).build(
                spark.createDataFrame(pdf, schema=TRANSCRIPTS), path)
        assert m["lineage"][-1]["ran"] == site, m["lineage"][-1]
        assert m == read_manifest(path) and m["chunks"]["0"]["status"] \
            == "done"
        art = got[site] = _artifacts(spark, path)
        assert {(r[1], r[2]): r[0] for r in art["docs"]} == want_ids
        _check_oracle(spark, path, oracle, f"{name} {site}")
    for key in got["driver"]:
        assert got["driver"][key] == got["spark"][key], (name, key)


@pytest.mark.parametrize("site,bound", SITES)
def test_empty_input_builds_a_loadable_index(spark, tmp_path, monkeypatch,
                                             site, bound):
    path = str(tmp_path / f"empty_{site}")
    empty = make_transcripts_pdf(2).iloc[:0]
    with monkeypatch.context() as mp:
        _bound(mp, bound)
        m = Indexer(spark, cfg=CFG).build(
            spark.createDataFrame(empty, schema=TRANSCRIPTS), path)
    assert m["stage"] == "complete" and m["n_docs"] == 0
    s = Searcher.load(spark, path)
    assert s.search("w0000", k=5) == []
    assert s.search_batch(QUERIES).collect() == []


@pytest.mark.parametrize("resume", [False, True])
def test_driver_build_crash_then_rebuild(spark, tmp_path, monkeypatch,
                                         resume):
    """A driver build that dies in its commit leaves the empty manifest
    at stage init; a rebuild (resumed or not) equals a fresh build."""
    pdf = make_transcripts_pdf(40, seed=7)
    fresh = str(tmp_path / "fresh")
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(pdf, schema=TRANSCRIPTS), fresh)
    path = str(tmp_path / "crashed")
    write = I._write_manifest

    def boom(p, manifest, fs=None):
        if manifest["stage"] == "complete":
            raise RuntimeError("commit failed")
        write(p, manifest, fs=fs)
    with monkeypatch.context() as mp:
        mp.setattr(I, "_write_manifest", boom)
        with pytest.raises(RuntimeError, match="commit failed"):
            Indexer(spark, cfg=CFG).build(
                spark.createDataFrame(pdf, schema=TRANSCRIPTS), path)
    assert read_manifest(path)["stage"] == "init"
    Indexer(spark, cfg=CFG).build(
        spark.createDataFrame(pdf, schema=TRANSCRIPTS), path, resume=resume)
    assert _artifacts(spark, path) == _artifacts(spark, fresh)
    _check_oracle(spark, path, _oracle(pdf), f"rebuilt resume={resume}")
    shutil.rmtree(path)


def test_driver_build_runs_one_job(spark, tmp_path, spark_jobs):
    """The input collect is the driver build's only Spark job; the
    lineage records the site with the input estimate next to its cap."""
    pdf = make_transcripts_pdf(40, seed=7)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS)
    n0 = spark_jobs()
    m = Indexer(spark, cfg=CFG).build(df, str(tmp_path / "one_job"))
    assert spark_jobs() - n0 == 1
    entry = m["lineage"][-1]
    assert entry["ran"] == "driver" and entry["cap"] == "_ROUTED_TASK_BYTES"
    assert 0 < entry["input_bytes"] <= entry["limit"], entry
    assert entry["rows"] == len(pdf) == m["n_docs"]
