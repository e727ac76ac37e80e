"""Stat artifacts (indexer.stat_artifacts): the driver half
(stat_artifacts_local) must compute df = Σ block n per term, bounds =
min/max over blocks and ceil/floor u8 quantization, and handle empty
input and the row cap; the Spark half must write the same term_stats
rows, directory rows and params after build, append and compact()."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdx_spark import schemas
from pdx_spark.config import IndexConfig
from pdx_spark.fs import LocalFS
from pdx_spark.functions.quantize import dequantize_np
from pdx_spark.operators import indexer
from pdx_spark.operators.indexer import Indexer, stat_artifacts_local
from pdx_spark.operators.maintenance import Maintainer


def _seg_file(path, rows):
    cols = {k: [r[k] for r in rows]
            for k in ("term", "shard", "n", "max_tf", "min_dl", "gmax")}
    pq.write_table(pa.table({
        "term": pa.array(cols["term"], pa.string()),
        "shard": pa.array(cols["shard"], pa.int64()),
        "n": pa.array(cols["n"], pa.int32()),
        "max_tf": pa.array(cols["max_tf"], pa.int32()),
        "min_dl": pa.array(cols["min_dl"], pa.int32()),
        "gmax": pa.array(cols["gmax"], pa.float64())}), path)


def test_stat_artifacts_local_values(tmp_path):
    seg = tmp_path / "seg"
    seg.mkdir()
    _seg_file(str(seg / "a.parquet"), [
        dict(term="x", shard=0, n=3, max_tf=5, min_dl=10, gmax=1.5),
        dict(term="x", shard=0, n=2, max_tf=9, min_dl=4, gmax=2.5),
        dict(term="y", shard=1, n=7, max_tf=1, min_dl=40, gmax=0.5)])
    _seg_file(str(seg / "b.parquet"), [
        dict(term="x", shard=1, n=1, max_tf=2, min_dl=30, gmax=0.25)])
    ts, dd = str(tmp_path / "ts"), str(tmp_path / "dir")
    params = stat_artifacts_local(LocalFS(), [str(seg)], ts, dd)
    assert params is not None

    t = pq.read_table(ts).to_pydict()
    assert t["term"] == ["x", "y"]
    assert t["df"] == [6, 7]          # sum of block n per term
    assert t["max_tf"] == [9, 1]
    assert t["gmax"] == [2.5, 0.5]

    d = pq.read_table(dd).to_pydict()
    assert list(zip(d["term"], d["shard"])) == [("x", 0), ("x", 1),
                                                ("y", 1)]
    assert d["n_blocks"] == [2, 1, 1]
    assert d["n_postings"] == [5, 1, 7]
    # dequantized bounds stay admissible: >= true max_tf, <= true min_dl
    up = dequantize_np(np.array(d["max_tf_q"]), params["tf_base"],
                       params["tf_scale"])
    dn = dequantize_np(np.array(d["min_dl_q"]), params["dl_base"],
                       params["dl_scale"])
    assert (up >= np.array([9, 2, 1]) - 1e-9).all()
    assert (dn <= np.array([4, 30, 40]) + 1e-9).all()


def test_stat_artifacts_local_empty_and_cap(tmp_path, monkeypatch):
    seg = tmp_path / "seg"
    seg.mkdir()
    ts, dd = str(tmp_path / "ts"), str(tmp_path / "dir")
    params = stat_artifacts_local(LocalFS(), [str(seg)], ts, dd)
    assert params == {"tf_base": 0.0, "tf_scale": 0.0,
                      "dl_base": 0.0, "dl_scale": 0.0}
    assert pq.read_table(ts).num_rows == 0
    assert pq.read_table(dd).num_rows == 0

    _seg_file(str(seg / "a.parquet"),
              [dict(term="x", shard=0, n=1, max_tf=1, min_dl=1, gmax=1.0)])
    monkeypatch.setattr(indexer, "_STATS_LOCAL_CAP_ROWS", 0)
    assert stat_artifacts_local(LocalFS(), [str(seg)], ts,
                                dd) is None  # cap -> fallback


def _term_encodings(path):
    import glob
    [f] = glob.glob(path + "/*.parquet")
    md = pq.ParquetFile(f).metadata
    return set(md.row_group(0).column(0).encodings)


def test_stat_artifacts_term_plain_only_when_unique(tmp_path):
    """`term` is written PLAIN where every value is unique (term_stats
    always; a directory with one shard per term) — a dictionary there
    only adds bytes — and keeps its dictionary where terms repeat."""
    rows = [dict(term=f"t{i:04d}", shard=s, n=1, max_tf=1, min_dl=3,
                 gmax=0.5) for i in range(300) for s in (0, 1)]
    cases = {"repeat": rows, "unique": rows[::2]}
    enc = {}
    for name, rs in cases.items():
        seg = tmp_path / name
        seg.mkdir()
        _seg_file(str(seg / "a.parquet"), rs)
        ts, dd = str(tmp_path / f"ts_{name}"), str(tmp_path / f"dir_{name}")
        stat_artifacts_local(LocalFS(), [str(seg)], ts, dd)
        enc[name] = (_term_encodings(ts), _term_encodings(dd))
    dict_encs = {"RLE_DICTIONARY", "PLAIN_DICTIONARY"}
    for name in cases:
        assert not enc[name][0] & dict_encs, enc   # term_stats: PLAIN
    assert not enc["unique"][1] & dict_encs, enc   # one shard per term
    assert enc["repeat"][1] & dict_encs, enc       # terms repeat


def _artifacts(path, ts_dir, dir_dir, m):
    """Sorted term_stats rows, sorted directory rows and the directory's
    dir_quant params, as committed under `path`."""
    def rows(d, schema):
        cols = [f.name for f in schema.fields]
        tab = pq.read_table(os.path.join(path, d), columns=cols)
        return sorted(zip(*(tab.column(c).to_pylist() for c in cols)))
    return (rows(ts_dir, schemas.TERM_STATS),
            rows(dir_dir, schemas.DIRECTORY),
            m["dir_quant"][dir_dir])


def _stat_cycle(spark, tiny_pdf, path):
    """Build, append and compact(); the artifacts after each step."""
    from pdx_spark.schemas import TRANSCRIPTS

    n = len(tiny_pdf)
    head, tail = tiny_pdf.iloc[: n - 40], tiny_pdf.iloc[n - 40:]
    cfg = IndexConfig(block_size=16, docs_per_shard=64)
    m = Indexer(spark, cfg=cfg).build(
        spark.createDataFrame(head, schema=TRANSCRIPTS), path)
    out = {"build": _artifacts(path, "term_stats", "directory", m)}
    m = Maintainer(spark, path).append(
        spark.createDataFrame(tail, schema=TRANSCRIPTS))
    out["append"] = _artifacts(path, m["ts_deltas"][-1],
                               m["dir_deltas"][-1], m)
    m = Maintainer(spark, path).compact()
    out["compact"] = _artifacts(path, m["ts_base"], m["dir_base"], m)
    return out


def test_driver_and_spark_halves_agree(spark, tiny_pdf, tmp_path,
                                       monkeypatch):
    """The same build -> append -> compact() run twice: once as usual
    (driver half on a local fs) and once with _STATS_LOCAL_CAP_ROWS = 0
    (the Spark half). Each step commits equal term_stats rows, directory
    rows and dir_quant params."""
    halves = []
    real = indexer.stat_artifacts_local

    def spy(*a, **kw):
        params = real(*a, **kw)
        halves.append("driver" if params is not None else "spark")
        return params

    monkeypatch.setattr(indexer, "stat_artifacts_local", spy)
    local = _stat_cycle(spark, tiny_pdf, str(tmp_path / "local"))
    assert halves == ["driver"] * 3
    monkeypatch.setattr(indexer, "_STATS_LOCAL_CAP_ROWS", 0)
    dist = _stat_cycle(spark, tiny_pdf, str(tmp_path / "spark"))
    assert halves == ["driver"] * 3 + ["spark"] * 3
    for step in ("build", "append", "compact"):
        ts_l, dir_l, q_l = local[step]
        ts_d, dir_d, q_d = dist[step]
        assert ts_l and dir_l, step
        assert ts_l == ts_d, step
        assert dir_l == dir_d, step
        assert q_l == q_d, step
