"""Codec unit tests (analog of the reference's kernel cross-validation,
tests/test_distance_computers.cpp, and layout scatter/gather tests)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pdx_spark.config import BM25Params
from pdx_spark.functions.blocks import (bit_width, decode_block,
                                        encode_blocks, pack, unpack)


def test_pack_roundtrip_basic():
    v = np.array([0, 1, 5, 255, 1023], dtype=np.int64)
    w = bit_width(v)
    assert w == 10
    assert np.array_equal(unpack(pack(v, w), w, len(v)), v)


def test_pack_zero_width():
    v = np.zeros(7, dtype=np.int64)
    assert pack(v, 0) == b""
    assert np.array_equal(unpack(b"", 0, 7), v)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
def test_pack_roundtrip_property(values):
    v = np.array(values, dtype=np.int64)
    w = bit_width(v)
    assert np.array_equal(unpack(pack(v, w), w, len(v)), v)


def test_encode_decode_blocks():
    rng = np.random.default_rng(42)
    n = 1000
    doc_ids = np.sort(rng.choice(100_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.int64)
    dls = rng.integers(1, 500, size=n).astype(np.int64)
    blocks = encode_blocks(doc_ids, tfs, dls, shard=0, term="t",
                           block_size=128, avgdl=60.0, params=BM25Params())
    assert len(blocks) == (n + 127) // 128
    got_ids, got_tfs, got_dls = [], [], []
    for b in blocks:
        i, t, d = decode_block(b)
        assert b["first_doc"] == i[0] and b["last_doc"] == i[-1]
        assert b["max_tf"] == t.max() and b["min_dl"] == d.min()
        got_ids.append(i); got_tfs.append(t); got_dls.append(d)
    assert np.array_equal(np.concatenate(got_ids), doc_ids)
    assert np.array_equal(np.concatenate(got_tfs), tfs)
    assert np.array_equal(np.concatenate(got_dls), dls)


def test_gmax_is_true_block_max():
    from pdx_spark.functions.bm25 import tfnorm_np
    p = BM25Params()
    doc_ids = np.arange(10, dtype=np.int64)
    tfs = np.array([1, 2, 3, 9, 1, 1, 2, 1, 4, 1], dtype=np.int64)
    dls = np.array([10, 20, 5, 100, 7, 9, 11, 13, 2, 80], dtype=np.int64)
    [b] = encode_blocks(doc_ids, tfs, dls, 0, "t", 128, 30.0, p)
    assert b["gmax"] == tfnorm_np(tfs, dls, 30.0, p).max()


# ---- property: the shard scorer is exact under any θ -----------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _shard_case(draw):
    width = 64
    n_terms = draw(st.integers(1, 5))
    terms = [f"t{i}" for i in range(n_terms)]
    postings = {}
    for t in terms:
        docs = draw(st.lists(st.integers(0, width - 1), min_size=1,
                             max_size=20, unique=True))
        postings[t] = sorted((d, draw(st.integers(1, 9))) for d in docs)
    dls = {d: draw(st.integers(1, 50))
           for d in {d for ps in postings.values() for d, _ in ps}}
    q_terms = draw(st.lists(st.sampled_from(terms + ["absent"]),
                            min_size=1, max_size=4, unique=True))
    theta = draw(st.one_of(st.none(), st.floats(0.0, 3.0)))
    k = draw(st.integers(1, 8))
    return postings, dls, sorted(q_terms), theta, k


@settings(max_examples=60, deadline=None)
@given(_shard_case())
def test_shard_scorer_property(case):
    """For ANY postings/query/θ: every row the scorer returns carries the
    EXACT BM25 score, rows are the per-shard top-k of the candidate set,
    and no doc with true score > θ (i.e. a doc that could enter the
    global top-k) is ever pruned — the exactness invariant behind
    rank-identity. The cogroup adapter, fed the equivalent aux rows
    (one query-routing row, no mask rows), returns the identical
    table."""
    import numpy as np
    import pyarrow as pa

    from pdx_spark.config import BM25Params
    from pdx_spark.functions.blocks import encode_blocks
    from pdx_spark.functions.bm25 import tfnorm_np
    from pdx_spark.operators.searcher import _arrow_scorer, _cogroup_scorer

    postings, dls, q_terms, theta, k = case
    params, avgdl, n_docs = BM25Params(), 10.0, 1000
    idf = {t: 1.0 + 0.1 * i for i, t in enumerate(sorted(postings))}
    idf["absent"] = 0.5

    rows = []
    for t, ps in postings.items():
        ids = np.array([d for d, _ in ps], dtype=np.int64)
        tfs = np.array([tf for _, tf in ps], dtype=np.int64)
        dl = np.array([dls[d] for d, _ in ps], dtype=np.int64)
        rows.extend(encode_blocks(ids, tfs, dl, 0, t, 8, avgdl, params))
    seg = pa.Table.from_batches([_segments_batch(rows)])

    spec = {"queries": [(0, q_terms, k, theta)], "idf": idf,
            "avgdl": avgdl, "k1": params.k1, "b": params.b,
            "docs_per_shard": 64, "require_all": False, "min_match": 1}
    out_tab = _arrow_scorer(spec)(seg)
    aux = pa.table({"shard": pa.array([0], pa.int64()),
                    "kind": pa.array([1], pa.int32()),
                    "id": pa.array([0], pa.int64()),
                    "p": pa.array([0], pa.int32())})
    cog = _cogroup_scorer(spec, None, routed=True)(
        (pa.scalar(0, pa.int64()),), seg, aux)
    assert cog.equals(out_tab)
    out = out_tab.to_pandas()

    # naive truth
    truth = {}
    for t in q_terms:
        for d, tf in postings.get(t, []):
            g = float(tfnorm_np(np.array([tf]), np.array([dls[d]]),
                                avgdl, params)[0])
            truth[d] = truth.get(d, 0.0) + idf[t] * g
    got = {int(r.doc_id): float(r.score) for r in out.itertuples()}
    for d, s in got.items():
        assert abs(s - truth[d]) < 1e-9, (d, s, truth[d])  # exact scores
    ranked = sorted(truth.items(), key=lambda x: (-x[1], x[0]))
    if theta is None:
        want = [d for d, s in ranked[:k] if s > 0]
        assert sorted(got) == sorted(want)
    else:
        # no doc with true score > θ within the top-k may be pruned
        must_have = [d for d, s in ranked[:k] if s > theta]
        assert set(must_have) <= set(got), (must_have, got, theta)


_SEG_COLS = ("term", "shard", "block_id", "n", "first_doc", "last_doc",
             "max_tf", "min_dl", "gmax", "ids_bw", "tfs_bw", "dls_bw",
             "ids", "tfs", "dls")


def _random_runs(rng, n_runs, max_len, max_gap, max_tf, max_dl):
    """Zipf-ish run length mix with strictly increasing doc ids."""
    runs = []
    for _ in range(n_runs):
        rl = int(np.clip(rng.zipf(1.4), 1, max_len))
        ids = np.cumsum(rng.integers(1, max_gap, rl))
        runs.append((ids.astype(np.int64),
                     rng.integers(1, max_tf, rl).astype(np.int64),
                     rng.integers(1, max_dl, rl).astype(np.int64)))
    return runs


def _reference_blocks(runs, shard, bsz, avgdl, params):
    ref = []
    for i, (ids, tfs, dls) in enumerate(runs):
        ref.extend(encode_blocks(ids, tfs, dls, shard, f"t{i}", bsz, avgdl,
                                 params))
    return ref


def _assert_blocks_equal(ref, got: dict):
    """Per-run reference blocks == a SEGMENTS column dict, row by row."""
    assert len(got["n"]) == len(ref)
    for k in _SEG_COLS:
        assert [r[k] for r in ref] == got[k], k


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=2**31), st.integers(0, 10_000))
def test_encode_runs_matches_encode_blocks(seed, extra):
    """The vectorized whole-group encoder (encode_runs_arrow) must be
    BYTE-identical to the per-run reference (encode_blocks) — same
    metadata, same widths, same packed payloads — across Zipf-ish run
    length mixes, huge deltas/dls, and partial unaligned blocks."""
    import pyarrow as pa

    from pdx_spark.functions.blocks import encode_runs_arrow

    rng = np.random.default_rng(seed)
    params, avgdl, bsz = BM25Params(), 37.5, 16
    runs = _random_runs(rng, int(rng.integers(1, 40)), 200,
                        1 + extra + int(rng.integers(1, 10**6)), 1000, 10**7)
    lens = np.array([len(r[0]) for r in runs], dtype=np.int64)
    ends = np.cumsum(lens)
    vocab = pa.array([f"t{i}" for i in range(len(runs))])
    got = encode_runs_arrow(
        np.concatenate([r[0] for r in runs]),
        np.concatenate([r[1] for r in runs]),
        np.concatenate([r[2] for r in runs]), ends - lens, ends,
        lambda rob: vocab.take(pa.array(rob)), 5, bsz, avgdl, params)
    _assert_blocks_equal(_reference_blocks(runs, 5, bsz, avgdl, params),
                         got.to_pydict())


def test_encode_runs_empty_token_group():
    """A group whose docs have zero tokens encodes to zero blocks, through
    both encoder input adapters."""
    import pyarrow as pa

    from pdx_spark.config import IndexConfig
    from pdx_spark.operators.indexer import (_segment_encoder_docs,
                                             _segment_encoder_postings)

    cfg, params = IndexConfig(), BM25Params()
    docs = pa.table({"doc_id": pa.array([3, 4], pa.int64()),
                     "dl": pa.array([0, 0], pa.int32()),
                     "terms": pa.array([[], []], pa.list_(pa.string())),
                     "tfs": pa.array([[], []], pa.list_(pa.int32())),
                     "shard": pa.array([0, 0], pa.int64())})
    out = _segment_encoder_docs(cfg, 10.0, params)(docs)
    assert out.num_rows == 0 and out.column_names == list(_SEG_COLS)
    flat = pa.table({"term": pa.array([], pa.string()),
                     "doc_id": pa.array([], pa.int64()),
                     "tf": pa.array([], pa.int32()),
                     "dl": pa.array([], pa.int32()),
                     "shard": pa.array([], pa.int64())})
    assert _segment_encoder_postings(cfg, 10.0, params)(flat).num_rows == 0


@settings(max_examples=15, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_encode_runs_arrow_matches(seed):
    """The build's encoder core (indexer._encode_postings: dictionary
    encode -> lexsort -> encode_runs_arrow) over SHUFFLED flat postings
    must be byte-identical to per-run encode_blocks — the input order a
    shuffle or a decode delivers must not matter."""
    import pyarrow as pa

    from pdx_spark.config import IndexConfig
    from pdx_spark.operators.indexer import _encode_postings

    rng = np.random.default_rng(seed)
    params, avgdl, bsz = BM25Params(), 21.5, 16
    runs = _random_runs(rng, int(rng.integers(1, 30)), 150, 10**5, 500,
                        10**6)
    terms = np.concatenate([[f"t{i}"] * len(r[0])
                            for i, r in enumerate(runs)])
    cols = [np.concatenate([r[j] for r in runs]) for j in range(3)]
    perm = rng.permutation(len(terms))
    got = _encode_postings(
        pa.array(terms[perm]), cols[0][perm], cols[1][perm], cols[2][perm],
        9, IndexConfig(block_size=bsz), avgdl, params).to_pydict()
    ref = _reference_blocks(runs, 9, bsz, avgdl, params)
    # the core emits runs in dictionary (first-seen) order; compare as
    # (term, block_id)-keyed rows
    order = sorted(range(len(got["n"])),
                   key=lambda i: (got["term"][i], got["block_id"][i]))
    got = {k: [got[k][i] for i in order] for k in _SEG_COLS}
    ref.sort(key=lambda r: (r["term"], r["block_id"]))
    _assert_blocks_equal(ref, got)


def _random_blocks(rng, n_blocks):
    """Random (bufs, widths, ns, values) with mixed widths, unaligned
    partial blocks, and zero-width blocks."""
    bufs, widths, ns, vals = [], [], [], []
    for _ in range(n_blocks):
        n = int(rng.integers(1, 40))
        w = int(rng.integers(0, 21))
        v = np.zeros(n, np.int64) if w == 0 else \
            rng.integers(0, 1 << w, size=n).astype(np.int64)
        bufs.append(pack(v, w))
        widths.append(w)
        ns.append(n)
        vals.append(v)
    return (np.array(bufs, dtype=object), np.array(widths, np.int64),
            np.array(ns, np.int64), np.concatenate(vals))


def _unpack_view(bufs, widths, ns):
    """unpack_rows_view over the Arrow payload view of per-block bufs."""
    import pyarrow as pa

    from pdx_spark.functions.blocks import (_view_boff, payload_view,
                                            unpack_rows_view)
    view = payload_view(pa.array(list(bufs), type=pa.binary()))
    return unpack_rows_view(view[0], _view_boff(view, widths, ns),
                            widths, ns)


def test_unpack_rows_matches_per_block_unpack():
    """Word-gather unpack_rows_view == per-block unpack() on mixed
    widths, including unaligned partial blocks and zero-width blocks."""
    rng = np.random.default_rng(7)
    for trial in range(20):
        bufs, widths, ns, want = _random_blocks(rng, int(rng.integers(1, 60)))
        got = _unpack_view(bufs, widths, ns)
        assert np.array_equal(got, want), trial
    # empty input
    assert len(_unpack_view(np.array([], dtype=object),
                            np.array([], np.int64),
                            np.array([], np.int64))) == 0


def test_unpack_rows_rejects_length_mismatch():
    """Every cell's length is checked, not only the total: one stray
    byte, and one byte shifted between two cells (same total), both
    raise."""
    import pytest
    bufs = np.array([pack(np.array([3, 1], np.int64), 4) + b"x"],
                    dtype=object)  # one stray byte
    with pytest.raises(ValueError):
        _unpack_view(bufs, np.array([4], np.int64), np.array([2], np.int64))
    a = pack(np.array([3, 1, 2], np.int64), 8)
    b = pack(np.array([5, 6, 7], np.int64), 8)
    skewed = np.array([a + b[:1], b[1:]], dtype=object)
    with pytest.raises(ValueError):
        _unpack_view(skewed, np.array([8, 8], np.int64),
                     np.array([3, 3], np.int64))


def test_unpack_rows_rejects_width_above_57():
    """A width whose value window cannot fit one uint64 word is outside
    the format: it raises instead of decoding."""
    import pytest
    n, w = 2, 60
    bufs = np.array([bytes((n * w + 7) // 8)], dtype=object)
    with pytest.raises(ValueError, match="bit width"):
        _unpack_view(bufs, np.array([w], np.int64), np.array([n], np.int64))


def test_decode_term_run_views_matches_bufs():
    """Arrow-view decode (BinaryArray buffers, incl. a SLICED array with
    offset != 0) over several term runs at once reproduces every run's
    ids, tfs and dls (the cross-run stitch)."""
    import pyarrow as pa
    from pdx_spark.functions.blocks import (decode_term_run_views,
                                            payload_view)
    rng = np.random.default_rng(11)
    params, avgdl = BM25Params(), 33.0
    # several term runs over one doc range, concatenated as one
    # (term, first_doc)-sorted frame
    rows = {k: [] for k in ("ids", "tfs", "dls", "ibw", "tbw", "dbw",
                            "n", "fd", "ld")}
    per_run = []
    for r in range(6):
        rl = int(rng.integers(1, 300))
        ids = np.cumsum(rng.integers(1, 50, rl)).astype(np.int64)
        tfs = rng.integers(1, 30, rl).astype(np.int64)
        dls = rng.integers(1, 900, rl).astype(np.int64)
        blocks = encode_blocks(ids, tfs, dls, shard=0, term=f"t{r}",
                               block_size=32, avgdl=avgdl, params=params)
        per_run.append((ids, tfs, dls, blocks))
        for b in blocks:
            rows["ids"].append(b["ids"]); rows["tfs"].append(b["tfs"])
            rows["dls"].append(b["dls"]); rows["ibw"].append(b["ids_bw"])
            rows["tbw"].append(b["tfs_bw"]); rows["dbw"].append(b["dls_bw"])
            rows["n"].append(b["n"]); rows["fd"].append(b["first_doc"])
            rows["ld"].append(b["last_doc"])
    as_np = {k: np.array(v, dtype=object if k in ("ids", "tfs", "dls")
                         else np.int64) for k, v in rows.items()}
    # ground truth: every run's postings concatenated
    want_i = np.concatenate([r[0] for r in per_run])
    want_t = np.concatenate([r[1] for r in per_run])
    want_d = np.concatenate([r[2] for r in per_run])
    # Arrow-view path over ALL runs at once, including a sliced array
    # (offset != 0)
    for do_slice in (False, True):
        views = []
        for k in ("ids", "tfs", "dls"):
            cells = list(as_np[k])
            if do_slice:  # offset != 0: cell starts are not at byte 0
                arr = pa.array([b"PADCELL"] + cells, type=pa.binary()).slice(1)
            else:
                arr = pa.array(cells, type=pa.binary())
            views.append(payload_view(arr))
        vi, vt, vd = decode_term_run_views(
            views[0], views[1], views[2], as_np["ibw"], as_np["tbw"],
            as_np["dbw"], as_np["n"], as_np["fd"], as_np["ld"])
        assert np.array_equal(vi, want_i), do_slice
        assert np.array_equal(vt, want_t), do_slice
        assert np.array_equal(vd, want_d), do_slice


def _segments_batch(blocks, lead_pad: bool = False):
    """SEGMENTS-schema RecordBatch of encode_blocks rows. lead_pad=True
    prepends a junk row and slices it off, so every column (payload
    BinaryArrays included) carries a non-zero Arrow offset."""
    import pyarrow as pa
    types = {"term": pa.string(), "shard": pa.int64(), "first_doc": pa.int64(),
             "last_doc": pa.int64(), "gmax": pa.float64(),
             "ids": pa.binary(), "tfs": pa.binary(), "dls": pa.binary()}
    rows = list(blocks)
    if lead_pad:
        rows = [dict(rows[0], term="PAD", ids=b"PADCELL", tfs=b"PADCELL",
                     dls=b"PADCELL")] + rows
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[k] for r in rows], types.get(k, pa.int32()))
         for k in _SEG_COLS], names=list(_SEG_COLS))
    return batch.slice(1) if lead_pad else batch


def _decode_rows_reference(blocks):
    terms, ids, tfs, dls = [], [], [], []
    for b in blocks:
        i, t, d = decode_block(b)
        terms += [b["term"]] * len(i)
        ids.append(i); tfs.append(t); dls.append(d)
    return terms, np.concatenate(ids), np.concatenate(tfs), \
        np.concatenate(dls)


def test_decode_blocks_arrow_matches_decode_block():
    """decode_blocks_arrow == per-row decode_block on randomized blocks:
    mixed widths (huge gaps, tf/dl ranges), width-0 streams (all-1 tfs,
    single-posting blocks, zero dls), unsorted block order, and a sliced
    batch with a non-zero Arrow offset."""
    from pdx_spark.functions.blocks import decode_blocks_arrow
    rng = np.random.default_rng(3)
    params = BM25Params()
    for trial in range(12):
        blocks = []
        for r in range(int(rng.integers(1, 25))):
            rl = int(np.clip(rng.zipf(1.3), 1, 90))
            ids = np.cumsum(rng.integers(1, int(rng.choice([2, 50, 10**9])),
                                         rl)).astype(np.int64)
            tfs = np.ones(rl, np.int64) if rng.random() < 0.3 else \
                rng.integers(1, 1 << int(rng.integers(1, 20)), rl)
            dls = np.zeros(rl, np.int64) if rng.random() < 0.2 else \
                rng.integers(1, 1 << int(rng.integers(1, 30)), rl)
            blocks += encode_blocks(ids, tfs.astype(np.int64), dls, 0,
                                    f"t{r}", int(rng.choice([1, 8, 16])),
                                    20.0, params)
        blocks = [blocks[i] for i in rng.permutation(len(blocks))]
        terms, ids, tfs, dls = _decode_rows_reference(blocks)
        for pad in (False, True):
            got = decode_blocks_arrow(_segments_batch(blocks, pad))
            assert got.schema.names == ["term", "doc_id", "tf", "dl"]
            assert got.column("term").to_pylist() == terms, (trial, pad)
            assert np.array_equal(got.column("doc_id").to_numpy(), ids)
            assert np.array_equal(got.column("tf").to_numpy(), tfs)
            assert np.array_equal(got.column("dl").to_numpy(), dls)


def test_decode_blocks_arrow_rejects_length_mismatch():
    """A payload cell whose length disagrees with ceil(n * width / 8)
    must raise, never decode silently wrong."""
    import pytest

    from pdx_spark.functions.blocks import decode_blocks_arrow
    blocks = encode_blocks(np.array([5, 9, 40], np.int64),
                           np.array([1, 3, 2], np.int64),
                           np.array([7, 8, 9], np.int64), 0, "t", 16, 8.0,
                           BM25Params())
    bad = [dict(blocks[0], tfs=blocks[0]["tfs"] + b"x")]
    with pytest.raises(ValueError, match="mismatch"):
        decode_blocks_arrow(_segments_batch(bad))


def test_payload_view_all_zero_width_batch():
    """A batch whose every block is zero-width has only empty payload
    cells. The Arrow spec allows a None values buffer there; pyarrow 16
    never produces one (its constructors reject it, and IPC and parquet
    reads return a 0-byte buffer), so this pins the 0-byte case: the
    view is all padding and the decode yields the constant values."""
    from pdx_spark.functions.blocks import decode_blocks_arrow, payload_view
    blocks = encode_blocks(np.array([11], np.int64), np.array([1], np.int64),
                           np.array([0], np.int64), 0, "t", 16, 8.0,
                           BM25Params()) * 3
    batch = _segments_batch(blocks)
    data, off = payload_view(batch.column("ids"))
    assert np.array_equal(off, [0, 0, 0, 0]) and not data.any()
    got = decode_blocks_arrow(batch)
    assert got.column("doc_id").to_pylist() == [11, 11, 11]
    assert got.column("tf").to_pylist() == [1, 1, 1]
    assert got.column("dl").to_pylist() == [0, 0, 0]


def test_topk_merge_pdf_matches_window_semantics():
    """Driver-side merge == (score desc, doc_id asc) window top-k per
    query, ties included deterministically."""
    import pandas as pd
    from pdx_spark.operators.searcher import Searcher
    rng = np.random.default_rng(5)
    n = 500
    pdf = pd.DataFrame({
        "query_id": pd.Series(rng.integers(0, 9, n), dtype="int32"),
        "doc_id": pd.Series(rng.choice(10_000, n, replace=False),
                            dtype="int64"),
        # few distinct scores -> plenty of ties
        "score": pd.Series(rng.integers(0, 5, n) / 2.0, dtype="float64")})
    live = [(q, ["t"], int(rng.integers(1, 8))) for q in range(9)]
    got = Searcher._topk_merge_pdf([pdf], live)
    kmap = dict((q, k) for q, _, k in live)
    want = (pdf.sort_values(["query_id", "score", "doc_id"],
                            ascending=[True, False, True])
            .groupby("query_id", sort=True)
            .apply(lambda g: g.head(kmap[int(g.name)]))
            .reset_index(drop=True))
    assert len(got) == len(want)
    assert np.array_equal(got["query_id"].to_numpy(),
                          want["query_id"].to_numpy())
    assert np.array_equal(got["doc_id"].to_numpy(),
                          want["doc_id"].to_numpy())
    assert np.array_equal(got["score"].to_numpy(),
                          want["score"].to_numpy())
