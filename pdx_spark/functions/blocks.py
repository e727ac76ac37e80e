"""Posting-block codec: delta-encoded doc ids + per-block bit-packed
parallel arrays (ids / tfs / dls), plus block-max metadata.

This is the engine's PDX layout (reference: transposed fixed-capacity
cluster buffers, /root/reference/include/pdx/layout.hpp:20-87 and
cluster.hpp:17-105): a posting list is partition-decomposed into fixed
size blocks; within a block the attributes are stored as parallel packed
arrays ("vertical" decomposition), and each block carries the metadata
(first/last doc, max tf, min dl, gmax) that the pruned scan uses to skip
it — the role ADSampling thresholds play in the reference
(adsampling.hpp:91-98).

Pure numpy; runs inside Arrow-batched UDFs. Bit widths are per-block
(frame-of-reference style), chosen from the block's actual value range.
"""

from __future__ import annotations

import numpy as np

from pdx_spark.config import BM25Params
from pdx_spark.functions.bm25 import tfnorm_np


def bit_width(values: np.ndarray) -> int:
    if len(values) == 0:
        return 0
    m = int(values.max())
    return m.bit_length() if m > 0 else 0


def pack(values: np.ndarray, width: int) -> bytes:
    """Bit-pack uint64 values at `width` bits each, little-endian bit order."""
    if width == 0:
        return b""
    v = values.astype(np.uint64, copy=False)
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8).ravel()
    pad = (-len(bits)) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, np.uint8)])
    return np.packbits(bits, bitorder="little").tobytes()


def unpack(buf: bytes, width: int, n: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.int64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8),
                         bitorder="little")[: n * width]
    bits = bits.reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts).sum(axis=1, dtype=np.uint64).astype(np.int64)


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  shard: int, term: str, block_size: int,
                  avgdl: float, params: BM25Params) -> list[dict]:
    """One (term, shard) posting run (doc_ids strictly increasing) ->
    list of SEGMENTS-schema dicts."""
    out = []
    n = len(doc_ids)
    for b, start in enumerate(range(0, n, block_size)):
        ids = doc_ids[start:start + block_size].astype(np.int64)
        tf = tfs[start:start + block_size].astype(np.int64)
        dl = dls[start:start + block_size].astype(np.int64)
        first, last = int(ids[0]), int(ids[-1])
        deltas = np.diff(ids, prepend=first)          # deltas[0] == 0
        tfm1 = tf - 1                                  # tf >= 1 always
        g = tfnorm_np(tf, dl, avgdl, params)
        ids_bw, tfs_bw, dls_bw = bit_width(deltas), bit_width(tfm1), bit_width(dl)
        out.append({
            "term": term, "shard": int(shard), "block_id": int(b),
            "n": int(len(ids)), "first_doc": first, "last_doc": last,
            "max_tf": int(tf.max()), "min_dl": int(dl.min()),
            "gmax": float(g.max()),
            "ids_bw": ids_bw, "tfs_bw": tfs_bw, "dls_bw": dls_bw,
            "ids": pack(deltas, ids_bw), "tfs": pack(tfm1, tfs_bw),
            "dls": pack(dl, dls_bw),
        })
    return out


def _bit_length_np(m: np.ndarray) -> np.ndarray:
    """Exact per-element int bit_length (m >= 0). Binary-search shifts —
    6 vectorized passes, no float round-trip (a log2-based width could
    under- or over-shoot near 2^53 and silently change the file format)."""
    m = m.astype(np.uint64, copy=True)
    w = np.zeros(len(m), np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = m >= (np.uint64(1) << np.uint64(s))
        w[big] += s
        m[big] >>= np.uint64(s)
    w += (m > 0)
    return w


def _pack_streams_buf(vals: np.ndarray, bw: np.ndarray, bn: np.ndarray,
                      bstart: np.ndarray):
    """Bit-pack every block of one value stream at its own width, in one
    vectorized pass per DISTINCT width (mirror of unpack_rows_view's
    batching). Returns (data, blen): one contiguous uint8 buffer holding
    every block's packed payload in block order, plus per-block byte
    lengths — ready to wrap as an Arrow BinaryArray with zero per-block
    Python bytes objects. Payload bytes are identical to per-block
    pack() — gated by tests/test_blocks.py equivalence suites."""
    blen = (bn * bw + 7) // 8
    boff = np.cumsum(blen) - blen
    data = np.zeros(int(blen.sum()), dtype=np.uint8)
    for w in np.unique(bw):
        w = int(w)
        if w == 0:
            continue
        idx = np.nonzero(bw == w)[0]
        nvals = bn[idx]
        reps_off = np.concatenate([[0], np.cumsum(nvals)])[:-1]
        inpos = np.arange(int(nvals.sum())) - np.repeat(reps_off, nvals)
        vidx = bstart[idx].repeat(nvals) + inpos
        v = vals[vidx].astype(np.uint64)
        shifts = np.arange(w, dtype=np.uint64)
        bits = ((v[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
        gblen = blen[idx]
        gbase_bits = (np.cumsum(gblen) - gblen) * 8
        vbase = np.repeat(gbase_bits, nvals) + inpos * w
        out = np.zeros(int(gblen.sum()) * 8, dtype=np.uint8)
        dst = vbase[:, None] + np.arange(w, dtype=np.int64)
        out[dst.ravel()] = bits.ravel()
        packed = np.packbits(out, bitorder="little")
        # scatter the group's packed bytes to their block-order offsets
        goff = np.cumsum(gblen) - gblen
        dstb = np.repeat(boff[idx] - goff, gblen) \
            + np.arange(len(packed), dtype=np.int64)
        data[dstb] = packed
    return data, blen


def encode_runs_arrow(doc_ids: np.ndarray, tfs: np.ndarray,
                      dls: np.ndarray, run_starts: np.ndarray,
                      run_ends: np.ndarray, term_values,
                      shard: int, block_size: int, avgdl: float,
                      params: BM25Params):
    """Encode EVERY (term) posting run of one shard group at once — the
    vectorized whole-group form of encode_blocks (which remains the
    one-run reference the equivalence tests pin this against). Inputs
    are the group's postings sorted by (run, doc_id), run r spanning
    [run_starts[r], run_ends[r]). Returns a pyarrow.RecordBatch in
    SEGMENTS column order with the packed payloads wrapped as
    BinaryArrays over one contiguous buffer per stream (no per-block
    Python loop, no per-block bytes). `term_values(run_of_block) ->
    pa.Array` supplies the term column (callers map dictionary codes
    through a take)."""
    import pyarrow as pa

    B = block_size
    doc_ids = doc_ids.astype(np.int64, copy=False)
    tfs = tfs.astype(np.int64, copy=False)
    dls = dls.astype(np.int64, copy=False)
    rl = run_ends - run_starts
    nb = -(-rl // B)
    total_blocks = int(nb.sum())
    run_of_block = np.repeat(np.arange(len(rl), dtype=np.int64), nb)
    first_block_of_run = np.cumsum(nb) - nb
    within = np.arange(total_blocks, dtype=np.int64) \
        - first_block_of_run[run_of_block]
    bstart = run_starts[run_of_block] + within * B
    bend = np.minimum(bstart + B, run_ends[run_of_block])
    bn = bend - bstart

    g = tfnorm_np(tfs, dls, avgdl, params)
    deltas = np.empty(len(doc_ids), dtype=np.int64)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[bstart] = 0
    tfm1 = tfs - 1
    ids_bw = _bit_length_np(np.maximum.reduceat(deltas, bstart))
    tfs_bw = _bit_length_np(np.maximum.reduceat(tfm1, bstart))
    dls_bw = _bit_length_np(np.maximum.reduceat(dls, bstart))

    def _binary(vals, bw):
        data, blen = _pack_streams_buf(vals, bw, bn, bstart)
        offsets = np.zeros(total_blocks + 1, dtype=np.int32)
        np.cumsum(blen, out=offsets[1:])
        return pa.Array.from_buffers(
            pa.binary(), total_blocks,
            [None, pa.py_buffer(offsets), pa.py_buffer(data)])

    return pa.RecordBatch.from_arrays([
        term_values(run_of_block),
        pa.array(np.full(total_blocks, shard, dtype=np.int64)),
        pa.array(within.astype(np.int32)),
        pa.array(bn.astype(np.int32)),
        pa.array(doc_ids[bstart]),
        pa.array(doc_ids[bend - 1]),
        pa.array(np.maximum.reduceat(tfs, bstart).astype(np.int32)),
        pa.array(np.minimum.reduceat(dls, bstart).astype(np.int32)),
        pa.array(np.maximum.reduceat(g, bstart)),
        pa.array(ids_bw.astype(np.int32)),
        pa.array(tfs_bw.astype(np.int32)),
        pa.array(dls_bw.astype(np.int32)),
        _binary(deltas, ids_bw), _binary(tfm1, tfs_bw),
        _binary(dls, dls_bw),
    ], names=["term", "shard", "block_id", "n", "first_doc", "last_doc",
              "max_tf", "min_dl", "gmax", "ids_bw", "tfs_bw", "dls_bw",
              "ids", "tfs", "dls"])


def unpack_rows_view(data: np.ndarray, boff: np.ndarray,
                     widths: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Decode a sequence of packed blocks into ONE concatenated int64
    array, order preserved. `data` is a uint8 array holding every
    block's packed payload (block i at byte offset boff[i], boff need
    not start at 0), padded with >= 8 zero bytes past the last block —
    for Arrow BinaryArray columns (values buffer, offsets) come straight
    from the record batch (payload_view, _view_boff), so no per-block
    Python bytes objects exist.

    Word-gather decode: each width group's values are read as
    little-endian byte windows gathered straight out of `data` —
    (w+14)//8 fancy-gathers per group, no unpackbits, no bit matrix,
    and no per-block calls at all. The unpackbits-based path it
    replaced paid numpy's fixed cost once per UNALIGNED block (any
    run-final partial block), which on real Zipf runs (~2.4
    blocks/run) was ~40% of all blocks — measured 2.6 of 10 CPU-s on an
    800-query batch. Integer arithmetic throughout; bit-identical to
    per-block unpack() (equivalence-suite pinned). A width above 57 (a
    value window no longer fits one uint64 word) is outside the format
    and raises: widths are read from files."""
    ns = ns.astype(np.int64, copy=False)
    widths = widths.astype(np.int64, copy=False)
    boff = boff.astype(np.int64, copy=False)
    total = int(ns.sum())
    out = np.empty(total, dtype=np.int64)
    ends = np.cumsum(ns)
    starts = ends - ns
    for w in np.unique(widths):
        w = int(w)
        sel = np.nonzero(widths == w)[0]
        nv = ns[sel]
        if w == 0:
            for i in sel:
                out[starts[i]:ends[i]] = 0
            continue
        if w > 57:
            raise ValueError(f"bit width {w} is outside the segment format")
        tot = int(nv.sum())
        within = np.arange(tot, dtype=np.int64) \
            - np.repeat(np.cumsum(nv) - nv, nv)
        bitoff = np.repeat(boff[sel] << 3, nv) + within * w
        byte = bitoff >> 3
        sh = (bitoff & 7).astype(np.uint64)
        acc = np.zeros(tot, dtype=np.uint64)
        for j in range((w + 14) >> 3):
            acc |= data[byte + j].astype(np.uint64) << np.uint64(8 * j)
        vals = ((acc >> sh) & np.uint64((1 << w) - 1)).astype(np.int64)
        dst = np.repeat(starts[sel], nv) + within
        out[dst] = vals
    return out


def payload_view(arr):
    """(padded data uint8, offsets int64[n+1]) view of a pyarrow
    Binary/String array — the per-cell payload bytes without ever
    materializing Python bytes objects. The data is copied once into a
    buffer padded with 8 zero bytes so the word-gather decode may read
    past the last cell. A batch whose cells are all empty (every block
    zero-width) may carry no values buffer at all."""
    import pyarrow as pa
    if arr.null_count:
        raise ValueError("segment payload column has nulls")
    large = pa.types.is_large_binary(arr.type) \
        or pa.types.is_large_string(arr.type)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1],
                        dtype=np.int64 if large else np.int32)[
        arr.offset: arr.offset + len(arr) + 1].astype(np.int64)
    end = int(off[-1])
    padded = np.zeros(end + 8, dtype=np.uint8)
    if bufs[2] is not None:
        padded[:end] = np.frombuffer(bufs[2], dtype=np.uint8)[:end]
    return padded, off


def _view_boff(view, bw: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Validate an Arrow payload view against the format (every cell's
    length must be exactly ceil(n*w/8) — anything else would decode
    silently wrong) and return the per-block start offsets."""
    _, off = view
    blen = (ns.astype(np.int64) * bw.astype(np.int64) + 7) >> 3
    if not np.array_equal(off[1:] - off[:-1], blen):
        raise ValueError("payload cell lengths mismatch (n, width)")
    return off[:-1]


def decode_term_run_views(ids_view, tfs_view, dls_view,
                          ids_bw, tfs_bw, dls_bw,
                          ns, first_doc, last_doc):
    """Decode a (term, first_doc)-sorted run of blocks into (doc_ids,
    tfs, dls) concatenated across the blocks — decode_block row by row,
    bit-identical output. Each *_view is a (data uint8 padded, cell
    offsets int64[n+1]) pair straight from a BinaryArray's (values,
    offsets) buffers — no Python bytes objects anywhere.

    Per-block delta chains restart at each block's first_doc; after
    concatenation the chain is stitched by patching each block's leading
    delta (0 by construction) to first_doc[i] - last_doc[i-1], so ONE
    cumsum reproduces every block's absolute ids."""
    deltas = unpack_rows_view(ids_view[0], _view_boff(ids_view, ids_bw, ns),
                              ids_bw, ns)
    ns = ns.astype(np.int64, copy=False)
    starts = np.cumsum(ns) - ns
    patch = first_doc.astype(np.int64, copy=True)
    patch[1:] -= last_doc[:-1]
    deltas[starts] += patch
    doc_ids = np.cumsum(deltas)
    tfs = unpack_rows_view(tfs_view[0], _view_boff(tfs_view, tfs_bw, ns),
                           tfs_bw, ns) + 1
    dls = unpack_rows_view(dls_view[0], _view_boff(dls_view, dls_bw, ns),
                           dls_bw, ns)
    return doc_ids, tfs, dls


def decode_blocks_arrow(batch):
    """SEGMENTS RecordBatch -> RecordBatch(term, doc_id, tf, dl) of every
    block's postings in block order: decode_block row by row, vectorized
    over the whole batch (bit-identical output). Payloads decode straight
    from the BinaryArray buffers; _view_boff rejects any cell whose
    length disagrees with (n, width). Each block's delta chain restarts
    at its own first_doc, so blocks need not share a term or be sorted."""
    import pyarrow as pa

    def ints(name):
        return batch.column(name).to_numpy(zero_copy_only=False) \
            .astype(np.int64)

    ns = ints("n")

    def stream(name):
        view, bw = payload_view(batch.column(name)), ints(name + "_bw")
        return unpack_rows_view(view[0], _view_boff(view, bw, ns), bw, ns)

    deltas = stream("ids")
    cs = np.cumsum(deltas)
    before = np.concatenate([[0], cs])[np.cumsum(ns) - ns]
    doc_ids = cs + np.repeat(ints("first_doc") - before, ns)
    block_of = np.repeat(np.arange(len(ns), dtype=np.int64), ns)
    return pa.RecordBatch.from_arrays(
        [batch.column("term").take(pa.array(block_of)),
         pa.array(doc_ids),
         pa.array((stream("tfs") + 1).astype(np.int32)),
         pa.array(stream("dls").astype(np.int32))],
        names=["term", "doc_id", "tf", "dl"])


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """SEGMENTS row (dict-like / pandas row) -> (doc_ids, tfs, dls)."""
    n = int(row["n"])
    deltas = unpack(row["ids"], int(row["ids_bw"]), n)
    doc_ids = int(row["first_doc"]) + np.cumsum(deltas)
    tfs = unpack(row["tfs"], int(row["tfs_bw"]), n) + 1
    dls = unpack(row["dls"], int(row["dls_bw"]), n)
    return doc_ids, tfs, dls
