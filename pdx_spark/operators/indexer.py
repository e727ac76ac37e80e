"""Index build pipeline (the analog of PDXIndex::BuildIndex,
/root/reference/include/pdx/index.hpp:335-403).

A one-chunk build is the index's first append (Delta Lake's table
creation as commit 0; PDX's clusters built by its append kernels): an
empty manifest, Maintainer._ingest into the base dir names on the site
Maintainer._append_site picks, one commit. An input whose plan estimate
fits _ROUTED_TASK_BYTES on a local fs builds in the driver (one Spark
job, no Python task); any other runs the same steps as Spark jobs,
never caching the input. Only `n_chunks` > 1 runs the staged dataflow
(Python only inside the Arrow tokenize and encode):

  transcripts ->(assign_doc_ids)-> corpus+doc_id
     └── doc_postings (doc_id, dl, metadata, terms[], tfs[])  [postings_tmp]
            ├── docs side table (metadata + dl + text_hash)   [parquet]
            ├── corpus stats agg (N, sum_dl -> avgdl)         [manifest]
            └── + shard = doc_id / docs_per_shard
                -> shuffle by fgroup -> applyInArrow encode   [parquet]
                   └── stat_artifacts over the written blocks'
                       metadata (term, shard, n, max_tf, min_dl, gmax)
                          ├── term_stats                      [parquet]
                          └── directory (u8-quantized bounds) [parquet]

Skew: sharding is by *doc range*, so a Zipf-head term's postings spread
across all shards instead of hammering one reducer — the hot-term
analog of the reference's balanced cluster capacities (cluster.hpp:22).
No groupBy is keyed on raw postings: term_stats folds per-(term, shard)
block aggregates, so a head term contributes one row per shard.

Resumability (north rule): each of a staged build's `n_chunks`
doc-range chunks commits atomically (tmp dir -> rename) and is recorded
in the manifest with lineage + metrics; `resume=True` skips completed
chunks (Save/Restore, index.hpp:213-267). A one-chunk build commits
once, so a resumed one starts again.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdx_spark import schemas
from pdx_spark.config import BM25Params, IndexConfig, manifest_params
from pdx_spark.fs import IndexFS, LocalFS, index_fs, verify_single_rowgroup
from pdx_spark.functions.blocks import encode_runs_arrow
from pdx_spark.functions.quantize import (dir_quant_params, quantize_down_col,
                                          quantize_down_np, quantize_up_col,
                                          quantize_up_np)
from pdx_spark.operators import corpus as C

MANIFEST = "manifest.json"

# One row group per segment file is the map-scan exactness invariant
# (fs.verify_single_rowgroup): files are tens of MB, so a 1 GiB parquet
# row-group target guarantees the writer never splits one mid-file.
PARQUET_BLOCK_SIZE = str(1 << 30)


def write_directory_rows(rows: DataFrame, final: str,
                         fs: IndexFS | None = None, *,
                         cached: bool = False,
                         bounds: tuple | None = None) -> dict:
    """Quantize + atomically write pre-aggregated directory rows
    (term, shard, n_blocks, n_postings, max_tf, min_dl — the bound
    columns may be int or already-dequantized doubles; ceil/floor
    quantization keeps either admissible). Returns the affine params.
    cached=True: the caller already persisted+materialized an ancestor
    frame, so the double pass here (params agg, then write) is cheap —
    skip the redundant second persist. `bounds` short-circuits the
    params agg with a precomputed (tf_lo, tf_hi, dl_lo, dl_hi) tuple
    (None values = empty set), saving one Spark job when the caller's
    cache-materializing action already produced the extrema."""
    if not cached:
        rows = rows.persist()
    params = dir_quant_params(*(bounds or _dir_bounds(rows)))
    q = rows.select(
        "term", "shard", "n_blocks", "n_postings",
        quantize_up_col(F.col("max_tf"), params["tf_base"],
                        params["tf_scale"]).cast("short").alias("max_tf_q"),
        quantize_down_col(F.col("min_dl"), params["dl_base"],
                          params["dl_scale"]).cast("short").alias("min_dl_q"))
    fs = fs or LocalFS()
    tmp = final + ".tmp"
    # range-partition by term: the planner's per-batch directory slice
    # (filter term.isin(query terms)) then prunes whole FILES/row groups,
    # so planning cost tracks the query's term count, not corpus size
    (q.repartitionByRange("term", "shard")
     .sortWithinPartitions("term", "shard")
     .write.mode("overwrite").parquet(tmp))
    if not cached:
        rows.unpersist()
    fs.rename(tmp, final)
    return params


def _dir_bounds(rows: DataFrame) -> tuple:
    """(tf_lo, tf_hi, dl_lo, dl_hi) of directory rows in one agg job;
    all None for an empty set."""
    return tuple(rows.agg(F.min("max_tf"), F.max("max_tf"),
                          F.min("min_dl"), F.max("min_dl")).collect()[0])


# row cap for the driver-side half of stat_artifacts: segment-metadata
# sets of at most this many BLOCK rows are read back with pyarrow and
# their term_stats/directory artifacts are computed + written driver-
# side — zero Spark jobs instead of a scan, two aggs and two write jobs
# of fixed latency each. Above the cap, or on a remote fs, the Spark
# half runs (bounded-driver-work-with-distributed-fallback, the
# searcher's _plan_slice discipline). 4M block rows ≈ a few seconds of
# pandas groupby — bench-scale indexes and delta appends are far below
# it; a 100 TB base is far above.
_STATS_LOCAL_CAP_ROWS = 4_000_000

# row-group size for driver-written stat artifacts: term-sorted row
# groups this size give the pyarrow planner (_plan_slice, _idf_lookup)
# footer-stat pruning at ~the same granularity as the Spark path's
# range-partitioned files
_STATS_ROW_GROUP = 16384


def stat_artifacts(spark, fs: IndexFS, seg_dirs: list[str], ts_final: str,
                   dir_final: str) -> dict:
    """term_stats + directory (2-level routing, L0 analog; u8-quantized
    bound metadata — the SQ8 half, scalar.hpp:60-106) of the WRITTEN
    segments in `seg_dirs`, derived from their block metadata columns
    (term, shard, n, max_tf, min_dl, gmax) — payload bytes are never
    read: df = Σ block n per term, term max_tf/gmax = max over blocks
    (the same doubles the encoder computed at the same avgdl), and
    directory rows = per-(term, shard) block aggregates with ceil/floor
    u8 bounds. The one derivation behind build stage C, append's delta
    artifacts and compact()'s new base. Each artifact lands via tmp ->
    rename. Returns the directory's affine params.

    The input picks the half: stat_artifacts_local on a local fs up to
    _STATS_LOCAL_CAP_ROWS block rows, else one Spark aggregate of the
    same columns. Both write equal rows and params."""
    params = stat_artifacts_local(fs, seg_dirs, ts_final, dir_final)
    if params is not None:
        return params
    seg = (spark.read.schema(schemas.SEGMENTS)
           .option("recursiveFileLookup", "true").parquet(*seg_dirs))
    base = (seg.groupBy("term", "shard")
            .agg(F.count("*").cast("int").alias("n_blocks"),
                 F.sum("n").cast("long").alias("n_postings"),
                 F.max("max_tf").cast("int").alias("max_tf"),
                 F.min("min_dl").cast("int").alias("min_dl"),
                 F.max("gmax").alias("gmax"))
            .persist())
    try:
        # materialize the shared partial agg ONCE (one scan of the
        # segment metadata columns); the materializing action IS the
        # directory's quantization-bounds agg. The two artifacts then
        # write from executor cache as CONCURRENT jobs: they are
        # independent, and sequentially each paid its own fixed job
        # latency on top of the other's.
        bounds = _dir_bounds(base)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_dir = pool.submit(
                write_directory_rows,
                base.select("term", "shard", "n_blocks", "n_postings",
                            "max_tf", "min_dl"),
                dir_final, fs, cached=True, bounds=bounds)
            ts = (base.groupBy("term")
                  .agg(F.sum("n_postings").cast("long").alias("df"),
                       F.max("max_tf").cast("int").alias("max_tf"),
                       F.max("gmax").alias("gmax")))
            tmp = ts_final + ".tmp"
            ts.sort("term").write.mode("overwrite").parquet(tmp)
            if fs.exists(ts_final):
                fs.delete(ts_final)
            fs.rename(tmp, ts_final)
            return f_dir.result()
    finally:
        base.unpersist()


def stat_artifacts_local(fs: IndexFS, seg_dirs: list[str], ts_final: str,
                         dir_final: str) -> dict | None:
    """stat_artifacts' driver half: a pyarrow column-pruned read of the
    segment metadata, pandas groupbys, and term-sorted parquet with
    _STATS_ROW_GROUP row groups. Returns the directory's affine params,
    or None when it does not apply (remote fs, or more block rows than
    _STATS_LOCAL_CAP_ROWS)."""
    if not fs.is_local:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, total_rows = [], 0
    for d in seg_dirs:
        for f, _ in fs.parquet_files(d):
            files.append(f)
            total_rows += pq.ParquetFile(f).metadata.num_rows
            if total_rows > _STATS_LOCAL_CAP_ROWS:
                return None
    cols = ["term", "shard", "n", "max_tf", "min_dl", "gmax"]
    tab = pa.concat_tables([pq.read_table(f, columns=cols)
                            for f in files]) \
        if files else pa.table({c: [] for c in cols})
    pdf = tab.to_pandas()

    gd = pdf.groupby(["term", "shard"], sort=True, as_index=False).agg(
        n_blocks=("n", "size"), n_postings=("n", "sum"),
        max_tf=("max_tf", "max"), min_dl=("min_dl", "min"),
        gmax=("gmax", "max"))

    gt = gd.groupby("term", sort=True, as_index=False).agg(
        df=("n_postings", "sum"), max_tf=("max_tf", "max"),
        gmax=("gmax", "max"))
    ts = pa.table({
        "term": pa.array(gt["term"], pa.string()),
        "df": pa.array(gt["df"].to_numpy().astype(np.int64)),
        "max_tf": pa.array(gt["max_tf"].to_numpy().astype(np.int32)),
        "gmax": pa.array(gt["gmax"].to_numpy().astype(np.float64))})
    write_table_local(fs, ts, ts_final, row_group_size=_STATS_ROW_GROUP)

    params = dir_quant_params(*(
        (gd["max_tf"].min(), gd["max_tf"].max(),
         gd["min_dl"].min(), gd["min_dl"].max()) if len(gd) else [None] * 4))
    dirt = pa.table({
        "term": pa.array(gd["term"], pa.string()),
        "shard": pa.array(gd["shard"].to_numpy().astype(np.int64)),
        "n_blocks": pa.array(gd["n_blocks"].to_numpy().astype(np.int32)),
        "n_postings": pa.array(gd["n_postings"].to_numpy()
                               .astype(np.int64)),
        "max_tf_q": pa.array(quantize_up_np(
            gd["max_tf"].to_numpy(), params["tf_base"],
            params["tf_scale"]).astype(np.int16)),
        "min_dl_q": pa.array(quantize_down_np(
            gd["min_dl"].to_numpy(), params["dl_base"],
            params["dl_scale"]).astype(np.int16))})
    write_table_local(fs, dirt, dir_final, row_group_size=_STATS_ROW_GROUP)
    return params


def write_table_local(fs: IndexFS, table, final: str, **write_kw) -> None:
    """One pyarrow Table, or a list of them (a file each), as the parquet
    files of the local dir `final`, through tmp-dir -> rename (the commit
    protocol of every Spark-written artifact). write_kw goes to
    pq.write_table. Only columns with at most half as many distinct
    values as rows get a dictionary: elsewhere (unique terms, payload
    blobs) PLAIN is smaller, and unlike Spark's writer pyarrow does not
    fall back to it by itself."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tmp = final + ".tmp"
    if fs.exists(tmp):
        fs.delete(tmp)
    os.makedirs(tmp)
    for i, t in enumerate(table if isinstance(table, list) else [table]):
        dictionary = [c for c in t.column_names
                      if 2 * pc.count_distinct(t[c]).as_py() <= t.num_rows]
        pq.write_table(t, os.path.join(tmp, f"part-{i:05d}.parquet"),
                       use_dictionary=dictionary, **write_kw)
    if fs.exists(final):
        fs.delete(final)
    fs.rename(tmp, final)


def _chunk_stats(spark, fs: IndexFS, seg_dir: str) -> dict:
    """Lineage metrics (block + posting counts) for a written chunk.
    Local: pure parquet metadata + a single-column pyarrow read — no
    Spark job (each job costs ~1-2s of fixed scheduling; at small
    chunks that overhead was a measurable serial fraction of the
    build). Remote: one Spark agg."""
    if fs.is_local:
        import pyarrow.parquet as pq
        blocks = postings = 0
        for f, _ in fs.parquet_files(seg_dir):
            md = pq.ParquetFile(f)
            blocks += md.metadata.num_rows
            tab = md.read(columns=["n"])
            postings += int(np.asarray(tab["n"]).sum()) if len(tab) else 0
        return {"blocks": int(blocks), "postings": int(postings)}
    row = (spark.read.schema(schemas.SEGMENTS)
           .option("recursiveFileLookup", "true").parquet(seg_dir)
           .agg(F.count("*").alias("b"), F.sum("n").alias("p")).collect()[0])
    return {"blocks": int(row["b"]), "postings": int(row["p"] or 0)}


def _write_manifest(path: str, manifest: dict,
                    fs: IndexFS | None = None) -> None:
    fs = fs or LocalFS()
    fs.write_text_atomic(IndexFS.join(path, MANIFEST),
                         json.dumps(manifest, indent=1, sort_keys=True))


def read_manifest(path: str, fs: IndexFS | None = None) -> dict:
    fs = fs or LocalFS()
    return json.loads(fs.read_text(IndexFS.join(path, MANIFEST)))


def _empty_segments():
    """A 0-row SEGMENTS table, typed (and nullable) as the encoder's."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    return pa.schema([f.with_nullable(True) for f in
                      to_arrow_schema(schemas.SEGMENTS)]).empty_table()


def _encode_postings(terms, doc_ids: np.ndarray, tfs: np.ndarray,
                     dls: np.ndarray, shard: int, cfg: IndexConfig,
                     avgdl: float, params: BM25Params):
    """The encoder core: ONE shard's flat postings (terms: an Arrow
    string array; doc_ids/tfs/dls: parallel int arrays, any order) ->
    SEGMENTS pyarrow.Table. dictionary_encode replaces a string sort (no
    per-token Python object is ever created), a numpy lexsort orders
    (term-code, doc), and blocks.encode_runs_arrow emits the packed
    blocks as one RecordBatch over contiguous binary buffers."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(terms) == 0:
        return _empty_segments()
    denc = pc.dictionary_encode(terms)
    codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vocab = denc.dictionary
    order = np.lexsort((doc_ids, codes))
    terms_c = codes[order]
    change = np.nonzero(terms_c[1:] != terms_c[:-1])[0] + 1
    starts = np.concatenate([[0], change]).astype(np.int64)
    ends = np.concatenate([change, [len(terms_c)]]).astype(np.int64)
    code_of_run = terms_c[starts]
    batch = encode_runs_arrow(
        doc_ids[order], tfs[order], dls[order], starts, ends,
        lambda run_of_block: vocab.take(pa.array(code_of_run[run_of_block])),
        shard, cfg.block_size, avgdl, params)
    return pa.Table.from_batches([batch])


def _segment_encoder_docs(cfg: IndexConfig, avgdl: float, params: BM25Params):
    """applyInArrow body over DOC-GROUPED postings (corpus.doc_postings),
    the build's and append's input: one shard's (doc_id, dl, terms[],
    tfs[]) rows, flattened Arrow-natively -> _encode_postings."""
    import pyarrow.compute as pc

    def fn(tab: "pa.Table") -> "pa.Table":
        if tab.num_rows == 0:
            return _empty_segments()
        lens = pc.list_value_length(tab.column("terms")).to_numpy() \
            .astype(np.int64)
        return _encode_postings(
            pc.list_flatten(tab.column("terms")).combine_chunks(),
            np.repeat(tab.column("doc_id").to_numpy(), lens),
            pc.list_flatten(tab.column("tfs")).to_numpy(),
            np.repeat(tab.column("dl").to_numpy(), lens),
            tab.column("shard")[0].as_py(), cfg, avgdl, params)
    return fn


def _segment_encoder_postings(cfg: IndexConfig, avgdl: float,
                              params: BM25Params):
    """applyInArrow body over FLAT decoded postings (term, doc_id, tf, dl,
    shard), compaction's input -> _encode_postings."""
    def fn(tab: "pa.Table") -> "pa.Table":
        if tab.num_rows == 0:
            return _empty_segments()
        return _encode_postings(
            tab.column("term").combine_chunks(),
            tab.column("doc_id").to_numpy(), tab.column("tf").to_numpy(),
            tab.column("dl").to_numpy(), tab.column("shard")[0].as_py(),
            cfg, avgdl, params)
    return fn


def encode_layout(spark, n_shards: int) -> tuple[int, int]:
    """(n_encode, spg): the encode shuffle's partitions and the shards
    per file group (fgroup = shard // spg) of the segment write over
    `n_shards` shards. Encode at ~4 partitions per core:
    segment files come out small enough that (a) the query-time
    map-scan gets several task waves (straggler smoothing — one file =
    one wave is the worst case) and (b) no file approaches the reader's
    split threshold (map-scan exactness invariant, searcher.py).

    Dense doc_ids (shards span the id high-water mark) make shard sizes
    ANALYTIC (docs_per_shard docs each), so file-group boundaries need
    no sampling: fgroup = shard // spg gives n_encode equal-width,
    contiguous shard ranges. A hash repartition on fgroup replaces
    repartitionByRange(shard), whose range-boundary sampling was a
    second FULL scan of its input (measured: the encode's input bytes
    were exactly 2x the cached frame at xbench). HashPartitioning(fgroup)
    still satisfies the groupBy(fgroup, shard) clustering (subset rule —
    no second shuffle), and write.partitionBy(fgroup) keeps the property
    the range partition existed for: every output FILE holds a
    contiguous shard range, so query-time shard routing (`shard IN
    (...)`) skips whole files via row-group stats — the physical
    substrate of the two-phase pruning win (reference: clusters ARE the
    I/O granularity, ivf_wrapper.hpp:15-38). Boundaries are
    deterministic, so the layout is reproducible run-to-run."""
    mult = int(os.environ.get("PDX_ENCODE_FILES_PER_CORE", "4"))
    n_encode = max(mult * spark.sparkContext.defaultParallelism,
                   int(spark.conf.get("spark.sql.shuffle.partitions", "8")))
    return n_encode, max(1, -(-n_shards // n_encode))


class Indexer:
    def __init__(self, spark, params: BM25Params | None = None,
                 cfg: IndexConfig | None = None):
        self.spark = spark
        self.params = params or BM25Params()
        self.cfg = cfg or IndexConfig()

    # -- paths -------------------------------------------------------------
    @staticmethod
    def _p(path, *parts):
        return IndexFS.join(path, *parts)

    # -- build -------------------------------------------------------------
    def build(self, transcripts: DataFrame, path: str, *,
              n_chunks: int = 1, resume: bool = False,
              store_positions: bool = False) -> dict:
        """Build a full index at `path` (any Spark-reachable URI; side
        artifacts go through the pdx_spark.fs seam); returns the manifest.
        One chunk: _build_one. `n_chunks` > 1: _build_staged, whose
        completed stages and chunks `resume=True` skips."""
        t0 = time.time()
        fs = self.fs = index_fs(self.spark, path)
        exists = fs.exists(self._p(path, MANIFEST))
        manifest = read_manifest(path, fs=fs) if resume and exists else None
        if manifest is None or (manifest["n_chunks"] == 1
                                and manifest["stage"] != "complete"):
            if exists:
                fs.delete(path)
            n_chunks = 1 if manifest else n_chunks
            manifest = {
                "format_version": self.cfg.format_version,
                "params": manifest_params(self.params, self.cfg),
                "stage": "init", "chunks": {}, "n_chunks": n_chunks,
                "segment_dirs": [], "deltas": [], "tombstones": 0,
                "docs_dirs": ["docs"], "ts_deltas": [], "dir_deltas": [],
                "seg_excludes": {}, "dead_docs": 0, "last_batch_id": -1,
                "gen": 0, "lineage": [], "n_docs": 0, "sum_dl": 0,
                "next_doc_id": 0, "seg_single_rg": True,
                **({"positions_dirs": ["positions/base"]}
                   if store_positions and n_chunks == 1 else {}),
            }
            _write_manifest(path, manifest, fs=fs)
            if n_chunks == 1:
                return self._build_one(transcripts, path, manifest, t0)
        return self._build_staged(transcripts, path, manifest, t0,
                                  store_positions)

    def _build_one(self, transcripts: DataFrame, path: str, manifest: dict,
                   t0: float) -> dict:
        """A one-chunk build: Maintainer._ingest into the empty index
        `manifest` describes, under the base dir names, on append's site
        (Spark for an empty input of unknown size), then ONE commit."""
        from pdx_spark.operators.maintenance import Maintainer
        from pdx_spark.operators.snapshot import one_task_site
        mt = Maintainer(self.spark, path)
        site = mt._append_site(transcripts) \
            or one_task_site(0, False, "input_bytes")
        stats, dq, timings = mt._ingest(site, transcripts, {
            "docs": "docs", "seg": "segments/base", "ts": "term_stats",
            "dir": "directory", "pos": "positions/base"}, cache_input=False)
        seg = self._p(path, "segments", "base")
        sec = round(time.time() - t0, 2)
        manifest.update(stats, stage="complete",
                        segment_dirs=["segments/base"],
                        dir_quant={"directory": dq})
        manifest["chunks"]["0"] = {"status": "done", "sec": sec,
                                   **_chunk_stats(self.spark, self.fs, seg)}
        manifest["lineage"].append({"stage": "build", "rows": stats["n_docs"],
                                    **site, "timings": timings, "sec": sec})
        _write_manifest(path, manifest, fs=self.fs)
        return manifest

    def _build_staged(self, transcripts: DataFrame, path: str,
                      manifest: dict, t0: float,
                      store_positions: bool) -> dict:
        """Stages A (ids, tokenize, docs, stats; postings_tmp), B (each
        doc-range chunk encoded and committed) and C (stat_artifacts),
        each committed, so a resumed build skips what is done."""
        fs, tmp_path = self.fs, self._p(path, "postings_tmp")
        if manifest["stage"] == "init":
            # ---- stage A: docs + stats, ONE pass over the text. The one
            # materialized intermediate is the postings, index-shaped
            # data, never a second copy of the corpus text ----
            timings = {}
            tt = time.time()
            with_ids = C.assign_doc_ids(transcripts)
            meta = with_ids.withColumn(
                "text_hash", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))))
            C.doc_postings(meta, extra_cols=C.DOC_META_COLS) \
                .write.mode("overwrite").parquet(tmp_path)
            dp = self.spark.read.parquet(tmp_path)
            # avgdl = exact-int sum / count, bit-identical to the
            # incremental update Maintainer.append performs (sum_dl is
            # the exactness carrier across appends/deletes)
            srow = dp.agg(F.count("*").alias("n"),
                          F.sum("dl").alias("s")).collect()[0]
            n_docs, sum_dl = int(srow["n"]), int(srow["s"] or 0)
            timings["tokenize+stats"] = round(time.time() - tt, 2)
            if store_positions:
                # opt-in positional side artifact for phrase search
                # (operators/phrase.py), written before the stage commit
                # so resume semantics hold
                tt = time.time()
                from pdx_spark.operators.phrase import write_positions
                write_positions(with_ids, self._p(path, "positions/base"))
                manifest["positions_dirs"] = ["positions/base"]
                timings["positions"] = round(time.time() - tt, 2)
            tt = time.time()
            dp.select(*[f.name for f in schemas.DOCS.fields]) \
                .write.mode("overwrite").parquet(self._p(path, "docs"))
            timings["docs_write"] = round(time.time() - tt, 2)
            # next_doc_id: the id-allocation high-water mark appends read
            # instead of scanning every docs dir for max(doc_id)
            manifest.update(stage="segments", n_docs=n_docs, sum_dl=sum_dl,
                            avgdl=sum_dl / n_docs if n_docs else 0.0,
                            next_doc_id=n_docs)
            manifest["lineage"].append(
                {"stage": "docs+stats", "rows": n_docs,
                 "sec": round(time.time() - t0, 2), "timings": timings})
            _write_manifest(path, manifest, fs=fs)

        if manifest["stage"] == "segments":
            # ---- stage B: blocked segments, chunked + resumable ----
            n_docs, n_chunks = manifest["n_docs"], manifest["n_chunks"]
            posts = (self.spark.read.parquet(tmp_path)
                     .select("doc_id", "dl", "terms", "tfs")
                     .withColumn("shard", self.cfg.shard_of_expr()))
            enc = _segment_encoder_docs(self.cfg, manifest["avgdl"],
                                        self.params)
            n_encode, spg = encode_layout(
                self.spark, -(-n_docs // self.cfg.docs_per_shard))
            fgroup = F.expr(f"shard div {spg}")
            for chunk in range(n_chunks):
                key = str(chunk)
                if manifest["chunks"].get(key, {}).get("status") == "done":
                    continue
                tc = time.time()
                seg = (posts.filter(F.col("shard") % n_chunks == chunk)
                       .withColumn("fgroup", fgroup)
                       .repartition(n_encode, "fgroup")
                       .groupBy("fgroup", "shard")
                       .applyInArrow(enc, schema=schemas.SEGMENTS))
                final = self._p(path, "segments", "base", f"chunk-{chunk}")
                # no sortWithinPartitions here: the planned write sorts
                # each task's rows by fgroup alone, which would replace
                # it, so files keep the encoder's per-shard group order
                (seg.withColumn("fgroup", fgroup)
                    .write.option("parquet.block.size", PARQUET_BLOCK_SIZE)
                    .partitionBy("fgroup")
                    .mode("overwrite").parquet(final + ".tmp"))
                fs.rename(final + ".tmp", final)
                manifest["chunks"][key] = {
                    "status": "done", **_chunk_stats(self.spark, fs, final),
                    "sec": round(time.time() - tc, 2)}
                _write_manifest(path, manifest, fs=fs)
            manifest["segment_dirs"] = ["segments/base"]
            # writer-side proof of the map-scan invariant (footer-only
            # walk); readers trust this flag instead of re-walking
            tv = time.time()
            manifest["seg_single_rg"] = verify_single_rowgroup(
                fs, "segments/base", root=path)
            manifest["lineage"].append(
                {"stage": "verify_rg",
                 "timings": {"verify_rg": round(time.time() - tv, 2)}})
            manifest["stage"] = "directory"
            _write_manifest(path, manifest, fs=fs)

        if manifest["stage"] == "directory":
            # ---- stage C: term_stats + directory from the written
            # segments' block metadata (stat_artifacts); a crash before
            # its commit re-runs it from the durable segments ----
            td = time.time()
            manifest.setdefault("dir_quant", {})["directory"] = stat_artifacts(
                self.spark, fs, [self._p(path, "segments", "base")],
                self._p(path, "term_stats"), self._p(path, "directory"))
            manifest["lineage"].append(
                {"stage": "stat_artifacts",
                 "timings": {"stat_artifacts": round(time.time() - td, 2)}})
            fs.delete(tmp_path)
            manifest["stage"] = "complete"
            manifest["lineage"].append(
                {"stage": "build_complete", "sec": round(time.time() - t0, 2)})
            _write_manifest(path, manifest, fs=fs)
        return manifest
