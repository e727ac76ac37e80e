"""Index maintenance: append / delete / compact.

Reference analogs (only PDXTreeIndex supports maintenance there,
/root/reference/include/pdx/index.hpp:581-638, cluster.hpp:107-154):

  M1 Append  -> delta artifacts, O(delta) work: new docs get fresh dense
     doc_ids past the current max; their postings become a new delta
     segment dir; per-term stats and directory rows for the delta are
     derived from that segment's metadata (indexer.stat_artifacts) and
     written as DELTA parquet dirs merged at read (never a rewrite of the
     base term_stats/directory — the round-1 scale-killer). Global stats
     (N, sum_dl -> avgdl) update incrementally from the batch aggregate.
     Crash-safe: every artifact lands via tmp-dir -> atomic rename and is
     UNREFERENCED until the manifest commit at the end — a crashed append
     leaves no phantom docs/postings (the retry overwrites the orphan
     dirs). Idempotent: callers passing batch_id (streaming ingest) get
     exactly-once semantics — a replayed micro-batch with
     batch_id <= manifest.last_batch_id is a no-op.
  M2 Delete  -> tombstones + EXACT stats: the keys resolve against the
     live docs in one join, so only ids the index holds are tombstoned;
     their doc_ids land in a tombstone parquet (the scorer masks them
     via the selection-vector channel, analog of tombstone slots,
     cluster.hpp:107-118); N/sum_dl shrink, and per-term df decrements
     are computed at delete time by decoding ONLY the affected shards'
     blocks (doc-range sharding makes that a targeted read) into a
     negative term_stats delta — idf is exact immediately after delete,
     not only after compact.
  M3-M6 Compact:
     compact_targeted() -> the SplitCluster/CompactCluster analog
       (index.hpp:1314-1611, cluster.hpp:260-294): rewrites ONLY shards
       that hold delta blocks or tombstoned postings into a patch
       segment dir; untouched base files stay byte-identical. Base
       term_stats/directory are untouched (bounds stay admissible:
       tombstone removal can only shrink true maxima).
     compact() -> full rewrite: merge everything, drop tombstones and
       dead docs, fold stat deltas into the base, reset all delta state.
       Its new base takes the build's fgroup file layout, and its
       term_stats/directory come from the new base's segment METADATA
       (indexer.stat_artifacts, as in build stage C) — the output
       is never decoded again.
  Both compactions run the build's kernels: one Arrow decode pass
  (blocks.decode_blocks_arrow, the M8 de-transpose analog,
  cluster.hpp:165-181) feeds the build's Arrow encoder
  (indexer._encode_postings).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdx_spark import schemas
from pdx_spark.config import BM25Params, IndexConfig
from pdx_spark.fs import IndexFS, index_fs, verify_single_rowgroup
from pdx_spark.operators import corpus as C
from pdx_spark.operators.indexer import (PARQUET_BLOCK_SIZE,
                                         _segment_encoder_docs,
                                         _segment_encoder_postings,
                                         _write_manifest, encode_layout,
                                         read_manifest, stat_artifacts,
                                         write_directory_rows)


def _atomic_write(df: DataFrame, final: str, sort_cols: list[str] | None = None,
                  fs: IndexFS | None = None, segments: bool = False,
                  partition_by: str | None = None):
    """tmp-dir -> rename commit protocol (same as the indexer's chunks).
    segments=True also pins the one-row-group-per-file invariant the
    map-scan needs (parquet.block.size >> file size)."""
    from pdx_spark.fs import LocalFS
    fs = fs or LocalFS()
    tmp = final + ".tmp"
    w = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    w = w.write.mode("overwrite")
    if segments:
        w = w.option("parquet.block.size", PARQUET_BLOCK_SIZE)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp)
    fs.rename(tmp, final)


class Maintainer:
    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.fs = index_fs(spark, path)
        self.manifest = read_manifest(path, fs=self.fs)
        fv = self.manifest.get("format_version", 1)
        if fv != IndexConfig.format_version:
            raise ValueError(
                f"index at {path} has format_version={fv}, this engine "
                f"maintains v{IndexConfig.format_version}; rebuild it")
        p = self.manifest["params"]
        self.params = BM25Params(**p["bm25"])
        self.cfg = IndexConfig(**p["layout"])

    def _p(self, *parts):
        return IndexFS.join(self.path, *parts)

    # ---- shared readers (mirror Searcher's merged views) --------------------
    def _docs_raw(self):
        """All doc rows, INCLUDING compacted-away dead docs — id allocation
        must never reuse a dead id (the dead_docs anti-join would mask the
        reborn doc)."""
        df = None
        for d in self.manifest.get("docs_dirs", ["docs"]):
            part = self.spark.read.schema(schemas.DOCS).parquet(self._p(d))
            df = part if df is None else df.unionByName(part)
        return df

    def _docs(self):
        df = self._docs_raw()
        dead = self._dead_docs()
        return df if dead is None else df.join(dead, "doc_id", "left_anti")

    def _dead_docs(self):
        if self.manifest.get("dead_docs", 0) > 0:
            d = self.manifest.get("dead_dir", "dead_docs")
            return self.spark.read.parquet(self._p(d)).select("doc_id")
        return None

    def _tombstones(self):
        if self.manifest.get("tombstones", 0) > 0:
            d = self.manifest.get("tomb_dir", "tombstones")
            return self.spark.read.parquet(self._p(d))
        return None

    def _segments(self):
        df = None
        excl = self.manifest.get("seg_excludes", {})
        dirs = self.manifest.get("segment_dirs", ["segments/base"]) \
            + self.manifest.get("deltas", [])
        for d in dirs:
            part = (self.spark.read.schema(schemas.SEGMENTS)
                    .option("recursiveFileLookup", "true")
                    .parquet(self._p(d)))
            ex = excl.get(d)
            if ex:
                part = part.filter(~F.col("shard").isin([int(s) for s in ex]))
            df = part if df is None else df.unionByName(part)
        return df

    def _stats(self) -> tuple[int, int]:
        """(n_docs, sum_dl) from the manifest; legacy manifests (no
        sum_dl) recompute once from docs."""
        m = self.manifest
        if "sum_dl" in m:
            return int(m["n_docs"]), int(m["sum_dl"])
        row = self._docs().agg(F.count("*").alias("n"),
                               F.sum("dl").alias("s")).collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def _next_doc_id(self) -> int:
        """Id-allocation high-water mark from the manifest — O(1). Legacy
        manifests (pre next_doc_id) pay one max-scan, then carry it
        forward; this was the hidden O(corpus) step in every append."""
        m = self.manifest
        if "next_doc_id" in m:
            return int(m["next_doc_id"])
        row = self._docs_raw().agg(F.max("doc_id")).collect()[0][0]
        return int(row) + 1 if row is not None else 0

    def _assign_append_ids(self, transcripts: DataFrame,
                           next_id: int) -> DataFrame:
        """Dense doc_id assignment for an append batch: rank of
        (conv_id, turn_idx) + next_id, with the build's corpus.
        assign_doc_ids. Up to PDX_ASSIGN_IDS_LOCAL_CAP keys it ranks on
        the driver and broadcast-joins the ids back — per conversation
        when every turn_idx run is provably dense from 0, else per
        turn; above the cap it runs the range-partition path with
        num_partitions = the default parallelism (at least 8)."""
        with_ids = C.assign_doc_ids(
            transcripts,
            num_partitions=max(
                self.spark.sparkContext.defaultParallelism, 8))
        return with_ids.withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(next_id)))

    # ---- M1: append ---------------------------------------------------------
    def append(self, transcripts: DataFrame, batch_id: int | None = None) -> dict:
        """Append new turns; O(delta) work, crash-safe, idempotent under
        batch_id replay (streaming foreachBatch re-runs the last
        uncommitted micro-batch on restart)."""
        m = self.manifest
        if batch_id is not None and batch_id <= m.get("last_batch_id", -1):
            return m  # replayed micro-batch: already committed
        t0 = time.time()
        timings: dict[str, float] = {}
        # monotone artifact generation counter — list lengths would reuse
        # names after compact_targeted() resets `deltas`
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        next_id = self._next_doc_id()  # O(1) manifest read, never a scan

        docs_delta = f"docs_delta-{gen}"
        delta_name = f"deltas/delta-{gen}"
        ts_delta = f"term_stats_delta-{gen}"
        dir_delta = f"directory_delta-{gen}"
        # every frame cached below is released on every path, a failed
        # step included
        with ExitStack() as cached:
            tt = time.time()
            # appends are delta-sized by design, so caching the input
            # batch is bounded by the delta — and assign_doc_ids
            # otherwise reads the caller's frame at least twice (a key
            # aggregate or range sample, then the id join-back), which
            # for the common filtered-view input means repeated passes
            # over the SOURCE. One materialization, then cache reads.
            # (The full build never caches its input — corpus-sized;
            # this is the delta exception.)
            transcripts = transcripts.persist()
            cached.callback(transcripts.unpersist)
            with_ids = self._assign_append_ids(transcripts, next_id)
            # same single-text-pass shape as Indexer.build: metadata
            # rides through the Arrow tokenize, only the (text-free)
            # postings frame is ever cached
            meta = with_ids.withColumn(
                "text_hash",
                F.xxhash64(F.coalesce(F.col("text"), F.lit(""))))
            dp = C.doc_postings(meta, extra_cols=C.DOC_META_COLS).persist()
            cached.callback(dp.unpersist)
            # delta stats straight off the cached postings — no write-
            # then-re-read round trip (the batch is materialized once)
            drow = dp.agg(F.count("*").alias("n"),
                          F.sum("dl").alias("s")).collect()[0]
            n_new, dl_new = int(drow["n"]), int(drow["s"] or 0)
            n_old, sum_old = self._stats()
            n_docs, sum_dl = n_old + n_new, sum_old + dl_new
            avgdl = sum_dl / n_docs if n_docs else 0.0
            timings["tokenize+stats"] = round(time.time() - tt, 2)

            # the docs delta and the delta segment are independent given
            # the cached dp: they run as concurrent driver-thread jobs
            # instead of serially paying each job's fixed latency on a
            # delta-sized batch (append wall time is job-count-bound,
            # not data-bound). Every artifact lands via tmp -> rename and
            # is unreferenced until the single manifest commit below,
            # which happens in this thread after both joins.
            def _docs_job():
                tt = time.time()
                self.spark.sparkContext.setJobDescription(
                    "append: docs delta")
                new_docs = dp.select(*[f.name for f in schemas.DOCS.fields])
                _atomic_write(new_docs, self._p(docs_delta), fs=self.fs)
                return round(time.time() - tt, 2)

            def _seg_job():
                # delta segment: blocks store (tf, dl); pruning bounds
                # are recomputed from (max_tf, min_dl) at query time, so
                # avgdl drift cannot over-prune (see
                # searcher._arrow_scorer). The term_stats and directory
                # deltas then derive from the written delta segment's
                # metadata (stat_artifacts, as for a build). The
                # directory delta is quantized with its OWN affine
                # params — delta values can exceed the base range.
                tt = time.time()
                self.spark.sparkContext.setJobDescription(
                    "append: delta segment")
                posts = (dp.select("doc_id", "dl", "terms", "tfs")
                         .withColumn("shard", self.cfg.shard_of_expr()))
                enc = _segment_encoder_docs(self.cfg, avgdl, self.params)
                seg = posts.groupBy("shard").applyInArrow(
                    enc, schema=schemas.SEGMENTS)
                _atomic_write(seg, self._p(delta_name),
                              ["term", "shard", "block_id"],
                              fs=self.fs, segments=True)
                rg = verify_single_rowgroup(self.fs, delta_name,
                                            root=self.path)
                t_seg = round(time.time() - tt, 2)
                tt = time.time()
                dq_ = stat_artifacts(self.spark, self.fs,
                                     [self._p(delta_name)],
                                     self._p(ts_delta), self._p(dir_delta))
                return rg, dq_, t_seg, round(time.time() - tt, 2)

            with ThreadPoolExecutor(max_workers=2) as pool:
                f_docs = pool.submit(_docs_job)
                f_seg = pool.submit(_seg_job)
                timings["docs"] = f_docs.result()
                (single_rg, dq, timings["segments"],
                 timings["stat_artifacts"]) = f_seg.result()

            # positional delta (only for positions-enabled indexes):
            # same O(delta) discipline, merged at read by phrase_topk
            pos_delta = None
            if m.get("positions_dirs"):
                tt = time.time()
                from pdx_spark.operators.phrase import write_positions
                pos_delta = f"positions_delta-{gen}"
                write_positions(with_ids, self._p(pos_delta))
                timings["positions"] = round(time.time() - tt, 2)

        # manifest commit — the single atomic visibility point
        m.setdefault("deltas", []).append(delta_name)
        m.setdefault("docs_dirs", ["docs"]).append(docs_delta)
        m.setdefault("ts_deltas", []).append(ts_delta)
        m.setdefault("dir_deltas", []).append(dir_delta)
        m.setdefault("dir_quant", {})[dir_delta] = dq
        if pos_delta is not None:
            m["positions_dirs"].append(pos_delta)
        m["n_docs"], m["sum_dl"], m["avgdl"] = n_docs, sum_dl, avgdl
        m["next_doc_id"] = next_id + n_new
        m["seg_single_rg"] = bool(m.get("seg_single_rg", False) and single_rg)
        if batch_id is not None:
            m["last_batch_id"] = int(batch_id)
        m["lineage"].append({"stage": "append", "new_docs": n_new,
                             "batch_id": batch_id, "timings": timings,
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        return m

    # ---- M2: delete ---------------------------------------------------------
    def delete(self, doc_keys: DataFrame) -> dict:
        """doc_keys: DataFrame(conv_id, turn_idx) (or doc_id). Tombstones
        the docs and keeps ALL stats exact: N/sum_dl shrink, and per-term
        df decrements (decoded from only the affected shards' blocks) land
        as a negative term_stats delta — post-delete scores are
        rank-identical to a fresh build over the live corpus. Keys that
        match no live doc are ignored: an id the index does not hold
        (e.g. one at or past next_doc_id) must never be tombstoned, or
        the doc a later append gives that id would be masked."""
        t0 = time.time()
        m = self.manifest
        # ONE join resolves the keys against the live, not yet
        # tombstoned docs (_docs already drops compacted-away dead ids)
        live = self._docs()
        old = self._tombstones()
        if old is not None:
            live = live.join(old.select("doc_id"), "doc_id", "left_anti")
        keys = ["doc_id"] if "doc_id" in doc_keys.columns \
            else ["conv_id", "turn_idx"]
        new_dead = (live.join(doc_keys.select(*keys), keys, "left_semi")
                    .select("doc_id", "dl").persist())
        # ONE aggregate: exact N/sum_dl decrements + the affected shards
        # (doc-range sharding -> shard id is derivable from doc_id)
        drow = new_dead.agg(
            F.count("*").alias("n"), F.sum("dl").alias("s"),
            F.collect_set((F.col("doc_id") / self.cfg.docs_per_shard)
                          .cast("long")).alias("shards")).collect()[0]
        n_dead, dl_dead = int(drow["n"]), int(drow["s"] or 0)
        if n_dead == 0:
            new_dead.unpersist()
            return m
        n_old, sum_old = self._stats()
        n_docs, sum_dl = n_old - n_dead, sum_old - dl_dead
        avgdl = sum_dl / n_docs if n_docs else 0.0

        # exact per-term df: decode ONLY the affected shards (parquet
        # min/max on the shard column prunes files and row groups)
        seg = self._segments().filter(
            F.col("shard").isin(sorted(int(x) for x in drow["shards"])))
        posts = _decode_segments_to_postings(seg) \
            .join(new_dead.select("doc_id"), "doc_id", "left_semi")
        dec = (posts.groupBy("term")
               .agg((-F.count("*")).cast("long").alias("df"))
               .withColumn("max_tf", F.lit(0).cast("int"))
               .withColumn("gmax", F.lit(0.0)))
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        ts_delta = f"term_stats_delta-d{gen}"
        _atomic_write(dec, self._p(ts_delta), ["term"], fs=self.fs)

        # merged tombstones land in a GENERATION-NAMED dir that becomes
        # visible only via the manifest commit below — a crash between
        # this write and the commit leaves the committed tombstone set
        # untouched, so a retried delete() recomputes new_dead against
        # the LAST COMMITTED state and the stat decrements are never lost
        # (append's staging discipline, applied to delete)
        tomb_dir = f"tombstones-{gen}"
        merged = new_dead.select("doc_id")
        if old is not None:
            merged = old.select("doc_id").unionByName(merged)
        _atomic_write(merged, self._p(tomb_dir), fs=self.fs)
        n_tomb = int(m.get("tombstones", 0)) + n_dead  # disjoint sets
        new_dead.unpersist()

        old_tomb = m.get("tomb_dir", "tombstones") \
            if m.get("tombstones", 0) > 0 else None
        m["tombstones"] = int(n_tomb)
        m["tomb_dir"] = tomb_dir
        m.setdefault("ts_deltas", []).append(ts_delta)
        m["n_docs"], m["sum_dl"], m["avgdl"] = n_docs, sum_dl, avgdl
        m["lineage"].append({"stage": "delete", "tombstones": int(n_tomb),
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        if old_tomb and old_tomb != tomb_dir:
            self.fs.delete(self._p(old_tomb))  # post-commit cleanup
        return m

    # ---- M4-M6: targeted compaction ----------------------------------------
    def compact_targeted(self) -> dict:
        """Rewrite ONLY shards holding delta blocks or tombstoned postings
        into a patch segment dir; every other base file stays
        byte-identical (the CompactCluster/SplitCluster analog — one
        cluster rewritten, not the index). Stats and directory are not
        rebuilt: term_stats deltas already carry the exact df state, and
        stale-high directory bounds remain admissible."""
        t0 = time.time()
        m = self.manifest
        tomb = self._tombstones()

        affected: set[int] = set()
        for d in m.get("deltas", []):
            part = (self.spark.read.schema(schemas.SEGMENTS)
                    .option("recursiveFileLookup", "true")
                    .parquet(self._p(d)))
            affected |= {int(r[0]) for r in part.select("shard").distinct().collect()}
        if tomb is not None:
            affected |= {int(r[0]) for r in tomb.select(
                (F.col("doc_id") / self.cfg.docs_per_shard).cast("long")
                .alias("s")).distinct().collect()}
        if not affected:
            return m
        shards = sorted(affected)

        src = self._segments().filter(F.col("shard").isin(shards))
        posts = _decode_segments_to_postings(src)
        if tomb is not None:
            posts = posts.join(tomb.select("doc_id"), "doc_id", "left_anti")
        enc = _segment_encoder_postings(self.cfg, m["avgdl"], self.params)
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        patch = f"segments/patch-{gen}"
        new_seg = (posts.withColumn("shard", self.cfg.shard_of_expr())
                   .groupBy("shard").applyInArrow(enc, schema=schemas.SEGMENTS))
        _atomic_write(new_seg, self._p(patch), ["term", "shard", "block_id"],
                      fs=self.fs, segments=True)
        single_rg = verify_single_rowgroup(self.fs, patch, root=self.path)

        # bookkeeping: base dirs exclude the patched shards; delta segment
        # dirs are folded into the patch entirely. Old artifacts are
        # deleted only AFTER the manifest commit — a crash in between
        # leaves harmless orphans, never a manifest pointing at deleted
        # dirs (same commit discipline as append).
        doomed = list(m.get("deltas", []))
        excl = m.setdefault("seg_excludes", {})
        for d in m.get("segment_dirs", ["segments/base"]):
            excl[d] = sorted(set(excl.get(d, [])) | affected)
        m["deltas"] = []
        m.setdefault("segment_dirs", ["segments/base"]).append(patch)

        # tombstoned postings are gone from segments; keep the doc-level
        # dead list so docs() (predicate masks, key lookups) stays
        # live-only. Gen-named + manifest pointer = same staging
        # discipline as tombstones/deltas (no pre-commit overwrite).
        if tomb is not None:
            dd_dir = f"dead_docs-{gen}"
            old_dd = self._dead_docs()
            merged = tomb.select("doc_id") if old_dd is None \
                else old_dd.unionByName(tomb.select("doc_id")).distinct()
            _atomic_write(merged, self._p(dd_dir), fs=self.fs)
            if m.get("dead_docs", 0) > 0:
                doomed.append(m.get("dead_dir", "dead_docs"))
            m["dead_docs"] = self.spark.read.parquet(self._p(dd_dir)).count()
            m["dead_dir"] = dd_dir
            doomed.append(m.get("tomb_dir", "tombstones"))
            m["tombstones"] = 0

        m["seg_single_rg"] = bool(m.get("seg_single_rg", False) and single_rg)
        m["lineage"].append({"stage": "compact_targeted",
                             "shards": len(shards),
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        for d in doomed:
            self.fs.delete(self._p(d))
        return m

    # ---- minor (stats) compaction --------------------------------------------
    def compact_stats(self) -> dict:
        """LSM-style MINOR compaction: fold the accumulated term_stats /
        directory / docs DELTA dirs into one dir each. No base rewrite,
        no segment decode — cost is the total delta size. Keeps the
        merged-at-read path count bounded for long-running streaming
        ingest (the M3 cluster-health analog together with maintain())."""
        t0 = time.time()
        m = self.manifest
        doomed: list[str] = []
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1

        ts_deltas = m.get("ts_deltas", [])
        if len(ts_deltas) > 1:
            df = None
            for d in ts_deltas:
                part = self.spark.read.schema(schemas.TERM_STATS).parquet(
                    self._p(d))
                df = part if df is None else df.unionByName(part)
            folded = (df.groupBy("term")
                      .agg(F.sum("df").alias("df"),
                           F.max("max_tf").cast("int").alias("max_tf"),
                           F.max("gmax").alias("gmax")))
            new_ts = f"term_stats_delta-m{gen}"
            _atomic_write(folded, self._p(new_ts), ["term"], fs=self.fs)
            doomed += ts_deltas
            m["ts_deltas"] = [new_ts]

        dir_deltas = m.get("dir_deltas", [])
        if len(dir_deltas) > 1:
            from pdx_spark.functions.quantize import (ZERO_PARAMS,
                                                      dequantize_col)
            dq = m.get("dir_quant", {})
            df = None
            for d in dir_deltas:
                p = dq.get(d, ZERO_PARAMS)
                part = (self.spark.read.schema(schemas.DIRECTORY)
                        .parquet(self._p(d))
                        .select("term", "shard", "n_blocks", "n_postings",
                                dequantize_col(F.col("max_tf_q"), p["tf_base"],
                                               p["tf_scale"]).alias("max_tf"),
                                dequantize_col(F.col("min_dl_q"), p["dl_base"],
                                               p["dl_scale"]).alias("min_dl")))
                df = part if df is None else df.unionByName(part)
            # re-quantizing dequantized (stale-high/stale-low) bounds with
            # the same ceil/floor discipline keeps them admissible
            rows = (df.groupBy("term", "shard")
                    .agg(F.sum("n_blocks").cast("int").alias("n_blocks"),
                         F.sum("n_postings").cast("long").alias("n_postings"),
                         F.max("max_tf").alias("max_tf"),
                         F.min("min_dl").alias("min_dl")))
            new_dir = f"directory_delta-m{gen}"
            params = write_directory_rows(rows, self._p(new_dir), self.fs)
            doomed += dir_deltas
            for d in dir_deltas:
                m.get("dir_quant", {}).pop(d, None)
            m["dir_deltas"] = [new_dir]
            m.setdefault("dir_quant", {})[new_dir] = params

        docs_dirs = m.get("docs_dirs", ["docs"])
        if len(docs_dirs) > 2:  # base + more than one delta
            df = None
            for d in docs_dirs[1:]:
                part = self.spark.read.schema(schemas.DOCS).parquet(
                    self._p(d))
                df = part if df is None else df.unionByName(part)
            new_docs = f"docs_delta-m{gen}"
            _atomic_write(df, self._p(new_docs), fs=self.fs)
            doomed += docs_dirs[1:]
            m["docs_dirs"] = [docs_dirs[0], new_docs]

        m["lineage"].append({"stage": "compact_stats", "folded": len(doomed),
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        for d in doomed:
            self.fs.delete(self._p(d))
        return m

    def maintain(self, max_deltas: int = 16) -> dict:
        """Health-check policy hook (CheckClusterHealth analog,
        index.hpp:581-638): fold stat deltas when too many accumulated;
        fold delta segments into a patch when too many. Called by
        streaming ingest after each append so unbounded micro-batching
        keeps bounded read paths."""
        m = self.manifest
        if (len(m.get("ts_deltas", [])) > max_deltas
                or len(m.get("dir_deltas", [])) > max_deltas
                or len(m.get("docs_dirs", [])) - 1 > max_deltas):
            m = self.compact_stats()
        if len(m.get("deltas", [])) > max_deltas:
            m = self.compact_targeted()
        return m

    # ---- M3-M6: full compact ------------------------------------------------
    def compact(self) -> dict:
        """Full rewrite: decode all live postings (every segment dir minus
        tombstones) and rebuild segments/docs/stats/directory from them;
        resets every delta/patch/exclude/dead-doc artifact.

        Crash-safe end to end: the new base lands in GENERATION-NAMED
        dirs (segments/base-{gen}, docs-{gen}) and the manifest pointer
        flip is the only commit; old dirs are deleted after. There is no
        instant at which the manifest references deleted or half-written
        data (closes the rmtree-then-rename window the reference's Save
        also has, index.hpp:213-267 — acceptable there, not at 1000
        executors)."""
        t0 = time.time()
        m = self.manifest
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        tomb = self._tombstones()

        # the encode below must stay this decode's only consumer: any
        # other action on it (a range sample, a stats pass) decodes the
        # whole index again
        posts = _decode_segments_to_postings(self._segments())
        if tomb is not None:
            posts = posts.join(tomb.select("doc_id"), "doc_id", "left_anti")

        docs = self._docs()
        if tomb is not None:
            docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
        # delete() keeps N/sum_dl exact in the manifest: no docs scan
        n_docs, sum_dl = self._stats()
        avgdl = sum_dl / n_docs if n_docs else 0.0

        enc = _segment_encoder_postings(self.cfg, avgdl, self.params)
        # the build's analytic fgroup layout over the id range
        n_encode, fgroup = encode_layout(self.spark, self._next_doc_id(),
                                         self.cfg)
        new_seg = (posts.withColumn("shard", self.cfg.shard_of_expr())
                   .withColumn("fgroup", fgroup)
                   .repartition(n_encode, "fgroup")
                   .groupBy("fgroup", "shard")
                   .applyInArrow(enc, schema=schemas.SEGMENTS)
                   .withColumn("fgroup", fgroup))
        # every old artifact is deleted only AFTER the manifest commit
        # (a crash in between leaves harmless orphans, never a manifest
        # pointing at missing data)
        doomed = (list(m.get("deltas", []))
                  + list(m.get("segment_dirs", ["segments/base"]))
                  + list(m.get("docs_dirs", ["docs"]))
                  + list(m.get("ts_deltas", []))
                  + list(m.get("dir_deltas", []))
                  + ["deltas"])
        if m.get("tombstones", 0) > 0:
            doomed.append(m.get("tomb_dir", "tombstones"))
        if m.get("dead_docs", 0) > 0:
            doomed.append(m.get("dead_dir", "dead_docs"))
        base = f"segments/base-{gen}"
        # the sort leads with fgroup so it satisfies the planned write's
        # fgroup ordering and survives: files stay term-ordered
        _atomic_write(new_seg, self._p(base),
                      ["fgroup", "term", "shard", "block_id"], fs=self.fs,
                      segments=True, partition_by="fgroup")
        single_rg = verify_single_rowgroup(self.fs, base, root=self.path)

        # docs: fold deltas + drop dead into a single gen-named dir
        docs_dir = f"docs-{gen}"
        _atomic_write(docs, self._p(docs_dir), fs=self.fs)

        # exact term stats + directory from the new base's segment
        # metadata, as in build stage C
        ts_base, dir_base = f"term_stats-{gen}", f"directory-{gen}"
        dq = stat_artifacts(self.spark, self.fs, [self._p(base)],
                            self._p(ts_base), self._p(dir_base))
        doomed += [m.get("ts_base", "term_stats"),
                   m.get("dir_base", "directory")]

        # positional artifact (phrase search): fold base + deltas into
        # one gen-named dir, dropping tombstoned docs. Correctness never
        # depends on this (phrase_topk inner-joins docs(), which no
        # longer contains the deleted ids) — this is byte hygiene, the
        # same fold discipline as term_stats/directory.
        pos_new = None
        if m.get("positions_dirs"):
            from pdx_spark.operators.phrase import (POSITIONS_SCHEMA,
                                                    write_positions_rows)
            pos = None
            for d in m["positions_dirs"]:
                part = self.spark.read.schema(POSITIONS_SCHEMA).parquet(
                    self._p(d))
                pos = part if pos is None else pos.unionByName(part)
            if tomb is not None:
                pos = pos.join(tomb.select("doc_id"), "doc_id", "left_anti")
            pos_new = f"positions-{gen}"
            write_positions_rows(pos, self._p(pos_new))
            doomed += list(m["positions_dirs"]) + ["positions"]

        m.update(segment_dirs=[base], deltas=[], ts_deltas=[],
                 dir_deltas=[], docs_dirs=[docs_dir], seg_excludes={},
                 tombstones=0, dead_docs=0, dir_quant={dir_base: dq},
                 n_docs=n_docs, sum_dl=sum_dl, avgdl=avgdl,
                 seg_single_rg=bool(single_rg),
                 ts_base=ts_base, dir_base=dir_base)
        if pos_new is not None:
            m["positions_dirs"] = [pos_new]
        m.pop("tomb_dir", None)
        m.pop("dead_dir", None)
        m["lineage"].append({"stage": "compact",
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        for d in doomed:
            if d not in (base, docs_dir):
                self.fs.delete(self._p(d))
        return m


def _decode_segments_to_postings(seg: DataFrame) -> DataFrame:
    """Explode packed blocks back to (term, doc_id, tf, dl) rows — the M8
    de-transpose analog (cluster.hpp:165-181), one vectorized Arrow
    decode per batch (blocks.decode_blocks_arrow)."""
    from pdx_spark.functions.blocks import decode_blocks_arrow

    def fn(batches):
        for batch in batches:
            if batch.num_rows:
                yield decode_blocks_arrow(batch)

    return (seg.select("term", "n", "first_doc", "ids_bw", "tfs_bw",
                       "dls_bw", "ids", "tfs", "dls")
            .mapInArrow(fn, schema="term string, doc_id long, tf int, dl int"))
