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
     batch_id <= manifest.last_batch_id is a no-op. Like the reference,
     which appends into one cluster in process, an append whose input
     fits one routed-scan task (Spark's plan size estimate <=
     _ROUTED_TASK_BYTES, a local fs, no positional artifact) runs in the
     driver: one Arrow collect of the input, dense rank and the build's
     tokenizer body (corpus.doc_postings_batch) — one Spark job in all. A
     larger input, or a remote fs, assigns ids and tokenizes as Spark
     jobs. Only that front differs: the docs delta, the per-shard
     encoder, the segment write and stat_artifacts are written once, over
     the Snapshot's steps. That body (_ingest) is also a one-chunk
     build's: Indexer.build runs it into an empty manifest under the
     base dir names, on the same site, and commits once.
  M2 Delete  -> tombstones + EXACT stats: the keys resolve against the
     live docs in one join, so only ids the index holds are tombstoned;
     their doc_ids land in a tombstone parquet (the scorer masks them
     via the selection-vector channel, analog of tombstone slots,
     cluster.hpp:107-118); N/sum_dl shrink, and per-term df decrements
     are computed at delete time by decoding ONLY the affected shards'
     blocks (doc-range sharding makes that a targeted read) into a
     negative term_stats delta — idf is exact immediately after delete,
     not only after compact. Like the reference, which tombstones in
     the caller's thread (index.hpp:619-638), a delete whose index fits
     one routed-scan task on a local fs, with at most n_docs keys, runs
     in the driver (one Spark job, the keys peek); else on Spark. The
     key resolution and the df count differ by site; the segment read
     and the writes are the Snapshot's steps.
  M3-M6 Compact: both compactions are one re-encode (_reencode) over
     the Snapshot's steps: read the shards' packed rows, then per shard
     one Arrow decode pass (blocks.decode_blocks_arrow, the M8
     de-transpose analog, cluster.hpp:165-181) minus the tombstoned ids
     (in the closure) into the build's Arrow encoder, then write. Like
     the reference, which compacts one cluster in process, it runs in
     the driver (pyarrow, no Spark job) when its input fits one
     routed-scan task on a local fs, else on Spark, in the build's
     fgroup file layout.
     compact_targeted() -> the SplitCluster/CompactCluster analog
       (index.hpp:1314-1611, cluster.hpp:260-294): rewrites ONLY shards
       that hold delta blocks or tombstoned postings (sized by
       Snapshot.routed_bytes) into a patch segment dir; untouched base
       files stay byte-identical, as do term_stats/directory (bounds
       stay admissible: tombstone removal only shrinks true maxima).
     compact() -> full rewrite, like OPTIMIZE in Delta Lake under the
       commit protocol of any write: every shard (sized by
       Snapshot.index_bytes, as delete), the docs folded minus dead and
       tombstoned docs, all delta state reset. Its term_stats/directory
       come from the new base's segment METADATA (stat_artifacts, as in
       build stage C) — the output is never decoded again.

Every read goes through the Maintainer's Snapshot (self.snap), the
reader Searcher holds too: its dir lists, merged views and meta_rows
follow each commit, which updates self.manifest in place. Its read,
group_apply and write steps take the op's one_task_site record and run
in the driver (pyarrow) or on Spark, so each op is written once.
"""

from __future__ import annotations

import time
from contextlib import ExitStack

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pdx_spark import schemas
from pdx_spark.config import BM25Params, IndexConfig
from pdx_spark.fs import IndexFS, index_fs, verify_single_rowgroup
from pdx_spark.operators import corpus as C
from pdx_spark.operators.indexer import (_segment_encoder_docs,
                                         _segment_encoder_postings,
                                         _write_manifest, read_manifest,
                                         stat_artifacts, write_directory_rows)
from pdx_spark.operators.snapshot import (Snapshot, _atomic_write,
                                          one_task_site)


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
        # the reader Searcher uses too (dir lists, merged views,
        # meta_rows): it reads self.manifest, which every commit below
        # updates in place
        self.snap = Snapshot(spark, self.fs, path, self.manifest,
                             self.cfg.docs_per_shard)

    def _p(self, *parts):
        return IndexFS.join(self.path, *parts)

    def _stats(self) -> tuple[int, int]:
        """(n_docs, sum_dl) from the manifest; legacy manifests (no
        sum_dl) recompute once from docs."""
        m = self.manifest
        if "sum_dl" in m:
            return int(m["n_docs"]), int(m["sum_dl"])
        row = self.snap.docs().agg(F.count("*").alias("n"),
                               F.sum("dl").alias("s")).collect()[0]
        return int(row["n"]), int(row["s"] or 0)

    def _next_doc_id(self) -> int:
        """Id-allocation high-water mark from the manifest — O(1). Legacy
        manifests (pre next_doc_id) pay one max-scan, then carry it
        forward; this was the hidden O(corpus) step in every append."""
        m = self.manifest
        if "next_doc_id" in m:
            return int(m["next_doc_id"])
        row = self.snap.docs_raw().agg(F.max("doc_id")).collect()[0][0]
        return int(row) + 1 if row is not None else 0

    # ---- M1: append ---------------------------------------------------------
    def append(self, transcripts: DataFrame, batch_id: int | None = None) -> dict:
        """Append new turns; O(delta) work, crash-safe, idempotent under
        batch_id replay (streaming foreachBatch re-runs the last
        uncommitted micro-batch on restart).

        The input picks the site (_append_site): an input that fits one
        routed-scan task by Spark's size estimate of its plan, on a local
        fs without positional artifacts, runs in the driver (one Arrow
        collect, no other Spark job); any other runs on Spark. _ingest
        writes the delta artifacts on that site. The lineage entry
        records the site with the input estimate next to
        _ROUTED_TASK_BYTES. An input whose estimate is unknown is checked
        for rows first (one 1-task job): an empty one returns the
        manifest unchanged and commits nothing, so its batch_id is not
        recorded and a later batch may carry it."""
        m = self.manifest
        if batch_id is not None and batch_id <= m.get("last_batch_id", -1):
            return m  # replayed micro-batch: already committed
        t0 = time.time()
        site = self._append_site(transcripts)
        if site is None:
            return m  # an empty input: nothing to commit
        # monotone artifact generation counter — list lengths would reuse
        # names after compact_targeted() resets `deltas`
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        # the artifacts land under generation names, unreferenced until
        # the manifest commit below
        d = {"docs": f"docs_delta-{gen}", "seg": f"deltas/delta-{gen}",
             "ts": f"term_stats_delta-{gen}",
             "dir": f"directory_delta-{gen}", "pos": f"positions_delta-{gen}"}
        stats, dq, timings = self._ingest(site, transcripts, d)

        # manifest commit — the single atomic visibility point
        m.setdefault("deltas", []).append(d["seg"])
        m["docs_dirs"] = self.snap.docs_dirs() + [d["docs"]]
        m.setdefault("ts_deltas", []).append(d["ts"])
        m.setdefault("dir_deltas", []).append(d["dir"])
        m.setdefault("dir_quant", {})[d["dir"]] = dq
        if self.snap.positions_dirs():
            m["positions_dirs"].append(d["pos"])
        new_docs = stats["n_docs"] - m["n_docs"]
        m.update(stats)
        if batch_id is not None:
            m["last_batch_id"] = int(batch_id)
        m["lineage"].append({"stage": "append", "new_docs": new_docs,
                             "batch_id": batch_id, **site,
                             "timings": timings,
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        return m

    def _ingest(self, site: dict, transcripts: DataFrame, d: dict,
                cache_input: bool = True) -> tuple:
        """The body of append and of a one-chunk build (an empty manifest,
        the base dir names): the batch's postings with dense doc ids from
        the manifest's next_doc_id (_doc_postings, the one step that
        differs by site), written on `site` as the docs dir d["docs"],
        the segment dir d["seg"] (group_apply of the per-shard encoder,
        verified single-row-group), its term_stats d["ts"] and directory
        d["dir"] (stat_artifacts), and, on an index with positional
        artifacts (Spark site only), d["pos"]. Commits nothing -> (the
        manifest fields the commit sets, dir_quant params, timings)."""
        timings: dict[str, float] = {}
        # every frame cached below is released on every path, a failed
        # step included
        with ExitStack() as cached:
            if cache_input and site["ran"] == "spark":
                # an append's input is delta-sized, so caching it is
                # bounded — and assign_doc_ids otherwise reads the
                # caller's frame at least twice (a key aggregate or range
                # sample, then the id join-back): repeated passes over the
                # SOURCE of a filtered view. A build never caches its
                # corpus-sized input.
                transcripts = transcripts.persist()
                cached.callback(transcripts.unpersist)
            next_id = self._next_doc_id()  # O(1) manifest read, no scan
            n_old, sum_old = self._stats()
            tt = time.time()
            dp, n_new, dl_new, with_ids = self._doc_postings(
                site, transcripts, next_id, cached, timings)
            n_docs, sum_dl = n_old + n_new, sum_old + dl_new
            avgdl = sum_dl / n_docs if n_docs else 0.0
            # the shards the index spans after this batch, for the
            # fgroup layout (an empty manifest's n_shards() reads 1)
            n_shards = -(-(next_id + n_new) // self.cfg.docs_per_shard)
            timings["tokenize+stats"] = round(time.time() - tt, 2)

            tt = time.time()
            self.snap.write(site, dp.select(
                [f.name for f in schemas.DOCS.fields]), d["docs"])
            timings["docs"] = round(time.time() - tt, 2)
            # blocks store (tf, dl); pruning bounds are recomputed from
            # (max_tf, min_dl) at query time, so avgdl drift across
            # appends cannot over-prune (see searcher._arrow_scorer)
            tt = time.time()
            seg = self.snap.group_apply(
                site, dp.select(["doc_id", "dl", "terms", "tfs", "shard"]),
                _segment_encoder_docs(self.cfg, avgdl, self.params),
                schemas.SEGMENTS, n_shards)
            # unsorted: the files keep the encoder's per-shard group order
            # (smaller than term order on topic corpora)
            self.snap.write(site, seg, d["seg"], segments=True,
                            n_shards=n_shards)
            single_rg = verify_single_rowgroup(self.fs, d["seg"],
                                               root=self.path)
            timings["segments"] = round(time.time() - tt, 2)
            # term_stats and directory derive from the written segment's
            # metadata; an append's directory delta is quantized with its
            # OWN affine params — delta values can exceed the base range
            tt = time.time()
            dq = stat_artifacts(self.spark, self.fs, [self._p(d["seg"])],
                                self._p(d["ts"]), self._p(d["dir"]))
            timings["stat_artifacts"] = round(time.time() - tt, 2)
            if self.snap.positions_dirs():  # merged at read by phrase_topk
                tt = time.time()
                from pdx_spark.operators.phrase import write_positions
                write_positions(with_ids, self._p(d["pos"]))
                timings["positions"] = round(time.time() - tt, 2)
            return ({"n_docs": n_docs, "sum_dl": sum_dl, "avgdl": avgdl,
                     "next_doc_id": next_id + n_new, "seg_single_rg": bool(
                         self.manifest.get("seg_single_rg") and single_rg)},
                    dq, timings)

    def _append_site(self, transcripts: DataFrame) -> dict | None:
        """append's site (one_task_site): the driver when the index is on
        a local fs, holds no positional artifact (its writer is a Spark
        job), and Spark's size estimate of the input plan — computed
        from the plan, no job — fits one routed-scan task. None for an
        empty input whose estimate is unknown (_peek)."""
        est = int(transcripts._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
        # Long.MaxValue: the estimate of an RDD scan (a frame built from a
        # Python list or an empty pandas frame), i.e. unknown
        if est >= (1 << 63) - 1 and _peek(transcripts, 0) is not None:
            return None
        return one_task_site(
            est, self.fs.is_local and not self.snap.positions_dirs(),
            "input_bytes")

    def _doc_postings(self, site: dict, transcripts: DataFrame, next_id: int,
                      cached: ExitStack, timings: dict) -> tuple:
        """append's front, the part that differs by site: the batch's
        (doc_id, dl, terms, tfs, shard, DOCS columns) postings, with dense
        doc ids from next_id and the text hash computed in the input's
        JVM projection -> (postings, n_new, dl_new, the ids-joined input
        for the positional writer, None in the driver). In the driver one
        toArrow() collect, corpus.dense_rank and the build's tokenizer
        body; on Spark corpus.assign_doc_ids, the mapInArrow tokenize and
        one aggregate."""
        transcripts = transcripts.withColumn(
            "text_hash", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))))
        if site["ran"] == "driver":
            tt = time.time()
            tab = transcripts.toArrow()
            timings["collect"] = round(time.time() - tt, 2)
            ids = C.dense_rank(
                tab.column("conv_id").to_numpy(zero_copy_only=False),
                tab.column("turn_idx").to_numpy(zero_copy_only=False)) \
                + next_id
            cols = ["text", *C.DOC_META_COLS]
            dp = pa.Table.from_batches([C.doc_postings_batch(
                pa.RecordBatch.from_arrays(
                    [pa.array(ids), *(tab.column(c).combine_chunks()
                                      for c in cols)],
                    names=["doc_id", *cols]), C.DOC_META_COLS)])
            # the docs columns in the schemas.DOCS Arrow types
            docs = to_arrow_schema(schemas.DOCS)
            dp = dp.cast(pa.schema([
                docs.field(f.name) if f.name in docs.names else f
                for f in dp.schema])).append_column(
                "shard", pa.array(ids // self.cfg.docs_per_shard))
            return (dp, dp.num_rows, int(dp.column("dl").to_numpy().sum()),
                    None)
        with_ids = C.assign_doc_ids(transcripts)
        with_ids = with_ids.withColumn(
            "doc_id", F.col("doc_id") + F.lit(int(next_id)))
        # same single-text-pass shape as Indexer.build: metadata rides
        # through the Arrow tokenize, only the (text-free) postings frame
        # is ever cached
        dp = (C.doc_postings(with_ids, extra_cols=C.DOC_META_COLS)
              .withColumn("shard", self.cfg.shard_of_expr()).persist())
        cached.callback(dp.unpersist)
        # delta stats straight off the cached postings — no write-then-
        # re-read round trip (the batch is materialized once)
        row = dp.agg(F.count("*").alias("n"),
                     F.sum("dl").alias("s")).collect()[0]
        return dp, int(row["n"]), int(row["s"] or 0), with_ids

    # ---- M2: delete ---------------------------------------------------------
    def delete(self, doc_keys: DataFrame) -> dict:
        """doc_keys: DataFrame(conv_id, turn_idx) (or doc_id). Tombstones
        the docs and keeps ALL stats exact: N/sum_dl shrink, and per-term
        df decrements (decoded from only the affected shards' blocks) land
        as a negative term_stats delta — post-delete scores are
        rank-identical to a fresh build over the live corpus. Keys that
        match no live doc are ignored: an id the index does not hold
        (e.g. one at or past next_doc_id) must never be tombstoned, or
        the doc a later append gives that id would be masked.

        _delete_site picks the site. In the driver, the keys peek is the
        one Spark job, a pyarrow join resolves the keys, and the affected
        shards decode through _decoded; on Spark a join, the same decode
        and an aggregate. Both write equal rows; the lineage entry
        records the site."""
        t0 = time.time()
        m = self.manifest
        keys = ["doc_id"] if "doc_id" in doc_keys.columns \
            else ["conv_id", "turn_idx"]
        site, peek = self._delete_site(doc_keys.select(*keys))
        driver = site["ran"] == "driver"
        old_tomb = self.snap.tomb_dir()
        # the cached dead rows (Spark) are released on every path
        with ExitStack() as cached:
            if driver:
                # one pyarrow left-semi join (each doc at most once), the
                # keys cast to the docs' types first
                live = self.snap.live_docs(
                    site, list(dict.fromkeys(["doc_id", "dl", *keys])))
                dead = live.join(peek.cast(pa.schema(
                    [pa.field(c, live.schema.field(c).type) for c in keys])),
                    keys, join_type="left semi").select(["doc_id", "dl"])
                ids = dead.column("doc_id").to_numpy()
                n_dead = len(ids)
                dl_dead = int(dead.column("dl").to_numpy().sum())
                shards = np.unique(ids // self.cfg.docs_per_shard)
            else:
                # ONE join resolves the keys against the live, not yet
                # tombstoned docs
                new_dead = (self.snap.live_docs(site)
                            .join(doc_keys.select(*keys), keys, "left_semi")
                            .select("doc_id", "dl").persist())
                cached.callback(new_dead.unpersist)
                # ONE aggregate: exact N/sum_dl decrements + the affected
                # shards (doc-range sharding -> shard id is derivable
                # from doc_id)
                drow = new_dead.agg(
                    F.count("*").alias("n"), F.sum("dl").alias("s"),
                    F.collect_set((F.col("doc_id") / self.cfg.docs_per_shard)
                                  .cast("long")).alias("shards")).collect()[0]
                n_dead, dl_dead = int(drow["n"]), int(drow["s"] or 0)
                shards = drow["shards"]
            if n_dead == 0:
                return m
            n_old, sum_old = self._stats()
            n_docs, sum_dl = n_old - n_dead, sum_old - dl_dead
            avgdl = sum_dl / n_docs if n_docs else 0.0
            gen = int(m.get("gen", 0))
            m["gen"] = gen + 1
            # merged tombstones land in a GENERATION-NAMED dir that
            # becomes visible only via the manifest commit below — a
            # crash between this write and the commit leaves the
            # committed tombstone set untouched, so a retried delete()
            # recomputes the dead ids against the LAST COMMITTED state and
            # the stat decrements are never lost (append's staging
            # discipline, applied to delete)
            ts_delta = f"term_stats_delta-d{gen}"
            tomb_dir = f"tombstones-{gen}"

            # exact per-term df: decode ONLY the affected shards (row-group
            # stats on the shard column skip the other files)
            seg = self.snap.read(site, self.snap.seg_dirs(), schemas.SEGMENTS,
                                 _DECODE_COLS, shards=shards)
            if driver:
                terms = pa.Table.from_batches(
                    _decoded(seg.to_batches(), ids, keep=True),
                    schema=_POSTINGS).column("term")
                terms, n = np.unique(terms.to_numpy(zero_copy_only=False),
                                     return_counts=True)
                dec = pa.table({"term": terms, "df": -n,
                                "max_tf": np.zeros(len(n), np.int32),
                                "gmax": np.zeros(len(n))},
                               schema=to_arrow_schema(schemas.TERM_STATS))
                tomb = pa.table({"doc_id": np.concatenate(
                    [self.snap.doc_ids(old_tomb), ids])})
            else:
                posts = _decode_segments_to_postings(seg) \
                    .join(new_dead.select("doc_id"), "doc_id", "left_semi")
                dec = (posts.groupBy("term")
                       .agg((-F.count("*")).cast("long").alias("df"))
                       .withColumn("max_tf", F.lit(0).cast("int"))
                       .withColumn("gmax", F.lit(0.0)))
                tomb = new_dead.select("doc_id")
                if old_tomb:
                    tomb = self.snap.tombstones().unionByName(tomb)
            self.snap.write(site, dec, ts_delta, ["term"])
            self.snap.write(site, tomb, tomb_dir)
            n_tomb = int(m.get("tombstones", 0)) + n_dead  # disjoint sets

        m["tombstones"] = int(n_tomb)
        m["tomb_dir"] = tomb_dir
        m.setdefault("ts_deltas", []).append(ts_delta)
        m["n_docs"], m["sum_dl"], m["avgdl"] = n_docs, sum_dl, avgdl
        m["lineage"].append({"stage": "delete", "tombstones": int(n_tomb),
                             **site, "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        if old_tomb and old_tomb != tomb_dir:
            self.fs.delete(self._p(old_tomb))  # post-commit cleanup
        return m

    def _delete_site(self, keys: DataFrame) -> tuple[dict, pa.Table | None]:
        """delete's site (one_task_site) and, on the driver, the keys: the
        driver when the fs is local, the docs and segment bytes (file
        listings, no job) fit one routed-scan task, and _peek finds at
        most n_docs keys. (A list-built keys frame plans as an RDD scan,
        whose estimate is Long.MaxValue.)"""
        nbytes = self.snap.index_bytes()
        site = one_task_site(nbytes, self.fs.is_local, "index_bytes")
        peek = None
        if site["ran"] == "driver":
            peek = _peek(keys, int(self.manifest["n_docs"]))
            if peek is None:
                site = one_task_site(nbytes, False, "index_bytes")
        return site, peek

    # ---- M4-M6: targeted compaction ----------------------------------------
    def compact_targeted(self) -> dict:
        """Rewrite ONLY shards holding delta blocks or tombstoned postings
        into a patch segment dir; every other base file stays
        byte-identical (the CompactCluster/SplitCluster analog — one
        cluster rewritten, not the index). Stats and directory are not
        rebuilt: term_stats deltas already carry the exact df state, and
        stale-high directory bounds remain admissible.

        The affected shards are the delta dirs' shard column plus the
        tombstones' shards, one read of each through the Snapshot (no
        Spark job on a local fs). Their estimated bytes pick the site
        (Snapshot.site): in the driver when they fit one routed-scan task
        on a local fs (no Spark job at all), else on Spark. On either,
        _reencode rewrites the affected shards without the tombstoned
        ids. The lineage entry records the site with its byte estimate
        next to _ROUTED_TASK_BYTES."""
        t0 = time.time()
        m = self.manifest
        shards, tomb_ids = self._affected()
        if not len(shards):
            return m
        site = self.snap.site(len(shards), self.fs.is_local)
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        patch = f"segments/patch-{gen}"
        single_rg = self._reencode(site, patch, m["avgdl"], tomb_ids, shards)

        # bookkeeping: base dirs exclude the patched shards; delta segment
        # dirs are folded into the patch entirely. Old artifacts are
        # deleted only AFTER the manifest commit — a crash in between
        # leaves harmless orphans, never a manifest pointing at deleted
        # dirs (same commit discipline as append).
        doomed = list(m.get("deltas", []))
        excl = m.setdefault("seg_excludes", {})
        for d in m["segment_dirs"]:
            excl[d] = sorted(set(excl.get(d, [])) | set(shards.tolist()))
        m["deltas"] = []
        m["segment_dirs"].append(patch)

        # tombstoned postings are gone from segments; keep the doc-level
        # dead list so docs() (predicate masks, key lookups) stays
        # live-only. Gen-named + manifest pointer = same staging
        # discipline as tombstones/deltas (no pre-commit overwrite).
        if len(tomb_ids):
            dd_dir = f"dead_docs-{gen}"
            old_dd, tomb_dir = self.snap.dead_dir(), self.snap.tomb_dir()
            self.snap.write(site, self.snap.read(
                site, [d for d in (old_dd, tomb_dir) if d], schemas.DOC_IDS,
                ["doc_id"]), dd_dir)
            if old_dd:
                doomed.append(old_dd)
            # delete() tombstones only live, not yet tombstoned ids, so
            # the tombstones and the old dead docs are disjoint
            m["dead_docs"] = int(m.get("dead_docs", 0)) + len(tomb_ids)
            m["dead_dir"] = dd_dir
            doomed.append(tomb_dir)
            m["tombstones"] = 0

        m["seg_single_rg"] = bool(m.get("seg_single_rg", False) and single_rg)
        m["lineage"].append({"stage": "compact_targeted",
                             "shards": len(shards), **site,
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        for d in doomed:
            self.fs.delete(self._p(d))
        return m

    def _reencode(self, site: dict, out: str, avgdl: float,
                  drop_ids: np.ndarray, shards=None) -> bool:
        """Both compactions' rewrite of `shards` (all when None) into
        segment dir `out` on the Snapshot's steps, each shard re-encoded
        by _reencoder -> whether each file of `out` is one row group."""
        packed = self.snap.read(site, self.snap.seg_dirs(), schemas.SEGMENTS,
                                [*_DECODE_COLS, "shard"], shards=shards)
        self.snap.write(site, self.snap.group_apply(
            site, packed, _reencoder(self.cfg, avgdl, self.params, drop_ids),
            schemas.SEGMENTS), out, ["term", "shard", "block_id"],
            segments=True)
        return verify_single_rowgroup(self.fs, out, root=self.path)

    def _affected(self) -> tuple[np.ndarray, np.ndarray]:
        """-> (sorted shards compact_targeted rewrites, tombstoned doc
        ids): the delta dirs' shard column and the tombstone ids, each
        one read through the Snapshot (pyarrow on a local fs, one Spark
        scan collected as Arrow on any other)."""
        m = self.manifest
        tomb = self.snap.doc_ids(self.snap.tomb_dir())
        shards = [tomb // self.cfg.docs_per_shard]
        if m.get("deltas"):
            shards.append(self.snap.meta_rows(
                m["deltas"], schemas.SEGMENTS, ["shard"])
                .column("shard").to_numpy())
        return np.unique(np.concatenate(shards)), tomb

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
            folded = (self.snap.union(ts_deltas, schemas.TERM_STATS)
                      .groupBy("term")
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

            def dequantized(d, part):
                p = dq.get(d, ZERO_PARAMS)
                return part.select(
                    "term", "shard", "n_blocks", "n_postings",
                    dequantize_col(F.col("max_tf_q"), p["tf_base"],
                                   p["tf_scale"]).alias("max_tf"),
                    dequantize_col(F.col("min_dl_q"), p["dl_base"],
                                   p["dl_scale"]).alias("min_dl"))
            df = self.snap.union(dir_deltas, schemas.DIRECTORY, dequantized)
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

        docs_dirs = self.snap.docs_dirs()
        if len(docs_dirs) > 2:  # base + more than one delta
            new_docs = f"docs_delta-m{gen}"
            _atomic_write(self.snap.union(docs_dirs[1:], schemas.DOCS),
                          self._p(new_docs), fs=self.fs)
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
        """Full rewrite: _reencode over every shard without the
        tombstoned ids into a new base, the docs folded into one dir
        minus the dead and tombstoned ids (Snapshot.live_docs), and
        stat_artifacts of the new base; resets every delta, patch,
        exclude and dead-doc artifact. Snapshot.index_bytes picks the
        site: the driver (no Spark job) when the index fits one
        routed-scan task on a local fs without positional artifacts,
        else Spark. The lineage entry records it.

        Crash-safe end to end: the new base lands in GENERATION-NAMED
        dirs and the manifest pointer flip is the only commit; old dirs
        are deleted after, so the manifest never references deleted or
        half-written data (the reference's Save has an rmtree-then-rename
        window, index.hpp:213-267)."""
        t0 = time.time()
        m = self.manifest
        snap = self.snap
        site = one_task_site(snap.index_bytes(), self.fs.is_local
                             and not snap.positions_dirs(), "index_bytes")
        gen = int(m.get("gen", 0))
        m["gen"] = gen + 1
        # delete() keeps N/sum_dl exact in the manifest: no docs scan
        n_docs, sum_dl = self._stats()
        avgdl = sum_dl / n_docs if n_docs else 0.0
        # every old artifact is deleted only AFTER the manifest commit
        # (a crash in between leaves harmless orphans, never a manifest
        # pointing at missing data)
        doomed = [*snap.seg_dirs(), *snap.docs_dirs(), *snap.ts_dirs(),
                  *snap.directory_dirs(), "deltas",
                  *(d for d in (snap.tomb_dir(), snap.dead_dir()) if d)]
        base, docs_dir = f"segments/base-{gen}", f"docs-{gen}"
        single_rg = self._reencode(site, base, avgdl,
                                   snap.doc_ids(snap.tomb_dir()))
        snap.write(site, snap.live_docs(site), docs_dir)

        # exact term stats + directory from the new base's segment
        # metadata, as in build stage C
        ts_base, dir_base = f"term_stats-{gen}", f"directory-{gen}"
        dq = stat_artifacts(self.spark, self.fs, [self._p(base)],
                            self._p(ts_base), self._p(dir_base))

        # positional artifact (phrase search, Spark site only): base +
        # deltas folded minus tombstoned docs. Byte hygiene: phrase_topk
        # inner-joins docs(), which no longer holds the deleted ids.
        pos_new = None
        if snap.positions_dirs():
            from pdx_spark.operators.phrase import (POSITIONS_SCHEMA,
                                                    write_positions_rows)
            pos = snap.union(snap.positions_dirs(), POSITIONS_SCHEMA)
            if snap.tomb_dir():
                pos = pos.join(snap.tombstones(), "doc_id", "left_anti")
            pos_new = f"positions-{gen}"
            write_positions_rows(pos, self._p(pos_new))
            doomed += snap.positions_dirs() + ["positions"]

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
        m["lineage"].append({"stage": "compact", **site,
                             "sec": round(time.time() - t0, 2)})
        _write_manifest(self.path, m, fs=self.fs)
        for d in doomed:
            if d not in (base, docs_dir):
                self.fs.delete(self._p(d))
        return m


# the SEGMENTS columns the decode reads, and the decoded postings' schema
_DECODE_COLS = ["term", "n", "first_doc", "ids_bw", "tfs_bw", "dls_bw",
                "ids", "tfs", "dls"]
_POSTINGS = pa.schema([("term", pa.string()), ("doc_id", pa.int64()),
                       ("tf", pa.int32()), ("dl", pa.int32())])


def _peek(df: DataFrame, n: int) -> pa.Table | None:
    """`df`'s rows as Arrow when it has at most `n`, else None: ONE Spark
    job that stops after n + 1 rows, in one task (coalesce(1): the RDD of
    a Python-built frame would run a task per partition). Sizes inputs
    whose plan estimate says nothing (an RDD scan's is Long.MaxValue)."""
    tab = df.coalesce(1).limit(n + 1).toArrow()
    return tab if tab.num_rows <= n else None


def _reencoder(cfg: IndexConfig, avgdl: float, params: BM25Params,
               drop_ids: np.ndarray):
    """The group_apply body of both compactions: one shard's packed
    SEGMENTS rows -> its postings minus `drop_ids` (_decoded), encoded
    by the build's encoder (_segment_encoder_postings)."""
    enc = _segment_encoder_postings(cfg, avgdl, params)

    def fn(packed: pa.Table) -> pa.Table:
        posts = pa.Table.from_batches(
            list(_decoded(packed.to_batches(), drop_ids)))
        return enc(posts.append_column("shard", pa.array(
            np.full(posts.num_rows, packed.column("shard")[0].as_py()))))
    return fn


def _decoded(batches, ids=None, keep: bool = False):
    """The (term, doc_id, tf, dl) postings of each non-empty SEGMENTS
    batch — the M8 de-transpose analog (cluster.hpp:165-181), one
    vectorized blocks.decode_blocks_arrow per batch — and, given `ids`,
    only those whose doc_id is in them (keep) or is not (drop)."""
    from pdx_spark.functions.blocks import decode_blocks_arrow
    for batch in batches:
        if batch.num_rows:
            posts = decode_blocks_arrow(batch)
            if ids is not None:
                hit = np.isin(posts.column("doc_id").to_numpy(), ids)
                posts = posts.filter(pa.array(hit == keep))
            yield posts


def _decode_segments_to_postings(seg: DataFrame) -> DataFrame:
    """Explode packed blocks back to (term, doc_id, tf, dl) rows: the
    _decoded body as a mapInArrow."""
    return seg.select(*_DECODE_COLS).mapInArrow(
        _decoded, schema="term string, doc_id long, tf int, dl int")
