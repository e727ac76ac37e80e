"""The reader of one index snapshot (one manifest).

A Searcher and a Maintainer each hold one Snapshot, the only code that
turns a manifest into dir lists and Spark frames: the dir lists with
every read-side default (seg_dirs ... dead_dir); the per-dir readers (a
pyarrow dataset on a local fs, a typed Spark frame, union); the merged
views over base + maintenance deltas (segments, docs, docs_raw,
tombstones, dead_docs, term_stats); the filtered driver-side row reader
(meta_rows); and the byte estimates that decide whether a slice of the
segments, or the whole index, fits one task (routed_bytes, site,
index_bytes). Every Spark read carries
its schemas.* schema, so none runs a schema-inference job. A Maintainer
mutates its manifest in place as it commits: the dir lists read it
live, and the segment listing and the segments() frame are keyed by
the segment dirs (and excludes), so both follow every commit.

It also runs a one-task op's work where one_task_site put it: the
read / group_apply / write steps take and return a pyarrow Table in the
driver and a DataFrame on Spark, with the same Arrow body per shard
group on both, so a maintenance op and a one-chunk build are written
once over them. Both sites give every segment dir the fgroup file
layout (one file per contiguous shard range).
"""

from __future__ import annotations

import functools
import operator
import threading

import numpy as np
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pdx_spark import schemas
from pdx_spark.fs import IndexFS
from pdx_spark.operators.indexer import (PARQUET_BLOCK_SIZE, encode_layout,
                                         write_table_local)

# target on-disk bytes per routed-scan task, and the bound below which a
# slice of the segments is read and processed in the driver instead of
# by a Spark job. Every python task costs a fixed ~0.2 CPU-s before any
# engine code runs (see Searcher._routed_task_count), so a routed scan
# over a small slice should run FEW tasks: task count is capped at
# ceil(routed_bytes / this) in addition to the shard-count and
# parallelism caps. 2 MiB balances the two regimes: tiny routed slices
# (a well-pruned scan) still run 1-2 tasks, while a routed scan whose
# byte slice is large (seed phase of a big batch, unprunable corpora)
# fills the cores instead of idling 80% of them — at 8 MiB the bench's
# forced-two-phase seed scan ran 6 tasks on 32 cores (0.89 s; 0.41 s at
# 2 MiB, interleaved A/B), and a byte cap below parallelism is exactly
# what breaks N->4N query scaling. At 100 TB the byte cap is never the
# binding term — defaultParallelism is. A slice of at most this many
# bytes (one task's worth) runs in the driver instead, which also saves
# the Spark job around the task: query scans (Searcher; a routed scan
# by its routed shards' bytes, an exhaustive or unrouted one by the
# whole index's), targeted compactions (Maintainer.compact_targeted),
# appends (by Spark's size estimate of the input plan, Maintainer.append),
# deletes and full compactions (by Snapshot.index_bytes; a delete then
# peeks at its keys) take that site.
_ROUTED_TASK_BYTES = 2 * 1024 * 1024


# Catalyst keeps IN lists of <= inSetConversionThreshold (10) values as
# `In`, inlining long literals into generated Java (new classes per id
# set); longer lists become `InSet`, whose hash set the generated code
# takes by reference. Sets are padded with _SET_PAD never-held values;
# a shard set is split into _SET_RUNS runs (see _id_set).
_SET_PAD = 11
_SET_RUNS = 8


def _in_list(col: str, values) -> "F.Column":
    """IN predicate over a python string list as ONE SQL parse call
    (`Column.isin` pays a py4j round trip per value: 8-10 s of driver
    time for a 2,900-term batch), padded to plan as InSet. Values are
    tokenizer output ([a-z0-9]+), so '#i' pads never match; escape
    defensively anyway."""
    vals = [*values, *(f"#{i}" for i in range(_SET_PAD))]
    esc = ",".join("'" + str(v).replace("\\", "\\\\").replace("'", "\\'")
                   + "'" for v in vals)
    return F.expr(f"{col} IN ({esc})")


def _id_set(col: str, ids) -> "F.Column":
    """`col IN ids` over int64 ids (shards) as data, not SQL text: every
    id set reaches the JVM in one byte buffer (a constant number of
    py4j calls), padded to plan as InSet. Parquet checks an `In` against
    row-group stats by its values' [min, max] only, so the ids are cut
    at their _SET_RUNS - 1 widest gaps into runs, each an InSet padded
    below every shard AND one padded above (the conjunction's envelope
    is the run's own), OR-ed in a fixed shape: stats skip the segment
    files between runs unopened (files hold contiguous shard ranges),
    shard dictionaries those inside a run holding no routed shard."""
    from pyspark.sql.classic.column import Column
    sc = SparkContext._active_spark_context
    jvm = sc._jvm
    ids = np.unique(np.fromiter((int(i) for i in ids), np.int64))
    gaps = np.diff(ids)
    cuts = np.sort(np.argsort(-gaps, kind="stable")[:_SET_RUNS - 1]) + 1
    runs = np.split(ids, cuts[gaps[cuts - 1] > 1])
    runs += [ids[:0]] * (_SET_RUNS - len(runs))
    # pads differ per run: Catalyst folds repeated disjuncts, which
    # would make the plan's shape follow the run count
    pad = np.arange(1, _SET_PAD + 1)
    sets = [np.concatenate([r, p]) for i, r in enumerate(runs)
            for p in (-pad - _SET_PAD * i, pad + _SET_PAD * i + (1 << 62))]
    vals = np.concatenate(sets).astype(">i8")
    arr = sc._gateway.new_array(jvm.long, len(vals))
    jvm.java.nio.ByteBuffer.wrap(bytearray(vals.tobytes())) \
        .asLongBuffer().get(arr)
    boxed = jvm.java.util.Arrays.stream(arr).boxed().toArray()
    # composed on the JVM Columns: pyspark's Column operators cost ~10
    # py4j round trips each (call-site capture), these one
    jc, ends = F.col(col)._jc, np.cumsum([len(x) for x in sets]).tolist()
    ins = [jc.isin(boxed[a:b]) for a, b in zip([0] + ends[:-1], ends)]
    return Column(functools.reduce(
        lambda a, b: getattr(a, "or")(b),
        (getattr(lo, "and")(hi) for lo, hi in zip(ins[::2], ins[1::2]))))


def one_task_site(nbytes: int, eligible: bool, measure: str) -> dict:
    """Where work over an estimated `nbytes` runs, with the estimate
    (under the key `measure`) next to its cap: in the driver when the
    caller can run it there (`eligible`) and it fits one routed-scan
    task by bytes, on Spark otherwise (a larger input, an unknown
    size)."""
    driver = eligible and 0 < nbytes <= _ROUTED_TASK_BYTES
    return {"ran": "driver" if driver else "spark",
            "cap": "_ROUTED_TASK_BYTES", "limit": _ROUTED_TASK_BYTES,
            measure: nbytes}


def _atomic_write(df: DataFrame, final: str,
                  sort_cols: list[str] | None = None, *, fs: IndexFS,
                  segments: bool = False):
    """tmp-dir -> rename commit protocol (same as the indexer's chunks).
    segments=True writes a file per `fgroup` (sorted by it first, so the
    planned write keeps the sort) and pins the one-row-group-per-file
    invariant the map-scan needs (parquet.block.size >> file size)."""
    tmp = final + ".tmp"
    if segments:
        sort_cols = ["fgroup", *(sort_cols or [])]
    w = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    w = w.write.mode("overwrite")
    if segments:
        w = w.option("parquet.block.size", PARQUET_BLOCK_SIZE) \
            .partitionBy("fgroup")
    w.parquet(tmp)
    fs.rename(tmp, final)


class Snapshot:
    def __init__(self, spark, fs, path: str, manifest: dict,
                 docs_per_shard: int):
        self.spark, self.fs, self.path = spark, fs, path
        self.manifest = manifest
        self.docs_per_shard = docs_per_shard
        # per-dir readers (dataset, frame), the segment listing (see
        # _segment_sizes) and the segments() frame, built once under the
        # lock by whichever concurrent caller needs them first
        self._datasets: dict[str, object] = {}
        self._frames: dict[str, DataFrame] = {}
        self._listing: tuple[tuple, list[int]] | None = None
        self._segments: tuple[tuple, DataFrame] | None = None
        self._lock = threading.RLock()

    # -- the manifest's dirs (every read-side default lives here) -----------
    def seg_dirs(self) -> list[str]:
        return self.manifest["segment_dirs"] + self.manifest.get("deltas", [])

    def docs_dirs(self) -> list[str]:
        return list(self.manifest.get("docs_dirs", ["docs"]))

    def ts_dirs(self) -> list[str]:
        """term_stats base + deltas (delete deltas carry negative df)."""
        return ([self.manifest.get("ts_base", "term_stats")]
                + self.manifest.get("ts_deltas", []))

    def directory_dirs(self) -> list[str]:
        """directory base + deltas, each quantized with its own params
        (manifest["dir_quant"])."""
        return ([self.manifest.get("dir_base", "directory")]
                + self.manifest.get("dir_deltas", []))

    def positions_dirs(self) -> list[str]:
        return list(self.manifest.get("positions_dirs", []))

    def tomb_dir(self) -> str | None:
        """The committed, generation-named tombstone dir (a staged but
        uncommitted merge is invisible, so delete() replays are exact);
        None when nothing is tombstoned."""
        m = self.manifest
        return m.get("tomb_dir", "tombstones") if m.get("tombstones", 0) > 0 \
            else None

    def dead_dir(self) -> str | None:
        """The committed dead-docs dir (ids whose postings a compaction
        dropped); None when there are none."""
        m = self.manifest
        return m.get("dead_dir", "dead_docs") if m.get("dead_docs", 0) > 0 \
            else None

    def n_shards(self) -> int:
        """Shard ids span doc ids [0, next_doc_id): deletes lower n_docs
        but never the id space, so the shard count comes from the
        id-allocation high-water mark (n_docs on manifests without
        one)."""
        n_ids = int(self.manifest.get("next_doc_id", self.manifest["n_docs"]))
        return max(1, -(-n_ids // self.docs_per_shard))

    def _segment_sizes(self) -> list[int]:
        """On-disk sizes of the segment files (base + patches + deltas),
        listed through the fs seam once per set of segment dirs. Used
        only to SIZE work (never for correctness); a listing failure
        gives no files, which disables the byte cap and the driver
        site."""
        with self._lock:
            dirs = tuple(self.seg_dirs())
            if self._listing is None or self._listing[0] != dirs:
                try:
                    sizes = [sz for d in dirs
                             for _, sz in self.fs.parquet_files(
                                 self.fs.join(self.path, d))]
                except Exception:
                    sizes = []
                self._listing = (dirs, sizes)
            return self._listing[1]

    def segment_bytes(self) -> int:
        return sum(self._segment_sizes())

    def index_bytes(self) -> int:
        """Docs plus segment file bytes (fs listings, no job): the size of
        an op over the whole index (delete, compact)."""
        return self.segment_bytes() + sum(
            sz for d in self.docs_dirs()
            for _, sz in self.fs.parquet_files(self.fs.join(self.path, d)))

    def segment_file_count(self) -> int:
        return len(self._segment_sizes())

    def routed_bytes(self, n_routed_shards: int) -> int:
        """Estimated on-disk bytes of `n_routed_shards` shards: their
        fraction of the total segment bytes. Shards are near-uniform by
        construction (dense doc_ids, fixed docs_per_shard). 0 when the
        listing failed."""
        n = self.n_shards()
        return int(self.segment_bytes() * min(n_routed_shards, n) / n)

    def site(self, n_shards: int, eligible: bool) -> dict:
        """one_task_site of work over `n_shards` shards, by their
        estimated bytes (routed_bytes)."""
        return one_task_site(self.routed_bytes(n_shards), eligible,
                             "routed_bytes")

    # -- readers ---------------------------------------------------------------
    def dataset(self, d: str):
        """The pyarrow dataset of index dir `d` (local fs). Built once per
        Snapshot — index dirs are immutable once a manifest references
        them — so no read lists files again."""
        with self._lock:
            src = self._datasets.get(d)
            if src is None:
                import pyarrow.dataset as ds
                src = self._datasets[d] = ds.dataset(
                    self.fs.join(self.path, d), format="parquet")
            return src

    def _read(self, dirs: list[str], schema) -> DataFrame:
        return (self.spark.read.schema(schema)
                .option("recursiveFileLookup", "true")
                .parquet(*[self.fs.join(self.path, d) for d in dirs]))

    def frame(self, d: str, schema) -> DataFrame:
        """The Spark frame of index dir `d`, read with its schemas.*
        schema (so no read runs a schema-inference job). Built once per
        Snapshot, like dataset."""
        with self._lock:
            df = self._frames.get(d)
            if df is None:
                df = self._frames[d] = self._read([d], schema)
            return df

    def union(self, dirs: list[str], schema, each=None) -> DataFrame:
        """One typed Spark frame over index dirs: each dir's frame minus
        its seg_excludes shards (superseded by a targeted-compaction
        patch; an _id_set, so the filter costs the same few py4j calls
        for any number of shards), mapped by `each(d, frame)` when
        given, unioned by name."""
        excl = self.manifest.get("seg_excludes", {})
        parts = []
        for d in dirs:
            part = self.frame(d, schema)
            if excl.get(d):
                part = part.filter(~_id_set("shard", excl[d]))
            parts.append(part if each is None else each(d, part))
        return functools.reduce(DataFrame.unionByName, parts)

    # -- merged views over base + maintenance deltas ---------------------------
    def segments(self) -> DataFrame:
        """Every live segment row (base + patches + deltas). One frame
        per set of segment dirs and excludes: a Searcher reuses it (and
        Spark's file listing inside it) across batches instead of
        re-listing the dirs on every query, and a Maintainer's in-place
        commits rebuild it. With no excluded shard it is one multi-path
        scan instead of a union of per-dir scans: same rows, but a single
        scan node — smaller plan, one whole-stage-codegen compile (a
        fresh post-append Searcher paid ~0.4 s of first-batch codegen on
        the union plan), one task pool."""
        with self._lock:
            dirs = self.seg_dirs()
            excl = self.manifest.get("seg_excludes", {})
            key = tuple((d, tuple(excl.get(d, ()))) for d in dirs)
            if self._segments is None or self._segments[0] != key:
                df = self.union(dirs, schemas.SEGMENTS) \
                    if any(excl.get(d) for d in dirs) \
                    else self._read(dirs, schemas.SEGMENTS)
                self._segments = (key, df)
            return self._segments[1]

    def docs_raw(self) -> DataFrame:
        """Every doc row, INCLUDING compacted-away dead docs: id
        allocation must never reuse a dead id (the dead_docs anti-join
        would mask the reborn doc)."""
        return self.union(self.docs_dirs(), schemas.DOCS)

    def docs(self) -> DataFrame:
        """The doc rows minus the compacted-away dead docs. Tombstoned
        docs stay: their postings are still in the segments, and the
        scorer masks them (tombstones())."""
        dead = self.dead_docs()
        df = self.docs_raw()
        return df if dead is None else df.join(dead, "doc_id", "left_anti")

    def tombstones(self) -> DataFrame | None:
        d = self.tomb_dir()
        return None if d is None else self.frame(d, schemas.DOC_IDS)

    def dead_docs(self) -> DataFrame | None:
        d = self.dead_dir()
        return None if d is None else self.frame(d, schemas.DOC_IDS)

    def live_docs(self, site: dict, columns: list[str] | None = None):
        """The `columns` (default all) of the docs neither compacted away
        nor tombstoned: their read on `site` minus the dead and
        tombstoned ids (doc_ids in the driver, anti-joins on Spark)."""
        gone = [d for d in (self.dead_dir(), self.tomb_dir()) if d]
        docs = self.read(site, self.docs_dirs(), schemas.DOCS,
                         columns or schemas.DOCS.fieldNames())
        if site["ran"] == "driver":
            return docs.filter(pa.array(~np.isin(
                docs.column("doc_id").to_numpy(), self.doc_ids(*gone))))
        for d in gone:
            docs = docs.join(self.frame(d, schemas.DOC_IDS), "doc_id",
                             "left_anti")
        return docs

    def doc_ids(self, *dirs: str | None) -> np.ndarray:
        """The doc ids in the given DOC_IDS dirs (tombstones, dead docs;
        None skipped), read in the driver by meta_rows."""
        dirs = [d for d in dirs if d]
        return self.meta_rows(dirs, schemas.DOC_IDS, ["doc_id"]) \
            .column("doc_id").to_numpy() if dirs else np.zeros(0, np.int64)

    def term_stats(self) -> DataFrame:
        """Base ∪ append/delete deltas, merged at read: df sums (delete
        deltas are negative), bounds take max (stale-high = admissible).
        A caller that filters on `term` gets parquet row-group pruning on
        every delta file before the merge agg. (Query serving reads the
        same dirs through meta_rows instead.)"""
        dirs = self.ts_dirs()
        df = self.union(dirs, schemas.TERM_STATS)
        if len(dirs) == 1:
            return df
        return (df.groupBy("term")
                .agg(F.sum("df").alias("df"),
                     F.max("max_tf").alias("max_tf"),
                     F.max("gmax").alias("gmax"))
                .filter(F.col("df") > 0))

    def meta_rows(self, dirs: list[str], schema, columns: list[str], *,
                  terms: list[str] | None = None,
                  term_range: tuple[str, str] | None = None,
                  shards: list[int] | None = None) -> pa.Table:
        """The driver-side reader of index dirs (term_stats, directory,
        segments, tombstones; base + deltas): the `columns` of the rows
        whose term is in `terms`, or in [lo, hi) = `term_range`, or of
        every row when neither is given, and whose shard is in `shards`
        when given, plus `dir`, the row's index into `dirs`. A dir's
        seg_excludes shards are dropped, as in segments().
        pyarrow on a local fs, else one Spark scan of the same filter
        collected as Arrow. pyarrow tests ranges, not `isin`, against
        row-group stats, so the terms add their [min, max] envelope and
        the shards become an OR of their contiguous runs: stats skip the
        row groups, and so the files, that hold none."""
        excl = self.manifest.get("seg_excludes", {})
        if self.fs.is_local:
            import pyarrow.dataset as ds
            # each dir's columns cast to the schema's types: a Spark
            # session without get_spark's outputTimestampType writes
            # TimestampType as INT96 (read as naive ns), get_spark's and
            # the driver writer as timestamp[us, tz=UTC]
            want = to_arrow_schema(schema)
            want = pa.schema([want.field(c) for c in columns])
            t, sh = ds.field("term"), ds.field("shard")
            conds = []
            if terms is not None:
                conds.append(t.isin(terms) & (t >= min(terms))
                             & (t <= max(terms)))
            elif term_range is not None:
                conds.append((t >= term_range[0]) & (t < term_range[1]))
            if shards is not None:
                ids = np.unique(np.asarray(shards, dtype=np.int64))
                runs = np.split(ids, np.flatnonzero(np.diff(ids) > 1) + 1)
                conds.append(functools.reduce(operator.or_, (
                    (sh >= int(r[0])) & (sh <= int(r[-1])) for r in runs)))
            tabs = []
            for i, d in enumerate(dirs):
                c = conds + [~sh.isin(excl[d])] if excl.get(d) else conds
                f = functools.reduce(operator.and_, c) if c else None
                # a Spark fgroup write of no rows leaves a dir of no files
                src = self.dataset(d)
                tab = src.to_table(columns=columns, filter=f).cast(want) \
                    if src.files else want.empty_table()
                tabs.append(tab.append_column(
                    "dir", pa.array(np.full(tab.num_rows, i, np.int32))))
            return pa.concat_tables(tabs)
        conds = []
        if terms is not None:
            conds.append(_in_list("term", terms))
        elif term_range is not None:
            conds.append((F.col("term") >= term_range[0])
                         & (F.col("term") < term_range[1]))
        if shards is not None:
            conds.append(_id_set("shard", shards))
        cond = functools.reduce(operator.and_, conds, F.lit(True))
        idx = {d: i for i, d in enumerate(dirs)}
        return self.union(dirs, schema, lambda d, part: part.filter(cond)
                          .select(*columns, F.lit(idx[d]).cast("int")
                                  .alias("dir"))).toArrow()

    # -- the steps of a one-task op, on the site its one_task_site picked ------
    def read(self, site: dict, dirs: list[str], schema, columns: list[str],
             shards=None):
        """The `columns` of index dirs `dirs` minus their seg_excludes
        shards, only the rows whose shard is in `shards` when given. In
        the driver meta_rows; on Spark the typed union (segments(), one
        multi-path scan, for the segment dirs) filtered by _id_set."""
        if site["ran"] == "driver":
            return self.meta_rows(dirs, schema, columns,
                                  shards=shards).select(columns)
        df = self.segments() if dirs == self.seg_dirs() \
            else self.union(dirs, schema)
        if shards is not None:
            df = df.filter(_id_set("shard", shards))
        return df.select(*columns)

    def group_apply(self, site: dict, x, fn, schema,
                    n_shards: int | None = None):
        """`fn` (pyarrow Table -> Table of `schema`) run once per shard
        group of `x`, each group with its shard column (a gapply: the
        caller never sees how the groups form). On Spark the build's
        encode shuffle (by encode_layout's fgroup over `n_shards`, the
        manifest's by default) and applyInArrow; in the driver a stable
        sort by shard and one call per run."""
        if site["ran"] == "spark":
            n_encode, spg = encode_layout(self.spark,
                                          n_shards or self.n_shards())
            return (x.withColumn("fgroup", F.expr(f"shard div {spg}"))
                    .repartition(n_encode, "fgroup")
                    .groupBy("fgroup", "shard")
                    .applyInArrow(fn, schema=schema))
        shard = x.column("shard").to_numpy()
        order = np.argsort(shard, kind="stable")
        x = x.take(order)
        cuts = [0, *(np.flatnonzero(np.diff(shard[order])) + 1), x.num_rows]
        parts = [fn(x.slice(a, b - a)) for a, b in zip(cuts, cuts[1:])
                 if b > a]
        return pa.concat_tables(parts) if parts \
            else to_arrow_schema(schema).empty_table()

    def write(self, site: dict, x, final: str, sort: list[str] | None = None,
              segments: bool = False, n_shards: int | None = None) -> None:
        """`x` as index dir `final`, through tmp dir -> rename, its rows
        ordered by `sort` when given; segments=True writes a file of one
        row group per fgroup of encode_layout over `n_shards` (the
        manifest's by default). In the driver pyarrow files
        (write_table_local); on Spark _atomic_write."""
        final = self.fs.join(self.path, final)
        spg = encode_layout(self.spark, n_shards or self.n_shards())[1] \
            if segments else None
        if site["ran"] == "spark":
            if segments:
                x = x.withColumn("fgroup", F.expr(f"shard div {spg}"))
            _atomic_write(x, final, sort, fs=self.fs, segments=segments)
            return
        if sort:
            x = x.sort_by([(c, "ascending") for c in sort])
        parts = [x]
        if segments:
            fg = x.column("shard").to_numpy() // spg
            parts = [x.filter(pa.array(fg == g)) for g in np.unique(fg)]
        write_table_local(self.fs, parts or [x], final, **(
            {"row_group_size": max(1, x.num_rows)} if segments else {}))
