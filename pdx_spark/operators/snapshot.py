"""The driver-side reader of one index snapshot (one manifest).

A Searcher and a Maintainer each hold one Snapshot. It owns what both
read on the driver: the per-dir readers (a pyarrow dataset on a local
fs, else a Spark frame), the filtered row reader over the term-sorted
dirs (meta_rows), and the byte estimate that decides whether a slice of
the segments fits one task (routed_bytes, site). A Maintainer mutates
its manifest in place as it commits; the segment listing is keyed by
the manifest's segment dirs, so the estimate follows every commit.
"""

from __future__ import annotations

import functools
import operator
import threading

import numpy as np
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import functions as F

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
# the Spark job around the task: routed scans (Searcher) and targeted
# compactions (Maintainer.compact_targeted) both take that site.
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


class Snapshot:
    def __init__(self, spark, fs, path: str, manifest: dict,
                 docs_per_shard: int):
        self.spark, self.fs, self.path = spark, fs, path
        self.manifest = manifest
        self.docs_per_shard = docs_per_shard
        # per-dir readers (see source) and the segment listing (see
        # segment_bytes), built once under the lock by whichever
        # concurrent caller needs them first
        self._sources: dict[str, object] = {}
        self._listing: tuple[tuple, list[int]] | None = None
        self._lock = threading.Lock()

    def seg_dirs(self) -> list[str]:
        return self.manifest["segment_dirs"] + self.manifest.get("deltas", [])

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
        """Where work over `n_shards` shards runs, with the byte
        estimate next to its cap: in the driver when the caller can run
        it there (`eligible`) and the slice fits one routed-scan task by
        bytes, on Spark otherwise (a larger slice, an unknown size)."""
        routed = self.routed_bytes(n_shards)
        driver = eligible and 0 < routed <= _ROUTED_TASK_BYTES
        return {"ran": "driver" if driver else "spark",
                "cap": "_ROUTED_TASK_BYTES", "limit": _ROUTED_TASK_BYTES,
                "routed_bytes": routed}

    def source(self, d: str, schema):
        """The reader of index dir `d`: a pyarrow dataset on a local fs,
        else a Spark frame. Built once per Snapshot — index dirs are
        immutable once a manifest references them — so no read lists
        files again."""
        with self._lock:
            src = self._sources.get(d)
            if src is None:
                path = self.fs.join(self.path, d)
                if self.fs.is_local:
                    import pyarrow.dataset as ds
                    src = ds.dataset(path, format="parquet")
                else:
                    src = (self.spark.read.schema(schema)
                           .option("recursiveFileLookup", "true")
                           .parquet(path))
                self._sources[d] = src
            return src

    def meta_rows(self, dirs: list[str], schema, columns: list[str], *,
                  terms: list[str] | None = None,
                  term_range: tuple[str, str] | None = None,
                  shards: list[int] | None = None) -> pa.Table:
        """The driver-side reader of index dirs (term_stats, directory,
        segments, tombstones; base + deltas): the `columns` of the rows
        whose term is in `terms`, or in [lo, hi) = `term_range`, or of
        every row when neither is given, and whose shard is in `shards`
        when given, plus `dir`, the row's index into `dirs`. A dir's
        seg_excludes shards are dropped, as in Searcher.segments().
        pyarrow on a local fs, else one Spark scan of the same filter
        collected as Arrow. pyarrow tests ranges, not `isin`, against
        row-group stats, so the terms add their [min, max] envelope and
        the shards become an OR of their contiguous runs: stats skip the
        row groups, and so the files, that hold none."""
        excl = self.manifest.get("seg_excludes", {})
        if self.fs.is_local:
            import pyarrow.dataset as ds
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
                tab = self.source(d, schema).to_table(columns=columns,
                                                      filter=f)
                tabs.append(tab.append_column(
                    "dir", pa.array(np.full(tab.num_rows, i, np.int32))))
            return pa.concat_tables(tabs, promote_options="permissive")
        conds = []
        if terms is not None:
            conds.append(_in_list("term", terms))
        elif term_range is not None:
            conds.append((F.col("term") >= term_range[0])
                         & (F.col("term") < term_range[1]))
        if shards is not None:
            conds.append(_id_set("shard", shards))
        df = None
        for i, d in enumerate(dirs):
            part = self.source(d, schema)
            if conds:
                part = part.filter(functools.reduce(operator.and_, conds))
            if excl.get(d):
                part = part.filter(~F.col("shard").isin(
                    [int(x) for x in excl[d]]))
            part = part.select(*columns, F.lit(i).cast("int").alias("dir"))
            df = part if df is None else df.unionByName(part)
        return df.toArrow()
