"""Query serving: block-max pruned top-k BM25 over the blocked segments.

Mirrors the reference's pruned scan (PDXearch::Search,
searcher.hpp:596-724), re-shaped for Spark. A batch is Searcher.plan()
(steps 1-2, everything decided before scoring, as a QueryPlan) then
Searcher.execute(plan) (steps 3-5); search_batch runs both:

  1. plan(), query prep on the driver: tokenize, fetch idf of query
     terms from term_stats (filter pushdown on the sorted `term`
     column; analog of rotate-the-query, searcher.hpp:602-613), and the
     predicate's pass fraction and mask.
  2. plan(), the shard plan: the directory slice of the query terms is
     read on the driver (Snapshot.meta_rows) and summed in numpy to
     per-(query, shard) upper bounds — the "rank clusters by promise"
     step, in-process as in the reference (searcher.hpp:181-215) — and
     each query's seed shards picked. A batch whose slice or (query,
     shard) bound count exceeds _PLAN_SLICE_CAP, or too small for
     pruning to pay, runs exhaustive instead (rank-identical).
  3. execute(), seed scan ("Start", searcher.hpp:218-281): each query's
     most promising `seed_shards` shards are scored exactly; the driver
     keeps the k-th best seed score per query (θ, Q floats) and the
     seed top-k (≤ Σk rows) — never candidates.
  4. execute(), main scan ("Warmup/Prune", searcher.hpp:376-540):
     per-(query, shard) pairs whose upper bound can still beat θ route
     each shard to only its own queries (work = Σ_q |shards_q|, not
     |shards| × Q). Every closure scan (exhaustive, seed, main routed,
     unrouted) goes through one function, Searcher._scan_topk: a scan
     whose estimated byte slice (the routed shards', or the whole
     index's) fits one routed-scan task (_ROUTED_TASK_BYTES) is scored
     IN THE DRIVER, as the reference runs Warmup and Prune in the
     query's own thread: the shards' rows of the batch's terms come
     through Snapshot.meta_rows and score in one table — a shard's rows
     together, exact under any file layout. A larger scan runs on
     Spark. Routing reaches the JVM as data: the batch's term set and
     the routed shard set are InSet predicates (_in_list, _id_set), so
     every batch runs the same generated code — one fixed kernel fed a
     positions array, as searcher.hpp:104-117 — and the shard set still
     skips segment files at parquet row-group stats. Spark scans are
     SHUFFLE-FREE: segment files hold complete shards, so the scorer
     runs as mapInArrow directly on the parquet scan with routing and
     small masks in the closure. One Arrow scoring body (_arrow_scorer)
     serves every channel: the driver scan, the map scan, a per-shard
     groupBy when files may hold several row groups, and the cogroup
     channel for masks and routing above _ROUTING_CAP. When θ cannot
     prune (uniform corpora — every shard's bound beats θ), execute()
     sees it from the main-pair ratio and runs ONE unrouted pass
     instead that skips each query's seed shards (anti-routing), so the
     seed results are reused, never rescored. Inside a shard the scorer
     builds a per-doc upper-bound array from block metadata alone
     (range-add/cumsum), masks docs below θ, skips terms with no
     surviving candidate, decodes each term ONCE PER PARTITION (one
     batched unpack straight from the Arrow payload buffers, sliced per
     shard by searchsorted), and scores with one vectorized add per
     (query, term) in float64 (numpy is our SIMD;
     scalar_computers.hpp:19-44's role). Exactness: every term with a
     candidate is decoded fully, so candidate scores are complete;
     pruned docs provably score < θ.
  5. execute(), global merge: per-partition (or driver-scan) per-query
     top-k, merged on the driver (bounded: n_segment_files x Σk rows).
     Above _MERGE_LOCAL_CAP, or when the scan ran per shard, a window
     top-k per query runs Spark-side instead. Tie-break (score desc,
     doc_id asc).

A QueryPlan holds all of a batch's state, so concurrent batches on one
Searcher never share any; its `record` (mode and why, counts, cap hits,
each scan's site, timings) is the batch's trace, and search_batch
publishes the last finished one as Searcher.last_plan. One pass scores
all queries of a batch (amortizes job overhead, SURVEY §7.4): at most a
handful of bounded jobs, and none when every scan fits one task, so a
warm batch on a small index launches no Spark job at all. idf and the
directory slice are cached per term on a warm Searcher, each cache
bounded by _PLAN_SLICE_CAP (_TermCache). The remaining single-box limit
is memory bandwidth (the scan streams block bytes through Arrow/numpy)
— see BENCH.md's bandwidth ceiling.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from types import MappingProxyType

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdx_spark import schemas
from pdx_spark.config import SEED, BM25Params, IndexConfig
from pdx_spark.fs import index_fs, verify_single_rowgroup
from pdx_spark.functions.blocks import decode_term_run_views, payload_view
from pdx_spark.functions.bm25 import idf_np, tfnorm_np
from pdx_spark.functions.tokenize import tokenize_py
from pdx_spark.operators.indexer import read_manifest
from pdx_spark.operators.snapshot import Snapshot, _id_set, _in_list

_THETA_GUARD = 1e-9  # float-monotonicity guard on upper-bound comparisons


def _pdf_df(spark, data: dict, schema) -> DataFrame:
    """createDataFrame via pandas: the Arrow fast path, not per-row JVM
    conversion (thousands of driver-side rows per batch)."""
    return spark.createDataFrame(pd.DataFrame(data), schema=schema)

# max (query, shard) routing pairs or mask rows shipped via the scorer
# closure; above this the cogroup channel carries them
_ROUTING_CAP = 200_000

# max directory rows, and max (query, shard) upper bounds, the driver
# planner holds for one batch; a batch above either runs exhaustive
_PLAN_SLICE_CAP = 2_000_000

# max rows the driver-side global top-k merge may collect (bounded by
# n_segment_files x Σk); above this the window merge runs Spark-side
_MERGE_LOCAL_CAP = 4_000_000

# cogroup side-channel row kinds (one aux frame carries both because
# cogroup pairs exactly two frames); aux rows are
# (shard long, kind int, id long, p int)
_KIND_MASK = 0   # (shard, kind=0, id=doc_id, p): selection-vector row
_KIND_QUERY = 1  # (shard, kind=1, id=query_id): per-shard query routing

def _route(pairs) -> dict[int, set]:
    """(query, shard) pairs -> shard -> query set routing."""
    routing: dict[int, set] = {}
    for q, sh in pairs:
        routing.setdefault(sh, set()).add(q)
    return routing


def _term_runs(terms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the equal-term runs of a term-sorted array."""
    change = np.nonzero(terms[1:] != terms[:-1])[0] + 1
    return (np.concatenate([[0], change]),
            np.concatenate([change, [len(terms)]]))


def _results_table(q, d, s) -> pa.Table:
    return pa.table({"query_id": pa.array(q, pa.int32()),
                     "doc_id": pa.array(d, pa.int64()),
                     "score": pa.array(s, pa.float64())})


def _topk_per_query(q: np.ndarray, d: np.ndarray, s: np.ndarray,
                    kmap: dict):
    """Sort (query, doc, score) rows by (query, score desc, doc asc) —
    the exact window order of _global_topk — and keep each query's
    first kmap[query] rows. The one top-k cut behind the per-partition
    scorer output and the driver merge."""
    if not len(q):
        return q, d, s
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    keep = np.zeros(len(q), dtype=bool)
    starts = np.concatenate(
        [[0], np.nonzero(q[1:] != q[:-1])[0] + 1, [len(q)]])
    for i in range(len(starts) - 1):
        a, b = int(starts[i]), int(starts[i + 1])
        keep[a:min(b, a + kmap.get(int(q[a]), 0))] = True
    return q[keep], d[keep], s[keep]


def _arrow_scorer(spec: dict):
    """Build the one scoring body, score(tab, routing, anti, mask), over
    a pa.Table of SEGMENTS rows -> pa.Table(query_id, doc_id, score):
    the per-query top-k of the table's rows. Every scan channel calls
    it through a thin adapter (_map_scorer, the groupBy("shard") lambda
    in Searcher._map_scan, _cogroup_scorer); only how rows and routing
    arrive differs.

    spec: {queries: [(qid, [terms sorted], k, theta|None)],
           idf: {term: float}, avgdl, k1, b, docs_per_shard,
           require_all: bool, min_match: int}
    routing: shard -> set(query_id) to score (None = every query scans
             every shard).
    anti: shard -> set(query_id) to SKIP — already scored in the seed
          phase, so the unrouted fallback reuses seed results instead
          of rescoring seed shards (bounded: <= seed_shards x Q pairs).
    mask: {mode, ids sorted int64[], p int8[]} selection vector (the
          analog of db_mock/predicate_evaluator.hpp:9-31): p=1 allowed
          by the predicate, p=0 tombstoned/denied. mode is None (no
          predicate), "allow" (mask rows are the passing docs, low
          selectivity) or "deny" (mask rows are the failing docs, high
          selectivity) — the F3 selectivity-adaptive branch.
    """
    queries = spec["queries"]
    idf = spec["idf"]
    avgdl = spec["avgdl"]
    params = BM25Params(k1=spec["k1"], b=spec["b"])
    width = spec["docs_per_shard"]
    # match-count semantics: require_all (AND) demands every query
    # term; min_match m demands >= m distinct terms (OR is m=1). Exact
    # per shard (doc-range sharding keeps all of a doc's postings in
    # one shard); callers drop queries that cannot reach m upfront.
    require_all = spec["require_all"]
    min_match = spec["min_match"]
    count_matches = require_all or min_match > 1
    all_qids = {q for q, _, _, _ in queries}
    terms_of = {q: ts for q, ts, _, _ in queries}
    kmap = {q: k for q, _, k, _ in queries}

    def shard_allow(base: int, mask: dict | None):
        """Doc-level allow/block vector for one shard, sliced out of the
        sorted mask; None when nothing is masked."""
        if mask is None:
            return None
        lo, hi = np.searchsorted(mask["ids"], [base, base + width])
        ids, p = mask["ids"][lo:hi] - base, mask["p"][lo:hi]
        if mask["mode"] == "allow":
            allow = np.zeros(width, dtype=bool)
            allow[ids[p == 1]] = True
        elif len(ids):  # "deny" predicate and/or tombstones: all-pass base
            allow = np.ones(width, dtype=bool)
        else:
            return None
        allow[ids[p == 0]] = False
        return allow

    def score_shard(terms_arr, first, last, gub, base, qids, allow,
                    part_lookup, out):
        """Score one shard's rows ((term, first_doc)-sorted; first/last
        base-relative) for the queries in qids (None = all), appending
        each query's shard top-k to out = (q, d, s) lists."""
        term_rows = {str(terms_arr[s]): (s, e)
                     for s, e in zip(*_term_runs(terms_arr))}

        # per-TERM decode cache: (positions, g) for this shard, sliced
        # out of the partition-level decode at most once for the whole
        # query batch. Scoring is then ONE fancy-index add per (query,
        # term) — the per-(query, term, block) Python loop was the CPU
        # hot spot (and its memory churn was what broke N->4N scaling on
        # shared hosts).
        decoded_terms: dict[str, tuple] = {}

        def term_arrays(t: str):
            hit = decoded_terms.get(t)
            if hit is None:
                # the term's absolute ids are ascending across the
                # partition, so this shard's run is a contiguous
                # [base, base+width) window
                ids_abs, g_all = part_lookup(t)
                lo = np.searchsorted(ids_abs, base)
                hi = np.searchsorted(ids_abs, base + width)
                hit = (ids_abs[lo:hi] - base, g_all[lo:hi])
                decoded_terms[t] = hit
            return hit

        scores = np.zeros(width, dtype=np.float64)   # reused per query
        diff = np.zeros(width + 1, dtype=np.float64)  # reused ub builder
        nmatch = np.zeros(width, dtype=np.int32) if count_matches else None

        out_q, out_d, out_s = out
        for qid, qterms, k, theta in queries:
            if qids is not None and qid not in qids:
                continue
            present = [t for t in qterms if t in term_rows]
            if not present:
                continue
            need = len(qterms) if require_all else min_match
            if count_matches and len(present) < need:
                # too few of the query's terms have postings in this
                # shard for any doc here to reach the match threshold
                # (qterms are distinct and corpus-present; a doc's
                # postings never span shards)
                continue
            # candidate mask from block metadata only (range-add + cumsum)
            # — a WORK-SAVER, not a correctness gate: docs below θ can
            # never enter the global top-k merge. Skipped for unpruned
            # scans (θ=None, no filter).
            cand = None
            if theta is not None:
                diff[:] = 0.0
                for t in present:
                    s, e = term_rows[t]
                    w = idf[t] * gub[s:e]
                    np.add.at(diff, first[s:e], w)
                    np.add.at(diff, last[s:e] + 1, -w)
                ub = np.cumsum(diff[:width])
                cand = (ub > 0) & (ub >= theta - _THETA_GUARD * abs(theta))
            if allow is not None:
                cand = allow.copy() if cand is None else (cand & allow)
            ccum = None
            if cand is not None:
                if not cand.any():
                    continue  # whole shard provably below θ for this query
                ccum = np.concatenate([[0], np.cumsum(cand)])

            scores[:] = 0.0
            if count_matches:
                nmatch[:] = 0
            touched = False
            for t in present:  # sorted term order == oracle accumulation order
                s, e = term_rows[t]
                if ccum is not None and not np.any(
                        ccum[last[s:e] + 1] - ccum[first[s:e]]):
                    continue  # no candidate doc in any of this term's blocks
                pos, g = term_arrays(t)
                # within one term a doc appears once, so fancy-index +=
                # is safe and bit-identical to the per-block accumulation
                # (a dense cached-vector variant measured SLOWER under
                # real memory traffic: 64 KB read+write per term-add vs
                # the scatter's nnz-proportional footprint)
                scores[pos] += idf[t] * g
                if count_matches:
                    nmatch[pos] += 1
                touched = True
            if not touched:
                continue

            if cand is None:
                sel = np.flatnonzero(scores > 0)
            else:
                sel = np.flatnonzero(cand & (scores > 0))
            if count_matches and len(sel):
                # match-count gate: keep docs reaching the threshold
                # (AND: every distinct corpus-present query term; msm:
                # >= m of them). A term skipped by the candidate check
                # above was matched by no candidate doc, so the count
                # shortfall it causes is correct, never spurious.
                sel = sel[nmatch[sel] >= (len(present) if require_all
                                          else min_match)]
            if len(sel) == 0:
                continue
            vals = scores[sel]
            if k > 0 and len(sel) > 4 * k + 64:
                # O(n) pre-cut before the O(n log n) sort: keep every doc
                # scoring >= the k-th largest value (ties INCLUDED, so
                # the doc-asc tie-break below still sees them) — a hot
                # term makes |sel| thousands per shard and the full
                # lexsort was the scorer's top cost at large batches
                kth = np.partition(vals, len(vals) - k)[len(vals) - k]
                keep = vals >= kth
                sel, vals = sel[keep], vals[keep]
            order = np.lexsort((sel, -vals))[:k]
            top = sel[order]
            out_q.append(np.full(len(top), qid, dtype=np.int32))
            out_d.append(top.astype(np.int64) + base)
            out_s.append(vals[order])

    def routed_rows(terms, shard, routing: dict) -> pa.Array:
        """Mask over term-sorted (term, shard) rows: True where a query
        routed to the row's shard holds the row's term."""
        need: dict[str, list] = {}
        for sh in np.unique(shard).tolist():
            for t in set().union(*(terms_of[q]
                                   for q in routing.get(sh, ()))):
                need.setdefault(t, []).append(sh)
        keep = np.zeros(len(terms), dtype=bool)
        for s, e in zip(*_term_runs(terms)):
            shs = need.get(str(terms[s]))
            if shs:
                keep[s:e] = np.isin(shard[s:e], shs)
        return pa.array(keep)

    def score(tab: pa.Table, routing: dict | None = None,
              anti: dict | None = None, mask: dict | None = None):
        if tab.num_rows == 0:
            return _results_table([], [], [])
        # the (large, binary) payload columns never become Python bytes
        # objects: the table is sorted in C++ and the scorer decodes
        # straight from the BinaryArray buffers. Arrow string sort is
        # byte-lexicographic == Python str order for these ASCII tokens;
        # (term, first_doc) is unique per row, so the order is
        # deterministic
        order = pc.sort_indices(tab, sort_keys=[("term", "ascending"),
                                                ("first_doc", "ascending")])
        if routing is not None:
            # the row-precise routing cut, before any payload is copied
            # or decoded: the JVM scan filters on the batch's term set
            # and the routed shard set only, so a shard also carries the
            # terms of queries routed elsewhere
            order = order.filter(routed_rows(
                tab.column("term").take(order).to_numpy(),
                tab.column("shard").take(order).to_numpy(), routing))
            if not len(order):
                return _results_table([], [], [])
        tab = tab.take(order).combine_chunks()
        views = tuple(payload_view(tab.column(c).chunk(0))
                      for c in ("ids", "tfs", "dls"))

        def col(c):
            return tab.column(c).to_numpy()

        terms, shard = col("term"), col("shard").astype(np.int64)
        first_doc, last_doc = col("first_doc"), col("last_doc")
        # avgdl-drift-safe per-block upper bound (monotone in tf up, dl
        # down) — valid after appends shift avgdl, unlike stored gmax
        gub = tfnorm_np(col("max_tf").astype(np.int64),
                        col("min_dl").astype(np.int64), avgdl, params)

        # term -> (absolute doc ids, tfnorm g) for the whole partition,
        # decoded lazily ONCE for all terms. The delta-chain stitch is
        # exact ACROSS term runs (the cumsum through the end of any block
        # equals its last_doc, so the next run-leading block's patch
        # first_doc[i] - last_doc[i-1] lands it at its absolute
        # first_doc — the same int64 arithmetic per block as per-run
        # decode calls, bit-identical). Paying the unpack's fixed cost
        # 3x per PARTITION instead of 3x per (term, partition) was
        # measured at 4.0 of 5.1 CPU-s on a 200-query batch.
        box: list = []
        pcache: dict[str, tuple] = {}

        def decode_all():
            n_a = col("n").astype(np.int64)
            ids_all, tfs_all, dls_all = decode_term_run_views(
                *views, col("ids_bw").astype(np.int64),
                col("tfs_bw").astype(np.int64),
                col("dls_bw").astype(np.int64), n_a, first_doc, last_doc)
            vend = np.cumsum(n_a)
            return ({str(terms[s]): (s, e)
                     for s, e in zip(*_term_runs(terms))},
                    ids_all, tfnorm_np(tfs_all, dls_all, avgdl, params),
                    vend - n_a, vend)

        def part_lookup(t: str):
            hit = pcache.get(t)
            if hit is None:
                if not box:
                    box.append(decode_all())
                tidx, ids_all, g_all, vstart, vend = box[0]
                se = tidx.get(t)
                if se is None:
                    hit = (np.empty(0, dtype=np.int64), np.empty(0))
                else:
                    s, e = se
                    a, b = int(vstart[s]), int(vend[e - 1])
                    hit = (ids_all[a:b], g_all[a:b])
                pcache[t] = hit
            return hit

        out: tuple[list, list, list] = ([], [], [])
        by_shard = np.argsort(shard, kind="stable")  # keeps row order
        cuts = np.nonzero(np.diff(shard[by_shard]))[0] + 1
        for rows in np.split(by_shard, cuts):
            sh = int(shard[rows[0]])
            qids = None
            if routing is not None:
                qids = routing[sh]  # the routing cut kept routed shards only
            elif anti is not None and sh in anti:
                qids = all_qids - anti[sh]
                if not qids:
                    continue
            base = sh * width
            score_shard(terms[rows], first_doc[rows] - base,
                        last_doc[rows] - base, gub[rows], base, qids,
                        shard_allow(base, mask), part_lookup, out)
        if not out[0]:
            return _results_table([], [], [])
        # per-PARTITION top-k per query: cuts merge input from
        # (shards x Q x k) to (partitions x Q x k) rows — the downstream
        # merge (driver or window) then sorts thousands, not millions
        return _results_table(*_topk_per_query(
            *(np.concatenate(c) for c in out), kmap))

    return score


def _map_scorer(spec: dict, routing=None, anti=None, mask=None):
    """mapInArrow adapter: score a SCAN partition directly (no shuffle of
    the segment frame); routing, anti-routing and the mask ride the
    closure. Exact under fragmentation: a doc's postings live in ONE
    segment generation, whose shard rows live in one file, so its full
    score is computed in one fragment; a shard split across base and
    delta dirs yields per-fragment top-k lists whose union is a superset
    of its top-k, exact after the global merge. A segment file holds one
    row group (manifest `seg_single_rg`, checked at load), and Spark
    gives a row group to the one split holding its midpoint, so no file
    is torn."""
    score = _arrow_scorer(spec)

    def fn(batches):
        bl = [b for b in batches if b.num_rows]
        if bl:
            out = score(pa.Table.from_batches(bl), routing, anti, mask)
            yield from out.to_batches()
    return fn


def _cogroup_scorer(spec: dict, mode: str | None, routed: bool):
    """cogroup(aux.groupBy("shard")).applyInArrow adapter, for masks and
    routing too large for the closure. One shard's aux rows
    (shard, kind, id, p) become the closure form: kind=0 rows the mask
    (`mode` is its predicate mode), kind=1 rows the shard's query
    routing. With `routed`, a shard without kind=1 rows scores
    nothing."""
    score = _arrow_scorer(spec)

    def fn(key, seg_tab, aux_tab):
        sh = int(key[0].as_py())
        kind = aux_tab.column("kind").to_numpy()
        ids = aux_tab.column("id").to_numpy().astype(np.int64)
        p = aux_tab.column("p").to_numpy().astype(np.int8)
        routing = {sh: set(ids[kind == _KIND_QUERY].tolist())} \
            if routed else None
        m = kind == _KIND_MASK
        order = np.argsort(ids[m], kind="stable")
        mask = {"mode": mode, "ids": ids[m][order], "p": p[m][order]}
        return score(seg_tab, routing, None, mask)
    return fn


class _TermCache(dict):
    """term -> value cache of a long-lived Searcher, bounded at
    _PLAN_SLICE_CAP units (`weight(value)` each): an admit that would
    pass the bound drops the cache whole first. Batches copy their
    values out (into their QueryPlan), so a drop never reaches a
    running batch."""

    def __init__(self, weight):
        super().__init__()
        self.weight, self.size, self.lock = weight, 0, threading.Lock()

    def admit(self, new: dict) -> None:
        with self.lock:  # terms another batch admitted meanwhile count once
            new = {t: v for t, v in new.items() if t not in self}
            w = sum(map(self.weight, new.values()))
            if self.size + w > _PLAN_SLICE_CAP:
                self.clear()
                self.size = 0
            if w <= _PLAN_SLICE_CAP:
                self.update(new)
                self.size += w


@dataclass
class QueryPlan:
    """What Searcher.plan decided for one batch, run by execute.
    `record` is its trace: mode ("empty", "exhaustive", or "two_phase"
    until execute settles "routed", "unrouted" or "cogroup") and why,
    counts, filter mode and pass fraction, scan sites, timings."""
    live: list  # [(query_id, sorted distinct terms, k)]
    record: dict
    terms: list = field(default_factory=list)  # the live queries' terms
    spec: dict | None = None  # scoring spec with the batch's own idf
    mask: dict | None = None  # closure mask (_masks)
    mask_df: DataFrame | None = None  # cogroup mask frame
    pred_mode: str | None = None
    q_ub: dict | None = None  # query -> (shards, ub); None: exhaustive
    seed: set = field(default_factory=set)  # seed (query, shard) pairs


class Searcher:
    """Loaded index handle (analog of the restored PDX index +
    PDXearch searcher, index.hpp:241-267)."""

    # the record of the last finished search_batch (QueryPlan.record):
    # which strategy ran and why — the hook ops dashboards and tests read
    last_plan = MappingProxyType({})  # read-only until a batch finishes

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        self.fs = index_fs(spark, path)
        self.manifest = read_manifest(path, fs=self.fs)
        fv = self.manifest.get("format_version", 1)
        if fv != IndexConfig.format_version:
            # v1 indexes lack the u8-quantized directory columns; loading
            # one silently collapses every pruning bound to 0 — refuse
            # loudly instead (the reference factory's format tag role)
            raise ValueError(
                f"index at {path} has format_version={fv}, this engine "
                f"reads v{IndexConfig.format_version}; rebuild the index "
                f"(Indexer.build) or compact it with a matching engine")
        p = self.manifest["params"]
        self.params = BM25Params(**p["bm25"])
        self.cfg = IndexConfig(**p["layout"])
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self._sel_sample = None  # cached docs sample for selectivity est.
        # term -> idf (load-time N), counted in terms; term -> (shards,
        # admissible tfnorm bound) from the directory (_plan_slice),
        # counted in shard rows
        self._idf_cache = _TermCache(lambda v: 1)
        self._plan_cache = _TermCache(lambda v: max(1, len(v[0])))
        # the reader of this manifest (dir lists, merged views,
        # meta_rows, the segment byte estimate), as Maintainer's
        self.snap = Snapshot(spark, self.fs, path, self.manifest,
                             self.cfg.docs_per_shard)
        self._map_scan_ok = self._verify_scan_granularity()

    def _routed_task_count(self, n_routed_shards: int) -> int:
        """Task count for a routed scan on Spark: at most one per routed
        shard, at most defaultParallelism, and at most one per
        _ROUTED_TASK_BYTES of the routed BYTE slice. Each python task
        has a fixed 0.14-0.25 CPU-s cost (pyspark's setup_spark_files
        re-reads pyspark.zip about 16 times); the round-5 pruning bench
        measured it alone turning routed scans from a CPU win into a 2x
        loss on a 28 MB index. A slice that fits ONE task never gets
        here: Snapshot.site sends it to the driver."""
        n = max(1, min(self.spark.sparkContext.defaultParallelism,
                       n_routed_shards))
        site = self.snap.site(n_routed_shards, False)
        if site["routed_bytes"] > 0:
            n = min(n, -(-site["routed_bytes"] // max(1, site["limit"])))
        return n

    def _verify_scan_granularity(self) -> bool:
        """The shuffle-free map-scan is exact only if every segment file
        holds exactly ONE row group (Spark splits parquet at row-group
        granularity; a torn file would merge partial BM25 scores).
        True only when PROVEN: by the manifest flag writers record
        after verifying their output, or by re-reading the footers
        here. Otherwise the closure scorer runs under groupBy("shard"),
        exact under any file layout."""
        if self.manifest.get("seg_single_rg") is True:
            return True
        return all(verify_single_rowgroup(self.fs, d, root=self.path)
                   for d in self.snap.seg_dirs())

    @classmethod
    def load(cls, spark, path: str) -> "Searcher":
        return cls(spark, path)

    def close(self) -> None:
        """Release the frames this Searcher persisted (the docs sample
        behind predicate selectivity estimates). The Searcher stays
        usable; a later predicate batch persists a fresh sample."""
        if self._sel_sample is not None:
            self._sel_sample[0].unpersist()
            self._sel_sample = None

    def __enter__(self) -> "Searcher":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- merged views over base + maintenance deltas (the Snapshot's) ---------
    def segments(self) -> DataFrame:
        return self.snap.segments()

    def docs(self) -> DataFrame:
        return self.snap.docs()

    def term_stats(self) -> DataFrame:
        return self.snap.term_stats()

    def tombstones(self) -> DataFrame | None:
        return self.snap.tombstones()

    # -- public API ----------------------------------------------------------
    def search(self, query_text: str, k: int = 10, *, exact: bool = False,
               predicate: str | None = None,
               require_all_terms: bool = False,
               min_should_match: int = 1) -> list[tuple[int, float]]:
        """One query -> [(doc_id, score)], sorted (score desc, doc_id
        asc) in the driver from the rows execute() holds there."""
        pdf = self.execute(self.plan(
            [(0, query_text, k)], exact=exact, predicate=predicate,
            require_all_terms=require_all_terms,
            min_should_match=min_should_match))
        if pdf is None:
            return []
        pdf = pdf.sort_values(["score", "doc_id"], ascending=[False, True])
        return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))

    def search_batch(self, queries: list[tuple[int, str, int]],
                     **options) -> DataFrame:
        """-> DataFrame(query_id, doc_id, score), per-query top-k
        (materialized — result sets are tiny, <= Σ k): plan() with the
        keyword options plan() takes (exact, predicate, seed_shards,
        two_phase_min_shards, force_two_phase, require_all_terms,
        min_should_match), then execute(); the plan's record becomes
        last_plan."""
        plan = self.plan(queries, **options)
        pdf = self.execute(plan)
        self.last_plan = plan.record
        return self._results_df(pdf)

    def plan(self, queries: list[tuple[int, str, int]], *,
             exact: bool = False, predicate: str | None = None,
             seed_shards: int = 2, two_phase_min_shards: int = 64,
             force_two_phase: bool = False, require_all_terms: bool = False,
             min_should_match: int = 1) -> QueryPlan:
        """Everything a batch decides before it scores -> QueryPlan: the
        live queries with the batch's own idf, the scoring spec, the
        predicate's filter mode, pass fraction and masks, and the
        strategy with its reason. exact=True forces the exhaustive scan
        (nprobe=0 analog, searcher.hpp:614-616). Otherwise, when the
        index has enough shards for skipping to pay, the θ-seeded
        two-phase scan is planned from the directory slice of the query
        terms (_upper_bounds): per-(query, shard) bounds and each
        query's `seed_shards` seed pairs; a plan over _PLAN_SLICE_CAP
        runs exhaustive, its record naming the cap and the observed
        count. Results are rank-identical either way (the reference's
        adaptive branches, searcher.hpp:321-345). Writes no Searcher
        state but the per-term caches."""
        tm: dict[str, float] = {}
        rec = {"mode": "empty", "timings": tm}
        _t0 = time.time()
        parsed = [(int(qid), sorted(set(tokenize_py(qtext))), int(k))
                  for qid, qtext, k in queries]
        all_terms = sorted({t for _, ts, _ in parsed for t in ts})
        if not all_terms:
            return QueryPlan([], rec)
        idf = self._idf_lookup(all_terms)
        tm["idf"] = round(time.time() - _t0, 3)
        # min_should_match m counts matched distinct query terms (OR is
        # m=1, require_all_terms AND is m=n): a query with an OOV/dead
        # term under AND, or fewer live terms than m, matches nothing —
        # dropped HERE, as the scorer's per-shard check (exact: a doc's
        # postings share one shard) only sees terms that exist. θ stays
        # admissible: the OR upper bound >= the AND score.
        min_match = max(int(min_should_match), 1)
        if require_all_terms:
            live = [(q, ts, k) for q, ts, k in parsed
                    if all(t in idf for t in ts)]
        else:
            live = [(q, [t for t in ts if t in idf], k)
                    for q, ts, k in parsed]
        live = [(q, ts, k) for q, ts, k in live
                if len(ts) >= min_match and ts]
        if not live:
            return QueryPlan([], rec)  # every term OOV/dead
        all_terms = sorted({t for _, ts, _ in live for t in ts})
        spec = {"idf": idf, "avgdl": self.avgdl, "k1": self.params.k1,
                "b": self.params.b,
                "docs_per_shard": self.cfg.docs_per_shard,
                "require_all": bool(require_all_terms),
                "min_match": min_match}
        pred_mode, sel_frac = (None, None) if predicate is None \
            else self._filter_mode(predicate)
        mask, mask_df = self._masks(predicate, pred_mode, sel_frac)

        n_shards = self.snap.n_shards()
        # exhaustive when pruning cannot pay: too few shards, or a batch
        # so large that its seed scan alone (Q x seed_shards >= shards)
        # is a full pass of I/O. Work-based, not corpus-based: the same
        # batch picks two-phase on a bigger index. force_two_phase
        # overrides (tests/bench exercise the pruned path explicitly).
        big_batch = len(live) * seed_shards >= n_shards
        q_ub = plan_cap = None
        if not exact and (force_two_phase or not (
                n_shards < max(two_phase_min_shards, 4 * seed_shards)
                or big_batch)):
            _t0 = time.time()
            q_ub, plan_cap = self._upper_bounds(live, all_terms, idf,
                                                require_all_terms)
            tm["plan_ub"] = round(time.time() - _t0, 3)
        seed = set()
        for q, (ush, ub) in (q_ub or {}).items():
            order = np.lexsort((ush, -ub))[:seed_shards]
            seed.update((q, int(ush[i])) for i in order)
        rec.update(mode="exhaustive" if q_ub is None else "two_phase",
                   n_shards=n_shards, n_queries=len(live),
                   big_batch=big_batch, mask_in_closure=mask is not None,
                   filter_mode=pred_mode, sel_frac=sel_frac)
        if plan_cap is not None:
            rec["plan_cap"] = plan_cap
        return QueryPlan(live, rec, all_terms, spec, mask, mask_df,
                         pred_mode, q_ub, seed)

    def execute(self, plan: QueryPlan) -> pd.DataFrame | None:
        """Run a plan's scans -> its per-query top-k rows (query_id,
        doc_id, score) as pandas, None for an empty plan: one exhaustive
        scan, or seed scan -> θ -> the unrouted, routed or cogroup main
        scan, each through _scan_topk. Writes each scan's site record,
        the two-phase mode and pair counts into plan.record, and no
        Searcher state."""
        if not plan.live:
            return None
        rec, live, terms, mask = plan.record, plan.live, plan.terms, plan.mask
        n_shards, closure = rec["n_shards"], plan.mask_df is None
        cg = None if closure else (plan.mask_df, plan.pred_mode)
        qspec0 = dict(plan.spec, queries=[(q, ts, k, None)
                                          for q, ts, k in live])
        if plan.q_ub is None:
            rec["scan"] = self.snap.site(n_shards, closure)
            return self._scan_topk(rec["scan"], qspec0, live, terms,
                                   mask=mask, cogroup=cg and (*cg, None))

        # seed top-k + θ: the per-query top-k over the seed shards (<= Σk
        # rows) lands on the driver; θ (the k-th seed score,
        # searcher.hpp:82-91) falls out of it, and the rows are REUSED
        # as the seed shards' part of the final merge, never re-run.
        seed_routing = _route(plan.seed)
        rec["seed_scan"] = self.snap.site(len(seed_routing), closure)
        _t0 = time.time()
        seed_pdf = self._scan_topk(rec["seed_scan"], qspec0, live, terms,
                                   routing=seed_routing, mask=mask,
                                   cogroup=cg and (*cg, plan.seed))
        rec["timings"]["seed_scan"] = round(time.time() - _t0, 3)
        seed = seed_pdf.groupby("query_id")["score"].agg(["size", "min"])
        theta = {q: float(seed.at[q, "min"]) for q, _, k in live
                 if q in seed.index and seed.at[q, "size"] >= k}

        # main scan over the (query, shard) pairs that can still beat θ,
        # from the in-memory ub vectors (zero jobs)
        pairs = []
        for q, (ush, ub) in plan.q_ub.items():
            th = theta.get(q)
            keep = ush if th is None else \
                ush[ub >= th - _THETA_GUARD * abs(th)]
            pairs.extend((q, int(x)) for x in keep)
        n_main = rec["n_main"] = len(pairs)
        qspec1 = dict(plan.spec, queries=[(q, ts, k, theta.get(q))
                                          for q, ts, k in live])
        if closure and n_main > 0.5 * len(live) * n_shards:
            # θ cannot prune (uniform shards): per-pair routing would
            # ship ~Q x shards pairs to save nothing. ONE unrouted pass
            # with per-query θ (WAND with a warmed heap) SKIPS the seed
            # pairs in the scorer (anti-routing, <= seed_shards x Q
            # closure entries): the seed top-k supplies those shards, so
            # no (query, doc) is scored twice.
            rec.update(mode="unrouted",
                       main_scan=self.snap.site(n_shards, True))
            return self._scan_topk(rec["main_scan"], qspec1, live, terms,
                                   anti=seed_routing, mask=mask,
                                   extra=seed_pdf)

        main_pairs = [p for p in pairs if p not in plan.seed]
        routing = _route(main_pairs)
        # a large mask, or routing too large for the closure, rides the
        # cogroup channel as aux rows built from the driver's pair list
        cogroup = not closure or n_main > _ROUTING_CAP
        rec.update(mode="cogroup" if cogroup else "routed",
                   n_main_shards=len(routing),
                   main_scan=self.snap.site(len(routing), not cogroup)
                   if routing else None)
        if not routing:
            # every surviving pair was a seed pair: the collected seed
            # top-k IS the answer — zero further jobs
            return seed_pdf
        return self._scan_topk(
            rec["main_scan"], qspec1, live, terms, routing=routing,
            mask=mask, extra=seed_pdf,
            cogroup=(plan.mask_df, plan.pred_mode, main_pairs)
            if cogroup else None)

    def _upper_bounds(self, live, terms: list[str], idf: dict,
                      require_all: bool):
        """The plan (S2/S3 analog): per query, the shards holding any of
        its terms with their summed admissible bounds, from the
        directory slice of the batch's terms. -> ({query: (shards
        int64[], ub float64[])}, None), or (None, {cap, limit, observed
        count}) when the slice or the (query, shard) bound count exceeds
        _PLAN_SLICE_CAP — that batch runs exhaustive."""
        plan_terms, n_slice = self._plan_slice(terms)
        if plan_terms is None:
            return None, {"cap": "_PLAN_SLICE_CAP", "limit": _PLAN_SLICE_CAP,
                          "slice_rows": n_slice}
        q_ub, n_pairs = {}, 0
        for q, ts, _k in live:
            shs, contribs = [], []
            feas = None  # AND: shards where EVERY term has postings
            for t in ts:
                sh_t, g_t = plan_terms[t]
                if require_all:
                    feas = sh_t if feas is None else \
                        np.intersect1d(feas, sh_t, assume_unique=True)
                if len(sh_t):
                    shs.append(sh_t)
                    contribs.append(idf[t] * g_t)
            if not shs:
                continue
            ush, inv = np.unique(np.concatenate(shs), return_inverse=True)
            ub = np.zeros(len(ush))
            np.add.at(ub, inv, np.concatenate(contribs))
            if require_all:
                # conjunctive routing: only the intersection can match
                # all terms — the textbook AND shard prune (the scorer's
                # per-shard gate makes this a pure work-saver, never a
                # correctness dependency)
                keep = np.isin(ush, feas, assume_unique=True)
                ush, ub = ush[keep], ub[keep]
                if not len(ush):
                    continue
            n_pairs += len(ush)
            if n_pairs <= _PLAN_SLICE_CAP:  # past the cap, only count
                q_ub[int(q)] = (ush, ub)
        if n_pairs > _PLAN_SLICE_CAP:
            return None, {"cap": "_PLAN_SLICE_CAP", "limit": _PLAN_SLICE_CAP,
                          "ub_pairs": n_pairs}
        return q_ub, None

    def _scan_topk(self, site: dict, spec: dict, live, terms: list[str],
                   routing: dict[int, set] | None = None,
                   anti: dict[int, set] | None = None,
                   mask: dict | None = None, cogroup: tuple | None = None,
                   extra: pd.DataFrame | None = None) -> pd.DataFrame:
        """One closure scan of the batch's `terms` (every shard, or the
        `routing` ones) -> its per-query top-k merged with `extra` (the
        seed top-k), as pandas; every strategy's scans come here, run
        where `site` (Snapshot.site) says:
        - driver: the slice's segment rows through Snapshot.meta_rows,
          scored in ONE table by _arrow_scorer — all of a shard's rows
          together, the groupBy("shard") semantics, exact under any
          row-group layout;
        - spark: _map_scan, or the cogroup channel when `cogroup` =
          (mask_df, mode, routing pairs | None) carries a mask or
          routing too large for the closure; per-partition top-k merged
          on the driver, or by the window merge above _MERGE_LOCAL_CAP
          and after a cogroup scan."""
        if site["ran"] == "driver":
            tab = self.snap.meta_rows(
                self.snap.seg_dirs(), schemas.SEGMENTS,
                schemas.SEGMENTS.fieldNames(), terms=terms,
                shards=None if routing is None else list(routing))
            parts = [_arrow_scorer(spec)(tab, routing, anti, mask)
                     .to_pandas()]
        else:
            seg = self.segments().filter(_in_list("term", terms))
            if routing is not None:
                seg = seg.filter(_id_set("shard", routing))
            if cogroup is not None:
                mask_df, mode, pairs = cogroup
                res = self._scan(seg, spec, mask_df, mode, asg_df=None
                                 if pairs is None else self._pairs_df(pairs))
            else:
                res = self._map_scan(seg, spec, routing, anti, mask)
            if cogroup is not None or not self._merge_bound_ok(live):
                if extra is not None:
                    res = self._results_df(extra).unionByName(res)
                return self._global_topk(res, live).toPandas()
            # bounded per-partition top-k -> one collect stage, driver
            # merge (no exchange/window job)
            parts = [res.toPandas()]
        if extra is not None:
            parts.append(extra)
        return self._topk_merge_pdf(parts, live)

    def _plan_slice(self, terms: list[str]) -> tuple[dict | None, int]:
        """-> (term -> (shards int64[], admissible tfnorm bound
        float64[]), slice rows) for the query terms, from the directory
        (base + deltas) through Snapshot.meta_rows. The u8 bounds
        dequantize with each dir's own affine params
        (manifest["dir_quant"]); ceil/floor quantization keeps them
        admissible.

        Cached per term on the warm Searcher (_TermCache), like idf.
        The slice counts the cached rows of the batch's terms plus the
        rows read for the rest; above _PLAN_SLICE_CAP the plan is None
        and nothing new is cached."""
        from pdx_spark.functions.quantize import ZERO_PARAMS, dequantize_np
        got = {t: v for t in terms
               if (v := self._plan_cache.get(t)) is not None}
        missing = [t for t in terms if t not in got]
        n_slice = sum(len(v[0]) for v in got.values())
        dirs = self.snap.directory_dirs()
        tab = self.snap.meta_rows(
            dirs, schemas.DIRECTORY, ["term", "shard", "max_tf_q", "min_dl_q"],
            terms=missing) if missing else None
        n_slice += 0 if tab is None else tab.num_rows
        if n_slice > _PLAN_SLICE_CAP:
            return None, n_slice  # hot terms x huge index
        if missing:
            dq = self.manifest.get("dir_quant", {})
            pdf = tab.to_pandas()
            which = pdf["dir"].to_numpy()
            tf_q, dl_q = pdf["max_tf_q"].to_numpy(), pdf["min_dl_q"].to_numpy()
            max_tf, min_dl = np.empty(len(pdf)), np.empty(len(pdf))
            for i, d in enumerate(dirs):
                p, m = dq.get(d, ZERO_PARAMS), which == i
                max_tf[m] = dequantize_np(tf_q[m], p["tf_base"], p["tf_scale"])
                min_dl[m] = dequantize_np(dl_q[m], p["dl_base"], p["dl_scale"])
            pdf["max_tf"], pdf["min_dl"] = max_tf, min_dl
            if len(dirs) > 1:
                # delta dirs can repeat a (term, shard) key; collapse to
                # one admissible bound so ub isn't inflated
                pdf = pdf.groupby(["term", "shard"], as_index=False) \
                    .agg(max_tf=("max_tf", "max"), min_dl=("min_dl", "min"))
            empty = (np.empty(0, dtype=np.int64), np.empty(0))
            new = dict.fromkeys(missing, empty)  # absent terms: no shards
            for t, grp in pdf.groupby("term", sort=False):
                new[str(t)] = (grp["shard"].to_numpy(dtype=np.int64),
                               tfnorm_np(grp["max_tf"].to_numpy(),
                                         grp["min_dl"].to_numpy(),
                                         self.avgdl, self.params))
            self._plan_cache.admit(new)
            got.update(new)
        return {t: got[t] for t in terms}, n_slice

    def _live_df(self, **where) -> dict[str, int]:
        """term -> df summed over term_stats base + deltas (delete
        deltas are negative) for the live terms (df > 0) matching
        `where` (Snapshot.meta_rows' terms / term_range)."""
        tab = self.snap.meta_rows(self.snap.ts_dirs(), schemas.TERM_STATS,
                                  ["term", "df"], **where)
        df_by_term: dict[str, int] = {}
        for t, c in zip(tab["term"].to_pylist(), tab["df"].to_pylist()):
            df_by_term[t] = df_by_term.get(t, 0) + int(c)
        return {t: c for t, c in df_by_term.items() if c > 0}

    def expand_prefix(self, prefix: str, cap: int = 64) -> list[str]:
        """Live vocabulary terms starting with `prefix`, for prefix/
        wildcard queries (`search_batch([(0, " ".join(terms), k)])` then
        scores the expansion as a BM25 OR — Lucene's scoring-BooleanQuery
        rewrite). term_stats is written term-sorted, so the expansion is
        a RANGE read ([prefix, prefix+1) in byte order) pruned by
        row-group stats — a metadata lookup, not a vocabulary scan.
        Terms whose summed df is <= 0 (every holding doc deleted) are
        not returned. Raises if the expansion exceeds `cap` (an
        unanchored prefix on a web vocabulary is a user error, not a
        silent 10^6-term query)."""
        if not prefix or not (prefix.isascii() and prefix.isalnum()):
            raise ValueError(f"prefix must be a token prefix: {prefix!r}")
        prefix = prefix.lower()
        hi = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        terms = self._live_df(term_range=(prefix, hi))
        if len(terms) > cap:
            raise ValueError(
                f"prefix {prefix!r} expands to > {cap} terms; "
                f"tighten the prefix or raise cap")
        return sorted(terms)

    def _idf_lookup(self, terms: list[str]) -> dict[str, float]:
        """term -> idf for the query terms, from term_stats (base +
        deltas) through Snapshot.meta_rows. Driver-cached per Searcher
        (N is load-time fixed, so idf is too). OOV and dead terms are
        cached as NaN (df<=0) so repeats skip the lookup too."""
        got = {t: v for t in terms
               if (v := self._idf_cache.get(t)) is not None}
        missing = [t for t in terms if t not in got]
        if missing:
            df_by_term = self._live_df(terms=missing)
            new = {t: float(idf_np(d, self.n_docs)) if (
                d := df_by_term.get(t, 0)) > 0 else float("nan")
                for t in missing}
            self._idf_cache.admit(new)
            got.update(new)
        return {t: v for t in terms if not np.isnan(v := got[t])}

    def _pairs_df(self, pairs) -> DataFrame:
        """Driver (query, shard) pairs -> the asg_df frame of _scan."""
        qs, shs = zip(*pairs) if pairs else ((), ())
        return _pdf_df(self.spark, {
            "query_id": pd.Series(qs, dtype="int32"),
            "shard": pd.Series(shs, dtype="int64")},
            "query_id int, shard long")

    def _results_df(self, pdf: pd.DataFrame | None = None) -> DataFrame:
        """A local RESULTS frame of pdf's rows (Arrow; <= Σk rows by
        construction) — no rows without pdf."""
        if pdf is None or not len(pdf):
            return self.spark.createDataFrame([], schemas.RESULTS)
        return self.spark.createDataFrame(pdf, schema=schemas.RESULTS)

    # -- internals -----------------------------------------------------------
    def _filter_mode(self, predicate: str) -> tuple[str, float]:
        """-> (allow/deny, pass fraction) from a CACHED docs sample —
        never a per-batch full-table count (the scale-killer flagged in
        round 1). The mode only affects which side of the predicate
        ships to the scorer; results are identical either way, so
        sampling error is benign."""
        from pdx_spark.plans.planner import SELECTIVITY_THRESHOLD
        sample = self._sel_sample
        if sample is None:
            frac = min(1.0, 200_000.0 / max(self.n_docs, 1))
            s = self.docs() if frac >= 1.0 else self.docs().sample(
                fraction=frac, seed=SEED)
            s = s.persist()
            self._sel_sample = sample = (s, s.count())
        sample, n = sample
        n_pass = sample.filter(F.expr(predicate)).count()
        mode = "deny" if n_pass >= SELECTIVITY_THRESHOLD * max(n, 1) \
            else "allow"
        return mode, n_pass / max(n, 1)

    def _masks(self, predicate: str | None, pred_mode: str | None,
               sel_frac: float | None) -> tuple:
        """-> (closure mask | None, cogroup mask frame | None) of a
        batch's predicate (with its _filter_mode and pass fraction) and
        tombstones. A mask of at most _ROUTING_CAP rows rides the scorer
        CLOSURE as {mode, ids sorted int64[], p int8[]}, as the
        reference fuses selection vectors into the scan
        (searcher.hpp:284-372), keeping the map scan and the unrouted
        pass; a larger one is the cogroup frame (_mask_df). Tombstones
        alone are read in the driver (doc_ids); a predicate's mask is
        peeked, unless the sample's pass fraction shows it is huge."""
        if pred_mode is None and self.snap.tomb_dir() is None:
            return None, None
        est = self.manifest.get("tombstones", 0)
        mask_df = None
        if pred_mode is not None:
            est += self.n_docs * (sel_frac if pred_mode == "allow"
                                  else 1.0 - sel_frac)
            mask_df = self._mask_df(predicate, pred_mode)
        if est <= 2 * _ROUTING_CAP:
            if mask_df is None:  # a driver read, no job on a local fs
                ids = self.snap.doc_ids(self.snap.tomb_dir()).astype(np.int64)
                p = np.zeros(len(ids), np.int8)
            else:
                pdf = mask_df.select("id", "p").limit(_ROUTING_CAP + 1) \
                    .toPandas()
                ids = pdf["id"].to_numpy(np.int64)
                p = pdf["p"].to_numpy(np.int8)
            if len(ids) <= _ROUTING_CAP:
                order = np.argsort(ids, kind="stable")
                return {"mode": pred_mode, "ids": ids[order],
                        "p": p[order]}, None
        if mask_df is None:
            mask_df = self._mask_df(None, None)
        return None, mask_df

    def _mask_df(self, predicate: str | None, mode: str | None) -> DataFrame:
        """The mask as aux-format (shard, kind=0, id, p) rows: p=1
        predicate-pass (allow mode), p=0 predicate-fail (deny mode) or
        tombstoned. Deny mode ships the complement when the predicate
        passes most docs — the selectivity-adaptive F3 analog (reference
        searcher.hpp:57, threshold 0.80)."""
        parts = []
        if predicate is not None:
            if mode == "allow":
                parts.append(self.docs().filter(F.expr(predicate))
                             .select("doc_id").withColumn("p", F.lit(1)))
            else:
                # deny set = NOT (pred IS TRUE): null predicate results are
                # non-passing in both modes (consistent 3-valued logic)
                parts.append(self.docs()
                             .filter(~F.coalesce(F.expr(predicate), F.lit(False)))
                             .select("doc_id").withColumn("p", F.lit(0)))
        tomb = self.tombstones()
        if tomb is not None:
            parts.append(tomb.select("doc_id").withColumn("p", F.lit(0)))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.select(
            (F.col("doc_id") / self.cfg.docs_per_shard).cast("long").alias("shard"),
            F.lit(_KIND_MASK).alias("kind"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("p").cast("int").alias("p"))

    def _map_scan(self, seg: DataFrame, spec: dict,
                  routing: dict[int, set] | None = None,
                  anti_routing: dict[int, set] | None = None,
                  mask: dict | None = None) -> DataFrame:
        """Closure scan on Spark: routing, anti-routing and a SMALL
        predicate/tombstone mask (`mask`, from _masks — the scan-fused
        selection vector) ride the scorer closure, run as mapInArrow on
        the parquet scan partitions, shuffle-free (see _map_scorer). A
        routed `seg` arrives filtered to the batch's term and routed
        shard sets (_id_set). When the one-row-group-per-file invariant
        is unproven (_verify_scan_granularity), the same scorer runs per
        shard under groupBy("shard")."""
        if not self._map_scan_ok:
            # one shard's rows per call: exact under any file layout
            score = _arrow_scorer(spec)
            return seg.groupBy("shard").applyInArrow(
                lambda tab: score(tab, routing, anti_routing, mask),
                schema=schemas.RESULTS)
        if routing is not None:
            # routed scans touch few shards; every python task costs a
            # fixed ~0.2-0.3 CPU-s (Arrow runner round-trip) REGARDLESS
            # of data, so a 2-shard seed scan split across 32 scan
            # partitions pays 32x overhead for nothing. Coalesce to at
            # most one task per routed shard, and to at most one task
            # per _ROUTED_TASK_BYTES of the routed byte slice (no
            # shuffle — scan partitions merge). Unrouted/exhaustive
            # scans keep full scan parallelism.
            seg = seg.coalesce(self._routed_task_count(len(routing)))
        return seg.mapInArrow(_map_scorer(spec, routing, anti_routing, mask),
                              schema=schemas.RESULTS)

    def _scan(self, seg: DataFrame, spec: dict, mask_df: DataFrame | None,
              predicate_mode: str | None,
              asg_df: DataFrame | None = None) -> DataFrame:
        """Cogroup scan for masks or routing too large for the closure:
        mask rows (mask_df, never collected to the driver) and the
        driver's query-routing pairs (asg_df) travel as one aux frame of
        (shard, kind, id, p) rows — cogroup pairs exactly two frames."""
        aux = [] if mask_df is None else [mask_df]
        if asg_df is not None:
            aux.append(asg_df.select(
                F.col("shard").cast("long").alias("shard"),
                F.lit(_KIND_QUERY).alias("kind"),
                F.col("query_id").cast("long").alias("id"),
                F.lit(0).alias("p")))
        aux_df = aux[0] if len(aux) == 1 else aux[0].unionByName(aux[1])
        fn = _cogroup_scorer(spec, predicate_mode, routed=asg_df is not None)
        return (seg.groupBy("shard")
                .cogroup(aux_df.groupBy("shard"))
                .applyInArrow(fn, schema=schemas.RESULTS))

    def _merge_bound_ok(self, live) -> bool:
        """May the global top-k merge run driver-side? The map scan
        emits at most Σk rows per scan partition, so the collect is
        bounded by n_segment_files x Σk rows. Above _MERGE_LOCAL_CAP,
        with an unknown file count, or when the scan runs per shard, the
        window merge runs Spark-side."""
        if not self._map_scan_ok:
            return False
        n_files = self.snap.segment_file_count()
        if n_files <= 0:
            return False
        sum_k = sum(k for _, _, k in live)
        return n_files * sum_k <= _MERGE_LOCAL_CAP

    @staticmethod
    def _topk_merge_pdf(pdfs: list[pd.DataFrame], live) -> pd.DataFrame:
        """Driver-side global top-k merge of per-partition top-k frames
        (_topk_per_query): the same tie-break and rows as _global_topk's
        window; only WHERE the merge runs differs."""
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs,
                                                       ignore_index=True)
        q, d, s = _topk_per_query(
            pdf["query_id"].to_numpy(), pdf["doc_id"].to_numpy(),
            pdf["score"].to_numpy(), {int(q): int(k) for q, _, k in live})
        return pd.DataFrame({
            "query_id": pd.Series(q, dtype="int32"),
            "doc_id": pd.Series(d, dtype="int64"),
            "score": pd.Series(s, dtype="float64")})

    def _global_topk(self, res: DataFrame, live) -> DataFrame:
        kdf = _pdf_df(self.spark, {
            "query_id": pd.Series([q for q, _, _ in live], dtype="int32"),
            "k": pd.Series([k for _, _, k in live], dtype="int32")},
            "query_id int, k int")
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (res.join(F.broadcast(kdf), "query_id")
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= F.col("k"))
                .select("query_id", "doc_id", "score"))

    # -- convenience ----------------------------------------------------------
    def lookup_keys(self, results: DataFrame) -> DataFrame:
        """Join results back to (conv_id, turn_idx) doc keys."""
        return results.join(self.docs().select("doc_id", "conv_id", "turn_idx"),
                            "doc_id", "left")
