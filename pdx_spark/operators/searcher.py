"""Query serving: block-max pruned top-k BM25 over the blocked segments.

Mirrors the reference's pruned scan (PDXearch::Search,
/root/reference/include/pdx/searcher.hpp:596-724), re-shaped for Spark:

  1. Query prep on the driver: tokenize, fetch idf of query terms from
     the term_stats parquet (filter pushdown on the sorted `term`
     column) — analog of rotate-the-query (searcher.hpp:602-613).
  2. Driver-side plan: the directory slice of the query terms is read
     on the driver (Searcher._meta_rows: pyarrow on a local fs, one
     Spark scan collected as Arrow on any other scheme) and summed in
     numpy to per-(query, shard) upper bounds — the "rank clusters by
     promise" step, in-process as in the reference
     (searcher.hpp:181-215). A batch whose slice or (query, shard)
     bound count exceeds _PLAN_SLICE_CAP runs exhaustive instead
     (rank-identical), which bounds driver memory.
  3. Seed scan ("Start", searcher.hpp:218-281): each query's most
     promising `seed_shards` shards are scored exactly; the driver
     collects the k-th best seed score per query (θ, Q floats) and the
     seed top-k (≤ Σk rows) — never candidates.
  4. Main scan ("Warmup/Prune", searcher.hpp:376-540): per-(query,
     shard) assignments where the upper bound can still beat θ route
     each shard to only its own queries (work = Σ_q |shards_q|, not
     |shards| × Q). Scans are SHUFFLE-FREE: segment files hold complete
     shards (the encode shuffle wrote them that way), so the scorer
     runs as mapInArrow directly on the parquet scan with routing and
     small masks in the closure. One Arrow scoring body
     (_arrow_scorer) serves every channel: the map scan, a per-shard
     groupBy when files may hold several row groups, and the cogroup
     channel for masks and routing above _ROUTING_CAP. When θ cannot
     prune (uniform corpora — every shard's bound beats θ), the
     planner detects it from the main-pair ratio and runs ONE unrouted
     pass instead that skips each query's seed shards (anti-routing),
     so the seed results are reused, never rescored. Inside a shard the
     scorer builds a per-doc upper-bound array from block metadata
     alone (range-add/cumsum), masks docs below θ, skips terms with no
     surviving candidate, decodes each term ONCE PER PARTITION (all of
     the partition's shards in one batched unpack straight from the
     Arrow payload buffers, sliced per shard by searchsorted), and
     scores with one vectorized add per (query, term) in float64 (numpy
     is our SIMD; scalar_computers.hpp:19-44's role). Exactness: every
     term with a candidate is decoded fully, so candidate scores are
     complete; pruned docs provably score < θ.
  5. Global merge: per-partition per-query top-k, collected and merged
     on the driver (bounded: n_segment_files x Σk rows). Above
     _MERGE_LOCAL_CAP, or when the scan ran per shard, a window top-k
     per query runs Spark-side instead. Tie-break (score desc, doc_id
     asc).

Queries run as a batch (one pass scores all queries of the batch —
amortizes job overhead, SURVEY §7.4). A batch is a handful of bounded
jobs: seed scan (→ θ), main scan + merge; idf lookup and planning read
metadata on the driver and are cached per term on a warm Searcher — the
serial fraction is job scheduling plus Q-sized collects, which is what
makes query throughput scale with executors (north rule ≥0.8 N→4N).
The remaining single-box limit is memory bandwidth (the scan streams
block bytes through Arrow/numpy) — see BENCH.md's bandwidth ceiling.
"""

from __future__ import annotations

import time

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
from pdx_spark.operators.indexer import MANIFEST, read_manifest

_THETA_GUARD = 1e-9  # float-monotonicity guard on upper-bound comparisons


def _pdf_df(spark, data: dict, schema) -> DataFrame:
    """createDataFrame via pandas — takes the Arrow fast path instead of
    per-row JVM conversion (matters at thousands of driver-side rows:
    routing pairs, seed top-k, result materialization — all part of
    the per-batch FIXED cost that bounds scaling)."""
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

# adaptive-planner feedback: after this many consecutive unrouted
# fallbacks (θ pruned nothing), skip the seed phase; re-probe two-phase
# after this many bypassed batches OR this many wall seconds (ten
# bypassed batches can be ten seconds or ten hours) OR any on-disk
# manifest change (append/compact can make a corpus prunable)
_UNROUTED_BYPASS = 2
_BYPASS_REPROBE = 10
_BYPASS_REPROBE_SECS = 300.0

# cogroup side-channel row kinds (one aux frame carries both because
# cogroup pairs exactly two frames); aux rows are
# (shard long, kind int, id long, p int)
_KIND_MASK = 0   # (shard, kind=0, id=doc_id, p): selection-vector row
_KIND_QUERY = 1  # (shard, kind=1, id=query_id): per-shard query routing

# target decoded bytes per routed-scan task. Every python task costs a
# fixed ~0.2 CPU-s (Arrow runner round-trip) regardless of data, so a
# routed scan over a small slice should run FEW tasks: task count is
# capped at ceil(routed_bytes / this) in addition to the shard-count and
# parallelism caps. 2 MiB balances the two regimes: tiny routed slices
# (a well-pruned scan) still run 1-2 tasks, while a routed scan whose
# byte slice is large (seed phase of a big batch, unprunable corpora)
# fills the cores instead of idling 80% of them — at 8 MiB the bench's
# forced-two-phase seed scan ran 6 tasks on 32 cores (0.89 s; 0.41 s at
# 2 MiB, interleaved A/B), and a byte cap below parallelism is exactly
# what breaks N->4N query scaling. At 100 TB the byte cap is never the
# binding term — defaultParallelism is.
_ROUTED_TASK_BYTES = 2 * 1024 * 1024


def _in_list(col: str, values) -> "F.Column":
    """One-round-trip IN predicate over a python string list.

    `Column.isin(*values)` builds one JVM literal per element — one py4j
    round-trip each (measured: a 3,200-query batch carries ~2,900
    distinct terms and spent 8-10 s of DRIVER-SERIAL time just building
    the filter — pure fixed cost that does not shrink with executors).
    Emitting a single SQL IN list is one parse call; Catalyst still
    converts it to the same InSet. Values are tokenizer output
    ([a-z0-9]+), but escape defensively anyway."""
    if not values:
        return F.lit(False)
    esc = ",".join("'" + str(v).replace("\\", "\\\\").replace("'", "\\'")
                   + "'" for v in values)
    return F.expr(f"{col} IN ({esc})")


def _shard_ranges(shards) -> list[list[int]]:
    """Sorted shard ids compressed into contiguous [lo, hi] runs."""
    runs: list[list[int]] = []
    for sh in sorted(int(x) for x in shards):
        if runs and sh == runs[-1][1] + 1:
            runs[-1][1] = sh
        else:
            runs.append([sh, sh])
    return runs


def _shard_sql(runs: list[list[int]]) -> str:
    if not runs:
        return "false"
    return "(" + " OR ".join(
        f"shard = {a}" if a == b else f"shard BETWEEN {a} AND {b}"
        for a, b in runs) + ")"


def _shard_filter(shards) -> "F.Column":
    """Predicate selecting a shard set, compressed into contiguous
    BETWEEN-ranges. Two reasons over a plain isin: (1) Spark only pushes
    IN lists below spark.sql.parquet.pushdown.inFilterThreshold (10!) to
    the parquet reader — above that the filter runs post-scan and the
    routed scan silently reads EVERY file; range predicates push down
    regardless, and segment files hold contiguous shard ranges (the
    range-partitioned encode), so pushed ranges skip whole files via
    row-group stats. (2) at 10^12-doc scale a routing's shard list can
    be 10^5 ids — a handful of BETWEEN runs is a constant-size plan.
    Built as ONE SQL string -> one py4j round trip (Column-composition
    is one driver round trip per operator — measured seconds per batch
    at a few hundred disjuncts)."""
    return F.expr(_shard_sql(_shard_ranges(shards)))


# disjunct budget for the per-term row filter; above this the plan falls
# back to the (coarser) union-of-shards filter to keep codegen bounded
_TERM_FILTER_MAX_RUNS = 512


def _term_shard_filter(term_shards: dict[str, set]) -> "F.Column | None":
    """Row-precise JVM filter for the routed main scan:
    OR_t (term = t AND shard IN ranges_t). The union-of-shards filter
    alone is self-defeating on batches whose queries route to DIFFERENT
    shard sets (16 queries x 16 disjoint topics = the union covers the
    whole corpus): every query term's rows in every unioned shard cross
    the Arrow boundary only to be dropped by the per-query routing in
    the scorer. This predicate drops them in the JVM scan instead —
    rows shipped to python shrink from |union| x |terms| to
    Σ_t |shards_t| — and it composes with row-group pruning (term and
    shard stats both evaluated per file). Returns None when the
    disjunct budget is exceeded (fall back to the union filter).

    Implementation: the run budget is counted BEFORE any expression is
    built (pure python), and the predicate is ONE SQL string parsed by
    one F.expr call. The original Column-composition paid ~4 py4j
    driver round trips per term and, worse, paid them even on batches
    that would bail to None — ~3s of untimed driver-serial latency per
    200-query forced-two-phase batch (the round-4 bench regression)."""
    per_term: list[tuple[str, list[list[int]]]] = []
    total_runs = 0
    for t, shards in term_shards.items():
        runs = _shard_ranges(shards)
        total_runs += len(runs)
        if total_runs > _TERM_FILTER_MAX_RUNS:
            return None
        per_term.append((t, runs))
    if not per_term:
        return F.lit(False)
    parts = []
    for t, runs in per_term:
        # tokens are [a-z0-9]+ runs (tokenize.py) — assert, don't trust
        assert t.isascii() and t.isalnum(), t
        parts.append(f"(term = '{t}' AND {_shard_sql(runs)})")
    return F.expr("(" + " OR ".join(parts) + ")")


def _route(pairs, qterms: dict) -> tuple[dict[int, set], "F.Column"]:
    """(query, shard) pairs -> (shard -> query set routing, the segment
    row filter selecting those pairs' term rows: _term_shard_filter, or
    the union-of-shards filter above its disjunct budget)."""
    routing: dict[int, set] = {}
    term_shards: dict[str, set] = {}
    for q, sh in pairs:
        routing.setdefault(sh, set()).add(q)
        for t in qterms[q]:
            term_shards.setdefault(t, set()).add(sh)
    expr = _term_shard_filter(term_shards)
    return routing, expr if expr is not None else _shard_filter(routing)


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
        change = np.nonzero(terms_arr[1:] != terms_arr[:-1])[0] + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [len(terms_arr)]])
        term_rows = {str(terms_arr[s]): (s, e) for s, e in zip(starts, ends)}

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
        tab = tab.take(pc.sort_indices(
            tab, sort_keys=[("term", "ascending"),
                            ("first_doc", "ascending")])).combine_chunks()
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
            chg = np.nonzero(terms[1:] != terms[:-1])[0] + 1
            st = np.concatenate([[0], chg])
            en = np.concatenate([chg, [len(terms)]])
            vend = np.cumsum(n_a)
            return ({str(terms[s]): (s, e) for s, e in zip(st, en)},
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
                qids = routing.get(sh)
                if not qids:
                    continue
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
    """mapInArrow adapter: score a SCAN partition directly — no shuffle
    of the (large, binary) segment frame; routing, anti-routing and the
    mask ride the closure.

    Correctness under partition fragmentation: a document's postings for
    all terms live in ONE segment generation (docs are immutable; appends
    mint new ids) and one generation's (shard) rows live in one file (the
    encode shuffle wrote them together), so any doc's full score is
    computed within a single fragment. A shard split across fragments
    (base + delta dirs) yields per-fragment top-k lists whose union is a
    superset of the true shard top-k — exact after the global merge.
    Files must not be split mid-ROW-GROUP by the reader: segment files
    hold exactly one row group (writer-verified, manifest
    `seg_single_rg`), and Spark assigns a parquet row group to the one
    byte-range split containing its midpoint — so even a file larger
    than maxPartitionBytes yields one real fragment plus empty phantom
    splits, never a torn shard. load() checks the flag."""
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


class Searcher:
    """Loaded index handle (analog of the restored PDX index +
    PDXearch searcher, index.hpp:241-267)."""

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
        self._last_sel_frac: float | None = None  # last predicate pass-rate
        self._idf_cache: dict[str, float] = {}  # term -> idf (load-time N)
        # planning cache: term -> (shards, admissible tfnorm bound) from
        # the directory parquet (see _plan_slice)
        self._plan_cache: dict[str, tuple] = {}
        # outcome feedback for the adaptive planner: consecutive batches
        # whose θ could not prune (unrouted fallback) — after
        # _UNROUTED_BYPASS of them, skip the seed phase entirely and
        # re-probe two-phase every _BYPASS_REPROBE batches (runtime
        # adaptivity in the spirit of the reference's selectivity-
        # adaptive scan switch, searcher.hpp:321-345)
        self._unrouted_streak = 0
        self._bypassed = 0
        self._bypass_started: float | None = None  # monotonic, 1st bypass
        self._manifest_fp = self._manifest_fingerprint()
        # workload key for the bypass: smallest live-query count among the
        # batches that fell back — bypass applies only to batches of
        # comparable-or-larger size, so a stream of small selective
        # queries after two big unselective batches still gets two-phase
        # pruning (ADVICE r3: don't make the streak global)
        self._unrouted_min_live: int | None = None
        # populated by every search_batch: which physical strategy ran
        # ({mode: exhaustive|routed|unrouted|cogroup, ...counts}) — the
        # observability hook ops dashboards and tests read
        self.last_plan: dict = {}
        self._map_scan_ok = self._verify_scan_granularity()
        self._seg_bytes: int | None = None  # lazy, see _segment_bytes

    def _manifest_fingerprint(self) -> str:
        """Cheap generation token for the on-disk manifest (a small JSON
        read). Unreadable manifest -> '' so a transient fs error never
        crashes planning; '' != loaded fp just triggers a re-probe."""
        try:
            import hashlib
            from pdx_spark.fs import IndexFS
            text = self.fs.read_text(IndexFS.join(self.path, MANIFEST))
            return hashlib.md5(text.encode()).hexdigest()
        except Exception:
            return ""

    def _bypass_expired(self) -> bool:
        """Should the seed-phase bypass re-probe two-phase NOW? Yes after
        _BYPASS_REPROBE bypassed batches, after _BYPASS_REPROBE_SECS wall
        seconds, or when the on-disk manifest changed since load
        (append/compact bumps it — a grown corpus may have become
        prunable). The manifest read only happens while bypassing, so
        steady-state two-phase batches pay nothing."""
        if self._bypassed >= _BYPASS_REPROBE:
            return True
        if (self._bypass_started is not None
                and time.monotonic() - self._bypass_started
                > _BYPASS_REPROBE_SECS):
            return True
        fp = self._manifest_fingerprint()
        if fp != self._manifest_fp:
            self._manifest_fp = fp
            return True
        return False

    def _segment_bytes(self) -> int:
        """Total on-disk bytes of the segment files (base + deltas),
        listed once per Searcher through the fs seam. Used only to SIZE
        routed-scan tasks (never for correctness); a listing failure
        caches 0, which disables the byte cap."""
        if self._seg_bytes is None:
            try:
                files = [
                    sz for d in self.manifest["segment_dirs"]
                    + self.manifest.get("deltas", [])
                    for _, sz in self.fs.parquet_files(
                        self.fs.join(self.path, d))]
                self._seg_bytes = sum(files)
                self._seg_files = len(files)
            except Exception:
                self._seg_bytes = 0
                self._seg_files = 0
        return self._seg_bytes

    def _segment_file_count(self) -> int:
        self._segment_bytes()
        return self._seg_files

    def _routed_task_count(self, n_routed_shards: int) -> int:
        """Task count for a routed scan: at most one task per routed
        shard, never more than defaultParallelism, and never more tasks
        than the routed BYTE slice justifies (each python task has a
        fixed ~0.2 CPU-s cost, so a few-MB routed slice should run as
        1-2 tasks even on a 32-core box — the round-5 pruning bench
        measured the task overhead alone flipping the routed path from
        a CPU win to a 2x CPU loss on a 28 MB index). Routed bytes are
        estimated as the routed shard fraction of the total segment
        bytes; shards are near-uniform by construction (dense doc_ids,
        fixed docs_per_shard)."""
        n_shards_total = max(1, -(-self.n_docs // self.cfg.docs_per_shard))
        n = max(1, min(self.spark.sparkContext.defaultParallelism,
                       n_routed_shards))
        total = self._segment_bytes()
        if total > 0:
            routed = total * min(n_routed_shards, n_shards_total) \
                / n_shards_total
            n = min(n, max(1, -(-int(routed) // _ROUTED_TASK_BYTES)))
        return n

    def _verify_scan_granularity(self) -> bool:
        """The shuffle-free map-scan is exact only if the reader never
        splits a segment file mid-file (a doc's term rows would fragment
        and partial BM25 scores would merge wrong). Spark splits parquet
        files at ROW-GROUP granularity, so the real invariant is: every
        segment file holds exactly ONE row group (writers enforce it via
        parquet.block.size >> file size and verify with pyarrow; the
        manifest carries the verdict per build/append/compact).

        Returns True only when the invariant is PROVEN — via the manifest
        flag writers record after verifying their own output, or by
        re-reading footers here (pyarrow locally, parquet-hadoop on any
        other scheme). A violating file returns False and the closure
        scorer runs under groupBy("shard") instead of on the scan
        partitions, which is exact under any file layout."""
        if self.manifest.get("seg_single_rg") is True:
            return True
        return all(
            verify_single_rowgroup(self.fs, d, root=self.path)
            for d in self.manifest["segment_dirs"]
            + self.manifest.get("deltas", []))

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

    # -- lazy frames (merged views over base + maintenance deltas) ----------
    def segments(self) -> DataFrame:
        # one lazy frame per Searcher: a Searcher is a snapshot of one
        # manifest, so the frame (and Spark's file-listing cache inside
        # it) is reused across batches instead of re-listing the segment
        # dirs on every query — per-batch serial latency, at 10^5 files
        # a real planning cost
        if getattr(self, "_seg_frame", None) is None:
            excl = self.manifest.get("seg_excludes", {})
            dirs = self.manifest["segment_dirs"] \
                + self.manifest.get("deltas", [])
            if not any(excl.get(d) for d in dirs):
                # one multi-path scan instead of a Union of per-dir
                # scans: same rows, but a single scan node — smaller
                # plan, one whole-stage-codegen compile (a fresh
                # post-append Searcher paid ~0.4 s of first-batch
                # codegen on the union plan), one task pool
                self._seg_frame = (
                    self.spark.read.schema(schemas.SEGMENTS)
                    .option("recursiveFileLookup", "true")
                    .parquet(*[self.fs.join(self.path, d) for d in dirs]))
                return self._seg_frame
            df = None
            for d in dirs:
                part = (self.spark.read.schema(schemas.SEGMENTS)
                        .option("recursiveFileLookup", "true")
                        .parquet(self.fs.join(self.path, d)))
                ex = excl.get(d)
                if ex:  # shards superseded by a targeted-compaction patch
                    part = part.filter(
                        ~F.col("shard").isin([int(s) for s in ex]))
                df = part if df is None else df.unionByName(part)
            self._seg_frame = df
        return self._seg_frame

    def docs(self) -> DataFrame:
        df = None
        for d in self.manifest.get("docs_dirs", ["docs"]):
            part = self.spark.read.schema(schemas.DOCS).parquet(
                self.fs.join(self.path, d))
            df = part if df is None else df.unionByName(part)
        if self.manifest.get("dead_docs", 0) > 0:
            dead = self.spark.read.parquet(
                self.fs.join(self.path,
                             self.manifest.get("dead_dir", "dead_docs"))
            ).select("doc_id")
            df = df.join(dead, "doc_id", "left_anti")
        return df

    def term_stats(self) -> DataFrame:
        """Base ∪ append/delete deltas, merged at read: df sums (delete
        deltas are negative), bounds take max (stale-high = admissible).
        A caller that filters on `term` gets parquet row-group pruning on
        every delta file before the merge agg. (Query serving reads the
        same dirs through _meta_rows instead.)"""
        base = self.spark.read.schema(schemas.TERM_STATS).parquet(
            self.fs.join(self.path,
                         self.manifest.get("ts_base", "term_stats")))
        deltas = self.manifest.get("ts_deltas", [])
        if not deltas:
            return base
        df = base
        for d in deltas:
            part = self.spark.read.schema(schemas.TERM_STATS).parquet(
                self.fs.join(self.path, d))
            df = df.unionByName(part)
        return (df.groupBy("term")
                .agg(F.sum("df").alias("df"),
                     F.max("max_tf").alias("max_tf"),
                     F.max("gmax").alias("gmax"))
                .filter(F.col("df") > 0))

    def tombstones(self) -> DataFrame | None:
        # generation-named tombstone dir, resolved THROUGH the manifest
        # (visibility = manifest commit; a staged-but-uncommitted merge
        # is invisible, so delete() replays are exact — see
        # maintenance.delete)
        if self.manifest.get("tombstones", 0) > 0:
            d = self.manifest.get("tomb_dir", "tombstones")
            return self.spark.read.parquet(self.fs.join(self.path, d))
        return None

    # -- public API ----------------------------------------------------------
    def search(self, query_text: str, k: int = 10, *, exact: bool = False,
               predicate: str | None = None,
               require_all_terms: bool = False,
               min_should_match: int = 1) -> list[tuple[int, float]]:
        df = self.search_batch([(0, query_text, k)], exact=exact,
                               predicate=predicate,
                               require_all_terms=require_all_terms,
                               min_should_match=min_should_match)
        rows = df.orderBy(F.desc("score"), F.asc("doc_id")).collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def search_batch(self, queries: list[tuple[int, str, int]], *,
                     exact: bool = False, predicate: str | None = None,
                     seed_shards: int = 2,
                     two_phase_min_shards: int = 64,
                     force_two_phase: bool = False,
                     require_all_terms: bool = False,
                     min_should_match: int = 1) -> DataFrame:
        """-> DataFrame(query_id, doc_id, score), per-query top-k
        (materialized — result sets are tiny, <= Σ k).

        exact=True forces the exhaustive blocked scan (nprobe=0 analog,
        searcher.hpp:614-616). Otherwise, when the index has enough
        shards for shard-skipping to pay for a second job, the θ-seeded
        two-phase scan runs: the driver plans it from the directory
        slice of the query terms (_upper_bounds), a seed scan yields θ
        (the k-th seed score per query), and a main scan covers the
        (query, shard) pairs whose bound can still beat θ. A batch whose
        plan exceeds _PLAN_SLICE_CAP runs exhaustive and last_plan
        records the cap and the observed count. Results are
        rank-identical either way; only the work differs. The adaptive
        choice mirrors the reference's selectivity-adaptive scan
        branches (searcher.hpp:321-345)."""
        tm: dict[str, float] = {}
        _t0 = time.time()
        parsed = []
        for qid, qtext, k in queries:
            terms = sorted(set(tokenize_py(qtext)))
            parsed.append((int(qid), terms, int(k)))
        all_terms = sorted({t for _, ts, _ in parsed for t in ts})
        empty = self.spark.createDataFrame([], schemas.RESULTS)
        if not all_terms:
            self.last_plan = {"mode": "empty"}
            return empty

        idf = self._idf_lookup(all_terms)
        tm["idf"] = round(time.time() - _t0, 3)
        # conjunctive (AND) semantics: every query term must match. A
        # query with an OOV/dead term can match nothing — drop it HERE
        # (the per-shard absent-term check below only sees terms that
        # exist somewhere). Exact per shard because doc-range sharding
        # puts all of a doc's postings in one shard; θ pruning stays
        # admissible because the OR upper bound >= the AND score.
        # min_should_match generalizes both: OR is m=1, AND is m=n. m
        # counts matched distinct query terms; a query whose
        # corpus-present term count falls below m can match nothing.
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
            self.last_plan = {"mode": "empty"}  # every term OOV/dead
            return empty
        all_terms = sorted({t for _, ts, _ in live for t in ts})
        # per-batch scoring options travel in the scan spec, never on the
        # (possibly shared) Searcher
        spec = {"idf": idf, "avgdl": self.avgdl, "k1": self.params.k1,
                "b": self.params.b,
                "docs_per_shard": self.cfg.docs_per_shard,
                "require_all": bool(require_all_terms),
                "min_match": min_match}

        seg = self.segments().filter(_in_list("term", all_terms))
        mask_df, pred_mode = self._mask_df(predicate)
        closure_mask = None
        if mask_df is not None:
            closure_mask = self._collect_small_mask(mask_df, pred_mode)
            if closure_mask is not None:
                # small mask rides the scorer closure: every branch below
                # keeps the closure map scan, the plans a filtered batch
                # used to forfeit (cogroup + groupBy-shuffle of the
                # term-filtered segment rows)
                mask_df = None

        n_shards_total = -(-self.n_docs // self.cfg.docs_per_shard)
        # exhaustive when pruning cannot pay: too few shards for skipping
        # to matter, or the BATCH is so large that the seed phase alone
        # would touch ~every shard (Q x seed_shards >= shards means the
        # seed scan is already one full pass of I/O; the main scan would
        # be a second). Work-based, not corpus-based — the same batch
        # size picks two-phase on a bigger index. force_two_phase
        # overrides (tests/bench exercise the pruned path explicitly).
        big_batch = len(live) * seed_shards >= n_shards_total
        bypass = False
        if self._unrouted_streak >= _UNROUTED_BYPASS:
            if self._bypass_expired():
                self._unrouted_streak = 0  # re-probe two-phase
                self._bypassed = 0
                self._bypass_started = None
            elif (self._unrouted_min_live is None
                    or 2 * len(live) >= self._unrouted_min_live):
                # bypass only batches that RESEMBLE the ones that fell
                # back (size-keyed): a much smaller batch prunes
                # differently and deserves its own two-phase probe
                bypass = True
                self._bypassed += 1
                if self._bypass_started is None:
                    self._bypass_started = time.monotonic()
        q_ub = plan_cap = None
        if not exact and (force_two_phase or not (
                n_shards_total < max(two_phase_min_shards, 4 * seed_shards)
                or big_batch or bypass)):
            _t0 = time.time()
            q_ub, plan_cap = self._upper_bounds(live, all_terms, idf,
                                                require_all_terms)
            tm["plan_ub"] = round(time.time() - _t0, 3)
        if q_ub is None:
            self.last_plan = {"mode": "exhaustive",
                              "n_shards": n_shards_total,
                              "big_batch": big_batch,
                              "unrouted_bypass": bypass,
                              "mask_in_closure": closure_mask is not None,
                              "timings": tm}
            if plan_cap is not None:
                self.last_plan["plan_cap"] = plan_cap
            qspec = dict(spec, queries=[(q, ts, k, None)
                                        for q, ts, k in live])
            if mask_df is None:
                res = self._map_scan(seg, qspec, mask=closure_mask)
                if self._merge_bound_ok(live):
                    # per-partition top-k collected and merged on the
                    # driver: one stage, no exchange/window, free count
                    return self._merge_topk_local(res, live)
            else:
                res = self._scan(seg, qspec, mask_df, pred_mode)
            return self._global_topk(res, live)

        seed_set = set()
        for q, (ush, ub) in q_ub.items():
            order = np.lexsort((ush, -ub))[:seed_shards]
            seed_set.update((q, int(ush[i])) for i in order)
        qterms = {q: ts for q, ts, _ in live}
        seed_routing, seed_filter = _route(seed_set, qterms)
        qspec0 = dict(spec, queries=[(q, ts, k, None)
                                     for q, ts, k in live])
        if mask_df is None:
            seed_res = self._map_scan(seg.filter(seed_filter), qspec0,
                                      routing=seed_routing,
                                      mask=closure_mask)
        else:
            seed_res = self._scan(seg.filter(seed_filter), qspec0, mask_df,
                                  pred_mode, asg_df=self._pairs_df(seed_set))

        # ---- seed top-k + θ in ONE job: collect the per-query top-k
        # over the seed shards (bounded: <= Σk rows). θ (the k-th seed
        # score, searcher.hpp:82-91's threshold role) falls out
        # driver-side, and the rows themselves are REUSED as the seed
        # contribution to the final merge — the seed scan is never
        # thrown away or re-run.
        _t0 = time.time()
        if mask_df is None and self._merge_bound_ok(live):
            # bounded per-partition top-k -> one collect stage, driver
            # merge (no exchange/window job in the seed phase)
            seed_pdf = self._topk_merge_pdf([seed_res.toPandas()], live)
        else:
            seed_pdf = self._global_topk(seed_res, live).toPandas()
        tm["seed_scan"] = round(time.time() - _t0, 3)
        seed_rows = list(zip(seed_pdf["query_id"].astype(int),
                             seed_pdf["doc_id"].astype(int),
                             seed_pdf["score"].astype(float)))
        n_seed_hits: dict[int, int] = {}
        worst: dict[int, float] = {}
        for q, _, s in seed_rows:
            n_seed_hits[q] = n_seed_hits.get(q, 0) + 1
            worst[q] = min(worst.get(q, s), s)
        theta = {q: worst[q] for q, _, k in live
                 if n_seed_hits.get(q, 0) >= k}
        seed_df = _pdf_df(self.spark, {
            "query_id": pd.Series([r[0] for r in seed_rows],
                                  dtype="int32"),
            "doc_id": pd.Series([r[1] for r in seed_rows],
                                dtype="int64"),
            "score": pd.Series([r[2] for r in seed_rows],
                               dtype="float64")},
            schemas.RESULTS)

        # ---- main scan over the (query, shard) pairs that can still
        # beat θ: they fall out of the in-memory ub vectors (zero jobs)
        pairs = []
        for q, (ush, ub) in q_ub.items():
            th = theta.get(q)
            keep = ush if th is None else \
                ush[ub >= th - _THETA_GUARD * abs(th)]
            pairs.extend((q, int(x)) for x in keep)
        n_main = len(pairs)
        qspec1 = dict(spec, queries=[(q, ts, k, theta.get(q))
                                     for q, ts, k in live])

        if mask_df is None and n_main > 0.5 * len(live) * n_shards_total:
            # Pruning is ineffective (uniform shards: bounds beat θ
            # almost everywhere) — per-pair routing would ship ~Q x
            # shards pairs to save nothing. Run ONE unrouted pass with
            # per-query θ (classic WAND with a warmed heap), SKIPPING
            # the seed pairs in the scorer (anti-routing, <= seed_shards
            # x Q entries in the closure): the collected seed top-k
            # supplies those shards' contribution, so no (query, doc)
            # is scored twice and the seed work is reused, not
            # discarded.
            self.last_plan = {"mode": "unrouted", "n_main": n_main,
                              "n_shards": n_shards_total,
                              "n_queries": len(live),
                              "mask_in_closure": closure_mask is not None,
                              "timings": tm}
            self._unrouted_streak += 1
            self._unrouted_min_live = min(
                self._unrouted_min_live or (1 << 30), len(live))
            res = self._map_scan(seg, qspec1, anti_routing=seed_routing,
                                 mask=closure_mask)
            if self._merge_bound_ok(live):
                return self._merge_topk_local(res, live, extra_pdf=seed_pdf)
            return self._global_topk(seed_df.unionByName(res), live)

        main_pairs = [p for p in pairs if p not in seed_set]
        routing, main_filter = _route(main_pairs, qterms)
        # a large mask, or routing too large for the closure, rides the
        # cogroup channel as aux rows built from the driver's pair list
        cogroup = mask_df is not None or n_main > _ROUTING_CAP
        self.last_plan = {"mode": "cogroup" if cogroup else "routed",
                          "n_main": n_main,
                          "n_main_shards": len(routing),
                          "n_shards": n_shards_total,
                          "n_queries": len(live),
                          "mask_in_closure": closure_mask is not None,
                          "timings": tm}
        self._unrouted_streak = 0
        self._unrouted_min_live = None
        if not routing:
            # every surviving pair was a seed pair: the collected seed
            # top-k IS the answer — zero further jobs
            return seed_df
        main_seg = seg.filter(main_filter)
        if cogroup:
            main_res = self._scan(main_seg, qspec1, mask_df, pred_mode,
                                  asg_df=self._pairs_df(main_pairs))
            return self._materialize(
                self._global_topk(seed_df.unionByName(main_res), live))
        main_res = self._map_scan(main_seg, qspec1, routing=routing,
                                  mask=closure_mask)
        if self._merge_bound_ok(live):
            return self._merge_topk_local(main_res, live, extra_pdf=seed_pdf)
        return self._global_topk(seed_df.unionByName(main_res), live)

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

    def _meta_rows(self, dirs: list[str], schema, columns: list[str], *,
                   terms: list[str] | None = None,
                   term_range: tuple[str, str] | None = None) -> pa.Table:
        """The driver-side reader of the term-sorted metadata dirs
        (term_stats or directory, base + deltas): the `columns` of the
        rows whose term is in `terms`, or in [lo, hi) = `term_range`,
        plus `dir`, the row's index into `dirs`. pyarrow on a local fs
        (footer stats prune the read to the matching row groups), else
        one Spark scan of the same filter collected as Arrow."""
        if self.fs.is_local:
            import pyarrow.dataset as ds
            t = ds.field("term")
            filt = t.isin(terms) if terms is not None else \
                (t >= term_range[0]) & (t < term_range[1])
            tabs = []
            for i, d in enumerate(dirs):
                tab = ds.dataset(self.fs.join(self.path, d),
                                 format="parquet").to_table(columns=columns,
                                                            filter=filt)
                tabs.append(tab.append_column(
                    "dir", pa.array(np.full(tab.num_rows, i, np.int32))))
            return pa.concat_tables(tabs, promote_options="permissive")
        cond = _in_list("term", terms) if terms is not None else \
            (F.col("term") >= term_range[0]) & (F.col("term") < term_range[1])
        df = None
        for i, d in enumerate(dirs):
            part = (self.spark.read.schema(schema)
                    .parquet(self.fs.join(self.path, d)).filter(cond)
                    .select(*columns, F.lit(i).cast("int").alias("dir")))
            df = part if df is None else df.unionByName(part)
        return df.toArrow()

    def _plan_slice(self, terms: list[str]) -> tuple[dict | None, int]:
        """-> (term -> (shards int64[], admissible tfnorm bound
        float64[]), slice rows) for the query terms, from the directory
        (base + deltas) through _meta_rows. The u8 bounds dequantize
        with each dir's own affine params (manifest["dir_quant"]);
        ceil/floor quantization keeps them admissible.

        The directory is metadata, orders of magnitude smaller than the
        index, so the plan is ranked in-process as in the reference
        (searcher.hpp:181-215). Cached per term on the warm Searcher,
        like idf. The slice counts the cached rows of the batch's terms
        plus the rows read for the rest; above _PLAN_SLICE_CAP the plan
        is None and nothing new is cached."""
        from pdx_spark.functions.quantize import ZERO_PARAMS, dequantize_np
        missing = [t for t in terms if t not in self._plan_cache]
        n_slice = sum(len(self._plan_cache[t][0]) for t in terms
                      if t in self._plan_cache)
        dirs = [self.manifest.get("dir_base", "directory")] \
            + self.manifest.get("dir_deltas", [])
        tab = self._meta_rows(
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
            for t, grp in pdf.groupby("term", sort=False):
                g = tfnorm_np(grp["max_tf"].to_numpy(),
                              grp["min_dl"].to_numpy(),
                              self.avgdl, self.params)
                self._plan_cache[str(t)] = (
                    grp["shard"].to_numpy(dtype=np.int64), g)
            for t in missing:  # absent terms cache as empty
                self._plan_cache.setdefault(
                    t, (np.empty(0, dtype=np.int64), np.empty(0)))
        return {t: self._plan_cache[t] for t in terms}, n_slice

    def _live_df(self, **where) -> dict[str, int]:
        """term -> df summed over term_stats base + deltas (delete
        deltas are negative) for the live terms (df > 0) matching
        `where` (_meta_rows' terms / term_range)."""
        dirs = [self.manifest.get("ts_base", "term_stats")] \
            + self.manifest.get("ts_deltas", [])
        tab = self._meta_rows(dirs, schemas.TERM_STATS, ["term", "df"],
                              **where)
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
        deltas) through _meta_rows. Driver-cached per Searcher (N is
        load-time fixed, so idf is too). OOV and dead terms are cached
        as absent (df<=0) so repeats skip the lookup too."""
        missing = [t for t in terms if t not in self._idf_cache]
        if missing:
            df_by_term = self._live_df(terms=missing)
            for t in missing:
                d = df_by_term.get(t, 0)
                self._idf_cache[t] = (
                    float(idf_np(d, self.n_docs)) if d > 0 else float("nan"))
        return {t: v for t in terms if not np.isnan(v := self._idf_cache[t])}

    def _pairs_df(self, pairs) -> DataFrame:
        """Driver (query, shard) pairs -> the asg_df frame of _scan."""
        qs, shs = zip(*pairs) if pairs else ((), ())
        return _pdf_df(self.spark, {
            "query_id": pd.Series(qs, dtype="int32"),
            "shard": pd.Series(shs, dtype="int64")},
            "query_id int, shard long")

    def _materialize(self, df: DataFrame) -> DataFrame:
        pdf = df.toPandas()  # Arrow both ways; <= sum(k) rows by construction
        return self.spark.createDataFrame(pdf, schema=schemas.RESULTS) \
            if len(pdf) else self.spark.createDataFrame([], schemas.RESULTS)

    # -- internals -----------------------------------------------------------
    def _filter_mode(self, predicate: str) -> str:
        """allow/deny from a CACHED docs sample — never a per-batch
        full-table count (the scale-killer flagged in round 1). The mode
        only affects which side of the predicate ships to the scorer;
        results are identical either way, so sampling error is benign."""
        from pdx_spark.plans.planner import SELECTIVITY_THRESHOLD
        if self._sel_sample is None:
            frac = min(1.0, 200_000.0 / max(self.n_docs, 1))
            s = self.docs() if frac >= 1.0 else self.docs().sample(
                fraction=frac, seed=SEED)
            s = s.persist()
            self._sel_sample = (s, s.count())
        sample, n = self._sel_sample
        n_pass = sample.filter(F.expr(predicate)).count()
        self._last_sel_frac = n_pass / max(n, 1)
        return "deny" if n_pass >= SELECTIVITY_THRESHOLD * max(n, 1) else "allow"

    def _collect_small_mask(self, mask_df: DataFrame,
                            pred_mode: str | None) -> dict | None:
        """Small masks ride the scorer CLOSURE instead of the cogroup
        channel: the reference fuses selection vectors into the scan
        (searcher.hpp:284-372) rather than running a separate routing
        pass, and a selective predicate or a short tombstone list is
        exactly that case — forcing it through cogroup forfeits the
        shuffle-free map-scan and the unrouted pass (both need the mask
        in the closure). Every batch plans on the driver either way;
        this cap only picks the channel the mask travels in. Returns
        {mode, ids sorted int64[], p int8[]} when the mask has at most
        _ROUTING_CAP rows, else None (cogroup carries it). The sample-
        based selectivity estimate skips the bounded peek when the mask
        is obviously huge, so unselective predicates pay nothing new."""
        est = None
        if pred_mode is not None and self._last_sel_frac is not None:
            frac = self._last_sel_frac if pred_mode == "allow" \
                else 1.0 - self._last_sel_frac
            est = frac * self.n_docs + self.manifest.get("tombstones", 0)
        elif pred_mode is None:
            est = self.manifest.get("tombstones", 0)
        if est is not None and est > 2 * _ROUTING_CAP:
            return None
        pdf = mask_df.select("id", "p").limit(_ROUTING_CAP + 1).toPandas()
        if len(pdf) > _ROUTING_CAP:
            return None
        ids = pdf["id"].to_numpy(np.int64)
        p = pdf["p"].to_numpy(np.int8)
        order = np.argsort(ids, kind="stable")
        return {"mode": pred_mode, "ids": ids[order], "p": p[order]}

    def _mask_df(self, predicate: str | None):
        """-> (aux-format (shard, kind=0, id, p) rows | None, mode).
        p=1 predicate-pass (allow mode), p=0 predicate-fail (deny mode)
        or tombstoned. Deny mode ships the complement when the predicate
        passes most docs — the selectivity-adaptive F3 analog (reference
        searcher.hpp:57, threshold 0.80)."""
        parts, mode = [], None
        if predicate is not None:
            mode = self._filter_mode(predicate)
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
        if not parts:
            return None, mode
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.select(
            (F.col("doc_id") / self.cfg.docs_per_shard).cast("long").alias("shard"),
            F.lit(_KIND_MASK).alias("kind"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("p").cast("int").alias("p")), mode

    def _map_scan(self, seg: DataFrame, spec: dict,
                  routing: dict[int, set] | None = None,
                  anti_routing: dict[int, set] | None = None,
                  mask: dict | None = None) -> DataFrame:
        """Closure scan: routing, anti-routing and a SMALL predicate/
        tombstone mask (`mask`, from _collect_small_mask — the scan-fused
        selection vector) ride the scorer closure; large masks go through
        the cogroup channel instead (search_batch keeps mask_df non-None
        in that case). The scorer runs as mapInArrow directly on the
        parquet scan partitions, shuffle-free (see _map_scorer for why
        this is exact). Exactness requires the one-row-group-per-file
        invariant (_verify_scan_granularity); when it is unproven, the
        same closure scorer runs per shard under groupBy("shard")."""
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
        """May the global top-k merge run driver-side? The map-scan
        scorer emits at most Σk rows per SCAN PARTITION (per-partition
        per-query top-k), so the collect is bounded by
        n_segment_files x Σk rows (coalesced scans only shrink it).
        Driver work stays bounded-with-distributed-fallback: above the
        cap, when the file count is unknown, or when the scan runs per
        shard (map scan unproven: one top-k per SHARD, not per file) the
        window merge runs Spark-side, unchanged."""
        if not self._map_scan_ok:
            return False
        n_files = self._segment_file_count()
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

    def _merge_topk_local(self, res: DataFrame, live,
                          extra_pdf: pd.DataFrame | None = None
                          ) -> DataFrame:
        """Collect the bounded per-partition top-k and merge driver-side
        (one collect stage — no exchange, no window, and the returned
        frame is local so downstream count()/collect() are free).
        Callers must have checked _merge_bound_ok."""
        parts = [res.toPandas()]
        if extra_pdf is not None and len(extra_pdf):
            parts.append(extra_pdf)
        merged = self._topk_merge_pdf(parts, live)
        if not len(merged):
            return self.spark.createDataFrame([], schemas.RESULTS)
        return self.spark.createDataFrame(merged, schema=schemas.RESULTS)

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
