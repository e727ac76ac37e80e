"""The benchmark's workloads. Each generates its inputs from the seed with
the fixture generators in pdx_spark.sources.fixtures, drives the public
API from one closed-loop client (the next call starts when the previous
one returned), and checks the answers. See README.md for why each
workload exists."""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time

from host import proc_tree_cpu

import check

ALL = {"require_all_terms": True}
MSM2 = {"min_should_match": 2}
# serve_topic: topic-clustered corpus, small shards -> the planner's
# theta-seeded two-phase route (shards >= 64 and live queries x 2 seed
# shards < shards)
TOPIC_CONVS = 560
TOPIC_TOPICS = 16
TOPIC_DOCS_PER_SHARD = 40
TOPIC_APPEND_CONVS = 20
# one serving cycle: (batch size, search options). Runs serve whole
# cycles only, so every run sees the same size and option mix.
TOPIC_CYCLE = [(16, {}), (48, {}), (32, {})]
# ingest_cycle: Zipf corpus, default IndexConfig
INGEST_CONVS = 500
APPEND_CONVS = 20
N_APPENDS = 2
DELETE_FRAC = 0.01
FRESH_BATCH = 50
ZIPF_CYCLE = [(1, {}), (100, ALL), (200, MSM2), (800, {})]
SETUP_REPS = 2
MIN_CYCLES = 2
ORACLE_SAMPLE = 12
if os.environ.get("PERFBENCH_SCALE") == "tiny":  # the benchmark's tests
    TOPIC_CONVS, TOPIC_DOCS_PER_SHARD, TOPIC_APPEND_CONVS = 300, 32, 10
    INGEST_CONVS, APPEND_CONVS = 200, 10
    MIN_CYCLES = 1


class Run:
    """One benchmark process: session, tracer, counters, batch records."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark, self.tr, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.batches: list[dict] = []
        self.ledger: dict = {}
        self.setup_parts: dict = {}
        self._qid = 0

    # -- operations ----------------------------------------------------------
    def op(self, kind: str, fn, *args, **kw):
        """Run one engine operation -> (ok, value, wall s, tree CPU s).
        An exception counts as a failed operation; the run goes on."""
        self.attempted += 1
        c0 = proc_tree_cpu()
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}"):
                val = fn(*args, **kw)
            ok = True
        except Exception as e:  # noqa: BLE001 — counted, not fatal
            val, ok = None, False
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: "
                                 f"{str(e).splitlines()[0][:160]}")
        dt = time.perf_counter() - t0
        return ok, val, dt, proc_tree_cpu() - c0

    def fail(self, rec: dict, why: str) -> None:
        """Mark an operation that returned a wrong answer."""
        if rec["ok"]:
            rec["ok"] = False
            self.failed += 1
            self.failures.append(f"batch: {why}")

    def batch(self, searcher, queries, opts: dict, kind: str = "serve",
              traced: bool = True) -> dict:
        """One search_batch call. `kind` is "serve" for the serving
        window (the batch metrics) or "fresh" for the first batch of a
        newly loaded Searcher (fresh_query_s)."""
        pause = self.tr.paused() if not traced else contextlib.nullcontext()
        with pause:
            ok, rows, dt, cpu = self.op(
                "batch", lambda: searcher.search_batch(queries,
                                                       **opts).collect())
        plan = dict(searcher.last_plan) if ok else {}
        rec = {"n": len(queries), "lat": dt, "cpu": cpu, "ok": ok,
               "kind": kind, "opts": opts, "queries": queries,
               "mode": plan.get("mode"), "plan": plan,
               "traced": traced and self.tr.enabled,
               "results": check.by_query(rows) if ok else {}}
        self.batches.append(rec)
        return rec

    # -- inputs --------------------------------------------------------------
    def _ids(self, n: int) -> range:
        self._qid += n
        return range(self._qid - n, self._qid)

    def zipf_queries(self, n: int) -> list[tuple[int, str, int]]:
        """The fixture query mix (hot, mid, rare, needle+hot, mixed with
        out-of-vocabulary terms), drawn from the run's seed."""
        from pdx_spark.sources.fixtures import make_queries_pdf
        pdf = make_queries_pdf(n, seed=self.rng.randrange(1 << 30))
        return [(q, str(t), int(k)) for q, t, k in
                zip(self._ids(n), pdf["query_text"], pdf["k"])]

    def topic_queries(self, n: int) -> list[tuple[int, str, int]]:
        """Signature and topic-exclusive terms of one topic
        (topic_query_terms), in five shapes: signature, exclusive,
        signature + exclusive, two exclusives, signature + two
        exclusives. (Mixing in a hot head term or a second topic's
        signature defeats theta pruning and sends the batch unrouted.)"""
        from pdx_spark.sources.fixtures import topic_query_terms
        per = 4
        terms = topic_query_terms(TOPIC_TOPICS, per_topic=per)
        out = []
        for qid in self._ids(n):
            r = self.rng
            t = r.randrange(TOPIC_TOPICS)
            sig, ex = terms[t * per], terms[t * per + 1: t * per + per]
            q = [[sig], [r.choice(ex)], [sig, r.choice(ex)], r.sample(ex, 2),
                 [sig] + r.sample(ex, 2)][qid % 5]
            out.append((qid, " ".join(q), [10, 10, 10, 1, 50][r.randrange(5)]))
        return out

    def gen(self, make, name: str, *args, **kw):
        """Generate a fixture frame and write it as the parquet the
        engine reads -> (path, parquet bytes, {(conv_id, turn_idx): text})."""
        with self.tr.span("sources.gen"):
            pdf = make(*args, **kw)
            path = os.path.join(self.work, f"{name}.parquet")
            pdf.to_parquet(path, index=False, coerce_timestamps="us",
                           row_group_size=8192)
        texts = dict(zip(zip(pdf["conv_id"], pdf["turn_idx"].astype(int)),
                         pdf["text"]))
        return path, os.path.getsize(path), texts

    def read(self, path: str):
        from pdx_spark.schemas import TRANSCRIPTS
        return self.spark.read.schema(TRANSCRIPTS).parquet(path)

    # -- checks --------------------------------------------------------------
    def check_oracle(self, oracle, recs: list[dict]) -> None:
        """A seeded sample of the queries of `recs` against the oracle."""
        pairs = [(r, q) for r in recs if r["ok"] for q in r["queries"]]
        for rec, (qid, text, k) in self.rng.sample(
                pairs, min(ORACLE_SAMPLE, len(pairs))):
            want = oracle.topk(text, k, **rec["opts"])
            if not check.same_ranking(rec["results"].get(qid, []), want):
                self.fail(rec, f"query {qid} differs from the oracle")

    def check_exact(self, searcher, recs: list[dict]) -> None:
        """Every query of every batch against exact=True (one exhaustive
        call per option set, untraced and untimed)."""
        groups: dict[str, list[dict]] = {}
        for r in recs:
            if r["ok"]:
                groups.setdefault(repr(sorted(r["opts"].items())), []).append(r)
        with self.tr.paused():
            for grp in groups.values():
                qs = [q for r in grp for q in r["queries"]]
                want = check.by_query(searcher.search_batch(
                    qs, exact=True, **grp[0]["opts"]).collect())
                for r in grp:
                    for q in r["queries"]:
                        if not check.same_ranking(r["results"].get(q[0], []),
                                                  want.get(q[0], [])):
                            self.fail(r, f"query {q[0]} differs from exact")
                            break


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def set_up(run: Run, make_inputs, cfg, warm_queries=None):
    """Generate the inputs and build the index SETUP_REPS times. The
    first set-up is the warm-up: it pays the session's first-use costs
    (JVM, Python workers), so build_s is the last set-up's build. With
    `warm_queries`, each set-up also loads a Searcher and runs its first
    batch. -> (inputs of the last set-up, its index path, its Searcher
    or None)."""
    from pdx_spark import Indexer, Searcher
    reps, builds, idx, searcher = [], [], None, None
    for r in range(SETUP_REPS):
        run.tr.reset()  # the traced run keeps the last set-up's spans
        t0 = time.perf_counter()
        inputs = make_inputs()
        if idx is not None:
            shutil.rmtree(idx, ignore_errors=True)
        idx = os.path.join(run.work, f"index-{r}")
        c0, tb = proc_tree_cpu(), time.perf_counter()
        with run.tr.span("op.build"):
            Indexer(run.spark, cfg=cfg).build(run.read(inputs[0][0]), idx)
        builds.append((time.perf_counter() - tb, proc_tree_cpu() - c0))
        if warm_queries is not None:
            searcher = Searcher.load(run.spark, idx)
            with run.tr.paused():
                searcher.search_batch(warm_queries()).collect()
        reps.append(time.perf_counter() - t0)
    run.setup_parts["repeated_s"] = reps
    run.ledger.update(build_s_all=[b for b, _ in builds],
                      build_s=builds[-1][0], build_cpu_s=builds[-1][1])
    return inputs, idx, searcher


def _serve(run: Run, searcher, queries_of, cycle: list) -> list[dict]:
    """Closed-loop serving window of whole cycles: at least MIN_CYCLES,
    and more while --seconds have not passed. Traced runs issue every
    slot twice, traced then untraced, for the overhead comparison, and
    need only one cycle."""
    recs, done = [], 0
    least = 1 if run.tr.enabled else MIN_CYCLES
    end = time.perf_counter() + run.seconds
    while done < least or time.perf_counter() < end:
        for n, opts in cycle:
            recs.append(run.batch(searcher, queries_of(n), opts))
            if run.tr.enabled:
                recs.append(run.batch(searcher, queries_of(n), opts,
                                      traced=False))
        done += 1
    run.ledger["cycles"] = done
    return recs


# ---- serve_topic --------------------------------------------------------------

def serve_topic(run: Run) -> None:
    from pdx_spark import IndexConfig, Searcher
    from pdx_spark.operators.maintenance import Maintainer
    from pdx_spark.sources.fixtures import make_topic_transcripts_pdf

    def app_pdf():
        pdf = make_topic_transcripts_pdf(TOPIC_APPEND_CONVS,
                                         n_topics=TOPIC_TOPICS,
                                         seed=run.seed * 7919 + 1)
        pdf["conv_id"] = "app-" + pdf["conv_id"]
        return pdf

    (base, app), idx, searcher = set_up(
        run, lambda: (run.gen(make_topic_transcripts_pdf, "topic",
                              TOPIC_CONVS, n_topics=TOPIC_TOPICS,
                              seed=run.seed),
                      run.gen(app_pdf, "topic-append")),
        IndexConfig(docs_per_shard=TOPIC_DOCS_PER_SHARD),
        lambda: run.topic_queries(8))
    led = run.ledger
    led.update(index_bytes=_du(idx), input_bytes=base[1])
    texts = dict(base[2])

    live = check.LiveOracle()
    if not live.refresh(searcher, texts, set()):
        raise RuntimeError("docs table keys differ from the corpus")
    recs = _serve(run, searcher, run.topic_queries, TOPIC_CYCLE)
    run.check_exact(searcher, recs)
    run.check_oracle(live.oracle, recs)

    # maintenance on the served index: one append, compact_targeted()
    # (rewrites the shards the delta touched), then a fresh Searcher's
    # first batch over the patched index, checked like the others
    ok, _, app_s, app_cpu = run.op(
        "append", lambda: Maintainer(run.spark, idx).append(run.read(app[0])))
    if ok:
        texts.update(app[2])
    ok, _, ct_s, ct_cpu = run.op(
        "compact_targeted", lambda: Maintainer(run.spark, idx)
        .compact_targeted())
    led.update(append_s=app_s, compact_targeted_s=ct_s,
               maintenance_s=app_s + ct_s, maintenance_cpu_s=app_cpu + ct_cpu)
    ok, s, load_s, _ = run.op("load", Searcher.load, run.spark, idx)
    if ok:
        rec = run.batch(s, run.topic_queries(TOPIC_CYCLE[0][0]), {},
                        kind="fresh")
        led["fresh_query_s_all"] = [load_s + rec["lat"]]
        if rec["ok"]:
            if not live.refresh(s, texts, set()):
                run.fail(rec, "docs table keys differ from the live corpus")
            run.check_exact(s, [rec])
            run.check_oracle(live.oracle, [rec])


# ---- ingest_cycle -------------------------------------------------------------

def ingest_cycle(run: Run) -> None:
    from pdx_spark import IndexConfig, Searcher
    from pdx_spark.operators.maintenance import Maintainer
    from pdx_spark.sources.fixtures import make_transcripts_pdf

    def app_pdf(i: int):
        pdf = make_transcripts_pdf(APPEND_CONVS, seed=run.seed * 7919 + i + 1)
        pdf["conv_id"] = f"app{i}-" + pdf["conv_id"]
        return pdf

    (base, *apps), idx, _ = set_up(
        run, lambda: [run.gen(make_transcripts_pdf, "base", INGEST_CONVS,
                              seed=run.seed)]
        + [run.gen(app_pdf, f"append-{i}", i) for i in range(N_APPENDS)],
        IndexConfig())
    led = run.ledger
    texts, dead, live = dict(base[2]), set(), check.LiveOracle()

    def fresh_query(check_oracle: bool = True):
        """New Searcher plus one 50-query batch, checked against the
        oracle over the live corpus."""
        ok, s, load_s, _ = run.op("load", Searcher.load, run.spark, idx)
        if not ok:
            return None
        rec = run.batch(s, run.zipf_queries(FRESH_BATCH), {}, kind="fresh")
        led.setdefault("fresh_query_s_all", []).append(load_s + rec["lat"])
        if rec["ok"] and check_oracle:
            if not live.refresh(s, texts, dead):
                run.fail(rec, "docs table keys differ from the live corpus")
            run.check_oracle(live.oracle, [rec])
        return s

    s, cpu = None, 0.0
    for i, (path, _, app_texts) in enumerate(apps):
        ok, _, dt, c = run.op(
            "append", lambda p=path: Maintainer(run.spark, idx).append(
                run.read(p)))
        if ok:
            texts.update(app_texts)
        led.setdefault("append_s_all", []).append(dt)
        cpu += c
        s = fresh_query(check_oracle=i == len(apps) - 1)
    old_reader = s
    led["delta_dirs"] = len(Maintainer(run.spark, idx).manifest.get(
        "deltas", []))

    # ~1% of the live turns, scattered over the whole id range. The
    # targeted compaction runs on serve_topic instead, to keep this run
    # near a minute; there its small shards give it a few to rewrite.
    keys = run.rng.sample(sorted(texts), max(1, int(len(texts) * DELETE_FRAC)))
    kdf = run.spark.createDataFrame(
        [(c, int(t)) for c, t in keys], "conv_id string, turn_idx int")
    for kind, fn in (
            ("delete", lambda: Maintainer(run.spark, idx).delete(kdf)),
            ("compact", lambda: Maintainer(run.spark, idx).compact())):
        ok, _, dt, c = run.op(kind, fn)
        cpu += c
        if kind == "delete" and ok:
            dead.update(keys)
        led[f"{kind}_s"] = dt
    # the fresh query after compact() also checks the delete
    s = fresh_query()
    led["maintenance_s"] = sum(led["append_s_all"]) + sum(
        led[f"{k}_s"] for k in ("delete", "compact"))
    led["maintenance_cpu_s"] = cpu
    led["index_bytes"] = _du(idx)
    led["input_bytes"] = base[1] + sum(a[1] for a in apps)
    led["append_input_bytes"] = sum(a[1] for a in apps)

    # reader across compaction: a Searcher loaded before the delete and
    # compact() runs one more batch. A probe, not an operation: the
    # benchmark's workloads must run without failures, and this step
    # fails today (compact() deletes the files the old snapshot reads).
    # Its outcome is the per-layer metric maintenance.stale_reader_failed.
    try:
        with run.tr.paused():
            old_reader.search_batch(run.zipf_queries(ORACLE_SAMPLE)).collect()
        probe = {"ok": True}
    except Exception as e:  # noqa: BLE001 — the probe's outcome
        probe = {"ok": False, "error": type(e).__name__}
    led["probe_reader_across_compaction"] = probe

    # steady serving on the compacted index, the Zipf batch-size mix
    if s is not None:
        recs = _serve(run, s, run.zipf_queries, ZIPF_CYCLE)
        run.check_oracle(live.oracle, recs)


WORKLOADS = {"serve_topic": serve_topic, "ingest_cycle": ingest_cycle}
