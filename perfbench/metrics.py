"""End-to-end metrics (untraced runs) and per-layer metrics (traced
runs), by the names BENCHMARK.json lists, plus the run's detail record."""

from __future__ import annotations

import statistics

E2E = {
    "setup_s": "s",
    "cpu_s_per_query": "s",
    "build_cpu_s": "s",
    "maintenance_cpu_s": "s",
    "index_bytes_per_input_byte": "ratio",
}

LAYER = {
    "sources.gen_s": "s",
    "corpus.assign_doc_ids_s": "s",
    "corpus.tokenize_stats_s": "s",
    "indexer.docs_write_s": "s",
    "indexer.encode_write_s": "s",
    "indexer.verify_rg_s": "s",
    "indexer.stats_dir_s": "s",
    "indexer.input_bytes": "bytes",
    "indexer.shuffle_write_bytes": "bytes",
    "indexer.output_bytes": "bytes",
    "indexer.executor_cpu_s": "s",
    "searcher.load_s": "s",
    "fs.listing_s": "s",
    "searcher.driver_pre_job_s": "s",
    "searcher.idf_s": "s",
    "searcher.plan_s": "s",
    "searcher.mode_exhaustive": "count",
    "searcher.mode_routed": "count",
    "searcher.mode_unrouted": "count",
    "searcher.mode_cogroup": "count",
    "searcher.pruned_pair_frac": "ratio",
    "searcher.jobs_per_batch": "count",
    "searcher.tasks_per_batch": "count",
    "searcher.task_wait_s": "s",
    "searcher.scan_input_bytes_per_query": "bytes",
    "searcher.python_bytes_in_per_query": "bytes",
    "searcher.python_bytes_out_per_query": "bytes",
    "searcher.executor_cpu_s_per_query": "s",
    "searcher.driver_merge_s": "s",
    "fs.commit_s": "s",
    "fs.manifest_commits": "count",
    "fs.manifest_bytes": "bytes",
    "maintenance.compact_targeted_rewrite_bytes": "bytes",
    "maintenance.compact_rewrite_bytes": "bytes",
    "maintenance.bytes_written_per_input_byte": "ratio",
    "maintenance.delta_dirs": "count",
    "maintenance.stale_reader_failed": "count",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.jobs_by_window": "count",
    "trace.coverage": "ratio",
    "trace.overhead_frac": "ratio",
}

UNITS = {**E2E, **LAYER}


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it ->
    (value, percentile, sample count); the maximum below 11 samples."""
    v = sorted(values)
    i = max(len(v) - 11, 0) if len(v) > 10 else len(v) - 1
    return v[i], 100.0 * (i + 1) / len(v), len(v)


def _serving(run) -> list[dict]:
    """The serving window's untraced answered batches (fresh-Searcher
    batches count toward fresh_query_s only)."""
    return [b for b in run.batches if b["ok"] and b["kind"] == "serve"
            and not b["traced"]]


def _median(xs: list[float]) -> float:
    """Median, or 0 when a failed operation left nothing to time (the
    run then reports correct: false)."""
    return statistics.median(xs) if xs else 0.0


def end_to_end(run) -> dict:
    """The bounded metrics: set-up time, CPU work, index size."""
    bs = _serving(run)
    led = run.ledger
    return {
        "setup_s": run.setup_parts["session_s"]
        + statistics.median(run.setup_parts["repeated_s"]),
        "cpu_s_per_query": sum(b["cpu"] for b in bs)
        / sum(b["n"] for b in bs),
        "build_cpu_s": led["build_cpu_s"],
        "maintenance_cpu_s": led.get("maintenance_cpu_s", 0.0),
        "index_bytes_per_input_byte": led["index_bytes"] / led["input_bytes"],
    }


def unbounded(run, rss_gb: float) -> dict:
    """Wall times and peak memory, in the detail record only: on a
    shared host they swing more between runs than a regression bound
    allows."""
    bs = _serving(run)
    lat = [b["lat"] for b in bs]
    t_val, t_pct, t_n = tail(lat)
    led = run.ledger
    return {
        "batch_p50_s": statistics.median(lat),
        "batch_tail": {"value_s": t_val, "percentile": t_pct,
                       "samples": t_n},
        "qps": sum(b["n"] for b in bs) / sum(lat),
        "build_s": led["build_s"],
        "maintenance_s": led.get("maintenance_s", 0.0),
        "fresh_query_s": _median(led.get("fresh_query_s_all", [])),
        "peak_rss_gb": rss_gb,
    }


def detail(run, e2e: dict, layers: dict | None, rss_gb: float) -> dict:
    """Everything a result records beyond the printed metrics."""
    modes: dict[str, int] = {}
    for b in run.batches:
        if b["ok"]:
            modes[str(b["mode"])] = modes.get(str(b["mode"]), 0) + 1
    return {
        "attempted": run.attempted, "failed": run.failed,
        "failed_frac": run.failed / max(run.attempted, 1),
        "failures": run.failures[:20],
        "unbounded": unbounded(run, rss_gb),
        "batch_modes": modes, "setup_parts": run.setup_parts,
        "batches": [[b["kind"], b["n"], sorted(b["opts"]), b["mode"],
                     round(b["lat"], 4)] for b in run.batches],
        "ledger": run.ledger, "end_to_end": e2e, "per_layer": layers,
    }


def _span_walls(tree, name: str, within=None) -> float:
    roots = within if within is not None else [None]
    return sum(s.wall for r in roots for s in tree.named(name, r))


def _jobs_wall(jobs) -> float:
    from spans import union_len
    return union_len([(j.submit, j.end) for j in jobs],
                     float("-inf"), float("inf"))


def _overhead(batches: list[dict]) -> float:
    """Median over (traced, untraced) pairs of the same batch slot of the
    latency ratio, minus one."""
    ratios = [a["lat"] / b["lat"] for a, b in zip(batches, batches[1:])
              if a["ok"] and b["ok"] and a["traced"] and not b["traced"]
              and a["n"] == b["n"] and a["opts"] == b["opts"]]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def batch_layers(tree, op, rec: dict) -> dict:
    """Driver and Spark split of one traced search_batch call."""
    jobs = tree.subtree_jobs(op)
    t = rec["plan"].get("timings", {})
    idf = _span_walls(tree, "searcher.idf", [op])
    out = {"jobs": len(jobs), "tasks": sum(j.tasks for j in jobs),
           "idf_s": idf,
           "plan_s": idf + sum(t.get(k, 0.0) for k in
                               ("plan_ub", "seed_scan", "routing_peek")),
           "input_bytes": sum(j.input_bytes for j in jobs),
           "py_in_bytes": sum(j.py_in_bytes for j in jobs),
           "py_out_bytes": sum(j.py_out_bytes for j in jobs),
           "executor_cpu_s": sum(j.cpu_s for j in jobs),
           "task_wait_s": [j.first_task - j.submit for j in jobs
                           if j.first_task is not None]}
    if jobs:
        out["pre_job_s"] = min(j.submit for j in jobs) - op.start
        out["merge_s"] = max(0.0, op.end - max(j.end for j in jobs))
    for k in ("seed_scan", "plan_ub", "routing_peek"):
        out[f"{k}_s"] = t.get(k, 0.0)
    return out


def coverage(tree, op) -> float:
    """Share of an operation's wall time covered by the layers below its
    engine entry point: descendant spans, Spark jobs, and for a batch the
    driver time before its first job and after its last."""
    from spans import union_len
    iv = [(s.start, s.end) for s in tree.subtree(op)[1:]
          if s.parent != op.id]
    jobs = tree.subtree_jobs(op)
    iv += [(j.submit, j.end) for j in jobs]
    if op.name == "op.batch" and jobs:
        iv += [(op.start, min(j.submit for j in jobs)),
               (max(j.end for j in jobs), op.end)]
    return union_len(iv, op.start, op.end) / op.wall if op.wall > 0 else 1.0


def per_layer(run, tree) -> dict:
    """Per-layer metrics of a traced run, plus the workload-specific ones
    (maintenance times, two-phase planner split) in run.ledger."""
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    ib = tree.named("indexer.build")
    bjobs = [j for b in ib for j in tree.subtree_jobs(b)]
    direct = [j for b in ib for j in tree.jobs_of.get(b.id, [])
              if not j.by_window]
    stage_a = [j for j in direct if j.name.startswith("collect at")
               and "indexer.py" in j.name]
    encode = [j for j in direct if j not in stage_a]

    ops = sorted((s for s in tree.spans if s.name.startswith("op.")),
                 key=lambda s: s.start)
    traced = [b for b in run.batches if b["traced"]]
    bops = [s for s in ops if s.name == "op.batch"]
    per = [batch_layers(tree, op, rec) for op, rec in zip(bops, traced)
           if rec["ok"]]
    n_q = sum(rec["n"] for rec in traced if rec["ok"]) or 1
    two = [b["plan"] for b in run.batches if b["ok"] and "n_main" in b["plan"]]
    pairs = sum(p["n_queries"] * p["n_shards"] for p in two)
    modes = [b["mode"] for b in run.batches if b["ok"]]

    def op_jobs(name):
        return [j for s in tree.named(name) for j in tree.subtree_jobs(s)]

    commits = tree.named("fs.write_text_atomic")
    # sub-50 ms operations (Searcher.load) have nothing to attribute
    timed_ops = [s for s in ops if s.wall >= 0.05]
    cov_w = sum(s.wall for s in timed_ops)
    cov = {}
    for kind in sorted({s.name for s in timed_ops}):
        ks = [s for s in timed_ops if s.name == kind]
        w = sum(s.wall for s in ks)
        cov[kind] = sum(coverage(tree, s) * s.wall for s in ks) / w if w else 1
    led = run.ledger
    led["trace"] = {
        "coverage_by_op": cov,
        "unattributed": {k: round(1 - v, 4) for k, v in cov.items()
                         if v < 0.9},
        "maintenance.append_encode_write_s": _jobs_wall(
            [j for j in op_jobs("maintenance.append")
             if j.description == "append: delta segment"]),
        "maintenance.delete_executor_s": sum(
            j.run_s for j in op_jobs("maintenance.delete")),
        "maintenance.compact_executor_s": sum(
            j.run_s for j in op_jobs("maintenance.compact")),
        "indexer.gc_s": sum(j.gc_s for j in bjobs),
        "searcher.seed_scan_s": mean([p["seed_scan_s"] for p in per]),
        "searcher.plan_ub_s": mean([p["plan_ub_s"] for p in per]),
        "searcher.routing_peek_s": mean([p["routing_peek_s"] for p in per]),
        "searcher.driver_merge_s_800": mean(
            [p.get("merge_s", 0.0) for p, r in zip(per, traced)
             if r["n"] == 800]),
        "self_time_min_s": min((tree.self_time(s) for s in tree.spans),
                               default=0.0),
    }
    app_out = sum(j.output_bytes for j in op_jobs("maintenance.append"))
    return {
        "sources.gen_s": _span_walls(tree, "sources.gen"),
        "corpus.assign_doc_ids_s": _span_walls(tree, "corpus.assign_doc_ids"),
        "corpus.tokenize_stats_s": sum(j.run_s for j in stage_a),
        "indexer.docs_write_s": _jobs_wall(
            [j for j in bjobs if j.description == "build: docs write"]),
        "indexer.encode_write_s": _jobs_wall(encode),
        "indexer.verify_rg_s": _span_walls(tree, "fs.verify_single_rowgroup",
                                           ib),
        "indexer.stats_dir_s": _span_walls(
            tree, "indexer.stat_artifacts_local", ib),
        "indexer.input_bytes": sum(j.input_bytes for j in bjobs),
        "indexer.shuffle_write_bytes": sum(j.shuffle_write_bytes
                                           for j in bjobs),
        "indexer.output_bytes": sum(j.output_bytes for j in bjobs),
        "indexer.executor_cpu_s": sum(j.cpu_s for j in bjobs),
        "searcher.load_s": mean([s.wall for s in
                                 tree.named("searcher.load")]),
        "fs.listing_s": _span_walls(tree, "fs.parquet_files"),
        "searcher.driver_pre_job_s": mean([p["pre_job_s"] for p in per
                                           if "pre_job_s" in p]),
        "searcher.idf_s": mean([p["idf_s"] for p in per]),
        "searcher.plan_s": mean([p["plan_s"] for p in per]),
        "searcher.mode_exhaustive": modes.count("exhaustive"),
        "searcher.mode_routed": modes.count("routed"),
        "searcher.mode_unrouted": modes.count("unrouted"),
        "searcher.mode_cogroup": modes.count("cogroup"),
        "searcher.pruned_pair_frac": (
            1.0 - sum(p["n_main"] for p in two) / pairs) if pairs else 0.0,
        "searcher.jobs_per_batch": mean([p["jobs"] for p in per]),
        "searcher.tasks_per_batch": mean([p["tasks"] for p in per]),
        "searcher.task_wait_s": mean([w for p in per
                                      for w in p["task_wait_s"]]),
        "searcher.scan_input_bytes_per_query": sum(
            p["input_bytes"] for p in per) / n_q,
        "searcher.python_bytes_in_per_query": sum(
            p["py_in_bytes"] for p in per) / n_q,
        "searcher.python_bytes_out_per_query": sum(
            p["py_out_bytes"] for p in per) / n_q,
        "searcher.executor_cpu_s_per_query": sum(
            p["executor_cpu_s"] for p in per) / n_q,
        "searcher.driver_merge_s": mean([p["merge_s"] for p in per
                                         if "merge_s" in p]),
        "fs.commit_s": sum(s.wall for s in commits),
        "fs.manifest_commits": len(commits),
        "fs.manifest_bytes": sum(s.attrs.get("bytes", 0) for s in commits),
        "maintenance.compact_targeted_rewrite_bytes": sum(
            j.output_bytes for j in op_jobs("maintenance.compact_targeted")),
        "maintenance.compact_rewrite_bytes": sum(
            j.output_bytes for j in op_jobs("maintenance.compact")),
        "maintenance.bytes_written_per_input_byte": (
            app_out / led["append_input_bytes"]
            if led.get("append_input_bytes") else 0.0),
        "maintenance.delta_dirs": led.get("delta_dirs", 0),
        "maintenance.stale_reader_failed": int(
            not led.get("probe_reader_across_compaction", {"ok": True})["ok"]),
        "spark.gc_s": sum(j.gc_s for j in tree.jobs),
        "spark.shuffle_bytes": sum(j.shuffle_write_bytes for j in tree.jobs),
        "spark.failed_tasks": sum(j.failed_tasks for j in tree.jobs),
        "spark.jobs_by_window": sum(j.by_window for j in tree.jobs),
        "trace.coverage": sum(coverage(tree, s) * s.wall
                              for s in timed_ops) / cov_w if cov_w else 1.0,
        "trace.overhead_frac": _overhead(run.batches),
    }
