#!/usr/bin/env python
"""Round-6 optimization side-bench (bench.py is FROZEN; extra
measurements live here, per the optimization guide §1.4):

  * noop-sink isolation of the build's internal phases (tokenize,
    segment encode) — computation timed without the sink;
  * per-operator noop timings for every declared LLM-data-pipeline
    operator at the bench scale factor (dedup, similarity, text stats,
    multimodal, relational, windowed events);
  * internal phase breakdown of one full build + one append from the
    manifest lineage.

Usage: python bench_extra.py [--ops] [--build] (default: both).
Prints one JSON line per section. Env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdx_spark.config import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()


def noop(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


def bench_build(spark) -> dict:
    from pyspark.sql import functions as F

    from pdx_spark.config import BM25Params, IndexConfig
    from pdx_spark.operators import corpus as C
    from pdx_spark.operators.indexer import Indexer
    from pdx_spark.operators.maintenance import Maintainer
    from pdx_spark.schemas import TRANSCRIPTS
    from pdx_spark.sources.fixtures import transcripts_path

    scale = {"0.001": "tiny", "0.01": "small", "0.1": "bench"}.get(
        SF_DIR.rstrip("/").rsplit("sf", 1)[-1], "bench")
    df = spark.read.schema(TRANSCRIPTS).parquet(transcripts_path(scale))
    out = {"n_turns": df.count()}

    # noop-isolated internal phases (computation only, no sink)
    spark.sparkContext.setJobDescription("bench_extra: assign_ids noop")
    ids = C.assign_doc_ids(df)
    out["assign_ids_noop"] = noop(ids)
    spark.sparkContext.setJobDescription("bench_extra: tokenize noop")
    meta = ids.withColumn(
        "text_hash", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))))
    dp = C.doc_postings(meta, extra_cols=C.DOC_META_COLS)
    out["tokenize_noop"] = noop(dp)

    # full build + append, with the manifest's internal phase timings
    idx = os.path.join(tempfile.gettempdir(), "pdx_bench_extra_idx")
    shutil.rmtree(idx, ignore_errors=True)
    spark.sparkContext.setJobDescription("bench_extra: full build")
    t0 = time.time()
    m = Indexer(spark, cfg=IndexConfig()).build(df, idx, n_chunks=1)
    out["build_wall"] = round(time.time() - t0, 3)
    for entry in m["lineage"]:
        for k, v in entry.get("timings", {}).items():
            if isinstance(v, (int, float)):
                out[f"build_{k}"] = v
    out["build_encode_chunk"] = m["chunks"]["0"]["sec"]

    app = df.filter(F.crc32(F.col("conv_id").cast("string")) % 50 == 0)
    spark.sparkContext.setJobDescription("bench_extra: append")
    t0 = time.time()
    m = Maintainer(spark, idx).append(app, batch_id=0)
    out["append_wall"] = round(time.time() - t0, 3)
    for k, v in m["lineage"][-1]["timings"].items():
        if isinstance(v, (int, float)):
            out[f"append_{k}"] = v
    shutil.rmtree(idx, ignore_errors=True)
    return out


# LLM-data-pipeline operators measured with the noop sink at SF_DIR
# scale. Every declared non-engine operator family appears once.
def bench_ops(spark) -> dict:
    import __spark_entry__ as E
    qs = E.queries()
    ops = [
        "dedup_exact", "dedup_exact_norm", "dedup_drop_list",
        "dedup_jaccard", "dedup_minhash", "dedup_minhash_pairs",
        "dedup_simhash", "dedup_simhash_pairs", "dedup_embedding",
        "dedup_embedding_lsh",
        "ann_bruteforce", "ann_lsh", "ann_ivf", "ann_filtered",
        "ann_lsh_batch",
        "text_stats", "text_quality", "lang_id", "fingerprint",
        "media_features", "events_windowed", "events_sessions",
        "tpch_pricing", "top_customers",
    ]
    out = {}
    for name in ops:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        t0 = time.time()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def main():
    from pdx_spark.config import get_spark
    args = set(sys.argv[1:]) or {"--ops", "--build"}
    spark = get_spark(cores=CPUS, app="pdx_bench_extra",
                      shuffle_partitions=max(CPUS, 8))
    try:
        if "--build" in args:
            print(json.dumps({"section": "build_phases", "sf_dir": SF_DIR,
                              "cpus": CPUS, **bench_build(spark)}))
        if "--ops" in args:
            print(json.dumps({"section": "operators_noop", "sf_dir": SF_DIR,
                              "cpus": CPUS, **bench_ops(spark)}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
