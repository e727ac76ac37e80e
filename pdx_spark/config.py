"""Engine configuration: BM25 parameters, index layout knobs, session factory.

The reference fixes its knobs as compile-time constants
(/root/reference/include/pdx/common.hpp:38-67: PROPORTION_HORIZONTAL_DIM,
H_DIM_SIZE=64, ADSampling epsilon0=1.5; index.hpp:30 seed=42). We mirror
that discipline: every number that affects results lives here, is
serialized into the index manifest, and any change invalidates fixtures.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass, field

SEED = 42  # reference: include/pdx/index.hpp:30 (seed = 42 everywhere)

# Tokenization is shared by the Spark engine, the Python oracle and the
# DuckDB oracle SQL: lowercase, then extract runs of [a-z0-9].
TOKEN_PATTERN = "[a-z0-9]+"
TOKEN_SPLIT_PATTERN = "[^a-z0-9]+"  # complement, for JVM-side split()


@dataclass(frozen=True)
class BM25Params:
    """Lucene-variant BM25 (non-negative idf). See FIXTURES.md §7.

    idf(t)      = ln((N - df + 0.5) / (df + 0.5) + 1)
    tfnorm(t,d) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score(q,d)  = sum over distinct q terms of idf(t) * tfnorm(t,d)
    Accumulation in float64, term order sorted, tie-break (score desc,
    doc_id asc) — this is what makes rank-identity testable (SURVEY §7.4).
    """

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class IndexConfig:
    """Physical layout knobs (PDX-layout analogs).

    block_size     — postings per block; analog of the reference's
                     fixed-capacity cluster buffers (cluster.hpp:22-24).
    docs_per_shard — width of a doc-id range shard; the analog of PDX's
                     cluster partitioning (every term's postings are cut
                     at shard boundaries so each shard scores
                     independently — this is what makes the build
                     embarrassingly parallel and resumable, and defeats
                     hot-term skew: a Zipf-head term is spread over all
                     shards instead of one reducer).
    shards_per_task — shards grouped per build task / output file group.
    """

    block_size: int = 128
    docs_per_shard: int = 8192
    shards_per_task: int = 64
    format_version: int = 2  # v2: u8-quantized directory bound metadata

    def shard_of_expr(self):  # doc_id -> shard (Spark Column)
        from pyspark.sql import functions as F

        return (F.col("doc_id") / self.docs_per_shard).cast("long")


def manifest_params(bm25: BM25Params, cfg: IndexConfig) -> dict:
    return {"bm25": asdict(bm25), "layout": asdict(cfg), "seed": SEED,
            "token_pattern": TOKEN_PATTERN}


def default_cores() -> int:
    """SPARK_GRAFT_CPUS if set, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_mem(ram_bytes: int | None = None) -> str:
    """PDX_SPARK_DRIVER_MEM if set, else a quarter of `ram_bytes` (the
    host's RAM) clamped to 1-8 GiB."""
    ram = ram_bytes or os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("PDX_SPARK_DRIVER_MEM") \
        or f"{max(1, min(8, int(ram / (1 << 30) // 4)))}g"


def get_spark(cores: int | None = None, app: str = "pdx_spark",
              shuffle_partitions: int | None = None):
    """Session factory used by tests/bench: local[cores] (default
    default_cores()) with default_driver_mem() of driver memory. On a
    real cluster callers pass their own session — nothing here assumes
    local mode except the master default."""
    from pyspark.sql import SparkSession

    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Scan-task granularity: the encode writes segment files at ~4
        # per build core (each one row group). Spark's default split
        # packing targets ONE partition per core (total/defaultParallelism
        # bytes, 4 MB open cost), re-packing those files into ~cores
        # unsplittable bins — one straggler bin then costs a whole extra
        # wave (measured: a 9-task scan on 8 cores ran 2 waves, ~44% idle
        # in the tail). One task per segment file restores 3-4 balanced
        # waves at every cluster size; at petabyte scale raise file size
        # and these two knobs TOGETHER (SCALE.md "Scan granularity").
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.files.openCostInBytes", "8388608")
        # zstd on shuffle blocks ONLY: the build is disk-bound (BENCH.md
        # "Build leg"), and at 4N executors the shared disk is the
        # contended resource — the shuffle is its biggest client (bytes
        # hit disk on write AND read). Measured by
        # tools/build_bytes_probe.py at 32 cores (BENCH.md r5 notes):
        # shuffle 478 -> 251 MB at flat wall/CPU. Parquet stays snappy:
        # zstd there saves only ~15% of a far smaller artifact, slows
        # the query-time pyarrow map-scan decode, and (measured, twice)
        # zstd-on-BOTH regressed the 32-core build 23 -> 32-39s where
        # either alone was flat — the two zstd users contend somewhere
        # below the JVM; don't stack them.
        .config("spark.io.compression.codec",
                os.environ.get("PDX_IO_CODEC", "zstd"))
        .config("spark.io.compression.zstd.level", "1")
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("PDX_PARQUET_CODEC", "snappy"))
        # docs `ts` as the driver writer's INT64 micros, not 12-byte INT96
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled",
                "true" if os.environ.get("PDX_SPARK_UI") else "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
