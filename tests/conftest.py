import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdx_spark.config import get_spark  # noqa: E402


def _test_cores() -> int:
    """PDX_TEST_CORES if set, else SPARK_GRAFT_CPUS (the host's core
    count as the Tier-1 command exports it), else the usable cores."""
    env = os.environ.get("PDX_TEST_CORES") or os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=_test_cores(), app="pdx_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pdf():
    from pdx_spark.sources.fixtures import make_transcripts_pdf
    return make_transcripts_pdf(50)


@pytest.fixture(scope="session")
def tiny_df(spark, tiny_pdf):
    from pdx_spark.schemas import TRANSCRIPTS
    return spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_pdf):
    """Oracle keyed by the engine's dense doc_id = rank of (conv_id, turn_idx)."""
    from pdx_spark.oracle import BM25Oracle
    pdf = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return BM25Oracle({i: t for i, t in enumerate(pdf["text"])})


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_df, tmp_path_factory):
    """Built index over the tiny corpus (small shards => many shards)."""
    from pdx_spark.config import IndexConfig
    from pdx_spark.operators.indexer import Indexer
    path = str(tmp_path_factory.mktemp("idx") / "tiny")
    cfg = IndexConfig(block_size=16, docs_per_shard=64)
    Indexer(spark, cfg=cfg).build(tiny_df, path, n_chunks=2)
    return path
