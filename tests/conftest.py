import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdx_spark.config import default_cores, get_spark  # noqa: E402


def _test_cores() -> int:
    """PDX_TEST_CORES if set, else default_cores() (SPARK_GRAFT_CPUS,
    which the Tier-1 command exports, else the usable cores)."""
    env = os.environ.get("PDX_TEST_CORES")
    return int(env) if env else default_cores()


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


@pytest.fixture(scope="session")
def many_shards_index(spark, tiny_df, tmp_path_factory):
    """The tiny corpus at 4 docs per shard (> 64 shards): default
    options plan its batches two-phase, and a hot batch, whose bounds
    beat θ on every shard of this uniform corpus, runs the unrouted
    pass. Shared and read-only."""
    from pdx_spark.config import IndexConfig
    from pdx_spark.operators.indexer import Indexer
    path = str(tmp_path_factory.mktemp("many") / "idx")
    Indexer(spark, cfg=IndexConfig(block_size=8, docs_per_shard=4)).build(
        tiny_df, path)
    return path


def _topic_index(spark, path, **layout):
    """The topic-clustered fixture (600 conversations, 16 topics) built
    at `path` -> (its Searcher, an oracle keyed by dense doc_id)."""
    from pdx_spark.config import IndexConfig
    from pdx_spark.operators.indexer import Indexer
    from pdx_spark.operators.searcher import Searcher
    from pdx_spark.oracle import BM25Oracle
    from pdx_spark.schemas import TRANSCRIPTS
    from pdx_spark.sources.fixtures import make_topic_transcripts_pdf

    pdf = make_topic_transcripts_pdf(600, n_topics=16)
    Indexer(spark, cfg=IndexConfig(block_size=32, **layout)).build(
        spark.createDataFrame(pdf, schema=TRANSCRIPTS), path)
    texts = pdf.sort_values(["conv_id", "turn_idx"])["text"]
    return (Searcher.load(spark, path),
            BM25Oracle(dict(enumerate(texts))))


@pytest.fixture(scope="session")
def topic(spark, tmp_path_factory):
    """The topic fixture at 64 docs per shard (>= 64 shards), written
    as several segment files of 8 shards each. Shared and read-only:
    a test that changes the index works on a copy of `topic[0].path`."""
    return _topic_index(spark, str(tmp_path_factory.mktemp("topic") / "idx"),
                        docs_per_shard=64, shards_per_task=8)


@pytest.fixture
def py4j_commands(spark):
    """A counter of the py4j commands the driver sends to the JVM while
    the test runs: a one-item list, read before and after the step
    being counted. Memory deletes ("m\\nd\\n...") are not counted:
    Python's GC sends them when it frees earlier, unrelated proxies."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counting(command, *a, **k):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(command, *a, **k)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


@pytest.fixture
def spark_jobs(spark):
    """The number of Spark jobs submitted so far (the DAGScheduler's job
    id counter). Unlike the status tracker's job lists, which drop the
    oldest jobs past spark.ui.retainedJobs, it never goes down."""
    sc = spark.sparkContext
    return lambda: int(sc._jsc.sc().dagScheduler().numTotalJobs())
