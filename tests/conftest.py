import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from blacklab_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("local[8]", app_name="blacklab_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_index(spark, tmp_path_factory):
    from blacklab_spark.build import build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path_factory.mktemp("ix_tiny"))
    build_index(spark, pages_df(spark, "tiny"), out, n_shards=2, block_size=4)
    return Index(spark, out)


@pytest.fixture(scope="session")
def tiny_oracle():
    from blacklab_spark.fixtures import pages_pdf
    from blacklab_spark.oracle import OracleIndex

    return OracleIndex.build(pages_pdf("tiny"))


@pytest.fixture(scope="session")
def small_index(spark, tmp_path_factory):
    from blacklab_spark.build import build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path_factory.mktemp("ix_small"))
    build_index(spark, pages_df(spark, "small"), out, n_shards=8, block_size=64)
    return Index(spark, out)


@pytest.fixture(scope="session")
def small_oracle():
    from blacklab_spark.fixtures import pages_pdf
    from blacklab_spark.oracle import OracleIndex

    return OracleIndex.build(pages_pdf("small"))


@pytest.fixture(scope="session")
def tiny_index_annot(spark, tmp_path_factory):
    from blacklab_spark.build import build_index
    from blacklab_spark.fixtures import pages_df
    from blacklab_spark.query import Index

    out = str(tmp_path_factory.mktemp("ix_tiny_annot"))
    build_index(
        spark, pages_df(spark, "tiny"), out, n_shards=2, block_size=4,
        annotations=("word", "lemma", "pos"),
    )
    return Index(spark, out)


@pytest.fixture
def ranked_paths(monkeypatch):
    """Iterate `for path in ranked_paths():` to run a test body once on each
    ranked term query path: "driver" (query.DRIVER_BLOCKS huge: pyarrow
    reads, no Spark job) and "spark" (DRIVER_BLOCKS = 0: the Spark plan
    for any query that reads a posting block)."""
    from blacklab_spark import query

    def each():
        for name, budget in (("driver", 10**18), ("spark", 0)):
            monkeypatch.setattr(query, "DRIVER_BLOCKS", budget)
            yield name

    return each
