from __future__ import annotations

import contextlib
import itertools
import os

import pytest

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.oracle import build_oracle_index
from blacklab_spark.session import get_spark
from blacklab_spark.sources.transcripts import gen_transcripts_pandas


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blacklab-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_pdf():
    return gen_transcripts_pandas("tiny", seed=42)


@pytest.fixture(scope="session")
def small_pdf():
    return gen_transcripts_pandas("small", seed=42)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_pdf):
    return build_oracle_index(tiny_pdf.to_dict("records"))


@pytest.fixture(scope="session")
def small_oracle(small_pdf):
    return build_oracle_index(small_pdf.to_dict("records"))


@pytest.fixture(scope="session")
def tiny_index_dir(spark, tiny_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "tiny")
    df = spark.createDataFrame(tiny_pdf)
    # small block/bucket sizes so tiny corpora exercise multi-block,
    # multi-bucket code paths
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    build_index(spark, df, out, cfg)
    return out


@pytest.fixture(scope="session")
def small_index_dir(spark, small_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "small")
    df = spark.createDataFrame(small_pdf)
    cfg = BuildConfig(block_size=32, bucket_size=256, num_partitions=8)
    build_index(spark, df, out, cfg)
    return out


@pytest.fixture(scope="session")
def tiny_engine(spark, tiny_index_dir):
    return SearchEngine.open(spark, tiny_index_dir)


@pytest.fixture(scope="session")
def small_engine(spark, small_index_dir):
    return SearchEngine.open(spark, small_index_dir)


_groups = itertools.count()


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """``with spark_jobs() as ids:`` — on exit, ``ids`` holds the ids
    of the Spark jobs the block submitted, counted through a job group
    of its own."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def count():
        group = f"test-jobs-{next(_groups)}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "count jobs")
        ids: list[int] = []
        try:
            yield ids
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            # the status store is fed asynchronously by the listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture(scope="session")
def assert_artifact_schemas(spark):
    """Checker: for each named artifact dir of an index, the schema
    read_artifact takes from the parquet footer equals the one Spark
    infers."""
    from blacklab_spark.index import read_artifact

    def check(index_dir: str, *kinds: str) -> None:
        for kind in kinds:
            p = os.path.join(index_dir, kind)
            assert read_artifact(spark, p).schema == \
                spark.read.parquet(p).schema, kind
    return check
