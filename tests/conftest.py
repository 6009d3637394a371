import itertools

import pytest


@pytest.fixture(scope="session")
def spark():
    from parquet_python_spark.session import get_spark

    s = get_spark("pps-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def written(tmp_path):
    """``written(blocks)``: the blocks DataFrame written as parquet files
    under the test's tmp_path and read back as a bare scan, the only
    blocks input the decoders accept."""
    n = itertools.count()

    def write(blocks):
        path = str(tmp_path / f"written-{next(n)}")
        blocks.write.parquet(path)
        return blocks.sparkSession.read.parquet(path)

    return write
