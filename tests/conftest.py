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


def _pred_row_expr(preds: list[tuple], combine: str = "and"):
    """Row-level Column expression for a predicate conjunction (or
    disjunction with ``combine="or"``): the plain Spark filter whose rows
    every pruned decode returns."""
    from pyspark.sql import functions as F

    e = None
    for p in preds:
        op, col = p[0], p[1]
        if op == "range":
            c = (F.col(col) >= p[2]) & (F.col(col) <= p[3])
        elif op == "eq":
            c = F.col(col) == p[2]
        elif op == "in":
            c = F.col(col).isin(list(p[2])) if p[2] else F.lit(False)
        elif op == "isnull":
            c = F.col(col).isNull()
        elif op == "notnull":
            c = F.col(col).isNotNull()
        else:
            raise ValueError(f"unknown predicate op {op!r}")
        if e is None:
            e = c
        else:
            e = (e & c) if combine == "and" else (e | c)
    return e


@pytest.fixture
def pred_row_expr():
    """``pred_row_expr(preds, combine="and")``: the reference Spark filter
    for decode_df_pruned_multi's predicate atoms."""
    return _pred_row_expr
