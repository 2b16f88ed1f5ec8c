"""Self-test of the seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q

Pins four properties of ``gen.build_tables``: the same seed gives identical
tables, another seed gives different ones, column types match the testdata
tables (arrow types, parquet physical types and parquet logical types,
time units included, checked against the engine's default testdata
directory, ``tables.sf_dir_from_env()``, when it exists, and against
``gen.SCHEMAS`` always), and every foreign key resolves.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from flink_scala_spark.tables import sf_dir_from_env  # noqa: E402

TESTDATA = sf_dir_from_env()


@pytest.fixture(scope="module")
def seed7():
    return gen.build_tables(7, "warmup")


def test_same_seed_same_tables(seed7):
    again = gen.build_tables(7, "warmup")
    for name in gen.TABLES:
        assert seed7[name].equals(again[name]), name


def test_other_seed_other_tables(seed7):
    other = gen.build_tables(8, "warmup")
    for name in gen.TABLES:
        if name == "region":
            continue  # five fixed rows by construction
        assert not seed7[name].equals(other[name]), name
    assert seed7["events"].num_rows == other["events"].num_rows


def test_types_match_testdata(seed7, tmp_path):
    for name in gen.TABLES:
        assert seed7[name].schema.equals(gen.SCHEMAS[name]), name
    if not os.path.isdir(TESTDATA):
        pytest.skip(f"no testdata at {TESTDATA}")
    gen.ensure(str(tmp_path / "d"), 7, "warmup")
    for name in gen.TABLES:
        ours = _file_types(tmp_path / "d" / f"{name}.parquet")
        theirs = _file_types(os.path.join(TESTDATA, f"{name}.parquet"))
        assert ours == theirs, name


def _file_types(path):
    """Arrow type, parquet physical type and parquet logical type (with its
    time unit) of every column of one parquet file."""
    f = pq.ParquetFile(path)
    cols = [f.schema.column(i) for i in range(len(f.schema))]
    return ([(fld.name, fld.type) for fld in f.schema_arrow],
            [(c.path, c.physical_type, str(c.logical_type)) for c in cols])


def _keys_in(child, col, parent, key):
    return pc.all(pc.is_in(child.column(col), value_set=parent.column(key))).as_py()


def test_foreign_keys_hold(seed7):
    t = seed7
    assert _keys_in(t["lineitem"], "l_orderkey", t["orders"], "o_orderkey")
    assert _keys_in(t["lineitem"], "l_partkey", t["part"], "p_partkey")
    assert _keys_in(t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey")
    assert _keys_in(t["orders"], "o_custkey", t["customer"], "c_custkey")
    assert _keys_in(t["customer"], "c_nationkey", t["nation"], "n_nationkey")
    assert _keys_in(t["supplier"], "s_nationkey", t["nation"], "n_nationkey")
    assert _keys_in(t["nation"], "n_regionkey", t["region"], "r_regionkey")
    for name, key in (("orders", "o_orderkey"), ("events", "event_id"),
                      ("documents", "doc_id"), ("embeddings", "vec_id")):
        assert pc.count_distinct(t[name].column(key)).as_py() == t[name].num_rows, name
