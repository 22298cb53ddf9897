"""Input staging is a function of the seed: the same seed gives the same
parquet content, another seed another window. Starts a local Spark
session (about 10 s)."""

import hashlib
import os

import pytest

from perfbench import inputs


def parquet_digest(path: str) -> str:
    """Order-independent digest of a staged parquet table's rows."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    lines = sorted(repr(sorted(row.items())) for row in table.to_pylist())
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from pheknowlator_spark import get_spark

    session = get_spark(app_name="perfbench-tests")
    yield session
    session.stop()


def test_pages_window_is_seeded_and_bounded():
    slack = inputs.WINDOW_SLACK
    assert inputs.pages_window(7) == inputs.pages_window(7) == 7
    assert inputs.pages_window(slack + 1) == 0
    assert 0 <= inputs.pages_window(2**40 + 3) <= slack


def test_staged_pages_are_deterministic_per_seed(spark, tmp_path):
    a = inputs.stage_pages(spark, str(tmp_path / "a"), 3, 40, 1)
    b = inputs.stage_pages(spark, str(tmp_path / "b"), 3, 40, 1)
    c = inputs.stage_pages(spark, str(tmp_path / "c"), 9, 40, 1)
    assert parquet_digest(a) == parquet_digest(b)
    assert parquet_digest(a) != parquet_digest(c)
    urls = spark.read.parquet(a).select("url").collect()
    ids = sorted(int(r.url.rsplit("/", 1)[1]) for r in urls)
    assert ids == list(range(3, 43))


def test_fixture_rows_shuffle_order_only(spark, tmp_path):
    tpch = inputs.stage_tpch(str(tmp_path))
    rows_a, edges_a = inputs.fixture_rows(spark, tpch, 1)
    rows_b, edges_b = inputs.fixture_rows(spark, tpch, 1)
    rows_c, edges_c = inputs.fixture_rows(spark, tpch, 2)
    assert (rows_a, edges_a) == (rows_b, edges_b)
    assert rows_a != rows_c and sorted(rows_a) == sorted(rows_c)
    assert sorted(edges_a) == sorted(edges_c) and len(edges_a) == 25
