"""Fixture catalog: the per-session parquet schema memo behind ``load``.

The first read of a fixture file infers its schema (one Spark job); every
later read passes the memoized schema and must run no job, return exactly
what a plain ``spark.read.parquet`` returns, notice a rewritten file, and
still give each read its own relation (self-joins).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from uk_procurement_data_pipeline_spark import catalog


def _last_job_id(spark) -> int:
    """Id of the newest job the status store has recorded (-1 if none)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() if jobs.nonEmpty() else -1


@pytest.mark.parametrize("table", catalog.TABLES)
def test_second_load_runs_no_spark_job(spark, sf_dir, table):
    catalog.load(spark, sf_dir, table)
    before = _last_job_id(spark)
    catalog.load(spark, sf_dir, table)
    assert _last_job_id(spark) == before


@pytest.mark.parametrize("table", catalog.TABLES)
def test_memoized_load_equals_plain_read(spark, sf_dir, table):
    if table == "events" and catalog.probe_events_nanos(
        spark, f"{sf_dir}/events.parquet"
    ):
        pytest.skip("a nanos events fixture has no plain read to compare to")
    catalog.load(spark, sf_dir, table)  # make sure the memo is warm
    got = catalog.load(spark, sf_dir, table)
    plain = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    assert got.schema == plain.schema
    assert sorted(got.collect(), key=repr) == sorted(plain.collect(), key=repr)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert catalog.load(spark, str(tmp_path), "nation").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [1, 2, 3], "c": [0.5, 1.5, 2.5]}), path)
    df = catalog.load(spark, str(tmp_path), "nation")
    assert df.columns == ["a", "c"]
    assert sorted(r.c for r in df.collect()) == [0.5, 1.5, 2.5]


def test_self_join_of_two_loads_keeps_separate_relations(spark, sf_dir):
    a = catalog.load(spark, sf_dir, "nation")
    b = catalog.load(spark, sf_dir, "nation")
    per_region = (
        pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_regionkey"])
        .column("n_regionkey")
        .value_counts()
    )
    expected = sum(v["counts"].as_py() ** 2 for v in per_region)
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"])
    assert joined.count() == expected
