"""The file sources resolve a schema once per file version.

``catalog.load`` and ``read_csv_normalized`` infer a file's schema on
its first read and reuse it afterwards, so a repeat read fires no Spark
job. These tests also pin the ways that reuse could go wrong: a stale
schema or size after a file is rewritten, attribute ambiguity between
two loads of one table, the events ``ts`` normalization, and paths
that have no file status (globs, missing files).
"""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from b2b_data_pipeline_indiamart_spark import catalog
from b2b_data_pipeline_indiamart_spark.sources.csv_source import (
    read_csv_normalized,
)

_groups = itertools.count()


def _jobs_fired(spark, fn):
    """(result of ``fn()``, number of Spark jobs it fired)."""
    sc = spark.sparkContext
    group = f"schema-memo-test-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(path, n_rows, with_comment):
    cols = {
        "r_regionkey": pa.array(range(n_rows), pa.int64()),
        "r_name": pa.array([f"R{i}" for i in range(n_rows)]),
    }
    if with_comment:
        cols["r_comment"] = pa.array(["c" * 40] * n_rows)
    pq.write_table(pa.table(cols), path)


def test_first_load_infers_and_repeat_load_fires_no_job(spark, tmp_path):
    _write_region(str(tmp_path / "region.parquet"), 5, with_comment=False)
    _, first = _jobs_fired(spark, lambda: catalog.load(spark, str(tmp_path), "region"))
    again, jobs = _jobs_fired(spark, lambda: catalog.load(spark, str(tmp_path), "region"))
    assert first >= 1
    assert jobs == 0
    assert again.count() == 5


def test_rewritten_table_is_picked_up(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = str(tmp_path / "region.parquet")
    _write_region(path, 5, with_comment=False)
    before = catalog.load(spark, sf_dir, "region")
    assert before.columns == ["r_regionkey", "r_name"]
    assert catalog.table_disk_bytes(spark, sf_dir, "region") == os.path.getsize(path)

    _write_region(path, 50, with_comment=True)
    after = catalog.load(spark, sf_dir, "region")
    assert after.columns == ["r_regionkey", "r_name", "r_comment"]
    assert after.count() == 50
    assert catalog.table_disk_bytes(spark, sf_dir, "region") == os.path.getsize(path)


def test_two_loads_self_join_without_ambiguity(spark, sf_small):
    a = catalog.load(spark, sf_small, "nation")
    b = catalog.load(spark, sf_small, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_nationkey"].alias("x"), b["n_nationkey"].alias("y")
    )
    n_by_region = {
        r["n_regionkey"]: r["count"]
        for r in a.groupBy("n_regionkey").count().collect()
    }
    assert pairs.count() == sum(n * n for n in n_by_region.values())
    assert pairs.filter("x <> y").count() > 0


def test_events_ts_stays_timestamp_through_memo(spark, sf_small):
    first = catalog.load(spark, sf_small, "events")
    second, jobs = _jobs_fired(spark, lambda: catalog.load(spark, sf_small, "events"))
    assert jobs == 0
    assert dict(first.dtypes)["ts"] == "timestamp"
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert first.selectExpr("min(ts)", "max(ts)").collect() == second.selectExpr(
        "min(ts)", "max(ts)"
    ).collect()


def test_load_parallel_reuses_partition_count(spark, sf_small):
    catalog.load_parallel(spark, sf_small, "lineitem")
    df, jobs = _jobs_fired(
        spark, lambda: catalog.load_parallel(spark, sf_small, "lineitem")
    )
    assert jobs == 0
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_repeat_csv_read_fires_no_job_and_rewrite_is_picked_up(spark, tmp_path):
    path = str(tmp_path / "raw.csv")
    with open(path, "w") as f:
        f.write("Company Name,Price\nacme,10\nglobex,20\n")
    first = read_csv_normalized(spark, path)
    second, jobs = _jobs_fired(spark, lambda: read_csv_normalized(spark, path))
    assert jobs == 0
    assert second.columns == first.columns == ["company_name", "price", "scraped_at"]
    assert dict(second.dtypes)["price"] == "int"
    assert sorted(r["price"] for r in second.collect()) == [10, 20]

    with open(path, "w") as f:
        f.write("Company Name,Unit Price,Scraped At\nacme,1.5,2024-01-01\n")
    rewritten = read_csv_normalized(spark, path)
    assert rewritten.columns == ["company_name", "unit_price", "scraped_at"]
    assert dict(rewritten.dtypes)["unit_price"] == "double"
    assert rewritten.collect()[0]["unit_price"] == 1.5


def test_glob_and_missing_paths_read_unmemoized(spark, tmp_path):
    for name in ("a.csv", "b.csv"):
        with open(tmp_path / name, "w") as f:
            f.write("Company Name,Price\nacme,10\n")
    assert read_csv_normalized(spark, str(tmp_path / "*.csv")).count() == 2
    with pytest.raises(AnalysisException):
        read_csv_normalized(spark, str(tmp_path / "missing.csv"))
    with pytest.raises(AnalysisException):
        catalog.load(spark, str(tmp_path), "orders")
