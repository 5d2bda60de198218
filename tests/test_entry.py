"""Driver-contract loaders in ``__spark_entry__``: every testdata table
is read with a declared schema."""

import glob
import os

import __spark_entry__ as entry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_declared_schemas_match_shipped_parquet(spark, sf_dir):
    # a declared schema that misses or mistypes a column would read
    # nulls or fail later: it must equal the inferred schema of every
    # shipped scale factor and of the benchmark's copy
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    dirs.append(os.path.join(ROOT, "perfbench", "data", "sf0.01"))
    assert sf_dir in dirs
    for d in dirs:
        for name in entry.TABLE_SCHEMAS:
            inferred = spark.read.parquet(f"{d}/{name}.parquet").schema
            assert entry._table(spark, d, name).schema == inferred, (d, name)


def test_table_read_launches_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "declared-schema-read"
    sc.setJobGroup(group, group)
    try:
        for name in entry.TABLE_SCHEMAS:
            entry._table(spark, sf_dir, name).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
