"""Spark job count of a deletion-vector commit.

One DV upsert and one DV delete each run under their own job group; the
jobs Spark attributes to the group are the commit's whole cost in actions
(duplicate-key probe, key-range scalar, mark count, index write, data
write, emptiness probes, file stats). The pins are the counts of the
inline-JSON index this format replaced, on this same table: a commit
path that adds a driver fold, a per-bucket sizing pass or any other
extra action fails here before it shows up in the lake benchmark's
``catalog.commit_jobs.dv_*`` figures. Fewer jobs pass: lower the pins
with the change that removes them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

#: jobs per commit of the inline-JSON index format, same table and batches
#: (the sharded format it also replaced ran 22 and 24)
UPSERT_JOBS = 17
DELETE_JOBS = 17


@pytest.fixture()
def cat(spark, tmp_path):
    return WarehouseCatalog(str(tmp_path / "wh"), spark)


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dv_commit_job_counts(cat, spark):
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), ("v", "string")], primary_key=["k"],
        options={"deletion-vectors.enabled": "true"},
    )
    cat.insert_into(
        "d", "t",
        spark.createDataFrame([(i, f"v{i}") for i in range(2000)], "k bigint, v string"),
    )
    # half the batch replaces live rows, half is new keys
    batch = spark.createDataFrame(
        [(i, f"u{i}") for i in range(1950, 2050)], "k bigint, v string"
    )
    upsert = _jobs(spark, "dv-upsert", lambda: cat.insert_into("d", "t", batch))
    delete = _jobs(
        spark, "dv-delete", lambda: cat.delete_where("d", "t", F.col("k") % 10 == 3)
    )
    assert cat.read_table("d.t").count() == 2050 - 205
    assert upsert <= UPSERT_JOBS and delete <= DELETE_JOBS, (upsert, delete)
