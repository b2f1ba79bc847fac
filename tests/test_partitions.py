"""``partitions.spread``: the one way operators spread a few-partition
input, decided without launching a Spark job."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.partitions import parallelism, spread
from hive_similarity_join_spark.sources.loader import load_table
from tests.conftest import SF_SMOKE


def _jobs_launched(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_of_shuffled_input_runs_no_job(spark):
    """Reading a shuffle output's partition count under AQE would run
    the shuffle as its own job; ``spread`` must decide from the plan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    grouped = docs.groupBy("doc_id").agg(F.max("text").alias("text"))
    out, jobs = _jobs_launched(spark, "spread_grouped", lambda: spread(grouped))
    assert jobs == 0
    assert out.count() == docs.count()


def test_spread_of_single_file_scan_reaches_parallelism(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() == 1  # one small parquet file
    out, jobs = _jobs_launched(spark, "spread_scan", lambda: spread(docs))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == parallelism(spark)


def test_spread_keeps_an_already_spread_scan(spark):
    wide = spark.range(0, 100, 1, parallelism(spark))
    assert spread(wide) is wide
