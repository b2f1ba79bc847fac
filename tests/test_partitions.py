"""``partitions.spread``: the one way operators spread a few-partition
input, decided without launching a Spark job."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.partitions import parallelism, spread
from hive_similarity_join_spark.sources.loader import load_table
from tests.conftest import SF_SMOKE, final_plan_nodes, jobs_launched


def test_spread_of_shuffled_input_runs_no_job(spark):
    """Reading a shuffle output's partition count under AQE would run
    the shuffle as its own job; ``spread`` must decide from the plan."""
    docs = load_table(spark, SF_SMOKE, "documents")
    grouped = docs.groupBy("doc_id").agg(F.max("text").alias("text"))
    out, jobs = jobs_launched(spark, "spread_grouped", lambda: spread(grouped))
    assert jobs == 0
    assert out.count() == docs.count()


def test_spread_of_single_file_scan_reaches_parallelism(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    assert docs.rdd.getNumPartitions() == 1  # one small parquet file
    out, jobs = jobs_launched(spark, "spread_scan", lambda: spread(docs))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == parallelism(spark)


def test_spread_keeps_an_already_spread_scan(spark):
    wide = spark.range(0, 100, 1, parallelism(spark))
    assert spread(wide) is wide


def _child(node):
    return node.children().apply(0)


def _stacked_exchanges(df):
    """Exchanges that re-shuffle an already-run shuffle stage: an
    ``Exchange`` whose child is a ``ShuffleQueryStage``, directly or
    through an ``AQEShuffleRead``."""
    out = []
    for n in final_plan_nodes(df._jdf.queryExecution().executedPlan()):
        if n.nodeName() != "Exchange":
            continue
        c = _child(n)
        if c.nodeName() == "AQEShuffleRead":
            c = _child(c)
        if c.nodeName() == "ShuffleQueryStage":
            out.append(n.toString())
    return out


def _key_exchange_partitions(df, key: str) -> set[int]:
    """Partition counts of the shuffles hash-partitioned on ``key``."""
    return {
        n.outputPartitioning().numPartitions()
        for n in final_plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "Exchange"
        and f"hashpartitioning({key}" in n.outputPartitioning().toString()
    }


def _assert_placed_once(df, key: str) -> None:
    assert df.collect()
    assert _stacked_exchanges(df) == []
    assert _key_exchange_partitions(df, key) == {parallelism(df)}


def test_candidate_join_inputs_are_shuffled_once(spark):
    """Over checkpointed (statistics-free) prepared relations, an
    explicit-count join side that is a bare exchange is widened to
    ``spark.sql.shuffle.partitions`` and, once AQE switches the join to
    broadcast, shuffled again at the requested count on top. Sides
    placed by ``hash_placed`` are shuffled once, at ``parallelism()``."""
    from hive_similarity_join_spark.operators.dedup import minhash_lsh_pairs
    from hive_similarity_join_spark.operators.similarity import similarity_join
    from hive_similarity_join_spark.queries.dedup_q import docs_minhash_sigs
    from hive_similarity_join_spark.queries.similarity_q import docs_rank_arrays

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != parallelism(spark)
    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs_rank_arrays(spark, SF_SMOKE)
    self_join = similarity_join(corpus, threshold=0.8)
    _assert_placed_once(self_join, "_ptok")

    left = docs.filter(F.col("source") < "src5")
    right = docs.filter(F.col("source") >= "src5")
    rs_join = similarity_join(
        corpus.slice(left.select("doc_id")), threshold=0.7,
        other=corpus.slice(right.select("doc_id")),
    )
    _assert_placed_once(rs_join, "_ptok")

    lsh = minhash_lsh_pairs(
        docs, "doc_id", "text", 0.8, sigs=docs_minhash_sigs(spark, SF_SMOKE)
    )
    _assert_placed_once(lsh, "_band")
