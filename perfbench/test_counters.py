"""The kernel stage counters read the plan nodes they claim to read.

On a tiny corpus, every counter is compared with the same quantity
computed in plain Python from the kernel's documented filters, once with
the candidate join planned as a broadcast hash join and once as a sort
merge join.

    python3 -m pytest perfbench/test_counters.py -q
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import spark_stats  # noqa: E402

DOCS = [
    "a b c d e",
    "a b c d f",
    "a b c d e f",
    "a b c g",
    "x y z a",
    "x y z b",
    "b c d e f",
    "g h i j k l",
    "a b c d e g",
    "h i j k l",
]
SALTS = 32


def _model(docs, t, rs):
    """Row counts at each kernel stage, from the kernel's filters applied
    to explicit Python lists."""
    sets = {i: set(d.split()) for i, d in enumerate(docs)}
    freq = {}
    for s in sets.values():
        for tok in s:
            freq[tok] = freq.get(tok, 0) + 1
    order = {tok: r for r, tok in enumerate(sorted(freq, key=lambda k: (freq[k], k)))}
    ranks = {i: sorted(order[x] for x in s) for i, s in sets.items()}

    def plen(n, rate):
        return max(1, n - math.ceil(n * rate - 1e-9) + 1)

    short = 2 * t / (1 + t)
    if rs:
        left = [i for i in ranks if i % 2 == 0]
        right = [i for i in ranks if i % 2 == 1]
        a_rate = t
    else:
        left = right = list(ranks)
        a_rate = short
    a = [(i, p, ranks[i][p]) for i in left for p in range(plen(len(ranks[i]), a_rate))]
    b = [(j, q, ranks[j][q]) for j in right for q in range(plen(len(ranks[j]), t))]
    cands = []
    for i, p, tok in a:
        for j, q, tok2 in b:
            n1, n2 = len(ranks[i]), len(ranks[j])
            if tok != tok2:
                continue
            if rs:
                if not ((n1 <= n2 and p < plen(n1, short)) or (n2 <= n1 and q < plen(n2, short))):
                    continue
            elif not (n1 < n2 or (n1 == n2 and i < j)):
                continue
            if n2 < n1 * t - 1e-9 or n1 < n2 * t - 1e-9:
                continue
            if 1 + min(n1 - p - 1, n2 - q - 1) < (n1 + n2) * (t / (1 + t)) - 1e-9:
                continue
            cands.append((i, j))
    distinct = set(cands)
    verified = [
        (i, j) for i, j in distinct
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= t
    ]
    return {
        "prefix_rows": len(a) + len(b),
        "salted_prefix_rows": len(a) * SALTS,
        "candidate_rows": len(cands),
        "distinct_candidates": len(distinct),
        "verified_pairs": len(verified),
    }


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from hive_similarity_join_spark.session import get_spark

    s = get_spark("perfbench-counters", master="local[2]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("rs", [False, True], ids=["self", "rs"])
@pytest.mark.parametrize(
    "broadcast, join", [(True, "BroadcastHashJoin"), (False, "SortMergeJoin")]
)
def test_kernel_counters_match_model(spark, rs, broadcast, join):
    from pyspark.sql import functions as F

    from hive_similarity_join_spark.operators.cache import release_pins
    from hive_similarity_join_spark.operators.similarity import similarity_join

    threshold = "10MB" if broadcast else "-1"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", threshold)
    try:
        docs = spark.createDataFrame(list(enumerate(DOCS)), "doc_id long, text string")
        t = 0.6
        if rs:
            even, odd = docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
            out = similarity_join(even, "doc_id", "text", threshold=t, other=odd)
        else:
            out = similarity_join(docs, "doc_id", "text", threshold=t)
        n = out.count()
        got = spark_stats.kernel_counts(
            spark_stats.plan_nodes(spark, spark_stats.last_execution_id(spark))
        )
    finally:
        release_pins()
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    want = _model(DOCS, t, rs)
    assert got.cand_join == [join]
    assert n == want["verified_pairs"]
    assert {k: getattr(got, k) for k in want} == want
