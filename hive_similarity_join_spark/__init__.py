"""hive_similarity_join_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic-PySpark engine with the query and
data-processing capabilities of the reference `bdevetak/Hive-Similarity-Join`
(a Hive/Hadoop set-similarity-join pipeline; see SURVEY.md — the reference
snapshot at /root/reference is empty, so the surface is reconstructed from
the VCL algorithm family [Vernica, Carey, Li, SIGMOD 2010] and the standard
HiveQL operator surface), extended with LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Everything here is built on public PySpark 4.x APIs only:
DataFrame/SQL + Catalyst, higher-order array functions (UDF-free hot
paths), Structured Streaming, and Arrow-batched Pandas UDFs where Python
is unavoidable.
"""

from hive_similarity_join_spark.session import get_spark
from hive_similarity_join_spark.sources.loader import TABLES, load_table, load_all, register_views
from hive_similarity_join_spark.operators.similarity import (
    Prepared,
    bag_jaccard_join,
    build_token_dict,
    containment_join,
    prepare,
    similarity_join,
    tokenize,
    weighted_containment_join,
    weighted_jaccard_join,
)
from hive_similarity_join_spark.operators.dedup import (
    connected_components,
    connected_components_alternating,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
    simhash_pairs_wide,
)
from hive_similarity_join_spark.operators.knn import ann_candidates, ann_topk
from hive_similarity_join_spark.operators.ivf import (
    ivf_candidates,
    ivf_topk,
    ivf_topk_kmeans,
    ivfk_candidates,
)

__all__ = [
    "get_spark",
    "TABLES",
    "load_table",
    "load_all",
    "register_views",
    # similarity family
    "similarity_join",
    "bag_jaccard_join",
    "containment_join",
    "weighted_containment_join",
    "weighted_jaccard_join",
    "build_token_dict",
    "prepare",
    "Prepared",
    "tokenize",
    # dedup family
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "simhash_pairs_wide",
    "connected_components",
    "connected_components_alternating",
    # similarity search
    "ann_topk",
    "ann_candidates",
    "ivf_topk",
    "ivf_candidates",
    "ivf_topk_kmeans",
    "ivfk_candidates",
]
