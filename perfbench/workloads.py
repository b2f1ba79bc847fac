"""The benchmark's workloads: seeded inputs, the operations one pass runs,
and how each operation's reference answer is computed.

Every workload is a closed loop with one client: one operation at a
time, the next only after the previous one's action returned.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

import corpus
import reference


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # the layer it calls into: "similarity" or "queries"
    build: Callable  # (spark, sf_dir) -> DataFrame, resolved at call time
    reference_sql: Callable  # () -> SQL text answering this op on DuckDB


def _kernel_op(name: str, measure: str, threshold: float, rs: bool) -> Op:
    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from hive_similarity_join_spark.operators import similarity
        from hive_similarity_join_spark.sources import loader

        docs = loader.load_table(spark, sf_dir, "documents")
        if not rs:
            return similarity.similarity_join(
                docs, "doc_id", "text", threshold=threshold, measure=measure
            )
        parity = F.col("doc_id") % 2
        return similarity.similarity_join(
            docs.filter(parity == 0), "doc_id", "text", threshold=threshold,
            measure=measure, other=docs.filter(parity == 1),
        )

    return Op(name, "similarity", build,
              lambda: reference.kernel_sql(measure, threshold, rs))


# One call per measure; the R-S form rides on one of them. A kernel call
# costs about 4 s on any input this size (job and planning overhead), so
# three calls are what two measured passes per run can afford.
KERNEL_OPS = (
    _kernel_op("jaccard_0.8_self", "jaccard", 0.8, False),
    _kernel_op("cosine_0.9_self", "cosine", 0.9, False),
    _kernel_op("dice_0.9_rs", "dice", 0.9, True),
)


def _registry_op(key: str) -> Op:
    def build(spark, sf_dir):
        from hive_similarity_join_spark.registry import QUERIES

        return QUERIES[key](spark, sf_dir)

    def sql():
        from hive_similarity_join_spark.registry import ORACLES, load_registry

        load_registry()
        return ORACLES[key]

    return Op(key, "queries", build, sql)


# The registry keys that read only ``documents`` and go through the
# shared-generator tiers, in alphabetical order (bench.py's), as far as
# each tier they build is read again by a later key in the same pass:
# docs_token_dict, docs_minhash_sigs, lsh_pair_graph_t08 and
# lsh_cc_labels_t08 (built by q_dedup_cluster_sizes), docs_rank_arrays
# (built by q_simjoin_cosine). MinHash signatures and connected
# components run inside those builds, and the kernel runs under the two
# q_simjoin keys (through the ``sorted_rel=`` seam).
TIER_KEYS = (
    "q_dedup_cluster_sizes",
    "q_dedup_incremental",
    "q_dedup_minhash_lsh",
    "q_dedup_representatives",
    "q_simjoin_cosine",
    "q_simjoin_dice",
)


@dataclass(frozen=True)
class Workload:
    name: str
    texts: Callable  # (rng) -> list[str]
    ops: tuple[Op, ...]

    def shape_id(self) -> str:
        """Changes whenever the inputs or the questions asked change."""
        h = hashlib.sha256(repr((self.name, [o.name for o in self.ops])).encode())
        h.update(Path(corpus.__file__).read_bytes())
        h.update(Path(reference.__file__).read_bytes())
        h.update(Path(__file__).read_bytes())
        return h.hexdigest()[:12]

    def write_inputs(self, seed: int, sf_dir: Path) -> dict:
        rng = np.random.default_rng(seed)
        texts = self.texts(rng)
        corpus.write_documents(sf_dir, corpus.documents_frame(rng, texts))
        return corpus.properties(texts)

    def references(self, sf_dir: Path) -> dict[str, dict]:
        con = reference.duck(sf_dir)
        try:
            return {
                op.name: reference.digest(con.execute(op.reference_sql()).fetchdf())
                for op in self.ops
            }
        finally:
            con.close()


# Sizes fit one run, set-up and two passes included, in about a minute
# on 4 cores. The Zipf vocabulary is scaled down with the corpus: at
# 1,000 docs a 2,000-word vocabulary reproduces the prefix-filter regime of a
# 50,000-doc, 65,000-word corpus (duplicate factor ~1.1, verify pass
# rate ~0.03), where a full-size vocabulary would leave almost no
# candidates besides the planted copies.
ZIPF_DOCS = 1000
ZIPF_VOCAB = 2000
TIER_DOCS = 200

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "simjoin_zipf",
            lambda rng: corpus.zipf_texts(rng, ZIPF_DOCS, vocab=ZIPF_VOCAB),
            KERNEL_OPS,
        ),
        Workload(
            "tier_family",
            lambda rng: corpus.dense_texts(rng, TIER_DOCS),
            tuple(_registry_op(k) for k in TIER_KEYS),
        ),
    )
}
