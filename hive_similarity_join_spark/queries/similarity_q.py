"""Similarity-join query keys (SURVEY §2.3 / §2.7) — the reference's
raison d'être, oracle-checked against a pure-relational DuckDB
formulation (FIXTURES.md): DISTINCT (doc_id, token) inverted index ->
self-join on token -> per-pair intersection counts -> Jaccard.

Prefix filtering is lossless, so the prefix-filtered Spark pipeline must
hash-match the brute-force relational oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.similarity import similarity_join
from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table

T_SELF = 0.8  # flagship threshold (FIXTURES.md regression anchors)
T_RS = 0.8


def _jaccard_oracle(threshold: float, extra_pred: str = "a.doc_id < b.doc_id",
                    left_src: str = "documents", right_src: str = "documents") -> str:
    """Relational exact-Jaccard oracle (validated on DuckDB 1.0.0)."""
    return f"""
WITH tok_l AS (
  SELECT DISTINCT doc_id, t.tok
  FROM {left_src}, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tok_r AS (
  SELECT DISTINCT doc_id, t.tok
  FROM {right_src}, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz_l AS (SELECT doc_id, count(*) AS n FROM tok_l GROUP BY doc_id),
sz_r AS (SELECT doc_id, count(*) AS n FROM tok_r GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok_l a JOIN tok_r b ON a.tok = b.tok AND {extra_pred}
  GROUP BY 1, 2
)
SELECT id1, id2,
       CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
FROM inter
JOIN sz_l s1 ON s1.doc_id = id1
JOIN sz_r s2 ON s2.doc_id = id2
WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {threshold}
"""


@query("q_simjoin_jaccard_self", oracle=_jaccard_oracle(T_SELF))
def q_simjoin_jaccard_self(spark, sf_dir):
    # The flagship keeps its own fully-lazy kernel plan (the plan gates
    # and PLANS.md read it); the ~10 consumer keys share the
    # checkpoint-backed twin below instead of re-running the kernel.
    docs = load_table(spark, sf_dir, "documents")
    return similarity_join(
        docs, "doc_id", "text", threshold=T_SELF, measure="jaccard"
    )


def jaccard_self_pair_graph(spark, sf_dir):
    """The flagship exact t=T_SELF Jaccard relation (id1, id2, sim),
    session-CHECKPOINTED (operators/cache.py session_ckpt, r16): the
    whole audit family (recall audits, band sweep, split leakage,
    blocking ensemble, link prediction, top-k search) previously
    re-ran the full exact kernel once per key (~7-9 s at sf0.1 each)
    because the SQL-cache pin's data is dropped by the per-key
    clearCache; checkpoint blocks are not, so the first consumer in a
    session pays generation once and the rest read blocks. Identical
    rows to the flagship key (same builder); degrade on a new session
    is recompute from parquet."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    def build():
        return similarity_join(
            docs_rank_arrays(spark, sf_dir), threshold=T_SELF, measure="jaccard"
        )

    return session_ckpt("exact_pair_graph_t08", scope(spark, sf_dir), build)


_RS_LEFT = "(SELECT * FROM documents WHERE source < 'src5')"
_RS_RIGHT = "(SELECT * FROM documents WHERE source >= 'src5')"


@query(
    "q_simjoin_jaccard_rs",
    oracle=_jaccard_oracle(T_RS, extra_pred="1=1", left_src=_RS_LEFT, right_src=_RS_RIGHT),
)
def q_simjoin_jaccard_rs(spark, sf_dir):
    """R-S similarity join: two disjoint slices of documents (split by
    source), no id-ordering clause."""
    docs = load_table(spark, sf_dir, "documents")
    left = docs.filter(F.col("source") < "src5")
    right = docs.filter(F.col("source") >= "src5")
    # left ∪ right = all documents, so the shared corpus dictionary is
    # exactly the dictionary this join would build (r16).
    corpus = docs_rank_arrays(spark, sf_dir)
    return similarity_join(
        corpus.slice(left.select("doc_id")), threshold=T_RS, measure="jaccard",
        other=corpus.slice(right.select("doc_id")),
    )


def docs_token_dict(spark, sf_dir):
    """Session-checkpointed rarest-first (_tok, _rank) dictionary over
    the documents corpus (whitespace tokenizer) — r16 optimization:
    eight kernel keys (dice/cosine/overlap/jaccard_rs, the three
    containment forms, the greedy containment dedup) each re-ran the
    same corpus frequency pass + two-pass rank. Lossless to share: any
    dictionary COVERING both join sides yields identical results (the
    prefix pigeonhole needs only some global total order; verification
    intersects rank arrays, a bijection) — and every consumer's join
    sides partition the documents table. Vocab-sized; degrade is
    recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.operators.similarity import build_token_dict

    def build():
        d = load_table(spark, sf_dir, "documents")
        return build_token_dict(d, "doc_id", "text")

    return session_ckpt("docs_token_dict", scope(spark, sf_dir), build)


def docs_rank_arrays(spark, sf_dir):
    """Session-checkpointed rank-sorted corpus (_id, _rks, _n) against
    the shared dictionary, as a kernel-ready ``Prepared`` side — r17:
    this relation depends only on (corpus, dictionary), not on
    threshold or measure, yet the t0.8 and t0.9 graph builds, the
    dice/cosine/overlap/jaccard_rs measure keys, both containment
    forms, the greedy containment dedup and the SNM verify each
    re-derived it (explode + dict join + collect, ~1.5-2 s apiece at
    sf0.1). Per-doc rows are side-independent, so R-S forms and subsets
    consume ``Prepared.slice``s. Corpus-token-sized int arrays; degrade
    is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.operators.similarity import Prepared, prepare

    def build():
        d = load_table(spark, sf_dir, "documents")
        return prepare(
            d, "doc_id", "text",
            dictionary=docs_token_dict(spark, sf_dir), persist=False,
        ).rel

    return Prepared(session_ckpt("docs_rank_arrays", scope(spark, sf_dir), build))


def docs_weighted_sorted(spark, sf_dir):
    """Session-checkpointed weighted-sorted relation of the documents
    corpus — (_id, _rks, _ws, _sfx, _n, _tw) against the corpus rarity
    scale (w = N_docs - df + 1). r17 (VERDICT item 4): the weighted trio
    each re-ran tokenize + rarity dict + the window/collect sort (~2-3 s
    apiece at sf0.1); the r16 attempt shared only the DICTIONARY (still
    paying the sort per key) and was reverted as net-negative — sharing
    the SORTED relation removes the whole common stage. Lossless for
    every consumer because each consumer's join sides partition the
    documents table, so the union scale the inline build would derive
    IS the corpus scale, and the per-doc rows of a side are exactly the
    corpus relation restricted to that side's ids. Corpus-token-sized
    int arrays (the same order as the pair graphs); degrade is
    recompute. Returned as a weighted ``Prepared`` side."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.operators.similarity import Prepared, prepare

    def build():
        d = load_table(spark, sf_dir, "documents")
        return prepare(d, "doc_id", "text", weighted=True, persist=False).rel

    return Prepared(
        session_ckpt("docs_weighted_sorted", scope(spark, sf_dir), build),
        weighted=True,
    )


def _measure_oracle(measure_sql: str, pred_sql: str) -> str:
    """Shared relational skeleton for the non-Jaccard measures; the
    measure expression is written IDENTICALLY to the Spark side so the
    IEEE double math matches bit-exact (int sizes -> exact doubles;
    sqrt is correctly rounded on both engines)."""
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, {measure_sql} AS sim
FROM inter
JOIN sz s1 ON s1.doc_id = id1
JOIN sz s2 ON s2.doc_id = id2
WHERE {pred_sql}
"""


T_DICE = 0.9
T_COS = 0.9
T_OVERLAP = 20


@query(
    "q_simjoin_dice",
    oracle=_measure_oracle(
        "2.0 * i / (s1.n + s2.n)", f"2.0 * i / (s1.n + s2.n) >= {T_DICE}"
    ),
)
def q_simjoin_dice(spark, sf_dir):
    """Dice-measure self-join: candidates pruned via the lossless
    equivalent-Jaccard bound t/(2-t), verified exactly (§2.7)."""
    return similarity_join(
        docs_rank_arrays(spark, sf_dir), threshold=T_DICE, measure="dice"
    )


@query(
    "q_simjoin_cosine",
    oracle=_measure_oracle(
        "i / sqrt(CAST(s1.n AS DOUBLE) * s2.n)",
        f"i / sqrt(CAST(s1.n AS DOUBLE) * s2.n) >= {T_COS}",
    ),
)
def q_simjoin_cosine(spark, sf_dir):
    """Set-cosine self-join: candidate bound jaccard >= t^2 (lossless),
    exact verify."""
    return similarity_join(
        docs_rank_arrays(spark, sf_dir), threshold=T_COS, measure="cosine"
    )


@query(
    "q_simjoin_overlap",
    oracle=_measure_oracle(
        "CAST(i AS DOUBLE)", f"i >= {T_OVERLAP}"
    ),
)
def q_simjoin_overlap(spark, sf_dir):
    """Absolute-overlap self-join (|A∩B| >= c): prefix length n - c + 1,
    both sizes >= c — the T-overlap primitive under the ratio measures."""
    return similarity_join(
        docs_rank_arrays(spark, sf_dir), threshold=T_OVERLAP, measure="overlap"
    )


@query(
    "q_simjoin_edit_scalable",
    oracle="""
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= 1
""",
)
def q_simjoin_edit_scalable(spark, sf_dir):
    """Segment-filtered (PassJoin-style) edit join on customer names —
    the fact-scale path q_simjoin_edit's broadcast nested-loop can't
    take: candidates form only on shared (segment, index, length) keys
    (operators/editjoin.py), then exact levenshtein verifies. The
    DuckDB oracle is the brute-force formulation; the segment filter
    is lossless so results hash-match."""
    from hive_similarity_join_spark.operators.editjoin import edit_distance_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return edit_distance_join(cust, "c_custkey", "c_name", k=1)


@query(
    "q_simjoin_edit",
    oracle="""
SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
 AND abs(length(a.s_name) - length(b.s_name)) <= 2
 AND levenshtein(a.s_name, b.s_name) <= 2
""",
)
def q_simjoin_edit(spark, sf_dir):
    """String-similarity join (edit distance <= 2) on supplier names.

    Candidate pruning: the |len(a)-len(b)| <= k length filter is lossless
    for Levenshtein; verification is native ``F.levenshtein`` (JVM) over
    a broadcast nested-loop join (supplier is dimension-sized). The
    100 TB path for a fact-sized string join is q-gram / PassJoin-style
    segment candidate generation feeding the same verify — the
    length-filter + verify semantics stay identical.

    (Deliberately NOT part.p_name: those are 2-word phrases from a ~200
    combo vocabulary, so dist<=2 matches ~5.5M of 200M pairs — a
    degenerate result set that benchmarks output size, not the join.)
    """
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    a = sup.select(F.col("s_suppkey").alias("id1"), F.col("s_name").alias("_name1"))
    b = sup.select(F.col("s_suppkey").alias("id2"), F.col("s_name").alias("_name2"))
    dist = F.levenshtein(F.col("_name1"), F.col("_name2"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.length("_name1") - F.length("_name2")) <= 2),
        )
        .withColumn("dist", dist.cast("bigint"))
        .filter(F.col("dist") <= 2)
        .select("id1", "id2", "dist")
    )


T_BAG = 0.8


@query(
    "q_simjoin_bag_jaccard",
    oracle=f"""
WITH tc AS (
  SELECT doc_id, t.tok, count(*) AS c
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
  GROUP BY doc_id, t.tok
),
sz AS (SELECT doc_id, SUM(c) AS n FROM tc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(least(a.c, b.c)) AS i
  FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
FROM inter
JOIN sz s1 ON s1.doc_id = id1
JOIN sz s2 ON s2.doc_id = id2
WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {T_BAG}
""",
)
def q_simjoin_bag_jaccard(spark, sf_dir):
    """Multiset (bag) Jaccard self-join — the no-DISTINCT tokenizer
    semantics (repeated tokens count): sum min(c)/sum max(c) >= 0.8.
    Candidates form only on shared tokens passing the symmetric
    bag-length filter; all-integer arithmetic until the final division
    keeps it bit-exact vs the oracle. (The oracle's unfiltered
    token-join is the brute-force twin — the length filter is lossless
    so results hash-match.)"""
    from hive_similarity_join_spark.operators.similarity import bag_jaccard_join

    docs = load_table(spark, sf_dir, "documents")
    return bag_jaccard_join(docs, "doc_id", "text", threshold=T_BAG)


T_TOPK = 0.8
K_TOPK = 3


@query(
    "q_simjoin_topk",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS qid, b.doc_id AS nid, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
sims AS (
  SELECT qid, nid, CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
  FROM inter
  JOIN sz s1 ON s1.doc_id = qid
  JOIN sz s2 ON s2.doc_id = nid
  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {T_TOPK}
)
SELECT qid, nid, sim
FROM (SELECT qid, nid, sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, nid) AS rn
      FROM sims) r
WHERE rn <= {K_TOPK}
""",
)
def q_simjoin_topk(spark, sf_dir):
    """Top-k similarity search over text: each document's K_TOPK most
    similar others (Jaccard >= 0.8, ties broken by neighbor id). The
    kernel's canonical (id1 < id2) pairs are mirrored into both
    orientations, then one window per query doc takes the top k — the
    'similarity search' composition of the same exact join, and the
    text twin of q_vec_knn. The threshold bounds the candidate space
    so the window never ranks the quadratic pair set. (On this corpus
    even true pairs are dense — 3M at t=0.8 over 5k docs — so the key
    is output-bound: the threshold is the knob that keeps 'top-k' from
    meaning 'materialize a third of the pair space'.)"""
    from pyspark.sql import Window

    # r16: T_TOPK == T_SELF, so the pair relation IS the session-pinned
    # flagship graph (jaccard_self_pair_graph) — no second kernel run.
    assert T_TOPK == T_SELF
    pairs = jaccard_self_pair_graph(spark, sf_dir)
    both = pairs.select(
        F.col("id1").alias("qid"), F.col("id2").alias("nid"), "sim"
    ).unionByName(
        pairs.select(F.col("id2").alias("qid"), F.col("id1").alias("nid"), "sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K_TOPK)
        .select("qid", "nid", "sim")
    )


T_CONTAIN = 0.9
CONTAIN_SIZE_RATIO = 2.0


def _containment_oracle(threshold: float = T_CONTAIN,
                        ratio: float = CONTAIN_SIZE_RATIO) -> str:
    """Brute-force relational containment pairs (shared with
    q_dedup_containment's oracle)."""
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(i AS DOUBLE) / s1.n AS sim
FROM inter
JOIN sz s1 ON s1.doc_id = id1
JOIN sz s2 ON s2.doc_id = id2
WHERE CAST(i AS DOUBLE) / s1.n >= {threshold}
  AND s2.n >= s1.n * {int(ratio)}
"""


@query(
    "q_simjoin_containment",
    oracle=_containment_oracle(),
)
def q_simjoin_containment(spark, sf_dir):
    """Asymmetric containment self-join: ordered pairs where >=90% of
    id1's distinct tokens appear in id2 AND id2 is at least 2x id1's
    distinct size — sub-document duplication (quotation, template
    embedding, page-in-page copying) that the symmetric measures
    PROVABLY miss: with n2 >= 2*n1, Jaccard <= n1/n2 <= 0.5, below
    every symmetric key's threshold. Probe-prefix x full-index
    candidate scheme with the PPJoin positional bound, exact rank-array
    verify (operators/similarity.py ``containment_join`` docstring has
    the filter-algebra derivation). The oracle is the brute-force
    inverted-index formulation; the asymmetric filters are lossless so
    results hash-match. Output anchors: 7,566 rows at sf0.01 / 1.00M at
    sf0.1 (FIXTURES.md) — same output scale as the t=0.9 symmetric
    keys."""
    from hive_similarity_join_spark.operators.similarity import containment_join

    return containment_join(
        docs_rank_arrays(spark, sf_dir), threshold=T_CONTAIN,
        min_size_ratio=CONTAIN_SIZE_RATIO,
    )


T_CONTAIN_RS = 0.95


@query(
    "q_simjoin_containment_rs",
    oracle=f"""
WITH tok_l AS (
  SELECT DISTINCT doc_id, t.tok
  FROM (SELECT * FROM documents WHERE source < 'src5'),
       unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tok_r AS (
  SELECT DISTINCT doc_id, t.tok
  FROM (SELECT * FROM documents WHERE source >= 'src5'),
       unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz_l AS (SELECT doc_id, count(*) AS n FROM tok_l GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok_l a JOIN tok_r b ON a.tok = b.tok
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(i AS DOUBLE) / s.n AS sim
FROM inter JOIN sz_l s ON s.doc_id = id1
WHERE CAST(i AS DOUBLE) / s.n >= {T_CONTAIN_RS}
""",
)
def q_simjoin_containment_rs(spark, sf_dir):
    """R-S containment — the incremental-ingest screen: which docs of
    an incoming batch (source < src5) are already >=95% token-contained
    in some corpus doc (source >= src5). Probes prefix-explode, the
    CORPUS side is the full inverted index, the dictionary spans both
    relations; no id-ordering clause (the relations are disjoint).
    This is the batch form of what the streaming dedup mirrors run
    per micro-batch; at 100 TB the corpus index is the standing
    relation and only batch prefixes stream through it."""
    from hive_similarity_join_spark.operators.similarity import containment_join

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") < "src5")
    corpus = docs.filter(F.col("source") >= "src5")
    prepared = docs_rank_arrays(spark, sf_dir)
    return containment_join(
        prepared.slice(batch.select("doc_id")), threshold=T_CONTAIN_RS,
        other=prepared.slice(corpus.select("doc_id")),
    )


T_WCONTAIN = 0.9
WCONTAIN_RATIO = 2.0


@query(
    "q_simjoin_weighted_containment",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
w AS (
  SELECT tok, (SELECT n FROM nd) - count(*) + 1 AS w
  FROM tok GROUP BY tok
),
tw AS (
  SELECT doc_id, SUM(w) AS tw FROM tok JOIN w USING (tok) GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(w.w) AS sw
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  JOIN w ON w.tok = a.tok
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(sw AS DOUBLE) / CAST(t1.tw AS DOUBLE) AS sim
FROM shared
JOIN tw t1 ON t1.doc_id = id1
JOIN tw t2 ON t2.doc_id = id2
WHERE CAST(sw AS DOUBLE) / CAST(t1.tw AS DOUBLE) >= {T_WCONTAIN}
  AND t2.tw >= t1.tw * {int(WCONTAIN_RATIO)}
""",
)
def q_simjoin_weighted_containment(spark, sf_dir):
    """Rarity-weighted containment join: >=90% of id1's rarity-weighted
    token mass (w(t) = N_docs - df(t) + 1) appears in a >=2x heavier
    id2. The tf-idf-flavored refinement of q_simjoin_containment —
    shared RARE tokens are evidence of copying, shared stopwords are
    not, so a boilerplate-heavy snippet no longer false-positives into
    every large page that shares its chrome. Weighted prefix filter
    (emit probe positions while the rank-ordered SUFFIX weight still
    reaches alpha = t * total_w — the weighted pigeonhole, reducing to
    the classic prefix when all weights are 1), weighted positional
    bound, exact integer-sum verify (operators/similarity.py
    ``weighted_containment_join`` has the derivation). Integer weights
    keep all sums exact, so the brute-force relational oracle
    hash-matches. Output anchors: 6,778 rows sf0.01 / 902k sf0.1."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_containment_join,
    )

    return weighted_containment_join(
        docs_weighted_sorted(spark, sf_dir), threshold=T_WCONTAIN,
        min_weight_ratio=WCONTAIN_RATIO,
    )


T_WJACCARD = 0.9


@query(
    "q_simjoin_weighted_jaccard",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
w AS (
  SELECT tok, (SELECT n FROM nd) - count(*) + 1 AS w
  FROM tok GROUP BY tok
),
tw AS (
  SELECT doc_id, SUM(w) AS tw FROM tok JOIN w USING (tok) GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, SUM(w.w) AS sw
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  JOIN w ON w.tok = a.tok
  GROUP BY 1, 2
),
orient AS (
  SELECT CASE WHEN (ta.tw, s.ida) < (tb.tw, s.idb) THEN s.ida ELSE s.idb END AS id1,
         CASE WHEN (ta.tw, s.ida) < (tb.tw, s.idb) THEN s.idb ELSE s.ida END AS id2,
         s.sw, ta.tw + tb.tw AS twsum
  FROM shared s
  JOIN tw ta ON ta.doc_id = s.ida
  JOIN tw tb ON tb.doc_id = s.idb
)
SELECT id1, id2, CAST(sw AS DOUBLE) / CAST(twsum - sw AS DOUBLE) AS sim
FROM orient
WHERE CAST(sw AS DOUBLE) / CAST(twsum - sw AS DOUBLE) >= {T_WJACCARD}
""",
)
def q_simjoin_weighted_jaccard(spark, sf_dir):
    """Rarity-weighted Jaccard self-join — the SYMMETRIC member of the
    weighted family (weighted containment is the asymmetric one), and
    the tf-idf-flavored near-dup join IR dedup actually runs: shared
    weight over union weight with w = N - df + 1, so two docs sharing
    their rare identifiers score high even when one carries extra
    boilerplate, and boilerplate-only overlap scores low. Pairs orient
    by (total weight, id) — the lighter doc is id1. Lossless weighted
    2t/(1+t)-prefix + weighted length filter tw2 <= tw1/t + pair-exact
    positional bound; exact integer-sum verify (derivation in
    operators/similarity.py ``weighted_jaccard_join``). Integer
    weights keep every sum exact, so the brute-force relational oracle
    hash-matches."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_jaccard_join,
    )

    return weighted_jaccard_join(
        docs_weighted_sorted(spark, sf_dir), threshold=T_WJACCARD
    )


T_WCONTAIN_RS = 0.95


@query(
    "q_simjoin_weighted_containment_rs",
    oracle=f"""
WITH tok_l AS (
  SELECT DISTINCT doc_id, t.tok
  FROM (SELECT * FROM documents WHERE source < 'src5'),
       unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tok_r AS (
  SELECT DISTINCT doc_id, t.tok
  FROM (SELECT * FROM documents WHERE source >= 'src5'),
       unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tok_all AS (SELECT * FROM tok_l UNION ALL SELECT * FROM tok_r),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok_all),
w AS (
  SELECT tok, (SELECT n FROM nd) - count(*) + 1 AS w
  FROM tok_all GROUP BY tok
),
tw_l AS (
  SELECT doc_id, SUM(w) AS tw FROM tok_l JOIN w USING (tok) GROUP BY doc_id
),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(w.w) AS sw
  FROM tok_l a JOIN tok_r b ON a.tok = b.tok
  JOIN w ON w.tok = a.tok
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(sw AS DOUBLE) / CAST(t1.tw AS DOUBLE) AS sim
FROM shared JOIN tw_l t1 ON t1.doc_id = id1
WHERE CAST(sw AS DOUBLE) / CAST(t1.tw AS DOUBLE) >= {T_WCONTAIN_RS}
""",
)
def q_simjoin_weighted_containment_rs(spark, sf_dir):
    """Weighted R-S containment — the rarity-weighted incremental-
    ingest screen: which incoming docs (source < src5) have >=95% of
    their rarity-weighted token mass already inside some corpus doc
    (source >= src5). The weighted refinement of
    q_simjoin_containment_rs: shared stopword chrome no longer buys
    admission-blocking evidence, shared rare tokens do. Weights use
    ONE global rarity scale built over batch+corpus together
    (w = N_total - df_total + 1 — a corpus-common token must not look
    rare because the batch is small); probes prefix-explode by the
    weighted suffix-sum pigeonhole, the corpus side is the full
    weighted inverted index, exact integer-sum verify
    (operators/similarity.py ``weighted_containment_join(other=...)``).
    At 100 TB the corpus index + weight dictionary are standing
    relations and only batch prefixes stream through them."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_containment_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") < "src5")
    corpus = docs.filter(F.col("source") >= "src5")
    # r17: both sides are slices of the shared corpus weighted-sorted
    # relation (the union rarity scale IS the corpus scale here, and
    # per-doc rows are side-independent).
    ws = docs_weighted_sorted(spark, sf_dir)
    return weighted_containment_join(
        ws.slice(batch.select("doc_id")), threshold=T_WCONTAIN_RS,
        other=ws.slice(corpus.select("doc_id")),
    )


T_GROUPED = 0.8


@query(
    "q_simjoin_grouped",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, lang, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, a.lang AS lang, count(*) AS i
  FROM tok a JOIN tok b
    ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT id1, id2, lang, CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
FROM inter
JOIN sz s1 ON s1.doc_id = id1
JOIN sz s2 ON s2.doc_id = id2
WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {T_GROUPED}
""",
)
def q_simjoin_grouped(spark, sf_dir):
    """Group-scoped similarity join: pairs only form INSIDE a lang
    group (the 'join within partition key' every dedup pipeline wants:
    never compare en docs to fr docs). Zero new machinery: tokens are
    namespaced with the group key (lang || NUL || token), which makes
    cross-group intersections structurally empty, so the standard
    kernel — prefix filter, salting and all — enforces the group
    predicate for free, and candidates never even form across groups
    (a post-filter on pairs would generate and then discard them).
    Per-doc sizes are unchanged by the bijective namespacing, so sim
    values equal the plain within-group Jaccard."""
    docs = load_table(spark, sf_dir, "documents")
    namespaced = docs.select(
        "doc_id",
        "lang",
        F.transform(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
                )
            ),
            lambda t: F.concat_ws("\x00", F.col("lang"), t),
        ).alias("_gtoks"),
    )
    pairs = similarity_join(
        namespaced, "doc_id", threshold=T_GROUPED, tokens_col="_gtoks"
    )
    lang_of = docs.select(F.col("doc_id").alias("id1"), "lang")
    return pairs.join(lang_of, "id1").select("id1", "id2", "lang", "sim")
