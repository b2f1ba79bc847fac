"""MinHash-LSH and connected-components dedup query keys (EXT)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.functions import text as TX
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.functions.vectors import duck_cosine, duck_l2
from hive_similarity_join_spark.queries.hygiene_q import _duck_grams
from hive_similarity_join_spark.operators.dedup import (
    connected_components,
    connected_components_alternating,
    duck_incremental_oracle,
    duck_minhash_oracle,
    duck_simhash_oracle,
    duck_simhash_wide_oracle,
    incremental_minhash_screen,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_fingerprints,
    simhash_pairs,
    simhash_pairs_wide,
)
from hive_similarity_join_spark.operators.knn import (
    _hyperplanes,
    ann_topk,
    duck_bucket,
)
from hive_similarity_join_spark.operators.rank import ranked_by
from hive_similarity_join_spark.operators.similarity import similarity_join
from hive_similarity_join_spark.queries.vectors_q import N_PROBES, topk_ckpt
from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table
from hive_similarity_join_spark.operators.partitions import hash_placed, parallelism

MINHASH_T = 0.8
CC_T = 0.9


def _duck_cc_oracle(threshold: float) -> str:
    """DuckDB mirror of the transitive-closure dedup keys: the exact
    Jaccard pair graph at ``threshold`` (same relational skeleton as the
    similarity-join oracles) closed with a recursive CTE — component =
    min reachable id, exactly the min-label semantics of both Spark CC
    implementations."""
    return f"""
WITH RECURSIVE tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2
  FROM inter
  JOIN sz s1 ON s1.doc_id = id1
  JOIN sz s2 ON s2.doc_id = id2
  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {threshold}
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""


def docs_minhash_sigs(spark, sf_dir):
    """Session-checkpointed full-corpus MinHash signature relation
    (_id, _h1.._h{NUM_PERM}, _rks) — r17: the LSH graph build, the
    sketch-accuracy audit (q_minhash_estimate) and the incremental
    screen (q_dedup_incremental) each re-ran the signature aggregate
    (tokenize + distinct + NUM_PERM mins + rank arrays, ~3-5 s at
    sf0.1) over the same corpus. Ranks come from the shared kernel
    dictionary (identical mapping — operators/dedup._ranked_tokens
    docstring has the identity argument), so building this relation no
    longer re-derives the frequency ranking either. Node-sized (one
    wide row per doc); degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.queries.similarity_q import docs_token_dict

    return session_ckpt(
        "docs_minhash_sigs",
        scope(spark, sf_dir),
        lambda: minhash_signatures(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            with_rank_arrays=True,
            token_dict=docs_token_dict(spark, sf_dir),
        ),
    )


def lsh_pair_graph(spark, sf_dir):
    """The production MinHash-LSH pair relation (id1, id2, sim) at
    t=MINHASH_T, session-checkpointed like exact_pair_graph: the
    flagship dedup key and its recall audit both need it, so whichever
    runs first in a session materializes it once (~20 MB at sf0.1).
    Same degrade-to-recompute contract — see exact_pair_graph."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "lsh_pair_graph_t08",
        scope(spark, sf_dir),
        lambda: minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            threshold=MINHASH_T,
            sigs=docs_minhash_sigs(spark, sf_dir),
        ),
    )


def lsh_cc_labels(spark, sf_dir):
    """Session-pinned min-label CC labeling (id, comp) of the
    MinHash-LSH pair graph — r16 optimization: q_dedup_representatives,
    q_dedup_cluster_sizes and q_report_dedup_savings each re-ran the
    checkpointed CC iteration over the SAME pair graph (their builders
    previously even re-generated the graph itself from bag tokens —
    identical content, _ranked_tokens dedupes post-explode, verified
    bit-exact against the unchanged oracles). Node-sized relation;
    degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "lsh_cc_labels_t08",
        scope(spark, sf_dir),
        lambda: connected_components(
            lsh_pair_graph(spark, sf_dir).select("id1", "id2")
        ),
    )


@query("q_dedup_minhash_lsh", oracle=duck_minhash_oracle(MINHASH_T))
def q_dedup_minhash_lsh(spark, sf_dir):
    return lsh_pair_graph(spark, sf_dir)


NEW_MOD, NEW_REM = 10, 7


@query(
    "q_dedup_incremental",
    oracle=duck_incremental_oracle(MINHASH_T, NEW_MOD, NEW_REM),
)
def q_dedup_incremental(spark, sf_dir):
    """Ingestion-time (incremental) dedup: the docs with
    doc_id % 10 = 7 play the incoming daily batch; everything else is
    the standing corpus. Each batch doc is screened with MinHash-LSH
    against the corpus AND against smaller-id batch docs, and admitted
    iff it matches neither at exact Jaccard >= MINHASH_T. This is the
    production shape q_dedup_minhash_lsh's full self-join never runs at
    100 TB: the corpus is pre-indexed by band signature and only the
    batch probes it — cost scales with |batch|, never |corpus|^2.
    Mechanics in operators/dedup.py:incremental_minhash_screen."""
    docs = load_table(spark, sf_dir, "documents")
    return incremental_minhash_screen(
        docs,
        "doc_id",
        "text",
        is_new=(F.col("doc_id") % NEW_MOD) == NEW_REM,
        threshold=MINHASH_T,
        sigs=docs_minhash_sigs(spark, sf_dir),
    )


def simhash_fps(spark, sf_dir):
    """Session-checkpointed (_id, _fp) SimHash fingerprint relation of
    the documents corpus (r17): the narrow AND wide pair graphs each
    evaluated the fingerprint subtree twice (the self-join's broadcast
    side shares no exchange with its probe side), i.e. four ~2 s corpus
    aggregations per session for one 5k-row relation. Node-sized;
    degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "simhash_fps",
        scope(spark, sf_dir),
        lambda: simhash_fingerprints(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ),
    )


def simhash_pair_graph(spark, sf_dir):
    """Session-pinned narrow (Hamming <= 3) SimHash pair relation —
    shared by q_text_simhash and q_dedup_simhash_recall, same contract
    as exact_pair_graph."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "simhash_pair_graph_h3",
        scope(spark, sf_dir),
        lambda: simhash_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            max_hamming=3,
            fps=simhash_fps(spark, sf_dir),
        ),
    )


def simhash_wide_pair_graph(spark, sf_dir):
    """Session-pinned wide (Hamming <= 8) SimHash pair relation —
    shared by q_text_simhash_wide, q_dedup_simhash_wide_recall and the
    blocking ensemble, same contract as exact_pair_graph."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "simhash_wide_pair_graph_h8",
        scope(spark, sf_dir),
        lambda: simhash_pairs_wide(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            fps=simhash_fps(spark, sf_dir),
        ),
    )


@query("q_text_simhash", oracle=duck_simhash_oracle(max_hamming=3))
def q_text_simhash(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 over 60-bit fingerprints).
    Banded blocking is lossless for this radius (pigeonhole over 4
    bands). Fully deterministic (md5-derived token hashes), so the
    DuckDB oracle mirrors the whole pipeline hash-exactly — the 60-bit
    hash reads the same 15 md5 hex chars via a '0x' cast."""
    return simhash_pair_graph(spark, sf_dir)


@query("q_text_simhash_wide", oracle=duck_simhash_wide_oracle())
def q_text_simhash_wide(spark, sf_dir):
    """SimHash near-dup pairs at the WIDE radius (Hamming <= 8) — the
    high-recall configuration of VERDICT r10 item 5. Blocking keys on
    every C(10,2)=45 pair of 6-bit fingerprint blocks (Manku et al.
    WWW'07 multi-table scheme done relationally): 8 bit flips leave
    >= 2 intact blocks, so the blocking is lossless at this radius.
    Same md5-derived fingerprints as q_text_simhash, so the DuckDB
    oracle mirrors the pipeline hash-exactly; see
    q_dedup_simhash_wide_recall for what the radius buys."""
    return simhash_wide_pair_graph(spark, sf_dir)


_ANN_PLANES = _hyperplanes(4)
_ANN_FLIPS = ", ".join(f"xor(bkt0, {1 << i})" for i in range(4))

# the LSH candidate-generation CTEs, shared verbatim by the top-k
# oracle and the cost-audit oracle (q_vec_ann_cost) so the two count
# the same pair set
_ANN_CAND_CTES = f"""c AS (
  SELECT vec_id, embedding,
         CAST({duck_bucket('embedding', _ANN_PLANES)} AS BIGINT) AS bkt
  FROM embeddings
),
p0 AS (
  SELECT vec_id AS probe_id, embedding AS pe, bkt AS bkt0
  FROM c WHERE vec_id < {N_PROBES}
),
pb AS (
  SELECT probe_id, pe, t.bkt
  FROM p0, unnest([bkt0, {_ANN_FLIPS}]) AS t(bkt)
)"""

_ANN_ORACLE = f"""
WITH {_ANN_CAND_CTES},
scored AS (
  SELECT DISTINCT probe_id, c.vec_id AS vec_id,
         {duck_cosine('pe', 'c.embedding')} AS sim
  FROM pb JOIN c ON c.bkt = pb.bkt AND c.vec_id <> pb.probe_id
)
SELECT * FROM (
  SELECT probe_id, vec_id, sim,
         CAST(row_number() OVER (
             PARTITION BY probe_id ORDER BY sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("q_vec_knn_ann", oracle=_ANN_ORACLE)
@topk_ckpt("topk_lsh")
def q_vec_knn_ann(spark, sf_dir):
    """ANN top-k via random-hyperplane LSH + multi-probe + exact
    re-scoring — the scale path whose exact twin is q_vec_knn.
    Approximate vs brute force, but DETERMINISTIC (seeded hyperplanes,
    exact re-scoring, (sim desc, id) tie-break), so the DuckDB oracle
    mirrors the same algorithm with the planes inlined as literals."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    return ann_topk(e, probes, k=5, n_planes=4)


IVF_CELLS = 8
IVF_NPROBE = 3

# DuckDB mirror of the full IVF search with the hash-sampled coarse
# quantizer: centroid sample -> cell assignment (argmin L2, tie-break
# cell asc) -> probe routing (top-nprobe cells) -> exact cosine rescore
# -> top-k. Every stage is deterministic on both engines.
# the IVF candidate-generation CTEs (hash-sampled quantizer), shared
# verbatim by the top-k oracle and the cost-audit oracle
_IVF_CAND_CTES = f"""cent AS (
  SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS INTEGER) - 1 AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_CELLS}
  )
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {duck_l2('e.embedding', 'c.cv')}, c.cell
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
routed AS (
  SELECT probe_id, cell FROM (
    SELECT p.vec_id AS probe_id, c.cell,
           row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY {duck_l2('p.embedding', 'c.cv')}, c.cell
           ) AS rn
    FROM embeddings p CROSS JOIN cent c WHERE p.vec_id < {N_PROBES}
  ) WHERE rn <= {IVF_NPROBE}
)"""

_IVF_ORACLE = f"""
WITH {_IVF_CAND_CTES},
scored AS (
  SELECT r.probe_id, a.vec_id,
         {duck_cosine('p.embedding', 'e.embedding')} AS sim
  FROM routed r
  JOIN asg a ON a.cell = r.cell AND a.vec_id <> r.probe_id
  JOIN embeddings p ON p.vec_id = r.probe_id
  JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT * FROM (
  SELECT probe_id, vec_id, sim,
         CAST(row_number() OVER (
             PARTITION BY probe_id ORDER BY sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("q_vec_knn_ivf", oracle=_IVF_ORACLE)
@topk_ckpt("topk_ivf")
def q_vec_knn_ivf(spark, sf_dir):
    """IVF-Flat ANN: coarse quantizer cells + nprobe-cell search + exact
    re-scoring (operators/ivf.py) — the inverted-list scale path; at
    100 TB the corpus is bucketed by cell id so a probe reads
    nprobe/n_cells of the data.

    Hash-checked since round 7 (was rows-only): the registered key uses
    the SQL-mirrorable hash-sampled coarse quantizer
    (operators/ivf.py hash_sampled_centroids — data points picked by
    (md5(id), id) order, k-means' init step without Lloyd refinement)
    so cell assignment, routing, and rescoring are all reproducible in
    the DuckDB oracle above. The numpy k-means quantizer remains the
    default for ivf_topk(centroids=None) and keeps its recall pin in
    tests/test_ivf.py."""
    from hive_similarity_join_spark.operators.ivf import (
        hash_sampled_centroids,
        ivf_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    cents = hash_sampled_centroids(e, IVF_CELLS)
    return ivf_topk(
        e, probes, k=5, n_cells=IVF_CELLS, nprobe=IVF_NPROBE, centroids=cents
    )


def _ivfk_route_ctes(asg_name: str = "asg", routed_name: str = "routed") -> str:
    """The Lloyd-kmeans IVF assignment + routing CTE pair (from the
    shared kmeans training fragments) under caller-chosen CTE names —
    composed by the top-k oracle (asg/routed) AND the cost-audit
    oracle (asg_k/routed_k, avoiding collision with the hash-sampled
    IVF's CTEs in the same statement), so the two route identically."""
    from hive_similarity_join_spark.queries.vectors_q import (
        kmeans_sql_fragments,
    )

    fr = kmeans_sql_fragments()
    cf, d2 = fr["final"], fr["d2"]
    return f"""{asg_name} AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, cf.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {d2('v.xi', 'cf.c')}, cf.cell
           ) AS rn
    FROM v CROSS JOIN {cf} cf
  ) WHERE rn = 1
),
{routed_name} AS (
  SELECT probe_id, cell FROM (
    SELECT v.vec_id AS probe_id, cf.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {d2('v.xi', 'cf.c')}, cf.cell
           ) AS rn
    FROM v CROSS JOIN {cf} cf WHERE v.vec_id < {N_PROBES}
  ) WHERE rn <= {IVF_NPROBE}
)"""


def _ivf_kmeans_oracle() -> str:
    """IVF search on the Lloyd-REFINED quantizer: the kmeans oracle's
    training CTEs (imported via kmeans_sql_fragments, so the trainer
    cannot drift from q_vec_kmeans) + assignment/routing/rescore in
    the exact shape of _IVF_ORACLE — the only difference is WHICH
    centroids route (refined vs init pivots)."""
    from hive_similarity_join_spark.queries.vectors_q import (
        kmeans_sql_fragments,
    )

    fr = kmeans_sql_fragments()
    return f"""
WITH {fr['with_body']},
{_ivfk_route_ctes()},
scored AS (
  SELECT r.probe_id, a.vec_id,
         {duck_cosine('p.embedding', 'e.embedding')} AS sim
  FROM routed r
  JOIN asg a ON a.cell = r.cell AND a.vec_id <> r.probe_id
  JOIN embeddings p ON p.vec_id = r.probe_id
  JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT * FROM (
  SELECT probe_id, vec_id, sim,
         CAST(row_number() OVER (
             PARTITION BY probe_id ORDER BY sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("q_vec_knn_ivf_kmeans", oracle=_ivf_kmeans_oracle())
@topk_ckpt("topk_ivfk")
def q_vec_knn_ivf_kmeans(spark, sf_dir):
    """IVF-Flat ANN with the PRODUCTION quantizer: coarse cells trained
    by the exact fixed-point Lloyd k-means (q_vec_kmeans's trainer,
    shared via operators/ivf.py lloyd_kmeans_centroids — r8 VERDICT
    item #7: the clustering key is now the IVF training path, not a
    standalone artifact). vs q_vec_knn_ivf, the cells are the REFINED
    centroids instead of raw init pivots, so the inverted lists are
    better balanced — the recall audit (q_vec_ann_recall, 'ivfk' leg)
    measures the difference instead of asserting it.

    Deterministic end to end: exact-integer training and routing
    (fixed-point L2, (d2, cell) tie-break), exact cosine rescoring,
    (sim desc, id) top-k — hence hash-checked against the composed
    oracle above. Scale shape: training is KM_ROUNDS x one
    partial-aggregated (cell, dim) shuffle; search reads nprobe/k_cells
    of the corpus exactly like q_vec_knn_ivf (bucketed-by-cell layout
    at 100 TB)."""
    from hive_similarity_join_spark.operators.ivf import ivf_topk_kmeans
    from hive_similarity_join_spark.queries.vectors_q import (
        KM_K,
        KM_ROUNDS,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    return ivf_topk_kmeans(
        e, probes, k=5, n_cells=KM_K, nprobe=IVF_NPROBE, rounds=KM_ROUNDS
    )


def _ivfadc_oracle() -> str:
    """IVFADC = the IVF oracle's cent/asg/routed CTEs composed with the
    PQ oracle's cb/enc/ptl fragments (imported, so the two oracles
    cannot drift), ADC-scoring only the routed cells' codes."""
    from hive_similarity_join_spark.queries.vectors_q import pq_sql_fragments

    fr = pq_sql_fragments()
    return f"""
WITH cent AS (
  SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS INTEGER) - 1 AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM (
    SELECT vec_id, embedding FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {IVF_CELLS}
  )
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {duck_l2('e.embedding', 'c.cv')}, c.cell
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
routed AS (
  SELECT probe_id, cell FROM (
    SELECT p.vec_id AS probe_id, c.cell,
           row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY {duck_l2('p.embedding', 'c.cv')}, c.cell
           ) AS rn
    FROM embeddings p CROSS JOIN cent c WHERE p.vec_id < {N_PROBES}
  ) WHERE rn <= {IVF_NPROBE}
),
cb AS (
{fr["cb"]}
),
{fr["enc"]},
{fr["ptl"]},
scored AS (
  SELECT r.probe_id, a.vec_id,
         {fr["fold"]('p', 'x')} AS adist
  FROM routed r
  JOIN asg a ON a.cell = r.cell AND a.vec_id <> r.probe_id
  JOIN enc x ON x.vec_id = a.vec_id
  JOIN ptl p ON p.probe_id = r.probe_id
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY adist, vec_id
           ) AS cr
    FROM scored
  ) WHERE cr <= 20
)
SELECT * FROM (
  SELECT c.probe_id, c.vec_id,
         {duck_cosine('pe.embedding', 'ce.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY c.probe_id
             ORDER BY {duck_cosine('pe.embedding', 'ce.embedding')} DESC,
                      c.vec_id
         ) AS BIGINT) AS rank
  FROM cand c
  JOIN embeddings pe ON pe.vec_id = c.probe_id
  JOIN embeddings ce ON ce.vec_id = c.vec_id
) WHERE rank <= 5
"""


@query("q_vec_knn_ivfadc", oracle=_ivfadc_oracle())
@topk_ckpt("topk_ivfadc")
def q_vec_knn_ivfadc(spark, sf_dir):
    """IVFADC — the production large-scale ANN composition (FAISS's
    default index family): IVF routing prunes the scan to
    nprobe/n_cells of the corpus, ADC scores only those cells' 4-byte
    PQ codes with table lookups, exact cosine reranks the top-20.
    Multiplicative savings: read fewer rows (IVF) AND fewer bytes per
    row (PQ). Composed from the same hash-sampled quantizer and
    codebooks as q_vec_knn_ivf and q_vec_knn_pq — the oracle imports
    their SQL fragments verbatim, so all three stay in lockstep —
    and hash-checked end to end like both parents."""
    from hive_similarity_join_spark.operators.ivf import hash_sampled_centroids
    from hive_similarity_join_spark.operators.pq import ivfadc_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    cents = hash_sampled_centroids(e, IVF_CELLS)
    return ivfadc_topk(
        e, probes, cents, k=5, nprobe=IVF_NPROBE, n_candidates=20
    )


def _res_pq_fragments() -> dict:
    """Residual-PQ oracle fragments (assume cent/asg CTEs in scope):
    resid (per-vector residual list), rcb body (hash-sampled residual
    codebooks — same sample order as the raw leg), d2r (encode
    distance given aliases r/cb) — shared by the residual-IVFADC
    search oracle and the residual distortion audit so the two cannot
    drift."""
    from hive_similarity_join_spark.functions.vectors import DIM
    from hive_similarity_join_spark.operators.pq import PQ_K, PQ_M, PQ_SUB

    d2r = (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
        f"i -> (r.rv[cb.m * {PQ_SUB} + i] - cb.sv[i])"
        f" * (r.rv[cb.m * {PQ_SUB} + i] - cb.sv[i])), "
        f"(x, y) -> x + y)"
    )
    books = "\nUNION ALL\n".join(
        f"""SELECT {m} AS m,
       CAST(row_number() OVER (
           ORDER BY md5('{m}:' || CAST(vec_id AS VARCHAR)), vec_id
       ) AS INTEGER) - 1 AS c,
       list_transform(generate_series({m * PQ_SUB + 1}, {(m + 1) * PQ_SUB}),
                      i -> rv[i]) AS sv
FROM (SELECT vec_id, rv FROM resid
      ORDER BY md5('{m}:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K})"""
        for m in range(PQ_M)
    )
    resid = f"""resid AS (
  SELECT e.vec_id, a.cell,
         list_transform(generate_series(1, {DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) - c.cv[i]) AS rv
  FROM embeddings e JOIN asg a USING (vec_id) JOIN cent c ON c.cell = a.cell
)"""
    return {"resid": resid, "rcb": books, "d2r": d2r}


def _ivfadc_res_oracle() -> str:
    """Residual-IVFADC oracle: the shared cent/asg/routed CTEs +
    residual relation + residual codebooks/codes + per-(probe, cell)
    distance tables (the query residual differs per probed cell — the
    one structural change residual encoding forces on ADC) + the
    raw leg's candidate/rerank tail verbatim."""
    from hive_similarity_join_spark.operators.pq import PQ_M, PQ_SUB

    rf = _res_pq_fragments()
    d2r = rf["d2r"]
    pel = (
        f"(CAST(p.embedding[cb.m * {PQ_SUB} + i] AS DOUBLE)"
        f" - c.cv[cb.m * {PQ_SUB} + i])"
    )
    d2p = (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
        f"i -> ({pel} - cb.sv[i]) * ({pel} - cb.sv[i])), "
        f"(x, y) -> x + y)"
    )
    fold = (
        f"list_reduce(list_transform(generate_series(1, {PQ_M}), "
        f"m -> pt.dt[m][x.cd[m] + 1]), (a, b) -> a + b)"
    )
    return f"""
WITH {_IVF_CAND_CTES},
{rf["resid"]},
rcb AS (
{rf["rcb"]}
),
renc0 AS (
  SELECT r.vec_id, cb.m, cb.c,
         row_number() OVER (
             PARTITION BY r.vec_id, cb.m ORDER BY {d2r}, cb.c
         ) AS rn
  FROM resid r CROSS JOIN rcb cb
),
renc AS (
  SELECT vec_id, list(c ORDER BY m) AS cd
  FROM renc0 WHERE rn = 1 GROUP BY vec_id
),
prt AS (
  SELECT rt.probe_id, rt.cell, cb.m, cb.c, {d2p} AS d2
  FROM routed rt
  JOIN cent c ON c.cell = rt.cell
  JOIN embeddings p ON p.vec_id = rt.probe_id
  CROSS JOIN rcb cb
),
prtl AS (
  SELECT probe_id, cell, list(dl ORDER BY m) AS dt FROM (
    SELECT probe_id, cell, m, list(d2 ORDER BY c) AS dl
    FROM prt GROUP BY probe_id, cell, m
  ) GROUP BY probe_id, cell
),
scored AS (
  SELECT rt.probe_id, a.vec_id, {fold} AS adist
  FROM routed rt
  JOIN asg a ON a.cell = rt.cell AND a.vec_id <> rt.probe_id
  JOIN renc x ON x.vec_id = a.vec_id
  JOIN prtl pt ON pt.probe_id = rt.probe_id AND pt.cell = rt.cell
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY adist, vec_id
           ) AS cr
    FROM scored
  ) WHERE cr <= 20
)
SELECT * FROM (
  SELECT c.probe_id, c.vec_id,
         {duck_cosine('pe.embedding', 'ce.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY c.probe_id
             ORDER BY {duck_cosine('pe.embedding', 'ce.embedding')} DESC,
                      c.vec_id
         ) AS BIGINT) AS rank
  FROM cand c
  JOIN embeddings pe ON pe.vec_id = c.probe_id
  JOIN embeddings ce ON ce.vec_id = c.vec_id
) WHERE rank <= 5
"""


@query("q_vec_knn_ivfadc_res", oracle=_ivfadc_res_oracle())
@topk_ckpt("topk_ivfadc_res")
def q_vec_knn_ivfadc_res(spark, sf_dir):
    """IVFADC with RESIDUAL encoding — the production FAISS form of
    q_vec_knn_ivfadc (r12 VERDICT gap #5): PQ codes quantize
    (vector − assigned centroid), spending the 4-byte budget on
    within-cell detail instead of re-encoding the between-cell
    variance the coarse quantizer already captured. Same hash-sampled
    quantizer, same sampled rows for the codebooks (id-hash order is
    data-independent), same candidate budget and exact-cosine rerank
    as the raw leg — the ONLY change is what the codes encode, so the
    recall delta in q_vec_ann_recall ('ivfadc_res' vs 'ivfadc') is
    attributable to residual encoding alone. Measured (sf0.01): mean
    recall@5 0.26 vs the raw leg's 0.30 — residual encoding buys
    nothing HERE because the synthetic embeddings are isotropic
    (between-cell variance ~= within-cell variance, so the residual
    carries as much energy as the vector); the audit row exists
    precisely so a deployment on real clustered embeddings sees the
    actual sign instead of trusting the FAISS folklore. See
    operators/pq.py ivfadc_residual_topk for the determinism argument
    and the per-(probe, cell) table shape."""
    from hive_similarity_join_spark.operators.ivf import hash_sampled_centroids
    from hive_similarity_join_spark.operators.pq import ivfadc_residual_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    cents = hash_sampled_centroids(e, IVF_CELLS)
    return ivfadc_residual_topk(
        e, probes, cents, k=5, nprobe=IVF_NPROBE, n_candidates=20
    )


_ELSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding,
         CAST({duck_bucket('embedding', _ANN_PLANES)} AS BIGINT) AS bkt
  FROM embeddings
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {duck_cosine('a.embedding', 'b.embedding')} AS sim
FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE {duck_cosine('a.embedding', 'b.embedding')} >= 0.3
"""


def elsh_pair_graph(spark, sf_dir):
    """Session-checkpointed hyperplane-LSH cosine pair relation
    (id1, id2, sim) at sim >= 0.3 — r17: q_dedup_embedding_lsh,
    q_dedup_semantic (CC closure on these pairs) and
    q_dedup_threshold_curve (two aggregates over them) each re-ran the
    bucketed join + exact-cosine verify (~2 s at sf0.1). Id-pair-sized;
    degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    def build():
        from hive_similarity_join_spark.functions import vectors as V
        from hive_similarity_join_spark.operators.knn import (
            _hyperplanes,
            bucket_expr,
        )

        e = load_table(spark, sf_dir, "embeddings")
        planes = _hyperplanes(4)
        v = e.select(
            F.col("vec_id").alias("_id"), V.as_double("embedding").alias("_v")
        ).withColumn("_bkt", bucket_expr(F.col("_v"), planes))
        a = hash_placed(v, ["_bkt"], {"_id": "id1", "_v": "_v1", "_bkt": "_bkt"})
        b = hash_placed(v, ["_bkt"], {"_id": "id2", "_v": "_v2", "_bkt": "_bkt2"})
        sim = V.cosine(F.col("_v1"), F.col("_v2"))
        return (
            a.join(
                b,
                (F.col("_bkt") == F.col("_bkt2")) & (F.col("id1") < F.col("id2")),
            )
            .select("id1", "id2", sim.alias("sim"))
            .filter(F.col("sim") >= 0.3)
        )

    return session_ckpt("elsh_pair_graph", scope(spark, sf_dir), build)


@query("q_dedup_embedding_lsh", oracle=_ELSH_ORACLE)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup pairs with hyperplane-LSH blocking — the
    100 TB twin of the exact all-pairs q_dedup_embedding: candidates
    only form inside a shared sign-bucket (expected bucket size
    |corpus| / 2^n_planes), then exact cosine verifies. Approximate by
    blocking (recall < 1) but deterministic (seeded planes), so the
    DuckDB oracle mirrors the same blocking + verify hash-exactly.
    r16-style sharing (r17): the pair relation is session-checkpointed
    (elsh_pair_graph) and consumed by the semantic-dedup and
    threshold-curve keys."""
    return elsh_pair_graph(spark, sf_dir)


@query("q_dedup_connected", oracle=_duck_cc_oracle(CC_T))
def q_dedup_connected(spark, sf_dir):
    """Transitive-closure near-dup clustering: (doc_id, component id).
    Iterative min-label propagation on the Spark side; the DuckDB
    oracle closes the SAME exact-Jaccard pair graph with a recursive
    CTE (component = min reachable id), so the key is hash-checked
    end to end. Clustering correctness is additionally pytest-verified
    on hand-built graphs (tests/test_dedup.py)."""
    from hive_similarity_join_spark.queries.text_q import (
        NEAR_DUP_T,
        near_pair_graph,
    )

    assert CC_T == NEAR_DUP_T  # the shared t=0.9 session pin is only valid then
    pairs = near_pair_graph(spark, sf_dir).select("id1", "id2")
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


@query("q_dedup_connected_star", oracle=_duck_cc_oracle(CC_T))
def q_dedup_connected_star(spark, sf_dir):
    """Same clustering as q_dedup_connected, computed by alternating
    large-star/small-star contraction (Kiveris et al., SoCC 2014) —
    the O(log n)-round scale path whose round count is independent of
    graph diameter, vs min-label propagation's O(diameter). Registered
    on the SAME pair graph so the two algorithms are directly
    comparable in the bench; pytest asserts identical labelings
    (tests/test_dedup.py)."""
    from hive_similarity_join_spark.queries.text_q import (
        NEAR_DUP_T,
        near_pair_graph,
    )

    assert CC_T == NEAR_DUP_T  # the shared t=0.9 session pin is only valid then
    pairs = near_pair_graph(spark, sf_dir).select("id1", "id2")
    return connected_components_alternating(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


_SEM_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT id1, id2 FROM ({_ELSH_ORACLE})
),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS cluster,
       CAST(CASE WHEN COALESCE(c.component, e.vec_id) = e.vec_id
            THEN 1 ELSE 0 END AS BIGINT) AS is_rep
FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
"""


@query("q_dedup_semantic", oracle=_SEM_ORACLE)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — cluster by embedding similarity, keep one
    representative per cluster): every vector labeled with its
    semantic-duplicate cluster and a keep flag. Clusters = connected
    components of the hyperplane-LSH cosine pair graph
    (q_dedup_embedding_lsh's blocking + exact verify), closed with the
    O(log n)-round alternating-star CC; singletons are their own
    cluster; representative = min vec_id. The per-vector keep flag is
    exactly the artifact a dataset builder anti-joins against.

    Scale shape: LSH blocking keeps candidate pairs near-linear, the
    alternating-star closure shuffles edge-sized relations for
    O(log n) rounds regardless of cluster diameter, and the final
    left join is corpus × component-sized. Hash-checked: the oracle
    nests the already-verified ELSH pair SQL and closes it with a
    recursive CTE (same min-label semantics)."""
    e = load_table(spark, sf_dir, "embeddings")
    pairs = q_dedup_embedding_lsh(spark, sf_dir).select("id1", "id2")
    comp = connected_components_alternating(pairs)
    cluster = F.coalesce(F.col("comp"), F.col("vec_id"))
    return (
        e.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("id"), "left")
        .select(
            "vec_id",
            cluster.alias("cluster"),
            F.when(cluster == F.col("vec_id"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_rep"),
        )
    )


def _duck_reps_oracle(threshold: float) -> str:
    """DuckDB mirror of q_dedup_representatives: minhash-LSH pair graph
    (same CTE as q_dedup_minhash_lsh, nested as a subquery) closed with
    a recursive CTE, then one representative per component by
    (quality DESC, doc_id) — identical min-label closure and identical
    quality arithmetic (see pipeline_q._quality_sql)."""
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.queries.pipeline_q import _quality_sql

    return f"""
WITH RECURSIVE pairs AS ({duck_minhash_oracle(threshold)}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
q AS (
  SELECT doc_id, {_quality_sql()} AS quality
  FROM (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents)
  WHERE len(bag) > 0
),
lab AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
  FROM q LEFT JOIN comp c ON c.id = q.doc_id
),
rnk AS (
  SELECT component, doc_id, quality,
         row_number() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM lab
)
SELECT component, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
       quality AS rep_quality
FROM rnk WHERE rn = 1
"""


@query("q_dedup_representatives", oracle=_duck_reps_oracle(MINHASH_T))
def q_dedup_representatives(spark, sf_dir):
    """End-to-end dedup pipeline: MinHash-LSH candidate graph ->
    connected components -> keep the best-quality document per cluster
    (ties by doc_id; singletons represent themselves). This is the
    composition a 100 TB training-data pipeline actually runs — banded
    LSH bounds the pair space, CC is O(log) label rounds, and the
    representative pick is one window over the node-sized label table.
    Hash-checked end to end against the recursive-CTE closure of the
    same deterministic pair graph.

    Tokenize-once contract: BOTH consumers (the MinHash signature path,
    via ``tokens_col``, and the quality score, via
    ``quality_score_from_bag``) read one shared ``_bag`` expression —
    single definition, no drift. Whether that expression is
    re-evaluated per consumer or materialized is a deliberate,
    MEASURED choice: persisting the bag relation
    (MEMORY_AND_DISK) ran strictly slower at smoke scale — warm A/B
    9.9-10.9s / 82 jobs persisted vs 7.8-8.7s / 53 jobs unpersisted —
    because the cache boundary adds a write pass and pins an
    InMemoryRelation that AQE cannot re-plan above, while the split
    itself is cheap map work. So the bag stays an expression here;
    a cluster deployment whose corpus scan dominates (100 TB over
    object storage) would flip to ``base.persist(DISK_ONLY)`` or a
    materialized tokens table (``build_token_dict`` pattern) — the
    ``tokens_col`` parameter is exactly the seam that makes either
    drop-in."""
    from hive_similarity_join_spark.functions import text as TX

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.bag_tokens("text").alias("_bag"))
    # r16: the pair graph + CC labeling are the session-pinned
    # lsh_pair_graph / lsh_cc_labels (bit-identical to the former
    # in-key bag-token generator — see lsh_cc_labels docstring).
    return _representatives_tail(base, lsh_cc_labels(spark, sf_dir))


def _representatives_tail(base, comp):
    """(component, rep_id, n_members, rep_quality) from a tokenized
    corpus (doc_id, _bag) and a CC labeling (id, comp) — the shared
    survivor-pick tail of q_dedup_representatives and
    q_dedup_ensemble_representatives: best-quality doc per component
    (ties by doc_id), singletons represent themselves."""
    from pyspark.sql import Window

    from hive_similarity_join_spark.functions import text as TX

    q = (
        base.filter(F.size("_bag") > 0)
        .select("doc_id", TX.quality_score_from_bag(F.col("_bag")).alias("quality"))
    )
    lab = (
        q.join(comp, q["doc_id"] == comp["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
            "quality",
        )
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    wc = Window.partitionBy("component")
    return (
        lab.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_id"),
            "n_members",
            F.col("quality").alias("rep_quality"),
        )
    )


def _duck_minhash_estimate_oracle() -> str:
    """DuckDB mirror of q_minhash_estimate: same permutation CTEs as
    duck_minhash_oracle, but candidates are NOT threshold-filtered and
    the output carries both the signature ESTIMATE (matching mins / 16,
    exact binary arithmetic) and the exact Jaccard, plus |est - exact|."""
    from hive_similarity_join_spark.operators.dedup import (
        MINHASH_SIG_CTES,
        NUM_PERM,
    )

    return f"""
{MINHASH_SIG_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id1, c.id2,
         CAST(sum(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS DOUBLE)
             / {NUM_PERM} AS est_sim
  FROM cand c
  JOIN sig x ON x.doc_id = c.id1
  JOIN sig y ON y.doc_id = c.id2 AND y.i = x.i
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, count(*) AS i
  FROM cand c JOIN tok x ON x.doc_id = c.id1 JOIN tok y
    ON y.doc_id = c.id2 AND y.tok = x.tok
  GROUP BY 1, 2
)
SELECT e.id1, e.id2, e.est_sim,
       CAST(coalesce(i.i, 0) AS DOUBLE)
           / (s1.n + s2.n - coalesce(i.i, 0)) AS exact_sim,
       abs(e.est_sim - CAST(coalesce(i.i, 0) AS DOUBLE)
           / (s1.n + s2.n - coalesce(i.i, 0))) AS abs_err
FROM est e
LEFT JOIN inter i ON i.id1 = e.id1 AND i.id2 = e.id2
JOIN sz s1 ON s1.doc_id = e.id1
JOIN sz s2 ON s2.doc_id = e.id2
"""


@query("q_minhash_estimate", oracle=_duck_minhash_estimate_oracle())
def q_minhash_estimate(spark, sf_dir):
    """Sketch-accuracy audit: for every LSH candidate pair (no threshold
    filter), the MinHash signature ESTIMATE of Jaccard (matching mins /
    NUM_PERM — exact binary arithmetic, so still bit-exact across
    engines) beside the exact Jaccard and their absolute error. This is
    the report a pipeline runs to validate a sketch configuration
    against ground truth on a sample before trusting it at full scale.

    Scale shape: identical to q_dedup_minhash_lsh (banded candidates
    bound the pair space; signatures are NUM_PERM longs per doc); the
    estimate adds only a wide-row comparison of already-carried
    signature columns — no extra shuffle."""
    from hive_similarity_join_spark.operators.dedup import (
        NUM_BANDS,
        NUM_PERM,
        ROWS_PER_BAND,
    )

    # r17: the shared session-checkpointed corpus signatures (identical
    # relation — see docs_minhash_sigs).
    sigs = docs_minhash_sigs(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("_band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"_h{b * ROWS_PER_BAND + j + 1}").cast("string")
                    for j in range(ROWS_PER_BAND)
                ],
            ).alias("_bsig"),
        )
        for b in range(NUM_BANDS)
    ]
    bands = sigs.select(
        "_id", F.explode(F.array(*band_structs)).alias("_bs")
    ).select(
        "_id", F.col("_bs._band").alias("_band"), F.col("_bs._bsig").alias("_bsig")
    )
    n_part = parallelism(spark)
    a = hash_placed(
        bands, ["_band", "_bsig"], {"_id": "id1", "_band": "_band", "_bsig": "_bsig"}
    )
    b = hash_placed(
        bands, ["_band", "_bsig"], {"_id": "id2", "_band": "_band2", "_bsig": "_bsig2"}
    )
    cand = (
        a.join(
            b,
            (F.col("_band") == F.col("_band2"))
            & (F.col("_bsig") == F.col("_bsig2"))
            & (F.col("id1") < F.col("id2")),
        )
        .select("id1", "id2")
        .repartition(n_part, "id1", "id2")
        .distinct()
    )
    s1 = sigs.select(
        F.col("_id").alias("id1"),
        F.col("_rks").alias("_rks1"),
        *[F.col(f"_h{i}").alias(f"_h{i}_1") for i in range(1, NUM_PERM + 1)],
    )
    s2 = sigs.select(
        F.col("_id").alias("id2"),
        F.col("_rks").alias("_rks2"),
        *[F.col(f"_h{i}").alias(f"_h{i}_2") for i in range(1, NUM_PERM + 1)],
    )
    matches = None
    for i in range(1, NUM_PERM + 1):
        m = F.when(F.col(f"_h{i}_1") == F.col(f"_h{i}_2"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    est = matches.cast("double") / F.lit(NUM_PERM)
    inter = F.size(F.array_intersect("_rks1", "_rks2")).cast("double")
    union = (F.size("_rks1") + F.size("_rks2")).cast("double") - inter
    exact = inter / union
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            est.alias("est_sim"),
            exact.alias("exact_sim"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


# --------------------------------------- Count-Min heavy-hitters audit

from hive_similarity_join_spark.operators.cms import CMS_D, CMS_W  # noqa: E402

CMS_TOP = 20


def _duck_cms_bucket(r_ref: str, tok_ref: str) -> str:
    seed = f"concat(CAST({r_ref} AS VARCHAR), ':', {tok_ref})"
    return f"{TX.duck_md5_prefix60(seed)} % {CMS_W}"


@query(
    "q_agg_cms_topk",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
tc AS (
  SELECT t.tok AS tok, CAST(count(*) AS BIGINT) AS n
  FROM bags, unnest(bag) AS t(tok)
  GROUP BY 1
),
cells AS (
  SELECT r.r AS r, {_duck_cms_bucket('r.r', 'tok')} AS b, n
  FROM tc CROSS JOIN (SELECT unnest(generate_series(0, {CMS_D - 1})) AS r) r
),
counters AS (
  SELECT r, b, CAST(sum(n) AS BIGINT) AS cnt FROM cells GROUP BY 1, 2
),
top AS (
  SELECT tok, n FROM tc ORDER BY n DESC, tok LIMIT {CMS_TOP}
),
probe AS (
  SELECT top.tok, top.n, r.r AS r, {_duck_cms_bucket('r.r', 'top.tok')} AS b
  FROM top CROSS JOIN (SELECT unnest(generate_series(0, {CMS_D - 1})) AS r) r
)
SELECT p.tok, p.n AS n_exact,
       CAST(min(c.cnt) AS BIGINT) AS n_cms,
       CAST(min(c.cnt) - p.n AS BIGINT) AS overcount
FROM probe p JOIN counters c ON c.r = p.r AND c.b = p.b
GROUP BY p.tok, p.n
""",
)
def q_agg_cms_topk(spark, sf_dir):
    """Count-Min-Sketch heavy-hitters audit (Cormode & Muthukrishnan,
    J.Alg 2005): token frequencies estimated from a {CMS_D}x{CMS_W}
    counter array, compared against exact counts for the top-{CMS_TOP}
    tokens — estimate = min over rows of the hashed-bucket counter,
    always >= exact (one-sided error), overcount emitted per token.
    The third sketch-accuracy audit next to q_minhash_estimate
    (Jaccard) and q_agg_kmv_distinct (distinct count); CMS is the
    sketch a frequency-capping / stopword-discovery pass ships at
    100 TB when the exact vocabulary would not fit.

    Deterministic and hash-checkable: bucket = md5-prefix60('r:'+tok)
    mod {CMS_W} (engine-portable integer hash), counters are exact
    integer sums.

    Scale shape: counters build from the TOKEN-COUNT relation
    (vocab-sized), not the occurrence stream — same totals, one
    partial-aggregated shuffle into {CMS_D}x{CMS_W} cells; the audit
    join broadcasts the {CMS_TOP}x{CMS_D} probe against the cell
    table. At true scale the counter build is the only pass the
    sketch needs over data already aggregated by token. Counters are
    exact integer sums, hence MERGEABLE — streaming/incremental_cms.py
    maintains the same cells across micro-batches (pytest-asserted
    equal to this batch build)."""
    from hive_similarity_join_spark.operators import cms

    d = load_table(spark, sf_dir, "documents")
    tc = pin(
        d.select(F.explode(TX.bag_tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    counters = cms.counters_from_token_counts(tc)
    top = tc.orderBy(F.desc("n"), F.asc("tok")).limit(CMS_TOP)
    est = cms.estimate(counters, top.select("tok"))
    return (
        top.join(est, "tok")
        .select(
            "tok",
            F.col("n").alias("n_exact"),
            "n_cms",
            (F.col("n_cms") - F.col("n")).cast("bigint").alias("overcount"),
        )
    )


# ------------------------------------------------- KMV distinct sketch

KMV_K = 64
_KMV_N = 4  # shingle width (matches the decontamination family)


@query(
    "q_agg_kmv_distinct",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, source, {TX.duck_bag()} AS bag FROM documents
),
sh AS (
  SELECT DISTINCT source, {TX.duck_md5_prefix60('t.g')} AS h
  FROM bags, unnest({_duck_grams(_KMV_N)}) AS t(g)
  WHERE len(bag) >= {_KMV_N}
),
exact AS (SELECT source, count(*) AS n_exact FROM sh GROUP BY source),
kth AS (
  SELECT source, h AS hk FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn = {KMV_K}
)
SELECT e.source,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CASE WHEN k.hk IS NOT NULL
            THEN {float(KMV_K - 1) * 2.0 ** 60} / CAST(k.hk AS DOUBLE)
            ELSE CAST(e.n_exact AS DOUBLE) END AS n_est,
       abs(CASE WHEN k.hk IS NOT NULL
                THEN {float(KMV_K - 1) * 2.0 ** 60} / CAST(k.hk AS DOUBLE)
                ELSE CAST(e.n_exact AS DOUBLE) END
           - CAST(e.n_exact AS DOUBLE)) / e.n_exact AS rel_err
FROM exact e LEFT JOIN kth k USING (source)
""",
)
def q_agg_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch, per source, over
    4-gram shingles — the approximate-distinct operator that, unlike
    HLL (q_agg_approx_distinct, rows-only by necessity), IS
    hash-checkable: the sketch is just "the k smallest md5-prefix
    hashes", deterministic and identically computable in DuckDB, so
    estimate AND exact AND relative error all bit-match (Bar-Yossef et
    al., RANDOM 2002: E[(k-1)/h_k] = n/|hash space|). Emitted beside
    the exact count as a sketch-accuracy audit, like q_minhash_estimate
    for Jaccard.

    Scale shape: the per-group sketch state is k hashes (here via a
    per-group window over the distinct-hash relation; at true scale the
    same k-smallest set folds with an approx-quantile-style partial
    aggregate — the window form keeps the oracle exactly mirrorable).
    int64->double casts above 2^53 round identically (IEEE
    round-to-nearest) on both engines, so even the lossy cast is
    deterministic. Groups with fewer than k distinct values fall back
    to the exact count (the standard KMV rule)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    grams = F.array_distinct(TX.word_ngrams(TX.bag_tokens("text"), _KMV_N))
    sh = (
        d.select("source", F.explode(grams).alias("g"))
        .select("source", TX.md5_prefix60(F.col("g")).alias("h"))
        .distinct()
    )
    exact = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    w = Window.partitionBy("source").orderBy("h")
    kth = (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == KMV_K)
        .select("source", F.col("h").alias("hk"))
    )
    scale = float(KMV_K - 1) * 2.0 ** 60
    est = F.when(
        F.col("hk").isNotNull(), F.lit(scale) / F.col("hk").cast("double")
    ).otherwise(F.col("n_exact").cast("double"))
    return (
        exact.join(kth, "source", "left")
        .select(
            "source",
            "n_exact",
            est.alias("n_est"),
            (F.abs(est - F.col("n_exact").cast("double")) / F.col("n_exact")).alias(
                "rel_err"
            ),
        )
    )


# --- ANN recall audit (round 6; IVF leg r7, IVFADC leg r8) -----------
# Turns the approximate ANN paths' quality from asserted to measured:
# per-probe recall@k of the hyperplane-LSH path (q_vec_knn_ann), the
# SQ8 two-stage path (q_vec_knn_quantized), the IVF path
# (q_vec_knn_ivf, hash-sampled quantizer), the PQ-ADC path
# (q_vec_knn_pq), and their production composition IVFADC
# (q_vec_knn_ivfadc) against the exact brute-force q_vec_knn. All five
# paths are deterministic (seeded planes, integral-double code dots,
# md5-ordered centroid sample, (sim desc, id) tie-breaks), so the
# oracle composes the already-verified oracle queries verbatim as CTEs
# and the whole audit is hash-checked bit-exact (ivfk — the
# Lloyd-refined kmeans quantizer leg — added r9). The numpy-k-means IVF
# variant additionally keeps its recall pin in tests/test_ivf.py.

def _ann_recall_oracle() -> str:
    # Importing the MODULE (not just registry) forces vectors_q's
    # @query registrations before the ORACLES reads below — without
    # this, the builder silently depends on queries/__init__.py
    # importing vectors_q before dedup_q (ADVICE r6).
    from hive_similarity_join_spark.queries import vectors_q
    from hive_similarity_join_spark.registry import ORACLES

    k = vectors_q.KNN_K

    return f"""
WITH exact AS ({ORACLES["q_vec_knn"]}),
lsh AS ({ORACLES["q_vec_knn_ann"]}),
sq8 AS ({ORACLES["q_vec_knn_quantized"]}),
ivf AS ({ORACLES["q_vec_knn_ivf"]}),
pq AS ({ORACLES["q_vec_knn_pq"]}),
ivfadc AS ({ORACLES["q_vec_knn_ivfadc"]}),
ivfadc_res AS ({ORACLES["q_vec_knn_ivfadc_res"]}),
ivfk AS ({ORACLES["q_vec_knn_ivf_kmeans"]}),
bq AS ({ORACLES["q_vec_knn_bq"]}),
m AS (
  SELECT 'lsh' AS method, probe_id, vec_id FROM lsh
  UNION ALL
  SELECT 'sq8' AS method, probe_id, vec_id FROM sq8
  UNION ALL
  SELECT 'ivf' AS method, probe_id, vec_id FROM ivf
  UNION ALL
  SELECT 'pq' AS method, probe_id, vec_id FROM pq
  UNION ALL
  SELECT 'ivfadc' AS method, probe_id, vec_id FROM ivfadc
  UNION ALL
  SELECT 'ivfadc_res' AS method, probe_id, vec_id FROM ivfadc_res
  UNION ALL
  SELECT 'ivfk' AS method, probe_id, vec_id FROM ivfk
  UNION ALL
  SELECT 'bq' AS method, probe_id, vec_id FROM bq
),
hits AS (
  SELECT m.method, m.probe_id, count(*) AS hits
  FROM m JOIN exact e ON e.probe_id = m.probe_id AND e.vec_id = m.vec_id
  GROUP BY 1, 2
),
grid AS (
  SELECT p.probe_id, t.method
  FROM (SELECT DISTINCT probe_id FROM exact) p,
       unnest(['lsh', 'sq8', 'ivf', 'pq', 'ivfadc', 'ivfadc_res',
               'ivfk', 'bq']) AS t(method)
)
SELECT g.probe_id, g.method,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       COALESCE(h.hits, 0) / CAST({k} AS DOUBLE) AS recall
FROM grid g LEFT JOIN hits h
  ON h.probe_id = g.probe_id AND h.method = g.method
"""


@query("q_vec_ann_recall", oracle=_ann_recall_oracle())
def q_vec_ann_recall(spark, sf_dir):
    """Recall@k audit of the eight deterministic ANN paths vs exact kNN.

    Emits (probe_id, method, hits, recall) for method in {lsh, sq8,
    ivf, pq, ivfadc, ivfadc_res, ivfk, bq} (bq added r15 — the 1-bit
    sign-code scan, q_vec_knn_bq; ivfadc_res added r13 — same
    routing, same 4-byte codes as ivfadc, so its recall delta is the
    residual-encoding gain at IDENTICAL scan cost — measured at
    sf0.01: 0.26 vs 0.30 mean recall@5, i.e. NO gain on this corpus,
    exactly what theory predicts: residual encoding recovers the
    between-cell variance the coarse quantizer removed, and the
    synthetic embeddings are isotropic (no cluster structure), so
    there is ~none to recover; on real clustered embeddings the sign
    flips — which is WHY this is an audit row, not an assumption):
    hits = |approx top-k ∩ exact top-k| per probe, recall = hits/k in
    double (BIGINT/DOUBLE correctly-rounded divide on both engines —
    exact for these tiny integers). Probes with zero overlap still
    appear (left join from the probe×method grid), so a recall
    collapse is visible as 0.0 rows, not missing rows.

    Scale shape: the six kNN legs keep their own posture (broadcast
    probes, streamed corpus); the audit itself only joins top-k sets —
    |probes| × k rows per method — so at 100 TB this costs the price
    of running the legs, plus a negligible id-pair join. This is the
    recall dashboard an ANN rollout gates on."""
    from hive_similarity_join_spark.queries.vectors_q import (
        KNN_K,
        q_vec_knn,
        q_vec_knn_quantized,
    )
    from hive_similarity_join_spark.queries.vectors_q import (
        q_vec_knn_bq,
        q_vec_knn_pq,
    )

    # r17: the nine top-k legs are session-checkpointed (topk_ckpt) and
    # independent, so the first consumer in a session (this dashboard,
    # alphabetically before every q_vec_knn* key) materializes them
    # CONCURRENTLY — the guide's §2.6 overlap pattern, same device as
    # q_dedup_blocking_ensemble's generator prefetch. Distinct ckpt
    # names -> no build race; each builder's own collect-based centroid
    # training is memoized per plan hash (operators/ivf.py).
    from concurrent.futures import ThreadPoolExecutor

    leg_fns = [
        ("exact", q_vec_knn),
        ("lsh", q_vec_knn_ann),
        ("sq8", q_vec_knn_quantized),
        ("ivf", q_vec_knn_ivf),
        ("pq", q_vec_knn_pq),
        ("ivfadc", q_vec_knn_ivfadc),
        ("ivfadc_res", q_vec_knn_ivfadc_res),
        ("ivfk", q_vec_knn_ivf_kmeans),
        ("bq", q_vec_knn_bq),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {n: pool.submit(fn, spark, sf_dir) for n, fn in leg_fns}
        built = {n: f.result() for n, f in futs.items()}
    exact = built["exact"].select("probe_id", "vec_id")
    legs = [(n, built[n]) for n, _ in leg_fns[1:]]
    m = None
    for name, df in legs:
        leg = df.select(
            F.lit(name).alias("method"), "probe_id", "vec_id"
        )
        m = leg if m is None else m.unionAll(leg)
    hits = (
        m.join(exact, ["probe_id", "vec_id"])
        .groupBy("method", "probe_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    methods = spark.range(1).select(
        F.explode(
            F.array(
                F.lit("lsh"), F.lit("sq8"), F.lit("ivf"), F.lit("pq"),
                F.lit("ivfadc"), F.lit("ivfadc_res"), F.lit("ivfk"),
                F.lit("bq"),
            )
        ).alias("method")
    )
    grid = exact.select("probe_id").distinct().crossJoin(F.broadcast(methods))
    n_hits = F.coalesce(F.col("hits"), F.lit(0))
    return grid.join(hits, ["method", "probe_id"], "left").select(
        "probe_id",
        "method",
        n_hits.cast("bigint").alias("hits"),
        (n_hits / F.lit(float(KNN_K))).alias("recall"),
    )


def _ann_cost_oracle() -> str:
    """Candidate CTEs of all three bucketed ANN methods composed in
    ONE statement (LSH: c/p0/pb; hash-sampled IVF: cent/asg/routed;
    Lloyd IVF: kmeans fragments + asg_k/routed_k) — each imported
    from the fragment its top-k oracle uses, so the cost audit counts
    exactly the pair sets the searches score."""
    from hive_similarity_join_spark.queries.vectors_q import (
        kmeans_sql_fragments,
    )

    fr = kmeans_sql_fragments()
    return f"""
WITH {_ANN_CAND_CTES},
{_IVF_CAND_CTES},
{fr['with_body']},
{_ivfk_route_ctes('asg_k', 'routed_k')},
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_corpus,
         CAST(sum(CASE WHEN vec_id < {N_PROBES} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_probes
  FROM embeddings
),
lshc AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM (
    SELECT DISTINCT probe_id, c.vec_id
    FROM pb JOIN c ON c.bkt = pb.bkt AND c.vec_id <> pb.probe_id
  )
),
ivfc AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM routed r JOIN asg a ON a.cell = r.cell AND a.vec_id <> r.probe_id
),
ivfkc AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM routed_k r JOIN asg_k a
    ON a.cell = r.cell AND a.vec_id <> r.probe_id
),
rows_out AS (
  SELECT 'exact' AS method, b.n_probes * (b.n_corpus - 1) AS n_candidates
  FROM base b
  UNION ALL SELECT 'sq8', b.n_probes * (b.n_corpus - 1) FROM base b
  UNION ALL SELECT 'pq', b.n_probes * (b.n_corpus - 1) FROM base b
  UNION ALL SELECT 'bq', b.n_probes * (b.n_corpus - 1) FROM base b
  UNION ALL SELECT 'lsh', n FROM lshc
  UNION ALL SELECT 'ivf', n FROM ivfc
  UNION ALL SELECT 'ivfadc', n FROM ivfc
  UNION ALL SELECT 'ivfadc_res', n FROM ivfc
  UNION ALL SELECT 'ivfk', n FROM ivfkc
)
SELECT r.method,
       CAST(r.n_candidates AS BIGINT) AS n_candidates,
       CAST(b.n_probes * (b.n_corpus - 1) AS BIGINT) AS n_exact,
       CAST(r.n_candidates AS DOUBLE)
           / CAST(b.n_probes * (b.n_corpus - 1) AS DOUBLE) AS scan_frac
FROM rows_out r, base b
ORDER BY method
"""


@query("q_vec_ann_cost", oracle=_ann_cost_oracle())
def q_vec_ann_cost(spark, sf_dir):
    """The COST half of the ANN dashboard: exact-distance computations
    per method (candidate pairs actually scored) vs the brute-force
    baseline — q_vec_ann_recall says what each method finds, this key
    says what each method READS to find it; an index rollout gates on
    the ratio of the two. All EIGHT q_vec_ann_recall methods get a
    row (r13 VERDICT item #4; the 'bq' row landed with the method in
    r15 so the two dashboards stay aligned method-for-method), plus
    the exact baseline row (probes x
    (corpus-1), scan_frac 1.0 — the denominator, emitted so the
    ratio is auditable). Candidate counts by family: the bucketed
    paths prune rows (lsh = hyperplane buckets + multi-probe flips;
    ivf = nprobe hash-sampled cells; ivfk = nprobe Lloyd-refined
    cells); sq8/pq scan EVERY corpus row's code — their n_candidates
    equals n_exact and scan_frac is exactly 1.0, an honest statement
    that quantization prunes BYTES (1-byte/4-byte codes vs raw
    floats), never candidates; ivfadc/ivfadc_res score exactly the
    ivf routing's candidate set (same centroids, same assign_cells /
    _cell_dists routing — operators/pq.py builds its scored relation
    from the identical routed x asg join), so their rows carry the
    measured ivf count: rows pruned like ivf AND bytes pruned like
    pq, the multiplicative saving, at identical cost for the
    residual leg (its recall delta in q_vec_ann_recall is therefore
    attributable to encoding alone).

    Anti-drift: each method's candidate relation is THE relation its
    top-k search scores — operators/knn.py ann_candidates and
    operators/ivf.py ivf_candidates / ivfk_candidates are the shared
    bodies ann_topk / ivf_topk / ivf_topk_kmeans rank over (and
    ivf_candidates is the same assign+route composition
    ivfadc_topk / ivfadc_residual_topk score), and the oracle
    composes the same candidate CTEs the top-k oracles run — the
    ivfadc/ivfadc_res oracle rows read the ivfc CTE because their
    search oracles' scored CTE is the identical routed-x-asg join.
    Scale shape: three counts over relations the searches build
    anyway (the ivf family's relation is scanned ONCE and fanned to
    its three method rows via explode); the audit adds one aggregate
    each."""
    from hive_similarity_join_spark.operators.ivf import (
        hash_sampled_centroids,
        ivf_candidates,
        ivfk_candidates,
    )
    from hive_similarity_join_spark.operators.knn import ann_candidates
    from hive_similarity_join_spark.queries.vectors_q import (
        KM_K,
        KM_ROUNDS,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    base = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus"),
        F.sum(F.when(F.col("vec_id") < N_PROBES, 1).otherwise(0))
        .cast("bigint")
        .alias("n_probes"),
    )
    cents = hash_sampled_centroids(e, IVF_CELLS)
    legs = [
        (
            "lsh",
            ann_candidates(e, probes, n_planes=4),
        ),
        (
            "ivfk",
            ivfk_candidates(
                e, probes, n_cells=KM_K, nprobe=IVF_NPROBE, rounds=KM_ROUNDS
            ),
        ),
    ]
    # exact / sq8 / pq / bq all touch probes x (corpus-1) candidates —
    # one base row fanned to the four full-scan methods (quantization
    # prunes BYTES, never candidates: 1 byte/dim for sq8, ~0.5 for pq,
    # 1 BIT for bq — the 32x scan-bytes floor of the family).
    counts = base.select(
        F.explode(
            F.array(
                F.lit("exact"), F.lit("sq8"), F.lit("pq"), F.lit("bq")
            )
        ).alias("method"),
        (F.col("n_probes") * (F.col("n_corpus") - 1))
        .cast("bigint")
        .alias("n_candidates"),
    )
    # ivf / ivfadc / ivfadc_res score the same routed-cell relation —
    # count it ONCE, fan the measured count to the three method rows.
    counts = counts.unionAll(
        ivf_candidates(e, probes, cents, nprobe=IVF_NPROBE)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
        .select(
            F.explode(
                F.array(F.lit("ivf"), F.lit("ivfadc"), F.lit("ivfadc_res"))
            ).alias("method"),
            "n_candidates",
        )
    )
    for name, cand in legs:
        counts = counts.unionAll(
            cand.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates")
            ).select(F.lit(name).alias("method"), "n_candidates")
        )
    return (
        counts.crossJoin(F.broadcast(base))
        .select(
            "method",
            "n_candidates",
            (F.col("n_probes") * (F.col("n_corpus") - 1))
            .cast("bigint")
            .alias("n_exact"),
            (
                F.col("n_candidates").cast("double")
                / (F.col("n_probes") * (F.col("n_corpus") - 1)).cast("double")
            ).alias("scan_frac"),
        )
        .orderBy("method")
    )


def _knn_label_oracle() -> str:
    # Force vectors_q registration before reading ORACLES["q_vec_knn"]
    # — see _ann_recall_oracle for the ordering contract (ADVICE r6).
    from hive_similarity_join_spark.queries import vectors_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH exact AS ({ORACLES["q_vec_knn"]}),
nb AS (
  SELECT e.probe_id, e.vec_id, emb.label
  FROM exact e JOIN embeddings emb ON emb.vec_id = e.vec_id
),
votes AS (
  SELECT probe_id, label, count(*) AS votes
  FROM nb GROUP BY 1, 2
),
pick AS (
  SELECT probe_id, label, votes,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY votes DESC, label) AS rn
  FROM votes
)
SELECT p.probe_id,
       CAST(p.label AS BIGINT) AS pred_label,
       CAST(p.votes AS BIGINT) AS votes,
       CAST(t.label AS BIGINT) AS true_label,
       CAST(CASE WHEN p.label = t.label THEN 1 ELSE 0 END AS BIGINT) AS correct
FROM pick p JOIN embeddings t ON t.vec_id = p.probe_id
WHERE p.rn = 1
"""


@query("q_vec_knn_label", oracle=_knn_label_oracle())
def q_vec_knn_label(spark, sf_dir):
    """kNN majority-vote auto-labeling — the weak-supervision /
    label-propagation step a curation pipeline runs to tag unlabeled
    data from its nearest labeled neighbors: exact top-k neighbors per
    probe (q_vec_knn's plan verbatim), neighbor labels tallied,
    prediction = (votes DESC, label ASC) winner, emitted with the held
    true label and a correct flag so the key doubles as a
    leave-one-out kNN-accuracy audit. Deterministic end to end (exact
    kNN + integer votes + total tie-break), hence hash-checked.

    Scale shape: the vote tally and pick are windows over |probes| x k
    rows — negligible next to the kNN leg; the label joins are by
    vec_id against the (broadcastable) probe set and the corpus scan
    q_vec_knn already pays. Nothing new shuffles at 100 TB."""
    from pyspark.sql import Window

    from hive_similarity_join_spark.queries.vectors_q import q_vec_knn

    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    # r17: q_vec_knn is session-checkpointed, so Catalyst no longer has
    # size stats for it — the |probes| x k top-k side is explicitly
    # broadcast (bounded tiny BY CONSTRUCTION at any scale) so the
    # corpus label side streams instead of shuffling.
    nb = (
        F.broadcast(q_vec_knn(spark, sf_dir).select("probe_id", "vec_id"))
        .join(labels, "vec_id")
    )
    # One explicit probe-keyed exchange replaces the partitioning the
    # checkpoint dropped: hash(probe_id) CLUSTERS (probe_id, label), so
    # the vote tally and the pick window both ride this single
    # exchange — the same 1-exchange shape the lazy q_vec_knn plan gave
    # this key before r17.
    nb = nb.repartition(parallelism(spark), "probe_id")
    votes = nb.groupBy("probe_id", "label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("votes"), F.asc("label"))
    pick = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    truth = e.select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("_true")
    )
    return (
        F.broadcast(pick).join(truth, "probe_id")
        .select(
            "probe_id",
            F.col("label").cast("bigint").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
            F.col("_true").cast("bigint").alias("true_label"),
            F.when(F.col("label") == F.col("_true"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("correct"),
        )
    )


def _duck_cluster_sizes_oracle(threshold: float) -> str:
    """Minhash pair graph -> recursive closure -> component sizes ->
    size histogram (the q_dedup_representatives closure with a size
    rollup instead of a survivor pick; singletons = docs with no
    component label)."""
    return f"""
WITH RECURSIVE pairs AS ({duck_minhash_oracle(threshold)}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
docs AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM (SELECT doc_id FROM documents
        WHERE len({TX.duck_bag()}) > 0) d
  LEFT JOIN comp c ON c.id = d.doc_id
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM docs GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


@query("q_dedup_cluster_sizes", oracle=_duck_cluster_sizes_oracle(MINHASH_T))
def q_dedup_cluster_sizes(spark, sf_dir):
    """Duplicate-cluster size histogram — the dedup-savings estimator a
    pipeline reads BEFORE committing to a dedup pass: for each cluster
    size, how many clusters and how many documents sit in them
    (n_docs - n_clusters summed over sizes = documents a
    keep-one-per-cluster dedup would remove). Singleton documents
    (no near-dup partner, including docs absent from the pair graph)
    count as size-1 clusters, so the histogram partitions the corpus
    exactly.

    Same deterministic MinHash-LSH pair graph and min-label closure as
    q_dedup_representatives (one CC run, node-sized label table); the
    rollup is two tiny aggregates on top. Hash-checked against the
    recursive-CTE closure of the same graph."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.bag_tokens("text").alias("_bag"))
    # r16: session-pinned graph + CC labels (see lsh_cc_labels).
    comp = lsh_cc_labels(spark, sf_dir)
    lab = (
        base.filter(F.size("_bag") > 0)
        .select("doc_id")
        .join(comp, F.col("doc_id") == F.col("id"), "left")
        .select(
            "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("component")
        )
    )
    sizes = lab.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


# ------------------------------- exact-substring (span-level) dedup

SPAN_L = 8       # span length in tokens
SPAN_CAP = 20    # "stop span" doc-frequency cap


def _substring_oracle() -> str:
    return f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
g AS (
  SELECT DISTINCT doc_id, {TX.duck_md5_prefix60('t.g')} AS h
  FROM bags, unnest({_duck_grams(SPAN_L)}) AS t(g)
  WHERE len(bag) >= {SPAN_L}
),
keep AS (
  SELECT h FROM (SELECT h, count(*) AS df FROM g GROUP BY h)
  WHERE df BETWEEN 2 AND {SPAN_CAP}
),
gk AS (SELECT g.doc_id, g.h FROM g JOIN keep USING (h))
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(count(*) AS BIGINT) AS shared_spans
FROM gk a JOIN gk b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@query("q_dedup_substring", oracle=_substring_oracle())
def q_dedup_substring(spark, sf_dir):
    """Exact-substring duplication detector (the span-level dedup of
    Lee et al., ACL 2022, "Deduplicating Training Data Makes Language
    Models Better" — published method, reconstructed surface): doc
    pairs sharing at least one EXACT {SPAN_L}-token span, with the
    count of distinct shared spans. Catches verbatim boilerplate /
    quotation reuse that set-similarity keys dilute away (a 5000-token
    doc embedding one copied paragraph has tiny Jaccard but is still a
    span-duplicate).

    Determinism + scale shape: spans compress to 60-bit md5 hashes
    (engine-portable ints, the decontamination family's key trick);
    spans occurring in more than {SPAN_CAP} documents are STOP SPANS
    and dropped before the pair join — that cap is what bounds the
    blowup at 100 TB (a hot boilerplate span in 10^6 docs would
    otherwise emit 10^12 pairs; the capped join emits at most
    C(cap,2) pairs per span, and the hot spans belong in a boilerplate
    report, not a pair list — q_boilerplate_passages is that report).
    One distinct-gram explode, one df window-count over the span hash
    (r17: the earlier groupBy-then-semi-join shape evaluated the
    gram+md5 explode TWICE — once into the partial-agg exchange, once
    into the join exchange — and paid a third exchange for the
    semi-join; the window count reuses ONE exchange on h, a
    high-cardinality key, and the self-join's two identical sides share
    it via ReusedExchange. Measured 6.0 s -> 2.6 s warm at sf0.1, same
    256-row sf0.1 output), one capped self-join."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.word_ngrams(TX.bag_tokens("text"), SPAN_L))
        ).alias("gs"),
    ).select("doc_id", TX.md5_prefix60(F.col("gs")).alias("h"))
    gk = (
        g.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= SPAN_CAP))
        .select("doc_id", "h")
    )
    a = gk.alias("a")
    b = gk.alias("b")
    return (
        a.join(b, "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_spans"))
    )


# ------------------------------------ PageRank over the dedup graph

PR_SCALE = 1_000_000_000_000  # fixed-point rank unit (exact integers)
PR_ROUNDS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio


def _pagerank_oracle() -> str:
    # Importing the module forces text_q's registrations before the
    # ORACLES read (the _ann_recall_oracle ordering contract).
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    it = []
    for t in range(PR_ROUNDS):
        it.append(f"""
r{t + 1} AS (
  SELECT e.b AS id,
         base.v + {PR_DAMP_NUM} * sum(r{t}.pr // deg.outdeg) // {PR_DAMP_DEN}
             AS pr
  FROM e
  JOIN r{t} ON r{t}.id = e.a
  JOIN deg ON deg.id = e.a
  CROSS JOIN base
  GROUP BY e.b, base.v
)""")
    its = ",".join(it)
    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
e AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM e),
n AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT a AS id, count(*) AS outdeg FROM e GROUP BY a),
base AS (
  SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM} // {PR_DAMP_DEN}) // n.n
      AS v
  FROM n
),
r0 AS (SELECT id, {PR_SCALE} // n.n AS pr FROM nodes CROSS JOIN n),
{its}
SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr FROM r{PR_ROUNDS}
"""


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, sf_dir):
    """PageRank over the near-duplicate document graph (Page et al.
    1999; Pregel-style iteration, Malewicz et al. SIGMOD 2010) —
    centrality on the trigram-Jaccard pair graph surfaces template
    hubs: documents whose text keeps recurring across the corpus rank
    highest, exactly the pages a boilerplate auditor reads first.

    Bit-exact by FIXED-POINT arithmetic: ranks are integers in units
    of 1/{PR_SCALE}, every contribution is an integer division
    (pr DIV outdeg), damping is the exact ratio
    {PR_DAMP_NUM}/{PR_DAMP_DEN} applied as multiply-then-integer-divide
    — no float accumulation anywhere (CLAUDE.md's FMA-divergence rule:
    double sums here would be association-ordered), so {PR_ROUNDS}
    unrolled rounds hash-match DuckDB's identical `//` chain exactly.
    The graph restricts to nodes with at least one edge (every such
    node has outdeg >= 1, so there is no dangling-mass term).

    Scale shape: the classic vertex-partitioned iteration — each round
    is ONE join of the edge relation with the rank relation on the
    source id plus ONE partial-aggregated shuffle on the destination
    id; the degree relation joins on the same key and the 1-row (n,
    base) relations broadcast. Rounds unroll lazily into a single
    plan ({PR_ROUNDS} shuffle pairs); a 100-round production run
    would localCheckpoint every ~8 rounds like the CC operator."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    # persist: the similarity-join pair graph feeds nodes, degrees, and
    # every iteration — without it the trigram join recomputes 5x
    # (selfcheck/bench clear the cache per key)
    e = pin(pairs.select(
        F.col("id1").alias("a"), F.col("id2").alias("b")
    ).unionAll(
        pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
    ))
    nodes = e.select(F.col("a").alias("id")).distinct()
    n = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = pin(e.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    ))
    base = n.select(
        F.expr(
            f"({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM} div {PR_DAMP_DEN})"
            " div n"
        ).alias("v")
    )
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "id", F.expr(f"{PR_SCALE} div n").alias("pr")
    )
    for _ in range(PR_ROUNDS):
        contrib = (
            e.join(ranks, e.a == ranks.id)
            .join(deg.withColumnRenamed("id", "_did"), e.a == F.col("_did"))
            .select(F.col("b"), F.expr("pr div outdeg").alias("c"))
        )
        ranks = (
            contrib.groupBy(F.col("b").alias("id"))
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(base))
            .select(
                "id",
                F.expr(f"v + {PR_DAMP_NUM} * s div {PR_DAMP_DEN}").alias("pr"),
            )
            # lazy lineage truncation per round (materializes on first
            # use): without it round t's plan embeds every earlier
            # round's join tree and Catalyst re-plans the pair-graph
            # subtree O(rounds^2) times
            .localCheckpoint(eager=False)
        )
    return ranks.select("id", "pr").select(
        F.col("id").alias("doc_id"), F.col("pr").cast("bigint").alias("pr")
    )


# ------------------------- triangle census over the dedup graph


def _triangles_oracle() -> str:
    # Same registration-order contract as _pagerank_oracle: importing
    # text_q forces q_dedup_ngram's ORACLES row to exist first.
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
e AS (SELECT id1 AS a, id2 AS b FROM pairs),
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs
  ) GROUP BY id
),
od AS (
  SELECT CASE WHEN da.degree < db.degree
                OR (da.degree = db.degree AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN da.degree < db.degree
                OR (da.degree = db.degree AND e.a < e.b)
              THEN e.b ELSE e.a END AS v
  FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM od e1
  JOIN od e2 ON e2.u = e1.v
  JOIN od e3 ON e3.u = e1.u AND e3.v = e2.v
),
tn AS (
  SELECT id, count(*) AS tri FROM (
    SELECT x AS id FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY id
)
SELECT d.id AS doc_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.tri, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree < 2 THEN CAST(0 AS DOUBLE)
            ELSE CAST(2 * coalesce(t.tri, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       END AS clustering
FROM deg d LEFT JOIN tn t ON t.id = d.id
"""


@query("q_graph_triangles", oracle=_triangles_oracle())
def q_graph_triangles(spark, sf_dir):
    """Triangle census + local clustering coefficient over the
    near-duplicate pair graph (trigram-Jaccard edges, the same graph
    q_graph_pagerank ranks). High-clustering nodes sit inside cliques
    of mutually-near-duplicate documents — template families — while
    high-degree/low-clustering nodes are hubs stitching unrelated
    groups, exactly the split a dedup auditor wants before choosing
    cluster representatives.

    Algorithm: degree-ordered orientation (Chiba-Nishizeki / the
    compact-forward enumeration, published method): every undirected
    edge points from its (degree, id)-smaller endpoint to the larger,
    making the triangle DAG u->v, v->w, u->w unique per triangle.
    The wedge join (e1 JOIN e2 ON e2.u = e1.v) fans out by the
    OUT-degree of the middle vertex, which orientation bounds by
    O(sqrt(m)) — the skew story at 100 TB: a celebrity hub with 10^6
    neighbors contributes wedges only through its (bounded) out-edges,
    not its full degree squared. Two self-joins of the oriented edge
    relation on co-partitionable keys + one explode-aggregate; the
    pair graph is persisted because nodes, degrees, and edges all
    consume it.

    Exactness: counts are integers; the clustering coefficient is ONE
    division of two exact integers (2*tri / deg*(deg-1)) — identical
    literal shape in both engines, no FMA-able chain (CLAUDE.md rule).
    """
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    deg = pin(
        pairs.select(F.col("id1").alias("id"))
        .unionAll(pairs.select(F.col("id2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    da = deg.select(F.col("id").alias("_ia"), F.col("degree").alias("_da"))
    db = deg.select(F.col("id").alias("_ib"), F.col("degree").alias("_db"))
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    od = (
        e.join(da, F.col("a") == F.col("_ia"))
        .join(db, F.col("b") == F.col("_ib"))
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    od = pin(od)
    e1 = od.select(F.col("u").alias("_u1"), F.col("v").alias("_v1"))
    e2 = od.select(F.col("u").alias("_u2"), F.col("v").alias("_v2"))
    e3 = od.select(F.col("u").alias("_u3"), F.col("v").alias("_v3"))
    tri = (
        e1.join(e2, F.col("_u2") == F.col("_v1"))
        .join(
            e3,
            (F.col("_u3") == F.col("_u1")) & (F.col("_v3") == F.col("_v2")),
            "left_semi",
        )
        .select(
            F.col("_u1").alias("x"),
            F.col("_v1").alias("y"),
            F.col("_v2").alias("z"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    return deg.join(tn, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("tri", F.lit(0)).cast("bigint").alias("triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            (F.coalesce("tri", F.lit(0)) * 2).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double")
        )
        .alias("clustering"),
    )


# -------------- label-propagation communities over the same graph

_LPA_ROUNDS = 2


def _lpa_ctes(rounds: int = _LPA_ROUNDS) -> str:
    """The synchronous-LPA CTE chain (assumes a bidirectional edge
    relation ``e(a, b)`` in scope): l0 = singleton labels, then one
    (vote, argmax) CTE pair per round ending in ``l{rounds}`` —
    shared verbatim by q_graph_communities and the CC-vs-LPA audit so
    the two keys' label semantics cannot drift."""
    parts = ["l0 AS (SELECT DISTINCT a AS id, a AS lab FROM e)"]
    for t in range(rounds):
        parts.append(f"""v{t + 1} AS (
  SELECT e.b AS id, l{t}.lab AS lab, count(*) AS c
  FROM e JOIN l{t} ON l{t}.id = e.a
  GROUP BY 1, 2
),
l{t + 1} AS (
  SELECT id, lab FROM (
    SELECT id, lab,
           row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
    FROM v{t + 1}
  ) WHERE rn = 1
)""")
    return ",\n".join(parts)


def lpa_labels(e, rounds: int = _LPA_ROUNDS):
    """(id, lab): ``rounds`` synchronized majority-vote label-
    propagation rounds from singleton labels over a bidirectional
    edge relation ``e(a, b)`` — the Spark body both q_graph_communities
    and q_dedup_cc_vs_lpa rank with (ties to the smallest label via
    struct-min; one partial-aggregated vote shuffle per round)."""
    labels = e.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("lab")
    )
    for _ in range(rounds):
        votes = (
            e.join(labels, e["a"] == labels["id"])
            .select(F.col("b").alias("vid"), "lab")
            .groupBy("vid", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = F.min(
            F.struct((-F.col("c")).alias("_nc"), F.col("lab").alias("lab"))
        )
        labels = (
            votes.groupBy("vid")
            .agg(best.alias("_b"))
            .select(F.col("vid").alias("id"), F.col("_b.lab").alias("lab"))
        )
    return labels


def _communities_oracle() -> str:
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
e AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
{_lpa_ctes()},
sz AS (SELECT lab, count(*) AS n FROM l{_LPA_ROUNDS} GROUP BY lab)
SELECT l.id AS doc_id, CAST(l.lab AS BIGINT) AS community,
       CAST(sz.n AS BIGINT) AS community_size
FROM l{_LPA_ROUNDS} l JOIN sz ON sz.lab = l.lab
"""


@query("q_graph_communities", oracle=_communities_oracle())
def q_graph_communities(spark, sf_dir):
    """COMMUNITY DETECTION by synchronous label propagation (Raghavan
    et al., Phys. Rev. E 2007) over the near-duplicate pair graph —
    the third graph analytic on the q_dedup_ngram edges after
    centrality (pagerank) and cohesion (triangles), and the SOFTER
    sibling of connected components: CC fuses everything reachable
    (one bridge edge merges two template families), LPA's majority
    vote keeps densely-knit families apart unless the bridge outvotes
    them — the distinction a dedup auditor needs on template graphs,
    where CC's giant component hides structure. {R} synchronized
    rounds from singleton labels (label = own id); each node adopts
    its neighbors' majority label, ties to the SMALLEST label — fully
    deterministic, no RNG, no asynchronous order-dependence (the
    published algorithm's nondeterminism is exactly what a bit-exact
    cross-engine contract must remove). Emits (doc_id, community,
    community_size).

    Plan shape: per round ONE partial-aggregated shuffle of
    (edge endpoint, neighbor label) votes keyed on high-cardinality
    doc_id, then a struct-min argmax (no window over an unpartitioned
    relation); the bidirectional edge relation is pinned once and
    re-joined per round — the pagerank key's Pregel posture with a
    vote aggregate instead of a rank sum. Rounds are FIXED at {R}
    (sync LPA need not converge; a production run exposes the round
    count as the knob), so the oracle mirrors with one generated
    vote/label CTE pair per round.""".format(R=_LPA_ROUNDS)
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    e = pin(
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionAll(
            pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
        )
    )
    labels = lpa_labels(e, _LPA_ROUNDS)
    sz = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("n"))
    return labels.join(sz, "lab").select(
        F.col("id").alias("doc_id"),
        F.col("lab").cast("bigint").alias("community"),
        F.col("n").cast("bigint").alias("community_size"),
    )


def ngram_cc_labels(spark, sf_dir):
    """Session-pinned min-label CC labeling (id, comp) of the trigram
    pair graph — r16 optimization: q_dedup_cc_vs_lpa and
    q_graph_bridges each re-ran the full checkpointed CC iteration
    over the SAME session-pinned graph (~4-6 s apiece at sf0.1);
    whichever runs first in a session now materializes the node-sized
    label table once. Degrade after a clearCache is recompute, never a
    different answer (CC is deterministic on a deterministic graph)."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    return session_ckpt(
        "ngram_cc_labels",
        scope(spark, sf_dir),
        lambda: connected_components(
            ngram_pair_graph(spark, sf_dir).select("id1", "id2")
        ),
    )


def _cc_vs_lpa_oracle() -> str:
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH RECURSIVE pairs AS ({ORACLES["q_dedup_ngram"]}),
e AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
{_lpa_ctes()},
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT g.a, reach.r FROM edges g JOIN reach ON reach.id = g.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
per AS (
  SELECT c.component,
         count(DISTINCT l.lab) AS n_comm,
         count(*) AS n_docs
  FROM comp c JOIN l{_LPA_ROUNDS} l ON l.id = c.id
  GROUP BY c.component
)
SELECT CAST(n_comm AS BIGINT) AS n_communities_within,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(sum(n_docs) AS BIGINT) AS n_docs
FROM per GROUP BY n_comm
"""


@query("q_dedup_cc_vs_lpa", oracle=_cc_vs_lpa_oracle())
def q_dedup_cc_vs_lpa(spark, sf_dir):
    """The CC-vs-LPA RESOLUTION AUDIT — measures the claim
    q_graph_communities' docstring makes: on a template-dense pair
    graph, connected components fuse everything one bridge edge can
    reach, while majority-vote label propagation keeps densely-knit
    families apart. Per CC component of the ngram pair graph, count
    the DISTINCT LPA communities inside it, then histogram:
    (n_communities_within, n_components, n_docs). Row
    n_communities_within = 1 is where the two clusterings agree; the
    tail rows are the giant components LPA splits — the number that
    tells a dedup auditor whether component-level survivor picking
    (q_dedup_representatives) is collapsing genuinely distinct
    template families, and how much finer the LPA partition runs.

    Both labelings share their seams: the SAME pinned pair relation
    feeds connected_components (the checkpointed min-label iteration
    every dedup key uses) and lpa_labels (q_graph_communities'
    exact body); the oracle composes the shared _lpa_ctes with the
    recursive-CTE closure every CC oracle uses. LPA is a REFINEMENT
    of CC by construction (labels only propagate along edges), so
    every LPA community lies inside one component and the per-
    component count is well-defined.

    Scale shape: the two label tables are node-sized; the audit adds
    one join and two aggregates on top of computations whose cost the
    individual keys already price."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    e = pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b")).unionAll(
        pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
    )
    labels = lpa_labels(e, _LPA_ROUNDS)
    comp = ngram_cc_labels(spark, sf_dir).select(
        F.col("id").alias("cid"), "comp"
    )
    per = (
        comp.join(labels, comp["cid"] == labels["id"])
        .groupBy("comp")
        .agg(
            F.countDistinct("lab").alias("n_comm"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return per.groupBy("n_comm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
    ).select(
        F.col("n_comm").cast("bigint").alias("n_communities_within"),
        "n_components",
        "n_docs",
    )


# ---------------- k-core / coreness of the near-dup pair graph

_KCORE_ROUNDS = 6


def _kcore_ctes(rounds: int = _KCORE_ROUNDS) -> str:
    """DuckDB CTE chain for the iterated-h-index coreness computation:
    c0 = degree, then per round each node's value becomes the h-index
    of its neighbors' values (the r-th largest/ min(rank, value) max
    identity) — one (neighbor-value, rank, h) CTE triple per round
    ending in ``c{rounds}``, mirroring q_graph_kcore's Spark body
    term for term."""
    parts = [
        "c0 AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS val "
        "FROM e GROUP BY a)"
    ]
    for t in range(rounds):
        parts.append(f"""nv{t + 1} AS (
  SELECT e.b AS id, c{t}.val AS v
  FROM e JOIN c{t} ON c{t}.id = e.a
),
r{t + 1} AS (
  SELECT id, v,
         CAST(row_number() OVER (PARTITION BY id ORDER BY v DESC)
              AS BIGINT) AS rk
  FROM nv{t + 1}
),
c{t + 1} AS (SELECT id, max(least(rk, v)) AS val FROM r{t + 1} GROUP BY id)""")
    return ",\n".join(parts)


def _kcore_oracle() -> str:
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
e AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM pairs
),
{_kcore_ctes()}
SELECT c0.id AS doc_id, c0.val AS degree,
       CAST(c{_KCORE_ROUNDS}.val AS BIGINT) AS coreness
FROM c0 JOIN c{_KCORE_ROUNDS} ON c{_KCORE_ROUNDS}.id = c0.id
"""


@query("q_graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark, sf_dir):
    """K-CORE DECOMPOSITION of the near-duplicate pair graph by
    iterated h-index (Lu et al., Nature Sci. Rep. 2016: start each
    node at its degree, then repeatedly replace a node's value with
    the H-INDEX of its neighbors' values; the fixpoint IS the coreness
    of the classic peel) — the density stratification a dedup auditor
    reads next after degree distribution: coreness >= k marks the
    k-core, the maximal subgraph where every member has >= k
    neighbors INSIDE it. High-core docs are dense template families
    (safe to collapse aggressively); core-1 fringes are chains/leaves
    where one false-positive edge fuses otherwise-unrelated docs —
    exactly where q_graph_bridges looks next. Emits
    (doc_id, degree, coreness).

    Bounded-iteration posture (the LPA/pagerank contract): rounds are
    FIXED at {R} — the iteration decreases monotonically toward the
    true coreness and {R} rounds are exact on graphs whose h-index
    cascade settles that fast (tests pin exactness against a
    peel-based reference on the sf0.001/sf0.01 graphs); a production
    run exposes the round count as the knob. Determinism: values are
    degrees/h-indices (integers); the per-round rank window orders by
    value DESC within a doc_id partition, and max(min(rank, v)) is
    invariant under tie order (equal v's swap rank among themselves).

    Plan shape: per round ONE node-label join against the pinned
    bidirectional edge relation + one high-cardinality-partition
    window + one partial-aggregated max — no driver collects, no
    unbounded low-cardinality windows; lineage grows linearly over
    {R} rounds (no checkpoint needed, unlike CC's self-referencing
    exponential chain).""".format(R=_KCORE_ROUNDS)
    from pyspark.sql import Window

    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    e = pin(
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionAll(
            pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
        )
    )
    deg = (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .select(F.col("a").alias("doc_id"), "degree")
    )
    c = deg.select(F.col("doc_id").alias("id"), F.col("degree").alias("val"))
    for _ in range(_KCORE_ROUNDS):
        nv = e.join(c, e["a"] == c["id"]).select(
            F.col("b").alias("nid"), F.col("val").alias("v")
        )
        w = Window.partitionBy("nid").orderBy(F.desc("v"))
        c = (
            nv.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .groupBy("nid")
            .agg(F.max(F.least("rk", "v")).alias("val"))
            .select(F.col("nid").alias("id"), "val")
        )
    return deg.join(c, deg["doc_id"] == c["id"]).select(
        "doc_id", "degree", F.col("val").cast("bigint").alias("coreness")
    )


# ---------------- bridge-edge audit of the near-dup pair graph


def _bridges_oracle() -> str:
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH RECURSIVE allpairs AS ({ORACLES["q_dedup_ngram"]}),
p AS (SELECT id1, id2 FROM allpairs),
e AS (
  SELECT id1 AS a, id2 AS b FROM p
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM p
),
t2 AS (
  SELECT DISTINCT q.id1, q.id2
  FROM p q
  JOIN e x ON x.a = q.id1
  JOIN e y ON y.a = x.b AND y.b = q.id2
),
c1 AS (SELECT id1, id2 FROM p ANTI JOIN t2 USING (id1, id2)),
t3 AS (
  SELECT DISTINCT c.id1, c.id2
  FROM c1 c
  JOIN e x ON x.a = c.id1 AND x.b <> c.id2
  JOIN e y ON y.a = x.b AND y.b <> c.id1
  JOIN e z ON z.a = y.b AND z.b = c.id2
),
cand AS (SELECT id1, id2 FROM c1 ANTI JOIN t3 USING (id1, id2)),
edges AS (
  SELECT id1 AS a, id2 AS b FROM p
  UNION
  SELECT id2 AS a, id1 AS b FROM p
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT g.a, reach.r FROM edges g JOIN reach ON reach.id = g.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
sz AS (SELECT component, count(*) AS n FROM comp GROUP BY component),
pruned AS (SELECT id1, id2 FROM p ANTI JOIN cand USING (id1, id2)),
edges2 AS (
  SELECT id1 AS a, id2 AS b FROM pruned
  UNION
  SELECT id2 AS a, id1 AS b FROM pruned
),
reach2(id, r) AS (
  SELECT DISTINCT a, a FROM edges2
  UNION
  SELECT g.a, reach2.r FROM edges2 g JOIN reach2 ON reach2.id = g.b
),
comp2 AS (SELECT id, min(r) AS component FROM reach2 GROUP BY id),
lab AS (
  SELECT c.id1, c.id2, k.component AS comp,
         coalesce(q1.component, c.id1) AS c2a,
         coalesce(q2.component, c.id2) AS c2b
  FROM cand c
  JOIN comp k ON k.id = c.id1
  LEFT JOIN comp2 q1 ON q1.id = c.id1
  LEFT JOIN comp2 q2 ON q2.id = c.id2
),
np AS (
  SELECT least(c2a, c2b) AS lo, greatest(c2a, c2b) AS hi,
         count(*) AS n
  FROM lab GROUP BY 1, 2
)
SELECT l.id1, l.id2, CAST(l.comp AS BIGINT) AS component,
       CAST(sz.n AS BIGINT) AS comp_size,
       (l.c2a <> l.c2b) AS split_confirmed,
       CAST(np.n AS BIGINT) AS n_parallel
FROM lab l
JOIN sz ON sz.component = l.comp
JOIN np ON np.lo = least(l.c2a, l.c2b) AND np.hi = greatest(l.c2a, l.c2b)
"""


@query("q_graph_bridges", oracle=_bridges_oracle())
def q_graph_bridges(spark, sf_dir):
    """BRIDGE-EDGE AUDIT of the near-duplicate pair graph — THE
    explain-why-these-two-templates-fused artifact: the edges whose
    removal would split a CC cluster, i.e. the single false-positive
    candidates gluing otherwise-unrelated template families into one
    component (the giant-component risk q_dedup_cc_vs_lpa measures in
    aggregate, here localized to named edges).

    Method (bounded cycle-certificate + simultaneous-removal check,
    both distributed-exact): (1) an edge with a 2-walk (common
    neighbor) or 3-walk alternate route between its endpoints lies on
    a short cycle and CANNOT be a bridge — certificate search is
    candidate-driven joins against the edge relation, never all-
    pairs; (2) the surviving candidates are removed ALL AT ONCE and
    connected components re-run on the remainder: a candidate whose
    endpoints land in the SAME pruned component has a (long) alternate
    route and is refuted; one whose endpoints SPLIT is confirmed-or-
    parallel, disambiguated by n_parallel = how many candidates
    connect the same pruned-component pair (n_parallel = 1 and no
    candidate route elsewhere => true bridge; tests pin exact
    precision/recall against a remove-and-recheck union-find reference
    on the test graphs). Emits per candidate: (id1, id2, component,
    comp_size, split_confirmed, n_parallel).

    Scale shape: certificates are two candidate-bounded join chains
    (the t3 chain runs only on edges that already lack a common
    neighbor — on template graphs that is a tiny fraction); the two
    CC runs use the checkpointed min-label operator every dedup key
    uses; isolated-after-pruning nodes self-label (coalesce to own
    id — safe, labels are component-min ids). No collects, no windows,
    no cartesian products."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    e = pin(
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionAll(
            pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
        )
    )
    t2 = (
        pairs.join(e.alias("x"), F.col("id1") == F.col("x.a"))
        .join(
            e.alias("y"),
            (F.col("x.b") == F.col("y.a")) & (F.col("id2") == F.col("y.b")),
        )
        .select("id1", "id2")
        .distinct()
    )
    c1 = pairs.join(t2, ["id1", "id2"], "left_anti")
    t3 = (
        c1.join(
            e.alias("x"),
            (F.col("id1") == F.col("x.a")) & (F.col("x.b") != F.col("id2")),
        )
        .join(
            e.alias("y"),
            (F.col("x.b") == F.col("y.a")) & (F.col("y.b") != F.col("id1")),
        )
        .join(
            e.alias("z"),
            (F.col("y.b") == F.col("z.a")) & (F.col("id2") == F.col("z.b")),
        )
        .select("id1", "id2")
        .distinct()
    )
    cand = pin(c1.join(t3, ["id1", "id2"], "left_anti"))
    comp = ngram_cc_labels(spark, sf_dir).select(
        F.col("id").alias("kid"), F.col("comp").alias("component")
    )
    sz = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("comp_size")
    )
    pruned = pairs.join(cand, ["id1", "id2"], "left_anti")
    comp2 = connected_components(pruned).select(
        F.col("id").alias("pid"), F.col("comp").alias("pcomp")
    )
    lab = (
        cand.join(comp, cand["id1"] == comp["kid"])
        .join(
            comp2.alias("qa"),
            cand["id1"] == F.col("qa.pid"),
            "left",
        )
        .join(
            comp2.alias("qb"),
            cand["id2"] == F.col("qb.pid"),
            "left",
        )
        .select(
            "id1",
            "id2",
            "component",
            F.coalesce(F.col("qa.pcomp"), F.col("id1")).alias("c2a"),
            F.coalesce(F.col("qb.pcomp"), F.col("id2")).alias("c2b"),
        )
    )
    np_ = lab.groupBy(
        F.least("c2a", "c2b").alias("lo"), F.greatest("c2a", "c2b").alias("hi")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_parallel"))
    return (
        lab.join(sz, "component")
        .join(
            np_,
            (F.least("c2a", "c2b") == np_["lo"])
            & (F.greatest("c2a", "c2b") == np_["hi"]),
        )
        .select(
            "id1",
            "id2",
            F.col("component").cast("bigint").alias("component"),
            "comp_size",
            (F.col("c2a") != F.col("c2b")).alias("split_confirmed"),
            "n_parallel",
        )
    )


# ---------------- degree distribution of the near-dup pair graph


def _degree_dist_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT id1 AS id FROM pairs UNION ALL SELECT id2 FROM pairs
  ) GROUP BY id
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT degree,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) AS DOUBLE) / CAST((SELECT n_nodes FROM t) AS DOUBLE)
         AS frac
FROM deg GROUP BY degree
"""


@query("q_graph_degree_dist", oracle=_degree_dist_oracle())
def q_graph_degree_dist(spark, sf_dir):
    """Degree distribution of the near-duplicate pair graph — the
    graph-health profile read BEFORE running the iterative operators
    on it: a heavy right tail means hub documents (boilerplate
    templates) that will blow up connected components and pair joins,
    and is exactly what the SPAN_CAP / salting guards exist for.
    Emits (degree, node count, fraction).

    Plan shape: pairs once (the q_dedup_ngram candidate join), one
    partial-aggregated shuffle for degrees, one for the histogram —
    output cardinality is |distinct degrees|, so everything after the
    pair join is negligible. The node total is a 1-row broadcast (the
    q_search_bm25 scalar-stats pattern). Exactness: counts are
    bigints; frac is one division."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    # session-pinned (r16): the union's two legs each scan the pair
    # subtree; the shared pin serves both AND every other trigram-graph
    # consumer in the session
    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    deg = (
        pairs.select(F.col("id1").alias("id"))
        .unionAll(pairs.select(F.col("id2").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    t = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(t))
        .select(
            "degree",
            "n",
            (F.col("n").cast("double") / F.col("n_nodes").cast("double")).alias(
                "frac"
            ),
        )
    )


# ---------------- IVF quantizer cell-balance audit


def _ivf_balance_oracle() -> str:
    """Both quantizers' assignments from the shared kmeans fragments:
    'init' reuses the fragments' own round-0 assignment CTE (a0 IS the
    assignment to the c0 pivots), 'kmeans' assigns against the final
    refined centroids."""
    from hive_similarity_join_spark.queries.vectors_q import (
        kmeans_sql_fragments,
    )

    fr = kmeans_sql_fragments()
    cf, d2 = fr["final"], fr["d2"]
    return f"""
WITH {fr['with_body']},
afin AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, cf.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {d2('v.xi', 'cf.c')}, cf.cell
           ) AS rn
    FROM v CROSS JOIN {cf} cf
  ) WHERE rn = 1
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
lists AS (
  SELECT 'init' AS quantizer, cell FROM a0
  UNION ALL
  SELECT 'kmeans' AS quantizer, cell FROM afin
)
SELECT quantizer, CAST(cell AS BIGINT) AS cell,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(*) AS DOUBLE) / CAST((SELECT n FROM t) AS DOUBLE) AS share
FROM lists GROUP BY quantizer, cell
"""


@query("q_vec_ivf_balance", oracle=_ivf_balance_oracle())
def q_vec_ivf_balance(spark, sf_dir):
    """Inverted-list balance audit for the two SQL-mirrorable IVF
    quantizers: per-cell corpus counts and shares for the raw init
    pivots ('init', q_vec_knn_ivf's cells) vs the Lloyd-refined
    centroids ('kmeans', q_vec_knn_ivf_kmeans's cells). Recall
    (q_vec_ann_recall) is one half of ANN quality; list balance is the
    other — at 100 TB the LARGEST cell bounds per-probe tail latency
    and the whole point of Lloyd refinement is flattening it. This key
    turns that claim into a measured, hash-checked table.

    Plan shape: one fixedpoint projection of the corpus feeds both
    assignments (each a codegen'd argmin against a one-row broadcast
    centroid relation — no join, no shuffle); the union aggregates to
    2 x n_cells rows in one partial-agg shuffle; the corpus total is a
    1-row broadcast."""
    from hive_similarity_join_spark.operators.ivf import (
        _centroid_relation,
        _nearest_centroid,
        fixedpoint_vectors,
        lloyd_kmeans_centroids,
    )
    from hive_similarity_join_spark.queries.vectors_q import KM_K, KM_ROUNDS

    e = load_table(spark, sf_dir, "embeddings")
    v = pin(fixedpoint_vectors(e))
    init = lloyd_kmeans_centroids(v, KM_K, rounds=0)
    refined = lloyd_kmeans_centroids(v, KM_K, rounds=KM_ROUNDS)
    nearest = _nearest_centroid(F.col("xi"))

    def _assigned(cents, label):
        return v.crossJoin(
            F.broadcast(_centroid_relation(spark, cents))
        ).select(
            F.lit(label).alias("quantizer"), nearest["cell"].alias("cell")
        )

    lists = _assigned(init, "init").unionAll(_assigned(refined, "kmeans"))
    t = v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        lists.groupBy("quantizer", "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .crossJoin(F.broadcast(t))
        .select(
            "quantizer",
            F.col("cell").cast("bigint").alias("cell"),
            "n_vecs",
            (F.col("n_vecs").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
    )


# ---------------- recall@k vs nprobe curve (the IVF tuning dial)

CURVE_NPROBES = (1, 2, 4, 8)


def _recall_curve_oracle() -> str:
    from hive_similarity_join_spark.queries import vectors_q
    from hive_similarity_join_spark.queries.vectors_q import (
        kmeans_sql_fragments,
    )
    from hive_similarity_join_spark.registry import ORACLES

    fr = kmeans_sql_fragments()
    cf, d2 = fr["final"], fr["d2"]
    k = vectors_q.KNN_K
    nps = ", ".join(str(n) for n in CURVE_NPROBES)
    return f"""
WITH {fr['with_body']},
asg AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, cf.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {d2('v.xi', 'cf.c')}, cf.cell
           ) AS rn
    FROM v CROSS JOIN {cf} cf
  ) WHERE rn = 1
),
routed AS (
  SELECT probe_id, cell, rn FROM (
    SELECT v.vec_id AS probe_id, cf.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {d2('v.xi', 'cf.c')}, cf.cell
           ) AS rn
    FROM v CROSS JOIN {cf} cf WHERE v.vec_id < {N_PROBES}
  )
),
nps AS (SELECT unnest([{nps}]) AS np),
scored AS (
  SELECT n.np, r.probe_id, a.vec_id,
         {duck_cosine('p.embedding', 'e.embedding')} AS sim
  FROM nps n
  JOIN routed r ON r.rn <= n.np
  JOIN asg a ON a.cell = r.cell AND a.vec_id <> r.probe_id
  JOIN embeddings p ON p.vec_id = r.probe_id
  JOIN embeddings e ON e.vec_id = a.vec_id
),
approx AS (
  SELECT np, probe_id, vec_id FROM (
    SELECT np, probe_id, vec_id,
           row_number() OVER (
               PARTITION BY np, probe_id ORDER BY sim DESC, vec_id
           ) AS rank
    FROM scored
  ) WHERE rank <= {k}
),
exact AS ({ORACLES["q_vec_knn"]}),
probes AS (SELECT CAST(count(DISTINCT probe_id) AS BIGINT) AS np_total
           FROM exact),
hits AS (
  SELECT a.np, CAST(count(*) AS BIGINT) AS hits
  FROM approx a JOIN exact e
    ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id
  GROUP BY a.np
)
SELECT CAST(n.np AS BIGINT) AS nprobe,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE)
         / CAST((SELECT np_total FROM probes) * {k} AS DOUBLE) AS recall
FROM nps n LEFT JOIN hits h ON h.np = n.np
"""


@query("q_vec_recall_curve", oracle=_recall_curve_oracle())
def q_vec_recall_curve(spark, sf_dir):
    """Recall@k as a function of nprobe for the kmeans-quantized IVF —
    the tuning curve an ANN deployment reads to pick its
    latency/recall operating point (nprobe is THE dial: cost grows
    linearly in it, recall saturates). One training + one routing pass
    serve every nprobe: cells are ranked once per probe and each curve
    point just filters rank <= nprobe — at 100 TB you measure the
    whole curve for the price of the largest point, not the sum.

    Exactness: training/routing are the exact fixed-point kmeans
    CTEs (shared via kmeans_sql_fragments, so the curve cannot drift
    from the search keys); rescoring is exact cosine; hits are integer
    intersections against the already-verified q_vec_knn oracle;
    recall is one division by the exact probes x k denominator."""
    from hive_similarity_join_spark.operators.ivf import (
        _centroid_relation,
        fixedpoint_vectors,
        lloyd_kmeans_centroids,
    )
    from hive_similarity_join_spark.queries.vectors_q import (
        KM_K,
        KM_ROUNDS,
        KNN_K,
        q_vec_knn,
    )
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    v = pin(fixedpoint_vectors(e))
    cents = lloyd_kmeans_centroids(v, KM_K, KM_ROUNDS)
    cent_rel = _centroid_relation(spark, cents)

    def d2(c):
        return F.aggregate(
            F.zip_with(F.col("xi"), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    dists_sorted = F.array_sort(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(d2(s["c"]).alias("d"), s["cell"].alias("cell")),
        )
    )
    from hive_similarity_join_spark.operators.ivf import _nearest_centroid

    nearest = _nearest_centroid(F.col("xi"))
    asg = v.crossJoin(F.broadcast(cent_rel)).select(
        "vec_id", nearest["cell"].alias("cell")
    )
    routed = (
        v.filter(F.col("vec_id") < N_PROBES)
        .crossJoin(F.broadcast(cent_rel))
        .select(
            F.col("vec_id").alias("probe_id"),
            F.posexplode(dists_sorted).alias("_pos", "_tc"),
        )
        .select(
            "probe_id",
            F.col("_tc.cell").alias("cell"),
            (F.col("_pos") + 1).alias("rn"),
        )
    )
    nps = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in CURVE_NPROBES])).alias("np")
    )
    emb = e.select("vec_id", F.col("embedding").alias("_emb"))
    p = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_pemb")
    )
    from hive_similarity_join_spark.functions import vectors as V

    cand = (
        F.broadcast(routed.crossJoin(F.broadcast(nps)).filter(F.col("rn") <= F.col("np")))
        .join(asg, "cell")
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("np", "probe_id", "vec_id")
    )
    scored = (
        cand.join(F.broadcast(p), "probe_id")
        .join(emb, "vec_id")
        .select(
            "np",
            "probe_id",
            "vec_id",
            V.cosine(V.as_double("_pemb"), V.as_double("_emb")).alias("sim"),
        )
    )
    w = Window.partitionBy("np", "probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("np", "probe_id", "vec_id")
    )
    exact = q_vec_knn(spark, sf_dir).select("probe_id", "vec_id")
    probes_total = exact.agg(
        F.countDistinct("probe_id").cast("bigint").alias("np_total")
    )
    hits = approx.join(exact, ["probe_id", "vec_id"]).groupBy("np").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    n_hits = F.coalesce(F.col("hits"), F.lit(0)).cast("bigint")
    return (
        nps.join(hits, "np", "left")
        .crossJoin(F.broadcast(probes_total))
        .select(
            F.col("np").cast("bigint").alias("nprobe"),
            n_hits.alias("hits"),
            (
                n_hits.cast("double")
                / (F.col("np_total") * KNN_K).cast("double")
            ).alias("recall"),
        )
    )


# ---------------- cross-source duplicate-flow matrix


def _dup_matrix_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["q_dedup_ngram"]}),
lab AS (
  SELECT p.id1, p.id2, d1.source AS s1, d2.source AS s2
  FROM pairs p
  JOIN documents d1 ON d1.doc_id = p.id1
  JOIN documents d2 ON d2.doc_id = p.id2
),
m AS (
  SELECT CASE WHEN s1 <= s2 THEN s1 ELSE s2 END AS src_a,
         CASE WHEN s1 <= s2 THEN s2 ELSE s1 END AS src_b
  FROM lab
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM m)
SELECT src_a, src_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN src_a = src_b THEN 1 ELSE 0 END AS BIGINT)
         AS within_source,
       CAST(count(*) AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
         AS frac
FROM m GROUP BY src_a, src_b
"""


@query("q_docs_dup_matrix", oracle=_dup_matrix_oracle())
def q_docs_dup_matrix(spark, sf_dir):
    """Cross-source duplicate-flow matrix: near-duplicate pairs from
    the trigram candidate join, labeled with BOTH endpoints' sources
    and aggregated to a symmetric (source_a, source_b) grid — the
    where-is-my-duplication-coming-from view that decides whether
    dedup should run within sources (mirrors/reposts) or across them
    (syndication), and the first thing to read before trusting a
    per-source mixture weight.

    Plan shape: the pair relation joins the (doc_id, source) label
    projection TWICE — both joins are on the documents KEY SET (two
    columns, broadcastable far beyond this SF); the unordered pair is
    canonicalized (lexicographic source order) BEFORE aggregation so
    the matrix is symmetric-upper by construction. Output cardinality
    is |sources|^2 at most; the pair-count total is a 1-row broadcast."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    lab = (
        pairs.join(
            F.broadcast(d.select(F.col("doc_id").alias("id1"), F.col("source").alias("s1"))),
            "id1",
        )
        .join(
            F.broadcast(d.select(F.col("doc_id").alias("id2"), F.col("source").alias("s2"))),
            "id2",
        )
    )
    m = lab.select(
        F.when(F.col("s1") <= F.col("s2"), F.col("s1"))
        .otherwise(F.col("s2"))
        .alias("src_a"),
        F.when(F.col("s1") <= F.col("s2"), F.col("s2"))
        .otherwise(F.col("s1"))
        .alias("src_b"),
    )
    t = m.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        m.groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(t))
        .select(
            "src_a",
            "src_b",
            "n_pairs",
            F.when(F.col("src_a") == F.col("src_b"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("within_source"),
            (F.col("n_pairs").cast("double") / F.col("total").cast("double")).alias(
                "frac"
            ),
        )
    )


# ---------------- LSH dedup recall/precision audit


def exact_pair_graph(spark, sf_dir):
    """The flagship exact t=0.8 Jaccard pair relation (id1, id2),
    session-checkpointed (operators/cache.py session_ckpt) so the five
    recall audits that all use it as their truth denominator
    (q_dedup_lsh_recall, q_dedup_lsh_band_sweep, the two
    q_dedup_simhash_*_recall rows, q_dedup_sorted_neighborhood)
    materialize it ONCE per (session, sf_dir) instead of each
    re-running the full exact self-join — VERDICT r11 item 4 (~100s of
    the 679s suite was five recomputes of the same pair graph). The
    relation is two id columns, ~965k rows at sf0.1 — a few MB, safe
    to keep for the session; a different sf_dir or a new session
    rebuilds it (cache.scope).

    Audit semantics are unchanged: this is still the already-
    hash-verified flagship key composed verbatim (same builder, same
    oracle CTE), so the audits cannot drift from what they audit, and
    a lost checkpoint (new session) degrades to recompute, never to a
    different answer."""
    from hive_similarity_join_spark.queries.similarity_q import (
        jaccard_self_pair_graph,
    )

    # The session pin itself lives with the flagship builder
    # (similarity_q.jaccard_self_pair_graph, r16) and carries the full
    # (id1, id2, sim) output so the flagship key shares it too; this
    # helper keeps the audit family's 2-column contract.
    return jaccard_self_pair_graph(spark, sf_dir).select("id1", "id2")


def _lsh_recall_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
lsh AS ({ORACLES["q_dedup_minhash_lsh"]}),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits
  FROM lsh l JOIN exact e ON e.id1 = l.id1 AND e.id2 = l.id2
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh)
SELECT ne.n_exact, nl.n_lsh, h.n_hits,
       CAST(h.n_hits AS DOUBLE) / CAST(nl.n_lsh AS DOUBLE) AS precision,
       CAST(h.n_hits AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
FROM ne, nl, hits h
"""


@query("q_dedup_lsh_recall", oracle=_lsh_recall_oracle())
def q_dedup_lsh_recall(spark, sf_dir):
    """Pair recall/precision of MinHash-LSH dedup against the EXACT
    prefix-filter similarity self-join at the same threshold — the
    q_vec_ann_recall of the dedup family: banded LSH trades a known
    candidate-miss rate (pairs whose signatures collide in no band)
    for never running all-pairs, and this key turns that band/row
    S-curve from a formula into a measured number on THIS corpus
    (sf0.01: 30,328 exact pairs, ~0.79 recall; precision 1.0 by
    construction since LSH candidates are verified at exact Jaccard —
    measured here rather than asserted).

    Both pair generators are the already-hash-verified keys, composed
    verbatim (their oracles as CTEs, their builders as DataFrames),
    so the audit cannot drift from what it audits. The intersection
    joins two id-pair relations — trivial next to generating them.
    This is the dial-tuning dashboard for (bands, rows): re-run per
    corpus before committing a dedup config at 100 TB."""
    exact = exact_pair_graph(spark, sf_dir)
    lsh = lsh_pair_graph(spark, sf_dir).select("id1", "id2")
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh"))
    hits = (
        lsh.join(exact, ["id1", "id2"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        ne.crossJoin(nl)
        .crossJoin(hits)
        .select(
            "n_exact",
            "n_lsh",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_lsh").cast("double")).alias(
                "precision"
            ),
            (
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


# ------- sampled-denominator LSH recall audit (the 100 TB posture)

# Deterministic md5-bucket doc sample: first hex char of md5(doc_id)
# in 0-3 -> 4/16 = 25% of docs, ~6.25% of pairs. Both engines compute
# md5 of the decimal doc_id string identically (the q_agg_quantile_
# sketch / CDC-coin device), so the sample is bit-identical.
_SAMPLE_HEX = ("0", "1", "2", "3")
_SAMPLED_SRC = (
    "(SELECT * FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)),"
    f" 1, 1) IN {_SAMPLE_HEX!r})"
)


def _sampled_docs_pred():
    return F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    ).isin(*_SAMPLE_HEX)


def _lsh_recall_sampled_oracle() -> str:
    from hive_similarity_join_spark.queries.similarity_q import (
        _jaccard_oracle,
    )

    exact_sql = _jaccard_oracle(
        MINHASH_T, left_src=_SAMPLED_SRC, right_src=_SAMPLED_SRC
    )
    lsh_sql = duck_minhash_oracle(MINHASH_T, src=_SAMPLED_SRC)
    return f"""
WITH exact AS ({exact_sql}),
lsh AS ({lsh_sql}),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
       FROM {_SAMPLED_SRC} s),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_sampled FROM exact),
nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh_sampled FROM lsh),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits_sampled
  FROM lsh l JOIN exact e ON e.id1 = l.id1 AND e.id2 = l.id2
)
SELECT nd.n_docs, ns.n_docs_sampled,
       CAST(ns.n_docs_sampled AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)
           AS sample_frac,
       ne.n_exact_sampled, nl.n_lsh_sampled, h.n_hits_sampled,
       CAST(h.n_hits_sampled AS DOUBLE) / CAST(nl.n_lsh_sampled AS DOUBLE)
           AS precision_sampled,
       CAST(h.n_hits_sampled AS DOUBLE) / CAST(ne.n_exact_sampled AS DOUBLE)
           AS recall_sampled
FROM nd, ns, ne, nl, hits h
"""


@query("q_dedup_lsh_recall_sampled", oracle=_lsh_recall_sampled_oracle())
def q_dedup_lsh_recall_sampled(spark, sf_dir):
    """The SAMPLED-denominator recall audit — the 100 TB posture of
    q_dedup_lsh_recall (VERDICT r11 item 4): at full scale the exact
    t=0.8 pair graph IS a cluster-day dedup job, so re-running it just
    to measure recall is not a runnable audit. Instead, restrict the
    corpus to a deterministic md5-bucket sample of docs (first hex
    char of md5(doc_id) in 0-3 -> 25% of docs, so the exact generator
    runs on ~1/16 of the pair work) and measure LSH recall/precision
    INSIDE the sample: both generators — the exact kernel and the
    banded MinHash join, the same operators as the full keys — run on
    the sampled subcorpus, and the recall is a ratio estimator of the
    full number (a true pair survives sampling iff both endpoints do;
    MinHash collision probability is a property of the pair's Jaccard,
    not of which other docs are present — the per-doc signatures DO
    re-rank tokens against the sample vocabulary, which re-randomizes
    the permutations but not the collision statistics).

    Sampling error, measured at sf0.01 against the full audit
    (q_dedup_lsh_recall, recall 0.7901): sampled recall 0.7867 on 140
    of 500 docs — |error| 0.003 for ~13x less exact-join work
    ((140/500)^2 of the pair volume); tests/test_sampled_audit.py pins
    sampled-vs-full agreement at smoke scale each run. Precision
    stays 1.0 by construction (LSH candidates are verified at exact
    Jaccard).

    Scale shape: identical to the full keys (prefix-filtered kernel,
    banded equi-join) on a 4x smaller doc relation; the sample
    predicate is one md5 per row, pushed into both scans."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = docs.filter(_sampled_docs_pred())
    # Each generator feeds two consumers (its count + the hits join);
    # pin (registry-scoped) so neither runs twice within the audit.
    exact = pin(
        similarity_join(
            sampled, "doc_id", "text", threshold=MINHASH_T, measure="jaccard"
        ).select("id1", "id2")
    )
    lsh = pin(
        minhash_lsh_pairs(
            sampled, "doc_id", "text", threshold=MINHASH_T
        ).select("id1", "id2")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ns = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_sampled")
    )
    ne = exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_sampled")
    )
    nl = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh_sampled"))
    hits = lsh.join(exact, ["id1", "id2"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits_sampled")
    )
    return (
        nd.crossJoin(ns)
        .crossJoin(ne)
        .crossJoin(nl)
        .crossJoin(hits)
        .select(
            "n_docs",
            "n_docs_sampled",
            (
                F.col("n_docs_sampled").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("sample_frac"),
            "n_exact_sampled",
            "n_lsh_sampled",
            "n_hits_sampled",
            (
                F.col("n_hits_sampled").cast("double")
                / F.col("n_lsh_sampled").cast("double")
            ).alias("precision_sampled"),
            (
                F.col("n_hits_sampled").cast("double")
                / F.col("n_exact_sampled").cast("double")
            ).alias("recall_sampled"),
        )
    )


# ------------------- MinHash banding sweep (the S-curve, measured)

_SWEEP_LAYOUTS = ((2, 8), (4, 4), (8, 2))  # (n_bands, rows_per_band)


def _lsh_band_sweep_oracle() -> str:
    from hive_similarity_join_spark.operators.dedup import MINHASH_SIG_CTES
    from hive_similarity_join_spark.registry import ORACLES

    layouts = ", ".join(f"({nb}, {r})" for nb, r in _SWEEP_LAYOUTS)
    return f"""
{MINHASH_SIG_CTES},
exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
layouts AS (SELECT * FROM (VALUES {layouts}) AS t(nb, rpb)),
sbands AS (
  SELECT s.doc_id, l.nb, l.rpb,
         CAST((s.i - 1) // l.rpb AS INTEGER) AS band,
         string_agg(CAST(s.h AS VARCHAR), '-' ORDER BY s.i) AS bsig
  FROM sig s CROSS JOIN layouts l
  GROUP BY s.doc_id, l.nb, l.rpb, band
),
cand AS (
  SELECT DISTINCT a.nb, a.rpb, a.doc_id AS id1, b.doc_id AS id2
  FROM sbands a JOIN sbands b
    ON a.nb = b.nb AND a.band = b.band AND a.bsig = b.bsig
   AND a.doc_id < b.doc_id
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM exact),
per AS (
  SELECT c.nb, c.rpb,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(count(e.id1) AS BIGINT) AS n_hits
  FROM cand c LEFT JOIN exact e ON e.id1 = c.id1 AND e.id2 = c.id2
  GROUP BY c.nb, c.rpb
)
SELECT CAST(p.nb AS BIGINT) AS n_bands,
       CAST(p.rpb AS BIGINT) AS rows_per_band,
       p.n_candidates, p.n_hits, nt.n_true,
       CAST(p.n_hits AS DOUBLE) / CAST(nt.n_true AS DOUBLE) AS recall,
       CAST(p.n_hits AS DOUBLE) / CAST(p.n_candidates AS DOUBLE)
           AS candidate_precision
FROM per p, nt ORDER BY n_bands
"""


@query("q_dedup_lsh_band_sweep", oracle=_lsh_band_sweep_oracle())
def q_dedup_lsh_band_sweep(spark, sf_dir):
    """The MinHash banding S-curve MEASURED: candidate recall and
    candidate precision vs the exact t=0.8 pair graph for three
    bandings of the same 16-permutation signature — (2 bands x 8
    rows), the production (4 x 4), (8 x 2). q_dedup_lsh_recall
    measures the one shipped config; this key measures the dial
    itself, which is the number a 100 TB dedup run tunes FIRST:
    more bands = higher recall but more candidate pairs to verify
    (theory at s=0.8: 0.31 / 0.88 / 0.9997 collision probability),
    and candidate_precision quantifies the wasted verify work each
    step of recall costs on THIS corpus. Measured (r11, sf0.01):
    recall 0.790 / 0.790 / 0.956 with 65k / 67k / 85k candidates —
    the true pairs here sit far above t=0.8, so even 2x8 catches
    most of what 4x4 does, and 8x2 buys +0.17 recall for only 1.28x
    the verify work: the sweep, not the formula, is what picks the
    production banding.

    One signature relation feeds all three layouts: the band structs
    of every layout explode together (14 rows/doc) and ONE self-join
    keyed on (layout, band, bsig) produces all candidates — no
    per-layout passes. Unlike minhash_lsh_pairs, its sides stay bare
    exchanges, which Spark widens to ``spark.sql.shuffle.partitions``
    (``partitions`` module docstring): this join's buckets are skewed,
    and at sf0.1 on 4 cores it ran 19-20 s at ``parallelism()``
    partitions against 12-14 s widened. The truth side is the
    already-hash-verified exact key composed verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    # r17: the shared corpus signature relation (the unused _rks column
    # is projected away; the band structs read only _h1.._h16).
    sigs = docs_minhash_sigs(spark, sf_dir)
    structs = []
    for nb, rpb in _SWEEP_LAYOUTS:
        for b in range(nb):
            structs.append(
                F.struct(
                    F.lit(nb).cast("bigint").alias("_nb"),
                    F.lit(rpb).cast("bigint").alias("_rpb"),
                    F.lit(b).alias("_band"),
                    F.concat_ws(
                        "-",
                        *[
                            F.col(f"_h{b * rpb + j + 1}").cast("string")
                            for j in range(rpb)
                        ],
                    ).alias("_bsig"),
                )
            )
    bands = sigs.select(
        "_id", F.explode(F.array(*structs)).alias("_bs")
    ).select(
        "_id",
        F.col("_bs._nb").alias("_nb"),
        F.col("_bs._rpb").alias("_rpb"),
        F.col("_bs._band").alias("_band"),
        F.col("_bs._bsig").alias("_bsig"),
    )
    n_part = parallelism(docs)
    a = bands.select(
        F.col("_id").alias("id1"), "_nb", "_rpb", "_band", "_bsig"
    ).repartition(n_part, "_nb", "_band", "_bsig")
    b2 = bands.select(
        F.col("_id").alias("id2"),
        F.col("_nb").alias("_nb2"),
        F.col("_band").alias("_band2"),
        F.col("_bsig").alias("_bsig2"),
    ).repartition(n_part, "_nb2", "_band2", "_bsig2")
    cand = (
        a.join(
            b2,
            (F.col("_nb") == F.col("_nb2"))
            & (F.col("_band") == F.col("_band2"))
            & (F.col("_bsig") == F.col("_bsig2"))
            & (F.col("id1") < F.col("id2")),
        )
        .select("_nb", "_rpb", "id1", "id2")
        .repartition(n_part, "_nb", "id1", "id2")
        .distinct()
    )
    truth = exact_pair_graph(spark, sf_dir).select(
        "id1", "id2", F.lit(1).alias("_hit")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    per = (
        cand.join(truth, ["id1", "id2"], "left")
        .groupBy("_nb", "_rpb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    return (
        per.crossJoin(F.broadcast(nt))
        .select(
            F.col("_nb").alias("n_bands"),
            F.col("_rpb").alias("rows_per_band"),
            "n_candidates",
            "n_hits",
            "n_true",
            (
                F.col("n_hits").cast("double") / F.col("n_true").cast("double")
            ).alias("recall"),
            (
                F.col("n_hits").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("candidate_precision"),
        )
        .orderBy("n_bands")
    )


# ---- dedup threshold sensitivity curve over the embedding pair graph

_CURVE_THRESHOLDS = (30, 50, 70, 80, 90)  # sim*100, exact integers


@query(
    "q_dedup_threshold_curve",
    oracle=f"""
WITH pairs AS ({_ELSH_ORACLE}),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM pairs)
SELECT thr.threshold_e2,
       any_value(tot.n_candidates) AS n_candidates,
       CAST(sum(CASE WHEN p.sim >= thr.threshold_e2 / 100.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN p.sim >= thr.threshold_e2 / 100.0
                     THEN 1 ELSE 0 END) AS DOUBLE)
         / any_value(tot.n_candidates) AS frac_of_candidates
FROM pairs p
CROSS JOIN (VALUES {", ".join(f"(CAST({t} AS BIGINT))" for t in _CURVE_THRESHOLDS)})
  AS thr(threshold_e2)
CROSS JOIN tot
GROUP BY thr.threshold_e2
""",
)
def q_dedup_threshold_curve(spark, sf_dir):
    """Near-duplicate threshold sensitivity curve: how many embedding
    pairs survive at cosine >= 0.30 / 0.50 / 0.70 / 0.80 / 0.90,
    from ONE pass over the hyperplane-LSH candidate graph — the
    measurement a curation team reads before committing to a dedup
    threshold (each step of the curve is documents destroyed or
    duplicates kept; the cliff between adjacent thresholds is the
    corpus's own similarity structure). Extends the measured-dedup
    family (q_dedup_lsh_recall's precision/recall, q_report_dup_rate)
    with the threshold axis.

    Exactness: sims are the bit-exact cosine device; thresholds are
    integer-percent literals divided by 100.0 identically on both
    engines (same IEEE literal, same >= on identical doubles); counts
    are bigints; the fraction is one double division.

    Scale shape: the candidate generator is the audited bucketed LSH
    join (never all-pairs); the curve itself is one conditional-sum
    aggregate over a broadcast 5-row threshold relation and a 1-row
    total — O(candidates) work for the whole curve, not O(candidates
    x thresholds) passes."""
    thr = spark.range(0, len(_CURVE_THRESHOLDS)).select(
        F.element_at(
            F.array(*[F.lit(t).cast("bigint") for t in _CURVE_THRESHOLDS]),
            (F.col("id") + 1).cast("int"),
        ).alias("threshold_e2")
    )
    # the registered LSH key's raw builder IS the candidate generator —
    # shared, so the curve and the pair graph can never drift apart
    pairs = q_dedup_embedding_lsh(spark, sf_dir)
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    hit = F.when(
        F.col("sim") >= F.col("threshold_e2") / F.lit(100.0), 1
    ).otherwise(0)
    return (
        pairs.crossJoin(F.broadcast(thr))
        .groupBy("threshold_e2")
        .agg(F.sum(hit).cast("bigint").alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold_e2",
            "n_candidates",
            "n_pairs",
            (
                F.col("n_pairs").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("frac_of_candidates"),
        )
    )


# ---------------- SimHash dedup precision/recall audit


def _simhash_recall_oracle(sh_key: str = "q_text_simhash") -> str:
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
sh AS ({ORACLES[sh_key]}),
hits AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits
  FROM sh s JOIN exact e ON e.id1 = s.id1 AND e.id2 = s.id2
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_simhash FROM sh)
SELECT ne.n_exact, ns.n_simhash, h.n_hits,
       CAST(h.n_hits AS DOUBLE) / CAST(ns.n_simhash AS DOUBLE) AS precision,
       CAST(h.n_hits AS DOUBLE) / CAST(ne.n_exact AS DOUBLE) AS recall
FROM ne, ns, hits h
"""


@query("q_dedup_simhash_recall", oracle=_simhash_recall_oracle())
def q_dedup_simhash_recall(spark, sf_dir):
    """Pair precision/recall of SimHash near-dup detection (Hamming
    <= 3 over 60-bit fingerprints) against the EXACT prefix-filter
    Jaccard self-join at t=0.8 — the q_dedup_lsh_recall of the
    SimHash family, and the last approximate dedup family to get a
    measured quality number (MinHash-LSH: lsh_recall; embedding-LSH:
    threshold_curve; pHash: banded by the same device). Unlike
    banded MinHash, SimHash pairs are NOT verified at exact Jaccard —
    a fingerprint collision can pair texts below the threshold — so
    PRECISION is the interesting number here, where for LSH it was
    1.0 by construction; recall shows what the 3-bit radius buys on
    this corpus's near-dup density. Measured (r10, sf0.01): precision
    0.992, recall 0.056 vs the 30,328-pair t=0.8 graph (sf0.1: 0.988 /
    0.059) — SimHash at radius 3 is a high-precision, low-recall
    screen on this corpus; the number quantifies exactly why the
    MinHash-LSH family (0.79 recall, 1.0 precision) is the primary
    dedup path and SimHash-at-radius-3 formally a PRE-FILTER ONLY
    (the r10 demotion, pinned here and in simhash_pairs' module). For
    Hamming-semantics recall, use the radius-8 wide variant
    (q_text_simhash_wide, audited by q_dedup_simhash_wide_recall).

    Both pair generators are the already-hash-verified keys composed
    verbatim (their oracles as CTEs, their builders as DataFrames),
    so the audit cannot drift from what it audits; the intersection
    joins two id-pair relations — trivial next to generating them."""
    return _simhash_recall_audit(spark, sf_dir, q_text_simhash)


@query("q_dedup_simhash_wide_recall", oracle=_simhash_recall_oracle("q_text_simhash_wide"))
def q_dedup_simhash_wide_recall(spark, sf_dir):
    """Pair precision/recall of the WIDE-radius SimHash configuration
    (Hamming <= 8, block-pair keys, q_text_simhash_wide) against the
    exact Jaccard t=0.8 self-join — the second audit row of VERDICT
    r10 item 5, quantifying the recall/precision trade vs the radius-3
    row (precision 0.992 / recall 0.056): true near-dup pairs on this
    corpus center at Hamming 8-10, so radius 8 multiplies recall ~9x
    while the wider net admits more sub-threshold fingerprint
    collisions. Measured (r11, sf0.01): precision 0.826, recall 0.526
    — and 0.526 is EXACTLY the corpus's cumulative true-pair mass at
    Hamming <= 8, empirical confirmation that the block-pair blocking
    is lossless (recall here is a property of SimHash-at-radius-8
    itself, not of the candidate generation)."""
    return _simhash_recall_audit(spark, sf_dir, q_text_simhash_wide)


def _simhash_recall_audit(spark, sf_dir, sh_builder):
    """Shared audit body: both generators are the already-hash-verified
    keys composed verbatim, so the audit cannot drift from what it
    audits; the intersection joins two id-pair relations — trivial
    next to generating them."""
    exact = exact_pair_graph(spark, sf_dir)
    sh = sh_builder(spark, sf_dir).select("id1", "id2")
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    ns = sh.agg(F.count(F.lit(1)).cast("bigint").alias("n_simhash"))
    hits = sh.join(exact, ["id1", "id2"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        ne.crossJoin(ns)
        .crossJoin(hits)
        .select(
            "n_exact",
            "n_simhash",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_simhash").cast("double")
            ).alias("precision"),
            (
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


# --------------- sorted-neighborhood blocking (SNM), window sweep audit

_SNM_WINDOWS = (5, 25, 125)
_SNM_T = 0.8


def _snm_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    w_max = max(_SNM_WINDOWS)
    values = ", ".join(f"({w})" for w in _SNM_WINDOWS)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
canon AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tok) AS ck, count(*) AS n
  FROM tok GROUP BY doc_id
),
rk AS (
  SELECT doc_id, row_number() OVER (ORDER BY ck, doc_id) AS r FROM canon
),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS id1,
         greatest(a.doc_id, b.doc_id) AS id2,
         b.r - a.r AS gap
  FROM rk a JOIN rk b ON b.r > a.r AND b.r <= a.r + {w_max}
),
inter AS (
  SELECT c.id1, c.id2, c.gap, count(*) AS i
  FROM cand c
  JOIN tok t1 ON t1.doc_id = c.id1
  JOIN tok t2 ON t2.doc_id = c.id2 AND t2.tok = t1.tok
  GROUP BY 1, 2, 3
),
ver AS (
  SELECT i.gap
  FROM inter i
  JOIN canon s1 ON s1.doc_id = i.id1
  JOIN canon s2 ON s2.doc_id = i.id2
  WHERE CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) >= {_SNM_T}
),
exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM exact),
layouts AS (SELECT * FROM (VALUES {values}) AS t(w)),
percand AS (
  SELECT l.w, CAST(count(c.gap) AS BIGINT) AS n_candidates
  FROM layouts l LEFT JOIN cand c ON c.gap <= l.w GROUP BY l.w
),
perver AS (
  SELECT l.w, CAST(count(v.gap) AS BIGINT) AS n_pairs
  FROM layouts l LEFT JOIN ver v ON v.gap <= l.w GROUP BY l.w
)
SELECT CAST(p.w AS BIGINT) AS window_w, p.n_candidates, q.n_pairs,
       nt.n_true,
       CAST(q.n_pairs AS DOUBLE) / CAST(nt.n_true AS DOUBLE) AS recall,
       CAST(q.n_pairs AS DOUBLE) / CAST(p.n_candidates AS DOUBLE)
           AS candidate_precision
FROM percand p JOIN perver q ON q.w = p.w, nt
ORDER BY window_w
"""


def snm_scored_pairs(spark, sf_dir, w_max: int):
    """(id1, id2, gap, jac): sorted-neighborhood candidates within rank
    window ``w_max``, scored at exact Jaccard — the shared generator of
    q_dedup_sorted_neighborhood's sweep (conditional aggregation over
    gap) and the blocking ensemble's SNM leg (filter gap/jac, keep the
    pair set). Two-pass ranked_by sort, n*w_max equi-join candidates
    (keys only), verification in array_intersect codegen."""
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select(
        "doc_id", F.array_sort(TX.set_tokens("text")).alias("toks")
    )
    from hive_similarity_join_spark.queries.similarity_q import docs_rank_arrays

    return snm_scored_pairs_from(
        arrs, w_max, rank_arrays=docs_rank_arrays(spark, sf_dir).rel
    )


def snm_scored_pairs_from(arrs, w_max: int, token_dict=None,
                          rank_arrays=None):
    """``snm_scored_pairs`` body over a pre-tokenized corpus relation
    (doc_id, toks = sorted distinct tokens) — the shared seam that
    lets the incremental ensemble mirror (streaming/
    incremental_ensemble.py) re-run the SAME sorted-neighborhood pass
    over its document carry: SNM neighborhoods are GLOBAL ranks, so
    the pair set is not monotone under doc insertion and must be
    recomputed from the full corpus at emission (module docstring
    there has the counterexample).

    ``token_dict``: an optional covering (_tok, _rank) dictionary (r17):
    with it, the n*w_max Jaccard verifications intersect INT rank arrays
    instead of string-token arrays (the rank map is a bijection over
    distinct token sets, so |intersection| and sizes — hence jac — are
    identical integers), and the two verify joins ship int arrays. The
    sort key ``ck`` stays the token STRING concat either way (ranks
    would reorder the neighborhood and change candidates).

    ``rank_arrays``: a prebuilt (_id, _rks, _n) rank-sorted relation for
    the SAME corpus (similarity_q.docs_rank_arrays) — skips even the
    explode+dict-join pass the token_dict path pays.

    Documents without tokens (empty, whitespace-only or null text) are
    not ranked: like the oracle's ``canon`` CTE, only docs with at least
    one token take a place in the sort order."""
    arrs = arrs.filter(F.size("toks") > 0)
    canon = arrs.select("doc_id", F.concat_ws(" ", "toks").alias("ck"))
    rk = ranked_by(canon, ["ck", "doc_id"], "r").select("doc_id", "r")
    probes = rk.select(
        F.col("doc_id").alias("id_a"),
        F.explode(F.sequence(F.lit(1), F.lit(w_max))).alias("gap"),
        F.col("r").alias("r_a"),
    ).select("id_a", "gap", (F.col("r_a") + F.col("gap")).alias("r_b"))
    cand = probes.join(
        rk.select(F.col("doc_id").alias("id_b"), F.col("r").alias("r_b")),
        "r_b",
    ).select(
        F.least("id_a", "id_b").alias("id1"),
        F.greatest("id_a", "id_b").alias("id2"),
        "gap",
    )
    if rank_arrays is not None:
        sz = rank_arrays.select(
            F.col("_id").alias("doc_id"),
            F.col("_rks").alias("toks"),
            F.col("_n").alias("n"),
        )
    elif token_dict is not None:
        sz = (
            arrs.select("doc_id", F.explode("toks").alias("_tok"))
            .join(F.broadcast(token_dict), "_tok")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list("_rank")).alias("toks"))
            .withColumn("n", F.size("toks"))
        )
    else:
        sz = arrs.select("doc_id", "toks", F.size("toks").alias("n"))
    return (
        cand.join(
            sz.select(
                F.col("doc_id").alias("id1"),
                F.col("toks").alias("t1"),
                F.col("n").alias("n1"),
            ),
            "id1",
        )
        .join(
            sz.select(
                F.col("doc_id").alias("id2"),
                F.col("toks").alias("t2"),
                F.col("n").alias("n2"),
            ),
            "id2",
        )
        .select(
            "id1",
            "id2",
            "gap",
            F.size(F.array_intersect("t1", "t2")).alias("i"),
            "n1",
            "n2",
        )
        .select(
            "id1",
            "id2",
            "gap",
            (
                F.col("i").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("i"))
            ).alias("jac"),
        )
    )


def snm_scored_graph(spark, sf_dir):
    """Session-pinned sorted-neighborhood scored-candidate relation
    (id1, id2, gap, jac) at w_max=_ENS_W=125 — r16 optimization: the
    SNM sweep key, the blocking ensemble and the ensemble
    representatives each re-ran the rank + neighbor-join + verify
    generator (~4 s apiece at sf0.1). n*w_max rows (id-pair-sized);
    degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    return session_ckpt(
        "snm_scored_w125",
        scope(spark, sf_dir),
        lambda: snm_scored_pairs(spark, sf_dir, _ENS_W),
    )


def ensemble_union_graph(spark, sf_dir):
    """Session-pinned UNION pair graph of the three ensemble blockers
    (LSH + SimHash-w8 + SNM-w125 at t=_SNM_T) — r16 optimization:
    q_dedup_blocking_ensemble and q_dedup_ensemble_representatives
    each re-unioned (and re-distinct-ed) the three pinned legs
    (~3M rows at sf0.1). Degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    def build():
        g_lsh = lsh_pair_graph(spark, sf_dir).select("id1", "id2")
        g_shw = simhash_wide_pair_graph(spark, sf_dir).select("id1", "id2")
        g_snm = (
            snm_scored_graph(spark, sf_dir)
            .filter(F.col("jac") >= _SNM_T)
            .select("id1", "id2")
        )
        return g_lsh.unionByName(g_shw).unionByName(g_snm).distinct()

    return session_ckpt("ensemble_union_t08", scope(spark, sf_dir), build)


@query("q_dedup_sorted_neighborhood", oracle=_snm_oracle())
def q_dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (SNM), the third classic dedup
    blocking family next to MinHash banding (q_dedup_lsh_band_sweep)
    and SimHash radii (q_dedup_simhash_*_recall), measured the same
    way: sort all docs by a canonical key (their sorted distinct-token
    string), compare only rank-neighbors within window w, verify at
    exact Jaccard t=0.8, and report recall vs the exact pair graph for
    a sweep of w. Candidate volume is EXACTLY n*w — linear, the
    tightest candidate budget of the three families — so the audit
    shows what that budget buys on a dup-dense corpus (where >n*w true
    pairs exist, recall is capped below 1 BY CONSTRUCTION: at sf0.01,
    30,328 true pairs over 500 docs exceed the w=25 budget of 12,175
    candidates — the honest number that tells a 100 TB run when SNM's
    linear budget is the wrong tool and banding's recall target is
    worth its superlinear candidates). Measured (r11): sf0.01 recall
    0.034 / 0.143 / 0.560 for w=5/25/125 (candidate precision
    0.41/0.36/0.31); sf0.1 recall 0.077 at w=125 against 2.97M true
    pairs — the denominator grows ~quadratically with corpus dup
    density while SNM's candidate budget stays n*w, so on THIS corpus
    SNM is a cheap pre-screen, not the production dedup path (that
    remains MinHash-LSH, recall 0.79 at the shipped banding).

    Plan shape: the global sort-rank uses operators/rank.ranked_by
    (two-pass range-partitioned scan, no single-partition window); the
    neighbor join is an EQUI-join on target rank (each doc explodes
    into w_max probe rows — keys only, never text), verification joins
    the distinct-token arrays by id and stays in array_intersect
    codegen; the sweep is conditional aggregation over one candidate
    relation (gap <= w), one pass for all three windows. The exact
    pair graph (the recall denominator) composes the already-verified
    flagship key, like every audit in this family."""
    j = snm_scored_graph(spark, sf_dir)  # w_max = _ENS_W = max(_SNM_WINDOWS)
    aggs = []
    for w in _SNM_WINDOWS:
        hit = F.when(F.col("gap") <= w, 1).otherwise(0)
        ver = F.when(
            (F.col("gap") <= w) & (F.col("jac") >= _SNM_T), 1
        ).otherwise(0)
        aggs.append(F.sum(hit).cast("bigint").alias(f"c_{w}"))
        aggs.append(F.sum(ver).cast("bigint").alias(f"p_{w}"))
    stats = j.agg(*aggs)
    nt = exact_pair_graph(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    stack_args = ", ".join(
        f"CAST({w} AS BIGINT), c_{w}, p_{w}" for w in _SNM_WINDOWS
    )
    stack = (
        f"stack({len(_SNM_WINDOWS)}, {stack_args}) AS "
        "(window_w, n_candidates, n_pairs)"
    )
    return (
        stats.crossJoin(F.broadcast(nt))
        .select(F.expr(stack), "n_true")
        .select(
            "window_w",
            "n_candidates",
            "n_pairs",
            "n_true",
            (
                F.col("n_pairs").cast("double")
                / F.col("n_true").cast("double")
            ).alias("recall"),
            (
                F.col("n_pairs").cast("double")
                / F.col("n_candidates").cast("double")
            ).alias("candidate_precision"),
        )
        .orderBy("window_w")
    )


# ---------- blocking ENSEMBLE audit (which blockers to stack)

_ENS_W = max(_SNM_WINDOWS)


def _ensemble_union_ctes() -> str:
    """The blocking-ensemble UNION pair graph as SQL — exact truth +
    the three verified-pair families (LSH t=0.8, SimHash radius-8,
    SNM w=125 t=0.8) + their union u_all — shared by the stacking
    audit (q_dedup_blocking_ensemble) and the production composition
    (q_dedup_ensemble_representatives), so the two cannot drift."""
    from hive_similarity_join_spark.registry import ORACLES

    return f"""exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
lshq AS ({ORACLES["q_dedup_minhash_lsh"]}),
shwq AS ({ORACLES["q_text_simhash_wide"]}),
stok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
scanon AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tok) AS ck, count(*) AS n
  FROM stok GROUP BY doc_id
),
srk AS (
  SELECT doc_id, row_number() OVER (ORDER BY ck, doc_id) AS r FROM scanon
),
scand AS (
  SELECT least(a.doc_id, b.doc_id) AS id1,
         greatest(a.doc_id, b.doc_id) AS id2
  FROM srk a JOIN srk b ON b.r > a.r AND b.r <= a.r + {_ENS_W}
),
sinter AS (
  SELECT c.id1, c.id2, count(*) AS i
  FROM scand c JOIN stok t1 ON t1.doc_id = c.id1
  JOIN stok t2 ON t2.doc_id = c.id2 AND t2.tok = t1.tok
  GROUP BY 1, 2
),
g_snm AS (
  SELECT i.id1, i.id2 FROM sinter i
  JOIN scanon s1 ON s1.doc_id = i.id1
  JOIN scanon s2 ON s2.doc_id = i.id2
  WHERE CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) >= {_SNM_T}
),
g_lsh AS (SELECT id1, id2 FROM lshq),
g_shw AS (SELECT id1, id2 FROM shwq),
u_all AS (
  SELECT id1, id2 FROM g_lsh UNION SELECT id1, id2 FROM g_shw
  UNION SELECT id1, id2 FROM g_snm
)"""


def _blocking_ensemble_oracle() -> str:
    sets = {
        "lsh": "g_lsh",
        "simhash_w8": "g_shw",
        "snm_w125": "g_snm",
        "union": "u_all",
    }
    stat_ctes = []
    for name, rel in {**sets, "no_lsh": "u_no_lsh",
                      "no_shw": "u_no_shw", "no_snm": "u_no_snm"}.items():
        stat_ctes.append(
            f"""st_{name} AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM {rel}) AS np,
         (SELECT CAST(count(*) AS BIGINT)
          FROM {rel} g JOIN exact e ON e.id1 = g.id1 AND e.id2 = g.id2)
             AS nh
)"""
        )
    legs = []
    for gen, wo in (("lsh", "no_lsh"), ("simhash_w8", "no_shw"),
                    ("snm_w125", "no_snm")):
        legs.append(
            f"""SELECT '{gen}' AS generator, st.np AS n_pairs, st.nh AS n_hits,
       CAST(st.nh AS DOUBLE) / CAST(nt.n_true AS DOUBLE) AS recall,
       CAST(u.nh - w.nh AS DOUBLE) / CAST(nt.n_true AS DOUBLE)
           AS marginal_recall
FROM st_{gen} st, st_union u, st_{wo} w, nt"""
        )
    legs.append(
        """SELECT 'union' AS generator, st.np AS n_pairs, st.nh AS n_hits,
       CAST(st.nh AS DOUBLE) / CAST(nt.n_true AS DOUBLE) AS recall,
       CAST(NULL AS DOUBLE) AS marginal_recall
FROM st_union st, nt"""
    )
    body = "\nUNION ALL ".join(legs)
    return f"""
WITH {_ensemble_union_ctes()},
u_no_lsh AS (
  SELECT id1, id2 FROM g_shw UNION SELECT id1, id2 FROM g_snm
),
u_no_shw AS (
  SELECT id1, id2 FROM g_lsh UNION SELECT id1, id2 FROM g_snm
),
u_no_snm AS (
  SELECT id1, id2 FROM g_lsh UNION SELECT id1, id2 FROM g_shw
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM exact),
{",".join(stat_ctes)}
{body}
"""


@query("q_dedup_blocking_ensemble", oracle=_blocking_ensemble_oracle())
def q_dedup_blocking_ensemble(spark, sf_dir):
    """The blocking ENSEMBLE audit — the question every 100 TB dedup
    actually asks last: not "how good is each blocker" (the per-family
    recall audits answer that) but "which blockers are worth STACKING".
    Multi-pass blocking (classic record-linkage practice: union the
    candidate sets of several cheap blockers, verify once) is only
    worth a pass if its MARGINAL recall justifies its candidate cost —
    so this key unions the three verified-pair families at t=0.8
    (MinHash-LSH 4x4, SimHash radius-8, sorted-neighborhood w=125) and
    reports, per family: pair count, recall vs the exact graph, and
    leave-one-out marginal recall (union recall minus the union
    without this family). Measured (sf0.01): the union reaches recall
    0.944 where the best single family (LSH) stops at 0.790 —
    stacking PAYS on this corpus, and the marginals rank the passes:
    lsh +0.165, snm_w125 +0.071, simhash_w8 +0.032. Every family
    catches true pairs the other two miss (the three blockers key on
    genuinely different structure: min-hash collisions, fingerprint
    bits, sort adjacency) — THE ensemble-design numbers a multi-pass
    dedup reads before buying each extra candidate-generation pass.

    Compose-don't-recompute: exact truth, LSH and SimHash-wide pair
    relations are the session-pinned graphs every audit shares
    (exact_pair_graph / lsh_pair_graph / simhash_wide_pair_graph);
    the SNM leg reuses snm_scored_pairs (the sweep key's generator)
    filtered at w=125, t=0.8; unions and hit-joins are id-pair set
    algebra — trivial next to generation. In-key, each set relation
    feeds two counts (pairs + hits) and up to three unions, so the
    union-of-all and the SNM pair set are registry-pinned."""
    # r16: this key is alphabetically the FIRST consumer of all four
    # generator graphs, so it absorbs their one-time session builds —
    # materialize them CONCURRENTLY (guide §2.6: actions are only
    # sequential because driver code calls them sequentially; four
    # independent eager checkpoint builds overlap to ~max instead of
    # sum on a 32-core scheduler). Distinct session_ckpt names -> no
    # build race.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = [
            pool.submit(exact_pair_graph, spark, sf_dir),
            pool.submit(lsh_pair_graph, spark, sf_dir),
            pool.submit(simhash_wide_pair_graph, spark, sf_dir),
            pool.submit(snm_scored_graph, spark, sf_dir),
        ]
        exact = futs[0].result()
        g_lsh = futs[1].result().select("id1", "id2")
        g_shw = futs[2].result().select("id1", "id2")
        g_snm = (
            futs[3].result()
            .filter(F.col("jac") >= _SNM_T)
            .select("id1", "id2")
        )
    def u(*dfs):
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.distinct()

    u_all = ensemble_union_graph(spark, sf_dir)
    wo = {
        "lsh": u(g_shw, g_snm),
        "simhash_w8": u(g_lsh, g_snm),
        "snm_w125": u(g_lsh, g_shw),
    }
    gens = {"lsh": g_lsh, "simhash_w8": g_shw, "snm_w125": g_snm}
    nt = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))

    def stats(df, np_name, nh_name):
        np_df = df.agg(F.count(F.lit(1)).cast("bigint").alias(np_name))
        nh_df = df.join(exact, ["id1", "id2"]).agg(
            F.count(F.lit(1)).cast("bigint").alias(nh_name)
        )
        return np_df.crossJoin(nh_df)

    u_stats = stats(u_all, "u_np", "u_nh")
    out = None
    for gen, gdf in gens.items():
        # Leave-one-out unions need ONLY the hits count — a full
        # stats() would also run the discarded pair-count branch and
        # evaluate the unpinned union twice (ADVICE r12).
        w_hits = wo[gen].join(exact, ["id1", "id2"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("w_nh")
        )
        leg = (
            stats(gdf, "np", "nh")
            .crossJoin(u_stats)
            .crossJoin(w_hits)
            .crossJoin(F.broadcast(nt))
            .select(
                F.lit(gen).alias("generator"),
                F.col("np").alias("n_pairs"),
                F.col("nh").alias("n_hits"),
                (
                    F.col("nh").cast("double")
                    / F.col("n_true").cast("double")
                ).alias("recall"),
                (
                    (F.col("u_nh") - F.col("w_nh")).cast("double")
                    / F.col("n_true").cast("double")
                ).alias("marginal_recall"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    union_leg = (
        u_stats.crossJoin(F.broadcast(nt)).select(
            F.lit("union").alias("generator"),
            F.col("u_np").alias("n_pairs"),
            F.col("u_nh").alias("n_hits"),
            (
                F.col("u_nh").cast("double") / F.col("n_true").cast("double")
            ).alias("recall"),
            F.lit(None).cast("double").alias("marginal_recall"),
        )
    )
    return out.unionByName(union_leg)


def _ensemble_reps_oracle() -> str:
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.queries.pipeline_q import _quality_sql

    return f"""
WITH RECURSIVE {_ensemble_union_ctes()},
edges AS (
  SELECT id1 AS a, id2 AS b FROM u_all
  UNION
  SELECT id2 AS a, id1 AS b FROM u_all
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
q AS (
  SELECT doc_id, {_quality_sql()} AS quality
  FROM (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents)
  WHERE len(bag) > 0
),
lab AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
  FROM q LEFT JOIN comp c ON c.id = q.doc_id
),
rnk AS (
  SELECT component, doc_id, quality,
         row_number() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM lab
)
SELECT component, doc_id AS rep_id, CAST(n_members AS BIGINT) AS n_members,
       quality AS rep_quality
FROM rnk WHERE rn = 1
"""


@query(
    "q_dedup_ensemble_representatives", oracle=_ensemble_reps_oracle()
)
def q_dedup_ensemble_representatives(spark, sf_dir):
    """The blocking ensemble CLOSED into a production artifact (r12
    VERDICT item #5): connected components over the UNION pair graph
    the stacking audit measures (LSH + SimHash-w8 + SNM-w125, union
    recall 0.944 vs LSH-only 0.790 at sf0.01) -> best-quality survivor
    per cluster — the same survivor-pick tail as the LSH-only
    q_dedup_representatives, so the delta between the two keys is
    attributable to the extra blocking passes alone. Measured deltas
    vs the LSH-only key (sf0.01, 500 docs): 86 clusters vs 166 — the
    union's extra recall merges the near-dup mass LSH banding splits —
    and 414 vs 334 docs removed (+80, a further 16% of the corpus
    deduplicated; multi-member clusters 8 vs 4). At sf0.1 (5000
    docs): 427 clusters vs 1,317 and 4,573 vs 3,683 removed (+890,
    +17.8% of the corpus) over the 3,012,985-pair union graph —
    FIXTURES.md round-13 anchors.

    Compose-don't-recompute: the three pair relations are the
    session-pinned graphs every ensemble consumer shares
    (lsh_pair_graph / simhash_wide_pair_graph + the SNM generator at
    w=125); the union is id-pair set algebra; CC is the O(log n)
    min-label iteration with checkpointed lineage; the survivor pick
    is one window over the node-sized label table. At 100 TB the
    marginal cost over q_dedup_representatives is exactly the two
    extra blocking passes the stacking audit priced (simhash +0.032
    recall, snm +0.071) — THE numbers that decide whether this key or
    the LSH-only key is the right production dedup."""
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators.cache import pin

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.bag_tokens("text").alias("_bag"))
    # r16: the union pair graph is the session-pinned
    # ensemble_union_graph shared with the stacking audit.
    pairs = ensemble_union_graph(spark, sf_dir)
    return _representatives_tail(base, connected_components(pairs))


def _pq_res_distortion_oracle() -> str:
    from hive_similarity_join_spark.queries.vectors_q import (
        PQ_DIST_FP,
        pq_sql_fragments,
    )

    fr = pq_sql_fragments()
    rf = _res_pq_fragments()
    return f"""
WITH {_IVF_CAND_CTES},
{rf["resid"]},
rcb AS (
{rf["rcb"]}
),
cb AS (
{fr["cb"]}
),
rawasg AS (
  SELECT e.vec_id, cb.m, {fr["d2"]} AS d2,
         row_number() OVER (
             PARTITION BY e.vec_id, cb.m ORDER BY {fr["d2"]}, cb.c
         ) AS rn
  FROM embeddings e CROSS JOIN cb
),
resasg AS (
  SELECT r.vec_id, cb.m, {rf["d2r"]} AS d2,
         row_number() OVER (
             PARTITION BY r.vec_id, cb.m ORDER BY {rf["d2r"]}, cb.c
         ) AS rn
  FROM resid r CROSS JOIN rcb cb
),
fp AS (
  SELECT 'raw' AS enc, m, d2,
         CAST(floor(d2 * {PQ_DIST_FP} + 0.5) AS BIGINT) AS dfp
  FROM rawasg WHERE rn = 1
  UNION ALL
  SELECT 'residual' AS enc, m, d2,
         CAST(floor(d2 * {PQ_DIST_FP} + 0.5) AS BIGINT) AS dfp
  FROM resasg WHERE rn = 1
)
SELECT enc, CAST(m AS BIGINT) AS m,
       CAST(count(*) AS BIGINT) AS n,
       max(d2) AS max_d2,
       CAST(SUM(dfp) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * {PQ_DIST_FP}.0) AS avg_d2
FROM fp GROUP BY enc, m
"""


@query("q_vec_pq_distortion_res", oracle=_pq_res_distortion_oracle())
def q_vec_pq_distortion_res(spark, sf_dir):
    """Residual-vs-raw PQ distortion, side by side — the
    distortion-per-byte half of the residual-encoding story
    (q_vec_ann_recall's ivfadc_res row is the ranking half): per
    subspace and per encoding ('raw' = PQ over vectors, 'residual' =
    PQ over vector − assigned IVF centroid), the average and worst
    squared distance to the assigned codebook entry at the SAME
    4-byte code budget. Residual encoding wins exactly when its
    avg_d2 is lower — on clustered data the coarse quantizer absorbs
    the between-cell energy and residual distortion drops; on this
    isotropic synthetic corpus it is measurably HIGHER (sf0.01 mean
    avg_d2 0.132 residual vs 0.094 raw): subtracting a centroid that
    captures no variance ADDS energy (E||x−c||² = E||x||² + E||c||²
    for independent isotropic x, c), which is exactly why the recall
    audit's ivfadc_res row shows no gain — the two audits agree and
    point at the data, not the implementation.

    Exactness: both legs reuse their search oracles' fragment SQL
    (pq_sql_fragments / _res_pq_fragments — audit and encoder cannot
    drift); min-d2 per (vector, subspace) is comparison-only; the
    average uses the established exact-integer fixed-point sum
    (q_vec_pq_distortion's 1e-9-unit device) so no double SUM's
    reduction order is exposed.

    Plan shape: two encode passes (corpus x 128-row broadcast
    codebook join each; the residual pass adds one centroid lookup
    per row) + one (enc, m)-group aggregate — the audit costs what
    the encoders cost, nothing more shuffles at scale."""
    from hive_similarity_join_spark.functions import vectors as V
    from hive_similarity_join_spark.operators.ivf import (
        assign_cells,
        hash_sampled_centroids,
    )
    from hive_similarity_join_spark.operators.pq import (
        _centroid_table,
        _d2,
        _subspaces,
        codebook_relation,
    )
    from hive_similarity_join_spark.queries.vectors_q import PQ_DIST_FP

    e = load_table(spark, sf_dir, "embeddings")
    cents = hash_sampled_centroids(e, IVF_CELLS)
    ct = _centroid_table(cents)
    cells = assign_cells(e, cents).select("vec_id", "cell")
    raw = e.select("vec_id", V.as_double("embedding").alias("_v"))
    resid = raw.join(cells, "vec_id").select(
        "vec_id",
        F.zip_with(
            F.col("_v"),
            F.element_at(ct, F.col("cell") + 1),
            lambda x, y: x - y,
        ).alias("rv"),
    )
    out = None
    for enc_label, src, col in (("raw", e, "embedding"), ("residual", resid, "rv")):
        books = codebook_relation(src, "vec_id", col)
        v = V.as_double(col)
        ex = src.select(
            "vec_id", F.explode(_subspaces(v)).alias("_s")
        ).select("vec_id", F.col("_s.m").alias("m"), F.col("_s.sv").alias("pv"))
        scored = ex.join(F.broadcast(books), "m").select(
            "vec_id", "m", _d2(F.col("pv"), F.col("sv")).alias("d2")
        )
        best = scored.groupBy("vec_id", "m").agg(F.min("d2").alias("d2"))
        leg = (
            best.select(
                "m",
                "d2",
                F.expr(
                    f"CAST(floor(d2 * {PQ_DIST_FP} + 0.5) AS BIGINT)"
                ).alias("dfp"),
            )
            .groupBy("m")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.max("d2").alias("max_d2"),
                (
                    F.sum("dfp").cast("double")
                    / (
                        F.count(F.lit(1)).cast("double")
                        * F.lit(float(PQ_DIST_FP))
                    )
                ).alias("avg_d2"),
            )
            .select(
                F.lit(enc_label).alias("enc"),
                F.col("m").cast("bigint").alias("m"),
                "n",
                "max_d2",
                "avg_d2",
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _split_leakage_oracle() -> str:
    from hive_similarity_join_spark.queries.pipeline_q import (
        VAL_HEX_CUTOFF,
    )
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
lsh AS ({ORACLES["q_dedup_minhash_lsh"]}),
sp AS (
  SELECT doc_id,
         CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '{VAL_HEX_CUTOFF}'
              THEN 'val' ELSE 'train' END AS split
  FROM documents
),
lab AS (
  SELECT 'exact_t08' AS pair_source, s1.split AS a, s2.split AS b
  FROM exact e
  JOIN sp s1 ON s1.doc_id = e.id1
  JOIN sp s2 ON s2.doc_id = e.id2
  UNION ALL
  SELECT 'lsh_t08' AS pair_source, s1.split AS a, s2.split AS b
  FROM lsh l
  JOIN sp s1 ON s1.doc_id = l.id1
  JOIN sp s2 ON s2.doc_id = l.id2
),
c AS (
  SELECT pair_source,
         CASE WHEN a = 'train' AND b = 'train' THEN 'within_train'
              WHEN a = 'val' AND b = 'val' THEN 'within_val'
              ELSE 'cross' END AS bucket,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM lab GROUP BY 1, 2
),
t AS (
  SELECT pair_source, CAST(sum(n_pairs) AS BIGINT) AS tot
  FROM c GROUP BY 1
)
SELECT c.pair_source, c.bucket, c.n_pairs,
       CAST(c.n_pairs AS DOUBLE) / CAST(t.tot AS DOUBLE) AS frac
FROM c JOIN t USING (pair_source)
ORDER BY pair_source, bucket
"""


@query("q_split_leakage", oracle=_split_leakage_oracle())
def q_split_leakage(spark, sf_dir):
    """Eval-set leakage audit: near-duplicate pairs that CROSS the
    deterministic train/val split — the hygiene check a training
    pipeline runs before trusting any held-out metric (a val doc with
    a train near-dup is memorization, not generalization; the reason
    deduplication and decontamination run BEFORE splitting). Buckets
    every pair of the two already-hash-verified pair relations — the
    exact t=0.8 Jaccard graph (truth) and the banded MinHash-LSH
    graph (the at-scale generator) — by q_split_train_val's exact
    split function, reporting per-source within-train / within-val /
    cross counts and fractions. Reading the two sources TOGETHER also
    prices the audit itself: the LSH row is what a 100 TB pipeline
    would actually run, and its cross count vs the exact row's is the
    leakage the banding would miss.

    Composition discipline: both generators are the verified keys
    composed verbatim (their oracles as CTEs, their session-pinned
    builders as DataFrames — exact_pair_graph / lsh_pair_graph), so
    the audit cannot drift from what it audits, and the expensive
    relations are shared with the rest of the audit family in-session.
    Scale shape: two id-pair-sized joins against a broadcast-able
    (doc_id, split) projection (split is a pure md5 function — no
    extra shuffle), then a 6-row aggregate; the one double division
    per row is identically associated on both engines."""
    from hive_similarity_join_spark.queries.pipeline_q import (
        VAL_HEX_CUTOFF as _LEAK_CUTOFF,
    )

    sp = (
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id"),
            F.when(
                F.md5(F.col("doc_id").cast("string").cast("binary"))
                < _LEAK_CUTOFF,
                "val",
            )
            .otherwise("train")
            .alias("split"),
        )
    )
    s1 = sp.select(
        F.col("doc_id").alias("id1"), F.col("split").alias("a")
    )
    s2 = sp.select(
        F.col("doc_id").alias("id2"), F.col("split").alias("b")
    )
    legs = []
    for src_name, pairs in (
        ("exact_t08", exact_pair_graph(spark, sf_dir)),
        ("lsh_t08", lsh_pair_graph(spark, sf_dir).select("id1", "id2")),
    ):
        legs.append(
            pairs.join(F.broadcast(s1), "id1")
            .join(F.broadcast(s2), "id2")
            .select(
                F.lit(src_name).alias("pair_source"),
                F.when(
                    (F.col("a") == "train") & (F.col("b") == "train"),
                    "within_train",
                )
                .when(
                    (F.col("a") == "val") & (F.col("b") == "val"),
                    "within_val",
                )
                .otherwise("cross")
                .alias("bucket"),
            )
        )
    lab = legs[0].unionByName(legs[1])
    c = lab.groupBy("pair_source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    t = c.groupBy("pair_source").agg(
        F.sum("n_pairs").cast("bigint").alias("tot")
    )
    return (
        c.join(F.broadcast(t), "pair_source")
        .select(
            "pair_source",
            "bucket",
            "n_pairs",
            (
                F.col("n_pairs").cast("double")
                / F.col("tot").cast("double")
            ).alias("frac"),
        )
        .orderBy("pair_source", "bucket")
    )


def _dedup_savings_oracle() -> str:
    from hive_similarity_join_spark.queries.pipeline_q import _quality_sql

    return f"""
WITH RECURSIVE pairs AS ({duck_minhash_oracle(MINHASH_T)}),
edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION
  SELECT id2 AS a, id1 AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
q AS (
  SELECT doc_id, {_quality_sql()} AS quality
  FROM (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents)
  WHERE len(bag) > 0
),
lab AS (
  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
  FROM q LEFT JOIN comp c ON c.id = q.doc_id
),
rnk AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id) AS rn
  FROM lab
),
flag AS (
  SELECT d.source AS source, d.n_chars AS n_chars,
         CASE WHEN r.rn IS NULL OR r.rn = 1 THEN 0 ELSE 1 END AS dropped
  FROM documents d LEFT JOIN rnk r ON r.doc_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(dropped) AS BIGINT) AS n_dup_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN dropped = 1 THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_dropped,
       CAST(sum(CASE WHEN dropped = 1 THEN n_chars ELSE 0 END)
            AS DOUBLE) /
       CAST(sum(n_chars) AS DOUBLE) AS savings_frac
FROM flag GROUP BY source ORDER BY source
"""


@query("q_report_dedup_savings", oracle=_dedup_savings_oracle())
def q_report_dedup_savings(spark, sf_dir):
    """The dedup pipeline's BUSINESS CASE, per source: how many
    documents and how many characters q_dedup_representatives'
    keep-one-per-cluster policy removes, and the resulting storage/
    compute savings fraction — the number a platform team actually
    reports when justifying the dedup stage (training tokens saved
    scale ~linearly with chars dropped). Documents outside the
    trainable scope (empty bag) and singleton clusters are kept; a
    non-representative member of any LSH cluster is dropped.

    Composition discipline: the pair graph is the session-pinned
    lsh_pair_graph (the verified flagship relation, shared in-session
    with the whole audit family), closed by the same checkpointed CC
    and ranked by the same (quality DESC, doc_id) survivor pick as
    q_dedup_representatives — this key only re-aggregates the
    keep/drop labeling against source and n_chars.

    Scale shape: CC label rounds on the id-pair graph, one window
    over the node-sized label table (component-partitioned — high
    cardinality), one broadcast-able label join back to the corpus
    projection, one source-keyed aggregate. The one double division
    per row is identically associated on both engines.

    Body lives in dedup_savings_from so the incremental mirror
    (streaming/incremental_savings.py) runs the IDENTICAL tail over
    its carried document state — the snm_scored_pairs_from seam
    pattern."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_pair_graph(spark, sf_dir).select("id1", "id2")
    return dedup_savings_from(docs, pairs, comp=lsh_cc_labels(spark, sf_dir))


def dedup_savings_from(docs, pairs, comp=None):
    """q_report_dedup_savings' labeling + aggregate tail over an
    explicit (docs, pairs) input: CC over the pair graph, best-quality
    survivor per component, per-source docs/chars savings rollup.
    ``docs`` needs (doc_id, text, source, n_chars)."""
    from pyspark.sql import Window

    base = docs.select("doc_id", TX.bag_tokens("text").alias("_bag"))
    # ``comp``: a precomputed CC labeling of ``pairs`` (the batch key
    # passes the session-pinned lsh_cc_labels); None = compute here
    # (the incremental mirror's path).
    comp = connected_components(pairs) if comp is None else comp
    q = base.filter(F.size("_bag") > 0).select(
        "doc_id",
        TX.quality_score_from_bag(F.col("_bag")).alias("quality"),
    )
    lab = q.join(comp, q["doc_id"] == comp["id"], "left").select(
        "doc_id",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("component"),
        "quality",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    rnk = lab.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", "rn"
    )
    flag = (
        docs.select("doc_id", "source", "n_chars")
        .join(rnk, "doc_id", "left")
        .select(
            "source",
            "n_chars",
            F.when(F.col("rn").isNull() | (F.col("rn") == 1), 0)
            .otherwise(1)
            .alias("dropped"),
        )
    )
    dropped_chars = F.sum(
        F.when(F.col("dropped") == 1, F.col("n_chars")).otherwise(0)
    )
    return (
        flag.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dropped").cast("bigint").alias("n_dup_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
            dropped_chars.cast("bigint").alias("chars_dropped"),
            (
                dropped_chars.cast("double")
                / F.sum("n_chars").cast("double")
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


# ---------------- winnowing fingerprints (MOSS) and their audit

_WIN_K = 3        # gram size (the q_dedup_ngram token universe)
_WIN_W = 4        # winnowing window: >=1 fingerprint per W consecutive grams
_WIN_CAP = 20     # stop-fingerprint doc-frequency cap (the SPAN_CAP posture)
_WIN_PBITS = 20   # position bits packed under the 40-bit gram hash


def _winnow_fp_ctes() -> str:
    """DuckDB CTE block ending in ``fpk`` — the capped winnowed
    fingerprint set (doc_id, h) — shared verbatim by the pairs key and
    the recall audit so the two cannot drift. Mirrors
    winnow_fingerprints term for term (same packed-key argmin)."""
    pmax = (1 << _WIN_PBITS) - 1
    return f"""
bags AS (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents),
gl AS (
  SELECT doc_id, {_duck_grams(_WIN_K)} AS grams
  FROM bags WHERE len(bag) >= {_WIN_K}
),
g AS (
  SELECT doc_id, r.pos,
         {TX.duck_md5_prefix40("grams[r.pos]")} * {1 << _WIN_PBITS}
           + ({pmax} - r.pos) AS key,
         len(grams) AS n
  FROM gl, unnest(range(1, len(grams) + 1)) AS r(pos)
),
w AS (
  SELECT doc_id, pos - o.off AS win, key
  FROM g, unnest(range(0, {_WIN_W})) AS o(off)
  WHERE pos - o.off >= 1
    AND pos - o.off <= greatest(1, n - {_WIN_W} + 1)
),
sel AS (SELECT doc_id, win, min(key) AS sk FROM w GROUP BY 1, 2),
fp AS (SELECT DISTINCT doc_id, sk >> {_WIN_PBITS} AS h FROM sel),
keep AS (
  SELECT h FROM fp GROUP BY h
  HAVING count(*) BETWEEN 2 AND {_WIN_CAP}
),
fpk AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h))
"""


def winnow_fingerprints(docs):
    """(doc_id, h): the UNCAPPED winnowed fingerprint set of each
    document (doc-LOCAL — no corpus statistics, which is what lets the
    incremental mirror carry it; the df cap lives in
    winnow_pairs_from) —
    word {K}-gram 40-bit hashes, thinned by the MOSS winnowing rule
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003: from every window of
    {W} consecutive gram hashes keep the MINIMUM, ties broken by
    RIGHTMOST position), then capped at doc-frequency {CAP} (hot
    boilerplate fingerprints belong in a boilerplate report, not a
    pair join — the SPAN_CAP argument).

    The argmin-with-rightmost-tie is ONE bigint min: keys pack
    (hash << {PB}) + ({PMAX} - pos), so smaller hash wins first and
    larger pos wins among equal hashes — no window functions, no
    structs, both engines compare the same integers. Docs shorter
    than the window get a single truncated window (the classic
    convention: every doc with >= 1 gram yields >= 1 fingerprint).
    Position capacity is 2^{PB}-1 grams/doc — far above the corpus
    (docs are ~60 tokens); a 100 TB run with book-length docs raises
    PBITS or chunks first (the pack_sequences posture).""".format(
        K=_WIN_K, W=_WIN_W, CAP=_WIN_CAP, PB=_WIN_PBITS,
        PMAX=(1 << _WIN_PBITS) - 1,
    )
    pmax = F.lit((1 << _WIN_PBITS) - 1)
    grams = docs.select(
        "doc_id",
        TX.word_ngrams(TX.bag_tokens("text"), _WIN_K).alias("grams"),
    )
    g = (
        grams.select(
            "doc_id",
            F.size("grams").alias("n"),
            F.posexplode("grams").alias("p0", "gram"),
        )
        .select(
            "doc_id",
            "n",
            (F.col("p0") + 1).alias("pos"),
            (
                TX.md5_prefix40(F.col("gram")) * F.lit(1 << _WIN_PBITS)
                + (pmax - (F.col("p0") + 1))
            ).alias("key"),
        )
    )
    w = (
        g.select(
            "doc_id",
            "key",
            "pos",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(_WIN_W - 1))).alias("off"),
        )
        .select(
            "doc_id",
            "key",
            (F.col("pos") - F.col("off")).alias("win"),
            "n",
        )
        .filter(
            (F.col("win") >= 1)
            & (F.col("win") <= F.greatest(F.lit(1), F.col("n") - _WIN_W + 1))
        )
    )
    sel = w.groupBy("doc_id", "win").agg(F.min("key").alias("sk"))
    return sel.select(
        "doc_id", F.shiftright("sk", _WIN_PBITS).alias("h")
    ).distinct()


def winnow_pairs_from(fp):
    """q_dedup_winnowing's corpus-global tail over an explicit
    UNCAPPED (doc_id, h) fingerprint relation: doc-frequency cap +
    fingerprint self-join -> (id1, id2, n_shared). Split out (the
    snm_scored_pairs_from seam pattern) because the fingerprints are
    DOC-LOCAL (carryable by the incremental mirror,
    streaming/incremental_winnowing.py) while the cap and the pair
    join read corpus-global state (recomputed at emit)."""
    keep = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _WIN_CAP))
        .select("h")
    )
    fpk = fp.join(keep, "h", "left_semi")
    a = fpk.alias("a")
    b = fpk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )


@query(
    "q_dedup_winnowing",
    oracle=f"""
WITH {_winnow_fp_ctes()}
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def q_dedup_winnowing(spark, sf_dir):
    """WINNOWING near-duplicate candidates — the MOSS document-sketch
    family, the FOURTH near-dup generator after MinHash-LSH, SimHash
    and sorted-neighborhood: doc pairs sharing >= 1 winnowed
    fingerprint, with the shared count. Winnowing's guarantee is
    POSITIONAL, which the set-similarity families lack: any shared
    run of {G} consecutive identical grams ({G}+{K}-1 tokens) is
    caught with certainty (some window inside the run selects the
    same minimum in both docs), so it is the sketch-sized stand-in
    for the exact span detector q_dedup_substring — sketch size
    ~2/( {W}+1) of the gram stream instead of every gram.

    Scale shape: one gram explode ({W}x window fan-out is the only
    amplification, bounded and constant), one partial-aggregated
    argmin per (doc, window), a doc-frequency-capped self-join on the
    40-bit fingerprint — never all-pairs, the same bucket-join
    posture as every candidate generator here. Determinism: the
    packed-key min is a single bigint comparison; md5 gram hashes are
    engine-portable.""".format(
        G=_WIN_W, K=_WIN_K, W=_WIN_W
    )
    d = load_table(spark, sf_dir, "documents")
    return winnow_pairs_from(winnow_fingerprints(d))


def _winnowing_recall_oracle() -> str:
    from hive_similarity_join_spark.queries import text_q  # noqa: F401
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH {_winnow_fp_ctes()},
wp AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM fpk a JOIN fpk b ON a.h = b.h AND a.doc_id < b.doc_id
),
exact AS (SELECT id1, id2 FROM ({ORACLES["q_dedup_ngram"]})),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
nw AS (SELECT CAST(count(*) AS BIGINT) AS n_winnow FROM wp),
nh AS (
  SELECT CAST(count(*) AS BIGINT) AS n_hits
  FROM wp JOIN exact USING (id1, id2)
)
SELECT n_exact, n_winnow, n_hits,
       CAST(n_hits AS DOUBLE) / CAST(n_winnow AS DOUBLE) AS precision,
       CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
FROM ne, nw, nh
"""


@query("q_dedup_winnowing_recall", oracle=_winnowing_recall_oracle())
def q_dedup_winnowing_recall(spark, sf_dir):
    """Winnowing's MEASURED precision/recall against the exact
    trigram-Jaccard pair graph (q_dedup_ngram at its threshold) — the
    audit every approximate family here carries (the q_dedup_lsh_recall
    posture): winnowing guarantees shared-RUN detection, not Jaccard
    recall, so before it joins a blocking ensemble its hit rate against
    the set-similarity truth is a number to measure per corpus, not
    assume. Precision < 1 is expected and informative: one shared
    fingerprint is one shared span — pairs the Jaccard threshold
    rejects but winnowing surfaces are exactly the span-duplicates
    q_dedup_substring exists for.

    Both pair generators are already-hash-verified keys composed
    verbatim (oracle CTEs / DataFrames); the audit adds two counts and
    one id-pair join."""
    from hive_similarity_join_spark.queries.text_q import ngram_pair_graph

    exact = ngram_pair_graph(spark, sf_dir).select("id1", "id2")
    wp = q_dedup_winnowing(spark, sf_dir).select("id1", "id2")
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    nw = wp.agg(F.count(F.lit(1)).cast("bigint").alias("n_winnow"))
    hits = wp.join(exact, ["id1", "id2"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    return (
        ne.crossJoin(nw)
        .crossJoin(hits)
        .select(
            "n_exact",
            "n_winnow",
            "n_hits",
            (
                F.col("n_hits").cast("double")
                / F.col("n_winnow").cast("double")
            ).alias("precision"),
            (
                F.col("n_hits").cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


# ---------------- link prediction over the near-dup pair graph


_LP_DEG_CAP = 128  # wedge centers above this degree are skipped


def _link_pred_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    return f"""
WITH lsh AS ({ORACLES["q_dedup_minhash_lsh"]}),
exact AS ({ORACLES["q_simjoin_jaccard_self"]}),
e AS (
  SELECT id1 AS a, id2 AS b FROM lsh
  UNION ALL
  SELECT id2 AS a, id1 AS b FROM lsh
),
ctr AS (
  SELECT a AS c FROM e
  GROUP BY a
  HAVING count(*) <= {_LP_DEG_CAP}
     AND substr(md5(CAST(a AS VARCHAR)), 1, 1) = '0'
),
w AS (
  SELECT x.a AS id1, y.b AS id2
  FROM e x
  JOIN ctr ON ctr.c = x.b
  JOIN e y ON y.a = x.b AND x.a < y.b
),
cn AS (SELECT id1, id2, count(*) AS common FROM w GROUP BY 1, 2),
nonedge AS (
  SELECT c.id1, c.id2, c.common
  FROM cn c ANTI JOIN lsh l USING (id1, id2)
)
SELECT n.id1, n.id2, CAST(n.common AS BIGINT) AS common_sampled,
       (ex.id1 IS NOT NULL) AS is_true_pair
FROM nonedge n
LEFT JOIN exact ex ON ex.id1 = n.id1 AND ex.id2 = n.id2
"""


@query("q_graph_link_prediction", oracle=_link_pred_oracle())
def q_graph_link_prediction(spark, sf_dir):
    """LINK PREDICTION over the MinHash-LSH pair graph
    (common-neighbors, the classic local index of Liben-Nowell &
    Kleinberg, CIKM 2003) — the dedup auditor's MISSED-PAIR worklist:
    two docs that are NOT an LSH candidate but share LSH-duplicate
    neighbors are exactly the pairs the banding likely missed
    (near-duplication is nearly transitive, so open wedges in a dup
    graph are evidence of a miss, and LSH's ~0.79 recall on this
    corpus says ~1 in 5 true edges IS missing). Emits every
    wedge-connected non-edge with its (sampled) common-neighbor count
    and — because the exact t=0.8 graph is available as ground truth —
    an is_true_pair flag: the measured precision of triangle-closure
    as a recall-repair strategy, per pair.

    The measured answer on THIS corpus is a clean NEGATIVE (the
    ivfadc_res posture — audit rows earn their keep either way): at
    sf0.01 ZERO of the 228 predicted pairs is a true t=0.8 pair,
    and — checked from the other side, UNSAMPLED and UNCAPPED — ZERO
    of the 6,367 LSH-missed true pairs has even one common LSH
    neighbor. Jaccard
    transitivity only bounds sim(a,b) >= 2t-1 = 0.6 through a shared
    neighbor, and at the t=0.8 boundary the misses live exactly where
    closure is weakest — so closure-based recall repair buys nothing
    here, and a pipeline that assumed it would have verified 9.5k
    pairs for zero recall. That corpus-dependence is WHY this is a
    measurement key, not an assumption.

    Sampled-denominator posture (the q_dedup_lsh_recall_sampled
    pattern, THE 100 TB device): wedges are enumerated only through
    CENTER docs that (a) fall in a deterministic 1/16 md5 bucket and
    (b) have degree <= 128 — dup families are near-cliques (max
    degree 258 at sf0.01), so full wedge enumeration is sum-of-deg^2
    (~7e8 wedges at sf0.1, measured 98s) while any clique member's
    wedges are rediscovered through every other member; hub centers
    add only redundant witnesses for pairs their lower-degree
    neighbors already witness. The two filters bound the join at
    |centers| x CAP^2 regardless of corpus density.
    common_sampled counts eligible witnesses only, documented as
    such.

    Scale shape: one center-filtered 2-walk self-join of the pinned
    candidate relation, one anti-join against it, one left join onto
    the session-pinned exact graph (both pair relations already
    priced by their own keys)."""
    lsh = lsh_pair_graph(spark, sf_dir).select("id1", "id2")
    exact = exact_pair_graph(spark, sf_dir).select(
        F.col("id1").alias("x1"), F.col("id2").alias("x2")
    )
    e = lsh.select(F.col("id1").alias("a"), F.col("id2").alias("b")).unionAll(
        lsh.select(F.col("id2").alias("a"), F.col("id1").alias("b"))
    )
    ctr = (
        e.groupBy("a")
        .agg(F.count(F.lit(1)).alias("_d"))
        .filter(
            (F.col("_d") <= _LP_DEG_CAP)
            & (F.substring(F.md5(F.col("a").cast("string")), 1, 1) == "0")
        )
        .select(F.col("a").alias("c"))
    )
    w = (
        e.alias("x")
        .join(ctr, F.col("x.b") == F.col("c"), "left_semi")
        .join(
            e.alias("y"),
            (F.col("x.b") == F.col("y.a")) & (F.col("x.a") < F.col("y.b")),
        )
        .select(F.col("x.a").alias("id1"), F.col("y.b").alias("id2"))
    )
    cn = w.groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("common"))
    nonedge = cn.join(lsh, ["id1", "id2"], "left_anti")
    return (
        nonedge.join(
            exact,
            (F.col("id1") == F.col("x1")) & (F.col("id2") == F.col("x2")),
            "left",
        )
        .select(
            "id1",
            "id2",
            F.col("common").cast("bigint").alias("common_sampled"),
            F.col("x1").isNotNull().alias("is_true_pair"),
        )
    )


# ---------------- KMV sketch set algebra (theta-sketch style)


def _kmv_setops_oracle() -> str:
    scale = float(KMV_K - 1) * 2.0 ** 60
    return f"""
WITH bags AS (
  SELECT doc_id, source, {TX.duck_bag()} AS bag FROM documents
),
sh AS (
  SELECT DISTINCT source, {TX.duck_md5_prefix60('t.g')} AS h
  FROM bags, unnest({_duck_grams(_KMV_N)}) AS t(g)
  WHERE len(bag) >= {_KMV_N}
),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
prs AS (
  SELECT a.source AS s1, a.n AS n1, b.source AS s2, b.n AS n2
  FROM tot a JOIN tot b ON a.source < b.source
),
inter AS (
  SELECT x.source AS s1, y.source AS s2, CAST(count(*) AS BIGINT) AS ni
  FROM sh x JOIN sh y ON y.h = x.h AND x.source < y.source
  GROUP BY 1, 2
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh
  ) WHERE rn <= {KMV_K}
),
mg AS (
  SELECT DISTINCT p.s1, p.s2, s.h
  FROM prs p JOIN sk s ON s.source IN (p.s1, p.s2)
),
usk AS (
  SELECT s1, s2, h FROM (
    SELECT s1, s2, h,
           row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
    FROM mg
  ) WHERE rn <= {KMV_K}
),
theta AS (
  SELECT s1, s2, max(h) AS hk, CAST(count(*) AS BIGINT) AS nu
  FROM usk GROUP BY 1, 2
),
common AS (
  SELECT u.s1, u.s2, CAST(count(*) AS BIGINT) AS c
  FROM usk u
  JOIN sk a ON a.source = u.s1 AND a.h = u.h
  JOIN sk b ON b.source = u.s2 AND b.h = u.h
  GROUP BY 1, 2
)
SELECT p.s1, p.s2,
       CAST(p.n1 + p.n2 - coalesce(i.ni, 0) AS BIGINT) AS union_exact,
       CASE WHEN t.nu >= {KMV_K} THEN {scale} / CAST(t.hk AS DOUBLE)
            ELSE CAST(t.nu AS DOUBLE) END AS union_est,
       CAST(coalesce(i.ni, 0) AS BIGINT) AS inter_exact,
       (CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(t.nu AS DOUBLE))
         * (CASE WHEN t.nu >= {KMV_K} THEN {scale} / CAST(t.hk AS DOUBLE)
                 ELSE CAST(t.nu AS DOUBLE) END) AS inter_est,
       CAST(coalesce(i.ni, 0) AS DOUBLE)
         / CAST(p.n1 + p.n2 - coalesce(i.ni, 0) AS DOUBLE) AS jaccard_exact,
       CAST(coalesce(c.c, 0) AS DOUBLE) / CAST(t.nu AS DOUBLE)
         AS jaccard_est
FROM prs p
JOIN theta t ON t.s1 = p.s1 AND t.s2 = p.s2
LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
LEFT JOIN common c ON c.s1 = p.s1 AND c.s2 = p.s2
"""


@query("q_agg_kmv_setops", oracle=_kmv_setops_oracle())
def q_agg_kmv_setops(spark, sf_dir):
    """KMV SKETCH SET ALGEBRA (the theta-sketch pattern of Dasgupta et
    al., 'Theta-Sketch Framework', and Beyer et al. SIGMOD 2007 for
    KMV intersections) — the property that makes distinct-count
    sketches COMPOSABLE and therefore worth shipping at 100 TB: the
    k-minimum-values sketches of every source, built ONCE, answer
    |A u B| (merge, keep k smallest, (k-1)/h_k), |A n B| (fraction of
    the union sample present in both sketches x the union estimate)
    and Jaccard for EVERY source pair without touching the data
    again. Emits per source pair: exact and estimated union size,
    intersection size and Jaccard over 4-gram shingles — the sketch-
    accuracy audit extended from per-group cardinality
    (q_agg_kmv_distinct) to the pairwise overlap matrix a mixture
    designer reads (which sources duplicate each other's content).

    Determinism (the KMV key's posture): sketches are 'the k smallest
    md5-prefix60 hashes' — no RNG; estimates are exact-int divisions
    in double with fixed association (c/nu first, then x union_est);
    groups whose merged sketch has < k hashes fall back to the exact
    merged count (the standard KMV rule, and the regime where the
    'estimate' IS exact).

    Scale shape: shingle relation built once (distinct aggregate);
    per-source sketches via a rank window over the AGGREGATED
    relation (the gate's clean case); everything pairwise operates on
    k-sized sketches — 190 pairs x 128 rows, broadcast-sized however
    big the corpus. The EXACT columns are the audit's cost (one
    shingle self-join); a production run drops them and keeps the
    sketch algebra."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    grams = F.array_distinct(TX.word_ngrams(TX.bag_tokens("text"), _KMV_N))
    sh = pin(
        d.select("source", F.explode(grams).alias("g"))
        .select("source", TX.md5_prefix60(F.col("g")).alias("h"))
        .distinct()
    )
    tot = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    prs = (
        tot.alias("a")
        .join(tot.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"),
            F.col("a.n").alias("n1"),
            F.col("b.source").alias("s2"),
            F.col("b.n").alias("n2"),
        )
    )
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("y.h") == F.col("x.h"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("s1"), F.col("y.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    wsk = Window.partitionBy("source").orderBy("h")
    sk = (
        sh.withColumn("rn", F.row_number().over(wsk))
        .filter(F.col("rn") <= KMV_K)
        .select("source", "h")
    )
    mg = (
        prs.select("s1", "s2")
        .join(
            sk,
            (F.col("source") == F.col("s1"))
            | (F.col("source") == F.col("s2")),
        )
        .select("s1", "s2", "h")
        .distinct()
    )
    wu = Window.partitionBy("s1", "s2").orderBy("h")
    usk = (
        mg.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= KMV_K)
        .select("s1", "s2", "h")
    )
    theta = usk.groupBy("s1", "s2").agg(
        F.max("h").alias("hk"),
        F.count(F.lit(1)).cast("bigint").alias("nu"),
    )
    ska = sk.select(F.col("source").alias("_sa"), F.col("h").alias("_ha"))
    skb = sk.select(F.col("source").alias("_sb"), F.col("h").alias("_hb"))
    common = (
        usk.join(
            ska, (F.col("_sa") == F.col("s1")) & (F.col("_ha") == F.col("h"))
        )
        .join(
            skb, (F.col("_sb") == F.col("s2")) & (F.col("_hb") == F.col("h"))
        )
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    scale = float(KMV_K - 1) * 2.0 ** 60
    u_est = F.when(
        F.col("nu") >= KMV_K, F.lit(scale) / F.col("hk").cast("double")
    ).otherwise(F.col("nu").cast("double"))
    ni0 = F.coalesce(F.col("ni"), F.lit(0))
    c0 = F.coalesce(F.col("c"), F.lit(0))
    j_est = c0.cast("double") / F.col("nu").cast("double")
    return (
        prs.join(theta, ["s1", "s2"])
        .join(inter, ["s1", "s2"], "left")
        .join(common, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            (F.col("n1") + F.col("n2") - ni0).cast("bigint").alias(
                "union_exact"
            ),
            u_est.alias("union_est"),
            ni0.cast("bigint").alias("inter_exact"),
            (j_est * u_est).alias("inter_est"),
            (
                ni0.cast("double")
                / (F.col("n1") + F.col("n2") - ni0).cast("double")
            ).alias("jaccard_exact"),
            j_est.alias("jaccard_est"),
        )
    )
