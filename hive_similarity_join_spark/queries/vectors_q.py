"""Vector / similarity-search query keys (SURVEY §2.9 + EXT dedup).

Brute-force exact paths here are the correctness baseline; the scale
path for ANN is the LSH-bucketed variant in ``operators/knn.py``
(rows-only checked — approximate results are engine-specific).

Join strategy at 100 TB: the probe side is small (a query set), so every
pairing below is a broadcast join of probes against a streamed corpus —
no shuffle of the corpus at all; top-k per probe then needs only a
shuffle of (probe, candidate) pairs bounded by |probes| * corpus_hits.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hive_similarity_join_spark.functions import vectors as V
from hive_similarity_join_spark.operators.rank import ranked_topk
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table
from hive_similarity_join_spark.operators.partitions import parallelism

KNN_K = 5
N_PROBES = 10
DEDUP_COS_T = 0.3  # synthetic embeddings are near-orthogonal; 0.3 -> ~1k pairs
EXACT_DEDUP_MAX_ROWS = 100_000  # exact all-pairs dedup cap: ~100k x 64 doubles


def topk_ckpt(name):
    """Decorator (applied UNDER ``@query``) that session-checkpoints a
    per-probe top-k builder — r17: each ANN method's top-k relation is
    computed by its own key AND re-run by the q_vec_ann_recall
    dashboard (and the exact baseline additionally by the recall-curve
    and prefix-dim audits), so every search leg executed 2-3x per
    session. The relations are |probes| x k rows (tiny); the ckpt tier
    plan-gates the build and degrades to recompute — see
    operators/cache.py session_ckpt."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            from hive_similarity_join_spark.operators.cache import scope, session_ckpt

            return session_ckpt(name, scope(spark, sf_dir), lambda: fn(spark, sf_dir))

        return wrapped

    return deco


def _corpus_rows(sf_dir: str) -> int | None:
    """Embeddings row count from parquet FOOTER metadata — no Spark job
    and no data scan (footers carry exact counts; at cluster scale this
    is the catalog-statistics lookup). None if the layout is unreadable,
    in which case the caller falls back to a LIMIT-bounded count."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def _pairs(spark, sf_dir, probe_pred=None):
    """(probe side a, corpus side b). The streamed (non-broadcast) side
    is explicitly repartitioned: a nested-loop pair join's OUTPUT is
    quadratic while its input is one parquet chunk, so without this the
    whole scoring loop runs in a single task (AQE sizes by input)."""
    n_part = parallelism(spark)
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("id1"), V.as_double("embedding").alias("_v1")
    )
    if probe_pred is not None:
        a = a.filter(probe_pred)
    b = e.select(
        F.col("vec_id").alias("id2"), V.as_double("embedding").alias("_v2")
    ).repartition(n_part)
    return a, b


def _sq8(spark, sf_dir):
    """(vec_id, _v double[], amax, scale, _qv int8-codes-as-doubles) —
    the Spark twin of the _DUCK_SQ8 skeleton below."""
    e = load_table(spark, sf_dir, "embeddings")
    v = V.as_double("embedding")
    return (
        e.select("vec_id", v.alias("_v"), V.abs_max(v).alias("amax"))
        .filter(F.col("amax") > 0)
        .withColumn("scale", F.lit(V.SQ8_CLIP) / F.col("amax"))
        .withColumn("_qv", V.quantize_codes(F.col("_v"), F.col("scale")))
    )


# Shared SQL skeleton: per-vector scale + int8 codes (one definition
# with the Spark side via V.duck_abs_max/V.duck_quantize).
_DUCK_SQ8 = f"""
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
m AS (
  SELECT vec_id, v, {V.duck_abs_max('v')} AS amax FROM v
),
s AS (
  SELECT vec_id, v, amax, {V.SQ8_CLIP} / amax AS scale FROM m WHERE amax > 0
),
q AS (
  SELECT vec_id, v, amax, scale, {V.duck_quantize('v', 'scale')} AS qv
  FROM s
)"""


@query(
    "q_vec_quantize",
    oracle=f"""
WITH {_DUCK_SQ8}
SELECT vec_id, amax, scale,
       CAST(list_reduce(qv, (x, y) -> x + y) AS BIGINT) AS q_sum,
       list_max(list_transform(generate_series(1, {V.DIM}),
                               i -> abs(v[i] - qv[i] / scale))) AS max_err
FROM q
""",
)
def q_vec_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column — the
    4x compression step an ANN serving path applies before indexing
    (q_vec_knn_ivf's cells would store these codes): per-vector scale
    ``127/max|x|``, code ``clamp(floor(x*scale + 0.5), ±127)``, plus the
    audit columns a pipeline gates on (code checksum, max absolute
    reconstruction error). Emitted per vector, so the compare covers
    every code via q_sum and the worst-case error via max_err.

    Bit-exactness devices: ``floor(x + 0.5)`` instead of round() —
    floor is IEEE-exact on both engines while round()'s half-breaking
    mode differs; clamp via greatest/least on DOUBLES throughout (the
    codes are integral-valued doubles, exact up to 2^53, summed
    exactly in any order); abs/division/subtraction per element with
    identical association, max via array_max/list_max (a comparison,
    not an accumulation). Zero-vector rows are excluded (scale
    undefined) — documented, deterministic on both sides.

    Scale shape: pure map-side O(dim) codegen arithmetic, zero
    shuffles — parallelism is the scan's; at 100 TB this pipelines
    with the parquet read exactly like q_pii_redact."""
    quant = _sq8(spark, sf_dir)
    q_sum = F.aggregate(
        F.col("_qv"), F.lit(0.0), lambda acc, x: acc + x
    ).cast("bigint")
    max_err = F.array_max(
        F.zip_with(
            F.col("_v"), F.col("_qv"), lambda x, q: F.abs(x - q / F.col("scale"))
        )
    )
    return quant.select(
        "vec_id", "amax", "scale", q_sum.alias("q_sum"), max_err.alias("max_err")
    )


@query(
    "q_vec_cosine",
    oracle=f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {V.duck_cosine('a.embedding', 'b.embedding')} AS sim
FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
WHERE a.vec_id < {N_PROBES}
""",
)
def q_vec_cosine(spark, sf_dir):
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    sim = V.cosine(F.col("_v1"), F.col("_v2"))
    return (
        F.broadcast(a)
        .join(b, F.col("id2") > F.col("id1"))
        .select("id1", "id2", sim.alias("sim"))
    )


@query(
    "q_vec_l2",
    oracle=f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {V.duck_l2('a.embedding', 'b.embedding')} AS dist
FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
WHERE a.vec_id < {N_PROBES}
""",
)
def q_vec_l2(spark, sf_dir):
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    dist = V.l2(F.col("_v1"), F.col("_v2"))
    return (
        F.broadcast(a)
        .join(b, F.col("id2") > F.col("id1"))
        .select("id1", "id2", dist.alias("dist"))
    )


@query(
    "q_vec_knn",
    oracle=f"""
SELECT * FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
         {V.duck_cosine('a.embedding', 'b.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {V.duck_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS BIGINT) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_PROBES}
) WHERE rank <= {KNN_K}
""",
)
@topk_ckpt("topk_exact")
def q_vec_knn(spark, sf_dir):
    """Exact brute-force k-NN (the ANN baseline): broadcast probes ->
    score corpus -> per-probe top-k via window. Cosine is bit-exact
    across engines, so ranking (with vec_id tie-break) is deterministic.
    """
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    sim = V.cosine(F.col("_v1"), F.col("_v2"))
    scored = (
        F.broadcast(a)
        .join(b, F.col("id1") != F.col("id2"))
        .select(
            F.col("id1").alias("probe_id"),
            F.col("id2").alias("vec_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= KNN_K)


_NEG_CEIL = 0.9  # at/above this = near-duplicate (positive pair), never a negative
_NEG_FLOOR = 0.3  # below this = trivially easy, no training signal
_NEG_K = 5


@query(
    "q_vec_hard_negatives",
    oracle=f"""
SELECT * FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
         {V.duck_cosine('a.embedding', 'b.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {V.duck_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS BIGINT) AS rank
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_PROBES}
    AND {V.duck_cosine('a.embedding', 'b.embedding')} < {_NEG_CEIL}
    AND {V.duck_cosine('a.embedding', 'b.embedding')} >= {_NEG_FLOOR}
) WHERE rank <= {_NEG_K}
""",
)
def q_vec_hard_negatives(spark, sf_dir):
    """HARD-NEGATIVE MINING for contrastive training — the embedding-
    pipeline step between dedup and the training dataloader: per
    probe, the top-{K} most-similar corpus vectors inside the
    semi-hard band [{FLOOR}, {CEIL}) — below the near-duplicate
    ceiling (a pair at/above it is a POSITIVE by the dedup keys'
    t=0.9 convention, and mining it as a negative poisons the loss —
    the classic false-negative failure of in-batch sampling) yet
    above the easy-negative floor where gradients vanish (the
    semi-hard band of Schroff et al., CVPR 2015 §3.2). Emits
    (probe_id, vec_id, sim, rank) — the per-anchor negative list a
    contrastive batch builder joins against.

    Determinism: the band filter compares the SAME bit-exact cosine
    both engines compute to the same literals, and ranking tie-breaks
    on vec_id — the q_vec_knn contract with one extra predicate.

    Scale shape: brute-force band scan here (broadcast probes, one
    corpus pass, per-probe top-k window keyed on high-cardinality
    probe_id); at 100 TB the band filter composes with any of the six
    ANN candidate generators instead — mine negatives from the probed
    cells' candidates, exactly as q_vec_knn_ivf prunes q_vec_knn —
    since a miss in the band only costs negative QUALITY, not
    correctness, the recall dashboards price that substitution.""".format(
        K=_NEG_K, FLOOR=_NEG_FLOOR, CEIL=_NEG_CEIL
    )
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    sim = V.cosine(F.col("_v1"), F.col("_v2"))
    scored = (
        F.broadcast(a)
        .join(b, F.col("id1") != F.col("id2"))
        .select(
            F.col("id1").alias("probe_id"),
            F.col("id2").alias("vec_id"),
            sim.alias("sim"),
        )
        .filter((F.col("sim") < _NEG_CEIL) & (F.col("sim") >= _NEG_FLOOR))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _NEG_K)
    )


SQ8_CAND_C = 50


@query(
    "q_vec_knn_quantized",
    oracle=f"""
WITH {_DUCK_SQ8},
cand AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id, a.v AS av, b.v AS bv,
         list_reduce(list_transform(generate_series(1, {V.DIM}),
                                    i -> a.qv[i] * b.qv[i]),
                     (x, y) -> x + y) AS qdot
  FROM q a JOIN q b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_PROBES}
),
top AS (
  SELECT probe_id, vec_id, av, bv,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY qdot DESC, vec_id) AS crank
  FROM cand
)
SELECT probe_id, vec_id, sim, rank FROM (
  SELECT probe_id, vec_id,
         {V.duck_cosine('av', 'bv')} AS sim,
         CAST(row_number() OVER (PARTITION BY probe_id
                                 ORDER BY {V.duck_cosine('av', 'bv')} DESC,
                                          vec_id) AS BIGINT) AS rank
  FROM top WHERE crank <= {SQ8_CAND_C}
)
WHERE rank <= {KNN_K}
""",
)
@topk_ckpt("topk_sq8")
def q_vec_knn_quantized(spark, sf_dir):
    """SQ8 two-stage ANN — the serving-path composition of
    q_vec_quantize: candidates by int8-code dot product (a 4x-smaller
    scan than full-precision scoring; on real hardware also the
    SIMD-int path every vector DB takes), then EXACT cosine rerank of
    the top-{SQ8_CAND_C} per probe. Approximate by design — the
    quantized stage can rank a true neighbor out of the candidate set
    — but fully DETERMINISTIC: codes are integral-valued doubles whose
    dot products are exact in any summation order, ties break by
    vec_id, and the oracle mirrors both stages, so unlike the k-means
    IVF key this ANN variant is hash-checked bit-exact (recall vs the
    exact q_vec_knn is pinned separately in pytest).

    Scale shape: same broadcast-probes posture as q_vec_knn — the
    corpus streams, nothing shuffles but (probe, candidate) pairs; the
    rerank touches only {SQ8_CAND_C} rows per probe. At 100 TB the
    codes column is what you'd sink back to parquet (4x scan savings
    on every subsequent query); the IVF key's partition pruning
    composes with this rerank orthogonally."""
    base = _sq8(spark, sf_dir)
    n_part = parallelism(spark)
    a = base.select(
        F.col("vec_id").alias("probe_id"),
        F.col("_v").alias("_av"),
        F.col("_qv").alias("_qa"),
    ).filter(F.col("probe_id") < N_PROBES)
    b = base.select(
        "vec_id", F.col("_v").alias("_bv"), F.col("_qv").alias("_qb")
    ).repartition(n_part)
    scored = (
        F.broadcast(a)
        .join(b, F.col("probe_id") != F.col("vec_id"))
        .withColumn("_qdot", V.dot(F.col("_qa"), F.col("_qb")))
    )
    wc = Window.partitionBy("probe_id").orderBy(F.desc("_qdot"), F.asc("vec_id"))
    cands = (
        scored.withColumn("_crank", F.row_number().over(wc))
        .filter(F.col("_crank") <= SQ8_CAND_C)
    )
    wk = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", V.cosine(F.col("_av"), F.col("_bv")))
        .withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "vec_id", "sim", "rank")
    )


def pq_sql_fragments() -> dict:
    """The PQ oracle's shared CTE bodies — reused verbatim by
    q_vec_knn_pq here and q_vec_knn_ivfadc (queries/dedup_q.py), so
    the two oracles cannot drift. Keys: cb (codebooks), enc (per-vector
    code lists), ptl (per-probe nested distance tables), fold(p, x)
    (the ordered ADC fold given probe/code relation aliases)."""
    from hive_similarity_join_spark.operators.pq import PQ_K, PQ_M, PQ_SUB

    sub = lambda m: (  # noqa: E731 — subvector m of an embedding ref
        f"list_transform(generate_series({m * PQ_SUB + 1}, {(m + 1) * PQ_SUB}), "
        f"i -> CAST(embedding[i] AS DOUBLE))"
    )
    books = "\nUNION ALL\n".join(
        f"""SELECT {m} AS m,
       CAST(row_number() OVER (
           ORDER BY md5('{m}:' || CAST(vec_id AS VARCHAR)), vec_id
       ) AS INTEGER) - 1 AS c,
       {sub(m)} AS sv
FROM (SELECT vec_id, embedding FROM embeddings
      ORDER BY md5('{m}:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K})"""
        for m in range(PQ_M)
    )
    d2 = (
        f"list_reduce(list_transform(generate_series(1, {PQ_SUB}), "
        f"i -> (CAST(e.embedding[cb.m * {PQ_SUB} + i] AS DOUBLE) - cb.sv[i])"
        f" * (CAST(e.embedding[cb.m * {PQ_SUB} + i] AS DOUBLE) - cb.sv[i])), "
        f"(x, y) -> x + y)"
    )
    enc = f"""enc0 AS (
  SELECT e.vec_id, cb.m, cb.c,
         row_number() OVER (
             PARTITION BY e.vec_id, cb.m ORDER BY {d2}, cb.c
         ) AS rn
  FROM embeddings e CROSS JOIN cb
),
enc AS (
  SELECT vec_id, list(c ORDER BY m) AS cd
  FROM enc0 WHERE rn = 1 GROUP BY vec_id
)"""
    ptl = f"""pt AS (
  SELECT e.vec_id AS probe_id, cb.m, cb.c, {d2} AS d2
  FROM embeddings e CROSS JOIN cb WHERE e.vec_id < {N_PROBES}
),
ptl AS (
  SELECT probe_id, list(dl ORDER BY m) AS dt FROM (
    SELECT probe_id, m, list(d2 ORDER BY c) AS dl
    FROM pt GROUP BY probe_id, m
  ) GROUP BY probe_id
)"""

    def fold(p: str, x: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {PQ_M}), "
            f"m -> {p}.dt[m][{x}.cd[m] + 1]), (a, b) -> a + b)"
        )

    return {"cb": books, "enc": enc, "ptl": ptl, "fold": fold, "d2": d2}


def _pq_oracle() -> str:
    cand_c, k = PQ_CAND_C, KNN_K
    fr = pq_sql_fragments()
    return f"""
WITH cb AS (
{fr["cb"]}
),
{fr["enc"]},
{fr["ptl"]},
scored AS (
  SELECT p.probe_id, x.vec_id,
         {fr["fold"]('p', 'x')} AS adist
  FROM ptl p CROSS JOIN enc x WHERE p.probe_id <> x.vec_id
),
cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (
               PARTITION BY probe_id ORDER BY adist, vec_id
           ) AS cr
    FROM scored
  ) WHERE cr <= {cand_c}
)
SELECT * FROM (
  SELECT c.probe_id, c.vec_id,
         {V.duck_cosine('pe.embedding', 'ce.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY c.probe_id
             ORDER BY {V.duck_cosine('pe.embedding', 'ce.embedding')} DESC,
                      c.vec_id
         ) AS BIGINT) AS rank
  FROM cand c
  JOIN embeddings pe ON pe.vec_id = c.probe_id
  JOIN embeddings ce ON ce.vec_id = c.vec_id
) WHERE rank <= {k}
"""


PQ_CAND_C = 20


@query("q_vec_knn_pq", oracle=_pq_oracle())
@topk_ckpt("topk_pq")
def q_vec_knn_pq(spark, sf_dir):
    """Product-quantization ANN with ADC re-rank (Jégou et al., TPAMI
    2011; operators/pq.py) — the fourth ANN path: 8 subspaces x 16
    hash-sampled codebook entries compress each vector to 8 codes
    (4 bytes vs 256 for raw floats); search computes each probe's
    8x16 distance tables ONCE and scores every corpus vector with 8
    table lookups folded in subspace order (never a groupBy float sum
    — the association would be nondeterministic), then exact-cosine
    reranks the top-{PQ_CAND_C}. Hash-checked end to end because the
    codebooks are SQL-mirrorable data samples (the q_vec_knn_ivf
    recipe).

    Scale shape: probes broadcast with their tables; the corpus
    streams its 4-byte codes — the per-pair cost is integer lookups,
    which is precisely the scan-cost reduction PQ exists for; the
    rerank touches {PQ_CAND_C} rows per probe. At 100 TB the codes
    column sinks to parquet next to SQ8's and composes with IVF's
    partition pruning (IVFADC). Fully relational: the codebook is a
    broadcast RELATION built in one distributed pass (no driver
    collect, no literal-array plans — operators/pq.py plan-shape
    note)."""
    from hive_similarity_join_spark.operators.pq import adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES)
    return adc_topk(e, probes, k=KNN_K, n_candidates=PQ_CAND_C)


@query(
    "q_vec_centroid",
    oracle=f"""
SELECT label, CAST(pos AS BIGINT) AS pos,
       CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
           / count(*) AS centroid
FROM embeddings, unnest(generate_series(1, {V.DIM})) AS t(pos)
GROUP BY label, pos
""",
)
def q_vec_centroid(spark, sf_dir):
    """Per-label mean vector in long form (label, dim position, value).

    Exactness: float -> double (exact) -> decimal(20,6) per element
    (quantization well above double-cast noise, so both engines round
    identically), decimal sum (order-independent), divide by count in
    double. Scale 10 was NOT stable: DuckDB's double->decimal cast
    differs from Spark's in the last decimal ulp.
    """
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select("label", F.posexplode(V.as_double("embedding")))
    return (
        expl.groupBy("label", (F.col("pos") + 1).cast("bigint").alias("pos"))
        .agg(
            (
                F.sum(F.col("col").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("centroid")
        )
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {V.duck_cosine('a.embedding', 'b.embedding')} AS sim
FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id
WHERE {V.duck_cosine('a.embedding', 'b.embedding')} >= {DEDUP_COS_T}
""",
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the EXACT all-pairs
    baseline, guarded so it cannot become a quadratic trap: the
    operator refuses corpora past EXACT_DEDUP_MAX_ROWS with a pointer
    to its scale twin q_dedup_embedding_lsh (hyperplane-LSH blocking,
    operators/knn.py). The guard reads the row count from parquet
    FOOTER metadata (zero Spark jobs, zero data scan — the catalog-
    statistics lookup at cluster scale); only an unreadable layout
    falls back to a LIMIT-bounded cap+1 count. Past the cap the key
    RAISES, so the driver records an ERROR for this key, not a skip —
    deliberate: a silent fallback would misreport which algorithm
    produced the rows. Within the cap the result is exact and
    identical to the LSH twin's verify measure."""
    a, b = _pairs(spark, sf_dir)
    n = _corpus_rows(sf_dir)
    if n is None:
        n = a.limit(EXACT_DEDUP_MAX_ROWS + 1).count()
    if n > EXACT_DEDUP_MAX_ROWS:
        raise ValueError(
            f"exact all-pairs dedup refused: corpus exceeds "
            f"EXACT_DEDUP_MAX_ROWS={EXACT_DEDUP_MAX_ROWS}; use "
            "q_dedup_embedding_lsh (hyperplane-LSH blocking) at this scale"
        )
    sim = V.cosine(F.col("_v1"), F.col("_v2"))
    return (
        F.broadcast(a)
        .join(b, F.col("id2") > F.col("id1"))
        .select("id1", "id2", sim.alias("sim"))
        .filter(F.col("sim") >= DEDUP_COS_T)
    )


LABEL_OUT_K = 3


@query(
    "q_vec_label_outliers",
    oracle=f"""
WITH cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE)
             / count(*) AS c
  FROM embeddings, unnest(generate_series(1, {V.DIM})) AS t(pos)
  GROUP BY label, pos
),
cvec AS (
  SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label,
         {V.duck_cosine('e.embedding', 'c.cv')} AS centroid_sim
  FROM embeddings e JOIN cvec c ON c.label = e.label
)
SELECT vec_id, CAST(label AS BIGINT) AS label, centroid_sim,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT vec_id, label, centroid_sim,
         row_number() OVER (PARTITION BY label
                            ORDER BY centroid_sim, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {LABEL_OUT_K}
""",
)
def q_vec_label_outliers(spark, sf_dir):
    """Mislabeled-sample detection: the 3 vectors per label
    LEAST similar to their own label centroid (cosine to centroid,
    ascending, vec_id tie-break) — the standard embedding-space
    label-noise screen a curation pipeline runs before training on
    weak labels. Composes two already-verified devices: the
    decimal-exact per-label centroid (q_vec_centroid's arithmetic,
    re-assembled into an ordered array) and the left-fold cosine
    (bit-exact across engines), so the whole audit hash-matches.

    Determinism: centroid components are decimal-sum/count doubles
    (identical on both engines); the per-element centroid array is
    assembled in pos order on both sides; cosine is the usual
    element-order fold; ranking ties break on vec_id.

    Scale shape: the centroid aggregate is one label-keyed shuffle
    producing a |labels| x dim relation that BROADCASTS back over the
    streamed corpus for scoring (no corpus shuffle); the per-label
    bottom-k is a window partitioned by label. At 100 TB this is the
    same stats-then-scan posture as q_events_outliers, with vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    expl = e.select("label", F.posexplode(V.as_double("embedding")))
    cent = expl.groupBy("label", F.col("pos").alias("_p")).agg(
        (
            F.sum(F.col("col").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_c")
    )
    cvec = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("_p", "_c"))).alias("_pc"))
        .select("label", F.col("_pc._c").alias("_cv"))
    )
    scored = (
        e.select("vec_id", "label", V.as_double("embedding").alias("_v"))
        .join(F.broadcast(cvec), "label")
        .select(
            "vec_id",
            "label",
            V.cosine(F.col("_v"), F.col("_cv")).alias("centroid_sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.asc("centroid_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= LABEL_OUT_K)
        .select("vec_id", F.col("label").cast("bigint").alias("label"),
                "centroid_sim", "rank")
    )


# --------------------- distributed Lloyd k-means (exact fixed-point)

KM_K = 8
KM_ROUNDS = 2
KM_DIM = 64  # embeddings table dimensionality (TESTDATA.md)


def _km_d2(xi: str, c: str) -> str:
    """Exact fixed-point squared L2 in DuckDB list algebra."""
    return (
        f"list_sum(list_transform(range(1, {KM_DIM + 1}), "
        f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))"
    )


_CORESET_K = 8


def _coreset_oracle() -> str:
    from hive_similarity_join_spark.operators.ivf import KM_SCALE

    parts = [
        f"""v AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * {KM_SCALE})
                       AS BIGINT)) AS xi
  FROM embeddings
)""",
        "s1 AS (SELECT vec_id, xi FROM v"
        " WHERE vec_id = (SELECT min(vec_id) FROM v))",
        f"""m1 AS MATERIALIZED (
  SELECT a.vec_id, {_km_d2('a.xi', 'b.xi')} AS md2 FROM v a, s1 b
)""",
    ]
    legs = [
        "SELECT CAST(1 AS BIGINT) AS sel_round, vec_id,"
        " CAST(0 AS BIGINT) AS cov_d2 FROM s1"
    ]
    for r in range(2, _CORESET_K + 1):
        parts.append(
            f"p{r} AS (SELECT vec_id, md2 FROM m{r - 1}"
            f" ORDER BY md2 DESC, vec_id LIMIT 1)"
        )
        legs.append(
            f"SELECT CAST({r} AS BIGINT), vec_id, CAST(md2 AS BIGINT)"
            f" FROM p{r}"
        )
        if r < _CORESET_K:
            parts.append(
                f"s{r} AS (SELECT v.vec_id, v.xi FROM v"
                f" JOIN p{r} USING (vec_id))"
            )
            parts.append(f"""m{r} AS MATERIALIZED (
  SELECT m.vec_id, least(m.md2, {_km_d2('a.xi', 'b.xi')}) AS md2
  FROM m{r - 1} m JOIN v a ON a.vec_id = m.vec_id, s{r} b
)""")
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(legs)
    )


@query("q_sample_coreset", oracle=_coreset_oracle())
def q_sample_coreset(spark, sf_dir):
    """CORESET SELECTION by k-center greedy (farthest-point sampling,
    Gonzalez 1985; the geometry behind diversity-driven data selection
    a la Sener & Savarese ICLR 2018) — the embedding-space sampler
    that picks MAXIMALLY SPREAD exemplars where q_sample_* pick
    representative ones: seed with the minimum vec_id, then {K}-1
    times add the point FARTHEST from everything selected so far
    (argmax of min-distance, ties to the smaller id). Emits one row
    per selection round: (sel_round, vec_id, cov_d2), where cov_d2 is
    the selected point's min squared distance to the prior set — the
    2-approximate k-center COVERAGE RADIUS at that k, the curve a
    curation pipeline reads to pick its exemplar budget (the radius
    halting rule).

    Determinism: distances in the exact fixed-point integers of the
    Lloyd trainer (same encode expression, same {D}-dim exact-bigint
    d2), argmax tie-breaks on vec_id — both engines run identical
    integer comparisons end to end.

    Scale shape: the selected set stays DRIVER-SIDE as k literal
    vectors (the operators/ivf.py posture — k-sized collects are the
    contract, corpus-sized ones the violation): each round is ONE
    map-only pass over the pinned fixed-point corpus evaluating
    least(md2, d2-to-one-literal) and a TakeOrderedAndProject argmax
    — k passes total, no shuffle after the pin, state O(k x dim).
    The oracle mirrors with one generated (p, s, m) CTE triple per
    round.

    CAVEAT (ADVICE r14 #3): unlike every other key, this builder is
    EAGER — the k argmax collects run at plan-construction time, so
    merely building the plan (tools/dump_plans.py, plan gates,
    registry sweeps) executes k corpus passes. Accepted under the
    k-sized-collect contract; a fully lazy form would mirror the
    oracle's per-round CTE chain with localCheckpoint like
    wordpiece_merge_rounds.""".format(K=_CORESET_K, D=KM_DIM)
    from hive_similarity_join_spark.operators.cache import pin
    from hive_similarity_join_spark.operators.ivf import (
        fixedpoint_vectors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = pin(fixedpoint_vectors(e))

    def d2_lit(xi):
        lit = F.array(*[F.lit(int(c)).cast("bigint") for c in xi])
        return F.aggregate(
            F.zip_with(F.col("xi"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed = v.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    rows = [(1, seed.vec_id, 0)]
    md = d2_lit(seed.xi)
    for r in range(2, _CORESET_K + 1):
        pick = (
            v.select("vec_id", "xi", md.alias("md2"))
            .orderBy(F.desc("md2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        rows.append((r, pick.vec_id, pick.md2))
        md = F.least(md, d2_lit(pick.xi))
    return spark.createDataFrame(
        rows, "sel_round bigint, vec_id bigint, cov_d2 bigint"
    )


def kmeans_sql_fragments(
    k: int = KM_K, rounds: int = KM_ROUNDS, suffix: str = ""
) -> dict:
    """Shared DuckDB fragments for the exact fixed-point Lloyd trainer
    (operators/ivf.py lloyd_kmeans_centroids): ``with_body`` defines
    ``v{suffix}`` (fixedpoint vectors), ``c0{suffix}`` (md5-ordered
    init pivots) and the Lloyd rounds up to the final centroid CTE
    named ``final``. Composed verbatim by q_vec_kmeans AND
    q_vec_knn_ivf_kmeans so the clustering key and the kmeans-
    quantized IVF search share one training definition (the
    pq_sql_fragments anti-drift pattern); the (k, rounds, suffix)
    knobs let q_vec_kmeans_elbow chain several trainings in ONE WITH
    without CTE-name collisions — the default call emits the exact
    byte string the r12-verified consumers were checked against."""
    from hive_similarity_join_spark.operators.ivf import KM_SCALE

    s = suffix

    def assign(src: str, cents: str) -> str:
        return f"""
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, {cents}.cell,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_km_d2('v.xi', f'{cents}.c')}, {cents}.cell
           ) AS rn
    FROM {src} v CROSS JOIN {cents}
  ) WHERE rn = 1"""

    def update(asg: str) -> str:
        return f"""
  SELECT cell, list(c ORDER BY dim) AS c FROM (
    SELECT a.cell, r.range AS dim,
           sum(v.xi[r.range]) // count(*) AS c
    FROM {asg} a JOIN v{s}{' v' if s else ''} USING (vec_id) CROSS JOIN range(1, {KM_DIM + 1}) r
    GROUP BY a.cell, r.range
  ) GROUP BY cell"""

    rnds = []
    for t in range(rounds):
        rnds.append(f"a{t}{s} AS ({assign(f'v{s}', f'c{t}{s}')})")
        rnds.append(f"c{t + 1}{s} AS ({update(f'a{t}{s}')})")
    body = ",\n".join(rnds)
    with_body = f"""v{s} AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * {KM_SCALE})
                       AS BIGINT)) AS xi
  FROM embeddings
),
c0{s} AS (
  SELECT CAST(row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS BIGINT) - 1 AS cell, xi AS c
  FROM (
    SELECT vec_id, xi FROM v{s}
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    LIMIT {k}
  )
),
{body}"""
    return {"with_body": with_body, "final": f"c{rounds}{s}", "d2": _km_d2}


def _kmeans_oracle() -> str:
    fr = kmeans_sql_fragments()
    cf = fr["final"]
    return f"""
WITH {fr['with_body']}
SELECT vec_id, CAST(cell AS BIGINT) AS cluster, CAST(d2 AS BIGINT) AS dist2
FROM (
  SELECT v.vec_id, cf.cell, {_km_d2('v.xi', 'cf.c')} AS d2,
         row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_km_d2('v.xi', 'cf.c')}, cf.cell
         ) AS rn
  FROM v CROSS JOIN {cf} cf
) WHERE rn = 1
"""


@query("q_vec_kmeans", oracle=_kmeans_oracle())
def q_vec_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means over the embedding corpus, EXACT:
    every step is integer arithmetic on non-negative fixed-point
    coordinates (operators/ivf.py lloyd_kmeans_fixedpoint), so the
    clustering is bit-reproducible across engines, cluster sizes and
    partitionings — float-sum Lloyd is none of these (its means depend
    on reduction order; CLAUDE.md FMA/association rule). This is the
    in-engine training path for the IVF coarse quantizer family
    (q_vec_knn_ivf/_ivfadc consume hash-sampled pivots = this key's
    init step; 2 Lloyd rounds refine them) and the semantic-clustering
    primitive (topic bucketing, stratified embedding sampling).

    Scale shape per round: one codegen'd argmin projection over k*dim
    literal centroids (no join, no shuffle — the _cell_dists pattern),
    then ONE partial-aggregated shuffle keyed (cluster, dim) — k*dim
    groups — and a k*dim-bounded collect to inline the next round's
    centroids (ivf.py's deliberately-bounded single-node subproblem).
    At 100 TB each round therefore costs one map pass + one tree
    reduction, the canonical distributed-Lloyd layout."""
    from hive_similarity_join_spark.operators.ivf import (
        lloyd_kmeans_fixedpoint,
    )

    e = load_table(spark, sf_dir, "embeddings")
    out = lloyd_kmeans_fixedpoint(e, k=KM_K, rounds=KM_ROUNDS)
    return out.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("dist2").cast("bigint").alias("dist2"),
    )


_ELBOW_KS = (2, 4, 8)


def _kmeans_elbow_oracle() -> str:
    parts = []
    selects = []
    for k in _ELBOW_KS:
        fr = kmeans_sql_fragments(k=k, suffix=f"_k{k}")
        parts.append(fr["with_body"])
        selects.append(f"""
SELECT CAST({k} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(d2) AS BIGINT) AS inertia,
       CAST(sum(d2) AS DOUBLE) / count(*) AS mean_d2
FROM (
  SELECT v.vec_id, min({_km_d2('v.xi', 'cf.c')}) AS d2
  FROM v_k{k} v CROSS JOIN {fr['final']} cf
  GROUP BY v.vec_id
)""")
        body = ",\n".join(parts)
    return f"WITH {body}\n" + "\nUNION ALL\n".join(selects)


@query("q_vec_kmeans_elbow", oracle=_kmeans_elbow_oracle())
def q_vec_kmeans_elbow(spark, sf_dir):
    """K-MEANS MODEL SELECTION (the elbow curve): the exact
    fixed-point Lloyd trainer swept over k in {KS}, emitting per k the
    total within-cluster squared distance (INERTIA, exact bigint) and
    its per-vector mean — the curve a pipeline reads to pick the
    cluster budget for topic bucketing / IVF cell counts / SemDeDup
    granularity before committing a 100 TB pass (where the elbow
    flattens, extra cells stop buying distortion). Each sweep point is
    the SAME trainer the verified q_vec_kmeans / q_vec_knn_ivf_kmeans
    keys run (operators/ivf.py lloyd_kmeans_fixedpoint; oracle CTEs
    from the same kmeans_sql_fragments, suffix-parametrized so three
    trainings chain in one WITH) — the sweep cannot drift from the
    keys it prices.

    Exactness: inertia sums exact integer d2 (no float order
    sensitivity); mean_d2 is one double division per output row.
    Scale shape: per k it is the trainer's cost (per round: one
    codegen'd argmin map pass + one (cell, dim)-keyed partial
    aggregate + a k*dim-bounded collect) plus ONE extra assignment
    pass for the inertia — {N} sweep points = {N} bounded trainings,
    embarrassingly sequential in the driver but each fully
    distributed.""".format(KS=list(_ELBOW_KS), N=len(_ELBOW_KS))
    from hive_similarity_join_spark.operators.ivf import (
        lloyd_kmeans_fixedpoint,
    )

    e = load_table(spark, sf_dir, "embeddings")
    legs = []
    for k in _ELBOW_KS:
        out = lloyd_kmeans_fixedpoint(e, k=k, rounds=KM_ROUNDS)
        legs.append(
            out.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                F.sum("dist2").cast("bigint").alias("inertia"),
                (
                    F.sum("dist2").cast("double") / F.count(F.lit(1))
                ).alias("mean_d2"),
            ).select(
                F.lit(k).cast("bigint").alias("k"),
                "n_vecs",
                "inertia",
                "mean_d2",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# --------------- exact power-iteration PCA (top principal direction)

PCA_SCALE = 100_000       # input fixed-point unit (1e-5 of embedding space)
PCA_VSCALE = 1_000_000    # direction fixed-point unit
PCA_ROUNDS = 3
PCA_DIM = KM_DIM


def _pca_oracle(final_select: str | None = None) -> str:
    rounds = []
    for t in range(PCA_ROUNDS):
        rounds.append(
            f"d{t} AS (SELECT vec_id, SUM(y * v) AS dp"
            f" FROM y JOIN v{t} USING (dim) GROUP BY vec_id)"
        )
        rounds.append(
            f"w{t} AS (SELECT dim, SUM(y * dp) AS w"
            f" FROM y JOIN d{t} USING (vec_id) GROUP BY dim)"
        )
        rounds.append(f"m{t} AS (SELECT max(abs(w)) AS mx FROM w{t})")
        rounds.append(
            f"v{t + 1} AS (SELECT dim, (w * {PCA_VSCALE}) // mx AS v"
            f" FROM w{t} CROSS JOIN m{t})"
        )
    body = ",\n".join(rounds)
    return f"""
WITH xi AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {PCA_SCALE}.0) AS BIGINT)) AS xi
  FROM embeddings
),
ex AS (
  SELECT vec_id, r.range AS dim, xi[r.range] AS x
  FROM xi CROSS JOIN range(1, {PCA_DIM + 1}) r
),
st AS (
  SELECT dim, CAST(SUM(x) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM ex GROUP BY dim
),
y AS (
  SELECT e.vec_id, e.dim, CAST(st.n * e.x - st.s AS HUGEINT) AS y
  FROM ex e JOIN st USING (dim)
),
v0 AS (SELECT dim, CAST({PCA_VSCALE} AS HUGEINT) AS v FROM st),
{body}
{final_select or f"SELECT CAST(dim AS BIGINT) AS dim, CAST(v AS BIGINT) AS v FROM v{PCA_ROUNDS}"}
"""


def _pca_centered(e):
    """The shared quantize-and-center front of the PCA family: the
    (vec_id, dim, y) relation of exact n-scaled deviations
    (y = n*x_i - sum, decimal(38,0)) plus the per-dim stats. ONE
    definition — pca_power_direction iterates on it and
    q_vec_pca_outliers projects on it, so an edit to the quantization
    cannot desync the two."""
    xi = e.select(
        "vec_id",
        F.transform(
            V.as_double("embedding"),
            lambda x: F.floor(x * PCA_SCALE).cast("bigint"),
        ).alias("xi"),
    )
    ex = xi.select("vec_id", F.posexplode("xi")).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), F.col("col").alias("x")
    )
    st = ex.groupBy("dim").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    y = ex.join(F.broadcast(st), "dim").select(
        "vec_id",
        "dim",
        (F.col("n") * F.col("x") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    return y, st


def pca_power_direction(e, rounds: int = PCA_ROUNDS, y=None):
    """PCA_ROUNDS steps of exact fixed-point power iteration over a
    (vec_id, embedding) relation; returns the (dim, v) integer
    direction. Factored out of the query key so tests can plant an
    anisotropic corpus and verify CONVERGENCE (the key's own oracle
    verifies only the cross-engine arithmetic). Pass a precomputed
    ``y`` from ``_pca_centered`` to share the relation with a
    downstream consumer (q_vec_pca_outliers)."""
    yc, st = _pca_centered(e)
    y = pin(y if y is not None else yc)
    v = st.select(
        "dim", F.lit(PCA_VSCALE).cast("decimal(38,0)").alias("v")
    )
    for _ in range(rounds):
        dot = (
            y.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.sum(F.col("y") * F.col("v")).cast("decimal(38,0)").alias("dp"))
        )
        w = (
            y.join(dot, "vec_id")
            .groupBy("dim")
            .agg(F.sum(F.col("y") * F.col("dp")).cast("decimal(38,0)").alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        v = w.crossJoin(F.broadcast(m)).select(
            "dim",
            F.expr(f"CAST((w * {PCA_VSCALE}) DIV mx AS DECIMAL(38,0))").alias(
                "v"
            ),
        )
    return v.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.col("v").cast("bigint").alias("v"),
    )


@query("q_vec_pca_power", oracle=_pca_oracle())
def q_vec_pca_power(spark, sf_dir):
    """PCA_ROUNDS exact power-iteration steps toward the top principal
    direction of the (exactly centered) embedding corpus — the
    dimensionality probe an embedding pipeline runs before whitening,
    compression, or drift checks. Like q_vec_kmeans, the iteration is
    EXACT fixed-point: inputs quantize to integers (floor(x * 1e5),
    the identical double multiply + floor on both engines), centering
    multiplies through by n so deviations stay integers
    (y = n*x_i - sum), and each step renormalizes by integer division
    (w * VSCALE) DIV max|w| — both engines truncate integer division
    toward zero (verified), so every round lands on the IDENTICAL
    64-component integer direction.

    Honest convergence note: the step count is FIXED, and power
    iteration converges at rate (lambda2/lambda1)^t — on this table's
    near-isotropic synthetic embeddings (spectral gap ~1.01) three
    steps are a deterministic probe, not a converged eigenvector; on
    anisotropic data the same operator converges, which
    tests/test_pca_power.py proves with a planted dominant direction
    (cosine > 0.999 vs numpy's eigendecomposition). What exactness
    buys in production is REPRODUCIBILITY: two runs over two corpus
    snapshots differ only where the data differs, so the direction
    delta is a drift signal, not numerical noise.

    Overflow envelope (documented, not incidental): |y| <= 2n*SCALE,
    |dot| <= dim*|y|*VSCALE, |w| <= n*|y|*|dot|, and the renorm
    multiplies by VSCALE — ~4e33 at n=2e4, inside decimal(38,0) /
    HUGEINT. Larger corpora shrink PCA_SCALE (the direction's
    precision comes from VSCALE, not the input quantum) or pre-reduce
    by per-shard Gram-matrix partial sums.

    Scale shape: the heavy relation is (vec_id, dim, y) — corpus x
    dim, persisted once and streamed twice per round; the direction is
    a 64-row broadcast; the per-vector dot relation joins back on
    vec_id (corpus-keyed shuffle, never collected); max|w| is a
    single-row broadcast. Per round: one broadcast join + two
    map-side-combined aggregations — the two matrix-vector products of
    the power method, with nothing driver-side."""
    return pca_power_direction(load_table(spark, sf_dir, "embeddings"))


PCA_OUT_K = 10

_PCA_PROJ_SELECT = f"""
, proj AS (
  SELECT vec_id, SUM(y * v) AS pr
  FROM y JOIN v{PCA_ROUNDS} USING (dim) GROUP BY vec_id
)
SELECT vec_id, CAST(pr AS BIGINT) AS proj,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT vec_id, pr,
         ROW_NUMBER() OVER (ORDER BY abs(pr) DESC, vec_id) AS rnk
  FROM proj
) WHERE rnk <= {PCA_OUT_K}
""".strip()


@query(
    "q_vec_pca_outliers",
    oracle=_pca_oracle(final_select=_PCA_PROJ_SELECT),
)
def q_vec_pca_outliers(spark, sf_dir):
    """The PCA direction APPLIED: the PCA_OUT_K most extreme vectors
    along the q_vec_pca_power axis, by |projection| of the exactly
    centered fixed-point coordinates onto the integer direction — the
    'what is stretching my embedding space' QA view (batch-effect
    probes, duplicated clusters, or corrupt encoders all surface here
    first). Projections are exact integer dot products
    (sum over dims of y * v — the same decimal(38,0)/HUGEINT algebra
    as the iteration itself), so ranking and values hash-match.

    Scale: reuses the iteration's (vec_id, dim, y) relation and the
    64-row direction broadcast; the projection is one more
    map-side-combined aggregation, and the top-k is a TakeOrdered over
    the per-vector projection relation (orderBy + limit, not a global
    window; rank attaches post-limit on PCA_OUT_K rows)."""
    e = load_table(spark, sf_dir, "embeddings")
    # one centered relation, shared by the iteration and the projection
    y, _st = _pca_centered(e)
    v = pca_power_direction(e, y=y)
    proj = (
        y.join(F.broadcast(v.select("dim", F.col("v").cast("decimal(38,0)").alias("v"))), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("y") * F.col("v")).cast("decimal(38,0)").alias("pr"))
    )
    return ranked_topk(
        proj.select("vec_id", F.col("pr").cast("bigint").alias("proj")),
        [F.abs(F.col("proj")).desc(), F.col("vec_id")],
        PCA_OUT_K,
    )


# ---------------- per-dimension embedding health statistics


def _dim_stats_oracle() -> str:
    from hive_similarity_join_spark.operators.ivf import KM_SCALE

    s2 = KM_SCALE * KM_SCALE
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * {KM_SCALE})
                       AS BIGINT)) AS xi
  FROM embeddings
),
d AS (
  SELECT r.range AS dim, xi[r.range] AS u
  FROM v CROSS JOIN range(1, {KM_DIM + 1}) r
),
s AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(u AS HUGEINT)) AS s1,
         SUM(CAST(u AS HUGEINT) * u) AS s2,
         CAST(min(u) AS BIGINT) AS u_min,
         CAST(max(u) AS BIGINT) AS u_max
  FROM d GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n,
       CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * {KM_SCALE}.0) - 1.0
         AS mean,
       CAST(n * s2 - s1 * s1 AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {s2}.0) AS variance,
       CAST(u_min AS DOUBLE) / {KM_SCALE}.0 - 1.0 AS lo,
       CAST(u_max AS DOUBLE) / {KM_SCALE}.0 - 1.0 AS hi
FROM s
"""


@query("q_vec_dim_stats", oracle=_dim_stats_oracle())
def q_vec_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics (mean, variance, range) —
    the embedding-health audit run before indexing a corpus: dead
    dimensions (variance ~ 0), scale drift between ingestion batches,
    and off-center dimensions all surface here, and all three break
    ANN quantizers silently if unchecked.

    Exactness: coordinates are the kmeans family's fixed-point
    integers (floor((x+1)*1e6) — quantized at 1e-6, stated precision
    of the audit); the moment sums and the n*s2 - s1^2 variance
    numerator are exact integers (decimal(38,0) / HUGEINT carriers,
    the q_events_outliers rule), so mean and variance are single
    correctly-rounded double expressions with identical association
    on both engines.

    Plan shape: one posexplode to (dim, value) and ONE map-side
    combined shuffle with exactly KM_DIM groups; at 100 TB this is a
    tree-reduced statistics pass, same cost class as any column
    profiler."""
    from hive_similarity_join_spark.operators.ivf import (
        KM_SCALE,
        fixedpoint_vectors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = fixedpoint_vectors(e)
    d = v.select(F.posexplode("xi").alias("dim0", "u"))
    dec = "decimal(38,0)"
    s = d.groupBy("dim0").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("u").cast(dec)).alias("s1"),
        F.sum(F.col("u").cast(dec) * F.col("u")).alias("s2"),
        F.min("u").cast("bigint").alias("u_min"),
        F.max("u").cast("bigint").alias("u_max"),
    )
    n_ = F.col("n").cast(dec)
    scale = float(KM_SCALE)
    return s.select(
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        "n",
        (
            F.col("s1").cast("double")
            / (F.col("n").cast("double") * F.lit(scale))
            - F.lit(1.0)
        ).alias("mean"),
        (
            (n_ * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n").cast("double")
                * F.lit(scale * scale)
            )
        ).alias("variance"),
        (F.col("u_min").cast("double") / F.lit(scale) - F.lit(1.0)).alias("lo"),
        (F.col("u_max").cast("double") / F.lit(scale) - F.lit(1.0)).alias("hi"),
    )


# ---------------- embedding drift between corpus halves


def _centroid_shift_oracle() -> str:
    from hive_similarity_join_spark.operators.ivf import KM_SCALE

    return f"""
WITH v AS (
  SELECT vec_id,
         CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half,
         list_transform(embedding,
             x -> CAST(floor((CAST(x AS DOUBLE) + 1.0) * {KM_SCALE})
                       AS BIGINT)) AS xi
  FROM embeddings
),
d AS (
  SELECT half, r.range AS dim, xi[r.range] AS u
  FROM v CROSS JOIN range(1, {KM_DIM + 1}) r
),
s AS (
  SELECT half, dim, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(u AS HUGEINT)) AS s1
  FROM d GROUP BY half, dim
),
j AS (
  SELECT a.dim,
         a.s1 * b.n - b.s1 * a.n AS shift_num,
         a.n * b.n AS nn
  FROM (SELECT * FROM s WHERE half = 'a') a
  JOIN (SELECT * FROM s WHERE half = 'b') b USING (dim)
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(shift_num AS DOUBLE)
         / (CAST(nn AS DOUBLE) * {KM_SCALE}.0) AS mean_shift,
       abs(CAST(shift_num AS DOUBLE))
         / (CAST(nn AS DOUBLE) * {KM_SCALE}.0) AS abs_shift
FROM j
"""


@query("q_vec_centroid_shift", oracle=_centroid_shift_oracle())
def q_vec_centroid_shift(spark, sf_dir):
    """Embedding drift probe: per-dimension mean shift between two
    deterministic corpus halves (vec_id parity stands in for the
    old/new ingestion batches a production pipeline compares) — the
    training/serving-skew check run before reusing an ANN index or a
    quantizer trained on last month's corpus. A nonzero shift
    concentrated in a few dimensions is re-train-the-quantizer signal
    (q_vec_ivf_balance shows the damage, this key shows the cause).

    Exactness: the mean difference is computed as ONE exact integer
    cross-product (s1_a*n_b - s1_b*n_a over fixed-point sums; the
    common-denominator trick avoids two lossy divisions whose
    DIFFERENCE would carry correlated rounding), divided once by
    n_a*n_b and the fixed-point scale. The shift-by-1.0 encoding
    offset cancels in the subtraction, so no de-shift is needed.

    Plan shape: one posexplode + ONE (half, dim) map-side combined
    shuffle (2 x KM_DIM groups), then a dim-keyed self-join of two
    64-row relations. Statistics-pass cost class."""
    from hive_similarity_join_spark.operators.ivf import (
        KM_SCALE,
        fixedpoint_vectors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = fixedpoint_vectors(e).select(
        F.when(F.col("vec_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("half"),
        "xi",
    )
    d = v.select("half", F.posexplode("xi").alias("dim0", "u"))
    dec = "decimal(38,0)"
    s = d.groupBy("half", "dim0").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("u").cast(dec)).alias("s1"),
    )
    a = s.filter(F.col("half") == "a").select(
        "dim0", F.col("n").alias("na"), F.col("s1").alias("sa")
    )
    b = s.filter(F.col("half") == "b").select(
        "dim0", F.col("n").alias("nb"), F.col("s1").alias("sb")
    )
    scale = float(KM_SCALE)
    shift_num = (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(
        "double"
    )
    nn = (F.col("na").cast(dec) * F.col("nb")).cast("double")
    return a.join(b, "dim0").select(
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        (shift_num / (nn * F.lit(scale))).alias("mean_shift"),
        (F.abs(shift_num) / (nn * F.lit(scale))).alias("abs_shift"),
    )


# ---------------- PQ reconstruction-distortion audit

PQ_DIST_FP = 1_000_000_000  # 1e-9 fixed-point unit for the d2 sum


def _pq_distortion_oracle() -> str:
    fr = pq_sql_fragments()
    return f"""
WITH cb AS (
{fr["cb"]}
),
asg AS (
  SELECT e.vec_id, cb.m, {fr["d2"]} AS d2,
         row_number() OVER (
             PARTITION BY e.vec_id, cb.m ORDER BY {fr["d2"]}, cb.c
         ) AS rn
  FROM embeddings e CROSS JOIN cb
),
fp AS (
  SELECT m, d2,
         CAST(floor(d2 * {PQ_DIST_FP} + 0.5) AS BIGINT) AS dfp
  FROM asg WHERE rn = 1
)
SELECT CAST(m AS BIGINT) AS m,
       CAST(count(*) AS BIGINT) AS n,
       max(d2) AS max_d2,
       CAST(SUM(dfp) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * {PQ_DIST_FP}.0) AS avg_d2
FROM fp GROUP BY m
"""


@query("q_vec_pq_distortion", oracle=_pq_distortion_oracle())
def q_vec_pq_distortion(spark, sf_dir):
    """PQ reconstruction-distortion audit: per subspace, the average
    and worst squared distance between corpus subvectors and their
    assigned codebook entry — the quantization-error half of PQ
    quality (q_vec_ann_recall measures ranking damage; this key
    measures WHERE the information loss lives, and a subspace whose
    distortion dwarfs the others is the retrain-the-codebook signal).
    Completes the audit family: recall (all legs), list balance (IVF),
    distortion (PQ).

    Exactness: the per-(vector, subspace) min-d2 is the same
    left-fold double the PQ encoder uses (shared via
    pq_sql_fragments' d2, so audit and encoder cannot drift); min is
    a comparison; the AVERAGE is the subtle part — a double SUM over
    the corpus is reduction-order-dependent, so each d2 is first
    quantized to exact 1e-9 units (floor(x*1e9 + 0.5), the portable
    rounding) and summed as exact integers, then divided once. max is
    order-free.

    Plan shape: corpus x (M*K=128)-row broadcast codebook join, one
    argmin window per (vec, m), one M-group aggregate — the encode
    pass plus a statistics fold; nothing new shuffles at scale."""
    from hive_similarity_join_spark.operators.pq import (
        _d2,
        _subspaces,
        codebook_relation,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = codebook_relation(e)
    v = V.as_double("embedding")
    ex = e.select(
        F.col("vec_id").alias("vec_id"), F.explode(_subspaces(v)).alias("_s")
    ).select("vec_id", F.col("_s.m").alias("m"), F.col("_s.sv").alias("pv"))
    scored = ex.join(F.broadcast(books), "m").select(
        "vec_id", "m", _d2(F.col("pv"), F.col("sv")).alias("d2")
    )
    best = scored.groupBy("vec_id", "m").agg(F.min("d2").alias("d2"))
    fp = best.select(
        "m",
        "d2",
        F.expr(f"CAST(floor(d2 * {PQ_DIST_FP} + 0.5) AS BIGINT)").alias("dfp"),
    )
    return fp.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("d2").alias("max_d2"),
        (
            F.sum("dfp").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(PQ_DIST_FP)))
        ).alias("avg_d2"),
    ).select(F.col("m").cast("bigint").alias("m"), "n", "max_d2", "avg_d2")


# ------------- Matryoshka prefix-dimension recall audit (MRL funnel)

_MRL_DIMS = (8, 16, 32, 64)


def _mrl_cte(d: int) -> str:
    return f"""t{d} AS (
  SELECT probe_id, vec_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {V.duck_cosine('a.embedding', 'b.embedding', d)} DESC,
                      b.vec_id
           ) AS rank
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_PROBES}
  ) WHERE rank <= {KNN_K})"""


def _mrl_oracle() -> str:
    ctes = ",\n".join(_mrl_cte(d) for d in _MRL_DIMS)
    union = "\n  UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS dim_prefix, probe_id, vec_id FROM t{d}"
        for d in _MRL_DIMS
    )
    full = _MRL_DIMS[-1]
    return f"""
WITH {ctes},
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM t{full})
SELECT u.dim_prefix,
       any_value(tot.n_pairs) AS n_pairs,
       CAST(count(*) AS BIGINT) AS hits,
       CAST(count(*) AS DOUBLE) / any_value(tot.n_pairs) AS recall
FROM ({union}) u
JOIN t{full} g ON g.probe_id = u.probe_id AND g.vec_id = u.vec_id
CROSS JOIN tot
GROUP BY u.dim_prefix
"""


@query("q_vec_prefix_dim_recall", oracle=_mrl_oracle())
def q_vec_prefix_dim_recall(spark, sf_dir):
    """Matryoshka (MRL) prefix-dimension recall audit: top-k under
    cosine over only the FIRST d dimensions (d = 8/16/32/64) vs the
    full-width exact top-k, per-d recall@k — the measurement behind
    the standard MRL serving funnel (candidate generation at a cheap
    prefix width, full-width rerank on the survivors). Joins the ANN
    audit family (q_vec_ann_recall, q_vec_recall_curve,
    q_vec_pq_distortion): the accuracy-for-bytes trade is measured,
    never asserted — here the byte saving is d/64 of vector reads,
    the exact knob MRL-trained embeddings expose.

    Exactness: prefix cosine folds the SAME left-to-right association
    on both engines (zip_with/aggregate vs list_transform/list_reduce
    over generate_series(1, d)), so sims are bit-identical and the
    (sim DESC, vec_id) ranking is deterministic; hits and totals are
    bigint counts; recall is one double division. The full-width row
    (d=64, recall 1.0 by construction) rides along as the join-logic
    anchor.

    Scale shape: probes broadcast, the corpus side explicitly
    repartitioned (the _pairs contract — nested-loop pair output is
    quadratic while its input is one parquet chunk); the scored
    relation is pinned once and reused by all four rank windows
    (tracked-pin contract); per-probe top-k plans as WindowGroupLimit.
    At production scale candidate generation would route through the
    IVF/LSH index family instead of brute force — this key is the
    ACCURACY meter for choosing d, not the serving path."""
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    scored = pin(
        F.broadcast(a)
        .join(b, F.col("id1") != F.col("id2"))
        .select(
            F.col("id1").alias("probe_id"),
            F.col("id2").alias("vec_id"),
            *[
                V.cosine(
                    F.slice("_v1", 1, d), F.slice("_v2", 1, d)
                ).alias(f"sim_{d}")
                for d in _MRL_DIMS
            ],
        )
    )
    tops = []
    for d in _MRL_DIMS:
        w = Window.partitionBy("probe_id").orderBy(
            F.desc(f"sim_{d}"), F.asc("vec_id")
        )
        tops.append(
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= KNN_K)
            .select(
                F.lit(d).cast("bigint").alias("dim_prefix"),
                "probe_id",
                "vec_id",
            )
        )
    u = tops[0]
    for t in tops[1:]:
        u = u.unionByName(t)
    truth = tops[-1].select("probe_id", "vec_id")
    tot = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    hits = (
        u.join(truth, ["probe_id", "vec_id"])
        .groupBy("dim_prefix")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    return hits.crossJoin(F.broadcast(tot)).select(
        "dim_prefix",
        "n_pairs",
        "hits",
        (F.col("hits").cast("double") / F.col("n_pairs").cast("double")).alias(
            "recall"
        ),
    )


_MRL_COARSE_D = 16
_MRL_CAND_C = 20


def _mrl_funnel_oracle() -> str:
    return f"""
WITH cand AS (
  SELECT probe_id, vec_id FROM (
    SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {V.duck_cosine('a.embedding', 'b.embedding', _MRL_COARSE_D)} DESC,
                      b.vec_id
           ) AS cr
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < {N_PROBES}
  ) WHERE cr <= {_MRL_CAND_C}
)
SELECT * FROM (
  SELECT c.probe_id, c.vec_id,
         {V.duck_cosine('pe.embedding', 'ce.embedding')} AS sim,
         CAST(row_number() OVER (
             PARTITION BY c.probe_id
             ORDER BY {V.duck_cosine('pe.embedding', 'ce.embedding')} DESC,
                      c.vec_id
         ) AS BIGINT) AS rank
  FROM cand c
  JOIN embeddings pe ON pe.vec_id = c.probe_id
  JOIN embeddings ce ON ce.vec_id = c.vec_id
) WHERE rank <= {KNN_K}
"""


@query("q_vec_knn_mrl", oracle=_mrl_funnel_oracle())
def q_vec_knn_mrl(spark, sf_dir):
    """Two-stage Matryoshka ANN search — the serving funnel
    q_vec_prefix_dim_recall meters: candidate generation scores only
    the FIRST 16 dimensions (1/4 of the vector bytes) and keeps the
    top-20 per probe; the exact full-width cosine reranks those 20
    down to the final top-5. Same two-stage shape as
    q_vec_knn_quantized (SQ8 coarse) and q_vec_knn_ivfadc (IVF+PQ
    coarse) — the coarse stage here is dimension truncation, the knob
    MRL-trained embeddings expose. Approximate by candidate pruning
    (a true neighbor outside the coarse top-20 is lost — measured by
    the recall audit), deterministic by construction, hash-checked
    end to end.

    Exactness: both stages use the bit-exact left-fold cosine; both
    rank windows tie-break on vec_id. Scale shape: probes broadcast,
    corpus side repartitioned (the _pairs contract); the coarse
    window plans as WindowGroupLimit (top-C per probe held per
    partition); the rerank touches only probes x 20 rows. At
    production scale the coarse stage reads d/64 of the vector bytes
    from a column pruned to the prefix — multiplicative with IVF
    routing, exactly how MRL indexes deploy."""
    a, b = _pairs(spark, sf_dir, probe_pred=F.col("id1") < N_PROBES)
    # the full vectors ride THROUGH the coarse stage so the exact
    # cosine is only evaluated on the <= C survivors — the funnel's
    # byte saving is in the plan, not just the prose
    scored = (
        F.broadcast(a)
        .join(b, F.col("id1") != F.col("id2"))
        .select(
            F.col("id1").alias("probe_id"),
            F.col("id2").alias("vec_id"),
            V.cosine(
                F.slice("_v1", 1, _MRL_COARSE_D),
                F.slice("_v2", 1, _MRL_COARSE_D),
            ).alias("sim_c"),
            "_v1",
            "_v2",
        )
    )
    wc = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_c"), F.asc("vec_id")
    )
    cand = (
        scored.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= _MRL_CAND_C)
        .select(
            "probe_id",
            "vec_id",
            V.cosine(F.col("_v1"), F.col("_v2")).alias("sim"),
        )
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "vec_id", "sim", "rank")
    )


# ------------------------- binary quantization (1-bit sign codes)

BQ_CAND_C = 50  # rerank depth, matched to SQ8 for comparability


def _bq_word(lo: int) -> str:
    """Spark SQL expr: 32 sign bits of embedding dims [lo+1, lo+32]
    packed into a non-negative bigint (two words avoid the bit-63
    sign-semantics corner across engines)."""
    return (
        f"aggregate(sequence(1, 32), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + CASE WHEN element_at(embedding, i + {lo}) > 0D "
        f"THEN shiftleft(CAST(1 AS BIGINT), i - 1) "
        f"ELSE CAST(0 AS BIGINT) END)"
    )


def _duck_bq_word(lo: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, 32), i -> "
        f"CASE WHEN embedding[i + {lo}] > 0 "
        f"THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END), "
        f"(x, y) -> x + y)"
    )


@query(
    "q_vec_knn_bq",
    oracle=f"""
WITH c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         {_duck_bq_word(0)} AS w1,
         {_duck_bq_word(32)} AS w2
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id, a.v AS av, b.v AS bv,
         bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2))
           AS hamming
  FROM c a JOIN c b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_PROBES}
),
top AS (
  SELECT probe_id, vec_id, av, bv,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY hamming, vec_id) AS crank
  FROM cand
)
SELECT probe_id, vec_id, sim, rank FROM (
  SELECT probe_id, vec_id,
         {V.duck_cosine('av', 'bv')} AS sim,
         CAST(row_number() OVER (PARTITION BY probe_id
                                 ORDER BY {V.duck_cosine('av', 'bv')} DESC,
                                          vec_id) AS BIGINT) AS rank
  FROM top WHERE crank <= {BQ_CAND_C}
)
WHERE rank <= {KNN_K}
""",
)
@topk_ckpt("topk_bq")
def q_vec_knn_bq(spark, sf_dir):
    """BINARY-QUANTIZED two-stage ANN — the 1-bit extreme of the
    quantization family (SQ8 keeps 8 bits/dim, PQ ~0.5, BQ exactly 1:
    the sign bit), the EIGHTH deterministic ANN path: candidates by
    HAMMING distance between 64-bit sign codes (two xor + two popcount
    instructions per comparison — the cheapest candidate scan that
    exists, and a 32x smaller scan than full precision; the memory
    arithmetic behind binary-quantized indexes in production vector
    stores), then EXACT cosine rerank of the top-{C} per probe.
    sign(x) approximates angular similarity for roughly-centered
    vectors (Goemans-Williamson hyperplane bound: P[bit differs] =
    angle/pi) — which also makes BQ the degenerate one-hyperplane-
    per-axis case of the LSH key's random hyperplanes.

    Determinism + portability: codes are integer bit packs in TWO
    non-negative 32-bit words (a single 64-bit word would put dim 64
    on the sign bit — xor/bit_count agree on two's complement, but
    non-negative words make the cross-engine contract inspectable);
    sign test is one double compare; Hamming is integer; ties break
    on vec_id; the rerank is the exact cosine. Fully hash-checked.

    Scale shape: the broadcast-probes posture of every kNN leg — the
    corpus streams as (vec_id, 16 bytes of code); at 100 TB the code
    column IS the index you sink to parquet, and the full-precision
    vectors are fetched only for {C} rerank rows per probe. Recall
    vs exact kNN is a row in q_vec_ann_recall ('bq'): measured 0.68
    mean recall@5 at sf0.01 — above LSH (0.40) and PQ (0.40), below
    Lloyd-IVF (0.78), at the smallest candidate-scan bytes of the
    whole family."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("_v"),
        F.expr(_bq_word(0)).alias("_w1"),
        F.expr(_bq_word(32)).alias("_w2"),
    )
    n_part = parallelism(base)
    a = base.select(
        F.col("vec_id").alias("probe_id"),
        F.col("_v").alias("_av"),
        F.col("_w1").alias("_a1"),
        F.col("_w2").alias("_a2"),
    ).filter(F.col("probe_id") < N_PROBES)
    b = base.select(
        "vec_id",
        F.col("_v").alias("_bv"),
        F.col("_w1").alias("_b1"),
        F.col("_w2").alias("_b2"),
    ).repartition(n_part)
    scored = (
        F.broadcast(a)
        .join(b, F.col("probe_id") != F.col("vec_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("_a1").bitwiseXOR(F.col("_b1")))
            + F.bit_count(F.col("_a2").bitwiseXOR(F.col("_b2"))),
        )
    )
    wc = Window.partitionBy("probe_id").orderBy(
        F.asc("hamming"), F.asc("vec_id")
    )
    cands = scored.withColumn("_crank", F.row_number().over(wc)).filter(
        F.col("_crank") <= BQ_CAND_C
    )
    wk = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        cands.withColumn("sim", V.cosine(F.col("_av"), F.col("_bv")))
        .withColumn("rank", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rank") <= KNN_K)
        .select("probe_id", "vec_id", "sim", "rank")
    )


BQ_DEPTHS = (5, 10, 25, 50)


def _bq_depth_oracle() -> str:
    from hive_similarity_join_spark.registry import ORACLES

    grid = ", ".join(f"({d})" for d in BQ_DEPTHS)
    return f"""
WITH exact AS ({ORACLES["q_vec_knn"]}),
c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         {_duck_bq_word(0)} AS w1,
         {_duck_bq_word(32)} AS w2
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id, a.v AS av, b.v AS bv,
         bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2))
           AS hamming
  FROM c a JOIN c b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < {N_PROBES}
),
top AS (
  SELECT probe_id, vec_id, av, bv,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY hamming, vec_id) AS crank
  FROM cand
),
grid(d) AS (VALUES {grid}),
rr AS (
  SELECT g.d, t.probe_id, t.vec_id,
         row_number() OVER (PARTITION BY g.d, t.probe_id
                            ORDER BY {V.duck_cosine('t.av', 't.bv')} DESC,
                                     t.vec_id) AS rank
  FROM top t JOIN grid g ON t.crank <= g.d
),
hits AS (
  SELECT r.d, count(*) AS h
  FROM rr r JOIN exact e
    ON e.probe_id = r.probe_id AND e.vec_id = r.vec_id
  WHERE r.rank <= {KNN_K}
  GROUP BY r.d
),
pt AS (SELECT count(DISTINCT probe_id) AS np_total FROM exact)
SELECT CAST(g.d AS BIGINT) AS depth,
       CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
       CAST(coalesce(h.h, 0) AS DOUBLE)
         / CAST(pt.np_total * {KNN_K} AS DOUBLE) AS recall
FROM grid g LEFT JOIN hits h ON h.d = g.d CROSS JOIN pt
"""


@query("q_vec_bq_depth_curve", oracle=_bq_depth_oracle())
def q_vec_bq_depth_curve(spark, sf_dir):
    """BQ's TUNING CURVE: recall@k as a function of rerank depth —
    the binary-quantized family's one dial (q_vec_recall_curve is the
    same artifact for IVF's nprobe): Hamming candidates are ranked
    ONCE per probe, and every curve point {D} just filters
    crank <= depth before the exact rerank — the whole curve costs
    the largest point, not the sum (the measure-the-curve-for-free
    posture every sweep key here takes). The operating question it
    answers: how many full-precision vectors must be fetched per
    probe before 1-bit codes match the recall of fatter indexes —
    the fetch depth IS the I/O cost at 100 TB, where codes live in
    memory and vectors on parquet.

    Exactness: Hamming ranks are integers with vec_id tie-break; the
    rerank is the exact cosine; hits are integer intersections with
    the verified q_vec_knn oracle; recall is one division by the
    exact probes x k denominator.""".format(D=list(BQ_DEPTHS))
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
        F.expr(_bq_word(0)).alias("_w1"),
        F.expr(_bq_word(32)).alias("_w2"),
    )
    a = base.select(
        F.col("vec_id").alias("probe_id"),
        F.col("_v").alias("_av"),
        F.col("_w1").alias("_a1"),
        F.col("_w2").alias("_a2"),
    ).filter(F.col("probe_id") < N_PROBES)
    b = base.select(
        "vec_id",
        F.col("_v").alias("_bv"),
        F.col("_w1").alias("_b1"),
        F.col("_w2").alias("_b2"),
    )
    scored = (
        F.broadcast(a)
        .join(b, F.col("probe_id") != F.col("vec_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("_a1").bitwiseXOR(F.col("_b1")))
            + F.bit_count(F.col("_a2").bitwiseXOR(F.col("_b2"))),
        )
    )
    wc = W.partitionBy("probe_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    top = scored.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= max(BQ_DEPTHS)
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in BQ_DEPTHS])).alias("d")
    )
    rr = (
        top.crossJoin(F.broadcast(grid))
        .filter(F.col("crank") <= F.col("d"))
        .withColumn("sim", V.cosine(F.col("_av"), F.col("_bv")))
    )
    wk = W.partitionBy("d", "probe_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    topk = rr.withColumn("rank", F.row_number().over(wk)).filter(
        F.col("rank") <= KNN_K
    )
    exact = q_vec_knn(spark, sf_dir).select("probe_id", "vec_id")
    hits = (
        topk.join(exact, ["probe_id", "vec_id"])
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    pt = exact.agg(
        F.countDistinct("probe_id").alias("np_total")
    )
    n_hits = F.coalesce(F.col("h"), F.lit(0))
    return (
        grid.join(hits, "d", "left")
        .crossJoin(F.broadcast(pt))
        .select(
            F.col("d").cast("bigint").alias("depth"),
            n_hits.cast("bigint").alias("hits"),
            (
                n_hits.cast("double")
                / (F.col("np_total") * KNN_K).cast("double")
            ).alias("recall"),
        )
    )
