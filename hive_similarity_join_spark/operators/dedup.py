"""Dedup operators beyond the exact/greedy paths: MinHash+LSH banding
and connected-components duplicate clustering.

MinHash design (scale path for near-dedup when the exact prefix-filter
join is infeasible): token sets are mapped to integer ids by the global
rarest-first rank (same ordering as the similarity kernel), signatures
use NUM_PERM universal-hash permutations h_i(r) = (a_i*r + b_i) mod P,
banded into NUM_BANDS groups of ROWS_PER_BAND; docs sharing any band
signature become candidates; candidates are verified with exact Jaccard.
Everything is integer arithmetic on both engines -> the "approximate"
result is DETERMINISTIC and oracle-checkable (the DuckDB oracle mirrors
the same permutation constants).

100 TB posture: signatures are NUM_PERM longs per doc (tiny); the band
join shuffles (band, signature) keys whose cardinality is bounded by the
corpus, never the quadratic pair space; only LSH-colliding pairs reach
the exact verify. Tune NUM_BANDS/ROWS_PER_BAND for the target threshold
(s-curve: P(collide) = 1 - (1 - j^rows)^bands).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.rank import ranked_by
from hive_similarity_join_spark.operators.similarity import tokenize
from hive_similarity_join_spark.operators.partitions import hash_placed, parallelism, spread

P_MOD = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
NUM_PERM = 16
ROWS_PER_BAND = 4
NUM_BANDS = NUM_PERM // ROWS_PER_BAND

# Fixed permutation constants (generated once, hard-coded so Spark and
# the DuckDB oracle share them; any fixed odd a, arbitrary b works).
PERM_A = (
    1103515245, 1229087, 2094433, 1664525, 22695477, 65793, 4096993, 9301,
    214013, 17405, 69069, 1812433253, 134775813, 1566083941, 747796405, 62089911,
)
PERM_B = (
    12345, 987654321, 55555, 1013904223, 1, 828281, 17, 49297,
    2531011, 10395331, 362437, 29943829, 1, 1406932606, 2891336453, 19,
)
assert len(PERM_A) == len(PERM_B) == NUM_PERM


def _minhash_sig_ctes(src: str = "documents") -> str:
    """The shared DuckDB CTE pipeline every MinHash oracle opens with
    (tokenize -> rarest-first rank -> permutations -> signatures ->
    band signatures) — ONE definition so a change to the permutation
    scheme, tie-break, or band layout cannot silently diverge between
    the four consuming oracles (minhash pairs, incremental screen,
    estimate audit, fuzzy decontamination). ``src`` substitutes a
    restricted corpus subquery (the sampled-denominator audit) — note
    token ranks, and therefore signature values, are then computed
    over THAT corpus's vocabulary, exactly like the Spark operator on
    the same filtered DataFrame."""
    a_list = "[" + ", ".join(str(a) for a in PERM_A) + "]"
    b_list = "[" + ", ".join(str(b) for b in PERM_B) + "]"
    return f"""WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM {src}, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
rk AS (SELECT tok, row_number() OVER (ORDER BY c, tok) AS r FROM freq),
tokr AS (SELECT doc_id, r FROM tok JOIN rk USING (tok)),
perms AS (
  SELECT t.i AS i, ({a_list})[t.i] AS a, ({b_list})[t.i] AS b
  FROM unnest(generate_series(1, {NUM_PERM})) AS t(i)
),
sig AS (
  SELECT doc_id, p.i, min((p.a * t.r + p.b) % {P_MOD}) AS h
  FROM tokr t CROSS JOIN perms p GROUP BY doc_id, p.i
),
bands AS (
  SELECT doc_id, CAST((i - 1) // {ROWS_PER_BAND} AS INTEGER) AS band,
         string_agg(CAST(h AS VARCHAR), '-' ORDER BY i) AS bsig
  FROM sig GROUP BY 1, 2
)"""


MINHASH_SIG_CTES = _minhash_sig_ctes()


def _ranked_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
    token_dict: DataFrame | None = None,
) -> DataFrame:
    """(_id, _r): distinct (doc, token-rank) pairs, rank = global
    rarest-first ordering (freq asc, token asc) — vocabulary-sized dict,
    broadcast into the explode join. ``tokens_col`` names an existing
    (bag or set) token-array column to reuse instead of re-splitting
    ``text_col`` — the post-explode distinct gives identical set
    semantics either way.

    ``token_dict``: a prebuilt (_tok, _rank) dictionary covering the
    corpus (r17 seam). The kernel's shared dictionary
    (similarity._rank_tokens over tokenize()-distinct token sets) counts
    exactly the distinct (doc, token) pairs this function counts and
    ranks by the same (freq asc, token asc) order through the same
    ranked_by — so the (token -> rank) mapping is IDENTICAL, and with it
    every permutation hash and signature downstream. Passing it skips
    the per-session frequency + two-pass rank rebuild."""
    df = spread(df)  # before the tokenize/explode map work
    toks = F.col(tokens_col) if tokens_col else tokenize(text_col)
    tok = (
        df.select(F.col(id_col).alias("_id"), F.explode(toks).alias("_tok"))
        .distinct()
    )
    if token_dict is not None:
        rk = token_dict.select("_tok", F.col("_rank").alias("_r"))
    else:
        freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_c"))
        # Distributed rank (operators/rank.py): the vocabulary's long
        # tail is not small at web scale, so no single-task global sort.
        rk = ranked_by(freq, ["_c", "_tok"], "_r").select("_tok", "_r")
    return tok.join(F.broadcast(rk), "_tok").select("_id", "_r")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    with_rank_arrays: bool = False,
    tokens_col: str | None = None,
    token_dict: DataFrame | None = None,
) -> DataFrame:
    """(_id, _h1.._h{NUM_PERM}[, _rks]): one row per doc, wide signature.

    All NUM_PERM permutations are computed as parallel ``min`` aggregates
    over the SAME (_id, _r) rows — one shuffle on the doc id with map-side
    partial mins, instead of exploding NUM_PERM copies of every token row
    and shuffling (_id, perm) keys. At 100 TB this is the difference
    between shuffling |tokens| and NUM_PERM x |tokens| rows.

    ``with_rank_arrays`` additionally collects the sorted int rank array
    (bijective with the token set) in the SAME aggregate, so the verify
    step can intersect int arrays without a second tokenize pass.

    ``token_dict``: prebuilt rank dictionary — see :func:`_ranked_tokens`
    for the exact-identity argument.
    """
    tokr = _ranked_tokens(df, id_col, text_col, tokens_col, token_dict)
    # bigint arithmetic: a*r overflows int32 (ANSI mode raises, not wraps)
    r = F.col("_r").cast("bigint")
    aggs = [
        F.min(
            (F.lit(PERM_A[i]).cast("bigint") * r + F.lit(PERM_B[i])) % F.lit(P_MOD)
        ).alias(f"_h{i + 1}")
        for i in range(NUM_PERM)
    ]
    if with_rank_arrays:
        aggs.append(F.array_sort(F.collect_list("_r")).alias("_rks"))
    return tokr.groupBy("_id").agg(*aggs)


def band_signatures(sigs: DataFrame) -> DataFrame:
    """(_id, _band, _bsig) from a wide signature row: band signatures
    are plain column concats (no second groupBy); band order matches
    the oracle's ORDER BY i."""
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
    return sigs.select(
        "_id", F.explode(F.array(*band_structs)).alias("_bs")
    ).select(
        "_id",
        F.col("_bs._band").alias("_band"),
        F.col("_bs._bsig").alias("_bsig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    tokens_col: str | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs verified with exact Jaccard >= threshold.

    Returns (id1, id2, sim) — the deterministic LSH-candidate subset of
    the exact similarity join (recall < 1 by design; the s-curve at the
    default 4x4 config keeps high recall near t=0.8+).

    ``sigs``: a prebuilt signature relation — must be exactly
    ``minhash_signatures(df, id_col, text_col, with_rank_arrays=True,
    tokens_col=tokens_col)`` (r17 seam: the full-corpus signatures are
    shared session state; see queries/dedup_q.docs_minhash_sigs).
    """
    # The signature relation feeds three consumers (band explode + both
    # verify sides) in ONE job, so Spark's ReusedExchange dedupes the
    # underlying shuffle already; measured A/B at sf0.1 showed explicit
    # persistence strictly slower (adds a cache-write pass for work the
    # exchange reuse makes free). Deliberately NOT persisted.
    if sigs is None:
        sigs = minhash_signatures(
            df, id_col, text_col, with_rank_arrays=True, tokens_col=tokens_col
        )
    bands = band_signatures(sigs)
    # The band join has a tiny input and a candidate-pair output, so its
    # sides are placed with an explicit count like the similarity
    # kernel's candidate join (partitions module docstring).
    # (Salting the signature key like the kernel does was measured a
    # wash here at sf0.1 — this corpus's band buckets aren't hot enough
    # to serialize; adopt the kernel's salt pattern if a corpus with
    # larger duplicate clusters makes one bucket dominate.)
    n_part = parallelism(df)
    a = hash_placed(
        bands, ["_band", "_bsig"], {"_id": "id1", "_band": "_band1", "_bsig": "_bsig1"}
    )
    b = hash_placed(
        bands, ["_band", "_bsig"], {"_id": "id2", "_band": "_band2", "_bsig": "_bsig2"}
    )
    cand = (
        a.join(
            b,
            (F.col("_band1") == F.col("_band2"))
            & (F.col("_bsig1") == F.col("_bsig2"))
            & (F.col("id1") < F.col("id2")),
        )
        .select("id1", "id2")
        .repartition(n_part, "id1", "id2")
        .distinct()
    )
    # Verify on int rank arrays (bijective with token sets — identical
    # Jaccard), reusing the signature relation: no second tokenize pass
    # over the corpus, and int intersects beat string intersects.
    t1 = sigs.select(F.col("_id").alias("id1"), F.col("_rks").alias("_rks1"))
    t2 = sigs.select(F.col("_id").alias("id2"), F.col("_rks").alias("_rks2"))
    inter = F.size(F.array_intersect("_rks1", "_rks2")).cast("double")
    union = (F.size("_rks1") + F.size("_rks2")).cast("double") - inter
    return (
        cand.join(t1, "id1")
        .join(t2, "id2")
        .select("id1", "id2", (inter / union).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def incremental_minhash_screen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new: Column,
    threshold: float,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Ingestion-time dedup: screen a NEW batch against the standing
    corpus (and against earlier rows of the same batch) with
    MinHash-LSH, WITHOUT ever pairing corpus-vs-corpus.

    Returns one row per new-batch doc:
    (doc_id, n_corpus_dups, n_prior_dups, admitted) where admitted = 1
    iff the doc matches nothing in the corpus and no smaller-id batch
    doc at exact Jaccard >= threshold (the deterministic one-pass
    admission rule: a batch doc is charged against every smaller-id
    near-dup in the same batch, independent of that doc's own verdict —
    parallel-safe, no sequential greedy chain).

    100 TB posture: this is THE daily-ingest shape. The band join's
    build side is only the NEW batch's bands; the corpus side streams
    against it, so cost scales with |batch| x collision rate, never
    |corpus|^2 (a production system persists the corpus band index and
    this probe reads it as-is). Signatures here are computed over the
    union dictionary in one pass so the DuckDB oracle can mirror the
    permutations hash-exactly; an online system would freeze the rank
    dictionary — documented, not a semantics change at fixed input.

    ``sigs``: prebuilt full-corpus signature relation — same contract
    as :func:`minhash_lsh_pairs`.
    """
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, with_rank_arrays=True)
    flags = df.select(
        F.col(id_col).alias("_id"), is_new.cast("boolean").alias("_new")
    )
    sigs = sigs.join(flags, "_id")
    bands = band_signatures(sigs.select("_id", *[f"_h{i+1}" for i in range(NUM_PERM)]))
    bands = bands.join(flags, "_id")
    n_part = parallelism(df)
    a = hash_placed(
        bands.filter("_new"),
        ["_band", "_bsig"],
        {"_id": "id1", "_band": "_band1", "_bsig": "_bsig1"},
    )
    b = hash_placed(
        bands,
        ["_band", "_bsig"],
        {"_id": "id2", "_new": "_new2", "_band": "_band2", "_bsig": "_bsig2"},
    )
    cand = (
        a.join(
            b,
            (F.col("_band1") == F.col("_band2"))
            & (F.col("_bsig1") == F.col("_bsig2"))
            & (F.col("id1") != F.col("id2"))
            & (~F.col("_new2") | (F.col("id2") < F.col("id1"))),
        )
        .select("id1", "id2", "_new2")
        .repartition(n_part, "id1", "id2")
        .distinct()
    )
    t1 = sigs.select(F.col("_id").alias("id1"), F.col("_rks").alias("_rks1"))
    t2 = sigs.select(F.col("_id").alias("id2"), F.col("_rks").alias("_rks2"))
    inter = F.size(F.array_intersect("_rks1", "_rks2")).cast("double")
    union = (F.size("_rks1") + F.size("_rks2")).cast("double") - inter
    dups = (
        cand.join(t1, "id1")
        .join(t2, "id2")
        .filter((inter / union) >= threshold)
        .groupBy("id1")
        .agg(
            F.sum(F.when(~F.col("_new2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_corpus_dups"),
            F.sum(F.when(F.col("_new2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_prior_dups"),
        )
    )
    newdocs = flags.filter("_new").select(F.col("_id").alias("id1"))
    return (
        newdocs.join(dups, "id1", "left")
        .select(
            F.col("id1").alias("doc_id"),
            F.coalesce("n_corpus_dups", F.lit(0)).cast("bigint").alias("n_corpus_dups"),
            F.coalesce("n_prior_dups", F.lit(0)).cast("bigint").alias("n_prior_dups"),
            (
                (F.coalesce("n_corpus_dups", F.lit(0)) == 0)
                & (F.coalesce("n_prior_dups", F.lit(0)) == 0)
            )
            .cast("bigint")
            .alias("admitted"),
        )
    )


def duck_incremental_oracle(threshold: float, new_mod: int, new_rem: int) -> str:
    """DuckDB mirror of incremental_minhash_screen on documents, with
    the new batch defined as doc_id % new_mod = new_rem."""
    return f"""
{MINHASH_SIG_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         (b.doc_id % {new_mod} = {new_rem}) AS new2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id
  WHERE a.doc_id % {new_mod} = {new_rem}
    AND (b.doc_id % {new_mod} <> {new_rem} OR b.doc_id < a.doc_id)
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, count(*) AS i
  FROM cand c JOIN tok x ON x.doc_id = c.id1 JOIN tok y
    ON y.doc_id = c.id2 AND y.tok = x.tok
  GROUP BY 1, 2
),
dup AS (
  SELECT c.id1,
         CAST(sum(CASE WHEN c.new2 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_corpus_dups,
         CAST(sum(CASE WHEN c.new2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_prior_dups
  FROM cand c
  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
  JOIN sz s1 ON s1.doc_id = c.id1
  JOIN sz s2 ON s2.doc_id = c.id2
  WHERE CAST(coalesce(i.i, 0) AS DOUBLE)
        / (s1.n + s2.n - coalesce(i.i, 0)) >= {threshold}
  GROUP BY c.id1
)
SELECT d.doc_id,
       coalesce(n_corpus_dups, 0) AS n_corpus_dups,
       coalesce(n_prior_dups, 0) AS n_prior_dups,
       CAST(coalesce(n_corpus_dups, 0) = 0
            AND coalesce(n_prior_dups, 0) = 0 AS BIGINT) AS admitted
FROM documents d
LEFT JOIN dup ON dup.id1 = d.doc_id
WHERE d.doc_id % {new_mod} = {new_rem}
"""


def duck_minhash_oracle(threshold: float, src: str = "documents") -> str:
    """DuckDB mirror of minhash_lsh_pairs on the documents table (or a
    restricted ``src`` subquery — the sampled audit)."""
    return f"""
{_minhash_sig_ctes(src)},
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT c.id1, c.id2, count(*) AS i
  FROM cand c JOIN tok x ON x.doc_id = c.id1 JOIN tok y
    ON y.doc_id = c.id2 AND y.tok = x.tok
  GROUP BY 1, 2
)
SELECT c.id1, c.id2,
       CAST(coalesce(i.i, 0) AS DOUBLE) / (s1.n + s2.n - coalesce(i.i, 0)) AS sim
FROM cand c
LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
JOIN sz s1 ON s1.doc_id = c.id1
JOIN sz s2 ON s2.doc_id = c.id2
WHERE CAST(coalesce(i.i, 0) AS DOUBLE) / (s1.n + s2.n - coalesce(i.i, 0))
      >= {threshold}
"""


SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed long exactly
SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def duck_simhash_oracle(max_hamming: int) -> str:
    """DuckDB mirror of simhash_pairs on the documents table.

    Token hash: Spark computes ``conv(substr(md5(tok), 1, 15), 16, 10)``;
    DuckDB reads the same 15 hex chars via a '0x' string cast (exact —
    60 bits fit a BIGINT). Votes, fingerprint assembly, banding and the
    bit_count(xor) verify are integer math, identical on both engines.
    """
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes),
bands AS (
  SELECT doc_id, fp, t.i AS band,
         (fp >> (t.i * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} AS bv
  FROM fp, unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.fp AS fp1, b.fp AS fp2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(fp1, fp2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp1, fp2)) <= {max_hamming}
"""


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, _fp): 60-bit SimHash per document.

    Token hash = first 15 hex chars of md5 (engine-portable, no JVM
    hash dependency); per-bit majority vote over the token set, built
    from 60 conditional-sum aggregates — wide but fully codegen'd,
    one shuffle on the doc id.
    """
    df = spread(df)
    tok = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokenize(text_col)).alias("_tok"))
        .distinct()
    )
    h = F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )
    tok = tok.select("_id", h.alias("_h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    fp = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_b{b}") >= 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = bit if fp is None else fp + bit
    return agg.select("_id", fp.alias("_fp"))


def _lowest_set_bit(m: int, width: int) -> int:
    """Index of the lowest set bit of ``m`` (``width`` when none)."""
    for i in range(width):
        if m & (1 << i):
            return i
    return width


def _two_lowest_set_bits(m: int, width: int) -> tuple[int, int]:
    """Indices (i, j), i < j, of the two lowest set bits of ``m``
    (``(width, width)`` when fewer than two are set)."""
    i = _lowest_set_bit(m, width)
    if i == width:
        return width, width
    j = _lowest_set_bit(m & ~(1 << i), width)
    return i, j


def _canonical_band(fp1: Column, fp2: Column) -> Column:
    """Index of the FIRST intact (bitwise-equal) 15-bit band of a
    fingerprint pair — the r17 candidate-dedup device: a pair sharing k
    intact bands is emitted k times by the band equi-join, and keeping
    only the row whose ``_band`` equals this canonical index replaces
    the ``dropDuplicates`` exchange over the candidate blowup with a
    row-local filter (guide §2.4 — remove shuffles outright). Exactly
    one candidate row survives per qualifying pair: the join already
    guarantees >= 1 intact band, the canonical index is a pure function
    of (fp1, fp2), and the banded relation holds one row per (_id,
    band), so the (id1, id2, canonical-band) row exists and is unique."""
    x = fp1.bitwiseXOR(fp2)
    mask = None
    for b in range(SIMHASH_BANDS):
        bit = F.when(
            F.shiftright(x, b * _BAND_BITS).bitwiseAND(
                F.lit((1 << _BAND_BITS) - 1)
            )
            == 0,
            F.lit(1 << b),
        ).otherwise(F.lit(0))
        mask = bit if mask is None else mask + bit
    # Constant 16-entry lookup (index of lowest set bit): integer ops +
    # one literal-array access per candidate row — the predicate runs on
    # the full join-output blowup, so it must cost arithmetic, not
    # allocations (a per-row array_sort was measured 2-3x slower than
    # the dropDuplicates it replaced).
    lowest = [_lowest_set_bit(m, SIMHASH_BANDS) for m in range(1 << SIMHASH_BANDS)]
    return F.element_at(F.lit(lowest), mask.cast("int") + 1)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, hamming): near-dup pairs by SimHash distance.

    Banding (4 x 15 bits) makes candidate generation an equi-join: any
    pair within Hamming distance 3 shares at least one intact band
    (pigeonhole), so the blocking is LOSSLESS for max_hamming < 4;
    verification is exact ``bit_count(xor)``. Duplicate candidates
    (pairs sharing several intact bands) are dropped by the canonical
    first-intact-band filter (:func:`_canonical_band`) instead of a
    ``dropDuplicates`` shuffle.

    Role contract (r10 audit, q_dedup_simhash_recall): at radius 3
    this is a HIGH-PRECISION PRE-FILTER ONLY — true near-dup pairs
    (Jaccard >= 0.8) center at Hamming 8-10 of 60 bits, so radius 3
    recalls ~6% of them (precision 0.99). Use MinHash-LSH
    (minhash_lsh_pairs, recall 0.79 / precision 1.0) as the
    production near-dup path, or :func:`simhash_pairs_wide` when
    Hamming semantics at usable recall are specifically wanted.

    ``fps``: a prebuilt (_id, _fp) fingerprint relation for ``df``
    (r17 seam): the self-join's two sides share no exchange across the
    BroadcastExchange boundary, so an un-materialized fingerprint
    subtree executes twice per graph — and the narrow and wide graphs
    share the identical relation. Must be exactly
    ``simhash_fingerprints(df, id_col, text_col)``.
    """
    if fps is None:
        fps = simhash_fingerprints(df, id_col, text_col)
    bands = fps.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_band"),
                        F.shiftright(F.col("_fp"), i * _BAND_BITS)
                        .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                        .alias("_bv"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_bs"),
    ).select("_id", "_fp", F.col("_bs._band").alias("_band"), F.col("_bs._bv").alias("_bv"))
    a = bands.select(
        F.col("_id").alias("id1"), F.col("_fp").alias("_fp1"), "_band", "_bv"
    )
    b = bands.select(
        F.col("_id").alias("id2"), F.col("_fp").alias("_fp2"),
        F.col("_band").alias("_band2"), F.col("_bv").alias("_bv2"),
    )
    ham = F.bit_count(F.col("_fp1").bitwiseXOR(F.col("_fp2")))
    return (
        a.join(
            b,
            (F.col("_band") == F.col("_band2"))
            & (F.col("_bv") == F.col("_bv2"))
            & (F.col("id1") < F.col("id2")),
        )
        .filter(F.col("_band") == _canonical_band(F.col("_fp1"), F.col("_fp2")))
        .select("id1", "id2", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


SIMHASH_WIDE_BLOCKS = 10  # 6 bits per block over the 60-bit fingerprint
SIMHASH_WIDE_HAMMING = 8  # lossless: 8 flips leave >= 2 of 10 blocks intact
_WBLK_BITS = SIMHASH_BITS // SIMHASH_WIDE_BLOCKS
_WBLK_MASK = (1 << _WBLK_BITS) - 1
_WIDE_COMBOS = [
    (i, j)
    for i in range(SIMHASH_WIDE_BLOCKS)
    for j in range(i + 1, SIMHASH_WIDE_BLOCKS)
]  # C(10,2) = 45 block-pair keys per doc


def wide_band_rel(fps: DataFrame) -> DataFrame:
    """(_id, _fp, _bk, _v1, _v2): the C(10,2)=45 block-pair candidate
    keys of a fingerprint relation (_id, _fp) — the blocking seam
    shared by ``simhash_pairs_wide`` (full self-join) and
    ``simhash_wide_delta_pairs`` (the incremental new-vs-all join of
    the streaming ensemble mirror), so the two cannot drift."""
    blk = [
        F.shiftright(F.col("_fp"), i * _WBLK_BITS)
        .bitwiseAND(F.lit(_WBLK_MASK))
        for i in range(SIMHASH_WIDE_BLOCKS)
    ]
    return fps.select(
        "_id",
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i * SIMHASH_WIDE_BLOCKS + j).alias("_bk"),
                        blk[i].alias("_v1"),
                        blk[j].alias("_v2"),
                    )
                    for i, j in _WIDE_COMBOS
                ]
            )
        ).alias("_bs"),
    ).select(
        "_id",
        "_fp",
        F.col("_bs._bk").alias("_bk"),
        F.col("_bs._v1").alias("_v1"),
        F.col("_bs._v2").alias("_v2"),
    )


def _canonical_wide_bk(fp1: Column, fp2: Column) -> Column:
    """Canonical block-pair key for the WIDE scheme: ``i*10 + j`` over
    the two SMALLEST intact 6-bit blocks of the pair — the wide twin of
    :func:`_canonical_band`. A near-dup pair has up to C(10,2)=45
    intact block-pairs, so the equi-join emits it up to 45 times; on
    this corpus's dup-dense clusters that was a ~45x candidate blowup
    feeding a ``dropDuplicates`` exchange (the single most expensive
    shuffle of the dedup generator family — measured 43.8 s at sf0.1).
    Keeping only the row whose ``_bk`` equals this canonical key is a
    row-local filter: any matched row proves >= 2 intact blocks, so the
    two array-min slots are always real block indices and exactly one
    join row per pair carries the canonical key."""
    x = fp1.bitwiseXOR(fp2)
    mask = None
    for i in range(SIMHASH_WIDE_BLOCKS):
        bit = F.when(
            F.shiftright(x, i * _WBLK_BITS).bitwiseAND(F.lit(_WBLK_MASK)) == 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        mask = bit if mask is None else mask + bit
    # Constant 1024-entry lookup (two lowest set bits -> i*10+j):
    # integer ops + one literal-array access per candidate row — see
    # _canonical_band for why the predicate must avoid per-row array
    # construction.
    lookup = []
    for m in range(1 << SIMHASH_WIDE_BLOCKS):
        i, j = _two_lowest_set_bits(m, SIMHASH_WIDE_BLOCKS)
        lookup.append(i * SIMHASH_WIDE_BLOCKS + j)
    return F.element_at(F.lit(lookup), mask.cast("int") + 1)


def simhash_wide_delta_pairs(
    all_fps: DataFrame,
    new_fps: DataFrame,
    max_hamming: int = SIMHASH_WIDE_HAMMING,
) -> DataFrame:
    """(id1, id2, hamming): every wide-radius SimHash pair with AT
    LEAST ONE side in ``new_fps`` (both relations (_id, _fp);
    ``all_fps`` must contain ``new_fps``). The incremental form of
    ``simhash_pairs_wide``: the wide-pair predicate is purely PAIRWISE
    (doc-local md5 fingerprints, lossless blocking at the radius), so
    the pair set over a growing corpus is MONOTONE and accumulating
    these deltas over epochs reproduces the batch self-join exactly —
    the one ensemble generator with that property (MinHash-LSH band
    keys read the corpus-global token ranking; SNM neighborhoods are
    global ranks). Cost per epoch: |new| x 45 keys probing the
    accumulated band index, never |corpus|^2."""
    a = wide_band_rel(new_fps).select(
        F.col("_id").alias("_na"), F.col("_fp").alias("_nfp"),
        "_bk", "_v1", "_v2",
    )
    b = wide_band_rel(all_fps).select(
        F.col("_id").alias("_ab"), F.col("_fp").alias("_afp"),
        F.col("_bk").alias("_bk2"), F.col("_v1").alias("_v12"),
        F.col("_v2").alias("_v22"),
    )
    ham = F.bit_count(F.col("_fp1").bitwiseXOR(F.col("_fp2")))
    return (
        a.join(
            b,
            (F.col("_bk") == F.col("_bk2"))
            & (F.col("_v1") == F.col("_v12"))
            & (F.col("_v2") == F.col("_v22"))
            & (F.col("_na") != F.col("_ab")),
        )
        # Canonical-key filter cuts the up-to-45x block-pair blowup to
        # one row per (orientation of a) pair BEFORE the dropDuplicates
        # exchange; the dedup itself stays (a new-new pair still arrives
        # once per orientation, which a row-local filter cannot see).
        .filter(F.col("_bk") == _canonical_wide_bk(F.col("_nfp"), F.col("_afp")))
        .select(
            F.least("_na", "_ab").alias("id1"),
            F.greatest("_na", "_ab").alias("id2"),
            F.when(F.col("_na") < F.col("_ab"), F.col("_nfp"))
            .otherwise(F.col("_afp"))
            .alias("_fp1"),
            F.when(F.col("_na") < F.col("_ab"), F.col("_afp"))
            .otherwise(F.col("_nfp"))
            .alias("_fp2"),
        )
        .dropDuplicates(["id1", "id2"])
        .select("id1", "id2", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_wide(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = SIMHASH_WIDE_HAMMING,
    fps: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, hamming): near-dup pairs by SimHash distance at a
    WIDE radius — the high-recall configuration (VERDICT r10 item 5).

    ``simhash_pairs``'s 4x15-bit banding is lossless only to Hamming 3,
    which on this corpus's near-dup density buys 0.056 recall vs exact
    Jaccard t=0.8 (q_dedup_simhash_recall): true near-dup pairs center
    at Hamming 8-10 of 60 bits. Here the fingerprint splits into 10
    blocks of 6 bits and candidates key on every C(10,2)=45 ORDERED
    block-pair (the multi-table scheme of Manku, Jain & Sarma, WWW'07
    "Detecting Near-Duplicates for Web Crawling", done relationally):
    ``max_hamming`` flips touch at most 8 blocks, so >= 2 blocks stay
    intact and some intact pair matches — LOSSLESS for Hamming <= 8,
    lifting the recall ceiling to the corpus's cumulative mass at 8
    (0.53 at sf0.01). Verification is exact ``bit_count(xor)``.

    Scale posture, stated honestly: the key is (block-pair id, 12
    bits of fingerprint), so candidate volume grows ~ 45 * n^2 / 2^12
    within a corpus — fine for millions of docs per shard, but at
    web scale the 12-bit key is the bottleneck and MinHash-LSH
    (128-bit band keys, q_dedup_minhash_lsh) remains the production
    recall path; this operator is for pipelines that specifically
    want Hamming semantics (e.g. as the verify stage after a pHash /
    fingerprint blocking).

    ``fps``: prebuilt fingerprint relation — see :func:`simhash_pairs`.
    """
    if fps is None:
        fps = simhash_fingerprints(df, id_col, text_col)
    bands = wide_band_rel(fps)
    a = bands.select(
        F.col("_id").alias("id1"), F.col("_fp").alias("_fp1"),
        "_bk", "_v1", "_v2",
    )
    b = bands.select(
        F.col("_id").alias("id2"), F.col("_fp").alias("_fp2"),
        F.col("_bk").alias("_bk2"), F.col("_v1").alias("_v12"),
        F.col("_v2").alias("_v22"),
    )
    ham = F.bit_count(F.col("_fp1").bitwiseXOR(F.col("_fp2")))
    return (
        a.join(
            b,
            (F.col("_bk") == F.col("_bk2"))
            & (F.col("_v1") == F.col("_v12"))
            & (F.col("_v2") == F.col("_v22"))
            & (F.col("id1") < F.col("id2")),
        )
        .filter(F.col("_bk") == _canonical_wide_bk(F.col("_fp1"), F.col("_fp2")))
        .select("id1", "id2", ham.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def duck_simhash_wide_oracle(max_hamming: int = SIMHASH_WIDE_HAMMING) -> str:
    """DuckDB mirror of simhash_pairs_wide on the documents table —
    identical fingerprint math to duck_simhash_oracle, block-pair
    candidate keys instead of contiguous bands."""
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN b{b} >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM votes),
bands AS (
  SELECT doc_id, fp,
         t1.i * {SIMHASH_WIDE_BLOCKS} + t2.j AS bk,
         (fp >> (t1.i * {_WBLK_BITS})) & {_WBLK_MASK} AS v1,
         (fp >> (t2.j * {_WBLK_BITS})) & {_WBLK_MASK} AS v2
  FROM fp,
       unnest(generate_series(0, {SIMHASH_WIDE_BLOCKS - 1})) AS t1(i),
       unnest(generate_series(0, {SIMHASH_WIDE_BLOCKS - 1})) AS t2(j)
  WHERE t1.i < t2.j
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.fp AS fp1, b.fp AS fp2
  FROM bands a JOIN bands b
    ON a.bk = b.bk AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(fp1, fp2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp1, fp2)) <= {max_hamming}
"""


def _checkpointer(pairs: DataFrame, checkpoint_dir: str | None):
    """Per-round lineage truncation for the iterative CC operators.

    ``checkpoint_dir=None`` -> ``localCheckpoint`` (executor-local
    blocks: cheapest, correct on a healthy cluster, but a lost executor
    loses blocks with no lineage left to recompute them). A durable
    directory (HDFS/S3 at cluster scale, any path locally) -> reliable
    ``checkpoint``, which survives executor loss — the right mode for
    multi-hour 100 TB CC runs. Both preserve the physical partitioning
    the callers stake on (ReliableCheckpointRDD keeps the partitioner).

    Durable mode PRUNES superseded rounds: Spark never deletes
    reliable checkpoint data itself (and the ContextCleaner's
    cleanCheckpoints conf is read at context start, too late to set
    here), so a 50-round run would otherwise retain 50 edge-sized
    dumps — storage exhaustion on exactly the long runs durable mode
    exists for. Each call attributes the rdd-* directories it created
    (listing before/after); unpinned rounds older than the last TWO
    are deleted via the Hadoop FileSystem API (two, not one: the
    alternating stars' convergence anti-join reads the PREVIOUS
    batch's relation). ``pin=True`` marks a checkpoint read for the
    whole run — the edge set every label round re-joins — as
    never-pruned.

    Each run is NAMESPACED under a fresh ``run-<uuid>`` subdirectory of
    ``checkpoint_dir`` (ADVICE r6): ``setCheckpointDir`` is a
    context-global mutation and attribution works by before/after
    directory listing, so two CC runs sharing the raw dir could
    mis-attribute and delete each other's live checkpoint files. With
    the namespace, concurrent runs on the same SparkContext only race
    on the LAST ``setCheckpointDir`` to execute — interleaving
    checkpoint calls of two simultaneously-iterating CC runs on one
    context is still unsupported (document stands) — but the common
    sequential-runs-shared-dir case is fully safe. The returned
    callable exposes ``.cleanup()``, which deletes the whole run
    subdirectory — call it only after the result has been fully
    consumed (written out / collected), since the final DataFrame's
    lineage still reads the last checkpoint files.
    """
    if checkpoint_dir is None:
        fn = lambda df, pin=False: df.localCheckpoint(eager=True)  # noqa: E731
        fn.cleanup = lambda: None
        return fn

    import uuid

    run_dir = checkpoint_dir.rstrip("/") + f"/run-{uuid.uuid4().hex[:12]}"
    sc = pairs.sparkSession.sparkContext
    sc.setCheckpointDir(run_dir)
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()

    def _rdd_dirs() -> dict[str, object]:
        root = jvm.org.apache.hadoop.fs.Path(run_dir)
        fs = root.getFileSystem(hconf)
        out = {}
        if fs.exists(root):
            glob = jvm.org.apache.hadoop.fs.Path(
                run_dir.rstrip("/") + "/*/rdd-*"
            )
            for st in fs.globStatus(glob) or []:
                p = st.getPath()
                out[p.toString()] = p
        return out

    protected: set[str] = set()
    history: list[dict[str, object]] = []

    def ckpt(df: DataFrame, pin: bool = False) -> DataFrame:
        before = set(_rdd_dirs())
        out = df.checkpoint(eager=True)
        after = _rdd_dirs()
        created = {k: v for k, v in after.items() if k not in before}
        if pin:
            protected.update(created)
        else:
            history.append(created)
            while len(history) > 2:
                stale = history.pop(0)
                fs = jvm.org.apache.hadoop.fs.Path(
                    run_dir
                ).getFileSystem(hconf)
                for name, p in stale.items():
                    if name not in protected:
                        fs.delete(p, True)
        return out

    def cleanup() -> None:
        root = jvm.org.apache.hadoop.fs.Path(run_dir)
        fs = root.getFileSystem(hconf)
        if fs.exists(root):
            fs.delete(root, True)

    ckpt.cleanup = cleanup
    ckpt.run_dir = run_dir
    return ckpt


def connected_components_alternating(
    pairs: DataFrame,
    max_iter: int = 50,
    probe_every: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    "Connected Components in MapReduce and Beyond", SoCC 2014):
    (id, component) with component = min node id of the component.

    Each round rewires edges toward component minima:
      large-star(u): every neighbor v > u is re-pointed at
                     m = min(neighbors(u) + [u]);
      small-star(u): every neighbor v < u (and u itself) is re-pointed
                     at m = min of those smaller neighbors.
    Both preserve connectivity exactly; the composition contracts the
    graph toward per-component stars in O(log n) rounds REGARDLESS of
    diameter — the scale answer for deep/chain-shaped graphs, where
    min-label propagation (``connected_components``) needs O(diameter)
    rounds. For the dense near-dup clique graphs the dedup keys
    produce (diameter 1-2), min-label's cheaper rounds win instead;
    pick per graph shape.

    Every step is edge-sized shuffle work (groupBy on an endpoint) —
    no node ever materializes its full neighbor list, so high-degree
    hubs cost a partial-aggregate, not a collect. Convergence is
    detected exactly: a round that changes nothing (anti-join on the
    canonical edge set is empty) is final, because both stars are
    deterministic functions of the edge set.

    ``probe_every`` batches that many star rounds into one Spark job
    between convergence probes (checkpoint + count): fewer blocking
    driver round trips at the cost of up to probe_every-1 rounds of
    overshoot past the fixed point. 1 = probe every round (least work,
    most round trips); 2 = the default latency/work balance.

    ``checkpoint_dir``: None -> localCheckpoint (fast, executor-loss
    fragile); a durable path -> reliable per-round checkpoints (the
    cluster-scale mode — see ``_checkpointer``).
    """
    ckpt = _checkpointer(pairs, checkpoint_dir)
    # ONE eager checkpoint of the canonical pair set: everything below
    # (the edge set, the node universe, every round's lineage root)
    # derives from it. Checkpointing edges and nodes separately would
    # execute the upstream pair computation (typically a full
    # similarity join) TWICE — two independent eager jobs share no
    # exchange reuse.
    e0 = (
        pairs.select(
            F.greatest("id1", "id2").alias("u"), F.least("id1", "id2").alias("v")
        )
        .distinct()
        .transform(lambda d: ckpt(d, pin=True))
    )
    e = e0.filter(F.col("u") != F.col("v"))
    nodes = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    # Edge count per round is tracked driver-side: each round's input
    # count equals the previous round's (checkpoint-materialized) output
    # count, so only the NEW edge set is ever counted — one count job
    # per round instead of two.
    e_cnt = e.count()
    # Two star rounds run per blocking probe: checkpoint + count + (maybe)
    # anti-join are the driver round trips that dominate wall clock on
    # small-to-medium graphs, and both stars are lazily composable — the
    # intermediate round's relation never needs materializing. Comparing
    # the edge set across a 2-round batch stays an EXACT convergence test:
    # star contraction monotonically decreases the Kiveris potential, so
    # no period-2 cycle exists — equal sets across the batch imply a
    # fixed point was reached inside it.
    for _ in range((max_iter + probe_every - 1) // probe_every):
        prev = e  # pre-batch edge set (checkpointed, or a filter over it)
        for _step in range(probe_every):
            # large-star over the symmetrized view: from each endpoint a,
            # re-point every LARGER neighbor b at min(neighbors(a) + [a]).
            sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
                e.select(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
            # No mid-round distinct: the duplicates (each undirected edge
            # is seen from both endpoints) at most double the next
            # stage's input, while deduping them would cost a full
            # edge-sized shuffle; every consumer below (min aggregate,
            # final distinct) is duplicate-tolerant.
            ls = (
                sym.join(mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
            )
            # small-star on (u > v) orientation: re-point every smaller
            # neighbor (and u itself) at the min smaller neighbor.
            smins = ls.groupBy("u").agg(F.min("v").alias("m"))
            e = (
                ls.join(smins, "u")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("x"), F.col("m").alias("y")),
                            F.struct(F.col("u").alias("x"), F.col("m").alias("y")),
                        )
                    ).alias("_e")
                )
                .select(
                    F.greatest("_e.x", "_e.y").alias("u"),
                    F.least("_e.x", "_e.y").alias("v"),
                )
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
        ss = ckpt(e)
        # Convergence: both sets are distinct, so equal counts + empty
        # one-sided anti-join <=> equal sets. Counts come free off the
        # checkpointed relations, so the anti-join (an edge-sized probe)
        # only runs on batches whose counts already agree — i.e. at most
        # the final batch and count-collision batches. `prev` is the
        # previous batch's checkpointed relation, so the anti-join reads
        # two materialized sets, never recomputes a star round.
        changed = 1
        ss_cnt = ss.count()
        if ss_cnt == e_cnt:
            changed = ss.join(prev, ["u", "v"], "left_anti").limit(1).count()
        e, e_cnt = ss, ss_cnt
        if changed == 0:
            break
    # Converged edge set is a star per component: (member, root). Roots
    # (and singleton nodes, if any survived the input filter) label
    # themselves.
    star = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return nodes.join(star, "id", "left").select(
        "id", F.coalesce("comp", "id").alias("comp")
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
    probe_every: int = 2,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Duplicate clustering: transitive closure of a pair graph
    (id1, id2) -> (id, component) with component = min reachable id.

    Iterative min-label propagation with per-round path compression
    (pointer doubling on the node-sized label table): the edge step
    moves labels one hop, the compression step follows comp ->
    comp(comp), so label distance halves per round and convergence is
    O(log diameter) edge shuffles — measured: a 120-node path settles
    in 6 rounds (pure propagation would need 119). Per-round
    checkpoints truncate the exponentially-growing lineage:
    ``checkpoint_dir=None`` -> localCheckpoint (fast, executor-loss
    fragile), a durable path -> reliable checkpoints, the
    cluster-scale mode (see ``_checkpointer``).

    ``probe_every`` batches that many propagate+compress steps into one
    Spark job between convergence probes (checkpoint + `_chg` count):
    fewer blocking driver round trips at the cost of up to
    probe_every-1 steps of overshoot past the fixed point.
    """
    ckpt = _checkpointer(pairs, checkpoint_dir)
    n_part = parallelism(pairs)
    edges = (
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionByName(pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
        # No distinct: canonical (id1 < id2) input pairs make both
        # orientation legs duplicate-free, and min-label propagation is
        # idempotent under duplicate edges regardless — a full
        # shuffle+dedupe of the edge set would be pure overhead.
        # Hash-partition by the per-round join key BEFORE checkpointing:
        # both checkpoint modes preserve the physical partitioning, so every
        # iteration's edges-to-labels join shuffles only the NODE-sized
        # label relation while the (much larger) edge set stays put —
        # near-dup graphs are dense (edges >> nodes), so this moves the
        # per-round shuffle from O(edges) to O(nodes).
        .repartition(n_part, "b")
        # materialize once: every iteration re-reads the edge set, and
        # without this the full upstream pair computation (e.g. a
        # similarity join) re-executes per round. Pinned: every label
        # round re-joins this relation, so the pruner must never
        # collect it.
        .transform(lambda d: ckpt(d, pin=True))
    )
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("comp"))
        .select(F.col("a").alias("id"), F.least("comp", "id").alias("comp"))
    )
    # Two propagate+compress steps run per blocking probe: the eager
    # checkpoint and the `_chg` count are driver round trips, and on a
    # latency-bound run (small graph, many partitions) they — not the
    # shuffles — dominate wall clock. Convergence is judged on the LAST
    # step's `_chg` alone, which stays exact: labels only ever decrease,
    # a propagation that changes nothing is a fixed point, and a fixed
    # point is invariant under further steps — so "step 2k changed
    # nothing" is final regardless of what step 2k-1 did.
    for _ in range((max_iter + probe_every - 1) // probe_every):
        cur = labels
        for _step in range(probe_every):
            # 1-hop neighbor min. Labels only ever decrease, so
            # "changed" is derivable inline (new < old) — no old-vs-new
            # join per round.
            neigh = (
                edges.join(cur, edges["b"] == cur["id"])
                .groupBy("a")
                .agg(F.min("comp").alias("n_comp"))
            )
            prop = cur.join(neigh, cur["id"] == neigh["a"], "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
                (F.coalesce(F.col("n_comp"), F.col("comp")) < F.col("comp")).alias(
                    "_chg"
                ),
            )
            # Path compression (pointer doubling): follow comp ->
            # comp(comp) on the NODE-sized label table, halving every
            # remaining label chain per step — the propagation above
            # moves information one edge hop, this moves it 2^step hops,
            # so total steps drop from O(diameter) to O(log diameter)
            # edge shuffles (the dominant per-step cost at scale; the
            # compression join only shuffles labels).
            m = prop.select(F.col("id").alias("comp"), F.col("comp").alias("_cc"))
            cur = prop.join(m, "comp", "left").select(
                "id",
                F.least("comp", F.coalesce("_cc", "comp")).alias("comp"),
                "_chg",
            )
        new_labels = ckpt(cur)
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels
