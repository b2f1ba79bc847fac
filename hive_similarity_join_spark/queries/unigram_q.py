"""Unigram-LM (SentencePiece-family) tokenizer-training query keys.

The BPE trainer's sibling (operators/bpe.py trains by merging;
operators/unigram.py trains by hard-EM over a seeded piece vocabulary
— module docstring there has the full model definition and the
bit-exactness argument: Viterbi DP in IEEE multiply/divide/compare
only, no adds to FMA-fuse, no transcendentals).

Three keys pin the full train loop end-to-end, mirroring the BPE key
family (q_bpe_pairs / q_bpe_merges / q_bpe_segment):

- ``q_unigram_lm_seed``  — the seeded piece vocabulary (stage 1).
- ``q_unigram_lm_em``    — piece counts + probabilities after EM
  rounds 1 and 2 (the first two M-steps, each from a full Viterbi
  E-step over the word relation).
- ``q_unigram_segment``  — the round-2 Viterbi segmentations of the
  corpus vocabulary, with their (bit-deterministic) path scores.
- ``q_unigram_encode_docs`` — the trained tokenizer's per-document
  token budget (the q_bpe_encode_docs mirror).

The oracle mirrors the DP with one generated CTE per character
position per round (the ``_bpe_round_ctes`` device scaled up): both
engines run the SAME multiply chain in the same association order and
pick winners with the SAME lexicographic struct-min, so the doubles
hash bit-equal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.functions import text as TX
from hive_similarity_join_spark.operators import unigram as UG
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table

_W = UG.MAX_WORD_LEN
_P = UG.MAX_PIECE_LEN
_K = UG.SEED_K_MULTI
_SEED_TOP = 50
_EM_TOP = 25
_SEG_TOP = 50


def _base_ctes() -> str:
    """bags -> word-frequency -> substring-edge -> seed CTEs (shared
    prefix of all three oracles)."""
    return f"""bags AS MATERIALIZED (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
wf AS MATERIALIZED (
  SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS n
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_W}
  GROUP BY 1
),
subs AS MATERIALIZED (
  SELECT word, n, i - 1 AS src, i + l - 1 AS dst,
         word[i : i + l - 1] AS piece
  FROM wf, unnest(generate_series(1, len(word))) AS s(i),
       unnest(generate_series(1, {_P})) AS t(l)
  WHERE i + l - 1 <= len(word)
),
sc AS MATERIALIZED (
  SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM subs GROUP BY 1
),
seed AS MATERIALIZED (
  SELECT piece, cnt FROM sc WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM sc WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {_K}
  )
)"""


def _model_ctes(r: int, prev_pieces: str, p: str = "") -> list[str]:
    """The round-``r`` MODEL as SQL — normalized piece probabilities
    from ``prev_pieces`` (piece, cnt) and the substring-edge join —
    shared by the 1-best DP (``_round_ctes``), the n-best DP
    (``_nbest_ctes``) and the vocab sweep (``p``-prefixed names)."""
    return [
        f"""{p}pieces{r} AS MATERIALIZED (
  SELECT piece, CAST(cnt AS DOUBLE) /
         (SELECT CAST(sum(cnt) AS DOUBLE) FROM {prev_pieces}) AS p
  FROM {prev_pieces}
)""",
        f"""{p}edges{r} AS MATERIALIZED (
  SELECT s.word AS word, s.src AS src, s.dst AS dst,
         s.piece AS piece, v.p AS p
  FROM subs s JOIN {p}pieces{r} v USING (piece)
)""",
    ]


def _round_ctes(r: int, prev_pieces: str, p: str = "") -> str:
    """One hard-EM round as SQL: probabilities from ``prev_pieces``
    (piece, cnt), the Viterbi DP as one CTE per character position
    (min of struct(ns, k, seg) — ns is the NEGATED probability
    product, so struct-min is probability-max with (fewer pieces,
    segmentation ASC) tie-break), the segmentation join-back, and the
    M-step piece counts. ``p`` prefixes every CTE name so several
    independent trainings (the vocab sweep) compose in one statement;
    the default "" keeps the single-training oracles' text verbatim."""
    parts = _model_ctes(r, prev_pieces, p) + [
        f"""{p}dp{r}_0 AS MATERIALIZED (
  SELECT word, 0 AS pos, CAST(-1.0 AS DOUBLE) AS ns, 0 AS k, '' AS seg
  FROM wf
)""",
    ]
    for j in range(1, _W + 1):
        lo = max(0, j - _P)
        frontier = "\n      UNION ALL ".join(
            f"SELECT word, pos, ns, k, seg FROM {p}dp{r}_{i}"
            for i in range(lo, j)
        )
        parts.append(f"""{p}dp{r}_{j} AS MATERIALIZED (
  SELECT word, {j} AS pos, best.ns AS ns, best.k AS k, best.seg AS seg
  FROM (
    SELECT a.word AS word,
           min(struct_pack(
               ns := a.ns * e.p,
               k := a.k + 1,
               seg := CASE WHEN a.pos = 0 THEN e.piece
                           ELSE a.seg || ' ' || e.piece END)) AS best
    FROM ({frontier}) a
    JOIN {p}edges{r} e
      ON e.word = a.word AND e.src = a.pos AND e.dst = {j}
    GROUP BY a.word
  )
)""")
    union = "\n    UNION ALL ".join(
        f"SELECT word, pos, ns, k, seg FROM {p}dp{r}_{j}"
        for j in range(1, _W + 1)
    )
    parts.append(f"""{p}seg{r} AS MATERIALIZED (
  SELECT wf.word AS word, wf.n AS n, d.k AS k, d.seg AS seg, d.ns AS ns
  FROM wf JOIN (
    {union}
  ) d ON d.word = wf.word AND d.pos = len(wf.word)
)""")
    parts.append(f"""{p}pc{r} AS MATERIALIZED (
  SELECT t.piece AS piece, CAST(sum(n) AS BIGINT) AS cnt
  FROM {p}seg{r}, unnest(string_split(seg, ' ')) AS t(piece)
  GROUP BY 1
)""")
    return ",\n".join(parts)


def _nbest_ctes(r: int, nb: int) -> str:
    """The round-``r`` N-BEST Viterbi DP as SQL (assumes ``edges{r}``
    from ``_model_ctes``): per character position, the top-``nb``
    partial segmentations per word by (ns ASC = probability DESC,
    k ASC, seg ASC) — a row_number CTE per position instead of the
    1-best struct-min, the exact relational mirror of
    operators/unigram.py viterbi_nbest_segment's array_sort+slice.
    Ends in ``nseg{r}`` (word, n, nb_eff, rank, k, seg, ns)."""
    parts = [
        f"""ndp{r}_0 AS MATERIALIZED (
  SELECT word, 0 AS pos, CAST(-1.0 AS DOUBLE) AS ns, 0 AS k, '' AS seg
  FROM wf
)"""
    ]
    for j in range(1, _W + 1):
        lo = max(0, j - _P)
        frontier = "\n      UNION ALL ".join(
            f"SELECT word, pos, ns, k, seg FROM ndp{r}_{i}"
            for i in range(lo, j)
        )
        seg_expr = (
            "CASE WHEN a.pos = 0 THEN e.piece "
            "ELSE a.seg || ' ' || e.piece END"
        )
        parts.append(f"""ndp{r}_{j} AS MATERIALIZED (
  SELECT word, {j} AS pos, ns, k, seg FROM (
    SELECT a.word AS word, a.ns * e.p AS ns, a.k + 1 AS k,
           {seg_expr} AS seg,
           row_number() OVER (
             PARTITION BY a.word
             ORDER BY a.ns * e.p ASC, a.k + 1 ASC, {seg_expr} ASC
           ) AS rnk
    FROM ({frontier}) a
    JOIN edges{r} e
      ON e.word = a.word AND e.src = a.pos AND e.dst = {j}
  ) WHERE rnk <= {nb}
)""")
    union = "\n    UNION ALL ".join(
        f"SELECT word, pos, ns, k, seg FROM ndp{r}_{j}"
        for j in range(1, _W + 1)
    )
    parts.append(f"""nseg{r} AS MATERIALIZED (
  SELECT wf.word AS word, wf.n AS n,
         CAST(count(*) OVER (PARTITION BY wf.word) AS INT) AS nb_eff,
         CAST(row_number() OVER (
           PARTITION BY wf.word ORDER BY d.ns, d.k, d.seg
         ) AS INT) AS rank,
         d.k AS k, d.seg AS seg, d.ns AS ns
  FROM wf JOIN (
    {union}
  ) d ON d.word = wf.word AND d.pos = len(wf.word)
)""")
    return ",\n".join(parts)


_SEED_SQL = f"""
WITH {_base_ctes()}
SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, cnt,
       CAST(cnt AS DOUBLE) /
       (SELECT CAST(sum(cnt) AS DOUBLE) FROM seed) AS prob
FROM seed
ORDER BY cnt DESC, piece LIMIT {_SEED_TOP}
"""

_EM_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")}
SELECT CAST(1 AS BIGINT) AS em_round, piece, cnt,
       CAST(cnt AS DOUBLE) /
       (SELECT CAST(sum(cnt) AS DOUBLE) FROM pc1) AS prob
FROM (SELECT piece, cnt FROM pc1 ORDER BY cnt DESC, piece LIMIT {_EM_TOP})
UNION ALL
SELECT CAST(2 AS BIGINT), piece, cnt,
       CAST(cnt AS DOUBLE) /
       (SELECT CAST(sum(cnt) AS DOUBLE) FROM pc2) AS prob
FROM (SELECT piece, cnt FROM pc2 ORDER BY cnt DESC, piece LIMIT {_EM_TOP})
"""

_SEG_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")}
SELECT word, n, CAST(k AS BIGINT) AS n_pieces, seg AS segmented,
       -ns AS score
FROM seg2
ORDER BY n DESC, word LIMIT {_SEG_TOP}
"""


_ENC_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")},
occ AS (
  SELECT doc_id, t.tok AS word
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_W}
)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       CAST(sum(s.k) AS BIGINT) AS n_unigram_tokens,
       CAST(sum(length(o.word)) AS DOUBLE) / sum(s.k) AS compression
FROM occ o JOIN seg2 s ON s.word = o.word
GROUP BY o.doc_id
"""


def unigram_chain(spark, sf_dir):
    """Session-pinned shared hard-EM chain at the module defaults
    (_K/_W/_P) — r16 optimization: EIGHT keys re-ran the identical
    word-count + seed + 2-round Viterbi-EM chain (~2.5-3.5 s apiece at
    sf0.1, ~20 s of the suite). Returns (wf, [seed, pc1, pc2], seg1,
    seg2) — exactly unigram_train(wf, 2, _K, _W, _P)'s composition
    with session pins at the four expensive stage boundaries (the
    word-frequency relation, the seed vocabulary, both Viterbi
    E-steps; all vocab-sized). pc1/pc2 are cheap aggregates over the
    pinned segmentations. Degrade after a clearCache is recompute,
    never a different answer (the DP is deterministic)."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    key = scope(spark, sf_dir)

    def wf_build():
        d = load_table(spark, sf_dir, "documents")
        return UG.word_freqs_plain(d, TX.bag_tokens("text"), _W)

    wf = session_ckpt("unigram_wf", key, wf_build)
    seed = session_ckpt(
        "unigram_seed",
        key,
        lambda: UG.with_probs(UG.seed_pieces(UG.substrings(wf, _P), _K)),
    )
    seg1 = session_ckpt(
        "unigram_seg1", key, lambda: UG.viterbi_segment(wf, seed, _W, _P)
    )
    pc1 = UG.with_probs(UG.piece_counts(seg1))
    seg2 = session_ckpt(
        "unigram_seg2", key, lambda: UG.viterbi_segment(wf, pc1, _W, _P)
    )
    pc2 = UG.with_probs(UG.piece_counts(seg2))
    return wf, [seed, pc1, pc2], seg1, seg2


@query("q_unigram_lm_seed", oracle=_SEED_SQL)
def q_unigram_lm_seed(spark, sf_dir):
    """Unigram-LM trainer stage 1 — the seeded piece vocabulary: every
    substring (length 1..{P}) of every trainable word, occurrence-
    weighted; ALL single chars kept (coverage guarantee) + the
    top-{K} multi-char pieces by (count DESC, piece ASC). Emits the
    top-{TOP} seed pieces with their counts and normalized
    probabilities (one exact int->double cast + one IEEE divide —
    bit-equal across engines).

    Scale shape: the substring explode runs over the VOCABULARY-sized
    word-frequency relation (the one corpus-sized pass is the word
    count), the count is a piece-keyed partial-aggregated shuffle, and
    both the multi-char top-k and the output top-k plan as
    TakeOrderedAndProject. See operators/unigram.py for the full
    trainer posture.""".format(P=_P, K=_K, TOP=_SEED_TOP)
    _wf, rounds, _s1, _s2 = unigram_chain(spark, sf_dir)
    seed = rounds[0]
    return (
        seed.select(
            "piece",
            F.length("piece").cast("bigint").alias("piece_len"),
            "cnt",
            F.col("p").alias("prob"),
        )
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(_SEED_TOP)
    )


@query("q_unigram_lm_em", oracle=_EM_SQL)
def q_unigram_lm_em(spark, sf_dir):
    """The unigram-LM trainer's first two hard-EM rounds, pinned
    bit-exactly: each round Viterbi-segments every trainable word
    under the current piece probabilities (DP over character
    positions — probability-max with (fewer pieces, segmentation ASC)
    tie-break) and re-estimates probabilities from the occurrence-
    weighted piece counts of those segmentations, pruning pieces that
    earned no mass. Emits the top-{TOP} pieces of each round with
    count and probability.

    Determinism: the DP score is a pure IEEE multiply chain in fixed
    association order, compared exactly — both engines compute
    bit-identical candidate sets and pick identical winners (see
    operators/unigram.py for why hard-EM is the exactness-compatible
    EM variant). Counts are exact integers; each probability is one
    divide.

    Scale shape: per round, the piece relation BROADCASTS into the
    vocab-sized substring-edge join, each word's edge list collects in
    one word-keyed shuffle, and the whole DP runs inside a single
    codegen'd higher-order expression per word (operators/unigram.py
    viterbi_segment — two vocab-sized shuffles per E-step, no
    per-layer joins); the M-step count is one piece-keyed shuffle.
    Nothing after the initial word count touches the corpus.""".format(
        TOP=_EM_TOP
    )
    _wf, rounds, _s1, _s2 = unigram_chain(spark, sf_dir)
    out = None
    for r in (1, 2):
        leg = (
            rounds[r]
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(_EM_TOP)
            .select(
                F.lit(r).cast("bigint").alias("em_round"),
                "piece",
                "cnt",
                F.col("p").alias("prob"),
            )
        )
        out = leg if out is None else out.unionAll(leg)
    return out


@query("q_unigram_segment", oracle=_SEG_SQL)
def q_unigram_segment(spark, sf_dir):
    """The trained unigram tokenizer APPLIED (the q_bpe_segment
    mirror): every trainable corpus word with its round-2 Viterbi
    segmentation — word, occurrence count, piece count, space-joined
    segmentation, and the segmentation's probability-product score
    (bit-deterministic: the DP's own multiply chain, negated out of
    the struct-min ordering key). Top-{TOP} words by (count DESC,
    word ASC). Together with q_unigram_lm_em this pins the full
    train-then-encode loop, exactly as q_bpe_merges + q_bpe_segment
    pin BPE's.

    Scale shape: identical to q_unigram_lm_em (the segmentation IS
    round 2's E-step relation); the top-k is TakeOrderedAndProject
    over the vocabulary.""".format(TOP=_SEG_TOP)
    _wf, _rounds, _s1, seg = unigram_chain(spark, sf_dir)
    return (
        seg.select(
            "word",
            "n",
            F.col("k").cast("bigint").alias("n_pieces"),
            F.col("seg").alias("segmented"),
            (-F.col("ns")).alias("score"),
        )
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_SEG_TOP)
    )


@query("q_unigram_encode_docs", oracle=_ENC_SQL)
def q_unigram_encode_docs(spark, sf_dir):
    """The trained unigram tokenizer's per-document budget (the
    q_bpe_encode_docs mirror, completing the 4-key family symmetry
    with BPE): for every doc, its trainable word count, character
    count, unigram token count under the round-2 Viterbi
    segmentations, and the chars-per-token compression ratio — the
    tokens-per-document planning artifact a sequence packer consumes
    (q_pack_sequences packs token budgets, not char budgets).
    Occurrence-weighted: each word occurrence costs its
    segmentation's piece count.

    Determinism: integer counts joined through the word relation
    (every trainable occurrence matches exactly one segmented word);
    the single double division per row has identical association on
    both engines.

    Scale shape: the segmented vocabulary (vocab-sized) BROADCASTS
    into the per-occurrence join — the corpus-sized relation never
    shuffles on the word key; per-doc aggregation is the only
    corpus-sized shuffle, keyed on doc_id. The EM training upstream
    is q_unigram_lm_em's plan verbatim."""
    d = load_table(spark, sf_dir, "documents")
    _wf, _rounds, _s1, seg = unigram_chain(spark, sf_dir)
    occ = d.select(
        "doc_id", F.explode(TX.bag_tokens("text")).alias("word")
    ).filter(
        F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= _W)
    )
    return (
        occ.join(F.broadcast(seg.select("word", "k")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("k").cast("bigint").alias("n_unigram_tokens"),
            (
                F.sum(F.length("word")).cast("double") / F.sum("k")
            ).alias("compression"),
        )
    )


_OOV_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")},
occ_all AS (
  SELECT doc_id, t.tok AS word FROM bags, unnest(bag) AS t(tok)
),
j AS (
  SELECT o.doc_id, o.word, s.k
  FROM occ_all o LEFT JOIN seg2 s ON s.word = o.word
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov_words,
       CAST(sum(CASE WHEN k IS NULL THEN strlen(word) ELSE 0 END)
            AS BIGINT) AS n_oov_bytes,
       CAST(sum(COALESCE(k, 0)) AS BIGINT) AS n_unigram_tokens,
       CAST(sum(COALESCE(k, strlen(word))) AS BIGINT)
           AS n_total_tokens,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS oov_frac
FROM j GROUP BY doc_id
"""


@query("q_unigram_oov", oracle=_OOV_SQL)
def q_unigram_oov(spark, sf_dir):
    """The trained unigram tokenizer's OUT-OF-VOCABULARY budget (r13
    VERDICT item #5): q_unigram_encode_docs prices only the trainable
    scope (lowercase alnum words of length <= {W}) — a production
    encoder must also account for every word OUTSIDE it. Per doc,
    over ALL whitespace tokens: total word count, OOV word count, the
    byte-fallback token budget (UTF-8 bytes of OOV words — the cost
    of encoding them one byte-token per byte, SentencePiece's
    byte_fallback), the in-scope unigram token count, the TOTAL token
    budget, and the OOV fraction.

    Full-budget identity (stated, and expressed structurally):
    n_total_tokens = sum over every word occurrence of
    COALESCE(k, strlen(word)) — each word costs its Viterbi
    piece count if trainable, else its byte-fallback length, so
    unigram tokens + fallback bytes cover EVERY word:
    n_total_tokens = n_unigram_tokens + n_oov_bytes by construction
    on both engines (it is emitted, not derived, so the driver hash
    pins the identity).

    Determinism: scope is decided by LEFT-JOIN NULLNESS against the
    segmented vocabulary itself — not a re-stated regex — so Spark
    and DuckDB cannot disagree on what is OOV (the vocabulary
    contains exactly the trainable words by construction); all
    budgets are exact integers; the one double is an
    exactly-representable BIGINT/BIGINT correctly-rounded divide.

    Scale shape: q_unigram_encode_docs's posture verbatim — the
    vocab-sized (word, k) relation BROADCASTS into the all-occurrence
    left join, the per-doc aggregation is the only corpus-sized
    shuffle (doc_id-keyed), and the EM training upstream is
    q_unigram_lm_em's plan.""".format(W=_W)
    d = load_table(spark, sf_dir, "documents")
    _wf, _rounds, _s1, seg = unigram_chain(spark, sf_dir)
    occ = d.select("doc_id", F.explode(TX.bag_tokens("text")).alias("word"))
    oov = F.col("k").isNull()
    j = occ.join(F.broadcast(seg.select("word", "k")), "word", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(oov, 1).otherwise(0)).cast("bigint").alias("n_oov_words"),
        F.sum(F.when(oov, F.octet_length("word")).otherwise(0))
        .cast("bigint")
        .alias("n_oov_bytes"),
        F.sum(F.coalesce(F.col("k"), F.lit(0)))
        .cast("bigint")
        .alias("n_unigram_tokens"),
        F.sum(F.coalesce(F.col("k"), F.octet_length("word")))
        .cast("bigint")
        .alias("n_total_tokens"),
        (
            F.sum(F.when(oov, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_frac"),
    )


_PRUNE_K = 20
_PRUNE_TOP = 25

_PRUNE_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")},
chars3 AS MATERIALIZED (
  SELECT piece, cnt FROM pc2 WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM seed
  WHERE len(piece) = 1
    AND piece NOT IN (SELECT piece FROM pc2 WHERE len(piece) = 1)
),
pruned AS MATERIALIZED (
  SELECT piece, cnt FROM chars3
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM pc2 WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {_PRUNE_K}
  )
),
{_round_ctes(3, "pruned")},
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pc2) AS vocab_before,
         (SELECT CAST(count(*) AS BIGINT) FROM pruned) AS vocab_after,
         (SELECT CAST(sum(n * k) AS BIGINT) FROM seg2) AS tokens_before,
         (SELECT CAST(sum(n * k) AS BIGINT) FROM seg3) AS tokens_after
)
SELECT t.piece, t.cnt,
       CAST(t.cnt AS DOUBLE) /
       (SELECT CAST(sum(cnt) AS DOUBLE) FROM pc3) AS prob,
       s.vocab_before, s.vocab_after, s.tokens_before, s.tokens_after
FROM (SELECT piece, cnt FROM pc3
      ORDER BY cnt DESC, piece LIMIT {_PRUNE_TOP}) t, stats s
"""


@query("q_unigram_prune", oracle=_PRUNE_SQL)
def q_unigram_prune(spark, sf_dir):
    """Unigram-LM VOCABULARY PRUNING — the trainer stage the 4-key
    family stops short of (SentencePiece alternates EM with pruning
    until the target vocab): after the round-2 M-step, keep only the
    top-{PK} multi-char pieces by (count DESC, piece ASC) plus a
    CHARACTER COVERAGE FLOOR — every single-char piece of round 2,
    plus any seed single char round 2 dropped, re-injected with its
    seed count (SentencePiece's character_coverage guard, and the
    reason the round-3 DP can never strand a word: all its chars are
    length-1 substrings of the seed, so every position stays
    reachable through single-char edges) — then retrain ONE more EM
    round under the renormalized pruned model. Count-based pruning
    (not likelihood-loss) is the deliberate deterministic stand-in:
    the loss rule needs logs, and transcendentals are the one thing
    the bit-exact cross-engine contract forbids (module docstring).

    Emits the top-{TOP} round-3 pieces with counts and renormalized
    probabilities, each row carrying the pruning price sheet: vocab
    size before/after (round-2 M-step survivors vs pruned model) and
    the corpus token budget before/after (sum of n x piece-count over
    the round-2 vs round-3 segmentations) — tokens_after minus
    tokens_before IS what the vocab cut costs in sequence length,
    THE number a tokenizer deployment trades against embedding-table
    size. All budgets exact integers; the one double per row is the
    _EM_SQL probability divide.

    Scale shape: one extra E-step over the pinned word relation (two
    shuffles, the viterbi_segment posture) and one vocab-sized
    top-k; the stats are four scalar aggregates over vocab-sized /
    vocabulary-of-words-sized relations. The oracle reuses
    _round_ctes(3, 'pruned') — the SAME generated DP text as rounds
    1-2, so the retrain leg cannot drift from the trainer it
    extends.""".format(PK=_PRUNE_K, TOP=_PRUNE_TOP)
    wf, rounds, _s1, seg2 = unigram_chain(spark, sf_dir)
    # Pin the piece-vocab-sized round-2 M-step counts: the price-sheet
    # aggregates below consume them three ways (wf/seg2 themselves are
    # session-pinned in unigram_chain — the r16 sharing; before that,
    # the unpinned lineage OOM'd the driver's status listener).
    pc2 = pin(rounds[2].select("piece", "cnt"))
    seed0 = rounds[0].select("piece", "cnt")
    chars_pc2 = pc2.filter(F.length("piece") == 1)
    chars_missing = (
        seed0.filter(F.length("piece") == 1)
        .join(chars_pc2.select("piece"), "piece", "left_anti")
    )
    multi3 = (
        pc2.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(_PRUNE_K)
    )
    pruned = pin(chars_pc2.unionByName(chars_missing).unionByName(multi3))
    seg3 = pin(UG.viterbi_segment(wf, UG.with_probs(pruned), _W, _P))
    pc3 = UG.with_probs(UG.piece_counts(seg3))
    toks = lambda seg: F.sum(F.col("n") * F.col("k")).cast("bigint")  # noqa: E731
    stats = (
        pc2.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_before"))
        .crossJoin(
            pruned.agg(F.count(F.lit(1)).cast("bigint").alias("vocab_after"))
        )
        .crossJoin(seg2.agg(toks(seg2).alias("tokens_before")))
        .crossJoin(seg3.agg(toks(seg3).alias("tokens_after")))
    )
    return (
        pc3.orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(_PRUNE_TOP)
        .select("piece", "cnt", F.col("p").alias("prob"))
        .crossJoin(F.broadcast(stats))
    )


_NB = 3
_NBEST_TOP = 40


def _nbest_model_ctes() -> str:
    """Shared oracle prefix of the two subword-regularization keys:
    train one hard-EM round (pc1 — the same model q_unigram_segment's
    round-2 pass segments under), normalize it (pieces2/edges2), and
    run the n-best DP to ``nseg2``."""
    model2 = ",\n".join(_model_ctes(2, "pc1"))
    return (
        f"{_base_ctes()},\n"
        f"{_round_ctes(1, 'seed')},\n"
        f"{model2},\n"
        f"{_nbest_ctes(2, _NB)}"
    )


_NBEST_SQL = f"""
WITH {_nbest_model_ctes()},
top_words AS (
  SELECT word FROM wf ORDER BY n DESC, word LIMIT {_NBEST_TOP}
)
SELECT s.word, s.n, CAST(s.nb_eff AS BIGINT) AS nb_eff,
       CAST(s.rank AS BIGINT) AS rank,
       CAST(s.k AS BIGINT) AS n_pieces, s.seg AS segmented,
       -s.ns AS score
FROM nseg2 s JOIN top_words USING (word)
"""


@query("q_unigram_nbest", oracle=_NBEST_SQL)
def q_unigram_nbest(spark, sf_dir):
    """Subword regularization stage 1 — the N-BEST segmentation
    lattice (Kudo, ACL 2018 §3): for the top-{TOP} trainable words,
    the {NB} best segmentations under the trained round-2 unigram
    model (the SAME model q_unigram_segment's Viterbi pass uses), each
    with its 1-based rank, piece count and probability-product score.
    Rank 1 reproduces q_unigram_segment's winner exactly; ranks 2..{NB}
    are the alternatives a regularized trainer samples among — and
    nb_eff < {NB} flags words whose lattice has fewer paths than
    requested (short words), the degenerate case a sampler must
    handle.

    Exactness: the n-best DP is the 1-best DP's contract verbatim
    (IEEE multiply chains in fixed association order, total
    (ns, k, seg) candidate order because a segmentation string
    uniquely identifies its path) — both engines keep bit-identical
    top-{NB} lists at every DP position, so the emitted lists match
    row-for-row. See operators/unigram.py viterbi_nbest_segment.

    Scale shape: identical to the 1-best E-step — pieces broadcast,
    one word-keyed collect, the DP inside one codegen'd expression per
    word with a {NB}x wider accumulator; two vocab-sized shuffles
    total, nothing corpus-sized after the word count.""".format(
        TOP=_NBEST_TOP, NB=_NB
    )
    wf, rounds, _s1, _s2 = unigram_chain(spark, sf_dir)
    nseg = UG.viterbi_nbest_segment(wf, rounds[1], _NB, _P)
    top = (
        wf.orderBy(F.desc("n"), F.asc("word")).limit(_NBEST_TOP)
        .select("word")
    )
    return nseg.join(F.broadcast(top), "word").select(
        "word",
        "n",
        F.col("nb_eff").cast("bigint").alias("nb_eff"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("k").cast("bigint").alias("n_pieces"),
        F.col("seg").alias("segmented"),
        (-F.col("ns")).alias("score"),
    )


_ENC_SAMPLED_SQL = f"""
WITH {_nbest_model_ctes()},
occ AS (
  SELECT doc_id, i AS tpos, bag[i] AS word
  FROM bags, unnest(generate_series(1, len(bag))) AS s(i)
  WHERE regexp_full_match(bag[i], '[a-z0-9]+') AND len(bag[i]) <= {_W}
),
coin AS (
  SELECT doc_id, word,
         CAST(concat('0x',
              substr(md5('useg:' || CAST(doc_id AS VARCHAR) || ':'
                         || CAST(tpos AS VARCHAR)), 1, 8))
              AS BIGINT) AS u32
  FROM occ
),
pick AS (
  SELECT c.doc_id, c.word, s.k AS k_s, v.k AS k_v
  FROM coin c
  JOIN nseg2 s ON s.word = c.word AND s.rank = 1 + c.u32 % s.nb_eff
  JOIN nseg2 v ON v.word = c.word AND v.rank = 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(word)) AS BIGINT) AS n_chars,
       CAST(sum(k_s) AS BIGINT) AS n_sampled_tokens,
       CAST(sum(k_v) AS BIGINT) AS n_viterbi_tokens,
       CAST(sum(k_s) AS DOUBLE) / sum(k_v) AS sampling_overhead
FROM pick GROUP BY doc_id
"""


@query("q_unigram_encode_sampled", oracle=_ENC_SAMPLED_SQL)
def q_unigram_encode_sampled(spark, sf_dir):
    """Subword regularization stage 2 — the SAMPLED-segmentation
    encode (q_unigram_encode_docs' regularized sibling): every word
    OCCURRENCE flips an independent deterministic md5 coin
    ('useg:'-salted over (doc_id, token position), so repeated words
    in a doc sample independently) and takes segmentation rank
    ``1 + u32 % nb_eff`` from its n-best list — uniform over the
    n-best, exactly SentencePiece's sampling regime in the alpha→0
    limit (Kudo, ACL 2018 §3.2; uniform keeps the choice in pure
    integer arithmetic, where alpha-weighted sampling would need
    cross-engine float SUMS of path probabilities — the exactness
    wall operators/unigram.py's module docstring documents for soft
    EM). Per doc: word/char counts, the sampled token budget next to
    the deterministic Viterbi budget, and their ratio — the
    regularization overhead a packing pipeline (q_pack_sequences)
    must provision for, since sampled encodes are what the model
    actually trains on.

    Determinism: the coin is bit-identical hex on both engines, rank
    selection is integer modulo, both joins hit exactly one n-best
    row per occurrence (1 <= 1 + u32 % nb_eff <= nb_eff), and the
    only double is the final per-doc division.

    Scale shape: the n-best vocabulary (vocab x {NB} rows) BROADCASTS
    twice into the per-occurrence map — the corpus never shuffles on
    the word key; the doc_id partial-agg is the one corpus-sized
    shuffle, exactly q_unigram_encode_docs' plan with one md5 and one
    modulo more per occurrence.""".format(NB=_NB)
    d = load_table(spark, sf_dir, "documents")
    wf, rounds, _s1, _s2 = unigram_chain(spark, sf_dir)
    nseg = pin(UG.viterbi_nbest_segment(wf, rounds[1], _NB, _P))
    u32 = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("useg:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        (F.col("tpos0") + 1).cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u32")
    )
    occ = (
        d.select(
            "doc_id",
            F.posexplode(TX.bag_tokens("text")).alias("tpos0", "word"),
        )
        .filter(
            F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= _W)
        )
        .select("doc_id", "word", u32)
    )
    samp = nseg.select(
        F.col("word").alias("w_s"), "nb_eff", "rank",
        F.col("k").alias("k_s"),
    )
    vit = nseg.filter(F.col("rank") == 1).select(
        F.col("word").alias("w_v"), F.col("k").alias("k_v")
    )
    return (
        occ.join(
            F.broadcast(samp),
            (F.col("word") == F.col("w_s"))
            & (F.col("rank") == 1 + F.col("u32") % F.col("nb_eff")),
        )
        .join(F.broadcast(vit), F.col("word") == F.col("w_v"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("k_s").cast("bigint").alias("n_sampled_tokens"),
            F.sum("k_v").cast("bigint").alias("n_viterbi_tokens"),
            (F.sum("k_s").cast("double") / F.sum("k_v")).alias(
                "sampling_overhead"
            ),
        )
    )


def _tokenizer_compare_oracle() -> str:
    from hive_similarity_join_spark.operators.wordpiece import N_ROUNDS
    from hive_similarity_join_spark.queries.hygiene_q import (
        _BPE_ROUNDS,
        _bpe_round_ctes,
    )
    from hive_similarity_join_spark.queries.wordpiece_q import (
        _wp_round_ctes,
    )

    bpe_rounds = ",".join(
        _bpe_round_ctes(r, p="zz") for r in range(1, _BPE_ROUNDS + 1)
    )
    wp_rounds = ",".join(
        _wp_round_ctes(r, p="yy") for r in range(1, N_ROUNDS + 1)
    )
    return f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")},
zzw1 AS (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS w,
         CAST(n AS BIGINT) AS n
  FROM wf
),
{bpe_rounds},
bseg AS (
  SELECT replace(w, '|', '') AS word,
         len(string_split(trim(w, '|'), '||')) AS n_sym
  FROM zzw{_BPE_ROUNDS + 1}
),
yyw1 AS (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS w,
         CAST(n AS BIGINT) AS n
  FROM wf
),
{wp_rounds},
wpseg AS (
  SELECT replace(w, '|', '') AS word,
         len(string_split(trim(w, '|'), '||')) AS n_wp
  FROM yyw{N_ROUNDS + 1}
),
occ AS (
  SELECT d.source, t.tok AS word
  FROM documents d, unnest({TX.duck_bag()}) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_W}
)
SELECT o.source,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       CAST(sum(b.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(u.k) AS BIGINT) AS n_unigram_tokens,
       CAST(sum(wp.n_wp) AS BIGINT) AS n_wordpiece_tokens,
       CAST(sum(b.n_sym) AS DOUBLE) / count(*) AS bpe_fertility,
       CAST(sum(u.k) AS DOUBLE) / count(*) AS unigram_fertility,
       CAST(sum(wp.n_wp) AS DOUBLE) / count(*) AS wordpiece_fertility,
       CAST(sum(length(o.word)) AS DOUBLE) / sum(b.n_sym)
           AS bpe_compression,
       CAST(sum(length(o.word)) AS DOUBLE) / sum(u.k)
           AS unigram_compression,
       CAST(sum(length(o.word)) AS DOUBLE) / sum(wp.n_wp)
           AS wordpiece_compression,
       CAST(sum(u.k) AS DOUBLE) / sum(b.n_sym) AS token_ratio,
       CAST(sum(wp.n_wp) AS DOUBLE) / sum(b.n_sym) AS wp_bpe_ratio
FROM occ o JOIN bseg b USING (word) JOIN seg2 u USING (word)
           JOIN wpseg wp USING (word)
GROUP BY o.source
"""


@query("q_tokenizer_compare", oracle=_tokenizer_compare_oracle())
def q_tokenizer_compare(spark, sf_dir):
    """Tokenizer-family bake-off, per source: the SAME trainable word
    relation (regex-gated, length-capped) trains ALL THREE production
    tokenizer families — BPE (operators/bpe.py, merge-based),
    unigram-LM (operators/unigram.py, hard-EM) and WordPiece
    (operators/wordpiece.py, likelihood-scored merges; its leg reports
    train-time segmentation lengths, exactly parallel to the BPE leg)
    — and this key reports what each costs on each corpus slice:
    occurrence-weighted fertility (tokens per word), compression
    (chars per token), and the unigram/BPE and WordPiece/BPE
    token-count ratios. This is the selection report a
    training-data platform reads before standardizing a tokenizer:
    fertility drives context-window budget (and therefore
    q_pack_sequences' packing), and a per-source spread in token_ratio
    flags slices where the two families diverge (e.g. templated
    sources that BPE merges collapse but seed substrings don't).

    Exactness: every segmented vocabulary assigns every trainable
    word an exact integer piece count (single-char coverage on the
    unigram side, replace-based merges on the BPE/WordPiece sides),
    counts sum exactly, and every reported rate is ONE int/int double
    division. The oracle composes the trainers' already-verified CTE
    pipelines over a SHARED wf relation (BPE namespaced zz*,
    WordPiece yy* — their pc{{r}} names collide with the unigram
    E-step's).

    Scale shape: both trainers run on the vocabulary-sized wf sketch;
    the only corpus-sized passes are the initial word count and the
    per-occurrence stats join, where ALL segmented vocabularies
    broadcast. At 100 TB this is three tokenizer trainings + one
    corpus map — the comparison is practically free next to any one
    training."""
    from hive_similarity_join_spark.operators import bpe
    from hive_similarity_join_spark.operators import wordpiece as WP
    from hive_similarity_join_spark.operators.cache import pin
    from hive_similarity_join_spark.queries.hygiene_q import _BPE_ROUNDS

    d = load_table(spark, sf_dir, "documents")
    wf, _rounds, _s1, useg = unigram_chain(spark, sf_dir)
    bfinal = bpe.bpe_apply_rounds_lazy(
        wf.select(bpe.encode_chars("word").alias("w"), "n"), _BPE_ROUNDS
    )
    bseg = bfinal.select(
        F.replace(F.col("w"), F.lit("|"), F.lit("")).alias("word"),
        F.size(bpe.decode_symbols("w")).alias("n_sym"),
    )
    _wbests, wfinal = WP.wordpiece_merge_rounds(
        wf.select(bpe.encode_chars("word").alias("w"), "n"), WP.N_ROUNDS
    )
    wpseg = wfinal.select(
        F.replace(F.col("w"), F.lit("|"), F.lit("")).alias("word"),
        F.size(bpe.decode_symbols("w")).alias("n_wp"),
    )
    occ = d.select(
        "source", F.explode(TX.bag_tokens("text")).alias("word")
    ).filter(
        F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= _W)
    )
    return (
        occ.join(F.broadcast(bseg), "word")
        .join(F.broadcast(useg.select("word", "k")), "word")
        .join(F.broadcast(wpseg), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            F.sum("k").cast("bigint").alias("n_unigram_tokens"),
            F.sum("n_wp").cast("bigint").alias("n_wordpiece_tokens"),
            (F.sum("n_sym").cast("double") / F.count(F.lit(1))).alias(
                "bpe_fertility"
            ),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias(
                "unigram_fertility"
            ),
            (F.sum("n_wp").cast("double") / F.count(F.lit(1))).alias(
                "wordpiece_fertility"
            ),
            (
                F.sum(F.length("word")).cast("double") / F.sum("n_sym")
            ).alias("bpe_compression"),
            (F.sum(F.length("word")).cast("double") / F.sum("k")).alias(
                "unigram_compression"
            ),
            (
                F.sum(F.length("word")).cast("double") / F.sum("n_wp")
            ).alias("wordpiece_compression"),
            (F.sum("k").cast("double") / F.sum("n_sym")).alias(
                "token_ratio"
            ),
            (F.sum("n_wp").cast("double") / F.sum("n_sym")).alias(
                "wp_bpe_ratio"
            ),
        )
    )


_SWEEP_SIZES = (30, 60, 120)


def _vocab_sweep_oracle() -> str:
    """Three independent 2-round trainings over the SHARED wf/subs/sc
    relations, one CTE namespace per seed size, each reduced to one
    corpus-level stats row."""
    parts = []
    legs = []
    for k in _SWEEP_SIZES:
        p = f"v{k}_"
        parts.append(f"""{p}seed AS MATERIALIZED (
  SELECT piece, cnt FROM sc WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM sc WHERE len(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {k}
  )
)""")
        parts.append(_round_ctes(1, f"{p}seed", p))
        parts.append(_round_ctes(2, f"{p}pc1", p))
        legs.append(f"""SELECT CAST({k} AS BIGINT) AS k_multi,
       (SELECT CAST(count(*) AS BIGINT) FROM {p}seed) AS seed_vocab,
       (SELECT CAST(count(*) AS BIGINT) FROM {p}pc2) AS final_vocab,
       CAST(sum(n * k) AS BIGINT) AS n_tokens,
       CAST(sum(n * len(word)) AS BIGINT) AS n_chars,
       CAST(sum(n * k) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS fertility,
       CAST(sum(n * len(word)) AS DOUBLE) / CAST(sum(n * k) AS DOUBLE)
           AS compression
FROM {p}seg2""")
    body = ",\n".join(parts)
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH {_base_ctes()},
{body}
{union}
"""


@query("q_unigram_vocab_sweep", oracle=_vocab_sweep_oracle())
def q_unigram_vocab_sweep(spark, sf_dir):
    """Vocabulary-SIZE sweep for the unigram-LM tokenizer — the
    selection report the tokenizer family was missing (the LSH family
    has its band sweep, SNM its window sweep; this is the same
    measured-tradeoff pattern for the vocab-size knob every LLM
    tokenizer decision starts from): train the full 2-round hard-EM
    pipeline at seed sizes k_multi in {SIZES} over the SAME word
    relation and report, per size: seed and post-pruning vocabulary
    sizes, corpus token/char budgets, occurrence-weighted fertility
    (tokens per word — drives context-window cost) and compression
    (chars per token). Bigger vocabularies buy lower fertility at the
    price of embedding-table rows; the sweep prices that curve on
    THIS corpus instead of assuming it (the shipped k_multi={K} is
    the middle row).

    Exactness: three full trainings under the established unigram
    contract (IEEE multiply/divide/compare DP, exact integer counts);
    the per-size stats are exact bigint sums over the final
    segmentation relation with one int/int double divide each. The
    oracle namespaces each training's CTE chain (v30_/v60_/v120_) over
    the SHARED substring-count relations, so both engines train on
    identical inputs.

    Scale shape: the corpus-sized pass (word count) runs ONCE and is
    pinned; each training is the vocab-sized E/M loop of
    q_unigram_lm_em (two vocab-sized shuffles per E-step, piece
    relation broadcast); the sweep's added cost over one training is
    two more vocab-sized loops — at 100 TB the sweep is three
    tokenizer trainings on one shared word sketch, the cheap way to
    buy the vocab decision.""".format(SIZES=set(_SWEEP_SIZES), K=_K)
    wf, rounds_k, _s1, seg_k = unigram_chain(spark, sf_dir)
    out = None
    for k in _SWEEP_SIZES:
        # the k == _K leg IS the shared session-pinned chain (r16)
        rounds, seg = (
            (rounds_k, seg_k) if k == _K
            else UG.unigram_train(wf, 2, k, _W, _P)
        )
        seed_n = rounds[0].agg(
            F.count(F.lit(1)).cast("bigint").alias("seed_vocab")
        )
        final_n = rounds[2].agg(
            F.count(F.lit(1)).cast("bigint").alias("final_vocab")
        )
        stats = seg.agg(
            F.sum(F.col("n") * F.col("k")).cast("bigint").alias("n_tokens"),
            F.sum(F.col("n") * F.length("word"))
            .cast("bigint")
            .alias("n_chars"),
            F.sum("n").cast("bigint").alias("n_occ"),
        )
        leg = (
            stats.crossJoin(F.broadcast(seed_n))
            .crossJoin(F.broadcast(final_n))
            .select(
                F.lit(k).cast("bigint").alias("k_multi"),
                "seed_vocab",
                "final_vocab",
                "n_tokens",
                "n_chars",
                (
                    F.col("n_tokens").cast("double")
                    / F.col("n_occ").cast("double")
                ).alias("fertility"),
                (
                    F.col("n_chars").cast("double")
                    / F.col("n_tokens").cast("double")
                ).alias("compression"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


_TOK_PACK_BUDGET = 512


_PACK_TOKENS_SQL = f"""
WITH {_base_ctes()},
{_round_ctes(1, "seed")},
{_round_ctes(2, "pc1")},
occ AS (
  SELECT doc_id, t.tok AS word
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_W}
),
per AS (
  SELECT o.doc_id, CAST(sum(s.k) AS BIGINT) AS toks
  FROM occ o JOIN seg2 s ON s.word = o.word
  GROUP BY o.doc_id
),
bud AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(p.toks, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
)
SELECT doc_id, source, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / {_TOK_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING)
            - n_tokens AS BIGINT) AS start_offset
FROM bud
"""


@query("q_pack_sequences_tokens", oracle=_PACK_TOKENS_SQL)
def q_pack_sequences_tokens(spark, sf_dir):
    """Sequence packing on TOKEN budgets — the composition
    q_unigram_encode_docs' and q_pack_sequences' docstrings both point
    at ("you pack token budgets, not char budgets; this is where the
    two meet"): each doc's budget is its unigram token count under the
    trained round-2 model (docs with no trainable words pack at
    budget 0 — LEFT join, they still get a slot), docs are laid
    end-to-end per source in doc_id order, and bins cut every
    {BUDGET} tokens. This is the actual pretraining shard layout;
    the char-budget key remains as the tokenizer-free approximation
    whose bin drift vs this key shows what char-proxy packing costs.

    Exactness: per-doc budgets are exact integer sums through the
    broadcast segmented vocabulary; the running sum is exact bigint;
    bin_id is the established floor(start / budget.0) device both
    engines compute identically on exactly-representable ints.

    Scale shape: the corpus-sized running sum uses
    operators/scan.py grouped_prefix_scan (two-pass distributed scan,
    full cluster width — the same r10 de-weak as q_pack_sequences; a
    plain window partitioned by the handful of sources would funnel
    the corpus through |sources| tasks); the token-budget join
    broadcasts the vocab-sized segmentation; EM training upstream is
    q_unigram_lm_em's plan verbatim.""".format(BUDGET=_TOK_PACK_BUDGET)
    from hive_similarity_join_spark.operators.scan import (
        grouped_prefix_scan,
    )

    d = load_table(spark, sf_dir, "documents")
    _wf, _rounds, _s1, seg = unigram_chain(spark, sf_dir)
    occ = d.select(
        "doc_id", F.explode(TX.bag_tokens("text")).alias("word")
    ).filter(
        F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") <= _W)
    )
    per = (
        occ.join(F.broadcast(seg.select("word", "k")), "word")
        .groupBy("doc_id")
        .agg(F.sum("k").cast("bigint").alias("toks"))
    )
    bud = (
        d.select("doc_id", "source")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("toks"), F.lit(0)).cast("bigint").alias(
                "n_tokens"
            ),
        )
    )
    cum = grouped_prefix_scan(
        bud, ["source"], ["doc_id"], [("n_tokens", "sum", "_incl")]
    )
    start = F.col("_incl") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(start / F.lit(float(_TOK_PACK_BUDGET)))
        .cast("bigint")
        .alias("bin_id"),
        start.cast("bigint").alias("start_offset"),
    )
