"""WordPiece tokenizer query keys — the third tokenizer family.

BPE trains by raw-count merges (queries/hygiene_q.py q_bpe_*), the
unigram LM by hard-EM over a seeded vocabulary (queries/unigram_q.py);
WordPiece (operators/wordpiece.py — Schuster & Nakajima 2012, the BERT
tokenizer) merges by LIKELIHOOD score ``cnt(ab) / (cnt(a) * cnt(b))``
and segments at inference time by greedy longest-match-first against
the trained piece inventory (``##`` continuations, ``[UNK]`` fallback).

Two keys pin the family end-to-end, mirroring the BPE key pair
(q_bpe_merges trains / q_bpe_segment applies):

- ``q_wordpiece_merges`` — the first ``_WPR`` scored merge rounds:
  winner, its pair and symbol counts, and the score, bit-exact (the
  score is one cast-multiply-divide per candidate — no add, no FMA
  shape, identical IEEE doubles on both engines).
- ``q_wordpiece_encode`` — the trained tokenizer APPLIED: greedy
  longest-match segmentations of the top corpus words. NO floating
  point anywhere on this path (integers + strings only).

The oracle mirrors the greedy walk with one generated CTE per step
(the ``_bpe_round_ctes`` / unigram-DP device): both engines take the
same longest edge at the same position because the jump table is a
pure function of (word, position, inventory).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_similarity_join_spark.functions import text as TX
from hive_similarity_join_spark.operators import wordpiece as WP
from hive_similarity_join_spark.operators.bpe import encode_chars

from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table

_WPR = WP.N_ROUNDS
_WPW = WP.MAX_WORD_LEN
_MAXP = WP.MAX_PIECE_LEN
_WP_TOP = 50


def _wp_base_ctes() -> str:
    """bags -> capped word-frequency -> encoded-words CTEs (shared
    oracle prefix). Words are the same ``[a-z0-9]+`` pre-tokenization
    as the BPE/unigram trainers, capped at ``_WPW`` chars so the
    greedy-walk CTE chain has fixed depth on both engines."""
    return f"""bags AS MATERIALIZED (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
wf AS MATERIALIZED (
  SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS n
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_WPW}
  GROUP BY 1
),
w1 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS w, n FROM wf
)"""


def _wp_round_ctes(r: int, p: str = "") -> str:
    """One WordPiece training round as SQL: decode symbols, count
    symbols and adjacent pairs (overlap-inclusive, word-count
    weighted), score every pair ``cnt / (na * nb)`` in doubles cast
    from exact integers, pick the (score DESC, a, b) winner, apply it
    with plain replace() — the ``_bpe_round_ctes`` shape plus the
    likelihood score. ``p`` prefixes every CTE name so
    q_tokenizer_compare can compose these rounds next to the BPE and
    unigram trainers' CTEs (whose pc{{r}} names collide); the default
    "" keeps this module's single-training oracles' text verbatim."""
    return f"""{p}sy{r} AS MATERIALIZED (
  SELECT w, n, string_split(trim(w, '|'), '||') AS sy FROM {p}w{r}
),
{p}symc{r} AS (
  SELECT sy[i] AS s, CAST(sum(n) AS BIGINT) AS cnt
  FROM {p}sy{r}, unnest(generate_series(1, len(sy))) AS t(i)
  GROUP BY 1
),
{p}pc{r} AS (
  SELECT sy[i] AS a, sy[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
  FROM {p}sy{r}, unnest(generate_series(1, len(sy) - 1)) AS t(i)
  GROUP BY 1, 2
),
{p}b{r} AS (
  SELECT a, b, cnt, na, nb,
         CAST(cnt AS DOUBLE) /
         (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS score
  FROM (
    SELECT p.a AS a, p.b AS b, p.cnt AS cnt,
           sa.cnt AS na, sb.cnt AS nb
    FROM {p}pc{r} p
    JOIN {p}symc{r} sa ON sa.s = p.a
    JOIN {p}symc{r} sb ON sb.s = p.b
  )
  ORDER BY score DESC, a, b LIMIT 1
),
{p}w{r + 1} AS MATERIALIZED (
  SELECT replace(s.w, '|' || t.a || '||' || t.b || '|',
                 '|' || t.a || t.b || '|') AS w, s.n
  FROM {p}w{r} s CROSS JOIN {p}b{r} t
)"""


_MERGES_SQL = f"""
WITH {_wp_base_ctes()},
{",".join(_wp_round_ctes(r) for r in range(1, _WPR + 1))}
{" UNION ALL ".join(
    f"SELECT CAST({r} AS BIGINT) AS merge_round, a AS lhs, b AS rhs, "
    f"cnt AS n_occ, na AS n_lhs, nb AS n_rhs, score, "
    f"a || b AS merged FROM b{r}"
    for r in range(1, _WPR + 1)
)}
"""


def wp_trained(spark, sf_dir):
    """Session-memoized WordPiece training state — r16 optimization:
    all four WP keys re-ran the identical word count + {R}-round
    scored-merge chain (~6-8 s apiece at sf0.1). Returns a dict with
    the checkpointed word-frequency relation (``wfp``), the per-round
    1-row winners (``bests``) and every round's vocabulary
    (``words``, index r = after r merges — the sweep's snapshots are
    prefixes of the same chain). Checkpoint-backed
    (operators/cache.py session_state): the bench's per-key
    clearCache cannot drop it; a new session recomputes from
    parquet.""".format(R=_WPR)
    from hive_similarity_join_spark.operators.cache import scope, session_state

    def build():
        d = load_table(spark, sf_dir, "documents")
        wfp = (
            d.select(F.explode(TX.bag_tokens("text")).alias("word"))
            .filter(
                F.col("word").rlike("^[a-z0-9]+$")
                & (F.length("word") <= _WPW)
            )
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .localCheckpoint(eager=True)
        )
        wf_enc = wfp.select(encode_chars("word").alias("w"), "n")
        bests, words = WP.wordpiece_merge_rounds_trace(wf_enc, _WPR)
        return {"wfp": wfp, "bests": bests, "words": words}

    return session_state("wordpiece_trained", scope(spark, sf_dir), build)


@query("q_wordpiece_merges", oracle=_MERGES_SQL)
def q_wordpiece_merges(spark, sf_dir):
    """The WordPiece trainer's first {_WPR} merge rounds, bit-exact:
    each round counts symbols and adjacent pairs over the encoded
    word-frequency relation and merges the pair maximizing the
    likelihood score ``cnt(ab) / (cnt(a) * cnt(b))`` (ties by pair
    ascending) — the scored sibling of q_bpe_merges, completing the
    big-three tokenizer-family coverage (BPE / unigram-LM /
    WordPiece). Output: round, pair, its three counts, the score, and
    the merged symbol.

    Scale shape: identical to the BPE trainer — the one corpus-sized
    pass is the initial word count; each round is one pair-count and
    one symbol-count partial-aggregated shuffle over the
    vocabulary-sized relation, two broadcast-able count joins, and a
    broadcast 1-row winner applied by a codegen'd replace. Score
    bit-exactness: one int->double cast per operand, one multiply,
    one divide — no add, so no FMA fusion on either engine
    (operators/wordpiece.py module docstring; the 100 TB form
    cross-multiplies in DECIMAL instead)."""
    bests = wp_trained(spark, sf_dir)["bests"]
    out = None
    for r, best in enumerate(bests, 1):
        leg = best.select(
            F.lit(r).cast("bigint").alias("merge_round"),
            F.col("a").alias("lhs"),
            F.col("b").alias("rhs"),
            F.col("cnt").alias("n_occ"),
            F.col("na").alias("n_lhs"),
            F.col("nb").alias("n_rhs"),
            F.col("score"),
            F.concat("a", "b").alias("merged"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out


def _wp_walk_ctes() -> str:
    """The trained inventory + greedy longest-match walk as SQL:
    piece inventory = distinct post-training symbols; the substring
    edges of every word against it (capped at ``_MAXP`` chars, same
    cap as the Spark side); the per-(word, position) LONGEST match
    (jump table); then one CTE per step of the walk — advance to the
    jump target appending the display piece (``##`` prefix when not
    word-initial), stall as ``bad`` when no piece matches."""
    parts = [
        f"""pieces AS MATERIALIZED (
  SELECT DISTINCT t.s AS piece
  FROM (SELECT string_split(trim(w, '|'), '||') AS sy
        FROM w{_WPR + 1}) q,
       unnest(q.sy) AS t(s)
)""",
        f"""wpedges AS MATERIALIZED (
  SELECT f.word AS word, s.i - 1 AS src, s.i + l.l - 1 AS dst, p.piece
  FROM wf f,
       unnest(generate_series(1, len(f.word))) AS s(i),
       unnest(generate_series(1, {_MAXP})) AS l(l),
       pieces p
  WHERE s.i + l.l - 1 <= len(f.word)
    AND p.piece = f.word[s.i : s.i + l.l - 1]
)""",
        """jumps AS MATERIALIZED (
  SELECT word, src, dst, piece FROM (
    SELECT word, src, dst, piece,
           row_number() OVER (
             PARTITION BY word, src ORDER BY dst DESC
           ) AS rn
    FROM wpedges
  ) WHERE rn = 1
)""",
        """g0 AS (
  SELECT word, len(word) AS wlen, 0 AS pos, 0 AS k,
         '' AS seg, FALSE AS bad
  FROM wf
)""",
    ]
    for t in range(1, _WPW + 1):
        parts.append(f"""g{t} AS (
  SELECT g.word AS word, g.wlen AS wlen,
         CASE WHEN g.pos >= g.wlen OR g.bad OR j.dst IS NULL
              THEN g.pos ELSE j.dst END AS pos,
         CASE WHEN g.pos >= g.wlen OR g.bad OR j.dst IS NULL
              THEN g.k ELSE g.k + 1 END AS k,
         CASE WHEN g.pos >= g.wlen OR g.bad OR j.dst IS NULL
              THEN g.seg
              WHEN g.pos = 0 THEN j.piece
              ELSE g.seg || ' ##' || j.piece END AS seg,
         CASE WHEN g.pos < g.wlen AND NOT g.bad AND j.dst IS NULL
              THEN TRUE ELSE g.bad END AS bad
  FROM g{t - 1} g
  LEFT JOIN jumps j ON j.word = g.word AND j.src = g.pos
)""")
    return ",\n".join(parts)


_ENCODE_SQL = f"""
WITH {_wp_base_ctes()},
{",".join(_wp_round_ctes(r) for r in range(1, _WPR + 1))},
{_wp_walk_ctes()}
SELECT f.word AS word, f.n AS n,
       CAST(CASE WHEN g.bad THEN 1 ELSE g.k END AS BIGINT) AS n_pieces,
       CASE WHEN g.bad THEN '[UNK]' ELSE g.seg END AS wp_segmented
FROM wf f JOIN g{_WPW} g ON g.word = f.word
ORDER BY n DESC, word LIMIT {_WP_TOP}
"""


@query("q_wordpiece_encode", oracle=_ENCODE_SQL)
def q_wordpiece_encode(spark, sf_dir):
    """The trained WordPiece tokenizer APPLIED: greedy longest-match
    -first segmentation of the top-{_WP_TOP} corpus words (by
    occurrence count) under the {_WPR}-round inventory — word, count,
    piece count, and the ``##``-annotated segmentation, with words
    that strand mid-position collapsing to ``[UNK]`` (HuggingFace
    WordpieceTokenizer semantics; greedy CAN strand because the
    position-agnostic inventory is not prefix-closed — the ``##``
    marks are display prefixes, not a separate continuation vocab,
    and the oracle applies the identical convention). Unlike
    q_bpe_segment (which replays merges), this pins the production
    INFERENCE path of the family.

    Scale shape: training as in q_wordpiece_merges; inference
    broadcasts the piece inventory into the substring-edge join,
    collects each word's edge list in ONE word-keyed shuffle, and
    runs the whole walk inside a single codegen'd higher-order
    expression per word (operators/wordpiece.py greedy_segment — the
    viterbi_segment device minus the DP). The walk is pure
    integer/string computation: NO floating point exists on this
    path, so cross-engine bit-equality is structural rather than
    argued from IEEE rounding."""
    st = wp_trained(spark, sf_dir)
    wfp, final_words = st["wfp"], st["words"][-1]
    pieces = WP.piece_inventory(final_words)
    seg = WP.greedy_segment(wfp, pieces, _WPW, _MAXP)
    return (
        seg.select(
            "word",
            "n",
            F.when(F.col("bad"), F.lit(1))
            .otherwise(F.col("k"))
            .cast("bigint")
            .alias("n_pieces"),
            F.when(F.col("bad"), F.lit("[UNK]"))
            .otherwise(F.col("seg"))
            .alias("wp_segmented"),
        )
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_WP_TOP)
    )


_ENC_DOCS_SQL = f"""
WITH {_wp_base_ctes()},
{",".join(_wp_round_ctes(r) for r in range(1, _WPR + 1))},
{_wp_walk_ctes()},
wseg AS (
  SELECT f.word AS word,
         CAST(CASE WHEN g.bad THEN 1 ELSE g.k END AS BIGINT) AS n_pieces,
         CASE WHEN g.bad THEN 1 ELSE 0 END AS unk
  FROM wf f JOIN g{_WPW} g ON g.word = f.word
),
occ AS (
  SELECT doc_id, t.tok AS word
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_WPW}
)
SELECT o.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(o.word)) AS BIGINT) AS n_chars,
       CAST(sum(s.n_pieces) AS BIGINT) AS n_wp_tokens,
       CAST(sum(s.unk) AS BIGINT) AS n_unk_words,
       CAST(sum(length(o.word)) AS DOUBLE) / sum(s.n_pieces) AS compression
FROM occ o JOIN wseg s ON s.word = o.word
GROUP BY o.doc_id
"""


@query("q_wordpiece_encode_docs", oracle=_ENC_DOCS_SQL)
def q_wordpiece_encode_docs(spark, sf_dir):
    """The trained WordPiece tokenizer's per-document budget —
    completing the per-doc-encode symmetry across all THREE tokenizer
    families (q_bpe_encode_docs / q_unigram_encode_docs / this): for
    every doc, trainable word count, char count, WordPiece token
    count under the greedy segmentations (an [UNK]-collapsed word
    costs 1 token), the [UNK]'d word count — the family's
    within-scope coverage gap, the analogue of q_unigram_oov's
    fallback budget but caused by greedy stranding rather than scope
    filtering — and the chars-per-token compression ratio.

    Determinism: integer counts joined through the word relation;
    the single double division per row has identical association on
    both engines (the q_unigram_encode_docs argument).

    Scale shape: the segmented vocabulary (vocab-sized) BROADCASTS
    into the per-occurrence join — the corpus never shuffles on the
    word key; per-doc aggregation is the only corpus-sized shuffle,
    keyed on doc_id. Training upstream is q_wordpiece_merges' plan
    verbatim (round-local via the per-round localCheckpoint)."""
    d = load_table(spark, sf_dir, "documents")
    st = wp_trained(spark, sf_dir)
    wfp, final_words = st["wfp"], st["words"][-1]
    seg = WP.greedy_segment(
        wfp, WP.piece_inventory(final_words), _WPW, _MAXP
    )
    wseg = seg.select(
        "word",
        F.when(F.col("bad"), F.lit(1))
        .otherwise(F.col("k"))
        .cast("bigint")
        .alias("n_pieces"),
        F.when(F.col("bad"), F.lit(1)).otherwise(F.lit(0)).alias("unk"),
    )
    occ = d.select(
        "doc_id", F.explode(TX.bag_tokens("text")).alias("word")
    ).filter(
        F.col("word").rlike("^[a-z0-9]+$")
        & (F.length("word") <= _WPW)
    )
    return (
        occ.join(F.broadcast(wseg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_pieces").cast("bigint").alias("n_wp_tokens"),
            F.sum("unk").cast("bigint").alias("n_unk_words"),
            (
                F.sum(F.length("word")).cast("double")
                / F.sum("n_pieces")
            ).alias("compression"),
        )
    )


_WP_SWEEP_SNAPSHOTS = (0, 2, 4, 6)


def _wp_rounds_sweep_oracle() -> str:
    """One 6-round scored merge chain (ws_-prefixed CTEs), snapshot
    legs reading the words relation after 0/2/4/6 merges — the
    q_bpe_rounds_sweep device on the WordPiece trainer."""
    chain = ",".join(
        _wp_round_ctes(r, p="ws_") for r in range(1, _WPR + 1)
    )
    legs = []
    for r in _WP_SWEEP_SNAPSHOTS:
        legs.append(f"""SELECT CAST({r} AS BIGINT) AS n_merges,
       (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM (
          SELECT unnest(string_split(trim(w, '|'), '||')) AS s
          FROM ws_w{r + 1}
       )) AS vocab_symbols,
       CAST(sum(n * len(string_split(trim(w, '|'), '||'))) AS BIGINT)
           AS n_tokens,
       CAST(sum(n * len(replace(w, '|', ''))) AS BIGINT) AS n_chars,
       CAST(sum(n * len(string_split(trim(w, '|'), '||'))) AS DOUBLE)
           / CAST(sum(n) AS DOUBLE) AS fertility,
       CAST(sum(n * len(replace(w, '|', ''))) AS DOUBLE)
           / CAST(sum(n * len(string_split(trim(w, '|'), '||'))) AS DOUBLE)
           AS compression
FROM ws_w{r + 1}""")
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH bags AS MATERIALIZED (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
wf AS MATERIALIZED (
  SELECT t.tok AS word, CAST(count(*) AS BIGINT) AS n
  FROM bags, unnest(bag) AS t(tok)
  WHERE regexp_full_match(t.tok, '[a-z0-9]+') AND len(t.tok) <= {_WPW}
  GROUP BY 1
),
ws_w1 AS MATERIALIZED (
  SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS w, n FROM wf
),
{chain}
{union}
"""


@query("q_wordpiece_rounds_sweep", oracle=_wp_rounds_sweep_oracle())
def q_wordpiece_rounds_sweep(spark, sf_dir):
    """Merge-COUNT sweep for the WordPiece trainer — completing the
    knob-pricing symmetry across all three families
    (q_unigram_vocab_sweep prices the unigram seed size,
    q_bpe_rounds_sweep BPE's merge count, this WordPiece's): one
    6-round scored training, snapshotted after 0/2/4/6 merges, with
    per-snapshot in-use symbol vocabulary, corpus token/char budgets,
    occurrence-weighted fertility and compression. The 0-merge row
    anchors compression at exactly 1.0; the likelihood-scored curve
    descends DIFFERENTLY from BPE's on the same corpus (WordPiece
    spends early merges on high-association pairs like qu, not
    high-count pairs like in — compare the two sweeps row-for-row to
    see where each family's marginal merge stops paying).

    Determinism: the q_wordpiece_merges contract (exact integer
    pair/symbol counts, one cast-multiply-divide score, (score DESC,
    a, b) winner, replace()-based merge); every reported stat is
    exact bigint sums with one int/int double divide.

    Scale shape: the whole sweep runs on the vocabulary-sized word
    sketch (the one corpus pass is the pinned word count); the chain
    is per-round localCheckpointed (operators/wordpiece.py — the
    3^rounds lazy-plan blowup measured there), so the sweep costs one
    6-round training plus four vocab-sized aggregates."""
    from hive_similarity_join_spark.operators.bpe import decode_symbols

    # r16: the snapshots are prefixes of the session-memoized chain
    # (wp_trained) — identical per-round composition, built once.
    words = wp_trained(spark, sf_dir)["words"]
    out = None
    for target in _WP_SWEEP_SNAPSHOTS:
        cur = words[target]
        sy = decode_symbols("w")
        nsym = F.size(sy)
        wlen = F.length(F.replace(F.col("w"), F.lit("|"), F.lit("")))
        stats = cur.agg(
            F.sum(F.col("n") * nsym).cast("bigint").alias("n_tokens"),
            F.sum(F.col("n") * wlen).cast("bigint").alias("n_chars"),
            F.sum("n").cast("bigint").alias("n_occ"),
        )
        vocab = cur.select(F.explode(sy).alias("s")).agg(
            F.countDistinct("s").cast("bigint").alias("vocab_symbols")
        )
        leg = stats.crossJoin(F.broadcast(vocab)).select(
            F.lit(target).cast("bigint").alias("n_merges"),
            "vocab_symbols",
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
        out = leg if out is None else out.unionByName(leg)
    return out
