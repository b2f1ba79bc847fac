"""Text-analysis + document-dedup query keys (EXT — LLM-data-pipeline
operators over the documents table): language-ID, quality scoring,
token counting, fingerprinting, exact dedup, near-dedup (greedy
keep-first over the similarity self-join), n-gram-shingle Jaccard
near-dedup, and top-k document similarity search.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hive_similarity_join_spark.functions import text as TX
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.operators.similarity import similarity_join
from hive_similarity_join_spark.queries.similarity_q import (
    _containment_oracle,
    _jaccard_oracle,
)
from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.sources.loader import load_table

NEAR_DUP_T = 0.9
NGRAM_DUP_T = 0.5
DOC_KNN_K = 5
DOC_KNN_PROBES = 20


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    return (
        f"CAST(len(list_intersect({TX.duck_set()}, {TX.duck_list(markers)})) AS DOUBLE)"
    )


_S1 = _lang_score_sql(TX.LANG_MARKERS["sqlish"])
_S2 = _lang_score_sql(TX.LANG_MARKERS["streamish"])
_S3 = _lang_score_sql(TX.LANG_MARKERS["bizish"])


@query(
    "q_text_langid",
    oracle=f"""
SELECT doc_id,
       CASE WHEN {_S1} >= {_S2} AND {_S1} >= {_S3} THEN 'sqlish'
            WHEN {_S2} >= {_S3} THEN 'streamish'
            ELSE 'bizish' END AS lang_pred,
       {_S1} AS score_sqlish
FROM documents
""",
)
def q_text_langid(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    toks = TX.set_tokens("text")
    return d.select(
        "doc_id",
        TX.lang_id(toks).alias("lang_pred"),
        TX.marker_score(toks, TX.LANG_MARKERS["sqlish"]).alias("score_sqlish"),
    )


@query(
    "q_text_quality",
    oracle=f"""
WITH t AS (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents)
SELECT doc_id,
       CAST(len(bag) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(bag)) AS DOUBLE) / len(bag) AS distinct_ratio,
       CAST(len(list_filter(bag, x -> list_contains({TX.duck_list(TX.STOPWORDS)}, x)))
            AS DOUBLE) / len(bag) AS stop_ratio,
       {TX.duck_quality("bag")}
         AS quality
FROM t WHERE len(bag) > 0
""",
)
def q_text_quality(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    bag = TX.bag_tokens("text")
    t = d.select("doc_id", bag.alias("bag")).filter(F.size("bag") > 0)
    bagc = F.col("bag")
    return t.select(
        "doc_id",
        F.size(bagc).cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(bagc)).cast("double") / F.size(bagc)).alias(
            "distinct_ratio"
        ),
        TX.stopword_ratio(bagc).alias("stop_ratio"),
        (
            F.lit(TX.QUALITY_W_DISTINCT)
            * (F.size(F.array_distinct(bagc)).cast("double") / F.size(bagc))
            + F.lit(TX.QUALITY_W_LENGTH)
            * F.least(
                F.size(bagc).cast("double") / F.lit(TX.QUALITY_LEN_NORM), F.lit(1.0)
            )
            + F.lit(TX.QUALITY_W_STOP) * (F.lit(1.0) - TX.stopword_ratio(bagc))
        ).alias("quality"),
    )


@query(
    "q_text_tokencount",
    oracle=f"""
SELECT doc_id,
       CAST(len({TX.duck_bag()}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_computed
FROM documents
""",
)
def q_text_tokencount(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(TX.bag_tokens("text")).cast("bigint").alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .cast("bigint")
        .alias("re_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(array_to_string(list_sort({TX.duck_set()}), ' ')) AS fp
FROM documents
""",
)
def q_text_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fp"))


# ------------------------------------------------------------------ dedup

@query(
    "q_dedup_exact",
    oracle="""
SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_cnt,
       md5(text) AS text_hash
FROM documents GROUP BY md5(text)
""",
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content hash: hash-groupBy, keep min id per group.
    At 100 TB this is the cheapest dedup pass (one shuffle on a 128-bit
    key, partial agg map-side)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_cnt"),
        )
        .select("keep_id", "dup_cnt", "text_hash")
    )


@query(
    "q_dedup_near",
    oracle=f"""
WITH pairs AS ({_jaccard_oracle(NEAR_DUP_T)})
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT id2 FROM pairs)
""",
)
def q_dedup_near(spark, sf_dir):
    """Near-duplicate dedup, greedy keep-first semantics: drop any doc
    that duplicates (Jaccard >= t) a lower-id doc. Deterministic and
    SQL-expressible; the transitive-closure (connected components)
    variant lives in operators/dedup.py (iterative, rows-only)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = near_pair_graph(spark, sf_dir)
    dupes = pairs.select(F.col("id2").alias("doc_id")).distinct()
    return d.join(dupes, "doc_id", "left_anti").select("doc_id", "source")


def near_pair_graph(spark, sf_dir):
    """The exact t=NEAR_DUP_T unigram-Jaccard pair relation
    (id1, id2, sim), session-checkpointed (operators/cache.py
    session_ckpt) — r16 optimization: q_dedup_near, q_dedup_connected
    and q_dedup_connected_star (CC_T == NEAR_DUP_T) each re-ran the
    full exact kernel at t=0.9 (~5 s apiece at sf0.1). Same contract
    as exact_pair_graph: id-pair-sized, one live value per (session,
    sf_dir), degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.queries.similarity_q import (
        docs_rank_arrays,
    )

    def build():
        return similarity_join(docs_rank_arrays(spark, sf_dir), threshold=NEAR_DUP_T)

    return session_ckpt("exact_pair_graph_t09", scope(spark, sf_dir), build)


_NGRAM_TOKS = (
    "list_transform(range(1, len(bag) - 1), i -> "
    "bag[i] || ' ' || bag[i+1] || ' ' || bag[i+2])"
)


@query(
    "q_dedup_ngram",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
tok AS (
  SELECT DISTINCT doc_id, t.g
  FROM bags, unnest({_NGRAM_TOKS}) AS t(g)
  WHERE len(bag) >= 3
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
FROM inter JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {NGRAM_DUP_T}
""",
)
def q_dedup_ngram(spark, sf_dir):
    """n-gram (word trigram) Jaccard near-dup: same prefix-filter kernel,
    different token universe — shingles capture word ORDER that the
    unigram flagship ignores."""
    return ngram_pair_graph(spark, sf_dir)


def ngram_pair_graph(spark, sf_dir):
    """The trigram-Jaccard pair relation (id1, id2, sim) at
    t=NGRAM_DUP_T, session-checkpointed (operators/cache.py
    session_ckpt) — the r16 optimization: TEN keys consume this graph
    (the key itself, pagerank, triangles, communities, cc_vs_lpa,
    k-core, bridges, degree_dist, docs_dup_matrix, winnowing_recall)
    and each re-ran the full trigram kernel (~5-7 s at sf0.1, ~60 s of
    the suite) before it was shared. Same contract as
    exact_pair_graph: id-pair-sized relation, one live value per
    (session, sf_dir), degrade on a new session is recompute — never a
    different answer."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt

    def build():
        d = load_table(spark, sf_dir, "documents")
        bag = TX.bag_tokens("text")
        shingled = d.select(
            "doc_id",
            F.array_distinct(TX.word_ngrams(bag, 3)).alias("shingles"),
        )
        return similarity_join(
            shingled, "doc_id", tokens_col="shingles", threshold=NGRAM_DUP_T
        )

    return session_ckpt("ngram_pair_graph_t05", scope(spark, sf_dir), build)


@query(
    "q_text_repetition",
    oracle=f"""
WITH bags AS (SELECT doc_id, {TX.duck_bag()} AS bag FROM documents),
ng AS (
  SELECT doc_id, {_NGRAM_TOKS} AS grams
  FROM bags WHERE len(bag) >= 3
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_ngrams,
       1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
           AS dup_ngram_frac,
       (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
           AS is_repetitive
FROM ng
""",
)
def q_text_repetition(spark, sf_dir):
    """Intra-document repetition scoring (Gopher/C4-style quality rule):
    the fraction of word trigrams that are duplicates of an earlier
    trigram in the SAME document. High dup_ngram_frac marks boilerplate
    / TV-static text a training pipeline drops before dedup even runs.
    Per-row map work only (no shuffle at all): size + array_distinct
    over the shingle array, whole-stage codegen'd; the flag threshold
    is an exact double compare mirrored verbatim in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    bag = TX.bag_tokens("text")
    t = d.select("doc_id", TX.word_ngrams(bag, 3).alias("grams")).filter(
        F.size(bag) >= 3
    )
    frac = F.lit(1.0) - F.size(F.array_distinct("grams")).cast("double") / F.size(
        "grams"
    )
    return t.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_ngrams"),
        frac.alias("dup_ngram_frac"),
        (frac > 0.2).alias("is_repetitive"),
    )


@query(
    "q_knn_topk",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  WHERE a.doc_id < {DOC_KNN_PROBES}
  GROUP BY 1, 2
),
scored AS (
  SELECT id1, id2, CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS sim
  FROM inter JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
)
SELECT * FROM (
  SELECT id1, id2, sim,
         CAST(row_number() OVER (PARTITION BY id1 ORDER BY sim DESC, id2)
              AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {DOC_KNN_K}
""",
)
def q_knn_topk(spark, sf_dir):
    """Similarity search: top-k most-similar documents per probe doc.
    Candidates via the inverted-index token join (every nonzero-overlap
    doc is a candidate — exact), ranked per probe by Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    from hive_similarity_join_spark.operators.similarity import _tokenized

    r = _tokenized(d, "doc_id", "text", None)
    probes = r.filter(F.col("_id") < DOC_KNN_PROBES).select(
        F.col("_id").alias("id1"), F.col("_toks").alias("_toks1")
    )
    corpus = r.select(F.col("_id").alias("id2"), F.col("_toks").alias("_toks2"))
    # Probe side is tiny -> broadcast the inverted-index join; candidates
    # cross the dedupe shuffle as bare (id1, id2) and the token arrays
    # join back once per side (same bytes-on-the-wire discipline as the
    # similarity kernel's candidate join).
    ea = probes.select("id1", F.explode("_toks1").alias("_tok1"))
    eb = corpus.select("id2", F.explode("_toks2").alias("_tok2"))
    cands = (
        F.broadcast(ea)
        .join(eb, (F.col("_tok1") == F.col("_tok2")) & (F.col("id1") != F.col("id2")))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    inter = F.size(F.array_intersect("_toks1", "_toks2")).cast("double")
    union = F.size(F.array_union("_toks1", "_toks2")).cast("double")
    scored = (
        cands.join(F.broadcast(probes), "id1")
        .join(corpus, "id2")
        .select("id1", "id2", (inter / union).alias("sim"))
    )
    w = Window.partitionBy("id1").orderBy(F.desc("sim"), F.asc("id2"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= DOC_KNN_K)


@query(
    "q_report_dup_rate",
    oracle=f"""
WITH pairs AS ({_jaccard_oracle(NEAR_DUP_T)}),
dup AS (
  SELECT DISTINCT id FROM (
    SELECT id1 AS id FROM pairs UNION SELECT id2 AS id FROM pairs
  )
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(dup.id) AS BIGINT) AS n_dup,
       CAST(count(dup.id) AS DOUBLE) / count(*) AS dup_rate
FROM documents d LEFT JOIN dup ON d.doc_id = dup.id
GROUP BY d.source
ORDER BY d.source
""",
)
def q_report_dup_rate(spark, sf_dir):
    """Dedup QA report: per-source share of documents involved in at
    least one near-duplicate pair (Jaccard >= t) — the rollup a data
    curator reads to decide which source needs cleaning. Composes the
    flagship similarity join into a report plan: pairs -> distinct
    touched ids -> left join onto the corpus -> one grouped count. The
    touched-id relation is doc-bounded (never pair-bounded), so the
    report adds one node-sized shuffle on top of the join regardless
    of how pair-dense the corpus is."""
    d = load_table(spark, sf_dir, "documents")
    pairs = similarity_join(d, "doc_id", "text", threshold=NEAR_DUP_T)
    dup = (
        pairs.select(F.col("id1").alias("doc_id"))
        .unionByName(pairs.select(F.col("id2").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        d.join(dup, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("_dup").cast("bigint").alias("n_dup"),
            (F.count("_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "q_text_vocab_stats",
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
freq AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok)
SELECT tok, CAST(c AS BIGINT) AS doc_freq,
       CAST(row_number() OVER (ORDER BY c, tok) AS BIGINT) AS rarity_rank
FROM freq
ORDER BY rarity_rank
LIMIT 100
""",
)
def q_text_vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics: per-token document frequency and
    the rarest-first rank — literally stage 1 of the similarity kernel
    exposed as a query (the relation build_token_dict materializes).
    Top-100 rarest keeps the checked result bounded; the full relation
    is vocabulary-sized regardless of corpus size.

    Scale shape: limit-then-rank. ``orderBy().limit(100)`` compiles to
    TakeOrderedAndProject — per-partition top-k heaps merged on the
    driver, no global sort — and only the 100 survivors flow through
    the unpartitioned row_number window (the r6 verdict's
    single-partition-window fix; (c, tok) is a strict total order so
    the rank over the survivors equals the global rank)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(TX.set_tokens("text")).alias("tok"))
        .distinct()
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = freq.orderBy(F.asc("c"), F.asc("tok")).limit(100)
    w = Window.orderBy(F.asc("c"), F.asc("tok"))
    return (
        top.select(
            "tok",
            F.col("c").cast("bigint").alias("doc_freq"),
            F.row_number().over(w).cast("bigint").alias("rarity_rank"),
        )
        .orderBy("rarity_rank")
    )


# Gopher-style rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A —
# adapted to this corpus's closed vocabulary). ONE set of constants
# feeds both engines; the oracle f-string derives from these and
# TX.STOPWORDS so an edit cannot desync the two sides (the
# q_corpus_profile lesson, ADVICE r4).
RULE_MIN_WORDS = 5
RULE_MAX_WORDS = 5000
RULE_MIN_MEAN_WL = 3.0
RULE_MAX_MEAN_WL = 10.0
RULE_MIN_STOP_HITS = 1
RULE_MIN_DISTINCT_RATIO = 0.2


@query(
    "q_text_rules_filter",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
st AS (
  SELECT doc_id,
         CAST(len(bag) AS BIGINT) AS n_words,
         CAST(list_reduce(list_transform(bag, w -> length(w)),
                          (x, y) -> x + y) AS DOUBLE)
             / len(bag) AS mean_word_len,
         CAST(len(list_filter(bag,
                  t -> list_contains({TX.duck_list(TX.STOPWORDS)}, t)))
             AS BIGINT) AS stop_hits,
         CAST(len(list_distinct(bag)) AS DOUBLE) / len(bag)
             AS distinct_ratio
  FROM bags WHERE len(bag) > 0
)
SELECT doc_id, n_words, mean_word_len, stop_hits, distinct_ratio,
       CAST(CASE WHEN n_words BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS}
                 THEN 1 ELSE 0 END AS BIGINT) AS pass_wordcount,
       CAST(CASE WHEN mean_word_len >= {RULE_MIN_MEAN_WL}
                  AND mean_word_len <= {RULE_MAX_MEAN_WL}
                 THEN 1 ELSE 0 END AS BIGINT) AS pass_wordlen,
       CAST(CASE WHEN stop_hits >= {RULE_MIN_STOP_HITS}
                 THEN 1 ELSE 0 END AS BIGINT) AS pass_stopwords,
       CAST(CASE WHEN distinct_ratio >= {RULE_MIN_DISTINCT_RATIO}
                 THEN 1 ELSE 0 END AS BIGINT) AS pass_repetition,
       CAST(CASE WHEN n_words BETWEEN {RULE_MIN_WORDS} AND {RULE_MAX_WORDS}
                  AND mean_word_len >= {RULE_MIN_MEAN_WL}
                  AND mean_word_len <= {RULE_MAX_MEAN_WL}
                  AND stop_hits >= {RULE_MIN_STOP_HITS}
                  AND distinct_ratio >= {RULE_MIN_DISTINCT_RATIO}
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM st
""",
)
def q_text_rules_filter(spark, sf_dir):
    """Gopher-style BOOLEAN rule battery — the hard-gate sibling of
    q_text_quality's weighted score: word-count bounds, mean-word-length
    bounds, minimum stopword evidence, and a repetition gate
    (distinct-token ratio), each emitted as its own 0/1 flag plus the
    AND'd keep decision, so a pipeline can report per-rule rejection
    rates (the way C4/Gopher/RefinedWeb publish their filter funnels)
    rather than a single opaque score.

    Bit-exactness: all four metrics are integer counts or int/int
    double divisions (sum of word lengths is an exact integer fold);
    flags are CASE 0/1 BIGINT so the compare never sees engine boolean
    encodings. Scale shape: pure map-side codegen over the scan —
    zero shuffles, same posture as q_pii_redact."""
    d = load_table(spark, sf_dir, "documents")
    bag = TX.bag_tokens("text")
    t = d.select("doc_id", bag.alias("bag")).filter(F.size("bag") > 0)
    n_words = F.size("bag").cast("bigint")
    sum_len = F.aggregate(
        F.transform(F.col("bag"), lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wl = sum_len.cast("double") / F.size("bag")
    stops = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    stop_hits = F.size(
        F.filter(F.col("bag"), lambda w: F.array_contains(stops, w))
    ).cast("bigint")
    distinct_ratio = (
        F.size(F.array_distinct(F.col("bag"))).cast("double") / F.size("bag")
    )
    st = t.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        distinct_ratio.alias("distinct_ratio"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0).cast("bigint")  # noqa: E731
    p_wc = F.col("n_words").between(RULE_MIN_WORDS, RULE_MAX_WORDS)
    p_wl = (F.col("mean_word_len") >= RULE_MIN_MEAN_WL) & (
        F.col("mean_word_len") <= RULE_MAX_MEAN_WL
    )
    p_st = F.col("stop_hits") >= RULE_MIN_STOP_HITS
    p_rep = F.col("distinct_ratio") >= RULE_MIN_DISTINCT_RATIO
    return st.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "distinct_ratio",
        flag(p_wc).alias("pass_wordcount"),
        flag(p_wl).alias("pass_wordlen"),
        flag(p_st).alias("pass_stopwords"),
        flag(p_rep).alias("pass_repetition"),
        flag(p_wc & p_wl & p_st & p_rep).alias("keep"),
    )


@query(
    "q_dedup_containment",
    oracle=f"""
WITH pairs AS ({_containment_oracle()})
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT id1 FROM pairs)
""",
)
def q_dedup_containment(spark, sf_dir):
    """Sub-document dedup — the asymmetric sibling of q_dedup_near:
    drop every doc that is >=90% token-contained in a >=2x larger doc
    (its content survives inside the container, so keeping both double
    -counts the passage at training time — exactly the pairs symmetric
    near-dedup provably retains, since their Jaccard <= 0.5 sits below
    any near-dup threshold). Containment pairs from the probe-prefix x
    full-index kernel, then one left-anti join; same greedy
    deterministic semantics and output shape as q_dedup_near."""
    from hive_similarity_join_spark.operators.similarity import containment_join
    from hive_similarity_join_spark.queries.similarity_q import (
        CONTAIN_SIZE_RATIO,
        T_CONTAIN,
    )

    from hive_similarity_join_spark.queries.similarity_q import (
        docs_rank_arrays,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = containment_join(
        docs_rank_arrays(spark, sf_dir), threshold=T_CONTAIN,
        min_size_ratio=CONTAIN_SIZE_RATIO,
    )
    contained = pairs.select(F.col("id1").alias("doc_id")).distinct()
    return d.join(contained, "doc_id", "left_anti").select("doc_id", "source")


# ------------------------------- skyline (Pareto frontier) operator


@query(
    "q_skyline_docs",
    oracle=f"""
WITH m AS (
  SELECT doc_id, n_chars,
         CAST(len(list_distinct({TX.duck_bag()})) AS BIGINT) AS n_vocab
  FROM documents
),
w AS (
  SELECT doc_id, n_chars, n_vocab,
         max(n_vocab) OVER (
             ORDER BY n_chars DESC
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS best_gtx,
         max(n_vocab) OVER (PARTITION BY n_chars) AS best_eqx
  FROM m
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, n_vocab
FROM w
WHERE (best_gtx IS NULL OR best_gtx < n_vocab) AND n_vocab = best_eqx
""",
)
def q_skyline_docs(spark, sf_dir):
    """Skyline (Pareto-frontier) query over documents on
    (n_chars, distinct-vocabulary size): the docs no other doc beats
    on BOTH length and vocabulary richness — the multi-criteria
    shortlist operator (Borzsony/Kossmann/Stocker ICDE 2001, published
    method) a curation pipeline uses to pick exemplar documents
    without collapsing criteria into one weighted score.

    Plan shape — the 2-D staircase, distributed: a point is dominated
    iff some point with strictly larger x has y >= its y. A GLOBAL
    "max y over larger x" window would serialize the relation through
    one task (the unpartitioned-window scale killer this suite gates
    against), so the staircase splits on x-buckets (x div W):
      - within a bucket, a PARTITIONED range-frame running max gives
        "best y at strictly larger x in MY bucket";
      - across buckets, the per-bucket max-y relation (tiny — one row
        per bucket) suffix-maxes via a broadcast theta self-join, and
        any point in a higher bucket has strictly larger x by
        construction.
    greatest() of the two bounds is the exact global dominance bound.
    Cost: one partial-aggregated shuffle + one partitioned window on
    the bucket key — no global sort, no single-partition exchange; the
    bucket relation is bounded by x-domain/W, never by corpus size.
    The equal-x tie rule (keep only the best y at the same x) is a
    window partitioned by x. Dominance is integer comparisons only —
    nothing to round, bit-exact by construction. The DuckDB mirror
    uses the plain single-node staircase; results are identical."""
    BUCKET_W = 256
    d = load_table(spark, sf_dir, "documents")
    # persisted: m feeds both the windowed relation and the per-bucket
    # max — without it the corpus tokenization runs twice (the
    # q_graph_* shared-subtree rule)
    m = pin(d.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(TX.bag_tokens("text")))
        .cast("bigint")
        .alias("n_vocab"),
        (F.col("n_chars") / BUCKET_W).cast("bigint").alias("_b"),
    ))
    w_gtx = (
        Window.partitionBy("_b")
        .orderBy(F.desc("n_chars"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eqx = Window.partitionBy("n_chars")
    w = m.select(
        "doc_id",
        "n_chars",
        "n_vocab",
        "_b",
        F.max("n_vocab").over(w_gtx).alias("_in_bkt"),
        F.max("n_vocab").over(w_eqx).alias("best_eqx"),
    )
    bm = m.groupBy("_b").agg(F.max("n_vocab").alias("_ymax"))
    hi = bm.select(F.col("_b").alias("_hb"), F.col("_ymax").alias("_hy"))
    suff = (
        bm.join(F.broadcast(hi), F.col("_hb") > F.col("_b"), "left")
        .groupBy("_b")
        .agg(F.max("_hy").alias("_suff"))
    )
    best_gtx = F.greatest(F.col("_in_bkt"), F.col("_suff"))
    return (
        w.join(suff, "_b", "left")
        .filter(
            (best_gtx.isNull() | (best_gtx < F.col("n_vocab")))
            & (F.col("n_vocab") == F.col("best_eqx"))
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "n_vocab",
        )
    )


# ------------------------- corpus diversity: per-source token entropy


@query(
    "q_text_entropy",
    oracle=f"""
WITH tok AS (
  SELECT source, t.tok
  FROM documents, unnest({TX.duck_bag()}) AS t(tok)
),
c AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
  FROM tok GROUP BY source, tok
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_vocab,
       round(ln(CAST(sum(cnt) AS DOUBLE))
             - CAST(sum(CAST(round(
                   CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)), 6
               ) AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(sum(cnt) AS DOUBLE), 6) AS entropy_nats
FROM c GROUP BY source
""",
)
def q_text_entropy(spark, sf_dir):
    """Per-source Shannon entropy (nats) of the term-frequency
    distribution — the corpus-diversity statistic mixture tuning reads
    before upsampling a source (low entropy = templated/repetitive
    text; high = diverse vocabulary). Identity used:
    H = ln(N) - (sum c*ln c)/N over exact BIGINT counts, so the only
    floats are one ln per distinct term and the final combination.

    Exactness: each c*ln(c) term associates identically on both
    engines (cast->ln->multiply — deterministic per row); the SUM of
    those doubles would be order-dependent, so each term is rounded to
    6 decimals and summed as DECIMAL(28,6) — an EXACT accumulation per
    the CLAUDE.md rule that multiply-accumulate chains stay in
    decimals (round-then-decimal-sum is order-independent, unlike a
    rounded double sum); the double tail is one divide and one
    subtract on already-deterministic scalars, plus the outer
    presentation round.

    Scale: grouped count is map-side partial; the entropy rollup runs
    on the (source, term) relation — vocabulary-sized, not
    corpus-sized; no window, no sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(TX.bag_tokens("text")).alias("tok"))
    c = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    n = F.sum("cnt").cast("bigint")
    nd = n.cast("double")
    term = F.round(
        F.col("cnt").cast("double") * F.log(F.col("cnt").cast("double")), 6
    ).cast("decimal(28,6)")
    s = F.sum(term).cast("double")
    return c.groupBy("source").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.round(F.log(nd) - s / nd, 6).alias("entropy_nats"),
    )


# ---------------- bigram language-model scoring (perplexity filter)


@query(
    "q_text_bigram_lm",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
occ AS (
  SELECT doc_id, t.i AS pos, bag[t.i] AS tok
  FROM bags, unnest(generate_series(1, len(bag))) AS t(i)
),
bg AS (
  SELECT doc_id, tok AS w1,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM occ
),
b AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
cnt2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
cnt1 AS (SELECT w1, sum(c12) AS c1 FROM cnt2 GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)), 6)
              AS DECIMAL(28,6)) AS lp
  FROM b JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob,
       round(exp(-(CAST(sum(lp) AS DOUBLE) / count(*))), 6) AS ppl
FROM scored GROUP BY doc_id
""",
)
def q_text_bigram_lm(spark, sf_dir):
    """Bigram language-model scoring of every document against the
    corpus's own bigram statistics — the perplexity-style quality
    filter an LLM-data pipeline runs to drop gibberish and boilerplate
    (low average log-prob = improbable token transitions). Per doc:
    mean ln P(w2|w1) under the MLE bigram model c(w1,w2)/c(w1), and
    the corresponding perplexity. No smoothing needed: every scored
    bigram is counted from the same corpus, so P > 0 by construction.
    Docs with fewer than two tokens have no bigrams and are excluded
    by definition on both sides.

    Exactness: each term's ratio divides two exact bigints before the
    single ln (deterministic per term); terms are rounded to 6
    decimals and summed as DECIMAL(28,6) — the order-independent
    accumulation rule (q_text_entropy) — and the two output floats are
    rounds of one divide / one exp over deterministic scalars.

    Scale shape: ordered bigrams come from ONE lead-window per doc
    (shuffle on doc_id); the count relations aggregate map-side; the
    probability join rides (w1, w2) / (w1) equi-keys — bigram-type
    cardinality, broadcastable only when the vocabulary is small, so
    it is left as a shuffle join that AQE can downgrade to broadcast
    when stats allow. At 100 TB this is the inverted shape of the BPE
    pair counter, and the heavy relation is touched twice (count +
    score), both times as pure codegen."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.posexplode(TX.bag_tokens("text")).alias("pos", "tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    b = (
        occ.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(wdoc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    cnt2 = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    cnt1 = cnt2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lp = F.round(
        F.log(F.col("c12").cast("double") / F.col("c1").cast("double")), 6
    ).cast("decimal(28,6)")
    scored = (
        b.join(cnt2, ["w1", "w2"]).join(cnt1, "w1").select("doc_id", lp.alias("lp"))
    )
    avg = F.sum("lp").cast("double") / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(avg, 6).alias("avg_logprob"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


# -------- collocation mining: skipgram co-occurrence + PMI scoring


@query(
    "q_text_collocations",
    oracle=f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
occ AS (
  SELECT doc_id, t.i AS pos, bag[t.i] AS tok
  FROM bags, unnest(generate_series(1, len(bag))) AS t(i)
),
led AS (
  SELECT doc_id, tok AS w1,
         lead(tok, 1) OVER w AS n1,
         lead(tok, 2) OVER w AS n2
  FROM occ
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
pairs AS (
  SELECT w1, u.w2
  FROM led, unnest([n1, n2]) AS u(w2)
  WHERE u.w2 IS NOT NULL
),
c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pairs GROUP BY 1, 2),
m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM c12)
SELECT p.w1, p.w2, p.c12,
       round(ln(CAST(p.c12 * t.n AS DOUBLE)
                / CAST(m1.c1 * m2.c2 AS DOUBLE)), 6) AS pmi
FROM c12 p
JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot t
""",
)
def q_text_collocations(spark, sf_dir):
    """Collocation mining over the corpus: skipgram co-occurrence
    counts (context window = the two following tokens, word2vec's
    one-sided window at size 2) scored by pointwise mutual information
    — the statistic that separates true collocations ("hash join")
    from pairs that co-occur only because both words are frequent.
    The same pair relation is what a word2vec/GloVe training-data
    extraction emits at corpus scale.

    Exactness: pair and margin counts are exact bigints; PMI is
    ln((c12*n)/(c1*c2)) with the integer products exact (bigint —
    fits while total pairs < ~3e9; a 100 TB corpus casts the products
    to decimal first) and ONE double division before the single ln,
    then the presentation round (the q_text_bigram_lm ln rule).

    Scale: one lead-window pass per doc (shuffle on doc_id) generates
    both distances — the explode happens AFTER the window, so the
    token relation is sorted once; margins derive from the pair-type
    relation (vocabulary-squared, tiny vs corpus) and the scoring
    joins ride it; the total is a single-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.posexplode(TX.bag_tokens("text")).alias("pos", "tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    led = occ.select(
        F.col("tok").alias("w1"),
        F.lead("tok", 1).over(wdoc).alias("n1"),
        F.lead("tok", 2).over(wdoc).alias("n2"),
    )
    pairs = led.select(
        "w1", F.explode(F.array("n1", "n2")).alias("w2")
    ).filter(F.col("w2").isNotNull())
    c12 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    m1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    m2 = c12.groupBy("w2").agg(F.sum("c12").cast("bigint").alias("c2"))
    tot = c12.agg(F.sum("c12").cast("bigint").alias("n"))
    return (
        c12.join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") * F.col("n")).cast("double")
                    / (F.col("c1") * F.col("c2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


# ------ corpus composition audit: lang x source mutual information


@query(
    "q_docs_mutual_info",
    oracle="""
WITH cell AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
ml AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS c_lang FROM cell GROUP BY 1),
ms AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS c_source FROM cell GROUP BY 1),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cell)
SELECT c.lang, c.source, c.n_docs,
       round(CAST(ml.c_lang * ms.c_source AS DOUBLE) / t.n, 6) AS expected,
       round(ln(CAST(c.n_docs * t.n AS DOUBLE)
                / CAST(ml.c_lang * ms.c_source AS DOUBLE)), 6) AS pmi,
       round(CAST(c.n_docs AS DOUBLE) / t.n
             * ln(CAST(c.n_docs * t.n AS DOUBLE)
                  / CAST(ml.c_lang * ms.c_source AS DOUBLE)), 6)
         AS mi_contrib
FROM cell c
JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot t
""",
)
def q_docs_mutual_info(spark, sf_dir):
    """Corpus-composition association audit: the lang x source
    contingency table with expected-under-independence counts, cell
    PMI, and each cell's mutual-information contribution — what a
    mixture designer checks before stratified sampling (a language
    concentrated in one source means source-level dedup or filtering
    will skew language balance; summing mi_contrib gives MI(lang;
    source) in nats).

    Exactness: all counts and margin products are exact bigints; each
    float output is a single bigint-ratio division (and one ln for the
    PMI terms) followed by the presentation round — the
    q_text_collocations rule. mi_contrib associates ratio -> ln ->
    multiply identically on both engines.

    Scale: one map-side-combined count over the corpus; margins and
    scoring live on the contingency relation (|langs| x |sources|),
    with the total a single-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    ml = cell.groupBy("lang").agg(F.sum("n_docs").cast("bigint").alias("c_lang"))
    ms = cell.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("c_source")
    )
    tot = cell.agg(F.sum("n_docs").cast("bigint").alias("n"))
    ratio = (F.col("n_docs") * F.col("n")).cast("double") / (
        F.col("c_lang") * F.col("c_source")
    ).cast("double")
    return (
        cell.join(ml, "lang")
        .join(ms, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            F.round(
                (F.col("c_lang") * F.col("c_source")).cast("double")
                / F.col("n"),
                6,
            ).alias("expected"),
            F.round(F.log(ratio), 6).alias("pmi"),
            F.round(
                F.col("n_docs").cast("double") / F.col("n") * F.log(ratio), 6
            ).alias("mi_contrib"),
        )
    )


# ---------- feature hashing (signed hashing trick) featurization

HASHTRICK_BUCKETS = 64


@query(
    "q_text_hashing_trick",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t.tok FROM (
    SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
  ), unnest(bag) AS t(tok)
),
h AS (
  SELECT doc_id,
         {TX.duck_md5_prefix60("tok")} % {HASHTRICK_BUCKETS} AS bucket,
         CASE WHEN {TX.duck_md5_prefix60("'s:' || tok")} % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tok
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS w,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM h GROUP BY doc_id, bucket
""",
)
def q_text_hashing_trick(spark, sf_dir):
    """Signed feature hashing (the hashing trick, Weinberger et al.
    ICML 2009): every token maps to one of HASHTRICK_BUCKETS feature
    slots by hash, with a second independent hash bit choosing the
    sign so colliding tokens cancel in expectation instead of
    inflating — the fixed-width, vocabulary-free featurization a
    linear quality classifier trains on at corpus scale (no vocab
    build, no second pass, no OOV). Long-form output (doc, bucket,
    signed weight, raw count) — wide-vector assembly is a pivot away
    and arrays are banned from oracle-checked outputs (the r1 rule).

    Exactness: both hashes ride the engine-portable md5-prefix bigint
    (the SimHash/decontamination device); signed sums are exact
    bigints.

    Scale: tokenize -> hash -> one map-side-combined groupBy on
    (doc_id, bucket) — zero joins, zero broadcast, one shuffle whose
    width is bounded by docs x buckets regardless of vocabulary; this
    is the cheapest featurizer in the repo by construction."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.bag_tokens("text")).alias("tok"))
    h = tok.select(
        "doc_id",
        F.pmod(TX.md5_prefix60(F.col("tok")), F.lit(HASHTRICK_BUCKETS)).alias(
            "bucket"
        ),
        F.when(
            F.pmod(
                TX.md5_prefix60(F.concat(F.lit("s:"), F.col("tok"))),
                F.lit(2),
            )
            == 0,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return h.groupBy("doc_id", F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.sum("sgn").cast("bigint").alias("w"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )


# ---------------- fixed-point TF-IDF top terms per source

TFIDF_TOP_K = 5
TFIDF_FP = 1_000_000  # fixed-point unit for the tf/df ratio


@query(
    "q_docs_tfidf_terms",
    oracle=f"""
WITH tok AS (
  SELECT source, t.tok
  FROM documents, unnest({TX.duck_bag()}) AS t(tok)
),
tf AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY source, tok
),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok)
SELECT * FROM (
  SELECT tf.source, tf.tok, tf.tf, df.df,
         tf.tf * {TFIDF_FP} // df.df AS score_fp,
         CAST(row_number() OVER (
             PARTITION BY tf.source
             ORDER BY tf.tf * {TFIDF_FP} // df.df DESC, tf.tok
         ) AS BIGINT) AS rank
  FROM tf JOIN df USING (tok)
) WHERE rank <= {TFIDF_TOP_K}
""",
)
def q_docs_tfidf_terms(spark, sf_dir):
    """Top characteristic terms per source by a FIXED-POINT tf-idf
    surrogate — the keyword-extraction / corpus-drift probe a data
    pipeline runs per domain (what distinguishes this source's
    vocabulary). Score = tf * 1e6 div df: monotone in the classic
    tf/df ratio but computed as ONE exact integer division, because a
    float idf (ln((N+1)/(df+1))) is correctly-rounded per-engine yet
    its PRODUCT with tf is not — a 1-ulp ln difference flips ranks
    nondeterministically (the q_events_outliers FMA lesson applied to
    ranking). tf and df are emitted alongside so a consumer can apply
    any idf curve downstream.

    Plan shape: one explode + (source, tok) partial-agg shuffle for
    tf; df aggregates the ALREADY-AGGREGATED tf relation (rows bounded
    by vocab x sources, not token occurrences); the per-source top-k
    window runs on the scored join of those two bounded relations. At
    100 TB the raw corpus is touched exactly once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(TX.bag_tokens("text")).alias("tok"))
    tf = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    score = F.expr(f"tf * {TFIDF_FP} div df")
    w = Window.partitionBy("source").orderBy(
        F.desc("score_fp"), F.asc("tok")
    )
    return (
        tf.join(df, "tok")
        .select("source", "tok", "tf", "df", score.alias("score_fp"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("source", "tok", "tf", "df", "score_fp", "rank")
    )


# ---------------- deterministic negative sampling (contrastive pairs)

NEG_K = 3


@query(
    "q_sample_negatives",
    oracle=f"""
WITH r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS pos
  FROM documents
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
js AS (SELECT unnest([1, 2, 3]) AS j),
cand AS (
  SELECT r.doc_id, js.j,
         (r.pos + 1 +
          ({TX.duck_md5_prefix60("concat(CAST(r.doc_id AS VARCHAR), ':', CAST(js.j AS VARCHAR))")}
           % ((SELECT n FROM t) - 1))) % (SELECT n FROM t) AS neg_pos
  FROM r CROSS JOIN js
)
SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, r2.doc_id AS neg_id
FROM cand c JOIN r r2 ON r2.pos = c.neg_pos
""",
)
def q_sample_negatives(spark, sf_dir):
    """Deterministic negative sampling — the contrastive-training prep
    step (in-batch negatives, triplet mining) that pairs every anchor
    document with k pseudo-random OTHER documents, reproducibly: the
    j-th negative's position is a 60-bit md5 offset 1..n-1 from the
    anchor's position, mod n — by construction never the anchor
    itself, uniform over the corpus, and identical on every engine,
    cluster size, and rerun (seeded-rand sampling is none of these).

    Positions come from the two-pass range-partitioned ranked_by, NOT
    a global row_number (the operators/rank.py single-partition rule)
    and NOT from trusting doc_id density — today's testdata ids are
    dense 0..n-1 but the operator must not assume it. The position ->
    doc join is an equi-join on a (id, pos) relation the size of the
    corpus KEY SET; at 100 TB the payload columns never move.

    Emits (doc_id, j, neg_id): k rows per anchor, ready to join
    against the text/embedding tables on either side."""
    from hive_similarity_join_spark.operators.rank import ranked_by

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    r = ranked_by(d, ["doc_id"], "rk").select(
        "doc_id", (F.col("rk") - 1).alias("pos")
    )
    t = r.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    js = spark.range(1, NEG_K + 1).select(F.col("id").cast("bigint").alias("j"))
    h = TX.md5_prefix60(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string")
        )
    )
    cand = (
        r.crossJoin(F.broadcast(js))
        .crossJoin(F.broadcast(t))
        .select(
            "doc_id",
            "j",
            ((F.col("pos") + 1 + (h % (F.col("n") - 1))) % F.col("n")).alias(
                "neg_pos"
            ),
        )
    )
    r2 = r.select(F.col("doc_id").alias("neg_id"), F.col("pos").alias("neg_pos"))
    return cand.join(r2, "neg_pos").select("doc_id", "j", "neg_id")


# ---------------- exact length percentiles per source

_PCTS = ((50, 100), (90, 100), (99, 100))  # exact rationals q = num/den


@query(
    "q_docs_length_percentiles",
    oracle=f"""
WITH r AS (
  SELECT source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents
)
SELECT source, any_value(n) AS n_docs,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN n_chars END) AS p50,
       max(CASE WHEN rn = (90 * n + 99) // 100 THEN n_chars END) AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END) AS p99
FROM r GROUP BY source
""",
)
def q_docs_length_percentiles(spark, sf_dir):
    """Exact p50/p90/p99 of document length per source — the corpus
    length profile that drives packing efficiency (q_pack_sequences)
    and truncation-loss estimates. EXACT order statistics, not
    approx_percentile sketches: the q-th percentile is the value at
    rank ceil(q*n), computed in integer arithmetic ((q_num*n +
    q_den-1) div q_den — no float q*n), picked by a conditional max
    over the ranked relation (one shuffle on source, one window, one
    aggregate).

    Scale (r10 de-weak, the q_win_percentiles shape): sources are a
    handful of values, so a `Window.partitionBy(source)` would sort
    the whole corpus through that many tasks. The two-pass range-
    partitioned rank (operators/rank.py ranked_by) over (source,
    n_chars, doc_id) — groups contiguous, giant groups span many
    range partitions — plus a broadcast |sources|-row (first-rank,
    count) relation yields the same within-group rank with no
    per-group sort; the percentile picks are the same conditional-max
    aggregation. A sketch (q_agg_quantile_sketch measures one) is the
    fallback when even two passes are too dear — traded deliberately,
    not by default."""
    from hive_similarity_join_spark.operators.rank import ranked_by

    d = load_table(spark, sf_dir, "documents")
    g = ranked_by(
        d.select("source", "n_chars", "doc_id"),
        ["source", "n_chars", "doc_id"],
        "g_rank",
    )
    grp = g.groupBy("source").agg(
        F.min("g_rank").alias("lo"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    r = g.join(F.broadcast(grp), "source").select(
        "source",
        "n_chars",
        (F.col("g_rank") - F.col("lo") + F.lit(1)).cast("bigint").alias("rn"),
        "n",
    )

    def pick(num, den, name):
        target = F.expr(f"({num} * n + {den - 1}) div {den}")
        return F.max(
            F.when(F.col("rn") == target, F.col("n_chars"))
        ).alias(name)

    return r.groupBy("source").agg(
        F.any_value("n").alias("n_docs"),
        pick(50, 100, "p50"),
        pick(90, 100, "p90"),
        pick(99, 100, "p99"),
    )


# ---------------- quantile-sketch accuracy audit (sample vs exact)

_SKETCH_K = 256


@query(
    "q_agg_quantile_sketch",
    oracle=f"""
WITH d AS (SELECT doc_id, n_chars FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
er AS (
  SELECT n_chars,
         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS er
  FROM d
),
ex AS (
  SELECT any_value(n.n) AS n_docs,
         max(CASE WHEN er = (50 * n.n + 99) // 100 THEN n_chars END) AS p50_exact,
         max(CASE WHEN er = (90 * n.n + 99) // 100 THEN n_chars END) AS p90_exact,
         max(CASE WHEN er = (99 * n.n + 99) // 100 THEN n_chars END) AS p99_exact
  FROM er CROSS JOIN n
),
s AS (
  SELECT doc_id, n_chars FROM d
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT {_SKETCH_K}
),
k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM s),
sr AS (
  SELECT n_chars,
         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS sr
  FROM s
),
est AS (
  SELECT any_value(k.k) AS k_sample,
         max(CASE WHEN sr = (50 * k.k + 99) // 100 THEN n_chars END) AS p50_est,
         max(CASE WHEN sr = (90 * k.k + 99) // 100 THEN n_chars END) AS p90_est,
         max(CASE WHEN sr = (99 * k.k + 99) // 100 THEN n_chars END) AS p99_est
  FROM sr CROSS JOIN k
)
SELECT n_docs, k_sample,
       p50_exact, p50_est,
       CAST(abs(p50_est - p50_exact) AS BIGINT) AS p50_abs_err,
       CAST(abs(p50_est - p50_exact) AS DOUBLE) / CAST(p50_exact AS DOUBLE)
         AS p50_rel_err,
       p90_exact, p90_est,
       CAST(abs(p90_est - p90_exact) AS BIGINT) AS p90_abs_err,
       CAST(abs(p90_est - p90_exact) AS DOUBLE) / CAST(p90_exact AS DOUBLE)
         AS p90_rel_err,
       p99_exact, p99_est,
       CAST(abs(p99_est - p99_exact) AS BIGINT) AS p99_abs_err,
       CAST(abs(p99_est - p99_exact) AS DOUBLE) / CAST(p99_exact AS DOUBLE)
         AS p99_rel_err
FROM ex CROSS JOIN est
""",
)
def q_agg_quantile_sketch(spark, sf_dir):
    """Quantile-SKETCH accuracy audit: p50/p90/p99 of document length
    estimated from a deterministic 256-row uniform sample vs the exact
    two-pass order statistics, with absolute and relative error — the
    percentile sketch every 100 TB profiling pass reaches for when the
    exact rank is too heavy, its accuracy MEASURED like the rest of
    the sketch portfolio (KMV distinct, CMS heavy-hitters, Bloom
    membership, MinHash similarity), not asserted.

    The sketch is a bottom-k-by-md5 sample (the KMV device applied to
    order statistics): rank every row by md5(doc_id) — a uniform
    permutation both engines compute identically — keep the first
    K=256, and read the percentile off the sample's own ranked values
    at ceil(q*k). Epsilon ~ O(1/sqrt(K)) quantile error with K rows of
    state; unlike KLL/t-digest the sample is mergeable by trivial
    union + re-rank AND exactly SQL-mirrorable, which is what makes
    this auditable bit-for-bit against DuckDB.

    Scale shape: the sample plans as TakeOrderedAndProject (per-
    partition heaps over the md5 order — no global sort, no single-
    partition exchange); the in-sample re-rank windows over the
    LIMIT-bounded 256 rows (the sanctioned limit-then-rank shape);
    the exact side is the two-pass range-partitioned rank
    (operators/rank.py) — its cost is the thing the sketch exists to
    avoid, carried here precisely to measure what the avoidance
    costs in accuracy. All integer arithmetic except the final
    rel-err divisions (one double division each)."""
    from pyspark.sql import Window

    from hive_similarity_join_spark.operators.rank import ranked_by

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_rel = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    er = ranked_by(d, ["n_chars", "doc_id"], "er").join(
        F.broadcast(n_rel)
    )

    def pick(rank_col, scale_col, num, den, name):
        target = F.expr(f"({num} * {scale_col} + {den - 1}) div {den}")
        return F.max(
            F.when(F.col(rank_col) == target, F.col("n_chars"))
        ).alias(name)

    ex = er.agg(
        F.any_value("n").alias("n_docs"),
        pick("er", "n", 50, 100, "p50_exact"),
        pick("er", "n", 90, 100, "p90_exact"),
        pick("er", "n", 99, 100, "p99_exact"),
    )

    samp = (
        d.select("doc_id", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(_SKETCH_K)
    )
    w = Window.orderBy("n_chars", "doc_id")
    wk = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sr = samp.select(
        "n_chars",
        F.row_number().over(w).cast("bigint").alias("sr"),
        F.count(F.lit(1)).over(wk).cast("bigint").alias("k"),
    )
    est = sr.agg(
        F.any_value("k").alias("k_sample"),
        pick("sr", "k", 50, 100, "p50_est"),
        pick("sr", "k", 90, 100, "p90_est"),
        pick("sr", "k", 99, 100, "p99_est"),
    )

    out = ex.join(F.broadcast(est))
    cols = [F.col("n_docs"), F.col("k_sample")]
    for p in ("p50", "p90", "p99"):
        err = F.abs(F.col(f"{p}_est") - F.col(f"{p}_exact"))
        cols += [
            F.col(f"{p}_exact"),
            F.col(f"{p}_est"),
            err.cast("bigint").alias(f"{p}_abs_err"),
            (err.cast("double") / F.col(f"{p}_exact").cast("double")).alias(
                f"{p}_rel_err"
            ),
        ]
    return out.select(*cols)


# ---------------- Zipf rank-frequency curve (log2-bucketed, exact)


@query(
    "q_text_zipf_curve",
    oracle=f"""
WITH tok AS (
  SELECT t.tok FROM documents, unnest({TX.duck_bag()}) AS t(tok)
),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY tok),
rk AS (
  SELECT tf,
         CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS r
  FROM tf
),
b AS (
  SELECT CAST(bb AS BIGINT) AS bucket,
         (CAST(1 AS BIGINT) << bb) AS rank_lo
  FROM generate_series(0, 40) AS g(bb)
),
per AS (
  SELECT b.bucket, b.rank_lo,
         CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(rk.tf) AS BIGINT) AS sum_tf,
         CAST(max(rk.tf) AS BIGINT) AS max_tf,
         CAST(min(rk.tf) AS BIGINT) AS min_tf
  FROM rk JOIN b ON rk.r >= b.rank_lo AND rk.r < b.rank_lo * 2
  GROUP BY b.bucket, b.rank_lo
),
tot AS (SELECT CAST(sum(sum_tf) AS BIGINT) AS total FROM per)
SELECT p.bucket, p.rank_lo, p.n_terms, p.sum_tf, p.max_tf, p.min_tf,
       CAST(sum(q.sum_tf) AS BIGINT) AS cum_tf,
       CAST(sum(q.sum_tf) AS DOUBLE) / any_value(tot.total) AS coverage
FROM per p JOIN per q ON q.bucket <= p.bucket CROSS JOIN tot
GROUP BY p.bucket, p.rank_lo, p.n_terms, p.sum_tf, p.max_tf, p.min_tf
""",
)
def q_text_zipf_curve(spark, sf_dir):
    """Zipf rank-frequency curve of the corpus vocabulary, log2-
    bucketed: terms ranked by raw term frequency (descending), then
    bucket b aggregates ranks [2^b, 2^(b+1)) — count of terms, summed
    / max / min frequency per bucket, plus the CUMULATIVE coverage
    (what fraction of all corpus tokens the top 2^(b+1)-1 vocabulary
    entries account for — the curve that sizes a tokenizer's
    vocabulary budget). On a Zipfian corpus sum_tf per bucket is
    near-constant (each octave of rank contributes equal mass);
    deviations expose template spam (flat head) or tokenizer damage
    (truncated tail). The profiling twin of q_text_vocab_stats'
    rarity tail, over TERM frequency rather than document frequency.
    Cumulation runs as a theta self-join over the <=41-row bucket
    relation (the q_report_concentration idiom — no global window
    anywhere).

    Exactness: ALL integer arithmetic — frequencies and counts are
    bigints, bucket boundaries are bigint bit-shifts (no log2 calls:
    floor(log2(r)) via a 41-row boundary relation theta-joined
    broadcast, because cross-engine log2-of-exact-power behavior is
    not worth trusting when a shift is exact by construction).

    Scale shape: one shuffle for the term-frequency aggregate
    (map-side combined); the global vocabulary rank is the two-pass
    range-partitioned ranked_by (operators/rank.py — a web-scale
    vocabulary never sorts through one task); the bucket join is a
    41-row broadcast nested loop; the final aggregate groups ~41
    rows per partition."""
    from hive_similarity_join_spark.operators.rank import ranked_by

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(TX.bag_tokens("text")).alias("tok"))
    tf = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    rk = ranked_by(tf, [F.desc("tf"), F.asc("tok")], "r")
    b = spark.range(0, 41).select(
        F.col("id").cast("bigint").alias("bucket"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").alias(
            "rank_lo"
        ),
    )
    per = (
        rk.join(
            F.broadcast(b),
            (F.col("r") >= F.col("rank_lo"))
            & (F.col("r") < F.col("rank_lo") * 2),
        )
        .groupBy("bucket", "rank_lo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("sum_tf"),
            F.max("tf").cast("bigint").alias("max_tf"),
            F.min("tf").cast("bigint").alias("min_tf"),
        )
    )
    tot = per.agg(F.sum("sum_tf").cast("bigint").alias("total"))
    q = per.select(
        F.col("bucket").alias("_qb"), F.col("sum_tf").alias("_qs")
    )
    return (
        per.join(F.broadcast(q), F.col("_qb") <= F.col("bucket"))
        .crossJoin(F.broadcast(tot))
        .groupBy(
            "bucket", "rank_lo", "n_terms", "sum_tf", "max_tf", "min_tf"
        )
        .agg(
            F.sum("_qs").cast("bigint").alias("cum_tf"),
            (
                F.sum("_qs").cast("double") / F.any_value("total")
            ).alias("coverage"),
        )
    )
