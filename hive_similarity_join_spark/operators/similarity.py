"""Set-similarity join — the engine's flagship operator.

Re-expresses the reference's Hive/MapReduce set-similarity-join pipeline
(the VCL 3-stage algorithm: Vernica, Carey, Li, "Efficient Parallel
Set-Similarity Joins Using MapReduce", SIGMOD 2010; prefix filtering from
Chaudhuri et al. SSJoin / Xiao et al. PPJoin) as ONE composed, lazy,
UDF-free DataFrame transformation. The reference runs it as 3 chained MR
jobs with HDFS materialization between them; here Catalyst plans the whole
thing as one DAG and Tungsten codegens the verification math.

Stages (all lazy Column expressions — no Python in the hot path):
  1. token ordering  — global token frequency, rarest-first rank;
                       result is vocabulary-sized -> broadcast.
  2. prefix + length filter — each record emits only its first
                       ``p = n - ceil(t_eq * n) + 1`` rarest tokens;
                       candidates = records sharing >=1 prefix token AND
                       passing the symmetric length filter.
  3. verification    — exact measure on full token sets via
                       ``array_intersect``/``array_union`` (set
                       semantics, matching Hive's set-similarity UDFs).
Stage 1 and the rank-sort that opens stage 2 are ``prepare``: every
kernel takes raw relations or ``Prepared`` sides, so one prepared
corpus serves many kernel calls.

Measures: jaccard / overlap / dice / cosine. Candidate generation always
uses an equivalent-Jaccard lower bound t_eq (lossless conversions:
dice>=t  <=> jaccard>=t/(2-t);  cosine>=t  =>  jaccard>=t^2), so one
prefix scheme serves all measures; verification applies the exact measure.

100 TB posture:
- Only the token->rank dictionary is broadcast (bounded by |vocab|, not
  corpus size). Everything else is shuffle-based hash/SMJ work that
  partitions on prefix-token then on (id1, id2) — both keys AQE can
  rebalance; skewed (frequent) prefix tokens are exactly what the
  rarest-first ordering minimizes, and AQE skew-join splits the rest.
- Prefix + length filters bound the candidate blowup (the only
  super-linear risk in the plan).
- Zero Python UDFs -> no Python workers at runtime; the whole verify
  stage is whole-stage-codegen'd JVM arithmetic.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.rank import ranked_by
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.operators.partitions import hash_placed, spread

MEASURES = ("jaccard", "overlap", "dice", "cosine")


def tokenize(col: Column | str, pattern: str = r"\s+") -> Column:
    """lower -> split -> drop empties -> set semantics (array_distinct).

    Set-vs-bag decision (SURVEY §7): always distinct, matching both
    ``array_intersect`` set semantics and the DISTINCT-based oracle.
    """
    col = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(col), pattern)
    return F.array_distinct(F.filter(toks, lambda t: t != F.lit("")))


def _equivalent_jaccard_threshold(threshold: float, measure: str) -> float:
    """Lossless lower bound on Jaccard given ``measure >= threshold``.

    Used only for candidate pruning; verification is exact per measure.
    overlap is absolute (not a ratio) -> no Jaccard bound; handled apart.
    """
    if measure == "jaccard":
        return threshold
    if measure == "dice":
        return threshold / (2.0 - threshold)
    if measure == "cosine":
        # C>=t => i >= t*sqrt(n1 n2); minimizing J over the feasible size
        # ratio r=sqrt(n2/n1) in [1, 1/t] gives J >= t^2 (at r=1/t).
        return threshold * threshold
    raise ValueError(f"measure must be one of {MEASURES}, got {measure!r}")


def _sim_expr(measure: str, a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    na, nb = F.size(a).cast("double"), F.size(b).cast("double")
    if measure == "jaccard":
        return inter / (na + nb - inter)
    if measure == "overlap":
        return inter
    if measure == "dice":
        return F.lit(2.0) * inter / (na + nb)
    if measure == "cosine":
        return inter / F.sqrt(na * nb)
    raise ValueError(f"unknown measure {measure!r}")


def _tokenized(df: DataFrame, id_col: str, text_col: str, tokens_col: str | None) -> DataFrame:
    """(_id, _toks) with empty token sets dropped (degenerate for every
    measure and for prefix arithmetic; documented exclusion).

    The input is spread BEFORE tokenizing (``partitions.spread``): every
    downstream map stage inherits its partitioning.
    """
    df = spread(df)
    toks = F.col(tokens_col) if tokens_col else tokenize(text_col)
    return (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
    )


def _rank_tokens(*relations: DataFrame) -> DataFrame:
    """Stage 1: global token frequency over all inputs -> dense ascending
    rank, rarest first (ties broken by token for determinism).

    The result is |vocabulary|-sized — small relative to the corpus even
    at 100 TB (vocab grows sub-linearly) — so it is broadcast at the join.
    The rank itself is computed distributed (range-partitioned two-pass,
    operators/rank.py): at web scale the vocabulary's long tail (typos,
    URLs, numbers) is NOT small, and a global no-partition window would
    serialize its sort onto one task.
    """
    freq = None
    for rel in relations:
        f = rel.select(F.explode("_toks").alias("_tok"))
        freq = f if freq is None else freq.unionByName(f)
    freq = freq.groupBy("_tok").agg(F.count(F.lit(1)).alias("_freq"))
    return ranked_by(freq, ["_freq", "_tok"], "_rank").select("_tok", "_rank")


def _sorted_by_rank(rel: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Stage 2a: map each record's token set to its sorted array of
    global ranks (rarest first). Explode -> broadcast-join rank ->
    re-assemble sorted.

    After this point the kernel never touches token STRINGS again: the
    rank mapping is a bijection, so prefix join keys become ints (cheap
    hashing, small shuffles) and verification intersects int arrays —
    set measures over ranks equal measures over tokens exactly.
    """
    exploded = rel.select("_id", F.explode("_toks").alias("_tok"))
    joined = exploded.join(F.broadcast(dict_df), "_tok")
    return (
        joined.groupBy("_id")
        .agg(F.array_sort(F.collect_list("_rank")).alias("_rks"))
        .withColumn("_n", F.size("_rks"))
    )


def _rarity_dict(*rels: DataFrame) -> DataFrame:
    """(_tok, _rank, _w): the rarity-weight dictionary over the UNION
    of the given tokenized relations — ONE global scale with integer
    weight w = N_docs - df + 1 (a hapax weighs N, a token in every doc
    weighs 1; in R-S forms a corpus-common token must not look rare
    just because the batch is small). Rank is the distributed
    rarest-first order; the corpus doc count joins in as a 1-row
    broadcast (no driver action). Shared by every weighted join so the
    weight formula lives in exactly one place."""
    all_rel = rels[0]
    for rel in rels[1:]:
        all_rel = all_rel.unionByName(rel)
    freq = (
        all_rel.select(F.explode("_toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    ndocs = all_rel.agg(F.count(F.lit(1)).alias("_nd"))
    return (
        ranked_by(freq, ["_df", "_tok"], "_rank")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "_tok",
            "_rank",
            (F.col("_nd") - F.col("_df") + F.lit(1)).cast("long").alias("_w"),
        )
    )


def _weighted_sorted(rel: DataFrame, dict_df: DataFrame) -> DataFrame:
    """(_id, _rks, _ws, _sfx, _n, _tw) for one tokenized relation
    against a shared weight dictionary: rank-sorted arrays with aligned
    weights, suffix weights and total weight. Total weight is the first
    suffix — no separate fold. Sorting structs orders by rank (first
    field); weight and suffix ride along. See weighted_containment_join
    for the linear suffix-sum construction notes."""
    exploded = rel.select("_id", F.explode("_toks").alias("_tok"))
    joined = exploded.join(F.broadcast(dict_df), "_tok")
    w_sfx = (
        Window.partitionBy("_id")
        .orderBy(F.desc("_rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.select("_id", "_rank", "_w")
        .withColumn("_sfx", F.sum("_w").over(w_sfx))
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_rank"), F.col("_w"), F.col("_sfx")))
            ).alias("_rw")
        )
        .select(
            "_id",
            F.col("_rw._rank").alias("_rks"),
            F.col("_rw._w").alias("_ws"),
            F.col("_rw._sfx").alias("_sfx"),
        )
        .withColumn("_n", F.size("_rks"))
        .withColumn("_tw", F.element_at("_sfx", 1))
    )


@dataclass(frozen=True)
class Prepared:
    """One join side after stages 1 and 2a: the rank-sorted relation
    (_id, _rks, _n), or with ``weighted`` the weighted-sorted relation
    (_id, _rks, _ws, _sfx, _n, _tw) of the weighted kernels. Built by
    :func:`prepare`; every kernel takes it in place of a raw DataFrame
    and then skips its own preparation."""

    rel: DataFrame
    weighted: bool = False

    def slice(self, ids: DataFrame) -> Prepared:
        """This side restricted to ``ids``, a one-column relation of the
        ids to keep — a broadcast semi-join (node-sized). Per-doc rows
        depend only on (corpus, dictionary), not on which other docs
        are present, so slices of one prepared corpus are what an
        inline build over that corpus's dictionary gives: when the
        sides partition the corpus, a kernel over its slices returns
        exactly the rows of the raw R-S call. The weighted flavour
        needs that partition (its weights enter the results); the
        rank-sorted one only needs the dictionary to cover both sides."""
        keep = F.broadcast(ids.toDF("_id"))
        return Prepared(self.rel.join(keep, "_id", "left_semi"), self.weighted)


def prepare(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    other: DataFrame | None = None,
    tokens_col: str | None = None,
    weighted: bool = False,
    dictionary: DataFrame | None = None,
    persist: bool = True,
) -> Prepared | tuple[Prepared, Prepared]:
    """Stages 1 and 2a, the one preparation seam of the four kernels:
    tokenize ``text_col`` (or read the token arrays in ``tokens_col``)
    -> global dictionary -> per-doc rank-sorted arrays. Returns the
    prepared ``df``; with ``other``, the (R, S) pair over ONE dictionary
    built from both relations, so no token silently vanishes from
    either side. ``weighted`` prepares the rarity-weighted flavour
    (w = N_docs - df + 1) that ``weighted_containment_join`` and
    ``weighted_jaccard_join`` read.

    A prepared relation depends only on (corpus, dictionary), not on
    threshold or measure, so every same-corpus kernel run can share it,
    and R-S sides or subsets can take :meth:`Prepared.slice` of it.

    ``dictionary``: a prebuilt dictionary — (_tok, _rank) from
    :func:`build_token_dict`, or (_tok, _rank, _w) when ``weighted`` —
    the steady-state shape for REPEATED joins over one corpus, where
    recomputing the global frequency pass per query is a full-corpus
    shuffle for an answer that never changes. It MUST cover every token
    of the inputs: stage 2a inner-joins on _tok, so tokens absent from
    it silently vanish from the token sets (changing results) rather
    than erroring. Unweighted, any covering dictionary yields identical
    pairs: the prefix/positional filters need only SOME global total
    order, and verification intersects rank arrays (a bijection).
    Weighted, the weights enter the RESULT, so the dictionary must be
    built over exactly the relations the inline build would see.

    Persistence (``persist=True`` default): each tokenized relation is
    consumed twice (dictionary build, rank-sort) and each prepared one
    up to four times (both prefix explodes + both verify sides);
    without caching, Catalyst re-executes the tokenizer for every
    consumer — ruinous when ``tokens_col`` is an expensive expression
    (n-gram shingling). The reference family materializes exactly these
    stage boundaries to HDFS between its MR jobs; we keep them in
    executor storage (MEMORY_AND_DISK — spills, never OOMs, sized
    O(corpus tokens) which at 100 TB is the same scratch the MR jobs
    would write to disk anyway). The pinned stages are AQE-sized
    (coalesced by bytes and skew-split, see the ``session`` module
    docstring), so a consumer schedules one task per useful partition
    rather than one per ``spark.sql.shuffle.partitions``. Pass
    ``persist=False`` for a fully lazy plan (composition into larger
    DAGs, single-consumer callers, builds that are checkpointed).
    """

    def keep(rel: DataFrame) -> DataFrame:
        return pin(rel, StorageLevel.MEMORY_AND_DISK) if persist else rel

    toks = [
        keep(_tokenized(d, id_col, text_col, tokens_col))
        for d in (df, other) if d is not None
    ]
    if dictionary is None:
        dictionary = (_rarity_dict if weighted else _rank_tokens)(*toks)
    sort = _weighted_sorted if weighted else _sorted_by_rank
    sides = [Prepared(keep(sort(t, dictionary)), weighted) for t in toks]
    return sides[0] if other is None else (sides[0], sides[1])


def _sides(
    df: DataFrame | Prepared,
    other: DataFrame | Prepared | None,
    weighted: bool,
    **prep,
) -> tuple[DataFrame, DataFrame]:
    """(R, S) prepared relations of one kernel call; S is R for a
    self-join. ``df`` and ``other`` are both raw DataFrames, prepared
    here by :func:`prepare` with ``prep``, or both :class:`Prepared`
    sides of the kernel's flavour. Anything else raises ``ValueError``:
    a raw side next to a prepared one would be ranked by a different
    dictionary, and a rank-sorted side lacks the weighted kernels'
    weight columns."""
    given = [side for side in (df, other) if side is not None]
    if len({isinstance(side, Prepared) for side in given}) > 1:
        raise ValueError(
            "df and other must both be raw DataFrames or both Prepared "
            "sides (prepare / Prepared.slice), not one of each"
        )
    if not isinstance(df, Prepared):
        sides = prepare(df, other=other, weighted=weighted, **prep)
        given = [sides] if other is None else list(sides)
    for side in given:
        if side.weighted != weighted:
            flavour = "weighted" if weighted else "rank-sorted"
            raise ValueError(
                f"this kernel needs {flavour} Prepared sides "
                f"(prepare(..., weighted={weighted}))"
            )
    return given[0].rel, given[-1].rel


def _prefix_exploded(rel: DataFrame, t_eq: float, short: bool = False) -> DataFrame:
    """Stage 2b: emit prefix tokens with their 0-based position (for the
    PPJoin positional filter).

    ``short=False`` — the standard probing prefix
    ``p = n - ceil(t_eq*n) + 1`` (valid against ANY partner passing the
    length filter: partner size >= t_eq*n forces required overlap
    alpha >= t_eq*n).

    ``short=True`` — the VCL/PPJoin INDEXING prefix
    ``p = n - ceil(2*t_eq/(1+t_eq)*n) + 1``, valid only for the
    SMALLER-size record of a pair: with n2 >= n1, the required overlap
    alpha >= t_eq/(1+t_eq)*(n1+n2) >= 2*t_eq/(1+t_eq)*n1. The first
    shared token (in global rank order) of a qualifying pair provably
    sits inside the smaller record's SHORT prefix and the larger
    record's STANDARD prefix — so joining short-side x standard-side is
    lossless when the join orients pairs by (size, id), and the
    positional filter's first-shared-token argument is unchanged.

    ``F.ceil`` returns LONG — the arithmetic is kept integral on purpose
    (SURVEY §7 hard parts). A tiny epsilon guards ceil(t*n) when t*n is
    exactly integral but the float product lands a hair above (e.g.
    0.8*5 = 4.000000000000001 -> ceil 5 would weaken nothing, but
    0.7*10 = 6.999999999999999 -> ceil 7 is required for losslessness:
    rounding DOWN the ceil argument can only lengthen the prefix, which
    is always safe; shortening it is not).
    """
    rate = (2.0 * t_eq / (1.0 + t_eq)) if short else t_eq
    p = F.greatest(
        F.lit(1),
        (F.col("_n") - F.ceil(F.col("_n") * rate - 1e-9) + 1).cast("int"),
    )
    return rel.select(
        "_id",
        "_rks",
        "_n",
        F.posexplode(F.slice("_rks", 1, p)).alias("_pp", "_ptok"),
    )


# Salts per candidate join. A measured sweep at sf0.1 (4/8/16/32 salts
# -> ~5.6/5.1/4.2/3.8 s flagship) showed more salts keep paying up to
# the local core count; the cost is a-side replication (prefix rows
# only), so the ceiling should stay well below shuffle parallelism on a
# large cluster rather than track it.
N_SALTS = 32


def _all_salts() -> Column:
    """Probe-side salt: every prefix row is replicated across all salts."""
    return F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)]))


def _one_salt() -> Column:
    """Index-side salt: each row lands on exactly one salt, by its id."""
    return F.pmod(F.hash(F.col("_id")), F.lit(N_SALTS))


def _placed_side(
    rows: DataFrame, salt: Column, side: int,
    cols: tuple[str, ...] = ("_id", "_n", "_pp", "_ptok"),
) -> DataFrame:
    """One input of a salted candidate join: ``rows``' ``cols`` plus
    ``_salt``, hash-placed on (``_ptok``, ``_salt``) and renamed for
    join side ``side`` (``_id`` -> ``id1``, ``_x`` -> ``_x1``)."""
    return hash_placed(
        rows.withColumn("_salt", salt),
        ["_ptok", "_salt"],
        {c: f"id{side}" if c == "_id" else f"{c}{side}" for c in (*cols, "_salt")},
    )


def similarity_join(
    df: DataFrame | Prepared,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    measure: str = "jaccard",
    other: DataFrame | Prepared | None = None,
    tokens_col: str | None = None,
    persist: bool = True,
) -> DataFrame:
    """Exact set-similarity join; returns (id1, id2, sim).

    ``df`` / ``other``: raw relations, prepared here by :func:`prepare`
    (``id_col``, ``text_col``, ``tokens_col`` and ``persist`` are its
    arguments; both sides share one dictionary), or rank-sorted
    :class:`Prepared` sides — a shared prepared corpus or its
    :meth:`Prepared.slice` — when the tokenize/dictionary/sort stages
    are skipped entirely. Mixing one raw and one prepared side raises
    ``ValueError``.

    Self-join (``other is None``): all pairs with id1 < id2 (canonical
    orientation, SURVEY §7) and measure >= threshold.
    R-S join: pairs (id1 from df, id2 from other), no id ordering.

    Partitioning (the load-bearing scale decision): a few-partition
    input is spread to one task per core before tokenizing
    (``partitions.spread``). The candidate join's INPUT is small (one
    row per prefix token) but its OUTPUT is the candidate-pair blowup,
    so both sides are placed with an EXPLICIT partition count
    (``partitions.hash_placed``; its module docstring says why, and
    when such a count holds) on (prefix token, salt): the b-side picks
    ``salt = hash(id) % N_SALTS`` and the a-side replicates each prefix
    row across all salts, splitting every hot token's candidate block
    across N_SALTS partitions — frequent-token skew (the Hive
    reference's ``hive.optimize.skewjoin`` concern) is handled in the
    plan itself rather than by runtime rescue.
    """
    if measure not in MEASURES:
        raise ValueError(f"measure must be one of {MEASURES}, got {measure!r}")
    if measure == "overlap":
        t_eq = None  # absolute overlap: prefix p = n - c + 1
    else:
        t_eq = _equivalent_jaccard_threshold(threshold, measure)
    r_sorted, s_sorted = _sides(
        df, other, False,
        id_col=id_col, text_col=text_col, tokens_col=tokens_col, persist=persist,
    )

    if measure == "overlap":
        c = int(math.ceil(threshold))
        p_expr = F.greatest(F.lit(1), (F.col("_n") - c + 1).cast("int"))
        a = r_sorted.select(
            "_id",
            "_rks",
            "_n",
            F.posexplode(F.slice("_rks", 1, p_expr)).alias("_pp", "_ptok"),
        )
        b = s_sorted.select(
            "_id",
            "_rks",
            "_n",
            F.posexplode(F.slice("_rks", 1, p_expr)).alias("_pp", "_ptok"),
        )
    else:
        # Self-join: orient each pair by (size, id) so the a-side is the
        # pair's SMALLER record and can emit the short indexing prefix —
        # fewer salt-replicated prefix rows AND fewer candidate-join
        # matches, losslessly (see _prefix_exploded). R-S joins must keep
        # (R, S) orientation, so both sides emit the standard prefix and
        # the same bound is applied as a join predicate instead.
        a = _prefix_exploded(r_sorted, t_eq, short=(other is None))
        b = _prefix_exploded(s_sorted, t_eq)

    a = _placed_side(a, _all_salts(), 1)
    b = _placed_side(b, _one_salt(), 2)

    cond = [
        F.col("_ptok1") == F.col("_ptok2"),
        F.col("_salt1") == F.col("_salt2"),
    ]
    size_oriented = other is None and measure != "overlap"
    if size_oriented:
        # (size, id) pair orientation: a-side = smaller record, matching
        # its short indexing prefix against the b-side standard prefix.
        cond.append(
            (F.col("_n1") < F.col("_n2"))
            | ((F.col("_n1") == F.col("_n2")) & (F.col("id1") < F.col("id2")))
        )
    elif other is None:
        cond.append(F.col("id1") < F.col("id2"))
    if other is not None and measure != "overlap":
        # R-S twin of the indexing-prefix bound: the pair's smaller side
        # must match within ITS short prefix (the first shared token
        # always does). Standard prefixes are emitted; this predicate
        # prunes candidate matches beyond the short bound.
        rate2 = 2.0 * t_eq / (1.0 + t_eq)
        ls1 = F.greatest(
            F.lit(1),
            (F.col("_n1") - F.ceil(F.col("_n1") * rate2 - 1e-9) + 1).cast("int"),
        )
        ls2 = F.greatest(
            F.lit(1),
            (F.col("_n2") - F.ceil(F.col("_n2") * rate2 - 1e-9) + 1).cast("int"),
        )
        cond.append(
            ((F.col("_n1") <= F.col("_n2")) & (F.col("_pp1") < ls1))
            | ((F.col("_n2") <= F.col("_n1")) & (F.col("_pp2") < ls2))
        )
    # Symmetric length filter (lossless for ratio measures): J>=t forces
    # t*n1 <= n2 and t*n2 <= n1. For overlap: both sizes >= c.
    if measure == "overlap":
        cond.append(F.col("_n1") >= int(math.ceil(threshold)))
        cond.append(F.col("_n2") >= int(math.ceil(threshold)))
    else:
        cond.append(F.col("_n2").cast("double") >= F.col("_n1") * t_eq - 1e-9)
        cond.append(F.col("_n1").cast("double") >= F.col("_n2") * t_eq - 1e-9)
    # PPJoin positional filter (Xiao et al., WWW 2008): a shared prefix
    # token at 0-based positions (i, j) bounds the total overlap by
    # 1 + min(n1-i-1, n2-j-1); rows whose bound can't reach the
    # measure's required overlap alpha are dropped BEFORE the dedupe
    # shuffle. Lossless: for a qualifying pair, its FIRST shared token
    # in rank order has every other shared token after both positions,
    # so that row's bound >= true overlap >= alpha and it survives.
    n1, n2 = F.col("_n1").cast("double"), F.col("_n2").cast("double")
    if measure == "jaccard":
        alpha = (n1 + n2) * (threshold / (1.0 + threshold))
    elif measure == "dice":
        alpha = (n1 + n2) * (threshold / 2.0)
    elif measure == "cosine":
        alpha = F.sqrt(n1 * n2) * threshold
    else:  # overlap
        alpha = F.lit(float(math.ceil(threshold)))
    ubound = 1 + F.least(
        F.col("_n1") - F.col("_pp1") - 1, F.col("_n2") - F.col("_pp2") - 1
    )
    cond.append(ubound.cast("double") >= alpha - 1e-9)

    join_cond = cond[0]
    for c in cond[1:]:
        join_cond = join_cond & c
    # Candidates carry ONLY the id pair through the join + dedupe shuffle
    # (16 bytes/row, not the token arrays — pairs are duplicated once per
    # shared prefix token, so array-carrying multiplies shuffle bytes by
    # the duplication factor). Arrays are joined back once per side after
    # dedupe for verification.
    cands = (
        a.join(b, join_cond)
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    v1 = r_sorted.select(F.col("_id").alias("id1"), F.col("_rks").alias("_rks1"))
    v2 = s_sorted.select(F.col("_id").alias("id2"), F.col("_rks").alias("_rks2"))
    sim = _sim_expr(measure, F.col("_rks1"), F.col("_rks2"))
    out = (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
    )
    if size_oriented:
        # Size orientation is an internal detail; the contract is
        # canonical id1 < id2 (every measure is symmetric, so sim is
        # orientation-free).
        return out.select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
            "sim",
        )
    return out.select("id1", "id2", "sim")


def naive_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    measure: str = "jaccard",
) -> DataFrame:
    """Brute-force oracle twin of ``similarity_join`` (self-join only):
    candidates from a full single-token inverted index (no prefix/length
    pruning). Used by property tests to prove filter losslessness.
    """
    r = _tokenized(df, id_col, text_col, None)
    a = r.select(F.col("_id").alias("id1"), F.col("_toks").alias("_toks1"))
    b = r.select(F.col("_id").alias("id2"), F.col("_toks").alias("_toks2"))
    ea = a.select("id1", "_toks1", F.explode("_toks1").alias("_tok1"))
    eb = b.select("id2", "_toks2", F.explode("_toks2").alias("_tok2"))
    cands = (
        ea.join(eb, (F.col("_tok1") == F.col("_tok2")) & (F.col("id1") < F.col("id2")))
        .select("id1", "id2", "_toks1", "_toks2")
        .dropDuplicates(["id1", "id2"])
    )
    sim = _sim_expr(measure, F.col("_toks1"), F.col("_toks2"))
    return (
        cands.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


def bag_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Multiset (bag) Jaccard self-join: sim = sum_t min(c1,c2) /
    sum_t max(c1,c2) over per-token multiplicities — the semantics a
    HiveQL tokenizer WITHOUT DISTINCT produces, where repeated tokens
    count. Returns (id1, id2, sim), id1 < id2, sim >= threshold.

    Reduction, not reimplementation: expanding each bag to
    occurrence-indexed elements (tok -> tok\x001, tok\x002, ... up to
    its count) turns bag Jaccard into SET Jaccard exactly
    (|expanded intersection| = sum min, |expanded union| = sum max), so
    the full prefix-filtered kernel — rarest-first ordering, prefix +
    length filters, salted candidate join — applies unchanged. The
    expansion even HELPS the filter: high occurrence indices ("the" #7)
    are globally rare, so repeated-token documents get highly selective
    prefixes. One extra shuffle pair (token-count groupBy + array
    rebuild) buys candidate generation bounded by prefix tokens instead
    of every shared token — the difference between corpus-sized and
    frequency-squared shuffles on a skewed vocabulary.
    """
    raw = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    tc = (
        df.select(F.col(id_col).alias("_bid"), F.explode(raw).alias("_tok"))
        .groupBy("_bid", "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    expanded = tc.select(
        "_bid",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_c")),
                lambda i: F.concat_ws("\x00", F.col("_tok"), i.cast("string")),
            )
        ).alias("_etok"),
    )
    arrs = expanded.groupBy("_bid").agg(F.collect_list("_etok").alias("_etoks"))
    return similarity_join(
        arrs, "_bid", threshold=threshold, measure="jaccard", tokens_col="_etoks"
    )


def containment_join(
    df: DataFrame | Prepared,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    tokens_col: str | None = None,
    persist: bool = True,
    min_size_ratio: float | None = None,
    other: DataFrame | Prepared | None = None,
) -> DataFrame:
    """Asymmetric set-CONTAINMENT self-join: ordered pairs (id1, id2),
    id1 != id2, with |T1 ∩ T2| / |T1| >= threshold — "id1 is (mostly)
    contained in id2". The partial-duplicate primitive the symmetric
    measures miss: a paragraph quoted inside a larger page has low
    Jaccard (the union is page-sized) but containment ~1.0, so this is
    the operator that catches quotation, template-embedding, and
    sub-document copying in a training corpus.

    ``min_size_ratio=r`` additionally requires ``n2 >= r * n1`` — the
    "contained in a much LARGER document" form. This is a semantic
    predicate, not a pruning bound (applied exactly at the candidate
    join on the carried true sizes): with r=2 every returned pair has
    Jaccard <= n1/n2 <= 0.5, i.e. provably invisible to the symmetric
    kernel at its t=0.8/0.9 thresholds — and it cuts the output on a
    near-dup-dense corpus ~8x (FIXTURES.md: 8.28M -> 1.00M ordered
    pairs at sf0.1), since mutual near-dups (similar sizes) no longer
    qualify in either orientation.

    Asymmetry changes the filter algebra (the symmetric kernel's
    size/prefix bounds assume both sides normalize by the union):
    containment >= t requires overlap alpha = ceil(t*n1), which bounds
    NOTHING about n2 from above — a 10-token note can be contained in a
    10k-token page. The lossless scheme is therefore probe-prefix x
    full index (the standard asymmetric variant of prefix filtering):

      - probe side (the contained candidate, id1) emits the standard
        prefix ``p1 = n1 - ceil(t*n1) + 1``: any partner sharing >=
        alpha tokens shares one inside that prefix (pigeonhole over the
        global rank order — if all shared tokens sat in the last
        alpha-1 positions, overlap <= alpha-1);
      - index side (the container, id2) emits ALL its tokens with
        positions — it cannot emit a shorter prefix losslessly, because
        its required-overlap fraction t*n1/n2 can be arbitrarily small;
      - join predicates: size filter ``n2 >= ceil(t*n1)`` (overlap
        can't exceed the smaller set) and the PPJoin positional bound
        ``1 + min(n1-pp1-1, n2-pp2-1) >= t*n1`` (first-shared-token
        argument unchanged);
      - exact verify on the rank arrays: ``|intersect| / n1 >= t``.

    Scale shape: the index side is the corpus inverted index — linear
    in corpus tokens, the same relation the dictionary pass already
    shuffles — and the probe side is prefix rows only (~(1-t) of corpus
    tokens), salted x``N_SALTS`` against hot tokens exactly like
    ``similarity_join`` (same explicit placement,
    ``partitions.hash_placed``). The
    candidate blowup is bounded by sum over probe-prefix tokens of that
    token's document frequency — rarest-first ranks make prefix tokens
    the rare ones, which is what keeps this sub-quadratic at 100 TB.
    Output is all (contained, container) ordered pairs; at t near 1 on
    a near-dup-dense corpus the key is output-bound like the t=0.9
    symmetric keys (FIXTURES.md anchors).

    R-S form (``other`` given): probes come from ``df`` (the new
    batch), containers from ``other`` (the corpus) — "which incoming
    docs are already (mostly) inside the corpus", the incremental-
    ingest screen. The id1 != id2 clause is dropped; the token
    dictionary is built over BOTH relations so no token silently
    vanishes from either side's rank arrays.

    Sides are raw or rank-sorted :class:`Prepared`, as for
    ``similarity_join``.
    """
    r_sorted, s_sorted = _sides(
        df, other, False,
        id_col=id_col, text_col=text_col, tokens_col=tokens_col, persist=persist,
    )
    probe = _placed_side(_prefix_exploded(r_sorted, threshold), _all_salts(), 1)
    index = _placed_side(
        s_sorted.select("_id", "_n", F.posexplode("_rks").alias("_pp", "_ptok")),
        _one_salt(),
        2,
    )

    alpha = F.ceil(F.col("_n1").cast("double") * threshold - 1e-9)
    ubound = 1 + F.least(
        F.col("_n1") - F.col("_pp1") - 1, F.col("_n2") - F.col("_pp2") - 1
    )
    join_cond = (
        (F.col("_ptok1") == F.col("_ptok2"))
        & (F.col("_salt1") == F.col("_salt2"))
        & (F.col("_n2") >= alpha)
        & (ubound >= alpha)
    )
    if other is None:
        join_cond = join_cond & (F.col("id1") != F.col("id2"))
    if min_size_ratio is not None:
        join_cond = join_cond & (
            F.col("_n2").cast("double") >= F.col("_n1") * F.lit(min_size_ratio)
        )
    cands = (
        probe.join(index, join_cond)
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    v1 = r_sorted.select(F.col("_id").alias("id1"), F.col("_rks").alias("_rks1"))
    v2 = s_sorted.select(F.col("_id").alias("id2"), F.col("_rks").alias("_rks2"))
    inter = F.size(F.array_intersect(F.col("_rks1"), F.col("_rks2"))).cast("double")
    sim = inter / F.size(F.col("_rks1")).cast("double")
    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


def weighted_containment_join(
    df: DataFrame | Prepared,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    tokens_col: str | None = None,
    persist: bool = True,
    min_weight_ratio: float | None = None,
    other: DataFrame | Prepared | None = None,
) -> DataFrame:
    """Rarity-WEIGHTED containment self-join: ordered pairs (id1, id2),
    id1 != id2, with ``sum of w(t) over shared tokens / total w(id1)
    >= threshold``, where ``w(t) = N_docs - df(t) + 1`` (integer rarity
    weight: a token in every document weighs 1, a hapax weighs N).

    Why weighted: unweighted containment treats "the" and a rare
    identifier as equal evidence, so boilerplate-heavy short docs
    false-positive into large pages. Rarity weighting is the
    tf-idf-flavored fix every IR duplicate detector applies — shared
    RARE mass is what indicates copying (weighted prefix filtering
    goes back to SSJoin: Chaudhuri, Ganti, Kaushik, ICDE 2006, where
    prefixes are defined by cumulative weight rather than count).
    Integer weights keep every sum exact (no float-association
    drift), so the key is hash-checkable like the unweighted kernel.

    Filter algebra (weighted generalization of ``containment_join``,
    same probe x full-index shape):
      - alpha = threshold * total_w(id1) is the required shared weight;
      - probe prefix: emit position p only while the SUFFIX weight
        ``sum of w from p to end (rank order)`` >= alpha — if every
        shared token sat past p, shared weight <= suffix(p) < alpha
        (the weighted pigeonhole; with all weights 1 this reduces
        exactly to the classic n - ceil(t*n) + 1 prefix);
      - index side emits all tokens, carrying ITS suffix weights;
      - join predicates: total_w(id2) >= alpha, and the weighted
        positional bound ``w(tok) + min(sfx1(p1+1), sfx2(p2+1)) >=
        alpha`` (first-shared-token argument: every other shared token
        sits after both positions, so shared weight <= w(tok) +
        min of the remaining suffixes);
      - exact verify: map id1's ranks to weights, sum over the rank
        intersection, divide by total_w(id1).

    ``min_weight_ratio=r`` requires total_w(id2) >= r * total_w(id1)
    (the "contained in a much heavier document" form, exact at the
    candidate join like containment_join's size ratio).

    R-S form (``other`` given): probes come from ``df`` (the incoming
    batch), containers from ``other`` (the corpus) — the weighted
    incremental-ingest screen. The id1 != id2 clause drops; the weight
    dictionary is built over the UNION of both relations (one global
    rarity scale — a corpus-common token must not look rare just
    because the batch is small).

    Sides are raw, prepared here by :func:`prepare` with
    ``weighted=True``, or weighted :class:`Prepared` sides; a
    rank-sorted one raises ``ValueError``.

    Suffix weights are LINEAR per document: a running window sum over
    (id, rank DESC) on the still-exploded token relation, collected
    into the per-doc arrays in the same groupBy — the window and the
    aggregate share the hash partitioning on id, so the plan carries
    ONE exchange (verified via .explain; a 10k-token document costs
    10k additions, not 50M as the earlier transform-of-aggregates form
    did). The filter algebra is unchanged.

    Scale shape: identical to containment_join — the dictionary (now
    carrying df-derived weights, built with a 1-row broadcast of the
    corpus doc count, never a collect) broadcasts; probe prefixes are
    salted x``N_SALTS`` and placed by ``partitions.hash_placed``; the
    index side is the linear inverted index. Rarity weighting makes
    prefixes concentrate on rare tokens — the same frequency skew
    defense as the unweighted rarest-first order, but now the filter
    bound itself adapts to how much evidence each token carries.
    """
    r_sorted, s_sorted = _sides(
        df, other, True,
        id_col=id_col, text_col=text_col, tokens_col=tokens_col, persist=persist,
    )
    probe, index = _weighted_sides(r_sorted, s_sorted, threshold)

    alpha = F.col("_tw1").cast("double") * threshold - 1e-9
    pos_bound = (
        F.col("_wtok1") + F.least(F.col("_nxt1"), F.col("_nxt2"))
    ).cast("double")
    join_cond = (
        (F.col("_ptok1") == F.col("_ptok2"))
        & (F.col("_salt1") == F.col("_salt2"))
        & (F.col("_tw2").cast("double") >= alpha)
        & (pos_bound >= alpha)
    )
    if other is None:
        join_cond = join_cond & (F.col("id1") != F.col("id2"))
    if min_weight_ratio is not None:
        join_cond = join_cond & (
            F.col("_tw2").cast("double")
            >= F.col("_tw1") * F.lit(min_weight_ratio)
        )
    cands = (
        probe.join(index, join_cond)
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    v1 = r_sorted.select(
        F.col("_id").alias("id1"),
        F.col("_rks").alias("_rks1"),
        F.map_from_arrays("_rks", "_ws").alias("_wmap1"),
        F.col("_tw").alias("_vtw1"),
    )
    v2 = s_sorted.select(F.col("_id").alias("id2"), F.col("_rks").alias("_rks2"))
    shared_w = F.aggregate(
        F.transform(
            F.array_intersect(F.col("_rks1"), F.col("_rks2")),
            lambda k: F.element_at(F.col("_wmap1"), k),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = shared_w.cast("double") / F.col("_vtw1").cast("double")
    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


def _weighted_sides(
    r_sorted: DataFrame, s_sorted: DataFrame, rate: float
) -> tuple[DataFrame, DataFrame]:
    """Placed (probe, index) inputs of the weighted candidate joins.

    Probe rows: ``r_sorted``'s tokens whose suffix weight still reaches
    ``rate * _tw1`` (the weighted prefix), salted x``N_SALTS``, as
    (id1, _tw1, _ptok1, _wtok1, _nxt1, _salt1). Index rows: every token
    of ``s_sorted`` as (id2, _tw2, _ptok2, _nxt2, _salt2). ``_nxt`` is
    the weight after the token (its suffix weight minus its own)."""

    def tokens(rel: DataFrame) -> DataFrame:
        return rel.select(
            "_id", "_tw",
            F.posexplode(F.arrays_zip("_rks", "_ws", "_sfx")).alias("_p", "_z"),
        ).select(
            "_id", "_tw", "_z",
            F.col("_z._rks").alias("_ptok"),
            F.col("_z._ws").alias("_wtok"),
            (F.col("_z._sfx") - F.col("_z._ws")).alias("_nxt"),
        )

    alpha = F.col("_tw").cast("double") * rate - 1e-9
    probe = _placed_side(
        tokens(r_sorted).filter(F.col("_z._sfx").cast("double") >= alpha),
        _all_salts(), 1, ("_id", "_tw", "_ptok", "_wtok", "_nxt"),
    )
    index = _placed_side(
        tokens(s_sorted), _one_salt(), 2, ("_id", "_tw", "_ptok", "_nxt")
    )
    return probe, index


def build_token_dict(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    tokens_col: str | None = None,
    path: str | None = None,
) -> DataFrame:
    """Materialize the kernel's stage-1 token dictionary: the global
    rarest-first (_tok, _rank) relation for ``df``. Pass the result (or
    ``spark.read.parquet(path)``) to ``prepare(dictionary=...)`` to skip
    the per-query frequency pass — the catalog-table shape for a corpus
    that is joined repeatedly. The dictionary is only valid for the
    corpus (and tokenizer) it was built from.
    """
    rel = _tokenized(df, id_col, text_col, tokens_col)
    d = _rank_tokens(rel)
    if path is not None:
        d.write.mode("overwrite").parquet(path)
        d = df.sparkSession.read.parquet(path)
    return d


def weighted_jaccard_join(
    df: DataFrame | Prepared,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    tokens_col: str | None = None,
    persist: bool = True,
) -> DataFrame:
    """Rarity-WEIGHTED Jaccard self-join: ordered pairs (id1, id2) with
    ``sum w over shared tokens / sum w over the union >= threshold``,
    w(t) = N_docs - df(t) + 1 — the symmetric member of the weighted
    family (weighted containment is the asymmetric one). This is the
    tf-idf-flavored near-dup join IR dedup actually runs: two docs
    sharing their rare identifiers score high even when one has extra
    boilerplate the other lacks, and boilerplate-only overlap scores
    low.

    Filter algebra (all bounds lossless, derivation): write
    WJ = sw / (tw1 + tw2 - sw) with sw = shared weight. Orient pairs
    so (tw1, id1) < (tw2, id2) lexicographically. Then WJ >= t iff
    ``sw >= t/(1+t) * (tw1 + tw2)`` (rearrangement, sw on one side);
      - weighted LENGTH filter: sw <= tw1 (the lighter side bounds the
        intersection), so admissible partners satisfy
        ``tw2 <= tw1 / t``;
      - probe PREFIX: over admissible tw2 >= tw1 the required shared
        weight is minimized at tw2 = tw1, giving
        ``alpha_min = 2t/(1+t) * tw1`` — emit probe position p only
        while the rank-order suffix weight >= alpha_min (weighted
        pigeonhole; with unit weights this is the classic
        2t/(1+t)-prefix of PPJoin's self-join variant);
      - join-time POSITIONAL bound with the pair-exact
        ``alpha = t/(1+t) * (tw1 + tw2)``:
        ``w(tok) + min(sfx1(p1+1), sfx2(p2+1)) >= alpha``;
      - exact verify: integer sw over the rank intersection,
        ``sw / (tw1 + tw2 - sw) >= t`` (one double division — both
        engines compute the identical ratio of exact integers).

    The index side (the heavier doc) emits ALL tokens with suffix
    weights — same probe-prefix x full-index shape, salting,
    ``partitions.hash_placed`` placement and broadcast dictionary as
    ``weighted_containment_join``; rarest-first ranks keep probe
    prefixes on rare tokens, which is what bounds the candidate space
    at 100 TB. ``df`` is raw or a weighted :class:`Prepared`, as for
    ``weighted_containment_join``.
    """
    r_sorted, _ = _sides(
        df, None, True,
        id_col=id_col, text_col=text_col, tokens_col=tokens_col, persist=persist,
    )
    tt = threshold / (1.0 + threshold)
    probe, index = _weighted_sides(r_sorted, r_sorted, 2.0 * tt)

    alpha = (
        (F.col("_tw1") + F.col("_tw2")).cast("double") * F.lit(tt) - 1e-9
    )
    orient = (F.col("_tw1") < F.col("_tw2")) | (
        (F.col("_tw1") == F.col("_tw2")) & (F.col("id1") < F.col("id2"))
    )
    pos_bound = (
        F.col("_wtok1") + F.least(F.col("_nxt1"), F.col("_nxt2"))
    ).cast("double")
    join_cond = (
        (F.col("_ptok1") == F.col("_ptok2"))
        & (F.col("_salt1") == F.col("_salt2"))
        & orient
        & (F.col("_tw2").cast("double") <= F.col("_tw1") / F.lit(threshold) + 1e-9)
        & (pos_bound >= alpha)
    )
    cands = (
        probe.join(index, join_cond)
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )
    v1 = r_sorted.select(
        F.col("_id").alias("id1"),
        F.col("_rks").alias("_rks1"),
        F.map_from_arrays("_rks", "_ws").alias("_wmap1"),
        F.col("_tw").alias("_vtw1"),
    )
    v2 = r_sorted.select(F.col("_id").alias("id2"), F.col("_tw").alias("_vtw2"),
                         F.col("_rks").alias("_rks2"))
    shared_w = F.aggregate(
        F.transform(
            F.array_intersect(F.col("_rks1"), F.col("_rks2")),
            lambda k: F.element_at(F.col("_wmap1"), k),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = shared_w.cast("double") / (
        F.col("_vtw1") + F.col("_vtw2") - shared_w
    ).cast("double")
    return (
        cands.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )
