"""Property + regression tests for the similarity-join kernel
(SURVEY §5.4): measure axioms, threshold monotonicity, prefix-filter
losslessness vs the naive inverted-index path, empty-set handling, and
the FIXTURES.md regression anchors."""

from __future__ import annotations

import math
import random
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.similarity import (
    Prepared,
    containment_join,
    naive_similarity_join,
    prepare,
    similarity_join,
    tokenize,
    weighted_containment_join,
    weighted_jaccard_join,
)
from hive_similarity_join_spark.sources.loader import load_table
from tests.conftest import SF_SMOKE, final_plan_nodes, jobs_launched, plan_children

VOCAB = ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j"]
KERNELS = [similarity_join, containment_join, weighted_containment_join,
           weighted_jaccard_join]


def _random_docs(seed: int, n: int = 60):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = rng.randint(0, 8)
        rows.append(Row(id=i, text=" ".join(rng.choices(VOCAB, k=k))))
    return rows


def _pairs(df):
    return {(r.id1, r.id2, round(r.sim, 12)) for r in df.collect()}


def test_flagship_regression_anchor(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = similarity_join(docs, "doc_id", "text", threshold=0.8)
    assert out.count() == 32191  # FIXTURES.md validated anchor


@pytest.mark.parametrize("measure", ["jaccard", "dice", "cosine"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_prefix_filter_lossless(spark, measure, seed):
    """Prefix+length filtering must be exactly lossless vs brute force."""
    df = spark.createDataFrame(_random_docs(seed))
    t = 0.6
    fast = similarity_join(df, "id", "text", threshold=t, measure=measure)
    slow = naive_similarity_join(df, "id", "text", threshold=t, measure=measure)
    assert _pairs(fast) == _pairs(slow)


def test_threshold_monotonicity(spark):
    df = spark.createDataFrame(_random_docs(7, n=80))
    lo = _pairs(similarity_join(df, "id", "text", threshold=0.5))
    hi = _pairs(similarity_join(df, "id", "text", threshold=0.8))
    assert {(a, b) for a, b, _ in hi} <= {(a, b) for a, b, _ in lo}


def test_self_similarity_and_bounds(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="x y z"), Row(id=2, text="x y z"), Row(id=3, text="x q")]
    )
    out = {(r.id1, r.id2): r.sim for r in
           similarity_join(df, "id", "text", threshold=0.1).collect()}
    assert out[(1, 2)] == 1.0  # identical token sets
    for sim in out.values():
        assert 0.0 <= sim <= 1.0


def test_empty_token_sets_excluded(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="   "), Row(id=2, text=""), Row(id=3, text="a b")]
    )
    out = similarity_join(df, "id", "text", threshold=0.1)
    assert out.count() == 0  # empty docs never pair (documented exclusion)


def test_rs_join_matches_filtered_self_join(spark):
    df = spark.createDataFrame(_random_docs(11, n=50))
    left = df.filter(F.col("id") < 25)
    right = df.filter(F.col("id") >= 25)
    rs = similarity_join(left, "id", "text", threshold=0.6, other=right)
    full = similarity_join(df, "id", "text", threshold=0.6)
    expect = {(a, b, s) for a, b, s in _pairs(full) if a < 25 <= b}
    assert {(a, b, s) for a, b, s in _pairs(rs)} == expect


def test_tokenize_set_semantics(spark):
    df = spark.createDataFrame([Row(text="A  a b B   b")])
    toks = df.select(tokenize("text").alias("t")).collect()[0].t
    assert sorted(toks) == ["a", "b"]


def test_overlap_measure(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="a b c d"), Row(id=2, text="a b c e"), Row(id=3, text="a z")]
    )
    out = {(r.id1, r.id2): r.sim for r in
           similarity_join(df, "id", "text", threshold=3, measure="overlap").collect()}
    assert out == {(1, 2): 3.0}


def test_bag_jaccard_matches_bruteforce_and_bounds(spark):
    """Bag-length filter is lossless: the filtered join must equal a
    no-filter all-shared-token-pairs reference; sims sit in (0, 1] and
    bag sim <= 1 with repeated-token docs handled."""
    from hive_similarity_join_spark.operators.similarity import bag_jaccard_join

    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    got = {
        (r.id1, r.id2): r.sim for r in bag_jaccard_join(docs, "doc_id", "text", 0.5).collect()
    }
    raw = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    tc = (
        docs.select(F.col("doc_id").alias("_id"), F.explode(raw).alias("_tok"))
        .groupBy("_id", "_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    sz = tc.groupBy("_id").agg(F.sum("_c").alias("_n"))
    a = tc.select(F.col("_id").alias("id1"), "_tok", F.col("_c").alias("c1"))
    b = tc.select(F.col("_id").alias("id2"), F.col("_tok").alias("_tok2"), F.col("_c").alias("c2"))
    inter = (
        a.join(b, (F.col("_tok") == F.col("_tok2")) & (F.col("id1") < F.col("id2")))
        .groupBy("id1", "id2")
        .agg(F.sum(F.least("c1", "c2")).alias("i"))
    )
    s1 = sz.select(F.col("_id").alias("id1"), F.col("_n").alias("n1"))
    s2 = sz.select(F.col("_id").alias("id2"), F.col("_n").alias("n2"))
    sim = F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i"))
    want = {
        (r.id1, r.id2): r.sim
        for r in inter.join(s1, "id1").join(s2, "id2")
        .select("id1", "id2", sim.alias("sim"))
        .filter(F.col("sim") >= 0.5)
        .collect()
    }
    assert got == want and got
    assert all(0 < s <= 1 for s in got.values())


def test_prebuilt_token_dict_matches_inline(spark, tmp_path):
    """A kernel over prepare(dictionary=...) must reproduce the inline
    stage-1 results exactly, both from a live DataFrame and from the
    parquet-materialized catalog shape."""
    import shutil
    from pathlib import Path

    from hive_similarity_join_spark.operators.similarity import build_token_dict

    repo_tmp = Path(__file__).resolve().parent / "_dict_tmp"
    repo_tmp.mkdir(exist_ok=True)
    path = str(repo_tmp / "token_dict")
    try:
        docs = load_table(spark, SF_SMOKE, "documents")
        want = sorted(
            (r.id1, r.id2, r.sim)
            for r in similarity_join(docs, "doc_id", "text", 0.8).collect()
        )
        d_live = build_token_dict(docs, "doc_id", "text")
        got_live = sorted(
            (r.id1, r.id2, r.sim)
            for r in similarity_join(
                prepare(docs, "doc_id", "text", dictionary=d_live), threshold=0.8
            ).collect()
        )
        build_token_dict(docs, "doc_id", "text", path=path)
        d_disk = spark.read.parquet(path)
        got_disk = sorted(
            (r.id1, r.id2, r.sim)
            for r in similarity_join(
                prepare(docs, "doc_id", "text", dictionary=d_disk), threshold=0.8
            ).collect()
        )
        assert got_live == want and got_disk == want and want
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ------------------------------------------------- containment join

def _brute_containment(rows, t, ratio=None):
    """Pure-Python reference (independent of Spark) for containment_join."""
    sets = {r.id: set(r.text.lower().split()) for r in rows}
    out = set()
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b or not sb:
                continue
            i = len(sa & sb)
            if i / len(sa) >= t and (ratio is None or len(sb) >= ratio * len(sa)):
                out.add((a, b, round(i / len(sa), 12)))
    return out


@pytest.mark.parametrize("seed,ratio", [(11, None), (12, None), (13, 2.0)])
def test_containment_lossless_vs_brute_force(spark, seed, ratio):
    """The probe-prefix x full-index scheme (and the size-ratio
    predicate) must be exactly lossless vs a pure-Python brute force."""
    from hive_similarity_join_spark.operators.similarity import containment_join

    rows = _random_docs(seed, n=60)
    df = spark.createDataFrame(rows)
    t = 0.7
    fast = containment_join(df, "id", "text", threshold=t, min_size_ratio=ratio)
    got = {(r.id1, r.id2, round(r.sim, 12)) for r in fast.collect()}
    assert got == _brute_containment(rows, t, ratio)


def test_containment_size_ratio_pairs_invisible_to_jaccard(spark):
    """With min_size_ratio=2 every returned pair has Jaccard <= 0.5 —
    the operator's reason to exist (the symmetric kernel at t=0.8
    cannot return any of these pairs)."""
    from hive_similarity_join_spark.operators.similarity import containment_join

    rows = _random_docs(21, n=80)
    df = spark.createDataFrame(rows)
    sets = {r.id: set(r.text.lower().split()) for r in rows}
    out = containment_join(df, "id", "text", threshold=0.7, min_size_ratio=2.0)
    for r in out.collect():
        sa, sb = sets[r.id1], sets[r.id2]
        jac = len(sa & sb) / len(sa | sb)
        assert jac <= 0.5 + 1e-12
        assert len(sb) >= 2 * len(sa)


def _brute_weighted_containment(rows, t, ratio=None):
    """Pure-Python reference for weighted_containment_join: rarity
    weights w = N - df + 1 over docs with non-empty token sets."""
    from collections import Counter

    sets = {}
    for r in rows:
        s = set(r.text.lower().split())
        if s:
            sets[r.id] = s
    dfc = Counter(t for s in sets.values() for t in s)
    n = len(sets)
    w = {tok: n - c + 1 for tok, c in dfc.items()}
    tw = {a: sum(w[t] for t in sa) for a, sa in sets.items()}
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            sw = sum(w[t] for t in sa & sb)
            if sw / tw[a] >= t and (ratio is None or tw[b] >= ratio * tw[a]):
                out.add((a, b, round(sw / tw[a], 12)))
    return out


@pytest.mark.parametrize("seed,ratio", [(31, None), (32, 2.0)])
def test_weighted_containment_lossless_vs_brute_force(spark, seed, ratio):
    """Weighted prefix (suffix-weight pigeonhole) + weighted positional
    bound must be exactly lossless vs a pure-Python brute force."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_containment_join,
    )

    rows = _random_docs(seed, n=60)
    df = spark.createDataFrame(rows)
    t = 0.7
    fast = weighted_containment_join(
        df, "id", "text", threshold=t, min_weight_ratio=ratio
    )
    got = {(r.id1, r.id2, round(r.sim, 12)) for r in fast.collect()}
    assert got == _brute_weighted_containment(rows, t, ratio)


def test_weighted_containment_long_documents_linear(spark):
    """Suffix weights are a linear window sum (VERDICT r5 item 3): a
    corpus with 1k+-token documents must complete in bounded time (the
    earlier transform-of-aggregates form was O(n^2) additions per doc —
    ~1.4M for a 1200-token doc, vs 1200 now) and stay exactly lossless
    vs brute force, planted containment pairs included."""
    import random

    from hive_similarity_join_spark.operators.similarity import (
        weighted_containment_join,
    )

    rng = random.Random(41)
    vocab = [f"tok{i}" for i in range(3000)]
    rows = []
    for i in range(8):
        rows.append(Row(id=i, text=" ".join(rng.sample(vocab, 1200))))
    # Planted: id=100 fully contained in id=0; id=101 contained in id=1
    # minus a little noise (sim just under 1).
    base0 = rows[0].text.split()
    base1 = rows[1].text.split()
    rows.append(Row(id=100, text=" ".join(base0[:400])))
    rows.append(Row(id=101, text=" ".join(base1[:390] + ["tok2999x"] * 1)))
    df = spark.createDataFrame(rows)
    t = 0.8
    got = {
        (r.id1, r.id2, round(r.sim, 12))
        for r in weighted_containment_join(df, "id", "text", threshold=t).collect()
    }
    assert got == _brute_weighted_containment(rows, t)
    assert any(p[:2] == (100, 0) for p in got)


def test_weighted_reduces_to_unweighted_when_weights_equal(spark):
    """With every token at the same document frequency, rarity weights
    are uniform and weighted containment must equal set containment."""
    from hive_similarity_join_spark.operators.similarity import (
        containment_join,
        weighted_containment_join,
    )

    # 4 docs over disjoint-frequency-free vocab: every token in exactly 2 docs
    rows = [
        Row(id=1, text="a b c d"),
        Row(id=2, text="a b c d e f g h"),
        Row(id=3, text="e f g h"),
        Row(id=4, text="x y"),
        Row(id=5, text="x y"),
    ]
    df = spark.createDataFrame(rows)
    wq = {(r.id1, r.id2, round(r.sim, 12))
          for r in weighted_containment_join(df, "id", "text", threshold=0.5).collect()}
    uq = {(r.id1, r.id2, round(r.sim, 12))
          for r in containment_join(df, "id", "text", threshold=0.5).collect()}
    assert wq == uq


def _brute_weighted_containment_rs(l_rows, r_rows, t):
    """Pure-Python reference for the R-S weighted containment: one
    global rarity scale over both relations."""
    from collections import Counter

    def sets_of(rows):
        out = {}
        for r in rows:
            s = set(r.text.lower().split())
            if s:
                out[r.id] = s
        return out

    ls, rs = sets_of(l_rows), sets_of(r_rows)
    dfc = Counter(t_ for s in list(ls.values()) + list(rs.values()) for t_ in s)
    n = len(ls) + len(rs)
    w = {tok: n - c + 1 for tok, c in dfc.items()}
    out = set()
    for a, sa in ls.items():
        twa = sum(w[t_] for t_ in sa)
        for b, sb in rs.items():
            sw = sum(w[t_] for t_ in sa & sb)
            if sw / twa >= t:
                out.add((a, b, round(sw / twa, 12)))
    return out


def test_weighted_containment_rs_lossless_vs_brute_force(spark):
    """R-S weighted containment (batch probes x corpus index, one
    global rarity scale over both relations) must be exactly lossless
    vs brute force — including batch/corpus docs sharing ids."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_containment_join,
    )

    rows = _random_docs(37, n=70)
    l_rows, r_rows = rows[:30], rows[30:]
    # plant one exact containment across the relations
    l_rows = l_rows + [Row(id=900, text=" ".join(r_rows[0].text.split()[:5]))]
    lf = spark.createDataFrame(l_rows)
    rf = spark.createDataFrame(r_rows)
    t = 0.7
    got = {
        (r.id1, r.id2, round(r.sim, 12))
        for r in weighted_containment_join(
            lf, "id", "text", threshold=t, other=rf
        ).collect()
    }
    assert got == _brute_weighted_containment_rs(l_rows, r_rows, t)
    assert any(p[0] == 900 for p in got)


def test_containment_rs_lossless_vs_brute_force(spark):
    """R-S containment (probe batch x corpus index, dictionary over
    both relations) must equal the pure-Python brute force."""
    from hive_similarity_join_spark.operators.similarity import containment_join

    rows = _random_docs(41, n=80)
    batch = [r for r in rows if r.id % 3 == 0]
    corpus = [r for r in rows if r.id % 3 != 0]
    t = 0.7
    out = containment_join(
        spark.createDataFrame(batch), "id", "text", threshold=t,
        other=spark.createDataFrame(corpus),
    )
    got = {(r.id1, r.id2, round(r.sim, 12)) for r in out.collect()}
    bsets = {r.id: set(r.text.lower().split()) for r in batch}
    csets = {r.id: set(r.text.lower().split()) for r in corpus}
    want = set()
    for a, sa in bsets.items():
        if not sa:
            continue
        for b, sb in csets.items():
            if not sb:
                continue
            i = len(sa & sb)
            if i / len(sa) >= t:
                want.add((a, b, round(i / len(sa), 12)))
    assert got == want


def _brute_weighted_jaccard(rows, t):
    """Pure-Python reference for weighted_jaccard_join: rarity weights,
    pairs oriented by (total weight, id) lexicographic order."""
    from collections import Counter

    sets = {}
    for r in rows:
        s = set(r.text.lower().split())
        if s:
            sets[r.id] = s
    dfc = Counter(t_ for s in sets.values() for t_ in s)
    n = len(sets)
    w = {tok: n - c + 1 for tok, c in dfc.items()}
    tw = {a: sum(w[t_] for t_ in sa) for a, sa in sets.items()}
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if (tw[a], a) >= (tw[b], b):
                continue
            sw = sum(w[t_] for t_ in sa & sb)
            sim = sw / (tw[a] + tw[b] - sw)
            if sim >= t:
                out.add((a, b, round(sim, 12)))
    return out


@pytest.mark.parametrize("seed,t", [(51, 0.5), (52, 0.7)])
def test_weighted_jaccard_lossless_vs_brute_force(spark, seed, t):
    """Weighted 2t/(1+t)-prefix + weighted length filter + pair-exact
    positional bound must be exactly lossless vs brute force."""
    from hive_similarity_join_spark.operators.similarity import (
        weighted_jaccard_join,
    )

    rows = _random_docs(seed, n=60)
    got = {
        (r.id1, r.id2, round(r.sim, 12))
        for r in weighted_jaccard_join(
            spark.createDataFrame(rows), "id", "text", threshold=t
        ).collect()
    }
    assert got == _brute_weighted_jaccard(rows, t)


def test_weighted_jaccard_reduces_to_unweighted_on_uniform_weights(spark):
    """Every token at the same document frequency -> uniform weights ->
    weighted Jaccard must equal plain set Jaccard (modulo the (tw, id)
    vs plain id pair orientation, identical under uniform weights
    ordered by size)."""
    from hive_similarity_join_spark.operators.similarity import (
        similarity_join,
        weighted_jaccard_join,
    )

    rows = [
        Row(id=1, text="a b c d"),
        Row(id=2, text="a b c d e f g h"),
        Row(id=3, text="e f g h"),
        Row(id=4, text="x y"),
        Row(id=5, text="x y"),
    ]
    df = spark.createDataFrame(rows)
    wq = {(frozenset((r.id1, r.id2)), round(r.sim, 12))
          for r in weighted_jaccard_join(df, "id", "text", threshold=0.4).collect()}
    uq = {(frozenset((r.id1, r.id2)), round(r.sim, 12))
          for r in similarity_join(df, "id", "text", threshold=0.4).collect()}
    assert wq == uq


@pytest.mark.parametrize("join", KERNELS)
def test_rs_call_without_other_sorted_rel_raises(spark, join):
    """A kernel takes both sides raw or both prepared, of its own
    flavour, and raises ``ValueError`` otherwise: a raw side next to a
    ``Prepared`` one (either way round) would be ranked by another
    dictionary — an R-S call with only R prepared used to self-join R
    silently — and a ``Prepared`` of the other flavour is refused up
    front (a rank-sorted relation in a weighted kernel used to fail
    late, with an ``AnalysisException`` on the missing weights)."""
    docs = spark.createDataFrame(_random_docs(61, n=10))
    weighted = join in (weighted_containment_join, weighted_jaccard_join)
    rel = spark.createDataFrame(
        [(0, [1, 2], 2)], "_id long, _rks array<int>, _n int"
    )
    calls = [lambda: join(Prepared(rel, not weighted))]
    if join is not weighted_jaccard_join:  # the one self-join-only kernel
        side = Prepared(rel, weighted)
        calls += [
            lambda: join(docs, "id", "text", other=side),
            lambda: join(side, other=docs),
        ]
    for call in calls:
        with pytest.raises(ValueError, match="Prepared"):
            call()


@pytest.mark.parametrize(
    "join,t",
    [(similarity_join, 0.5), (containment_join, 0.8),
     (weighted_containment_join, 0.8)],
)
def test_prepared_slices_match_raw_rs_call(spark, join, t):
    """Over ``prepare(corpus).slice(left)`` / ``.slice(right)`` an R-S
    kernel returns exactly the rows of the raw R-S call: the smoke
    corpus split by source partitions the corpus, so the corpus
    dictionary (and, weighted, its rarity scale) is the one the raw call
    builds over both sides."""
    docs = load_table(spark, SF_SMOKE, "documents")
    left = docs.filter(F.col("source") < "src5")
    right = docs.filter(F.col("source") >= "src5")
    weighted = join is weighted_containment_join
    corpus = prepare(docs, "doc_id", "text", weighted=weighted, persist=False)
    want = sorted(join(left, "doc_id", "text", threshold=t, other=right).collect())
    got = sorted(
        join(
            corpus.slice(left.select("doc_id")), threshold=t,
            other=corpus.slice(right.select("doc_id")),
        ).collect()
    )
    assert got == want and want


@pytest.mark.parametrize("t", [0.0, -0.5, math.nan], ids=["zero", "negative", "nan"])
@pytest.mark.parametrize("join", KERNELS)
def test_nonpositive_threshold_raises_before_any_job(spark, join, t):
    """At threshold 0 every pair qualifies, but candidates only come
    from shared prefix tokens, so the kernel would silently drop every
    pair that shares nothing. A threshold <= 0 or NaN raises
    ``ValueError`` before the sides are prepared (preparation runs the
    dictionary's rank jobs)."""
    docs = spark.createDataFrame(_random_docs(71, n=10))

    def call():
        with pytest.raises(ValueError, match="threshold"):
            join(docs, "id", "text", threshold=t)

    _, jobs = jobs_launched(spark, f"bad_threshold_{join.__name__}_{t}", call)
    assert jobs == 0


def _path_to(node, hit):
    """Nodes from ``node`` down to the first node ``hit`` accepts."""
    if hit(node):
        return [node]
    for child in plan_children(node):
        path = _path_to(child, hit)
        if path:
            return [node, *path]
    return None


_PASS_THROUGH = ("Project", "Exchange", "AQEShuffleRead", "ShuffleQueryStage",
                 "InputAdapter", "WholeStageCodegen")
_DEDUPE = re.compile(r"HashAggregate\(keys=\[id1#\d+L?, id2#\d+L?\], functions=\[\]\)")


@pytest.mark.parametrize(
    "join,t,rs",
    [
        pytest.param(similarity_join, 0.8, False, id="similarity_join-self"),
        pytest.param(similarity_join, 0.6, True, id="similarity_join-rs"),
        pytest.param(containment_join, 0.9, False, id="containment_join-self"),
        pytest.param(containment_join, 0.6, True, id="containment_join-rs"),
        pytest.param(weighted_containment_join, 0.9, False,
                     id="weighted_containment_join-self"),
        pytest.param(weighted_containment_join, 0.6, True,
                     id="weighted_containment_join-rs"),
        pytest.param(weighted_jaccard_join, 0.5, False, id="weighted_jaccard_join-self"),
    ],
)
def test_candidate_join_feeds_one_dedupe_then_verify(spark, join, t, rs):
    """Every kernel ends in the same candidate-and-verify step: in the
    executed plan, the candidate join on ``_ptok1`` feeds the one
    (id1, id2) dedupe aggregate with no aggregate functions (planned as
    a partial/final pair), no other aggregate follows it, and the
    ``array_intersect`` verify sits above it."""
    docs = load_table(spark, SF_SMOKE, "documents")
    if rs:
        out = join(
            docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", threshold=t,
            other=docs.filter(F.col("doc_id") % 2 == 1),
        )
    else:
        out = join(docs, "doc_id", "text", threshold=t)
    assert out.collect()
    root = out._jdf.queryExecution().executedPlan()
    cand = [
        n for n in final_plan_nodes(root)
        if n.nodeName().endswith("Join") and "_ptok1" in n.simpleString(25)
    ]
    assert len(cand) == 1
    path = _path_to(root, lambda n: n.equals(cand[0]))
    above = [n.simpleString(25) for n in reversed(path[:-1])]
    verify = next(i for i, d in enumerate(above) if "array_intersect" in d)
    fed = next(d for d in above if not d.startswith(_PASS_THROUGH))
    aggs = [d for d in above[:verify] if "Aggregate" in d.split("(")[0]]
    assert _DEDUPE.fullmatch(fed), fed
    assert len(aggs) == 2 and all(_DEDUPE.fullmatch(d) for d in aggs), aggs
