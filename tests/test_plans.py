"""Plan-property tests: the scale contract, asserted on explain output.

A correct result with the wrong plan is a 100 TB incident — these lock
in pushdown, pruning, broadcast placement, top-k planning, explicit
candidate-join parallelism, and Python-free hot paths.
"""

from __future__ import annotations

from hive_similarity_join_spark.plans.inspect import (
    assert_in_plan,
    explain_str,
    low_cardinality_window_violations,
    unpartitioned_window_violations,
)
from hive_similarity_join_spark.registry import QUERIES, load_registry
from tests.conftest import SF_SMOKE

load_registry()


def _q(name, spark):
    return QUERIES[name](spark, SF_SMOKE)


def test_filter_pushdown_reaches_scan(spark):
    plan = explain_str(_q("q_filter_pred", spark))
    assert "PushedFilters:" in plan
    # the OR-of-ANDs predicate is partially pushable; at minimum the
    # scan must not read with an empty pushdown while a Filter exists
    assert "Or(" in plan or "In(l_returnflag" in plan or "GreaterThan" in plan


def test_column_pruning(spark):
    plan = explain_str(_q("q_scan_project", spark))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    line = read[0]
    assert "l_orderkey" in line and "l_shipdate" in line
    assert "l_extendedprice" not in line  # unprojected column not read


def test_broadcast_join_planned(spark):
    assert_in_plan(_q("q_join_broadcast", spark), "BroadcastHashJoin")


def test_orderby_limit_is_topk(spark):
    assert_in_plan(_q("q_orderby_limit", spark), "TakeOrderedAndProject")


def test_flagship_plan_properties(spark):
    plan = explain_str(_q("q_simjoin_jaccard_self", spark))
    # no Python in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # token dictionary broadcast somewhere in the pipeline
    assert "BroadcastHashJoin" in plan
    # the explicit salted repartition survives into the physical plan
    # (user-specified numPartitions => exempt from AQE coalescing).
    # At smoke scale Catalyst may legally broadcast the candidate join
    # (file stats < threshold); the partition-count pin is what we own.
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "_salt" in plan


def test_semi_anti_plans(spark):
    assert_in_plan(_q("q_join_semi", spark), "LeftSemi")
    assert_in_plan(_q("q_join_anti", spark), "LeftAnti")


def test_vector_ops_udf_free(spark):
    for key in ("q_vec_cosine", "q_vec_knn", "q_vec_centroid"):
        plan = explain_str(_q(key, spark))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, key


def test_partial_aggregation_before_shuffle(spark):
    # hash agg appears twice (partial + final) around one exchange
    plan = explain_str(_q("q_agg_groupby", spark))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_tpch_q6_predicates_push_to_scan(spark):
    plan = explain_str(_q("q_tpch_q6", spark))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    # all three predicate families reach the parquet reader
    assert "l_shipdate" in line and "l_discount" in line and "l_quantity" in line


def test_tpch_q3_is_topk_with_partial_agg(spark):
    plan = explain_str(_q("q_tpch_q3", spark))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_tpch_dimension_joins_broadcast(spark):
    # dims (nation/region/customer at smoke scale) broadcast; the fact
    # side must never be the built side
    for key in ("q_tpch_q5", "q_tpch_q10"):
        plan = explain_str(_q(key, spark))
        assert "BroadcastHashJoin" in plan, key
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, key


def test_edit_join_has_no_nested_loop(spark):
    """Symmetric-deletion candidates must plan as a hash/merge equi-join
    — a BroadcastNestedLoopJoin would mean the quadratic loop is back."""
    plan = explain_str(_q("q_simjoin_edit_scalable", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # exact verify present


def test_asof_join_is_pure_window(spark):
    """The as-of join must contain NO join operator at all: one window
    sort per user carries the last click forward."""
    plan = explain_str(_q("q_join_asof", spark))
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "Window" in plan


def test_range_join_is_equi_blocked(spark):
    """The interval self-join must ride the (user, bucket) equi keys —
    no nested loop; the exact interval predicate is a post-join filter."""
    plan = explain_str(_q("q_join_range", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_python_eval_in_any_non_multimodal_plan(spark):
    """Suite-wide 100 TB audit: NO registered query may contain a Python
    evaluation node — row-at-a-time (BatchEvalPython) anywhere, and
    Arrow-batched (ArrowEvalPython/MapInPandas/FlatMapGroupsInPandas)
    only in the multimodal keys, whose Pandas decode path is the
    documented exception (media codecs are genuinely Python)."""
    arrow_ok = {k for k in QUERIES if k.startswith("q_multimodal")}
    # udx keys exercise the registered Python UDTF/UDAF surface on
    # purpose — they demonstrate the escape hatch, not a hot path
    arrow_ok |= {k for k in QUERIES if "udtf" in k or "udaf" in k}
    offenders = {}
    for key in sorted(QUERIES):
        plan = explain_str(QUERIES[key](spark, SF_SMOKE))
        if "BatchEvalPython" in plan and key not in arrow_ok:
            offenders.setdefault(key, []).append("BatchEvalPython")
        elif key not in arrow_ok and any(
            n in plan for n in ("ArrowEvalPython", "MapInPandas",
                                "FlatMapGroupsInPandas")
        ):
            offenders.setdefault(key, []).append("Arrow/Pandas node")
        # Second suite-wide scale gate in the same pass: a NON-broadcast
        # cartesian product is the 100 TB killer no operator may plan —
        # the only sanctioned unkeyed joins are broadcast nested loops
        # (1-row scalar relations, theta joins against broadcast sides).
        if "CartesianProduct" in plan:
            offenders.setdefault(key, []).append("CartesianProduct")
        # Third suite-wide scale gate (r6 verdict item 3): a global
        # row_number/rank with no PARTITION BY serializes the whole
        # relation through one task unless the input is already
        # limit-bounded (the sanctioned limit-then-rank shape).
        viols = unpartitioned_window_violations(plan)
        if viols:
            # extend, don't assign — a key violating several gates must
            # report ALL of them (ADVICE r10: assignment here shadowed
            # an earlier gate's message for the same key)
            offenders.setdefault(key, []).extend(viols)
        # Fourth suite-wide scale gate (r9 verdict item 3): a window
        # over the RAW fact table partitioned only by a handful-of-
        # values column is the same serial sort split across ~5 tasks.
        # Rank-expressible keys use the two-pass ranked_by
        # (q_win_percentiles, q_report_ship_latency,
        # q_docs_length_percentiles); running aggregates use the
        # two-pass grouped_prefix_scan (q_agg_weighted_median,
        # q_pack_sequences, q_events_cusum). The sole allowlisted key
        # is the time-RANGE rolling window, whose frame is a sliding
        # interval, not a prefix — not an associative scan; its
        # docstring documents the per-(type,day) pre-aggregation that
        # bounds partition width at 100 TB.
        lviols = low_cardinality_window_violations(plan)
        if lviols and key != "q_events_rolling":
            offenders.setdefault(key, []).extend(lviols)
    assert not offenders, f"scale-killers leaked into plans: {offenders}"


def test_no_array_or_map_output_on_oracle_checked_keys(spark):
    """Suite-wide driver-contract gate: the driver's canonicalizer
    pandas-sorts result cells and CANNOT hash array/map values
    (TypeError: unhashable type) — r1 q_agg_collect and r7
    q_text_encode both shipped ArrayType output and errored at the
    driver. Every oracle-checked key must serialize nested sequences
    to strings (the array_join rule, relational_q.py). Struct columns
    would fail the same way; forbid all three."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from hive_similarity_join_spark.registry import ORACLES

    offenders = {}
    for key in sorted(ORACLES):
        schema = QUERIES[key](spark, SF_SMOKE).schema
        bad = [
            f.name for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[key] = bad
    assert not offenders, (
        f"oracle-checked keys return driver-unhashable columns: {offenders}"
    )


def test_sketch_and_bloom_keys_broadcast_their_small_sides(spark):
    """The round-7 sketch/screen keys must keep their structural scale
    properties: CMS probes and Bloom bit-sets broadcast (never shuffle
    the corpus side on sketch keys), top-k plans as
    TakeOrderedAndProject, and the BPE trainer's 1-row merge relations
    join as broadcast nested loops — not CartesianProduct."""
    cms_plan = explain_str(_q("q_agg_cms_topk", spark))
    assert "BroadcastHashJoin" in cms_plan
    assert "TakeOrderedAndProject" in cms_plan
    bloom_plan = explain_str(_q("q_decontaminate_bloom", spark))
    assert "BroadcastHashJoin" in bloom_plan
    bpe_plan = explain_str(_q("q_bpe_merges", spark))
    assert "CartesianProduct" not in bpe_plan
    # r16: the key reads the session-memoized checkpointed chain, so
    # the 1-row-best broadcast property is asserted on the trainer
    # composition itself (the plan the chain's build executes).
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators import bpe
    from hive_similarity_join_spark.sources.loader import load_table

    wf = bpe.word_freqs(load_table(spark, SF_SMOKE, "documents"),
                        TX.bag_tokens("text"))
    chain_plan = explain_str(bpe.apply_merge(wf, bpe.best_pair(wf)))
    assert "CartesianProduct" not in chain_plan
    assert "BroadcastNestedLoopJoin" in chain_plan  # the 1-row best pair
    # r17 (VERDICT r16 item 2): the per-round trainer compositions are
    # the one generator surface the session_ckpt runtime gate cannot
    # inspect (each round checkpoints eagerly inside the build), so the
    # WordPiece round composition gets the same plan gate here as BPE's.
    from hive_similarity_join_spark.operators import wordpiece as WP

    wp_round_plan = explain_str(
        bpe.apply_merge(wf, WP.best_scored_pair(wf))
    )
    assert "CartesianProduct" not in wp_round_plan
    assert "BatchEvalPython" not in wp_round_plan
    assert "ArrowEvalPython" not in wp_round_plan


def test_unpartitioned_window_detector_fixtures():
    """The detector itself: flags a global window over an unlimited
    input, clears the limit-then-rank shape, clears partitioned windows
    (including the ambiguous two-group partitioned-unordered form that
    q_win_agg plans)."""
    bad = """\
AdaptiveSparkPlan (4)
+- Window (3)
   +- Sort (2)
      +- Scan parquet  (1)

(3) Window
Arguments: [row_number() windowspecdefinition(c#9L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _we0#16], [c#9L ASC NULLS FIRST]
"""
    assert unpartitioned_window_violations(bad) == [
        "Window(3) over unlimited input"
    ]
    limited = """\
AdaptiveSparkPlan (4)
+- Window (3)
   +- TakeOrderedAndProject (2)
      +- Scan parquet  (1)

(3) Window
Arguments: [row_number() windowspecdefinition(c#9L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS _we0#16], [c#9L ASC NULLS FIRST]
"""
    assert unpartitioned_window_violations(limited) == []
    part_unordered = """\
AdaptiveSparkPlan (3)
+- Window (2)
   +- Scan parquet  (1)

(2) Window
Arguments: [count(1) windowspecdefinition(component#1L, specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS _we0#2L], [component#1L]
"""
    assert unpartitioned_window_violations(part_unordered) == []
    part_ordered = """\
AdaptiveSparkPlan (3)
+- Window (2)
   +- Scan parquet  (1)

(2) Window
Arguments: [row_number() windowspecdefinition(g#1L, ts#2 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [g#1L], [ts#2 ASC NULLS FIRST]
"""
    assert unpartitioned_window_violations(part_ordered) == []


def test_no_raw_persist_outside_cache_contract():
    """Structural invariant (r9 VERDICT item #5): every ``.persist(``
    call site in the package goes through operators/cache.py — builder
    pins via pin()/release_pins, foreachBatch bodies via the
    batch_pinned scope. A raw persist in a future streaming mirror
    that forgets its unpersist would leak one cached relation PER
    MICRO-BATCH; this keeps the invariant mechanical, not reviewed."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "hive_similarity_join_spark"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "cache.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".persist(" in code and ".unpersist(" not in code:
                offenders.append(f"{path.name}:{i}: {line.strip()}")
    # dedup_q.py's DISK_ONLY docstring mention is prose, not a call
    offenders = [o for o in offenders if "``" not in o]
    assert not offenders, offenders


def test_batch_pinned_scope_unpersists_even_on_raise(spark):
    """batch_pinned: cached inside the block, released after — and
    released when the body raises (the structural improvement over the
    old persist/try/finally-by-convention)."""
    from hive_similarity_join_spark.operators.cache import batch_pinned

    df = spark.range(10)
    with batch_pinned(df) as pinned:
        assert pinned.storageLevel.useMemory
        pinned.count()
    assert not df.storageLevel.useMemory
    try:
        with batch_pinned(df):
            assert df.storageLevel.useMemory
            raise RuntimeError("sink write failed")
    except RuntimeError:
        pass
    assert not df.storageLevel.useMemory


def test_low_cardinality_window_detector_fixtures():
    """The r10 detector: flags a window over the raw fact partitioned
    only by a low-card column, clears the same spec when the mainline
    spine is aggregate-bounded, clears high-card partition columns, and
    ignores a low-card partition on a JOIN BRANCH aggregate (the
    broadcast side prints after the streamed spine)."""
    raw = """\
AdaptiveSparkPlan (4)
+- Window (3)
   +- Sort (2)
      +- Scan parquet  (1)

(3) Window
Arguments: [row_number() windowspecdefinition(event_type#5, value#7 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9], [event_type#5], [value#7 ASC NULLS FIRST]
"""
    assert low_cardinality_window_violations(raw) == [
        "Window(3) partitioned only by low-card [event_type]"
    ]
    agg_bounded = """\
AdaptiveSparkPlan (5)
+- Window (4)
   +- Sort (3)
      +- HashAggregate (2)
         +- Scan parquet  (1)

(4) Window
Arguments: [row_number() windowspecdefinition(event_type#5, hod#7 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9], [event_type#5], [hod#7 ASC NULLS FIRST]
"""
    assert low_cardinality_window_violations(agg_bounded) == []
    high_card = """\
AdaptiveSparkPlan (4)
+- Window (3)
   +- Sort (2)
      +- Scan parquet  (1)

(3) Window
Arguments: [row_number() windowspecdefinition(user_id#5L, ts#7 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9], [user_id#5L], [ts#7 ASC NULLS FIRST]
"""
    assert low_cardinality_window_violations(high_card) == []
    streamed_spine_agg = """\
AdaptiveSparkPlan (7)
+- Window (6)
   +- Sort (5)
      +- BroadcastHashJoin Inner BuildRight (4)
         :- HashAggregate (2)
         :  +- Scan parquet  (1)
         +- BroadcastExchange (3)

(6) Window
Arguments: [row_number() windowspecdefinition(event_type#5, m#7 ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#9], [event_type#5], [m#7 ASC NULLS FIRST]
"""
    assert low_cardinality_window_violations(streamed_spine_agg) == []


def _jobs_for(spark, key):
    sc = spark.sparkContext
    group = f"tripwire-{key}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[key](spark, SF_SMOKE).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.catalog.clearCache()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_heavy_key_job_count_tripwire(spark):
    """Structural regression guard for the iterative/heavy keys: the VM's
    wall-clock noise (2-10x between boots) makes timing-based detection
    useless, but the NUMBER of Spark jobs a key launches is a stable
    function of the plan + convergence rounds (AQE stage jobs included).
    Bound derivation: non-iterative keys get measured-at-smoke + ~25%
    headroom. The ITERATIVE keys additionally get an explicit allowance
    of EXTRA_BATCHES convergence batches at JOBS_PER_CC_BATCH jobs each
    (checkpoint + convergence count + occasional anti-join probe), so a
    round-boundary corpus whose pair graph legitimately needs a few more
    batches is NOT a false failure, while an unbatched probe loop, a
    lost checkpoint, or a de-broadcast dictionary (each tens of extra
    jobs) still trips the assert."""
    JOBS_PER_CC_BATCH = 3
    EXTRA_BATCHES = 3
    slack = JOBS_PER_CC_BATCH * EXTRA_BATCHES
    bounds = {
        "q_dedup_connected": 80 + slack,       # measured 69 @ probe_every=2
        "q_dedup_connected_star": 83 + slack,  # measured 72
        "q_dedup_minhash_lsh": 30,             # measured 21 (non-iterative)
        "q_pipeline_corpus_clean": 45,         # measured 33 (non-iterative)
        "q_dedup_representatives": 61 + slack,  # measured 53
        # round-8 heavy keys (VERDICT r8 item #3) — measured r9 start
        "q_graph_pagerank": 71 + slack,        # measured 62 (per-round:
        #   one edge-rank join + one partial agg + lazy localCheckpoint)
        "q_dedup_cluster_sizes": 62 + slack,   # measured 54 (CC-based)
        "q_vec_kmeans": 20 + slack,            # measured 17 (Lloyd rounds)
        "q_graph_triangles": 35,               # measured 28 (non-iterative)
        "q_dedup_substring": 9,                # measured 7 (non-iterative)
        # round-9 heavy keys (pair-graph consumers) — measured r9
        "q_docs_dup_matrix": 50,               # measured 40 (non-iterative)
        "q_dedup_lsh_recall": 74,              # measured 59 (non-iterative)
        "q_graph_degree_dist": 40,             # measured 32 (pinned pairs)
        # round-10 additions (VERDICT r9 item #4): the Lloyd-kmeans IVF
        # composition and its audit keys — a lost pin or de-broadcast
        # centroid relation turns each Lloyd round into tens of jobs
        "q_vec_knn_ivf_kmeans": 26 + slack,    # measured 21 (Lloyd rounds)
        "q_vec_recall_curve": 28 + slack,      # measured 22 (Lloyd + sweep)
        "q_vec_ivf_balance": 28 + slack,       # measured 22 (Lloyd rounds)
        # round-10 heavy additions (VERDICT r10 item #7) — measured r11
        # start; red if a pin is lost and a generator re-runs
        "q_multimodal_phash": 13,       # measured 10: TWO band joins over
        #   ONE pinned phash relation (a lost pin re-decodes payloads)
        "q_vec_knn_mrl": 8,             # measured 6: funnel stages reuse
        #   the pinned prefix-scored relation
        "q_dedup_simhash_recall": 59,   # measured 47: exact-pair and
        #   simhash-pair generators each run ONCE into the audit join
        # round-11 additions — measured r11
        "q_dedup_lsh_band_sweep": 59,   # measured 47: ONE signature
        #   relation feeds all three layouts' band structs; ONE
        #   self-join on (layout, band, bsig) yields all candidates
        "q_text_simhash_wide": 9,       # measured 7: one fingerprint
        #   pass, 45 block-pair keys in one explode + one self-join
        "q_dedup_simhash_wide_recall": 59,  # measured 47: same audit
        #   composition discipline as the radius-3 row
        "q_vec_ann_cost": 34,           # measured 27: three candidate
        #   generators (lsh/ivf/ivfk incl. Lloyd rounds) counted once
        "q_dedup_sorted_neighborhood": 46,  # measured 37: rank (two-pass
        #   scan) + neighbor equi-join + ONE exact-pair generator run
        #   for the recall denominator
        # round-12 additions — measured r12
        "q_dedup_lsh_recall_sampled": 70,   # measured 56: BOTH generators
        #   (exact kernel + banded LSH) pinned, each runs once on the
        #   sampled subcorpus; red if a pin is lost or the sample
        #   predicate stops pruning a generator
        "q_mixture_reweight": 50,           # measured 38: pinned D-row
        #   loss relation + per-round lazy localCheckpoint — without the
        #   checkpoint the nested round broadcasts re-run each other and
        #   the count explodes ~3x per round (204 measured)
        "q_mixture_reweight_apply": 60,     # measured 46: reweight chain
        #   + ONE corpus coin pass with the D-row rates broadcast
        "q_tokenizer_compare": 104,         # measured 83 (r14, after the
        #   WordPiece leg landed: +~19 jobs for its 6 per-round eager
        #   localCheckpoints): all THREE tokenizer trainings on the
        #   shared pinned wf + one corpus stats join with every
        #   segmented vocabulary broadcast
        "q_dedup_blocking_ensemble": 165,   # measured 130 cold: FOUR
        #   generators (exact truth + lsh + simhash-wide + snm), each
        #   materialized once into its session/registry pin, then pure
        #   id-pair set algebra; red if a pin is lost and a generator
        #   re-runs per union/stat branch
    }
    over = {}
    for key, bound in bounds.items():
        n = _jobs_for(spark, key)
        if n > bound:
            over[key] = (n, bound)
    assert not over, f"job-count regressions (got, bound): {over}"


def test_audit_family_shares_pinned_exact_pairs(spark):
    """VERDICT r11 item 4: the five recall audits share ONE
    session-shared exact t=0.8 pair relation (dedup_q.exact_pair_graph
    over cache.session_ckpt). Cold, the first audit materializes the
    pin inside its own jobs (measured 52 at smoke); every later audit
    in the same session reuses the cached relation — measured 12 jobs
    vs 37 cold for q_dedup_simhash_wide_recall. A lost pin (released
    at builder entry, a consumer bypassing the helper, or a scope-key
    regression rebuilding per key) puts the exact generator's ~25 jobs
    back into every audit and trips the warm bound. Unlike _jobs_for,
    no clearCache between the two keys — the warmth IS the test."""
    from hive_similarity_join_spark.operators.cache import (
        release_session_pins,
    )

    sc = spark.sparkContext

    def jobs_keep_cache(key, tag):
        group = f"warmpin-{tag}"
        sc.setJobGroup(group, group)
        try:
            QUERIES[key](spark, SF_SMOKE).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    spark.catalog.clearCache()
    release_session_pins()
    try:
        jobs_keep_cache("q_dedup_lsh_recall", "cold")  # materializes pin
        warm = jobs_keep_cache("q_dedup_simhash_wide_recall", "warm")
        assert warm <= 20, (
            f"q_dedup_simhash_wide_recall ran {warm} jobs with the "
            "exact-pair pin warm (measured 12; cold is 37) — the session "
            "pin is not being reused"
        )
    finally:
        release_session_pins()
        spark.catalog.clearCache()


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast (map-side contamination probe)
    — a SortMergeJoin would mean the corpus shuffles its shingles."""
    plan = explain_str(_q("q_decontaminate", spark))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_bm25_is_topk_with_scalar_stats_broadcast(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps), and the only nested-loop join allowed is the 1-row corpus
    statistics broadcast."""
    plan = explain_str(_q("q_search_bm25", spark))
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_scd2_single_shuffle(spark):
    """Both stacked windows (lag change-detect, lead interval-close)
    share one (user_id) partitioning and (ts, event_id) order — the
    plan must contain exactly ONE exchange and ONE sort, reused by both
    WindowExecs (a second exchange would mean the window specs
    diverged)."""
    plan = explain_str(_q("q_scd2_history", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    assert "EvalPython" not in plan


def test_mapside_only_keys_have_no_exchange(spark):
    """Pure per-row keys (quantization, rule filter, redaction) must
    plan as scan -> project/filter with ZERO shuffles — an Exchange
    here means an accidental aggregation or repartition snuck in."""
    for key in ("q_vec_quantize", "q_text_rules_filter", "q_pii_redact"):
        plan = explain_str(_q(key, spark), mode="simple")
        assert "Exchange" not in plan, f"{key} shuffles:\n{plan}"
        assert "EvalPython" not in plan


def test_containment_salted_candidate_join(spark):
    """The asymmetric containment kernel inherits the flagship's
    explicit salted repartition (AQE-exempt partition counts) and stays
    Python-free."""
    plan = explain_str(_q("q_simjoin_containment", spark))
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "_salt" in plan
    assert "EvalPython" not in plan


def test_weighted_containment_salted_and_python_free(spark):
    """The weighted kernel inherits the explicit salted repartition; no
    Python evaluation nodes. r17: the vocabulary broadcast moved inside
    the session-checkpointed docs_weighted_sorted generator (the trio
    shares one sorted relation), so it is asserted on the GENERATOR
    composition — the key's own verify joins against the stats-less
    checkpoint correctly plan as sort-merge, which is also the honest
    100 TB strategy for a corpus-sized verify side (the old
    BroadcastHashJoin there was a small-SF stats artifact)."""
    plan = explain_str(_q("q_simjoin_weighted_containment", spark))
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "_salt" in plan
    assert "EvalPython" not in plan
    from hive_similarity_join_spark.operators.similarity import prepare
    from hive_similarity_join_spark.sources.loader import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    gen_plan = explain_str(
        prepare(docs, "doc_id", "text", weighted=True, persist=False).rel
    )
    assert "BroadcastHashJoin" in gen_plan  # the vocabulary broadcast
    assert "EvalPython" not in gen_plan


def test_bpe_pairs_is_topk_single_shuffle(spark):
    """BPE merge-candidate counting: one partial-aggregated shuffle on
    the pair key, global top-k as TakeOrderedAndProject (per-partition
    heaps — no global sort), no Python."""
    plan = explain_str(_q("q_bpe_pairs", spark), mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "EvalPython" not in plan


def test_text_novelty_two_exchanges(spark):
    """First-occurrence novelty: the shingle-keyed aggregate's hash
    partitioning must be REUSED by the join back to per-doc shingles
    (no third exchange) — shingle agg + doc rollup only."""
    plan = explain_str(_q("q_text_novelty", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "EvalPython" not in plan


def test_knn_label_rides_broadcast_knn(spark):
    """kNN auto-labeling must add only the vote-tally exchange on top
    of q_vec_knn's broadcast-probes plan — label joins broadcast, the
    corpus never shuffles."""
    plan = explain_str(_q("q_vec_knn_label", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_tpch_q9_broadcasts_all_dimensions(spark):
    """Q9 (product-type profit): every dimension side must broadcast
    (4 BroadcastHashJoins) while lineitem streams — no sort-merge join
    and exactly ONE exchange (the final grouping), the star-join
    posture that survives a 100x fact-table scale-up."""
    plan = explain_str(_q("q_tpch_q9", spark), mode="simple")
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_tpch_q18_single_exchange(spark):
    """Q18 (large-volume customers): the qualifying-orderkey HAVING
    subquery and the customer join must both broadcast against the
    streamed lineitem/orders side — one hash exchange total."""
    plan = explain_str(_q("q_tpch_q18", spark), mode="simple")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_ohlc_single_exchange_single_sort(spark):
    """Both OHLC windows (ascending row_number, unordered slot count)
    and the final aggregate share ONE (event_type, slot) exchange and
    ONE sort — deriving close from rn == slot-count is what removed
    the second (descending) sort from the plan."""
    plan = explain_str(_q("q_time_ohlc", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    assert "EvalPython" not in plan


def test_lag_features_single_exchange(spark):
    """All five lag/rolling feature windows share one user_id
    partitioning and (ts, event_id) order — exactly one exchange and
    one sort (the q_scd2_history stacked-window rule)."""
    plan = explain_str(_q("q_events_lag_features", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan


def test_funnel_pushes_type_filters_to_scan(spark):
    """Each funnel step's event_type filter must reach the parquet scan
    (one type is ~1/5 of rows) and the step chaining joins must
    broadcast (per-user firsts relations, bounded by |users|)."""
    plan = explain_str(_q("q_events_funnel", spark))
    assert "PushedFilters" in plan and "event_type" in plan
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_dau_wau_grid_broadcasts_into_range_join(spark):
    """The day grid must be the broadcast side of the 7-day range join
    (BroadcastNestedLoopJoin over the deduplicated user-day relation);
    the raw events scan collapses to a DISTINCT first."""
    plan = explain_str(_q("q_events_dau_wau", spark), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_skew_kurtosis_broadcasts_group_means(spark):
    """The |types|-row mean relation joins back broadcast; no
    sort-merge join of the events table against itself."""
    plan = explain_str(_q("q_agg_skew_kurtosis", spark), mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_nearest_single_shuffle(spark):
    """Both as-of frames (last prior / first later click) share one
    (user_id) partitioning and (ts, event_id) order — the plan must
    contain exactly ONE exchange and ONE sort feeding ONE WindowExec
    (a second exchange would mean the frames' specs diverged and the
    log shuffles twice)."""
    plan = explain_str(_q("q_join_asof_nearest", spark), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort ") == 1, plan
    assert plan.count("Window ") == 1, plan
    assert "EvalPython" not in plan


def test_profile_table_per_column_branches_no_expand(spark):
    """q_profile_table must plan as per-column pruned branches — the
    wide multi-distinct alternative puts an Expand in the plan that
    replicates every row |cols|+1 times (A/B'd 22s vs ~3s at sf0.1
    and dropped, r11). Each branch's scan must prune to one field."""
    plan = explain_str(_q("q_profile_table", spark))
    assert "Expand" not in plan
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert len(reads) >= 11, plan
    assert all(ln.count(":") <= 2 for ln in reads), reads  # one field each


def test_interval_overlap_is_bucket_equi_join(spark):
    """The unkeyed interval-overlap join must pair on the bucket
    equi-join, never fall back to a nested-loop over the session cross
    product; and the max-start bucket attribution means NO distinct
    aggregate over the pair relation exists."""
    plan = explain_str(_q("q_join_interval_overlap", spark))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
