"""Focused tests for the r16 checkpoint-backed session-sharing tier
(operators/cache.py session_ckpt / session_state) and the trainer-chain
memos built on it — the optimization-round rule: an optimization that
changes operator internals gets its own test.
"""

from __future__ import annotations

import threading
import time

from hive_similarity_join_spark.operators.cache import (
    release_session_pins,
    session_ckpt,
    session_state,
)
from hive_similarity_join_spark.registry import load_registry
from tests.conftest import SF_SMOKE

load_registry()


def test_session_ckpt_builds_once_and_survives_clearcache(spark):
    """The whole point of the tier: one build per (name, scope), and the
    bench's per-key clearCache must NOT force a re-materialization
    (checkpoint blocks are block-manager storage, not SQL cache)."""
    release_session_pins()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).selectExpr("id", "id * 2 AS y")

    try:
        a = session_ckpt("t_ckpt_demo", "scope1", build)
        assert calls["n"] == 1
        assert a.count() == 100
        b = session_ckpt("t_ckpt_demo", "scope1", build)
        assert b is a  # same object, no rebuild
        assert calls["n"] == 1
        spark.catalog.clearCache()
        # still the same checkpointed relation, data intact, no rebuild
        c = session_ckpt("t_ckpt_demo", "scope1", build)
        assert c is a and calls["n"] == 1
        assert c.count() == 100
        # a new scope (new sf_dir / new session) rebuilds
        d = session_ckpt("t_ckpt_demo", "scope2", build)
        assert calls["n"] == 2 and d is not a
    finally:
        release_session_pins()


def test_session_state_scope_and_release(spark):
    release_session_pins()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return {"v": calls["n"]}

    try:
        assert session_state("t_state_demo", "s1", build)["v"] == 1
        assert session_state("t_state_demo", "s1", build)["v"] == 1
        assert session_state("t_state_demo", "s2", build)["v"] == 2
        release_session_pins()  # the one full cross-key reset
        assert session_state("t_state_demo", "s1", build)["v"] == 3
    finally:
        release_session_pins()


def test_bpe_trained_chain_equals_lazy_composition(spark):
    """bpe_trained's checkpointed chain must be value-identical to the
    fully-lazy composition the keys previously ran (best_pair /
    apply_merge are deterministic; localCheckpoint only truncates
    lineage)."""
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators import bpe
    from hive_similarity_join_spark.queries.hygiene_q import (
        _BPE_ROUNDS,
        bpe_trained,
    )
    from hive_similarity_join_spark.sources.loader import load_table

    release_session_pins()
    try:
        d = load_table(spark, SF_SMOKE, "documents")
        wf = bpe.word_freqs(d, TX.bag_tokens("text"))
        lazy = bpe.bpe_apply_rounds_lazy(wf, _BPE_ROUNDS)
        memo = bpe_trained(spark, SF_SMOKE)["words"][_BPE_ROUNDS]
        lrows = sorted((r.w, r.n) for r in lazy.collect())
        mrows = sorted((r.w, r.n) for r in memo.collect())
        assert lrows == mrows
    finally:
        release_session_pins()


def test_wp_trained_chain_equals_operator_output(spark):
    """wp_trained's memoized final vocabulary must match a direct
    wordpiece_merge_rounds run over the same word relation."""
    from pyspark.sql import functions as F

    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators import wordpiece as WP
    from hive_similarity_join_spark.operators.bpe import encode_chars
    from hive_similarity_join_spark.queries.wordpiece_q import (
        _WPR,
        _WPW,
        wp_trained,
    )
    from hive_similarity_join_spark.sources.loader import load_table

    release_session_pins()
    try:
        d = load_table(spark, SF_SMOKE, "documents")
        wfp = (
            d.select(F.explode(TX.bag_tokens("text")).alias("word"))
            .filter(
                F.col("word").rlike("^[a-z0-9]+$")
                & (F.length("word") <= _WPW)
            )
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        _bests, direct = WP.wordpiece_merge_rounds(
            wfp.select(encode_chars("word").alias("w"), "n"), _WPR
        )
        memo = wp_trained(spark, SF_SMOKE)["words"][-1]
        drows = sorted((r.w, r.n) for r in direct.collect())
        mrows = sorted((r.w, r.n) for r in memo.collect())
        assert drows == mrows
    finally:
        release_session_pins()


def test_generator_plan_gate_rejects_python_eval(spark):
    """r17 (VERDICT r16 item 2): consumers of a checkpointed relation
    plan as ExistingRDD scans, so the suite-wide python-eval gate never
    sees generator plans — session_ckpt/session_state therefore gate
    every build() composition at materialization time. Injecting a
    Python UDF into a build must raise before anything is checkpointed
    or memoized."""
    import pytest
    from pyspark.sql import functions as F

    release_session_pins()
    try:
        bad_udf = F.udf(lambda x: x + 1, "bigint")

        def bad_build():
            return spark.range(10).select(bad_udf("id").alias("y"))

        with pytest.raises(ValueError, match="scale-killers"):
            session_ckpt("t_gate_bad", "scope1", bad_build)
        with pytest.raises(ValueError, match="scale-killers"):
            session_state("t_gate_bad_state", "scope1",
                          lambda: {"rel": bad_build()})
        # nothing stored: a later good build under the same names works
        ok = session_ckpt("t_gate_bad", "scope1", lambda: spark.range(5))
        assert ok.count() == 5
    finally:
        release_session_pins()


def test_generator_plan_gate_rejects_low_cardinality_window(spark):
    """The same gate must flag a window over an unbounded relation
    partitioned only by a low-cardinality column (the r10 suite-wide
    scale rule), injected into a generator build."""
    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hive_similarity_join_spark.sources.loader import load_table

    release_session_pins()
    try:
        def bad_build():
            docs = load_table(spark, SF_SMOKE, "documents")
            w = Window.partitionBy("source").orderBy("doc_id")
            return docs.select("doc_id", F.row_number().over(w).alias("rn"))

        with pytest.raises(ValueError, match="scale-killers"):
            session_ckpt("t_gate_badwin", "scope1", bad_build)
    finally:
        release_session_pins()


def test_session_ckpt_concurrent_same_name_builds_once(spark):
    """r17: prefetched generators can share a NESTED dependency (the
    ensemble's exact and SNM builds both reach docs_rank_arrays), so
    two threads may request the same name concurrently — the per-name
    lock must make exactly one build run."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    release_session_pins()
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        time.sleep(0.3)  # widen the race window
        return spark.range(50)

    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [
                pool.submit(session_ckpt, "t_ckpt_race", "scope1", build)
                for _ in range(4)
            ]
            vals = [f.result() for f in futs]
        assert calls["n"] == 1
        assert all(v is vals[0] for v in vals)
        assert vals[0].count() == 50
    finally:
        release_session_pins()


def _run_daemon(fn) -> tuple[threading.Thread, list]:
    """Start ``fn`` on a daemon thread (a hung build cannot block the
    test process's exit); the list receives its result or exception."""
    out: list = []

    def run():
        try:
            out.append(fn())
        except Exception as e:  # noqa: BLE001 - handed to the test
            out.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, out


def test_generator_dependency_cycle_raises_not_hangs():
    """Two generators whose builds read each other: the nested build
    re-enters a name its own thread is still building. The per-name
    lock is not reentrant, so this used to hang; it must raise a
    ValueError naming the cycle."""
    release_session_pins()

    def build_a():
        return {"a": session_state("t_cyc_b", "s", build_b)}

    def build_b():
        return {"b": session_state("t_cyc_a", "s", build_a)}

    try:
        t, out = _run_daemon(lambda: session_state("t_cyc_a", "s", build_a))
        t.join(20)
        assert not t.is_alive(), "cyclic generator builds deadlocked"
        assert isinstance(out[0], ValueError)
        assert "t_cyc_a -> t_cyc_b -> t_cyc_a" in str(out[0])
    finally:
        release_session_pins()


def test_generator_dependency_cycle_across_threads_raises():
    """The same cycle entered from both ends by two prefetch threads:
    each holds one build lock and waits for the other's. The thread
    whose wait would close the ring raises; the other then re-enters
    its own build and raises too — neither hangs."""
    release_session_pins()
    holding = {"a": threading.Event(), "b": threading.Event()}

    def build(mine: str, other: str):
        def b():
            holding[mine].set()
            assert holding[other].wait(10)
            time.sleep(0.1 if mine == "a" else 0.3)
            return {mine: session_state(f"t_cyc2_{other}", "s", build(other, mine))}
        return b

    try:
        runs = [
            _run_daemon(lambda n=n, o=o: session_state(f"t_cyc2_{n}", "s", build(n, o)))
            for n, o in (("a", "b"), ("b", "a"))
        ]
        for t, _ in runs:
            t.join(20)
        assert not any(t.is_alive() for t, _ in runs), "prefetch threads deadlocked"
        for _, out in runs:
            assert isinstance(out[0], ValueError)
            assert "dependency cycle" in str(out[0])
    finally:
        release_session_pins()
