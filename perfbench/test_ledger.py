"""The cache ledger tells a build, a hit and a wait on the build lock apart.

Two threads ask ``session_state`` for the same name at once: one runs the
build, the other blocks on the per-name lock and then finds the value.
A presence check would report two misses; the ledger must report one
build, one hit and one lock wait. No Spark session is needed.

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import spans  # noqa: E402


class _NoSpark:
    class sparkContext:  # noqa: N801 - mirrors the SparkSession attribute
        @staticmethod
        def setJobGroup(*_):
            pass

        @staticmethod
        def setLocalProperty(*_):
            pass


def test_lock_wait_is_not_a_build(monkeypatch):
    from hive_similarity_join_spark.operators import cache

    tracer = spans.Tracer(_NoSpark, "test")
    ledger = spans.CacheLedger(tracer, lambda: 0.0)
    monkeypatch.setattr(cache, "_name_lock", ledger.wrap_lock_factory(cache._name_lock))
    state = ledger.wrap_tier(cache.session_state, "state")
    cache.release_session_state()
    started = threading.Event()

    def slow_build():
        started.set()
        time.sleep(0.5)
        return {"value": 1}

    results = []
    first = threading.Thread(target=lambda: results.append(state("t", "s", slow_build)))
    first.start()
    assert started.wait(5)
    second = threading.Thread(target=lambda: results.append(state("t", "s", slow_build)))
    second.start()
    first.join(10)
    second.join(10)
    cache.release_session_state()
    assert not first.is_alive() and not second.is_alive()

    assert results == [{"value": 1}, {"value": 1}]
    tiers = [s for s in tracer.spans if s.layer == "cache"]
    waits = [s for s in tracer.spans if s.layer == "cache.lock"]
    assert sorted(s.attrs["built"] for s in tiers) == [False, True]
    assert len(waits) == 1 and waits[0].end - waits[0].start > 0.2
