"""Spans around the calls the benchmark makes into each layer.

The package is not modified: a traced run replaces module attributes
(``load_table``, ``similarity_join``, ``session_ckpt``, ...) in every
loaded package module with timing wrappers, and wraps the registry's
query builders. Each span sets its own Spark job group, so each job is
attributed to the innermost span that submitted it. Spans stay in
memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

import spark_stats

PACKAGE = "hive_similarity_join_spark"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.run}-{self.id}"


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    def open(self, name: str, layer: str, **attrs) -> Span:
        stack = self._stack()
        # A span opened on a pool thread hangs under the main thread's
        # innermost open span (the builder that started the pool).
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            span = Span(
                next(self._ids), name, layer,
                parent.id if parent else None, self.run_id, self.phase,
                time.perf_counter(), attrs=dict(attrs),
            )
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.remove(span)
        self._set_group(stack[-1] if stack else None)

    def record(self, name: str, layer: str, start: float, end: float,
               **attrs) -> Span:
        """Add a span that has already ended (timed by the caller)."""
        with self._lock:
            span = Span(next(self._ids), name, layer, None, self.run_id,
                        self.phase, start, end, dict(attrs))
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self.open(name, layer, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def to_json(self) -> list[dict]:
        return [asdict(s) | {"group": s.group} for s in self.spans]


class CacheLedger:
    """Counts shared-generator tier traffic where it happens: a build
    only when the ``build`` callable actually runs, a lock wait only
    when the per-name build lock was already held."""

    def __init__(self, tracer: Tracer, storage_mb):
        self.tracer = tracer
        self._storage_mb = storage_mb

    def wrap_tier(self, fn, kind: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def traced(name, scope, build):
            with tracer.span(f"cache.{kind}:{name}", "cache", tier=name) as sp:
                before = []  # block storage when the build started

                def counted_build():
                    before.append(self._storage_mb())
                    return build()

                out = fn(name, scope, counted_build)
                sp.attrs["built"] = bool(before)
                if before:
                    sp.attrs["storage_mb"] = self._storage_mb() - before[0]
                return out

        return traced

    def wrap_lock_factory(self, factory):
        tracer = self.tracer

        class TimedLock:
            def __init__(self, lock, name):
                self._lock, self._name = lock, name

            def __enter__(self):
                if not self._lock.acquire(blocking=False):
                    t0 = time.perf_counter()
                    self._lock.acquire()
                    tracer.record(f"cache.lock_wait:{self._name}", "cache.lock",
                                  t0, time.perf_counter(), tier=self._name)
                return self

            def __exit__(self, *exc):
                self._lock.release()
                return False

        @functools.wraps(factory)
        def timed(name):
            return TimedLock(factory(name), name)

        return timed


def patch_package(tracer: Tracer, ledger: CacheLedger) -> None:
    """Install the span wrappers on every loaded package module."""
    from hive_similarity_join_spark.operators import cache, dedup, similarity
    from hive_similarity_join_spark.registry import QUERIES
    from hive_similarity_join_spark.sources import loader

    replacements = {
        loader.load_table: tracer.wrap(loader.load_table, "loader.load_table", "loader"),
        similarity.similarity_join: tracer.wrap(
            similarity.similarity_join, "similarity.call", "similarity"
        ),
        similarity.build_token_dict: tracer.wrap(
            similarity.build_token_dict, "similarity.build_token_dict", "similarity"
        ),
        cache.session_ckpt: ledger.wrap_tier(cache.session_ckpt, "ckpt"),
        cache.session_state: ledger.wrap_tier(cache.session_state, "state"),
        dedup.minhash_signatures: tracer.wrap(
            dedup.minhash_signatures, "dedup.minhash_signatures", "dedup"
        ),
        dedup.connected_components: tracer.wrap(
            dedup.connected_components, "dedup.connected_components", "dedup"
        ),
    }
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            try:
                new = replacements.get(val)
            except TypeError:  # unhashable module attribute
                continue
            if new is not None:
                setattr(mod, attr, new)
    cache._name_lock = ledger.wrap_lock_factory(cache._name_lock)
    for key, fn in list(QUERIES.items()):
        QUERIES[key] = tracer.wrap(fn, f"queries.call:{key}", "queries")


LAYERS = ("session", "registry", "queries", "loader", "similarity", "cache", "dedup")


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def layer_metrics(spark, spans: list[Span], passes: int) -> dict[str, float]:
    """Per-layer totals: setup spans count once, measured-pass spans are
    averaged per pass."""
    costs = spark_stats.stage_costs(spark)
    tracker = spark.sparkContext.statusTracker()
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for layer in LAYERS:
        for k in ("jobs", "tasks", "cpu_s", "shuffle_write_mb", "spill_mb", "self_s"):
            out[f"{layer}.{k}"] = 0.0
    for s in spans:
        if s.phase not in ("setup", "measure") or s.layer not in LAYERS:
            continue
        w = 1.0 if s.phase == "setup" else 1.0 / passes
        jobs = list(tracker.getJobIdsForGroup(s.group))
        total = spark_stats.StageCost()
        for st in spark_stats.job_stages(spark, jobs):
            if st in costs:
                total.add(costs[st])
        s.attrs.update(jobs=len(jobs), tasks=total.tasks, cpu_s=total.cpu_s,
                       shuffle_write_mb=total.shuffle_write_mb)
        out[f"{s.layer}.jobs"] += w * len(jobs)
        out[f"{s.layer}.tasks"] += w * total.tasks
        out[f"{s.layer}.cpu_s"] += w * total.cpu_s
        out[f"{s.layer}.shuffle_write_mb"] += w * total.shuffle_write_mb
        out[f"{s.layer}.spill_mb"] += w * total.spill_mb
        out[f"{s.layer}.self_s"] += w * self_time(s, children.get(s.id, []))
    return out


def subtree_jobs(span: Span, spans: list[Span]) -> int:
    """Jobs recorded by ``span`` and every span below it."""
    below = {span.id}
    for s in spans:  # spans are appended in open order: parents first
        if s.parent in below:
            below.add(s.id)
    return sum(s.attrs.get("jobs", 0) for s in spans if s.id in below)
