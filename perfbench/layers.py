"""Per-layer metrics of a traced run, from its spans and Spark's status
stores. Counts over the measured passes are reported per pass."""

from __future__ import annotations

import re
import statistics

import spans as sp
import spark_stats


def probe_token_dict(spark, tracer: sp.Tracer, sf_dir: str) -> None:
    """Time the kernel's stage-1 dictionary on its own: ``build_token_dict``
    over the workload's corpus plus a count. Runs after the measured
    passes, so it never perturbs them."""
    from hive_similarity_join_spark.operators import similarity
    from hive_similarity_join_spark.sources import loader

    with tracer.span("similarity.dict", "similarity.probe"):
        docs = loader.load_table(spark, sf_dir, "documents")
        similarity.build_token_dict(docs, "doc_id", "text").count()


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_SIZE_MB = {"B": 2.0**-20, "KiB": 2.0**-10, "MiB": 1.0, "GiB": 2.0**10, "TiB": 2.0**20}


def _size_mb(value: str) -> float:
    """Total of a size metric rendered as ``1,234.5 KiB`` (first number)."""
    m = _SIZE.search(value or "")
    return float(m.group(1).replace(",", "")) * _SIZE_MB[m.group(2)] if m else 0.0


def per_layer(spark, tracer: sp.Tracer, passes: int, first_exec: int,
              last_exec: int, traced_run_s: float) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    measured = [s for s in spans if s.phase == "measure"]
    per = 1.0 / passes

    def dur(prefix: str, pool=None) -> float:
        """Seconds per pass in measured spans named ``prefix…``; with
        ``pool``, total seconds in those spans."""
        w = per if pool is None else 1.0
        return w * sum(s.end - s.start for s in (pool or measured)
                       if s.name.startswith(prefix))

    def jobs_below(prefix: str) -> float:
        return per * sum(sp.subtree_jobs(s, spans) for s in measured
                         if s.name.startswith(prefix))

    # SQL plan-node counters over the executions of the measured passes
    kernel = spark_stats.KernelCounts()
    kernel_jobs: set[int] = set()
    scan_rows = scan_mb = 0.0
    for eid in spark_stats.execution_ids_after(spark, first_exec):
        if eid > last_exec:
            continue
        nodes = spark_stats.plan_nodes(spark, eid)
        counts = spark_stats.kernel_counts(nodes)
        kernel.add(counts)
        if counts.cand_join:
            kernel_jobs |= spark_stats.execution_jobs(spark, eid)
        for n in nodes.values():
            if n.name.startswith("Scan parquet"):
                scan_rows += spark_stats.rows(n)
                scan_mb += _size_mb(n.metrics.get("size of files read", ""))

    # An action is booked to the kernel's layer when its plan holds the
    # kernel's candidate join, whoever built that plan: a direct
    # ``similarity_join`` call or a registry key. Other actions are the
    # registry queries' own.
    tracker = spark.sparkContext.statusTracker()
    for s in spans:
        if s.layer == "action":
            jobs = set(tracker.getJobIdsForGroup(s.group))
            s.layer = "similarity" if jobs & kernel_jobs else "queries"

    out: dict[str, tuple[float, str]] = {}
    generic = sp.layer_metrics(spark, spans, passes)
    units = {"jobs": "count", "tasks": "count", "cpu_s": "s",
             "shuffle_write_mb": "MB", "spill_mb": "MB", "self_s": "s"}
    for name, v in generic.items():
        out[name] = (v, units[name.split(".", 1)[1]])

    out["session.get_spark_s"] = (dur("session.get_spark", spans), "s")
    out["registry.load_s"] = (dur("registry.load_registry", spans), "s")
    out["queries.call_s"] = (dur("queries.call:"), "s")
    out["queries.call_jobs"] = (jobs_below("queries.call:"), "count")
    out["queries.action_s"] = (dur("queries.action:"), "s")

    out["loader.call_s"] = (dur("loader.load_table"), "s")
    out["loader.scan_rows"] = (per * scan_rows, "count")
    out["loader.scan_mb"] = (per * scan_mb, "MB")

    distinct = kernel.distinct_candidates
    out["similarity.call_s"] = (dur("similarity.call"), "s")
    out["similarity.call_jobs"] = (jobs_below("similarity.call"), "count")
    out["similarity.dict_s"] = (dur("similarity.dict", spans), "s")
    out["similarity.prefix_rows"] = (per * kernel.prefix_rows, "count")
    out["similarity.salted_prefix_rows"] = (per * kernel.salted_prefix_rows, "count")
    out["similarity.candidate_rows"] = (per * kernel.candidate_rows, "count")
    out["similarity.distinct_candidates"] = (per * distinct, "count")
    out["similarity.verified_pairs"] = (per * kernel.verified_pairs, "count")
    out["similarity.dup_factor"] = (
        kernel.candidate_rows / distinct if distinct else 0.0, "1")
    out["similarity.verify_pass"] = (
        kernel.verified_pairs / distinct if distinct else 0.0, "1")
    out["similarity.cand_task_skew"] = (
        statistics.median(kernel.cand_skew) if kernel.cand_skew else 0.0, "1")

    tiers = [s for s in measured if s.layer == "cache"]
    built = [s for s in tiers if s.attrs.get("built")]
    by_id = {s.id: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    waits = [s for s in measured if s.layer == "cache.lock"]
    out["cache.builds"] = (per * len(built), "count")
    out["cache.hits"] = (per * (len(tiers) - len(built)), "count")
    out["cache.lock_waits"] = (per * len(waits), "count")
    out["cache.lock_wait_s"] = (per * sum(s.end - s.start for s in waits), "s")
    out["cache.build_s"] = (per * sum(
        sp.self_time(s, [c for c in children.get(s.id, []) if c.layer == "cache"])
        for s in built), "s")
    out["cache.ckpt_mb"] = (per * sum(
        s.attrs.get("storage_mb", 0.0) for s in built
        if s.parent is None or by_id[s.parent].layer != "cache"), "MB")

    out["dedup.minhash_s"] = (dur("dedup.minhash_signatures"), "s")
    out["dedup.cc_s"] = (dur("dedup.connected_components"), "s")
    out["dedup.cc_jobs"] = (jobs_below("dedup.connected_components"), "count")

    out["trace.run_s"] = (traced_run_s, "s")
    out["trace.spans"] = (float(len(spans)), "count")
    return out

