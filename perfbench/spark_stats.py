"""Counters read from Spark's own status stores (no UI, no listener, no
extra actions): per-stage task metrics from the core ``AppStatusStore``,
and per-plan-node SQL metrics from the SQL status store."""

from __future__ import annotations

import re
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class StageCost:
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "StageCost") -> None:
        self.tasks += other.tasks
        self.cpu_s += other.cpu_s
        self.shuffle_write_mb += other.shuffle_write_mb
        self.spill_mb += other.spill_mb


def stage_costs(spark, after: int = -1) -> dict[int, StageCost]:
    """Cost of every retained stage with an id above ``after``, all
    attempts summed, keyed by stage id."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    out: dict[int, StageCost] = {}
    for i in range(stages.size()):  # newest stage first
        s = stages.apply(i)
        if int(s.stageId()) <= after:
            break
        cost = StageCost(
            tasks=int(s.numCompleteTasks()) + int(s.numFailedTasks()),
            cpu_s=s.executorCpuTime() / 1e9,
            shuffle_write_mb=s.shuffleWriteBytes() / MB,
            spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
        )
        out.setdefault(int(s.stageId()), StageCost()).add(cost)
    return out


def job_stages(spark, job_ids) -> list[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out: list[int] = []
    for j in job_ids:
        ids = store.job(int(j)).stageIds()
        out.extend(int(ids.apply(k)) for k in range(ids.size()))
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return int(execs.apply(n - 1).executionId()) if n else -1


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, str]
    parents: list[int] = field(default_factory=list)
    cluster: int | None = None


def plan_nodes(spark, execution_id: int) -> dict[int, Node]:
    """The final (post-AQE) plan graph of one SQL execution with each
    node's metric values, parent links and enclosing codegen cluster."""
    store = spark._jsparkSession.sharedState().statusStore()
    graph = store.planGraph(execution_id)
    values = store.executionMetrics(execution_id)
    nodes: dict[int, Node] = {}
    all_nodes = graph.allNodes()
    for i in range(all_nodes.size()):
        n = all_nodes.apply(i)
        ms = n.metrics()
        metrics = {}
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[m.name()] = v.get()
        nodes[int(n.id())] = Node(int(n.id()), n.name(), n.desc(), metrics)
    for i in range(all_nodes.size()):
        n = all_nodes.apply(i)
        if n.name().startswith("WholeStageCodegen"):
            members = n.nodes()
            for k in range(members.size()):
                nodes[int(members.apply(k).id())].cluster = int(n.id())
    edges = graph.edges()
    for i in range(edges.size()):
        e = edges.apply(i)
        nodes[int(e.fromId())].parents.append(int(e.toId()))
    return nodes


def execution_jobs(spark, execution_id: int) -> set[int]:
    """Ids of the jobs one SQL execution ran (its AQE query stages too)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ids = store.execution(execution_id).get().jobs().keys().toList()
    return {int(ids.apply(i)) for i in range(ids.size())}


def execution_ids_after(spark, first_excluded: int) -> list[int]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    ids = [int(execs.apply(i).executionId()) for i in range(execs.size())]
    return [i for i in ids if i > first_excluded]


def rows(node: Node) -> int:
    return int(node.metrics.get("number of output rows", "0").replace(",", ""))


_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_DIST = re.compile(
    r"\(([\d.,]+) (ms|s|m|min|h), ([\d.,]+) (ms|s|m|min|h), ([\d.,]+) (ms|s|m|min|h)"
)


def duration_skew(metric_value: str) -> float | None:
    """max ÷ median of a timing metric's per-task distribution, read from
    its ``total (min, med, max (stageId: taskId))`` rendering."""
    m = _DIST.search(metric_value or "")
    if not m:
        return None
    med = float(m.group(3).replace(",", "")) * _UNIT_S[m.group(4)]
    mx = float(m.group(5).replace(",", "")) * _UNIT_S[m.group(6)]
    return mx / max(med, 1e-3)


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
_PASS_THROUGH = ("Project", "Exchange", "AQEShuffleRead", "ShuffleQueryStage")


@dataclass
class KernelCounts:
    """Row counts at each stage boundary of the prefix-filtered kernel."""

    prefix_rows: int = 0
    salted_prefix_rows: int = 0
    candidate_rows: int = 0
    distinct_candidates: int = 0
    verified_pairs: int = 0
    cand_join: list[str] = field(default_factory=list)
    cand_skew: list[float] = field(default_factory=list)

    def add(self, o: "KernelCounts") -> None:
        self.prefix_rows += o.prefix_rows
        self.salted_prefix_rows += o.salted_prefix_rows
        self.candidate_rows += o.candidate_rows
        self.distinct_candidates += o.distinct_candidates
        self.verified_pairs += o.verified_pairs
        self.cand_join += o.cand_join
        self.cand_skew += o.cand_skew


def kernel_counts(nodes: dict[int, Node]) -> KernelCounts:
    """Find every kernel instance in one execution's plan by its candidate
    join (the join on the prefix-token column ``_ptok1``) and read rows
    at the kernel's stage boundaries:

    - prefix: ``Generate posexplode(slice(_rks ...))``, both sides;
    - salted: ``Generate explode([0,1,...])``, the replicated a-side;
    - candidates: the candidate join's output;
    - distinct: the dedupe aggregate (``keys=[id1, id2], functions=[]``)
      directly above the candidate join, final (smallest) output;
    - verified: the first node above the dedupe whose condition computes
      ``array_intersect`` (a join with the verify filter fused in, or a
      separate ``Filter``).
    """
    k = KernelCounts()
    for n in nodes.values():
        if n.name == "Generate" and n.desc.startswith("Generate posexplode(slice(_rks"):
            k.prefix_rows += rows(n)
        elif n.name == "Generate" and n.desc.startswith("Generate explode([0,1,"):
            k.salted_prefix_rows += rows(n)
    for n in nodes.values():
        if n.name not in _JOINS or "_ptok1" not in n.desc:
            continue
        k.candidate_rows += rows(n)
        k.cand_join.append(n.name)
        if n.cluster is not None:
            skew = duration_skew(nodes[n.cluster].metrics.get("duration", ""))
            if skew is not None:
                k.cand_skew.append(skew)
        dedupe: list[int] = []
        cur = n
        while cur.parents:
            cur = nodes[cur.parents[0]]
            if cur.name == "HashAggregate" and "functions=[]" in cur.desc:
                dedupe.append(rows(cur))
            elif "array_intersect" in cur.desc:
                k.verified_pairs += rows(cur)
                break
            elif cur.name not in _PASS_THROUGH and not dedupe:
                break
        k.distinct_candidates += min(dedupe) if dedupe else 0
    return k
