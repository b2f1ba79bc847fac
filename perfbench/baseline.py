"""Record a baseline: two interleaved sets of seeded runs of every
workload, with the median and quartiles of each end-to-end metric per
set and how far the second set's medians lie from the first's; two
traced runs of the first seed (per-layer metrics, and whether the
deterministic counters repeat exactly); and the tracing overhead.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--out perfbench/baseline]

Runs are sequential (one Spark JVM at a time). Each run's two JSON lines
(corpus record and result) are kept in ``runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


# Counters that must repeat exactly across traced runs of one seed.
DETERMINISTIC = (
    "similarity.prefix_rows", "similarity.salted_prefix_rows",
    "similarity.candidate_rows", "similarity.distinct_candidates",
    "similarity.verified_pairs", "similarity.shuffle_write_mb",
    "cache.builds", "cache.hits",
)


# Two sets of untraced runs of the same code; the benchmark is steady
# when their medians agree within each metric's bound.
SETS = ("first", "second")


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs so far."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    steal0, total0 = _cpu_jiffies()
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    steal1, total1 = _cpu_jiffies()
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": wall,
            # share of CPU time the hypervisor gave to other guests
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "record": json.loads(lines[-2]),
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--out", default=str(HERE / "baseline"))
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    seeds = _seeds(args.seeds)
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    runs: dict = {(w, s): [] for w in names for s in SETS}
    with (out / "runs.jsonl").open("w") as log:
        # Both sets run the same seeds, interleaved, so a slow phase of
        # the host falls on both alike.
        for seed in seeds:
            for set_name in SETS:
                for w in names:
                    r = run_once(w, seed, seconds, 0) | {"set": set_name}
                    log.write(json.dumps(r) + "\n")
                    log.flush()
                    runs[w, set_name].append(r)
                    print(f"{set_name} {w} seed {seed}: {r['wall_s']:.1f}s "
                          f"{ {k: round(v['value'], 3) for k, v in r['result']['metrics'].items()} }",
                          file=sys.stderr)
        summary: dict = {"run_seconds": seconds, "seeds": seeds, "workloads": {}}
        for w in names:
            entry: dict = {}
            for set_name in SETS:
                rs = runs[w, set_name]
                entry[set_name] = {
                    "correct": all(r["result"]["correct"] for r in rs),
                    "passes": sorted({r["record"]["passes"] for r in rs}),
                    "wall_s": spread([r["wall_s"] for r in rs]),
                    "steal_share": spread([r["steal_share"] for r in rs]),
                    "metrics": {
                        m["name"]: spread([r["result"]["metrics"][m["name"]]["value"]
                                           for r in rs]) | {"unit": m["unit"]}
                        for m in bench["end_to_end"]
                    },
                }
            first, second = (entry[s]["metrics"] for s in SETS)
            entry["second_vs_first"] = {
                m["name"]: second[m["name"]]["median"] / first[m["name"]]["median"] - 1.0
                for m in bench["end_to_end"]
            }
            traced = []
            for _ in range(2):
                t = run_once(w, seeds[0], seconds, 1)
                log.write(json.dumps(t) + "\n")
                traced.append({k: v["value"] for k, v in t["result"]["metrics"].items()})
            (out / f"per_layer_{w}.json").write_text(json.dumps(
                {"workload": w, "seed": t["seed"], "record": t["record"],
                 "correct": t["result"]["correct"], "metrics": traced[0]}, indent=1) + "\n")
            entry["deterministic_counters"] = {
                k: {"first": traced[0][k], "second": traced[1][k],
                    "equal": traced[0][k] == traced[1][k]}
                for k in DETERMINISTIC
            }
            untraced = first["run_s"]["median"]
            traced_run_s = statistics.median(t["trace.run_s"] for t in traced)
            entry["tracing_overhead"] = {
                "traced_run_s": traced_run_s,
                "untraced_run_s_median": untraced,
                "share": traced_run_s / untraced - 1.0,
            }
            summary["workloads"][w] = entry
    (out / "summary.json").write_text(json.dumps(summary, indent=1) + "\n")
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
