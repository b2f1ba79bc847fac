"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones from a traced run, whose spans are also
written to ``.perfbench_work/out/``.

A run: generate the workload's inputs from the seed; set up (import,
``get_spark``, ``load_registry``, one warm-up run of the workload's first
operation); then run passes over the workload's operations, closed-loop,
until ``--seconds`` have elapsed and at least ``MIN_PASSES`` passes ran.
Every operation fetches its whole output, which is checked after the
pass against a reference answer computed on DuckDB (cached per seed and
workload shape).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
from pathlib import Path

import spark_stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "hive_similarity_join_spark"
MASTER = "local[4]"
DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"
# run_s, cpu_s: medians over at least this many passes
MIN_PASSES = 2


def _configure_environment(work: Path) -> None:
    """Keep every file Spark and Python write inside the checkout, retain
    enough status-store history for one run's counters, and run the JVM
    with the C1 compiler only (``TieredStopAtLevel=1``): in a JVM that
    lives about a minute, C2 compilation competes with the four task
    threads and made one ``tier_family`` pass take 26-38 s; with C1 only
    it takes 18-22 s. The heap and its young generation have fixed sizes
    (``-Xms``, ``-Xmn``), so the heap's footprint, and with it the peak
    RSS, follows the live data rather than G1's pause-time-driven
    resizing: peak RSS ranged 1.1-1.9 GB over 20 runs with adaptive
    sizing, 1.29-1.36 GB over 8 runs with fixed sizes. The JVM's own
    worker threads are capped (two parallel and one concurrent GC thread,
    one compiler thread), so that with the four task threads, the driver
    thread and the Python client the run does not ask for many more
    threads than the machine has cores: with G1's default four GC
    threads, one operation (``q_simjoin_dice`` in the second pass) took
    1.3-2.1 s in some runs and 2.3-3.4 s in others; with the caps it
    took 1.3-1.9 s."""
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no hsperfdata files in the system temp directory, from either JVM
    jvm_files = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        f"--driver-java-options={jvm_files} -XX:TieredStopAtLevel=1 "
        f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:ParallelGCThreads=2 "
        "-XX:ConcGCThreads=1 -XX:CICompilerCount=1",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.ui.retainedTasks=1000000",
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell",
    ])


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ package next to {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import reference
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work"
    _configure_environment(work)
    tag = f"{wl.name}-{args.seed}-{wl.shape_id()}"
    sf_dir = work / "inputs" / tag
    props = wl.write_inputs(args.seed, sf_dir)

    # ---- set-up (timed): import, session, registry, one warm-up operation ----
    t_setup = time.perf_counter()
    from hive_similarity_join_spark import registry, session
    from hive_similarity_join_spark.operators import cache

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", master=MASTER)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    registry.load_registry()
    t2 = time.perf_counter()
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark, f"{tag}-{os.getpid()}")
        tracer.record("session.get_spark", "session", t0, t1)
        tracer.record("registry.load_registry", "registry", t1, t2)
        spans.patch_package(tracer, spans.CacheLedger(tracer, lambda: _storage_mb(spark)))
        tracer.phase = "warmup"

    def run_op(op):
        """One operation: the builder call plus the action that fetches its
        whole output (checked after the pass, outside every timing)."""
        df = op.build(spark, str(sf_dir))
        if tracer is None:
            return df.toPandas()
        # booked to a layer after the run, by the plan it executed
        with tracer.span(f"{op.layer}.action:{op.name}", "action"):
            return df.toPandas()

    outputs: list = []  # (op name, output) awaiting the check
    attempted = failed = 0

    def attempt(op) -> float:
        """Run ``op``; its wall time, until the output or the exception."""
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            outputs.append((op.name, run_op(op)))
        except Exception as e:  # a failing operation is counted, not fatal
            failed += 1
            print(f"perfbench: {op.name} raised {type(e).__name__}: {e}",
                  file=sys.stderr)
        dt = time.perf_counter() - t0
        # release what the operation persisted, as the registry's own
        # callers do between keys
        spark.catalog.clearCache()
        cache.release_pins()
        return dt

    # The warm-up is the workload's first operation, once: a whole pass
    # per run does not fit the run budget (see README.md).
    attempt(wl.ops[0])
    setup_s = time.perf_counter() - t_setup

    refs = reference.cached(work / "refs" / f"{tag}.json",
                            lambda: wl.references(sf_dir))

    def check() -> None:
        nonlocal failed
        for name, frame in outputs:
            got = reference.digest(frame)
            if got != refs[name]:
                failed += 1
                print(f"perfbench: {name} output {got} != reference {refs[name]}",
                      file=sys.stderr)
        outputs.clear()

    check()

    # ---- measured passes, closed loop, until --seconds have elapsed ----
    if tracer is not None:
        tracer.phase = "measure"
    first_exec = spark_stats.last_execution_id(spark)
    pass_times, pass_cpu, op_log = [], [], []
    t_measure = time.perf_counter()
    while True:
        # every pass builds its shared-generator tiers afresh
        cache.release_session_pins()
        seen = max(spark_stats.stage_costs(spark), default=-1)
        p0 = time.perf_counter()
        for op in wl.ops:
            op_log.append((op.name, attempt(op)))
        pass_times.append(time.perf_counter() - p0)
        pass_cpu.append(sum(
            c.cpu_s for c in spark_stats.stage_costs(spark, after=seen).values()))
        check()
        if (len(pass_times) >= MIN_PASSES
                and time.perf_counter() - t_measure >= args.seconds):
            break
    peak_rss_mb = _jvm_peak_rss_mb(spark)
    last_exec = spark_stats.last_execution_id(spark)

    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (statistics.median(pass_times), "s"),
            "op_gmean_s": (_op_gmean(op_log), "s"),
            "cpu_s": (statistics.median(pass_cpu), "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "ok_ratio": ((attempted - failed) / attempted, "1"),
        }
    else:
        import layers

        tracer.phase = "probe"
        layers.probe_token_dict(spark, tracer, str(sf_dir))
        metrics = layers.per_layer(spark, tracer, len(pass_times), first_exec,
                                   last_exec, statistics.median(pass_times))
        out = work / "out"
        out.mkdir(parents=True, exist_ok=True)
        (out / f"trace-{tag}.json").write_text(json.dumps(
            {"workload": wl.name, "seed": args.seed, "corpus": props,
             "metrics": {k: v[0] for k, v in metrics.items()},
             "spans": tracer.to_json()}, indent=1))

    _stop_spark(spark)
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "passes": len(pass_times),
        "op_s": [(name, round(dt, 4)) for name, dt in op_log],
        "corpus": props | {"reference_rows": {k: v["rows"] for k, v in refs.items()}},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _op_gmean(op_log) -> float:
    """Geometric mean, over the workload's operations, of each operation's
    median time over the passes. Every operation weighs alike, however
    long it takes. A median over all operation times would fall between
    two of the workload's operations, and jump with either of them."""
    by_op: dict[str, list[float]] = {}
    for name, dt in op_log:
        by_op.setdefault(name, []).append(dt)
    return statistics.geometric_mean(statistics.median(v) for v in by_op.values())


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / (1024.0 * 1024.0)


if __name__ == "__main__":
    sys.exit(main())
