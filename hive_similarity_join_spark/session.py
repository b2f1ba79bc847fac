"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace hand-tuned reducer counts
  (the Hive reference family tunes ``mapred.reduce.tasks`` by hand).
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster set it to ~2-3x total cores and let AQE coalesce.
- Pinned relations are AQE-sized too
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``).
  The VCL pipeline writes its stage boundaries to HDFS between MR jobs;
  the kernel keeps the same boundaries as ``cache.pin``-ed relations
  (the tokenized corpus, the rank-sorted ``(_id, _rks, _n)`` relation).
  Spark's default (``false``) builds every cached plan with final-stage
  coalescing and skew splitting OFF, so a pinned stage keeps all
  ``spark.sql.shuffle.partitions`` partitions — 32 in our sessions, 200
  in a plain one — and every consumer schedules a task per partition,
  almost all of them near-empty on a corpus-bounded relation. With the
  flag on, a pinned plan is coalesced by bytes and its skewed partitions
  are split, exactly like every other shuffle. The price Spark documents
  is that a consumer may need an extra shuffle, because the cached
  output no longer promises the partitioning of its last exchange. No
  registered query pays it: the explained plans of all keys carry the
  same number of shuffles either way (the kernel's consumers re-key the
  pinned relations anyway: prefix explode, salt repartition, verify
  joins on candidate pairs). Measured on 1,000 Zipf documents, three
  kernel joins per pass on local[4]: 877 -> 164 stage tasks per pass
  with identical stage row counts, and executor CPU time down ~29%.
  A fixed default, like ``skewJoin.enabled``; not a parameter.
- Session timezone pinned to UTC so timestamp semantics are independent of
  the host (and match the DuckDB oracle, which sees naive parquet values).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the
    driver's); used by the loader so every query runs with sane conf even
    when we did not build the session ourselves."""
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a locked-down session; keep going
    return spark


def get_spark(
    app_name: str = "hive-similarity-join-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # getActiveSession() is THREAD-local, but getOrCreate() falls back to
    # the PROCESS-global default session: a call from a thread that never
    # activated the session would see active=None yet still get the
    # owner's session back — and then clobber its shuffle sizing. Consult
    # the process-global default too (ADVICE r6; _instantiatedSession is
    # what getOrCreate() itself reuses — no public accessor in PySpark).
    pre_existing = (
        SparkSession.getActiveSession() or SparkSession._instantiatedSession
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Ownership rule for spark.sql.shuffle.partitions: on a REUSED
    # session with no explicit request, the session owner's sizing wins
    # (getOrCreate() APPLIES runtime builder configs to an existing
    # session, so the knob must stay OFF the builder in that case — a
    # caller that only wants the handle must not clobber an embedding
    # application's conf with our local-mode default). An EXPLICIT
    # request is honored either way via a runtime set below — builder
    # configs alone are not enough on some reuse paths (the r4/r5
    # driver benches ran explicitly-repartitioned keys 2.5x slow when a
    # harness's default-200 session leaked in; same ownership rule as
    # tune(), which never touches the knob).
    if pre_existing is None:
        builder = builder.config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
    spark = tune(builder.getOrCreate())
    if shuffle_partitions is not None or pre_existing is None:
        try:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
            )
        except Exception:
            # Swallows exactly one failure mode: conf.set on a session
            # whose owner marked the knob non-modifiable (locked-down /
            # Connect-style sessions raise CANNOT_MODIFY_CONFIG). The
            # session still works; shuffle sizing falls back to the
            # owner's value — correctness never depends on it
            # (CLAUDE.md non-negotiable #3).
            pass
    return spark
