"""Explicit partition sizing: explicit-count join sides
(:func:`hash_placed`) and the one way operators spread a few-partition
input (:func:`spread`).

Several operators repartition explicitly because their joins have tiny
INPUTS but quadratic candidate OUTPUTS — AQE sizes post-shuffle
partitions by map-output bytes and would coalesce the join (and the
verify behind it) to ~1 task. A user-specified partition count is
exempt from that coalescing. Those explicit counts must NOT inherit
``spark.sql.shuffle.partitions`` verbatim: the session conf is sized
for generic large shuffles (the external driver's plain session runs
Spark's default 200), while these relations are corpus-bounded — a
200-way repartition of a ~50k-row band relation pays ~6x the
task-scheduling overhead of the work itself (driver r4/r5:
q_dedup_minhash_lsh 21s vs the 8.6s builder baseline at 32; VERDICT r5
flagged this as the one reproducible systematic gap).

``sc.defaultParallelism`` is the right signal instead: total cluster
cores (local[32] -> 32 in BOTH the builder's and the driver's session;
a 1000-executor x 4-core cluster -> 4000), i.e. one wave of tasks over
whatever hardware actually exists, independent of the generic shuffle
sizing knob. Callers that need MORE than one wave (e.g. memory-bound
verify fan-out) can scale the returned value explicitly.

The rule for a shuffled join's inputs: an explicit count holds only
when the join's child is NOT a bare exchange. When every child of a
shuffled join is a ``ShuffleExchange``, ``EnsureRequirements`` treats
them all as re-shuffles and widens them to at least
``spark.sql.shuffle.partitions``. If the leaves carry no statistics (a
``localCheckpoint``-ed shared relation), those widened stages run
first; AQE may then switch the join to broadcast and re-insert the
requested count as a second exchange on top, so every row is shuffled
twice. :func:`hash_placed` therefore hash-partitions on the RAW key
columns and renames afterwards: the child is a ``Project`` whose output
partitioning is ``HashPartitioning(keys, n)``, two such sides are
already co-partitioned, and ``EnsureRequirements`` leaves them alone.
Every explicit-count input of a shuffled join goes through it, except
``q_dedup_lsh_band_sweep``'s skewed band join, which measurably needs
the widened count (its docstring has the numbers). Broadcast-hinted sides and single-input ``repartition -> distinct``
steps need no helper.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parallelism(obj: DataFrame | SparkSession) -> int:
    """Total scheduler cores for ``obj``'s session (see module doc)."""
    spark = obj.sparkSession if isinstance(obj, DataFrame) else obj
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        # Sessions without a driver-side SparkContext (Connect-style):
        # fall back to the conf rather than guessing at hardware.
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))


def hash_placed(df: DataFrame, keys: list[str], names: dict[str, str]) -> DataFrame:
    """One input of a shuffled join: ``df`` hash-partitioned on its raw
    ``keys`` into :func:`parallelism` partitions, THEN projected to
    ``names`` (raw column -> join-side name; unlisted columns are
    dropped). The rename sits above the exchange so the join sees a
    partitioned ``Project``, not a bare exchange (see module doc)."""
    placed = df.select(*names).repartition(parallelism(df), *keys)
    return placed.select(*[F.col(src).alias(dst) for src, dst in names.items()])


# Physical-plan nodes whose presence means reading the partition count
# would execute part of the plan: under AQE ``df.rdd`` materializes every
# query stage (shuffle and broadcast alike), and without AQE a broadcast
# or range-partitioned exchange still runs its job while the RDD is built.
_EAGER_NODE = re.compile(r"^[\s:+|-]*(AdaptiveSparkPlan|\w*Exchange|\w*Subquery)\b", re.M)


def spread(df: DataFrame) -> DataFrame:
    """``df`` spread over at least :func:`parallelism` partitions, decided
    without launching a Spark job.

    Every map stage downstream of a scan (tokenize, explode, prefix emit)
    inherits the scan's partitioning, so a small single-file input would
    run that work on one or two cores. A plan that is only scans and
    narrow operators reports its partition count from the file splits at
    no cost; it is spread only when that count is below
    :func:`parallelism`, and at real scale (many files) this is a no-op.

    A plan with an exchange is spread unconditionally. Its partition
    count is decided by AQE at run time, and reading it first would run
    the upstream shuffle as a job of its own that the real query then
    runs again. An input small enough to need spreading is exactly the
    one AQE coalesces below the core count, and a round-robin of an
    already-shuffled relation costs one exchange of its rows, never a
    second run of the plan that produced them.
    """
    n_part = parallelism(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if _EAGER_NODE.search(plan) or df.rdd.getNumPartitions() < n_part:
        return df.repartition(n_part)
    return df
