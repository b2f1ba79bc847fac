"""First-class skewed-join salting, the one home of the salting rule:
``all_salts`` and ``one_salt`` build the two salt columns, for the
similarity kernels' candidate join (operators/similarity.py
``_placed_side``) and for ``salted_join``, the reusable operator for
ANY equi join with hot keys.

The problem: a hash join shuffles both sides on the join key, so every
row of a hot key lands in ONE reducer task — at 100 TB a single
pathological key (the null-ish customer, the empty-string token, the
default user id) serializes the whole stage. AQE's skew-join splitting
(spark.sql.adaptive.skewJoin) rescues SORT-MERGE joins whose skew is
visible in map statistics; salting fixes it IN THE PLAN, works for any
join the optimizer picks, and handles output-side blowup (AQE sizes by
map output, which under-estimates a join whose output is much larger
than its input — the similarity kernel's exact situation).

Scheme (the classic): pick a fan-out n. The LEFT side gets a
deterministic salt in [0, n) derived by hashing a spreading column (a
high-cardinality column — the row's id — NOT the join key); the RIGHT
side is replicated n times, once per salt value. Join on
(key, salt): each left row meets exactly one replica of each matching
right row, so the result multiset is IDENTICAL to the unsalted join,
while each hot key's left rows spread across n reducer partitions.
Cost: the right side shuffles n copies — choose the smaller side as
RIGHT, and n around the per-executor core count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hive_similarity_join_spark.operators.partitions import parallelism

_SALT = "_skew_salt"


def all_salts(n: int) -> Column:
    """Replicated-side salt: every row is exploded into all ``n`` salts."""
    return F.explode(F.array(*[F.lit(i) for i in range(n)]))


def one_salt(cols: list[str], n: int) -> Column:
    """Spread-side salt: each row lands on exactly one of ``n`` salts,
    by the combined hash of ``cols``."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    spread_col: str | list[str],
    how: str = "inner",
    n_salts: int | None = None,
) -> DataFrame:
    """Equi-join ``left`` with ``right`` on ``on``, with left-side skew
    split across ``n_salts`` salted partitions. ``spread_col`` names
    one or more left columns whose COMBINED hash must vary within a
    hot key's rows (a row id, or the key plus a discriminator column);
    it must not be exactly the join key(s) — hashing only the key
    would put every hot-key row back in one salt partition. A
    low-cardinality spread silently wastes most right-side replicas
    (hash of k distinct values hits at most k salts), so prefer a
    genuine row id.

    Supports how in {inner, left}: those are the joins where every
    left row's salt meets exactly one replica of each matching right
    row. (right/full outer would emit the unmatched right side once
    per salt — use the unsalted join or swap sides for those.)

    Result is EXACTLY the plain ``left.join(right, on, how)`` multiset
    (pytest-pinned); only the shuffle layout changes.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    spread = [spread_col] if isinstance(spread_col, str) else list(spread_col)
    if set(spread) <= set(keys):
        raise ValueError(
            "spread_col must include a column beyond the join key(s)"
        )
    n = n_salts or parallelism(left.sparkSession)
    return left.withColumn(_SALT, one_salt(spread, n)).join(
        right.withColumn(_SALT, all_salts(n)), keys + [_SALT], how
    ).drop(_SALT)
