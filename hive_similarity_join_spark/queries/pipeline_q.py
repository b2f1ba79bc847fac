"""Reshaping + temporal-join operators a training-data pipeline needs
(EXT surface beyond the reconstructed reference; SURVEY §2.3/§2.6).

Five plan families the rest of the suite didn't cover yet:

- PIVOT / UNPIVOT (Hive users emulate these with CASE WHEN + UNION ALL;
  Spark has first-class relational operators for both);
- AS-OF join — "latest prior event" — expressed WITHOUT a join: one
  window sort per user carries the last-seen value forward, which is
  the only formulation that survives a 100 TB event log (a naive
  theta-join is quadratic per user);
- range (interval) self-join with lossless time-bucket blocking: the
  equi-join key is (user, 30-min bucket) so the shuffle pairs only
  rows that can possibly match, then the exact interval predicate
  verifies — same blocking discipline as the similarity kernel;
- latest-per-key dedup (row_number desc = 1) — the canonical
  "keep newest snapshot" pipeline step;
- the corpus-cleaning composition (q_pipeline_corpus_clean): quality
  gate -> exact dedup -> near-dup removal, all stages sharing their
  expressions with the standalone keys, in one Catalyst plan.

Timestamp discipline matches events_q.py: ns parquet reads as us in
Spark, so oracle SQL casts TIMESTAMP_NS -> TIMESTAMP; timestamps are
emitted as formatted strings; time gaps are exact integer microseconds
(unix_micros / epoch_us), never float seconds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hive_similarity_join_spark.registry import query
from hive_similarity_join_spark.operators.cache import pin
from hive_similarity_join_spark.sources.loader import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_FMT = "%Y-%m-%d %H:%M:%S"


def _dsum(col, scale: int = 6):
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


@query(
    "q_pivot",
    oracle="""
SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
       CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS click,
       CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS error,
       CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS purchase,
       CAST(SUM(CAST(CASE WHEN event_type = 'signup' THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS signup,
       CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END
                     AS DECIMAL(18,6))) AS DOUBLE) AS view
FROM events
GROUP BY 1
""",
)
def q_pivot(spark, sf_dir):
    """PIVOT: day x event_type matrix of value sums. Explicit pivot
    values keep the plan single-pass (no distinct-scan to discover
    columns) — at scale the column set must be declared, not inferred.
    A day with no events of a type is NULL in both engines (CASE with
    no ELSE on the oracle side)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(_dsum(F.col("value")))
    )


@query(
    "q_unpivot",
    oracle="""
SELECT measure, CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
) m
GROUP BY measure
ORDER BY measure
""",
)
def q_unpivot(spark, sf_dir):
    """UNPIVOT (melt): three lineitem measures into (measure, val) rows
    — one pass over the fact table emitting 3 rows per input row
    map-side, vs the oracle's 3-scan UNION ALL; then a tiny re-agg
    proves the reshape. The 100 TB form of 'wide metrics to long'."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("measure")
        .agg(_dsum(F.col("val"), scale=4).alias("total"))
        .orderBy("measure")
    )


@query(
    "q_join_asof",
    oracle=f"""
SELECT event_id, user_id, strftime(ts, '{_FMT}') AS ts, last_click_id
FROM (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_id
  FROM events
) w
WHERE event_type = 'purchase'
""",
)
def q_join_asof(spark, sf_dir):
    """AS-OF join: each purchase paired with the user's most recent
    strictly-earlier click (NULL if none). No join at all: one window
    sorted on (ts, event_id) per user carries the last click id
    forward — a single shuffle on user_id, linear in the log, where
    the naive formulation (theta-join + argmax) re-pairs every
    purchase with every prior click. This is how Spark expresses the
    as-of join it lacks natively."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ck = F.when(F.col("event_type") == "click", F.col("event_id"))
    return (
        e.withColumn("last_click_id", F.last(ck, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "last_click_id",
        )
    )


@query(
    "q_join_asof_nearest",
    oracle=f"""
SELECT event_id, user_id, strftime(ts, '{_FMT}') AS ts,
       nearest_click_id, direction
FROM (
  SELECT event_id, user_id, ts, event_type,
         CASE
           WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
           WHEN next_id IS NULL THEN prev_id
           WHEN prev_id IS NULL THEN next_id
           WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
             THEN prev_id
           ELSE next_id END AS nearest_click_id,
         CASE
           WHEN prev_id IS NULL AND next_id IS NULL THEN NULL
           WHEN next_id IS NULL THEN 'prev'
           WHEN prev_id IS NULL THEN 'next'
           WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
             THEN 'prev'
           ELSE 'next' END AS direction
  FROM (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS) OVER w_prev AS prev_id,
           last_value(CASE WHEN event_type = 'click'
                           THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                      IGNORE NULLS) OVER w_prev AS prev_us,
           first_value(CASE WHEN event_type = 'click' THEN event_id END
                       IGNORE NULLS) OVER w_next AS next_id,
           first_value(CASE WHEN event_type = 'click'
                            THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                       IGNORE NULLS) OVER w_next AS next_us
    FROM events
    WINDOW
      w_prev AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      w_next AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
  )
) WHERE event_type = 'purchase'
""",
)
def q_join_asof_nearest(spark, sf_dir):
    """NEAREST as-of join (pandas merge_asof direction='nearest'): each
    purchase paired with the temporally closest click in EITHER
    direction — ties and the equal-distance case prefer the earlier
    side (deterministic, matches the backward key's strictly-earlier
    convention). Completes the as-of family: q_join_asof is backward,
    this key adds forward+nearest from the same single-shuffle shape.

    Still no join: two frames (last prior / first later) over ONE
    (user_id) partitioning and (ts, event_id) order — Spark plans both
    frames in one WindowExec with one Exchange+Sort, linear in the
    log. Distances compare as exact integer epoch MICROSECONDS
    (unix_micros / epoch_us — both engines count the same integer), so
    the prev/next pick can never drift on float rounding."""
    e = load_table(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_prev = base.rowsBetween(Window.unboundedPreceding, -1)
    w_next = base.rowsBetween(1, Window.unboundedFollowing)
    ck_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    ck_us = F.when(
        F.col("event_type") == "click", F.unix_micros(F.col("ts"))
    )
    prev_id = F.last(ck_id, ignorenulls=True).over(w_prev)
    prev_us = F.last(ck_us, ignorenulls=True).over(w_prev)
    next_id = F.first(ck_id, ignorenulls=True).over(w_next)
    next_us = F.first(ck_us, ignorenulls=True).over(w_next)
    here = F.unix_micros(F.col("ts"))
    d = (
        e.select(
            "event_id", "user_id", "ts", "event_type",
            prev_id.alias("prev_id"), prev_us.alias("prev_us"),
            next_id.alias("next_id"), next_us.alias("next_us"),
        )
        .filter(F.col("event_type") == "purchase")
    )
    prefer_prev = (here - F.col("prev_us")) <= (F.col("next_us") - here)
    nearest = (
        F.when(F.col("prev_id").isNull() & F.col("next_id").isNull(), F.lit(None))
        .when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(prefer_prev, F.col("prev_id"))
        .otherwise(F.col("next_id"))
    )
    direction = (
        F.when(
            F.col("prev_id").isNull() & F.col("next_id").isNull(),
            F.lit(None).cast("string"),
        )
        .when(F.col("next_id").isNull(), F.lit("prev"))
        .when(F.col("prev_id").isNull(), F.lit("next"))
        .when(prefer_prev, F.lit("prev"))
        .otherwise(F.lit("next"))
    )
    return d.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        nearest.alias("nearest_click_id"),
        direction.alias("direction"),
    )


@query(
    "q_join_range",
    oracle="""
SELECT e1.user_id, e1.event_id AS id1, e2.event_id AS id2,
       epoch_us(CAST(e2.ts AS TIMESTAMP)) - epoch_us(CAST(e1.ts AS TIMESTAMP))
           AS gap_us
FROM events e1
JOIN events e2
  ON e1.user_id = e2.user_id
 AND e2.ts > e1.ts
 AND e2.ts <= e1.ts + INTERVAL 30 MINUTE
""",
)
def q_join_range(spark, sf_dir):
    """Range (interval) self-join: ordered event pairs of the same user
    at most 30 minutes apart. The join key is (user_id, 30-min bucket)
    — the follower side also probes the preceding bucket, so the
    blocking is LOSSLESS for a 30-min radius while the shuffle only
    pairs rows that can possibly match (a bare user_id equi-join goes
    quadratic per user on a 100 TB log; an unkeyed theta-join is a
    broadcast-nested-loop). The exact interval predicate verifies."""
    bucket_us = 30 * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("_us")
    )
    a = e.select(
        "user_id",
        F.col("event_id").alias("id1"),
        F.col("_us").alias("_us1"),
        (F.col("_us") / bucket_us).cast("bigint").alias("_bkt"),
    )
    # follower rows probe their own bucket and the one before: ts2 in
    # (ts1, ts1+30min] implies bucket(ts2) - bucket(ts1) is 0 or 1
    b = (
        e.select(
            F.col("user_id").alias("_uid2"),
            F.col("event_id").alias("id2"),
            F.col("_us").alias("_us2"),
            (F.col("_us") / bucket_us).cast("bigint").alias("_b2"),
        )
        .withColumn("_bkt", F.explode(F.array(F.col("_b2"), F.col("_b2") - 1)))
        .drop("_b2")
    )
    return (
        a.join(b, (a["user_id"] == b["_uid2"]) & (a["_bkt"] == b["_bkt"]))
        .filter(
            (F.col("_us2") > F.col("_us1"))
            & (F.col("_us2") <= F.col("_us1") + bucket_us)
        )
        .select(
            "user_id",
            "id1",
            "id2",
            (F.col("_us2") - F.col("_us1")).alias("gap_us"),
        )
    )


@query(
    "q_dedup_latest",
    oracle=f"""
SELECT user_id, event_id, strftime(ts, '{_FMT}') AS ts, value
FROM (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events
) w
WHERE rn = 1
""",
)
def q_dedup_latest(spark, sf_dir):
    """Latest-per-key dedup: keep each user's newest event — the
    canonical 'current snapshot from an append-only log' step. One
    window shuffle on the key; ties on ts break by event_id so the
    survivor is deterministic on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "value",
        )
    )


@query(
    "q_scd2_history",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id)
             AS prev_type
  FROM events
),
ch AS (
  SELECT user_id, event_id, ts, event_type FROM e
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '{_FMT}') AS valid_from,
       strftime(lead(ts) OVER w, '{_FMT}') AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension TYPE-2 build from an append-only log:
    collapse each user's event stream into validity intervals of their
    ``event_type`` — one row per *change* with [valid_from, valid_to)
    bounds, a per-user version number, and an is_current flag (the
    dimension-table shape MERGE-based warehouses maintain incrementally;
    q_dedup_latest is the type-1 'current snapshot only' sibling).

    Two stacked windows on the SAME (user_id) partitioning and
    (ts, event_id) order: lag() marks change rows, then lead() closes
    each interval — Catalyst plans one sort + one exchange reused by
    both WindowExecs, so the whole history build is a single shuffle of
    the log keyed by user. Ties on ts break by event_id, making the
    change sequence deterministic on both engines; open intervals emit
    NULL valid_to (strftime/date_format of NULL agree). At 100 TB the
    log is already bucketed by user key and even that one exchange
    drops out."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
        .drop("_prev")
    )
    return ch.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.when(F.lead("ts").over(w).isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_current"),
    )


@query(
    "q_cdc_compact",
    oracle=f"""
WITH log AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events WHERE ts IS NOT NULL
),
rk AS (
  SELECT user_id, event_id, ts, value, op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM log
),
stats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_changes,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deletes
  FROM log GROUP BY user_id
)
SELECT r.user_id, r.value, strftime(r.ts, '{_FMT}') AS last_ts,
       s.n_changes, s.n_deletes
FROM rk r JOIN stats s ON s.user_id = r.user_id
WHERE r.rn = 1 AND r.op <> 'D'
""",
)
def q_cdc_compact(spark, sf_dir):
    """CDC CHANGELOG COMPACTION with tombstone semantics — the
    log-compaction primitive behind Kafka compacted topics, Hudi/
    Paimon MOR read paths and Delta CDF materialization, and the
    third leg of the warehouse-maintenance family next to
    q_merge_upsert (one MERGE batch) and q_scd2_history (full
    validity history): the events log is read as a per-user change
    stream (op = DELETE for 'error' rows — a deterministic ~20% of
    the log — else UPSERT), and compaction keeps each key's LATEST
    record by (ts, event_id) unless that record is a tombstone, in
    which case the key vanishes from the snapshot entirely. Emits
    (user_id, latest value, last_ts, n_changes, n_deletes) — the
    current-state table plus the churn stats a compaction scheduler
    reads (a key with many deletes and few survivors is reclaimable
    space).

    Determinism: (ts DESC, event_id DESC) is a strict total order;
    value is carried bit-for-bit; last_ts follows the _FMT
    string-emission convention for timestamps.

    Scale shape: ONE shuffle — the latest-record window and the churn
    aggregate both key on high-cardinality user_id, so Catalyst
    reuses the exchange; at 100 TB this is exactly the sorted-merge
    pass a compacting table service runs per file group, and the
    tombstone filter is the reason compaction SHRINKS data rather
    than freezing the newest version of every key ever seen."""
    e = load_table(spark, sf_dir, "events")
    log = e.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = log.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    stats = log.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_changes"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
    )
    return (
        latest.filter(F.col("op") != "D")
        .join(stats, "user_id")
        .select(
            "user_id",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "n_changes",
            "n_deletes",
        )
    )


Q_MIN_TOKENS = 5
Q_MIN_QUALITY = 0.5
CLEAN_NEAR_T = 0.9


def _quality_sql() -> str:
    from hive_similarity_join_spark.functions import text as TX

    return TX.duck_quality("bag")


def _clean_ctes() -> str:
    """The quality -> exact-dedup -> near-dedup CTE chain through
    ``clean`` — ONE definition consumed by both pipeline oracles
    (q_pipeline_corpus_clean and q_pipeline_llm_corpus), so an edit to
    any stage cannot desync them (the pq_sql_fragments discipline)."""
    from hive_similarity_join_spark.functions import text as TX

    return f"""bags AS (
  SELECT doc_id, text, lang, {TX.duck_bag()} AS bag FROM documents
),
scored AS (
  SELECT doc_id, text, lang, bag, len(bag) AS n_tokens,
         {_quality_sql()} AS quality
  FROM bags WHERE len(bag) > 0
),
kept AS (
  SELECT * FROM scored
  WHERE n_tokens >= {Q_MIN_TOKENS} AND quality >= {Q_MIN_QUALITY}
),
exact AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
surv AS (SELECT k.* FROM kept k JOIN exact e USING (doc_id)),
tok AS (
  SELECT DISTINCT s.doc_id, t.tok
  FROM surv s, unnest(string_split(lower(s.text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id1, id2 FROM inter
  JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {CLEAN_NEAR_T}
),
clean AS (
  SELECT s.* FROM surv s WHERE s.doc_id NOT IN (SELECT id2 FROM pairs)
)"""


def _clean_oracle() -> str:
    return f"""
WITH {_clean_ctes()}
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
FROM clean
"""


def _kept_relation(spark, sf_dir):
    """Quality-gate survivors (pure expressions — cheap to rebuild)."""
    from hive_similarity_join_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents")
    bagc = F.col("bag")
    scored = (
        d.select("doc_id", "text", "lang", TX.bag_tokens("text").alias("bag"))
        .filter(F.size("bag") > 0)
        .select(
            "doc_id",
            "text",
            "lang",
            "bag",
            F.size(bagc).alias("n_tokens"),
            (
                F.lit(0.5)
                * (F.size(F.array_distinct(bagc)).cast("double") / F.size(bagc))
                + F.lit(0.3)
                * F.least(F.size(bagc).cast("double") / F.lit(50.0), F.lit(1.0))
                + F.lit(0.2) * (F.lit(1.0) - TX.stopword_ratio(bagc))
            ).alias("quality"),
        )
    )
    return scored.filter(
        (F.col("n_tokens") >= Q_MIN_TOKENS) & (F.col("quality") >= Q_MIN_QUALITY)
    )


def _surv_of(kept):
    """Exact-dedup survivors of the quality-gate relation."""
    exact_keep = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(exact_keep, "doc_id", "left_semi")


def _near_dupe_ids(spark, sf_dir):
    """Session-pinned doc_ids the t=CLEAN_NEAR_T kernel drops from the
    exact-dedup survivors — r16 optimization: all three pipeline keys
    (corpus_clean, llm_corpus, stage_waterfall) re-ran the near-dup
    kernel over the survivors (~4-5 s apiece at sf0.1). Node-sized id
    set; the build's survivor subplan is plan-identical to the
    registry-pinned ``surv``, so the kernel reads the cached rows.
    Degrade is recompute."""
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.operators.similarity import similarity_join
    from hive_similarity_join_spark.queries.similarity_q import docs_rank_arrays

    def build():
        surv = _surv_of(_kept_relation(spark, sf_dir))
        # r17: survivors are a subset of documents, so the shared
        # corpus rank-array relation sliced to survivor ids is a
        # covering representation — identical pairs under any covering
        # dictionary (the ``prepare`` dictionary contract), and the
        # kernel skips its own tokenize/dictionary/sort stages.
        pairs = similarity_join(
            docs_rank_arrays(spark, sf_dir).slice(surv.select("doc_id")),
            threshold=CLEAN_NEAR_T,
        )
        return pairs.select(F.col("id2").alias("doc_id")).distinct()

    return session_ckpt("pipeline_near_dupe_ids", scope(spark, sf_dir), build)


def _clean_stages(spark, sf_dir):
    """The Spark twin of _clean_ctes: (doc_id, text, lang, bag,
    n_tokens, quality) through quality gate, exact dedup, and t=0.9
    near-dup removal — shared by both pipeline keys. The exact-dedup
    survivors persist (consumed by the kernel's candidate machinery
    AND the final anti-join). Returns the per-stage relations
    {kept, surv, clean} so the waterfall report counts the SAME
    relations the pipeline keys ship (anti-drift)."""
    kept = _kept_relation(spark, sf_dir)
    surv = pin(_surv_of(kept))
    dupes = _near_dupe_ids(spark, sf_dir)
    clean = surv.join(dupes, "doc_id", "left_anti")
    return {"kept": kept, "surv": surv, "clean": clean}


def _clean_relation(spark, sf_dir):
    """The cleaned corpus only — the seam both pipeline keys consume
    (unchanged contract; _clean_stages exposes the per-stage
    intermediates for the waterfall report)."""
    return _clean_stages(spark, sf_dir)["clean"]


@query("q_pipeline_corpus_clean", oracle=_clean_oracle())
def q_pipeline_corpus_clean(spark, sf_dir):
    """The training-data pipeline, end to end in ONE Catalyst plan:
    quality gate (token count + composite quality score) -> exact dedup
    (content groupBy, keep min id) -> near-dup removal (exact t=0.9
    kernel over the SURVIVORS ONLY, greedy keep-first) -> cleaned
    corpus (doc_id, lang, n_tokens). Each stage shrinks the input of
    the next — the cheap O(corpus) gates run before the expensive
    pair-generating join, which is the ordering that matters at 100 TB.
    Stage expressions are shared verbatim with q_text_quality /
    q_dedup_exact / q_dedup_near — and LITERALLY shared with
    q_pipeline_llm_corpus via _clean_relation / _clean_ctes — so the
    composition is oracle-checked with the same bit-exactness
    discipline as each stage alone."""
    return _clean_relation(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )


_MANIFEST_PRED = (
    "CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) / 4294967296.0 < r.sample_rate"
)


def _decon_ctes() -> str:
    """The decontamination + temperature-rate CTE chain through
    ``rates`` (consumes ``bags``/``clean`` from _clean_ctes) — shared
    by the llm-corpus oracle and the stage-waterfall oracle so the
    stage definitions cannot drift."""
    from hive_similarity_join_spark.queries.hygiene_q import _duck_grams
    from hive_similarity_join_spark.queries.search_q import _DECON_MOD, _DECON_N

    return f"""ev AS (
  SELECT DISTINCT t.g
  FROM bags b, unnest({_duck_grams(_DECON_N)}) AS t(g)
  WHERE b.doc_id % {_DECON_MOD} = 0 AND len(bag) >= {_DECON_N}
),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM clean c, unnest({_duck_grams(_DECON_N)}) AS t(g)
  JOIN ev ON ev.g = t.g
  WHERE len(c.bag) >= {_DECON_N}
),
decon AS (
  SELECT * FROM clean
  WHERE doc_id % {_DECON_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
lc AS (SELECT lang, count(*) AS n_lang FROM decon GROUP BY lang),
mn AS (SELECT min(n_lang) AS n_min FROM lc),
rates AS (
  SELECT lang,
         sqrt(CAST(mn.n_min AS DOUBLE) / CAST(lc.n_lang AS DOUBLE))
             AS sample_rate
  FROM lc, mn
)"""


def _llm_corpus_oracle() -> str:
    return f"""
WITH {_clean_ctes()},
{_decon_ctes()}
SELECT d.doc_id, d.lang, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       r.sample_rate
FROM decon d JOIN rates r USING (lang)
WHERE {_MANIFEST_PRED}
"""


def _contaminated_ids(spark, sf_dir):
    """Session-pinned doc_ids of CLEANED docs sharing an eval shingle
    (the decontamination hit set) — r16 optimization: llm_corpus and
    stage_waterfall each re-ran the gram explode + broadcast probe.
    Node-sized id set; degrade is recompute."""
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators.cache import scope, session_ckpt
    from hive_similarity_join_spark.queries.search_q import _DECON_MOD, _DECON_N

    def build():
        d = load_table(spark, sf_dir, "documents")
        clean = _clean_stages(spark, sf_dir)["clean"]
        grams = F.array_distinct(TX.word_ngrams(F.col("bag"), _DECON_N))
        ev = (
            d.select("doc_id", TX.bag_tokens("text").alias("bag"))
            .filter(
                (F.col("doc_id") % _DECON_MOD == 0)
                & (F.size("bag") >= _DECON_N)
            )
            .select(F.explode(grams).alias("g"))
            .distinct()
        )
        return (
            clean.filter(F.size("bag") >= _DECON_N)
            .select("doc_id", F.explode(grams).alias("g"))
            .join(F.broadcast(ev), "g")
            .select("doc_id")
            .distinct()
        )

    return session_ckpt("pipeline_contaminated_ids", scope(spark, sf_dir), build)


def _llm_stages(spark, sf_dir):
    """Per-stage relations of the LLM corpus build — {decon,
    manifest} on top of _clean_stages — so the waterfall report
    counts the SAME relations q_pipeline_llm_corpus ships
    (anti-drift; the _clean_stages discipline extended through the
    decontamination and sampling stages)."""
    from hive_similarity_join_spark.queries.search_q import _DECON_MOD

    stages = _clean_stages(spark, sf_dir)
    clean = stages["clean"]

    contaminated = _contaminated_ids(spark, sf_dir)
    decon = (
        clean.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(contaminated, "doc_id", "left_anti")
    )
    decon = pin(decon)

    rates = (
        decon.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_lang"))
        .crossJoin(
            F.broadcast(
                decon.groupBy("lang")
                .agg(F.count(F.lit(1)).alias("nl"))
                .agg(F.min("nl").alias("n_min"))
            )
        )
        .select(
            "lang",
            F.sqrt(
                F.col("n_min").cast("double") / F.col("n_lang").cast("double")
            ).alias("sample_rate"),
        )
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    manifest = (
        decon.join(F.broadcast(rates), "lang")
        .filter(coin < F.col("sample_rate"))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "sample_rate",
        )
    )
    return {**stages, "decon": decon, "manifest": manifest}


@query("q_pipeline_llm_corpus", oracle=_llm_corpus_oracle())
def q_pipeline_llm_corpus(spark, sf_dir):
    """The WHOLE LLM training-corpus build in one Catalyst plan —
    q_pipeline_corpus_clean extended through the remaining hygiene
    stages: quality gate -> exact dedup -> near-dup removal (t=0.9
    kernel over survivors) -> eval-set decontamination (any shared
    4-gram with the doc_id % 53 eval split drops the doc; the eval
    split itself never enters the corpus) -> temperature-flattened
    language resampling (T=2, rates computed over the POST-
    decontamination corpus — the mixture you actually train on, not
    the raw crawl). Output: the training manifest (doc_id, lang,
    n_tokens, sample_rate).

    Stage ORDER is the 100 TB optimization: O(corpus) scans first,
    the pair-generating join only over gated survivors, the broadcast
    decontamination probe only over near-dedup survivors, and the
    mixture aggregate over the smallest relation of all. Every stage
    shares its expressions verbatim with its standalone key
    (q_text_quality / q_dedup_exact / q_dedup_near / q_decontaminate /
    q_sample_temperature), and its front half LITERALLY with
    q_pipeline_corpus_clean (_clean_relation / _clean_ctes), so the
    composition is hash-checked with the same bit-exactness discipline
    as each stage alone."""
    return _llm_stages(spark, sf_dir)["manifest"]


VAL_HEX_CUTOFF = "1999999999999999"  # ~10% of the 64-bit hex space


@query(
    "q_split_train_val",
    oracle=f"""
SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '{VAL_HEX_CUTOFF}'
            THEN 'val' ELSE 'train' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
ORDER BY split, lang
""",
)
def q_split_train_val(spark, sf_dir):
    """Reproducible train/val split: assignment is a pure function of
    the stable id (md5 hex compared against a cutoff — ~10% val), so
    the split is identical on ANY engine, any partitioning, any run —
    the property a training pipeline needs from a split (a seeded
    random sample is only reproducible within one engine's RNG).
    Emits per-split-per-lang counts as the checkable summary."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    split = F.when(h < VAL_HEX_CUTOFF, "val").otherwise("train")
    return (
        d.groupBy(split.alias("split"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


_CURR_BANDS = 3


def _curriculum_oracle() -> str:
    from hive_similarity_join_spark.functions import text as TX

    return f"""
WITH bags AS (
  SELECT doc_id, {TX.duck_bag()} AS bag FROM documents
),
q AS (
  SELECT doc_id, {_quality_sql()} AS quality
  FROM bags WHERE len(bag) > 0
),
n AS (SELECT count(*) AS n FROM q),
rk AS (
  SELECT doc_id, quality,
         row_number() OVER (ORDER BY quality DESC, doc_id) AS qr
  FROM q
),
b AS (
  SELECT doc_id, quality, ((qr - 1) * {_CURR_BANDS}) // n.n AS band,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM rk, n
)
SELECT doc_id, quality, CAST(band AS BIGINT) AS band,
       CAST(row_number() OVER (ORDER BY band, h, doc_id) AS BIGINT)
           AS position
FROM b
"""


@query("q_curriculum_order", oracle=_curriculum_oracle())
def q_curriculum_order(spark, sf_dir):
    """Deterministic CURRICULUM ORDERING — the training-order artifact
    between the mixture keys (what to train on) and q_pack_sequences
    (how to batch it): docs are cut into {B} equal quality bands
    (highest-quality band first — curriculum learning's easy-to-hard
    schedule, Bengio et al. ICML 2009, with quality as the
    difficulty proxy a text pipeline actually has) and SHUFFLED
    within each band by id-hash, so the dataloader reads row
    `position` in order and gets banded progression with in-band
    decorrelation. Every step is a pure function of (doc_id, text):
    the same property q_split_train_val pins for splits, here for
    the full epoch order — any engine, any partitioning, any run
    lands byte-identical training curricula.

    Banding is integer math over a two-pass global rank
    (((qr-1) x {B}) div n), NOT ntile over an unpartitioned window —
    the suite-wide plan gate forbids single-partition windows over
    unbounded relations, and at 100 TB both ranks run as
    range-partitioned prefix scans (operators/rank.ranked_by).

    Scale shape: two ranked_by passes over the corpus (each: sampled
    range bounds + one local scan) plus one broadcast of the 1-row
    count — no corpus-sized collect, no full sort on a single
    executor; the hash shuffle column is md5 of the id, computed
    map-side."""
    from hive_similarity_join_spark.functions import text as TX
    from hive_similarity_join_spark.operators.rank import ranked_by

    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select("doc_id", TX.bag_tokens("text").alias("_bag"))
        .filter(F.size("_bag") > 0)
        .select(
            "doc_id",
            TX.quality_score_from_bag(F.col("_bag")).alias("quality"),
        )
    )
    n_rel = base.agg(F.count(F.lit(1)).alias("_n"))
    rk = ranked_by(base, [(-F.col("quality")), F.col("doc_id")], "qr")
    b = rk.crossJoin(F.broadcast(n_rel)).select(
        "doc_id",
        "quality",
        F.expr(f"((qr - 1) * {_CURR_BANDS}) div _n").alias("band"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h"),
    )
    return ranked_by(b, ["band", "h", "doc_id"], "position").select(
        "doc_id",
        "quality",
        F.col("band").cast("bigint").alias("band"),
        F.col("position").cast("bigint").alias("position"),
    )


q_curriculum_order.__doc__ = (q_curriculum_order.__doc__ or "").format(
    B=_CURR_BANDS
)


@query(
    "q_retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_d
  FROM events GROUP BY 1
),
a AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
)
SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cohort_d, d) AS BIGINT) AS day_n,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
""",
)
def q_retention_cohorts(spark, sf_dir):
    """Retention-cohort matrix over the event log: users grouped by
    first-seen day, counted on each later day they return — the
    (cohort_day, day_n) -> active-user matrix every product-analytics
    stack derives from its append-only log (and the growth twin of
    q_funnel_stages' conversion view).

    Shape: per-user first-day aggregate and a DISTINCT (user, day)
    activity relation, both keyed on user_id — two shuffles of
    user-sized relations join into the day-offset pairs, then the
    cohort-matrix aggregate is days x days sized (trivial at any
    corpus scale; the matrix, not the log, is the output). Counting
    rows of the pre-distincted activity relation replaces a
    count-distinct expansion in the final aggregate. Dates cross
    engines as formatted strings; day_n is exact integer date
    arithmetic."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_d")
    )
    act = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        act.join(first, "user_id")
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_d").cast("bigint").alias("day_n"),
        )
        .groupBy("cohort_day", "day_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@query(
    "q_funnel_stages",
    oracle="""
WITH s AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS st
           FROM events WHERE event_type = 'signup' GROUP BY 1),
c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ct
      FROM events e JOIN s ON s.user_id = e.user_id
                         AND CAST(e.ts AS TIMESTAMP) > s.st
      WHERE e.event_type = 'click' GROUP BY 1),
p AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS pt
      FROM events e JOIN c ON c.user_id = e.user_id
                         AND CAST(e.ts AS TIMESTAMP) > c.ct
      WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_signup_click,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS n_signup_click_purchase
""",
)
def q_funnel_stages(spark, sf_dir):
    """Ordered conversion funnel over the event log: users whose first
    signup precedes a click precedes a purchase (strict event-time
    order). Each stage is one conditional-min aggregate joined to the
    previous stage's frontier — per-stage shuffles keyed on user_id,
    no window over the whole log, no event-sequence blowup."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("st"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ct"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pt"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .join(c.agg(F.count(F.lit(1)).alias("n_signup_click")))
        .join(p.agg(F.count(F.lit(1)).alias("n_signup_click_purchase")))
    )


MIX_CASE_SQL = """CASE source WHEN 'src0' THEN 'g' WHEN 'src1' THEN 'c'
                  WHEN 'src2' THEN '8' WHEN 'src3' THEN '4' ELSE '2' END"""


@query(
    "q_sample_mixture",
    oracle=f"""
SELECT doc_id, source, lang
FROM documents
WHERE md5('mix:' || CAST(doc_id AS VARCHAR)) < {MIX_CASE_SQL}
""",
)
def q_sample_mixture(spark, sf_dir):
    """Pretraining mixture construction: downsample each source at its
    own rate (src0 keep-all, src1 3/4, src2 1/2, src3 1/4, tail 1/8)
    with a deterministic per-doc coin — keep when the doc's salted
    id-hash falls below the source's threshold. Rates are expressed as
    HEX-PREFIX thresholds compared as strings ('8' keeps the half of
    md5 space starting 0-7), which sidesteps hex->int conversion (not
    expressible in DuckDB 1.0) and makes the coin engine-portable.
    Pure per-row map work — no shuffle, no sort, scales linearly; the
    'mix:' salt decorrelates this coin from the split/sample keys'
    hashes so composed pipelines don't accidentally reuse randomness."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")).cast("binary"))
    thresh = (
        F.when(F.col("source") == "src0", F.lit("g"))
        .when(F.col("source") == "src1", F.lit("c"))
        .when(F.col("source") == "src2", F.lit("8"))
        .when(F.col("source") == "src3", F.lit("4"))
        .otherwise(F.lit("2"))
    )
    return d.filter(h < thresh).select("doc_id", "source", "lang")


PACK_BUDGET = 2048


@query(
    "q_pack_sequences",
    oracle=f"""
SELECT doc_id, source,
       CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                   - n_chars) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING)
            - n_chars AS BIGINT) AS start_offset
FROM documents
""",
)
def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-chunk sequence packing (the GPT-style pretraining
    layout): docs are laid end-to-end per source in deterministic
    doc_id order and cut every {PACK_BUDGET} chars; a doc's bin is the
    chunk its start offset lands in.

    Scale (r10 de-weak): a running-sum window partitioned by the
    handful of sources would sort the whole corpus through |sources|
    tasks. The two-pass distributed scan (operators/scan.py
    grouped_prefix_scan) computes the identical inclusive running sum
    at full cluster width — the (source, doc_id) order is strict, so
    every start offset is deterministic; at 100 TB the group key is
    whatever unit a shard must stay contiguous within (source
    here)."""
    from hive_similarity_join_spark.operators.scan import (
        grouped_prefix_scan,
    )

    d = load_table(spark, sf_dir, "documents")
    cum = grouped_prefix_scan(
        d.select("doc_id", "source", "n_chars"),
        ["source"],
        ["doc_id"],
        [("n_chars", "sum", "_incl")],
    )
    start = F.col("_incl") - F.col("n_chars")
    return cum.select(
        "doc_id",
        "source",
        F.floor(start / F.lit(float(PACK_BUDGET))).cast("bigint").alias("bin_id"),
        start.cast("bigint").alias("start_offset"),
    )


SHUFFLE_EXPORT_N = 500


@query(
    "q_shuffle_export",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
LIMIT {SHUFFLE_EXPORT_N}
""",
)
def q_shuffle_export(spark, sf_dir):
    """Deterministic global shuffle for training-data export: order the
    corpus by an id-hash (uniform-but-frozen permutation — the batch
    order a trainer reads) and take the first {SHUFFLE_EXPORT_N}. The
    hash ordering breaks any source/time locality in the raw table
    without a true RNG, so the 'shuffle' is reproducible across engines
    and re-runs. limit-after-sort plans as TakeOrderedAndProject: per
    partition a bounded top-N heap, then one driver merge of N*parts
    rows — no global sort at any scale. (A FULL shuffled export at
    100 TB is the same expression minus the limit: range-partitioned
    sort on the hash, written partition-per-shard.)"""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return (
        d.select("doc_id", "lang", "source")
        .orderBy(h, "doc_id")
        .limit(SHUFFLE_EXPORT_N)
    )


STRATA_N = 20


@query(
    "q_sample_stratified",
    oracle=f"""
SELECT lang, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS rn
  FROM documents
) r
WHERE rn <= {STRATA_N}
""",
)
def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic subsample: the {STRATA_N} docs per lang
    with the smallest id-hash. The hash order is uniform-but-frozen, so
    the 'random' sample is reproducible across engines, runs, and
    partitionings — same rationale as q_split_train_val, applied to
    per-group downsampling (cap every language at N docs). One window
    shuffle on the group key; no global sort."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATA_N)
        .select("lang", "doc_id", "n_chars")
    )


# ----------------------- deterministic fixed-size reservoir sample


RESERVOIR_K = 40


@query(
    "q_sample_reservoir",
    oracle=f"""
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk
  FROM documents
) WHERE rk <= {RESERVOIR_K}
""",
)
def q_sample_reservoir(spark, sf_dir):
    """Fixed-SIZE per-source sample — reservoir sampling,
    derandomized: rank every document by (md5(doc_id), doc_id) within
    its source and keep the first K. Completes the deterministic
    sampling family (q_sample_temperature resizes by RATE,
    q_sample_stratified by fraction, this one by COUNT — the shape an
    eval-set builder or per-domain inspection queue needs), and unlike
    a true reservoir it is reproducible and oracle-checkable.

    Scale: hash-rank top-k per group is one partitioned window (one
    shuffle on source); Spark pushes the rank filter into the sort as
    a per-partition top-K (WindowGroupLimit), so state per group is
    O(K), which is exactly the reservoir-sampling guarantee."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= RESERVOIR_K)
    )


# ------------- interval-overlap join (session concurrency histogram)

_IVL_GAP_US = 30 * 60 * 1_000_000  # sessionization gap AND bucket width


@query(
    "q_join_interval_overlap",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_us,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                   OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                      >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
),
grp AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM ordered
),
sess AS (
  SELECT user_id, sid,
         epoch_us(min(ts_us)) AS s, epoch_us(max(ts_us)) AS e
  FROM grp GROUP BY user_id, sid
),
pairs AS (
  SELECT a.user_id AS u1, a.s AS s1, b.user_id AS u2, b.s AS s2
  FROM sess a JOIN sess b
    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
),
ends AS (
  SELECT u1 AS u, s1 AS s FROM pairs
  UNION ALL
  SELECT u2, s2 FROM pairs
),
conc AS (SELECT u, s, count(*) AS k FROM ends GROUP BY u, s),
per AS (
  SELECT COALESCE(c.k, 0) AS k
  FROM sess LEFT JOIN conc c ON c.u = sess.user_id AND c.s = sess.s
)
SELECT CAST(k AS BIGINT) AS concurrency,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM per GROUP BY k ORDER BY concurrency
""",
)
def q_join_interval_overlap(spark, sf_dir):
    """Interval-overlap join (the Flink interval-join / concurrent-
    sessions analytic): gap-sessionize the event log, then join
    session intervals of DIFFERENT users on true time overlap
    (s1 <= e2 AND s2 <= e1) and report the concurrency histogram —
    how many other users' sessions each session coexists with,
    including the zero bucket. q_join_range is point-vs-radius on one
    key; this is interval-vs-interval with NO equi-key, the join
    Spark would otherwise plan as a broadcast-nested-loop over the
    full session cross product.

    Scale path: each interval explodes into the 30-min time buckets
    it spans; candidates pair within a bucket only. The dedup that
    normally follows (a pair shares every bucket the overlap spans)
    is FREE here: a pair is attributed to exactly the bucket holding
    max(s1, s2) — for a truly overlapping pair that instant lies in
    both intervals, hence in both explode ranges, and in exactly one
    bucket — so no DISTINCT shuffle over the pair relation exists in
    the plan. Bucket width is the scale dial (candidate fan-in per
    bucket vs explode factor per interval); it equals the session gap
    here so a single-event session explodes to one row. Everything
    after the candidate filter is exact-integer epoch-microsecond
    arithmetic and counting (sf0.1: 95,465 sessions, 151,452
    overlapping pairs — data-bound, the histogram is ~tens of rows).

    Same-user session pairs cannot overlap by construction (the gap
    rule puts >= 30 min of silence between a user's consecutive
    sessions), so u1 < u2 canonicalizes without loss.

    event_sessions / overlap_histogram are shared verbatim with the
    streaming mirror (streaming/incremental_sessions.py), so the
    mirror cannot drift from the key it mirrors."""
    e = load_table(spark, sf_dir, "events")
    return overlap_histogram(event_sessions(e))


def event_sessions(events) -> "DataFrame":
    """Gap-sessionized intervals (user_id, s, e) in exact epoch
    microseconds — 30-min gap, the q_stream_session rule."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
        .select("user_id", "s", "e")
    )


def overlap_histogram(sess) -> "DataFrame":
    """Concurrency histogram of an interval relation (user_id, s, e):
    the bucketed overlap join + max-start attribution described in
    q_join_interval_overlap's docstring."""
    spans = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr(f"s div {_IVL_GAP_US}"), F.expr(f"e div {_IVL_GAP_US}"))
        ).alias("bkt"),
    )
    left = spans.select(
        F.col("user_id").alias("u1"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
        "bkt",
    )
    right = spans.select(
        F.col("user_id").alias("u2"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
        "bkt",
    )
    pairs = (
        left.join(right, "bkt")
        .filter(
            (F.col("u1") < F.col("u2"))
            & (F.col("s1") <= F.col("e2"))
            & (F.col("s2") <= F.col("e1"))
            # attribute the pair to the ONE bucket holding max(s1, s2)
            & (
                F.expr(f"greatest(s1, s2) div {_IVL_GAP_US}") == F.col("bkt")
            )
        )
        .select("u1", "s1", "u2", "s2")
    )
    ends = pairs.select(
        F.col("u1").alias("u"), F.col("s1").alias("s")
    ).unionAll(pairs.select(F.col("u2").alias("u"), F.col("s2").alias("s")))
    conc = ends.groupBy("u", "s").agg(F.count(F.lit(1)).alias("k"))
    per = sess.join(
        conc,
        (sess["user_id"] == conc["u"]) & (sess["s"] == conc["s"]),
        "left",
    ).select(F.coalesce(F.col("k"), F.lit(0)).cast("bigint").alias("k"))
    return (
        per.groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .select(F.col("k").alias("concurrency"), "n_sessions")
        .orderBy("concurrency")
    )


# ------------------------------------------------ compaction planning

_COMPACT_TARGET = 2000  # target output-file payload (chars as the proxy)


@query(
    "q_compaction_plan",
    oracle=f"""
WITH c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM documents
),
b AS (
  SELECT source, doc_id, n_chars,
         (cum - n_chars) // {_COMPACT_TARGET} AS file_seq
  FROM c
)
SELECT source, CAST(file_seq AS BIGINT) AS file_seq,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS bytes,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       CAST(sum(n_chars) AS DOUBLE) / {_COMPACT_TARGET} AS fill_frac
FROM b GROUP BY 1, 2
""",
)
def q_compaction_plan(spark, sf_dir):
    """SMALL-FILE COMPACTION PLANNER (the OPTIMIZE/bin-pack pass of a
    lakehouse writer, planned declaratively): within each source, in
    stable doc_id order, documents are packed next-fit into target-
    size output files of {T} payload chars — file_seq = how many full
    targets the RUNNING total had already consumed when the doc
    arrived (the split-by-cumulative-size rule every bulk writer
    uses; n_chars is the stand-in for on-disk bytes). Emits one row
    per planned output file: (source, file_seq, n_docs, bytes,
    min_doc, max_doc, fill_frac) — min/max doc_id double as the
    file's zone-map entry, connecting this to the q_zonemap_pruning /
    q_zorder_layout layout family.

    Scale shape: source is LOW-cardinality, so the running sum goes
    through operators/scan.py grouped_prefix_scan (two-pass
    range-partitioned scan; a window partitioned only by source is
    the exact suite-banned single-reducer trap), then one
    partial-aggregated rollup keyed (source, file_seq). Exactness:
    cum/file_seq are bigint floor-division; fill_frac is one double
    division per output row.""".format(T=_COMPACT_TARGET)
    from hive_similarity_join_spark.operators.scan import (
        grouped_prefix_scan,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    cum = grouped_prefix_scan(
        d, ["source"], ["doc_id"], [("n_chars", "sum", "cum")]
    )
    b = cum.select(
        "source",
        "doc_id",
        "n_chars",
        # `div` = exact bigint integral division (a double `/` would
        # round past 2^53 — cum is corpus-cumulative at 100 TB)
        F.expr(f"(cum - n_chars) div {_COMPACT_TARGET}").alias("file_seq"),
    )
    return b.groupBy("source", "file_seq").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        (
            F.sum("n_chars").cast("double") / F.lit(float(_COMPACT_TARGET))
        ).alias("fill_frac"),
    )


# ------------------------------------------ pipeline stage waterfall

_WF_STAGES = (
    "raw", "quality_gate", "exact_dedup", "near_dedup",
    "decontaminate", "sampled",
)


def _waterfall_oracle() -> str:
    return f"""
WITH {_clean_ctes()},
{_decon_ctes()},
c0 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(len(bag)), 0) AS BIGINT) AS t
  FROM bags
),
c1 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
  FROM kept
),
c2 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
  FROM surv
),
c3 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
  FROM clean
),
c4 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
  FROM decon
),
c5 AS (
  SELECT CAST(count(*) AS BIGINT) AS d,
         CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t
  FROM (
    SELECT d.n_tokens FROM decon d JOIN rates r USING (lang)
    WHERE {_MANIFEST_PRED}
  )
)
SELECT CAST(0 AS BIGINT) AS stage_seq, 'raw' AS stage,
       c0.d AS n_docs, c0.t AS n_tokens, 1.0 AS kept_frac FROM c0
UNION ALL SELECT 1, 'quality_gate', c1.d, c1.t,
       CAST(c1.d AS DOUBLE) / c0.d FROM c1, c0
UNION ALL SELECT 2, 'exact_dedup', c2.d, c2.t,
       CAST(c2.d AS DOUBLE) / c1.d FROM c2, c1
UNION ALL SELECT 3, 'near_dedup', c3.d, c3.t,
       CAST(c3.d AS DOUBLE) / c2.d FROM c3, c2
UNION ALL SELECT 4, 'decontaminate', c4.d, c4.t,
       CAST(c4.d AS DOUBLE) / c3.d FROM c4, c3
UNION ALL SELECT 5, 'sampled', c5.d, c5.t,
       CAST(c5.d AS DOUBLE) / c4.d FROM c5, c4
"""


@query("q_pipeline_stage_waterfall", oracle=_waterfall_oracle())
def q_pipeline_stage_waterfall(spark, sf_dir):
    """The corpus build's STAGE WATERFALL — pipeline observability as
    an operator: one row per stage of the q_pipeline_llm_corpus build
    (raw -> quality gate -> exact dedup -> near-dup removal ->
    decontamination -> temperature sampling) with surviving docs,
    surviving tokens, and the stage's keep fraction — the first
    dashboard a pipeline operator reads (an unexpected cliff in
    kept_frac is how a broken filter or a poisoned source announces
    itself), and the provenance record a data card quotes.

    Anti-drift is the whole design: the stage relations are the SAME
    DataFrames the shipping keys return (_clean_stages / _llm_stages
    seams; the oracle composes the same _clean_ctes + _decon_ctes the
    llm-corpus oracle runs), so the waterfall cannot disagree with
    the pipeline it describes. Each stage is a 1-row aggregate; the
    keep fractions are single exact-int divisions against the
    previous stage's 1-row result — at 100 TB this key costs the
    pipeline's own passes plus six count/sum aggregates."""
    d = load_table(spark, sf_dir, "documents")
    st = _llm_stages(spark, sf_dir)

    def agg(df, tokens_col):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("d"),
            F.coalesce(F.sum(tokens_col), F.lit(0))
            .cast("bigint")
            .alias("t"),
        )
    from hive_similarity_join_spark.functions import text as TX

    raw = agg(d.select(F.size(TX.bag_tokens("text")).alias("nt")), "nt")
    stage_aggs = [raw] + [
        agg(st[k], "n_tokens")
        for k in ("kept", "surv", "clean", "decon", "manifest")
    ]
    out = None
    for i, name in enumerate(_WF_STAGES):
        cur = stage_aggs[i]
        if i == 0:
            row = cur.select(
                F.lit(0).cast("bigint").alias("stage_seq"),
                F.lit(name).alias("stage"),
                F.col("d").alias("n_docs"),
                F.col("t").alias("n_tokens"),
                F.lit(1.0).alias("kept_frac"),
            )
        else:
            prev = stage_aggs[i - 1].select(
                F.col("d").alias("_pd")
            )
            row = cur.crossJoin(F.broadcast(prev)).select(
                F.lit(i).cast("bigint").alias("stage_seq"),
                F.lit(name).alias("stage"),
                F.col("d").alias("n_docs"),
                F.col("t").alias("n_tokens"),
                (F.col("d").cast("double") / F.col("_pd")).alias(
                    "kept_frac"
                ),
            )
        out = row if out is None else out.unionByName(row)
    return out
