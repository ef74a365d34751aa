"""Event-stream analytics over the ``events`` fixture (batch side).

The reference has no streaming operators (SURVEY §1.1) — these queries are
the batch formulations of the north-star stream patterns: tumbling-window
aggregation, sessionization, and JSON payload extraction. The Structured
Streaming versions live in minimised_impala_spark/streaming/ and reuse the
same logic.

Scale notes: tumbling windows reduce to a single hash aggregation on
(window_start, event_type) — fully parallel; sessionization shuffles once
on user_id then runs window functions within each user's partition slice,
which is the minimal-shuffle plan for gap-based sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.seams import seam
from minimised_impala_spark.tables import load_table


# --------------------------------------------------------------------------
# Tumbling 1-hour window aggregate — Spark's window() operator; oracle uses
# time_bucket (identical alignment for hour buckets).
@query(
    "events_window_agg",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value) * 100) / 100 AS total_value
FROM events
GROUP BY window_start, event_type
HAVING count(*) >= 5
ORDER BY window_start, event_type
""",
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("value") * 100, 0) / 100).alias("total_value"),
        )
        .filter(F.col("n") >= 5)
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session (lag + running sum of
# boundary flags — the classic window-function formulation; the streaming
# equivalent uses session_window in streaming/windows.py).
@query(
    "events_sessionize",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
HAVING count(*) >= 20
ORDER BY user_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (F.col("ts").cast("long") - prev_ts.cast("long") > 1800),
        1,
    ).otherwise(0)
    # n_sessions = Σ new_session directly: the running-sum session_id is a
    # counter that increments exactly on new_session = 1 (the first event
    # per user always flags, lag IS NULL), so count(DISTINCT session_id)
    # == sum(new_session). This drops the second full window pass AND the
    # countDistinct two-phase expansion — ONE window + ONE plain aggregate
    # over the same user_id partitioning, so the window and the groupBy
    # share one exchange of the events. The oracle keeps
    # the session_id/count-distinct formulation — a structurally
    # different evaluation of the same quantity.
    return (
        ev.select("user_id", "ts", "event_id")
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") >= 20)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# JSON payload extraction (props is a JSON string; the reference has no JSON
# functions — Spark-native extension).
@query(
    "events_json_extract",
    oracle="""
SELECT CAST(props->>'$.k' AS INT) % 10 AS k_bucket,
       count(*) AS n,
       round(sum(value) * 100) / 100 AS total_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("value") * 100, 0) / 100).alias("total_value"),
        )
        .orderBy("k_bucket")
    )


# --------------------------------------------------------------------------
# Event funnel: conditional aggregation per user → distribution
# (signup→view→purchase progression).
@query(
    "events_funnel",
    oracle="""
SELECT stage, count(*) AS n_users FROM (
  SELECT user_id,
         CASE WHEN bool_or(event_type = 'purchase') THEN 'purchased'
              WHEN bool_or(event_type = 'view')     THEN 'viewed'
              ELSE 'other' END AS stage
  FROM events
  GROUP BY user_id
) t GROUP BY stage
ORDER BY stage
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("event_type") == "purchase").alias("purchased"),
        F.max(F.col("event_type") == "view").alias("viewed"),
    )
    return (
        per_user.select(
            F.when(F.col("purchased"), "purchased")
            .when(F.col("viewed"), "viewed")
            .otherwise("other")
            .alias("stage")
        )
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


# --------------------------------------------------------------------------
# As-of join: each purchase matched to the user's most recent prior-or-equal
# click. Neither the reference nor Spark has a dedicated as-of operator
# (reference joins are equi+theta only, common/thrift/PlanNodes.thrift:214);
# the engine expresses it as a COMPOSITION: union-tag both streams, one
# window pass per user carries the last click forward (last_value IGNORE
# NULLS), then filter to purchases — O(n log n) per user partition, ONE
# shuffle, no range self-join blowup. This is the scale path for time-series
# alignment at 100 TB (a naive theta join is quadratic per user).
_ASOF_ORACLE = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id
  FROM events WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(click_ts IGNORE NULLS) OVER w AS asof_click_ts,
         last_value(click_id IGNORE NULLS) OVER w AS asof_click_id
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id AS purchase_id, round(value, 6) AS purchase_value,
       asof_click_id,
       CAST(date_diff('second', asof_click_ts, ts) AS BIGINT) AS lag_seconds
FROM carried
WHERE event_type = 'purchase'
ORDER BY user_id, purchase_id
"""


@query("events_asof_join", oracle=_ASOF_ORACLE)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    return (
        ev.select("user_id", "ts", "event_id", "event_type", "value")
        .withColumn("asof_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .withColumn("asof_click_id", F.last(click_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.round("value", 6).alias("purchase_value"),
            "asof_click_id",
            (F.col("ts").cast("long") - F.col("asof_click_ts").cast("long")).alias(
                "lag_seconds"
            ),
        )
        .orderBy("user_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# Range join: view events falling inside any error-incident window
# [error.ts, error.ts + 10 min] of the same user. No range-join operator
# exists in the reference (equi+theta only) or core Spark; a naive theta
# join is O(n·m) per user. The engine's scale path: quantize time into
# 10-minute buckets, explode each incident to the (≤2) buckets its window
# overlaps, EQUI-join on (user_id, bucket) — Catalyst plans a hash join —
# then apply the exact range predicate to the tiny candidate set.
_RANGE_ORACLE = """
SELECT e.user_id,
       CAST(count(DISTINCT v.event_id) AS BIGINT) AS n_views_in_incident
FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
  ON v.user_id = e.user_id
 AND v.ts >= e.ts AND v.ts <= e.ts + INTERVAL 10 MINUTE
GROUP BY e.user_id
ORDER BY e.user_id
"""

_BUCKET_S = 600  # 10-minute quantization == the window length


@query("events_range_join", oracle=_RANGE_ORACLE)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        (F.col("ts").cast("long") / _BUCKET_S).cast("long").alias("e_bucket"),
    )
    # a 10-min window starting anywhere overlaps its own and the next bucket
    incidents = errors.select(
        "e_user", "e_ts", F.explode(F.array(F.col("e_bucket"), F.col("e_bucket") + 1)).alias("bucket")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
        (F.col("ts").cast("long") / _BUCKET_S).cast("long").alias("v_bucket"),
    )
    in_range = (F.col("v_ts") >= F.col("e_ts")) & (
        F.col("v_ts").cast("long") <= F.col("e_ts").cast("long") + _BUCKET_S
    )
    return (
        incidents.join(
            views,
            (F.col("v_user") == F.col("e_user")) & (F.col("bucket") == F.col("v_bucket")),
        )
        .filter(in_range)
        .groupBy(F.col("e_user").alias("user_id"))
        .agg(F.countDistinct("v_id").alias("n_views_in_incident"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Ordered funnel: signup → first view AFTER the signup → first purchase
# AFTER that view. Sequential-dependency funnel (events_funnel above is the
# unordered reachability variant): each stage joins back on user and keeps
# the earliest qualifying timestamp — three grouped passes, all equi-joins
# on user_id, one shuffle each at scale.
_FUNNEL_ORDERED_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'view' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_after_signup,
       CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_purchase_after_view
"""


@query("events_funnel_ordered", oracle=_FUNNEL_ORDERED_ORACLE)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist each funnel stage: s1 feeds BOTH its own count and stage 2
    # (which feeds its count and stage 3) — uncached, the earlier stages
    # re-ran once per downstream consumer (6 events scans in the
    # executed plan; 3, one selective scan per stage, after — r12,
    # guide §5). The per-user stage tables are ~|users| rows.
    s1 = seam(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = seam(
        ev.filter(F.col("event_type") == "view")
        .join(s1.withColumnRenamed("user_id", "u1"), F.col("u1") == F.col("user_id"))
        .filter(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2.withColumnRenamed("user_id", "u2"), F.col("u2") == F.col("user_id"))
        .filter(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n_signup"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n_view_after_signup"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_after_view"))
    return n1.crossJoin(n2).crossJoin(n3)


# --------------------------------------------------------------------------
# Cohort retention matrix — the standard product-analytics rollup: users
# cohorted by first-active week, counted per week offset thereafter. Two
# grouped aggregates + one join, all keyed on user_id / (cohort, offset):
# at 100 TB both aggs are partial+final on the events shuffle key and the
# per-user first-seen table is ~|users|, far smaller than events.
_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
  FROM events
)
SELECT f.cohort_week AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.w) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM active a JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@query("events_retention", oracle=_RETENTION_ORACLE)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("w")).distinct()
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("w"), F.col("cohort_week")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# Time-series gap-fill: materialize EVERY (hour-bucket × event_type) cell
# between the stream's bounds, zero-filling empty buckets — the hypertable
# rollup/gap-fill operator Spark lacks as a builtin, expressed as
# sequence() grid × dim ⟕ grouped counts. Scale: the grid is
# |buckets| × |types| rows (tiny vs events); the left join broadcasts it.
_GAPFILL_ORACLE = """
WITH buckets AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM (SELECT min(date_trunc('hour', ts)) AS lo,
               max(date_trunc('hour', ts)) AS hi
        FROM events)
),
grid AS (
  SELECT b.bucket, t.event_type
  FROM buckets b, (SELECT DISTINCT event_type FROM events) t
),
counts AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT grid.bucket AS bucket, grid.event_type AS event_type,
       coalesce(counts.c, 0) AS n
FROM grid LEFT JOIN counts
  ON counts.bucket = grid.bucket AND counts.event_type = grid.event_type
ORDER BY bucket, event_type
"""


@query("events_gapfill", oracle=_GAPFILL_ORACLE)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(F.min(hour).alias("lo"), F.max(hour).alias("hi"))
    buckets = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    types = ev.select("event_type").distinct()
    grid = buckets.crossJoin(types)
    counts = ev.groupBy(hour.alias("bucket"), "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        grid.join(counts, ["bucket", "event_type"], "left")
        .select("bucket", "event_type", F.coalesce("c", F.lit(0)).alias("n"))
        .orderBy("bucket", "event_type")
    )


# --------------------------------------------------------------------------
# Windowed anomaly detection: flag events whose value is > 2 population
# standard deviations above the per-(user, event_type) mean. The analytic
# shape ops teams run on behavioral streams; one shuffle on the partition
# key, everything else map-side. Rounding pins the FP boundary comparison:
# the z-score is computed on both engines with the same 6-decimal rounding
# before the threshold test, so engine FP noise cannot flip a flag.
_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT event_id, user_id, event_type, value,
         avg(value)        OVER (PARTITION BY user_id, event_type) AS mu,
         stddev_pop(value) OVER (PARTITION BY user_id, event_type) AS sigma,
         count(*)          OVER (PARTITION BY user_id, event_type) AS grp_n
  FROM events
)
SELECT event_id, user_id, event_type,
       round(value, 2) AS value,
       round((value - mu) / sigma, 6) AS z
FROM stats
WHERE grp_n >= 5 AND sigma > 0 AND round((value - mu) / sigma, 6) > 2.0
ORDER BY event_id
"""


@query("events_zscore_anomaly", oracle=_ZSCORE_ORACLE)
def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type")
    z = F.round((F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w), 6)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            z.alias("z"),
            F.count(F.lit(1)).over(w).alias("grp_n"),
            F.stddev_pop("value").over(w).alias("sigma"),
        )
        .filter((F.col("grp_n") >= 5) & (F.col("sigma") > 0) & (F.col("z") > 2.0))
        .select("event_id", "user_id", "event_type", "value", "z")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Path mining: the top 3-step event paths per user ordering — product
# analytics' "common journeys" query. Two leads over one (user, time)
# window, then a count — one shuffle on user_id, one on the path triple;
# both map-side combined.
_PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n
FROM seq
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 15
"""


@query("events_path_mining", oracle=_PATHS_ORACLE)
def events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Hierarchical rollup (hypertable continuous-aggregate pattern): the hour
# rollup is computed FROM the minute rollup and the day rollup FROM the
# hour rollup, never re-scanning raw events — the materialized-rollup
# cascade a 100 TB time-series store runs (coarser grains reaggregate
# ~60× fewer rows each step). Associativity is guaranteed by aggregating
# value as exact integer cents (round(value*100) AS BIGINT): double sums
# would differ between the cascaded and the direct grouping order, integer
# sums cannot. The oracle computes each grain DIRECTLY from raw events —
# matching proves the cascade is lossless.
@query(
    "events_rollup_hierarchy",
    oracle="""
WITH base AS (
  SELECT date_trunc('minute', ts) AS m, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT 'minute' AS grain, CAST(m AS TIMESTAMP) AS bucket, event_type,
       count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM base GROUP BY m, event_type
UNION ALL
SELECT 'hour', CAST(date_trunc('hour', m) AS TIMESTAMP), event_type,
       count(*), CAST(sum(cents) AS BIGINT)
FROM base GROUP BY date_trunc('hour', m), event_type
UNION ALL
SELECT 'day', CAST(date_trunc('day', m) AS TIMESTAMP), event_type,
       count(*), CAST(sum(cents) AS BIGINT)
FROM base GROUP BY date_trunc('day', m), event_type
ORDER BY grain, bucket, event_type
""",
)
def events_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute = seam(
        ev.select(
            F.date_trunc("minute", "ts").alias("bucket"),
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("bucket", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        # persist the two lower grains: each feeds its own report level
        # AND the next rollup — uncached, the minute aggregate re-ran
        # once per level (3 events scans; 1 after — r12, guide §5)
    )
    hour = seam(
        minute.groupBy(
            F.date_trunc("hour", "bucket").alias("bucket"), "event_type"
        )
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )
    day = (
        hour.groupBy(F.date_trunc("day", "bucket").alias("bucket"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_cents").alias("sum_cents"))
    )
    lvl = lambda df, g: df.select(  # noqa: E731
        F.lit(g).alias("grain"), "bucket", "event_type", "n", "sum_cents"
    )
    return (
        lvl(minute, "minute")
        .unionAll(lvl(hour, "hour"))
        .unionAll(lvl(day, "day"))
        .orderBy("grain", "bucket", "event_type")
    )


# --------------------------------------------------------------------------
# SCD2 interval build (beyond ref — the reference grammar has no MERGE or
# dimension versioning; this is the warehouse idiom every star schema
# refresh needs): each user's 'purchase' events are treated as attribute
# changes, and the operator rebuilds the type-2 dimension — one row per
# version with [valid_from, valid_to) bounds from lead(), NULL valid_to +
# is_current=true on the open version. Pure value selection (timestamps
# and the raw DOUBLE pass through untouched), so no rounding shims are
# needed. Scale: one hash shuffle on user_id + in-partition sort — the
# same single-window shape as sessionize; at 100 TB the dimension key
# partitioning IS the shuffle key.
@query(
    "events_scd2_intervals",
    oracle="""
WITH ch AS (
  SELECT user_id, ts, event_id, value
  FROM events WHERE event_type = 'purchase' AND user_id < 60
)
SELECT user_id,
       CAST(row_number() OVER w AS INT)  AS version,
       ts                                AS valid_from,
       lead(ts) OVER w                   AS valid_to,
       value,
       (lead(ts) OVER w IS NULL)         AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
""",
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ch = ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 60))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ch.select(
            "user_id",
            F.row_number().over(w).cast("int").alias("version"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            "value",
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# --------------------------------------------------------------------------
# Interval-overlap concurrency curve: peak simultaneous sessions per hour
# — the classic +1/-1 endpoint sweep. Sessions come from the 30-min-gap
# sessionizer; each emits a start(+1) and end(-1) endpoint; the GLOBAL
# running sum of deltas in endpoint order is the live-session level. The
# global scan is the scale hazard: a bare Window.orderBy() serializes to
# ONE task, so the level is computed with operators/prefix.py's
# distributed two-phase cumsum (range shuffle + pid-local windows +
# broadcast offsets) — same machinery as text_pack_sequences. Endpoint
# order is a zero-padded composite key (epoch µs, end-before-start at
# ties, user, session) so both engines sweep in the identical total
# order.
@query(
    "events_concurrency_curve",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sn AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
),
iv AS (
  SELECT user_id, sess, min(ts) AS st, max(ts) + INTERVAL '30 minutes' AS en
  FROM sn GROUP BY user_id, sess
),
pts AS (
  SELECT st AS t, 1 AS delta,
         lpad(CAST(epoch_us(st) AS VARCHAR), 18, '0') || '_1_' ||
         lpad(CAST(user_id AS VARCHAR), 20, '0') || '_' ||
         lpad(CAST(sess AS VARCHAR), 12, '0') AS k
  FROM iv
  UNION ALL
  SELECT en AS t, -1 AS delta,
         lpad(CAST(epoch_us(en) AS VARCHAR), 18, '0') || '_0_' ||
         lpad(CAST(user_id AS VARCHAR), 20, '0') || '_' ||
         lpad(CAST(sess AS VARCHAR), 12, '0') AS k
  FROM iv
),
lv AS (
  SELECT t, delta,
         sum(delta) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS level
  FROM pts
)
SELECT time_bucket(INTERVAL '1 hour', t) AS hour_bucket,
       CAST(max(level) AS BIGINT)        AS peak_concurrency,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                                         AS sessions_started
FROM lv
GROUP BY hour_bucket
ORDER BY hour_bucket
""",
)
def events_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.operators.prefix import distributed_cumsum

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn(
            "new_s",
            (
                F.lag("ts").over(w).isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                    > 1800 * 1_000_000
                )
            ).cast("int"),
        )
        .withColumn(
            "sess",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    iv = sess.groupBy("user_id", "sess").agg(
        F.min("ts").alias("st"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("en"),
    )
    starts = iv.select(
        F.col("st").alias("t"),
        F.lit(1).alias("delta"),
F.concat(
            F.lpad(F.unix_micros("st").cast("string"), 18, "0"),
            F.lit("_1_"),
            # lpad TRUNCATES overlong input in both engines: 6-digit
            # pads silently merged distinct (user, sess) keys once ids
            # pass 1e6, making the prefix-scan order non-unique. 20/12
            # digits cover the full BIGINT range.
            F.lpad(F.col("user_id").cast("string"), 20, "0"),
            F.lit("_"),
            F.lpad(F.col("sess").cast("string"), 12, "0"),
        ).alias("k"),
    )
    ends = iv.select(
        F.col("en").alias("t"),
        F.lit(-1).alias("delta"),
F.concat(
            F.lpad(F.unix_micros("en").cast("string"), 18, "0"),
            F.lit("_0_"),
            F.lpad(F.col("user_id").cast("string"), 20, "0"),
            F.lit("_"),
            F.lpad(F.col("sess").cast("string"), 12, "0"),
        ).alias("k"),
    )
    lv = distributed_cumsum(starts.unionByName(ends), "k", "delta", "level")
    return (
        lv.groupBy(F.date_trunc("hour", "t").alias("hour_bucket"))
        .agg(
            F.max("level").cast("bigint").alias("peak_concurrency"),
            F.sum((F.col("delta") == 1).cast("bigint")).alias("sessions_started"),
        )
        .orderBy("hour_bucket")
    )


# --------------------------------------------------------------------------
# Native session_window sessionization (batch): Spark's built-in
# session_window(ts, gap) runs in the SAME groupBy-aggregate machinery as
# tumbling windows (no analytic sort-pass at all), producing one row per
# session with [start, end) = [first_ts, last_ts + gap). Functionally
# equivalent to the window-function sessionizer (events_sessionize) but a
# different physical operator — at 100 TB the agg form merges partial
# sessions map-side instead of sorting whole user partitions. The oracle
# reconstructs sessions with the gap-flag running sum.
@query(
    "events_session_window_native",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id < 60
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sn AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
)
SELECT user_id,
       min(ts)                          AS session_start,
       max(ts) + INTERVAL '30 minutes'  AS session_end,
       CAST(count(*) AS BIGINT)         AS n_events
FROM sn
GROUP BY user_id, sess
ORDER BY user_id, session_start
""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# MATCH_RECOGNIZE-style event-sequence pattern detection (the SQL:2016 /
# Flink CEP operator, compiled to the distributed shape Spark is good
# at): shuffle once on the partition key, build each user's ordered
# event-type string (event types map to single chars — first letters
# are unique in this taxonomy), then run the PATTERN as a regex over
# the string. `v+cp` = "one or more views, then a click, then a
# purchase, contiguous" — non-overlapping leftmost matches, identical
# semantics in Java regex and DuckDB's RE2 for this pattern class.
#
# Scale: one hash exchange on user_id; per-user sequences are bounded
# (sessionize first at 100 TB — events_sessionize feeds this the same
# way Flink scopes CEP by session window). No UDF: collect_list +
# array_sort + regexp_count are all JVM-side.
_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS s
  FROM events
  GROUP BY user_id
)
SELECT user_id,
       CAST(length(s) AS INT) AS seq_len,
       CAST(len(regexp_extract_all(s, 'v+cp')) AS INT) AS n_matches
FROM seq
WHERE len(regexp_extract_all(s, 'v+cp')) >= 1
ORDER BY user_id
"""


@query("events_pattern_match", oracle=_PATTERN_ORACLE)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection over each user's time-ordered event
    stream: count non-overlapping occurrences of view+ click purchase
    (`v+cp` over first-letter event codes). Users with no match are
    filtered out. Output: (user_id, seq_len, n_matches)."""
    ev = load_table(spark, sf_dir, "events")
    item = F.struct(
        F.col("ts").alias("t"),
        F.col("event_id").alias("i"),
        F.substring("event_type", 1, 1).alias("ch"),
    )
    seq = (
        ev.select("user_id", item.alias("it"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("it")).getField("ch"), ""
            ).alias("s")
        )
    )
    n = F.regexp_count("s", F.lit("v+cp"))
    return (
        seq.select(
            "user_id",
            F.length("s").cast("int").alias("seq_len"),
            n.cast("int").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# PageRank over the event-type transition graph: nodes are event types,
# a directed edge u→v weights how often v follows u in some user's
# time-ordered stream. The operator (operators/graph.py:pagerank) is the
# generic distributed dataflow — per round one src-keyed hash join of the
# rank vector onto the (loop-invariant, pre-normalized) edge list and one
# dst-keyed partial/final aggregation, with dangling mass redistributed
# via a one-row crossJoin, never a driver collect. A fixed iteration
# count (K=5) keeps it a deterministic dataflow both engines can compute
# bit-compatibly; the oracle unrolls the same five rounds as chained
# CTEs. Ranks are emitted as floor(r*1e6 + 0.5) so last-ulp summation-
# order differences between engines cannot flip the hash.
def _pagerank_oracle(n_iter: int = 5) -> str:
    head = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
edges AS (
  SELECT prev AS src, event_type AS dst, CAST(count(*) AS DOUBLE) AS w
  FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
nedges AS (SELECT src, dst, w / outw AS share FROM edges JOIN outd USING (src)),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    its = []
    for k in range(n_iter):
        its.append(
            f""",
r{k + 1} AS (
  SELECT nodes.node,
         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * (
             coalesce(c.contrib, 0)
             + (SELECT coalesce(sum(p.rank), 0)
                FROM r{k} p LEFT JOIN outd o ON p.node = o.src
                WHERE o.src IS NULL) / (SELECT n FROM nn)
           ) AS rank
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node, sum(p.rank * e.share) AS contrib
    FROM nedges e JOIN r{k} p ON p.node = e.src
    GROUP BY e.dst
  ) c ON c.node = nodes.node
)"""
        )
    tail = f"""
SELECT node AS event_type,
       CAST(floor(rank * 1000000 + 0.5) AS BIGINT) AS rank_e6
FROM r{n_iter}
ORDER BY event_type"""
    return head + "".join(its) + tail


@query("events_pagerank_transitions", oracle=_pagerank_oracle())
def events_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (d=0.85, K=5 fixed rounds) over the event-type
    transition graph; output (event_type, rank_e6)."""
    from minimised_impala_spark.operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    edges = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .select(
            F.col("prev").alias("src"), F.col("event_type").alias("dst"), "w"
        )
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    ranks = pagerank(edges, nodes, damping=0.85, n_iter=5)
    return ranks.select(
        F.col("node").alias("event_type"),
        F.floor(F.col("rank") * 1000000 + 0.5).cast("bigint").alias("rank_e6"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Time-decayed engagement score — the feature-store "exponential decay"
# aggregate: score(u) = Σ_i value_i · e^((t_i − T_u)/τ) where T_u is the
# user's LAST event time and τ = 1 day. Anchoring at T_u keeps every
# exponent ≤ 0, so the classic e^(t/τ) running-sum overflow (exponents
# grow with absolute time) cannot happen at any corpus age — the form
# that survives years-long event histories at 100 TB. Two user-keyed
# hash aggregations (max, then sum after a self-join on user_id — AQE
# co-partitions both sides on the same key); no windows, no state.
# Millisecond epochs (unix_millis / epoch_ms) are exact BIGINTs in both
# engines; the one libm call (exp) lands in a scaled-BIGINT output.
_TIME_DECAY_ORACLE = """
WITH last AS (
  SELECT user_id, max(ts) AS t_last FROM events GROUP BY user_id
)
SELECT e.user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(sum(e.value *
              exp((epoch_ms(e.ts) - epoch_ms(l.t_last)) / 86400000.0))
            * 1000000 + 0.5) AS BIGINT) AS decay_e6
FROM events e JOIN last l ON e.user_id = l.user_id
GROUP BY e.user_id
ORDER BY e.user_id
"""


@query("events_time_decay", oracle=_TIME_DECAY_ORACLE)
def events_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed value sum (τ = 1 day, anchored
    at the user's last event): (user_id, n_events, decay_e6)."""
    ev = load_table(spark, sf_dir, "events")
    last = ev.groupBy("user_id").agg(F.max("ts").alias("t_last"))
    return (
        ev.join(last, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.floor(
                F.sum(
                    F.col("value")
                    * F.exp(
                        (F.unix_millis("ts") - F.unix_millis("t_last"))
                        / F.lit(86400000.0)
                    )
                )
                * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("decay_e6"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Native recursive CTE (WITH RECURSIVE, Spark 4.x) — bounded-depth
# reachability over the DISTINCT event-type transition graph from the
# 'view' node, counting walks per reached node. This is the declarative
# sibling of the iterative operators (connected_components, pagerank):
# the engine's own fixpoint execution replaces the driver-side loop.
# Depth is capped at 3 (well under spark.sql.cteRecursionLevelLimit);
# UNION ALL multiplicity makes n_walks a real recursion-semantics probe,
# not just set reachability.
_RECURSIVE_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
edges AS (
  SELECT DISTINCT prev AS src, event_type AS dst
  FROM seq WHERE prev IS NOT NULL
),
reach(node, d) AS (
  SELECT 'view' AS node, 0 AS d
  UNION ALL
  SELECT e.dst, r.d + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < 3
)
SELECT node, CAST(min(d) AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_walks
FROM reach GROUP BY node ORDER BY node
"""


@query("sql_recursive_reachability", oracle=_RECURSIVE_ORACLE)
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE walk enumeration (depth ≤ 3) from 'view' over
    distinct event-type transitions: (node, dist, n_walks)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("event_type").alias("dst"))
        .distinct()
    )
    edges.createOrReplaceTempView("mis_rc_edges")
    return spark.sql(
        """
WITH RECURSIVE reach(node, d) AS (
  SELECT CAST('view' AS STRING) AS node, 0 AS d
  UNION ALL
  SELECT e.dst, r.d + 1
  FROM reach r JOIN mis_rc_edges e ON e.src = r.node
  WHERE r.d < 3
)
SELECT node, CAST(min(d) AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_walks
FROM reach GROUP BY node ORDER BY node
"""
    )


# --------------------------------------------------------------------------
# Robust anomaly detection: median/MAD instead of mean/stddev (the
# events_zscore_anomaly sibling that outliers cannot poison — mean and
# stddev both move with the contamination they are supposed to flag;
# the median and MAD have a 50% breakdown point). Two-phase dataflow:
# per-type median, join back, median of absolute deviations, then flag
# |v − m| > 3·1.4826·MAD. Exact medians via percentile()/quantile_cont
# (the agg_percentile_exact parity pattern); reported medians rounded to
# 4 decimals, the flag compares raw doubles identically on both sides.
# Scale: two hash aggregations + two broadcastable per-type joins
# (|event types| rows); no windows, no sort.
_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.m, abs(e.value - m.m) AS d
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(min(d.m), 4) AS median_v,
       round(min(mad.mad), 4) AS mad_v,
       CAST(sum(CASE WHEN d.d > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM dev d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
ORDER BY d.event_type
"""


@query("events_mad_anomaly", oracle=_MAD_ORACLE)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier count via median/MAD (3·1.4826·MAD
    fence): (event_type, n, median_v, mad_v, n_anomalies)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    # persist: the deviation stream feeds BOTH the MAD percentile and
    # the final fence count — uncached, each re-ran the events scan,
    # the median percentile aggregate and the join (r12, guide §5)
    dev = seam(ev.join(med, "event_type").select(
        "event_type", "value", "m", F.abs(F.col("value") - F.col("m")).alias("d")
    ))
    mad = dev.groupBy("event_type").agg(
        F.percentile("d", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("m"), 4).alias("median_v"),
            F.round(F.min("mad"), 4).alias("mad_v"),
            F.sum(
                F.when(F.col("d") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Triangle counting + global clustering coefficient over the user
# co-occurrence graph (users sharing an (event_type, hour) cell) — the
# classic distributed-graph benchmark, implemented with the
# DEGREE-ORDERED edge orientation (Schank/Wagner; the node-iterator
# with low-degree orientation): every undirected edge points from the
# (degree, id)-smaller endpoint to the larger, so each wedge is
# enumerated exactly once from its smallest-rank apex and the wedge
# join's fan-out per node is bounded by its ORIENTED out-degree — at
# most O(sqrt(E)) after orientation — instead of the raw degree. At
# 100 TB: edge building is one distinct over co-occurrence cells
# (shuffle on the cell key), degrees one keyed agg, the wedge join and
# closing semi-join are equi-joins on node keys; the hub-node blowup
# that kills naive triangle joins is exactly what the orientation
# removes. Two density controls make edge BUILDING scale-safe, both
# standard in production co-occurrence pipelines: (1) hot cells are
# SAMPLED — each (type, hour) cell contributes only its 16 lowest
# user_ids (the stop-cell/cap-and-sample trick, same logic as dropping
# stopword postings in similarity joins: a cell everyone shares carries
# no pairwise signal but Θ(occupancy²) cost — measured 135 s at sf1
# uncapped, where avg occupancy reaches ~280, vs seconds capped); and
# (2) edges are WEIGHT-THRESHOLDED (pairs must share >= 4 cells;
# measured 789k of 1.1M possible edges at sf0.1 unthresholded → 39k
# thresholded). The cap is a per-cell WindowGroupLimit rank, the weight
# filter a HAVING on the edge-building aggregate — both free.
# (Impala-era analogue: this is the shape an analyst would hand-write
# as three self-joins; the orientation is what makes it survive a
# power-law graph.)
# The capped co-occurrence edge list (edges_raw: u < v), as
# _cooccurrence_edges builds it.
_COOC_EDGES_CTE = """cells_all AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
  FROM events
),
cells AS (
  SELECT event_type, h, user_id FROM (
    SELECT event_type, h, user_id,
           row_number() OVER (PARTITION BY event_type, h
                              ORDER BY user_id) AS rn
    FROM cells_all) t WHERE rn <= 16
),
edges_raw AS (
  SELECT a.user_id AS u, b.user_id AS v
  FROM cells a JOIN cells b
    ON b.event_type = a.event_type AND b.h = a.h AND b.user_id > a.user_id
  GROUP BY a.user_id, b.user_id
  HAVING count(*) >= 4
)"""

_TRIANGLE_ORACLE = f"""
WITH {_COOC_EDGES_CTE},
deg AS (
  SELECT u AS node, count(*) AS d FROM (
    SELECT u FROM edges_raw UNION ALL SELECT v FROM edges_raw
  ) t(u) GROUP BY u
),
oriented AS (
  -- orient by the (degree, node) tuple directly: s is the endpoint with
  -- the lexicographically smaller (d, node), t the other, both kept as
  -- NODE IDS, with t's degree (td) carried so downstream tuple
  -- comparisons preserve the degree-major order. No scalar key
  -- arithmetic → injective at any id range (the former d*1000+node
  -- merged distinct nodes once ids passed 1000).
  SELECT CASE WHEN ka.d < kb.d OR (ka.d = kb.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN ka.d < kb.d OR (ka.d = kb.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN ka.d < kb.d OR (ka.d = kb.d AND e.u < e.v)
              THEN kb.d ELSE ka.d END AS td
  FROM edges_raw e
  JOIN deg ka ON ka.node = e.u
  JOIN deg kb ON kb.node = e.v
),
tri AS (
  -- wedge pair (x.t, y.t) taken once with y.t strictly after x.t in the
  -- (degree, node) order, so the closing edge can only exist as the
  -- canonically-oriented (s = x.t, t = y.t)
  SELECT count(*) AS n_tri
  FROM oriented x
  JOIN oriented y ON y.s = x.s
                 AND (y.td > x.td OR (y.td = x.td AND y.t > x.t))
  JOIN oriented z ON z.s = x.t AND z.t = y.t
),
wedge AS (SELECT sum(d * (d - 1) / 2) AS n_wedge FROM deg)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges_raw) AS BIGINT) AS n_edges,
       CAST(w.n_wedge AS BIGINT) AS n_wedges,
       CAST(t.n_tri AS BIGINT) AS n_triangles,
       round(3.0 * t.n_tri / NULLIF(w.n_wedge, 0), 6) AS global_cc
FROM tri t CROSS JOIN wedge w
"""


def _cooccurrence_edges(ev: DataFrame) -> DataFrame:
    """Shared capped co-occurrence edge build for events_triangle_count
    and events_link_prediction: distinct (event_type, hour) cells,
    deterministic 16-user cap per cell (WindowGroupLimit — the hot-cell
    density control that keeps the self-join out of the Σ occupancy²
    regime), weight-4 thresholded edges. Callers seam the result before
    fanning out to multiple consumers."""
    cells_all = ev.selectExpr(
        "event_type", "date_trunc('hour', ts) AS h", "user_id"
    ).distinct()
    wcell = W.partitionBy("event_type", "h").orderBy("user_id")
    cells = (
        cells_all.withColumn("rn", F.row_number().over(wcell))
        .filter(F.col("rn") <= 16)
        .drop("rn")
    )
    # In-cell pair expansion (r12 optimization, guide §2.4): collect the
    # ≤16 capped users per cell — the groupBy is keyed exactly like the
    # window, so it REUSES the window's exchange — and expand ordered
    # pairs with two chained generators. This deletes the previous
    # cells×cells self-join (which recomputed the capped-cell subtree on
    # both sides) and its join exchange; the (u, v) weight aggregate is
    # unchanged. sort_array ascending reproduces the row_number's
    # user_id order, and the tail slice gives exactly the v > u pairs.
    return (
        cells.groupBy("event_type", "h")
        .agg(F.sort_array(F.collect_list("user_id")).alias("us"))
        .select("us", F.posexplode("us").alias("i", "u"))
        .select(
            "u",
            F.explode(F.expr("slice(us, i + 2, size(us) - i - 1)")).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 4)
        .select("u", "v")
    )


def _orient_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree table + degree-ordered orientation of an undirected edge
    list.  Orientation compares the (degree, node) tuple directly and
    keeps NODE IDS as the s/t identifiers (t's degree rides along for
    the downstream tuple order) — injective at any id range, unlike a
    packed scalar key, which is what a 64-bit-user-id production graph
    requires.  The degree table is data-proportional (|nodes| grows
    with the corpus), so the endpoint joins carry NO broadcast hint:
    AQE broadcasts at fixture scale and shuffle-joins on the node key
    once the table outgrows the threshold — the r9 invariance matrix
    proves results are strategy-independent.  Returns (deg, oriented),
    deg seamed and oriented unmaterialized."""
    # selectExpr strings, not nested Column trees: every Column operator
    # is a py4j round trip and this helper alone cost ~0.5 s of the
    # caller's plan build (r12; the analyzed plan is identical)
    # persist: deg has three consumers (the two orient joins and the
    # caller's one aggregate for the wedge sum and node count) —
    # uncached, each one re-ran the degree count's exchange over the
    # edge list (r12, guide §5)
    # explode(array(u, v)) instead of a two-scan unionAll: ONE pass over
    # the cached edge list feeds the degree count (r13, guide §2.4)
    deg = seam(
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    oriented = (
        edges.join(deg.selectExpr("node AS u", "d AS da"), "u")
        .join(deg.selectExpr("node AS v", "d AS db"), "v")
        .selectExpr(
            "CASE WHEN da < db OR (da = db AND u < v) THEN u ELSE v END AS s",
            "CASE WHEN da < db OR (da = db AND u < v) THEN v ELSE u END AS t",
            "CASE WHEN da < db OR (da = db AND u < v) THEN db ELSE da END AS td",
        )
    )
    return deg, oriented


@query("events_triangle_count", oracle=_TRIANGLE_ORACLE)
def events_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # three consumers below (degrees, orientation, edge count) re-run the
    # capped cell self-join without this; same seam as link prediction.
    edges = seam(_cooccurrence_edges(ev))
    deg, oriented = _orient_edges(edges)
    # two arms read the oriented edge list (wedge build + closing edges)
    oriented = seam(oriented)
    # Fused wedge build (r13, guide §2.4 — the "fused orient-join"
    # VERDICT r12 item 2 asked for): the old x⋈y self-join shuffled the
    # oriented list twice by s and paid a SortMergeJoin just to pair
    # each node's out-neighbours; the orientation bounds out-degree at
    # ~O(sqrt(E)), so the per-s neighbour list is collect_list-safe at
    # any scale and ordered pairs expand in-group — the SAME
    # posexplode + slice generator the edge build uses. sort_array over
    # struct(td, t) reproduces the join's (ytd > xtd OR (ytd = xtd AND
    # yt > xt)) order exactly ((td, t) is unique within an s-group:
    # edges are distinct). ONE exchange on s instead of two + SMJ.
    wedges = (
        oriented.groupBy("s")
        .agg(F.sort_array(F.collect_list(F.struct("td", "t"))).alias("nb"))
        .select("nb", F.posexplode("nb").alias("i", "x"))
        .select(
            F.col("x.t").alias("a"),
            F.expr("slice(nb, i + 2, size(nb) - i - 1)").alias("rest"),
        )
        .select("a", F.expr("transform(rest, y -> y.t)").alias("bs"))
        .select("a", F.explode("bs").alias("b"))
    )
    # Closing-edge membership stays a JOIN (not union+groupBy): AQE
    # broadcasts the oriented edge list at fixture scale (zero wedge
    # shuffle) and falls back to a pair-keyed shuffle join at corpus
    # scale — the union form would force the wedge exchange always.
    z = oriented.selectExpr("s AS zs", "t AS zt")
    tri = wedges.join(z, F.expr("zs = a AND zt = b")).agg(
        F.expr("count(1) AS n_tri")
    )
    # ONE aggregate over deg yields both the wedge sum and the node
    # count (previously two separate jobs + broadcasts over the same
    # cached table)
    wedge = deg.agg(
        F.expr("CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedge"),
        F.expr("count(1) AS n_nodes"),
    )
    counts = edges.agg(F.expr("count(1) AS n_edges"))
    return (
        tri.crossJoin(F.broadcast(wedge))
        .crossJoin(F.broadcast(counts))
        .selectExpr(
            "CAST(n_nodes AS BIGINT) AS n_nodes",
            "CAST(n_edges AS BIGINT) AS n_edges",
            "CAST(n_wedge AS BIGINT) AS n_wedges",
            "CAST(n_tri AS BIGINT) AS n_triangles",
            # 3.0D: a bare 3.0 parses as DECIMAL(2,1) in SQL text (unlike
            # F.lit(3.0)) and would flip global_cc to DECIMAL(29,6)
            "round(3.0D * n_tri / nullif(n_wedge, 0), 6) AS global_cc",
        )
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast baseline — the error report every time-series
# anomaly/capacity system starts from: per (event_type, hour) counts,
# forecast each hour as (a) the same hour yesterday (seasonal lag 24)
# and (b) the previous hour (persistence lag 1), and report per-type
# MAE for both. A learned model has to beat THESE numbers to justify
# itself — publishing the baseline is the "measure, don't guess"
# artifact for the forecasting wing. Shapes: one hourly count
# aggregate, two lag windows over the per-type hourly series (each
# series is |hours| rows — window state bounded by type count, never
# corpus-sized), one final per-type aggregate. Counts are integers, so
# the MAEs are exact-integer sums divided once — engine-stable.
_SEASONAL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
lagged AS (
  SELECT event_type, h, n,
         lag(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS n_daily,
         lag(n, 1)  OVER (PARTITION BY event_type ORDER BY h) AS n_prev
  FROM hourly
)
SELECT event_type,
       CAST(count(n_daily) AS BIGINT) AS n_scored,
       round(CAST(sum(abs(n - n_daily)) AS DOUBLE) / count(n_daily), 6)
         AS mae_seasonal,
       round(CAST(sum(abs(n - n_prev))
                  FILTER (WHERE n_daily IS NOT NULL) AS DOUBLE)
             / count(n_daily), 6) AS mae_persistence
FROM lagged
GROUP BY event_type
HAVING count(n_daily) > 0
ORDER BY event_type
"""


@query("events_seasonal_baseline", oracle=_SEASONAL_ORACLE)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = W.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type",
        "n",
        F.lag("n", 24).over(w).alias("n_daily"),
        F.lag("n", 1).over(w).alias("n_prev"),
    )
    scored = F.count("n_daily")
    return (
        lagged.groupBy("event_type")
        .agg(
            scored.cast("bigint").alias("n_scored"),
            F.round(
                F.sum(F.abs(F.col("n") - F.col("n_daily"))).cast("double")
                / scored,
                6,
            ).alias("mae_seasonal"),
            F.round(
                F.sum(
                    F.when(
                        F.col("n_daily").isNotNull(),
                        F.abs(F.col("n") - F.col("n_prev")),
                    )
                ).cast("double")
                / scored,
                6,
            ).alias("mae_persistence"),
        )
        .filter(F.col("n_scored") > 0)
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Link prediction over the user co-occurrence graph — the
# missing-edge-scoring shape (recommend connections, impute affinities)
# that shares its edge build with events_triangle_count: distinct
# (event_type, hour) cells, deterministic 16-user cap per cell
# (hot-cell control — Σ occupancy² is the quadratic stage at scale),
# weight-4 threshold. Candidate pairs are WEDGES (two nodes sharing a
# neighbor) that are NOT already edges; score = Jaccard of neighbor
# sets |N(u)∩N(v)| / (|N(u)|+|N(v)|−|∩|). 100 TB shape: the wedge join
# is a self-equi-join on the shared-neighbor key (Σ deg² bounded by the
# cell cap), existing edges drop via a LEFT ANTI join, and the top-20
# is TakeOrdered — no global sort materializes. Jaccard is a ratio of
# exact integers rounded to 6dp before ranking (repo convention), so
# both engines rank identical keys.
# Reference parity: joins/aggregates only (PlanNodes.thrift HASH_JOIN/
# AGGREGATION); the op itself is beyond the reference, expressed with
# its operator set.
_LINK_PRED_ORACLE = f"""
WITH {_COOC_EDGES_CTE},
adj AS (
  SELECT u AS node, v AS neigh FROM edges_raw
  UNION ALL
  SELECT v AS node, u AS neigh FROM edges_raw
),
deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
wedges AS (
  SELECT a.node AS u, b.node AS v, count(*) AS common_n
  FROM adj a JOIN adj b ON b.neigh = a.neigh AND b.node > a.node
  GROUP BY a.node, b.node
),
cand AS (
  SELECT w.u, w.v, w.common_n
  FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges_raw e WHERE e.u = w.u AND e.v = w.v)
),
scored AS (
  SELECT c.u, c.v, c.common_n,
         round(c.common_n * 1.0 / (du.d + dv.d - c.common_n), 6) AS jaccard
  FROM cand c
  JOIN deg du ON du.node = c.u
  JOIN deg dv ON dv.node = c.v
),
ranked AS (
  SELECT u, v, common_n, jaccard,
         row_number() OVER (ORDER BY jaccard DESC, u, v) AS rank
  FROM scored
)
SELECT u, v, CAST(common_n AS BIGINT) AS common_n, jaccard,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 20
ORDER BY rank
"""


@query("events_link_prediction", oracle=_LINK_PRED_ORACLE)
def events_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links by neighbor-set Jaccard among wedge pairs
    not already connected in the co-occurrence graph."""
    ev = load_table(spark, sf_dir, "events")
    # the edge set feeds three consumers (adjacency both ways + the
    # anti-join); materialize it once instead of re-running the cell join
    edges = seam(_cooccurrence_edges(ev))
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("neigh")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("neigh"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    l = adj.select(F.col("node").alias("cu"), F.col("neigh").alias("nx"))
    r = adj.select(F.col("node").alias("cv"), F.col("neigh").alias("ny"))
    wedges = (
        l.join(r, (F.col("ny") == F.col("nx")) & (F.col("cv") > F.col("cu")))
        .groupBy("cu", "cv")
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    cand = wedges.join(
        edges,
        (edges["u"] == wedges["cu"]) & (edges["v"] == wedges["cv"]),
        "left_anti",
    )
    scored = (
        cand.join(
            deg.select(F.col("node").alias("cu"), F.col("d").alias("du")),
            "cu",
        )
        .join(
            deg.select(F.col("node").alias("cv"), F.col("d").alias("dv")),
            "cv",
        )
        .select(
            F.col("cu").alias("u"),
            F.col("cv").alias("v"),
            F.col("common_n").cast("bigint").alias("common_n"),
            F.round(
                F.col("common_n") * 1.0
                / (F.col("du") + F.col("dv") - F.col("common_n")),
                6,
            ).alias("jaccard"),
        )
    )
    top = scored.orderBy(F.desc("jaccard"), "u", "v").limit(20)
    wr = W.orderBy(F.desc("jaccard"), "u", "v")
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .select("u", "v", "common_n", "jaccard", "rank")
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# First-order Markov next-event model — the transition-matrix shape
# every product-analytics stack derives from a clickstream (and the
# batch twin of events_path_mining's ordered paths): per-user event
# bigrams via one lead() window, transition counts, per-state total,
# and the top-3 next events per state with transition probability.
# 100 TB shape: the lead() window shuffles once on user_id (same key
# every sessionize-family op already uses), the bigram aggregate has
# |event_type|² groups (25 here — state spaces are small by nature),
# and the top-3 is a WindowGroupLimit over those few groups. Integers
# + permille rounding keep the differential exact.
# Reference parity: analytic lead() (AnalyticEvalNode) + hash agg;
# the op itself is beyond the reference, expressed with its operators.
_MARKOV_ORACLE = """
WITH big AS (
  SELECT event_type AS ev,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_ev
  FROM events
),
counts AS (
  SELECT ev, next_ev, count(*) AS n
  FROM big WHERE next_ev IS NOT NULL
  GROUP BY ev, next_ev
),
ranked AS (
  SELECT ev, next_ev, n,
         CAST(round(n * 1000.0 / sum(n) OVER (PARTITION BY ev)) AS BIGINT)
           AS prob_permille,
         row_number() OVER (PARTITION BY ev ORDER BY n DESC, next_ev) AS rnk
  FROM counts
)
SELECT ev, next_ev, CAST(n AS BIGINT) AS n, prob_permille,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
ORDER BY ev, rnk
"""


@query("events_markov_next_event", oracle=_MARKOV_ORACLE)
def events_markov_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    big = ev.select(
        F.col("event_type").alias("ev"),
        F.lead("event_type").over(w).alias("next_ev"),
    ).filter(F.col("next_ev").isNotNull())
    counts = big.groupBy("ev", "next_ev").agg(F.count(F.lit(1)).alias("n"))
    w_tot = W.partitionBy("ev")
    w_rank = W.partitionBy("ev").orderBy(F.desc("n"), F.asc("next_ev"))
    return (
        counts.select(
            "ev",
            "next_ev",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") * 1000.0 / F.sum("n").over(w_tot), 0)
            .cast("bigint")
            .alias("prob_permille"),
            F.row_number().over(w_rank).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("ev", "rnk")
    )


# --------------------------------------------------------------------------
# Burst detection — the rate-anomaly twin of events_zscore_anomaly, but
# over the event-rate series itself (hourly counts) with a TRAILING
# baseline (ROWS 24 PRECEDING .. 1 PRECEDING), so the flagged hour
# never contaminates its own baseline — the standard streaming-monitor
# formulation (and the batch twin of streaming_drift_kl's windowed
# comparison). Reports the peak-z hour per event type: z is rounded to
# 6dp BEFORE the rank (repo convention) so stddev accumulation-order
# ulp can't flip the argmax between engines. 100 TB shape: hourly
# pre-aggregation shrinks the series to (types × hours) rows before
# any window; the trailing window is a bounded ROWS frame.
_BURST_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
scored AS (
  SELECT event_type, h, n,
         count(*) OVER w AS n_hist,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sd
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT event_type, h, n, n_hist,
         round((n - mu) / sd, 6) AS z6
  FROM scored WHERE n_hist >= 12 AND sd > 0
),
ranked AS (
  SELECT event_type, h, n, n_hist, z6,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY z6 DESC, h) AS rnk
  FROM z
)
SELECT event_type, h AS peak_hour, CAST(n AS BIGINT) AS n,
       CAST(n_hist AS BIGINT) AS n_hist,
       CAST(round(z6 * 1000) AS BIGINT) AS z_e3
FROM ranked WHERE rnk = 1
ORDER BY event_type
"""


@query("events_burst_detection", oracle=_BURST_ORACLE)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    scored = hourly.select(
        "event_type",
        "h",
        "n",
        F.count(F.lit(1)).over(w).alias("n_hist"),
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sd"),
    )
    z = scored.filter((F.col("n_hist") >= 12) & (F.col("sd") > 0)).select(
        "event_type",
        "h",
        "n",
        "n_hist",
        F.round((F.col("n") - F.col("mu")) / F.col("sd"), 6).alias("z6"),
    )
    w_rank = W.partitionBy("event_type").orderBy(F.desc("z6"), F.asc("h"))
    return (
        z.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("h").alias("peak_hour"),
            F.col("n").cast("bigint").alias("n"),
            F.col("n_hist").cast("bigint").alias("n_hist"),
            F.round(F.col("z6") * 1000, 0).cast("bigint").alias("z_e3"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# RFM segmentation — the classic recency/frequency/monetary user
# quartile grid (the segmentation every growth-analytics stack runs on
# its event log). Recency anchors on the corpus max timestamp (one-row
# broadcast scalar, so the query is reproducible rather than
# wall-clock-dependent); monetary is purchase-event value, rounded to
# 6dp BEFORE the quartile sort (repo convention — double sums must not
# decide ranks by ulp). ntile(4) with user_id tiebreaks is
# deterministic in both engines. 100 TB note: ntile needs a total
# order; at scale you swap it for precomputed approx-quantile cut
# points applied map-side (same output contract) — documented rather
# than hidden, the ntile form is the exact-semantics reference.
_RFM_ORACLE = """
WITH anchor AS (SELECT max(ts) AS a FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', CAST(max(ts) AS DATE),
                   CAST((SELECT a FROM anchor) AS DATE)) AS recency_days,
         count(*) AS frequency,
         round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN value END), 0), 6) AS monetary
  FROM events GROUP BY user_id
),
scored AS (
  SELECT user_id, recency_days, frequency, monetary,
         ntile(4) OVER (ORDER BY recency_days, user_id) AS r_q,
         ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
         ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
  FROM per_user
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q,
       CAST(m_q AS INT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(round(avg(frequency) * 100) AS BIGINT) AS avg_freq_e2,
       CAST(round(sum(monetary) * 100) AS BIGINT) AS total_monetary_e2
FROM scored
GROUP BY r_q, f_q, m_q
ORDER BY r_q, f_q, m_q
"""


@query("events_rfm_segmentation", oracle=_RFM_ORACLE)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("a"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                    F.lit(0.0),
                ),
                6,
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("a").cast("date"), F.col("last_ts").cast("date")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    scored = per_user.select(
        "user_id",
        "frequency",
        "monetary",
        F.ntile(4).over(W.orderBy("recency_days", "user_id")).alias("r_q"),
        F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f_q"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m_q"),
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.avg("frequency") * 100, 0).cast("bigint").alias("avg_freq_e2"),
            F.round(F.sum("monetary") * 100, 0)
            .cast("bigint")
            .alias("total_monetary_e2"),
        )
        .select(
            F.col("r_q").cast("int").alias("r_q"),
            F.col("f_q").cast("int").alias("f_q"),
            F.col("m_q").cast("int").alias("m_q"),
            "n_users",
            "avg_freq_e2",
            "total_monetary_e2",
        )
        .orderBy("r_q", "f_q", "m_q")
    )


# --------------------------------------------------------------------------
# Cohort LTV — the signup-cohort × age-week retention/revenue matrix
# (the growth-analytics staple next to events_retention's fixed-window
# version): cohort = user's first signup week, activity = purchase
# events bucketed by whole weeks since cohort, per cell active-user
# counts, retention ‰ and CUMULATIVE revenue per cohort user (windowed
# prefix sum over the aggregated matrix — windows composing over aggs).
# floor((days)/7.0) is used in BOTH engines (integer division would
# truncate toward zero and disagree on pre-signup purchases). 100 TB
# shape: one agg to per-user cohorts (data-proportional — join strategy
# left to AQE, no hint), one equi-join back to purchases, one matrix
# agg, then a window over the tiny (cohorts × offsets) frame.
_COHORT_ORACLE = """
WITH cohorts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
cohort_size AS (SELECT cw, count(*) AS n_users FROM cohorts GROUP BY cw),
purch AS (
  SELECT c.cw,
         CAST(floor(date_diff('day', c.cw, CAST(e.ts AS DATE)) / 7.0)
              AS BIGINT) AS wk,
         e.user_id, e.value
  FROM events e JOIN cohorts c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
),
cell AS (
  SELECT cw, wk, count(DISTINCT user_id) AS n_active,
         sum(CAST(round(value * 100) AS DECIMAL(38,0))) AS revenue_c
  FROM purch GROUP BY cw, wk
),
mat AS (
  SELECT s.cw, c.wk, c.n_active, s.n_users,
         CAST(round(c.n_active * 1000.0 / s.n_users) AS BIGINT)
           AS retention_permille,
         sum(c.revenue_c) OVER (PARTITION BY s.cw ORDER BY c.wk) AS cum_rev_c
  FROM cell c JOIN cohort_size s ON s.cw = c.cw
)
SELECT cw, wk, CAST(n_active AS BIGINT) AS n_active,
       CAST(n_users AS BIGINT) AS n_users, retention_permille,
       CAST(round(CAST(cum_rev_c AS DOUBLE) / n_users) AS BIGINT) AS cum_ltv_e2
FROM mat
ORDER BY cw, wk
"""


@query("events_cohort_ltv", oracle=_COHORT_ORACLE)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist: the per-user cohort table feeds the cohort sizes AND the
    # purchase join — uncached both re-ran the signup scan + aggregate
    # (r12, guide §5)
    cohorts = seam(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cw"))
    )
    cohort_size = cohorts.groupBy("cw").agg(F.count(F.lit(1)).alias("n_users"))
    # cohorts is per-USER — data-proportional, so no broadcast hint (the
    # deg-table lesson, VERDICT r10 #1): AQE broadcasts at fixture scale
    # and shuffle-joins once the user universe outgrows the threshold.
    # cohort_size stays hinted: it is per-WEEK (calendar-bounded).
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .select(
            "cw",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cw")) / 7.0
            ).cast("bigint").alias("wk"),
            "user_id",
            "value",
        )
    )
    # revenue accumulates as EXACT integer cents in DECIMAL(38,0) (the
    # isum discipline): the windowed prefix sum below re-aggregates the
    # cell sums, and at sf1 the FP add-order noise of a double sum was
    # enough to flip round() on a .5-landing cum_ltv_e2 (sweep-caught:
    # 24894 vs 24895). One DOUBLE cast + one division at the boundary.
    cell = purch.groupBy("cw", "wk").agg(
        F.countDistinct("user_id").alias("n_active"),
        F.sum(F.round(F.col("value") * 100, 0).cast("decimal(38,0)")).alias(
            "revenue_c"
        ),
    )
    w_cum = W.partitionBy("cw").orderBy("wk")
    mat = cell.join(F.broadcast(cohort_size), "cw").select(
        "cw",
        "wk",
        "n_active",
        "n_users",
        F.round(F.col("n_active") * 1000.0 / F.col("n_users"), 0)
        .cast("bigint")
        .alias("retention_permille"),
        F.sum("revenue_c").over(w_cum).alias("cum_rev_c"),
    )
    return mat.select(
        "cw",
        "wk",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("n_users").cast("bigint").alias("n_users"),
        "retention_permille",
        F.round(F.col("cum_rev_c").cast("double") / F.col("n_users"), 0)
        .cast("bigint")
        .alias("cum_ltv_e2"),
    ).orderBy("cw", "wk")


# --------------------------------------------------------------------------
# Multi-touch attribution (linear model) — split each purchase's value
# equally across the DISTINCT touch types the user generated in the 7
# days before it, purchases with no prior touch bucketed as '(direct)'
# — the batch twin of streaming_attribution_join's last-touch join and
# the canonical marketing-analytics allocation query. 100 TB shape: a
# per-user time-band join (equi on user_id, band predicate on ts —
# exactly events_range_join's bucketed shape when user histories grow),
# one distinct-type count per purchase, and a |touch types|-row final
# agg. Revenue shares are exact value/n splits summed then e2-scaled.
_MTA_ORACLE = """
WITH purch AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT p.event_id, t.event_type
  FROM purch p JOIN events t
    ON t.user_id = p.user_id
   AND t.event_type <> 'purchase'
   AND t.ts < p.ts
   AND t.ts >= p.ts - INTERVAL 7 DAY
  GROUP BY p.event_id, t.event_type
),
fan AS (
  SELECT p.event_id, p.value,
         coalesce(t.event_type, '(direct)') AS channel,
         count(t.event_type) OVER (PARTITION BY p.event_id) AS n_ch
  FROM purch p LEFT JOIN touch t ON t.event_id = p.event_id
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(round(sum(CAST(round(value * 100000 / greatest(n_ch, 1))
                           AS BIGINT)) / 1000.0) AS BIGINT)
         AS attributed_e2
FROM fan
GROUP BY channel
ORDER BY channel
"""


def _purchase_touches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(purch, touches): the purchase events (event_id, user_id, ts, value),
    seamed, and each purchase joined to the user's non-purchase events of
    the 7 days before it, as (channel, t_ts) per touch."""
    ev = load_table(spark, sf_dir, "events")
    # persist: the purchase set has two consumers (the touch band-join
    # and the value fan-out) — uncached both re-ran the filtered events
    # scan (r12, guide §5)
    purch = seam(ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    ))
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    touches = purch.join(
        t,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
    )
    return purch, touches


@query("events_multitouch_attribution", oracle=_MTA_ORACLE)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    purch, touches = _purchase_touches(spark, sf_dir)
    touch = touches.select("event_id", "channel").distinct()
    fan = purch.join(touch, "event_id", "left").select(
        "event_id",
        "value",
        F.coalesce(F.col("channel"), F.lit("(direct)")).alias("channel"),
        F.count("channel").over(W.partitionBy("event_id")).alias("n_ch"),
    )
    return (
        fan.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            # per-row integer micro-cents BEFORE the sum: the share sum
            # is then exact integer arithmetic, immune to accumulation-
            # order ulp flipping the final cent (bit us at sf0.001)
            F.round(
                F.sum(
                    F.round(
                        F.col("value") * 100000 / F.greatest(F.col("n_ch"), F.lit(1)),
                        0,
                    ).cast("bigint")
                )
                / 1000.0,
                0,
            )
            .cast("bigint")
            .alias("attributed_e2"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Interval-union coverage — gaps-and-islands over DURATIONS: each event
# occupies [ts, ts + value seconds]; per user, overlapping intervals
# merge into islands (new island when a start clears the running max
# end of every earlier interval — one lag-of-running-max window) and
# the report is per-user covered seconds vs span. The utilization /
# uptime / billable-time query class, complementing events_scd2's
# point-in-time intervals and events_sessionize's gap-only islands.
# All integer epoch-seconds arithmetic — hash-exact. 100 TB shape: one
# user-keyed window (sessionize's shuffle), then pure aggs.
_COVERAGE_ORACLE = """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + greatest(CAST(round(value) AS BIGINT), 0) AS e
  FROM events WHERE user_id < 200
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) >= s
              THEN 0 ELSE 1 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island_id
  FROM marked
),
per_island AS (
  SELECT user_id, island_id,
         max(e) - min(s) AS covered_s
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(covered_s) AS BIGINT) AS covered_s
FROM per_island
GROUP BY user_id
ORDER BY user_id
"""


@query("events_interval_coverage", oracle=_COVERAGE_ORACLE)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (
            F.unix_timestamp("ts")
            + F.greatest(F.round(F.col("value"), 0).cast("bigint"), F.lit(0))
        ).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.max("e").over(w_prev) >= F.col("s"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    islands = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    per_island = islands.groupBy("user_id", "island_id").agg(
        (F.max("e") - F.min("s")).alias("covered_s")
    )
    return (
        per_island.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum("covered_s").cast("bigint").alias("covered_s"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection — the level-shift detector next to
# events_burst_detection's spike detector (z-score finds one bad hour;
# CUSUM finds WHERE the mean moved): per type, the running sum of
# hourly-count deviations from the series mean peaks exactly at the
# changepoint. One hourly pre-agg, one scalar mean joined back
# (broadcast), one prefix-sum window over the bounded series, argmax
# by |cusum| with 6dp pre-rank rounding. Time-bounded state at any
# corpus size — same safety argument as events_seasonal_baseline.
_CUSUM_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
m AS (
  SELECT event_type, avg(n) AS mu, count(*) AS n_hours
  FROM hourly GROUP BY event_type
),
cs AS (
  SELECT h.event_type, h.h, m.n_hours,
         round(sum(h.n - m.mu) OVER (PARTITION BY h.event_type ORDER BY h.h
                                     ROWS UNBOUNDED PRECEDING), 6) AS cusum6
  FROM hourly h JOIN m ON m.event_type = h.event_type
),
ranked AS (
  SELECT event_type, h, n_hours, cusum6,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(cusum6) DESC, h) AS rnk
  FROM cs
)
SELECT event_type, h AS change_hour,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(round(cusum6 * 1000) AS BIGINT) AS peak_cusum_e3
FROM ranked WHERE rnk = 1
ORDER BY event_type
"""


@query("events_changepoint_cusum", oracle=_CUSUM_ORACLE)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.count(F.lit(1)).alias("n_hours")
    )
    w_run = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    cs = hourly.join(F.broadcast(m), "event_type").select(
        "event_type",
        "h",
        "n_hours",
        F.round(F.sum(F.col("n") - F.col("mu")).over(w_run), 6).alias("cusum6"),
    )
    w_rank = W.partitionBy("event_type").orderBy(F.desc(F.abs(F.col("cusum6"))), F.asc("h"))
    return (
        cs.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("h").alias("change_hour"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.round(F.col("cusum6") * 1000, 0).cast("bigint").alias("peak_cusum_e3"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Kaplan–Meier survival — the retention curve done right (the naive
# events_retention matrix treats still-active users as churned; KM
# CENSORS them): per user, lifetime = days between first and last
# event, censored when the user was still active in the final two
# days of the corpus. At each day, S(w) multiplies (1 − d_w / n_w)
# with n_w = users still at risk — computed as total minus the prefix
# sum of prior exits (one window over the ≤|days| aggregated rows).
# The product runs as exp(Σ ln ·) over the ordered prefix — identical
# evaluation order in both engines, e6-scaled output. 100 TB shape:
# one per-user agg (events → users), one |days|-row frame after that;
# nothing past the first agg scales with volume.
_KM_ORACLE = """
WITH bounds AS (SELECT max(ts) AS corpus_end FROM events),
lives AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(min(ts) AS DATE),
                        CAST(max(ts) AS DATE)) AS BIGINT) AS lw,
         max(ts) > (SELECT corpus_end FROM bounds) - INTERVAL 2 DAY
           AS censored
  FROM events GROUP BY user_id
),
tot AS (SELECT count(*) AS n_total FROM lives),
wk AS (
  SELECT lw AS w,
         count(*) FILTER (WHERE NOT censored) AS d,
         count(*) FILTER (WHERE censored) AS c
  FROM lives GROUP BY lw
),
risk AS (
  SELECT w, d, c,
         (SELECT n_total FROM tot)
           - coalesce(sum(d + c) OVER (ORDER BY w
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_at_risk
  FROM wk
),
km AS (
  SELECT w, d, c, n_at_risk,
         exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk))
             OVER (ORDER BY w ROWS UNBOUNDED PRECEDING)) AS s
  FROM risk WHERE n_at_risk > 0
)
SELECT CAST(w AS BIGINT) AS w,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_deaths,
       CAST(c AS BIGINT) AS n_censored,
       CAST(round(s * 1000000) AS BIGINT) AS survival_e6
FROM km
ORDER BY w
"""


@query("events_survival_km", oracle=_KM_ORACLE)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.max("ts").alias("corpus_end"))
    lives = seam(
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.datediff(
                F.col("last_ts").cast("date"), F.col("first_ts").cast("date")
            )
            .cast("bigint")
            .alias("lw"),
            (
                F.col("last_ts") > F.col("corpus_end") - F.expr("INTERVAL 2 DAY")
            ).alias("censored"),
        )
        # persist: ~|users| rows feeding both the total count and the
        # per-week death/censor table (r12, guide §5)
    )
    tot = lives.agg(F.count(F.lit(1)).alias("n_total"))
    wk = lives.groupBy(F.col("lw").alias("w")).agg(
        F.count_if(~F.col("censored")).alias("d"),
        F.count_if(F.col("censored")).alias("c"),
    )
    w_prev = W.orderBy("w").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("w").rowsBetween(W.unboundedPreceding, 0)
    risk = wk.crossJoin(F.broadcast(tot)).select(
        "w",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
    )
    km = risk.filter(F.col("n_at_risk") > 0).select(
        "w",
        "d",
        "c",
        "n_at_risk",
        F.exp(
            F.sum(F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk"))).over(
                w_run
            )
        ).alias("s"),
    )
    return km.select(
        F.col("w").cast("bigint").alias("w"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_deaths"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round(F.col("s") * 1000000, 0).cast("bigint").alias("survival_e6"),
    ).orderBy("w")


# --------------------------------------------------------------------------
# A/B test report — the two-proportion z-test every experimentation
# readout runs: users split into arms by a deterministic hash (stand-in
# for the assignment column a real log carries), per event type the
# conversion rate (users with ≥1 event / arm size), pooled-variance z
# statistic, and the |z| ≥ 1.96 significance flag. All counts are
# exact; z is e3-scaled after a 6dp round. 100 TB shape: two user-level
# aggs and a |types|-row report — the scan dominates, as it should.
_AB_ORACLE = """
WITH users AS (
  SELECT DISTINCT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::INT
                   % 2 = 0 THEN 'A' ELSE 'B' END AS arm
  FROM events
),
arm_n AS (SELECT arm, count(*) AS n FROM users GROUP BY arm),
conv AS (
  SELECT e.event_type, u.arm, count(DISTINCT e.user_id) AS x
  FROM events e JOIN users u ON u.user_id = e.user_id
  WHERE e.value > 100
  GROUP BY e.event_type, u.arm
),
wide AS (
  SELECT c.event_type,
         max(CASE WHEN c.arm = 'A' THEN c.x END) AS xa,
         max(CASE WHEN c.arm = 'B' THEN c.x END) AS xb,
         max(CASE WHEN a.arm = 'A' THEN a.n END) AS na,
         max(CASE WHEN a.arm = 'B' THEN a.n END) AS nb
  FROM conv c JOIN arm_n a ON a.arm = c.arm
  GROUP BY c.event_type
),
z AS (
  SELECT event_type, xa, xb, na, nb,
         round((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
               / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1.0 / na + 1.0 / nb)), 6) AS z6
  FROM wide
  WHERE xa + xb > 0 AND xa + xb < na + nb
)
SELECT event_type,
       CAST(xa AS BIGINT) AS conv_a, CAST(na AS BIGINT) AS n_a,
       CAST(xb AS BIGINT) AS conv_b, CAST(nb AS BIGINT) AS n_b,
       CAST(round(z6 * 1000) AS BIGINT) AS z_e3,
       abs(z6) >= 1.96 AS significant
FROM z
ORDER BY event_type
"""


@query("events_ab_test_report", oracle=_AB_ORACLE)
def events_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = seam(
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
                ).cast("int")
                % 2
                == 0,
                F.lit("A"),
            )
            .otherwise(F.lit("B"))
            .alias("arm"),
        )
        # persist: the arm assignment feeds the per-arm sizes AND the
        # conversion join — uncached both re-ran the distinct+md5 pass
        # (r12, guide §5)
    )
    arm_n = users.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    # users is per-USER (data-proportional) — no broadcast hint (the
    # deg/cohorts lesson, r11): AQE broadcasts at fixture scale and
    # shuffle-joins on user_id once the universe outgrows the threshold.
    conv = (
        ev.filter(F.col("value") > 100)
        .join(users, "user_id")
        .groupBy("event_type", "arm")
        .agg(F.countDistinct("user_id").alias("x"))
    )
    wide = (
        conv.join(F.broadcast(arm_n), "arm")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("arm") == "A", F.col("x"))).alias("xa"),
            F.max(F.when(F.col("arm") == "B", F.col("x"))).alias("xb"),
            F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
            F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        )
    )
    p_pool = (F.col("xa") + F.col("xb")).cast("double") / (F.col("na") + F.col("nb"))
    z6 = F.round(
        (
            F.col("xa").cast("double") / F.col("na")
            - F.col("xb").cast("double") / F.col("nb")
        )
        / F.sqrt(p_pool * (1.0 - p_pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
        6,
    )
    return (
        wide.filter(
            ((F.col("xa") + F.col("xb")) > 0)
            & ((F.col("xa") + F.col("xb")) < (F.col("na") + F.col("nb")))
        )
        .select(
            "event_type",
            F.col("xa").cast("bigint").alias("conv_a"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("xb").cast("bigint").alias("conv_b"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.round(z6 * 1000, 0).cast("bigint").alias("z_e3"),
            (F.abs(z6) >= 1.96).alias("significant"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Lag-k autocorrelation — the seasonality DETECTOR feeding
# events_seasonal_baseline's lag-24 FORECAST (is there a daily cycle to
# exploit at all?): per type, Pearson correlation between the hourly
# series and its 24-hour lag via corr() over one lag window — the
# SQL:2003 binary aggregate composing with analytic lag. Series is
# time-bounded; everything past the hourly pre-agg is tiny.
_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
lagged AS (
  SELECT event_type, n,
         lag(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS n_lag
  FROM hourly
)
SELECT event_type,
       CAST(count(n_lag) AS BIGINT) AS n_pairs,
       CAST(round(corr(n, n_lag) * 10000) AS BIGINT) AS autocorr24_e4
FROM lagged
WHERE n_lag IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


@query("events_autocorrelation", oracle=_AUTOCORR_ORACLE)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type", "n", F.lag("n", 24).over(w).alias("n_lag")
    ).filter(F.col("n_lag").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("n_lag").cast("bigint").alias("n_pairs"),
            F.round(F.corr("n", "n_lag") * 10000, 0)
            .cast("bigint")
            .alias("autocorr24_e4"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Velocity flags — trailing time-INTERVAL window frames (RANGE BETWEEN
# INTERVAL ... PRECEDING), the calendar-offset analytic the numeric
# RANGE frames in window_range_numeric can't express and the fraud /
# rate-limit primitive ("more than K events in any trailing 24 h").
# Both engines evaluate the identical frame spec over the timestamp
# order. Peers (equal ts) are frame-identical in both engines by RANGE
# semantics. 100 TB shape: user-keyed window (sessionize's shuffle),
# integer counts, flag filter — the report is flagged users only.
# Each event's count of the user's events in the trailing 24 hours.
_VELOCITY_CTE = """vel AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY ts
                        RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                        AND CURRENT ROW) AS n_24h
  FROM events
)"""

_VELOCITY_ORACLE = f"""
WITH {_VELOCITY_CTE}
SELECT user_id,
       CAST(max(n_24h) AS BIGINT) AS peak_24h,
       CAST(count(*) FILTER (WHERE n_24h >= 6) AS BIGINT) AS n_flagged
FROM vel
GROUP BY user_id
HAVING max(n_24h) >= 6
ORDER BY user_id
"""


@query("events_velocity_flags", oracle=_VELOCITY_ORACLE)
def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.tables import register_tables

    register_tables(spark, sf_dir, ("events",))
    return spark.sql(
        f"""
WITH {_VELOCITY_CTE}
SELECT user_id,
       CAST(max(n_24h) AS BIGINT) AS peak_24h,
       CAST(count(CASE WHEN n_24h >= 6 THEN 1 END) AS BIGINT) AS n_flagged
FROM vel
GROUP BY user_id
HAVING max(n_24h) >= 6
ORDER BY user_id
"""
    )


# --------------------------------------------------------------------------
# Bot-likeness via inter-event regularity — human traffic has noisy
# gaps; automation fires on a clock, so the coefficient of variation
# (σ/μ) of a user's inter-event seconds is the classic first-pass bot
# signal. One lag() window for the gaps, one per-user agg, and a
# deterministic top-10 most-regular panel (CV rounded to 6dp BEFORE
# the rank). Integer epoch-second gaps keep μ/σ identical in both
# engines up to the rounding convention. 100 TB shape: the sessionize
# shuffle, then user-bounded aggs.
_BOT_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events
),
stats AS (
  SELECT user_id,
         count(gap_s) AS n_gaps,
         round(avg(gap_s), 6) AS mu,
         round(stddev_samp(gap_s) / avg(gap_s), 6) AS cv6
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY user_id
  HAVING count(gap_s) >= 20 AND avg(gap_s) > 0
),
ranked AS (
  SELECT user_id, n_gaps, mu, cv6,
         row_number() OVER (ORDER BY cv6, user_id) AS rnk
  FROM stats
)
SELECT CAST(rnk AS INT) AS rnk, user_id,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(round(mu) AS BIGINT) AS mean_gap_s,
       CAST(round(cv6 * 1000) AS BIGINT) AS cv_e3
FROM ranked WHERE rnk <= 10
ORDER BY rnk
"""


@query("events_bot_regularity", oracle=_BOT_ORACLE)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    gaps = ev.select(
        "user_id", (es - F.lag(es).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 6).alias("mu"),
            F.round(F.stddev_samp("gap_s") / F.avg("gap_s"), 6).alias("cv6"),
            # the HAVING filter must use the UNROUNDED mean like the
            # oracle's avg(gap_s) > 0 — a >2M-gap group whose tiny
            # positive mean rounds to 0 at 6dp would otherwise diverge
            F.avg("gap_s").alias("mu_raw"),
        )
        .filter((F.col("n_gaps") >= 20) & (F.col("mu_raw") > 0))
        .drop("mu_raw")
    )
    w_rank = W.orderBy("cv6", "user_id")
    return (
        stats.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= 10)
        .select(
            "rnk",
            "user_id",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.round("mu", 0).cast("bigint").alias("mean_gap_s"),
            F.round(F.col("cv6") * 1000, 0).cast("bigint").alias("cv_e3"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Rolling active users (the DAU/WAU/MAU curve + stickiness) — the
# engagement dashboard every product pipeline publishes daily.  Shapes:
# one distinct over (user, day) — |users| x |days| rows, orders of
# magnitude under the event stream — then ONE broadcast range join
# against the |days|-bounded anchor list (30 rows here; a few thousand
# at any realistic retention horizon), and ONE aggregate computing all
# three horizons as conditional count-distincts (Spark's Expand does the
# multi-distinct in a single shuffle).  Nothing corpus-sized survives
# the first distinct; the x28 row expansion applies to the already
# user-day-bounded table, which is the standard engine trick for exact
# rolling distinct counts (approximate horizons would use the HLL wing).
# Reference parity: expressible in the reference dialect as a
# correlated COUNT(DISTINCT) over a date self-join; this is its
# vectorized one-pass form.
_ROLLING_ACTIVE_ORACLE = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM user_days)
SELECT d.day,
       CAST(count(DISTINCT CASE WHEN ud.day = d.day THEN ud.user_id END)
            AS BIGINT) AS dau,
       CAST(count(DISTINCT CASE WHEN ud.day >= d.day - 6 THEN ud.user_id END)
            AS BIGINT) AS wau,
       CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau,
       CAST(round(1000.0
                  * count(DISTINCT CASE WHEN ud.day = d.day
                                        THEN ud.user_id END)
                  / count(DISTINCT ud.user_id)) AS BIGINT)
         AS stickiness_permille
FROM days d
JOIN user_days ud ON ud.day BETWEEN d.day - 27 AND d.day
GROUP BY d.day
ORDER BY d.day
"""


@query("events_rolling_active", oracle=_ROLLING_ACTIVE_ORACLE)
def events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = user_days.select(F.col("day").alias("anchor")).distinct()
    joined = user_days.join(
        F.broadcast(days),
        (F.col("day") >= F.date_sub(F.col("anchor"), 27))
        & (F.col("day") <= F.col("anchor")),
    )
    dau = F.countDistinct(
        F.when(F.col("day") == F.col("anchor"), F.col("user_id"))
    )
    wau = F.countDistinct(
        F.when(F.col("day") >= F.date_sub(F.col("anchor"), 6), F.col("user_id"))
    )
    mau = F.countDistinct("user_id")
    return (
        joined.groupBy(F.col("anchor").alias("day"))
        .agg(
            dau.cast("bigint").alias("dau"),
            wau.cast("bigint").alias("wau"),
            mau.cast("bigint").alias("mau"),
            F.round(1000.0 * dau / mau).cast("bigint").alias("stickiness_permille"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Weekly growth accounting (the new/retained/resurrected/churned state
# machine — the canonical product-analytics decomposition of active-user
# change): each user-week is classified against the user's OWN previous
# active week (new = first ever, retained = active the week before,
# resurrected = a gap of 2+ weeks), and a churn event is emitted for the
# week AFTER an active week with no successor. By construction
# n_new + n_resurrected - n_churned telescopes to the WAU delta.
#
# Scale: one DISTINCT (user, week) aggregate bounds everything at
# user-weeks ≪ events; the lag/lead windows are user-keyed (parallel);
# the report is |weeks| rows.
_LIFECYCLE_ORACLE = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
maxw AS (SELECT max(week) AS mw FROM uw),
seq AS (
  SELECT user_id, week,
         lag(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev_w,
         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
  FROM uw
),
states AS (
  SELECT week,
         CAST(count(*) FILTER (WHERE prev_w IS NULL) AS BIGINT) AS n_new,
         CAST(count(*) FILTER (WHERE prev_w = week - 7) AS BIGINT)
           AS n_retained,
         CAST(count(*) FILTER (WHERE prev_w IS NOT NULL
                               AND prev_w < week - 7) AS BIGINT)
           AS n_resurrected
  FROM seq GROUP BY week
),
churns AS (
  SELECT week + 7 AS week, CAST(count(*) AS BIGINT) AS n_churned
  FROM seq, maxw
  WHERE (next_w IS NULL OR next_w > week + 7) AND week + 7 <= maxw.mw
  GROUP BY week + 7
)
SELECT coalesce(s.week, c.week) AS week,
       coalesce(s.n_new, 0) AS n_new,
       coalesce(s.n_retained, 0) AS n_retained,
       coalesce(s.n_resurrected, 0) AS n_resurrected,
       coalesce(c.n_churned, 0) AS n_churned
FROM states s FULL OUTER JOIN churns c ON c.week = s.week
ORDER BY week
"""


@query("events_lifecycle_states", oracle=_LIFECYCLE_ORACLE)
def events_lifecycle_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: per week the count of new, retained,
    resurrected, and churned users (churn lands the week after the last
    active week, capped at the observed horizon). Output: (week, n_new,
    n_retained, n_resurrected, n_churned)."""
    # lag/lead run over user-keyed windows on the distinct user-week
    # relation; the horizon cap is a one-row broadcast.
    ev = load_table(spark, sf_dir, "events")
    # persist both shared seams: uw feeds the horizon max AND the
    # lag/lead window; seq feeds the state tallies AND the churn stream
    # — uncached, each consumer re-ran the events scan + distinct
    # (3 scans; 1 after — r12, guide §5)
    uw = seam(ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct())
    maxw = uw.agg(F.max("week").alias("mw"))
    w = W.partitionBy("user_id").orderBy("week")
    seq = seam(uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_w"),
        F.lead("week").over(w).alias("next_w"),
    ))
    states = seq.groupBy("week").agg(
        F.count_if(F.col("prev_w").isNull()).cast("bigint").alias("n_new"),
        F.count_if(F.col("prev_w") == F.date_sub(F.col("week"), 7))
        .cast("bigint")
        .alias("n_retained"),
        F.count_if(
            F.col("prev_w").isNotNull()
            & (F.col("prev_w") < F.date_sub(F.col("week"), 7))
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    churns = (
        seq.crossJoin(F.broadcast(maxw))
        .filter(
            (F.col("next_w").isNull()
             | (F.col("next_w") > F.date_add(F.col("week"), 7)))
            & (F.date_add(F.col("week"), 7) <= F.col("mw"))
        )
        .groupBy(F.date_add(F.col("week"), 7).alias("week"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return (
        states.join(churns, "week", "full_outer")
        .select(
            "week",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# Engagement-depth histogram (the "power-user curve": how many distinct
# days each user was active, bucketed — the L30-style engagement
# distribution a product/corpus health review reads first). One distinct
# (user, day) aggregate, one per-user count, a 4-bucket rollup.
_ENGAGEMENT_ORACLE = """
WITH ud AS (
  SELECT user_id, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
           AS active_days
  FROM events GROUP BY user_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ud)
SELECT active_days,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(round(1000.0 * count(*) / tot.n) AS BIGINT) AS share_permille,
       CAST(round(1000.0 * sum(count(*)) OVER (ORDER BY active_days DESC
                                               ROWS UNBOUNDED PRECEDING)
                  / tot.n) AS BIGINT) AS at_least_permille
FROM ud, tot
GROUP BY active_days, tot.n
ORDER BY active_days
"""


@query("events_engagement_histogram", oracle=_ENGAGEMENT_ORACLE)
def events_engagement_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user curve: user counts by exact distinct active days,
    with the complementary-cumulative share (fraction of users active
    AT LEAST this many days). Output: (active_days, n_users,
    share_permille, at_least_permille). The histogram height is bounded
    by the calendar (<= 31 rows/month), so the descending cumulative
    window runs on a constant-height relation."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy("user_id").agg(
        F.countDistinct(F.col("ts").cast("date")).cast("bigint")
        .alias("active_days")
    )
    tot = ud.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wcum = W.orderBy(F.desc("active_days")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        ud.crossJoin(F.broadcast(tot))
        .groupBy("active_days", "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            "active_days",
            "n_users",
            F.round(1000.0 * F.col("n_users") / F.col("n"))
            .cast("bigint")
            .alias("share_permille"),
            F.round(1000.0 * F.sum("n_users").over(wcum) / F.col("n"))
            .cast("bigint")
            .alias("at_least_permille"),
        )
        .orderBy("active_days")
    )


# --------------------------------------------------------------------------
# Time-decay multi-touch attribution — the recency-weighted sibling of
# events_multitouch_attribution's linear split: each purchase's value is
# divided across the distinct touch channels in its 7-day window in
# proportion to exp(-Δt/τ) of each channel's LAST touch (τ = 2 days), so
# a touch an hour before the purchase out-earns one from last week. The
# marketing stack runs linear + time-decay side by side; the two
# operators share the same time-band join shape.
#
# Determinism: Δt comes from integer microseconds, the decay weight is
# immediately scaled to an e6 BIGINT (sub-ulp exp() differences between
# engines cannot survive the round), the share denominator is then an
# exact integer sum, and per-row micro-cent shares are floored to
# BIGINT before the final sum (the accumulation-order lesson pinned in
# events_multitouch_attribution).
_TDA_ORACLE = """
WITH purch AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
touch AS (
  SELECT p.event_id, t.event_type AS channel, max(t.ts) AS last_ts
  FROM purch p JOIN events t
    ON t.user_id = p.user_id
   AND t.event_type <> 'purchase'
   AND t.ts < p.ts
   AND t.ts >= p.ts - INTERVAL 7 DAY
  GROUP BY p.event_id, t.event_type
),
weighted AS (
  SELECT p.event_id, p.value,
         coalesce(t.channel, '(direct)') AS channel,
         CAST(CASE WHEN t.channel IS NULL THEN 1000000
              ELSE round(exp(-((epoch_us(p.ts) - epoch_us(t.last_ts))
                              / 1000000.0) / 172800.0) * 1000000)
              END AS BIGINT) AS w_e6
  FROM purch p LEFT JOIN touch t ON t.event_id = p.event_id
),
fan AS (
  SELECT event_id, value, channel, w_e6,
         sum(w_e6) OVER (PARTITION BY event_id) AS w_tot
  FROM weighted
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(round(sum(CAST(round(value * 100000 * w_e6 / w_tot) AS BIGINT))
                  / 1000.0) AS BIGINT) AS attributed_e2
FROM fan
GROUP BY channel
ORDER BY channel
"""


@query("events_attribution_time_decay", oracle=_TDA_ORACLE)
def events_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: purchase value split across
    the window's distinct channels in proportion to exp(-Δt/2d) of each
    channel's last touch. Output: (channel, n_purchases,
    attributed_e2)."""
    # The share denominator's window is keyed by the purchase event, never
    # partition-less.
    purch, touches = _purchase_touches(spark, sf_dir)
    touch = touches.groupBy("event_id", "channel").agg(F.max("t_ts").alias("last_ts"))
    w_e6 = F.when(F.col("channel").isNull(), F.lit(1000000).cast("bigint")).otherwise(
        F.round(
            F.exp(
                -((F.unix_micros("ts") - F.unix_micros("last_ts")) / 1000000.0)
                / 172800.0
            )
            * 1000000
        ).cast("bigint")
    )
    weighted = purch.join(touch, "event_id", "left").select(
        "event_id",
        "value",
        F.coalesce(F.col("channel"), F.lit("(direct)")).alias("channel"),
        w_e6.alias("w_e6"),
    )
    fan = weighted.withColumn(
        "w_tot", F.sum("w_e6").over(W.partitionBy("event_id"))
    )
    return (
        fan.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(
                F.sum(
                    F.round(
                        F.col("value") * 100000 * F.col("w_e6") / F.col("w_tot"), 0
                    ).cast("bigint")
                )
                / 1000.0,
                0,
            )
            .cast("bigint")
            .alias("attributed_e2"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Degree distribution of the user co-occurrence graph — the graph-
# health artifact that completes the graph wing (triangles, wedges,
# link prediction, components, PageRank all assume a heavy-tailed but
# CAPPED degree profile; this op measures it): the degree histogram
# plus a Zipf-style power-law fit of ln(count) on ln(degree)
# (text_zipf_fit's e4 regr convention). A fit collapsing toward 0 means
# the cell cap flattened the graph; a very steep slope with a hub row
# means the cap is leaking (Σ occupancy² risk returning).
#
# Scale: shares the capped `_cooccurrence_edges` build (WindowGroupLimit
# cells, weight-4 threshold); degrees are one node-keyed count; the
# histogram and fit run on |distinct degrees| rows.
_DEGREE_DIST_ORACLE = f"""
WITH {_COOC_EDGES_CTE},
deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u FROM edges_raw UNION ALL SELECT v FROM edges_raw
  ) t(u) GROUP BY u
),
hist AS (
  SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY d
),
fit AS (
  SELECT CAST(round(regr_slope(ln(n_nodes), ln(degree)) * 10000) AS BIGINT)
           AS slope_e4,
         CAST(round(regr_r2(ln(n_nodes), ln(degree)) * 10000) AS BIGINT)
           AS r2_e4
  FROM hist
)
SELECT h.degree, h.n_nodes, f.slope_e4, f.r2_e4
FROM hist h CROSS JOIN fit f
ORDER BY h.degree
"""


@query("events_degree_distribution", oracle=_DEGREE_DIST_ORACLE)
def events_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the capped co-occurrence graph with a
    power-law regr fit broadcast onto every row. Output: (degree,
    n_nodes, slope_e4, r2_e4)."""
    ev = load_table(spark, sf_dir, "events")
    edges = seam(_cooccurrence_edges(ev))
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    hist = deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    ln_n = F.log(F.col("n_nodes").cast("double"))
    ln_d = F.log(F.col("degree").cast("double"))
    fit = hist.agg(
        F.round(F.regr_slope(ln_n, ln_d) * 10000, 0)
        .cast("bigint")
        .alias("slope_e4"),
        F.round(F.regr_r2(ln_n, ln_d) * 10000, 0).cast("bigint").alias("r2_e4"),
    )
    return (
        hist.crossJoin(F.broadcast(fit))
        .select("degree", "n_nodes", "slope_e4", "r2_e4")
        .orderBy("degree")
    )


# --------------------------------------------------------------------------
# Hour-of-week seasonality profile — the descriptive capacity-planning
# artifact beside the seasonal FORECAST ops (events_seasonal_baseline
# models error; this reports the shape): event counts per (ISO weekday,
# hour) cell with each cell's share of its weekday and a global share,
# plus the weekday peak hour. DOW convention pinned explicitly: Spark's
# dayofweek() is Sunday=1 while DuckDB's isodow() is Monday=1 — the
# engine converts to ISO (Mon=1..Sun=7) so both engines group on the
# identical key.
#
# Scale: one (dow, hour) count aggregate (168 cells), window ranks on
# the 168-row result.
_SEASONALITY_ORACLE = """
WITH cells AS (
  SELECT CAST(isodow(ts) AS INT) AS dow,
         CAST(extract(hour FROM ts) AS INT) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY dow, hour
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n FROM cells)
SELECT c.dow, c.hour, c.n_events,
       CAST(round(1000.0 * c.n_events / sum(c.n_events)
                  OVER (PARTITION BY c.dow)) AS BIGINT) AS dow_share_permille,
       CAST(round(10000.0 * c.n_events / tot.n) AS BIGINT)
         AS global_share_e4,
       (row_number() OVER (PARTITION BY c.dow
                           ORDER BY c.n_events DESC, c.hour) = 1)
         AS is_dow_peak
FROM cells c CROSS JOIN tot
ORDER BY dow, hour
"""


@query("events_hourly_seasonality", oracle=_SEASONALITY_ORACLE)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week activity profile: per (ISO weekday, hour) cell the
    event count, weekday share (permille), global share (e4), and the
    weekday peak-hour flag. Output: (dow, hour, n_events,
    dow_share_permille, global_share_e4, is_dow_peak)."""
    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek: Sunday=1 ... Saturday=7 → ISO Mon=1 ... Sun=7
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("int")
    cells = ev.groupBy(
        iso_dow.alias("dow"), F.hour("ts").cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    tot = cells.agg(F.sum("n_events").cast("bigint").alias("n"))
    w_dow = W.partitionBy("dow")
    w_rank = W.partitionBy("dow").orderBy(F.desc("n_events"), F.asc("hour"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            F.round(1000.0 * F.col("n_events") / F.sum("n_events").over(w_dow))
            .cast("bigint")
            .alias("dow_share_permille"),
            F.round(10000.0 * F.col("n_events") / F.col("n"))
            .cast("bigint")
            .alias("global_share_e4"),
            (F.row_number().over(w_rank) == 1).alias("is_dow_peak"),
        )
        .orderBy("dow", "hour")
    )
