"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (extension — the reference has no streaming,
SURVEY §1.1; the batch equivalent with a full SQL oracle is
queries/events.py events_sessionize).

This is the engine's template for operators Spark's built-ins can't
express: arbitrary per-key state machines over a stream. State here is one
open session per user (start, last-seen, count); an event later than
SESSION_GAP after last-seen closes the session and emits it. Sessions still
open when the bounded fixture ends stay in state — exactly streaming
semantics (an unbounded source would close them via a later event or a
state timeout; a timeout flush is deliberately not used here because
processing-time timeouts keep a bounded memory-sink query triggering
forever).

Scale notes: state is hash-partitioned by user_id across executors and
checkpointed through the state store; throughput is Arrow-batched (one
pandas frame per key-group per trigger), the supported 100 TB shape for
custom stateful logic.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.streaming.windows import _events_stream, drain

# _sessionize_group ships to workers — see serde module docstring
from minimised_impala_spark.serde import pickle_module_by_value

pickle_module_by_value(__name__)

SESSION_GAP_S = 30 * 60  # 30 min, matches events_sessionize's batch gap

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize_group(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold this key-group's new events into the open-session state,
    emitting every session closed by a >gap jump (or by state timeout)."""
    (user_id,) = key
    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
    ts_us.sort()
    start_us, last_us, n = state.get if state.exists else (None, None, 0)
    out = {"user_id": [], "session_start": [], "session_end": [], "n_events": []}
    for t in ts_us:
        if start_us is None:
            start_us, last_us, n = t, t, 1
        elif t - last_us > SESSION_GAP_S * 1_000_000:
            out["user_id"].append(user_id)
            out["session_start"].append(pd.Timestamp(start_us, unit="us"))
            out["session_end"].append(pd.Timestamp(last_us, unit="us"))
            out["n_events"].append(n)
            start_us, last_us, n = t, t, 1
        else:
            last_us, n = t, n + 1
    state.update((start_us, last_us, n))
    if out["user_id"]:
        yield pd.DataFrame(out)


# The operator's MECHANISM (applyInPandasWithState over a stream) is not
# SQL — but on a bounded replay its OUTPUT is: closed sessions are
# standard gap-sessionization (strict >30 min jumps) minus each user's
# final session, which stays open in state. That equivalence gives the
# custom stateful operator a hard value-hash oracle instead of the weaker
# rows-only check; the streaming semantics themselves (state survival,
# watermarks, checkpoint restart) are pinned by the pytest suite.
_SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid,
         min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         max(sid) OVER (PARTITION BY user_id) AS max_sid
  FROM sess
  GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg
WHERE sid < max_sid
ORDER BY user_id, session_start
"""


@query("streaming_sessionize_stateful", oracle=_SESSIONIZE_ORACLE)
def streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the sessionizer over the bounded events stream and return all
    closed sessions (the fixture arrives as one micro-batch, so every
    within-batch >gap jump closes a session; the last session per user
    stays open in state, as it would on a live stream)."""
    events = _events_stream(spark, sf_dir).select("user_id", "ts")
    sessions = events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain(sessions, "append").orderBy("user_id", "session_start")


# --------------------------------------------------------------------------
# Mergeable sketch in streaming state: per-key bottom-k (KMV) uniform
# sample + exact moments, the streaming-quantile recipe when the value
# stream is unbounded but state must stay O(k). Priorities are
# md5-derived from event_id, so the bottom-k set is a deterministic
# uniform sample AND order-independent — folding events in any batch
# split yields the identical sketch (the mergeability property
# t:test_streaming_sketch.py pins by replaying the fixture as 1 and 2
# batches). Each trigger emits the running summary; the final row per
# key (largest n) is the answer. The p50 estimate is the sample's
# lower-median element — no interpolation, so both engines pick the
# identical value. State per key: 2 arrays of K longs + 3 scalars,
# regardless of stream length — the bound that makes this shape safe
# at 100 TB/day ingest.
SKETCH_K = 64

_SK_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("sample_n", LongType()),
        StructField("est_p50_cents", LongType()),
        StructField("min_cents", LongType()),
        StructField("max_cents", LongType()),
    ]
)
_SK_STATE = StructType(
    [
        StructField("prios", ArrayType(LongType())),
        StructField("vals", ArrayType(LongType())),
        StructField("n", LongType()),
        StructField("min_c", LongType()),
        StructField("max_c", LongType()),
    ]
)


def _sketch_group(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    pairs: list[tuple[int, int]] = []
    mn = mx = None
    n_new = 0
    for pdf in pdfs:
        for p, v in zip(pdf["prio"], pdf["vc"]):
            p, v = int(p), int(v)
            pairs.append((p, v))
            n_new += 1
            mn = v if mn is None or v < mn else mn
            mx = v if mx is None or v > mx else mx
    if state.exists:
        prios, vals, n, smin, smax = state.get
        pairs.extend(zip((int(p) for p in prios), (int(v) for v in vals)))
        n += n_new
        mn = smin if mn is None or smin < mn else mn
        mx = smax if mx is None or smax > mx else mx
    else:
        n = n_new
    pairs.sort()  # (prio, val) asc — deterministic, order-independent
    kept = pairs[:SKETCH_K]
    state.update(([p for p, _ in kept], [v for _, v in kept], n, mn, mx))
    sample_vals = sorted(v for _, v in kept)
    est = sample_vals[(len(sample_vals) - 1) // 2] if sample_vals else None
    yield pd.DataFrame(
        {
            "event_type": [etype],
            "n": [n],
            "sample_n": [len(sample_vals)],
            "est_p50_cents": [est],
            "min_cents": [mn],
            "max_cents": [mx],
        }
    )


_SKETCH_ORACLE = f"""
WITH src AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS vc,
         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS prio
  FROM events
),
sampled AS (
  SELECT event_type, vc,
         row_number() OVER (PARTITION BY event_type ORDER BY prio, vc) AS rn
  FROM src
),
samp AS (SELECT event_type, vc FROM sampled WHERE rn <= {SKETCH_K}),
sstat AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sample_n
          FROM samp GROUP BY event_type),
ordered AS (
  SELECT event_type, vc,
         row_number() OVER (PARTITION BY event_type ORDER BY vc) AS vr
  FROM samp
),
med AS (
  SELECT o.event_type, o.vc AS est_p50_cents
  FROM ordered o JOIN sstat t ON t.event_type = o.event_type
  WHERE o.vr = (t.sample_n + 1) // 2
),
moments AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         min(vc) AS min_cents, max(vc) AS max_cents
  FROM src GROUP BY event_type
)
SELECT m.event_type, m.n, t.sample_n, d.est_p50_cents,
       m.min_cents, m.max_cents
FROM moments m
JOIN sstat t ON t.event_type = m.event_type
JOIN med d ON d.event_type = m.event_type
ORDER BY m.event_type
"""


def _sketch_stream(events: DataFrame) -> DataFrame:
    """event stream → (event_type, vc, prio) for the sketch fold."""
    return events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
        )
        .cast("bigint")
        .alias("prio"),
    )


def run_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the sketch over the bounded events stream; return the final
    (largest-n) summary row per event_type."""
    from pyspark.sql import Window as W

    events = _sketch_stream(_events_stream(spark, sf_dir))
    sk = events.groupBy("event_type").applyInPandasWithState(
        _sketch_group,
        outputStructType=_SK_OUT,
        stateStructType=_SK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = W.partitionBy("event_type").orderBy(F.desc("n"))
    return (
        drain(sk, "append")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
        .orderBy("event_type")
    )


@query("streaming_quantile_sketch", oracle=_SKETCH_ORACLE)
def streaming_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_quantile_sketch(spark, sf_dir)


# --------------------------------------------------------------------------
# Count–min sketch in streaming state — the frequency twin of the KMV
# quantile sketch above and the third streaming sketch: per event type,
# a DEPTH×WIDTH counter matrix folds user occurrences cell-wise in
# state (O(DEPTH·WIDTH) longs per key forever — the bound that survives
# unbounded ingest), each trigger emits the running matrix, and the
# batch-side probe reads est(u) = min_d cells[d][h_d(u)] for the top
# exact users, reporting the CM overestimate next to the truth (the
# audit the batch text_countmin_hitters performs against Spark's JVM
# sketch; here the sketch lives in streaming state and the probe is
# relational in BOTH engines, so the report value-hashes strictly).
# Cell-wise integer adds are trivially order/batch-split-invariant —
# pinned by tests/test_streaming_sketch.py::test_cm_fold_is_batch_invariant.
CM_DEPTH, CM_WIDTH = 4, 64

_CM_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("cells", ArrayType(LongType())),
    ]
)
_CM_STATE = StructType(
    [
        StructField("cells", ArrayType(LongType())),
        StructField("n", LongType()),
    ]
)


def _cm_bucket(d: int, user_id: int) -> int:
    import hashlib

    h = hashlib.md5(f"{d}_{user_id}".encode()).hexdigest()[:8]
    return int(h, 16) % CM_WIDTH


def _cm_group(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (etype,) = key
    if state.exists:
        cells_arr, n = state.get
        cells = [int(c) for c in cells_arr]
    else:
        cells, n = [0] * (CM_DEPTH * CM_WIDTH), 0
    for pdf in pdfs:
        for u in pdf["user_id"]:
            u = int(u)
            for d in range(CM_DEPTH):
                cells[d * CM_WIDTH + _cm_bucket(d, u)] += 1
            n += 1
    state.update((cells, n))
    yield pd.DataFrame({"event_type": [etype], "n": [n], "cells": [cells]})


_CM_HASH_SQL = (
    "('0x' || substr(md5(CAST({d} AS VARCHAR) || '_' "
    "|| CAST({u} AS VARCHAR)), 1, 8))::BIGINT % 64"
)

_CM_ORACLE = f"""
WITH ex AS (
  SELECT event_type, user_id, count(*) AS exact_n
  FROM events GROUP BY event_type, user_id
),
top5 AS (
  SELECT event_type, user_id, exact_n, rnk FROM (
    SELECT event_type, user_id, exact_n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY exact_n DESC, user_id) AS rnk
    FROM ex) t WHERE rnk <= 5
),
ds AS (SELECT unnest(range({CM_DEPTH})) AS d),
buckets AS (
  SELECT e.event_type, d.d,
         {_CM_HASH_SQL.format(d="d.d", u="e.user_id")} AS b,
         count(*) AS c
  FROM events e CROSS JOIN ds d
  GROUP BY e.event_type, d.d, b
),
probe AS (
  SELECT t.event_type, t.user_id, t.exact_n, t.rnk, min(bk.c) AS est_n
  FROM top5 t CROSS JOIN ds d
  JOIN buckets bk ON bk.event_type = t.event_type AND bk.d = d.d
    AND bk.b = {_CM_HASH_SQL.format(d="d.d", u="t.user_id")}
  GROUP BY t.event_type, t.user_id, t.exact_n, t.rnk
)
SELECT event_type, user_id,
       CAST(exact_n AS BIGINT) AS exact_n,
       CAST(est_n AS BIGINT) AS est_n,
       CAST(est_n - exact_n AS BIGINT) AS overshoot,
       CAST(rnk AS INT) AS rnk
FROM probe
ORDER BY event_type, rnk
"""


@query("streaming_cm_error_report", oracle=_CM_ORACLE)
def streaming_cm_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    events = _events_stream(spark, sf_dir).select("event_type", "user_id")
    sk = events.groupBy("event_type").applyInPandasWithState(
        _cm_group,
        outputStructType=_CM_OUT,
        stateStructType=_CM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    w = W.partitionBy("event_type").orderBy(F.desc("n"))
    final = (
        drain(sk, "append")
        .withColumn("rnk_", F.row_number().over(w))
        .filter(F.col("rnk_") == 1)
        .select("event_type", "cells")
    )
    # batch-side probe: top-5 exact users per type against the state matrix
    from minimised_impala_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    top5 = (
        ex.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(
                    F.desc("exact_n"), F.asc("user_id")
                )
            ),
        )
        .filter(F.col("rnk") <= 5)
    )

    def h(d: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(str(d)), F.lit("_"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % CM_WIDTH
        )

    est = F.least(
        *[
            F.element_at(F.col("cells"), (F.lit(d * CM_WIDTH) + h(d) + 1).cast("int"))
            for d in range(CM_DEPTH)
        ]
    )
    return (
        top5.join(F.broadcast(final), "event_type")
        .select(
            "event_type",
            "user_id",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            est.cast("bigint").alias("est_n"),
            (est - F.col("exact_n")).cast("bigint").alias("overshoot"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("event_type", "rnk")
    )
