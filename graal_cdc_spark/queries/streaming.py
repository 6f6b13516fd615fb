"""ST1–ST3 — event-time windowed aggregations (SURVEY.md §2.4).

The reference has NO event-time semantics (arrival-order processing
only, ``DebeziumEngineRecordHandler.java:130-146``); these queries are
the declared idiomatic-Spark extension: tumbling / sliding / session
windows with watermark support.

Gated here in batch form over ``events`` — the *same* transform
functions (``graal_cdc_spark.streaming.windows``) run on ``readStream``
in the golden streaming tests (``tests/test_streaming.py``), so the
oracle gate covers the shared window logic while the streaming tests
cover watermark/late-data behavior.

Window starts are epoch-aligned in both engines (DuckDB ``time_bucket``
origin 2000-01-03 is a whole multiple of 5/10 minutes past the epoch,
so its buckets coincide with Spark's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graal_cdc_spark.queries import QuerySpec, register
from graal_cdc_spark.session import configure
from graal_cdc_spark.sources.tables import load_table, ordered_result
from graal_cdc_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    configure(spark)
    return load_table(spark, sf_dir, "events")


def _st1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ordered_result(tumbling_counts(_events(spark, sf_dir)), 
        "window_start", "event_type"
    )


register(
    QuerySpec(
        name="st1_tumbling_window",
        category="streaming",
        description="tumbling 10-min window counts per event_type "
        "(batch twin of the streaming query)",
        spark=_st1,
        oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
        reference="SURVEY.md §2.2 (extension; reference has no event time)",
    )
)


def _st2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ordered_result(sliding_counts(_events(spark, sf_dir)), 
        "window_start", "event_type"
    )


register(
    QuerySpec(
        name="st2_sliding_window",
        category="streaming",
        description="sliding 10-min/5-min window counts per event_type",
        spark=_st2,
        oracle="""
WITH k AS (SELECT 0 AS i UNION ALL SELECT 1),
s AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - i * INTERVAL '5 minutes' AS ws,
         event_type
  FROM events CROSS JOIN k
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n
FROM s
GROUP BY 1, 2
ORDER BY 1, 2
""",
        reference="SURVEY.md §2.2 (extension)",
    )
)


def _st3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ordered_result(session_counts(_events(spark, sf_dir)), 
        "user_id", "session_start"
    )


register(
    QuerySpec(
        name="st3_session_window",
        category="streaming",
        description="session windows per user (1-hour inactivity gap); "
        "end = last event + gap, Spark session_window semantics",
        spark=_st3,
        # Gaps-and-islands twin of Spark's session_window: a new session
        # starts when the gap since the previous event is >= 1 hour
        # (sessions are half-open [start, last+gap), adjacency splits).
        oracle="""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '1 hour'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n
FROM g
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
        reference="SURVEY.md §2.2 (extension)",
    )
)


def _st4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.joins import interval_pairs

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    return (
        ordered_result(interval_pairs(purchases, errors, lookback="30 minutes")
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "error_id"), "user_id", "purchase_id", "error_id")
    )


register(
    QuerySpec(
        name="st4_stream_stream_join",
        category="streaming",
        description="stream-stream interval join: errors within 30 min "
        "before each purchase, per user (batch twin of the "
        "watermarked streaming join)",
        spark=_st4,
        oracle="""
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM events p
JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL '30 minutes'
 AND e.ts <= p.ts
WHERE p.event_type = 'purchase' AND e.event_type = 'error'
ORDER BY p.user_id, purchase_id, error_id
""",
        reference="SURVEY.md §2.2 (extension; reference has no joins)",
    )
)


def _st5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ordered_result(ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        ), "user_id", "event_type")
    )


register(
    QuerySpec(
        name="st5_dedup_within_watermark",
        category="streaming",
        description="first event per (user, type) — batch twin of "
        "streaming dropDuplicatesWithinWatermark under ordered replay",
        spark=_st5,
        oracle="""
SELECT user_id, event_type, event_id AS first_event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY event_id) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY user_id, event_type
""",
        reference="SURVEY.md §2.2 (extension); stateful.streaming_exact_dedup",
    )
)


def _st6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to a
    static dimension (customer), aggregated per segment. Batch twin of
    the streaming plan where ``customer`` is a broadcast static side —
    no state store is involved (the static side is re-broadcast per
    micro-batch), which is why this join needs no watermark.
    """
    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return (
        ordered_result(ev.join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("string")
            .alias("total_value"),
        ), "c_mktsegment")
    )


register(
    QuerySpec(
        name="st6_stream_static_join",
        category="streaming",
        description="stream-static broadcast enrichment join + per-segment totals",
        spark=_st6,
        oracle="""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
        reference="SURVEY.md §2.2 (extension; dimension enrichment)",
    )
)


def _st7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.joins import interval_pairs

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    return (
        ordered_result(interval_pairs(purchases, errors, lookback="30 minutes", how="left_outer")
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "error_id"), 
            "user_id", "purchase_id", F.col("error_id").asc_nulls_first()
        )
    )


register(
    QuerySpec(
        name="st7_stream_stream_left_outer",
        category="streaming",
        description="stream-stream LEFT OUTER interval join: every "
        "purchase, with its errors in the prior 30 min or a NULL pad "
        "(batch twin of the watermark-delayed outer streaming join)",
        spark=_st7,
        oracle="""
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id
FROM events p
LEFT JOIN events e
  ON e.user_id = p.user_id
 AND e.event_type = 'error'
 AND e.ts >= p.ts - INTERVAL '30 minutes'
 AND e.ts <= p.ts
WHERE p.event_type = 'purchase'
ORDER BY p.user_id, purchase_id, error_id NULLS FIRST
""",
        reference="SURVEY.md §2.2 (extension; reference has no joins)",
    )
)


def _st8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.windows import hourly_rollup_of_tumbling

    return ordered_result(hourly_rollup_of_tumbling(_events(spark, sf_dir)), 
        "hour_start", "event_type"
    )


register(
    QuerySpec(
        name="st8_chained_window_rollup",
        category="streaming",
        description="chained stateful aggs: 10-min tumbling counts "
        "rolled up to hourly stats (batch twin of the two-operator "
        "streaming query)",
        spark=_st8,
        oracle="""
WITH ten AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w10,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(time_bucket(INTERVAL '1 hour', w10), '%Y-%m-%d %H:%M:%S')
         AS hour_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(max(n) AS BIGINT) AS max_n,
       CAST(sum(n) AS BIGINT) AS sum_n
FROM ten
GROUP BY 1, 2
ORDER BY 1, 2
""",
        reference="SURVEY.md §2.2 (extension; multi-resolution rollup)",
    )
)


def _st9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``running_topk_by_key`` (streaming.stateful): the
    per-key bounded top-k a ranking window computes in batch and the
    custom applyInPandasWithState operator maintains incrementally.
    """
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        ordered_result(ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", "value"), "user_id", "rank")
    )


register(
    QuerySpec(
        name="st9_stateful_topk",
        category="streaming",
        description="per-key bounded top-k — batch ranking-window twin "
        "of the applyInPandasWithState streaming operator",
        spark=_st9,
        oracle="""
SELECT user_id, CAST(rank AS INT) AS rank, event_id, value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rank
  FROM events
)
WHERE rank <= 3
ORDER BY user_id, rank
""",
        reference="SURVEY.md §2.2 (extension; custom stateful operator)",
    )
)


def _st10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stream-stream JOIN → windowed aggregation: count
    correlated (purchase, error) pairs per 10-minute window of the
    purchase time. In streaming this is a join state store feeding a
    window state store in ONE query (append mode); the purchase-side
    watermark flows through the join into the window via l_ts.
    """
    from graal_cdc_spark.streaming.joins import interval_pairs

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    pairs = interval_pairs(
        purchases, errors, lookback="30 minutes", keep_ts=True
    )
    return (
        ordered_result(pairs.groupBy(F.window("l_ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_pairs",
        ), "window_start")
    )


register(
    QuerySpec(
        name="st10_join_then_window",
        category="streaming",
        description="chained stream-stream interval join -> tumbling "
        "window count (two state stores, one streaming query)",
        spark=_st10,
        oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', p.ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM events p
JOIN events e
  ON e.user_id = p.user_id
 AND e.ts >= p.ts - INTERVAL '30 minutes'
 AND e.ts <= p.ts
WHERE p.event_type = 'purchase' AND e.event_type = 'error'
GROUP BY 1 ORDER BY 1
""",
        reference="SURVEY.md §2.2 (extension; multi-stateful pipeline)",
    )
)


def _st11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.windows import windowed_distinct_users

    return ordered_result(windowed_distinct_users(_events(spark, sf_dir)), 
        "window_start"
    )


register(
    QuerySpec(
        name="st11_windowed_distinct_users",
        category="streaming",
        description="exact distinct users per tumbling window via "
        "chained dedup-then-count stateful aggs (batch twin)",
        spark=_st11,
        oracle="""
WITH per_user AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS w, user_id,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM per_user
GROUP BY w ORDER BY window_start
""",
        reference="SURVEY.md §2.2 (extension; exact windowed cardinality)",
    )
)


def _st12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming admission control, batch twin: events from denylisted
    users (customers with negative account balance — a static
    moderation dim) are dropped by a stream-static LEFT ANTI join
    before the tumbling-window count. The golden test runs the same
    ``admitted_counts`` transform on ``readStream`` chunks."""
    from graal_cdc_spark.streaming.windows import admitted_counts

    ev = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    deny = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("user_id")
    )
    return ordered_result(admitted_counts(ev, deny), "window_start", "event_type")


register(
    QuerySpec(
        name="st12_stream_anti_join_admission",
        category="streaming",
        description="stream-static LEFT ANTI denylist admission + "
        "tumbling-window counts of admitted traffic",
        spark=_st12,
        oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_admitted
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_acctbal < 0)
GROUP BY 1, 2
ORDER BY 1, 2
""",
        reference="SURVEY.md §2.2 (extension; admission control)",
    )
)


def _st13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, window) quota admission, batch twin: the first 3
    events (event order) per user per 10-minute tumbling window. The
    streaming form is the custom ``quota_admission`` stateful operator
    (``streaming/stateful.py``) — O(1) counter per live key with
    EventTimeTimeout expiry; goldens prove prefix-chunked streaming
    equals this window formulation and that expired-window state is
    dropped."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", F.window("ts", "10 minutes").getField("start")
    ).orderBy("ts", "event_id")
    return (
        ordered_result(ev.select(
            "user_id",
            F.date_format(
                F.window("ts", "10 minutes").getField("start"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("window_start"),
            "event_id",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3), "user_id", "window_start", "event_id")
    )


register(
    QuerySpec(
        name="st13_quota_admission",
        category="streaming",
        description="per-(user, 10-min window) quota admission: first "
        "3 events in event order (custom stateful operator twin)",
        spark=_st13,
        oracle="""
SELECT user_id,
       strftime(time_bucket(INTERVAL '10 minutes', ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_id,
       CAST(rank AS INT) AS rank
FROM (
  SELECT user_id, ts, event_id,
         row_number() OVER (
           PARTITION BY user_id, time_bucket(INTERVAL '10 minutes', ts)
           ORDER BY ts, event_id) AS rank
  FROM events
)
WHERE rank <= 3
ORDER BY user_id, window_start, event_id
""",
        reference="SURVEY.md §2.2 (extension; rate-limit admission)",
    )
)


def _st14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER watermarked interval join, batch twin: every
    purchase paired with errors in its 30-minute lookback, PLUS
    unmatched purchases (null error) AND unmatched errors (null
    purchase) — completes the stream-stream join family (st4 inner,
    st7 left outer). In streaming both sides' unmatched rows emit
    once the watermark passes their join window."""
    from graal_cdc_spark.streaming.joins import interval_pairs

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    return (
        ordered_result(interval_pairs(purchases, errors, lookback="30 minutes", how="full_outer")
        .withColumnRenamed("left_id", "purchase_id")
        .withColumnRenamed("right_id", "error_id"), 
            "user_id",
            F.col("purchase_id").asc_nulls_first(),
            F.col("error_id").asc_nulls_first(),
        )
    )


register(
    QuerySpec(
        name="st14_stream_stream_full_outer",
        category="streaming",
        description="FULL OUTER watermarked interval join (both sides "
        "null-padded; completes the st4/st7 join family)",
        spark=_st14,
        oracle="""
WITH p AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'purchase'),
     e AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'error')
SELECT COALESCE(p.user_id, e.user_id) AS user_id,
       p.event_id AS purchase_id,
       e.event_id AS error_id
FROM p FULL OUTER JOIN e
  ON p.user_id = e.user_id
 AND e.ts >= p.ts - INTERVAL 30 MINUTE
 AND e.ts <= p.ts
ORDER BY user_id,
         purchase_id NULLS FIRST,
         error_id NULLS FIRST
""",
        reference="SURVEY.md §2.2 (extension; outer interval joins)",
    )
)


def _st15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.windows import session_coverage

    return ordered_result(session_coverage(_events(spark, sf_dir), gap="30 minutes"), 
        "user_id", "session_start"
    )


register(
    QuerySpec(
        name="st15_session_coverage",
        category="streaming",
        description="per-session covered time via session_window "
        "(30-min gap): the streaming-capable interval-union twin of "
        "r83; microsecond-exact span = last event + gap - first event",
        spark=_st15,
        # Gaps-and-islands twin: session span = max(ts) + gap - min(ts)
        oracle="""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n,
       CAST(epoch_us(max(ts)) + 1800000000 - epoch_us(min(ts)) AS BIGINT)
         AS covered_us
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
        reference="SURVEY.md §2.4 ST3/R83 family (session interval "
        "union); DebeziumEngineRecordHandler.java:130-146 (no "
        "event-time in the reference)",
    )
)


def _st16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.windows import windowed_value_histogram

    return ordered_result(windowed_value_histogram(_events(spark, sf_dir)), 
        "window_start", "event_type", "bin"
    )


register(
    QuerySpec(
        name="st16_windowed_value_histogram",
        category="streaming",
        description="tumbling-window value histogram per event_type "
        "(decomposable streaming half of the exact-percentile "
        "pattern; O(bins) state per window)",
        spark=_st16,
        oracle="""
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       CAST(floor(floor(value * 100) / 1000) AS BIGINT) AS bin,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
        reference="SURVEY.md §2.2 (extension); operators/robust.py "
        "binned-quantile pattern, streaming form",
    )
)


def _st17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming silver with schema evolution
    (``streaming/silver.py``, the c24 philosophy applied to the
    streaming path): replay the CDC fixture through a checkpointed
    foreachBatch pipeline in two micro-batches — per batch the
    registry folds incrementally on the driver (``merge_registry``),
    row images are routed to their version's slice, and versioned
    silver parquet is written — then read the silver table back and
    gate its CONTENT against the
    oracle's direct statement of the row-image semantics. Proves the
    runner → registry → silver dataflow delivers exactly the
    non-delete row images with their schema-version columns.

    Scale: everything inside is the production path (executor-parallel
    writes, one aggregate collect per batch, bounded driver state); the
    gate's temp replay/checkpoint dirs are per-call and discarded.
    """
    import tempfile
    from pathlib import Path

    from graal_cdc_spark.cdc.envelope import build_cdc_events
    from graal_cdc_spark.pipelines.registry import Pipeline
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.streaming.replay import append_chunk
    from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

    configure(spark)
    events = build_cdc_events(spark, sf_dir)
    mid = events.agg(
        (F.min("seq") + (F.max("seq") - F.min("seq")) / 2).alias("m")
    ).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="st17-")
    replay = f"{root}/replay"
    for part in (
        events.filter(F.col("seq") <= mid),
        events.filter(F.col("seq") > mid),
    ):
        append_chunk(part.coalesce(1), replay)

    lake = SilverSchemaEvolution(spark, f"{root}/lake")
    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=f"{root}/ckpt"
    )
    pipe = Pipeline(
        name="st17", path=Path(root), version=0.0, db=None, tables=(),
        transform=lambda df: df,
    )
    run = runner.start(pipe, lake.sink(), max_files_per_trigger=1)
    run.query.awaitTermination()

    return (
        ordered_result(lake.read_silver("appdb", "users")
        .select(
            "seq", "key", "op", "version",
            "user_id", "event_type", "value", "ts",
        ), "seq")
    )


from graal_cdc_spark.cdc.envelope import cdc_parsed_cte as _cdc_cte  # noqa: E402

_ST17_ORACLE = (
    _cdc_cte()
    + """
SELECT c.seq, c.key, c.op, CAST(1 AS INT) AS version,
       json_extract_string(e.value, '$.payload.after.user_id')
         AS user_id,
       json_extract_string(e.value, '$.payload.after.event_type')
         AS event_type,
       json_extract_string(e.value, '$.payload.after.value') AS value,
       json_extract_string(e.value, '$.payload.after.ts') AS ts
FROM cdc_parsed c JOIN cdc_events e USING (seq)
WHERE c.tbl = 'users' AND c.op <> 'd'
  AND json_extract(e.value, '$.payload.after') IS NOT NULL
  AND json_extract(e.value, '$.payload.after') != 'null'
ORDER BY c.seq
"""
)

register(
    QuerySpec(
        name="st17_streaming_silver_evolution",
        category="streaming",
        description="end-to-end streaming silver: 2-micro-batch replay "
        "through foreachBatch registry fold + version-tagged silver "
        "writes, gated on the row-image content",
        spark=_st17,
        oracle=_ST17_ORACLE,
        reference="SURVEY.md §1.4 schema history (consumer); "
        "DebeziumEngineRecordHandler.java:89-93 segment replay",
    )
)


# ---------------------------------------------------------------------------
# ST18 — streaming heavy hitters: the batch twin of
# ``running_heavy_hitters`` (streaming/stateful.py — one capacity-k
# Misra–Gries summary per md5 hash bucket, maintained across
# micro-batches in applyInPandasWithState state). The twin is the
# EXACT per-bucket frequent-items answer the sketch's survivor set is
# guaranteed to contain (bucket frequency > n_bucket/(k+1), compared
# in integers) — the same exact-verify contract as l90, bucketed the
# way the streaming operator keys its state. The streaming goldens
# (tests/test_streaming.py::
# test_running_heavy_hitters_stream_superset_and_bounded)
# assert the survivor-superset guarantee,
# the O(k) state bound, and chunked-replay determinism against this
# twin's semantics.
#
# Stream: char trigrams of the events ``props`` payload — JSON
# structure makes it genuinely skewed (the '{"k' family dominates),
# and 44–59 distinct trigrams per bucket vs capacity 8 means the MG
# state actually evicts.
# ---------------------------------------------------------------------------

_ST18_K, _ST18_BUCKETS = 8, 4


def _st18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.sources.tables import with_min_parallelism

    # min-parallelism: the trigram explode + md5 bucketing is the hot
    # map stage — a single-row-group scan would serialize it
    ev = with_min_parallelism(
        spark, _events(spark, sf_dir).filter(F.length("props") >= 3)
    )
    toks = ev.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(props) - 2), "
                "j -> substring(props, j, 3))"
            )
        ).alias("token")
    )
    from graal_cdc_spark.operators.sketch import md5_bucket

    b = toks.select(
        md5_bucket("token", _ST18_BUCKETS).alias("bucket"), "token"
    )
    counts = b.groupBy("bucket", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # bucket totals roll up from the vocab-grain counts — a second
    # aggregate over the corpus-sized explode would recompute it
    # (the l90 lesson); this rollup touches O(vocab) rows instead
    totals = counts.groupBy("bucket").agg(
        F.sum("cnt").alias("n_bucket")
    )
    return (
        ordered_result(counts.join(F.broadcast(totals), "bucket")
        .filter(F.col("cnt") * (_ST18_K + 1) > F.col("n_bucket"))
        .select("bucket", "token", "cnt", "n_bucket"), "bucket", F.desc("cnt"), "token")
    )


register(
    QuerySpec(
        name="st18_streaming_heavy_hitters",
        category="streaming",
        description="per-bucket exact heavy hitters — batch twin of "
        "the applyInPandasWithState Misra-Gries streaming operator "
        "(md5 bucket keying, integer threshold)",
        spark=_st18,
        oracle=f"""
WITH toks AS (
  SELECT substr(props, CAST(j AS INT), 3) AS token
  FROM events, unnest(generate_series(1, length(props) - 2)) t(j)
  WHERE length(props) >= 3
),
b AS (
  SELECT token,
         (strpos('0123456789abcdef', substr(md5(token), 1, 1)) - 1)
           % {_ST18_BUCKETS} AS bucket
  FROM toks
),
bt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_bucket
       FROM b GROUP BY bucket),
c AS (SELECT bucket, token, CAST(count(*) AS BIGINT) AS cnt
      FROM b GROUP BY bucket, token)
SELECT CAST(c.bucket AS INT) AS bucket, c.token, c.cnt, bt.n_bucket
FROM c JOIN bt USING (bucket)
WHERE c.cnt * {_ST18_K + 1} > bt.n_bucket
ORDER BY bucket, cnt DESC, token
""",
        reference="SURVEY.md §2.2 (extension; custom stateful "
        "operator); Misra-Gries 1982 over streaming state",
    )
)


# ---------------------------------------------------------------------------
# ST19 — versioned-lake STREAMING change feed: the ``graal_vlake``
# Structured Streaming source (sources/vlake_ds.py, the
# Delta-streaming-source analog) driven through the same
# append / key-merge / delete lifecycle as c31/c32, drained with
# Trigger.availableNow into a parquet sink, and censused per
# (version, change type, table). Shares C32's oracle verbatim: the
# per-commit micro-batches must reproduce EXACTLY the declarative
# snapshot diffs the batch read_changes produces — a wrong offset
# boundary, a dropped commit, a double-emitted partition, or a broken
# multiset diff in the partition reader changes a cell.
#
# Scale shape: latestOffset is one directory listing; each micro-batch
# reads only its commit's touched files; the diff is a weight-summed
# groupby inside the partition reader; the checkpoint holds one
# integer version.
# ---------------------------------------------------------------------------


def _st19(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from graal_cdc_spark.queries.cdc import (
        build_vlake_lifecycle,
        change_feed_census,
    )
    from graal_cdc_spark.sources import vlake_ds

    configure(spark)
    table = build_vlake_lifecycle(spark, sf_dir, "st19")
    vlake_ds.register(spark)
    root = tempfile.mkdtemp(prefix="st19-")
    q = (
        spark.readStream.format("graal_vlake")
        .load(table)
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return change_feed_census(spark.read.parquet(f"{root}/out"))


from graal_cdc_spark.queries.cdc import C32_ORACLE as _C32_ORACLE  # noqa: E402

register(
    QuerySpec(
        name="st19_lake_stream_changes",
        category="streaming",
        description="graal_vlake streaming source: per-commit "
        "change-feed micro-batches over the versioned table format "
        "(append / key-merge / delete lifecycle), availableNow drain, "
        "census per (version, change type, table) — same oracle as "
        "the batch change feed (c32)",
        spark=_st19,
        oracle=_C32_ORACLE,
        reference="no reference analog; Delta Lake streaming-source "
        "semantics (startingVersion / skipChangeCommits) on the "
        "public PySpark Python DataSource API",
    )
)


# ---------------------------------------------------------------------------
# ST20 — versioned-lake streaming UPDATE-CLASSIFIED feed: the st19
# drain over the c36 lifecycle (the key-merge commit persisted its
# delta with Delta-CDF update_preimage/update_postimage classes).
# Shares C36's oracle verbatim: every micro-batch partition is one
# persisted change file read as Arrow batches, so a dropped class, a
# mis-planned file partition, or a broken classification changes a
# cell. Together with st19 this pins BOTH feed shapes (net
# insert/delete and update-classified) through the streaming path.
#
# Scale shape: identical to st19 — one input partition per persisted
# change file, zero diff work at read time, checkpointed integer
# offsets.
# ---------------------------------------------------------------------------


def _st20(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from graal_cdc_spark.queries.cdc import (
        build_vlake_update_lifecycle,
        change_feed_census,
    )
    from graal_cdc_spark.sources import vlake_ds

    configure(spark)
    table = build_vlake_update_lifecycle(spark, sf_dir, "st20")
    vlake_ds.register(spark)
    root = tempfile.mkdtemp(prefix="st20-")
    q = (
        spark.readStream.format("graal_vlake")
        .load(table)
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return change_feed_census(spark.read.parquet(f"{root}/out"))


from graal_cdc_spark.queries.cdc import C36_ORACLE as _C36_ORACLE  # noqa: E402

register(
    QuerySpec(
        name="st20_lake_stream_update_feed",
        category="streaming",
        description="graal_vlake streaming source over the "
        "update-classified change feed: per-file Arrow micro-batch "
        "partitions serve update_preimage/update_postimage/insert/"
        "delete classes, availableNow drain, census per (version, "
        "change type, table) — same oracle as the batch c36",
        spark=_st20,
        oracle=_C36_ORACLE,
        reference="no reference analog; Delta Lake CDF update "
        "classification through the streaming source (r12)",
    )
)


# ---------------------------------------------------------------------------
# ST21 — STREAMING merge-apply INTO the versioned lake (the write-side
# twin of st19/st20's read-side streams; with them, every lake write
# mode now has a streaming pin): the c40 change stream — op='d' rows
# included — split into TWO disjoint micro-batches (one file per
# trigger; latest_by_key gives one row per key, so any disjoint
# batching merges to the same end state) and applied per batch with
# commit_merge(delete_when="op = 'd'") inside foreachBatch. The census
# is c40's with n_versions == 3 (v0 append + one merge commit per
# micro-batch — the batching is part of the gated contract).
#
# Scale shape: this is the production CDC-apply loop — each
# micro-batch pays one file-targeted merge over O(rows touched), the
# lake serves snapshot-isolated reads throughout, and the change feed
# of each commit persists at write time for downstream consumers.
# ---------------------------------------------------------------------------


def _st21(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from graal_cdc_spark.queries.cdc import _parsed
    from graal_cdc_spark.sinks import versioned_lake as VL

    configure(spark)
    from graal_cdc_spark.cdc.compaction import latest_by_key

    parsed = _parsed(spark, sf_dir)
    mx = parsed.agg(F.max("seq").alias("m")).collect()[0]["m"]
    s0, s1 = mx // 3, (2 * mx) // 3
    base = (
        latest_by_key(parsed.filter(F.col("seq") <= s0), ["tbl", "key"], "seq")
        .filter(F.col("op") != "d")
        .select("tbl", "key", "op", "seq")
    )
    table = tempfile.mkdtemp(prefix="st21-vlake-") + "/state"
    VL.commit_append(spark, base.repartition(4, "key"), table)       # v0
    changes = latest_by_key(
        parsed.filter((F.col("seq") > s0) & (F.col("seq") <= s1)),
        ["tbl", "key"],
        "seq",
    ).select("tbl", "key", "op", "seq")
    # two disjoint chunks by key hash, one parquet file each — with
    # maxFilesPerTrigger=1 the file source replays them as exactly two
    # micro-batches
    src = tempfile.mkdtemp(prefix="st21-src-")
    for i in (0, 1):
        chunk = changes.filter(F.pmod(F.crc32("key"), F.lit(2)) == i)
        # the gated oracle pins n_versions == 3 (v0 + one merge per
        # micro-batch); an empty half would write a 0-row file whose
        # batch the isEmpty guard skips, silently committing only one
        # merge — fail fast with the real cause instead (ADVICE r12)
        if chunk.isEmpty():
            raise AssertionError(
                f"st21: crc32-half {i} of the change window is empty "
                "at this SF — the two-micro-batch contract (n_versions"
                "=3) cannot hold; regenerate or re-slice the window"
            )
        chunk.coalesce(1).write.mode("append").parquet(src)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        VL.commit_merge(
            batch.sparkSession, batch, table, ["tbl", "key"],
            delete_when="op = 'd'",
        )

    root = tempfile.mkdtemp(prefix="st21-ckpt-")
    q = (
        spark.readStream.schema("tbl string, key string, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", root)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_versions = VL.latest_version(table) + 1
    return ordered_result(
        VL.read_table(spark, table)
        .groupBy("tbl")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("key").alias("n_keys"),
            F.max("seq").alias("max_seq"),
        )
        .withColumn("n_versions", F.lit(n_versions).cast("int")),
        "tbl",
    )


from graal_cdc_spark.queries.cdc import C40_ORACLE as _C40_ORACLE  # noqa: E402

register(
    QuerySpec(
        name="st21_lake_stream_merge_apply",
        category="streaming",
        description="streaming CDC-apply INTO the versioned lake: the "
        "change stream (deletes included) replayed as two disjoint "
        "micro-batches, each applied atomically with commit_merge in "
        "foreachBatch — end-state census identical to the one-commit "
        "batch apply (c40's oracle with n_versions=3)",
        spark=_st21,
        oracle=_C40_ORACLE(3),
        reference="no reference analog; Delta Lake streaming MERGE "
        "foreachBatch pattern, re-expressed on the versioned table "
        "format (r12)",
    )
)


# ---------------------------------------------------------------------------
# ST22 — graal_vlake stream ACROSS a partition-evolution commit
# (r13, the streaming pin of c41): v0 appends the compacted early
# state, v1 is commit_repartition(["tbl"]) — data-identical, every
# live file rewritten under the new hive layout — and v2 upserts the
# mid window INTO the evolved layout. The availableNow drain must
# (a) serve v0's inserts, (b) feed NOTHING for v1 (dataChange: false
# is skipped with zero I/O — a census row with version=1 fails the
# gate, because the oracle has none), and (c) serve v2's net delta
# read from files living under the NEW layout. In-query assert pins
# the dataChange flag so a silently-data-changing repartition can't
# masquerade as a skip.
#
# Scale shape: identical to st19 — per-commit micro-batches, one
# input partition per persisted change file, the rewrite commit costs
# consumers nothing regardless of table size.
# ---------------------------------------------------------------------------


def _st22(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from graal_cdc_spark.queries.cdc import _parsed, change_feed_census
    from graal_cdc_spark.sinks import versioned_lake as VL
    from graal_cdc_spark.sources import vlake_ds

    configure(spark)
    from graal_cdc_spark.cdc.compaction import latest_by_key

    parsed = _parsed(spark, sf_dir)
    mx = parsed.agg(F.max("seq").alias("m")).collect()[0]["m"]
    s0, s1 = mx // 3, (2 * mx) // 3
    base = (
        latest_by_key(parsed.filter(F.col("seq") <= s0), ["tbl", "key"], "seq")
        .filter(F.col("op") != "d")
        .select("tbl", "key", "op", "seq")
    )
    table = tempfile.mkdtemp(prefix="st22-vlake-") + "/state"
    VL.commit_append(spark, base.repartition(4, "key"), table)       # v0
    VL.commit_repartition(spark, table, ["tbl"])                     # v1
    if VL.commit_body(table, 1).get("dataChange", True) is not False:
        raise RuntimeError("st22: repartition must be data-identical")
    upd = (
        latest_by_key(
            parsed.filter((F.col("seq") > s0) & (F.col("seq") <= s1)),
            ["tbl", "key"],
            "seq",
        )
        .filter(F.col("op") != "d")
        .select("tbl", "key", "op", "seq")
    )
    VL.commit_upsert_keys(
        spark, upd.repartition(4, "key"), table, ["tbl", "key"]
    )                                                                # v2
    vlake_ds.register(spark)
    root = tempfile.mkdtemp(prefix="st22-")
    q = (
        spark.readStream.format("graal_vlake")
        .load(table)
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return change_feed_census(spark.read.parquet(f"{root}/out"))


from graal_cdc_spark.queries.cdc import cdc_parsed_cte as _cte22  # noqa: E402

register(
    QuerySpec(
        name="st22_lake_stream_repartition_skip",
        category="streaming",
        description="graal_vlake stream across a partition-evolution "
        "commit: v0 append feeds inserts, the v1 repartition rewrite "
        "(dataChange: false) feeds NOTHING with zero I/O, the v2 "
        "upsert's net delta is served from files under the NEW "
        "layout — census per (version, change type, table)",
        spark=_st22,
        oracle=_cte22()
        + """
, mx AS (SELECT max(seq) AS m FROM cdc_parsed),
base AS (
  SELECT tbl, key, op, seq FROM (
    SELECT tbl, key, op, seq,
           row_number() OVER (PARTITION BY tbl, key
                              ORDER BY seq DESC) AS rn
    FROM cdc_parsed, mx WHERE seq <= CAST(m // 3 AS BIGINT)
  ) t WHERE rn = 1 AND op <> 'd'
),
upd AS (
  SELECT tbl, key, op, seq FROM (
    SELECT tbl, key, op, seq,
           row_number() OVER (PARTITION BY tbl, key
                              ORDER BY seq DESC) AS rn
    FROM cdc_parsed, mx
    WHERE seq > CAST(m // 3 AS BIGINT)
      AND seq <= CAST((2 * m) // 3 AS BIGINT)
  ) t WHERE rn = 1 AND op <> 'd'
),
v2 AS (
  SELECT * FROM upd
  UNION ALL
  SELECT b.* FROM base b WHERE NOT EXISTS (
    SELECT 1 FROM upd u WHERE u.tbl = b.tbl AND u.key = b.key)
),
feed AS (
  SELECT 0 AS version, 'insert' AS change_type, * FROM base
  UNION ALL
  SELECT 2, 'insert', * FROM (
    SELECT * FROM v2 EXCEPT ALL SELECT * FROM base)
  UNION ALL
  SELECT 2, 'delete', * FROM (
    SELECT * FROM base EXCEPT ALL SELECT * FROM v2)
)
SELECT CAST(version AS INT) AS version, change_type, tbl,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT key) AS BIGINT) AS n_keys,
       CAST(max(seq) AS BIGINT) AS max_seq
FROM feed
GROUP BY version, change_type, tbl
ORDER BY version, change_type, tbl
""",
        reference="no reference analog; Delta Lake streaming-source "
        "skipChangeCommits/dataChange semantics across a layout "
        "rewrite (r13)",
    )
)


# ---------------------------------------------------------------------------
# ST23 — streaming KMV distinct estimator, batch twin (r13; the
# st9/st18 pairing discipline applied to l96's sketch): the
# running_kmv_distinct stateful operator keeps the k smallest
# portable-md5 hashes per group across micro-batches (bottom-k is
# mergeable — union then re-take bottom-k), so its end-of-stream
# output equals this batch derivation EXACTLY: n_state =
# least(k, distinct values), est = exact below capacity, else
# (k-1) * 2^40 / hk over the 40-bit prefix (pure integer arithmetic
# on both engines). The operator itself (two-micro-batch replay,
# bounded state, determinism, convergence to THIS query's rows) is
# golden-tested in tests/test_streaming.py.
#
# Scale shape: hashes are computed JVM-side (F.md5) before the
# stateful op; state is O(k) strings per group regardless of stream
# length — the streaming-native shape of approximate distinct
# counting.
# ---------------------------------------------------------------------------

_ST23_K = 32


def _st23(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = _ST23_K
    ev = _events(spark, sf_dir)
    h = ev.select(
        F.col("event_type").alias("grp"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    wc = Window.partitionBy("grp")
    ranked = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_distinct", F.count(F.lit(1)).over(wc)
    )
    kth = ranked.filter(F.col("rn") == k).select(
        "grp",
        F.greatest(
            F.conv(F.substring("h", 1, 10), 16, 10).cast("long"),
            F.lit(1),
        ).alias("hk"),
    )
    groups = ranked.select("grp", "n_distinct").distinct()
    out = groups.join(kth, "grp", "left").select(
        "grp",
        F.least(F.col("n_distinct"), F.lit(k)).cast("int").alias("n_state"),
        F.when(F.col("hk").isNull(), F.col("n_distinct"))
        .otherwise(F.expr(f"{(k - 1) * (1 << 40)} DIV hk"))
        .cast("long")
        .alias("est_distinct"),
    )
    return ordered_result(out, "grp")


register(
    QuerySpec(
        name="st23_streaming_kmv_distinct",
        category="streaming",
        description="per-group KMV bottom-k distinct estimate — batch "
        "twin of the running_kmv_distinct applyInPandasWithState "
        "operator (k smallest md5 hashes per group, exact below "
        "capacity, integer 40-bit-prefix estimate at capacity)",
        spark=_st23,
        oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type AS grp,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
ranked AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY grp) AS n_distinct
  FROM h
),
kth AS (
  SELECT grp,
         GREATEST(CAST('0x' || substr(h, 1, 10) AS BIGINT), 1) AS hk
  FROM ranked WHERE rn = {_ST23_K}
),
grp_t AS (SELECT DISTINCT grp, n_distinct FROM ranked)
SELECT g.grp,
       CAST(LEAST(g.n_distinct, {_ST23_K}) AS INT) AS n_state,
       CAST(CASE WHEN k.hk IS NULL THEN g.n_distinct
                 ELSE {(_ST23_K - 1) * (1 << 40)} // k.hk END AS BIGINT)
         AS est_distinct
FROM grp_t g LEFT JOIN kth k USING (grp)
ORDER BY g.grp
""",
        reference="sketch ladder streaming leg (Bar-Yossef et al. "
        "KMV); the l90<->st18 batch/streaming pairing applied to "
        "distinct counting (r13)",
    )
)
