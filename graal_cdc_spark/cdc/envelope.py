"""Debezium-style change-event envelope: synthesis + parsing.

The reference consumes Debezium JSON envelopes
(``DebeziumEngineRecordHandler.java:154-179``):
``{"payload":{"op":...,"before":...,"after":...,"source":{"db":...,"table":...}}}``
with tombstones (NULL value), DDL events (``payload.ddl``), and
non-row ops interleaved.

For the correctness gate, ``cdc_events`` is derived deterministically
from the ``events`` table by the FIXTURES.md §3 recipe — implemented
twice from the same recipe: once as DataFrame ops (this engine) and
once as a DuckDB CTE (the oracle). Only parsed fields that both
engines extract identically are surfaced in gated outputs.

Scale note: envelope synthesis and parsing are pure Catalyst
expressions (concat / CASE / get_json_object) — fully codegen'd, no
shuffle, no Python. At 100 TB the real source is a Kafka/file stream
of the same envelope strings and `parse_envelope` applies unchanged
(batch/streaming unification).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graal_cdc_spark.build_once import build_once
from graal_cdc_spark.cdc.filters import ROW_OPS
from graal_cdc_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Spark-side synthesis (FIXTURES.md §3 recipe)
# ---------------------------------------------------------------------------

# The synthesized envelope is a FIXTURE (derived deterministically from
# a small parquet table), consumed by all eight C-suite queries in one
# session — so it is persisted once per sf_dir (build-once) instead of
# re-synthesizing and re-parsing per query. The production CDC path
# never materializes like this: it reads Kafka/files incrementally and
# `parse_envelope` runs inside the stream.


def build_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the ``cdc_events`` envelope table from ``events``.

    Columns: ``seq BIGINT, key STRING, value STRING`` (NULL value =
    tombstone). One main row per event at ``seq = event_id*10`` plus
    deterministic noise rows at ``seq = event_id*10 + {1,2,3,4}``.
    The result is persisted (memory-and-disk, fixture-sized).
    """
    return build_once(
        spark, "cdc_events", (sf_dir,),
        lambda: _build_cdc_events(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def parsed_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parse_envelope(build_cdc_events(...))``, persisted per sf_dir
    — the shared input of C03–C08."""
    return build_once(
        spark, "parsed_envelope", (sf_dir,),
        lambda: parse_envelope(build_cdc_events(spark, sf_dir)).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def _build_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    mod = F.col("event_id") % 10
    op = (
        F.when(mod == 0, F.lit("r"))
        .when(mod <= 5, F.lit("c"))
        .when(mod <= 8, F.lit("u"))
        .otherwise(F.lit("d"))
    )
    tbl = F.when(F.col("user_id") % 2 == 0, F.lit("users")).otherwise(F.lit("orders"))
    ts_iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    val_str = F.col("value").cast("decimal(18,2)").cast("string")

    base = ev.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("key"),
        op.alias("op"),
        tbl.alias("tbl"),
        ts_iso.alias("ts_iso"),
        val_str.alias("val_str"),
        F.col("event_type"),
        F.col("user_id"),
    )

    after_json = F.when(F.col("op") == "d", F.lit("null")).otherwise(
        F.concat(
            F.lit('{"user_id":'),
            F.col("user_id").cast("string"),
            F.lit(',"event_type":"'),
            F.col("event_type"),
            F.lit('","value":'),
            F.col("val_str"),
            F.lit(',"ts":"'),
            F.col("ts_iso"),
            F.lit('"}'),
        )
    )
    source_json = F.concat(
        F.lit('"source":{"db":"appdb","table":"'), F.col("tbl"), F.lit('"}')
    )

    main_value = F.concat(
        F.lit('{"payload":{"op":"'),
        F.col("op"),
        F.lit('","before":null,"after":'),
        after_json,
        F.lit(","),
        source_json,
        F.lit("}}"),
    )
    ddl_value = F.concat(
        F.lit('{"payload":{"ddl":"ALTER TABLE '),
        F.col("tbl"),
        F.lit(' ADD COLUMN c INT",'),
        source_json,
        F.lit("}}"),
    )
    nonrow_value = F.concat(
        F.lit('{"payload":{"op":"m","after":{},'), source_json, F.lit("}}")
    )

    # Single scan, single pass: emit every row kind from one array +
    # explode instead of 5 unioned re-scans of the source. `keep`
    # gates the deterministic noise rows; Catalyst folds the whole
    # construction into one codegen stage over one parquet read.
    def _row(offset: int, value, keep):
        return F.struct(
            (F.col("event_id") * 10 + offset).alias("seq"),
            F.col("key").alias("key"),
            value.alias("value"),
            keep.alias("keep"),
        )

    rows = F.array(
        _row(0, main_value, F.lit(True)),
        _row(1, F.lit(None).cast("string"), F.col("event_id") % 97 == 0),
        _row(2, ddl_value, F.col("event_id") % 101 == 0),
        _row(3, F.lit('{"noPayload":true}'), F.col("event_id") % 103 == 0),
        _row(4, nonrow_value, F.col("event_id") % 107 == 0),
    )
    return (
        base.select(F.explode(F.filter(rows, lambda r: r["keep"])).alias("r"))
        .select("r.seq", "r.key", "r.value")
    )


# Typed envelope schema for the fused parse. ``after`` is read
# separately (its raw JSON is surfaced, and F7 is a key-presence test
# that a typed schema cannot express).
ENVELOPE_SCHEMA = (
    "STRUCT<payload: STRUCT<op: STRING, ddl: STRING, "
    "source: STRUCT<db: STRING, `table`: STRING>>>"
)


def parse_envelope(cdc_events: DataFrame) -> DataFrame:
    """``cdc_parsed`` — F3–F7 filter chain + envelope projection (P1).

    Mirrors the reference hot path
    (``DebeziumEngineRecordHandler.java:154-179``): filters first, then
    projection of op / source.db / source.table.

    Hot-path form: ONE ``from_json`` parse per row feeds F4–F6 and the
    projection (the composable per-filter API in
    ``graal_cdc_spark.cdc.filters`` re-parses per predicate and stays
    available for à-la-carte use; semantics are identical — see the
    truth-table test). F3 is a null test and F7 a substring test on
    the raw value; neither needs the parse.
    """
    p = F.from_json(F.col("value"), ENVELOPE_SCHEMA)["payload"]
    return (
        cdc_events.withColumn("__p", p)
        .filter(
            F.col("value").isNotNull()  # F3 tombstone
            & F.col("__p").isNotNull()  # F4 malformed (no payload object)
            & F.col("__p")["ddl"].isNull()  # F5 schema change
            & F.col("__p")["op"].isin(*ROW_OPS)  # F6 non-row op
            & F.col("value").like('%"after"%')  # F7 after-key presence
        )
        .select(
            F.col("seq"),
            F.floor(F.col("seq") / 10).cast("bigint").alias("event_id"),
            F.col("key"),
            F.col("__p")["op"].alias("op"),
            F.col("__p")["source"]["db"].alias("db"),
            F.col("__p")["source"]["table"].alias("tbl"),
            F.get_json_object("value", "$.payload.after").alias("after_json"),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB-side synthesis (oracle twin of the same recipe)
# ---------------------------------------------------------------------------

# CTE body producing cdc_events(seq, key, value) from the `events` view.
_DUCKDB_CDC_EVENTS = """
cdc_base AS (
  SELECT event_id,
         user_id,
         event_type,
         CAST(user_id AS STRING) AS key,
         CASE WHEN event_id % 10 = 0 THEN 'r'
              WHEN event_id % 10 BETWEEN 1 AND 5 THEN 'c'
              WHEN event_id % 10 BETWEEN 6 AND 8 THEN 'u'
              ELSE 'd' END AS op,
         CASE WHEN user_id % 2 = 0 THEN 'users' ELSE 'orders' END AS tbl,
         strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts_iso,
         CAST(CAST(value AS DECIMAL(18,2)) AS STRING) AS val_str
  FROM events
),
cdc_events AS (
  SELECT event_id * 10 AS seq, key,
         '{"payload":{"op":"' || op || '","before":null,"after":' ||
         CASE WHEN op = 'd' THEN 'null'
              ELSE '{"user_id":' || CAST(user_id AS STRING) ||
                   ',"event_type":"' || event_type ||
                   '","value":' || val_str ||
                   ',"ts":"' || ts_iso || '"}'
         END ||
         ',"source":{"db":"appdb","table":"' || tbl || '"}}}' AS value
  FROM cdc_base
  UNION ALL
  SELECT event_id * 10 + 1, key, CAST(NULL AS STRING)
  FROM cdc_base WHERE event_id % 97 = 0
  UNION ALL
  SELECT event_id * 10 + 2, key,
         '{"payload":{"ddl":"ALTER TABLE ' || tbl || ' ADD COLUMN c INT",' ||
         '"source":{"db":"appdb","table":"' || tbl || '"}}}'
  FROM cdc_base WHERE event_id % 101 = 0
  UNION ALL
  SELECT event_id * 10 + 3, key, '{"noPayload":true}'
  FROM cdc_base WHERE event_id % 103 = 0
  UNION ALL
  SELECT event_id * 10 + 4, key,
         '{"payload":{"op":"m","after":{},"source":{"db":"appdb","table":"' ||
         tbl || '"}}}'
  FROM cdc_base WHERE event_id % 107 = 0
)
"""

_DUCKDB_CDC_PARSED = """
cdc_parsed AS (
  SELECT seq,
         CAST(floor(seq / 10) AS BIGINT) AS event_id,
         key,
         json_extract_string(value, '$.payload.op') AS op,
         json_extract_string(value, '$.payload.source.db') AS db,
         json_extract_string(value, '$.payload.source.table') AS tbl
  FROM cdc_events
  WHERE value IS NOT NULL
    AND json_extract(value, '$.payload') IS NOT NULL
    AND json_extract(value, '$.payload.ddl') IS NULL
    AND json_extract_string(value, '$.payload.op') IN ('c','u','d','r')
    AND value LIKE '%"after"%'
)
"""


def cdc_events_cte() -> str:
    """``WITH``-clause prefix defining ``cdc_events`` for DuckDB."""
    return "WITH " + _DUCKDB_CDC_EVENTS.strip()


def cdc_parsed_cte() -> str:
    """``WITH``-clause prefix defining ``cdc_events`` + ``cdc_parsed``."""
    return cdc_events_cte() + ",\n" + _DUCKDB_CDC_PARSED.strip()
