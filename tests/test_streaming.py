"""Streaming golden tests (SURVEY.md §5.2.4/6).

Three properties of the Structured Streaming surface:

1. Batch/stream unification — the ST window transforms produce the
   same result on ``readStream`` (complete mode, AvailableNow) as on
   the batch DataFrame (the oracle-gated twin).
2. Watermark semantics — late events beyond the watermark are dropped;
   append mode emits only finalized windows.
3. CDC compaction stream — the end-to-end streaming pipeline converges
   to the batch compaction result, resumes from its checkpoint
   (tailer-cursor semantics), and is idempotent under full replay
   (at-least-once + idempotent upsert, SURVEY.md §2.3.3).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graal_cdc_spark.cdc.compaction import compact_cdc
from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
from graal_cdc_spark.sources.tables import events_schema, load_table
from graal_cdc_spark.streaming import (
    append_chunk,
    read_file_stream,
    run_cdc_compaction_stream,
    run_to_memory,
    tumbling_counts,
)

EVENTS_SCHEMA = events_schema()


def _rows(spark, df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# 1. unification: stream (complete mode) == batch twin
# ---------------------------------------------------------------------------


def test_tumbling_stream_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.coalesce(4), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA)
    got = run_to_memory(tumbling_counts(stream), output_mode="complete")
    want = tumbling_counts(events)
    assert _rows(spark, got) == _rows(spark, want)


# ---------------------------------------------------------------------------
# 2. watermark: late data dropped, append emits finalized windows only
# ---------------------------------------------------------------------------


_T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _mk_events(spark, rows):
    t0 = _T0
    data = [
        (i, t0 + dt.timedelta(minutes=m), 1, et, 1.0, "{}")
        for i, (m, et) in enumerate(rows)
    ]
    # One file per chunk ⇒ one micro-batch per chunk under
    # maxFilesPerTrigger=1, so batch boundaries are deterministic.
    return spark.createDataFrame(data, EVENTS_SCHEMA).coalesce(1)


def test_watermark_drops_late_events(spark, tmp_path):
    replay = str(tmp_path / "replay")
    # The watermark effective DURING batch N is max-event-time through
    # batch N-2 minus delay (it is computed at batch end and applied
    # one batch later), so the late event arrives two chunks after the
    # event that advances the clock.
    # chunk 1: three events in [10:00,10:10)
    append_chunk(_mk_events(spark, [(1, "a"), (2, "a"), (9, "b")]), replay)
    # chunk 2: 10:30 advances max event time ⇒ watermark 10:20
    append_chunk(_mk_events(spark, [(30, "a")]), replay)
    # chunk 3: filler batch so 10:20 becomes effective next batch
    append_chunk(_mk_events(spark, [(31, "b")]), replay)
    # chunk 4: a late event at 10:05 (window end 10:10 <= effective
    # watermark 10:20 ⇒ dropped) and a fresh one at 10:35.
    append_chunk(_mk_events(spark, [(5, "a"), (35, "b")]), replay)

    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    got = run_to_memory(
        tumbling_counts(stream, watermark="10 minutes"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # Only the finalized window, with chunk-1 counts — the late 10:05
    # event did NOT bump 'a' to 3; open windows (10:30/10:35) unemitted.
    assert _rows(spark, got) == [
        ("2024-01-01 10:00:00", "a", 2),
        ("2024-01-01 10:00:00", "b", 1),
    ]


# ---------------------------------------------------------------------------
# 3. CDC compaction stream: convergence, resume, idempotence
# ---------------------------------------------------------------------------


@pytest.fixture()
def cdc_chunks(spark, sf_dir):
    """The synthetic envelope log split into two arrival chunks by seq
    (log order), as the reference's hourly-rolled segments would be."""
    cdc = build_cdc_events(spark, sf_dir)
    mid = cdc.approxQuantile("seq", [0.5], 0.0)[0]
    return (
        cdc.filter(F.col("seq") <= mid),
        cdc.filter(F.col("seq") > mid),
        compact_cdc(parse_envelope(cdc)),
    )


def test_compaction_stream_converges_and_resumes(spark, tmp_path, cdc_chunks):
    first, second, want = cdc_chunks
    replay = str(tmp_path / "replay")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # run 1: only the first half of the log has arrived
    append_chunk(first.coalesce(2), replay)
    sink = run_cdc_compaction_stream(spark, replay, state, ckpt)
    partial = _rows(spark, sink.current_table())
    want_partial = _rows(spark, compact_cdc(parse_envelope(first)))
    assert partial == want_partial

    # run 2: rest arrives; same checkpoint ⇒ resumes from the cursor,
    # processing only the new files
    append_chunk(second.coalesce(2), replay)
    sink = run_cdc_compaction_stream(spark, replay, state, ckpt)
    assert _rows(spark, sink.current_table()) == _rows(spark, want)


def test_compaction_replay_is_idempotent(spark, tmp_path, cdc_chunks):
    first, second, want = cdc_chunks
    replay = str(tmp_path / "replay")
    state = str(tmp_path / "state")

    append_chunk(first.coalesce(2), replay)
    append_chunk(second.coalesce(2), replay)
    run_cdc_compaction_stream(spark, replay, state, str(tmp_path / "ckpt1"))
    once = _rows(spark, spark.read.parquet(state))

    # Lose the checkpoint (cursor) but keep the state: full replay over
    # existing state must converge to the same table — the reference's
    # at-least-once + id-keyed-upsert contract.
    run_cdc_compaction_stream(spark, replay, state, str(tmp_path / "ckpt2"))
    assert _rows(spark, spark.read.parquet(state)) == once
    assert _rows(spark, spark.read.parquet(state)) == _rows(
        spark, compact_cdc(parse_envelope(first.unionByName(second)), False)
    )


def test_compaction_stream_multibatch_order(spark, tmp_path, cdc_chunks):
    """maxFilesPerTrigger=1 ⇒ many small ordered batches; the merge
    must still converge (per-key latest wins across batches)."""
    first, second, want = cdc_chunks
    replay = str(tmp_path / "replay")
    append_chunk(first.coalesce(2), replay)
    append_chunk(second.coalesce(2), replay)
    sink = run_cdc_compaction_stream(
        spark,
        replay,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert _rows(spark, sink.current_table()) == _rows(spark, want)


def test_sliding_and_session_stream_match_batch(spark, sf_dir, tmp_path):
    """ST2/ST3 unification: the same transforms on readStream
    (complete mode, AvailableNow) equal the oracle-gated batch twins."""
    from graal_cdc_spark.streaming import session_counts, sliding_counts

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.coalesce(2), replay)
    stream = read_file_stream(spark, replay, EVENTS_SCHEMA)

    got_sl = run_to_memory(sliding_counts(stream), output_mode="complete")
    assert _rows(spark, got_sl) == _rows(spark, sliding_counts(events))

    stream2 = read_file_stream(spark, replay, EVENTS_SCHEMA)
    got_se = run_to_memory(
        session_counts(stream2, watermark="1 hour"),
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ckpt_se"),
    )
    assert _rows(spark, got_se) == _rows(spark, session_counts(events))


def test_session_window_append_finalizes_on_watermark(spark, tmp_path):
    """Append-mode sessionization: a session is emitted once the
    watermark passes its end (last event + gap); open sessions stay in
    state. Same two-batch watermark lag as the tumbling test."""
    from graal_cdc_spark.streaming import session_counts

    replay = str(tmp_path / "replay")
    # one session for user 1: events 10:00 and 10:20 → end 11:20
    append_chunk(_mk_events(spark, [(0, "a"), (20, "a")]), replay)
    # clock jump to 13:00 ⇒ watermark 12:50 > 11:20 (after it becomes
    # effective two batches later)
    append_chunk(_mk_events(spark, [(180, "a")]), replay)
    append_chunk(_mk_events(spark, [(185, "a")]), replay)  # same 2nd session
    append_chunk(_mk_events(spark, [(190, "a")]), replay)  # filler batch

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        session_counts(stream, gap="1 hour", watermark="10 minutes"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # only the finalized first session; the 13:00+ session is open
    assert _rows(spark, got) == [
        (1, "2024-01-01 10:00:00", "2024-01-01 11:20:00", 2)
    ]


def test_kill_and_restart_mid_stream_converges(spark, tmp_path, cdc_chunks):
    """SURVEY §5.2.6: kill a running streaming query mid-stream, then
    restart from the same checkpoint — final state equals the
    single-run state (at-least-once replay + idempotent merge; a batch
    interrupted by stop() is simply replayed)."""
    import time as _time

    from graal_cdc_spark.streaming.compaction import CompactionStateSink
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    first, second, want = cdc_chunks
    replay = str(tmp_path / "replay")
    # many small files ⇒ many micro-batches to interrupt between
    append_chunk(first.repartition(6), replay)
    append_chunk(second.repartition(6), replay)

    schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )
    sink = CompactionStateSink(spark, str(tmp_path / "state"))
    raw = read_file_stream(spark, replay, schema, max_files_per_trigger=1)
    q = (
        parse_envelope(raw)
        .writeStream.foreachBatch(sink.merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    # let it get partway through, then kill it mid-stream. 180 s: the
    # first micro-batch commit can lag far behind wall time when the
    # full suite saturates all 32 cores (observed flake at 60 s under
    # load; the test is about restart convergence, not latency)
    deadline = _time.time() + 180
    while _time.time() < deadline and not sink._state():
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    # resume from the same checkpoint; drain the rest
    run_cdc_compaction_stream(
        spark, replay, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    got = _rows(spark, CompactionStateSink(spark, str(tmp_path / "state")).current_table())
    assert got == _rows(spark, want)


def test_bronze_append_preserves_raw_log(spark, sf_dir, tmp_path):
    """Q1 durable append: the bronze layer keeps EVERY raw event
    (tombstones, DDL, malformed included) and replaying bronze through
    the filter chain + compaction equals the direct pipeline."""
    from graal_cdc_spark.streaming.bronze import bronze_sink, read_bronze

    cdc = build_cdc_events(spark, sf_dir)
    replay = str(tmp_path / "replay")
    append_chunk(cdc.coalesce(2), replay)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )
    bronze = str(tmp_path / "bronze")
    stream = read_file_stream(spark, replay, schema)
    q = (
        stream.writeStream.foreachBatch(bronze_sink(bronze))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    raw = read_bronze(spark, bronze)
    assert set(raw.columns) >= {"seq", "key", "value", "ingest_date", "ingest_hour"}
    # nothing lost: tombstones (NULL value) and noise rows survive
    assert raw.count() == cdc.count()
    assert raw.filter(F.col("value").isNull()).count() == cdc.filter(
        F.col("value").isNull()
    ).count()

    replayed = compact_cdc(parse_envelope(raw.select("seq", "key", "value")))
    direct = compact_cdc(parse_envelope(cdc))
    assert _rows(spark, replayed) == _rows(spark, direct)


def test_session_windows_merge_across_batches(spark, tmp_path):
    """An event arriving in a later batch within the gap must MERGE
    into the open session (extending its end), not open a new one."""
    from graal_cdc_spark.streaming import session_counts

    replay = str(tmp_path / "replay")
    append_chunk(_mk_events(spark, [(0, "a")]), replay)     # session [10:00,11:00)
    append_chunk(_mk_events(spark, [(30, "a")]), replay)    # merges → [10:00,11:30)
    append_chunk(_mk_events(spark, [(240, "a")]), replay)   # clock → 14:00
    append_chunk(_mk_events(spark, [(245, "a")]), replay)   # filler batch

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        session_counts(stream, gap="1 hour", watermark="10 minutes"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert _rows(spark, got) == [
        (1, "2024-01-01 10:00:00", "2024-01-01 11:30:00", 2)
    ]


# ---------------------------------------------------------------------------
# 4. stream-stream interval join (ST4) and streaming dedup (ST5)
# ---------------------------------------------------------------------------


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream inner join over multi-batch replay
    equals the batch twin (the oracle-gated st4 query)."""
    from graal_cdc_spark.streaming.joins import interval_pairs

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    # two arrival chunks split by event_id → matches may straddle
    # micro-batches, exercising join state across batches
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    purchases_s = stream.filter(F.col("event_type") == "purchase")
    errors_s = stream.filter(F.col("event_type") == "error")
    got = run_to_memory(
        interval_pairs(purchases_s, errors_s, watermark="1 hour"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    purchases = events.filter(F.col("event_type") == "purchase")
    errors = events.filter(F.col("event_type") == "error")
    want = interval_pairs(purchases, errors)
    assert _rows(spark, got) == _rows(spark, want)
    assert got.count() > 0


def test_streaming_dedup_matches_batch_first_per_key(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark under event_id-ordered replay keeps
    exactly the min-event_id row per (user, type) — the st5 batch twin."""
    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.streaming.stateful import streaming_exact_dedup

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    # ordered replay: two chunks in event_id order (arrival = log order)
    append_chunk(
        events.filter(F.col("event_id") < 5000).orderBy("event_id").coalesce(1),
        replay,
    )
    append_chunk(
        events.filter(F.col("event_id") >= 5000).orderBy("event_id").coalesce(1),
        replay,
    )

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    deduped = streaming_exact_dedup(
        stream, ["user_id", "event_type"], watermark="365 days"
    ).select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
    )
    got = run_to_memory(
        deduped, output_mode="append", checkpoint_dir=str(tmp_path / "ckpt")
    )
    want = all_specs()["st5_dedup_within_watermark"].spark(spark, sf_dir)
    assert _rows(spark, got) == _rows(spark, want)


# ---------------------------------------------------------------------------
# 5. MERGE INTO state sink (lakehouse path of the compaction sink)
# ---------------------------------------------------------------------------


def test_merge_into_statement_shape(spark):
    from graal_cdc_spark.streaming import MergeIntoStateSink

    sink = MergeIntoStateSink(spark, "lake.cdc_state", key_cols=("db", "key"))
    stmt = sink.merge_statement("batch_v")
    assert "MERGE INTO lake.cdc_state t" in stmt
    assert "ON t.db = s.db AND t.key = s.key" in stmt
    # idempotence guard: replayed batches must never regress a key
    assert "WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET *" in stmt
    assert "WHEN NOT MATCHED THEN INSERT *" in stmt


def test_merge_into_precompacts_and_drops_view(spark):
    """The batch reaching MERGE is pre-compacted (one row per key) and
    the temp view is cleaned up even when the engine errors."""
    from graal_cdc_spark.streaming import MergeIntoStateSink

    captured = {}

    def fake_sql(stmt):
        view = stmt.split("USING ")[1].split(" s")[0].strip()
        captured["view_rows"] = {
            (r.key, r.seq, r.op) for r in spark.table(view).collect()
        }
        captured["stmt"] = stmt

    sink = MergeIntoStateSink(spark, "cdc_state", run_sql=fake_sql)
    batch = spark.createDataFrame(
        [("k1", 1, "c"), ("k1", 3, "u"), ("k2", 2, "d")],
        "key STRING, seq BIGINT, op STRING",
    )
    stmt = sink.merge(batch)
    assert stmt == captured["stmt"]
    assert captured["view_rows"] == {("k1", 3, "u"), ("k2", 2, "d")}
    view_name = stmt.split("USING ")[1].split(" s")[0].strip()
    assert view_name.startswith("global_temp.")  # cross-session resolvable
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
        spark.table(view_name).collect()  # dropped after the merge

    # empty batch: no statement, no view
    assert sink.merge(batch.filter("seq > 99")) is None

    # run_sql failure still drops the view
    def boom(stmt):
        raise RuntimeError("no lakehouse here")

    sink2 = MergeIntoStateSink(spark, "cdc_state", run_sql=boom)
    with pytest.raises(RuntimeError):
        sink2.merge(batch)
    assert not any(
        t.name.startswith("__cdc_batch_")
        for t in spark.catalog.listTables("global_temp")
    )


def test_merge_into_semantics_match_directory_sink(spark, tmp_path):
    """Emulate the lakehouse MERGE with the same guard logic and check
    it converges to the directory-swap sink's state on replayed,
    out-of-order batches."""
    from graal_cdc_spark.cdc.compaction import latest_by_key
    from graal_cdc_spark.streaming import CompactionStateSink, MergeIntoStateSink

    state = {}  # key -> (seq, op): the emulated lakehouse table

    def emulated_merge(stmt):
        view = stmt.split("USING ")[1].split(" s")[0].strip()
        for r in spark.table(view).collect():
            held = state.get(r.key)
            if held is None or r.seq > held[0]:  # the MERGE guard
                state[r.key] = (r.seq, r.op)

    lake = MergeIntoStateSink(spark, "cdc_state", run_sql=emulated_merge)
    swap = CompactionStateSink(spark, str(tmp_path / "state"))

    batches = [
        [("k1", 1, "c"), ("k2", 2, "c")],
        [("k1", 5, "d"), ("k3", 4, "c")],
        [("k1", 3, "u"), ("k2", 2, "c")],  # stale + replayed rows
        [("k1", 5, "d"), ("k3", 4, "c")],  # full batch replay
    ]
    for rows in batches:
        b = spark.createDataFrame(rows, "key STRING, seq BIGINT, op STRING")
        lake.merge(b)
        swap.merge(b)

    want = {
        (r.key, r.seq, r.op)
        for r in swap.current_table(drop_deletes=False).collect()
    }
    got = {(k, s, o) for k, (s, o) in state.items()}
    assert got == want == {("k1", 5, "d"), ("k2", 2, "c"), ("k3", 4, "c")}


# ---------------------------------------------------------------------------
# stream-static join (st6): a static dimension joined into the event
# stream — no state store, no watermark needed; the static side is
# re-read per micro-batch, so it must hold across multiple batches.
# ---------------------------------------------------------------------------


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    replay = str(tmp_path / "replay")
    # two chunks -> two micro-batches: proves the static side joins
    # correctly in every batch, not just the first
    half = events.filter(F.col("event_id") % 2 == 0)
    append_chunk(half.coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    def enrich(df):
        return (
            df.join(F.broadcast(cust), df["user_id"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            )
        )

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA)
    got = run_to_memory(enrich(stream), output_mode="complete")
    want = enrich(events)
    assert _rows(spark, got) == _rows(spark, want)


def test_left_outer_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked LEFT OUTER stream-stream join equals the batch twin
    (the oracle-gated st7 query): null-padded rows for unmatched
    purchases emit once the watermark passes their join window. A
    far-future sentinel chunk (user_id -1, excluded from the
    comparison) advances both watermarks so every real left row
    finalizes before the query stops."""
    from graal_cdc_spark.streaming.joins import interval_pairs

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)
    far = events.agg(F.max("ts").alias("m")).collect()[0]["m"] + dt.timedelta(
        days=30
    )
    # TWO sentinel chunks: the first advances both watermarks past
    # every real join window; outer-null emission happens while
    # PROCESSING a batch under the advanced watermark, so a second,
    # even-later data batch must follow (a trailing no-data batch
    # before AvailableNow termination is not guaranteed).
    for i, delay in enumerate([dt.timedelta(), dt.timedelta(days=30)]):
        sentinel = spark.createDataFrame(
            [
                (10**9 + 2 * i, far + delay, -1, "purchase", 0.0, "{}"),
                (10**9 + 2 * i + 1, far + delay, -1, "error", 0.0, "{}"),
            ],
            EVENTS_SCHEMA,
        )
        append_chunk(sentinel, replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        interval_pairs(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "error"),
            watermark="1 hour",
            how="left_outer",
        ),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).filter(F.col("user_id") >= 0)

    want = interval_pairs(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "error"),
        how="left_outer",
    )
    assert _rows(spark, got) == _rows(spark, want)
    # the outer part is real: some purchases have no error in-window
    assert got.filter(F.col("right_id").isNull()).count() > 0


def test_incremental_aggregate_matches_batch_and_is_replay_safe(
    spark, sf_dir, tmp_path
):
    """Delta-maintained per-table aggregate over chunked CDC replay
    equals the batch twin (the oracle-gated c11 query), and replaying
    an already-applied chunk leaves the aggregate unchanged
    (at-least-once safety: idempotent state merge → zero delta)."""
    from graal_cdc_spark.cdc.envelope import parsed_envelope
    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.streaming.compaction import CompactionStateSink
    from graal_cdc_spark.streaming.incremental import IncrementalAggSink

    parsed = parsed_envelope(spark, sf_dir)
    hi = parsed.agg(F.max("seq")).collect()[0][0]
    cuts = [0, hi // 3, 2 * hi // 3, hi + 1]
    chunks = [
        parsed.filter((F.col("seq") >= lo) & (F.col("seq") < hi_))
        for lo, hi_ in zip(cuts, cuts[1:])
    ]

    state = CompactionStateSink(spark, str(tmp_path / "state"))
    inc = IncrementalAggSink(spark, state, str(tmp_path / "agg"))
    for chunk in chunks:
        inc.merge(chunk)

    want = _rows(spark, all_specs()["c11_incremental_aggregate"].spark(spark, sf_dir))
    assert _rows(spark, inc.current_agg()) == want

    # at-least-once replay of the middle chunk: no double counting
    inc.merge(chunks[1])
    assert _rows(spark, inc.current_agg()) == want


@pytest.mark.parametrize("fault", ["before_state_merge", "at_agg_commit"])
def test_incremental_aggregate_crash_recovery(
    spark, sf_dir, tmp_path, monkeypatch, fault
):
    """Kill the sink at both dangerous points of the three-phase
    commit and replay the batch (Spark's foreachBatch retry): the
    aggregate must converge to the batch twin either way. The
    'at_agg_commit' fault is the case a naive merge-state-then-update
    sink gets WRONG — state is already merged, so a recomputed delta
    would be zero and the batch's contribution silently lost; the
    staged write-ahead delta is what makes the retry exact."""
    import graal_cdc_spark.streaming.incremental as inc_mod
    from graal_cdc_spark.cdc.envelope import parsed_envelope
    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.streaming.compaction import CompactionStateSink
    from graal_cdc_spark.streaming.incremental import IncrementalAggSink

    parsed = parsed_envelope(spark, sf_dir)
    hi = parsed.agg(F.max("seq")).collect()[0][0]
    cuts = [0, hi // 2, hi + 1]
    chunks = [
        parsed.filter((F.col("seq") >= lo) & (F.col("seq") < hi_))
        for lo, hi_ in zip(cuts, cuts[1:])
    ]
    state = CompactionStateSink(spark, str(tmp_path / "state"))
    inc = IncrementalAggSink(spark, state, str(tmp_path / "agg"))
    inc.merge(chunks[0], batch_id=0)

    if fault == "at_agg_commit":
        real = inc_mod.os.replace

        def boom(src, dst):
            raise OSError("injected crash at agg pointer flip")

        monkeypatch.setattr(inc_mod.os, "replace", boom)
        with pytest.raises(OSError, match="injected"):
            inc.merge(chunks[1], batch_id=1)
        monkeypatch.setattr(inc_mod.os, "replace", real)
    else:
        real_merge = CompactionStateSink.merge

        def boom_merge(self, batch_df, batch_id=None):
            raise OSError("injected crash before state merge")

        monkeypatch.setattr(CompactionStateSink, "merge", boom_merge)
        with pytest.raises(OSError, match="injected"):
            inc.merge(chunks[1], batch_id=1)
        monkeypatch.setattr(CompactionStateSink, "merge", real_merge)

    inc.merge(chunks[1], batch_id=1)  # the retry
    want = _rows(spark, all_specs()["c11_incremental_aggregate"].spark(spark, sf_dir))
    assert _rows(spark, inc.current_agg()) == want


def test_incremental_agg_stream_end_to_end(spark, sf_dir, tmp_path):
    """The whole materialized-view pipeline on writeStream/foreachBatch:
    multi-batch file replay (maxFilesPerTrigger=1) converges to the
    c11 batch twin, and a full re-replay from a fresh checkpoint over
    the existing state/agg leaves the aggregate unchanged (the
    at-least-once + exactly-once-commit contract, end to end)."""
    from graal_cdc_spark.cdc.envelope import build_cdc_events
    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.streaming.incremental import run_incremental_agg_stream

    cdc = build_cdc_events(spark, sf_dir)
    replay = str(tmp_path / "replay")
    mid = cdc.approxQuantile("seq", [0.5], 0.0)[0]
    append_chunk(cdc.filter(F.col("seq") <= mid).coalesce(1), replay)
    append_chunk(cdc.filter(F.col("seq") > mid).coalesce(1), replay)

    sink = run_incremental_agg_stream(
        spark,
        replay,
        str(tmp_path / "state"),
        str(tmp_path / "agg"),
        str(tmp_path / "ckpt1"),
        max_files_per_trigger=1,
    )
    want = _rows(spark, all_specs()["c11_incremental_aggregate"].spark(spark, sf_dir))
    assert _rows(spark, sink.current_agg()) == want

    # lose the cursor, keep state+agg: full replay must not double-count
    sink = run_incremental_agg_stream(
        spark,
        replay,
        str(tmp_path / "state"),
        str(tmp_path / "agg"),
        str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    assert _rows(spark, sink.current_agg()) == want


# ---------------------------------------------------------------------------
# 4. exactly-once hardening: crash windows, txn namespaces, SQL NULL parity
# ---------------------------------------------------------------------------

MINI_ENVELOPE = (
    "seq long, key string, op string, tbl string, after_json string, "
    "event_id long, db string"
)


def _mini_batch(spark, rows):
    """rows: (seq, key, op, tbl, after_json) in parse_envelope's shape."""
    return spark.createDataFrame(
        [(s, k, o, t, a, s // 10, "db0") for (s, k, o, t, a) in rows],
        MINI_ENVELOPE,
    )


def test_incremental_agg_all_null_group_reports_null_total(spark, tmp_path):
    """SQL SUM over an all-NULL group is NULL, not 0 — the maintained
    view must agree with its batch twin on that (n_val gate)."""
    from graal_cdc_spark.streaming.compaction import CompactionStateSink
    from graal_cdc_spark.streaming.incremental import IncrementalAggSink

    inc = IncrementalAggSink(
        spark, CompactionStateSink(spark, str(tmp_path / "s")), str(tmp_path / "a")
    )
    inc.merge(
        _mini_batch(
            spark,
            [(1, "a", "c", "t1", '{"x": 1}'), (2, "b", "c", "t1", "{}")],
        )
    )
    assert [tuple(r) for r in inc.current_agg().collect()] == [("t1", None, 2)]

    # one key gains a real value -> total becomes non-null
    inc.merge(_mini_batch(spark, [(3, "a", "u", "t1", '{"value": 2.5}')]))
    assert [tuple(r) for r in inc.current_agg().collect()] == [("t1", "2.50", 2)]

    # ... and loses it again (update back to null-valued after image)
    inc.merge(_mini_batch(spark, [(4, "a", "u", "t1", "{}")]))
    assert [tuple(r) for r in inc.current_agg().collect()] == [("t1", None, 2)]


def test_incremental_agg_markers_are_namespaced_per_instance(spark, tmp_path):
    """Ad-hoc batch ids restart at 0 for every sink instance; a marker
    from a previous instance's batch 0 must NOT make a new instance
    skip fresh data (txn key = app namespace + batch id)."""
    from graal_cdc_spark.streaming.compaction import CompactionStateSink
    from graal_cdc_spark.streaming.incremental import IncrementalAggSink

    state = CompactionStateSink(spark, str(tmp_path / "s"))
    one = IncrementalAggSink(spark, state, str(tmp_path / "a"))
    one.merge(_mini_batch(spark, [(1, "a", "c", "t1", '{"value": 1.0}')]))

    two = IncrementalAggSink(spark, state, str(tmp_path / "a"))
    two.merge(_mini_batch(spark, [(2, "b", "c", "t1", '{"value": 2.0}')]))
    assert [tuple(r) for r in two.current_agg().collect()] == [("t1", "3.00", 2)]


def test_compaction_swap_recovers_from_crash_between_renames(
    spark, tmp_path, monkeypatch
):
    """The state swap's crash window: old state renamed away, new state
    not yet in place. _recover must roll the complete .next forward (or
    .prev back) — a replayed batch must never see 'no state' and
    silently rebuild from the batch alone."""
    import graal_cdc_spark.streaming.compaction as comp_mod
    from graal_cdc_spark.streaming.compaction import CompactionStateSink

    sink = CompactionStateSink(spark, str(tmp_path / "state"))
    sink.merge(_mini_batch(spark, [(1, "a", "c", "t1", '{"value": 1.0}')]))

    real_rename = comp_mod.os.rename
    calls = {"n": 0}

    def crashy(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the commit rename: .next -> state
            raise OSError("injected crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(comp_mod.os, "rename", crashy)
    b2 = _mini_batch(spark, [(2, "b", "c", "t1", '{"value": 2.0}')])
    with pytest.raises(OSError, match="injected"):
        sink.merge(b2)
    monkeypatch.setattr(comp_mod.os, "rename", real_rename)

    # mid-swap layout: no live dir, .prev = old state, .next = merged
    assert not comp_mod.os.path.isdir(sink.state_dir)
    # any read rolls forward; the replayed merge is then a no-op change
    assert sink.current_table().count() == 2
    sink.merge(b2)
    assert sorted(r["key"] for r in sink.current_table().collect()) == ["a", "b"]


def test_compaction_swap_rolls_back_when_next_is_incomplete(spark, tmp_path):
    """If only .prev exists (crash before the new state finished), the
    old state comes back and the batch replays on top of it."""
    import os as _os

    from graal_cdc_spark.streaming.compaction import CompactionStateSink

    sink = CompactionStateSink(spark, str(tmp_path / "state"))
    sink.merge(_mini_batch(spark, [(1, "a", "c", "t1", '{"value": 1.0}')]))
    _os.rename(sink.state_dir, sink._prev_dir())
    assert sink.current_table().count() == 1
    assert _os.path.isdir(sink.state_dir)


def test_chained_window_rollup_stream_finalizes(spark, tmp_path):
    """ST8: two chained stateful window aggregations in ONE streaming
    query (10-min tumbling counts → hourly rollup), append mode. An
    hour emits only after the watermark passes its end; the watermark
    must propagate THROUGH the first aggregate via window_time(), and
    it becomes effective with the usual one-batch lag per operator —
    hence the three increasing-ts filler chunks."""
    from graal_cdc_spark.streaming.windows import hourly_rollup_of_tumbling

    replay = str(tmp_path / "replay")
    # hour 10:00 — a: windows 10:00(n=3), 10:10(n=1); b: 10:20(n=1)
    append_chunk(
        _mk_events(spark, [(1, "a"), (2, "a"), (9, "a"), (15, "a"), (25, "b")]),
        replay,
    )
    # clock jumps to 13:00+, then fillers make the watermark effective
    # across both stateful operators
    append_chunk(_mk_events(spark, [(180, "a")]), replay)
    append_chunk(_mk_events(spark, [(190, "a")]), replay)
    append_chunk(_mk_events(spark, [(200, "a")]), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        hourly_rollup_of_tumbling(stream, watermark="10 minutes"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert _rows(spark, got) == [
        ("2024-01-01 10:00:00", "a", 2, 3, 4),
        ("2024-01-01 10:00:00", "b", 1, 1, 1),
    ]


def test_running_topk_stream_matches_batch_twin(spark, sf_dir, tmp_path):
    """ST9: the custom bounded-state top-k operator, replayed in TWO
    micro-batches (cross-batch state merge), converges to the batch
    ranking-window twin — consumers keep each key's max-emit set."""
    from pyspark.sql import Window

    from graal_cdc_spark.streaming.stateful import running_topk_by_key

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    append_chunk(half.coalesce(1), replay)
    append_chunk(other.coalesce(1), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        running_topk_by_key(stream, k=3),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # keep each key's final emission only
    wmax = Window.partitionBy("user_id")
    final = (
        got.withColumn("max_emit", F.max("emit").over(wmax))
        .filter(F.col("emit") == F.col("max_emit"))
        .select("user_id", "rank", "event_id", "value")
    )

    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    want = (
        events.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", "value")
    )
    assert _rows(spark, final) == _rows(spark, want)


def test_join_then_window_stream_finalizes(spark, tmp_path):
    """ST10: stream-stream interval join CHAINED into a windowed
    aggregation — join state feeds window state in one append-mode
    query; a window emits once the (joined) watermark passes its end
    plus the join's lookback delay."""
    from graal_cdc_spark.streaming.joins import interval_pairs
    from pyspark.sql import functions as SF

    replay = str(tmp_path / "replay")
    # user 1: errors at 10:00, 10:05; purchases at 10:07, 10:12 —
    # pairs: (10:07 x 2 errors), (10:12 x 2 errors) -> window 10:00
    # has 2 pairs, window 10:10 has 2 pairs.
    append_chunk(
        _mk_events(spark, [(0, "error"), (5, "error"), (7, "purchase"),
                           (12, "purchase")]),
        replay,
    )
    # Advance the watermark far past 10:20 + 30min lookback. The
    # fillers MUST be purchase/error typed: the watermark nodes sit
    # after the event-type filters, so other types never advance the
    # clock. Distinct users (2/3) keep the fillers from pairing; the
    # join watermark is min(purchase side, error side), so BOTH sides
    # need advancing.
    def _mk_filler(minute, i):
        data = [
            (1000 + i * 2, _T0 + dt.timedelta(minutes=minute), 2, "error", 1.0, "{}"),
            (1001 + i * 2, _T0 + dt.timedelta(minutes=minute), 3, "purchase", 1.0, "{}"),
        ]
        return spark.createDataFrame(data, EVENTS_SCHEMA).coalesce(1)

    for i, m in enumerate((180, 190, 200, 210, 220)):
        append_chunk(_mk_filler(m, i), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    purchases = stream.filter(SF.col("event_type") == "purchase")
    errors = stream.filter(SF.col("event_type") == "error")
    pairs = interval_pairs(
        purchases, errors, lookback="30 minutes",
        watermark="10 minutes", keep_ts=True,
    )
    agg = (
        pairs.groupBy(SF.window("l_ts", "10 minutes").alias("w"))
        .agg(SF.count(SF.lit(1)).alias("n_pairs"))
        .select(
            SF.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_pairs",
        )
    )
    got = run_to_memory(
        agg, output_mode="append", checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert _rows(spark, got) == [
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 10:10:00", 2),
    ]


# ---------------------------------------------------------------------------
# Streaming incremental LSH dedup
# ---------------------------------------------------------------------------


def _docs_schema():
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )


def test_streaming_lsh_dedup_prefix_chunking_matches_batch(spark, sf_dir, tmp_path):
    """First-arrival-wins admission: when chunk boundaries respect the
    id order (ids assigned at ingest), the same corpus replayed as one
    chunk and as three id-range chunks admits the SAME set, equal to
    the batch twin's greedy-by-id set."""
    from graal_cdc_spark.streaming.dedup import (
        StreamingLshDedup,
        greedy_lsh_dedup_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    want = sorted(
        r["doc_id"] for r in greedy_lsh_dedup_batch(docs).collect()
    )
    assert 0 < len(want) <= n_docs

    got = {}
    for n_chunks in (1, 3):
        replay = str(tmp_path / f"replay{n_chunks}")
        step = (n_docs + n_chunks - 1) // n_chunks
        for i in range(n_chunks):
            append_chunk(
                docs.filter(
                    (F.col("doc_id") >= i * step)
                    & (F.col("doc_id") < (i + 1) * step)
                ).coalesce(1),
                replay,
            )
        sink = StreamingLshDedup(spark, str(tmp_path / f"state{n_chunks}"))
        stream = read_file_stream(
            spark, replay, _docs_schema(), max_files_per_trigger=1
        )
        q = sink.run_stream(stream, str(tmp_path / f"ckpt{n_chunks}"))
        q.awaitTermination(300)
        got[n_chunks] = sorted(r["doc_id"] for r in sink.admitted_ids().collect())

    assert got[1] == want
    assert got[3] == want


def test_streaming_lsh_dedup_invariants_and_replay(spark, sf_dir, tmp_path):
    """(1) No two admitted docs share an LSH bucket; (2) every
    rejected doc collides with an admitted doc; (3) re-processing the
    same batch is idempotent (same admitted set, no self-blocking)."""
    from graal_cdc_spark.operators.dedup import lsh_buckets
    from graal_cdc_spark.streaming.dedup import StreamingLshDedup

    docs = load_table(spark, sf_dir, "documents")
    sink = StreamingLshDedup(spark, str(tmp_path / "state"))
    sink.process_batch(docs)
    admitted = {r["doc_id"] for r in sink.admitted_ids().collect()}

    b = lsh_buckets(docs, "doc_id", "text")
    pairs = (
        b.alias("x")
        .join(b.alias("y"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
        .collect()
    )
    for r in pairs:
        assert not (r["a"] in admitted and r["b"] in admitted), (
            f"admitted docs {r['a']},{r['b']} collide"
        )
    colliders = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    for d in all_ids - admitted:
        assert any(
            (r["a"] == d and r["b"] in admitted)
            or (r["b"] == d and r["a"] in admitted)
            for r in pairs
        ), f"rejected doc {d} has no admitted collider"

    # replay the same batch — crash-between-append-and-commit model
    rows_before = sink._state().count()
    files_before = sink._state_files()
    sink.process_batch(docs)
    again = {r["doc_id"] for r in sink.admitted_ids().collect()}
    assert again == admitted
    # and the replay must not grow state: no new rows, no new files
    assert sink._state().count() == rows_before
    assert sink._state_files() == files_before


def test_windowed_distinct_users_stream_finalizes(spark, tmp_path):
    """ST11: exact windowed distinct users via chained dedup-then-count
    stateful aggs, append mode. Duplicate (window, user) events must
    collapse to one before the count; windows emit once the watermark
    clears both operators (same filler cadence as ST8)."""
    import datetime as dt

    from graal_cdc_spark.streaming.windows import windowed_distinct_users

    def mk(rows):
        data = [
            (i, _T0 + dt.timedelta(minutes=m), uid, "e", 1.0, "{}")
            for i, (m, uid) in enumerate(rows)
        ]
        return spark.createDataFrame(data, EVENTS_SCHEMA).coalesce(1)

    replay = str(tmp_path / "replay")
    # window 10:00–10:10: users 1 (3 events) and 2 (1 event) -> 2 users
    # window 10:10–10:20: user 1 only -> 1 user
    append_chunk(
        mk([(1, 1), (2, 1), (5, 2), (9, 1), (11, 1)]), replay
    )
    append_chunk(mk([(180, 1)]), replay)
    append_chunk(mk([(190, 1)]), replay)
    append_chunk(mk([(200, 1)]), replay)

    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    got = run_to_memory(
        windowed_distinct_users(stream, watermark="10 minutes"),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # the 13:00 filler window also finalizes once 13:20 advances the
    # watermark past its end
    assert _rows(spark, got) == [
        ("2024-01-01 10:00:00", 2, 4),
        ("2024-01-01 10:10:00", 1, 1),
        ("2024-01-01 13:00:00", 1, 1),
    ]


def test_tumbling_stream_rocksdb_state_store(spark, sf_dir, tmp_path):
    """The RocksDB state store provider — the production backend for
    large streaming state (bounded JVM heap, incremental checkpoints)
    — must produce the same windowed result as the default HDFS-backed
    provider. Set per-query via the checkpoint's conf; restore after.
    At 100 TB this is the knob that keeps watermark state off-heap."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        events = load_table(spark, sf_dir, "events")
        replay = str(tmp_path / "replay")
        append_chunk(events.coalesce(4), replay)
        stream = read_file_stream(spark, replay, EVENTS_SCHEMA)
        got = run_to_memory(
            tumbling_counts(stream),
            output_mode="complete",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        want = tumbling_counts(events)
        assert _rows(spark, got) == _rows(spark, want)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_anti_join_admission_matches_batch(spark, sf_dir, tmp_path):
    """ST12 golden: stream-static LEFT ANTI denylist admission + window
    counts over two micro-batches equals the batch twin — the anti
    join must drop denylisted users in EVERY batch, and an empty
    denylist must admit everything."""
    from graal_cdc_spark.streaming.windows import admitted_counts

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    deny = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("user_id")
    )
    assert deny.count() > 0, "fixture must have denylisted users"
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA)
    got = run_to_memory(
        admitted_counts(stream, deny), output_mode="complete"
    )
    want = admitted_counts(events, deny)
    assert _rows(spark, got) == _rows(spark, want)
    # sanity: the denylist actually removed traffic
    total_admitted = sum(r["n_admitted"] for r in want.collect())
    assert total_admitted < events.count()

    empty_deny = deny.filter(F.lit(False))
    all_through = admitted_counts(events, empty_deny)
    assert (
        sum(r["n_admitted"] for r in all_through.collect()) == events.count()
    )


def test_quota_admission_stream_matches_batch(spark, sf_dir, tmp_path):
    """ST13 golden: prefix-chunked streaming quota admission equals
    the batch ranking-window twin (chunk boundary on the ts median so
    arrival order == event order across chunks)."""
    from graal_cdc_spark.streaming.stateful import quota_admission

    events = load_table(spark, sf_dir, "events")
    mid = events.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5)")
    ).collect()[0][0]
    replay = str(tmp_path / "replay")
    lhs = events.filter(F.unix_micros("ts") <= mid)
    rhs = events.filter(F.unix_micros("ts") > mid)
    append_chunk(lhs.coalesce(1), replay)
    append_chunk(rhs.coalesce(1), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA)
    got = run_to_memory(quota_admission(stream), output_mode="update")
    want = (
        spark.createDataFrame(
            __import__("graal_cdc_spark.queries.streaming",
                       fromlist=["_st13"])._st13(spark, sf_dir).collect()
        )
    )
    got_rows = sorted(
        (r["user_id"], r["window_start"].strftime("%Y-%m-%d %H:%M:%S"),
         r["event_id"], r["rank"])
        for r in got.collect()
    )
    want_rows = sorted(
        (r["user_id"], r["window_start"], r["event_id"], r["rank"])
        for r in want.collect()
    )
    assert got_rows == want_rows
    # no (user, window) admits more than 3 (the cap BINDING — rejection
    # of a 4th event — is proven in the expiry golden's burst)
    from collections import Counter
    per_key = Counter((u, w) for u, w, _, _ in got_rows)
    assert max(per_key.values()) <= 3
    assert len(got_rows) <= events.count()


def test_quota_admission_state_expires_and_readmits(spark, tmp_path):
    """ST13 expiry golden: with watermark + EventTimeTimeout, an
    expired (user, window) counter is REMOVED — an event for that
    window arriving after expiry (but inside a fresh run) re-admits
    from rank 1, proving the state did not linger. Run two separate
    streams over the same checkpoint-free replay dirs."""
    from graal_cdc_spark.streaming.stateful import quota_admission

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    early = [(1, t0 + dt.timedelta(seconds=s), 100 + s) for s in range(5)]
    late_advancer = [(2, t0 + dt.timedelta(hours=2), 900)]

    def mk(rows):
        return spark.createDataFrame(
            [(u, ts, e, "click", 1.0, "{}") for u, ts, e in rows],
            "user_id long, ts timestamp, event_id long, "
            "event_type string, value double, props string",
        )

    replay = str(tmp_path / "replay")
    append_chunk(mk(early).coalesce(1), replay)
    # batch 2 advances the watermark far past window+grace -> timer fires
    append_chunk(mk(late_advancer).coalesce(1), replay)

    stream = read_file_stream(
        spark,
        replay,
        "user_id long, ts timestamp, event_id long, "
        "event_type string, value double, props string",
    )
    got = run_to_memory(
        quota_admission(
            stream, k=3, watermark="10 minutes", grace="20 minutes"
        ),
        output_mode="update",
    )
    rows = [
        (r["user_id"], r["event_id"], r["rank"]) for r in got.collect()
    ]
    # only 3 of user 1's 5 events admitted, ranks 1..3 in event order
    assert sorted(r for r in rows if r[0] == 1) == [
        (1, 100, 1), (1, 101, 2), (1, 102, 3)
    ]
    assert (2, 900, 1) in rows


def test_snapshot_then_stream_bootstrap(spark, sf_dir, tmp_path):
    """Debezium-parity bootstrap: the initial snapshot seeds the
    replay dir as op='r' envelopes below every log seq; the UNCHANGED
    compaction stream then consumes snapshot-then-log and converges to
    latest-by-key over both — snapshot-only keys survive as 'r', keys
    the log touches show the log's latest."""
    from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
    from graal_cdc_spark.sources.bootstrap import (
        bootstrap_replay_dir,
        snapshot_envelopes,
    )
    from graal_cdc_spark.streaming.compaction import run_cdc_compaction_stream

    log = build_cdc_events(spark, sf_dir)
    some_log_keys = [
        int(r["key"])
        for r in parse_envelope(log).select("key").distinct().limit(3).collect()
    ]
    snap_ids = some_log_keys + [900001, 900002, 900003]
    snap = spark.createDataFrame(
        [(i, f"snap-{i}") for i in snap_ids], "user_id long, payload string"
    )
    env = snapshot_envelopes(
        snap,
        "user_id",
        table=F.when(F.col("user_id") % 2 == 0, "users").otherwise("orders"),
    )
    # envelopes pass the filter chain as op='r' with routed tables
    parsed_snap = parse_envelope(env)
    assert parsed_snap.count() == len(snap_ids)
    assert {r["op"] for r in parsed_snap.collect()} == {"r"}
    assert {r["tbl"] for r in parsed_snap.collect()} <= {"users", "orders"}

    replay = str(tmp_path / "replay")
    bootstrap_replay_dir(env.coalesce(1), replay)
    append_chunk(log.coalesce(2), replay)

    sink = run_cdc_compaction_stream(
        spark, replay, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    got = {r["key"]: (r["seq"], r["op"]) for r in sink.current_table().collect()}
    want = {
        r["key"]: (r["seq"], r["op"])
        for r in compact_cdc(
            parse_envelope(env).unionByName(parse_envelope(log))
        ).collect()
    }
    assert got == want
    # snapshot-only keys live on as the snapshot row
    for i in (900001, 900002, 900003):
        assert got[str(i)] == (-1, "r")
    # keys the log touched were won by the log (seq > -1)
    for k in some_log_keys:
        key = str(k)
        if key in got:
            assert got[key][0] > -1

    # seeding over an existing log is refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="oldest segment"):
        bootstrap_replay_dir(env, replay)


def test_full_outer_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """ST14 golden: watermarked FULL OUTER stream-stream join equals
    the batch twin — unmatched rows on BOTH sides emit once the
    watermark passes their windows (same two-sentinel-chunk discipline
    as the left-outer golden)."""
    from graal_cdc_spark.streaming.joins import interval_pairs

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)
    far = events.agg(F.max("ts").alias("m")).collect()[0]["m"] + dt.timedelta(
        days=30
    )
    for i, delay in enumerate([dt.timedelta(), dt.timedelta(days=30)]):
        sentinel = spark.createDataFrame(
            [
                (10**9 + 2 * i, far + delay, -1, "purchase", 0.0, "{}"),
                (10**9 + 2 * i + 1, far + delay, -1, "error", 0.0, "{}"),
            ],
            EVENTS_SCHEMA,
        )
        append_chunk(sentinel, replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        interval_pairs(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "error"),
            watermark="1 hour",
            how="full_outer",
        ),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).filter(F.col("user_id") >= 0)

    want = interval_pairs(
        events.filter(F.col("event_type") == "purchase"),
        events.filter(F.col("event_type") == "error"),
        how="full_outer",
    )

    def rows_nullsafe(df):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert rows_nullsafe(got) == rows_nullsafe(want)
    # both outer sides are real
    assert got.filter(F.col("right_id").isNull()).count() > 0
    assert got.filter(F.col("left_id").isNull()).count() > 0


def test_stream_to_lake_partitioned_sink_is_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """End-to-end: windowed streaming aggregate → foreachBatch →
    dynamic-partition-overwrite lake sink. Each micro-batch rewrites
    ONLY the (event-date) partitions it touches, so (a) the final
    lake equals the batch twin, and (b) losing the checkpoint and
    replaying the whole stream converges to the same lake (the
    at-least-once + partition-overwrite idempotence contract)."""
    from graal_cdc_spark.sinks.lake import write_partitioned

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)
    lake = str(tmp_path / "lake")

    def daily(df):
        return (
            df.groupBy(
                F.to_date("ts").alias("day"), "event_type"
            ).agg(F.count(F.lit(1)).alias("n"))
        )

    def sink(batch_df, batch_id):
        write_partitioned(batch_df, lake, ["day"])

    def run(ckpt):
        stream = read_file_stream(
            spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
        )
        q = (
            daily(stream)
            .writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    got1 = _rows(spark, spark.read.parquet(lake).select("day", "event_type", "n"))
    want = _rows(spark, daily(events))
    assert got1 == want

    # checkpoint lost → full replay over the existing lake: converges
    run(str(tmp_path / "ckpt2"))
    got2 = _rows(spark, spark.read.parquet(lake).select("day", "event_type", "n"))
    assert got2 == want


def test_session_coverage_stream_match_batch(spark, sf_dir, tmp_path):
    """ST15: session_window interval-union coverage on readStream ==
    the oracle-gated batch twin, across multi-batch chunked arrival
    (state merges sessions that span chunk boundaries)."""
    from graal_cdc_spark.streaming import session_coverage

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    # two chunks split by event id parity: sessions straddle chunks
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)
    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )

    got = run_to_memory(
        session_coverage(stream, gap="30 minutes", watermark="1 hour"),
        output_mode="complete",
        checkpoint_dir=str(tmp_path / "ckpt_cov"),
    )
    want = session_coverage(events, gap="30 minutes")
    assert _rows(spark, got) == _rows(spark, want)
    # and the streaming result equals the r83 islands math: total
    # coverage = sum over sessions of (last + gap - first)
    total = sum(r[-1] for r in _rows(spark, got))
    from graal_cdc_spark.queries import all_specs

    r83 = all_specs()["r83_interval_union_length"].spark(spark, sf_dir)
    assert total == sum(r.covered_us for r in r83.collect())


def test_running_capped_balance_stream_matches_batch_twin(
    spark, sf_dir, tmp_path
):
    """R93 incremental twin: the clamped-ledger stateful operator,
    replayed in two PREFIX micro-batches (order contract: per-key
    (s, event_id) order across batches), converges to the batch
    capped_running_balance — each key's final emission equals the
    one-shot scan."""
    from pyspark.sql import Window

    from graal_cdc_spark.operators.ledger import capped_running_balance
    from graal_cdc_spark.streaming.stateful import running_capped_balance

    cap = 50_000
    events = load_table(spark, sf_dir, "events")

    def ledger_cols(df):
        return df.select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            "event_id",
            (
                F.floor(F.col("value") * 100).cast("long")
                * F.when(
                    F.col("event_type").isin("purchase", "error"), -1
                ).otherwise(1)
            ).alias("amt"),
        )

    # prefix split on event time: every tie of the boundary ts lands
    # wholly in chunk 1, so each key sees a prefix then the rest
    t0 = events.agg(
        F.percentile_approx("ts", 0.5).alias("t")
    ).collect()[0]["t"]
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("ts") <= t0).coalesce(1), replay)
    append_chunk(events.filter(F.col("ts") > t0).coalesce(1), replay)

    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    got = run_to_memory(
        running_capped_balance(ledger_cols(stream), cap=cap),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    wmax = Window.partitionBy("user_id")
    final = (
        got.withColumn("max_emit", F.max("emit").over(wmax))
        .filter(F.col("emit") == F.col("max_emit"))
        .select("user_id", "final_balance", "n_capped", "n_floored")
    )
    want = capped_running_balance(
        ledger_cols(events), "user_id", ["s", "event_id"], "amt", cap=cap
    )
    assert _rows(spark, final) == _rows(spark, want)


def test_stream_static_join_dim_refresh_via_foreach_batch(
    spark, tmp_path
):
    """ST6 production gotcha, pinned: a parquet-backed static side is
    resolved ONCE at query planning (frozen file listing), so dim
    updates are invisible to a plain stream-static join. The correct
    refresh pattern re-reads the dim INSIDE foreachBatch — each
    micro-batch then joins against the dim as of that batch. The
    golden drives two batches with a dim overwrite in between and
    asserts batch 1 used the old dim and batch 2 the new one."""
    dim_dir = str(tmp_path / "dim")
    replay = str(tmp_path / "replay")
    out: list[tuple] = []

    def write_dim(label: str) -> None:
        spark.createDataFrame(
            [(1, label)], "user_id long, segment string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    write_dim("bronze")
    append_chunk(_mk_events(spark, [(0, "view")]), replay)

    def sink(batch_df, batch_id):
        dim = spark.read.parquet(dim_dir)  # fresh listing per batch
        joined = batch_df.join(F.broadcast(dim), "user_id").select(
            "event_id", "segment"
        )
        out.extend(sorted((r["event_id"], r["segment"])
                          for r in joined.collect()))

    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    write_dim("gold")
    append_chunk(_mk_events(spark, [(1, "view")]), replay)
    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    segs = [s for _, s in out]
    assert segs[0] == "bronze" and segs[-1] == "gold", out


def test_windowed_histogram_stream_matches_batch(spark, sf_dir, tmp_path):
    """ST16: the streaming value histogram (chunked into two
    micro-batches, complete mode) equals the batch twin — bin counts
    are decomposable, so chunking cannot change any (window, type,
    bin) cell."""
    from graal_cdc_spark.streaming.windows import windowed_value_histogram

    events = load_table(spark, sf_dir, "events")
    replay = str(tmp_path / "replay")
    append_chunk(events.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(events.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    stream = read_file_stream(
        spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1
    )
    got = run_to_memory(
        windowed_value_histogram(stream), output_mode="complete"
    )
    want = windowed_value_histogram(events)
    assert _rows(spark, got) == _rows(spark, want)


def test_running_heavy_hitters_stream_superset_and_bounded(
    spark, sf_dir, tmp_path
):
    """ST18: the streaming Misra-Gries operator, replayed in TWO
    micro-batches (cross-batch MG merge in applyInPandasWithState
    state), keeps per-bucket state within capacity AND its final
    survivor set contains EVERY exact per-bucket heavy hitter — the
    candidate-generation guarantee the exact-verify stage relies on.
    Replaying the same chunking reproduces the same survivors
    (deterministic merge)."""
    from pyspark.sql import Window

    from graal_cdc_spark.streaming.stateful import running_heavy_hitters

    K, B = 8, 4
    events = load_table(spark, sf_dir, "events").filter(
        F.length("props") >= 3
    )
    toks = events.select(
        "event_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(props) - 2), "
                "j -> substring(props, j, 3))"
            )
        ).alias("token"),
    )
    replay = str(tmp_path / "replay")
    append_chunk(toks.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(toks.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    def run(ck):
        stream = read_file_stream(
            spark, replay, "event_id BIGINT, token STRING",
            max_files_per_trigger=1,
        )
        got = run_to_memory(
            running_heavy_hitters(stream.select("token"), k=K, n_buckets=B),
            output_mode="update",
            checkpoint_dir=str(tmp_path / ck),
        )
        wmax = Window.partitionBy("bucket")
        return (
            got.withColumn("max_emit", F.max("emit").over(wmax))
            .filter(F.col("emit") == F.col("max_emit"))
            .select("bucket", "token", "weight")
        )

    final = run("ck1").collect()
    by_bucket: dict[int, set[str]] = {}
    for r in final:
        by_bucket.setdefault(r.bucket, set()).add(r.token)
        assert r.weight > 0
    assert all(len(s) <= K for s in by_bucket.values())

    # exact per-bucket heavy hitters (the st18 batch twin) must all
    # be in the survivor set
    from graal_cdc_spark.operators.sketch import md5_bucket

    b = toks.select(md5_bucket("token", B).alias("bucket"), "token")
    counts = b.groupBy("bucket", "token").agg(F.count(F.lit(1)).alias("cnt"))
    totals = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    heavy = (
        counts.join(totals, "bucket")
        .filter(F.col("cnt") * (K + 1) > F.col("n"))
        .collect()
    )
    assert heavy, "fixture should have heavy hitters"
    for r in heavy:
        assert r.token in by_bucket.get(r.bucket, set()), (
            f"heavy hitter {r.token!r} missing from bucket {r.bucket}"
        )

    # deterministic: the same chunking replayed into a fresh
    # checkpoint yields the identical survivor multiset
    again = run("ck2").collect()
    assert sorted((r.bucket, r.token, r.weight) for r in final) == sorted(
        (r.bucket, r.token, r.weight) for r in again
    )


def test_running_kmv_distinct_converges_and_bounded(spark, sf_dir, tmp_path):
    """ST23: the streaming KMV operator, replayed in TWO micro-batches
    (cross-batch bottom-k merge in applyInPandasWithState state),
    converges to EXACTLY the batch twin's rows — bottom-k is
    mergeable, so any disjoint batching reaches the same end state —
    with at most k hashes of state per group, deterministically
    across replays."""
    from pyspark.sql import Window

    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.streaming.stateful import running_kmv_distinct

    K = 32
    events = load_table(spark, sf_dir, "events")
    hashed = events.select(
        F.col("event_id"),
        F.col("event_type").alias("grp"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    )
    replay = str(tmp_path / "replay")
    append_chunk(hashed.filter(F.col("event_id") % 2 == 0).coalesce(1), replay)
    append_chunk(hashed.filter(F.col("event_id") % 2 == 1).coalesce(1), replay)

    def run(ck):
        stream = read_file_stream(
            spark, replay, "event_id BIGINT, grp STRING, h STRING",
            max_files_per_trigger=1,
        )
        got = run_to_memory(
            running_kmv_distinct(stream.select("grp", "h"), k=K),
            output_mode="update",
            checkpoint_dir=str(tmp_path / ck),
        )
        wmax = Window.partitionBy("grp")
        return (
            got.withColumn("max_emit", F.max("emit").over(wmax))
            .filter(F.col("emit") == F.col("max_emit"))
            .select("grp", "n_state", "est_distinct")
        )

    final = {(r.grp, r.n_state, r.est_distinct) for r in run("ck1").collect()}
    assert all(n <= K for _, n, _ in final)
    # end state == the gated batch twin's rows (st23 at _ST23_K == 32)
    from graal_cdc_spark.queries.streaming import _ST23_K, _st23

    assert _ST23_K == K
    want = {
        (r.grp, r.n_state, r.est_distinct)
        for r in _st23(spark, sf_dir).collect()
    }
    assert final == want
    # deterministic across a fresh-checkpoint replay
    again = {(r.grp, r.n_state, r.est_distinct) for r in run("ck2").collect()}
    assert again == final
