"""Schema-version control table (SURVEY.md §1.4 "schema history /
DDL tracking"; VERDICT r5 missing #3).

Covers: registry semantics on a hand-built evolving log, fixture-level
determinism with a DuckDB twin (the round-7 gate candidate — held out
of the registry this round so the rotation window stays on the 44
never-gated queries), incremental merge idempotence, and the silver
mergeSchema evolution path the registry routes into.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graal_cdc_spark.cdc.envelope import (
    build_cdc_events,
    cdc_parsed_cte,
    parse_envelope,
)
from graal_cdc_spark.cdc.schema_registry import (
    events_with_schema_version,
    merge_registry,
    schema_versions,
)


def _rows(df):
    """A registry DataFrame as the row-dict list ``merge_registry``
    folds."""
    return [r.asDict() for r in df.collect()]


def _log(spark, rows):
    """rows: (seq, key, op, tbl, after_json-or-None)."""
    data = []
    for seq, key, op, tbl, after in rows:
        if after is None and op != "d":
            value = None  # tombstone
        else:
            aj = "null" if op == "d" else after
            value = (
                f'{{"payload":{{"op":"{op}","after":{aj},'
                f'"source":{{"db":"appdb","table":"{tbl}"}}}}}}'
            )
        data.append((seq, key, value))
    return spark.createDataFrame(data, "seq long, key string, value string")


EVOLVING = [
    (1, "k1", "c", "users", '{"id":"1","name":"a"}'),
    (2, "k2", "c", "users", '{"id":"2","name":"b"}'),
    (3, "k1", "u", "users", '{"id":"1","name":"a2","email":"x"}'),
    (4, "k3", "c", "users", '{"id":"3","name":"c"}'),  # back to v1 shape
    (5, "k2", "d", "users", None),  # delete: no schema evidence
    (6, "k9", "c", "audit", "{}"),  # empty object IS a shape
    (7, "k4", "c", "users", '{"id":"4","name":"d","email":"y"}'),
]


def test_versions_by_first_appearance(spark):
    reg = schema_versions(parse_envelope(_log(spark, EVOLVING)))
    rows = {
        (r["tbl"], r["version"]): r
        for r in reg.collect()
    }
    assert set(rows) == {("users", 1), ("users", 2), ("audit", 1)}
    v1, v2 = rows[("users", 1)], rows[("users", 2)]
    # registry semantics: A -> A+email -> A is TWO versions, not three
    assert v1["fields"] == "id,name" and v1["first_seq"] == 1
    assert v2["fields"] == "email,id,name" and v2["first_seq"] == 3
    assert v1["n_events"] == 3  # seq 1, 2, 4 — the revert rows count in v1
    assert v2["n_events"] == 2  # seq 3, 7
    assert rows[("audit", 1)]["fields"] == ""


def test_event_version_tagging(spark):
    tagged = events_with_schema_version(
        parse_envelope(_log(spark, EVOLVING))
    )
    got = {r["seq"]: r["version"] for r in tagged.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1, 6: 1, 7: 2}  # no seq 5 (delete)


def test_merge_registry_incremental(spark):
    full = parse_envelope(_log(spark, EVOLVING))
    first = schema_versions(full.filter(F.col("seq") <= 4))
    fresh = schema_versions(full.filter(F.col("seq") > 4))
    merged = merge_registry(_rows(first), _rows(fresh))
    want = _rows(schema_versions(full))
    key = lambda rows: sorted(  # noqa: E731
        (r["db"], r["tbl"], r["version"], r["fields"], r["first_seq"],
         r["n_events"])
        for r in rows
    )
    assert key(merged) == key(want)


def test_merge_reapplied_slice_keeps_versions(spark):
    full = parse_envelope(_log(spark, EVOLVING))
    reg = schema_versions(full)
    fresh = schema_versions(full.filter(F.col("seq") > 4))
    merged = merge_registry(_rows(reg), _rows(fresh))
    # same (db, tbl, fields) rows, same version numbers and first_seq
    assert sorted(
        (r["tbl"], r["fields"], r["version"], r["first_seq"])
        for r in merged
    ) == sorted(
        (r["tbl"], r["fields"], r["version"], r["first_seq"])
        for r in reg.collect()
    )


def test_property_split_merge_equals_batch(spark):
    """For ARBITRARY evolving logs and ARBITRARY 2-way splits, folding
    the two slice registries with merge_registry equals the batch
    registry (versions, first_seq, counts). Exercises: revert-to-old-
    shape, tables only in one slice, new schema first seen in either
    slice, empty slices."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    field_sets = ["a", "a,b", "a,b,c", "b", ""]
    ev = st.tuples(
        st.sampled_from(["users", "orders", "audit"]),
        st.sampled_from(field_sets),
    )

    # 12 → 6 examples (r14 suite-budget pass, VERDICT r13 #2): each
    # example replays a chunked silver evolution through a streaming
    # restart (~4 s); 6 keeps the cut-point coverage per run.
    @settings(max_examples=6, deadline=None)
    @given(
        events=st.lists(ev, min_size=1, max_size=14),
        cut=st.integers(min_value=0, max_value=14),
    )
    def prop(events, cut):
        rows = []
        for i, (tbl, fs) in enumerate(events, start=1):
            after = (
                "{" + ",".join(f'"{f}":"x"' for f in fs.split(",") if f) + "}"
            )
            rows.append((i, f"k{i}", "c", tbl, after))
        parsed = parse_envelope(_log(spark, rows))
        want = sorted(
            tuple(r)
            for r in schema_versions(parsed)
            .select("db", "tbl", "version", "fields", "first_seq", "n_events")
            .collect()
        )
        lo = schema_versions(parsed.filter(F.col("seq") <= cut))
        hi = schema_versions(parsed.filter(F.col("seq") > cut))
        got = sorted(
            (r["db"], r["tbl"], r["version"], r["fields"], r["first_seq"],
             r["n_events"])
            for r in merge_registry(_rows(lo), _rows(hi))
        )
        assert got == want

    prop()


def test_merge_backfill_slice_corrects_first_seq(spark):
    """ADVICE r6: a backfilled slice (events EARLIER in seq than the
    persisted history) must correct first_seq for known shapes via
    least() — versions stay stable (merge-order contract), counts
    accumulate, and no shape is duplicated."""
    full = parse_envelope(_log(spark, EVOLVING))
    # persist the LATER slice first, then backfill the earlier one
    late = schema_versions(full.filter(F.col("seq") > 4))
    early = schema_versions(full.filter(F.col("seq") <= 4))
    merged = {
        (r["tbl"], r["fields"]): r
        for r in merge_registry(_rows(late), _rows(early))
    }
    batch = {
        (r["tbl"], r["fields"]): r for r in schema_versions(full).collect()
    }
    assert set(merged) == set(batch)
    for k, b in batch.items():
        m = merged[k]
        # first_seq and counts converge to the batch answer even though
        # the slices arrived out of order
        assert m["first_seq"] == b["first_seq"], k
        assert m["n_events"] == b["n_events"], k
    # versions are stable per merge order: the shapes already in `late`
    # keep the numbers `late` assigned
    late_v = {(r["tbl"], r["fields"]): r["version"] for r in late.collect()}
    for k, v in late_v.items():
        assert merged[k]["version"] == v, k


# The oracle twin is registered round 7 as c23_schema_version_history
# (graal_cdc_spark/queries/cdc.py); this rehearsal keeps it in every
# local test run regardless of the gate window.
from graal_cdc_spark.queries.cdc import C23_ORACLE  # noqa: E402


def test_fixture_registry_matches_duckdb_twin(spark, sf_dir):
    from graal_cdc_spark.testing import canon_rows, run_oracle

    got = schema_versions(
        parse_envelope(build_cdc_events(spark, sf_dir))
    ).orderBy("db", "tbl", "version")
    s_rows = [tuple(r) for r in got.collect()]
    o_cols, o_rows = run_oracle(C23_ORACLE, sf_dir)
    assert len(s_rows) == len(o_rows) > 0
    assert canon_rows(got.columns, s_rows) == canon_rows(o_cols, o_rows)


def test_streaming_incremental_registry_golden(spark, tmp_path):
    """The registry maintained incrementally over a replayed stream
    (foreachBatch: fold each micro-batch's registry via
    merge_registry) converges to the batch registry — versions,
    first_seq, AND counts. Chunk boundaries are adversarial: the
    version-2 first appearance (seq 3) lands mid-stream."""
    from graal_cdc_spark.streaming.replay import append_chunk, read_file_stream

    events = _log(spark, EVOLVING)
    replay = str(tmp_path / "replay")
    for lo, hi in ((1, 2), (3, 5), (6, 7)):
        append_chunk(
            events.filter(F.col("seq").between(lo, hi)).coalesce(1), replay
        )

    state = {"reg": []}

    def fold(batch_df, _bid):
        fresh = schema_versions(parse_envelope(batch_df))
        state["reg"] = merge_registry(state["reg"], _rows(fresh))

    stream = read_file_stream(
        spark, replay, "seq long, key string, value string",
        max_files_per_trigger=1,
    )
    q = stream.writeStream.foreachBatch(fold).trigger(
        availableNow=True
    ).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.awaitTermination(120)

    want = sorted(
        (r["db"], r["tbl"], r["version"], r["fields"], r["first_seq"],
         r["n_events"])
        for r in schema_versions(parse_envelope(events)).collect()
    )
    got = sorted(
        (d["db"], d["tbl"], d["version"], d["fields"], d["first_seq"],
         d["n_events"])
        for d in state["reg"]
    )
    assert got == want


def test_silver_merge_schema_evolution(spark, tmp_path):
    """The registry's downstream: silver parquet written per-version
    evolves by column ADDITION; mergeSchema reads the union and the
    old rows surface NULL for the new column."""
    parsed = parse_envelope(_log(spark, EVOLVING))
    tagged = events_with_schema_version(parsed).filter(
        F.col("tbl") == "users"
    )
    silver = str(tmp_path / "silver_users")
    for v, schema in ((1, "id string, name string"),
                      (2, "id string, name string, email string")):
        (
            tagged.filter(F.col("version") == v)
            .select("seq", F.from_json("after_json", schema).alias("r"))
            .select("seq", "r.*")
            .write.mode("append")
            .parquet(silver)
        )
    merged = spark.read.option("mergeSchema", "true").parquet(silver)
    assert set(merged.columns) == {"seq", "id", "name", "email"}
    by_seq = {r["seq"]: r for r in merged.collect()}
    assert by_seq[1]["email"] is None  # v1 row under the evolved schema
    assert by_seq[3]["email"] == "x"
    assert by_seq[7]["email"] == "y"


# ---------------------------------------------------------------------------
# Production wiring (VERDICT r6 #6): streaming/silver.py — the runner-
# driven foreachBatch consumer that persists the registry and writes
# versioned silver
# ---------------------------------------------------------------------------


def test_silver_schema_evolution_streaming_golden(spark, tmp_path):
    """End-to-end through PipelineRunner: the EVOLVING log replayed in
    3 micro-batches (the v2 first-appearance lands mid-stream) →
    persisted registry converges to the batch twin, silver serves the
    evolved union (NULL email for pre-evolution rows), committed-batch
    re-delivery is a no-op, and a crash-window replay (marker deleted,
    batch re-run) converges without duplicates."""
    from pathlib import Path

    from graal_cdc_spark.pipelines.registry import Pipeline
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.streaming.replay import append_chunk
    from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

    events = _log(spark, EVOLVING)
    replay = str(tmp_path / "replay")
    for lo, hi in ((1, 2), (3, 5), (6, 7)):
        append_chunk(
            events.filter(F.col("seq").between(lo, hi)).coalesce(1), replay
        )

    lake = SilverSchemaEvolution(spark, str(tmp_path / "lake"))
    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=str(tmp_path / "ckpt")
    )
    pipe = Pipeline(
        name="silver", path=Path("."), version=0.0, db=None, tables=(),
        transform=lambda df: df,
    )
    run = runner.start(pipe, lake.sink(), max_files_per_trigger=1)
    run.query.awaitTermination()

    # each commit publishes one generation file; retention keeps two
    reg_dir = tmp_path / "lake" / "_registry"
    assert sorted(p.name for p in reg_dir.iterdir()
                  if not p.name.endswith(".crc")) == [
        f"gen-{b:012d}.json" for b in (1, 2)
    ]

    reg_key = lambda df: sorted(  # noqa: E731
        (r["db"], r["tbl"], r["version"], r["fields"], r["first_seq"],
         r["n_events"])
        for r in df.collect()
    )
    want = reg_key(schema_versions(parse_envelope(events)))
    assert reg_key(lake.registry()) == want

    users = lake.read_silver("appdb", "users")
    assert set(users.columns) == {"seq", "key", "op", "version",
                                  "id", "name", "email"}
    by_seq = {r["seq"]: r for r in users.collect()}
    assert set(by_seq) == {1, 2, 3, 4, 7}  # no delete (seq 5)
    assert by_seq[1]["email"] is None and by_seq[1]["version"] == 1
    assert by_seq[3]["email"] == "x" and by_seq[3]["version"] == 2
    assert by_seq[4]["email"] is None  # revert row lands in v1
    assert by_seq[7]["email"] == "y"
    # the {} shape: audit columns only, still readable
    audit = lake.read_silver("appdb", "audit")
    assert set(audit.columns) == {"seq", "key", "op", "version"}
    assert [r["seq"] for r in audit.collect()] == [6]

    # committed-batch re-delivery: full no-op (the generation is the marker)
    last_chunk = parse_envelope(events.filter(F.col("seq") >= 6))
    lake.process_batch(last_chunk, 2)
    assert reg_key(lake.registry()) == want
    assert lake.read_silver("appdb", "users").count() == 5

    # crash window: marker for the last batch lost AFTER silver writes —
    # the replay must overwrite (not append) and re-commit
    lake._fs.delete(lake._gen_path(2))
    lake.process_batch(last_chunk, 2)
    assert reg_key(lake.registry()) == want
    again = {r["seq"]: r for r in lake.read_silver("appdb", "users").collect()}
    assert set(again) == {1, 2, 3, 4, 7}
    assert again[7]["email"] == "y" and again[7]["version"] == 2


def test_silver_values_render_from_one_map_parse(spark, tmp_path):
    """Row-image values reach silver as the strings of the one
    ``map<string,string>`` parse: numbers normalized, nested JSON kept
    as JSON text, JSON null as NULL, non-ASCII intact, and a column
    named by the raw key even when it holds a backtick."""
    from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

    after = (
        '{"a":1.50,"b":{"n":[1,2]},"c":true,"d":null,"e":"é",'
        '"f":1E3,"g`h":"x"}'
    )
    parsed = parse_envelope(_log(spark, [(1, "k1", "c", "users", after)]))
    lake = SilverSchemaEvolution(spark, str(tmp_path / "lake"))
    lake.process_batch(parsed, 0)
    [row] = lake.read_silver("appdb", "users").collect()
    assert row.asDict() == {
        "seq": 1, "key": "k1", "op": "c", "version": 1,
        "a": "1.5", "b": '{"n":[1,2]}', "c": "true", "d": None,
        "e": "é", "f": "1000.0", "g`h": "x",
    }


def test_property_silver_chunked_equals_batch(spark, tmp_path):
    """For arbitrary evolving logs and arbitrary 2-way chunkings, the
    streaming silver pipeline (per-chunk process_batch) produces the
    SAME registry as the batch build and silver content whose
    (seq, version) assignment matches the batch tagging — including
    chunkings where a schema's first appearance lands in either
    chunk."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

    field_sets = ["a", "a,b", "b,c", ""]
    ev = st.sampled_from(field_sets)

    case_n = [0]

    @settings(max_examples=5, deadline=None)
    @given(
        events=st.lists(ev, min_size=1, max_size=10),
        cut=st.integers(min_value=0, max_value=10),
    )
    def prop(events, cut):
        case_n[0] += 1
        rows = []
        for i, fs in enumerate(events, start=1):
            after = (
                "{" + ",".join(f'"{f}":"x{i}"' for f in fs.split(",") if f)
                + "}"
            )
            rows.append((i, f"k{i}", "c", "users", after))
        parsed = parse_envelope(_log(spark, rows))
        root = str(tmp_path / f"lake{case_n[0]}")
        lake = SilverSchemaEvolution(spark, root)
        lake.process_batch(parsed.filter(F.col("seq") <= cut), 0)
        lake.process_batch(parsed.filter(F.col("seq") > cut), 1)

        want_reg = sorted(
            tuple(r)
            for r in schema_versions(parsed)
            .select("db", "tbl", "version", "fields", "first_seq",
                    "n_events")
            .collect()
        )
        got_reg = sorted(
            tuple(r)
            for r in lake.registry()
            .select("db", "tbl", "version", "fields", "first_seq",
                    "n_events")
            .collect()
        )
        assert got_reg == want_reg

        # silver rows: exactly the non-delete images, tagged with the
        # BATCH-equivalent version for their field-set
        want_tags = {
            (r["seq"], r["version"])
            for r in events_with_schema_version(parsed).collect()
        }
        got_tags = {
            (r["seq"], r["version"])
            for r in lake.read_silver("appdb", "users")
            .select("seq", "version")
            .collect()
        }
        assert got_tags == want_tags

    prop()


def test_silver_refuses_path_unsafe_table_names(spark, tmp_path):
    """db/table names come from UNTRUSTED envelope payloads and become
    path segments — a name with a separator or leading dot must raise,
    never write outside the silver root."""
    from graal_cdc_spark.streaming.silver import SilverSchemaEvolution

    rows = [(1, "k1", "c", "../escape", '{"id":"1"}')]
    parsed = parse_envelope(_log(spark, rows))
    lake = SilverSchemaEvolution(spark, str(tmp_path / "lake"))
    with pytest.raises(ValueError, match="unsafe db/table name"):
        lake.process_batch(parsed, 0)
    # nothing escaped and no commit marker was published
    import os

    assert not (tmp_path / "escape").exists()
    assert lake.registry().count() == 0
    reg_dir = tmp_path / "lake" / "_registry"
    assert not reg_dir.exists() or not [
        p for p in os.listdir(reg_dir) if p.startswith("gen-")
    ]
