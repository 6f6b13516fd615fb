"""Pipeline registry tests (SURVEY.md §5.2.3 "registry reload
semantics") — discovery layout, config validation, identity dedup,
mtime-versioned hot reload, unregister-on-delete, and routing."""

from __future__ import annotations

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
from graal_cdc_spark.pipelines import PipelineRegistry, discover_pipeline_files

PIPE = textwrap.dedent(
    """
    def config():
        return {"name": %(name)r, "db": "appdb", "tables": ("users",)}

    def transform(df):
        from pyspark.sql import functions as F
        return df.groupBy("op").agg(F.count(F.lit(1)).alias(%(alias)r))
    """
)


def _write(path, name="p1", alias="n"):
    path.write_text(PIPE % {"name": name, "alias": alias})
    return path


# -- discovery (C2: *.py or subdir/index.py) --------------------------------


def test_discovery_layout(tmp_path):
    _write(tmp_path / "a.py")
    (tmp_path / "pkg").mkdir()
    _write(tmp_path / "pkg" / "index.py", name="p2")
    (tmp_path / "pkg" / "helper.py").write_text("")  # not an entry point
    (tmp_path / "_private.py").write_text("")
    (tmp_path / "notes.txt").write_text("")
    (tmp_path / "empty_dir").mkdir()

    found = [p.relative_to(tmp_path).as_posix() for p in discover_pipeline_files(tmp_path)]
    assert found == ["a.py", "pkg/index.py"]


# -- validation --------------------------------------------------------------


@pytest.mark.parametrize(
    "body,match",
    [
        ("def transform(df): return df", "must define config"),
        ("def config(): return {'name': 'x'}", "must define transform"),
        ("def config(): return []\ndef transform(df): return df", "must return a dict"),
        ("def config(): return {}\ndef transform(df): return df", "'name'"),
        (
            "def config(): return {'name': 'x', 'tables': ['', 'u']}\n"
            "def transform(df): return df",
            "tables",
        ),
    ],
)
def test_invalid_pipelines_rejected(tmp_path, body, match):
    p = tmp_path / "bad.py"
    p.write_text(body)
    with pytest.raises(ValueError, match=match):
        PipelineRegistry().register(p)


# -- identity dedup (C1) + duplicate names ----------------------------------


def test_register_is_idempotent(tmp_path):
    reg = PipelineRegistry()
    p = _write(tmp_path / "a.py")
    first = reg.register(p)
    assert reg.register(p) is first  # same path+version → same object


def test_duplicate_name_across_paths_rejected(tmp_path):
    reg = PipelineRegistry()
    reg.register(_write(tmp_path / "a.py"))
    with pytest.raises(ValueError, match="duplicate pipeline name"):
        reg.register(_write(tmp_path / "b.py"))  # same name "p1"


# -- hot reload (C3/U3) ------------------------------------------------------


def test_refresh_add_reload_remove(tmp_path):
    reg = PipelineRegistry()
    a = _write(tmp_path / "a.py")
    assert reg.refresh(tmp_path) == {
        "added": ["p1"], "reloaded": [], "removed": [], "failed": []
    }
    # no change → no-op tick
    assert reg.refresh(tmp_path)["reloaded"] == []

    # touch with new content → version bump → reload picks up new logic
    _write(a, alias="n2")
    os.utime(a, (os.path.getmtime(a) + 5,) * 2)
    assert reg.refresh(tmp_path)["reloaded"] == ["p1"]
    assert reg.pipelines()["p1"].version == os.path.getmtime(a)

    # delete → unregister
    a.unlink()
    assert reg.refresh(tmp_path)["removed"] == ["p1"]
    assert reg.pipelines() == {}


def test_broken_script_does_not_kill_others(tmp_path):
    reg = PipelineRegistry()
    _write(tmp_path / "a.py")
    (tmp_path / "boom.py").write_text("raise RuntimeError('boom')")
    res = reg.refresh(tmp_path)
    assert res["added"] == ["p1"]
    assert len(res["failed"]) == 1 and "boom" in res["failed"][0]


# -- routing + transform over real envelope data -----------------------------


def test_route_and_apply(spark, sf_dir, tmp_path):
    reg = PipelineRegistry()
    pipe = reg.register(_write(tmp_path / "a.py"))
    parsed = parse_envelope(build_cdc_events(spark, sf_dir))

    routed = pipe.route(parsed)
    assert routed.filter((F.col("db") != "appdb") | (F.col("tbl") != "users")).count() == 0

    got = {r["op"]: r["n"] for r in pipe.apply(parsed).collect()}
    want = {
        r["op"]: r["n"]
        for r in parsed.filter("db = 'appdb' AND tbl = 'users'")
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and set(got) == {"c", "u", "d", "r"}

    # reload changes the transform that apply() uses (U3 semantics)
    _write(tmp_path / "a.py", alias="renamed")
    os.utime(tmp_path / "a.py", (os.path.getmtime(tmp_path / "a.py") + 5,) * 2)
    reg.refresh(tmp_path)
    assert "renamed" in reg.pipelines()["p1"].apply(parsed).columns


# -- config-file app entry point (TestRunner / application.yml analog) -------

APP_PIPE = textwrap.dedent(
    """
    def config():
        return {"name": "app_pipe", "db": "appdb", "tables": ("users",)}

    def transform(df):
        # pass parsed rows through; seq/op/key reach the CDC sink
        return df.select("key", "op", "seq")
    """
)


def test_app_config_validation(tmp_path):
    from graal_cdc_spark.pipelines import AppConfig

    good = {
        "replay_dir": "/x/q",
        "checkpoint_root": "/x/o",
        "pipelines_dir": "/x/s",
        "sink": {"type": "noop"},
    }
    cfg = AppConfig.from_dict(good)
    assert cfg.sink_type == "noop"

    for broken, match in [
        ({**good, "replay_dir": " "}, "replay_dir"),
        ({k: v for k, v in good.items() if k != "sink"}, "sink"),
        ({**good, "sink": {"type": "kafka"}}, "unknown sink type"),
    ]:
        with pytest.raises(ValueError, match=match):
            AppConfig.from_dict(broken)

    p = tmp_path / "app.json"
    p.write_text("{not json")
    with pytest.raises(ValueError, match="invalid JSON"):
        AppConfig.load(p)


def test_run_app_end_to_end(spark, sf_dir, tmp_path):
    """Boot from a config file: discover the pipeline, drain the replay
    dir through the ES sink (recording transport), resume idempotently."""
    import json as _json

    from graal_cdc_spark.pipelines import run_app
    from graal_cdc_spark.sinks.elasticsearch import FileRecordingTransport

    pipelines_dir = tmp_path / "scripts"
    pipelines_dir.mkdir()
    (pipelines_dir / "app_pipe.py").write_text(APP_PIPE)
    replay = tmp_path / "queue"
    outdir = tmp_path / "es"
    outdir.mkdir()

    from graal_cdc_spark.streaming import append_chunk

    append_chunk(build_cdc_events(spark, sf_dir).coalesce(2), str(replay))

    config = {
        "replay_dir": str(replay),
        "checkpoint_root": str(tmp_path / "offset"),
        "pipelines_dir": str(pipelines_dir),
        "sink": {
            "type": "elasticsearch",
            "url": "http://es:9200/idx",
            "username": "u",
            "password": "p",
            "id_key": "key",
        },
    }
    cfg_path = tmp_path / "app.json"
    cfg_path.write_text(_json.dumps(config))

    app = run_app(
        spark, cfg_path, transport_factory=lambda: FileRecordingTransport(str(outdir))
    )
    assert app.report["added"] == ["app_pipe"]
    app.runner.await_all()
    n_requests = len(list(outdir.iterdir()))
    assert n_requests > 0

    # restart from the same checkpoint: nothing new to process → no new
    # requests (the cursor semantics of the reference's named tailers)
    app2 = run_app(
        spark, cfg_path, transport_factory=lambda: FileRecordingTransport(str(outdir))
    )
    app2.runner.await_all()
    assert len(list(outdir.iterdir())) == n_requests


def test_shipped_example_pipeline_registers_and_runs(spark, sf_dir):
    """The committed examples/ stay valid: the pipeline registers, the
    app config validates, and the transform compacts a real parsed
    batch to one row per key."""
    import pathlib

    from graal_cdc_spark.pipelines import AppConfig, PipelineRegistry

    repo = pathlib.Path(__file__).resolve().parents[1]
    reg = PipelineRegistry()
    pipe = reg.register(repo / "examples" / "pipelines" / "users_latest.py")
    assert pipe.name == "users_latest" and pipe.tables == ("users",)

    cfg = AppConfig.load(repo / "examples" / "app.json")
    assert cfg.sink_type == "elasticsearch"

    parsed = parse_envelope(build_cdc_events(spark, sf_dir))
    out = pipe.apply(parsed)
    assert out.columns == ["key", "seq", "op", "after_json"]
    assert out.groupBy("key").count().filter("count > 1").count() == 0
    assert out.count() > 0


# -- fan-out independence (SURVEY §2.3.4): per-pipeline durable cursors ------

FANOUT_PIPE = textwrap.dedent(
    """
    def config():
        return {"name": %(name)r, "db": "appdb"}

    def transform(df):
        return df.select("key", "op", "seq")
    """
)


def test_fanout_independence_and_cursor_recovery(spark, sf_dir, tmp_path):
    """Two pipelines over one replay source: one sink fails mid-drain;
    the healthy pipeline still delivers everything, and the failed one
    resumes from ITS OWN checkpoint after the sink is fixed — the
    reference's per-script tailer-cursor semantics (one slow/broken
    consumer never loses data for, or blocks, another)."""
    from graal_cdc_spark.pipelines import PipelineRegistry
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.streaming import append_chunk

    pdir = tmp_path / "scripts"
    pdir.mkdir()
    (pdir / "healthy.py").write_text(FANOUT_PIPE % {"name": "healthy"})
    (pdir / "flaky.py").write_text(FANOUT_PIPE % {"name": "flaky"})
    reg = PipelineRegistry()
    reg.refresh(pdir)

    replay = str(tmp_path / "queue")
    append_chunk(build_cdc_events(spark, sf_dir).coalesce(1), replay)

    delivered: dict[str, list[int]] = {"healthy": [], "flaky": []}

    def ok_sink(name):
        def sink(batch_df, batch_id):
            delivered[name].extend(r.seq for r in batch_df.collect())
        return sink

    def broken_sink(batch_df, batch_id):
        raise RuntimeError("sink down")

    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=str(tmp_path / "ckpt")
    )
    pipes = reg.pipelines()
    run_h = runner.start(pipes["healthy"], ok_sink("healthy"))
    run_f = runner.start(pipes["flaky"], broken_sink)

    run_h.query.awaitTermination()
    with pytest.raises(Exception, match="sink down"):
        run_f.query.awaitTermination()

    parsed_seqs = sorted(
        r.seq for r in parse_envelope(build_cdc_events(spark, sf_dir)).collect()
    )
    assert sorted(delivered["healthy"]) == parsed_seqs  # unaffected
    assert delivered["flaky"] == []

    # fix the sink; the flaky pipeline resumes from its own checkpoint
    # and delivers everything it missed
    runner._running.clear()  # simulate process restart
    run_f2 = runner.start(pipes["flaky"], ok_sink("flaky"))
    run_f2.query.awaitTermination()
    assert sorted(delivered["flaky"]) == parsed_seqs


def test_await_all_awaits_every_pipeline_and_names_failures(
    spark, sf_dir, tmp_path
):
    """The first pipeline's sink raises; ``await_all`` still waits for
    the second to drain, then raises one error naming only the failed
    pipeline."""
    import time

    from graal_cdc_spark.pipelines import PipelineRegistry
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.streaming import append_chunk

    pdir = tmp_path / "scripts"
    pdir.mkdir()
    (pdir / "flaky.py").write_text(FANOUT_PIPE % {"name": "flaky"})
    (pdir / "healthy.py").write_text(FANOUT_PIPE % {"name": "healthy"})
    reg = PipelineRegistry()
    reg.refresh(pdir)
    replay = str(tmp_path / "queue")
    append_chunk(build_cdc_events(spark, sf_dir).coalesce(1), replay)

    runs = {}
    delivered: list[int] = []

    def broken_sink(batch_df, batch_id):
        raise RuntimeError("sink down")

    def slow_sink(batch_df, batch_id):
        # still running when the flaky query has already failed
        deadline = time.monotonic() + 60
        while runs["flaky"].query.isActive and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(2)
        delivered.extend(r.seq for r in batch_df.collect())

    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=str(tmp_path / "ckpt")
    )
    pipes = reg.pipelines()
    runs["flaky"] = runner.start(pipes["flaky"], broken_sink)
    runs["healthy"] = runner.start(pipes["healthy"], slow_sink)

    with pytest.raises(RuntimeError, match="flaky") as err:
        runner.await_all()
    assert "sink down" in str(err.value)
    assert "healthy:" not in str(err.value)
    assert not runs["healthy"].query.isActive
    assert sorted(delivered) == sorted(
        r.seq for r in parse_envelope(build_cdc_events(spark, sf_dir)).collect()
    )


# -- C3 end-to-end: hot reload restarts the query from its checkpoint --------

RELOAD_PIPE = textwrap.dedent(
    """
    def config():
        return {"name": "hot", "db": "appdb"}

    def transform(df):
        from pyspark.sql import functions as F
        return df.select("key", "seq", F.lit(%(ver)r).alias("ver"))
    """
)


def test_hot_reload_restarts_query_from_same_checkpoint(spark, sf_dir, tmp_path):
    """Edit the pipeline file → refresh → apply_refresh: the running
    query restarts with the NEW transform from the SAME checkpoint —
    already-processed data is not replayed, new data gets the new
    version (the reference's version-stamped reload picking up from
    the same tailer cursor)."""
    from graal_cdc_spark.pipelines import PipelineRegistry
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.streaming import append_chunk

    pdir = tmp_path / "scripts"
    pdir.mkdir()
    path = pdir / "hot.py"
    path.write_text(RELOAD_PIPE % {"ver": "v1"})
    reg = PipelineRegistry()
    reg.refresh(pdir)

    cdc = build_cdc_events(spark, sf_dir)
    mid = cdc.approxQuantile("seq", [0.5], 0.0)[0]
    replay = str(tmp_path / "queue")
    append_chunk(cdc.filter(F.col("seq") <= mid).coalesce(1), replay)

    seen: list[tuple[int, str]] = []

    def sink_factory(pipe):
        def sink(batch_df, batch_id):
            seen.extend((r.seq, r.ver) for r in batch_df.collect())
        return sink

    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=str(tmp_path / "ckpt")
    )
    runner.start(reg.pipelines()["hot"], sink_factory(reg.pipelines()["hot"]))
    runner.await_all()
    n_v1 = len(seen)
    assert n_v1 > 0 and {v for _, v in seen} == {"v1"}

    # new version lands; more data arrives
    path.write_text(RELOAD_PIPE % {"ver": "v2"})
    os.utime(path, (os.path.getmtime(path) + 5,) * 2)
    append_chunk(cdc.filter(F.col("seq") > mid).coalesce(1), replay)

    report = reg.refresh(pdir)
    assert report["reloaded"] == ["hot"]
    runner.apply_refresh(report, reg, sink_factory)
    runner.await_all()

    v1 = {s for s, v in seen if v == "v1"}
    v2 = {s for s, v in seen if v == "v2"}
    assert len(seen) == len(v1) + len(v2)
    assert v1 and v2 and v1.isdisjoint(v2)  # no replay across the reload
    want = {r.seq for r in parse_envelope(cdc).collect()}
    assert v1 | v2 == want  # nothing lost across the restart


def test_runner_with_graal_cdc_log_source(spark, sf_dir, tmp_path):
    """The runner's source is pluggable: the same pipeline code runs
    from the custom graal_cdc_log connector (line-level offsets)
    instead of the parquet file replay — and resumes from its
    checkpoint when the log grows while the query is down."""
    from graal_cdc_spark.cdc.envelope import build_cdc_events
    from graal_cdc_spark.pipelines import PipelineRegistry
    from graal_cdc_spark.pipelines.runner import PipelineRunner
    from graal_cdc_spark.sources import cdc_log_ds as DS

    pdir = tmp_path / "scripts"
    pdir.mkdir()
    (pdir / "logpipe.py").write_text(FANOUT_PIPE % {"name": "logpipe"})
    reg = PipelineRegistry()
    reg.refresh(pdir)

    events = build_cdc_events(spark, sf_dir).orderBy("seq").limit(200)
    rows = [(r.seq, r.key, r.value) for r in events.collect()]
    log = str(tmp_path / "log")
    DS.append_segment(log, rows[:150])

    delivered: list[int] = []

    def sink(batch_df, batch_id):
        delivered.extend(r.seq for r in batch_df.collect())

    runner = PipelineRunner(
        spark,
        replay_dir=log,
        checkpoint_root=str(tmp_path / "ckpt"),
        source_format="graal_cdc_log",
    )
    run = runner.start(reg.pipelines()["logpipe"], sink)
    run.query.awaitTermination()

    from graal_cdc_spark.cdc.envelope import parse_envelope

    want = sorted(
        r.seq
        for r in parse_envelope(
            spark.createDataFrame(rows[:150], "seq long, key string, value string")
        ).collect()
    )
    assert sorted(delivered) == want

    # log grows while down; restart resumes at the line-level cursor
    DS.append_segment(log, rows[150:], seal=True)
    runner._running.clear()
    run2 = runner.start(reg.pipelines()["logpipe"], sink)
    run2.query.awaitTermination()
    want_all = sorted(
        r.seq
        for r in parse_envelope(
            spark.createDataFrame(rows, "seq long, key string, value string")
        ).collect()
    )
    assert sorted(delivered) == want_all  # no duplicates, nothing lost


def test_app_config_source_format(spark, sf_dir, tmp_path):
    """run_app boots the whole control plane from config with the
    graal_cdc_log connector as the replay source."""
    from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
    from graal_cdc_spark.pipelines.app import AppConfig, run_app
    from graal_cdc_spark.sources import cdc_log_ds as DS

    with pytest.raises(ValueError, match="unknown source_format"):
        AppConfig.from_dict({
            "replay_dir": "x", "checkpoint_root": "y",
            "pipelines_dir": "z", "sink": {"type": "noop"},
            "source_format": "kafka",
        })

    pdir = tmp_path / "scripts"
    pdir.mkdir()
    (pdir / "p.py").write_text(FANOUT_PIPE % {"name": "applog"})
    rows = [
        (r.seq, r.key, r.value)
        for r in build_cdc_events(spark, sf_dir).orderBy("seq").limit(50).collect()
    ]
    log = str(tmp_path / "log")
    DS.append_segment(log, rows)

    app = run_app(spark, {
        "replay_dir": log,
        "checkpoint_root": str(tmp_path / "ck"),
        "pipelines_dir": str(pdir),
        "sink": {"type": "noop"},
        "source_format": "graal_cdc_log",
    })
    app.runner.await_all()
    assert app.config.source_format == "graal_cdc_log"
    assert "applog" in app.registry.pipelines()
