"""Tests of the benchmark's own parts (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest

import cdcgen
from cdcgen import CdcGenerator, ExpectedState, envelope
from es_server import make_server
from run import END_TO_END
from spans import LAYER_UNITS, EventLog, Span

from graal_cdc_spark.sinks.elasticsearch import EsSinkConfig, send_records, urllib_transport
from graal_cdc_spark.sources.cdc_log_ds import append_segment

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _log_bytes(tmp_path, name: str, seed: int) -> bytes:
    gen = CdcGenerator(seed)
    path = append_segment(str(tmp_path / name), gen.round(500))
    for _ in range(3):
        append_segment(str(tmp_path / name), gen.round(500))
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_same_log_bytes(tmp_path):
    a = _log_bytes(tmp_path, "a", 7)
    assert a == _log_bytes(tmp_path, "b", 7)
    assert a != _log_bytes(tmp_path, "c", 8)


def test_generator_exercises_every_filter_and_evolves():
    gen = CdcGenerator(3)
    events = [e for _ in range(cdcgen.EVOLVE_ROUND + 1) for e in gen.round(2000)]
    values = [v for _, _, v in events]
    assert sum(v is None for v in values) > 0
    assert sum(v is not None and '"ddl"' in v for v in values) > 0
    assert sum(v is not None and cdcgen.parse_valid(v) is None and '"payload"' not in v
               for v in values) > 0
    assert sum(v is not None and '"op":"m"' in v for v in values) > 0
    ops = [cdcgen.parse_valid(v)[0] for v in values if cdcgen.parse_valid(v)]
    assert {"c", "u", "d"} <= set(ops)
    assert any(v is not None and '"email"' in v for v in values)


def test_oracle_hand_worked_case():
    after1, after2 = {"id": "1", "name": "a"}, {"id": "1", "name": "b"}
    events = [
        (1, "users:1", envelope("c", "users", after1)),
        (2, "users:2", envelope("c", "users", {"id": "2", "name": "x"})),
        (3, "users:1", None),                                        # F3 tombstone
        (4, "users:1", '{"noPayload":true}'),                        # F4 malformed
        (5, "users:1", "{not json"),                                 # F4 unparseable
        (6, "users:1", json.dumps({"payload": {"ddl": "ALTER", "source": {}}})),  # F5
        (7, "users:1", envelope("m", "users", {})),                  # F6 non-row op
        (8, "users:1", envelope("u", "users", after2)),
        (9, "users:2", envelope("d", "users", None)),
        (10, "orders:3", envelope("c", "orders", {"id": "3"})),
        (11, "orders:3", envelope("d", "orders", None)),
        (12, "orders:3", envelope("c", "orders", {"id": "3", "q": "1"})),
    ]
    st = ExpectedState()
    assert st.apply(events) == 7
    assert st.es_docs() == {"users:1": (8, after2), "orders:3": (12, {"id": "3", "q": "1"})}
    assert st.silver_seqs == {1, 2, 8, 10, 12}
    assert (st.valid, st.seen) == (7, 12)


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(END_TO_END)
    assert layer == list(LAYER_UNITS)
    for name in e2e + layer:
        assert NAME.fullmatch(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        unit = END_TO_END.get(m["name"]) or LAYER_UNITS[m["name"]]
        assert m["unit"] == unit


@pytest.fixture()
def es():
    srv = make_server()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()
    t.join(timeout=10)
    assert not t.is_alive()


def test_es_lookalike_speaks_the_sink_protocol(es):
    cfg = EsSinkConfig(url=f"http://127.0.0.1:{es.server_address[1]}/ix",
                       username="u", password="p", id_key="key")
    docs = [{"key": f"k{i}", "v": i} for i in range(3)]
    send_records(cfg, docs, "index", urllib_transport)               # one _bulk
    send_records(cfg, docs[:1], "index", urllib_transport)           # PUT, a re-send
    send_records(cfg, [{"key": "k1"}, {"key": "zz"}], "delete", urllib_transport)
    state = es.RequestHandlerClass.state
    assert state.stores["ix"] == {"k0": {"key": "k0", "v": 0}, "k2": {"key": "k2", "v": 2}}
    assert (state.requests, state.docs, state.retries) == (3, 6, 1)


def test_event_log_attributes_jobs_to_spans(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "bench-span-4"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 1500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}},
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": 250}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    g = EventLog.parse(str(tmp_path)).for_span(Span(4, "x", "", None, 0.0))
    assert (g.jobs, g.tasks, g.task_run_s, g.shuffle_write_bytes, g.python_s) == (1, 1, 1.5, 10, 0.25)
