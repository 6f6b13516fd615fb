"""Failure-path behavior: bad inputs fail fast with clear errors, sink
transport failures propagate (so Spark's task retry + idempotent
upserts can do their job), streaming dedup suppresses redelivery."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graal_cdc_spark.sinks import EsSinkConfig, write_dataframe
from graal_cdc_spark.sources.tables import load_table
from graal_cdc_spark.streaming import append_chunk, read_file_stream, run_to_memory
from graal_cdc_spark.streaming.stateful import streaming_exact_dedup
from tests.test_streaming import EVENTS_SCHEMA


def test_unknown_table_fails_fast(spark):
    with pytest.raises(KeyError, match="unknown table"):
        load_table(spark, "/root/testdata/sf0.001", "nope")


def test_missing_sf_dir_is_clean_analysis_error(spark):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, "/root/testdata/sf-nope", "orders").count()


def test_sink_transport_failure_fails_the_job(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(5)
    cfg = EsSinkConfig(url="http://x", username="u", password="p", id_key="doc_id")

    # nested function ⇒ cloudpickled by value (importable-module not
    # required on executors)
    def exploding_transport(request) -> int:
        raise ConnectionError("es unreachable")

    with pytest.raises(Exception, match="es unreachable"):
        write_dataframe(docs, cfg, transport_factory=lambda: exploding_transport)


def test_streaming_dedup_suppresses_redelivery(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def chunk(rows):
        return spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(minutes=m), 1, "a", 1.0, "{}")
                for eid, m in rows
            ],
            EVENTS_SCHEMA,
        ).coalesce(1)

    replay = str(tmp_path / "replay")
    append_chunk(chunk([(1, 0), (2, 1)]), replay)
    # redelivery of event 2 within the watermark horizon + a new event
    append_chunk(chunk([(2, 1), (3, 2)]), replay)

    stream = read_file_stream(spark, replay, EVENTS_SCHEMA, max_files_per_trigger=1)
    got = run_to_memory(
        streaming_exact_dedup(stream, ["event_id"], watermark="1 hour").select(
            "event_id"
        ),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3]


def test_l62_null_labels_match_oracle(spark, sf_dir, tmp_path):
    """NULL ``embeddings.label`` rows: the oracle's ``JOIN … USING
    (label)`` drops them, so the engine must too (no NULL-label group)."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from graal_cdc_spark.queries import all_specs
    from graal_cdc_spark.testing import compare_query

    shutil.copytree(sf_dir, tmp_path, dirs_exist_ok=True)
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    null_some = pc.equal(pc.bit_wise_and(emb["vec_id"], 7), 0)
    label = pc.if_else(null_some, pa.scalar(None, pa.int32()), emb["label"])
    emb = emb.set_column(emb.schema.get_field_index("label"), "label", label)
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    assert emb["label"].null_count > 0

    compare_query(spark, all_specs()["l62_embedding_norm_outliers"], str(tmp_path))
