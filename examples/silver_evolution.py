"""End-to-end CDC silver layer with schema evolution.

The recipe a reference-engine user follows to get what Debezium's
schema-history topic gave them (``DebeziumEngineManager.java:91-120``
wires ``schema.history.internal.*``) — plus the part the reference
never had: a queryable silver table that evolves with the source.

One streaming pipeline (``pipelines/runner.py``) drives
``streaming/silver.py`` per micro-batch:

1. fold the batch's row-image field-sets into a persisted
   schema-version registry (known shapes keep their version, new
   field-sets get the next number);
2. route each row image to its version by its field-set;
3. write each (table, version) slice with that version's columns —
   a mergeSchema read then serves the union, NULL where a row
   predates a column.

Run: python examples/silver_evolution.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graal_cdc_spark.session import get_spark
from graal_cdc_spark.streaming.replay import append_chunk
from graal_cdc_spark.streaming.silver import SilverSchemaEvolution


def _envelope(seq: int, key: str, op: str, tbl: str, after: str) -> tuple:
    value = (
        f'{{"payload":{{"op":"{op}","after":{after},'
        f'"source":{{"db":"appdb","table":"{tbl}"}}}}}}'
    )
    return (seq, key, value)


def run(spark, root: str) -> SilverSchemaEvolution:
    """Replay an evolving users log in two chunks through the runner
    and return the lake handle. The second chunk ADDS an ``email``
    column mid-stream — the evolution moment."""
    from pathlib import Path

    from graal_cdc_spark.pipelines.registry import Pipeline
    from graal_cdc_spark.pipelines.runner import PipelineRunner

    chunks = [
        [
            _envelope(1, "u1", "c", "users", '{"id":"1","name":"ada"}'),
            _envelope(2, "u2", "c", "users", '{"id":"2","name":"bob"}'),
        ],
        [
            _envelope(
                3, "u1", "u", "users",
                '{"id":"1","name":"ada","email":"ada@example.com"}',
            ),
            _envelope(4, "u3", "c", "users", '{"id":"3","name":"cy"}'),
        ],
    ]
    replay = f"{root}/replay"
    for rows in chunks:
        append_chunk(
            spark.createDataFrame(
                rows, "seq long, key string, value string"
            ).coalesce(1),
            replay,
        )

    lake = SilverSchemaEvolution(spark, f"{root}/lake")
    runner = PipelineRunner(
        spark, replay_dir=replay, checkpoint_root=f"{root}/ckpt"
    )
    pipe = Pipeline(
        name="silver-example", path=Path(root), version=0.0,
        db=None, tables=(), transform=lambda df: df,
    )
    run_ = runner.start(pipe, lake.sink(), max_files_per_trigger=1)
    run_.query.awaitTermination()
    return lake


def main() -> None:
    spark = get_spark(app_name="silver-evolution-example")
    root = tempfile.mkdtemp(prefix="silver-example-")
    lake = run(spark, root)
    print("-- schema-version registry --")
    lake.registry().orderBy("db", "tbl", "version").show(truncate=False)
    print("-- evolved silver table (NULL email before version 2) --")
    lake.read_silver("appdb", "users").orderBy("seq").show(truncate=False)


if __name__ == "__main__":
    main()
