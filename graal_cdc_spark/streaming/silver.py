"""Silver layer with streaming schema evolution — the registry wired
into the runner's foreachBatch path (VERDICT r6 #6).

The batch-side pieces exist separately: ``cdc/schema_registry.py``
builds/merges the schema-version control table, and the silver
mergeSchema evolution is proven in ``tests/test_schema_registry.py``.
This module is the PRODUCTION composition a CDC pipeline actually
runs: one ``foreachBatch`` consumer that, per micro-batch,

1. parses each row image ONCE to ``map<string,string>`` and collects
   the batch's ``(db, tbl, fields) → min(seq), count`` aggregate —
   the only Spark job of the control plane, bounded by the number of
   distinct schemas;
2. folds that aggregate into the last published registry generation
   on the driver (``merge_registry`` — known shapes keep their version
   numbers, new field-sets get the next version); the versions present
   in the batch are the folded rows of the aggregate's keys;
3. writes each (db, tbl, version) slice — a filter on its literal
   (db, tbl, fields), projecting that VERSION's columns out of the
   parsed map — to the silver area, so a new field arriving mid-stream
   starts a new version directory, and a mergeSchema read serves the
   union with NULLs for pre-evolution rows;
4. publishes the new registry generation — one JSON file written to a
   temporary path and renamed into place — as the batch's commit
   marker.

Crash/replay contract (the runner replays a batch whose epoch didn't
commit): silver slices are written to per-(batch, version) directories
in overwrite mode — a replay overwrites byte-identically — and the
registry generation is renamed into place LAST, so a batch is either
fully absent or fully applied; re-delivery of a committed batch is a
no-op (the generation file is the marker). This mirrors the
per-epoch idempotence of ``sources/cdc_log_ds.py``'s staged-rename
writer.

Scale: the registry is bounded by the number of DISTINCT schemas ever
seen (tiny — the only thing collected); the per-batch driver loop is
over the versions PRESENT IN THE BATCH, not the log; row-image parsing
and silver writes are executor-parallel with no data-sized driver
state. Reference mapping: SURVEY.md §1.4 schema history — Debezium's
``schema.history.internal.*`` topic becomes this control table
(``DebeziumEngineManager.java:91-120`` wires the topic; the reference
otherwise runs schemaless so the row-image key-set is the only schema
signal in the data plane).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graal_cdc_spark.cdc.schema_registry import (
    after_map,
    field_set,
    merge_registry,
    row_images,
)
from graal_cdc_spark.hadoop_fs import HadoopFs

_REG_SCHEMA = (
    "db STRING, tbl STRING, version INT, fields STRING, "
    "first_seq BIGINT, n_events BIGINT"
)

# path-safe db/table names: no separators, no '..', no leading dot
_SAFE_NAME = re.compile(r"[A-Za-z0-9_-][A-Za-z0-9_.-]*")


class SilverSchemaEvolution:
    """foreachBatch consumer: persisted schema registry + versioned
    silver writes under ``<root>/``:

        <root>/_registry/gen-<batch id>.json   control-table generations
        <root>/silver/<db>/<tbl>/batch-<id>-v<version>/   row images

    Use ``sink()`` as the :class:`PipelineRunner` sink (the runner's
    checkpoint makes batch ids monotone across restarts, which the
    generation chain relies on), ``registry()`` / ``read_silver()``
    to consume.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self._fs = HadoopFs(spark, self.root)
        self._fs.mkdirs(self.root)
        self._reg_dir = f"{self.root}/_registry"

    # -- registry state -------------------------------------------------

    def _gens(self) -> list[int]:
        return sorted(
            int(n[len("gen-"):-len(".json")])
            for n in self._fs.list_names(self._reg_dir)
            if n.startswith("gen-") and n.endswith(".json")
        )

    def _gen_path(self, gen: int) -> str:
        return f"{self._reg_dir}/gen-{gen:012d}.json"

    def _read_gen(self, gen: int) -> list[dict]:
        return json.loads(self._fs.read_text(self._gen_path(gen)))

    def registry(self) -> DataFrame:
        """The latest published control table (empty frame before the
        first batch commits)."""
        gens = self._gens()
        rows = self._read_gen(gens[-1]) if gens else []
        return self.spark.createDataFrame(rows, _REG_SCHEMA)

    # -- per-batch work -------------------------------------------------

    def process_batch(self, parsed: DataFrame, batch_id: int) -> None:
        """Apply one micro-batch of the PARSED envelope frame
        (``parse_envelope`` output — what the runner's foreachBatch
        hands a sink)."""
        gen_path = self._gen_path(batch_id)
        if self._fs.exists(gen_path):
            return  # committed batch re-delivered: full no-op

        # cached by the aggregate's job, so each row image is parsed
        # once: the slice filters would otherwise re-run the parse
        images = (
            row_images(parsed)
            .select("seq", "key", "op", "db", "tbl", after_map().alias("__m"))
            .withColumn("fields", field_set(F.col("__m")))
            .persist()
        )
        try:
            reg = self._fold_and_write(images, batch_id)
        finally:
            images.unpersist()

        # commit marker LAST: registry generation, atomic rename
        tmp = f"{self._reg_dir}/.tmp-{batch_id:012d}.json"
        self._fs.write_text(tmp, json.dumps(reg))
        self._fs.rename(tmp, gen_path)
        # retention: the chain only ever needs the latest generation
        # (plus the one being superseded during a replay window)
        for g in self._gens()[:-2]:
            self._fs.delete(self._gen_path(g))

    def _fold_and_write(self, images: DataFrame, batch_id: int) -> list[dict]:
        """Fold the batch into the registry and write its slices;
        returns the folded registry (not yet published)."""
        # the one Spark job: bounded by the batch's distinct schemas
        fresh = [
            r.asDict()
            for r in images.groupBy("db", "tbl", "fields")
            .agg(
                F.min("seq").alias("first_seq"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .collect()
        ]
        prior = [g for g in self._gens() if g < batch_id]
        reg = merge_registry(
            self._read_gen(prior[-1]) if prior else [], fresh
        )
        version_of = {
            (r["db"], r["tbl"], r["fields"]): r["version"] for r in reg
        }

        # rows with a NULL db/table carry no routable name: they stay in
        # the registry but get no slice
        slices = sorted(
            (r["db"], r["tbl"], version_of[(r["db"], r["tbl"], r["fields"])],
             r["fields"])
            for r in fresh
            if r["db"] is not None and r["tbl"] is not None
        )
        # db/table names come from UNTRUSTED envelope payloads and become
        # path segments — refuse anything that could escape the silver
        # root, before the first write
        for db, tbl, _, _ in slices:
            for part in (db, tbl):
                if not _SAFE_NAME.fullmatch(part):
                    raise ValueError(
                        f"silver: unsafe db/table name {part!r} "
                        "(allowed: letters, digits, _ . -; no path "
                        "separators, no leading dot)"
                    )
        for db, tbl, version, fields in slices:
            # a row-image key is an arbitrary JSON string: the map lookup
            # takes it as a literal and the alias keeps it verbatim
            cols = [
                F.col("__m")[f].alias(f) for f in fields.split(",") if fields
            ]
            images.filter(
                (F.col("db") == db)
                & (F.col("tbl") == tbl)
                & (F.col("fields") == fields)
            ).select(
                "seq", "key", "op", F.lit(version).alias("version"), *cols
            ).write.mode("overwrite").parquet(
                f"{self.root}/silver/{db}/{tbl}/"
                f"batch-{batch_id:012d}-v{version}"
            )
        return reg

    def sink(self):
        """foreachBatch adapter for :class:`PipelineRunner`."""

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(batch_df, batch_id)

        return _sink

    # -- reads ----------------------------------------------------------

    def read_silver(self, db: str, tbl: str) -> DataFrame:
        """The evolved table: union of every version's columns
        (mergeSchema), NULL where a row predates a column."""
        return (
            self.spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
            .parquet(f"{self.root}/silver/{db}/{tbl}")
        )
