"""Pipeline runner — engine lifecycle control plane.

The reference side (SURVEY.md §3.1-2): ``DebeziumEngineManager.runner``
starts one Debezium engine per source identity with ``computeIfAbsent``
dedup (C1, ``DebeziumEngineManager.java:139-143``), each script gets an
independent durable cursor and ordered replay (Q3), and shutdown closes
every context (C5, ``ScriptExecutor.java:201-216``).

Spark side: one checkpointed streaming query per registered pipeline —
the checkpoint IS the per-pipeline cursor, fan-out independence falls
out of independent queries over the same replay source, and the sink is
an idempotent ``foreachBatch`` consumer (Elasticsearch via
``write_cdc_dataframe``, or any callable for custom sinks).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

from graal_cdc_spark.cdc.envelope import parse_envelope
from graal_cdc_spark.pipelines.registry import Pipeline
from graal_cdc_spark.sinks import EsSinkConfig, write_cdc_dataframe
from graal_cdc_spark.streaming.replay import read_file_stream

BatchSink = Callable[[DataFrame, int], None]


def es_batch_sink(
    cfg: EsSinkConfig, transport_factory=None
) -> BatchSink:
    """foreachBatch adapter for the ES sink (op='d' rows → deletes)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        kwargs = {}
        if transport_factory is not None:
            kwargs["transport_factory"] = transport_factory
        write_cdc_dataframe(batch_df, cfg, **kwargs)

    return sink


@dataclass
class RunningPipeline:
    pipeline: Pipeline
    query: object  # StreamingQuery
    checkpoint_dir: str


@dataclass
class PipelineRunner:
    """Start/stop checkpointed streaming queries for pipelines.

    ``start`` is identity-deduped on the pipeline name while its query
    is active (C1 ``computeIfAbsent`` semantics); restarting after
    stop/completion resumes from the same checkpoint (the named-tailer
    cursor, ``DebeziumEngineRecordHandler.java:129``).
    """

    spark: SparkSession
    replay_dir: str
    checkpoint_root: str
    envelope_schema: str = "seq BIGINT, key STRING, value STRING"
    # "parquet-replay" (directory file stream, the default) or
    # "graal_cdc_log" (the custom segment-log connector — same frame,
    # line-level offsets instead of file-level)
    source_format: str = "parquet-replay"
    _running: dict[str, RunningPipeline] = field(default_factory=dict)

    def start(
        self,
        pipeline: Pipeline,
        sink: BatchSink,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
        max_lines_per_trigger: int | None = None,
    ) -> RunningPipeline:
        active = self._running.get(pipeline.name)
        if active is not None and active.query.isActive:
            return active  # C1: one engine per identity

        if self.source_format == "graal_cdc_log":
            from graal_cdc_spark.sources import cdc_log_ds

            cdc_log_ds.register(self.spark)
            reader = self.spark.readStream.format("graal_cdc_log")
            if max_files_per_trigger is not None:
                # the log connector's admission unit is the LINE; a
                # caller's per-trigger cap must not be silently dropped
                raise ValueError(
                    "graal_cdc_log throttles by line, not file: pass "
                    "max_lines_per_trigger instead of "
                    "max_files_per_trigger"
                )
            if max_lines_per_trigger is not None:
                reader = reader.option(
                    "maxLinesPerTrigger", str(max_lines_per_trigger)
                )
            raw = reader.load(self.replay_dir)
        else:
            from pyspark.sql.types import _parse_datatype_string

            schema = _parse_datatype_string(self.envelope_schema)
            raw = read_file_stream(
                self.spark, self.replay_dir, schema, max_files_per_trigger
            )
        # the reference's hot path per pipeline: filter chain →
        # projection → per-pipeline routing on the stream; the USER
        # transform runs inside foreachBatch, where the full batch
        # DataFrame surface (windows, joins, aggregates) is available —
        # the set-oriented analog of the per-delivery script call (Q3).
        routed = pipeline.route(parse_envelope(raw))

        def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
            sink(pipeline.transform(batch_df), batch_id)

        checkpoint = f"{self.checkpoint_root}/{pipeline.name}"
        writer = (
            routed.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", checkpoint)
            .queryName(f"graal-cdc-{pipeline.name}")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        run = RunningPipeline(pipeline, writer.start(), checkpoint)
        self._running[pipeline.name] = run
        return run

    def await_all(self) -> None:
        """Await every query, then raise one error naming each pipeline
        whose query failed — a failure never leaves the queries after
        it un-awaited or their failures unreported."""
        failed = {}
        for name, run in list(self._running.items()):
            try:
                run.query.awaitTermination()
            except StreamingQueryException as exc:
                failed[name] = exc
        if failed:
            raise RuntimeError(
                "pipelines failed: "
                + "; ".join(f"{n}: {e}" for n, e in failed.items())
            ) from next(iter(failed.values()))

    def stop(self, name: str) -> bool:
        """Stop one pipeline's query (resumable — the checkpoint
        remains). Returns whether it was running."""
        run = self._running.pop(name, None)
        if run is None:
            return False
        if run.query.isActive:
            run.query.stop()
        return True

    def apply_refresh(
        self,
        report: dict,
        registry,
        sink_factory: Callable[[Pipeline], BatchSink],
        **start_kwargs,
    ) -> None:
        """Reconcile running queries with a ``PipelineRegistry.refresh``
        report — the end-to-end C3 hot-reload semantics:

        - removed  → stop the query (checkpoint kept, U3 unregister);
        - reloaded → stop + restart with the NEW transform from the
          SAME checkpoint, so the new version picks up exactly where
          the old one stopped (the reference's version-stamped reload,
          ``ScriptExecutor.java:147-158``);
        - added    → start fresh.

        Failed loads are reported by ``refresh`` and deliberately not
        touched here: a broken script must not take down its running
        predecessor (fan-out independence, SURVEY.md §2.3.4).
        """
        pipelines = registry.pipelines()
        for name in report.get("removed", ()):
            self.stop(name)
        for name in list(report.get("reloaded", ())) + list(report.get("added", ())):
            pipe = pipelines.get(name)
            if pipe is None:
                continue
            self.stop(name)
            self.start(pipe, sink_factory(pipe), **start_kwargs)

    def stop_all(self) -> None:
        """C5 graceful shutdown — stop every active query; checkpoints
        make the stop resumable."""
        for run in self._running.values():
            if run.query.isActive:
                run.query.stop()
        self._running.clear()
