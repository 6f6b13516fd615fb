"""Streaming incremental near-dup dedup (MinHash-LSH state table).

The batch near-dup path (operators/dedup.py: signatures → LSH buckets
→ candidate pairs → components → canonical pick) answers "which of
these N docs are dups of each other". A TRAINING-DATA INGEST pipeline
asks the incremental question instead: "is this NEW doc a near-dup of
ANYTHING already admitted?" — and must answer it per micro-batch
without re-scanning the corpus. This module keeps the admitted docs'
LSH bucket memberships as a keyed state table and admits a doc only
if none of its buckets collide with a previously admitted doc's.

Admission policy — FIRST ARRIVAL WINS (ties within a batch broken by
smallest doc id): a doc is admitted iff none of its buckets collide
with a previously admitted doc's. This is the honest semantics of
incremental ingest — what's already in the training set stays; the
newcomer is the duplicate. Consequences, both golden-tested:

- For any chunking, the result satisfies the independent-set
  invariants (no two admitted docs collide; every rejected doc
  collides with some admitted doc).
- When chunk boundaries respect the id order (prefix chunking — the
  natural case where ids are assigned at ingest time), the admitted
  set is EXACTLY the batch twin's greedy-by-id set, regardless of
  how many chunks the stream is split into. Under arbitrary
  order-violating chunkings the admitted set is a valid greedy MIS
  for the arrival order, which may differ from the id-order one.

Within a batch the greedy order is resolved iteratively (like the CC
loop): round = admit pending docs whose pending colliders are all
larger AND that don't collide with state; drop pending docs that
collide with an admitted doc; repeat. Rounds ≈ longest collision
chain inside one batch — short for near-dup graphs.

Replay safety: state rows carry the owning doc id, and the collision
check ignores a doc's OWN rows — so re-processing a batch after a
crash-between-append-and-checkpoint re-admits exactly the same docs
(idempotent merge, the same contract as CompactionStateSink), and the
append step anti-joins against doc ids already present in state so a
replay never grows the state table (verified by the replay golden).

Scale notes: the state table is (band, bucket, doc_id) — ``bands``
rows per admitted doc, equality-joined per batch on (band, bucket);
bucket it by (band, bucket) on a real cluster for a shuffle-free
probe side. The batch side is tiny (one micro-batch); state is the
big side and never rewritten, only appended. All state-directory I/O
goes through the Hadoop FileSystem API resolved from the path's
scheme, so the state dir may live on HDFS/S3/local alike (on object
stores without atomic rename the ``.tmp``→final rename degrades to
copy+delete but stays correct: un-renamed ``.tmp`` dirs are invisible
to the reader).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graal_cdc_spark.hadoop_fs import HadoopFs
from graal_cdc_spark.operators.dedup import lsh_buckets

_STATE_SCHEMA = "band INT, bucket BIGINT, doc_id BIGINT"


class StreamingLshDedup:
    """foreachBatch incremental LSH dedup against a parquet state dir."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 5,
        num_hashes: int = 32,
        bands: int = 8,
        max_iter: int = 30,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.max_iter = max_iter
        self._fs = HadoopFs(spark, state_dir)
        self._fs.mkdirs(state_dir)

    # -- state ----------------------------------------------------------
    def _state_files(self) -> list[str]:
        return [
            f"{self.state_dir}/{n}"
            for n in self._fs.list_names(self.state_dir)
            if n.endswith(".parquet")
        ]

    def _state(self) -> DataFrame:
        files = self._state_files()
        if not files:
            return self.spark.createDataFrame([], _STATE_SCHEMA)
        return self.spark.read.schema(_STATE_SCHEMA).parquet(*files)

    def admitted_ids(self) -> DataFrame:
        return self._state().select(F.col("doc_id")).distinct()

    # -- merge ----------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: greedily admit the batch's docs against
        state + each other, append admitted docs' buckets to state."""
        buckets = lsh_buckets(
            batch_df,
            self.id_col,
            self.text_col,
            n=self.n,
            num_hashes=self.num_hashes,
            bands=self.bands,
        ).select(
            F.col(self.id_col).cast("bigint").alias("doc_id"),
            F.col("band").cast("int"),
            F.col("bucket").cast("bigint"),
        ).localCheckpoint(eager=False)

        state = self._state()
        # docs whose buckets collide with a DIFFERENT admitted doc
        state_hit = (
            buckets.join(state, ["band", "bucket"], "left")
            .filter(
                state["doc_id"].isNotNull()
                & (buckets["doc_id"] != state["doc_id"])
            )
            .select(buckets["doc_id"])
            .distinct()
        )
        pending = (
            buckets.join(state_hit, "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )

        admitted_buckets = None
        for _ in range(self.max_iter):
            ids = pending.select("doc_id").distinct()
            # intra-batch colliders: pending docs sharing a bucket
            a = pending.select("doc_id", "band", "bucket")
            b = pending.select(
                F.col("doc_id").alias("other"), "band", "bucket"
            )
            smaller_collider = (
                a.join(b, ["band", "bucket"])
                .filter(F.col("other") < F.col("doc_id"))
                .select("doc_id")
                .distinct()
            )
            # admit: no smaller pending collider (state already clear)
            admit_ids = ids.join(smaller_collider, "doc_id", "left_anti")
            new_admit = pending.join(admit_ids, "doc_id")
            admitted_buckets = (
                new_admit
                if admitted_buckets is None
                else admitted_buckets.unionByName(new_admit)
            )
            # drop admitted docs and docs colliding with a just-admitted doc
            hit = (
                pending.join(
                    new_admit.select(
                        F.col("doc_id").alias("adm"), "band", "bucket"
                    ),
                    ["band", "bucket"],
                )
                .filter(F.col("adm") != F.col("doc_id"))
                .select("doc_id")
                .distinct()
            )
            pending = (
                pending.join(admit_ids, "doc_id", "left_anti")
                .join(hit, "doc_id", "left_anti")
                .localCheckpoint(eager=False)
            )
            if pending.limit(1).count() == 0:
                break
        else:
            raise RuntimeError(
                f"streaming LSH dedup did not drain the batch in "
                f"{self.max_iter} greedy rounds (pathological collision chain)"
            )

        # Replay idempotence: a crash between append and checkpoint
        # replays the batch and re-admits the same docs — skip rows for
        # doc ids already present so state never grows on replay.
        existing = state.select("doc_id").distinct()
        to_append = admitted_buckets.join(existing, "doc_id", "left_anti")
        if to_append.limit(1).count() == 0:
            return
        out = f"{self.state_dir}/admit-{uuid.uuid4().hex}.parquet"
        # one file per batch append; executors write, driver only names
        to_append.coalesce(1).write.mode("overwrite").parquet(out + ".tmp")
        self._fs.rename(out + ".tmp", out)

    # -- driver ---------------------------------------------------------
    def run_stream(self, stream_df: DataFrame, checkpoint_dir: str):
        """Attach to a streaming DataFrame of documents; drains with
        AvailableNow (deterministic test/batch mode)."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def greedy_lsh_dedup_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Batch twin: the admitted set of the greedy-by-id policy over the
    whole corpus at once (what the streaming path converges to for any
    chunking). Runs the same iterative greedy MIS over LSH collisions.
    """
    import tempfile

    sink = StreamingLshDedup(
        docs.sparkSession,
        tempfile.mkdtemp(prefix="lshdedup-"),
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
    )
    sink.process_batch(docs)
    return sink.admitted_ids()
