"""Persisted IVF ANN index: build once, probe many query batches.

The in-session IVF search (``operators/similarity.ivf_topk``) retrains
and reassigns cells on every call — right for a one-shot query, wrong
for the production shape where a corpus is indexed once and then
serves many query batches. This module persists the index:

    <index_dir>/
      _MANIFEST.json             n_cells / scale / version / row count
      centroids.parquet          (cell INT, centroid ARRAY<BIGINT>)
      vectors.parquet/cell=<c>/  corpus vectors PARTITIONED BY cell

Partitioning the inverted lists by ``cell`` is the scale story: a
probe of ``n_probe`` of ``n_cells`` cells prunes the vector scan AT
THE FILE LEVEL (Spark partition pruning — verified by plan test), so
query cost is ~``n_probe/n_cells`` of the corpus regardless of corpus
size. At 100 TB the same layout holds with more cells (the cell count
scales with corpus size; the centroid table stays driver-broadcastable
because it is k × dim integers).

Publish is atomic: build into ``<index_dir>.tmp-<token>`` and rename
into place via ``hadoop_fs.HadoopFs`` (HDFS/S3A/local), so readers
never observe a half-built index and a crashed build leaves the
previous index live.

Determinism: training is the integer-exact Lloyd of
``operators/clustering.train_centroids`` with fixed tiebreaks, so two
builds over the same corpus produce byte-identical indexes.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graal_cdc_spark.hadoop_fs import HadoopFs

MANIFEST = "_MANIFEST.json"
VERSION = 1


def build_ivf_index(
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    train_iters: int = 2,
    scale: int = 10_000,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_iters: int = 2,
) -> dict:
    """Train, assign, and atomically publish an IVF index.

    Returns the manifest dict. Rebuilding over an existing index
    replaces it atomically (old index stays readable until the final
    rename).

    With ``pq_m`` set, the index is the standard IVF-PQ layout (Jégou
    et al. 2011): PQ codebooks are trained over the corpus (``pq_m``
    subspaces × ``pq_k`` codewords, ``operators/pq.py``), persisted at
    ``codebooks.parquet``, and every vector row carries its ``codes``
    column — encoded in the SAME single map stage as the cell
    assignment, so the build reads the corpus once. Probing can then
    rank candidates by integer ADC lookups over the persisted codes
    (``query_ivf_pq_index``) without touching the float vectors — the
    memory-bounded billion-vector leg, now with a durable artifact.
    """
    from graal_cdc_spark.operators.clustering import (
        _assign_expr,
        quantize_points,
        train_centroids,
    )

    spark = corpus.sparkSession
    fs = HadoopFs(spark, index_dir)
    token = spark.sparkContext.applicationId.replace(":", "-")
    tmp = f"{index_dir}.tmp-{token}"
    if fs.exists(tmp):
        fs.delete(tmp)

    cents = train_centroids(
        corpus, k=n_cells, iters=train_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    cents_df = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell INT, centroid ARRAY<BIGINT>",
    )
    cents_df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp}/centroids.parquet"
    )

    books: list[list[list[int]]] | None = None
    if pq_m is not None:
        from graal_cdc_spark.operators.pq import (
            _subspace_best,
            train_pq_codebooks,
        )

        books = train_pq_codebooks(
            corpus, m=pq_m, k=pq_k, iters=pq_iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )
        books_df = spark.createDataFrame(
            [
                (s, j, list(c))
                for s, book in enumerate(books)
                for j, c in enumerate(book)
            ],
            "subspace INT, code INT, codeword ARRAY<BIGINT>",
        )
        books_df.coalesce(1).write.mode("overwrite").parquet(
            f"{tmp}/codebooks.parquet"
        )

    cid, _ = _assign_expr(cents)
    row_cols = [F.col("pid"), cid.alias("cell")]
    if books is not None:
        sub = len(books[0][0])
        row_cols.append(
            F.array(
                *[
                    _subspace_best(
                        books[s], F.slice(F.col("x"), s * sub + 1, sub)
                    )["j"]
                    for s in range(len(books))
                ]
            ).alias("codes")
        )
    assigned = (
        quantize_points(corpus, id_col, vec_col, scale)
        .select(*row_cols)
        .join(
            corpus.select(
                F.col(id_col).alias("pid"),
                F.col(vec_col).cast("array<double>").alias("vec"),
            ),
            "pid",
        )
    )
    n_rows = assigned.count()
    # one file per cell: the inverted list IS the partition
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{tmp}/vectors.parquet")

    manifest = {
        "version": VERSION,
        "n_cells": n_cells,
        "scale": scale,
        "train_iters": train_iters,
        "id_col": id_col,
        "n_rows": n_rows,
    }
    if pq_m is not None:
        manifest["pq"] = {"m": pq_m, "k": pq_k, "iters": pq_iters}
    fs.write_text(f"{tmp}/{MANIFEST}", json.dumps(manifest))

    if fs.exists(index_dir):
        old = f"{index_dir}.old-{token}"
        if fs.exists(old):
            fs.delete(old)
        fs.rename(index_dir, old)
        # crash window between these two renames: the live dir is
        # briefly absent, but the .old dir is complete — read_manifest
        # rolls it back (see _recover), so readers never lose the index
        fs.rename(tmp, index_dir)
        fs.delete(old)
    else:
        fs.rename(tmp, index_dir)
    return manifest


def _recover(spark: SparkSession, index_dir: str) -> bool:
    """Roll back a crashed publish: if the live dir is missing but a
    complete ``.old-*`` sibling exists (crash between the two publish
    renames), restore it. Returns True when an index is live."""
    fs = HadoopFs(spark, index_dir)
    if fs.exists(index_dir):
        return True
    import posixpath

    parent = posixpath.dirname(index_dir.rstrip("/")) or "."
    base = posixpath.basename(index_dir.rstrip("/"))
    try:
        names = fs.list_names(parent)
    except Exception:
        return False
    olds = [f"{parent}/{n}" for n in names if n.startswith(f"{base}.old-")]
    for cand in sorted(olds, reverse=True):
        if fs.exists(f"{cand}/{MANIFEST}"):  # complete index only
            fs.rename(cand, index_dir)
            return True
    return False


def read_manifest(spark: SparkSession, index_dir: str) -> dict:
    fs = HadoopFs(spark, index_dir)
    if not fs.exists(index_dir) and not _recover(spark, index_dir):
        raise FileNotFoundError(f"no index at {index_dir}")
    m = json.loads(fs.read_text(f"{index_dir}/{MANIFEST}"))
    if m.get("version") != VERSION:
        raise ValueError(f"unsupported index version: {m.get('version')}")
    return m


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted index: each query scans only its ``n_probe``
    nearest cells' partitions (file-level pruning via the ``cell IN
    (...)`` partition filter), then cosine re-ranks.

    Output: (qid, neighbor_id, sim DOUBLE rounded 4, rank) — the same
    contract as ``similarity.ivf_topk``.
    """
    from graal_cdc_spark.operators.clustering import (
        dist_struct_array,
        quantize_points,
    )
    from graal_cdc_spark.operators.similarity import _as_double, cosine

    m = read_manifest(spark, index_dir)
    cents_rows = (
        spark.read.parquet(f"{index_dir}/centroids.parquet")
        .orderBy("cell")
        .collect()
    )
    cents = [list(r["centroid"]) for r in cents_rows]

    qx = quantize_points(queries, id_col, vec_col, m["scale"])
    probed = F.slice(
        F.array_sort(dist_struct_array(cents)), 1, n_probe
    )
    probe_cells = (
        qx.select(F.col("pid").alias("qid"), F.explode(probed).alias("p"))
        .select("qid", F.col("p")["j"].alias("cell"))
        .join(
            queries.select(
                F.col(id_col).alias("qid"),
                _as_double(F.col(vec_col)).alias("qv"),
            ),
            "qid",
        )
    )

    # static partition pruning: restrict the vector scan to the union
    # of probed cells (bounded by n_queries * n_probe, typically far
    # fewer distinct values); per-query cell matching happens in the
    # equi-join below
    cells_needed = sorted(
        {r["cell"] for r in probe_cells.select("cell").distinct().collect()}
    )
    vectors = spark.read.parquet(f"{index_dir}/vectors.parquet").filter(
        F.col("cell").isin(cells_needed)
    )

    w = Window.partitionBy("qid").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(probe_cells)
        .join(
            vectors.select(
                F.col("pid").alias("neighbor_id"), "cell", F.col("vec")
            ),
            "cell",
        )
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("sim_raw", cosine(F.col("qv"), F.col("vec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", F.round("sim_raw", 4).alias("sim"), "rank")
    )


def query_ivf_pq_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe an IVF-PQ index: cells PRUNE (file-level partition
    pruning, same as ``query_ivf_index``), persisted PQ codes RANK
    (integer ADC lookups — the scan never reads the float ``vec``
    column, which is the point: at billion-vector scale the candidate
    pass touches ``m`` small ints per row, verified by the ReadSchema
    plan test).

    Output ``(qid, neighbor_id, adc_dist BIGINT, rank)`` — the
    ``pq_adc_topk`` contract. Ties break on neighbor id, so the result
    is deterministic and equals the in-session composition of cell
    pruning + ``pq_adc_topk`` over the same codebooks.
    """
    from graal_cdc_spark.operators.clustering import (
        dist_struct_array,
        nested_int_array_lit,
        quantize_points,
    )
    from graal_cdc_spark.operators.pq import _adc_tables

    m = read_manifest(spark, index_dir)
    if "pq" not in m:
        raise ValueError(
            f"index at {index_dir} was built without PQ codes "
            "(build_ivf_index(pq_m=...)); use query_ivf_index"
        )
    cents_rows = (
        spark.read.parquet(f"{index_dir}/centroids.parquet")
        .orderBy("cell")
        .collect()
    )
    cents = [list(r["centroid"]) for r in cents_rows]
    book_rows = (
        spark.read.parquet(f"{index_dir}/codebooks.parquet")
        .orderBy("subspace", "code")
        .collect()
    )
    n_sub = m["pq"]["m"]
    books: list[list[list[int]]] = [[] for _ in range(n_sub)]
    for r in book_rows:
        books[r["subspace"]].append(list(r["codeword"]))

    # probed cells per query (bounded: n_queries x n_probe) + the
    # per-query integer ADC tables, all from the collected quantized
    # query batch (the l04 bounded-query-batch contract)
    qrows = quantize_points(queries, id_col, vec_col, m["scale"]).collect()
    if not qrows:
        raise ValueError("ivf-pq probe: empty query set")
    probe_rows = []
    for r in qrows:
        x = list(r["x"])
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(x, c)), j)
            for j, c in enumerate(cents)
        )
        for _, cell in dists[:n_probe]:
            probe_rows.append((r["pid"], cell))
    probe_cells = spark.createDataFrame(probe_rows, "qid BIGINT, cell INT")
    # one MAP<qid, m x k table> literal, parsed JVM-side in one call
    tables_sql = "map(" + ",".join(
        f"{int(r['pid'])}L, "
        + "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in trow) + ")"
            for trow in _adc_tables(books, list(r["x"]))
        )
        + ")"
        for r in qrows
    ) + ")"
    table = F.element_at(F.expr(tables_sql), F.col("qid"))
    adc = F.aggregate(
        F.zip_with(
            table,
            F.col("codes"),
            lambda trow, c: F.element_at(trow, c + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )

    cells_needed = sorted({c for _, c in probe_rows})
    codes = spark.read.parquet(f"{index_dir}/vectors.parquet").filter(
        F.col("cell").isin(cells_needed)
    )
    w = Window.partitionBy("qid").orderBy("adc_dist", "neighbor_id")
    return (
        F.broadcast(probe_cells)
        .join(
            codes.select(
                F.col("pid").alias("neighbor_id"), "cell", "codes"
            ),
            "cell",
        )
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("adc_dist", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor_id", "adc_dist", "rank")
    )
