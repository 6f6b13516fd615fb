"""Product quantization (PQ) — the memory-bounded leg of the ANN
family (brute-force `similarity.cosine_topk_exact` → RP-LSH
`rp_bucketed_topk` → trained IVF `ivf_topk` → PQ here).

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each vector into ``m`` subspaces, learn a
small codebook per subspace (k-means), store each vector as ``m``
code bytes, and answer queries with Asymmetric Distance Computation
(ADC): a per-query distance TABLE of ``m × k`` scalars, after which
every corpus distance is ``m`` table lookups — no float math per
candidate.

Why this matters at 100 TB: a 64-dim float corpus is 256 B/vector;
PQ(m=8, k=16) stores 8 code values — the codes table for a billion
vectors fits in cluster memory, and the scan does integer adds only.

Spark-first shape, all integer-exact (the repo's determinism
protocol):

- training reuses the quantized integer k-means
  (``clustering.train_centroids``) once per subspace on a SLICED view
  of the embedding — m tiny trainings, memoized like the main
  centroid table;
- encoding is ONE map stage: the codebook rides along as a nested
  array literal, each subspace argmin is the same
  distance-struct-array trick the k-means assignment uses;
- ADC search broadcasts the (bounded) query set as literals — the
  per-query tables are integers computed driver-side from the
  codebooks (m×k values per query, trivially small) — and the corpus
  scan evaluates ``sum_m table[q][s][code_s]`` as a JVM higher-order
  expression. No shuffle until the final per-query top-k reduction.

Reference: SURVEY.md §2 (ANN family); the IVF cell index
(`operators/ann_index.py`) composes with PQ in the standard IVF-PQ
layout (cells prune, codes rank) — the composition here keeps the two
orthogonal and tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graal_cdc_spark.operators.clustering import (
    int_array_lit,
    nested_int_array_lit,
    quantize_points,
    train_centroids,
)


def _dims(emb: DataFrame, vec_col: str) -> int:
    row = emb.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not row:
        raise ValueError("pq: empty embedding input")
    return row[0]["d"]


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[int]]]:
    """``m`` integer codebooks of ``k`` codewords each, trained by the
    quantized k-means on each dimension slice. Deterministic (seeded
    by lowest ids, exact integer Lloyd updates) — two sessions train
    byte-identical codebooks. Returns ``books[s][j] = codeword`` with
    ``dims/m`` ints per codeword."""
    dims = _dims(emb, vec_col)
    if dims % m != 0:
        raise ValueError(f"pq: dims={dims} not divisible by m={m}")
    sub = dims // m
    books = []
    for s in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(vec_col, s * sub + 1, sub).alias(vec_col),
        )
        books.append(
            train_centroids(
                sliced, k=k, iters=iters, scale=scale,
                id_col=id_col, vec_col=vec_col,
            )
        )
    return books


def _subspace_best(books_s: list[list[int]], xs):
    """``struct<d, j>`` of the argmin codeword (min integer L2, ties
    to lowest code) over one subspace's codebook, as a JVM
    expression: nested-array codeword literal + one lambda (the
    clustering.dist_struct_array trick, applied to a slice)."""
    lit = nested_int_array_lit(books_s)
    structs = F.zip_with(
        lit,
        int_array_lit(list(range(len(books_s)))),
        lambda c, j: F.struct(
            F.aggregate(
                F.zip_with(xs, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("d"),
            j.cast("int").alias("j"),
        ),
    )
    return F.array_min(structs)


def pq_encode(
    emb: DataFrame,
    books: list[list[list[int]]],
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_dists: bool = False,
) -> DataFrame:
    """``(pid, codes: array<int>)`` — one map stage, no shuffle: the
    codebooks ride as literals; ties break to the lowest code (the
    struct-lexicographic argmin, same rule as the k-means assign).
    With ``return_dists`` the per-subspace quantization errors come
    along as ``d2s: array<bigint>`` (the reconstruction-error census
    input) — same single map stage."""
    m = len(books)
    sub = len(books[0][0])
    pts = quantize_points(emb, id_col, vec_col, scale)
    # Hoist each subspace slice into a REAL column before the argmin
    # references it: an expression captured inside a higher-order
    # lambda is re-evaluated PER OUTPUT ELEMENT (the word_gram_array
    # rule), so an inline slice was re-sliced once per CODEWORD (k×
    # per subspace) instead of once per row (r13 opt round).
    sliced = pts.select(
        "pid",
        *[
            F.slice(F.col("x"), s * sub + 1, sub).alias(f"__xs{s}")
            for s in range(m)
        ],
    )
    bests = [
        _subspace_best(books[s], F.col(f"__xs{s}")) for s in range(m)
    ]
    cols = [F.array(*[b["j"] for b in bests]).alias("codes")]
    if return_dists:
        cols.append(F.array(*[b["d"] for b in bests]).alias("d2s"))
    return sliced.select("pid", *cols)


def _adc_tables(
    books: list[list[list[int]]], qvec: list[int]
) -> list[list[int]]:
    """Per-subspace integer distance table for one quantized query:
    ``table[s][j] = ||q_s - books[s][j]||²`` — m×k scalars, driver
    side (the codebooks are driver literals already)."""
    m = len(books)
    sub = len(books[0][0])
    return [
        [
            sum(
                (qvec[s * sub + d] - c[d]) ** 2 for d in range(sub)
            )
            for c in books[s]
        ]
        for s in range(m)
    ]


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    k_codewords: int = 16,
    topk: int = 5,
    iters: int = 2,
    scale: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    books: list[list[list[int]]] | None = None,
) -> DataFrame:
    """Approximate L2 top-k by ADC: ``(qid, neighbor_id, adc_dist,
    rank)``. The query set is bounded and collected to literals (the
    l04 broadcast-queries contract — a query BATCH, not a table);
    the corpus is touched by exactly one map stage over its codes +
    one per-query top-k reduction. Ties break on neighbor id, so the
    result is deterministic end to end."""
    if books is None:
        books = train_pq_codebooks(
            corpus, m=m, k=k_codewords, iters=iters, scale=scale,
            id_col=id_col, vec_col=vec_col,
        )
    codes = pq_encode(corpus, books, scale, id_col, vec_col)

    qrows = quantize_points(queries, id_col, vec_col, scale).collect()
    if not qrows:
        raise ValueError("pq: empty query set")
    per_q = []
    for r in qrows:
        table = _adc_tables(books, list(r["x"]))
        tlit = nested_int_array_lit(table)
        # dist = sum_s table[s][codes[s]] — JVM lookup-adds only
        dist = F.aggregate(
            F.zip_with(
                tlit,
                F.col("codes"),
                lambda trow, c: F.element_at(trow, c + 1),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        per_q.append(
            F.struct(
                F.lit(r["pid"]).alias("qid"), dist.alias("adc_dist")
            )
        )
    scored = codes.select(
        F.col("pid").alias("neighbor_id"),
        F.explode(F.array(*per_q)).alias("q"),
    ).select("q.qid", "neighbor_id", "q.adc_dist")
    w = Window.partitionBy("qid").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("qid", "neighbor_id", "adc_dist", "rank")
    )
