"""L01+ — LLM-training-data pipeline queries (SURVEY.md §2.4 L* set
plus the extension operators: dedup families, similarity search,
text analysis, multimodal plumbing).

Gated queries have exact DuckDB twins; approximate/scale-path
operators (MinHash-LSH, SimHash, RP-bucketed ANN) and Pandas-UDF
stubs are registered without an oracle → driver records the weaker
rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graal_cdc_spark.operators import dedup as D
from graal_cdc_spark.operators import multimodal as MM
from graal_cdc_spark.operators import similarity as S
from graal_cdc_spark.operators import text as TX
from graal_cdc_spark.queries import QuerySpec, register
from graal_cdc_spark.sources.tables import load_table, ordered_result


def _l(name: str, description: str, spark_fn, oracle: str | None, ref: str = "") -> None:
    register(
        QuerySpec(
            name=name,
            category="llm",
            description=description,
            spark=spark_fn,
            oracle=oracle,
            reference=ref,
        )
    )


def _par_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + with_min_parallelism — for queries whose first
    stage is compute-heavy per-row work (tokenize/shingle/hash/sort):
    a single-row-group scan would serialize that stage on one core.
    No-op when the scan is already well-blocked (real cluster data).
    """
    from graal_cdc_spark.sources.tables import with_min_parallelism

    return with_min_parallelism(spark, load_table(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# L01 — exact dedup
# ---------------------------------------------------------------------------


def _l01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        D.exact_dedup(docs.select("text"), ["text"])
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_l(
    "l01_exact_dedup",
    "exact dedup: distinct document texts",
    _l01,
    "SELECT CAST(count(*) AS BIGINT) AS cnt FROM (SELECT DISTINCT text FROM documents) t",
)

# ---------------------------------------------------------------------------
# L02 — near-dup candidates: exact 5-gram shingle Jaccard (MinHash twin)
# ---------------------------------------------------------------------------


def _l02(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gate slice doc_id % 4 == 0 (both engines): exact pairwise
    # Jaccard is O(n^2) in shingle collisions BY CONSTRUCTION — it
    # exists as the accuracy twin of the l06 MinHash-LSH scale path,
    # and a quarter-corpus slice proves the same semantics at 1/16th
    # the pair cost. The full-corpus operator is unchanged
    # (operators/dedup.py) — only this gated twin is sliced, so the
    # suite-level engine comparison measures real plans instead of
    # one deliberately-quadratic SQL artifact (VERDICT r5 #7).
    docs = _par_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    )
    return (
        ordered_result(D.shingle_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.8), "doc_a", "doc_b")
    )


_l(
    "l02_shingle_jaccard_neardup",
    "near-dup pairs: exact 5-gram char-shingle Jaccard >= 0.8 "
    "(quarter-corpus gate slice; scale path is l06 MinHash-LSH)",
    _l02,
    """
WITH sh AS (
  SELECT DISTINCT doc_id, substring(text, CAST(u AS INT), 5) AS shingle
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS u
    FROM documents WHERE length(text) >= 5 AND doc_id % 4 = 0
  ) t
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(icnt * 1.0 / (sa.n_sh + sb.n_sh - icnt), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE icnt * 1.0 / (sa.n_sh + sb.n_sh - icnt) >= 0.8
ORDER BY doc_a, doc_b
""",
)

# ---------------------------------------------------------------------------
# L03 — token counts (word frequency top-50)
# ---------------------------------------------------------------------------


def _l03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(50)
    )


_l(
    "l03_token_counts",
    "word frequency: explode(split) + count, top-50",
    _l03,
    """
SELECT word, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
GROUP BY word
ORDER BY cnt DESC, word
LIMIT 50
""",
)

# ---------------------------------------------------------------------------
# L04 — similarity search: exact cosine top-5 for query vectors
# ---------------------------------------------------------------------------


def _l04(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par_table: the broadcast-q x corpus scan is pure per-pair
    # compute (interpreted fold dot products) — a single-row-group
    # scan serializes all of it on one core (the l42/l20 rule;
    # measured 20.7 s -> ~1 s warm at sf0.1, r13 opt round)
    emb = _par_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return (
        ordered_result(S.cosine_topk_exact(emb, q, k=5)
        .withColumn("rank", F.col("rank").cast("int")), "qid", "rank")
    )


_l(
    "l04_cosine_topk",
    "exact cosine top-5 neighbors for vec_id < 10 (broadcast q × corpus scan)",
    _l04,
    """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
sims AS (
  SELECT qid, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim_raw
  FROM q, c
  WHERE qid <> neighbor_id
),
ranked AS (
  SELECT qid, neighbor_id, sim_raw,
         row_number() OVER (PARTITION BY qid ORDER BY sim_raw DESC, neighbor_id) AS rnk
  FROM sims
)
SELECT qid, neighbor_id, round(sim_raw, 4) + 0 AS sim, CAST(rnk AS INT) AS rank
FROM ranked
WHERE rnk <= 5
ORDER BY qid, rank
""",
)

# ---------------------------------------------------------------------------
# L05 — embedding aggregation: per-label centroids
# ---------------------------------------------------------------------------


def _l05(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par_table: the 64-way posexplode is the heavy map stage (l42/
    # l20 rule; suite warm 9.8 s -> sub-second, r13 opt round)
    emb = _par_table(spark, sf_dir, "embeddings")
    return (
        ordered_result(S.centroids(emb)
        .withColumn("dim", F.col("dim").cast("int")), "label", "dim")
    )


_l(
    "l05_embedding_centroids",
    "per-label centroid of each of 64 dims (posexplode + grouped avg)",
    _l05,
    """
SELECT label, CAST(dim AS INT) AS dim, round(avg(val), 4) + 0 AS centroid
FROM (
  SELECT label,
         unnest(generate_series(0, 63)) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
) t
GROUP BY label, dim
ORDER BY label, dim
""",
)

# ---------------------------------------------------------------------------
# L06/L07 — scale-path near-dup (MinHash-LSH, SimHash) — rows-only checks
# ---------------------------------------------------------------------------


def _l06(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    return (
        ordered_result(D.minhash_lsh_candidates(docs, "doc_id", "text", n=5, num_hashes=32, bands=8), "doc_a", "doc_b")
    )


_l(
    "l06_minhash_lsh_candidates",
    "MinHash+banded-LSH near-dup candidate pairs (scale path; approximate)",
    _l06,
    None,
)


def _l07(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    sk = D.simhash64(docs, "doc_id", "text")
    return ordered_result(D.simhash_neardup_pairs(sk, "doc_id", max_hamming=3), 
        "doc_a", "doc_b"
    )


_l(
    "l07_simhash_neardup",
    "SimHash64 sketch + block-LSH Hamming<=3 near-dup pairs (scale path)",
    _l07,
    None,
)

# ---------------------------------------------------------------------------
# L08 — embedding-cosine near-dup pairs (exact, gated)
# ---------------------------------------------------------------------------


def _l08(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _par_table(spark, sf_dir, "embeddings")
    # lazy checkpoint before the sort: orderBy's range partitioner
    # SAMPLES its input, which would execute the whole block-matmul
    # pandas stage twice per run (sample pass + output pass)
    return (
        ordered_result(S.cosine_neardup_pairs(emb, threshold=0.8)
        .localCheckpoint(eager=False), "doc_a", "doc_b")
    )


_l(
    "l08_embedding_neardup_pairs",
    "embedding near-dup: all pairs with cosine >= 0.8",
    _l08,
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) + 0 AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.8
ORDER BY doc_a, doc_b
""",
)

# ---------------------------------------------------------------------------
# L09 — text quality scoring
# ---------------------------------------------------------------------------


def _l09(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = TX.token_count(t)
    chars = F.length(F.replace(t, F.lit(" "), F.lit("")))
    # floor-truncation instead of round: Spark rounds the double's
    # shortest decimal repr (4.475 -> 4.48) while DuckDB rounds the true
    # binary value (-> 4.47); floor of the scaled quotient is identical
    # in both engines.
    return (
        ordered_result(docs.select(
            "doc_id",
            n_words.cast("int").alias("n_words"),
            (F.floor(chars * 100.0 / n_words) / 100.0).alias("avg_word_len"),
            (F.floor(TX.stopword_count(t) * 10000.0 / n_words) / 10000.0).alias(
                "stopword_ratio"
            ),
            TX.bpe_token_count(t).cast("int").alias("bpe_tokens"),
        ), "doc_id")
    )


_l(
    "l09_text_quality",
    "quality features: words, avg word length, stopword ratio, BPE-ish tokens",
    _l09,
    f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       floor(length(replace(text, ' ', '')) * 100.0 / len(string_split(text, ' '))) / 100.0 AS avg_word_len,
       floor(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','of','and','to','in','is','on'))) * 10000.0
             / len(string_split(text, ' '))) / 10000.0 AS stopword_ratio,
       CAST(len(regexp_extract_all(text, '{TX.BPE_TOKEN_RE}')) AS INT) AS bpe_tokens
FROM documents
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L10 — document fingerprinting: exact-dup clusters via content hash
# ---------------------------------------------------------------------------


def _l10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ordered_result(D.fingerprint_clusters(docs, "doc_id", "text", min_size=2), "fp")


_l(
    "l10_fingerprint_clusters",
    "md5 content-fingerprint exact-dup clusters (size >= 2)",
    _l10,
    """
SELECT md5(text) AS fp, CAST(count(*) AS BIGINT) AS cluster_size,
       min(doc_id) AS keeper_id
FROM documents
GROUP BY md5(text)
HAVING count(*) >= 2
ORDER BY fp
""",
)

# ---------------------------------------------------------------------------
# L11 — language-ID heuristic vs labeled lang
# ---------------------------------------------------------------------------


def _l11(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    return (
        ordered_result(docs.select("lang", TX.langid_heuristic(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("cnt")), "lang", "predicted")
    )


_l(
    "l11_langid_heuristic",
    "character-statistics language-ID confusion counts",
    _l11,
    """
SELECT lang,
       CASE WHEN length(regexp_replace(text, '[^aeiou]', '', 'g')) * 1.0 / length(text) > 0.40 THEN 'es'
            WHEN length(regexp_replace(text, '[^aeiou]', '', 'g')) * 1.0 / length(text) > 0.35 THEN 'de'
            ELSE 'zh' END AS predicted,
       CAST(count(*) AS BIGINT) AS cnt
FROM documents
GROUP BY 1, 2
ORDER BY lang, predicted
""",
)

# ---------------------------------------------------------------------------
# L12 — approximate ANN scale path (random-projection buckets) — rows-only
# ---------------------------------------------------------------------------


def _l12(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return ordered_result(S.rp_bucketed_topk(emb, q, k=5, n_planes=4), "qid", "rank")


_l(
    "l12_ann_rp_bucketed",
    "approximate cosine top-k via random-projection sign buckets (scale path)",
    _l12,
    None,
)

# ---------------------------------------------------------------------------
# MM — multimodal binary-column plumbing
# ---------------------------------------------------------------------------


def _mm01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    return (
        ordered_result(media.select(
            "media_id",
            "media_type",
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.sha256").alias("sha256"),
        ), "media_id")
    )


_l(
    "mm01_media_metadata",
    "binary payload column + typed metadata (octet_length, sha256)",
    _mm01,
    """
SELECT doc_id AS media_id,
       'image' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
ORDER BY media_id
""",
)


def _mm02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    feats = MM.extract_features(media, fake=True)
    return (
        ordered_result(feats.select(
            "media_id",
            "n_bytes",
            F.size("feature").alias("n_feat"),
            F.round(F.element_at("feature", 1), 4).alias("f0"),
        ), "media_id")
    )


_l(
    "mm02_feature_extract_stub",
    "mapInPandas Arrow-batched feature extraction (deterministic decode stub)",
    _mm02,
    None,
)


def _mm03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    return (
        ordered_result(MM.frame_sample(media, every_n=10)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames")), "media_id")
    )


_l(
    "mm03_frame_sample_stub",
    "mapInPandas 1→N frame sampling shape (video stub)",
    _mm03,
    None,
)


def _mm04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs)
    return (
        ordered_result(MM.resize_stub(media, target=64)
        .select(
            "media_id",
            "width",
            "height",
            F.octet_length("payload_out").alias("out_bytes"),
        ), "media_id")
    )


_l(
    "mm04_resize_stub",
    "mapInPandas binary-in/binary-out resize shape (image stub)",
    _mm04,
    None,
)


def _l13(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ordered_result(D.token_ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ), "doc_a", "doc_b")


_l(
    "l13_token_ngram_jaccard",
    "exact word-3-gram Jaccard near-dup pairs (>= 0.5)",
    _l13,
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.5
ORDER BY doc_a, doc_b
""",
)


def _l14(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate sketch (HLL++); deterministic for fixed input but not
    # SQL-oracle-expressible -> rows-only gate, with the exact twin
    # gated as R11.
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.approx_count_distinct("text", 0.02).alias("approx_distinct_texts"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_l(
    "l14_approx_distinct_sketch",
    "approx_count_distinct (HLL++) smoke over documents (exact twin: R11/L01)",
    _l14,
    None,
)


def _l15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas UDF (applyInPandas) with full oracle parity —
    the vectorized-python analog of the JVM-expression L05. Raw means
    come back from numpy; rounding stays Spark-side for parity."""
    emb = load_table(spark, sf_dir, "embeddings")

    def centroid(pdf):
        import numpy as np
        import pandas as pd

        v = np.asarray(list(pdf["embedding"]), dtype=np.float64)
        m = v.mean(axis=0)
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": np.arange(v.shape[1], dtype=np.int32),
                "centroid_raw": m,
            }
        )

    out = emb.groupBy("label").applyInPandas(
        centroid, "label INT, dim INT, centroid_raw DOUBLE"
    )
    return ordered_result(out.select(
        "label",
        "dim",
        (F.round("centroid_raw", 4) + F.lit(0.0)).alias("centroid"),
    ), "label", "dim")


_l(
    "l15_centroids_pandas_grouped",
    "applyInPandas grouped-map centroids (UDF-path twin of L05)",
    _l15,
    """
SELECT label, CAST(dim AS INT) AS dim, round(avg(val), 4) + 0 AS centroid
FROM (
  SELECT label,
         unnest(generate_series(0, 63)) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
) t
GROUP BY label, dim
ORDER BY label, dim
""",
)


def _l16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par_table: the per-character rolling-hash fold is the heaviest
    # interpreted map stage in the text family (l42/l20 rule)
    docs = _par_table(spark, sf_dir, "documents")
    return (
        ordered_result(docs.select(
            TX.rolling_fingerprint(F.col("text")).alias("fp"), F.col("doc_id")
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("cluster_size") >= 2), "fp")
    )


_l(
    "l16_rolling_hash_clusters",
    "Rabin-Karp rolling-hash fingerprint dup clusters (fold expressible in both engines)",
    _l16,
    """
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           [CAST(0 AS BIGINT)] ||
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
           (acc, c) -> (acc * 31 + c) % 1000000007
         ) AS fp
  FROM documents
)
SELECT fp, CAST(count(*) AS BIGINT) AS cluster_size, min(doc_id) AS keeper_id
FROM fp
GROUP BY fp
HAVING count(*) >= 2
ORDER BY fp
""",
)

# ---------------------------------------------------------------------------
# L17 — TF-IDF relevance terms (text analysis). Exact twin in DuckDB;
# determinism: tiebroken ORDER BY on the rounded score + word + doc.
# ---------------------------------------------------------------------------


def _l17(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    scored = TX.tfidf_terms(docs, "doc_id", "text")
    r = F.round(F.col("tfidf"), 4)
    return (
        scored.select(
            "doc_id", "word", "tf", r.cast("string").alias("tfidf")
        )
        .orderBy(r.desc(), "word", "doc_id")
        .limit(100)
    )


_l(
    "l17_tfidf_top_terms",
    "TF-IDF scored terms over the document corpus (smoothed IDF)",
    _l17,
    """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word
  FROM documents WHERE doc_id < 100
),
tf AS (
  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
  FROM words GROUP BY doc_id, word
),
dfreq AS (SELECT word, count(*) AS dfx FROM tf GROUP BY word),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM words)
SELECT t.doc_id, t.word, t.tf,
       CAST(round(t.tf * ln((n.n_docs + 1) / (d.dfx + 1)), 4) AS VARCHAR) AS tfidf
FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
ORDER BY round(t.tf * ln((n.n_docs + 1) / (d.dfx + 1)), 4) DESC, t.word, t.doc_id
LIMIT 100
""",
)

# ---------------------------------------------------------------------------
# L18 — deterministic stratified sampling: content-hash gate with a
# per-language rate (~5% of 'en', ~20% of everything else). Exact twin:
# md5 hex renders identically in both engines.
# ---------------------------------------------------------------------------


def _l18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.sampling import stratified_sample_expr

    docs = load_table(spark, sf_dir, "documents")
    # The per-stratum rate is a pure RULE of the stratum value, so it
    # compiles to a row-local CASE — no stratum enumeration, no
    # collect, nothing driver-side (VERDICT r5 "wrong" #3). When the
    # rates are data-derived instead, use stratified_sample_by_map
    # (broadcast join against the threshold control table).
    thr = F.when(F.col("lang") == "en", F.lit("0d")).otherwise(F.lit("33"))
    return (
        ordered_result(stratified_sample_expr(docs, "text", thr)
        .select("doc_id", "lang", "source"), "doc_id")
    )


_l(
    "l18_stratified_sample",
    "deterministic content-hash stratified sample (per-language rate)",
    _l18,
    """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(text), 1, 2) < (CASE WHEN lang = 'en' THEN '0d' ELSE '33' END)
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L19 — int8 embedding quantization (storage path before ANN). Summary
# stats per vector keep the gate exact without comparing array renders.
# ---------------------------------------------------------------------------


def _l19(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _par_table(spark, sf_dir, "embeddings")
    q = S.int8_quantize(emb, "vec_id")
    return (
        ordered_result(q.select(
            "vec_id",
            F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("qsum"),
            F.array_min("q").alias("qmin"),
            F.array_max("q").alias("qmax"),
        ), "vec_id")
    )


_l(
    "l19_int8_quantization",
    "symmetric int8 vector quantization (per-vector scale), summary-gated",
    _l19,
    """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS sc
  FROM embeddings
),
q AS (
  SELECT vec_id,
         list_transform(
           embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                           (CASE WHEN sc = 0.0 THEN 1.0 ELSE sc END)) AS INT)
         ) AS qv
  FROM s
)
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS qsum,
       CAST(list_min(qv) AS INT) AS qmin,
       CAST(list_max(qv) AS INT) AS qmax
FROM q
ORDER BY vec_id
""",
)

# ---------------------------------------------------------------------------
# L20 — corpus text normalization (cleaning stage). Prefix + length
# keep the gated output bounded.
# ---------------------------------------------------------------------------


def _l20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    norm = TX.normalize_text(F.col("text"))
    return (
        ordered_result(docs.select(
            "doc_id",
            F.substring(norm, 1, 80).alias("norm_prefix"),
            F.length(norm).alias("norm_len"),
        ), "doc_id")
    )


_l(
    "l20_text_normalize",
    "text normalization: lowercase, strip non-alnum, collapse whitespace",
    _l20,
    """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, substr(norm, 1, 80) AS norm_prefix,
       CAST(length(norm) AS INT) AS norm_len
FROM n
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L21 — token-budget sequence packing: deterministic shard assignment
# per source group (cumulative token window).
# ---------------------------------------------------------------------------


def _l21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.packing import pack_by_token_budget

    docs = load_table(spark, sf_dir, "documents")
    return (
        ordered_result(pack_by_token_budget(docs, "source", "doc_id", budget=2048)
        .select("source", "doc_id", "n_tok", "shard"), "source", "doc_id")
    )


_l(
    "l21_token_budget_packing",
    "token-budget shard packing per source group (running-total window)",
    _l21,
    """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t
)
SELECT source, doc_id, n_tok, CAST(floor(before / 2048) AS INT) AS shard
FROM c
ORDER BY source, doc_id
""",
)

# ---------------------------------------------------------------------------
# L22 — near-dup cluster assignment: connected components over the
# word-3-gram Jaccard pair graph (l13's edges). Duplicates are
# transitive, so the keep/drop decision needs components, not pairs;
# is_canonical marks the kept (min-id) document per cluster. Oracle:
# the same edges + a recursive CTE computing min reachable id.
# ---------------------------------------------------------------------------


def _l22(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.token_ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = D.connected_components(pairs)
    return (
        ordered_result(cc.select(
            F.col("node").alias("doc_id"),
            F.col("component"),
            F.when(F.col("node") == F.col("component"), 1).otherwise(0).alias(
                "is_canonical"
            ),
        ), "doc_id")
    )


_l(
    "l22_neardup_components",
    "connected components over the near-dup pair graph (canonical doc per cluster)",
    _l22,
    """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS g FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.5
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id,
       CAST(min(label) AS BIGINT) AS component,
       CAST(CASE WHEN node = min(label) THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM reach
GROUP BY node
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L23 — the 100 TB dedup pipeline end-to-end: MinHash-LSH candidate
# edges → connected components → canonical doc per cluster. Candidate
# edges are approximate (banding), so rows-only — l22 is the exact
# oracle-gated twin of the clustering step.
# ---------------------------------------------------------------------------


def _l23(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par_table (not load_table) so the input plan hash matches
    # l06/l57 and the signature memo is shared across the family
    # (load_table here meant a key miss and a full rebuild).
    # Edges are the degree-capped STAR form (one edge per bucket
    # member to the bucket's min id) — identical components, O(docs)
    # edges even when a hot bucket holds thousands of identical
    # boilerplate docs (VERDICT r9 #3; operators/dedup.py
    # lsh_component_edges).
    docs = _par_table(spark, sf_dir, "documents")
    pairs = D.lsh_component_edges(docs, "doc_id", "text")
    cc = D.connected_components(pairs)
    return (
        ordered_result(cc.select(
            F.col("node").alias("doc_id"),
            "component",
            F.when(F.col("node") == F.col("component"), 1).otherwise(0).alias(
                "is_canonical"
            ),
        ), "doc_id")
    )


_l(
    "l23_lsh_components",
    "scale-path dedup pipeline: LSH candidates -> connected components",
    _l23,
    None,  # approximate edge set by design; exact twin is l22
)

# ---------------------------------------------------------------------------
# L24 — document chunking into overlapping token windows (sequence-
# length prep). Gated on chunk boundaries + an md5 of each chunk text.
# ---------------------------------------------------------------------------


def _l24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.packing import chunk_by_tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        ordered_result(chunk_by_tokens(docs, "doc_id", chunk_tokens=64, overlap=8)
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        ), "doc_id", "chunk_idx")
    )


_l(
    "l24_document_chunking",
    "overlapping token-window chunking (64-token chunks, 8 overlap)",
    _l24,
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
  FROM documents WHERE doc_id < 200
),
starts AS (
  SELECT doc_id, toks, n, unnest(generate_series(1, greatest(n, 1), 56)) AS s
  FROM t
),
c AS (
  SELECT doc_id,
         CAST((s - 1) / 56 AS INT) AS chunk_idx,
         array_to_string(toks[s:least(s + 63, n)], ' ') AS chunk_text,
         CAST(least(n - s + 1, 64) AS INT) AS chunk_tokens
  FROM starts
)
SELECT doc_id, chunk_idx, chunk_tokens, md5(chunk_text) AS chunk_md5
FROM c
WHERE chunk_idx = 0 OR chunk_tokens > 8
ORDER BY doc_id, chunk_idx
""",
)

# ---------------------------------------------------------------------------
# L25 — decontamination: corpus docs sharing an 8-gram with the eval
# set (doc_id % 7 == 0 plays the benchmark). Collision join, eval
# side broadcast.
# ---------------------------------------------------------------------------


def _l25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    hits = TX.ngram_contamination(corpus, eval_set, "doc_id", n=8)
    return (
        ordered_result(hits.select(
            "doc_id",
            "n_gram_hits",
            F.concat_ws(",", F.col("eval_ids").cast("array<string>")).alias(
                "eval_ids_csv"
            ),
        ), "doc_id")
    )


_l(
    "l25_decontamination",
    "eval-set leakage check: corpus docs sharing any word 8-gram with the benchmark split",
    _l25,
    """
WITH g AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 8
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram FROM g
),
hits AS (
  SELECT c.doc_id, c.gram, e.doc_id AS eval_id
  FROM grams c JOIN grams e ON c.gram = e.gram
  WHERE c.doc_id % 7 <> 0 AND e.doc_id % 7 = 0
)
SELECT doc_id,
       CAST(count(DISTINCT gram) AS BIGINT) AS n_gram_hits,
       string_agg(DISTINCT CAST(eval_id AS VARCHAR), ',' ORDER BY CAST(eval_id AS VARCHAR)) AS eval_ids_csv
FROM hits
GROUP BY doc_id
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L26 — balanced per-class sampling: deterministic k-per-stratum via
# content-hash ranking (reproducible, unlike reservoir sampling).
# ---------------------------------------------------------------------------


def _l26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.sampling import per_stratum_topk

    docs = load_table(spark, sf_dir, "documents")
    return (
        ordered_result(per_stratum_topk(docs, "text", "lang", k=5, id_col="doc_id")
        .select("lang", "doc_id", "source"), "lang", "doc_id")
    )


_l(
    "l26_balanced_class_sample",
    "deterministic k-per-class sample via content-hash ranking",
    _l26,
    """
SELECT lang, doc_id, source FROM (
  SELECT lang, doc_id, source,
         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
  FROM documents
) t
WHERE rk <= 5
ORDER BY lang, doc_id
""",
)

# ---------------------------------------------------------------------------
# L27 — greedy fixed-capacity packing: first-fit shard assignment with
# a hard token budget (exact twin of the l21 continuous scheme).
# Sequential per-group scan (applyInPandas); oracle is a lockstep
# recursive CTE advancing every group one row per iteration.
# ---------------------------------------------------------------------------


def _l27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.packing import pack_by_token_budget_greedy

    docs = load_table(spark, sf_dir, "documents")
    return (
        ordered_result(pack_by_token_budget_greedy(docs, "source", "doc_id", budget=2048)
        .select("source", "doc_id", "n_tok", "shard"), "source", "doc_id")
    )


_l(
    "l27_greedy_packing",
    "first-fit fixed-capacity shard packing (sequential scan per group)",
    _l27,
    """
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
pack AS (
  SELECT source, doc_id, n_tok, rn, 0 AS shard, n_tok AS acc
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tok, t.rn,
         CASE WHEN p.acc + t.n_tok > 2048 THEN p.shard + 1 ELSE p.shard END,
         CASE WHEN p.acc + t.n_tok > 2048 THEN t.n_tok ELSE p.acc + t.n_tok END
  FROM pack p JOIN t ON t.source = p.source AND t.rn = p.rn + 1
)
SELECT source, doc_id, n_tok, CAST(shard AS INT) AS shard
FROM pack
ORDER BY source, doc_id
""",
)

# ---------------------------------------------------------------------------
# L28 — repetition / symbol quality metrics (Gopher-style filters):
# distinct-word ratio, duplicate word-2-gram fraction, symbol ratio,
# digit ratio. All pure array/regexp expressions — single codegen map
# stage, no shuffle, no Python; ratios are integer-derived so the
# floor(x*10000)/10000 form is bit-exact across engines.
# ---------------------------------------------------------------------------


def _l28(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    g2 = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_g2 = F.size(g2)
    n_g2_d = F.size(F.array_distinct(g2))
    n_char = F.length("text")

    def ratio(num, den):
        return F.floor(num * 10000 / den) / 10000

    sym = F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", ""))
    dig = F.length(F.regexp_replace("text", "[^0-9]", ""))
    return ordered_result(docs.select(
        "doc_id",
        n.cast("int").alias("n_tok"),
        ratio(F.size(F.array_distinct(toks)), n).alias("distinct_ratio"),
        F.when(n >= 2, ratio(n_g2 - n_g2_d, n_g2)).otherwise(0.0).alias("dup2_ratio"),
        ratio(sym, n_char).alias("symbol_ratio"),
        ratio(dig, n_char).alias("digit_ratio"),
    ), "doc_id")


_l(
    "l28_repetition_quality",
    "Gopher-style repetition/symbol quality metrics per document",
    _l28,
    """
WITH m AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_char,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_sym,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents
),
g AS (
  SELECT doc_id, n_tok, n_char, n_sym, n_digit,
         len(list_distinct(toks)) AS n_distinct,
         CASE WHEN n_tok >= 2 THEN n_tok - 1 ELSE 0 END AS n_g2,
         CASE WHEN n_tok >= 2 THEN len(list_distinct(
           list_transform(generate_series(1, n_tok - 1),
                          i -> toks[i] || ' ' || toks[i + 1])))
         ELSE 0 END AS n_g2_d
  FROM m
)
SELECT doc_id,
       CAST(n_tok AS INT) AS n_tok,
       floor(n_distinct * 10000 / n_tok) / 10000 AS distinct_ratio,
       CASE WHEN n_g2 > 0
            THEN floor((n_g2 - n_g2_d) * 10000 / n_g2) / 10000
            ELSE 0.0 END AS dup2_ratio,
       floor(n_sym * 10000 / n_char) / 10000 AS symbol_ratio,
       floor(n_digit * 10000 / n_char) / 10000 AS digit_ratio
FROM g
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L29 — length-decile curriculum binning: ntile(10) over a total
# order, per-bucket stats. The gated query uses an exact global ntile
# (one sort); the 100 TB path replaces it with approx percentile
# cutoffs + a broadcast bucket join — same downstream contract.
# ---------------------------------------------------------------------------


def _l29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    return (
        ordered_result(docs.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        ), "decile")
    )


_l(
    "l29_length_deciles",
    "curriculum binning: global length deciles with per-bucket stats",
    _l29,
    """
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM (
  SELECT CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS decile,
         n_chars
  FROM documents
) t
GROUP BY decile
ORDER BY decile
""",
)

# ---------------------------------------------------------------------------
# L30 — per-dimension embedding statistics (the normalize/whiten prep
# step): mean / sample stddev / min / max of each of the 64 dims.
# posexplode + grouped agg — one shuffle of O(dims) groups; floats
# widened to double before any arithmetic on both engines.
# ---------------------------------------------------------------------------


def _l30(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        ordered_result(emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "val"
            )
        )
        .groupBy("dim")
        .agg(
            F.floor(F.avg("val") * 10000).alias("_m"),
            F.floor(F.stddev_samp("val") * 10000).alias("_s"),
            F.floor(F.min("val") * 10000).alias("_lo"),
            F.floor(F.max("val") * 10000).alias("_hi"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            (F.col("_m") / 10000).alias("dim_mean"),
            (F.col("_s") / 10000).alias("dim_sd"),
            (F.col("_lo") / 10000).alias("dim_min"),
            (F.col("_hi") / 10000).alias("dim_max"),
        ), "dim")
    )


_l(
    "l30_embedding_dim_stats",
    "per-dimension mean/stddev/min/max of the embedding space",
    _l30,
    """
SELECT CAST(dim AS INT) AS dim,
       floor(avg(val) * 10000) / 10000 AS dim_mean,
       floor(stddev_samp(val) * 10000) / 10000 AS dim_sd,
       floor(min(val) * 10000) / 10000 AS dim_min,
       floor(max(val) * 10000) / 10000 AS dim_max
FROM (
  SELECT unnest(generate_series(0, 63)) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS val
  FROM embeddings
) t
GROUP BY dim
ORDER BY dim
""",
)

# ---------------------------------------------------------------------------
# L31 — quantized-centroid k-means over embeddings (cluster-based
# curation prep). Integer-exact at every step (see operators/
# clustering.py), so the DuckDB oracle replays the SAME iterations
# exactly, unrolled as CTEs — an oracle-gated iterative algorithm.
# ---------------------------------------------------------------------------


def _l31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        ordered_result(kmeans_quantized(emb, k=8, iters=2, scale=10_000)
        .select(F.col("pid").alias("vec_id"), "cid", "d2"), "vec_id")
    )


def _kmeans_oracle(
    k: int = 8,
    iters: int = 2,
    scale: int = 10_000,
    final_sql: str | None = None,
    training_only: bool = False,
) -> str:
    dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (p.x[i] - c.c[i]) * (p.x[i] - c.c[i])))"
    )

    def assign(name: str, cents: str) -> str:
        return f"""
{name}x AS (
  SELECT p.pid, c.cid, {dist} AS d
  FROM pts p CROSS JOIN {cents} c
),
{name} AS (
  SELECT pid, cid, d FROM (
    SELECT pid, cid, d,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM {name}x
  ) t WHERE rk = 1
)"""

    def update(prev_c: str, a: str, s: str, new_c: str) -> str:
        return f"""
{s} AS (
  SELECT a.cid, g.i AS dim,
         CAST(SUM(p.x[g.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM {a} a JOIN pts p USING (pid)
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY a.cid, g.i
),
{new_c} AS (
  SELECT {prev_c}.cid, COALESCE(agg.c, {prev_c}.c) AS c
  FROM {prev_c} LEFT JOIN (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS c
    FROM {s} GROUP BY cid
  ) agg USING (cid)
)"""

    parts = [
        f"""WITH pts AS (
  SELECT vec_id AS pid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * {scale}) AS BIGINT)) AS x
  FROM embeddings
),
c0 AS (
  SELECT pid AS cid, x AS c FROM pts WHERE pid < {k}
)"""
    ]
    cur = "c0"
    for it in range(1, iters + 1):
        parts.append(assign(f"a{it}", cur))
        parts.append(update(cur, f"a{it}", f"s{it}", f"c{it}"))
        cur = f"c{it}"
    if training_only:
        # Just the Lloyd rounds — the build-once index artifact. Used
        # by scripts/duckdb_comparator.py to price k-means TRAINING
        # separately from each family member's marginal cost, mirroring
        # bench.py's untimed centroid priming (same build-once
        # assumption on both engines).
        return ",".join(parts) + f"\nSELECT cid, c FROM {cur} ORDER BY cid\n"
    parts.append(assign("fin", cur))
    body = ",".join(parts)
    final = final_sql or """
SELECT pid AS vec_id, CAST(cid AS INT) AS cid, CAST(d AS BIGINT) AS d2
FROM fin
ORDER BY vec_id
"""
    return body + final


def kmeans_training_oracle(k: int = 8, iters: int = 2, scale: int = 10_000) -> str:
    """Training-only twin of ``_kmeans_oracle`` (ends at the final
    centroid table) — the comparator's build-once line item."""
    return _kmeans_oracle(k=k, iters=iters, scale=scale, training_only=True)


_l(
    "l31_kmeans_quantized",
    "integer-exact k-means (k=8, 2 Lloyd rounds) over embeddings",
    _l31,
    _kmeans_oracle(),
)

# ---------------------------------------------------------------------------
# L32 — cluster-balanced sampling: k-means clusters (l31) + a
# deterministic content-hash top-3 per cluster — the DCLM-style
# "cluster, then sample evenly" curation step, end to end.
# ---------------------------------------------------------------------------


def _l32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from graal_cdc_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    cc = kmeans_quantized(emb, k=8, iters=2, scale=10_000)
    joined = cc.join(emb.select("vec_id", "label"), cc["pid"] == F.col("vec_id"))
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("pid").cast("string")), F.col("pid")
    )
    return (
        ordered_result(joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("cid", F.col("pid").alias("vec_id"), "label"), "cid", "vec_id")
    )


_l(
    "l32_cluster_balanced_sample",
    "k-means clusters + deterministic hash-ranked top-3 per cluster",
    _l32,
    _kmeans_oracle(
        final_sql="""
SELECT cid, vec_id, label FROM (
  SELECT CAST(f.cid AS INT) AS cid, f.pid AS vec_id, e.label,
         row_number() OVER (PARTITION BY f.cid
             ORDER BY md5(CAST(f.pid AS VARCHAR)), f.pid) AS rk
  FROM fin f JOIN embeddings e ON e.vec_id = f.pid
) t
WHERE rk <= 3
ORDER BY cid, vec_id
"""
    ),
)

# ---------------------------------------------------------------------------
# L33 — IVF approximate nearest neighbors: trained (k-means) inverted
# cells, n_probe=2 of 8. Approximate by design -> rows-only gate; the
# recall-vs-exact guarantee is asserted in tests/test_scale_ops.py.
# ---------------------------------------------------------------------------


def _l33(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return (
        ordered_result(S.ivf_topk(emb, q, k=5, n_cells=8, n_probe=2)
        .withColumn("rank", F.col("rank").cast("int")), "qid", "rank")
    )


_l(
    "l33_ann_ivf_trained",
    "IVF ANN: trained k-means cells, probe-2-of-8, cosine re-rank",
    _l33,
    None,
)

# ---------------------------------------------------------------------------
# L34 — corpus vocabulary statistics: token volume, vocabulary size,
# hapax count, top-word coverage. One explode + two aggregates
# (word-level, then corpus-level) — the corpus "health check" numbers
# a data-curation run reports.
# ---------------------------------------------------------------------------


def _l34(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Single pass: the top word rides the same aggregate as the corpus
    # stats via min_by over (-cnt, word) — max count, ties to the
    # lexicographically smallest word. (An earlier two-branch
    # formulation cross-joined two 1-row aggregates, which planned as
    # a BroadcastNestedLoopJoin and tripped the plan audit.)
    return wc.agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.count_if(F.col("cnt") == 1).alias("hapax"),
        F.min_by(
            "word", F.struct((-F.col("cnt")).alias("nc"), F.col("word"))
        ).alias("top_word"),
        F.max("cnt").alias("top_cnt"),
    )


_l(
    "l34_vocab_stats",
    "corpus vocabulary stats: tokens / vocab / hapax / top word",
    _l34,
    """
WITH wc AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  GROUP BY word
),
top AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 1)
SELECT CAST((SELECT SUM(cnt) FROM wc) AS BIGINT) AS n_tokens,
       CAST((SELECT count(*) FROM wc) AS BIGINT) AS vocab,
       CAST((SELECT count_if(cnt = 1) FROM wc) AS BIGINT) AS hapax,
       (SELECT word FROM top) AS top_word,
       CAST((SELECT cnt FROM top) AS BIGINT) AS top_cnt
""",
)

# ---------------------------------------------------------------------------
# L35 — rare-word ratio quality signal: fraction of a document's
# tokens whose corpus-wide frequency is <= 2 (OOV/noise proxy — a
# standard pretraining quality filter). Integer-exact: counts plus a
# basis-point ratio via integer division.
#
# Scale: the vocab aggregate partial-combines map-side, then the
# token stream joins vocab on word — a shuffle hash join on the word
# key (the rare tail is O(vocab), NOT broadcastable; the join must
# shuffle either way, and AQE splits skewed hot-word partitions).
# Two data shuffles total (vocab agg + join/doc agg share the word
# partitioning).
# ---------------------------------------------------------------------------


def _l35(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return (
        ordered_result(words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("c") <= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_rare",
            F.expr("n_rare * 10000 DIV n_tok").alias("rare_bp"),
        ), "doc_id")
    )


_l(
    "l35_rare_word_ratio",
    "per-doc rare-token ratio vs corpus vocabulary (quality filter)",
    _l35,
    """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word, count(*) AS c FROM words GROUP BY word
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       CAST(count(*) FILTER (WHERE v.c <= 2) AS BIGINT) AS n_rare,
       CAST((count(*) FILTER (WHERE v.c <= 2)) * 10000 // count(*) AS BIGINT)
         AS rare_bp
FROM words w JOIN vocab v USING (word)
GROUP BY w.doc_id
ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L* extension (text quality family, cf. l09/l28)",
)

# ---------------------------------------------------------------------------
# L36 — PII-style redaction: mask long digit runs and measure the
# redaction volume. The fixtures contain no real PII, so a
# deterministic synthetic contact string (doc_id-derived) is prepended
# before masking — the operator under test is the corpus-wide
# regexp_replace + match accounting, all JVM-side codegen.
# ---------------------------------------------------------------------------


def _l36(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    contact = F.concat(
        F.lit("user"),
        F.col("doc_id").cast("string"),
        F.lit(" phone "),
        (F.col("doc_id") * 7919 + 1000000).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    pat = "[0-9]{4,}"
    return (
        ordered_result(d.select(
            "doc_id",
            (F.size(F.split(contact, pat)) - 1).cast("long").alias("n_masked"),
            F.length(F.regexp_replace(contact, pat, "<NUM>"))
            .cast("long")
            .alias("masked_len"),
        ), "doc_id")
    )


_l(
    "l36_pii_redaction",
    "mask long digit runs (PII scrub shape) + redaction accounting",
    _l36,
    """
WITH c AS (
  SELECT doc_id,
         concat('user', CAST(doc_id AS VARCHAR), ' phone ',
                CAST(doc_id * 7919 + 1000000 AS VARCHAR), ' ', text) AS contact
  FROM documents
)
SELECT doc_id,
       CAST(len(string_split_regex(contact, '[0-9]{4,}')) - 1 AS BIGINT)
         AS n_masked,
       CAST(length(regexp_replace(contact, '[0-9]{4,}', '<NUM>', 'g')) AS BIGINT)
         AS masked_len
FROM c ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L* extension (text normalize family, cf. l20)",
)

# ---------------------------------------------------------------------------
# L37 — edit-distance near-dup pairs with exact-prefix blocking:
# candidate pairs share a 12-char text prefix (the blocking key — an
# equi-join, so a hash join at any scale, never a cross product);
# within a block, Levenshtein over the 40-char head <= 8 confirms.
# The classic cheap near-dup detector for short/templated text where
# shingling is overkill.
# ---------------------------------------------------------------------------


def _l37(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.substring("text", 1, 12).alias("blk"),
        F.substring("text", 1, 40).alias("head"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        ordered_result(a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.head"), F.col("b.head"))
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") <= 8), "doc_a", "doc_b")
    )


_l(
    "l37_levenshtein_neardup",
    "prefix-blocked Levenshtein near-dup pairs over document heads",
    _l37,
    """
WITH s AS (
  SELECT doc_id, substr(text, 1, 12) AS blk, substr(text, 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 8
ORDER BY doc_a, doc_b
""",
    ref="SURVEY.md §2.4 L02 family (near-dup detection, edit-distance variant)",
)

# ---------------------------------------------------------------------------
# L38 — temperature-weighted mixture sampling: per-language target
# counts proportional to sqrt(n) (temperature 0.5 — the standard
# low-resource-upweighting rule for pretraining mixtures), selection
# by md5 hash rank so the sample is deterministic and reproducible.
# sqrt on a bigint-cast double is correctly rounded IEEE in both
# engines; no cross-language normalization (a sum of doubles would
# be association-order-sensitive across engines).
#
# Scale: the per-language counts broadcast (O(languages) rows); the
# rank is one window shuffle on lang; selection is a filter.
# ---------------------------------------------------------------------------


def _l38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    targets = counts.withColumn(
        "target_k",
        F.floor(F.lit(10) * F.sqrt(F.col("n_docs").cast("double"))).cast(
            "long"
        ),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.withColumn("rn", F.row_number().over(w)).join(
        F.broadcast(targets), "lang"
    )
    sel = ranked.filter(F.col("rn") <= F.col("target_k"))
    return (
        ordered_result(sel.groupBy("lang")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("target_k").alias("target_k"),
            F.count(F.lit(1)).alias("n_sel"),
            F.min("doc_id").alias("min_sel_id"),
            F.max("doc_id").alias("max_sel_id"),
        ), "lang")
    )


_l(
    "l38_temperature_mixture",
    "sqrt-temperature mixture sampling per language (hash-ranked)",
    _l38,
    """
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), targets AS (
  SELECT lang, n_docs,
         CAST(floor(10 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS target_k
  FROM counts
), ranked AS (
  SELECT d.lang, d.doc_id, t.n_docs, t.target_k,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
  FROM documents d JOIN targets t USING (lang)
)
SELECT lang,
       CAST(any_value(n_docs) AS BIGINT) AS n_docs,
       CAST(any_value(target_k) AS BIGINT) AS target_k,
       CAST(count(*) AS BIGINT) AS n_sel,
       CAST(min(doc_id) AS BIGINT) AS min_sel_id,
       CAST(max(doc_id) AS BIGINT) AS max_sel_id
FROM ranked WHERE rn <= target_k
GROUP BY lang ORDER BY lang
""",
    ref="SURVEY.md §2.4 L* extension (sampling family, cf. l18/l26/l32)",
)

# ---------------------------------------------------------------------------
# L39 — canonical document selection: within each exact-duplicate
# cluster (md5 fingerprint, the l10 clusters), keep one canonical doc
# — highest n_chars, ties to the smallest doc_id. The "which copy
# survives dedup" step of a dedup pipeline; at scale the same
# rank-and-keep runs over near-dup component labels (l22/l23) instead
# of exact fingerprints.
#
# Scale: one window shuffle on the fingerprint; the duplicate filter
# (count > 1) rides the same partitioning.
# ---------------------------------------------------------------------------


def _l39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.col("text"))
    )
    w = Window.partitionBy("fp")
    ranked = d.withColumn("n_dup", F.count(F.lit(1)).over(w)).withColumn(
        "rk",
        F.row_number().over(
            w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        ),
    )
    return (
        ordered_result(ranked.filter((F.col("n_dup") > 1) & (F.col("rk") == 1))
        .select("fp", F.col("n_dup").cast("long").alias("n_dup"), F.col("doc_id").alias("canonical_id")), "fp")
    )


_l(
    "l39_canonical_dedup",
    "canonical-doc selection per exact-dup cluster (keep best copy)",
    _l39,
    """
SELECT fp, CAST(n_dup AS BIGINT) AS n_dup, doc_id AS canonical_id
FROM (
  SELECT md5(text) AS fp, doc_id, n_chars,
         count(*) OVER (PARTITION BY md5(text)) AS n_dup,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) t
WHERE n_dup > 1 AND rk = 1
ORDER BY fp
""",
    ref="SURVEY.md §2.4 L01/L10 family (dedup survivor selection)",
)

# ---------------------------------------------------------------------------
# L40 — corpus token offsets via DISTRIBUTED prefix sum: assign every
# document its global token offset (and fixed-size training-sequence
# id) as if the corpus were concatenated in doc_id order — the
# pack-and-chunk front half of a GPT-style pretraining tokenizer
# pipeline.
#
# The naive formulation is a global running sum — a window over ONE
# unpartitioned ordering, i.e. a single-partition scan that caps out
# at one core no matter the cluster. This implementation is the
# two-level scan: per-shard running sums in parallel (one shuffle on
# the shard key), then a cumsum over the O(shards) shard totals
# (driver-sized), broadcast back as per-shard base offsets. Same
# result, full parallelism — the standard distributed prefix-sum
# decomposition. The oracle states the naive global-window semantics;
# the gate proves the decomposition is exact.
# ---------------------------------------------------------------------------


def _l40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    d = d.withColumn("shard", F.expr("doc_id DIV 1000"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("run", F.sum("n_tok").over(w))
    totals = d.groupBy("shard").agg(F.sum("n_tok").alias("shard_tok"))
    wt = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # O(shards) rows — the only single-partition window, by design
    offsets = totals.withColumn(
        "base", F.sum("shard_tok").over(wt) - F.col("shard_tok")
    ).select("shard", "base")
    return (
        ordered_result(local.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "n_tok",
            (F.col("base") + F.col("run") - F.col("n_tok")).alias(
                "global_start"
            ),
        )
        .withColumn("seq_id", F.expr("global_start DIV 2048")), "doc_id")
    )


_l(
    "l40_distributed_prefix_sum",
    "global token offsets + training-sequence ids via two-level scan",
    _l40,
    """
SELECT doc_id, n_tok,
       CAST(global_start AS BIGINT) AS global_start,
       CAST(global_start // 2048 AS BIGINT) AS seq_id
FROM (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tok AS global_start
  FROM (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
  ) t
) s
ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L21/L24/L27 family (sequence packing; scan decomposition)",
)

# ---------------------------------------------------------------------------
# L41 — Zipf token histogram: global token ranks with cumulative
# corpus share in integer basis points (no floats anywhere — the
# cumulative share is exact integer arithmetic, so the oracle match
# is bit-exact). Scale: token counts partial-aggregate before the
# shuffle; the rank window runs over O(vocab) rows, not O(tokens).
# ---------------------------------------------------------------------------


def _l41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("tot"))
    # Top-50 FIRST via distributed TakeOrdered, so the rank/cumsum
    # window (necessarily single-partition) only ever sees 50 rows —
    # ranking the full vocab in one partition would not survive a
    # 100M-token vocabulary. Limit-then-rank ≡ rank-then-filter here
    # because both use the same total order (cnt DESC, word).
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(50)
    w = Window.orderBy(F.col("cnt").desc(), "word")
    return (
        ordered_result(top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share_bp",
            F.expr(
                "10000 * sum(cnt) over (order by cnt desc, word"
                " rows unbounded preceding) div tot"
            ),
        )
        .select("rank", "word", "cnt", "cum_share_bp"), "rank")
    )


_l(
    "l41_zipf_token_histogram",
    "token ranks + exact cumulative corpus share in basis points",
    _l41,
    """
WITH counts AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  GROUP BY word
)
SELECT CAST(rank AS BIGINT) AS rank, word, CAST(cnt AS BIGINT) AS cnt,
       CAST(cum_share_bp AS BIGINT) AS cum_share_bp
FROM (
  SELECT word, cnt,
         row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         (10000 * SUM(cnt) OVER (ORDER BY cnt DESC, word
                                 ROWS UNBOUNDED PRECEDING))
           // SUM(cnt) OVER () AS cum_share_bp
  FROM counts
)
WHERE rank <= 50
ORDER BY rank
""",
)

# ---------------------------------------------------------------------------
# L42 — per-document character-bigram entropy (a language-model-free
# "perplexity proxy": low-entropy docs are repetitive/degenerate,
# the classic pre-training quality cut). All counts are exact; the
# single float op (p·ln p) is floored at 4 decimals (R35 protocol).
# Scale: per-doc entropy is a PER-ROW computation — no explode, no
# shuffle. The bigram histogram is computed inside one projection
# with higher-order array functions (sort, run-boundary filter,
# run-length transform, aggregate), all whole-stage-codegen JVM
# expressions; the only exchange in the query is the output sort.
# (The first cut exploded to a (doc, bigram) aggregate — ~24M shuffled
# rows at sf0.1 and 6.8 s; this form is ~10× faster and shuffle-free.)
# ---------------------------------------------------------------------------


def _l42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.sources.tables import with_min_parallelism

    # The per-row work here (build + sort the bigram array) dominates,
    # so an under-parallelized scan (single-row-group file -> 1 task)
    # serializes the query; the conditional repartition is a no-op on
    # properly-blocked data.
    docs = with_min_parallelism(
        spark, load_table(spark, sf_dir, "documents")
    )
    # Materialize the sorted bigram array as a COLUMN before any
    # lambda references it: a lambda that captures the raw expression
    # would re-evaluate the whole build-and-sort per array element —
    # O(len²) per row and a ~1000× slowdown observed at sf0.1.
    grams_col = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 1),
            lambda i: F.substring(F.col("text"), i, F.lit(2)),
        )
    )
    g = docs.select("doc_id", grams_col.alias("grams"))
    with_runs = g.select(
        "doc_id",
        F.size("grams").alias("n"),
        # 1-based positions where a new distinct bigram's run begins.
        # F.get is 0-based and NULL-safe out of bounds (element_at
        # throws under ANSI): at i=1 the prev lookup is NULL and
        # `true | NULL` = true.
        F.filter(
            F.sequence(F.lit(1), F.size("grams")),
            lambda i: (i == 1)
            | (F.get(F.col("grams"), i - 1) != F.get(F.col("grams"), i - 2)),
        ).alias("bpos"),
    )
    # run length j = next boundary (or n+1) − boundary j  (1-based j)
    counts = F.transform(
        F.sequence(F.lit(1), F.size("bpos")),
        lambda j: F.coalesce(F.get(F.col("bpos"), j), F.col("n") + 1)
        - F.get(F.col("bpos"), j - 1),
    )
    p = lambda c: c.cast("double") / F.col("n")  # noqa: E731
    return ordered_result(with_runs.select(
        "doc_id",
        (
            F.floor(
                F.aggregate(
                    counts,
                    F.lit(0.0),
                    lambda acc, c: acc - p(c) * F.log(p(c)),
                )
                * 10000
            )
            / 10000
        ).alias("bigram_entropy"),
        F.size("bpos").alias("n_distinct_bigrams"),
    ), "doc_id")


_l(
    "l42_char_bigram_entropy",
    "per-doc char-bigram entropy quality proxy (floored floats)",
    _l42,
    """
WITH grams AS (
  SELECT doc_id, substr(text, CAST(i AS INT), 2) AS g
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 1)) AS i
        FROM documents)
), counts AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), withn AS (
  SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM counts
)
SELECT doc_id,
       floor(SUM(-(CAST(c AS DOUBLE)/n) * ln(CAST(c AS DOUBLE)/n)) * 10000)/10000
         AS bigram_entropy,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams
FROM withn
GROUP BY doc_id ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L43 — boilerplate shingle detection: 5-token shingles occurring in
# ≥ 2% of documents (headers/footers/navigation chrome in a real
# corpus). Doc-level dedup (array_distinct) happens BEFORE the
# explode's aggregate so a shingle repeated inside one doc counts
# once; the document-frequency aggregate is partial before its
# shuffle on the shingle string.
# ---------------------------------------------------------------------------


def _l43(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar, driver-side; one tiny job
    shingles = TX.word_ngrams_exploded(
        docs, "doc_id", "text", 5, out_col="sh", per_doc_distinct=True
    )
    return (
        ordered_result(shingles.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") * 50 >= F.lit(n_docs)), F.col("doc_freq").desc(), "sh")
    )


_l(
    "l43_boilerplate_shingles",
    "5-token shingles present in >= 2% of documents",
    _l43,
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shingles AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+4], ' ') AS sh
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
        FROM toks)
)
SELECT sh, CAST(count(*) AS BIGINT) AS doc_freq
FROM shingles
GROUP BY sh
HAVING count(*) * 50 >= (SELECT count(*) FROM documents)
ORDER BY doc_freq DESC, sh
""",
)

# ---------------------------------------------------------------------------
# L44 — cross-snapshot incremental dedup: admit only new-batch docs
# whose content hash is unseen in the previous snapshot (the standard
# "don't retrain on what you already have" gate between crawl
# snapshots). Hash-equality anti-join — at 100 TB the snapshot side
# is just (hash) columns, bucketable/broadcastable far below doc
# size, and the md5 is computed once per side at the scan.
# ---------------------------------------------------------------------------


def _l44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "h", F.md5(F.col("text"))
    )
    prev = docs.filter(F.col("doc_id") % 10 < 8).select("h")
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    return (
        ordered_result(new.join(prev, "h", "left_anti")
        .select("doc_id", "h"), "doc_id")
    )


_l(
    "l44_cross_snapshot_dedup",
    "anti-join new-batch docs against previous-snapshot content hashes",
    _l44,
    """
WITH hashed AS (
  SELECT doc_id, md5(text) AS h FROM documents
)
SELECT doc_id, h FROM hashed
WHERE doc_id % 10 >= 8
  AND h NOT IN (SELECT h FROM hashed WHERE doc_id % 10 < 8)
ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L45 — unigram surprisal scoring: corpus unigram LM (p = cnt/total),
# each doc scored by mean −ln p over its tokens — the cheapest
# perplexity-style quality signal (high = rare-token-heavy docs).
# Scale: the vocab is O(distinct tokens) — Zipf-bounded, broadcast to
# the token stream (no shuffle of the big side); per-doc reduce
# shuffles on doc_id once. Counts exact; final ln/mean floored.
# ---------------------------------------------------------------------------


def _l45(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("word"))
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("tot"))
    scored = toks.join(F.broadcast(vocab), "word").crossJoin(F.broadcast(total))
    nll = -F.log(F.col("cnt") / F.col("tot"))
    return (
        ordered_result(scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.floor(F.avg(nll) * 10000) / 10000).alias("avg_surprisal"),
        ), "doc_id")
    )


_l(
    "l45_unigram_surprisal",
    "per-doc mean unigram negative-log-likelihood (perplexity proxy)",
    _l45,
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word, count(*) AS cnt FROM toks GROUP BY word
), total AS (
  SELECT SUM(cnt) AS tot FROM vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       floor(AVG(-ln(CAST(cnt AS DOUBLE) / tot)) * 10000)/10000 AS avg_surprisal
FROM toks JOIN vocab USING (word) CROSS JOIN total
GROUP BY doc_id ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L46 — per-document OOV rate against the top-1000 corpus vocabulary
# (tokenizer-design signal: how much of each doc a K-entry vocab
# covers). Vocab = distributed TakeOrdered over (cnt DESC, word) —
# deterministic at the boundary — then BROADCAST to the token stream
# (the vocab is K rows by construction; the token stream never
# shuffles for the membership test). OOV rate in integer basis
# points — bit-exact across engines.
# ---------------------------------------------------------------------------


def _l46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("word"))
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(1000)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    return (
        ordered_result(toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn("oov_bp", F.expr("10000 * n_oov div n_tokens")), "doc_id")
    )


_l(
    "l46_vocab_oov_rate",
    "per-doc OOV basis points vs deterministic top-1000 vocab",
    _l46,
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), vocab AS (
  SELECT word FROM (
    SELECT word, count(*) AS cnt FROM toks GROUP BY word
    ORDER BY cnt DESC, word LIMIT 1000
  )
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((10000 * SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS oov_bp
FROM toks t LEFT JOIN vocab v USING (word)
GROUP BY doc_id ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L47 — cross-snapshot n-gram novelty: for each new-batch doc, the
# fraction of its DISTINCT trigrams absent from the previous
# snapshot's trigram set (the complement of contamination — how much
# genuinely new text a crawl increment brings). Big-big LEFT join on
# the trigram hash: both sides shuffle on the same key, old side
# pre-deduped; at 100 TB this is the bucketable/bloom-filterable
# shape, never a broadcast.
# ---------------------------------------------------------------------------


def _l47(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    tris = TX.word_ngrams_exploded(
        docs, "doc_id", "text", 3, out_col="tri", per_doc_distinct=True
    )
    old = (
        tris.filter(F.col("doc_id") % 10 < 8)
        .select("tri")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    new = tris.filter(F.col("doc_id") % 10 >= 8)
    return (
        ordered_result(new.join(old, "tri", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias("n_novel"),
        )
        .withColumn("novelty_bp", F.expr("10000 * n_novel div n_tri")), "doc_id")
    )


_l(
    "l47_ngram_novelty",
    "per-new-doc distinct-trigram novelty vs previous snapshot",
    _l47,
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), tris AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+2], ' ') AS tri
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks)
), old AS (
  SELECT DISTINCT tri FROM tris WHERE doc_id % 10 < 8
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tri,
       CAST(SUM(CASE WHEN o.tri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((10000 * SUM(CASE WHEN o.tri IS NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS novelty_bp
FROM tris n LEFT JOIN old o USING (tri)
WHERE n.doc_id % 10 >= 8
GROUP BY doc_id ORDER BY doc_id
""",
)

# ---------------------------------------------------------------------------
# L48 — near-dup cluster size distribution: the dedup REPORT a
# pipeline owner reads before choosing a keep policy (how much mass
# sits in big clusters?). Composes the l22 component computation with
# a two-level aggregate; the oracle reuses l22's recursive-CTE body
# with a histogram tail, so the iterative Spark operator and the SQL
# reachability twin stay pinned to each other end-to-end.
# ---------------------------------------------------------------------------


def _l48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.token_ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = D.connected_components(pairs)
    return (
        ordered_result(cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
        ), "cluster_size")
    )


def _l48_oracle() -> str:
    from graal_cdc_spark.queries import _REGISTRY

    l22 = _REGISTRY["l22_neardup_components"].oracle
    head, _tail = l22.rsplit("SELECT node AS doc_id", 1)
    return (
        head
        + """
, comp AS (
  SELECT node, min(label) AS component FROM reach GROUP BY node
), csize AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM csize
GROUP BY cluster_size ORDER BY cluster_size
"""
    )


_l(
    "l48_cluster_size_histogram",
    "near-dup cluster size distribution (components -> histogram)",
    _l48,
    _l48_oracle(),
)

# ---------------------------------------------------------------------------
# L49 — deterministic train/val/test split: every doc routed to a
# split by its content hash (hex-prefix buckets ≈ 90/5/5), so the
# assignment is reproducible across runs, engines, and cluster
# sizes, and new docs never reshuffle old ones — the property a
# training pipeline needs for stable eval sets. Pure map + one
# aggregate for the split census.
# ---------------------------------------------------------------------------


def _l49(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("text")), 1, 2)  # 256 hex buckets
    split = (
        F.when(b < F.lit("e6"), "train")  # 0x00–0xe5: 230/256 ≈ 90%
        .when(b < F.lit("f3"), "val")     # 0xe6–0xf2: 13/256 ≈ 5%
        .otherwise("test")                # 0xf3–0xff: 13/256 ≈ 5%
    )
    return (
        ordered_result(docs.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs")), "split")
    )


_l(
    "l49_train_val_test_split",
    "content-hash 90/5/5 split census (stable, engine-portable)",
    _l49,
    """
SELECT split, CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
              WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split ORDER BY split
""",
)

# ---------------------------------------------------------------------------
# L50 — incremental near-dup admission (batch twin of the streaming
# LSH dedup state table, streaming/dedup.py): the greedy-by-id
# admitted set over LSH bucket collisions. Rows-only (the LSH hash
# family has no DuckDB twin); the REAL gate is the golden pair in
# tests/test_streaming.py — prefix-chunked streaming == this batch
# twin, plus independent-set invariants under arbitrary chunking.
# ---------------------------------------------------------------------------


def _l50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.streaming.dedup import greedy_lsh_dedup_batch

    docs = load_table(spark, sf_dir, "documents")
    return ordered_result(greedy_lsh_dedup_batch(docs), "doc_id")


_l(
    "l50_streaming_lsh_admission",
    "greedy LSH dedup admitted set (batch twin of the streaming state)",
    _l50,
    None,
)

# ---------------------------------------------------------------------------
# L51 — quality-gate pass rate per source: the classic pre-training
# document filter (length + stopword-ratio bounds) applied as a
# boolean gate, reported per source in integer basis points. One
# aggregate; the gate itself is pure map-side integer/ratio checks
# (ratio compared as exact cross-multiplication — no float division).
# ---------------------------------------------------------------------------


def _l51(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*TX.STOPWORDS)))
    # gate: 20 <= words <= 1000 AND stopword share in [5%, 60%]
    # (ratio bounds via cross-multiplication: exact integer compares)
    passed = (
        (n_words >= 20)
        & (n_words <= 1000)
        & (n_stop * 100 >= n_words * 5)
        & (n_stop * 100 <= n_words * 60)
    )
    return (
        ordered_result(docs.select("source", passed.cast("int").alias("ok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ok").alias("n_pass"),
        )
        .withColumn("pass_bp", F.expr("10000 * n_pass div n_docs")), "source")
    )


_l(
    "l51_quality_gate_rate",
    "per-source quality-gate pass rate in integer basis points",
    _l51,
    """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_pass,
       CAST((10000 * SUM(ok)) // count(*) AS BIGINT) AS pass_bp
FROM (
  SELECT source,
         CASE WHEN n_words >= 20 AND n_words <= 1000
               AND n_stop * 100 >= n_words * 5
               AND n_stop * 100 <= n_words * 60
              THEN 1 ELSE 0 END AS ok
  FROM (
    SELECT source,
           len(string_split(text, ' ')) AS n_words,
           len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS n_stop
    FROM documents
  )
)
GROUP BY source ORDER BY source
""",
)

# ---------------------------------------------------------------------------
# L52 — eval-split contamination RATE (the complement view of l25's
# corpus-side decontamination): for every eval doc, how much of it
# leaked into training — distinct 8-grams, colliding 8-grams, overlap
# in integer basis points. Plan shape: the corpus side never shuffles
# — eval grams broadcast INTO a semi-join over the corpus grams, the
# (small) colliding-gram set broadcasts back onto the eval grams.
# ---------------------------------------------------------------------------


def _l52(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 8
    docs = _par_table(spark, sf_dir, "documents")

    def grams(df):
        from graal_cdc_spark.operators.text import word_ngrams_exploded

        # once-projected tokens + shifted-slice build (word_gram_array
        # rule); distinctness is per-DOC by construction, so it rides
        # array_distinct inside the row — the old global .distinct()
        # keyed on (doc_id, gram) bought the same rows for a full
        # exchange of the gram stream (r13 opt round; guide §2.4)
        return word_ngrams_exploded(
            df, "doc_id", "text", n, out_col="gram", per_doc_distinct=True
        )

    eval_g = grams(docs.filter(F.col("doc_id") % 7 == 0))
    corpus_g = grams(docs.filter(F.col("doc_id") % 7 != 0)).select("gram")
    hit_grams = (
        corpus_g.join(
            F.broadcast(eval_g.select("gram").distinct()), "gram", "left_semi"
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        ordered_result(eval_g.join(F.broadcast(hit_grams), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .withColumn(
            "overlap_bp", F.expr("n_hit * 10000 DIV n_grams").cast("long")
        ), "doc_id")
    )


_l(
    "l52_eval_overlap_rate",
    "per-eval-doc train-set 8-gram overlap rate in basis points",
    _l52,
    """
WITH g AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 8
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram FROM g
),
corpus_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 7 <> 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN c.gram IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS overlap_bp
FROM (SELECT * FROM grams WHERE doc_id % 7 = 0) e
LEFT JOIN corpus_grams c USING (gram)
GROUP BY doc_id ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L25 family (decontamination metrics)",
)

# ---------------------------------------------------------------------------
# L53 — bigram surprisal: per-doc mean conditional negative log
# likelihood -ln(cnt(w1,w2)/cnt_left(w1)) under the corpus bigram LM.
# The sequence-aware upgrade of l45's unigram surprisal; same float
# protocol (floor(avg*10000)/10000 — ln and avg are IEEE-identical
# across engines on the same rationals). Counts partial-aggregate
# before their shuffles; the LM joins are SHUFFLE hash joins on
# (w1,w2)/(w1) by intent — at corpus scale the bigram table is far
# too large to broadcast (and forcing broadcast measured SLOWER even
# at sf0.1: serializing a 200k-row build side beats nobody).
# ---------------------------------------------------------------------------


def _l53(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    # project the token array ONCE: element_at(split(text), i) inside
    # the lambda re-splits the document per bigram (word_gram_array
    # rule)
    tk = F.col("__t")
    pairs = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(tk, 1, F.size(tk) - 1),
                    F.slice(tk, 2, F.size(tk) - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    # pairs feeds TWO consumers (the bigram LM and the scoring join) —
    # truncate lineage so the interpreted bigram explode runs once per
    # execution, not per consumer (the l75 rule). Materialize it
    # ALREADY hash-partitioned on (w1, w2): the checkpointed layout
    # satisfies both the LM groupBy and the scoring join's required
    # distribution, so the corpus is shuffled ONCE on the bigram key
    # instead of twice (r12 shave; explicit numPartitions keeps the
    # exchange AQE-exempt)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pairs = pairs.repartition(n_shuffle, "w1", "w2").localCheckpoint(
        eager=False
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # the left-context LM is the bigram LM's row-sum (c1 = Σ_w2 c2 by
    # definition), so it aggregates the VOCABULARY-sized bigram table,
    # not the corpus-sized pair stream; pre-joining the two LMs gives
    # the scorer ONE corpus-sized join against a per-bigram NLL table
    # instead of two
    left = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lm = big.join(left, "w1").select(
        "w1", "w2", (-F.log(F.col("c2") / F.col("c1"))).alias("nll")
    )
    return (
        ordered_result(pairs.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.floor(F.avg("nll") * 10000) / 10000).alias("avg_bigram_nll"),
        ), "doc_id")
    )


_l(
    "l53_bigram_surprisal",
    "per-doc mean bigram conditional NLL under the corpus bigram LM",
    _l53,
    """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
pairs AS (
  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM t
        WHERE len(w) >= 2)
),
big AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY w1, w2),
lft AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       floor(AVG(-ln(CAST(c2 AS DOUBLE) / c1)) * 10000)/10000 AS avg_bigram_nll
FROM pairs JOIN big USING (w1, w2) JOIN lft USING (w1)
GROUP BY doc_id ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L45 family (LM scoring)",
)

# ---------------------------------------------------------------------------
# L54 — normalized-text dedup: exact dedup AFTER normalization
# (lowercase/strip/collapse) — catches trivially-reformatted copies
# that byte-exact l01 misses. Output is the duplicate clusters only
# (md5 of the normalized form keeps the row narrow), keep = min id.
# ---------------------------------------------------------------------------


def _l54(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    norm = TX.normalize_text(F.col("text"))
    return (
        ordered_result(docs.select("doc_id", F.md5(norm).alias("norm_md5"))
        .groupBy("norm_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") >= 2), "keep_id")
    )


_l(
    "l54_normalized_dedup",
    "exact dedup on normalized text (md5 clusters, keep = min id)",
    _l54,
    """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS norm_md5,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM documents
GROUP BY 1 HAVING count(*) >= 2
ORDER BY keep_id
""",
    ref="SURVEY.md §2.4 L01/L20 composition",
)

# ---------------------------------------------------------------------------
# L55 — prefix-duplicate clusters: docs sharing an identical
# first-16-token prefix (template intros / mirrored boilerplate that
# full-document hashing misses). One hash-aggregate on the md5 of the
# prefix; never materializes pairwise comparisons.
# ---------------------------------------------------------------------------


def _l55(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 16
    docs = _par_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    prefix = F.concat_ws(" ", F.slice(toks, 1, k))
    return (
        ordered_result(docs.filter(F.size(toks) >= k)
        .select("doc_id", F.md5(prefix).alias("prefix_md5"))
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2), "min_doc")
    )


_l(
    "l55_prefix_dup_clusters",
    "identical first-16-token prefix clusters (template/boilerplate intros)",
    _l55,
    """
SELECT md5(array_to_string(t[1:16], ' ')) AS prefix_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS min_doc
FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
WHERE len(t) >= 16
GROUP BY 1 HAVING count(*) >= 2
ORDER BY min_doc
""",
    ref="SURVEY.md §2.4 L43 family (boilerplate detection)",
)

# ---------------------------------------------------------------------------
# L56 — Heaps'-law vocabulary growth: cumulative distinct-word count
# at each doc-count decile, computed WITHOUT any cumulative distinct
# scan — each word reduces to its first-appearance doc id (one hash
# aggregate over tokens), then a 10-row decile spine joins against
# O(vocab) firsts. Same first-appearance trick as r57.
# ---------------------------------------------------------------------------


def _l56(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    firsts = toks.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    spine = spark.range(1, 11).select(F.col("id").alias("decile"))
    return (
        ordered_result(firsts.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(spine))
        .filter(
            F.col("first_doc")
            < F.expr("CAST(ceil(n_docs * decile / 10.0) AS BIGINT)")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("vocab_size")), "decile")
    )


_l(
    "l56_heaps_vocab_growth",
    "cumulative vocabulary size at doc-count deciles (Heaps' law curve)",
    _l56,
    """
WITH firsts AS (
  SELECT word, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY word
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT decile, CAST(count(*) AS BIGINT) AS vocab_size
FROM firsts, n, (SELECT unnest(generate_series(1, 10)) AS decile)
WHERE first_doc < CAST(ceil(n_docs * decile / 10.0) AS BIGINT)
GROUP BY decile ORDER BY decile
""",
    ref="SURVEY.md §2.4 L34 family (vocabulary statistics)",
)

# ---------------------------------------------------------------------------
# MM05 — modality mix accounting: per-modality volume/size/dedup stats
# over the mixed media table — the planning view a multimodal ingest
# runs before deciding partition sizing per modality. Pure hash
# aggregate over typed metadata; payloads are never read (the scan
# prunes to media_type + meta).
# ---------------------------------------------------------------------------


def _mm05(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media_mixed(docs)
    return (
        ordered_result(media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("meta.n_bytes").alias("total_bytes"),
            F.expr("SUM(meta.n_bytes) DIV COUNT(*)").alias("avg_bytes"),
            F.count_distinct("meta.sha256").alias("n_distinct"),
        ), "media_type")
    )


_l(
    "mm05_modality_mix_stats",
    "per-modality volume/size/dedup accounting over typed media metadata",
    _mm05,
    """
SELECT media_type,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(n_bytes) // count(*) AS BIGINT) AS avg_bytes,
       CAST(count(DISTINCT sha) AS BIGINT) AS n_distinct
FROM (
  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS sha
  FROM documents
)
GROUP BY media_type ORDER BY media_type
""",
    ref="SURVEY.md §2.4 MM01 family (multimodal metadata)",
)

# ---------------------------------------------------------------------------
# L57 — MinHash estimator accuracy audit over the LSH candidate set:
# est vs exact Jaccard per candidate pair with abs error in basis
# points. Rows-only by design (xxhash64 signatures are not
# SQL-portable); the MAE bound is asserted in tests/test_scale_ops.py
# — this is the harness that justifies (num_hashes, bands) before the
# approximate path is trusted at scale.
# ---------------------------------------------------------------------------


def _l57(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.dedup import minhash_estimate_audit

    docs = _par_table(spark, sf_dir, "documents")
    return ordered_result(minhash_estimate_audit(docs, "doc_id", "text"), 
        "doc_a", "doc_b"
    )


_l(
    "l57_minhash_accuracy_audit",
    "MinHash estimate vs exact Jaccard on LSH candidates (abs error bp)",
    _l57,
    None,
    ref="SURVEY.md §2.4 L06 family (LSH-then-verify)",
)

# ---------------------------------------------------------------------------
# L58 — dedup survivorship accounting: per source, how many docs
# survive exact-content dedup (keep = min doc id per md5 cluster) —
# the per-feed attrition report a curation pipeline publishes after
# every dedup pass. Two hash aggregates; the cluster table is
# O(distinct contents).
# ---------------------------------------------------------------------------


def _l58(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    keep = (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
        .select(F.col("keep_id").alias("doc_id"))
        .withColumn("kept", F.lit(1))
    )
    return (
        ordered_result(docs.join(keep, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("kept"), F.lit(0)).alias("n_kept"),
        )
        .withColumn(
            "survival_bp", F.expr("n_kept * 10000 DIV n_docs").cast("long")
        ), "source")
    )


_l(
    "l58_dedup_survivorship",
    "per-source survival rate after exact-content dedup (basis points)",
    _l58,
    """
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS survival_bp
FROM documents d LEFT JOIN keep k USING (doc_id)
GROUP BY source ORDER BY source
""",
    ref="SURVEY.md §2.4 L01/L39 family (dedup reporting)",
)

# ---------------------------------------------------------------------------
# L59 — token-distribution drift between two corpus snapshots (split by
# doc_id parity as the deterministic stand-in for crawl N vs crawl
# N+1): add-1-smoothed KL divergence both directions over the union
# vocabulary — the monitoring statistic that catches a source mix
# shift before it poisons a training run. Scale: ONE hash aggregate
# over the token stream (conditional sums per half — no join of two
# token tables), O(vocab) rows after; ln/sum floored at 4 decimals per
# protocol #6.
# ---------------------------------------------------------------------------


def _l59(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(TX.tokens(F.col("text"))).alias("word"),
    )
    vocab = toks.groupBy("word").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("cnt_p"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cnt_q"),
    )
    tot = vocab.agg(
        F.sum("cnt_p").alias("tot_p"),
        F.sum("cnt_q").alias("tot_q"),
        F.count(F.lit(1)).alias("v"),
    )
    j = vocab.crossJoin(F.broadcast(tot))
    p = (F.col("cnt_p") + 1).cast("double") / (F.col("tot_p") + F.col("v"))
    q = (F.col("cnt_q") + 1).cast("double") / (F.col("tot_q") + F.col("v"))
    return j.agg(
        F.max("v").alias("vocab_size"),
        F.max("tot_p").alias("tokens_p"),
        F.max("tot_q").alias("tokens_q"),
        (F.floor(F.sum(p * F.log(p / q)) * 10000) / 10000).alias("kl_pq"),
        (F.floor(F.sum(q * F.log(q / p)) * 10000) / 10000).alias("kl_qp"),
    )


_l(
    "l59_token_distribution_drift",
    "add-1-smoothed KL divergence of token distributions between two "
    "snapshot halves (corpus drift monitor)",
    _l59,
    """
WITH toks AS (
  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS word
  FROM documents
), vocab AS (
  SELECT word,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS cnt_p,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cnt_q
  FROM toks GROUP BY word
), tot AS (
  SELECT SUM(cnt_p) AS tot_p, SUM(cnt_q) AS tot_q, count(*) AS v
  FROM vocab
)
SELECT CAST(max(v) AS BIGINT) AS vocab_size,
       CAST(max(tot_p) AS BIGINT) AS tokens_p,
       CAST(max(tot_q) AS BIGINT) AS tokens_q,
       floor(SUM((CAST(cnt_p + 1 AS DOUBLE) / (tot_p + v))
                 * ln((CAST(cnt_p + 1 AS DOUBLE) / (tot_p + v))
                      / (CAST(cnt_q + 1 AS DOUBLE) / (tot_q + v))))
             * 10000) / 10000 AS kl_pq,
       floor(SUM((CAST(cnt_q + 1 AS DOUBLE) / (tot_q + v))
                 * ln((CAST(cnt_q + 1 AS DOUBLE) / (tot_q + v))
                      / (CAST(cnt_p + 1 AS DOUBLE) / (tot_p + v))))
             * 10000) / 10000 AS kl_qp
FROM vocab CROSS JOIN tot
""",
    ref="SURVEY.md §2.4 L34/L45 family (corpus statistics)",
)

# ---------------------------------------------------------------------------
# L60 — token burstiness/dispersion profile for the top-20 corpus
# tokens: document frequency, total count, max per-doc count and the
# integer sum of squared per-doc counts (variance numerator) — the
# function-word vs content-word separator tokenizer design reads.
# Scale: per-(doc, word) counts are one hash aggregate; the top-20
# vocab is a distributed TakeOrdered broadcast back as a semi-join
# (l46 pattern). All outputs integer-exact.
# ---------------------------------------------------------------------------


def _l60(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("word")
    )
    per_doc = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    top = (
        per_doc.groupBy("word")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
        .select("word")
    )
    return (
        ordered_result(per_doc.join(F.broadcast(top), "word", "left_semi")
        .groupBy("word")
        .agg(
            F.sum("c").alias("total_cnt"),
            F.count(F.lit(1)).alias("n_docs"),
            F.max("c").alias("max_doc_cnt"),
            F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        ), F.col("total_cnt").desc(), "word")
    )


_l(
    "l60_token_burstiness",
    "dispersion profile of the top-20 tokens: doc frequency, max "
    "per-doc count, integer variance numerator",
    _l60,
    """
WITH per_doc AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
  GROUP BY doc_id, word
), top AS (
  SELECT word FROM per_doc GROUP BY word
  ORDER BY SUM(c) DESC, word LIMIT 20
)
SELECT word,
       CAST(SUM(c) AS BIGINT) AS total_cnt,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(c) AS BIGINT) AS max_doc_cnt,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq
FROM per_doc SEMI JOIN top USING (word)
GROUP BY word
ORDER BY total_cnt DESC, word
""",
    ref="SURVEY.md §2.4 L34/L46 family (vocabulary design)",
)

# ---------------------------------------------------------------------------
# L61 — dedup-pipeline retention funnel: documents remaining after each
# successive dedup stage (raw → exact text → normalized text →
# first-16-token prefix key) in one monotone report — the census a
# data lead reads before picking which stages to pay for at crawl
# scale. Each stage is one distinct-count aggregate; stages reuse the
# exact keys of l01/l54/l55 so the funnel is consistent with those
# operators' outputs.
# ---------------------------------------------------------------------------


def _l61(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    norm = TX.normalize_text(F.col("text"))
    toks = TX.tokens(F.col("text"))
    prefix_key = F.when(
        F.size(toks) >= 16, F.md5(F.concat_ws(" ", F.slice(toks, 1, 16)))
    ).otherwise(F.md5(F.col("text")))
    keyed = docs.select(
        F.col("text"),
        norm.alias("norm"),
        prefix_key.alias("pkey"),
    )

    def stage(order_, name, col_):
        return keyed.agg(
            F.lit(order_).alias("stage_order"),
            F.lit(name).alias("stage"),
            (
                F.count_distinct(col_)
                if col_ is not None
                else F.count(F.lit(1))
            ).alias("docs_remaining"),
        )

    return (
        ordered_result(stage(1, "raw", None)
        .unionByName(stage(2, "exact_text", F.col("text")))
        .unionByName(stage(3, "normalized_text", F.col("norm")))
        .unionByName(stage(4, "prefix16_key", F.col("pkey"))), "stage_order")
    )


_l(
    "l61_dedup_funnel",
    "retention funnel across successive dedup stages (raw, exact, "
    "normalized, prefix-key)",
    _l61,
    """
WITH keyed AS (
  SELECT text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]',
                                            ' ', 'g'),
                             ' +', ' ', 'g')) AS norm,
         CASE WHEN len(string_split(text, ' ')) >= 16
              THEN md5(array_to_string(string_split(text, ' ')[1:16], ' '))
              ELSE md5(text) END AS pkey
  FROM documents
)
SELECT 1 AS stage_order, 'raw' AS stage,
       CAST(count(*) AS BIGINT) AS docs_remaining FROM keyed
UNION ALL
SELECT 2, 'exact_text', CAST(count(DISTINCT text) AS BIGINT) FROM keyed
UNION ALL
SELECT 3, 'normalized_text', CAST(count(DISTINCT norm) AS BIGINT) FROM keyed
UNION ALL
SELECT 4, 'prefix16_key', CAST(count(DISTINCT pkey) AS BIGINT) FROM keyed
ORDER BY stage_order
""",
    ref="SURVEY.md §2.4 L01/L54/L55 composition",
)

# ---------------------------------------------------------------------------
# L62 — embedding-norm hygiene audit per label: distribution of int8-
# quantized squared norms plus an INTEGER-EXACT outlier count (vectors
# whose quantized norm² deviates from the label mean by more than 2x
# the label's mean absolute deviation). Quantization (l19 semantics)
# makes every comparison integer arithmetic — no float-boundary hash
# risk. Scale: two hash aggregates on label (tiny key set but tiny
# rows too — norms reduce per-row map-side first).
# ---------------------------------------------------------------------------


def _l62(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _par_table(spark, sf_dir, "embeddings")
    # inline the int8_quantize (operators/similarity.py:258) expression
    # with label retained — joining the quantize output back to labels
    # on vec_id would shuffle the corpus against itself for nothing
    v = F.col("embedding")
    # Hoist the max-abs scale into a REAL column before the quantize
    # lambda references it: an expression captured inside a
    # higher-order lambda is re-evaluated PER OUTPUT ELEMENT (the
    # word_gram_array rule), so the old inline `safe` — embedding
    # array_max(transform(v, abs)) — made the quantize+fold O(d²)
    # interpreted work per row. What keeps `__mx` from being
    # re-inlined is CollapseProject's rule against duplicating a
    # non-cheap alias referenced more than once (safe reads it twice
    # via when/otherwise) — not output membership (normsq's select
    # drops it; ADVICE r13).
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    staged = emb.select("vec_id", "label", v.alias("__v"), mx.alias("__mx"))
    safe = F.when(F.col("__mx") == 0.0, F.lit(1.0)).otherwise(F.col("__mx"))
    qcol = F.transform(
        F.col("__v"),
        lambda x: F.round(x.cast("double") * 127.0 / safe).cast("int"),
    )
    normsq = staged.select(
        "vec_id",
        "label",
        F.aggregate(
            qcol,
            F.lit(0).cast("bigint"),
            lambda a, x: a + x.cast("bigint") * x.cast("bigint"),
        ).alias("nsq"),
    )
    from pyspark.sql import Window

    # One linear job, no checkpoint, no broadcasts (r14 opt round;
    # guide §2.4). The old shape fanned normsq into FOUR consumers —
    # a lazy checkpoint, two per-label hash aggregates, two BROADCAST
    # builds (each its own driver job) and two joins: ~0.85 s of pure
    # stage/broadcast latency around a 0.30 s nsq compute (isolated,
    # commit 1d71762). Scale shape: rows with equal (label,
    # nsq) are interchangeable for every statistic below, and nsq
    # lives in the BOUNDED domain [0, d·127²] — so the per-row frame
    # first compresses to (label, nsq, weight) through an ordinary
    # hash aggregate (map-side combinable; the exchange carries at
    # most the value domain per mapper, never the corpus), and only
    # the compressed frame — ≤ |domain| rows per label — flows into
    # the label-partitioned windows. A window directly over the raw
    # rows would put an entire label on ONE task (labels are
    # low-cardinality); over the compressed frame the per-task row
    # count is domain-bounded regardless of corpus size. The final
    # per-label aggregate rides the window's partitioning. Arithmetic
    # is the IDENTICAL integer protocol, weighted: n = Σw,
    # s = Σ nsq·w, dev = |nsq·n − s| per distinct nsq,
    # dev_sum = Σ dev·w, and the strict 2×-MAD test dev·n > dev_sum·2
    # counts w per qualifying value; a label with zero outliers sums
    # 0 literals, reproducing the old coalesce(n_outliers, 0).
    # NULL labels are dropped explicitly: the oracle's
    # `JOIN … USING (label)` never matches them.
    w = Window.partitionBy("label")
    devs = (
        normsq.filter(F.col("label").isNotNull())
        .groupBy("label", "nsq")
        .agg(F.count(F.lit(1)).alias("__w"))
        .withColumn("n", F.sum("__w").over(w))
        .withColumn("s", F.sum(F.col("nsq") * F.col("__w")).over(w))
        .withColumn("dev", F.abs(F.col("nsq") * F.col("n") - F.col("s")))
        .withColumn("dev_sum", F.sum(F.col("dev") * F.col("__w")).over(w))
    )
    return (
        ordered_result(
            devs.groupBy("label").agg(
                F.max("n").alias("n"),
                F.max("dev_sum").alias("dev_sum"),
                F.max("dev").alias("max_dev"),
                F.sum(
                    F.when(
                        F.col("dev") * F.col("n") > F.col("dev_sum") * 2,
                        F.col("__w"),
                    ).otherwise(F.lit(0))
                )
                .cast("bigint")
                .alias("n_outliers"),
            ),
            "label",
        )
    )


_l(
    "l62_embedding_norm_outliers",
    "per-label quantized-norm outlier audit (integer-exact deviation "
    "vs 2x mean absolute deviation)",
    _l62,
    """
WITH q AS (
  SELECT vec_id, label,
         (SELECT COALESCE(SUM(CAST(round(x * 127.0 /
                    (CASE WHEN m = 0 THEN 1.0 ELSE m END)) AS BIGINT)
                  * CAST(round(x * 127.0 /
                    (CASE WHEN m = 0 THEN 1.0 ELSE m END)) AS BIGINT)), 0)
          FROM unnest(embedding) AS t(x)) AS nsq
  FROM (SELECT vec_id, label, embedding,
               (SELECT MAX(ABS(CAST(x AS DOUBLE)))
                FROM unnest(embedding) AS t(x)) AS m
        FROM embeddings)
), stats AS (
  SELECT label, count(*) AS n, SUM(nsq) AS s FROM q GROUP BY label
), devs AS (
  SELECT q.label, stats.n, ABS(q.nsq * stats.n - stats.s) AS dev
  FROM q JOIN stats USING (label)
), mad AS (
  SELECT label, max(n) AS n, SUM(dev) AS dev_sum, max(dev) AS max_dev
  FROM devs GROUP BY label
)
SELECT mad.label, CAST(mad.n AS BIGINT) AS n,
       CAST(mad.dev_sum AS BIGINT) AS dev_sum,
       CAST(mad.max_dev AS BIGINT) AS max_dev,
       CAST(COALESCE((SELECT count(*) FROM devs d
                      WHERE d.label = mad.label
                        AND d.dev * d.n > mad.dev_sum * 2), 0) AS BIGINT)
         AS n_outliers
FROM mad ORDER BY mad.label
""",
    ref="SURVEY.md §2.4 L19/L30 family (embedding hygiene)",
)

# ---------------------------------------------------------------------------
# L63 — cross-source duplication matrix: for every source pair, how
# many distinct texts appear in BOTH — the corpus-license/provenance
# view that tells you which feeds are re-crawls of each other before
# you weight them independently. Scale: texts reduce to (md5, source)
# pairs (hash aggregate), the pair join is on the hash key (even
# shuffle); output is O(sources²) — tiny.
# ---------------------------------------------------------------------------


def _l63(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hs = (
        docs.select(F.md5("text").alias("h"), "source")
        .distinct()
    )
    a = hs.select("h", F.col("source").alias("src_a"))
    b = hs.select("h", F.col("source").alias("src_b"))
    return (
        ordered_result(a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_texts")), "src_a", "src_b")
    )


_l(
    "l63_cross_source_dup_matrix",
    "distinct texts shared between each source pair (provenance "
    "duplication matrix)",
    _l63,
    """
WITH hs AS (
  SELECT DISTINCT md5(text) AS h, source FROM documents
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(count(*) AS BIGINT) AS n_shared_texts
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
""",
    ref="SURVEY.md §2.4 L01/L58 family (dedup analytics)",
)

# ---------------------------------------------------------------------------
# L64 — end-to-end pretraining-pipeline census: ONE DAG running the
# full ingest chain — quality gate (l51 bounds) → exact dedup (keep
# min doc_id per text) → deterministic 90/5/5 split (the exact l49 hex-prefix rule) —
# and reporting per-split document and token counts. The flagship
# composition: every stage is an operator the registry gates
# individually; this query pins that they compose without collects or
# extra shuffles beyond each stage's own. Scale: gate is map-side,
# dedup is one (hash → min-id) aggregate + self-join on the winner
# ids, split assignment is a pure hash map; final rollup is O(3).
# ---------------------------------------------------------------------------


def _l64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*TX.STOPWORDS)))
    gated = docs.filter(
        (n_words >= 20)
        & (n_words <= 1000)
        & (n_stop * 100 >= n_words * 5)
        & (n_stop * 100 <= n_words * 60)
    ).select("doc_id", "text", n_words.alias("n_tokens"))
    winners = gated.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    kept = gated.join(winners.select("doc_id"), "doc_id", "left_semi")
    # hex-prefix buckets, the exact l49 rule (engine-portable: pure
    # string comparison, no hex->int cast divergence)
    b = F.substring(F.md5(F.col("text")), 1, 2)
    split = (
        F.when(b < F.lit("e6"), "train")
        .when(b < F.lit("f3"), "val")
        .otherwise("test")
    )
    return (
        ordered_result(kept.select(split.alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        ), "split")
    )


_l(
    "l64_pipeline_census",
    "end-to-end quality-gate -> exact-dedup -> hash-split census "
    "(per-split doc and token counts in one DAG)",
    _l64,
    """
WITH gated AS (
  SELECT doc_id, text, n_words AS n_tokens
  FROM (
    SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_words,
           len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS n_stop
    FROM documents
  )
  WHERE n_words >= 20 AND n_words <= 1000
    AND n_stop * 100 >= n_words * 5
    AND n_stop * 100 <= n_words * 60
), winners AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY text
), kept AS (
  SELECT g.* FROM gated g SEMI JOIN winners w ON g.doc_id = w.doc_id
)
SELECT CASE WHEN b < 'e6' THEN 'train'
            WHEN b < 'f3' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM (
  SELECT n_tokens, substr(md5(text), 1, 2) AS b
  FROM kept
)
GROUP BY 1 ORDER BY split
""",
    ref="SURVEY.md §2.4 L49/L51 composition (the full ingest chain)",
)

# ---------------------------------------------------------------------------
# L65 — PMI collocations: top-50 adjacent word pairs by pointwise
# mutual information, min-count 5 — the classic collocation miner a
# tokenizer team runs to decide merge candidates. PMI = ln(c12 * N /
# (c1 * c2)) over adjacent-pair counts; counts exact, PMI floored at
# 4 decimals (protocol #6), ranked by (pmi, w1, w2) with a
# distributed TakeOrdered — never a global sort of the vocab.
# Scale: bigram + unigram aggregates shuffle on the gram keys (even,
# high-cardinality); the two count joins are shuffle joins BY INTENT
# (a corpus-scale vocab cannot broadcast — the l53 rule).
# ---------------------------------------------------------------------------


def _l65(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    # once-projected tokens (the word_gram_array rule): the bigram
    # lambda otherwise re-splits the document per pair
    tk = F.col("__t")
    toked = docs.select(F.split(F.col("text"), " ").alias("__t"))
    pairs = (
        toked.filter(F.size("__t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(tk, 1, F.size(tk) - 1),
                    F.slice(tk, 2, F.size(tk) - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    uni = (
        toked.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    n_tok = uni.agg(F.sum("c").alias("n"))
    pmi = F.floor(
        F.log(
            F.col("c12").cast("double")
            * F.col("n")
            / (F.col("ca") * F.col("cb"))
        )
        * 10000
    ) / 10000
    return (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(50)
    )


_l(
    "l65_pmi_collocations",
    "top-50 adjacent-pair collocations by PMI (min count 5)",
    _l65,
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pairs AS (
  SELECT t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
  WHERE len(t) >= 2
), uni AS (
  SELECT unnest(t) AS w FROM toks
), ucnt AS (
  SELECT w, count(*) AS c FROM uni GROUP BY w
), n AS (SELECT SUM(c) AS n FROM ucnt),
big AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2
  HAVING count(*) >= 5
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       floor(ln(CAST(c12 AS DOUBLE) * n.n / (a.c * b.c)) * 10000) / 10000
         AS pmi
FROM big
JOIN ucnt a ON a.w = big.w1
JOIN ucnt b ON b.w = big.w2
CROSS JOIN n
ORDER BY pmi DESC, w1, w2
LIMIT 50
""",
    ref="SURVEY.md §2.4 L53 family (bigram statistics)",
)

# ---------------------------------------------------------------------------
# L66 — duplicate-ngram coverage per doc: what fraction (basis
# points) of each document's word-5-gram occurrences also occur in at
# least one OTHER document — the per-doc "how much of this is copied
# boilerplate" score (l43 finds the shingles; this charges them back
# to documents). Scale: gram doc-frequency is one hash aggregate;
# the membership join is on the gram hash (even shuffle); per-doc
# rollup shuffles once on doc_id. Integer basis points — bit-exact.
# ---------------------------------------------------------------------------


def _l66(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 5
    docs = _par_table(spark, sf_dir, "documents")
    from graal_cdc_spark.operators.text import word_gram_array

    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__t")
    ).filter(F.size("__t") >= k)
    grams = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                word_gram_array(F.col("__t"), k), lambda s: F.md5(s)
            )
        ).alias("g"),
    )
    # docs containing each gram: per-doc distinctness rides
    # array_distinct INSIDE the row (no (doc_id, g) dedup exchange —
    # the old grams.distinct() shuffled the full gram stream once
    # just to dedup within documents; r13 opt round, guide §2.4),
    # then one hash aggregate on the gram
    distinct_g = toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    word_gram_array(F.col("__t"), k), lambda s: F.md5(s)
                )
            )
        ).alias("g"),
    )
    df_per_gram = distinct_g.groupBy("g").agg(
        F.count(F.lit(1)).alias("ndocs")
    )
    return (
        ordered_result(grams.join(df_per_gram, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .withColumn("shared_bp", F.expr("10000 * n_shared div n_grams")), "doc_id")
    )


_l(
    "l66_dup_ngram_coverage",
    "per-doc share (bp) of word-5-gram occurrences that appear in "
    "other documents (copied-content score)",
    _l66,
    """
WITH grams AS (
  SELECT doc_id,
         md5(array_to_string(t[i:i+4], ' ')) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)
  WHERE len(t) >= 5
), dfg AS (
  SELECT g, count(*) AS ndocs
  FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST((10000 * SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS shared_bp
FROM grams JOIN dfg USING (g)
GROUP BY doc_id ORDER BY doc_id
""",
    ref="SURVEY.md §2.4 L43/L52 family (contamination accounting)",
)

# ---------------------------------------------------------------------------
# L67 — hard-negative mining for contrastive training: for each query
# vector, the single most-similar vector with a DIFFERENT label (the
# hardest negative). Same broadcast-queries x one-corpus-scan shape as
# l04 — no shuffle of the corpus, JVM-side cosine fold — plus the
# label inequality pushed into the pair filter. Scale path for the
# full-corpus variant is the IVF index (l33); this is the exact gate.
# ---------------------------------------------------------------------------


def _l67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from graal_cdc_spark.sources.tables import with_min_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    # norms are per-VECTOR quantities: computing them once per side
    # before the pair join (instead of inside a per-pair cosine) cuts
    # the higher-order array work per pair from 3 passes to 1 — the
    # per-pair expression is just the dot product, divided by the two
    # precomputed norms (same sqrt(dot(v,v)) values, so bitwise equal)
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 30).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").cast("array<double>").alias("qv"),
        ).withColumn("qn", S.l2_norm(F.col("qv")))
    )
    # min-parallelism on the candidate side only — the 60k-pair dot
    # stage is compute-heavy and serializes on a single-row-group scan
    c = with_min_parallelism(
        spark,
        emb.select(
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.col("embedding").cast("array<double>").alias("cv"),
        ),
    ).withColumn("cn", S.l2_norm(F.col("cv")))
    pairs = q.crossJoin(c).filter(F.col("qlabel") != F.col("neg_label"))
    sim = S.dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(
        F.col("sim_raw").desc(), F.col("neg_id").asc()
    )
    return (
        ordered_result(pairs.withColumn("sim_raw", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            "qlabel",
            "neg_id",
            "neg_label",
            (F.round(F.col("sim_raw"), 4) + F.lit(0.0)).alias("sim"),
        ), "qid")
    )


_l(
    "l67_hard_negative_mining",
    "hardest different-label neighbor (top-1 cosine) per query vector "
    "— contrastive-training negative mining",
    _l67,
    """
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 30
),
c AS (
  SELECT vec_id AS neg_id, label AS neg_label,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
sims AS (
  SELECT qid, qlabel, neg_id, neg_label,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) *
          sqrt(list_dot_product(cv, cv))) AS sim_raw
  FROM q, c
  WHERE qlabel <> neg_label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY sim_raw DESC, neg_id) AS rn
  FROM sims
)
SELECT qid, qlabel, neg_id, neg_label, round(sim_raw, 4) + 0 AS sim
FROM ranked WHERE rn = 1
ORDER BY qid
""",
    ref="SURVEY.md §2.4 L04 family (similarity search for training "
    "data); hard-negative mining is the contrastive-pair op",
)

# ---------------------------------------------------------------------------
# L68 — winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS): hash
# every word-5-gram, then keep only each window-of-4's MINIMUM hash —
# the classic guarantee that any shared run of >= w+k-1 tokens shares
# a selected fingerprint, at ~1/w the storage of all-shingles (l43/
# l66 keep every gram; this is the sublinear-index variant an actual
# 100 TB dedup index stores). The fingerprint SET is well-defined
# independent of tie-breaks because selection is by window-min VALUE.
# Everything is built-ins: md5 grams, a min over a 4-row window
# partitioned by the high-cardinality doc key, one distinct, one
# doc-frequency aggregate, one membership join on the fingerprint
# hash (even shuffle).
# ---------------------------------------------------------------------------


def _l68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k, w = 5, 4
    docs = _par_table(spark, sf_dir, "documents")
    from graal_cdc_spark.operators.text import word_gram_array

    toked = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__t")
    ).filter(F.size("__t") >= k + w - 1)
    grams = toked.select(
        "doc_id",
        F.posexplode(
            F.transform(
                word_gram_array(F.col("__t"), k), lambda s: F.md5(s)
            )
        ).alias("pos", "g"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), 0)
    )
    fps = (
        grams.withColumn("winmin", F.min("g").over(win))
        .filter(F.col("pos") >= w - 1)  # full windows only
        .select("doc_id", F.col("winmin").alias("fp"))
        .distinct()
    )
    dfp = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        ordered_result(fps.join(dfp, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
        .withColumn("shared_bp", F.expr("10000 * n_shared div n_fp")), "doc_id")
    )


_l(
    "l68_winnowing_fingerprints",
    "winnowed (window-min) 5-gram fingerprints per doc + cross-doc "
    "shared-fingerprint share (MOSS-style sublinear dup index)",
    _l68,
    """
WITH grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+4], ' ')) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)
  WHERE len(t) >= 8
), winmins AS (
  SELECT doc_id, pos,
         min(g) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS winmin
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, winmin AS fp
  FROM winmins WHERE pos >= 3
), dfp AS (
  SELECT fp, count(*) AS ndocs FROM fps GROUP BY fp
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST((10000 * SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS shared_bp
FROM fps JOIN dfp USING (fp)
GROUP BY doc_id ORDER BY doc_id
""",
    ref="Schleimer et al., Winnowing (SIGMOD'03); SURVEY.md §2.4 "
    "L43/L66 family at sublinear index size",
)

# ---------------------------------------------------------------------------
# L69 — source-pair vocabulary Jaccard: token-set overlap between
# every pair of sources — the corpus-provenance redundancy matrix at
# the VOCABULARY level (l63 is the shared-whole-text matrix). Per-
# source distinct tokens reduce first (hash aggregate), the pair
# intersection is an equality join on the token (even shuffle), and
# sizes come from one tiny broadcast join; output is O(sources^2).
# ---------------------------------------------------------------------------


def _l69(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    vocab = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        vocab.alias("a")
        .join(vocab.alias("b"), "w")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        ordered_result(inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("sz").alias("sz_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("sz").alias("sz_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("uni"),
            F.expr(
                "10000 * inter div (sz_a + sz_b - inter)"
            ).alias("jaccard_bp"),
        ), "src_a", "src_b")
    )


_l(
    "l69_source_vocab_jaccard",
    "pairwise source vocabulary Jaccard matrix in basis points "
    "(provenance redundancy at the token level)",
    _l69,
    """
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
  FROM documents
), sizes AS (
  SELECT source, count(*) AS sz FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
  FROM vocab a JOIN vocab b USING (w)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni,
       (10000 * inter) // (sa.sz + sb.sz - inter) AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
""",
    ref="SURVEY.md §2.4 L63 family (cross-source redundancy)",
)

# ---------------------------------------------------------------------------
# L70 — BPE pair statistics: the first iteration of byte-pair-encoding
# tokenizer training — adjacent CHARACTER pair frequencies across the
# corpus, weighted by word frequency (l65 is word-level PMI; this is
# the subword op). The distinct-word reduction happens FIRST (hash
# aggregate), so the per-character explode runs over the vocabulary,
# not the corpus — at 100 TB that is the difference between millions
# and trillions of generated rows. Top-50 pairs, exact counts.
# ---------------------------------------------------------------------------


def _l70(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )
    pairs = wc.select(
        "wcnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.struct(
                    F.col("w").substr(i, F.lit(1)).alias("c1"),
                    F.col("w").substr(i + 1, F.lit(1)).alias("c2"),
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.select("wcnt", "p.c1", "p.c2")
        .groupBy("c1", "c2")
        .agg(F.sum("wcnt").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "c1", "c2")
        .limit(50)
    )


_l(
    "l70_bpe_pair_frequencies",
    "adjacent character-pair frequencies weighted by word frequency "
    "(BPE tokenizer-training round 1), top-50",
    _l70,
    """
WITH wc AS (
  SELECT w, count(*) AS wcnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
), pairs AS (
  SELECT substring(w, i, 1) AS c1, substring(w, i + 1, 1) AS c2, wcnt
  FROM wc, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
)
SELECT c1, c2, CAST(SUM(wcnt) AS BIGINT) AS cnt
FROM pairs GROUP BY c1, c2
ORDER BY cnt DESC, c1, c2
LIMIT 50
""",
    ref="Sennrich et al., BPE (ACL'16); SURVEY.md §2.4 L34/L65 family",
)

# ---------------------------------------------------------------------------
# L71 — embedding-dimension covariance pairs: integer-exact covariance
# numerators (n*Σxy − Σx·Σy over milli-quantized values) for every
# dimension pair, top-20 by magnitude — the redundancy audit that says
# which dimensions carry duplicated signal (PCA/whitening candidates).
# NO self-join: each vector generates its own upper-triangle products
# via nested array lambdas map-side, and partial aggregation collapses
# them to O(d^2) keys before the only shuffle. Dimension sums ride a
# 64-row broadcast.
# ---------------------------------------------------------------------------


def _l71(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.sources.tables import with_min_parallelism

    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.floor(x * 1000).cast("long"),
    )
    # min-parallelism ONLY on the hot subtree: the upper-triangle
    # product explode (~dim²/2 structs per row) serializes on a
    # single-row-group scan; dims/n stay on the plain scan so the
    # round-robin exchange is paid once, not three times
    qd = with_min_parallelism(spark, emb.select(q.alias("q")))
    prods = qd.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("q") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("q")),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (
                                F.element_at(F.col("q"), i)
                                * F.element_at(F.col("q"), j)
                            ).alias("xy"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xy")
    sxy = prods.groupBy("i", "j").agg(F.sum("xy").alias("sxy"))
    dims = (
        emb.select(F.posexplode(q).alias("d0", "x"))
        .select((F.col("d0") + 1).alias("d"), "x")
        .groupBy("d")
        .agg(F.sum("x").alias("sx"))
    )
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    out = (
        sxy.join(
            F.broadcast(dims.select(F.col("d").alias("i"), F.col("sx").alias("sxi"))),
            "i",
        )
        .join(
            F.broadcast(dims.select(F.col("d").alias("j"), F.col("sx").alias("sxj"))),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            (F.col("n") * F.col("sxy") - F.col("sxi") * F.col("sxj")).alias(
                "cov_num"
            ),
        )
    )
    return out.orderBy(F.abs(F.col("cov_num")).desc(), "i", "j").limit(20)


_l(
    "l71_dim_covariance_pairs",
    "top-20 embedding-dimension pairs by integer-exact covariance "
    "numerator (redundancy audit; upper-triangle products map-side)",
    _l71,
    """
WITH qd AS (
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS q
  FROM embeddings
), prods AS (
  SELECT i, j, q[i] * q[j] AS xy
  FROM qd,
       LATERAL (SELECT unnest(generate_series(1, len(q) - 1)) AS i),
       LATERAL (SELECT unnest(generate_series(i + 1, len(q))) AS j)
), sxy AS (
  SELECT i, j, SUM(xy) AS sxy FROM prods GROUP BY i, j
), dims AS (
  SELECT d, SUM(q[d]) AS sx
  FROM qd, LATERAL (SELECT unnest(generate_series(1, len(q))) AS d)
  GROUP BY d
), n AS (SELECT count(*) AS n FROM qd)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       CAST(n.n * sxy - di.sx * dj.sx AS BIGINT) AS cov_num
FROM sxy
JOIN dims di ON di.d = sxy.i
JOIN dims dj ON dj.d = sxy.j
CROSS JOIN n
ORDER BY abs(n.n * sxy - di.sx * dj.sx) DESC, i, j
LIMIT 20
""",
    ref="SURVEY.md §2.4 L30 family (embedding-space audits)",
)

# ---------------------------------------------------------------------------
# L72 — quality-gate ablation census: document counts for every
# combination of three independent quality gates (length, word count,
# digit ratio) — the curation question "which filter actually removes
# what, and how much do they overlap". One pass computes all flags
# (integer-exact digit ratio via length difference), one tiny 8-row
# aggregate, shares against the broadcast total.
# ---------------------------------------------------------------------------


def _l72(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    digits = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[0-9]", "")
    )
    flags = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("g_len"),
        F.when(F.size(toks) >= 40, 1).otherwise(0).alias("g_words"),
        F.when(digits * 100 < F.length("text") * 5, 1)
        .otherwise(0)
        .alias("g_digit"),
    )
    cells = flags.groupBy("g_len", "g_words", "g_digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        ordered_result(cells.withColumn(
            "share_bp",
            F.expr("10000 * n div sum(n) over ()"),
        ), "g_len", "g_words", "g_digit")
    )


_l(
    "l72_quality_gate_ablation",
    "doc counts + shares for every combination of three quality gates "
    "(filter-ablation census)",
    _l72,
    """
WITH flags AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS g_len,
         CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
           AS g_words,
         CASE WHEN (len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
                   * 100 < len(text) * 5 THEN 1 ELSE 0 END AS g_digit
  FROM documents
), cells AS (
  SELECT g_len, g_words, g_digit, count(*) AS n
  FROM flags GROUP BY 1, 2, 3
)
SELECT g_len, g_words, g_digit, CAST(n AS BIGINT) AS n,
       CAST((10000 * n) // SUM(n) OVER () AS BIGINT) AS share_bp
FROM cells
ORDER BY g_len, g_words, g_digit
""",
    ref="SURVEY.md §2.4 L09/L51 family (quality gates); ablation "
    "censuses are the curation-tuning op",
)

# ---------------------------------------------------------------------------
# L73 — target-mixture reweighting: per-source acceptance rates (bp)
# that reshape the corpus toward a uniform source mixture under a
# fixed total budget — the static domain-reweighting op (the DoReMi /
# data-mixture family, deterministic form). Capped at 10000 bp (never
# upsample), integer arithmetic throughout; O(sources) frame after
# one count aggregate.
# ---------------------------------------------------------------------------


def _l73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _par_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wtot = Window.partitionBy()
    t = counts.withColumn("total", F.sum("n").over(wtot)).withColumn(
        "n_sources", F.count(F.lit(1)).over(wtot)
    )
    t = t.withColumn(
        "target_n", F.expr("total div n_sources")
    ).withColumn(
        "rate_bp",
        F.least(F.lit(10000), F.expr("10000 * target_n div n")),
    ).withColumn(
        "expected_n", F.expr("n * rate_bp div 10000")
    )
    return ordered_result(t.select(
        "source", "n", "target_n", "rate_bp", "expected_n"
    ), "source")


_l(
    "l73_mixture_reweighting",
    "per-source acceptance rates (bp) toward a uniform source mixture "
    "under the corpus budget (static domain reweighting, never "
    "upsampled)",
    _l73,
    """
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
), t AS (
  SELECT source, n,
         SUM(n) OVER () AS total,
         COUNT(*) OVER () AS n_sources
  FROM counts
)
SELECT source, CAST(n AS BIGINT) AS n,
       CAST(total // n_sources AS BIGINT) AS target_n,
       CAST(least(10000, (10000 * (total // n_sources)) // n) AS BIGINT)
         AS rate_bp,
       CAST(n * least(10000, (10000 * (total // n_sources)) // n) // 10000
            AS BIGINT) AS expected_n
FROM t
ORDER BY source
""",
    ref="SURVEY.md §2.4 L38/L26 family (mixture shaping); DoReMi-style "
    "static reweighting",
)

# ---------------------------------------------------------------------------
# L74 — tokenizer fertility: BPE-ish tokens per whitespace word, per
# language, in milli-units — the standard tokenizer-efficiency metric
# (fertility ~1 means the pre-tokenizer rarely splits words; high
# fertility = the language pays more sequence length per word). Both
# counts are existing JVM-side expressions; one aggregate.
# ---------------------------------------------------------------------------


def _l74(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        TX.token_count(F.col("text")).cast("long").alias("words"),
        TX.bpe_token_count(F.col("text")).cast("long").alias("bpe"),
    )
    return (
        ordered_result(t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").alias("words"),
            F.sum("bpe").alias("bpe_tokens"),
        )
        .withColumn(
            "fertility_milli", F.expr("1000 * bpe_tokens div words")
        ), "lang")
    )


_l(
    "l74_tokenizer_fertility",
    "BPE-ish tokens per whitespace word (fertility, milli-units) per "
    "language — tokenizer-efficiency audit",
    _l74,
    """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
       CAST(SUM(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
       CAST((1000 * SUM(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))))
            // SUM(len(string_split(text, ' '))) AS BIGINT)
         AS fertility_milli
FROM documents
GROUP BY lang
ORDER BY lang
""",
    ref="SURVEY.md §2.4 L09/L34 family (tokenizer stats); fertility is "
    "the standard sequence-length-cost metric",
)

# ---------------------------------------------------------------------------
# L75 — SemDeDup census (Abbas et al. 2023): semantic dedup = cluster
# the embedding space (integer-exact k-means), then find near-dup
# pairs ONLY within a cluster and keep the lowest id per dup relation.
# Pair work is quadratic in CLUSTER SIZE, so the operator's scale
# contract is that k grows with the corpus (k ~ n / target size) —
# the probe measures the pair phase at proportional k
# (scripts/scale_probe.py); this gated query pins k=32 for its fixed
# dataset so the oracle's unrolled-CTE replay stays tractable.
#
# Everything is integer-exact so DuckDB replays it bit-for-bit:
# cos(a,b) >= 0.3  <=>  dot > 0 AND 100*dot^2 >= 9*|a|^2*|b|^2, with
# dot/norms on the scale=10^4 integer grid. dot <= 64*1e8 = 6.4e9, so
# dot^2 needs 128-bit: decimal(38,0) on Spark, HUGEINT in DuckDB.
# ---------------------------------------------------------------------------


def _l75(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _par_table: the centroid training passes evaluate a 32-struct
    # integer-distance expression per row — on the single-row-group
    # embeddings scan that stage serializes on one core without the
    # min-parallelism repartition (the l42/l20 rule).
    emb = _par_table(spark, sf_dir, "embeddings")
    # iters=1: each extra Lloyd round costs a full 32-struct assignment
    # pass (codegen of a ~2k-term integer-distance expression dominates
    # at this k); one round already separates the space for the pair
    # phase, and the oracle unrolls the same single round.
    return ordered_result(S.semdedup_census(emb, k=32, iters=1, scale=10_000), 
        "cid"
    )


_l(
    "l75_semdedup_census",
    "SemDeDup: within-cluster cosine>=0.3 near-dup pairs per k-means "
    "cluster; survivors keep the lowest id (integer-exact)",
    _l75,
    _kmeans_oracle(
        k=32,
        iters=1,
        final_sql="""
, m AS (
  SELECT f.pid, f.cid, p.x,
         CAST(list_sum(list_transform(p.x, v -> v * v)) AS BIGINT) AS n2
  FROM fin f JOIN pts p USING (pid)
), prs AS (
  SELECT a.cid, b.pid AS pb
  FROM m a JOIN m b ON a.cid = b.cid AND a.pid < b.pid
  WHERE CAST(list_sum(list_transform(generate_series(1, 64),
             i -> a.x[i] * b.x[i])) AS HUGEINT) > 0
    AND CAST(list_sum(list_transform(generate_series(1, 64),
             i -> a.x[i] * b.x[i])) AS HUGEINT)
      * CAST(list_sum(list_transform(generate_series(1, 64),
             i -> a.x[i] * b.x[i])) AS HUGEINT) * 100
      >= 9 * CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT)
), stats AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT pb) AS BIGINT) AS n_dropped
  FROM prs GROUP BY cid
)
SELECT CAST(f.cid AS INT) AS cid,
       CAST(count(*) AS BIGINT) AS n_points,
       COALESCE(any_value(s.n_pairs), 0) AS n_pairs,
       COALESCE(any_value(s.n_dropped), 0) AS n_dropped
FROM fin f LEFT JOIN stats s ON s.cid = f.cid
GROUP BY f.cid
ORDER BY cid
"""
    ),
    ref="SURVEY.md §2.4 L31/L08 family; SemDeDup (Abbas et al. 2023)",
)

# ---------------------------------------------------------------------------
# L76 — model-based quality gating with a FIXED-weight linear scorer:
# integer milli-unit features (unique-token ratio, stopword ratio,
# avg word length) combined with published-style static weights into a
# score, bucketed into bands, censused per source. This is the shape
# of classifier-based filtering (e.g. fasttext quality classifiers)
# with the model made deterministic so an oracle can replay it — the
# Spark plan (scan -> per-row JVM expressions -> hash aggregate) is
# identical to what a real linear scorer compiles to.
# ---------------------------------------------------------------------------


def _l76(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    t = F.col("text")
    words = TX.token_count(t)
    # All milli-features are exact integers (integer div / floor of an
    # integer-valued double) so the band boundary cannot drift between
    # engines; `div` (not cast-of-/) because DuckDB CAST rounds while
    # Spark cast truncates.
    uniq_milli = F.expr(
        "1000 * size(array_distinct(split(text, ' '))) div "
        "size(split(text, ' '))"
    )
    stop_milli = F.floor(TX.stopword_count(t) * 1000 / words)
    awl_milli = F.floor(
        F.length(F.replace(t, F.lit(" "), F.lit(""))) * 1000 / words
    )
    feats = docs.select(
        "source",
        words.cast("long").alias("words"),
        uniq_milli.alias("uniq_milli"),
        stop_milli.alias("stop_milli"),
        awl_milli.alias("awl_milli"),
    )
    scored = feats.select(
        "source",
        "words",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(5),
                F.expr(
                    "(300 + uniq_milli - 2 * stop_milli "
                    "+ (awl_milli div 10)) div 200"
                ),
            ),
        ).alias("band"),
    )
    return (
        ordered_result(scored.groupBy("source", "band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").alias("words"),
        ), "source", "band")
    )


_l(
    "l76_quality_model_bands",
    "fixed-weight linear quality scorer -> band census per source "
    "(deterministic classifier-based filtering)",
    _l76,
    """
WITH feats AS (
  SELECT source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         1000 * len(list_distinct(string_split(text, ' ')))
           // len(string_split(text, ' ')) AS uniq_milli,
         CAST(floor(len(list_filter(string_split(text, ' '),
              x -> x IN ('the','a','of','and','to','in','is','on')))
              * 1000.0 / len(string_split(text, ' '))) AS BIGINT)
           AS stop_milli,
         CAST(floor(length(replace(text, ' ', '')) * 1000.0
              / len(string_split(text, ' '))) AS BIGINT) AS awl_milli
  FROM documents
), scored AS (
  -- `//` floors while Spark's `div` truncates: they only differ on a
  -- negative score, which both engines then clamp to band 0.
  SELECT source, words,
         greatest(0, least(5,
           (300 + uniq_milli - 2 * stop_milli + (awl_milli // 10)) // 200))
           AS band
  FROM feats
)
SELECT source, band, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS words
FROM scored
GROUP BY source, band
ORDER BY source, band
""",
    ref="SURVEY.md §2.4 L09/L72 family; classifier-based quality "
    "filtering made deterministic",
)

# ---------------------------------------------------------------------------
# L77 — dedup threshold sensitivity: how many within-cluster pairs
# (and dropped docs) would each cosine threshold remove? ONE pair
# scan evaluates every candidate tau via conditional aggregation —
# the tuning table a curation team reads before fixing the SemDeDup
# threshold (sweeping tau by re-running the join would cost
# |taus| x the pair work). Thresholds compare integer-exactly:
# cos >= t  <=>  dot > 0 AND den*dot^2 >= num*|a|^2*|b|^2 with
# (num, den) = (t^2 * 100, 100).
# ---------------------------------------------------------------------------

_L77_TAUS = ((1, "0.10"), (4, "0.20"), (9, "0.30"), (16, "0.40"))


def _l77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.clustering import (
        kmeans_assigned_index,
    )

    emb = _par_table(spark, sf_dir, "embeddings")
    # the memoized (pid, cid, x, n2) index — assignment evaluates once
    # per session and every sweep re-run scans the materialized table
    # (a production threshold sweep tunes tau over a FIXED clustering)
    m = kmeans_assigned_index(emb, k=32, iters=1, scale=10_000)
    a, b = m.alias("a"), m.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.x"), F.col("b.x"), lambda p, q: p * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dd = dot.cast("decimal(38,0)")
    lhs = dd * dd * F.lit(100)
    rhs = (
        F.col("a.n2").cast("decimal(38,0)")
        * F.col("b.n2").cast("decimal(38,0)")
    )
    # The four thresholds are NESTED (hit@0.40 ⊆ hit@0.30 ⊆ … given
    # pos and increasing num), so instead of 4 conditional
    # countDistincts — which Catalyst plans as an Expand that
    # multiplies the pair stream ×5 before the shuffle — each pair
    # carries its MAX satisfied threshold level once, n_pairs(τ) is a
    # single conditional-sum pass, and n_dropped(τ) = count of pb
    # whose per-pb max level ≥ τ (one bounded groupBy on pb). Same
    # numbers, no Expand, no distinct aggregate.
    lvl = (
        F.when(~F.col("pos"), 0)
        .when(F.col("lhs") >= F.lit(16) * F.col("rhs"), 4)
        .when(F.col("lhs") >= F.lit(9) * F.col("rhs"), 3)
        .when(F.col("lhs") >= F.lit(4) * F.col("rhs"), 2)
        .when(F.col("lhs") >= F.lit(1) * F.col("rhs"), 1)
        .otherwise(0)
    )
    lp = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.pid") < F.col("b.pid")),
    ).select(
        F.col("b.pid").alias("pb"),
        (dot > 0).alias("pos"),
        lhs.alias("lhs"),
        rhs.alias("rhs"),
    ).select("pb", lvl.alias("lvl"))
    # ONE pass over the pair stream: per-pb partial pair counts + max
    # level (map-side combine on pb), then a bounded final aggregate —
    # the join output is consumed exactly once
    per_pb = lp.groupBy("pb").agg(
        F.max("lvl").alias("ml"),
        *[
            F.sum(F.when(F.col("lvl") >= i, 1).otherwise(0)).alias(f"c{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    out = per_pb.agg(
        *[F.sum(f"c{i}").alias(f"p{i}") for i in (1, 2, 3, 4)],
        *[
            F.sum(F.when(F.col("ml") >= i, 1).otherwise(0)).alias(f"d{i}")
            for i in (1, 2, 3, 4)
        ],
    )
    rows = []
    for i, (num, label) in enumerate(_L77_TAUS, start=1):
        rows.append(
            F.struct(
                F.lit(label).alias("tau"),
                # coalesce: a pair-free corpus leaves the global agg's
                # SUM NULL while the oracle's LEFT JOIN sweep emits 0
                F.coalesce(F.col(f"p{i}"), F.lit(0))
                .cast("long")
                .alias("n_pairs"),
                F.coalesce(F.col(f"d{i}"), F.lit(0))
                .cast("long")
                .alias("n_dropped"),
            )
        )
    return (
        ordered_result(out.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.tau", "r.n_pairs", "r.n_dropped"), "tau")
    )


_l(
    "l77_dedup_threshold_sweep",
    "SemDeDup threshold sensitivity: pairs/dropped docs at tau in "
    "{0.1,0.2,0.3,0.4} from ONE within-cluster pair scan",
    _l77,
    _kmeans_oracle(
        k=32,
        iters=1,
        final_sql="""
, m AS (
  SELECT f.pid, f.cid, p.x,
         CAST(list_sum(list_transform(p.x, v -> v * v)) AS BIGINT) AS n2
  FROM fin f JOIN pts p USING (pid)
), prs AS (
  SELECT b.pid AS pb,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> a.x[i] * b.x[i])) AS HUGEINT) AS dot,
         CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT) AS nn
  FROM m a JOIN m b ON a.cid = b.cid AND a.pid < b.pid
), sweep AS (
  SELECT * FROM (VALUES (1, '0.10'), (4, '0.20'), (9, '0.30'),
                        (16, '0.40')) AS t(num, tau)
)
SELECT s.tau,
       CAST(SUM(CASE WHEN p.dot > 0 AND p.dot * p.dot * 100 >= s.num * p.nn
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN p.dot > 0
                                 AND p.dot * p.dot * 100 >= s.num * p.nn
                                THEN p.pb END) AS BIGINT) AS n_dropped
FROM sweep s LEFT JOIN prs p ON TRUE
GROUP BY s.tau
ORDER BY s.tau
"""
    ),
    ref="SURVEY.md §2.4 L75 family; threshold-sweep tuning table",
)

# ---------------------------------------------------------------------------
# MM06 — webdataset-style shard packing: media rows packed into
# byte-budgeted shards per modality (the tar-shard builder step of a
# multimodal training pipeline). Cumulative-window packing (the l21
# rule: shard = bytes-before div budget — every shard <= budget except
# a single over-budget item, which gets its own shard), then a
# per-(modality, shard) census. One window + one aggregate; payload
# bytes never shuffle more than once.
# ---------------------------------------------------------------------------


def _mm06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media_mixed(docs).select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    w = (
        Window.partitionBy("media_type")
        .orderBy("media_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = 4096
    # Integer division on longs end-to-end: double division + cast
    # loses exactness once cumulative bytes pass 2^53 (ADVICE r5).
    sharded = media.withColumn(
        "cum", F.sum("n_bytes").over(w)
    ).withColumn(
        "shard", F.expr(f"(cum - n_bytes) div {budget}")
    ).drop("cum")
    return (
        ordered_result(sharded.groupBy("media_type", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("shard_bytes"),
        ), "media_type", "shard")
    )


_l(
    "mm06_shard_packing",
    "webdataset-style byte-budget shard packing per modality "
    "(cumulative window; per-shard census)",
    _mm06,
    """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
           AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), sharded AS (
  SELECT media_type,
         CAST((SUM(n_bytes) OVER (PARTITION BY media_type
                                  ORDER BY media_id
                                  ROWS UNBOUNDED PRECEDING) - n_bytes)
              // 4096 AS BIGINT) AS shard,
         n_bytes
  FROM media
)
SELECT media_type, shard, CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes
FROM sharded
GROUP BY media_type, shard
ORDER BY media_type, shard
""",
    ref="SURVEY.md §2.4 MM05/L21 family; webdataset shard building",
)

# ---------------------------------------------------------------------------
# L78 — product-quantization code census: train m integer codebooks
# (deterministic quantized k-means per dimension slice), encode every
# vector in ONE map stage (codebooks ride as literals — no shuffle, no
# Python), then census per (subspace, code): member count + total
# quantization error. This is the health view a PQ index build ships
# with (dead codewords, fat cells, reconstruction-error budget).
# Oracle: the l31 unrolled-k-means machinery applied PER SUBSPACE
# SLICE — m independent CTE chains over list_slice'd points.
# Rehearsed in tests/test_pq.py since round 6; registered round 7.
# ---------------------------------------------------------------------------


def pq_census(
    spark: SparkSession, sf_dir: str, m: int = 4, k: int = 8,
    iters: int = 1, scale: int = 10_000,
) -> DataFrame:
    from graal_cdc_spark.operators.pq import pq_encode, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=m, k=k, iters=iters, scale=scale)
    enc = pq_encode(emb, books, scale=scale, return_dists=True)
    return (
        enc.select(
            F.posexplode(F.arrays_zip("codes", "d2s")).alias("subspace", "z")
        )
        .groupBy("subspace", F.col("z.codes").alias("code"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("z.d2s").alias("total_d2"),
        )
        .orderBy("subspace", "code")
    )


def pq_census_oracle(
    m: int = 4, k: int = 8, iters: int = 1, scale: int = 10_000,
    dims: int = 64, training_only: bool = False,
) -> str:
    sub = dims // m
    parts = [
        f"""WITH base AS (
  SELECT vec_id AS pid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * {scale}) AS BIGINT)) AS x
  FROM embeddings
)"""
    ]
    finals = []
    for s in range(m):
        lo = s * sub + 1
        dist = (
            f"list_sum(list_transform(generate_series(1, {sub}), "
            f"i -> (p.x[i] - c.c[i]) * (p.x[i] - c.c[i])))"
        )
        parts.append(
            f"""
pts{s} AS (
  SELECT pid, list_slice(x, {lo}, {lo + sub - 1}) AS x FROM base
),
c{s}_0 AS (
  SELECT pid AS cid, x AS c FROM pts{s} WHERE pid < {k}
)"""
        )
        cur = f"c{s}_0"
        for it in range(1, iters + 1):
            parts.append(
                f"""
a{s}_{it}x AS (
  SELECT p.pid, c.cid, {dist} AS d
  FROM pts{s} p CROSS JOIN {cur} c
),
a{s}_{it} AS (
  SELECT pid, cid FROM (
    SELECT pid, cid,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM a{s}_{it}x
  ) t WHERE rk = 1
),
s{s}_{it} AS (
  SELECT a.cid, g.i AS dim,
         CAST(SUM(p.x[g.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a{s}_{it} a JOIN pts{s} p USING (pid)
  CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS i) g
  GROUP BY a.cid, g.i
),
c{s}_{it} AS (
  SELECT {cur}.cid, COALESCE(agg.c, {cur}.c) AS c
  FROM {cur} LEFT JOIN (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                ORDER BY dim) AS c
    FROM s{s}_{it} GROUP BY cid
  ) agg USING (cid)
)"""
            )
            cur = f"c{s}_{it}"
        if training_only:
            finals.append(
                f"SELECT {s} AS subspace, cid AS code, c FROM {cur}"
            )
            continue
        parts.append(
            f"""
fin{s}x AS (
  SELECT p.pid, c.cid, {dist} AS d
  FROM pts{s} p CROSS JOIN {cur} c
),
fin{s} AS (
  SELECT pid, cid, d FROM (
    SELECT pid, cid, d,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM fin{s}x
  ) t WHERE rk = 1
)"""
        )
        finals.append(
            f"SELECT {s} AS subspace, cid AS code, d FROM fin{s}"
        )
    body = ",".join(parts)
    union = " UNION ALL ".join(finals)
    if training_only:
        # the m per-subspace codebooks only (comparator build-once
        # line item — same role as kmeans_training_oracle)
        return body + f"\nSELECT * FROM ({union}) ORDER BY subspace, code\n"
    return (
        body
        + f""",
allcodes AS ({union})
SELECT CAST(subspace AS INT) AS subspace, CAST(code AS INT) AS code,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(SUM(d) AS BIGINT) AS total_d2
FROM allcodes
GROUP BY subspace, code
ORDER BY subspace, code
"""
    )


_l(
    "l78_pq_code_census",
    "product-quantization code census: per (subspace, code) member "
    "count + total quantization error from a single map-stage encode",
    pq_census,
    pq_census_oracle(),
    ref="SURVEY.md §2.4 ANN family (l12/l33 + operators/pq.py); "
    "Jégou et al. 2011 (PQ)",
)


# ---------------------------------------------------------------------------
# L79 — per-source quota cap (the Common-Crawl-style per-domain cap):
# admit at most CAP docs per source, chosen by a deterministic
# content-free hash rank (md5 of the doc id — portable to the oracle,
# unlike xxhash64), so the same corpus caps identically on any
# engine, any run, any partitioning. Census output: per source,
# total/kept/dropped and the surviving character mass.
#
# Scale: the rank window partitions by source (parallel across
# sources). A pathological mega-source serializes ITS rows into one
# task; the scale-right form for that case is a two-level cap — rank
# within (source, salt) first, keep per-salt top-CAP (a WindowGroupLimit
# scan), then re-rank the <= n_salts x CAP survivors — the same
# shape as r61's salted aggregate. The census semantics (full
# per-source counts) need the full scan either way.
# ---------------------------------------------------------------------------


def _l79(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cap = 20
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") <= cap
    return (
        ordered_result(ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            "kept_chars",
        ), "source")
    )


_l(
    "l79_source_quota_cap",
    "per-source admission cap by deterministic hash rank: "
    "total/kept/dropped docs + surviving character mass per source",
    _l79,
    """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(count(*) - sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM ranked
GROUP BY source
ORDER BY source
""",
    ref="SURVEY.md §2.4 L18/L26 sampling family; per-domain caps in "
    "web-corpus curation",
)


# ---------------------------------------------------------------------------
# L80 — persisted IVF-PQ probe, oracle-gated end to end: build the
# IVF-PQ index (operators/ann_index.py — cell k-means + per-subspace
# PQ codebooks + one-map-stage encode, atomically published), probe
# it through the PERSISTED artifacts (file-level cell pruning +
# integer ADC over stored codes), and gate the exact (qid, neighbor,
# adc_dist, rank) output against a DuckDB oracle that re-derives the
# WHOLE thing declaratively: unrolled full-vector Lloyd rounds for
# the cells, unrolled per-subspace Lloyd for the codebooks, argmin
# encode, n_probe nearest cells per query, ADC table sums, ranked
# top-k. Everything is integer-exact (the repo determinism protocol),
# so a filesystem round-trip through the published index must be
# bit-identical to the pure-SQL derivation — the strongest statement
# the gate can make about the ANN flagship.
#
# Smoke-scale params (cells=8×2 rounds, m=4, k=8, 1 round, queries
# pid<3, n_probe=2, top-5) keep the unrolled oracle tractable; the
# operators take the production sizes.
# ---------------------------------------------------------------------------

_L80 = dict(n_cells=8, cell_iters=2, m=4, k=8, pq_iters=1,
            n_probe=2, topk=5, n_queries=3, scale=10_000, dims=64)


def ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from graal_cdc_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_pq_index,
    )

    p = _L80
    emb = load_table(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="l80-ivfpq-") + "/index"
    build_ivf_index(
        emb, idx, n_cells=p["n_cells"], train_iters=p["cell_iters"],
        scale=p["scale"], pq_m=p["m"], pq_k=p["k"],
        pq_iters=p["pq_iters"],
    )
    return query_ivf_pq_index(
        spark, idx,
        emb.filter(F.col("vec_id") < p["n_queries"]),
        k=p["topk"], n_probe=p["n_probe"],
    ).orderBy("qid", "rank")


def ivfpq_probe_oracle() -> str:
    p = _L80
    sub = p["dims"] // p["m"]
    full_dist = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (p.x[i] - c.c[i]) * (p.x[i] - c.c[i])))"
    )
    parts = [
        f"""WITH pts AS (
  SELECT vec_id AS pid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * {p['scale']}) AS BIGINT)) AS x
  FROM embeddings
),
cc0 AS (
  SELECT pid AS cid, x AS c FROM pts WHERE pid < {p['n_cells']}
)"""
    ]
    cur = "cc0"
    for it in range(1, p["cell_iters"] + 1):
        parts.append(f"""
ca{it}x AS (
  SELECT p.pid, c.cid, {full_dist} AS d
  FROM pts p CROSS JOIN {cur} c
),
ca{it} AS (
  SELECT pid, cid FROM (
    SELECT pid, cid,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM ca{it}x
  ) t WHERE rk = 1
),
cs{it} AS (
  SELECT a.cid, g.i AS dim,
         CAST(SUM(p.x[g.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM ca{it} a JOIN pts p USING (pid)
  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY a.cid, g.i
),
cc{it} AS (
  SELECT {cur}.cid, COALESCE(agg.c, {cur}.c) AS c
  FROM {cur} LEFT JOIN (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                ORDER BY dim) AS c
    FROM cs{it} GROUP BY cid
  ) agg USING (cid)
)""")
        cur = f"cc{it}"
    # final cell assignment over the trained centroids
    parts.append(f"""
cfinx AS (
  SELECT p.pid, c.cid, {full_dist} AS d
  FROM pts p CROSS JOIN {cur} c
),
cells AS (
  SELECT pid, cid FROM (
    SELECT pid, cid,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM cfinx
  ) t WHERE rk = 1
),
cellcent AS (SELECT cid, c FROM {cur})""")
    # per-subspace codebooks + encode (the l78 idiom, renamed)
    sub_dist = (
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"i -> (p.x[i] - c.c[i]) * (p.x[i] - c.c[i])))"
    )
    for s in range(p["m"]):
        lo = s * sub + 1
        parts.append(f"""
spts{s} AS (
  SELECT pid, list_slice(x, {lo}, {lo + sub - 1}) AS x FROM pts
),
b{s}_0 AS (
  SELECT pid AS cid, x AS c FROM spts{s} WHERE pid < {p['k']}
)""")
        cur_b = f"b{s}_0"
        for it in range(1, p["pq_iters"] + 1):
            parts.append(f"""
ba{s}_{it}x AS (
  SELECT p.pid, c.cid, {sub_dist} AS d
  FROM spts{s} p CROSS JOIN {cur_b} c
),
ba{s}_{it} AS (
  SELECT pid, cid FROM (
    SELECT pid, cid,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM ba{s}_{it}x
  ) t WHERE rk = 1
),
bs{s}_{it} AS (
  SELECT a.cid, g.i AS dim,
         CAST(SUM(p.x[g.i]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM ba{s}_{it} a JOIN spts{s} p USING (pid)
  CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS i) g
  GROUP BY a.cid, g.i
),
b{s}_{it} AS (
  SELECT {cur_b}.cid, COALESCE(agg.c, {cur_b}.c) AS c
  FROM {cur_b} LEFT JOIN (
    SELECT cid,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                ORDER BY dim) AS c
    FROM bs{s}_{it} GROUP BY cid
  ) agg USING (cid)
)""")
            cur_b = f"b{s}_{it}"
        parts.append(f"""
enc{s}x AS (
  SELECT p.pid, c.cid, {sub_dist} AS d
  FROM spts{s} p CROSS JOIN {cur_b} c
),
enc{s} AS (
  SELECT pid, {s} AS subspace, cid AS code FROM (
    SELECT pid, cid,
           row_number() OVER (PARTITION BY pid ORDER BY d, cid) AS rk
    FROM enc{s}x
  ) t WHERE rk = 1
)""")
    books_unions = " UNION ALL ".join(
        f"SELECT {s} AS subspace, cid AS code, c FROM b{s}_{p['pq_iters']}"
        for s in range(p["m"])
    )
    parts.append(f"""
codes AS ({" UNION ALL ".join(f"SELECT * FROM enc{s}" for s in range(p['m']))}),
books AS ({books_unions}),
q AS (SELECT pid AS qid, x FROM pts WHERE pid < {p['n_queries']}),
probex AS (
  SELECT q.qid, c.cid,
         list_sum(list_transform(generate_series(1, 64),
           i -> (q.x[i] - c.c[i]) * (q.x[i] - c.c[i]))) AS d
  FROM q CROSS JOIN cellcent c
),
probe AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d, cid) AS rk
    FROM probex
  ) t WHERE rk <= {p['n_probe']}
),
cand AS (
  SELECT pr.qid, cl.pid AS neighbor_id
  FROM probe pr JOIN cells cl ON cl.cid = pr.cid
  WHERE cl.pid <> pr.qid
),
adcx AS (
  SELECT ca.qid, ca.neighbor_id,
         list_sum(list_transform(generate_series(1, {sub}),
           i -> (q.x[co.subspace * {sub} + i] - bk.c[i])
              * (q.x[co.subspace * {sub} + i] - bk.c[i]))) AS d
  FROM cand ca
  JOIN codes co ON co.pid = ca.neighbor_id
  JOIN books bk ON bk.subspace = co.subspace AND bk.code = co.code
  JOIN q ON q.qid = ca.qid
),
adc AS (
  SELECT qid, neighbor_id, CAST(SUM(d) AS BIGINT) AS adc_dist
  FROM adcx GROUP BY qid, neighbor_id
)
SELECT qid, neighbor_id, adc_dist, CAST(rank AS INT) AS rank FROM (
  SELECT qid, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
) t WHERE rank <= {p['topk']}
ORDER BY qid, rank""")
    return ",".join(parts)


def ivfpq_recall_oracle() -> str:
    """l89 twin: the SAME fully unrolled IVF-PQ derivation as l80
    (cells + codebooks + encode + probe + ADC ranking), extended with
    the exact integer squared-L2 top-k per query and the recall
    census the index operator reads before trusting the index."""
    p = _L80
    base = ivfpq_probe_oracle()
    # reuse the l80 chain up through the `adc` CTE; replace its final
    # SELECT with the recall census
    chain = base[: base.rindex("\nSELECT qid, neighbor_id, adc_dist")]
    sq = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> (q.x[i] - c.x[i]) * (q.x[i] - c.x[i])))"
    )
    return (
        chain
        + f""",
appr AS (
  SELECT qid, neighbor_id FROM (
    SELECT qid, neighbor_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc
  ) t WHERE rank <= {p['topk']}
),
exct AS (
  SELECT qid, neighbor_id FROM (
    SELECT q.pid AS qid, c.pid AS neighbor_id,
           row_number() OVER (PARTITION BY q.pid
                              ORDER BY {sq}, c.pid) AS rk
    FROM pts q JOIN pts c
      ON q.pid < {p['n_queries']} AND c.pid <> q.pid
  ) t WHERE rk <= {p['topk']}
)
SELECT a.qid,
       CAST(count(*) AS BIGINT) AS n_approx,
       CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            * {10000 // p['topk']} AS BIGINT) AS recall_bp
FROM appr a
LEFT JOIN exct e USING (qid, neighbor_id)
GROUP BY a.qid
ORDER BY a.qid"""
    )


_l(
    "l80_ivfpq_probe",
    "persisted IVF-PQ index probe: cells prune at file level, stored "
    "codes rank by integer ADC — gated bit-exact against a fully "
    "unrolled declarative derivation",
    ivfpq_probe,
    ivfpq_probe_oracle(),
    ref="SURVEY.md §2.4 ANN family (l12/l33/l78 + "
    "operators/ann_index.py); Jégou et al. 2011 (IVF-ADC)",
)


# ---------------------------------------------------------------------------
# MM07 — REAL image codec round-trip, oracle-gated: documents become
# actual BI_RGB 24-bit BMPs (pure-numpy encoder, pixel bytes = the
# doc's character codes mod 256, cycled), the REAL decoder parses
# them back (validated headers, bottom-up BGR rows, padding), and the
# gate compares the decoded dimensions + per-channel pixel sums
# against a DuckDB oracle that restates the pixel arithmetic straight
# from the text — so a single byte wrong anywhere in the encoder or
# decoder (padding, row order, channel order, header fields)
# hash-fails the gate. This upgrades the multimodal family's codec
# leg from "deterministic fake" to a real, verifiable format;
# PIL-needing formats (JPEG/...) remain honestly stubbed (mm02–mm04;
# PNG is REAL since mm11 — stdlib zlib + numpy defilter).
#
# Scale: 1 Arrow-batched mapInPandas over (id, text) — the
# binary-in/binary-out heavy-byte pattern; no shuffle until the
# final (tiny) ordered output.
# ---------------------------------------------------------------------------


def _mm07(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        bmp_decode_stats,
        documents_as_bmp,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 0)
    )
    media = documents_as_bmp(docs)
    return ordered_result(bmp_decode_stats(media), "media_id")


def _mm07_channel_sum(c: int) -> str:
    return (
        "CAST(list_sum(list_transform("
        "generate_series(0, height * width - 1), "
        f"j -> ascii(substr(text, CAST((j * 3 + {c}) % len AS INT) + 1, 1))"
        " % 256)) AS BIGINT)"
    )


_l(
    "mm07_bmp_roundtrip_census",
    "real BMP encode->decode round-trip census: decoded dims + "
    "per-channel pixel sums vs the oracle's restatement of the pixel "
    "arithmetic from the raw text",
    _mm07,
    f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 4 AS INT) AS height,
         CAST(4 + doc_id % 3 AS INT) AS width,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 0
)
SELECT doc_id AS media_id, height, width,
       {_mm07_channel_sum(0)} AS sum_r,
       {_mm07_channel_sum(1)} AS sum_g,
       {_mm07_channel_sum(2)} AS sum_b
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family; BI_RGB 24-bit BMP (Windows 3.x "
    "DIB layout)",
)


# ---------------------------------------------------------------------------
# MM08 — REAL audio codec round-trip, oracle-gated (the WAV sibling of
# mm07): documents become mono 16-bit PCM WAVs (pure-numpy RIFF
# encoder), the validated decoder parses them back, and the gate
# compares decoded sample count/sum/min/max against the oracle's
# restatement of the sample arithmetic. Audio leg upgraded from
# "opaque bytes" to a real, verifiable codec.
# ---------------------------------------------------------------------------


def _mm08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        documents_as_wav,
        wav_decode_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 1)
    )
    return ordered_result(wav_decode_stats(documents_as_wav(docs)), "media_id")


_l(
    "mm08_wav_roundtrip_census",
    "real WAV (RIFF 16-bit PCM) encode->decode round-trip census: "
    "decoded sample count/sum/min/max vs the oracle's sample "
    "arithmetic from the raw text",
    _mm08,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(16 + doc_id % 16 AS INT) AS n,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 1
), s AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, n - 1),
           j -> ascii(substr(text, CAST(j % len AS INT) + 1, 1)) % 256
                * 64 - 8192) AS samples
  FROM d
)
SELECT doc_id AS media_id, n AS n_samples,
       CAST(list_sum(samples) AS BIGINT) AS sum_s,
       CAST(list_min(samples) AS BIGINT) AS min_s,
       CAST(list_max(samples) AS BIGINT) AS max_s
FROM s
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family; RIFF/WAVE canonical 44-byte PCM "
    "layout",
)


# ---------------------------------------------------------------------------
# MM09 — REAL video-frame sampling, oracle-gated: each document
# becomes a BMP "reel" (length-prefixed concatenated frames — the
# container walk reads each frame's self-declared size, the same
# discipline as the Kafka RecordBatch reader), every 2nd frame is
# pixel-decoded, and the per-frame channel sums gate against the
# oracle's restatement of the (code + frame) mod 256 arithmetic —
# wraparound included, so no shortcut can pass. Upgrades mm03's
# frame-sample claim from synthetic frame COUNTS to real decoded
# frames.
# ---------------------------------------------------------------------------


def _mm09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        documents_as_bmp_reel,
        reel_frame_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 2)
    )
    return ordered_result(reel_frame_stats(
        documents_as_bmp_reel(docs), every_n=2
    ), "media_id", "frame_no")


def _mm09_channel_sum(c: int) -> str:
    return (
        "CAST(list_sum(list_transform("
        "generate_series(0, height * width - 1), "
        f"j -> (ascii(substr(text, CAST((j * 3 + {c}) % len AS INT) + 1, 1))"
        " % 256 + frame_no) % 256)) AS BIGINT)"
    )


_l(
    "mm09_bmp_reel_frame_census",
    "real video-frame sampling: length-prefixed BMP reel walk + "
    "every-2nd-frame decode, per-frame channel sums vs the oracle's "
    "(code + frame) mod 256 arithmetic",
    _mm09,
    f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 4 AS INT) AS height,
         CAST(4 + doc_id % 3 AS INT) AS width,
         CAST(2 + doc_id % 3 AS INT) AS n_frames,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 2
), sampled AS (
  SELECT d.*, CAST(f.frame_no AS INT) AS frame_no
  FROM d, unnest(generate_series(0, n_frames - 1)) AS f(frame_no)
  WHERE f.frame_no % 2 = 0
)
SELECT doc_id AS media_id, frame_no,
       {_mm09_channel_sum(0)} AS sum_r,
       {_mm09_channel_sum(1)} AS sum_g,
       {_mm09_channel_sum(2)} AS sum_b
FROM sampled
ORDER BY media_id, frame_no
""",
    ref="SURVEY.md §2.4 MM family; length-prefixed record walk "
    "(sources/kafka_wire.py discipline)",
)


# ---------------------------------------------------------------------------
# L81 — the LSH candidate pipeline, EXACTLY oracle-gated for the
# first time: same algorithm as the production path (l06/l23 —
# shingle → per-seed min-hash → banded buckets → equality join), hash
# family swapped to substr(md5(seed || '|' || shingle), 1, 15)
# compared as a fixed-width hex STRING, which both engines state
# identically — so banding, minima, bucket construction, and the
# candidate join are all verified bit-for-bit, not just rows-only.
# ---------------------------------------------------------------------------


def _l81(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    return ordered_result(D.minhash_lsh_candidates_portable(
        docs, "doc_id", "text", n=5, num_hashes=6, bands=3
    ), "doc_a", "doc_b")


_l(
    "l81_minhash_lsh_portable",
    "MinHash-LSH candidate pairs under a portable md5 hash family — "
    "the exact-oracle twin of the l06/l23 candidate pipeline",
    _l81,
    """
WITH docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 7 = 0 AND length(text) >= 5
),
sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(u AS INT), 5) AS shingle
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, length(text) - 4)) AS u
    FROM docs
  ) t
),
hx AS (
  SELECT doc_id, s.seed,
         min(substr(md5(CAST(s.seed AS VARCHAR) || '|' || shingle),
                    1, 15)) AS m
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS seed) s
  GROUP BY doc_id, s.seed
),
buckets AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(m, '|' ORDER BY seed) AS bucket
  FROM hx GROUP BY doc_id, seed // 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
""",
    ref="SURVEY.md §2.4 L06/L23 family; Broder MinHash + banded LSH",
)


# ---------------------------------------------------------------------------
# L82 — the SimHash near-dup path, EXACTLY oracle-gated (the l81
# treatment applied to l07): 16-bit portable SimHash from md5 hex
# digits, per-bit majority sums, two-lane Hamming-block candidate
# join, exact popcount(xor) verification — every step stated
# identically in SQL, so the sketch construction and the block
# pairing are verified bit-for-bit, not rows-only.
# ---------------------------------------------------------------------------


def _l82(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    return ordered_result(D.simhash_portable_pairs(
        docs, "doc_id", "text", hamming_max=3
    ), "doc_a", "doc_b")


def _l82_bit_sum(b: int) -> str:
    d = b // 4
    return (
        f"SUM(CAST(((strpos('0123456789abcdef', substr(md5(tok), {d + 1}, 1))"
        f" - 1) >> {b % 4}) % 2 * 2 - 1 AS BIGINT))"
    )


_l(
    "l82_simhash_portable",
    "SimHash near-dup pairs under a portable md5 bit family — the "
    "exact-oracle twin of the l07 sketch + Hamming-block pipeline",
    _l82,
    f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 5 = 0) d,
       unnest(d.w) AS t(tok)
  WHERE t.tok != ''
),
agg AS (
  SELECT doc_id,
         {", ".join(f"{_l82_bit_sum(b)} AS s{b}" for b in range(16))}
  FROM toks GROUP BY doc_id
),
sk AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
                           for b in range(16))} AS BIGINT) AS sketch
  FROM agg
),
lanes AS (
  SELECT doc_id, sketch, sketch & 255 AS lane0, sketch >> 8 AS lane1
  FROM sk
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sketch AS sa, b.sketch AS sb
  FROM lanes a JOIN lanes b
    ON a.lane0 = b.lane0 AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, a.sketch, b.sketch
  FROM lanes a JOIN lanes b
    ON a.lane1 = b.lane1 AND a.doc_id < b.doc_id
)
SELECT DISTINCT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY doc_a, doc_b
""",
    ref="SURVEY.md §2.4 L07 family; Charikar SimHash + Hamming "
    "blocks",
)


# ---------------------------------------------------------------------------
# L83 — the RP-bucketed ANN path, EXACTLY oracle-gated (l81/l82
# treatment applied to l12): hyperplane signs from md5 parity,
# sign-buckets over the quantized INTEGER embeddings, in-bucket
# ranking by integer inner product (MIPS — no float anywhere), ties
# on neighbor id. Plane family, bucketing, candidates, and ranking
# all verified bit-for-bit against the SQL restatement.
# ---------------------------------------------------------------------------


def _l83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.similarity import (
        rp_bucketed_mips_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ordered_result(rp_bucketed_mips_portable(emb), "qid", "rank")


_l(
    "l83_rp_bucketed_portable",
    "RP-bucketed ANN under a portable md5 plane family with integer "
    "MIPS ranking — the exact-oracle twin of the l12 bucketing path",
    _l83,
    """
WITH pts AS (
  SELECT vec_id AS pid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 10000) AS BIGINT)) AS x
  FROM embeddings
),
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63),
           d -> CAST((strpos('0123456789abcdef',
                  substr(md5(CAST(p.p AS VARCHAR) || '|' ||
                             CAST(d AS VARCHAR)), 1, 1)) - 1) % 2
                * 2 - 1 AS BIGINT)) AS s
  FROM (SELECT unnest(generate_series(0, 7)) AS p) p
),
dots AS (
  SELECT pts.pid, pl.p,
         list_sum(list_transform(generate_series(1, 64),
           i -> pts.x[CAST(i AS INT)] * pl.s[CAST(i AS INT)])) AS d
  FROM pts CROSS JOIN planes pl
),
buck AS (
  SELECT pid,
         CAST(SUM(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
           AS bucket
  FROM dots GROUP BY pid
),
bx AS (SELECT b.pid, b.bucket, p.x FROM buck b JOIN pts p USING (pid)),
cand AS (
  SELECT q.pid AS qid, c.pid AS neighbor_id,
         list_sum(list_transform(generate_series(1, 64),
           i -> q.x[CAST(i AS INT)] * c.x[CAST(i AS INT)])) AS dot
  FROM bx q JOIN bx c
    ON q.bucket = c.bucket AND q.pid < 4 AND c.pid <> q.pid
)
SELECT qid, neighbor_id, CAST(dot AS BIGINT) AS dot,
       CAST(rank AS INT) AS rank
FROM (
  SELECT qid, neighbor_id, dot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY dot DESC, neighbor_id) AS rank
  FROM cand
) t
WHERE rank <= 5
ORDER BY qid, rank
""",
    ref="SURVEY.md §2.4 L12 family; Charikar random hyperplane LSH, "
    "integer MIPS ranking",
)


# ---------------------------------------------------------------------------
# L84 — BM25 top-k retrieval over the corpus for a fixed query-term
# set: the standard lexical ranking function (Robertson/Sparck Jones;
# the Lucene-default idf form) that a training-data pipeline uses for
# targeted data selection, eval-set decontamination lookups, and
# hard-query mining. Per term: tf per doc, df, idf = ln(1+(N-df+0.5)/
# (df+0.5)), dl/avgdl length normalization (k1=1.2, b=0.75), top-10
# docs by floored-4dp score.
#
# Scale shape: ONE token explode scans the corpus; the term filter
# prunes the exploded stream to the query vocabulary BEFORE the
# per-(doc,term) aggregation (predicate on the generator output — at
# 100 TB the tf table is O(matching postings), never O(corpus
# tokens)); df and corpus stats are O(terms) / O(1) broadcasts onto
# the postings; ranking is a per-term WindowGroupLimit over postings,
# not docs. Float protocol: rank key is the FLOORED integer
# floor(score*10000) (identical in both engines), tiebreak doc_id.
# ---------------------------------------------------------------------------


def _l84(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    return ordered_result(TX.bm25_topk(
        docs, "doc_id", "text", ["hash", "join", "vector"], k=10
    ), "term", "rank")


_l(
    "l84_bm25_topk",
    "BM25 top-10 docs per query term (Lucene-default idf, k1=1.2 "
    "b=0.75, floored-4dp rank key) — lexical retrieval for targeted "
    "data selection and decontamination lookups",
    _l84,
    """
WITH docs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         SUM(dl) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
  WHERE term IN ('hash', 'join', 'vector')
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS dfx FROM tf GROUP BY term
),
scored AS (
  SELECT t.term, t.doc_id, t.tf, d.dl,
         floor(
           ln(1.0 + (s.n_docs - f.dfx + 0.5) / (f.dfx + 0.5))
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))
           * 10000
         ) AS key
  FROM tf t
  JOIN dl d USING (doc_id)
  JOIN dfreq f USING (term)
  CROSS JOIN stats s
)
SELECT term, doc_id, tf, dl, key / 10000 AS score,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY key DESC, doc_id) AS rank
  FROM scored
) z
WHERE rank <= 10
ORDER BY term, rank
""",
    ref="SURVEY.md §2.4 text-analysis family; Robertson BM25 "
    "(Lucene-default idf form)",
)


# ---------------------------------------------------------------------------
# L85 — DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"):
# word-bigram features hashed into 256 buckets (substr(md5(bigram),
# 1,2) — the engine-portable bucket family, same protocol as l18/l81),
# a target unigram-over-buckets LM from the lang='en' slice vs the raw
# LM from the whole corpus (add-1 smoothing), each doc scored by the
# MEAN log importance ratio ln(p_target/p_raw) over its bigram
# occurrences. Positive = looks like the target distribution; the
# score feeds importance RESAMPLING of a raw corpus toward a target
# domain.
#
# Scale shape: the hashed feature space is FIXED (256 here, 2^20 in
# production) so both LMs are O(buckets) broadcast tables regardless
# of corpus size; the feature stream is one map-side explode (no
# vocabulary shuffle — the whole point of hashed features); the only
# corpus-sized shuffle is the per-doc mean, keyed by doc_id. Float
# protocol: one ln per bucket (ratio of exactly-representable
# integer-valued doubles), per-doc mean floored at 4dp (l45).
# ---------------------------------------------------------------------------


def _l85(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    return ordered_result(TX.dsir_importance_weights(
        docs, "doc_id", "text", F.col("lang") == "en", carry=["lang"]
    ), "doc_id")


_l(
    "l85_dsir_importance",
    "DSIR hashed-bigram importance weights: per-doc mean "
    "ln(p_target/p_raw) over 256 md5 feature buckets (target = "
    "lang='en' slice, add-1 smoothing) — importance resampling "
    "toward a target domain",
    _l85,
    """
WITH docs AS (
  SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
),
feats AS (
  SELECT doc_id, lang, substr(md5(bg), 1, 2) AS bkt
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(generate_series(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i + 1])) AS bg
    FROM docs
  )
),
raw AS (
  SELECT bkt, CAST(count(*) AS DOUBLE) AS cr FROM feats GROUP BY bkt
),
tgt AS (
  SELECT bkt, CAST(count(*) AS DOUBLE) AS ct
  FROM feats WHERE lang = 'en' GROUP BY bkt
),
tot AS (
  SELECT (SELECT sum(cr) FROM raw) AS rt,
         (SELECT coalesce(sum(ct), 0.0) FROM tgt) AS tt
),
lm AS (
  SELECT r.bkt,
         ln(((coalesce(t.ct, 0.0) + 1.0) / (tot.tt + 256.0))
            / ((r.cr + 1.0) / (tot.rt + 256.0))) AS lw
  FROM raw r LEFT JOIN tgt t USING (bkt) CROSS JOIN tot
)
SELECT f.doc_id, f.lang, CAST(count(*) AS BIGINT) AS n_feats,
       floor(avg(l.lw) * 10000) / 10000 AS weight
FROM feats f JOIN lm l USING (bkt)
GROUP BY f.doc_id, f.lang
ORDER BY f.doc_id
""",
    ref="SURVEY.md §2.4 sampling/quality family; Xie et al. 2023 "
    "DSIR (hashed n-gram importance resampling)",
)


# ---------------------------------------------------------------------------
# L86 — ANN recall audit: recall@5 of the RP-bucketed ANN path against
# the exact integer-MIPS top-5 per query — the ANN family's analog of
# l57's MinHash accuracy audit (the measurement that justifies
# (n_planes, bucket width) before a 100 TB run trusts the bucketed
# path). Same portable md5 plane family as l83, so the WHOLE audit —
# hyperplane signs, bucketing, candidate ranking, exact ranking, and
# the recall join — is integer-exact and oracle-gated bit-for-bit.
#
# Scale shape: the approximate leg is the bucketed equality join
# (never all-pairs); the exact leg broadcasts the BOUNDED query batch
# (l04 contract) onto one corpus scan; the recall join keys on
# (qid, neighbor) over O(queries × k) rows. recall_bp = hits × 2000
# (k=5 ⇒ 10000/k exactly) — integer multiply, no division, no floats.
# ---------------------------------------------------------------------------


def _l86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from graal_cdc_spark.operators.clustering import quantize_points
    from graal_cdc_spark.operators.similarity import (
        rp_bucketed_mips_portable,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    approx = rp_bucketed_mips_portable(emb, n_planes=4).select(
        "qid", "neighbor_id"
    )

    pts = quantize_points(emb, "vec_id", "embedding", 10_000)
    q = pts.filter(F.col("pid") < 4).select(
        F.col("pid").alias("qid"), F.col("x").alias("qx")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qx"), F.col("x"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    exact = (
        pts.select(F.col("pid").alias("neighbor_id"), "x")
        .crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("qid", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        ordered_result(approx.join(exact, ["qid", "neighbor_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_approx"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            "qid",
            "n_approx",
            "n_hits",
            (F.col("n_hits") * 2000).alias("recall_bp"),
        ), "qid")
    )


_l(
    "l86_ann_recall_audit",
    "recall@5 of the RP-bucketed ANN path vs exact integer-MIPS "
    "top-5 per query (portable md5 plane family; hits in integer "
    "basis points) — the ANN analog of l57's estimator audit",
    _l86,
    """
WITH pts AS (
  SELECT vec_id AS pid,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 10000) AS BIGINT)) AS x
  FROM embeddings
),
planes AS (
  SELECT p.p,
         list_transform(generate_series(0, 63),
           d -> CAST((strpos('0123456789abcdef',
                  substr(md5(CAST(p.p AS VARCHAR) || '|' ||
                             CAST(d AS VARCHAR)), 1, 1)) - 1) % 2
                * 2 - 1 AS BIGINT)) AS s
  FROM (SELECT unnest(generate_series(0, 3)) AS p) p
),
dots AS (
  SELECT pts.pid, pl.p,
         list_sum(list_transform(generate_series(1, 64),
           i -> pts.x[CAST(i AS INT)] * pl.s[CAST(i AS INT)])) AS d
  FROM pts CROSS JOIN planes pl
),
buck AS (
  SELECT pid,
         CAST(SUM(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
           AS bucket
  FROM dots GROUP BY pid
),
bx AS (SELECT b.pid, b.bucket, p.x FROM buck b JOIN pts p USING (pid)),
appr AS (
  SELECT qid, neighbor_id
  FROM (
    SELECT q.pid AS qid, c.pid AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.pid
             ORDER BY list_sum(list_transform(generate_series(1, 64),
                        i -> q.x[CAST(i AS INT)] * c.x[CAST(i AS INT)]))
                      DESC, c.pid) AS rank
    FROM bx q JOIN bx c
      ON q.bucket = c.bucket AND q.pid < 4 AND c.pid <> q.pid
  ) t WHERE rank <= 5
),
ex AS (
  SELECT qid, neighbor_id
  FROM (
    SELECT q.pid AS qid, c.pid AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.pid
             ORDER BY list_sum(list_transform(generate_series(1, 64),
                        i -> q.x[CAST(i AS INT)] * c.x[CAST(i AS INT)]))
                      DESC, c.pid) AS rank
    FROM pts q JOIN pts c ON q.pid < 4 AND c.pid <> q.pid
  ) t WHERE rank <= 5
)
SELECT a.qid,
       CAST(count(*) AS BIGINT) AS n_approx,
       CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            * 2000 AS BIGINT) AS recall_bp
FROM appr a
LEFT JOIN ex e USING (qid, neighbor_id)
GROUP BY a.qid
ORDER BY a.qid
""",
    ref="SURVEY.md §2.4 L12/L83 ANN family; recall@k audit "
    "(LSH-then-verify measurement, Charikar hyperplane LSH)",
)


# ---------------------------------------------------------------------------
# L87 — Bloom-filter cross-snapshot dedup probe: build a 4096-bit,
# 3-hash Bloom filter over the previous snapshot's content (the
# engine-portable md5 bit family — first 3 hex digits of
# md5(j || '|' || text) per hash j), probe every new-batch doc, and
# gate the CONFUSION MATRIX against the exact md5 anti-join answer
# (l44's logic): maybe×exact counts. Structurally, the
# (maybe=false, exact=true) cell MUST be empty — Bloom filters have
# no false negatives — so the gate also pins the filter's defining
# guarantee, while the (true, false) cell measures the real FP load
# the exact path must re-verify.
#
# Scale shape: the filter's set-bit table is ≤ 4096 rows (a few KB)
# NO MATTER how large the build snapshot is — it broadcasts, so the
# probe is one map-side equality join + per-doc count. This is the
# cross-snapshot pattern when the previous snapshot is too large to
# anti-join against every incoming batch (filter-then-verify, same
# asymmetry as LSH-then-verify). Integer/boolean-exact — no floats.
# ---------------------------------------------------------------------------


def _l87(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    build = docs.filter(F.col("doc_id") % 10 < 8)
    probe = docs.filter(F.col("doc_id") % 10 >= 8)
    v = D.bloom_dedup_probe(build, probe, "doc_id", "text")
    return (
        ordered_result(v.select(
            F.col("maybe_dup").cast("int").alias("maybe_dup"),
            F.col("exact_dup").cast("int").alias("exact_dup"),
        )
        .groupBy("maybe_dup", "exact_dup")
        .agg(F.count(F.lit(1)).alias("n_docs")), "maybe_dup", "exact_dup")
    )


_l(
    "l87_bloom_dedup_probe",
    "Bloom-filter cross-snapshot dedup probe (4096-bit, 3 md5 "
    "hashes): maybe-dup x exact-dup confusion census — broadcastable "
    "approximate membership with the exact anti-join as verifier",
    _l87,
    """
WITH build AS (
  SELECT text FROM documents WHERE doc_id % 10 < 8
),
probe AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
),
js AS (SELECT unnest(generate_series(0, 2)) AS j),
bits AS (
  SELECT DISTINCT
      (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 1, 1)) - 1)
        * 256
    + (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 2, 1)) - 1)
        * 16
    + (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 3, 1)) - 1)
      AS p
  FROM build CROSS JOIN js
),
pp AS (
  SELECT probe.doc_id,
      (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 1, 1)) - 1)
        * 256
    + (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 2, 1)) - 1)
        * 16
    + (strpos('0123456789abcdef',
              substr(md5(CAST(j AS VARCHAR) || '|' || text), 3, 1)) - 1)
      AS p
  FROM probe CROSS JOIN js
),
maybe AS (
  SELECT pp.doc_id,
         CASE WHEN count(*) FILTER (WHERE b.p IS NOT NULL) = 3
              THEN 1 ELSE 0 END AS maybe_dup
  FROM pp LEFT JOIN bits b USING (p)
  GROUP BY pp.doc_id
),
ex AS (
  SELECT doc_id,
         CASE WHEN md5(text) IN (SELECT md5(text) FROM build)
              THEN 1 ELSE 0 END AS exact_dup
  FROM probe
)
SELECT m.maybe_dup, e.exact_dup, CAST(count(*) AS BIGINT) AS n_docs
FROM maybe m JOIN ex e USING (doc_id)
GROUP BY m.maybe_dup, e.exact_dup
ORDER BY m.maybe_dup, e.exact_dup
""",
    ref="SURVEY.md §2.4 dedup family (l44 exact twin); Bloom 1970 "
    "filter-then-verify membership",
)


# ---------------------------------------------------------------------------
# MM10 — REAL feature extraction over decoded images, oracle-gated:
# per-channel 4-bin pixel histograms computed from the DECODED BMPs
# (numpy bincount inside one Arrow-batched mapInPandas), gated
# against a DuckDB oracle that restates the histogram straight from
# the generative pixel arithmetic (codepoint mod 256, cycled, RGB
# interleave, value // 64 binning) — the real-codec upgrade of the
# mm02 fake-feature stub: any byte wrong in decode, channel order, or
# binning hash-fails.
#
# Scale: pixels never shuffle — the mapInPandas emits O(images ×
# channels × bins) rows; the only exchange is the tiny ordered output.
# ---------------------------------------------------------------------------


def _mm10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        bmp_channel_histogram,
        documents_as_bmp,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 0)
    )
    media = documents_as_bmp(docs)
    return ordered_result(bmp_channel_histogram(media), 
        "media_id", "channel", "bin"
    )


_l(
    "mm10_bmp_channel_histogram",
    "real image feature extraction: per-channel 4-bin pixel "
    "histograms from DECODED BMPs vs the oracle's restatement of the "
    "generative pixel arithmetic",
    _mm10,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 4 AS INT) AS height,
         CAST(4 + doc_id % 3 AS INT) AS width,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 0
),
px AS (
  SELECT doc_id, CAST(c.c AS INT) AS channel,
         CAST((ascii(substr(text,
                CAST((j.j * 3 + c.c) % len AS INT) + 1, 1)) % 256) // 64
              AS INT) AS bin
  FROM d,
       unnest(generate_series(0, height * width - 1)) AS j(j),
       unnest(generate_series(0, 2)) AS c(c)
)
SELECT doc_id AS media_id, channel, bin,
       CAST(count(*) AS BIGINT) AS n_px
FROM px
GROUP BY doc_id, channel, bin
ORDER BY media_id, channel, bin
""",
    ref="SURVEY.md §2.4 MM family (mm02 stub -> real leg); BI_RGB "
    "24-bit BMP decode + bincount features",
)


# ---------------------------------------------------------------------------
# MM11 — REAL COMPRESSED-image codec round-trip, oracle-gated: the PNG
# sibling of mm07. Documents become 8-bit truecolor PNGs through the
# real compressed path (five rotating scanline filters + stdlib-zlib
# DEFLATE + chunk CRCs); the validated decoder inflates, defilters,
# and re-derives dims + per-channel pixel sums, gated against the
# oracle's restatement of the generative pixel arithmetic. Any byte
# wrong in a filter, the DEFLATE leg, or chunk parsing hash-fails —
# this upgrades the multimodal family from "real uncompressed codecs"
# to "real compressed codec", the thing a user's first web-image
# parquet actually needs (VERDICT r7 next-round #3).
#
# Scale: pixels never shuffle — encode and decode are each ONE
# Arrow-batched mapInPandas over binary payloads; the only exchange is
# the tiny ordered stats output.
# ---------------------------------------------------------------------------


def _mm11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import png_pipeline_stats

    # byte-bounded python fan-out (r14; was cores-keyed _par_table):
    # the fused codec pass is per-row Python — a 1-partition local
    # scan would serialize it on one core (r12), but 32 python tasks
    # for a ~600 KB slice is pure worker fan-out the driver's
    # contended r13 run measured at 13.4 s (quiet-box cost: 0.4 s).
    # with_python_parallelism sizes the exchange by input bytes
    # (~3 tasks here), a no-op on well-blocked cluster data.
    from graal_cdc_spark.sources.tables import with_python_parallelism

    docs = with_python_parallelism(
        spark,
        load_table(spark, sf_dir, "documents").filter(
            (F.length("text") > 0) & (F.col("doc_id") % 3 == 1)
        ),
    )
    # fused single-stage census: encode->decode inside one Python
    # worker pass (same real codec legs; no per-stage Arrow shipping
    # of the compressed payloads)
    return ordered_result(png_pipeline_stats(docs), "media_id")


def _mm11_channel_sum(c: int) -> str:
    return (
        "CAST(list_sum(list_transform("
        "generate_series(0, height * width - 1), "
        f"j -> ascii(substr(text, CAST((j * 3 + {c}) % len AS INT) + 1, 1))"
        " % 256)) AS BIGINT)"
    )


_l(
    "mm11_png_roundtrip_census",
    "real COMPRESSED image codec round-trip census: PNG (DEFLATE + "
    "all five scanline filters + chunk CRCs) encode->decode, decoded "
    "dims + per-channel pixel sums vs the oracle's restatement of the "
    "pixel arithmetic",
    _mm11,
    f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 4 AS INT) AS height,
         CAST(4 + doc_id % 3 AS INT) AS width,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 1
)
SELECT doc_id AS media_id, height, width,
       {_mm11_channel_sum(0)} AS sum_r,
       {_mm11_channel_sum(1)} AS sum_g,
       {_mm11_channel_sum(2)} AS sum_b
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (compressed-codec leg); RFC 2083 "
    "8-bit truecolor PNG, filters None/Sub/Up/Average/Paeth",
)


# ---------------------------------------------------------------------------
# L88 — ITERATIVE BPE merge training (Sennrich et al. 2016), the real
# merge→re-segment→recount loop that l70 (pair frequencies) only did
# round 1 of. Spark: one corpus-sized word-count shuffle, then 3
# rounds over the capped word-frequency table (the production-BPE
# design: the frequency table IS the training set) with a map-side
# higher-order fold doing the greedy re-segmentation; the winning
# pair is the only per-round collect (1 row — bounded metadata, the
# l31/r79 iterative pattern). Oracle: the 3 rounds fully unrolled as
# CTEs — pair counting via the (word, i)→(word, i+1) self-join,
# greedy non-overlap via run-parity over candidate islands (a run of
# k consecutive candidates merges at offsets 0, 2, 4, …), exactly the
# fold's skip-ahead semantics.
# ---------------------------------------------------------------------------


def bpe_training_oracle(
    rounds: int = 3, vocab_cap: int = 300, top_syms: int = 10
) -> str:
    """Fully unrolled DuckDB twin of ``bpe_merge_training``."""
    parts = [
        """
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents) t
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
  ORDER BY cnt DESC, word
  LIMIT {cap}
),
seg0 AS MATERIALIZED (
  SELECT word, cnt, CAST(j AS INT) AS i,
         substr(word, CAST(j AS INT), 1) AS sym
  FROM words, unnest(generate_series(1, length(word))) AS t(j)
)""".format(cap=vocab_cap)
    ]
    for r in range(1, rounds + 1):
        parts.append(
            """
pairs{r} AS MATERIALIZED (
  SELECT s1.sym AS a, s2.sym AS b, SUM(s1.cnt) AS c
  FROM seg{p} s1 JOIN seg{p} s2 ON s1.word = s2.word AND s2.i = s1.i + 1
  GROUP BY 1, 2
),
best{r} AS MATERIALIZED (
  SELECT a, b, CAST(c AS BIGINT) AS c
  FROM pairs{r} ORDER BY c DESC, a, b LIMIT 1
),
cand{r} AS (
  SELECT s1.word, s1.i
  FROM seg{p} s1
  JOIN seg{p} s2 ON s1.word = s2.word AND s2.i = s1.i + 1
  JOIN best{r} bb ON s1.sym = bb.a AND s2.sym = bb.b
),
keep{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, i - MIN(i) OVER (PARTITION BY word, grp) AS off
    FROM (
      SELECT word, i,
             i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
      FROM cand{r}
    ) g
  ) h WHERE off % 2 = 0
),
seg{r} AS MATERIALIZED (
  SELECT word, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS INT) AS i,
         sym
  FROM (
    SELECT s.word, s.cnt, s.i, s.sym || bb.b AS sym
    FROM seg{p} s
    JOIN keep{r} k ON s.word = k.word AND s.i = k.i
    CROSS JOIN best{r} bb
    UNION ALL
    SELECT s.word, s.cnt, s.i, s.sym
    FROM seg{p} s
    WHERE NOT EXISTS (
      SELECT 1 FROM keep{r} k
      WHERE k.word = s.word AND (k.i = s.i OR k.i = s.i - 1)
    )
  ) m
)""".format(r=r, p=r - 1)
        )
    merge_rows = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS rnd, a AS left_sym, b AS right_sym, "
        f"c AS pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return (
        ",".join(parts)
        + f"""
SELECT * FROM (
{merge_rows}
UNION ALL
SELECT CAST(0 AS INT), sym, '', total FROM (
  SELECT sym, CAST(SUM(cnt) AS BIGINT) AS total
  FROM seg{rounds} GROUP BY sym ORDER BY total DESC, sym LIMIT {top_syms}
) ft
) out
ORDER BY rnd, pair_count DESC, left_sym
"""
    )


def _l88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.text import bpe_merge_training

    docs = load_table(spark, sf_dir, "documents")
    return ordered_result(bpe_merge_training(
        docs, "text", rounds=3, vocab_cap=300, top_syms=10
    ), "rnd", F.desc("pair_count"), "left_sym")


_l(
    "l88_bpe_merge_training",
    "iterative BPE tokenizer training: 3 rounds of most-frequent-pair "
    "merge + greedy re-segmentation over the capped word-frequency "
    "table, plus the final-segmentation symbol census (rnd=0 rows)",
    _l88,
    bpe_training_oracle(rounds=3, vocab_cap=300, top_syms=10),
    ref="SURVEY.md §2.4 LLM family (l70 round-1 -> full loop); "
    "Sennrich et al. 2016 BPE",
)


# ---------------------------------------------------------------------------
# L89 — recall audit for the PERSISTED IVF-PQ path (VERDICT r7 #5):
# l86 audits the RP-bucketed path and l80 gates the persisted index
# bit-exact, but nothing measured recall@k of `query_ivf_pq_index`
# against the exact answer over the SAME stored artifact — the number
# an operator reads before trusting the index at 100 TB. Exact side:
# integer squared-L2 top-k per query (the index's own metric) over
# the quantized points; approx side: the real persisted-index probe
# (file-level cell pruning + integer ADC over stored codes). Output:
# per-query n_approx / n_hits / recall in integer basis points.
#
# Scale: the exact side is a bounded query batch (n_queries rows)
# broadcast against one corpus scan — the l04 contract; the approx
# side never reads float vectors (ReadSchema plan-tested in l80).
# ---------------------------------------------------------------------------


def _l89(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import Window

    from graal_cdc_spark.operators.ann_index import (
        build_ivf_index,
        query_ivf_pq_index,
    )
    from graal_cdc_spark.operators.clustering import quantize_points

    p = _L80
    emb = load_table(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="l89-ivfpq-") + "/index"
    build_ivf_index(
        emb, idx, n_cells=p["n_cells"], train_iters=p["cell_iters"],
        scale=p["scale"], pq_m=p["m"], pq_k=p["k"],
        pq_iters=p["pq_iters"],
    )
    approx = query_ivf_pq_index(
        spark, idx,
        emb.filter(F.col("vec_id") < p["n_queries"]),
        k=p["topk"], n_probe=p["n_probe"],
    ).select("qid", "neighbor_id")

    pts = quantize_points(emb, "vec_id", "embedding", p["scale"])
    q = pts.filter(F.col("pid") < p["n_queries"]).select(
        F.col("pid").alias("qid"), F.col("x").alias("qx")
    )
    sqdist = F.aggregate(
        F.zip_with(
            F.col("qx"), F.col("x"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("qid").orderBy("sq", "neighbor_id")
    exact = (
        pts.select(F.col("pid").alias("neighbor_id"), "x")
        .crossJoin(F.broadcast(q))
        .filter(F.col("qid") != F.col("neighbor_id"))
        .withColumn("sq", sqdist)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= p["topk"])
        .select("qid", "neighbor_id", F.lit(1).alias("hit"))
    )
    return (
        ordered_result(approx.join(exact, ["qid", "neighbor_id"], "left")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_approx"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            "qid",
            "n_approx",
            "n_hits",
            (F.col("n_hits") * (10000 // p["topk"])).alias("recall_bp"),
        ), "qid")
    )


_l(
    "l89_ivfpq_recall_audit",
    "recall@5 of the PERSISTED IVF-PQ index probe vs exact integer "
    "squared-L2 top-5 over the same stored artifact (integer basis "
    "points) — the trust measurement for the l80 index",
    _l89,
    ivfpq_recall_oracle(),
    ref="SURVEY.md §2.4 ANN family (l80 persisted index + l86 audit "
    "pattern); Jégou et al. 2011 (IVF-ADC)",
)


# ---------------------------------------------------------------------------
# MM12 — REAL resize through the COMPRESSED path (the mm04 stub's
# real upgrade): PNG decode (inflate + defilter) → nearest-neighbor
# index-map → PNG re-encode (refilter + deflate) → decode again for
# the stats, gated against the oracle's restatement of the resize
# index arithmetic over the generative pixels. Every pixel of the
# RESIZED census passes through the compressed codec twice, so a
# wrong index map, filter, or DEFLATE leg hash-fails.
#
# Scale: two binary-in/binary-out Arrow-batched map stages; pixels
# never shuffle (the 1→1 heavy-byte transform pattern of mm04, now
# with a real codec inside).
# ---------------------------------------------------------------------------

_MM12_TH, _MM12_TW = 3, 5


def _mm12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import png_pipeline_stats

    # _par_table: per-row Python codec pass (see _mm11)
    docs = _par_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 2)
    )
    # fused single-stage census: encode->resize->decode inside one
    # Python worker pass (same real codec legs; no per-stage Arrow
    # shipping of the compressed payloads)
    return ordered_result(png_pipeline_stats(
        docs, resize_to=(_MM12_TH, _MM12_TW)
    ), "media_id")


def _mm12_channel_sum(c: int) -> str:
    # resized pixel (y, x, ch) = orig((y*h)//th, (x*w)//tw, ch);
    # orig(row, col, ch) = ascii(text[((row*w + col)*3 + ch) % len]) % 256
    return (
        "CAST(list_sum(flatten(list_transform("
        f"generate_series(0, {_MM12_TH - 1}), "
        "y -> list_transform("
        f"generate_series(0, {_MM12_TW - 1}), "
        f"x -> ascii(substr(text, CAST((((y * height) // {_MM12_TH}) * width "
        f"+ ((x * width) // {_MM12_TW})) * 3 + {c} AS INT) % len + 1, 1))"
        " % 256)))) AS BIGINT)"
    )


_l(
    "mm12_png_resize_census",
    "real resize through the compressed codec: PNG decode -> "
    "nearest-neighbor index map -> PNG re-encode -> decoded census of "
    "the resized image vs the oracle's restatement of the index "
    "arithmetic",
    _mm12,
    f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 4 AS INT) AS height,
         CAST(4 + doc_id % 3 AS INT) AS width,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 2
)
SELECT doc_id AS media_id,
       CAST({_MM12_TH} AS INT) AS height,
       CAST({_MM12_TW} AS INT) AS width,
       {_mm12_channel_sum(0)} AS sum_r,
       {_mm12_channel_sum(1)} AS sum_g,
       {_mm12_channel_sum(2)} AS sum_b
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (mm04 stub -> real compressed "
    "transform); RFC 2083 PNG + nearest-neighbor index map",
)


# ---------------------------------------------------------------------------
# L90 — Misra–Gries heavy hitters with EXACT verification: the
# deterministic frequent-items sketch (one capacity-k summary per
# partition, map-side bounded memory; Agarwal et al. mergeable-
# summaries merge per Arrow batch) generates candidates, and exact
# counts of candidates-only produce the answer — the filter-then-
# verify asymmetry of l06/l87 applied to frequency. The reported set
# is EXACT (every token with freq > n/(k+1), compared in integers as
# cnt*(k+1) > n), so the oracle is the plain exact SQL; a sketch that
# ever dropped a true heavy hitter would hash-fail. Stream: char
# trigrams (377 distinct at the fixture — well above the k=60
# capacity, so evictions actually happen; the near-uniform word vocab
# would never evict).
#
# Scale: the sketch pass is map-only with O(k) state; candidates are
# <= k x partitions (broadcast); the one corpus-sized shuffle carries
# only candidate occurrences (semi-join before the aggregate) — the
# full-vocabulary groupBy this replaces is exactly what you cannot
# afford when the vocabulary is data-sized (URLs, n-grams) at 100 TB.
# ---------------------------------------------------------------------------

_L90_K = 60


def _l90(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.sketch import (
        heavy_hitters_exact_chargrams,
    )

    # byte-bounded python fan-out (r14 re-measure of the r12 "plain
    # scan" decision — VERDICT r13 #4): on the regenerated heavier
    # data the single-partition sketch+verify passes serialize ~1 s of
    # numpy on one core (interleaved A/B: plain 0.98 s vs repartition
    # 2 = 0.67 s, repartition 32 still loses to 2-8). Sizing by input
    # bytes lands at 2-3 tasks locally, caps at defaultParallelism,
    # and stays a no-op on well-blocked cluster scans.
    from graal_cdc_spark.sources.tables import with_python_parallelism

    docs_plain = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    )
    docs = with_python_parallelism(spark, docs_plain)
    # trigram count is derivable from doc lengths — the gram stream
    # itself is NEVER materialized: sketch and verify both count
    # n-grams inside the Arrow batches (VERDICT r11 #3 — the old
    # explode+localCheckpoint build wrote a 3.4M-row frame, 13.9 s
    # cold, just to be counted twice). The JVM length-sum reads the
    # plain scan — it must not pay the python-stage repartition.
    total = docs_plain.agg(
        F.sum(F.length("text") - 2).cast("long").alias("n_total")
    )
    return ordered_result(
        heavy_hitters_exact_chargrams(docs, "text", 3, _L90_K, total),
        F.desc("cnt"),
        "token",
    )


_l(
    "l90_heavy_hitters_sketch",
    "Misra-Gries heavy hitters over char trigrams: per-partition "
    "capacity-60 summaries -> broadcast candidates -> exact verify; "
    "reported set is exact (cnt*(k+1) > n in integers)",
    _l90,
    f"""
WITH toks AS (
  SELECT substr(text, CAST(j AS INT), 3) AS token
  FROM documents, unnest(generate_series(1, length(text) - 2)) t(j)
  WHERE length(text) >= 3
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token
)
SELECT token, cnt, n_total
FROM counts, tot
WHERE cnt * {_L90_K + 1} > n_total
ORDER BY cnt DESC, token
""",
    ref="SURVEY.md §2.4 sketch family (l14 HLL, l87 Bloom); "
    "Misra-Gries 1982; Agarwal et al. 2012 mergeable summaries",
)


# ---------------------------------------------------------------------------
# MM13 — REAL baseline JPEG round-trip census (VERDICT r8 "close the
# JPEG gap"): T.81 sequential DCT codec (8×8 FDCT/IDCT, Annex-K
# Huffman, byte stuffing, JFIF framing) from operators/jpeg.py,
# driven through the fused single-stage census pattern (mm11). The
# fixture is flat-8×8-block grayscale, on which the round-trip is
# BIT-EXACT (DC-only blocks, DC quantizer divides 8·(v−128)), so the
# oracle restates decoded sums from the text; general-image loss is
# bounded by the property tests.
# ---------------------------------------------------------------------------


def _mm13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import jpeg_pipeline_stats

    # _par_table: per-row Python codec pass (see _mm11)
    docs = _par_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 0)
    )
    return ordered_result(jpeg_pipeline_stats(docs), "media_id")


_l(
    "mm13_jpeg_roundtrip_census",
    "REAL baseline JPEG (T.81 DCT + Annex-K Huffman + JFIF) "
    "encode->decode census on the flat-block-exact fixture: decoded "
    "dims, pixel sum, and position-weighted block sum vs the oracle's "
    "restatement from the text",
    _mm13,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(2 + doc_id % 3 AS INT) AS bh,
         CAST(2 + doc_id % 2 AS INT) AS bw,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 0
)
SELECT doc_id AS media_id,
       CAST(bh * 8 AS INT) AS height,
       CAST(bw * 8 AS INT) AS width,
       CAST(64 * list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256))
            AS BIGINT) AS sum_px,
       CAST(list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> (k + 1) *
                 (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256)))
            AS BIGINT) AS wsum_blocks
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (compressed-codec leg); ITU-T T.81 "
    "baseline sequential, JFIF 1.02, Annex K tables",
)


# ---------------------------------------------------------------------------
# MM14 — COLOR JPEG round-trip census (VERDICT r9 #7): the mm13
# pattern through the YCbCr 4:2:0 leg — interleaved scan, chroma
# subsampling, three DC predictors, inverse color transform. The
# fixture is gray-valued RGB flat 16×16 macroblocks (Y=v, Cb=Cr=128
# exactly under JFIF; DC-only blocks; quantizer divides exactly), so
# the full color path is bit-exact on it and the oracle restates the
# per-channel sums from the text; all three channel sums are censused
# separately so a chroma bug breaks their equality.
# ---------------------------------------------------------------------------


def _mm14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        jpeg_color_pipeline_stats,
    )

    # gate slice doc_id % 9 == 1 (both engines; the l02 discipline):
    # the color codec is a per-image pure function — a ninth-corpus
    # slice proves the identical semantics at a third of mm13's
    # per-image Python cost, and the full-corpus operator
    # (jpeg_color_pipeline_stats) is unchanged
    docs = _par_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 9 == 1)
    )
    return ordered_result(jpeg_color_pipeline_stats(docs), "media_id")


_l(
    "mm14_jpeg_color_roundtrip_census",
    "COLOR baseline JPEG (JFIF YCbCr, interleaved scan, 4:2:0 chroma "
    "subsampling) encode->decode census on the gray-RGB flat-"
    "macroblock-exact fixture: decoded dims, per-channel sums, and "
    "position-weighted macroblock sum vs the oracle's restatement "
    "from the text",
    _mm14,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(1 + doc_id % 2 AS INT) AS bh,
         CAST(1 + doc_id % 3 AS INT) AS bw,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 9 = 1
),
s AS (
  SELECT doc_id, bh, bw,
         CAST(256 * list_sum(list_transform(generate_series(0, bh * bw - 1),
              k -> ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256))
              AS BIGINT) AS chan_sum,
         CAST(list_sum(list_transform(generate_series(0, bh * bw - 1),
              k -> (k + 1) *
                   (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256)))
              AS BIGINT) AS wsum_blocks
  FROM d
)
SELECT doc_id AS media_id,
       CAST(bh * 16 AS INT) AS height,
       CAST(bw * 16 AS INT) AS width,
       chan_sum AS sum_r, chan_sum AS sum_g, chan_sum AS sum_b,
       wsum_blocks
FROM s
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (compressed-codec leg); ITU-T T.81 "
    "baseline sequential interleaved, JFIF 1.02 YCbCr + 4:2:0",
)


# ---------------------------------------------------------------------------
# MM15 — PROGRESSIVE JPEG (SOF2, spectral selection) round-trip
# census (VERDICT r10 #7 optional extension; ROADMAP "progressive if
# a use case appears" — the web's multi-scan format, ~2/3 of
# large-site JPEGs): DC scan + two AC band scans, general EOB-run
# decoding, coefficient-accumulation across scans. Quantized
# coefficients are IDENTICAL to baseline's, so the progressive
# round-trip is bit-identical to mm13's on EVERY image
# (cross-codec property test); the gate reuses the mm13 flat-block
# arithmetic on the third doc slice.
# ---------------------------------------------------------------------------


def _mm15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import jpeg_pipeline_stats

    # _par_table: per-row Python codec pass (see _mm11)
    docs = _par_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 2)
    )
    return ordered_result(
        jpeg_pipeline_stats(docs, progressive=True), "media_id"
    )


_l(
    "mm15_jpeg_progressive_census",
    "PROGRESSIVE JPEG (SOF2 spectral selection: DC scan + AC band "
    "scans, EOB-run decode, cross-scan coefficient accumulation) "
    "encode->decode census on the flat-block-exact fixture",
    _mm15,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(2 + doc_id % 3 AS INT) AS bh,
         CAST(2 + doc_id % 2 AS INT) AS bw,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 2
)
SELECT doc_id AS media_id,
       CAST(bh * 8 AS INT) AS height,
       CAST(bw * 8 AS INT) AS width,
       CAST(64 * list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256))
            AS BIGINT) AS sum_px,
       CAST(list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> (k + 1) *
                 (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256)))
            AS BIGINT) AS wsum_blocks
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (progressive leg); ITU-T T.81 "
    "Annex G progressive DCT, spectral selection, JFIF 1.02",
)


# ---------------------------------------------------------------------------
# MM16 — SUCCESSIVE-APPROXIMATION progressive JPEG census (VERDICT
# r11 missing #4 — "real progressive files in the wild DO use
# successive approximation"): the mm15 pipeline with al=2, so every
# scan splits into bit planes — point-transformed first scans (DC
# arithmetic-shifted, AC sign-magnitude), then per-plane DC raw-bit
# and AC newly-significant/correction-bit refinement scans (T.81
# G.1.2/G.2). Coefficient accumulation across 9 scans instead of 3;
# the final coefficients are IDENTICAL to mm13/mm15's on every image
# (cross-codec property test), so the flat-block fixture stays
# bit-exact and the oracle restates the same generative arithmetic
# on its own doc slice.
# ---------------------------------------------------------------------------


def _mm16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import jpeg_pipeline_stats

    # _par_table: the 9-scan SA codec is the heaviest per-row Python
    # pass of the family — 3x faster well-blocked (measured r12)
    docs = _par_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 1)
    )
    return ordered_result(
        jpeg_pipeline_stats(docs, progressive=True, sa_levels=2),
        "media_id",
    )


_l(
    "mm16_jpeg_sa_census",
    "SUCCESSIVE-APPROXIMATION progressive JPEG (T.81 G.1.2: "
    "point-transformed first scans + per-bit-plane DC raw-bit and "
    "AC newly-significant/correction refinement scans) "
    "encode->decode census on the flat-block-exact fixture",
    _mm16,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(2 + doc_id % 3 AS INT) AS bh,
         CAST(2 + doc_id % 2 AS INT) AS bw,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 1
)
SELECT doc_id AS media_id,
       CAST(bh * 8 AS INT) AS height,
       CAST(bw * 8 AS INT) AS width,
       CAST(64 * list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256))
            AS BIGINT) AS sum_px,
       CAST(list_sum(list_transform(generate_series(0, bh * bw - 1),
            k -> (k + 1) *
                 (ascii(substr(text, CAST(k % len AS INT) + 1, 1)) % 256)))
            AS BIGINT) AS wsum_blocks
FROM d
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family (successive-approximation leg); "
    "ITU-T T.81 Annex G.1.2/G.2 successive approximation, JFIF 1.02",
)


# ---------------------------------------------------------------------------
# L92 — Count-Min sketch accuracy audit (r12; completes the sketch
# family: HLL l14, Bloom l87, Misra-Gries l90/st18): build a d=4 x
# w=256 CMS over the token stream with the engine-portable md5
# bucket family (row r hashes "r:token"), then probe the top-20
# exact tokens and report estimate vs exact. The CMS guarantee
# (estimate >= exact, overcount bounded by collisions) is visible in
# the gated cells — the audit-the-approximation discipline of
# l57/l86/l89 applied to frequency sketching.
#
# Scale shape: the sketch is FIXED d x w state regardless of corpus
# size — the build is one explode + one map-side-combined shuffle
# whose reduce input is <= d x w rows per partition; the probe join
# broadcasts the 1 024-row sketch. The exact leg exists because this
# is the accuracy AUDIT; a production consumer reads the broadcast
# sketch alone.
# ---------------------------------------------------------------------------

_L92_D = 4
_L92_W = 256  # two hex digits of md5 = 256 buckets, no modulo needed
_L92_TOPK = 20


def _l92(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _par_table(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    # NOT checkpointed: the split+explode is a cheap codegen'd map —
    # recomputing it for the two consumers measured faster than the
    # checkpoint write (0.78 vs 0.96 s warm at sf0.1)

    def bkt(r: int, col):
        return F.substring(
            F.md5(F.concat(F.lit(f"{r}:"), col)), 1, 2
        ).alias("bkt")

    cms = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"), bkt(r, F.col("token"))
                        )
                        for r in range(_L92_D)
                    ]
                )
            ).alias("rb")
        )
        .groupBy("rb.r", "rb.bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    probes = exact.orderBy(F.desc("exact_cnt"), "token").limit(_L92_TOPK)
    probe_rb = probes.select(
        "token",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bkt(r, F.col("token")))
                    for r in range(_L92_D)
                ]
            )
        ).alias("rb"),
    ).select("token", "exact_cnt", "rb.r", "rb.bkt")
    est = (
        probe_rb.join(F.broadcast(cms), ["r", "bkt"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return ordered_result(
        est.select(
            "token",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        ),
        F.desc("exact_cnt"),
        "token",
    )


_l(
    "l92_countmin_sketch",
    "Count-Min sketch accuracy audit: d=4 x w=256 CMS over tokens "
    "(portable md5 buckets), top-20 exact tokens probed — estimate, "
    "exact, and overcount per token (estimate >= exact always)",
    _l92,
    f"""
WITH toks AS (
  SELECT t.tok AS token
  FROM documents, unnest(string_split(text, ' ')) t(tok)
  WHERE t.tok <> ''
),
grid AS (SELECT unnest(generate_series(0, {_L92_D - 1})) AS r),
rb AS (
  SELECT g.r, token,
         substr(md5(CAST(g.r AS VARCHAR) || ':' || token), 1, 2) AS bkt
  FROM toks, grid g
),
cms AS (
  SELECT r, bkt, CAST(count(*) AS BIGINT) AS c FROM rb GROUP BY r, bkt
),
exact AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM toks GROUP BY token
),
probes AS (
  SELECT token, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, token LIMIT {_L92_TOPK}
),
probe_rb AS (
  SELECT p.token, p.exact_cnt, g.r,
         substr(md5(CAST(g.r AS VARCHAR) || ':' || p.token), 1, 2) AS bkt
  FROM probes p, grid g
),
est AS (
  SELECT token, exact_cnt, min(c) AS cms_est
  FROM probe_rb JOIN cms USING (r, bkt)
  GROUP BY token, exact_cnt
)
SELECT token, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overcount
FROM est
ORDER BY exact_cnt DESC, token
""",
    ref="SURVEY.md \u00a72.4 sketch family (l14 HLL, l87 Bloom, l90 "
    "MG); Cormode & Muthukrishnan 2005 count-min sketch",
)


# ---------------------------------------------------------------------------
# L91 — BPE rule APPLICATION as a first-class operator (VERDICT r8
# #6): apply an ordered merge-rule list to every corpus word
# (operators/text.apply_merges — the re-segmentation half of BPE,
# sharing ONE fold definition with training) and report the fertility
# census per word-length bucket. The rule list is fixed so the oracle
# gates application in isolation; the training↔application
# equivalence is pinned by tests/test_scale_ops.py (the trained
# rules re-applied via apply_merges reproduce training's final
# segmentation exactly).
# ---------------------------------------------------------------------------

_L91_RULES = [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r")]


def _l91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.text import apply_merges

    docs = _par_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seg = words.withColumn(
        "syms",
        F.expr(
            "transform(sequence(1, length(word)), j -> substring(word, j, 1))"
        ),
    )
    seg = apply_merges(seg, "syms", _L91_RULES)
    return ordered_result(
        seg.groupBy(
            F.least(F.length("word"), F.lit(10)).cast("int").alias("word_len")
        )
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("n_syms"),
            F.sum(F.col("cnt") * F.length("word")).alias("nch"),
        )
        .select(
            "word_len",
            "n_words",
            "n_syms",
            F.expr("n_syms * 10000 DIV nch").cast("long").alias("fert_bp"),
        ),
        "word_len",
    )


def _l91_apply_oracle(rules) -> str:
    parts = [
        """
WITH words AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents) t
  WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
),
seg0 AS MATERIALIZED (
  SELECT word, cnt, CAST(j AS INT) AS i,
         substr(word, CAST(j AS INT), 1) AS sym
  FROM words, unnest(generate_series(1, length(word))) AS t(j)
)"""
    ]
    for r, (a, b) in enumerate(rules, 1):
        parts.append(
            """
cand{r} AS (
  SELECT s1.word, s1.i
  FROM seg{p} s1
  JOIN seg{p} s2 ON s1.word = s2.word AND s2.i = s1.i + 1
  WHERE s1.sym = '{a}' AND s2.sym = '{b}'
),
keep{r} AS MATERIALIZED (
  SELECT word, i FROM (
    SELECT word, i, i - MIN(i) OVER (PARTITION BY word, grp) AS off
    FROM (
      SELECT word, i,
             i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
      FROM cand{r}
    ) g
  ) h WHERE off % 2 = 0
),
seg{r} AS MATERIALIZED (
  SELECT word, cnt,
         CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS INT) AS i,
         sym
  FROM (
    SELECT s.word, s.cnt, s.i, s.sym || '{b}' AS sym
    FROM seg{p} s
    JOIN keep{r} k ON s.word = k.word AND s.i = k.i
    UNION ALL
    SELECT s.word, s.cnt, s.i, s.sym
    FROM seg{p} s
    WHERE NOT EXISTS (
      SELECT 1 FROM keep{r} k
      WHERE k.word = s.word AND (k.i = s.i OR k.i = s.i - 1)
    )
  ) m
)""".format(r=r, p=r - 1, a=a, b=b)
        )
    last = len(rules)
    return (
        ",".join(parts)
        + f"""
SELECT CAST(LEAST(length(word), 10) AS INT) AS word_len,
       CAST(SUM(cnt) AS BIGINT) AS n_words,
       CAST(SUM(cnt * ns) AS BIGINT) AS n_syms,
       CAST(SUM(cnt * ns) * 10000 // SUM(cnt * length(word)) AS BIGINT)
         AS fert_bp
FROM (
  SELECT word, cnt, CAST(count(*) AS BIGINT) AS ns
  FROM seg{last} GROUP BY word, cnt
) f
GROUP BY 1
ORDER BY word_len
"""
    )


_l(
    "l91_bpe_apply_fertility",
    "BPE rule application (apply_merges, the shared training fold) to "
    "every corpus word + fertility census per word-length bucket",
    _l91,
    _l91_apply_oracle(_L91_RULES),
    ref="SURVEY.md §2.4 L88 family; Sennrich et al. 2016 (apply "
    "half); VERDICT r8 #6",
)


# ---------------------------------------------------------------------------
# L93 — mergeable quantile-summary audit (r12; the QUANTILE member of
# the sketch family: HLL l14, Bloom l87, Misra–Gries l90/st18,
# Count–Min l92): one bounded-state pass builds a deterministic
# equal-weight quantile summary of document lengths (<= capacity
# points per hash partition, Munro–Paterson / mergeable-summaries
# shape), the merged summary answers seven probe quantiles, and the
# audit verifies each estimate against the sketch's ANALYTIC rank
# bounds — count(<= est) >= target exactly, count(< est) within the
# n/capacity + partitions slack — plus the EXACT quantile from the
# two-pass binned derivation (r76 disc semantics, no full sort). The
# gated cells are the exact values and the budget flags; a sketch bug
# (wrong weights, lost chunk, broken merge order) flips a flag.
#
# Scale shape: the sketch is O(capacity) state per partition and ONE
# hash exchange; the merged summary is <= capacity x partitions rows
# (collectable metadata, like the k-means centroid tables); the audit
# passes are a single conditional aggregate + the binned exact leg —
# nothing sorts the corpus in one task. A production consumer keeps
# just the summary (8 KB) and answers any quantile offline.
# ---------------------------------------------------------------------------

_L93_PROBES_BP = (100, 500, 2500, 5000, 7500, 9500, 9900)
_L93_CAP = 256
_L93_PARTS = 8  # the scale lever: a cluster raises it with the corpus


def _l93(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from graal_cdc_spark.operators.sketch import (
        quantile_sketch_estimates,
        quantile_summary,
    )

    docs = _par_table(spark, sf_dir, "documents")
    lens = docs.select(F.length("text").cast("long").alias("doc_len"))
    # ONE distributed job: the bounded quantile summary plus the exact
    # per-value counts (globally exact because the exchange hashes on
    # the value — see quantile_summary); everything after is numpy
    # over <= domain rows
    rows = quantile_summary(
        lens,
        "doc_len",
        capacity=_L93_CAP,
        num_partitions=_L93_PARTS,
        with_value_counts=True,
    ).collect()
    n, est = quantile_sketch_estimates(
        [(r["x"], r["w"]) for r in rows if r["kind"] == 0],
        list(_L93_PROBES_BP),
    )
    slack = n // _L93_CAP + _L93_PARTS
    hv = np.array([r["x"] for r in rows if r["kind"] == 1], dtype=np.int64)
    hc = np.array([r["w"] for r in rows if r["kind"] == 1], dtype=np.int64)
    order = np.argsort(hv)
    vals, cnts = hv[order], hc[order]
    cum = np.cumsum(cnts)
    if int(cum[-1]) != n:
        raise RuntimeError("l93: summary lost or duplicated weight")
    out = []
    for q in _L93_PROBES_BP:
        target = -(-q * n // 10000)  # ceil(q*n/10000), float-free
        exact = int(vals[np.searchsorted(cum, target, side="left")])
        i_leq = int(np.searchsorted(vals, est[q], side="right"))
        i_lt = int(np.searchsorted(vals, est[q], side="left"))
        leq = int(cum[i_leq - 1]) if i_leq else 0
        lt = int(cum[i_lt - 1]) if i_lt else 0
        ok = leq >= target and lt <= target - 1 + slack
        out.append((q, n, exact, 1 if ok else 0))
    return spark.createDataFrame(
        sorted(out),
        "q_bp int, n_docs long, exact_len long, within_budget int",
    )


_l(
    "l93_quantile_sketch_audit",
    "mergeable quantile-summary audit: bounded-state one-pass sketch "
    "of document lengths answers 7 probe quantiles; gated on the "
    "exact binned quantiles plus analytic rank-budget flags",
    _l93,
    """
WITH lens AS (
  SELECT CAST(length(text) AS BIGINT) AS len FROM documents
),
ranked AS (
  SELECT len,
         row_number() OVER (ORDER BY len) AS rn,
         count(*) OVER () AS n
  FROM lens
),
probes(q_bp) AS (VALUES (100), (500), (2500), (5000), (7500), (9500), (9900))
SELECT CAST(p.q_bp AS INT) AS q_bp,
       CAST(max(r.n) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN r.rn * 10000 >= r.n * p.q_bp THEN r.len END)
            AS BIGINT) AS exact_len,
       CAST(1 AS INT) AS within_budget
FROM ranked r, probes p
GROUP BY p.q_bp
ORDER BY q_bp
""",
    ref="SURVEY.md §2.4 sketch family (l14/l87/l90/l92); Munro & "
    "Paterson 1980 selection summaries; Agarwal et al. 2012 "
    "mergeable summaries — audit-the-approximation discipline",
)


# ---------------------------------------------------------------------------
# L94 — containment census (r12; Broder's asymmetric companion to
# resemblance): exact pairwise 5-gram containment over an
# eighth-corpus gate slice, banded by max-direction containment, with
# a per-band count of QUOTE pairs — containment >= 0.8 while Jaccard
# < 0.5, the superset/quote class that resemblance dedup (l02 exact,
# l06 MinHash-LSH) structurally misses because MinHash buckets by
# resemblance. This is the audit that tells a dedup pipeline how much
# duplication its resemblance threshold leaves behind.
#
# Scale shape: the exact all-pairs leg is the AUDIT (sliced on both
# engines, like l02); the production path for containment is a
# shingle-sample probe against an index, not all-pairs. Integer basis
# points (DIV) keep both engines bit-identical.
# ---------------------------------------------------------------------------


def _l94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.dedup import shingle_containment_pairs

    docs = _par_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 8 == 0
    )
    pairs = shingle_containment_pairs(
        docs, "doc_id", "text", n=5, min_cont_bp=5000
    )
    banded = pairs.select(
        (
            F.greatest("cont_ab_bp", "cont_ba_bp")
            .cast("long") / F.lit(1000)
        )
        .cast("long")
        .alias("band"),
        F.when(
            (F.greatest("cont_ab_bp", "cont_ba_bp") >= 8000)
            & (F.col("jaccard_bp") < 5000),
            1,
        )
        .otherwise(0)
        .alias("is_quote"),
    )
    return ordered_result(
        banded.groupBy("band").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("is_quote").cast("long").alias("n_quote_pairs"),
        ),
        "band",
    )


_l(
    "l94_containment_census",
    "containment census (quote/superset detection): exact 5-gram "
    "containment bands over an eighth-corpus slice, counting pairs "
    "with containment >= 0.8 but Jaccard < 0.5 — the class "
    "resemblance dedup misses",
    _l94,
    """
WITH sh AS (
  SELECT DISTINCT doc_id, substring(text, CAST(u AS INT), 5) AS shingle
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS u
    FROM documents WHERE length(text) >= 5 AND doc_id % 8 = 0
  ) t
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS icnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT CAST(icnt * 10000 // sa.n_sh AS BIGINT) AS cont_ab_bp,
         CAST(icnt * 10000 // sb.n_sh AS BIGINT) AS cont_ba_bp,
         CAST(icnt * 10000 // (sa.n_sh + sb.n_sh - icnt) AS BIGINT)
           AS jaccard_bp
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE GREATEST(icnt * 10000 // sa.n_sh,
                 icnt * 10000 // sb.n_sh) >= 5000
)
SELECT CAST(GREATEST(cont_ab_bp, cont_ba_bp) // 1000 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN GREATEST(cont_ab_bp, cont_ba_bp) >= 8000
                      AND jaccard_bp < 5000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quote_pairs
FROM pairs
GROUP BY 1
ORDER BY band
""",
    ref="SURVEY.md §2.4 L02 family; Broder 1997 containment vs "
    "resemblance — the quote/superset audit a resemblance-only "
    "dedup pipeline needs",
)


# ---------------------------------------------------------------------------
# L95 — containment PROBE census (r12; the scale path whose exact
# audit twin is l94): bottom-16 md5-sampled shingles per document
# probed against the df-capped inverted shingle index; per-(a,b) the
# match count over a's sample estimates C(a→b). Full corpus, no
# all-pairs leg — the probe cost is k x capped posting lengths. The
# oracle restates the IDENTICAL derivation (md5 bottom-k is a
# portable deterministic sample, the l81/l82 twin discipline), so
# the gate is exact, not rows-only. Census: estimate bands (quarter
# steps) with pair counts and the high-containment count (est >= 3/4).
#
# Scale shape (r13 rework, VERDICT r12 #3): per-doc distinct grams
# via array_distinct inside the row, md5 BEFORE the single hash
# exchange, df cap as a broadcast ANTI-join against the tiny
# over-cap set, one per-doc bottom-k aggregation, one index join
# bounded by k x posting caps; boilerplate shingles (df > 2% of
# docs, exact-integer basis-point cap) are dropped before sampling
# on BOTH engines.
# ---------------------------------------------------------------------------


def _l95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.dedup import containment_probe_pairs

    docs = _par_table(spark, sf_dir, "documents")
    pairs = containment_probe_pairs(
        docs, "doc_id", "text", n=3, k=16, max_df_bp=200,
        min_est_bp=5000, min_sample=8, token_grams=True,
    )
    return ordered_result(
        pairs.select(
            F.expr("est_bp DIV 2500").cast("long").alias("band"),
            F.when(F.col("est_bp") >= 7500, 1).otherwise(0).alias("hi"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("hi").cast("long").alias("n_high"),
        ),
        "band",
    )


_l(
    "l95_containment_probe",
    "containment probe census (the l94 scale path): bottom-16 md5 "
    "word-trigram samples probed against the df-capped inverted "
    "index, estimate bands over the full corpus — no all-pairs leg",
    _l95,
    """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM toks WHERE len(t) >= 3
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM idx
),
nd AS (SELECT count(*) AS n_docs FROM documents),
freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
kept AS (
  SELECT s.doc_id, s.shingle, md5(s.shingle) AS h
  FROM sh s JOIN freq f ON f.shingle = s.shingle, nd
  WHERE f.df <= GREATEST(2, CAST(nd.n_docs * 2 // 100 AS BIGINT))
),
sampled AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
    FROM kept
  ) t WHERE rn <= 16
),
ks AS (
  SELECT doc_id, count(*) AS k_a FROM sampled GROUP BY doc_id
  HAVING count(*) >= 8
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS matches
  FROM sampled a JOIN kept b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT CAST(m.matches * 10000 // ks.k_a AS BIGINT) AS est_bp
  FROM m JOIN ks ON ks.doc_id = m.doc_a
  WHERE m.matches * 10000 // ks.k_a >= 5000
)
SELECT CAST(est_bp // 2500 AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN est_bp >= 7500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high
FROM pairs
GROUP BY 1
ORDER BY band
""",
    ref="SURVEY.md §2.4 L94/L02 family; Broder bottom-k sketches — "
    "the sampled containment probe, portable-md5 exact twin "
    "(l81/l82 discipline)",
)


# ---------------------------------------------------------------------------
# L96 — KMV (k-minimum-values / bottom-k) distinct sketch with its
# accuracy audited against the exact count (r13; Bar-Yossef et al.'s
# classic estimator, the missing member of the sketch ladder next to
# HLL l14, Count-Min l92, quantile summaries l93). Distinct user_ids
# hash through portable md5; the k-th smallest hash per event_type
# gives D-hat = (k-1) * 2^40 / hk over the 40-bit hash prefix — pure
# integer arithmetic on BOTH engines (Spark conv(hex,16,10) /
# DuckDB CAST('0x'||hex AS BIGINT); 63 * 2^40 < 2^47, no HUGEINT
# leak), so the gate is exact, not rows-only. Groups with fewer than
# k distinct values report the exact count (the sketch IS exact below
# its capacity — standard KMV semantics). err_bp pins the estimator's
# accuracy in integer basis points: the audit-the-approximation
# discipline (l57/l86/l89/l92/l93) applied to distinct counting.
#
# Scale shape: the sketch state is k hashes per group (mergeable:
# bottom-k of a union = bottom-k of bottom-ks); the AUDIT pays one
# distinct exchange because its exact leg needs the true count anyway
# — a production KMV rides a partial-aggregate bottom-k with no
# distinct materialization.
# ---------------------------------------------------------------------------


def _l96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = 64
    scale = 1 << 40  # 40-bit hash prefix: (k-1)*2^40 fits BIGINT
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.md5(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    ranked = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_exact", F.count(F.lit(1)).over(wc)
    )
    kth = ranked.filter(F.col("rn") == k).select(
        "event_type",
        F.greatest(
            F.conv(F.substring("h", 1, 10), 16, 10).cast("long"),
            F.lit(1),
        ).alias("hk"),
    )
    groups = ranked.select("event_type", "n_exact").distinct()
    out = (
        groups.join(kth, "event_type", "left")
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(F.col("hk").isNull(), F.col("n_exact"))
            .otherwise(F.expr(f"{(k - 1) * scale} DIV hk"))
            .cast("long")
            .alias("est_distinct"),
        )
        .withColumn(
            "err_bp",
            F.expr(
                "CAST(abs(est_distinct - n_exact) * 10000 "
                "DIV n_exact AS BIGINT)"
            ),
        )
    )
    return ordered_result(
        out.select("event_type", "n_exact", "est_distinct", "err_bp"),
        "event_type",
    )


_l(
    "l96_kmv_distinct_audit",
    "KMV bottom-k distinct sketch (k=64, portable md5, 40-bit "
    "prefix) vs the exact distinct count per event_type — estimate "
    "and error in integer basis points, exact-gated on both engines",
    _l96,
    """
WITH h AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
),
ranked AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM h
),
kth AS (
  SELECT event_type,
         GREATEST(CAST('0x' || substr(h, 1, 10) AS BIGINT), 1) AS hk
  FROM ranked WHERE rn = 64
),
grp AS (SELECT DISTINCT event_type, n_exact FROM ranked),
est AS (
  SELECT g.event_type,
         CAST(g.n_exact AS BIGINT) AS n_exact,
         CAST(CASE WHEN k.hk IS NULL THEN g.n_exact
                   ELSE 69269232549888 // k.hk END AS BIGINT)
           AS est_distinct
  FROM grp g LEFT JOIN kth k USING (event_type)
)
SELECT event_type, n_exact, est_distinct,
       CAST(abs(est_distinct - n_exact) * 10000 // n_exact AS BIGINT)
         AS err_bp
FROM est
ORDER BY event_type
""",
    "sketch ladder member (Bar-Yossef et al. 2002 KMV); audits the "
    "estimator like l57/l86/l89/l92/l93",
)


# ---------------------------------------------------------------------------
# L97 — SEMANTIC decontamination (r13; the embedding member of the
# decontamination family — l25/l52 catch verbatim n-gram overlap,
# l47 lexical novelty, but a PARAPHRASED eval item shares no 8-gram
# with its training twin; the standard production guard is max
# cosine of each eval item against the corpus). Eval slice =
# vec_id % 19 == 0 (held out), corpus = the rest; exact top-1 cosine
# per eval vector via the broadcast-queries x one-corpus-scan plan
# (the l04 machinery with the corpus side EXCLUDING eval ids);
# census: eval items per max-similarity decile band + the
# contaminated count (round(sim,4) >= 0.9) per band.
#
# Scale shape: the eval side is always the small side (a few MB of
# eval vectors) — it collects into ONE broadcast float64 matrix and
# the corpus scans ONCE through Arrow-batched mapInPandas, each
# batch a queries x batch BLAS matmul emitting per-query partial
# maxima (cosine_max_sim; the interpreted higher-order dot measured
# ~4x slower). At 100 TB the same query rides the IVF-PQ index
# (l80/l89) — this is the exact audit the index's recall is measured
# against.
# ---------------------------------------------------------------------------


def _l97(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain scan, NOT _par_table (measured r13 opt round): the BLAS
    # block matmul is microseconds per batch, so the pass is
    # scheduling-bound locally — 32 python partitions cost ~3x the
    # whole query in task overhead (warm-med 0.58 -> 2.01 s in the
    # closing bench; the l90 rule). On real multi-block cluster data
    # the mapInPandas scan parallelizes naturally.
    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 19 == 0
    top1 = S.cosine_max_sim(
        emb.filter(~is_eval), emb.filter(is_eval)
    ).withColumn("sim", F.round(F.col("sim_raw"), 4) + F.lit(0.0))
    per_eval = top1.select(
        "qid",
        F.floor(F.col("sim") * 10).cast("int").alias("band"),
        F.when(F.col("sim") >= 0.9, 1).otherwise(0).alias("contam"),
    )
    return ordered_result(
        per_eval.groupBy("band").agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("contam").cast("long").alias("n_contaminated"),
        ),
        "band",
    )


_l(
    "l97_semantic_decontamination",
    "embedding-based decontamination: exact top-1 cosine of each "
    "held-out eval vector against the training corpus (broadcast "
    "eval matrix x one BLAS-blocked corpus scan), deciles census + "
    "contaminated count",
    _l97,
    """
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 19 = 0
),
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 19 <> 0
),
sims AS (
  SELECT qid,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
           AS sim_raw
  FROM q, c
),
m AS (
  SELECT qid, round(max(sim_raw), 4) + 0 AS sim FROM sims GROUP BY qid
),
b AS (
  SELECT qid, CAST(floor(sim * 10) AS INT) AS band,
         CASE WHEN sim >= 0.9 THEN 1 ELSE 0 END AS contam
  FROM m
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(contam) AS BIGINT) AS n_contaminated
FROM b
GROUP BY band
ORDER BY band
""",
    "decontamination family member (semantic; SemDeDup/D4 lineage) — "
    "the paraphrase-robust guard n-gram overlap (l25/l52) misses",
)


# ---------------------------------------------------------------------------
# MM17 — audio FEATURE EXTRACTION census over real decoded WAV
# (r13): mm08 proves the RIFF/PCM codec inversion; this is the
# windowed-analysis leg a training pipeline actually runs on the
# decoded signal — per-clip frame count (8-sample windows, ragged
# tail dropped), total frame ENERGY (sum of squared samples, int64
# exact), strict-sign zero crossings across the clip, and peak
# amplitude. The oracle restates every feature from the same
# (codepoint mod 256)*64 - 8192 sample arithmetic the encoder uses,
# so a framing error, an off-by-one in the crossing pairs, or a
# decode drift changes a cell. Upgrades the mm02 "feature extract"
# capability from stub to REAL for the audio modality.
#
# Scale shape: one Arrow-batched mapInPandas stage, numpy-vectorized
# per clip, no shuffle before the tiny census aggregate.
# ---------------------------------------------------------------------------


def _mm17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.multimodal import (
        documents_as_wav,
        wav_feature_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 2)
    )
    return ordered_result(
        wav_feature_stats(documents_as_wav(docs)), "media_id"
    )


_l(
    "mm17_wav_feature_census",
    "audio feature extraction over REAL decoded WAV: per-clip frame "
    "count, integer frame energy, strict-sign zero crossings, peak "
    "amplitude — the mm02 feature-extract capability made real for "
    "audio",
    _mm17,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(16 + doc_id % 16 AS INT) AS n,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 2
), s AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, n - 1),
           j -> ascii(substr(text, CAST(j % len AS INT) + 1, 1)) % 256
                * 64 - 8192) AS samples
  FROM d
), f AS (
  SELECT doc_id, n, samples,
         CAST(n // 8 AS INT) AS n_frames
  FROM s
)
SELECT doc_id AS media_id,
       n_frames,
       CAST(list_sum(list_transform(samples[1:n_frames * 8],
                                    x -> x * x)) AS BIGINT) AS energy,
       CAST(len(list_filter(generate_series(1, n - 1),
            j -> samples[CAST(j AS INT)] * samples[CAST(j AS INT) + 1] < 0))
         AS BIGINT) AS zero_crossings,
       CAST(GREATEST(list_max(samples), -list_min(samples)) AS BIGINT)
         AS peak
FROM f
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family; classic frame-energy / "
    "zero-crossing-rate analysis over the RIFF/PCM decode (mm08 "
    "codec)",
)


# ---------------------------------------------------------------------------
# MM18 — GIF/LZW round-trip census (r13): the codec ladder's
# DICTIONARY-coding member (PNG covers DEFLATE, JPEG covers
# DCT/Huffman; LZW is the classic third family). Each document
# becomes a grayscale-palette GIF87a (variable-width LZW, 9->12-bit
# dictionary growth, CLEAR-and-reset at 4096, 255-byte sub-blocks),
# is decoded back through the strict parser, and the decoded palette
# indices census against the oracle's restatement of the generative
# codepoint arithmetic — a wrong width-change boundary, a broken
# KwKwK case, or a sub-block walk error changes a cell.
#
# Scale shape: one Arrow-batched mapInPandas encode stage, one
# decode stage, no shuffle before the tiny census aggregate.
# ---------------------------------------------------------------------------


def _mm18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graal_cdc_spark.operators.gif import (
        documents_as_gif,
        gif_decode_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (F.col("doc_id") % 3 == 0)
    )
    return ordered_result(
        gif_decode_stats(documents_as_gif(docs)), "media_id"
    )


_l(
    "mm18_gif_roundtrip_census",
    "real GIF87a (variable-width LZW) encode->decode round-trip "
    "census: decoded palette-index count/sum/min/max vs the oracle's "
    "pixel arithmetic from the raw text",
    _mm18,
    """
WITH d AS (
  SELECT doc_id, text,
         CAST(4 + doc_id % 5 AS INT) AS h,
         CAST(4 + doc_id % 4 AS INT) AS w,
         length(text) AS len
  FROM documents
  WHERE length(text) > 0 AND doc_id % 3 = 0
), s AS (
  SELECT doc_id, h, w,
         list_transform(generate_series(0, h * w - 1),
           j -> ascii(substr(text, CAST(j % len AS INT) + 1, 1)) % 256
         ) AS px
  FROM d
)
SELECT doc_id AS media_id,
       CAST(h * w AS INT) AS n_pixels,
       CAST(list_sum(px) AS BIGINT) AS sum_px,
       CAST(list_min(px) AS BIGINT) AS min_px,
       CAST(list_max(px) AS BIGINT) AS max_px
FROM s
ORDER BY media_id
""",
    ref="SURVEY.md §2.4 MM family; CompuServe GIF87a LZW "
    "(variable-width, early-change pairing, documented referee "
    "limits in operators/gif.py)",
)
