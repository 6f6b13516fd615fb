"""Deduplication operators for training-data pipelines.

Five families, from exact to fuzzy:

- exact (hash-groupBy / dropDuplicates)
- content-fingerprint (md5) clusters
- n-gram (shingle) Jaccard — exact pairwise, oracle-checkable
- MinHash + LSH — the scale path for near-dup (band/bucket join)
- SimHash — Hamming-ball near-dup on a 64-bit sketch

Scale notes: the exact-Jaccard pair join is quadratic in the document
frequency of each shingle — fine at gate SF, ruinous at 100 TB. The
production path is :func:`minhash_lsh_candidates`: candidate pairs
come from equality joins on (band, bucket), which shuffle-partition
evenly, and only candidates get the exact verify. Ultra-frequent
shingles (stopword-grams) are droppable via ``max_doc_freq_frac``
without hurting recall — they carry no discriminative signal.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graal_cdc_spark.build_once import build_once
from graal_cdc_spark.operators.text import char_shingles, word_ngrams_exploded


def exact_dedup(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact dedup on the given columns (hash shuffle on those cols)."""
    return df.dropDuplicates(list(cols))


def fingerprint_clusters(
    df: DataFrame, id_col: str, text_col: str, min_size: int = 2
) -> DataFrame:
    """Group documents by content hash; return clusters of exact dups."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("cluster_size") >= min_size)
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
    max_doc_freq_frac: float | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard similarity ≥ threshold.

    intersection via shingle self-join, |A∪B| = |A|+|B|−|A∩B|.
    ``max_doc_freq_frac`` (scale path) drops shingles present in more
    than that fraction of documents before pairing — set None for the
    oracle-exact form.
    """
    # distinct=False: jaccard_pairs_from_shingles dedups (id, shingle)
    # itself inside its single shingle-keyed exchange — a pre-distinct
    # here would be a second full shuffle of the exploded stream
    sh = char_shingles(df, id_col, text_col, n, distinct=False)
    if max_doc_freq_frac is not None:
        n_docs = df.count()
        cap = int(n_docs * max_doc_freq_frac)
        dedup = sh.dropDuplicates([id_col, "shingle"])
        freq = dedup.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = (
            dedup.join(
                F.broadcast(freq.filter(F.col("__df") <= cap)), "shingle"
            )
            .drop("__df")
        )
    return jaccard_pairs_from_shingles(sh, id_col, threshold)


def jaccard_pairs_from_shingles(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Pairwise Jaccard over a (id, shingle) table — duplicates
    allowed and deduped HERE. Shared tail of the char-shingle and
    token-n-gram exact dedup operators.

    NULL shingles are dropped (explicit filter below): the per-doc
    set size n_sh comes from the inner rarity equi-join, which never
    matches nulls — without the filter a null-emitting caller would
    see nulls counted by a size aggregate but invisible to the join
    (ADVICE r13). Current producers (char shingles, word n-grams)
    never emit nulls, so the filter is a no-op on every declared
    query.

    PREFIX-FILTERED exact algorithm (r13 optimization round; the
    All-Pairs/PPJoin candidate bound — Bayardo et al. 2007, Xiao et
    al. 2008): instead of joining the FULL (id, shingle) table with
    itself (output = Σ_s df(s)², quadratic in every shingle's document
    frequency — the old shape), each document indexes only its PREFIX
    under a global rarity total order, candidates come from the
    prefix-prefix equi-join, and only candidates get an exact
    set-intersection verify.

    Soundness (why the output is IDENTICAL): order all shingles by
    (df, shingle) — a total order. For a qualifying pair
    J(A,B) ≥ t: |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so |A∩B| ≥
    ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉. Let w = min(A∩B) under the order. If w
    were outside A's prefix (the first |A| − ⌈t·|A|⌉ + 1 elements),
    every prefix element of A would precede w and hence lie outside
    B (w is the minimum shared element), leaving |A∩B| ≤
    |A| − (|A| − ⌈t·|A|⌉ + 1) < ⌈t·|A|⌉ — contradiction; symmetric
    for B. So every qualifying pair collides in the prefix join; the
    verify step recomputes the EXACT |A∩B| and applies the exact
    threshold, so false candidates are dropped and the result set,
    values included, is unchanged. The threshold is converted to
    integer basis points with floor() — never larger than the true
    t — so the prefix can only be LONGER than the theorem needs
    (superset-safe; exact-integer ceil avoids the float-boundary
    trap, the ADVICE r12 max_df_bp lesson).

    Why it wins at 100 TB: the candidate join's output is
    Σ_{s ∈ prefixes} df_pref(s)² where prefixes hold each document's
    RAREST ~(1−t) fraction of shingles — boilerplate high-df shingles
    (the Σ df² mass) sit in suffixes and never generate candidates.
    At t = 0.8 the indexed stream is ~20% of the rows and the
    candidate count collapses by orders of magnitude on duplicate-
    heavy corpora (measured at sf0.1: l02 21.9 s → 2.4 s warm, l13
    44 s-class → seconds; the verify is O(candidates × doc length)
    with no shuffle wider than the candidate list).
    """
    import math

    t_bp = int(math.floor(threshold * 10000))
    # Pin the exchange partitioning: the (id, shingle) shuffle is
    # small in BYTES, so AQE coalesces it to 1–2 partitions — but the
    # downstream work is O(collisions), pure compute the byte-based
    # planner can't see (measured 10.7s → 3.9s at sf0.1 on local[32]).
    # Explicit numPartitions is AQE-exempt (the test_plans AQE rule).
    # The (id, shingle) dedup FUSES into this same exchange, and the
    # per-shingle df aggregate rides it too (HashPartitioning(shingle)
    # satisfies both clusterings). Truncate lineage once: sh feeds the
    # df aggregate and the rarity join (the l75 rule).
    n_par = sh.sparkSession.sparkContext.defaultParallelism
    sh = (
        sh.filter(F.col("shingle").isNotNull())
        .repartition(n_par, "shingle")
        .dropDuplicates([id_col, "shingle"])
        .localCheckpoint(eager=False)
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # (id, shingle, df): same shingle partitioning on both sides — no
    # third exchange of the shingle stream
    ranked = sh.join(freq, "shingle")
    # One doc-keyed aggregation builds the per-doc shingle set SORTED
    # by the global (df, shingle) rarity order (array_sort on the
    # struct is field-lexicographic — a total order because shingle is
    # unique per doc after the dedup). n_sh rides the same row, so the
    # old separate `sizes` aggregate is gone. Checkpoint: three
    # consumers (prefix stream + both verify sides) must not re-run
    # the rarity join.
    docs = (
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__df").alias("d"), F.col("shingle").alias("s"))
                )
            ).alias("__ss")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("__ss"), lambda x: x["s"]).alias("ss"),
            F.size("__ss").alias("n_sh"),
        )
        # prefix length |A| − ⌈t·|A|⌉ + 1, exact-integer ceil in basis
        # points; ≥ 1 for every non-empty set when t ≤ 1
        .withColumn(
            "__plen",
            F.col("n_sh")
            - F.expr(f"({t_bp}L * n_sh + 9999L) DIV 10000L")
            + F.lit(1),
        )
        .localCheckpoint(eager=False)
    )
    prefix = docs.select(
        F.col(id_col),
        F.col("n_sh"),
        F.posexplode(F.slice("ss", F.lit(1), F.col("__plen"))).alias(
            "__pos0", "shingle"
        ),
    )
    # candidate pairs: prefix × prefix equi-join — repartitioned by
    # shingle for the same AQE-can't-see-compute reason as above.
    # Three further SOUND pruning filters (all derived from J ≥ t, all
    # computed in exact integer arithmetic, all only ever DROPPING
    # pairs the exact verify below would drop anyway):
    #   length:     J ≥ t ⟹ |A∩B| ≥ t·max(|A|,|B|) and |A∩B| ≤
    #               min(|A|,|B|) ⟹ min ≥ t·max.
    #   positional: within one document the sorted array's position
    #               order IS the global order, so the minimal shared
    #               element (i = min matched pos in A, j = min in B —
    #               the same element by minimality) bounds the
    #               intersection: |A∩B| ≤ 1 + min(|A|−i, |B|−j)
    #               (every other shared element sits strictly after i
    #               in A and after j in B, else it would be an
    #               earlier prefix-prefix match). Required overlap
    #               α = ⌈t/(1+t)·(|A|+|B|)⌉ (from J = i/(|A|+|B|−i)
    #               ≥ t solved for i).
    prefix = prefix.repartition(n_par, "shingle")
    alpha = (
        f"({t_bp}L * (na + nb) + {10000 + t_bp - 1}L)"
        f" DIV {10000 + t_bp}L"
    )
    cand = (
        prefix.select(
            F.col(id_col).alias("doc_a"),
            F.col("n_sh").alias("na"),
            (F.col("__pos0") + 1).alias("__pa"),
            "shingle",
        )
        .join(
            prefix.select(
                F.col(id_col).alias("doc_b"),
                F.col("n_sh").alias("nb"),
                (F.col("__pos0") + 1).alias("__pb"),
                "shingle",
            ),
            "shingle",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.expr(f"10000L * least(na, nb) >= {t_bp}L * greatest(na, nb)")
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("__pa").alias("__i"), F.min("__pb").alias("__j"))
        .filter(
            F.expr(f"1 + least(na - __i, nb - __j) >= {alpha}")
        )
        .select("doc_a", "doc_b")
    )
    # widen the verify stage: the surviving-pair frame is skinny, but
    # each row's verify is an O(|A|+|B|) set intersection — compute
    # the byte-based AQE coalescing cannot see (the same rule as the
    # shingle exchange above)
    cand = cand.repartition(n_par, "doc_a", "doc_b")
    # exact verify: |A∩B| by set intersection of the two (deduped)
    # shingle arrays; same integer counts → bit-identical jaccard
    # double → identical round/threshold behavior as the pre-r13
    # full-self-join form. No broadcast hint on the per-doc frames: a
    # per-doc table is NOT broadcastable at corpus scale (VERDICT r7);
    # AQE picks broadcast-hash at runtime when it fits.
    da = docs.select(
        F.col(id_col).alias("doc_a"),
        F.col("ss").alias("__sa"),
        F.col("n_sh").alias("na"),
    )
    db = docs.select(
        F.col(id_col).alias("doc_b"),
        F.col("ss").alias("__sb"),
        F.col("n_sh").alias("nb"),
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__sa", "__sb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_cont_bp: int = 5000,
) -> DataFrame:
    """Exact pairwise n-gram CONTAINMENT (Broder's asymmetric
    resemblance companion): C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|. The
    metric that catches QUOTES and SUPERSETS — a small document fully
    embedded in a big one has containment ≈ 1 but Jaccard ≈ |a|/|b|,
    so resemblance dedup (and MinHash-LSH, which buckets by
    resemblance) never pairs it. Returns unordered pairs with
    max-direction containment ≥ ``min_cont_bp``: (doc_a, doc_b,
    cont_ab_bp, cont_ba_bp, jaccard_bp) in integer basis points (DIV —
    engine-exact).

    Scale shape: same as the exact-Jaccard twin — one shingle-keyed
    exchange, pair cost O(shingle collisions); deliberately the
    EXACT audit form (callers slice; the scale path for containment
    is a shingle-sample probe, not all-pairs)."""
    sh = char_shingles(df, id_col, text_col, n, distinct=False)
    n_par = sh.sparkSession.sparkContext.defaultParallelism
    sh = (
        sh.repartition(n_par, "shingle")
        .dropDuplicates([id_col, "shingle"])
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("inter * 10000 DIV na").cast("long").alias("cont_ab_bp"),
            F.expr("inter * 10000 DIV nb").cast("long").alias("cont_ba_bp"),
            F.expr("inter * 10000 DIV (na + nb - inter)")
            .cast("long")
            .alias("jaccard_bp"),
        )
        .filter(
            F.greatest("cont_ab_bp", "cont_ba_bp") >= F.lit(min_cont_bp)
        )
    )


def containment_probe_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 16,
    max_df_bp: int = 200,
    min_est_bp: int = 2500,
    min_sample: int = 1,
    token_grams: bool = False,
) -> DataFrame:
    """The SCALE PATH for containment (the exact all-pairs form is
    :func:`shingle_containment_pairs`, sliced as the l94 audit):
    estimate C(a→b) by probing a BOTTOM-k sample of a's shingles
    (the k smallest md5 values — a deterministic, portable sample)
    against the full inverted shingle index; est = matches / |sample|.
    A quoted document's sample lands almost entirely inside its
    quoting superset, so the probe finds the quote pairs resemblance
    LSH misses at O(k · posting lengths) instead of O(all pairs).

    ``max_df_bp`` (integer basis points — exact integer arithmetic,
    so a SQL oracle's ``n_docs * bp // 10000`` computes the IDENTICAL
    cap; a float fraction could round one below the integer quotient
    and desync the exact-twin gate, ADVICE r12) drops shingles present
    in more than that fraction
    of documents BEFORE sampling and indexing (boilerplate shingles
    carry no containment signal and their posting lists are the whole
    cost); the estimate is then containment over the df-capped shingle
    space on both sides — consistent, and what a production probe
    does. Returns (doc_a, doc_b, matches, k_a, est_bp) for ordered
    pairs (a's sample probed against b) with est ≥ ``min_est_bp``;
    ``min_sample`` drops probes whose df-capped sample is smaller
    than that (a 2-shingle sample estimates nothing — standard
    minimum-support guard).

    ``token_grams`` switches the shingle unit from character n-grams
    to word n-grams (the right unit for small-alphabet / word-stream
    corpora, where char shingles are all boilerplate).

    Scale shape: per-doc distinctness is an ``array_distinct`` inside
    the row (no dedup shuffle), the md5 is computed once before the
    single hash-keyed exchange, the df cap is a broadcast ANTI-join
    against the tiny over-cap set (boilerplate shingles are heavy
    hitters by definition — few distinct values, huge postings), one
    per-doc aggregation for the bottom-k (the sample size rides the
    same row — no size join), and the index join's build side reuses
    the h-partitioned exchange. Output bounded by k × capped posting
    lengths — no quadratic leg anywhere (reworked per VERDICT r12 #3:
    the first cut re-consumed the checkpointed shingle frame through
    a sort-merge df-cap join and hashed after the exchange)."""

    if token_grams:
        sh = word_ngrams_exploded(
            df, id_col, text_col, n, per_doc_distinct=True
        )
    else:
        txt = F.col(text_col)
        grams = F.transform(
            F.sequence(F.lit(1), F.length(txt) - (n - 1)),
            lambda i: txt.substr(i, F.lit(n)),
        )
        sh = df.filter(F.length(txt) >= n).select(
            F.col(id_col),
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
    sh = sh.select(F.col(id_col), F.md5("shingle").alias("h"))
    n_docs = df.count()
    cap = max(2, n_docs * max_df_bp // 10000)
    # ONE hash-keyed exchange, lineage truncated once (the l75 rule):
    # the df count, the anti-join probe side, the bottom-k sampler
    # and the index side all ride this same partitioning. Sized by
    # spark.sql.shuffle.partitions — the DATA-sized knob (the l53
    # rule) — not core count: the shingle frame is a few rows per
    # doc, and 4× the tasks of the data's natural width measured
    # ~35% of the operator's wall on the downstream stages
    try:
        n_par = int(
            sh.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except ValueError:
        # 'auto' on AQE-managed platforms — fall back to core count
        n_par = sh.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(n_par, "h").localCheckpoint(eager=False)
    overcap = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > cap)
        .select("h")
    )
    kept = sh.join(F.broadcast(overcap), "h", "left_anti")
    by_doc = (
        kept.groupBy(id_col)
        .agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("__hs")
        )
        .withColumn("k_a", F.size("__hs"))
        .filter(F.col("k_a") >= min_sample)
    )
    a = by_doc.select(
        F.col(id_col).alias("doc_a"), "k_a", F.explode("__hs").alias("h")
    )
    b = kept.select(F.col(id_col).alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "k_a")
        .agg(F.count(F.lit(1)).alias("matches"))
        .withColumn(
            "est_bp",
            F.expr("matches * 10000 DIV k_a").cast("long"),
        )
        .filter(F.col("est_bp") >= F.lit(min_est_bp))
        .select("doc_a", "doc_b", "matches", "k_a", "est_bp")
    )


def token_ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise Jaccard over token (word) n-grams — the
    word-level twin of :func:`shingle_jaccard_pairs`. Same plan shape:
    map-side n-gram construction, one distinct shuffle, equality join
    on the n-gram."""
    sh = word_ngrams_exploded(df, id_col, text_col, n)
    # dedup happens inside jaccard_pairs_from_shingles' one exchange
    return jaccard_pairs_from_shingles(sh, id_col, threshold)


def minhash_signature_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """Per-doc MinHash signature ``(id, m0..m{num_hashes-1})``.

    Hash each variable-length shingle string ONCE, then derive the
    per-seed family by re-hashing the fixed-width 64-bit value
    (universal-hashing minhash trick; affine multiply would trip
    ANSI-mode overflow, so the rehash is xxhash64 over the long).
    ``distinct=False``: min-hash is duplicate-insensitive, so the
    (id, shingle) dedup shuffle is pure waste here. One aggregation
    computes all ``num_hashes`` minima.

    The first stage (explode + ``num_hashes + 1`` xxhash64 evals per
    shingle) is compute-heavy per input byte, so a single-row-group
    scan must be re-blocked first or ~50M hash evals serialize on one
    core (the l42/l20 rule; no-op on well-blocked cluster data).

    The signature matrix is a build-once artifact (the same
    amortization as the centroid table): memoized per (app, input
    plan, params) as a lazily-checkpointed frame, so l06/l23/l57 in
    one session build the ~50M-hash aggregation ONCE, not once per
    consumer query.
    """
    from graal_cdc_spark.sources.tables import with_min_parallelism

    spark = df.sparkSession

    def build() -> DataFrame:
        sh = char_shingles(
            with_min_parallelism(spark, df), id_col, text_col, n,
            distinct=False,
        )
        with_base = sh.withColumn("__h0", F.xxhash64(F.col("shingle")))
        hashed = with_base.select(
            F.col(id_col),
            *[
                F.xxhash64(F.col("__h0"), F.lit(seed)).alias(f"h{seed}")
                for seed in range(num_hashes)
            ],
        )
        return hashed.groupBy(id_col).agg(
            *[F.min(f"h{seed}").alias(f"m{seed}") for seed in range(num_hashes)]
        ).localCheckpoint(eager=False)

    return build_once(
        spark, "minhash_sig", (df, id_col, text_col, n, num_hashes), build
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Per-doc LSH bucket memberships ``(id, band, bucket)`` — the
    shared core of batch candidate generation and streaming dedup.

    shingle → xxhash64 under ``num_hashes`` seeds → per-doc min per
    seed (ONE aggregation) → band the signature → one bucket hash per
    band. ``bands`` rows per doc; two docs are LSH candidates iff
    they share any (band, bucket). A caller that also consumes the
    signature matrix itself passes it as ``sig`` (typically
    checkpointed) so the shingle+hash aggregation is built and
    executed once, not once per consumer.
    """
    rows = num_hashes // bands
    if sig is None:
        sig = minhash_signature_matrix(df, id_col, text_col, n, num_hashes)
    band_cols = [
        F.xxhash64(*[F.col(f"m{b * rows + r}") for r in range(rows)]).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs — the 100 TB near-dup path.

    shingle → xxhash64 under ``num_hashes`` seeds → per-doc min per
    seed (one aggregation) → group signature into ``bands`` bands →
    equality join on (band, band-hash). All shuffles are equality-key
    hash shuffles; no quadratic blowup. Candidates should be verified
    with exact Jaccard (cheap: candidate set is tiny). ``sig``: see
    :func:`lsh_buckets` — when a caller supplies its OWN signature
    frame the memo is bypassed entirely (nothing enforces that an
    explicit sig matches the default derivation, so caching it under
    the generic key could poison later default-path callers).

    On the default path the pair list is build-once: l06 emits it,
    l23 builds components over it and l57 audits it, so the banded
    bucket join + distinct executes once per (input, params).
    """

    def build() -> DataFrame:
        stacked = lsh_buckets(df, id_col, text_col, n, num_hashes, bands, sig)
        x = stacked.select(F.col(id_col).alias("doc_a"), "band", "bucket")
        y = stacked.select(F.col(id_col).alias("doc_b"), "band", "bucket")
        return (
            x.join(y, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .localCheckpoint(eager=False)
        )

    if sig is not None:
        return build()
    return build_once(
        df.sparkSession, "lsh_candidates",
        (df, id_col, text_col, n, num_hashes, bands), build,
    )


def lsh_component_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    sig: DataFrame | None = None,
    dense_threshold: int = 64,
) -> DataFrame:
    """Connectivity-preserving LSH edge set for connected components —
    the degree-capped form of :func:`minhash_lsh_candidates`
    (VERDICT r9 #3).

    Buckets of at most ``dense_threshold`` members emit all pairs
    (bounded: ≤ T(T−1)/2 per bucket); larger buckets collapse to a
    STAR on their minimum doc id (edge ``(min_id, id)`` per member).
    Either form spans exactly the bucket's node set, so the connected
    components are IDENTICAL to the all-pairs candidate list's
    components (transitivity) — but a hot bucket of B identical
    boilerplate documents contributes O(B) edges instead of O(B²).
    At 100 TB a single million-document boilerplate cluster is the
    difference between 10⁶ and 10¹² edge rows; this is the standard
    guard (the "min-hash representative union" production LSH dedup
    uses). The dense leg exists because sparsification is not free:
    a star graph has larger diameter, so min-label CC needs extra
    rounds — paying one bounded pair join on small buckets keeps the
    common-case round count of the dense graph while the cap bounds
    the adversarial case.

    NOT a substitute for :func:`minhash_lsh_candidates` when the
    caller verifies pairs (l06/l57 audit every candidate PAIR; the
    star drops non-representative pairings by design).

    Shape: one window shuffle on (band, bucket) computing (min, count)
    per bucket, a pair join restricted to small-bucket rows (each side
    ≤ T rows per key — never quadratic in corpus size), a distinct.
    """
    from pyspark.sql import Window

    def build() -> DataFrame:
        stacked = lsh_buckets(df, id_col, text_col, n, num_hashes, bands, sig)
        w = Window.partitionBy("band", "bucket")
        marked = (
            stacked.withColumn("rep", F.min(F.col(id_col)).over(w))
            .withColumn("cnt", F.count(F.lit(1)).over(w))
            .localCheckpoint(eager=False)
        )
        small = marked.filter(F.col("cnt") <= dense_threshold)
        dense = (
            small.select("band", "bucket", F.col(id_col).alias("doc_a"))
            .join(
                small.select("band", "bucket", F.col(id_col).alias("doc_b")),
                ["band", "bucket"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        star = (
            marked.filter(
                (F.col("cnt") > dense_threshold)
                & (F.col(id_col) != F.col("rep"))
            )
            .select(F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b"))
        )
        return dense.unionByName(star).distinct().localCheckpoint(eager=False)

    # same memo discipline as the candidate list (explicit sig bypasses)
    if sig is not None:
        return build()
    return build_once(
        df.sparkSession, "lsh_component_edges",
        (df, id_col, text_col, n, num_hashes, bands, dense_threshold), build,
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens (xxhash64 token hashes).

    Per document: for each bit position, sum ±1 weighted by the token
    hash's bit → sign becomes the sketch bit. Near-dups have small
    Hamming distance. Implemented with explode + bitwise expressions —
    no UDF, one aggregation shuffle on the doc id.

    Tokenize+hash+64-bit packing is compute-heavy per input byte —
    re-block a single-row-group scan first (the l42/l20 rule; no-op
    on well-blocked cluster data).
    """
    from graal_cdc_spark.sources.tables import with_min_parallelism

    df = with_min_parallelism(df.sparkSession, df)
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h = toks.select(F.col(id_col), F.xxhash64("tok").alias("h"))

    # Packed bit counting: per token, bit b contributes 2 if set else 0
    # (biased so lane partial sums are non-negative — no borrow between
    # lanes); 3 21-bit lanes per long ⇒ 22 packed sum columns + a token
    # count instead of 64 separate ones. Worst accumulation is the top
    # lane: 2·ones·2^42 < 2^63 ⟺ ones < 2^20 — safe for ~1M-token
    # documents (shard longer docs upstream; ANSI mode turns overflow
    # into a job-killing exception, so the bound is enforced by
    # construction, not hoped for). 21-bit lanes are the widest packing
    # whose 3-lane accumulator stays inside BIGINT.
    # Bit decision below: ones_b > n/2  ⟺  sum(±1) > 0 — identical
    # sketches to the unpacked formulation.
    LANE_BITS, LANES = 21, 3
    n_groups = (64 + LANES - 1) // LANES  # 22: last group has bit 63 only

    def lanes_in(g: int) -> int:
        return min(LANES, 64 - g * LANES)

    # The per-bit expressions are built as generated SQL strings parsed
    # JVM-side in ONE call each (clustering.int_array_lit rationale):
    # the per-bit Column form was ~1,000 py4j round-trips ≈ 1 s of
    # driver latency at every DataFrame build. The parsed operators
    # are identical — shiftright / & / CASE — so plans don't change.
    def lane_pack_sql(g: int) -> str:
        terms = []
        for lane in range(lanes_in(g)):
            b = g * LANES + lane
            terms.append(
                f"(CAST(((shiftright(h, {b}) & 1) * 2) AS BIGINT)"
                f" * {1 << (LANE_BITS * lane)}L)"
            )
        return " + ".join(terms)

    packed = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.expr(lane_pack_sql(g))).alias(f"p{g}")
            for g in range(n_groups)
        ],
    )

    def bit_sign_sql(g: int, lane: int) -> str:
        # lane value = 2 · ones-count for that bit
        mask = (1 << LANE_BITS) - 1
        b = g * LANES + lane
        # min-long has no direct literal (the positive half overflows
        # before negation in the parser) — spell it as an expression
        weight = f"{2**b}L" if b < 63 else "(-9223372036854775807L - 1L)"
        return (
            f"CASE WHEN (shiftright(p{g}, {LANE_BITS * lane}) & {mask})"
            f" > n_tok THEN CAST({weight} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
        )

    simhash = F.expr(
        " + ".join(
            bit_sign_sql(g, lane)
            for g in range(n_groups)
            for lane in range(lanes_in(g))
        )
    )
    return packed.select(F.col(id_col), simhash.alias("simhash"))


def simhash_neardup_pairs(
    sketches: DataFrame, id_col: str, max_hamming: int = 3, block_bits: int = 16
) -> DataFrame:
    """Hamming-ball pairing on SimHash sketches via block-LSH.

    Split the 64-bit sketch into ``64/block_bits`` blocks; by pigeonhole
    any pair within ``max_hamming`` (< number of blocks) shares at
    least one exact block → equality join per block, then exact
    Hamming verify with ``bit_count``.
    """
    n_blocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    blocks = sketches.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(F.col(id_col), F.col("simhash"), F.col("b.blk"), F.col("b.bval"))
    a = blocks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "blk", "bval"
    )
    b = blocks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "blk", "bval"
    )
    return (
        a.join(b, ["blk", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over an undirected edge list — the step
    between near-dup PAIR generation (jaccard/minhash/simhash/cosine)
    and canonical-document selection: duplicates are transitive, so
    the keep/drop decision needs the component, not the pair.

    Min-label propagation with pointer jumping: every node starts
    labeled with itself; each round takes the min over its neighbors'
    labels (propagation), then follows its label's label
    (``label <- label(label)``, pointer jumping). Propagation alone
    needs O(diameter) rounds — ruinous on a long chain; the jump makes
    label chains collapse geometrically, so rounds are
    O(log diameter), the property that survives a 100 TB graph.
    Returns ``(node, component)`` (component = min id) for every node
    incident to an edge; singletons are their own component by
    definition and need no rows.

    Scale notes: each round is two shuffle joins (neighbors x labels,
    labels x labels) + a map-side min aggregate; ``localCheckpoint``
    truncates the plan each round so lineage doesn't grow with
    iterations. The convergence probe is a changed-rows ``count()``
    whose same action also materializes the round's lazy checkpoint —
    one job per round, no data collect. This is the propagation+
    shortcutting core of large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond").
    """
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        # materialize ONCE: without this every round re-executes the
        # whole upstream edge pipeline (e.g. the MinHash-LSH candidate
        # generation) through the join lineage. Lazy: the first round's
        # action materializes it.
        #
        # r14 negative result (VERDICT r13 #6, measured then REVERTED):
        # persisting sym hash-partitioned by dst — so the per-round
        # join reuses the partitioning instead of re-exchanging the
        # edge frame (InMemoryRelation preserves it; localCheckpoint
        # does not) — read 3.41 s vs 2.30 s old, interleaved medians
        # over 5 alternations on l23's real sf0.1 edge set (6 rounds/
        # 3 probes per execution, commit a44cb19). The cache
        # write + per-round InMemoryRelation scan costs more than the
        # saved exchange at this shuffle width; the checkpoint stays.
        .localCheckpoint(eager=False)
    )
    # init label(v) = min(v, min neighbor) — one grouped aggregate that
    # replaces both the distinct-nodes shuffle AND the first
    # propagation round (which would cost two joins)
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    def one_round(labels: DataFrame) -> DataFrame:
        # propagation as ONE aggregation: union the neighbor label
        # contributions with each node's own (node, label) row and take
        # the per-node min — the self row both supplies the identity
        # label (so min == least(label, min nbr label)) and carries the
        # old label out through a conditional min, which replaces the
        # former labels ⋈ nbr_min left join. One shuffle join fewer
        # per round; at 100 TB that is one fewer full-label-frame
        # shuffle per iteration, locally ~25% off the probe latency.
        nbr = sym.join(labels, sym["dst"] == labels["node"]).select(
            F.col("src").alias("node"), "label", F.lit(0).alias("s")
        )
        cand = nbr.unionByName(
            labels.select("node", "label", F.lit(1).alias("s"))
        )
        agg = cand.groupBy("node").agg(
            F.min("label").alias("lab1"),
            # every node contributes exactly one s=1 row: its old label
            F.min(F.when(F.col("s") == 1, F.col("label"))).alias(
                "old_label"
            ),
        )
        # pointer jump: follow the label's own label one hop
        parents = agg.select(
            F.col("node").alias("pnode"), F.col("lab1").alias("plabel")
        )
        return agg.join(
            parents, agg["lab1"] == parents["pnode"], "left"
        ).select(
            "node",
            F.least(
                F.col("lab1"), F.coalesce(F.col("plabel"), F.col("lab1"))
            ).alias("new_label"),
            "old_label",
        )

    rounds_done = 0
    while rounds_done < max_iter:
        # Run TWO rounds per convergence probe: min-label propagation
        # is monotone, so a round that changes nothing guarantees all
        # later rounds change nothing — probing only the SECOND round
        # of each pair detects the same fixpoint with half the jobs
        # (each probe count is a full job; at ~0.5 s/job of local-mode
        # latency this halves the loop's fixed cost). old_label in the
        # probe belongs to the second round, exactly the "did the last
        # round change anything" question.
        first = one_round(labels)
        rounds_done += 1
        if rounds_done < max_iter:
            probe_src = one_round(
                first.select("node", F.col("new_label").alias("label"))
            )
            rounds_done += 1
        else:
            # odd max_iter budget: probe the single remaining round on
            # its own old/new pair
            probe_src = first
        # lazy: the convergence count below is the pair's ONLY action —
        # it materializes the checkpoint (filter+count touches every
        # partition) and probes in the same job
        new_labels = probe_src.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("new_label") != F.col("old_label")).count()
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        # Exhausting max_iter without the changed==0 fixpoint means the
        # labels are NOT components — downstream canonical-doc selection
        # would silently be wrong. O(log diameter) rounds make this
        # unreachable for any real graph at the default budget; hitting
        # it signals a pathological input or a too-small max_iter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed ~ log2 of graph diameter)"
        )
    return labels.select("node", F.col("label").alias("component"))


def minhash_estimate_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Accuracy audit of the MinHash estimator over the LSH candidate
    pairs: per pair, the signature-agreement estimate
    (matching components / num_hashes) next to the EXACT shingle
    Jaccard, with the absolute error in basis points — the
    verification harness that justifies (num_hashes, bands) before a
    100 TB run trusts the approximate path.

    Scale shape: the exact Jaccard is computed ONLY for the candidate
    pairs (tiny by construction — this is the standard
    LSH-then-verify pattern, never all-pairs); signatures broadcast
    onto the pair list twice.
    """
    # sig feeds the candidate generation AND both pair sides (a and b):
    # the signature-matrix memo returns ONE checkpointed frame for all
    # three consumers (cold run 11.9 s → 5.8 s at sf0.1) — no re-wrap,
    # that would store a second copy of the whole matrix. The candidate
    # leg goes through its own memo (default path, NOT an explicit sig:
    # an explicit sig would bypass the candidate memo by contract).
    sig = minhash_signature_matrix(df, id_col, text_col, n, num_hashes)
    cands = minhash_lsh_candidates(df, id_col, text_col, n, num_hashes, bands)
    arr = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
    sig_a = sig.select(F.col(id_col).alias("doc_a"), arr.alias("sa"))
    sig_b = sig.select(F.col(id_col).alias("doc_b"), arr.alias("sb"))

    # Exact Jaccard per CANDIDATE PAIR via set comparison — never a
    # shingle-keyed pair join. A join on the shingle explodes as
    # sum(df²) over shingle document frequencies (one stopword-gram
    # shared by most docs is a corpus-squared term); joining each
    # pair's two shingle SETS instead costs O(pairs × shingles/doc),
    # immune to hot shingles. Equality joins on doc id — the per-doc
    # set rows shuffle-partition evenly at any scale.
    # Only docs that appear in a candidate pair need their exact
    # shingle set — a semi-join cuts the distinct-shingle shuffle and
    # collect_set to the candidate population (~7% of the corpus at
    # the default banding; the same LSH-then-verify asymmetry that
    # makes the audit affordable at 100 TB).
    # The sets are build-once like the signature matrix one level
    # down, so a REPEATED audit is pure checkpoint reads (VERDICT r9
    # #2: with every leg memoized the second execution rebuilds
    # nothing, so warm <= cold holds structurally).
    def build_sets() -> DataFrame:
        needed = (
            cands.select(F.col("doc_a").alias(id_col))
            .unionByName(cands.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        # collect_set dedups by itself (map-side partials included),
        # so a pre-distinct would pay a second full shuffle of the
        # exploded shingle stream for nothing. Sets hold the shingles'
        # xxhash64 values, not the strings: the per-doc set shuffle
        # shrinks ~4× and the pair-side array_intersect compares
        # longs — Jaccard is unchanged short of a 64-bit collision
        # (≪ the estimator error this audit measures; the exact-oracle
        # twin l81 keeps portable hashes end to end).
        return (
            char_shingles(
                df.join(needed, id_col, "left_semi"),
                id_col, text_col, n, distinct=False,
            )
            .select(F.col(id_col), F.xxhash64("shingle").alias("sh"))
            .groupBy(id_col)
            .agg(F.collect_set("sh").alias("ss"))
            .localCheckpoint(eager=False)
        )

    doc_sets = build_once(
        df.sparkSession, "minhash_audit_sets",
        (df, id_col, text_col, n, num_hashes, bands), build_sets,
    )
    exact = (
        cands.join(
            doc_sets.select(
                F.col(id_col).alias("doc_a"), F.col("ss").alias("ss_a")
            ),
            "doc_a",
        )
        .join(
            doc_sets.select(
                F.col(id_col).alias("doc_b"), F.col("ss").alias("ss_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("ss_a", "ss_b"))
                / (
                    F.size("ss_a")
                    + F.size("ss_b")
                    - F.size(F.array_intersect("ss_a", "ss_b"))
                ),
                4,
            ).alias("exact_jaccard"),
        )
    )
    # LSH candidates share >= one shingle by construction, so the
    # inner join below loses nothing.
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    return (
        cands.join(F.broadcast(sig_a), "doc_a")
        .join(F.broadcast(sig_b), "doc_b")
        .withColumn(
            "est_jaccard", F.round(matches / F.lit(num_hashes), 4)
        )
        .join(exact, ["doc_a", "doc_b"])
        .withColumn(
            "abs_err_bp",
            F.abs(
                F.round((F.col("est_jaccard") - F.col("exact_jaccard")) * 10000)
            ).cast("long"),
        )
        .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard", "abs_err_bp")
    )


def minhash_lsh_candidates_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_hashes: int = 6,
    bands: int = 3,
) -> DataFrame:
    """ORACLE-PORTABLE twin of :func:`minhash_lsh_candidates`: the
    SAME algorithm — shingle → per-seed min-hash signature → banded
    buckets → (band, bucket) equality join — but with a hash family
    both engines state identically: ``substr(md5(seed || '|' ||
    shingle), 1, 15)``, compared AS A STRING (fixed-width lowercase
    hex sorts numerically — the stratified-sample rule), so no
    integer parsing at all. l81 gates THIS path bit-for-bit against
    DuckDB — the first exact oracle over the LSH candidate pipeline;
    the xxhash64 production path (rows-only gates l06/l23) is
    algorithm-identical and ~3× cheaper per shingle.

    Scale shape: identical to the production path — one aggregation
    for all minima, equality joins only, no all-pairs anywhere.
    """
    if num_hashes % bands != 0:
        raise ValueError("portable lsh: num_hashes must divide into bands")
    rows = num_hashes // bands
    from graal_cdc_spark.sources.tables import with_min_parallelism

    df = with_min_parallelism(df.sparkSession, df)
    sh = char_shingles(df, id_col, text_col, n, distinct=True)
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(str(s)), F.col("shingle"))),
                    1, 15,
                )
            ).alias(f"m{s}")
            for s in range(num_hashes)
        ]
    )
    buckets = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[F.col(f"m{b * rows + r}") for r in range(rows)],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))
    x = buckets.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    y = buckets.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    return (
        x.join(y, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_portable_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hamming_max: int = 3,
) -> DataFrame:
    """ORACLE-PORTABLE twin of the SimHash near-dup path (l07): a
    16-bit SimHash whose per-token bits come from the md5 hex digits
    (4 bits per digit, first 4 digits), majority-summed per document,
    then the SAME two-lane Hamming-block pairing as the production
    64-bit path — candidates share at least one 8-bit lane, verified
    by exact popcount(xor) ≤ ``hamming_max``. Every step is stated
    identically in ANSI SQL (l82), so banding + majority + Hamming
    verification are gated bit-for-bit; the xxhash64 64-bit
    production path is algorithm-identical at 4× the sketch width.
    """
    from graal_cdc_spark.sources.tables import with_min_parallelism

    df = with_min_parallelism(df.sparkSession, df)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # Project the md5-derived 16-bit token value ONCE into a real
    # column (one md5 + one conv per token), then derive every bit by
    # integer shift/mask from it: hex digit d of md5(tok) is
    # (v >> (4·(3−d))) & 15 for v = conv(first 4 hex digits), so bit
    # b = (v >> (4·(3 − b/4) + b%4)) & 1 — value-identical to the old
    # per-digit conv(substr(md5(tok), d+1, 1)) spelling, but the
    # per-digit form re-embedded the md5 in all 16 aggregate inputs
    # (r13 opt round; the expressions are emitted as ONE parsed SQL
    # string each — the int_array_lit py4j-latency rule).
    hashed = toks.select(
        F.col(id_col),
        F.expr(
            "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)"
        ).alias("__v"),
    )
    bit_sums = [
        F.expr(
            f"SUM(CAST(((shiftright(__v, {4 * (3 - b // 4) + b % 4}) & 1)"
            " * 2 - 1) AS BIGINT))"
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    sketch = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0)
        sketch = term if sketch is None else sketch + term
    sk = agg.select(
        F.col(id_col), sketch.cast("long").alias("sketch")
    ).select(
        id_col,
        "sketch",
        F.col("sketch").bitwiseAND(F.lit(255)).alias("lane0"),
        F.shiftright("sketch", 8).alias("lane1"),
    )
    pairs = None
    for lane in ("lane0", "lane1"):
        x = sk.select(
            F.col(id_col).alias("doc_a"),
            F.col("sketch").alias("sa"),
            F.col(lane).alias("lv"),
        )
        y = sk.select(
            F.col(id_col).alias("doc_b"),
            F.col("sketch").alias("sb"),
            F.col(lane).alias("lv"),
        )
        p = x.join(y, "lv").filter(F.col("doc_a") < F.col("doc_b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sa").bitwiseXOR(F.col("sb"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


def bloom_bit_position(text: Column, j, m_hex_digits: int = 3) -> Column:
    """Bit position of hash ``j`` for ``text`` in a 16^m_hex_digits-bit
    Bloom filter: the first ``m_hex_digits`` hex digits of
    ``md5(j || '|' || text)`` read as an integer (``conv`` base-16).
    md5 renders identically in Spark and DuckDB, so the whole filter
    is engine-portable — the DuckDB twin spells the digit fold with
    strpos/substr (no ``conv`` there); production would swap xxhash64
    (algorithm-identical)."""
    h = F.md5(F.concat(j.cast("string"), F.lit("|"), text))
    return F.conv(F.substring(h, 1, m_hex_digits), 16, 10).cast("bigint")


def bloom_dedup_probe(
    build: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    m_hex_digits: int = 3,
) -> DataFrame:
    """Approximate cross-snapshot membership: build a Bloom filter
    (16^m_hex_digits bits, ``k`` md5-derived hash functions) over the
    ``build`` snapshot's content, probe every ``probe`` row, and
    return the per-ROW verdict joined with the EXACT answer:
    ``(<id_col>, maybe_dup, exact_dup)``.

    This is the 100 TB pattern the exact anti-join (l44) can't give
    you when the build side is too large to shuffle against every
    batch: the filter is ONE sorted array of set bit positions (at
    most 16^m_hex_digits longs, a few KB) regardless of build-side
    size — it broadcasts as a single row, so the probe is a pure
    map-side membership check (``forall`` over the row's ``k``
    positions). Bloom guarantees NO false negatives — per ROW, so
    duplicate ids on the probe side cannot corrupt the verdict (each
    row is judged on its own text); false positives are bounded by
    the fill ratio ^ k and resolved by the exact path on the (tiny)
    flagged subset — the same filter-then-verify asymmetry as
    LSH-then-verify.
    """
    js = F.explode(F.array(*[F.lit(j) for j in range(k)]))
    bits = (
        build.select(js.alias("j"), F.col(text_col).alias("__t"))
        .select(
            bloom_bit_position(F.col("__t"), F.col("j"), m_hex_digits)
            .alias("p")
        )
        .agg(F.array_sort(F.collect_set("p")).alias("__bits"))
    )
    exact_hashes = (
        build.select(F.md5(F.col(text_col)).alias("__h")).distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        probe.select(
            F.col(id_col),
            F.col(text_col).alias("__pt"),
            F.md5(F.col(text_col)).alias("__h"),
        )
        .crossJoin(F.broadcast(bits))
        .join(exact_hashes, "__h", "left")
        .select(
            id_col,
            F.forall(
                F.array(
                    *[
                        bloom_bit_position(
                            F.col("__pt"), F.lit(j), m_hex_digits
                        )
                        for j in range(k)
                    ]
                ),
                lambda p: F.array_contains(F.col("__bits"), p),
            ).alias("maybe_dup"),
            (F.coalesce(F.col("__dup"), F.lit(0)) == 1).alias("exact_dup"),
        )
    )
