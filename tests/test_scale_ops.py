"""Scale-path operators: CDC Kafka source assembly, stateful
latest-by-key change feed, salted aggregation/join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graal_cdc_spark.cdc.compaction import latest_by_key
from graal_cdc_spark.cdc.envelope import build_cdc_events, parse_envelope
from graal_cdc_spark.operators.skew import salted_aggregate, salted_join
from graal_cdc_spark.sources.cdc import CdcSubscription, normalize_kafka_frame
from graal_cdc_spark.sources.tables import load_table
from graal_cdc_spark.streaming import append_chunk, read_file_stream, run_to_memory
from graal_cdc_spark.streaming.stateful import running_latest_by_key


# ---------------------------------------------------------------------------
# CDC source (S1/S2): subscription → Kafka reader options
# ---------------------------------------------------------------------------


def test_subscription_validation_and_identity():
    with pytest.raises(ValueError, match="db_type"):
        CdcSubscription(name="a", db_type="oracle", bootstrap_servers="k:9092")
    sub = CdcSubscription(name="appdb", db_type="mysql", bootstrap_servers="k:9092")
    assert sub.unique_key == "mysql:k:9092#appdb"  # C1 dedup key


def test_table_filter_becomes_topic_selection():
    sub = CdcSubscription(
        name="cdc1", db_type="mysql", bootstrap_servers="k:9092",
        tables=("appdb.users", "appdb.orders"),
    )
    opts = sub.kafka_options()
    assert opts["subscribe"] == "cdc1.appdb.users,cdc1.appdb.orders"  # F1
    assert "subscribePattern" not in opts


def test_database_filter_becomes_topic_pattern():
    sub = CdcSubscription(
        name="cdc1", db_type="postgresql", bootstrap_servers="k:9092",
        databases=("appdb", "auditdb"), max_offsets_per_trigger=10000,
    )
    opts = sub.kafka_options()
    assert opts["subscribePattern"] == r"cdc1\.(appdb|auditdb)\..+"  # F2
    assert opts["maxOffsetsPerTrigger"] == "10000"  # backpressure bound


def test_kafka_frame_normalizes_to_envelope_and_parses(spark):
    # a Kafka-schema batch frame: offsets become seq, NULL value
    # (tombstone) survives normalization for F3 to drop
    rows = [
        (0, 0, b"1", b'{"payload":{"op":"c","before":null,"after":{"x":1},'
                     b'"source":{"db":"appdb","table":"users"}}}'),
        (1, 0, b"1", None),  # tombstone
        (2, 0, b"2", b'{"payload":{"ddl":"ALTER","source":{"db":"appdb","table":"users"}}}'),
    ]
    kafka = spark.createDataFrame(
        rows, "offset BIGINT, partition INT, key BINARY, value BINARY"
    )
    parsed = parse_envelope(normalize_kafka_frame(kafka))
    got = [(r["key"], r["op"], r["seq"]) for r in parsed.collect()]
    assert got == [("1", "c", 0)]


# ---------------------------------------------------------------------------
# stateful streaming: running latest-by-key change feed
# ---------------------------------------------------------------------------


def test_running_latest_by_key_change_feed(spark, sf_dir, tmp_path):
    cdc = build_cdc_events(spark, sf_dir)
    mid = cdc.approxQuantile("seq", [0.5], 0.0)[0]
    replay = str(tmp_path / "replay")
    append_chunk(cdc.filter(F.col("seq") <= mid).coalesce(1), replay)
    append_chunk(cdc.filter(F.col("seq") > mid).coalesce(1), replay)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )
    stream = read_file_stream(spark, replay, schema, max_files_per_trigger=1)
    feed = run_to_memory(
        running_latest_by_key(parse_envelope(stream)),
        output_mode="append",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    # the LAST emission per key == batch latest-by-key (incl. deletes)
    final = {
        r["key"]: (r["seq"], r["op"])
        for r in latest_by_key(feed, ["key"], "seq").collect()
    }
    want = {
        r["key"]: (r["seq"], r["op"])
        for r in latest_by_key(parse_envelope(cdc), ["key"], "seq").collect()
    }
    assert final == want
    # and the feed is monotonic per key (no regressions emitted)
    emitted = feed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.max("seq").alias("mx")
    )
    assert emitted.filter(F.col("n") < 1).count() == 0


# ---------------------------------------------------------------------------
# skew: salted forms equal unsalted results
# ---------------------------------------------------------------------------


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # sum over DECIMAL so the two-phase reduction is order-insensitive
    # (double addition is not associative; same protocol as the gated
    # queries, FIXTURES.md §4)
    ev = ev.withColumn("value", F.col("value").cast("decimal(18,4)"))
    got = salted_aggregate(
        ev,
        ["user_id"],
        {"n": ("count", "event_id"), "total": ("sum", "value"),
         "first_seen": ("min", "event_id"), "last_seen": ("max", "event_id")},
        n_salts=8,
    )
    want = ev.groupBy("user_id").agg(
        F.count("event_id").alias("n"),
        F.sum("value").alias("total"),
        F.min("event_id").alias("first_seen"),
        F.max("event_id").alias("last_seen"),
    )
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_salted_aggregate_rejects_nondecomposable():
    with pytest.raises(ValueError, match="not decomposable"):
        salted_aggregate(None, ["k"], {"a": ("avg", "x")})


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain(spark, sf_dir, how):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    left = orders.withColumnRenamed("o_custkey", "c_custkey")
    got = salted_join(left, customer, ["c_custkey"], how=how, n_salts=4)
    want = left.join(customer, ["c_custkey"], how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


# ---------------------------------------------------------------------------
# SimHash: packed-lane accumulation must survive very long documents
# (4x16-bit lanes overflowed BIGINT at 16k tokens under ANSI mode)
# ---------------------------------------------------------------------------


def test_simhash_survives_long_repetitive_document(spark):
    from graal_cdc_spark.operators.dedup import simhash64, simhash_neardup_pairs

    long_doc = " ".join(["lorem", "ipsum", "dolor"] * 8000)  # 24k tokens
    near_doc = long_doc + " extra"
    far_doc = " ".join(f"tok{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, long_doc), (2, near_doc), (3, far_doc)], "doc_id BIGINT, text STRING"
    )
    sk = simhash64(df, "doc_id", "text")
    rows = {r.doc_id: r.simhash for r in sk.collect()}  # no ANSI overflow
    assert set(rows) == {1, 2, 3}
    pairs = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(sk, "doc_id", max_hamming=3).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_matches_unpacked_reference(spark):
    """Packed-lane sketch == naive per-bit formulation (whatever the
    lane geometry)."""
    from pyspark.sql import functions as F  # noqa: F811

    from graal_cdc_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma{i} delta epsilon{i % 3}") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}

    toks = df.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))
    naive = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"ones{b}")
            for b in range(64)
        ],
    )
    want = {}
    for r in naive.collect():
        v = 0
        for b in range(64):
            if 2 * r[f"ones{b}"] > r["n"]:
                v += 2**b if b < 63 else -(2**63)
        want[r.doc_id] = v
    assert got == want


# ---------------------------------------------------------------------------
# Deterministic sampling: partitioning-invariant, content-keyed
# ---------------------------------------------------------------------------


def test_deterministic_sample_partitioning_invariant(spark):
    from graal_cdc_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(500)], "id BIGINT, text STRING"
    )
    a = {r.id for r in deterministic_sample(df, "text", "1a").collect()}
    b = {
        r.id
        for r in deterministic_sample(df.repartition(13), "text", "1a").collect()
    }
    assert a == b and 0 < len(a) < 500
    # duplicate content samples together (same gate)
    dup = spark.createDataFrame(
        [(1, "same words"), (2, "same words")], "id BIGINT, text STRING"
    )
    got = {r.id for r in deterministic_sample(dup, "text", "80").collect()}
    assert got in (set(), {1, 2})


def test_stratified_sample_rates(spark):
    from graal_cdc_spark.operators.sampling import stratified_sample

    rows = [(i, f"text {i}", "en" if i % 2 == 0 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, lang STRING")
    out = stratified_sample(df, "text", "lang", {"en": "0d", "fr": "33"})
    counts = {
        r.lang: r.c
        for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    # en ~ 13/256 of 1000 ≈ 51, fr ~ 51/256 of 1000 ≈ 199 — loose bounds
    assert 15 <= counts.get("en", 0) <= 110
    assert 120 <= counts.get("fr", 0) <= 300
    assert counts.get("fr", 0) > counts.get("en", 0)


def test_stratified_sample_unlisted_stratum_dropped(spark):
    from graal_cdc_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "xx")], "id BIGINT, text STRING, lang STRING"
    )
    out = stratified_sample(df, "text", "lang", {"en": "ff"})
    assert {r.id for r in out.collect()} == {1}


def test_stratified_sample_three_forms_agree(spark):
    """dict (driver literals), expr (row-local rule), and map
    (broadcast join against a threshold table) select the SAME rows —
    the expr/map forms are the zero-collect replacements for
    driver-side stratum enumeration."""
    from graal_cdc_spark.operators.sampling import (
        stratified_sample,
        stratified_sample_by_map,
        stratified_sample_expr,
    )

    rows = [
        (i, f"text {i}", ["en", "fr", "xx"][i % 3]) for i in range(900)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, lang STRING")
    ids = lambda d: sorted(r.id for r in d.collect())  # noqa: E731

    by_dict = stratified_sample(
        df, "text", "lang", {"en": "0d", "fr": "33"}, default_hex2="20"
    )
    by_expr = stratified_sample_expr(
        df,
        "text",
        F.when(F.col("lang") == "en", F.lit("0d"))
        .when(F.col("lang") == "fr", F.lit("33"))
        .otherwise(F.lit("20")),
    )
    tmap = spark.createDataFrame(
        [("en", "0d"), ("fr", "33")], "stratum STRING, hex2 STRING"
    )
    by_map = stratified_sample_by_map(
        df, "text", "lang", tmap, default_hex2="20"
    )
    assert ids(by_dict) == ids(by_expr) == ids(by_map)
    assert len(ids(by_dict)) > 0
    # map form keeps the frame's columns (no helper column leaks)
    assert by_map.columns == df.columns


def test_stratified_thresholds_normalize_and_validate(spark):
    """ADVICE r6: the hash gate is lexicographic, so only lowercase
    2-char hex is sound. Uppercase normalizes to the same selection;
    short/garbage thresholds raise instead of silently changing the
    sampling rate — in BOTH the literal-dict and data-derived map
    forms."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from graal_cdc_spark.operators.sampling import (
        stratified_sample,
        stratified_sample_by_map,
    )

    rows = [(i, f"text {i}", "en") for i in range(400)]
    df = spark.createDataFrame(rows, "id BIGINT, text STRING, lang STRING")
    ids = lambda d: sorted(r.id for r in d.collect())  # noqa: E731

    # uppercase literal == lowercase literal
    assert ids(
        stratified_sample(df, "text", "lang", {"en": "0D"})
    ) == ids(stratified_sample(df, "text", "lang", {"en": "0d"}))
    # malformed literals raise driver-side
    for bad in ("d", "0dd", "zz", ""):
        with pytest.raises(ValueError, match="2 hex chars"):
            stratified_sample(df, "text", "lang", {"en": bad})
    with pytest.raises(ValueError, match="2 hex chars"):
        stratified_sample(df, "text", "lang", {"en": "0d"}, default_hex2="x")

    # uppercase map entry == lowercase map entry
    up = spark.createDataFrame([("en", "0D")], "stratum STRING, hex2 STRING")
    lo = spark.createDataFrame([("en", "0d")], "stratum STRING, hex2 STRING")
    assert ids(stratified_sample_by_map(df, "text", "lang", up)) == ids(
        stratified_sample_by_map(df, "text", "lang", lo)
    )
    # malformed DATA-derived entry raises at execution, not silently
    bad_map = spark.createDataFrame(
        [("en", "d")], "stratum STRING, hex2 STRING"
    )
    with pytest.raises(Exception, match="malformed hex2"):
        stratified_sample_by_map(df, "text", "lang", bad_map).collect()


# ---------------------------------------------------------------------------
# TF-IDF: hand-computed small corpus
# ---------------------------------------------------------------------------


def test_tfidf_hand_example(spark):
    import math

    from graal_cdc_spark.operators.text import tfidf_terms

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "c c c")], "doc_id BIGINT, text STRING"
    )
    got = {
        (r.doc_id, r.word): (r.tf, r.tfidf)
        for r in tfidf_terms(df, "doc_id", "text").collect()
    }
    # N=3; df: a=2, b=1, c=2 ; idf = ln((3+1)/(df+1))
    idf = lambda d: math.log(4 / (d + 1))
    assert got[(1, "a")][0] == 2
    assert abs(got[(1, "a")][1] - 2 * idf(2)) < 1e-12
    assert abs(got[(1, "b")][1] - 1 * idf(1)) < 1e-12
    assert abs(got[(3, "c")][1] - 3 * idf(2)) < 1e-12
    assert set(got) == {(1, "a"), (1, "b"), (2, "a"), (2, "c"), (3, "c")}


def test_running_latest_by_key_tws_matches_v1(spark, sf_dir, tmp_path):
    """The transformWithStateInPandas implementation emits a change
    feed whose final state equals the applyInPandasWithState one (and
    the batch compaction). Skipped where protobuf (the API's state-
    server protocol dependency) is absent — this container."""
    from graal_cdc_spark.streaming.stateful import (
        _tws_available,
        running_latest_by_key_tws,
    )

    if not _tws_available():
        pytest.skip("transformWithStateInPandas needs protobuf (not in env)")

    cdc = build_cdc_events(spark, sf_dir)
    mid = cdc.approxQuantile("seq", [0.5], 0.0)[0]
    replay = str(tmp_path / "replay")
    append_chunk(cdc.filter(F.col("seq") <= mid).coalesce(1), replay)
    append_chunk(cdc.filter(F.col("seq") > mid).coalesce(1), replay)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("key", StringType()),
            StructField("value", StringType()),
        ]
    )
    stream = read_file_stream(spark, replay, schema, max_files_per_trigger=1)
    feed = run_to_memory(
        running_latest_by_key_tws(parse_envelope(stream)),
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    final = {
        r["key"]: (r["seq"], r["op"])
        for r in latest_by_key(feed, ["key"], "seq").collect()
    }
    want = {
        r["key"]: (r["seq"], r["op"])
        for r in latest_by_key(
            parse_envelope(cdc), ["key"], "seq"
        ).select("key", "seq", "op").collect()
    }
    assert final == want


# ---------------------------------------------------------------------------
# connected components: min-label propagation over the dedup pair graph
# ---------------------------------------------------------------------------


def test_connected_components_chain_clique_and_islands(spark):
    from graal_cdc_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, island pair {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_path_converges(spark):
    """A path of length 12 needs several propagation rounds — checks
    the iteration/convergence machinery, not just one-hop graphs."""
    from graal_cdc_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(13)}


def test_lsh_components_cover_exact_components(spark, sf_dir):
    """The scale path (LSH edges -> CC) must cluster together whatever
    the exact path clusters: every exact near-dup pair (l13 edges)
    lands in one LSH component — banding with these parameters has no
    false-NEGATIVE splits on this corpus."""
    from graal_cdc_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidates,
        token_ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    lsh_cc = {
        r.node: r.component
        for r in connected_components(
            minhash_lsh_candidates(docs, "doc_id", "text")
        ).collect()
    }
    exact_pairs = token_ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).collect()
    assert exact_pairs, "fixture should contain near-dups"
    for r in exact_pairs:
        assert lsh_cc.get(r.doc_a) == lsh_cc.get(r.doc_b), (r.doc_a, r.doc_b)


# ---------------------------------------------------------------------------
# chunking + decontamination (l24/l25 operators)
# ---------------------------------------------------------------------------


def test_chunk_by_tokens_boundaries_and_overlap(spark):
    from graal_cdc_spark.operators.packing import chunk_by_tokens

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, words), (2, "a b")], "doc_id BIGINT, text STRING")
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.chunk_tokens)
        for r in chunk_by_tokens(df, "doc_id", chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: starts 1,4,7,10 → chunks [0..3],[3..6],[6..9],[9] — the
    # final 1-token chunk is pure overlap and dropped
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w3 w4 w5 w6", 4)
    assert got[(1, 2)] == ("w6 w7 w8 w9", 4)
    assert (1, 3) not in got
    # short doc: exactly one chunk
    assert got[(2, 0)] == ("a b", 2)
    assert len(got) == 4


def test_chunk_by_tokens_rejects_bad_overlap(spark):
    from graal_cdc_spark.operators.packing import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="overlap"):
        chunk_by_tokens(df, "doc_id", chunk_tokens=4, overlap=4)


def test_ngram_contamination_flags_shared_grams_only(spark):
    from graal_cdc_spark.operators.text import ngram_contamination

    leak = "the quick brown fox jumps over the lazy dog today"
    corpus = spark.createDataFrame(
        [
            (1, leak + " extra words here and there"),   # contains eval 8-grams
            (2, "completely unrelated text with many distinct words okay"),
        ],
        "doc_id BIGINT, text STRING",
    )
    eval_set = spark.createDataFrame([(100, leak)], "doc_id BIGINT, text STRING")
    got = {
        r.doc_id: (r.n_gram_hits, list(r.eval_ids))
        for r in ngram_contamination(corpus, eval_set, "doc_id", n=8).collect()
    }
    # the leaked sentence has 10 tokens → 3 distinct 8-grams shared
    assert got == {1: (3, [100])}


def test_connected_components_raises_on_nonconvergence(spark):
    """Exhausting max_iter without the fixpoint must raise, not return
    silently-wrong labels (ADVICE r2)."""
    from graal_cdc_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a INT, doc_b INT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1)


def test_greedy_packing_capacity_and_oversize_slot(spark):
    """First-fit contract: no shard exceeds the budget unless it holds
    exactly one over-budget document, and over-budget documents sit
    alone (ADVICE r2 on the cumulative scheme's claims)."""
    from graal_cdc_spark.operators.packing import pack_by_token_budget_greedy

    docs = [
        # g1: 4+4 fit in 10; +4 overflows -> shard 1; 20-tok doc alone
        ("g1", 0, "a b c d"), ("g1", 1, "a b c d"), ("g1", 2, "a b c d"),
        ("g1", 3, " ".join(["w"] * 20)), ("g1", 4, "a b"),
        # g2: oversized doc FIRST, then small docs
        ("g2", 0, " ".join(["w"] * 15)), ("g2", 1, "a"), ("g2", 2, "b"),
    ]
    df = spark.createDataFrame(docs, "source STRING, doc_id INT, text STRING")
    out = pack_by_token_budget_greedy(df, "source", "doc_id", budget=10)
    rows = {(r["source"], r["doc_id"]): (r["n_tok"], r["shard"]) for r in out.collect()}
    assert [rows[("g1", i)][1] for i in range(5)] == [0, 0, 1, 2, 3]
    assert [rows[("g2", i)][1] for i in range(3)] == [0, 1, 1]
    # capacity invariant: per-shard totals <= budget unless singleton
    from collections import defaultdict

    totals, counts = defaultdict(int), defaultdict(int)
    for (g, _), (n, s) in rows.items():
        totals[(g, s)] += n
        counts[(g, s)] += 1
    for key, tot in totals.items():
        assert tot <= 10 or counts[key] == 1


def test_kmeans_partitioning_invariant(spark):
    """The integer-exact design promise: same clustering regardless of
    partition count / task order."""
    from graal_cdc_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = kmeans_quantized(emb.repartition(1), k=4, iters=2).collect()
    b = kmeans_quantized(emb.repartition(13), k=4, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every point assigned, cids in range
    cids = {r["cid"] for r in a}
    assert cids <= set(range(4)) and len(a) == emb.count()


def test_kmeans_iter_zero_is_seed_assignment(spark):
    """iters=0 assigns against the raw seed centroids; the seed points
    themselves land in their own cluster at distance 0."""
    from graal_cdc_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = {r["pid"]: (r["cid"], r["d2"]) for r in
           kmeans_quantized(emb, k=3, iters=0).collect()}
    for j in range(3):
        assert out[j] == (j, 0)


def test_kmeans_validates_inputs(spark):
    from graal_cdc_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="k >= 1"):
        kmeans_quantized(emb, k=0)
    with pytest.raises(ValueError, match="need >= "):
        kmeans_quantized(emb.limit(2), k=5)


def test_ivf_recall_vs_exact(spark):
    """IVF with probe-2-of-8 must recover most of the exact top-5 (the
    index is deterministic, so this bound is stable, not flaky)."""
    from graal_cdc_spark.operators.similarity import cosine_topk_exact, ivf_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r["qid"], r["neighbor_id"])
             for r in cosine_topk_exact(emb, q, k=5).collect()}
    approx = {(r["qid"], r["neighbor_id"])
              for r in ivf_topk(emb, q, k=5, n_cells=8, n_probe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall:.2f}"
    # determinism: a second run returns the identical pair set
    approx2 = {(r["qid"], r["neighbor_id"])
               for r in ivf_topk(emb, q, k=5, n_cells=8, n_probe=2).collect()}
    assert approx == approx2


def test_kmeans_k1_degenerate(spark, sf_dir):
    """k=1 is a valid single-cluster run (least() needs two args; the
    assignment must special-case one centroid, not crash)."""
    from graal_cdc_spark.operators.clustering import kmeans_quantized
    from graal_cdc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    out = kmeans_quantized(emb, k=1, iters=1)
    assert out.filter(F.col("cid") != 0).count() == 0
    assert out.count() == 50


def test_zorder_layout_clusters_both_dimensions(spark):
    """cluster_by_zorder: every output partition must cover a compact
    rectangle in (x, y) — the per-file x and y spans should each be
    far below the global span (that locality is what parquet min/max
    skipping prunes on). A single-column sort would give span ~global
    on the other column."""
    from pyspark.sql import functions as F

    from graal_cdc_spark.operators.layout import cluster_by_zorder

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 2654435761) % 128).alias("y"),
    )
    out = cluster_by_zorder(df, "x", "y", n_files=16, bits=7)
    spans = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert len(spans) == 16
    avg_x = sum(r["xs"] for r in spans) / len(spans)
    avg_y = sum(r["ys"] for r in spans) / len(spans)
    # global span is 127; z-order files must average well under half
    # of it on BOTH dimensions simultaneously
    assert avg_x < 64, avg_x
    assert avg_y < 64, avg_y


def test_zorder_key_matches_reference_interleave(spark):
    from graal_cdc_spark.operators.layout import zorder_key2

    from pyspark.sql import functions as F

    rows = [(x, y) for x in (0, 1, 5, 127) for y in (0, 3, 64, 127)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key2(F.col("x"), F.col("y"), bits=7).alias("z")
        ).collect()
    }

    def interleave(x, y, bits=7):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): interleave(x, y) for x, y in rows}


def test_minhash_estimate_audit_accuracy(spark, sf_dir):
    """L57 harness invariants: estimates and exacts are valid Jaccard
    values; the mean absolute error over the candidate set is inside
    the MinHash error budget for 32 hashes (std ~= sqrt(J(1-J)/32)
    <= 0.09, so MAE well under 0.08 = 800 bp); candidates are the LSH
    candidate set exactly (one audit row per candidate pair that
    shares a shingle)."""
    from graal_cdc_spark.operators.dedup import (
        minhash_estimate_audit,
        minhash_lsh_candidates,
    )
    from graal_cdc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    audit_rows = minhash_estimate_audit(docs, "doc_id", "text").collect()
    assert audit_rows, "no candidate pairs at this SF"
    for r in audit_rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 < r["exact_jaccard"] <= 1.0
        assert r["abs_err_bp"] >= 0
    mae = sum(r["abs_err_bp"] for r in audit_rows) / len(audit_rows)
    assert mae < 800, f"MinHash MAE {mae:.0f} bp exceeds the 32-hash budget"

    n_cands = minhash_lsh_candidates(docs, "doc_id", "text").count()
    assert len(audit_rows) == n_cands


def test_lsh_component_edges_star_caps_hot_bucket(spark):
    """VERDICT r9 #3 pin: a planted 1,000-doc IDENTICAL cluster yields
    O(docs) edges (star on the bucket's min id), not O(docs²) — and
    the connected components match the all-pairs candidate list's
    components exactly (star spans the same node set per bucket;
    transitivity does the rest)."""
    from graal_cdc_spark.operators import dedup as D

    n_hot = 1000
    rows = [(i, "the same boilerplate text repeated" * 3) for i in range(n_hot)]
    # distinct satellite docs that must NOT join the hot component
    rows += [(10_000 + i, f"unique document number {i} " * 5) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    star = D.lsh_component_edges(docs, "doc_id", "text")
    n_star = star.count()
    # identical docs share every bucket: one star edge per non-rep doc
    assert n_star < 3 * n_hot, f"{n_star} edges — hot bucket not capped"

    pairs = D.minhash_lsh_candidates(docs, "doc_id", "text")
    cc_star = {
        (r.node, r.component)
        for r in D.connected_components(star).collect()
    }
    cc_pairs = {
        (r.node, r.component)
        for r in D.connected_components(pairs).collect()
    }
    assert cc_star == cc_pairs
    hot = {c for n, c in cc_star if n < n_hot}
    assert hot == {0}, "hot cluster must be one component labeled 0"


def test_minhash_estimate_audit_repeat_rebuilds_nothing(spark, sf_dir):
    """VERDICT r9 #2 pin: a SECOND execution of the audit must be pure
    checkpoint reads — signature matrix, candidate pairs, AND the
    exact-leg shingle sets all come from their memos, so the shingle
    explode (the expensive stage) never runs twice. Pinned
    structurally (char_shingles is not called at all on the repeat)
    rather than by timing, which VM weather can flip."""
    from graal_cdc_spark import build_once
    from graal_cdc_spark.operators import dedup as D
    from graal_cdc_spark.sources.tables import load_table

    build_once.clear()
    docs = load_table(spark, sf_dir, "documents")
    first = sorted(
        map(tuple, D.minhash_estimate_audit(docs, "doc_id", "text").collect())
    )
    # table, signature matrix, candidate pairs, audit shingle sets
    assert build_once.stats()["live"] == 4
    before = build_once.stats()

    calls: list[int] = []
    orig = D.char_shingles
    D.char_shingles = lambda *a, **k: (calls.append(1), orig(*a, **k))[1]
    try:
        second = sorted(
            map(
                tuple,
                D.minhash_estimate_audit(docs, "doc_id", "text").collect(),
            )
        )
    finally:
        D.char_shingles = orig
    assert not calls, "repeat execution rebuilt a shingle stage"
    after = build_once.stats()
    assert after["builds"] == before["builds"]
    assert after["hits"] >= before["hits"] + 3
    assert first == second


# ---------------------------------------------------------------------------
# Persisted IVF index (operators/ann_index.py)
# ---------------------------------------------------------------------------


def test_ivf_index_build_probe_and_recall(spark, sf_dir, tmp_path):
    """Build → probe returns the ivf_topk contract; recall vs the
    exact cosine top-k stays above the same bound the in-session IVF
    (l33) asserts; reload answers identically (the index is the
    state, not the session)."""
    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.operators.similarity import cosine_topk_exact
    from graal_cdc_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    manifest = AI.build_ivf_index(emb, idx)
    assert manifest["n_rows"] == emb.count()
    assert manifest["n_cells"] == 8

    queries = emb.filter(F.col("vec_id") < 10)
    got = AI.query_ivf_index(spark, idx, queries, k=5, n_probe=2)
    rows = got.collect()
    assert rows, "probe returned nothing"
    assert {r["qid"] for r in rows} <= set(range(10))
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    for q, rs in per_q.items():
        assert len(rs) <= 5
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))

    exact = cosine_topk_exact(emb, queries, k=5).collect()
    exact_pairs = {(r["qid"], r["neighbor_id"]) for r in exact}
    got_pairs = {(r["qid"], r["neighbor_id"]) for r in rows}
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"recall {recall:.2f} below the l33 bound"

    again = AI.query_ivf_index(spark, idx, queries, k=5, n_probe=2)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_ivf_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The probe plan must read only the probed cells' partitions —
    the inverted-list layout is pointless if the scan touches every
    cell directory."""
    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.sources.tables import load_table
    import pyspark.sql.functions as F
    import re

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    AI.build_ivf_index(emb, idx)

    one_query = emb.filter(F.col("vec_id") == 3)
    plan = AI.query_ivf_index(
        spark, idx, one_query, k=5, n_probe=2
    )._jdf.queryExecution().executedPlan().toString()
    # one query probing 2 of 8 cells: the vectors scan must carry a
    # non-empty partition filter on cell in its FileSourceScan
    m = re.search(r"PartitionFilters: \[[^\]]*cell", plan)
    assert m, plan


def test_ivf_index_rebuild_is_atomic_replace(spark, sf_dir, tmp_path):
    """Rebuilding over an existing index replaces it (no stale or
    doubled rows) and leaves no tmp/old residue behind."""
    import os

    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    AI.build_ivf_index(emb, idx)
    half = emb.filter(F.col("vec_id") % 2 == 0)
    m2 = AI.build_ivf_index(half, idx)
    assert m2["n_rows"] == half.count()
    stored = spark.read.parquet(f"{idx}/vectors.parquet")
    assert stored.count() == half.count()
    siblings = [
        d for d in os.listdir(tmp_path)
        if d.startswith("ivf_index.") and ("tmp" in d or "old" in d)
    ]
    assert siblings == [], siblings


def test_ivf_index_recovers_from_crash_between_publish_renames(
    spark, sf_dir, tmp_path
):
    """A crash between 'live -> .old' and '.tmp -> live' leaves no
    live dir; the next read must roll the complete .old back in and
    answer queries — readers never lose the index."""
    import os
    import shutil

    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_index")
    AI.build_ivf_index(emb, idx)
    queries = emb.filter(F.col("vec_id") < 5)
    before = sorted(
        map(tuple, AI.query_ivf_index(spark, idx, queries).collect())
    )

    # simulate the crash window: live renamed away, tmp never landed
    shutil.move(idx, idx + ".old-crashtoken")
    assert not os.path.isdir(idx)

    after = sorted(
        map(tuple, AI.query_ivf_index(spark, idx, queries).collect())
    )
    assert after == before
    assert os.path.isdir(idx)
    assert not os.path.isdir(idx + ".old-crashtoken")

    # an INCOMPLETE .old (no manifest) must not be restored
    shutil.move(idx, idx + ".old-crashtoken2")
    os.remove(idx + ".old-crashtoken2/" + AI.MANIFEST)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="no index"):
        AI.read_manifest(spark, idx)


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index (VERDICT r6 #5): cells prune at file level,
# persisted codes rank by integer ADC — the durable billion-vector leg
# ---------------------------------------------------------------------------


def _planted_corpus(emb, n_queries=4, copies=5):
    """n_queries query vectors + `copies` tiny-perturbation copies of
    each planted among the real embeddings as distractors (same
    construction as tests/test_pq.py::test_recall_on_planted_neighbors)."""
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = queries.select(
        F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        F.col("vec_id").alias("qid"),
        "embedding",
    ).select(
        (F.lit(100000) + F.col("qid") * 10 + F.col("c")).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda v, i: v
            + F.when(
                F.pmod(F.xxhash64(F.col("qid"), F.col("c"), i), 2) == 0,
                0.01,
            ).otherwise(-0.01),
        ).alias("embedding"),
    )
    corpus = (
        emb.filter(F.col("vec_id") >= 20)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .unionByName(planted)
    )
    return corpus, queries


def test_ivf_pq_index_persisted_probe_and_planted_recall(
    spark, sf_dir, tmp_path
):
    """Build an IVF-PQ index (pq_m set) → the manifest records the PQ
    params, codebooks.parquet persists the trained books, and probing
    via the persisted codes surfaces the planted near-neighbors; the
    ADC distances are exactly the Python table-sums recomputed from
    the PERSISTED artifacts (codes + codebooks), not the session."""
    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.operators.pq import _adc_tables
    from graal_cdc_spark.operators.clustering import quantize_points
    from graal_cdc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus, queries = _planted_corpus(emb)
    idx = str(tmp_path / "ivfpq_index")
    manifest = AI.build_ivf_index(corpus, idx, pq_m=8, pq_k=16)
    assert manifest["pq"] == {"m": 8, "k": 16, "iters": 2}

    rows = AI.query_ivf_pq_index(
        spark, idx, queries, k=5, n_probe=3
    ).collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    for q, rs in per_q.items():
        assert len(rs) <= 5
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        ds = [r["adc_dist"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert ds == sorted(ds)

    # planted copies dominate the top-5 of each query
    hits = {}
    for r in rows:
        fam = 100000 + r["qid"] * 10
        hits.setdefault(r["qid"], 0)
        if fam <= r["neighbor_id"] < fam + 5:
            hits[r["qid"]] += 1
    recalls = [h / 5 for h in hits.values()]
    assert sum(recalls) / len(recalls) >= 0.7, recalls

    # ADC distances recomputed from the PERSISTED codebooks + codes
    book_rows = (
        spark.read.parquet(f"{idx}/codebooks.parquet")
        .orderBy("subspace", "code")
        .collect()
    )
    books = [[] for _ in range(8)]
    for r in book_rows:
        books[r["subspace"]].append(list(r["codeword"]))
    codes = {
        r["pid"]: list(r["codes"])
        for r in spark.read.parquet(f"{idx}/vectors.parquet").collect()
    }
    qx = {
        r["pid"]: list(r["x"]) for r in quantize_points(queries).collect()
    }
    for r in rows:
        table = _adc_tables(books, qx[r["qid"]])
        want = sum(table[s][codes[r["neighbor_id"]][s]] for s in range(8))
        assert r["adc_dist"] == want, (r["qid"], r["neighbor_id"])

    # a fresh probe over the same persisted index answers identically
    again = AI.query_ivf_pq_index(spark, idx, queries, k=5, n_probe=3)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))


def test_ivf_pq_probe_plan_prunes_cells_and_never_reads_vec(
    spark, sf_dir, tmp_path
):
    """The candidate scan must (a) carry a partition filter on cell
    (file-level pruning, same as plain IVF) and (b) read ONLY the
    codes — at billion-vector scale the float vectors never leave
    disk on the PQ path. No Python evals anywhere."""
    import re

    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq_index")
    AI.build_ivf_index(emb, idx, pq_m=8, pq_k=16)
    one_query = emb.filter(F.col("vec_id") == 3)
    plan = AI.query_ivf_pq_index(
        spark, idx, one_query, k=5, n_probe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    # the vectors.parquet scan's ReadSchema must not include vec
    scans = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    vec_scans = [s for s in scans if "codes" in s]
    assert vec_scans and all("vec" not in s for s in vec_scans), scans
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_pq_probe_requires_pq_built_index(spark, sf_dir, tmp_path):
    from graal_cdc_spark.operators import ann_index as AI
    from graal_cdc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_plain")
    AI.build_ivf_index(emb, idx)  # no pq_m
    with pytest.raises(ValueError, match="without PQ"):
        AI.query_ivf_pq_index(spark, idx, emb.filter(F.col("vec_id") < 2))


# ---------------------------------------------------------------------------
# Capture-side Debezium property assembly (S1/S2 residual — the half a
# real deployment hands to Debezium Server / Kafka Connect)
# ---------------------------------------------------------------------------


def test_debezium_properties_mysql():
    from graal_cdc_spark.sources.cdc import CaptureConfig, debezium_properties

    sub = CdcSubscription(
        name="appdb", db_type="mysql", bootstrap_servers="k:9092",
        databases=("appdb",), tables=("appdb.users", "appdb.orders"),
    )
    cap = CaptureConfig(
        host="db1", port=3306, username="u", password="p",
        server_id=5400, offset_dir="/data/dbz",
    )
    props = debezium_properties(sub, cap)
    assert props["name"] == "mysql-appdb"
    assert props["connector.class"] == (
        "io.debezium.connector.mysql.MySqlConnector"
    )
    assert props["database.server.id"] == "5400"
    assert props["table.include.list"] == "appdb.users,appdb.orders"
    assert props["database.include.list"] == "appdb"
    assert props["schemas.enable"] == "false"
    assert props["offset.storage.file.filename"] == (
        "/data/dbz/mysql-appdb_offset.dat"
    )
    assert props["schema.history.internal.file.filename"] == (
        "/data/dbz/mysql-appdb_dbhistory.dat"
    )
    # capture topic.prefix must agree with the consumer's topic names
    assert props["topic.prefix"] == "appdb"
    assert sub.topics().startswith("appdb.")


def test_debezium_properties_mysql_server_id_validated():
    from graal_cdc_spark.sources.cdc import CaptureConfig, debezium_properties

    sub = CdcSubscription(
        name="a", db_type="mysql", bootstrap_servers="k:9092"
    )
    cap = CaptureConfig(host="db", port=3306, username="u", password="p")
    with pytest.raises(ValueError, match="server_id"):
        debezium_properties(sub, cap)  # default 0 is invalid, as in ref


def test_debezium_properties_postgres():
    from graal_cdc_spark.sources.cdc import CaptureConfig, debezium_properties

    sub = CdcSubscription(
        name="pgx", db_type="postgresql", bootstrap_servers="k:9092",
        databases=("maindb", "auditdb"),
    )
    cap = CaptureConfig(host="pg", port=5432, username="u", password="p")
    props = debezium_properties(sub, cap)
    assert props["connector.class"] == (
        "io.debezium.connector.postgresql.PostgresConnector"
    )
    assert props["database.dbname"] == "maindb"  # first database, as in ref
    assert props["plugin.name"] == "pgoutput"
    assert props["slot.name"] == "debezium_pgx"
    assert props["publication.name"] == "debezium_pgx"
    # modern schema-history keys (the ref's legacy database.history
    # spelling is rejected by current Debezium — deviation by design)
    assert "database.history" not in props
    assert props["schema.history.internal"].endswith("FileSchemaHistory")


def test_debezium_properties_postgres_requires_database():
    from graal_cdc_spark.sources.cdc import CaptureConfig, debezium_properties

    sub = CdcSubscription(
        name="pgx", db_type="postgresql", bootstrap_servers="k:9092"
    )
    cap = CaptureConfig(host="pg", port=5432, username="u", password="p")
    with pytest.raises(ValueError, match="database"):
        debezium_properties(sub, cap)


def test_capture_config_validation():
    from graal_cdc_spark.sources.cdc import CaptureConfig

    with pytest.raises(ValueError, match="host"):
        CaptureConfig(host=" ", port=3306, username="u", password="p")
    with pytest.raises(ValueError, match="port"):
        CaptureConfig(host="db", port=0, username="u", password="p")


def test_portable_lsh_candidates_properties(spark, sf_dir):
    """The portable-hash LSH twin: deterministic across runs, exact
    duplicates are ALWAYS candidates (identical shingle sets share
    every bucket), and the validation contract holds."""
    from graal_cdc_spark.operators.dedup import (
        minhash_lsh_candidates_portable,
    )
    from graal_cdc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 60
    )
    # plant an exact duplicate pair
    dup = docs.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text",
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(dup)
    got = minhash_lsh_candidates_portable(corpus, "doc_id", "text")
    pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    assert (3, 100003) in pairs
    again = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates_portable(
            corpus, "doc_id", "text"
        ).collect()
    }
    assert pairs == again
    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_candidates_portable(
            corpus, "doc_id", "text", num_hashes=5, bands=3
        )


def test_portable_simhash_properties(spark, sf_dir):
    """Portable SimHash: exact duplicates have hamming 0 and are
    always candidates; hamming is symmetric-bounded; deterministic."""
    from graal_cdc_spark.operators.dedup import simhash_portable_pairs
    from graal_cdc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 40
    )
    dup = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text",
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(dup)
    rows = simhash_portable_pairs(corpus, "doc_id", "text").collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    assert got[(5, 100005)] == 0
    assert all(0 <= h <= 3 for h in got.values())
    again = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_portable_pairs(corpus, "doc_id", "text").collect()
    }
    assert got == again


def test_portable_rp_mips_properties(spark, sf_dir):
    """Portable RP-MIPS: a planted near-copy of a query lands in the
    query's bucket and ranks first; ranks are dense; deterministic."""
    from graal_cdc_spark.operators.similarity import (
        rp_bucketed_mips_portable,
    )
    from graal_cdc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant an exact copy of query 1 (same bucket, maximal dot)
    copy = emb.filter(F.col("vec_id") == 1).select(
        F.lit(100001).cast("long").alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copy)
    rows = rp_bucketed_mips_portable(corpus).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append(r)
    assert per_q[1][0]["neighbor_id"] == 100001  # the copy ranks first
    for q, rs in per_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == \
            list(range(1, len(rs) + 1))
    again = sorted(map(tuple, rp_bucketed_mips_portable(corpus).collect()))
    assert again == sorted(map(tuple, rows))


def test_l86_recall_audit_matches_numpy_bruteforce(spark, sf_dir):
    """The l86 recall audit is integer-exact end to end, so a numpy
    recomputation of the whole thing — md5 plane signs, quantized
    integer dots, sign-buckets, in-bucket top-5, exact top-5, recall
    join — must match the Spark output EXACTLY (no tolerance)."""
    import hashlib
    import math

    import numpy as np

    from graal_cdc_spark.queries import all_specs

    got = {
        r["qid"]: (r["n_approx"], r["n_hits"], r["recall_bp"])
        for r in all_specs()["l86_ann_recall_audit"]
        .spark(spark, sf_dir)
        .collect()
    }

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array(
        [[math.floor(v * 10000) for v in r["embedding"]] for r in rows],
        dtype=np.int64,
    )
    n_planes, dims, k = 4, 64, 5
    planes = np.array(
        [
            [
                1
                if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16)
                % 2
                else -1
                for d in range(dims)
            ]
            for p in range(n_planes)
        ],
        dtype=np.int64,
    )
    signs = (x @ planes.T) > 0
    bucket = (signs * (1 << np.arange(n_planes))).sum(axis=1)

    def topk(qi, pool_mask):
        dots = x[pool_mask] @ x[qi]
        cand_ids = ids[pool_mask]
        order = sorted(
            range(len(cand_ids)), key=lambda j: (-dots[j], cand_ids[j])
        )[:k]
        return [cand_ids[j] for j in order]

    exp = {}
    for qi in range(len(ids)):
        if ids[qi] >= 4:
            continue
        same_bucket = (bucket == bucket[qi]) & (ids != ids[qi])
        approx = topk(qi, same_bucket)
        exact = set(topk(qi, ids != ids[qi]))
        hits = sum(1 for a in approx if a in exact)
        if approx:
            exp[ids[qi]] = (len(approx), hits, hits * 2000)
    assert got == exp


# ---------------------------------------------------------------------------
# k-means assigned-points index memo (SemDeDup family, round 11)
# ---------------------------------------------------------------------------


def test_kmeans_assigned_index_memo_and_contract(spark, sf_dir):
    """The index frame carries (pid, cid, x, n2) with n2 = |x|^2; a
    repeat call returns the SAME memoized frame (build-once — repeat
    sweeps rebuild nothing), and the assignment agrees with
    kmeans_quantized."""
    from graal_cdc_spark import build_once
    from graal_cdc_spark.operators.clustering import (
        kmeans_assigned_index,
        kmeans_quantized,
    )

    build_once.clear()
    emb = load_table(spark, sf_dir, "embeddings")
    m1 = kmeans_assigned_index(emb, k=4, iters=1, scale=10_000)
    assert set(m1.columns) == {"pid", "cid", "x", "n2"}
    builds = build_once.stats()["builds"]
    m2 = kmeans_assigned_index(emb, k=4, iters=1, scale=10_000)
    assert m1 is m2  # memo hit — no rebuild
    assert build_once.stats()["builds"] == builds
    rows = m1.collect()
    for r in rows[:50]:
        assert r["n2"] == sum(v * v for v in r["x"])
    ref = {
        r["pid"]: r["cid"]
        for r in kmeans_quantized(emb, k=4, iters=1, scale=10_000).collect()
    }
    assert {r["pid"]: r["cid"] for r in rows} == ref


# --------------------------------------------------------------------------
# quantile summary (operators/sketch.py, l93)
# --------------------------------------------------------------------------


def test_quantile_summary_budget_property():
    """The merged summary's rank bounds hold on adversarial inputs:
    uniform, zipf-skewed, and all-ties partitions — count(<= est) >=
    target exactly, count(< est) within the n/capacity + partitions
    slack (tie-safe formulation)."""
    import numpy as np

    from graal_cdc_spark.operators.sketch import quantile_sketch_estimates

    rng = np.random.default_rng(5)
    for trial in range(60):
        P, B = int(rng.integers(1, 8)), int(rng.integers(4, 64))
        parts = []
        for _ in range(P):
            m = int(rng.integers(1, 3000))
            kind = rng.integers(0, 3)
            if kind == 0:
                v = rng.integers(0, 100, m)
            elif kind == 1:
                v = rng.zipf(1.7, m).clip(0, 10**6)
            else:
                v = np.full(m, 42)
            parts.append(np.sort(v.astype(np.int64)))
        pts = []
        for v in parts:
            m = v.size
            if m <= B:
                pts += [(int(x), 1) for x in v]
            else:
                base, rem = divmod(m, B)
                ws = np.full(B, base, dtype=np.int64)
                ws[:rem] += 1
                pts += list(zip(v[np.cumsum(ws) - 1].tolist(), ws.tolist()))
        allv = np.sort(np.concatenate(parts))
        n = allv.size
        probes = [100, 500, 2500, 5000, 7500, 9500, 9900]
        n2, est = quantile_sketch_estimates(pts, probes)
        assert n2 == n
        slack = n // B + P
        for q, e in est.items():
            target = -(-q * n // 10000)
            leq = int(np.searchsorted(allv, e, side="right"))
            lt = int(np.searchsorted(allv, e, side="left"))
            assert leq >= target, (trial, q)
            assert lt <= target - 1 + slack, (trial, q)


def test_quantile_summary_spark_deterministic_and_bounded(spark):
    """The distributed summary is bounded (<= capacity rows per
    partition), preserves total weight exactly, and two builds over
    the same input produce IDENTICAL estimates (hash repartitioning +
    per-partition sort + value-ordered merge are all deterministic)."""
    from pyspark.sql import functions as F

    from graal_cdc_spark.operators.sketch import (
        quantile_sketch_estimates,
        quantile_summary,
    )

    df = spark.range(20000).select(
        (F.col("id") % 97 * F.col("id") % 1009).cast("long").alias("v")
    )
    probes = [100, 2500, 5000, 9900]
    runs = []
    for _ in range(2):
        rows = quantile_summary(
            df, "v", capacity=64, num_partitions=8
        ).collect()
        assert len(rows) <= 64 * 8
        n, est = quantile_sketch_estimates(rows, probes)
        assert n == 20000
        runs.append(est)
    assert runs[0] == runs[1]


def test_shingle_containment_vs_bruteforce(spark):
    """shingle_containment_pairs equals a naive python recomputation
    on a planted corpus: a small doc quoted verbatim inside a big one
    must show containment 10000 bp with low Jaccard (the class
    resemblance misses), and symmetric near-dups show high both."""
    from graal_cdc_spark.operators.dedup import shingle_containment_pairs

    small = "abcdefghij"                       # 6 distinct 5-shingles
    big = "zzzz" + small + "qqqrrrsssttt"      # quotes `small` whole
    twin_a = "mnopqrstuvwx"
    twin_b = "mnopqrstuvwy"                    # near-dup of twin_a
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, twin_a), (4, twin_b)],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["cont_ab_bp"], r["cont_ba_bp"], r["jaccard_bp"]
        )
        for r in shingle_containment_pairs(
            docs, "doc_id", "text", n=5, min_cont_bp=5000
        ).collect()
    }

    def shingles(t):
        return {t[i : i + 5] for i in range(len(t) - 4)}

    import itertools

    want = {}
    texts = {1: small, 2: big, 3: twin_a, 4: twin_b}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        i = len(sa & sb)
        if not i:
            continue
        cab, cba = i * 10000 // len(sa), i * 10000 // len(sb)
        if max(cab, cba) >= 5000:
            want[(a, b)] = (cab, cba, i * 10000 // len(sa | sb))
    assert got == want
    # the quote pair: full containment of doc 1 in doc 2, low jaccard
    cab, _, jac = got[(1, 2)]
    assert cab == 10000 and jac < 5000


def test_containment_probe_finds_planted_quote(spark):
    """The bottom-k probe detects a document quoted verbatim inside a
    larger one (high estimated containment of the small doc) without
    any all-pairs leg; estimates are deterministic (portable md5
    sample) and bounded by the sample size."""
    from graal_cdc_spark.operators.dedup import containment_probe_pairs

    quote = " ".join(f"w{i}" for i in range(30))
    host = "intro words here " + quote + " trailing content words"
    noise = [
        (10 + j, " ".join(f"n{j}x{i}" for i in range(40))) for j in range(6)
    ]
    docs = spark.createDataFrame(
        [(1, quote), (2, host)] + noise, "doc_id long, text string"
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_bp"]
        for r in containment_probe_pairs(
            docs, "doc_id", "text", n=3, k=8, max_df_bp=9000,
            min_est_bp=5000, min_sample=4, token_grams=True,
        ).collect()
    }
    # the quote's sampled trigrams all appear in the host
    assert pairs.get((1, 2)) == 10000
    # determinism: a second build returns identical estimates
    pairs2 = {
        (r["doc_a"], r["doc_b"]): r["est_bp"]
        for r in containment_probe_pairs(
            docs, "doc_id", "text", n=3, k=8, max_df_bp=9000,
            min_est_bp=5000, min_sample=4, token_grams=True,
        ).collect()
    }
    assert pairs == pairs2


def test_quantile_summary_guards_wide_value_domain(spark):
    """VERDICT r12: with_value_counts=True emits one row per DISTINCT
    value — on a high-cardinality column (ids, timestamps) that is
    the whole column, not an audit. The operator must fail fast past
    max_value_domain instead of silently emitting an unbounded
    result; the summary itself (no value counts) stays bounded and
    keeps working on the same column."""
    import pytest as _pytest

    from graal_cdc_spark.operators.sketch import quantile_summary

    wide = spark.range(0, 5000).selectExpr("id * 1000003 as v")
    # the guard raises INSIDE the sketch job (zero extra scans), so
    # it surfaces wrapped in Spark's Python-worker exception
    with _pytest.raises(Exception, match="max_value_domain"):
        quantile_summary(
            wide, "v", capacity=16, num_partitions=4,
            with_value_counts=True, max_value_domain=100,
        ).collect()
    # the bounded summary needs no guard on the same wide column
    n_rows = quantile_summary(
        wide, "v", capacity=16, num_partitions=4
    ).count()
    assert n_rows <= 16 * 4
    # and a small-domain column passes the guard unchanged
    narrow = spark.range(0, 5000).selectExpr("id % 7 as v")
    kinds = {
        r["kind"]
        for r in quantile_summary(
            narrow, "v", capacity=16, num_partitions=4,
            with_value_counts=True, max_value_domain=100,
        ).collect()
    }
    assert kinds == {0, 1}


def test_hilbert_curve_bijective_and_adjacent(spark):
    """hilbert_key2_frame must be a TRUE Hilbert curve: a bijection
    on the 2^bits grid whose consecutive indices are always
    Manhattan-distance-1 neighbors (the locality property that makes
    it prune better than Morton, whose quadrant jumps it avoids)."""
    from graal_cdc_spark.operators.layout import hilbert_key2_frame

    bits, n = 4, 16
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        r.hkey: (r.x, r.y)
        for r in hilbert_key2_frame(df, "x", "y", bits).collect()
    }
    assert len(got) == n * n and set(got) == set(range(n * n))
    assert all(
        abs(got[d][0] - got[d + 1][0]) + abs(got[d][1] - got[d + 1][1]) == 1
        for d in range(n * n - 1)
    )


def test_cosine_max_sim_equals_topk_exact(spark):
    """The BLAS-blocked max-sim probe (l97's operator) must agree
    with the JVM-expression exact top-1 on the same data — the two
    paths differ only in execution strategy, never in result (at the
    round(.,4) grain both gates use)."""
    import numpy as np

    from graal_cdc_spark.operators.similarity import (
        cosine_max_sim,
        cosine_topk_exact,
    )

    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.normal(size=16)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = emb.filter("vec_id % 11 = 0")
    c = emb.filter("vec_id % 11 != 0")
    got = {
        r.qid: round(r.sim_raw, 4)
        for r in cosine_max_sim(c, q).collect()
    }
    want = {
        r.qid: r.sim
        for r in cosine_topk_exact(c, q, k=1, exclude_self=False).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
