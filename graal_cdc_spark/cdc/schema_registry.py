"""Per-table row-image schema-version control table.

The reference delegates schema history to Debezium's internal schema
topic (``DebeziumEngineManager.java:91-120`` wires
``schema.history.internal.*``) and otherwise runs schemaless
(``schemas.enable=false``) — so the only schema signal in the data
plane is the key-set of each row image. This module materializes that
signal into the control table the survey maps it to (SURVEY.md §1.4
"schema history / DDL tracking" → schema-of-record per table version):

    (db, tbl, version, fields, first_seq, n_events)

Version semantics are a schema REGISTRY's (one version per distinct
field-set, numbered by first appearance in the log), not a
change-point log: A→B→A is two versions, the registry answer to "what
shapes has this table ever had, and since when". A change-point view
can be derived by joining events back on (db, tbl, fields).

Scale: the field-set is computed map-side (sorted JSON keys of the
``after`` image — one string per event), the registry reduces through
ONE (db, tbl, fields) aggregation whose output is bounded by the
number of DISTINCT schemas (tiny), and version numbering is a window
over that tiny frame — the log-sized data never sees a window. The
incremental fold (``merge_registry``) runs on the driver over those
few rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

REGISTRY_COLUMNS = ("db", "tbl", "version", "fields", "first_seq", "n_events")


def row_images(parsed: DataFrame) -> DataFrame:
    """The schema evidence of a parsed envelope frame. Delete events
    carry no after image (after_json is the literal "null") and
    contribute none; an EMPTY object ({}) is a real, distinct shape."""
    return parsed.filter(
        (F.col("op") != "d")
        & F.col("after_json").isNotNull()
        & (F.col("after_json") != "null")
    )


def after_map():
    """The row image parsed once to ``map<string,string>``. (Built
    lazily: from_json schema parsing needs an active session.)"""
    return F.from_json("after_json", "map<string,string>")


def field_set(image):
    """CSV field-set of a parsed row image: its sorted keys."""
    return F.concat_ws(",", F.array_sort(F.map_keys(image)))


def schema_versions(parsed: DataFrame) -> DataFrame:
    """Build the schema-version control table from a parsed envelope
    frame (``parse_envelope`` output: db, tbl, op, seq, after_json).

    Returns one row per (db, tbl, distinct field-set), versioned 1..n
    per table in order of first appearance. Version order is total:
    ties on first_seq (possible when seq is a per-partition offset,
    e.g. from ``read_kafka_segments`` where only (seq, src_partition)
    is unique) break deterministically on the field-set string.
    """
    evid = row_images(parsed).select(
        "db", "tbl", "seq", field_set(after_map()).alias("fields")
    )
    per_schema = evid.groupBy("db", "tbl", "fields").agg(
        F.min("seq").alias("first_seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.partitionBy("db", "tbl").orderBy("first_seq", "fields")
    return per_schema.select(
        "db",
        "tbl",
        F.row_number().over(w).alias("version"),
        "fields",
        "first_seq",
        "n_events",
    )


def events_with_schema_version(parsed: DataFrame) -> DataFrame:
    """Tag every non-delete event with its table's schema version —
    the lookup a silver writer uses to route rows to the right
    table layout. One broadcast join against the (tiny) registry."""
    reg = schema_versions(parsed).select("db", "tbl", "fields", "version")
    evid = row_images(parsed).withColumn("fields", field_set(after_map()))
    return evid.join(F.broadcast(reg), ["db", "tbl", "fields"]).drop(
        "fields"
    )


def merge_registry(existing: list[dict], fresh: list[dict]) -> list[dict]:
    """Idempotent registry maintenance: fold a fresh registry (built
    from a new log slice) into the persisted control table. Both are
    lists of row dicts with the ``REGISTRY_COLUMNS`` keys; a fresh
    row's ``version`` is ignored (``schema_versions`` rows and bare
    per-field-set aggregates fold alike). Both are bounded by the
    number of distinct schemas, so the fold is plain Python on the
    driver. Known (db, tbl, fields) rows keep their ORIGINAL version,
    take the LEAST first_seq (a backfilled / out-of-order slice may
    carry earlier evidence of a known shape — ADVICE r6), and
    accumulate counts; unseen field-sets append with version numbers
    continuing after the table's current max, in (first_seq, fields)
    order — the same total order as ``schema_versions``. Folding into
    an empty registry therefore numbers exactly as ``schema_versions``
    does. Re-merging the same slice is a no-op for versions (counts
    are the caller's responsibility to not double-fold — pass only
    NEW slices).

    Version-number caveat under backfill: version numbers record
    MERGE-ORDER first appearance. If a backfilled slice reveals that a
    shape actually appeared earlier in seq than an already-persisted
    one, the persisted version numbers do NOT renumber (stability is
    the contract consumers key silver layouts on) — first_seq is
    corrected, so the batch-equivalent ordering can always be
    recomputed from the table itself.
    """
    out = {
        (r["db"], r["tbl"], r["fields"]): {c: r[c] for c in REGISTRY_COLUMNS}
        for r in existing
    }
    vmax: dict[tuple, int] = {}
    for (db, tbl, _), r in out.items():
        vmax[(db, tbl)] = max(vmax.get((db, tbl), 0), r["version"])
    new = []
    for r in fresh:
        known = out.get((r["db"], r["tbl"], r["fields"]))
        if known is None:
            new.append(r)
        else:
            known["first_seq"] = min(known["first_seq"], r["first_seq"])
            known["n_events"] += r["n_events"]
    for r in sorted(new, key=lambda r: (r["first_seq"], r["fields"])):
        t = (r["db"], r["tbl"])
        vmax[t] = vmax.get(t, 0) + 1
        out[(*t, r["fields"])] = {
            "db": r["db"], "tbl": r["tbl"], "version": vmax[t],
            "fields": r["fields"], "first_seq": r["first_seq"],
            "n_events": r["n_events"],
        }
    return list(out.values())


def schema_as_of(parsed: DataFrame, probe_seqs) -> DataFrame:
    """Point-in-time schema read: for each probe seq, the ACTIVE
    version per (db, tbl) — the latest version whose ``first_seq`` is
    at or before the probe (backward as-of over the registry). This is
    the lookup a consumer uses to interpret an OLD slice of the log:
    "which layout were users rows written under at seq S?".

    ``probe_seqs`` is a bounded list of (probe_id, seq) pairs —
    control-plane metadata, never data-sized. The registry itself is
    bounded by distinct-schema count, so the as-of is one broadcast
    join + a window over probes × registry rows.
    """
    spark = parsed.sparkSession
    reg = schema_versions(parsed)
    probes = spark.createDataFrame(
        list(probe_seqs), "probe_id INT, as_of_seq BIGINT"
    )
    w = Window.partitionBy("probe_id", "db", "tbl").orderBy(
        F.col("first_seq").desc(), F.col("version").desc()
    )
    return (
        probes.join(
            F.broadcast(reg), F.col("first_seq") <= F.col("as_of_seq")
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("probe_id", "as_of_seq", "db", "tbl", "version", "fields")
    )
