"""DuckDB-oracle parity harness.

Replicates the driver's correctness gate locally: run the Spark query
and the oracle SQL over the same sf dir, then compare row count,
column names, and canonicalized values (columns sorted by name, rows
sorted — order-insensitive value compare, per FIXTURES.md §4).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec
import math

import duckdb

from graal_cdc_spark.sources.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with every test table registered as a view.

    ``{table}.parquet`` may be a single file (the driver's original
    testdata) or a DIRECTORY of part files (a Spark-written copy, e.g.
    the bench's re-blocked scan layout) — directories are registered
    via a glob so both engines can be pointed at identical files
    (VERDICT r10 #1)."""
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'"
        )
    return con


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    cols, rows, _types = run_oracle_with_types(sql, sf_dir)
    return cols, rows


def run_oracle_with_types(
    sql: str, sf_dir: str
) -> tuple[list[str], list[tuple], list[str]]:
    """One connection, one bind: columns, rows, AND the relation's
    inferred type strings (for the portable-type check) together."""
    con = duckdb_connect(sf_dir)
    try:
        rel = con.sql(sql)
        return rel.columns, rel.fetchall(), [str(t) for t in rel.types]
    finally:
        con.close()


# Result-surface types the external gate's value hash cannot
# canonicalize across engines (round-5 postmortem: every hash FAIL had
# a HUGEINT — DuckDB `//` on BIGINT — or raw DECIMAL output column;
# every pass had neither). The portable-type protocol: result columns
# are BIGINT/INT-family, DOUBLE, VARCHAR, DATE/TIMESTAMP, BOOLEAN, or
# lists/structs thereof. Decimals render via CAST(... AS VARCHAR) /
# .cast("string"); `//` quotients via CAST(... AS BIGINT).
_NONPORTABLE_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")


def oracle_result_types(sql: str, sf_dir: str) -> list[tuple[str, str]]:
    """(column, duckdb type string) of the oracle's result surface,
    from the relation's inferred types (no full execution)."""
    con = duckdb_connect(sf_dir)
    try:
        rel = con.sql(sql)
        return list(zip(rel.columns, [str(t) for t in rel.types]))
    finally:
        con.close()


def _spark_nonportable(spark_df) -> list[str]:
    # substring, not prefix: decimal nested inside struct<>/array<>
    # reaches the gate hash just the same
    return [
        f"spark:{f.name}:{f.dataType.simpleString()}"
        for f in spark_df.schema.fields
        if "decimal" in f.dataType.simpleString()
    ]


def _oracle_nonportable(cols_types) -> list[str]:
    return [
        f"oracle:{col}:{typ}"
        for col, typ in cols_types
        if any(p in typ.upper() for p in _NONPORTABLE_DUCK)
    ]


def canon_value(v) -> str:
    """Canonicalize one cell to a comparison string."""
    if v is None:
        return r"\N"
    if isinstance(v, float):
        if math.isnan(v):
            return r"\N"
        return repr(v)
    if isinstance(v, _dec.Decimal):
        # Preserve exact scale ("123.40", not 123.4). Collapsing to
        # float here masked the round-5 driver FAIL class (the driver's
        # value hash distinguishes Decimal/HUGEINT from float/int, so
        # the rehearsal must too). Decimal on a result surface is now
        # also rejected outright by the registry type lint
        # (tests/test_oracle_types.py) — this branch only keeps the
        # rehearsal honest if one slips through.
        return f"dec:{v}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Sort columns by name, canonicalize cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_query(spark, spec, sf_dir: str) -> None:
    """Assert the Spark query matches its DuckDB oracle. Raises AssertionError."""
    sdf = spec.spark(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    # one DuckDB connection serves both the rows and the type lint
    o_cols, o_rows, o_types = run_oracle_with_types(spec.oracle, sf_dir)
    bad = _spark_nonportable(sdf) + _oracle_nonportable(
        zip(o_cols, o_types)
    )
    assert not bad, (
        f"{spec.name}: non-portable result types (gate hash cannot "
        f"canonicalize): {bad}"
    )

    assert sorted(s_cols) == sorted(o_cols), (
        f"{spec.name}: column mismatch spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{spec.name}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    cs = canon_rows(s_cols, s_rows)
    co = canon_rows(o_cols, o_rows)
    if cs != co:
        diffs = [
            (a, b) for a, b in zip(cs, co) if a != b
        ][:5]
        raise AssertionError(
            f"{spec.name}: value mismatch; first diffs (spark, oracle): {diffs}"
        )
