"""Portable sortable (ts, id) encoding for the windowed as-of queries
of ``queries/relational.py`` (Spark has no native ASOF join)."""

from __future__ import annotations

# -- portable (ts, id) encoding for windowed as-of variants ------------------
#
# Some as-of shapes (bounded-window FIRST match, staleness-tolerance
# LAST match) are cheapest as ONE min/max over a window frame — but
# min/max must carry BOTH the timestamp and a deterministic id
# tiebreak. Struct min/max is not portable to every oracle engine, so
# the pair is encoded as a zero-padded sortable string: 20 digits of
# microseconds, '-', 12 digits of id. These helpers are the single
# source of truth for the layout (r87 / r91 use them; their DuckDB
# oracle strings mirror the same widths by construction).

TS_WIDTH = 20
ID_WIDTH = 12


def encode_ts_id(ts_us, event_id):
    """lpad(ts)-lpad(id) sortable encoding of a (µs, id) pair."""
    from pyspark.sql import functions as F

    return F.concat(
        F.lpad(ts_us.cast("string"), TS_WIDTH, "0"),
        F.lit("-"),
        F.lpad(event_id.cast("string"), ID_WIDTH, "0"),
    )


def decode_ts(encoded):
    """The µs half of an encoded pair (BIGINT)."""
    from pyspark.sql import functions as F

    return F.substring(encoded, 1, TS_WIDTH).cast("bigint")


def decode_id(encoded):
    """The id half of an encoded pair (BIGINT)."""
    from pyspark.sql import functions as F

    return F.substring(encoded, TS_WIDTH + 2, ID_WIDTH).cast("bigint")
