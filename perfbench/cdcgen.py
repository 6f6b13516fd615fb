"""Seeded Debezium-style change-event generator and its expected-state oracle.

The generator produces the rounds the CDC workloads publish: keys are
Zipf-skewed over ``N_KEYS`` keys spread across three tables, row events
mix create/update/delete, and about 1% each of the events are
tombstones, DDL events, malformed envelopes and non-row ops, so every
filter of the F3-F7 chain in ``graal_cdc_spark.cdc.envelope`` drops
something. From round ``EVOLVE_ROUND`` on, ``users`` row images carry
an extra ``email`` column, so the silver schema registry gains a
version mid-run.

The oracle re-derives, from the published events alone, what the
pipeline must deliver: the final valid op per key (the Elasticsearch
end state) and the set of valid non-delete events (the silver rows).
It re-parses each envelope instead of trusting the generator's labels.

Pure Python (no Spark), so the tests can pin it byte for byte.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass, field

TABLES = ("users", "orders", "items")
DB = "appdb"
N_KEYS = 5000
ZIPF_S = 1.1
EVOLVE_ROUND = 2
# per-event shares of the events each filter must drop
NOISE = (("tombstone", 0.01), ("ddl", 0.01), ("malformed", 0.01), ("nonrow", 0.01))
DELETE_SHARE = 0.08
ROW_OPS = ("c", "u", "d", "r")


def envelope(op: str, tbl: str, after: dict | None) -> str:
    return json.dumps(
        {
            "payload": {
                "op": op,
                "before": None,
                "after": after,
                "source": {"db": DB, "table": tbl},
            }
        },
        separators=(",", ":"),
        sort_keys=True,
    )


class CdcGenerator:
    """Deterministic event stream: ``round(n)`` returns the next ``n``
    events as ``(seq, key, value)`` triples (``value=None`` is a
    tombstone). The same seed yields the same rounds."""

    def __init__(self, seed: int, n_keys: int = N_KEYS) -> None:
        self._rng = random.Random(seed)
        ranks = list(range(n_keys))
        self._rng.shuffle(ranks)  # which keys are hot depends on the seed
        self._key_of_rank = ranks
        acc, cum = 0.0, []
        for r in range(n_keys):
            acc += 1.0 / (r + 1) ** ZIPF_S
            cum.append(acc)
        self._cum = cum
        self._live: set[int] = set()
        self._seq = 0
        self.rounds = 0

    def _key(self) -> int:
        u = self._rng.random() * self._cum[-1]
        return self._key_of_rank[bisect.bisect_left(self._cum, u)]

    def _after(self, kid: int, tbl: str) -> dict:
        after = {
            "id": str(kid),
            "name": f"n{kid}-{self._rng.randrange(1000)}",
            "qty": str(self._rng.randrange(10000)),
        }
        if tbl == "users" and self.rounds >= EVOLVE_ROUND:
            after["email"] = f"u{kid}@example.com"
        return after

    def _value(self, kid: int, tbl: str) -> str | None:
        u = self._rng.random()
        for kind, share in NOISE:
            if u < share:
                if kind == "tombstone":
                    return None
                if kind == "ddl":
                    return json.dumps(
                        {"payload": {"ddl": f"ALTER TABLE {tbl} ADD COLUMN c INT",
                                     "source": {"db": DB, "table": tbl}}},
                        separators=(",", ":"), sort_keys=True,
                    )
                if kind == "malformed":
                    return '{"noPayload":true}' if kid % 2 else "{not json"
                return envelope("m", tbl, {})
            u -= share
        if kid not in self._live:
            self._live.add(kid)
            return envelope("c", tbl, self._after(kid, tbl))
        if self._rng.random() < DELETE_SHARE:
            self._live.discard(kid)
            return envelope("d", tbl, None)
        return envelope("u", tbl, self._after(kid, tbl))

    def round(self, n: int) -> list[tuple[int, str, str | None]]:
        out = []
        for _ in range(n):
            kid = self._key()
            tbl = TABLES[kid % len(TABLES)]
            self._seq += 1
            out.append((self._seq, f"{tbl}:{kid}", self._value(kid, tbl)))
        self.rounds += 1
        return out


def parse_valid(value: str | None) -> tuple[str, str, dict | None] | None:
    """``(op, table, after)`` when the envelope passes F3-F7, else None."""
    if value is None:  # F3 tombstone
        return None
    try:
        env = json.loads(value)
    except ValueError:
        return None  # F4 unparseable
    payload = env.get("payload") if isinstance(env, dict) else None
    if not isinstance(payload, dict):  # F4 no payload object
        return None
    if payload.get("ddl") is not None:  # F5
        return None
    op = payload.get("op")
    if op not in ROW_OPS:  # F6
        return None
    if '"after"' not in value:  # F7
        return None
    return op, payload["source"]["table"], payload.get("after")


@dataclass
class ExpectedState:
    """What the sink and the silver layer must hold after the events
    applied so far."""

    final: dict[str, tuple[str, int, dict | None]] = field(default_factory=dict)
    silver_seqs: set[int] = field(default_factory=set)
    valid: int = 0
    seen: int = 0

    def apply(self, events) -> int:
        """Fold events in; returns how many were valid."""
        n_valid = 0
        for seq, key, value in events:
            self.seen += 1
            parsed = parse_valid(value)
            if parsed is None:
                continue
            op, _tbl, after = parsed
            n_valid += 1
            self.final[key] = (op, seq, after)
            if op != "d" and after is not None:
                self.silver_seqs.add(seq)
        self.valid += n_valid
        return n_valid

    def es_docs(self) -> dict[str, tuple[int, dict]]:
        """Live documents: key -> (seq, after image) of its final op."""
        return {
            k: (seq, after)
            for k, (op, seq, after) in self.final.items()
            if op != "d"
        }
