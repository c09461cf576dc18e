"""Seeded generator of Kafka-shaped event records for the ingest benchmark.

Pure Python (no Spark import), so the generator and its test run without a
JVM. Every record follows the sf0.1 ``events`` shape — ``event_id, ts``
over 30 days, ``user_id, event_type, value, props`` — serialised as the
JSON ``value`` of a ``KAFKA_LIKE_SCHEMA`` row. The same seed gives the
same records, offsets and keys.

A record either carries a decoded ``row`` (what the table must hold for
its key if it is the last write) or is malformed (``row is None``): its
payload is truncated JSON, which the pipeline routes to the DLQ.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass

TOPIC = "events"
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
CHANNELS = ("android", "ios", "web")
BASE_TS = dt.datetime(2024, 1, 1)
DAYS = 30
USERS = 5_000
# the optional field that appears mid-run in catchup_merge (schema evolution)
DRIFT_FIELD = "channel"
# logical row layout shared by the model and the table check
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props", DRIFT_FIELD)


@dataclass(frozen=True)
class Record:
    offset: int
    key: int | None
    value: str
    row: tuple | None  # COLUMNS-ordered; ts as epoch microseconds

    def kafka_row(self) -> tuple:
        """(key, value, topic, partition, offset, timestamp) —
        ``KAFKA_LIKE_SCHEMA`` order."""
        return (
            None,
            self.value,
            TOPIC,
            0,
            self.offset,
            BASE_TS + dt.timedelta(milliseconds=self.offset),
        )


def epoch_us(ts: dt.datetime) -> int:
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


class EventStream:
    """One topic's record stream. Offsets and fresh keys increase
    monotonically; ``landed`` holds every key offered so far, the pool
    that conflicting re-sends draw from."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_offset = 0
        self.next_key = 0
        self.landed: list[int] = []

    def _event(self, key: int, drift: bool) -> Record:
        r = self.rng
        secs = r.randrange(DAYS * 86_400)
        ts = BASE_TS + dt.timedelta(seconds=secs, microseconds=r.randrange(1_000_000))
        row = {
            "event_id": key,
            "ts": ts.isoformat(),
            "user_id": r.randrange(USERS),
            "event_type": r.choice(EVENT_TYPES),
            "value": round(r.uniform(0.0, 200.0), 2),
            "props": json.dumps({"k": r.randrange(100)}),
        }
        if drift:
            row[DRIFT_FIELD] = r.choice(CHANNELS)
        rec = Record(
            offset=self.next_offset,
            key=key,
            value=json.dumps(row),
            row=(
                key,
                epoch_us(ts),
                row["user_id"],
                row["event_type"],
                row["value"],
                row["props"],
                row.get(DRIFT_FIELD),
            ),
        )
        self.next_offset += 1
        return rec

    def _malformed(self) -> Record:
        good = json.dumps({"event_id": self.next_offset, "ts": BASE_TS.isoformat()})
        rec = Record(self.next_offset, None, good[: len(good) // 2], None)
        self.next_offset += 1
        return rec

    def batch(
        self,
        n: int,
        conflict: float = 0.0,
        malformed: float = 0.0,
        drift: bool = False,
    ) -> list[Record]:
        """``n`` records in offset order: ``round(n * conflict)`` re-send
        distinct already-landed keys (only keys landed before this batch),
        ``round(n * malformed)`` are truncated JSON, the rest are fresh
        keys. Positions of each kind are shuffled."""
        n_conf = min(round(n * conflict), len(self.landed))
        n_bad = round(n * malformed)
        resend = self.rng.sample(self.landed, n_conf)
        kinds = ["c"] * n_conf + ["m"] * n_bad + ["f"] * (n - n_conf - n_bad)
        self.rng.shuffle(kinds)
        out: list[Record] = []
        fresh: list[int] = []
        for k in kinds:
            if k == "m":
                out.append(self._malformed())
                continue
            if k == "c":
                key = resend.pop()
            else:
                key = self.next_key
                self.next_key += 1
                fresh.append(key)
            out.append(self._event(key, drift))
        self.landed.extend(fresh)
        return out


def trickle_schedule(
    stream: EventStream, rate: float, flush_s: float, seconds: float, update: float
):
    """Open-loop arrivals from a producer that flushes every ``flush_s``
    seconds: the ``rate * flush_s`` records of flush ``k`` all fall due
    ``k * flush_s`` seconds after the clock starts. Records come in blocks
    of ten consecutive offsets, exactly one of which (``update`` = 0.1)
    updates an existing key. → list of (due_s, Record)."""
    block = 10
    per_flush = round(rate * flush_s)
    n = int(rate * seconds)
    out = []
    for b in range(0, n, block):
        recs = stream.batch(min(block, n - b), conflict=update)
        out.extend((((b + i) // per_flush) * flush_s, r) for i, r in enumerate(recs))
    return out
