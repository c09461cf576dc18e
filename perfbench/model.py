"""PK-keyed last-write-wins model of every record the benchmark offers.

Records are applied in offset order, so the model holds, per
``event_id``, the row of the highest offset — the contract of the
pipeline's offset-ordered dedup plus MERGE. Malformed records only count
toward the expected DLQ rows. Pure Python.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1


def digest(rows) -> tuple[int, int]:
    """Order-insensitive (row count, hash) of COLUMNS-ordered tuples."""
    n = h = 0
    for r in rows:
        n += 1
        h = (h + hash(r)) & _MASK
    return n, h


class Model:
    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.dlq = 0

    def apply(self, records) -> None:
        for r in sorted(records, key=lambda r: r.offset):
            if r.row is None:
                self.dlq += 1
            else:
                self.rows[r.key] = r.row

    def digest(self) -> tuple[int, int]:
        return digest(self.rows.values())
