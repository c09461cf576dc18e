"""The seeded generator, the workload inputs built from it, and the model.
No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

import workloads as W  # noqa: E402
from generator import COLUMNS, DRIFT_FIELD  # noqa: E402
from model import Model  # noqa: E402

SECONDS = 10


def test_same_seed_same_inputs():
    assert W.catchup_inputs(7, SECONDS) == W.catchup_inputs(7, SECONDS)
    assert W.trickle_inputs(7, SECONDS) == W.trickle_inputs(7, SECONDS)


def test_other_seed_other_inputs():
    assert W.catchup_inputs(7, SECONDS)[2] != W.catchup_inputs(8, SECONDS)[2]
    assert W.trickle_inputs(7, SECONDS)[2] != W.trickle_inputs(8, SECONDS)[2]


def test_offsets_are_dense_and_increasing():
    create, warm, backlog = W.catchup_inputs(1, SECONDS)
    offsets = [r.offset for b in (create, *warm, *backlog) for r in b]
    assert offsets == list(range(len(offsets)))


def test_catchup_conflict_and_malformed_shares():
    create, warm, backlog = W.catchup_inputs(11, SECONDS)
    assert len(create) == W.CATCHUP_BATCH
    assert all(r.row is not None for r in create)
    seen = {r.key for r in create}
    for b in (*warm, *backlog):
        assert len(b) == W.CATCHUP_BATCH
        bad = [r for r in b if r.row is None]
        resent = [r for r in b if r.row is not None and r.key in seen]
        assert len(bad) == round(W.CATCHUP_BATCH * W.CATCHUP_MALFORMED)
        assert len(resent) == round(W.CATCHUP_BATCH * W.CATCHUP_CONFLICT)
        for r in bad:
            with pytest.raises(json.JSONDecodeError):
                json.loads(r.value)
        seen |= {r.key for r in b if r.row is not None}


def test_catchup_drift_field_appears_from_the_midpoint():
    _, warm, backlog = W.catchup_inputs(5, SECONDS)
    mid = len(backlog) // 2
    drift = COLUMNS.index(DRIFT_FIELD)
    for i, b in enumerate((*warm, *backlog), start=-len(warm)):
        rows = [r for r in b if r.row is not None]
        assert all((r.row[drift] is not None) == (i >= mid) for r in rows)
        assert all((DRIFT_FIELD in json.loads(r.value)) == (i >= mid) for r in rows)


def test_trickle_update_share_and_schedule():
    create, warm, sched = W.trickle_inputs(2, SECONDS)
    assert len(sched) == W.TRICKLE_RATE * SECONDS
    dues = [d for d, _ in sched]
    assert dues == sorted(dues) and dues[-1] < SECONDS
    per_flush = W.TRICKLE_RATE * W.TRICKLE_FLUSH_S
    flushes = {d: dues.count(d) for d in dues}
    assert all(d % W.TRICKLE_FLUSH_S == 0 for d in flushes)
    assert set(flushes.values()) == {per_flush}
    seen = {r.key for b in (create, *warm) for r in b}
    updates = 0
    for _, r in sched:
        assert r.row is not None
        updates += r.key in seen
        seen.add(r.key)
    assert updates == round(len(sched) * W.TRICKLE_UPDATE)


def test_model_is_last_write_wins_by_offset():
    create, warm, backlog = W.catchup_inputs(9, SECONDS)
    m = Model()
    m.apply(create)
    for b in (*warm, *backlog):
        m.apply(reversed(b))  # application order must not matter
    latest = {}
    for b in (create, *warm, *backlog):
        for r in b:
            if r.row is not None:
                latest[r.key] = r.row
    assert m.rows == latest
    assert m.dlq == sum(r.row is None for b in (*warm, *backlog) for r in b)
